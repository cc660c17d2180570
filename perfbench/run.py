#!/usr/bin/env python3
"""Runs one benchmark workload from the repository root and prints every
metric by name with its unit; the last stdout line is the JSON result.

    python3 perfbench/run.py --workload crawl_job --seed 1 --seconds 6 --trace 0

Builds the program from source first (perfbench/build.py), then runs the
harness in one JVM on Spark local[4]. Inputs, tables, logs, results and the
traced run's span file live under .bench_build/ (CARGO_TARGET_DIR if set).
Exit code: 0 when every output matched the truth, 1 on a mismatch (the first
bad url goes to stderr), 2 when the program sources are missing, other
codes on errors.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("crawl_job", "doc_lake", "curate")
TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit (same list as the sbt build's javaOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def git_commit(root: Path) -> str:
    if not (root / ".git").exists():
        return "unknown (not a git checkout)"
    r = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else "unknown"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=("full", "tiny"),
                    help="tiny: a few hundred documents, for the smoke test")
    ap.add_argument("--alter-expected", default="0", choices=("0", "1"),
                    help="1: alter one expected output, so the check must fail")
    a = ap.parse_args()

    root = Path.cwd()
    try:
        cp, source_sha = build.build(root)
    except SystemExit as e:
        sys.stderr.write(f"{e}\n")
        return 2
    bd = build.build_dir(root)
    work = bd / "work" / a.workload
    out = bd / "out"
    logs = bd / "logs"
    tmp = bd / "tmp"
    shutil.rmtree(work, ignore_errors=True)
    for d in (work, out, logs, tmp):
        d.mkdir(parents=True, exist_ok=True)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:-UseAdaptiveSizePolicy", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dperfbench.commit={git_commit(root)}", f"-Dperfbench.source={source_sha}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(cp), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--size", a.size, "--alter-expected", a.alter_expected,
            "--work", str(work), "--out", str(out)]
    log = logs / f"{tag}.log"
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            stdout, _ = p.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.stderr.write(f"perfbench: {tag} exceeded {TIMEOUT_S} s (log: {log})\n")
            return 124
    shutil.rmtree(work, ignore_errors=True)
    lines = stdout.rstrip("\n").split("\n") if stdout.strip() else []
    if p.returncode not in (0, 1) or not lines:
        sys.stderr.write(Path(log).read_text()[-4000:])
        sys.stderr.write(f"perfbench: {tag} failed with exit code {p.returncode} (log: {log})\n")
        return p.returncode or 3
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    print("\n".join(lines))
    if p.returncode == 1:
        sys.stderr.write("".join(l + "\n" for l in lines if l.startswith("check ")))
    return p.returncode


if __name__ == "__main__":
    sys.exit(main())
