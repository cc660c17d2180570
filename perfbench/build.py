#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
harness (perfbench/src) with the Scala compiler that ships in the Spark
distribution's jars. Each part is rebuilt only when its sources change.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def build_dir(root: Path) -> Path:
    return root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars() -> str:
    """The Spark distribution's jars: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        homes = (Path(d, "spark-submit").resolve().parent.parent
                 for d in os.environ.get("PATH", "").split(os.pathsep) if Path(d, "spark-submit").is_file())
        home = next((str(h) for h in homes if (h / "jars").is_dir()), None)
        if home is None:
            raise SystemExit("perfbench: set SPARK_HOME or put Spark's spark-submit on PATH")
    return os.path.join(home, "jars", "*")


def _sources(d: Path):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def _digest(files, base: Path, salt: str = "") -> str:
    h = hashlib.sha256(salt.encode())
    for p in files:
        h.update(str(p.relative_to(base)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def _compile(srcs, out: Path, classpath: str, log: Path) -> None:
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    argfile = out.parent / (out.name + ".args")
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out), "-classpath", classpath,
           "@" + str(argfile)]
    with open(log, "w") as f:
        rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        raise SystemExit(f"perfbench: compiling into {out} failed (log: {log})")


def build(root: Path):
    """Returns (classpath entries, digest of all compiled sources)."""
    prog_src = root / "src" / "main" / "scala"
    if not prog_src.is_dir():
        raise SystemExit("perfbench: no program sources (src/main/scala) under " + str(root))
    bd = build_dir(root)
    bd.mkdir(parents=True, exist_ok=True)
    prog_files = _sources(prog_src)
    harness_files = _sources(HERE / "src")
    prog_sha = _digest(prog_files, root)
    all_sha = _digest(harness_files, HERE, prog_sha)
    parts = [("program", prog_files, prog_sha, spark_jars()),
             ("harness", harness_files, all_sha, str(bd / "program") + os.pathsep + spark_jars())]
    for name, files, sha, cp in parts:
        stamp = bd / (name + ".sha256")
        if not stamp.exists() or stamp.read_text() != sha or not (bd / name).is_dir():
            _compile(files, bd / name, cp, bd / (name + "-build.log"))
            stamp.write_text(sha)
    resources = root / "src" / "main" / "resources"
    cp = [str(bd / "harness"), str(bd / "program"), str(resources), spark_jars()]
    return cp, all_sha


if __name__ == "__main__":
    build(Path.cwd())
