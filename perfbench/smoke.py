#!/usr/bin/env python3
"""Smoke test of the benchmark's own code at a tiny size (a few hundred
documents per workload), run from the repository root:

    python3 perfbench/smoke.py

For every workload it checks that
  * a plain run exits 0, prints every end-to-end metric of BENCHMARK.json by
    name (`metric <name> ...`) and puts exactly those in the JSON result;
  * a traced run does the same for every per-layer metric and writes a span file;
  * a run whose expected output is deliberately altered reports failed > 0,
    exits non-zero and names the first bad url.
It also checks that a directory holding only BENCHMARK.json and perfbench/
makes the benchmark exit non-zero without printing a result.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
sys.dont_write_bytecode = True
sys.path.insert(0, str(ROOT / "perfbench"))
import build  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace, alter="0", cwd=ROOT):
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", trace, "--size", "tiny", "--alter-expected", alter]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().split("\n"), p.stderr


def main() -> int:
    problems = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what)
        if not ok:
            problems.append(what)

    for w in (x["name"] for x in SPEC["workloads"]):
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            rc, out, err = run(w, trace)
            expect(rc == 0, f"{w} trace={trace} exits 0 (rc={rc}) {err[-300:] if rc else ''}")
            if rc != 0:
                continue
            result = json.loads(out[-1])
            names = [m["name"] for m in SPEC[key]]
            printed = {line.split()[1] for line in out if line.startswith("metric ")}
            expect(set(result["metrics"]) == set(names), f"{w} trace={trace} result has exactly the {key} metrics")
            expect(all(n in printed for n in names), f"{w} trace={trace} prints every {key} metric by name")
            expect(all(result["metrics"][n]["unit"] == u["unit"] for n, u in zip(names, SPEC[key])),
                   f"{w} trace={trace} units match BENCHMARK.json")
            expect(result["correct"] and result["failed"] == 0, f"{w} trace={trace} outputs correct")
            if trace == "1":
                spans = build.build_dir(ROOT) / "out" / f"spans-{w}-s7-t1.jsonl"
                expect(spans.is_file() and spans.stat().st_size > 0, f"{w} writes its span file")
        rc, out, err = run(w, "0", alter="1")
        result = json.loads(out[-1]) if out and out[-1].startswith("{") else {}
        expect(rc != 0 and result.get("failed", 0) > 0 and "first bad url" in err,
               f"{w} with an altered expected output: failed={result.get('failed')} rc={rc}")

    bare = build.build_dir(ROOT) / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench")
    rc, out, _ = run(SPEC["workloads"][0]["name"], "0", cwd=bare)
    expect(rc != 0 and not any(line.startswith("{") for line in out),
           f"a directory without the program exits non-zero without a result (rc={rc})")
    shutil.rmtree(bare, ignore_errors=True)

    print("smoke: " + ("all checks passed" if not problems else f"{len(problems)} check(s) failed"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
