#!/usr/bin/env python3
"""Self-test of the benchmark. From the repository root:

    python3 perfbench/selftest.py

1. Each workload at tiny scale (sf0.001 tables, a few-file corpus), untraced
   and traced, prints every metric BENCHMARK.json names, with its unit, and
   reports no failed operation.
2. A flipped byte in one reassembled file is reported as a failed operation.
3. A wrong pinned fingerprint is reported as a failed operation.
4. In a directory holding only BENCHMARK.json and perfbench/, the benchmark
   exits non-zero without printing a result.
Exits non-zero on the first broken expectation.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace, *extra, cwd=ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace)] + list(extra)
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout, p.stderr


def result(workload, trace, *extra):
    code, out, err = run(workload, trace, "--tiny", *extra)
    if code != 0:
        sys.exit(f"FAIL {workload} trace={trace} {extra}: exit {code}\n{err[-3000:]}")
    return json.loads(out.strip().splitlines()[-1])


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def main():
    for w in SPEC["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = result(w["name"], trace)
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            check(got == want, f"{w['name']} --trace {trace}: prints every {key} metric with its unit")
            check(r["correct"] and r["failed"] == 0 and r["attempted"] > 0,
                  f"{w['name']} --trace {trace}: {r['attempted']} attempted, none failed")

    r = result("ingest_small_files", 0, "--inject", "flip-byte")
    check(not r["correct"] and r["failed"] >= 1, "flipped byte in a reassembled file counts as failed")
    r = result("query_mix", 0, "--inject", "bad-fingerprint")
    check(not r["correct"] and r["failed"] >= 1, "wrong pinned fingerprint counts as failed")

    bare = ROOT / ".bench_build" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(ROOT / "perfbench", bare / "perfbench")
        code, out, _ = run("query_mix", 0, cwd=bare)
        check(code != 0 and not out.strip(), "without the program's sources it exits non-zero")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    main()
