#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes.

usage: python3 perfbench/selftest.py   (from the root of a checkout; ~8 min)

Checks that
  - every workload of BENCHMARK.json prints each end-to-end metric (trace 0)
    and each per-layer metric (trace 1) by name with its unit, as numbers,
    with all output checks passing;
  - a failed output check is counted in `failed` and the run still ends
    with a result instead of aborting;
  - in a directory holding only BENCHMARK.json and the benchmark's own
    files, the command exits non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args, cwd=ROOT):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    cmd = bench["command"] + args
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, p.stderr


def result_of(lines):
    try:
        r = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None
    return r if isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"} else None


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []

    def expect(cond, msg):
        print(("ok   " if cond else "FAIL ") + msg)
        if not cond:
            problems.append(msg)

    for w in bench["workloads"]:
        for trace, wanted in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            name = f"{w['name']} trace={trace}"
            rc, lines, err = run(["--workload", w["name"], "--seed", "7", "--seconds", "1",
                                  "--trace", str(trace), "--size", "tiny"])
            r = result_of(lines)
            expect(rc == 0 and r is not None, f"{name}: exits 0 with a result line")
            if r is None:
                print(err[-2000:])
                continue
            expect(r["correct"] and r["failed"] == 0 and r["attempted"] >= 1,
                   f"{name}: every output check passes ({r['attempted']} operations)")
            for m in wanted:
                got = r["metrics"].get(m["name"])
                expect(got is not None and got["unit"] == m["unit"]
                       and isinstance(got["value"], (int, float)),
                       f"{name}: prints {m['name']} in {m['unit']}")
            extra = set(r["metrics"]) - {m["name"] for m in wanted}
            expect(not extra, f"{name}: prints no unlisted metric {sorted(extra)}")

    first = bench["workloads"][0]["name"]
    rc, lines, _ = run(["--workload", first, "--seed", "7", "--seconds", "1", "--trace", "0",
                        "--size", "tiny", "--inject-failure"])
    r = result_of(lines)
    expect(rc == 0 and r is not None and not r["correct"] and r["failed"] == r["attempted"] >= 1,
           "an injected check failure is counted, not fatal")

    bare = os.path.join(HERE, "target", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("target"))
    rc, lines, _ = run(["--workload", first, "--seed", "7", "--seconds", "1", "--trace", "0"],
                       cwd=bare)
    expect(rc != 0 and result_of(lines) is None,
           "without the engine sources the command fails without a result")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"\n{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
