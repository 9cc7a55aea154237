#!/usr/bin/env python3
"""Self-test of the layered benchmark at tiny input sizes.

    python3 layerbench/selftest.py

Runs every workload once untraced and once traced, and checks that each run
passes its result checks and reports every metric BENCHMARK.json names, with
its unit. Exits non-zero on the first problem.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["revisions_estimate", "synthetic_grid", "text_curate", "stream_cdc"]


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {"0": {m["name"]: m["unit"] for m in spec["end_to_end"]},
            "1": {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for w in WORKLOADS:
        for trace in ("0", "1"):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", "7",
                   "--seconds", "1", "--trace", trace, "--tiny"]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            tag = "%s trace=%s" % (w, trace)
            before = len(problems)
            if p.returncode != 0 or not lines:
                problems.append("%s: exit %d" % (tag, p.returncode))
                print("%-32s FAILED" % tag)
                continue
            r = json.loads(lines[-1])
            if sorted(r) != ["attempted", "correct", "failed", "metrics"]:
                problems.append("%s: result keys %s" % (tag, sorted(r)))
            if not r["correct"] or r["failed"] != 0 or r["attempted"] < 1:
                problems.append("%s: correct=%s failed=%s attempted=%s"
                                % (tag, r["correct"], r["failed"], r["attempted"]))
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != want[trace]:
                missing = sorted(set(want[trace]) - set(got))
                extra = sorted(set(got) - set(want[trace]))
                units = sorted(k for k in got if k in want[trace] and got[k] != want[trace][k])
                problems.append("%s: missing %s, extra %s, wrong unit %s" % (tag, missing, extra, units))
            print("%-32s %s" % (tag, "ok" if len(problems) == before else "FAILED"))
    for pr in problems:
        print("FAILED " + pr)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
