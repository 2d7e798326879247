#!/usr/bin/env python3
"""Run every workload, untraced and traced, from one seed. Check that the
result line is well formed, the outputs are correct, and every metric named
in BENCHMARK.json is present with its unit; print every metric by name and
unit, and each run's failed_frac.

    python3 perfbench/selftest.py                            # tiny inputs
    python3 perfbench/selftest.py --scale 1 --seconds 12 --seed 1   # full size

Run from the repository root. The tiny run takes a few minutes (a fresh
Spark session per run), the full-size one about five.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--scale", type=float, default=0.05)
    ap.add_argument("--seconds", type=float, default=1)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    expected = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    for w in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace),
                   "--scale", str(args.scale)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            tag = f"{w} trace={trace}"
            # run.py prints "<workload> <metric> = <value> <unit>" per metric
            # and the run's failed_frac on standard error
            for line in proc.stderr.splitlines():
                if line.startswith(f"{w} "):
                    print(line, file=sys.stderr)
            if proc.returncode != 0:
                problems.append(f"{tag}: exit code {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            out = json.loads(proc.stdout.strip().splitlines()[-1])
            if set(out) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(out)}")
                continue
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                problems.append(f"{tag}: correct={out['correct']} failed={out['failed']} "
                                f"attempted={out['attempted']}")
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != expected[trace]:
                problems.append(f"{tag}: metric names/units differ from BENCHMARK.json: "
                                f"missing {sorted(set(expected[trace]) - set(got))}, "
                                f"extra {sorted(set(got) - set(expected[trace]))}, "
                                f"unit mismatches {sorted(k for k in got if k in expected[trace] and got[k] != expected[trace][k])}")
            bad = [k for k, v in out["metrics"].items() if not isinstance(v["value"], (int, float))]
            if bad:
                problems.append(f"{tag}: non-numeric values for {bad}")
            print(f"{tag}: ok={not problems}", file=sys.stderr)
    for p in problems:
        print("FAIL", p, file=sys.stderr)
    print("selftest:", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
