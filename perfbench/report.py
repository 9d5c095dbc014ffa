#!/usr/bin/env python3
"""Runs workloads through the benchmark command and prints every metric by
name with its unit, plus the output check, in one table.

    python3 perfbench/report.py [--seed N] [--seconds N] [--trace] [WORKLOAD ...]

By default it runs all workloads of perfbench/benchlib.py (including the
two too long for BENCHMARK.json's run budget), each for --seconds of
measurement (default 90, so that warm passes give pass_s). With --trace it
adds one traced run per workload and prints its per-layer metrics and
per-span-kind self times.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

import benchlib

HERE = Path(__file__).resolve().parent


def run(workload, seed, seconds, trace):
    out = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                         capture_output=True, text=True)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"{workload}: benchmark run failed")
    lines = out.stdout.splitlines()
    return json.loads(Path(lines[-2].split("record: ", 1)[1]).read_text())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=90)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("workloads", nargs="*", default=list(benchlib.WORKLOADS))
    a = ap.parse_args()
    for w in a.workloads:
        r = run(w, a.seed, a.seconds, 0)
        env = r["envelope"]
        print(f"== {w} ({', '.join(env['modules'])} at {env['scale']}), seed {a.seed}: "
              f"{'correct' if r['correct'] else 'WRONG'}, {r['failed']} of {r['attempted']} "
              f"executions failed; loadavg {env['loadavg_before']} -> {env['loadavg_after']}")
        for q, why in r["failures"].items():
            print(f"   failed {q}: {why}")
        for m, v in r["end_to_end"].items():
            print(f"{m:<24}{v:>14.4f} {benchlib.E2E_UNITS[m]}")
        print(f"   ({', '.join(f'{k}={v}' for k, v in r['notes'].items())})")
        if a.trace:
            t = run(w, a.seed, 0, 1)
            for m, v in t["per_layer"].items():
                print(f"{m:<32}{v:>14.4f} {benchlib.PER_LAYER_UNITS[m]}")
            print("self time per span kind (s): " +
                  ", ".join(f"{k}={v:.3f}" for k, v in t["self_time_s"].items()))


if __name__ == "__main__":
    main()
