#!/usr/bin/env python3
"""Compares the benchmark records of two commits.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are directories of run records (such as a checkout's
.bench_records); every *.json below them is read. For each workload and
end-to-end metric of the untraced records it prints both sides' median and
quartiles, the share of (base, new) pairs each side won, and the verdict:
gain (new wins at least nine tenths of the pairs and the medians differ by
more than the base's quartile spread), regression (new's median worse than
base's by more than the metric's bound in BENCHMARK.json), unresolved (the
base's own spread is wider than the bound), or within bound. From the
traced records it prints each span kind's self time on both sides, and
the queries whose physical plan digest changed.
"""
import json
import statistics
import sys
from pathlib import Path

import benchlib

ROOT = Path(__file__).resolve().parent.parent


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def better_than(a, b, better):
    return a < b if better == "lower" else a > b


def pair_wins(base, new, better):
    """Shares of all (base, new) pairs won by each side; ties count for neither."""
    pairs = [(b, n) for b in base for n in new]
    return (sum(better_than(b, n, better) for b, n in pairs) / len(pairs),
            sum(better_than(n, b, better) for b, n in pairs) / len(pairs))


def verdict(base, new, better, bound):
    b1, bm, b3 = quartiles(base)
    nm = statistics.median(new)
    _, new_wins = pair_wins(base, new, better)
    if new_wins >= 0.9 and better_than(nm, bm, better) and abs(nm - bm) > b3 - b1:
        return "gain"
    if bound is None:
        return "no bound"
    if bm and (b3 - b1) / abs(bm) > bound:
        return "within bound" if all(better_than(n, b, better) for b in base for n in new) \
            else "unresolved"
    worse = (nm - bm) if better == "lower" else (bm - nm)
    return "regression" if bm and worse / abs(bm) > bound else "within bound"


def load(directory):
    recs = []
    for p in sorted(Path(directory).rglob("*.json")):
        try:
            r = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if isinstance(r, dict) and "envelope" in r:
            recs.append(r)
    return recs


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    gated = {m["name"]: m for m in spec["end_to_end"]}
    workloads = sorted({r["envelope"]["workload"] for r in base + new})
    for w in workloads:
        b = [r for r in base if r["envelope"]["workload"] == w and not r["envelope"]["trace"]]
        n = [r for r in new if r["envelope"]["workload"] == w and not r["envelope"]["trace"]]
        print(f"== {w}: {len(b)} base runs, {len(n)} new runs")
        if b and n:
            print(f"{'metric':<16}{'unit':>6}{'base q1/median/q3':>30}{'new q1/median/q3':>30}"
                  f"{'base won':>10}{'new won':>9}  verdict")
            names = [m for m in benchlib.E2E_UNITS if all(m in r["end_to_end"] for r in b + n)]
            for m in names:
                bv = [r["end_to_end"][m] for r in b]
                nv = [r["end_to_end"][m] for r in n]
                better = gated.get(m, {}).get("better", "lower")
                bw, nw = pair_wins(bv, nv, better)
                fmt = "/".join(f"{x:.4g}" for x in quartiles(bv))
                fmt_n = "/".join(f"{x:.4g}" for x in quartiles(nv))
                print(f"{m:<16}{benchlib.E2E_UNITS[m]:>6}{fmt:>30}{fmt_n:>30}{bw:>10.2f}{nw:>9.2f}"
                      f"  {verdict(bv, nv, better, gated.get(m, {}).get('bound'))}")
        bt = [r for r in base if r["envelope"]["workload"] == w and r["envelope"]["trace"]]
        nt = [r for r in new if r["envelope"]["workload"] == w and r["envelope"]["trace"]]
        if bt and nt:
            print(f"-- self time (s), median of {len(bt)} base / {len(nt)} new traced runs")
            kinds = sorted({k for r in bt + nt for k in r["self_time_s"]})
            for k in kinds:
                bs = statistics.median(r["self_time_s"].get(k, 0.0) for r in bt)
                ns = statistics.median(r["self_time_s"].get(k, 0.0) for r in nt)
                share = f"{(ns - bs) / bs:+.1%} of base" if bs else ""
                print(f"{k:<10}{bs:>10.3f}{ns:>10.3f}{ns - bs:>+10.3f}  {share}")
            changed = sorted(q for q, d in nt[-1]["plan_digests"].items()
                             if bt[-1]["plan_digests"].get(q) not in (None, d))
            print(f"-- physical plans changed: {', '.join(changed) or 'none'}")


if __name__ == "__main__":
    main()
