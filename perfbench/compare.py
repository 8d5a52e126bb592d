"""Summarise one result set, or compare two.

    python3 perfbench/compare.py SET            # summary of one set
    python3 perfbench/compare.py SET_A SET_B    # does B agree with A?

A result set is a directory of run records (``run.py --results DIR``,
or ``suite.py --out DIR``). For every workload and end-to-end metric
the summary prints the median and quartiles over the set's untraced
runs and the spread (quartile distance / median) next to the metric's
bound from BENCHMARK.json. It also prints what the gate leaves out:
the fail ratio, the pooled step latency tail (the highest percentile
with at least ten samples above it, with its sample count), the space
amplification, the traced runs' end-to-end numbers beside the
untraced ones (the tracing overhead), the traced runs' per-layer
medians, and the local[1] -> local[N] scaling efficiency when both
``bulk_cow`` and ``bulk_cow_1core`` ran.

With two sets, each metric's median in B is compared with A's: B
agrees when it is not worse than A by more than the bound. The exit
code is 1 when any metric disagrees.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> dict[str, dict[int, list[dict]]]:
    """workload -> trace flag -> run records."""
    out: dict = defaultdict(lambda: defaultdict(list))
    for f in sorted(glob.glob(os.path.join(path, "*.json"))):
        with open(f) as fh:
            rec = json.load(fh)
        out[rec["info"]["workload"]][rec["info"]["trace"]].append(rec)
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def tail(xs: list[float]) -> tuple[int, float] | None:
    import numpy as np

    p = next((p for p in (99, 95, 90, 75, 50) if len(xs) * (1 - p / 100) >= 10), None)
    return None if p is None else (p, float(np.percentile(xs, p)))


def metric_values(runs: list[dict], name: str) -> list[float]:
    return [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]


def summarize(path: str, bench: dict) -> None:
    sets = load(path)
    e2e = bench["end_to_end"]
    for wl in sorted(sets):
        plain, traced = sets[wl].get(0, []), sets[wl].get(1, [])
        print(f"\n== {wl}: {len(plain)} untraced, {len(traced)} traced runs")
        if plain:
            print(f"  {'metric':24s} {'unit':6s} {'median':>12s} {'q1':>12s} {'q3':>12s}"
                  f" {'spread':>7s} {'bound':>6s}")
            for m in e2e:
                xs = metric_values(plain, m["name"])
                if not xs:
                    continue
                q1, med, q3 = quartiles(xs)
                print(f"  {m['name']:24s} {m['unit']:6s} {med:12.4f} {q1:12.4f} {q3:12.4f}"
                      f" {(q3 - q1) / med:7.3f} {m['bound']:6.2f}")
        runs = plain + traced
        att = sum(r["attempted"] for r in runs)
        fail = sum(r["failed"] for r in runs)
        print(f"  fail_ratio {fail}/{att} = {fail / max(att, 1):.4f}")
        for label, group in (("untraced", plain), ("traced", traced)):
            steps = [s for r in group for s in r["info"]["steps_s"]]
            t = tail(steps) if steps else None
            if t:
                print(f"  step tail ({label}): p{t[0]} = {t[1]:.4f} s over {len(steps)} steps")
        space = [r["info"]["space_amp"] for r in runs if r["info"].get("space_amp")]
        if space:
            print(f"  space_amp median {statistics.median(space):.3f}")
        if plain and traced:
            print("  tracing overhead (traced median / untraced median - 1):")
            for m in e2e:
                a = [r["info"]["end_to_end"][m["name"]] for r in plain]
                b = [r["info"]["end_to_end"][m["name"]] for r in traced]
                ma, mb = statistics.median(a), statistics.median(b)
                print(f"    {m['name']:24s} {ma:12.4f} {mb:12.4f} {mb / ma - 1:+7.1%}")
        if traced:
            print("  per-layer medians over traced runs (non-zero):")
            for m in bench["per_layer"]:
                xs = metric_values(traced, m["name"])
                if xs and statistics.median(xs):
                    print(f"    {m['name']:44s} {statistics.median(xs):14.4f} {m['unit']}")
    if "bulk_cow" in sets and "bulk_cow_1core" in sets:
        n = [r["info"]["end_to_end"]["rows_per_s"] for r in sets["bulk_cow"].get(0, [])]
        one = [r["info"]["end_to_end"]["rows_per_s"] for r in sets["bulk_cow_1core"].get(0, [])]
        if n and one:
            cores = sets["bulk_cow"][0][0]["info"]["parallelism"]
            sp = statistics.median(n) / statistics.median(one)
            print(f"\nscaling local[1] -> local[{cores}]: speedup {sp:.2f}, "
                  f"efficiency {sp / cores:.2f} (not gated)")


def compare(path_a: str, path_b: str, bench: dict) -> int:
    a, b = load(path_a), load(path_b)
    bad = 0
    print(f"{'workload':18s} {'metric':20s} {'A median':>11s} {'B median':>11s}"
          f" {'change':>8s} {'bound':>6s}  verdict")
    for wl in sorted(set(a) | set(b)):
        for m in bench["end_to_end"]:
            xa = metric_values(a[wl].get(0, []), m["name"]) if wl in a else []
            xb = metric_values(b[wl].get(0, []), m["name"]) if wl in b else []
            if not xa or not xb:
                print(f"{wl:18s} {m['name']:20s} missing in {'A' if not xa else 'B'}")
                bad += 1
                continue
            ma, mb = statistics.median(xa), statistics.median(xb)
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            ok = worse <= m["bound"]
            bad += not ok
            print(f"{wl:18s} {m['name']:20s} {ma:11.4f} {mb:11.4f} {(mb - ma) / ma:+8.1%}"
                  f" {m['bound']:6.2f}  {'agree' if ok else 'WORSE'}")
    return 1 if bad else 0


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    args = sys.argv[1:]
    if len(args) == 1:
        summarize(args[0], bench)
        return 0
    if len(args) == 2:
        for p in args:
            print(f"\n######## {p}")
            summarize(p, bench)
        print()
        return compare(args[0], args[1], bench)
    print(__doc__)
    return 2


if __name__ == "__main__":
    sys.exit(main())
