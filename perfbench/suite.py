"""Run the benchmark over several seeds and summarise the set.

    python3 perfbench/suite.py --out .perfbench/sets/a --seeds 1-10
    python3 perfbench/suite.py --out .perfbench/sets/a --seeds 1-3 --trace both \\
        --workloads cow_feed,neardup,bulk_cow,bulk_cow_1core

Each (workload, seed, trace) is one ``run.py`` process, run one after
another so runs never compete for the cores. The default workloads are
the ones BENCHMARK.json gates; ``run_seconds`` comes from there too.
At the end the set is summarised by ``compare.py``; compare two sets
with ``python3 perfbench/compare.py SET_A SET_B``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True, help="result-set directory")
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 1,4,9")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", default="0", choices=("0", "1", "both"))
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    args = ap.parse_args()

    traces = (0, 1) if args.trace == "both" else (int(args.trace),)
    failures = 0
    for wl in args.workloads.split(","):
        for seed in seeds(args.seeds):
            for trace in traces:
                cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                       "--seed", str(seed), "--seconds", str(args.seconds),
                       "--trace", str(trace), "--results", args.out]
                p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                                   text=True)
                last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
                ok = p.returncode == 0 and last.startswith("{")
                failures += not ok or not json.loads(last)["correct"]
                print(f"{wl} seed={seed} trace={trace} exit={p.returncode} "
                      f"{last[:160] if ok else 'NO RESULT'}", flush=True)
    subprocess.run([sys.executable, os.path.join(HERE, "compare.py"), args.out])
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
