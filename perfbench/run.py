"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload bulk_cow --seed 1 --seconds 10 --trace 0

Run from the repository root. A run generates its inputs from the seed,
computes the expected outputs with the repo's own oracles, and starts
Spark on host-sized settings (``local[<cores>]``, 2g heap, 1g off-heap,
shuffle and warehouse directories under ``.perfbench/``). Set-up is the
median of three session starts (the first also launches the JVM) plus
one untimed warm-up round on the same input.
Then the workload's rounds run in a closed loop until ``--seconds`` have
passed and at least the workload's ``min_rounds`` have run; every
output is checked against the oracle, and a mismatch or a failed
operation counts in ``failed``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
loop with every engine layer wrapped in spans (see ``tracing.py``) and
prints the per-layer metrics instead. The last stdout line is the
result JSON; the line before it is a ``#`` comment with the run's
details, and the full record (spans included) is saved under
``--results``. Before it exits, a run stops the JVM and every other
process it started, and waits until each has ended.
"""

from __future__ import annotations

import argparse
import ctypes
import dataclasses
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))

# bulk_cow_1core is not in BENCHMARK.json: it only feeds the (ungated)
# scaling efficiency that suite.py derives from the two bulk workloads
WORKLOADS = ("cow_feed", "neardup", "bulk_cow", "bulk_cow_1core", "trickle_mor_feed")
SESSION_STARTS = 3
DRIVER_MEM = "2g"
OFFHEAP = "1g"


PR_SET_CHILD_SUBREAPER = 36


def adopt_descendants() -> None:
    """Become the reaper of every process started under this one, so the
    JVM's Python workers come back to this process when the JVM ends
    instead of outliving the run."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def descendants() -> list[int]:
    """Pids of every live or unreaped process below this one."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # gone meanwhile
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 20.0, timeout_s: float = 40.0) -> None:
    """End every process this run started and wait until each is gone.

    The JVM is asked first, by closing its stdin (PySpark's own signal
    for it to exit, which runs its shutdown hooks); whatever is left
    after ``grace_s`` gets SIGTERM, and after ``timeout_s`` SIGKILL; one
    that outlives SIGKILL by 10 s fails the run."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may be gone already
            pass
        if gw.proc is not None and gw.proc.stdin is not None:
            gw.proc.stdin.close()
        SparkContext._gateway = SparkContext._jvm = None
    t0 = time.monotonic()
    while True:
        reap()
        pids = descendants()
        if not pids:
            return
        waited = time.monotonic() - t0
        if waited > timeout_s + 10.0:
            raise RuntimeError(f"processes {pids} outlived SIGKILL")
        if waited > grace_s:
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL if waited > timeout_s else signal.SIGTERM)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def on_signal(signum, frame):
    raise SystemExit(128 + signum)  # runs the finally blocks: children stop


def cores() -> int:
    return len(os.sched_getaffinity(0))


def jvm_peak_rss_mb(sc) -> float:
    with open(f"/proc/{sc._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from the JVM's /proc status")


def spark_conf(work: str, traced: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.memory": DRIVER_MEM,
        "spark.driver.extraJavaOptions": (
            # a fixed heap size keeps the peak RSS from hinging on
            # when G1 decides to grow the heap
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
            " -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    return conf


def make_workload(name: str, seed: int, work: str):
    if name == "neardup":
        from neardup import NearDupWorkload

        return NearDupWorkload(name, seed, work)
    from ingest import BulkWorkload, TrickleWorkload

    cls = TrickleWorkload if name == "trickle_mor_feed" else BulkWorkload
    return cls(name, seed, work)


def host_probe() -> float:
    """Seconds a fixed single-threaded loop takes: recorded beside the
    figures, so a run on a slowed-down host can be told from a slow
    program."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    return time.perf_counter() - t0


def settle(spark) -> None:
    """Between rounds, outside the clock: free what the last round left
    on both heaps, so no round pays for the garbage of the one before."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def measure(args, work: str) -> tuple[dict, dict, object]:
    from tracing import SparkJobs, Tracer, layer_metrics

    from debezium_partial_snapshotter_spark import session

    # get_spark sweeps dead sessions' shuffle dirs under /dev/shm; a run
    # keeps its own under the working directory and touches nothing else
    session._sweep_stale_local_dirs = lambda root: None
    tracer = Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}", bool(args.trace))
    spark = None
    rounds, layers, errors = [], [], []
    try:
        wl = make_workload(args.workload, args.seed, work)
        par = wl.parallelism or cores()
        conf = spark_conf(work, bool(args.trace))
        if args.trace:
            tracer.install()

        starts = []
        for _ in range(SESSION_STARTS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = session.get_spark(f"perfbench-{args.workload}", parallelism=par,
                                      shuffle_partitions=par, extra_conf=conf)
            starts.append(time.perf_counter() - t0)
        tracer.sc = spark.sparkContext if args.trace else None
        t0 = time.perf_counter()
        with tracer.span("setup.warmup"):
            wl.warmup(spark, tracer)
        warmup = time.perf_counter() - t0
        settle(spark)
        rest = SparkJobs(spark.sparkContext) if args.trace else None

        probes = [host_probe()]
        checks = [wl.start(spark, tracer)]
        t_start = time.perf_counter()
        while len(rounds) < wl.min_rounds or time.perf_counter() - t_start < args.seconds:
            first_job = rest.next_job_id() if rest else 0
            try:
                t0 = time.perf_counter()
                with tracer.span("round") as root:
                    res = wl.round(spark, tracer, len(rounds))
                wall = time.perf_counter() - t0
                if res is None:  # input exhausted
                    break
                end_job = rest.next_job_id() if rest else 0
                res.update(wall=wall, root=root)
                res["verify"]()  # outside the clock and the round span
                settle(spark)
            except Exception:  # noqa: BLE001 — a failed operation is a result
                errors.append(f"round {len(rounds)}: {traceback.format_exc()[-2000:]}")
                break
            rounds.append(res)
            checks.append(res["check"])
            if rest is not None:
                layers.append(layer_metrics(
                    tracer.spans, root, rest.jobs(first_job, end_job), rest.stages(),
                    res["epochs"], res["input_bytes"],
                ))
            if res["check"].failed:
                break
        measured = time.perf_counter() - t_start
        probes.append(host_probe())
        fin = wl.finish(spark) if rounds else {}
        checks.append(fin.get("check"))
        rss = jvm_peak_rss_mb(spark.sparkContext)
    finally:
        tracer.uninstall()
        if spark is not None:
            spark.stop()

    checks = [c for c in checks if c is not None]
    attempted = sum(c.attempted for c in checks) + len(errors)
    failed = sum(c.failed for c in checks) + len(errors)
    errors += [e for c in checks for e in c.errors]
    if not rounds:
        raise RuntimeError(f"no round completed: {errors}")
    steps = [s for r in rounds for s in r["steps"]]
    e2e = {
        "setup_s": statistics.median(starts) + warmup,
        "wall_s": statistics.median(r["wall"] for r in rounds),
        "rows_per_s": statistics.median(r["rows"] / r["wall"] for r in rounds),
        "step_p50_s": statistics.median(steps),
        "jvm_peak_rss_mb": rss,
    }
    space = [r["space_amp"] for r in rounds + [fin] if "space_amp" in r]
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "inputs": dataclasses.asdict(wl.shape),
        "parallelism": par, "driver_memory": DRIVER_MEM, "offheap": OFFHEAP,
        "session_starts_s": starts, "warmup_s": warmup, "host_probe_s": probes,
        "rounds": len(rounds), "measured_s": measured,
        "walls_s": [r["wall"] for r in rounds], "steps_s": steps,
        "fail_ratio": failed / max(attempted, 1), "errors": errors[:20],
        "space_amp": statistics.median(space) if space else None,
        "end_to_end": e2e,
    }
    if args.trace:
        per_layer = {m["name"]: m["unit"] for m in benchmark()["per_layer"]}
        metrics = {k: {"value": float(statistics.median(lm.get(k, 0.0) for lm in layers)),
                       "unit": u} for k, u in per_layer.items()}
        # the two numbers that live outside the rounds
        metrics["session.get_spark.s"]["value"] = statistics.median(
            sp.end - sp.start for sp in tracer.spans if sp.name == "session.get_spark")
        metrics["lake.space_amp"]["value"] = info["space_amp"] or 0.0
        info["per_layer_rounds"] = layers
    else:
        units = {m["name"]: m["unit"] for m in benchmark()["end_to_end"]}
        metrics = {k: {"value": float(v), "unit": units[k]} for k, v in e2e.items()}
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": metrics}
    return out, info, tracer


def benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def save(results: str, out: dict, info: dict, tracer) -> None:
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, "{workload}-seed{seed}-trace{trace}".format(**info))
    stem += f"-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    with open(stem + ".json", "w") as fh:
        json.dump({**out, "info": info}, fh, indent=1)
    if info["trace"]:
        tracer.write(stem + ".spans.jsonl")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--results", default=os.path.join(".perfbench", "results"),
                    help="directory for the run record (default: %(default)s)")
    args = ap.parse_args()

    signal.signal(signal.SIGTERM, on_signal)
    adopt_descendants()
    sys.path[:0] = [HERE, ROOT]
    # every file Spark, Python or the JVM writes stays under the cwd, in
    # a per-run directory that is removed when the run ends
    work = os.path.join(os.getcwd(), ".perfbench", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["DPS_DRIVER_MEM"] = DRIVER_MEM
    os.environ["DPS_OFFHEAP"] = OFFHEAP
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    try:
        out, info, tracer = measure(args, work)
    finally:
        if "pyspark" in sys.modules:
            stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
    save(args.results, out, info, tracer)
    print("# " + json.dumps({k: v for k, v in info.items() if k != "per_layer_rounds"}))
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
