"""Ingest workloads: seeded change logs replayed through the runner.

Both workloads drive the engine only through its public API:
``PartialIngestRunner.snapshot_epoch`` / ``tail_batch``,
``SnapshotTracker.set_needs``, ``ChangefeedMirror.sync`` and
``LakeTable.read``. Inputs come from ``sources.eventlog`` (an
``EventLogSpec`` seeded from ``--seed``); the expected final state comes
from ``sources.eventlog.oracle_apply``, computed before any timing
starts, and is compared with the table byte for byte on the token
arrays.

- ``cow_feed``: every round replays the whole log into a fresh
  copy-on-write warehouse: one snapshot epoch, then a few large
  hot-keyed tail segments, with a partial re-snapshot of a quarter of
  the partitions before the second one; superseded versions expire as
  the pipeline runs, and a ``ChangefeedMirror`` syncs the round's
  commits downstream at its end.
- ``bulk_cow`` (and ``bulk_cow_1core`` at local[1]): the same replay
  with no mirror, re-snapshot or expiry — bench.py's replay shape.
- ``trickle_mor_feed``: one long-lived merge-on-read pipeline with
  expiry and a mirror; every round hands the runner one small
  near-uniform segment and waits until it is committed and mirrored.
  Before the third round a quarter of the partitions is re-snapshotted.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from debezium_partial_snapshotter_spark.config import PipelineConfig
from debezium_partial_snapshotter_spark.operators.upsert import empty_table_for
from debezium_partial_snapshotter_spark.plans.changefeed import ChangefeedMirror
from debezium_partial_snapshotter_spark.schemas import TOKENS_SCHEMA
from debezium_partial_snapshotter_spark.sources.eventlog import (
    EventLogSpec,
    generate_change_log,
    initial_state_table,
    oracle_apply,
    snapshot_read_events,
)
from debezium_partial_snapshotter_spark.sources.readers import ParquetWalSource
from debezium_partial_snapshotter_spark.streaming.runner import PartialIngestRunner

IMAGE_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()), ("source", pa.string()),
])


@dataclass
class IngestShape:
    """Input and pipeline shape of one ingest workload."""

    n_docs: int
    n_events: int
    n_segments: int
    hot_frac: float
    hot_weight: float
    num_buckets: int
    write_mode: str
    parallelism: int | None = None  # None = every core
    mean_tokens: float = 48.0
    mirror: str | None = None  # ChangefeedMirror.sync after every "epoch" / "round"
    resnapshot_before: int | None = None  # segment a partial re-snapshot precedes
    expire: bool = False  # expire superseded versions (min_age 0), mirror included


SHAPES = {
    "cow_feed": IngestShape(
        n_docs=4_000, n_events=12_000, n_segments=2, hot_frac=0.001,
        hot_weight=100.0, num_buckets=16, write_mode="cow", mirror="round",
        resnapshot_before=1, expire=True,
    ),
    "bulk_cow": IngestShape(
        n_docs=4_000, n_events=18_000, n_segments=3, hot_frac=0.001,
        hot_weight=100.0, num_buckets=16, write_mode="cow",
    ),
    # long enough that no run on this host exhausts it (one segment per round)
    "trickle_mor_feed": IngestShape(
        n_docs=3_000, n_events=12_000, n_segments=40, hot_frac=0.001,
        hot_weight=1.0, num_buckets=8, write_mode="mor", mirror="epoch",
        resnapshot_before=2, expire=True,
    ),
}
SHAPES["bulk_cow_1core"] = IngestShape(**{**asdict(SHAPES["bulk_cow"]), "parallelism": 1})


class LogInput:
    """One seed's source table and change log on disk."""

    def __init__(self, shape: IngestShape, seed: int, root: str):
        self.spec = EventLogSpec(
            n_docs=shape.n_docs,
            n_events=shape.n_events,
            n_segments=shape.n_segments,
            seed=seed,
            mean_tokens=shape.mean_tokens,
            hot_frac=shape.hot_frac,
            hot_weight=shape.hot_weight,
            num_buckets=shape.num_buckets,
        )
        os.makedirs(root, exist_ok=True)
        self.state_path = os.path.join(root, "state.parquet")
        self.state = initial_state_table(self.spec)
        pq.write_table(self.state, self.state_path)
        self.tables = generate_change_log(self.spec, out_dir=os.path.join(root, "wal"))
        self.segments = [
            os.path.join(root, "wal", f"seg-{i:05d}.parquet")
            for i in range(len(self.tables))
        ]
        self.input_bytes = os.path.getsize(self.state_path) + sum(
            os.path.getsize(p) for p in self.segments
        )
        # the partial re-snapshot: a quarter of the partitions, from the seed
        nb = shape.num_buckets
        rng = np.random.default_rng(seed + 104729)
        self.resnap = sorted(int(b) for b in rng.choice(nb, max(1, nb // 4), replace=False))
        self.resnap_before = shape.resnapshot_before
        self.expected = self._oracle()

    def _oracle(self) -> list[dict]:
        """Expected state after each applied segment. LSNs increase
        across the log, so the oracle chains segment by segment. The
        re-snapshot re-reads the source table's rows of its buckets at
        the watermark the runner must pick: one above the applied WAL."""
        initial = self.state.to_pylist()
        state = {r["doc_id"]: r for r in initial}
        out = []
        for i, seg in enumerate(self.tables):
            if i == self.resnap_before:
                wm = int(self.tables[i - 1]["lsn"][-1].as_py()) + 1
                snap = snapshot_read_events(initial, wm, self.spec, set(self.resnap))
                state = oracle_apply([snap], initial=state)
                self.resnap_watermark, self.resnap_rows = wm, snap.num_rows
            state = oracle_apply([seg], initial=state)
            out.append(state)
        return out


def expected_image(rows: dict[str, dict]) -> pa.Table:
    ids = sorted(rows)
    return pa.table(
        [
            pa.array(ids, pa.string()),
            pa.array([rows[i]["tokens"] for i in ids], pa.list_(pa.int32())),
            pa.array([rows[i]["n_tok"] for i in ids], pa.int32()),
            pa.array([rows[i]["source"] for i in ids], pa.string()),
        ],
        schema=IMAGE_SCHEMA,
    )


def table_image(spark, table) -> pa.Table:
    df = table.read(spark).select(*IMAGE_SCHEMA.names)
    return df.toArrow().cast(IMAGE_SCHEMA).sort_by("doc_id")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Checks:
    """Operations attempted / failed, with the reasons."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def __call__(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def make_pipeline(spark, log: LogInput, shape: IngestShape, wh: str):
    cfg = PipelineConfig(
        pipeline_id="bench",
        warehouse=os.path.join(wh, "wh"),
        num_buckets=shape.num_buckets,
        write_mode=shape.write_mode,
    )
    if shape.expire and shape.mirror == "epoch":
        # upstream expiry only where the mirror syncs every epoch: its
        # cursor then lags by at most one epoch's commits (delta,
        # compaction, expiry) and stays inside the horizon
        cfg.expire_keep_last = 8
        cfg.expire_every_applies = 2
        cfg.expire_min_age_sec = 0.0
        cfg.expire_orphan_grace_sec = 0.0
    # the live log starts empty: a segment "arrives" when it is staged
    live = os.path.join(wh, "live_wal")
    os.makedirs(live)
    src = ParquetWalSource(spark, log.state_path, live, num_buckets=shape.num_buckets)
    runner = PartialIngestRunner(spark, cfg, src)
    mirror = None
    if shape.mirror:
        down = empty_table_for(os.path.join(wh, "mirror"), TOKENS_SCHEMA, shape.num_buckets)
        mirror = ChangefeedMirror(
            runner.table, down, os.path.join(wh, "mirror_state"),
            compact_threshold=shape.num_buckets,
            expire_keep_last=1 if shape.expire else 0, expire_min_age_sec=0.0,
            expire_every_syncs=1,
        )
    return runner, src, live, mirror


def stage(tracer, live: str, seg: str) -> str:
    with tracer.span("bench.stage", label=False):
        staged = os.path.join(live, os.path.basename(seg))
        os.symlink(os.path.abspath(seg), staged)
    return staged


def resnapshot(spark, runner, mirror, log: LogInput, check) -> None:
    """Request and run the partial re-snapshot of ``log.resnap``."""
    parts = [f"{runner.cfg.target_table}/{b:04d}" for b in log.resnap]
    runner.tracker.set_needs(parts, runner.cfg.pipeline_id, needs=True)
    st = runner.snapshot_epoch()
    check(bool(st.get("applied")) and st.get("claimed") == parts
          and st.get("snapshot_watermark") == log.resnap_watermark,
          f"re-snapshot {st.get('claimed')} @ {st.get('snapshot_watermark')}")
    if mirror is not None:
        check(mirror.sync(spark).get("applied") is True, "re-snapshot sync")


def tail_epoch(spark, tracer, runner, src, live, mirror, seg: str, check) -> float:
    """Hand one segment to the runner; return the seconds until it is
    committed (and, with a mirror, visible downstream)."""
    s0 = time.perf_counter()
    st = runner.tail_batch(src.wal_batch([stage(tracer, live, seg)]))
    check(bool(st.get("applied")), f"{os.path.basename(seg)} not applied")
    if mirror is not None:
        check(mirror.sync(spark).get("applied") is True, f"sync {os.path.basename(seg)}")
    return time.perf_counter() - s0


def verify(spark, runner, mirror, expected: dict, check) -> float:
    """Table == oracle, mirror == table; returns the space amplification:
    table bytes on disk / logical (arrow) bytes of the expected state."""
    want = expected_image(expected)
    image = table_image(spark, runner.table)
    check(image.equals(want), "final table != oracle_apply")
    if mirror is not None:
        check(table_image(spark, mirror.downstream).equals(image), "mirror != upstream")
    return dir_bytes(runner.table.path) / want.nbytes


# ------------------------------------------------------------------ bulk
class BulkWorkload:
    """Every round: a full replay of the log into a fresh warehouse."""

    # rounds measured even when one outlasts --seconds: the same mix in
    # every run, and a median with company
    min_rounds = 2

    def __init__(self, name: str, seed: int, work: str):
        self.shape = SHAPES[name]
        self.work = work
        self.parallelism = self.shape.parallelism
        self.log = LogInput(self.shape, seed, os.path.join(work, "input"))

    def warmup(self, spark, tracer) -> None:
        res = self._replay(spark, tracer, self.log, os.path.join(self.work, "warm"))
        res["verify"]()
        if res["check"].failed:
            raise RuntimeError(f"warm-up replay failed: {res['check'].errors}")

    def start(self, spark, tracer) -> Checks:
        return Checks()

    def round(self, spark, tracer, i: int) -> dict:
        return self._replay(spark, tracer, self.log, os.path.join(self.work, f"round-{i}"))

    def finish(self, spark) -> dict:
        return {"check": Checks()}

    def _replay(self, spark, tracer, log: LogInput, wh: str) -> dict:
        """Timed: the first snapshot to the last committed (and mirrored)
        epoch. ``verify`` checks the outputs after the clock stops."""
        check = Checks()
        runner, src, live, mirror = make_pipeline(spark, log, self.shape, wh)
        steps = []
        epoch_mirror = mirror if self.shape.mirror == "epoch" else None
        check(bool(runner.snapshot_epoch().get("applied")), "snapshot not applied")
        for i, seg in enumerate(log.segments):
            if i == log.resnap_before:
                resnapshot(spark, runner, epoch_mirror, log, check)
            steps.append(tail_epoch(spark, tracer, runner, src, live, epoch_mirror, seg,
                                    check))
        if mirror is not None:
            check(mirror.sync(spark).get("applied") is True, "mirror sync")
        out = {
            "steps": steps, "check": check, "input_bytes": log.input_bytes,
            "rows": log.spec.n_docs + log.spec.n_events
            + (log.resnap_rows if log.resnap_before is not None else 0),
            "epochs": 1 + len(log.segments) + (log.resnap_before is not None),
        }

        def _verify():
            try:
                out["space_amp"] = verify(spark, runner, mirror, log.expected[-1], check)
            finally:
                shutil.rmtree(wh, ignore_errors=True)

        out["verify"] = _verify
        return out


# --------------------------------------------------------------- trickle
class TrickleWorkload:
    """One long-lived pipeline; every round applies the next segment."""

    min_rounds = 2

    def __init__(self, name: str, seed: int, work: str):
        self.shape = SHAPES[name]
        self.work = work
        self.parallelism = self.shape.parallelism
        self.log = LogInput(self.shape, seed, os.path.join(work, "input"))

    def warmup(self, spark, tracer) -> None:
        """A throwaway pipeline over the log's first segments, through
        the re-snapshot."""
        checks = [self.start(spark, tracer, "warm")]
        checks += [self.round(spark, tracer, i)["check"]
                   for i in range(self.shape.resnapshot_before + 1)]
        checks.append(self.finish(spark)["check"])
        shutil.rmtree(os.path.join(self.work, "warm"), ignore_errors=True)
        errors = [e for c in checks for e in c.errors]
        if errors:
            raise RuntimeError(f"warm-up pipeline failed: {errors}")

    def start(self, spark, tracer, wh: str = "pipeline") -> Checks:
        """Untimed: open the pipeline and take its initial snapshot."""
        self.applied = 0
        self.runner, self.src, self.live, self.mirror = make_pipeline(
            spark, self.log, self.shape, os.path.join(self.work, wh))
        check = Checks()
        check(bool(self.runner.snapshot_epoch().get("applied")), "snapshot")
        check(self.mirror.sync(spark).get("applied") is True, "first sync")
        return check

    def round(self, spark, tracer, i: int) -> dict | None:
        """One segment committed and mirrored (after, once, the partial
        re-snapshot). The pipeline's outputs are checked by finish()."""
        log = self.log
        if i >= len(log.segments):
            return None
        check = Checks()
        if i == log.resnap_before:
            resnapshot(spark, self.runner, self.mirror, log, check)
        step = tail_epoch(spark, tracer, self.runner, self.src, self.live, self.mirror,
                          log.segments[i], check)
        self.applied = i + 1
        return {
            "steps": [step], "check": check, "input_bytes": os.path.getsize(log.segments[i]),
            "rows": len(log.tables[i]) + (log.resnap_rows if i == log.resnap_before else 0),
            "epochs": 1 + (i == log.resnap_before), "verify": lambda: None,
        }

    def finish(self, spark) -> dict:
        check = Checks()
        space = verify(spark, self.runner, self.mirror, self.log.expected[self.applied - 1],
                       check)
        return {"check": check, "space_amp": space}
