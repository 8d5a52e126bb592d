"""The engine's lifecycle orchestrator: one phase machine for one or
many source tables.

Spark re-expression of the reference connector's phase machine
(SURVEY.md §3.1/§3.3):

1. **bootstrap** — open/create tracker (A3); decide record-only mode
   (A9: ``skip_existing_connector`` and tracker-fresh-or-unseen,
   ``PostgresJdbcFilterHandler.java:64-68``).
2. **catch-up** — replay WAL written while the pipeline was down,
   BEFORE any new partial snapshot (B3; pinned by
   ``PartialSnapshotterTest.java:183-237``).
3. **snapshot epoch** — claim needs-snapshot partitions atomically
   (A1/A4-A6), bounded scan of ONLY those buckets tagged 'r' at the
   snapshot watermark (B1), apply, then bulk release (A7). The
   reference infers snapshot-end by counting shouldStream() calls on
   old engines (A11 — a self-described HACK); here the phase machine is
   explicit.
4. **tail** — Structured Streaming over the change-event feed with
   ``foreachBatch`` apply (B2); exactly-once = checkpoint (deterministic
   batch replay) + idempotent commit keys in the target manifest (B6)
   + a global LSN high-watermark filter, so re-reads after checkpoint
   loss cannot resurrect deleted keys or double-apply.

Epoch numbering is monotonic across restarts (resumed from the commit
log); each epoch writes lineage/metrics rows (B9).

The reference connector coordinates SEVERAL tables per connector —
nearly every reference test uses two (``test_data`` +
``another_test_data``, ``PartialSnapshotterTest.java:44-46``), and
``testFilterOneTablePartialSnapshot`` (:82-102) is specifically about
snapshotting one table while skipping another. The phase core is
therefore written over N tables, and ``PartialIngestRunner`` is its
N = 1 case:

- **one tracker, one claim**: partitions of ALL tables are claimed in a
  single atomic tracker transition per epoch (the tracker is keyed by
  ``table/bucket``), mirroring the reference's single transaction over
  per-table rows.
- **one shared epoch, per-table commit keys**: every epoch stamps key
  ``{pipeline}:{phase}:{epoch}:{table}`` into each table's manifest
  (``{pipeline}:{phase}:{epoch}`` for a single-table runner). A crash
  after committing table A but before table B resumes the SAME
  snapshot epoch and skips A idempotently (duplicate key) while B
  applies.
- **one snapshot consistency point**: the epoch's snapshot watermark W
  is shared across tables (max over sources' WAL heads and every
  table's applied/snapshot marks) — the Spark analog of one exported
  snapshot covering all tables of a connector.
- **shared OR separate feeds**: sources may share one change-event
  feed (``stream`` routes each micro-batch by the ``table_partition``
  prefix) or carry independent logs (``stream_per_table`` runs one
  readStream per table concurrently); each table keeps its own
  ``watermark_lsn`` replay filter either way.

Per-table lakes stay independently committable/readable — a user of
table A never waits on table B's files.
"""

from __future__ import annotations

import re
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_partial_snapshotter_spark.config import PipelineConfig
from debezium_partial_snapshotter_spark.operators.upsert import (
    apply_batch,
    empty_table_for,
)
from debezium_partial_snapshotter_spark.plans.metrics import (
    COMMIT_LOG_ARROW,
    METRICS_ARROW,
    AppendLog,
)
from debezium_partial_snapshotter_spark.plans.tracker import SnapshotTracker
from debezium_partial_snapshotter_spark.schemas import TOKENS_SCHEMA
from debezium_partial_snapshotter_spark.sources.readers import ParquetWalSource

EPOCH_PHASES = ("catchup", "snapshot", "tail")


class _PhaseCore:
    """catchup -> snapshot -> tail over ``self.tables`` (name ->
    LakeTable contract) fed by ``self.sources`` (name -> source with
    snapshot/wal_batch/current_lsn/wal_stream)."""

    def __init__(self, spark: SparkSession, cfg: PipelineConfig, sources: dict,
                 tables: dict, log_name: str):
        self.spark = spark
        self.cfg = cfg
        self.sources = dict(sources)
        tracker_existed = SnapshotTracker(cfg.tracker_path).exists()
        self.tracker = SnapshotTracker.create(cfg.tracker_path)
        # A9 record-only decision (PostgresJdbcFilterHandler.java:64-68):
        # skip flag AND (tracker fresh OR this pipeline unseen)
        self.record_only = cfg.skip_existing_connector and (
            not tracker_existed
            or not self.tracker.connector_is_tracked(cfg.pipeline_id)
        )
        self.tables = tables
        self.metrics = AppendLog(f"{cfg.warehouse}/_metrics/{log_name}", METRICS_ARROW)
        self.commit_log = AppendLog(
            f"{cfg.warehouse}/_commit_log/{log_name}", COMMIT_LOG_ARROW
        )
        self._epoch = self._resume_epoch()
        self._applies_since_expire: dict[str, int] = {}  # per-table cadence
        # the shared epoch counter and the metrics/commit logs are the
        # only cross-table state concurrent stream handlers touch
        self._lock = threading.Lock()

    # ------------------------------------------------ overridable shape
    def _key(self, kind: str, n, table: str) -> str:
        """The commit-key rule: ``pid:{kind}:{epoch or batch id}:{table}``."""
        return f"{self.cfg.pipeline_id}:{kind}:{n}:{table}"

    def _route(self, events: DataFrame, table: str) -> DataFrame:
        """Shared-WAL routing: only this table's change events."""
        return events.where(F.col("table_partition").startswith(table + "/"))

    def _shape(self, per_table: dict, **extra) -> dict:
        """Result of a phase: {table: stats}, or the epoch summary plus
        ``tables`` when the phase has epoch-wide fields (snapshot)."""
        if not extra:
            return per_table
        applied = any(s.get("applied") for s in per_table.values())
        return {"applied": applied, **extra, "tables": per_table}

    # ------------------------------------------------------------ helpers
    def _resume_epoch(self) -> int:
        """Monotonic epoch resume. The commit log alone is NOT enough:
        a crash between the manifest swap and the commit-log append
        leaves the key committed in the MANIFEST but the epoch missing
        from the log — resuming from the log would reuse the stale key,
        apply_batch would return duplicate_commit_key forever, and
        ingest would silently stall. Resume from the max of both."""
        df = self.commit_log.read_pandas()
        mine = df[df["pipeline_id"] == self.cfg.pipeline_id]
        best = int(mine["checkpoint_epoch"].max()) if len(mine) else -1
        for t, table in self.tables.items():
            for key in table.committed_keys():
                # epoch keys only: stream keys (pid:stream:batch_id...)
                # are checkpoint-scoped, not epoch-scoped; skip them
                parts = key.split(":")
                if (
                    len(parts) > 2
                    and parts[1] in EPOCH_PHASES
                    and parts[2].isdigit()
                    and key == self._key(parts[1], parts[2], t)
                ):
                    best = max(best, int(parts[2]))
        return best + 1

    def _fresh_epoch(self, phase: str) -> int:
        """The current epoch, skipping over any epoch whose key is
        already committed in any table (belt-and-braces against the
        crash window _resume_epoch describes, and against a failure
        between a commit and this process's epoch bump)."""
        committed = {t: table.committed_keys() for t, table in self.tables.items()}
        while any(self._key(phase, self._epoch, t) in committed[t] for t in committed):
            self._epoch += 1
        return self._epoch

    def discovered_partitions(self) -> list[str]:
        """The set of (table, bucket) work units — the analog of
        Debezium's monitored-tables discovery, with B7 include/exclude
        regex filtering applied here, BEFORE any scan is planned (the
        tracker itself is never in the data plane)."""
        parts = [
            f"{t}/{b:04d}" for t in sorted(self.tables) for b in range(self.cfg.num_buckets)
        ]
        if self.cfg.partition_include:
            inc = re.compile(self.cfg.partition_include)
            parts = [p for p in parts if inc.search(p)]
        if self.cfg.partition_exclude:
            exc = re.compile(self.cfg.partition_exclude)
            parts = [p for p in parts if not exc.search(p)]
        return parts

    def _record(self, phase: str, table: str, epoch: int, stats: dict) -> None:
        wall = max(stats.get("wall_ms") or 1, 1)
        live = stats.get("rows_live")
        rows_read = stats.get("batch_keys")
        # per-partition lineage (north rule) + one epoch-total row
        rows = [
            {
                "epoch": epoch,
                "partition": f"{table}/{b:04d}",
                "phase": phase,
                "rows_read": n,
                "rows_applied": None,
                "events_per_sec": None,
                "wall_ms": wall,
                "watermark_lsn": stats.get("watermark_lsn"),
            }
            for b, n in (stats.get("bucket_rows") or {}).items()
        ]
        rows.append(
            {
                "epoch": epoch,
                "partition": f"{table}/*",
                "phase": phase,
                "rows_read": rows_read,
                "rows_applied": int(live) if live is not None else None,
                "events_per_sec": (rows_read or 0) / (wall / 1000.0),
                "wall_ms": wall,
                "watermark_lsn": stats.get("watermark_lsn"),
            }
        )
        self.metrics.append(rows)
        self.commit_log.append(
            [
                {
                    "pipeline_id": self.cfg.pipeline_id,
                    "checkpoint_epoch": epoch,
                    "commit_key": stats.get("commit_key"),
                    "phase": phase,
                    "batch_keys": rows_read,
                    "watermark_lsn": stats.get("watermark_lsn"),
                    "table_version": self.tables[table].current_version(),
                    "committed_at": time.time(),
                }
            ]
        )

    def _apply(self, t: str, events: DataFrame, phase: str, commit_key: str) -> dict:
        table = self.tables[t]
        stats = apply_batch(
            table,
            events,
            commit_key=commit_key,
            salt_buckets=self.cfg.salt_buckets,
            write_mode=self.cfg.write_mode,
            watermark_kind="snapshot" if phase == "snapshot" else "wal",
        )
        stats["commit_key"] = commit_key
        if not stats.get("applied"):
            return stats
        if (
            self.cfg.write_mode == "mor"
            and table.delta_stats()["delta_files"] >= self.cfg.mor_compact_threshold
        ):
            stats["compaction"] = table.compact(self.spark)
        if self.cfg.expire_keep_last:
            # storage reclamation rides the ingest loop (round 5): every
            # expire_every_applies applied batches, superseded versions
            # (including the bases a compaction just folded) give their
            # files back — without it one CoW commit per epoch strands
            # ~a touched-table copy per epoch forever
            n = self._applies_since_expire.get(t, 0) + 1
            if n >= self.cfg.expire_every_applies:
                n = 0
                stats["expiration"] = table.expire_versions(
                    keep_last=self.cfg.expire_keep_last,
                    min_age_sec=self.cfg.expire_min_age_sec,
                    orphan_grace_sec=self.cfg.expire_orphan_grace_sec,
                )
            self._applies_since_expire[t] = n
        return stats

    # ------------------------------------------------------------- phases
    def _wal_phase(self, phase: str, events: DataFrame | None = None) -> dict:
        """Apply the WAL past each table's LSN high watermark (idempotent
        under overlapping re-reads) as one epoch across all tables."""
        epoch = self._fresh_epoch(phase)
        out = {}
        for t, src in sorted(self.sources.items()):
            wm = self.tables[t].watermark_lsn()
            # since_lsn pushes the watermark into the SOURCE (JDBC: rows
            # never leave the database); the outer where is a no-op guard
            # for sources that ignore the parameter
            batch = src.wal_batch(since_lsn=wm) if events is None else events
            batch = self._route(batch, t).where(F.col("lsn") > F.lit(wm))
            stats = out[t] = self._apply(t, batch, phase, self._key(phase, epoch, t))
            # dead-letter visibility (VERDICT r3 next-5): sources with a
            # quarantine sink report how many envelopes this batch rejected
            # — callers/dashboards see drops per epoch, not just in the
            # source's own _batches log. Only when THIS call polled the
            # source: with caller-supplied events, last_quarantined belongs
            # to some earlier poll and attributing it here double-counts.
            q = getattr(src, "last_quarantined", None)
            if events is None and q is not None:
                stats["rows_quarantined"] = q
            if stats.get("applied"):
                self._record(phase, t, epoch, stats)
        if any(s.get("applied") for s in out.values()):
            self._epoch = epoch + 1
        return self._shape(out)

    def catchup(self) -> dict:
        """B3 — drain the WAL backlog before any snapshot work."""
        return self._wal_phase("catchup")

    def tail_batch(self, events: DataFrame | None = None) -> dict:
        """One bounded tail epoch (micro-batch outside Structured
        Streaming — used by tests and the bench replay loop). ``events``
        replaces polling the sources."""
        return self._wal_phase("tail", events)

    def snapshot_epoch(self) -> dict:
        """The partial-snapshot pass: claim -> bounded scan of claimed
        buckets only -> apply -> release (A1-A7, B1)."""
        # crash-resume: partitions still marked under_snapshot belong to
        # an epoch that died between claim and release (e.g. after
        # committing table A, before table B) — finish THAT epoch at ITS
        # recorded watermark (one consistency point per epoch); tables
        # that already committed it return duplicate_commit_key.
        mine = self.tracker.state(self.cfg.pipeline_id)
        stale = mine[mine["under_snapshot"]] if len(mine) else mine
        if len(stale):
            epoch = int(stale["updated_epoch"].min())
            watermark = int(stale["watermark_lsn"].max())
        else:
            epoch = self._fresh_epoch("snapshot")
            # the snapshot consistency point, ONE for all tables in the
            # epoch (reference: a connector's snapshot covers all its
            # tables at one position): at least every source's WAL
            # head, STRICTLY above everything already applied AND above
            # every previous snapshot watermark — a re-snapshot re-reads
            # the source and must beat rows stored by a previous snapshot
            # at the same LSN (reference: testResnapshotPartial), while
            # still losing (op-rank) to WAL events at lsn >= watermark
            # that arrive later. snapshot_lsn (not watermark_lsn) keeps
            # this monotonic: partial snapshots do NOT advance the WAL
            # replay filter (see apply_batch watermark_kind).
            watermark = max(
                [src.current_lsn() for src in self.sources.values()]
                + [t.watermark_lsn() + 1 for t in self.tables.values()]
                + [t.snapshot_lsn() + 1 for t in self.tables.values()]
            )
        discovered = self.discovered_partitions()
        try:
            claimed = self.tracker.claim(
                discovered,
                self.cfg.pipeline_id,
                record_only=self.record_only,
                watermark_lsn=watermark,
                epoch=epoch,
            )
        except Exception:
            # fail-safe policy (reference: SQLException -> skip,
            # PostgresJdbcFilterHandler.java:142-145; threaded timeout ->
            # snapshot, ThreadedSnapshotFilter.java:51-58)
            if self.cfg.on_tracker_error == "fail":
                raise
            if self.cfg.on_tracker_error != "snapshot":
                return {"applied": False, "reason": "tracker_error_skip"}
            claimed = discovered

        if not claimed:
            # nothing needs a snapshot: still release any stale claims
            self.tracker.release(self.cfg.pipeline_id, epoch=epoch)
            return {"applied": False, "reason": "nothing_claimed", "claimed": []}

        by_table: dict[str, list[int]] = {}
        for p in claimed:
            t, b = p.rsplit("/", 1)
            by_table.setdefault(t, []).append(int(b))
        out = {}
        for t, buckets in sorted(by_table.items()):
            events = self.sources[t].snapshot(sorted(buckets), watermark)
            stats = out[t] = self._apply(
                t, events, "snapshot", self._key("snapshot", epoch, t)
            )
            if stats.get("applied"):
                self._record("snapshot", t, epoch, stats)
        self.tracker.release(self.cfg.pipeline_id, epoch=epoch)
        if any(s.get("applied") for s in out.values()):
            self._epoch = max(self._epoch, epoch + 1)
        return self._shape(out, claimed=claimed, snapshot_watermark=watermark)

    # ---------------------------------------------------------- lifecycle
    def start(self) -> dict:
        """Full startup sequence: catch-up replay, then partial
        snapshot (order pinned by the reference's
        testReplayRecordsDuringResnapshot)."""
        return {"catchup": self.catchup(), "snapshot": self.snapshot_epoch()}

    def _handler(self, kind: str, tables: list[str]):
        """foreachBatch -> the same idempotent apply, per table, with
        that table's watermark filter and commit key
        ``_key(kind, batch_id, table)``. Exactly-once: checkpointed
        source offsets give deterministic batch replay; the manifest
        commit key dedupes a re-delivered batch; the LSN high-watermark
        filter covers checkpoint-less re-reads."""

        def handle(batch_df: DataFrame, batch_id: int):
            epoch = None
            for t in tables:
                wm = self.tables[t].watermark_lsn()
                events = self._route(batch_df, t).where(F.col("lsn") > F.lit(wm))
                stats = self._apply(t, events, "tail", self._key(kind, batch_id, t))
                if stats.get("applied"):
                    # driver-side scalar work only — the data plane
                    # never serializes on the lock
                    with self._lock:
                        if epoch is None:
                            epoch, self._epoch = self._epoch, self._epoch + 1
                        self._record("tail", t, epoch, stats)

        return handle

    def _start_stream(self, source, checkpoint: str, kind: str, tables: list[str]):
        return (
            source.wal_stream(self.cfg.max_files_per_trigger)
            .writeStream.foreachBatch(self._handler(kind, tables))
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    @staticmethod
    def _drain(queries, process_all_available: bool, timeout_sec: float | None):
        if process_all_available:
            for q in queries:
                q.awaitTermination(timeout_sec)
            for q in queries:
                if q.isActive:
                    q.stop()

    def stream(
        self,
        wal_stream_source: str | None = None,
        process_all_available: bool = True,
        timeout_sec: float | None = 120.0,
    ):
        """B2 — Structured Streaming tail over the SHARED change feed:
        one readStream over the log dir, each micro-batch routed per
        table inside foreachBatch under stream keys
        ``_key("stream", batch_id, table)``. ``wal_stream_source`` names
        which source's log to stream (they share one feed; default:
        first table)."""
        t0 = wal_stream_source or sorted(self.sources)[0]
        q = self._start_stream(
            self.sources[t0], self.cfg.checkpoint_dir, "stream", sorted(self.sources)
        )
        self._drain([q], process_all_available, timeout_sec)
        return q


class MultiTableIngestRunner(_PhaseCore):
    """Several source tables, ONE pipeline: one tracker claim, shared
    epoch, per-table commit keys; results are per table."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: PipelineConfig,
        sources: dict,  # table name -> source (snapshot/wal_batch/current_lsn)
        payload_schemas=None,  # table name -> StructType, or one for all
    ):
        if payload_schemas is None:
            payload_schemas = {t: TOKENS_SCHEMA for t in sources}
        elif not isinstance(payload_schemas, dict):
            payload_schemas = {t: payload_schemas for t in sources}
        tables = {
            t: empty_table_for(
                f"{cfg.warehouse}/{t}", payload_schemas[t], num_buckets=cfg.num_buckets
            )
            for t in sources
        }
        super().__init__(spark, cfg, sources, tables, "__multi__")

    def stream_per_table(
        self,
        process_all_available: bool = True,
        timeout_sec: float | None = 120.0,
        tables: list[str] | None = None,
    ) -> dict:
        """Tables with INDEPENDENT change logs stream concurrently
        (VERDICT r2 next-6): one readStream per table over that table's
        own feed, each with its own checkpoint subdirectory, all
        applying in parallel on the driver's streaming threads.

        Exactly-once per table is unchanged — batch ids are scoped to
        each query's checkpoint and the commit key
        ``pid:pstream:{batch_id}:{table}`` is scoped per table, so a
        replay after checkpoint loss hits that table's manifest key (or
        its watermark filter) exactly like the single-feed path. The
        ``pstream`` namespace is distinct from the shared-feed
        ``stream()``'s ``stream`` keys: the two modes run over
        INDEPENDENT checkpoints, so their batch ids both start at 0 — a
        shared format would make a fresh per-table batch collide with an
        old shared-feed commit and be silently skipped (data loss on
        mode switch).

        Returns {table: StreamingQuery}; with ``process_all_available``
        each query is drained (availableNow) before returning."""
        queries = {
            t: self._start_stream(
                self.sources[t], f"{self.cfg.checkpoint_dir}/{t}", "pstream", [t]
            )
            for t in sorted(tables or self.sources)
        }
        self._drain(list(queries.values()), process_all_available, timeout_sec)
        return queries


class PartialIngestRunner(_PhaseCore):
    """The one-table pipeline: commit keys ``pid:phase:epoch`` (no table
    suffix), no ``table_partition`` routing, flat result dicts."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: PipelineConfig,
        source: ParquetWalSource,
        payload_schema=TOKENS_SCHEMA,
        table=None,
    ):
        """``table`` swaps the sink: any object implementing the
        LakeTable contract (tests/test_sink_contract.py pins it) —
        e.g. plans.iceberg.IcebergTable on a real cluster. Default:
        a LakeTable under cfg.target_path."""
        if table is None:
            table = empty_table_for(
                cfg.target_path, payload_schema, num_buckets=cfg.num_buckets
            )
        t = cfg.target_table
        super().__init__(spark, cfg, {t: source}, {t: table}, t)

    # views of the one sources/tables entry; the source stays assignable
    # (e.g. swapped for one with a newer event schema)
    @property
    def source(self):
        return self.sources[self.cfg.target_table]

    @source.setter
    def source(self, source):
        self.sources[self.cfg.target_table] = source

    @property
    def table(self):
        return self.tables[self.cfg.target_table]

    def _key(self, kind: str, n, table: str) -> str:
        return f"{self.cfg.pipeline_id}:{kind}:{n}"

    def _route(self, events: DataFrame, table: str) -> DataFrame:
        return events

    def _shape(self, per_table: dict, **extra) -> dict:
        (stats,) = per_table.values()
        return {**stats, **extra}

    def stream(self, process_all_available: bool = True,
               timeout_sec: float | None = 120.0):
        """The one feed of the one table (no ``wal_stream_source``)."""
        return super().stream(None, process_all_available, timeout_sec)
