"""Pipeline configuration.

Spark analog of the reference's ``PartialSnapshotConfig.java:15-67``:
tracker table name, primary-key name, and the
``snapshot.partial.skip.existing.connector`` record-only flag — plus the
engine knobs the reference delegates to Debezium/Kafka (partitioning,
salting, checkpointing).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class PipelineConfig:
    # identity — reference server_name (multi-connector keying,
    # PartialSnapshotterTest.java:303-342)
    pipeline_id: str = "pipeline1"

    # storage roots
    warehouse: str = "/tmp/dps_warehouse"
    target_table: str = "tokens"
    tracker_table: str = "snapshot_tracker"  # configurable, reference
    # PartialSnapshotConfig.java:39-53 (default public.snapshot_tracker)

    # partitioning: unit of snapshot work is (table, bucket); data files
    # are laid out bucket(num_buckets, doc_id) so upserts touch only the
    # buckets with incoming keys (Iceberg-style bucketed copy-on-write).
    num_buckets: int = 32

    # reference snapshot.partial.skip.existing.connector
    # (PartialSnapshotConfig.java:55-63): when true and the tracker is
    # fresh / this pipeline unseen, register rows but snapshot nothing.
    skip_existing_connector: bool = False

    # fail-safe policy when the tracker is unreadable. Reference defaults
    # differ by path: JDBC error -> skip (PostgresJdbcFilterHandler:142-145),
    # threaded timeout -> snapshot (ThreadedSnapshotFilter.java:51-58).
    on_tracker_error: str = "skip"  # skip | snapshot | fail

    # skew: number of salt cells for the two-phase latest-event reduction
    # (0 = disabled; partial aggregation alone handles mild skew).
    salt_buckets: int = 0

    # write mode: 'cow' rewrites affected buckets per epoch (cheap
    # reads); 'mor' appends delta files with tombstones and resolves at
    # read time (low write amplification for sparse-touch epochs).
    write_mode: str = "cow"
    # in 'mor', fold deltas into the base once this many delta files
    # accumulate across the table
    mor_compact_threshold: int = 24

    # storage reclamation (round 5): when expire_keep_last > 0, the
    # runner expires superseded table versions every
    # expire_every_applies applied batches — the newest keep_last
    # manifests plus anything younger than expire_min_age_sec survive;
    # data files referenced only by expired versions are reclaimed
    # (LakeTable/IcebergTable.expire_versions). Without this, one CoW
    # commit per epoch strands ~a touched-table copy per epoch forever.
    # min_age is the in-flight-reader guard AND (Iceberg only) the
    # commit-key visibility horizon — keep it above the redelivery
    # window (plans/iceberg.py expire_versions docstring).
    expire_keep_last: int = 0  # 0 = disabled
    expire_min_age_sec: float = 3600.0
    expire_orphan_grace_sec: float = 3600.0
    expire_every_applies: int = 8

    # streaming
    checkpoint_dir: str = field(default="")
    max_files_per_trigger: int = 8

    # explicit tracker location — lets several pipelines share ONE tracker
    # table (reference: compound PK (table_name, server_name) on a single
    # tracker, README.md:68)
    tracker_path_override: str = ""

    # B7 — include/exclude regex over partition names, the analog of
    # Debezium's table.include.list / table.exclude.list (the reference
    # excludes its own tracker from the data plane: README.md:51,
    # TestPostgresConnectorConfig.java:46). Applied at discovery time,
    # BEFORE any scan is planned.
    partition_include: str = ""  # regex; empty = include all
    partition_exclude: str = ""  # regex; empty = exclude none

    def __post_init__(self) -> None:
        if not self.checkpoint_dir:
            self.checkpoint_dir = f"{self.warehouse}/_checkpoints/{self.pipeline_id}"

    @property
    def target_path(self) -> str:
        return f"{self.warehouse}/{self.target_table}"

    @property
    def tracker_path(self) -> str:
        return self.tracker_path_override or f"{self.warehouse}/{self.tracker_table}"

    @property
    def commit_log_path(self) -> str:
        return f"{self.warehouse}/_commit_log/{self.target_table}"

    @property
    def metrics_path(self) -> str:
        return f"{self.warehouse}/_metrics/{self.target_table}"
