"""M1 — end-to-end batch replay vs the sequential oracle.

Mirrors the reference's golden-record verification style
(``PartialSnapshotterTest.java:410-442``): replay a deterministic event
log, then compare the final materialized table — sorted by doc_id, token
arrays byte-equal — to the one-row-at-a-time oracle.
"""

import os

import numpy as np
import pyarrow.parquet as pq

from debezium_partial_snapshotter_spark.operators.upsert import (
    apply_batch,
    empty_table_for,
    user_schema,
)
from debezium_partial_snapshotter_spark.schemas import TOKENS_SCHEMA
from debezium_partial_snapshotter_spark.sources.eventlog import (
    EventLogSpec,
    generate_change_log,
    generate_initial_state,
    oracle_apply,
    snapshot_read_events,
)


def assert_state_matches(spark, table, expected: dict, check_extra_cols=()):
    """Byte-equal comparison of the materialized table vs the oracle."""
    actual = {
        r["doc_id"]: r
        for r in table.read(spark).toPandas().to_dict("records")
    }
    assert set(actual) == set(expected), (
        f"key sets differ: extra={set(actual)-set(expected)} "
        f"missing={set(expected)-set(actual)}"
    )
    for k, exp in expected.items():
        act = actual[k]
        exp_tok = np.asarray(exp["tokens"], dtype=np.int32)
        act_tok = np.asarray(act["tokens"], dtype=np.int32)
        assert act_tok.dtype == np.int32
        assert np.array_equal(exp_tok, act_tok), f"tokens differ for {k}"
        assert int(act["n_tok"]) == int(exp["n_tok"]), k
        assert act["source"] == exp["source"], k
        for c in check_extra_cols:
            assert act.get(c) == exp.get(c), (k, c)


def read_log(spark, tables):
    import pyarrow as pa

    combined = pa.concat_tables(tables)
    return spark.createDataFrame(combined.to_pandas(), schema=None)


def load_events(spark, log_dir):
    from debezium_partial_snapshotter_spark.schemas import CHANGE_EVENT_SCHEMA

    return spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(log_dir)


def test_snapshot_then_wal_replay(spark, tmp_warehouse):
    spec = EventLogSpec(n_docs=300, n_events=2000, n_segments=3, seed=42)
    state = generate_initial_state(spec)

    # snapshot reads at watermark W, then the WAL tail after W
    watermark = spec.start_lsn
    snap = snapshot_read_events(state, watermark, spec)
    wal_dir = os.path.join(tmp_warehouse, "log")
    wal = generate_change_log(spec, out_dir=wal_dir)

    table = empty_table_for(
        os.path.join(tmp_warehouse, "tokens"), TOKENS_SCHEMA, num_buckets=8
    )

    # epoch 0: snapshot; epochs 1..n: one per WAL segment
    snap_path = os.path.join(tmp_warehouse, "snap")
    os.makedirs(snap_path)
    pq.write_table(snap, os.path.join(snap_path, "snap.parquet"))
    stats = apply_batch(table, load_events(spark, snap_path), commit_key="p1:0")
    assert stats["applied"]
    for i in range(spec.n_segments):
        df = load_events(
            spark, os.path.join(wal_dir, f"seg-{i:05d}.parquet")
        )
        stats = apply_batch(table, df, commit_key=f"p1:{i+1}")
        assert stats["applied"]
        # the Observation metrics were read, no recount job was paid
        assert stats["observation_recount"] is False

    expected = oracle_apply([snap] + wal)
    assert_state_matches(spark, table, expected)


def test_concurrent_snapshot_wal_conflict(spark, tmp_warehouse):
    """Snapshot reads and overlapping WAL events arrive in ONE batch,
    out of order — the engine must rank 'r' below any WAL event at
    lsn >= watermark (reference B4)."""
    spec = EventLogSpec(n_docs=200, n_events=1500, n_segments=1, seed=7)
    state = generate_initial_state(spec)
    watermark = spec.start_lsn
    snap = snapshot_read_events(state, watermark, spec)
    wal = generate_change_log(spec, out_dir=None)

    import pyarrow as pa

    mixed = pa.concat_tables([wal[0], snap])  # WAL first = worst ordering
    d = os.path.join(tmp_warehouse, "mixed")
    os.makedirs(d)
    pq.write_table(mixed, os.path.join(d, "m.parquet"))

    table = empty_table_for(
        os.path.join(tmp_warehouse, "tokens"), TOKENS_SCHEMA, num_buckets=8
    )
    apply_batch(table, load_events(spark, d), commit_key="p1:0")

    expected = oracle_apply([snap] + wal)
    assert_state_matches(spark, table, expected)


def test_idempotent_redelivery(spark, tmp_warehouse):
    """The same epoch delivered twice must be a no-op the second time
    (exactly-once under at-least-once delivery, FIXTURES.md §4)."""
    spec = EventLogSpec(n_docs=100, n_events=500, n_segments=1, seed=11)
    wal = generate_change_log(spec, out_dir=None)
    d = os.path.join(tmp_warehouse, "log")
    os.makedirs(d)
    pq.write_table(wal[0], os.path.join(d, "w.parquet"))

    table = empty_table_for(
        os.path.join(tmp_warehouse, "tokens"), TOKENS_SCHEMA, num_buckets=4
    )
    df = load_events(spark, d)
    s1 = apply_batch(table, df, commit_key="p1:0")
    v_after_first = table.current_version()
    s2 = apply_batch(table, df, commit_key="p1:0")
    assert s1["applied"] and not s2["applied"]
    assert table.current_version() == v_after_first

    expected = oracle_apply(wal)
    assert_state_matches(spark, table, expected)


def test_hot_key_apply_matches_oracle(spark, tmp_warehouse):
    """The one latest-event reduction — apply_batch's per-key max — on a
    hot-keyed log, plain and salted, in both write modes."""
    spec = EventLogSpec(n_docs=50, n_events=800, n_segments=1, seed=3,
                        hot_frac=0.1, hot_weight=200.0)
    wal = generate_change_log(spec, out_dir=None)
    d = os.path.join(tmp_warehouse, "log")
    os.makedirs(d)
    pq.write_table(wal[0], os.path.join(d, "w.parquet"))
    df = load_events(spark, d)
    expected = oracle_apply(wal)

    for salt_buckets in (0, 8):
        for mode in ("cow", "mor"):
            table = empty_table_for(
                os.path.join(tmp_warehouse, f"tokens_{salt_buckets}_{mode}"),
                TOKENS_SCHEMA,
                num_buckets=4,
            )
            stats = apply_batch(
                table, df, commit_key="p1:0", salt_buckets=salt_buckets,
                write_mode=mode,
            )
            assert stats["applied"], (salt_buckets, mode)
            assert_state_matches(spark, table, expected)
