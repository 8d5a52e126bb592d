"""B5 — MERGE-style upsert apply into the bucketed lake table.

Semantically ``MERGE INTO target ON t.doc_id = s.doc_id
WHEN MATCHED AND s.op='d' THEN DELETE / WHEN MATCHED THEN UPDATE /
WHEN NOT MATCHED AND s.op!='d' THEN INSERT`` — executed as bucketed
copy-on-write:

1. in-batch dedup to one winner per key (B4), folded into the merge's
   per-key max (step 3);
2. bucket pruning: only buckets containing incoming keys are read —
   the single most important scale property (an epoch touching 0.1% of
   keys reads/writes ~0.1% of a 100 TB table, never the table);
3. stored rows carry ``(_lsn, _op_rank)``, so merge = one more
   ``max_by`` over (current ∪ batch) — a stored snapshot read at
   watermark W still loses to a late-arriving WAL event with lsn >= W,
   preserving reference conflict-resolution semantics across epochs;
4. one atomic manifest swap commits data + schema evolution + the
   exactly-once commit key together.

The apply shuffles each affected bucket's rows exactly once (the merge
``max_by``) plus the batch dedup — no window over the whole table, no
driver-side row loops.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from debezium_partial_snapshotter_spark.functions import bucket_id, op_rank, salt
from debezium_partial_snapshotter_spark.operators.schema_evolution import (
    conform,
    merge_schemas,
    schemas_equal,
)
from debezium_partial_snapshotter_spark.plans.lake import CommitConflict, LakeTable

SYSTEM_FIELDS = [
    StructField("_lsn", LongType(), False),
    StructField("_op_rank", IntegerType(), False),
]
SYSTEM_NAMES = {f.name for f in SYSTEM_FIELDS}


def user_schema(table_schema: StructType) -> StructType:
    return StructType([f for f in table_schema.fields if f.name not in SYSTEM_NAMES])


def with_system(schema: StructType) -> StructType:
    return StructType(list(schema.fields) + SYSTEM_FIELDS)


def empty_table_for(path: str, payload_schema: StructType, num_buckets: int) -> LakeTable:
    return LakeTable.create(
        path, with_system(payload_schema), num_buckets=num_buckets
    )


def apply_batch(
    table: LakeTable,
    events: DataFrame,
    commit_key: str | None = None,
    salt_buckets: int = 0,
    write_mode: str = "cow",
    tie_guard: bool = False,
    watermark_kind: str = "wal",
    _merge_retries: int = 3,
) -> dict:
    """Apply one micro-batch / epoch of change events. Idempotent under
    re-delivery of the same commit_key (returns ``applied=False``).

    write_mode:
      - 'cow' (default): resolve against current bucket content and
        rewrite affected buckets — reads stay cheap.
      - 'mor': write ONLY the batch winners (incl. delete tombstones)
        as delta files; readers resolve, ``LakeTable.compact`` folds.
        Cuts write amplification for epochs touching a small fraction
        of each bucket — at a 100 TB table this is the difference
        between rewriting ~1 TB and writing ~1 GB per epoch.

    watermark_kind:
      - 'wal' (default): the batch is replayed WAL — advance the
        manifest's global watermark_lsn (the tail/catchup filter).
      - 'snapshot': the batch is a snapshot scan — advance ONLY
        snapshot_lsn. A partial snapshot claiming some partitions must
        NOT advance the WAL filter, or log events not yet applied for
        UNclaimed partitions would be skipped forever (silent loss);
        the (lsn, op_rank) max-merge keeps re-applying the overlapping
        WAL events idempotent.

    The returned stats carry ``observation_recount``: True when commit
    validation had to recount because the Observation metrics were
    unavailable (should stay False outside the AQE-folded-empty-write
    edge case; True on the hot path means epochs are paying a full
    re-merge).
    """
    t0 = time.time()
    spark = events.sparkSession
    if commit_key is not None and commit_key in table.committed_keys():
        return {"applied": False, "reason": "duplicate_commit_key"}

    # Effective bucket assignment + the layout token it was planned
    # under, from ONE metadata read (bucket_plan): during an ONLINE
    # incremental rescale the two differ from plain md5 % nb, and a
    # split landing between here and the commit turns the commit into
    # CommitConflict (re-bucket + re-merge) instead of silently
    # misplacing rows. Reading them separately would reintroduce the
    # race the token guards against (stale expression + fresh token).
    if hasattr(table, "bucket_plan"):
        nb, bexpr, layout = table.bucket_plan(F.col("doc_id"))
    else:
        nb = table.num_buckets
        bexpr = bucket_id(F.col("doc_id"), nb)
        layout = None

    # ---- 1. plan: per-bucket row counts + LSN ranges. A cheap scan —
    # column-pruned to (doc_id, lsn), partial-aggregated to <= nb rows
    # per map task. Feeds bucket pruning AND per-partition lineage.
    per_bucket = (
        events.groupBy(bexpr.alias("_b"))
        .agg(F.count(F.lit(1)).alias("n"), F.max("lsn").alias("mx"))
        .collect()
    )
    if not per_bucket:
        return {"applied": False, "reason": "empty_batch"}
    affected = sorted(int(r["_b"]) for r in per_bucket)
    batch_watermark = max(int(r["mx"]) for r in per_bucket)
    bucket_rows = {int(r["_b"]): int(r["n"]) for r in per_bucket}
    n_events = sum(bucket_rows.values())

    # ---- 2. schema evolution (add-column / type-widen), driver-side
    payload_schema: StructType = events.schema["after"].dataType
    cur_user = user_schema(table.schema())
    merged = merge_schemas(cur_user, payload_schema)
    evolved = not schemas_equal(merged, cur_user)

    # ---- 3+4. dedup and merge COLLAPSE into one max_by: max over
    # (current ∪ raw batch) == max(current, max(batch)) — associativity
    # makes the separate in-batch dedup pass (B4) and the MERGE conflict
    # resolution one single shuffle. Partial aggregation compacts every
    # key map-side, so a hot key ships O(map tasks) rows, not its event
    # count.
    batch_cand = events.select(
        F.col("doc_id").alias("__key"),
        F.col("lsn").alias("_lsn"),
        op_rank(F.col("op")).alias("_op_rank"),
        (F.col("op") == "d").alias("_is_delete"),
        F.col("after.*"),
    )
    # after.doc_id is null for deletes; the envelope key is canonical
    batch_cand = batch_cand.drop("doc_id").withColumnRenamed("__key", "doc_id")
    batch_cand = conform(batch_cand, with_candidates_schema(merged))

    read_version = None
    if write_mode == "mor":
        # MoR: resolve within the batch only; global resolution happens
        # at read time (the reader's max covers any epoch ordering)
        cur_cand = None
    else:
        # Pin the version the merge is computed FROM — the commit below
        # passes it as read_version so a concurrent commit into the same
        # buckets raises CommitConflict (re-read + re-merge) instead of
        # being silently overwritten by stale content.
        read_version = table.current_version()
        current = table.read(spark, buckets=affected, version=read_version)
        cur_cand = conform(
            current.withColumn("_is_delete", F.lit(False)),
            with_candidates_schema(merged),
        )

    # The conflict order (lsn, op_rank) is encoded as ONE BIGINT
    # (lsn*4 + rank, rank < 4): a primitive max per key compiles to
    # whole-stage-codegen HashAggregate with map-side combine. A
    # struct-ordered max_by would force SortAggregate — full sorts of
    # wide token-array rows on both shuffle sides, which measured 3-5x
    # slower AND anti-scaled with cores (memory-bandwidth bound).
    all_cand = (
        batch_cand if cur_cand is None else cur_cand.unionByName(batch_cand)
    ).withColumn("_ord", F.col("_lsn") * 4 + F.col("_op_rank"))
    if salt_buckets and salt_buckets > 1:
        # two-phase salted max for pathological hot keys (primitive agg
        # already combines map-side; this additionally bounds
        # reduce-side rows per key to salt_buckets)
        maxes = (
            all_cand.withColumn("_salt", salt(F.col("_lsn"), salt_buckets))
            .groupBy("doc_id", "_salt")
            .agg(F.max("_ord").alias("_mx"))
            .groupBy("doc_id")
            .agg(F.max("_mx").alias("_mx"))
        )
    else:
        maxes = all_cand.groupBy("doc_id").agg(F.max("_ord").alias("_mx"))
    # join the winning (key, ord) back to its full row. maxes is narrow
    # (two longs per key) — AQE upgrades this to a broadcast join when it
    # fits; the SHUFFLE_HASH hint pins the fallback to ShuffledHashJoin
    # (without it the static planner picks SortMergeJoin, which sorts the
    # wide token-array side — the exact plan this formulation avoids).
    obs_keys = Observation()
    maxes = maxes.observe(obs_keys, F.count(F.lit(1)).alias("n_keys"))
    winners = all_cand.join(maxes.hint("SHUFFLE_HASH"), "doc_id").where(
        F.col("_ord") == F.col("_mx")
    )
    if tie_guard:
        # a duplicate-delivered event ties with itself (same key, same
        # lsn, same rank, identical content) — keep exactly one copy.
        # dropDuplicates compiles to SortAggregate over the full winner
        # set (~45% of epoch cost at 32 cores), so the default hot path
        # skips it and instead VALIDATES tie-freeness pre-commit (below),
        # retrying with the guard on only when a tie actually occurred.
        winners = winners.dropDuplicates(["doc_id"])
    obs_pre = Observation()
    winners = winners.drop("_ord", "_mx").observe(
        obs_pre, F.count(F.lit(1)).alias("n_rows")
    )

    obs = Observation()

    def _obs_get(o):
        """Observation metrics can be unavailable when AQE folds the
        observed subtree away (seen on Spark 4.1 when a delete-only
        batch empties its buckets: the write plan propagates an empty
        relation and Observation.get dies in toPyRow). Return None and
        let callers fall back to an explicit recount."""
        try:
            return o.get
        except Exception:
            return None

    validate = None
    recounted = False
    if not tie_guard:
        # winner rows observed during the write must equal the distinct
        # key count; checked AFTER the data files land but BEFORE the
        # manifest swap — a detected tie abandons the commit dir.
        def validate():
            nonlocal recounted
            pre, keys = _obs_get(obs_pre), _obs_get(obs_keys)
            if pre is not None and keys is not None:
                return pre["n_rows"] == keys["n_keys"]
            # metrics lost to plan folding: recount explicitly (one
            # extra job, edge case only — never the hot path)
            recounted = True
            return winners.count() == maxes.count()

    # ---- 5. atomic commit (data + schema + commit key + watermark)
    wm_kwargs = (
        {"watermark_lsn": batch_watermark}
        if watermark_kind == "wal"
        else {"snapshot_lsn": batch_watermark}
    )
    if write_mode == "mor":
        # keep tombstones: a delta delete must shadow older base rows
        new_content, write, cow_kwargs = winners, table.append_deltas, {}
    else:
        new_content = winners.where(~F.col("_is_delete")).drop("_is_delete")
        write = table.replace_buckets
        cow_kwargs = {"read_version": read_version}
    try:
        applied = write(
            new_content.withColumn("_bucket", bexpr).observe(
                obs, F.count(F.lit(1)).alias("rows_live")
            ),
            affected_buckets=affected,
            commit_key=commit_key,
            new_schema=with_system(merged) if evolved else None,
            validate=validate,
            expected_num_buckets=nb,
            expected_layout=layout,
            # snapshot keys are pinned: their events escape the
            # lsn > watermark replay filter, so only the key blocks
            # a very late redelivery (see lake.MAX_COMMIT_KEYS)
            pin_key=watermark_kind == "snapshot",
            **cow_kwargs,
            **wm_kwargs,
        )
    except CommitConflict:
        # CoW: a concurrent writer committed into our buckets after we
        # read them; either mode: a concurrent rescale bucketed this
        # batch under a stale num_buckets. The merge is stale —
        # re-read and re-merge under the new layout.
        if _merge_retries <= 0:
            raise
        applied = "conflict"

    if applied in ("conflict", "invalid"):
        # "invalid" is a genuine duplicate-delivery tie: redo with the
        # guard on
        stats = apply_batch(
            table,
            events,
            commit_key=commit_key,
            salt_buckets=salt_buckets,
            write_mode=write_mode,
            tie_guard=tie_guard or applied == "invalid",
            watermark_kind=watermark_kind,
            _merge_retries=_merge_retries - (applied == "conflict"),
        )
        stats["observation_recount"] = recounted or stats.get(
            "observation_recount", False
        )
        return stats
    wall = time.time() - t0
    live = _obs_get(obs) if applied else None
    return {
        "applied": applied,
        "affected_buckets": affected,
        "bucket_rows": bucket_rows,
        "batch_keys": n_events,
        "watermark_lsn": batch_watermark,
        "schema_evolved": evolved,
        "rows_live": live.get("rows_live") if live is not None else None,
        "observation_recount": recounted,
        "wall_ms": int(wall * 1000),
    }


def with_candidates_schema(user: StructType) -> StructType:
    return StructType(
        list(user.fields)
        + SYSTEM_FIELDS
        + [StructField("_is_delete", BooleanType(), False)]
    )
