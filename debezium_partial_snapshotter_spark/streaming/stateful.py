"""Custom stateful streaming operator: cross-batch latest-event filter.

``latest_events_stateful`` is the B4 snapshot/stream dedup
(winner per key by ``(lsn, op_rank)``) expressed as an ONLINE operator
with ``applyInPandasWithState`` — per-key state holds the highest
encoded order ever emitted, so duplicate or stale events redelivered in
LATER micro-batches are suppressed in-flight, before they reach the
sink apply. The foreachBatch path already makes redelivery idempotent
at the commit layer; this operator removes the wasted apply work when
the feed itself is redelivery-heavy (at-least-once brokers).

Spark-first notes (SURVEY.md §2.4 / build brief "custom stateful
operators"):
- state schema is ONE BIGINT per key (the encoded ``lsn*4 + op_rank``)
  — the state store stays tiny regardless of payload width;
- each micro-batch group reduces to its max-ord row in pandas (Arrow
  batches; no per-row Python calls into Spark), emits it only when it
  advances the key's state — output is at most one row per key per
  batch;
- the operator requires flat payload columns (Arrow-friendly); the CDC
  envelope's ``after`` struct should be flattened upstream.

This is deliberately the escape hatch: for bounded feeds the stateless
per-key max inside ``apply_batch`` (primitive max + hash join) is
cheaper — use this only when suppression must happen ACROSS
micro-batches, which no built-in stateless operator can express.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

OP_RANK_PD = {"r": 0, "c": 1, "u": 2, "d": 3}

STATE_SCHEMA = StructType([StructField("max_ord", LongType(), True)])


def latest_events_stateful(
    events: DataFrame,
    key: str = "doc_id",
    lsn_col: str = "lsn",
    op_col: str = "op",
    n_salt: int | None = None,
) -> DataFrame:
    """events: a STREAMING DataFrame with flat columns including
    ``key``, ``lsn_col``, ``op_col``. Returns a streaming DataFrame of
    the same flat schema: per key and micro-batch, the (lsn, op_rank)
    winner, emitted only when it advances the key's all-time state.

    ``n_salt`` (VERDICT r4 next-4, hot-key skew): unsalted, the state
    operator groups by ``key`` alone, so ONE hot key's micro-batch rows
    land in a single task regardless of cluster size — the same window-
    skew class the batch plans already chunk away. With ``n_salt`` set,
    state is keyed ``(key, salt)`` where ``salt = lsn % n_salt``: the
    hot key's rows spread over ``n_salt`` tasks, mirroring the batch B8
    salted two-phase aggregate. Guarantees preserved EXACTLY:

    - **in-flight suppression is unchanged** — a redelivered event
      carries the same lsn, lands on the same salt, and is suppressed
      by that salt's state;
    - **at most n_salt rows per key per batch** reach the sink (one
      per salt that advanced), instead of exactly one. The cross-salt
      final merge is the sink apply's existing per-key (lsn, op_rank)
      winner resolution (operators/upsert.py ``apply_batch``, B4) — the
      same place the batch salted aggregate puts its second phase — so
      the APPLIED state is identical to the unsalted path's (pinned by
      tests/test_stateful.py::test_stateful_salted_equivalence_hot_key).
      A salt-local winner can be stale relative to the key's global
      max; it loses at the merge, never in the table.

    State stays 8 bytes per (key, salt): total state = n_salt x keys,
    still payload-width-free. STATE LIFETIME: entries live for the
    query's lifetime (NoTimeout) — at 10^10 keys that is ~80 GB of
    state store, so bound it by ACTIVE keys in production with
    :func:`streaming.tws.latest_events_tws` (round 6): the same filter
    on ``transformWithStateInPandas`` with store-level TTL, runtime-
    gated here only by the missing ``google.protobuf`` wire dependency
    (see tws.py's module docstring). A GroupStateTimeout-based TTL was built and
    REJECTED in round 5: ``ProcessingTimeTimeout`` makes the
    availableNow MultiBatchExecutor spin timeout-check batches
    endlessly and deadlocks ``processAllAvailable`` (py4j callback
    eventually dies) on this Spark version — the eviction belongs in
    the state store, not the timeout channel. Evicting a key re-opens
    its suppression window (a later stale redelivery re-emits), which
    stays harmless downstream: the sink apply's (_lsn, _op_rank) merge
    and commit keys make re-applies idempotent at the lake."""
    out_schema = events.schema
    cols = list(out_schema.fieldNames())

    def fn(
        key_tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        prev = state.get[0] if state.exists else -1
        best_ord = -1
        best_row = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            ords = pdf[lsn_col].astype("int64") * 4 + pdf[op_col].map(
                OP_RANK_PD
            ).fillna(1).astype("int64")
            i = ords.idxmax()
            if int(ords.loc[i]) > best_ord:
                best_ord = int(ords.loc[i])
                best_row = pdf.loc[[i]]
        if best_row is not None and best_ord > prev:
            state.update((best_ord,))
            yield best_row[cols]  # drop the salt column if present

    if n_salt is None:
        grouped = events.groupBy(key)
    else:
        if int(n_salt) < 1:
            raise ValueError(f"n_salt must be >= 1, got {n_salt}")
        if "_salt" in cols:
            # the salt column is synthesized here and silently dropped
            # on emit (best_row[cols]); a user column of the same name
            # would be OVERWRITTEN by the synthetic value and grouped
            # on, corrupting the user's data undetected (ADVICE r5)
            raise ValueError(
                "input already has a `_salt` column; rename it before "
                "using latest_events_stateful(n_salt=...)"
            )
        salted = events.withColumn(
            "_salt", F.pmod(F.col(lsn_col), F.lit(int(n_salt))).cast("int")
        )
        grouped = salted.groupBy(key, "_salt")
    return grouped.applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
