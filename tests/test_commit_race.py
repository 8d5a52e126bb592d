"""A LakeTable commit that loses the manifest race to a disjoint commit
re-reads the head and commits on top of it: both changes land, the head
advances by two, and a data commit does not rewrite its files."""

import os

import pytest

from debezium_partial_snapshotter_spark.functions import bucket_id_py
from debezium_partial_snapshotter_spark.operators.upsert import (
    apply_batch,
    empty_table_for,
)
from debezium_partial_snapshotter_spark.plans.lake import LakeTable
from debezium_partial_snapshotter_spark.schemas import TOKENS_SCHEMA
from tests.test_rescale import _events

NB = 4


def _keys_in(bucket: int, n: int) -> list[str]:
    keys = (f"k{i}" for i in range(10_000))
    return [d for d in keys if bucket_id_py(d, NB) == bucket][:n]


@pytest.mark.parametrize(
    "op", ["replace_buckets", "append_deltas", "begin_rescale", "expire_versions"]
)
def test_lost_manifest_race_commits_on_fresh_head(spark, tmp_warehouse, op):
    path = os.path.join(tmp_warehouse, "race")
    t = empty_table_for(path, TOKENS_SCHEMA, NB)
    base = _keys_in(0, 3)
    for i in range(3):  # history for expire_versions to reclaim
        rows = [("u", d, 10 * i + j) for j, d in enumerate(base)]
        assert apply_batch(t, _events(spark, rows), commit_key=f"p:{i}")["applied"]
    v0 = t.current_version()

    # a second handle commits into bucket 1 exactly once, between this
    # handle's manifest read and its manifest write
    other = LakeTable(path)
    theirs = _keys_in(1, 2)
    write_manifest = t._write_manifest
    raced = []

    def race(man):
        if not raced:
            raced.append(man["version"])
            rows = [("u", d, 500) for d in theirs]
            assert apply_batch(other, _events(spark, rows), commit_key="theirs")[
                "applied"
            ]
        return write_manifest(man)

    write_partitioned = t._write_partitioned
    writes = []

    def count_writes(*a, **kw):
        writes.append(a)
        return write_partitioned(*a, **kw)

    t._write_manifest = race
    t._write_partitioned = count_writes
    mine = _keys_in(0, 2)
    if op in ("replace_buckets", "append_deltas"):
        rows = [("u", d, 900) for d in mine]
        mode = "cow" if op == "replace_buckets" else "mor"
        stats = apply_batch(t, _events(spark, rows), commit_key="mine", write_mode=mode)
        assert stats["applied"] is True
    elif op == "begin_rescale":
        assert t.begin_rescale(2 * NB)["applied"] is True
    else:
        assert t.expire_versions(keep_last=1)["applied"] is True
    del t._write_manifest, t._write_partitioned

    head = t.manifest()
    assert raced == [v0 + 1]
    assert head["version"] == v0 + 2
    assert "theirs" in head["commit_keys"] and "1" in head["buckets"]
    want = {d: 20 + j for j, d in enumerate(base)}
    want.update({d: 500 for d in theirs})
    if op in ("replace_buckets", "append_deltas"):
        assert "mine" in head["commit_keys"]
        assert "0" in head["buckets" if op == "replace_buckets" else "deltas"]
        # the lost race re-committed the written files, no re-merge
        assert len(writes) == 1
        want.update({d: 900 for d in mine})
    elif op == "begin_rescale":
        assert head["rescale"] == {"to": 2 * NB, "done": []}
    else:
        assert head["min_version"] == v0 + 1
        assert t._versions() == [v0 + 1, v0 + 2]
    got = {r["doc_id"]: r["_lsn"] for r in t.read(spark).collect()}
    assert got == want
