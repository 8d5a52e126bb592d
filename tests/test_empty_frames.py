"""Empty frames are free: every empty side the engine builds plans as an
empty ``LocalTableScan``, which Spark folds out of unions and joins and
which runs no task. A frame from ``createDataFrame([])`` (or an empty
pandas frame) is a Python RDD (``Scan ExistingRDD``) that Spark cannot
see is empty: every plan branch over it runs one Python-worker task per
core."""

import ast
import contextlib
import io
import os
import pathlib

import pytest

import debezium_partial_snapshotter_spark as pkg
from debezium_partial_snapshotter_spark.config import PipelineConfig
from debezium_partial_snapshotter_spark.operators.upsert import (
    empty_table_for,
    with_system,
)
from debezium_partial_snapshotter_spark.plans.changefeed import ChangefeedReader
from debezium_partial_snapshotter_spark.plans.metrics import (
    METRICS_ARROW,
    AppendLog,
)
from debezium_partial_snapshotter_spark.schemas import (
    CHANGE_EVENT_SCHEMA,
    TOKENS_SCHEMA,
)
from debezium_partial_snapshotter_spark.session import empty_frame
from debezium_partial_snapshotter_spark.sources.debezium import DebeziumJsonSource
from debezium_partial_snapshotter_spark.sources.eventlog import (
    EventLogSpec,
    generate_initial_state,
)
from debezium_partial_snapshotter_spark.sources.readers import ParquetWalSource
from debezium_partial_snapshotter_spark.streaming.runner import PartialIngestRunner
from tests.test_tracker import write_state

NB = 4


def _physical_plan(df) -> str:
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        df.explain()
    return out.getvalue()


def assert_local_empty(df):
    plan = _physical_plan(df)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan
    assert df.count() == 0


@pytest.mark.parametrize(
    "schema",
    [with_system(TOKENS_SCHEMA), CHANGE_EVENT_SCHEMA],
    ids=["tokens_with_system", "change_event"],
)
def test_empty_frame_keeps_schema_and_plans_local(spark, schema):
    df = empty_frame(spark, schema)
    assert df.schema == schema
    assert_local_empty(df)


def test_every_engine_empty_plans_local(spark, tmp_warehouse):
    table = empty_table_for(
        os.path.join(tmp_warehouse, "tokens"), TOKENS_SCHEMA, num_buckets=NB
    )
    v = table.current_version()
    assert_local_empty(table.read(spark))
    assert_local_empty(table.read(spark, buckets=[]))
    assert_local_empty(table.read_changes(spark, v, v))

    reader = ChangefeedReader(table, os.path.join(tmp_warehouse, "cursor"))
    reader.start(from_version=v)
    assert_local_empty(reader.poll(spark).df)

    log_dir = os.path.join(tmp_warehouse, "wal")
    os.makedirs(log_dir)
    assert_local_empty(
        ParquetWalSource(spark, None, log_dir, num_buckets=NB).wal_batch()
    )
    deb = DebeziumJsonSource(spark, None, log_dir, num_buckets=NB)
    batch = deb.wal_batch()
    one_line = spark.createDataFrame([("x",)], "value string")
    assert batch.schema == deb._decode(one_line).schema
    assert_local_empty(batch)

    metrics = AppendLog(os.path.join(tmp_warehouse, "metrics"), METRICS_ARROW)
    assert_local_empty(metrics.to_spark(spark))


def test_first_snapshot_into_fresh_table_keeps_observation(
    spark, tmp_warehouse
):
    """The first snapshot merges into a table with no files, so the
    current side of the merge folds away. The tie-validation Observation
    must still be read (no recount job) and the stats must be exact."""
    spec = EventLogSpec(n_docs=60, n_events=10, n_segments=1, seed=5, num_buckets=NB)
    state_path = os.path.join(tmp_warehouse, "source", "state.parquet")
    write_state(state_path, generate_initial_state(spec))
    log_dir = os.path.join(tmp_warehouse, "source", "wal")
    os.makedirs(log_dir)
    cfg = PipelineConfig(
        pipeline_id="p1",
        warehouse=os.path.join(tmp_warehouse, "wh"),
        num_buckets=NB,
    )
    src = ParquetWalSource(spark, state_path, log_dir, num_buckets=NB)
    runner = PartialIngestRunner(spark, cfg, src)
    out = runner.snapshot_epoch()
    assert out["applied"]
    assert out["observation_recount"] is False
    assert out["rows_live"] == spec.n_docs
    assert out["schema_evolved"] is False


def _creates_from_empty_list(call: ast.Call) -> bool:
    if not (
        isinstance(call.func, ast.Attribute)
        and call.func.attr == "createDataFrame"
    ):
        return False
    args = list(call.args[:1]) + [k.value for k in call.keywords if k.arg == "data"]
    return any(isinstance(a, ast.List) and not a.elts for a in args)


def test_engine_never_creates_frames_from_empty_list():
    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        offenders += [
            f"{path.relative_to(root)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call) and _creates_from_empty_list(node)
        ]
    assert not offenders, (
        "createDataFrame([]) plans as a Python RDD that runs one task "
        f"per core; use session.empty_frame: {offenders}"
    )


def _reads_environment(node: ast.AST) -> bool:
    if isinstance(node, ast.Attribute):
        return (
            isinstance(node.value, ast.Name)
            and node.value.id == "os"
            and node.attr in ("environ", "getenv")
        )
    if isinstance(node, ast.ImportFrom):
        return node.module == "os" and any(
            a.name in ("environ", "getenv") for a in node.names
        )
    return False


def test_engine_reads_environment_only_in_session():
    """session.py holds the deployment settings; an engine knob is a
    parameter or a config field, never an environment variable."""
    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "session.py":
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        offenders += [
            f"{path.relative_to(root)}:{node.lineno}"
            for node in ast.walk(tree)
            if _reads_environment(node)
        ]
    assert not offenders, f"environment reads outside session.py: {offenders}"
