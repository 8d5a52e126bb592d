"""Spans around the engine's public calls, timed from outside the engine.

A traced run wraps each public entry point of every layer (runner,
upsert, lake, tracker, metrics log, changefeed, readers, dedup/graph,
session) in a span: name, start, end, parent and run id, kept in memory
and written out when the run ends. Spans that can launch Spark jobs
also label them: the span's id becomes the Spark job group, so the job
and stage metrics of the live UI's REST API (tasks, shuffle bytes,
executor run time, GC) can be joined back to the span that caused them.

Nothing in the engine changes: the wrappers are installed on the
classes and modules at run time and removed afterwards. Untraced runs
never install them, so their end-to-end numbers carry no tracing cost.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
import urllib.request
from collections import defaultdict


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "labelled", "attrs")

    def __init__(self, sid, name, start, parent, labelled):
        self.sid = sid
        self.name = name
        self.start = start
        self.end = None
        self.parent = parent
        self.labelled = labelled
        self.attrs = {}

    def as_dict(self, run_id):
        return {
            "run": run_id,
            "id": self.sid,
            "name": self.name,
            "start": self.start,
            "end": self.end,
            "parent": self.parent,
            **self.attrs,
        }


class _NullSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


class Tracer:
    """Span recorder. Disabled tracers hand out a shared no-op span."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.sc = None  # SparkContext used for job labels

    # ------------------------------------------------------------ spans
    def span(self, name: str, label: bool = True):
        if not self.enabled:
            return _NullSpan()
        return _SpanCtx(self, name, label)

    def _open(self, name, label):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, 0.0, parent.sid if parent else None, label)
        self.spans.append(sp)
        self._stack.append(sp)
        if label and self.sc is not None:
            self.sc.setJobGroup(f"{self.run_id}:{sp.sid}", name)
        sp.start = time.perf_counter()
        return sp

    def _close(self, sp):
        sp.end = time.perf_counter()
        self._stack.pop()
        if sp.labelled and self.sc is not None:
            outer = next((s for s in reversed(self._stack) if s.labelled), None)
            if outer is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(f"{self.run_id}:{outer.sid}", outer.name)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(sp.as_dict(self.run_id)) + "\n")

    # -------------------------------------------------------- patching
    def wrap(self, owner, attr: str, name: str, label: bool = True, on_result=None):
        """Replace the function or method ``owner.attr`` by a
        span-recording wrapper; ``on_result(span, args, out)`` may add
        attributes from the call's result."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, label) as sp:
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(sp, args, out)
            return out

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, wrapper)
        return wrapper

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def install(self) -> None:
        """Wrap the public entry points of every engine layer."""
        from debezium_partial_snapshotter_spark import session
        from debezium_partial_snapshotter_spark.operators import dedup_docs, graph, upsert
        from debezium_partial_snapshotter_spark.plans import changefeed, lake, metrics, tracker
        from debezium_partial_snapshotter_spark.sources import readers
        from debezium_partial_snapshotter_spark.streaming import runner

        R = runner.PartialIngestRunner
        self.wrap(R, "tail_batch", "runner.tail_batch")
        self.wrap(R, "snapshot_epoch", "runner.snapshot_epoch")

        # apply_batch re-enters itself by its module-global name on a
        # conflict or tie retry, so that name and the runner's imported
        # alias must point at ONE wrapper: calls_per_epoch counts retries
        w = self.wrap(upsert, "apply_batch", "upsert.apply_batch")
        self._patches.append((runner, "apply_batch", runner.apply_batch))
        runner.apply_batch = w

        L = lake.LakeTable
        self.wrap(L, "replace_buckets", "lake.replace_buckets")
        self.wrap(L, "append_deltas", "lake.append_deltas")
        self.wrap(L, "compact", "lake.compact")
        self.wrap(L, "expire_versions", "lake.expire_versions")
        # the fused merge + parquet write job every commit path runs;
        # its file lists give files and bytes per commit
        self.wrap(L, "_write_partitioned", "lake.write", on_result=_record_write)
        for m in ("manifest", "current_version", "committed_keys", "watermark_lsn",
                  "snapshot_lsn", "bucket_plan", "delta_stats", "schema", "read"):
            self.wrap(L, m, f"lake.meta.{m}", label=False)

        T = tracker.SnapshotTracker
        for m in ("claim", "release", "state", "set_needs"):
            self.wrap(T, m, f"tracker.{m}", label=False)
        self.wrap(metrics.AppendLog, "append", "metrics.append", label=False)

        self.wrap(changefeed.ChangefeedMirror, "sync", "changefeed.sync",
                  on_result=_record_sync)
        self.wrap(changefeed.ChangefeedReader, "poll", "changefeed.poll")
        self.wrap(changefeed, "apply_feed", "changefeed.apply_feed")

        S = readers.ParquetWalSource
        self.wrap(S, "current_lsn", "readers.current_lsn")
        self.wrap(S, "snapshot", "readers.plan")
        self.wrap(S, "wal_batch", "readers.plan")

        for q in QUERIES:
            self.wrap(dedup_docs, q, f"dedup.{q}.build")
        self.wrap(graph, "connected_components", "graph.connected_components")
        self.wrap(session, "get_spark", "session.get_spark", label=False)


QUERIES = ("jaccard_pairs", "near_dup_clusters", "simhash_clusters",
           "embedding_near_dup_clusters")


def _record_write(sp, args, out):
    table, (_, new_files) = args[0], out
    paths = [os.path.join(table.path, f) for fs in new_files.values() for f in fs]
    sp.attrs["files"] = len(paths)
    sp.attrs["bytes"] = sum(os.path.getsize(p) for p in paths)


def _record_sync(sp, args, out):
    sp.attrs["applied"] = out.get("applied") is True
    sp.attrs["fast_path"] = bool(out.get("fast_path"))


class _SpanCtx:
    __slots__ = ("tracer", "name", "label", "sp")

    def __init__(self, tracer, name, label):
        self.tracer, self.name, self.label = tracer, name, label

    def __enter__(self):
        self.sp = self.tracer._open(self.name, self.label)
        return self.sp

    def __exit__(self, *exc):
        self.tracer._close(self.sp)
        return False


# ------------------------------------------------------------ Spark REST
class SparkJobs:
    """Jobs and stages of the live application, read from the UI's REST
    API (``spark.ui.enabled`` must be on)."""

    def __init__(self, sc):
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.loads(r.read())

    def settle(self) -> None:
        """Wait until the listener bus has delivered every finished job
        to the status store the REST API serves."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def next_job_id(self) -> int:
        self.settle()
        return max((j["jobId"] for j in self._get("jobs")), default=-1) + 1

    def jobs(self, first: int, end: int) -> list[dict]:
        """Jobs with ids in [first, end)."""
        self.settle()
        return [j for j in self._get("jobs") if first <= j["jobId"] < end]

    def stages(self) -> dict[int, dict]:
        return {s["stageId"]: s for s in self._get("stages?status=complete")}


# ------------------------------------------------------- aggregation
def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the time its child spans cover."""
    child = defaultdict(float)
    for sp in spans:
        if sp.parent is not None:
            child[sp.parent] += sp.end - sp.start
    return {sp.sid: (sp.end - sp.start) - child[sp.sid] for sp in spans}


def layer_metrics(spans: list[Span], root: Span, jobs: list[dict],
                  stages: dict[int, dict], epochs: int, input_bytes: int) -> dict:
    """Per-layer numbers for ONE round: the spans under ``root`` and the
    Spark jobs whose group points at one of them."""
    by_id = {sp.sid: sp for sp in spans}
    mine = [sp for sp in spans if _under(sp, root.sid, by_id)]
    selfs = self_times(mine)

    def outer(sp, pred):
        """True unless an ancestor (below root) also matches ``pred``."""
        p = sp.parent
        while p is not None and p != root.sid:
            if pred(by_id[p].name):
                return False
            p = by_id[p].parent
        return True

    def total(pred):
        n, s = 0, 0.0
        for sp in mine:
            if sp is not root and pred(sp.name) and outer(sp, pred):
                n += 1
                s += sp.end - sp.start
        return s, n

    def self_sum(pred):
        return sum(selfs[sp.sid] for sp in mine if pred(sp.name))

    # Spark jobs -> the labelled span they ran under
    job_span = {}
    for j in jobs:
        group = j.get("jobGroup") or ""
        sid = group.rpartition(":")[2]
        if sid.isdigit() and int(sid) in by_id and _under(by_id[int(sid)], root.sid, by_id):
            job_span[j["jobId"]] = by_id[int(sid)]
    round_jobs = [j for j in jobs if j["jobId"] in job_span]

    def job_stats(pred):
        """jobs / tasks / shuffle-write bytes of jobs labelled by a span
        matching ``pred`` or one of its descendants."""
        n = tasks = shuf = 0
        for j in round_jobs:
            sp = job_span[j["jobId"]]
            while sp is not None and not pred(sp.name):
                sp = by_id.get(sp.parent)
            if sp is None:
                continue
            n += 1
            for sid in j.get("stageIds", []):
                st = stages.get(sid)
                if st:
                    tasks += st.get("numCompleteTasks", 0)
                    shuf += st.get("shuffleWriteBytes", 0)
        return n, tasks, shuf

    eq = lambda name: (lambda n: n == name)  # noqa: E731
    pre = lambda p: (lambda n: n.startswith(p))  # noqa: E731
    ep = max(epochs, 1)
    wall = root.end - root.start
    out: dict[str, float] = {}

    out["runner.tail_batch.self_s"] = self_sum(eq("runner.tail_batch"))
    out["runner.snapshot_epoch.self_s"] = self_sum(eq("runner.snapshot_epoch"))
    out["runner.snapshot_epoch.s"] = total(eq("runner.snapshot_epoch"))[0]
    out["runner.jobs_per_epoch"] = job_stats(pre("runner."))[0] / ep

    out["upsert.apply_batch.self_s"] = self_sum(eq("upsert.apply_batch"))
    under_runner = [sp for sp in mine if sp.name == "upsert.apply_batch"
                    and by_id.get(sp.parent) is not None
                    and by_id[sp.parent].name.startswith("runner.")]
    retries = [sp for sp in mine if sp.name == "upsert.apply_batch"
               and by_id.get(sp.parent) is not None
               and by_id[sp.parent].name == "upsert.apply_batch"]
    out["upsert.apply_batch.calls_per_epoch"] = (
        (len(under_runner) + len(retries)) / len(under_runner) if under_runner else 0.0
    )
    out["upsert.apply_batch.jobs"] = job_stats(eq("upsert.apply_batch"))[0]

    s, _ = total(eq("lake.replace_buckets"))
    _, tasks, shuf = job_stats(eq("lake.replace_buckets"))
    out["lake.replace_buckets.s"] = s
    out["lake.replace_buckets.tasks"] = tasks
    out["lake.replace_buckets.shuffle_write_bytes"] = shuf
    out["lake.append_deltas.s"] = total(eq("lake.append_deltas"))[0]
    out["lake.write.s"] = total(eq("lake.write"))[0]
    out["lake.compact.s"], out["lake.compact.calls"] = total(eq("lake.compact"))
    out["lake.expire_versions.s"] = total(eq("lake.expire_versions"))[0]
    out["lake.meta.s"], out["lake.meta.calls"] = total(pre("lake.meta."))
    writes = [sp for sp in mine if sp.name == "lake.write"]
    out["lake.files_per_commit"] = (
        sum(sp.attrs.get("files", 0) for sp in writes) / len(writes) if writes else 0.0
    )
    out["lake.write_amp"] = (
        sum(sp.attrs.get("bytes", 0) for sp in writes) / input_bytes if input_bytes else 0.0
    )

    for m in ("claim", "release", "state"):
        out[f"tracker.{m}.s"] = total(eq(f"tracker.{m}"))[0]
    out["metrics.append.s"], out["metrics.append.calls"] = total(eq("metrics.append"))

    syncs = [sp for sp in mine if sp.name == "changefeed.sync"]
    applied = [sp for sp in syncs if sp.attrs.get("applied")]
    out["changefeed.sync.self_s"] = self_sum(eq("changefeed.sync"))
    out["changefeed.sync.p50_s"] = (
        statistics.median(sp.end - sp.start for sp in syncs) if syncs else 0.0
    )
    out["changefeed.poll.s"] = total(eq("changefeed.poll"))[0]
    out["changefeed.apply_feed.s"] = total(eq("changefeed.apply_feed"))[0]
    out["changefeed.fast_path_ratio"] = (
        sum(sp.attrs.get("fast_path", False) for sp in applied) / len(applied)
        if applied else 0.0
    )

    out["readers.current_lsn.s"] = total(eq("readers.current_lsn"))[0]
    out["readers.plan.s"] = total(eq("readers.plan"))[0]

    for q in QUERIES:
        out[f"dedup.{q}.build_s"] = total(eq(f"dedup.{q}.build"))[0]
        out[f"dedup.{q}.exec_s"] = total(eq(f"dedup.{q}.exec"))[0]
        n, _, shuf = job_stats(pre(f"dedup.{q}."))
        out[f"dedup.{q}.jobs"] = n
        out[f"dedup.{q}.shuffle_write_bytes"] = shuf
    out["graph.connected_components.s"] = total(eq("graph.connected_components"))[0]
    out["graph.connected_components.jobs"] = job_stats(eq("graph.connected_components"))[0]

    gc_ms = tasks = 0
    for j in round_jobs:
        for sid in j.get("stageIds", []):
            st = stages.get(sid)
            if st:
                gc_ms += st.get("jvmGcTime", 0)
                tasks += st.get("numCompleteTasks", 0)
    out["spark.gc_s"] = gc_ms / 1000.0
    out["spark.tasks"] = tasks

    # what the layer spans leave unexplained: the round's own self time
    # and the benchmark's staging spans
    out["trace.unattributed_share"] = (
        (selfs[root.sid] + self_sum(pre("bench."))) / wall if wall > 0 else 0.0
    )
    unlabelled = [j for j in jobs
                  if j["jobId"] not in job_span or job_span[j["jobId"]] is root]
    out["trace.unlabelled_jobs"] = len(unlabelled)
    out["trace.unlabelled_job_names"] = [j.get("name", "")[:120] for j in unlabelled]
    out["trace.round_wall_s"] = wall
    return out


def _under(sp: Span, root_id: int, by_id: dict) -> bool:
    while sp is not None:
        if sp.sid == root_id:
            return True
        sp = by_id.get(sp.parent) if sp.parent is not None else None
    return False
