"""The traced run's instruments, installed from the benchmark's own files:

- ``Tracer`` keeps spans (name, start, end, parent, batch id, request id)
  in memory and writes them out when the run ends;
- ``install`` wraps the engine's module and class attributes at the layer
  boundaries and ``Installed.restore`` puts the originals back;
- ``read_event_log`` turns the Spark event log of the traced session into
  per-job records.

The untraced run installs nothing: its end-to-end figures come from the
untouched engine.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

RID_PROPERTY = "perfbench.rid"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float
    batch: int | None = None
    rid: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, rid: str | None = None) -> Span:
        st = self._stack()
        parent = st[-1] if st else None
        sp = Span(
            next(self._ids),
            parent.id if parent else None,
            name,
            time.time(),
            0.0,
            rid=rid or (parent.rid if parent else None),
        )
        st.append(sp)
        return sp

    def end(self, sp: Span) -> None:
        sp.end = time.time()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        with self._lock:
            self.spans.append(sp)

    def add(self, name: str, start: float, end: float, parent: int | None = None, **kw) -> Span:
        sp = Span(next(self._ids), parent, name, start, end, **kw)
        with self._lock:
            self.spans.append(sp)
        return sp

    def wrap(self, name: str, fn, on_result=None, rid_from=None):
        """A wrapper recording one span per call.  `on_result(span,
        args, kwargs, result)` may annotate the span after it ended;
        `rid_from(args)` starts a new request id (and tags the thread's
        Spark jobs)."""
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            rid = rid_from(args) if rid_from else None
            sp = tracer.begin(name, rid=rid)
            sc = None
            if rid:
                from pyspark import SparkContext

                sc = SparkContext._active_spark_context
                sc.setLocalProperty(RID_PROPERTY, rid)
            try:
                res = fn(*args, **kwargs)
            finally:
                tracer.end(sp)
                if sc is not None:
                    sc.setLocalProperty(RID_PROPERTY, None)
            if on_result is not None:
                on_result(sp, args, kwargs, res)
            return res

        return wrapped

    def dump(self, path: str) -> None:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = []
        for s in sorted(self.spans, key=lambda s: s.start):
            child = [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, ())]
            out.append(
                {
                    "id": s.id,
                    "parent": s.parent,
                    "name": s.name,
                    "start": s.start,
                    "end": s.end,
                    "dur": s.dur,
                    "self": s.dur - covered([c for c in child if c[1] > c[0]]),
                    "batch": s.batch,
                    "rid": s.rid,
                    **({"attrs": s.attrs} if s.attrs else {}),
                }
            )
        with open(path, "w") as f:
            json.dump(out, f)


class Installed:
    """The (owner, attribute, original) triples one `install` replaced."""

    def __init__(self):
        self.saved: list[tuple[object, str, object]] = []

    def patch(self, owner, attr: str, replacement) -> None:
        self.saved.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, replacement)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self.saved):
            setattr(owner, attr, orig)
        self.saved.clear()


def _set(key):
    def on_result(sp, args, kwargs, res):
        sp.attrs[key] = res
    return on_result


def _header_rid(args):
    handler = args[0]
    return handler.headers.get("X-Request-Id") or f"srv-{id(handler)}"


def install(tracer: Tracer, blobs_path=lambda: None) -> Installed:
    """Wrap every layer boundary the workloads cross.  Wrapping the module
    attribute (not the caller's reference) is enough: the engine looks each
    of these up at call time."""
    from persistor_spark import server
    from persistor_spark.analytics import dedup, similarity, text
    from persistor_spark.plans import ingest, query, resubmit
    from persistor_spark.sources import blobs

    inst = Installed()
    # plans.ingest — what run_stream's batch handler calls
    inst.patch(ingest, "run_batch", tracer.wrap("ingest.run_batch", ingest.run_batch))
    inst.patch(
        ingest,
        "write_blobs_merge",
        tracer.wrap("ingest.write_blobs", ingest.write_blobs_merge, _set("appended")),
    )
    inst.patch(
        ingest,
        "write_index_merge",
        tracer.wrap("ingest.write_index", ingest.write_index_merge, _set("appended")),
    )

    # plans.query — IndexQuery methods
    iq = query.IndexQuery
    for meth in ("get", "get_all", "get_interval", "query", "query_df"):
        inst.patch(iq, meth, tracer.wrap(f"query.{meth}", iq.__dict__[meth]))
    inst.patch(iq, "get_interval_count", tracer.wrap("query.get_interval_count", iq.get_interval_count))
    inst.patch(iq, "_compute_count", tracer.wrap("query.compute_count", iq._compute_count))

    # server — one root span per request, tagged with the client's id
    for cls in (server.IndexerApiHandler, server.ResubmitterApiHandler):
        for meth in ("do_GET", "do_POST"):
            if meth in cls.__dict__:
                inst.patch(
                    cls,
                    meth,
                    tracer.wrap(f"server.{cls.__name__}.{meth}", cls.__dict__[meth], rid_from=_header_rid),
                )
    for meth in ("_get_unique", "_get_all", "_get_interval", "_get_queried"):
        h = server.IndexerApiHandler
        inst.patch(h, meth, tracer.wrap(f"server.{meth.lstrip('_')}", h.__dict__[meth]))

    # plans.resubmit + sources.blobs
    def files_listed(sp, args, kwargs, res):
        sp.attrs["summary"] = res.get("summary")
        path = blobs_path()
        if path:
            sp.attrs["blob_files"] = sum(
                1
                for _, _, fs in os.walk(path)
                for f in fs
                if f.endswith(".parquet")
            )

    fr = server.FileResubmitter
    inst.patch(fr, "resubmit", tracer.wrap("resubmit.call", fr.resubmit, files_listed))
    inst.patch(blobs, "read_blob_records", tracer.wrap("blobs.read_blob_records", blobs.read_blob_records))
    inst.patch(blobs, "prune_to_locations", tracer.wrap("blobs.prune_to_locations", blobs.prune_to_locations))
    inst.patch(
        resubmit, "resubmit_observed", tracer.wrap("resubmit.resubmit_observed", resubmit.resubmit_observed)
    )

    # analytics
    for mod, names in (
        (dedup, ("minhash_lsh_pairs", "dedup_clusters", "keep_cluster_representatives")),
        (text, ("quality_funnel",)),
        (similarity, ("ivfpq_build", "ivfpq_search")),
    ):
        for n in names:
            inst.patch(mod, n, tracer.wrap(f"analytics.{n}", getattr(mod, n)))
    return inst


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    id: int
    submit: float
    end: float
    rid: str | None
    stages: list
    tasks: int = 0
    first_launch: float | None = None
    run_s: float = 0.0
    shuffle_write: int = 0
    records_read: int = 0
    execution: int | None = None  # the SQL execution that ran the job


_SQL = "org.apache.spark.sql.execution.ui."


def read_event_log(eventlog_dir: str) -> tuple[list[Job], dict[int, int]]:
    """(jobs of the traced session with their task totals, files read per
    SQL execution).  Job properties carry the request id (set by the
    wrappers) and the SQL execution id.  Files read is the scans'
    "number of files read" SQL metric."""
    # Spark 4 writes a directory of rolled event files per application
    paths = sorted(
        p for p in glob.glob(f"{eventlog_dir}/**/*", recursive=True)
        if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
    )
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    metric_name: dict[int, str] = {}  # accumulator id -> SQL metric name
    files_read: dict[int, int] = defaultdict(int)

    def plan_metrics(node: dict) -> None:
        for m in node.get("metrics", []):
            metric_name[m["accumulatorId"]] = m["name"]
        for c in node.get("children", []):
            plan_metrics(c)
    for p in paths:
        with open(p) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    exe = props.get("spark.sql.execution.id")
                    j = Job(
                        ev["Job ID"],
                        ev["Submission Time"] / 1000.0,
                        0.0,
                        props.get(RID_PROPERTY),
                        ev.get("Stage IDs", []),
                        execution=int(exe) if exe is not None else None,
                    )
                    jobs[j.id] = j
                    for s in j.stages:
                        stage_job[s] = j.id
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev.get("Stage ID")))
                    if j is None:
                        continue
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    j.tasks += 1
                    launch = info.get("Launch Time", 0) / 1000.0
                    j.first_launch = launch if j.first_launch is None else min(j.first_launch, launch)
                    j.run_s += m.get("Executor Run Time", 0) / 1000.0
                    j.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    j.records_read += (m.get("Input Metrics") or {}).get("Records Read", 0)
                elif kind in (_SQL + "SparkListenerSQLExecutionStart", _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                    plan_metrics(ev["sparkPlanInfo"])
                elif kind == _SQL + "SparkListenerSQLAdaptiveSQLMetricUpdates":
                    for m in ev.get("sqlPlanMetrics", []):
                        metric_name[m["accumulatorId"]] = m["name"]
                elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                    for acc, value in ev["accumUpdates"]:
                        if metric_name.get(acc) == "number of files read":
                            files_read[ev["executionId"]] += value
    return sorted(jobs.values(), key=lambda j: j.submit), dict(files_read)
