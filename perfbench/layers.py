"""Per-layer figures of the traced run, from three sources: the spans the
wrappers recorded, the stream's public progress, and the Spark event log.

Every per-layer metric is reported on every workload; a layer a workload
does not exercise reads 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from tracing import Tracer, covered

# name -> (unit, better)
PER_LAYER = {
    "streaming.batches": ("count", "higher"),
    "streaming.rows_per_batch": ("count", "higher"),
    "streaming.trigger_p50_s": ("s", "lower"),
    "streaming.add_batch_p50_s": ("s", "lower"),
    "streaming.bookkeeping_p50_s": ("s", "lower"),
    "streaming.idle_ratio": ("ratio", "higher"),
    "streaming.span_coverage": ("ratio", "higher"),
    "ingest.run_batch_p50_s": ("s", "lower"),
    "ingest.write_blobs_p50_s": ("s", "lower"),
    "ingest.write_index_p50_s": ("s", "lower"),
    "ingest.handler_rest_p50_s": ("s", "lower"),
    "ingest.sink_overlap": ("ratio", "higher"),
    "ingest.merge_append_ratio": ("ratio", "higher"),
    "ingest.blob_useful_ratio": ("ratio", "higher"),
    "ingest.duplicate_index_rows": ("count", "lower"),
    "ingest.blob_files_per_batch": ("count", "lower"),
    "ingest.index_files_per_batch": ("count", "lower"),
    "ingest.write_amplification": ("ratio", "lower"),
    "spark.jobs_per_batch": ("count", "lower"),
    "spark.tasks_per_batch": ("count", "lower"),
    "spark.shuffle_bytes_per_batch": ("B", "lower"),
    "spark.executor_busy_ratio": ("ratio", "higher"),
    "spark.jobs_per_request": ("count", "lower"),
    "spark.task_wait_p50_s": ("s", "lower"),
    "spark.peak_rss_mb": ("MB", "lower"),
    "query.get_interval_p50_s": ("s", "lower"),
    "query.query_p50_s": ("s", "lower"),
    "query.count_cache_hit_ratio": ("ratio", "higher"),
    "query.rows_read_per_row_returned": ("ratio", "lower"),
    "query.files_read_per_request": ("count", "lower"),
    "server.overhead_p50_s": ("s", "lower"),
    "server.response_bytes_p50": ("B", "lower"),
    "server.fresh_visible_ratio": ("ratio", "higher"),
    "resubmit.call_p50_s": ("s", "lower"),
    "resubmit.blob_rows_read_per_record": ("ratio", "lower"),
    "resubmit.blob_files_listed": ("count", "lower"),
    "analytics.dedup_s": ("s", "lower"),
    "analytics.quality_s": ("s", "lower"),
    "analytics.ann_build_s": ("s", "lower"),
    "analytics.ann_search_s": ("s", "lower"),
    "analytics.lsh_candidates_per_true_pair": ("ratio", "lower"),
    "analytics.dup_recall": ("ratio", "higher"),
    "analytics.ann_recall_at_10": ("ratio", "higher"),
}

INGEST_SPANS = ("ingest.run_batch", "ingest.write_blobs", "ingest.write_index")


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _ratio(a, b) -> float:
    return float(a) / b if b else 0.0


def compute(tracer: Tracer, layer: dict, jobs: list, files_read: dict, cores: int) -> dict:
    out = {k: 0.0 for k in PER_LAYER}
    t0, t1 = layer["window"]
    batches = layer.get("batches") or []
    if batches:
        # one window for batches, jobs and spans: on ingest_serve the
        # stream's last batches commit after the reader stops
        t1 = max(t1, max(b["end"] for b in batches))
        layer = {**layer, "window": (t0, t1)}
    spans = [s for s in tracer.spans if t0 - 0.5 <= s.start <= t1 + 0.5]
    _streaming(out, tracer, spans, layer)
    _spark(out, layer, jobs, cores)
    _requests(out, spans, layer, jobs, files_read)
    _analytics(out, layer)
    return out


def _streaming(out, tracer, spans, layer) -> None:
    batches = layer.get("batches") or []
    if not batches:
        return
    t0, t1 = layer["window"]
    trig = [b["trigger_s"] for b in batches]
    add = [b["add_batch_s"] for b in batches]
    out["streaming.batches"] = len(batches)
    out["streaming.rows_per_batch"] = statistics.mean(b["rows"] for b in batches)
    out["streaming.trigger_p50_s"] = _med(trig)
    out["streaming.add_batch_p50_s"] = _med(add)
    out["streaming.bookkeeping_p50_s"] = _med([t - a for t, a in zip(trig, add)])
    out["streaming.idle_ratio"] = max(0.0, 1.0 - sum(trig) / (t1 - t0))
    ingest_spans = [s for s in spans if s.name in INGEST_SPANS]
    per: dict[str, list] = defaultdict(list)
    overlap_sum = overlap_union = 0.0
    for b in batches:
        root = tracer.add("streaming.trigger", b["start"], b["end"], batch=b["batch"])
        tracer.add(
            "streaming.bookkeeping", b["start"] + b["add_batch_s"], b["end"], parent=root.id, batch=b["batch"]
        )
        kids = [s for s in ingest_spans if b["start"] - 0.05 <= s.start <= b["end"] + 0.05]
        for s in kids:
            s.batch, s.parent = b["batch"], root.id
        rb = sum(s.dur for s in kids if s.name == "ingest.run_batch")
        sinks = [(s.start, s.end) for s in kids if s.name != "ingest.run_batch"]
        union = covered(sinks)
        overlap_sum += sum(e - s for s, e in sinks)
        overlap_union += union
        rest = b["add_batch_s"] - rb - union
        per["run_batch"].append(rb)
        per["blobs"] += [s.dur for s in kids if s.name == "ingest.write_blobs"]
        per["index"] += [s.dur for s in kids if s.name == "ingest.write_index"]
        per["rest"].append(max(0.0, rest))
        per["coverage"].append(
            _ratio(rb + union + b["trigger_s"] - b["add_batch_s"], b["trigger_s"])
        )
        appended = [s.attrs.get("appended") for s in kids if s.name == "ingest.write_index"]
        per["appended"] += [a for a in appended if a is not None]
    out["streaming.span_coverage"] = _med(per["coverage"])
    out["ingest.run_batch_p50_s"] = _med(per["run_batch"])
    out["ingest.write_blobs_p50_s"] = _med(per["blobs"])
    out["ingest.write_index_p50_s"] = _med(per["index"])
    out["ingest.handler_rest_p50_s"] = _med(per["rest"])
    out["ingest.sink_overlap"] = _ratio(overlap_sum, overlap_union)
    out["ingest.merge_append_ratio"] = _ratio(sum(per["appended"]), layer["offered_rows"])
    chk = layer["ingest"]
    out["ingest.blob_useful_ratio"] = chk["blob_useful_ratio"]
    out["ingest.duplicate_index_rows"] = chk["duplicate_index_rows"]
    n = len(batches)
    out["ingest.blob_files_per_batch"] = (chk["blob_files"] - layer.get("blob_files_before", 0)) / n
    out["ingest.index_files_per_batch"] = (chk["index_files"] - layer.get("index_files_before", 0)) / n
    out["ingest.write_amplification"] = _ratio(
        chk["bytes_written"] - layer.get("bytes_before", 0), layer["payload_bytes"]
    )


def _spark(out, layer, jobs, cores) -> None:
    t0, t1 = layer["window"]
    win = [j for j in jobs if t0 - 0.5 <= j.submit <= t1 + 0.5]
    if not win:
        return
    out["spark.executor_busy_ratio"] = sum(j.run_s for j in win) / (cores * (t1 - t0))
    out["spark.task_wait_p50_s"] = _med([j.first_launch - j.submit for j in win if j.first_launch])
    batches = layer.get("batches") or []
    if batches:
        bjobs = [
            j for j in win
            if j.rid is None and any(b["start"] - 0.05 <= j.submit <= b["end"] + 0.05 for b in batches)
        ]
        n = len(batches)
        out["spark.jobs_per_batch"] = len(bjobs) / n
        out["spark.tasks_per_batch"] = sum(j.tasks for j in bjobs) / n
        out["spark.shuffle_bytes_per_batch"] = sum(j.shuffle_write for j in bjobs) / n
    reqs = layer.get("requests") or []
    if reqs:
        out["spark.jobs_per_request"] = sum(1 for j in win if j.rid) / len(reqs)


def _requests(out, spans, layer, jobs, files_read) -> None:
    reqs = layer.get("requests") or []
    by = defaultdict(list)
    for s in spans:
        by[s.name].append(s)
    out["query.get_interval_p50_s"] = _med([s.dur for s in by["query.get_interval"]])
    out["query.query_p50_s"] = _med([s.dur for s in by["query.query"]])
    counts = by["query.get_interval_count"]
    computed = {s.parent for s in by["query.compute_count"]}
    out["query.count_cache_hit_ratio"] = _ratio(sum(1 for s in counts if s.id not in computed), len(counts))
    calls = by["resubmit.call"]
    out["resubmit.call_p50_s"] = _med([s.dur for s in calls])
    out["resubmit.blob_files_listed"] = _med([s.attrs["blob_files"] for s in calls if "blob_files" in s.attrs])
    probes = layer.get("probes") or []
    out["server.fresh_visible_ratio"] = _ratio(sum(p["visible"] for p in probes), len(probes))
    if not reqs:
        return
    jobs_of = defaultdict(list)
    for j in jobs:
        if j.rid:
            jobs_of[j.rid].append(j)
    out["server.overhead_p50_s"] = _med(
        [(r["end"] - r["start"]) - covered([(j.submit, j.end) for j in jobs_of[r["rid"]] if j.end]) for r in reqs]
    )
    out["server.response_bytes_p50"] = _med([r["bytes"] for r in reqs])
    idx = [r for r in reqs if r["kind"] != "resubmit"]
    out["query.rows_read_per_row_returned"] = _ratio(
        sum(j.records_read for r in idx for j in jobs_of[r["rid"]]), sum(r["rows"] for r in idx)
    )
    out["query.files_read_per_request"] = _ratio(
        sum(files_read.get(e, 0) for r in idx for e in {j.execution for j in jobs_of[r["rid"]]}),
        len(idx),
    )
    rsb = [r for r in reqs if r["kind"] == "resubmit"]
    out["resubmit.blob_rows_read_per_record"] = _ratio(
        sum(j.records_read for r in rsb for j in jobs_of[r["rid"]]), sum(r["rows"] for r in rsb)
    )


def _analytics(out, layer) -> None:
    stages = layer.get("stages")
    if not stages:
        return
    out["analytics.dedup_s"] = _med(stages["dedup"])
    out["analytics.quality_s"] = _med(stages["quality"])
    out["analytics.ann_build_s"] = _med(stages["ann_build"])
    out["analytics.ann_search_s"] = _med(stages["ann_search"])
    out["analytics.dup_recall"] = layer["guards"]["dup_recall"]
    out["analytics.ann_recall_at_10"] = layer["guards"]["ann_recall_at_10"]
    out["analytics.lsh_candidates_per_true_pair"] = _ratio(
        layer.get("lsh_candidates", 0), layer["guards"]["dup_pairs_expected"]
    )
