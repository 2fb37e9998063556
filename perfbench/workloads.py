"""The three workloads.  Each drives the engine only through the entry
points the CLI wires (`file_stream` -> `run_stream`, `serve_indexer_api`,
`serve_resubmitter_api` with `FileResubmitter` over
`IndexQuery(spark.read.parquet(index), cache_counts=True)`, and the
analytics functions), times its operations from outside, and checks every
output against the oracle.

A workload returns a dict with:
  throughput  units of work completed per second of the timed window
  kinds       {operation kind: [latency seconds]}
  primary     the kind whose median is the end-to-end latency
  attempted / failed
  record      everything else worth keeping (counts, percentiles, lateness)
  layer       inputs for the traced run's per-layer figures
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa

import gen
import mix
import oracle
from harness import summary

# Sizes the ingest_backlog backlog from --seconds: the seed tree drains
# about this many messages per second on a 4-core host.  A constant of the
# workload, never measured at run time.
NOMINAL_DRAIN_MSGS_PER_S = 3000
HISTORY_MSGS = 24_000
# ingest_serve's offered load: one file every SERVE_TICK_S, 750 msgs/s.
# `file_stream` takes one file per trigger, and under the reads a trigger
# costs about 2 s whatever the file's size, so the tick must stay well
# above 2 s: one-second ticks saturated the stream and freshness grew for
# the whole run.
SERVE_TICK_S = 4.0
SERVE_FILE_MSGS = 3000
# Sizes ingest_serve's replay from --seconds, in whole decks of the mix:
# the reader completes about this many requests per second beside the
# ingest on a 4-core host.  A fixed count, rather than a deadline, keeps
# every run's mix and its overlap with the ticks the same.
NOMINAL_REQUESTS_PER_S = 2.6


class Ctx:
    def __init__(self, spark, work, seed: int, seconds: int, trace: bool, mark_timed):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.mark_timed = mark_timed  # called once, right before timing starts
        self.blob_path = None  # set by workloads that write blobs
        self.marks: dict[str, float] = {}  # set-up phase -> end time

    def mark(self, phase: str) -> None:
        self.marks[phase] = time.time()


# ---------------------------------------------------------------------------
# shared pieces
# ---------------------------------------------------------------------------


def write_file(path: str, table: pa.Table, mtime: float | None = None) -> None:
    """Atomically place one parquet file (hidden temp name, then rename:
    the file source never sees a partial file)."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "wb") as f:
        f.write(gen.parquet_bytes(table))
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.rename(tmp, path)


def parallel(*fns) -> None:
    """Run the callables on their own threads and wait for all of them."""
    errors: list = []

    def call(fn):
        try:
            fn()
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            errors.append(exc)

    threads = [threading.Thread(target=call, args=(fn,)) for fn in fns]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def sinks_at(base: str):
    from persistor_spark.streaming import ingest_stream

    return ingest_stream.StreamSinks(
        blob_path=f"{base}/blobs",
        index_path=f"{base}/index",
        deadletter_path=f"{base}/deadletter",
        checkpoint_path=f"{base}/_checkpoint",
    )


def drain(spark, src: str, sinks, cfg) -> object:
    """`ingest --stream` exactly as the CLI runs it: availableNow."""
    from persistor_spark.streaming import ingest_stream

    q, _ = ingest_stream.run_stream(ingest_stream.file_stream(spark, src), cfg, sinks)
    q.awaitTermination()
    return q


def _ts(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def progress(q) -> list[dict]:
    """Micro-batches that read data, from the query's public progress."""
    out = []
    for p in q.recentProgress:
        if not p.numInputRows:
            continue
        d = p.durationMs
        start = _ts(p.timestamp)
        out.append(
            {
                "batch": p.batchId,
                "start": start,
                "end": start + d.get("triggerExecution", 0) / 1000.0,
                "rows": p.numInputRows,
                "trigger_s": d.get("triggerExecution", 0) / 1000.0,
                "add_batch_s": d.get("addBatch", 0) / 1000.0,
            }
        )
    return out


def checkpoint_batches(ck: str) -> dict[int, dict]:
    """batch id -> {"files": [source file paths], "commit": commit time},
    read from the checkpoint's source log and commit log."""
    out: dict[int, dict] = {}
    src_dir, com_dir = f"{ck}/sources/0", f"{ck}/commits"
    if not os.path.isdir(src_dir) or not os.path.isdir(com_dir):
        return out
    files: dict[int, list] = {}
    # "<n>" holds batch n's files; every tenth log is compacted into
    # "<n>.compact", which holds all files up to batch n
    for name in os.listdir(src_dir):
        if not name.split(".")[0].isdigit() or name.endswith(".tmp"):
            continue
        try:
            with open(os.path.join(src_dir, name)) as f:
                lines = f.read().splitlines()[1:]
        except OSError:
            continue
        for line in lines:
            if line.strip():
                e = json.loads(line)
                files.setdefault(e["batchId"], []).append(e["path"].replace("file://", "").replace("file:", ""))
    for name in os.listdir(com_dir):
        if name.isdigit():
            b = int(name)
            out[b] = {"files": sorted(set(files.get(b, []))), "commit": os.path.getmtime(os.path.join(com_dir, name))}
    return out


def dir_stats(path: str) -> tuple[int, int]:
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(f) for f in files)


def write_history(ctx: Ctx, base: str, n_msgs: int) -> tuple[oracle.History, list[pa.Table]]:
    """The seeded 30-day history, written by the engine's own batch writers
    over several appends (the blob name carries the append number, as the
    stream's carries the batch id)."""
    from pyspark.sql import functions as F

    from persistor_spark.config import IngestConfig
    from persistor_spark.plans import ingest
    from persistor_spark.schemas import MESSAGE_SCHEMA

    appends = gen.history(ctx.seed, n_msgs)
    cfg = IngestConfig(clock_column="ingestion_time")
    for k, t in enumerate(appends):
        ctx.mark(f"append{k}")
        src = ctx.work.sub("history_src", f"a{k}.parquet")
        write_file(src, t)
        res = ingest.run_batch(
            ctx.spark.read.schema(MESSAGE_SCHEMA).parquet(src),
            cfg,
            blob_name=F.concat(F.col("broker_id"), F.lit(f"-a{k}")),
        )
        ingest.write_blobs(res, f"{base}/blobs", fmt="parquet")
        ingest.write_index(res, f"{base}/index")
    ctx.mark("history")
    return oracle.History(appends), appends


def start_apis(spark, base: str):
    """`python -m persistor_spark serve --index --blobs --out`, in process."""
    from persistor_spark import server as srv
    from persistor_spark.plans import maintenance
    from persistor_spark.plans.query import IndexQuery

    maintenance.recover_pending_deletes(spark, f"{base}/index")
    indexes = {mix.COLLECTION: IndexQuery(spark.read.parquet(f"{base}/index"), cache_counts=True)}
    servers = [
        srv.serve_indexer_api(indexes, ("127.0.0.1", 0)),
        srv.serve_resubmitter_api(
            indexes, srv.FileResubmitter(spark, f"{base}/blobs", f"{base}/out"), addr=("127.0.0.1", 0)
        ),
    ]
    for s in servers:
        srv.start_background(s)
    ports = {"indexer": servers[0].server_address[1], "resubmitter": servers[1].server_address[1]}
    return servers, ports


def stop_apis(servers) -> None:
    from persistor_spark import server as srv

    for s in servers:
        srv.shutdown_graceful(s)


def warm_apis(ctx: Ctx, hist, ports) -> None:
    """Untimed: each request kind a few times, from a separate stream of
    the mix (its range intervals are not the timed catalogue's)."""
    reqs = mix.build(ctx.seed, hist, 60, tag=1)
    seen: dict[str, int] = {}
    for i, r in enumerate(reqs):
        if seen.get(r.op, 0) >= 1:
            continue
        seen[r.op] = seen.get(r.op, 0) + 1
        mix.send(ports, r, f"warm{i}")
    ctx.mark("warm_apis")


def api_record(hist, results) -> tuple[dict, int]:
    """(record, failed): each response checked against the oracle."""
    ops: dict[str, int] = {}
    bad_ops: dict[str, int] = {}
    for r in results:
        ops[r.req.op] = ops.get(r.req.op, 0) + 1
        if not mix.check(hist, r):
            bad_ops[r.req.op] = bad_ops.get(r.req.op, 0) + 1
    return {"requests": len(results), "ops": ops, "failed_ops": bad_ops}, sum(bad_ops.values())


def _rows(r) -> int:
    """Rows an Indexer API response returned, records a resubmit published."""
    if r.status not in (200, 206):
        return 0
    body = json.loads(r.body)
    if isinstance(body, list):
        return len(body)
    if "summary" in body:
        return body["summary"]["published"]
    return body.get("returned_count", 1)


def api_layer(results) -> list[dict]:
    return [
        {
            "rid": r.rid, "kind": r.req.kind, "start": r.start, "end": r.end,
            "bytes": len(r.body), "rows": _rows(r),
        }
        for r in results
    ]


# ---------------------------------------------------------------------------
# ingest_backlog
# ---------------------------------------------------------------------------


def ingest_backlog(ctx: Ctx) -> dict:
    from persistor_spark.config import IngestConfig

    n_files = max(3, round(ctx.seconds * NOMINAL_DRAIN_MSGS_PER_S / gen.FILE_MESSAGES))
    files = gen.backlog(ctx.seed, n_files)
    src = ctx.work.dir("backlog")
    for i, f in enumerate(files):
        write_file(f"{src}/f{i:05d}.parquet", f.table, mtime=1e9 + i)
    # warm-up: the first micro-batch of a process pays class loading and
    # code generation; drain two small files into throw-away sinks
    warm_src = ctx.work.dir("warm_src")
    for i, f in enumerate(gen.backlog(ctx.seed, 2, per_file=1000)):
        write_file(f"{warm_src}/w{i}.parquet", f.table, mtime=1e9 + i)
    ctx.mark("generate")
    drain(ctx.spark, warm_src, sinks_at(ctx.work.dir("warm")), IngestConfig())
    ctx.mark("warm_stream")

    base = ctx.work.dir("store")
    sinks = sinks_at(base)
    ctx.blob_path = sinks.blob_path
    ctx.mark_timed()
    t0 = time.time()
    q = drain(ctx.spark, src, sinks, IngestConfig())
    t1 = time.time()
    batches = progress(q)
    expected = pa.concat_tables([f.fresh for f in files])
    chk = oracle.check_ingest(expected, sinks.index_path, sinks.blob_path)
    payload_bytes = sum(len(p) for f in files for p in f.table["payload"].to_pylist())
    return {
        "throughput": chk["indexed_distinct"] / (t1 - t0),
        "kinds": {"commit": [b["trigger_s"] for b in batches]},
        "primary": "commit",
        "attempted": chk["attempted"],
        "failed": chk["failed"],
        "record": {
            "files": n_files,
            "messages_offered": sum(f.table.num_rows for f in files),
            "redelivered_same_file": sum(f.n_redelivered_same for f in files),
            "redelivered_later_file": sum(f.n_redelivered_later for f in files),
            "drain_s": t1 - t0,
            "ingest": chk,
        },
        "layer": {
            "window": (t0, t1),
            "batches": batches,
            "ingest": chk,
            "payload_bytes": payload_bytes,
            "offered_rows": sum(f.table.num_rows for f in files),
        },
    }


# ---------------------------------------------------------------------------
# ingest_serve
# ---------------------------------------------------------------------------


def ingest_serve(ctx: Ctx) -> dict:
    from persistor_spark.config import IngestConfig
    from persistor_spark.streaming import ingest_stream

    base = ctx.work.dir("store")
    ctx.blob_path = f"{base}/blobs"
    cfg = IngestConfig(clock_column="ingestion_time")
    # the history and, on throw-away sinks, a warm-up of the no-cache sink
    # path, side by side
    warm_src = ctx.work.dir("warm_src")
    now_us = int(time.time() * 1e6)
    for i in range(2):
        write_file(f"{warm_src}/w{i}.parquet", gen.serve_file(ctx.seed + 1, i, 500, now_us), 1e9 + i)
    store: list = []
    parallel(
        lambda: store.append(write_history(ctx, base, HISTORY_MSGS)),
        lambda: drain(ctx.spark, warm_src, sinks_at(ctx.work.dir("warm")), cfg),
    )
    hist, appends = store[0]
    ctx.mark("warm_stream")
    servers, ports = start_apis(ctx.spark, base)
    q = None
    try:
        warm_apis(ctx, hist, ports)
        n_ticks = math.ceil(ctx.seconds / SERVE_TICK_S)
        tables = [gen.serve_file(ctx.seed, k, SERVE_FILE_MSGS, 0) for k in range(n_ticks)]
        src = ctx.work.dir("live_src")
        sinks = ingest_stream.StreamSinks(
            blob_path=f"{base}/blobs", index_path=f"{base}/index",
            deadletter_path=f"{base}/deadletter", checkpoint_path=f"{base}/_checkpoint",
        )
        blob_before, index_before = dir_stats(sinks.blob_path), dir_stats(sinks.index_path)
        q, _ = ingest_stream.run_stream(
            ingest_stream.file_stream(ctx.spark, src), cfg, sinks, trigger_available_now=False
        )
        n_decks = max(1, round(ctx.seconds * NOMINAL_REQUESTS_PER_S / len(mix.DECK)))
        requests = mix.build(ctx.seed, hist, n_decks * len(mix.DECK))
        written: list[dict] = []
        path_uid: dict[str, str] = {}
        stop = threading.Event()

        def generator(t_start: float) -> None:
            for k, t in enumerate(tables):
                due = t_start + k * SERVE_TICK_S
                wait = due - time.time()
                if wait > 0 and stop.wait(wait):
                    return
                due_us = int(due * 1e6)
                t = t.set_column(
                    t.schema.get_field_index("ingestion_time"), "ingestion_time",
                    pa.array(np.full(t.num_rows, due_us), pa.timestamp("us", tz="UTC")),
                ).set_column(
                    t.schema.get_field_index("publish_time"), "publish_time",
                    pa.array(
                        np.full(t.num_rows, due_us - 500_000), pa.timestamp("us", tz="UTC"),
                        mask=t["publish_time"].is_null().to_numpy(zero_copy_only=False),
                    ),
                )
                path = f"{src}/s{k:05d}.parquet"
                path_uid[path] = gen.unique_ids(t.slice(0, 1))[0]
                write_file(path, t)
                written.append({"k": k, "due": due, "written": time.time(), "path": path, "table": t})

        probes: list[dict] = []

        def prober() -> None:
            seen: set = set()
            while not stop.is_set():
                for b, info in sorted(checkpoint_batches(sinks.checkpoint_path).items()):
                    if b in seen:
                        continue
                    seen.add(b)
                    uid = next((path_uid[p] for p in info["files"] if p in path_uid), None)
                    if uid is None:
                        continue
                    r = mix.send(ports, mix.Request("exact", "GET", "indexer", f"/exact/{mix.COLLECTION}/{uid}"), f"probe{b}")
                    probes.append({"batch": b, "visible": r.status == 200, "latency": r.latency})
                stop.wait(0.25)

        ctx.mark_timed()
        t_start = time.time()
        threads = [
            threading.Thread(target=generator, args=(t_start,)),
            threading.Thread(target=prober),
        ]
        for t in threads:
            t.start()
        t0 = time.time()
        results = mix.replay(ports, requests)
        t1 = time.time()
        threads[0].join()
        # let the stream take in every generated file, then stop it idle
        deadline = time.time() + 60
        while time.time() < deadline:
            done = {p for i in checkpoint_batches(sinks.checkpoint_path).values() for p in i["files"]}
            if all(w["path"] in done for w in written):
                break
            time.sleep(0.1)
        stop.set()
        threads[1].join()
        batches = progress(q)
        ingest_stream.stop_gracefully(q)
        q = None
    finally:
        if q is not None:
            q.stop()
        stop_apis(servers)

    ck = checkpoint_batches(sinks.checkpoint_path)
    commit_of = {p: i["commit"] for i in ck.values() for p in i["files"]}
    fresh = [commit_of[w["path"]] - w["due"] for w in written if w["path"] in commit_of]
    lateness = [w["written"] - w["due"] for w in written]
    rec, failed = api_record(hist, results)
    expected = pa.concat_tables(appends + [w["table"] for w in written])
    chk = oracle.check_ingest(expected, sinks.index_path, sinks.blob_path)
    # an uncommitted file is a lost message set
    not_committed = sum(w["table"].num_rows for w in written if w["path"] not in commit_of)
    kinds = {"commit": [b["trigger_s"] for b in batches], "freshness": fresh}
    for r in results:
        kinds.setdefault(r.req.kind, []).append(r.latency)
    rec.update(
        {
            "files_generated": len(written),
            "offered_msgs_per_s": SERVE_FILE_MSGS / SERVE_TICK_S,
            "generator_lateness_s": summary(lateness),
            "ingest": chk,
            "freshness_probes": len(probes),
        }
    )
    payload_bytes = sum(len(p) for w in written for p in w["table"]["payload"].to_pylist())
    committed = sum(w["table"].num_rows for w in written if w["path"] in commit_of)
    rec["committed_msgs_per_s"] = committed / (max(commit_of.values()) - written[0]["due"])
    return {
        # the reader is a closed loop on the cores the stream also uses
        "throughput": len(results) / (t1 - t0),
        "kinds": kinds,
        "primary": "freshness",
        "attempted": len(results) + chk["attempted"],
        "failed": failed + chk["failed"] + not_committed,
        "record": rec,
        "layer": {
            "window": (t0, t1),
            "batches": batches,
            "requests": api_layer(results),
            "probes": probes,
            "ingest": chk,
            "payload_bytes": payload_bytes,
            "offered_rows": sum(w["table"].num_rows for w in written),
            "blob_files_before": blob_before[0],
            "index_files_before": index_before[0],
            "bytes_before": blob_before[1] + index_before[1],
        },
    }


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------

CURATE_DOCS = 600
CURATE_CLUSTERS = 60
CURATE_VECTORS = 1500
CURATE_QUERIES = 32
DUP_THRESHOLD = 0.8
ANN_K = 10
CURATE_MIN_PASSES = 2
QUERY_ID0 = 1_000_000  # query vector ids start here, apart from the corpus


def curate(ctx: Ctx) -> dict:
    """Near-duplicate removal, the quality funnel and an IVF-PQ index over
    a seeded corpus, timed per stage, repeated until --seconds are used
    (at least once)."""
    from persistor_spark.analytics import dedup, similarity, text

    def inputs(tag: str, n_docs: int, n_clusters: int, n_vecs: int, n_queries: int):
        corpus = gen.corpus(ctx.seed, n_docs, n_clusters)
        vecs, labels, queries, q_labels = gen.embeddings(ctx.seed, n_vecs, n_queries)
        paths = {k: ctx.work.sub(f"curate_{tag}", f"{k}.parquet") for k in ("docs", "vectors", "queries")}
        write_file(paths["docs"], pa.table({"doc_id": corpus.doc_ids, "text": corpus.texts}))
        write_file(paths["vectors"], pa.table({"vec_id": np.arange(n_vecs, dtype=np.int64), "embedding": list(vecs)}))
        write_file(paths["queries"], pa.table({"vec_id": np.arange(n_queries, dtype=np.int64) + QUERY_ID0, "embedding": list(queries)}))
        return corpus, vecs, labels, queries, q_labels, paths

    def text_stages(paths, stages: dict, out: dict) -> None:
        docs = ctx.spark.read.parquet(paths["docs"])
        t = time.time()
        pairs = dedup.minhash_lsh_pairs(docs, DUP_THRESHOLD)
        clusters = dedup.dedup_clusters(pairs)
        kept = dedup.keep_cluster_representatives(docs, clusters)
        out["pairs"] = [(r["a"], r["b"], r["jaccard"]) for r in pairs.collect()]
        out["clusters"] = {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}
        out["n_kept"] = kept.count()
        stages["dedup"] = time.time() - t
        t = time.time()
        out["funnel"] = [r.asDict() for r in text.quality_funnel(kept).collect()]
        stages["quality"] = time.time() - t

    def ann_stages(paths, stages: dict, out: dict) -> None:
        t = time.time()
        index = similarity.ivfpq_build(ctx.spark.read.parquet(paths["vectors"]))
        stages["ann_build"] = time.time() - t
        t = time.time()
        out["hits"] = similarity.ivfpq_search(index, ctx.spark.read.parquet(paths["queries"]), k=ANN_K).collect()
        stages["ann_search"] = time.time() - t

    def one_pass(paths) -> tuple[dict, dict]:
        stages: dict = {}
        out: dict = {}
        text_stages(paths, stages, out)
        ann_stages(paths, stages, out)
        return stages, out

    corpus, vecs, labels, queries, q_labels, paths = inputs("main", CURATE_DOCS, CURATE_CLUSTERS, CURATE_VECTORS, CURATE_QUERIES)
    text_of = dict(zip(corpus.doc_ids.tolist(), corpus.texts))
    planted = oracle.planted_pairs(corpus.clusters)
    true_j = {p: oracle.jaccard(text_of[p[0]], text_of[p[1]]) for p in planted}
    true_ids, _ = oracle.brute_topk(vecs, queries, ANN_K)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    q_unit = queries / np.linalg.norm(queries, axis=1, keepdims=True)

    def verify(out) -> tuple[int, int, dict]:
        """Every reported pair is a true near-duplicate with its exact
        Jaccard; every planted pair above the threshold is reported; the
        clusters, the kept count and the funnel follow from those pairs;
        every ANN hit carries its exact cosine and lies in the query's
        planted cluster."""
        attempted = failed = 0
        found = set()
        for a, b, j in out["pairs"]:
            attempted += 1
            tj = true_j.get((a, b)) or oracle.jaccard(text_of[a], text_of[b])
            ok = tj >= DUP_THRESHOLD and abs(round(tj, 3) - j) < 1e-9
            failed += not ok
            if ok:
                found.add((a, b))
        want = {p for p, j in true_j.items() if j >= DUP_THRESHOLD}
        for p in want:
            attempted += 1
            failed += p not in found
        comp = oracle.components(want | found)
        n_kept = len(corpus.texts) - sum(1 for d, c in comp.items() if d != c)
        attempted += 3
        failed += out["clusters"] != comp
        failed += out["n_kept"] != n_kept
        funnel = out["funnel"]
        failed += not (
            len(funnel) == 5
            and funnel[0]["entered"] == n_kept
            and all(f["survivors"] <= f["entered"] for f in funnel)
            and all(b["entered"] == a["survivors"] for a, b in zip(funnel, funnel[1:]))
        )
        by_q: dict[int, list] = {}
        for r in out["hits"]:
            by_q.setdefault(r["query_id"] - QUERY_ID0, []).append(r)
        recalls = []
        for qi in range(len(queries)):
            attempted += 1
            rows = sorted(by_q.get(qi, []), key=lambda r: r["rank"])
            ids = [r["vec_id"] for r in rows]
            recalls.append(len(set(ids) & set(true_ids[qi].tolist())) / ANN_K)
            exact = all(abs(r["cos"] - round(float(q_unit[qi] @ unit[r["vec_id"]]), 4)) < 1e-9 for r in rows)
            same_cluster = all(labels[i] == q_labels[qi] for i in ids)
            failed += len(rows) != ANN_K or not exact or not same_cluster
        return attempted, failed, {
            "dup_pairs_expected": len(want),
            "dup_recall": len(found & want) / len(want) if want else 1.0,
            "ann_recall_at_10": float(np.mean(recalls)),
        }

    # warm-up on a small corpus, untimed: class loading, code generation
    # and Python worker start-up; the two halves run side by side
    warm = inputs("warm", 60, 6, 200, 4)[-1]
    ctx.mark("generate")
    parallel(*[lambda f=f: f(warm, {}, {}) for f in (text_stages, ann_stages)])
    ctx.mark("warm_pass")
    ctx.mark_timed()
    passes, outs = [], []
    t0 = time.time()
    # a pass is indivisible: at least two, and more while --seconds last
    # (three passes per run would push a comparison's 22 runs per workload
    # past the time it is allowed)
    while len(passes) < CURATE_MIN_PASSES or time.time() - t0 < ctx.seconds:
        st, out = one_pass(paths)
        passes.append(st)
        outs.append(out)
    t1 = time.time()
    attempted = failed = 0
    for out in outs:
        a, f, guards = verify(out)
        attempted += a
        failed += f
    stages = {k: [p[k] for p in passes] for k in passes[0]}
    layer = {"window": (t0, t1), "stages": stages, "guards": guards}
    if ctx.trace:
        # candidate volume of the LSH step, counted outside the timed window
        docs = ctx.spark.read.parquet(paths["docs"])
        layer["lsh_candidates"] = dedup.minhash_lsh_pairs(docs, DUP_THRESHOLD, verify=False).count()
    return {
        "throughput": len(corpus.texts) * len(passes) / (t1 - t0),
        "kinds": {**stages, "pass": [sum(p.values()) for p in passes]},
        "primary": "pass",
        "attempted": attempted,
        "failed": failed,
        "record": {"docs": len(corpus.texts), "passes": len(passes), "vectors": len(vecs), **guards},
        "layer": layer,
    }


WORKLOADS = {
    "ingest_backlog": ingest_backlog,
    "ingest_serve": ingest_serve,
    "curate": curate,
}
