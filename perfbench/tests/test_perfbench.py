"""The benchmark's own tests.  Run from the repository root:

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import gen  # noqa: E402
import harness  # noqa: E402
import mix  # noqa: E402
import oracle  # noqa: E402
import tracing  # noqa: E402


# -- seeded inputs -----------------------------------------------------------


def _inputs(seed: int) -> list[bytes]:
    out = [gen.parquet_bytes(f.table) for f in gen.backlog(seed, 2, per_file=300)]
    out += [gen.parquet_bytes(t) for t in gen.history(seed, 600)]
    out.append(gen.parquet_bytes(gen.serve_file(seed, 0, 100, 1_700_000_000_000_000)))
    c = gen.corpus(seed, 40, 4)
    out.append("\n".join(c.texts).encode() + c.doc_ids.tobytes())
    out += [a.tobytes() for a in gen.embeddings(seed, 50, 5)]
    hist = oracle.History(gen.history(seed, 600))
    out.append(json.dumps([(r.op, r.path, r.body) for r in mix.build(seed, hist, 200)]).encode())
    return out


def test_same_seed_gives_identical_inputs():
    assert _inputs(7) == _inputs(7)


def test_other_seed_gives_other_inputs():
    a, b = _inputs(7), _inputs(8)
    assert len(a) == len(b)
    assert all(x != y for x, y in zip(a, b))


def test_backlog_redelivers_about_one_percent():
    files = gen.backlog(3, 4, per_file=1000)
    assert files[0].n_redelivered_later == 0
    for f in files:
        assert f.table.num_rows == 1010
        assert f.n_redelivered_same + f.n_redelivered_later == 10
        assert len(set(gen.unique_ids(f.fresh))) == 1000


def test_traffic_has_the_fixture_model_null_shares():
    t = gen.messages(9, 1, np.arange(20_000, dtype=np.int64), "m", np.zeros(20_000, np.int64), np.zeros(20_000, np.int64))
    share = {c: t[c].null_count / t.num_rows for c in t.column_names}
    want = {"ordering_key": 0.3, "business_source_key": 0.4, "business_object_key": 0.4,
            "attr_version": 0.2, "publish_time": 0.05, "payload": 0.0}
    for c, p in want.items():
        assert share[c] == pytest.approx(p, abs=0.015), c
    sizes = np.array([len(p) for p in t["payload"].to_pylist()])
    assert sizes.mean() == pytest.approx(gen.PAYLOAD_MEAN, rel=0.05)
    assert set(t["broker_id"].to_pylist()) == set(gen.BROKERS)


def test_mix_shares_are_exact_per_deck():
    hist = oracle.History(gen.history(5, 600))
    ops = [mix.KIND_OF[r.op] for r in mix.build(5, hist, 100)]
    assert ops.count("lookup") == 50 and ops.count("scan") == 40 and ops.count("resubmit") == 10


# -- statistics --------------------------------------------------------------


@pytest.mark.parametrize(
    "n,label",
    [(1000, "p99"), (999, "p95"), (200, "p95"), (199, "p90"), (100, "p90"),
     (40, "p75"), (39, "p50"), (20, "p50"), (19, "max"), (1, "max")],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, label):
    values = list(range(n))
    value, got = harness.tail(values)
    assert got == label
    if label != "max":
        p = float(label[1:])
        assert n * (100 - p) / 100 >= harness.TAIL_MIN_BEYOND
        assert value == pytest.approx(harness.percentile(values, p))
    else:
        assert value == n - 1


# -- tracing -----------------------------------------------------------------


def _patched_attrs():
    from persistor_spark import server
    from persistor_spark.analytics import dedup, similarity, text
    from persistor_spark.plans import ingest, query, resubmit
    from persistor_spark.sources import blobs

    owners = (ingest, query.IndexQuery, server.IndexerApiHandler, server.ResubmitterApiHandler,
              server.FileResubmitter, blobs, resubmit, dedup, text, similarity)
    return {(id(o), k): v for o in owners for k, v in vars(o).items()}


def test_tracing_wrappers_restore_original_attributes():
    before = _patched_attrs()
    inst = tracing.install(tracing.Tracer())
    patched = _patched_attrs()
    changed = [k for k in before if patched[k] is not before[k]]
    assert len(changed) == len(inst.saved) > 20
    inst.restore()
    after = _patched_attrs()
    assert all(after[k] is before[k] for k in before)
    assert after.keys() == before.keys()


def test_span_self_time_excludes_children(tmp_path):
    tr = tracing.Tracer()
    outer = tr.add("outer", 0.0, 10.0)
    tr.add("a", 1.0, 4.0, parent=outer.id)
    tr.add("b", 3.0, 6.0, parent=outer.id)
    path = tmp_path / "spans.json"
    tr.dump(str(path))
    spans = {s["name"]: s for s in json.loads(path.read_text())}
    assert spans["outer"]["self"] == pytest.approx(5.0)


# -- the oracle against the engine, end to end on a tiny seed ------------------


@pytest.fixture(scope="module")
def spark():
    from persistor_spark.session import build_session

    s = build_session("perfbench-test", extra_conf={"spark.sql.shuffle.partitions": "4"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    harness.stop_session(s)


class _Work:
    def __init__(self, root):
        self.root = str(root)

    def sub(self, *parts):
        p = os.path.join(self.root, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts):
        p = os.path.join(self.root, *parts)
        os.makedirs(p, exist_ok=True)
        return p


def test_oracle_agrees_with_tiny_api_run(spark, tmp_path):
    import workloads

    ctx = workloads.Ctx(spark, _Work(tmp_path), 3, 1, False, lambda: None)
    base = str(tmp_path / "store")
    hist, _ = workloads.write_history(ctx, base, 600)
    servers, ports = workloads.start_apis(spark, base)
    try:
        results = [mix.send(ports, r, f"t{i}") for i, r in enumerate(mix.build(3, hist, 40))]
    finally:
        workloads.stop_apis(servers)
    assert {r.req.kind for r in results} == {"lookup", "scan", "resubmit"}
    # rows with a NULL publish_time are among those compared
    assert any(b'"publish_time": null' in r.body for r in results)
    bad = [(r.req.op, r.status, r.body[:200]) for r in results if not mix.check(hist, r)]
    assert bad == []
    # and the check is not vacuous: a changed row is a failure
    ok = next(r for r in results if r.req.op == "exact" and r.status == 200)
    body = json.loads(ok.body)
    body["location_position"] = (body["location_position"] or 0) + 1
    ok.body = json.dumps(body).encode()
    assert not mix.check(hist, ok)


def test_oracle_agrees_with_tiny_stream_drain(spark, tmp_path):
    from persistor_spark.config import IngestConfig

    import workloads

    files = gen.backlog(4, 3, per_file=400)
    src = tmp_path / "src"
    src.mkdir()
    for i, f in enumerate(files):
        workloads.write_file(str(src / f"f{i}.parquet"), f.table, mtime=1e9 + i)
    sinks = workloads.sinks_at(str(tmp_path / "out"))
    q = workloads.drain(spark, str(src), sinks, IngestConfig())
    assert len(workloads.progress(q)) == 3
    chk = oracle.check_ingest(
        pa.concat_tables([f.fresh for f in files]), sinks.index_path, sinks.blob_path
    )
    assert chk["failed"] == 0 and chk["missing"] == 0
    # redelivery inside one file is appended twice (the merge writers
    # anti-join only against rows already on disk); a later-file
    # redelivery is dropped from the index but kept as a blob record
    assert chk["duplicate_index_rows"] == sum(f.n_redelivered_same for f in files)
    later = sum(f.n_redelivered_later for f in files)
    assert chk["blob_rows"] - chk["index_rows"] == later
    batches = workloads.checkpoint_batches(sinks.checkpoint_path)
    assert sorted(len(b["files"]) for b in batches.values()) == [1, 1, 1]


def test_curate_oracle_components():
    comp = oracle.components({(1, 5), (5, 9), (2, 3)})
    assert comp == {1: 1, 5: 1, 9: 1, 2: 2, 3: 2}
    ids, cos = oracle.brute_topk(np.eye(3), np.array([[1.0, 0.1, 0.0]]), 2)
    assert ids.tolist() == [[0, 1]] and cos[0, 0] > cos[0, 1]
