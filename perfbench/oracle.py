"""Expected answers computed from the generator's own records with
pyarrow and numpy, never with Spark, and the checks that compare the
engine's outputs with them."""

from __future__ import annotations

import os
from collections import Counter, defaultdict
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

INDEXER_SKEW_US = 60 * 1_000_000
BLOB_URL = "gs://persistor-bucket/msg"
PROMOTED = ("business_source_key", "business_object_key", "attr_version")

UNIQUE_ATTRS = (
    "broker_id", "broker_msg_id", "business_source_key", "business_object_key",
    "unique_id", "index_source_key", "ordering_key", "additional_metadata",
    "location_key", "location_position", "publish_time", "ingestion_time",
    "indexer_ingestion_time", "confirmation_flag",
)
INTERVAL_ATTRS = (
    "broker_id", "broker_msg_id", "business_source_key", "business_object_key",
    "unique_id", "ordering_key", "additional_metadata", "location_key",
    "location_position", "publish_time",
)


def wire(us: int) -> str:
    """The Indexer API's timestamp layout: RFC3339, UTC, trailing zeros of
    the fraction trimmed."""
    dt = datetime.fromtimestamp(us // 1_000_000, tz=timezone.utc)
    base = dt.strftime("%Y-%m-%dT%H:%M:%S")
    frac = f"{us % 1_000_000:06d}".rstrip("0")
    return f"{base}.{frac}Z" if frac else f"{base}Z"


def _us(col) -> tuple[np.ndarray, np.ndarray]:
    """(microseconds with NULL read as 0, NULL mask) of a timestamp column."""
    c = col.cast(pa.int64())
    return c.fill_null(0).to_numpy(), c.is_null().to_numpy(zero_copy_only=False)


class History:
    """The index the APIs serve on ingest_serve, as the engine should have
    written it from the generator's history appends (clock column
    `ingestion_time`, blob name `<broker>-a<append>`)."""

    def __init__(self, appends: list[pa.Table]):
        t = pa.concat_tables(appends)
        self.n = t.num_rows
        self.broker = np.array(t["broker_id"].to_pylist(), dtype=object)
        self.msg = t["broker_msg_id"].to_pylist()
        self.uid = np.array([f"{b}_{m}" for b, m in zip(self.broker, self.msg)], dtype=object)
        self.okey = np.array(t["ordering_key"].to_pylist(), dtype=object)
        self.src = np.array(t["business_source_key"].to_pylist(), dtype=object)
        self.obj = np.array(t["business_object_key"].to_pylist(), dtype=object)
        self.attrs = [dict(a) for a in t["attributes"].to_pylist()]
        self.event = np.array([a.get("event_type") for a in self.attrs], dtype=object)
        self.pub, self.pub_null = _us(t["publish_time"])
        self.ing, _ = _us(t["ingestion_time"])
        self.payload = t["payload"].to_pylist()
        append_of = np.concatenate([np.full(a.num_rows, k) for k, a in enumerate(appends)])
        days = [datetime.fromtimestamp(x // 1_000_000, tz=timezone.utc) for x in self.ing.tolist()]
        self.loc = np.array(
            [
                f"{BLOB_URL}/{d.year}/{d.month:02d}/{d.day:02d}/"
                f"{a.get('attr_version') or 'unknown'}/blob-{b}-a{k}.avro"
                for d, a, b, k in zip(days, self.attrs, self.broker, append_of.tolist())
            ],
            dtype=object,
        )
        pos = np.zeros(self.n, dtype=np.int64)
        size = Counter(self.loc.tolist())
        by_loc: dict[str, list[int]] = defaultdict(list)
        for i, lk in enumerate(self.loc.tolist()):
            by_loc[lk].append(i)
        for rows in by_loc.values():
            for p, i in enumerate(sorted(rows, key=lambda i: self.uid[i]), 1):
                pos[i] = p
        self.pos = [int(p) if size[lk] > 1 else None for p, lk in zip(pos, self.loc)]
        self.row_of = {u: i for i, u in enumerate(self.uid.tolist())}
        self.order = np.argsort(self.uid)  # unique_id order, the API's page order
        self.payload_bytes = sum(len(p) for p in self.payload)

    def row(self, i: int, attrs=UNIQUE_ATTRS) -> dict:
        src, obj = self.src[i], self.obj[i]
        full = {
            "broker_id": self.broker[i],
            "broker_msg_id": self.msg[i],
            "business_source_key": src,
            "business_object_key": obj,
            "unique_id": self.uid[i],
            "index_source_key": f"{src}_{obj}" if src and obj else None,
            "ordering_key": self.okey[i],
            "additional_metadata": {k: v for k, v in self.attrs[i].items() if k not in PROMOTED},
            "location_key": self.loc[i],
            "location_position": self.pos[i],
            "publish_time": None if self.pub_null[i] else wire(int(self.pub[i])),
            "ingestion_time": wire(int(self.ing[i])),
            "indexer_ingestion_time": wire(int(self.ing[i]) + INDEXER_SKEW_US),
            "confirmation_flag": False,
        }
        return {k: full[k] for k in attrs}

    # -- the Indexer API ------------------------------------------------
    def exact(self, uid: str):
        i = self.row_of.get(uid)
        return (400, None) if i is None else (200, self.row(i))

    def all(self, ids) -> list[dict]:
        return [self.row(self.row_of[u]) for u in ids if u in self.row_of]

    def _page(self, mask: np.ndarray, limit: int, offset: int) -> dict:
        idx = self.order[mask[self.order]]
        page = idx[offset : offset + limit]
        return {
            "total_count": int(len(idx)),
            "returned_count": int(len(page)),
            "limit": limit,
            "offset": offset,
            "messages": [self.row(int(i), INTERVAL_ATTRS) for i in page],
        }

    def range_mask(self, broker: str, t_from: int, t_to: int) -> np.ndarray:
        return (self.broker == broker) & self.pub_in(t_from, t_to)

    def pub_in(self, t_from: int | None, t_to: int | None) -> np.ndarray:
        """publish_time in [t_from, t_to); a NULL publish_time never is."""
        m = ~self.pub_null
        if t_from is not None:
            m &= self.pub >= t_from
        if t_to is not None:
            m &= self.pub < t_to
        return m

    def range(self, broker, t_from, t_to, limit, offset) -> dict:
        return self._page(self.range_mask(broker, t_from, t_to), limit, offset)

    def filter_mask(self, filters: list[dict]) -> np.ndarray:
        """OR of ANDs over the generator's fields; the operators used by
        the request mix are $eq (plain value), $in, $gte and $lt."""
        cols = {
            "broker_id": self.broker,
            "ordering_key": self.okey,
            "business_source_key": self.src,
            "additional_metadata.event_type": self.event,
        }
        out = np.zeros(self.n, dtype=bool)
        for flt in filters:
            m = np.ones(self.n, dtype=bool)
            for key, val in flt.items():
                if key == "publish_time":
                    for op, w in val.items():
                        t = parse_wire(w)
                        m &= self.pub_in(t, None) if op == "$gte" else self.pub_in(None, t)
                elif isinstance(val, dict):
                    m &= np.isin(cols[key], list(val["$in"]))
                else:
                    m &= cols[key] == val
            out |= m
        return out

    def query(self, filters, limit, offset) -> dict:
        return self._page(self.filter_mask(filters), limit, offset)

    # -- the Resubmitter API --------------------------------------------
    def resubmit_ids(self, ids) -> tuple[int, dict]:
        found = sum(1 for u in ids if u in self.row_of)
        return _resubmit_answer(len(ids), found)

    def resubmit_query(self, filters) -> tuple[int, dict]:
        n = int(self.filter_mask(filters).sum())
        return _resubmit_answer(n, n)


def _resubmit_answer(starting: int, found: int) -> tuple[int, dict]:
    status = 400 if found == 0 and starting > 0 else 206 if found < starting else 200
    return status, {
        "starting": starting, "indexed": found, "fetched": found,
        "deserialized": found, "published": found,
    }


def parse_wire(s: str) -> int:
    dt = datetime.strptime(s.rstrip("Z"), "%Y-%m-%dT%H:%M:%S").replace(tzinfo=timezone.utc)
    return int(dt.timestamp()) * 1_000_000


def same_rows(got: list[dict], want: list[dict]) -> bool:
    key = lambda r: r["unique_id"]  # noqa: E731
    return sorted(got, key=key) == sorted(want, key=key)


# ---------------------------------------------------------------------------
# ingest outputs
# ---------------------------------------------------------------------------


def read_table_files(path: str, columns) -> tuple[pa.Table, int, int]:
    """(rows, file count, bytes) of every parquet part file under a table
    directory — partition directories included, columns by name."""
    files = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    if not files:
        return pa.table({c: pa.array([], pa.string()) for c in columns}), 0, 0
    tables = [pq.read_table(f, columns=list(columns)) for f in files]
    return pa.concat_tables(tables), len(files), sum(os.path.getsize(f) for f in files)


def check_ingest(expected: pa.Table, index_path: str, blob_path: str) -> dict:
    """Every distinct expected message is indexed exactly as generated, and
    each index row's (location_key, location_position) resolves to its own
    blob record.  Duplicate index rows are counted, not failed (a known
    defect of the merge writers)."""
    want_uid = [f"{b}_{m}" for b, m in zip(expected["broker_id"].to_pylist(), expected["broker_msg_id"].to_pylist())]
    want = dict(zip(want_uid, zip(expected["payload"].to_pylist(), expected["ordering_key"].to_pylist())))
    idx, idx_files, idx_bytes = read_table_files(
        index_path, ("unique_id", "ordering_key", "location_key", "location_position")
    )
    blob, blob_files, blob_bytes = read_table_files(
        blob_path, ("location_key", "position", "record_id", "payload")
    )
    b_lk = blob["location_key"].to_pylist()
    b_pos = blob["position"].to_pylist()
    b_rec = blob["record_id"].to_pylist()
    b_pay = blob["payload"].to_pylist()
    at = {(lk, p): i for i, (lk, p) in enumerate(zip(b_lk, b_pos))}
    per_lk = Counter(b_lk)
    first_of = {}
    for i, lk in enumerate(b_lk):
        first_of.setdefault(lk, i)
    uids = idx["unique_id"].to_pylist()
    bad = 0
    referenced = set()
    for u, ok, lk, p in zip(
        uids, idx["ordering_key"].to_pylist(), idx["location_key"].to_pylist(),
        idx["location_position"].to_pylist(),
    ):
        w = want.get(u)
        i = at.get((lk, p)) if p is not None else (first_of.get(lk) if per_lk.get(lk) == 1 else None)
        if w is None or i is None or b_rec[i] != u or b_pay[i] != w[0] or ok != w[1]:
            bad += 1
            continue
        referenced.add(i)
    distinct = set(uids)
    missing = len(set(want) - distinct)
    return {
        "expected_distinct": len(want),
        "index_rows": len(uids),
        "indexed_distinct": len(distinct),
        "missing": missing,
        "unresolved_rows": bad,
        "duplicate_index_rows": len(uids) - len(distinct),
        "blob_rows": len(b_lk),
        "blob_useful_ratio": len(referenced) / len(b_lk) if b_lk else 0.0,
        "index_files": idx_files,
        "blob_files": blob_files,
        "bytes_written": idx_bytes + blob_bytes,
        "failed": missing + bad,
        "attempted": len(want),
    }


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------


def shingles(text: str, k: int = 3) -> set:
    toks = text.split(" ")
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def planted_pairs(clusters) -> set:
    return {(a, b) for c in clusters for i, a in enumerate(c) for b in c[i + 1 :]}


def components(pairs) -> dict:
    """doc id -> the minimum id of its connected component, over `pairs`."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def brute_topk(corpus: np.ndarray, queries: np.ndarray, k: int):
    """(ids, cosines) of each query's exact top-k by cosine."""
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = qn @ cn.T
    ids = np.argsort(-sims, axis=1, kind="stable")[:, :k]
    return ids, np.take_along_axis(sims, ids, axis=1)
