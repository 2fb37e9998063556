"""Seeded input generators (numpy + pyarrow only, no Spark).

Everything the engine receives is built here from the workload seed, and the
oracle (``oracle.py``) recomputes every expected answer from the same
records.  The same seed gives byte-identical inputs.

Traffic model (``ingest_backlog``, ``ingest_serve``, the query history).
Cardinalities and NULL shares are the repository's message model
(FIXTURES.md section 1, as ``persistor_spark/fixtures.py`` derives it):
4 brokers ``b0..b3``; ordering keys ``k0..k9``, ~30% NULL; business keys
``src0..src4`` and ``obj0..obj4``, ~40% NULL each; ``attr_version``
``v1..v3``, ~20% NULL; ~5% NULL ``publish_time``.  The attributes map holds
the promoted keys that are present plus ``event_type``, as
``fixtures.load_messages`` builds it.  About 1% of the backlog's messages are
redelivered, half inside the same file and half in a later file.

Two figures have no measured source and are assumptions (see README.md):
the ordering-key skew and the payload size spread.  The payload mean is the
reference's ``BatchMemory / BatchSize`` (1,000,000 B / 5,000 messages,
SURVEY.md "shipped operational defaults").
"""

from __future__ import annotations

import io
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BROKERS = ("b0", "b1", "b2", "b3")
VERSIONS = ("v1", "v2", "v3")
VERSION_NULL = 0.2
N_ORDERING_KEYS = 10
ORDERING_KEY_NULL = 0.3
N_SOURCES = 5
N_OBJECTS = 5
BUSINESS_KEY_NULL = 0.4
PUBLISH_TIME_NULL = 0.05
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")  # the events fixture's domain
# assumption: ordering keys follow Zipf's law (weight 1/rank) over the ten keys
ZIPF_S = 1.0
# a batch of BatchSize messages at this mean fills BatchMemory
PAYLOAD_MEAN = 1_000_000 // 5_000
# assumption: lognormal payload sizes with this log-space spread
PAYLOAD_SIGMA = 0.7
FILE_MESSAGES = 5000  # the reference's default BatchSize
REDELIVER_SHARE = 0.01

MESSAGE_ARROW_SCHEMA = pa.schema(
    [
        ("broker_id", pa.string()),
        ("broker_msg_id", pa.string()),
        ("ordering_key", pa.string()),
        ("payload", pa.string()),
        ("attributes", pa.map_(pa.string(), pa.string())),
        ("business_source_key", pa.string()),
        ("business_object_key", pa.string()),
        ("attr_version", pa.string()),
        ("publish_time", pa.timestamp("us", tz="UTC")),
        ("ingestion_time", pa.timestamp("us", tz="UTC")),
        ("event_seq", pa.int64()),
        ("event_type", pa.string()),
    ]
)

_US = 1_000_000
DAY_US = 86_400 * _US


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """One independent generator per (seed, stream tag...)."""
    return np.random.default_rng([int(seed), *[int(s) for s in stream]])


def history_epoch_us(seed: int) -> int:
    """Start of the seeded 30-day history (a fixed past date, never the
    wall clock)."""
    base = 1_735_689_600 * _US  # 2025-01-01T00:00:00Z
    return base + int(seed % 97) * DAY_US


_KEY_P = 1.0 / np.arange(1, N_ORDERING_KEYS + 1) ** ZIPF_S
_KEY_P /= _KEY_P.sum()


def _payloads(rng: np.random.Generator, n: int) -> list[str]:
    pool = rng.integers(97, 123, size=1 << 16, dtype=np.uint8).tobytes().decode("ascii")
    mu = np.log(PAYLOAD_MEAN) - PAYLOAD_SIGMA**2 / 2  # lognormal with mean PAYLOAD_MEAN
    lens = np.clip(rng.lognormal(mu, PAYLOAD_SIGMA, size=n), 16, 8192).astype(np.int64)
    offs = rng.integers(0, len(pool) - 8192, size=n)
    return [pool[o : o + n_] for o, n_ in zip(offs.tolist(), lens.tolist())]


def _keys(prefix: str, values: np.ndarray, null: np.ndarray) -> list:
    return [None if z else f"{prefix}{k}" for k, z in zip(values.tolist(), null.tolist())]


def messages(
    seed: int,
    tag: int,
    seqs: np.ndarray,
    id_prefix: str,
    publish_us: np.ndarray,
    ingestion_us: np.ndarray,
) -> pa.Table:
    """MESSAGE_SCHEMA rows for the given sequence numbers.  Every field but
    the two timestamps' values is a function of (seed, tag, seqs) only; so
    is which publish times are NULL."""
    n = len(seqs)
    rng = rng_for(seed, tag, int(seqs[0]) if n else 0, n)
    broker = rng.integers(0, len(BROKERS), size=n)
    ver = rng.integers(0, len(VERSIONS), size=n)
    ver_null = rng.random(n) < VERSION_NULL
    okey = rng.choice(N_ORDERING_KEYS, size=n, p=_KEY_P)
    okey_null = rng.random(n) < ORDERING_KEY_NULL
    src = rng.integers(0, N_SOURCES, size=n)
    src_null = rng.random(n) < BUSINESS_KEY_NULL
    obj = rng.integers(0, N_OBJECTS, size=n)
    obj_null = rng.random(n) < BUSINESS_KEY_NULL
    pub_null = rng.random(n) < PUBLISH_TIME_NULL
    etype = rng.integers(0, len(EVENT_TYPES), size=n)
    payload = _payloads(rng, n)
    versions = _keys("v", ver + 1, ver_null)
    sources = _keys("src", src, src_null)
    objects = _keys("obj", obj, obj_null)
    events = [EVENT_TYPES[e] for e in etype.tolist()]
    attrs = []
    for s, o, v, e in zip(sources, objects, versions, events):
        a = [(k, x) for k, x in (("business_source_key", s), ("business_object_key", o), ("attr_version", v)) if x]
        a.append(("event_type", e))
        attrs.append(a)
    return pa.table(
        {
            "broker_id": [BROKERS[b] for b in broker.tolist()],
            "broker_msg_id": [f"{id_prefix}{s:010d}" for s in seqs.tolist()],
            "ordering_key": _keys("k", okey, okey_null),
            "payload": payload,
            "attributes": attrs,
            "business_source_key": sources,
            "business_object_key": objects,
            "attr_version": versions,
            "publish_time": pa.array(publish_us, pa.timestamp("us", tz="UTC"), mask=pub_null),
            "ingestion_time": pa.array(ingestion_us, pa.timestamp("us", tz="UTC")),
            "event_seq": pa.array(seqs, pa.int64()),
            "event_type": events,
        },
        schema=MESSAGE_ARROW_SCHEMA,
    )


def unique_ids(t: pa.Table) -> list[str]:
    return [f"{b}_{m}" for b, m in zip(t["broker_id"].to_pylist(), t["broker_msg_id"].to_pylist())]


@dataclass
class BacklogFile:
    table: pa.Table  # the file's rows, redeliveries included, in file order
    fresh: pa.Table  # the messages first delivered in this file
    n_redelivered_same: int
    n_redelivered_later: int


def backlog(seed: int, n_files: int, per_file: int = FILE_MESSAGES) -> list[BacklogFile]:
    """The ``ingest_backlog`` backlog: `n_files` files of `per_file` fresh
    messages plus about 1% redeliveries each."""
    t0 = history_epoch_us(seed) + 40 * DAY_US
    out: list[BacklogFile] = []
    n_red = max(2, int(round(per_file * REDELIVER_SHARE)))
    for i in range(n_files):
        seqs = np.arange(i * per_file, (i + 1) * per_file, dtype=np.int64)
        pub = t0 + seqs * 2_000
        fresh = messages(seed, 1, seqs, "m", pub, pub + _US)
        rng = rng_for(seed, 2, i)
        later = n_red // 2 if i else 0
        same = n_red - later
        parts = [fresh, fresh.take(rng.choice(per_file, size=same, replace=False))]
        if later:
            prev = out[int(rng.integers(0, i))].fresh
            parts.append(prev.take(rng.choice(prev.num_rows, size=later, replace=False)))
        rows = pa.concat_tables(parts)
        rows = rows.take(rng.permutation(rows.num_rows))
        out.append(BacklogFile(rows, fresh, same, later))
    return out


def parquet_bytes(t: pa.Table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(t, buf, compression="snappy")
    return buf.getvalue()


# ---------------------------------------------------------------------------
# query history (ingest_serve)
# ---------------------------------------------------------------------------

HISTORY_DAYS = 30
HISTORY_APPENDS = 3


def history(seed: int, n_msgs: int) -> list[pa.Table]:
    """A 30-day message history split chronologically into
    HISTORY_APPENDS appends.  No redeliveries: every id appears once."""
    t0 = history_epoch_us(seed)
    rng = rng_for(seed, 3)
    pub = np.sort(t0 + rng.integers(0, HISTORY_DAYS * DAY_US, size=n_msgs))
    ing = pub + rng.integers(1, 120, size=n_msgs) * _US
    seqs = np.arange(n_msgs, dtype=np.int64)
    t = messages(seed, 4, seqs, "h", pub, ing)
    bounds = np.linspace(0, n_msgs, HISTORY_APPENDS + 1).astype(int)
    return [t.slice(a, b - a) for a, b in zip(bounds[:-1], bounds[1:])]


def serve_file(seed: int, tick: int, per_file: int, due_us: int) -> pa.Table:
    """One ``ingest_serve`` tick: `per_file` new messages whose
    ingestion_time is the tick's due time."""
    seqs = np.arange(tick * per_file, (tick + 1) * per_file, dtype=np.int64)
    pub = np.full(per_file, due_us - 500_000, dtype=np.int64)
    ing = np.full(per_file, due_us, dtype=np.int64)
    return messages(seed, 5, seqs, "s", pub, ing)


# ---------------------------------------------------------------------------
# curation corpus and embeddings
# ---------------------------------------------------------------------------

VOCAB = 4000
_STOP = ("the", "and", "of", "to", "in", "that", "is", "for", "with", "on")


def _vocab(rng: np.random.Generator) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, size=VOCAB)
    return list(_STOP) + [
        "".join(letters[rng.integers(0, 26, size=n)]) for n in lens.tolist()
    ]


@dataclass
class Corpus:
    doc_ids: np.ndarray
    texts: list[str]
    clusters: list[list[int]]  # planted near-duplicate clusters (doc ids)


def corpus(seed: int, n_base: int, n_clusters: int, edit_share: float = 0.01) -> Corpus:
    """`n_base` random documents; `n_clusters` of them get 1-3 near-copies
    with `edit_share` of their words replaced (word-3-gram Jaccard stays
    well above 0.8)."""
    rng = rng_for(seed, 6)
    vocab = _vocab(rng)
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    p /= p.sum()
    texts: list[list[int]] = []
    for _ in range(n_base):
        n = int(rng.integers(100, 200))
        texts.append(rng.choice(len(vocab), size=n, p=p).tolist())
    clusters: list[list[int]] = []
    for base in rng.choice(n_base, size=n_clusters, replace=False).tolist():
        members = [base]
        for _ in range(int(rng.integers(1, 4))):
            words = list(texts[base])
            n_edit = max(1, int(len(words) * edit_share))
            for pos in rng.choice(len(words), size=n_edit, replace=False).tolist():
                words[pos] = int(rng.integers(0, len(vocab)))
            members.append(len(texts))
            texts.append(words)
        clusters.append(members)
    order = rng.permutation(len(texts))
    # doc ids are shuffled so cluster members are not adjacent
    ids = np.empty(len(texts), dtype=np.int64)
    ids[order] = np.arange(len(texts))
    return Corpus(
        doc_ids=ids,
        texts=[" ".join(vocab[w] for w in t) for t in texts],
        clusters=[sorted(int(ids[m]) for m in c) for c in clusters],
    )


def embeddings(seed: int, n: int, n_queries: int, dim: int = 64, n_centers: int = 16):
    """(corpus vectors, corpus labels, query vectors, query labels): float64
    vectors drawn around `n_centers` planted, well separated centres."""
    rng = rng_for(seed, 7)
    centers = rng.normal(size=(n_centers, dim))

    def draw(k):
        c = rng.integers(0, n_centers, size=k)
        return centers[c] + 0.35 * rng.normal(size=(k, dim)), c

    vecs, labels = draw(n)
    queries, q_labels = draw(n_queries)
    return vecs, labels, queries, q_labels
