"""The seeded Indexer/Resubmitter request mix, the HTTP client that
replays it, and the per-response oracle check.

Mix (shares of requests):
- exact 40% (about 5% of them unknown ids, which must get 400),
- all (50 ids) 10%,
- range pages 20%, intervals drawn Zipf-style from a catalogue of 400 so
  the 100-entry count cache partly hits,
- query (OR-of-AND filters) 20%,
- resubmit 10%, by ids or by filter.
"""

from __future__ import annotations

import http.client
import json
import time
from dataclasses import dataclass

import numpy as np

from gen import BROKERS, DAY_US, EVENT_TYPES, HISTORY_DAYS, N_ORDERING_KEYS, N_SOURCES, history_epoch_us, rng_for
from oracle import History, same_rows, wire

COLLECTION = "messages"
TOPIC = "replay"
N_INTERVALS = 400
KIND_OF = {
    "exact": "lookup", "all": "lookup", "range": "scan", "query": "scan",
    "resubmit_ids": "resubmit", "resubmit_query": "resubmit",
}
_HOUR_US = 3600 * 1_000_000
DECK = ["exact"] * 4 + ["all"] + ["range"] * 2 + ["query"] * 2 + ["resubmit"]


@dataclass
class Request:
    op: str
    method: str
    api: str  # "indexer" | "resubmitter"
    path: str
    body: dict | None = None
    args: tuple = ()

    @property
    def kind(self) -> str:
        return KIND_OF[self.op]


@dataclass
class Result:
    req: Request
    rid: str
    start: float
    end: float
    status: int
    body: bytes
    error: str | None = None

    @property
    def latency(self) -> float:
        return self.end - self.start


def _wire_s(us: int) -> str:
    return wire(us - us % 1_000_000)


def _window(rng, t0: int, hours_lo: int, hours_hi: int) -> tuple[int, int]:
    span = int(rng.integers(hours_lo, hours_hi + 1)) * _HOUR_US
    start = t0 + int(rng.integers(0, HISTORY_DAYS * DAY_US - span))
    start -= start % 1_000_000
    return start, start + span


def build(seed: int, hist: History, n: int, tag: int = 0) -> list[Request]:
    """`n` requests drawn from the seed; `tag` selects an independent
    stream (the warm-up uses its own)."""
    rng = rng_for(seed, 20, tag)
    t0 = history_epoch_us(seed)
    intervals = []
    irng = rng_for(seed, 21, tag)
    for _ in range(N_INTERVALS):
        a, b = _window(irng, t0, 1, 48)
        intervals.append((BROKERS[int(irng.integers(0, len(BROKERS)))], a, b))
    uids = hist.uid
    out: list[Request] = []
    # shuffled decks of ten keep the shares exact in every stretch of the
    # sequence, so even a short run sees every kind
    ops = np.concatenate([rng.permutation(DECK) for _ in range(-(-n // len(DECK)))])[:n]
    for op in ops.tolist():
        if op == "exact":
            if rng.random() < 0.05:
                uid = f"{BROKERS[int(rng.integers(0, 4))]}_x{int(rng.integers(0, 1 << 30)):010d}"
            else:
                uid = str(uids[int(rng.integers(0, hist.n))])
            out.append(Request("exact", "GET", "indexer", f"/exact/{COLLECTION}/{uid}", args=(uid,)))
        elif op == "all":
            ids = [str(uids[i]) for i in rng.choice(hist.n, size=50, replace=False).tolist()]
            out.append(Request("all", "POST", "indexer", f"/all/{COLLECTION}", {"ids": ids}, (ids,)))
        elif op == "range":
            rank = min(int(rng.zipf(1.2)), N_INTERVALS) - 1
            broker, a, b = intervals[rank]
            limit = int(rng.choice([10, 20, 50]))
            offset = int(rng.choice([0, 0, 20, 100]))
            path = (
                f"/range/{COLLECTION}/{broker}?from={_wire_s(a)}&to={_wire_s(b)}"
                f"&limit={limit}&offset={offset}"
            )
            out.append(Request("range", "GET", "indexer", path, args=(broker, a, b, limit, offset)))
        elif op == "query":
            filters = _filters(rng, t0)
            limit, offset = 20, int(rng.choice([0, 0, 20]))
            path = f"/query/{COLLECTION}?limit={limit}&offset={offset}"
            out.append(Request("query", "POST", "indexer", path, {"filters": filters}, (filters, limit, offset)))
        elif rng.random() < 0.5:
            ids = [str(uids[i]) for i in rng.choice(hist.n, size=20, replace=False).tolist()]
            out.append(
                Request("resubmit_ids", "POST", "resubmitter", f"/resubmit/{COLLECTION}?topic={TOPIC}", {"ids": ids}, (ids,))
            )
        else:
            a, b = _window(rng, t0, 1, 3)
            filters = [{
                "broker_id": BROKERS[int(rng.integers(0, 4))],
                "publish_time": {"$gte": _wire_s(a), "$lt": _wire_s(b)},
            }]
            out.append(
                Request("resubmit_query", "POST", "resubmitter", f"/query/{COLLECTION}?topic={TOPIC}", {"filters": filters}, (filters,))
            )
    return out


def _filters(rng, t0: int) -> list[dict]:
    """1-3 conjunctions, each bounded to a history window (so messages
    ingested later never match) plus one or two field conditions."""
    out = []
    for _ in range(int(rng.integers(1, 4))):
        a, b = _window(rng, t0, 24, 120)
        conj: dict = {"publish_time": {"$gte": _wire_s(a), "$lt": _wire_s(b)}}
        for field_ in rng.choice(4, size=int(rng.integers(1, 3)), replace=False).tolist():
            if field_ == 0:
                conj["broker_id"] = BROKERS[int(rng.integers(0, 4))]
            elif field_ == 1:
                conj["business_source_key"] = f"src{int(rng.integers(0, N_SOURCES))}"
            elif field_ == 2:
                conj["additional_metadata.event_type"] = EVENT_TYPES[int(rng.integers(0, len(EVENT_TYPES)))]
            else:
                keys = rng.choice(N_ORDERING_KEYS, size=3, replace=False).tolist()
                conj["ordering_key"] = {"$in": [f"k{k}" for k in keys]}
        out.append(conj)
    return out


def send(ports: dict, req: Request, rid: str, timeout: float = 120.0) -> Result:
    """One request on its own connection (the servers speak HTTP/1.0)."""
    conn = http.client.HTTPConnection("127.0.0.1", ports[req.api], timeout=timeout)
    body = json.dumps(req.body).encode() if req.body is not None else None
    headers = {"X-Request-Id": rid}
    if body is not None:
        headers["Content-Type"] = "application/json"
    start = time.time()
    try:
        conn.request(req.method, req.path, body=body, headers=headers)
        resp = conn.getresponse()
        data = resp.read()
        return Result(req, rid, start, time.time(), resp.status, data)
    except Exception as exc:  # noqa: BLE001 — counted as a failed request
        return Result(req, rid, start, time.time(), 0, b"", error=repr(exc))
    finally:
        conn.close()


def replay(ports: dict, requests: list) -> list[Result]:
    """Closed loop on one connection: each request is sent only after the
    previous one completed."""
    return [send(ports, req, f"r{i}") for i, req in enumerate(requests)]


def check(hist: History, r: Result) -> bool:
    """True iff the response matches the oracle (status and body)."""
    req = r.req
    if r.error is not None:
        return False
    try:
        got = json.loads(r.body) if r.body else None
    except ValueError:
        return False
    if req.op == "exact":
        status, row = hist.exact(req.args[0])
        return r.status == status and (status != 200 or got == row)
    if req.op == "all":
        return r.status == 200 and same_rows(got, hist.all(req.args[0]))
    if req.op == "range":
        return r.status == 200 and got == hist.range(*req.args)
    if req.op == "query":
        return r.status == 200 and got == hist.query(*req.args)
    if req.op == "resubmit_ids":
        status, summary = hist.resubmit_ids(req.args[0])
    else:
        status, summary = hist.resubmit_query(req.args[0])
    return r.status == status and got.get("summary") == summary
