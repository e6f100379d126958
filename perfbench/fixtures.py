"""Seeded input generators.  Every table is a fixed rule of the seed, so
the same seed always gives byte-identical inputs; the program under test
only ever sees the files written here.

Shapes follow the repository's fixture contract (FIXTURES.md): `events`
(event_id, ts, user_id, event_type, value, props) over January 2024, the
TPC-H-ish star schema over 1995-2001, and `documents` drawn from a small
technical vocabulary with planted near-duplicates so MinHash-LSH has
pairs to find.  Timestamps are parquet timestamp[us] without a zone,
which the library reads as TIMESTAMP_LTZ."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EPOCH_2024_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
HOUR_MS = 3_600_000
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big stream "
    "group filter vector index shard commit log state block view sink source"
).split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
TLDS = ("com", "org", "io", "co.uk")


@dataclass(frozen=True)
class Size:
    """Input sizes.  `FULL` is what the benchmark measures; `TINY` keeps
    the self-test to seconds."""

    events: int  # cascade feed; one pass = `events` rows
    days: int  # events span this many days from 2024-01-01
    users: int
    block_hours: tuple[int, int]  # cascade arrival block, in whole hours
    docs: int  # curation documents feed
    domains: int
    doc_block: int  # curation rows per block (documents)
    uid_block: int  # curation rows per block (events.user_id)
    drain_blocks: int
    query_sf: float  # query_mix star schema / events / documents scale


FULL = Size(
    events=100_000, days=30, users=1_500, block_hours=(6, 8),
    docs=50_000, domains=3_000, doc_block=1_000, uid_block=2_000,
    drain_blocks=50, query_sf=0.01,
)
TINY = Size(
    events=2_000, days=3, users=60, block_hours=(3, 5),
    docs=640, domains=40, doc_block=80, uid_block=100,
    drain_blocks=8, query_sf=0.001,
)


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, input stream), so adding a stream
    never shifts another stream's values."""
    return np.random.default_rng([seed, *stream.encode()])


def gen_events(seed: int, n: int, days: int, users: int) -> dict[str, np.ndarray]:
    """Time-ordered events: epoch-ms `ts`, ids in ts order."""
    r = rng_for(seed, "events")
    ts = np.sort(r.integers(EPOCH_2024_MS, EPOCH_2024_MS + days * 24 * HOUR_MS, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts_ms": ts.astype(np.int64),
        "user_id": r.integers(0, users, n).astype(np.int64),
        "event_type": np.asarray(EVENT_TYPES, dtype=object)[r.integers(0, len(EVENT_TYPES), n)],
        "value_cents": r.integers(1, 50_000, n).astype(np.int64),
        "k": r.integers(0, 100, n).astype(np.int64),
    }


def events_table(ev: dict[str, np.ndarray], lo: int = 0, hi: int | None = None) -> pa.Table:
    s = slice(lo, hi)
    return pa.table({
        "event_id": ev["event_id"][s],
        "ts": pa.array(ev["ts_ms"][s] * 1000, pa.timestamp("us")),
        "user_id": ev["user_id"][s],
        "event_type": pa.array(ev["event_type"][s], pa.string()),
        "value": ev["value_cents"][s] / 100.0,
        "props": pa.array([f'{{"k": {k}}}' for k in ev["k"][s]], pa.string()),
    })


def ndjson_lines(ev: dict[str, np.ndarray], lo: int, hi: int) -> str:
    """The producer's wire format: one JSON object per event, epoch-ms
    timestamp (README.rst:42-45), the JSON `props` payload kept opaque."""
    out = []
    for i in range(lo, hi):
        out.append(json.dumps({
            "event_id": int(ev["event_id"][i]),
            "ts": int(ev["ts_ms"][i]),
            "user_id": int(ev["user_id"][i]),
            "event_type": ev["event_type"][i],
            "value": int(ev["value_cents"][i]) / 100.0,
            "props": f'{{"k": {int(ev["k"][i])}}}',
        }))
    return "\n".join(out) + "\n"


def hour_blocks(seed: int, ts_ms: np.ndarray, hours: tuple[int, int]) -> list[tuple[int, int]]:
    """Row ranges of time-ordered arrival blocks cut on hour boundaries.
    Hour alignment keeps each (hour, type) count inside one block, which
    is what lets the granular MV's per-block counts feed the daily states
    without a summing compaction in between (README.rst:129-136)."""
    r = rng_for(seed, "blocks")
    first, last = int(ts_ms[0] // HOUR_MS), int(ts_ms[-1] // HOUR_MS) + 1
    cuts, h = [], first
    while h < last:
        h += int(r.integers(hours[0], hours[1] + 1))
        cuts.append(min(h, last))
    bounds = np.searchsorted(ts_ms, np.asarray(cuts, dtype=np.int64) * HOUR_MS)
    out, lo = [], 0
    for hi in bounds.tolist():
        if hi > lo:
            out.append((lo, hi))
            lo = hi
    return out


def gen_crawl(seed: int, n: int, domains: int) -> dict[str, np.ndarray]:
    """Id-ordered crawl feed: Zipf-skewed registered domains, so heavy
    domains hit the cap early while the tail keeps admitting documents."""
    r = rng_for(seed, "crawl")
    dom = (r.zipf(1.3, n) - 1) % domains
    sub = r.integers(0, 2, n)
    urls = [
        f"https://{'www.' if s else ''}site{d}.{TLDS[d % 4]}/p/{i % 97}"
        for i, (d, s) in enumerate(zip(dom.tolist(), sub.tolist()))
    ]
    return {
        "doc_id": np.arange(1, n + 1, dtype=np.int64),
        "url": np.asarray(urls, dtype=object),
        "domain": np.asarray([f"site{d}.{TLDS[d % 4]}" for d in dom.tolist()], dtype=object),
    }


def _docs(r: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and r.random() < 0.1:  # near-duplicate of an earlier doc
            words = texts[int(r.integers(0, i))].split()
            for j in r.integers(0, len(words), max(1, len(words) // 20)).tolist():
                words[j] = vocab[int(r.integers(0, len(vocab)))]
        else:
            words = vocab[r.integers(0, len(vocab), int(r.integers(20, 80)))].tolist()
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * n, pa.string()),
        "source": pa.array([f"src{int(x)}" for x in r.integers(0, 20, n)], pa.string()),
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })


def write_star_schema(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """The query mix's tables at scale `sf` (sf1 = 6M lineitems), one
    parquet file each; returns the row count per table."""
    r = rng_for(seed, "star")
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    day = np.int64(86_400_000_000)
    t1995 = np.int64(788_918_400_000_000)  # 1995-01-01 in us
    ord_date = t1995 + r.integers(0, 2404, n_ord) * day
    per_order = r.integers(1, 8, n_ord)
    l_ord = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    n_li = len(l_ord)
    l_part = r.integers(0, n_part, n_li).astype(np.int64)
    price = 900.0 + (np.arange(n_part) % 2000) / 10.0
    qty = r.integers(1, 51, n_li).astype(np.float64)
    status = np.asarray(("F", "O", "P"), dtype=object)
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(REGIONS, pa.string())}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": r.integers(-99_999, 999_999, n_cust) / 100.0,
            "c_mktsegment": pa.array(np.asarray(SEGMENTS, dtype=object)[r.integers(0, 5, n_cust)], pa.string()),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": r.integers(-99_999, 999_999, n_supp) / 100.0,
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": pa.array([f"part {i % 97}" for i in range(n_part)], pa.string()),
            "p_brand": pa.array([f"Brand#{i % 25}" for i in range(n_part)], pa.string()),
            "p_type": pa.array(["ECONOMY", "SMALL", "LARGE"][i % 3] for i in range(n_part)),
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": price,
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": pa.array(status[r.integers(0, 3, n_ord)], pa.string()),
            "o_totalprice": r.integers(100_000, 50_000_000, n_ord) / 100.0,
            "o_orderdate": pa.array(ord_date, pa.timestamp("us")),
            "o_orderpriority": pa.array(np.asarray(PRIORITIES, dtype=object)[r.integers(0, 5, n_ord)], pa.string()),
        }),
        "lineitem": pa.table({
            "l_orderkey": l_ord,
            "l_partkey": l_part,
            "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in per_order]), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * price[l_part], 2),
            "l_discount": r.integers(0, 11, n_li) / 100.0,
            "l_tax": r.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pa.array(np.asarray(("A", "N", "R"), dtype=object)[r.integers(0, 3, n_li)], pa.string()),
            "l_linestatus": pa.array(np.asarray(("F", "O"), dtype=object)[r.integers(0, 2, n_li)], pa.string()),
            "l_shipdate": pa.array(ord_date[l_ord] + r.integers(1, 122, n_li) * day, pa.timestamp("us")),
        }),
        "documents": _docs(r, max(50, int(50_000 * sf))),
    }
    ev = gen_events(seed, max(100, int(1_000_000 * sf)), 30, max(10, int(15_000 * sf)))
    tables["events"] = events_table(ev)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
