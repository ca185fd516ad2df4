"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables the query registry reads (the star schema,
``events``, ``documents`` and ``embeddings``) with the column names, types
and value domains of the engine's reference fixtures: dense 0-based keys,
uniform foreign keys, 2-decimal money, midnight order and ship dates,
exponential event gaps and values, a 30-word document vocabulary with
planted exact and one-token near duplicates, and unit-norm 64-dim float
vectors. The same ``seed`` and ``scale`` give byte-identical tables;
``scale=1.0`` gives the row counts of the reference sf0.1 fixture.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table at scale 1.0 (the reference sf0.1 fixture)
BASE_ROWS = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000,
    "orders": 150_000, "lineitem": 600_000, "events": 100_000,
    "documents": 5_000, "embeddings": 2_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = (["en", "de", "es", "fr", "zh"], [0.41, 0.14, 0.15, 0.15, 0.15])
EMB_DIM = 64
EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_SPAN_S = 30 * 86_400
#: the streaming source's file count: one micro-batch per file
STREAM_FILES = 2


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first: dt.date, last: dt.date, n: int) -> pa.Array:
    span = (last - first).days
    day0 = np.datetime64(first, "D")
    days = day0 + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _star(rng, n: dict[str, int]) -> dict[str, pa.Table]:
    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                       "r_name": REGIONS})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    customer = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    })
    ns = n["supplier"]
    supplier = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    part = pa.table({
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(rng.choice(PART_ADJ, npart), " "),
                              rng.choice(PART_NOUN, npart)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })
    no = n["orders"]
    orders = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })
    nl = n["lineitem"]
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
        "l_partkey": rng.integers(0, npart, nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": np.round(rng.uniform(0.0, 0.10, nl), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def _events(rng, ne: int) -> pa.Table:
    gaps = rng.exponential(1.0, ne)
    offsets_us = (np.cumsum(gaps) / gaps.sum() * (EVENTS_SPAN_S - 60)
                  * 1e6).astype(np.int64) + 10_000_000
    ts = np.datetime64(EVENTS_START, "us") + offsets_us.astype("timedelta64[us]")
    n_users = max(10, ne * 3 // 200)
    return pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, ne, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })


def _documents(rng, nd: int) -> pa.Table:
    lengths = rng.integers(10, 101, nd)
    words = np.asarray(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # near duplicates: 5 % of docs copy an earlier doc plus one token;
    # exact duplicates: 0.16 % copy an earlier doc verbatim
    for i in rng.choice(np.arange(1, nd), nd // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, nd), max(1, nd * 8 // 5000), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    return pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS[0], nd, p=LANGS[1]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def _embeddings(rng, nv: int) -> pa.Table:
    v = rng.standard_normal((nv, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.reshape(-1)), EMB_DIM).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    })


def generate(out_dir: str, seed: int, scale: float,
             tables: tuple[str, ...]) -> dict[str, pa.Table]:
    """Write ``<out_dir>/<table>.parquet`` for each of ``tables`` and return
    them. Every table group draws from its own child stream of ``seed``, so
    a table does not depend on which others were asked for."""
    n = {t: max(10, int(round(rows * scale))) for t, rows in BASE_ROWS.items()}
    streams = dict(zip(("star", "events", "documents", "embeddings"),
                       np.random.SeedSequence(seed).spawn(4)))
    makers = {
        "star": lambda r: _star(r, n),
        "events": lambda r: {"events": _events(r, n["events"])},
        "documents": lambda r: {"documents": _documents(r, n["documents"])},
        "embeddings": lambda r: {"embeddings": _embeddings(r, n["embeddings"])},
    }
    os.makedirs(out_dir, exist_ok=True)
    out: dict[str, pa.Table] = {}
    for group, make in makers.items():
        made = make(np.random.default_rng(streams[group]))
        for name, table in made.items():
            if name in tables:
                pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
                out[name] = table
    return out


def write_event_stream(events: pa.Table, out_dir: str,
                       n_files: int = STREAM_FILES) -> None:
    """Split ``events`` (ts-ordered) into ``n_files`` contiguous time slices,
    one parquet file each, with increasing modification times: a file
    source with ``maxFilesPerTrigger=1`` then reads one slice per
    micro-batch in event-time order, so no row arrives behind the
    watermark and the finalized windows equal the batch twin's."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, events.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(events.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        stamp = 1_700_000_000 + i
        os.utime(path, (stamp, stamp))
