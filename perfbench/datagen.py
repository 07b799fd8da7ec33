"""Seeded input generator for the benchmark workloads.

Writes the ten fixture tables (TPC-H-like star schema plus `events`,
`documents` and `embeddings`) with the schemas and value domains the
program's readers expect. Table *content* depends only on the scale and
GENERATOR_VERSION; the benchmark seed permutes the row order of the
star-schema tables, so results of ordered queries are seed-independent
and can be checked against stored expectations.

Keys and referential integrity follow the fixture layout: dense
0-based keys per table, every foreign key drawn from the referenced
table's key range, nation -> region by `n % 5`.
"""
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 1
CONTENT_SEED = 20240101

# rows at scale 1.0 (the shape of the sf0.1 fixture set)
BASE_ROWS = {"supplier": 1_000, "customer": 15_000, "part": 20_000,
             "orders": 150_000, "lineitem": 600_000}
STAR = ["region", "nation", "supplier", "customer", "part", "orders",
        "lineitem"]
SIDE = ["events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["red", "gear", "small", "hot", "cold", "old", "gizmo", "widget",
              "ring", "plate", "anvil", "bolt", "rod", "new", "large", "blue"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = ["spark", "window", "merge", "table", "column", "vector",
             "stream", "value", "data", "small", "join", "filter", "big",
             "group", "hash", "customer", "sort", "order", "slow", "line",
             "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
             "batch"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _days(lo, hi):
    return (np.datetime64(lo, "D"), np.datetime64(hi, "D"))


def _uniform_days(rng, n, lo, hi):
    a, b = _days(lo, hi)
    d = rng.integers(0, int((b - a).astype(int)) + 1, n)
    return (a + d.astype("timedelta64[D]")).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)].tolist(), pa.string())


def star_tables(scale):
    """The star schema at `scale` x the sf0.1 row counts, in key order."""
    rng = np.random.default_rng(CONTENT_SEED)
    n = {k: max(1, int(round(v * scale))) for k, v in BASE_ROWS.items()}
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99)})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, nc)})
    npart = n["part"]
    w = np.asarray(PART_WORDS, dtype=object)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": pa.array((w[rng.integers(0, len(w), npart)] + " " +
                            w[rng.integers(0, len(w), npart)]).tolist()),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, npart)]),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 2)})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": pa.array(_uniform_days(rng, no, "1995-01-01",
                                              "2001-08-01"),
                                pa.timestamp("us")),
        "o_orderpriority": _pick(rng, PRIORITIES, no)})
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": pa.array(_uniform_days(rng, nl, "1995-01-02",
                                             "2001-11-04"),
                               pa.timestamp("us"))})
    return t


def side_tables(scale):
    """events / documents / embeddings at `scale` x the sf0.1 sizes."""
    rng = np.random.default_rng(CONTENT_SEED + 1)
    t = {}
    ne = max(1, int(round(100_000 * scale)))
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(start + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, ne), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, ne)])})
    nd = max(20, int(round(5_000 * scale)))
    vocab = np.asarray(DOC_WORDS, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab),
                                         rng.integers(10, 101))])
             for _ in range(nd)]
    # 5% near-duplicates: another document's text plus one marker token
    for i in rng.choice(nd, nd // 20, replace=False):
        src = int(rng.integers(0, nd))
        if src != i:
            texts[i] = texts[src] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, nd, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    nv, dim = max(20, int(round(2_000 * scale))), 64
    v = rng.standard_normal((nv, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return t


def _write(table, path):
    tmp = path.with_suffix(".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _stats(d, names):
    out = {}
    for name in names:
        p = d / f"{name}.parquet"
        out[name] = {"rows": pq.ParquetFile(p).metadata.num_rows,
                     "bytes": p.stat().st_size}
    return out


KEEP_SEEDS = 3  # generated seeds kept in the cache besides the current one


def ensure_inputs(cache_root, scale, seed):
    """Directory holding all ten tables for (scale, seed); built once.

    The star schema is permuted by `seed`; the side tables are shared by
    every seed. Returns (dir, {table: {rows, bytes}}).
    """
    base = Path(cache_root) / f"v{GENERATOR_VERSION}_s{scale:g}"
    side = base / "side"
    if not (side / "_DONE").exists():
        side.mkdir(parents=True, exist_ok=True)
        for name, tab in side_tables(scale).items():
            _write(tab, side / f"{name}.parquet")
        (side / "_DONE").write_text("ok")
    d = base / f"seed{seed}"
    if not (d / "_DONE").exists():
        if d.exists():
            shutil.rmtree(d)
        d.mkdir(parents=True)
        perm_rng = np.random.default_rng([seed, GENERATOR_VERSION])
        for name, tab in star_tables(scale).items():
            _write(tab.take(perm_rng.permutation(tab.num_rows)),
                   d / f"{name}.parquet")
        for name in SIDE:
            os.link(side / f"{name}.parquet", d / f"{name}.parquet")
        stats = _stats(d, STAR + SIDE)
        (d / "_STATS.json").write_text(json.dumps(stats, sort_keys=True))
        (d / "_DONE").write_text("ok")
        # keep the cache bounded: drop the least recently built seeds
        old = sorted((p for p in base.glob("seed*") if p != d),
                     key=lambda p: p.stat().st_mtime)
        for p in old[:max(0, len(old) - KEEP_SEEDS)]:
            shutil.rmtree(p, ignore_errors=True)
    return d, json.loads((d / "_STATS.json").read_text())
