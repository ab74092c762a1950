"""Seeded table generation for the benchmark workloads.

Every table is a pure function of ``(seed, sf)``: the same pair writes the
same rows into the same file names. Row counts follow the star schema the
repository's workload queries were written against (sf0.1 = 600k
lineitems, 150k orders, 20k parts, 5k documents, 2k embeddings, 100k
events) and scale linearly in ``sf``; file counts are fixed so that file
pruning stays visible at every scale.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SF = 0.1
BASE_ROWS = {"lineitem": 600_000, "orders": 150_000, "part": 20_000,
             "documents": 5_000, "embeddings": 2_000, "events": 100_000,
             "customer": 15_000}

LINEITEM_FILES = 400
PART_FILES = 32
DOC_FILES = 40
ORDERS_FILES = 64

VOCAB = ("batch part spark line column order small sort fast value scan "
         "hash slow group agg filter query big key window row table "
         "stream merge data a vector").split()
LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14
TYPE_SIZES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
TYPE_FINISH = ["ANODIZED", "BRUSHED", "BURNISHED", "PLATED", "POLISHED"]
TYPE_METAL = ["BRASS", "COPPER", "NICKEL", "STEEL", "TIN"]
SHIP_DAY0 = np.datetime64("1995-01-01")
SHIP_DAYS = 2500


def rows(table: str, sf: float) -> int:
    return max(1, int(round(BASE_ROWS[table] * sf / BASE_SF)))


def _rng(seed: int, table: str) -> np.random.Generator:
    # one stream per table, so adding a table never shifts another's rows
    return np.random.default_rng([seed, sum(map(ord, table))])


def key_hash(keys: np.ndarray) -> np.ndarray:
    """Deterministic 32-bit multiplicative hash (hash clustering)."""
    return (keys.astype(np.uint64) * np.uint64(2654435761)) % np.uint64(2**32)


def write_files(table: pa.Table, out_dir: str, file_of_row: np.ndarray,
                n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files, row i into file
    ``file_of_row[i]``, keeping the input row order inside each file."""
    os.makedirs(out_dir, exist_ok=True)
    order = np.argsort(file_of_row, kind="stable")
    bounds = np.searchsorted(file_of_row[order], np.arange(n_files + 1))
    for f in range(n_files):
        idx = order[bounds[f]:bounds[f + 1]]
        pq.write_table(table.take(pa.array(idx)),
                       os.path.join(out_dir, f"part-{f:05d}.parquet"))


def _range_files(n: int, n_files: int) -> np.ndarray:
    return (np.arange(n) * n_files) // n


def write_lineitem(out_dir: str, seed: int, sf: float) -> None:
    """Hash-clustered on ``l_orderkey`` and sorted by it inside each file:
    min/max cannot localise a key, so a point read prunes on the bloom
    filter alone (the reference README's 400-file shape)."""
    rng = _rng(seed, "lineitem")
    n = rows("lineitem", sf)
    n_orders, n_parts = rows("orders", sf), rows("part", sf)
    okey = np.sort(rng.integers(0, n_orders, n))
    qty = rng.integers(1, 51, n).astype(np.float64)
    table = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_parts, n),
        "l_suppkey": rng.integers(0, max(1, n_parts // 20), n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_shipdate": pa.array(
            SHIP_DAY0 + rng.integers(0, SHIP_DAYS, n).astype("timedelta64[D]"),
            pa.date32()),
    })
    write_files(table, out_dir,
                (key_hash(okey) % np.uint64(LINEITEM_FILES)).astype(np.int64),
                LINEITEM_FILES)


def p_types(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.array([f"{a} {b} {c}" for a, b, c in zip(
        rng.choice(TYPE_SIZES, n), rng.choice(TYPE_FINISH, n),
        rng.choice(TYPE_METAL, n))], dtype=object)


def write_part(out_dir: str, seed: int, sf: float) -> None:
    """Range-clustered on ``p_type``: a type prefix lands in few files."""
    rng = _rng(seed, "part")
    n = rows("part", sf)
    ptype = p_types(rng, n)
    order = np.argsort(ptype, kind="stable")
    table = pa.table({
        "p_partkey": np.arange(n, dtype=np.int64)[order],
        "p_brand": pa.array(
            np.array([f"Brand#{b}" for b in rng.integers(1, 26, n)])[order]),
        "p_type": pa.array(ptype[order].tolist(), pa.string()),
        "p_size": rng.integers(1, 51, n).astype(np.int32)[order],
        "p_retailprice": np.round(rng.uniform(900, 1000, n), 2)[order],
    })
    write_files(table, out_dir, _range_files(n, PART_FILES), PART_FILES)


def _texts(rng: np.random.Generator, n: int, tag_every: int = 0) -> list:
    lens = rng.integers(8, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for i, ln in enumerate(lens):
        toks = [VOCAB[w] for w in words[pos:pos + ln]]
        if tag_every:
            # a rare token shared by ``tag_every`` consecutive documents:
            # the term index's needle
            toks.insert(int(ln) // 2, f"tag{i // tag_every}")
        out.append(" ".join(toks))
        pos += ln
    return out


def write_term_documents(out_dir: str, seed: int, sf: float) -> None:
    """Documents range-clustered on ``doc_id``; every 10 consecutive
    documents share one rare ``tag<k>`` token, so a tag lives in one
    file and ``contains_term`` can skip the rest."""
    rng = _rng(seed, "term_documents")
    n = rows("documents", sf)
    texts = _texts(rng, n, tag_every=10)
    table = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n)),
    })
    write_files(table, out_dir, _range_files(n, DOC_FILES), DOC_FILES)


def orders_table(seed: int, sf: float, first_key: int = 0,
                 n: int = None) -> pa.Table:
    rng = _rng(seed + first_key, "orders")
    n = rows("orders", sf) if n is None else n
    return pa.table({
        "o_orderkey": np.arange(first_key, first_key + n, dtype=np.int64),
        "o_custkey": rng.integers(0, rows("customer", sf), n),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n), 2),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n)),
    })


def write_orders(out_dir: str, seed: int, sf: float) -> None:
    """Range-clustered on ``o_orderkey`` (dense keys 0..n-1)."""
    table = orders_table(seed, sf)
    write_files(table, out_dir, _range_files(table.num_rows, ORDERS_FILES),
                ORDERS_FILES)


def write_pipeline_tables(sf_dir: str, seed: int, sf: float) -> None:
    """``documents``, ``embeddings`` and ``events`` as single files named
    ``<table>.parquet``: the layout ``workload.QUERIES`` and their DuckDB
    oracles read."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = _rng(seed, "documents")
    n = rows("documents", sf)
    texts = _texts(rng, n)
    pq.write_table(pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n)),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(sf_dir, "documents.parquet"))

    rng = _rng(seed, "embeddings")
    n = rows("embeddings", sf)
    vecs = rng.normal(0.0, 1.0, (n, 64)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }), os.path.join(sf_dir, "embeddings.parquet"))

    rng = _rng(seed, "events")
    n = rows("events", sf)
    t0 = np.datetime64("2024-01-01").astype("datetime64[us]").astype(np.int64)
    span = 30 * 86_400_000_000
    pq.write_table(pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(np.sort(t0 + rng.integers(0, span, n)),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, max(rows("customer", sf) // 10, 1), n),
        "event_type": pa.array(rng.choice(
            ["click", "view", "purchase", "signup", "error"], n)),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    }), os.path.join(sf_dir, "events.parquet"))
