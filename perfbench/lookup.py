"""``lookup``: a seeded stream of selective indexed reads over three
tables built in set-up.

All three tables fit the metastore's metadata cache, so reads take the
hot path and the driver's numpy fold. A traced run repeats one query of
each kind with ``spark.sql.index.pruning.sparkThreshold=0``, so every
fold runs as Spark jobs (``pruning_spark``). Answers and the files that
hold a match are computed in set-up with DuckDB over the same parquet
files.
"""

from __future__ import annotations

import datetime
import os

import duckdb
import numpy as np

from perfbench import data

# queries of each kind in one pass of the stream. Point reads, the
# reference's headline use, are most of it, so the median is the middle
# of 20 point reads rather than a boundary between kinds, and the 90th
# percentile lies among the four kinds that read many files
KINDS = {"point": 20, "in5": 1, "partkey": 1, "shipweek": 1, "ptype": 1,
         "term": 1, "count": 1}

LINEITEM_INDEX = ("l_orderkey", "l_partkey", "l_shipdate")


class Query:
    def __init__(self, kind: str, table: str, where: str, term: str = None):
        self.kind = kind
        self.table = table
        self.where = where  # SQL predicate, shared by Spark and DuckDB
        self.term = term    # contains_term needle (documents)
        self.rows = None    # expected answer: sorted rows, or a count
        self.files = None   # basenames of files holding >= 1 match


def make_stream(seed: int, sf: float) -> list:
    """One pass of the query stream: ``KINDS[kind]`` queries of each kind
    in a seeded order."""
    rng = np.random.default_rng([seed, 7])
    n_orders, n_parts = data.rows("orders", sf), data.rows("part", sf)
    n_tags = data.rows("documents", sf) // 10
    out = []
    for kind, n in KINDS.items():
        for _ in range(n):
            if kind == "point":
                # keys up to 5% past the domain: absent keys prune to 0 files
                k = int(rng.integers(0, n_orders + n_orders // 20 + 1))
                out.append(Query(kind, "lineitem", f"l_orderkey = {k}"))
            elif kind == "in5":
                ks = sorted(int(k) for k in rng.integers(0, n_orders, 5))
                out.append(Query(kind, "lineitem", "l_orderkey IN ("
                                 + ", ".join(map(str, ks)) + ")"))
            elif kind == "partkey":
                k = int(rng.integers(0, n_parts))
                out.append(Query(kind, "lineitem", f"l_partkey = {k}"))
            elif kind == "shipweek":
                d = data.SHIP_DAY0 + int(rng.integers(0, data.SHIP_DAYS - 7))
                lo = datetime.date.fromisoformat(str(d))
                hi = lo + datetime.timedelta(days=7)
                out.append(Query(kind, "lineitem",
                                 f"l_shipdate >= DATE '{lo}' AND "
                                 f"l_shipdate < DATE '{hi}'"))
            elif kind == "ptype":
                prefix = (f"{rng.choice(data.TYPE_SIZES)} "
                          f"{rng.choice(data.TYPE_FINISH)}")
                out.append(Query(kind, "part", f"p_type LIKE '{prefix}%'"))
            elif kind == "term":
                # one needle in 8 names a tag no document carries
                k = int(rng.integers(0, n_tags + n_tags // 8 + 1))
                out.append(Query(kind, "documents",
                                 f"list_contains(string_split(text, ' '), "
                                 f"'tag{k}')", term=f"tag{k}"))
            else:
                lo = int(rng.integers(0, n_orders))
                hi = lo + max(1, n_orders // 100)
                out.append(Query(kind, "lineitem",
                                 f"l_orderkey >= {lo} AND l_orderkey < {hi}"))
    order = rng.permutation(len(out))
    return [out[i] for i in order]


class Tables:
    """The three indexed tables of one set-up, under ``root``."""

    def __init__(self, root: str):
        self.root = root
        self.metastore = os.path.join(root, "metastore")
        self.paths = {t: os.path.join(root, t)
                      for t in ("lineitem", "part", "documents")}


def write_tables(tables: Tables, seed: int, sf: float) -> None:
    data.write_lineitem(tables.paths["lineitem"], seed, sf)
    data.write_part(tables.paths["part"], seed, sf)
    data.write_term_documents(tables.paths["documents"], seed, sf)


def build_indexes(spark, ctx, tables: Tables) -> None:
    spark.conf.set("spark.sql.index.metastore", tables.metastore)
    ctx.index.create.mode("overwrite").indexBy(*LINEITEM_INDEX) \
        .parquet(tables.paths["lineitem"])
    key = "spark.sql.index.parquet.filter.type"
    spark.conf.set(key, "dict")
    try:
        ctx.index.create.mode("overwrite").indexBy("p_type") \
            .parquet(tables.paths["part"])
    finally:
        spark.conf.unset(key)
    ctx.index.create.mode("overwrite").indexBy("doc_id") \
        .termIndexBy("text").parquet(tables.paths["documents"])


def answer(stream: list, tables: Tables) -> None:
    """Fill every query's expected answer and matching-file set."""
    con = duckdb.connect()
    try:
        for t, path in tables.paths.items():
            con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet("
                        f"'{path}/*.parquet', filename = true)")
        for q in stream:
            if q.kind == "count":
                got = con.execute(
                    f"SELECT filename, count(*) FROM {q.table} "
                    f"WHERE {q.where} GROUP BY filename").fetchall()
                q.rows = sum(n for _, n in got)
                q.files = {os.path.basename(f) for f, _ in got}
            else:
                got = con.execute(f"SELECT * FROM {q.table} "
                                  f"WHERE {q.where}").fetchall()
                q.rows = sorted(r[:-1] for r in got)
                q.files = {os.path.basename(r[-1]) for r in got}
    finally:
        con.close()


def run_query(ctx, tables: Tables, q: Query, tracer):
    """The timed read: load the index (metastore cache), prune, scan and
    collect."""
    t = ctx.index.parquet(tables.paths[q.table])
    if q.kind == "count":
        return t.count_where(q.where)
    df = t.contains_term("text", q.term) if q.term else t.filter(q.where)
    with tracer.span("spark.action"):
        return df.collect()


def check(q: Query, got) -> bool:
    if q.kind == "count":
        return got == q.rows
    return sorted(tuple(r) for r in got) == q.rows
