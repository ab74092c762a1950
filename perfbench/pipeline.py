"""The operator and streaming queries of a traced ``lookup`` run: a fixed
list of ``workload.QUERIES`` entries, each timed warm with ``.collect()``.

``collect()`` rather than ``count()``: a count lets Catalyst prune the
dedup pair stages away, so it would not measure them. The index is not
used, so a pruning change must leave these figures unchanged. Each result
is checked against the query's DuckDB oracle with the stringify compare
of ``tools/parity_diag``.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

# six of the twelve queries the benchmark was specified with, one or two
# per operator family; the full list would take a traced run past its
# time limit (README)
QUERIES = ("span_dedup_stats", "semantic_dedup_stats", "bm25_search",
           "quality_gate_by_lang", "asof_join_events",
           "stream_windowed_counts")
PASSES = 1  # timed passes, after two warm-up passes
TABLES = ("documents", "embeddings", "events")


def oracle_answers(sf_dir: str) -> dict:
    """query name -> (sorted stringified rows, sorted column names)."""
    from parquet_index_spark.workload import QUERIES as ALL
    from tools.parity_diag import frame_rows
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(sf_dir, t + '.parquet')}'")
        return {q: frame_rows(con.sql(ALL[q][1]).df()) for q in QUERIES}
    finally:
        con.close()


def run_query(spark, sf_dir: str, name: str, tracer) -> tuple:
    from parquet_index_spark.workload import QUERIES as ALL
    with tracer.span("operators.compose"):
        df = ALL[name][0](spark, sf_dir)
    with tracer.span("spark.action"):
        rows = df.collect()
    return rows, df.columns


def check(expected: tuple, got: tuple) -> bool:
    from tools.parity_diag import frame_rows
    rows, columns = got
    pdf = pd.DataFrame.from_records([tuple(r) for r in rows],
                                    columns=columns)
    return frame_rows(pdf) == expected
