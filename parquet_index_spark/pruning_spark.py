"""Distributed pruning: fold the predicate with a Spark job over the
metadata parquet instead of driver-side numpy.

The numpy fold (pruning.py) needs the whole stats table in driver memory —
fine up to a few million row groups, but a 100 TB table with small row
groups can push metadata past driver RAM. This path expresses the same
fold as a Spark aggregation over the stats *parquet* directly:

    stats (long format, one row per file x block x column)
      -> conditional-aggregation pivot per (path, block) over the
         referenced columns only
      -> pruning._fold over `_ColumnOps`: the lattice both folds share,
         answered with Columns instead of bool arrays
      -> bool_or per path -> surviving file list

Membership (dict/bloom/bitmap) refinement applies here too (round-2): dict
filters fold as ``arrays_overlap`` on the metadata's list column — pure
codegen; blooms and dense int bitmaps probe through an Arrow-batched pandas
UDF over the binary column (executor-side, no driver collect), dispatched
on the serialization magic. The reference applies the same
per-block refinement in ParquetIndexFilters.scala:54-75. The engine
auto-switches to this path based on
``spark.sql.index.pruning.sparkThreshold`` (block count).
"""

from __future__ import annotations

import os
from typing import List

import pandas as pd

from pyspark.sql import SparkSession, Window, functions as F

from parquet_index_spark import collector, predicates as P
from parquet_index_spark import types as ityp
from parquet_index_spark.pruning import _fold, statless

SPARK_PRUNING_THRESHOLD = "spark.sql.index.pruning.sparkThreshold"
DEFAULT_THRESHOLD = 5_000_000


def _pivot_stats(stats_df, columns: List[str]):
    """Wide per-(path, block) frame for the referenced columns, membership
    payloads included (exactly one stats row exists per path x block x
    column, so first(ignorenulls) is exact)."""
    aggs = [F.first("rows").alias("__rows")]
    for c in columns:
        is_c = F.col("column") == c
        aggs += [
            F.max(F.when(is_c, F.col("has_stats"))).alias(f"{c}__has"),
            F.max(F.when(is_c, F.col("nulls"))).alias(f"{c}__nulls"),
            F.max(F.when(is_c, F.col("min_long"))).alias(f"{c}__min_l"),
            F.max(F.when(is_c, F.col("max_long"))).alias(f"{c}__max_l"),
            F.max(F.when(is_c, F.col("min_str"))).alias(f"{c}__min_s"),
            F.max(F.when(is_c, F.col("max_str"))).alias(f"{c}__max_s"),
            F.first(F.when(is_c, F.col("dict_long")), ignorenulls=True)
             .alias(f"{c}__dict_l"),
            F.first(F.when(is_c, F.col("dict_str")), ignorenulls=True)
             .alias(f"{c}__dict_s"),
            F.first(F.when(is_c, F.col("bloom")), ignorenulls=True)
             .alias(f"{c}__bloom"),
        ]
    return stats_df.groupBy("path", "block").agg(*aggs)


def _bloom_any_probe(h1, h2, int_values: List[int]):
    """Arrow-batched UDF: membership binary -> might-contain-any(values),
    dispatched on the serialization magic (bloom or dense bitmap).

    The probe values' hash pairs (uint64 arrays h1, h2) are computed
    driver-side and baked into the closure; each batch row runs the numpy
    multi-value probe the driver fold runs over a whole column
    (`statistics._bloom_any`, `_bitmap_any`) on its one filter —
    executor-side, no driver involvement, no hashing in the UDF."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def probe(blooms: pd.Series) -> pd.Series:
        from parquet_index_spark.statistics import (
            BloomFilter, BitmapFilter, _BITMAP_MAGIC)
        out = []
        for b in blooms:
            if b is None or len(b) == 0:
                out.append(True)
                continue
            try:
                raw = bytes(b)
                if raw[:8] == _BITMAP_MAGIC:
                    out.append(BitmapFilter.from_bytes(raw)
                               .might_contain_any(int_values))
                else:
                    out.append(BloomFilter.from_bytes(raw)
                               .might_contain_any(h1, h2))
            except ValueError:
                out.append(True)  # unknown format => scan (sound)
        return pd.Series(out)

    return probe


# (applicationId, blob md5) -> Broadcast, insertion-ordered for
# eviction: re-compiling the same InBloom (retries, explain + prune,
# repeated joins on one dim) must not re-broadcast a tens-of-MB blob,
# and a long-lived session must not accumulate one broadcast per join
# call (round-9 review). Keyed by the context's applicationId, NOT
# the CPython id of the session: ids are reused after GC, so a new session could
# hit a dead session's cache entry and hand its tasks a broadcast from
# a stopped SparkContext (round-9 ADVICE). A dead app's entries simply
# age out of the bounded cache. Evicted entries are unpersisted
# (executor copies drop; the driver can still re-serve an in-flight
# task).
_BLOB_BROADCASTS: dict = {}
_BLOB_BROADCASTS_MAX = 4


def _dict_vs_filter_probe(blob: bytes):
    """Arrow-batched UDF: (dict_long, dict_str, filter_blob) ->
    might-any-value-hit the broadcast dim-key bloom
    (``predicates.InBloom``, distributed fold side). The blob rides a
    Spark broadcast (it can be tens of MB for a 10M-key dim — per-task
    closure shipping would resend it), is deserialized once per python
    worker, and each dict block costs one vectorized hash pass (longs)
    / one probe per unique value (strings); bitmap blocks enumerate
    their exact set bits. Blocks without exact evidence return True
    (cannot refute — sound)."""
    import hashlib

    from pyspark.sql import SparkSession
    from pyspark.sql.functions import pandas_udf

    spark = SparkSession.getActiveSession()
    key = (spark.sparkContext.applicationId,
           hashlib.md5(bytes(blob)).hexdigest())
    bc = _BLOB_BROADCASTS.get(key)
    if bc is None:
        bc = spark.sparkContext.broadcast(bytes(blob))
        _BLOB_BROADCASTS[key] = bc
        while len(_BLOB_BROADCASTS) > _BLOB_BROADCASTS_MAX:
            oldest = next(iter(_BLOB_BROADCASTS))
            old = _BLOB_BROADCASTS.pop(oldest)
            try:
                old.unpersist(blocking=False)
            except Exception:  # noqa: BLE001 — stopped context
                pass
    _cache: dict = {}

    @pandas_udf("boolean")
    def probe(dl: pd.Series, ds: pd.Series, blob: pd.Series) -> pd.Series:
        import numpy as np

        from parquet_index_spark.statistics import (_BITMAP_MAGIC,
                                                    BitmapFilter,
                                                    BloomFilter)
        bf = _cache.get("bf")
        if bf is None:
            try:
                bf = BloomFilter.from_bytes(bc.value)
            except Exception:  # noqa: BLE001 — unknown blob => scan
                bf = False
            _cache["bf"] = bf
        if bf is False:
            return pd.Series([True] * len(dl))
        out = []
        for a, s, b in zip(dl, ds, blob):
            if a is not None and len(a):
                out.append(bool(bf.might_contain_longs_vectorized(
                    np.asarray(a, dtype=np.int64)).any()))
            elif s is not None and len(s):
                out.append(any(bf.might_contain(x, ityp.STRING)
                               for x in set(s)))
            elif b is not None and bytes(b[:8]) == _BITMAP_MAGIC:
                # bitmap = exact long-space value set: enumerate the set
                # bits and probe (same refutation rule as dict)
                try:
                    bm = BitmapFilter.from_bytes(bytes(b))
                except ValueError:
                    out.append(True)
                    continue
                pos = np.nonzero(np.unpackbits(
                    np.frombuffer(bytes(bm.bits), dtype=np.uint8),
                    bitorder="little"))[0]
                pos = pos[pos < bm.num_bits]
                out.append(bool(len(pos)) and bool(
                    bf.might_contain_longs_vectorized(
                        (bm.vmin + pos).astype(np.int64)).any()))
            else:
                out.append(True)
        return pd.Series(out)

    return probe


class _ColumnOps:
    """The Spark backend of `pruning._fold`: boolean Columns over the
    pivoted stats (`_pivot_stats`, `_prepare_pivot`). Membership probes
    apply to ``memb_cols`` only — the columns whose pivoted frame carries
    __dict_l/__dict_s/__bloom; partition pseudo-columns don't."""

    def __init__(self, kinds: dict, memb_cols: frozenset = frozenset()):
        self.kinds = kinds
        self.memb_cols = memb_cols

    @staticmethod
    def const(value: bool) -> F.Column:
        return F.lit(bool(value))

    @staticmethod
    def settled(out: F.Column, value: bool) -> bool:
        return False  # a Column's value is known only inside the job

    def kind(self, column: str):
        return self.kinds.get(column)

    def stats(self, column: str):
        sfx = "_s" if self.kinds[column] == ityp.STRING else "_l"
        return (F.coalesce(F.col(f"{column}__has"), F.lit(False)),
                F.coalesce(F.col(f"{column}__nulls"), F.lit(-1)),
                F.col("__rows"),
                F.col(f"{column}__min{sfx}"), F.col(f"{column}__max{sfx}"))

    @staticmethod
    def known(mask: F.Column) -> F.Column:
        # a NULL comparison proves nothing either way
        return F.coalesce(mask, F.lit(False))

    def membership(self, column: str, kind: str, out: F.Column,
                   values: list) -> F.Column:
        """Dict/bloom refinement over already-normalized values.

        dict: arrays_overlap against the literal array (whole-stage
        codegen); bloom: pandas-UDF probe; no filter: pass (sound)."""
        if column not in self.memb_cols:
            return out
        int_vals = [v for v in values if not isinstance(v, str)]
        str_vals = [v for v in values if isinstance(v, str)]
        dl, ds = F.col(f"{column}__dict_l"), F.col(f"{column}__dict_s")
        bloom = F.col(f"{column}__bloom")
        has_dl = dl.isNotNull() & (F.size(dl) > 0)
        has_ds = ds.isNotNull() & (F.size(ds) > 0)
        dl_ok = F.arrays_overlap(
            dl, F.array(*[F.lit(int(v)) for v in int_vals])
            .cast("array<bigint>")) if int_vals else F.lit(False)
        ds_ok = F.arrays_overlap(
            ds, F.array(*[F.lit(v) for v in str_vals])) \
            if str_vals else F.lit(False)
        from parquet_index_spark.statistics import hash_pairs_for
        bloom_ok = _bloom_any_probe(*hash_pairs_for(values), int_vals)(bloom)
        return out & (F.when(has_dl, dl_ok)
                      .when(has_ds, ds_ok)
                      .when(bloom.isNotNull(), bloom_ok)
                      .otherwise(F.lit(True)))

    def prefix_membership(self, column: str, out: F.Column,
                          prefix: str) -> F.Column:
        """A string dict with no member starting with ``prefix`` refutes
        the block; blooms hold no prefix evidence and pass."""
        if column not in self.memb_cols:
            return out
        ds = F.col(f"{column}__dict_s")
        has_ds = ds.isNotNull() & (F.size(ds) > 0)
        ds_ok = F.exists(ds, lambda x: x.startswith(F.lit(prefix)))
        return out & F.when(has_ds, ds_ok).otherwise(F.lit(True))

    def in_bloom(self, column: str, kind: str, blob: bytes) -> F.Column:
        if column not in self.memb_cols:
            return F.lit(True)
        return _dict_vs_filter_probe(blob)(
            F.col(f"{column}__dict_l"), F.col(f"{column}__dict_s"),
            F.col(f"{column}__bloom"))


def compile_to_spark(pred: P.Predicate, kinds: dict, tz: str = None,
                     memb_cols: frozenset = frozenset()) -> F.Column:
    """AST -> boolean Column with the pruning fold semantics, including
    dict/bloom membership refinement for the columns in ``memb_cols``
    (those whose pivoted frame carries __dict_l/__dict_s/__bloom; partition
    pseudo-columns don't). ``kinds``: indexed/partition column -> kind;
    ``tz``: session timezone for instant-timestamp literal localization."""
    return _fold(P.push_not_down(pred), _ColumnOps(kinds, memb_cols), tz,
                 False)


def compile_full_to_spark(pred: P.Predicate, kinds: dict,
                          tz: str = None) -> F.Column:
    """AST -> boolean Column "every row of the block satisfies pred"."""
    return _fold(P.push_not_down(pred), _ColumnOps(kinds), tz, True)


def _manifest_df(spark: SparkSession, metadata):
    """The committed file manifest as a 1-column DataFrame for in-job
    orphan filtering (manifest is the commit point; stats rows for paths
    outside it are leftovers from an interrupted refresh)."""
    return spark.createDataFrame(
        [(p,) for p in metadata.files["path"]], "path string")


def _prepare_pivot(spark: SparkSession, metadata, referenced: set,
                   tz: str = None):
    """Shared front half of every distributed fold: read the stats
    parquet, pivot the referenced columns wide per (path, block), and
    join partition values in as exact pseudo-stats (min == max == value,
    as metastore.IndexMetadata._build_context builds them).

    -> (pivoted | None, kinds, memb_cols); None when the index has no
    stats shards (empty table)."""
    import json

    stats_path = os.path.join(metadata.index_dir, "stats")
    has_shards = os.path.isdir(stats_path) and any(
        f.endswith(".parquet") for f in os.listdir(stats_path))
    if not has_shards:
        return None, {}, frozenset()
    # the membership probes are pandas UDFs that import this package on
    # the executors' Python workers, in sessions that never ran a build
    collector._ensure_package_shipped(spark)
    stats_df = spark.read.parquet(stats_path)

    kinds = {c: k for c, k in metadata.index_columns.items() if c in referenced}
    pivoted = _pivot_stats(stats_df, sorted(kinds))

    # instant-timestamp partition values are wall-clock directory strings;
    # fold them in wall space (NTZ) so no session-tz localization applies
    part_kinds = {c: (ityp.TIMESTAMP_NTZ if k == ityp.TIMESTAMP else k)
                  for c, k in metadata.partition_columns.items()
                  if c in referenced}
    if part_kinds:
        rows = []
        for rec in metadata.files.to_dict("records"):
            pv = json.loads(rec["partition_json"])
            row = {"path": rec["path"]}
            for c, k in part_kinds.items():
                raw = pv.get(c)
                row[f"{c}__pv"] = None if raw in (None, "__HIVE_DEFAULT_PARTITION__") \
                    else ityp.parse_partition_value(raw, k)
            rows.append(row)
        pf = spark.createDataFrame(rows)
        pivoted = pivoted.join(F.broadcast(pf), "path", "left")
        for c, k in part_kinds.items():
            pv = F.col(f"{c}__pv")
            pivoted = (pivoted
                       .withColumn(f"{c}__has", pv.isNotNull())
                       .withColumn(f"{c}__nulls",
                                   F.when(pv.isNull(), F.col("__rows"))
                                   .otherwise(F.lit(0)))
                       .withColumn(f"{c}__min_l" if k != ityp.STRING else f"{c}__min_s", pv)
                       .withColumn(f"{c}__max_l" if k != ityp.STRING else f"{c}__max_s", pv))
        kinds.update(part_kinds)
    memb_cols = frozenset(c for c in kinds if c in metadata.index_columns)
    return pivoted, kinds, memb_cols


def prune_files_with_spark(spark: SparkSession, metadata,
                           pred: P.Predicate, tz: str = None) -> List[str]:
    """Distributed equivalent of pruning.prune_files, membership
    refinement included.

    Partition-column predicates are folded too: partition values join in
    from the file manifest as exact pseudo-stats (`_prepare_pivot`).
    """
    pivoted, kinds, memb_cols = _prepare_pivot(
        spark, metadata, P.referenced_columns(pred), tz)
    if pivoted is None:
        return []
    match = compile_to_spark(pred, kinds, tz, memb_cols=memb_cols)
    survivors = (pivoted.withColumn("__match", match)
                 .groupBy("path")
                 .agg(F.max(F.col("__match").cast("int")).alias("m"))
                 .filter("m = 1")
                 .select("path"))
    manifest = set(metadata.files["path"])
    # drop orphan stats paths from an interrupted refresh (the manifest
    # is the commit point)
    return [r["path"] for r in survivors.collect() if r["path"] in manifest]


def count_files_with_spark(spark: SparkSession, metadata,
                           pred: P.Predicate, tz: str = None):
    """Distributed three-band count decomposition.

    -> (meta_count, boundary_paths): exact row total of files proven
    all-FULL by the fold, plus the file list that must be scanned with
    the residual predicate. One Spark aggregation over the stats parquet;
    only the boundary path list (bounded: these files get scanned anyway)
    and one long reach the driver."""
    pivoted, kinds, memb_cols = _prepare_pivot(
        spark, metadata, P.referenced_columns(pred), tz)
    if pivoted is None:
        return 0, []
    may = compile_to_spark(pred, kinds, tz, memb_cols=memb_cols)
    full = compile_full_to_spark(pred, kinds, tz)
    per_path = (pivoted
                .withColumn("__may", may).withColumn("__full", full)
                .groupBy("path")
                .agg(F.max((F.col("__may") & ~F.col("__full"))
                           .cast("int")).alias("b"),
                     F.sum(F.when(F.col("__full"), F.col("__rows"))
                           .otherwise(F.lit(0))).alias("fr")))
    # manifest join runs IN the job (orphan stats from an interrupted
    # refresh must not count), and the full-file total is aggregated
    # in-job too: only one long and the boundary path list (bounded —
    # these files get scanned anyway) ever reach the driver
    per_path = per_path.join(F.broadcast(_manifest_df(spark, metadata)),
                             "path", "inner")
    # the scan also reads a file that shares a directory with one boundary
    # file and its name with another (manager._read_by_scan), and counts
    # it: such a file is left out of the metadata total
    in_dir = F.max("b").over(Window.partitionBy(
        F.regexp_extract("path", "^(.*)/", 1)))
    named = F.max("b").over(Window.partitionBy(
        F.substring_index("path", "/", -1)))
    per_path = per_path.withColumn("r", in_dir * named)
    row = per_path.agg(
        F.sum(F.when((F.col("b") == 0) & (F.col("r") == 0), F.col("fr"))
              .otherwise(F.lit(0))).alias("meta"),
        F.collect_list(F.when(F.col("b") == 1, F.col("path"))).alias("bp")
    ).head()
    return int(row["meta"] or 0), sorted(row["bp"])


def min_max_files_with_spark(spark: SparkSession, metadata, column: str,
                             pred: P.Predicate = None, tz: str = None):
    """Distributed three-band min/max decomposition for ``column``.

    -> (lo, hi, scan_paths) with lo/hi in STAT space (long or str, None
    when metadata alone proves nothing). Files needing a scan: boundary
    blocks, or full-match blocks whose stats for ``column`` are absent
    yet possibly non-null."""
    referenced = set(P.referenced_columns(pred)) if pred is not None else set()
    referenced.add(column)
    pivoted, kinds, memb_cols = _prepare_pivot(spark, metadata, referenced, tz)
    if pivoted is None:
        return None, None, []
    if pred is None:
        may = F.lit(True)
        full = F.lit(True)
    else:
        may = compile_to_spark(pred, kinds, tz, memb_cols=memb_cols)
        full = compile_full_to_spark(pred, kinds, tz)
    kind = kinds.get(column)
    if kind is None:
        # agg column not indexed: nothing provable, scan all may-files
        survivors = (pivoted.withColumn("__may", may)
                     .groupBy("path")
                     .agg(F.max(F.col("__may").cast("int")).alias("m"))
                     .filter("m = 1").select("path")
                     .join(F.broadcast(_manifest_df(spark, metadata)),
                           "path", "inner"))
        return None, None, sorted(r["path"] for r in survivors.collect())
    has, nulls, rows, mn_col, mx_col = _ColumnOps(kinds).stats(column)
    scan_block = (may & ~full) | (full & statless(has, nulls, rows))
    meta_ok = full & has
    per_path = (pivoted
                .withColumn("__scan", scan_block)
                .groupBy("path")
                .agg(F.max(F.col("__scan").cast("int")).alias("b"),
                     F.min(F.when(meta_ok, mn_col)).alias("mn"),
                     F.max(F.when(meta_ok, mx_col)).alias("mx"))
                .join(F.broadcast(_manifest_df(spark, metadata)),
                      "path", "inner"))
    # single in-job aggregation: extremes over clean (non-scanned) files
    # plus the bounded boundary path list; nothing per-file reaches the
    # driver for the metadata-answered portion
    row = per_path.agg(
        F.min(F.when(F.col("b") == 0, F.col("mn"))).alias("lo"),
        F.max(F.when(F.col("b") == 0, F.col("mx"))).alias("hi"),
        F.collect_list(F.when(F.col("b") == 1, F.col("path"))).alias("sp")
    ).head()
    return row["lo"], row["hi"], sorted(row["sp"])
