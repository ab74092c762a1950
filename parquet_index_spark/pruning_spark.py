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
      -> `_reduce_files`: bool_or per path -> the surviving files, less
         the paths outside the manifest (or, for the three-band
         decomposition of `pruning.bands`, the boundary files plus one
         final aggregate, both over a join with the manifest)

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

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from parquet_index_spark import collector, predicates as P
from parquet_index_spark import types as ityp
from parquet_index_spark.pruning import _fold, bands

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
    def rows() -> F.Column:
        return F.col("__rows")

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


def _prepare_pivot(spark: SparkSession, metadata, referenced: set):
    """Shared front half of every distributed fold: read the stats
    parquet, pivot the referenced columns wide per (path, block), and
    join partition values in as exact pseudo-stats (min == max == value,
    as metastore.IndexMetadata._build_context builds them).

    -> (pivoted, kinds, memb_cols); pivoted is empty when the index has
    no stats shards (empty table). The stats schema is given, so no job
    reads a footer to infer it."""
    import json

    stats_path = os.path.join(metadata.index_dir, "stats")
    has_shards = os.path.isdir(stats_path) and any(
        f.endswith(".parquet") for f in os.listdir(stats_path))
    # the membership probes are pandas UDFs that import this package on
    # the executors' Python workers, in sessions that never ran a build
    collector._ensure_package_shipped(spark)
    schema = from_arrow_schema(collector.STATS_SCHEMA)
    stats_df = spark.read.schema(schema).parquet(stats_path) if has_shards \
        else spark.createDataFrame([], schema)

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


def _reduce_files(pivoted, manifest, scan, meta=None, reductions=()):
    """The Spark per-file reduction of a decomposition
    (`pruning.bands`), the twin of `BlockStatsContext.reduce_files`:
    -> (sorted paths of the files holding a ``scan`` block, answers).

    One groupBy("path"); stats paths outside ``manifest`` (the committed
    paths) are orphans of an interrupted refresh and are dropped. A
    scan-only reduction (no ``meta``) collects its paths and drops the
    orphans on the driver: the paths reach it either way. Otherwise an
    inner join with the manifest drops them in the job, and one final
    aggregate gives the scan paths and each ``(name, values)`` of
    ``reductions``: ``F.<name>`` of ``values`` over the ``meta`` blocks
    of the other files, None when there is none."""
    per_path = pivoted.groupBy("path").agg(
        F.bool_or(scan).alias("__scan"),
        *(getattr(F, name)(F.when(meta, values)).alias(f"__a{i}")
          for i, (name, values) in enumerate(reductions)))
    if meta is None:
        committed = set(manifest)
        return sorted(r["path"] for r in
                      per_path.filter("__scan").select("path").collect()
                      if r["path"] in committed), ()
    committed = pivoted.sparkSession.createDataFrame(
        [(p,) for p in manifest], "path string")
    scanned = F.col("__scan")
    row = per_path.join(F.broadcast(committed), "path").agg(
        F.collect_list(F.when(scanned, F.col("path"))),
        *(getattr(F, name)(F.when(~scanned, F.col(f"__a{i}")))
          for i, (name, _) in enumerate(reductions))).head()
    return sorted(row[0]), tuple(row[1:])


def prune_files_with_spark(spark: SparkSession, metadata,
                           pred: P.Predicate, tz: str = None) -> List[str]:
    """Distributed equivalent of pruning.prune_files, membership
    refinement included: the scan-only use of `_reduce_files`, with no
    full-match fold.

    Partition-column predicates are folded too: partition values join in
    from the file manifest as exact pseudo-stats (`_prepare_pivot`).
    """
    pivoted, kinds, memb_cols = _prepare_pivot(
        spark, metadata, P.referenced_columns(pred))
    return _reduce_files(pivoted, metadata.files["path"],
                         compile_to_spark(pred, kinds, tz, memb_cols))[0]


def count_files_with_spark(spark: SparkSession, metadata,
                           pred: P.Predicate, tz: str = None,
                           column: str = None) -> tuple:
    """Distributed equivalent of pruning.count_files, the three-band
    decomposition: -> (paths of the files to scan, ``(row total,)`` or
    with ``column`` its ``(min, max)`` in stat space). The metadata
    outgrows the driver here, so the stats never leave the job."""
    referenced = P.referenced_columns(pred) | ({column} if column else set())
    pivoted, kinds, memb_cols = _prepare_pivot(spark, metadata, referenced)
    may = compile_to_spark(pred, kinds, tz, memb_cols)
    full = compile_full_to_spark(pred, kinds, tz)
    return _reduce_files(pivoted, metadata.files["path"],
                         *bands(_ColumnOps(kinds), may, full, column))
