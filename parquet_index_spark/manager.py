"""Index management DSL + the indexed-table query surface.

Mirrors the reference Python API exactly — class and method names follow
python/src/lightcopy/index.py:196-371 (QueryContext, DataFrameIndexManager,
Create/Exists/DeleteIndexCommand with mode/indexBy/indexByAll/table/parquet)
— so reference examples like

    context = QueryContext(spark)
    context.index.create.mode("overwrite").indexBy("a", "b").parquet(path)
    df = context.index.parquet(path)
    df.filter("a = 1").collect()
    context.index.delete.parquet(path)

run unchanged. The query path is pre-planned pruning (SURVEY §3.2 mapping):
compile the predicate against the metadata, read exactly the surviving files
(``IndexedDataFrame._read_files``), re-apply the full predicate.
"""

from __future__ import annotations

import json
import os
import re
from typing import Any, Dict, List, Optional, Union

from pyspark.sql import Column as SparkColumn
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from py4j.java_gateway import JavaClass

from parquet_index_spark import collector, predicates as P, types as ityp
from parquet_index_spark.catalog import resolve_catalog_table
from parquet_index_spark.config import IndexConf
from parquet_index_spark.metastore import (
    FILES_FILE, METADATA_FILE, STATS_DIR, SUCCESS_FILE,
    IndexMetadata, IndexNotFoundError, LocationSpec, Metastore,
)
from parquet_index_spark.pruning import count_files, prune_files

_GLOB_META = re.compile(r"[\\{}\[\],*?]")


def _glob_escape(text: str) -> str:
    """``text`` with Hadoop GlobPattern metacharacters backslash-escaped,
    so that a Hadoop glob matches it literally."""
    return _GLOB_META.sub(r"\\\g<0>", text)


class PruneInfo:
    """Outcome of the last pruning pass — for tests and observability.

    The reference only *logs* pruning effectiveness
    (ParquetIndex.scala:133-139); we expose it programmatically so tests can
    assert files-scanned counts (BASELINE.md file-skip reproduction)."""

    def __init__(self, total_files: int, selected_files: int, pruned: bool):
        self.total_files = total_files
        self.selected_files = selected_files
        self.pruned = pruned

    def __repr__(self):
        return (f"PruneInfo(total={self.total_files}, "
                f"selected={self.selected_files}, pruned={self.pruned})")


class IndexedDataFrame:
    """Thin handle over an indexed table.

    ``.filter`` / ``.where`` go through index pruning and return a plain
    pyspark DataFrame; every other DataFrame attribute delegates to the
    full-table scan (whose schema comes from the metastore, not from
    re-listing + footer reads — the reference's headline latency win,
    README.md:9-14)."""

    def __init__(self, spark: SparkSession, metadata: IndexMetadata,
                 manager: "DataFrameIndexManager"):
        self._spark = spark
        self._metadata = metadata
        self._manager = manager
        self._full_df: Optional[DataFrame] = None

    @property
    def df(self) -> DataFrame:
        if self._full_df is None:
            self._full_df = (self._spark.read
                             .schema(self._metadata.data_schema)
                             .parquet(self._metadata.table_path))
        return self._full_df

    def filter(self, predicate: Union[str, P.Predicate, SparkColumn]) -> DataFrame:
        ast, residual = self._compile(predicate)
        all_paths = self._metadata.all_file_paths()
        survivors = all_paths if ast is None else self._prune(ast)
        self._manager.last_prune_info = PruneInfo(
            len(all_paths), len(survivors), pruned=ast is not None)
        return self._scan(survivors).filter(residual)

    def _fold_route(self):
        """-> (spark_fold, tz): fold with a Spark job when the metadata
        itself is too big for driver memory
        (spark.sql.index.pruning.sparkThreshold blocks, default 5M), and
        the session time zone that instant literals fold in."""
        from parquet_index_spark import pruning_spark
        try:
            threshold = int(self._spark.conf.get(
                pruning_spark.SPARK_PRUNING_THRESHOLD,
                str(pruning_spark.DEFAULT_THRESHOLD)))
        except Exception:
            threshold = pruning_spark.DEFAULT_THRESHOLD
        try:
            tz = self._spark.conf.get("spark.sql.session.timeZone")
        except Exception:
            tz = None
        return int(self._metadata.files["blocks"].sum()) > threshold, tz

    def _prune(self, ast):
        """Driver-side numpy fold by default; Spark-job fold past the
        threshold (``_fold_route``)."""
        from parquet_index_spark import pruning_spark
        spark_fold, tz = self._fold_route()
        if spark_fold:
            return pruning_spark.prune_files_with_spark(
                self._spark, self._metadata, ast, tz)
        return prune_files(ast, self._metadata.context(), tz)

    def _count_files(self, ast, column: str = None) -> tuple:
        """The three-band decomposition of ``ast`` on the route
        ``_prune`` takes (``pruning.count_files``, or
        ``pruning_spark.count_files_with_spark``): -> (scan paths,
        answers, tz). Records the scanned files in ``last_prune_info``."""
        from parquet_index_spark import pruning_spark
        spark_fold, tz = self._fold_route()
        if spark_fold:
            scan_paths, answers = pruning_spark.count_files_with_spark(
                self._spark, self._metadata, ast, tz, column)
        else:
            scan_paths, answers = count_files(
                ast, self._metadata.context(), tz, column)
        self._manager.last_prune_info = PruneInfo(
            len(self._metadata.files), len(scan_paths), pruned=True)
        return scan_paths, answers, tz

    def _scan(self, files) -> DataFrame:
        """The reader of a pruned read over ``files`` (relative paths):
        the whole table (``df``) when every indexed file survives, an
        empty frame when none does, else exactly ``files``."""
        if len(files) == len(self._metadata.files):
            return self.df
        if not files:
            # an RDD of no partitions: collecting it runs no task, where
            # local rows would start a Python worker for nothing
            return self._spark.createDataFrame(
                self._spark.sparkContext.emptyRDD(),
                self._metadata.data_schema)
        return self._read_files(files)

    def _read_files(self, files) -> DataFrame:
        """Exactly ``files`` (relative paths, at least one) under the
        metastore schema, with partition values from their paths: the one
        reader of pruned reads and DML rewrites.

        Spark's relation is built over the files' own ``FileStatus``es and
        handed to the file index through a status cache of this read's
        own, so no listing job runs at any file or directory count. It
        makes one Hadoop glob per directory, ``<dir>{/<name>,...}``, in
        this process: a brace group that holds a slash expands to the
        files' own paths, and each is statted, so no directory is listed.
        The statuses come from the file system, not from the metastore's
        stored sizes: a file rewritten in place since indexing would be
        read at its old length and silently lose rows."""
        meta, spark = self._metadata, self._spark
        jspark = spark._jsparkSession
        client = spark.sparkContext._gateway._gateway_client

        def jclass(name):
            # by full name: each package step of ``spark._jvm`` is a JVM
            # round trip
            return JavaClass(name, client)

        ds = "org.apache.spark.sql.execution.datasources."
        hpath = jclass("org.apache.hadoop.fs.Path")
        utils = jclass("org.apache.spark.api.python.PythonUtils")
        option = jclass("scala.Option")
        table = hpath(meta.table_path)
        fs = table.getFileSystem(jspark.sessionState().newHadoopConf())
        table = fs.makeQualified(table)
        # expanding a brace group, Hadoop takes one level of escapes off
        # each alternative, so a name is escaped twice to stay literal
        names: Dict[str, list] = {}
        for p in files:
            names.setdefault(os.path.dirname(p), []).append(
                _glob_escape(_glob_escape(os.path.basename(p))))
        cache = jclass(ds + "SharedInMemoryCache")(
            2 ** 63 - 1, 0).createForNewClient()
        dirs = self._collapse_to_directories(files)
        roots = [hpath(table, d) if d else table for d in dirs]
        for d, root in zip(dirs, roots):
            found = fs.globStatus(hpath(
                _glob_escape(meta.abs_path(d))
                + "{/" + ",/".join(names[d]) + "}"))
            if found is None or len(found) < len(names[d]):
                raise FileNotFoundError(
                    f"indexed data files under {meta.abs_path(d)} are "
                    "gone; refresh the index")
            cache.putLeafFiles(root, found)
        opts = utils.toScalaMap({"basePath": meta.table_path})
        none = option.apply(None)
        index = jclass(ds + "InMemoryFileIndex")(
            jspark, utils.toSeq(roots), opts,
            option.apply(jspark.parseDataType(meta.data_schema.json())),
            cache, none, none)
        cache.invalidateAll()
        # as in ``spark.read``: the relation appends the partition
        # columns after a data schema that leaves them out
        parts = index.partitionSchema()
        part_names = {n.lower() for n in parts.fieldNames()}
        data = T.StructType([f for f in meta.data_schema.fields
                             if f.name.lower() not in part_names])
        relation = jclass(ds + "HadoopFsRelation")(
            index, parts, jspark.parseDataType(data.json()).asNullable(),
            none, jclass(ds + "parquet.ParquetFileFormat")(), opts, jspark)
        return DataFrame(jspark.baseRelationToDataFrame(relation), spark)

    def _collapse_to_directories(self, files) -> list:
        """Reader roots for ``files``: their distinct directories."""
        return sorted({os.path.dirname(p) for p in files})

    where = filter

    def contains_term(self, column: str, *terms: str) -> DataFrame:
        """Full-text point lookup through the TERM index: rows whose
        ``column`` contains EVERY ``term`` as a whitespace token.

        Each term folds as a membership probe over the per-block token
        filters (``termIndexBy``), so files that cannot contain a term
        are never read — inverted-index-grade skipping for needle
        queries over a 100 TB text corpus; the residual re-filter is the
        exact array_contains over the same tokenization. Tables without
        a term index soundly full-scan (with a warning-free plain
        filter)."""
        if not terms:
            raise ValueError("contains_term requires at least one term")
        if not all(isinstance(t, str) and t.strip() for t in terms):
            raise ValueError("terms must be non-empty strings")
        pred = P.And(tuple(P.TermMatch(column, t) for t in terms)) \
            if len(terms) > 1 else P.TermMatch(column, terms[0])
        return self.filter(pred)

    def contains_term_prefix(self, column: str, prefix: str) -> DataFrame:
        """Token-PREFIX search through the term index: rows whose
        ``column`` has SOME whitespace token starting with ``prefix``
        (wildcard / autocomplete lookup, ``token LIKE 'pre%'``).

        Pruning uses the per-block token DICT filters: a block whose
        stored distinct-token set has no member starting with the
        prefix cannot match (statistics.ColumnMembership.refine_prefix,
        the same machinery behind LIKE-prefix pruning on indexed
        columns). Bloom term filters are hash-based — no prefix
        evidence — and soundly scan, so build the term index with
        ``filter.type=dict`` where prefix search matters. The residual
        is the exact per-token startswith."""
        if not isinstance(prefix, str) or not prefix.strip():
            raise ValueError("contains_term_prefix requires a non-empty "
                             "prefix")
        if any(ch.isspace() for ch in prefix):
            raise ValueError("prefix must be a single-token prefix "
                             "(no whitespace); use contains_phrase for "
                             "multi-token adjacency")
        return self.filter(P.TermPrefixMatch(column, prefix))

    def contains_phrase(self, column: str, phrase: str) -> DataFrame:
        """Exact whitespace-token PHRASE search through the term index:
        rows where ``column`` contains the phrase's tokens consecutively.

        Pruning folds the AND of the phrase's distinct tokens against the
        per-block token filters (a file lacking any one token cannot hold
        the phrase); the residual then enforces adjacency exactly by
        locating the space-joined phrase inside the whitespace-normalized
        text. A file containing all tokens scattered is read but returns
        no rows — sound, and still index-tight for rare-token phrases."""
        toks = phrase.split()
        if not toks:
            raise ValueError("contains_phrase requires a non-empty phrase")
        needle = " " + " ".join(toks) + " "

        def residual():
            norm = F.concat(F.lit(" "),
                            F.regexp_replace(F.trim(F.col(column)),
                                             r"\s+", " "),
                            F.lit(" "))
            return F.locate(needle, norm) > 0

        probes = [P.TermMatch(column, t) for t in dict.fromkeys(toks)]
        # a #terms2 index also stores adjacent bigrams: probing the
        # phrase's PAIRS (fold-only: adjacency truth comes from the
        # residual) skips files where the tokens never sit side by side
        # — decisive for phrases of individually-common words
        if column + P.TERMS2_SUFFIX in self._metadata.index_columns:
            probes += [P.TermMatch(column, f"{a} {b}", fold_only=True)
                       for a, b in
                       dict.fromkeys(zip(toks, toks[1:]))]
        pred = P.And(tuple(probes)
                     + (P.Unsupported(residual,
                                      f"phrase({phrase!r})"),))
        return self.filter(pred)

    def contains_any_term(self, column: str, *terms: str) -> DataFrame:
        """Disjunctive variant of :meth:`contains_term`: rows whose
        ``column`` contains AT LEAST ONE of the terms. A file survives
        pruning if any term's membership probe passes — the OR fold over
        the same per-block token filters (decontamination sweeps probe
        banks of eval-set tokens this way)."""
        if not terms:
            raise ValueError("contains_any_term requires at least one term")
        if not all(isinstance(t, str) and t.strip() for t in terms):
            raise ValueError("terms must be non-empty strings")
        pred = P.Or(tuple(P.TermMatch(column, t) for t in terms)) \
            if len(terms) > 1 else P.TermMatch(column, terms[0])
        return self.filter(pred)

    def explain_pruning(self, predicate,
                        include_saturation: bool = False) -> dict:
        """Pruning diagnosis — the operability view of the index: for the
        whole predicate and each foldable LEAF independently, how many
        files the fold keeps. An index that isn't helping shows up as a
        leaf keeping ~all files (column unindexed, literal un-coercible,
        range spanning the table, filter-less blocks), and the tight
        leaves show which clauses actually drive the skip. Driver-side
        metadata fold only — no data IO, no job. Returns
        {total_files, overall_files, pruned, leaves: {leaf: files}}.

        ``include_saturation=True`` additionally attaches the per-column
        membership-filter capacity telemetry from ``describe`` (fill,
        est stored items vs design cap, est fpp, saturated flag) under
        ``filter_saturation`` — the companion diagnosis when a term or
        phrase leaf keeps ~all files: a saturated ``#terms2`` bloom
        means the vocabulary outgrew the filter, not that the predicate
        is unselective. Popcounts every stored filter, so it costs one
        pass over the stats metadata."""
        all_paths = self._metadata.all_file_paths()
        ast, _residual = self._compile(predicate)
        if ast is None:
            return {"total_files": len(all_paths),
                    "overall_files": len(all_paths), "pruned": False,
                    "leaves": {}}
        ctx = self._metadata.context()
        tz = self._fold_route()[1]
        leaves: dict = {}

        def walk(p) -> None:
            if isinstance(p, (P.And, P.Or)):
                for c in p.children:
                    walk(c)
                return
            if isinstance(p, P.Trivial):
                return
            desc = (f"unsupported({p.description})"
                    if isinstance(p, P.Unsupported) else str(p))
            leaves[desc] = len(prune_files(p, ctx, tz))

        walk(P.push_not_down(ast))
        out = {"total_files": len(all_paths),
               "overall_files": len(prune_files(ast, ctx, tz)),
               "pruned": True, "leaves": leaves}
        if include_saturation:
            sat = DataFrameIndexManager._filter_saturation(self._metadata)
            out["filter_saturation"] = {
                col: {"filter_blocks": b, "max_stored_items": i,
                      "design_item_cap": cap, "max_fill": fill,
                      "max_est_fpp": fpp, "saturated": s}
                for col, (b, i, cap, fill, fpp, s) in sat.items()}
        return out

    def recommend_filter_types(self) -> list:
        """Filter-type advisor: from the OBSERVED per-block statistics,
        which membership filter each indexed column should use —
        ``dict`` when every block's distinct count fits the configured
        dict cap (exact membership, smallest), ``bitmap`` when an
        integer column's per-block value span fits a dense bitset
        (exact, no fpp), else ``bloom``. An operator picks filter.type
        once per table; this turns that guess into a measurement. Reads
        the same stats metadata as describe (streamed, driver-bounded).
        Returns [{column, kind, max_distinct_per_block, max_block_span,
        current_type, recommended_type, reason}, ...]."""
        from parquet_index_spark.config import IndexConf
        from parquet_index_spark.statistics import BITMAP_MAX_RANGE

        conf = IndexConf.from_spark(self._spark)
        meta = self._metadata
        sat = DataFrameIndexManager._filter_saturation(meta)
        spans: dict = {}
        stats = meta._load_stats()
        if stats.num_rows:
            for batch in stats.select(
                    ["column", "has_stats", "min_long",
                     "max_long"]).to_batches(max_chunksize=8192):
                for col, has, mn, mx in zip(batch.column(0).to_pylist(),
                                            batch.column(1).to_pylist(),
                                            batch.column(2).to_pylist(),
                                            batch.column(3).to_pylist()):
                    if has and mn is not None and mx is not None:
                        spans[col] = max(spans.get(col, 0), mx - mn)
        out = []
        int_kinds = {ityp.INT, ityp.LONG, ityp.DATE, ityp.TIMESTAMP,
                     ityp.TIMESTAMP_NTZ}
        for col, kind in meta.index_columns.items():
            row = sat.get(col, (0, None, None, None, None, False))
            items = row[1]
            # a design cap is only recovered from BLOOM blocks, so its
            # presence marks `items` as a fill-derived ESTIMATE; dict/
            # bitmap counts are exact. An under-estimate near the cap
            # must not tip the advice to 'dict' (r6 ADVICE): estimated
            # counts get a 20% safety margin against the dict cap
            estimated = row[2] is not None
            dict_cap = (int(conf.dict_max_size * 0.8) if estimated
                        else conf.dict_max_size)
            span = spans.get(col)
            if items is not None and items <= dict_cap:
                src = ("~{} distinct/block (bloom-fill estimate) within "
                       "80% of dict cap {}".format(items,
                                                   conf.dict_max_size)
                       if estimated else
                       f"max {items} distinct/block fits dict cap "
                       f"{conf.dict_max_size}")
                rec, why = "dict", src + ": exact membership, smallest"
            elif kind in int_kinds and span is not None \
                    and span < BITMAP_MAX_RANGE:
                rec, why = "bitmap", (
                    f"integer span {span} < {BITMAP_MAX_RANGE}: dense "
                    "bitset is exact with no false positives")
            else:
                rec, why = "bloom", (
                    "high per-block cardinality (and span, for ints): "
                    "bloom is the only filter that stays small")
            out.append({"column": col, "kind": kind,
                        "max_distinct_per_block": items,
                        "max_block_span": span,
                        "current_type": meta.filter_type or "none",
                        "recommended_type": rec, "reason": why})
        return out

    def count_where(self, predicate=None) -> int:
        """Metadata-accelerated count: ``count(*) WHERE pred`` answered
        from index statistics wherever they PROVE the predicate.

        Three-band decomposition per block (``pruning.bands``): blocks
        that provably FULLY match contribute their exact footer row
        counts with zero data IO; blocks that provably cannot match
        contribute zero; only files containing a boundary
        (partially-matching) block are scanned, with the full predicate
        re-applied. On a time-clustered 100 TB table a time-range count
        reads the two boundary files instead of the whole range — the
        aggregate analog of file pruning. Beyond reference (it only
        prunes scans); soundness rests on the stored min/max being
        exact, which the collector guarantees (footer values,
        data-recomputed where footers are distrusted).

        ``last_prune_info`` reports files scanned = boundary files. The
        decomposition folds where pruning does (``_count_files``): on
        the driver, or past the fold threshold as a Spark job over the
        stats parquet — at 100 TB, where the metadata outgrows the
        driver, a trailing-window count stays a metadata job plus
        boundary scans. Falls back to pruned ``filter(pred).count()``
        only when the predicate is outside the foldable grammar."""
        all_paths = self._metadata.all_file_paths()
        if predicate is None:
            # manifest row counts are exact: a bare count is pure metadata
            self._manager.last_prune_info = PruneInfo(
                len(all_paths), 0, pruned=True)
            return int(self._metadata.files["rows"].sum())
        ast, residual = self._compile(predicate)
        if ast is None:
            return self.filter(residual).count()
        scan_paths, (total,), _tz = self._count_files(ast)
        total = total or 0
        if scan_paths:
            total += self._scan(scan_paths).filter(residual).count()
        return total

    def min_max_where(self, column: str, predicate=None) -> tuple:
        """Metadata-accelerated ``(min(column), max(column)) WHERE pred``.

        Same three-band decomposition as ``count_where``: blocks proven
        to FULLY match contribute their exact stored min/max (footer
        values, or data-recomputed where footers are distrusted) with no
        data IO; a file is scanned only when it holds a boundary block —
        or a full-match block whose stats for ``column`` are absent
        (written with statistics disabled) yet possibly non-null, since
        its extremes are unknowable from metadata. Returns native Python
        values (instant timestamps tz-aware UTC); ``(None, None)`` when
        no row matches or all matching values are NULL — SQL min/max
        semantics. Folds where ``count_where`` does; falls back to a
        pruned scan aggregate for unindexed columns or unfoldable
        predicates."""
        kind = self._metadata.index_columns.get(column)
        ast, residual = (P.Trivial(True), F.lit(True)) if predicate is None \
            else self._compile(predicate)

        def extremes(df):
            row = df.agg(F.min(column).alias("mn"),
                         F.max(column).alias("mx")).head()
            return row["mn"], row["mx"]

        if kind is None or ast is None:
            return extremes(self.df if predicate is None
                            else self.filter(predicate))
        scan_paths, (lo, hi), tz = self._count_files(ast, column)
        smn, smx = extremes(self._scan(scan_paths).filter(residual)) \
            if scan_paths else (None, None)
        if smn is not None:
            if kind != ityp.STRING:
                smn = ityp.to_long_space(smn, kind, tz)
                smx = ityp.to_long_space(smx, kind, tz)
            lo = smn if lo is None else min(lo, smn)
            hi = smx if hi is None else max(hi, smx)
        if lo is None or kind == ityp.STRING:
            return lo, hi
        return ityp.from_long_space(lo, kind), ityp.from_long_space(hi, kind)

    def _compile(self, predicate):
        """-> (ast | None, spark residual). ast None => no pruning possible."""
        if isinstance(predicate, P.Predicate):
            return predicate, predicate.to_spark()
        if isinstance(predicate, str):
            residual = F.expr(predicate)
            try:
                return P.parse_sql_predicate(predicate), residual
            except P.SqlParseError:
                return None, residual
        if isinstance(predicate, SparkColumn):
            sql_text = self._column_to_sql(predicate)
            if sql_text is not None:
                try:
                    return P.parse_sql_predicate(sql_text), predicate
                except P.SqlParseError:
                    pass
            import warnings
            warnings.warn(
                "Index pruning disabled for this filter: the pyspark Column "
                f"predicate {sql_text or predicate} is outside the foldable "
                "grammar; executing a full (still correct) scan. Use "
                "comparison/IN/NULL/BETWEEN predicates to enable pruning.",
                stacklevel=3)
            return None, predicate
        raise TypeError(f"Unsupported predicate type: {type(predicate)}")

    def _column_to_sql(self, predicate: SparkColumn) -> Optional[str]:
        """Render a pyspark Column predicate as resolved SQL text.

        The reference prunes for every predicate form because it intercepts
        Catalyst (IndexSourceStrategy.scala:27-123); from Python we get the
        same effect by running analysis only (no execution) on
        ``df.filter(col)`` and rendering the resolved Filter condition back
        to SQL for the predicate parser. Costs one driver-side analysis
        pass; returns None if anything about the plan shape is unexpected
        (caller then scans unpruned, which is always sound)."""
        try:
            plan = self.df.filter(predicate)._jdf.queryExecution().analyzed()
            if plan.getClass().getSimpleName() != "Filter":
                return None
            return plan.condition().sql()
        except Exception:
            return None

    def __getattr__(self, name: str):
        return getattr(self.df, name)


class CreateIndexCommand:
    """spark.index.create.mode(m).indexBy(cols).parquet(path|table)
    (reference: index.py:30-121, DataFrameIndexManager.scala:135-254)."""

    def __init__(self, manager: "DataFrameIndexManager"):
        self._manager = manager
        self._mode = "error"
        self._columns: Optional[List[str]] = None  # None => indexByAll

    def mode(self, value: str) -> "CreateIndexCommand":
        self._mode = value
        return self

    def indexBy(self, *columns) -> "CreateIndexCommand":
        if len(columns) == 1 and isinstance(columns[0], (list, tuple)):
            columns = tuple(columns[0])
        if not columns:
            raise ValueError("indexBy requires at least one column")
        if not all(isinstance(c, str) for c in columns):
            raise TypeError("indexBy columns must be strings")
        self._columns = list(columns)
        return self

    def indexByAll(self) -> "CreateIndexCommand":
        self._columns = None
        return self

    def termIndexBy(self, *columns) -> "CreateIndexCommand":
        """Full-text TERM index over string columns (beyond reference):
        per-block membership filters over each block's DISTINCT
        whitespace tokens, so ``t.contains_term("text", "spark")`` skips
        files that cannot contain the token — inverted-index-grade file
        skipping from the same stats machinery, at bloom-bytes cost per
        block. Composable with indexBy/indexByAll; requires filter
        statistics enabled (the term filter IS a membership filter)."""
        if len(columns) == 1 and isinstance(columns[0], (list, tuple)):
            columns = tuple(columns[0])
        if not columns:
            raise ValueError("termIndexBy requires at least one column")
        if not all(isinstance(c, str) for c in columns):
            raise TypeError("termIndexBy columns must be strings")
        self._term_columns = list(columns)
        return self

    def parquet(self, path: str) -> None:
        self._manager._create_index(
            path, self._mode, self._columns, dataspace="source",
            term_columns=getattr(self, "_term_columns", None))

    def table(self, table_name: str) -> None:
        info = resolve_catalog_table(self._manager.spark, table_name)
        self._manager._create_index(
            info.location, self._mode, self._columns, dataspace="catalog",
            term_columns=getattr(self, "_term_columns", None))


class ExistsIndexCommand:
    def __init__(self, manager: "DataFrameIndexManager"):
        self._manager = manager

    def parquet(self, path: str) -> bool:
        return self._manager._exists_index(path, dataspace="source")

    def table(self, table_name: str) -> bool:
        info = resolve_catalog_table(self._manager.spark, table_name)
        return self._manager._exists_index(info.location, dataspace="catalog")


class DeleteIndexCommand:
    def __init__(self, manager: "DataFrameIndexManager"):
        self._manager = manager

    def parquet(self, path: str) -> None:
        self._manager._delete_index(path, dataspace="source")

    def table(self, table_name: str) -> None:
        info = resolve_catalog_table(self._manager.spark, table_name)
        self._manager._delete_index(info.location, dataspace="catalog")


class DescribeIndexCommand:
    """``spark.index.describe.parquet(path)`` — index introspection.

    Returns a small summary DataFrame (one row per indexed column plus a
    TABLE row) so operators can see what an index covers and how big it is
    without reading the raw metastore files."""

    def __init__(self, manager: "DataFrameIndexManager"):
        self._manager = manager

    def parquet(self, path: str) -> DataFrame:
        return self._manager._describe_index(path, dataspace="source")

    def table(self, table_name: str) -> DataFrame:
        info = resolve_catalog_table(self._manager.spark, table_name)
        return self._manager._describe_index(info.location, dataspace="catalog")


class RefreshIndexCommand:
    """``spark.index.refresh.parquet(path)`` — incremental index maintenance.

    Beyond-reference capability (the reference rejects append:
    ParquetMetastoreSupport.scala:104-107). NEW files are scanned and
    their stats land in fresh metadata shards; files that VANISHED (a
    retention delete, a compaction swap) are retracted from the manifest
    alone — no data scan, their orphaned stats rows are purged by the
    next shard compaction. Only a file REWRITTEN IN PLACE (same path,
    different size) forces a full rebuild: its stored per-block stats no
    longer describe the rows and shared shards cannot be partially
    rewritten soundly."""

    def __init__(self, manager: "DataFrameIndexManager"):
        self._manager = manager

    def parquet(self, path: str) -> dict:
        return self._manager._refresh_index(path, dataspace="source")

    def table(self, table_name: str) -> dict:
        info = resolve_catalog_table(self._manager.spark, table_name)
        return self._manager._refresh_index(info.location, dataspace="catalog")


class DataFrameIndexManager:
    """Entry point for all index operations (reference: index.py:196-331)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._format = "parquet"
        self._options: Dict[str, str] = {}
        self.last_prune_info: Optional[PruneInfo] = None

    # -- builder plumbing (reference: index.py:230-268) --------------------
    def format(self, source: str) -> "DataFrameIndexManager":
        if source.lower() != "parquet":
            raise ValueError(
                f"Source {source!r} is not supported; only parquet "
                "(reference supports parquet only, README.md:40-47)")
        self._format = "parquet"
        return self

    def option(self, key: str, value: Any) -> "DataFrameIndexManager":
        self._options[key.lower()] = str(value)
        return self

    def options(self, opts: Dict[str, Any]) -> "DataFrameIndexManager":
        for k, v in opts.items():
            self.option(k, v)
        return self

    # -- load (reference: index.py:270-301) --------------------------------
    def parquet(self, path: str) -> IndexedDataFrame:
        return self.load(path)

    def table(self, table_name: str) -> IndexedDataFrame:
        info = resolve_catalog_table(self.spark, table_name)
        return self._load_index(info.location, dataspace="catalog")

    def load(self, path: Optional[str] = None) -> IndexedDataFrame:
        if path is None:
            path = self._options.get("path")
        if path is None:
            raise ValueError("path is required")
        return self._load_index(path, dataspace="source")

    # -- commands (reference: index.py:303-331) ----------------------------
    @property
    def create(self) -> CreateIndexCommand:
        return CreateIndexCommand(self)

    @property
    def exists(self) -> ExistsIndexCommand:
        return ExistsIndexCommand(self)

    @property
    def delete(self) -> DeleteIndexCommand:
        return DeleteIndexCommand(self)

    @property
    def refresh(self) -> RefreshIndexCommand:
        return RefreshIndexCommand(self)

    @property
    def describe(self) -> DescribeIndexCommand:
        return DescribeIndexCommand(self)

    # -- internals ---------------------------------------------------------
    def _conf(self) -> IndexConf:
        return IndexConf.from_spark(self.spark)

    def _metastore(self, conf: IndexConf) -> Metastore:
        return _metastore_for(self.spark, conf.metastore_location)

    def _create_index(self, path: str, mode: str,
                      columns: Optional[List[str]], dataspace: str,
                      term_columns: Optional[List[str]] = None) -> None:
        conf = self._conf()
        metastore = self._metastore(conf)
        spec = LocationSpec(path, dataspace=dataspace)
        table_root = spec.table_path

        # schema inference: per-file footer MERGE + partition discovery
        # (SURVEY §1.3 mapping). mergeSchema matters for evolved tables —
        # without it Spark picks one file's schema and late-added columns
        # are invisible to the index (and to every indexed scan, which
        # reads with the schema stored here).
        data_schema = (self.spark.read.option("mergeSchema", "true")
                       .parquet(table_root).schema)
        files, part_cols = collector.list_table_files(table_root)
        partition_columns: Dict[str, str] = {}
        for pcol in part_cols:
            f = data_schema[pcol] if pcol in data_schema.fieldNames() else None
            kind = ityp.kind_of_spark_type(f.dataType) if f else None
            if kind is None:
                kind = ityp.infer_partition_kind(
                    [fi["partition_values"].get(pcol) for fi in files])
            partition_columns[pcol] = kind

        # term pseudo-columns travel as "<col>#terms" names so the
        # rebuild-on-refresh path (which replays list(index_columns))
        # round-trips them with zero extra metadata plumbing
        from parquet_index_spark.predicates import (TERMS_SUFFIX,
                                                     TERMS2_SUFFIX)
        terms = list(term_columns or [])
        legacy_terms = []
        if columns is not None:
            # rebuild-on-refresh replays stored names: route either
            # generation back to its collection mode
            terms += [c[:-len(TERMS2_SUFFIX)] for c in columns
                      if c.endswith(TERMS2_SUFFIX)]
            legacy_terms += [c[:-len(TERMS_SUFFIX)] for c in columns
                             if c.endswith(TERMS_SUFFIX)
                             and not c.endswith(TERMS2_SUFFIX)]
            columns = [c for c in columns
                       if not c.endswith((TERMS_SUFFIX, TERMS2_SUFFIX))]
        index_columns = self._resolve_index_columns(
            data_schema, partition_columns, columns)
        for t in dict.fromkeys(terms + legacy_terms):
            if not conf.filter_enabled:
                raise ValueError(
                    "termIndexBy requires filter statistics "
                    "(spark.sql.index.parquet.filter.enabled=true): the "
                    "term index IS a membership filter")
            if t in partition_columns:
                raise ValueError(
                    f"Column {t!r} is a partition column and cannot carry "
                    "a term index")
            if t not in data_schema.fieldNames():
                raise ValueError(f"Column {t!r} does not exist in schema "
                                 f"{data_schema.simpleString()}")
            if data_schema[t].dataType.simpleString() != "string":
                raise ValueError(
                    f"termIndexBy column {t!r} must be string, got "
                    f"{data_schema[t].dataType.simpleString()}")
            suffix = TERMS_SUFFIX if t in legacy_terms else TERMS2_SUFFIX
            index_columns[t + suffix] = ityp.STRING

        def writer(index_dir: str) -> None:
            stats_dir = os.path.join(index_dir, STATS_DIR)
            summaries = collector.run_stats_job(
                self.spark, table_root, files, stats_dir,
                index_cols=list(index_columns.items()),
                filter_enabled=conf.filter_enabled,
                filter_type=conf.filter_type,
                dict_max_size=conf.dict_max_size,
                num_partitions=conf.num_partitions,
                bloom_fpp=conf.bloom_fpp)
            files_table = pa.Table.from_pylist(
                summaries, schema=collector.FILES_SCHEMA)
            pq.write_table(files_table, os.path.join(index_dir, FILES_FILE))
            meta = {
                "version": 1,
                "table_path": table_root,
                "data_schema": data_schema.jsonValue(),
                "index_columns": list(index_columns.items()),
                "partition_columns": list(partition_columns.items()),
                "filter_type": conf.filter_type if conf.filter_enabled else None,
            }
            with open(os.path.join(index_dir, METADATA_FILE), "w") as fh:
                json.dump(meta, fh, indent=1)

        metastore.create(spec, mode, writer)

    @staticmethod
    def _resolve_index_columns(data_schema, partition_columns: Dict[str, str],
                               columns: Optional[List[str]]) -> Dict[str, str]:
        """Validate/infer index columns (ParquetSchemaUtils.scala:40-65;
        partition columns rejected per ParquetMetastoreSupport.scala:111-117)."""
        out: Dict[str, str] = {}
        if columns is None:
            for f in data_schema.fields:
                if f.name in partition_columns:
                    continue
                kind = ityp.kind_of_spark_type(f.dataType)
                if kind is not None:
                    out[f.name] = kind
            if not out:
                raise ValueError(
                    "indexByAll found no supported columns "
                    "(supported: int, bigint, string, date, timestamp)")
            return out
        names = set(data_schema.fieldNames())
        if len(set(columns)) != len(columns):
            raise ValueError(f"Duplicate index columns in {columns}")
        for c in columns:
            if c in partition_columns:
                raise ValueError(
                    f"Column {c!r} is a partition column and cannot be "
                    "indexed (ParquetMetastoreSupport.scala:111-117)")
            if c not in names:
                raise ValueError(f"Column {c!r} does not exist in schema "
                                 f"{data_schema.simpleString()}")
            kind = ityp.kind_of_spark_type(data_schema[c].dataType)
            if kind is None:
                raise ValueError(
                    f"Column {c!r} has unsupported type "
                    f"{data_schema[c].dataType.simpleString()}; supported: "
                    "int, bigint, string, date, timestamp "
                    "(ParquetSchemaUtils.scala:32-54)")
            out[c] = kind
        return out

    def _describe_index(self, path: str, dataspace: str) -> DataFrame:
        conf = self._conf()
        metastore = self._metastore(conf)
        spec = LocationSpec(path, dataspace=dataspace)
        # self-heal an interrupted compaction swap like every other read
        # path (exists/load) — describe is the compaction-health surface
        # (orphan telemetry), so it least of all should report a
        # recoverable index as absent
        self._recover_stats_swap(metastore.index_dir(spec))
        metadata = metastore.load(spec, filter_eager=False)
        files = metadata.files
        n_files = len(files)
        n_blocks = int(files["blocks"].sum())
        n_rows = int(files["rows"].sum())
        # size accounting: data bytes from the manifest; index bytes from
        # the metastore dir — the index-overhead ratio is the first thing
        # an operator sizing a 100 TB rollout asks for
        table_bytes = int(files["size"].sum()) if "size" in files else None
        index_bytes = 0
        for root, dirs, fnames in os.walk(metadata.index_dir):
            # recovery artifacts (an abandoned compaction's staging dir,
            # kept for live-writer safety until the next compaction's
            # entry pre-clean) are not index overhead — counting them
            # would double-report the stats footprint on a read-mostly
            # table whose compaction once crashed
            dirs[:] = [d for d in dirs
                       if not d.endswith(("__compact_tmp",
                                          "__compact_bak"))]
            for fn in fnames:
                try:
                    index_bytes += os.path.getsize(os.path.join(root, fn))
                except OSError:
                    pass
        sat = self._filter_saturation(metadata)
        # shard-count telemetry: the refresh.maxShards compaction trigger
        # is sized against this number (streams append one per batch)
        sdir = os.path.join(metadata.index_dir, STATS_DIR)
        try:
            # isdir-then-listdir has a TOCTOU window against a concurrent
            # compaction's two-rename swap — tolerate it like every other
            # reader (the recovery docstring's contract) instead of
            # crashing describe
            shard_files = [f for f in os.listdir(sdir)
                           if f.endswith(".parquet")] \
                if os.path.isdir(sdir) else []
        except OSError:
            shard_files = []
        n_shards = len(shard_files)
        # orphan telemetry (round-8 verdict #8): manifest-only retraction
        # leaves stats/filter rows for vanished files in the shards until
        # the next compaction purges them. Reads still ignore orphans
        # (the manifest is the commit point), but they cost every
        # metadata read — surface the count so operators can see when a
        # compaction is due. Path column only (dict-encoded, tiny), no
        # stats/bloom bytes touched.
        orphan_rows = 0
        if shard_files:
            import pyarrow.compute as pc
            live = pa.array(files["path"].tolist(), type=pa.string())
            for fn in shard_files:
                try:
                    col = pq.read_table(os.path.join(sdir, fn),
                                        columns=["path"])["path"]
                except Exception:  # noqa: BLE001 — a concurrent
                    # refresh writes shards non-atomically to their final
                    # name; a half-written file raises ArrowInvalid, not
                    # OSError. Telemetry must degrade, not crash reads.
                    continue
                known = pc.sum(pc.cast(pc.is_in(col, value_set=live),
                                       pa.int64())).as_py() or 0
                orphan_rows += len(col) - known
        none_sat = (0, None, None, None, None, False)
        rows = [("TABLE", "", n_files, n_blocks, n_rows,
                 metadata.filter_type or "none") + none_sat
                + (table_bytes, index_bytes, n_shards, orphan_rows)]
        for col, kind in metadata.index_columns.items():
            rows.append(("INDEXED_COLUMN", col, n_files, n_blocks, n_rows,
                         metadata.filter_type or "none")
                        + sat.get(col, none_sat) + (None, None, None, None))
        for col, kind in metadata.partition_columns.items():
            rows.append(("PARTITION_COLUMN", col, n_files, n_blocks, n_rows,
                         "exact") + none_sat + (None, None, None, None))
        return self.spark.createDataFrame(
            rows, schema="entry string, column string, n_files long, "
                         "n_blocks long, n_rows long, filter_type string, "
                         "filter_blocks long, max_stored_items long, "
                         "design_item_cap long, max_fill double, "
                         "max_est_fpp double, saturated boolean, "
                         "table_bytes long, index_bytes long, "
                         "stats_shards long, orphan_stats_rows long")

    @staticmethod
    def _filter_saturation(metadata) -> dict:
        """Per-column membership-filter capacity telemetry (round-5
        verdict ask #8): term/bigram vocabularies (``<col>#terms2`` can
        approach the 2^20 bloom sizing cap on long documents) degrade
        SILENTLY — an overfilled bloom still prunes soundly but its
        false-positive rate climbs toward may-match-everything. Recover
        the fill state from the stored filters themselves (no metadata
        schema change, works on existing indexes):

        - bloom: fill = popcount/num_bits; est stored items
          n = -(m/k)·ln(1-fill); design capacity n0 = m·ln2/k (what the
          filter was sized for — the insert cap at sizing time was
          BLOOM_MAX_ITEMS); est fpp = fill^k. ``saturated`` when a block
          holds >10% more items than its design capacity.
        - dict / bitmap: exact membership — stored items reported, fpp 0,
          never saturated.

        Returns {column: (filter_blocks, max_stored_items,
        design_item_cap, max_fill, max_est_fpp, saturated)}."""
        import math

        import numpy as np

        from parquet_index_spark.statistics import (_BITMAP_MAGIC, _MAGIC,
                                                    BitmapFilter,
                                                    BloomFilter)

        stats = metadata._load_stats()
        out = {}
        if stats.num_rows == 0:
            return out
        # stream record batches instead of one to_pandas(): the blooms
        # column is the bulk of the stats table, and a diagnostic must
        # not need the whole thing resident at once on a million-block
        # table. State per column is six scalars.
        acc: dict = {}
        for batch in stats.select(["column", "dict_long", "dict_str",
                                   "bloom"]).to_batches(max_chunksize=4096):
            cols = batch.column(0).to_pylist()
            dls = batch.column(1).to_pylist()
            dss = batch.column(2).to_pylist()
            bls = batch.column(3).to_pylist()
            for col, dl, ds, bl in zip(cols, dls, dss, bls):
                st = acc.setdefault(col, {"blocks": 0, "max_items": 0,
                                          "cap": None, "max_fill": None,
                                          "max_fpp": None,
                                          "saturated": False})
                DataFrameIndexManager._sat_one(st, dl, ds, bl)
        for col, st in acc.items():
            if st["blocks"]:
                out[col] = (st["blocks"], st["max_items"], st["cap"],
                            st["max_fill"], st["max_fpp"], st["saturated"])
        return out

    @staticmethod
    def _sat_one(st: dict, dl, ds, bl) -> None:
        """Fold one block's filter into a column's saturation state."""
        import math

        import numpy as np

        from parquet_index_spark.statistics import (_BITMAP_MAGIC, _MAGIC,
                                                    BitmapFilter,
                                                    BloomFilter)

        d = ds if ds is not None else dl
        if d is not None:                         # exact dict membership
            st["blocks"] += 1
            st["max_items"] = max(st["max_items"], len(d))
            st["max_fpp"] = max(st["max_fpp"] or 0.0, 0.0)
            return
        if bl is None:
            return
        b = bytes(bl)
        st["blocks"] += 1
        if b[:8] == _BITMAP_MAGIC:                # exact bitmap membership
            bm = BitmapFilter.from_bytes(b)
            bits = np.frombuffer(bytes(bm.bits), dtype=np.uint8)
            st["max_items"] = max(st["max_items"],
                                  int(np.unpackbits(bits).sum()))
            st["max_fpp"] = max(st["max_fpp"] or 0.0, 0.0)
            return
        if b[:8] != _MAGIC:
            return  # unknown future format: no telemetry
        bf = BloomFilter.from_bytes(b)
        m, k = bf.num_bits, bf.num_hashes
        set_bits = int(np.unpackbits(
            np.frombuffer(bytes(bf.bits), dtype=np.uint8)).sum())
        fill = min(set_bits / max(m, 1), 1.0)
        design = max(1, round(m * math.log(2) / max(k, 1)))
        est = (int(-(m / max(k, 1)) * math.log(1.0 - fill))
               if fill < 1.0 else m)
        fpp = fill ** k
        st["max_items"] = max(st["max_items"], est)
        st["cap"] = max(st["cap"] or 0, design)
        st["max_fill"] = max(st["max_fill"] or 0.0, round(fill, 4))
        st["max_fpp"] = max(st["max_fpp"] or 0.0, round(fpp, 6))
        if est > 1.1 * design:
            st["saturated"] = True

    def _merge_refresh_schema(self, metastore: Metastore, spec: LocationSpec,
                              metadata: IndexMetadata,
                              new_files: list) -> None:
        """Fold new files' schemas into the stored table schema (schema
        evolution on append). New columns append as nullable fields — old
        files read them as null, exactly Spark's mergeSchema semantics but
        resolved ONCE here instead of per-query footer merging. A changed
        type for an existing column fails loudly: the stored schema drives
        every indexed scan, so silently picking either type would corrupt
        reads of half the files."""
        if not new_files:
            return
        paths = [collector.resolve_file(spec.table_path, f["path"])
                 for f in new_files]
        new_schema = (self.spark.read.option("mergeSchema", "true")
                      .parquet(*paths).schema)
        old = metadata.data_schema
        by_name = {f.name: f for f in old.fields}
        added = []
        for f in new_schema.fields:
            prev = by_name.get(f.name)
            if prev is None:
                added.append(T.StructField(f.name, f.dataType, True))
            elif prev.dataType != f.dataType:
                raise ValueError(
                    f"Column {f.name!r} changed type across refresh "
                    f"({prev.dataType.simpleString()} -> "
                    f"{f.dataType.simpleString()}); rewrite the table to "
                    "one type (or drop and recreate the index)")
        if not added:
            return
        merged = T.StructType(list(old.fields) + added)
        meta = {
            "version": 1,
            "table_path": metadata.table_path,
            "data_schema": merged.jsonValue(),
            "index_columns": list(metadata.index_columns.items()),
            "partition_columns": list(metadata.partition_columns.items()),
            "filter_type": metadata.filter_type,
        }
        meta_path = os.path.join(metadata.index_dir, METADATA_FILE)
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(meta, fh, indent=1)
        os.replace(tmp, meta_path)
        metadata.data_schema = merged

    @staticmethod
    def _recover_stats_swap(index_dir: str) -> None:
        """Heal an interrupted stats-shard compaction (the staged-rename
        swap below): a bak dir without a stats dir means the crash hit
        between the two renames — restore it; a bak beside a stats dir
        means the crash hit after the swap — drop the leftover. Either
        way the manifest never changed, so restoring ``_SUCCESS``
        re-commits a consistent index (compact_table's recovery
        contract, sources/__init__.py).

        Invoked from READ paths too (exists/load self-heal), so it must
        be harmless beside a LIVE writer: on a healthy index (marker +
        stats, no bak) it returns without touching anything — in
        particular not the tmp dir, which during a concurrent
        compaction's write phase (marker still present, the long part)
        is an active Spark output; _compact_stats_shards pre-cleans its
        own stale tmp at entry instead. The post-marker-drop rename
        window is two renames wide; a reader that collides with it (or
        with another recovering reader) tolerates losing the rename race
        and re-checks state rather than failing the read."""
        import shutil

        stats_dir = os.path.join(index_dir, STATS_DIR)
        bak = stats_dir + ".__compact_bak"
        tmp = stats_dir + ".__compact_tmp"
        marker = os.path.join(index_dir, SUCCESS_FILE)
        if (os.path.isfile(marker) and os.path.isdir(stats_dir)
                and not os.path.isdir(bak)):
            return  # healthy — do not disturb a possibly-live writer
        try:
            if os.path.isdir(bak):
                if not os.path.isdir(stats_dir):
                    os.rename(bak, stats_dir)
                else:
                    shutil.rmtree(bak)
                if not os.path.isfile(marker):
                    with open(marker, "w"):
                        pass
                # a bak dir is either a crashed swap OR a LIVE writer
                # between its two renames. Restoring the OLD stats is
                # sound in both cases (the manifest never changed), and
                # the writer tolerates losing this race — its swap
                # catches the failed rename, abandons the compaction,
                # and re-establishes the marker invariant — so clearing
                # the tmp dir here cannot strand it inconsistent.
                shutil.rmtree(tmp, ignore_errors=True)
            elif (os.path.isdir(tmp) and os.path.isdir(stats_dir)
                  and not os.path.isfile(marker)):
                # crash between remove(marker) and the first rename: stats
                # and manifest are both untouched, and the tmp dir (created
                # BEFORE the marker drop) is the signature that
                # distinguishes this from an interrupted CREATE (which must
                # stay absent) — re-commit by restoring the marker.
                # Do NOT rmtree(tmp) here (round-8 ADVICE): this same
                # state is a LIVE writer's post-marker-drop window, and
                # deleting tmp destroys its freshly compacted shards mid-
                # swap. Leaving tmp is safe in the genuine-crash case too:
                # _compact_stats_shards pre-cleans its own stale tmp at
                # entry, and a marker+stats+tmp index reads consistently
                # (tmp is outside every read path). If the writer is live,
                # it proceeds: its re-created marker open("w") truncates
                # ours and the swap completes normally.
                with open(marker, "w"):
                    pass
        except OSError:
            # lost a rename race to a concurrent recoverer (or the writer
            # itself finishing): if the index ended consistent, just
            # restore the marker if it is the only thing missing
            if (os.path.isdir(stats_dir) and not os.path.isdir(bak)
                    and not os.path.isfile(marker)):
                with open(marker, "w"):
                    pass

    def _compact_stats_shards(self, index_dir: str, n_shards: int) -> int:
        """Rewrite the stats dir into few shards (a refresh-per-micro-
        batch stream accumulates one per batch; every metadata read pays
        for the file count). The swap drops ``_SUCCESS`` first so a
        crash mid-swap leaves the index recoverably absent, never a
        half-swapped stats dir behind a valid marker; the manifest (the
        commit point) is untouched throughout."""
        import shutil

        stats_dir = os.path.join(index_dir, STATS_DIR)
        tmp = stats_dir + ".__compact_tmp"
        bak = stats_dir + ".__compact_bak"
        shutil.rmtree(tmp, ignore_errors=True)
        target = max(1, min(8, n_shards // 8))
        # drop orphan rows while rewriting: stats for paths outside the
        # manifest (interrupted refreshes, RETRACTED files) are ignored
        # by both fold paths but still cost every metadata read — the
        # compaction pass is the natural purge point. Left-semi against
        # the manifest's path column; Catalyst broadcasts it when small.
        manifest_paths = (self.spark.read
                          .parquet(os.path.join(index_dir, FILES_FILE))
                          .select("path"))
        (self.spark.read.parquet(stats_dir)
         .join(manifest_paths, "path", "left_semi")
         .repartition(target)
         .write.mode("overwrite").parquet(tmp))
        marker = os.path.join(index_dir, SUCCESS_FILE)
        os.remove(marker)
        try:
            os.rename(stats_dir, bak)
            os.rename(tmp, stats_dir)
            # restore the marker BEFORE dropping the (possibly large)
            # bak dir: the index-absent window is just the two renames
            with open(marker, "w"):
                pass
            shutil.rmtree(bak, ignore_errors=True)
        except OSError:
            # lost the swap race to a concurrent reader's recovery (it
            # saw the marker-less window, restored the old stats dir
            # and/or cleared our tmp). The compaction is ABANDONED, not
            # failed: the manifest never changed and the old stats are
            # consistent, so re-establish the invariant (stats dir +
            # marker) and drop whatever staging we still own. The next
            # threshold-triggered refresh simply compacts again.
            if not os.path.isdir(stats_dir) and os.path.isdir(bak):
                try:
                    os.rename(bak, stats_dir)
                except OSError:
                    pass  # another recoverer got there first
            shutil.rmtree(tmp, ignore_errors=True)
        finally:
            # both rename orders leave a consistent (old or compacted)
            # stats dir by here, or recovery rebuilds it on next entry
            if os.path.isdir(stats_dir) and not os.path.isfile(marker):
                with open(marker, "w"):
                    pass
        return len([f for f in os.listdir(stats_dir)
                    if f.endswith(".parquet")])

    def _refresh_index(self, path: str, dataspace: str) -> dict:
        """Incremental refresh; returns a summary dict (mode/new/removed)."""
        conf = self._conf()
        metastore = self._metastore(conf)
        spec = LocationSpec(path, dataspace=dataspace)
        self._recover_stats_swap(metastore.index_dir(spec))
        if not metastore.exists(spec):
            raise IndexNotFoundError(
                f"No index to refresh for {spec.table_path}; create it first")
        metadata = metastore.load(spec)
        index_dir = metastore.index_dir(spec)

        current, _part_cols = collector.list_table_files(spec.table_path)
        cur_by_path = {f["path"]: f for f in current}
        old_records = metadata.files.to_dict("records")
        old_by_path = {row["path"]: row for row in old_records}

        def _rewritten(old_row, cur) -> bool:
            # size-OR-mtime change marks a rewrite: size-only missed a
            # same-byte-size in-place rewrite (fixed-width records, a
            # round-trip compaction) whose stale per-block stats could
            # prune files that now match (round-8 verdict #2). Manifests
            # written before mtime_ns existed carry null => fall back to
            # the size-only comparison for those rows. Granularity
            # caveat: the fingerprint is only as fine as the
            # filesystem's mtime clock — on a coarse-resolution mount
            # (1s NFS, FAT) a same-size rewrite landing in the SAME
            # timestamp tick as the indexed write stays invisible until
            # either changes; detecting that regime needs a content
            # fingerprint, which costs a full re-read per refresh.
            if int(old_row["size"]) != cur["size"]:
                return True
            stored_mtime = old_row.get("mtime_ns")
            # unknown = missing column (pre-mtime manifest) or the exact
            # -1 sentinel; 0 and other negatives are legitimate
            # fingerprints (epoch-normalized or pre-epoch mtimes)
            if stored_mtime is None or pd.isna(stored_mtime) \
                    or int(stored_mtime) == -1:
                return False
            return int(stored_mtime) != cur["mtime_ns"]

        changed = [p for p, row in old_by_path.items()
                   if p in cur_by_path and _rewritten(row, cur_by_path[p])]
        removed = [p for p in old_by_path if p not in cur_by_path]
        new_files = [f for p, f in cur_by_path.items() if p not in old_by_path]

        if changed:
            # a file REWRITTEN IN PLACE holds rows the stored per-block
            # stats no longer describe — only a full rebuild restores
            # soundness
            metastore.invalidate(index_dir)
            self._create_index(path, "overwrite",
                               list(metadata.index_columns), dataspace)
            return {"mode": "rebuild", "new_files": len(new_files),
                    "changed": len(changed), "removed": len(removed),
                    "removed_or_changed": len(changed) + len(removed)}
        if not new_files and not removed:
            return {"mode": "noop", "new_files": 0,
                    "changed": 0, "removed": 0, "removed_or_changed": 0}

        # files that VANISHED (a retention delete, a compaction's swap)
        # retract from the manifest alone — the manifest is the commit
        # point and both fold paths ignore stats rows for paths outside
        # it (orphans), so no data-file scan and no shard rewrite is
        # needed; the orphaned stats/filter rows are purged by the next
        # shard compaction (round-7 verdict #5: the full-rebuild
        # fallback punished retention deletes at 100 TB)
        retained = old_records
        if removed:
            gone = set(removed)
            retained = [r for r in retained if r["path"] not in gone]
        # normalize the fingerprint so manifests WE write never hold a
        # null-mixed int64 column: pandas' to_pandas() would degrade such
        # a column to float64 whose 53-bit mantissa corrupts nanosecond
        # mtimes (~2^61) into false rewrite detections. -1 == "unknown,
        # compare size only" (rows inherited from pre-mtime manifests).
        for r in retained:
            m = r.get("mtime_ns")
            r["mtime_ns"] = -1 if (m is None or pd.isna(m)) else int(m)

        summaries = []
        if new_files:
            # schema evolution: merge new files' schemas into the stored
            # table schema BEFORE the manifest lands, so a crash in
            # between leaves a wider schema over the old manifest (sound:
            # extra columns read as null) rather than new files invisible
            # to .select on new columns
            self._merge_refresh_schema(metastore, spec, metadata, new_files)

            stats_dir = os.path.join(index_dir, STATS_DIR)
            existing_shards = [f for f in os.listdir(stats_dir)
                              if f.endswith(".parquet")] if os.path.isdir(stats_dir) else []
            shard_prefix = f"part-r{len(existing_shards):04d}"
            summaries = collector.run_stats_job(
                self.spark, spec.table_path, new_files, stats_dir,
                index_cols=list(metadata.index_columns.items()),
                filter_enabled=metadata.filter_type is not None,
                filter_type=metadata.filter_type or "bloom",
                dict_max_size=conf.dict_max_size,
                num_partitions=conf.num_partitions,
                shard_prefix=shard_prefix,
                bloom_fpp=conf.bloom_fpp)

        files_table = pa.Table.from_pylist(
            retained + summaries,
            schema=collector.FILES_SCHEMA)
        # the manifest is the commit point: write-then-rename so a crash
        # leaves either the old or the new manifest, never a torn file.
        # Shards written above for a manifest that never lands are orphans,
        # which both fold paths ignore (round-1 ADVICE atomicity fix).
        manifest = os.path.join(index_dir, FILES_FILE)
        tmp = manifest + ".tmp"
        pq.write_table(files_table, tmp)
        os.replace(tmp, manifest)
        metastore.invalidate(index_dir)
        # accounting is uniform across modes (round-8 ADVICE): `changed`
        # and `removed` are always separate keys and `removed_or_changed`
        # is always their sum, so a consumer keying on removed_or_changed
        # sees retention deletes in every mode; `retracted` kept for
        # callers written against the r7 shape
        out = {"mode": "incremental" if new_files else "retract",
               "new_files": len(new_files),
               "changed": 0, "removed": len(removed),
               "removed_or_changed": len(removed),
               "retracted": len(removed)}
        # threshold-gated shard compaction AFTER the commit: refresh-per-
        # micro-batch streams otherwise accumulate one shard per batch
        # and every metadata read pays for the file count
        stats_dir = os.path.join(index_dir, STATS_DIR)
        n_shards = (len([f for f in os.listdir(stats_dir)
                         if f.endswith(".parquet")])
                    if os.path.isdir(stats_dir) else 0)
        if conf.refresh_max_shards > 0 and n_shards > conf.refresh_max_shards:
            out["shards_before"] = n_shards
            out["shards_after"] = self._compact_stats_shards(
                index_dir, n_shards)
            metastore.invalidate(index_dir)
        return out

    def _exists_index(self, path: str, dataspace: str) -> bool:
        conf = self._conf()
        metastore = self._metastore(conf)
        spec = LocationSpec(path, dataspace=dataspace)
        # readers self-heal an interrupted stats-shard compaction instead
        # of depending on the next refresh, which a read-mostly table may
        # never run (round-7 ADVICE); a handful of os.path checks when
        # there is nothing to recover
        self._recover_stats_swap(metastore.index_dir(spec))
        return metastore.exists(spec)

    def _delete_index(self, path: str, dataspace: str) -> None:
        conf = self._conf()
        self._metastore(conf).delete(LocationSpec(path, dataspace=dataspace))

    def _load_index(self, path: str, dataspace: str) -> IndexedDataFrame:
        conf = self._conf()
        metastore = self._metastore(conf)
        spec = LocationSpec(path, dataspace=dataspace)
        # self-heal an interrupted compaction swap before the exists gate
        # (round-7 ADVICE — same contract as _exists_index)
        self._recover_stats_swap(metastore.index_dir(spec))
        if not metastore.exists(spec) and conf.create_if_not_exists:
            # auto-create over all columns (IndexedDataSource.scala:69-72)
            self._create_index(path, "error", None, dataspace)
        metadata = metastore.load(spec, filter_eager=conf.filter_eager_loading)
        return IndexedDataFrame(self.spark, metadata, self)


# per-(application, location) metastore singletons (Metastore.scala:283-286).
# Keyed on applicationId, NOT the CPython id of the session: ids are reused after GC,
# so a dead session's Metastore (and its 16-entry metadata cache) could be
# served to a NEW session landing on the same id (round-10 verdict — the
# hazard class fixed in pruning_spark's InBloom broadcast cache). Sessions
# sharing one SparkContext share the singleton, which is safe: Metastore
# state derives from the filesystem location, not session conf.
_METASTORES: Dict[tuple, Metastore] = {}


def _metastore_for(spark: SparkSession, location: str) -> Metastore:
    key = (spark.sparkContext.applicationId, os.path.abspath(location))
    ms = _METASTORES.get(key)
    if ms is None:
        # drop dead applications' singletons on insert: one live context
        # per process, so any OTHER applicationId is a stopped app whose
        # Metastore (and 16-entry metadata cache) would otherwise
        # accumulate forever on a session-cycling driver (round-11
        # review)
        for stale in [k for k in list(_METASTORES) if k[0] != key[0]]:
            _METASTORES.pop(stale, None)  # pop: two racing callers may
            # both snapshot the same stale key; list() first: a pop from
            # a racing thread mid-iteration would otherwise raise
            # "dictionary changed size during iteration" (round-11
            # review, third pass)
        ms = _METASTORES.setdefault(key, Metastore(location))
    return ms


class QueryContext:
    """Session wrapper: ``QueryContext(spark).index`` (reference:
    index.py:332-371)."""

    def __init__(self, session: SparkSession):
        self._spark = session
        self._manager = DataFrameIndexManager(session)

    @property
    def spark_session(self) -> SparkSession:
        return self._spark

    @property
    def index(self) -> DataFrameIndexManager:
        return self._manager
