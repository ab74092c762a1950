"""E2E tests: hive-partitioned tables, filter statistics, edge fixtures.

Covers the reference's partitioned-table and filter-statistics matrix
(IndexSuite.scala:68-91, 417-541) and its edge fixtures: all-null columns
(691), empty partitions/tables (759-794), empty strings (795-834), UTF-8
ordering (708-758).
"""

import os
from urllib.parse import unquote, urlparse

import pytest
from pyspark.sql import Row, functions as F

from parquet_index_spark import QueryContext, col
from parquet_index_spark.predicates import parse_sql_predicate
from tests.conftest import assert_same_rows


@pytest.fixture()
def ctx(spark, tmp_metastore):
    return QueryContext(spark)


def _scan_roots(df):
    """Root paths of the file indexes behind ``df``'s scans."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    roots = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRelation":
            paths = leaf.relation().location().rootPaths()
            roots += [paths.apply(j).toString() for j in range(paths.size())]
    return roots


def _input_files(df, table):
    """``df.inputFiles()`` as sorted paths relative to ``table``."""
    return sorted(os.path.relpath(unquote(urlparse(f).path), table)
                  for f in df.inputFiles())


class TestPartitionedTables:
    @pytest.fixture()
    def ptable(self, spark, tmp_table_dir):
        path = os.path.join(tmp_table_dir, "ptable")
        df = spark.createDataFrame(
            [Row(str_col=f"s{i}", num=i, part=i % 4) for i in range(100)])
        df.write.partitionBy("part").parquet(path)
        return path

    def test_partition_pruning(self, spark, ctx, ptable):
        ctx.index.create.indexBy("num").parquet(ptable)
        t = ctx.index.parquet(ptable)
        indexed = t.filter("part = 2")
        plain = spark.read.parquet(ptable).filter("part = 2")
        assert_same_rows(indexed, plain)
        info = ctx.index.last_prune_info
        assert info.selected_files < info.total_files

    def test_partition_and_data_predicate(self, spark, ctx, ptable):
        ctx.index.create.indexBy("num").parquet(ptable)
        t = ctx.index.parquet(ptable)
        assert_same_rows(
            t.filter("part = 1 AND num < 10"),
            spark.read.parquet(ptable).filter("part = 1 AND num < 10"))

    def test_partition_in_range(self, spark, ctx, ptable):
        ctx.index.create.indexBy("num").parquet(ptable)
        t = ctx.index.parquet(ptable)
        for pred in ["part IN (0, 3)", "part > 2", "part <> 1"]:
            assert_same_rows(t.filter(pred),
                             spark.read.parquet(ptable).filter(pred))

    def test_whole_partition_collapses_to_directory(self, spark, ctx,
                                                    ptable):
        """When every file of a partition survives, Spark gets the one
        directory root, not the file list (scale: short path lists), and
        reads exactly the fold's survivors."""
        ctx.index.create.mode("overwrite").indexBy("num").parquet(ptable)
        t = ctx.index.parquet(ptable)
        df = t.filter("part = 2")
        assert [os.path.basename(r) for r in _scan_roots(df)] == ["part=2"]
        survivors = t._prune(parse_sql_predicate("part = 2"))
        assert len(survivors) > 1
        assert _input_files(df, ptable) == sorted(survivors)

    def test_indexing_partition_column_rejected(self, ctx, ptable):
        # ParquetMetastoreSupport.scala:111-117
        with pytest.raises(ValueError, match="partition column"):
            ctx.index.create.indexBy("part").parquet(ptable)

    def test_index_by_all_skips_partition_columns(self, spark, ctx, ptable):
        ctx.index.create.indexByAll().parquet(ptable)
        t = ctx.index.parquet(ptable)
        assert_same_rows(t.filter("str_col = 's7'"),
                         spark.read.parquet(ptable).filter("str_col = 's7'"))

    def test_string_partition_values(self, spark, ctx, tmp_table_dir):
        path = os.path.join(tmp_table_dir, "strpart")
        df = spark.createDataFrame(
            [Row(v=i, grp=g) for i in range(20) for g in ("us", "eu")])
        df.write.partitionBy("grp").parquet(path)
        ctx.index.create.indexBy("v").parquet(path)
        t = ctx.index.parquet(path)
        assert_same_rows(t.filter("grp = 'eu' AND v <= 3"),
                         spark.read.parquet(path).filter("grp = 'eu' AND v <= 3"))
        assert ctx.index.last_prune_info.selected_files < \
            ctx.index.last_prune_info.total_files


class TestFilterStatistics:
    @pytest.fixture(autouse=True)
    def _restore_filter_confs(self, spark):
        keys = ("spark.sql.index.parquet.filter.enabled",
                "spark.sql.index.parquet.filter.type")

        def get(k):
            try:
                return spark.conf.get(k)
            except Exception:
                return None
        old = {k: get(k) for k in keys}
        yield
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    @pytest.fixture()
    def table16(self, spark, tmp_table_dir):
        """wide16 fixture: 16 rows in 16 files (IndexSuite.scala:233-357)."""
        path = os.path.join(tmp_table_dir, "wide16")
        df = spark.createDataFrame([Row(id=i, s=f"id-{i}") for i in range(16)])
        df.repartition(16, "id").write.parquet(path)
        return path

    @pytest.mark.parametrize("ftype", ["bloom", "dict", "bitmap"])
    def test_point_query_with_filter_stats(self, spark, ctx, table16, ftype):
        spark.conf.set("spark.sql.index.parquet.filter.enabled", "true")
        spark.conf.set("spark.sql.index.parquet.filter.type", ftype)
        ctx.index.create.mode("overwrite").indexBy("id", "s").parquet(table16)
        t = ctx.index.parquet(table16)
        assert_same_rows(t.filter("id = 7"),
                         spark.read.parquet(table16).filter("id = 7"))
        # hash-partitioned files all share overlapping [min,max]; the
        # membership filter is what gets this to ~1 file
        assert ctx.index.last_prune_info.selected_files <= 2
        assert_same_rows(t.filter("s = 'id-3'"),
                         spark.read.parquet(table16).filter("s = 'id-3'"))
        assert ctx.index.last_prune_info.selected_files <= 2

    def test_no_filter_stats_scans_more(self, spark, ctx, table16):
        spark.conf.set("spark.sql.index.parquet.filter.enabled", "false")
        try:
            ctx.index.create.mode("overwrite").indexBy("id").parquet(table16)
            t = ctx.index.parquet(table16)
            assert_same_rows(t.filter("id = 7"),
                             spark.read.parquet(table16).filter("id = 7"))
        finally:
            spark.conf.set("spark.sql.index.parquet.filter.enabled", "true")

    @pytest.mark.parametrize("eager", ["true", "false"])
    def test_eager_vs_lazy_loading(self, spark, ctx, table16, eager):
        spark.conf.set("spark.sql.index.parquet.filter.eagerLoading", eager)
        try:
            ctx.index.create.mode("overwrite").indexBy("id").parquet(table16)
            t = ctx.index.parquet(table16)
            assert_same_rows(t.filter("id IN (3, 12)"),
                             spark.read.parquet(table16).filter("id IN (3, 12)"))
        finally:
            spark.conf.set("spark.sql.index.parquet.filter.eagerLoading", "false")


class TestEdgeFixtures:
    def test_all_null_column(self, spark, ctx, tmp_table_dir):
        # IndexSuite.scala:691-707
        path = os.path.join(tmp_table_dir, "allnulls")
        df = spark.createDataFrame(
            [Row(id=i, nullable=None) for i in range(10)],
            schema="id bigint, nullable string")
        df.repartition(2).write.parquet(path)
        ctx.index.create.indexBy("id", "nullable").parquet(path)
        t = ctx.index.parquet(path)
        assert_same_rows(t.filter("nullable IS NULL"),
                         spark.read.parquet(path).filter("nullable IS NULL"))
        assert_same_rows(t.filter("nullable = 'x'"),
                         spark.read.parquet(path).filter("nullable = 'x'"))
        assert ctx.index.last_prune_info.selected_files == 0
        assert_same_rows(t.filter("nullable IS NOT NULL"),
                         spark.read.parquet(path).filter("nullable IS NOT NULL"))

    def test_empty_strings(self, spark, ctx, tmp_table_dir):
        # IndexSuite.scala:795-834
        path = os.path.join(tmp_table_dir, "emptystr")
        df = spark.createDataFrame(
            [Row(id=i, s="" if i % 2 == 0 else f"v{i}") for i in range(10)])
        df.repartition(2).write.parquet(path)
        ctx.index.create.indexBy("s").parquet(path)
        t = ctx.index.parquet(path)
        for pred in ["s = ''", "s = 'v1'", "s > ''"]:
            assert_same_rows(t.filter(pred),
                             spark.read.parquet(path).filter(pred))

    def test_empty_table(self, spark, ctx, tmp_table_dir):
        # IndexSuite.scala:759-794: zero-row files => every query empty
        path = os.path.join(tmp_table_dir, "empty")
        df = spark.createDataFrame([], schema="id bigint, s string")
        df.repartition(2).write.parquet(path)
        ctx.index.create.indexBy("id").parquet(path)
        t = ctx.index.parquet(path)
        assert t.filter("id = 1").count() == 0
        assert t.filter("id IS NULL").count() == 0

    def test_utf8_values(self, spark, ctx, tmp_table_dir):
        # issue #25 fixture (IndexSuite.scala:708-758): non-ASCII strings
        path = os.path.join(tmp_table_dir, "utf8")
        values = ["aa≤", "bb", "ÿzz", "aa", "≤≥"]
        df = spark.createDataFrame([Row(id=i, s=s) for i, s in enumerate(values)])
        df.repartition(2).write.parquet(path)
        ctx.index.create.indexBy("s").parquet(path)
        t = ctx.index.parquet(path)
        for pred in ["s = 'aa≤'", "s > 'bb'", "s <= 'aa'", "s = '≤≥'"]:
            assert_same_rows(t.filter(pred),
                             spark.read.parquet(path).filter(pred))

    def test_nested_types_rejected(self, spark, ctx, tmp_table_dir):
        # IndexSuite.scala:657-690
        path = os.path.join(tmp_table_dir, "nested")
        df = spark.range(5).select(
            F.col("id"), F.array(F.col("id")).alias("arr"),
            F.struct(F.col("id").alias("a")).alias("st"))
        df.write.parquet(path)
        for bad in ("arr", "st"):
            with pytest.raises(ValueError, match="unsupported type"):
                ctx.index.create.mode("overwrite").indexBy(bad).parquet(path)
        # indexByAll silently keeps only supported columns
        ctx.index.create.mode("overwrite").indexByAll().parquet(path)
        t = ctx.index.parquet(path)
        assert_same_rows(t.filter("id = 3"),
                         spark.read.parquet(path).filter("id = 3"))

    def test_single_file_table(self, spark, ctx, tmp_table_dir):
        path = os.path.join(tmp_table_dir, "single.parquet")
        spark.range(100).write.parquet(path)
        ctx.index.create.indexBy("id").parquet(path)
        t = ctx.index.parquet(path)
        assert_same_rows(t.filter("id = 5"),
                         spark.read.parquet(path).filter("id = 5"))


class TestPrunedReadRoute:
    """How a pruned read reaches Spark (``IndexedDataFrame._scan``): the
    survivors' directories as roots plus a file-name glob. No per-file
    listing job at any survivor count; a count reads no file it already
    counted from metadata."""

    @pytest.fixture()
    def flat40(self, spark, tmp_table_dir):
        """Flat 40-file table: 36 files share ids 0..999 (every one a
        boundary file for ``id < 500``), 4 hold ids 10000..10399."""
        path = os.path.join(tmp_table_dir, "flat40")
        spark.range(0, 1000).repartition(36).write.parquet(path)
        spark.range(10_000, 10_400).repartition(4) \
            .write.mode("append").parquet(path)
        return path

    @pytest.fixture()
    def shared_names(self, spark, tmp_table_dir):
        """Two Hive partitions written by one 40-task job, so both hold
        the same 40 file names. Task t writes ids 100t..100t+99: evens
        into p=0, odds into p=1."""
        path = os.path.join(tmp_table_dir, "shared_names")
        spark.range(0, 4000, numPartitions=40) \
            .selectExpr("id", "cast(id % 2 AS int) AS p") \
            .write.partitionBy("p").parquet(path)
        return path

    # p=0: one row of tasks 0..33 and 39 (35 boundary files, the rest
    # pruned); p=1: task 1's file fully matches, one row of task 39. The
    # glob of the survivors' names matches task 1's p=0 file, which is
    # read too, and task 1's p=1 file, which must not be counted twice.
    SHARED_PRED = (
        "(p = 0 AND id IN ({})) OR "
        "(p = 1 AND ((id >= 100 AND id < 200) OR id = 3901))".format(
            ", ".join(str(100 * k + 2) for k in [*range(34), 39])))

    @staticmethod
    def _count_scan_jobs(spark, monkeypatch):
        """Wrap ``_scan`` to record, per call, (number of files, Spark
        jobs launched while the reader was built)."""
        import parquet_index_spark.manager as mgr
        sc = spark.sparkContext
        built = []
        orig = mgr.IndexedDataFrame._scan

        def scan_in_group(self, files):
            group = f"pis_scan_{len(built)}"
            sc.setJobGroup(group, "pruned reader construction")
            try:
                df = orig(self, files)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            built.append((len(files),
                          len(sc.statusTracker().getJobIdsForGroup(group))))
            return df

        monkeypatch.setattr(mgr.IndexedDataFrame, "_scan", scan_in_group)
        return built

    def test_building_pruned_reader_launches_no_job(self, spark, ctx,
                                                    flat40, monkeypatch):
        ctx.index.create.indexBy("id").parquet(flat40)
        t = ctx.index.parquet(flat40)
        built = self._count_scan_jobs(spark, monkeypatch)
        plain = spark.read.parquet(flat40)
        wide = t.filter("id < 500")
        assert _scan_roots(wide) == [_scan_roots(plain)[0]]
        assert_same_rows(wide, plain.filter("id < 500"))
        assert t.count_where("id < 500") == 500
        assert ctx.index.last_prune_info.selected_files == 36
        assert_same_rows(t.filter("id = 10005"),
                         plain.filter("id = 10005"))
        assert [n for n, _ in built][:2] == [36, 36]
        assert [jobs for _, jobs in built] == [0, 0, 0]

    def test_glob_escapes_metacharacters(self, spark, ctx, tmp_table_dir):
        """Survivors named with ``{ } [ ] , * ? \\`` match only
        themselves: each has a decoy that the unescaped name would match
        as a glob."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(tmp_table_dir, "globnames")
        os.makedirs(path)
        pairs = [("a{1}", "a1"), ("b[2]", "b2"), ("c,3", "c"),
                 ("d*4", "dzz4"), ("e?5", "ex5"), ("f\\6", "f6")]
        names = [n + ".parquet" for pair in pairs for n in pair]
        for i, name in enumerate(names):
            pq.write_table(pa.table({"id": list(range(i * 10, i * 10 + 10))}),
                           os.path.join(path, name))
        ctx.index.create.indexBy("id").parquet(path)
        t = ctx.index.parquet(path)
        pred = "id IN ({})".format(
            ", ".join(str(i * 10 + 3) for i in range(0, len(names), 2)))
        df = t.filter(pred)
        assert_same_rows(df, spark.read.parquet(path).filter(pred))
        assert _input_files(df, path) == sorted(names[::2])

    @pytest.mark.parametrize("spark_fold", [False, True])
    def test_shared_names_count_once(self, spark, ctx, shared_names,
                                     monkeypatch, spark_fold):
        """A count over partitions that share file names reads a fully
        matching file through the name glob, and counts it once, from
        either fold; building the readers launches no Spark job."""
        from parquet_index_spark.pruning_spark import SPARK_PRUNING_THRESHOLD
        ctx.index.create.indexBy("id").parquet(shared_names)
        t = ctx.index.parquet(shared_names)
        pred = self.SHARED_PRED
        plain = spark.read.parquet(shared_names).filter(pred)
        built = self._count_scan_jobs(spark, monkeypatch)
        if spark_fold:
            spark.conf.set(SPARK_PRUNING_THRESHOLD, "0")
        try:
            assert t.count_where(pred) == plain.count() == 86
            assert ctx.index.last_prune_info.selected_files == 36
            df = t.filter(pred)
            survivors = t._prune(parse_sql_predicate(pred))
        finally:
            spark.conf.unset(SPARK_PRUNING_THRESHOLD)
        assert_same_rows(df, plain)
        assert sorted(r.split(os.sep)[-1] for r in _scan_roots(df)) \
            == ["p=0", "p=1"]
        read = _input_files(df, shared_names)
        assert set(survivors) < set(read)
        assert read == sorted(t._read_by_scan(survivors))
        assert [n for n, _ in built] == [36, 37]
        assert [jobs for _, jobs in built] == [0, 0]
