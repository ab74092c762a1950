"""Metadata-accelerated count (IndexedDataFrame.count_where).

The three-band fold must be differentially exact against a plain
filter().count() for every predicate shape, and must touch only boundary
files when the layout clusters the predicate column.
"""

import os

import pytest
from pyspark.sql import functions as F

from parquet_index_spark import QueryContext


@pytest.fixture(scope="module")
def counted(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fastcount") / "tbl")
    ms = str(tmp_path_factory.mktemp("fastcount_ms"))
    spark.conf.set("spark.sql.index.metastore", ms)
    # clustered on id (range-partitioned files), strings + nulls included
    df = (spark.range(0, 10000)
          .select(F.col("id"),
                  F.concat(F.lit("k"), F.format_string("%05d", "id"))
                  .alias("key"),
                  F.when(F.col("id") % 10 == 0, None)
                  .otherwise(F.col("id") % 7).alias("bucket")))
    df.repartitionByRange(20, "id").write.mode("overwrite").parquet(d)
    ctx = QueryContext(spark)
    ctx.index.create.indexBy("id", "key", "bucket").parquet(d)
    t = ctx.index.parquet(d)
    plain = spark.read.parquet(d)
    return ctx, t, plain


PREDICATES = [
    # fast representatives: interior range, point, NULL, string range,
    # unclustered column; the remaining shapes are `slow` (each is used
    # by four parametrized tests, so the grid dominated this file)
    "id >= 2500 AND id < 7500",
    "id = 4242",
    pytest.param("id IN (1, 2, 3, 9999)", marks=pytest.mark.slow),
    pytest.param("id <> 5000", marks=pytest.mark.slow),
    pytest.param("bucket IS NULL", marks=pytest.mark.slow),
    pytest.param("bucket IS NOT NULL", marks=pytest.mark.slow),
    pytest.param("id < 100 OR id >= 9900", marks=pytest.mark.slow),
    pytest.param("key >= 'k02500' AND key < 'k07500'",
                 marks=pytest.mark.slow),  # round-13 budget trim: the
    # NULL and string-range shapes join the -m "" long tail; interior
    # range, point, and the unclustered column stay the fast reps
    pytest.param("id BETWEEN 0 AND 9999", marks=pytest.mark.slow),
    pytest.param("id > 100000", marks=pytest.mark.slow),
    "bucket = 3",          # unclustered column: correct, mostly scanned
]


@pytest.mark.parametrize("pred", PREDICATES)
def test_count_matches_plain_filter(counted, pred):
    _ctx, t, plain = counted
    assert t.count_where(pred) == plain.filter(pred).count()


def test_interior_files_counted_from_metadata(counted):
    ctx, t, plain = counted
    pred = "id >= 2500 AND id < 7500"
    n = t.count_where(pred)
    info = ctx.index.last_prune_info
    assert n == plain.filter(pred).count()
    # 20 range files over 10k ids: interior files are proven full-match,
    # only the two boundary files get scanned
    assert info.total_files == 20
    assert info.selected_files <= 2


def test_no_predicate_is_pure_metadata(counted):
    ctx, t, plain = counted
    assert t.count_where() == plain.count()
    assert ctx.index.last_prune_info.selected_files == 0


def test_impossible_range_scans_nothing(counted):
    ctx, t, _plain = counted
    assert t.count_where("id > 100000") == 0
    assert ctx.index.last_prune_info.selected_files == 0


def test_covering_range_scans_nothing(counted):
    ctx, t, plain = counted
    assert t.count_where("id >= 0 AND id < 10000") == plain.count()
    assert ctx.index.last_prune_info.selected_files == 0


def test_unindexed_column_still_exact(counted, spark):
    _ctx, t, plain = counted
    # arithmetic on the column is outside the foldable grammar ->
    # falls back to pruned filter().count(), still exact
    pred = "id % 2 = 0"
    assert t.count_where(pred) == plain.filter(pred).count()


@pytest.mark.parametrize("threshold", [None, "0"],
                         ids=["driver_fold", "spark_fold"])
def test_filter_folds_may_match_only(spark, counted, monkeypatch, threshold):
    """A pruned read runs no full-match fold on either route; only the
    decompositions of count_where and min_max_where do."""
    from parquet_index_spark import pruning, pruning_spark
    _ctx, t, _plain = counted
    calls = []
    for owner, name in ((pruning, "evaluate_full"),
                        (pruning_spark, "compile_full_to_spark")):
        def spy(*args, _orig=getattr(owner, name), **kwargs):
            calls.append(args)
            return _orig(*args, **kwargs)
        monkeypatch.setattr(owner, name, spy)
    key = "spark.sql.index.pruning.sparkThreshold"
    if threshold is not None:
        spark.conf.set(key, threshold)
    try:
        t.filter("id >= 2500 AND id < 7500")
        assert calls == []
        t.count_where("id >= 2500 AND id < 7500")
        assert len(calls) == 1
    finally:
        spark.conf.unset(key)


class TestMinMaxWhere:
    @pytest.mark.parametrize("pred", PREDICATES)
    def test_matches_plain_agg(self, counted, pred):
        _ctx, t, plain = counted
        row = (plain.filter(pred)
               .agg(F.min("id").alias("mn"), F.max("id").alias("mx")).head())
        assert t.min_max_where("id", pred) == (row["mn"], row["mx"])

    def test_string_column(self, counted):
        _ctx, t, plain = counted
        pred = "id >= 2500 AND id < 7500"
        row = (plain.filter(pred)
               .agg(F.min("key").alias("mn"), F.max("key").alias("mx"))
               .head())
        assert t.min_max_where("key", pred) == (row["mn"], row["mx"])

    def test_no_predicate_boundary_accounting(self, counted):
        ctx, t, plain = counted
        row = plain.agg(F.min("id").alias("mn"),
                        F.max("id").alias("mx")).head()
        assert t.min_max_where("id") == (row["mn"], row["mx"])
        # every block carries exact id stats: pure metadata, no scan
        assert ctx.index.last_prune_info.selected_files == 0

    def test_interior_from_metadata(self, counted):
        ctx, t, _plain = counted
        mn, mx = t.min_max_where("id", "id >= 2500 AND id < 7500")
        assert (mn, mx) == (2500, 7499)
        assert ctx.index.last_prune_info.selected_files <= 2

    def test_empty_result_is_none_pair(self, counted):
        _ctx, t, _plain = counted
        assert t.min_max_where("id", "id > 100000") == (None, None)

    def test_all_null_matching_set(self, counted):
        _ctx, t, plain = counted
        # bucket IS NULL rows have non-null ids, but min/max of bucket
        # over them is NULL — SQL semantics preserved
        assert t.min_max_where("bucket", "bucket IS NULL") == (None, None)

    def test_unindexed_agg_column_falls_back(self, counted, spark):
        _ctx, t, plain = counted
        # aggregate over a column with index stats but arithmetic pred ->
        # parse fallback path, still exact
        pred = "id % 2 = 0"
        row = (plain.filter(pred)
               .agg(F.min("id").alias("mn"), F.max("id").alias("mx")).head())
        assert t.min_max_where("id", pred) == (row["mn"], row["mx"])


class TestDistributedFold:
    """Force the Spark-side fold (threshold=1 block) so count_where /
    min_max_where exercise pruning_spark.count_files_with_spark — the
    100 TB path where the metadata itself outgrows the driver."""

    KEY = "spark.sql.index.pruning.sparkThreshold"

    @pytest.fixture()
    def tiny_threshold(self, spark):
        spark.conf.set(self.KEY, "1")
        yield
        spark.conf.unset(self.KEY)

    def _driver_selected(self, spark, ctx, call) -> int:
        """Files the driver fold scans for ``call``."""
        spark.conf.unset(self.KEY)
        try:
            call()
        finally:
            spark.conf.set(self.KEY, "1")
        return ctx.index.last_prune_info.selected_files

    @pytest.mark.parametrize("pred", PREDICATES)
    def test_count_matches_plain(self, spark, counted, tiny_threshold, pred):
        ctx, t, plain = counted
        assert t.count_where(pred) == plain.filter(pred).count()
        selected = ctx.index.last_prune_info.selected_files
        assert selected == self._driver_selected(
            spark, ctx, lambda: t.count_where(pred))

    def test_count_boundary_accounting(self, counted, tiny_threshold):
        ctx, t, plain = counted
        pred = "id >= 2500 AND id < 7500"
        assert t.count_where(pred) == plain.filter(pred).count()
        assert ctx.index.last_prune_info.selected_files <= 2

    @pytest.mark.parametrize("pred", PREDICATES)
    def test_minmax_matches_plain(self, spark, counted, tiny_threshold,
                                  pred):
        ctx, t, plain = counted
        row = (plain.filter(pred)
               .agg(F.min("id").alias("mn"), F.max("id").alias("mx")).head())
        assert t.min_max_where("id", pred) == (row["mn"], row["mx"])
        selected = ctx.index.last_prune_info.selected_files
        assert selected == self._driver_selected(
            spark, ctx, lambda: t.min_max_where("id", pred))

    def test_minmax_string_column(self, counted, tiny_threshold):
        _ctx, t, plain = counted
        pred = "id >= 2500 AND id < 7500"
        row = (plain.filter(pred)
               .agg(F.min("key").alias("mn"), F.max("key").alias("mx"))
               .head())
        assert t.min_max_where("key", pred) == (row["mn"], row["mx"])

    def test_fold_jobs(self, counted, count_jobs, tiny_threshold):
        """Spark jobs per distributed fold call on this 20-file,
        range-clustered table: the pruned read's fold collects its
        survivors; the count and min/max folds add the manifest join
        and one final aggregate. The stats schema is given, so no job
        infers it."""
        from parquet_index_spark import pruning_spark
        _ctx, t, _plain = counted
        pred = "id >= 2500 AND id < 7500"
        prune = count_jobs(pruning_spark, "prune_files_with_spark")
        decompose = count_jobs(pruning_spark, "count_files_with_spark")
        t.filter(pred)
        t.count_where(pred)
        t.min_max_where("id", pred)
        assert [n for _args, n in prune] == [3]
        assert [n for _args, n in decompose] == [5, 5]

    def test_minmax_no_predicate(self, counted, tiny_threshold):
        _ctx, t, plain = counted
        row = plain.agg(F.min("id").alias("mn"),
                        F.max("id").alias("mx")).head()
        assert t.min_max_where("id") == (row["mn"], row["mx"])
