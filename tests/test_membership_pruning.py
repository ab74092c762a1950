"""Membership pruning at default conf, end to end.

- The range probe: a may-match And that bounds an INT, LONG or DATE
  column on both sides, over at most ``pruning.RANGE_PROBE_MAX`` values,
  asks the membership filters for every value of the range. On
  hash-clustered tables min/max cannot localise a range, so the probe is
  what prunes; every answer must still equal an unindexed read, and the
  full-match fold (``count_where``, ``min_max_where``) must never probe.
- The precision guard: a point read over a 400-file hash-clustered table
  built with no fpp conf set opens about one file, and a read that prunes
  to no file runs no Spark task.
"""

import datetime
import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parquet_index_spark import QueryContext
from parquet_index_spark.pruning import RANGE_PROBE_MAX
from parquet_index_spark.statistics import ColumnMembership

FILTER_TYPES = ("bloom", "dict", "bitmap")
DAY0 = datetime.date(2000, 1, 1)


def _write_hash_clustered(path: str, keys: np.ndarray, n_files: int,
                          extra: dict = None) -> None:
    """One parquet file per hash bucket of ``keys``, sorted by key inside
    each file: every file's min/max spans almost the whole key domain."""
    keys = np.sort(keys)
    cols = {"id": keys, **(extra or {})}
    table = pa.table(cols)
    bucket = (keys.astype(np.uint64) * np.uint64(2654435761)
              % np.uint64(2 ** 32) % np.uint64(n_files)).astype(np.int64)
    os.makedirs(path)
    for f in range(n_files):
        pq.write_table(table.filter(pa.array(bucket == f)),
                       os.path.join(path, f"part-{f:05d}.parquet"))


def _day(n: int) -> str:
    return str(DAY0 + datetime.timedelta(days=n))


# (predicate, probes): whether the may-match fold asks the membership
# filters for the values of a range (one probe per fold)
CASES = [
    ("id >= 100 AND id < 105", True),
    ("id > 100 AND id <= 105", True),
    ("id BETWEEN 100 AND 104", True),
    (f"id BETWEEN 1000 AND {1000 + RANGE_PROBE_MAX - 1}", True),
    (f"id BETWEEN 1000 AND {1000 + RANGE_PROBE_MAX}", False),
    ("id >= 100 AND id < 100", False),          # empty: no row, no probe
    ("NOT (id BETWEEN 100 AND 104)", False),
    (f"d >= DATE '{_day(50)}' AND d < DATE '{_day(53)}'", True),
    (f"d > DATE '{_day(50)}' AND d <= DATE '{_day(53)}'", True),
    (f"d BETWEEN DATE '{_day(50)}' AND DATE '{_day(52)}'", True),
    (f"d BETWEEN DATE '{_day(100)}' AND "
     f"DATE '{_day(100 + RANGE_PROBE_MAX - 1)}'", True),
    (f"d BETWEEN DATE '{_day(100)}' AND "
     f"DATE '{_day(100 + RANGE_PROBE_MAX)}'", False),
    (f"d > DATE '{_day(50)}' AND d < DATE '{_day(51)}'", False),   # empty
    (f"NOT (d BETWEEN DATE '{_day(50)}' AND DATE '{_day(52)}')", False),
    # a TIMESTAMP column is never probed
    ("ts >= TIMESTAMP '2000-01-03 00:00:00' AND "
     "ts < TIMESTAMP '2000-01-03 04:00:00'", False),
    # a datetime literal on a DATE column does not normalize exactly
    (f"d >= TIMESTAMP '{_day(50)} 00:00:00' AND d < DATE '{_day(53)}'",
     False),
    (f"d >= DATE '{_day(50)}' AND d < TIMESTAMP '{_day(53)} 12:00:00'",
     False),
]


@pytest.fixture(scope="module")
def probe_tables(spark):
    """A 16-file table hash-clustered on ``id`` (LONG) with a DATE column
    of two rows per day and a TIMESTAMP column of one row per hour, plus
    two narrow files, indexed on all three under each filter type.
    -> (ctx, {filter type: path}, unindexed reader)."""
    base = tempfile.mkdtemp(prefix="pis_range_probe_")
    ids = np.arange(3000, dtype=np.int64)
    ts0 = datetime.datetime(2000, 1, 1, tzinfo=datetime.timezone.utc)
    extra = {
        "d": pa.array([DAY0 + datetime.timedelta(days=int(i) // 2)
                       for i in ids], pa.date32()),
        "ts": pa.array([ts0 + datetime.timedelta(hours=int(i)) for i in ids],
                       pa.timestamp("us", tz="UTC")),
    }
    src = os.path.join(base, "src")
    _write_hash_clustered(src, ids, 16, extra)
    # two narrow files every row of which lies in the probed ranges: the
    # full-match fold proves them, so it would probe too if it could
    for name, lo, day in (("narrow-0", 101, 51), ("narrow-1", 1100, 150)):
        pq.write_table(pa.table({
            "id": np.arange(lo, lo + 2, dtype=np.int64),
            "d": pa.array([DAY0 + datetime.timedelta(days=day + i)
                           for i in range(2)], pa.date32()),
            "ts": pa.array([ts0] * 2, pa.timestamp("us", tz="UTC"))}),
            os.path.join(src, f"{name}.parquet"))
    spark.conf.set("spark.sql.index.metastore", os.path.join(base, "store"))
    ctx = QueryContext(spark)
    key = "spark.sql.index.parquet.filter.type"
    paths = {}
    try:
        for ft in FILTER_TYPES:
            paths[ft] = os.path.join(base, ft)
            shutil.copytree(src, paths[ft])
            spark.conf.set(key, ft)
            ctx.index.create.mode("overwrite").indexBy("id", "d", "ts") \
                .parquet(paths[ft])
    finally:
        spark.conf.unset(key)
    yield ctx, paths, spark.read.parquet(src)
    shutil.rmtree(base, ignore_errors=True)


@pytest.fixture()
def probes(monkeypatch):
    """Count the membership probes (`ColumnMembership.refine` calls)."""
    calls = []
    orig = ColumnMembership.refine

    def counted(self, candidates, values, kind):
        calls.append(len(values))
        return orig(self, candidates, values, kind)

    monkeypatch.setattr(ColumnMembership, "refine", counted)
    return calls


class TestRangeProbe:

    # unindexed answers per predicate, shared by the three filter types
    _plain: dict = {}

    @pytest.fixture(autouse=True)
    def _tables(self, spark, probe_tables):
        self.ctx, self.paths, self.plain = probe_tables
        spark.conf.set("spark.sql.index.metastore",
                       os.path.join(os.path.dirname(self.paths["bloom"]),
                                    "store"))

    def _unindexed(self, where: str) -> dict:
        """-> {rows, files holding a match, count, (min, max) of id and d}."""
        if where not in self._plain:
            rows = self.plain.filter(where).withColumn(
                "__f", F.input_file_name()).collect()
            self._plain[where] = {
                "rows": sorted(tuple(r)[:-1] for r in rows),
                "files": len({r["__f"] for r in rows}),
                "id": (min((r["id"] for r in rows), default=None),
                       max((r["id"] for r in rows), default=None)),
                "d": (min((r["d"] for r in rows), default=None),
                      max((r["d"] for r in rows), default=None))}
        return self._plain[where]

    @pytest.mark.parametrize("ft", FILTER_TYPES)
    @pytest.mark.parametrize("where,probed", CASES)
    def test_filter_matches_unindexed(self, ft, where, probed, probes):
        want = self._unindexed(where)
        got = self.ctx.index.parquet(self.paths[ft]).filter(where)
        info = self.ctx.index.last_prune_info
        assert len(probes) == int(probed)
        assert sorted(tuple(r) for r in got.collect()) == want["rows"]
        assert info.selected_files >= want["files"]
        if probed and ft != "bloom":
            # exact filters: the probe keeps exactly the holding files
            assert info.selected_files == want["files"]

    @pytest.mark.parametrize("ft", FILTER_TYPES)
    @pytest.mark.parametrize("where,probed", CASES)
    def test_count_where_matches_unindexed(self, ft, where, probed, probes):
        want = self._unindexed(where)
        t = self.ctx.index.parquet(self.paths[ft])
        assert t.count_where(where) == len(want["rows"])
        # the may-match fold probes; the full-match fold never does
        assert len(probes) == int(probed)

    @pytest.mark.parametrize("ft", FILTER_TYPES)
    @pytest.mark.parametrize("where,probed", CASES)
    def test_min_max_where_matches_unindexed(self, ft, where, probed,
                                             probes):
        want = self._unindexed(where)
        t = self.ctx.index.parquet(self.paths[ft])
        for column in ("id", "d"):
            assert t.min_max_where(column, where) == want[column]
        assert len(probes) == 2 * int(probed)

    def test_datetime_literal_on_date_column(self, spark):
        """Spark compares a DATE column with a TIMESTAMP literal as
        timestamps, so d = 2000-01-05 satisfies d < '2000-01-05 12:00'.
        One file per day: min/max decide every file."""
        base = os.path.dirname(self.paths["bloom"])
        path = os.path.join(base, "by_day")
        os.makedirs(path)
        for i in range(8):
            pq.write_table(
                pa.table({"d": pa.array([DAY0 + datetime.timedelta(days=i)]
                                        * 3, pa.date32())}),
                os.path.join(path, f"p{i}.parquet"))
        self.ctx.index.create.indexBy("d").parquet(path)
        t = self.ctx.index.parquet(path)
        for op in ("<", "<=", "=", "!=", ">=", ">"):
            where = f"d {op} TIMESTAMP '{_day(4)} 12:00:00'"
            assert t.filter(where).count() == \
                spark.read.parquet(path).filter(where).count(), where


@pytest.fixture(scope="module")
def lineitem_like(spark):
    """400 files hash-clustered on ``k`` like the benchmark's lineitem
    (60k rows over 15k keys, sorted by key inside each file), indexed with
    no filter conf set."""
    base = tempfile.mkdtemp(prefix="pis_precision_")
    keys = np.random.default_rng(11).integers(0, 15_000, 60_000)
    path = os.path.join(base, "t")
    _write_hash_clustered(path, keys, 400)
    spark.conf.set("spark.sql.index.metastore", os.path.join(base, "store"))
    ctx = QueryContext(spark)
    ctx.index.create.mode("overwrite").indexBy("id").parquet(path)
    yield ctx, path, set(int(k) for k in keys)
    shutil.rmtree(base, ignore_errors=True)


class TestDefaultPrecision:

    @pytest.fixture(autouse=True)
    def _table(self, spark, lineitem_like):
        self.ctx, self.path, self.keys = lineitem_like
        spark.conf.set("spark.sql.index.metastore",
                       os.path.join(os.path.dirname(self.path), "store"))

    def _selected(self, where: str) -> int:
        self.ctx.index.parquet(self.path).filter(where)
        return self.ctx.index.last_prune_info.selected_files

    def test_point_reads_open_about_one_file(self):
        keys = sorted(self.keys)[::len(self.keys) // 50][:50]
        assert len(keys) == 50
        assert np.median([self._selected(f"id = {k}") for k in keys]) <= 2

    def test_in5_opens_at_most_ten_files(self):
        keys = sorted(self.keys)[1::2999][:5]
        assert len(keys) == 5
        assert self._selected(f"id IN ({', '.join(map(str, keys))})") <= 10

    def test_zero_survivor_read_runs_no_task(self, spark):
        t = self.ctx.index.parquet(self.path)
        df = t.filter("id = -1")
        assert self.ctx.index.last_prune_info.selected_files == 0
        assert df.schema == t.df.schema
        sc = spark.sparkContext
        sc.setJobGroup("pis_zero_survivors", "zero-survivor collect")
        try:
            assert df.collect() == []
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        tasks = sum(tracker.getStageInfo(s).numTasks
                    for j in tracker.getJobIdsForGroup("pis_zero_survivors")
                    for s in tracker.getJobInfo(j).stageIds)
        assert tasks == 0
