"""Session-timezone soundness for timestamp pruning (round-1 ADVICE high).

Spark evaluates a naive timestamp literal as a wall time in
spark.sql.session.timeZone; stats for instant (TimestampType) columns are
UTC micros. The fold must localize literals through the same timezone or
it prunes files that contain matching rows.
"""

import datetime
import os

import pytest
from pyspark.sql import functions as F, types as T

from parquet_index_spark import QueryContext
from parquet_index_spark import types as ityp

from tests.conftest import assert_same_rows


class TestResolveTz:
    def test_utc_aliases(self):
        for name in (None, "UTC", "GMT", "Z"):
            assert ityp.resolve_tz(name).utcoffset(None) == datetime.timedelta(0)

    def test_fixed_offsets(self):
        assert ityp.resolve_tz("+08:00").utcoffset(None) == datetime.timedelta(hours=8)
        assert ityp.resolve_tz("-05:30").utcoffset(None) == -datetime.timedelta(hours=5, minutes=30)
        assert ityp.resolve_tz("UTC+8").utcoffset(None) == datetime.timedelta(hours=8)

    def test_iana(self):
        tz = ityp.resolve_tz("America/Los_Angeles")
        # PST in January
        off = datetime.datetime(2020, 1, 15, tzinfo=tz).utcoffset()
        assert off == -datetime.timedelta(hours=8)

    def test_unknown_raises(self):
        with pytest.raises(Exception):
            ityp.resolve_tz("Not/AZone")


class TestLiteralLocalization:
    def test_instant_naive_literal_localized(self):
        naive = datetime.datetime(2020, 6, 1, 12, 0, 0)
        utc = ityp.to_long_space(naive, ityp.TIMESTAMP, "UTC")
        la = ityp.to_long_space(naive, ityp.TIMESTAMP, "America/Los_Angeles")
        # noon wall-clock in LA (PDT, UTC-7) is 7 hours later as an instant
        assert la - utc == 7 * 3600 * 1_000_000

    def test_ntz_ignores_tz(self):
        naive = datetime.datetime(2020, 6, 1, 12, 0, 0)
        a = ityp.to_long_space(naive, ityp.TIMESTAMP_NTZ)
        b = ityp.to_long_space(naive, ityp.TIMESTAMP_NTZ, "America/Los_Angeles")
        assert a == b

    def test_ntz_rejects_aware(self):
        aware = datetime.datetime(2020, 6, 1, tzinfo=datetime.timezone.utc)
        with pytest.raises(TypeError):
            ityp.to_long_space(aware, ityp.TIMESTAMP_NTZ)

    def test_kind_split(self):
        assert ityp.kind_of_spark_type(T.TimestampType()) == ityp.TIMESTAMP
        assert ityp.kind_of_spark_type(T.TimestampNTZType()) == ityp.TIMESTAMP_NTZ


class TestInstantPruningNonUtc:
    @pytest.fixture()
    def instant_table(self, spark, tmp_table_dir):
        """4 files of TimestampType (instant) data, one hour apart."""
        path = os.path.join(tmp_table_dir, "instants")
        rows = []
        for h in range(8):
            rows.append((h, datetime.datetime(2021, 3, 1, h, 0, 0)))
        df = spark.createDataFrame(rows, "id int, ev timestamp")
        assert isinstance(df.schema["ev"].dataType, T.TimestampType)
        df.repartitionByRange(4, "id").write.parquet(path)
        return path

    @pytest.mark.parametrize("tz", ["UTC", "America/Los_Angeles", "+08:00"])
    def test_differential_under_tz(self, spark, tmp_metastore, instant_table, tz):
        old = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", tz)
        try:
            ctx = QueryContext(spark)
            ctx.index.create.mode("overwrite").indexBy("ev").parquet(instant_table)
            t = ctx.index.parquet(instant_table)
            pred = "ev >= TIMESTAMP '2021-03-01 03:00:00' AND ev < TIMESTAMP '2021-03-01 06:00:00'"
            indexed = t.filter(pred)
            plain = spark.read.parquet(instant_table).filter(pred)
            # differential: pruned read == full scan under the same tz
            # (before the fix, non-UTC sessions pruned files holding matches)
            assert_same_rows(indexed, plain)
        finally:
            spark.conf.set("spark.sql.session.timeZone", old)
            ctx.index.delete.parquet(instant_table)

    def test_non_utc_still_prunes(self, spark, tmp_metastore, instant_table):
        old = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        try:
            ctx = QueryContext(spark)
            ctx.index.create.mode("overwrite").indexBy("ev").parquet(instant_table)
            t = ctx.index.parquet(instant_table)
            t.filter("ev = TIMESTAMP '2021-02-28 19:00:00'").collect()  # 03:00 UTC
            info = ctx.index.last_prune_info
            assert info.pruned and info.selected_files < info.total_files
        finally:
            spark.conf.set("spark.sql.session.timeZone", old)
            ctx.index.delete.parquet(instant_table)


class TestCollectedInstantKeys:
    """PySpark hands TimestampType values back as naive datetimes in the
    driver process's zone. merge_into and dpp_join fold keys they collect
    from Spark, so they must fold them as the instants they are, whatever
    that zone is: here the driver runs in New York and the session in UTC."""

    @pytest.fixture()
    def ny_driver(self, spark, monkeypatch):
        import time
        old = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        with monkeypatch.context() as m:
            m.setenv("TZ", "America/New_York")
            time.tzset()
            try:
                yield
            finally:
                spark.conf.set("spark.sql.session.timeZone", old)
        time.tzset()

    @staticmethod
    def _keys(spark, lo, hi, v=None):
        """(ts, v) rows for minutes lo..hi-1 past a fixed UTC instant."""
        return spark.range(lo, hi).select(
            F.timestamp_seconds(F.lit(1_600_000_000) + F.col("id") * 60)
            .alias("ts"),
            (F.col("id") if v is None else F.lit(v)).cast("long").alias("v"))

    @pytest.fixture()
    def ts_table(self, spark, tmp_metastore, tmp_table_dir, ny_driver):
        """480 one-minute keys range-split over 8 files, indexed on the
        instant key."""
        path = os.path.join(tmp_table_dir, "ts_keys")
        (self._keys(spark, 0, 480).repartitionByRange(8, "ts")
         .write.parquet(path))
        ctx = QueryContext(spark)
        ctx.index.create.indexBy("ts").parquet(path)
        return ctx, path

    @pytest.mark.parametrize("max_keys", [100_000, 0])
    def test_merge_updates_existing_key(self, spark, ts_table, max_keys):
        from parquet_index_spark.sources import merge_into
        ctx, path = ts_table
        info = merge_into(ctx, path, self._keys(spark, 100, 101, v=-1), "ts",
                          max_keys=max_keys)
        assert (info["files_rewritten"], info["rows_updated"],
                info["rows_inserted"]) == (1, 1, 0)
        t = spark.read.parquet(path)
        assert t.count() == 480
        assert t.select("ts").distinct().count() == 480
        assert t.filter("v = -1").count() == 1

    @pytest.mark.parametrize("max_keys", [100_000, 0])
    def test_dpp_join_keeps_every_match(self, spark, ts_table, max_keys):
        from parquet_index_spark.functions.joins import dpp_join
        ctx, path = ts_table
        dim = self._keys(spark, 0, 480).filter("v % 48 = 5").select(
            "ts", F.col("v").alias("dim_v"))
        got = dpp_join(ctx, path, "ts", dim, "ts", max_keys=max_keys)
        assert sorted(r["v"] for r in got.collect()) == list(range(5, 480, 48))
