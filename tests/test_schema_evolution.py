"""Schema evolution over indexed tables, and soundness for statless files.

Covers the three drift shapes a long-lived 100 TB table actually hits:
new files ADD a column (index refresh widens the stored schema; old files
read it as null), new files DROP an indexed column (all-null stats =>
precise pruning, null-correct reads), and a column CHANGES type (refused
loudly — either stored type would corrupt half the files).

Also pins the footer-path soundness rule: a parquet file written with
statistics disabled has no min/max but is NOT all-null — it must never be
pruned (pruning.statless, which pruning._fold applies to every comparison).
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parquet_index_spark import QueryContext
from tests.conftest import assert_same_rows


@pytest.fixture()
def ctx(spark, tmp_metastore):
    return QueryContext(spark)


@pytest.fixture()
def evolving_table(spark, tmp_table_dir):
    path = os.path.join(tmp_table_dir, "evolving")
    (spark.range(0, 1000)
     .select("id", (F.col("id") % 10).alias("bucket"))
     .repartition(4).write.parquet(path))
    return path


class TestAddedColumn:
    def append_v2(self, spark, path):
        (spark.range(5000, 6000)
         .select("id", (F.col("id") % 10).alias("bucket"),
                 F.concat(F.lit("tag-"), F.col("id")).alias("tag"))
         .repartition(2).write.mode("append").parquet(path))

    def test_refresh_widens_schema(self, spark, ctx, evolving_table):
        ctx.index.create.indexBy("id").parquet(evolving_table)
        self.append_v2(spark, evolving_table)
        out = ctx.index.refresh.parquet(evolving_table)
        assert out["mode"] == "incremental" and out["new_files"] == 2
        t = ctx.index.parquet(evolving_table)
        assert "tag" in t.df.columns
        # old files read the new column as null; new files carry values
        merged = (spark.read.option("mergeSchema", "true")
                  .parquet(evolving_table))
        assert_same_rows(t.df.select("id", "tag"),
                         merged.select("id", "tag"))

    def test_pruning_still_works_after_evolution(self, spark, ctx,
                                                 evolving_table):
        ctx.index.create.indexBy("id").parquet(evolving_table)
        self.append_v2(spark, evolving_table)
        ctx.index.refresh.parquet(evolving_table)
        t = ctx.index.parquet(evolving_table)
        merged = (spark.read.option("mergeSchema", "true")
                  .parquet(evolving_table))
        assert_same_rows(t.filter("id = 5500"), merged.filter("id = 5500"))
        info = ctx.index.last_prune_info
        assert info.total_files == 6 and info.selected_files == 1

    def test_create_on_already_mixed_table(self, spark, ctx, evolving_table):
        # files with differing schemas BEFORE the index exists: create must
        # see the merged schema, not one random file's
        self.append_v2(spark, evolving_table)
        ctx.index.create.indexBy("id").parquet(evolving_table)
        t = ctx.index.parquet(evolving_table)
        assert "tag" in t.df.columns
        merged = (spark.read.option("mergeSchema", "true")
                  .parquet(evolving_table))
        assert_same_rows(t.filter("id >= 5990").select("id", "tag"),
                         merged.filter("id >= 5990").select("id", "tag"))


class TestDroppedIndexedColumn:
    def test_missing_indexed_column_is_all_null(self, spark, ctx,
                                                evolving_table):
        ctx.index.create.indexBy("id", "bucket").parquet(evolving_table)
        # new files lack the indexed column `bucket` entirely
        spark.range(5000, 6000).select("id").repartition(2) \
            .write.mode("append").parquet(evolving_table)
        out = ctx.index.refresh.parquet(evolving_table)
        assert out["mode"] == "incremental"
        t = ctx.index.parquet(evolving_table)
        merged = (spark.read.option("mergeSchema", "true")
                  .parquet(evolving_table))
        # equality on the dropped column: new files are provably all-null
        # => pruned; rows still correct
        assert_same_rows(t.filter("bucket = 3"), merged.filter("bucket = 3"))
        info = ctx.index.last_prune_info
        assert info.selected_files <= 4, info
        # IS NULL keeps exactly the new files (plus none of the old:
        # bucket is non-null everywhere in v1)
        assert_same_rows(t.filter("bucket IS NULL"),
                         merged.filter("bucket IS NULL"))
        info = ctx.index.last_prune_info
        assert info.selected_files == 2, info


class TestTypeChange:
    def test_type_change_refused(self, spark, ctx, evolving_table):
        ctx.index.create.indexBy("id").parquet(evolving_table)
        (spark.range(9000, 9100)
         .select("id", (F.col("id") % 10).cast("string").alias("bucket"))
         .repartition(1).write.mode("append").parquet(evolving_table))
        with pytest.raises(ValueError, match="changed type"):
            ctx.index.refresh.parquet(evolving_table)


class TestStatlessFileSoundness:
    def _write_statless(self, path: str) -> None:
        table = pa.table({"id": pa.array(range(100), type=pa.int64()),
                          "val": pa.array([f"v{i}" for i in range(100)])})
        pq.write_table(table, path, write_statistics=False)

    def test_footer_path_keeps_statless_file(self, spark, ctx,
                                             tmp_table_dir):
        """A parquet file written with statistics disabled has no footer
        min/max. The footer fast path (filter stats off) must keep it for
        every predicate — treating 'no stats' as 'all null' would silently
        drop its rows."""
        path = os.path.join(tmp_table_dir, "statless")
        os.makedirs(path)
        self._write_statless(os.path.join(path, "part-0.parquet"))
        spark.conf.set("spark.sql.index.parquet.filter.enabled", "false")
        try:
            ctx.index.create.indexBy("id").parquet(path)
            t = ctx.index.parquet(path)
            assert_same_rows(t.filter("id = 42"),
                             spark.read.parquet(path).filter("id = 42"))
            assert t.filter("id = 42").count() == 1
            assert_same_rows(t.filter("id > 90"),
                             spark.read.parquet(path).filter("id > 90"))
        finally:
            spark.conf.set("spark.sql.index.parquet.filter.enabled", "true")


class TestDmlOnEvolvedTable:
    def test_delete_and_update_across_schema_versions(self, spark, ctx,
                                                      evolving_table):
        """DML over a table whose newer files carry a late-added column:
        the merged schema drives both the read (old files yield NULL tag)
        and the rewrite; deleting by the new column must not touch old
        rows (NULL predicate -> survive), and an update matching old rows
        materializes the added column as NULL in the rewritten files
        without inventing values."""
        from parquet_index_spark.sources import delete_where, update_where
        path = evolving_table
        (spark.range(5000, 6000)
         .select("id", (F.col("id") % 10).alias("bucket"),
                 F.concat(F.lit("tag-"), F.col("id")).alias("tag"))
         .repartition(2).write.mode("append").parquet(path))
        ctx.index.create.indexBy("id").parquet(path)
        # delete by the NEW column: v1 rows read tag as NULL -> survive
        info = delete_where(ctx, path, "tag >= 'tag-59'")
        t = ctx.index.parquet(path).df
        assert info["rows_deleted"] == 100  # tag-59xx block
        assert t.count() == 2000 - 100
        assert t.filter("tag IS NULL").count() == 1000  # all v1 intact
        # update OLD rows through a rewrite that must carry the merged
        # schema: tag stays NULL for v1 rows, real for surviving v2 rows
        info2 = update_where(ctx, path, "id < 100", {"bucket": F.lit(-1)})
        t2 = ctx.index.parquet(path).df
        assert info2["rows_updated"] == 100
        assert t2.filter("bucket = -1").count() == 100
        assert t2.filter("bucket = -1 AND tag IS NOT NULL").count() == 0
        assert t2.filter("tag IS NOT NULL").count() == 900
