"""The fixed cost of an index write: where the stats job runs, what it
launches, and the Spark jobs each write operation runs."""

import os
import uuid
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parquet_index_spark import QueryContext, collector, sources
from parquet_index_spark import types as ityp


@pytest.fixture()
def ctx(spark, tmp_metastore):
    return QueryContext(spark)


STATS_ARGS = dict(index_cols=[("id", ityp.LONG), ("s", ityp.STRING)],
                  filter_enabled=True, filter_type="bloom",
                  dict_max_size=1000, num_partitions=2, bloom_fpp=0.01)


def _stage_costs(spark, group):
    """(stages run, shuffle bytes written) by the jobs of ``group``, read
    from the app status store."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    jvm = sc._jvm
    stages = shuffle = 0
    for jid in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(jid).stageIds:
            attempts = store.stageData(sid, False, jvm.java.util.ArrayList(),
                                       False, sc._gateway.new_array(
                                           jvm.double, 0))
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                stages += 1
                shuffle += sd.shuffleWriteBytes()
    return stages, shuffle


class TestStatsPlacement:
    """``collector.run_stats_job`` indexes one file in the driver and
    several files in one Spark stage; both run ``collect_partition``."""

    @pytest.fixture()
    def table(self, spark, tmp_table_dir):
        path = os.path.join(tmp_table_dir, "t")
        (spark.range(0, 3000)
         .select("id", F.format_string("s%05d", (F.col("id") * 7) % 3000)
                 .alias("s"))
         .repartitionByRange(3, "id").write.parquet(path))
        files, _ = collector.list_table_files(path)
        assert len(files) == 3
        return path, files

    @staticmethod
    def _rows(stats_dir):
        rows = pq.read_table(stats_dir).to_pylist()
        return sorted(rows, key=lambda r: (r["path"], r["block"],
                                           r["column"]))

    def test_one_file_runs_in_driver(self, spark, table, tmp_table_dir,
                                     count_jobs):
        path, files = table
        many = os.path.join(tmp_table_dir, "stats_many")
        one = os.path.join(tmp_table_dir, "stats_one")
        spark_route = collector.run_stats_job(
            spark, path, files, many, **STATS_ARGS)
        calls = count_jobs(collector, "run_stats_job")
        target = files[1]
        driver_route = collector.run_stats_job(
            spark, path, [target], one, **STATS_ARGS)
        assert [n for _args, n in calls] == [0]
        assert os.listdir(one) == ["part-00000.parquet"]
        assert driver_route == [s for s in spark_route
                                if s["path"] == target["path"]]
        want = [r for r in self._rows(many) if r["path"] == target["path"]]
        assert want and self._rows(one) == want

    def test_several_files_run_one_stage(self, spark, table, tmp_table_dir):
        path, files = table
        stats_dir = os.path.join(tmp_table_dir, "stats")
        sc = spark.sparkContext
        group = f"pis_stats_{uuid.uuid4().hex}"
        sc.setJobGroup(group, "stats job")
        try:
            out = collector.run_stats_job(spark, path, files, stats_dir,
                                          **STATS_ARGS)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
        assert _stage_costs(spark, group) == (1, 0)
        assert sorted(s["path"] for s in out) == sorted(
            f["path"] for f in files)
        # size-sorted files dealt round-robin over num_partitions=2 tasks
        ordered = sorted(files, key=lambda f: -f["size"])
        for idx in range(2):
            shard = os.path.join(stats_dir, f"part-{idx:05d}.parquet")
            assert ({r["path"] for r in pq.read_table(shard).to_pylist()}
                    == {f["path"] for f in ordered[idx::2]})

    def test_one_file_build_ships_package(self, spark, ctx, tmp_table_dir,
                                          monkeypatch):
        """A session whose only index operation is a one-file build still
        ships the package, as a Spark build would: later Spark folds and
        probes rely on it."""
        sc = spark.sparkContext
        app = sc.applicationId
        collector._SHIPPED_SESSIONS.discard(app)
        shipped = []
        real_add = sc.addPyFile
        monkeypatch.setattr(sc, "addPyFile",
                            lambda p: (shipped.append(p), real_add(p)))
        path = os.path.join(tmp_table_dir, "single")
        spark.range(0, 100).coalesce(1).write.parquet(path)
        ctx.index.create.indexBy("id").parquet(path)
        assert app in collector._SHIPPED_SESSIONS
        assert len(shipped) == 1


class TestDmlCurrencyListing:
    def test_hidden_directory_file_does_not_block_dml(self, spark, ctx,
                                                      tmp_table_dir):
        """A parquet file under a ``_`` directory is skipped by Spark's
        reader and by the refresh's listing, so it must not make the
        index look stale: the refresh the guard asked for was a no-op, and
        every retry refused again."""
        path = os.path.join(tmp_table_dir, "t")
        spark.range(0, 1000).repartitionByRange(4, "id").write.parquet(path)
        ctx.index.create.indexBy("id").parquet(path)
        os.makedirs(os.path.join(path, "_scratch"))
        stray = os.path.join(path, "_scratch", "leftover.parquet")
        pq.write_table(pa.table({"id": pa.array([5], pa.int64())}), stray)
        assert spark.read.parquet(path).count() == 1000
        assert ctx.index.refresh.parquet(path)["mode"] == "noop"
        info = sources.delete_where(ctx, path, "id < 100")
        assert info["rows_deleted"] == 100
        assert spark.read.parquet(path).count() == 900
        assert ctx.index.parquet(path).count_where() == 900
        assert os.path.isfile(stray)

    def test_refuses_what_a_refresh_would_index(self, spark, ctx,
                                                tmp_table_dir):
        """Each file the guard names is one the refresh then indexes, in
        a partition directory too."""
        path = os.path.join(tmp_table_dir, "p")
        (spark.range(0, 400).withColumn("p", F.col("id") % 2)
         .write.partitionBy("p").parquet(path))
        ctx.index.create.indexBy("id").parquet(path)
        (spark.range(400, 410).withColumn("p", F.lit(1)).coalesce(1)
         .write.mode("append").partitionBy("p").parquet(path))
        meta = ctx.index.parquet(path)._metadata
        with pytest.raises(ValueError, match=r"1 data file\(s\) not covered"
                           r".*p=1"):
            sources._require_index_current(spark, meta, "delete_where")
        assert ctx.index.refresh.parquet(path)["new_files"] == 1
        meta = ctx.index.parquet(path)._metadata
        sources._require_index_current(spark, meta, "delete_where")


class TestWritePathJobBudget:
    """Spark jobs per write operation on a small multi-file table, counted
    by job group: a regression gate on the write path's fixed cost.

    Refreshing one appended file runs one job, the schema merge of the new
    file's footer; its stats are collected in the driver. Each DML call
    rewrites one file and ends with such a refresh. Before the one-file
    placement, each of these writes ran one job more: 2, 4, 4 and 13."""

    BUDGET = {"refresh": 1, "delete": 3, "update": 3, "merge": 12}

    def test_jobs_per_write(self, spark, ctx, tmp_table_dir, count_jobs):
        path = os.path.join(tmp_table_dir, "orders")
        (spark.range(0, 4000)
         .select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
         .repartitionByRange(8, "k").write.parquet(path))
        ctx.index.create.indexBy("k").parquet(path)
        appended = pa.table({"k": pa.array(range(4000, 4100), pa.int64()),
                             "v": pa.array([1] * 100, pa.int64())})
        updates = spark.createDataFrame(
            [(k, -1) for k in range(10, 20)]
            + [(k, -2) for k in range(5000, 5010)], "k bigint, v bigint")

        def refresh():
            pq.write_table(appended, os.path.join(path, "append-0.parquet"))
            return ctx.index.refresh.parquet(path)

        ops = SimpleNamespace(
            refresh=refresh,
            delete=lambda: sources.delete_where(
                ctx, path, "k >= 600 AND k < 700"),
            update=lambda: sources.update_where(
                ctx, path, "k >= 1600 AND k < 1700", {"v": F.lit(-3)}),
            merge=lambda: sources.merge_into(ctx, path, updates, "k"))
        counted = {name: count_jobs(ops, name) for name in self.BUDGET}
        assert ops.refresh()["new_files"] == 1
        assert ops.delete()["rows_deleted"] == 100
        assert ops.update()["rows_updated"] == 100
        out = ops.merge()
        assert (out["rows_updated"], out["rows_inserted"]) == (10, 10)
        jobs = {name: [n for _args, n in calls]
                for name, calls in counted.items()}
        assert jobs == {name: [n] for name, n in self.BUDGET.items()}
        assert spark.read.parquet(path).count() == 4000 + 100 - 100 + 10


class TestWritePathPy4jCensus:
    """The writer lease, crash recovery, the stranded-tmp guard and the
    staged swap work on the local filesystem directly: the py4j round
    trips they make during a one-file DELETE do not grow with the number
    of untouched files the swap carries."""

    STEPS = ("acquire_writer_lease", "_refuse_stranded_tmp",
             "_recover_staged_swap", "_staged_swap")

    def _round_trips(self, spark, ctx, tmp_table_dir, monkeypatch, n_files):
        import threading

        from py4j.clientserver import ClientServerConnection

        path = os.path.join(tmp_table_dir, f"census{n_files}")
        (spark.range(0, 100 * n_files)
         .select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
         .repartitionByRange(n_files, "k").write.parquet(path))
        ctx.index.create.indexBy("k").parquet(path)
        local, count = threading.local(), [0]
        real_send = ClientServerConnection.send_command

        def send(conn, command):
            if getattr(local, "depth", 0):
                count[0] += 1
            return real_send(conn, command)

        def counted(fn):
            def inner(*a, **kw):
                local.depth = getattr(local, "depth", 0) + 1
                try:
                    return fn(*a, **kw)
                finally:
                    local.depth -= 1
            return inner

        with monkeypatch.context() as m:
            m.setattr(ClientServerConnection, "send_command", send)
            for name in self.STEPS:
                m.setattr(sources, name, counted(getattr(sources, name)))
            m.setattr(sources._WriterLease, "release",
                      counted(sources._WriterLease.release))
            info = sources.delete_where(ctx, path, "k >= 10 AND k < 20")
        assert (info["rows_deleted"], info["files_rewritten"]) == (10, 1)
        return count[0]

    def test_round_trips_do_not_grow_with_carried_files(
            self, spark, ctx, tmp_table_dir, monkeypatch):
        small = self._round_trips(spark, ctx, tmp_table_dir, monkeypatch, 8)
        large = self._round_trips(spark, ctx, tmp_table_dir, monkeypatch, 32)
        assert small == large, (small, large)
