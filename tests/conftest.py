import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import SparkSession

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = os.path.join(TESTDATA, "sf0.001")
SF_CORRECT = os.path.join(TESTDATA, "sf0.01")


@pytest.fixture(scope="session")
def spark():
    session = (
        SparkSession.builder
        .master(os.environ.get("SPARK_GRAFT_TEST_MASTER", "local[4]"))
        .appName("parquet-index-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        # Test-only latency trims: Janino compilation dominates tiny
        # queries, so skip whole-stage codegen when the env asks; prod
        # defaults (codegen on) are untouched.
        .config("spark.sql.codegen.wholeStage",
                os.environ.get("SPARK_GRAFT_TEST_CODEGEN", "true"))
        .getOrCreate()
    )
    yield session
    session.stop()


@pytest.fixture()
def tmp_metastore(spark):
    d = tempfile.mkdtemp(prefix="pis_metastore_")
    spark.conf.set("spark.sql.index.metastore", d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def count_jobs(spark, monkeypatch):
    """``count_jobs(owner, name)`` wraps ``owner.name`` so that each call
    runs in a Spark job group of its own, and returns the list to which
    every call appends ``(args, jobs launched while it ran)``."""
    sc = spark.sparkContext

    def wrap(owner, name):
        calls = []
        orig = getattr(owner, name)

        def counted(*args, **kwargs):
            group = f"pis_count_jobs_{uuid.uuid4().hex}"
            sc.setJobGroup(group, f"jobs of {name}")
            try:
                out = orig(*args, **kwargs)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            calls.append(
                (args, len(sc.statusTracker().getJobIdsForGroup(group))))
            return out

        monkeypatch.setattr(owner, name, counted)
        return calls

    return wrap


@pytest.fixture()
def tmp_table_dir():
    d = tempfile.mkdtemp(prefix="pis_table_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def assert_same_rows(df1, df2):
    """Differential oracle: sorted row collections must agree
    (reference checkAnswer, testutil/TestBase.scala:123-141)."""
    rows1 = sorted([tuple(r) for r in df1.collect()])
    rows2 = sorted([tuple(r) for r in df2.collect()])
    assert rows1 == rows2, (
        f"row mismatch: {len(rows1)} vs {len(rows2)}\n"
        f"first only in left: {[r for r in rows1 if r not in rows2][:3]}\n"
        f"first only in right: {[r for r in rows2 if r not in rows1][:3]}")
