"""``mutate``: one writer cycling append + refresh, DELETE, UPDATE, MERGE
and a full index rebuild over an indexed ``orders`` table, with four
indexed point reads after each write.

Every write invalidates the metastore cache, so the first read after
each write takes the metastore miss path. A row model kept by the
benchmark (one dict per live key) checks each write's reported counts,
the table's row count and every read's answer.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import data

INDEX_COLUMNS = ("o_orderkey", "o_custkey")
COLUMNS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
           "o_orderpriority")
RANGE_WIDTH = 100     # keys per DELETE / UPDATE range
APPEND_ROWS = 500     # rows per appended file
MERGE_KEYS = 300      # keys per MERGE batch, half existing and half new
WRITES = ("refresh", "delete", "update", "merge", "build")
# point reads after each write: the first reads a key the write left and
# takes the metastore miss path, the others read seeded live keys of any
# file on the hit path. With one miss in four reads the median lies among
# the hit-path reads and the 90th percentile among the miss-path ones,
# not on the boundary between them, where a run's figure would jump
READS_PER_WRITE = 4
# one pass of the operation sequence
CYCLE = tuple(op for w in WRITES for op in (w,) + ("read",) * READS_PER_WRITE)


class Model:
    """Expected table content: key -> row tuple."""

    def __init__(self, table):
        cols = [table.column(c).to_pylist() for c in COLUMNS]
        self.rows = {r[0]: r for r in zip(*cols)}
        self.next_key = max(self.rows) + 1

    def in_range(self, lo: int, hi: int) -> list:
        return [k for k in self.rows if lo <= k < hi]


class Mutator:
    """Seeded operation generator plus the model that checks it."""

    def __init__(self, spark, ctx, table_path: str, seed: int, sf: float):
        self.spark = spark
        self.ctx = ctx
        self.path = table_path
        self.seed = seed
        self.sf = sf
        self.rng = np.random.default_rng([seed, 11])
        self.model = Model(pq.read_table(table_path))
        self.n_initial = len(self.model.rows)
        self.n_appends = 0
        self.read_key = None
        self.read_prune_info = None  # the last read's, before any check

    def build(self) -> None:
        self.ctx.index.create.mode("overwrite").indexBy(*INDEX_COLUMNS) \
            .parquet(self.path)

    def _file_keys(self) -> tuple:
        """The key span [start, end) of a seeded one of the table's
        original files. Writes stay inside one file, so every seed's
        operations touch the same number of files."""
        n, files = self.n_initial, data.ORDERS_FILES
        f = int(self.rng.integers(0, files))
        return -(-f * n // files), -(-(f + 1) * n // files)

    def _range(self) -> tuple:
        """RANGE_WIDTH keys inside one file, with a key of the file left
        below them."""
        start, end = self._file_keys()
        lo = start + 1 + int(self.rng.integers(
            0, max(1, end - start - RANGE_WIDTH - 1)))
        return lo, lo + RANGE_WIDTH

    # each prepare_* returns (call, expect): ``call()`` is the timed write,
    # ``expect(result)`` checks it against the model and updates the model
    def prepare(self, kind: str, tracer):
        if kind == "read":
            return self._prepare_read(tracer)
        return getattr(self, "_prepare_" + kind)()

    def _prepare_refresh(self):
        first = self.model.next_key
        table = data.orders_table(self.seed, self.sf, first_key=first,
                                  n=APPEND_ROWS)
        name = f"append-{self.n_appends:05d}.parquet"
        self.n_appends += 1

        def call():
            pq.write_table(table, os.path.join(self.path, name))
            return self.ctx.index.refresh.parquet(self.path)

        def expect(out):
            self.model.rows.update(Model(table).rows)
            self.model.next_key = first + APPEND_ROWS
            self.read_key = first + int(self.rng.integers(0, APPEND_ROWS))
            return out.get("new_files") == 1
        return call, expect

    def _prepare_delete(self):
        from parquet_index_spark import sources
        lo, hi = self._range()
        pred = f"o_orderkey >= {lo} AND o_orderkey < {hi}"

        def expect(out):
            gone = self.model.in_range(lo, hi)
            for k in gone:
                del self.model.rows[k]
            # the key below the range: a row of the rewritten file
            self.read_key = lo - 1
            return out["rows_deleted"] == len(gone)
        return lambda: sources.delete_where(self.ctx, self.path, pred), expect

    def _prepare_update(self):
        from pyspark.sql import functions as F

        from parquet_index_spark import sources
        lo, hi = self._range()
        pred = f"o_orderkey >= {lo} AND o_orderkey < {hi}"

        def expect(out):
            hit = self.model.in_range(lo, hi)
            for k in hit:
                r = self.model.rows[k]
                self.model.rows[k] = (r[0], r[1], "U", r[3], r[4])
            self.read_key = hit[0] if hit else lo
            return out["rows_updated"] == len(hit)
        return (lambda: sources.update_where(
            self.ctx, self.path, pred, {"o_orderstatus": F.lit("U")}),
            expect)

    def _prepare_merge(self):
        """A change batch: up to half its keys update live rows of one
        file (as a CDC batch touches recent keys), the rest insert new
        keys."""
        from parquet_index_spark import sources
        half = MERGE_KEYS // 2
        live = self.model.in_range(*self._file_keys())
        old = np.sort(self.rng.choice(live, min(half, len(live)),
                                      replace=False))
        new = self.model.next_key + np.arange(half)
        keys = np.concatenate([old, new]).astype(np.int64)
        batch = data.orders_table(self.seed + 1, self.sf,
                                  first_key=self.model.next_key,
                                  n=len(keys))
        batch = batch.set_column(0, "o_orderkey", pa.array(keys))
        updates = self.spark.createDataFrame(batch.to_pandas())

        def expect(out):
            self.model.rows.update(Model(batch).rows)
            self.model.next_key += half
            self.read_key = int(old[0]) if len(old) else int(new[0])
            return (out["rows_updated"] == len(old)
                    and out["rows_inserted"] == half)
        return (lambda: sources.merge_into(self.ctx, self.path, updates,
                                           "o_orderkey"), expect)

    def _prepare_read(self, tracer):
        key = self.read_key
        if key is None:  # not the first read after a write
            keys = list(self.model.rows)
            key = self.read_key = keys[int(self.rng.integers(0, len(keys)))]

        def call():
            df = self.ctx.index.parquet(self.path) \
                .filter(f"o_orderkey = {key}")
            with tracer.span("spark.action"):
                rows = df.collect()
            self.read_prune_info = self.ctx.index.last_prune_info
            return rows

        def expect(out):
            self.read_key = None
            # the row count after the read, so the read takes the miss path
            want = [self.model.rows[key]] if key in self.model.rows else []
            return (sorted(tuple(r) for r in out) == want
                    and self.row_count_ok())
        return call, expect

    def _prepare_build(self):
        return self.build, lambda _out: self.row_count_ok()

    def row_count_ok(self) -> bool:
        """Manifest row count (metadata only) against the model."""
        return self.ctx.index.parquet(self.path).count_where() \
            == len(self.model.rows)


def restore(pristine: str, table_path: str) -> None:
    if os.path.exists(table_path):
        shutil.rmtree(table_path)
    shutil.copytree(pristine, table_path)


def file_sizes(table_path: str) -> dict:
    out = {}
    for dirpath, _dirs, files in os.walk(table_path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out
