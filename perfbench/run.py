"""The repository benchmark: one workload per invocation, in a fresh
Python process and JVM.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 16 --trace 0

Workloads (see ``BENCHMARK.json`` and ``perfbench/README.md``): ``lookup``
and ``mutate``. Each is a closed loop with one client and no
think time at ``local[nproc]``, pinned to half the CPUs it is given.
Inputs derive from ``--seed`` only; every answer is checked outside the
timed region.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``, each with the
unit ``BENCHMARK.json`` gives it. The line before it describes the run:
nproc, versions, seed, the workload's own figures and any failed
operation by name.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("lookup", "mutate")
# timed passes per 16 s of --seconds (see Run.loop): a lookup pass takes
# about 11 s at sf0.01 on 2 cores and a mutate pass about 10 s, but mutate
# runs three, because the cost of a write varies with the file it lands
# in and each pass writes to other files
PASSES_PER_16S = {"lookup": 2, "mutate": 3}
SETUP_REPS = 3
# the driver JVM's heap, fixed from the start (-Xms = -Xmx): a heap that
# grows during a run resizes and collects at other moments in every run
HEAP = "1g"
SF = 0.01

# figures of one workload, printed on the run line
FIGURE_UNITS = {"op_fail_ratio": "ratio", "index_bytes_ratio": "ratio",
                "build_s": "s", "refresh_p50_ms": "ms",
                "delete_p50_ms": "ms", "update_p50_ms": "ms",
                "merge_p50_ms": "ms"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # the two below are for perfbench/selftest.py
    ap.add_argument("--sf", type=float, default=SF, help=argparse.SUPPRESS)
    ap.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def metric_units() -> tuple:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def quantile(values: list, q: float) -> float:
    """Quantile by linear interpolation between the two nearest ranks
    (the "inclusive" method): with a dozen values or fewer, a nearest-rank
    quantile jumps whenever two close operations swap places."""
    ordered = sorted(values)
    pos = q * (len(ordered) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(ordered) - 1)
    return ordered[lo] + (pos - lo) * (ordered[hi] - ordered[lo])


def start_session(work: str, nproc: int):
    """Local session whose scratch space all lives under ``work``; the
    package is put on the Python workers' path (see README, "Known
    defect")."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # also for the launcher JVM: no hsperfdata file in the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master(f"local[{nproc}]")
             .appName("perfbench")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.shuffle.partitions", str(nproc))
             .config("spark.driver.memory", HEAP)
             .config("spark.local.dir", os.path.join(work, "spark-local"))
             .config("spark.sql.warehouse.dir",
                     os.path.join(work, "warehouse"))
             .config("spark.driver.extraJavaOptions",
                     f"-Xms{HEAP} -Djava.io.tmpdir={tmp} "
                     f"-Dderby.system.home={tmp}")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit: the JVM ends when its stdin closes."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


class Run:
    """One workload invocation: set-up, warm-up, the timed loop and the
    reduction to metrics.

    The loop runs whole passes of the workload's operation list. An
    operation's latency is the median over passes of the operation at
    that position, so one slow call moves no metric; quantiles are then
    taken over the positions."""

    def __init__(self, spark, args, work: str):
        from parquet_index_spark import QueryContext

        from perfbench.trace import Tracer
        self.spark = spark
        self.args = args
        self.work = work
        self.ctx = QueryContext(spark)
        self.tracer = Tracer(spark, enabled=bool(args.trace))
        self.setup_times: list = []
        self.measured: list = []  # ops of the timed loop, and fold pass
        self.warm_failures: list = []
        self.pass_len = 0
        self.read_kinds: tuple = ()  # op kinds that count as queries
        self.figures: dict = {}  # workload figures for the run line
        self.kind_ms: dict = {}  # median latency per operation kind
        self.pos_ms: list = []   # (kind, median latency) per position
        self.query_samples = 0   # timed query operations
        self.extra: dict = {}    # workload-level per-layer metrics
        self.phases: dict = {}   # wall seconds per phase of the run
        self._measuring = False
        self._last_mark = time.perf_counter()

    # -- the closed loop ---------------------------------------------------
    def timed(self, kind: str, call, check, pos: int = -1):
        """Run one operation and check its answer outside the timed
        region; returns (op, result). A raise or a wrong answer fails the
        operation (``op.error``)."""
        out = None
        try:
            with self.tracer.operation(kind) as op:
                out = call()
        except Exception as exc:  # noqa: BLE001 - a failed op is a datum
            first = (str(exc).splitlines() or [""])[0][:200]
            op.error = f"{type(exc).__name__}: {first}"
        else:
            try:
                if not check(out):
                    op.error = "wrong answer"
            except Exception as exc:  # noqa: BLE001
                op.error = f"check raised {exc!r}"
        op.pos = pos
        if self._measuring:
            self.measured.append(op)
        elif op.error:
            self.warm_failures.append(f"{kind} (warm-up): {op.error}")
        return op, out

    def loop(self, step, pass_len: int) -> None:
        """Call ``step(i)`` for i = 0, 1, ... in whole passes of
        ``pass_len`` steps. Whole passes keep the mix of operations
        exact. The pass count follows from ``--seconds``, not from a
        clock: a count that depended on how fast this run happened to be
        would make slow and fast runs measure different work."""
        self.mark("warmup")
        self.pass_len = pass_len
        self._measuring = True
        passes = max(1, round(PASSES_PER_16S[self.args.workload]
                              * self.args.seconds / 16))
        for i in range(passes * pass_len):
            step(i)
        self.mark("measure")

    def setup(self, rep_fn) -> None:
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            rep_fn(rep)
            self.setup_times.append(time.perf_counter() - t0)
        self.mark("setup")

    def mark(self, phase: str) -> None:
        """Record the wall time since the previous mark as ``phase``."""
        now = time.perf_counter()
        self.phases[phase] = now - self._last_mark
        self._last_mark = now

    # -- workloads ---------------------------------------------------------
    def run_lookup(self) -> None:
        from perfbench import lookup
        sf = self.args.sf
        stream = lookup.make_stream(self.args.seed, sf)
        state = {}

        def rep(r):
            tables = lookup.Tables(os.path.join(self.work, f"rep{r}"))
            lookup.write_tables(tables, self.args.seed, sf)
            lookup.build_indexes(self.spark, self.ctx, tables)
            lookup.answer(stream, tables)
            if "tables" in state:
                shutil.rmtree(state["tables"].root)
            state["tables"] = tables

        self.setup(rep)
        tables = state["tables"]
        ratio, per_block = _index_bytes(self.ctx, list(tables.paths.values()))
        self.figures["index_bytes_ratio"] = ratio
        self.extra["statistics.index_bytes_per_block"] = per_block
        if self.args.corrupt:
            q = stream[0]
            q.rows = q.rows + 1 if q.kind == "count" else [("x",)]
        first_of_kind = {q.kind: q for q in reversed(stream)}
        for q in first_of_kind.values():  # warm-up, one query per kind
            self.timed(q.kind, lambda: lookup.run_query(
                self.ctx, tables, q, self.tracer), lambda _out: True)

        def step(i):
            q = stream[i % len(stream)]
            op, _out = self.timed(
                q.kind, lambda: lookup.run_query(self.ctx, tables, q,
                                                 self.tracer),
                lambda out: lookup.check(q, out), pos=i % len(stream))
            if self.tracer.enabled:
                self._prune_facts(op, q)

        self.read_kinds = tuple(lookup.KINDS)
        self.loop(step, len(stream))
        if self.tracer.enabled:
            # one query per kind: a fold on Spark costs about a second
            self._spark_fold_pass(list(first_of_kind.values()), tables)
            self._pipeline_pass()

    def _spark_fold_pass(self, queries: list, tables) -> None:
        """Traced runs only: ``queries`` again with every fold forced onto
        Spark jobs (``pruning_spark``), answers checked against the same
        DuckDB results."""
        from perfbench import lookup
        key = "spark.sql.index.pruning.sparkThreshold"
        self.spark.conf.set(key, "0")
        try:
            for q in queries:
                op, _out = self.timed(
                    "fold." + q.kind, lambda: lookup.run_query(
                        self.ctx, tables, q, self.tracer),
                    lambda out: lookup.check(q, out))
                self._prune_facts(op, q)
        finally:
            self.spark.conf.unset(key)
        self.mark("spark_fold")

    def _prune_facts(self, op, q) -> None:
        """Files selected vs files holding a match, and the Spark fold's
        file set against the numpy fold's for the same predicate."""
        info = self.ctx.index.last_prune_info
        selected = op.facts.get("scanned")
        if selected is None:
            selected = q.files if info.selected_files == info.total_files \
                else set()
        op.facts["files_total"] = info.total_files
        op.facts["files_selected"] = info.selected_files
        op.facts["files_useful"] = len(selected & q.files)
        if "spark_fold" in op.facts:
            from parquet_index_spark import pruning
            metadata, ast, tz, spark_files = op.facts["spark_fold"]
            numpy_files = pruning.prune_files(ast, metadata.context(), tz)
            op.facts["set_mismatch"] = int(set(spark_files)
                                           != set(numpy_files))

    def run_mutate(self) -> None:
        from perfbench import data, mutate
        sf = self.args.sf
        table = os.path.join(self.work, "orders")
        self.spark.conf.set("spark.sql.index.metastore",
                            os.path.join(self.work, "metastore"))
        state = {}

        def rep(r):
            pristine = os.path.join(self.work, f"pristine{r}")
            data.write_orders(pristine, self.args.seed, sf)
            mutate.restore(pristine, table)
            m = mutate.Mutator(self.spark, self.ctx, table, self.args.seed,
                               sf)
            m.build()
            shutil.rmtree(pristine)
            state["m"] = m

        self.setup(rep)
        m = state["m"]
        self.figures["index_bytes_ratio"], per_block = _index_bytes(
            self.ctx, [table])
        self.extra["statistics.index_bytes_per_block"] = per_block
        if self.args.corrupt:
            m.model.rows.pop(next(iter(m.model.rows)))

        def step(i):
            pos = i % len(mutate.CYCLE)
            kind = mutate.CYCLE[pos]
            call, expect = m.prepare(kind, self.tracer)
            key = m.read_key
            before = mutate.file_sizes(table)
            rows_before = len(m.model.rows)
            op, out = self.timed(kind, call, expect, pos=pos)
            if not self.tracer.enabled:
                return
            info = m.read_prune_info
            if kind == "read":
                # keys are unique: one file at most holds the match
                op.facts.update(
                    files_total=info.total_files,
                    files_selected=info.selected_files,
                    files_useful=int(key in m.model.rows
                                     and info.selected_files > 0))
            if "dml" in op.facts and out:
                after = mutate.file_sizes(table)
                changed = (out.get("rows_deleted", 0)
                           + out.get("rows_updated", 0)
                           + out.get("rows_inserted", 0))
                bytes_per_row = sum(before.values()) / max(rows_before, 1)
                op.facts["bytes_written"] = sum(
                    s for p, s in after.items() if before.get(p) != s)
                op.facts["bytes_changed"] = changed * bytes_per_row

        for i in range(len(mutate.CYCLE)):  # warm-up: one cycle
            step(i)
        self.read_kinds = ("read",)
        # the warm-up's writes are part of the model; the timed loop
        # continues the same seeded sequence
        self.loop(lambda i: step(i + len(mutate.CYCLE)), len(mutate.CYCLE))

    def _pipeline_pass(self) -> None:
        """Traced ``lookup`` runs only: the operator and streaming queries
        of ``pipeline.QUERIES`` over their own tables, two warm-up passes
        and then ``pipeline.PASSES`` timed ones, each result checked
        against its DuckDB oracle. These queries bypass the index."""
        from perfbench import data, pipeline
        sf_dir = os.path.join(self.work, "pipeline")
        data.write_pipeline_tables(sf_dir, self.args.seed, self.args.sf)
        expected = pipeline.oracle_answers(sf_dir)
        n = len(pipeline.QUERIES)
        for i in range((2 + pipeline.PASSES) * n):
            self._measuring = i >= 2 * n
            name = pipeline.QUERIES[i % n]
            self.timed("pipeline." + name, lambda: pipeline.run_query(
                self.spark, sf_dir, name, self.tracer),
                lambda out: pipeline.check(expected[name], out))
        self.mark("pipeline")

    # -- reduction ---------------------------------------------------------
    def execute(self) -> dict:
        if self.tracer.enabled:
            from perfbench import layers
            layers.install(self.tracer)
        try:
            getattr(self, "run_" + self.args.workload)()
        finally:
            self.tracer.unwrap()
        return self.result()

    def position_ms(self) -> dict:
        """Median latency (ms) of each position of the timed loop's pass,
        over passes: position -> (kind, ms)."""
        by_pos: dict = {}
        for op in self.measured:
            if op.pos >= 0:
                by_pos.setdefault(op.pos, (op.kind, []))[1].append(op.wall_ms)
        return {p: (kind, statistics.median(ms))
                for p, (kind, ms) in sorted(by_pos.items())}

    def result(self) -> dict:
        end_to_end, per_layer = metric_units()
        pos_ms = self.position_ms()
        self.pos_ms = [(kind, round(ms, 1)) for kind, ms in pos_ms.values()]
        query_ms = [ms for kind, ms in pos_ms.values()
                    if kind in self.read_kinds]
        self.query_samples = sum(1 for op in self.measured
                                 if op.pos >= 0 and op.kind in self.read_kinds)
        kind_ms: dict = {}
        for kind, ms in pos_ms.values():
            kind_ms.setdefault(kind, []).append(ms)
        kind_p50 = {k: statistics.median(v) for k, v in kind_ms.items()}
        self.kind_ms = kind_p50
        failed = sum(1 for op in self.measured if op.error)
        self.figures["op_fail_ratio"] = failed / len(self.measured)
        if self.args.workload == "mutate":
            self.figures.update({
                "build_s": kind_p50["build"] / 1e3,
                "refresh_p50_ms": kind_p50["refresh"],
                "delete_p50_ms": kind_p50["delete"],
                "update_p50_ms": kind_p50["update"],
                "merge_p50_ms": kind_p50["merge"]})
        pass_s = sum(ms for _kind, ms in pos_ms.values()) / 1e3
        if self.tracer.enabled:
            from perfbench import layers
            values = layers.metrics(self.measured)
            values.update(self.extra)
            values["trace.query_p50_ms"] = quantile(query_ms, 0.5)
            values.update({n: 0.0 for n in per_layer
                           if not layers.runs(self.args.workload, n)})
            units = per_layer
        else:
            values = {
                "setup_s": statistics.median(self.setup_times),
                "query_p50_ms": quantile(query_ms, 0.5),
                "query_p90_ms": quantile(query_ms, 0.9),
                "pass_s": pass_s,
            }
            units = end_to_end
        missing = sorted(set(units) - set(values))
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
        metrics = {n: {"value": float(values[n]), "unit": u}
                   for n, u in units.items()}
        return {"correct": failed == 0 and not self.warm_failures,
                "attempted": len(self.measured), "failed": failed,
                "metrics": metrics}

    def failures(self) -> list:
        return self.warm_failures + [
            f"{op.kind}[{op.pos}]: {op.error}"
            for op in self.measured if op.error]


def _index_bytes(ctx, table_paths: list) -> tuple:
    """Statistics bytes (the index minus its manifest and commit marker)
    over table bytes and over indexed blocks, summed over tables."""
    from parquet_index_spark.metastore import LocationSpec

    ms = ctx.index._metastore(ctx.index._conf())
    index_bytes = table_bytes = blocks = 0
    for path in table_paths:
        idx_dir = ms.index_dir(LocationSpec(path))
        for dirpath, _dirs, files in os.walk(idx_dir):
            index_bytes += sum(os.path.getsize(os.path.join(dirpath, f))
                               for f in files
                               if f not in ("files.parquet", "_SUCCESS"))
        for dirpath, _dirs, files in os.walk(path):
            table_bytes += sum(os.path.getsize(os.path.join(dirpath, f))
                               for f in files if f.endswith(".parquet"))
        blocks += int(ctx.index.parquet(path)._metadata.files["blocks"].sum())
    return index_bytes / table_bytes, index_bytes / blocks


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "parquet_index_spark",
                                       "__init__.py")):
        print("perfbench: parquet_index_spark not found next to the "
              "benchmark; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # half the CPUs the run is given: on a machine shared with other
    # work, Spark's task threads, the JVM's compiler and collector threads
    # and the Py4J round trips between Python and the JVM then wait less
    # for a core, and run-to-run spread falls
    cpus = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, cpus[:max(1, len(cpus) // 2)])
    nproc = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    # fixed-width name: table paths are stored in the index, whose size
    # must repeat for one seed
    work = os.path.join(base, f"{args.workload}-{os.getpid():07d}")
    os.makedirs(work, exist_ok=True)
    t0 = time.perf_counter()
    spark = start_session(work, nproc)
    session_s = time.perf_counter() - t0
    try:
        run = Run(spark, args, work)
        result = run.execute()
        if run.tracer.enabled:
            run.tracer.dump(run.measured, os.path.join(
                base, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    run.mark("teardown")
    run.phases["session"] = session_s
    run.phases["process"] = time.perf_counter() - t_start
    import pyspark
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "sf": args.sf,
        "trace": args.trace, "cpus_given": len(cpus), "nproc": nproc,
        "python": sys.version.split()[0], "pyspark": pyspark.__version__,
        "figures": {n: {"value": v, "unit": FIGURE_UNITS[n]}
                    for n, v in sorted(run.figures.items())},
        "kind_ms": run.kind_ms,
        "setup_reps_s": run.setup_times, "phases_s": run.phases,
        "position_ms": run.pos_ms, "query_samples": run.query_samples,
        "failures": run.failures()[:20]}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
