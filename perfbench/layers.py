"""Per-layer spans and metrics.

:func:`install` wraps each layer's entry point where its caller looks it
up, so a traced run attributes time and Spark jobs to the library's own
modules without changing them. :func:`metrics` reduces the traced
operations to the per-layer metrics named in ``BENCHMARK.json``: medians
per operation, taken over the operations in which the layer ran.
"""

from __future__ import annotations

import statistics

from perfbench.trace import SPARK_KEYS, Tracer


def _note_blocks(op, args, _out, _pre):
    op.facts["blocks"] = max(op.facts.get("blocks", 0), args[1].n)


def _cache_state(args):
    store, spec = args[0], args[1]
    return store.index_dir(spec) in store._cache


def _note_cache(op, _args, _out, hit):
    op.facts["cache_lookups"] = op.facts.get("cache_lookups", 0) + 1
    op.facts["cache_hits"] = op.facts.get("cache_hits", 0) + int(hit)


def _note_spark_fold(op, args, out, _pre):
    op.facts["spark_fold"] = (args[1], args[2], args[3] if len(args) > 3
                              else None, out)


def _note_scan(op, args, out, _pre):
    op.facts["scanned"] = set(args[1])
    op.facts["reader_paths"] = len(out)


def _note_stats_job(op, args, _out, _pre):
    op.facts["files_indexed"] = op.facts.get("files_indexed", 0) \
        + len(args[2])


def _note_dml(op, _args, out, _pre):
    op.facts["dml"] = out


def install(tracer: Tracer) -> None:
    from parquet_index_spark import (collector, manager, metastore,
                                     predicates, pruning, pruning_spark,
                                     sources)
    w = tracer.wrap
    idf, mgr = manager.IndexedDataFrame, manager.DataFrameIndexManager
    w(predicates, "parse_sql_predicate", "predicates.parse")
    w(metastore.Metastore, "load", "metastore.load",
      before=_cache_state, observe=_note_cache)
    w(metastore.IndexMetadata, "context", "metastore.context")
    w(metastore.IndexMetadata, "_load_membership", "metastore.membership")
    # manager.prune_files is pruning.prune_files, which calls evaluate;
    # count_where calls evaluate and evaluate_full itself
    w(manager, "prune_files", "pruning.fold")
    w(pruning, "evaluate", "pruning.fold", observe=_note_blocks)
    w(pruning, "evaluate_full", "pruning.fold", observe=_note_blocks)
    w(pruning_spark, "prune_files_with_spark", "pruning_spark.fold",
      observe=_note_spark_fold)
    w(pruning_spark, "count_files_with_spark", "pruning_spark.fold")
    for attr in ("filter", "contains_term", "count_where"):
        w(idf, attr, "manager.filter")
    w(idf, "_collapse_to_directories", "manager.filter", observe=_note_scan)
    w(mgr, "_load_index", "manager.load")
    w(mgr, "_refresh_index", "manager.refresh")
    w(mgr, "_create_index", "manager.build")
    w(collector, "list_table_files", "collector.list")
    w(collector, "run_stats_job", "collector.stats_job",
      observe=_note_stats_job)
    for attr in ("delete_where", "update_where", "merge_into"):
        w(sources, attr, "sources." + attr.split("_")[0], observe=_note_dml)


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else None


def _ratio(num: float, den: float) -> float:
    return float(num) / den if den else None


# span name -> per-layer metric of its self time
SPAN_METRICS = {
    "predicates.parse": "predicates.parse_ms",
    "metastore.load": "metastore.load_ms",
    "metastore.context": "metastore.context_ms",
    "metastore.membership": "metastore.membership_ms",
    "pruning.fold": "pruning.fold_ms",
    "pruning_spark.fold": "pruning_spark.fold_ms",
    "manager.filter": "manager.filter_ms",
    "manager.load": "manager.load_ms",
    "manager.refresh": "manager.refresh_ms",
    "manager.build": "manager.build_ms",
    "collector.list": "collector.list_ms",
    "collector.stats_job": "collector.stats_job_ms",
    "sources.delete": "sources.delete_ms",
    "sources.update": "sources.update_ms",
    "sources.merge": "sources.merge_ms",
    "operators.compose": "operators.compose_ms",
    "spark.action": "spark.action_ms",
}

# layers each workload's traced run measures; a metric of any other
# layer is 0 on it. The traced lookup run adds the Spark-fold pass
# (pruning_spark) and the operator queries (operators, pipeline)
WORKLOAD_LAYERS = {
    "lookup": {"predicates", "metastore", "pruning", "pruning_spark",
               "manager", "statistics", "operators", "pipeline", "spark",
               "trace"},
    "mutate": {"predicates", "metastore", "pruning", "manager",
               "collector", "statistics", "sources", "spark", "trace"},
}
# calls of a measured layer that a workload's timed operations never
# make, so their metrics are 0 on it too: lookup builds its indexes in
# set-up and its metadata stays cached, so membership structures load once
NOT_CALLED = {
    "lookup": {"manager.build_ms", "manager.refresh_ms",
               "metastore.membership_ms"},
    "mutate": set(),
}


def runs(workload: str, metric: str) -> bool:
    """Whether ``workload``'s timed operations measure ``metric``."""
    return (metric.split(".")[0] in WORKLOAD_LAYERS[workload]
            and metric not in NOT_CALLED[workload])


def metrics(ops: list) -> dict:
    """Per-layer metrics over traced ``ops``, each a median per operation
    over the operations in which the layer ran (a ratio of sums for the
    ``_ratio`` metrics). Read operations carry ``files_total``,
    ``files_selected`` and ``files_useful`` (selected files holding a
    match). The traced lookup run's extra passes have kinds ``fold.*``
    (Spark fold) and ``pipeline.*`` (operator queries); only their own
    metrics count them. A metric with no sample is left out."""
    fold = [op for op in ops if op.kind.startswith("fold.")]
    queries = [op for op in ops if op.kind.startswith("pipeline.")]
    ops = [op for op in ops if op.pos >= 0]
    selfs = [Tracer.self_times(op) for op in ops]
    side = [Tracer.self_times(op) for op in fold + queries]
    out = {}
    for span, name in SPAN_METRICS.items():
        # from the timed loop; a span only the extra passes make, from them
        out[name] = _median([st[span] for st in selfs if span in st]
                            or [st[span] for st in side if span in st])
    by_query: dict = {}
    for op in queries:
        by_query.setdefault(op.kind, []).append(op.wall_ms / 1e3)
    out.update({f"{k}_s": _median(v) for k, v in by_query.items()})
    cache = [op.facts for op in ops if "cache_lookups" in op.facts]
    out["metastore.cache_hit_ratio"] = _ratio(
        sum(f["cache_hits"] for f in cache),
        sum(f["cache_lookups"] for f in cache))
    out["pruning.blocks"] = _median(op.facts["blocks"] for op in ops
                                    if "blocks" in op.facts)
    pruned = [op.facts for op in ops if "files_total" in op.facts]
    selected = sum(f["files_selected"] for f in pruned)
    out["pruning.files_selected_ratio"] = _ratio(
        selected, sum(f["files_total"] for f in pruned))
    out["pruning.precision"] = _ratio(
        sum(f["files_useful"] for f in pruned), selected)
    spark_fold = [op for op in fold if "spark_fold" in op.facts]
    out["pruning_spark.jobs"] = _median(
        op.layer_cost("pruning_spark").get("jobs", 0) for op in spark_fold)
    out["pruning_spark.files_selected_ratio"] = _ratio(
        sum(op.facts["files_selected"] for op in spark_fold),
        sum(op.facts["files_total"] for op in spark_fold))
    if spark_fold:
        out["pruning_spark.set_mismatch"] = float(sum(
            op.facts.get("set_mismatch", 0) for op in spark_fold))
    out["pruning_spark.query_p50_ms"] = _median(op.wall_ms for op in fold)
    out["manager.reader_paths"] = _median(
        op.facts["reader_paths"] for op in ops if "reader_paths" in op.facts)
    stats_ops = [op for op in ops if "files_indexed" in op.facts]
    out["collector.files_per_s"] = _ratio(
        sum(op.facts["files_indexed"] for op in stats_ops),
        sum(_span_total_s(op, "collector.stats_job") for op in stats_ops))
    dml = [op for op in ops if "dml" in op.facts]
    out["sources.files_rewritten"] = _median(
        op.facts["dml"].get("files_rewritten", 0) for op in dml)
    out["sources.files_dropped_whole"] = _median(
        op.facts["dml"].get("files_dropped_whole", 0) for op in dml)
    out["sources.write_amplification"] = _ratio(
        sum(op.facts.get("bytes_written", 0) for op in dml),
        sum(op.facts.get("bytes_changed", 0) for op in dml))
    out["sources.jobs"] = _median(
        op.layer_cost("sources").get("jobs", 0) for op in dml)
    for k in SPARK_KEYS:
        out["spark." + k] = _median(
            sum(vec[k] for vec in op.cost.values()) for op in ops)
    out["trace.unattributed_ms"] = _median(st.get("", 0.0) for st in selfs)
    out["trace.attributed_share"] = _median(
        1.0 - st.get("", 0.0) / op.wall_ms
        for op, st in zip(ops, selfs) if op.wall_ms > 0)
    return {k: v for k, v in out.items() if v is not None}


def _span_total_s(op, name: str) -> float:
    return sum(sp["end"] - sp["start"] for sp in op.spans
               if sp["name"] == name)
