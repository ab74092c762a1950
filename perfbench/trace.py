"""Operation timing, layer spans and the Spark cost vector.

Every benchmark operation runs inside :meth:`Tracer.operation`, which
times it and gives it its own Spark job group. With tracing on, the
tracer also wraps each layer's entry point where its caller looks it up
(module attribute or class method) and records a span per call: name,
start, end, parent span and operation id. Each span runs under a job
group of its own, so the Spark jobs it starts are attributed to it. Spans
stay in memory and are written out by :meth:`Tracer.dump`.

A layer's self time is its spans' duration minus the part covered by
their child spans; the operation root's self time is the unattributed
remainder.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict

SPARK_KEYS = ("jobs", "stages", "tasks", "executor_cpu_ms", "input_bytes",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


class Op:
    """One benchmark operation: its wall time, spans and cost vector."""

    def __init__(self, op_id: int, kind: str):
        self.id = op_id
        self.kind = kind
        self.wall_ms = 0.0
        self.spans: list = []
        self.groups: dict = {}  # job group -> span name ("" = root)
        self.cost: dict = {}
        self.facts: dict = {}  # per-layer observations (counts, sets)
        self.error = None      # why the operation failed, if it did
        self.pos = -1          # position in the workload's pass

    def layer_cost(self, layer: str) -> dict:
        return self.cost.get(layer, {})


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self._n_ops = 0
        self._op = None
        self._stack: list = []
        self._patched: list = []
        self._n_groups = 0

    # -- operations --------------------------------------------------------
    @contextlib.contextmanager
    def operation(self, kind: str):
        self._n_ops += 1
        op = Op(self._n_ops, kind)
        group = self._new_group(op, "")
        self.sc.setJobGroup(group, kind)
        self._op = op
        t0 = time.perf_counter()
        try:
            with self._root_span(op, t0, group):
                yield op
        finally:
            op.wall_ms = (time.perf_counter() - t0) * 1e3
            self._op = None
            self.sc.setJobGroup("", "")
            if self.enabled:
                op.cost = self._read_cost(op)

    @contextlib.contextmanager
    def _root_span(self, op: Op, t0: float, group: str):
        if not self.enabled:
            yield
            return
        root = {"name": "op." + op.kind, "op": op.id, "start": t0,
                "end": None, "parent": None, "id": 0, "group": group}
        op.spans.append(root)
        self._stack = [root]
        try:
            yield
        finally:
            root["end"] = time.perf_counter()
            self._stack = []

    def _new_group(self, op: Op, span_name: str) -> str:
        self._n_groups += 1
        group = f"perfbench-{self._n_groups}"
        op.groups[group] = span_name
        return group

    @contextlib.contextmanager
    def span(self, name: str):
        op = self._op
        if op is None or not self.enabled or not self._stack:
            yield {}
            return
        parent = self._stack[-1]
        group = self._new_group(op, name)
        sp = {"name": name, "op": op.id, "start": time.perf_counter(),
              "end": None, "parent": parent["id"], "id": len(op.spans),
              "group": group}
        op.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(self._stack[-1]["group"], op.kind)

    # -- layer wrappers ----------------------------------------------------
    def wrap(self, owner, attr: str, name: str, observe=None,
             before=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper. After the call,
        ``observe(op, args, result, pre)`` records layer facts, where
        ``pre = before(args)`` was taken just before the call."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            op = tracer._op
            pre = before(args) if before and op is not None else None
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if observe and op is not None:
                observe(op, args, out, pre)
            return out

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched = []

    # -- Spark cost vector -------------------------------------------------
    def _read_cost(self, op: Op) -> dict:
        """Cost vector per span name ("" = the operation's own jobs),
        read from the status tracker (jobs by group) and the app status
        store (per-stage task metrics)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        jvm = self.sc._jvm
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        out: dict = defaultdict(lambda: dict.fromkeys(SPARK_KEYS, 0))
        seen_stages: set = set()
        for group, name in op.groups.items():
            vec = out[name.split(".")[0] if name else ""]
            for jid in tracker.getJobIdsForGroup(group):
                vec["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    if sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    attempts = store.stageData(sid, False,
                                               jvm.java.util.ArrayList(),
                                               False, no_quantiles)
                    for i in range(attempts.size()):
                        sd = attempts.apply(i)
                        if sd.status().toString() == "SKIPPED":
                            continue
                        vec["stages"] += 1
                        vec["tasks"] += sd.numCompleteTasks()
                        vec["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                        vec["input_bytes"] += sd.inputBytes()
                        vec["shuffle_read_bytes"] += sd.shuffleReadBytes()
                        vec["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                        vec["spill_bytes"] += (sd.memoryBytesSpilled()
                                               + sd.diskBytesSpilled())
        return dict(out)

    # -- reporting ---------------------------------------------------------
    @staticmethod
    def self_times(op: Op) -> dict:
        """Self time (ms) per span name; the root's is keyed ``""``."""
        child_ms: dict = defaultdict(float)
        for sp in op.spans:
            if sp["parent"] is not None:
                child_ms[sp["parent"]] += sp["end"] - sp["start"]
        out: dict = defaultdict(float)
        for sp in op.spans:
            name = "" if sp["parent"] is None else sp["name"]
            out[name] += (sp["end"] - sp["start"] - child_ms[sp["id"]]) * 1e3
        return dict(out)

    @staticmethod
    def dump(ops: list, path: str) -> None:
        with open(path, "w") as fh:
            for op in ops:
                for sp in op.spans:
                    fh.write(json.dumps({
                        "op": op.id, "kind": op.kind, "name": sp["name"],
                        "id": sp["id"], "parent": sp["parent"],
                        "start": sp["start"], "end": sp["end"]}) + "\n")
