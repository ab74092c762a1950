"""Self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py

Runs every workload, untraced and traced, each in its own process with
``--seconds 0`` (exactly one timed pass), and checks that:

- every metric ``BENCHMARK.json`` names is printed with its unit, and
  every answer is right (the traced ``lookup`` run also answers its whole
  stream with the fold forced onto Spark jobs, against the same oracle,
  and runs the operator queries against theirs);
- a second traced run with the same seed repeats the Spark job, stage
  and task counts, the input bytes and ``index_bytes_ratio`` exactly;
- an injected wrong answer (``--corrupt``) fails an operation and raises
  ``op_fail_ratio`` above 0.

Exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.run import WORKLOADS, metric_units  # noqa: E402

SEED = 5
REPEATS = ("spark.jobs", "spark.stages", "spark.tasks", "spark.input_bytes")


def run(workload: str, trace: int, *extra: str) -> tuple:
    """(run line, result line) of one benchmark invocation."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(SEED), "--seconds", "0", "--trace",
           str(trace), "--sf", "0.001", *extra]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd[1:])} exited "
                           f"{proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def main() -> int:
    end_to_end, per_layer = metric_units()
    problems = []

    def expect(cond: bool, what: str) -> None:
        print(("ok    " if cond else "FAIL  ") + what, flush=True)
        if not cond:
            problems.append(what)

    for w in WORKLOADS:
        for trace, units in ((0, end_to_end), (1, per_layer)):
            info, res = run(w, trace)
            got = {n: m["unit"] for n, m in res["metrics"].items()}
            expect(got == units, f"{w} trace={trace}: every metric, "
                   "with its unit")
            expect(res["correct"] and res["failed"] == 0
                   and res["attempted"] >= 1,
                   f"{w} trace={trace}: every answer right "
                   f"{info['failures']}")
            if trace == 1:
                first_info, first = info, res
        _info, again = run(w, 1)
        expect(all(first["metrics"][k]["value"] == again["metrics"][k]["value"]
                   for k in REPEATS),
               f"{w}: {', '.join(REPEATS)} repeat for one seed")
        expect(first_info["figures"].get("index_bytes_ratio")
               == _info["figures"].get("index_bytes_ratio"),
               f"{w}: index_bytes_ratio repeats for one seed")
        if w == "lookup":
            expect(first["metrics"]["pruning_spark.query_p50_ms"]["value"]
                   > 0, "lookup: the Spark-fold pass ran")
            expect(all(m["value"] > 0 for n, m in first["metrics"].items()
                       if n.startswith("pipeline.")),
                   "lookup: the operator queries ran")
        info, res = run(w, 0, "--corrupt")
        expect(res["failed"] >= 1 and not res["correct"]
               and info["figures"]["op_fail_ratio"]["value"] > 0,
               f"{w}: an injected wrong answer raises op_fail_ratio")
    print(f"{len(problems)} check(s) failed" if problems else "all passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
