"""Benchmark self-test: every workload at the tiny size.

    python3 perfbench/selftest.py [workload ...]

For each workload it checks that an untraced run prints all ten
end-to-end metrics by name and emits every ``end_to_end`` metric of
``BENCHMARK.json`` with ``error_rate`` 0; that a traced run emits every
``per_layer`` metric, and a non-zero value for each metric of a layer
the workload exercises (``EXERCISED``); and that a run whose expected
results are deliberately wrong reports a failure, which proves the
checks are live. When all workloads are tested it also checks that
every per-layer metric is exercised by one of them or listed in
``MAY_BE_ZERO``. Exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import E2E_UNITS  # noqa: E402

WORKLOADS = ["sync_churn", "stream_gate"]

# per workload, the per-layer metric prefixes (see LAYERS.md) whose values
# must be non-zero in its traced run: a zero there means a span, counter
# or SQL plan-node match stopped seeing the layer's work
EXERCISED = {
    "sync_churn": ["session.", "sources.", "record.", "mapping.", "diff.", "pipeline.",
                   "sinks.", "spark."],
    "stream_gate": ["session.", "record.from_raw.", "mapping.", "diff.compute_changes.", "sinks.",
                    "stream.", "neardup.", "dedup.", "fsutil.", "multimodal.", "spark."],
}
# metrics that read 0 on a correct run: nothing spills at these sizes;
# the GC time of a span's tasks is 0 whenever no collection falls inside
# them, which at the tiny size is most ops; and the tracing overhead and
# the unattributed remainder are differences that may come out at or
# below zero
MAY_BE_ZERO = {"sinks.apply.spill_bytes", "spark.spill_bytes", "sinks.apply.gc_s", "spark.gc_s",
               "trace.overhead_s", "unattributed.self_s"}


def bench(workload: str, *extra: str) -> tuple[str, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "25", "--size", "tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return p.stdout, json.loads(lines[-1])


def main(workloads: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        contract = json.load(fh)
    exercised: set[str] = set()
    for w in workloads:
        out, res = bench(w, "--trace", "0")
        assert res["correct"] and res["failed"] == 0, f"{w}: untraced run not correct: {res}"
        missing = [m["name"] for m in contract["end_to_end"] if m["name"] not in res["metrics"]]
        assert not missing, f"{w}: end-to-end metrics missing: {missing}"
        printed = [n for n in E2E_UNITS if not any(line.startswith(n + " ") for line in out.splitlines())]
        assert not printed, f"{w}: report lacks {printed}"
        assert any(line.startswith("error_rate ") and line.split()[1] == "0" for line in out.splitlines()), (
            f"{w}: error_rate is not 0"
        )

        _, res = bench(w, "--trace", "1")
        missing = [m["name"] for m in contract["per_layer"] if m["name"] not in res["metrics"]]
        assert not missing, f"{w}: per-layer metrics missing: {missing}"
        mine = [m["name"] for m in contract["per_layer"]
                if m["name"] not in MAY_BE_ZERO and m["name"].startswith(tuple(EXERCISED[w]))]
        zero = [n for n in mine if not res["metrics"][n]["value"]]
        assert not zero, f"{w}: per-layer metrics of exercised layers read 0: {zero}"
        exercised |= set(mine)

        _, res = bench(w, "--trace", "0", "--corrupt-expected")
        assert not res["correct"] and res["failed"] >= 1, f"{w}: a wrong expected result passed: {res}"
        print(f"ok {w}")
    if workloads != WORKLOADS:
        return 0
    # a layer a workload does not exercise reports 0; every per-layer
    # metric must still be exercised by at least one workload
    never = [m["name"] for m in contract["per_layer"]
             if m["name"] not in exercised and m["name"] not in MAY_BE_ZERO]
    assert not never, f"per-layer metrics no workload exercises: {never}"
    print("ok per-layer coverage")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or WORKLOADS))
