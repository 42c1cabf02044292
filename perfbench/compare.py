"""Compare two sets of benchmark results, metric by metric.

    python3 perfbench/compare.py BASE.json [BASE.json ...] -- NEW.json [NEW.json ...]

Each file is a run record written by ``run.py`` under
``perfbench/.work/results/``. Both sides must hold the same workload,
run length, ``k`` and the same set of inputs (one input digest per
seed); otherwise the comparison is refused. Prints each side's median
and quartiles per end-to-end metric, the relative change of the
medians, and the regression bound from ``BENCHMARK.json``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as fh:
            out.append(json.load(fh))
    return out


def identity(records: list[dict]) -> tuple:
    """What must match between the two sides. ``k`` is never 0: run.py
    refuses to start without a CPU count."""
    keys = {(r["stamp"]["workload"], r["stamp"]["size"], r["stamp"]["seconds"], r["stamp"]["k"])
            for r in records}
    if len(keys) != 1:
        raise SystemExit(f"refused: one side mixes workloads, sizes, run lengths or k: {sorted(keys)}")
    return next(iter(keys)), sorted(r["stamp"]["input_digest"] for r in records)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__)
        return 2
    cut = argv.index("--")
    base, new = _load(argv[:cut]), _load(argv[cut + 1 :])
    if not base or not new:
        print(__doc__)
        return 2
    (kb, db), (kn, dn) = identity(base), identity(new)
    if kb != kn:
        raise SystemExit(f"refused: base is {kb}, new is {kn} (workload, size, seconds, k)")
    if db != dn:
        raise SystemExit("refused: the two sides measured different inputs (input digests differ)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bounds = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    print(f"{kb[0]} size={kb[1]} seconds={kb[2]} k={kb[3]} runs={len(base)} vs {len(new)}")
    print(f"{'metric':22s} {'base q1/med/q3':>32s} {'new q1/med/q3':>32s} {'change':>8s} {'bound':>6s}")
    for name, m in bounds.items():
        b = [r["e2e"]["values"][name] for r in base]
        n = [r["e2e"]["values"][name] for r in new]
        qb, qn = quartiles(b), quartiles(n)
        change = (qn[1] - qb[1]) / qb[1] if qb[1] else float("nan")
        worse = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
        fmt = "{:.4g}/{:.4g}/{:.4g}"
        print(f"{name:22s} {fmt.format(*qb):>32s} {fmt.format(*qn):>32s} {change:+8.1%} {m['bound']:6.2f}"
              f"{'  WORSE' if worse else ''}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
