"""The repository benchmark: two closed-loop workloads against the
engine's public entry points.

    python3 perfbench/run.py --workload sync_churn --seed 1 --seconds 20 --trace 0

Run from the repository root. Prints a report with every end-to-end
metric by name and unit, then, as the last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics listed in ``BENCHMARK.json``;
``--trace 1`` wraps each layer's callables, alternates traced and
untraced ops, and reports the per-layer metrics (plus the tracing
overhead) and the self-time layer table.

A full record of each run (stamp, per-op samples, all metrics) is
written to ``perfbench/.work/results/``; ``compare.py`` compares two.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PKG = "wwwision_importservice_spark"
WARMUP_OPS = 1
sys.path[:0] = [HERE, ROOT]

E2E_UNITS = {
    "op_p50_s": "s", "op_tail_s": "s", "rows_per_s": "rows/s", "setup_s": "s",
    "cpu_s_per_op": "s", "jobs_per_op": "count", "shuffle_bytes_per_op": "bytes",
    "write_amp": "ratio", "peak_rss_mb": "MB", "error_rate": "ratio",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True,
                   choices=["sync_churn", "stream_gate"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full")
    p.add_argument("--corrupt-expected", action="store_true",
                   help="self-test: perturb one expected value, so checks must fail")
    return p.parse_args(argv)


def cpu_count() -> int:
    """k for local[k]: half the CPUs this process may run on, at least 1.
    The other half is left to the rest of the process tree (the Python
    driver, the JVM's own threads, the media lane's Python workers):
    with k equal to the CPU count they contend with the task threads,
    and the timings measure the scheduler. Never 0."""
    n = len(os.sched_getaffinity(0))
    if n < 1:
        raise SystemExit("cannot determine the CPU count")
    return max(1, n // 2)


def stamp(args, k: int, digest: str) -> dict:
    import pyspark

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
            ).stdout.strip() or None
        except OSError:
            commit = None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PKG)
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "seconds": args.seconds, "trace": args.trace, "k": k,
        "input_digest": digest, "git_commit": commit, "source_sha": h.hexdigest()[:16],
        "loadavg_start": os.getloadavg(), "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


# --------------------------------------------------------------------------- #
# Spark lifetime
# --------------------------------------------------------------------------- #
def start_spark(k: int):
    from wwwision_importservice_spark import session as session_mod

    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(k)
    # the host is shared: a 2g heap is ample for these input sizes
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # the environment variable would win over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    return session_mod.get_spark(
        "perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # C1-only JIT: a run lives about a minute, and under the
            # default tiered compiler per-op time keeps falling for ~25 s
            # (3.9 s to 2.0 s per sync_churn cycle) while C2 compiles
            # Spark's driver code, so a run's median would depend on how
            # far into that warm-up it got. Lowered C1 thresholds compile
            # the driver's paths within the bootstrap and warm-up ops
            # (with the defaults, ops still got faster for ~20 s after
            # them); C1-only defaults to a 48 MB code cache, which fills
            # within a minute and then disables the compiler.
            "spark.driver.extraJavaOptions": " ".join([
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}", "-XX:-UsePerfData",
                "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m",
                "-XX:Tier3InvocationThreshold=40", "-XX:Tier3MinInvocationThreshold=20",
                "-XX:Tier3CompileThreshold=400", "-XX:Tier3BackEdgeThreshold=6000",
            ]),
            # the per-op counters read finished jobs and SQL executions back
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(30)


# --------------------------------------------------------------------------- #
# the run
# --------------------------------------------------------------------------- #
def run(args) -> dict:
    import gen
    import measure
    import workloads

    k = cpu_count()
    t = time.perf_counter()
    inputs, digest = gen.load_inputs(args.workload, args.seed, args.size, os.path.join(WORK, "inputs"))
    gen_s = time.perf_counter() - t
    st = stamp(args, k, digest)

    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
        tracer.install()
    t = time.perf_counter()
    spark = start_spark(k)
    session_s = time.perf_counter() - t
    to_session = time.perf_counter() - T_START - gen_s
    run_dir = os.path.join(WORK, "run", f"{args.workload}-{os.getpid()}")
    wl = workloads.WORKLOADS[args.workload](
        spark, inputs, run_dir, corrupt=args.corrupt_expected, wrap=tracer.wrap if tracer else None
    )
    ptree = measure.ProcessTree()
    counters = measure.SparkCounters(spark)
    sql = None
    ops, failures = [], []
    try:
        boot_s = wl.bootstrap()
        failures += [f"bootstrap: {f}" for f in wl.bootstrap_failures]
        if tracer is not None:
            import tracing

            tracer.storage_dirs = wl.storage_dirs
            sql = tracing.SqlSplit(spark)

        def one_op(i: int, traced: bool) -> dict:
            wl.prepare(i)
            if traced:
                tracer.op, tracer.enabled = i, True
            snap0 = measure.snapshot(wl.storage_dirs)
            jid0 = counters.next_job_id()
            cpu0 = ptree.cpu()
            e0, t0 = time.time(), time.perf_counter()
            try:
                res = wl.execute(i)
                t1 = wl.op_end() if hasattr(wl, "op_end") else time.perf_counter()
            except Exception as exc:  # an op that raised counts as failed
                t1 = time.perf_counter()
                res = workloads.OpResult(0, 0, [f"raised {exc!r}"])
            cpu1 = ptree.cpu()
            if tracer is not None:
                tracer.enabled = False
            jobs = counters.jobs(jid0, counters.next_job_id())
            if not res.failures:
                wl.verify(i, res)
            snap1 = measure.snapshot(wl.storage_dirs)
            wb, wf = measure.written(snap0, snap1)
            wall = t1 - t0
            op = {
                "i": i, "wall": wall, "rows": res.rows, "input_bytes": res.input_bytes,
                "cpu": measure.cpu_delta(cpu0, cpu1), "failures": res.failures,
                "bytes_written": wb, "files_written": wf, "traced": traced,
                "spark": measure.sum_jobs(jobs),
                "driver_only_s": wall - measure.covered_s(jobs, e0, e0 + wall),
            }
            for key in ("gate", "landed", "twins_checked"):
                if key in res.info:
                    op[key] = res.info[key]
            if sql is not None:
                split = sql.collect(getattr(wl, "src_dir", None), parse=traced)
                if traced:
                    media = split.pop("media_jobs")
                    op["layers"] = tracer.attribute(i, jobs, e0, e0 + wall)
                    op["layers"].update(split)
                    op["layers"]["multimodal.media_metadata.exec_cpu_s"] = sum(
                        j["exec_cpu_s"] for j in jobs if j["id"] in media
                    )
                    for d in wl.storage_dirs:
                        after = {p: v for p, v in snap1.items() if p.startswith(d + os.sep)}
                        before = {p: v for p, v in snap0.items() if p.startswith(d + os.sep)}
                        name = os.path.basename(d)
                        op["layers"][f"dir.{name}.bytes"], op["layers"][f"dir.{name}.files"] = (
                            measure.written(before, after)
                        )
                        op["layers"][f"dir.{name}.parquet_files"] = sum(
                            1 for p in after if p.endswith(".parquet")
                        )
            failures.extend(f"op {i}: {f}" for f in res.failures)
            return op

        # warm-up ops: the first op after the bootstrap still pays one-off
        # JIT and codegen cost; it counts into set-up, not into the op stats.
        # The warm-up also runs the first op of every kind: the gate's first
        # compaction (batch cycle - 1) is the first run of that code path.
        i = 1
        warm = []
        while len(warm) < max(WARMUP_OPS, wl.cycle - 1) and i < wl.available_ops():
            warm.append(one_op(i, False))
            i += 1
        setup_s = time.perf_counter() - T_START - gen_s
        loop_t0 = time.perf_counter()
        while (time.perf_counter() - loop_t0 < args.seconds or not ops) and i < wl.available_ops():
            # traced and untraced ops alternate in blocks of whole cycles,
            # so both sides see the same op mix (and the overhead compares
            # like with like)
            traced = tracer is not None and (len(ops) // wl.cycle) % 2 == 0
            ops.append(one_op(i, traced))
            i += 1
            if ops[-1]["failures"] and ops[-1]["failures"][0].startswith("raised"):
                break
        loop_s = time.perf_counter() - loop_t0
        progress = wl.progress() if hasattr(wl, "progress") else {}
        t = time.perf_counter()
        end_failed = wl.finish()
        finish_s = time.perf_counter() - t
        failures += [f"end: {f}" for f in end_failed]
        peak_rss = ptree.peak_rss_mb()
    finally:
        wl.close()
        t = time.perf_counter()
        stop_spark(spark)
        stop_s = time.perf_counter() - t
        shutil.rmtree(run_dir, ignore_errors=True)
    st["loadavg_end"] = os.getloadavg()
    if tracer is not None:
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "results", f"{args.workload}-s{args.seed}-{args.size}.spans.json"))
    return {
        "stamp": st, "ops": ops, "failures": failures, "end_failed": end_failed,
        "setup": {"session_s": session_s, "to_session_s": to_session, "bootstrap_s": boot_s,
                  "warmup_s": [o["wall"] for o in warm], "setup_s": setup_s, "gen_s": gen_s,
                  "finish_s": finish_s, "stop_s": stop_s},
        "warmup_failed": sum(1 for o in warm if o["failures"]),
        "loop_s": loop_s, "peak_rss_mb": peak_rss, "progress": progress,
        "total_s": time.perf_counter() - T_START, "cycle": wl.cycle,
    }


def e2e_metrics(r: dict) -> dict:
    import measure

    ops = r["ops"]
    walls = [o["wall"] for o in ops]
    tail, pct = measure.tail(walls)
    # per-op means over whole maintenance cycles (the gate compacts every
    # third batch), so the mix of op kinds is the same in every run
    whole = ops[: len(ops) - len(ops) % r["cycle"]] or ops
    attempted = len(ops) + len(r["setup"]["warmup_s"]) + 1
    failed_ops = sum(1 for o in ops if o["failures"]) + r["warmup_failed"]
    boot_failed = sum(1 for f in r["failures"] if f.startswith("bootstrap"))
    failed = min(attempted, failed_ops + boot_failed + len(r["end_failed"]))
    m = {
        "op_p50_s": measure.median(walls),
        "op_tail_s": tail,
        "rows_per_s": sum(o["rows"] for o in ops) / sum(walls),
        "setup_s": r["setup"]["setup_s"],
        "cpu_s_per_op": sum(o["cpu"]["total"] for o in whole) / len(whole),
        "jobs_per_op": sum(o["spark"]["jobs"] for o in whole) / len(whole),
        "shuffle_bytes_per_op": sum(o["spark"]["shuffle_write_bytes"] for o in whole) / len(whole),
        "write_amp": sum(o["bytes_written"] for o in whole) / sum(o["input_bytes"] for o in whole),
        "peak_rss_mb": r["peak_rss_mb"],
        "error_rate": failed / attempted,
    }
    return {"values": m, "tail_pct": pct, "n_ops": len(ops), "attempted": attempted, "failed": failed}


def layer_metrics(r: dict) -> dict:
    """Per-layer metrics of a traced run: medians over traced ops, plus
    run-level values."""
    from datetime import datetime

    import measure

    traced = [o for o in r["ops"] if o["traced"]]
    plain = [o for o in r["ops"] if not o["traced"]]
    names = sorted({k for o in traced for k in o["layers"]})

    def med(key):
        return measure.median([o["layers"].get(key, 0.0) for o in traced])

    out = {}
    for k in names:
        span = k.rsplit(".", 1)[0]
        if k.endswith(".calls"):
            # calls per op: the mean, so a span that runs every third op reads 1/3
            out[k] = sum(o["layers"].get(k, 0.0) for o in traced) / len(traced)
        elif f"{span}.calls" in names:
            # a span's own figures: the median over the ops that ran it
            out[k] = measure.median([o["layers"][k] for o in traced if k in o["layers"]])
        else:
            out[k] = med(k)
    out["dedup.compact_index.bytes_rewritten"] = out.get("dedup.compact_index.bytes_written", 0.0)
    out["session.get_spark.wall_s"] = r["setup"]["session_s"]
    out["pipeline.changelog_bytes"] = med("dir.changelog.bytes")
    out["pipeline.changelog_files"] = med("dir.changelog.files")
    out["sinks.state_files"] = med("dir.target.parquet_files")
    out["fsutil.calls"] = measure.median([_fs(o, "calls") for o in traced])
    out["fsutil.wall_s"] = measure.median([_fs(o, "wall_s") for o in traced])
    out["multimodal.python_worker_cpu_s"] = measure.median([o["cpu"]["workers"] for o in traced])
    for k in ("jobs", *measure.STAGE_COUNTERS):
        out[f"spark.{k}"] = measure.median([o["spark"][k] for o in traced])
    out["spark.driver_only_s"] = measure.median([o["driver_only_s"] for o in traced])
    gate = [o["gate"] for o in traced if "gate" in o]
    if gate:
        out["neardup.survivor_ratio"] = measure.median([g["survivors"] / g["rows_in"] for g in gate])
        out["neardup.index_rows"] = gate[-1]["index_rows"]
        out["neardup.index_files"] = gate[-1]["index_files"]
    out["neardup.compacted_batches"] = sum(1 for o in r["ops"] if o.get("gate", {}).get("compacted"))
    dur = {"trigger": "triggerExecution", "add_batch": "addBatch", "query_planning": "queryPlanning",
           "wal_commit": "walCommit", "latest_offset": "latestOffset", "get_batch": "getBatch"}
    prog = [(o, r["progress"][o["i"]]) for o in traced if o["i"] in r["progress"]]
    if prog:
        for ours, theirs in dur.items():
            out[f"stream.{ours}_ms"] = measure.median([p["durationMs"].get(theirs, 0) for _, p in prog])
        # a landed file waits for the next trigger to start
        out["stream.wait_s"] = measure.median([
            max(0.0, datetime.fromisoformat(p["timestamp"]).timestamp() - o["landed"]) for o, p in prog
        ])
    out["trace.op_p50_traced_s"] = measure.median([o["wall"] for o in traced])
    if plain:
        out["trace.op_p50_untraced_s"] = measure.median([o["wall"] for o in plain])
        out["trace.overhead_s"] = out["trace.op_p50_traced_s"] - out["trace.op_p50_untraced_s"]
    return out


def _fs(op: dict, what: str) -> float:
    return sum(v for k, v in op["layers"].items()
               if k.startswith("fsutil.") and k.endswith(f".{what}") and k.count(".") == 2)


def layer_table(r: dict) -> list[str]:
    """Self time per span name, mean per traced op, largest first. The
    self times plus ``unattributed`` add up to the mean op wall time."""
    traced = [o for o in r["ops"] if o["traced"]]
    names = sorted({k[: -len(".self_s")] for o in traced for k in o["layers"] if k.endswith(".self_s")})

    def mean(key: str) -> float:
        return sum(o["layers"].get(key, 0.0) for o in traced) / len(traced)

    rows = sorted(
        ((mean(f"{n}.self_s"), n, mean(f"{n}.calls"), mean(f"{n}.wall_s"), mean(f"{n}.jobs"),
          mean(f"{n}.exec_cpu_s")) for n in names),
        reverse=True,
    )
    wall = sum(o["wall"] for o in traced) / len(traced)
    lines = [f"{'span':40s} {'self_s':>8s} {'share':>6s} {'calls':>6s} {'wall_s':>8s} {'jobs':>6s} {'exec_cpu_s':>10s}"]
    for self_s, n, calls, w, jobs, cpu in rows:
        lines.append(f"{n:40s} {self_s:8.4f} {self_s / wall:6.1%} {calls:6.2f} {w:8.4f} {jobs:6.2f} {cpu:10.4f}")
    worst = max(abs(sum(v for k, v in o["layers"].items() if k.endswith(".self_s")) - o["wall"]) for o in traced)
    lines.append(f"mean op wall over {len(traced)} traced ops: {wall:.4f} s; "
                 f"max |sum(self_s) - op wall| over ops: {worst:.1e} s")
    return lines


def load_contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        __import__(PKG)
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    contract = load_contract()
    r = run(args)
    e = e2e_metrics(r)
    st = r["stamp"]
    print(f"# {st['workload']} seed={st['seed']} size={st['size']} k={st['k']} input={st['input_digest']} "
          f"commit={st['git_commit']} source={st['source_sha']} spark={st['spark']} python={st['python']} "
          f"loadavg={st['loadavg_start'][0]:.2f}->{st['loadavg_end'][0]:.2f}")
    print(f"# ops={e['n_ops']} loop_s={r['loop_s']:.2f} total_s={r['total_s']:.1f} "
          f"setup: session={r['setup']['session_s']:.3f}s bootstrap={r['setup']['bootstrap_s']:.3f}s "
          f"warmup={[round(w, 3) for w in r['setup']['warmup_s']]} gen={r['setup']['gen_s']:.2f}s "
          f"end checks={r['setup']['finish_s']:.2f}s stop={r['setup']['stop_s']:.2f}s")
    for name, unit in E2E_UNITS.items():
        v = e["values"][name]
        extra = f"  (p{e['tail_pct']:.1f} of {e['n_ops']} ops)" if name == "op_tail_s" else ""
        print(f"{name:22s} {v:14.6g} {unit}{extra}")
    for f in r["failures"]:
        print(f"FAILED {f}")
    record = {"stamp": st, "e2e": e, "setup": r["setup"], "ops": r["ops"], "failures": r["failures"],
              "loop_s": r["loop_s"], "total_s": r["total_s"]}
    if args.trace:
        layers = layer_metrics(r)
        record["layers"] = layers
        for line in layer_table(r):
            print(line)
        if "trace.overhead_s" in layers:
            print(f"tracing overhead: {layers['trace.overhead_s']:+.4f} s per op "
                  f"(traced p50 {layers['trace.op_p50_traced_s']:.4f} s, untraced p50 "
                  f"{layers['trace.op_p50_untraced_s']:.4f} s)")
        else:
            print("tracing overhead: n/a (no untraced ops in this run)")
        wanted = contract["per_layer"]
        source = layers
    else:
        wanted = contract["end_to_end"]
        source = e["values"]
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    base = os.path.join(WORK, "results", f"{st['workload']}-s{st['seed']}-t{args.trace}-{st['size']}")
    with open(base + ".json", "w") as fh:
        json.dump(record, fh, default=str)
    metrics = {m["name"]: {"value": float(source.get(m["name"]) or 0.0), "unit": m["unit"]} for m in wanted}
    print(json.dumps({
        "correct": not r["failures"], "attempted": e["attempted"], "failed": e["failed"], "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
