"""Load-insensitive counters: process-tree CPU and memory from ``/proc``,
Spark job/stage counters from Spark's status store, and bytes
written under storage directories."""

from __future__ import annotations

import os
import statistics

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM forks the Python
    worker daemon from a non-main thread)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(x) for x in fh.read().split()]
        except OSError:
            continue
    return out


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and every live descendant."""
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime: the process's own CPU plus that
    of its reaped children (a finished Python worker lands in its
    daemon's cutime, so no CPU is lost between samples)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


class ProcessTree:
    """CPU seconds of the benchmark's process tree, split into the Python
    driver (this process), the JVM, and everything else (Python workers
    forked by the JVM)."""

    def __init__(self) -> None:
        self.me = os.getpid()

    def cpu(self) -> dict[str, float]:
        """Absolute CPU seconds per class. Workers are summed per pid, so
        a worker that starts between two samples counts from zero."""
        out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
        for pid in process_tree(self.me):
            cls = "driver" if pid == self.me else "jvm" if _comm(pid) == "java" else "workers"
            # this process's cutime would count the JVM once it is reaped:
            # read its own time only
            if pid == self.me:
                t = os.times()
                out[cls] += t.user + t.system
            else:
                out[cls] += _cpu_ticks(pid) / _TICK
        out["total"] = out["driver"] + out["jvm"] + out["workers"]
        return out

    def peak_rss_mb(self) -> float:
        """VmHWM of the JVM plus that of the Python driver, in MB."""
        total = 0
        for pid in process_tree(self.me):
            if pid == self.me or _comm(pid) == "java":
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1])
        return total / 1024.0


def cpu_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in after}


# --------------------------------------------------------------------------- #
# Spark counters
# --------------------------------------------------------------------------- #
STAGE_COUNTERS = (
    "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes", "spill_bytes",
)


class SparkCounters:
    """Reads finished jobs and their stages from the status store.

    Jobs are identified by id windows (``next_job_id`` before and after
    an op): the loop is closed with one client, so every job in the
    window belongs to that op."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._sc = sc
        self._store = sc.statusStore()
        self._dag = sc.dagScheduler()

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._sc.listenerBus().waitUntilEmpty()

    def jobs(self, lo: int, hi: int) -> list[dict]:
        """Per job in ``[lo, hi)``: submission/completion (epoch s) and
        the summed counters of the stages it ran (skipped stages add
        nothing)."""
        self.drain()
        out = []
        for jid in range(lo, hi):
            try:
                job = self._store.job(jid)
            except Exception:  # evicted or never registered
                continue
            rec = {k: 0.0 for k in STAGE_COUNTERS}
            rec["id"] = jid
            sub, done = job.submissionTime(), job.completionTime()
            rec["start"] = sub.get().getTime() / 1000.0 if sub.isDefined() else None
            rec["end"] = done.get().getTime() / 1000.0 if done.isDefined() else None
            ids = job.stageIds()
            for i in range(ids.size()):
                try:
                    st = self._store.lastStageAttempt(ids.apply(i))
                except Exception:
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += st.numCompleteTasks()
                rec["exec_run_s"] += st.executorRunTime() / 1e3
                rec["exec_cpu_s"] += st.executorCpuTime() / 1e9
                rec["gc_s"] += st.jvmGcTime() / 1e3
                rec["shuffle_read_bytes"] += st.shuffleReadBytes()
                rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
                rec["input_bytes"] += st.inputBytes()
                rec["spill_bytes"] += st.diskBytesSpilled()
            out.append(rec)
        return out


def sum_jobs(jobs: list[dict]) -> dict[str, float]:
    out = {k: sum(j[k] for j in jobs) for k in STAGE_COUNTERS}
    out["jobs"] = len(jobs)
    return out


def covered_s(jobs: list[dict], t0: float, t1: float) -> float:
    """Seconds of ``[t0, t1]`` during which at least one job ran."""
    iv = sorted(
        (max(j["start"], t0), min(j["end"], t1))
        for j in jobs
        if j["start"] is not None and j["end"] is not None
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --------------------------------------------------------------------------- #
# files written
# --------------------------------------------------------------------------- #
def snapshot(dirs: list[str]) -> dict[str, tuple]:
    """``path -> (inode, mtime_ns, size)`` for every file under ``dirs``."""
    out = {}
    for d in dirs:
        for root, _, files in os.walk(d):
            for f in files:
                p = os.path.join(root, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def written(before: dict[str, tuple], after: dict[str, tuple]) -> tuple[int, int]:
    """(bytes, files) of files that are new or rewritten in ``after``.
    Hidden files (Hadoop ``.crc`` checksums, markers) count too: they are
    bytes the op wrote."""
    b = n = 0
    for p, meta in after.items():
        if before.get(p) != meta:
            b += meta[2]
            n += 1
    return b, n


# --------------------------------------------------------------------------- #
# statistics
# --------------------------------------------------------------------------- #
def tail(values: list[float]) -> tuple[float, float]:
    """The op-time tail and its rank in percent: the highest percentile
    with at least ten samples beyond it, but never below the 90th. A run
    of fewer than 101 ops has no sample with ten beyond it above p90, so
    it reports p90, interpolated between the two nearest ops (with 2 to
    10 ops that lies between the second-slowest and the slowest)."""
    v = sorted(values)
    n = len(v)
    if n == 1:
        return v[0], 100.0
    pos = max(n - 11, 0.9 * (n - 1))
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo), 100.0 * pos / (n - 1)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
