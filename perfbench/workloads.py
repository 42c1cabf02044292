"""The two closed-loop workloads.

Each workload is driven through the engine's public entry points by a
single client that issues the next op only after the previous one has
finished and been checked. Per op the runner calls ``prepare`` (not
timed: input delivery), ``execute`` (timed) and ``verify`` (not timed:
correctness against the generator's reference model).

Package callables are always looked up through their module at call
time (``pipeline_mod.ImportPipeline``, ``neardup_mod.near_dup_gate``,
...), so the traced run can wrap them from the outside.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.parquet as pq

import gen
from wwwision_importservice_spark import mapping as mapping_mod
from wwwision_importservice_spark.operators import multimodal as multimodal_mod
from wwwision_importservice_spark.plans import pipeline as pipeline_mod
from wwwision_importservice_spark.plans import preset as preset_mod
from wwwision_importservice_spark.sinks import parquet as parquet_mod
from wwwision_importservice_spark.sources import file as file_mod
from wwwision_importservice_spark.streaming import neardup as neardup_mod
from wwwision_importservice_spark.streaming import sync as sync_mod

BATCH_TIMEOUT_S = 120.0


@dataclass
class OpResult:
    rows: int
    input_bytes: int
    failures: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def read_table(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


class Workload:
    """Interface: ``bootstrap()`` builds fresh state and runs the
    workload's first op (timed by the runner as set-up); ``prepare(i)``,
    ``execute(i)``, ``verify(i, res)`` make one op; ``finish()`` runs the
    end-of-run checks and returns the names of those that failed."""

    name = ""
    # ops per maintenance cycle: per-op means are taken over whole cycles
    cycle = 1

    def __init__(self, spark, inputs, work: str, corrupt: bool = False, wrap=None) -> None:
        self.spark = spark
        self.inputs = inputs
        self.work = work
        # the traced run's span wrapper, for the client's own callbacks
        self.wrap = wrap or (lambda fn, name: fn)
        # self-test switch: perturb one expected value so a live check fails
        self.corrupt = corrupt
        self.storage_dirs: list[str] = []

    def available_ops(self) -> int:
        raise NotImplementedError

    def close(self) -> None:
        pass


# --------------------------------------------------------------------------- #
class SyncChurn(Workload):
    """Repeated ``ImportPipeline.run`` cycles over a churned lineitem-shaped
    parquet source into a ``ParquetTarget``, with a changelog."""

    name = "sync_churn"

    def available_ops(self) -> int:
        return 10**9

    def bootstrap(self) -> float:
        base = _fresh(os.path.join(self.work, "sync"))
        self.src_dir = os.path.join(base, "source")
        self.target_dir = os.path.join(base, "target")
        self.changelog = os.path.join(base, "changelog")
        os.makedirs(self.src_dir)
        self.source = self.inputs["source"]
        self.src_file = os.path.join(self.src_dir, "part-0.parquet")
        self._write_source()
        preset = preset_mod.Preset(
            name="sync_churn",
            source=file_mod.FileSource(self.src_dir, format="parquet"),
            target=parquet_mod.ParquetTarget(self.target_dir, id_column="id", version_column="version"),
            id_attribute="id",
            version_attribute="version",
            order_attribute="seq",
            mapper=mapping_mod.Mapper(gen.SYNC_MAPPING),
        )
        self.pipeline = pipeline_mod.ImportPipeline(preset, self.spark)
        self.storage_dirs = [self.target_dir, self.changelog]
        self.runs: list[str] = []
        state = self.source.expected_state()
        t0 = time.perf_counter()
        stats = self._run(0)
        secs = time.perf_counter() - t0
        self.model = state
        self.bootstrap_failures = self._check_counts(stats, gen.expected_diff(state, None))
        return secs

    def _write_source(self) -> int:
        # four row groups, so the scan splits into parallel tasks
        return gen.write_parquet(self.source.rows, self.src_file, row_groups=4)

    def _run(self, i: int) -> dict:
        run_id = f"c{i:05d}"
        self.runs.append(run_id)
        return self.pipeline.run(changelog_dir=self.changelog, run_id=run_id)

    def prepare(self, i: int) -> None:
        self.source.churn(i)
        self._nbytes = self._write_source()
        self._rows = len(self.source.rows)
        self._state = self.source.expected_state()
        self._expected = gen.expected_diff(self._state, self.model)

    def execute(self, i: int) -> OpResult:
        stats = self._run(i)
        return OpResult(self._rows, self._nbytes, info={"stats": stats})

    def _check_counts(self, stats: dict, expected: dict) -> list[str]:
        if self.corrupt:
            expected = dict(expected, added=expected["added"] + 1)
        got = {k: stats[k] for k in ("added", "updated", "removed")}
        return [] if got == expected and stats["errors"] == 0 else [f"counts {got} != {expected}"]

    def verify(self, i: int, res: OpResult) -> None:
        res.failures += self._check_counts(res.info["stats"], self._expected)
        self.model = self._state

    def finish(self) -> list[str]:
        failed = []
        want = gen.frame_digest(self.model, gen.SYNC_TARGET_COLS)
        if gen.frame_digest(read_table(self.target_dir), gen.SYNC_TARGET_COLS) != want:
            failed.append("target content hash")
        replica = os.path.join(self.work, "sync_replica")
        shutil.rmtree(replica, ignore_errors=True)
        target = parquet_mod.ParquetTarget(replica, id_column="id", version_column="version")
        pipeline_mod.replay_changelog(self.spark, target, self.changelog, runs=self.runs)
        if gen.frame_digest(read_table(replica), gen.SYNC_TARGET_COLS) != want:
            failed.append("changelog replay hash")
        return failed


# --------------------------------------------------------------------------- #
class StreamGate(Workload):
    """``stream_sync`` over a parquet file-directory stream of crawled
    document batches into a document store (a ``ParquetTarget``). The
    stream's per-batch processor is a ``near_dup_gate(...,
    compact_every=3)``: it drops near-duplicates of every document
    admitted so far, and its ``admit`` callback runs ``media_metadata``
    over the survivors' attachments (the media lane: Python workers over
    Arrow). The survivors are what the stream syncs into the store. The
    next batch file lands only after the previous batch's ``on_batch``
    fired."""

    name = "stream_gate"
    cycle = 3  # compact_every

    def available_ops(self) -> int:
        return len(self.inputs["batches"])

    def _on_batch(self, batch_id: int, stats: dict) -> None:
        self._done_at = time.perf_counter()
        self._stats = stats
        self._event.set()

    def _admit(self, survivors, batch_id: int) -> None:
        self._survivors = survivors
        media = multimodal_mod.media_metadata(survivors.select("doc_id", "blob"), "doc_id")
        self._media = media.select("doc_id", "kind", "format", "width", "height").collect()

    def _gate_batch(self, records):
        """The stream's processor: gate the keyed batch (as batch ``i``
        of the gate: one file per trigger), sync what it admitted."""
        self.gate(records, self._batch)
        return self._survivors

    def bootstrap(self) -> float:
        base = _fresh(os.path.join(self.work, "stream_gate"))
        self.target_dir = os.path.join(base, "target")
        self.in_dir = os.path.join(base, "in")
        self.stage_dir = os.path.join(base, "stage")
        checkpoint = os.path.join(base, "checkpoint")
        for d in (self.target_dir, self.in_dir, self.stage_dir):
            os.makedirs(d)
        shutil.copyfile(self.inputs["seed_target"], os.path.join(self.target_dir, "part-0.parquet"))
        self.storage_dirs = [self.target_dir, checkpoint, os.path.join(base, "index")]
        self.stats: dict = {}
        self.seen: set[int] = set()
        self.gate = neardup_mod.near_dup_gate(
            self.storage_dirs[2],
            self.wrap(self._admit, "client.admit"),
            id_col="doc_id",
            text_col="text",
            compact_every=self.cycle,
            stats=self.stats,
            writer_id=checkpoint,
        )
        self._event = threading.Event()
        self.prepare(0)
        t0 = time.perf_counter()
        stream_df = (
            self.spark.readStream.schema(gen.DOC_SOURCE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.in_dir)
        )
        writer = sync_mod.stream_sync(
            stream_df,
            parquet_mod.ParquetTarget(self.target_dir, id_column="id", version_column=None),
            id_attribute="doc_id",
            processor=self._gate_batch,
            mapper=mapping_mod.Mapper(gen.DOC_MAPPING),
            on_batch=self._on_batch,
        )
        self.query = writer.option("checkpointLocation", checkpoint).start()
        res = self.execute(0)
        secs = self._done_at - t0
        self.verify(0, res)
        self.bootstrap_failures = res.failures
        return secs

    def prepare(self, i: int) -> None:
        b = self.inputs["batches"][i]
        self._staged = os.path.join(self.stage_dir, os.path.basename(b.path))
        shutil.copyfile(b.path, self._staged)

    def execute(self, i: int) -> OpResult:
        b = self.inputs["batches"][i]
        self._batch = i
        self._event.clear()
        os.rename(self._staged, os.path.join(self.in_dir, os.path.basename(b.path)))
        landed = time.time()
        if not self._event.wait(BATCH_TIMEOUT_S):
            raise RuntimeError(f"batch {i} not processed: {self.query.exception()}")
        return OpResult(b.rows, b.nbytes, info={"stats": self._stats, "landed": landed})

    def op_end(self) -> float:
        """The op ends at ``on_batch``, not when the client wakes."""
        return self._done_at

    def verify(self, i: int, res: OpResult) -> None:
        b = self.inputs["batches"][i]
        adm = [r[0] for r in self._media]
        # the index holds admitted documents only: an exact twin must be
        # dropped when the document it copies was admitted. (A fresh
        # document the gate dropped for a chance bucket collision leaves
        # its twin to the same collisions, which need not hit the index.)
        twins = {t for t, src in b.exact_twins.items() if src in self.seen}
        if self.corrupt:
            twins.add(adm[0])
        st = self.stats["batches"][-1]
        res.info["gate"] = st
        res.info["twins_checked"] = len(twins)
        got = {k: res.info["stats"][k] for k in ("added", "updated", "removed")}
        checks = {
            "admitted ids unique": len(set(adm)) == len(adm) and not self.seen & set(adm),
            "admitted within input": set(adm) <= set(b.ids),
            "exact twins dropped": not twins & set(adm),
            "admitted + dropped = input": st["rows_in"] == b.rows and st["survivors"] == len(adm),
            "media metadata = ground truth": all(tuple(r[1:]) == b.truth.get(r[0]) for r in self._media),
            "synced = admitted": got == {"added": len(adm), "updated": 0, "removed": 0}
            and not res.info["stats"]["errors"],
        }
        res.failures += [f"batch {i}: {k}" for k, ok in checks.items() if not ok]
        self.seen |= set(adm)
        self.done = i + 1

    def progress(self) -> dict[int, dict]:
        """Streaming progress per batch id; batch ``i`` is op ``i`` (one
        file per trigger)."""
        return {p["batchId"]: p for p in self.query.recentProgress if p.get("numInputRows")}

    def finish(self) -> list[str]:
        """The store must hold its seed state plus every admitted document."""
        self.close()
        admitted = [
            d[d["doc_id"].isin(self.seen)]
            for d in (read_table(b.path) for b in self.inputs["batches"][: self.done])
        ]
        model = pd.concat([read_table(self.inputs["seed_target"]), *map(gen.doc_map, admitted)])
        got = gen.frame_digest(read_table(self.target_dir), gen.DOC_TARGET_COLS)
        return [] if got == gen.frame_digest(model, gen.DOC_TARGET_COLS) else ["target content hash"]

    def close(self) -> None:
        q = getattr(self, "query", None)
        if q is not None:
            q.stop()
            self.query = None


WORKLOADS = {w.name: w for w in (SyncChurn, StreamGate)}
