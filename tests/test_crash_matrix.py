"""Crash-point matrix for every persisted state directory.

One injection point: ``fsutil._fs_and_path`` is patched so the Hadoop
``FileSystem`` it hands out counts namespace mutations (``rename``,
``delete``, ``mkdirs``, ``create``); ``DataFrameWriter.parquet`` /
``saveAsTable`` count Spark writes. A clean run of each store's
operation counts its steps. The operation is then re-run from the same
seeded state once per mutation k, crashing at k, plus once crashing in
its last (staged) Spark write:

- a crashing mutation raises instead of running;
- a crashing write lands its files, loses its ``_SUCCESS`` marker (a
  crash inside the job commit) and raises;
- after the crash the process is dead: every later mutation or write
  raises too, so no cleanup path can hide a window.

For each case the test asserts that, after recovery, a reader sees the
old or the new generation of each directory (never an empty, missing or
mixed one), and that rerunning the operation without the fault
converges to the state of an uncrashed run. A crash in a best-effort
step after the commit point (a backup or superseded-generation delete)
does not fail the operation; its state must already be the uncrashed
state.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from wwwision_importservice_spark import fsutil

MUTATIONS = frozenset({"rename", "delete", "mkdirs", "create"})


class Crash(Exception):
    pass


class FaultPlan:
    """Records step kinds; crashes at step ``at`` (None = record only)."""

    def __init__(self, at: int | None = None) -> None:
        self.at = at
        self.kinds: list[str] = []
        self.dead = False

    def step(self, kind: str, before_raise=None) -> None:
        if self.dead:
            raise Crash("process is dead")
        self.kinds.append(kind)
        if len(self.kinds) == self.at:
            self.dead = True
            if before_raise is not None:
                before_raise()
            raise Crash(f"crash at {kind} step {self.at}")


class FaultyFs:
    def __init__(self, fs, plan: FaultPlan) -> None:
        self._fs = fs
        self._plan = plan

    def __getattr__(self, name):
        attr = getattr(self._fs, name)
        if name not in MUTATIONS:
            return attr

        def mutate(*args):
            self._plan.step("mutation")
            return attr(*args)

        return mutate


def _local(path: str) -> str:
    return path[len("file:"):] if path.startswith("file:") else path


def _drop_success(path: str) -> None:
    marker = os.path.join(_local(path), "_SUCCESS")
    if os.path.exists(marker):
        os.remove(marker)


def _install(monkeypatch, spark, plan: FaultPlan) -> None:
    real_fs = fsutil._fs_and_path
    real_parquet = DataFrameWriter.parquet
    real_save = DataFrameWriter.saveAsTable

    def fs_and_path(spark_, path):
        fs, p = real_fs(spark_, path)
        return FaultyFs(fs, plan), p

    def parquet(self, path, *args, **kwargs):
        if plan.dead:
            raise Crash("process is dead")
        real_parquet(self, path, *args, **kwargs)
        plan.step("write", lambda: _drop_success(path))

    def save_as_table(self, name, *args, **kwargs):
        if plan.dead:
            raise Crash("process is dead")
        real_save(self, name, *args, **kwargs)
        location = next(
            r[1] for r in spark.sql(f"DESCRIBE FORMATTED {name}").collect()
            if r[0] == "Location"
        )
        plan.step("write", lambda: _drop_success(location))

    monkeypatch.setattr(fsutil, "_fs_and_path", fs_and_path)
    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    monkeypatch.setattr(DataFrameWriter, "saveAsTable", save_as_table)


def _rows(df) -> tuple:
    return tuple(sorted(repr(tuple(r)) for r in df.collect()))


class Store:
    """``seed()`` builds the old generation, ``op()`` writes the new one.
    ``observe()`` is what a reader sees (each reader settles swaps
    first): one entry per independently committed directory, each of
    which must be that directory's old or new generation as a whole.
    ``converged()`` is what a rerun must reproduce."""

    write_case = True

    def converged(self) -> tuple:
        return self.observe()

    def close(self) -> None:
        pass


V1 = [(f"k{i}", 1, f"t{i}", i) for i in range(6)]
V2 = [("k0", 2, "t0b", 0), ("k1", 2, "t1b", 1)] + V1[2:5] + [("k9", 1, "t9", 9)]


class PipelineStore(Store):
    """``ImportPipeline.run`` on tiny frames. The seeded changelog holds
    a committed (empty) ``run_id=r2``, so the crashed run re-commits it
    through the backup-rename swap. No write case here: the staged
    snapshot write is ``swap_snapshot``'s, which ``Scd2Store``'s write
    case crashes."""

    changelog = True
    write_case = False

    def __init__(self, spark, root: str) -> None:
        from wwwision_importservice_spark.plans.pipeline import ImportPipeline
        from wwwision_importservice_spark.plans.preset import Preset
        from wwwision_importservice_spark.sources.memory import CallableSource

        self.spark = spark
        self.root = root
        self.clog = f"{root}/clog" if self.changelog else None
        self.target = self.make_target(f"{root}/tgt")
        self.preset = Preset(
            name="crash",
            source=CallableSource(
                rows=V1, schema="id string, v long, title string, _ord long"
            ),
            target=self.target,
            id_attribute="id",
            version_attribute="v",
            order_attribute="_ord",
        )
        self.pipeline = ImportPipeline(self.preset, spark)

    def make_target(self, path):
        from wwwision_importservice_spark.sinks.parquet import ParquetTarget

        return ParquetTarget(path=path, id_column="id", version_column="version")

    def run(self, run_id: str) -> None:
        self.pipeline.run(changelog_dir=self.clog, run_id=run_id)

    def seed(self) -> None:
        self.run("r1")
        if self.clog is not None:
            self.run("r2")  # no-op: an empty committed run directory

    def op(self) -> None:
        self.preset.source.rows = V2
        self.run("r2")

    def observe(self) -> tuple:
        target = self.target.read(self.spark)
        state = (_rows(target) if target is not None else None,)
        if self.clog is None:
            return state
        fsutil.recover_child_dirs(self.spark, self.clog)
        runs = sorted(
            n for n in fsutil.list_child_dirs(self.spark, self.clog)
            if n.startswith("run_id=")
        )
        return state + tuple(
            (n, _rows(self.spark.read.parquet(f"{self.clog}/{n}"))) for n in runs
        )

    def converged(self) -> tuple:
        """observe() plus the replica ``replay_changelog`` builds."""
        from wwwision_importservice_spark.plans.pipeline import replay_changelog

        state = self.observe()
        if self.clog is None:
            return state
        replica = DictReplica()
        replay_changelog(self.spark, replica, self.clog)
        return state + (tuple(sorted(replica.rows.values())),)


class DictReplica:
    """A changelog consumer that folds each run into a dict (one collect
    per run, where a parquet replica would rewrite a snapshot)."""

    def __init__(self) -> None:
        self.rows: dict[str, str] = {}

    def apply(self, spark, cdc):
        from wwwision_importservice_spark.sinks.base import ApplyStats

        # ParquetTarget's projection: engine and key columns out
        attrs = [c for c in cdc.columns
                 if c not in ("_id", "_version", "change_type", "id", "version")
                 and not c.startswith("_local_")]
        stats = ApplyStats()
        for r in cdc.collect():
            if r["change_type"] == "remove":
                self.rows.pop(r["_id"], None)
                stats.removed += 1
            else:
                # the row as the primary ParquetTarget stores it
                row = (r["_id"], r["_version"], *(r[c] for c in attrs))
                self.rows[r["_id"]] = repr(row)
                stats.added += r["change_type"] == "add"
                stats.updated += r["change_type"] == "update"
        return stats


class Scd2Store(PipelineStore):
    changelog = False
    write_case = True

    def make_target(self, path):
        from wwwision_importservice_spark.sinks.scd2 import Scd2ParquetTarget

        return Scd2ParquetTarget(path=path, id_column="id", version_column="version")


class BucketedStore(PipelineStore):
    changelog = False
    write_case = True

    def make_target(self, path):
        from wwwision_importservice_spark.sinks.bucketed import BucketedParquetTarget

        # one catalog table per store root (seed, ref, k1, ...)
        self.table = f"crash_bkt_{os.path.basename(self.root)}"
        return BucketedParquetTarget(path, table_name=self.table, n_buckets=2)

    def observe(self) -> tuple:
        # a reader in a fresh session: the catalog entry is a cache
        self.spark.sql(f"DROP TABLE IF EXISTS {self.table}")
        return (_rows(self.target.read(self.spark)),)

    def close(self) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {self.table}")
        self.spark.sql(f"DROP TABLE IF EXISTS {self.table}__staging")


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc{i} epsilon zeta eta theta")
         for i in ids],
        "doc_id long, text string",
    )


class DedupIndexStore(Store):
    """``dedup.compact_index`` over an LSH index of two appended batches."""

    def __init__(self, spark, root: str) -> None:
        self.spark = spark
        self.idx = f"{root}/idx"

    def seed(self) -> None:
        from wwwision_importservice_spark.operators.dedup import (
            lsh_index,
            minhash_signatures_inline,
        )

        for ids in ([1, 2], [3, 4]):
            sig = minhash_signatures_inline(
                _docs(self.spark, ids), "doc_id", "text", n=3, num_hashes=16
            )
            lsh_index(sig, "doc_id", 16, 4).write.mode("append")\
                .partitionBy("band").parquet(self.idx)

    def op(self) -> None:
        from wwwision_importservice_spark.operators.dedup import compact_index

        compact_index(self.spark, self.idx, "doc_id", n_bands=4)

    def observe(self) -> tuple:
        fsutil.recover_dir(self.spark, self.idx)
        return ((
            _rows(self.spark.read.parquet(self.idx)),
            len(fsutil.list_data_files(self.spark, self.idx)),
        ),)


class SketchStore(Store):
    """``sketchstore.compact_store`` folding two appended batches."""

    def __init__(self, spark, root: str) -> None:
        from wwwision_importservice_spark.operators.sketchstore import (
            SketchStoreSpec,
        )

        self.spark = spark
        self.store = f"{root}/stats"
        self.spec = SketchStoreSpec(group_cols=("src",), item_col="tok", counters=16)

    def seed(self) -> None:
        from wwwision_importservice_spark.operators.sketchstore import append_batch

        for b in range(2):
            rows = [("a", f"t{(i + b) % 4}") for i in range(20)]
            append_batch(
                self.spark.createDataFrame(rows, "src string, tok string"),
                self.store, b, self.spec,
            )

    def op(self) -> None:
        from wwwision_importservice_spark.operators.sketchstore import compact_store

        compact_store(self.spark, self.store, self.spec)

    def observe(self) -> tuple:
        from wwwision_importservice_spark.operators.sketchstore import merged_heads

        return ((
            _rows(merged_heads(self.spark, self.store, self.spec)),
            len(fsutil.list_data_files(self.spark, f"{self.store}/heads")),
        ),)


class IvfIndexStore(Store):
    """``annindex.build_ivf_index`` rebuilding an index in place."""

    def __init__(self, spark, root: str) -> None:
        self.spark = spark
        self.idx = f"{root}/ivf"

    def _build(self, parity: int) -> None:
        from wwwision_importservice_spark.operators.annindex import build_ivf_index

        vecs = self.spark.createDataFrame(
            [(i, [float(i % 3), float(i % 5)]) for i in range(12)],
            "c_id long, embedding array<double>",
        )
        cents = vecs.filter(F.col("c_id") % 4 == parity).select(
            F.col("c_id").alias("cell"), "embedding"
        )
        build_ivf_index(vecs.filter(F.col("c_id") % 2 == parity), cents, self.idx)

    def seed(self) -> None:
        self._build(0)

    def op(self) -> None:
        self._build(1)

    def observe(self) -> tuple:
        fsutil.recover_dir(self.spark, self.idx)
        read = self.spark.read.parquet
        return ((
            _rows(read(f"{self.idx}/centroids")),
            _rows(read(f"{self.idx}/cells")),
            fsutil.read_text_file(self.spark, f"{self.idx}/_build_stats"),
        ),)


class PackedShardStore(Store):
    """``packing.append_packed_shards``: the batch's data directory is
    written in place, the manifest through the swap. Readers see the
    manifest; the rerun must reproduce data and manifest."""

    def __init__(self, spark, root: str) -> None:
        self.spark = spark
        self.out = f"{root}/packed"

    def _append(self, b: int) -> None:
        from wwwision_importservice_spark.operators.packing import (
            append_packed_shards,
        )

        batch = self.spark.createDataFrame(
            [(b * 10 + j, 40 + 7 * j) for j in range(5)],
            "doc_id long, n_tokens long",
        )
        append_packed_shards(batch, self.out, b, budget=128, shards=2)

    def seed(self) -> None:
        self._append(0)

    def op(self) -> None:
        self._append(1)

    def observe(self) -> tuple:
        fsutil.recover_dir(self.spark, f"{self.out}/manifest")
        return (_rows(self.spark.read.parquet(f"{self.out}/manifest")),)

    def converged(self) -> tuple:
        return self.observe() + (
            _rows(self.spark.read.parquet(f"{self.out}/data")),
        )


class ReclusterStore(Store):
    """``layout.recluster`` of an append-degraded table."""

    def __init__(self, spark, root: str) -> None:
        self.spark = spark
        self.path = f"{root}/table"

    def seed(self) -> None:
        for lo in (0, 40):
            self.spark.range(lo, lo + 40).select(
                (F.col("id") % 7).alias("k"), F.col("id").alias("payload")
            ).coalesce(1).write.mode("append").parquet(self.path)

    def op(self) -> None:
        from wwwision_importservice_spark.operators.layout import recluster

        recluster(self.spark, self.path, ["k"], n_partitions=3)

    def observe(self) -> tuple:
        fsutil.recover_dir(self.spark, self.path)
        return ((
            _rows(self.spark.read.parquet(self.path)),
            len(fsutil.list_data_files(self.spark, self.path)),
        ),)


STORES = {
    "parquet+changelog": PipelineStore,
    "scd2": Scd2Store,
    "bucketed": BucketedStore,
    "dedup_compact_index": DedupIndexStore,
    "sketch_compact_store": SketchStore,
    "ivf_build": IvfIndexStore,
    "packed_shard_append": PackedShardStore,
    "layout_recluster": ReclusterStore,
}


@pytest.mark.parametrize("name", list(STORES))
def test_crash_point_matrix(spark, tmp_path, monkeypatch, name):
    make = STORES[name]
    seed_root = str(tmp_path / "seed")
    seeded = make(spark, seed_root)
    seeded.seed()
    old = seeded.observe()
    seeded.close()

    def fresh(label: str):
        root = str(tmp_path / label)
        shutil.copytree(seed_root, root)
        return make(spark, root)

    # the uncrashed run: its steps and its final state
    ref = fresh("ref")
    plan = FaultPlan()
    with monkeypatch.context() as m:
        _install(m, spark, plan)
        ref.op()
    new = ref.observe()
    new_converged = ref.converged()
    ref.close()
    assert new != old
    if isinstance(ref, PipelineStore) and ref.clog is not None:
        # the replica replayed from the changelog is the primary
        assert new_converged[-1] == new[0]

    n_steps = len(plan.kinds)
    writes = [k for k, kind in enumerate(plan.kinds, 1) if kind == "write"]
    cases = [k for k, kind in enumerate(plan.kinds, 1) if kind == "mutation"]
    assert cases and writes
    for k in cases + writes[-1:] * make.write_case:
        store = fresh(f"k{k}")
        try:
            with monkeypatch.context() as m:
                _install(m, spark, FaultPlan(at=k))
                try:
                    store.op()
                    crashed = False
                except Crash:
                    crashed = True
            seen = store.observe()
            assert len(seen) == len(old) == len(new) and all(
                s in (o, n) for s, o, n in zip(seen, old, new)
            ), f"{name}: crash at step {k}/{n_steps}"
            if crashed:
                store.op()
            assert store.converged() == new_converged, (
                f"{name}: rerun after crash at step {k}/{n_steps}"
            )
        finally:
            store.close()
