"""Bucketed-parquet target: the repeated-sync shuffle optimization.

Same MERGE-emulation semantics as
:class:`~wwwision_importservice_spark.sinks.parquet.ParquetTarget`, but
state persists as a **bucketed + sorted table** (``bucketBy(n, id)``),
so every subsequent sync's diff join reads the target side already
hash-distributed on the join key: the full-outer join plans with NO
exchange under the target scan — only the (usually much smaller or
already-keyed) source side shuffles. At a 100 TB target this removes
the dominant per-run cost; it is the file-based analogue of the
reference reading its SQL table through an indexed key
(``Classes/DataTarget/Dbal/DbalTarget.php:118-128``).

Snapshot swap: Spark cannot overwrite a bucketed table it is reading,
so each apply writes a NEW generation directory ``<path>.g<N>``,
repoints the catalog table at it, and then deletes the older
generations. Bucket metadata lives in the catalog, so this target does
not use ``fsutil.replace_dir``; its commit point is the generation's
``_SUCCESS`` marker, and the deletes after it are best-effort.

Durability: COMMITTED generation directories (those carrying Spark's
``_SUCCESS`` job-commit marker) are the source of truth; the catalog
entry is a cache. With the default in-memory catalog a new session
starts with no table registered, so ``read()`` re-registers the newest
committed generation (with its bucket spec) before serving. The crash
windows, each pinned by a test (tests/test_sources_sinks.py):

- mid-staging-write: the new generation directory exists WITHOUT
  ``_SUCCESS`` — recovery ignores it and serves the previous committed
  generation; the next sync's numbering skips past the partial dir and
  its cleanup removes it.
- between the staging write and the DROP: catalog still points at the
  old generation (old complete state); a fresh session recovers the
  newest committed generation (new complete state). Either way a
  complete state, never a mix.
- between DROP and RENAME: no serving table in this session, but
  re-registration recovers the newest committed generation.

The repoint is two catalog statements, not one atomic swap, so a
concurrent *catalog* reader mid-swap can observe a missing table —
single-writer, generation-per-sync is the intended deployment (one
sync pipeline owns the table; analytical readers go through a new
session or retry). What a reader can NEVER observe is a half-written
data state: serving always binds to one ``_SUCCESS``-committed
directory.
"""

from __future__ import annotations

import logging
import os
import re

from pyspark.sql import DataFrame, SparkSession

from wwwision_importservice_spark import fsutil
from wwwision_importservice_spark.plans.result import Result
from wwwision_importservice_spark.plans.schema import OptionsSchema
from wwwision_importservice_spark.sinks.parquet import ParquetTarget

log = logging.getLogger(__name__)


class BucketedParquetTarget(ParquetTarget):
    def __init__(
        self,
        path: str,
        table_name: str,
        n_buckets: int = 32,
        id_column: str = "id",
        version_column: str | None = "version",
        hidden_column: str | None = None,
        soft_delete: bool = False,
        id_prefix: str | None = None,
    ) -> None:
        super().__init__(
            path,
            id_column=id_column,
            version_column=version_column,
            hidden_column=hidden_column,
            soft_delete=soft_delete,
            id_prefix=id_prefix,
        )
        self.table_name = table_name
        self.n_buckets = n_buckets

    @classmethod
    def options_schema(cls) -> OptionsSchema:
        return (
            OptionsSchema.create()
            .requires("path", "string")
            .requires("table_name", "string")
            .has("n_buckets", "integer")
            .has("id_column", "string")
            .has("version_column", "string")
            .has("hidden_column", "string")
            .has("soft_delete", "boolean")
            .has("id_prefix", "string")
        )

    # ------------------------------------------------------------------ #
    def _generations(self) -> list[str]:
        parent, base = os.path.split(self.path.rstrip("/"))
        parent = parent or "."
        pat = re.compile(re.escape(base) + r"\.g(\d+)$")
        found = [
            (int(m.group(1)), f"{parent}/{d}")
            for d in fsutil.list_child_dirs(SparkSession.active(), parent)
            if (m := pat.match(d))
        ]
        return [p for _, p in sorted(found)]

    @staticmethod
    def _drop_generations(spark: SparkSession, gens: list[str]) -> None:
        # best-effort: the apply already committed, so a failed delete
        # only leaves a directory for the next apply's cleanup
        for g in gens:
            try:
                fsutil.delete_dir(spark, g)
            except Exception:
                log.warning("generation %s not deleted", g, exc_info=True)

    def _committed_generations(self) -> list[str]:
        """Generations whose write COMMITTED (Spark's _SUCCESS marker) —
        the only directories recovery may serve. A crash mid-write
        leaves a marker-less directory that must never be read.

        Fallback: if NO generation carries a marker but generations
        exist, the deployment has disabled success markers
        (``mapreduce.fileoutputcommitter.marksuccessfuljobs=false``, a
        common object-store setting) — serve all generations with a
        logged warning rather than silently treating a populated target
        as empty (which would turn the next sync into a full re-add).
        Mid-write crash detection is unavailable in that configuration."""
        gens = self._generations()
        spark = SparkSession.active()
        committed = [
            g for g in gens if fsutil.path_exists(spark, f"{g}/_SUCCESS")
        ]
        if gens and not committed:
            log.warning(
                "BucketedParquetTarget %s: %d generation(s) but none "
                "carries a _SUCCESS marker — success markers appear "
                "disabled; serving the newest generation without "
                "mid-write crash protection",
                self.path, len(gens),
            )
            return gens
        return committed

    def exists(self) -> bool:
        return bool(self._committed_generations())

    def read(self, spark: SparkSession) -> DataFrame | None:
        if not spark.catalog.tableExists(self.table_name):
            if not self._committed_generations():
                return None
            # generations persist on disk but the (in-memory) catalog
            # lost the entry — a new session, or a crash between the
            # DROP and RENAME of the swap. Re-register the newest
            # generation with its bucket spec so the diff join still
            # reads the target pre-distributed on the key.
            self._register_newest(spark)
        return spark.table(self.table_name)

    def _register_newest(self, spark: SparkSession) -> None:
        newest = self._committed_generations()[-1]
        schema = spark.read.parquet(newest).schema
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        # a leftover __staging entry can only be stale metadata here
        spark.sql(f"DROP TABLE IF EXISTS {self.table_name}__staging")
        spark.sql(
            f"CREATE TABLE {self.table_name} ({cols}) USING PARQUET "
            f"CLUSTERED BY ({self.id_column}) "
            f"SORTED BY ({self.id_column}) INTO {self.n_buckets} BUCKETS "
            f"LOCATION '{newest}'"
        )

    # ------------------------------------------------------------------ #
    def _write_snapshot(self, df: DataFrame) -> None:
        spark = df.sparkSession
        gens = self._generations()
        nxt = (
            int(gens[-1].rsplit(".g", 1)[1]) + 1 if gens else 0
        )
        new_path = f"{self.path.rstrip('/')}.g{nxt}"
        staging = f"{self.table_name}__staging"
        spark.sql(f"DROP TABLE IF EXISTS {staging}")
        (
            df.write.bucketBy(self.n_buckets, self.id_column)
            .sortBy(self.id_column)
            .option("path", new_path)
            .saveAsTable(staging)
        )
        # repoint the serving name: drop (metadata only — external table)
        # and rename staging into place, then clear older generations
        spark.sql(f"DROP TABLE IF EXISTS {self.table_name}")
        spark.sql(f"ALTER TABLE {staging} RENAME TO {self.table_name}")
        self._drop_generations(spark, gens)

    def remove_all(self, spark: SparkSession) -> int:
        existing = self.read(spark)
        count = existing.count() if existing is not None else 0
        spark.sql(f"DROP TABLE IF EXISTS {self.table_name}")
        spark.sql(f"DROP TABLE IF EXISTS {self.table_name}__staging")
        self._drop_generations(spark, self._generations())
        return count

    def compact(
        self, spark: SparkSession, target_file_bytes: int = 128 * 1024 * 1024
    ) -> int:
        """Bucketed compaction: rewrite the current generation with the
        data pre-partitioned to exactly one task per bucket, collapsing
        the one-file-per-(writer-task, bucket) fragments a bucketed
        save produces into one file per bucket. The bucket spec (and so
        the zero-target-side-exchange diff plan) is preserved — the
        parquet-target byte-budget heuristic doesn't apply because the
        file count is fixed by ``n_buckets``. Returns the file count of
        the new generation.

        (Overrides ParquetTarget.compact, which scans ``self.path`` —
        bucketed state lives in generation directories instead.)
        """
        from pyspark.sql import functions as F

        existing = self.read(spark)
        if existing is None:
            return 0
        # repartition on the COMPUTED bucket id (pmod(hash(col), n)), not
        # the column: task assignment then can't split a bucket across
        # tasks (all rows of a bucket share the key), so the bucketed
        # write emits exactly one file per bucket regardless of how the
        # writer hashes tasks.
        bucket_id = F.expr(
            f"pmod(hash({self.id_column}), {self.n_buckets})"
        )
        self._write_snapshot(
            existing.repartition(self.n_buckets, bucket_id)
        )
        return len(fsutil.list_data_files(spark, self._generations()[-1]))

    def setup(self, spark: SparkSession) -> Result:
        result = Result()
        parent = os.path.dirname(self.path.rstrip("/")) or "."
        if not fsutil.path_exists(spark, parent):
            result.add_error(f'Parent directory "{parent}" does not exist')
        elif spark.catalog.tableExists(self.table_name):
            result.add_notice(
                f'Bucketed table "{self.table_name}" exists '
                f"({len(self._generations())} generation(s))"
            )
        else:
            result.add_notice(
                f'Bucketed table "{self.table_name}" will be created on first run'
            )
        return result
