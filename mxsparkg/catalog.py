"""Table IO + checkpoint/resume layer (SURVEY.md §2.1 S1/S4/S5).

The production target is Iceberg (north_rule); this sandbox ships no Iceberg
runtime jar (SURVEY.md §0 [ENV]), so the layer is format-abstract:
`format="iceberg"` uses DataFrameWriterV2 `writeTo` when the jar is on the
cluster classpath; the parquet fallback writes a directory and is what all
tests/bench use. `read_table`/`write_table` carry the format for the
pipeline's input and output tables; pipeline code never hardcodes one.

Checkpoint contract (north_rule: resumable stages): a stage is complete iff
its manifest exists; `Checkpointer.run_stage` overwrites the stage's
parquet directory, then writes the manifest — the manifest write is the
atomic commit point, so a killed job re-runs an incomplete stage from its
inputs (idempotent overwrite). Checkpoints are always parquet.

Committed stages are re-read with a known schema (the written frame's
after the write, the manifest's `schema` on resume), never by inferring
it from parquet footers, which would cost a Spark job per read.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_table(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(path)
    return spark.read.parquet(path)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
    compression: str | None = None,
) -> None:
    if fmt == "iceberg":
        w = df.writeTo(path)
        if partition_cols:
            from pyspark.sql import functions as F

            w = w.partitionedBy(*[F.col(c) for c in partition_cols])
        w.createOrReplace()
        return
    writer = df.write.mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def compact_table(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 << 20,
    compression: str = "zstd",
) -> dict:
    """Small-file compaction — the table-maintenance op every streaming
    sink and incremental-append table needs (each micro-batch/delta
    writes its own files; thousands of tiny files turn every later scan
    into an open()-bound crawl and blow the driver's file-listing
    memory at 10^12-row scale). Rewrites the directory into
    ceil(bytes/target) files via a ROUND-ROBIN repartition (no shuffle
    key — pure rebalance, every output file the same size regardless of
    data skew), then commits by atomic directory swap: readers see the
    old layout or the new one, never a mix; the pre-swap directory is
    left beside the table as `<path>.pre-compact` until the caller
    drops it (the crash-safety window).

    Returns {files_before, files_after, bytes}. On Iceberg the same op
    is rewrite_data_files; this is the path-table form."""
    files = [
        f for f in os.listdir(path)
        if f.endswith(".parquet") or f.startswith("part-")
    ]
    total = sum(os.path.getsize(os.path.join(path, f)) for f in files)
    n_out = max(1, -(-total // target_bytes))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + ".compact-tmp"
    (
        df.repartition(int(n_out))
        .write.mode("overwrite")
        .option("compression", compression)
        .parquet(tmp)
    )
    pre = path.rstrip("/") + ".pre-compact"
    if os.path.exists(pre):
        import shutil

        shutil.rmtree(pre)
    os.replace(path, pre)
    os.replace(tmp, path)
    after = len([
        f for f in os.listdir(path)
        if f.endswith(".parquet") or f.startswith("part-")
    ])
    return {
        "files_before": len(files),
        "files_after": after,
        "bytes": total,
    }


class Checkpointer:
    """Stage-boundary persistence with resume detection. Parquet only:
    `append` writes raw parquet files into the stage directory, which
    would corrupt a table format that tracks its own files."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _manifest(self, stage: str) -> str:
        return os.path.join(self.root, f"{stage}._manifest.json")

    def _commit(self, stage: str, manifest: dict) -> None:
        tmp = self._manifest(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest(stage))

    def is_done(self, stage: str) -> bool:
        return os.path.exists(self._manifest(stage))

    def manifest(self, stage: str) -> dict:
        """The committed stage's record: rows, schema, wall_ms (and
        `appends` after a delta append)."""
        with open(self._manifest(stage)) as f:
            return json.load(f)

    def _read(self, stage: str, schema: StructType) -> DataFrame:
        # a given schema skips parquet's footer-inference job; Spark reads
        # it back nullable, as the footer inference would
        return self.spark.read.schema(schema).parquet(self._dir(stage))

    def read(self, stage: str) -> DataFrame:
        """The committed stage, read with its manifest's schema (no job)."""
        return self._read(
            stage, StructType.fromJson(self.manifest(stage)["schema"]))

    def run_stage(self, stage: str, fn, *inputs: DataFrame) -> DataFrame:
        """Resume-aware stage execution: read back when already done,
        otherwise build the plan, write it, and commit the manifest.
        Returns the re-read DataFrame (truncates lineage — the Spark-batch
        analogue of a streaming checkpoint). The manifest's wall_ms covers
        the plan build and the write; the row count rides on the write job
        via the Observation API — no separate count scan per stage — and
        the re-read takes the written frame's schema, so the write is the
        stage's only Spark job."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        if self.is_done(stage):
            return self.read(stage)
        t0 = time.time()
        obs = Observation()
        df = fn(*inputs)
        # zstd: checkpoints are write-once read-few; smaller files beat
        # snappy's decode speed when the bottleneck is storage bandwidth
        write_table(
            df.observe(obs, F.count(F.lit(1)).alias("rows")),
            self._dir(stage),
            compression="zstd",
        )
        out = self._read(stage, df.schema)
        self._commit(stage, {
            "stage": stage,
            "rows": obs.get["rows"],
            "schema": out.schema.jsonValue(),
            "wall_ms": (time.time() - t0) * 1000.0,
        })
        return out

    def append(self, df: DataFrame, stage: str) -> int:
        """Delta-ingest append into a completed stage: the write job commits
        atomically (files appear only on job commit), then the manifest row
        count is bumped. Returns rows appended. Idempotent under kill:
        un-committed appends leave no files, and the caller's anti-join
        derives the delta from the data actually present, not the manifest."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        write_table(
            df.observe(obs, F.count(F.lit(1)).alias("rows")),
            self._dir(stage),
            mode="append",
            compression="zstd",
        )
        n_new = obs.get["rows"]
        manifest = self.manifest(stage)
        manifest["rows"] += n_new
        manifest["appends"] = manifest.get("appends", 0) + 1
        self._commit(stage, manifest)
        return n_new

    def invalidate(self, *stages: str) -> None:
        """Drop manifests so downstream stages recompute (used after a
        delta append upstream)."""
        for stage in stages:
            try:
                os.remove(self._manifest(stage))
            except FileNotFoundError:
                pass


def read_evolved(
    spark: SparkSession, path: str, schema_ddl: str | None = None
) -> DataFrame:
    """Schema-evolution read — the ingest reality a long-lived crawl
    table lives with: shards written months apart carry different
    column sets (a `lang` column added in epoch 2, `quality` in epoch
    3). `mergeSchema` makes the parquet footer union the read schema,
    so old shards surface the new columns as NULL instead of failing
    the scan or silently dropping them (plain parquet reads take ONE
    footer's schema — whichever file lists first — and epoch-1 readers
    would never see epoch-2 columns).

    Pass `schema_ddl` to PIN the contract schema instead: absent
    columns still come back NULL, but renamed/retyped columns fail
    loudly at analysis instead of fanning garbage downstream — the
    posture a production pipeline wants once the schema is governed
    (Iceberg does this with real column-id evolution; mergeSchema is
    the parquet-directory equivalent, documented trade: a full-footer
    listing per read, so pin the schema on 10^6-file tables)."""
    r = spark.read.option("mergeSchema", "true")
    if schema_ddl is not None:
        from pyspark.sql.types import StructType

        pinned = StructType.fromDDL(schema_ddl)
        return spark.read.schema(pinned).parquet(path)
    return r.parquet(path)
