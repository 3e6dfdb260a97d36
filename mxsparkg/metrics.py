"""U8/S6 — per-file lineage + metrics rows (north_rule requirement).

Each committed stage gets one metrics row per output file: partition_id
is the file's `part-NNNNN` number, rows_out the row count in its parquet
footer, input_files the files the stage read (the caller passes them,
from `DataFrame.inputFiles()` on the stage's inputs) and wall_ms the
stage's wall from its manifest.

Producing the rows launches no Spark job: `inputFiles()` returns the file
listing the driver already holds, the footers are read with pyarrow, and
pyarrow writes the rows on the driver. Each call commits its own uniquely
named file into <checkpoint_root>/_metrics (hidden temp name, then an
atomic rename), so concurrent stages never share a file and a reader never
sees a partial one.
"""

from __future__ import annotations

import os
import re
import time
import uuid
from collections.abc import Iterable

import pyarrow as pa
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

METRICS_SCHEMA = (
    "stage string, partition_id int, rows_out bigint, "
    "input_files array<string>, wall_ms double, ts double"
)

_PART = re.compile(r"part-(\d+)")


def _footer_rows(uri: str) -> int:
    fs, path = pafs.FileSystem.from_uri(uri)
    return pq.read_metadata(path, filesystem=fs).num_rows


def append_metrics(spark: SparkSession, root: str, df: DataFrame,
                   stage: str, wall_ms: float, *,
                   input_files: Iterable[str] = ()) -> None:
    """One row per output file of the committed stage read back as `df`."""
    inputs = sorted(input_files)
    ts = time.time()
    rows = [
        {
            "stage": stage,
            "partition_id": int(_PART.search(os.path.basename(f)).group(1)),
            "rows_out": _footer_rows(f),
            "input_files": inputs,
            "wall_ms": float(wall_ms),
            "ts": ts,
        }
        for f in sorted(df.inputFiles())
    ]
    schema = to_arrow_schema(StructType.fromDDL(METRICS_SCHEMA))
    out = os.path.join(root, "_metrics")
    os.makedirs(out, exist_ok=True)
    name = f"{stage}-{uuid.uuid4().hex}.parquet"
    # a leading dot hides the temp file from Spark's readers
    tmp = os.path.join(out, f".{name}.tmp")
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp)
    os.replace(tmp, os.path.join(out, name))


def read_metrics(spark: SparkSession, root: str) -> DataFrame:
    return spark.read.parquet(os.path.join(root, "_metrics"))
