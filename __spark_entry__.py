"""Driver contract for the spark-graft builder (PySpark target).

entry(spark): flagship rollup over the sf0.001 documents table.
queries()/oracle_sql(): SURVEY.md §2 operator keys (mxsparkg.contract) plus
training-data ops (mxsparkg.datapipe). Keys without an oracle entry are
non-SQL-expressible (pipeline/minhash/simhash/ANN internals) → rows-only.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mxsparkg.contract import contract_oracle_sql, contract_queries  # noqa: E402
from mxsparkg.datapipe import datapipe_oracle_sql, datapipe_queries  # noqa: E402
from mxsparkg.geo import geo_oracle_sql, geo_queries  # noqa: E402
from mxsparkg.graphquery import (  # noqa: E402
    graphquery_oracle_sql,
    graphquery_queries,
)
from mxsparkg.kgembed import kgembed_oracle_sql, kgembed_queries  # noqa: E402
from mxsparkg.kgexport import kgexport_oracle_sql, kgexport_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: corpus quality rollup per (lang, source) on sf0.001."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    words = F.split(F.col("text"), " ")
    enriched = d.select(
        "lang",
        "source",
        "n_chars",
        F.size(words).alias("n_tokens"),
        (F.col("n_chars") / F.greatest(F.size(words), F.lit(1))).alias("avg_wlen"),
        F.md5(F.col("text").cast("binary")).alias("fp"),
    )
    return enriched.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_tokens"), 2).alias("avg_tokens"),
        F.round(F.avg("avg_wlen"), 4).alias("avg_word_len"),
        F.countDistinct("fp").alias("n_unique"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable] = {}
    out.update(contract_queries())
    out.update(datapipe_queries())
    out.update(graphquery_queries())
    out.update(kgexport_queries())
    out.update(kgembed_queries())
    out.update(geo_queries())
    return out


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    out.update(contract_oracle_sql())
    out.update(datapipe_oracle_sql())
    out.update(graphquery_oracle_sql())
    out.update(kgexport_oracle_sql())
    out.update(kgembed_oracle_sql())
    out.update(geo_oracle_sql())
    return out
