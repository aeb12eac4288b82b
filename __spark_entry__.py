"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 (and the
graft operators from §2.11 / the training-data suite); ``oracle_sql()`` gives
the DuckDB-equivalent SQL for each SQL-expressible one. The registry itself
lives in ``german_newspaper_crawler_spark/plans/queries.py`` so each Spark
implementation sits next to its oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the crawl-analog document
    pipeline — content-hash identity → exact dedup (anti-join form) →
    language-ID + quality scoring → per (source, lang) rollup."""
    from german_newspaper_crawler_spark.functions import hashing, text

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    hashed = docs.select(
        "doc_id",
        "source",
        "text",
        hashing.sha256_hex("text").alias("content_hash"),
    )
    # first-occurrence dedup on content identity (W2 + J1 semantics)
    from pyspark.sql import Window

    w = Window.partitionBy("content_hash").orderBy("doc_id")
    deduped = hashed.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    scored = deduped.select(
        "doc_id",
        "source",
        text.langid("text").alias("lang"),
        text.quality_score("text").alias("quality"),
        text.token_count_estimate("text").alias("ntok"),
    )
    return scored.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
        F.round(F.avg("ntok"), 2).alias("avg_tokens"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from german_newspaper_crawler_spark.plans.queries import REGISTRY

    return {name: spec.spark for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    from german_newspaper_crawler_spark.plans.queries import REGISTRY

    return {
        name: spec.oracle
        for name, spec in REGISTRY.items()
        if spec.oracle is not None
    }
