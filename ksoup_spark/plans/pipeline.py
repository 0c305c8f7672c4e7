"""Resumable extraction pipeline: per-partition checkpointing + metrics.

North-rule contract: the corpus is processed in deterministic logical
partitions (pmod(xxhash64(doc_id), P)); each completed partition appends a
metrics row (lineage: partition id, doc/span/byte counts, wall time,
run id). A rerun anti-joins the metrics table and processes only missing
partitions — a crashed 100 TB job resumes where it stopped.

Storage is parquet directories (an Iceberg catalog slots in by swapping
``format("parquet")`` for ``format("iceberg")``; the sandbox has no Iceberg
runtime). Output is partitioned by the checkpoint partition column so each
unit of work is an independent, atomic directory write.
"""

from __future__ import annotations

import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.extract import extract_spans_df

METRICS_SCHEMA = StructType(
    [
        StructField("part", LongType()),
        StructField("run_id", StringType()),
        StructField("n_docs", LongType()),
        StructField("n_spans", LongType()),
        StructField("n_text_chars", LongType()),
        StructField("n_media", LongType()),
        StructField("wall_sec", DoubleType()),
        StructField("completed_at", DoubleType()),
    ]
)


def with_part(docs: DataFrame, num_parts: int) -> DataFrame:
    """Deterministic logical partition id from the doc id (salted hash)."""
    return docs.withColumn(
        "part", F.pmod(F.xxhash64("doc_id"), F.lit(num_parts)).cast("long")
    )


def completed_parts(spark: SparkSession, metrics_path: str) -> DataFrame:
    """Parts that have a metrics row. Only a metrics path that does not exist
    yet reads as "nothing done". Any other failure to read the table raises,
    here or at the first action: the metrics table is the commit record, and
    reading a damaged or unreachable one as empty would rerun every part."""
    try:
        return spark.read.schema(METRICS_SCHEMA).parquet(metrics_path) \
            .select("part").distinct()
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return spark.createDataFrame([], "part long")


def run_extraction_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    out_path: str,
    metrics_path: str,
    num_parts: int = 16,
    parts_per_batch: int = 4,
) -> dict:
    """Extract spans for all not-yet-completed partitions; returns a summary.

    Each batch of partitions is one atomic unit: spans written (partitioned
    by `part`), then the metrics rows appended. Killing the job between
    batches loses at most the in-flight batch, which the next run redoes.

    Idempotence across mid-batch crashes: the spans write uses DYNAMIC
    partition overwrite — a redone partition REPLACES its own directory
    instead of appending next to the orphaned files a crashed run left
    behind (crash after the spans write but before the metrics append).
    The metrics append stays the commit record: a partition is "done" only
    once its metrics row exists, and rerunning a half-written partition is
    safe because the rewrite is a replace.
    """
    run_id = uuid.uuid4().hex[:12]
    docs = with_part(docs.select("doc_id", "spans"), num_parts)
    done = completed_parts(spark, metrics_path)
    todo_rows = (
        docs.select("part").distinct()
        .join(done, "part", "left_anti")
        .orderBy("part")
        .collect()
    )
    todo = [r["part"] for r in todo_rows]
    processed = []
    for i in range(0, len(todo), parts_per_batch):
        batch = todo[i : i + parts_per_batch]
        t0 = time.time()
        batch_docs = docs.filter(F.col("part").isin(batch))
        spans = extract_spans_df(batch_docs.select("doc_id", "spans"))
        spans = spans.withColumn(
            "part", F.pmod(F.xxhash64("doc_id"), F.lit(num_parts)).cast("long")
        )
        overwrite_key = "spark.sql.sources.partitionOverwriteMode"
        prev_mode = spark.conf.get(overwrite_key, "static")
        spark.conf.set(overwrite_key, "dynamic")
        try:
            spans.write.mode("overwrite").partitionBy("part").parquet(out_path)
        finally:
            spark.conf.set(overwrite_key, prev_mode)
        wall = time.time() - t0
        # metrics from the files just written, NOT from `spans`: re-using the
        # lazy `spans` plan here would re-execute the extraction kernel a
        # second time per batch (its most expensive stage). The parquet
        # read-back is partition-pruned to this batch's dirs and touches
        # only cheap columnar scans.
        written = spark.read.parquet(out_path).filter(F.col("part").isin(batch))
        stats = (
            # partition-dir inference types `part` as int32; cast so the
            # metrics files actually match METRICS_SCHEMA's long
            written.groupBy(F.col("part").cast("long").alias("part"))
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.size("spans")).alias("n_spans"),
                F.sum(
                    F.aggregate(
                        F.transform(
                            "spans",
                            lambda s: F.coalesce(F.length(s["text"]), F.lit(0)),
                        ),
                        F.lit(0).cast("long"),
                        lambda a, b: a + b,
                    )
                ).alias("n_text_chars"),
                F.sum(
                    F.size(F.filter("spans", lambda s: s["kind"] != "text"))
                ).alias("n_media"),
            )
            .withColumn("run_id", F.lit(run_id))
            .withColumn("wall_sec", F.lit(float(wall)))
            .withColumn("completed_at", F.lit(time.time()))
            .select([f.name for f in METRICS_SCHEMA.fields])
        )
        stats.write.mode("append").parquet(metrics_path)
        processed.extend(batch)
    return {
        "run_id": run_id,
        "num_parts": num_parts,
        "skipped_parts": num_parts - len(todo),
        "processed_parts": processed,
    }
