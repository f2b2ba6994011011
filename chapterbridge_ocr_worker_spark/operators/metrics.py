"""Per-partition checkpoint metrics (docs/s, chars/s, confidence histogram).

The reference logs per-stage wall times per job (main.py:122-218) and the
north star asks for chars/sec + confidence histograms persisted per
partition. Implemented relationally: one aggregation over the OCR results
grouped by the physical partition id captured *inside* the OCR stage's
output, plus wall-clock bounds per partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _conf_bucket(conf: Column) -> Column:
    """Histogram bucket of a line confidence: floor(conf*10), with 1.0 in
    the top bucket 9."""
    return F.least(F.floor(conf * 10), F.lit(9)).cast("int")


def checkpoint_rows(ocr_ok: DataFrame, wall_seconds: float) -> DataFrame:
    """One row per shuffle partition of the OCR stage, matching
    schemas.CHECKPOINT. docs_per_sec/chars_per_sec use the job wall clock
    scaled by the partition's share (exact per-partition timing lives in the
    Spark UI; this is the persisted operational record the reference kept in
    pipeline_jobs.output, main.py:208-216)."""
    per_part = (
        ocr_ok.withColumn("pid", F.spark_partition_id())
        .withColumn(
            "conf_bucket_counts",
            F.transform(F.col("lines"), lambda l: _conf_bucket(l["confidence"])),
        )
        .groupBy("pid")
        .agg(
            F.countDistinct("doc_id").alias("doc_count"),
            F.sum(F.length(F.coalesce(F.col("text"), F.lit("")))).alias("chars"),
            F.collect_list("conf_bucket_counts").alias("bucket_lists"),
        )
    )
    hist = F.transform(
        F.sequence(F.lit(0), F.lit(9)),
        lambda b: F.aggregate(
            F.flatten("bucket_lists"),
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.when(x == b, 1).otherwise(0).cast("long"),
        ),
    )
    w = max(wall_seconds, 1e-9)
    return per_part.select(
        F.col("pid").alias("partition_id"),
        F.col("doc_count").cast("long"),
        F.lit("success").alias("status"),
        (F.current_timestamp() - F.expr(f"INTERVAL {int(wall_seconds)} SECONDS")).alias(
            "started_at"
        ),
        F.current_timestamp().alias("finished_at"),
        F.struct(
            (F.col("doc_count") / F.lit(w)).alias("docs_per_sec"),
            (F.col("chars") / F.lit(w)).alias("chars_per_sec"),
            hist.alias("conf_hist"),
        ).alias("metrics"),
    )
