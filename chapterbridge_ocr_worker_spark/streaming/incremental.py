"""Incremental (streaming) variant of the extraction pipeline.

The reference is a micro-poll daemon (sleep POLL_SECONDS, claim one job,
process — workers/ocr/main.py:232-255). SURVEY.md §2.9 maps that to two
Spark modes:

1. batch-with-resume (pipeline.py — the default): the pending set is an
   anti-join; rerun to resume.
2. this module: Structured Streaming over the documents table with
   ``trigger(availableNow=True)`` — Spark's own checkpointing tracks which
   files/snapshots were processed, giving the daemon's incremental
   semantics (new docs picked up per trigger) without a queue. Each
   micro-batch is committed by the batch path's own commit function,
   pipeline.write_run, so both modes write the same tables in the same
   order with the same crash semantics.

At production scale the source would be an Iceberg table stream
(spark.readStream.format("iceberg")); here it is the parquet directory
source, same mechanics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..pipeline import write_run
from ..schemas import DOCUMENTS
from ..sources import tables


def run_incremental(
    spark: SparkSession,
    docs_dir: str,
    media: DataFrame,
    warehouse: str,
    checkpoint_dir: str,
    num_partitions: int | None = None,
) -> int:
    """Process any not-yet-seen document files, then stop (availableNow).
    Returns the number of distinct committed doc_ids (lineage is the
    commit record; ocr_output may hold a replayed epoch's rows twice).

    Re-invoking later picks up only new files — Spark's streaming
    checkpoint replaces the reference's job-queue claim protocol. A
    micro-batch that crashed mid-commit is replayed on the next trigger;
    write_run's lineage anti-join and its lineage-last commit order make
    the replay exactly-once under latest-wins reads (at-least-once ->
    effectively-once).
    """
    stream = spark.readStream.schema(DOCUMENTS).parquet(docs_dir)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        write_run(spark, batch_df, media, warehouse, num_partitions=num_partitions)

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    lineage = tables.read_table(spark, warehouse, "lineage")
    return 0 if lineage is None else lineage.select("doc_id").distinct().count()
