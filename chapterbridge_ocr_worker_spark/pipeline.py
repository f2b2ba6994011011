"""The flagship batch job: interleaved documents -> OCR'd documents.

One declarative DataFrame job replacing the reference's poll/claim/process
daemon (workers/ocr/main.py:220-255). Stages (SURVEY.md §3.1):

    documents ──anti-join lineage──> pending (persisted)
    pending ──explode spans──> span rows
        ├─ kind='text'  ──────────────────────────┐
        └─ kind='media' ─join media blobs─ repartition(xxhash64(doc_id,offset))
                          ─mapInPandas OCR (persisted)
    text ∪ OCR'd ──groupBy doc_id, array_sort(collect_list), max(failed)──> output
    commit (write_run, one tables.append_snapshots call): the five
        snapshot writes are staged concurrently, then published in this
        order: ocr_output (output where not failed) -> failures (OCR error
        rows) -> checkpoint (per-partition metrics) -> ocr_json (committed
        docs' pages) -> lineage (the resume marker, last)
    each snapshot is one byte-sized write (one file per snapshot at these
    sizes); the run's docs/failed_docs counts are observed on the
    ocr_output write, not counted by a separate action

Plan properties to preserve at 100 TB (verify with .explain("formatted")):
- the media-blob join is a plain shuffled hash join on media_ref (both sides
  big); if the media table is bucketed by media_ref the shuffle disappears;
- filters on span.kind reach the scan via generator pushdown after explode;
- only ONE wide shuffle carries image bytes (the explicit repartition before
  the UDF); the reassembly groupBy shuffles text-only rows;
- AQE handles post-UDF partition coalescing and skew-join splitting.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators.metrics import checkpoint_rows
from .operators.ocr_udf import ocr_media_spans
from .operators.output_doc import build_output_documents, serialize_output_documents
from .operators.reassemble import explode_spans, reassemble, split_media_text
from .operators.resume import build_lineage, pending_documents, split_failures
from .operators.skew import repartition_spans
from .sources import tables


@dataclass
class PipelineResult:
    # every pending doc as (doc_id, spans, failed); failed docs keep their
    # dead-lettered media spans with text=null
    output: DataFrame
    # one OCR_RESULT row per media span, ok and failed
    ocr_all: DataFrame


def run_extraction(
    spark: SparkSession,
    documents: DataFrame,
    media: DataFrame,
    lineage: DataFrame | None = None,
    num_partitions: int | None = None,
) -> PipelineResult:
    """Build (lazily) the full extraction DAG. Caller materializes via
    write_run / collect. ``lineage`` (previous runs' done docs) enables
    resume.

    Span work units are hash-spread (xxhash64(doc_id, offset)) to
    num_partitions before the OCR UDF, because AQE sizes post-shuffle
    partitions by BYTES (64 MB advisory) while the OCR UDF is
    COMPUTE-bound: on a corpus of small images AQE would coalesce the
    media-join output to a handful of partitions and strangle the UDF
    (measured 42 s -> 18 s at local[32] with a calibrated compute-bound
    stub when the repartition pins the partition count)."""
    # 4 tasks per slot: per-image cost varies 10-20x (NO_TILE page vs a
    # 30k-px webtoon), so 1 task/slot lets one slow partition gate the whole
    # stage (measured 2.3x run-to-run variance at local[32]); finer tasks
    # let the scheduler rebalance.
    n = num_partitions or spark.sparkContext.defaultParallelism * 4
    spans = explode_spans(pending_documents(documents, lineage))
    media_spans, text_spans = split_media_text(spans)

    # join span -> blob bytes on media_ref. Media side carries the bytes, so
    # it is the big side; span side is narrow. Equi-join; at scale bucket
    # both by media_ref to make it shuffle-free (sources/tables.py note).
    with_bytes = media_spans.select("doc_id", "offset", "media_ref").join(
        media.select("media_ref", "content"), "media_ref", "left"
    )
    ocr_results = ocr_media_spans(repartition_spans(with_bytes, n))

    # ALL media spans (failed ones keep text=null) re-enter the document so
    # the span sequence stays complete; failures additionally dead-letter.
    assembled = reassemble(
        text_spans, ocr_results.select("doc_id", "offset", "media_ref", "text", "error")
    )
    return PipelineResult(output=assembled, ocr_all=ocr_results)


def write_run(
    spark: SparkSession,
    documents: DataFrame,
    media: DataFrame,
    warehouse: str,
    num_partitions: int | None = None,
    force: bool = False,
) -> dict:
    """Materialize one (resumable) run into the warehouse directory — the
    one commit path, shared by the batch job and the streaming foreachBatch.

    Reads existing lineage for the resume anti-join, computes the pending
    docs and the OCR results once each (persisted), and derives every
    table from them. Only fully-successful docs are committed:
    output-exists <=> lineage-row, exactly the reference's skip rule
    (main.py:107-120 skips iff the output object exists; failed jobs stay
    retryable, main.py:236-242). Docs with >= 1 dead-lettered span are
    retried by the next run's anti-join. Returns run stats.

    Commit order: the five tables are written concurrently into
    invisible in-flight snapshots (tables.append_snapshots), and only once
    every write succeeded are their manifests published, in this order:
    ocr_output -> failures -> checkpoint -> ocr_json -> lineage. Lineage is
    the resume marker, so it goes last (the reference uploads the JSON
    before it records the job done, main.py:191-216). A failure while
    writing publishes nothing. A crash between publishes, before lineage,
    leaves this run's docs pending; the rerun appends them again, and the
    duplicates are absorbed by latest-wins reads:
    read_table_latest(..., "ocr_output", keys=["doc_id"]) and
    read_table_latest(..., "ocr_json", keys=["doc_id", "offset"]).
    failures and checkpoint are per-attempt logs (one snapshot per
    attempt). A crash after the lineage publish loses nothing.

    force=True skips the lineage anti-join and reprocesses everything —
    the reference's `--force` reprocess flag (enqueue.py / main.py:107:
    "if not force: skip when output exists"). Reprocessed doc_ids then
    exist in MULTIPLE snapshots of every table, lineage included: plain
    tables.read_table surfaces the duplicates (union semantics); readers
    that want latest-wins use the keyed reads above, and compaction of
    such a table must pass the same keys (tables.compact_table(...,
    keys=["doc_id"]) resolves the per-key winners during the rewrite; a
    plain compact merges the snapshots and forfeits latest-wins, which
    read_table_latest then refuses).
    """
    prior = None if force else tables.read_table(spark, warehouse, "lineage")
    pending = pending_documents(documents, prior)
    # With no lineage, pending IS the caller's documents DataFrame, whose
    # cache this function must not own (unpersist would drop the caller's).
    cached = [] if prior is None else [pending.persist()]
    try:
        res = run_extraction(spark, pending, media, num_partitions=num_partitions)
        # persisted in this order, so output reads the OCR rows and the
        # pending docs from their caches: no second OCR pass or anti-join
        ocr, output = res.ocr_all.persist(), res.output.persist()
        cached += [ocr, output]

        t0 = time.time()
        ocr.count()  # materialize the OCR work under the timer
        wall = time.time() - t0

        ok, failures = split_failures(ocr)
        completed = output.filter(~F.col("failed")).drop("failed")

        def pages():
            # per-page reference-shaped JSON output docs (F13), the upload
            # payload the reference puts to R2 per job, for committed docs
            # only: pages with no match in the (small) failed-id set
            failed_ids = output.filter("failed").select("doc_id", "failed")
            joined = ok.join(failed_ids, "doc_id", "left")
            return serialize_output_documents(
                build_output_documents(joined.filter(F.col("failed").isNull()))
            )

        # the run's doc counts are observed on the ocr_output write, which
        # reads every pending doc (failed ones before the filter drops them)
        counts = Observation()
        tables.append_snapshots(spark, warehouse, [
            ("ocr_output", lambda: output.observe(
                counts,
                F.count_if(~F.col("failed")).alias("docs"),
                F.count_if("failed").alias("failed_docs"),
            ).filter(~F.col("failed")).drop("failed")),
            ("failures", failures),
            ("checkpoint", lambda: checkpoint_rows(ok, wall)),
            ("ocr_json", pages),
            ("lineage", lambda: build_lineage(completed)),
        ])
    finally:
        for df in cached:
            df.unpersist()
    return {**counts.get, "wall_seconds": wall}
