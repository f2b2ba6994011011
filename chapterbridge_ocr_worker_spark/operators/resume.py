"""Idempotency / resume / dead-letter — the queue protocol, relationalized.

The reference guarantees at-least-once work with an atomic queued->running
compare-and-set claim (supabase_client.py:27-39,62-74), skips already-done
work by checking the output key before OCR (main.py:107-120;
enqueue.py:73-87), and records failures without killing the daemon
(main.py:236-255). In Spark those become:

- resume     = documents LEFT ANTI JOIN lineage (done docs) — rerunning the
  job processes only the remainder; the CAS protocol is replaced by Spark's
  deterministic task->partition ownership + idempotent commits.
- dead-letter = filter rows with non-null ``error`` into the failures table.
- lineage    = one row per completed doc with sha256 + byte size of its
  serialized output (the `assets` insert, supabase_client.py:180-203).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.keys import output_key


def pending_documents(docs: DataFrame, lineage: DataFrame | None) -> DataFrame:
    """Docs not yet recorded done. Anti-join on doc_id (J4/J5 in SURVEY §2.4).

    lineage is tiny relative to docs in an interrupted run? No — it can be
    almost as large. The anti-join shuffles both sides on doc_id, which is
    also the downstream grouping key, so the exchange is reused.
    """
    if lineage is None:
        return docs
    done = lineage.select("doc_id").distinct()
    return docs.join(done, "doc_id", "left_anti")


def pending_slice(
    slice_df: DataFrame, marker: DataFrame | None, key: str
) -> tuple[DataFrame, dict]:
    """The weekly jobs' resume step (protocol in sources/tables.py): the
    rows of ``slice_df`` whose ``key`` is not an ``id`` of the ``marker``
    table, plus ONE aggregate over the slice joined to the marker ids:
    ``{n_in, n_skipped, lo, hi}`` with lo/hi the min/max pending key
    (None when nothing is pending). Marker ids are unique: each is appended
    once, by the run that commits it."""
    if marker is None:
        pending, flagged = slice_df, slice_df.withColumn("_done", F.lit(False))
    else:
        ids = marker.select(F.col("id").alias(key))
        pending = slice_df.join(ids, key, "left_anti")
        flagged = slice_df.join(
            ids.withColumn("_done", F.lit(True)), key, "left"
        ).fillna(False, ["_done"])
    todo = F.when(~F.col("_done"), F.col(key))
    row = flagged.agg(
        F.count(F.lit(1)).alias("n_in"),
        F.count_if("_done").alias("n_skipped"),
        F.min(todo).alias("lo"),
        F.max(todo).alias("hi"),
    ).first()
    return pending, row.asDict()


def split_failures(ocr_results: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(ok_rows, failure_rows). failure_rows matches schemas.FAILURES."""
    ok = ocr_results.filter(F.col("error").isNull())
    failures = ocr_results.filter(F.col("error").isNotNull()).select(
        "doc_id",
        "media_ref",
        "error",
        F.current_timestamp().alias("ts"),
    )
    return ok, failures


def build_lineage(completed: DataFrame) -> DataFrame:
    """Lineage rows for completed docs: output_ref derived from the first
    media span's key (fallback: doc_id — the unknown/unknown path,
    key_parser.py:53-60), sha256 + byte size of the serialized span JSON
    (utils.py:25-27 sha256; main.py:186-203).

    ``completed`` must hold only fully-successful docs: a doc with >= 1
    failed span stays out of lineage, so the resume anti-join retries it on
    the next run — the reference marks failed jobs retryable
    (set_job_failed, main.py:236-242) and only skips work whose output
    already exists (main.py:107-120)."""
    serialized = F.to_json(F.col("spans"))
    # F.get (not [0]) — null, not error, for docs with no media spans
    first_media = F.get(F.filter("spans", lambda s: s["kind"] == F.lit("media")), 0)
    return completed.select(
        "doc_id",
        output_key(first_media["media_ref"], F.col("doc_id")).alias("output_ref"),
        F.length(serialized).cast("long").alias("byte_size"),
        F.sha2(serialized, 256).alias("sha256"),
        F.current_timestamp().alias("created_at"),
    )
