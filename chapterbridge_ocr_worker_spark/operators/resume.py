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
- weekly_run = the weekly jobs' version: resume on a marker table, roll
  back a crashed attempt, one commit with the marker last, compaction.
"""

from __future__ import annotations

import collections
import functools
from typing import NamedTuple

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


class Commit(NamedTuple):
    """What a weekly job's judge step hands weekly_run to commit."""

    appends: list  # (table, df[, stats_cols]): state snapshots, in publish order
    marker: DataFrame  # the marker snapshot: the slice's ids as ``id``
    outputs: dict  # {name: df}: the run's ``--out`` files


class WeeklyRun(NamedTuple):
    """The protocol's part of a weekly job's stats line."""

    mode: str  # "bootstrap", "incremental" or "resume-noop"
    skipped: int  # slice rows an earlier run committed
    counts: dict  # the judge's counts; every name reads 0 on a resume-noop
    corpus: int  # marker rows after the run
    compacted: dict  # {table: snapshots_before} of the tables compacted
    rolled_back: dict  # {table: snapshots dropped} of a crashed attempt


def weekly_run(
    spark,
    state: str,
    out: str,
    slice_df: DataFrame,
    key: str,
    marker: str,
    rollback: dict,
    judge,
    compact: dict,
    compact_after: int,
) -> WeeklyRun:
    """One run of a weekly job (jobs/{dedup,exactdedup,spandedup,
    embdedup}_job.py) over ``slice_df`` against its ``state`` directory —
    the reference's skip-done-work, upload, insert-asset, mark-done
    sequence (main.py:107-120, 191-216) as one protocol:

    1. resume: anti-join the slice on ``key`` against the ``id`` column of
       the ``marker`` table, the table published LAST, so a committed id
       is never judged twice. A fully committed slice is a resume-noop:
       nothing is written and the stats carry the corpus size.
    2. rollback: tables.rollback_uncommitted drops from the manifest every
       snapshot a crashed attempt at this slice published to the
       ``rollback`` tables (``{table: id column}``), so the judge reads
       prior state plainly and every state table holds each row once.
       Every state table other than the marker needs an id column for
       this.
    3. judge: ``judge(pending, prior, count)`` gets the pending rows, the
       marker table as committed (None on the bootstrap run, which judges
       against an empty prior) and ``count(df, name=aggregate, ...)``,
       which returns ``df`` with those aggregates observed in its write
       (every counted frame must be written by the commit). It returns a
       Commit. Anything it persists goes through cache.persist_tracked.
    4. commit: ONE tables.append_snapshots call stages the ``--out`` files,
       the state snapshots and the marker snapshot (``["id"]`` stats)
       together and publishes the state tables in order, the marker last.
    5. counts, corpus size from the marker's manifest (tables.row_count),
       cache release, then tables.compact_tables compacts each ``compact``
       table (``{table: latest-wins keys or None}``) holding more than
       ``compact_after`` live snapshots.

    The table layer is called through its module attribute, so wrappers
    installed on it (tracing, fault injection) see every call."""
    from pyspark.sql import Observation

    from ..sources import tables
    from .cache import release_caches

    prior = tables.read_table(spark, state, marker)
    pending, sl = _pending_slice(slice_df, prior, key)
    counts = collections.defaultdict(int)
    if prior is not None and sl["n_skipped"] == sl["n_in"]:
        corpus = tables.row_count(state, marker)
        return WeeklyRun("resume-noop", sl["n_skipped"], counts, corpus, {}, {})
    rolled_back = tables.rollback_uncommitted(state, marker, rollback, sl["lo"])

    observed = []

    def count(df: DataFrame, **aggs) -> DataFrame:
        observed.append(Observation())
        return df.observe(observed[-1], *[c.alias(n) for n, c in aggs.items()])

    try:
        commit = judge(pending, prior, count)
        tables.append_snapshots(
            spark,
            state,
            [*commit.appends, (marker, commit.marker, ["id"])],
            writes=[
                functools.partial(tables.write_table, df, out, name)
                for name, df in commit.outputs.items()
            ],
        )
    finally:
        release_caches()
    for obs in observed:
        counts.update(obs.get)
    corpus = tables.row_count(state, marker)
    compacted = tables.compact_tables(spark, state, compact, compact_after)
    return WeeklyRun(
        "bootstrap" if prior is None else "incremental",
        sl["n_skipped"],
        counts,
        corpus,
        compacted,
        rolled_back,
    )


def _pending_slice(
    slice_df: DataFrame, marker: DataFrame | None, key: str
) -> tuple[DataFrame, dict]:
    """weekly_run's resume step: the rows of ``slice_df`` whose ``key`` is
    not an ``id`` of the ``marker`` table, plus ONE aggregate over the
    slice joined to the marker ids: ``{n_in, n_skipped, lo, hi}`` with
    lo/hi the min/max pending key (None when nothing is pending). Marker
    ids are unique: each is appended once, by the run that commits it."""
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
