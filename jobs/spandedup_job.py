"""spark-submit entrypoint for INCREMENTAL corpus-wide span dedup.

The weekly-crawl workflow for the C4-style "deduplicate repeated spans"
gate (operators.curation.segment_dedup): each run takes one new crawl
slice, removes every k-token segment already owned by the corpus (or by
an earlier position within the slice), emits the cleaned slice, and
appends the slice's newly-owned segments to the persistent state — the
prior corpus's text is never re-read or re-segmented.

    spark-submit --master <cluster> jobs/spandedup_job.py \
        --documents /data/crawl_2026_w33.parquet \
        --state /data/span_state \
        --out /data/span_out/w33 \
        [--k 3] [--cores 8]

State directory (owned by this job, carried run-to-run; the resume,
rollback, commit and compaction protocol is operators.resume.weekly_run):
    segments/   (seg, owner_id) — every distinct segment the corpus has
                ever owned, with the doc that owns it. Each run appends
                ONLY the segments it newly owns (absent from all prior
                state), so a segment appears once. owner_id carries the
                stats a crashed attempt's snapshot rolls back by.
    docs/       (id) — the committed-slice marker table, appended LAST.

Outputs under --out:
    cleaned/    (doc_id, n_segs, n_removed, text_clean) for THIS slice

Every run segments ONLY the new slice and judges it against the state's
one-column segment set (operators.curation.incremental_segment_dedup) —
|new|-sized except that narrow read. The first run ("bootstrap") judges
against an empty segment set, which equals a full segment_dedup of the
slice. Both state tables hold each row once and auto-compact by plain
union once they accumulate more than COMPACT_AFTER snapshots.

Caller contract (same as dedup_job): doc_ids are unique across slices
and crawl-ordered — every new id greater than all committed ids.

Prints one JSON stats line on stdout (logs on stderr).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# allow `python jobs/spandedup_job.py` straight from a checkout
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from chapterbridge_ocr_worker_spark.conf import get_spark  # noqa: E402

# compact a state table once it exceeds this many live snapshots
COMPACT_AFTER = 4


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="incremental span-dedup job")
    ap.add_argument("--documents", required=True, help="new crawl slice parquet")
    ap.add_argument("--state", required=True, help="persistent segment state dir")
    ap.add_argument("--out", required=True, help="output dir for this run")
    ap.add_argument("--k", type=int, default=3, help="tokens per segment")
    ap.add_argument("--cores", type=int, default=None, help="local[] cores (dev only)")
    return ap.parse_args(argv)


def run(spark, args: argparse.Namespace) -> dict:
    """One weekly run over ``args.documents``; returns the stats line."""
    from chapterbridge_ocr_worker_spark.operators.cache import persist_tracked
    from chapterbridge_ocr_worker_spark.operators.curation import (
        doc_segments,
        incremental_segment_dedup,
    )
    from chapterbridge_ocr_worker_spark.operators.resume import Commit, weekly_run
    from chapterbridge_ocr_worker_spark.sources import tables

    def judge(docs, _, count):
        # each segment's globally-first owner among the slice's docs
        owners = (
            doc_segments(docs, args.k)
            .groupBy("seg")
            .agg(F.min(F.struct("doc_id", "seg_idx")).alias("own"))
            .select("seg", F.col("own.doc_id").alias("owner_id"))
        )
        # the first run judges the slice against an empty segment set
        prior = tables.read_table(spark, args.state, "segments")
        if prior is None:
            prior = owners.limit(0)
        cleaned = persist_tracked(incremental_segment_dedup(docs, prior, k=args.k))
        fresh = owners.join(prior.select("seg"), "seg", "left_anti")
        return Commit(
            appends=[("segments", count(fresh, added=F.count("*")), ["owner_id"])],
            marker=cleaned.select(F.col("doc_id").alias("id")),
            outputs={"cleaned": count(
                cleaned, n=F.count("*"), removed=F.sum("n_removed")
            )},
        )

    r = weekly_run(
        spark,
        args.state,
        args.out,
        spark.read.parquet(args.documents).select("doc_id", "text"),
        "doc_id",
        marker="docs",
        rollback={"segments": "owner_id"},
        judge=judge,
        compact={"segments": None, "docs": None},
        compact_after=COMPACT_AFTER,
    )
    return {
        "mode": r.mode,
        "docs_in": r.counts["n"],
        "skipped_done": r.skipped,
        "segments_removed": int(r.counts["removed"] or 0),
        "segments_added": r.counts["added"],
        "corpus_docs": r.corpus,
        "compacted": r.compacted,
        "rolled_back": r.rolled_back,
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    spark = get_spark("spandedup-job", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")
    try:
        print(json.dumps(run(spark, args)))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
