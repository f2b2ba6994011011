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
rollback and compaction protocol is in sources/tables.py):
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

from pyspark.sql import Observation  # noqa: E402
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
    from chapterbridge_ocr_worker_spark.operators.curation import (
        doc_segments,
        incremental_segment_dedup,
    )
    from chapterbridge_ocr_worker_spark.operators.resume import pending_slice
    from chapterbridge_ocr_worker_spark.sources import tables

    # resume on the committed-docs marker table
    done = tables.read_table(spark, args.state, "docs")
    docs, sl = pending_slice(
        spark.read.parquet(args.documents).select("doc_id", "text"), done, "doc_id"
    )
    n_skipped = sl["n_skipped"]
    if done is not None and n_skipped == sl["n_in"]:
        return {
            "mode": "resume-noop",
            "docs_in": 0,
            "skipped_done": n_skipped,
            "segments_removed": 0,
            "segments_added": 0,
            "corpus_docs": tables.row_count(args.state, "docs"),
            "compacted": {},
            "rolled_back": {},
        }
    rolled_back = tables.rollback_uncommitted(
        args.state, "docs", {"segments": "owner_id"}, sl["lo"]
    )

    # each segment's globally-first owner among the slice's docs
    owners = (
        doc_segments(docs, args.k)
        .groupBy("seg")
        .agg(F.min(F.struct("doc_id", "seg_idx")).alias("own"))
        .select("seg", F.col("own.doc_id").alias("owner_id"))
    )
    # the first run judges the slice against an empty segment set
    prior = tables.read_table(spark, args.state, "segments")
    mode = "bootstrap" if prior is None else "incremental"
    if prior is None:
        prior = owners.limit(0)
    cleaned = incremental_segment_dedup(docs, prior, k=args.k)
    fresh = owners.join(prior.select("seg"), "seg", "left_anti")

    cleaned = cleaned.persist()
    # commit: the cleaned output and both state snapshots are written
    # together, then segments is published, the docs marker LAST. The
    # run's counts are observed on the cleaned write; segments_added is
    # the record_count of the segments snapshot
    seen = Observation()
    seg_snap, _ = tables.append_snapshots(
        spark,
        args.state,
        [
            ("segments", fresh, ["owner_id"]),
            ("docs", cleaned.select(F.col("doc_id").alias("id")), ["id"]),
        ],
        writes=[lambda: tables.write_table(
            cleaned.observe(
                seen, F.count("*").alias("n"), F.sum("n_removed").alias("removed")
            ),
            args.out,
            "cleaned",
        )],
    )
    n_new, n_removed = seen.get["n"], int(seen.get["removed"] or 0)
    n_added = next(
        s["record_count"] for s in tables.list_snapshots(args.state, "segments")
        if s["name"] == os.path.basename(seg_snap)
    )
    n_corpus = tables.row_count(args.state, "docs")
    cleaned.unpersist()

    compacted = tables.compact_tables(
        spark, args.state, {"segments": None, "docs": None}, COMPACT_AFTER
    )
    return {
        "mode": mode,
        "docs_in": n_new,
        "skipped_done": n_skipped,
        "segments_removed": n_removed,
        "segments_added": n_added,
        "corpus_docs": n_corpus,
        "compacted": compacted,
        "rolled_back": rolled_back,
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
