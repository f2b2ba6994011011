"""spark-submit entrypoint for INCREMENTAL EXACT deduplication.

The exact-hash sibling of jobs/dedup_job.py (MinHash near-dup): each run
takes one new crawl slice, drops docs whose normalized-content hash was
already seen — in any prior run or earlier in this slice — and updates
the persistent state, never re-hashing a prior document.

    spark-submit --master <cluster> jobs/exactdedup_job.py \
        --documents /data/crawl_2026_w33.parquet \
        --state /data/exactdedup_state \
        --out /data/exactdedup_out/w33 \
        [--cores 8]

State directory (owned by this job, carried run-to-run; the resume,
rollback, commit and compaction protocol is operators.resume.weekly_run):
    hashes/   (id, h) — the 33-byte/doc exact-dedup state and the only
              state table, appended once per run: it is the resume marker,
              so a crashed run leaves nothing to roll back.

Outputs under --out:
    decisions/  (id, keep) for THIS run's docs

Every run judges the slice's hashes with operators.dedup.keep_first_unseen
against the committed hashes table (the bootstrap against an empty prior):
one exact membership join of the slice's hashes against the distinct
prior hashes, which reads every prior hash once. Per-run state growth is
|new| hash rows.

Prints one JSON stats line on stdout (logs on stderr).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# allow `python jobs/exactdedup_job.py` straight from a checkout
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from chapterbridge_ocr_worker_spark.conf import get_spark  # noqa: E402

# compact a state table once it exceeds this many live snapshots
COMPACT_AFTER = 4


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="incremental exact dedup job")
    ap.add_argument("--documents", required=True, help="new crawl slice parquet")
    ap.add_argument("--state", required=True, help="persistent state dir")
    ap.add_argument("--out", required=True, help="output dir for this run")
    ap.add_argument("--cores", type=int, default=None, help="local[] cores (dev only)")
    return ap.parse_args(argv)


def run(spark, args: argparse.Namespace) -> dict:
    """One weekly run over ``args.documents``; returns the stats line."""
    from chapterbridge_ocr_worker_spark.operators.cache import persist_tracked
    from chapterbridge_ocr_worker_spark.operators.dedup import (
        exact_hashes,
        keep_first_unseen,
    )
    from chapterbridge_ocr_worker_spark.operators.resume import Commit, weekly_run

    def judge(docs, prior_h, count):
        new_h = persist_tracked(exact_hashes(docs))
        decisions = keep_first_unseen(new_h, new_h.limit(0) if prior_h is None else prior_h)
        return Commit(
            appends=[],
            marker=new_h,
            outputs={"decisions": count(
                decisions, n=F.count("*"), kept=F.count_if(F.col("keep") == 1)
            )},
        )

    # the hashes table is the marker and the only state table: nothing to
    # roll back, and it compacts by plain union (each id is appended once)
    r = weekly_run(
        spark,
        args.state,
        args.out,
        spark.read.parquet(args.documents).select("doc_id", "text"),
        "doc_id",
        marker="hashes",
        rollback={},
        judge=judge,
        compact={"hashes": None},
        compact_after=COMPACT_AFTER,
    )
    n, kept = r.counts["n"], r.counts["kept"]
    return {
        "mode": r.mode,
        "docs_in": n,
        "skipped_done": r.skipped,
        "kept": kept,
        "dropped_as_dups": n - kept,
        "corpus_total": r.corpus,
        "compacted": r.compacted,
        "rolled_back": r.rolled_back,
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    spark = get_spark("exactdedup-job", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")
    try:
        print(json.dumps(run(spark, args)))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
