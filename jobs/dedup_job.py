"""spark-submit entrypoint for INCREMENTAL corpus deduplication.

The weekly-crawl workflow: each run takes one new crawl slice, judges it
against everything deduped before, and updates the persistent dedup state —
without recomputing a single prior signature or pair.

    spark-submit --master <cluster> jobs/dedup_job.py \
        --documents /data/crawl_2026_w33.parquet \
        --state /data/dedup_state \
        --out /data/dedup_out/w33 \
        [--threshold 0.6] [--cores 8]

State directory (owned by this job, carried run-to-run; the resume,
rollback, commit and compaction protocol is operators.resume.weekly_run):
    signatures/     MinHash signature table (id, toks, sig, bands) of every
                    doc ever processed, appended per run and never
                    rewritten. Appended LAST: it is the resume marker.
    clusters/       (id, cluster_id) labels — each run appends its delta:
                    the new docs plus the prior docs whose cluster a new
                    doc joined. Read back latest-wins per id, so a new doc
                    chaining two prior clusters updates the prior members'
                    labels too (no stale labels between runs). Its
                    snapshots record id stats, so a crashed attempt's
                    snapshot rolls back before the redo reads it.
    _checkpoints/   the reliable checkpoints of the pair stage and of the
                    connected-components rounds, removed when the run
                    ends.
    The band buckets and their caps are derived from the signatures'
    bands column each run. buckets/ and bucket_counts/ dirs left by older
    layouts of this state dir are ignored.

Outputs under --out:
    decisions/    (id, keep, cluster_id) for THIS run's docs

Every run hashes ONLY the new slice, once, and judges those signature
rows against the union's band buckets with one decision operator
(operators.dedup.incremental_dedup), emitting keep/drop + cluster labels.
The first run ("bootstrap") is the same call over an empty prior, which
equals a full neardup_clusters + jaccard_keep of the slice. Prior
decisions are frozen (docs already shipped to training are never
retro-dropped). State tables auto-compact once they accumulate more than
COMPACT_AFTER snapshots — clusters with keys=["id"] so latest-wins
survives the rewrite and superseded label rows are physically dropped;
signatures hold each row once and compact by plain union.

Caller contract: doc_ids are unique across slices and crawl-ordered (new
ids greater than all prior ids) — what any ingest sequence number gives.

Prints one JSON stats line on stdout (logs on stderr).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# allow `python jobs/dedup_job.py` straight from a checkout
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from chapterbridge_ocr_worker_spark.conf import get_spark  # noqa: E402

# compact a state table once it exceeds this many live snapshots
COMPACT_AFTER = 4


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="incremental corpus dedup job")
    ap.add_argument("--documents", required=True, help="new crawl slice parquet")
    ap.add_argument("--state", required=True, help="persistent dedup state dir")
    ap.add_argument("--out", required=True, help="output dir for this run")
    ap.add_argument("--threshold", type=float, default=0.6, help="near-dup Jaccard")
    ap.add_argument("--cores", type=int, default=None, help="local[] cores (dev only)")
    return ap.parse_args(argv)


def run(spark, args: argparse.Namespace) -> dict:
    """One weekly run over ``args.documents``; returns the stats line."""
    from chapterbridge_ocr_worker_spark.operators.cache import (
        persist_tracked,
        reliable_checkpoints,
    )
    from chapterbridge_ocr_worker_spark.operators.dedup import (
        incremental_dedup,
        minhash_signatures,
    )
    from chapterbridge_ocr_worker_spark.operators.resume import Commit, weekly_run
    from chapterbridge_ocr_worker_spark.sources import tables

    cc_stats: dict = {}

    def judge(docs, prior_sigs, count):
        # the slice is hashed ONCE: these rows are judged, then appended
        new_sigs = persist_tracked(minhash_signatures(docs))
        # the first run is an incremental run over an empty prior; later runs
        # read the prior labels the last run appended
        prior_clusters = None
        if prior_sigs is not None:
            prior_clusters = tables.read_table_latest(
                spark, args.state, "clusters", keys=["id"]
            )
        labels = persist_tracked(incremental_dedup(
            new_sigs,
            new_sigs.limit(0) if prior_sigs is None else prior_sigs,
            prior_clusters,
            threshold=args.threshold,
            cc_stats=cc_stats,
        ))
        decisions = labels.join(new_sigs.select("id"), "id", "left_semi")
        # clusters gets the label delta, which always holds the slice's ids
        return Commit(
            appends=[("clusters", labels.select("id", "cluster_id"), ["id"])],
            marker=new_sigs,
            outputs={"decisions": count(
                decisions, n=F.count("*"), kept=F.count_if(F.col("keep") == 1)
            )},
        )

    # reliable checkpoints for the pair stage and the connected-components
    # rounds
    with reliable_checkpoints(spark, args.state):
        r = weekly_run(
            spark,
            args.state,
            args.out,
            spark.read.parquet(args.documents).select("doc_id", "text"),
            "doc_id",
            marker="signatures",
            rollback={"clusters": "id"},
            judge=judge,
            # clusters compact latest-wins per id (superseded labels drop
            # out); signatures hold each row once, so they compact by union
            compact={"signatures": None, "clusters": ["id"]},
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
        # closure telemetry: a long-running operator watches rounds / pair
        # counts drift instead of discovering divergence by eye
        **cc_stats,
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    spark = get_spark("dedup-job", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")
    try:
        print(json.dumps(run(spark, args)))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
