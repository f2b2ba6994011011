"""spark-submit entrypoint for INCREMENTAL embedding near-dup detection,
with optional IVF-index maintenance — the weekly workflow of the
similarity family, mirroring jobs/spandedup_job.py for text spans.

Each run takes one new embedding batch, finds every near-duplicate pair
with at least one new side against the corpus's FROZEN prior signature
state (operators.similarity.incremental_cosine_neardup — the prior corpus
is never re-hashed), emits the pairs + a keep decision for the new batch,
and appends the batch's signatures to the persistent state.

    spark-submit --master <cluster> jobs/embdedup_job.py \
        --embeddings /data/emb_2026_w33.parquet \
        --state /data/emb_state \
        --out /data/emb_out/w33 \
        [--threshold 0.95] [--bits 10] [--cores 8] \
        [--ivf-index /data/ivf] [--rebuild-if-skewed]

State directory (owned by this job, carried run-to-run; the resume,
rollback, commit and compaction protocol is operators.resume.weekly_run):
    sigs/   (id, vec, bucket) — the materialized LSH signature of every
            vector the corpus has committed, appended per run with id
            stats, so a crashed attempt's snapshot rolls back.
    vecs/   (id) — the committed-batch marker table, appended LAST.

Outputs under --out:
    pairs/  (id_a, id_b, cos_r) near-dup pairs with >=1 new side
    keep/   (id, is_dup) keep decision for THIS batch: a new vector is a
            dup when it pairs with any prior vector or with a smaller-id
            new vector (keep-oldest, matching the dedup family).

IVF maintenance (--ivf-index): before the state commit, the batch is also
appended to the materialized IVF index (assigned to EXISTING centroids,
one snapshot append of the ids the index lacks, so a crashed attempt's
redo appends each id once) and the index's health stats
(operators.similarity.ivf_index_stats) are printed with the run stats —
the drift signal a long-running pipeline must watch. With
--rebuild-if-skewed, a rebuild_recommended verdict triggers
ivf_rebuild_index inline (one corpus-sized pass, paid only when the skew
stat says recall is at risk).

Caller contract (same as the sibling jobs): vec_ids are unique across
batches and arrival-ordered — every new id greater than all committed ids.

Prints one JSON stats line on stdout (logs on stderr).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# allow `python jobs/embdedup_job.py` straight from a checkout
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from chapterbridge_ocr_worker_spark.conf import get_spark  # noqa: E402

# compact a state table once it exceeds this many live snapshots
COMPACT_AFTER = 4


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="incremental embedding near-dup job")
    ap.add_argument("--embeddings", required=True, help="new embedding batch parquet")
    ap.add_argument("--state", required=True, help="persistent signature state dir")
    ap.add_argument("--out", required=True, help="output dir for this run")
    ap.add_argument("--threshold", type=float, default=0.95)
    ap.add_argument("--bits", type=int, default=10)
    ap.add_argument("--cores", type=int, default=None, help="local[] cores (dev only)")
    ap.add_argument("--ivf-index", default=None, help="materialized IVF index to maintain")
    ap.add_argument(
        "--rebuild-if-skewed",
        action="store_true",
        help="run ivf_rebuild_index when the health stats recommend it",
    )
    return ap.parse_args(argv)


def run(spark, args: argparse.Namespace) -> dict:
    """One weekly run over ``args.embeddings``; returns the stats line."""
    from chapterbridge_ocr_worker_spark.operators.cache import persist_tracked
    from chapterbridge_ocr_worker_spark.operators.resume import Commit, weekly_run
    from chapterbridge_ocr_worker_spark.operators.similarity import (
        incremental_cosine_neardup,
        ivf_append_index,
        ivf_index_stats,
        ivf_rebuild_index,
        vector_signatures,
    )
    from chapterbridge_ocr_worker_spark.sources import tables

    extra = {"ivf": None}

    def judge(batch, _, count):
        # the first run judges the batch against an empty signature table
        sigs = vector_signatures(batch, bits=args.bits)
        prior = tables.read_table(spark, args.state, "sigs")
        if prior is None:
            prior = sigs.limit(0)
        pairs = persist_tracked(incremental_cosine_neardup(
            batch, prior, threshold=args.threshold, bits=args.bits
        ))
        # keep decision for THIS batch: dup iff the pair links it to an older
        # id (prior vector, or smaller-id new vector). id_a < id_b by
        # construction, so the dup side of every pair is id_b when id_b is
        # in the batch.
        dup_ids = pairs.select(F.col("id_b").alias("vec_id")).distinct()
        keep = batch.select("vec_id").join(
            dup_ids.withColumn("is_dup", F.lit(True)), "vec_id", "left"
        ).select("vec_id", F.coalesce("is_dup", F.lit(False)).alias("is_dup"))

        # the index grows before the commit, so a crash anywhere redoes it;
        # ivf_append_index skips the ids an earlier attempt appended
        if args.ivf_index:
            ivf_append_index(batch, args.ivf_index)
            ivf = ivf_index_stats(spark, args.ivf_index)
            ivf["rebuilt"] = False
            if ivf["rebuild_recommended"] and args.rebuild_if_skewed:
                ivf = ivf_rebuild_index(spark, args.ivf_index)
                ivf["rebuilt"] = True
            extra["ivf"] = ivf
        return Commit(
            appends=[("sigs", sigs, ["id"])],
            marker=batch.select(F.col("vec_id").alias("id")),
            outputs={
                "pairs": count(pairs, pairs=F.count("*")),
                "keep": count(keep, n=F.count("*"), dups=F.count_if("is_dup")),
            },
        )

    r = weekly_run(
        spark,
        args.state,
        args.out,
        spark.read.parquet(args.embeddings).select("vec_id", "embedding"),
        "vec_id",
        marker="vecs",
        rollback={"sigs": "id"},
        judge=judge,
        compact={"sigs": None, "vecs": None},
        compact_after=COMPACT_AFTER,
    )
    return {
        "mode": r.mode,
        "vectors_in": r.counts["n"],
        "skipped_done": r.skipped,
        "pairs": r.counts["pairs"],
        "dups": r.counts["dups"],
        "corpus_vectors": r.corpus,
        "rolled_back": r.rolled_back,
        "compacted": r.compacted,
        **extra,
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    spark = get_spark("embdedup-job", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")
    try:
        print(json.dumps(run(spark, args)))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
