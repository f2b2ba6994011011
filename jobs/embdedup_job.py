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
rollback and compaction protocol is in sources/tables.py):
    sigs/   (id, vec, bucket) — the materialized LSH signature of every
            vector the corpus has committed, appended per run with id
            stats, so a crashed attempt's snapshot rolls back.
    vecs/   (id) — the committed-batch marker table, appended LAST.

Outputs under --out:
    pairs/  (id_a, id_b, cos_r) near-dup pairs with >=1 new side
    keep/   (id, is_dup) keep decision for THIS batch: a new vector is a
            dup when it pairs with any prior vector or with a smaller-id
            new vector (keep-oldest, matching the dedup family).

IVF maintenance (--ivf-index): the batch is also appended to the
materialized IVF index (assigned to EXISTING centroids, one snapshot
append) and the index's health stats (operators.similarity.ivf_index_stats)
are printed with the run stats — the drift signal a long-running pipeline
must watch. With --rebuild-if-skewed, a rebuild_recommended verdict
triggers ivf_rebuild_index inline (one corpus-sized pass, paid only when
the skew stat says recall is at risk).

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

from pyspark.sql import Observation  # noqa: E402
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
    from chapterbridge_ocr_worker_spark.operators.cache import release_caches
    from chapterbridge_ocr_worker_spark.operators.resume import pending_slice
    from chapterbridge_ocr_worker_spark.operators.similarity import (
        incremental_cosine_neardup,
        ivf_append_index,
        ivf_index_stats,
        ivf_rebuild_index,
        vector_signatures,
    )
    from chapterbridge_ocr_worker_spark.sources import tables

    # resume on the committed-batch marker table
    done = tables.read_table(spark, args.state, "vecs")
    batch, sl = pending_slice(
        spark.read.parquet(args.embeddings).select("vec_id", "embedding"),
        done,
        "vec_id",
    )
    n_skipped = sl["n_skipped"]
    if done is not None and n_skipped == sl["n_in"]:
        return {
            "mode": "resume-noop",
            "vectors_in": 0,
            "skipped_done": n_skipped,
            "pairs": 0,
            "dups": 0,
            "corpus_vectors": tables.row_count(args.state, "vecs"),
            "rolled_back": {},
            "compacted": {},
            "ivf": None,
        }
    rolled_back = tables.rollback_uncommitted(
        args.state, "vecs", {"sigs": "id"}, sl["lo"]
    )

    # the first run judges the batch against an empty signature table
    sigs = vector_signatures(batch, bits=args.bits)
    prior = tables.read_table(spark, args.state, "sigs")
    mode = "bootstrap" if prior is None else "incremental"
    if prior is None:
        prior = sigs.limit(0)
    pairs = incremental_cosine_neardup(
        batch, prior, threshold=args.threshold, bits=args.bits
    )

    pairs = pairs.persist()
    # keep decision for THIS batch: dup iff the pair links it to an older id
    # (prior vector, or smaller-id new vector). id_a < id_b by construction,
    # so the dup side of every pair is id_b when id_b is in the batch.
    dup_ids = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    keep = batch.select("vec_id").join(
        dup_ids.withColumn("is_dup", F.lit(True)), "vec_id", "left"
    ).select("vec_id", F.coalesce("is_dup", F.lit(False)).alias("is_dup"))

    # commit: the pairs and keep outputs and both state snapshots are
    # written together, then sigs is published, the vecs marker LAST. The
    # run's counts are observed on the pairs and keep writes
    seen_pairs, seen_keep = Observation(), Observation()
    tables.append_snapshots(
        spark,
        args.state,
        [
            ("sigs", sigs, ["id"]),
            ("vecs", batch.select(F.col("vec_id").alias("id")), ["id"]),
        ],
        writes=[
            lambda: tables.write_table(
                pairs.observe(seen_pairs, F.count("*").alias("n")), args.out, "pairs"
            ),
            lambda: tables.write_table(
                keep.observe(seen_keep, F.count_if("is_dup").alias("n")), args.out, "keep"
            ),
        ],
    )
    n_pairs, n_dups = seen_pairs.get["n"], seen_keep.get["n"]
    n_corpus = tables.row_count(args.state, "vecs")
    pairs.unpersist()
    release_caches()

    ivf = None
    if args.ivf_index:
        ivf_append_index(batch, args.ivf_index)
        ivf = ivf_index_stats(spark, args.ivf_index)
        ivf["rebuilt"] = False
        if ivf["rebuild_recommended"] and args.rebuild_if_skewed:
            ivf = ivf_rebuild_index(spark, args.ivf_index)
            ivf["rebuilt"] = True

    compacted = tables.compact_tables(
        spark, args.state, {"sigs": None, "vecs": None}, COMPACT_AFTER
    )
    return {
        "mode": mode,
        "vectors_in": sl["n_in"] - n_skipped,
        "skipped_done": n_skipped,
        "pairs": n_pairs,
        "dups": n_dups,
        "corpus_vectors": n_corpus,
        "rolled_back": rolled_back,
        "compacted": compacted,
        "ivf": ivf,
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
