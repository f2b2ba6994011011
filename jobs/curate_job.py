"""spark-submit entrypoint for the training-data curation pipeline.

The end-to-end workflow a 100 TB corpus actually goes through before
training, composed from the operator families:

    near-dup clusters  ->  keep ONE representative per transitive cluster
                       ->  per-language token inventory of the kept corpus
                       ->  top-k quality docs per language (sample/audit)

    spark-submit --master <cluster> \
        jobs/curate_job.py \
        --documents /data/documents.parquet \
        --out /data/curated \
        [--threshold 0.6] [--topk 25] [--cores 8]

Outputs under --out:
    kept_docs/      the deduplicated corpus (doc_id, text) — one doc per
                    near-dup cluster (the cluster's min doc_id)
    lang_stats/     pred_lang, n_docs, total_tokens, total_chars
    curated_topk/   top-k quality docs per language with rank

Dedup here is the CLUSTER decision (connected components over the LSH
near-dup pair relation), not the greedy pairwise drop: chained near-dups
A~B~C collapse to exactly one representative. Prints one JSON line of
stats on stdout (logs go to stderr).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# allow `python jobs/curate_job.py` straight from a checkout
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from chapterbridge_ocr_worker_spark.conf import get_spark  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="corpus dedup + curation job")
    ap.add_argument("--documents", required=True, help="documents parquet path")
    ap.add_argument("--out", required=True, help="output dir")
    ap.add_argument("--threshold", type=float, default=0.6, help="near-dup Jaccard")
    ap.add_argument("--topk", type=int, default=25, help="curated docs per language")
    ap.add_argument("--cores", type=int, default=None, help="local[] cores (dev only)")
    args = ap.parse_args(argv)

    spark = get_spark("curate-job", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")

    from chapterbridge_ocr_worker_spark.operators.cache import (
        release_caches,
        reliable_checkpoints,
    )
    from chapterbridge_ocr_worker_spark.operators.dedup import neardup_clusters
    from chapterbridge_ocr_worker_spark.operators.textstats import (
        corpus_language_stats,
        topk_quality_per_lang,
    )

    docs = spark.read.parquet(args.documents).select("doc_id", "text")

    # reliable checkpoints for the iterative connected-components rounds,
    # so on a real cluster an executor loss mid-clustering is survivable.
    # --out is the job's durable storage, so co-locate them there.
    cc_stats: dict = {}
    with reliable_checkpoints(spark, args.out):
        clusters = neardup_clusters(docs, threshold=args.threshold, cc_stats=cc_stats)
        # representative = the doc whose id IS its cluster label (the min id)
        reps = clusters.filter(F.col("id") == F.col("cluster_id")).select(
            F.col("id").alias("doc_id")
        )
        kept = docs.join(reps, "doc_id", "left_semi")
        kept.write.mode("overwrite").parquet(os.path.join(args.out, "kept_docs"))
    release_caches()  # the pair pipeline's signature caches are done

    kept = spark.read.parquet(os.path.join(args.out, "kept_docs"))
    stats_df = corpus_language_stats(kept)
    stats_df.write.mode("overwrite").parquet(os.path.join(args.out, "lang_stats"))
    topk_quality_per_lang(kept, k=args.topk).write.mode("overwrite").parquet(
        os.path.join(args.out, "curated_topk")
    )

    n_in = docs.count()
    n_kept = kept.count()
    lang_rows = {
        r["pred_lang"]: {"docs": r["n_docs"], "tokens": r["total_tokens"]}
        for r in stats_df.collect()  # <= #languages rows, driver-safe
    }
    print(
        json.dumps(
            {
                "docs_in": n_in,
                "docs_kept": n_kept,
                "dropped_as_dups": n_in - n_kept,
                "languages": lang_rows,
                # closure telemetry (rounds, convergence): drift in these is
                # the early signal of adversarial chaining at corpus scale
                **cc_stats,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
