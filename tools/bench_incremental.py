"""Incremental-vs-full dedup benchmark: the weekly-crawl value claim.

The claim under test: with a materialized prior signature table, judging a
new slice (|new| << |prior|) costs a small fraction of re-deduping the
whole union — because only new docs are hashed, only new-involving pairs
are scored, and prior connectivity enters as the linear cluster-edge list.
At 10^12-doc scale this is the difference between a weekly job touching
one crawl slice and one recomputing the corpus.

Also cross-checks CORRECTNESS: the incremental keep set and cluster labels
for the new slice must equal the full-union recompute restricted to new
ids (the documented equivalence regime: crawl-ordered ids, no cap
crossing).

Usage: python tools/bench_incremental.py [sf_dir] [cores] [new_fraction]
Prints one JSON line; paste the numbers into BENCH.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from chapterbridge_ocr_worker_spark.conf import get_spark
from chapterbridge_ocr_worker_spark.operators.cache import release_caches
from chapterbridge_ocr_worker_spark.operators.dedup import (
    incremental_dedup,
    jaccard_keep,
    materialize_signatures,
    minhash_signatures,
    neardup_clusters,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    new_frac = float(sys.argv[3]) if len(sys.argv) > 3 else 0.1

    spark = get_spark("bench-incremental", cores=cores, shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    # accept either an sf dir or a direct documents parquet path (e.g. the
    # 10x salted corpus bench_dedup_scale builds)
    docs_path = (
        f"{sf_dir}/documents.parquet"
        if os.path.exists(f"{sf_dir}/documents.parquet")
        else sf_dir
    )
    docs = spark.read.parquet(docs_path).select("doc_id", "text")
    max_id = int(docs.agg(F.max("doc_id")).first()[0])
    split = int((max_id + 1) * (1 - new_frac))
    prior = docs.filter(F.col("doc_id") < split)
    new = docs.filter(F.col("doc_id") >= split)
    n_prior, n_new = prior.count(), new.count()

    work = tempfile.mkdtemp(prefix="bench_inc_")
    try:
        # "last week's run": signature table + cluster labels, materialized
        # (the dedup job's state layout)
        t0 = time.time()
        materialize_signatures(prior, os.path.join(work, "sigs"))
        prior_clusters = neardup_clusters(prior, threshold=0.6)
        prior_clusters.write.mode("overwrite").parquet(
            os.path.join(work, "clusters")
        )
        setup_wall = time.time() - t0
        release_caches()

        # THIS week's incremental run (warm JVM, cold caches — same basis
        # as the full-recompute leg below): band rows and caps from the
        # signature table, frontier-limited closure
        prior_clusters = spark.read.parquet(os.path.join(work, "clusters"))
        prior_sigs = spark.read.parquet(os.path.join(work, "sigs"))
        t0 = time.time()
        inc = incremental_dedup(
            minhash_signatures(new), prior_sigs, prior_clusters, threshold=0.6
        ).filter(F.col("id") >= split)  # new docs only, not relabeled prior docs
        inc_rows = {r["id"]: (r["keep"], r["cluster_id"]) for r in inc.collect()}
        inc_wall = time.time() - t0
        release_caches()

        # the counterfactual: full recompute of the union
        t0 = time.time()
        full_keep = {r["id"] for r in jaccard_keep(docs, threshold=0.6).collect()}
        full_labels = {
            r["id"]: r["cluster_id"]
            for r in neardup_clusters(docs, threshold=0.6).collect()
        }
        full_wall = time.time() - t0
        release_caches()

        new_ids = set(inc_rows)
        match_keep = all(
            (inc_rows[i][0] == 1) == (i in full_keep) for i in new_ids
        )
        match_labels = all(inc_rows[i][1] == full_labels[i] for i in new_ids)
        print(
            json.dumps(
                {
                    "sf_dir": sf_dir,
                    "cores": cores,
                    "n_prior": n_prior,
                    "n_new": n_new,
                    "setup_wall_s": round(setup_wall, 2),
                    "incremental_wall_s": round(inc_wall, 2),
                    "full_recompute_wall_s": round(full_wall, 2),
                    "speedup_vs_full": round(full_wall / max(inc_wall, 1e-9), 2),
                    "keep_matches_full": match_keep,
                    "labels_match_full": match_labels,
                    "new_kept": sum(1 for k, _ in inc_rows.values() if k == 1),
                }
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
