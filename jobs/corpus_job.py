"""spark-submit entrypoint for the FULL pre-training corpus funnel.

Composes every curation gate into the pipeline a crawl actually runs
through before it becomes a training mix (curate_job.py stops at
dedup + inventory; this is the release pipeline):

    URL dedup (opt-in)          keep-oldest per canonical URL (crawl front door)
      -> near-dup cluster dedup keep one representative per cluster
      -> span dedup (opt-in)    C4-style repeated-segment removal
      -> substring excise (opt-in)  Lee-et-al exact substring dedup:
                                cross-doc duplicated runs cut at any
                                offset, one canonical copy kept
      -> repetition gate        drop degenerate docs (Gopher-style)
      -> LM quality floor (opt-in)  CCNet-style: drop docs whose avg
                                bigram log-prob under the corpus-trained
                                model falls below --lm-floor
      -> classifier floor (opt-in)  fastText-shape hashed-linear gate:
                                drop docs whose margin is below
                                --classifier-floor (trained weights via
                                --classifier-weights parquet)
      -> decontamination        drop docs overlapping an eval benchmark
      -> PII redaction          emails/phones/IPv4 -> placeholders
      -> temperature mixing     alpha=0.5 language rebalance to budget
      -> shard packing          token-budget-bounded training shards

    spark-submit --master <cluster> \
        jobs/corpus_job.py \
        --documents /data/documents.parquet \
        --out /data/corpus \
        [--benchmark /data/eval_docs.parquet] \
        [--segment-dedup-k 0] \
        [--threshold 0.6] [--max-adj-repeat 0.5] [--max-top-bigram 0.5] \
        [--budget-num 1 --budget-den 2] [--shard-tokens 2000] \
        [--n-buckets 16] [--cores 8]

Outputs under --out:
    corpus/   the packed corpus: (doc_id, lang, bucket, shard_id,
              n_tokens, text) with PII redacted, parquet partitioned by
              bucket so a trainer reads shards bucket-parallel
    _checkpoints/  reliable CC checkpoints (recoverable on executor loss),
              emptied when the near-dup stage ends

Prints ONE JSON line of funnel stats on stdout: doc counts after every
gate (the number every pipeline owner watches — a gate suddenly eating
30% of a crawl is the first sign of a degenerate-source regression),
languages kept, shard count, redaction counts, and CC closure telemetry.

Every gate decision is deterministic (integer-threshold hash sampling,
portable hashes), so reruns produce byte-identical corpora — a training
mix must be reproducible. Scale notes: the funnel is a linear chain of
the operators' own scale shapes (broadcast benchmark probe, 5-row rate
map, bucket-parallel packing); nothing here adds a corpus-sized
driver-side structure. Per-stage doc counts are Spark actions off
cached/parquet-backed frames, not collects.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from chapterbridge_ocr_worker_spark.conf import get_spark  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="pre-training corpus funnel")
    ap.add_argument("--documents", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--benchmark", default=None,
                    help="eval-set parquet (doc_id, text); enables decontam")
    ap.add_argument("--segment-dedup-k", type=int, default=0,
                    help="k>0 enables corpus-wide k-token span dedup "
                    "after cluster dedup; docs emptied by it are dropped")
    ap.add_argument("--substring-window", type=int, default=0,
                    help="w>0 enables exact substring excision (Lee et "
                    "al. 2107.06499): cross-doc duplicated runs of >= w "
                    "tokens are cut at ANY offset, one canonical copy "
                    "kept corpus-wide; docs emptied by it are dropped")
    ap.add_argument("--url-col", default=None,
                    help="input column carrying the fetch URL; enables "
                    "stage-0 URL-level dedup (keep-oldest doc per "
                    "canonical URL) before any content gate")
    ap.add_argument("--lm-floor", type=float, default=None,
                    help="enables the CCNet-style LM gate: drop docs whose "
                    "avg bigram log-prob (corpus-trained model) is below "
                    "this floor; docs with <2 tokens have no score and "
                    "are dropped too")
    ap.add_argument("--classifier-floor", type=float, default=None,
                    help="enables the hashed-linear classifier gate: drop "
                    "docs whose margin is below this floor")
    ap.add_argument("--classifier-weights", default=None,
                    help="(bucket, w) parquet of trained classifier "
                    "weights; default is the deterministic arithmetic "
                    "weight rule")
    ap.add_argument("--threshold", type=float, default=0.6)
    ap.add_argument("--max-adj-repeat", type=float, default=0.5)
    ap.add_argument("--max-top-bigram", type=float, default=0.5)
    ap.add_argument("--decontam-ngram", type=int, default=8)
    ap.add_argument("--budget-num", type=int, default=1)
    ap.add_argument("--budget-den", type=int, default=2)
    ap.add_argument("--shard-tokens", type=int, default=2000)
    ap.add_argument("--n-buckets", type=int, default=16)
    ap.add_argument("--lang-col", default="lang")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args(argv)

    spark = get_spark("corpus-job", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")

    from chapterbridge_ocr_worker_spark.operators.cache import (
        release_caches,
        reliable_checkpoints,
    )
    from chapterbridge_ocr_worker_spark.operators.curation import (
        decontaminate_overlap,
        mix_sample,
        pii_columns,
        repetition_stats,
        segment_dedup,
        shard_pack,
    )
    from chapterbridge_ocr_worker_spark.operators.dedup import neardup_clusters
    from chapterbridge_ocr_worker_spark.operators.textstats import predicted_lang

    raw = spark.read.parquet(args.documents)
    if args.lang_col in raw.columns:
        docs = raw.select("doc_id", "text", F.col(args.lang_col).alias("lang"))
    else:
        docs = raw.select(
            "doc_id", "text", predicted_lang(F.col("text")).alias("lang")
        )
    funnel = {"docs_in": docs.count()}

    # 0. URL-level dedup (opt-in): collapse refetches of the same page
    # BEFORE any content gate pays for them — the crawl front door.
    if args.url_col:
        from chapterbridge_ocr_worker_spark.operators.urls import url_dedup

        urls = raw.select("doc_id", F.col(args.url_col).alias("url"))
        keep_urls = url_dedup(urls).select(F.col("keep_id").alias("doc_id"))
        docs = docs.join(keep_urls, "doc_id", "left_semi")
        funnel["after_url_dedup"] = docs.count()

    # 1. near-dup cluster dedup: one representative per transitive cluster,
    # its connected-components rounds checkpointed reliably under --out
    cc_stats: dict = {}
    with reliable_checkpoints(spark, args.out):
        clusters = neardup_clusters(
            docs.select("doc_id", "text"), threshold=args.threshold, cc_stats=cc_stats
        )
        reps = clusters.filter(F.col("id") == F.col("cluster_id")).select(
            F.col("id").alias("doc_id")
        )
        docs = docs.join(reps, "doc_id", "left_semi")
        # materialize the post-dedup corpus so later gates re-read parquet
        # instead of re-running the LSH pipeline per downstream action
        dedup_path = os.path.join(args.out, "_stage_dedup")
        docs.write.mode("overwrite").parquet(dedup_path)
    release_caches()
    docs = spark.read.parquet(dedup_path)
    funnel["after_dedup"] = docs.count()

    # 1b. corpus-wide span dedup (opt-in): C4's repeated-segment removal.
    # Runs on the post-cluster-dedup corpus; a doc whose every segment is
    # owned elsewhere empties and is dropped. Materialized like stage 1 so
    # the (two-shuffle) owner decision runs once, not per downstream action.
    if args.segment_dedup_k > 0:
        sd = segment_dedup(docs, k=args.segment_dedup_k)
        span_path = os.path.join(args.out, "_stage_spandedup")
        sd.write.mode("overwrite").parquet(span_path)
        sd = spark.read.parquet(span_path)
        docs = docs.drop("text").join(
            sd.filter(F.length("text_clean") > 0).select(
                "doc_id", F.col("text_clean").alias("text")
            ),
            "doc_id",
        ).select("doc_id", "text", "lang")
        funnel["after_span_dedup"] = docs.count()
        funnel["segments_removed"] = int(
            sd.agg(F.sum("n_removed")).collect()[0][0] or 0
        )

    # 1c. exact substring excision (opt-in): Lee et al. 2107.06499.
    # segment_dedup's fixed segments catch aligned boilerplate; this cuts
    # duplicated >=w-token runs at ANY offset, keeping one canonical copy
    # corpus-wide. Materialized like stage 1 so the hash/cut decision runs
    # once, not per downstream action.
    if args.substring_window > 0:
        from chapterbridge_ocr_worker_spark.operators.dedup import (
            excise_duplicate_substrings,
        )

        ex = excise_duplicate_substrings(docs, window=args.substring_window)
        sub_path = os.path.join(args.out, "_stage_substring")
        ex.write.mode("overwrite").parquet(sub_path)
        ex = spark.read.parquet(sub_path)
        docs = docs.drop("text").join(
            ex.filter(F.length("text_deduped") > 0).select(
                "doc_id", F.col("text_deduped").alias("text")
            ),
            "doc_id",
        ).select("doc_id", "text", "lang")
        funnel["after_substring_excise"] = docs.count()
        funnel["substring_tokens_removed"] = int(
            ex.agg(F.sum("n_removed")).collect()[0][0] or 0
        )

    # 2. repetition gate (dup_word_fraction is corpus-relative noise on
    # natural text; the stutter + boilerplate-loop signals are the gates)
    rep = repetition_stats(docs)
    bad = rep.filter(
        (F.col("adj_repeat_fraction") > args.max_adj_repeat)
        | (F.col("top_bigram_fraction") > args.max_top_bigram)
    ).select("doc_id")
    docs = docs.join(bad, "doc_id", "left_anti")
    funnel["after_repetition"] = docs.count()

    # 2b. LM quality floor (opt-in): the CCNet-shape gate. The bigram
    # model is trained on the post-repetition corpus itself, so the gate
    # is deterministic and self-calibrating; docs with <1 bigram have no
    # score and are dropped (single-token docs carry no training signal).
    if args.lm_floor is not None:
        from chapterbridge_ocr_worker_spark.operators.textstats import (
            bigram_lm_score,
        )

        keep_lm = (
            bigram_lm_score(docs)
            .filter(F.col("avg_logprob") >= args.lm_floor)
            .select("doc_id")
        )
        docs = docs.join(keep_lm, "doc_id", "left_semi")
        funnel["after_lm"] = docs.count()

    # 2c. hashed-linear classifier floor (opt-in): the fastText-shape
    # learned gate. With no --classifier-weights the arithmetic default
    # weights apply (deterministic stand-in); pass a (bucket, w) parquet
    # to serve a trained model — identical plan, different parameters.
    if args.classifier_floor is not None:
        from chapterbridge_ocr_worker_spark.operators.textstats import (
            hashed_linear_score,
        )

        wtab = (
            spark.read.parquet(args.classifier_weights)
            if args.classifier_weights
            else None
        )
        keep_cls = (
            hashed_linear_score(docs, weights=wtab)
            .filter(F.col("margin") >= args.classifier_floor)
            .select("doc_id")
        )
        docs = docs.join(keep_cls, "doc_id", "left_semi")
        funnel["after_classifier"] = docs.count()

    # 3. decontamination against the eval benchmark (optional)
    if args.benchmark:
        bench = spark.read.parquet(args.benchmark).select("doc_id", "text")
        contaminated = (
            decontaminate_overlap(docs, bench, n=args.decontam_ngram)
            .filter("contaminated")
            .select("doc_id")
        )
        docs = docs.join(contaminated, "doc_id", "left_anti")
    funnel["after_decontam"] = docs.count()

    # 4. PII redaction (transforms text, drops nothing)
    pii = pii_columns(F.col("text"))
    docs = docs.select(
        "doc_id",
        "lang",
        pii["redacted"].alias("text"),
        (pii["n_emails"] + pii["n_phones"] + pii["n_ipv4"]).alias("_n_pii"),
    )

    # 5. temperature mixing to the token budget
    kept = mix_sample(
        docs, budget_frac_num=args.budget_num, budget_frac_den=args.budget_den
    ).select("doc_id")
    docs = docs.join(kept, "doc_id", "left_semi")
    funnel["after_mix"] = docs.count()

    # 6. shard packing + final write, bucket-partitioned for the trainer
    shards = shard_pack(
        docs, budget=args.shard_tokens, n_buckets=args.n_buckets
    )
    final = docs.join(shards.select("doc_id", "bucket", "shard_id", "n_tokens"),
                      "doc_id")
    out_path = os.path.join(args.out, "corpus")
    (
        final.select(
            "doc_id", "lang", "bucket", "shard_id", "n_tokens", "text", "_n_pii"
        )
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out_path)
    )

    final = spark.read.parquet(out_path)
    agg = final.groupBy().agg(
        F.countDistinct("bucket", "shard_id").alias("n_shards"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum((F.col("_n_pii") > 0).cast("long")).alias("docs_redacted"),
        F.sum("_n_pii").alias("pii_hits"),
    ).collect()[0]
    langs = {
        r["lang"]: r["n"]
        for r in final.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    print(
        json.dumps(
            {
                **funnel,
                "n_shards": agg["n_shards"],
                "total_tokens": agg["total_tokens"],
                "docs_redacted": agg["docs_redacted"],
                "pii_hits": agg["pii_hits"],
                "languages": langs,
                **cc_stats,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
