"""spark-submit entrypoint for INCREMENTAL EXACT deduplication.

The exact-hash sibling of jobs/dedup_job.py (MinHash near-dup): each run
takes one new crawl slice, drops docs whose normalized-content hash was
already seen — in any prior run or earlier in this slice — and updates
the persistent state, never re-hashing a prior document.

    spark-submit --master <cluster> jobs/exactdedup_job.py \
        --documents /data/crawl_2026_w33.parquet \
        --state /data/exactdedup_state \
        --out /data/exactdedup_out/w33 \
        [--m-bits 262144] [--k 5] [--cores 8]

State directory (owned by this job, carried run-to-run; the resume,
rollback, commit and compaction protocol is operators.resume.weekly_run):
    hashes/   (id, h) — the 33-byte/doc exact-dedup state, appended LAST
              per run: it is the resume marker.
    bloom_params.json  the (m_bits, k) the bitmap was built with —
              persisted at bootstrap and read back by every later run,
              because bit positions are functions of these values: a
              probe with mismatched params can false-NEGATIVE and keep a
              duplicate. A conflicting --m-bits/--k on a later run is
              refused (exit 2) instead of corrupting answers.
    bloom/    (widx, word) Bloom-bitmap words over each slice's hashes,
              one snapshot per run, folded at read time with bit_or
              (bloom_build(A) ∪ bloom_build(B) folds to bloom_build(A∪B)
              — pinned by test). The weekly probe reads THIS bounded
              table, never rebuilds the bitmap from the corpus; the full
              hashes table is touched only by the confirm join's
              bloom-positive sliver. bloom has no id column, so it is
              exempt from rollback: a crash-redo's duplicate snapshot only
              re-sets bits that are already set, and answers are exact
              regardless (the bloom is a prefilter, never the verdict).

Outputs under --out:
    decisions/  (id, keep) for THIS run's docs

At 100 TB: the bitmap is ~10 bits per prior key (1.2 GB of longs at 10^9
keys — broadcastable) and the per-run state growth is one bounded bloom
snapshot plus |new| hash rows; the only corpus-sized artifact any run
scans is the hashes table, and only for the bloom-positive sliver.

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


class ParamsConflict(ValueError):
    """A --m-bits/--k override that contradicts the state's bitmap."""


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="incremental exact dedup job")
    ap.add_argument("--documents", required=True, help="new crawl slice parquet")
    ap.add_argument("--state", required=True, help="persistent state dir")
    ap.add_argument("--out", required=True, help="output dir for this run")
    ap.add_argument("--m-bits", type=int, default=None, help="bloom bitmap bits")
    ap.add_argument("--k", type=int, default=None, help="bloom probes per key")
    ap.add_argument("--cores", type=int, default=None, help="local[] cores (dev only)")
    return ap.parse_args(argv)


def run(spark, args: argparse.Namespace) -> dict:
    """One weekly run over ``args.documents``; returns the stats line.
    Raises ParamsConflict before touching state on a conflicting override."""
    from chapterbridge_ocr_worker_spark.operators.cache import persist_tracked
    from chapterbridge_ocr_worker_spark.operators.dedup import (
        BLOOM_K,
        BLOOM_M_BITS,
        bloom_build,
        bloom_gated_keep,
        exact_hashes,
    )
    from chapterbridge_ocr_worker_spark.operators.resume import Commit, weekly_run
    from chapterbridge_ocr_worker_spark.sources import tables

    # BITMAP PARAMS ARE STATE: bit positions are functions of (m_bits, k),
    # so every run MUST probe with the values the bitmap was built with —
    # a mismatched probe can false-NEGATIVE and silently keep a duplicate.
    # Bootstrap persists the choice next to the tables; later runs read it
    # back and refuse a conflicting override instead of corrupting answers.
    params_path = os.path.join(args.state, "bloom_params.json")
    persisted = None
    if os.path.exists(params_path):
        with open(params_path) as f:
            persisted = json.load(f)
        for flag, key in (("m_bits", "m_bits"), ("k", "k")):
            given = getattr(args, flag)
            if given is not None and given != persisted[key]:
                raise ParamsConflict(
                    f"--{flag.replace('_', '-')} {given} conflicts with the "
                    f"state's persisted {key}={persisted[key]}; the bitmap "
                    "was built with the persisted value — rebuild state to "
                    "change it"
                )
        m_bits, k = persisted["m_bits"], persisted["k"]
    else:
        m_bits = args.m_bits or BLOOM_M_BITS
        k = args.k or BLOOM_K

    def judge(docs, prior_h, count):
        new_h = persist_tracked(exact_hashes(docs))
        # the first run judges the slice against an empty prior; its bitmap
        # is then built from that empty prior
        words = None
        if prior_h is None:
            prior_h = new_h.limit(0)
        else:
            words = (
                tables.read_table(spark, args.state, "bloom")
                .groupBy("widx")
                .agg(F.bit_or("word").alias("word"))
            )
        decisions = bloom_gated_keep(new_h, prior_h, m_bits, k, bloom_words=words)
        # params are written before any state commit (idempotent — same
        # content every run)
        if persisted is None:
            os.makedirs(args.state, exist_ok=True)
            tmp = params_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"m_bits": m_bits, "k": k}, f)
            os.replace(tmp, params_path)
        return Commit(
            appends=[("bloom", bloom_build(new_h, m_bits, k))],
            marker=new_h,
            outputs={"decisions": count(
                decisions, n=F.count("*"), kept=F.count_if(F.col("keep") == 1)
            )},
        )

    # the hashes table is the marker. Nothing rolls back: bloom has no id
    # column, and a redo's duplicate bloom snapshot only re-sets bits under
    # the bit_or fold
    r = weekly_run(
        spark,
        args.state,
        args.out,
        spark.read.parquet(args.documents).select("doc_id", "text"),
        "doc_id",
        marker="hashes",
        rollback={},
        judge=judge,
        # bloom snapshots fold at read time but their row count grows per
        # append; compaction pre-folds them into one snapshot of at most
        # m/64 word rows. Hashes compact by plain union (each id is
        # appended once)
        compact={
            "hashes": None,
            "bloom": lambda d: d.groupBy("widx").agg(F.bit_or("word").alias("word")),
        },
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
    except ParamsConflict as e:
        print(e, file=sys.stderr)
        return 2
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
