"""spark-submit entrypoint for the extraction pipeline.

The reference runs as a long-lived daemon (`python -m workers.ocr.main
--poll-seconds N`); the graft's launch surface is a batch job:

    spark-submit --master <cluster> \
        jobs/extract_job.py \
        --documents /data/documents.parquet \
        --media /data/media.parquet \
        --warehouse /data/wh \
        [--num-partitions 4096] [--incremental --checkpoint /data/ck]

On a real cluster pass ``--py-files chapterbridge_ocr_worker_spark.zip``
(or rely on conf.ship_package, which addPyFile's the package
automatically). Rerunning the same command resumes: only documents without
a lineage row (i.e. not yet successfully extracted) are processed, and
previously-failed documents are retried. ``--incremental`` switches to the
Structured-Streaming availableNow mode where Spark's checkpoint tracks
which input FILES were seen (the micro-poll daemon analogue).

Prints one JSON line of run stats on stdout (logs go to stderr).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# allow `python jobs/extract_job.py` straight from a checkout
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from chapterbridge_ocr_worker_spark import schemas  # noqa: E402
from chapterbridge_ocr_worker_spark.conf import get_spark  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="interleaved-docs OCR extraction job")
    ap.add_argument("--documents", required=True, help="documents parquet path")
    ap.add_argument("--media", required=True, help="media parquet path")
    ap.add_argument("--warehouse", required=True, help="output warehouse dir")
    ap.add_argument("--num-partitions", type=int, default=None)
    ap.add_argument(
        "--force",
        action="store_true",
        help="reprocess documents even if lineage says they're done "
        "(the reference's --force flag)",
    )
    ap.add_argument(
        "--incremental",
        action="store_true",
        help="Structured-Streaming availableNow mode over the documents dir",
    )
    ap.add_argument("--checkpoint", default=None, help="streaming checkpoint dir")
    ap.add_argument("--cores", type=int, default=None, help="local[] cores (dev only)")
    args = ap.parse_args(argv)

    spark = get_spark("extract-job", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")
    media = spark.read.schema(schemas.MEDIA).parquet(args.media)

    if args.incremental:
        if not args.checkpoint:
            ap.error("--incremental requires --checkpoint")
        from chapterbridge_ocr_worker_spark.streaming.incremental import (
            run_incremental,
        )

        docs_total = run_incremental(
            spark,
            args.documents,
            media,
            args.warehouse,
            args.checkpoint,
            num_partitions=args.num_partitions,
        )
        stats = {"mode": "incremental", "docs_total": docs_total}
    else:
        from chapterbridge_ocr_worker_spark.pipeline import write_run

        docs = spark.read.schema(schemas.DOCUMENTS).parquet(args.documents)
        stats = {"mode": "batch", **write_run(
            spark, docs, media, args.warehouse,
            num_partitions=args.num_partitions, force=args.force,
        )}

    print(json.dumps(stats))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
