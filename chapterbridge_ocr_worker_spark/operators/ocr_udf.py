"""The vectorized OCR operator: media spans -> recognized text + lines.

This is the Spark-side home of the reference's entire OCR engine
(workers/ocr/ocr_engine.py — see engine/inner.py for the per-image loop).
Design points that matter at 100 TB:

- ``mapInPandas`` iterator form: the engine singleton initializes once per
  Python worker (reference warms its model once per daemon,
  main.py:227-230) and is reused across every Arrow batch of the partition.
- Unit of work = one media SPAN, not one document. A 40k-px webtoon doc with
  40 pages is 40 independent rows, so skew from media-heavy documents is
  already divided before partitioning (SURVEY.md §4 O12).
- Errors never fail the task: each row carries an ``error`` column and the
  caller routes non-null errors to the dead-letter table (daemon-survives
  semantics of reference main.py:236-255).
- Arrow batch size is capped session-wide (conf.py) because rows carry
  multi-MB image bytes.
"""

from __future__ import annotations

import traceback
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..engine.base import get_engine
from ..engine.inner import lines_to_text, run_adaptive
from ..schemas import ERROR_TRUNCATE, OCR_RESULT


def _ocr_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    engine = get_engine()  # per-worker lazy singleton
    for pdf in batches:
        out: dict[str, list] = {f.name: [] for f in OCR_RESULT.fields}
        for doc_id, offset, media_ref, content in zip(
            pdf["doc_id"], pdf["offset"], pdf["media_ref"], pdf["content"]
        ):
            row: dict = {
                "doc_id": doc_id,
                "offset": int(offset),
                "media_ref": media_ref,
                "text": None,
                "lines": None,
                "line_count": None,
                "width": None,
                "height": None,
                "strategy": None,
                "error": None,
            }
            try:
                if content is None:
                    raise ValueError("media_ref has no content (missing blob)")
                res = run_adaptive(bytes(content), engine)
                lines = res["lines"]
                row.update(
                    text=lines_to_text(lines),
                    lines=[
                        (l["text"], l["confidence"], l["bbox"]) for l in lines
                    ],
                    line_count=len(lines),
                    width=res["width"],
                    height=res["height"],
                    strategy=res["strategy"],
                )
            except Exception as exc:  # dead-letter, never crash the task
                msg = f"{exc}\n{traceback.format_exc()}"
                row["error"] = msg[:ERROR_TRUNCATE]  # supabase_client.py:103 cap
            for k, v in row.items():
                out[k].append(v)
        yield pd.DataFrame(out)


def ocr_media_spans(media_spans: DataFrame) -> DataFrame:
    """media_spans: (doc_id, offset, media_ref, content) -> OCR_RESULT rows.

    Input should already be repartitioned by xxhash64(doc_id, offset) (see
    operators/skew.py) so heavy pages spread across the cluster. The
    per-image loop is run_adaptive, the path the reference runs in
    production with OCR_ADAPTIVE=true; its legacy fixed-tile and plain
    modes are not carried.
    """
    return media_spans.select("doc_id", "offset", "media_ref", "content").mapInPandas(
        _ocr_batches, schema=OCR_RESULT
    )
