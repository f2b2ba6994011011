"""Span explode / reassemble — the document <-> span pivot.

The reference processes one page image per job, so "reassembly" is implicit
(one image = one output doc). In the graft a document interleaves many text
and media spans; the output must preserve the input's offset order exactly
with media spans' OCR text substituted in place — the span-sequence equality
invariant (kind, text, media_ref, order) from BASELINE.json.

All of this is built-in Spark: posexplode, filters, unionByName, and an
``array_sort(collect_list(struct(offset, ...)))`` ordered merge (SURVEY.md
§2.4 J7 / §2.6 W7). One shuffle for the groupBy; sorting happens per-row on
arrays (cheap, spans/doc is small) rather than via a window (which would
shuffle AND sort globally).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def explode_spans(docs: DataFrame) -> DataFrame:
    """documents -> one row per span: (doc_id, kind, text, media_ref, offset)."""
    return docs.select(
        "doc_id", F.explode("spans").alias("span")
    ).select("doc_id", "span.kind", "span.text", "span.media_ref", "span.offset")


def split_media_text(spans: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(media_spans, text_spans) — the routing filter (kind dispatch)."""
    return (
        spans.filter(F.col("kind") == "media"),
        spans.filter(F.col("kind") == "text"),
    )


def reassemble(text_spans: DataFrame, ocr_spans: DataFrame) -> DataFrame:
    """Merge untouched text spans with OCR'd media spans back into ordered
    per-doc span arrays: (doc_id, spans, failed).

    ocr_spans: (doc_id, offset, media_ref, text, error) — text is the
    recognized content (null if that span dead-lettered; the span is still
    emitted so the sequence stays complete). ``failed`` is true for a doc
    with >= 1 dead-lettered span, carried out of the same groupBy so the
    committed/failed split downstream is a filter, not a join.
    """
    media_out = ocr_spans.select(
        "doc_id",
        F.lit("media").alias("kind"),
        "text",
        "media_ref",
        "offset",
        F.col("error").isNotNull().alias("failed"),
    )
    text_out = text_spans.select(
        "doc_id", "kind", "text", "media_ref", "offset", F.lit(False).alias("failed")
    )
    merged = text_out.unionByName(media_out)
    # struct field order puts offset first so array_sort's lexicographic
    # struct comparison sorts by offset; then restore the input field order.
    return (
        merged.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("offset", "kind", "text", "media_ref"))
            ).alias("ordered"),
            F.max("failed").alias("failed"),
        )
        .select(
            "doc_id",
            F.transform(
                "ordered",
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ).alias("spans"),
            "failed",
        )
    )
