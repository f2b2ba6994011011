"""Typed schemas for every table the pipeline reads or writes.

The reference keeps these shapes implicitly in JSON (reference:
workers/ocr/supabase_client.py:46-54 job rows; ocr_engine.py:345-349 line
records; ocr_engine.py:907-926 output doc). Here they are explicit Spark
StructTypes so Arrow serialization, column pruning and pushdown all work.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- primary input: interleaved text+media documents (BASELINE input_hint) ---

SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType()),        # 'text' | 'media'
        T.StructField("text", T.StringType()),        # null for media (input)
        T.StructField("media_ref", T.StringType()),   # null for text
        T.StructField("offset", T.IntegerType()),     # strictly increasing
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN)),
    ]
)

# --- media side-table: blob bytes keyed by media_ref (the R2 analogue,
#     reference workers/ocr/r2_client.py:32-47) ---

MEDIA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("byte_size", T.LongType()),
        T.StructField("sha256", T.StringType()),
    ]
)

# --- OCR line record (reference ocr_engine.py:345-349: text, confidence
#     rounded to 4 decimals, bbox 4×[x,y]) ---

LINE = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("confidence", T.DoubleType()),
        T.StructField("bbox", T.ArrayType(T.ArrayType(T.DoubleType()))),
    ]
)

# rows produced by the OCR mapInPandas over exploded media spans
OCR_RESULT = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("offset", T.IntegerType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("text", T.StringType()),        # joined line texts, reading order
        T.StructField("lines", T.ArrayType(LINE)),
        T.StructField("line_count", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("strategy", T.StringType()),    # NO_TILE | TILE_MED | TILE_LONG | FALLBACK
        T.StructField("error", T.StringType()),       # null on success (dead-letter routing)
    ]
)

# --- lineage table (the `assets` analogue, reference
#     supabase_client.py:180-203 insert_asset): one row per completed doc ---

LINEAGE = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("output_ref", T.StringType()),
        T.StructField("byte_size", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("created_at", T.TimestampType()),
    ]
)

# --- checkpoint table: per-partition commit record (replaces the job-status
#     CAS protocol, reference supabase_client.py:62-74,90-104) ---

CHECKPOINT = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("doc_count", T.LongType()),
        T.StructField("status", T.StringType()),      # success | failed
        T.StructField("started_at", T.TimestampType()),
        T.StructField("finished_at", T.TimestampType()),
        T.StructField(
            "metrics",
            T.StructType(
                [
                    T.StructField("docs_per_sec", T.DoubleType()),
                    T.StructField("chars_per_sec", T.DoubleType()),
                    T.StructField("conf_hist", T.ArrayType(T.LongType())),
                ]
            ),
        ),
    ]
)

# --- dead-letter table (reference set_job_failed, supabase_client.py:98-104;
#     error truncated to 10000 chars there — same cap here) ---

FAILURES = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("error", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

ERROR_TRUNCATE = 10_000  # reference supabase_client.py:103
