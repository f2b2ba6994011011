"""Streaming (availableNow) incremental extraction: new files picked up per
trigger, previously-seen files skipped via the streaming checkpoint, and a
micro-batch that crashed mid-commit replayed exactly-once."""

import pytest
from pyspark.sql import functions as F

from chapterbridge_ocr_worker_spark import datagen, schemas
from chapterbridge_ocr_worker_spark.sources import tables
from chapterbridge_ocr_worker_spark.streaming.incremental import run_incremental


def test_incremental_two_triggers(spark, tmp_path):
    docs, media = datagen.generate_corpus(n_docs=20, seed=99, corrupt_fraction=0.0)
    media_df = spark.createDataFrame(media, schema=schemas.MEDIA)
    docs_dir = str(tmp_path / "docs_in")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")

    first = spark.createDataFrame(docs[:12], schema=schemas.DOCUMENTS)
    first.coalesce(1).write.mode("append").parquet(docs_dir)
    run_incremental(spark, docs_dir, media_df, wh, ckpt)
    out1 = tables.read_table(spark, wh, "ocr_output")
    assert out1.count() == 12
    # the trigger commits every table write_run does
    n_pages = sum(s["kind"] == "media" for d in docs[:12] for s in d["spans"])
    assert tables.read_table(spark, wh, "ocr_json").count() == n_pages
    assert tables.read_table(spark, wh, "checkpoint").count() > 0

    # new arrivals only
    second = spark.createDataFrame(docs[12:], schema=schemas.DOCUMENTS)
    second.coalesce(1).write.mode("append").parquet(docs_dir)
    run_incremental(spark, docs_dir, media_df, wh, ckpt)
    out2 = tables.read_table(spark, wh, "ocr_output")
    assert out2.count() == 20
    assert out2.select("doc_id").distinct().count() == 20

    # third trigger with nothing new: no duplicates
    run_incremental(spark, docs_dir, media_df, wh, ckpt)
    out3 = tables.read_table(spark, wh, "ocr_output")
    assert out3.count() == 20
    # lineage exactly-once
    lin = tables.read_table(spark, wh, "lineage")
    assert lin.groupBy("doc_id").count().filter(F.col("count") > 1).count() == 0


@pytest.mark.parametrize("k", [1, 5])
def test_replayed_epoch_after_crash_is_exact(
    spark, crash_dfs, clean_state, table_state, crash_appends, tmp_path, k
):
    """foreachBatch crashes at its first table append (k=1, nothing
    committed) or at its lineage append (k=5, everything but the resume
    marker committed). Re-triggering on the same checkpoint replays the
    epoch, which must leave the tables a crash-free write_run leaves."""
    docs_df, media_df = crash_dfs
    docs_dir = str(tmp_path / "docs_in")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    docs_df.coalesce(1).write.parquet(docs_dir)

    with crash_appends(k, commit=False) as calls, pytest.raises(Exception, match="injected crash"):
        run_incremental(spark, docs_dir, media_df, wh, ckpt)
    assert calls[-1] == ("ocr_output" if k == 1 else "lineage")
    # docs_total counts committed docs once, not the replayed ocr_output rows
    assert run_incremental(spark, docs_dir, media_df, wh, ckpt) == len(clean_state["ocr_output"])
    assert table_state(wh) == clean_state


def test_windowed_append_watermark_drops_late_rows(spark, tmp_path):
    """Watermarked append mode: finalized windows emit exactly once; a row
    arriving behind the watermark is dropped, not merged into an
    already-emitted window."""
    from datetime import datetime

    from chapterbridge_ocr_worker_spark.streaming.windowed import hourly_agg_append

    events_dir = str(tmp_path / "ev_in")
    out_dir = str(tmp_path / "ev_out")
    ckpt = str(tmp_path / "ev_ck")

    def ev(hour, n):
        return [(i, datetime(2026, 1, 1, hour, 15), 1, "click", 1.0, "{}")
                for i in range(n)]

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    # trigger 1: events in hours 0..5 -> watermark 5:15-2h = 3:15 ->
    # windows ending <= 3:15 finalize: hours 0, 1, 2
    batch1 = spark.createDataFrame(sum((ev(h, 3) for h in range(6)), []), cols)
    batch1.coalesce(1).write.mode("append").parquet(events_dir)
    schema = batch1.schema
    res1 = hourly_agg_append(spark, events_dir, schema, out_dir, ckpt)
    got1 = {r["window"]["start"].hour: r["n"] for r in res1.collect()}
    assert got1 == {0: 3, 1: 3, 2: 3}

    # trigger 2: one LATE row in hour 1 (behind the 3:15 watermark ->
    # dropped) + rows in hour 6 (advance watermark to 4:15 -> hour-3
    # window finalizes). The hour-1 window must NOT re-emit or change.
    batch2 = spark.createDataFrame(ev(1, 1) + ev(6, 2), cols)
    batch2.coalesce(1).write.mode("append").parquet(events_dir)
    res2 = hourly_agg_append(spark, events_dir, schema, out_dir, ckpt)
    got2 = {r["window"]["start"].hour: r["n"] for r in res2.collect()}
    assert got2 == {0: 3, 1: 3, 2: 3, 3: 3}
