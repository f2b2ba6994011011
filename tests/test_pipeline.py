"""End-to-end Spark pipeline tests: span-sequence equality against the
single-process golden, dead-letter routing, resume anti-join, lineage,
crash-exact commits."""

import pytest
from pyspark.sql import functions as F

from chapterbridge_ocr_worker_spark import datagen, golden, schemas
from chapterbridge_ocr_worker_spark.engine.stub import StubEngine
from chapterbridge_ocr_worker_spark.operators.resume import build_lineage, split_failures
from chapterbridge_ocr_worker_spark.pipeline import run_extraction, write_run
from chapterbridge_ocr_worker_spark.sources import tables


@pytest.fixture(scope="module")
def corpus():
    return datagen.generate_corpus(n_docs=40, seed=7, corrupt_fraction=0.05)


@pytest.fixture(scope="module")
def dfs(spark, corpus):
    docs, media = corpus
    return (
        spark.createDataFrame(docs, schema=schemas.DOCUMENTS),
        spark.createDataFrame(media, schema=schemas.MEDIA),
    )


def collect_spans(df):
    rows = df.collect()
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in rows
    }


def test_span_sequence_equality(spark, corpus, dfs):
    docs, media = corpus
    docs_df, media_df = dfs
    res = run_extraction(spark, docs_df, media_df)
    actual = collect_spans(res.output)
    expected, errors = golden.golden_output(docs, media, StubEngine())
    assert set(actual) == set(expected)
    for doc_id in expected:
        assert actual[doc_id] == expected[doc_id], f"span mismatch in {doc_id}"
    # sanity: corpus actually exercised OCR + dead-letter paths
    n_media_texts = sum(
        1 for spans in actual.values() for s in spans if s[0] == "media" and s[1]
    )
    assert n_media_texts > 0
    assert len(errors) > 0  # corrupt blobs existed


def test_dead_letter_rows(spark, corpus, dfs):
    docs, media = corpus
    docs_df, media_df = dfs
    res = run_extraction(spark, docs_df, media_df)
    _, failures = split_failures(res.ocr_all)
    fails = failures.collect()
    _, errors = golden.golden_output(docs, media, StubEngine())
    # media_refs may appear in several docs; compare the set of failing refs
    assert {f["media_ref"] for f in fails} == set(errors)
    for f in fails:
        assert "FAKEIMG" in f["error"] or "corrupt" in f["error"]
        assert len(f["error"]) <= schemas.ERROR_TRUNCATE


def failing_doc_ids(corpus):
    """doc_ids whose spans reference a blob the golden can't decode."""
    docs, media = corpus
    _, errors = golden.golden_output(docs, media, StubEngine())
    return {
        d["doc_id"]
        for d in docs
        if any(s["kind"] == "media" and s["media_ref"] in errors for s in d["spans"])
    }


def test_resume_skips_done_and_retries_failed(spark, corpus, dfs, tmp_path):
    docs_df, media_df = dfs
    wh = str(tmp_path / "warehouse")
    n_total = docs_df.count()
    bad = failing_doc_ids(corpus)
    first_ids = {r["doc_id"] for r in docs_df.limit(20).select("doc_id").collect()}
    bad_in_first = len(bad & first_ids)

    s1 = write_run(spark, docs_df.limit(20), media_df, wh)
    # failed docs are NOT committed (reference: failed jobs stay retryable)
    assert s1["docs"] == 20 - bad_in_first
    assert s1["failed_docs"] == bad_in_first

    # second run over the FULL set resumes: the remaining docs AND the
    # previously-failed docs process (they were excluded from lineage)
    s2 = write_run(spark, docs_df, media_df, wh)
    assert s2["docs"] == n_total - 20 + bad_in_first - s2["failed_docs"]
    assert s2["failed_docs"] == len(bad)  # every bad doc retried, fails again

    out = tables.read_table(spark, wh, "ocr_output")
    assert out.count() == n_total - len(bad)
    assert out.select("doc_id").distinct().count() == n_total - len(bad)
    lineage = tables.read_table(spark, wh, "lineage")
    assert lineage.count() == n_total - len(bad)  # exactly-once for successes
    assert {r["doc_id"] for r in lineage.select("doc_id").collect()} & bad == set()

    # third run: only the permanently-failing docs are pending; still no commit
    s3 = write_run(spark, docs_df, media_df, wh)
    assert s3["docs"] == 0
    assert s3["failed_docs"] == len(bad)

    ckpt = tables.read_table(spark, wh, "checkpoint")
    assert ckpt.filter(F.col("status") == "success").count() > 0


def test_failed_doc_recovers_when_blob_fixed(spark, tmp_path):
    # a transient failure (missing blob) must be retryable: run 1 dead-letters
    # the doc, run 2 (blob now present) completes it — the exact scenario the
    # reference handles via set_job_failed + rerun
    from chapterbridge_ocr_worker_spark.engine.fakeimg import FakeLine, encode

    blob = encode(640, 900, [FakeLine(5, 10, 100, 30, 200, "recovered")])
    docs = [
        {
            "doc_id": "d1",
            "spans": [
                {"kind": "text", "text": "intro", "media_ref": None, "offset": 0},
                {"kind": "media", "text": None, "media_ref": "m/1", "offset": 1},
            ],
        }
    ]
    docs_df = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    empty_media = spark.createDataFrame([], schema=schemas.MEDIA)
    media_df = spark.createDataFrame(
        [{"media_ref": "m/1", "content": bytearray(blob), "byte_size": len(blob), "sha256": "x"}],
        schema=schemas.MEDIA,
    )
    wh = str(tmp_path / "wh_recover")

    s1 = write_run(spark, docs_df, empty_media, wh)  # blob missing -> fail
    assert (s1["docs"], s1["failed_docs"]) == (0, 1)
    s2 = write_run(spark, docs_df, media_df, wh)  # blob arrived -> recovers
    assert (s2["docs"], s2["failed_docs"]) == (1, 0)
    out = tables.read_table(spark, wh, "ocr_output")
    spans = collect_spans(out)
    assert spans["d1"][1] == ("media", "recovered", "m/1", 1)
    s3 = write_run(spark, docs_df, media_df, wh)  # now done -> skipped
    assert s3["docs"] == 0 and s3["failed_docs"] == 0


def test_lineage_schema_and_output_keys(spark, dfs):
    docs_df, media_df = dfs
    res = run_extraction(spark, docs_df, media_df)
    rows = build_lineage(res.output.filter(~F.col("failed"))).limit(50).collect()
    assert rows
    for r in rows:
        assert r["output_ref"].startswith("derived/manhwa/")
        assert len(r["sha256"]) == 64
        assert r["byte_size"] > 0


def test_force_reprocesses_done_docs(spark, tmp_path):
    from chapterbridge_ocr_worker_spark import datagen

    docs, media = datagen.generate_corpus(n_docs=6, seed=13, corrupt_fraction=0.0)
    ddf = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    mdf = spark.createDataFrame(media, schema=schemas.MEDIA)
    wh = str(tmp_path / "wh_force")
    assert write_run(spark, ddf, mdf, wh)["docs"] == 6
    assert write_run(spark, ddf, mdf, wh)["docs"] == 0  # resume skips
    # --force semantics: reprocess despite lineage (reference enqueue --force)
    assert write_run(spark, ddf, mdf, wh, force=True)["docs"] == 6


@pytest.mark.parametrize("k", [1, 2, 3, 4, 5])
def test_crash_after_each_append_then_rerun_is_exact(
    spark, crash_dfs, clean_state, table_state, crash_appends, tmp_path, k
):
    """A crash right after write_run's k-th table publish, then a rerun
    without the fault, leaves the tables a crash-free run leaves: lineage
    exactly-once, latest-wins ocr_output == golden, latest-wins ocr_json ==
    the crash-free rows, latest failures == the golden error set, and
    ocr_output doc_ids == lineage doc_ids (see conftest.clean_state)."""
    wh = str(tmp_path / "wh")
    with crash_appends(k, commit=True), pytest.raises(RuntimeError, match="injected crash"):
        write_run(spark, *crash_dfs, wh)
    write_run(spark, *crash_dfs, wh)
    assert table_state(wh) == clean_state


@pytest.mark.parametrize("table", ["ocr_output", "failures", "checkpoint", "ocr_json", "lineage"])
def test_failed_stage_publishes_nothing_then_rerun_is_exact(
    spark, crash_dfs, clean_state, table_state, fail_stage, tmp_path, table
):
    """One table's write fails after its rows are written: write_run raises,
    no table has a snapshot (every staged write stays in an invisible
    in-flight dir), and a rerun leaves the tables a crash-free run
    leaves."""
    wh = str(tmp_path / "wh")
    with fail_stage(table), pytest.raises(RuntimeError, match="injected stage failure"):
        write_run(spark, *crash_dfs, wh)
    for name in ("ocr_output", "failures", "checkpoint", "ocr_json", "lineage"):
        assert tables.list_snapshots(wh, name) == [], name
    write_run(spark, *crash_dfs, wh)
    assert table_state(wh) == clean_state


def test_resumed_run_writes_one_file_per_snapshot(spark, crash_corpus, crash_dfs, tmp_path):
    """Each snapshot a resumed write_run appends is one parquet file: the
    commit writes are sized by bytes, not by the upstream task count. The
    recorded row counts match the run's stats."""
    docs, _, _, _ = crash_corpus
    docs_df, media_df = crash_dfs
    wh = str(tmp_path / "wh")
    write_run(spark, spark.createDataFrame(docs[:5], schema=schemas.DOCUMENTS), media_df, wh)
    names = ("ocr_output", "failures", "checkpoint", "ocr_json", "lineage")
    before = {n: len(tables.list_snapshots(wh, n)) for n in names}
    stats = write_run(spark, docs_df, media_df, wh)
    assert stats["docs"] > 0 and stats["failed_docs"] > 0
    for n in names:
        snaps = tables.list_snapshots(wh, n)
        assert len(snaps) == before[n] + 1, n
        assert snaps[-1]["n_files"] == 1, n
    assert tables.list_snapshots(wh, "ocr_output")[-1]["record_count"] == stats["docs"]
    assert tables.list_snapshots(wh, "lineage")[-1]["record_count"] == stats["docs"]
