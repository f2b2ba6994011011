import contextlib
import os
from collections import Counter

import pytest

from chapterbridge_ocr_worker_spark.conf import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()


# --- crash-exactness: one small corpus shared by the batch and streaming
# fault-injection tests, and the tables a crash-free write_run leaves -------


@pytest.fixture(scope="session")
def crash_corpus():
    """8 docs, 8 media blobs; 2 corrupt blobs fail 2 docs, one doc has no
    media at all."""
    from chapterbridge_ocr_worker_spark import datagen, golden
    from chapterbridge_ocr_worker_spark.engine.stub import StubEngine

    docs, media = datagen.generate_corpus(n_docs=8, seed=4, corrupt_fraction=0.1)
    expected, errors = golden.golden_output(docs, media, StubEngine())
    return docs, media, expected, errors


@pytest.fixture(scope="session")
def crash_dfs(spark, crash_corpus):
    from chapterbridge_ocr_worker_spark import schemas

    docs, media, _, _ = crash_corpus
    return (
        spark.createDataFrame(docs, schema=schemas.DOCUMENTS),
        spark.createDataFrame(media, schema=schemas.MEDIA),
    )


@pytest.fixture
def crash_appends(monkeypatch):
    """crash_appends(k, commit) is a context in which the k-th snapshot
    publish (tables._publish, the manifest commit that makes a staged
    snapshot live) raises "injected crash": after it commits when
    ``commit``, before it otherwise. The context yields the published
    table names, the crashed one last."""
    from chapterbridge_ocr_worker_spark.sources import tables

    @contextlib.contextmanager
    def crash(k: int, commit: bool):
        real = tables._publish
        calls = []

        def publish(path, staged):
            calls.append(os.path.basename(path))
            if len(calls) != k:
                return real(path, staged)
            if commit:
                real(path, staged)
            raise RuntimeError(f"injected crash at publish {k} ({calls[-1]})")

        with monkeypatch.context() as m:
            m.setattr(tables, "_publish", publish)
            yield calls

    return crash


@pytest.fixture
def fail_stage(monkeypatch):
    """fail_stage(table) is a context in which the stage write of every
    snapshot of ``table`` raises "injected stage failure" after its rows
    are written into the in-flight dir."""
    from chapterbridge_ocr_worker_spark.sources import tables

    @contextlib.contextmanager
    def fail(table: str):
        real = tables._observed_write

        def observed_write(df, path, *a, **kw):
            out = real(df, path, *a, **kw)
            if os.path.basename(os.path.dirname(path)) == table:
                raise RuntimeError("injected stage failure")
            return out

        with monkeypatch.context() as m:
            m.setattr(tables, "_observed_write", observed_write)
            yield

    return fail


@pytest.fixture
def fail_swap(monkeypatch):
    """fail_swap(table, k) is a context in which the k-th manifest swap
    (tables._write_manifest) of ``table`` raises "injected swap failure".
    The swap is the last step of a commit, so an append's or compaction's
    snapshot dir is already renamed into the table dir, unlisted."""
    from chapterbridge_ocr_worker_spark.sources import tables

    @contextlib.contextmanager
    def fail(table: str, k: int = 1):
        real = tables._write_manifest
        calls = []

        def write_manifest(path, m):
            if os.path.basename(path) == table:
                calls.append(path)
                if len(calls) == k:
                    raise RuntimeError(f"injected swap failure ({table}, commit {k})")
            return real(path, m)

        with monkeypatch.context() as mp:
            mp.setattr(tables, "_write_manifest", write_manifest)
            yield

    return fail


def _table_state(spark, wh) -> dict:
    """What a reader sees: lineage with multiplicity, latest-wins ocr_output
    and ocr_json, the latest failures snapshot, and the doc_ids in any
    ocr_output snapshot."""
    from chapterbridge_ocr_worker_spark.sources import tables

    def rows(df):
        return [] if df is None else df.collect()

    last_failures = tables.list_snapshots(wh, "failures")[-1]["name"]
    return {
        "lineage": Counter(r["doc_id"] for r in rows(tables.read_table(spark, wh, "lineage"))),
        "ocr_output": {
            r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
            for r in rows(tables.read_table_latest(spark, wh, "ocr_output", keys=["doc_id"]))
        },
        "ocr_json": Counter(
            tuple(r) for r in rows(
                tables.read_table_latest(spark, wh, "ocr_json", keys=["doc_id", "offset"])
            )
        ),
        "failures": {
            (r["doc_id"], r["media_ref"])
            for r in spark.read.parquet(os.path.join(wh, "failures", last_failures)).collect()
        },
        "ocr_output_ids": {
            r["doc_id"] for r in rows(tables.read_table(spark, wh, "ocr_output"))
        },
    }


@pytest.fixture(scope="session")
def table_state(spark):
    return lambda wh: _table_state(spark, wh)


@pytest.fixture(scope="session")
def clean_state(spark, crash_corpus, crash_dfs, tmp_path_factory):
    """Tables of one crash-free write_run over crash_corpus, checked against
    the golden spans and error set."""
    from chapterbridge_ocr_worker_spark.pipeline import write_run

    _, _, expected, errors = crash_corpus
    wh = str(tmp_path_factory.mktemp("clean") / "wh")
    write_run(spark, *crash_dfs, wh)
    state = _table_state(spark, wh)
    failed = {d for d, spans in expected.items() if any(s[2] in errors for s in spans)}
    committed = {d: spans for d, spans in expected.items() if d not in failed}
    assert failed and committed
    assert {d for d, _ in state["failures"]} == failed
    assert {ref for _, ref in state["failures"]} == set(errors)
    assert state["lineage"] == Counter(list(committed))  # each committed doc once
    assert state["ocr_output"] == committed
    assert state["ocr_output_ids"] == set(committed)
    # one JSON page per media span of a committed doc
    assert Counter((r[0], r[1]) for r in state["ocr_json"]) == Counter(
        (d, s[3]) for d, spans in committed.items() for s in spans if s[0] == "media"
    )
    return state
