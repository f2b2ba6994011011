"""The table layer (sources/tables.py: manifest commits, plain dirs,
compaction, rollback, row counts, pruned, latest-wins and z-ordered reads)
and the stateful streaming operator."""

import os

import pytest
from pyspark.sql import functions as F

from chapterbridge_ocr_worker_spark.sources import tables
from chapterbridge_ocr_worker_spark.streaming.stateful import running_totals_per_type


def test_stateful_running_totals(spark, tmp_path):
    src = str(tmp_path / "events_in")
    ev1 = spark.createDataFrame(
        [("click", 1.0), ("click", 2.0), ("view", 5.0)], ["event_type", "value"]
    )
    ev1.coalesce(1).write.mode("append").parquet(src)
    schema = ev1.schema
    ckpt = str(tmp_path / "ckpt")

    def run_once(qname):
        # memory sink can't recover from a checkpoint; foreachBatch can
        collected = {}

        def sink(batch_df, epoch_id):
            for r in batch_df.collect():
                collected[r["event_type"]] = (r["total_events"], r["total_value"])

        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            running_totals_per_type(stream)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return collected

    out1 = run_once("stateful_out1")
    assert out1["click"] == (2, 3.0)
    assert out1["view"] == (1, 5.0)

    # second batch: state carries over across triggers via checkpoint
    ev2 = spark.createDataFrame([("click", 10.0)], ["event_type", "value"])
    ev2.coalesce(1).write.mode("append").parquet(src)
    out2 = run_once("stateful_out2")
    assert out2["click"] == (3, 13.0)  # running total, not per-batch


def test_compact_table_preserves_rows(spark, tmp_path):
    from chapterbridge_ocr_worker_spark import datagen, schemas
    from chapterbridge_ocr_worker_spark.pipeline import write_run

    docs, media = datagen.generate_corpus(n_docs=12, seed=41, corrupt_fraction=0.0)
    mdf = spark.createDataFrame(media, schema=schemas.MEDIA)
    wh = str(tmp_path / "wh_compact")
    # three runs -> three snapshot dirs per table, one small file each
    for n in (4, 8, 12):
        write_run(spark, spark.createDataFrame(docs[:n], schema=schemas.DOCUMENTS), mdf, wh)
    before = tables.read_table(spark, wh, "ocr_output")
    rows_before = {r["doc_id"] for r in before.select("doc_id").collect()}

    stats = tables.compact_table(spark, wh, "ocr_output")
    assert stats["snapshots_before"] == 3
    assert stats["files_after"] <= 2 < stats["files_before"]

    after = tables.read_table(spark, wh, "ocr_output")
    assert {r["doc_id"] for r in after.select("doc_id").collect()} == rows_before
    assert after.count() == 12
    # resume still works against the compacted lineage
    tables.compact_table(spark, wh, "lineage")
    s = write_run(spark, spark.createDataFrame(docs, schema=schemas.DOCUMENTS), mdf, wh)
    assert s["docs"] == 0


def test_compact_crash_window_never_duplicates(spark, tmp_path):
    """The manifest is the commit point: an unregistered snapshot directory
    (what a compaction crashed mid-write leaves behind) is invisible to
    readers — at no point does the old+new union surface duplicated rows —
    and the next compaction garbage-collects the orphan."""
    import os

    root = str(tmp_path)
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "k"])
    tables.append_snapshot(df, root, "t")
    assert tables.read_table(spark, root, "t").count() == 2

    # simulate a compaction that wrote its data but died before the
    # manifest swap: a full copy of the table in an unregistered dir
    orphan = os.path.join(root, "t", "snap-9999999999999-deadbeef")
    df.write.mode("overwrite").parquet(orphan)
    assert tables.read_table(spark, root, "t").count() == 2  # NOT 4

    stats = tables.compact_table(spark, root, "t")
    assert stats["snapshots_before"] == 1
    assert tables.read_table(spark, root, "t").count() == 2
    assert not os.path.isdir(orphan)  # orphan collected


def test_read_table_latest_after_force_rerun(spark, tmp_path):
    """force=True appends duplicate doc_ids across snapshots (documented);
    read_table_latest gives downstream readers latest-snapshot-wins."""
    import time as _time

    from chapterbridge_ocr_worker_spark import datagen, schemas
    from chapterbridge_ocr_worker_spark.pipeline import write_run

    docs, media = datagen.generate_corpus(n_docs=6, seed=7, corrupt_fraction=0.0)
    ddf = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    mdf = spark.createDataFrame(media, schema=schemas.MEDIA)
    wh = str(tmp_path / "wh_force")
    write_run(spark, ddf, mdf, wh)
    _time.sleep(0.01)  # distinct snapshot timestamps
    write_run(spark, ddf, mdf, wh, force=True)

    plain = tables.read_table(spark, wh, "ocr_output")
    assert plain.count() == 12  # duplicates surfaced, as documented
    latest = tables.read_table_latest(spark, wh, "ocr_output", keys=["doc_id"])
    assert latest.count() == 6
    assert latest.select("doc_id").distinct().count() == 6

    # value-level: with CONFLICTING snapshots the newest value wins per key
    root = str(tmp_path)
    tables.append_snapshot(
        spark.createDataFrame([(1, "old"), (2, "old"), (3, "old")], ["id", "v"]),
        root,
        "t2",
    )
    _time.sleep(0.01)
    tables.append_snapshot(
        spark.createDataFrame([(2, "new")], ["id", "v"]), root, "t2"
    )
    got = {
        r["id"]: r["v"]
        for r in tables.read_table_latest(spark, root, "t2", keys=["id"]).collect()
    }
    assert got == {1: "old", 2: "new", 3: "old"}


def test_concurrent_appends_lose_no_snapshot(spark, tmp_path):
    """Two appenders racing the manifest read-modify-write: without the
    fcntl commit lock the second publish drops the first's snapshot (lost
    update). With it, both snapshots land and readers see the union."""
    import threading

    root = str(tmp_path)
    dfs = [
        spark.createDataFrame([(i * 10 + j, "w%d" % i) for j in range(5)], ["id", "w"])
        for i in range(4)
    ]
    barrier = threading.Barrier(4)
    errs = []

    def append(df):
        try:
            barrier.wait(timeout=60)
            tables.append_snapshot(df, root, "race")
        except Exception as e:  # surfaced below — a swallowed error would
            errs.append(e)  # make the count assertion pass vacuously

    threads = [threading.Thread(target=append, args=(d,)) for d in dfs]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []
    got = tables.read_table(spark, root, "race")
    assert got.count() == 20
    assert tables._live_snapshots(tables.table_path(root, "race"))
    assert len(tables._live_snapshots(tables.table_path(root, "race"))) == 4


def test_compact_with_keys_preserves_latest_wins(spark, tmp_path):
    """compact_table(keys=...) resolves per-key winners during the rewrite,
    so read_table_latest reads identically before and after compaction."""
    import time as _time

    root = str(tmp_path)
    tables.append_snapshot(
        spark.createDataFrame([(1, "old"), (2, "old")], ["id", "v"]), root, "t"
    )
    _time.sleep(0.01)
    tables.append_snapshot(
        spark.createDataFrame([(2, "new"), (3, "new")], ["id", "v"]), root, "t"
    )
    want = {(1, "old"), (2, "new"), (3, "new")}
    before = tables.read_table_latest(spark, root, "t", keys=["id"])
    assert {(r["id"], r["v"]) for r in before.collect()} == want

    stats = tables.compact_table(spark, root, "t", keys=["id"])
    assert stats["snapshots_before"] == 2
    after = tables.read_table_latest(spark, root, "t", keys=["id"])
    assert {(r["id"], r["v"]) for r in after.collect()} == want
    # superseded row physically gone, not just masked
    assert tables.read_table(spark, root, "t").count() == 3


def test_compact_without_keys_refuses_latest_wins_readers(spark, tmp_path):
    """A plain compact merges snapshots and destroys provenance; the
    manifest records it and read_table_latest raises instead of silently
    resurrecting superseded duplicate keys (ADVICE r3)."""
    import time as _time

    import pytest

    root = str(tmp_path)
    tables.append_snapshot(spark.createDataFrame([(1, "old")], ["id", "v"]), root, "t")
    _time.sleep(0.01)
    tables.append_snapshot(spark.createDataFrame([(1, "new")], ["id", "v"]), root, "t")
    tables.compact_table(spark, root, "t")
    assert tables.read_table(spark, root, "t").count() == 2  # union kept
    with pytest.raises(RuntimeError, match="compacted"):
        tables.read_table_latest(spark, root, "t", keys=["id"])


def test_compact_handles_missing_snapshot_dirs(spark, tmp_path):
    """Manifest lists snapshots whose dirs are gone (manual deletion /
    partial restore): compact must early-return empty stats, not crash on
    read_table() -> None (ADVICE r3)."""
    import shutil

    root = str(tmp_path)
    snap = tables.append_snapshot(
        spark.createDataFrame([(1, "a")], ["id", "v"]), root, "t"
    )
    shutil.rmtree(snap)
    stats = tables.compact_table(spark, root, "t")
    assert stats["files_after"] == 0
    stats = tables.compact_table(spark, root, "t", keys=["id"])
    assert stats["files_after"] == 0


def test_append_to_plain_dir_raises_and_keeps_its_rows(spark, tmp_path):
    """A write_table dir is a plain dir, read as one dir: an append to it
    raises instead of adopting its files into a snapshot, writes no
    manifest, and leaves its rows readable as they were."""
    root = str(tmp_path)
    rows = [(1, "a"), (2, "b")]
    path = tables.write_table(spark.createDataFrame(rows, ["id", "v"]), root, "t")
    with pytest.raises(RuntimeError, match="plain parquet dir"):
        tables.append_snapshot(spark.createDataFrame([(3, "c")], ["id", "v"]), root, "t")
    assert not os.path.exists(os.path.join(path, "_live_snapshots.json"))
    assert sorted(tuple(r) for r in tables.read_table(spark, root, "t").collect()) == rows
    assert tables.compact_table(spark, root, "t")["snapshots_before"] == 0
    assert sorted(tuple(r) for r in tables.read_table(spark, root, "t").collect()) == rows


def test_failed_first_swap_leaves_no_snapshot(spark, tmp_path, fail_swap):
    """A new table's first manifest swap fails after its snapshot dir was
    renamed into place. With no manifest the table has no snapshot: the
    dir is not read or counted, the next append's manifest lists only its
    own snapshot, and the next compaction deletes the orphan dir."""
    root = str(tmp_path)
    path = tables.table_path(root, "t")
    with fail_swap("t"), pytest.raises(RuntimeError, match="injected swap failure"):
        tables.append_snapshot(spark.createDataFrame([(1,)], "id: long"), root, "t")
    [orphan] = [d for d in os.listdir(path) if d.startswith("snap-")]
    assert tables.read_table(spark, root, "t") is None
    assert tables.row_count(root, "t") == 0
    assert tables.list_snapshots(root, "t") == []

    snap = tables.append_snapshot(spark.createDataFrame([(2,)], "id: long"), root, "t")
    assert tables._live_snapshots(path) == [os.path.basename(snap)]
    assert _ids(spark, root, "t") == [2]
    assert tables.row_count(root, "t") == 1
    tables.compact_table(spark, root, "t")
    assert not os.path.exists(os.path.join(path, orphan))
    assert _ids(spark, root, "t") == [2]


@pytest.mark.parametrize("content", ["{not json", '{"compacted": {"keys": null}}'])
def test_unreadable_manifest_raises_on_read_and_commit(spark, tmp_path, content):
    """A manifest that exists but cannot be read is an error, not a table
    without snapshots: a commit that took it as absent would publish a
    manifest without the committed snapshot."""
    root = str(tmp_path)
    snap = tables.append_snapshot(spark.createDataFrame([(1,)], "id: long"), root, "t")
    manifest = os.path.join(root, "t", "_live_snapshots.json")
    with open(manifest, "w") as f:
        f.write(content)
    for call in (
        lambda: tables.read_table(spark, root, "t"),
        lambda: tables.row_count(root, "t"),
        lambda: tables.append_snapshot(spark.createDataFrame([(2,)], "id: long"), root, "t"),
        lambda: tables.compact_table(spark, root, "t"),
    ):
        with pytest.raises((ValueError, KeyError)):
            call()
    with open(manifest) as f:
        assert f.read() == content
    assert os.path.isdir(snap)


def test_read_table_latest_same_millisecond_commits(spark, tmp_path):
    """Two snapshots committed in the same millisecond: latest-wins must
    rank by manifest APPEND ORDER, not by the name string (whose random hex
    suffix would tie-break nondeterministically) (ADVICE r4)."""
    import json
    import os

    root = str(tmp_path)
    path = tables.table_path(root, "t")
    # hex chosen so the NEWER commit sorts lexically SMALLER: a string-max
    # tie-break would resurrect the older row
    older, newer = "snap-1000-ffffffff", "snap-1000-aaaaaaaa"
    spark.createDataFrame([(1, "old")], ["id", "v"]).coalesce(1).write.parquet(
        os.path.join(path, older)
    )
    spark.createDataFrame([(1, "new")], ["id", "v"]).coalesce(1).write.parquet(
        os.path.join(path, newer)
    )
    with open(os.path.join(path, "_live_snapshots.json"), "w") as f:
        json.dump({"snapshots": [older, newer]}, f)
    got = tables.read_table_latest(spark, root, "t", keys=["id"]).collect()
    assert [(r["id"], r["v"]) for r in got] == [(1, "new")]


def test_operator_cache_release(spark, tmp_path):
    from chapterbridge_ocr_worker_spark.operators.cache import release_caches
    from chapterbridge_ocr_worker_spark.operators.dedup import minhash_candidates

    docs = spark.createDataFrame(
        [(i, f"common tokens here plus {i}") for i in range(30)],
        ["doc_id", "text"],
    )
    release_caches()  # drop anything earlier tests left behind
    minhash_candidates(docs).count()
    assert release_caches() == 1  # the signature cache was tracked + freed
    assert release_caches() == 0  # idempotent


def test_reliable_checkpoints_failed_cleanup_keeps_body_error():
    """A checkpoint dir that cannot be removed only warns: the exception
    the body raised is the one the caller sees."""
    import types

    from chapterbridge_ocr_worker_spark.operators.cache import reliable_checkpoints

    class _Context:
        def setCheckpointDir(self, d):
            self.dir = f"{d}/run-uuid"

        def getCheckpointDir(self):
            return self.dir

        @property
        def _jvm(self):
            raise RuntimeError("filesystem unavailable")

    spark = types.SimpleNamespace(sparkContext=_Context())
    with pytest.warns(UserWarning, match="run-uuid not removed"):
        with pytest.raises(ValueError, match="body failed"):
            with reliable_checkpoints(spark, "/state"):
                raise ValueError("body failed")


def test_snapshot_stats_prune_file_skipping(spark, tmp_path):
    """Manifest min/max stats (Iceberg column-stats analogue): a range read
    via read_table_pruned must (a) equal read_table + filter exactly,
    (b) physically touch ONLY the snapshot directories whose recorded
    range intersects the predicate, (c) always read stats-less snapshots
    (conservative), and (d) return an empty frame with the right schema
    when every snapshot is provably disjoint."""
    root = str(tmp_path)
    mk = lambda lo, n: spark.range(lo, lo + n).select(
        F.col("id").alias("doc_id"), (F.col("id") * 2).alias("v")
    )
    s1 = tables.append_snapshot(mk(0, 100), root, "docs", stats_cols=["doc_id"])
    s2 = tables.append_snapshot(mk(1000, 100), root, "docs", stats_cols=["doc_id"])
    s3 = tables.append_snapshot(mk(2000, 100), root, "docs", stats_cols=["doc_id"])

    got = tables.read_table_pruned(spark, root, "docs", "doc_id", 1010, 1050)
    want = (
        tables.read_table(spark, root, "docs")
        .filter("doc_id between 1010 and 1050")
    )
    assert sorted(r["doc_id"] for r in got.collect()) == sorted(
        r["doc_id"] for r in want.collect()
    )
    # (b) only the middle snapshot's files are in the scan
    files = got.inputFiles()
    assert files and all(s2.split("/")[-1] in f for f in files)
    assert not any(s1.split("/")[-1] in f or s3.split("/")[-1] in f for f in files)

    # inclusive bounds: the exact min/max edges of a snapshot still match
    edge = tables.read_table_pruned(spark, root, "docs", "doc_id", 2099, None)
    assert [r["doc_id"] for r in edge.collect()] == [2099]

    # (c) a stats-less append is never skipped
    tables.append_snapshot(mk(5000, 10), root, "docs")
    got2 = tables.read_table_pruned(spark, root, "docs", "doc_id", 5000, 5004)
    assert got2.count() == 5

    # (d) all-pruned range: empty, schema intact
    none = tables.read_table_pruned(spark, root, "docs", "doc_id", 9_000_000, None)
    assert none.count() == 0 and none.columns == ["doc_id", "v"]


def test_snapshot_stats_survive_commit_merges_and_compaction(spark, tmp_path):
    """Stats ride the manifest through other writers' commits; compaction
    (which merges snapshots and rewrites the manifest) drops them, after
    which pruned reads degrade to conservative full reads — never wrong."""
    root = str(tmp_path)
    mk = lambda lo, n: spark.range(lo, lo + n).select(F.col("id").alias("doc_id"))
    tables.append_snapshot(mk(0, 50), root, "t", stats_cols=["doc_id"])
    tables.append_snapshot(mk(100, 50), root, "t")  # no stats
    tables.append_snapshot(mk(200, 50), root, "t", stats_cols=["doc_id"])
    m = tables._read_manifest(tables.table_path(root, "t"))
    assert len(m.get("column_stats", {})) == 2  # both stats appends kept

    before = sorted(
        r["doc_id"]
        for r in tables.read_table_pruned(spark, root, "t", "doc_id", 0, 49).collect()
    )
    tables.compact_table(spark, root, "t")
    after_df = tables.read_table_pruned(spark, root, "t", "doc_id", 0, 49)
    assert sorted(r["doc_id"] for r in after_df.collect()) == before


def test_append_sizes_files_by_bytes(spark, tmp_path):
    """50 rows from 16 upstream partitions are one small file, not 16."""
    root = str(tmp_path)
    tables.append_snapshot(spark.range(50).repartition(16), root, "t")
    (snap,) = tables.list_snapshots(root, "t")
    assert snap["n_files"] == 1 and snap["record_count"] == 50


def test_observed_stats_equal_read_back_min_max(spark, tmp_path):
    """The stats observed in the write equal a min/max over the written
    parquet, on long, string and timestamp columns and on no rows."""
    import json
    import os

    root = str(tmp_path)
    cols = ["id", "s", "ts"]
    df = spark.range(7, 57).repartition(5).select(
        "id",
        F.format_string("k%03d", (F.col("id") * 37) % 101).alias("s"),
        F.timestamp_seconds(F.lit(1_700_000_000) - F.col("id") * 3600).alias("ts"),
    )
    for name, d in (("full", df), ("empty", df.limit(0))):
        snap = tables.append_snapshot(d, root, name, stats_cols=cols)
        back = spark.read.parquet(snap).agg(
            *[F.min(c) for c in cols], *[F.max(c) for c in cols]
        ).first()
        want = {
            c: [tables._json_safe_stat(back[i]), tables._json_safe_stat(back[i + 3])]
            for i, c in enumerate(cols)
        }
        with open(os.path.join(root, name, "_live_snapshots.json")) as f:
            got = json.load(f)["column_stats"][os.path.basename(snap)]
        assert got == json.loads(json.dumps(want))
    assert want == {c: [None, None] for c in cols}


def test_row_count_equals_read_count(spark, tmp_path, monkeypatch):
    """row_count (recorded counts of the live snapshots) equals a full
    read's count through appends, a rollback, and plain and keyed
    compaction (with an append committed during the rewrite)."""
    import time as _time

    root = str(tmp_path)

    def check(name):
        assert tables.row_count(root, name) == tables.read_table(spark, root, name).count()

    mk = lambda lo, n: spark.range(lo, lo + n).select(
        "id", (F.col("id") % 3).alias("k")
    )
    tables.append_snapshot(mk(0, 10), root, "t", stats_cols=["id"])
    tables.append_snapshot(mk(10, 5), root, "t", stats_cols=["id"])
    check("t")
    _time.sleep(0.01)  # the marker commits before the crashed attempt
    tables.append_snapshot(mk(0, 1), root, "marker", stats_cols=["id"])
    _time.sleep(0.01)
    tables.append_snapshot(mk(15, 7), root, "t", stats_cols=["id"])
    assert tables.row_count(root, "t") == 22
    assert tables.rollback_uncommitted(root, "marker", {"t": "id"}, 15) == {"t": 1}
    check("t")
    # the dropped snapshot's count and stats leave the manifest with it
    m = tables._read_manifest(tables.table_path(root, "t"))
    assert set(m["record_count"]) == set(m["column_stats"]) == set(m["snapshots"])
    assert tables.row_count(root, "t") == 15
    # an append that commits while compaction rewrites keeps its count
    # and stats
    real = tables._observed_write

    def rewrite_then_append(*a, **kw):
        monkeypatch.setattr(tables, "_observed_write", real)
        out = real(*a, **kw)
        tables.append_snapshot(mk(50, 3), root, "t", stats_cols=["id"])
        return out

    monkeypatch.setattr(tables, "_observed_write", rewrite_then_append)
    tables.compact_table(spark, root, "t")
    check("t")
    assert tables.row_count(root, "t") == 18
    m = tables._read_manifest(tables.table_path(root, "t"))
    assert m["column_stats"] == {m["snapshots"][1]: {"id": [50, 52]}}
    # keyed compaction counts after the superseded rows drop out
    tables.append_snapshot(mk(0, 10), root, "kt")
    _time.sleep(0.01)
    tables.append_snapshot(mk(0, 4), root, "kt")
    assert tables.row_count(root, "kt") == 14
    tables.compact_table(spark, root, "kt", keys=["id"])
    check("kt")
    assert tables.row_count(root, "kt") == 10
    assert tables.row_count(root, "missing") == 0


def _grid_df(spark, n=512):
    """Deterministic 2-D grid: x and y decorrelated so neither is a
    function of the other (the honest case for multi-dim clustering).
    y must NOT be an affine function of x — (id*37)%64 would collapse to
    37x mod 64 within each x class — so it hashes the full id."""
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % 64).alias("x"),
        F.pmod(F.xxhash64("id"), F.lit(64)).alias("y"),
    )


def test_zorder_box_read_equals_plain_filter(spark, tmp_path):
    df = _grid_df(spark)
    root = str(tmp_path / "wh")
    tables.write_table_zordered(df, root, "grid", ["x", "y"], n_partitions=16)
    got = tables.read_table_pruned_box(
        spark, root, "grid", {"x": (10, 20), "y": (30, 50)}
    )
    want = df.filter((F.col("x").between(10, 20)) & (F.col("y").between(30, 50)))
    assert sorted(r["id"] for r in got.collect()) == sorted(
        r["id"] for r in want.collect()
    )


def test_zorder_huge_magnitude_column(spark, tmp_path):
    """Z-ordering on an epoch-microsecond-scale column (span ~1.7e18):
    the quantizer's (col - mn) * levels long multiply overflowed int64
    and threw ARITHMETIC_OVERFLOW under ANSI mode. The double fallback
    only changes the z-key (layout), never results — file min/max stats
    guarantee the box read, so the pruned read must still equal a plain
    filter."""
    base = 1_700_000_000_000_000_000
    df = spark.range(512).select(
        F.col("id"),
        (F.lit(base) + F.col("id") * F.lit(3_300_000_000_000_000)).alias("ts"),
        F.pmod(F.xxhash64("id"), F.lit(64)).alias("y"),
    )
    root = str(tmp_path / "wh")
    tables.write_table_zordered(df, root, "huge", ["ts", "y"], n_partitions=8)
    lo, hi = base + 100 * 3_300_000_000_000_000, base + 200 * 3_300_000_000_000_000
    got = tables.read_table_pruned_box(
        spark, root, "huge", {"ts": (lo, hi), "y": (10, 40)}
    )
    want = df.filter(
        (F.col("ts").between(lo, hi)) & (F.col("y").between(10, 40))
    )
    assert sorted(r["id"] for r in got.collect()) == sorted(
        r["id"] for r in want.collect()
    )


def test_zorder_prunes_nonleading_dimension(spark, tmp_path):
    """The layout claim itself: a predicate on y ALONE (the non-leading
    dimension of a 1-D sort) prunes files under the z-order layout but
    cannot prune a layout sorted by x — this is what z-ordering buys at
    100 TB over plain sorting."""
    df = _grid_df(spark)
    root = str(tmp_path / "wh")
    tables.write_table_zordered(df, root, "zgrid", ["x", "y"], n_partitions=16)
    tables.append_snapshot(
        df.repartitionByRange(16, "x").sortWithinPartitions("x"),
        root,
        "xgrid",
        stats_cols=["x", "y"],
        file_stats_cols=["x", "y"],
    )
    preds = {"y": (0, 7)}  # 1/8 of the y range, all of x
    zsel = tables.pruned_selection(tables.table_path(root, "zgrid"), preds)
    xsel = tables.pruned_selection(tables.table_path(root, "xgrid"), preds)
    assert zsel["files_kept"] < zsel["files_total"] / 2
    assert xsel["files_kept"] == xsel["files_total"]
    # pruning never changes answers
    got = tables.read_table_pruned_box(spark, root, "zgrid", preds).count()
    assert got == df.filter(F.col("y").between(0, 7)).count()


def test_box_all_pruned_preserves_schema(spark, tmp_path):
    df = _grid_df(spark)
    root = str(tmp_path / "wh")
    tables.write_table_zordered(df, root, "grid", ["x", "y"], n_partitions=4)
    got = tables.read_table_pruned_box(
        spark, root, "grid", {"x": (1000, 2000)}
    )
    assert got.count() == 0
    assert got.columns == ["id", "x", "y"]


def test_box_statless_snapshot_is_conservative(spark, tmp_path):
    """A snapshot appended without file stats mixed into a z-ordered table
    must always be read (no wrong skips), and the union stays correct."""
    df = _grid_df(spark)
    root = str(tmp_path / "wh")
    tables.write_table_zordered(df, root, "grid", ["x", "y"], n_partitions=4)
    late = spark.createDataFrame([(9999, 10, 40)], "id: long, x: long, y: long")
    tables.append_snapshot(late, root, "grid")  # no stats at all
    got = tables.read_table_pruned_box(
        spark, root, "grid", {"x": (10, 10), "y": (40, 40)}
    ).collect()
    assert 9999 in {r["id"] for r in got}
    want = df.filter((F.col("x") == 10) & (F.col("y") == 40)).count() + 1
    assert len(got) == want


def test_snapshot_names_follow_publish_order_not_stage_order(spark, tmp_path, monkeypatch):
    """A two-table commit whose first table (state) starts writing only
    after the second (the marker) finished its stage: the state snapshot is
    still named with a commit millisecond at or before the marker's, so a
    slice that breaks crawl order rolls nothing back. A name taken when a
    stage starts writing would put the marker first and drop committed
    state. The caller's job group reaches the stage threads' Spark jobs."""
    import threading
    import time as _time

    root = str(tmp_path)
    marker_staged = threading.Event()
    real = tables._observed_write

    def observed_write(df, path, *a, **kw):
        out = real(df, path, *a, **kw)
        if os.path.basename(os.path.dirname(path)) == "marker":
            marker_staged.set()
        return out

    def late_state():
        # runs in the state table's stage thread, before its write starts
        assert marker_staged.wait(60)
        _time.sleep(0.01)
        return spark.createDataFrame([(20,), (21,)], "id: long")

    monkeypatch.setattr(tables, "_observed_write", observed_write)
    sc = spark.sparkContext
    sc.setJobGroup("two-phase-commit", "append_snapshots")
    try:
        tables.append_snapshots(spark, root, [
            ("state", late_state, ["id"]),
            ("marker", spark.createDataFrame([(20,), (21,)], "id: long"), ["id"]),
        ])
        jobs = sc.statusTracker().getJobIdsForGroup("two-phase-commit")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert len(jobs) >= 2  # at least one write job per table
    state, marker = (tables.list_snapshots(root, t)[-1]["name"] for t in ("state", "marker"))
    assert tables._snap_millis(state) <= tables._snap_millis(marker)
    assert tables.rollback_uncommitted(root, "marker", {"state": "id"}, 5) == {}
    assert sorted(r["id"] for r in tables.read_table(spark, root, "state").collect()) == [20, 21]


def test_failed_stage_publishes_no_table(spark, tmp_path, fail_stage):
    """One table's stage fails after its rows are written: append_snapshots
    raises it, no table of the commit gains a snapshot, and the written
    rows sit in an in-flight dir no reader sees."""
    root = str(tmp_path)
    tables.append_snapshot(spark.createDataFrame([(1,)], "id: long"), root, "a")
    with fail_stage("b"), pytest.raises(RuntimeError, match="injected stage failure"):
        tables.append_snapshots(spark, root, [
            ("a", spark.createDataFrame([(2,)], "id: long")),
            ("b", spark.createDataFrame([(3,)], "id: long")),
        ])
    assert [r["id"] for r in tables.read_table(spark, root, "a").collect()] == [1]
    assert tables.list_snapshots(root, "b") == []
    assert tables.read_table(spark, root, "b") is None
    assert tables.row_count(root, "b") == 0
    assert any(d.startswith(".inflight-") for d in os.listdir(os.path.join(root, "b")))


@pytest.mark.parametrize("keys", [None, ["id"]])
def test_compaction_keeps_an_append_committed_during_its_read(spark, tmp_path, monkeypatch, keys):
    """An append that commits once compaction has resolved its snapshot
    set, as the rewrite starts reading, is kept as a late arrival and not
    also rewritten: a 2-row table plus a 1-row append read back as
    [1, 2, 3], not [1, 2, 3, 3]."""
    from pyspark.sql.readwriter import DataFrameReader

    root = str(tmp_path)

    def one(i):
        return spark.createDataFrame([(i,)], "id: long")

    tables.append_snapshot(one(1), root, "t")
    tables.append_snapshot(one(2), root, "t")
    appended = []

    def append_first(real):
        def read(*a, **kw):
            if not appended:
                appended.append(tables.append_snapshot(one(3), root, "t"))
            return real(*a, **kw)

        return read

    with monkeypatch.context() as m:
        for owner, name in (
            (tables, "read_table"), (tables, "read_table_latest"), (DataFrameReader, "parquet")
        ):
            m.setattr(owner, name, append_first(getattr(owner, name)))
        tables.compact_table(spark, root, "t", keys=keys)
    assert appended
    assert sorted(r["id"] for r in tables.read_table(spark, root, "t").collect()) == [1, 2, 3]
    assert tables.row_count(root, "t") == 3


def _three_snapshot_tables(spark, root):
    """Tables a and b with three one-row snapshots each, c with one."""
    for i in range(3):
        for name, base in (("a", 0), ("b", 10)):
            tables.append_snapshot(spark.createDataFrame([(base + i,)], "id: long"), root, name)
    tables.append_snapshot(spark.createDataFrame([(20,)], "id: long"), root, "c")


def _ids(spark, root, name):
    return sorted(r["id"] for r in tables.read_table(spark, root, name).collect())


def test_compact_tables_compacts_due_tables_concurrently(spark, tmp_path, monkeypatch):
    """One compact_tables call compacts both due tables at the same time
    (each compaction waits for the other to start), each reads the same
    rows after, and the result lists them in ``how`` order."""
    import threading

    root = str(tmp_path)
    _three_snapshot_tables(spark, root)
    both_started = threading.Barrier(2, timeout=60)
    real = tables.compact_table

    def compact_table(*a, **kw):
        both_started.wait()
        return real(*a, **kw)

    monkeypatch.setattr(tables, "compact_table", compact_table)
    got = tables.compact_tables(spark, root, {"b": None, "c": None, "a": ["id"]}, 2)
    assert list(got.items()) == [("b", 3), ("a", 3)]
    assert _ids(spark, root, "a") == [0, 1, 2]
    assert _ids(spark, root, "b") == [10, 11, 12]
    assert [len(tables.list_snapshots(root, t)) for t in "abc"] == [1, 1, 1]


def test_compact_tables_failure_propagates(spark, tmp_path, monkeypatch):
    """A compaction that raises fails the compact_tables call, and the
    table compacted beside it still reads each of its rows exactly once."""
    root = str(tmp_path)
    _three_snapshot_tables(spark, root)
    real = tables.compact_table

    def compact_table(spark, root, name, **kw):
        if name == "a":
            raise RuntimeError("injected compaction failure")
        return real(spark, root, name, **kw)

    monkeypatch.setattr(tables, "compact_table", compact_table)
    with pytest.raises(RuntimeError, match="injected compaction failure"):
        tables.compact_tables(spark, root, {"a": ["id"], "b": None}, 2)
    assert _ids(spark, root, "a") == [0, 1, 2]
    assert _ids(spark, root, "b") == [10, 11, 12]
    assert tables.row_count(root, "b") == 3
