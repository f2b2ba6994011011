"""The weekly jobs' shared resume-and-rollback protocol
(operators.resume.weekly_run), driven in-process: a crash right after any
state append, then a rerun, leaves the outputs, every state table and the
stats a crash-free run leaves."""

import importlib.util
import os
import random
import shutil
from collections import Counter

import pytest
from pyspark.sql import functions as F

from chapterbridge_ocr_worker_spark.sources import tables

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_job(name):
    spec = importlib.util.spec_from_file_location(name, os.path.join(REPO, "jobs", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _freeze(v):
    return tuple(_freeze(x) for x in v) if isinstance(v, (list, tuple)) else v


def _rows(df):
    return Counter(_freeze(r) for r in df.collect())


_rng = random.Random(777)
_vocab = [f"tok{i:03d}" for i in range(4000)]
DEDUP_TEXTS = {i: " ".join(_rng.sample(_vocab, 50)) for i in range(40)}
DEDUP_TEXTS[24] = DEDUP_TEXTS[3]   # prior-vs-new dup
DEDUP_TEXTS[26] = DEDUP_TEXTS[25]  # new-vs-new dup
EXACT_TEXTS = {i: f"exact doc body number {i}" for i in range(40)}
EXACT_TEXTS[24] = EXACT_TEXTS[3]
EXACT_TEXTS[26] = EXACT_TEXTS[25]
SPAN_TEXTS = {
    0: "a b c d e f",   # owns "a b" "c d" "e f"
    1: "a b x y",       # loses "a b", owns "x y"
    2: "",              # empty doc
    10: "c d p q r s",  # slice 2: loses "c d" to doc 0
    11: "p q n m",      # slice 2: loses "p q" to doc 10 (new-vs-new)
    12: "zz ww",        # slice 2: all fresh
}
E1, E2, E3 = [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]


def _texts(texts, ids):
    return [(i, texts[i]) for i in ids], ["doc_id", "text"]


def _check_dedup(spark, w, state, out):
    """Rolling labels equal a full recompute over the union."""
    from chapterbridge_ocr_worker_spark.operators.dedup import neardup_clusters

    union = spark.createDataFrame(*_texts(DEDUP_TEXTS, range(40)))
    labels = tables.read_table_latest(spark, state, "clusters", keys=["id"])
    assert {r["id"]: r["cluster_id"] for r in labels.collect()} == {
        r["id"]: r["cluster_id"] for r in neardup_clusters(union, threshold=0.6).collect()
    }


def _check_span(spark, w, state, out):
    """Cleaned slice equals a full recompute restricted to it; the segment
    set is the union's."""
    from chapterbridge_ocr_worker_spark.operators.curation import segment_dedup

    full = segment_dedup(spark.createDataFrame(list(SPAN_TEXTS.items()), ["doc_id", "text"]), k=2)
    cols = ("n_segs", "n_removed", "text_clean")
    assert {
        r["doc_id"]: tuple(r[c] for c in cols)
        for r in spark.read.parquet(os.path.join(out, "cleaned")).collect()
    } == {r["doc_id"]: tuple(r[c] for c in cols) for r in full.collect() if r["doc_id"] >= 10}
    assert {r["seg"] for r in tables.read_table(spark, state, "segments").collect()} == {
        "a b", "c d", "e f", "x y", "p q", "r s", "n m", "zz ww"
    }


def _check_emb(spark, w, state, out):
    """The near-dup pairs of the slice, and one signature row per vector."""
    assert {
        (r["id_a"], r["id_b"], r["cos_r"])
        for r in spark.read.parquet(os.path.join(out, "pairs")).collect()
    } == {(0, 10, 1.0), (1, 10, 1.0), (11, 12, 1.0)}
    sig_ids = [r["id"] for r in tables.read_table(spark, state, "sigs").collect()]
    assert sorted(sig_ids) == [0, 1, 2, 10, 11, 12]


def _check_exact(spark, w, state, out):
    """Bootstrap plus incremental decisions equal keep-first over the union."""
    from chapterbridge_ocr_worker_spark.operators.dedup import exact_hashes

    full_h = exact_hashes(spark.createDataFrame(*_texts(EXACT_TEXTS, range(40))))
    first = full_h.groupBy("h").agg(F.min("id").alias("f"))
    full_keep = {r["id"]: int(r["id"] == r["f"]) for r in full_h.join(first, "h").collect()}
    got = {}
    for d in (str(w.root / "clean" / "out0"), out):
        decisions = spark.read.parquet(os.path.join(d, "decisions")).collect()
        got.update({r["id"]: r["keep"] for r in decisions})
    assert got == full_keep


# per job: its two slices, input flag, extra argv, output dirs, state tables
# (the marker published last), the tables rollback owns, and the assertions
# the CLI tests used to make after a simulated crash
JOBS = {
    "dedup_job": dict(
        slices=[_texts(DEDUP_TEXTS, range(24)), _texts(DEDUP_TEXTS, range(24, 40))],
        flag="--documents", argv=[], outputs=["decisions"],
        tables=["clusters", "signatures"], rolls={"clusters"}, check=_check_dedup,
    ),
    "spandedup_job": dict(
        slices=[_texts(SPAN_TEXTS, (0, 1, 2)), _texts(SPAN_TEXTS, (10, 11, 12))],
        flag="--documents", argv=["--k", "2"], outputs=["cleaned"],
        tables=["segments", "docs"], rolls={"segments"}, check=_check_span,
    ),
    "embdedup_job": dict(
        slices=[
            ([(0, E1), (1, E1), (2, E2)], "vec_id: long, embedding: array<float>"),
            ([(10, E1), (11, E3), (12, E3)], "vec_id: long, embedding: array<float>"),
        ],
        flag="--embeddings", argv=[], outputs=["pairs", "keep"],
        tables=["sigs", "vecs"], rolls={"sigs"}, check=_check_emb,
    ),
    "exactdedup_job": dict(
        slices=[_texts(EXACT_TEXTS, range(24)), _texts(EXACT_TEXTS, range(24, 40))],
        flag="--documents", argv=[], outputs=["decisions"],
        tables=["hashes"], rolls=set(), check=_check_exact,
    ),
}


class Weekly:
    """One job's two slices on disk, its bootstrapped state, and the
    outputs / state rows / stats of a crash-free bootstrap and weekly run."""

    def __init__(self, spark, name, root):
        self.spark, self.spec, self.root = spark, JOBS[name], root
        self.job = load_job(name)
        self.inputs = []
        for i, (rows, schema) in enumerate(self.spec["slices"]):
            path = str(root / f"slice{i}")
            spark.createDataFrame(rows, schema).write.parquet(path)
            self.inputs.append(path)
        self.state0 = str(root / "state0")
        self.clean = [self.run(0, self.state0, str(root / "clean" / "out0"))]
        state = self.copy_state0(str(root / "clean" / "state"))
        self.clean.append(self.run(1, state, str(root / "clean" / "out1")))

    def run(self, i, state, out, *argv):
        """Run the job over slice i; returns (stats, outputs, state rows)."""
        args = self.job.parse_args(
            [self.spec["flag"], self.inputs[i], "--state", state, "--out", out,
             *self.spec["argv"], *argv]
        )
        stats = self.job.run(self.spark, args)
        outputs = {
            d: _rows(self.spark.read.parquet(os.path.join(out, d))) for d in self.spec["outputs"]
        }
        rows = {n: _rows(tables.read_table(self.spark, state, n)) for n in self.spec["tables"]}
        return stats, outputs, rows

    def copy_state0(self, dst):
        shutil.copytree(self.state0, dst, ignore=shutil.ignore_patterns("_checkpoints"))
        return dst


@pytest.fixture(scope="module")
def weekly(spark, tmp_path_factory):
    cache = {}

    def get(name):
        if name not in cache:
            cache[name] = Weekly(spark, name, tmp_path_factory.mktemp(name))
        return cache[name]

    return get


def _without(stats, *keys):
    return {k: v for k, v in stats.items() if k not in keys}


@pytest.mark.parametrize(
    "name,slice_,k",
    [
        ("dedup_job", 0, 1),
        ("dedup_job", 1, 1),
        ("spandedup_job", 0, 1),
        ("spandedup_job", 1, 1),
        ("embdedup_job", 0, 1),
        ("embdedup_job", 1, 1),
        ("exactdedup_job", 0, 1),
        ("exactdedup_job", 1, 1),
    ],
)
def test_crash_after_state_append_then_rerun_is_exact(
    spark, weekly, crash_appends, tmp_path, name, slice_, k
):
    """Slice 1 is a weekly run on the bootstrapped state; slice 0 is the
    bootstrap itself. The run crashes at its k-th publish, after it
    commits when the marker's publish is still to come, before it commits
    when it is the marker's own (exactdedup's marker is its only state
    table). The rerun rolls back the crashed attempt's snapshots and must
    equal the crash-free run."""
    w = weekly(name)
    state = str(tmp_path / "state")
    if slice_:
        w.copy_state0(state)
    out = str(tmp_path / f"out{slice_}")
    crash = pytest.raises(RuntimeError, match="injected crash")
    with crash_appends(k, commit=k < len(w.spec["tables"])) as calls, crash:
        w.run(slice_, state, out)
    spark.catalog.clearCache()

    stats, outputs, rows = w.run(slice_, state, out)
    clean_stats, clean_outputs, clean_rows = w.clean[slice_]
    assert rows == clean_rows
    assert outputs == clean_outputs
    assert _without(stats, "rolled_back") == _without(clean_stats, "rolled_back")
    assert stats["rolled_back"] == {t: 1 for t in calls if t in w.spec["rolls"]}
    if slice_:
        w.spec["check"](spark, w, state, out)


@pytest.mark.parametrize(
    "name,table", [(name, table) for name, spec in JOBS.items() for table in spec["tables"]]
)
def test_failed_first_swap_in_bootstrap_then_rerun_is_exact(
    spark, weekly, fail_swap, tmp_path, name, table
):
    """The bootstrap's first manifest swap of one state table fails after
    its snapshot dir was renamed into place. Without a manifest that dir
    is no snapshot, so the rerun neither reads it (spandedup would judge
    the slice against its own segments) nor takes the marker as committed,
    rolls back what the attempt published before it, and equals the
    crash-free bootstrap."""
    w = weekly(name)
    state, out = str(tmp_path / "state"), str(tmp_path / "out0")
    with fail_swap(table), pytest.raises(RuntimeError, match="injected swap failure"):
        w.run(0, state, out)
    spark.catalog.clearCache()

    stats, outputs, rows = w.run(0, state, out)
    clean_stats, clean_outputs, clean_rows = w.clean[0]
    assert rows == clean_rows
    assert outputs == clean_outputs
    assert _without(stats, "rolled_back") == _without(clean_stats, "rolled_back")
    published = w.spec["tables"][: w.spec["tables"].index(table)]
    assert stats["rolled_back"] == {t: 1 for t in published if t in w.spec["rolls"]}


def test_failed_stage_in_weekly_run_publishes_nothing(spark, weekly, fail_stage, tmp_path):
    """dedup_job's weekly run fails while writing its clusters snapshot:
    no state table gains a snapshot, so the rerun has nothing to roll back
    and equals the crash-free run."""
    w = weekly("dedup_job")
    state = w.copy_state0(str(tmp_path / "state"))
    before = {t: tables.list_snapshots(state, t) for t in w.spec["tables"]}
    out = str(tmp_path / "out1")
    with fail_stage("clusters"), pytest.raises(RuntimeError, match="injected stage failure"):
        w.run(1, state, out)
    spark.catalog.clearCache()
    assert {t: tables.list_snapshots(state, t) for t in w.spec["tables"]} == before

    stats, outputs, rows = w.run(1, state, out)
    clean_stats, clean_outputs, clean_rows = w.clean[1]
    assert rows == clean_rows
    assert outputs == clean_outputs
    assert stats == clean_stats
    assert stats["rolled_back"] == {}
    _check_dedup(spark, w, state, out)


def test_dedup_job_removes_its_checkpoints(weekly):
    """The connected-components checkpoints of the bootstrap and of the
    weekly run are gone from the state dir once each run ends."""
    w = weekly("dedup_job")
    for state in (w.state0, str(w.root / "clean" / "state")):
        left = [f for _, _, fs in os.walk(os.path.join(state, "_checkpoints")) for f in fs]
        assert left == [], state


def test_exactdedup_judge_is_one_membership_join_on_hashes(spark, weekly, monkeypatch, tmp_path):
    """exactdedup's weekly decisions scan the hashes marker once for h (the
    exact membership join) and once for id (the resume anti-join, inside
    the cached slice hashes), read no other table, and hold no Bloom
    bitmap: no position explode, no widx join."""
    import re

    from chapterbridge_ocr_worker_spark.plans import inspect as pi

    w = weekly("exactdedup_job")
    plans = []
    real = tables.write_table

    def write_table(df, root, name):
        plans.append(pi.formatted(df))
        return real(df, root, name)

    monkeypatch.setattr(tables, "write_table", write_table)
    state = w.copy_state0(str(tmp_path / "state"))
    assert w.run(1, state, str(tmp_path / "out1")) == w.clean[1]
    [plan] = plans
    scans = [
        (re.search(r"Location: .*", b).group(0), re.search(r"ReadSchema: (.*)", b).group(1))
        for b in plan.split("\n\n")
        if re.match(r"\(\d+\) Scan parquet", b.strip())
    ]
    hashes = os.path.join(state, "hashes", "")
    assert sorted(schema for loc, schema in scans if hashes in loc) == [
        "struct<h:string>",
        "struct<id:bigint>",
    ]
    assert all(hashes in loc or w.inputs[1] in loc for loc, _ in scans)
    assert "explode" not in plan and "widx" not in plan


@pytest.fixture(scope="module")
def ivf_weekly(spark, weekly, tmp_path_factory):
    """embdedup_job's slice-0 IVF index, and a crash-free weekly run that
    maintains a copy of it."""
    from chapterbridge_ocr_worker_spark.operators.similarity import ivf_build_index

    w = weekly("embdedup_job")
    root = tmp_path_factory.mktemp("ivf")
    base = str(root / "base")
    ivf_build_index(spark.read.parquet(w.inputs[0]), base, n_centroids=2)
    idx = shutil.copytree(base, str(root / "clean_ivf"))
    clean = w.run(1, w.copy_state0(str(root / "state")), str(root / "out1"), "--ivf-index", idx)
    return w, base, clean


@pytest.mark.parametrize("commit", [True, False])
@pytest.mark.parametrize("k", [1, 2, 3])
def test_crash_in_weekly_run_with_ivf_index_then_rerun_is_exact(
    spark, ivf_weekly, crash_appends, tmp_path, k, commit
):
    """embdedup_job --ivf-index publishes the index append (1), then sigs
    (2), then the vecs marker (3). A crash at any publish, before or after
    it commits, reruns to the crash-free state and outputs, and the index
    holds each vector id once."""
    w, base, (clean_stats, clean_outputs, clean_rows) = ivf_weekly
    state = w.copy_state0(str(tmp_path / "state"))
    idx = shutil.copytree(base, str(tmp_path / "ivf"))
    out = str(tmp_path / "out1")
    with crash_appends(k, commit), pytest.raises(RuntimeError, match="injected crash"):
        w.run(1, state, out, "--ivf-index", idx)
    spark.catalog.clearCache()

    stats, outputs, rows = w.run(1, state, out, "--ivf-index", idx)
    assert rows == clean_rows
    assert outputs == clean_outputs
    if stats["mode"] != "resume-noop":  # a committed marker leaves nothing to redo
        assert _without(stats, "rolled_back") == _without(clean_stats, "rolled_back")
    ids = Counter(r["neighbor_id"] for r in tables.read_table(spark, idx, "assignments").collect())
    assert ids == Counter([0, 1, 2, 10, 11, 12])


def test_weekly_dedup_appends_only_the_labels_it_recomputed(spark, weekly):
    """The weekly run's clusters snapshot is the label delta: the slice's
    docs plus the one prior doc (3) a new doc joined, not a relabeling of
    the whole corpus. The latest-wins read still equals a full recompute."""
    w = weekly("dedup_job")
    state = str(w.root / "clean" / "state")
    snaps = tables.list_snapshots(state, "clusters")
    assert len(snaps) == 2  # bootstrap + weekly run, not compacted
    newest = spark.read.parquet(os.path.join(state, "clusters", snaps[-1]["name"]))
    assert sorted(r["id"] for r in newest.collect()) == [3, *range(24, 40)]
    _check_dedup(spark, w, state, str(w.root / "clean" / "out1"))


def test_weekly_dedup_on_state_without_bucket_tables_survives_crash(
    spark, weekly, crash_appends, tmp_path
):
    """A state dir holding only signatures and clusters (no buckets/ or
    bucket_counts/ tables): a weekly run crashed after its first append
    reruns to exactly the crash-free run. Deriving bucket state from the
    signature table leaves no one-time backfill a crash could cut in
    half."""
    w = weekly("dedup_job")
    state = w.copy_state0(str(tmp_path / "state"))
    for name in ("buckets", "bucket_counts"):
        shutil.rmtree(os.path.join(state, name), ignore_errors=True)
    out = str(tmp_path / "out1")
    with crash_appends(1, commit=True), pytest.raises(RuntimeError, match="injected crash"):
        w.run(1, state, out)
    spark.catalog.clearCache()

    stats, outputs, rows = w.run(1, state, out)
    clean_stats, clean_outputs, clean_rows = w.clean[1]
    assert rows == clean_rows
    assert outputs == clean_outputs
    assert _without(stats, "rolled_back") == _without(clean_stats, "rolled_back")
    _check_dedup(spark, w, state, out)


def test_crash_after_compacting_run_rolls_back_only_the_crashed_attempt(
    spark, weekly, crash_appends, monkeypatch, tmp_path
):
    """Every run compacts both tables, so the crashed attempt appends after
    stats-less compaction outputs of both the state table and the marker;
    only its own segments snapshot rolls back."""
    w = weekly("spandedup_job")
    monkeypatch.setattr(w.job, "COMPACT_AFTER", 0)
    state = str(tmp_path / "state")
    boot, _, _ = w.run(0, state, str(tmp_path / "out0"))
    assert boot["compacted"] == {"segments": 1, "docs": 1}
    out = str(tmp_path / "out1")
    with crash_appends(1, commit=True), pytest.raises(RuntimeError, match="injected crash"):
        w.run(1, state, out)

    stats, outputs, rows = w.run(1, state, out)
    clean_stats, clean_outputs, clean_rows = w.clean[1]
    assert rows == clean_rows
    assert outputs == clean_outputs
    assert _without(stats, "rolled_back", "compacted") == _without(
        clean_stats, "rolled_back", "compacted"
    )
    assert stats["rolled_back"] == {"segments": 1}


def test_rollback_keeps_snapshots_committed_before_the_marker(spark, tmp_path):
    """A slice with ids below the committed ids (crawl order broken) reaches
    every committed snapshot by its stats; only the snapshot committed after
    the marker's newest one rolls back."""
    root = str(tmp_path)

    def append(name, ids):
        tables.append_snapshot(
            spark.createDataFrame([(i,) for i in ids], "id: long"), root, name, stats_cols=["id"]
        )

    for week in ([10, 11], [20, 21]):  # two committed runs: state, then marker
        append("state", week)
        append("marker", week)
    append("state", [30, 31])  # a crashed attempt's append
    dropped = tables.rollback_uncommitted(root, "marker", {"state": "id"}, 5)
    ids = sorted(r["id"] for r in tables.read_table(spark, root, "state").collect())
    assert ids == [10, 11, 20, 21]
    assert dropped == {"state": 1}
    # nothing left after the marker: a second rollback drops nothing
    assert tables.rollback_uncommitted(root, "marker", {"state": "id"}, 5) == {}
