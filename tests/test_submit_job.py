"""The spark-submit entrypoint runs end-to-end from a clean subprocess
(no PYTHONPATH), resumes on rerun, and prints one JSON stats line."""

import json
import os
import subprocess
import sys


def test_extract_job_cli(spark, tmp_path):
    from chapterbridge_ocr_worker_spark import datagen, schemas

    docs, media = datagen.generate_corpus(n_docs=15, seed=31, corrupt_fraction=0.07)
    docs_dir = str(tmp_path / "docs")
    media_dir = str(tmp_path / "media")
    spark.createDataFrame(docs, schema=schemas.DOCUMENTS).write.parquet(docs_dir)
    spark.createDataFrame(media, schema=schemas.MEDIA).write.parquet(media_dir)
    wh = str(tmp_path / "wh")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}

    def run():
        out = subprocess.run(
            [sys.executable, os.path.join(repo, "jobs", "extract_job.py"),
             "--documents", docs_dir, "--media", media_dir,
             "--warehouse", wh, "--cores", "4"],
            capture_output=True, text=True, timeout=600, env=env,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        return json.loads(line)

    s1 = run()
    assert s1["mode"] == "batch"
    assert s1["docs"] + s1["failed_docs"] == 15
    s2 = run()  # resume: only the failed docs retry, none newly commit
    assert s2["docs"] == 0
    assert s2["failed_docs"] == s1["failed_docs"]


def test_dedup_job_cli_bootstrap_then_incremental(spark, tmp_path):
    """The weekly-crawl dedup entrypoint: run 1 bootstraps the state dir
    (full dedup + signature table), run 2 judges a new slice against the
    materialized state incrementally. Clean subprocess, invocations sharing
    --state; crash recovery is tests/test_weekly_jobs.py."""
    import random

    rng = random.Random(777)
    vocab = [f"tok{i:03d}" for i in range(4000)]
    texts = {i: " ".join(rng.sample(vocab, 50)) for i in range(40)}
    texts[24] = texts[3]   # prior-vs-new dup
    texts[26] = texts[25]  # new-vs-new dup

    w1 = str(tmp_path / "week1")
    w2 = str(tmp_path / "week2")
    spark.createDataFrame(
        [(i, texts[i]) for i in range(24)], ["doc_id", "text"]
    ).write.parquet(w1)
    spark.createDataFrame(
        [(i, texts[i]) for i in range(24, 40)], ["doc_id", "text"]
    ).write.parquet(w2)
    state = str(tmp_path / "state")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}

    def run(docs_dir, out_dir):
        out = subprocess.run(
            [sys.executable, os.path.join(repo, "jobs", "dedup_job.py"),
             "--documents", docs_dir, "--state", state,
             "--out", out_dir, "--cores", "4"],
            capture_output=True, text=True, timeout=600, env=env,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        return json.loads(
            [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        )

    s1 = run(w1, str(tmp_path / "out1"))
    assert {
        k: s1[k]
        for k in ("mode", "docs_in", "skipped_done", "kept",
                  "dropped_as_dups", "corpus_total", "compacted")
    } == {
        "mode": "bootstrap", "docs_in": 24, "skipped_done": 0, "kept": 24,
        "dropped_as_dups": 0, "corpus_total": 24, "compacted": {},
    }
    # closure telemetry surfaces in the run stats (drift watchability)
    assert s1["cc_converged"] is True and s1["cc_rounds"] >= 1

    s2 = run(w2, str(tmp_path / "out2"))
    assert s2["mode"] == "incremental"
    assert s2["docs_in"] == 16 and s2["corpus_total"] == 40
    assert s2["dropped_as_dups"] == 2  # 24 (dup of prior 3), 26 (dup of 25)
    assert s2["cc_converged"] is True and s2["n_new_pairs"] >= 2

    # rerunning the committed slice is a no-op: state untouched, no
    # duplicate signature rows to skew later bucket counts
    s2b = run(w2, str(tmp_path / "out2b"))
    assert s2b["mode"] == "resume-noop"
    assert s2b["skipped_done"] == 16 and s2b["corpus_total"] == 40
    dec = {
        r["id"]: (r["keep"], r["cluster_id"])
        for r in spark.read.parquet(str(tmp_path / "out2" / "decisions")).collect()
    }
    assert dec[24] == (0, 3) and dec[26] == (0, 25) and dec[25] == (1, 25)
    # state carries the union forward for week 3
    from chapterbridge_ocr_worker_spark.operators.dedup import neardup_clusters
    from chapterbridge_ocr_worker_spark.sources import tables

    assert tables.read_table(spark, state, "signatures").count() == 40
    # the rolling label table (latest-wins per id) must equal a full
    # recompute over the union — the no-stale-labels guarantee
    state_labels = {
        r["id"]: r["cluster_id"]
        for r in tables.read_table_latest(
            spark, state, "clusters", keys=["id"]
        ).collect()
    }
    full_labels = {
        r["id"]: r["cluster_id"]
        for r in neardup_clusters(
            spark.createDataFrame(
                [(i, texts[i]) for i in range(40)], ["doc_id", "text"]
            ),
            threshold=0.6,
        ).collect()
    }
    assert state_labels == full_labels


def _files_under(path):
    return [f for _, _, fs in os.walk(path) for f in fs]


def test_curate_job_cli(spark, tmp_path):
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = [
        (1, " ".join(words)),
        (2, " ".join(words[:-1])),       # near-dup of 1 -> same cluster
        (3, "the cat is in the hat and it is a cat"),
        (4, "der hund ist nicht ein hund und das ist"),
    ]
    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(docs_dir)
    out_dir = str(tmp_path / "curated")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs", "curate_job.py"),
         "--documents", docs_dir, "--out", out_dir, "--cores", "4"],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    stats = json.loads(
        [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    )
    assert stats["docs_in"] == 4
    assert stats["docs_kept"] == 3 and stats["dropped_as_dups"] == 1
    assert stats["languages"]["en"]["docs"] == 1  # doc 3 (1/2's rep is 'unknown')
    assert stats["languages"]["de"]["docs"] == 1
    kept = {r["doc_id"] for r in spark.read.parquet(f"{out_dir}/kept_docs").collect()}
    assert kept == {1, 3, 4}  # doc 2 collapsed into cluster rep 1
    topk = spark.read.parquet(f"{out_dir}/curated_topk")
    assert topk.filter("rank = 1").count() == topk.select("pred_lang").distinct().count()
    # the job must set a RELIABLE checkpoint dir on its durable storage so
    # connected_components survives executor loss on a real cluster
    assert os.path.isdir(os.path.join(out_dir, "_checkpoints"))
    # ... and removes this run's checkpoints once clustering is done
    assert _files_under(os.path.join(out_dir, "_checkpoints")) == []
    # closure telemetry surfaces in the stats JSON
    assert stats["cc_converged"] is True and stats["cc_rounds"] >= 1


def test_corpus_job_cli(spark, tmp_path):
    """End-to-end pre-training funnel (jobs/corpus_job.py): constructed
    corpus where every gate has exactly one designed victim, so the funnel
    counts are checkable by hand; plus determinism — a rerun produces the
    byte-identical packed corpus."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base, "en"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota", "en"),
        (3, "spam spam spam spam spam spam spam spam", "en"),  # stutter
        # contains the benchmark 8-gram verbatim
        (4, "leading words one two three four five six seven eight done", "en"),
        (5, "mail me at alice@example.com for the draft paper", "de"),
        (6, "completely unrelated prose about gardens and rivers flowing", "de"),
    ]
    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(rows, ["doc_id", "text", "lang"]).write.parquet(docs_dir)
    bench_dir = str(tmp_path / "bench")
    spark.createDataFrame(
        [(100, "one two three four five six seven eight")], ["doc_id", "text"]
    ).write.parquet(bench_dir)
    out_dir = str(tmp_path / "corpus")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    cmd = [sys.executable, os.path.join(repo, "jobs", "corpus_job.py"),
           "--documents", docs_dir, "--out", out_dir,
           "--benchmark", bench_dir, "--max-adj-repeat", "0.5",
           # budget 1/1: keep every survivor, so gate effects are isolated
           "--budget-num", "1", "--budget-den", "1",
           "--shard-tokens", "16", "--n-buckets", "2", "--cores", "4"]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600, env=env)
    assert out.returncode == 0, out.stderr[-2000:]
    stats = json.loads(
        [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    )
    assert stats["docs_in"] == 6
    assert stats["after_dedup"] == 5          # doc 2 collapses into doc 1
    assert stats["after_repetition"] == 4     # doc 3 stutter-gated
    assert stats["after_decontam"] == 3       # doc 4 overlaps the benchmark
    # budget 1/1 with per-language integer allocation keeps everything
    assert stats["after_mix"] == 3
    assert stats["docs_redacted"] == 1 and stats["pii_hits"] == 1  # doc 5
    assert stats["cc_converged"] is True
    assert _files_under(os.path.join(out_dir, "_checkpoints")) == []

    final = spark.read.parquet(f"{out_dir}/corpus")
    got = {r["doc_id"]: r for r in final.collect()}
    assert set(got) == {1, 5, 6}
    assert "<EMAIL>" in got[5]["text"] and "alice" not in got[5]["text"]
    assert got[1]["text"] == base  # clean docs pass through unmodified

    # determinism: the rerun's packed corpus is identical row-for-row
    out2 = subprocess.run(cmd, capture_output=True, text=True, timeout=600, env=env)
    assert out2.returncode == 0, out2.stderr[-2000:]
    rerun = {r["doc_id"]: r for r in spark.read.parquet(f"{out_dir}/corpus").collect()}
    for k, r in got.items():
        assert rerun[k].asDict() == r.asDict()


def test_corpus_job_span_dedup_stage(spark, tmp_path):
    """--segment-dedup-k wires the C4 span gate into the funnel: shared
    2-token segments survive only at their first occurrence, a doc whose
    text empties is dropped, and the funnel stats carry the new counts."""
    rows = [
        (1, "red blue green gold", "en"),          # owns both segments
        (2, "red blue pink teal mauve amber coral jade", "en"),  # loses "red blue"
        (3, "red blue green gold", "en"),          # empties -> dropped
        (4, "fresh words only here", "en"),
    ]
    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(rows, ["doc_id", "text", "lang"]).write.parquet(docs_dir)
    out_dir = str(tmp_path / "corpus")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    cmd = [sys.executable, os.path.join(repo, "jobs", "corpus_job.py"),
           "--documents", docs_dir, "--out", out_dir,
           "--segment-dedup-k", "2",
           # near-dup threshold 1.01: disable cluster dedup so the span
           # stage's own effect is isolated (docs 1 and 3 are identical)
           "--threshold", "1.01",
           "--budget-num", "1", "--budget-den", "1",
           "--shard-tokens", "16", "--n-buckets", "2", "--cores", "4"]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600, env=env)
    assert out.returncode == 0, out.stderr[-2000:]
    stats = json.loads(
        [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    )
    assert stats["docs_in"] == 4 and stats["after_dedup"] == 4
    # doc 2 loses 1 segment, doc 3 loses both and is dropped
    assert stats["after_span_dedup"] == 3
    assert stats["segments_removed"] == 3
    final = {r["doc_id"]: r for r in
             spark.read.parquet(f"{out_dir}/corpus").collect()}
    assert set(final) == {1, 2, 4}
    assert final[1]["text"] == "red blue green gold"
    assert final[2]["text"] == "pink teal mauve amber coral jade"
    assert final[4]["text"] == "fresh words only here"


def test_spandedup_job_cli(spark, tmp_path):
    """Weekly span-dedup entrypoint (jobs/spandedup_job.py): bootstrap,
    incremental run equal to a full recompute on the new slice, and
    resume-noop on rerun (crash recovery: tests/test_weekly_jobs.py)."""
    rows = {
        0: "a b c d e f",        # owns "a b" "c d" "e f"
        1: "a b x y",            # loses "a b", owns "x y"
        2: "",                   # empty doc
        10: "c d p q r s",       # w2: loses "c d" to doc 0
        11: "p q n m",           # w2: loses "p q" to doc 10 (new-vs-new)
        12: "zz ww",             # w2: all fresh
    }
    w1 = str(tmp_path / "w1")
    w2 = str(tmp_path / "w2")
    spark.createDataFrame(
        [(i, rows[i]) for i in (0, 1, 2)], ["doc_id", "text"]
    ).write.parquet(w1)
    spark.createDataFrame(
        [(i, rows[i]) for i in (10, 11, 12)], ["doc_id", "text"]
    ).write.parquet(w2)
    state = str(tmp_path / "state")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}

    def run(docs_dir, out_dir):
        out = subprocess.run(
            [sys.executable, os.path.join(repo, "jobs", "spandedup_job.py"),
             "--documents", docs_dir, "--state", state,
             "--out", out_dir, "--k", "2", "--cores", "4"],
            capture_output=True, text=True, timeout=600, env=env,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        return json.loads(
            [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        )

    s1 = run(w1, str(tmp_path / "out1"))
    assert s1["mode"] == "bootstrap"
    assert s1["docs_in"] == 3 and s1["segments_removed"] == 1  # doc 1's "a b"
    assert s1["segments_added"] == 4  # "a b" "c d" "e f" "x y"

    s2 = run(w2, str(tmp_path / "out2"))
    assert s2["mode"] == "incremental"
    assert s2["docs_in"] == 3 and s2["corpus_docs"] == 6
    assert s2["segments_removed"] == 2  # 10's "c d", 11's "p q"
    assert s2["segments_added"] == 4   # "p q" "r s" "n m" "zz ww"

    # incremental == full recompute restricted to the new slice
    from chapterbridge_ocr_worker_spark.operators.curation import segment_dedup

    full = {
        r["doc_id"]: (r["n_segs"], r["n_removed"], r["text_clean"])
        for r in segment_dedup(
            spark.createDataFrame(list(rows.items()), ["doc_id", "text"]), k=2
        ).collect()
        if r["doc_id"] >= 10
    }
    got = {
        r["doc_id"]: (r["n_segs"], r["n_removed"], r["text_clean"])
        for r in spark.read.parquet(str(tmp_path / "out2" / "cleaned")).collect()
    }
    assert got == full

    # rerun of the committed slice: no-op, no state mutation
    s2b = run(w2, str(tmp_path / "out2b"))
    assert s2b["mode"] == "resume-noop" and s2b["skipped_done"] == 3


def test_embdedup_job_cli(spark, tmp_path):
    """Weekly embedding near-dup entrypoint (jobs/embdedup_job.py):
    bootstrap, incremental equal to full-on-new-pairs, resume-noop, and IVF
    index maintenance stats (crash recovery: tests/test_weekly_jobs.py)."""
    import json as _json

    e1 = [1.0, 0.0, 0.0, 0.0]
    e2 = [0.0, 1.0, 0.0, 0.0]
    e3 = [0.0, 0.0, 1.0, 0.0]
    week1 = [(0, e1), (1, e1), (2, e2)]            # (0,1) exact dup
    week2 = [(10, e1), (11, e3), (12, e3)]         # 10 dups prior; (11,12) new-vs-new
    w1, w2 = str(tmp_path / "w1"), str(tmp_path / "w2")
    schema = "vec_id: long, embedding: array<float>"
    spark.createDataFrame(week1, schema).write.parquet(w1)
    spark.createDataFrame(week2, schema).write.parquet(w2)
    state = str(tmp_path / "state")
    ivf = str(tmp_path / "ivf")

    from chapterbridge_ocr_worker_spark.operators.similarity import (
        ivf_build_index,
    )

    ivf_build_index(spark.read.parquet(w1), ivf, n_centroids=2)

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}

    def run(emb_dir, out_dir, *extra):
        out = subprocess.run(
            [sys.executable, os.path.join(repo, "jobs", "embdedup_job.py"),
             "--embeddings", emb_dir, "--state", state,
             "--out", out_dir, "--cores", "4", *extra],
            capture_output=True, text=True, timeout=600, env=env,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        return _json.loads(
            [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        )

    s1 = run(w1, str(tmp_path / "out1"))
    assert s1["mode"] == "bootstrap"
    assert s1["pairs"] == 1 and s1["dups"] == 1  # (0,1); 1 is the dup

    s2 = run(w2, str(tmp_path / "out2"), "--ivf-index", ivf)
    assert s2["mode"] == "incremental" and s2["corpus_vectors"] == 6
    assert s2["pairs"] == 3          # (0,10) (1,10) (11,12)
    assert s2["dups"] == 2           # 10 and 12
    assert s2["ivf"]["n_vectors"] == 6 and s2["ivf"]["rebuilt"] is False
    got = {
        (r["id_a"], r["id_b"], r["cos_r"])
        for r in spark.read.parquet(str(tmp_path / "out2" / "pairs")).collect()
    }
    assert got == {(0, 10, 1.0), (1, 10, 1.0), (11, 12, 1.0)}
    keep = {
        r["vec_id"]: r["is_dup"]
        for r in spark.read.parquet(str(tmp_path / "out2" / "keep")).collect()
    }
    assert keep == {10: True, 11: False, 12: True}

    s2b = run(w2, str(tmp_path / "out2b"))
    assert s2b["mode"] == "resume-noop" and s2b["skipped_done"] == 3


def test_corpus_job_url_and_lm_stages(spark, tmp_path):
    """The two opt-in round-5 gates: stage-0 URL dedup (doc 2 refetches
    doc 1's page under cosmetic URL noise) and the CCNet-style LM floor.
    Hand-computed model over the post-URL-dedup corpus {1,3,4}:
    c1(x)=3 from (x,y)x2+(x,q); c1(q)=2 from (q,r)+(q,m).
    doc 1 avg = 2*ln(2/3)/3 = -0.270 (kept); doc 3: every bigram unique
    continuation -> 0 (kept); doc 4 avg = (ln(1/3)+ln(1/2)+0)/3 = -0.597
    (dropped at floor -0.5)."""
    rows = [
        (1, "x y x y", "http://A.com/p?utm_s=1"),
        (2, "totally different words here", "HTTP://a.com:80/p"),  # same canon
        (3, "p q r s", "http://b.com/q"),
        (4, "x q m n", "http://c.com/r"),
    ]
    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(rows, ["doc_id", "text", "url"]).write.parquet(docs_dir)
    out_dir = str(tmp_path / "corpus")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    cmd = [sys.executable, os.path.join(repo, "jobs", "corpus_job.py"),
           "--documents", docs_dir, "--out", out_dir,
           "--url-col", "url", "--lm-floor", "-0.5",
           # doc 1's top bigram is 2/3 of its bigrams: raise the repetition
           # cap so only the stages under test fire
           "--max-top-bigram", "0.9",
           "--budget-num", "1", "--budget-den", "1",
           "--shard-tokens", "16", "--n-buckets", "2", "--cores", "4"]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600, env=env)
    assert out.returncode == 0, out.stderr[-2000:]
    stats = json.loads(
        [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    )
    assert stats["docs_in"] == 4
    assert stats["after_url_dedup"] == 3   # doc 2's URL canonicalizes to doc 1's
    assert stats["after_repetition"] == 3
    assert stats["after_lm"] == 2          # doc 4 below the -0.5 floor
    final = {r["doc_id"] for r in
             spark.read.parquet(f"{out_dir}/corpus").collect()}
    assert final == {1, 3}


def test_corpus_job_classifier_stage(spark, tmp_path):
    """The opt-in hashed-linear classifier gate, served from a TRAINED
    weights table: a one-feature model (the bucket of the token 'spam'
    weighted -10) must drop exactly the docs whose mean weight falls
    below the floor, and the funnel must report the stage count."""
    from pyspark.sql import functions as F

    from chapterbridge_ocr_worker_spark.operators.textstats import (
        FASTTEXT_BUCKETS,
        _feature_buckets,
    )

    rows = [
        (1, "good clean text"),
        (2, "spam offer spam deal spam"),   # margin -10 * 3/5 = -6
        (3, "mixed spam content here"),     # margin -10 / 4   = -2.5
    ]
    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(docs_dir)
    spam_bucket = (
        spark.createDataFrame([("spam",)], ["text"])
        .select(
            F.element_at(
                _feature_buckets(F.col("text"), FASTTEXT_BUCKETS), 1
            ).alias("b")
        )
        .collect()[0]["b"]
    )
    wdir = str(tmp_path / "weights")
    spark.createDataFrame(
        [(int(spam_bucket), -10.0)], "bucket: int, w: double"
    ).write.parquet(wdir)
    out_dir = str(tmp_path / "corpus")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    cmd = [sys.executable, os.path.join(repo, "jobs", "corpus_job.py"),
           "--documents", docs_dir, "--out", out_dir,
           "--classifier-floor", "-1.0", "--classifier-weights", wdir,
           "--budget-num", "1", "--budget-den", "1",
           "--shard-tokens", "16", "--n-buckets", "2", "--cores", "4"]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600, env=env)
    assert out.returncode == 0, out.stderr[-2000:]
    stats = json.loads(
        [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    )
    assert stats["docs_in"] == 3
    assert stats["after_classifier"] == 1
    final = {r["doc_id"] for r in spark.read.parquet(f"{out_dir}/corpus").collect()}
    assert final == {1}


def test_corpus_job_substring_excise_stage(spark, tmp_path):
    """--substring-window wires the Lee-et-al excision into the funnel:
    a cross-doc duplicated run is cut from every doc but its min-id
    keeper AT AN UNALIGNED OFFSET (the case fixed-segment dedup misses),
    a doc whose text empties is dropped, and the funnel stats carry the
    tokens-removed count."""
    shared = "alpha beta gamma delta"
    rows = [
        (1, f"{shared} tail1 words here", "en"),       # keeper at offset 0
        (2, f"off2 {shared} more talk here now", "en"),  # loses it at offset 1
        (3, f"{shared}", "en"),                        # empties -> dropped
        (4, "fresh words only here again", "en"),
    ]
    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(rows, ["doc_id", "text", "lang"]).write.parquet(docs_dir)
    out_dir = str(tmp_path / "corpus")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    cmd = [sys.executable, os.path.join(repo, "jobs", "corpus_job.py"),
           "--documents", docs_dir, "--out", out_dir,
           "--substring-window", "4",
           "--threshold", "1.01",  # isolate the excision stage
           "--budget-num", "1", "--budget-den", "1",
           "--shard-tokens", "16", "--n-buckets", "2", "--cores", "4"]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600, env=env)
    assert out.returncode == 0, out.stderr[-2000:]
    stats = json.loads(
        [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    )
    assert stats["docs_in"] == 4 and stats["after_dedup"] == 4
    assert stats["after_substring_excise"] == 3   # doc 3 emptied
    assert stats["substring_tokens_removed"] == 8  # 4 from doc2 + 4 from doc3
    final = {r["doc_id"]: r for r in
             spark.read.parquet(f"{out_dir}/corpus").collect()}
    assert set(final) == {1, 2, 4}
    assert final[1]["text"] == f"{shared} tail1 words here"
    assert final[2]["text"] == "off2 more talk here now"


def test_exactdedup_job_cli(spark, tmp_path):
    """The weekly exact-dedup entrypoint (jobs/exactdedup_job.py):
    bootstrap materializes the hashes state, the incremental run judges a
    new slice against it, a committed-slice rerun is a no-op (crash
    recovery: tests/test_weekly_jobs.py)."""
    texts = {i: f"exact doc body number {i}" for i in range(40)}
    texts[24] = texts[3]   # prior-vs-new dup
    texts[26] = texts[25]  # new-vs-new dup

    w1 = str(tmp_path / "week1")
    w2 = str(tmp_path / "week2")
    spark.createDataFrame(
        [(i, texts[i]) for i in range(24)], ["doc_id", "text"]
    ).write.parquet(w1)
    spark.createDataFrame(
        [(i, texts[i]) for i in range(24, 40)], ["doc_id", "text"]
    ).write.parquet(w2)
    state = str(tmp_path / "state")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}

    def run(docs_dir, out_dir):
        out = subprocess.run(
            [sys.executable, os.path.join(repo, "jobs", "exactdedup_job.py"),
             "--documents", docs_dir, "--state", state,
             "--out", out_dir, "--cores", "4"],
            capture_output=True, text=True, timeout=600, env=env,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        return json.loads(
            [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        )

    s1 = run(w1, str(tmp_path / "out1"))
    assert s1 == {
        "mode": "bootstrap", "docs_in": 24, "skipped_done": 0, "kept": 24,
        "dropped_as_dups": 0, "corpus_total": 24, "compacted": {},
        "rolled_back": {},
    }

    s2 = run(w2, str(tmp_path / "out2"))
    assert s2["mode"] == "incremental"
    assert s2["docs_in"] == 16 and s2["corpus_total"] == 40
    assert s2["dropped_as_dups"] == 2  # 24 (dup of prior 3), 26 (dup of 25)
    dec = {
        r["id"]: r["keep"]
        for r in spark.read.parquet(str(tmp_path / "out2" / "decisions")).collect()
    }
    assert dec[24] == 0 and dec[26] == 0 and dec[25] == 1
    assert sum(dec.values()) == 14

    # rerun of the committed slice: state untouched, answered from marker
    s2b = run(w2, str(tmp_path / "out2b"))
    assert s2b["mode"] == "resume-noop"
    assert s2b["skipped_done"] == 16 and s2b["corpus_total"] == 40
    assert os.listdir(state) == ["hashes"]  # the marker is the only state

    # incremental-vs-full equivalence over the whole corpus: the union of
    # per-run decisions == plain keep-first exact dedup of all 40 docs
    from chapterbridge_ocr_worker_spark.operators.dedup import exact_hashes
    from pyspark.sql import functions as F

    full_h = exact_hashes(
        spark.createDataFrame([(i, texts[i]) for i in range(40)],
                              ["doc_id", "text"])
    )
    full_first = full_h.groupBy("h").agg(F.min("id").alias("f"))
    full_keep = {
        r["id"]: int(r["id"] == r["f"])
        for r in full_h.join(full_first, "h").collect()
    }
    dec1 = {
        r["id"]: r["keep"]
        for r in spark.read.parquet(str(tmp_path / "out1" / "decisions")).collect()
    }
    assert {**dec1, **dec} == full_keep


def test_exactdedup_job_compaction(spark, tmp_path):
    """Weekly hashes snapshots pile up; once past COMPACT_AFTER the job
    compacts the table into one snapshot, and later runs still dedup
    exactly against it."""
    from chapterbridge_ocr_worker_spark.sources import tables

    state = str(tmp_path / "state")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}

    def run(i, rows):
        d = str(tmp_path / f"wk{i}")
        spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(d)
        out = subprocess.run(
            [sys.executable, os.path.join(repo, "jobs", "exactdedup_job.py"),
             "--documents", d, "--state", state,
             "--out", str(tmp_path / f"o{i}"), "--cores", "4"],
            capture_output=True, text=True, timeout=600, env=env,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        return json.loads(
            [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        )

    # 5 tiny slices; the 5th repeats the 1st slice's texts (all drop)
    for i in range(4):
        run(i, [(i * 10 + j, f"slice {i} doc {j}") for j in range(3)])
    s5 = run(4, [(100 + j, f"slice 0 doc {j}") for j in range(3)])
    assert s5["dropped_as_dups"] == 3 and s5["kept"] == 0
    # the 5th append pushed the table past COMPACT_AFTER=4
    assert s5["compacted"] == {"hashes": 5}
    assert len(tables._live_snapshots(os.path.join(state, "hashes"))) == 1
    assert tables.read_table(spark, state, "hashes").count() == 15

    # post-compaction run still dedups exactly
    s6 = run(5, [(200, "slice 1 doc 0"), (201, "brand new doc")])
    assert s6["dropped_as_dups"] == 1 and s6["kept"] == 1
