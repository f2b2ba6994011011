"""Unit tests for training-data operators and key functions."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from chapterbridge_ocr_worker_spark.functions.keys import (
    chapter_number,
    output_key,
    page_number,
    parse_key,
)
from chapterbridge_ocr_worker_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    jaccard_pairs_lsh,
    minhash_candidates,
    simhash_neardup_pairs,
    simhash_signatures,
)
from chapterbridge_ocr_worker_spark.operators.multimodal import extract_media_metadata
from chapterbridge_ocr_worker_spark.operators.similarity import cosine_topk
from chapterbridge_ocr_worker_spark.operators.textstats import (
    predicted_lang,
    text_stats,
    token_count,
)


def test_key_parse_valid_and_invalid(spark):
    df = spark.createDataFrame(
        [
            ("raw/manhwa/w1/e2/chapter-0042/page-007.jpg",),
            ("blob/opaque/x.bin",),
        ],
        ["ref"],
    )
    rows = df.select(
        parse_key(F.col("ref")).alias("p"),
        chapter_number(F.col("ref")).alias("ch"),
        page_number(F.col("ref")).alias("pg"),
        output_key(F.col("ref"), F.lit("FALLBACK")).alias("out"),
    ).collect()
    valid, invalid = rows
    assert valid["p"]["work_id"] == "w1"
    assert valid["p"]["is_valid"] is True
    assert (valid["ch"], valid["pg"]) == (42, 7)
    # reference build_output_key keeps the page- prefix (key_parser.py:58)
    assert valid["out"] == "derived/manhwa/w1/e2/chapter-0042/ocr/page-007.json"
    assert invalid["p"]["is_valid"] is False
    assert invalid["ch"] is None and invalid["pg"] is None
    assert invalid["out"] == "derived/manhwa/unknown/unknown/ocr/FALLBACK.json"


def test_token_count_edges(spark):
    df = spark.createDataFrame(
        [("a b  c",), ("",), ("   ",), ("single",)], ["text"]
    )
    out = [r["n"] for r in df.select(token_count(F.col("text")).alias("n")).collect()]
    assert out == [3, 0, 0, 1]


def test_bpe_ish_token_count(spark):
    from chapterbridge_ocr_worker_spark.operators.textstats import (
        bpe_ish_token_count,
    )

    df = spark.createDataFrame(
        [
            (1, "don't stop"),        # don | 't | " stop"
            (2, "abc123!? ok"),       # abc | 123 | !? | " ok"
            (3, ""),                  # no pieces
            (4, "один 世界"),          # unicode letters count as runs
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", bpe_ish_token_count(F.col("text")).alias("n")
        ).collect()
    }
    assert out == {1: 3, 2: 4, 3: 0, 4: 2}


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other")],
        ["doc_id", "text"],
    )
    rows = {r["keep_id"]: r["n_dups"] for r in exact_dedup(df).collect()}
    # normalization folds case+whitespace -> docs 1,2 are exact dups
    assert rows == {1: 2, 3: 1}


def test_jaccard_pairs_identical_and_disjoint(spark):
    df = spark.createDataFrame(
        [
            (1, "b", "alpha beta gamma"),
            (2, "b", "alpha beta gamma"),
            (3, "b", "zeta eta theta"),
            (4, "other", "alpha beta gamma"),  # different block: no pair
        ],
        ["doc_id", "blk", "text"],
    )
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jaccard_pairs(df, "blk").collect()}
    assert pairs == {(1, 2): 1.0}


def test_minhash_candidates_find_near_dups(spark):
    text_a = "the quick brown fox jumps over the lazy dog again and again today"
    text_b = text_a + " extra"
    df = spark.createDataFrame(
        [(1, text_a), (2, text_b), (3, "completely different words everywhere")],
        ["doc_id", "text"],
    )
    cands = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in minhash_candidates(df).collect()}
    assert (1, 2) in cands
    assert cands[(1, 2)] > 0.5
    assert (1, 3) not in cands


def test_simhash_identical_and_different(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "x y z")],
        ["doc_id", "text"],
    )
    sigs = {r["id"]: r["simhash"] for r in simhash_signatures(df).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_simhash_neardup_pairs_banded(spark):
    # 1 extra token over a 100-token bag: this particular pair lands at
    # hamming 3 (deterministic — portable hash), inside the <=3 gate where
    # the 4-band pigeonhole guarantees the bucket join recalls it
    base = " ".join(f"w{i:03d}" for i in range(100))
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base + " x0"),
            (3, " ".join(f"v{i:03d}" for i in range(100))),  # disjoint bag
        ],
        ["doc_id", "text"],
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_neardup_pairs(df, max_hamming=3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 3
    assert all(p == (1, 2) for p in pairs)  # the disjoint doc never pairs


def test_jaccard_pairs_lsh_rerank(spark):
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    text_a = " ".join(words)
    text_b = " ".join(words[:-1])  # jaccard 9/10 = 0.9
    df = spark.createDataFrame(
        [(1, text_a), (2, text_b), (3, "unrelated content entirely other tokens")],
        ["doc_id", "text"],
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs_lsh(df, threshold=0.6).collect()
    }
    assert pairs == {(1, 2): 0.9}


def test_cosine_topk_exact(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0]),
        Row(vec_id=1, embedding=[1.0, 0.01]),
        Row(vec_id=2, embedding=[0.0, 1.0]),
        Row(vec_id=3, embedding=[-1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows)
    out = cosine_topk(df, df.filter(F.col("vec_id") == 0), k=2).collect()
    ranked = [(r["neighbor_id"], r["rank"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked == [(1, 1), (2, 2)]


def test_lang_id_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "the cat is in the house and it is warm"), (2, "der hund ist nicht zu alt und die katze"),
         (3, "")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["lang"] for r in df.select("doc_id", predicted_lang(F.col("text")).alias("lang")).collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "unknown"


def test_text_stats_shapes(spark):
    df = spark.createDataFrame([(1, "The quick brown fox.")], ["doc_id", "text"])
    r = text_stats(df).collect()[0]
    assert r["n_tokens"] == 4
    assert 0.0 <= r["stopword_ratio"] <= 1.0
    assert r["punct_ratio"] > 0


def test_multimodal_metadata_and_error_routing(spark):
    from chapterbridge_ocr_worker_spark.engine.fakeimg import FakeLine, encode

    good = encode(640, 900, [FakeLine(5, 10, 100, 30, 200, "hi")])
    media = spark.createDataFrame(
        [("ref/good", bytearray(good)), ("ref/bad", bytearray(b"\xff\xd8\xffJPEGISH"))],
        ["media_ref", "content"],
    )
    rows = {r["media_ref"]: r for r in extract_media_metadata(media).collect()}
    g = rows["ref/good"]
    assert (g["format"], g["width"], g["height"], g["n_regions"]) == ("fakeimg", 640, 900, 1)
    assert g["error"] is None
    b = rows["ref/bad"]
    assert b["format"] == "jpeg"
    assert b["error"] is not None  # real decode stubbed -> NotImplementedError routed


def test_jaccard_keep_one_per_cluster(spark):
    from chapterbridge_ocr_worker_spark.operators.dedup import jaccard_keep

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    cluster = " ".join(words)
    df = spark.createDataFrame(
        [
            (1, cluster),
            (2, " ".join(words[:-1])),     # near-dup of 1 (j=0.9)
            (3, cluster + " lambda"),      # near-dup of 1 (j=10/11)
            (4, "entirely different tokens nothing shared with the others"),
        ],
        ["doc_id", "text"],
    )
    kept = {r["id"] for r in jaccard_keep(df, threshold=0.6).collect()}
    assert kept == {1, 4}  # one representative per cluster + the singleton


def test_corpus_language_stats_and_curation(spark):
    from chapterbridge_ocr_worker_spark.operators.textstats import (
        corpus_language_stats,
        topk_quality_per_lang,
    )

    df = spark.createDataFrame(
        [
            (1, "the cat is in the hat and it is a cat"),
            (2, "der hund ist nicht ein hund und das ist"),
            (3, "the quick brown fox is a fox of the woods"),
            (4, "!!! ??? ..."),
        ],
        ["doc_id", "text"],
    )
    stats = {r["pred_lang"]: r for r in corpus_language_stats(df).collect()}
    assert stats["en"]["n_docs"] == 2 and stats["de"]["n_docs"] == 1
    assert stats["en"]["total_tokens"] == 11 + 10
    assert stats["en"]["total_chars"] == 37 + 41
    top = topk_quality_per_lang(df, k=1).collect()
    by_lang = {r["pred_lang"]: r for r in top}
    assert all(r["rank"] == 1 for r in top)
    # doc 3 has the higher alpha ratio of the two english docs
    assert by_lang["en"]["doc_id"] == 3


def test_connected_components_chain_isolates_and_pairs(spark):
    from chapterbridge_ocr_worker_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [("d2", "d1"), ("d2", "d3"), ("d3", "d4"), ("d5", "d4"), ("d8", "d7")],
        ["id_a", "id_b"],
    )
    nodes = spark.createDataFrame([(f"d{i}",) for i in range(1, 10)], ["id"])
    got = {r["id"]: r["cluster_id"] for r in connected_components(edges, nodes).collect()}
    assert got == {
        "d1": "d1", "d2": "d1", "d3": "d1", "d4": "d1", "d5": "d1",
        "d6": "d6", "d7": "d7", "d8": "d7", "d9": "d9",
    }
    # a 20-node path exercises multi-round convergence (pointer jumping)
    chain = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(19)], ["id_a", "id_b"]
    )
    labels = connected_components(chain).collect()
    assert {r["cluster_id"] for r in labels} == {"n00"} and len(labels) == 20


def _crawl_corpus():
    """Deterministic corpus with dups crossing the prior/new boundary.

    ids 0..39, prior = 0..23, new = 24..39 (crawl-ordered ids):
      - 24 duplicates prior doc 3 (prior-vs-new drop)
      - 26 duplicates new doc 25 (new-vs-new drop, keep-lowest-id)
      - 28 near-dups new doc 27 (~0.82 jaccard re-rank path)
      - everything else pairwise-distinct token sets
    """
    import random

    rng = random.Random(777)
    vocab = [f"tok{i:03d}" for i in range(4000)]
    texts = {}
    for i in range(40):
        texts[i] = " ".join(rng.sample(vocab, 50))
    texts[24] = texts[3]
    texts[26] = texts[25]
    toks27 = texts[27].split()
    toks27[:5] = rng.sample([v for v in vocab if v not in toks27], 5)
    texts[28] = " ".join(toks27)
    return [(i, texts[i]) for i in range(40)]


def test_incremental_dedup_matches_full_recompute(spark, tmp_path):
    """incremental_dedup over (new docs, prior signature table, prior
    clusters) must reproduce the full-union recompute exactly — keep
    decisions for the new docs AND cluster labels for every row — when ids
    are crawl-ordered and no bucket crosses the cap (the documented
    equivalence regime). The rows are the new docs plus the one prior doc
    (3) a new doc joined. prior_sigs comes through materialize_signatures,
    so the parquet round-trip of the signature table is covered too."""
    from chapterbridge_ocr_worker_spark.operators.dedup import (
        incremental_dedup,
        jaccard_keep,
        materialize_signatures,
        minhash_signatures,
        neardup_clusters,
    )

    rows = _crawl_corpus()
    all_docs = spark.createDataFrame(rows, ["doc_id", "text"])
    prior = all_docs.filter("doc_id < 24")
    new = all_docs.filter("doc_id >= 24")

    prior_sigs = materialize_signatures(prior, str(tmp_path / "prior_sigs"))
    prior_clusters = neardup_clusters(prior, threshold=0.6)
    inc = incremental_dedup(
        minhash_signatures(new), prior_sigs, prior_clusters, threshold=0.6
    ).collect()

    full_keep = {r["id"] for r in jaccard_keep(all_docs, threshold=0.6).collect()}
    full_labels = {
        r["id"]: r["cluster_id"]
        for r in neardup_clusters(all_docs, threshold=0.6).collect()
    }

    # new docs plus the closure-labeled prior doc, nothing else
    assert {r["id"] for r in inc} == set(range(24, 40)) | {3}
    assert {r["id"] for r in inc if r["keep"] == 1} == {
        i for i in range(24, 40) if i in full_keep
    } | {3}
    assert {r["id"]: r["cluster_id"] for r in inc} == {
        r["id"]: full_labels[r["id"]] for r in inc
    }
    # the planted cases actually fired
    by_id = {r["id"]: r for r in inc}
    assert by_id[24]["keep"] == 0 and by_id[24]["cluster_id"] == 3  # prior dup
    assert by_id[26]["keep"] == 0 and by_id[26]["cluster_id"] == 25  # new-new
    assert by_id[25]["keep"] == 1
    assert by_id[28]["keep"] == 0 and by_id[28]["cluster_id"] == 27  # near-dup


def test_incremental_dedup_bridges_two_prior_clusters(spark, tmp_path):
    """A new doc that near-dups a member of each of two multi-member prior
    clusters ({10, 11} and {20, 21}) merges them: all five rows come back
    labeled 10, equal to neardup_clusters over the union, and the new doc
    is dropped. The new doc touches 11 and 21 only, so 10's and 20's rows
    come from expanding the touched clusters, not from a pair."""
    import random

    from chapterbridge_ocr_worker_spark.operators.dedup import (
        incremental_dedup,
        materialize_signatures,
        minhash_signatures,
        neardup_clusters,
    )

    rng = random.Random(5)
    vocab = rng.sample([f"tok{i:03d}" for i in range(4000)], 120)
    x, y, fa, fb = vocab[:25], vocab[25:50], vocab[50:54], vocab[54:58]
    # Jaccard: new~11 = new~21 = 0.70, 10~11 = 20~21 = 0.79; every other
    # pair of these five is at most 0.57
    texts = {
        11: x + y[:10],
        10: x[:21] + fa + y[:10],
        21: y + x[:10],
        20: y[:21] + fb + x[:10],
        30: x + y,
    }
    all_docs = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in texts.items()], ["doc_id", "text"]
    )
    prior = all_docs.filter("doc_id < 30")
    prior_clusters = neardup_clusters(prior, threshold=0.6)
    assert {r["id"]: r["cluster_id"] for r in prior_clusters.collect()} == {
        10: 10, 11: 10, 20: 20, 21: 20
    }
    got = {
        r["id"]: (r["keep"], r["cluster_id"])
        for r in incremental_dedup(
            minhash_signatures(all_docs.filter("doc_id >= 30")),
            materialize_signatures(prior, str(tmp_path / "sigs")),
            prior_clusters,
            threshold=0.6,
        ).collect()
    }
    full = {
        r["id"]: r["cluster_id"]
        for r in neardup_clusters(all_docs, threshold=0.6).collect()
    }
    assert got == {10: (1, 10), 11: (1, 10), 20: (1, 10), 21: (1, 10), 30: (0, 10)}
    assert {i: c for i, (_, c) in got.items()} == full


def test_incremental_dedup_bucket_tables_equivalent(spark, tmp_path):
    """The one weekly path, fed a fresh parquet scan of the materialized
    signature table (how the dedup job and query read their prior state),
    must return EXACTLY the full-union recompute on every output row —
    new-doc rows and relabeled prior rows alike: the band rows and caps it
    derives from the bands column are the union's."""
    from chapterbridge_ocr_worker_spark.operators.dedup import (
        incremental_dedup,
        jaccard_keep,
        materialize_signatures,
        minhash_signatures,
        neardup_clusters,
    )

    rows = _crawl_corpus()
    all_docs = spark.createDataFrame(rows, ["doc_id", "text"])
    prior = all_docs.filter("doc_id < 24")
    new = all_docs.filter("doc_id >= 24")

    sig_path = str(tmp_path / "sigs")
    materialize_signatures(prior, sig_path)
    got = {
        r["id"]: (r["keep"], r["cluster_id"])
        for r in incremental_dedup(
            minhash_signatures(new),
            spark.read.parquet(sig_path),
            neardup_clusters(prior, threshold=0.6),
            threshold=0.6,
        ).collect()
    }

    full_keep = {r["id"] for r in jaccard_keep(all_docs, threshold=0.6).collect()}
    full_labels = {
        r["id"]: r["cluster_id"]
        for r in neardup_clusters(all_docs, threshold=0.6).collect()
    }
    # prior rows are frozen (keep=1); new rows keep iff the full run does
    assert got == {
        i: (int(i < 24 or i in full_keep), full_labels[i]) for i in got
    }
    assert set(got) == set(range(24, 40)) | {3}


def test_incremental_dedup_cap_crossing_consistent(spark):
    """A band bucket pushed over max_bucket only by the union must be
    dropped: the caps are counted over the rows of the buckets the new
    slice touches, which hold every union row of those buckets, so they
    stay union-wide without a separate count table."""
    from chapterbridge_ocr_worker_spark.operators.dedup import (
        incremental_dedup,
        minhash_signatures,
    )

    # 6 prior + 4 new identical docs: every band bucket holds 10 docs,
    # so max_bucket=8 kills all buckets only when counted UNION-wide
    prior = spark.createDataFrame(
        [(i, "same text for every doc") for i in range(6)], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(i, "same text for every doc") for i in range(6, 10)],
        ["doc_id", "text"],
    )
    got = {
        r["id"]: r["keep"]
        for r in incremental_dedup(
            minhash_signatures(new), minhash_signatures(prior), max_bucket=8
        ).collect()
    }
    # every bucket capped out -> no candidates -> everything kept
    assert got == {6: 1, 7: 1, 8: 1, 9: 1}


def test_incremental_dedup_cc_stats(spark):
    """cc_stats surfaces closure telemetry (rounds, convergence) so a
    state-keeping job can watch propagation behavior drift."""
    from chapterbridge_ocr_worker_spark.operators.dedup import (
        incremental_dedup,
        minhash_signatures,
    )

    rows = _crawl_corpus()
    all_docs = spark.createDataFrame(rows, ["doc_id", "text"])
    stats = {}
    incremental_dedup(
        minhash_signatures(all_docs.filter("doc_id >= 24")),
        minhash_signatures(all_docs.filter("doc_id < 24")),
        cc_stats=stats,
    ).collect()
    assert stats["cc_converged"] is True
    assert stats["cc_rounds"] >= 1


def test_incremental_dedup_defaults_prior_singletons(spark):
    """Without prior_clusters, prior docs count as singleton clusters: a
    new dup of a prior doc still drops and labels into the prior id."""
    from chapterbridge_ocr_worker_spark.operators.dedup import (
        incremental_dedup,
        minhash_signatures,
    )

    rows = _crawl_corpus()
    all_docs = spark.createDataFrame(rows, ["doc_id", "text"])
    prior = all_docs.filter("doc_id < 24")
    new = all_docs.filter("doc_id >= 24")
    got = {
        r["id"]: (r["keep"], r["cluster_id"])
        for r in incremental_dedup(
            minhash_signatures(new), minhash_signatures(prior)
        ).collect()
    }
    assert got[24] == (0, 3)
    assert got[26] == (0, 25)


def test_incremental_exact_dedup(spark):
    """Exact-hash sibling of incremental_dedup: prior hash wins, first new
    id wins among new dups, whitespace/case-normalized equality."""
    from chapterbridge_ocr_worker_spark.operators.dedup import (
        exact_hashes,
        incremental_exact_dedup,
    )

    prior = spark.createDataFrame(
        [(1, "Hello  World"), (2, "unique prior")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [
            (10, "hello world"),     # normalized dup of prior 1 -> drop
            (11, "fresh content"),   # first of a new-dup pair -> keep
            (12, "fresh   CONTENT"), # normalized dup of 11 -> drop
            (13, "only here"),       # unique -> keep
        ],
        ["doc_id", "text"],
    )
    got = {
        r["id"]: r["keep"]
        for r in incremental_exact_dedup(new, exact_hashes(prior)).collect()
    }
    assert got == {10: 0, 11: 1, 12: 0, 13: 1}


def test_lsh_recall_stable_across_permutation_families(spark):
    """LSH recall near the threshold is a random variable over the
    permutation draw (r3 scale-stress: 2.6x candidate swing at s~=0.6 on a
    pathological corpus). On a realistic planted fixture at s~=0.72
    (E[recall] = 1-(1-s^4)^8 = 0.92), the two disjoint coefficient
    families must both clear 0.8 and agree within 0.15 — a family whose
    draw collapses recall here would silently under-dedup a real corpus."""
    import random

    from chapterbridge_ocr_worker_spark.operators.dedup import jaccard_pairs_lsh

    rng = random.Random(4242)
    vocab = [f"w{i:04d}" for i in range(20000)]
    rows = []
    for i in range(80):
        toks = rng.sample(vocab, 50)
        near = list(toks)
        repl = rng.sample(range(50), 8)  # 42/58 ~= 0.724 set-jaccard
        pool = rng.sample([v for v in vocab if v not in toks], 8)
        for j, r in enumerate(repl):
            near[r] = pool[j]
        rows.append((2 * i, " ".join(toks)))
        rows.append((2 * i + 1, " ".join(near)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    planted = {(2 * i, 2 * i + 1) for i in range(80)}
    recalls = {}
    for fam in (0, 1):
        found = {
            (r["id_a"], r["id_b"])
            for r in jaccard_pairs_lsh(df, threshold=0.6, family=fam).collect()
        }
        assert found <= planted  # disjoint 50-token draws can't cross-pair
        recalls[fam] = len(found & planted) / len(planted)
    assert recalls[0] >= 0.8 and recalls[1] >= 0.8, recalls
    assert abs(recalls[0] - recalls[1]) <= 0.15, recalls


def test_minhash_family1_matches_duckdb_twin(spark):
    """The oracle generator is parameterized by family: the family-1 Spark
    pipeline must hash-match the family-1 DuckDB CTE just like family 0
    does in the driver gate (cross-engine portability of BOTH draws)."""
    import duckdb
    import pandas as pd

    from chapterbridge_ocr_worker_spark.operators.dedup import minhash_candidates
    from chapterbridge_ocr_worker_spark.queries import _minhash_cte_sql

    rows = [(i, f"alpha bravo charlie delta echo{i % 7} fox{i % 5} golf{i}")
            for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in minhash_candidates(df, min_est=0.3, family=1).collect()
    }

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    sql = _minhash_cte_sql(family=1) + """
    SELECT c.id_a, c.id_b,
           ROUND(list_sum(list_transform(generate_series(1, 32),
                 k -> CASE WHEN sa.sig[k] = sb.sig[k] THEN 1 ELSE 0 END))
                 / 32.0, 4) AS est_jaccard
    FROM cand c JOIN s sa ON sa.id = c.id_a JOIN s sb ON sb.id = c.id_b
    WHERE ROUND(list_sum(list_transform(generate_series(1, 32),
                k -> CASE WHEN sa.sig[k] = sb.sig[k] THEN 1 ELSE 0 END))
                / 32.0, 4) >= 0.3
    """
    want = {tuple(r) for r in con.execute(sql).fetchall()}
    assert got == want and len(got) > 0


def test_connected_components_warns_when_unconverged(spark):
    """Exhausting max_iter with labels still moving must be LOUD: silently
    returning mid-propagation labels would dedup on wrong clusters
    (ADVICE r3). A 20-node path can't converge in one round."""
    import warnings

    from chapterbridge_ocr_worker_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(19)], ["id_a", "id_b"]
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        connected_components(chain, max_iter=1).collect()
    assert any(
        "max_iter" in str(w.message) and w.category is RuntimeWarning
        for w in caught
    )
    # and a converged run stays silent
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        connected_components(chain, max_iter=30).collect()
    assert not any("max_iter" in str(w.message) for w in caught)


def test_neardup_clusters_match_union_find(spark):
    from chapterbridge_ocr_worker_spark.operators.dedup import (
        jaccard_pairs_lsh,
        neardup_clusters,
    )

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    other = "one two three four five six seven eight nine ten".split()
    df = spark.createDataFrame(
        [
            (1, " ".join(words)),
            (2, " ".join(words[:-1])),          # chained: near-dup of 1
            (3, " ".join(words[:-2] + ["mu"])),  # near-dup of 2 (maybe not of 1)
            (4, " ".join(other)),
            (5, " ".join(other[:-1])),
            (6, "a singleton document with unique vocabulary entirely"),
        ],
        ["doc_id", "text"],
    )
    # ground truth: union-find over the exact pair relation
    pairs = [(r["id_a"], r["id_b"]) for r in jaccard_pairs_lsh(df, 0.6).collect()]
    parent = {i: i for i in range(1, 7)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: find(i) for i in range(1, 7)}
    got = {r["id"]: r["cluster_id"] for r in neardup_clusters(df, 0.6).collect()}
    assert got == want
    assert got[4] == got[5] and got[6] == 6  # sanity: 4~5 cluster, 6 isolated


def test_ann_multiprobe_improves_recall(spark):
    import os

    from chapterbridge_ocr_worker_spark.operators.similarity import ann_topk_lsh

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, qs, k=10).collect()
    }

    def recall(**kw):
        hits = {
            (r["query_id"], r["neighbor_id"])
            for r in ann_topk_lsh(emb, qs, k=10, **kw).collect()
        }
        return len(hits & exact) / len(exact)

    r_single = recall(bits=6, multiprobe=False)
    r_multi = recall(bits=6)
    # measured on this corpus with the portable planes: 0.14 single -> 0.28
    # multi. The synthetic embeddings are near-uniform (true neighbors barely
    # closer than random), the worst case for hyperplane LSH — the point
    # pinned here is the RELATIVE lift from 1-bit-flip probing, plus a
    # deterministic floor.
    assert r_multi >= 1.5 * r_single
    assert r_multi >= 0.25
    # depth-2 probing (1-bit + 2-bit flips, 37/256 buckets) beats the
    # bits=6 single-flip config at a comparable scan fraction: measured
    # 0.16 (b8 d1) -> 0.40 (b8 d2) vs 0.28 (b6 d1)
    r_d2 = recall(bits=8, probe_depth=2)
    assert r_d2 >= 1.5 * recall(bits=8, probe_depth=1)
    assert r_d2 >= r_multi and r_d2 >= 0.35


def test_ivf_topk_clustered_corpus(spark):
    import math

    from pyspark.sql import Row

    from chapterbridge_ocr_worker_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    # 3 well-separated direction clusters; with enough centroids and
    # nprobe=2, every query's true neighbors live in probed cells -> IVF
    # must equal the exact top-k
    rows = []
    for c, base in enumerate([(1.0, 0.0, 0.0), (0.0, 1.0, 0.0), (0.0, 0.0, 1.0)]):
        for i in range(12):
            eps = 0.01 * (i + 1)
            v = [base[0] + eps, base[1] + eps * 0.5, base[2]]
            n = math.sqrt(sum(x * x for x in v))
            rows.append(Row(vec_id=c * 100 + i, embedding=[x / n for x in v]))
    df = spark.createDataFrame(rows)
    qs = df.filter(F.col("vec_id").isin(0, 100, 200))
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk(df, qs, k=5).collect()
    }
    approx = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_topk(df, qs, k=5, n_centroids=8, nprobe=2).collect()
    }
    assert approx == exact


def test_ivf_index_build_append_query(spark, tmp_path):
    """Materialized IVF index lifecycle: build on the first embedding
    batch, snapshot-append a second batch (assigned to the EXISTING
    centroids, no recluster), and queries must find exact-duplicate
    neighbors from BOTH batches. The full-build query path must also equal
    the inline ivf_topk pipeline exactly (shared centroid rule)."""
    import random

    from chapterbridge_ocr_worker_spark.operators.similarity import (
        ivf_append_index,
        ivf_build_index,
        ivf_query_index,
        ivf_topk,
    )

    rng = random.Random(11)
    dim = 8

    def vec(seed=None):
        r = random.Random(seed) if seed is not None else rng
        return [round(r.uniform(-1, 1), 3) for _ in range(dim)]

    batch1 = [(i, vec()) for i in range(40)]
    # batch-2 vectors 100/101 duplicate batch-1 vectors 7/23 exactly
    batch2 = [(100, batch1[7][1]), (101, batch1[23][1])] + [
        (110 + i, vec()) for i in range(20)
    ]
    schema = "vec_id: long, embedding: array<float>"
    b1 = spark.createDataFrame(batch1, schema)
    b2 = spark.createDataFrame(batch2, schema)

    idx = str(tmp_path / "ivf")
    ivf_build_index(b1, idx, n_centroids=4)
    ivf_append_index(b2, idx)

    queries = spark.createDataFrame([(7, batch1[7][1]), (100, batch1[7][1])], schema)
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_query_index(spark, idx, queries, k=3, nprobe=2).collect()
    }
    # an exact duplicate is always in the same cell -> rank-1 neighbor
    assert got[(7, 1)] == 100   # batch-1 query finds its batch-2 clone
    assert got[(100, 1)] == 7   # and vice versa

    # full-build equality with the inline pipeline (same centroid sample)
    allv = b1.unionByName(b2)
    idx2 = str(tmp_path / "ivf_full")
    ivf_build_index(allv, idx2, n_centroids=4)
    qs = allv.filter("vec_id % 10 = 0")
    via_index = {
        tuple(r) for r in ivf_query_index(spark, idx2, qs, k=5, nprobe=2).collect()
    }
    inline = {
        tuple(r) for r in ivf_topk(allv, qs, k=5, n_centroids=4, nprobe=2).collect()
    }
    assert via_index == inline


def test_ivf_append_index_redo_appends_nothing(spark, tmp_path):
    """Appending a batch the index already holds (the redo of an append
    whose publish landed) adds no snapshot: after building from ids 0-1
    and appending ids 10-11 twice, ``assignments`` holds two snapshots and
    each id once."""
    from chapterbridge_ocr_worker_spark.operators.similarity import (
        ivf_append_index,
        ivf_build_index,
    )
    from chapterbridge_ocr_worker_spark.sources import tables

    def batch(ids):
        return spark.createDataFrame(
            [(i, [float(i), 1.0 - i, 0.5]) for i in ids],
            "vec_id: long, embedding: array<float>",
        )

    idx = str(tmp_path / "ivf")
    ivf_build_index(batch([0, 1]), idx, n_centroids=2)
    ivf_append_index(batch([10, 11]), idx)
    ivf_append_index(batch([10, 11]), idx)
    assert [s["record_count"] for s in tables.list_snapshots(idx, "assignments")] == [2, 2]
    held = tables.read_table(spark, idx, "assignments").select("neighbor_id")
    assert sorted(r[0] for r in held.collect()) == [0, 1, 10, 11]


def test_cosine_neardup_cap_drops_degenerate_bucket(spark):
    from pyspark.sql import Row

    from chapterbridge_ocr_worker_spark.operators.similarity import (
        cosine_neardup_pairs,
    )

    # 50 identical vectors = one degenerate bucket (50*49/2 = 1225 pairs);
    # with max_bucket=10 the bucket is dropped entirely, while a small
    # legitimate near-dup cluster elsewhere still pairs up
    rows = [Row(vec_id=i, embedding=[1.0, 0.0, 0.0]) for i in range(50)]
    rows += [
        Row(vec_id=100, embedding=[0.0, 1.0, 0.001]),
        Row(vec_id=101, embedding=[0.0, 1.0, 0.002]),
    ]
    pairs = cosine_neardup_pairs(
        spark.createDataFrame(rows), threshold=0.95, bits=4, max_bucket=10
    ).collect()
    ids = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (100, 101) in ids
    assert all(a >= 100 for a, _ in ids)  # the hot cluster produced nothing


def test_cosine_neardup_pairs_fire_on_near_identical_vectors(spark):
    from pyspark.sql import Row

    from chapterbridge_ocr_worker_spark.operators.similarity import (
        cosine_neardup_pairs,
    )

    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.999, 0.01, 0.0, 0.0]),  # near-dup of 0
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0, 0.0]),
        Row(vec_id=3, embedding=[0.0, 0.0, 1.0, 0.0]),
    ]
    pairs = {
        (r["id_a"], r["id_b"]): r["cos_r"]
        for r in cosine_neardup_pairs(
            spark.createDataFrame(rows), threshold=0.95, bits=4
        ).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert all(a == 0 and b == 1 for a, b in pairs)  # orthogonal vecs excluded


def test_incremental_cosine_neardup_matches_full(spark, tmp_path):
    """incremental_cosine_neardup over (new batch, materialized prior
    signature table) must equal cosine_neardup_pairs over the union
    restricted to new-involving pairs — frozen-prior semantics for the
    embedding family. Planted clones cross the boundary both ways."""
    import math
    import random

    from chapterbridge_ocr_worker_spark.operators.similarity import (
        cosine_neardup_pairs,
        incremental_cosine_neardup,
        materialize_vector_signatures,
    )

    rng = random.Random(42)

    def vec():
        v = [rng.uniform(-1, 1) for _ in range(6)]
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    base = [(i, vec()) for i in range(30)]
    jitter = [
        x + rng.uniform(-0.005, 0.005) for x in base[4][1]
    ]
    rows = base + [
        (30, base[4][1]),   # new clone of a PRIOR vector (mixed pair)
        (31, jitter),       # new near-dup of prior 4 / new 30
        (32, base[25][1]),  # two new clones of prior 25: mixed pairs
        (33, base[25][1]),  # (25,32), (25,33) plus the new-new pair (32,33)
    ]
    schema = "vec_id: long, embedding: array<float>"
    allv = spark.createDataFrame(rows, schema)
    cut = 28
    prior = allv.filter(f"vec_id < {cut}")
    new = allv.filter(f"vec_id >= {cut}")

    prior_sigs = materialize_vector_signatures(
        prior, str(tmp_path / "vsigs"), bits=5
    )
    inc = {
        (r["id_a"], r["id_b"]): r["cos_r"]
        for r in incremental_cosine_neardup(
            new, prior_sigs, threshold=0.95, bits=5
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"]): r["cos_r"]
        for r in cosine_neardup_pairs(allv, threshold=0.95, bits=5).collect()
        if r["id_a"] >= cut or r["id_b"] >= cut
    }
    assert inc == full
    assert (4, 30) in inc and (32, 33) in inc  # planted cases fired


def test_ivf_index_stats_detects_drift(spark, tmp_path):
    """The rebuild trigger ivf_append_index's docstring promises: a healthy
    index reports skew under the threshold; appending a batch drawn from a
    SHIFTED distribution (everything lands in few cells) pushes max/median
    cell skew past IVF_REBUILD_SKEW and flips rebuild_recommended."""
    import math
    import random

    from chapterbridge_ocr_worker_spark.operators.similarity import (
        ivf_build_index,
        ivf_append_index,
        ivf_index_stats,
    )

    rng = random.Random(5)
    dim = 6

    def vec(center=None):
        v = [rng.uniform(-1, 1) for _ in range(dim)]
        if center is not None:  # drifted: tight cone around one direction
            v = [c + 0.05 * x for c, x in zip(center, v)]
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    schema = "vec_id: long, embedding: array<float>"
    b1 = spark.createDataFrame([(i, vec()) for i in range(64)], schema)
    idx = str(tmp_path / "ivf_drift")
    ivf_build_index(b1, idx, n_centroids=8)
    healthy = ivf_index_stats(spark, idx)
    assert healthy["n_centroids"] == 8 and healthy["n_vectors"] == 64
    assert healthy["rebuild_recommended"] is False

    center = vec()
    drifted = spark.createDataFrame(
        [(1000 + i, vec(center)) for i in range(600)], schema
    )
    ivf_append_index(drifted, idx)
    after = ivf_index_stats(spark, idx)
    assert after["n_vectors"] == 664
    assert after["skew_ratio"] > healthy["skew_ratio"]
    assert after["rebuild_recommended"] is True

    # the maintenance action: recluster from the full assignments table —
    # skew drops and the flag clears, with every vector still indexed
    from chapterbridge_ocr_worker_spark.operators.similarity import (
        ivf_rebuild_index,
    )

    rebuilt = ivf_rebuild_index(spark, idx)
    assert rebuilt["n_vectors"] == 664
    assert rebuilt["skew_ratio"] < after["skew_ratio"]
    assert rebuilt["rebuild_recommended"] is False


def test_multimodal_resize_frames_features(spark):
    from chapterbridge_ocr_worker_spark.engine import fakeimg
    from chapterbridge_ocr_worker_spark.engine.fakeimg import FakeLine, encode
    from chapterbridge_ocr_worker_spark.operators.multimodal import (
        extract_features,
        resize_media,
        sample_frames,
    )

    tall = encode(800, 4000, [FakeLine(10, y, 200, 30, 200, f"l{y}")
                              for y in (100, 1500, 3900)])
    short = encode(640, 500, [FakeLine(5, 10, 100, 30, 180, "hi")])
    media = spark.createDataFrame(
        [("m/tall", bytearray(tall)), ("m/short", bytearray(short)),
         ("m/bad", bytearray(b"\xff\xd8\xffJPEGISH"))],
        ["media_ref", "content"],
    )

    rs = {r["media_ref"]: r for r in resize_media(media, max_height=1000).collect()}
    assert rs["m/tall"]["height"] == 1000 and rs["m/tall"]["scale"] == 0.25
    scaled = fakeimg.decode(bytes(rs["m/tall"]["content"]))
    assert [l.y for l in scaled.lines] == [25, 375, 975]  # geometry scaled
    assert rs["m/short"]["scale"] == 1.0  # under the cap: passthrough
    assert rs["m/bad"]["error"] is not None  # real decode gated -> dead-letter

    fr = [r for r in sample_frames(media, n_frames=4).collect()
          if r["media_ref"] == "m/tall"]
    assert [r["frame_idx"] for r in sorted(fr, key=lambda r: r["frame_idx"])] == [0, 1, 2, 3]
    texts = []
    for r in fr:
        img = fakeimg.decode(bytes(r["content"]))
        assert img.height == r["y_end"] - r["y_start"]
        for l in img.lines:
            assert 0 <= l.y < img.height  # band-local coords
            texts.append(l.text)
    assert sorted(texts) == ["l100", "l1500", "l3900"]  # no line lost or duped

    ft = {r["media_ref"]: r for r in extract_features(media).collect()}
    assert len(ft["m/tall"]["features"]) == 7
    assert ft["m/tall"]["features"][3] == 3.0  # n_regions
    assert ft["m/bad"]["error"] is not None


def test_bigram_lm_score_hand_computed(spark):
    """Corpus: c2(a,b)=3, c2(b,a)=1, c2(a,c)=1; c1(a)=4, c1(b)=1.
    Doc 1 'a b a b' -> (2*ln(3/4) + ln(1/1))/3; doc 3's rare (a,c) bigram
    makes it the lowest-scoring (the gibberish tail a CCNet-style gate
    drops); a single-token doc has no bigrams and no row."""
    import math

    from chapterbridge_ocr_worker_spark.operators.textstats import (
        bigram_lm_score,
    )

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "a c"), (4, "solo")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in bigram_lm_score(df).collect()}
    assert set(out) == {1, 2, 3}  # doc 4: one token, zero bigrams
    assert out[1]["n_bigrams"] == 3
    assert out[1]["avg_logprob"] == round(2 * math.log(3 / 4) / 3, 4)
    assert out[2]["avg_logprob"] == round(math.log(3 / 4), 4)
    assert out[3]["avg_logprob"] == round(math.log(1 / 4), 4)
    assert out[3]["ppl"] == round(math.exp(-round(math.log(1 / 4), 4)), 4)
    worst = min(out.values(), key=lambda r: r["avg_logprob"])
    assert worst["doc_id"] == 3


def test_url_canonicalize_rules(spark):
    """Each canonicalization rule pinned on a hand-written URL: case,
    www-strip, default-port drop vs explicit-port keep, trailing-slash trim
    (root survives), tracking-param drop + param sort, fragment drop."""
    from chapterbridge_ocr_worker_spark.operators.urls import (
        canonicalize_url,
        url_dedup,
    )

    cases = [
        ("HTTPS://WWW.Example.COM:443/a/b/?z=2&utm_source=x&a=1#frag",
         "https://example.com/a/b?a=1&z=2"),
        ("http://site.org:80/", "http://site.org/"),
        ("http://site.org:8080/p", "http://site.org:8080/p"),  # real port kept
        ("https://site.org", "https://site.org/"),             # empty path -> /
        ("http://a.b/p?ref=tw&b=2&a=1", "http://a.b/p?a=1&b=2"),
        ("http://a.b/p?utm_x=1", "http://a.b/p"),               # all params dropped
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], ["doc_id", "url"]
    )
    got = {
        r["doc_id"]: r["c"]
        for r in df.select(
            "doc_id", canonicalize_url(F.col("url")).alias("c")
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, f"case {i}: {got[i]!r} != {want!r}"

    # dedup: cases 0 and a cosmetic variant collapse; keep-min-id wins
    dup = spark.createDataFrame(
        [(10, cases[0][0]), (3, "https://example.com/a/b?a=1&z=2&utm_y=0")],
        ["doc_id", "url"],
    )
    rows = url_dedup(dup).collect()
    assert len(rows) == 1
    assert rows[0]["keep_id"] == 3 and rows[0]["n_fetches"] == 2


def test_frozen_lm_score_oov_smoothing(spark):
    """Model from 'a b a c': c2(a,b)=c2(b,a)=c2(a,c)=1; c1(a)=2, c1(b)=1;
    N=3. Scoring 'a b z a q' exercises all three smoothing branches:
    (a,b) seen -> ln(1/2); (b,z) seen head -> ln(1/(1+1)); (z,a) unseen
    head -> ln(1/(3+1)); (a,q) seen head -> ln(1/(2+1))."""
    import math

    from chapterbridge_ocr_worker_spark.operators.textstats import (
        bigram_model,
        frozen_lm_score,
    )

    model = bigram_model(
        spark.createDataFrame([(0, "a b a c")], ["doc_id", "text"])
    )
    new = spark.createDataFrame(
        [(10, "a b z a q"), (11, "a b"), (12, "solo")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in frozen_lm_score(new, model).collect()}
    assert set(out) == {10, 11}  # doc 12: no bigrams, no row
    want10 = (math.log(0.5) + math.log(0.5) + math.log(0.25) + math.log(1 / 3)) / 4
    assert out[10]["avg_logprob"] == round(want10, 4)
    assert out[10]["n_bigrams"] == 4 and out[10]["n_oov"] == 3
    assert out[11]["avg_logprob"] == round(math.log(0.5), 4)
    assert out[11]["n_oov"] == 0


def test_bigram_model_counts_are_additive(spark):
    """The incremental-model claim: training per slice and merging equals
    training on the union (bigrams never cross doc boundaries, so doc
    partitioning partitions the counts). Checked on real testdata."""
    from chapterbridge_ocr_worker_spark.operators.textstats import (
        bigram_model,
        merge_bigram_models,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    full = bigram_model(d)
    merged = merge_bigram_models(
        bigram_model(d.filter(F.col("doc_id") < 250)),
        bigram_model(d.filter(F.col("doc_id") >= 250)),
    )
    f = {(r["w1"], r["w2"]): r["c2"] for r in full.collect()}
    m = {(r["w1"], r["w2"]): r["c2"] for r in merged.collect()}
    assert f == m and len(f) > 100


def test_pq_topk_clusters_and_exact_duplicate(spark):
    """Product quantization: on well-separated clusters the ADC top-5 stays
    in-cluster, and an exact duplicate quantizes to the same codes in every
    subspace -> adist_q == 0 at rank 1."""
    import random

    from pyspark.sql import Row

    from chapterbridge_ocr_worker_spark.operators.similarity import pq_topk

    rng = random.Random(5)
    rows = []
    for c in range(3):
        for i in range(18):
            v = [0.0] * 16
            v[c * 5] = 5.0
            rows.append(
                Row(
                    vec_id=c * 100 + i,
                    embedding=[round(x + rng.uniform(-0.3, 0.3), 3) for x in v],
                )
            )
    rows.append(Row(vec_id=300, embedding=rows[0]["embedding"]))  # clone of 0
    df = spark.createDataFrame(rows)
    qs = df.filter(F.col("vec_id").isin(0, 100, 200))
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["adist_q"])
        for r in pq_topk(df, qs, k=5).collect()
    }
    assert got[(0, 1)][0] == 300  # the clone: identical codes everywhere
    cluster = {300: 0}
    for r in rows[:-1]:
        cluster[r["vec_id"]] = r["vec_id"] // 100
    for (qid, _), (nid, _) in got.items():
        assert cluster[nid] == cluster[qid]


def test_pq_index_build_append_query(spark, tmp_path):
    """Materialized PQ index lifecycle: build on batch 1, snapshot-append
    batch 2 encoded with the FROZEN codebooks, queries find exact clones
    across batches at rank 1 with adist_q == 0; and the full-build indexed
    path equals the inline pq_topk pipeline exactly (shared codebook
    sample rule)."""
    import random

    from chapterbridge_ocr_worker_spark.operators.similarity import (
        pq_append_index,
        pq_build_index,
        pq_query_index,
        pq_topk,
    )

    rng = random.Random(11)
    dim = 16

    def vec():
        return [round(rng.uniform(-1, 1), 3) for _ in range(dim)]

    batch1 = [(i, vec()) for i in range(40)]
    batch2 = [(100, batch1[7][1]), (101, batch1[23][1])] + [
        (110 + i, vec()) for i in range(20)
    ]
    schema = "vec_id: long, embedding: array<float>"
    b1 = spark.createDataFrame(batch1, schema)
    b2 = spark.createDataFrame(batch2, schema)

    idx = str(tmp_path / "pq")
    pq_build_index(b1, idx)
    pq_append_index(b2, idx)

    queries = spark.createDataFrame([(7, batch1[7][1]), (100, batch1[7][1])], schema)
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["adist_q"])
        for r in pq_query_index(spark, idx, queries, k=3).collect()
    }
    # a clone shares every code, so it sits at the minimum possible ADC
    # distance (the query's own quantization error — NOT zero unless the
    # query was sampled into the codebook) and ranks first
    assert got[(7, 1)][0] == 100   # batch-1 query finds its batch-2 clone
    assert got[(100, 1)][0] == 7   # and vice versa
    # identical query vectors => identical distance tables => symmetric adist
    assert got[(7, 1)][1] == got[(100, 1)][1]

    allv = b1.unionByName(b2)
    idx2 = str(tmp_path / "pq_full")
    pq_build_index(allv, idx2)
    qs = allv.filter("vec_id % 10 = 0")
    via_index = {tuple(r) for r in pq_query_index(spark, idx2, qs, k=5).collect()}
    inline = {tuple(r) for r in pq_topk(allv, qs, k=5).collect()}
    assert via_index == inline


def test_hashed_linear_classifier_weight_table_path_equal(spark):
    """The trained-model serving path (explode -> broadcast-join the
    (bucket, w) table -> per-doc partial agg) must produce EXACTLY the
    zero-join arithmetic default when the table holds the same weights —
    pinning that swapping in a real trained model changes parameters, not
    semantics. Also: empty/whitespace docs score margin 0.0, keep=false."""
    from pyspark.sql import Row

    from chapterbridge_ocr_worker_spark.operators.textstats import (
        hash_weight_table,
        hashed_linear_score,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="The quick brown fox jumps"),
            Row(doc_id=2, text="click here buy now cheap pills"),
            Row(doc_id=3, text=""),
            Row(doc_id=4, text="   "),
            Row(doc_id=5, text="Ein vollständig anderer deutscher Satz."),
        ]
    )
    default = {tuple(r) for r in hashed_linear_score(docs).collect()}
    via_table = {
        tuple(r)
        for r in hashed_linear_score(
            docs, weights=hash_weight_table(spark)
        ).collect()
    }
    assert via_table == default
    by_id = {r[0]: r for r in default}
    assert by_id[3][1] == 0.0 and by_id[3][3] is False
    assert by_id[4][1] == 0.0 and by_id[4][3] is False
    # same text twice -> same score (pure function of content)
    docs2 = spark.createDataFrame([Row(doc_id=9, text="The quick brown fox jumps")])
    assert hashed_linear_score(docs2).collect()[0]["margin"] == by_id[1][1]


def test_ivfpq_equals_pq_when_probes_cover_cluster(spark):
    """IVF-PQ = PQ's ranking restricted to probed cells: on well-separated
    clusters every ADC-nearest neighbor lives in the query's own probed
    cell, so the composition must return exactly pq_topk's answer — pinning
    that probing changes the candidate set, never the distances."""
    import random

    from pyspark.sql import Row

    from chapterbridge_ocr_worker_spark.operators.similarity import (
        ivfpq_topk,
        pq_topk,
    )

    rng = random.Random(7)
    rows = []
    for c in range(3):
        for i in range(18):
            v = [0.0] * 16
            v[c * 5] = 5.0
            rows.append(
                Row(
                    vec_id=c * 100 + i,
                    embedding=[round(x + rng.uniform(-0.3, 0.3), 3) for x in v],
                )
            )
    df = spark.createDataFrame(rows)
    qs = df.filter(F.col("vec_id").isin(0, 100, 200))
    via_pq = {tuple(r) for r in pq_topk(df, qs, k=5).collect()}
    via_ivfpq = {
        tuple(r)
        for r in ivfpq_topk(df, qs, k=5, n_centroids=8, nprobe=3).collect()
    }
    assert via_ivfpq == via_pq


def test_ivfpq_index_build_append_query(spark, tmp_path):
    """Materialized IVF-PQ lifecycle: build fuses cell assignment + code
    encoding into one pass; append assigns/encodes a new batch against the
    FROZEN centroids + codebooks; cross-batch clones are found at rank 1;
    and the full-build indexed path equals the inline ivfpq_topk
    composition exactly."""
    import random

    from chapterbridge_ocr_worker_spark.operators.similarity import (
        ivfpq_append_index,
        ivfpq_build_index,
        ivfpq_query_index,
        ivfpq_topk,
    )

    rng = random.Random(11)
    dim = 16

    def vec():
        return [round(rng.uniform(-1, 1), 3) for _ in range(dim)]

    batch1 = [(i, vec()) for i in range(40)]
    batch2 = [(100, batch1[7][1]), (101, batch1[23][1])] + [
        (110 + i, vec()) for i in range(20)
    ]
    schema = "vec_id: long, embedding: array<float>"
    b1 = spark.createDataFrame(batch1, schema)
    b2 = spark.createDataFrame(batch2, schema)

    idx = str(tmp_path / "ivfpq")
    ivfpq_build_index(b1, idx, n_centroids=4)
    ivfpq_append_index(b2, idx)

    queries = spark.createDataFrame([(7, batch1[7][1]), (100, batch1[7][1])], schema)
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivfpq_query_index(spark, idx, queries, k=3, nprobe=2).collect()
    }
    # a clone shares the cell (always probed: it is the query's own best
    # cell) and every code -> minimum ADC distance, rank 1
    assert got[(7, 1)] == 100 and got[(100, 1)] == 7

    allv = b1.unionByName(b2)
    idx2 = str(tmp_path / "ivfpq_full")
    ivfpq_build_index(allv, idx2, n_centroids=4)
    qs = allv.filter("vec_id % 10 = 0")
    via_index = {
        tuple(r) for r in ivfpq_query_index(spark, idx2, qs, k=5, nprobe=2).collect()
    }
    inline = {
        tuple(r) for r in ivfpq_topk(allv, qs, k=5, n_centroids=4, nprobe=2).collect()
    }
    assert via_index == inline


def test_ivf_index_stats_applies_to_ivfpq_cells(spark, tmp_path):
    """The drift trigger generalizes to the composed index: stats over the
    IVF-PQ cells table report the same populations the IVF assignments
    would, and a drifted appended batch flips rebuild_recommended."""
    import random

    from chapterbridge_ocr_worker_spark.operators.similarity import (
        ivf_index_stats,
        ivfpq_append_index,
        ivfpq_build_index,
    )

    rng = random.Random(3)
    dim = 16
    base = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(dim)]) for i in range(60)
    ]
    schema = "vec_id: long, embedding: array<float>"
    idx = str(tmp_path / "ivfpq")
    ivfpq_build_index(spark.createDataFrame(base, schema), idx, n_centroids=4)
    healthy = ivf_index_stats(spark, idx, assignments_table="cells")
    assert healthy["n_vectors"] == 60 and healthy["n_centroids"] == 4

    # a shifted batch 10x the corpus collapses into few cells -> skew
    drift = [
        (1000 + i, [round(10.0 + rng.uniform(0, 0.1), 3)] * dim)
        for i in range(600)
    ]
    ivfpq_append_index(spark.createDataFrame(drift, schema), idx)
    drifted = ivf_index_stats(spark, idx, assignments_table="cells")
    assert drifted["n_vectors"] == 660
    assert drifted["rebuild_recommended"] is True


def test_bm25_ranking_semantics(spark):
    """BM25 pins: tf raises the score, document-length normalization
    lowers it at equal tf, and docs containing no query term are absent
    (score > 0 filter)."""
    from chapterbridge_ocr_worker_spark.operators.search import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "hash hash hash join"),              # high tf, short
            (2, "hash join"),                        # low tf, short
            (3, "hash join " + "filler " * 40),      # same tf as 2, long
            (4, "completely unrelated words here"),  # no term: absent
        ],
        ["doc_id", "text"],
    )
    rows = bm25_topk(df, ["hash", "join"], k=10).collect()
    ranks = {r["doc_id"]: r["rank"] for r in rows}
    assert 4 not in ranks
    assert ranks[1] < ranks[2] < ranks[3]


def test_rrf_fusion_semantics(spark):
    """RRF pins: present-in-both beats present-in-one; at equal fused
    score the id tiebreak is ascending; contributions are the exact
    fixed-point integers floor(1e6/(60+rank))."""
    from chapterbridge_ocr_worker_spark.operators.search import rrf_fuse

    a = spark.createDataFrame([(10, 1), (20, 2), (30, 3)], ["doc_id", "rank"])
    b = spark.createDataFrame([(20, 1), (40, 2), (10, 3)], ["doc_id", "rank"])
    rows = {r["doc_id"]: (r["rrf_q"], r["rank"]) for r in rrf_fuse([a, b]).collect()}
    f = lambda r: 1_000_000 // (60 + r)
    assert rows[20][0] == f(2) + f(1)
    assert rows[10][0] == f(1) + f(3)
    assert rows[30][0] == f(3) and rows[40][0] == f(2)
    # both-lists docs outrank single-list docs here
    assert rows[20][1] == 1 and rows[10][1] == 2
    assert rows[40][1] == 3 and rows[30][1] == 4


def test_bm25_indexed_equals_inline(spark, tmp_path):
    """The postings-table path must be byte-identical to the inline
    scorer: identical idf/tf/length inputs, identical float fold order —
    including docs matching only SOME query terms, terms with df=0, and
    append-grown indexes (df comes from postings counts, so a new slice
    changes scores exactly as an inline rescore would... given the stats
    row is rebuilt, which build_inverted_index owns)."""
    from chapterbridge_ocr_worker_spark.operators.search import (
        bm25_query_index,
        bm25_topk,
        build_inverted_index,
    )

    df = spark.createDataFrame(
        [
            (1, "hash join hash scan"),
            (2, "join vector"),
            (3, "vector vector vector filler words"),
            (4, "nothing relevant at all"),
            (5, "hash " + "pad " * 30),
        ],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "inv")
    build_inverted_index(df, idx)
    terms = ["hash", "join", "vector", "zzz_absent"]
    inline = [tuple(r) for r in bm25_topk(df, terms, k=10).collect()]
    indexed = [tuple(r) for r in bm25_query_index(spark, idx, terms, k=10).collect()]
    assert indexed == inline and len(inline) == 4  # doc 4 absent


def test_kmeans_refine_recovers_planted_clusters(spark):
    """Two tight planted clusters: after Lloyd iterations every cluster-A
    vector shares one cell and every cluster-B vector the other — the
    refinement converges to the planted partition and holds it (an
    idempotence-of-converged-state check, since iteration 3 must not
    move a centroid that already sits on its cluster mean)."""
    from chapterbridge_ocr_worker_spark.operators.similarity import (
        _assign_cells,
        kmeans_refine,
    )

    rows = []
    # cluster A near (1, 0, 0), cluster B near (0, 1, 0); ids interleaved
    for i in range(10):
        rows.append((i * 2, [10.0 + (i % 3) * 0.1, 0.1 * (i % 2), 0.0]))
        rows.append((i * 2 + 1, [0.1 * (i % 2), 10.0 + (i % 3) * 0.1, 0.0]))
    emb = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>"
    )
    cents = kmeans_refine(emb, n_centroids=2, iters=3)
    assigned = {
        r["neighbor_id"]: r["bucket"]
        for r in _assign_cells(
            emb, cents, "vec_id", "embedding"
        ).collect()
    }
    a_cells = {assigned[i] for i in assigned if i % 2 == 0}
    b_cells = {assigned[i] for i in assigned if i % 2 == 1}
    assert len(a_cells) == 1 and len(b_cells) == 1 and a_cells != b_cells


def test_kmeans_refine_empty_cell_keeps_previous_centroid(spark):
    """A centroid that attracts no vectors must survive the update
    unchanged (Lloyd convention), not crash or collapse to nulls."""
    from chapterbridge_ocr_worker_spark.operators.similarity import kmeans_refine

    emb = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(6)],
        "vec_id: long, embedding: array<double>",
    )
    cents = kmeans_refine(emb, n_centroids=4, iters=2)
    assert len(cents) == 4
    assert all(len(c) == 2 and all(x is not None for x in c) for c in cents)


def test_semdedup_drops_clone_keeps_outer_representative(spark):
    """SemDeDup semantics on a planted fixture: two tight semantic-dup
    groups inside one cluster plus a lone diverse point. In each dup
    group the survivor must be the member FARTHEST from the centroid
    (the paper keeps the low-centroid-similarity representative); exact
    clones tie on cent_sim and break by lower id. The diverse point and
    the other cluster are untouched."""
    from chapterbridge_ocr_worker_spark.operators.similarity import semdedup

    import math

    def ang(deg):  # unit vector in the x-y plane at `deg` from +x
        return [math.cos(math.radians(deg)), math.sin(math.radians(deg)), 0.0]

    rows = [
        # cluster X: dup group {0, 1, 2} — clones 0/1 at 0 deg, 2 at 8 deg
        # (cos 8 = 0.990 >= 0.97); 4 = diverse member at 45 deg (cos 37 =
        # 0.80 to its nearest groupmate, below threshold)
        (0, ang(0.0)),
        (1, ang(0.0)),
        (2, ang(8.0)),
        (4, ang(45.0)),
        # cluster Z around +z: 31 deg apart (cos = 0.857, no dup pair)
        (5, [0.0, 0.0, 1.0]),
        (6, [0.0, 0.6, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    out = {r["vec_id"]: r for r in semdedup(emb, n_centroids=2, iters=3).collect()}
    assert len(out) == 6  # one row per input, none lost
    keep = {i for i, r in out.items() if r["keep"]}
    # the X centroid sits ~13 deg (pulled by the 45-deg member), so 2 is
    # the group's centroid-nearest point and must be shed; the clones tie
    # on cent_sim and break by lower id
    assert out[0]["cent_sim"] < out[2]["cent_sim"]
    assert keep == {0, 4, 5, 6}


def test_substring_spans_merge_and_scope(spark):
    """Exact-substring-dedup semantics on a hand-built corpus: a shared
    run longer than the window merges into ONE maximal span with exact
    token boundaries; two disjoint shared phrases in one doc stay two
    islands; a phrase repeated only WITHIN a single doc is not flagged."""
    from chapterbridge_ocr_worker_spark.operators.dedup import (
        duplicate_substring_spans,
    )

    shared = "alpha beta gamma delta epsilon"          # 5 tokens
    other = "zeta eta theta iota kappa"                # 5 tokens
    docs = spark.createDataFrame(
        [
            # doc 0/1 share tokens 2..6 (the 5-token phrase); doc 0 also
            # shares `other` with doc 2 at tokens 10..14
            (0, f"u0 v0 {shared} w0 x0 y0 {other} z0"),
            (1, f"a1 b1 {shared} c1 d1"),
            (2, f"p2 q2 r2 s2 t2 u2 v2 w2 x2 y2 {other}"),
            # doc 3 repeats a phrase with itself only -> cross-doc gate
            # must NOT flag it
            (3, "solo dup dup dup solo dup dup dup solo xx yy zz"),
        ],
        "doc_id: long, text: string",
    )
    out = duplicate_substring_spans(docs, window=4, min_docs=2)
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
        for r in out.collect()
    }
    # doc0: shared at tokens [2,7) -> windows at pos 2,3 -> span (2, 7);
    #       other at tokens [10,15) -> windows at 10,11 -> span (10, 15)
    # doc1: shared at [2,7); doc2: other at [10,15); doc3: nothing
    assert spans == {
        (0, 2, 7, 2),
        (0, 10, 15, 2),
        (1, 2, 7, 2),
        (2, 10, 15, 2),
    }


def test_substring_excise_keeps_one_canonical_copy(spark):
    """The corrected-corpus semantics: the minimum doc_id holding a
    duplicated window keeps its text verbatim (token-normalized); every
    other holder loses exactly the covered span; untouched docs pass
    through with n_removed=0."""
    from chapterbridge_ocr_worker_spark.operators.dedup import (
        excise_duplicate_substrings,
    )

    shared = "alpha beta gamma delta epsilon"  # 5 tokens
    docs = spark.createDataFrame(
        [
            (0, f"u0 v0 {shared} w0"),
            (1, f"a1 b1 c1 {shared} d1 e1"),
            (2, "lonely words with no duplicate run at all"),
            (3, ""),
        ],
        "doc_id: long, text: string",
    )
    out = {r["doc_id"]: r for r in
           excise_duplicate_substrings(docs, window=4, min_docs=2).collect()}
    assert len(out) == 4
    # doc 0 is the keeper (min id): verbatim, nothing removed
    assert out[0]["text_deduped"] == f"u0 v0 {shared} w0"
    assert out[0]["n_removed"] == 0
    # doc 1 loses tokens [3, 8) (windows at pos 3,4 merge): 5 tokens cut
    assert out[1]["text_deduped"] == "a1 b1 c1 d1 e1"
    assert out[1]["n_removed"] == 5 and out[1]["n_tokens"] == 10
    # pass-through and empty-text docs survive
    assert out[2]["n_removed"] == 0 and out[2]["n_tokens"] == 8
    assert out[3]["text_deduped"] == "" and out[3]["n_tokens"] == 0


def test_bloom_gate_exact_equivalence_and_selectivity(spark):
    """The Bloom prefilter never changes the answer, only the probe-side
    size of the confirm join: on a corpus with planted cross-slice dups,
    bloom_gated_incremental_exact == incremental_exact_dedup row-for-row,
    every true prior-dup is bloom-positive (no false negatives — the
    correctness-critical direction), and novel docs overwhelmingly skip
    the confirm join."""
    from chapterbridge_ocr_worker_spark.operators.dedup import (
        bloom_build,
        bloom_gated_incremental_exact,
        bloom_probe,
        exact_hashes,
        incremental_exact_dedup,
    )

    prior = spark.createDataFrame(
        [(i, f"prior document number {i} body text") for i in range(200)],
        "doc_id: long, text: string",
    )
    new = spark.createDataFrame(
        # 10 exact copies of prior docs, 2 dups-within-new, 88 novel
        [(1000 + i, f"prior document number {i} body text") for i in range(10)]
        + [(1100, "novel twin"), (1101, "novel twin")]
        + [(1200 + i, f"new document {i} never seen") for i in range(88)],
        "doc_id: long, text: string",
    )
    ph = exact_hashes(prior)
    plain = {r["id"]: r["keep"] for r in incremental_exact_dedup(new, ph).collect()}
    gated = {
        r["id"]: r["keep"]
        for r in bloom_gated_incremental_exact(new, ph).collect()
    }
    assert gated == plain
    assert sum(gated.values()) == 88 + 1  # novels + first "novel twin"

    probes = bloom_probe(exact_hashes(new), bloom_build(ph))
    pos = {r["id"] for r in probes.filter("bloom_pos").collect()}
    dup_ids = set(range(1000, 1010))
    assert dup_ids <= pos  # zero false negatives
    # designed fp rate at ~10 bits/key is <1%; allow slack but require the
    # gate to actually gate: at most a handful of the 90 novel hashes pass
    assert len(pos - dup_ids) <= 5


def test_bloom_gate_stays_exact_under_heavy_false_positives(spark):
    """Shrink the bitmap until false positives are common (m=64 bits for
    200 keys -> saturated filter): the gate's selectivity collapses but
    the final keep set is STILL bit-identical to the plain anti-join —
    false positives cost work, never answers."""
    from chapterbridge_ocr_worker_spark.operators.dedup import (
        bloom_gated_incremental_exact,
        exact_hashes,
        incremental_exact_dedup,
    )

    prior = spark.createDataFrame(
        [(i, f"prior doc {i}") for i in range(200)], "doc_id: long, text: string"
    )
    new = spark.createDataFrame(
        [(500, "prior doc 7"), (501, "fresh one"), (502, "fresh two"),
         (503, "fresh one")],
        "doc_id: long, text: string",
    )
    ph = exact_hashes(prior)
    plain = {r["id"]: r["keep"] for r in incremental_exact_dedup(new, ph).collect()}
    tiny = {
        r["id"]: r["keep"]
        for r in bloom_gated_incremental_exact(new, ph, m_bits=64, k=3).collect()
    }
    assert tiny == plain == {500: 0, 501: 1, 502: 1, 503: 0}


def test_bloom_build_folds_incrementally(spark):
    """bit_or of two slices' bitmaps == the bitmap of the union — the
    property that lets a bitmap grow slice by slice with a re-aggregate
    instead of a rebuild over the full corpus."""
    from pyspark.sql import functions as F

    from chapterbridge_ocr_worker_spark.operators.dedup import (
        bloom_build,
        exact_hashes,
    )

    a = spark.createDataFrame(
        [(i, f"slice-a doc {i}") for i in range(50)], "doc_id: long, text: string"
    )
    b = spark.createDataFrame(
        [(i, f"slice-b doc {i}") for i in range(50, 90)],
        "doc_id: long, text: string",
    )
    union_words = {
        r["widx"]: r["word"]
        for r in bloom_build(exact_hashes(a.union(b))).collect()
    }
    folded = {
        r["widx"]: r["word"]
        for r in bloom_build(exact_hashes(a))
        .union(bloom_build(exact_hashes(b)))
        .groupBy("widx")
        .agg(F.bit_or("word").alias("word"))
        .collect()
    }
    assert folded == union_words


def test_bloom_roundtrip_at_production_sizing(spark):
    """bloom_build/probe round-trip at the exact (m, k) bloom_params
    documents for 10^9 keys (m=2^34, k=12): with raw 60-bit md5 halves,
    h1 + 11*h2 overflows int64 and ANSI mode aborted the job — the
    advertised production sizing crashed while the k=5 default worked.
    Pins (a) no overflow at the returned sizing, (b) zero false negatives,
    and (c) position values bit-identical to an unbounded-integer Python
    recompute of (h1 + i*h2) mod m — i.e. the overflow fix is the SAME
    function, not a rehash (persisted bitmaps from earlier revisions stay
    valid)."""
    from chapterbridge_ocr_worker_spark.operators.dedup import (
        _bloom_positions,
        bloom_build,
        bloom_params,
        bloom_probe,
        exact_hashes,
    )

    m, k = bloom_params(10**9, 0.01)
    assert k >= 8  # the regime where the unreduced stride multiply overflowed

    docs = spark.createDataFrame(
        [(i, f"member doc {i}") for i in range(40)], "doc_id: long, text: string"
    )
    words = bloom_build(exact_hashes(docs), m_bits=m, k=k)
    probes = bloom_probe(
        exact_hashes(docs), words, m_bits=m, k=k
    )  # would raise ARITHMETIC_OVERFLOW before the mod-m reduction
    assert probes.filter("NOT bloom_pos").count() == 0  # no false negatives

    got = (
        spark.createDataFrame([(f"doc {i}",) for i in range(20)], "t: string")
        .select(F.md5("t").alias("h"), _bloom_positions(F.col("h"), m, k).alias("pos"))
        .collect()
    )
    for r in got:
        hd = r["h"]
        h1, h2 = int(hd[:15], 16), int(hd[15:30], 16) | 1
        want = [(h1 + i * h2) % m for i in range(k)]  # Python ints: no overflow
        assert list(r["pos"]) == want


def test_bloom_params_sizing():
    """bloom_params hits the textbook operating point: at the returned
    (m, k), the analytic fp rate (1 - e^{-kn/m})^k is at or below ~the
    requested target (power-of-two rounding only ever grows m), and the
    defaults stay in range for the test-scale corpus."""
    import math

    from chapterbridge_ocr_worker_spark.operators.dedup import (
        BLOOM_K,
        BLOOM_M_BITS,
        bloom_params,
    )

    for n, p in ((26_000, 0.01), (1_000_000, 0.001), (10**9, 0.01)):
        m, k = bloom_params(n, p)
        assert m & (m - 1) == 0  # power of two
        analytic = (1 - math.exp(-k * n / m)) ** k
        assert analytic <= p * 1.05, (n, p, m, k, analytic)
    # degenerate input falls back to the module defaults
    assert bloom_params(0) == (BLOOM_M_BITS, BLOOM_K)
    # 10^9 keys at 1%: the docstring's 2.1 GB / k=12 operating point
    m, k = bloom_params(10**9, 0.01)
    assert 1.0e9 <= m / 8 <= 2.5e9 and 5 <= k <= 16


def test_url_frontier_dedup_planted(spark):
    """Frontier semantics on planted URLs: a new fetch is kept iff its
    CANONICAL url was never seen before (cosmetic variants of a prior
    fetch are dups) and it is the oldest new fetch of that url; the gate
    matches a plain canonical anti-join decision-for-decision."""
    from chapterbridge_ocr_worker_spark.operators.urls import url_frontier_dedup

    prior = spark.createDataFrame(
        [(1, "https://example.com/a?utm_source=x"),
         (2, "http://other.com/b")],
        "doc_id: long, text: string",
    ).withColumnRenamed("text", "url")
    new = spark.createDataFrame(
        [(10, "HTTPS://WWW.Example.COM:443/a"),   # canon-dup of prior 1
         (11, "https://fresh.com/c"),             # novel
         (12, "https://fresh.com/c/"),            # canon-dup of 11 (new-new)
         (13, "http://other.com/b?ref=tw")],      # canon-dup of prior 2
        "doc_id: long, text: string",
    ).withColumnRenamed("text", "url")
    got = {r["id"]: r["keep"] for r in url_frontier_dedup(new, prior).collect()}
    assert got == {10: 0, 11: 1, 12: 0, 13: 0}
