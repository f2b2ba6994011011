"""Equivalence pins for the r6 Arrow/NumPy fast-path kernels.

Every kernel must be VALUE-IDENTICAL to the JVM expression it replaced:
float kernels replay the exact IEEE-754 fold order (bit-equality is
asserted, not approximate closeness); integer kernels are exact by
construction. These tests pin that contract against either the retained
JVM implementation or an independent pure-Python recompute.
"""

import struct

import pytest
from pyspark.sql import functions as F

MH_PRIME = 2_147_483_647


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def test_cosine_topk_kernel_matches_join_impl(spark):
    """Kernel brute-force top-k == the pre-r6 crossJoin+HOF plan, row for
    row (including ranks decided on raw-double ordering)."""
    from chapterbridge_ocr_worker_spark.operators.similarity import (
        _cosine_topk_join,
        cosine_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    new = sorted(tuple(r) for r in cosine_topk(emb, q, k=7).collect())
    old = sorted(tuple(r) for r in _cosine_topk_join(emb, q, k=7).collect())
    assert new == old and len(new) > 0


def test_simhash_kernel_matches_jvm_fold(spark):
    """use_kernel=True == the default JVM vote fold, bit for bit."""
    from chapterbridge_ocr_worker_spark.operators.dedup import simhash_signatures

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    jvm = {r["id"]: r["simhash"] for r in simhash_signatures(docs).collect()}
    ker = {
        r["id"]: r["simhash"]
        for r in simhash_signatures(docs, use_kernel=True).collect()
    }
    assert jvm == ker and len(jvm) == 500


def test_minhash_kernel_matches_python_recompute(spark):
    """sig/bands from the kernel == an independent pure-Python recompute
    of the permutation min-fold and band fold over the SAME JVM-produced
    token hashes (exact integer arithmetic end to end)."""
    from chapterbridge_ocr_worker_spark.operators.dedup import (
        MH_FAMILIES,
        MH_ROWS,
        _BAND_MULT,
        minhash_signatures,
        portable_token_hash,
        token_set,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").limit(80)
    hs_rows = {
        r["id"]: list(r["hs"])
        for r in docs.select(
            F.col("doc_id").alias("id"),
            F.transform(
                token_set(F.col("text")), lambda t: portable_token_hash(t)
            ).alias("hs"),
        ).collect()
    }
    a_coef, b_coef = MH_FAMILIES[0]
    out = {
        r["id"]: (list(r["sig"]), list(r["bands"]))
        for r in minhash_signatures(docs).collect()
    }
    assert len(out) == 80
    for did, (sig, bands) in out.items():
        hs = hs_rows[did]
        exp_sig = [
            min(((a * h + b) % MH_PRIME for h in hs), default=MH_PRIME)
            for a, b in zip(a_coef, b_coef)
        ]
        assert sig == exp_sig, did
        exp_bands = []
        for j in range(len(sig) // MH_ROWS):
            acc = 0
            for x in [j] + sig[j * MH_ROWS : (j + 1) * MH_ROWS]:
                acc = (acc * _BAND_MULT + x) % MH_PRIME
            exp_bands.append(acc)
        assert bands == exp_bands, did


def test_window_hash_composition_matches_string_hash(spark):
    """The composed rolling gram hash == portable_token_hash of the
    space-joined gram string, for every (doc, pos) — the modular identity
    the r6 substring-dedup rewrite rests on."""
    from chapterbridge_ocr_worker_spark.operators.dedup import _window_hashes
    from chapterbridge_ocr_worker_spark.operators.cache import release_caches

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").limit(60)
    base, wnd = _window_hashes(docs, 8, "text", "doc_id")
    got = {(r["id"], r["pos"]): r["h"] for r in wnd.collect()}
    toks = {r["id"]: list(r["_tk"]) for r in base.collect()}
    n_expected = 0
    for did, tk in toks.items():
        for pos in range(max(0, len(tk) - 7)):
            gram = " ".join(tk[pos : pos + 8])
            h = 0
            for ch in gram:
                h = (h * 31 + ord(ch)) % MH_PRIME
            assert got[(did, pos)] == h, (did, pos)
            n_expected += 1
    assert len(got) == n_expected > 0
    release_caches()


def test_bucket_pair_cos_matches_join_pairs(spark):
    """bucket_pair_cos == the explicit same-bucket self-join with the HOF
    cosine, bit for bit (raw doubles compared by bit pattern)."""
    from chapterbridge_ocr_worker_spark.operators.fastpath import bucket_pair_cos
    from chapterbridge_ocr_worker_spark.operators.similarity import cosine

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    sigs = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("vec"),
        (F.col("vec_id") % 7).alias("bucket"),
    )
    ker = {
        (r["id_a"], r["id_b"]): _bits(r["cos"])
        for r in bucket_pair_cos(sigs, "id", "vec", "bucket").collect()
    }
    a, b = sigs.alias("a"), sigs.alias("b")
    ref = {
        (r["id_a"], r["id_b"]): _bits(r["cos"])
        for r in a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cosine(F.col("a.vec"), F.col("b.vec")).alias("cos"),
        )
        .collect()
    }
    assert ker == ref and len(ker) > 1000


def test_adc_kernel_matches_jvm_lookup_sum(spark):
    """adc_candidates covers the true top-k with exact int64 sums: every
    (query, neighbor, adist) the JVM lookup-sum ranks into its top-k is
    present in the kernel's candidate superset with the same adist."""
    from pyspark.sql.window import Window

    from chapterbridge_ocr_worker_spark.operators.fastpath import adc_candidates

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    m = 4
    codes = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(m)),
            lambda j: ((F.col("vec_id") * j) % 5 + 1).cast("int"),
        ).alias("codes"),
    )
    q_ids = [0, 100, 200]
    q_tables = [
        [[(qi + j * c) % 97 for c in range(5)] for j in range(m)] for qi in q_ids
    ]
    cand = adc_candidates(codes, q_ids, q_tables, 5, m)
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist_q").asc(), F.col("neighbor_id").asc()
    )
    got = {
        (r["query_id"], r["neighbor_id"]): r["adist_q"]
        for r in cand.withColumn("rank", F.row_number().over(w))
        .filter("rank <= 5")
        .collect()
    }
    # JVM reference: broadcast-join + aggregate lookup-sum, full rank
    qdt = spark.createDataFrame(
        [(qi, t) for qi, t in zip(q_ids, q_tables)],
        "query_id long, dt array<array<long>>",
    )
    scored = (
        codes.join(F.broadcast(qdt))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.sequence(F.lit(1), F.lit(m)),
                F.lit(0).cast("long"),
                lambda acc, j: acc
                + F.element_at(
                    F.element_at(F.col("dt"), j), F.element_at(F.col("codes"), j)
                ),
            ).alias("adist_q"),
        )
    )
    ref = {
        (r["query_id"], r["neighbor_id"]): r["adist_q"]
        for r in scored.withColumn("rank", F.row_number().over(w))
        .filter("rank <= 5")
        .collect()
    }
    assert got == ref and len(ref) == 15


def test_bucket_pair_sig_matches_kernel(spark):
    """The fused candidate+match kernel reproduces the old shape exactly:
    same-bucket unordered pairs, match counts equal to the component-wise
    signature comparison, and in flag mode only >=1-flagged pairs with
    per-side flags."""
    from chapterbridge_ocr_worker_spark.operators.fastpath import (
        bucket_pair_sig_matches,
    )

    rows = [
        (i, [(i * p) % 7 for p in (1, 2, 3, 5)], i % 3, i >= 10)
        for i in range(16)
    ]
    df = spark.createDataFrame(
        rows, "id long, sig array<long>, bh long, is_new boolean"
    )
    got = {
        (r["id_a"], r["id_b"]): r["matching"]
        for r in bucket_pair_sig_matches(df, 4).distinct().collect()
    }
    sig = {i: s for i, s, _, _ in rows}
    exp = {}
    for i, si, bi, _ in rows:
        for j, sj, bj, _ in rows:
            if i < j and bi == bj:
                exp[(i, j)] = sum(a == b for a, b in zip(si, sj))
    assert got == exp and len(exp) > 10
    flagged = {
        (r["id_a"], r["id_b"]): (r["matching"], r["new_a"], r["new_b"])
        for r in bucket_pair_sig_matches(df, 4, flag_col="is_new")
        .distinct()
        .collect()
    }
    exp_f = {
        (i, j): (m, i >= 10, j >= 10)
        for (i, j), m in exp.items()
        if i >= 10 or j >= 10
    }
    assert flagged == exp_f and 0 < len(exp_f) < len(exp)


def test_lsh_bucket_kernel_matches_jvm_signature(spark):
    """Kernel LSH buckets == the retained JVM lsh_signature fold for every
    corpus row (raw-sign decisions on bit-identical projections)."""
    from chapterbridge_ocr_worker_spark.operators.similarity import (
        lsh_signature,
        vector_signatures,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    jvm = {
        r["id"]: r["bucket"]
        for r in emb.select(
            F.col("vec_id").alias("id"),
            lsh_signature(F.col("embedding"), 10).alias("bucket"),
        ).collect()
    }
    ker = {r["id"]: r["bucket"] for r in vector_signatures(emb, bits=10).collect()}
    assert jvm == ker and len(jvm) == 500


def test_spread_starts_no_spark_job(spark):
    """_spread decides the parallelism floor from the plan: on an adaptive
    plan (an anti-join and a groupBy, like a weekly job's pending slice) it
    starts no Spark job, where asking for the partition count would run the
    upstream stages. A scan with fewer partitions than the parallelism is
    spread; one with enough is returned as is."""
    from chapterbridge_ocr_worker_spark.operators.fastpath import _spread

    sc = spark.sparkContext
    p = sc.defaultParallelism
    pending = (
        spark.range(200).join(spark.range(50), "id", "left_anti")
        .groupBy((F.col("id") % 7).alias("k")).count()
    )
    narrow, wide = spark.range(0, 100, numPartitions=1), spark.range(0, 100, numPartitions=p)
    sc.setJobGroup("spread-probe", "_spread")
    try:
        spread = [_spread(df) for df in (pending, narrow, wide)]
        jobs = list(sc.statusTracker().getJobIdsForGroup("spread-probe"))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert jobs == []
    assert spread[2] is wide
    assert spread[0].rdd.getNumPartitions() == spread[1].rdd.getNumPartitions() == p
    assert sorted(spread[0].collect()) == sorted(pending.collect())
