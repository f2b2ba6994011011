"""Physical-plan shape pins — the 100 TB hygiene checks from SURVEY.md §4.

These fail if a future change silently loses column pruning, predicate
pushdown, or broadcast joins, or adds shuffles to the extraction DAG."""

from chapterbridge_ocr_worker_spark.plans import inspect as pi
from chapterbridge_ocr_worker_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    df = QUERIES["p2_eq_conjunction"].fn(spark, SF)
    pushed = pi.pushed_filters(df, "orders")
    assert "EqualTo(o_orderstatus,F)" in pushed
    assert "EqualTo(o_orderpriority,1-URGENT)" in pushed


def test_column_pruning_reaches_scan(spark):
    df = QUERIES["q3_topk_revenue"].fn(spark, SF)
    schema = pi.scan_read_schema(df, "lineitem")
    # 3 of 11 lineitem columns
    assert "l_orderkey" in schema and "l_extendedprice" in schema
    assert "l_shipdate" not in schema and "l_partkey" not in schema


def test_dimension_joins_broadcast(spark):
    df = QUERIES["j3_dim_chain"].fn(spark, SF)
    assert pi.count_broadcast_joins(df) >= 2  # nation + region
    plan = pi.formatted(df)
    assert "SortMergeJoin" not in plan


def test_extraction_shuffle_budget(spark):
    """The extraction DAG over pre-materialized input must stay at its
    designed shuffle count: media join (both sides), the pre-UDF
    repartition (always on) and the reassembly groupBy."""
    import chapterbridge_ocr_worker_spark.sources.tables  # noqa: F401
    from chapterbridge_ocr_worker_spark import datagen, schemas
    from chapterbridge_ocr_worker_spark.pipeline import run_extraction

    docs, media = datagen.generate_corpus(n_docs=6, seed=5, corrupt_fraction=0.0)
    ddf = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    mdf = spark.createDataFrame(media, schema=schemas.MEDIA)
    out = run_extraction(spark, ddf, mdf).output
    # join (2 sides) + pre-UDF repartition (pins UDF parallelism against
    # AQE byte-based coalescing) + reassembly groupBy = 4
    assert pi.count_exchanges(out) == 4
    plan = pi.formatted(out)
    # exactly the OCR stage (AQE may echo the node in the initial-plan
    # section, hence <= 2, never the 4x of the uncached-input regression)
    assert 1 <= plan.count("MapInPandas") <= 2


def test_bucketed_join_is_shuffle_free(spark):
    """The media-blob join's shuffle disappears when both sides are
    bucketed by media_ref with the same bucket count — the pipeline
    docstring's scale claim, made real and pinned."""
    from chapterbridge_ocr_worker_spark import datagen, schemas
    from chapterbridge_ocr_worker_spark.operators.reassemble import (
        explode_spans,
        split_media_text,
    )
    from chapterbridge_ocr_worker_spark.sources.tables import write_bucketed

    docs, media = datagen.generate_corpus(n_docs=12, seed=21, corrupt_fraction=0.0)
    ddf = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    mdf = spark.createDataFrame(media, schema=schemas.MEDIA)
    media_spans, _ = split_media_text(explode_spans(ddf))

    # plain parquet-in-memory sides: the equi-join shuffles both sides
    plain = media_spans.select("doc_id", "offset", "media_ref").join(
        mdf.select("media_ref", "content").hint("merge"), "media_ref"
    )
    from chapterbridge_ocr_worker_spark.plans import inspect as pi

    assert pi.count_exchanges(plain) >= 2

    write_bucketed(
        media_spans.select("doc_id", "offset", "media_ref"),
        "t_spans_bucketed", ["media_ref"], num_buckets=8, sort_cols=["media_ref"],
    )
    write_bucketed(
        mdf.select("media_ref", "content"),
        "t_media_bucketed", ["media_ref"], num_buckets=8, sort_cols=["media_ref"],
    )
    spans_b = spark.table("t_spans_bucketed")
    media_b = spark.table("t_media_bucketed")
    joined = spans_b.join(media_b.hint("merge"), "media_ref")
    assert pi.count_exchanges(joined) == 0  # bucket-aligned: no shuffle
    assert joined.count() == media_spans.count()


def test_dedup_lsh_plan_hygiene(spark):
    """The LSH dedup family: signature table cached (InMemoryRelation), no
    cartesian product anywhere, and the candidate explode carries only the
    narrow (id, bucket) projection."""
    from chapterbridge_ocr_worker_spark.operators.dedup import (
        jaccard_pairs_lsh,
        simhash_neardup_pairs,
    )

    df = spark.createDataFrame(
        [(i, f"w{i} common tokens shared {i%3}") for i in range(30)],
        ["doc_id", "text"],
    )
    for op in (jaccard_pairs_lsh, simhash_neardup_pairs):
        plan = pi.formatted(op(df))
        assert "InMemoryRelation" in plan or "InMemoryTableScan" in plan
        assert "CartesianProduct" not in plan


def test_q7_fact_chain_broadcasts_all_dims(spark):
    """TPC-H Q7 shape: aggregation above lineitem⋈orders⋈customer with two
    nation edges. Every dimension edge (supplier, both nations — and at
    this SF customer too) must resolve to a broadcast join; a SortMergeJoin
    on a dimension edge would shuffle the fact table once per dim at
    scale. The fact-fact edge is left to AQE."""
    df = QUERIES["q7_nation_volume"].fn(spark, SF)
    assert pi.count_broadcast_joins(df) >= 3  # supplier + nation x2 pinned
    plan = pi.formatted(df)
    assert "CartesianProduct" not in plan
    # at this SF every table is broadcast-sized: any SMJ means a dimension
    # edge fell through to a fact-sized shuffle
    assert "SortMergeJoin" not in plan


def test_curate_topk_uses_window_group_limit(spark):
    """The per-language top-k must compile to WindowGroupLimit (running
    top-k per group on both the partial and final side) — a plain Window
    sort would fully sort the corpus per language at scale."""
    df = QUERIES["curate_topk_per_lang"].fn(spark, SF)
    plan = pi.formatted(df)
    assert plan.count("WindowGroupLimit") >= 2  # partial + final
    assert "CartesianProduct" not in plan


def _incremental_pair_plan(docs, prior_sigs):
    """The pre-cut pair stage of ``incremental_dedup(new, prior_sigs)`` with
    its defaults (prior docs as singleton clusters), fed the persisted new
    signatures incremental_dedup feeds it. incremental_dedup ends that
    stage in a checkpoint, so the frame it returns shows the pairs only as
    a LogicalRDD; the pair plan is pinned here instead."""
    from pyspark.sql import functions as F

    from chapterbridge_ocr_worker_spark.operators.cache import persist_tracked
    from chapterbridge_ocr_worker_spark.operators.dedup import (
        _incremental_pairs,
        minhash_signatures,
    )

    return _incremental_pairs(
        persist_tracked(minhash_signatures(docs.filter("doc_id >= 20"))),
        prior_sigs,
        prior_sigs.select("id", F.col("id").alias("cluster_id")),
        threshold=0.6,
        min_est=0.35,
        max_bucket=256,
    )


def test_incremental_dedup_plan_hygiene(spark, tmp_path):
    """incremental_dedup's pair stage over a parquet prior-signature table:
    the prior side must enter as a plain FileScan (no per-char hash fold
    re-derived for prior docs — 'ascii(' may appear exactly once, for the
    NEW slice), equi-joins only, no cartesian fallback."""
    from chapterbridge_ocr_worker_spark.operators.dedup import materialize_signatures

    docs = spark.createDataFrame(
        [(i, f"w{i} common tokens shared {i % 3}") for i in range(30)],
        ["doc_id", "text"],
    )
    prior_sigs = materialize_signatures(
        docs.filter("doc_id < 20"), str(tmp_path / "sigs")
    )
    plan = pi.formatted(_incremental_pair_plan(docs, prior_sigs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Scan parquet" in plan  # prior side reads the materialized table
    # the signature hash fold runs for the new slice only: one consumer
    # (the persisted union barrier), not one per prior-side consumer
    assert plan.count("ascii(") <= 1


def test_incremental_dedup_bucket_tables_plan(spark, tmp_path):
    """The weekly path over a materialized signature table, which is the
    only bucket state: the plan must (a) read no separate bucket table —
    band rows and caps come from the signature table's bands column, so
    this pin no longer requires the (id, bh) and (bh, n) table scans it
    pinned when those tables existed, (b) stay equi-joins, (c) keep the
    new-slice-only hash fold. Pinned on the pair stage's plan, as above."""
    from chapterbridge_ocr_worker_spark.operators.dedup import (
        incremental_dedup,
        materialize_signatures,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i} common tokens shared {i % 3}") for i in range(30)],
        ["doc_id", "text"],
    )
    sig_path = str(tmp_path / "psigs")
    prior_sigs = materialize_signatures(docs.filter("doc_id < 20"), sig_path)
    plan = pi.formatted(_incremental_pair_plan(docs, prior_sigs))
    out = incremental_dedup(
        minhash_signatures(docs.filter("doc_id >= 20")), prior_sigs
    )
    assert "psigs]" in plan  # the prior side scans the signature table
    assert "_buckets" not in plan  # and no bucket-state table
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("ascii(") <= 1  # hash fold: new slice only
    assert out.count() >= 0  # and it actually runs off the tables


def test_cc_round_plan_hygiene(spark):
    """One connected-components round: neighbor-min propagation + pointer
    jump must stay equi-joins and a key-hash groupBy — no nested-loop or
    cartesian fallback (those would be quadratic in nodes at scale)."""
    from pyspark.sql import functions as F

    from chapterbridge_ocr_worker_spark.operators.dedup import _cc_round

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], ["src", "dst"]
    )
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    labels = spark.range(21).select(F.col("id"), F.col("id").alias("label"))
    plan = pi.formatted(_cc_round(labels, sym))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hashpartitioning" in plan  # the groupBy(dst) min shuffles on key


def test_ann_and_neardup_plan_hygiene(spark):
    """ann_topk_lsh: probe set broadcast to the corpus side, never a
    cartesian; cosine_neardup_pairs: signature cache barrier present and
    the bucket self-join is an equi-join (no cartesian)."""
    from chapterbridge_ocr_worker_spark.operators.similarity import (
        ann_topk_lsh,
        cosine_neardup_pairs,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    ann = ann_topk_lsh(emb, emb.filter("vec_id % 100 = 0"), k=5, bits=6)
    plan = pi.formatted(ann)
    # r6 shape: one fused corpus-linear kernel (signature + probe scoring)
    # replaces the signature projection + broadcast bucket-join — the plan
    # must carry the MapInArrow stage, no join at all on the corpus side,
    # and still no cartesian
    assert "MapInArrow" in plan
    assert "Join" not in plan.replace("MapInArrow", "")
    assert "CartesianProduct" not in plan

    nd = cosine_neardup_pairs(emb, threshold=0.9, bits=6)
    plan = pi.formatted(nd)
    assert "InMemoryRelation" in plan or "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan
    from chapterbridge_ocr_worker_spark.operators.cache import release_caches

    release_caches()


def test_ivf_indexed_plan_scans_table(spark, tmp_path):
    """Indexed IVF: the corpus side of a query batch must be a plain
    FileScan of the materialized assignments table — no per-row centroid
    re-scoring of the corpus (the 16-way cosine transform must appear for
    the QUERY side only), probes broadcast, no cartesian."""
    from chapterbridge_ocr_worker_spark.operators.similarity import (
        ivf_build_index,
        ivf_query_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    ivf_build_index(emb, idx, n_centroids=8)
    out = ivf_query_index(spark, idx, emb.filter("vec_id % 100 = 0"), k=5, nprobe=2)
    plan = pi.formatted(out)
    assert "Scan parquet" in plan and "CartesianProduct" not in plan
    # r6 shape: probed-pair scoring is the MapInArrow kernel over the
    # assignments FileScan; the probed-bucket set is PUSHED DOWN into that
    # scan (unprobed cells never read), and no corpus-side cosine
    # re-scoring (the 16-way centroid fold) appears for the corpus side
    assert "MapInArrow" in plan
    assert "bucket" in pi.scan_read_schema(out, "assignments")
    import re

    m = re.search(r"assignments[\s\S]{0,600}?PushedFilters: \[([^\]]*)\]", plan)
    assert m and "In(bucket" in m.group(1)


def test_ivf_plan_broadcasts_probes(spark):
    """IVF ANN: cell assignment is a per-row projection (no corpus
    self-join), probes broadcast to the corpus side."""
    from chapterbridge_ocr_worker_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = ivf_topk(emb, emb.filter("vec_id % 100 = 0"), k=5, n_centroids=8, nprobe=2)
    plan = pi.formatted(df)
    # r6 shape: cell scores + probe scoring are kernels; the assignment
    # DECISION (round + argmax) stays a JVM projection between them, and
    # there is no corpus self-join or cartesian anywhere
    assert plan.count("MapInArrow") >= 2
    assert "round(" in plan and "array_position" in plan
    assert "CartesianProduct" not in plan


def test_incremental_neardup_scans_prior_sig_table(spark, tmp_path):
    """incremental_cosine_neardup: the prior corpus enters as a FileScan of
    the materialized (id, vec, bucket) table with bucket READ FROM FILE —
    the frozen-prior contract. The hyperplane signature fold (its 40503
    plane-hash constant) must appear for the NEW batch only: re-hashing the
    prior side would double the fold count and break the |new|-sized run."""
    from chapterbridge_ocr_worker_spark.operators.cache import release_caches
    from chapterbridge_ocr_worker_spark.operators.similarity import (
        incremental_cosine_neardup,
        materialize_vector_signatures,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    sig_path = str(tmp_path / "vsigs")
    prior = materialize_vector_signatures(
        emb.filter("vec_id % 5 != 0"), sig_path, bits=6
    )
    out = incremental_cosine_neardup(
        emb.filter("vec_id % 5 = 0"), prior, threshold=0.5, bits=6
    )
    plan = pi.formatted(out)
    assert "vsigs" in plan and "CartesianProduct" not in plan
    # the sig-table scan serves bucket from parquet, not a recompute
    assert "bucket:bigint" in pi.scan_read_schema(out, "vsigs")
    # one signature fold per plan appearance of the new-batch projection;
    # a prior-side re-hash would add folds over the vsigs scan (none)
    import re

    for scan in re.findall(r"Scan parquet[\s\S]{0,400}?ReadSchema: \S+", plan):
        if "vsigs" in scan:
            assert "40503" not in scan
    assert out.count() >= 0  # and the plan executes off the table
    release_caches()


def test_curation_suite_plan_hygiene(spark):
    """Scale shapes of the curation suite: decontamination probes the
    corpus against a BROADCAST benchmark-gram set (the corpus never
    shuffles for the probe); the mix sampler's rate map broadcasts back to
    a corpus-side projection+filter with no corpus sort anywhere."""
    plan = pi.formatted(QUERIES["decontam_overlap"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan

    mix = QUERIES["curate_mix_sample"].fn(spark, SF)
    plan = pi.formatted(mix)
    assert pi.count_broadcast_joins(mix) >= 1
    assert "CartesianProduct" not in plan and "Sort " not in plan

    # shard packing parallelizes across hash buckets: the window must be
    # PARTITIONED (a global single-partition window would serialize the
    # corpus through one task)
    plan = pi.formatted(QUERIES["curate_shard_pack"].fn(spark, SF))
    assert "hashpartitioning(bucket" in plan


def test_incremental_segment_dedup_prior_set_shuffle_free(spark, tmp_path):
    """incremental_segment_dedup: the corpus-sized prior segment set must
    enter as a FileScan that is NEVER shuffled — it is semi-joined against
    the slice's distinct segments (broadcast) and the hit set broadcasts
    back. An Exchange directly above the segset scan means the prior table
    got hash-partitioned, which at 10^12 docs is a corpus-wide shuffle
    every weekly run."""
    import re

    from chapterbridge_ocr_worker_spark.operators.curation import (
        incremental_segment_dedup,
        materialize_segment_set,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    seg_path = str(tmp_path / "segset")
    materialize_segment_set(docs.filter("doc_id % 5 != 0"), seg_path, k=3)
    out = incremental_segment_dedup(
        docs.filter("doc_id % 5 = 0"), spark.read.parquet(seg_path), k=3
    )
    plan = pi.formatted(out)
    assert "segset" in plan and "CartesianProduct" not in plan
    # find the segset scan's node id in the detail section, then walk the
    # operator tree UP from that scan to the enclosing LeftSemi join: every
    # line on the way must be exchange-free (the prior table streams into a
    # BroadcastHashJoin whose build side is the slice's distinct segments)
    m = re.search(r"\((\d+)\) Scan parquet[\s\S]{0,600}?Location:[^\n]*segset", plan)
    assert m, "segset scan not found in plan detail"
    sid = m.group(1)
    tree = plan.split("\n\n")[0].splitlines()
    (scan_line,) = [i for i, l in enumerate(tree) if f"({sid})" in l]
    path = []
    for i in range(scan_line, -1, -1):
        path.append(tree[i])
        if "Join LeftSemi" in tree[i]:
            break
    else:
        raise AssertionError("segset scan not under a LeftSemi join")
    assert "BroadcastHashJoin LeftSemi" in path[-1]
    assert not any("Exchange" in l for l in path[:-1]), path
    assert pi.count_broadcast_joins(out) >= 2
    assert out.count() >= 0


def test_lm_score_and_url_plan_hygiene(spark):
    """Round-5 additions stay JVM-side and shuffle-lean: the LM score is
    pure column expressions (no Python eval anywhere) with map-side
    partial counts feeding the model aggregates; URL dedup is a narrow
    map + one partial-aggregated groupBy on the canonical string."""
    plan = pi.formatted(QUERIES["text_lm_score"].fn(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan  # map-side combine on the model counts

    plan = pi.formatted(QUERIES["url_dedup_keep"].fn(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "hashpartitioning(canon_url" in plan
    assert "partial_min" in plan or "partial_count" in plan


def test_pq_indexed_plan_scans_codes_only(spark, tmp_path):
    """Indexed PQ: the corpus side of a query batch is a plain FileScan of
    the materialized codes table — the embedding column is read ONCE, for
    the broadcast query side; the corpus vectors are never touched. That
    is the whole point of the compression leg (8 bytes/row scanned instead
    of a 256-byte float vector)."""
    from chapterbridge_ocr_worker_spark.operators.similarity import (
        pq_build_index,
        pq_query_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = str(tmp_path / "pq")
    pq_build_index(emb, idx)
    out = pq_query_index(spark, idx, emb.filter("vec_id % 100 = 0"), k=5)
    plan = pi.formatted(out)
    assert "CartesianProduct" not in plan
    # r6: the query-side distance tables are computed and collected before
    # this plan is built, so the executed plan touches NO embedding bytes
    # at all — only the codes table feeds the ADC kernel
    assert plan.count("embeddings.parquet") == 0
    assert "MapInArrow" in plan
    assert "/codes" in plan


def test_hashed_linear_classifier_plan_hygiene(spark):
    """Default path: the entire classifier is column expressions — no
    join, no exchange, no Python; weights-table path: the model table
    enters as a broadcast join (never a shuffled one)."""
    from chapterbridge_ocr_worker_spark.operators.textstats import (
        hash_weight_table,
        hashed_linear_score,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = pi.formatted(hashed_linear_score(docs))
    assert "Join" not in plan and "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    via_table = hashed_linear_score(docs, weights=hash_weight_table(spark))
    plan2 = pi.formatted(via_table)
    assert pi.count_broadcast_joins(via_table) >= 1
    assert "SortMergeJoin" not in plan2


def test_ivfpq_indexed_plan_scans_cells_only(spark, tmp_path):
    """Indexed IVF-PQ: the corpus side of a query batch is a FileScan of
    the materialized cells table (9 bytes/row) joined on the probed
    buckets — the embedding column is read once, for the broadcast query
    side, and neither cosine re-scoring nor code re-encoding of the
    corpus appears in the plan."""
    from chapterbridge_ocr_worker_spark.operators.similarity import (
        ivfpq_build_index,
        ivfpq_query_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = str(tmp_path / "ivfpq")
    ivfpq_build_index(emb, idx, n_centroids=8)
    out = ivfpq_query_index(spark, idx, emb.filter("vec_id % 100 = 0"), k=5, nprobe=2)
    plan = pi.formatted(out)
    assert "CartesianProduct" not in plan
    # r6 shape: ADC runs in the MapInArrow kernel over the cells FileScan
    # with the probed buckets pushed down; the embeddings parquet is read
    # once (query side)
    assert "MapInArrow" in plan
    # query side collected pre-plan: no embedding bytes in the executed plan
    assert plan.count("embeddings.parquet") == 0
    assert "/cells" in plan
    import re

    m = re.search(r"cells[\s\S]{0,600}?PushedFilters: \[([^\]]*)\]", plan)
    assert m and "In(bucket" in m.group(1)


def test_bm25_indexed_plan_reads_postings_only(spark, tmp_path):
    """Indexed BM25: the scan is the postings table with the term
    IN-filter PUSHED to parquet (PushedFilters carries the In(term)),
    and the documents parquet is never read."""
    from chapterbridge_ocr_worker_spark.operators.search import (
        bm25_query_index,
        build_inverted_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    idx = str(tmp_path / "inv")
    build_inverted_index(docs, idx)
    out = bm25_query_index(spark, idx, ["hash", "join"], k=5)
    plan = pi.formatted(out)
    assert "documents.parquet" not in plan
    assert "/postings" in plan
    assert "PushedFilters" in plan and "In(term" in plan


def test_dsir_stats_join_is_broadcast(spark):
    """dsir_weights / dsir_select: the <=1024-row bucket-stats table (and
    the 1-row totals) reach the corpus side as broadcasts — the only
    corpus-sized exchange is the per-doc vote/weight aggregation. A
    SortMergeJoin here would shuffle the full exploded feature stream at
    100 TB."""
    for name in ("dsir_weights", "dsir_sample"):
        df = QUERIES[name].fn(spark, SF)
        plan = pi.formatted(df)
        assert pi.count_broadcast_joins(df) >= 1, name
        assert "SortMergeJoin" not in plan, name


def test_bloom_gate_bitmap_joins_broadcast(spark):
    """dedup_bloom_gate: the (widx, word) bitmap table is broadcast-sized
    by construction (<= m/64 rows regardless of corpus size) and must
    reach the probe side as a broadcast — a SortMergeJoin on widx would
    shuffle the k-way exploded probe stream of the whole slice at 100 TB.
    The only sort-merge exchanges allowed are the hash-keyed joins of the
    confirm/keep phase (uniform 128-bit keys)."""
    df = QUERIES["dedup_bloom_gate"].fn(spark, SF)
    plan = pi.formatted(df)
    assert pi.count_broadcast_joins(df) >= 1
    assert "SortMergeJoin (widx" not in plan and "widx#" not in (
        # no sort-merge join keyed on widx anywhere in the plan
        "".join(l for l in plan.splitlines() if "SortMergeJoin" in l)
    )
