"""Similarity search over embedding columns (array<float>).

Two paths, as a training-data pipeline needs at different scales:

- brute-force cosine top-k: exact; one broadcast of the (small) query set
  against the full corpus — linear scan, no shuffle of the corpus at all.
  All math is built-in higher-order functions (zip_with/aggregate), double
  precision, JVM-side.
- LSH-bucketed ANN: random-hyperplane signatures (deterministic,
  hash-derived planes so every engine agrees), candidates = bucket
  co-membership, exact re-rank inside the bucket. The scale path: the
  corpus shuffles once on the signature, each query touches ~1/2^bits of
  the data.

Embedding near-dup (cosine > threshold pairs) reuses the same primitives.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .cache import persist_tracked

ANN_BITS = 12  # hyperplane count for the LSH path (4096 buckets)
_PLANE_SEED = 0x5EED


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query (self excluded), deterministic
    tiebreak on neighbor id. Result: (query_id, neighbor_id, cos_r, rank).

    r6 optimization (guide §4.2): the |corpus| x |queries| cosine matrix
    is computed by a NumPy mapInArrow kernel (fastpath.py) instead of a
    crossJoin of per-pair JVM higher-order-function folds — measured
    ~20x at sf1.0 (75 s -> under 4 s) with bit-identical doubles (the
    kernel replays the exact fold order; see fastpath.py's contract).
    The query side is collected to the driver — the same bounded
    broadcast-equivalence as before (the old plan broadcast the full
    query set to every task); the kernel emits per-batch per-query top-k
    candidate SUPERSETS, and this JVM window keeps the final ranking —
    and the rounding — exactly where it was."""
    from .fastpath import brute_cosine_candidates

    q_rows = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
        .collect()
    )  # bounded: the query batch (broadcast-equivalent, as the old plan)
    cand = brute_cosine_candidates(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
        ),
        [r["query_id"] for r in q_rows],
        [list(r["qvec"]) for r in q_rows],
        k,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 4).alias("cos_r"),
            "rank",
        )
    )


def _cosine_topk_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The pre-r6 JVM-expression implementation of cosine_topk (crossJoin
    + HOF cosine). Kept as the equivalence reference:
    tests/test_fastpath.py pins cosine_topk == _cosine_topk_join to full
    double precision."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    qs = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    scored = (
        c.crossJoin(F.broadcast(qs))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qvec"), F.col("cvec")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 4).alias("cos_r"),
            "rank",
        )
    )


def _plane_weight(bit: int, dim_idx: Column) -> Column:
    """Deterministic pseudo-random hyperplane weight in [-1, 1) so driver,
    executors and reruns all agree without shipping a plane matrix.

    PORTABLE by design (same rationale as dedup.portable_token_hash): a
    Knuth-style multiplicative mix of (dim+1) with a per-bit odd stride,
    plain int64 arithmetic reproducible in any SQL engine — the DuckDB twins
    in queries.py recompute the identical signature, which is what lets the
    whole ANN / embedding-near-dup family be value-hash-oracled (xxhash64,
    used previously, is not SQL-reproducible). Successive dims jump by
    ~0.24 of the 2^31 range before the second mod, so weights are
    well-spread despite the linear form."""
    h = F.pmod(
        (dim_idx.cast("long") + 1) * F.lit(2654435761 + bit * 40503)
        + F.lit(_PLANE_SEED),
        F.lit(2_147_483_647),
    )
    return (F.pmod(h, F.lit(2_000_003)).cast("double") / F.lit(1_000_001.5)) - F.lit(1.0)


def lsh_signature(vec: Column, bits: int = ANN_BITS) -> Column:
    """Random-hyperplane signature: bit b = sign(<vec, plane_b>).

    ONE aggregate with an array<double>[bits] projection accumulator
    instead of `bits` aggregates that each re-walk the vector (same
    rewrite as the MinHash/SimHash signatures; ~1.6x faster measured,
    bit-identical output — per-bit addition order is unchanged)."""
    pairs = F.zip_with(
        vec,
        F.sequence(F.lit(0), F.size(vec) - 1),
        lambda v, i: F.struct(v.cast("double").alias("v"), i.alias("i")),
    )
    bidx = F.sequence(F.lit(0), F.lit(bits - 1))
    projs = F.aggregate(
        pairs,
        F.array_repeat(F.lit(0.0), bits),
        lambda acc, e: F.zip_with(
            acc, bidx, lambda a, b: a + e["v"] * _plane_weight(b, e["i"])
        ),
    )
    pow2 = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    return F.aggregate(
        F.zip_with(
            projs, pow2, lambda p, w: F.when(p > 0, w).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int = 8,
    multiprobe: bool = True,
    probe_depth: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact re-rank within the query's LSH bucket(s).

    multiprobe=True probes the query's own bucket PLUS every 1-bit-flip
    neighbor (bits+1 probes): a true neighbor that lands one hyperplane away
    — the dominant miss mode for random-hyperplane LSH — is still found.
    probe_depth=2 adds every 2-bit-flip bucket (C(bits,2) more probes),
    catching neighbors two planes away; with bits=8 that is 37 probes of
    256 buckets, a ~14% corpus-scan fraction — about the same touch rate as
    bits=6 single-flip but with measurably higher recall (the multiprobe
    trade: spend probes, not tables, so the corpus is NOT replicated the
    way multi-table E2LSH replicates it). Probe cost is query-side only:
    probe_count broadcast rows per query, the corpus-side signature stays
    one linear scan, and each (query, neighbor) can match at most once (a
    corpus vector has exactly one bucket, probe buckets are distinct), so
    no candidate dedup is needed. Measured on sf0.01 embeddings: recall@10
    vs the exact top-k roughly doubles over single-probe at depth 1 and
    again at depth 2 (tests/test_operators.py).
    """
    # r6 fastpath: ONE fused corpus-linear kernel computes each row's
    # signature (raw-sign decision — no rounding anywhere in this family)
    # and scores it against the queries multiprobing that bucket; the old
    # plan's signature HOF fold + broadcast bucket-join disappear. Query
    # signatures/probes are derived driver-side from the collected query
    # batch with the identical fold (fastpath.lsh_bucket_np).
    import numpy as np

    from .fastpath import lsh_bucket_np, lsh_cosine_candidates, plane_matrix

    q_rows = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
        .collect()
    )  # bounded: the query batch (broadcast-equivalent, as the old plan)
    ids = [r["query_id"] for r in q_rows]
    vecs = [[float(x) for x in r["qvec"]] for r in q_rows]
    masks: list[int] = []
    if multiprobe:
        masks = [1 << b for b in range(bits)]
        if probe_depth >= 2:
            masks += [
                (1 << b1) | (1 << b2)
                for b1 in range(bits)
                for b2 in range(b1 + 1, bits)
            ]
    pm: dict[int, list[int]] = {}
    if ids:
        W = plane_matrix(bits, len(vecs[0]), _PLANE_SEED, 2654435761, 40503)
        sigs = lsh_bucket_np(np.asarray(vecs, dtype=np.float64), W)
        for qix, s in enumerate(sigs):
            for b in [int(s)] + [int(s) ^ m for m in masks]:
                pm.setdefault(b, []).append(qix)
    cand = lsh_cosine_candidates(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
        ),
        pm,
        ids,
        vecs,
        k,
        bits,
        _PLANE_SEED,
        2654435761,
        40503,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 4).alias("cos_r"), "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:  # noqa: D401 — r6: assign + probe scoring run on fastpath kernels
    """IVF-style ANN: partition the corpus into centroid cells, probe the
    nprobe nearest cells per query, exact re-rank inside them.

    The second scale path next to LSH (ann_topk_lsh): a query touches
    ~nprobe/n_centroids of the corpus, and the cell assignment is ONE
    narrow column per corpus row — no corpus self-join at all.

    Centroids are a deterministic pseudo-random corpus sample: the
    n_centroids rows minimizing (vec_id * 2654435761) % (2^31-1) — a
    Knuth multiplicative hash reproducible in plain SQL, which is what
    makes the whole operator DuckDB-oracle-able (cell assignment, probe
    ranking and re-rank are recomputed exactly by the twin). No k-means
    iterations: at 100 TB the standard play is sampled centroids (or a
    MLlib KMeans fit on a sample) broadcast as a plan literal; collecting
    n_centroids vectors to the driver is the broadcast-equivalent here.

    Ties everywhere break deterministically: cell assignment takes the
    FIRST index of the max rounded score; probe order is (score desc,
    index asc); final rank is (cos desc, neighbor_id asc).
    """
    cent_rows = _sample_centroids(corpus, n_centroids, id_col, vec_col)
    cents = [[float(x) for x in r["cvec"]] for r in cent_rows]
    corp = _assign_cells(corpus, cents, id_col, vec_col)
    return _probe_and_rank(corp, queries, cents, len(cents), k, nprobe,
                           id_col, vec_col)


def _sample_centroids(corpus, n_centroids, id_col, vec_col):
    """The deterministic pseudo-random sample (Knuth multiplicative hash
    min-n rows) — n rows to the driver, broadcast-equivalent."""
    return (
        corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
        .withColumn("h", (F.col("cid") * F.lit(2654435761)) % F.lit(2147483647))
        .orderBy("h", "cid")
        .limit(n_centroids)
        .collect()
    )


def _centroid_literal(vecs) -> Column:
    return F.array(
        *[F.array(*[F.lit(float(x)) for x in v]) for v in vecs]
    )


def _cell_scores(cent_arr: Column, vec: Column) -> Column:
    # rounded to 4dp BEFORE the argmax/probe ordering so engine float
    # noise can't flip assignments between Spark and the SQL twin
    return F.transform(cent_arr, lambda c: F.round(cosine(vec, c), 4))


def _assign_cells(corpus, cents, id_col, vec_col) -> DataFrame:
    """(neighbor_id, cvec, bucket) — one narrow cell id per corpus row.

    r6 fastpath: the 16-cosines-per-row fold runs in the NumPy kernel
    (bit-exact raw doubles); the cell-assignment DECISION — F.round(.,4)
    then first-argmax, the engine-rounding discipline the docstrings pin —
    stays a JVM expression over the kernel's raw scores, so assignments
    are unchanged bit-for-bit. ``cents`` is the plain nested list (the
    collected sample), not a plan literal."""
    from .fastpath import cell_scores_raw

    raw = cell_scores_raw(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
        ),
        cents,
        "neighbor_id",
        "cvec",
    )
    sc = F.transform(F.col("sc_raw"), lambda x: F.round(x, 4))
    return (
        raw.withColumn("sc", sc)
        .withColumn("bucket", F.array_position(F.col("sc"), F.array_max("sc")))
        .select("neighbor_id", "cvec", "bucket")
    )


def _query_probes(queries, cents, n_centroids, nprobe, id_col, vec_col) -> DataFrame:
    """(query_id, qvec, bucket) — nprobe probe rows per query. Query-side
    cell scoring stays a pure JVM expression (the query batch is small and
    this keeps every rounded decision in engine arithmetic)."""
    cent_arr = _centroid_literal(cents)
    qsc = F.transform(
        F.sequence(F.lit(1), F.lit(n_centroids)),
        lambda i: F.struct(
            (-F.element_at(F.col("sc"), i)).alias("negs"), i.alias("idx")
        ),
    )
    return (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
        .withColumn("sc", _cell_scores(cent_arr, F.col("qvec")))
        .withColumn(
            "bucket",
            F.explode(
                F.transform(
                    F.slice(F.array_sort(qsc), 1, nprobe), lambda p: p["idx"].cast("long")
                )
            ),
        )
        .drop("sc")
    )


def _collect_probe_map(qs: DataFrame):
    """Collect a (query_id, qvec, bucket) probe frame into (ids, vecs,
    {bucket: [query_index]}) — bounded by |queries| x nprobe rows, the
    same broadcast-equivalence contract as the old F.broadcast(qs) join
    side (which also held every probe row on every executor)."""
    rows = qs.collect()
    ids: list[int] = []
    vecs: list[list[float]] = []
    pos: dict[int, int] = {}
    pm: dict[int, list[int]] = {}
    for r in rows:
        qid = r["query_id"]
        if qid not in pos:
            pos[qid] = len(ids)
            ids.append(qid)
            vecs.append([float(x) for x in r["qvec"]])
        pm.setdefault(int(r["bucket"]), []).append(pos[qid])
    return ids, vecs, pm


def _probe_and_rank(corp, queries, cents, n_centroids, k, nprobe,
                    id_col, vec_col) -> DataFrame:
    """r6 fastpath: the probed-pair exact-cosine re-rank runs in the NumPy
    kernel over the corpus side only (same pair set the old broadcast
    bucket-join produced: each corpus row scores against exactly the
    queries probing its cell); the final (cos desc, neighbor_id) window —
    and the 4dp display round — stay JVM."""
    from .fastpath import bucket_cosine_candidates

    qs = _query_probes(queries, cents, n_centroids, nprobe, id_col, vec_col)
    ids, vecs, pm = _collect_probe_map(qs)
    cand = bucket_cosine_candidates(corp, pm, ids, vecs, k)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 4).alias("cos_r"), "rank")
    )


def kmeans_refine(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Lloyd refinement of the deterministic sampled centroids — the
    quality upgrade over the pure sample that ivf_topk documents as "or a
    MLlib KMeans fit": k-means under the cosine geometry the ANN family
    ranks by (spherical k-means; the un-normalized cell mean is the exact
    update because cosine is invariant to centroid scale).

    Each iteration assigns every vector to its best cell by the ROUNDED
    4dp cosine (same discipline as _cell_scores, so a SQL twin reproduces
    assignments bit-exactly) and replaces each centroid with the
    element-wise cell mean rounded to 6 decimals — the rounding
    re-synchronizes engines after an order-dependent float sum, making the
    whole iterative loop DuckDB-oracle-able. Empty cells keep their
    previous centroid (the standard Lloyd convention).

    Scale shape: per iteration, one narrow assign pass + one groupBy whose
    map-side combine collapses each task to <= n_centroids * dim rows; the
    only driver round-trip is the n_centroids x dim centroid matrix (the
    broadcast-equivalent of MLlib KMeans' loop state). iters is small and
    fixed — at 100 TB one runs this on a corpus SAMPLE and assigns the
    full corpus once with the final centroids (exactly what ivf_topk_kmeans
    composes)."""
    cents = [
        [float(x) for x in r["cvec"]]
        for r in _sample_centroids(corpus, n_centroids, id_col, vec_col)
    ]
    for _ in range(iters):
        assigned = _assign_cells(corpus, cents, id_col, vec_col)
        means = (
            assigned.select(
                "bucket", F.posexplode(F.col("cvec").cast("array<double>")).alias("pos", "val")
            )
            .groupBy("bucket", "pos")
            .agg(F.round(F.avg("val"), 6).alias("m"))
            .groupBy("bucket")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "bucket", F.transform("pm", lambda s: s["m"]).alias("mvec")
            )
            .collect()
        )
        new = {r["bucket"]: [float(x) for x in r["mvec"]] for r in means}
        cents = [new.get(i + 1, cents[i]) for i in range(len(cents))]
    return cents


def ivf_topk_kmeans(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ivf_topk with kmeans_refine'd centroids instead of the raw sample:
    identical probe/re-rank machinery, better-shaped cells (measured in
    tools/ann_recall.py). Same output contract as ivf_topk."""
    cents = kmeans_refine(corpus, n_centroids, iters, id_col, vec_col)
    corp = _assign_cells(corpus, cents, id_col, vec_col)
    return _probe_and_rank(
        corp, queries, cents, len(cents), k, nprobe, id_col, vec_col
    )


def ivf_build_index(
    corpus: DataFrame,
    index_path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize an IVF index on disk: ``centroids`` (bucket, cvec) and
    ``assignments`` (neighbor_id, cvec, bucket) tables under index_path.

    The similarity-search sibling of dedup.materialize_signatures: at
    100 TB the cell assignment of the corpus is the expensive pass, and it
    should be paid ONCE, not per query batch. Queries then probe the
    parquet assignments table (ivf_query_index), and next week's embedding
    batch joins the index via ivf_append_index — assigned to the EXISTING
    centroids, no recluster, one snapshot append. Centroid drift under
    sustained appends is the standard IVF maintenance trade: rebuild when
    cell-size skew degrades probe recall."""
    from ..sources.tables import append_snapshot, write_table

    spark = corpus.sparkSession
    cent_rows = _sample_centroids(corpus, n_centroids, id_col, vec_col)
    cent_df = spark.createDataFrame(
        [(i + 1, [float(x) for x in r["cvec"]]) for i, r in enumerate(cent_rows)],
        "bucket: long, cvec: array<double>",
    )
    write_table(cent_df, index_path, "centroids")
    cents = [[float(x) for x in r["cvec"]] for r in cent_rows]
    append_snapshot(
        _assign_cells(corpus, cents, id_col, vec_col),
        index_path,
        "assignments",
        stats_cols=["neighbor_id"],
    )


def _load_centroids(spark, index_path: str):
    """-> (cents nested list, n_centroids) in bucket order."""
    from ..sources.tables import read_table

    rows = read_table(spark, index_path, "centroids").orderBy("bucket").collect()
    return [[float(x) for x in r["cvec"]] for r in rows], len(rows)


def ivf_append_index(
    new_vectors: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Grow the index with a new embedding batch: assign to the EXISTING
    centroids, snapshot-append the assignments (crash-safe; readers union
    live snapshots). No prior row is touched or recomputed. Only the ids
    the index lacks are appended, so a redo after a crash adds each id
    once, and a batch the index already holds appends nothing; the check
    reads only the assignment snapshots whose recorded neighbor_id range
    reaches the batch's. A crawl-ordered batch reaches none, so it pays no
    emptiness job."""
    from ..sources import tables

    spark = new_vectors.sparkSession
    cents, _ = _load_centroids(spark, index_path)
    lo, hi = new_vectors.agg(F.min(id_col), F.max(id_col)).first()
    held = tables.read_table_pruned(spark, index_path, "assignments", "neighbor_id", lo, hi)
    if held is not None:
        new_vectors = new_vectors.join(
            held.select(F.col("neighbor_id").alias(id_col)), id_col, "left_anti"
        )
        sel = tables.pruned_selection(
            tables.table_path(index_path, "assignments"), {"neighbor_id": (lo, hi)}
        )
        if sel["paths"] and new_vectors.isEmpty():
            return
    tables.append_snapshot(
        _assign_cells(new_vectors, cents, id_col, vec_col),
        index_path,
        "assignments",
        stats_cols=["neighbor_id"],
    )


def ivf_query_index(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k ANN against a MATERIALIZED IVF index: the corpus side is a
    plain parquet scan of the assignments table (bucket pushdown-able),
    centroids are a <=n_centroids-row collect (broadcast-equivalent)."""
    from ..sources.tables import read_table

    cents, n = _load_centroids(spark, index_path)
    corp = read_table(spark, index_path, "assignments")
    # probe selection happens first (driver-side, bounded), so the probed
    # bucket set can be PUSHED DOWN into the assignments scan — unprobed
    # cells are never read (r6; guide §6: predicate pushdown to the scan)
    from .fastpath import bucket_cosine_candidates

    qs = _query_probes(queries, cents, n, nprobe, id_col, vec_col)
    ids, vecs, pm = _collect_probe_map(qs)
    corp = corp.filter(F.col("bucket").isin(list(pm.keys())))
    cand = bucket_cosine_candidates(corp, pm, ids, vecs, k)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 4).alias("cos_r"), "rank")
    )


def vector_signatures(
    corpus: DataFrame,
    bits: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(id, vec, bucket)`` — the embedding-LSH signature row. What a
    state-keeping pipeline materializes (materialize_vector_signatures) so
    a later INCREMENTAL run (incremental_cosine_neardup) judges next
    week's embedding batch without re-hashing the corpus — the embedding
    sibling of dedup.minhash_signatures. r6: the signature fold runs in
    the fastpath kernel (raw-sign decisions — bit-identical buckets)."""
    from .fastpath import lsh_bucket_frame

    return lsh_bucket_frame(
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
        bits,
        _PLANE_SEED,
        2654435761,
        40503,
        "id",
        "vec",
    )


def materialize_vector_signatures(
    corpus: DataFrame,
    table_path: str,
    bits: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Write the embedding signature table to parquet and return a fresh
    scan of it (same contract as dedup.materialize_signatures)."""
    import os

    from ..sources.tables import write_table

    root, name = os.path.split(table_path.rstrip("/"))
    write_table(vector_signatures(corpus, bits, id_col, vec_col),
                root or ".", name)
    return corpus.sparkSession.read.parquet(table_path)


def cosine_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    bits: int = 10,
    max_bucket: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs via LSH blocking + exact cosine.

    Degenerate-bucket cap (same hygiene as dedup.lsh_candidate_pairs): a
    bucket holding b vectors yields b^2/2 exact-cosine evaluations, so one
    hot bucket — e.g. a zero/constant-embedding cluster — turns the
    self-join quadratic. Buckets above max_bucket are dropped; sigs persist
    because the plan has four consumers (count, semi-join, both join sides) —
    lifetime is caller-owned via operators.cache.release_caches().
    """
    from .fastpath import bucket_pair_cos

    sigs = persist_tracked(vector_signatures(corpus, bits, id_col, vec_col))
    keep = (
        sigs.groupBy("bucket")
        .agg(F.count("*").alias("bucket_n"))
        .filter(F.col("bucket_n") <= max_bucket)
        .select("bucket")
    )
    capped = sigs.join(keep, "bucket", "left_semi")
    # r6 fastpath: the bucket self-join + per-pair HOF cosine become one
    # bucket-grouped pair kernel (same pair set, bit-exact doubles); the
    # ROUND(cos,4) >= threshold DECISION stays a JVM filter
    return (
        bucket_pair_cos(capped, "id", "vec", "bucket")
        .select("id_a", "id_b", F.round(F.col("cos"), 4).alias("cos_r"))
        .filter(F.col("cos_r") >= threshold)
    )


def incremental_cosine_neardup(
    new_vectors: DataFrame,
    prior_sigs: DataFrame,
    threshold: float = 0.95,
    bits: int = 10,
    max_bucket: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs of a NEW batch against a prior corpus's
    MATERIALIZED signature table: ``(id_a, id_b, cos_r)`` for every
    near-dup pair with at least one new side.

    The embedding sibling of dedup.incremental_dedup (same frozen-prior
    semantics): the prior corpus was signature-hashed once
    (materialize_vector_signatures) and is never re-hashed; only the new
    batch runs lsh_signature. Bucket caps are UNION-wide (degeneracy is a
    corpus property), the prior side enters the candidate join only in
    buckets the new batch touches (semi-join — prunable at scale), and the
    prior-vs-prior quadrant is never generated. Equivalence: when no
    bucket crosses max_bucket differently, the output equals
    cosine_neardup_pairs over the union restricted to new-involving pairs
    (tests/test_operators.py pins this).
    """
    new_sigs = persist_tracked(vector_signatures(new_vectors, bits, id_col, vec_col))
    allsigs = persist_tracked(
        prior_sigs.select("id", "vec", "bucket")
        .withColumn("is_new", F.lit(False))
        .unionByName(
            new_sigs.select("id", "vec", "bucket").withColumn(
                "is_new", F.lit(True)
            )
        )
    )
    # union-wide caps from the narrow bucket column (prior side: one
    # column-pruned pass over the materialized table)
    kept = (
        allsigs.groupBy("bucket")
        .agg(F.count("*").alias("bucket_n"))
        .filter(F.col("bucket_n") <= max_bucket)
        .select("bucket")
    )
    from .fastpath import bucket_pair_cos

    capped = allsigs.join(kept, "bucket", "left_semi")
    # r6 fastpath: one bucket-grouped pair kernel emits each unordered
    # same-bucket pair with >=1 new side exactly once (the old new-side x
    # union join + least/greatest produced the same set); threshold
    # decision stays JVM. distinct() kept for the output contract.
    return (
        bucket_pair_cos(capped, "id", "vec", "bucket", flag_col="is_new")
        .select("id_a", "id_b", F.round(F.col("cos"), 4).alias("cos_r"))
        .filter(F.col("cos_r") >= threshold)
        .distinct()
    )


# a cell holding > IVF_REBUILD_SKEW x the median is the standard signal
# that appended batches drifted away from the build-time centroid sample:
# probes over that cell re-rank far more rows than the nprobe/n_centroids
# contract assumes (latency), while sparse cells starve recall
IVF_REBUILD_SKEW = 8.0


def ivf_index_stats(
    spark, index_path: str, assignments_table: str = "assignments"
) -> dict:
    """Health metrics of a materialized IVF index — the rebuild trigger
    ivf_append_index's docstring promises ("rebuild when cell-size skew
    degrades probe recall"), measurable instead of eyeballed.

    Returns cell-population stats over the assignments table; ONE narrow
    aggregate over the (bucket) column. ``rebuild_recommended`` fires when
    max/median cell size exceeds IVF_REBUILD_SKEW or any centroid's cell
    is empty (both are drift signatures a long-running append-only
    pipeline accumulates). Works on any (bucket)-carrying cell table:
    pass assignments_table="cells" to health-check a materialized IVF-PQ
    index (ivfpq_build_index) — same drift signatures, same trigger."""
    from ..sources.tables import read_table

    cents = read_table(spark, index_path, "centroids").select("bucket")
    sizes = (
        read_table(spark, index_path, assignments_table)
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )
    rows = (
        cents.join(sizes, "bucket", "left")
        .select(F.coalesce("n", F.lit(0)).alias("n"))
        .collect()
    )  # n_centroids rows — driver-side by construction
    ns = sorted(r["n"] for r in rows)
    n_cells = len(ns)
    median = ns[n_cells // 2] if n_cells else 0
    biggest = ns[-1] if ns else 0
    skew = (biggest / median) if median else float("inf") if biggest else 0.0
    return {
        "n_centroids": n_cells,
        "n_vectors": sum(ns),
        "max_cell": biggest,
        "median_cell": median,
        "empty_cells": sum(1 for n in ns if n == 0),
        "skew_ratio": round(skew, 2),
        "rebuild_recommended": bool(
            n_cells and (skew > IVF_REBUILD_SKEW or ns[0] == 0)
        ),
    }


def ivf_rebuild_index(spark, index_path: str, n_centroids: int | None = None) -> dict:
    """Recluster a drifted index: re-sample centroids from EVERYTHING in
    the assignments table (original build + every appended batch) and
    re-assign all vectors — the action ivf_index_stats' rebuild_recommended
    asks for. Costs one corpus-sized pass, which is the point: it is paid
    only when the skew stat says recall is at risk, not per append.

    Crash-safe: the new index is built in a staging directory and swapped
    in with one rename — a killed rebuild leaves the live index untouched.
    Run ONE maintainer at a time (the swap is last-writer-wins).
    Returns the post-rebuild ivf_index_stats."""
    import os
    import shutil
    import uuid

    from ..sources.tables import read_table

    if n_centroids is None:
        n_centroids = read_table(spark, index_path, "centroids").count()
    corpus = read_table(spark, index_path, "assignments").select(
        "neighbor_id", "cvec"
    )
    staging = f"{index_path.rstrip('/')}.rebuilding-{uuid.uuid4().hex[:8]}"
    ivf_build_index(
        corpus, staging, n_centroids, id_col="neighbor_id", vec_col="cvec"
    )
    old = f"{index_path.rstrip('/')}.old-{uuid.uuid4().hex[:8]}"
    os.rename(index_path, old)
    os.rename(staging, index_path)
    shutil.rmtree(old, ignore_errors=True)
    return ivf_index_stats(spark, index_path)


# ---------------------------------------------------------------------------
# Product quantization (PQ): the COMPRESSION leg of the ANN family.
#
# IVF bounds WHICH corpus rows a query scans (nprobe/n_centroids of them);
# PQ bounds WHAT each scanned row costs: a 64-dim float32 embedding
# (256 bytes) becomes m=8 one-byte codes, and query scoring never touches
# the original vectors — it sums m precomputed table entries per corpus
# row (asymmetric distance computation, ADC). At 100 TB of embeddings
# that 32x shrink is the difference between an ANN scan that is
# memory-bandwidth-bound over codes and one that re-reads the vector
# column per query batch. Reference anchor: the reference stores raw OCR
# span payloads and re-reads them per lookup (workers/ocr/db.py:31-58);
# this family is the "index once, scan the small thing" counterpart.
#
# Portability contract (same as IVF / LSH): codebooks are a deterministic
# Knuth-multiplicative-hash sample of the corpus, one codebook per
# subspace taken as that subspace's slice of the sampled vectors; all
# distances are fixed-point integers (squared L2 rounded at 4 dp and
# scaled by PQ_SCALE), so ADC sums are EXACT integer arithmetic in every
# engine regardless of float fold order — the DuckDB twin reproduces the
# codes and the ranking bit-for-bit.
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces per vector
PQ_KSUB = 16  # codes per subspace codebook
PQ_SCALE = 10_000  # 4-dp fixed point for all PQ distances


def _pq_sqd_q(a: Column, b: Column) -> Column:
    """Fixed-point squared L2 between two (sub)vectors: position-ordered
    double fold, then one round into integer space. Comparisons and ADC
    sums downstream are exact bigint arithmetic."""
    s = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.round(s * F.lit(PQ_SCALE)).cast("long")


def _pq_ds_expr(vec: Column, cb: Column, m: int, dsub: int) -> Column:
    """ds[j][c] = fixed-point squared L2 from vec's subspace j to codebook
    entry c. Encoding takes argmin per row; ADC takes the whole table per
    query. One expression serves both, so Spark and the SQL twin cannot
    drift apart."""
    return F.transform(
        F.sequence(F.lit(1), F.lit(m)),
        lambda j: F.transform(
            F.element_at(cb, j),
            lambda cc: _pq_sqd_q(
                F.slice(vec, (j - F.lit(1)) * F.lit(dsub) + F.lit(1), F.lit(dsub)), cc
            ),
        ),
    )


def _cb_nested(vecs, m: int, dsub: int) -> list[list[list[float]]]:
    """cb[j][c] = subspace-j slice of sampled vector c, as plain lists."""
    return [
        [[float(x) for x in v[j * dsub : (j + 1) * dsub]] for v in vecs]
        for j in range(m)
    ]


def _cb_literal(cb_vecs) -> Column:
    """Plan literal from the nested codebook list (query-side JVM expr)."""
    return F.array(
        *[
            F.array(*[F.array(*[F.lit(float(x)) for x in cc]) for cc in row])
            for row in cb_vecs
        ]
    )


def _pq_sample_codebooks(corpus, m, ksub, id_col, vec_col):
    """(nested codebook list cb[j][c][d], dsub, sample rows) from the
    deterministic min-hash corpus sample — ksub rows to the driver, same
    contract as IVF's _sample_centroids."""
    sample = _sample_centroids(corpus, ksub, id_col, vec_col)
    d = len(sample[0]["cvec"])
    if d % m:
        raise ValueError(f"dim {d} not divisible into {m} subspaces")
    dsub = d // m
    vecs = [[float(x) for x in r["cvec"]] for r in sample]
    return _cb_nested(vecs, m, dsub), dsub, vecs


def _codes_from_ds_raw() -> Column:
    """JVM decision layer over the kernel's raw distance tables: round
    into fixed-point longs (the engine's own F.round, exactly as
    _pq_sqd_q did) and take the FIRST argmin per subspace."""
    return F.transform(
        F.col("ds_raw"),
        lambda dj: _first_argmin(F.transform(dj, lambda x: F.round(x).cast("long"))),
    )


def _first_argmin(arr: Column) -> Column:
    return F.array_position(arr, F.array_min(arr)).cast("int")


def pq_encode(
    corpus: DataFrame,
    cb_vecs,
    m: int,
    dsub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(neighbor_id, codes array<int>[m]) — the compressed corpus. codes[j]
    is the FIRST argmin over subspace j's codebook (integer distances, so
    the tiebreak is exact in every engine).

    r6 fastpath: the m x ksub squared-L2 folds per row run in the NumPy
    kernel (raw doubles, exact fold order); the fixed-point round and the
    argmin DECISION stay JVM expressions — codes unchanged bit-for-bit."""
    from .fastpath import pq_ds_raw

    raw = pq_ds_raw(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        ),
        cb_vecs,
        m,
        dsub,
        "neighbor_id",
        "_v",
    )
    return raw.select("neighbor_id", _codes_from_ds_raw().alias("codes"))


def _pq_adc_rank(codes: DataFrame, qdt: DataFrame, m: int, k: int) -> DataFrame:
    """ADC scoring + top-k: approx distance = sum_j dt[j][codes[j]], an
    exact bigint sum of m table lookups per (query, corpus-row) pair.

    r6 fastpath: the per-pair lookup-sum runs in the NumPy kernel as
    int64 gathers (EXACT integer arithmetic — no float portability
    surface at all); per-batch top-k candidate supersets come back and
    the final (adist asc, neighbor_id asc) window stays JVM. The query
    distance tables are collected — bounded by the query batch, the same
    broadcast-equivalence as the old F.broadcast(qdt)."""
    from .fastpath import adc_candidates

    q_rows = qdt.collect()  # bounded: |queries| rows of m x ksub ints
    cand = adc_candidates(
        codes,
        [r["query_id"] for r in q_rows],
        [[list(dj) for dj in r["dt"]] for r in q_rows],
        k,
        m,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist_q").asc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adist_q", "rank")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantized ANN top-k: encode the corpus to m codes per row,
    score queries by ADC table lookups, rank (adist asc, neighbor_id asc).

    Result: (query_id, neighbor_id, adist_q, rank) where adist_q is the
    fixed-point approximate squared L2 (PQ_SCALE = 4 dp)."""
    cb_vecs, dsub, _ = _pq_sample_codebooks(corpus, m, ksub, id_col, vec_col)
    codes = pq_encode(corpus, cb_vecs, m, dsub, id_col, vec_col)
    qv = F.col(vec_col).cast("array<double>")
    qdt = queries.select(
        F.col(id_col).alias("query_id"),
        _pq_ds_expr(qv, _cb_literal(cb_vecs), m, dsub).alias("dt"),
    )
    return _pq_adc_rank(codes, qdt, m, k)


def pq_build_index(
    corpus: DataFrame,
    index_path: str,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the PQ index: ``codebooks`` (j, c, cvec) and ``codes``
    (neighbor_id, codes) tables under index_path. The expensive pass —
    encoding the corpus — is paid ONCE; every query batch after that scans
    only the m-byte-per-row codes table. New embedding batches
    snapshot-append via pq_append_index with the FROZEN codebooks (the
    standard PQ maintenance trade: re-train codebooks only when drift
    degrades recall, cf. ivf_index_stats)."""
    from ..sources.tables import append_snapshot, write_table

    spark = corpus.sparkSession
    cb_vecs, dsub, vecs = _pq_sample_codebooks(corpus, m, ksub, id_col, vec_col)
    cb_df = spark.createDataFrame(
        [
            (j + 1, c + 1, v[j * dsub : (j + 1) * dsub])
            for j in range(m)
            for c, v in enumerate(vecs)
        ],
        "j: int, c: int, cvec: array<double>",
    )
    write_table(cb_df, index_path, "codebooks")
    append_snapshot(pq_encode(corpus, cb_vecs, m, dsub, id_col, vec_col),
                    index_path, "codes")


def _pq_load_codebooks(spark, index_path: str):
    """-> (nested cb[j][c][d] list, m, dsub)."""
    from ..sources.tables import read_table

    rows = read_table(spark, index_path, "codebooks").orderBy("j", "c").collect()
    m = max(r["j"] for r in rows)
    ksub = max(r["c"] for r in rows)
    dsub = len(rows[0]["cvec"])
    cb = [[[0.0] * dsub for _ in range(ksub)] for _ in range(m)]
    for r in rows:
        cb[r["j"] - 1][r["c"] - 1] = [float(x) for x in r["cvec"]]
    return cb, m, dsub


def pq_append_index(
    new_vectors: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Encode a new embedding batch against the EXISTING codebooks and
    snapshot-append the codes — |new|-sized, no prior row touched."""
    from ..sources.tables import append_snapshot

    cb_vecs, m, dsub = _pq_load_codebooks(new_vectors.sparkSession, index_path)
    append_snapshot(
        pq_encode(new_vectors, cb_vecs, m, dsub, id_col, vec_col), index_path, "codes"
    )


def pq_query_index(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k against the materialized codes table: the corpus side is
    a plain parquet scan of (neighbor_id, codes) — the original embedding
    column is never read. Byte-identical to the inline pq_topk pipeline
    when the index was built from the same corpus."""
    from ..sources.tables import read_table

    cb_vecs, m, dsub = _pq_load_codebooks(spark, index_path)
    codes = read_table(spark, index_path, "codes")
    qv = F.col(vec_col).cast("array<double>")
    qdt = queries.select(
        F.col(id_col).alias("query_id"),
        _pq_ds_expr(qv, _cb_literal(cb_vecs), m, dsub).alias("dt"),
    )
    return _pq_adc_rank(codes, qdt, m, k)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the two ANN levers composed — IVF bounds WHICH rows a query
    scans (~nprobe/n_centroids of the corpus), PQ bounds WHAT each scanned
    row costs (m one-byte codes + an integer ADC sum instead of a float
    vector and a cosine). At 100 TB this is the standard big-index shape
    (FAISS IVFPQ): per query batch, work = scan-fraction x 8 bytes/row.

    Composition contract: cell assignment and probe selection are EXACTLY
    ivf_topk's (same deterministic centroid sample, same rounded-cosine
    argmax/probe order); codes and ADC tables are EXACTLY pq_topk's (same
    codebook sample, same fixed-point distances) — so the DuckDB twin is
    the two existing twins' CTEs joined. Ranking: (adist asc, neighbor_id
    asc) within the probed cells only.

    This is the classic raw-vector PQ (codes over the vectors themselves,
    shared codebooks across cells), not residual-PQ: residual encoding
    needs per-cell codebook training, which buys recall at the cost of an
    engine-portable oracle; the composition and plan shape are identical.
    """
    cent_rows = _sample_centroids(corpus, n_centroids, id_col, vec_col)
    cents = [[float(x) for x in r["cvec"]] for r in cent_rows]
    if ksub == n_centroids:
        # the codebook sample IS the centroid sample (same deterministic
        # min-hash rows) — skip the second corpus scan+collect (r6)
        d = len(cents[0])
        if d % m:
            raise ValueError(f"dim {d} not divisible into {m} subspaces")
        dsub = d // m
        cb_vecs = _cb_nested(cents, m, dsub)
    else:
        cb_vecs, dsub, _ = _pq_sample_codebooks(corpus, m, ksub, id_col, vec_col)

    # corpus side: one narrow (neighbor_id, bucket, codes) row per vector —
    # cell assignment identical to ivf_topk's, codes identical to pq_topk's
    # (r6: both heavy folds run in the fastpath kernels; the rounded
    # argmax/argmin decisions stay JVM — see _assign_cells / pq_encode)
    corp = _ivfpq_cells(corpus, cents, cb_vecs, m, dsub, id_col, vec_col)
    return _ivfpq_adc_rank(corp, queries, cents, cb_vecs, m, dsub,
                           len(cents), k, nprobe, id_col, vec_col)


def _ivfpq_cells(corpus, cents, cb_vecs, m, dsub, id_col, vec_col) -> DataFrame:
    """(neighbor_id, bucket, codes) — the composed corpus row, fused into
    one kernel pipeline: cell scores + subspace distance tables in NumPy,
    bucket (rounded argmax) and codes (rounded argmin) as JVM decisions."""
    from .fastpath import pq_ds_raw

    assigned = _assign_cells(corpus, cents, id_col, vec_col).select(
        "neighbor_id", "bucket", F.col("cvec").cast("array<double>").alias("_v")
    )
    raw = pq_ds_raw(
        assigned, cb_vecs, m, dsub, "neighbor_id", "_v", keep_cols=("bucket",)
    )
    return raw.select("neighbor_id", "bucket", _codes_from_ds_raw().alias("codes"))


def _ivfpq_adc_rank(corp, queries, cents, cb_vecs, m, dsub, n_centroids,
                    k, nprobe, id_col, vec_col, prefilter_buckets=False):
    """Probe-restricted ADC top-k (r6 kernel path): query probes + distance
    tables are computed JVM-side and collected (bounded by the query
    batch, as the old F.broadcast(qs)); the kernel scores each corpus row
    against exactly the queries probing its cell in exact int64; the final
    window stays JVM."""
    from .fastpath import adc_candidates

    qv = F.col(vec_col).cast("array<double>")
    cent_arr = _centroid_literal(cents)
    qsc = F.transform(
        F.sequence(F.lit(1), F.lit(n_centroids)),
        lambda i: F.struct(
            (-F.element_at(F.col("sc"), i)).alias("negs"), i.alias("idx")
        ),
    )
    qs = (
        queries.select(
            F.col(id_col).alias("query_id"),
            _cell_scores(cent_arr, qv).alias("sc"),
            _pq_ds_expr(qv, _cb_literal(cb_vecs), m, dsub).alias("dt"),
        )
        .withColumn(
            "bucket",
            F.explode(
                F.transform(
                    F.slice(F.array_sort(qsc), 1, nprobe),
                    lambda p: p["idx"].cast("long"),
                )
            ),
        )
        .drop("sc")
    )
    rows = qs.collect()  # bounded: |queries| x nprobe probe rows
    ids: list[int] = []
    tables: list = []
    pos: dict[int, int] = {}
    pm: dict[int, list[int]] = {}
    for r in rows:
        qid = r["query_id"]
        if qid not in pos:
            pos[qid] = len(ids)
            ids.append(qid)
            tables.append([list(dj) for dj in r["dt"]])
        pm.setdefault(int(r["bucket"]), []).append(pos[qid])
    if prefilter_buckets:
        corp = corp.filter(F.col("bucket").isin(list(pm.keys())))
    cand = adc_candidates(
        corp, ids, tables, k, m, codes_col="codes", bucket_probes=pm
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist_q").asc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adist_q", "rank")
    )


def ivfpq_build_index(
    corpus: DataFrame,
    index_path: str,
    n_centroids: int = 16,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the composed IVF-PQ index: ``centroids`` (bucket, cvec),
    ``codebooks`` (j, c, cvec) and ``cells`` (neighbor_id, bucket, codes)
    tables under index_path. The two expensive corpus passes — cell
    assignment and code encoding — are fused into ONE scan and paid at
    build time; a query batch then touches only the probed slice of the
    9-bytes-per-row cells table. Measured at sf0.1 (best-of-k, BENCH.md
    closing sweep): 2.78 s indexed vs 4.94 s inline warm — ~1.8x even at
    toy scale; the structural win is that the CORPUS-sized assign+encode
    pass disappears per query batch, which is the entire cost at
    100 TB."""
    from ..sources.tables import append_snapshot, write_table

    spark = corpus.sparkSession
    cent_rows = _sample_centroids(corpus, n_centroids, id_col, vec_col)
    cent_df = spark.createDataFrame(
        [(i + 1, [float(x) for x in r["cvec"]]) for i, r in enumerate(cent_rows)],
        "bucket: long, cvec: array<double>",
    )
    write_table(cent_df, index_path, "centroids")
    cb_vecs, dsub, vecs = _pq_sample_codebooks(corpus, m, ksub, id_col, vec_col)
    cb_df = spark.createDataFrame(
        [
            (j + 1, c + 1, v[j * dsub : (j + 1) * dsub])
            for j in range(m)
            for c, v in enumerate(vecs)
        ],
        "j: int, c: int, cvec: array<double>",
    )
    write_table(cb_df, index_path, "codebooks")
    cents = [[float(x) for x in r["cvec"]] for r in cent_rows]
    cells = _ivfpq_cells(corpus, cents, cb_vecs, m, dsub, id_col, vec_col)
    append_snapshot(cells, index_path, "cells", stats_cols=["neighbor_id"])


def ivfpq_append_index(
    new_vectors: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Grow the composed index with a new embedding batch: assign to the
    EXISTING centroids and encode with the FROZEN codebooks, one snapshot
    append — |new|-sized, no prior row touched. Drift maintenance is the
    IVF side's (ivf_index_stats applies to any (bucket) assignment
    table)."""
    from ..sources.tables import append_snapshot

    cents, _ = _load_centroids(new_vectors.sparkSession, index_path)
    cb_vecs, m, dsub = _pq_load_codebooks(new_vectors.sparkSession, index_path)
    cells = _ivfpq_cells(new_vectors, cents, cb_vecs, m, dsub, id_col, vec_col)
    append_snapshot(cells, index_path, "cells", stats_cols=["neighbor_id"])


def ivfpq_query_index(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k within probed cells against the materialized cells table:
    the corpus side is a plain parquet scan of (neighbor_id, bucket, codes)
    filtered to the probed buckets — neither the embedding column nor the
    unprobed cells are read. Byte-identical to the inline ivfpq_topk
    pipeline when the index was built from the same corpus."""
    from ..sources.tables import read_table

    cents, n_centroids = _load_centroids(spark, index_path)
    cb_vecs, m, dsub = _pq_load_codebooks(spark, index_path)
    cells = read_table(spark, index_path, "cells")
    # probed-bucket prefilter pushes down into the cells scan (guide §6)
    return _ivfpq_adc_rank(cells, queries, cents, cb_vecs, m, dsub,
                           n_centroids, k, nprobe, id_col, vec_col,
                           prefilter_buckets=True)


def semdedup(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    threshold: float = 0.97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication over an embedding column — k-means-cluster the corpus,
    then inside each cluster drop every point that has a cosine >=
    ``threshold`` neighbor which is FARTHER from the cluster centroid
    (the paper keeps the low-centroid-similarity representative of each
    semantic duplicate group, preserving the cluster's outer "diverse"
    shell and shedding its redundant core).

    Removal is a pure EXISTS, not a greedy sweep: point d is removed iff
    some same-cluster o has ROUND(cos(d,o),4) >= threshold and
    (cent_sim(o), o.id) < (cent_sim(d), d.id) lexicographically. That
    makes the decision order-free (deterministic under any partitioning)
    and exactly expressible in SQL for the DuckDB twin. Both the pairwise
    cosine and the centroid similarity go through the same ROUND(.,4)
    discipline as _cell_scores, so assignments AND keep decisions are
    bit-reproducible across engines.

    Scale shape (the paper runs this at LAION-440M): clustering is
    kmeans_refine (narrow assign pass + map-side-combined mean per
    iteration); the quadratic step is confined WITHIN clusters — one
    self-join shuffled on ``bucket``, |cell|^2 pairs per cell,
    embarrassingly parallel across cells. At 100 TB you pick n_centroids
    ~ corpus/1k so each cell's pair block stays bounded (SemDeDup uses
    50k clusters for LAION); a skewed mega-cell is capped by raising k,
    never by sampling, because a dropped pair is a silently-kept
    duplicate.

    Returns (id_col, bucket, cent_sim, keep) — one row per input vector,
    keep=false marking semantic duplicates to shed.
    """
    cents = kmeans_refine(
        corpus, n_centroids=n_centroids, iters=iters, id_col=id_col, vec_col=vec_col
    )
    cent_arr = _centroid_literal(cents)
    base = (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("sc", _cell_scores(cent_arr, F.col("v")))
        .withColumn("bucket", F.array_position(F.col("sc"), F.array_max("sc")))
        .withColumn(
            "cent_sim", F.element_at(F.col("sc"), F.col("bucket").cast("int"))
        )
        .drop("sc")
    )
    other = base.select(
        F.col("id").alias("oid"),
        F.col("bucket"),
        F.col("v").alias("ov"),
        F.col("cent_sim").alias("ocent"),
    )
    removed = (
        base.join(other, "bucket")
        .filter(
            (F.col("oid") != F.col("id"))
            & (F.round(cosine(F.col("v"), F.col("ov")), 4) >= F.lit(threshold))
            & (
                (F.col("ocent") < F.col("cent_sim"))
                | ((F.col("ocent") == F.col("cent_sim")) & (F.col("oid") < F.col("id")))
            )
        )
        .select("id")
        .distinct()
        .withColumn("dup", F.lit(True))
    )
    return (
        base.join(removed, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("bucket").cast("long").alias("bucket"),
            F.col("cent_sim"),
            F.col("dup").isNull().alias("keep"),
        )
    )
