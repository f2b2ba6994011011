"""Deduplication operators for web-scale training-data pipelines.

Five families, each scale-shaped for a 1000-executor cluster:

- exact:        md5(normalized text) group-by, keep min id. One shuffle on
                the 128-bit hash — uniform by construction, no skew.
- MinHash+LSH:  K permutations via (a*h + b) mod p over token hashes, banded
                into B buckets; candidate pairs = self-join on the band
                bucket — the classic shingle->minhash->band pipeline, all in
                column expressions.
- ngram-Jaccard: exact token-set Jaccard re-rank over the MinHash band
                candidates (jaccard_pairs_lsh) — the scale path. The generic
                block_col variant (jaccard_pairs) remains for small
                within-block scopes; it is quadratic in the block and must
                never see a low-cardinality key at scale.
- SimHash:      62-bit signature from per-token hash bit votes; near-dups =
                hamming-banded bucket join + popcount(xor) re-rank
                (recall 1.0 for hamming <= 3 by pigeonhole over 4 bands).
- embedding:    cosine near-dup over array<float> — see similarity.py.

Everything is built-in functions (higher-order array ops) — no Python UDFs,
so it all stays in codegen and scales linearly.

Hashing is PORTABLE by design: a polynomial fold (acc*31 + codepoint) % p
over the token's characters, reproducible bit-for-bit in any engine with
char-split + ord (the DuckDB twins in queries.py recompute the full
MinHash/SimHash pipeline and hash-match). Dedup decisions therefore survive
an engine migration — rerunning the corpus on a different system keeps the
same keep/drop set, which is what makes incremental dedup of a 100 TB corpus
possible without a full recompute. (xxhash64 stays in skew.py where only
partitioning uniformity matters.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from .cache import persist_tracked
from .textstats import normalized, tokens

# MinHash parameters: k permutations split into bands of r rows.
MH_PRIME = 2_147_483_647  # 2^31 - 1 (Mersenne)
MH_K = 32
MH_BANDS = 8
MH_ROWS = MH_K // MH_BANDS
_BAND_MULT = 1_000_003  # band-fold multiplier (acc < p, acc*mult+x < 2^52)
# deterministic permutation coefficients (seeded once, hard-coded so every
# run/cluster/engine agrees). TWO independent families: LSH recall near the
# threshold is a random variable over the permutation draw — the r3 10x
# scale-stress measured per-slice candidate counts swinging 2.6x at s~=0.6
# on a pathological 50-word-vocab corpus — so a pipeline that needs a
# recall-stability estimate runs both families and compares (the planted-
# fixture test pins that the two draws agree within a few points). family 0
# is the default and the one every SQL oracle twin mirrors.
_A = [1 + 2 * i * 7919 % MH_PRIME for i in range(MH_K)]
_B = [(i * 104729 + 12345) % MH_PRIME for i in range(MH_K)]
_A1 = [(3 + 2 * i * 15485863) % MH_PRIME for i in range(MH_K)]
_B1 = [(i * 1299709 + 54321) % MH_PRIME for i in range(MH_K)]
MH_FAMILIES = {0: (_A, _B), 1: (_A1, _B1)}

# SimHash: 62 usable bits (two 31-bit portable folds combined), banded
# 16/16/16/14 for the hamming-candidate join.
SIM_BITS = 62
SIM_BAND_EDGES = [(0, 16), (16, 16), (32, 16), (48, 14)]  # (shift, width)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the minimum id per exact (normalized) content hash."""
    return (
        df.select(F.col(id_col), F.md5(normalized(F.col(text_col))).alias("h"))
        .groupBy("h")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def exact_hashes(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, h) — the exact-dedup content hash per doc, the row a state-
    keeping pipeline materializes so later slices can be judged without
    re-reading prior text."""
    return df.select(
        F.col(id_col).alias("id"), F.md5(normalized(F.col(text_col))).alias("h")
    )


def incremental_exact_dedup(
    new_docs: DataFrame,
    prior_hashes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup of NEW docs against a prior corpus's hash table:
    ``(id, keep)`` per new doc — dropped iff its content hash already
    exists in the prior corpus, or a new doc with a smaller id has it.

    The exact-hash sibling of incremental_dedup (same frozen-prior
    semantics): prior_hashes is the materialized ``exact_hashes`` output
    of everything processed before — 33 bytes/doc, the cheapest possible
    dedup state. The keep rule is keep_first_unseen."""
    return keep_first_unseen(exact_hashes(new_docs, text_col, id_col), prior_hashes)


def keep_first_unseen(new_h: DataFrame, prior_h: DataFrame) -> DataFrame:
    """The exact-dedup keep rule over an ``(id, h)`` stream: ``(id, keep)``
    per row of ``new_h`` with a non-null h — keep iff h is absent from
    ``prior_h``'s h column AND id is the smallest id of ``new_h`` carrying
    h. Content dedup keys on md5(normalized text), the crawl frontier on
    md5(canonical URL); incremental_exact_dedup, bloom_gated_keep (through
    _keep_first) and jobs/exactdedup_job.py all decide by this rule.

    Scale shape: one groupBy over the new rows and one over the prior
    hashes (distinct), then ONE exact membership join of the new rows
    against them: the prior side is read in full, once."""
    return _keep_first(new_h, prior_h.select("h").distinct())


def _keep_first(new_h: DataFrame, seen: DataFrame) -> DataFrame:
    """keep_first_unseen's rule with the seen set given: ``seen`` holds
    distinct h values (one h column), each already seen."""
    first = new_h.groupBy("h").agg(F.min("id").alias("first_new"))
    return (
        new_h.join(first, "h")
        .join(seen.withColumn("_prior", F.lit(1)), "h", "left")
        .select(
            "id",
            F.when(
                F.col("_prior").isNull() & (F.col("id") == F.col("first_new")),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("keep"),
        )
    )


def token_set(text: Column) -> Column:
    return F.array_distinct(tokens(text))


def portable_token_hash(tok: Column, mult: int = 31) -> Column:
    """Polynomial rolling hash over codepoints, mod 2^31-1. JVM-side
    (split + ascii inside one HOF aggregate) AND reproducible in DuckDB as
    list_reduce(list_prepend(0, list_transform(string_split(s,''), ord)))."""
    return F.aggregate(
        F.split(tok, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * mult + F.ascii(c)) % F.lit(MH_PRIME),
    )


def _jaccard(a: Column, b: Column) -> Column:
    """Exact token-set Jaccard of two token arrays, rounded to 4 places
    (0 when both are empty): the one scoring rule every exact stage uses."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.round(
        F.when(union > 0, inter / union.cast("double")).otherwise(F.lit(0.0)), 4
    )


def _est_jaccard() -> Column:
    """MinHash Jaccard estimate of a candidate pair, rounded to 4 places:
    the fraction of the MH_K signature slots its ``matching`` column counts."""
    return F.round(F.col("matching") / F.lit(float(MH_K)), 4)


def jaccard_pairs(
    df: DataFrame,
    block_col: str,
    threshold: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact token-set Jaccard over blocked candidate pairs.

    Pairs only form inside a block, so the pair count is quadratic in the
    block size — use ONLY with a high-cardinality block key on bounded
    scopes (e.g. per-crawl-shard re-checks). The scale path for a whole
    corpus is jaccard_pairs_lsh below.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        token_set(F.col(text_col)).alias("toks"),
    )
    a = base.alias("a")
    b = base.alias("b")
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            _jaccard(F.col("a.toks"), F.col("b.toks")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    family: int = 0,
) -> DataFrame:
    """(id, toks, sig array<long>[MH_K], bands array<long>[MH_BANDS]).

    signature[i] = min over tokens of (a_i * h(tok) + b_i) mod p; band j is
    a fold of [j, sig[j*r] .. sig[j*r+r-1]] so the band index is baked into
    the bucket value (one explode key, no (band_id, hash) pair needed).

    ``family`` selects the permutation coefficient set (MH_FAMILIES).
    Recall of the downstream LSH S-curve 1-(1-s^r)^b is an EXPECTATION
    over the permutation draw; near the threshold (s ~ 0.6 with r=4, b=8:
    E[recall] = 0.67) a single fixed draw can sit well off it on adversarial
    corpora. Running a disjoint second family bounds that draw-sensitivity
    empirically: tests/test_operators.py pins that both families land
    within a few points of each other (and >= 0.8) on the planted fixture
    at s ~= 0.72, where E[recall] = 0.92.
    """
    a_coef, b_coef = MH_FAMILIES[family]
    toks = token_set(F.col(text_col))
    # hs is materialized as a real column so the per-char token hashing runs
    # ONCE per doc (an inlined transform gets re-evaluated per consumer).
    base = df.select(F.col(id_col).alias("id"), toks.alias("toks")).withColumn(
        "hs", F.transform(F.col("toks"), lambda t: portable_token_hash(t))
    )

    # r6 fastpath: the K-permutation min-fold and the band folds run in
    # the NumPy kernel — EXACT int64 arithmetic (min/mod are order-free),
    # so sig/bands are value-identical to the old |tokens| x K zip_with
    # fold; tokenization + per-char hashing stay JVM (regex semantics
    # pinned there).
    from .fastpath import minhash_sigs_from_hs

    return minhash_sigs_from_hs(
        base, list(a_coef), list(b_coef), MH_PRIME, MH_ROWS, _BAND_MULT
    )


def materialize_signatures(
    df: DataFrame,
    table_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    family: int = 0,
) -> DataFrame:
    """Write the MinHash signature table (id, toks, sig, bands) to parquet
    and return a fresh SCAN of it — the prior side an INCREMENTAL run
    (incremental_dedup) band-joins next week's crawl against instead of
    recomputing the whole corpus; every consumer of it is a plain columnar
    FileScan with pushdown (pinned by
    tests/test_plans.test_incremental_dedup_plan_hygiene).

    Goes through sources.tables.write_table so the storage layout matches
    the rest of the warehouse; pass the returned frame (or a later
    ``spark.read.parquet`` of the path) wherever an operator accepts
    ``prior_sigs``."""
    import os

    from ..sources.tables import write_table

    sigs = minhash_signatures(df, text_col, id_col, family)
    root, name = os.path.split(table_path.rstrip("/"))
    write_table(sigs, root or ".", name)
    return df.sparkSession.read.parquet(table_path)


def _cap_buckets(e: DataFrame, max_bucket: int) -> DataFrame:
    """Band rows ``e`` (one row per (id, bh)) restricted to the buckets that
    hold at most ``max_bucket`` of its rows — the one degenerate-bucket cap
    rule of every LSH candidate stage. A bucket holding b docs yields b^2/2
    pairs, so a hot bucket (boilerplate-heavy corpora) turns the pair join
    quadratic; those collisions carry no discriminative signal. The cap is
    per BUCKET, so recall for normal near-dup clusters (<< cap) is
    unaffected. The count is over ``e`` itself, so ``e`` must hold every
    row of each bucket it touches."""
    keep = (
        e.groupBy("bh")
        .agg(F.count("*").alias("bucket_n"))
        .filter(F.col("bucket_n") <= max_bucket)
        .select("bh")
    )
    return e.join(keep, "bh", "left_semi")


def lsh_candidate_pairs(sigs: DataFrame, max_bucket: int = 256) -> DataFrame:
    """Distinct (id_a, id_b) candidate pairs: docs sharing >=1 band bucket.

    Scale shape: the explode carries only (id, bucket) — 16 bytes/row, NOT
    the signature — so the bucket shuffle is narrow; wide columns (sig,
    toks) are attached later by the consumer, keyed on id, uniform.
    Buckets above ``max_bucket`` are dropped (_cap_buckets).
    """
    e = _cap_buckets(sigs.select("id", F.explode("bands").alias("bh")), max_bucket)
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, (F.col("a.bh") == F.col("b.bh")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def _est_pairs(sigs: DataFrame, min_est: float, max_bucket: int) -> DataFrame:
    """(id_a, id_b, est_jaccard >= min_est) over capped band candidates.

    sigs must be persisted by the caller: the signature plan has FIVE
    consumers (bucket count, cap semi-join, both sides of the pair
    self-join, and the attach joins), and without a materialization barrier
    each one re-runs the whole signature computation — measured 120 s+ vs
    ~5 s for the join itself at sf0.1. Same pattern as Spark ML's
    MinHashLSH.

    Cache LIFETIME is caller-owned (operators return lazy plans and have no
    action of their own to unpersist after): long-lived drivers call
    operators.cache.release_caches() between units of work.
    """
    # r6 fastpath: candidate generation + signature-match counting fuse
    # into one bucket-grouped kernel (exact integers) — the old
    # self-join + distinct + two signature attach joins collapse into a
    # single bucket shuffle; the est-threshold DECISION (engine round)
    # stays a JVM filter on the integer match count.
    from .fastpath import bucket_pair_sig_matches

    e = _cap_buckets(
        sigs.select("id", "sig", F.explode("bands").alias("bh")), max_bucket
    )
    cand = bucket_pair_sig_matches(e, MH_K).distinct()
    return (
        cand.select(
            "id_a",
            "id_b",
            _est_jaccard().alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= min_est)
    )


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_est: float = 0.5,
    max_bucket: int = 256,
    family: int = 0,
) -> DataFrame:
    """Candidate near-dup pairs with minhash-estimated Jaccard >= min_est.

    Persists the signature table internally (see _est_pairs); the CALLER
    owns the cache lifetime — call cache.release_caches() when done."""
    sigs = persist_tracked(
        minhash_signatures(df, text_col, id_col, family)
        .select("id", "sig", "bands")  # toks not needed: keep it narrow
    )
    return _est_pairs(sigs, min_est, max_bucket)


def jaccard_pairs_lsh(
    df: DataFrame,
    threshold: float = 0.6,
    min_est: float = 0.35,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 256,
    family: int = 0,
) -> DataFrame:
    """Exact token-set Jaccard >= threshold over MinHash-LSH band candidates.

    The 100-TB shape for near-dup pairs: candidates come from the banded
    bucket join (linear-ish: bounded by bands * bucket_cap^2/2 per bucket),
    the signature-estimate filter (min_est, sig-only rows — 256 B) prunes
    the candidate set BEFORE the wide token arrays are attached (measured
    202 s -> ~40 s at sf0.1: array_intersect over millions of unpruned
    pairs dominated), then exact Jaccard re-ranks the survivors. Recall is
    the LSH S-curve 1-(1-s^r)^b (r=4, b=8: 0.67 at s=0.6, 0.9998 at s=0.9)
    times the estimate tail P(Binom(32, s)/32 < min_est) (~0.1% at s=0.6
    with min_est=0.35). All three stages are part of the DEFINED semantics:
    the DuckDB twin recomputes the identical portable-hash pipeline, so the
    output is engine-exact, not merely approximately equal.
    """
    sigs = persist_tracked(minhash_signatures(df, text_col, id_col, family))
    pairs = _est_pairs(sigs, min_est, max_bucket).select("id_a", "id_b")
    ta = sigs.select(F.col("id").alias("id_a"), F.col("toks").alias("toks_a"))
    tb = sigs.select(F.col("id").alias("id_b"), F.col("toks").alias("toks_b"))
    return (
        pairs.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a", "id_b", _jaccard(F.col("toks_a"), F.col("toks_b")).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_keep(
    df: DataFrame,
    threshold: float = 0.6,
    min_est: float = 0.35,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 256,
) -> DataFrame:
    """The dedup DECISION: ids to keep — a doc is dropped iff it has a
    near-dup (jaccard_pairs_lsh semantics) with a smaller id.

    This is what a real pipeline materializes: output is LINEAR in the doc
    count no matter how dup-heavy the corpus is (the pair set on a template-
    heavy crawl is inherently quadratic; the keep set never is). Keep-lowest
    -id is the standard greedy rule — under near-transitivity of near-dup
    clusters it keeps one representative per cluster without an iterative
    connected-components pass.
    """
    pairs = jaccard_pairs_lsh(df, threshold, min_est, text_col, id_col, max_bucket)
    dropped = pairs.select(F.col("id_b").alias("id")).distinct()
    return (
        df.select(F.col(id_col).alias("id"))
        .join(dropped, "id", "left_anti")
        .select("id")
    )


def _token_hash62(tok: Column) -> Column:
    """62-bit portable token hash: two independent 31-bit folds combined.
    Value < 2^62, so every bit 0..61 is usable and int64-safe."""
    return portable_token_hash(tok, 31) * F.lit(MH_PRIME) + portable_token_hash(
        tok, 131
    )


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    use_kernel: bool = False,
) -> DataFrame:
    """62-bit SimHash: per-bit vote sum of token-hash bits; bit set iff the
    vote is positive. Near-identical token bags -> small hamming distance.

    Two value-identical implementations (r6):
    - default: one JVM aggregate with an array<int>[62] vote accumulator.
      Kept as the default because it is a LAZY column expression —
      consumers that never read ``simhash`` (e.g. a bare count) prune the
      whole fold, which an opaque Python stage cannot offer.
    - use_kernel=True: the NumPy vote kernel (fastpath.simhash_from_hs) —
      exact int64 arithmetic, ~2x faster when the signature is actually
      materialized for every row (the persisted pairs path uses this).
    """
    toks = token_set(F.col(text_col))
    # materialize the 62-bit token hashes once (an inlined transform gets
    # re-evaluated per consumer)
    hashed = df.select(F.col(id_col).alias("id"), toks.alias("toks")).withColumn(
        "hs", F.transform(F.col("toks"), lambda t: _token_hash62(t))
    )
    if use_kernel:
        from .fastpath import simhash_from_hs

        return simhash_from_hs(hashed, SIM_BITS)

    pow2 = F.array(*[F.lit(1 << b).cast("long") for b in range(SIM_BITS)])
    votes = F.aggregate(
        F.col("hs"),
        F.array_repeat(F.lit(0), SIM_BITS),
        lambda acc, h: F.zip_with(
            acc,
            pow2,
            lambda a, p: a + F.when(h.bitwiseAND(p) != 0, 1).otherwise(-1),
        ),
    )
    signature = F.aggregate(
        F.zip_with(
            votes,
            pow2,
            lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return hashed.select("id", signature.alias("simhash"))


def _cut(df: DataFrame) -> DataFrame:
    """Run ``df`` now, as one action, and return its rows with the plan
    lineage cut: a reliable ``checkpoint`` when the session has a
    checkpoint dir (recoverable on executor loss), else a
    ``localCheckpoint`` (executor-local blocks, fine for local[N]).
    Metrics observed on ``df`` are ready when it returns."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    node_col: str = "id",
    max_iter: int = 30,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over an undirected pair list: ``(id,
    cluster_id)`` where ``cluster_id`` is the MIN node id in the component.

    This is the canonical post-pair dedup step in web-scale pipelines
    (CCNet / RefinedWeb style): near-dup PAIRS are a relation, but the
    keep/drop decision wants one representative per duplicate CLUSTER, and
    clusters are the transitive closure of the pair relation.

    Algorithm: min-label propagation with pointer jumping — each round (a)
    every node takes the min label over its neighbors and itself, then (b)
    labels are compressed one hop (``label <- label(label)``). Edge
    propagation alone converges in O(diameter) shuffles; the jump step
    path-halves label chains, so rounds are O(log d) — this is the
    DataFrame re-expression of the two-phase hashing schemes in Kiveris et
    al., "Connected Components in MapReduce and Beyond" (SoCC 2014),
    trading their large-star/small-star edge rewrites for a stable
    node-label table that Catalyst can shuffle on a single key.

    Scale notes (10^12-doc corpus):
    - per round: one groupBy(dst) shuffle over the symmetric edge list +
      two label-table joins, all hash-partitioned on node id — no
      all-pairs, no driver-side graph;
    - every round is ONE action: an eager checkpoint of the label table
      (_cut), with the round's moved-label count observed on the rows it
      writes. The checkpoint truncates the iterative plan lineage
      (unbounded lineage is the classic iterative-Spark failure mode:
      analysis time and stack depth grow per round). It is reliable
      ``checkpoint()`` when the session has a checkpoint dir (set one in
      production — recoverable + GC-able), else ``localCheckpoint``
      (executor-local blocks, fine for local[N]);
    - convergence = zero labels changed in a round; near-dup graphs
      (small-diameter star-ish clusters) converge in 2-4 rounds.

    The label table is O(|nodes|) longs — at 10^12 docs it is the same
    order as the doc-id column itself and partitions uniformly.
    """
    # materialize the DIRECTED edge list ONCE, before mirroring: every
    # iteration consumes the symmetric list, and without the barrier each
    # round — and each union branch — re-executes the whole upstream pair
    # pipeline (for neardup_clusters that is the full LSH+re-rank plan:
    # measured 104 s unmaterialized, 2x pair cost when the union is
    # checkpointed as a whole, ~1x with this shape; ~8 s at sf0.1).
    # localCheckpoint also cuts the edge plan out of every iteration's
    # lineage. At 10^12-doc scale the pair relation would be a materialized
    # table between jobs anyway.
    directed = edges.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).localCheckpoint(eager=False)
    sym = directed.union(
        directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if nodes is None:
        nodes = sym.select(F.col("src").alias(node_col)).distinct()
    labels = nodes.select(F.col(node_col).alias("id"), F.col(node_col).alias("label"))

    changed = 0
    rounds = 0
    for _ in range(max_iter):
        # the eager cut is the round's one action (a lazy checkpoint runs
        # its shuffle stages in a SQL execution of its own anyway)
        moved = Observation()
        labels = _cut(
            _cc_round(labels, sym).observe(moved, F.count_if("moved").alias("n"))
        ).drop("moved")
        changed = moved.get["n"]
        rounds += 1
        if changed == 0:
            break
    if stats is not None:
        # convergence telemetry for long-running state-keeping jobs: a
        # 100-TB operator watches rounds drift (graph diameter growing /
        # adversarial chaining) long before max_iter exhaustion bites
        stats["cc_rounds"] = rounds
        stats["cc_converged"] = changed == 0
        stats["cc_last_moved"] = changed
    if changed != 0:
        # exhausting max_iter means labels may still be mid-propagation —
        # deduping on them would silently merge/split wrong clusters, so the
        # exit is loud (near-dup graphs converge in 2-4 rounds; hitting 30
        # means the input is adversarial or max_iter was lowered)
        import warnings

        warnings.warn(
            f"connected_components exhausted max_iter={max_iter} with "
            f"{changed} labels still moving — cluster labels may be "
            "unconverged; raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("id", F.col("label").alias("cluster_id"))


def _cc_round(labels: DataFrame, sym: DataFrame) -> DataFrame:
    """One clustering round as a pure plan: neighbor-min propagation then a
    one-hop pointer jump, with the convergence flag riding along (no extra
    old-vs-new join). Equi-joins and one key-hash groupBy only — plan
    hygiene is pinned by tests/test_plans.py."""
    nbr_min = (
        sym.join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.min("label").alias("nmin"))
    )
    merged = labels.join(nbr_min, "id", "left").select(
        "id",
        F.least("label", "nmin").alias("label"),
        (F.col("nmin") < F.col("label")).alias("moved"),
    )
    # pointer jump: follow the label one hop (label is itself a node id)
    hop = merged.select(F.col("id").alias("jid"), F.col("label").alias("jlabel"))
    return merged.join(hop, merged["label"] == hop["jid"], "left").select(
        "id",
        F.coalesce("jlabel", "label").alias("label"),
        (
            F.coalesce("moved", F.lit(False))
            | F.coalesce(F.col("jlabel") < F.col("label"), F.lit(False))
        ).alias("moved"),
    )


def neardup_clusters(
    df: DataFrame,
    threshold: float = 0.6,
    min_est: float = 0.35,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 256,
    cc_stats: dict | None = None,
) -> DataFrame:
    """Duplicate CLUSTERS: every doc labeled with the min doc_id of its
    near-dup connected component (jaccard_pairs_lsh edge semantics).

    Strictly stronger than jaccard_keep's greedy keep-lowest-id: under
    chained near-dups (A~B~C but A!~C) the greedy rule can drop B yet keep
    both A and C; the component label makes the full cluster explicit so
    the caller can keep exactly one representative per transitive cluster,
    count cluster sizes, or sample within clusters. Output is linear in the
    doc count (one row per doc) regardless of pair-set size.
    """
    pairs = jaccard_pairs_lsh(
        df, threshold, min_est, text_col, id_col, max_bucket
    ).select("id_a", "id_b")
    nodes = df.select(F.col(id_col).alias("id"))
    return connected_components(pairs, nodes, stats=cc_stats)


def incremental_dedup(
    new_sigs: DataFrame,
    prior_sigs: DataFrame,
    prior_clusters: DataFrame | None = None,
    threshold: float = 0.6,
    min_est: float = 0.35,
    max_bucket: int = 256,
    cc_stats: dict | None = None,
) -> DataFrame:
    """Incremental dedup of NEW docs against a prior corpus's materialized
    signature table: ``(id, keep, cluster_id)`` — one row per new doc, plus
    one row per prior doc whose label the run recomputed (the members of
    every prior cluster a new-involving pair touches).

    The weekly-crawl workflow the portable-hash design (module docstring)
    exists for: the prior corpus was deduped once, its signature table
    (``materialize_signatures``) and cluster labels (``neardup_clusters``)
    were kept, and next week's crawl must be judged against the union
    WITHOUT recomputing 100 TB of signatures. ``new_sigs`` are the new
    slice's signature rows (``minhash_signatures``), hashed once by the
    caller, which usually appends the same rows to its signature table;
    the band join runs new-vs-(new ∪ prior); prior pairs are never
    re-derived (prior connectivity enters as the linear-sized cluster-label
    edge list). This is the dedup analogue of the extraction pipeline's
    resume anti-join (reference: enqueue's existing-key skip,
    workers/ocr/enqueue.py:49-87 — judge prior work by its recorded
    artifact, don't redo it).

    Semantics:
    - PRIOR DECISIONS ARE FROZEN: prior docs are already in the corpus
      (possibly shipped to training) and are never dropped retroactively.
    - a new doc is DROPPED iff it near-dups (jaccard_pairs_lsh semantics,
      same threshold/min_est/cap, bucket caps computed over the UNION) any
      prior doc, or a new doc with a smaller id;
    - ``cluster_id`` = min member id of the doc's near-dup component over
      (prior cluster edges ∪ new-involving pairs) — a new doc that chains
      two prior clusters together merges their labels in this output.
    - the output is the run's DELTA of a rolling label table: a prior doc
      appears iff the frontier closure relabeled it (it is a pair's
      prior endpoint or a member of a prior cluster such an endpoint
      belongs to), so a state-keeping caller
      (jobs/dedup_job.py) appends the output and reads the table back
      latest-wins per id, and prior labels never go stale across merges.
      Every untouched prior label is already current in that table.
      Prior rows always carry ``keep=1`` — frozen-prior means a prior doc
      is never retro-dropped; its historical keep decision lives in the
      run that ingested it. Callers that want the new docs only semi-join
      the slice's ids.

    Equivalence to a full recompute: when new ids are all greater than
    prior ids (crawl-ordered ids) and no band bucket crosses max_bucket
    between the prior corpus and the union, keep and cluster labels for
    new docs, and the labels of the prior rows in the output, are
    IDENTICAL to running jaccard_keep / neardup_clusters on the union from
    scratch (tests/test_operators.py pins this). An EMPTY prior is the
    limiting case: the result is then jaccard_keep / neardup_clusters over
    the slice alone, which is how jobs/dedup_job.py runs its first slice
    (tests/test_properties.py pins cut=0). A bucket that outgrows the cap
    only in the union makes the incremental run see strictly fewer union
    pairs — same direction the full recompute moves.

    Scale shape: new-side rows drive every join (a week's crawl vs the
    corpus: |new| << |prior|), prior band rows enter through a semi-join
    on the buckets the new slice touches, and the label closure runs over
    the CONTRACTED FRONTIER only: its nodes are the new docs and one label
    node per prior cluster a new-involving pair touches (a prior endpoint
    stands for its cluster, whose connectivity prior_clusters already
    closed), so the iterative closure is pair-sized, not cluster-sized;
    one join then gives each touched cluster's members their component's
    label. Untouched prior components are neither relabeled nor emitted.
    Each step is one Spark action: the pair stage ends in one eager cut
    (_cut) that observes the pair count, and each closure round is one
    more. No prior signature is recomputed and no prior pair re-scored.
    The signature
    table is the only bucket state: prior band rows are exploded from its
    ``bands`` column (a columnar scan reads just that column), and the
    caps are counted over the touched buckets' rows, which are all of
    those buckets' union rows. Separate (id, bh) and (bh, n) tables buy
    nothing here: the run already scans every prior ``toks`` and ``sig``
    for the attach union, and band buckets are almost all singletons —
    on perfbench ``dedup_weekly`` (400 prior docs + 100 new, seed 1) a
    materialized (id, bh) table held 4000 rows over 3822 distinct
    buckets, and a per-bucket count table 3863 rows.
    """
    # the slice's rows feed the union, the band explode and the output ids:
    # one barrier, unless the caller already holds one
    if not new_sigs.is_cached:
        new_sigs = persist_tracked(new_sigs)
    if prior_clusters is None:
        prior_clusters = prior_sigs.select("id", F.col("id").alias("cluster_id"))
    # the pair stage ends in ONE action, which also counts the pairs
    n_pairs = Observation()
    pairs = _cut(
        _incremental_pairs(
            new_sigs, prior_sigs, prior_clusters, threshold, min_est, max_bucket
        ).observe(n_pairs, F.count(F.lit(1)).alias("n"))
    )
    if cc_stats is not None:
        cc_stats["n_new_pairs"] = n_pairs.get["n"]

    # keep/drop: the prior side of a mixed pair always wins; new-new pairs
    # drop the greater id (keep-lowest-id, same rule as jaccard_keep)
    drop_id = (
        F.when(F.col("new_a") & ~F.col("new_b"), F.col("id_a"))
        .when(F.col("new_b") & ~F.col("new_a"), F.col("id_b"))
        .otherwise(F.col("id_b"))
    )

    # cluster labels over the CONTRACTED frontier: prior connectivity is
    # already closed in prior_clusters, so a prior endpoint enters as its
    # cluster's label node, and a label is its cluster's min member. A prior
    # component no new-involving pair reaches cannot change and never enters
    labels = connected_components(
        pairs.select(
            F.coalesce("la", "id_a").alias("id_a"),
            F.coalesce("lb", "id_b").alias("id_b"),
        ),
        stats=cc_stats,
    )
    # expand: every member of a touched prior cluster takes the component
    # label of its cluster's label node
    members = prior_clusters.join(
        labels.select(F.col("id").alias("cluster_id"), F.col("cluster_id").alias("c")),
        "cluster_id",
    ).select("id", F.col("c").alias("cluster_id"))

    # rows: the new docs, every closure node and every member of a touched
    # prior cluster, folded per id with the drop flags. Dropped ids are only
    # ever NEW ids (the drop rule above), so prior rows keep=1; new docs
    # outside the closure are singletons and fall back to their own id
    flags = new_sigs.select("id", F.lit(0).alias("drop")).unionByName(
        pairs.select(drop_id.alias("id"), F.lit(1).alias("drop"))
    )
    return (
        labels.unionByName(members)
        .unionByName(flags, allowMissingColumns=True)
        .groupBy("id")
        .agg(
            (1 - F.coalesce(F.max("drop"), F.lit(0))).alias("keep"),
            F.coalesce(F.min("cluster_id"), "id").alias("cluster_id"),
        )
    )


def _incremental_pairs(
    new_sigs: DataFrame, prior_sigs: DataFrame, prior_clusters: DataFrame,
    threshold: float, min_est: float, max_bucket: int,
) -> DataFrame:
    """incremental_dedup's pair stage as one plan: every re-ranked pair with
    a new side, ``(id_a, id_b, new_a, new_b, la, lb)``, where ``la`` /
    ``lb`` is the prior endpoint's label in ``prior_clusters`` (null for a
    new endpoint, or a prior one without a label row)."""
    from .fastpath import bucket_pair_sig_matches

    # attach-only union: band rows are derived separately below, so the
    # persisted union never carries the bands column (narrower barrier)
    allsigs = persist_tracked(
        prior_sigs.select("id", "toks", "sig")
        .withColumn("is_new", F.lit(False))
        .unionByName(
            new_sigs.select("id", "toks", "sig").withColumn(
                "is_new", F.lit(True)
            )
        )
    )

    # band rows: both sides explode the bands column of their signatures;
    # prior rows matter only in buckets the new slice touches (candidates
    # need a new side)
    new_e = new_sigs.select("id", F.explode("bands").alias("bh"))
    prior_e = prior_sigs.select("id", F.explode("bands").alias("bh"))
    prior_rel = prior_e.join(new_e.select("bh").distinct(), "bh", "left_semi")
    # persisted: the cap count and the cap semi-join both read e, and
    # without the barrier each re-scans the prior bands, re-explodes them
    # and re-runs the touched-bucket semi-join
    e = persist_tracked(
        prior_rel.withColumn("is_new", F.lit(False)).unionByName(
            new_e.withColumn("is_new", F.lit(True))
        )
    )
    # caps are UNION-wide (a bucket's degeneracy is a property of the whole
    # corpus, not of one slice): e holds every union row of each bucket it
    # touches, so counting over e before the attach join is that count
    e = _cap_buckets(e, max_bucket).join(allsigs.select("id", "sig"), "id")
    # candidates: the bucket-pair kernel of the full operators (_est_pairs)
    # in its flagged mode — one side NEW, other side anything, so the
    # prior-vs-prior quadrant (the expensive one at 100 TB) is never
    # generated; the flags ride out as (new_a, new_b). Signatures come in
    # through the one keyed join above, so a pair costs no attach joins.
    # Measured against the old band self-join + two signature attach joins
    # + zip_with fold, on a 4-CPU VM: perfbench dedup_weekly (400-doc
    # state, 100-doc slice) runs 112 Spark jobs instead of 119 and its
    # median run_s fell 12.7 -> 11.8 s over 10 interleaved pairs; the
    # registry's dedup_incremental at sf0.1 is at parity (5-7 s warm).
    est = (
        bucket_pair_sig_matches(e, MH_K, flag_col="is_new")
        .distinct()
        .filter(_est_jaccard() >= min_est)
        .select("id_a", "id_b", "new_a", "new_b")
    )
    # exact re-rank, same stage as jaccard_pairs_lsh
    ta = allsigs.select(F.col("id").alias("id_a"), F.col("toks").alias("toks_a"))
    tb = allsigs.select(F.col("id").alias("id_b"), F.col("toks").alias("toks_b"))
    pairs = (
        est.join(ta, "id_a")
        .join(tb, "id_b")
        .filter(_jaccard(F.col("toks_a"), F.col("toks_b")) >= threshold)
    )
    # a pair has at most one prior side (no prior-vs-prior candidates), so
    # one join on that side labels it
    prior_id = F.when(~F.col("new_a"), F.col("id_a")).when(~F.col("new_b"), F.col("id_b"))
    lab = prior_clusters.select(F.col("id").alias("p"), F.col("cluster_id").alias("l"))
    return pairs.join(lab, prior_id == lab["p"], "left").select(
        "id_a", "id_b", "new_a", "new_b",
        F.when(~F.col("new_a"), F.col("l")).alias("la"),
        F.when(~F.col("new_b"), F.col("l")).alias("lb"),
    )


def simhash_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 256,
) -> DataFrame:
    """Near-dup pairs by SimHash: hamming-banded bucket join + popcount
    re-rank.

    The 62-bit signature splits into 4 bands (16/16/16/14 bits); any pair
    within hamming distance <= 3 has >=1 band with zero differing bits
    (pigeonhole), so the band join has recall 1.0 for the default threshold.
    Re-rank = bit_count(xor) <= max_hamming, JVM-side. Same degenerate-
    bucket cap as MinHash (identical docs all share all 4 bands).
    """
    sigs = persist_tracked(simhash_signatures(df, text_col, id_col, use_kernel=True))
    band_cols = []
    for idx, (shift, width) in enumerate(SIM_BAND_EDGES):
        mask = F.lit((1 << width) - 1).cast("long")
        # band index baked into the bucket value (value < 2^16, *4 safe)
        band_cols.append(
            F.shiftright(F.col("simhash"), shift).bitwiseAND(mask) * 4 + idx
        )
    banded = sigs.withColumn("bands", F.array(*band_cols))
    pairs = lsh_candidate_pairs(banded, max_bucket)
    sa = sigs.select(F.col("id").alias("id_a"), F.col("simhash").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("simhash").alias("sig_b"))
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def _window_hashes(
    df: DataFrame, window: int, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """(base, wnd) for the substring-dedup family: base = (id, _tk) and
    wnd = (id, pos, h) with h = portable_token_hash of the space-joined
    ``window``-gram at 0-based token position pos.

    r6 optimization: the old path BUILT every gram string
    (slice+array_join, ~window x token_len chars each) and char-folded it
    — O(|tokens| x window x token_len) hash lambdas plus 2x recompute
    (wnd had two consumers). Now each token is char-folded ONCE into
    (h_tok, 31^len mod p), and gram hashes compose by modular identity
      h(a ⊔ ' ' ⊔ b) = (((h(a)*31 + 32) % p) * p_b + h_b) % p
    — exact integer arithmetic, value-identical to hashing the joined
    string (both fold mod p at every step), so the DuckDB twin needs no
    change. O(|chars|) once + O(|tokens| x window) composes, and wnd is
    persisted (caller-owned lifetime via cache.release_caches) so its two
    consumers share one computation. Nothing here decides anything in
    float — pure int64, products bounded by p^2 < 2^62."""
    from .fastpath import _spread

    # base stays an UNspread lazy projection (cheap consumers, prunable);
    # the heavy hash pipeline below runs over a parallelism-floored copy
    base = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_tk")
    )
    spread_base = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_tk")
    )
    hp = F.transform(
        F.col("_tk"),
        lambda t: F.aggregate(
            F.split(t, ""),
            F.struct(
                F.lit(0).cast("long").alias("h"), F.lit(1).cast("long").alias("p")
            ),
            lambda acc, c: F.struct(
                ((acc["h"] * 31 + F.ascii(c)) % F.lit(MH_PRIME)).alias("h"),
                ((acc["p"] * 31) % F.lit(MH_PRIME)).alias("p"),
            ),
        ),
    )
    toks_hp = spread_base.withColumn("_hp", hp)
    gram_h = F.transform(
        F.sequence(F.lit(0), F.size(F.col("_tk")) - window),
        lambda i: F.aggregate(
            F.sequence(F.lit(1), F.lit(window - 1)),
            F.element_at(F.col("_hp"), i + 1)["h"],
            lambda acc, w: (
                ((acc * 31 + 32) % F.lit(MH_PRIME))
                * F.element_at(F.col("_hp"), i + 1 + w)["p"]
                + F.element_at(F.col("_hp"), i + 1 + w)["h"]
            )
            % F.lit(MH_PRIME),
        ),
    )
    hs = F.when(
        F.size(F.col("_tk")) < window, F.array().cast("array<long>")
    ).otherwise(gram_h)
    wnd = persist_tracked(
        toks_hp.select("id", F.posexplode(hs).alias("pos", "h"))
    )
    return base, wnd


def duplicate_substring_spans(
    df: DataFrame,
    window: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact substring deduplication (Lee et al. 2021, arXiv:2107.06499,
    "Deduplicating Training Data Makes Language Models Better") with the
    paper's single-node suffix array replaced by its distributed
    equivalence: any substring of >= ``window`` tokens shared across
    >= ``min_docs`` documents is exactly a RUN of duplicated fixed-width
    token windows, so hashing every window, keeping hashes seen in
    min_docs+ distinct documents, and merging each document's surviving
    window positions into maximal intervals yields the per-doc duplicated
    spans ``(doc_id, span_start, span_end, n_windows)`` in token
    coordinates (end exclusive; overlapping or touching windows merge).

    Scale shape: the window explode is |corpus tokens| narrow rows; one
    shuffle groups them by hash (count-distinct-doc gate), one hash-keyed
    semi join marks surviving windows, one doc_id-keyed window pass merges
    islands — every exchange is key-partitioned, nothing corpus-sized sits
    on one node (the suffix array's fatal constraint at 100 TB). The
    polynomial window hash is portable_token_hash over the space-joined
    gram, so the whole decision chain replays bit-exactly in DuckDB; a
    31-bit hash can collide, but both engines collide identically, and a
    production run would widen to a 62-bit pair-hash (as dedup_simhash
    does) before acting on the spans.

    Within-doc-only repeats (a phrase looping inside a single document)
    are deliberately NOT flagged here — that signal lives in
    textstats.repetition_columns; this operator targets the cross-document
    boilerplate the paper removes.
    """
    from pyspark.sql.window import Window

    _, wnd = _window_hashes(df, window, text_col, id_col)
    dup_h = (
        wnd.groupBy("h")
        .agg(F.countDistinct("id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h")
    )
    dw = wnd.join(dup_h, "h", "left_semi")
    w = Window.partitionBy("id").orderBy("pos")
    isl = (
        dw.withColumn(
            "new_isl",
            F.when(
                F.lag("pos").over(w).isNull()
                | (F.col("pos") > F.lag("pos").over(w) + window),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("grp", F.sum("new_isl").over(w))
    )
    return (
        isl.groupBy("id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + window).alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("span_start").cast("long"),
            F.col("span_end").cast("long"),
            "n_windows",
        )
    )


def excise_duplicate_substrings(
    df: DataFrame,
    window: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ACTION half of exact substring dedup (arXiv:2107.06499 trains
    on the corrected corpus, not the span report): cut every cross-doc
    duplicated span, keeping ONE canonical occurrence corpus-wide. The
    keeper of a duplicated window is the minimum doc_id holding it — an
    order-free rule, so the rewrite is deterministic under any
    partitioning and replays exactly in SQL. A keeper doc keeps all its
    occurrences; every other doc cuts the tokens its duplicated windows
    cover (islands merged as in duplicate_substring_spans).

    Returns ``(doc_id, text_deduped, n_tokens, n_removed)`` for EVERY
    input doc (untouched docs pass through). ``text_deduped`` is the
    surviving tokens re-joined with single spaces — the corpus is in
    token-normalized form after this gate, which is what a training
    tokenizer consumes anyway; both engines rebuild the string
    identically.

    Scale shape: adds to duplicate_substring_spans one more doc_id-keyed
    pass — surviving tokens regroup via a sorted-struct aggregation, and
    the cut-range containment check is a doc_id-equi join whose range
    predicate touches only docs that HAVE cuts (the overwhelming majority
    of a deduped corpus joins nothing and passes through the left side).
    """
    from pyspark.sql.window import Window

    # base deliberately NOT persisted: its three consumers re-derive the
    # (cheap) token split, and keeping it a lazy projection lets consumers
    # that never touch the rebuilt text (e.g. a bare count: the left join
    # against the unique-keyed rebuild aggregate is eliminated outright)
    # prune the whole excision branch — a persist would force it.
    base, wnd = _window_hashes(df, window, text_col, id_col)
    info = wnd.groupBy("h").agg(
        F.countDistinct("id").alias("nd"), F.min("id").alias("keeper")
    )
    cutw = (
        wnd.join(info, "h")
        .filter((F.col("nd") >= min_docs) & (F.col("id") != F.col("keeper")))
        .select("id", "pos")
    )
    w = Window.partitionBy("id").orderBy("pos")
    ranges = (
        cutw.withColumn(
            "new_isl",
            F.when(
                F.lag("pos").over(w).isNull()
                | (F.col("pos") > F.lag("pos").over(w) + window),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("grp", F.sum("new_isl").over(w))
        .groupBy("id", "grp")
        .agg(F.min("pos").alias("cs"), (F.max("pos") + window).alias("ce"))
    )
    toks_idx = base.select("id", F.posexplode("_tk").alias("ti", "tok"))
    # ranges' key is aliased so the self-join condition is unambiguous by
    # construction (both legs descend from `base`; relying on the
    # analyzer's self-join disambiguation is fragile — r5 ADVICE item)
    ranges_r = ranges.select(
        F.col("id").alias("rid"), F.col("cs"), F.col("ce")
    )
    kept = toks_idx.join(
        ranges_r,
        (F.col("id") == F.col("rid"))
        & (F.col("ti") >= F.col("cs"))
        & (F.col("ti") < F.col("ce")),
        "left_anti",
    )
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ti", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("text_deduped"),
        F.count("*").alias("n_kept"),
    )
    return (
        base.select("id", F.size("_tk").alias("n_tokens"))
        .join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("text_deduped"), F.lit("")).alias("text_deduped"),
            F.col("n_tokens").cast("long"),
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


# --- Bloom-filter membership gate -------------------------------------------
# A Bloom bitmap over the prior hashes is ~10 bits/key (1.2 GB at 10^9 keys)
# and broadcastable; probing it answers "definitely not present" for the
# overwhelmingly-novel majority of a crawl slice, so the exact confirm join
# is PROBED only with the bloom-positive sliver (true dups + the deliberate
# false-positive rate). That is all the gate shrinks: the confirm join's
# build side is still every prior hash, so the prior table is read in full
# either way. The final keep/drop set is EXACT regardless of the filter's
# false positives — the bloom is a prefilter, never the verdict.

BLOOM_M_BITS = 1 << 18  # bitmap size (bits); ~10 bits/key at 26k keys
BLOOM_K = 5  # probes per key


def bloom_params(n_keys: int, fp_rate: float = 0.01) -> tuple[int, int]:
    """(m_bits, k) sized for ``n_keys`` at the target false-positive rate,
    by the standard formulas m = -n ln p / (ln 2)^2, k = (m/n) ln 2 —
    how a 100-TB deployment sizes the bitmap instead of riding the
    test-scale default. m is rounded UP to a power of two (so the word
    table stays aligned and the modulo in _bloom_positions never biases
    low positions) and k is recomputed from the grown m — the rounding
    only ever lowers the fp rate below target (e.g. 10^9 keys at 1% ->
    2^34 bits = 2.1 GB of words, k=12, analytic fp ~3e-4)."""
    import math

    if n_keys <= 0:
        return BLOOM_M_BITS, BLOOM_K
    m = -n_keys * math.log(fp_rate) / (math.log(2) ** 2)
    m_bits = 1 << max(6, math.ceil(math.log2(m)))
    k = max(1, round(m_bits / n_keys * math.log(2)))
    return m_bits, k


def _bloom_positions(h: Column, m_bits: int, k: int) -> Column:
    """array<long> of k bit positions for a 32-hex-char md5 string, via
    Kirsch-Mitzenmacher double hashing: pos_i = (h1 + i*h2) mod m. h1/h2
    are the two 60-bit halves of the md5 itself (deterministic across
    runs, engines, and cluster sizes — the bitmap is portable state).

    h1/h2 are reduced mod m BEFORE the stride multiply: with raw 60-bit
    halves, h1 + i*h2 overflows int64 for k >= 8 (ARITHMETIC_OVERFLOW
    under Spark 4's default ANSI mode) — exactly the production sizing
    bloom_params documents (10^9 keys -> m=2^34, k=12). The reduction is
    value-identical by modular arithmetic ((a+b) mod m == ((a mod m) +
    (b mod m)) mod m), so bitmaps persisted by earlier revisions stay
    valid; the largest operand is now (k+1)*m, safe for any m < 2^57.
    The pre-reduction odd-forcing of h2 survives the mod unchanged for
    the power-of-two m that bloom_params emits (odd mod 2^j stays odd),
    so the stride still never degenerates to 0."""
    h1 = F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % F.lit(m_bits)
    # force h2 odd so the probe stride never degenerates to 0 mod m
    h2 = (
        F.conv(F.substring(h, 16, 15), 16, 10).cast("long").bitwiseOR(F.lit(1))
    ) % F.lit(m_bits)
    return F.array(
        *[((h1 + F.lit(i) * h2) % F.lit(m_bits)).cast("long") for i in range(k)]
    )


def bloom_build(
    hashes: DataFrame,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    h_col: str = "h",
) -> DataFrame:
    """(widx, word): the set 64-bit words of a Bloom bitmap over the md5
    hashes in ``hashes``. Scale shape: explode k positions per key (narrow),
    distinct collapses map-side, then one groupBy on widx — output is at
    most m/64 rows no matter how many keys went in, i.e. the bitmap TABLE
    is broadcast-sized by construction and can be materialized next to the
    signature tables as incremental state (bit_or of two builds == build of
    the union, so weekly slices fold in with a trivial re-aggregate)."""
    return (
        hashes.select(
            F.explode(_bloom_positions(F.col(h_col), m_bits, k)).alias("pos")
        )
        .distinct()
        .groupBy((F.col("pos") / 64).cast("long").alias("widx"))
        .agg(
            F.bit_or(F.expr("shiftleft(1L, CAST(pos % 64 AS INT))")).alias("word")
        )
    )


def bloom_probe(
    keyed: DataFrame,
    bloom_words: DataFrame,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    h_col: str = "h",
) -> DataFrame:
    """Input rows + ``bloom_pos`` (boolean): true iff EVERY probe bit is
    set, i.e. the key is possibly-present (false positives at the designed
    rate, never false negatives). The join is an equi-join against the
    broadcast bitmap table — no shuffle of the probed side beyond the
    k-way explode/regroup on its own key."""
    probes = keyed.select(
        F.col(h_col).alias("_bh"),
        F.explode(_bloom_positions(F.col(h_col), m_bits, k)).alias("pos"),
    ).distinct()
    hits = (
        probes.withColumn("widx", (F.col("pos") / 64).cast("long"))
        .join(F.broadcast(bloom_words), "widx", "left")
        .withColumn(
            "bit_set",
            F.expr(
                "coalesce(word, 0L) & shiftleft(1L, CAST(pos % 64 AS INT))"
            )
            != 0,
        )
        .groupBy("_bh")
        .agg(F.min("bit_set").alias("bloom_pos"))
    )
    return keyed.join(hits, keyed[h_col] == hits["_bh"], "left").drop("_bh")


def bloom_gated_incremental_exact(
    new_docs: DataFrame,
    prior_hashes: DataFrame,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """incremental_exact_dedup with a Bloom prefilter: same (id, keep)
    output, bit-identical (the equivalence is pinned by test and by the
    shared SQL oracle), but the exact membership join against the prior
    corpus is probed ONLY with bloom-positive hashes. At a real crawl's
    novelty rate (>90% new content) that cuts the confirm join's probe
    side by ~10x; its build side is still every prior hash. Reference
    anchor: the resume anti-join semantics of workers/ocr/enqueue.py:49-87,
    with the probe side prefiltered by a bitmap of the prior keys."""
    new_h = exact_hashes(new_docs, text_col, id_col)
    return bloom_gated_keep(new_h, prior_hashes, m_bits, k)


def bloom_gated_keep(
    new_h: DataFrame,
    prior_hashes: DataFrame,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """The gate's core over any keyed ``(id, h)`` stream (h a 32-hex md5):
    keep_first_unseen's ``(id, keep)``, with the prior membership join
    probed only by the bloom-positive distinct hashes of ``new_h``. The
    join's build side is every prior hash, as without the gate; a
    bloom-negative hash is absent from the prior set by construction."""
    words = bloom_build(prior_hashes, m_bits, k)
    gated = bloom_probe(new_h, words, m_bits, k)
    # confirm join: only possibly-present hashes probe the prior table
    confirmed = (
        gated.filter(F.col("bloom_pos"))
        .select("h")
        .distinct()
        .join(prior_hashes.select("h").distinct(), "h", "left_semi")
    )
    return _keep_first(new_h, confirmed)
