"""Vectorized Arrow/NumPy kernels for the embedding/ANN family (guide §4.2).

Round-6 optimization: the similarity operators' per-pair math was pure
JVM higher-order-function folds (``aggregate(zip_with(...))``), which are
interpreted lambda-at-a-time — measured ~100 ns/element, so a brute-force
pass at sf1.0 (4M pairs x 64 dims x 3 folds) burned ~75 s. These kernels
hand whole Arrow batches to NumPy instead, at ~1 ns/element.

BIT-EXACTNESS CONTRACT (what keeps the DuckDB oracle hashes green):

- Every float fold replays the JVM expression's EXACT operation order:
  ``dot = fold_{j=0..d-1} acc + (a[j] * b[j])`` becomes a NumPy loop over
  j of elementwise multiply-then-add — one IEEE-754 double rounding per
  operation, identical to the JVM's, because both run SSE2 doubles with
  no FMA contraction (``np.add``/``np.multiply`` are elementwise, never
  pairwise-summed).
- float32 -> float64 widening is exact in both engines.
- NO rounding decision is ever made in Python: ``F.round`` (HALF_UP over
  Java's shortest-decimal representation) stays in the JVM, as do all
  argmax / rank decisions derived from rounded values.
- Partial top-k pruning inside a kernel selects by RAW value threshold
  only: every row whose score ties the k-th best (or is NaN, which Spark
  orders above all values) is kept, so the emitted candidate set is a
  superset of the true top-k under Spark's ordering and the final JVM
  window produces the identical result.

Scale shape: each kernel is a corpus-linear mapInArrow pass; the query
side rides in as a broadcast (bounded: |queries| x dim doubles — the same
broadcast-equivalence contract as ``_sample_centroids``). Batches are
re-accumulated to BATCH_ROWS inside the kernel so the session's Arrow
batch-size conf (sized for multi-MB media rows) does not fragment the
numeric path.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BATCH_ROWS = 8192  # re-accumulation target inside kernels


def _spread(df: DataFrame) -> DataFrame:
    """Scale-adaptive parallelism floor for kernel scans (guide §2.5/§6):
    a small parquet table arrives as 1-2 splits, which would run a
    compute-heavy kernel nearly single-threaded. When the scan has fewer
    partitions than the cluster's parallelism, round-robin repartition up
    to it — a few-MB shuffle locally; a no-op at real scale, where the
    input already has >= defaultParallelism splits (nothing here is tuned
    to a core COUNT: the floor derives from the session's own
    parallelism). Only candidate-superset/row-local kernels sit downstream,
    so results are partitioning-independent.

    The floor is decided from the plan, without running it. A plan without
    an exchange has its partition count at planning time (``df.rdd`` plans
    the scan, it starts no job). A plan with one is adaptive: its count
    exists only once AQE has run the upstream stages, and AQE coalesces a
    small shuffle output below the parallelism, so it is spread. Asking
    such a plan for its count would run those stages once for the answer
    and again for the kernel."""
    p = df.sparkSession.sparkContext.defaultParallelism
    adaptive = df._jdf.queryExecution().executedPlan().nodeName() == "AdaptiveSparkPlan"
    if adaptive or df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def _vec_matrix(arr: "pa.Array", dim: int) -> np.ndarray:
    """list<float|double> Arrow column -> (n, dim) float64, exactly."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if isinstance(arr, pa.ListArray) or isinstance(arr, pa.LargeListArray):
        offsets = arr.offsets.to_numpy(zero_copy_only=False)
        if not np.all(np.diff(offsets) == dim):
            raise ValueError("ragged embedding column")
        flat = arr.values.to_numpy(zero_copy_only=False)
        if arr.offset != 0 or len(flat) != len(arr) * dim:
            flat = flat[offsets[0] : offsets[-1]]
        return flat.astype(np.float64, copy=False).reshape(len(arr), dim)
    raise TypeError(f"unexpected Arrow type {arr.type}")


def ordered_dot_matrix(C: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """(nc, nq) dot products with the JVM fold order: for j ascending,
    acc += C[:, j] * Q[:, j] — one rounding per multiply, one per add."""
    nc, d = C.shape
    nq = Q.shape[0]
    acc = np.zeros((nc, nq), dtype=np.float64)
    tmp = np.empty((nc, nq), dtype=np.float64)
    for j in range(d):
        np.multiply(C[:, j : j + 1], Q[None, :, j], out=tmp)
        np.add(acc, tmp, out=acc)
    return acc


def ordered_sqnorm(V: np.ndarray) -> np.ndarray:
    """fold acc + v[j]*v[j], j ascending — the JVM ``norm`` body pre-sqrt."""
    acc = np.zeros(V.shape[0], dtype=np.float64)
    for j in range(V.shape[1]):
        acc += V[:, j] * V[:, j]
    return acc


def _topk_value_mask(scores: np.ndarray, k: int) -> np.ndarray:
    """Boolean mask (same shape as ``scores``, queries on axis 1) keeping,
    per column, every entry >= the k-th largest value plus every NaN —
    a superset of any (value desc, tiebreak) top-k. Entries equal to
    -inf (used as 'excluded') never pass: genuine cosines/dots are finite
    or NaN, never -inf."""
    nc, nq = scores.shape
    if nc <= k:
        mask = np.ones_like(scores, dtype=bool)
    else:
        # NaN sorts to the top in np.partition? No: NaN sorts LAST in
        # numpy. Replace NaN with +inf for threshold selection so NaN
        # rows both (a) occupy top-k slots as Spark's ordering gives
        # them and (b) are kept by the final isnan mask.
        clean = np.where(np.isnan(scores), np.inf, scores)
        kth = np.partition(clean, nc - k, axis=0)[nc - k]
        mask = (clean >= kth[None, :]) & np.isfinite(scores) | np.isnan(scores)
    mask &= scores != -np.inf
    return mask


def _rebatch(iterator, columns):
    """Yield dict-of-arrays chunks of ~BATCH_ROWS rows from an Arrow
    RecordBatch iterator (undoing the session's tiny media-sized Arrow
    batches for this numeric path)."""
    def _flush(buf):
        tbl = pa.Table.from_batches(buf)
        out = {}
        for c in columns:
            col = tbl.column(c)
            out[c] = (
                col.chunk(0) if col.num_chunks == 1 else pa.concat_arrays(col.chunks)
            )
        return out

    buf: list[pa.RecordBatch] = []
    n = 0
    for batch in iterator:
        if batch.num_rows == 0:
            continue
        buf.append(batch)
        n += batch.num_rows
        if n >= BATCH_ROWS:
            yield _flush(buf)
            buf, n = [], 0
    if buf:
        yield _flush(buf)


def brute_cosine_candidates(
    corpus: DataFrame,
    q_ids: list[int],
    q_vecs: list[list[float]],
    k: int,
    id_col: str = "neighbor_id",
    vec_col: str = "cvec",
) -> DataFrame:
    """Per-batch top-k candidate (query_id, neighbor_id, cos) rows for the
    brute-force cosine path: corpus-linear scan, queries broadcast via the
    task closure (bounded, the broadcast-equivalent contract). ``cos`` is
    the bit-exact double the JVM expression would produce; the caller's
    window (cos desc, neighbor_id) finishes the ranking."""
    spark = corpus.sparkSession
    dim = len(q_vecs[0]) if q_vecs else 0
    qi = np.asarray(q_ids, dtype=np.int64)
    Q = np.asarray(q_vecs, dtype=np.float64)
    qn = np.sqrt(ordered_sqnorm(Q)) if len(q_vecs) else np.zeros(0)
    bc = spark.sparkContext.broadcast((qi, Q, qn))
    out_schema = pa.schema(
        [
            pa.field("query_id", pa.int64()),
            pa.field("neighbor_id", pa.int64()),
            pa.field("cos", pa.float64()),
        ]
    )

    def fn(iterator):
        qi_, Q_, qn_ = bc.value
        nq = len(qi_)
        if nq == 0:
            return
        for cols in _rebatch(iterator, (id_col, vec_col)):
            nid = cols[id_col].to_numpy(zero_copy_only=False).astype(np.int64)
            C = _vec_matrix(cols[vec_col], dim)
            dots = ordered_dot_matrix(C, Q_)
            cn = np.sqrt(ordered_sqnorm(C))
            den = cn[:, None] * qn_[None, :]
            cos = dots / den
            # self-pairs are excluded before ranking in the JVM plan
            cos[nid[:, None] == qi_[None, :]] = -np.inf
            mask = _topk_value_mask(cos, k)
            rows, qcols = np.nonzero(mask)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qi_[qcols], type=pa.int64()),
                    pa.array(nid[rows], type=pa.int64()),
                    pa.array(cos[rows, qcols], type=pa.float64()),
                ],
                schema=out_schema,
            )

    return _spread(corpus.select(id_col, vec_col)).mapInArrow(
        fn, "query_id long, neighbor_id long, cos double"
    )


def _bucket_cosine_segments(nid, bkt, C, pm, qi, Q, qn, k):
    """Shared scoring core of the bucketed cosine kernels: group the batch
    by bucket (one stable argsort), score each bucket's rows against the
    queries probing it as an ordered-fold dot MATRIX (small allocations,
    O(total pair flops)), apply the per-(bucket, query) top-k value-mask
    superset, and return (query_ids, neighbor_ids, cos) arrays to emit.
    A query probing p buckets contributes <= p*k rows per batch — still a
    superset of its true top-k, finished by the JVM window."""
    cn = np.sqrt(ordered_sqnorm(C))
    order = np.argsort(bkt, kind="stable")
    sorted_b = bkt[order]
    bounds = np.flatnonzero(np.diff(sorted_b)) + 1
    out_q: list[np.ndarray] = []
    out_n: list[np.ndarray] = []
    out_c: list[np.ndarray] = []
    for seg in np.split(order, bounds):
        qlist = pm.get(int(bkt[seg[0]]))
        if not qlist:
            continue
        qarr = np.asarray(qlist, dtype=np.int64)
        dots = ordered_dot_matrix(C[seg], Q[qarr])
        # JVM: cosine(qvec, cvec) = dot / (norm(qvec) * norm(cvec))
        cos = dots / (qn[qarr][None, :] * cn[seg][:, None])
        cos[nid[seg][:, None] == qi[qarr][None, :]] = -np.inf
        mask = _topk_value_mask(cos, k)
        rows, qcols = np.nonzero(mask)
        out_q.append(qi[qarr[qcols]])
        out_n.append(nid[seg[rows]])
        out_c.append(cos[rows, qcols])
    return out_q, out_n, out_c


def bucket_cosine_candidates(
    corpus: DataFrame,
    probe_map: dict[int, list[int]],
    q_ids: list[int],
    q_vecs: list[list[float]],
    k: int,
    id_col: str = "neighbor_id",
    vec_col: str = "cvec",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Candidate (query_id, neighbor_id, cos) rows for bucketed ANN paths
    (LSH / IVF): each corpus row is scored against exactly the queries
    whose probe set contains its bucket — the same pair set the JVM
    bucket-equi-join produced, without shuffling or replicating anything.
    Emits per-batch per-query top-k supersets; final ranking in the JVM."""
    spark = corpus.sparkSession
    dim = len(q_vecs[0]) if q_vecs else 0
    qi = np.asarray(q_ids, dtype=np.int64)
    Q = np.asarray(q_vecs, dtype=np.float64)
    qn = np.sqrt(ordered_sqnorm(Q)) if len(q_vecs) else np.zeros(0)
    bc = spark.sparkContext.broadcast((probe_map, qi, Q, qn))
    out_schema = pa.schema(
        [
            pa.field("query_id", pa.int64()),
            pa.field("neighbor_id", pa.int64()),
            pa.field("cos", pa.float64()),
        ]
    )

    def fn(iterator):
        pm, qi_, Q_, qn_ = bc.value
        if len(qi_) == 0:
            return
        for cols in _rebatch(iterator, (id_col, vec_col, bucket_col)):
            nid = cols[id_col].to_numpy(zero_copy_only=False).astype(np.int64)
            bkt = cols[bucket_col].to_numpy(zero_copy_only=False)
            C = _vec_matrix(cols[vec_col], dim)
            oq, on, oc = _bucket_cosine_segments(nid, bkt, C, pm, qi_, Q_, qn_, k)
            if not oq:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(oq), type=pa.int64()),
                    pa.array(np.concatenate(on), type=pa.int64()),
                    pa.array(np.concatenate(oc), type=pa.float64()),
                ],
                schema=out_schema,
            )

    return _spread(corpus.select(id_col, vec_col, bucket_col)).mapInArrow(
        fn, "query_id long, neighbor_id long, cos double"
    )


def cell_scores_raw(
    corpus: DataFrame,
    cents: list[list[float]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id_col, vec_col, sc_raw array<double>) — the UNROUNDED cosine of
    each row against each centroid, in the exact doubles the JVM
    ``cosine`` expression yields. The caller applies the JVM's
    ``F.round(.,4)`` + argmax on top, so the cell-assignment DECISION is
    made by the same engine arithmetic as before."""
    spark = corpus.sparkSession
    CC = np.asarray(cents, dtype=np.float64)
    cn = np.sqrt(ordered_sqnorm(CC))
    dim = CC.shape[1]
    bc = spark.sparkContext.broadcast((CC, cn))
    vec_type = dict(corpus.dtypes)[vec_col]

    def fn(iterator):
        CC_, cn_ = bc.value
        for cols in _rebatch(iterator, (id_col, vec_col)):
            V = _vec_matrix(cols[vec_col], dim)
            vn = np.sqrt(ordered_sqnorm(V))
            dots = ordered_dot_matrix(V, CC_)  # (n, ncent)
            # JVM: cosine(vec, c) = dot / (norm(vec) * norm(c))
            sc = dots / (vn[:, None] * cn_[None, :])
            n, ncent = sc.shape
            offsets = pa.array(
                np.arange(0, (n + 1) * ncent, ncent, dtype=np.int32), pa.int32()
            )
            sc_col = pa.ListArray.from_arrays(
                offsets, pa.array(sc.ravel(), type=pa.float64())
            )
            yield pa.RecordBatch.from_arrays(
                [cols[id_col], cols[vec_col], sc_col],
                names=[id_col, vec_col, "sc_raw"],
            )

    return _spread(corpus.select(id_col, vec_col)).mapInArrow(
        fn, f"{id_col} long, {vec_col} {vec_type}, sc_raw array<double>"
    )


def plane_matrix(bits: int, dim: int, seed: int, mult: int, stride: int) -> np.ndarray:
    """(bits, dim) hyperplane weights — the exact doubles of
    similarity._plane_weight: integer Knuth mix (exact in Python ints),
    then the same two float ops (divide, subtract), each one IEEE
    rounding, identical to the JVM expression."""
    W = np.empty((bits, dim), dtype=np.float64)
    for b in range(bits):
        for i in range(dim):
            h = ((i + 1) * (mult + b * stride) + seed) % 2147483647
            W[b, i] = (h % 2000003) / 1000001.5 - 1.0
    return W


def lsh_bucket_np(V: np.ndarray, W: np.ndarray) -> np.ndarray:
    """Random-hyperplane signatures for rows of V: projection fold in the
    JVM's element order (for each dim j ascending: acc_b += v[j] * w[b,j]),
    bit b set iff proj_b > 0 — a raw-float sign DECISION, identical in any
    IEEE engine, no rounding involved."""
    n, d = V.shape
    bits = W.shape[0]
    proj = np.zeros((n, bits), dtype=np.float64)
    tmp = np.empty((n, bits), dtype=np.float64)
    for j in range(d):
        np.multiply(V[:, j : j + 1], W[None, :, j], out=tmp)
        np.add(proj, tmp, out=proj)
    pow2 = (1 << np.arange(bits, dtype=np.int64))
    return ((proj > 0) * pow2[None, :]).sum(axis=1, dtype=np.int64)


def lsh_bucket_frame(
    corpus: DataFrame,
    bits: int,
    seed: int,
    mult: int,
    stride: int,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """(id, vec, bucket) — the vector-signature row, kernel-computed.
    Bit-identical to the JVM lsh_signature fold (see lsh_bucket_np)."""
    dtypes = dict(corpus.dtypes)
    schema = f"{id_col} long, {vec_col} {dtypes[vec_col]}, bucket long"

    def fn(iterator):
        W = None
        for cols in _rebatch(iterator, (id_col, vec_col)):
            first = cols[vec_col]
            offs = first.offsets.to_numpy(zero_copy_only=False)
            dim = int(offs[1] - offs[0])
            if W is None:
                W = plane_matrix(bits, dim, seed, mult, stride)
            V = _vec_matrix(first, dim)
            bkt = lsh_bucket_np(V, W)
            yield pa.RecordBatch.from_arrays(
                [cols[id_col], cols[vec_col], pa.array(bkt, type=pa.int64())],
                names=[id_col, vec_col, "bucket"],
            )

    return _spread(corpus.select(id_col, vec_col)).mapInArrow(fn, schema)


def lsh_cosine_candidates(
    corpus: DataFrame,
    probe_map: dict[int, list[int]],
    q_ids: list[int],
    q_vecs: list[list[float]],
    k: int,
    bits: int,
    seed: int,
    mult: int,
    stride: int,
    id_col: str = "neighbor_id",
    vec_col: str = "cvec",
) -> DataFrame:
    """Fused LSH ANN pass: per corpus batch, compute each row's signature
    bucket (raw-sign decision, lsh_bucket_np) and score it against exactly
    the queries whose multiprobe set contains that bucket — the same pair
    set the old signature-projection + broadcast bucket-join produced, in
    ONE corpus-linear kernel with no join or corpus-side shuffle at all.
    Emits per-batch per-query top-k candidate supersets (see
    _topk_value_mask); the final window stays JVM."""
    spark = corpus.sparkSession
    dim = len(q_vecs[0]) if q_vecs else 0
    qi = np.asarray(q_ids, dtype=np.int64)
    Q = np.asarray(q_vecs, dtype=np.float64)
    qn = np.sqrt(ordered_sqnorm(Q)) if len(q_vecs) else np.zeros(0)
    bc = spark.sparkContext.broadcast((probe_map, qi, Q, qn))
    out_schema = pa.schema(
        [
            pa.field("query_id", pa.int64()),
            pa.field("neighbor_id", pa.int64()),
            pa.field("cos", pa.float64()),
        ]
    )

    def fn(iterator):
        pm, qi_, Q_, qn_ = bc.value
        if len(qi_) == 0:
            return
        W = plane_matrix(bits, dim, seed, mult, stride)
        for cols in _rebatch(iterator, (id_col, vec_col)):
            nid = cols[id_col].to_numpy(zero_copy_only=False).astype(np.int64)
            C = _vec_matrix(cols[vec_col], dim)
            bkt = lsh_bucket_np(C, W)
            oq, on, oc = _bucket_cosine_segments(nid, bkt, C, pm, qi_, Q_, qn_, k)
            if not oq:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(oq), type=pa.int64()),
                    pa.array(np.concatenate(on), type=pa.int64()),
                    pa.array(np.concatenate(oc), type=pa.float64()),
                ],
                schema=out_schema,
            )

    return _spread(corpus.select(id_col, vec_col)).mapInArrow(
        fn, "query_id long, neighbor_id long, cos double"
    )


def _flat_list_i64(arr: "pa.Array") -> tuple[np.ndarray, np.ndarray]:
    """ListArray<int-like> -> (flat int64 values, int64 offsets rebased
    to 0)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    flat = arr.values.to_numpy(zero_copy_only=False).astype(np.int64)
    flat = flat[offs[0] : offs[-1]]
    return flat, offs - offs[0]


def _segment_min(vals: np.ndarray, offs: np.ndarray, empty_val: int) -> np.ndarray:
    """Per-segment minimum over a ragged layout; empty segments get
    ``empty_val``. Exact integer reduction (order-free: min)."""
    n = len(offs) - 1
    out = np.full(n, empty_val, dtype=np.int64)
    lengths = np.diff(offs)
    ne = lengths > 0
    if ne.any():
        starts = offs[:-1][ne]
        out[ne] = np.minimum.reduceat(vals, starts)
    return out


def minhash_sigs_from_hs(
    hashed: DataFrame,
    a_coef: list[int],
    b_coef: list[int],
    prime: int,
    rows_per_band: int,
    band_mult: int,
) -> DataFrame:
    """(id, toks, sig, bands) from (id, toks, hs): the K-permutation
    min-fold and the banded fold, vectorized. EXACT int64 arithmetic —
    sig[i] = min over tokens of (a_i*h + b_i) mod p (min is order-free;
    a_i,h < p = 2^31-1 so products stay < 2^62), band j folds
    [j, sig[j*r]..] with the band multiplier mod p. Replaces a
    |tokens| x K higher-order zip_with fold per doc; values unchanged."""
    k = len(a_coef)
    n_bands = k // rows_per_band
    dtypes = dict(hashed.dtypes)
    schema = (
        f"id long, toks {dtypes['toks']}, sig array<long>, bands array<long>"
    )
    A = np.asarray(a_coef, dtype=np.int64)
    B = np.asarray(b_coef, dtype=np.int64)

    def fn(iterator):
        for cols in _rebatch(iterator, ("id", "toks", "hs")):
            flat, offs = _flat_list_i64(cols["hs"])
            n = len(offs) - 1
            sig = np.empty((n, k), dtype=np.int64)
            for i in range(k):
                v = (A[i] * flat + B[i]) % prime
                sig[:, i] = _segment_min(v, offs, prime)
            bands = np.empty((n, n_bands), dtype=np.int64)
            for j in range(n_bands):
                acc = np.full(n, j, dtype=np.int64)
                for r in range(rows_per_band):
                    acc = (acc * band_mult + sig[:, j * rows_per_band + r]) % prime
                bands[:, j] = acc
            sig_off = pa.array(
                np.arange(0, (n + 1) * k, k, dtype=np.int32), pa.int32()
            )
            band_off = pa.array(
                np.arange(0, (n + 1) * n_bands, n_bands, dtype=np.int32),
                pa.int32(),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    cols["id"],
                    cols["toks"],
                    pa.ListArray.from_arrays(
                        sig_off, pa.array(sig.ravel(), type=pa.int64())
                    ),
                    pa.ListArray.from_arrays(
                        band_off, pa.array(bands.ravel(), type=pa.int64())
                    ),
                ],
                names=["id", "toks", "sig", "bands"],
            )

    return _spread(hashed.select("id", "toks", "hs")).mapInArrow(fn, schema)


def simhash_from_hs(hashed: DataFrame, sim_bits: int) -> DataFrame:
    """(id, simhash) from (id, hs): per-bit +-1 vote sums then bit set iff
    vote > 0 — exact integer arithmetic, order-free sums. Replaces the
    |tokens| x 62 zip_with vote fold per doc; values unchanged."""

    def fn(iterator):
        for cols in _rebatch(iterator, ("id", "hs")):
            flat, offs = _flat_list_i64(cols["hs"])
            n = len(offs) - 1
            sig = np.zeros(n, dtype=np.int64)
            starts = offs[:-1]
            lengths = np.diff(offs)
            ne = lengths > 0
            for b in range(sim_bits):
                votes_tok = np.where(flat & (1 << b), 1, -1).astype(np.int64)
                vsum = np.zeros(n, dtype=np.int64)
                if ne.any():
                    vsum[ne] = np.add.reduceat(votes_tok, starts[ne])
                sig |= np.where(vsum > 0, np.int64(1 << b), np.int64(0))
            yield pa.RecordBatch.from_arrays(
                [cols["id"], pa.array(sig, type=pa.int64())],
                names=["id", "simhash"],
            )

    return _spread(hashed.select("id", "hs")).mapInArrow(fn, "id long, simhash long")


def _struct_members(col):
    """ListArray<struct> column -> (outer offsets rebased to 0, StructArray
    child restricted to the outer range)."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    oo = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    structs = col.values
    if oo[0] != 0 or len(structs) != oo[-1]:
        structs = structs.slice(oo[0], oo[-1] - oo[0])
    return oo - oo[0], structs


def bucket_pair_sig_matches(
    rows: DataFrame,
    k_sig: int,
    id_col: str = "id",
    sig_col: str = "sig",
    bucket_col: str = "bh",
    flag_col: str | None = None,
) -> DataFrame:
    """(id_a, id_b, matching) for every same-bucket unordered pair
    (id_a < id_b), where ``matching`` = count of equal MinHash signature
    components — EXACT integers, the same value the zip_with fold
    computed after the old self-join + distinct + two signature attach
    joins. A pair sharing several band buckets is emitted once per
    bucket with the SAME matching value; the caller's distinct()
    collapses them. The est-threshold DECISION (ROUND(matching/K, 4) >=
    min_est) stays a JVM filter.

    With ``flag_col`` (the incremental path's is_new) only pairs with at
    least one flagged side are emitted, and each side's flag rides along
    as (new_a, new_b).

    Co-location is SEMANTIC, not physical: each bucket's members are
    gathered by a real groupBy/collect_list aggregation (bounded by the
    caller's bucket cap), so the kernel is immune to physical-layout
    rewrites — AQE's local shuffle reader was observed serving a
    repartition(bucket) mapper-aligned, silently splitting buckets
    across tasks in an earlier repartition+sort formulation. Singleton
    buckets (the vast majority) are dropped by a JVM size filter before
    any Python is involved."""
    member = [F.col(id_col).alias("_mid"), F.col(sig_col).alias("_msig")]
    if flag_col:
        member.append(F.col(flag_col).alias("_mflag"))
    grouped = (
        rows.groupBy(bucket_col)
        .agg(F.collect_list(F.struct(*member)).alias("_members"))
        .filter(F.size("_members") >= 2)
    )
    fields = [
        pa.field("id_a", pa.int64()),
        pa.field("id_b", pa.int64()),
        pa.field("matching", pa.int32()),
    ]
    schema_str = "id_a long, id_b long, matching int"
    if flag_col:
        fields += [pa.field("new_a", pa.bool_()), pa.field("new_b", pa.bool_())]
        schema_str += ", new_a boolean, new_b boolean"
    out_schema = pa.schema(fields)

    def fn(iterator):
        for cols in _rebatch(iterator, ("_members",)):
            oo, structs = _struct_members(cols["_members"])
            nid = structs.field("_mid").to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            flat, _so = _flat_list_i64(structs.field("_msig"))
            S = flat.reshape(len(nid), k_sig)
            flags = (
                structs.field("_mflag")
                .to_numpy(zero_copy_only=False)
                .astype(bool)
                if flag_col
                else None
            )
            out_cols: list[list[np.ndarray]] = [[] for _ in fields]
            for b in range(len(oo) - 1):
                seg = np.arange(oo[b], oo[b + 1])
                n = len(seg)
                if n < 2:
                    continue
                seg = seg[np.argsort(nid[seg], kind="stable")]
                Ssub = S[seg]
                iu, ju = np.triu_indices(n, k=1)
                if flags is not None:
                    fl = flags[seg]
                    keep = fl[iu] | fl[ju]
                    iu, ju = iu[keep], ju[keep]
                    if not len(iu):
                        continue
                m = (Ssub[iu] == Ssub[ju]).sum(axis=1).astype(np.int32)
                out_cols[0].append(nid[seg[iu]])
                out_cols[1].append(nid[seg[ju]])
                out_cols[2].append(m)
                if flags is not None:
                    fl = flags[seg]
                    out_cols[3].append(fl[iu])
                    out_cols[4].append(fl[ju])
            if not out_cols[0]:
                continue
            arrays = [
                pa.array(np.concatenate(vals), type=f.type)
                for vals, f in zip(out_cols, fields)
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)

    return grouped.select("_members").mapInArrow(fn, schema_str)


def bucket_pair_cos(
    sigs: DataFrame,
    id_col: str = "id",
    vec_col: str = "vec",
    bucket_col: str = "bucket",
    flag_col: str | None = None,
) -> DataFrame:
    """(id_a, id_b, cos) for every same-bucket unordered pair (id_a <
    id_b), cos the bit-exact JVM-fold double — the kernel replacement for
    the LSH-blocked self-join + per-pair HOF cosine of the near-dup
    operators. With ``flag_col`` (incremental mode) only pairs with at
    least one flagged side are emitted. The threshold DECISION
    (ROUND(cos,4) >= t) stays a JVM filter on top.

    Co-location is SEMANTIC (groupBy/collect_list per bucket, bounded by
    the caller's bucket cap) — immune to physical-layout rewrites such
    as AQE's local shuffle reader, which broke an earlier
    repartition+sort formulation. Singleton buckets are dropped by a JVM
    size filter before any Python runs."""
    member = [F.col(id_col).alias("_mid"), F.col(vec_col).alias("_mvec")]
    if flag_col:
        member.append(F.col(flag_col).alias("_mflag"))
    grouped = (
        sigs.groupBy(bucket_col)
        .agg(F.collect_list(F.struct(*member)).alias("_members"))
        .filter(F.size("_members") >= 2)
    )
    out_schema = pa.schema(
        [
            pa.field("id_a", pa.int64()),
            pa.field("id_b", pa.int64()),
            pa.field("cos", pa.float64()),
        ]
    )

    def fn(iterator):
        for cols in _rebatch(iterator, ("_members",)):
            oo, structs = _struct_members(cols["_members"])
            nid = structs.field("_mid").to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            varr = structs.field("_mvec")
            if isinstance(varr, pa.ChunkedArray):
                varr = varr.combine_chunks()
            voffs = varr.offsets.to_numpy(zero_copy_only=False)
            dim = int(voffs[1] - voffs[0]) if len(voffs) > 1 else 0
            V = _vec_matrix(varr, dim)
            flags = (
                structs.field("_mflag")
                .to_numpy(zero_copy_only=False)
                .astype(bool)
                if flag_col
                else None
            )
            out_a: list[np.ndarray] = []
            out_b: list[np.ndarray] = []
            out_c: list[np.ndarray] = []
            for b in range(len(oo) - 1):
                seg = np.arange(oo[b], oo[b + 1])
                n = len(seg)
                if n < 2:
                    continue
                # order by id so pair (i, j), i<j has id_a < id_b
                seg = seg[np.argsort(nid[seg], kind="stable")]
                Csub = V[seg]
                cn = np.sqrt(ordered_sqnorm(Csub))
                dots = ordered_dot_matrix(Csub, Csub)
                cos = dots / (cn[:, None] * cn[None, :])
                iu, ju = np.triu_indices(n, k=1)
                if flags is not None:
                    fl = flags[seg]
                    keep = fl[iu] | fl[ju]
                    iu, ju = iu[keep], ju[keep]
                if not len(iu):
                    continue
                out_a.append(nid[seg[iu]])
                out_b.append(nid[seg[ju]])
                out_c.append(cos[iu, ju])
            if not out_a:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_a), type=pa.int64()),
                    pa.array(np.concatenate(out_b), type=pa.int64()),
                    pa.array(np.concatenate(out_c), type=pa.float64()),
                ],
                schema=out_schema,
            )

    return grouped.select("_members").mapInArrow(
        fn, "id_a long, id_b long, cos double"
    )


def pq_ds_raw(
    corpus: DataFrame,
    cb_vecs: list[list[list[float]]],
    m: int,
    dsub: int,
    id_col: str,
    vec_col: str,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id_col, [keep_cols...,] ds_raw array<array<double>>) — the
    UNROUNDED fixed-point distance table ``s * PQ_SCALE`` of each row's
    subspace j against codebook entry c, in the exact doubles the JVM
    ``_pq_sqd_q`` fold yields (diff, square, add — one rounding each, in
    element order; then one multiply by the scale). The caller applies the
    JVM ``F.round(...)`` + argmin on top, so the CODE decision is made by
    the same engine arithmetic as before."""
    spark = corpus.sparkSession
    CB = np.asarray(cb_vecs, dtype=np.float64)  # (m, ksub, dsub)
    ksub = CB.shape[1]
    bc = spark.sparkContext.broadcast(CB)
    dtypes = dict(corpus.dtypes)
    in_cols = (id_col, vec_col) + tuple(keep_cols)
    out_cols = (id_col,) + tuple(keep_cols)
    schema = ", ".join(f"{c} {dtypes[c]}" for c in out_cols)
    schema += ", ds_raw array<array<double>>"

    def fn(iterator):
        CB_ = bc.value
        scale = 10000.0
        for cols in _rebatch(iterator, in_cols):
            V = _vec_matrix(cols[vec_col], m * dsub)
            n = V.shape[0]
            ds = np.empty((n, m, ksub), dtype=np.float64)
            for j in range(m):
                sub = V[:, j * dsub : (j + 1) * dsub]
                for c in range(ksub):
                    acc = np.zeros(n, dtype=np.float64)
                    for d in range(dsub):
                        diff = sub[:, d] - CB_[j, c, d]
                        acc += diff * diff
                    ds[:, j, c] = acc * scale
            inner_off = pa.array(
                np.arange(0, (n * m + 1) * ksub, ksub, dtype=np.int32), pa.int32()
            )
            inner = pa.ListArray.from_arrays(
                inner_off, pa.array(ds.ravel(), type=pa.float64())
            )
            outer_off = pa.array(
                np.arange(0, (n + 1) * m, m, dtype=np.int32), pa.int32()
            )
            ds_col = pa.ListArray.from_arrays(outer_off, inner)
            yield pa.RecordBatch.from_arrays(
                [cols[c] for c in out_cols] + [ds_col],
                names=list(out_cols) + ["ds_raw"],
            )

    return _spread(corpus.select(*in_cols)).mapInArrow(fn, schema)


def adc_candidates(
    codes: DataFrame,
    q_ids: list[int],
    q_tables: list[list[list[int]]],
    k: int,
    m: int,
    id_col: str = "neighbor_id",
    codes_col: str = "codes",
    bucket_probes: dict[int, list[int]] | None = None,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Candidate (query_id, neighbor_id, adist_q) rows for the PQ ADC
    paths: adist = sum_j dt[j][codes[j]] — EXACT int64 arithmetic, so no
    float portability concern at all. With ``bucket_probes`` the pair set
    is restricted to probed cells (the IVF-PQ composition); final ranking
    (adist asc, neighbor_id asc) stays in the JVM window."""
    spark = codes.sparkSession
    qi = np.asarray(q_ids, dtype=np.int64)
    # dt[q, j, c]
    DT = np.asarray(q_tables, dtype=np.int64)
    bc = spark.sparkContext.broadcast((qi, DT, bucket_probes))
    sel_cols = [id_col, codes_col] + ([bucket_col] if bucket_probes is not None else [])
    out_schema = pa.schema(
        [
            pa.field("query_id", pa.int64()),
            pa.field("neighbor_id", pa.int64()),
            pa.field("adist_q", pa.int64()),
        ]
    )

    def fn(iterator):
        qi_, DT_, probes = bc.value
        nq = len(qi_)
        if nq == 0:
            return
        for cols in _rebatch(iterator, tuple(sel_cols)):
            nid = cols[id_col].to_numpy(zero_copy_only=False).astype(np.int64)
            codes_arr = cols[codes_col]
            if isinstance(codes_arr, pa.ChunkedArray):
                codes_arr = codes_arr.combine_chunks()
            offs = codes_arr.offsets.to_numpy(zero_copy_only=False)
            flat = codes_arr.values.to_numpy(zero_copy_only=False)
            if codes_arr.offset != 0 or len(flat) != len(codes_arr) * m:
                flat = flat[offs[0] : offs[-1]]
            CD = flat.astype(np.int64).reshape(len(codes_arr), m) - 1  # 1-based codes
            nc = len(nid)
            if probes is None:
                # dense (nc, nq) ADC: sum over j of DT[q, j, CD[i, j]]
                acc = np.zeros((nc, nq), dtype=np.int64)
                for j in range(m):
                    acc += DT_[:, j, :][:, CD[:, j]].T  # (nc, nq)
                self_mask = nid[:, None] == qi_[None, :]
                big = np.iinfo(np.int64).max
                acc_m = np.where(self_mask, big, acc)
                if nc <= k:
                    mask = ~self_mask
                else:
                    kth = np.partition(acc_m, k - 1, axis=0)[k - 1]
                    mask = (acc_m <= kth[None, :]) & ~self_mask
                rows, qcols = np.nonzero(mask)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(qi_[qcols], type=pa.int64()),
                        pa.array(nid[rows], type=pa.int64()),
                        pa.array(acc[rows, qcols], type=pa.int64()),
                    ],
                    schema=out_schema,
                )
            else:
                bkt = cols[bucket_col].to_numpy(zero_copy_only=False)
                order = np.argsort(bkt, kind="stable")
                bounds = np.flatnonzero(np.diff(bkt[order])) + 1
                out_q: list[np.ndarray] = []
                out_n: list[np.ndarray] = []
                out_a: list[np.ndarray] = []
                big = np.iinfo(np.int64).max
                for seg in np.split(order, bounds):
                    qlist = probes.get(int(bkt[seg[0]]))
                    if not qlist:
                        continue
                    qarr = np.asarray(qlist, dtype=np.int64)
                    sub = CD[seg]
                    acc = np.zeros((len(seg), len(qarr)), dtype=np.int64)
                    for j in range(m):
                        acc += DT_[qarr, j, :][:, sub[:, j]].T
                    self_mask = nid[seg][:, None] == qi_[qarr][None, :]
                    acc_m = np.where(self_mask, big, acc)
                    if len(seg) <= k:
                        mask = ~self_mask
                    else:
                        kth = np.partition(acc_m, k - 1, axis=0)[k - 1]
                        mask = (acc_m <= kth[None, :]) & ~self_mask
                    rows, qcols = np.nonzero(mask)
                    out_q.append(qi_[qarr[qcols]])
                    out_n.append(nid[seg[rows]])
                    out_a.append(acc[rows, qcols])
                if not out_q:
                    continue
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(out_q), type=pa.int64()),
                        pa.array(np.concatenate(out_n), type=pa.int64()),
                        pa.array(np.concatenate(out_a), type=pa.int64()),
                    ],
                    schema=out_schema,
                )

    return _spread(codes.select(*sel_cols)).mapInArrow(
        fn, "query_id long, neighbor_id long, adist_q long"
    )
