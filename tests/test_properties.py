"""Property-based spot checks (SURVEY.md §5 item 4) — pure-Python level so
hypothesis can iterate fast (the Spark plumbing is covered by e2e tests)."""

from hypothesis import example, given, settings
from hypothesis import strategies as st

from chapterbridge_ocr_worker_spark.engine.inner import (
    bbox_bounds,
    bbox_iou,
    deduplicate_lines,
    tile_spans,
)

boxes = st.tuples(
    st.floats(0, 1000), st.floats(0, 1000), st.floats(1, 200), st.floats(1, 60)
).map(lambda t: [[t[0], t[1]], [t[0] + t[2], t[1]], [t[0] + t[2], t[1] + t[3]], [t[0], t[1] + t[3]]])

lines = st.lists(
    st.builds(
        lambda b, c, t: {"bbox": b, "confidence": round(c, 4), "text": t},
        boxes,
        st.floats(0.3, 1.0),
        st.sampled_from(["alpha beta", "gamma delta", "epsilon zeta"]),
    ),
    max_size=12,
)


@given(lines)
@settings(max_examples=50, deadline=None)
def test_dedup_idempotent(ls):
    once = deduplicate_lines(ls)
    twice = deduplicate_lines(once)
    assert twice == once


@given(lines)
@settings(max_examples=50, deadline=None)
def test_dedup_never_grows_and_keeps_subset(ls):
    out = deduplicate_lines(ls)
    assert len(out) <= len(ls)
    for line in out:
        assert line in ls


@given(st.integers(1, 50000), st.integers(100, 3000), st.integers(0, 99))
@settings(max_examples=100, deadline=None)
def test_tile_spans_cover_image(height, tile, overlap):
    overlap = min(overlap, tile - 1)  # overlap < tile or the loop can't advance
    bands = tile_spans(height, tile, overlap)
    assert bands[0][0] == 0
    assert bands[-1][1] == height
    for (a0, a1), (b0, b1) in zip(bands, bands[1:]):
        assert b0 <= a1  # contiguous (equality when overlap=0): no gaps
    for y0, y1 in bands:
        assert y1 - y0 <= tile


@given(boxes, boxes)
@settings(max_examples=100, deadline=None)
def test_iou_bounds_and_symmetry(b1, b2):
    v = bbox_iou(b1, b2)
    assert 0.0 <= v <= 1.0 + 1e-9
    assert abs(v - bbox_iou(b2, b1)) < 1e-9
    assert bbox_iou(b1, b1) == 1.0


@given(lines)
@settings(max_examples=50, deadline=None)
def test_reading_order_is_total_and_stable(ls):
    ordered = sorted(
        ls, key=lambda l: (bbox_bounds(l["bbox"])[1], bbox_bounds(l["bbox"])[0])
    )
    assert sorted(
        ordered, key=lambda l: (bbox_bounds(l["bbox"])[1], bbox_bounds(l["bbox"])[0])
    ) == ordered


# --- portable-hash determinism: the cross-engine dedup foundation ----------
# One property pins all three implementations to the same function: the
# Spark column expression (dedup.portable_token_hash), the DuckDB twin
# (queries._phash_sql), and this reference fold.


def _phash_py(tok: str, mult: int = 31, p: int = 2_147_483_647) -> int:
    acc = 0
    for ch in tok:
        acc = (acc * mult + ord(ch)) % p
    return acc


@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",),  # no lone surrogates
                min_codepoint=1,
            ),
            min_size=1,
            max_size=24,
        ),
        min_size=1,
        max_size=8,
        unique=True,
    )
)
@settings(max_examples=12, deadline=None)
def test_portable_hash_matches_python_and_duckdb(tokens):
    import duckdb

    from chapterbridge_ocr_worker_spark.queries import _phash_sql

    expected = [_phash_py(t) for t in tokens]
    con = duckdb.connect()
    got_duck = [
        con.execute(f"SELECT {_phash_sql('?::VARCHAR')}", [t]).fetchone()[0]
        for t in tokens
    ]
    assert got_duck == expected


def test_portable_hash_matches_spark(spark):
    from pyspark.sql import functions as F

    from chapterbridge_ocr_worker_spark.operators.dedup import portable_token_hash

    toks = ["hello", "héllo", "世界", "mixed 空白", "a'b\"c", "x" * 24, "0"]
    df = spark.createDataFrame([(t,) for t in toks], ["t"])
    got = [
        r["h"] for r in df.select(portable_token_hash(F.col("t")).alias("h")).collect()
    ]
    assert got == [_phash_py(t) for t in toks]


# ---------------------------------------------------------------------------
# connected components == union-find on random graphs
# ---------------------------------------------------------------------------

_edges_strategy = st.lists(
    st.tuples(st.integers(0, 14), st.integers(0, 14)),
    min_size=0,
    max_size=25,
)


@given(_edges_strategy)
@settings(max_examples=8, deadline=None)  # each example runs Spark jobs
def test_connected_components_matches_union_find(spark, edge_list):
    from pyspark.sql import functions as F

    from chapterbridge_ocr_worker_spark.operators.dedup import connected_components

    edge_list = [(a, b) for a, b in edge_list if a != b]
    n = 15
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: find(i) for i in range(n)}

    nodes = spark.range(n).select(F.col("id").cast("int").alias("id"))
    if edge_list:
        edges = spark.createDataFrame(edge_list, ["id_a", "id_b"])
    else:
        edges = nodes.select(
            F.col("id").alias("id_a"), F.col("id").alias("id_b")
        ).limit(0)
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(edges, nodes).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# incremental dedup == full recompute on random dup-heavy corpora
# ---------------------------------------------------------------------------

# texts drawn from a 6-word pool of 5-word sentences: heavy overlap, so the
# jaccard graph is dense and chains/merges across the split boundary happen
_texts_strategy = st.lists(
    st.lists(st.sampled_from("alpha beta gamma delta epsilon zeta".split()),
             min_size=3, max_size=6).map(" ".join),
    min_size=4,
    max_size=14,
)


@given(_texts_strategy, st.integers(0, 12))
@example(
    texts=["alpha beta gamma", "alpha beta gamma delta", "beta gamma delta",
           "zeta epsilon zeta", "alpha beta gamma"],
    cut=0,
)
@example(
    texts=["alpha beta gamma delta", "alpha beta gamma delta", "zeta epsilon zeta",
           "beta gamma delta"],
    cut=1,
)
@settings(max_examples=6, deadline=None)  # each example runs two pipelines
def test_incremental_dedup_matches_full_on_random_corpora(spark, texts, cut):
    """The documented equivalence regime, pinned property-style: for ANY
    corpus with crawl-ordered ids (caps never reached at this size), the
    incremental keep set for the new slice, and the cluster label of every
    row (new docs and the prior docs the closure relabeled), equal the
    full-union recompute. Prior rows keep (frozen prior). The dense
    tiny-vocab corpora drive chained merges across the split boundary —
    the hard case. cut=0 is an empty prior: the dedup job's first run,
    which must equal a full dedup; the cut=1 example puts a prior doc in
    the output."""
    from chapterbridge_ocr_worker_spark.operators.dedup import (
        incremental_dedup,
        jaccard_keep,
        minhash_signatures,
        neardup_clusters,
    )

    cut = min(cut, len(texts) - 1)
    rows = [(i, t) for i, t in enumerate(texts)]
    all_docs = spark.createDataFrame(rows, ["doc_id", "text"])
    prior = all_docs.filter(f"doc_id < {cut}")
    new = all_docs.filter(f"doc_id >= {cut}")

    inc = {
        r["id"]: (r["keep"], r["cluster_id"])
        for r in incremental_dedup(
            minhash_signatures(new),
            minhash_signatures(prior),
            neardup_clusters(prior, 0.6),
            threshold=0.6,
        ).collect()
    }
    full_keep = {r["id"] for r in jaccard_keep(all_docs, 0.6).collect()}
    full_labels = {
        r["id"]: r["cluster_id"]
        for r in neardup_clusters(all_docs, 0.6).collect()
    }
    assert set(inc) >= {i for i, _ in rows if i >= cut}
    for i, (keep, label) in inc.items():
        if i < cut:
            assert keep == 1, (i, texts, cut)
        else:
            assert (keep == 1) == (i in full_keep), (i, texts, cut)
        assert label == full_labels[i], (i, texts, cut)
