"""URL canonicalization + URL-level dedup — the front door of a web-crawl
training pipeline (CommonCrawl-style): before any content-based dedup runs,
collapse the same page fetched under cosmetically different URLs.

Canonicalization rules (the standard crawl set, applied in order):
  1. scheme and host lowercased;
  2. a leading ``www.`` host label dropped;
  3. default ports dropped (``:80`` for http, ``:443`` for https); other
     explicit ports kept — they address different origins;
  4. trailing slashes trimmed from the path (root stays ``/``);
  5. tracking query params dropped (``utm_*`` and ``ref``), the remainder
     sorted lexicographically so param order never splits a page;
  6. the fragment dropped (never sent to the server).

Everything is built-in column expressions (regexp_extract / split / filter /
array_sort / array_join) — whole-stage codegen end-to-end, no Python. Each
rule is mirrored token-for-token in the DuckDB twin in queries.py.

Scale shape: canonicalization is a narrow map (no shuffle); the dedup
keep-decision is one map-side-combined groupBy on the canonical string. At
10^12 docs the canonical-URL key space is near-unique (dup clusters are
small), so the aggregate carries no skew hazard — the hot-key case is a
mirror farm, bounded by the crawler's per-host politeness caps.

The documents testdata carries no URL column, so ``synth_urls`` derives a
deterministic messy URL per doc_id (mixed-case host, default/explicit
ports, tracking params in varying order, trailing slashes, fragments) —
same move as the media-synthesis the extraction family tests on; the twin
re-derives it with identical SQL arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TRACKING_PREFIXES = ("utm_", "ref=")


def synth_url(doc_id: Column) -> Column:
    """Deterministic messy URL for a doc_id (test/bench substrate).

    Collisions are engineered: host uses doc_id % 50, path and the id param
    use doc_id % 100, so every ~100 ids revisit the same logical page under
    different cosmetic noise (case, www, ports, utm/ref params, trailing
    slash, fragment) — exactly what the canonicalizer must collapse.
    """
    scheme = F.when(doc_id % 2 == 0, F.lit("https")).otherwise(F.lit("HTTP"))
    www = F.when(doc_id % 3 == 0, F.lit("WWW.")).otherwise(F.lit(""))
    host = F.concat(www, F.lit("Site"), (doc_id % 50).cast("string"), F.lit(".Example.COM"))
    port = (
        F.when(doc_id % 7 == 0, F.when(doc_id % 2 == 0, F.lit(":443")).otherwise(F.lit(":80")))
        .when(doc_id % 7 == 1, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    slash = F.when(doc_id % 5 == 0, F.lit("/")).otherwise(F.lit(""))
    path = F.concat(F.lit("/Articles/item-"), (doc_id % 100).cast("string"), slash)
    idp = F.concat(F.lit("id="), (doc_id % 100).cast("string"))
    query = (
        F.when(doc_id % 2 == 0, F.concat(F.lit("?utm_source=feed&"), idp))
        .when(doc_id % 4 == 1, F.concat(F.lit("?"), idp, F.lit("&ref=tw")))
        .otherwise(F.concat(F.lit("?"), idp))
    )
    frag = F.when(doc_id % 6 == 0, F.lit("#Section-2")).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, port, path, query, frag)


def canonicalize_url(url: Column) -> Column:
    """Canonical form of an absolute http(s) URL per the module rules."""
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z]+)://", 1))
    hostport = F.regexp_extract(url, r"^[A-Za-z]+://([^/?#]+)", 1)
    host = F.regexp_replace(
        F.lower(F.regexp_extract(hostport, r"^([^:]+)", 1)), r"^www\.", ""
    )
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    keep_port = (
        (port != "")
        & ~((scheme == "http") & (port == "80"))
        & ~((scheme == "https") & (port == "443"))
    )
    port_part = F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit(""))
    raw_path = F.regexp_extract(url, r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    trimmed = F.regexp_replace(raw_path, r"/+$", "")
    path = F.when(trimmed == "", F.lit("/")).otherwise(trimmed)
    qs = F.regexp_extract(url, r"\?([^#]*)", 1)
    params = F.filter(
        F.split(qs, "&"),
        lambda p: (p != "")
        & ~p.startswith(TRACKING_PREFIXES[0])
        & ~p.startswith(TRACKING_PREFIXES[1]),
    )
    joined = F.array_join(F.array_sort(params), "&")
    q_part = F.when(joined != "", F.concat(F.lit("?"), joined)).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, port_part, path, q_part)


def url_dedup(df: DataFrame, url_col: str = "url", id_col: str = "doc_id") -> DataFrame:
    """Keep-oldest-per-canonical-URL decision: one row per canonical URL
    with the kept doc_id (min) and the collapsed fetch count. Mirrors the
    content-dedup families' keep-min-id convention so downstream joins
    compose."""
    return (
        df.select(F.col(id_col).alias("doc_id"), canonicalize_url(F.col(url_col)).alias("canon_url"))
        .groupBy("canon_url")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_fetches"))
    )


def url_frontier_dedup(
    new_df: DataFrame,
    prior_df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    m_bits: int | None = None,
    k: int | None = None,
) -> DataFrame:
    """Crawl-frontier URL dedup: ``(id, keep)`` per NEW fetch — fetched
    iff its canonical URL was never seen in the prior corpus and it is
    the oldest new fetch of that URL. The textbook Bloom deployment: a
    broadcast bitmap of the seen URLs prefilters the slice, so the exact
    confirm join against the seen table is probed only with the
    bloom-positive sliver; its build side is still every seen URL hash
    (operators.dedup.bloom_gated_keep — the same keep rule as content
    dedup, keyed on md5(canonical URL); answers exact at any
    false-positive rate)."""
    from .dedup import BLOOM_K, BLOOM_M_BITS, bloom_gated_keep

    def keyed(df):
        return df.select(
            F.col(id_col).alias("id"),
            F.md5(canonicalize_url(F.col(url_col))).alias("h"),
        )

    return bloom_gated_keep(
        keyed(new_df),
        keyed(prior_df).select("h"),
        m_bits or BLOOM_M_BITS,
        k or BLOOM_K,
    )
