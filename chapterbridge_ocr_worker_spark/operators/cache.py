"""Cache lifetime registry for operators that persist intermediates.

The LSH pair operators (dedup.py, similarity.py) persist their signature
tables because the plan has up to five consumers — without the barrier each
consumer re-runs the whole signature computation (measured 120 s+ vs ~5 s at
sf0.1). But the operators return LAZY DataFrames, so they cannot unpersist
after "their" action: the caller owns the lifetime. In a long-lived driver,
repeated calls would otherwise leak executor storage.

This module is that ownership hook: every internal persist registers here,
and callers (bench sweeps, long-running jobs) call ``release_caches()``
between logical units of work. ``spark.catalog.clearCache()`` also works but
is a blunt instrument — it drops caches the caller created too.

Storage level is configurable through the ``SPARK_GRAFT_SIG_STORAGE`` env
var (a ``pyspark.StorageLevel`` name): MEMORY_AND_DISK default; DISK_ONLY
removes the memory-pressure failure mode on very dup-heavy corpora at the
cost of re-read I/O. At extreme scale write the signature table out as a
real table instead (see dedup._est_pairs docstring).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

_LIVE: list[DataFrame] = []

DEFAULT_STORAGE = "MEMORY_AND_DISK"


def persist_tracked(df: DataFrame) -> DataFrame:
    """persist() with the module-tracked lifetime + configurable level."""
    from pyspark import StorageLevel

    name = os.environ.get("SPARK_GRAFT_SIG_STORAGE") or DEFAULT_STORAGE
    out = df.persist(getattr(StorageLevel, name))
    _LIVE.append(out)
    return out


def release_caches() -> int:
    """Unpersist every operator-internal cache registered since the last
    release. Safe to call at any time (lazy plans recompute); returns the
    number of caches released."""
    n = 0
    while _LIVE:
        try:
            _LIVE.pop().unpersist()
            n += 1
        except Exception:
            pass  # session already stopped; nothing to release
    return n
