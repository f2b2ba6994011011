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

Every tracked persist is MEMORY_AND_DISK: partitions that do not fit in
executor memory spill to local disk instead of being recomputed.

The jobs' reliable checkpoint dirs have the same problem (Spark never
deletes them); ``reliable_checkpoints`` owns their lifetime.
"""

from __future__ import annotations

import contextlib
import os
import warnings

from pyspark.sql import DataFrame

_LIVE: list[DataFrame] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    """persist() at MEMORY_AND_DISK with the module-tracked lifetime."""
    from pyspark import StorageLevel

    out = df.persist(StorageLevel.MEMORY_AND_DISK)
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


@contextlib.contextmanager
def reliable_checkpoints(spark, root: str):
    """Reliable checkpoints under ``<root>/_checkpoints`` for the body of
    the ``with``: with a checkpoint dir set, connected_components and the
    incremental dedup's pair stage checkpoint reliably (recoverable on
    executor loss) instead of locally. Spark makes a fresh ``<uuid>/`` dir
    there per setCheckpointDir call and never deletes it; it is removed
    when the body ends, on success or failure. A failed removal only
    warns, so the body's own exception is the one that propagates.

    Spark cannot unset a checkpoint dir, so the session still points at
    the removed dir after the block: nothing in the session may
    checkpoint after it (a later connected_components would recreate the
    dir and leave it behind). Each job puts all of its checkpointing work
    inside the block."""
    sc = spark.sparkContext
    sc.setCheckpointDir(os.path.join(root, "_checkpoints"))
    try:
        yield
    finally:
        run_dir = sc.getCheckpointDir()
        try:
            path = sc._jvm.org.apache.hadoop.fs.Path(run_dir)
            path.getFileSystem(sc._jsc.hadoopConfiguration()).delete(path, True)
        except Exception as e:
            warnings.warn(f"checkpoint dir {run_dir} not removed: {e}")
