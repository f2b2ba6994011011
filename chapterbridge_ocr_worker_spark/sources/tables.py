"""Table IO layer — parquet-backed here, Iceberg in production.

Production target is an Iceberg catalog (`df.writeTo(...).append()`,
snapshot isolation for resume — SURVEY.md §1.1). The Iceberg runtime jar
isn't in this container, so the same interface is backed by parquet
directories; every call site goes through this module, making the swap a
one-file change.

A table dir is one of two things:
- a MANIFEST TABLE (append_snapshot(s), compaction, rollback): its
  ``_live_snapshots.json`` manifest is the only record of its snapshots.
  A snapshot dir the manifest does not list (a failed or crashed commit's)
  is no part of the table, and the next compaction deletes it. A table
  with no manifest yet has no snapshots;
- a PLAIN DIR (write_table: the jobs' ``--out`` files, IVF centroids, PQ
  codebooks, search stats): parquet files overwritten as a whole and read
  as one dir. It takes no snapshots: a commit to it raises.

Scale notes baked in:
- documents/media/output are written partitioned or bucketed by hash of the
  key they're joined/grouped on, so re-reads co-locate;
- appends use unique subdirectories per job run (Iceberg snapshot analogue)
  so a killed job never corrupts previous commits — resume reads the union;
- every commit (append, compaction, rollback) goes through ``_commit``: one
  read-modify-write of the table's ``_live_snapshots.json`` manifest under
  a lock, published by one atomic swap (the Iceberg metadata-pointer swap).
  That swap is the commit point; every reader resolves the live snapshot
  directories through ``_live_dirs``;
- every snapshot write is two phases, stage then publish (Iceberg writes
  the data files, then swaps the metadata pointer). Stage (``_stage``)
  writes the rows into a dot-prefixed ``.inflight-*`` dir that no reader
  or listing sees. Publish (``_publish``) is one ``_commit`` that
  names the snapshot ``snap-<commit millis>-<hex>`` at that moment, under
  the lock, and renames it into place, so names follow publish order. A
  multi-table commit (``append_snapshots``: write_run, the weekly jobs)
  stages all its tables concurrently and publishes them in its order only
  after every stage succeeded: a failure while staging publishes nothing,
  and its in-flight dirs are removed by a compaction 1 h later;
- every write sizes its files by BYTES: it goes through one AQE rebalance
  (`df.hint("rebalance")`), so a few hundred rows land in one file however
  many upstream tasks produced them (the Iceberg requested-distribution +
  advisory-size write). The one exception is an append whose caller laid
  out its own files and asks for per-file stats (``file_stats_cols``, as
  write_table_zordered does): a rebalance would scatter that layout;
- each snapshot's row count is observed in the write itself and recorded
  in the manifest as ``record_count`` (Iceberg's per-file record_count), so
  row_count answers a table's size from metadata.

The weekly jobs' resume / rollback / commit / compaction protocol that
runs on these calls is operators.resume.weekly_run.
"""

from __future__ import annotations

import functools
import os
import time
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession


def table_path(root: str, name: str) -> str:
    return os.path.join(root, name)


_MANIFEST = "_live_snapshots.json"
_MANIFEST_LOCK = "_manifest.lock"
# manifest entries keyed by snapshot name: they cover exactly the live ones
_PER_SNAPSHOT = ("record_count", "column_stats", "file_stats")


def _manifest_path(path: str) -> str:
    return os.path.join(path, _MANIFEST)


def _read_manifest(path: str) -> dict | None:
    """Manifest dict {"snapshots": [...], "compacted": {...}?}, or None when
    the file is absent (a table with no commit yet, or a plain dir). A
    manifest that exists but cannot be read raises: taken as absent, the
    next commit would publish a manifest without the committed snapshots
    and compaction would then delete them."""
    import json

    if not os.path.exists(_manifest_path(path)):
        return None
    with open(_manifest_path(path)) as f:
        m = json.load(f)
    m["snapshots"]  # schema check
    return m


def _live_snapshots(path: str) -> list[str]:
    m = _read_manifest(path)
    return [] if m is None else m["snapshots"]


def _write_manifest(path: str, m: dict) -> None:
    """Atomically publish the manifest (os.replace = the commit point; the
    Iceberg metadata-pointer-swap analogue)."""
    import json

    tmp = _manifest_path(path) + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(m, f)
    os.replace(tmp, _manifest_path(path))


class _manifest_lock:
    """fcntl advisory lock serializing manifest read-modify-write commits.

    Two concurrent append_snapshot writers both do read-manifest -> write
    -> publish; without the lock the second publish drops the first's
    snapshot (lost update). The lock makes the commit section a CAS-like
    critical region — the Iceberg analogue is the catalog's atomic
    compare-and-swap of the metadata pointer. Data writes stay OUTSIDE the
    lock (each snapshot is a unique directory), so writers only serialize
    on the few-ms manifest swap, not on each other's I/O."""

    def __init__(self, path: str):
        os.makedirs(path, exist_ok=True)
        self._path = os.path.join(path, _MANIFEST_LOCK)

    def __enter__(self):
        import fcntl

        self._f = open(self._path, "w")
        fcntl.flock(self._f, fcntl.LOCK_EX)
        return self

    def __exit__(self, *exc):
        import fcntl

        fcntl.flock(self._f, fcntl.LOCK_UN)
        self._f.close()
        return False


def _list_snapshot_dirs(path: str) -> list[str]:
    """Snapshot dirs placed in the table dir, listed or not. Dot-prefixed
    dirs are in-flight writes (another appender's data, not yet renamed and
    committed under the lock) and must never be GC'd as if they were
    snapshots."""
    return sorted(
        d
        for d in os.listdir(path)
        if os.path.isdir(os.path.join(path, d)) and not d.startswith(".")
    )


def _parquet_files(d: str) -> list[str]:
    return [f for f in os.listdir(d) if f.endswith(".parquet")]


def _commit(path: str, change) -> None:
    """The one commit of every manifest-table write: a manifest
    read-modify-write under _manifest_lock, published by one atomic swap.

    In order: read the manifest (a table without one starts from no
    snapshots; a plain dir, holding top-level parquet, raises instead, so
    its rows are never stranded outside the manifest); apply
    ``change(snapshots, meta)``, which returns the new live list (None:
    no change, nothing is published) and may edit ``meta``, the manifest's
    other keys; drop the per-snapshot entries of snapshots no longer live;
    publish."""
    with _manifest_lock(path):
        meta = _read_manifest(path)
        if meta is None:
            if _parquet_files(path):
                raise RuntimeError(
                    f"{path} is a plain parquet dir (write_table): it takes no snapshots"
                )
            meta = {"snapshots": []}
        snaps = change(meta.pop("snapshots"), meta)
        if snaps is None:
            return
        live = set(snaps)
        for key in _PER_SNAPSHOT:
            kept = {s: v for s, v in meta.pop(key, {}).items() if s in live}
            if kept:
                meta[key] = kept
        _write_manifest(path, {"snapshots": snaps, **meta})


def _live_dirs(path: str, live: list[str] | None = None) -> list[tuple[str, str]]:
    """``(name, dir)`` of each live snapshot in COMMIT order — the
    manifest's append order, which is what latest-wins must rank by (a name
    sort would tie-break two same-millisecond commits on random hex).
    Manifest entries whose dir is gone are skipped. A dir without a
    manifest is a plain dir when it holds parquet files (``[(".", path)]``:
    the dir itself) and otherwise has no snapshot (a new table, one whose
    first commit failed, or one holding only in-flight writes). ``live``:
    an already-read manifest list to resolve instead of reading it
    again."""
    if live is None:
        m = _read_manifest(path)
        if m is not None:
            live = m["snapshots"]
        else:
            live = ["."] if _parquet_files(path) else []
    out = []
    for s in live:
        d = os.path.normpath(os.path.join(path, s))
        if os.path.isdir(d):
            out.append((s, d))
    return out


def write_table(df: DataFrame, root: str, name: str) -> str:
    path = table_path(root, name)
    df.hint("rebalance").write.mode("overwrite").parquet(path)
    return path


def _json_safe_stat(v):
    """min/max values must survive a JSON round-trip; anything exotic
    (timestamps, decimals) degrades to its string form — consistent on
    write and on prune-compare, which is all skipping needs."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    return str(v)


def _observed_write(
    df: DataFrame, path: str, stats_cols: list[str], rebalance: bool = True
) -> tuple[int, dict]:
    """Write ``df`` to ``path`` (through the byte-sizing rebalance unless
    the caller laid out its own files) and return its row count and the
    ``{col: [min, max]}`` of ``stats_cols``, both observed on the rows as
    they are written: no second read of the data."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        *[F.min(c).alias(f"mn_{i}") for i, c in enumerate(stats_cols)],
        *[F.max(c).alias(f"mx_{i}") for i, c in enumerate(stats_cols)],
    )
    if rebalance:
        out = out.hint("rebalance")
    out.write.mode("overwrite").parquet(path)
    got = obs.get
    stats = {
        c: [_json_safe_stat(got[f"mn_{i}"]), _json_safe_stat(got[f"mx_{i}"])]
        for i, c in enumerate(stats_cols)
    }
    return got["n"], stats


class _Staged(NamedTuple):
    """A snapshot written but not yet live: its dot-prefixed in-flight dir
    and what the write observed of it."""

    inflight: str
    n_rows: int
    stats: dict
    file_stats: dict | None


def _stage(
    path: str,
    df: DataFrame,
    stats_cols: list[str] | None = None,
    file_stats_cols: list[str] | None = None,
) -> _Staged:
    """Write ``df`` into a fresh ``.inflight-*`` dir of the table at
    ``path``, observing its row count and ``stats_cols`` min/max in the
    write (and, with ``file_stats_cols``, per-file min/max from a footer
    scan of the written files, keyed by file basename). The dir is dot-
    prefixed, so no reader, listing or compaction GC (before 1 h) treats
    it as a snapshot until _place renames it."""
    inflight = os.path.join(path, f".inflight-{uuid.uuid4().hex}")
    n_rows, stats = _observed_write(
        df, inflight, stats_cols or [], rebalance=not file_stats_cols
    )
    file_stats = None
    if file_stats_cols:
        from pyspark.sql import functions as F

        frows = (
            df.sparkSession.read.parquet(inflight)
            .groupBy(F.input_file_name().alias("f"))
            .agg(
                *[F.min(c).alias(f"mn_{i}") for i, c in enumerate(file_stats_cols)],
                *[F.max(c).alias(f"mx_{i}") for i, c in enumerate(file_stats_cols)],
            )
            .collect()
        )
        file_stats = {
            os.path.basename(r["f"]): {
                c: [
                    _json_safe_stat(r[f"mn_{i}"]),
                    _json_safe_stat(r[f"mx_{i}"]),
                ]
                for i, c in enumerate(file_stats_cols)
            }
            for r in frows
        }
    return _Staged(inflight, n_rows, stats, file_stats)


def _place(path: str, staged: _Staged, meta: dict) -> str:
    """Inside a _commit change: name the staged snapshot by the COMMIT
    millisecond, record its count and stats in ``meta`` and rename it into
    place. Returns the snapshot name. Naming here, under the lock, is what
    makes name order follow publish order across tables (rollback rule (b)
    compares those milliseconds), however the stage writes overlapped."""
    name = f"snap-{int(time.time() * 1000)}-{uuid.uuid4().hex[:8]}"
    for key, val in (
        ("record_count", staged.n_rows),
        ("column_stats", staged.stats or None),
        ("file_stats", staged.file_stats),
    ):
        if val is not None:
            meta.setdefault(key, {})[name] = val
    os.rename(staged.inflight, os.path.join(path, name))
    return name


def _publish(path: str, staged: _Staged) -> str:
    """Make one staged snapshot live: one _commit appending it to the
    manifest. Returns the snapshot dir."""
    placed = []

    def add(snaps, meta):
        placed.append(_place(path, staged, meta))
        return snaps + placed

    _commit(path, add)
    return os.path.join(path, placed[0])


def append_snapshots(
    spark: SparkSession, root: str, appends: list, writes: list = ()
) -> list[str]:
    """Commit one snapshot to each of several tables: stage every write
    concurrently, then publish the manifests in list order — the
    multi-table commit of write_run and the weekly jobs. Returns the
    snapshot dirs in list order.

    ``appends``: ``(name, df[, stats_cols[, file_stats_cols]])`` tuples,
    with the append_snapshot meaning of the column lists. ``df`` is a
    DataFrame or a function that builds one; a function runs in its write's
    thread, so the plan's analysis overlaps the other writes too.
    ``writes``: functions with no arguments (a job's ``--out`` files) that
    run alongside the stage and must all finish before any publish.

    Stage: one thread per table or write, each started through
    ``inheritable_thread_target`` so the caller's local properties (job
    group and description, a streaming batch's properties) reach its
    Spark jobs. Publish: only after every stage succeeded, one _commit per
    table in list order, each naming its snapshot at that moment. A
    failure while staging publishes nothing and raises the first failure
    in list order; its in-flight dirs stay invisible until compaction
    removes them (after 1 h)."""

    def stage(name, df, *cols):
        built = df if isinstance(df, DataFrame) else df()
        return _stage(table_path(root, name), built, *cols)

    staged = _concurrently(
        spark, [functools.partial(stage, *a) for a in appends] + list(writes)
    )
    return [_publish(table_path(root, a[0]), s) for a, s in zip(appends, staged)]


def _concurrently(spark: SparkSession, tasks: list) -> list:
    """Run functions with no arguments, one thread each (a lone one
    inline), and return their results in list order once all have ended,
    or raise the first failure in list order. Threads start through
    ``inheritable_thread_target``, so the caller's local properties (job
    group and description) reach their Spark jobs."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    if len(tasks) <= 1:
        return [t() for t in tasks]
    with ThreadPoolExecutor(len(tasks)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(t)) for t in tasks]
    # leaving the pool waited for every thread: nothing is still running
    return [f.result() for f in futures]


def append_snapshot(
    df: DataFrame,
    root: str,
    name: str,
    stats_cols: list[str] | None = None,
    file_stats_cols: list[str] | None = None,
) -> str:
    """Append as a new immutable snapshot directory (atomic-commit stand-in
    for Iceberg's append) — the one-table case of append_snapshots. Readers
    union LIVE snapshots via read_table. The manifest update after the
    data write is the commit point: a crash mid-write leaves an orphan
    in-flight directory no reader ever sees (cleaned by a later
    compact_table). CONCURRENT appenders are safe: the data write happens
    outside the lock (unique directory per snapshot), then the manifest
    read-modify-write runs in _commit, under _manifest_lock, so no commit
    can drop another writer's snapshot.

    The rows go through the byte-sizing rebalance (module docstring), and
    the snapshot's row count is observed in the write and recorded in the
    manifest as ``record_count``.

    ``stats_cols``: record per-snapshot min/max of these columns in the
    manifest (the Iceberg manifest-file column-stats analogue). The stats
    are observed in the write, in the same pass as the row count, and let
    read_table_pruned skip whole snapshot directories whose range cannot
    match a predicate. A snapshot appended WITHOUT stats is simply never
    skipped (conservative).

    ``file_stats_cols``: additionally record per-PARQUET-FILE min/max of
    these columns (the Iceberg data-file-stats analogue, one level below
    the snapshot stats). This is what makes a clustered layout pay off:
    after write_table_zordered, a 2-D box predicate prunes most FILES of
    a surviving snapshot, not just whole snapshots. Passing it marks the
    caller's partitioning as the file layout, so the write skips the
    rebalance. The file stats are aggregated from the just-written parquet
    (a footer-backed scan grouped by input_file_name), keyed by basename
    so the inflight->snap directory rename keeps them valid."""
    return append_snapshots(
        df.sparkSession, root, [(name, df, stats_cols, file_stats_cols)]
    )[0]


def read_table(spark: SparkSession, root: str, name: str) -> DataFrame | None:
    """Read a table: a manifest table's LIVE snapshots, or a plain dir
    (write_table) as one dir. Returns None when there are none: the table
    does not exist, or has no manifest and no parquet files (no commit
    yet, or only a failed first commit's unlisted snapshot)."""
    path = table_path(root, name)
    if not os.path.isdir(path):
        return None
    dirs = [d for _, d in _live_dirs(path)]
    return spark.read.parquet(*dirs) if dirs else None


def read_table_pruned(
    spark: SparkSession, root: str, name: str, col: str, lo=None, hi=None
) -> DataFrame | None:
    """Read rows with ``lo <= col <= hi`` (either bound may be None),
    SKIPPING every live snapshot whose manifest min/max range cannot
    intersect the predicate — Iceberg's manifest-level file pruning. At
    100 TB this is the difference between a point-in-range query that
    opens last week's snapshot and one that lists and footer-reads every
    snapshot ever committed: the skip decision is driver-side manifest
    arithmetic, no file is touched.

    Semantics are exactly read_table(...).filter(between): the row-level
    filter is still applied to the surviving directories (pruning is a
    file-skipping optimization, never a filter substitute). Snapshots
    without recorded stats for ``col`` are always read (conservative), so
    mixing stats-less appends in costs correctness nothing. Delegates to
    read_table_pruned_box — snapshots that also carry per-FILE stats are
    additionally pruned file-by-file."""
    return read_table_pruned_box(spark, root, name, {col: (lo, hi)})


def _range_disjoint(rng, lo, hi) -> bool:
    """True iff a recorded [mn, mx] range provably cannot intersect
    [lo, hi]. Missing/None stats or JSON-degraded incomparable values
    never prune — a wrong skip loses rows, a kept scan only costs IO."""
    if rng is None or rng[0] is None or rng[1] is None:
        return False
    mn, mx = rng
    try:
        return (hi is not None and mn > hi) or (lo is not None and mx < lo)
    except TypeError:
        # stats were JSON-degraded to strings (exotic column type) but the
        # bounds are not comparable to them: never crash a read over a
        # skip decision — fall back to scanning
        return False


def pruned_selection(path: str, preds: dict) -> dict | None:
    """Driver-side manifest arithmetic shared by the pruned readers (and
    inspectable by tests/benchmarks without running a query): which
    snapshot dirs / parquet files survive a conjunction of range
    predicates ``{col: (lo, hi)}``. Snapshot-level column_stats prune
    whole directories; file_stats (when the snapshot recorded them) prune
    individual files inside surviving directories. Returns
    ``{paths, dirs_total, files_total, files_kept}``, or None for a dir
    without a manifest: a plain dir (write_table), which records no stats,
    or a table with no commit yet."""
    m = _read_manifest(path)
    if m is None:
        return None
    stats = m.get("column_stats", {})
    fstats = m.get("file_stats", {})
    paths: list[str] = []
    dirs_total = files_total = files_kept = 0
    for s, d in _live_dirs(path):
        dirs_total += 1
        listing = _parquet_files(d)
        files_total += len(listing)
        srng = stats.get(s, {})
        if any(
            _range_disjoint(srng.get(c), lo, hi) for c, (lo, hi) in preds.items()
        ):
            continue  # whole snapshot provably disjoint
        fs = fstats.get(s)
        if not fs:
            paths.append(d)
            files_kept += len(listing)
            continue
        for f in listing:
            frng = fs.get(f, {})
            if any(
                _range_disjoint(frng.get(c), lo, hi)
                for c, (lo, hi) in preds.items()
            ):
                continue
            paths.append(os.path.join(d, f))
            files_kept += 1
    return {
        "paths": paths,
        "dirs_total": dirs_total,
        "files_total": files_total,
        "files_kept": files_kept,
    }


def read_table_pruned_box(
    spark: SparkSession, root: str, name: str, preds: dict
) -> DataFrame | None:
    """Read rows matching a conjunction of range predicates
    ``{col: (lo, hi)}`` (either bound may be None), skipping snapshot
    directories via manifest column_stats and individual parquet files via
    file_stats — the multi-dimensional pruning that makes a
    write_table_zordered layout pay: a 2-D box over a z-clustered table
    opens only the files whose hyper-rectangle intersects the box.
    Row-level filters are always applied to whatever survives."""
    from pyspark.sql import functions as F

    path = table_path(root, name)
    if not os.path.isdir(path):
        return None

    def _pred():
        out = F.lit(True)
        for c, (lo, hi) in preds.items():
            if lo is not None:
                out = out & (F.col(c) >= F.lit(lo))
            if hi is not None:
                out = out & (F.col(c) <= F.lit(hi))
        return out

    sel = pruned_selection(path, preds)
    if sel is None:  # plain dir (or none yet): no stats, plain filtered read
        full = read_table(spark, root, name)
        return None if full is None else full.filter(_pred())
    if sel["dirs_total"] == 0:
        return None
    if not sel["paths"]:  # everything pruned: empty result, schema preserved
        return spark.read.parquet(_live_dirs(path)[0][1]).limit(0).filter(_pred())
    return spark.read.parquet(*sel["paths"]).filter(_pred())


def _snap_millis(snap_name: str) -> int:
    """Commit milliseconds embedded in a snapshot name (_place minted it)."""
    return int(snap_name.split("-")[1])


def list_snapshots(root: str, name: str) -> list[dict]:
    """The table's committed snapshots in COMMIT order (manifest position) —
    the Iceberg `table.snapshots()` analogue. Each entry carries the name,
    the parquet file count and the recorded row count (None for a snapshot
    written without one). Metadata-only: no data is read, so this is
    O(snapshots) at any scale."""
    path = table_path(root, name)
    if not os.path.isdir(path):
        return []
    counts = (_read_manifest(path) or {}).get("record_count", {})
    return [
        {"name": s, "n_files": len(_parquet_files(d)), "record_count": counts.get(s)}
        for s, d in _live_dirs(path)
    ]


def row_count(root: str, name: str) -> int:
    """Rows of a manifest table as read_table reads it (0 when it has no
    snapshot): the sum of the live snapshots' manifest record_count, so no
    data file is opened. Every snapshot _place mints records its count; a
    live snapshot without one, or a plain dir, raises KeyError."""
    path = table_path(root, name)
    if not os.path.isdir(path):
        return 0
    counts = (_read_manifest(path) or {}).get("record_count", {})
    return sum(counts[s] for s, _ in _live_dirs(path))


def read_table_latest(
    spark: SparkSession, root: str, name: str, keys: list[str]
) -> DataFrame | None:
    """read_table with LATEST-SNAPSHOT-WINS per key.

    Snapshot directory names embed a millisecond commit timestamp, so row
    provenance (input_file_name) orders rows by commit time; for each key
    only the newest containing snapshot's rows survive. This is the reader
    for tables a forced reprocess (pipeline.write_run force=True) appended
    duplicate doc_ids into — the Iceberg equivalent of reading after MERGE
    instead of after a plain append.

    Compaction interplay: compact_table merges all live snapshots into ONE
    directory, which destroys the per-snapshot provenance this reader
    depends on — unless the compaction already applied the per-key dedup
    (compact_table(keys=...)). The manifest records how the table was
    compacted; a mismatch raises here instead of silently resurrecting
    superseded rows."""
    path = table_path(root, name)
    if not os.path.isdir(path):
        return None
    dirs = _live_dirs(path)
    if not dirs:
        return None
    _check_latest_wins(path, name, keys)
    return _latest_wins(spark, dirs, keys)


def _check_latest_wins(path: str, name: str, keys: list[str]) -> None:
    m = _read_manifest(path)
    if m is not None and "compacted" in m:
        ckeys = m["compacted"].get("keys")
        if ckeys is None or list(ckeys) != list(keys):
            raise RuntimeError(
                f"table {name!r} was compacted with keys={ckeys} — snapshot "
                f"provenance for latest-wins on keys={keys} is gone. "
                "Compact with compact_table(..., keys=...) to preserve "
                "latest-wins semantics."
            )


def _latest_wins(spark: SparkSession, dirs: list, keys: list[str]) -> DataFrame:
    """Rows of the snapshot ``dirs`` (``(name, dir)`` in commit order) where
    each key keeps only its newest containing snapshot's rows."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    df = spark.read.parquet(*[d for _, d in dirs])
    # rank snapshots by COMMIT order (manifest list position), not by name:
    # same-millisecond commits would otherwise tie-break on the random hex
    # suffix and latest-wins could pick the older commit nondeterministically
    ordinal = F.create_map(
        *[x for i, (s, _) in enumerate(dirs) for x in (F.lit(s), F.lit(i))]
    )
    snap = F.regexp_extract(F.input_file_name(), r"/(snap-\d+-[0-9a-z]+)/", 1)
    # rows outside any snapshot (a plain dir's) rank oldest rather than
    # erroring
    ord_col = F.coalesce(ordinal[snap], F.lit(-1))
    latest = F.max("_snap_ord").over(Window.partitionBy(*keys))
    return (
        df.withColumn("_snap_ord", ord_col)
        .withColumn("_latest", F.col("_snap_ord") == latest)
        .filter(F.col("_latest"))
        .drop("_snap_ord", "_latest")
    )


def compact_table(
    spark: SparkSession,
    root: str,
    name: str,
    keys: list[str] | None = None,
) -> dict:
    """Rewrite all of a table's snapshots into one compacted snapshot —
    the Iceberg `rewrite_data_files` analogue. Every append_snapshot adds a
    directory of at least one file, so a long-running incremental pipeline
    accumulates thousands of small files and every read pays the listing +
    open cost; compaction restores big-file scans. The rewrite goes through
    the same byte-sizing rebalance as an append, and the compacted
    snapshot's record_count is observed in it (after ``keys`` have
    dropped superseded rows). A plain dir or a table with no snapshot is
    left as it is.

    ``keys``: compaction MERGES snapshots, which destroys the per-snapshot
    provenance read_table_latest's latest-wins depends on. For tables that
    carry superseded rows (force=True reruns appending duplicate doc_ids),
    pass the latest-wins keys: the per-key winners are resolved DURING
    compaction, so the compacted table reads identically before and after.
    Without keys, rows are unchanged (plain union semantics) and the
    manifest records that provenance is gone — read_table_latest refuses
    such tables instead of silently resurrecting superseded rows.

    CRASH-SAFE via the manifest: the compacted data is staged like an
    append (_stage, an in-flight directory), then ONE atomic manifest swap
    (_commit) names it and makes it live, then dead directories are
    dropped. A crash before the swap leaves readers on the old snapshots
    (the in-flight dir is invisible, removed by a later compaction); a
    crash after the swap leaves orphan OLD dirs readers also never see —
    no reader ever observes duplicated rows. The swap deletes every
    snapshot dir the manifest does not list: the old live dirs, and the
    orphans of earlier crashed or failed commits (a failed first commit's
    included).

    CONCURRENT APPEND SAFE: the live snapshot list is read once, and the
    rewrite reads exactly those dirs. The commit re-reads the manifest
    under the lock and keeps every snapshot not in that list (new manifest
    = [compacted] + late arrivals), so an appender running during the
    (long) rewrite never loses its commit and its rows are never both
    rewritten and kept. Run ONE compactor at
    a time (two concurrent compactions of the same table would each fold
    the other's output).
    """
    import shutil

    path = table_path(root, name)
    # the snapshot set this compaction rewrites, resolved ONCE: the rewrite
    # reads exactly these dirs, and the swap keeps every other live snapshot
    # as a late arrival, so an append committed meanwhile is never both
    # rewritten and kept
    live = _live_snapshots(path)
    old = _live_dirs(path, live)
    if not old:  # no manifest, or every listed dir is gone
        return {"files_before": 0, "files_after": 0, "snapshots_before": 0}
    files_before = sum(len(_parquet_files(d)) for _, d in old)
    if keys:
        _check_latest_wins(path, name, keys)
        df = _latest_wins(spark, old, keys)
    else:
        df = spark.read.parquet(*[d for _, d in old])
    # stage the compacted snapshot WITHOUT registering it: a reader during
    # this window still unions exactly the old live set
    staged = _stage(path, df)
    dead: list[str] = []
    placed: list[str] = []

    def swap(snaps, meta):
        # CAS-style commit: keep snapshots appended while we were rewriting
        # (_commit keeps their recorded counts and stats)
        late = [s for s in snaps if s not in live]
        # freeze the dead list WHILE holding the lock, before the compacted
        # snapshot is renamed into place: an appender blocked on the lock
        # right now will rename+commit its snapshot the moment we release —
        # its dir is still dot-prefixed (invisible to the listing) at this
        # instant, so it can never land in `dead`. Deleting a post-release
        # listing instead would race exactly that commit and rmtree a
        # manifest-referenced directory.
        dead.extend(d for d in _list_snapshot_dirs(path) if d not in late)
        meta["compacted"] = {"keys": keys}
        placed.append(_place(path, staged, meta))
        return placed + late

    _commit(path, swap)
    # everything frozen above is dead: the old live dirs plus any orphans a
    # previously crashed append/compaction left behind
    for d in dead:
        shutil.rmtree(os.path.join(path, d), ignore_errors=True)
    # dotted in-flight dirs belong to LIVE concurrent appenders — GC only
    # stale ones (a crashed or failed stage's abandoned data; 1 h is far
    # beyond any single snapshot write)
    for d in os.listdir(path):
        dp = os.path.join(path, d)
        if d.startswith(".inflight-") and os.path.isdir(dp):
            if time.time() - os.path.getmtime(dp) > 3600:
                shutil.rmtree(dp, ignore_errors=True)
    return {
        "files_before": files_before,
        "files_after": len(_parquet_files(os.path.join(path, placed[0]))),
        "snapshots_before": len(old),
    }


def rollback_uncommitted(root: str, marker: str, id_cols: dict, lo) -> dict:
    """Iceberg rollback_to_snapshot for a crashed weekly-job attempt
    (operators.resume.weekly_run): for each ``{table: id column}``, drop
    from the manifest the snapshots whose recorded ``max(id column) >= lo``
    and that were committed after ``marker``'s newest snapshot. Metadata
    only: the dropped directories stay until the next compaction removes
    them; their manifest entries (counts, stats) go with the commit.
    Returns ``{table: snapshots dropped}`` for tables that dropped any.

    A snapshot drops only when both hold: (a) its recorded id-column stats
    reach the pending slice (max >= lo), and (b) it was committed after the
    marker's newest snapshot (by the commit millisecond in the snapshot
    names, taken at publish). When in doubt it keeps: snapshots without
    stats (compaction outputs) and everything committed before the
    marker's newest snapshot stay. A marker without a manifest (no commit
    yet, or a failed first one) has no newest snapshot, so (b) holds for
    every snapshot; a table without a manifest has none to drop. Rule (b)
    is what keeps a slice that breaks crawl order from dropping committed
    state, where (a) alone would match every committed snapshot. Caller
    contract: ids are unique across slices and crawl-ordered (every new id
    above every committed id); a slice that breaks it keeps all committed
    state but is judged against it as-is."""
    if lo is None:  # nothing pending
        return {}
    marked = _live_snapshots(table_path(root, marker))
    cutoff = _snap_millis(marked[-1]) if marked else -1

    def reaches(rng):
        try:
            return rng is not None and rng[1] is not None and rng[1] >= lo
        except TypeError:  # JSON-degraded stats: keep
            return False

    dropped = {}
    for name, col in id_cols.items():
        path = table_path(root, name)
        if _read_manifest(path) is None:  # no snapshot to drop
            continue

        def drop(snaps, meta):
            stats = meta.get("column_stats", {})
            gone = {
                s for s in snaps
                if reaches(stats.get(s, {}).get(col))
                and _snap_millis(s) > cutoff
            }
            if not gone:
                return None
            dropped[name] = len(gone)
            return [s for s in snaps if s not in gone]

        _commit(path, drop)
    return dropped


def compact_tables(spark: SparkSession, root: str, how: dict, after: int) -> dict:
    """Compact each table of ``how`` (``{table: latest-wins keys or
    None}``, as compact_table takes them) that holds more than ``after``
    live snapshots, concurrently (_concurrently). Returns ``{table:
    snapshots_before}`` for those, in ``how`` order."""
    due = [n for n in how if len(_live_snapshots(table_path(root, n))) > after]

    def compact(name):
        return compact_table(spark, root, name, keys=how[name])["snapshots_before"]

    return dict(zip(due, _concurrently(spark, [functools.partial(compact, n) for n in due])))


_ZORDER_BITS = 4  # quantization levels per z-order column: 2^4


def zorder_key(cols: list, ranges: list):
    """Bit-interleaved Z-curve value of numeric columns: each column is
    linearly quantized to 2^_ZORDER_BITS levels over its [mn, mx] range,
    then the quantized values' bits are interleaved (col0 gets bit
    positions 0, k, 2k, ...). Nearby z-values are nearby in EVERY
    dimension, which is the whole trick: range-partitioning on z makes each
    output file a tight hyper-rectangle in all zcols at once, where a plain
    sort gives tight ranges in only the leading column. Pure column
    expressions — no UDF, stays in whole-stage codegen."""
    from pyspark.sql import functions as F

    k = len(cols)
    z = F.lit(0).cast("long")
    levels = 1 << _ZORDER_BITS
    for ci, (c, (mn, mx)) in enumerate(zip(cols, ranges)):
        if mn is None or mx is None:
            raise ValueError(f"zorder_key: column {c} has no min/max (all null?)")
        col = F.col(c) if isinstance(c, str) else c
        span = max(int(mx) - int(mn) + 1, 1)
        if span <= (1 << 62) // levels:
            # exact int64 multiply (bit-identical to the original layout)
            scaled = (col.cast("long") - F.lit(int(mn))) * F.lit(levels)
        else:
            # huge-magnitude columns (epoch-microsecond spans ~1.7e18):
            # the long multiply overflows int64 and throws under ANSI mode.
            # Quantize in double instead — the rounding noise only moves a
            # value across a cell boundary, which cannot break reads: file
            # min/max stats, not the z-key, guarantee pruning correctness.
            scaled = (col.cast("long") - F.lit(int(mn))).cast("double") * F.lit(
                float(levels)
            )
        q = F.floor(scaled / F.lit(span)).cast("long")
        q = F.least(F.lit(levels - 1), F.greatest(F.lit(0), q))
        for b in range(_ZORDER_BITS):
            z = z + F.shiftleft(
                F.shiftright(q, b).bitwiseAND(F.lit(1)), b * k + ci
            )
    return z


def write_table_zordered(
    df: DataFrame,
    root: str,
    name: str,
    zcols: list[str],
    n_partitions: int = 8,
) -> str:
    """Append a snapshot Z-ORDER clustered on ``zcols`` with per-file
    stats — the Iceberg `rewrite_data_files(strategy => 'sort',
    sort_order => zorder(...))` analogue.

    One footer-backed agg computes the global min/max per zcol (driver
    round-trip of 2*len(zcols) scalars), every row gets a z-curve key,
    and repartitionByRange + sortWithinPartitions on that key lays the
    data out so each parquet file covers a tight hyper-rectangle in ALL
    zcols. append_snapshot then records snapshot- and file-level min/max,
    and read_table_pruned_box turns a multi-column box predicate into
    opening only the few intersecting files. At 100 TB this is the
    difference between a (user, time)-box query scanning one leading-
    column stripe (everything in the time range, every user) and scanning
    ~box-volume worth of bytes."""
    from pyspark.sql import functions as F

    row = df.agg(
        *[F.min(c).alias(f"mn_{i}") for i, c in enumerate(zcols)],
        *[F.max(c).alias(f"mx_{i}") for i, c in enumerate(zcols)],
    ).collect()[0]
    ranges = [(row[f"mn_{i}"], row[f"mx_{i}"]) for i in range(len(zcols))]
    clustered = (
        df.withColumn("_z", zorder_key(zcols, ranges))
        .repartitionByRange(n_partitions, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    return append_snapshot(
        clustered, root, name, stats_cols=zcols, file_stats_cols=zcols
    )


def write_bucketed(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Write a catalog table hash-bucketed (and optionally sorted) on its
    join key. Both sides of an equi-join bucketed on the key with the same
    bucket count join SHUFFLE-FREE (and sort-free if sortBy'd) — the
    pipeline's media-blob join is the target: bucket media and the span
    table by media_ref and the byte-carrying exchange disappears
    (pinned by tests/test_plans.test_bucketed_join_is_shuffle_free).
    Iceberg analogue: a `bucket(N, col)` partition transform + SPJ
    (storage-partitioned joins)."""
    import shutil

    spark = df.sparkSession
    # the in-memory catalog forgets tables between sessions but the
    # warehouse directory persists; a leftover location makes saveAsTable
    # fail with LOCATION_ALREADY_EXISTS — drop both
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix("file:")
    loc = os.path.join(wh, name.lower())
    if wh and os.path.isdir(loc):
        shutil.rmtree(loc)
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(name)
