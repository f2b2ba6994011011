"""Seeded benchmark for the extraction job's resume path and the weekly dedup job.

    python3 perfbench/run.py --workload crawl_resume --seed 1 --seconds 5 --trace 0

Generates the workload from ``--seed`` in this process, runs the real job
entry points (``pipeline.write_run``, ``jobs/dedup_job.py``'s ``main``) on
``local[<cpus>]`` as a closed loop (one job at a time), checks every run's
outputs, and prints one JSON line last on stdout. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md).
Exits non-zero without a result line if a check fails.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import decimal  # noqa: E402
import importlib.util  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = len(os.sched_getaffinity(0))
MB = 1024 * 1024

# crawl_resume: prior committed corpus + a 5% new slice
RESUME_PRIOR_DOCS = 400
RESUME_NEW_DOCS = 20
# dedup_weekly: bootstrap slice + one weekly slice with planted near-dups
DEDUP_PRIOR_DOCS = 400
DEDUP_NEW_DOCS = 100
DEDUP_PRIOR_DUP_EVERY = 20
DEDUP_NEW_DUP_EVERY = 10


def _log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


class PeakRSS:
    """Peak summed RSS of this process and all its descendants (driver JVM,
    Python workers), sampled from /proc while running.

    A child whose memory counters equal its parent's still shares the
    parent's address space (the JVM spawning a helper with vfork, before
    exec) and is skipped, or the JVM would be counted twice."""

    _PAGE = os.sysconf("SC_PAGE_SIZE")

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [(os.getpid(), None)]
        while todo:
            pid, parent_mem = todo.pop()
            try:
                with open(f"/proc/{pid}/statm") as f:
                    mem = tuple(int(x) for x in f.read().split()[:2])
            except (OSError, ValueError):
                continue
            if mem != parent_mem:
                total += mem[1] * self._PAGE
            todo.extend((c, mem) for c in children.get(pid, []))
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, self._tree_rss())

    def __enter__(self) -> PeakRSS:
        self.peak = self._tree_rss()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._tree_rss())


def _files(path: str) -> dict[str, tuple[int, int]]:
    return {
        os.path.join(d, f): (st.st_size, st.st_mtime_ns)
        for d, _, fs in os.walk(path)
        for f in fs
        for st in [os.stat(os.path.join(d, f))]
    }


def bytes_written(path: str, before: dict[str, tuple[int, int]]) -> int:
    """Bytes of files under ``path`` created or rewritten since ``before``."""
    return sum(sz for p, (sz, mt) in _files(path).items() if before.get(p) != (sz, mt))


def _read_live(root: str, name: str, latest_only: bool = False):
    """Rows of a manifest-tracked table, read with pyarrow (not Spark)."""
    import pyarrow.parquet as pq

    path = os.path.join(root, name)
    with open(os.path.join(path, "_live_snapshots.json")) as f:
        snaps = json.load(f)["snapshots"]
    if latest_only:
        snaps = snaps[-1:]
    rows = []
    for s in snaps:
        rows.extend(pq.read_table(os.path.join(path, s)).to_pylist())
    return rows


class Bench:
    """One benchmark process: work directory, Spark session, timers."""

    def __init__(self, args) -> None:
        self.args = args
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        self.tmp = os.path.join(self.work, "tmp")
        os.makedirs(self.tmp)
        # everything Spark, the JVM and tempfile write stays in the checkout
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
        os.environ["OCR_STUB_COST"] = "0"
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # spark-submit's launcher JVM would write an hsperfdata file in /tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        # Class-data-sharing archive of the driver JVM's classes: the first
        # invocation in a checkout writes it as its JVM exits, later ones
        # map it, which cuts class loading in JVM start, session start and
        # the cold first job. The JVM archives nothing from a classpath with
        # a non-empty directory, so Spark's conf directory (templates only)
        # is replaced by an empty one.
        cache = os.path.join(ROOT, ".perfbench_cache")
        os.makedirs(os.path.join(cache, "conf"), exist_ok=True)
        os.environ["SPARK_CONF_DIR"] = os.path.join(cache, "conf")
        self.cds = os.path.join(cache, "driver.jsa")
        self.cds_new = None if os.path.exists(self.cds) else self.path("driver.jsa")
        self.event_dirs: list[str] = []
        self._events_on = False

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def session(self, events: bool = False):
        """The active session, (re)created when missing or when event
        logging must be switched."""
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        from chapterbridge_ocr_worker_spark.conf import get_spark

        if SparkContext._active_spark_context is not None:
            if self._events_on == events:
                return SparkSession.getActiveSession()
            SparkSession.getActiveSession().stop()
        cds = (f"-XX:ArchiveClassesAtExit={self.cds_new}" if self.cds_new
               else f"-XX:SharedArchiveFile={self.cds}")
        conf = {
            # get_spark's code cache size; no hsperfdata file in /tmp; JVM
            # warnings (the archive dump's) to stderr, off the result stream
            "spark.driver.extraJavaOptions":
                f"-XX:ReservedCodeCacheSize=1g -XX:-UsePerfData {cds} "
                f"-Xlog:disable -Xlog:all=warning:stderr -Djava.io.tmpdir={self.tmp}",
            "spark.ui.showConsoleProgress": "false",
        }
        if events:
            ev = self.path("events", str(len(self.event_dirs)))
            os.makedirs(ev)
            self.event_dirs.append(ev)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + ev,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self._events_on = events
        spark = get_spark("perfbench", cores=CPUS, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def stop(self) -> None:
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession()
        if s is not None:
            s.stop()

    def last_event_log(self) -> str:
        d = self.event_dirs[-1]
        (name,) = [n for n in os.listdir(d) if not n.startswith(".")]
        return os.path.join(d, name)

    def close(self) -> None:
        """Stop Spark, end the JVM (it exits on EOF of its stdin pipe) and
        wait for it, then delete the work directory."""
        try:
            self.stop()
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                gw.proc.stdin.close()
                gw.proc.wait(timeout=60)
                if self.cds_new and gw.proc.returncode == 0 and os.path.exists(self.cds_new):
                    os.replace(self.cds_new, self.cds)
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
            with contextlib.suppress(OSError):  # other runs may still use it
                os.rmdir(os.path.dirname(self.work))


def _write_parquet(rows: list[dict], path: str, schema=None) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema) if schema is not None else None
    pq.write_table(pa.Table.from_pylist(rows, schema=arrow_schema), path)
    return path


def _check(cond: bool, what: str) -> None:
    if not cond:
        raise RuntimeError(f"correctness check failed: {what}")


# --- crawl_resume -------------------------------------------------------------


class CrawlResume:
    """A prior committed run plus a 5% new slice: the timed run re-submits
    the whole corpus, so only the slice and the dead-lettered docs are OCR'd."""

    def __init__(self, b: Bench) -> None:
        from chapterbridge_ocr_worker_spark import schemas
        from chapterbridge_ocr_worker_spark.operators.cache import release_caches
        from chapterbridge_ocr_worker_spark.pipeline import write_run

        import gen

        self.b, self.write_run, self.release = b, write_run, release_caches
        spark = b.session()
        seed = b.args.seed
        pd_, pm, pbad = gen.extraction_corpus(seed, 0, RESUME_PRIOR_DOCS)
        nd, nm, nbad = gen.extraction_corpus(seed, RESUME_PRIOR_DOCS, RESUME_NEW_DOCS)
        os.makedirs(b.path("in"))
        prior_docs = _write_parquet(pd_, b.path("in", "prior_docs.parquet"), schemas.DOCUMENTS)
        prior_media = _write_parquet(pm, b.path("in", "prior_media.parquet"), schemas.MEDIA)
        self.docs = _write_parquet(pd_ + nd, b.path("in", "docs.parquet"), schemas.DOCUMENTS)
        self.media = _write_parquet(pm + nm, b.path("in", "media.parquet"), schemas.MEDIA)
        # the prior run (also the cold-JVM first job, billed to setup)
        self.prior_wh = b.path("prior_wh")
        write_run(spark, spark.read.parquet(prior_docs), spark.read.parquet(prior_media),
                  self.prior_wh)
        release_caches()
        self.setup_s = time.perf_counter() - T_START

        import tracing

        self.all_docs = pd_ + nd
        self.bad_refs = pbad | nbad
        self.expected, errors, self.engine_metrics = tracing.engine_probe(self.all_docs, pm + nm)
        _check(set(errors) == self.bad_refs, "golden errors == injected corrupt refs")
        _log(f"setup {self.setup_s:.2f}s, golden {time.perf_counter() - T_START - self.setup_s:.2f}s")
        self.failed_docs = {
            d["doc_id"] for d in self.all_docs
            if any(s["media_ref"] in self.bad_refs for s in d["spans"])
        }
        prior_failed = {d["doc_id"] for d in pd_} & self.failed_docs
        new_ids = {d["doc_id"] for d in nd}
        pending = [d for d in self.all_docs if d["doc_id"] in new_ids | prior_failed]
        self.n_pending = len(pending)
        self.pages = sum(s["kind"] == "media" for d in pending for s in d["spans"])
        self.n_docs = len(self.all_docs)

    def run(self, i: int, spark) -> dict:
        wh = self.b.path(f"wh{i}")
        shutil.copytree(self.prior_wh, wh)
        before = _files(wh)
        with PeakRSS() as rss:
            t0 = time.perf_counter()
            stats = self.write_run(spark, spark.read.parquet(self.docs),
                                   spark.read.parquet(self.media), wh)
            run_s = time.perf_counter() - t0
        self.release()
        written = bytes_written(wh, before)
        self.check(wh, stats)
        shutil.rmtree(wh)
        return {
            "run_s": run_s,
            "docs": stats["docs"],
            "pages": self.pages,
            "failed_ops": len(self.bad_refs),
            "written_b": written,
            "peak_rss_b": rss.peak,
            "stats": stats,
        }

    def check(self, wh: str, stats: dict) -> None:
        out = _read_live(wh, "ocr_output")
        committed = {}
        for r in out:
            _check(r["doc_id"] not in committed, f"doc {r['doc_id']} committed twice")
            committed[r["doc_id"]] = [
                (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
            ]
        for did, spans in committed.items():
            _check(spans == self.expected[did], f"span sequence of {did} == golden")
        _check(not (set(committed) & self.failed_docs), "no failed doc committed")
        _check(len(committed) + len(self.failed_docs) == self.n_docs,
               "committed + failed docs == submitted docs")
        dead = {r["media_ref"] for r in _read_live(wh, "failures", latest_only=True)}
        _check(dead == self.bad_refs, "dead-letter set == injected corrupt refs")
        _check(stats["docs"] + stats["failed_docs"] == self.n_pending,
               "this run's committed + failed docs == pending docs")

    def trace_metrics(self, traced: dict, shims) -> dict:
        ocr_s = traced["stats"]["wall_seconds"]
        return {
            **self.engine_metrics,
            "pipeline.ocr_stage_s": (ocr_s, "s"),
            "pipeline.commit_s": (traced["run_s"] - ocr_s, "s"),
            "resume.pending_ratio": (shims.pending_docs / self.n_docs, "ratio"),
            "dedup.candidate_pairs": (0, "count"),
            "dedup.cc_rounds": (0, "count"),
            "dedup.kept_ratio": (0.0, "ratio"),
        }


# --- dedup_weekly -------------------------------------------------------------


def _round4(x: float) -> decimal.Decimal:
    """Spark's ``round(x, 4)`` of a double: HALF_UP on its shortest repr."""
    return decimal.Decimal(repr(x)).quantize(decimal.Decimal("0.0001"), decimal.ROUND_HALF_UP)


def lsh_pairs(
    rows: list[dict], threshold: float, min_est: float = 0.35, max_bucket: int = 256
) -> list[tuple[int, int]]:
    """Pure-Python twin of ``operators.dedup.jaccard_pairs_lsh`` over
    {doc_id, text} rows: portable token hashes, MinHash family 0, capped
    band buckets, the signature-estimate filter, then exact token-set
    Jaccard."""
    from chapterbridge_ocr_worker_spark.operators import dedup as d

    a_coef, b_coef = d.MH_FAMILIES[0]
    p, r = d.MH_PRIME, d.MH_ROWS
    toks, sigs, buckets = {}, {}, {}
    for row in rows:
        i, ts = row["doc_id"], set(row["text"].split())
        hs = []
        for t in ts:
            h = 0
            for c in t:
                h = (h * 31 + ord(c)) % p
            hs.append(h)
        sig = [min((a * h + b) % p for h in hs) for a, b in zip(a_coef, b_coef)]
        for j in range(d.MH_BANDS):
            acc = j
            for x in sig[j * r:(j + 1) * r]:
                acc = (acc * d._BAND_MULT + x) % p
            buckets.setdefault(acc, []).append(i)
        toks[i], sigs[i] = ts, sig
    cand = {
        (x, y)
        for ids in buckets.values() if len(ids) <= max_bucket
        for x in ids for y in ids if x < y
    }
    lo_est, lo_jac = decimal.Decimal(str(min_est)), decimal.Decimal(str(threshold))
    out = []
    for x, y in sorted(cand):
        matching = sum(u == v for u, v in zip(sigs[x], sigs[y]))
        if _round4(matching / float(d.MH_K)) < lo_est:
            continue
        inter = len(toks[x] & toks[y])
        if _round4(inter / float(len(toks[x]) + len(toks[y]) - inter)) >= lo_jac:
            out.append((x, y))
    return out


def _load_dedup_job():
    spec = importlib.util.spec_from_file_location(
        "dedup_job", os.path.join(ROOT, "jobs", "dedup_job.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class DedupWeekly:
    """Bootstrapped dedup state plus one weekly slice with planted near-dups
    of prior docs and of docs within the slice."""

    def __init__(self, b: Bench) -> None:
        import gen

        self.b = b
        self.job = _load_dedup_job()
        # compact the state tables on every weekly run (the job's default
        # waits for 4 snapshots), so the compaction path is timed too
        self.job.COMPACT_AFTER = 1
        prior, new = gen.dedup_slices(
            b.args.seed, DEDUP_PRIOR_DOCS, DEDUP_NEW_DOCS,
            DEDUP_PRIOR_DUP_EVERY, DEDUP_NEW_DUP_EVERY,
        )
        os.makedirs(b.path("in"))
        prior_path = _write_parquet(prior, b.path("in", "prior.parquet"))
        self.new_path = _write_parquet(new, b.path("in", "new.parquet"))
        self.state0 = b.path("prior_state")
        b.session()
        stats = self._job(prior_path, self.state0, b.path("prior_out"))
        _check(stats["mode"] == "bootstrap", "bootstrap run")
        self.setup_s = time.perf_counter() - T_START

        # oracle: full recompute over the union, restricted to new ids. The
        # near-dup pairs come from an LSH pass over the union (the pair
        # semantics jaccard_keep and neardup_clusters share), recomputed in
        # Python; keep-lowest-id and the min-id connected components are
        # derived from them.
        t0 = time.perf_counter()
        pairs = lsh_pairs(prior + new, threshold=0.6)
        dropped = {b_ for _, b_ in pairs}
        root = {r["doc_id"]: r["doc_id"] for r in prior + new}

        def find(x: int) -> int:
            while root[x] != x:
                root[x] = root[root[x]]
                x = root[x]
            return x

        for a, b_ in pairs:
            ra, rb = find(a), find(b_)
            root[max(ra, rb)] = min(ra, rb)
        self.expected = {
            r["doc_id"]: (int(r["doc_id"] not in dropped), find(r["doc_id"])) for r in new
        }
        _log(f"setup {self.setup_s:.2f}s, oracle {time.perf_counter() - t0:.2f}s")

    def _job(self, docs: str, state: str, out: str) -> dict:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = self.job.main(["--documents", docs, "--state", state, "--out", out,
                                "--cores", str(CPUS)])
        _check(rc == 0, "dedup job exit code")
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    def run(self, i: int, spark) -> dict:
        import pyarrow.parquet as pq

        state, out = self.b.path(f"state{i}"), self.b.path(f"out{i}")
        shutil.copytree(self.state0, state, ignore=shutil.ignore_patterns("_checkpoints"))
        before = _files(state)
        with PeakRSS() as rss:
            t0 = time.perf_counter()
            stats = self._job(self.new_path, state, out)
            run_s = time.perf_counter() - t0
        written = bytes_written(state, before) + bytes_written(out, {})
        _check(stats["mode"] == "incremental", "weekly run is incremental")
        _check(bool(stats["compacted"]), "weekly run compacted the state tables")
        got = {
            r["id"]: (r["keep"], r["cluster_id"])
            for r in pq.read_table(os.path.join(out, "decisions")).to_pylist()
        }
        _check(got == self.expected, "keep flags and cluster labels == full recompute")
        shutil.rmtree(state)
        shutil.rmtree(out)
        return {
            "run_s": run_s,
            "docs": stats["docs_in"],
            "pages": stats["docs_in"],
            "failed_ops": 0,
            "written_b": written,
            "peak_rss_b": rss.peak,
            "stats": stats,
        }

    def trace_metrics(self, traced: dict, shims) -> dict:
        import tracing

        st = traced["stats"]
        return {
            **{k: (0, u) for k, u in tracing.ENGINE_UNITS.items()},
            "pipeline.ocr_stage_s": (0.0, "s"),
            "pipeline.commit_s": (0.0, "s"),
            "resume.pending_ratio": (st["docs_in"] / (st["docs_in"] + st["skipped_done"]),
                                     "ratio"),
            "dedup.candidate_pairs": (st.get("n_new_pairs", 0), "count"),
            "dedup.cc_rounds": (st.get("cc_rounds", 0), "count"),
            "dedup.kept_ratio": (st["kept"] / st["docs_in"], "ratio"),
        }


WORKLOADS = {"crawl_resume": CrawlResume, "dedup_weekly": DedupWeekly}


def _fmt(metrics: dict) -> dict:
    return {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}


def end_to_end(w, b: Bench) -> tuple[dict, int]:
    samples: list[dict] = []
    measured = 0.0
    while not samples or measured < b.args.seconds:
        s = w.run(len(samples), b.session())
        _log(f"run {len(samples)}: {s['run_s']:.3f}s {s['stats']}")
        samples.append(s)
        measured += s["run_s"]
    med = lambda f: statistics.median(f(s) for s in samples)  # noqa: E731
    metrics = {
        "run_s": (med(lambda s: s["run_s"]), "s"),
        "docs_per_s": (med(lambda s: s["docs"] / s["run_s"]), "1/s"),
        "pages_per_s": (med(lambda s: s["pages"] / s["run_s"]), "1/s"),
        "ok_frac": (med(lambda s: 1 - s["failed_ops"] / s["pages"]), "ratio"),
        "written_mb": (med(lambda s: s["written_b"] / MB), "MB"),
        "peak_rss_mb": (med(lambda s: s["peak_rss_b"] / MB), "MB"),
        "setup_s": (w.setup_s, "s"),
    }
    return metrics, len(samples)


def traced(w, b: Bench) -> tuple[dict, int]:
    import tracing

    # traced, then untraced: each leg starts on a fresh SparkContext, so both
    # pay the same context warm-up. The traced leg runs on the less-warm JVM,
    # so the overhead is an upper bound
    b.stop()
    shims = tracing.Shims()
    spark = b.session(events=True)
    shims.install()
    try:
        tr = w.run(0, spark)
    finally:
        shims.uninstall()
    b.stop()
    untraced = w.run(1, b.session(events=False))
    b.stop()
    _log(f"traced {tr['run_s']:.3f}s, untraced {untraced['run_s']:.3f}s")
    metrics = {
        **tracing.parse_event_log(b.last_event_log()),
        **shims.metrics(),
        **w.trace_metrics(tr, shims),
        "trace.run_s": (tr["run_s"], "s"),
        "trace.overhead_s": (tr["run_s"] - untraced["run_s"], "s"),
    }
    return metrics, 2


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    b = Bench(args)
    try:
        w = WORKLOADS[args.workload](b)
        metrics, attempted = (traced if args.trace else end_to_end)(w, b)
    finally:
        b.close()
    print(json.dumps({"correct": True, "attempted": attempted, "failed": 0,
                      "metrics": _fmt(metrics)}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
