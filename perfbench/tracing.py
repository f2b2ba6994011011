"""Per-layer instrumentation for the traced benchmark run.

Three sources, all outside the program under test:

- ``engine_probe``: runs ``engine.inner.run_adaptive`` (through
  ``golden.golden_output``) over a workload's blobs in this process with a
  counting ``StubEngine``. Its counts are a pure function of the seed.
- ``Shims``: wrappers installed around public calls of the table, pipeline
  and dedup layers. Each times its call and tags the Spark jobs it starts
  with ``setJobDescription`` so the event log attributes them.
- ``parse_event_log``: task, shuffle and Python-UDF totals from a Spark
  event log (``spark.eventLog.*`` set through ``get_spark(extra_conf=...)``).
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from collections import Counter, defaultdict

from chapterbridge_ocr_worker_spark import golden, pipeline
from chapterbridge_ocr_worker_spark.engine import inner
from chapterbridge_ocr_worker_spark.engine.stub import StubEngine
from chapterbridge_ocr_worker_spark.operators import dedup as dedup_ops
from chapterbridge_ocr_worker_spark.sources import tables

MB = 1024 * 1024


ENGINE_UNITS = {
    "engine.recognize_calls": "count",
    "engine.pixels_recognized": "count",
    "engine.passb_tiles": "count",
    "engine.fallback_pages": "count",
    "engine.lines_candidate": "count",
    "engine.lines_kept": "count",
    "engine.page_ms": "ms",
    "engine.dedup_ms": "ms",
}


class CountingEngine(StubEngine):
    """StubEngine that counts the work the adaptive loop asks of it."""

    def __init__(self) -> None:
        self.counts: Counter = Counter()
        self._page_dedups = 0

    def decode(self, data):
        self._page_dedups = 0  # run_adaptive decodes once per page, first
        return super().decode(data)

    def enhance(self, tile):
        # enhance before the page's first dedup is pass B; after, fallback
        if self._page_dedups == 0:
            self.counts["passb_tiles"] += 1
        return super().enhance(tile)

    def recognize(self, tile):
        lines = super().recognize(tile)
        self.counts["recognize_calls"] += 1
        self.counts["pixels_recognized"] += tile.image.width * (tile.y_end - tile.y_start)
        self.counts["lines_candidate"] += len(lines)
        return lines


def engine_probe(docs: list[dict], media: list[dict]):
    """golden_output over the corpus with a CountingEngine.

    Returns (expected_spans_by_doc, errors_by_ref, metrics)."""
    engine = CountingEngine()
    dedup_s = 0.0
    orig = inner.deduplicate_lines

    @functools.wraps(orig)
    def timed_dedup(lines, *a, **kw):
        nonlocal dedup_s
        engine._page_dedups += 1
        if engine._page_dedups == 2:
            engine.counts["fallback_pages"] += 1
        t0 = time.perf_counter()
        try:
            return orig(lines, *a, **kw)
        finally:
            dedup_s += time.perf_counter() - t0

    inner.deduplicate_lines = timed_dedup
    try:
        t0 = time.perf_counter()
        expected, errors = golden.golden_output(docs, media, engine)
        wall = time.perf_counter() - t0
    finally:
        inner.deduplicate_lines = orig
    pages = len(media)
    kept = sum(
        len(s[1].split("\n"))
        for spans in expected.values()
        for s in spans
        if s[0] == "media" and s[1]
    )
    values = {
        **{f"engine.{k}": engine.counts[k] for k in
           ("recognize_calls", "pixels_recognized", "passb_tiles", "fallback_pages",
            "lines_candidate")},
        "engine.lines_kept": kept,
        "engine.page_ms": 1000 * wall / max(1, pages),
        "engine.dedup_ms": 1000 * dedup_s,
    }
    return expected, errors, {k: (v, ENGINE_UNITS[k]) for k, v in values.items()}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Shims:
    """Timing + job-tagging wrappers around public layer entry points.

    Nested calls into the same layer (read_table_pruned -> _box, compact ->
    read) are billed to the outermost call only."""

    def __init__(self) -> None:
        self.seconds: Counter = Counter()
        self.calls: Counter = Counter()
        self.json_bytes = 0  # size of the appended ocr_json snapshot
        self.anti_join_s = 0.0
        self.pending_docs = 0
        self._active: set[str] = set()
        self._saved: list[tuple[object, str, object]] = []

    def _wrap(self, layer: str, tag: str, fn):
        @functools.wraps(fn)
        def shim(*args, **kwargs):
            if layer in self._active:
                return fn(*args, **kwargs)
            from pyspark import SparkContext

            sc = SparkContext._active_spark_context
            prev = sc.getLocalProperty("spark.job.description") if sc else None
            if sc:
                sc.setJobDescription(tag)
            self._active.add(layer)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds[layer] += time.perf_counter() - t0
                self.calls[layer] += 1
                self._active.discard(layer)
                if sc:
                    sc.setJobDescription(prev)

        return shim

    def _patch(self, owner, name: str, layer: str) -> None:
        orig = getattr(owner, name)
        self._saved.append((owner, name, orig))
        setattr(owner, name, self._wrap(layer, f"{layer}:{name}", orig))

    def install(self) -> None:
        self._patch(tables, "append_snapshot", "tables.append")
        for name in ("read_table", "read_table_latest", "read_table_pruned",
                     "read_table_pruned_box"):
            self._patch(tables, name, "tables.read")
        self._patch(tables, "compact_table", "tables.compact")
        self._patch(dedup_ops, "incremental_dedup", "dedup.incremental")
        # pipeline.write_run calls run_extraction by its module-global name
        orig_run = pipeline.run_extraction
        self._saved.append((pipeline, "run_extraction", orig_run))

        def run_extraction(spark, documents, media, lineage=None, **kw):
            res = orig_run(spark, documents, media, lineage=lineage, **kw)
            # the resume anti-join on its own, as one tagged job
            sc = spark.sparkContext
            sc.setJobDescription("resume.anti_join:pending_documents")
            t0 = time.perf_counter()
            self.pending_docs = pipeline.pending_documents(documents, lineage).count()
            self.anti_join_s += time.perf_counter() - t0
            sc.setJobDescription(None)
            return res

        pipeline.run_extraction = self._wrap("pipeline.run_extraction",
                                             "pipeline.run_extraction", run_extraction)

        # the ocr_json snapshot is the reference-shaped output document payload
        append = tables.append_snapshot

        @functools.wraps(append)
        def sized_append(df, root, name, *a, **kw):
            snap = append(df, root, name, *a, **kw)
            if name == "ocr_json":
                self.json_bytes += _dir_bytes(snap)
            return snap

        tables.append_snapshot = sized_append

    def uninstall(self) -> None:
        # restore in reverse so a name patched twice ends at its original
        for owner, name, orig in reversed(self._saved):
            setattr(owner, name, orig)
        self._saved.clear()

    def metrics(self) -> dict:
        s, c = self.seconds, self.calls
        return {
            "tables.append_s": (s["tables.append"], "s"),
            "tables.append_calls": (c["tables.append"], "count"),
            "tables.read_s": (s["tables.read"], "s"),
            "tables.compact_s": (s["tables.compact"], "s"),
            "output_doc.json_mb": (self.json_bytes / MB, "MB"),
            "resume.anti_join_s": (self.anti_join_s, "s"),
            "dedup.incremental_s": (s["dedup.incremental"], "s"),
        }


def _walk_plan(node: dict, out: list) -> None:
    out.append(node)
    for ch in node.get("children", []):
        _walk_plan(ch, out)


def parse_event_log(path: str) -> dict:
    """Job/task/shuffle totals and the Python-UDF (MapInPandas) stage's
    volume and task skew from one Spark event log file."""
    jobs = 0
    tagged: Counter = Counter()
    tasks = failures = 0
    cpu_ns = gc_ms = shuffle_w = shuffle_r = spill = 0
    udf_sent_ids: set[int] = set()
    udf_rows_ids: set[int] = set()
    udf_sent = udf_rows = 0
    stage_task_ms: dict[int, list[int]] = defaultdict(list)
    udf_stages: set[int] = set()
    with open(path) as f:
        events = [json.loads(line) for line in f]
    # AQE publishes the plan nodes a stage ran in an adaptive update that may
    # follow the stage's tasks, so collect the UDF's accumulator ids first
    for ev in events:
        if ev["Event"].endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            nodes: list = []
            _walk_plan(ev["sparkPlanInfo"], nodes)
            for n in nodes:
                if n.get("nodeName") != "MapInPandas":
                    continue
                for m in n.get("metrics", []):
                    if m["name"] == "data sent to Python workers":
                        udf_sent_ids.add(m["accumulatorId"])
                    elif m["name"] == "number of output rows":
                        udf_rows_ids.add(m["accumulatorId"])
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jobs += 1
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            tagged[desc.split(":", 1)[0].split(".", 1)[0] or "untagged"] += 1
        elif kind == "SparkListenerTaskEnd":
            tasks += 1
            info = ev["Task Info"]
            if ev["Task End Reason"]["Reason"] != "Success" or info.get("Failed"):
                failures += 1
            tm = ev.get("Task Metrics") or {}
            cpu_ns += tm.get("Executor CPU Time", 0)
            gc_ms += tm.get("JVM GC Time", 0)
            spill += tm.get("Disk Bytes Spilled", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            shuffle_r += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            shuffle_w += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            stage = ev["Stage ID"]
            stage_task_ms[stage].append(info["Finish Time"] - info["Launch Time"])
            for acc in info.get("Accumulables", []):
                if acc["ID"] in udf_sent_ids:
                    udf_sent += int(acc.get("Update", 0))
                    udf_stages.add(stage)
                elif acc["ID"] in udf_rows_ids:
                    udf_rows += int(acc.get("Update", 0))
    skew = 0.0
    if udf_stages:
        # the OCR stage = the Python stage with the most tasks
        durs = max((stage_task_ms[s] for s in udf_stages), key=len)
        skew = max(durs) / max(1.0, statistics.median(durs))
    return {
        "pipeline.spark_jobs": (jobs, "count"),
        "tables.spark_jobs": (tagged["tables"], "count"),
        "spark.tasks": (tasks, "count"),
        "spark.task_failures": (failures, "count"),
        "spark.executor_cpu_s": (cpu_ns / 1e9, "s"),
        "spark.gc_s": (gc_ms / 1000, "s"),
        "spark.shuffle_write_mb": (shuffle_w / MB, "MB"),
        "spark.shuffle_read_mb": (shuffle_r / MB, "MB"),
        "spark.spill_mb": (spill / MB, "MB"),
        "spark.ocr_task_skew": (skew, "ratio"),
        "ocr_udf.bytes_to_python_mb": (udf_sent / MB, "MB"),
        "ocr_udf.rows": (udf_rows, "count"),
    }
