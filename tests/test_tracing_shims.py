"""perfbench's tracing shims wrap the table, pipeline and dedup layers'
entry points by attribute name. Installing them must find every one of
those names, and uninstalling must put every original back, so a renamed
entry point fails here rather than only in a traced benchmark run."""

import os

from chapterbridge_ocr_worker_spark import pipeline
from chapterbridge_ocr_worker_spark.operators import dedup
from chapterbridge_ocr_worker_spark.sources import tables

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench")

PATCHED = [
    (tables, "append_snapshot"),
    (tables, "read_table"),
    (tables, "read_table_latest"),
    (tables, "read_table_pruned"),
    (tables, "read_table_pruned_box"),
    (tables, "compact_table"),
    (dedup, "incremental_dedup"),
    (pipeline, "run_extraction"),
]


def test_tracing_shims_install_and_uninstall_restore(monkeypatch):
    monkeypatch.syspath_prepend(PERFBENCH)
    import tracing

    originals = [getattr(owner, name) for owner, name in PATCHED]
    shims = tracing.Shims()
    shims.install()
    try:
        for (owner, name), orig in zip(PATCHED, originals):
            assert getattr(owner, name) is not orig, name
    finally:
        shims.uninstall()
    for (owner, name), orig in zip(PATCHED, originals):
        assert getattr(owner, name) is orig, name
