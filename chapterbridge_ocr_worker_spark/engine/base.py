"""Pluggable OCR engine interface + per-worker singleton.

The reference holds one global PaddleOCR instance, lazily created and warmed
at daemon start (reference workers/ocr/ocr_engine.py:16,22-69;
main.py:227-230). In Spark the same pattern lives at module level inside the
Python worker process: ``get_engine()`` initializes once per worker, and
``spark.python.worker.reuse=true`` + iterator-style ``mapInPandas`` amortize
it over every Arrow batch of every task the worker runs.
"""

from __future__ import annotations

import os
from typing import Any, Protocol

# A detected line: {"text": str, "confidence": float, "bbox": [[x,y]*4]}
LineDict = dict[str, Any]


class Engine(Protocol):
    """Minimal surface the adaptive pipeline needs from any OCR backend."""

    def decode(self, data: bytes) -> Any:
        """bytes -> decoded image object; raises ValueError on corrupt input."""

    def dimensions(self, image: Any) -> tuple[int, int]:
        """(width, height) of a decoded image."""

    def crop(self, image: Any, y_start: int, y_end: int) -> Any:
        """Horizontal band [y_start, y_end) of the image (a tile)."""

    def enhance(self, tile: Any) -> Any:
        """CLAHE-style contrast enhancement of a tile (pass B / fallback)."""

    def recognize(self, tile: Any) -> list[LineDict]:
        """Detected lines in TILE-LOCAL coordinates, confidence in [0,1].

        Lines below the drop-score floor must already be filtered (the
        reference sets drop_score=0.3 inside PaddleOCR params,
        ocr_engine.py:50).
        """


_ENGINE: Engine | None = None


def get_engine() -> Engine:
    """Lazy per-process singleton; backend chosen by OCR_ENGINE env var."""
    global _ENGINE
    if _ENGINE is None:
        backend = os.environ.get("OCR_ENGINE", "stub")
        if backend == "stub":
            from .stub import StubEngine

            _ENGINE = StubEngine()
        elif backend == "paddle":
            from .paddle import PaddleEngine

            _ENGINE = PaddleEngine()
        else:
            raise ValueError(f"unknown OCR_ENGINE backend: {backend!r}")
    return _ENGINE


def reset_engine() -> None:
    """Test helper: drop the singleton so the next call re-initializes."""
    global _ENGINE
    _ENGINE = None
