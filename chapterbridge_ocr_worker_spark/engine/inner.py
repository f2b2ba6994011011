"""The adaptive OCR inner loop — clean-room reimplementation of the
reference's per-image semantics (workers/ocr/ocr_engine.py:508-698
run_ocr_adaptive; :72-106 tile_image; :380-470 bbox_iou/deduplicate_lines;
:473-505 choose_plan), expressed over the pluggable Engine interface so the
same loop runs the stub (CI/goldens) or a real backend.

This module is pure Python + stdlib, deliberately free of Spark imports: it
is the body of the vectorized UDF, and also the golden-fixture generator —
both paths call exactly this code, which is what makes span-sequence
equality achievable (SURVEY.md §7 "hard parts").

Semantics preserved (all env-tunable with the reference's variable names):
- plan thresholds: NO_TILE h<=3500, TILE_MED <=12000 (tile 2200),
  TILE_LONG (tile 1800), overlap 250;
- overlapping horizontal tiles, last-tile break, y_start = y_end - overlap;
- pass A on all tiles -> per-tile stats -> pass B (enhanced) only on tiles
  with line_count < 2 or avg_conf < 0.45;
- greedy spatially-binned dedup with early break at 3x box height,
  IoU > 0.6 AND SequenceMatcher similarity > 0.7, keep-higher-confidence
  with retroactive eviction of the earlier (lower-conf) box;
- whole-image fallback to smaller (1400px) enhanced tiles when the result
  has < 5 lines and strategy != TILE_LONG, adopted only if strictly better;
- final stable sort by (min_y, min_x) reading order;
- confidence already rounded to 4 decimals by the engine.
"""

from __future__ import annotations

import os
from difflib import SequenceMatcher
from typing import Any

from .base import Engine, LineDict

_ENV = os.environ.get


def _env_int(name: str, default: int) -> int:
    return int(_ENV(name, str(default)))


def choose_plan(width: int, height: int) -> dict[str, Any]:
    """Pick NO_TILE / TILE_MED / TILE_LONG from image height."""
    h1 = _env_int("OCR_ADAPTIVE_H1", 3500)
    h2 = _env_int("OCR_ADAPTIVE_H2", 12000)
    if height <= h1:
        return {"strategy": "NO_TILE", "tile_height": None, "overlap": None}
    if height <= h2:
        return {
            "strategy": "TILE_MED",
            "tile_height": _env_int("OCR_TILE_HEIGHT_MED", 2200),
            "overlap": _env_int("OCR_TILE_OVERLAP", 250),
        }
    return {
        "strategy": "TILE_LONG",
        "tile_height": _env_int("OCR_TILE_HEIGHT_LONG", 1800),
        "overlap": _env_int("OCR_TILE_OVERLAP", 250),
    }


def tile_spans(height: int, tile_height: int, overlap: int) -> list[tuple[int, int]]:
    """Overlapping [y_start, y_end) bands covering the image."""
    if height <= tile_height:
        return [(0, height)]
    bands = []
    y_start = 0
    while y_start < height:
        y_end = min(y_start + tile_height, height)
        bands.append((y_start, y_end))
        if y_end >= height:
            break
        y_start = y_end - overlap
    return bands


def bbox_bounds(bbox: list[list[float]]) -> tuple[float, float, float, float]:
    xs = [p[0] for p in bbox]
    ys = [p[1] for p in bbox]
    return min(xs), min(ys), max(xs), max(ys)


def bbox_iou(b1: list[list[float]], b2: list[list[float]]) -> float:
    """Axis-aligned-rectangle IoU of two 4-point boxes."""
    x1a, y1a, x1b, y1b = bbox_bounds(b1)
    x2a, y2a, x2b, y2b = bbox_bounds(b2)
    ix_a, iy_a = max(x1a, x2a), max(y1a, y2a)
    ix_b, iy_b = min(x1b, x2b), min(y1b, y2b)
    if ix_b < ix_a or iy_b < iy_a:
        return 0.0
    inter = (ix_b - ix_a) * (iy_b - iy_a)
    union = (x1b - x1a) * (y1b - y1a) + (x2b - x2a) * (y2b - y2a) - inter
    return inter / union if union > 0 else 0.0


def text_similarity(t1: str, t2: str) -> float:
    """Effective similarity in the reference is SequenceMatcher on
    lower/strip (the later def at ocr_engine.py:415-417 shadows the Jaccard
    one — noted in SURVEY.md §2.3 F8)."""
    return SequenceMatcher(None, t1.lower().strip(), t2.lower().strip()).ratio()


def deduplicate_lines(
    lines: list[LineDict],
    iou_threshold: float = 0.6,
    text_sim_threshold: float = 0.7,
) -> list[LineDict]:
    """Greedy NMS over y-sorted candidates with spatial early-break.

    A later candidate that overlaps a kept one (IoU AND text similarity over
    thresholds) is dropped if its confidence is <= the kept one's; otherwise
    the kept (earlier, lower-confidence) one is retroactively evicted.
    """
    if len(lines) <= 1:
        return list(lines)
    ordered = sorted(lines, key=lambda l: bbox_bounds(l["bbox"])[1])
    keep: list[LineDict] = []
    dropped: set[int] = set()
    for i, line1 in enumerate(ordered):
        if i in dropped:
            continue
        keep.append(line1)
        _, y1_min, _, y1_max = bbox_bounds(line1["bbox"])
        box_h = y1_max - y1_min
        for j in range(i + 1, len(ordered)):
            if j in dropped:
                continue
            line2 = ordered[j]
            y2_min = bbox_bounds(line2["bbox"])[1]
            if y2_min > y1_max + box_h * 3:
                break
            if bbox_iou(line1["bbox"], line2["bbox"]) > iou_threshold and (
                text_similarity(line1["text"], line2["text"]) > text_sim_threshold
            ):
                if line2.get("confidence", 0) > line1.get("confidence", 0):
                    keep.pop()
                    dropped.add(i)
                    break
                dropped.add(j)
    return keep


def _reading_order(lines: list[LineDict]) -> list[LineDict]:
    """Stable sort by (min_y, min_x) — reference ocr_engine.py:684."""
    lines.sort(key=lambda l: (bbox_bounds(l["bbox"])[1], bbox_bounds(l["bbox"])[0]))
    return lines


def _translate(lines: list[LineDict], y_start: int) -> list[LineDict]:
    for ln in lines:
        ln["bbox"] = [[p[0], p[1] + y_start] for p in ln["bbox"]]
    return lines


def run_adaptive(data: bytes, engine: Engine) -> dict[str, Any]:
    """Full adaptive pipeline for one media blob.

    Returns {"width", "height", "strategy", "lines"} where lines are global
    coordinate, deduplicated, reading-ordered dicts {text, confidence, bbox}.
    Raises ValueError on undecodable input (caller dead-letters it).
    """
    image = engine.decode(data)
    width, height = engine.dimensions(image)
    plan = choose_plan(width, height)
    strategy = plan["strategy"]

    if strategy == "NO_TILE":
        lines = engine.recognize(engine.crop(image, 0, height))
        return {
            "width": width,
            "height": height,
            "strategy": strategy,
            "lines": _reading_order(lines),
        }

    tile_height, overlap = plan["tile_height"], plan["overlap"]
    bands = tile_spans(height, tile_height, overlap)

    all_lines: list[LineDict] = []
    tile_stats: list[dict[str, Any]] = []
    for idx, (y0, y1) in enumerate(bands):
        pass_a = _translate(engine.recognize(engine.crop(image, y0, y1)), y0)
        n = len(pass_a)
        avg_conf = sum(l["confidence"] for l in pass_a) / n if n else 0.0
        tile_stats.append({"index": idx, "line_count": n, "avg_conf": avg_conf})
        all_lines.extend(pass_a)

    bad_n = _env_int("OCR_TILE_BAD_LINECOUNT", 2)
    bad_conf = float(_ENV("OCR_TILE_BAD_AVGCONF", "0.45"))
    for stat in tile_stats:
        if stat["line_count"] < bad_n or stat["avg_conf"] < bad_conf:
            y0, y1 = bands[stat["index"]]
            enhanced = engine.enhance(engine.crop(image, y0, y1))
            all_lines.extend(_translate(engine.recognize(enhanced), y0))

    iou_thr = float(_ENV("OCR_IOU_THRESHOLD", "0.6"))
    sim_thr = float(_ENV("OCR_TEXT_SIM_THRESHOLD", "0.7"))
    deduped = deduplicate_lines(all_lines, iou_thr, sim_thr)

    min_lines = _env_int("OCR_FALLBACK_MIN_LINES", 5)
    if len(deduped) < min_lines and strategy != "TILE_LONG":
        fb_tile = _env_int("OCR_FALLBACK_TILE_HEIGHT_SMALL", 1400)
        fb_lines: list[LineDict] = []
        for y0, y1 in tile_spans(height, fb_tile, overlap):
            enhanced = engine.enhance(engine.crop(image, y0, y1))
            fb_lines.extend(_translate(engine.recognize(enhanced), y0))
        fb_deduped = deduplicate_lines(fb_lines, iou_thr, sim_thr)
        if len(fb_deduped) > len(deduped):  # strictly better only
            deduped = fb_deduped
            strategy = "FALLBACK"

    return {
        "width": width,
        "height": height,
        "strategy": strategy,
        "lines": _reading_order(deduped),
    }


def lines_to_text(lines: list[LineDict]) -> str:
    """Reading-order line texts joined with newlines — the text that
    replaces a media span's content in the output document."""
    return "\n".join(l["text"] for l in lines)
