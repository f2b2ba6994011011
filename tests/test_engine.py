"""Unit tests for the OCR inner loop — mirrors SURVEY.md §5 item 2:
tiling boundaries, planner thresholds, dedup keep-higher/retro-evict,
IoU geometry, drop-score floor, CLAHE recovery, fallback adoption."""

import pytest

from chapterbridge_ocr_worker_spark.engine.fakeimg import FakeLine, decode, encode
from chapterbridge_ocr_worker_spark.engine.inner import (
    bbox_iou,
    choose_plan,
    deduplicate_lines,
    lines_to_text,
    run_adaptive,
    text_similarity,
    tile_spans,
)
from chapterbridge_ocr_worker_spark.engine.stub import StubEngine


def box(x0, y0, x1, y1):
    return [[x0, y0], [x1, y0], [x1, y1], [x0, y1]]


def test_fakeimg_roundtrip():
    lines = [FakeLine(10, 20, 100, 30, 200, "héllo wörld")]
    img = decode(encode(800, 3000, lines))
    assert (img.width, img.height) == (800, 3000)
    assert img.lines[0].text == "héllo wörld"


def test_fakeimg_corrupt_raises():
    with pytest.raises(ValueError):
        decode(b"\x89PNG not a fake image")
    with pytest.raises(ValueError):
        decode(encode(10, 10, [FakeLine(0, 0, 5, 5, 100, "x")])[:-3])


def test_choose_plan_thresholds():
    # reference ocr_engine.py:485-505: <=3500 NO_TILE, <=12000 TILE_MED, else TILE_LONG
    assert choose_plan(800, 3500)["strategy"] == "NO_TILE"
    assert choose_plan(800, 3501)["strategy"] == "TILE_MED"
    assert choose_plan(800, 12000)["strategy"] == "TILE_MED"
    assert choose_plan(800, 12001)["strategy"] == "TILE_LONG"
    assert choose_plan(800, 3501)["tile_height"] == 2200
    assert choose_plan(800, 12001)["tile_height"] == 1800


def test_tile_spans_boundaries():
    # height <= tile -> single band (reference ocr_engine.py:86-87)
    assert tile_spans(1000, 1400, 200) == [(0, 1000)]
    bands = tile_spans(5000, 2200, 250)
    assert bands[0] == (0, 2200)
    # next starts overlap px before previous end (ocr_engine.py:92-102)
    for (a0, a1), (b0, b1) in zip(bands, bands[1:]):
        assert b0 == a1 - 250
    assert bands[-1][1] == 5000
    # full cover
    assert bands[0][0] == 0


def test_bbox_iou_geometry():
    assert bbox_iou(box(0, 0, 10, 10), box(20, 20, 30, 30)) == 0.0
    assert bbox_iou(box(0, 0, 10, 10), box(0, 0, 10, 10)) == 1.0
    # edge-touching boxes intersect with zero area -> IoU 0
    assert bbox_iou(box(0, 0, 10, 10), box(10, 0, 20, 10)) == 0.0
    assert abs(bbox_iou(box(0, 0, 10, 10), box(5, 0, 15, 10)) - (50 / 150)) < 1e-9


def test_text_similarity_is_sequencematcher():
    assert text_similarity("Hello", "  hello ") == 1.0
    assert text_similarity("abc", "xyz") == 0.0


def test_dedup_keeps_higher_confidence():
    l_low = {"text": "same words", "confidence": 0.5, "bbox": box(0, 0, 100, 20)}
    l_high = {"text": "same words", "confidence": 0.9, "bbox": box(2, 1, 101, 21)}
    kept = deduplicate_lines([l_low, l_high])
    assert kept == [l_high]
    kept = deduplicate_lines([l_high, l_low])
    assert kept == [l_high]


def test_dedup_requires_both_iou_and_text():
    a = {"text": "alpha beta", "confidence": 0.9, "bbox": box(0, 0, 100, 20)}
    b = {"text": "totally different words", "confidence": 0.8, "bbox": box(1, 1, 100, 20)}
    assert len(deduplicate_lines([a, b])) == 2  # overlapping but different text
    c = {"text": "alpha beta", "confidence": 0.8, "bbox": box(0, 500, 100, 520)}
    assert len(deduplicate_lines([a, c])) == 2  # same text, far apart


def test_dedup_keeps_both_below_iou_threshold():
    # IoU ~0.55 is under the adaptive path's 0.6 threshold: both boxes stay
    a = {"text": "hello there", "confidence": 0.9, "bbox": box(0, 0, 100, 20)}
    b = {"text": "hello there", "confidence": 0.8, "bbox": box(0, 6, 100, 26)}
    assert 0.5 < bbox_iou(a["bbox"], b["bbox"]) < 0.6
    assert len(deduplicate_lines([a, b], iou_threshold=0.6)) == 2


def test_adaptive_no_tile_reading_order():
    eng = StubEngine()
    lines = [
        FakeLine(300, 100, 100, 30, 200, "second on row"),
        FakeLine(10, 100, 100, 30, 200, "first on row"),
        FakeLine(10, 500, 100, 30, 200, "below"),
    ]
    res = run_adaptive(encode(800, 2000, lines), eng)
    assert res["strategy"] == "NO_TILE"
    assert [l["text"] for l in res["lines"]] == [
        "first on row",
        "second on row",
        "below",
    ]


def test_adaptive_tiled_dedups_overlap():
    eng = StubEngine()
    # 5000px image (TILE_MED, tile 2200, overlap 250): a line in the overlap
    # band [1950, 2200) is seen by both tiles -> must appear once.
    lines = [
        FakeLine(10, 100, 200, 30, 200, "top line"),
        FakeLine(10, 2000, 200, 30, 200, "overlap line"),
        FakeLine(10, 2060, 200, 30, 210, "overlap line two"),
        FakeLine(10, 3000, 200, 30, 200, "mid line"),
        FakeLine(10, 4500, 200, 30, 200, "bottom line"),
    ]
    res = run_adaptive(encode(800, 5000, lines), eng)
    texts = [l["text"] for l in res["lines"]]
    assert texts == ["top line", "overlap line", "overlap line two", "mid line", "bottom line"]


def test_adaptive_clahe_recovers_low_contrast():
    eng = StubEngine()
    # contrast 40 -> conf 0.05+0.9*40/255 ≈ 0.19 < 0.3 floor: invisible in
    # pass A; tile then has <2 lines -> bad tile -> pass B enhanced
    # (40+96=136 -> conf ≈ 0.53) recovers it.
    lines = [FakeLine(10, 4000, 200, 30, 40, "faint whisper")]
    res = run_adaptive(encode(800, 5000, lines), eng)
    texts = [l["text"] for l in res["lines"]]
    assert "faint whisper" in texts


def test_adaptive_determinism():
    eng = StubEngine()
    data = encode(
        900,
        13000,
        [FakeLine(5, y, 300, 30, 150 + (y % 80), f"line at {y}") for y in range(50, 12900, 400)],
    )
    r1 = run_adaptive(data, eng)
    r2 = run_adaptive(data, eng)
    assert r1 == r2
    assert r1["strategy"] == "TILE_LONG"
    assert lines_to_text(r1["lines"]) == lines_to_text(r2["lines"])


def test_confidence_rounded_4():
    eng = StubEngine()
    res = run_adaptive(encode(800, 1000, [FakeLine(0, 10, 50, 20, 123, "x")]), eng)
    for ln in res["lines"]:
        assert ln["confidence"] == round(ln["confidence"], 4)
