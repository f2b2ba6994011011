"""Seeded inputs for the benchmark workloads, built on ``datagen``.

The seed varies content (page heights, line layout, text, padding bytes,
which prior doc a near-duplicate copies); the SHAPE of each workload is fixed
(docs, spans per doc, page-class mix, corrupt docs, planted duplicates), so
the work a run does barely changes from seed to seed and run-to-run spread
comes from the system, not from the draw.
"""

from __future__ import annotations

import hashlib
import random

from chapterbridge_ocr_worker_spark import datagen
from chapterbridge_ocr_worker_spark.engine import fakeimg

# One padding byte per this many pixels: fakeimg.decode stops after the last
# line record, so trailing bytes give blobs a size proportional to the page
# area (as an encoded image has) without changing what the engine reads.
PIXELS_PER_BYTE = 128

# 50-slot doc pattern in datagen's default mix: slot 0 is a media-heavy doc
# (datagen's 2% skew tail), the others have 1-12 spans with ~30% media.
_SLOTS = [(32, 26)] + [
    (n, round(0.3 * n)) for n in (1 + (i * 7) % 12 for i in range(1, 50))
]
# page-height classes in datagen's 75/20/5 mix, dealt from a shuffled deck
_CLASS_DECK = ["short"] * 15 + ["med"] * 4 + ["long"]
# one doc in CORRUPT_EVERY carries a corrupt first page (dead-letter path)
CORRUPT_EVERY = 200
_CORRUPT_SLOT = 7


def doc_id(d: int) -> str:
    return f"work{d % 97:04d}-ed{d % 7:02d}-doc{d:06d}"


def _page(rng: random.Random, hclass: str) -> bytes:
    blob = datagen.make_media_bytes(rng, hclass)
    img = fakeimg.decode(blob)
    pad = img.width * img.height // PIXELS_PER_BYTE - len(blob)
    return blob + rng.randbytes(max(0, pad))


def _media_row(ref: str, content: bytes) -> dict:
    return {
        "media_ref": ref,
        "content": content,
        "byte_size": len(content),
        "sha256": hashlib.sha256(content).hexdigest(),
    }


def extraction_corpus(
    seed: int, first: int, n_docs: int
) -> tuple[list[dict], list[dict], set[str]]:
    """Docs ``first .. first+n_docs-1`` as (documents, media, corrupt_refs),
    rows shaped for schemas.DOCUMENTS / schemas.MEDIA."""
    rng = random.Random(seed * 1_000_003 + first)
    deck: list[str] = []
    docs: list[dict] = []
    media: list[dict] = []
    corrupt: set[str] = set()
    for d in range(first, first + n_docs):
        did = doc_id(d)
        n_spans, n_media = _SLOTS[d % len(_SLOTS)]
        media_at = set(rng.sample(range(n_spans), n_media))
        spans = []
        first_page = True
        for off in range(n_spans):
            if off not in media_at:
                spans.append(
                    {
                        "kind": "text",
                        "text": datagen._text(rng, 5, 30),
                        "media_ref": None,
                        "offset": off,
                    }
                )
                continue
            if rng.random() < 0.05:  # invalid key grammar, as datagen mixes in
                ref = f"blob/opaque/{did}/{off}.bin"
            else:
                ref = (
                    f"raw/manhwa/work{d % 97:04d}/ed{d % 7:02d}/"
                    f"chapter-{d % 500:04d}/page-{d * 100 + off}.jpg"
                )
            if first_page and d % CORRUPT_EVERY == _CORRUPT_SLOT:
                content = b"\x89PNG corrupt" + rng.randbytes(32)
                corrupt.add(ref)
            else:
                if not deck:
                    deck = list(_CLASS_DECK)
                    rng.shuffle(deck)
                content = _page(rng, deck.pop())
            first_page = False
            media.append(_media_row(ref, content))
            spans.append({"kind": "media", "text": None, "media_ref": ref, "offset": off})
        docs.append({"doc_id": did, "spans": spans})
    return docs, media, corrupt


# --- weekly dedup slices -----------------------------------------------------

_VOCAB = [f"{w}{i}" for w in datagen.WORDS for i in range(100)]
DOC_TOKENS = 60
_EDITS = 4  # tokens replaced in a near-duplicate: Jaccard ~0.87 > 0.6


def _fresh_text(rng: random.Random) -> list[str]:
    return rng.sample(_VOCAB, DOC_TOKENS)


def _near_copy(rng: random.Random, toks: list[str]) -> list[str]:
    out = list(toks)
    for pos in rng.sample(range(len(out)), _EDITS):
        out[pos] = rng.choice(_VOCAB)
    return out


def dedup_slices(
    seed: int, n_prior: int, n_new: int, prior_dup_every: int, new_dup_every: int
) -> tuple[list[dict], list[dict]]:
    """(prior_slice, new_slice) rows {doc_id: int, text: str} with
    crawl-ordered ids. Planted near-duplicates: every ``prior_dup_every``-th
    prior doc copies an earlier prior doc; in the new slice every
    ``new_dup_every``-th doc copies a prior doc and the one after it copies
    an earlier doc of the same slice."""
    rng = random.Random(seed * 7_919 + 17)
    toks: list[list[str]] = []
    for i in range(n_prior + n_new):
        if i < n_prior:
            dup_of = rng.randrange(i) if i and i % prior_dup_every == 0 else None
        else:
            j = i - n_prior
            if j % new_dup_every == 0:
                dup_of = rng.randrange(n_prior)
            elif j % new_dup_every == 1 and j > 1:
                dup_of = rng.randrange(n_prior, i)
            else:
                dup_of = None
        toks.append(_fresh_text(rng) if dup_of is None else _near_copy(rng, toks[dup_of]))
    rows = [{"doc_id": i, "text": " ".join(t)} for i, t in enumerate(toks)]
    return rows[:n_prior], rows[n_prior:]
