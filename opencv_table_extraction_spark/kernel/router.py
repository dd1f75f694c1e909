"""Scan-turn router + transcriber A16-A17 — the one operator the reference
actually encodes (test2.py:1-13).

Contract preserved from the reference prompt fragment:
  * STEP 1 VISUAL ANALYSIS (test2.py:3-5): per-page binary classification
    "significant handwritten text (e.g., filled forms, letters, notes)"
    vs not, with the explicit suppression rule "A single signature at the
    bottom does NOT trigger Handwriting Mode" (test2.py:5).
  * STEP 2 EXECUTION (test2.py:6-10): strictly apply exactly ONE protocol
    — handwriting (test2.py:8) OR ocr (test2.py:10).
  * FINAL OUTPUT RULE (test2.py:11-12): "Output ONLY the transcribed
    text. Do not explain which mode you chose." — routing metadata never
    leaks into extracted_text.

The reference delegates recognition to an external LLM; no model exists
in this sandbox, so the recognizer is a pluggable interface whose
deterministic default transcribes the payload's carried text
(SURVEY.md §7.4). The VISUAL ANALYSIS step is real: ink regions are
rasterized and the decision is made from pixel evidence (ink area,
region count, bottom-band geometry), not from a label in the payload.

Scan payload convention (produced by fixtures/gen.py):

    [[scan]] w=<W> h=<H>
    region x=<x> y=<y> w=<w> h=<h> d=<density 0..1>
    ...
    [[/scan]]
    <transcript text>
"""

from __future__ import annotations

import re

import numpy as np

__all__ = ["parse_scan", "render_scan", "route_page", "transcribe"]

_HEAD = re.compile(r"\[\[scan\]\]\s+w=(\d+)\s+h=(\d+)")
_REGION = re.compile(
    r"region\s+x=(\d+)\s+y=(\d+)\s+w=(\d+)\s+h=(\d+)\s+d=([0-9.]+)"
)
_END = re.compile(r"\[\[/scan\]\]\n?")

# decision thresholds (deterministic stand-in for test2.py:4-5 semantics)
MIN_REGION_INK_PX = 150        # a region with less ink is not "text"
SIGNATURE_BAND_FRAC = 0.75     # bottom 25% of the page
SIGNATURE_MAX_AREA_FRAC = 0.15 # a signature is small relative to the page


def parse_scan(text: str) -> tuple[int, int, np.ndarray, str]:
    """Parse a scan payload -> (W, H, regions[n,5] float64, transcript)."""
    mh = _HEAD.search(text)
    me = _END.search(text)
    if not mh or not me:
        raise ValueError("malformed scan payload")
    W, H = int(mh.group(1)), int(mh.group(2))
    body = text[mh.end() : me.start()]
    regs = [
        (float(m.group(1)), float(m.group(2)), float(m.group(3)),
         float(m.group(4)), float(m.group(5)))
        for m in _REGION.finditer(body)
    ]
    transcript = text[me.end() :]
    return W, H, np.array(regs, dtype=np.float64).reshape(-1, 5), transcript


from functools import lru_cache


@lru_cache(maxsize=8)
def _dither_pattern(H: int, W: int) -> np.ndarray:
    # (y*7 + x*3) % 16 in uint8, one byte per pixel: each term is
    # reduced mod 16 first, so their sum (< 32) cannot wrap
    y = (np.arange(H) * 7 % 16).astype(np.uint8)
    x = (np.arange(W) * 3 % 16).astype(np.uint8)
    return (y[:, None] + x) % 16


def render_scan(W: int, H: int, regions: np.ndarray) -> np.ndarray:
    """Rasterize ink regions as dithered strokes at the given density.

    Returns the page's bool ink mask (ink = True). Deterministic
    Bayer-style dither: within a region of density d, pixel (y, x) is ink
    iff ((y * 7 + x * 3) % 16) < d * 16. Gives ink pixel counts
    proportional to d * area without randomness. The pattern is cached
    per page size (pages in a batch share dimensions).
    """
    ink = np.zeros((H, W), dtype=bool)
    pattern = _dither_pattern(H, W)
    for x, y, w, h, d in regions:
        x0, y0 = int(x), int(y)
        x1, y1 = min(W, x0 + int(w)), min(H, y0 + int(h))
        ink[y0:y1, x0:x1] |= pattern[y0:y1, x0:x1] < d * 16
    return ink


def route_page(text: str) -> tuple[str, str]:
    """STEP 1 (test2.py:3-5): classify a scan page from pixel evidence.

    Returns (mode, transcript) with mode in {'handwriting', 'ocr'}.
    Significant handwriting := >= 2 inked text regions, OR a single inked
    region that is NOT signature-like (signature-like = sits in the
    bottom page band AND covers a small fraction of the page — the
    test2.py:5 carve-out).
    """
    W, H, regions, transcript = parse_scan(text)
    ink = render_scan(W, H, regions)
    inked = []
    for x, y, w, h, _ in regions:
        x0, y0 = int(x), int(y)
        x1, y1 = min(W, x0 + int(w)), min(H, y0 + int(h))
        ink_px = int(np.count_nonzero(ink[y0:y1, x0:x1]))
        if ink_px >= MIN_REGION_INK_PX:
            inked.append((x0, y0, x1 - x0, y1 - y0, ink_px))
    if len(inked) >= 2:
        return "handwriting", transcript
    if len(inked) == 1:
        x0, y0, w, h, _ = inked[0]
        in_bottom_band = y0 >= SIGNATURE_BAND_FRAC * H
        small = (w * h) <= SIGNATURE_MAX_AREA_FRAC * (W * H)
        if in_bottom_band and small:
            return "ocr", transcript  # single signature: no Handwriting Mode
        return "handwriting", transcript
    return "ocr", transcript


class Recognizer:
    """The pluggable recognition seam the reference delegates to an LLM
    (test2.py:8 `prompt_handwriting`, test2.py:10 `prompt_ocr` — both
    external to its repo, exactly like this interface). A deployment
    provides one callable per protocol; each receives the page payload
    and must return ONLY transcribed text (test2.py:11-12)."""

    def handwriting(self, transcript: str) -> str:  # pragma: no cover - seam
        raise NotImplementedError

    def ocr(self, transcript: str) -> str:  # pragma: no cover - seam
        raise NotImplementedError


class StubRecognizer(Recognizer):
    """Deterministic sandbox recognizer: returns the payload-carried
    transcript for both protocols, so per-turn equality is exact and
    meaningful without a model (SURVEY.md §7.4)."""

    def handwriting(self, transcript: str) -> str:
        return transcript.strip()

    def ocr(self, transcript: str) -> str:
        return transcript.strip()


DEFAULT_RECOGNIZER = StubRecognizer()


def transcribe(mode: str, transcript: str, recognizer: Recognizer | None = None) -> str:
    """STEP 2 + FINAL OUTPUT RULE (test2.py:6-12): strictly apply
    exactly ONE protocol; output is the transcribed text only — the
    chosen mode is never mentioned in the output."""
    r = recognizer or DEFAULT_RECOGNIZER
    if mode == "handwriting":
        return r.handwriting(transcript)
    if mode == "ocr":
        return r.ocr(transcript)
    raise ValueError(f"unknown protocol: {mode}")
