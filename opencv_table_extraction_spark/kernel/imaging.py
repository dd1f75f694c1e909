"""Imaging primitives A3-A10 (SURVEY.md §2.A), pure NumPy.

Parity contract: these reimplement, from public algorithm definitions, the
OpenCV calls the reference repo's title promises but whose code is absent
from its tree (reference = README.md:1 + test2.py:1-13 only; see
SURVEY.md §0). Semantics follow the canonical OpenCV recipe "Extract
horizontal and vertical lines by using morphological operations":

  cv2.cvtColor(BGR2GRAY)                        -> to_gray
  cv2.threshold(THRESH_BINARY_INV|THRESH_OTSU)  -> otsu_threshold
  cv2.adaptiveThreshold(~g, MEAN_C, 15, -2)     -> adaptive_threshold
  open with (cols//scale, 1) / (1, rows//scale) -> morph_open_h / morph_open_v
  cv2.bitwise_and(h, v)                         -> mask_intersect
  cv2.add(h, v)                                 -> grid_mask

Both line SEs are 1-D, and a 1-D opening (erode with out-of-image = ink,
then dilate by the reflected SE) keeps exactly the whole foreground runs
whose border-extended length is at least the SE length k: erosion
(anchor l, r = (k-1)//2, k//2) shrinks a run [a, b) to [a+l, b-r), and
the reflected dilation grows it back by (r, l). So the openings are
filters over ``runs``, the kernel's one run extractor (connected
components label the same runs); cost is one pass over the canvas,
independent of the SE size.

Every stage after ``to_gray`` works on one mask format: a bool array,
ink = True, background = False.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "to_gray",
    "otsu_threshold",
    "adaptive_threshold",
    "runs",
    "morph_open_h",
    "morph_open_v",
    "mask_intersect",
    "grid_mask",
]

_LUMA = np.array([0.299, 0.587, 0.114], dtype=np.float64)


def to_gray(img: np.ndarray) -> np.ndarray:
    """BT.601 luma conversion; pass-through for already-gray images."""
    if img.ndim == 2:
        return np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError(f"expected HxW or HxWx3, got {img.shape}")
    g = img.astype(np.float64) @ _LUMA
    return np.clip(np.rint(g), 0, 255).astype(np.uint8)


def otsu_threshold(gray: np.ndarray) -> tuple[int, np.ndarray]:
    """Otsu (1979) global threshold, inverted binary (ink -> True).

    Maximizes inter-class variance over the 256-bin histogram; class 0 is
    bins [0..t]. Ties resolve to the smallest t (np.argmax), so the result
    is deterministic. Matches THRESH_BINARY_INV: pixels <= t are ink.

    With <=2 gray levels sigma_b is 0 outside [lo, hi) and constant inside,
    so argmax = lo (0 for one level or none), found from min/max and two
    counts without the histogram: rendered tables are pure {0, 255}.
    """
    lo, hi = (int(gray.min()), int(gray.max())) if gray.size else (0, 0)
    if lo == hi:
        return 0, gray <= 0
    ink = gray <= lo
    if np.count_nonzero(ink) + np.count_nonzero(gray == hi) == gray.size:
        return lo, ink
    hist = np.bincount(gray.ravel(), minlength=256).astype(np.float64)
    total = hist.sum()
    p = hist / total
    omega = np.cumsum(p)
    mu = np.cumsum(p * np.arange(256, dtype=np.float64))
    mu_t = mu[-1]
    denom = omega * (1.0 - omega)
    sigma_b = np.zeros(256, dtype=np.float64)
    valid = denom > 1e-12
    sigma_b[valid] = (mu_t * omega[valid] - mu[valid]) ** 2 / denom[valid]
    thr = int(np.argmax(sigma_b))
    return thr, gray <= thr


def adaptive_threshold(
    gray: np.ndarray, block: int = 15, C: int = -2
) -> np.ndarray:
    """Mean-of-neighborhood adaptive threshold, inverted binary (ink=True).

    Equivalent to the public recipe
    ``cv2.adaptiveThreshold(~gray, 255, ADAPTIVE_THRESH_MEAN_C,
    THRESH_BINARY, block, C)``: working on the photometric inverse, a
    pixel is ink iff inv(x) > local_mean(inv) - C. Local mean is computed
    with an integral image over the window clipped to the image (border
    windows average only in-bounds pixels), O(H*W) independent of block.
    """
    if block < 3 or block % 2 == 0:
        raise ValueError("block must be an odd integer >= 3")
    inv = (255 - gray).astype(np.float64)
    H, W = inv.shape
    ii = np.zeros((H + 1, W + 1), dtype=np.float64)
    np.cumsum(np.cumsum(inv, axis=0), axis=1, out=ii[1:, 1:])
    r = block // 2
    ys = np.arange(H)
    xs = np.arange(W)
    y0 = np.clip(ys - r, 0, H)[:, None]
    y1 = np.clip(ys + r + 1, 0, H)[:, None]
    x0 = np.clip(xs - r, 0, W)[None, :]
    x1 = np.clip(xs + r + 1, 0, W)[None, :]
    s = ii[y1, x1] - ii[y0, x1] - ii[y1, x0] + ii[y0, x0]
    cnt = (y1 - y0) * (x1 - x0)
    mean = s / cnt
    return inv > mean - C


def runs(fg: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Every foreground run of a boolean mask, one pass over the canvas.

    The mask is copied into a flat buffer of H*(W+1)+1 bools, a False guard
    before each row and one False at the end, so the edges buf[i] != buf[i+1]
    alternate start, end at column i - row*(W+1). Returns (row, start, end)
    int64 arrays, end exclusive, sorted by (row, start).
    """
    H, W = fg.shape
    buf = np.zeros(H * (W + 1) + 1, dtype=bool)
    buf[:-1].reshape(H, W + 1)[:, 1:] = fg
    edges = np.flatnonzero(buf[1:] != buf[:-1])
    starts, ends = edges[0::2], edges[1::2]
    rows = starts // (W + 1)
    return rows, starts - rows * (W + 1), ends - rows * (W + 1)


def _open_rows(fg: np.ndarray, k: int) -> tuple[list[int], list[int], list[int]]:
    """Opening of each row by a (1, k) SE as a filter over ``runs(fg)``:
    a run survives whole iff its border-extended length is >= k, where
    out-of-image pixels count as ink for the erosion, extending a run
    that touches the left border by l = (k-1)//2 and the right border by
    r = k//2. Returns the kept runs as (row, start, end) lists: only the
    line strokes, so the caller paints them in a short loop."""
    W = fg.shape[1]
    l, r = (k - 1) // 2, k // 2
    row, s, e = runs(fg)
    keep = (e - s) + l * (s == 0) + r * (e == W) >= k
    return row[keep].tolist(), s[keep].tolist(), e[keep].tolist()


def morph_open_h(ink: np.ndarray, scale: int = 20, min_k: int = 9) -> np.ndarray:
    """Keep only horizontal line strokes: open with SE (1, W//scale).

    min_k = 9: noise specks are 2px and glyph dashes are 3px, so even a
    chain of three specks plus a dash (8px) cannot masquerade as a line
    stroke; real grid lines are always far longer than 9px."""
    k = max(min_k, ink.shape[1] // scale)
    out = np.zeros(ink.shape, dtype=bool)
    for y, a, b in zip(*_open_rows(ink, k)):
        out[y, a:b] = True
    return out


def morph_open_v(ink: np.ndarray, scale: int = 20, min_k: int = 9) -> np.ndarray:
    """Keep only vertical line strokes: open with SE (H//scale, 1).

    The runs of ``ink.T`` are painted as ``out[a:b, x]`` into an (H, W)
    array: C-contiguous by construction, as ``grid_mask``'s OR needs."""
    k = max(min_k, ink.shape[0] // scale)
    out = np.zeros(ink.shape, dtype=bool)
    for x, a, b in zip(*_open_rows(ink.T, k)):
        out[a:b, x] = True
    return out


def mask_intersect(h_mask: np.ndarray, v_mask: np.ndarray) -> np.ndarray:
    """Grid joints = horizontal AND vertical line masks (cv2.bitwise_and)."""
    return h_mask & v_mask


def grid_mask(h_mask: np.ndarray, v_mask: np.ndarray) -> np.ndarray:
    """Full line lattice = horizontal OR vertical line masks (cv2.add)."""
    return h_mask | v_mask
