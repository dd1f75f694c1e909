"""Imaging primitives A3-A10 (SURVEY.md §2.A), pure NumPy.

Parity contract: these reimplement, from public algorithm definitions, the
OpenCV calls the reference repo's title promises but whose code is absent
from its tree (reference = README.md:1 + test2.py:1-13 only; see
SURVEY.md §0). Semantics follow the canonical OpenCV recipe "Extract
horizontal and vertical lines by using morphological operations":

  cv2.cvtColor(BGR2GRAY)                        -> to_gray
  cv2.threshold(THRESH_BINARY_INV|THRESH_OTSU)  -> otsu_threshold
  cv2.adaptiveThreshold(~g, MEAN_C, 15, -2)     -> adaptive_threshold
  cv2.erode / cv2.dilate (MORPH_RECT SE)        -> erode / dilate
  open with (cols//scale, 1) / (1, rows//scale) -> morph_open_h / morph_open_v
  cv2.bitwise_and(h, v)                         -> mask_intersect
  cv2.add(h, v)                                 -> grid_mask

Erode/dilate use the van Herk / Gil-Werman O(1)-per-pixel running
min/max (separable for rectangular structuring elements), so cost is
independent of SE size — this is what keeps the kernel viable inside
Arrow batches at 10^12-turn scale.

Binary masks are uint8 with ink=255, background=0.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "to_gray",
    "otsu_threshold",
    "adaptive_threshold",
    "erode",
    "dilate",
    "morph_open",
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
    """Otsu (1979) global threshold, inverted binary (ink -> 255).

    Maximizes inter-class variance over the 256-bin histogram; class 0 is
    bins [0..t]. Ties resolve to the smallest t (np.argmax), so the result
    is deterministic. Matches THRESH_BINARY_INV: pixels <= t become 255.
    """
    counts = np.bincount(gray.ravel(), minlength=256)
    nz = np.flatnonzero(counts)
    if nz.size <= 2:
        # <=2 distinct gray levels: sigma_b is 0 outside [v0, v1) and
        # constant inside, so argmax = v0 (or 0 when degenerate) — skip
        # the 256-bin float pass. Exactly equal to the general branch:
        # for {v0 < v1}, omega/mu are flat on [v0, v1) and denom = 0
        # elsewhere; for a single value or empty image every sigma_b
        # entry is 0 and argmax = 0. Rendered tables are pure {0, 255},
        # so the hot path always lands here.
        if nz.size == 0:
            return 0, np.zeros_like(gray, dtype=np.uint8)
        thr = int(nz[0]) if nz.size == 2 else 0
        return thr, np.where(gray <= thr, np.uint8(255), np.uint8(0))
    hist = counts.astype(np.float64)
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
    # uint8 scalars keep np.where in uint8 — no int64 temp + cast pass
    binary = np.where(gray <= thr, np.uint8(255), np.uint8(0))
    return thr, binary


def adaptive_threshold(
    gray: np.ndarray, block: int = 15, C: int = -2
) -> np.ndarray:
    """Mean-of-neighborhood adaptive threshold, inverted binary (ink=255).

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
    return np.where(inv > mean - C, np.uint8(255), np.uint8(0))


def _running_extremum_1d(
    x: np.ndarray,
    k: int,
    ufunc: np.ufunc,
    pad_value: int,
    reflect: bool = False,
    axis: int = 1,
) -> np.ndarray:
    """van Herk / Gil-Werman running extremum along rows or columns.

    Centered anchor (left = (k-1)//2, right = k//2), constant-padded with
    `pad_value` so the output keeps the input's extent. Three passes,
    cost independent of k. ``reflect=True`` swaps the anchor to the
    reflected SE (needed by the dilation half of an opening when k is
    even, so open(open(x)) == open(x) exactly). Axis-aware so vertical
    passes need no transpose copies; padding is a manual full+assign
    (np.pad's generic path is a hot-loop cost at ~16k-pixel canvases).
    """
    if k <= 1:
        return x
    l, r = (k - 1) // 2, k // 2
    if reflect:
        l, r = r, l
    H, W = x.shape
    if axis == 1:
        n = W + l + r
        nb = -(-n // k)
        xp = np.full((H, nb * k), pad_value, dtype=x.dtype)
        xp[:, l : l + W] = x
        blocks = xp.reshape(H, nb, k)
        g = ufunc.accumulate(blocks, axis=2).reshape(H, nb * k)
        h = ufunc.accumulate(blocks[:, :, ::-1], axis=2)[:, :, ::-1].reshape(H, nb * k)
        return ufunc(h[:, :W], g[:, k - 1 : k - 1 + W])
    n = H + l + r
    nb = -(-n // k)
    xp = np.full((nb * k, W), pad_value, dtype=x.dtype)
    xp[l : l + H] = x
    blocks = xp.reshape(nb, k, W)
    g = ufunc.accumulate(blocks, axis=1).reshape(nb * k, W)
    h = ufunc.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].reshape(nb * k, W)
    return ufunc(h[:H], g[k - 1 : k - 1 + H])


def _morph(
    bin_img: np.ndarray,
    se: tuple[int, int],
    ufunc: np.ufunc,
    pad: int,
    reflect: bool = False,
) -> np.ndarray:
    kh, kw = se
    out = bin_img
    if kw > 1:
        out = _running_extremum_1d(out, kw, ufunc, pad, reflect, axis=1)
    if kh > 1:
        out = _running_extremum_1d(out, kh, ufunc, pad, reflect, axis=0)
    return np.ascontiguousarray(out, dtype=np.uint8)


def erode(bin_img: np.ndarray, se: tuple[int, int]) -> np.ndarray:
    """Morphological erosion with a rectangular SE (separable running min).

    Out-of-image neighborhood is treated as 255 (does not shrink at the
    border), matching OpenCV's default replicate-ish behavior for erosion.
    """
    return _morph(bin_img, se, np.minimum, 255)


def dilate(bin_img: np.ndarray, se: tuple[int, int], reflect: bool = False) -> np.ndarray:
    """Morphological dilation with a rectangular SE (separable running max)."""
    return _morph(bin_img, se, np.maximum, 0, reflect)


def morph_open(bin_img: np.ndarray, se: tuple[int, int]) -> np.ndarray:
    """Opening = erode by SE, dilate by the *reflected* SE — the textbook
    definition; the reflection only matters for even SE sizes, where it
    keeps surviving runs at their exact original position.

    Sparse fast path for 1-D SEs (the h/v line extractions): a row can
    survive opening by a (1, k) SE only if it holds >= ceil(k/2) ink
    pixels — an interior erosion window needs k consecutive ink, and a
    border window still needs its k - k//2 in-image positions inked
    (out-of-image counts as 255). Rows under that count map to all-zero
    output EXACTLY and are skipped. On rendered tables only the
    ~2*(n_rows+1) actual line rows qualify (every other row carries just
    the n_cols+1 vertical-line crossings), cutting the van Herk passes
    ~8-25x. Columns symmetric for (k, 1)."""
    kh, kw = se
    if kh == 1 and kw > 1:
        # min(·, W): when the row is narrower than the SE, both borders
        # pad the erosion window, so a full-ink row of ANY width survives
        thresh = min((kw + 1) // 2, bin_img.shape[1])
        rows = np.flatnonzero(np.count_nonzero(bin_img, axis=1) >= thresh)
        if rows.size < bin_img.shape[0]:
            out = np.zeros_like(bin_img)
            if rows.size:
                out[rows] = _open_1d_runs(bin_img[rows], kw)
            return out
        return _open_1d_runs(bin_img, kw)
    if kw == 1 and kh > 1:
        thresh = min((kh + 1) // 2, bin_img.shape[0])
        cols = np.flatnonzero(np.count_nonzero(bin_img, axis=0) >= thresh)
        if cols.size < bin_img.shape[1]:
            out = np.zeros_like(bin_img)
            if cols.size:
                out[:, cols] = _open_1d_runs(bin_img[:, cols].T, kh).T
            return out
        return np.ascontiguousarray(_open_1d_runs(bin_img.T, kh).T)
    return dilate(erode(bin_img, se), se, reflect=True)


def _open_1d_runs(bin_img: np.ndarray, k: int) -> np.ndarray:
    """1-D opening along rows as pure run-length logic: a pixel survives
    iff its ink run has (border-extended) length >= k.

    Equivalence to erode(pad 255) + dilate(reflected SE, pad 0): erosion
    of a run [a, b] leaves [a+l, b-r]; the reflected dilation expands it
    by (r, l) — exactly back to [a, b]. The 255-padding is a virtual
    extension of border-touching runs by l on the left / r on the right.
    So opening keeps whole runs with extended length >= k and nothing
    else. Two accumulates (nearest zero before/after each pixel) instead
    of erode+dilate's four, and no pad/reshape allocations.
    """
    l, r = (k - 1) // 2, k // 2
    H, W = bin_img.shape
    f = bin_img != 0
    # int16 index math: the accumulate passes are memory-bandwidth-bound,
    # so halving the element width is a direct win. Canvases are not
    # capped (layout_table only targets a width; the vertical opening
    # scans rows of H px, and H grows with the row count), so runs of
    # 32000 px or more take the int32 fallback
    dt = np.int16 if W + k < 32000 else np.int32
    idx = np.arange(W, dtype=dt)
    last_zero = np.maximum.accumulate(np.where(f, dt(-1), idx), axis=1)
    next_zero = np.minimum.accumulate(
        np.where(f, dt(W), idx)[:, ::-1], axis=1
    )[:, ::-1]
    eff = next_zero - last_zero - 1
    eff += np.where(last_zero == -1, dt(l), dt(0))
    eff += np.where(next_zero == W, dt(r), dt(0))
    out = np.zeros((H, W), dtype=np.uint8)
    out[f & (eff >= k)] = 255
    return out


def morph_open_h(bin_img: np.ndarray, scale: int = 20, min_k: int = 9) -> np.ndarray:
    """Keep only horizontal line strokes: open with SE (1, W//scale).

    min_k = 9: noise specks are 2px and glyph dashes are 3px, so even a
    chain of three specks plus a dash (8px) cannot masquerade as a line
    stroke; real grid lines are always far longer than 9px."""
    k = max(min_k, bin_img.shape[1] // scale)
    return morph_open(bin_img, (1, k))


def morph_open_v(bin_img: np.ndarray, scale: int = 20, min_k: int = 9) -> np.ndarray:
    """Keep only vertical line strokes: open with SE (H//scale, 1)."""
    k = max(min_k, bin_img.shape[0] // scale)
    return morph_open(bin_img, (k, 1))


def mask_intersect(h_mask: np.ndarray, v_mask: np.ndarray) -> np.ndarray:
    """Grid joints = horizontal AND vertical line masks (cv2.bitwise_and)."""
    return np.minimum(h_mask, v_mask)


def grid_mask(h_mask: np.ndarray, v_mask: np.ndarray) -> np.ndarray:
    """Full line lattice = horizontal OR vertical line masks (cv2.add)."""
    return np.maximum(h_mask, v_mask)
