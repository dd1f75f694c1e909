"""Unit tests A3-A10 vs brute-force references (SURVEY.md §5.2-3)."""

import numpy as np
import pytest

from opencv_table_extraction_spark.fixtures.gen import gen_tables
from opencv_table_extraction_spark.kernel.imaging import (
    adaptive_threshold,
    grid_mask,
    mask_intersect,
    morph_open_h,
    morph_open_v,
    otsu_threshold,
    to_gray,
)
from opencv_table_extraction_spark.kernel.render import (
    classify_payload,
    parse_pipe_table,
    render_table,
)
from opencv_table_extraction_spark.kernel.router import parse_scan, render_scan

RNG = np.random.RandomState(1234)


def brute_otsu(gray):
    hist = np.bincount(gray.ravel(), minlength=256).astype(np.float64)
    total = hist.sum()
    best_t, best_v = 0, -1.0
    for t in range(256):
        w0 = hist[: t + 1].sum() / total
        w1 = 1 - w0
        if w0 == 0 or w1 == 0:
            v = 0.0
        else:
            mu0 = (hist[: t + 1] * np.arange(t + 1)).sum() / hist[: t + 1].sum()
            mu1 = (hist[t + 1 :] * np.arange(t + 1, 256)).sum() / hist[t + 1 :].sum()
            v = w0 * w1 * (mu0 - mu1) ** 2
        if v > best_v + 1e-12:
            best_v, best_t = v, t
    return best_t


@pytest.mark.parametrize("trial", range(8))
def test_otsu_matches_bruteforce(trial):
    if trial < 4:
        gray = RNG.randint(0, 256, (40, 50)).astype(np.uint8)
    else:  # bimodal, the realistic document case
        gray = np.where(RNG.rand(40, 50) < 0.2, RNG.randint(0, 60, (40, 50)),
                        RNG.randint(200, 256, (40, 50))).astype(np.uint8)
    thr, binary = otsu_threshold(gray)
    assert thr == brute_otsu(gray)
    assert np.array_equal(binary, np.where(gray <= thr, 255, 0).astype(np.uint8) != 0)


def test_otsu_empty_and_flat():
    thr, b = otsu_threshold(np.zeros((0, 5), np.uint8))
    assert thr == 0 and b.shape == (0, 5) and b.dtype == bool
    flat = np.full((10, 10), 77, np.uint8)
    thr, b = otsu_threshold(flat)
    assert thr == 0 and b.shape == flat.shape and not b.any()


def _spy_bincount(monkeypatch):
    calls = []
    real = np.bincount
    monkeypatch.setattr(np, "bincount", lambda *a, **k: calls.append(1) or real(*a, **k))
    return calls


@pytest.mark.parametrize("levels", [(0,), (77,), (255,), (0, 255), (37, 38),
                                    (254, 255), (0, 1), (120, 200)])
def test_otsu_two_level_shortcut_matches_bruteforce(levels, monkeypatch):
    """<=2 gray levels: the min/max shortcut gives brute force's threshold
    and mask without building the histogram."""
    rng = np.random.RandomState(sum(levels))
    gray = np.array(levels, np.uint8)[rng.randint(0, len(levels), (23, 37))]
    gray.flat[: len(levels)] = levels  # every level present
    calls = _spy_bincount(monkeypatch)
    thr, ink = otsu_threshold(gray)
    assert calls == []
    assert thr == brute_otsu(gray)
    assert ink.dtype == bool and np.array_equal(ink, gray <= thr)


@pytest.mark.parametrize("levels,stray", [((0, 255), 128), ((37, 38), 200),
                                          ((37, 38), 0), ((254, 255), 0),
                                          ((254, 255), 253)])
def test_otsu_two_levels_plus_stray_takes_histogram(levels, stray, monkeypatch):
    """One pixel at a third level: the shortcut's count check fails and
    the histogram branch decides, still equal to brute force."""
    rng = np.random.RandomState(stray)
    gray = np.array(levels, np.uint8)[rng.randint(0, 2, (23, 37))]
    gray.flat[:2] = levels
    gray[11, 17] = stray
    calls = _spy_bincount(monkeypatch)
    thr, ink = otsu_threshold(gray)
    assert calls == [1]
    assert thr == brute_otsu(gray)
    assert np.array_equal(ink, gray <= thr)


def test_open_removes_short_keeps_long_runs():
    img = np.zeros((5, 60), np.uint8)
    img[2, 5:9] = 255     # run of 4 < k
    img[2, 20:45] = 255   # run of 25 >= k
    out = morph_open_h(img != 0, scale=61, min_k=10)  # SE exactly (1, 10)
    assert not out[2, 5:9].any()
    assert out[2, 20:45].all()
    assert out.sum() == 25  # opening is idempotent-exact on long runs


def test_adaptive_threshold_lines_on_white():
    img = np.full((60, 80), 255, np.uint8)
    img[30, 10:70] = 0  # a thin dark line
    out = adaptive_threshold(img, block=15, C=-2)
    assert out[30, 12:68].all()               # line is ink
    assert not out[5, 5] and not out[55, 75]  # flat white is background


def test_mask_ops_and_gray():
    a = np.array([[0, 1], [1, 1]], bool)
    b = np.array([[0, 0], [1, 0]], bool)
    assert np.array_equal(mask_intersect(a, b), np.array([[0, 0], [1, 0]], bool))
    assert np.array_equal(grid_mask(a, b), np.array([[0, 1], [1, 1]], bool))
    rgb = np.zeros((2, 2, 3), np.uint8)
    rgb[..., 1] = 255
    g = to_gray(rgb)
    assert g.shape == (2, 2) and abs(int(g[0, 0]) - 150) <= 1  # 0.587*255


def test_every_mask_after_gray_is_bool():
    """One mask format: each stage from the threshold to the grid, and
    the scan rasterizer, returns a bool ink mask."""
    texts = gen_tables(60, seed=42)[0].column("text").to_pylist()
    table = next(t for t in texts if classify_payload(t) == "table")
    scan = next(t for t in texts if classify_payload(t) == "scan")
    gray = to_gray(render_table(parse_pipe_table(table))[0])
    _, otsu = otsu_threshold(gray)
    h, v = morph_open_h(otsu), morph_open_v(otsu)
    W, H, regions, _ = parse_scan(scan)
    masks = [otsu, adaptive_threshold(gray), h, v, mask_intersect(h, v),
             grid_mask(h, v), render_scan(W, H, regions)]
    assert [m.dtype for m in masks] == [np.dtype(bool)] * len(masks)
    assert all(m.any() for m in masks)
