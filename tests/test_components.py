"""Unit tests A11-A13: components vs BFS reference; cell detect/order."""

from collections import deque

import numpy as np
import pytest

from opencv_table_extraction_spark.kernel.components import (
    connected_components,
    detect_cells,
    order_cells,
)
from opencv_table_extraction_spark.kernel.imaging import morph_open_v

RNG = np.random.RandomState(99)


def bfs_components(img):
    H, W = img.shape
    seen = np.zeros((H, W), bool)
    comps = []
    for y in range(H):
        for x in range(W):
            if img[y, x] and not seen[y, x]:
                q = deque([(y, x)])
                seen[y, x] = True
                px = []
                while q:
                    cy, cx = q.popleft()
                    px.append((cy, cx))
                    for ny, nx in ((cy-1,cx),(cy+1,cx),(cy,cx-1),(cy,cx+1)):
                        if 0 <= ny < H and 0 <= nx < W and img[ny, nx] and not seen[ny, nx]:
                            seen[ny, nx] = True
                            q.append((ny, nx))
                ys = [p[0] for p in px]; xs = [p[1] for p in px]
                comps.append((min(xs), min(ys), max(xs)-min(xs)+1, max(ys)-min(ys)+1, len(px)))
    return sorted(comps, key=lambda s: (s[1], s[0], s[2]))


@pytest.mark.parametrize("density", [0.1, 0.3, 0.5, 0.7])
def test_components_match_bfs(density):
    img = RNG.rand(40, 55) < density
    stats = connected_components(img)
    ref = bfs_components(img)
    assert len(stats) == len(ref)
    assert [tuple(s) for s in stats] == ref


def test_components_empty_and_full():
    stats = connected_components(np.zeros((5, 5), bool))
    assert stats.shape == (0, 5)
    stats = connected_components(np.ones((4, 6), bool))
    assert len(stats) == 1 and tuple(stats[0]) == (0, 0, 6, 4, 24)


def _spy_lexsort(monkeypatch):
    calls = []
    real = np.lexsort
    monkeypatch.setattr(np, "lexsort", lambda *a, **k: calls.append(1) or real(*a, **k))
    return calls


def test_components_isolated_rects_take_no_merge_exit(monkeypatch):
    """Row-aligned rectangles (joint-like) and a checkerboard of squares
    touching only at corners: no run merges with one above, so the runs
    are the components (no final sort needed), equal to BFS."""
    joints = np.zeros((30, 50), bool)
    for y in (2, 12, 25):
        for x in (0, 9, 20, 47):
            joints[y:y + 3, x:x + 3] = True
    checker = np.kron((np.indices((6, 7)).sum(axis=0) % 2).astype(bool),
                      np.ones((3, 4), bool))
    for img in (joints, checker):
        calls = _spy_lexsort(monkeypatch)
        stats = connected_components(img)
        assert calls == []
        assert [tuple(s) for s in stats] == bfs_components(img)


def test_components_merged_rects_match_bfs():
    """Rectangles that span different bands merge across them."""
    img = np.zeros((20, 30), bool)
    img[1:9, 2:6] = True
    img[4:15, 10:13] = True
    img[12:19, 20:29] = True
    img[6:8, 5:11] = True  # bridge: joins the first two
    assert [tuple(s) for s in connected_components(img)] == bfs_components(img)


@pytest.mark.parametrize("shape", [(1, 1), (1, 40), (40, 1), (17, 13), (9, 31)])
def test_components_thin_and_odd_widths(shape):
    rng = np.random.RandomState(7)
    for density in (0.3, 0.6):
        img = rng.rand(*shape) < density
        assert [tuple(s) for s in connected_components(img)] == bfs_components(img)


def test_components_non_contiguous_input():
    base = np.random.RandomState(8).rand(37, 29) < 0.5
    for img in (base.T, base[::2, ::3], base[3:, 1:-2]):
        assert not img.flags.c_contiguous
        assert [tuple(s) for s in connected_components(img)] == bfs_components(img)


def test_morph_open_v_is_c_contiguous():
    ink = np.random.RandomState(9).rand(40, 30) < 0.5
    ink[:, 7] = True
    v = morph_open_v(ink)
    assert v.flags.c_contiguous and v[:, 7].all()
    assert morph_open_v(ink.T).flags.c_contiguous


def test_detect_cells_excludes_border_and_noise():
    grid = np.zeros((50, 70), bool)
    # a 2x2 cell table drawn as grid lines
    for y in (10, 25, 40):
        grid[y:y+2, 10:62] = True
    for x in (10, 35, 60):
        grid[10:42, x:x+2] = True
    cells = detect_cells(grid)
    assert len(cells) == 4
    for x, y, w, h in cells:
        assert w >= 4 and h >= 4


def test_order_cells_row_major():
    rects = np.array([
        [40, 30, 20, 10],   # row1 col1
        [10, 10, 20, 10],   # row0 col0
        [40, 11, 20, 10],   # row0 col1 (1px jitter)
        [10, 31, 20, 10],   # row1 col0
    ])
    out = order_cells(rects)
    assert [(r, c) for r, c, *_ in out] == [(0, 0), (0, 1), (1, 0), (1, 1)]
    assert tuple(out[0][2:]) == (10, 10, 20, 10)
    assert tuple(out[3][2:]) == (40, 30, 20, 10)


def test_order_cells_empty():
    assert order_cells(np.empty((0, 4), np.int64)).shape == (0, 6)
