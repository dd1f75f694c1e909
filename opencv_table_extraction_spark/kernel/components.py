"""Connected components + cell detection/ordering A11-A13 (SURVEY.md §2.A).

Reimplements, from the public two-pass union-find algorithm, what
``cv2.connectedComponentsWithStats`` / ``cv2.findContours``+``boundingRect``
provide (the reference repo's tree carries no such code — SURVEY.md §0;
the stage list comes from BASELINE.json:6 "contour/connected-component
cell detection ... row/column ordering into cell text spans").

The labeling is run-based: rows are decomposed into foreground runs by
``imaging.runs`` (the same extractor the h/v openings filter), and the
union-find loop iterates over *runs*, not pixels, so grid-like images
(few long runs) label in microseconds.
"""

from __future__ import annotations

import numpy as np

from .imaging import runs

__all__ = ["connected_components", "detect_cells", "order_cells"]


class _UnionFind:
    __slots__ = ("parent",)

    def __init__(self, n: int) -> None:
        self.parent = list(range(n))

    def find(self, a: int) -> int:
        p = self.parent
        root = a
        while p[root] != root:
            root = p[root]
        while p[a] != root:  # path compression
            p[a], a = root, p[a]
        return root

    def union(self, a: int, b: int) -> int:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            self.parent[rb] = ra
        return ra


def connected_components(fg: np.ndarray) -> np.ndarray:
    """4-connectivity connected components of a bool ink mask.

    Returns ``stats``, an int64 array of shape (n, 5) with columns
    (x, y, w, h, area), one row per component, sorted by (y, x, w, h)
    for determinism.

    If no run touches one in the band above (a joint mask's isolated
    squares), each run is a component, already in (y, x) order.
    """
    H, W = fg.shape
    if not fg.any():
        return np.empty((0, 5), np.int64)
    # band compression (exact): consecutive identical rows — the common
    # case for grid/cell imagery, where components are rectangles — are
    # collapsed to one representative row each; 4-connectivity within a
    # band is trivial (identical runs stack), and adjacent bands touch by
    # construction, so labeling over bands is equivalent to labeling over
    # rows. Turns O(H * runs/row) union-find work into O(bands * runs).
    if H > 1:
        # each row as one W-byte scalar: a row compare is one memcmp
        row_key = np.ascontiguousarray(fg).view(np.dtype((np.void, W)))[:, 0]
        changed = row_key[1:] != row_key[:-1]
        band_y0 = np.concatenate(([0], np.flatnonzero(changed) + 1))
    else:
        band_y0 = np.zeros(1, np.int64)
    band_y1 = np.concatenate((band_y0[1:], [H]))
    r_row, r_s, r_e = runs(fg[band_y0])
    rows_l = r_row.tolist()
    s_l = r_s.tolist()
    e_l = r_e.tolist()
    n_runs = len(rows_l)

    # run k is node k; each run is united with every run it touches in
    # the band above (runs are sorted by (band, start): a two-pointer
    # over the previous band's run range)
    uf = _UnionFind(n_runs)
    find, union = uf.find, uf.union
    merged = False
    prev_lo = prev_hi = 0
    prev_row = -2
    i = 0
    while i < n_runs:
        r = rows_l[i]
        j_end = i
        while j_end < n_runs and rows_l[j_end] == r:
            j_end += 1
        if r != prev_row + 1:
            lo = hi = i  # previous row empty: no merges possible
        else:
            lo, hi = prev_lo, prev_hi
        j = lo
        for k in range(i, j_end):
            s, e = s_l[k], e_l[k]
            while j < hi and e_l[j] <= s:
                j += 1
            jj = j
            while jj < hi and s_l[jj] < e:
                union(k, jj)
                merged = True
                jj += 1
        prev_lo, prev_hi, prev_row = i, j_end, r
        i = j_end

    run_y0, run_y1 = band_y0[r_row], band_y1[r_row]
    if not merged:  # no union happened: runs are the components
        w, h = r_e - r_s, run_y1 - run_y0
        return np.stack([r_s, run_y0, w, h, w * h], axis=1)

    roots = [find(k) for k in range(n_runs)]
    uniq: dict[int, int] = {}
    comp = np.array([uniq.setdefault(x, len(uniq)) for x in roots], dtype=np.int64)
    n = len(uniq)

    # vectorized stats: scatter-reduce run extents into components,
    # expanding band rows back to pixel rows
    x0 = np.full(n, W, np.int64)
    x1 = np.zeros(n, np.int64)
    y0 = np.full(n, H, np.int64)
    y1 = np.zeros(n, np.int64)
    area = np.zeros(n, np.int64)
    np.minimum.at(x0, comp, r_s)
    np.maximum.at(x1, comp, r_e)
    np.minimum.at(y0, comp, run_y0)
    np.maximum.at(y1, comp, run_y1)
    np.add.at(area, comp, (r_e - r_s) * (run_y1 - run_y0))

    stats = np.stack([x0, y0, x1 - x0, y1 - y0, area], axis=1)
    order = np.lexsort((stats[:, 2], stats[:, 0], stats[:, 1]))
    return stats[order]


def detect_cells(
    grid: np.ndarray,
    min_area: int = 24,
    min_w: int = 4,
    min_h: int = 4,
) -> np.ndarray:
    """Cell interiors = components of the grid-mask complement.

    The outer background (any component touching the image border) is
    excluded; remaining components are filtered by area/width/height
    sanity. Returns int64 (n_cells, 4) rects (x, y, w, h) in stats order.
    """
    H, W = grid.shape
    stats = connected_components(~grid)
    x, y, w, h = stats[:, 0], stats[:, 1], stats[:, 2], stats[:, 3]
    keep = (
        (x > 0)
        & (y > 0)
        & (x + w < W)
        & (y + h < H)
        & (stats[:, 4] >= min_area)
        & (w >= min_w)
        & (h >= min_h)
    )
    return stats[keep][:, :4]


def order_cells(rects: np.ndarray) -> np.ndarray:
    """Assign (row, col) to cell rects by y-center clustering then x order.

    Rows are formed by scanning y-centers in ascending order and starting
    a new row when the gap to the previous center exceeds half the median
    cell height (BASELINE.json:6 "sorts cells by (row, col)"); stable and
    deterministic. The median is read off ``np.sort``, the same float as
    ``np.median``. Returns int64 (n, 6): (row, col, x, y, w, h).
    """
    n = len(rects)
    if n == 0:
        return np.empty((0, 6), np.int64)
    yc = rects[:, 1] + rects[:, 3] / 2.0
    xc = rects[:, 0] + rects[:, 2] / 2.0
    hs = np.sort(rects[:, 3])  # median / 2 = (middle_lo + middle_hi) / 4
    gap = max(2.0, float(hs[(n - 1) // 2] + hs[n // 2]) / 4.0)
    order = np.lexsort((xc, yc))
    # row ids: a new row starts when the gap to the PREVIOUS center (in
    # (yc, xc) order) exceeds `gap` — the same chained comparison the
    # old per-element loop made, as one vectorized diff + cumsum
    ys = yc[order]
    brk = np.empty(n, dtype=np.int64)
    brk[0] = 0
    np.greater(ys[1:] - ys[:-1], gap, out=brk[1:], casting="unsafe")
    row_id = np.empty(n, dtype=np.int64)
    row_id[order] = np.cumsum(brk)
    # final order: by row, then x-center, ties by original index — the
    # stable per-row argsort of the loop form, as one lexsort
    final = np.lexsort((np.arange(n), xc, row_id))
    rows_f = row_id[final]
    # col = position within the row run
    start = np.empty(n, dtype=bool)
    start[0] = True
    np.not_equal(rows_f[1:], rows_f[:-1], out=start[1:])
    idx = np.arange(n, dtype=np.int64)
    col = idx - np.maximum.accumulate(np.where(start, idx, 0))
    out = np.empty((n, 6), dtype=np.int64)
    out[:, 0] = rows_f
    out[:, 1] = col
    out[:, 2:] = rects[final]
    return out
