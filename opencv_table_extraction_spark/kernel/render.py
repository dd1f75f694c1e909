"""Turn decode + deterministic rasterization A1-A2 (SURVEY.md §2.A).

``parse_pipe_table`` recovers a markdown/pipe table as its grid shape plus
the character offsets of each cell inside the source turn (a cell's text
is the turn sliced at them). ``render_table`` paints a deterministic
document image for it: black grid lines on a white canvas, plus dashed
"glyph" ink strokes inside cells (dash run length < any structuring
element, so morphological opening removes them exactly like real text),
plus sub-``min_area`` noise specks.

The geometry is the shared layout contract: the downstream morphology
pipeline must *recover* these cell rects from pixels alone; spans are then
matched back by center containment (kernel/extract.py). The pipeline's
correctness therefore rests on the imaging stages, not on this table.

Stage list provenance: BASELINE.json:6 "batched per-turn decode→render→
morphology→cell-extract". The reference tree itself has no decode/render
code (SURVEY.md §0).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np

__all__ = [
    "ParsedTable",
    "classify_payload",
    "parse_pipe_table",
    "layout_table",
    "render_table",
]

# Canvas geometry. Deliberately compact: the morphology/CC kernel is
# memory-bandwidth-bound, so canvas area is the unit cost of every turn
# — these values keep the smallest line segment comfortably above the
# SE floor (imaging.min_k=9) and every cell above detect_cells'
# min_area/min_w/min_h, with nothing to spare beyond that.
CHAR_W = 4          # px per character for column sizing
CELL_H = 12         # px interior height of a row
LINE_T = 2          # grid line thickness
MARGIN = 8          # canvas margin around the outer border
MIN_CELL_W = 16     # px floor for a column's interior width
# Target canvas width, not a cap: layout_table scales wider tables'
# columns down to it, but each column keeps an 8 px floor, so very
# wide tables still exceed it; height grows with the row count.
TARGET_CANVAS_W = 2400

_PIPE_ROW = re.compile(r"^\s*\|.*\|\s*$")
_SEP_ROW = re.compile(r"^\s*\|(?:\s*:?-{2,}:?\s*\|)+\s*$")
_TAG = re.compile(r"<\s*/?\s*[a-zA-Z][a-zA-Z0-9]*(\s[^<>]*)?>")


@dataclass(frozen=True)
class ParsedTable:
    n_rows: int
    n_cols: int
    # int64 char offsets of each cell's stripped text in the source turn,
    # row-major and dense (a padded cell has start == end)
    starts: np.ndarray
    ends: np.ndarray


def classify_payload(text: str) -> str:
    """Route a turn payload: 'scan' | 'table' | 'html' | 'plain' (A1).

    The scan sentinel models the reference's image-input turns
    (test2.py:4 "Scan the image"); pipe tables and HTML markup route to
    the table/boilerplate branches (BASELINE.json:6).
    """
    if text.lstrip().startswith("[[scan]]"):
        return "scan"
    pipe_rows = 0
    for ln in text.splitlines():
        if _PIPE_ROW.match(ln):
            pipe_rows += 1
            if pipe_rows >= 2:
                return "table"
    if _TAG.search(text):
        return "html"
    return "plain"


def parse_pipe_table(text: str) -> ParsedTable | None:
    """Parse the first markdown/pipe table in `text` into cell offsets.

    A cell is the stripped content between two pipes; its (start, end)
    index that content inside the original string. Separator rows
    (|---|---|) are skipped; ragged rows are padded to the widest row with
    empty cells at the end of the row's last cell (start == end).
    """
    pos = 0
    rows: list[list[tuple[int, int]]] = []
    in_table = False
    for ln in text.splitlines(keepends=True):
        stripped = ln.rstrip("\n")
        if _PIPE_ROW.match(stripped):
            in_table = True
            if not _SEP_ROW.match(stripped):
                bars = [m.start() for m in re.finditer(r"\|", stripped)]
                row = []
                for a, b in zip(bars, bars[1:]):
                    raw = stripped[a + 1 : b]
                    s = pos + a + 1 + len(raw) - len(raw.lstrip())
                    row.append((s, s + len(raw.strip())))
                rows.append(row)
        elif in_table and stripped.strip():
            break  # table ended
        pos += len(ln)
    if not rows:
        return None
    n_cols = max(map(len, rows))
    # _PIPE_ROW needs two pipes, so every row has a last cell to pad from
    spans = np.array([r + [(r[-1][1],) * 2] * (n_cols - len(r)) for r in rows],
                     dtype=np.int64)
    return ParsedTable(len(rows), n_cols, spans[..., 0].ravel(), spans[..., 1].ravel())


def layout_table(pt: ParsedTable) -> tuple[int, int, np.ndarray]:
    """Deterministic pixel layout. Returns (H, W, rects) where rects is
    int64 (n_rows*n_cols, 4) row-major (x, y, w, h) *interior* rects —
    i.e. the regions bounded by (exclusive of) the grid lines. Columns
    start at the running sum of (width + LINE_T), rows at a fixed
    CELL_H + LINE_T stride."""
    lens = pt.ends - pt.starts
    col_w = np.maximum((lens.reshape(pt.n_rows, pt.n_cols).max(axis=0) + 2) * CHAR_W,
                       MIN_CELL_W)
    total_w = int(col_w.sum()) + (pt.n_cols + 1) * LINE_T
    if total_w > TARGET_CANVAS_W - 2 * MARGIN:
        scale = (TARGET_CANVAS_W - 2 * MARGIN - (pt.n_cols + 1) * LINE_T) / float(col_w.sum())
        col_w = np.maximum((col_w * scale).astype(np.int64), 8)
    W = 2 * MARGIN + int(col_w.sum()) + (pt.n_cols + 1) * LINE_T
    H = 2 * MARGIN + pt.n_rows * CELL_H + (pt.n_rows + 1) * LINE_T
    step = col_w + LINE_T
    rects = np.empty((pt.n_rows, pt.n_cols, 4), dtype=np.int64)
    rects[..., 0] = MARGIN + LINE_T + np.cumsum(step) - step
    rects[..., 1] = (MARGIN + LINE_T + np.arange(pt.n_rows) * (CELL_H + LINE_T))[:, None]
    rects[..., 2] = col_w
    rects[..., 3] = CELL_H
    return H, W, rects.reshape(-1, 4)


def render_table(pt: ParsedTable, noise_seed: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Rasterize: white canvas, black grid, dashed ink strokes per cell,
    plus deterministic sub-threshold noise specks. Returns (img, rects)."""
    H, W, rects = layout_table(pt)
    img = np.full((H, W), 255, dtype=np.uint8)
    # grid lines: one LINE_T band before every row/column start of the
    # layout, and one after the last, spanning the table bounding box
    line_y = np.append(rects[:: pt.n_cols, 1], H - MARGIN) - LINE_T
    line_x = np.append(rects[: pt.n_cols, 0], W - MARGIN) - LINE_T
    thick = np.arange(LINE_T)
    img[(line_y[:, None] + thick).ravel(), MARGIN : W - MARGIN] = 0
    img[MARGIN : H - MARGIN, (line_x[:, None] + thick).ravel()] = 0
    # dashed "glyph" strokes: 3-on/3-off, max run 3 px << any SE length.
    # A cell's dash pixels are exactly the offsets j in [0, n_px) with
    # j % 6 < 3 at columns x+4+j, rows (cy, cy+1) — painted for ALL
    # cells in one scatter instead of a per-cell/per-dash Python loop.
    npx = np.minimum((pt.ends - pt.starts) * CHAR_W, rects[:, 2] - 8)
    valid = npx > 0
    npx_v = npx[valid]
    x_v = rects[valid, 0] + 4
    cy_v = rects[valid, 1] + rects[valid, 3] // 2
    cnt = 3 * (npx_v // 6) + np.minimum(npx_v % 6, 3)
    starts = np.cumsum(cnt) - cnt
    k = np.arange(int(cnt.sum()), dtype=np.int64) - np.repeat(starts, cnt)
    cols = np.repeat(x_v, cnt) + (k // 3) * 6 + (k % 3)
    rows_px = np.repeat(cy_v, cnt)
    img[rows_px, cols] = 0
    img[rows_px + 1, cols] = 0
    # deterministic noise specks (2x2 px, below min_area; removed by
    # opens). Inline LCG (Numerical Recipes constants) instead of a
    # RandomState: constructing one per turn costs more than the kernel's
    # entire morphology on a compact canvas.
    state = (noise_seed & 0x7FFFFFFF) or 1
    for _ in range(3):
        state = (state * 1664525 + 1013904223) & 0xFFFFFFFF
        nx = 1 + state % max(1, W - 5)
        state = (state * 1664525 + 1013904223) & 0xFFFFFFFF
        ny = 1 + state % max(1, H - 5)
        img[ny : ny + 2, nx : nx + 2] = 0
    return img, rects
