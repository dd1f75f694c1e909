"""Kernel batch driver (SURVEY.md §2.A bottom): chains A1→A22 per turn,
exposed as an Arrow RecordBatch→RecordBatch function for mapInArrow.

Per BASELINE.json:6,15 the chain is decode→render→morphology→cell-extract
executed "inside Arrow record batches (no per-row Python)" at the
DataFrame layer; within a batch, per-turn image work runs in compiled
NumPy. The route/transcribe contract for scan turns follows the reference
fragment exactly (test2.py:3-12, see kernel/router.py).
"""

from __future__ import annotations

import time
import zlib
from typing import Iterable, Iterator

import numpy as np
import pyarrow as pa

from . import html as html_mod
from . import router as router_mod
from .components import connected_components, detect_cells, order_cells
from .imaging import (
    adaptive_threshold,
    grid_mask,
    mask_intersect,
    morph_open_h,
    morph_open_v,
    otsu_threshold,
    to_gray,
)
from .render import LINE_T, classify_payload, parse_pipe_table, render_table

__all__ = ["extract_turn", "extract_batch", "OUT_FIELDS", "arrow_out_schema"]

_SPAN_STRUCT = pa.struct(
    [
        ("row", pa.int32()),
        ("col", pa.int32()),
        ("x", pa.int32()),
        ("y", pa.int32()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("start", pa.int32()),
        ("end", pa.int32()),
    ]
)

OUT_FIELDS: list[tuple[str, pa.DataType]] = [
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("route", pa.string()),
    ("extracted_text", pa.string()),
    ("spans", pa.list_(_SPAN_STRUCT)),
    ("n_rows", pa.int32()),
    ("n_cols", pa.int32()),
    ("n_cells", pa.int32()),
    ("n_joints", pa.int32()),
    ("err", pa.string()),
    # per-turn kernel wall time in microseconds — feeds per-partition
    # lineage counters and the skew report (BASELINE.json:6); NOT part of
    # the deterministic-equality column set.
    ("proc_us", pa.int64()),
]


def arrow_out_schema(keep_text: bool = False) -> pa.Schema:
    """The kernel's output schema; ``keep_text`` appends the echoed
    source ``text`` column (see :func:`extract_batch`)."""
    return pa.schema(OUT_FIELDS + [("text", pa.string())] if keep_text else OUT_FIELDS)


def _row(route: str, text: str, err: str = "") -> dict:
    """An output row with no spans and zero counters."""
    return {"route": route, "extracted_text": text, "spans": [], "n_rows": 0,
            "n_cols": 0, "n_cells": 0, "n_joints": 0, "err": err}


def _extract_table(text: str, use_adaptive: bool) -> dict:
    pt = parse_pipe_table(text)
    if pt is None:  # classified table but unparseable -> plain fallback
        return _row("plain", text.strip())
    # deterministic per-payload noise seed (process-independent: crc32,
    # not Python hash(), which varies with PYTHONHASHSEED)
    seed = zlib.crc32(text.encode("utf-8"))
    img, layout_rects = render_table(pt, noise_seed=seed)
    gray = to_gray(img)
    if use_adaptive:
        ink = adaptive_threshold(gray)
    else:
        _, ink = otsu_threshold(gray)
    h_mask = morph_open_h(ink)
    v_mask = morph_open_v(ink)
    joints = mask_intersect(h_mask, v_mask)
    grid = grid_mask(h_mask, v_mask)
    # a true line crossing is at least LINE_T x LINE_T; smaller clusters
    # are residue of noise chaining into a line (same spirit as the
    # min_area filter in detect_cells, A12)
    joint_stats = connected_components(joints)
    n_joints = int((joint_stats[:, 4] >= LINE_T * LINE_T).sum()) if len(joint_stats) else 0
    rects = detect_cells(grid)
    ordered = order_cells(rects)

    # match detected cells back to layout rects by center containment.
    # The layout is a grid of disjoint rects, so one searchsorted per axis
    # finds the column and row whose start is the last at or before the
    # center; the cell matches that rect if its center also lies before
    # the rect's end, and no rect otherwise (a grid line, or off the table).
    xs, ws = layout_rects[: pt.n_cols, 0], layout_rects[: pt.n_cols, 2]
    ys, hs = layout_rects[:: pt.n_cols, 1], layout_rects[:: pt.n_cols, 3]
    cx = ordered[:, 2] + ordered[:, 4] / 2.0
    cy = ordered[:, 3] + ordered[:, 5] / 2.0
    ci = np.searchsorted(xs, cx, side="right") - 1
    ri = np.searchsorted(ys, cy, side="right") - 1
    hit = (ci >= 0) & (ri >= 0) & (cx < (xs + ws)[ci]) & (cy < (ys + hs)[ri])
    err = ""
    if not hit.all():
        row, col = ordered[np.flatnonzero(~hit)[-1], :2].tolist()
        err = f"cell ({row},{col}) matched 0 layout rects"
    spans: list[dict] = []
    row_cells: list[list[str]] = []
    last_row = -1
    li = (ri * pt.n_cols + ci)[hit]
    # ``ordered`` is sorted by (row, col): a line is a run of one row's cells
    for (row, col), (lx0, ly0, lw0, lh0), start, end in zip(
            ordered[hit, :2].tolist(), layout_rects[li].tolist(),
            pt.starts[li].tolist(), pt.ends[li].tolist()):
        spans.append(
            {"row": row, "col": col, "x": lx0, "y": ly0, "w": lw0,
             "h": lh0, "start": start, "end": end}
        )
        if row != last_row:
            row_cells.append([])
            last_row = row
        row_cells[-1].append(text[start:end])

    return {
        "route": "table",
        "extracted_text": "\n".join("\t".join(cells) for cells in row_cells),
        "spans": spans,
        "n_rows": len(row_cells),
        "n_cols": max(map(len, row_cells), default=0),
        "n_cells": len(spans),
        "n_joints": int(n_joints),
        "err": err,
    }


def extract_turn(text: str, use_adaptive: bool = False) -> dict:
    """A1 dispatch -> one of the four extraction branches; returns the
    output-row dict (route, extracted_text, spans, counters, err)."""
    route = classify_payload(text)
    if route == "table":
        return _extract_table(text, use_adaptive)
    if route == "html":
        return _row("html", html_mod.extract_main_content(text))
    if route == "scan":
        mode, transcript = router_mod.route_page(text)
        return _row(mode, router_mod.transcribe(mode, transcript))
    return _row("plain", text.strip())


def extract_batch(
    batches: Iterable[pa.RecordBatch],
    use_adaptive: bool = False,
    keep_text: bool = False,
) -> Iterator[pa.RecordBatch]:
    """Arrow batch function for ``DataFrame.mapInArrow`` (B4).

    Input batches must carry (conv_id, turn_idx, text); extra columns are
    ignored (project before the map — B3). Never raises per turn: kernel
    failures land in the ``err`` column and are counted by lineage (B8).

    ``keep_text=True`` echoes the input ``text`` column verbatim as a
    trailing output column: consumers that slice span offsets out of the
    source payload (extract_order_cells) read the echo instead of joining
    back through a second derivation pass. The echoed Arrow column is the
    input buffer re-emitted, so equality with the joined source holds by
    construction.
    """
    schema = arrow_out_schema(keep_text)
    for batch in batches:
        if batch.num_rows == 0:
            continue
        conv_ids = batch.column("conv_id").to_pylist()
        turn_idxs = batch.column("turn_idx").to_pylist()
        texts = batch.column("text").to_pylist()
        cols: dict[str, list] = {name: [] for name, _ in OUT_FIELDS}
        for cid, tix, txt in zip(conv_ids, turn_idxs, texts):
            t0 = time.perf_counter()
            try:
                row = extract_turn(txt or "", use_adaptive=use_adaptive)
            except Exception as e:  # noqa: BLE001 — lineage-counted
                row = _row("error", "", f"{type(e).__name__}: {e}")
            cols["conv_id"].append(cid)
            cols["turn_idx"].append(tix)
            for k, v in row.items():
                cols[k].append(v)
            cols["proc_us"].append(int((time.perf_counter() - t0) * 1e6))
        arrays = [pa.array(cols[name], type=typ) for name, typ in OUT_FIELDS]
        if keep_text:
            arrays.append(batch.column("text"))
        yield pa.RecordBatch.from_arrays(arrays, schema=schema)
