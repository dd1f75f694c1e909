"""Constructive kernel property tests (SURVEY.md §5.2-2): render a known
R x C grid, run the full morphology chain, assert exact recovery of cell
count, (row, col) assignment, joint count, and span slicing."""

import numpy as np
import pytest

from opencv_table_extraction_spark.kernel.extract import extract_turn
from opencv_table_extraction_spark.kernel.render import (
    layout_table,
    parse_pipe_table,
)


def make_table_md(R, C, sep=True):
    lines = []
    for r in range(R):
        lines.append("| " + " | ".join(f"r{r}c{c}-xx" for c in range(C)) + " |")
        if r == 0 and (sep or R == 1):
            lines.append("|" + "|".join(["---"] * C) + "|")
    return "\n".join(lines)


@pytest.mark.parametrize("R", [1, 2, 3, 5, 8])
@pytest.mark.parametrize("C", [1, 2, 4, 8])
def test_exact_grid_recovery(R, C):
    text = make_table_md(R, C)
    out = extract_turn(text)
    assert out["err"] == ""
    assert out["route"] == "table"
    assert out["n_rows"] == R and out["n_cols"] == C
    assert out["n_cells"] == R * C
    assert out["n_joints"] == (R + 1) * (C + 1)
    expected = "\n".join("\t".join(f"r{r}c{c}-xx" for c in range(C)) for r in range(R))
    assert out["extracted_text"] == expected
    # spans slice back to the original cell text, in (row, col) order
    spans = sorted(out["spans"], key=lambda s: (s["row"], s["col"]))
    for s in spans:
        assert text[s["start"] : s["end"]] == f"r{s['row']}c{s['col']}-xx"


@pytest.mark.parametrize(
    "R, C, H, W", [(2301, 2, 32232, 118), (4, 400, 74, 4018)]
)
def test_oversized_canvas_extracts_every_cell(R, C, H, W):
    """Canvas size is not capped: layout_table only scales column widths
    toward TARGET_CANVAS_W (each keeps an 8 px floor) and height grows with
    the rows. Pins that a 32,232 px tall table (vertical runs far past
    int16 range) and a 4,018 px wide one still extract every cell."""
    text = make_table_md(R, C)
    assert layout_table(parse_pipe_table(text))[:2] == (H, W)
    out = extract_turn(text)
    assert out["err"] == ""
    assert out["n_cells"] == R * C
    expected = "\n".join("\t".join(f"r{r}c{c}-xx" for c in range(C)) for r in range(R))
    assert out["extracted_text"] == expected


@pytest.mark.parametrize("use_adaptive", [False, True])
def test_both_threshold_paths_agree(use_adaptive):
    text = make_table_md(4, 3)
    out = extract_turn(text, use_adaptive=use_adaptive)
    assert out["n_cells"] == 12 and out["err"] == ""


def test_ragged_rows_padded():
    text = "| a1 | b1 | c1 |\n| a2 | b2 |"
    out = extract_turn(text)
    assert out["n_rows"] == 2 and out["n_cols"] == 3
    assert out["extracted_text"] == "a1\tb1\tc1\na2\tb2\t"
    # the padded cell is empty at the end of its row's last real cell
    last = out["spans"][-1]
    assert (last["row"], last["col"]) == (1, 2)
    assert last["start"] == last["end"] == text.index("b2") + 2


def test_prose_noise_around_table_ignored():
    text = "intro prose line.\n| a | b |\n| c | d |\n\ntrailing prose."
    out = extract_turn(text)
    assert out["extracted_text"] == "a\tb\nc\td"


def test_parse_offsets():
    text = "| alpha | beta |\n|---|---|\n| gamma | d |"
    pt = parse_pipe_table(text)
    assert pt.n_rows == 2 and pt.n_cols == 2
    assert [text[s:e] for s, e in zip(pt.starts.tolist(), pt.ends.tolist())] == [
        "alpha", "beta", "gamma", "d"]


def test_noise_specks_do_not_create_cells():
    # many renders with different noise seeds (seed derives from payload)
    for salt in range(10):
        text = make_table_md(3, 3) + f"\n\nnoise salt {salt}."
        out = extract_turn(text)
        assert out["n_cells"] == 9, f"salt {salt}: {out}"


def test_cell_off_the_layout_is_reported_and_skipped(monkeypatch):
    """A detected cell whose center lies in no layout rect is left out of
    the spans and the text, and ``err`` names it. The detector is wrapped
    to add one rect centred on the grid line between columns 0 and 1 of
    row 0, so ``order_cells`` makes it cell (0, 1) and shifts the row's
    true cells to columns 2 and 3."""
    from opencv_table_extraction_spark.kernel import extract as kx
    from opencv_table_extraction_spark.kernel.render import CELL_H, LINE_T

    text = make_table_md(2, 3)
    rects = layout_table(parse_pipe_table(text))[2]
    line_center = int(rects[1, 0]) - LINE_T // 2  # between columns 0 and 1
    extra = [line_center - 4, int(rects[1, 1]), 8, CELL_H]
    detect = kx.detect_cells
    monkeypatch.setattr(kx, "detect_cells", lambda grid: np.vstack([detect(grid), [extra]]))
    out = kx.extract_turn(text)
    assert out["err"] == "cell (0,1) matched 0 layout rects"
    assert out["n_cells"] == 6
    assert out["extracted_text"] == "r0c0-xx\tr0c1-xx\tr0c2-xx\nr1c0-xx\tr1c1-xx\tr1c2-xx"
    assert [(s["row"], s["col"]) for s in out["spans"]][:3] == [(0, 0), (0, 2), (0, 3)]
