"""Property-based hardening (hypothesis) for the imaging primitives:
morphology vs brute force on arbitrary masks, Otsu vs argmax scan on
arbitrary histograms, CC invariants, parse-offset round-trips, and the
render geometry, and the whole kernel on malformed input."""

import re

import numpy as np
import pyarrow as pa
from hypothesis import assume, given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from opencv_table_extraction_spark.kernel.components import connected_components
from opencv_table_extraction_spark.kernel.extract import (
    arrow_out_schema,
    extract_batch,
    extract_turn,
)
from opencv_table_extraction_spark.kernel.imaging import (
    morph_open_h,
    morph_open_v,
    otsu_threshold,
)
from opencv_table_extraction_spark.kernel.render import (
    CHAR_W,
    parse_pipe_table,
    render_table,
)


def cell_texts(text, pt):
    """Each parsed cell's text: the turn sliced at its offsets."""
    return [text[s:e] for s, e in zip(pt.starts.tolist(), pt.ends.tolist())]


masks = arrays(
    np.uint8,
    st.tuples(st.integers(1, 24), st.integers(1, 24)),
    elements=st.sampled_from([0, 255]),
)


def brute(img, se, op, pad):
    kh, kw = se
    p = np.pad(img, (((kh - 1) // 2, kh // 2), ((kw - 1) // 2, kw // 2)),
               constant_values=pad)
    return np.array(
        [[op(p[y : y + kh, x : x + kw]) for x in range(img.shape[1])]
         for y in range(img.shape[0])],
        dtype=np.uint8,
    )


def brute_open(img, se):
    """Erode (out-of-image = ink), then dilate by the reflected SE:
    flip, dilate, flip."""
    eroded = brute(img, se, np.min, 255)
    return brute(eroded[::-1, ::-1], se, np.max, 0)[::-1, ::-1]


def open_h(img, k):
    # scale beyond the side makes W // scale == 0, so the SE is exactly k
    return morph_open_h(img, scale=img.shape[1] + 1, min_k=k)


def open_v(img, k):
    return morph_open_v(img, scale=img.shape[0] + 1, min_k=k)


@settings(max_examples=25, deadline=None)
@given(masks, st.integers(2, 30))
def test_open_idempotent(img, k):
    for op in (open_h, open_v):
        once = op(img != 0, k)
        assert np.array_equal(op(once, k), once)


@settings(max_examples=120, deadline=None)
@given(masks, st.integers(2, 30))
def test_open_run_path_equals_erode_dilate(img, k):
    """The run-length h/v openings must equal the erode + reflected-dilate
    composition bit for bit, including canvases narrower than the SE."""
    assert np.array_equal(open_h(img != 0, k), brute_open(img, (1, k)) != 0)
    assert np.array_equal(open_v(img != 0, k), brute_open(img, (k, 1)) != 0)


@settings(max_examples=40, deadline=None)
@given(arrays(np.uint8, st.tuples(st.integers(2, 30), st.integers(2, 30)),
              elements=st.integers(0, 255)))
def test_otsu_binary_consistent(gray):
    thr, binary = otsu_threshold(gray)
    assert 0 <= thr <= 255
    assert np.array_equal(binary, np.where(gray <= thr, 255, 0).astype(np.uint8) != 0)


@settings(max_examples=40, deadline=None)
@given(masks)
def test_cc_invariants(img):
    stats = connected_components(img != 0)
    assert stats[:, 4].sum() == (img > 0).sum()
    for x, y, w, h, area in stats:
        assert area <= w * h


@settings(max_examples=40, deadline=None)
@given(st.lists(st.lists(st.text(
    alphabet=st.characters(blacklist_characters="|\n\r", min_codepoint=32,
                           max_codepoint=126),
    max_size=8).map(lambda s: s.strip() or "x"), min_size=1, max_size=5),
    min_size=1, max_size=5))
def test_parse_offsets_roundtrip(rows):
    text = "\n".join("| " + " | ".join(r) + " |" for r in rows)
    pt = parse_pipe_table(text)
    # a row of dash cells (with optional colons) is a |---| separator
    kept = [r for r in rows if not all(re.fullmatch(":?-{2,}:?", c) for c in r)]
    if not kept:
        assert pt is None
        return
    n_cols = max(map(len, kept))
    assert (pt.n_rows, pt.n_cols) == (len(kept), n_cols)
    assert cell_texts(text, pt) == [c for r in kept for c in r + [""] * (n_cols - len(r))]


@settings(max_examples=60, deadline=None)
@given(st.lists(st.lists(st.text(
    alphabet=st.characters(blacklist_characters="|\n\r", min_codepoint=32,
                           max_codepoint=126),
    max_size=120).map(str.strip), min_size=1, max_size=12),
    min_size=1, max_size=6))
def test_render_dash_pixels_inside_canvas(rows):
    """Every dash pixel render_table scatters lies inside the (H, W)
    canvas. The scatter is fancy indexing, which raises on an index past
    the edge (and wraps a negative one) where a slice would clip, so a
    geometry change must fail here rather than in the err column."""
    pt = parse_pipe_table("\n".join("| " + " | ".join(r) + " |" for r in rows))
    assume(pt is not None)  # every row may parse as a |---| separator
    img, rects = render_table(pt)
    H, W = img.shape
    for n_chars, (x, y, w, h) in zip((pt.ends - pt.starts).tolist(), rects.tolist()):
        npx = min(n_chars * CHAR_W, w - 8)
        if npx <= 0:
            continue
        cols = x + 4 + np.flatnonzero(np.arange(npx) % 6 < 3)
        cy = y + h // 2
        assert 0 <= cols[0] and cols[-1] < W and 0 <= cy and cy + 1 < H
        assert not img[cy : cy + 2, cols].any()  # the pixels are ink


# Malformed turns: lines of pipe-table, HTML and scan fragments and free
# text, about half of them pipe rows, ended by mixed line breaks or none.
# Only the header and region fragments hold digits, none starts with one
# and free text has none, so a scan page size comes whole from one header
# fragment and stays at most 64 px.
_fragments = st.one_of(
    st.sampled_from(["|", " ", "-", "---", ":", ":--", "--:", "\t", "\u00a0", "é",
                     "表格", "<td>", "</td>", "<table>", "<p>", "</p>", "<br/>", "<b"]),
    st.text(st.characters(blacklist_categories=("Cs", "Nd")), max_size=6),
    st.one_of(st.builds("[[scan]] w={} h={}\n".format,
                        st.integers(1, 64), st.integers(1, 64)),
              st.builds("region x={} y={} w={} h={} d=0.{}\n".format,
                        *[st.integers(0, 80)] * 4, st.integers(0, 9)),
              st.sampled_from(["[[scan]]", "[[scan]] w=", "[[/scan]]", "[[/scan]]\n",
                               "region x=", "d=."])),
)
_cell = st.lists(_fragments, max_size=3).map("".join)
_line = st.one_of(_cell, st.lists(_cell, min_size=1, max_size=5).map(
    lambda cells: "|" + "|".join(cells) + "|"))
_eol = st.sampled_from(["\n", "\r\n", "\r", "\x0b", "\u2028", ""])
malformed_texts = st.lists(st.tuples(_line, _eol), max_size=8).map(
    lambda lines: "".join(ln + eol for ln, eol in lines))


@settings(max_examples=300, deadline=None)
@given(malformed_texts)
def test_kernel_malformed_input(text):
    """Parsed offsets stay inside the turn and index stripped text, and
    the batch path returns one row of the output schema per turn, with
    every exception ``extract_turn`` raises caught into ``err``."""
    pt = parse_pipe_table(text)
    if pt is not None:
        assert pt.starts.shape == pt.ends.shape == (pt.n_rows * pt.n_cols,)
        assert (0 <= pt.starts).all() and (pt.starts <= pt.ends).all()
        assert (pt.ends <= len(text)).all()
        assert all(c == c.strip() for c in cell_texts(text, pt))
    batch = pa.RecordBatch.from_pydict(
        {"conv_id": ["c"], "turn_idx": pa.array([0], pa.int32()), "text": [text]})
    (out,) = extract_batch([batch])
    assert out.schema == arrow_out_schema() and out.num_rows == 1
    row = out.to_pylist()[0]
    try:
        want = extract_turn(text)
    except Exception as e:  # noqa: BLE001 — must land in err, not escape
        assert row["route"] == "error"
        assert row["err"].startswith(type(e).__name__ + ": ")
    else:
        assert {k: row[k] for k in want} == want
