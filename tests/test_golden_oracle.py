"""Golden per-turn equality vs the independent generator truth
(SURVEY.md §5.2-1, the north-rule invariant BASELINE.json:14-15) —
single-process path. The Spark-pipeline equality lives in
tests/test_pipeline_spark.py."""

import numpy as np
import pytest

from opencv_table_extraction_spark.fixtures.gen import gen_tables
from oracle import run_oracle


@pytest.fixture(scope="module")
def fixture_tables():
    return gen_tables(600, seed=42, skew=False)


def test_oracle_matches_generator_truth(fixture_tables):
    transcripts, truth, grid = fixture_tables
    out = run_oracle(transcripts)
    got = {(r["conv_id"], r["turn_idx"]): r for r in out.to_pylist()}
    n = 0
    for t in truth.to_pylist():
        key = (t["conv_id"], t["turn_idx"])
        assert got[key]["extracted_text"] == t["expected_text"], key
        assert got[key]["route"] == t["route"], key
        assert got[key]["err"] == "", (key, got[key]["err"])
        n += 1
    assert n == transcripts.num_rows
    for g in grid.to_pylist():
        key = (g["conv_id"], g["turn_idx"])
        for k in ("n_rows", "n_cols", "n_cells", "n_joints"):
            assert got[key][k] == g[k], (key, k)


def test_adaptive_threshold_equals_otsu_on_fixture(fixture_tables):
    """The adaptive (integral-image mean-C) branch must recover the
    identical text/route/counters on the whole fixture mix — including
    the noisy scan family — that the Otsu default recovers. (The Spark
    driver additionally certifies this via extract_tables_adaptive.)"""
    transcripts, truth, _ = fixture_tables
    out = run_oracle(transcripts, use_adaptive=True)
    got = {(r["conv_id"], r["turn_idx"]): r for r in out.to_pylist()}
    for t in truth.to_pylist():
        key = (t["conv_id"], t["turn_idx"])
        assert got[key]["extracted_text"] == t["expected_text"], key
        assert got[key]["route"] == t["route"], key
        assert got[key]["err"] == "", (key, got[key]["err"])


def test_generator_is_deterministic():
    a, at, _ = gen_tables(150, seed=42, skew=False)
    b, bt, _ = gen_tables(150, seed=42, skew=False)
    assert a.equals(b) and at.equals(bt)
    c, _, _ = gen_tables(150, seed=7, skew=False)
    assert not a.equals(c)


def test_spans_slice_back_to_source(fixture_tables):
    transcripts, truth, _ = fixture_tables
    out = run_oracle(transcripts)
    texts = {(r["conv_id"], r["turn_idx"]): r["text"] for r in transcripts.to_pylist()}
    checked = 0
    for r in out.to_pylist():
        if r["route"] != "table":
            continue
        src = texts[(r["conv_id"], r["turn_idx"])]
        for s in r["spans"]:
            assert 0 <= s["start"] <= s["end"] <= len(src)
            cell_text = src[s["start"] : s["end"]]
            assert "\n" not in cell_text and "|" not in cell_text
            checked += 1
    assert checked > 100
