"""Deterministic transcript-fixture generator (FIXTURES.md §1, seed=42).

Produces the input table fixed by BASELINE.json:15 —
(conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp) — plus two sidecar truth tables:

  transcripts_truth(conv_id, turn_idx, route, expected_text)
  grid_truth(conv_id, turn_idx, n_rows, n_cols, n_cells, n_joints)

``expected_text`` is computed INDEPENDENTLY of the extraction kernel
(plain string joins over the constructed content), so per-turn equality
is a real end-to-end check of parse→render→binarize→morphology→
detect→order→span→assemble. The truth carries no span geometry: layout
rects are the kernel's own contract (kernel/render.layout_table), which
the grid-recovery tests check, and this module never calls it.

Route mix per FIXTURES.md: 25% pipe-table, 25% HTML, 10% scan
(handwriting-vs-signature router cases, test2.py:3-5), 40% plain.
Conversation lengths ~ lognormal (median 8); one skew-monster
conversation with 50x the median turn count exercises salting (B9).
Rows are written SHUFFLED on disk so ordering must come from the window,
never from file order.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

__all__ = ["gen_tables", "write_fixture"]

_VOCAB = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor "
    "whiskey xray yankee zulu ledger invoice total amount shipped pending "
    "region account balance status quarter metric revenue forecast actual"
).split()

_ROLES = ("user", "assistant", "tool")
_TOOLS = ("search", "calc", "browser", "sql")
_BASE_TS = datetime(2026, 1, 1, tzinfo=timezone.utc)


def _words(rng: np.random.RandomState, n: int) -> str:
    return " ".join(_VOCAB[i] for i in rng.randint(0, len(_VOCAB), n))


def _make_table_turn(rng: np.random.RandomState) -> tuple[str, str, tuple[int, int]]:
    """Returns (payload, expected_text, (n_rows, n_cols))."""
    R = int(rng.randint(1, 9))
    C = int(rng.randint(1, 9))
    grid: list[list[str]] = []
    for r in range(R):
        row = [f"r{r}c{c}-{_VOCAB[rng.randint(0, len(_VOCAB))]}" for c in range(C)]
        grid.append(row)
    ragged = R >= 2 and rng.rand() < 0.15
    if ragged:
        grid[-1] = grid[-1][: max(1, C - 1)]
    lines: list[str] = []
    if rng.rand() < 0.4:  # prose noise line before the table (no '|', no '<')
        lines.append(_words(rng, int(rng.randint(3, 8))) + ".")
    lines.append("| " + " | ".join(grid[0]) + " |")
    # markdown separator row (skipped by the parser); always emitted for
    # single-row tables so the payload keeps >= 2 pipe rows and routes
    # as 'table' in classify_payload
    if R == 1 or rng.rand() < 0.5:
        lines.append("|" + "|".join(["---"] * len(grid[0])) + "|")
    for row in grid[1:]:
        lines.append("| " + " | ".join(row) + " |")
    payload = "\n".join(lines)
    if rng.rand() < 0.4:
        payload += "\n\n" + _words(rng, int(rng.randint(3, 8))) + "."
    expected = "\n".join(
        "\t".join(row + [""] * (C - len(row))) for row in grid
    )
    return payload, expected, (R, C)


def _make_html_turn(rng: np.random.RandomState) -> tuple[str, str]:
    nav_items = "".join(
        f'<li><a href="#{i}">{_VOCAB[rng.randint(0, len(_VOCAB))]}</a></li>'
        for i in range(int(rng.randint(3, 7)))
    )
    paras = [_words(rng, int(rng.randint(8, 20))) for _ in range(int(rng.randint(2, 5)))]
    body_paras = []
    for p in paras:
        if rng.rand() < 0.3:  # inline emphasis inside content
            w = p.split()
            k = int(rng.randint(0, len(w)))
            w[k] = f"<b>{w[k]}</b>"
            body_paras.append(f"<p>{' '.join(w)}</p>")
        else:
            body_paras.append(f"<p>{p}</p>")
    heading = _words(rng, 2)
    footer = _words(rng, 2)
    payload = (
        f"<html><head><title>{_VOCAB[rng.randint(0, len(_VOCAB))]}</title>"
        f"<style>.x{{color:red}}</style>"
        f"<script>var x = 1 < 2;</script></head><body>"
        f"<nav><ul>{nav_items}</ul></nav>"
        f"<h1>{heading}</h1>"
        f"<div>{''.join(body_paras)}</div>"
        f"<footer>{footer}</footer></body></html>"
    )
    return payload, "\n".join(paras)


def _make_scan_turn(rng: np.random.RandomState) -> tuple[str, str, str]:
    """Returns (payload, expected_text, expected_route)."""
    W, H = 400, 300
    case = ("multi", "large_single", "signature_only", "faint")[int(rng.randint(0, 4))]
    regions: list[str] = []
    if case == "multi":  # filled form / letter: several inked text regions
        for _ in range(int(rng.randint(2, 5))):
            x, y = int(rng.randint(10, 200)), int(rng.randint(10, 180))
            regions.append(f"region x={x} y={y} w=120 h=30 d=0.5")
        route = "handwriting"
    elif case == "large_single":  # one big note block well above the bottom
        regions.append(
            f"region x={int(rng.randint(10, 80))} y={int(rng.randint(10, 120))} "
            f"w=250 h=100 d=0.5"
        )
        route = "handwriting"
    elif case == "signature_only":  # the test2.py:5 carve-out
        regions.append(
            f"region x={int(rng.randint(180, 280))} y={int(rng.randint(235, 270))} "
            f"w=90 h=24 d=0.5"
        )
        route = "ocr"
    else:  # faint specks only: below the ink floor everywhere
        for _ in range(int(rng.randint(1, 3))):
            x, y = int(rng.randint(10, 300)), int(rng.randint(10, 250))
            regions.append(f"region x={x} y={y} w=40 h=10 d=0.05")
        route = "ocr"
    transcript = _words(rng, int(rng.randint(6, 16))) + "."
    payload = f"[[scan]] w={W} h={H}\n" + "\n".join(regions) + "\n[[/scan]]\n" + transcript
    return payload, transcript, route


def gen_tables(
    n_turns: int, seed: int = 42, skew: bool = True
) -> tuple[pa.Table, pa.Table, pa.Table]:
    """Generate (transcripts, transcripts_truth, grid_truth) Arrow tables."""
    rng = np.random.RandomState(seed)
    conv_rows: list[tuple] = []
    truth_rows: list[tuple] = []
    grid_rows: list[tuple] = []
    total = 0
    conv_i = 0
    median_len = 8
    while total < n_turns:
        conv_id = f"conv-{conv_i:06d}"
        if skew and conv_i == 7 and n_turns >= 2000:
            n = median_len * 50  # the skew monster (FIXTURES.md)
        else:
            n = max(1, int(rng.lognormal(np.log(median_len), 0.6)))
        ts = _BASE_TS + timedelta(seconds=int(rng.randint(0, 10_000_000)))
        for t in range(n):
            role = _ROLES[t % 3]
            tool = _TOOLS[int(rng.randint(0, len(_TOOLS)))] if role == "tool" else ""
            p = rng.rand()
            if p < 0.25:
                payload, expected, (R, C) = _make_table_turn(rng)
                route = "table"
                grid_rows.append((conv_id, t, R, C, R * C, (R + 1) * (C + 1)))
            elif p < 0.50:
                payload, expected = _make_html_turn(rng)
                route = "html"
            elif p < 0.60:
                payload, expected, route = _make_scan_turn(rng)
            else:
                payload = _words(rng, int(rng.randint(5, 40))) + "."
                expected = payload.strip()
                route = "plain"
            ts = ts + timedelta(seconds=int(rng.randint(1, 120)))
            conv_rows.append((conv_id, t, role, payload, tool, ts))
            truth_rows.append((conv_id, t, route, expected))
            total += 1
        conv_i += 1

    # shuffle on-disk order: ordering must come from the window, not files
    perm = rng.permutation(len(conv_rows))
    conv_rows = [conv_rows[i] for i in perm]

    transcripts = pa.table(
        {
            "conv_id": pa.array([r[0] for r in conv_rows], pa.string()),
            "turn_idx": pa.array([r[1] for r in conv_rows], pa.int32()),
            "role": pa.array([r[2] for r in conv_rows], pa.string()),
            "text": pa.array([r[3] for r in conv_rows], pa.string()),
            "tool": pa.array([r[4] for r in conv_rows], pa.string()),
            "ts": pa.array([r[5] for r in conv_rows], pa.timestamp("us", tz="UTC")),
        }
    )
    truth = pa.table(
        {
            "conv_id": pa.array([r[0] for r in truth_rows], pa.string()),
            "turn_idx": pa.array([r[1] for r in truth_rows], pa.int32()),
            "route": pa.array([r[2] for r in truth_rows], pa.string()),
            "expected_text": pa.array([r[3] for r in truth_rows], pa.string()),
        }
    )
    grid = pa.table(
        {
            "conv_id": pa.array([r[0] for r in grid_rows], pa.string()),
            "turn_idx": pa.array([r[1] for r in grid_rows], pa.int32()),
            "n_rows": pa.array([r[2] for r in grid_rows], pa.int32()),
            "n_cols": pa.array([r[3] for r in grid_rows], pa.int32()),
            "n_cells": pa.array([r[4] for r in grid_rows], pa.int32()),
            "n_joints": pa.array([r[5] for r in grid_rows], pa.int32()),
        }
    )
    return transcripts, truth, grid


def write_fixture(
    out_dir: str, n_turns: int, seed: int = 42, skew: bool = True,
    n_files: int = 1,
) -> dict:
    """Write the three fixture parquet files; returns paths.

    ``n_files > 1`` writes transcripts as a DIRECTORY of that many
    parquet files — the realistic scan shape (an Iceberg table is many
    files), so the kernel map parallelizes straight off the scan instead
    of serializing on a single file split."""
    os.makedirs(out_dir, exist_ok=True)
    transcripts, truth, grid = gen_tables(n_turns, seed=seed, skew=skew)
    paths = {
        "transcripts": os.path.join(out_dir, "transcripts.parquet"),
        "transcripts_truth": os.path.join(out_dir, "transcripts_truth.parquet"),
        "grid_truth": os.path.join(out_dir, "grid_truth.parquet"),
    }
    if n_files <= 1:
        pq.write_table(transcripts, paths["transcripts"])
    else:
        os.makedirs(paths["transcripts"], exist_ok=True)
        n = transcripts.num_rows
        step = -(-n // n_files)
        for i in range(n_files):
            chunk = transcripts.slice(i * step, step)
            if chunk.num_rows:
                pq.write_table(
                    chunk, os.path.join(paths["transcripts"], f"part-{i:05d}.parquet")
                )
    pq.write_table(truth, paths["transcripts_truth"])
    pq.write_table(grid, paths["grid_truth"])
    return paths


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--turns", type=int, default=10_000)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--no-skew", action="store_true")
    a = ap.parse_args()
    print(write_fixture(a.out_dir, a.turns, a.seed, not a.no_skew))
