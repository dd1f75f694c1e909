"""Single-process, Spark-free oracle (SURVEY.md §5.2-1).

Runs the same Layer-A kernel (kernel/extract.py) row-by-row in one Python
process; only the tests call it. Per-turn equality of the Spark
pipeline's output against this oracle isolates bugs in the *Spark
plumbing* (Arrow schema round-trip, partitioning, ordering, salting);
kernel correctness itself is pinned by the independent generator truth
(fixtures/gen.py) and the constructive / property tests in tests/.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from opencv_table_extraction_spark.kernel.extract import (
    OUT_FIELDS,
    arrow_out_schema,
    extract_turn,
)

__all__ = ["run_oracle", "run_oracle_parquet"]


def run_oracle(transcripts: pa.Table, use_adaptive: bool = False) -> pa.Table:
    """Extract every turn single-process; returns the output table sorted
    by (conv_id, turn_idx) — the stable ordering the equality check uses."""
    conv = transcripts.column("conv_id").to_pylist()
    tix = transcripts.column("turn_idx").to_pylist()
    txt = transcripts.column("text").to_pylist()
    order = sorted(range(len(conv)), key=lambda i: (conv[i], tix[i]))
    cols: dict[str, list] = {name: [] for name, _ in OUT_FIELDS}
    for i in order:
        row = extract_turn(txt[i] or "", use_adaptive=use_adaptive)
        cols["conv_id"].append(conv[i])
        cols["turn_idx"].append(tix[i])
        for k in ("route", "extracted_text", "spans", "n_rows", "n_cols",
                  "n_cells", "n_joints", "err"):
            cols[k].append(row[k])
        cols["proc_us"].append(0)  # timing is not part of the oracle contract
    schema = arrow_out_schema()
    return pa.table({n: pa.array(cols[n], type=t) for n, t in OUT_FIELDS}, schema=schema)


def run_oracle_parquet(in_path: str, out_path: str | None = None) -> pa.Table:
    out = run_oracle(pq.read_table(in_path, columns=["conv_id", "turn_idx", "text"]))
    if out_path:
        pq.write_table(out, out_path)
    return out
