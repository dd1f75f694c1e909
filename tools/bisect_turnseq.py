"""Bisect the r6 extract-throughput delta (r6 verdict #2): run the
flagship extraction at sf0.1 in THREE turn_seq modes — none (kernel
only, the control), window (one conv_id window), unbounded (two-level
prefix sum + join-back) — INTERLEAVED in one session so host drift hits
every mode equally, and report per-mode medians plus the attributable
deltas. The r6 bench moved 15.3 -> 17.2 s on extract_full_pipeline
while extract_order_tables (no turn_seq, code-identical) moved +9% too;
this separates "price of the production-shape twin" from ambient noise.

Usage: python tools/bisect_turnseq.py [reps]   (env: SPARK_GRAFT_SF_DIR,
SPARK_GRAFT_CPUS — same contract as bench.py)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import wait_for_cotenant_quiet  # noqa: E402
from opencv_table_extraction_spark.plans import (  # noqa: E402
    extract_transcripts,
    transcripts_from_tpch,
)
from opencv_table_extraction_spark.session import build_session  # noqa: E402


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_session(
        "bisect-turnseq",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_confs={
            "spark.ui.enabled": "false",
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()  # warmup

    def run(mode: str) -> float:
        t = transcripts_from_tpch(spark, sf_dir)
        kw = {}
        if mode == "none":
            kw["add_turn_seq"] = False
        elif mode == "unbounded":
            kw["unbounded_turn_seq"] = True
        out = extract_transcripts(t, **kw)
        t0 = time.time()
        out.where(F.col("err") == "").count()
        return time.time() - t0

    modes = ("none", "window", "unbounded")
    times: dict[str, list[float]] = {m: [] for m in modes}
    for rep in range(reps):
        for m in modes:  # interleaved: drift hits every mode equally
            cot = wait_for_cotenant_quiet(2.0, 60)
            dt = run(m)
            times[m].append(round(dt, 3))
            print(
                f"rep {rep} mode {m:9s} {dt:6.2f}s (cotenant {cot:.1f} cpus)",
                file=sys.stderr,
            )
    med = {m: round(statistics.median(v), 3) for m, v in times.items()}
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "cpus": cpus,
                "reps": reps,
                "times": times,
                "median": med,
                "window_minus_none_s": round(med["window"] - med["none"], 3),
                "unbounded_minus_window_s": round(
                    med["unbounded"] - med["window"], 3
                ),
                "unbounded_over_window": round(med["unbounded"] / med["window"], 4),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
