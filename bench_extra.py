"""Optimization-round instrumentation (guide §1): per-query isolation
with the noop sink, plan capture, and sub-stage timing for the extract
pipeline. NOT the driver bench — bench.py stays frozen; this file's
numbers are cited in OPTIMIZATION_r08.md.

Usage:
    python bench_extra.py plans [outdir]      # explain("formatted") per query
    python bench_extra.py time [query ...]    # noop-sink timing, best-of-N
    python bench_extra.py stages              # extract pipeline sub-stages
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from opencv_table_extraction_spark.plans import (  # noqa: E402
    extract_transcripts,
    transcripts_from_tpch,
)
from opencv_table_extraction_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
ATTEMPTS = int(os.environ.get("SPARK_GRAFT_BENCH_ATTEMPTS", "2"))


def _session():
    spark = build_session(
        "octe-bench-extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_confs={
            "spark.ui.enabled": "false",
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{SF_DIR}/nation.parquet").count()  # warmup
    return spark


def bench_frames(spark) -> dict:
    """The same queries bench.py times, as DataFrames (for noop/explain)."""
    import __spark_entry__ as em

    qs = em.queries()
    frames = {
        name: (lambda n=name: qs[n](spark, SF_DIR))
        for name in (
            "extract_order_tables",
            "extract_order_cells",
            "dedup_minhash_lsh_pairs",
            "dedup_components",
            "dedup_jaccard_prefix_pairs",
            "dedup_simhash_pairs_scale",
            "dedup_exact",
            "sim_embedding_topk",
            "sim_ivf_assign",
            "sim_ivf_batch_search",
            "text_token_stats",
            "pricing_summary",
            "event_sessionize",
            "events_asof_order_bucketed",
            "event_session_windows",
        )
    }

    def full():
        t = transcripts_from_tpch(spark, SF_DIR)
        return extract_transcripts(t).where(F.col("err") == "")

    frames["extract_full_pipeline"] = full
    return frames


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def cmd_plans(outdir: str) -> None:
    spark = _session()
    os.makedirs(outdir, exist_ok=True)
    for name, fn in bench_frames(spark).items():
        df = fn()
        path = os.path.join(outdir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            ))
        print(f"wrote {path}")
    spark.stop()


def cmd_time(only: list[str]) -> None:
    spark = _session()
    out = {}
    for name, fn in bench_frames(spark).items():
        if only and name not in only:
            continue
        times = []
        for _ in range(ATTEMPTS):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            noop(fn())
            times.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = {"min": min(times), "times": times}
        print(json.dumps({name: out[name]}))
    print(json.dumps({"total_min": round(sum(v["min"] for v in out.values()), 3)}))
    spark.stop()


def cmd_stages() -> None:
    """Isolate the extract pipeline's sub-stages (guide §1.4)."""
    spark = _session()

    def t(label, df):
        best = None
        for _ in range(ATTEMPTS):
            spark.sparkContext.setJobDescription(f"stage:{label}")
            t0 = time.time()
            noop(df)
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        print(json.dumps({label: round(best, 3)}))

    src = transcripts_from_tpch(spark, SF_DIR)
    t("derive_transcripts", src)
    t("derive_tables_only", src.where(F.col("conv_id").startswith("order-")))
    t("kernel_no_turnseq", extract_transcripts(src, add_turn_seq=False))
    t("kernel_with_turnseq", extract_transcripts(src))
    t("kernel_unsalted", extract_transcripts(src, partitions=CPUS * 2,
                                             add_turn_seq=False))
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "time"
    if cmd == "plans":
        cmd_plans(sys.argv[2] if len(sys.argv) > 2 else "plans/r08/_scratch")
    elif cmd == "stages":
        cmd_stages()
    else:
        cmd_time(sys.argv[2:])
