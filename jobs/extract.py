"""E1 — the production batch extraction job (SURVEY.md §3.2).

Deployed as:
    spark-submit --py-files engine.zip jobs/extract.py \
        --input  <transcripts parquet/iceberg dir> \
        --output <catalog root> [--buckets 256] [--max-buckets N] \
        [--partitions N] [--local N]

Reads the conv_id-partitioned transcript table, resumes from the last
committed snapshot (skips committed conv buckets), extracts with the
Arrow kernel, writes per-bucket output + per-partition lineage, commits
the snapshot manifest. Re-running after a crash completes the remainder;
re-running after completion is a no-op (BASELINE.json:6 "resumable from
the last committed Iceberg snapshot checkpoint").
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opencv_table_extraction_spark.session import (  # noqa: E402
    CPU_BOUND_SCAN_CONFS,
    build_session,
)
from opencv_table_extraction_spark.sources import (  # noqa: E402
    IcebergSnapshotCatalog,
    SnapshotCatalog,
    has_iceberg_runtime,
    run_resumable,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcripts parquet path")
    ap.add_argument("--output", required=True, help="snapshot catalog root")
    ap.add_argument("--iceberg-table", default=None,
                    help="bind data/lineage writes to this Iceberg table "
                         "(requires the iceberg-spark-runtime jar; the "
                         "manifest bookkeeping stays under --output)")
    ap.add_argument("--buckets", type=int, default=256,
                    help="conv buckets (commit granularity)")
    ap.add_argument("--max-buckets", type=int, default=None,
                    help="bound this run (testing / staged rollout)")
    ap.add_argument("--partitions", type=int, default=None,
                    help="width of the round-robin exchange before the "
                         "kernel (default: 2 x default parallelism); "
                         "0: no exchange")
    ap.add_argument("--local", type=int, default=None,
                    help="run on local[N] instead of deferring to spark-submit")
    ap.add_argument("--cpu-bound-scan", default=True,
                    action=argparse.BooleanOptionalAction,
                    help="size file splits for the CPU-bound kernel "
                         "(small maxPartitionBytes/openCost so a "
                         "many-small-file input doesn't bin-pack into "
                         "byte-balanced but work-skewed 10x-straggler "
                         "splits); --no-cpu-bound-scan restores Spark's "
                         "byte-proportional defaults")
    args = ap.parse_args()

    # this job's scan feeds the image kernel narrowly: split by expected
    # WORK, not bytes
    spark = build_session(
        "octe-extract-job",
        master=f"local[{args.local}]" if args.local else None,
        shuffle_partitions=args.local or None,
        extra_confs=CPU_BOUND_SCAN_CONFS if args.cpu_bound_scan else None,
    )
    if args.iceberg_table:
        if not has_iceberg_runtime(spark):
            sys.exit("--iceberg-table requires the iceberg-spark-runtime "
                     "jar on the session classpath")
        cat: SnapshotCatalog = IcebergSnapshotCatalog(
            spark, args.iceberg_table, args.output, n_buckets=args.buckets
        )
    else:
        cat = SnapshotCatalog(args.output, n_buckets=args.buckets)
    df = spark.read.parquet(args.input)
    result = run_resumable(
        spark, df, cat, max_buckets=args.max_buckets, partitions=args.partitions
    )
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
