"""Driver-mimic: run every __spark_entry__ query against its DuckDB
oracle at a given sf dir and compare row-count + schema + sorted values
(the same contract CORRECTNESS_r{N}.json grades). Usage:

    python tools/check_queries.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
from types import SimpleNamespace

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _crosscheck_invariant(sdf: pd.DataFrame, ctx) -> list[str]:
    """Self-certifying check for dedup_pairs_crosscheck at scales where
    the brute-force DuckDB oracle is infeasible: the two INDEPENDENT
    Spark generators (probabilistic LSH vs exact PPJoin) must agree
    set-exactly with zero drops — that agreement IS the evidence, no
    external truth needed (at sf0.01 the driver additionally hashes the
    row against the quadratic oracle)."""
    if len(sdf) != 1:
        # fail like the oracle path instead of dying on .iloc[0]
        return [f"expected exactly 1 row, got {len(sdf)}"]
    r = sdf.iloc[0]
    errs = []
    if r["n_symmetric_diff"] != 0:
        errs.append(f"symmetric diff {r['n_symmetric_diff']} != 0")
    if r["n_dropped_lsh"] != 0 or r["n_dropped_prefix"] != 0:
        errs.append(
            f"drops lsh={r['n_dropped_lsh']} prefix={r['n_dropped_prefix']}"
        )
    if r["n_pairs_lsh"] != r["n_pairs_prefix"] or r["n_pairs_lsh"] <= 0:
        errs.append(
            f"pair counts lsh={r['n_pairs_lsh']} prefix={r['n_pairs_prefix']}"
        )
    return errs


def _containment_invariant(sdf: pd.DataFrame, ctx) -> list[str]:
    """Self-certifying check for dedup_containment_pairs at scales where
    the quadratic all-pairs oracle is infeasible. Two legs, both
    independent of the Spark generator's candidate logic:

    1. PLANTED partial oracle, O(N) not O(N^2): the dedup corpus plants
       one truncated twin per document, so DuckDB can compute the true
       C(twin, base) for exactly those N pairs with a linear per-doc
       shingle comparison. Every planted pair with true C >= 0.8 must
       appear in the Spark output with the same (4-dp) containment;
       docs whose twin falls below threshold (short docs — truncation
       can remove >20% of a short doc's distinct shingles) must be
       absent. At sf0.1 this independently certifies ~10k of the true
       pairs, including every C=1.0 subsumption.
    2. Zero drops Spark-side: the generator's exactness contract is
       'exact whenever dropped is empty' — re-evaluate the lazy drop
       frame (keys-only banding subtree) and require 0 rows.
    """
    from opencv_table_extraction_spark.operators.dedup import (
        _SHINGLE_N,
        _sql_grams,
        containment_pairs_with_drops,
        dedup_corpus,
    )

    errs: list[str] = []
    trunc = (
        "array_to_string(string_split_regex(trim(text), '\\s+')"
        "[1:CAST(floor(len(string_split_regex(trim(text), '\\s+')) * 0.9) AS INT)], ' ')"
    )
    truth = ctx.con.execute(
        f"""
        WITH t AS (
          SELECT doc_id, {_sql_grams(_SHINGLE_N)} AS bsh,
                 {_sql_grams(_SHINGLE_N, trunc)} AS tsh
          FROM documents)
        SELECT doc_id,
               round(CAST(len(list_intersect(tsh, bsh)) AS DOUBLE)
                     / nullif(len(tsh), 0), 4) AS c
        FROM t
        """
    ).df()
    got = {
        (int(a), int(b)): float(c)
        for a, b, c in zip(sdf["a_id"], sdf["b_id"], sdf["containment"])
    }
    n_expected = 0
    for d, c in zip(truth["doc_id"], truth["c"]):
        key = (int(d) + 1_000_000, int(d))
        if pd.notna(c) and c >= 0.8:
            n_expected += 1
            if key not in got:
                errs.append(f"planted pair {key} (true C={c}) missing")
            elif abs(got[key] - c) > 1e-9:
                errs.append(f"planted pair {key}: spark {got[key]} != true {c}")
        elif key in got:
            errs.append(f"pair {key} reported but true C={c} < 0.8")
        if len(errs) >= 5:
            errs.append("... (truncated)")
            break
    if n_expected == 0:
        errs.append("vacuous: no planted pair clears the threshold")
    _, dropped = containment_pairs_with_drops(dedup_corpus(ctx.spark, ctx.sf_dir))
    n_drop = dropped.count()
    if n_drop:
        errs.append(f"{n_drop} dropped hot shingles (exactness contract broken)")
    if not errs:
        print(
            f"      ... containment invariant: {n_expected} planted pairs "
            f"all found value-exact, 0 drops"
        )
    return errs


# queries whose ORACLE is quadratic but whose Spark-side output carries
# its own invariant: run with --invariant=<name> to certify Spark-side
# when the oracle is out of reach (the sf0.1 sweep path). Checks take
# (spark_result_df, ctx) where ctx carries .con (DuckDB with the table
# views), .spark, and .sf_dir.
INVARIANT_CHECKS = {
    "dedup_pairs_crosscheck": _crosscheck_invariant,
    "dedup_pairs_crosscheck_high": _crosscheck_invariant,
    "dedup_containment_pairs": _containment_invariant,
}


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Coerce to comparison-stable dtypes: every numeric-able column
    (ints, floats, Decimals-as-object) -> float64 rounded to 9 places;
    everything else -> str. Mirrors an order-insensitive value hash."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
            continue
        if df[c].dtype == bool or str(df[c].dtype) == "boolean":
            df[c] = df[c].astype("bool")
            continue
        try:
            df[c] = pd.to_numeric(df[c], errors="raise").astype("float64").round(9)
        except (ValueError, TypeError):
            df[c] = df[c].map(lambda v: str(v))
    return df.sort_values(list(df.columns), ignore_index=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # bare names = run only those; --skip name = run everything else
    # (e.g. excluding the guarded quadratic oracle modes at sf >= 0.1)
    only = {a for a in sys.argv[2:] if not a.startswith("--")}
    excluded = {
        n for a in sys.argv[2:] if a.startswith("--skip=")
        for n in a[len("--skip="):].split(",")
    }
    invariant_only = {
        n for a in sys.argv[2:] if a.startswith("--invariant=")
        for n in a[len("--invariant="):].split(",")
    }
    unknown_inv = invariant_only - set(INVARIANT_CHECKS)
    if unknown_inv:
        raise SystemExit(f"--invariant has no registered check: {unknown_inv}")

    import __spark_entry__ as entrymod
    from opencv_table_extraction_spark.session import build_session

    spark = build_session(
        "check-queries", master="local[8]", shuffle_partitions=16,
        extra_confs={"spark.ui.enabled": "false"},
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    ctx = SimpleNamespace(con=con, spark=spark, sf_dir=sf_dir)

    from opencv_table_extraction_spark.operators.similarity import (
        IVF_BATCH_ORACLE_SF,
        IVF_RECALL_ORACLE_SF,
        IVF_STORE_ORACLE_SF,
    )

    # planted-constant oracles are anchored to a specific sf; at any
    # other scale they would flip red as a false failure, so skip loudly
    sf_anchored = {
        "sim_ivf_search_recall": IVF_RECALL_ORACLE_SF,
        "sim_ivf_store_search": IVF_STORE_ORACLE_SF,
        "sim_ivf_batch_search": IVF_BATCH_ORACLE_SF,
    }
    sf_base = os.path.basename(sf_dir.rstrip("/"))

    qs = dict(entrymod.queries())
    oracles = dict(entrymod.oracle_sql())
    # the registry holds exactly the <=50 driver-graded rows; the
    # redundant-within-family extras are still certified every sweep
    # here (--registry-only reproduces the driver's exact view)
    if "--registry-only" not in sys.argv:
        qs.update(entrymod.extra_queries())
        oracles.update(entrymod.extra_oracle_sql())
    print(f"registry={len(entrymod.queries())} "
          f"extras={len(entrymod.extra_queries())} sweeping={len(qs)}")
    failures = []
    skipped = []
    for name, fn in qs.items():
        if (only and name not in only) or name in excluded:
            if name in excluded:
                print(f"SKIP  {name:32s} excluded via --skip")
                skipped.append(name)
            continue
        if name in sf_anchored and sf_base not in sf_anchored[name]:
            print(f"SKIP  {name:32s} planted oracle anchored to "
                  f"{'/'.join(sf_anchored[name])}, not {sf_base}")
            skipped.append(name)
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name:32s} spark raised: {type(e).__name__}: {e}")
            failures.append(name)
            continue
        dt = time.time() - t0
        if name in invariant_only:
            errs = INVARIANT_CHECKS[name](sdf, ctx)
            if errs:
                print(f"FAIL  {name:32s} invariant: {'; '.join(errs)}")
                failures.append(name)
            else:
                print(
                    f"INVOK {name:32s} rows={len(sdf):6d} (self-certifying "
                    f"invariant, oracle skipped) {dt:5.1f}s"
                )
            continue
        if name not in oracles:
            status = "ROWS" if len(sdf) > 0 else "EMPTY!"
            print(f"{status:5s} {name:32s} rows={len(sdf):6d} (no oracle) {dt:5.1f}s")
            if len(sdf) == 0:
                failures.append(name)
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name:32s} duckdb raised: {type(e).__name__}: {e}")
            failures.append(name)
            continue
        if sorted(sdf.columns) != sorted(ddf.columns):
            print(f"FAIL  {name:32s} columns {sorted(sdf.columns)} vs {sorted(ddf.columns)}")
            failures.append(name)
            continue
        if len(sdf) != len(ddf):
            print(f"FAIL  {name:32s} rowcount {len(sdf)} vs {len(ddf)}")
            failures.append(name)
            continue
        a, b = normalize(sdf.copy()), normalize(ddf.copy())
        if a.equals(b):
            print(f"OK    {name:32s} rows={len(sdf):6d} {dt:5.1f}s")
        else:
            neq = (a != b).any(axis=1)
            print(f"FAIL  {name:32s} {int(neq.sum())}/{len(a)} rows differ; first:")
            idx = neq.idxmax()
            print("  spark :", a.loc[idx].to_dict())
            print("  duckdb:", b.loc[idx].to_dict())
            failures.append(name)
    # skipped queries were NOT verified — never count them as OK
    n_ran = len(
        [q for q in qs if (not only or q in only) and q not in excluded]
    ) - len([s for s in skipped if s not in excluded])
    skip_note = f" ({len(skipped)} skipped: {', '.join(skipped)})" if skipped else ""
    print(f"\n{n_ran - len(failures)}/{n_ran} queries OK{skip_note}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
