"""Two-parallelism scaling evidence (BASELINE.md protocol).

The north rule requires >=0.8 throughput scaling efficiency from N to 4N
executors; no real cluster exists in this sandbox, so the sanctioned
proxy is the SAME job on the SAME input at local[8] and local[32]
(BASELINE.md "Bench protocol"). Each level runs in a fresh subprocess
(fresh JVM — no warm-executor bleed), 1 warmup + 3 timed runs, median.

Writes BENCH/last_run.md (raw) and prints a JSON summary; the curated
multi-run record lives in BENCH/BASELINE.md (hand-maintained).

Usage: python tools/scaling_run.py [--turns 120000] [--runs 3]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from opencv_table_extraction_spark.session import build_session
from opencv_table_extraction_spark.plans import extract_transcripts, lineage_summary
from pyspark.sql import functions as F

cpus = int(sys.argv[1]); fixture = sys.argv[2]; runs = int(sys.argv[3])
narrow = len(sys.argv) > 4 and sys.argv[4] == "narrow"
extra = {{"spark.ui.enabled": "false", "spark.driver.memory": "48g"}}
if narrow:
    # CPU-bound scan: bytes are a bad proxy for work, so stop the file
    # reader from bin-packing the many small files into a few partitions
    # (default 128MB maxPartitionBytes + 4MB openCost packs ~20 files
    # per split -> a 10x straggler). 4MB splits ~= one file per task.
    extra["spark.sql.files.maxPartitionBytes"] = str(4 * 1024 * 1024)
    extra["spark.sql.files.openCostInBytes"] = str(512 * 1024)
spark = build_session("octe-scaling", master=f"local[{{cpus}}]",
                      shuffle_partitions=cpus, extra_confs=extra)
spark.sparkContext.setLogLevel("ERROR")
df = spark.read.parquet(fixture)
n = df.count()

def stat_jiffies():
    # (steal, total) jiffies from /proc/stat line 1 — steal is the
    # hypervisor's co-tenant signal, the one an in-guest process gate
    # cannot see (this box is a VM: quiet in-guest samples still moved
    # +-20% with the hypervisor's neighbors). r8 (ADVICE): total sums
    # only user..steal (fields 1-8) — guest/guest_nice are already
    # folded into user/nice by the kernel, so counting them inflated
    # the denominator and understated steal_pct — and the handle is
    # closed.
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    v = [int(x) for x in f[1:9]]
    return v[7], sum(v)

def one_run():
    s0, t0j = stat_jiffies()
    t0 = time.time()
    # narrow: the map runs straight off the (many-file, size-balanced)
    # scan with no pre-shuffle — the layout a bucketed store gives you;
    # otherwise a round-robin exchange at 4 x cores (the skew path for
    # hot-conversation clustering)
    out = extract_transcripts(df, partitions=0 if narrow else cpus * 4,
                              add_turn_seq=False)
    lin = lineage_summary(out).collect()
    wall = time.time() - t0
    s1, t1j = stat_jiffies()
    steal_pct = round(100.0 * (s1 - s0) / max(1, t1j - t0j), 2)
    times = sorted(r["wall_ms"] for r in lin if r["n_turns"] > 0)
    med = times[len(times) // 2] if times else 0
    turns = int(sum(r["n_turns"] for r in lin))
    # in-kernel per-turn cost from the lineage rows: the per-core speed
    # probe — the kernel does IDENTICAL per-turn work at every level,
    # so us_per_turn(lo) vs us_per_turn(hi) separates "each core got
    # slower when 4x as many are busy" (clock/memory-bandwidth, a host
    # property) from parallelization overhead (our property)
    kernel_s = sum(r["wall_ms"] for r in lin) / 1000.0
    return wall, steal_pct, {{"max_part_ms": times[-1] if times else 0,
                  "median_part_ms": med,
                  "n_parts": len(times),
                  "total_turns": turns,
                  "n_errors": int(sum(r["n_errors"] for r in lin))}}, \
        round(kernel_s, 2), round(1e6 * kernel_s / max(1, turns), 2)

one_run()  # warmup
walls, steals, kcpus, upts, skew = [], [], [], [], None
for _ in range(runs):
    w, sp, skew, ks, upt = one_run()
    walls.append(w)
    steals.append(sp)
    kcpus.append(ks)
    upts.append(upt)
print("RESULT " + json.dumps({{"cpus": cpus, "n_turns": n, "walls": walls,
                             "steal_pct": steals, "kernel_cpu_s": kcpus,
                             "us_per_turn": upts, "skew": skew}}))
spark.stop()
"""


def wait_for_quiet(max_load: float = 1.5, timeout_s: int = 600) -> float:
    """Block until the host 1-min loadavg drops below max_load (shared
    host: ambient tenants otherwise pollute a sample); returns the load
    observed at release."""
    import time

    t0 = time.time()
    while True:
        load = os.getloadavg()[0]
        if load <= max_load or time.time() - t0 > timeout_s:
            return load
        time.sleep(10)


def wait_for_cotenant(max_cpus: float, timeout_s: float) -> float:
    """Gate a sample on the MEASURED co-tenant CPU (bench.py's
    /proc-based estimator), not loadavg — r5 lesson twice over: loadavg
    carries ~1 min of OUR OWN decay after each heavy child (burning the
    gate budget on an idle host), and the r5 scaling record's local[4]
    walls drifted 119->169 s under an ambient tenant the loadavg gate
    ADMITTED. Returns co-tenant cores at release; between fresh-JVM
    child processes our own subtree is idle, so the reading is a pure
    tenant signal."""
    import bench

    return bench.wait_for_cotenant_quiet(max_cpus, timeout_s)


def run_level(cpus: int, fixture: str, runs: int, narrow: bool = False) -> dict:
    script = _CHILD.format(repo=REPO)
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as f:
        f.write(script)
        path = f.name
    out = subprocess.run(
        [sys.executable, path, str(cpus), fixture, str(runs)]
        + (["narrow"] if narrow else []),
        capture_output=True, text=True, timeout=3600, check=False,
    )
    os.unlink(path)
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[7:])
    raise RuntimeError(f"scaling child (cpus={cpus}) failed:\n{out.stderr[-3000:]}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=120_000)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--low", type=int, default=8)
    ap.add_argument("--high", type=int, default=32)
    ap.add_argument("--level", type=int, default=None,
                    help="run ONE level and dump its JSON to --out")
    ap.add_argument("--out", default=None)
    ap.add_argument("--combine", nargs=2, metavar=("LOW_JSON", "HIGH_JSON"),
                    default=None, help="combine two per-level dumps")
    ap.add_argument("--narrow", action="store_true",
                    help="no pre-map shuffle: map straight off the "
                         "many-file scan (size-balanced store layout)")
    ap.add_argument("--interleave", action="store_true",
                    help="alternate fresh-JVM runs of the two levels "
                         "(fair under drifting ambient load); one timed "
                         "run per JVM, --runs JVMs per level")
    ap.add_argument("--quiet-load", type=float, default=1.5,
                    help="block each sample until 1-min loadavg <= this "
                         "(shared host: ~1.4 ambient cores measurably "
                         "depress the wide level's efficiency)")
    ap.add_argument("--quiet-cotenant", type=float, default=0.75,
                    help="ALSO block each interleaved sample until the "
                         "measured co-tenant CPU (bench.py estimator) "
                         "<= this many cores — the r5 record showed "
                         "loadavg alone admits a drifting tenant")
    ap.add_argument("--gate-timeout", type=float, default=420,
                    help="per-sample bound on co-tenant gate wait (s)")
    args = ap.parse_args()

    from opencv_table_extraction_spark.fixtures.gen import write_fixture

    fx_dir = os.path.join(tempfile.gettempdir(), f"octe_bench_{args.turns}")
    fixture = os.path.join(fx_dir, "transcripts.parquet")
    if not os.path.exists(fixture):
        # 64 files: the realistic many-file table scan shape — the scan
        # parallelizes at both levels instead of serializing on 1 split
        write_fixture(fx_dir, n_turns=args.turns, seed=42, skew=True, n_files=64)

    if args.level is not None:
        res = run_level(args.level, fixture, args.runs)
        out = args.out or f"/tmp/octe_scaling_{args.level}.json"
        with open(out, "w") as f:
            json.dump(res, f)
        print(json.dumps(res))
        return

    if args.combine:
        with open(args.combine[0]) as f:
            lo = json.load(f)
        with open(args.combine[1]) as f:
            hi = json.load(f)
        args.low, args.high = lo["cpus"], hi["cpus"]
    elif args.interleave:
        # alternate the levels so drifting ambient load (shared host)
        # biases neither side; each sample is a fresh JVM (1 warmup + 1
        # timed run)
        lo = {"cpus": args.low, "n_turns": None, "walls": [],
              "steal_pct": [], "us_per_turn": [], "skew": None}
        hi = {"cpus": args.high, "n_turns": None, "walls": [],
              "steal_pct": [], "us_per_turn": [], "skew": None}
        loads, cots = [], []
        for _ in range(args.runs):
            for acc, cpus in ((lo, args.low), (hi, args.high)):
                loads.append(round(wait_for_quiet(args.quiet_load), 2))
                cots.append(round(
                    wait_for_cotenant(args.quiet_cotenant, args.gate_timeout), 2
                ))
                r = run_level(cpus, fixture, 1, narrow=args.narrow)
                acc["walls"].extend(r["walls"])
                acc["steal_pct"].extend(r.get("steal_pct", []))
                acc["us_per_turn"].extend(r.get("us_per_turn", []))
                acc["n_turns"] = r["n_turns"]
                acc["skew"] = r["skew"]
        # the gate metadata that makes each sample auditable: quiet-by-
        # measurement, not quiet-by-assumption (r6 protocol upgrade).
        # steal_pct (r7): per-sample hypervisor steal time measured
        # INSIDE the timed region — the co-tenant signal the in-guest
        # process gate cannot see on a VM host; a sample with high steal
        # is externally perturbed no matter how quiet the guest was.
        print(json.dumps({"ambient_load_at_start": loads,
                          "cotenant_cpus_at_start": cots,
                          "cotenant_gate": args.quiet_cotenant}))
        print(json.dumps({"lo_walls": lo["walls"], "hi_walls": hi["walls"],
                          "lo_steal_pct": lo["steal_pct"],
                          "hi_steal_pct": hi["steal_pct"],
                          "lo_us_per_turn": lo["us_per_turn"],
                          "hi_us_per_turn": hi["us_per_turn"]}))
    else:
        lo = run_level(args.low, fixture, args.runs)
        hi = run_level(args.high, fixture, args.runs)
    t_lo = statistics.median(lo["walls"])
    t_hi = statistics.median(hi["walls"])
    n = lo["n_turns"]
    speedup = t_lo / t_hi
    eff = speedup / (args.high / args.low)
    # conservative pairing (r5 verdict #5): the efficiency you get from
    # the FASTEST low sample against the SLOWEST high sample — ambient
    # drift inflates the median pairing (a slow lo sample buys "free"
    # efficiency), so the honest record brackets truth with both
    eff_cons = (min(lo["walls"]) / max(hi["walls"])) / (args.high / args.low)
    summary = {
        "n_turns": n,
        f"wall_s_local{args.low}": round(t_lo, 2),
        f"wall_s_local{args.high}": round(t_hi, 2),
        f"turns_per_s_local{args.low}": round(n / t_lo, 1),
        f"turns_per_s_local{args.high}": round(n / t_hi, 1),
        "speedup": round(speedup, 3),
        "scaling_efficiency": round(eff, 3),
        "scaling_efficiency_conservative": round(eff_cons, 3),
        "pass_0.8": eff >= 0.8,
        "skew_high": hi["skew"],
    }
    if lo.get("steal_pct"):
        summary["median_steal_pct"] = {
            f"local{args.low}": round(statistics.median(lo["steal_pct"]), 2),
            f"local{args.high}": round(statistics.median(hi["steal_pct"]), 2),
        }
    if lo.get("us_per_turn"):
        # Per-core speed at each level, measured from IDENTICAL
        # in-kernel work (lineage wall_ms / turns). us_lo < us_hi means
        # each busy core ran faster with only `low` of them busy
        # (turbo / memory-bandwidth headroom) — a host property that
        # mechanically depresses wall-ratio efficiency on a
        # frequency-scaled box while real clusters run N and 4N
        # executors on identically-clocked hardware.
        # clock_corrected_efficiency re-prices the lo wall at the hi
        # level's per-core speed: T_lo_corr = T_lo * (us_hi / us_lo),
        # so eff_corr = eff_wall * (us_hi / us_lo).
        u_lo = statistics.median(lo["us_per_turn"])
        u_hi = statistics.median(hi["us_per_turn"])
        summary["us_per_turn"] = {
            f"local{args.low}": round(u_lo, 2),
            f"local{args.high}": round(u_hi, 2),
        }
        summary["core_speed_ratio_lo_over_hi"] = round(u_hi / u_lo, 4)
        summary["clock_corrected_efficiency"] = round(
            eff * (u_hi / u_lo), 3
        )
    print(json.dumps(summary))

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    skew = hi["skew"]
    ratio = (skew["max_part_ms"] / skew["median_part_ms"]) if skew["median_part_ms"] else 0
    # raw per-run dump; BENCH/BASELINE.md is the hand-curated record of
    # all protocol executions and must not be clobbered by one run
    with open(os.path.join(REPO, "BENCH", "last_run.md"), "w") as f:
        f.write(f"""# BENCH/last_run — measured (scaling protocol of BASELINE.md)

Fixture: deterministic generated transcripts (seed=42, skew monster
included), {n} turns. Same input, same job (salted kernel extraction +
per-partition lineage), fresh JVM per level, 1 warmup + {args.runs} timed
runs, median wall-clock.

| metric | local[{args.low}] | local[{args.high}] |
|---|---|---|
| wall (s) | {t_lo:.2f} | {t_hi:.2f} |
| throughput (turns/s) | {n / t_lo:.0f} | {n / t_hi:.0f} |

- speedup {args.low}->{args.high}: **{speedup:.2f}x** over a {args.high // args.low}x core increase
- scaling efficiency: **{eff:.3f}** (gate: >= 0.8 -> {"PASS" if eff >= 0.8 else "FAIL"});
  conservative pairing (min lo / max hi): **{eff_cons:.3f}**
- skew after salting (local[{args.high}]): max/median partition kernel time
  = {skew["max_part_ms"]}ms / {skew["median_part_ms"]}ms = {ratio:.2f}
  over {skew["n_parts"]} partitions; errors: {skew["n_errors"]}
- confs: AQE on (+skewJoin, +coalescePartitions),
  arrow maxRecordsPerBatch=2048, shuffle.partitions=cores,
  kernel partitions = 4 x cores (explicit — exempt from AQE
  byte-based coalescing; the kernel stage is CPU-bound)
""")


if __name__ == "__main__":
    main()
