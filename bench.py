"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline set covers every heavy plan shape: the fused MHW pipeline
(flagship), pooled climatology (explode+group), the detection chain
(two window passes + two aggregates), event metrics (explode-join+agg),
MinHash dedup (shingle explode + banded self-join), similarity top-k
(broadcast brute force), and a TPC-H-ish join+agg.

`baseline_equivalent` reports BOTH `pipeline_wall_cold_sec` (one run on
a fresh JVM: input synthesis + Janino codegen + JIT included — strictly
COLDER than the r1-r4 protocol, which persisted the input outside the
wall and took best-of-5; compare cold-to-cold from r6 onward only) and
`pipeline_wall_sec` (steady state from a cached input, best-of-5 — the
reference notebook's warm-client conditions). Steady runs reuse the
codegen cache only since `get_spark` sized it (1000 entries): Spark's
default 100-entry cache holds fewer classes than one pipeline plan
(`detect_mhw` with grid pooling compiles 98), so every earlier
"warm" run recompiled about half of them (55 of 98 on the
`perfbench/` grid).

r8 protocol: every steady number is best-of-5 within one JVM reporting
BOTH min (`queries` / `pipeline_wall_sec` — the round-over-round
comparison basis; the host's hypervisor spread is 2-3x, min estimates
the quiet window) and median (`queries_median` /
`pipeline_wall_median_sec` — this run's noise level). The single cold
probe stays separate and first.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mhw3d_detection_spark import queries as Q
from mhw3d_detection_spark.session import get_spark

HEADLINE = [
    "q_mhw_pipeline",
    "q_pooled_threshold_pctile",
    "q_gap_join_events",
    "q_event_metrics",
    "q_dedup_minhash_pairs",
    "q_similarity_topk",
    "q_join_hash_equi",
    "q_circular_smooth_31d",
]

# r10: the registry's most expensive rows were invisible to the
# headline suite (round-over-round regressions there went unrecorded —
# VERDICT r9 #5). Second recorded suite; HEADLINE stays unchanged for
# cross-round continuity. Timing protocol differs in ONE way: the plan
# is rebuilt inside the timed region, because q_dedup_report is EAGER
# (localCheckpoints its pairs/components at build — excluding the
# build would hide most of its real work).
HEAVY = [
    "q_dedup_cluster_stats",
    "q_split_leakage",
    "q_containment_pairs",
    "q_boilerplate_frac",
    "q_dedup_report",
    # r11: the other two standalone rows q_dedup_report composes, so
    # the standalone-sum / composed ratio (the 3.8x claim, docs/PLANS.md
    # r10) is continuously measured instead of a one-off probe
    "q_source_dedup_matrix",
    "q_dedup_keep_best",
]

#: the four standalone rows whose work q_dedup_report pays once —
#: their wall sum over the report's wall is `dedup_composed_ratio`
_DEDUP_STANDALONE = [
    "q_dedup_cluster_stats",
    "q_split_leakage",
    "q_source_dedup_matrix",
    "q_dedup_keep_best",
]


def _load_prev_bench() -> dict:
    """Latest committed BENCH_r{N}.json (the driver's per-round record)
    — the round-over-round comparison basis for the auto-probe."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    best_n, best = -1, None
    for p in glob.glob(os.path.join(here, "BENCH_r[0-9]*.json")):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", os.path.basename(p))
        if m and int(m.group(1)) > best_n:
            best_n, best = int(m.group(1)), p
    if best is None:
        return {}
    try:
        with open(best) as f:
            d = json.load(f)
        # driver-recorded artifacts wrap the bench's JSON line in an
        # envelope ({"n", "rc", "tail", "parsed": {...}}) — unwrap it,
        # else the auto-probe silently compares against nothing
        if "queries" not in d and isinstance(d.get("parsed"), dict):
            d = d["parsed"]
        prev = dict(d.get("queries", {}))
        prev.update(d.get("queries_heavy", {}))
        return prev
    except Exception:
        return {}


def _probe_moves(spark, sf_dir, prev, times, heavy) -> dict:
    """Auto-attribution of >20% round-over-round moves (VERDICT r11
    Next #7): any query whose best-of-N moved more than 20% vs the
    last recorded round is re-run 10 more times in THIS same JVM — the
    r10/r11 manual attribution probe, now automatic. Verdict:
    ``host_variance`` when the probe's quiet window reaches back within
    20% of the previous number (the regression does not reproduce
    under repetition), ``confirmed_regression`` / ``improvement``
    when it does reproduce. Capped at the 4 largest movers — the probe
    exists to settle attribution, not to double the bench wall."""
    moved = []
    for name, cur in {**times, **heavy}.items():
        p = prev.get(name)
        if not p or p <= 0:
            continue
        ratio = cur / p
        if ratio > 1.2 or ratio < 0.8:
            moved.append((abs(ratio - 1.0), name, p, cur))
    probes: dict[str, dict] = {}
    for _, name, p, cur in sorted(moved, reverse=True)[:4]:
        rebuild = name in heavy  # eager rows time plan build too
        df = None if rebuild else Q.REGISTRY[name].spark_fn(spark, sf_dir)
        runs = []
        for _ in range(10):
            spark.catalog.clearCache()
            spark._jvm.System.gc()
            t0 = time.time()
            d = (
                Q.REGISTRY[name].spark_fn(spark, sf_dir) if rebuild else df
            )
            d.write.format("noop").mode("overwrite").save()
            runs.append(time.time() - t0)
        runs.sort()
        pm = runs[0]
        # Symmetric reproduction rule (ADVICE r13): a move only earns a
        # directional verdict when the 10-run quiet-window min reproduces
        # it — slower than prev*1.2 for a regression, faster than
        # prev*0.8 for an improvement. Anything in between (including a
        # fast outlier that does NOT reproduce under repetition) is
        # host_variance in BOTH directions.
        if cur > p:
            verdict = (
                "host_variance" if pm <= p * 1.2 else "confirmed_regression"
            )
        else:
            verdict = "improvement" if pm < p * 0.8 else "host_variance"
        probes[name] = {
            "prev": p,
            "cur": cur,
            "probe_min": round(pm, 3),
            "probe_median": round(runs[len(runs) // 2], 3),
            "probe_max": round(runs[-1], 3),
            "verdict": verdict,
        }
    return probes


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark("bench")

    # COLD baseline-equivalent first, before anything warms the JVM:
    # one end-to-end run on a fresh session — input synthesis, Janino
    # codegen and JIT all included. NOTE: this is STRICTLY colder than
    # the r1-r4 protocol (which persisted+counted the input OUTSIDE the
    # wall and took best-of-5), so compare cold-to-cold only from r6
    # onward — not against the r1-r4 column.
    # r13: decompose the cold wall so the artifact attributes it —
    # plan build (py4j construction + first Catalyst analysis) vs
    # first execution (Janino codegen + C2 JIT + the actual compute).
    # The cold/warm delta is one-time JVM compilation cost, paid once
    # per long-running session; the split documents that it is NOT a
    # plan defect (docs/PLANS.md r13 cold-start note).
    from mhw3d_detection_spark.plans import detect_mhw as _dm

    spark._jvm.System.gc()
    t0 = time.time()
    _cold_df = _dm(
        _baseline_input(spark), baseline=(1982, 2011), pool_mode="grid"
    )
    cold_build = time.time() - t0
    t0 = time.time()
    _cold_df.write.format("noop").mode("overwrite").save()
    cold_exec = time.time() - t0
    cold = cold_build + cold_exec

    # Warm the JVM (codegen/JIT) on the tiny sf so per-query timings
    # measure plan execution, not first-compile; throughput at scale is
    # steady-state behavior.
    warm_dir = "/root/testdata/sf0.001"
    for name in HEADLINE:
        try:
            Q.REGISTRY[name].spark_fn(spark, warm_dir).write.format(
                "noop"
            ).mode("overwrite").save()
        except Exception:
            pass

    times: dict[str, float] = {}
    medians: dict[str, float] = {}
    for name in HEADLINE:
        # prepared-statement methodology: the logical plan is built once
        # (DataFrames are immutable and reusable); each timed iteration
        # executes the full physical pipeline from the parquet scans
        # (clearCache drops every persisted intermediate first).
        # best-of-5 reporting min AND median (r8 protocol): the host
        # shows 2-3x hypervisor spread round to round — min is the
        # round-over-round comparison number (quiet-window estimate),
        # median shows how noisy this particular run was.
        df = Q.REGISTRY[name].spark_fn(spark, sf_dir)
        runs = []
        for _ in range(5):
            spark.catalog.clearCache()  # drop per-run persisted dims
            spark._jvm.System.gc()
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.time() - t0)
        times[name] = round(min(runs), 3)
        medians[name] = round(sorted(runs)[2], 3)

    heavy: dict[str, float] = {}
    heavy_medians: dict[str, float] = {}
    for name in HEAVY:
        try:
            Q.REGISTRY[name].spark_fn(spark, warm_dir).write.format(
                "noop"
            ).mode("overwrite").save()
        except Exception:
            pass
        runs = []
        for _ in range(3):  # best-of-3: these run seconds each
            spark.catalog.clearCache()
            spark._jvm.System.gc()
            t0 = time.time()
            Q.REGISTRY[name].spark_fn(spark, sf_dir).write.format(
                "noop"
            ).mode("overwrite").save()
            runs.append(time.time() - t0)
        heavy[name] = round(min(runs), 3)
        heavy_medians[name] = round(sorted(runs)[1], 3)

    # Apples-to-apples vs BASELINE.md: the reference's published numbers
    # are clim+threshold (5.9 s) + detection+metrics (0.308 s) on a
    # 12053-day x 256-cell series (~3.1 M samples). Run the full fused
    # pipeline on a synthetic series of exactly that shape.
    base_equiv = _baseline_equivalent(spark)
    base_equiv["pipeline_wall_cold_sec"] = round(cold, 3)
    base_equiv["cold_plan_build_sec"] = round(cold_build, 3)
    base_equiv["cold_first_exec_sec"] = round(cold_exec, 3)

    probes = _probe_moves(spark, sf_dir, _load_prev_bench(), times, heavy)

    total = round(sum(times.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_suite_wall",
                "value": total,
                "unit": "sec",
                "queries": times,
                "queries_median": medians,
                # wall over the r10 five only — keeps the heavy suite's
                # round-over-round comparison basis stable; the two r11
                # ratio-support rows appear in queries_heavy
                "heavy_suite_wall": round(
                    sum(heavy[q] for q in HEAVY[:5]), 3
                ),
                "queries_heavy": heavy,
                "queries_heavy_median": heavy_medians,
                "dedup_composed_ratio": round(
                    sum(heavy[q] for q in _DEDUP_STANDALONE)
                    / heavy["q_dedup_report"],
                    2,
                ),
                "sf": sf,
                "move_probes": probes,
                "baseline_equivalent": base_equiv,
            }
        )
    )


def _baseline_input(spark):
    """The reference benchmark's exact data shape (BASELINE.md: OISST
    subset, 12053 daily steps x 16 x 16 cells), synthesized — returned
    UNPERSISTED."""
    from pyspark.sql import functions as F

    cells = spark.range(256).select(F.col("id").alias("cell_id"))
    days = spark.range(12053).select(
        F.date_add(F.lit("1982-01-01").cast("date"), F.col("id").cast("int")).alias(
            "time"
        ),
        F.col("id").alias("t"),
    )
    return (
        cells.crossJoin(days)
        .select(
            "cell_id",
            "time",
            (
                15.0
                + 5.0 * F.sin(F.col("t") * 2 * 3.14159 / 365.25)
                + (F.hash("cell_id", "t") % 1000) / 500.0
            ).alias("temp"),
        )
        .repartition(32, "cell_id")
    )


def _one_baseline_run(spark, ts) -> float:
    """One timed end-to-end detect_mhw run on the given input."""
    from mhw3d_detection_spark.plans import detect_mhw

    spark._jvm.System.gc()
    t0 = time.time()
    detect_mhw(ts, baseline=(1982, 2011), pool_mode="grid").write.format(
        "noop"
    ).mode("overwrite").save()
    return time.time() - t0


def _baseline_equivalent(spark) -> dict:
    """Full MHW pipeline on the reference benchmark's exact data shape
    (BASELINE.md: OISST subset, 12053 daily steps x 16 x 16 cells);
    returns wall seconds + derived samples/s for direct comparison.

    Methodology matches the reference's notebook conditions
    (examples/speed_benchmark.ipynb: a warm dask Client, the 12 MB
    input already resident in memory, numpy kernels precompiled —
    their 5.9 s wall carries 0.6 s of CPU): the input series is cached
    once, one uncounted warm-up run compiles the generated code, and
    each timed iteration then builds a FRESH detect_mhw plan and
    executes every pipeline stage in full — clim aggregates, severity
    join, enrich window, run partials, event assembly, metric merge —
    from the in-memory input. Nothing computed survives between
    iterations (the only mid-plan persist is the tiny per-call runs
    table, created fresh with each plan). What the warm-up excludes is
    one-time Janino/JIT compilation (~5 s driver-side) — the analogue
    of the reference's precompiled kernels, not of its per-run work.
    """
    ts = _baseline_input(spark).persist()
    n = ts.count()

    # drop the headline suite's persisted leftovers, then re-materialize
    # the input ONCE — clearing between iterations would re-instantiate
    # the input cache and re-trigger the codegen compile this warm-up
    # exists to exclude. Each iteration's fresh plan does persist its
    # own tiny runs table (a few MB each, bounded at 6 here); that is
    # per-plan state, not reuse of prior compute. Per iteration a
    # fresh detect_mhw plan executes every pipeline stage in full; a
    # System.gc settles the heap so best-of-N measures the plan, not
    # whichever iteration inherited a full old-gen.
    spark.catalog.clearCache()
    ts.persist().count()
    _one_baseline_run(spark, ts)  # uncounted warm-up: Janino/JIT compile
    # best-of-5, min + median (r8 protocol): min is the headline and
    # the round-over-round comparison number (the host shows
    # multi-second external-load spikes — min estimates the quiet
    # window); median records this run's noise level alongside it
    runs = sorted(_one_baseline_run(spark, ts) for _ in range(5))
    best = runs[0]
    spark.catalog.clearCache()
    return {
        "pipeline_wall_sec": round(best, 3),
        "pipeline_wall_median_sec": round(runs[2], 3),
        "samples": n,
        "samples_per_sec": round(n / best),
        "reference_wall_sec": 6.2,  # 5.9 clim+thresh + 0.308 detect (BASELINE.md)
    }


if __name__ == "__main__":
    main()
