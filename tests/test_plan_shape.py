"""Physical-plan regression tests — the 100 TB performance contract.

Correctness tests prove the operators compute the right answer; these
prove the PLANS stay the plans we designed (SURVEY.md §4): filters and
projections reach the parquet scan, small dimensions broadcast, and the
grid-mode climatology keeps its single-exchange shape. A refactor that
silently adds a shuffle or un-pushes a filter fails here long before a
cluster run would reveal it.
"""

import re

import pytest
from pyspark.sql import functions as F

from mhw3d_detection_spark.operators.climatology import pooled_climatology
from mhw3d_detection_spark.operators.severity import calculate_severity
from mhw3d_detection_spark.sources.tables import load_table


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _count_exchanges(plan: str) -> int:
    # ignore broadcast exchanges (tiny sides) and AQE reuse markers
    return len(re.findall(r"Exchange hashpartitioning", plan))


def test_filter_and_projection_pushdown(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = _executed(q)
    assert "PushedFilters: [" in plan and "GreaterThan(l_quantity" in plan
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "l_orderkey" in m.group(1) and "l_comment" not in m.group(1)


def test_year_filter_pushdown_through_projection(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    q = (
        o.select(
            (F.col("o_custkey") % 10).alias("cell_id"),
            F.to_date("o_orderdate").alias("time"),
            F.col("o_totalprice").alias("temp"),
        )
        .filter(F.year("time").between(1995, 1996))
    )
    plan = _executed(q)
    # the year() predicate cannot push as-is, but the scan must not
    # read pruned columns
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "o_comment" not in m.group(1)


def test_clim_lookup_is_broadcast_join(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    ts = o.groupBy(
        (F.col("o_custkey") % 10).alias("cell_id"),
        F.to_date("o_orderdate").alias("time"),
    ).agg(F.avg("o_totalprice").alias("temp"))
    clim = pooled_climatology(
        ts, baseline=(1995, 2000), smooth_width=None, pool_mode="grid"
    )
    sev = calculate_severity(ts, clim)
    plan = _executed(sev)
    assert "BroadcastHashJoin" in plan  # J1 must broadcast the clim dim


def test_grid_rows_read_from_fused_cascade(spark, sf_dir):
    # The grid row form (densify=False: the component queries' raw
    # pooled buckets) is read back from the same fused per-cell cascade
    # as the arrays: no cached day groups, no broadcast year-extent
    # join, and at most three hash exchanges — the input groupBy that
    # builds ts, the operator's repartition("cell_id"), and slack for
    # one more; both aggregates reuse the cell_id partitioning.
    o = load_table(spark, sf_dir, "orders")
    ts = o.groupBy(
        (F.col("o_custkey") % 10).alias("cell_id"),
        F.to_date("o_orderdate").alias("time"),
    ).agg(F.avg("o_totalprice").alias("temp"))
    clim = pooled_climatology(
        ts, baseline=(1995, 2000), smooth_width=None, feb29_interp=False,
        densify=False, pool_mode="grid",
    )
    plan = _executed(clim)
    assert "InMemoryTableScan" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert _count_exchanges(plan) <= 3, plan


def test_grid_arrays_fused_two_aggregates_no_explode(spark, sf_dir):
    # The production clim form (detect_mhw's pool_mode="grid" +
    # output="arrays"): a fused two-aggregate cascade. The contract:
    # no Generate/explode of the data (each day group crosses the wire
    # once, not 11x), no persist barrier (single-consumer tree), and at
    # most two hash exchanges — (cell, doy) then (cell); both are
    # satisfied by hashpartitioning(cell_id), so a pre-partitioned
    # source needs none.
    o = load_table(spark, sf_dir, "orders")
    ts = o.groupBy(
        (F.col("o_custkey") % 10).alias("cell_id"),
        F.to_date("o_orderdate").alias("time"),
    ).agg(F.avg("o_totalprice").alias("temp"))
    clim = pooled_climatology(
        ts, baseline=(1995, 2000), pool_mode="grid", output="arrays"
    )
    plan = _executed(clim)
    assert "Generate explode" not in plan, plan
    assert "InMemoryTableScan" not in plan, plan
    # exchanges: one for the input groupBy that builds ts, then the
    # day-group aggregate; the per-cell aggregate reuses cell_id
    # partitioning from the operator's own repartition("cell_id")
    assert _count_exchanges(plan) <= 3, plan


def _prepartitioned_series(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            (F.col("o_custkey") % 10).alias("cell_id"),
            F.to_date("o_orderdate").alias("time"),
        )
        .agg(F.avg("o_totalprice").alias("temp"))
        .withColumns({"seas": F.lit(150000.0), "thresh": F.lit(180000.0)})
        .repartition("cell_id")
    )


def test_fused_detection_tail_single_series_exchange(spark, sf_dir):
    # The pipeline's detection tail (enrich window -> per-run partial
    # aggregate -> event assembly -> metric merge) must touch the big
    # series ONCE: with the input pre-partitioned by cell_id, the only
    # hash exchange in the whole plan is that repartition — the window
    # reuses it, the (cell, run) aggregate shares the window's
    # partitioning, and every runs-table step (the ordered pass over
    # each cell's runs, the event merge) inherits cell_id clustering.
    # No second pass, no big-table persist.
    from mhw3d_detection_spark.operators.detection import (
        enrich_series,
        exceedance,
        fused_detect_metrics,
    )

    ts = _prepartitioned_series(spark, sf_dir)
    enr = enrich_series(exceedance(ts))
    partials = enr.groupBy("cell_id", "__run").agg(
        F.count(F.lit(1)).alias("run_days")
    )
    plan = _executed(partials)
    # the input groupBy exchange + the explicit repartition; the window
    # runs on the repartition's cell_id hashpartitioning and the
    # (cell, __run) aggregate is satisfied by the same clustering — no
    # third exchange anywhere in the plan
    assert _count_exchanges(plan) <= 2, plan


def test_fused_detection_full_plan_one_stage_tail(spark, sf_dir):
    # The whole detection tail (run partials -> ordered pass over each
    # cell's runs -> (cell, event) metric merge) runs on the enrich
    # window's cell_id partitioning: no cached run table (a persisted
    # plan skips AQE coalescing and runs at the initial partition
    # count), no broadcast member join, and no exchange beyond the
    # input groupBy + the explicit repartition.
    from mhw3d_detection_spark.operators.detection import (
        enrich_series,
        exceedance,
        fused_detect_metrics,
    )

    ts = _prepartitioned_series(spark, sf_dir)
    plan = _executed(fused_detect_metrics(enrich_series(exceedance(ts))))
    assert "InMemoryTableScan" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert _count_exchanges(plan) <= 2, plan


def test_fused_detection_one_series_window(spark, sf_dir):
    # Cross-run state (moment centers, rate neighbors, series extent) is
    # derived on the runs table, so the series carries only the RLE
    # window: one lag(flag) and its running sum, both ordered by time.
    # Window nodes under the (cell, __run) aggregate run over the series.
    from mhw3d_detection_spark.operators.detection import (
        enrich_series,
        exceedance,
        fused_detect_metrics,
    )

    ts = _prepartitioned_series(spark, sf_dir)
    plan = _executed(fused_detect_metrics(enrich_series(exceedance(ts))))
    lines = plan.splitlines()
    run_agg = next(
        i
        for i, line in enumerate(lines)
        if re.search(r"Aggregate\(key=\[cell_id#\d+L?, __run#\d+L?\]", line)
    )
    series_windows = [line for line in lines[run_agg:] if "Window [" in line]
    assert series_windows, plan
    # no partition-only (unordered) window over the series
    for line in series_windows:
        assert not re.search(r"\], \[cell_id#\d+L?\]\s*$", line), line
    # no full-frame first/nth_value (centering constant) ordered by time
    assert not re.search(
        r"(first|nth_value)\([^)]*\) windowspecdefinition\(cell_id#\d+L?, "
        r"time#\d+ ASC NULLS FIRST, specifiedwindowframe\(RowFrame, "
        r"unboundedpreceding\$\(\), unboundedfollowing\$\(\)\)\)",
        plan,
    ), plan
    # the RLE change point evaluates lag once
    lags = re.findall(
        r"lag\([^)]*\) windowspecdefinition\(cell_id#\d+L?, time#", plan
    )
    assert len(lags) == 1, plan


@pytest.mark.parametrize("pool_mode", ["grid", "series"])
def test_detect_mhw_clim_co_partitioned_with_series(spark, sf_dir, pool_mode):
    # The per-cell clim arrays join the series as the build side of a
    # shuffle-hash join on cell_id, not as a broadcast: the clim side
    # is already hash-partitioned by cell_id (its aggregates are keyed
    # on the cell), the series gets the one cell_id exchange the
    # detection window needs anyway, and everything above the join (the
    # enrich window, the run partials, every runs-table step) reuses
    # that partitioning. The series is read straight off the scan, so
    # the two exchanges counted are the pipeline's own.
    from mhw3d_detection_spark.plans import detect_mhw

    o = load_table(spark, sf_dir, "orders")
    ts = o.select(
        (F.col("o_custkey") % 10).alias("cell_id"),
        F.to_date("o_orderdate").alias("time"),
        F.col("o_totalprice").alias("temp"),
    )
    plan = _executed(
        detect_mhw(ts, baseline=(1995, 2000), min_duration=3, pool_mode=pool_mode)
    )
    assert "BroadcastExchange" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    lines = plan.splitlines()
    joins = [i for i, line in enumerate(lines) if "ShuffledHashJoin" in line]
    assert len(joins) == 1, plan
    assert re.search(
        r"ShuffledHashJoin \[cell_id#\d+L?\], \[cell_id#\d+L?\], LeftOuter, BuildRight",
        lines[joins[0]],
    ), plan
    assert _count_exchanges(plan) == 2, plan
    assert not any("Exchange" in line for line in lines[: joins[0]]), plan


def _merge_plan(spark, sf_dir) -> str:
    from mhw3d_detection_spark.operators.detection import (
        detect_partials,
        merge_detect_partials,
    )

    ts = _prepartitioned_series(spark, sf_dir)
    cut = F.lit("1995-01-01").cast("date")
    parts = detect_partials(ts.filter(F.col("time") < cut)).unionByName(
        detect_partials(ts.filter(F.col("time") >= cut))
    )
    return _executed(merge_detect_partials(parts))


def test_merge_detect_partials_not_cached(spark, sf_dir):
    # the incremental merge shares the same tail: no cached run table
    plan = _merge_plan(spark, sf_dir)
    assert "InMemoryTableScan" not in plan, plan


def test_merge_detect_partials_no_renumbering(spark, sf_dir):
    # the coalesced run-group id already increases in time, so the
    # merge orders its runs by it directly: no row_number pass
    plan = _merge_plan(spark, sf_dir)
    assert "row_number" not in plan, plan


def _node_counts(plan: str) -> dict:
    nodes = re.findall(r"(?m)^[\s:|+-]*(Exchange|Window|Sort)\b", plan)
    return {n: nodes.count(n) for n in ("Exchange", "Window", "Sort")}


def test_detect_partials_calendar_break_adds_no_node(spark, sf_dir):
    # The map side's calendar break (datediff to lag(time)) is one more
    # lag over the RLE window's own (cell, time) spec: it joins the
    # lag(flag) Window node. The plan keeps the enrich window's shape —
    # two Windows (lag, then the running sum), one sort of the series,
    # one sort for the (cell, run) aggregate, and the two exchanges of
    # _prepartitioned_series itself.
    from mhw3d_detection_spark.operators.detection import detect_partials

    plan = _executed(detect_partials(_prepartitioned_series(spark, sf_dir)))
    assert _node_counts(plan) == {"Exchange": 2, "Window": 2, "Sort": 2}, plan


def test_merge_duplicate_day_check_adds_no_node(spark, sf_dir):
    # The merge's duplicate-day check (lag(run_end) over the coalescing
    # window's (cell, run_start) spec) joins a Window node that spec
    # already has, so the two-batch merge plan keeps its node counts:
    # the two batches' map sides (2 exchanges, 2 Windows, 2 Sorts each),
    # the union's coalescing (2 Windows + the re-centering Window, 2
    # Sorts), and the shared runs tail (5 Windows, 1 Sort).
    plan = _merge_plan(spark, sf_dir)
    assert _node_counts(plan) == {"Exchange": 4, "Window": 12, "Sort": 7}, plan


def test_rank_return_periods_two_phase(spark, sf_dir):
    # W9 must NOT rank via an un-partitioned window (one partition for
    # the whole events table). The two-phase shape: a rangepartitioning
    # exchange + per-partition rank; the only SinglePartition exchange
    # allowed is the prefix-sum over the tiny per-partition count table
    # (bounded at shuffle.partitions rows), which sits above a
    # HashAggregate — never above the raw events.
    from mhw3d_detection_spark.operators.analysis import rank_return_periods

    o = load_table(spark, sf_dir, "orders")
    ev = o.select(
        (F.col("o_custkey") % 10).alias("cell_id"),
        F.col("o_orderkey").alias("event_id"),
        F.col("o_totalprice").alias("intensity_max"),
    )
    plan = _executed(rank_return_periods(ev, ["intensity_max"], n_years=7))
    assert "rangepartitioning" in plan, plan
    assert plan.count("Exchange SinglePartition") <= 1, plan


def test_kmeans_init_is_take_ordered(spark, sf_dir):
    # E3 trainer init must plan as TakeOrderedAndProject (per-partition
    # top-k + k-row merge), not a full-corpus single-partition window.
    from mhw3d_detection_spark.operators.similarity import (
        _kmeans_seeds,
        as_double,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        F.col("vec_id"), as_double(F.col("embedding")).alias("v")
    )
    plan = _executed(_kmeans_seeds(base, 4))
    assert "TakeOrderedAndProject" in plan, plan


def test_kmeans_assign_is_narrow(spark, sf_dir):
    # E3 trained assign: literal-centroid argmin must be a pure map —
    # zero shuffles, no join, no window over the corpus (the 100 TB
    # final-assign pass is one scan).
    from mhw3d_detection_spark.operators.similarity import kmeans_ivf_train

    emb = load_table(spark, sf_dir, "embeddings")
    out = kmeans_ivf_train(emb, k=4, iters=1)
    plan = _executed(out)
    assert _count_exchanges(plan) == 0, plan
    assert "SortMergeJoin" not in plan and "Window" not in plan, plan


def test_window_partitioning_reused_by_aggregate(spark, sf_dir):
    # series-mode pooling: the window's hashpartitioning(cell_id) must
    # satisfy the (cell_id, doy) aggregate -> exactly one exchange of
    # the big table in the whole subtree
    ev = load_table(spark, sf_dir, "events")
    ts = ev.select(
        F.col("user_id").alias("cell_id"),
        F.col("ts").alias("time"),
        F.col("value").alias("temp"),
    )
    clim = pooled_climatology(
        ts, smooth_width=None, feb29_interp=False, densify=False,
        pool_mode="series",
    )
    plan = _executed(clim)
    assert _count_exchanges(plan) == 1, plan


def test_vocab_is_take_ordered_and_broadcast(spark, sf_dir):
    # E4b: the top-k vocabulary must plan as TakeOrderedAndProject
    # (never a single-partition global sort) and join the per-token
    # probe side as a broadcast.
    from mhw3d_detection_spark.operators.textops import vocab_oov

    docs = load_table(spark, sf_dir, "documents")
    plan = _executed(vocab_oov(docs, vocab_size=20))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_pack_sequences_window_partitioned_by_source(spark, sf_dir):
    # E6b: the packing window must partition by source (parallel across
    # shards) — an un-partitioned running sum would funnel the whole
    # corpus through one partition.
    from mhw3d_detection_spark.operators.textops import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    plan = _executed(pack_sequences(docs))
    assert "Exchange SinglePartition" not in plan, plan
    assert "hashpartitioning(source" in plan, plan


def test_contamination_no_cartesian(spark, sf_dir):
    # E2b: probe x corpus candidate generation must be an equi-join on
    # shingle, never a cartesian/nested-loop product.
    from mhw3d_detection_spark.operators.textops import contamination_screen

    docs = load_table(spark, sf_dir, "documents")
    plan = _executed(contamination_screen(docs, lambda d: d < 10))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_simhash_wide_pairs_equi_join_no_cartesian(spark, sf_dir):
    # E2: the production-geometry SimHash pairs path (64-bit, 8 blocks)
    # must generate candidates via an equi-join on (block_id,
    # block_bits) — never a cartesian/nested-loop product — and the
    # signature build must be ONE hash aggregate keyed by doc_id (no
    # per-bit explode, no second aggregate level).
    from mhw3d_detection_spark.operators.textops import (
        simhash,
        simhash_hamming_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    plan = _executed(simhash_hamming_pairs(docs))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    sig_plan = _executed(simhash(docs))
    # exactly ONE Generate (the token posexplode) — no per-bit explode
    # multiplying every token row by `width`
    assert sig_plan.count("Generate") == 1, sig_plan
    assert _count_exchanges(sig_plan) == 1, sig_plan  # one doc_id agg


def test_repetition_keyed_by_doc(spark, sf_dir):
    # E4b: repetition signals aggregate per (doc, n, gram) then per doc
    # — no single-partition exchange anywhere.
    from mhw3d_detection_spark.operators.textops import ngram_repetition

    docs = load_table(spark, sf_dir, "documents")
    plan = _executed(ngram_repetition(docs))
    assert "Exchange SinglePartition" not in plan, plan


def test_autocorrelation_has_no_window_pass(spark, sf_dir):
    # true lag-k pairing is a self-equi-join, not a per-cell window
    # sort — and never a single-partition exchange
    from mhw3d_detection_spark.operators.analysis import autocorrelation
    from mhw3d_detection_spark.queries.base import orders_daily

    plan = _executed(autocorrelation(orders_daily(spark, sf_dir), lags=(1, 7)))
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_inverted_index_no_global_exchange(spark, sf_dir):
    # the postings cap runs per-token (parallel across the vocab);
    # nothing funnels through one partition
    from mhw3d_detection_spark.operators.textops import inverted_index

    docs = load_table(spark, sf_dir, "documents")
    plan = _executed(inverted_index(docs))
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_cooc_pmi_broadcasts_marginals(spark, sf_dir):
    # vocab-sized marginals must broadcast; the pair construction must
    # be an equi-join, never a cartesian product
    from mhw3d_detection_spark.operators.textops import cooccurrence_pmi

    docs = load_table(spark, sf_dir, "documents")
    plan = _executed(cooccurrence_pmi(docs))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_adjacency_edges_equi_join_no_cartesian(spark):
    """SP2: the neighbour join must plan as a hash equi-join on the
    neighbour cell id — never a cartesian/nested-loop over event pairs
    (the overlap predicate is a post-join filter, not the join key)."""
    import datetime as dt

    from mhw3d_detection_spark.operators.spatial import event_adjacency_edges

    d0 = dt.date(2000, 1, 1)
    evs = [
        (c, e, d0 + dt.timedelta(days=10 * e), d0 + dt.timedelta(days=10 * e + 8), 9)
        for c in range(10)
        for e in (1, 2)
    ]
    df = spark.createDataFrame(
        evs, "cell_id long, event_id int, date_start date, date_end date, duration int"
    )
    plan = _executed(event_adjacency_edges(df, width=5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan or "HashJoin" in plan


def test_area_weighted_stats_single_aggregate_no_join(spark):
    """SP1: the regional daily summary is a projection + ONE hash
    aggregate — no window pass, no join, one exchange on the day key."""
    import datetime as dt

    from mhw3d_detection_spark.operators.spatial import area_weighted_daily

    d0 = dt.date(2000, 1, 1)
    rows = [
        (c, d0 + dt.timedelta(days=i), float(c + i), i % 3 == 0)
        for c in range(10)
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "cell_id long, time date, temp double, exceed boolean")
    plan = _executed(area_weighted_daily(df, width=5))
    assert "Window" not in plan
    assert "Join" not in plan
    assert _count_exchanges(plan) == 1


def test_full_registry_plan_audit(spark, sf_dir):
    # Sweep EVERY registered query's physical plan for the antipatterns
    # that kill cluster runs (cartesian / nested-loop joins,
    # row-at-a-time Python UDFs). Plan builds are lazy except the IVF
    # trainer pair, whose eager Lloyd's loop runs a few small jobs at
    # sf0.001 while building its final assign plan (see
    # tools/plan_audit.py's module docstring). Known
    # tiny-side broadcast patterns are exempted in tools/plan_audit.py's
    # ALLOWLIST, each with its scale argument inline; a new un-argued
    # hit anywhere in the registry fails here.
    import tools.plan_audit as pa
    from mhw3d_detection_spark import queries as Q

    results = pa.run_audit(spark, sf_dir, Q.REGISTRY)
    bad = {k: v["fatal"] for k, v in results.items() if v["fatal"]}
    assert not bad, f"un-allowlisted plan antipatterns: {bad}"
    # the allowlist must not rot: every entry still names a real query
    assert set(pa.ALLOWLIST) <= set(Q.REGISTRY)


def test_quality_classifier_single_scan_no_exchange(spark, sf_dir):
    # The literal-weight logistic is a pure narrow projection over one
    # parquet scan: the featurize -> w.x + b -> threshold cascade must
    # fold into a single stage with ZERO exchanges of any kind — the
    # property that makes the filter free at corpus scale.
    from mhw3d_detection_spark.operators.textops import quality_classifier

    docs = load_table(spark, sf_dir, "documents")
    plan = _executed(quality_classifier(docs))
    assert _count_exchanges(plan) == 0, plan
    assert "Exchange" not in plan, plan  # not even single-partition
    assert plan.count("Scan parquet") == 1, plan


def test_semantic_dedup_bucket_join_and_broadcast_drops(spark, sf_dir):
    # SemDeDup's candidate pairing must be a keyed self-join on the
    # cluster id (never cartesian / nested-loop), and the final drop
    # list must reach the corpus through a BROADCAST anti-join so the
    # corpus itself is never reshuffled for the filter step.
    from mhw3d_detection_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    plan = _executed(semantic_dedup(emb, k=4, iters=1, threshold=0.35, cc_iters=2))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan


def test_semantic_dedup_drops_gate_and_capped_join(spark, sf_dir):
    # r8 scale-hardening: broadcast_drops=False must REMOVE the forced
    # broadcast hint on the drop list (corpus-sized at high dup rates —
    # OOMs executors if shipped), leaving a plain shuffling anti join;
    # and the capped candidate join must still be a keyed hash
    # self-join on (bucket, sub), never cartesian/nested-loop, with the
    # k-row size table entering broadcast.
    from mhw3d_detection_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _executed(
            semantic_dedup(
                emb, k=4, iters=1, threshold=0.35, cc_iters=2,
                broadcast_drops=False, max_cluster_size=50,
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert not re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin).*LeftAnti", plan), plan


def test_token_frequency_probes_take_ordered(spark, sf_dir):
    # the top-n probe pick must plan as TakeOrderedAndProject (per-
    # partition top-n), never a single-partition row_number window
    from mhw3d_detection_spark.operators.sketches import (
        token_frequency_sketch,
    )

    docs = load_table(spark, sf_dir, "documents")
    plan = _executed(token_frequency_sketch(docs, top_n=20))
    assert "TakeOrdered" in plan, plan
    assert "Window" not in plan, plan


def test_bm25_take_ordered_and_broadcast_dims(spark, sf_dir):
    # E4 r7: the ranking must plan as TakeOrderedAndProject (never a
    # global sort of the scored corpus) and the idf/avgdl dims must
    # broadcast — the only non-broadcast exchanges are the doc-keyed
    # hash aggregates.
    from mhw3d_detection_spark.operators.textops import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    plan = _executed(bm25_topk(docs, ("spark", "query")))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bpe_pairs_take_ordered_single_agg(spark, sf_dir):
    # E4 r7: narrow double explode -> ONE pair-keyed hash aggregate ->
    # TakeOrdered.
    from mhw3d_detection_spark.operators.textops import bpe_merge_pairs

    docs = load_table(spark, sf_dir, "documents")
    plan = _executed(bpe_merge_pairs(docs))
    assert "TakeOrderedAndProject" in plan, plan
    assert _count_exchanges(plan) == 1, plan


def test_int8_quantize_is_narrow(spark, sf_dir):
    # E3 r7: quantization is a pure map — zero exchanges of any kind.
    from mhw3d_detection_spark.operators.similarity import quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    plan = _executed(quantize_int8(emb))
    assert "Exchange" not in plan, plan


def test_hybrid_rrf_two_phase_rank_no_global_window(spark, sf_dir):
    # E3+E4 r7: the BM25 leg's global rank must go through the
    # two-phase rangepartitioning shape (no single-partition window
    # over the scored corpus) and the final cut is TakeOrdered.
    from mhw3d_detection_spark.operators.similarity import (
        hybrid_rrf_retrieval,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    plan = _executed(
        hybrid_rrf_retrieval(docs, emb, ("spark", "query"), probe_vec_id=0)
    )
    assert "rangepartitioning" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    # allowed SinglePartition exchanges are all BOUNDED: the scalar
    # N/avgdl reductions (map-side partial aggregate first, 1-row
    # merge; appears twice each via the full-outer join's two branches)
    # and the rank-offset table's prefix sum — never the scored corpus
    assert plan.count("Exchange SinglePartition") <= 5, plan
    assert "CartesianProduct" not in plan, plan


def test_pq_encode_is_narrow(spark, sf_dir):
    # E3 r7: PQ encoding is a pure map (codebooks are literals) —
    # zero exchanges; the index build streams at scan speed.
    from mhw3d_detection_spark.operators.similarity import (
        pq_encode,
        pq_train_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_train_codebooks(emb, m=4, ksub=4, iters=1)
    plan = _executed(pq_encode(emb, books))
    assert "Exchange" not in plan, plan


def test_pq_adc_scores_codes_against_broadcast_luts(spark, sf_dir):
    # E3 r7: ADC search = codes scan x broadcast per-probe LUTs (the
    # allowlisted brute-force probes shape) — never a cartesian, and
    # the only hash exchanges are the two-phase top-k's.
    from mhw3d_detection_spark.operators.similarity import (
        pq_adc_topk,
        pq_train_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_train_codebooks(emb, m=4, ksub=4, iters=1)
    plan = _executed(
        pq_adc_topk(emb, books, probe_pred=lambda c: c % 50 == 0, k=5)
    )
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert _count_exchanges(plan) <= 2, plan


def test_ivfpq_bucket_join_no_cartesian(spark, sf_dir):
    # E3 r7: the IVF-PQ composition must candidate-prune via the
    # coarse-cell EQUI-join (broadcast probes+LUTs), never a cartesian.
    from mhw3d_detection_spark.operators.similarity import (
        assign_buckets,
        kmeans_ivf_centroids,
        pq_adc_topk,
        pq_train_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    coarse = kmeans_ivf_centroids(emb, k=4, iters=1)
    tagged = assign_buckets(emb, coarse).select(
        "vec_id", "embedding", "bucket"
    )
    books = pq_train_codebooks(emb, m=4, ksub=4, iters=1)
    plan = _executed(
        pq_adc_topk(
            tagged, books, probe_pred=lambda c: c % 50 == 0, k=5,
            bucket_col="bucket",
        )
    )
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_retrieval_pipeline_composition_shape(spark, sf_dir):
    # the composed flagship: lexical global rank via the two-phase
    # rangepartitioning shape, dense leg an equi-join (no cartesian),
    # final cut TakeOrdered; SinglePartition exchanges stay bounded
    # (scalar N/avgdl reductions + the rank-offset prefix sum)
    from mhw3d_detection_spark.plans.retrieval import retrieval_search

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    plan = _executed(
        retrieval_search(
            docs, emb, ("spark", "query"), probe_vec_id=0,
            coarse_k=4, coarse_iters=1, pq_iters=1,
        )
    )
    assert "rangepartitioning" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Exchange SinglePartition") <= 5, plan


def test_cusum_single_sort_two_windows(spark, sf_dir):
    # W15 r7: the CUSUM detector must plan as ONE per-cell sort feeding
    # BOTH window passes (running sum, then running min over the same
    # frame), with the per-cell mean broadcast — the series crosses the
    # wire once for the groupBy-mean partials and once for the window
    # partitioning, never more.
    from mhw3d_detection_spark.operators.analysis import cusum_changepoints
    from mhw3d_detection_spark.queries.base import orders_daily

    ts = orders_daily(spark, sf_dir)
    plan = _executed(
        cusum_changepoints(ts, allowance=65536.0, threshold=262144.0)
    )
    assert "BroadcastExchange" in plan, plan
    assert len(re.findall(r"\bSort \[", plan)) == 1, plan
    assert len(re.findall(r"\bWindow ", plan)) == 2, plan
    assert "CartesianProduct" not in plan, plan


def test_setsim_prefix_equi_join_no_cartesian(spark, sf_dir):
    # E2 r7: PPJoin candidates must come from a token-keyed EQUI-join
    # of prefix rows (key cardinality = shingle vocabulary, grows with
    # the corpus) — never a cartesian/nested-loop pairing, and the
    # exact verify must run on candidates only (doc-keyed equi-joins).
    from mhw3d_detection_spark.operators.textops import setsim_prefix_pairs

    docs = load_table(spark, sf_dir, "documents")
    plan = _executed(setsim_prefix_pairs(docs, threshold=0.5))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # candidate generation + two verify joins are all hash-keyed
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), plan


def test_salted_join_spreads_key_and_avoids_broadcast(spark, sf_dir):
    # J9 r7: the salted join must plan as a NON-broadcast equi-join
    # whose keys include the salt (that is the whole point: hot keys
    # spread over n_salts reducers), with the small side exploded.
    from mhw3d_detection_spark.operators.analysis import salted_join

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    dim = ev.groupBy("event_type").agg(F.avg("value").alias("type_avg"))
    plan = _executed(
        salted_join(ev, dim, ["event_type"], n_salts=8, strategy="merge")
    )
    assert "__salt" in plan, plan
    assert "SortMergeJoin" in plan, plan
    assert "Generate explode" in plan, plan


def test_distinct_shingles_tokenizes_once(spark, sf_dir):
    # r13 optimization-round regression guard: a plain explode over the
    # projected shingle-array attribute lets InferFiltersFromGenerate
    # add `size(__arr) > 0 AND isnotnull(__arr)` below the Generate,
    # and predicate pushdown then substitutes the WHOLE
    # tokenize+shingle expression into that Filter — regexp_extract_all
    # ends up evaluated ~5x per document (measured 8.0 s vs 1.6 s on
    # q_boilerplate_frac at sf0.1). distinct_shingles therefore uses
    # explode_outer + a post-Generate isNotNull; the tokenizer must
    # appear exactly once in the physical plan.
    from mhw3d_detection_spark.operators.textops import (
        distinct_shingles,
        shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    for with_size in (False, True):
        sh = distinct_shingles(docs, with_size=with_size)
        plan = _executed(sh)
        assert plan.count("regexp_extract_all") == 1, plan
    # and the rows are exactly the shuffle-distinct form's rows
    got = sorted(
        (r.doc_id, r.shingle)
        for r in distinct_shingles(docs).collect()
    )
    want = sorted(
        (r.doc_id, r.shingle)
        for r in shingles(docs).distinct().collect()
    )
    assert got == want


def test_densify_doy_map_path_no_join(spark, sf_dir):
    # r13 optimization-round guard: with no explicit spine, densify_doy
    # builds the dense 1..366 grid from a per-cell doy->values map +
    # explode — ONE aggregate over clim, no distinct-spine join that
    # re-evaluates the clim subtree. Rows (incl. NULLs for missing
    # doys and the grid-side INT doy type) must match the join form.
    from mhw3d_detection_spark.operators.climatology import densify_doy

    od = load_table(spark, sf_dir, "orders").groupBy(
        (F.col("o_custkey") % 10).alias("cell_id"),
        F.dayofyear("o_orderdate").alias("doy"),
    ).agg(F.avg("o_totalprice").alias("seas"))
    # drop some doys so NULL fill is exercised
    clim = od.filter(F.col("doy") % 7 != 3)

    dense = densify_doy(clim)
    plan = _executed(dense)
    assert "Join" not in plan, plan  # map path: no spine join
    assert dense.schema["doy"].dataType.simpleString() == "int"

    ref = densify_doy(clim, cells=clim.select("cell_id").distinct())
    got = sorted(dense.collect(), key=lambda r: (r.cell_id, r.doy))
    want = sorted(ref.collect(), key=lambda r: (r.cell_id, r.doy))
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_flagged_chain_single_scan(spark, sf_dir):
    # r13: the detection-chain threshold/seas dim is a whole-partition
    # window over the series, not a groupBy + broadcast join-back — the
    # chain reads its source exactly once and stacks on one exchange.
    from mhw3d_detection_spark.queries.detection import _flagged
    from mhw3d_detection_spark.operators.detection import rle_runs

    runs = rle_runs(_flagged(spark, sf_dir))
    plan = _executed(runs)
    assert plan.count("Scan parquet") == 1, plan
    assert _count_exchanges(plan) <= 2, plan



def test_component_metrics_read_off_run_partials(spark, sf_dir):
    # the per-event component rows read their metrics off the run
    # partials (fused_detect_metrics), like the pipeline: no member-day
    # explode, no broadcast join of member days back to the series, and
    # the series source is scanned once.
    from mhw3d_detection_spark.queries.detection import (
        q_event_metrics,
        q_onset_decline_rates,
    )

    for q in (q_event_metrics, q_onset_decline_rates):
        plan = _executed(q(spark, sf_dir))
        assert "Generate" not in plan, plan
        assert "BroadcastHashJoin" not in plan, plan
        assert plan.count("Scan parquet") == 1, plan


def test_readers_get_no_partial_they_do_not_read(spark, sf_dir):
    # every metric column is always defined, and column pruning drops
    # the partials, windows and aggregates a reader does not select
    from mhw3d_detection_spark.queries.detection import (
        q_cold_spells,
        q_event_metrics,
        q_onset_decline_rates,
    )

    no_rates_no_bands = ("first_rs", "before_rs", "series_start", "pkc_key", "d_mod")
    unread = {
        q_event_metrics: no_rates_no_bands,
        q_cold_spells: no_rates_no_bands,
        q_onset_decline_rates: ("pkc_key", "d_mod", "q_rs"),
    }
    for q, cols in unread.items():
        plan = _executed(q(spark, sf_dir))
        for c in cols:
            assert c not in plan, (q.__name__, c, plan)


def test_minhash_bucket_join_skew_splittable(spark, sf_dir):
    # r14 (VERDICT r13 Next #1): the LSH bucket self-join must stay
    # AQE-skew-splittable — a sort-merge join over EnsureRequirements
    # exchanges, never a broadcast (which recomputes the banding per
    # side and funnels every hot-bucket probe through one task) and
    # never a user REPARTITION_BY_COL pin (which OptimizeSkewedJoin
    # refuses to split).
    from mhw3d_detection_spark.operators.textops import (
        minhash_bands_rowlocal,
        minhash_candidate_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(
        minhash_bands_rowlocal(docs, n_hashes=8, band_size=2)
    )
    plan = _executed(pairs)
    assert "SortMergeJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "REPARTITION_BY_COL" not in plan, plan


def test_boilerplate_df_partial_agg_no_window(spark, sf_dir):
    # r14 (VERDICT r13 "What's wrong" #2): the shingle document
    # frequency comes from a groupBy — map-side partial counts, so a
    # hot boilerplate shingle never rides one window task's unbounded
    # buffer — re-attached by an equi-join AQE can broadcast or
    # skew-split. The plan must carry a partial/final count pair and
    # no Window node.
    from mhw3d_detection_spark.queries.base import REGISTRY

    df = REGISTRY["q_boilerplate_frac"].spark_fn(spark, sf_dir)
    plan = _executed(df)
    assert "Window" not in plan, plan
    assert "partial_count" in plan or "partial count" in plan.lower(), plan


def test_pagerank_truncate_collapses_lineage(spark, sf_dir):
    # r14: token_pagerank(truncate=True) localCheckpoints the static
    # graph tables so the unrolled rounds never re-embed the corpus
    # scan — the readout plan has ZERO parquet scans (three ExistingRDD
    # leaves instead); rows are bit-identical to the lazy form.
    from mhw3d_detection_spark.operators.textops import token_pagerank

    docs = load_table(spark, sf_dir, "documents")
    lazy = token_pagerank(docs, iters=2)
    trunc = token_pagerank(docs, iters=2, truncate=True)
    plan = _executed(trunc)
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan, plan
    got = sorted((r.token, r.pr) for r in trunc.collect())
    want = sorted((r.token, r.pr) for r in lazy.collect())
    assert got == want


def test_window_drift_truncate_identical(spark, sf_dir):
    # r14: window_drift_scores(truncate=True) materializes the bounded
    # (window x domain) count table + pooled spine once; the stat
    # branches read the scars (no parquet scans) and every statistic is
    # bit-identical to the lazy form.
    from mhw3d_detection_spark.operators.analysis import (
        drift_ref_hist,
        window_drift_scores,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    ref = drift_ref_hist(
        ev.filter(F.col("user_id") % 5 == 4), "value", rq_digits=0
    )
    kw = dict(time_col="ts", window_days=7, rq_digits=0, psi_band=50)
    live = ev.filter(F.col("user_id") % 5 != 4)
    lazy = window_drift_scores(live, ref, "value", **kw)
    trunc = window_drift_scores(live, ref, "value", truncate=True, **kw)
    plan = _executed(trunc)
    assert "Scan parquet" not in plan, plan
    got = sorted(tuple(r) for r in trunc.collect())
    want = sorted(tuple(r) for r in lazy.collect())
    assert got == want
