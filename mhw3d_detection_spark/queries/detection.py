"""Detection-chain queries (SURVEY.md §2.6 W3-W9, §2.5 A5/A7-A10) —
RLE sessionization, min-duration, gap joining, per-event metrics,
onset/decline rates, block averages, ranking, cold spells.

All run on the ``orders_daily`` series (1995-2001) against a per-cell
threshold (75th percentile) + seasonal mean dim table. The DuckDB
oracles re-derive every stage with plain window functions, mirroring
the Spark operators 1:1 (same change-point → cumulative-sum → HAVING →
re-sessionize chain).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from mhw3d_detection_spark.functions.calendar import clim_doy_sql
from mhw3d_detection_spark.operators.analysis import (
    annual_event_stats,
    block_average,
    block_temp_stats,
    category_days_per_block,
    detrend_linear,
    rank_return_periods,
)
from mhw3d_detection_spark.operators.detection import (
    detect_events,
    detect_partials,
    enrich_series,
    exceedance,
    fused_detect_metrics,
    merge_detect_partials,
    rle_runs,
)
from mhw3d_detection_spark.plans.pipeline import detect_mhw
from mhw3d_detection_spark.queries.base import (
    ORDERS_DAILY_SQL,
    plan_memo,
    register,
    rq,
    rq_sql,
)
from mhw3d_detection_spark.queries.base import orders_daily

MIN_DUR = 3
MAX_GAP = 2
N_YEARS = 7  # orders series spans 1995..2001

# --- shared SQL fragments (composable WITH-clause bodies) ----------------
FL_SQL = (
    f"od AS ({ORDERS_DAILY_SQL}), "
    "thr AS (SELECT cell_id, quantile_cont(temp, 0.75) AS thresh, avg(temp) AS seas "
    "  FROM od GROUP BY 1), "
    "fl AS (SELECT od.cell_id, od.time, od.temp, thr.seas, thr.thresh, "
    "  od.temp > thr.thresh AS exceed FROM od JOIN thr ON od.cell_id = thr.cell_id)"
)

RUNS_SQL = FL_SQL + (
    ", chg AS (SELECT *, CASE WHEN lag(exceed) OVER (PARTITION BY cell_id ORDER BY time) IS NULL "
    "  OR exceed <> lag(exceed) OVER (PARTITION BY cell_id ORDER BY time) THEN 1 ELSE 0 END AS is_chg "
    "  FROM fl), "
    "runs_all AS (SELECT *, sum(is_chg) OVER (PARTITION BY cell_id ORDER BY time "
    "  ROWS UNBOUNDED PRECEDING) AS run_id FROM chg), "
    "runs AS (SELECT cell_id, CAST(run_id AS BIGINT) AS run_id, min(time) AS run_start, "
    "  max(time) AS run_end, count(*) AS run_days FROM runs_all WHERE exceed GROUP BY 1, 2)"
)

EV_SQL = RUNS_SQL + (
    f", kept AS (SELECT * FROM runs WHERE run_days >= {MIN_DUR}), "
    "g0 AS (SELECT *, CASE WHEN lag(run_end) OVER (PARTITION BY cell_id ORDER BY run_start) IS NULL "
    f"  OR date_diff('day', lag(run_end) OVER (PARTITION BY cell_id ORDER BY run_start), run_start) - 1 > {MAX_GAP} "
    "  THEN 1 ELSE 0 END AS newev FROM kept), "
    "g1 AS (SELECT *, sum(newev) OVER (PARTITION BY cell_id ORDER BY run_start "
    "  ROWS UNBOUNDED PRECEDING) AS evt FROM g0), "
    "evg AS (SELECT cell_id, evt, min(run_start) AS date_start, max(run_end) AS date_end "
    "  FROM g1 GROUP BY 1, 2), "
    "ev AS (SELECT cell_id, CAST(row_number() OVER (PARTITION BY cell_id ORDER BY date_start) AS INT) AS event_id, "
    "  date_start, date_end, CAST(date_diff('day', date_start, date_end) + 1 AS INT) AS duration FROM evg)"
)

#: event member rows: every present series day inside an event interval
MEMBER_SQL = EV_SQL + (
    ", member AS (SELECT e.cell_id, e.event_id, e.date_start, e.date_end, e.duration, "
    "  f.time, f.temp - f.seas AS rel_seas, f.temp - f.thresh AS rel_thresh, "
    "  (f.temp - f.thresh) / (f.thresh - f.seas) AS rel_tn, f.temp AS t_abs "
    "  FROM ev e JOIN fl f ON f.cell_id = e.cell_id "
    "  AND f.time BETWEEN e.date_start AND e.date_end)"
)


@plan_memo
def _flagged(spark, sf_dir):
    # thr as a whole-partition window instead of groupBy + broadcast
    # join-back: the old form re-derived orders_daily on the dim side
    # (a second scan + aggregate per flagged instance), while every
    # chain consumer immediately windows by (cell_id, time) anyway —
    # ordering the window here lets the RLE/enrich windows stack on the
    # SAME exchange + sort (one shuffle establishes the partitioning
    # once).
    # percentile is order-insensitive (sorted-buffer aggregate) so
    # `exceed` — the run-structure decider — is bit-identical; `seas`
    # accumulates in partition order vs partial-merge order, absorbed
    # by the rq() quantization every float output already carries.
    od = orders_daily(spark, sf_dir)
    w = (
        Window.partitionBy("cell_id")
        .orderBy("time")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return od.select(
        "cell_id",
        "time",
        "temp",
        F.expr("percentile(temp, 0.75)").over(w).alias("thresh"),
        F.avg("temp").over(w).alias("seas"),
    ).withColumn(
        "exceed", F.coalesce(F.col("temp") > F.col("thresh"), F.lit(False))
    )


@plan_memo
def _events(spark, sf_dir):
    return detect_events(
        _flagged(spark, sf_dir), min_duration=MIN_DUR, max_gap=MAX_GAP
    )


def _metrics(fl):
    """Per-event metrics of a flagged series, read off its run partials
    — the same :func:`fused_detect_metrics` readout the pipeline runs;
    each row selects its columns and column pruning drops the rest."""
    return fused_detect_metrics(
        enrich_series(fl), min_duration=MIN_DUR, max_gap=MAX_GAP
    )


# =========================================================================
# W3 — run-length encoding (gaps-and-islands pass 1)
# =========================================================================
@register(
    "q_rle_runs",
    f"WITH {RUNS_SQL} "
    "SELECT cell_id, run_id, run_start, run_end, run_days FROM runs",
)
def q_rle_runs(spark, sf_dir):
    """W3: contiguous exceedance runs via change-point + cumulative sum
    (reference RLE kernel common/core.py:53-65; scipy.ndimage.label in
    marineHeatWaves.py:319)."""
    return rle_runs(_flagged(spark, sf_dir)).select(
        "cell_id", "run_id", "run_start", "run_end", "run_days"
    )


# =========================================================================
# W4 — min-duration filter (HAVING)
# =========================================================================
@register(
    "q_min_duration_filter",
    f"WITH {RUNS_SQL} "
    f"SELECT cell_id, run_id, run_start, run_end, run_days FROM runs WHERE run_days >= {MIN_DUR}",
)
def q_min_duration_filter(spark, sf_dir):
    """W4: drop runs shorter than minDuration (reference
    common/core.py:67-69; marineHeatWaves.py:322-327)."""
    return rle_runs(_flagged(spark, sf_dir), min_duration=MIN_DUR).select(
        "cell_id", "run_id", "run_start", "run_end", "run_days"
    )


# =========================================================================
# W5 — gap joining (second sessionization over the runs)
# =========================================================================
@register(
    "q_gap_join_events",
    f"WITH {EV_SQL} SELECT cell_id, event_id, date_start, date_end, duration FROM ev",
)
def q_gap_join_events(spark, sf_dir):
    """W5: merge runs separated by <= maxGap days — single cumulative
    pass, equivalent to the reference's iterative merge loop because
    merging is chain-transitive (marineHeatWaves.py:330-345;
    common/core.py:71-74). Duration counts calendar days inclusive."""
    return _events(spark, sf_dir)


# =========================================================================
# A10 — events per cell
# =========================================================================
@register(
    "q_events_per_cell",
    f"WITH {EV_SQL} SELECT cell_id, count(*) AS n_events FROM ev GROUP BY 1",
)
def q_events_per_cell(spark, sf_dir):
    """A10: (~isnull(date_start)).sum('event') per cell (reference
    speed_benchmark.ipynb cell 9) — a trivial count in relational form."""
    return _events(spark, sf_dir).groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )


# =========================================================================
# W6 — peak argmax with earliest-day tie-break
# =========================================================================
@register(
    "q_event_peak_argmax",
    f"WITH {MEMBER_SQL} "
    f"SELECT cell_id, event_id, time AS date_peak, {rq_sql('rel_seas', 2)} AS intensity_max "
    "FROM (SELECT m.*, row_number() OVER (PARTITION BY cell_id, event_id "
    "  ORDER BY rel_seas DESC, time ASC) AS rn FROM member m) WHERE rn = 1",
)
def q_event_peak_argmax(spark, sf_dir):
    """W6: within each event, the date of max T_anom; np.nanargmax takes
    the FIRST occurrence on ties -> explicit earliest-day tie-break
    (reference common/core.py:113-120; marineHeatWaves.py:366-369)."""
    m = _metrics(_flagged(spark, sf_dir))
    return m.select(
        "cell_id", "event_id", "date_peak", rq("intensity_max", 2).alias("intensity_max")
    )


# =========================================================================
# A5 — full per-event intensity metrics (12 metric variants)
# =========================================================================
@register(
    "q_event_metrics",
    f"WITH {MEMBER_SQL}, "
    "peak AS (SELECT cell_id, event_id, time AS date_peak, "
    "  rel_thresh AS imax_rt, t_abs AS imax_abs FROM ("
    "  SELECT m.*, row_number() OVER (PARTITION BY cell_id, event_id "
    "    ORDER BY rel_seas DESC, time ASC) AS rn FROM member m) WHERE rn = 1), "
    "agg AS (SELECT cell_id, event_id, date_start, date_end, duration, "
    "  max(rel_seas) AS intensity_max, avg(rel_seas) AS intensity_mean, "
    "  sqrt(var_pop(rel_seas)) AS intensity_var, sum(rel_seas) AS intensity_cumulative, "
    "  avg(rel_thresh) AS intensity_mean_relthresh, "
    "  sqrt(var_pop(rel_thresh)) AS intensity_var_relthresh, "
    "  sum(rel_thresh) AS intensity_cumulative_relthresh, "
    "  avg(t_abs) AS intensity_mean_abs, sqrt(var_pop(t_abs)) AS intensity_var_abs, "
    "  sum(t_abs) AS intensity_cumulative_abs "
    "  FROM member GROUP BY 1, 2, 3, 4, 5) "
    "SELECT a.cell_id, a.event_id, a.date_start, a.date_end, a.duration, p.date_peak, "
    f"{rq_sql('a.intensity_max', 2)} AS intensity_max, {rq_sql('a.intensity_mean', 2)} AS intensity_mean, "
    f"{rq_sql('a.intensity_var', 2)} AS intensity_var, {rq_sql('a.intensity_cumulative', 2)} AS intensity_cumulative, "
    f"{rq_sql('p.imax_rt', 2)} AS intensity_max_relthresh, {rq_sql('a.intensity_mean_relthresh', 2)} AS intensity_mean_relthresh, "
    f"{rq_sql('a.intensity_var_relthresh', 2)} AS intensity_var_relthresh, "
    f"{rq_sql('a.intensity_cumulative_relthresh', 2)} AS intensity_cumulative_relthresh, "
    f"{rq_sql('p.imax_abs', 2)} AS intensity_max_abs, {rq_sql('a.intensity_mean_abs', 2)} AS intensity_mean_abs, "
    f"{rq_sql('a.intensity_var_abs', 2)} AS intensity_var_abs, "
    f"{rq_sql('a.intensity_cumulative_abs', 2)} AS intensity_cumulative_abs "
    "FROM agg a JOIN peak p ON a.cell_id = p.cell_id AND a.event_id = p.event_id",
)
def q_event_metrics(spark, sf_dir):
    """A5+W6, read off the run partials: duration/max/mean/var/cumulative
    for rel-seas, rel-thresh and absolute variants, each event merging
    its member runs' partials; var is the population standard deviation
    (np.var ddof=0) (reference marineHeatWaves.py:370-392;
    common/core.py:89-127)."""
    m = _metrics(_flagged(spark, sf_dir))
    sel = ["cell_id", "event_id", "date_start", "date_end", "duration", "date_peak"]
    out = m.select(
        *sel,
        *[
            rq(c, 2).alias(c.lower())
            for c in (
                "intensity_max",
                "intensity_mean",
                "intensity_var",
                "intensity_cumulative",
                "intensity_max_relThresh",
                "intensity_mean_relThresh",
                "intensity_var_relThresh",
                "intensity_cumulative_relThresh",
                "intensity_max_abs",
                "intensity_mean_abs",
                "intensity_var_abs",
                "intensity_cumulative_abs",
            )
        ],
    )
    return out


# =========================================================================
# W7 — onset / decline rates (half-day boundary convention)
# =========================================================================
@register(
    "q_onset_decline_rates",
    f"WITH {EV_SQL}, "
    "flx AS (SELECT *, temp - seas AS rel_seas, "
    "  lag(temp - seas) OVER w AS prev_rel_seas, lead(temp - seas) OVER w AS next_rel_seas, "
    "  min(time) OVER (PARTITION BY cell_id) AS series_start, "
    "  max(time) OVER (PARTITION BY cell_id) AS series_end "
    "  FROM fl WINDOW w AS (PARTITION BY cell_id ORDER BY time)), "
    "member AS (SELECT e.cell_id, e.event_id, e.date_start, e.date_end, e.duration, f.* EXCLUDE (cell_id) "
    "  FROM ev e JOIN flx f ON f.cell_id = e.cell_id AND f.time BETWEEN e.date_start AND e.date_end), "
    "peak AS (SELECT cell_id, event_id, time AS date_peak, rel_seas AS imax, "
    "  date_diff('day', date_start, time) AS tt_peak FROM ("
    "  SELECT m.*, row_number() OVER (PARTITION BY cell_id, event_id "
    "    ORDER BY rel_seas DESC, time ASC) AS rn FROM member m) WHERE rn = 1), "
    "edges AS (SELECT cell_id, event_id, duration, "
    "  max(CASE WHEN time = date_start THEN rel_seas END) AS first_rs, "
    "  max(CASE WHEN time = date_end THEN rel_seas END) AS last_rs, "
    "  max(CASE WHEN time = date_start THEN prev_rel_seas END) AS before_rs, "
    "  max(CASE WHEN time = date_end THEN next_rel_seas END) AS after_rs, "
    "  bool_or(time = date_start AND time = series_start) AS at_series_start, "
    "  bool_or(time = date_end AND time = series_end) AS at_series_end "
    "  FROM member GROUP BY 1, 2, 3) "
    "SELECT e.cell_id, e.event_id, p.date_peak, "
    + rq_sql(
        "CASE WHEN NOT e.at_series_start THEN "
        "(p.imax - 0.5 * (e.first_rs + e.before_rs)) / (p.tt_peak + 0.5) "
        "WHEN p.tt_peak = 0 THEN 0.0 "
        "ELSE (p.imax - e.first_rs) / p.tt_peak END",
        2,
    )
    + " AS rate_onset, "
    + rq_sql(
        "CASE WHEN NOT e.at_series_end THEN "
        "(p.imax - 0.5 * (e.last_rs + e.after_rs)) / (e.duration - 1 - p.tt_peak + 0.5) "
        "WHEN p.tt_peak = e.duration - 1 THEN 0.0 "
        "ELSE (p.imax - e.last_rs) / (e.duration - 1 - p.tt_peak) END",
        2,
    )
    + " AS rate_decline "
    "FROM edges e JOIN peak p ON e.cell_id = p.cell_id AND e.event_id = p.event_id",
)
def q_onset_decline_rates(spark, sf_dir):
    """W7: onset = (i_max - i_start)/(tt_peak + 0.5) with the half-day
    boundary convention; i_start averages the first in-event day with the
    day *before* the event (series-position neighbor); 4 edge cases at
    the series extremes (reference marineHeatWaves.py:394-411).

    Deviation from the vendored oracle, documented: when an event ends at
    the series end with its peak on the last day, Oliver's `tt_peak==T-1`
    branch yields 0/0 -> NaN unless the event spans the whole series; this
    engine returns 0.0 for every peak-at-edge case (the symmetric onset
    convention)."""
    m = _metrics(_flagged(spark, sf_dir))
    return m.select(
        "cell_id",
        "event_id",
        "date_peak",
        rq("rate_onset", 2).alias("rate_onset"),
        rq("rate_decline", 2).alias("rate_decline"),
    )


# =========================================================================
# W8 + S6 — per-event category durations & label
# =========================================================================
@register(
    "q_event_categories",
    f"WITH {MEMBER_SQL}, "
    "pkc AS (SELECT cell_id, event_id, least(floor(1.0 + rel_tn), 4) AS peak_band FROM ("
    "  SELECT m.*, row_number() OVER (PARTITION BY cell_id, event_id "
    "    ORDER BY rel_tn DESC, time ASC) AS rn FROM member m) WHERE rn = 1), "
    "cats AS (SELECT cell_id, event_id, "
    "  CAST(sum(CASE WHEN floor(1.0 + rel_tn) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS duration_moderate, "
    "  CAST(sum(CASE WHEN floor(1.0 + rel_tn) = 2 THEN 1 ELSE 0 END) AS BIGINT) AS duration_strong, "
    "  CAST(sum(CASE WHEN floor(1.0 + rel_tn) = 3 THEN 1 ELSE 0 END) AS BIGINT) AS duration_severe, "
    "  CAST(sum(CASE WHEN floor(1.0 + rel_tn) >= 4 THEN 1 ELSE 0 END) AS BIGINT) AS duration_extreme "
    "  FROM member GROUP BY 1, 2) "
    "SELECT c.cell_id, c.event_id, "
    "CASE p.peak_band WHEN 1 THEN 'Moderate' WHEN 2 THEN 'Strong' WHEN 3 THEN 'Severe' "
    "ELSE 'Extreme' END AS category, c.duration_moderate, c.duration_strong, "
    "c.duration_severe, c.duration_extreme "
    "FROM cats c JOIN pkc p ON c.cell_id = p.cell_id AND c.event_id = p.event_id",
)
def q_event_categories(spark, sf_dir):
    """W8+S6: category of the event = label of the capped band at the
    *normalized-exceedance* peak (separate argmax from the rel-seas
    peak); duration_<cat> counts member days in each band
    (reference marineHeatWaves.py:384-392)."""
    m = _metrics(_flagged(spark, sf_dir))
    return m.select(
        "cell_id",
        "event_id",
        "category",
        "duration_moderate",
        "duration_strong",
        "duration_severe",
        "duration_extreme",
    )


# =========================================================================
# A7 — block averages (2-year blocks)
# =========================================================================
BLOCK_SQL = (
    ", spans AS (SELECT cell_id, min(year(time)) AS y0, max(year(time)) AS y1 FROM fl GROUP BY 1), "
    "spine AS (SELECT cell_id, CAST(y0 + b.b * 2 AS INT) AS years_start, "
    "  CAST(y0 + b.b * 2 + 1 AS INT) AS years_end FROM spans, "
    "  (SELECT unnest(generate_series(0, 3)) AS b) b "
    "  WHERE y0 + b.b * 2 <= y1)"
)


@register(
    "q_block_average",
    f"WITH {MEMBER_SQL}{BLOCK_SQL}, "
    "evb AS (SELECT e.*, CAST(s.y0 + floor((year(e.date_start) - s.y0) / 2) * 2 AS INT) AS years_start, "
    "  m.intensity_max, m.intensity_mean, m.intensity_cumulative FROM ev e "
    "  JOIN spans s ON e.cell_id = s.cell_id "
    "  JOIN (SELECT cell_id, event_id, max(rel_seas) AS intensity_max, "
    "    avg(rel_seas) AS intensity_mean, sum(rel_seas) AS intensity_cumulative "
    "    FROM member GROUP BY 1, 2) m ON e.cell_id = m.cell_id AND e.event_id = m.event_id), "
    "per_block AS (SELECT cell_id, years_start, count(*) AS count, "
    "  avg(duration) AS duration, avg(intensity_max) AS intensity_max, "
    "  max(intensity_max) AS intensity_max_max, avg(intensity_mean) AS intensity_mean, "
    "  avg(intensity_cumulative) AS intensity_cumulative, "
    "  sum(intensity_cumulative) AS total_icum FROM evb GROUP BY 1, 2), "
    "days AS (SELECT e.cell_id, CAST(s.y0 + floor((year(d.d) - s.y0) / 2) * 2 AS INT) AS years_start, "
    "  count(*) AS total_days FROM ev e JOIN spans s ON e.cell_id = s.cell_id, "
    "  LATERAL (SELECT unnest(generate_series(e.date_start, e.date_end, INTERVAL 1 DAY)) AS d) d "
    "  GROUP BY 1, 2) "
    "SELECT sp.cell_id, sp.years_start, sp.years_end, "
    f"coalesce(pb.count, 0) AS count, {rq_sql('pb.duration', 2)} AS duration, "
    f"{rq_sql('pb.intensity_max', 2)} AS intensity_max, {rq_sql('pb.intensity_max_max', 2)} AS intensity_max_max, "
    f"{rq_sql('pb.intensity_mean', 2)} AS intensity_mean, {rq_sql('pb.intensity_cumulative', 2)} AS intensity_cumulative, "
    f"coalesce(dy.total_days, 0) AS total_days, {rq_sql('pb.total_icum', 2)} AS total_icum "
    "FROM spine sp LEFT JOIN per_block pb ON sp.cell_id = pb.cell_id AND sp.years_start = pb.years_start "
    "LEFT JOIN days dy ON sp.cell_id = dy.cell_id AND sp.years_start = dy.years_start",
)
def q_block_average(spark, sf_dir):
    """A7: events grouped into 2-year blocks by start year; per-block
    count / metric averages / max-of-max / total_icum; total_days splits
    multi-year events across blocks by each member day's year; block
    spine from the series span, empty blocks keep NULL stats
    (reference `blockAverage` marineHeatWaves.py:431-684)."""
    fl = _flagged(spark, sf_dir)
    m = _metrics(fl)
    blk = block_average(m, fl, block_length=2)
    return blk.select(
        "cell_id",
        "years_start",
        "years_end",
        "count",
        rq("duration", 2).alias("duration"),
        rq("intensity_max", 2).alias("intensity_max"),
        rq("intensity_max_max", 2).alias("intensity_max_max"),
        rq("intensity_mean", 2).alias("intensity_mean"),
        rq("intensity_cumulative", 2).alias("intensity_cumulative"),
        "total_days",
        rq("total_icum", 2).alias("total_icum"),
    )


# =========================================================================
# A8 — per-block raw-temperature stats
# =========================================================================
@register(
    "q_block_temp_stats",
    f"WITH {FL_SQL}{BLOCK_SQL}, "
    "d AS (SELECT f.cell_id, CAST(s.y0 + floor((year(f.time) - s.y0) / 2) * 2 AS INT) AS years_start, "
    "  f.temp FROM fl f JOIN spans s ON f.cell_id = s.cell_id), "
    "st AS (SELECT cell_id, years_start, avg(temp) AS temp_mean, max(temp) AS temp_max, "
    "  min(temp) AS temp_min FROM d GROUP BY 1, 2) "
    f"SELECT sp.cell_id, sp.years_start, sp.years_end, {rq_sql('st.temp_mean', 2)} AS temp_mean, "
    f"{rq_sql('st.temp_max', 2)} AS temp_max, {rq_sql('st.temp_min', 2)} AS temp_min "
    "FROM spine sp LEFT JOIN st ON sp.cell_id = st.cell_id AND sp.years_start = st.years_start",
)
def q_block_temp_stats(spark, sf_dir):
    """A8: per-block nanmean/nanmax/nanmin of the raw series
    (reference marineHeatWaves.py:644-649)."""
    od = orders_daily(spark, sf_dir)
    blk = block_temp_stats(od, block_length=2)
    return blk.select(
        "cell_id",
        "years_start",
        "years_end",
        rq("temp_mean", 2).alias("temp_mean"),
        rq("temp_max", 2).alias("temp_max"),
        rq("temp_min", 2).alias("temp_min"),
    )


# =========================================================================
# A9 — category-day counts per block (conditional-agg pivot)
# =========================================================================
@register(
    "q_category_days_pivot",
    f"WITH {EV_SQL}{BLOCK_SQL}, "
    "md AS (SELECT f.cell_id, f.time, f.temp, f.seas, f.thresh FROM fl f "
    "  WHERE EXISTS (SELECT 1 FROM ev e WHERE e.cell_id = f.cell_id "
    "    AND f.time BETWEEN e.date_start AND e.date_end)), "
    "d AS (SELECT md.cell_id, CAST(s.y0 + floor((year(md.time) - s.y0) / 2) * 2 AS INT) AS years_start, "
    "  floor(1.0 + (md.temp - md.thresh) / (md.thresh - md.seas)) AS cat "
    "  FROM md JOIN spans s ON md.cell_id = s.cell_id), "
    "cnt AS (SELECT cell_id, years_start, "
    "  CAST(sum(CASE WHEN cat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS moderate_days, "
    "  CAST(sum(CASE WHEN cat = 2 THEN 1 ELSE 0 END) AS BIGINT) AS strong_days, "
    "  CAST(sum(CASE WHEN cat = 3 THEN 1 ELSE 0 END) AS BIGINT) AS severe_days, "
    "  CAST(sum(CASE WHEN cat >= 4 THEN 1 ELSE 0 END) AS BIGINT) AS extreme_days "
    "  FROM d GROUP BY 1, 2) "
    "SELECT sp.cell_id, sp.years_start, sp.years_end, "
    "coalesce(c.moderate_days, 0) AS moderate_days, coalesce(c.strong_days, 0) AS strong_days, "
    "coalesce(c.severe_days, 0) AS severe_days, coalesce(c.extreme_days, 0) AS extreme_days "
    "FROM spine sp LEFT JOIN cnt c ON sp.cell_id = c.cell_id AND sp.years_start = c.years_start",
)
def q_category_days_pivot(spark, sf_dir):
    """A9: per block, days inside any event at category band 1/2/3/>=4
    (reference marineHeatWaves.py:562-571,614-620) — an event-mask
    semi-join + conditional aggregate."""
    fl = _flagged(spark, sf_dir)
    ev = _events(spark, sf_dir)
    out = category_days_per_block(fl, ev, block_length=2)
    return out.select(
        "cell_id",
        "years_start",
        "years_end",
        "moderate_days",
        "strong_days",
        "severe_days",
        "extreme_days",
    )


# =========================================================================
# A7 removeMissing — blocks containing a year with missing samples have
# every stat NaN'd (marineHeatWaves.py:654-682). A deterministic NULL
# is injected on 1996-02-13 so exactly the 1995-96 block trips.
# =========================================================================
NFL_SQL = (
    f"od0 AS ({ORDERS_DAILY_SQL}), "
    "odn AS (SELECT cell_id, time, CASE WHEN time = DATE '1996-02-13' "
    "  THEN NULL ELSE temp END AS temp FROM od0), "
    "thr AS (SELECT cell_id, quantile_cont(temp, 0.75) AS thresh, avg(temp) AS seas "
    "  FROM odn GROUP BY 1), "
    "fl AS (SELECT odn.cell_id, odn.time, coalesce(odn.temp, thr.seas) AS temp, "
    "  thr.seas, thr.thresh, odn.temp IS NULL AS was_missing, "
    "  coalesce(coalesce(odn.temp, thr.seas) > thr.thresh, false) AS exceed "
    "  FROM odn JOIN thr ON odn.cell_id = thr.cell_id)"
)
NEV_SQL = NFL_SQL + RUNS_SQL[len(FL_SQL):] + EV_SQL[len(RUNS_SQL):]


@register(
    "q_block_remove_missing",
    f"WITH {NEV_SQL}{BLOCK_SQL}, "
    "evb AS (SELECT e.*, CAST(s.y0 + floor((year(e.date_start) - s.y0) / 2) * 2 AS INT) AS years_start, "
    "  m.intensity_max FROM ev e JOIN spans s ON e.cell_id = s.cell_id "
    "  JOIN (SELECT f.cell_id, e2.event_id, max(f.temp - f.seas) AS intensity_max "
    "    FROM ev e2 JOIN fl f ON f.cell_id = e2.cell_id "
    "    AND f.time BETWEEN e2.date_start AND e2.date_end GROUP BY 1, 2) m "
    "  ON e.cell_id = m.cell_id AND e.event_id = m.event_id), "
    "per_block AS (SELECT cell_id, years_start, count(*) AS count, "
    "  avg(duration) AS duration, avg(intensity_max) AS intensity_max FROM evb GROUP BY 1, 2), "
    "days AS (SELECT e.cell_id, CAST(s.y0 + floor((year(d.d) - s.y0) / 2) * 2 AS INT) AS years_start, "
    "  count(*) AS total_days FROM ev e JOIN spans s ON e.cell_id = s.cell_id, "
    "  LATERAL (SELECT unnest(generate_series(e.date_start, e.date_end, INTERVAL 1 DAY)) AS d) d "
    "  GROUP BY 1, 2), "
    "miss AS (SELECT DISTINCT f.cell_id, CAST(s.y0 + floor((year(f.time) - s.y0) / 2) * 2 AS INT) AS years_start "
    "  FROM fl f JOIN spans s ON f.cell_id = s.cell_id WHERE f.was_missing) "
    "SELECT sp.cell_id, sp.years_start, sp.years_end, "
    "CASE WHEN ms.years_start IS NULL THEN coalesce(pb.count, 0) END AS count, "
    + rq_sql("CASE WHEN ms.years_start IS NULL THEN pb.duration END", 2)
    + " AS duration, "
    + rq_sql("CASE WHEN ms.years_start IS NULL THEN pb.intensity_max END", 2)
    + " AS intensity_max, "
    "CASE WHEN ms.years_start IS NULL THEN coalesce(dy.total_days, 0) END AS total_days "
    "FROM spine sp "
    "LEFT JOIN per_block pb ON sp.cell_id = pb.cell_id AND sp.years_start = pb.years_start "
    "LEFT JOIN days dy ON sp.cell_id = dy.cell_id AND sp.years_start = dy.years_start "
    "LEFT JOIN miss ms ON sp.cell_id = ms.cell_id AND sp.years_start = ms.years_start",
)
def q_block_remove_missing(spark, sf_dir):
    """A7 removeMissing: any block containing a year with a missing
    (NULL-temp) sample has every stat overwritten with NULL — the
    reference's NaN anti-join (marineHeatWaves.py:654-682). A NULL is
    injected deterministically on 1996-02-13 in both engines."""
    od = orders_daily(spark, sf_dir).withColumn(
        "temp",
        F.when(F.col("time") == F.lit("1996-02-13").cast("date"), None).otherwise(
            F.col("temp")
        ),
    )
    thr_t = od.groupBy("cell_id").agg(
        F.expr("percentile(temp, 0.75)").alias("thresh"),
        F.avg("temp").alias("seas"),
    )
    fl = exceedance(od.join(F.broadcast(thr_t), ["cell_id"]))
    m = _metrics(fl)
    blk = block_average(m, od, block_length=2, remove_missing=True)
    return blk.select(
        "cell_id",
        "years_start",
        "years_end",
        "count",
        rq("duration", 2).alias("duration"),
        rq("intensity_max", 2).alias("intensity_max"),
        "total_days",
    )


# =========================================================================
# W9 — event ranking & return periods
# =========================================================================
@register(
    "q_event_rank_return",
    f"WITH {MEMBER_SQL}, "
    "m AS (SELECT cell_id, event_id, max(rel_seas) AS intensity_max FROM member GROUP BY 1, 2) "
    f"SELECT cell_id, event_id, {rq_sql('intensity_max', 2)} AS intensity_max, "
    "CAST(row_number() OVER (ORDER BY intensity_max DESC, cell_id, event_id) AS INT) AS intensity_max_rank, "
    + rq_sql(
        f"({N_YEARS} + 1.0) / row_number() OVER (ORDER BY intensity_max DESC, cell_id, event_id)",
        4,
    )
    + " AS intensity_max_return_period FROM m",
)
def q_event_rank_return(spark, sf_dir):
    """W9: distinct ordinal ranks (double-argsort = row_number), ties
    broken by (cell_id, event_id) for determinism; returnPeriod =
    (nYears+1)/rank (reference `rank` marineHeatWaves.py:785-855)."""
    m = _metrics(_flagged(spark, sf_dir))
    ranked = rank_return_periods(m, ["intensity_max"], n_years=N_YEARS)
    return ranked.select(
        "cell_id",
        "event_id",
        rq("intensity_max", 2).alias("intensity_max"),
        F.col("intensity_max_rank").cast("int").alias("intensity_max_rank"),
        rq("intensity_max_return_period", 4).alias("intensity_max_return_period"),
    )




# =========================================================================
# M1 exact-oracle variant — cold spells against the mirrored simple
# threshold: negate input, detect, negate intensities on the way out
# (marineHeatWaves.py:105-106,244-247,413-426). The SQL oracle rebuilds
# the whole negate->RLE->gap-join->metrics chain on -temp.
# =========================================================================
COLD_FL_SQL = (
    f"od0 AS ({ORDERS_DAILY_SQL}), "
    "od AS (SELECT cell_id, time, -temp AS temp FROM od0), "
    "thr AS (SELECT cell_id, quantile_cont(temp, 0.75) AS thresh, avg(temp) AS seas "
    "  FROM od GROUP BY 1), "
    "fl AS (SELECT od.cell_id, od.time, od.temp, thr.seas, thr.thresh, "
    "  od.temp > thr.thresh AS exceed FROM od JOIN thr ON od.cell_id = thr.cell_id)"
)
# splice the shared RLE/gap-join chains onto the negated fl CTE
COLD_EV_SQL = COLD_FL_SQL + RUNS_SQL[len(FL_SQL):] + EV_SQL[len(RUNS_SQL):]


@register(
    "q_cold_spells_simple",
    f"WITH {COLD_EV_SQL}, "
    "member AS (SELECT e.cell_id, e.event_id, e.date_start, e.date_end, e.duration, "
    "  f.temp - f.seas AS rel_seas FROM ev e JOIN fl f ON f.cell_id = e.cell_id "
    "  AND f.time BETWEEN e.date_start AND e.date_end) "
    "SELECT cell_id, event_id, date_start, date_end, duration, "
    f"{rq_sql('-max(rel_seas)', 2)} AS intensity_max, "
    f"{rq_sql('-avg(rel_seas)', 2)} AS intensity_mean "
    "FROM member GROUP BY 1, 2, 3, 4, 5",
)
def q_cold_spells_simple(spark, sf_dir):
    """M1 with an exact oracle: cold events = heat detection on the
    negated series against the mirrored percentile; intensity columns
    negated on the way out (marineHeatWaves.py:244-247,413-426)."""
    od = orders_daily(spark, sf_dir).withColumn("temp", -F.col("temp"))
    thr_n = od.groupBy("cell_id").agg(
        F.expr("percentile(temp, 0.75)").alias("thresh"),
        F.avg("temp").alias("seas"),
    )
    fl = od.join(F.broadcast(thr_n), ["cell_id"]).withColumn(
        "exceed", F.coalesce(F.col("temp") > F.col("thresh"), F.lit(False))
    )
    m = _metrics(fl)
    return m.select(
        "cell_id",
        "event_id",
        "date_start",
        "date_end",
        "duration",
        rq(-F.col("intensity_max"), 2).alias("intensity_max"),
        rq(-F.col("intensity_mean"), 2).alias("intensity_mean"),
    )


# =========================================================================
# U1 — applyInPandas escape hatch (per-cell numpy kernel)
# =========================================================================
@register(
    "q_apply_in_pandas_kernel",
    f"WITH od AS ({ORDERS_DAILY_SQL}), "
    "x AS (SELECT cell_id, CAST(date_diff('day', DATE '1970-01-01', time) AS DOUBLE) AS xv, "
    "  temp FROM od) "
    f"SELECT cell_id, {rq_sql('regr_slope(temp, xv)', 4)} AS slope, "
    f"{rq_sql('regr_intercept(temp, xv)', 1)} AS intercept FROM x GROUP BY 1",
)
def q_apply_in_pandas_kernel(spark, sf_dir):
    """U1: the designated escape hatch for per-cell NumPy kernels —
    applyInPandas grouped by cell_id (reference apply_ufunc
    vectorize/dask='parallelized', common/core.py:167-176). The kernel
    here is a deg-1 polyfit, so the DuckDB oracle can check it exactly
    via regr_slope/regr_intercept."""
    import numpy as np

    od = orders_daily(spark, sf_dir).withColumn(
        "xv", F.datediff("time", F.lit("1970-01-01")).cast("double")
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        b, a = np.polyfit(pdf["xv"].to_numpy(), pdf["temp"].to_numpy(), 1)
        return pd.DataFrame(
            {"cell_id": [pdf["cell_id"].iloc[0]], "slope": [b], "intercept": [a]}
        )

    out = od.groupBy("cell_id").applyInPandas(
        fit, schema="cell_id bigint, slope double, intercept double"
    )
    return out.select(
        "cell_id",
        rq("slope", 4).alias("slope"),
        rq("intercept", 1).alias("intercept"),
    )


# =========================================================================
# Flagship — the full MHW pipeline (rows-only; golden-tested in tests/)
# =========================================================================
# Full-pipeline oracle: grid-pooled clim (+densify +Feb29 +smooth31)
# -> severity/exceedance -> RLE/gap-join detection -> event metrics,
# peaks, categories and onset/decline rates — every stage re-derived in
# ANSI SQL so the flagship is hash-checked end to end, not rows-only.
_PDOY = clim_doy_sql("od.time")
#: grid pooling, baseline 1995-2000, +/-5, excluding target doy 60
PIPE_POOL_GRID_SQL = (
    f"od AS ({ORDERS_DAILY_SQL}), "
    f"s AS (SELECT cell_id, time, temp, {clim_doy_sql('time')} AS d, year(time) AS y "
    "  FROM od WHERE year(time) BETWEEN 1995 AND 2000), "
    "pool AS (SELECT s.cell_id, ((s.d + o.o - 1 + 366) % 366) + 1 AS doy, s.temp "
    "  FROM s CROSS JOIN (SELECT unnest(generate_series(-5, 5)) AS o) o "
    "  WHERE (s.y + CASE WHEN s.d + o.o > 366 THEN 1 "
    "                    WHEN s.d + o.o < 1 THEN -1 ELSE 0 END) BETWEEN 1995 AND 2000 "
    "    AND ((s.d + o.o - 1 + 366) % 366) + 1 <> 60), "
)
#: clim aggregate + densify to 1..366 + Feb-29 interpolation (shared by
#: every pooling head — expects a `pool(cell_id, doy, temp)` CTE)
PIPE_DENSIFY_SQL = (
    "cg AS (SELECT cell_id, doy, avg(temp) AS seas, "
    "  quantile_cont(temp, 0.9) AS thresh FROM pool GROUP BY 1, 2), "
    "spine AS (SELECT DISTINCT cell_id, g.d AS doy FROM cg, "
    "  (SELECT unnest(generate_series(1, 366)) AS d) g), "
    "dense AS (SELECT sp.cell_id, sp.doy, c.seas, c.thresh FROM spine sp "
    "  LEFT JOIN cg c ON sp.cell_id = c.cell_id AND sp.doy = c.doy), "
    "f29 AS (SELECT cell_id, "
    "  0.5 * max(CASE WHEN doy = 59 THEN seas END) + 0.5 * max(CASE WHEN doy = 61 THEN seas END) AS s60, "
    "  0.5 * max(CASE WHEN doy = 59 THEN thresh END) + 0.5 * max(CASE WHEN doy = 61 THEN thresh END) AS t60 "
    "  FROM dense WHERE doy IN (59, 61) GROUP BY 1), "
    "d2 AS (SELECT d.cell_id, d.doy, "
    "  CASE WHEN d.doy = 60 THEN f.s60 ELSE d.seas END AS seas, "
    "  CASE WHEN d.doy = 60 THEN f.t60 ELSE d.thresh END AS thresh "
    "  FROM dense d LEFT JOIN f29 f ON d.cell_id = f.cell_id), "
)
#: head: grid-pooled clim, densified, Feb-29-interpolated (through d2)
PIPE_HEAD_SQL = PIPE_POOL_GRID_SQL + PIPE_DENSIFY_SQL
#: dense-366 smoother (smooth_mode="full"): NULL slots poison windows
PIPE_SMOOTH_FULL_SQL = (
    "copies AS (SELECT cell_id, doy, seas, thresh, doy + 366 * o.o AS pos FROM d2, "
    "  (SELECT unnest([-1, 0, 1]) AS o) o), "
    "smw AS (SELECT cell_id, doy, pos, "
    "  avg(seas) OVER w AS sa, sum(CASE WHEN seas IS NULL THEN 1 ELSE 0 END) OVER w AS sn, "
    "  avg(thresh) OVER w AS ta, sum(CASE WHEN thresh IS NULL THEN 1 ELSE 0 END) OVER w AS tn "
    "  FROM copies WINDOW w AS (PARTITION BY cell_id ORDER BY pos "
    "  ROWS BETWEEN 15 PRECEDING AND 15 FOLLOWING)), "
    "clim AS (SELECT cell_id, doy, CASE WHEN sn = 0 THEN sa END AS seas, "
    "  CASE WHEN tn = 0 THEN ta END AS thresh FROM smw WHERE pos BETWEEN 1 AND 366), "
)
#: compressed-circular smoother (smooth_mode="valid", M3/Ly): only the
#: PRESENT doys smooth, circularly in their own sequence — the two tails
#: coincide on dense data (sf0.01) but diverge when DOYs are absent
#: (sf0.001), so each pipeline query declares its matching tail
PIPE_SMOOTH_VALID_SQL = (
    "v AS (SELECT cell_id, doy, seas, thresh, "
    "  row_number() OVER (PARTITION BY cell_id ORDER BY doy) AS p, "
    "  count(*) OVER (PARTITION BY cell_id) AS n FROM d2 "
    "  WHERE seas IS NOT NULL OR thresh IS NOT NULL), "
    "copies AS (SELECT cell_id, doy, seas, thresh, n, p + n * o.o AS pos FROM v, "
    "  (SELECT unnest([-1, 0, 1]) AS o) o), "
    "smw AS (SELECT cell_id, doy, pos, n, "
    "  avg(seas) OVER w AS sa, sum(CASE WHEN seas IS NULL THEN 1 ELSE 0 END) OVER w AS sn, "
    "  avg(thresh) OVER w AS ta, sum(CASE WHEN thresh IS NULL THEN 1 ELSE 0 END) OVER w AS tn "
    "  FROM copies WINDOW w AS (PARTITION BY cell_id ORDER BY pos "
    "  ROWS BETWEEN 15 PRECEDING AND 15 FOLLOWING)), "
    "clim AS (SELECT cell_id, doy, CASE WHEN sn = 0 THEN sa END AS seas, "
    "  CASE WHEN tn = 0 THEN ta END AS thresh FROM smw WHERE pos BETWEEN 1 AND n), "
)
#: severity join + exceedance (shared tail)
PIPE_FL_SQL = (
    "fl AS (SELECT od.cell_id, od.time, od.temp, c.seas, c.thresh, "
    "  coalesce(od.temp > c.thresh, false) AS exceed "
    f"  FROM od LEFT JOIN clim c ON od.cell_id = c.cell_id AND {_PDOY} = c.doy)"
)
PIPE_SQL = PIPE_HEAD_SQL + PIPE_SMOOTH_VALID_SQL + PIPE_FL_SQL
PIPE_SQL_DENSE = PIPE_HEAD_SQL + PIPE_SMOOTH_FULL_SQL + PIPE_FL_SQL
PIPE_EV_SQL = PIPE_SQL + RUNS_SQL[len(FL_SQL):] + EV_SQL[len(RUNS_SQL):]
PIPE_EV_SQL_DENSE = (
    PIPE_SQL_DENSE + RUNS_SQL[len(FL_SQL):] + EV_SQL[len(RUNS_SQL):]
)


#: the full flagship metrics tail, parameterized by the events chain so
#: q_mhw_pipeline (compressed-circular smoother) and
#: q_mhw_pipeline_dense (dense-366 smoother) each get the oracle that
#: matches THEIR smoothing semantics — the two coincide on dense daily
#: data (sf0.01) but diverge when DOYs are absent (sf0.001).
_PIPE_METRICS_TAIL = (
    "flx AS (SELECT *, temp - seas AS rel_seas, "
    "  (temp - thresh) / (thresh - seas) AS rel_tn, "
    "  lag(temp - seas) OVER w AS prev_rs, lead(temp - seas) OVER w AS next_rs, "
    "  min(time) OVER (PARTITION BY cell_id) AS series_start, "
    "  max(time) OVER (PARTITION BY cell_id) AS series_end "
    "  FROM fl WINDOW w AS (PARTITION BY cell_id ORDER BY time)), "
    "member AS (SELECT e.cell_id, e.event_id, e.date_start, e.date_end, e.duration, "
    "  f.* EXCLUDE (cell_id) FROM ev e JOIN flx f ON f.cell_id = e.cell_id "
    "  AND f.time BETWEEN e.date_start AND e.date_end), "
    "agg AS (SELECT cell_id, event_id, date_start, date_end, duration, "
    "  max(rel_seas) AS imax, avg(rel_seas) AS imean, sum(rel_seas) AS icum "
    "  FROM member GROUP BY 1, 2, 3, 4, 5), "
    "peak AS (SELECT cell_id, event_id, time AS date_peak, rel_seas AS imax, "
    "  date_diff('day', date_start, time) AS tt_peak FROM ("
    "  SELECT m.*, row_number() OVER (PARTITION BY cell_id, event_id "
    "    ORDER BY rel_seas DESC, time ASC) AS rn FROM member m) WHERE rn = 1), "
    "pkc AS (SELECT cell_id, event_id, least(floor(1.0 + rel_tn), 4) AS band FROM ("
    "  SELECT m.*, row_number() OVER (PARTITION BY cell_id, event_id "
    "    ORDER BY rel_tn DESC, time ASC) AS rn FROM member m) WHERE rn = 1), "
    "edges AS (SELECT cell_id, event_id, duration, "
    "  max(CASE WHEN time = date_start THEN rel_seas END) AS first_rs, "
    "  max(CASE WHEN time = date_end THEN rel_seas END) AS last_rs, "
    "  max(CASE WHEN time = date_start THEN prev_rs END) AS before_rs, "
    "  max(CASE WHEN time = date_end THEN next_rs END) AS after_rs, "
    "  bool_or(time = date_start AND time = series_start) AS at_start, "
    "  bool_or(time = date_end AND time = series_end) AS at_end "
    "  FROM member GROUP BY 1, 2, 3) "
    "SELECT a.cell_id, a.event_id, a.date_start, a.date_end, a.duration, p.date_peak, "
    "CASE k.band WHEN 1 THEN 'Moderate' WHEN 2 THEN 'Strong' WHEN 3 THEN 'Severe' "
    "ELSE 'Extreme' END AS category, "
    f"{rq_sql('a.imax', 2)} AS intensity_max, {rq_sql('a.imean', 2)} AS intensity_mean, "
    f"{rq_sql('a.icum', 2)} AS intensity_cumulative, "
    + rq_sql(
        "CASE WHEN NOT e.at_start THEN "
        "(p.imax - 0.5 * (e.first_rs + e.before_rs)) / (p.tt_peak + 0.5) "
        "WHEN p.tt_peak = 0 THEN 0.0 "
        "ELSE (p.imax - e.first_rs) / p.tt_peak END",
        2,
    )
    + " AS rate_onset, "
    + rq_sql(
        "CASE WHEN NOT e.at_end THEN "
        "(p.imax - 0.5 * (e.last_rs + e.after_rs)) / (e.duration - 1 - p.tt_peak + 0.5) "
        "WHEN p.tt_peak = e.duration - 1 THEN 0.0 "
        "ELSE (p.imax - e.last_rs) / (e.duration - 1 - p.tt_peak) END",
        2,
    )
    + " AS rate_decline "
    "FROM agg a "
    "JOIN peak p ON a.cell_id = p.cell_id AND a.event_id = p.event_id "
    "JOIN pkc k ON a.cell_id = k.cell_id AND a.event_id = k.event_id "
    "JOIN edges e ON a.cell_id = e.cell_id AND a.event_id = e.event_id"
)
PIPE_METRICS_SQL = f"WITH {PIPE_EV_SQL}, " + _PIPE_METRICS_TAIL
PIPE_METRICS_SQL_DENSE = f"WITH {PIPE_EV_SQL_DENSE}, " + _PIPE_METRICS_TAIL


def _pipeline_select(m):
    return m.select(
        "cell_id",
        "event_id",
        "date_start",
        "date_end",
        "duration",
        "date_peak",
        "category",
        rq("intensity_max", 2).alias("intensity_max"),
        rq("intensity_mean", 2).alias("intensity_mean"),
        rq("intensity_cumulative", 2).alias("intensity_cumulative"),
        rq("rate_onset", 2).alias("rate_onset"),
        rq("rate_decline", 2).alias("rate_decline"),
    )


@register("q_mhw_pipeline", PIPE_METRICS_SQL)
def q_mhw_pipeline(spark, sf_dir):
    """EP1+EP2+EP3 fused: pooled clim/threshold -> severity -> detection
    -> event metrics, three shuffles of the big table total
    (SURVEY.md §3/§4). Hash-checked end to end against the full SQL
    oracle (clim + smooth + detection + metrics + rates); the seed-42
    golden fixture (tests/test_detection_golden.py) additionally pins
    the reference's known events."""
    od = orders_daily(spark, sf_dir)
    m = detect_mhw(
        od,
        baseline=(1995, 2000),
        smooth_mode="valid",  # M3 Ly variant: compressed-circular map smooth
        min_duration=MIN_DUR,
        max_gap=MAX_GAP,
        pool_mode="grid",  # windowless legacy-grid pooling: scale path
    )
    return _pipeline_select(m)


@register("q_mhw_pipeline_dense", PIPE_METRICS_SQL_DENSE)
def q_mhw_pipeline_dense(spark, sf_dir):
    """The DEFAULT detect_mhw plan: smooth_mode="full" selects the
    dense 366-slot clim arrays (pooled_climatology(output="arrays") ->
    array-readout severity join, plans/pipeline.py detect_mhw;
    operators/climatology.py _arrays_tail) — the path the bench
    exercises.
    Same oracle as q_mhw_pipeline: on this dense daily series the
    dense-366 and compressed-circular smoothers coincide, so this row
    pins the arrays path end to end under the DuckDB hash gate."""
    od = orders_daily(spark, sf_dir)
    m = detect_mhw(
        od,
        baseline=(1995, 2000),
        smooth_mode="full",  # arrays path (the default plan)
        min_duration=MIN_DUR,
        max_gap=MAX_GAP,
        pool_mode="grid",
    )
    return _pipeline_select(m)


# =========================================================================
# Flagship, series-mode pooling — the vendored-Oliver index-window
# semantics end to end (the third pipeline combination: grid+valid and
# grid+full are covered above; this is series+full)
# =========================================================================
#: +/-5 series-position pooling (marineHeatWaves.py:266-281): bucket
#: owners are baseline non-Feb-29 rows; every row within +/-5 positions
#: contributes
PIPE_POOL_SERIES_SQL = (
    f"od AS ({ORDERS_DAILY_SQL}), "
    f"s AS (SELECT cell_id, time, temp, {clim_doy_sql('time')} AS doy, "
    "  row_number() OVER (PARTITION BY cell_id ORDER BY time) AS rn FROM od), "
    "pool AS (SELECT b.cell_id, b.doy, t.temp FROM s b "
    "  JOIN s t ON t.cell_id = b.cell_id AND t.rn BETWEEN b.rn - 5 AND b.rn + 5 "
    "  WHERE b.doy <> 60 AND year(b.time) BETWEEN 1995 AND 2000), "
)
SERIES_PIPE_EV_SQL = (
    PIPE_POOL_SERIES_SQL
    + PIPE_DENSIFY_SQL
    + PIPE_SMOOTH_FULL_SQL
    + PIPE_FL_SQL
    + RUNS_SQL[len(FL_SQL):]
    + EV_SQL[len(RUNS_SQL):]
)


@register(
    "q_mhw_pipeline_series",
    f"WITH {SERIES_PIPE_EV_SQL}, " + _PIPE_METRICS_TAIL,
)
def q_mhw_pipeline_series(spark, sf_dir):
    """The full pipeline under pool_mode="series" (the vendored Oliver
    index-window convention, one per-cell window sort) with the default
    dense-array smoother — the remaining pooling x smoothing
    combination, hash-checked end to end like the other two."""
    od = orders_daily(spark, sf_dir)
    m = detect_mhw(
        od,
        baseline=(1995, 2000),
        min_duration=MIN_DUR,
        max_gap=MAX_GAP,
        pool_mode="series",
    )
    return _pipeline_select(m)


# =========================================================================
# Incremental detection — per-batch run partials merged across a time
# split must equal the whole-series pipeline, so the ORACLE IS the
# whole-series dense pipeline SQL. This is the chunk-at-a-time shape
# (the reference's dask chunking, reprocessed relationally): clim from
# the full baseline, then each time-batch compressed independently to
# mergeable run partials (operators/detection.py detect_partials /
# merge_detect_partials), with events spanning the split re-joined at
# merge.
# =========================================================================
@register("q_mhw_pipeline_incremental", PIPE_METRICS_SQL_DENSE)
def q_mhw_pipeline_incremental(spark, sf_dir):
    """Incremental twin of q_mhw_pipeline_dense: the severity series is
    split at a mid-record date into two batches, each batch collapses
    to run partials in isolation, and the merge reproduces the
    whole-series events — hash-checked against the SAME oracle as the
    whole-series query (boundary-spanning runs re-join exactly)."""
    from mhw3d_detection_spark.operators.climatology import pooled_climatology
    from mhw3d_detection_spark.operators.severity import calculate_severity

    od = orders_daily(spark, sf_dir)
    clim = pooled_climatology(
        od, baseline=(1995, 2000), pool_mode="grid", output="arrays"
    )
    sev = calculate_severity(od, clim)
    cut = F.lit("1997-07-01").cast("date")
    parts = detect_partials(sev.filter(F.col("time") < cut)).unionByName(
        detect_partials(sev.filter(F.col("time") >= cut))
    )
    m = merge_detect_partials(parts, min_duration=MIN_DUR, max_gap=MAX_GAP)
    return _pipeline_select(m)


# =========================================================================
# Best-practice workflow — detrend THEN detect: the reference's
# current-literature method (best_practice/climatology.py:43-75 detrend
# feeding the climatology/threshold; reference
# tests/test_best_practice.py full-workflow cases). Oracle = the dense
# pipeline SQL with the OLS-detrend CTE spliced in at the scan, exactly
# like the cold-spells splice.
# =========================================================================
_DETREND_PIPE_SQL = PIPE_METRICS_SQL_DENSE.replace(
    f"od AS ({ORDERS_DAILY_SQL}), ",
    f"od0 AS ({ORDERS_DAILY_SQL}), "
    "xx AS (SELECT cell_id, time, temp, "
    "  CAST(date_diff('day', DATE '1970-01-01', time) AS DOUBLE) AS xv FROM od0), "
    "fitx AS (SELECT cell_id, regr_slope(temp, xv) AS b, "
    "  regr_intercept(temp, xv) AS a FROM xx "
    "  WHERE year(time) BETWEEN 1995 AND 2000 GROUP BY 1), "
    "od AS (SELECT x.cell_id, x.time, x.temp - (f.a + f.b * x.xv) AS temp "
    "  FROM xx x LEFT JOIN fitx f ON x.cell_id = f.cell_id), ",
    1,
)


@register("q_mhw_pipeline_detrended", _DETREND_PIPE_SQL)
def q_mhw_pipeline_detrended(spark, sf_dir):
    """The best-practice composite: per-cell OLS detrend (baseline-fit,
    full-record evaluate, reference best_practice/climatology.py:43-75)
    feeding the FULL grid-pooled detection pipeline — so the threshold
    reflects variability around the trend, not the trend itself. The
    detrend coefficients are a per-cell broadcast dim; everything
    downstream is the standard fused pipeline plan. Hash-checked end to
    end like the other pipeline combinations."""
    od = orders_daily(spark, sf_dir)
    dd = detrend_linear(od, baseline=(1995, 2000)).select(
        "cell_id", "time", F.col("temp_detrended").alias("temp")
    )
    m = detect_mhw(
        dd,
        baseline=(1995, 2000),
        smooth_mode="full",
        min_duration=MIN_DUR,
        max_gap=MAX_GAP,
        pool_mode="grid",
    )
    return _pipeline_select(m)


# =========================================================================
# M1 — cold-spell mode: the FULL pooled-clim pipeline on negated input,
# oracle = the flagship pipeline SQL with -temp spliced in at the scan
# =========================================================================
# dense tail: q_cold_spells runs detect_mhw's default smooth_mode="full"
_COLD_PIPE_EV_SQL = PIPE_EV_SQL_DENSE.replace(
    f"od AS ({ORDERS_DAILY_SQL}), ",
    f"od0 AS ({ORDERS_DAILY_SQL}), "
    "od AS (SELECT cell_id, time, -temp AS temp FROM od0), ",
    1,
)


@register(
    "q_cold_spells",
    f"WITH {_COLD_PIPE_EV_SQL}, "
    "flx AS (SELECT *, temp - seas AS rel_seas FROM fl), "
    "member AS (SELECT e.cell_id, e.event_id, e.date_start, e.date_end, e.duration, "
    "  f.rel_seas FROM ev e JOIN flx f ON f.cell_id = e.cell_id "
    "  AND f.time BETWEEN e.date_start AND e.date_end) "
    "SELECT cell_id, event_id, date_start, date_end, duration, "
    f"{rq_sql('-max(rel_seas)', 2)} AS intensity_max, "
    f"{rq_sql('-avg(rel_seas)', 2)} AS intensity_mean "
    "FROM member GROUP BY 1, 2, 3, 4, 5",
)
def q_cold_spells(spark, sf_dir):
    """M1: negate input, detect against the mirrored (10th) percentile,
    negate intensities on the way out (reference
    marineHeatWaves.py:105-106,244-247,413-426) — the full pooled-clim
    pipeline, hash-checked against the flagship oracle on -temp."""
    od = orders_daily(spark, sf_dir)
    m = detect_mhw(
        od,
        baseline=(1995, 2000),
        min_duration=MIN_DUR,
        max_gap=MAX_GAP,
        cold_spells=True,
        pool_mode="grid",
    )
    return m.select(
        "cell_id",
        "event_id",
        "date_start",
        "date_end",
        "duration",
        rq("intensity_max", 2).alias("intensity_max"),
        rq("intensity_mean", 2).alias("intensity_mean"),
    )


# =========================================================================
# Beyond-reference, in-domain — annual MHW load + "longer and more
# frequent" decadal trends (Oliver et al. 2018 headline analysis)
# =========================================================================
_AET_SQL = (
    f"WITH {EV_SQL}, "
    "py AS (SELECT cell_id, CAST(year(date_start) AS INT) AS year, "
    "  CAST(count(*) AS INT) AS n_events, CAST(sum(duration) AS BIGINT) AS mhw_days, "
    "  avg(duration) AS mean_duration FROM ev GROUP BY 1, 2), "
    "spine AS (SELECT c.cell_id, CAST(y.year AS INT) AS year "
    "  FROM (SELECT DISTINCT cell_id FROM ev) c "
    f"  CROSS JOIN (SELECT unnest(generate_series(1995, {1995 + N_YEARS - 1})) AS year) y), "
    "dense AS (SELECT s.cell_id, s.year, coalesce(py.n_events, 0) AS n_events, "
    "  coalesce(py.mhw_days, 0) AS mhw_days, py.mean_duration AS mean_duration "
    "  FROM spine s LEFT JOIN py ON py.cell_id = s.cell_id AND py.year = s.year) "
    "SELECT cell_id, "
    f"{rq_sql('avg(n_events)', 4)} AS n_events_mean, "
    f"{rq_sql('regr_slope(n_events, year)', 4)} AS n_events_trend, "
    f"{rq_sql('avg(mhw_days)', 4)} AS mhw_days_mean, "
    f"{rq_sql('regr_slope(mhw_days, year)', 4)} AS mhw_days_trend, "
    f"{rq_sql('CASE WHEN regr_count(mean_duration, year) >= 2 THEN regr_slope(mean_duration, year) END', 4)}"
    "  AS mean_duration_trend "
    "FROM dense GROUP BY 1"
)


@register("q_annual_event_trends", _AET_SQL)
def q_annual_event_trends(spark, sf_dir):
    """Beyond-reference, in-domain: per-cell annual MHW event count /
    total days / mean duration (zero-event years densified to explicit
    zeros) and their OLS trends across years — the "longer and more
    frequent marine heatwaves" analysis of Oliver et al. 2018 run on
    the reference detector's own event output (marineHeatWaves.py:
    350-411 gives the events; this is the cross-event rollup the
    reference leaves to the user).

    Scale: events-sized hash agg -> |cells| x |years| densify (literal
    year explode against the events' distinct cells) -> cells-sized
    trend agg. Nothing here ever touches the daily series again.
    ``mean_duration_trend`` is guarded to >= 2 event-bearing years (a
    one-point regression has no defined slope in either engine)."""
    ev = _events(spark, sf_dir)
    dense = annual_event_stats(ev, (1995, 1995 + N_YEARS - 1))
    out = dense.groupBy("cell_id").agg(
        F.avg("n_events").alias("__ne_mean"),
        F.expr("regr_slope(n_events, year)").alias("__ne_tr"),
        F.avg("mhw_days").alias("__md_mean"),
        F.expr("regr_slope(mhw_days, year)").alias("__md_tr"),
        F.expr(
            "CASE WHEN regr_count(mean_duration, year) >= 2 "
            "THEN regr_slope(mean_duration, year) END"
        ).alias("__du_tr"),
    )
    return out.select(
        "cell_id",
        rq("__ne_mean", 4).alias("n_events_mean"),
        rq("__ne_tr", 4).alias("n_events_trend"),
        rq("__md_mean", 4).alias("mhw_days_mean"),
        rq("__md_tr", 4).alias("mhw_days_trend"),
        rq("__du_tr", 4).alias("mean_duration_trend"),
    )
