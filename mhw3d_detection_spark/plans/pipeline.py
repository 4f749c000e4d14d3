"""End-to-end pipeline compositions (the reference's public API surface).

The canonical flow (reference README.md:53-64, design doc steps 1-3):

    compute_climatology + compute_threshold   ->  clim(cell, doy, seas, thresh)
    calculate_severity                        ->  ts + (t_anom, severity)
    detect + calculate_mhw_metrics            ->  events table

Physical plan at scale: the clim aggregates run on a cell_id
partitioning of the clim input, the series gets ONE shuffle on
cell_id, and the two meet in a shuffle-hash join on cell_id
(operators/severity.py) inside the stage that then runs the detection
window, the run partials, event assembly and metric merge
(operators/detection.py fused_detect_metrics). The climatology is
not broadcast; calculate_severity says why.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mhw3d_detection_spark.operators.climatology import pooled_climatology
from mhw3d_detection_spark.operators.detection import (
    enrich_series,
    exceedance,
    fused_detect_metrics,
)
from mhw3d_detection_spark.operators.severity import calculate_severity


def detect_mhw(
    ts: DataFrame,
    *,
    cell_col: str = "cell_id",
    time_col: str = "time",
    temp_col: str = "temp",
    baseline: tuple[int, int] | None = None,
    pctile: float = 90.0,
    window_half_width: int = 5,
    smooth_width: int | None = 31,
    smooth_mode: str = "full",
    min_duration: int = 5,
    max_gap: int = 2,
    join_across_gaps: bool = True,
    cold_spells: bool = False,
    clim_ts: DataFrame | None = None,
    with_rates: bool = True,
    with_categories: bool = True,
    pool_mode: str = "series",
) -> DataFrame:
    """Full MHW detection: long-format series -> per-event metrics table.

    Parameters mirror the vendored oracle's `detect`
    (tests/data/legacy/marineHeatWaves.py:17 defaults: minDuration=5,
    maxGap=2, pctile=90, windowHalfWidth=5, smoothWidth=31).

    cold_spells=True detects cold events: negate input, detect with the
    mirrored percentile, negate intensities on the way out
    (marineHeatWaves.py:105-106,244-247,413-426).
    clim_ts, if given, supplies an *alternate* series to build the
    climatology from (marineHeatWaves.py:107-113) — free in relational
    form: clim built from table B, joined to table A.
    """
    sign = -1.0 if cold_spells else 1.0

    def signed(df: DataFrame) -> DataFrame:
        return df.withColumn(temp_col, sign * F.col(temp_col)) if cold_spells else df

    # Dense-array clim path for BOTH smoothing modes: the whole clim
    # tail (densify + Feb-29 + circular smooth — full's dense-366 axis
    # or valid's compressed M3/Ly sequence) collapses into per-cell
    # array transforms and the severity join reads one row per cell —
    # no densify join, no Feb-29 join, no smooth window exchange
    # (operators/climatology.py clim_arrays).
    clim_output = "arrays"
    ts_s = signed(ts)
    clim_src = signed(clim_ts) if clim_ts is not None else ts_s
    clim = pooled_climatology(
        clim_src,
        cell_col=cell_col,
        time_col=time_col,
        temp_col=temp_col,
        baseline=baseline,
        pctile=pctile,
        window_half_width=window_half_width,
        smooth_width=smooth_width,
        smooth_mode=smooth_mode,
        pool_mode=pool_mode,
        output=clim_output,
    )
    sev = calculate_severity(
        ts_s, clim, cell_col=cell_col, time_col=time_col, temp_col=temp_col
    )
    flagged = exceedance(sev, temp_col=temp_col)
    # One window pass derives the run ids (one exchange + one sort of
    # the big table), and fused_detect_metrics consumes it in a SINGLE
    # per-(cell, run) partial aggregate; the cross-run state (moment
    # centers, rate neighbors, series extent), the ordered pass over
    # each cell's runs and the (cell, event) merge all run on the runs
    # table, on the window's cell partitioning, so nothing after it
    # shuffles, persists or broadcasts (operators/detection.py
    # fused_detect_metrics).
    enriched = enrich_series(
        flagged, cell_col=cell_col, time_col=time_col, temp_col=temp_col
    )
    metrics = fused_detect_metrics(
        enriched,
        cell_col=cell_col,
        time_col=time_col,
        min_duration=min_duration,
        max_gap=max_gap,
        join_across_gaps=join_across_gaps,
        with_rates=with_rates,
        with_categories=with_categories,
    )
    if cold_spells:
        # Negate every intensity metric; durations/dates/rates keep sign
        # conventions of the reference (rates are computed on the negated
        # series and reported as-is, marineHeatWaves.py:413-426 touches
        # only the 9 intensity columns).
        metrics = metrics.withColumns(
            {
                c: -F.col(c)
                for c in metrics.columns
                if c.startswith("intensity_") and "_var" not in c
            }
        )
    return metrics
