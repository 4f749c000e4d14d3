"""Severity computation (the reference's EP2, common/core.py:200-236).

One left equi-join of the series to its climatology plus projections:

    ts JOIN clim ON (cell_id, clim_doy(time))
    T_anom   = temp - seas
    severity = T_anom / (thresh - seas [+ 1e-9])

The per-cell array form (what `detect_mhw` runs) is co-partitioned
with the series on cell_id; the row form is broadcast
(:func:`calculate_severity` says why).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mhw3d_detection_spark.functions.calendar import clim_doy
from mhw3d_detection_spark.functions.scalar import severity_best_practice, severity_legacy


def calculate_severity(
    ts: DataFrame,
    clim: DataFrame,
    *,
    cell_col: str = "cell_id",
    time_col: str = "time",
    temp_col: str = "temp",
    mode: str = "legacy",
) -> DataFrame:
    """Left-join the climatology to the series and project anomaly +
    severity. A series row with no clim row keeps NULL seas/thresh.

    Array-form clim (`seas_arr`/`thresh_arr`, one row per cell) is the
    build side of a shuffle-hash join on cell_id. It is not broadcast:
    at 2 x 366 doubles, about 5.9 KB per cell, a million cells would
    collect about 5.9 GB on the driver, and the broadcast's job runs the
    per-cell climatology ahead of everything else on one task. The
    series' cell_id exchange is the one the detection window needs
    anyway, so the climatology runs in the detection stage and that
    stage adds no exchange of its own.

    Row-form clim (366 rows per cell, keyed (cell_id, doy)) is
    broadcast: its key is not the window's, so co-partitioning it would
    add an exchange (the reference ships it into every dask task for
    the same reason, speed_benchmark.ipynb cell 8's graph-size warning).
    """
    if "seas_arr" in clim.columns:
        # seas/thresh are read out by DOY slot. NaN slots (missing DOYs
        # / poisoned windows) map back to NULL so every downstream
        # null-skipping aggregate behaves identically to the row form.
        nn = lambda x: F.when(~F.isnan(x), x)  # noqa: E731
        joined = (
            ts.withColumn("doy", clim_doy(F.col(time_col)))
            .join(clim.hint("shuffle_hash"), on=[cell_col], how="left")
            .withColumns(
                {
                    "seas": nn(F.element_at("seas_arr", F.col("doy"))),
                    "thresh": nn(F.element_at("thresh_arr", F.col("doy"))),
                }
            )
            .drop("seas_arr", "thresh_arr")
        )
    else:
        joined = (
            ts.withColumn("doy", clim_doy(F.col(time_col)))
            .join(F.broadcast(clim), on=[cell_col, "doy"], how="left")
        )
    t_anom = F.col(temp_col) - F.col("seas")
    if mode == "legacy":
        sev = severity_legacy(t_anom, F.col("thresh"), F.col("seas"))
    elif mode == "best_practice":
        sev = severity_best_practice(t_anom, F.col("thresh"), F.col("seas"))
    else:
        raise ValueError(f"unknown severity mode {mode!r}")
    return joined.withColumn("t_anom", t_anom).withColumn("severity", sev)
