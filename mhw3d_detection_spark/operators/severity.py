"""Severity computation (the reference's EP2, common/core.py:200-236).

One broadcast equi-join plus projections — a single narrow stage after
the broadcast exchange:

    ts JOIN clim ON (cell_id, clim_doy(time))
    T_anom   = temp - seas
    severity = T_anom / (thresh - seas [+ 1e-9])
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
    """Join the (tiny) climatology dim table to the (huge) series and
    project anomaly + severity.

    The clim side is 366 rows/cell — always the broadcast side at scale
    (the reference ships it into every dask task for the same reason,
    speed_benchmark.ipynb cell 8's graph-size warning).
    """
    c = F.broadcast(clim)
    if "seas_arr" in clim.columns:
        # Dense-array clim (pooled_climatology(output="arrays")): one row
        # per cell, seas/thresh read out by DOY slot. The broadcast table
        # is cells rows instead of cells*366 and the join key is cell_id
        # alone. NaN slots (missing DOYs / poisoned windows) map back to
        # NULL so every downstream null-skipping aggregate behaves
        # identically to the row-form path.
        nn = lambda x: F.when(~F.isnan(x), x)  # noqa: E731
        joined = (
            ts.withColumn("doy", clim_doy(F.col(time_col)))
            .join(c, on=[cell_col], how="left")
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
            .join(c, on=[cell_col, "doy"], how="left")
        )
    t_anom = F.col(temp_col) - F.col("seas")
    if mode == "legacy":
        sev = severity_legacy(t_anom, F.col("thresh"), F.col("seas"))
    elif mode == "best_practice":
        sev = severity_best_practice(t_anom, F.col("thresh"), F.col("seas"))
    else:
        raise ValueError(f"unknown severity mode {mode!r}")
    return joined.withColumn("t_anom", t_anom).withColumn("severity", sev)
