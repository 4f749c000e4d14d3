"""Differential tests of the climatology/threshold block against the
independent NumPy oracle (mirrors the reference's exactness contract on
leap-only data, tests/test_threshold.py:84,91 at atol=1e-10)."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from mhw3d_detection_spark.operators.climatology import pooled_climatology
from tests.fixtures_mhw import leap_only_series, oliver_synthetic
from tests.oracle_np import grid_clim_threshold_np, pooled_clim_threshold_np


def _spark_clim(spark, pdf, **kw):
    ts = spark.createDataFrame(pdf)
    clim = pooled_climatology(ts, **kw).orderBy("doy").toPandas()
    assert list(clim["doy"]) == list(range(1, 367))
    return clim


def test_leap_only_exact(spark):
    pdf = leap_only_series()
    clim = _spark_clim(spark, pdf, baseline=(1984, 2012))
    seas, thresh = pooled_clim_threshold_np(
        pd.DatetimeIndex(pdf["time"]), pdf["temp"].values, baseline=(1984, 2012)
    )
    np.testing.assert_allclose(clim["seas"].values, seas, atol=1e-10)
    np.testing.assert_allclose(clim["thresh"].values, thresh, atol=1e-10)


def test_grid_mode_leap_only_exact(spark):
    # pool_mode="grid" ((year,doy)-grid arithmetic, the windowless scale
    # path) coincides with the series-position convention exactly on
    # leap-only data — the same domain where the reference's two
    # implementations agree at 1e-14 (CLAUDE.md:221-224): every year has
    # a full 366-column row, so grid-row adjacency == series adjacency.
    pdf = leap_only_series()
    clim = _spark_clim(spark, pdf, baseline=(1984, 2012), pool_mode="grid")
    seas, thresh = pooled_clim_threshold_np(
        pd.DatetimeIndex(pdf["time"]), pdf["temp"].values, baseline=(1984, 2012)
    )
    np.testing.assert_allclose(clim["seas"].values, seas, atol=1e-10)
    np.testing.assert_allclose(clim["thresh"].values, thresh, atol=1e-10)


def test_full_mixed_year_exact_vs_np(spark):
    # Same index-pooling convention on mixed leap/non-leap years: the
    # Spark engine and the NumPy oracle implement the identical
    # convention, so agreement here is exact (not the 0.01-degree
    # cross-convention residual of CLAUDE.md:221-224).
    pdf = oliver_synthetic()
    clim = _spark_clim(spark, pdf)
    seas, thresh = pooled_clim_threshold_np(
        pd.DatetimeIndex(pdf["time"]), pdf["temp"].values
    )
    np.testing.assert_allclose(clim["seas"].values, seas, atol=1e-9)
    np.testing.assert_allclose(clim["thresh"].values, thresh, atol=1e-9)


def test_grid_mode_mixed_years_vs_pad_oracle(spark):
    # grid mode on MIXED leap/non-leap years vs an independent NumPy
    # oracle built the reference's own way (pivot + cross-year pads,
    # legacy/climatology.py:24-58) — the engine's day-group slice +
    # year-gated wrap formulation and the pad formulation must agree
    # exactly. This is
    # the check the DuckDB oracle can't provide (it shares the
    # engine's formulation).
    pdf = oliver_synthetic()
    clim = _spark_clim(spark, pdf, baseline=(1983, 2012), pool_mode="grid")
    seas, thresh = grid_clim_threshold_np(
        pd.DatetimeIndex(pdf["time"]), pdf["temp"].values, baseline=(1983, 2012)
    )
    np.testing.assert_allclose(clim["seas"].values, seas, atol=1e-9)
    np.testing.assert_allclose(clim["thresh"].values, thresh, atol=1e-9)


def test_presummed_fold_rq_boundary(spark):
    # ADVICE r8 (operators/climatology.py fast path): the grid mode's
    # non-wrap seas sums PRESUMMED day-group subtotals, while the wrap
    # branch, the DuckDB oracles, and this NumPy oracle each fold
    # individual samples in their own association order — the folds
    # differ by ulps. The exactness contract is NOT raw-double equality
    # but that rq()'s dyadic eps nudge (2^-13 at d=2) dwarfs that
    # noise, so all folds round identically EVEN when seas lands
    # exactly on a decimal .xx5 rounding boundary. Engineer that worst
    # case: samples alternate 20.00/20.01 (non-dyadic decimals), so
    # every pooled mean is 20.005 +/- association noise — the exact
    # boundary of rq(seas, 2) used by every clim query.
    from mhw3d_detection_spark.queries.base import _rq_eps

    times = pd.date_range("1984-01-01", "1987-12-31", freq="D")
    vals = np.where(np.arange(len(times)) % 2 == 0, 20.00, 20.01)
    pdf = pd.DataFrame(
        {"cell_id": 0, "time": times.date, "temp": vals.astype(float)}
    )
    clim = _spark_clim(spark, pdf, pool_mode="grid", smooth_width=None)
    seas_np, _ = grid_clim_threshold_np(
        pd.DatetimeIndex(times), vals.astype(float), smooth_width=None
    )
    # raw doubles: ulp-scale association noise only (the advisor's
    # scenario), never anywhere near the 2^-13 nudge
    np.testing.assert_allclose(clim["seas"].values, seas_np, atol=1e-10)

    def rq2(x):
        return np.floor(x * 100.0 + 0.5 + _rq_eps(2)) / 100.0

    fast = rq2(clim["seas"].values.astype(float))
    slow = rq2(seas_np)
    ok = ~np.isnan(seas_np)
    assert ok.sum() > 300
    # the cross-fold contract: identical rounding on every slot
    np.testing.assert_array_equal(fast[ok], slow[ok])
    # ... and the boundary case really occurred: some pooled means sit
    # exactly at 20.005 and both folds round them UP (nudge absorbs the
    # +/- ulp straddle); unbalanced pools land on either side — fine.
    at_boundary = np.abs(seas_np[ok] - 20.005) < 1e-9
    assert at_boundary.any()
    assert (fast[ok][at_boundary] == 20.01).all()


def test_grid_mode_wraps_gate_on_present_years(spark):
    # The wrap gate must follow the PRESENT-year grid rows, not the
    # baseline range (reference pads copy the adjacent unstacked ROW,
    # NaN at the grid edges — _build_cross_year_pad:24-58). Two traps:
    # the baseline range extends beyond the data on both sides (range
    # gating would wrongly wrap the first/last data years), and an
    # interior year is entirely absent (its neighbors become adjacent
    # rows — their wraps must survive).
    pdf = oliver_synthetic()
    pdf = pdf[pd.DatetimeIndex(pdf["time"]).year != 1990]
    clim = _spark_clim(spark, pdf, baseline=(1980, 2015), pool_mode="grid")
    seas, thresh = grid_clim_threshold_np(
        pd.DatetimeIndex(pdf["time"]), pdf["temp"].values, baseline=(1980, 2015)
    )
    np.testing.assert_allclose(clim["seas"].values, seas, atol=1e-9)
    np.testing.assert_allclose(clim["thresh"].values, thresh, atol=1e-9)


def test_grid_mode_no_baseline_edges_unwrapped(spark):
    # baseline=None: the first/last data years are still grid edges
    # (old behavior wrapped them unconditionally)
    pdf = oliver_synthetic()
    clim = _spark_clim(spark, pdf, pool_mode="grid")
    seas, thresh = grid_clim_threshold_np(
        pd.DatetimeIndex(pdf["time"]), pdf["temp"].values, baseline=None
    )
    np.testing.assert_allclose(clim["seas"].values, seas, atol=1e-9)
    np.testing.assert_allclose(clim["thresh"].values, thresh, atol=1e-9)


import pytest


@pytest.mark.parametrize(
    "keep",
    [
        # 360-day-ish tail cut + mid-year hole (the M3 shape)
        lambda d: (d <= 350) & ~((d >= 100) & (d <= 120)),
        # dense: every doy present (valid must equal full-mode wrap)
        lambda d: d > 0,
        # extreme sparsity: one 11-day season -> valid sequence shorter
        # than the 31-wide smoother (edge-truncated windows)
        lambda d: (d >= 50) & (d <= 60),
    ],
)
def test_arrays_valid_mode_matches_row_path(spark, keep):
    # clim_arrays(smooth_mode="valid") must reproduce the row-form
    # reference (densify -> feb29 -> smooth_doy_circular mode="valid")
    # slot for slot on SPARSE DOY data — including NaN poisoning, the
    # compressed-circular wrap, and edge-truncated windows when the
    # valid sequence is shorter than the smoothing width. Both start
    # from the same raw pooled buckets.
    from pyspark.sql import functions as F

    from mhw3d_detection_spark.operators.climatology import (
        _denanify,
        clim_arrays,
        densify_doy,
        interp_feb29,
        smooth_doy_circular,
    )

    pdf = oliver_synthetic()
    doy_np = pd.DatetimeIndex(pdf["time"]).dayofyear
    pdf = pdf[keep(doy_np)]

    raw = pooled_climatology(
        spark.createDataFrame(pdf),
        baseline=(1983, 2012),
        pool_mode="grid",
        smooth_width=None,
        feb29_interp=False,
        densify=False,
    )
    rows = (
        smooth_doy_circular(interp_feb29(densify_doy(raw)), mode="valid")
        .orderBy("doy")
        .toPandas()
    )
    arr = clim_arrays(raw, smooth_mode="valid")
    doys = spark.range(1, 367).select(F.col("id").cast("int").alias("doy"))
    readout = (
        arr.crossJoin(doys)
        .select(
            "cell_id",
            "doy",
            _denanify(F.element_at("seas_arr", F.col("doy"))).alias("seas"),
            _denanify(F.element_at("thresh_arr", F.col("doy"))).alias("thresh"),
        )
        .orderBy("doy")
        .toPandas()
    )
    # the row path emits only PRESENT doys; the arrays form covers the
    # dense axis with NaN->NULL at absent slots (what the severity left
    # join sees either way)
    assert len(readout) == 366 and len(rows) <= 366
    merged = readout.merge(rows, on=["cell_id", "doy"], how="left",
                           suffixes=("_arr", "_row"))
    present = merged["seas_row"].notna() | merged["thresh_row"].notna()
    assert present.sum() == len(rows)
    for c in ("seas", "thresh"):
        np.testing.assert_allclose(
            merged.loc[present, f"{c}_arr"].values.astype(float),
            merged.loc[present, f"{c}_row"].values.astype(float),
            atol=1e-12,
            equal_nan=True,
        )
        # absent slots must read back NULL
        assert merged.loc[~present, f"{c}_arr"].isna().all()


def test_strict_nan_semantics(spark):
    # F5: a NULL (measured-but-missing) sample nullifies every DOY bucket
    # whose pool touches it under strict_nan; absent rows do not.
    pdf = oliver_synthetic()
    pdf.loc[2000:2020, "temp"] = np.nan  # inclusive slice: 21 nulls
    pdf = pdf.drop(pdf.index[3000:3011])  # absent rows
    ts = spark.createDataFrame(pdf)

    strict = (
        pooled_climatology(ts, strict_nan=True, smooth_width=None, feb29_interp=False)
        .orderBy("doy")
        .toPandas()
    )
    lax = (
        pooled_climatology(ts, strict_nan=False, smooth_width=None, feb29_interp=False)
        .orderBy("doy")
        .toPandas()
    )
    # The nulled block spans ~21 days -> >= that many poisoned DOYs
    n_null_strict = strict["thresh"].isna().sum()
    assert n_null_strict >= 21
    # lax mode skips NaNs: only doy 60 (feb29, no interp) may be null
    assert lax["thresh"].isna().sum() <= 1


def test_clim_partials_merge_invariance(spark):
    """Merging partial states over ANY batch split must equal the
    direct single-pass computation (count/sum/min/max are commutative
    monoids), including strict-NULL propagation and all-NULL groups."""
    import datetime as dt

    from pyspark.sql import functions as F

    from mhw3d_detection_spark.operators.climatology import (
        clim_partials,
        finalize_clim_partials,
        merge_clim_partials,
    )

    d0 = dt.date(1999, 1, 1)
    rows = []
    for i in range(400):
        for cell in (0, 1):
            t = None if (i % 7 == 3 and cell == 0) else float(10 + (i * 13 + cell) % 50)
            rows.append((cell, d0 + dt.timedelta(days=i), t))
    ts = spark.createDataFrame(rows, "cell_id int, time date, temp double")

    direct = finalize_clim_partials(clim_partials(ts))
    # three-way split on an arbitrary non-temporal key (day mod 3)
    parts = [
        clim_partials(ts.filter(F.dayofmonth("time") % 3 == k)) for k in range(3)
    ]
    merged = finalize_clim_partials(merge_clim_partials(*parts))

    a = {(r["cell_id"], r["doy"]): r for r in direct.collect()}
    b = {(r["cell_id"], r["doy"]): r for r in merged.collect()}
    assert a.keys() == b.keys()
    strict_nulls = 0
    for k in a:
        ra, rb = a[k], b[k]
        assert ra["n_samples"] == rb["n_samples"], k
        for c in ("seas", "seas_strict", "temp_min", "temp_max"):
            va, vb = ra[c], rb[c]
            if va is None or vb is None:
                assert va == vb, (k, c)
            else:
                assert abs(va - vb) < 1e-9, (k, c)
        if ra["seas_strict"] is None and ra["seas"] is not None:
            strict_nulls += 1
    assert strict_nulls > 0  # the strict rule actually fired somewhere


def test_grid_raw_rows_keep_all_null_pools(spark):
    # densify=False grid rows are the buckets that RECEIVED samples,
    # whatever their values: a bucket pooling only NULL temps is a
    # (NULL, NULL) row, through the non-wrap window and through a
    # year-gated cross-year wrap alike. Non-leap years, so a clim DOY
    # is the calendar day-of-year + 1 from Mar 1 on.
    import datetime as dt

    rows = []
    for y, v in ((2001, 10.0), (2002, 11.0), (2003, 12.0)):
        rows.append((0, dt.date(y, 5, 29), v))  # clim DOY 150
        rows.append((0, dt.date(y, 9, 6), None))  # clim DOY 250
    rows.append((0, dt.date(2002, 1, 2), None))  # wraps: 2002 > first year
    rows.append((0, dt.date(2001, 1, 3), None))  # gated: the first year
    ts = spark.createDataFrame(rows, "cell_id int, time date, temp double")

    got = {
        r["doy"]: (r["seas"], r["thresh"])
        for r in pooled_climatology(
            ts,
            pool_mode="grid",
            smooth_width=None,
            feb29_interp=False,
            densify=False,
        ).collect()
    }
    valued = set(range(145, 156))
    null_pools = set(range(245, 256)) | set(range(1, 9)) | set(range(363, 367))
    assert set(got) == valued | null_pools
    for d in valued:
        assert got[d][0] == pytest.approx(11.0)
        assert got[d][1] == pytest.approx(11.8)  # linear 90th of 10, 11, 12
    assert all(got[d] == (None, None) for d in null_pools)


def test_valid_rows_keep_present_doys_with_nan_smooths(spark):
    # output="rows" in valid mode emits every PRESENT DOY (the map's
    # entries), including one whose smoothed seas AND thresh are NaN:
    # it is a (NULL, NULL) row, exactly like the row-form reference
    # (densify -> feb29 -> smooth_doy_circular mode="valid").
    # Two baseline years, so every non-wrap pool holds 22 samples. A
    # NaN temp on DOY 170 makes seas NaN for buckets 165-175 while
    # thresh stays finite (NaN sorts last, above the 90th percentile);
    # four +inf temps on DOYs 200-203 make thresh NaN (inf - inf) for
    # buckets 198-205 while seas is +inf. DOYs 300-330 are absent.
    import datetime as dt

    from mhw3d_detection_spark.functions.calendar import clim_doy
    from mhw3d_detection_spark.operators.climatology import (
        densify_doy,
        interp_feb29,
        smooth_doy_circular,
    )

    rows = []
    for y in (2001, 2002):
        day = dt.date(y, 1, 1)
        while day.year == y:
            k = day.timetuple().tm_yday
            rows.append((0, day, 20.0 + (k * 7 % 13) / 10.0))
            day += dt.timedelta(days=1)
    ts = spark.createDataFrame(rows, "cell_id int, time date, temp double")
    d = clim_doy(F.col("time"))
    odd = (
        F.when((F.year("time") == 2001) & (d == 170), float("nan"))
        .when((F.year("time") == 2001) & d.between(200, 203), float("inf"))
        .otherwise(F.col("temp"))
    )
    ts = ts.withColumn("temp", odd).filter(~d.between(300, 330))

    got = (
        pooled_climatology(ts, pool_mode="grid", smooth_mode="valid")
        .orderBy("doy")
        .toPandas()
    )
    raw = pooled_climatology(
        ts, pool_mode="grid", smooth_width=None, feb29_interp=False,
        densify=False,
    )
    ref = (
        smooth_doy_circular(interp_feb29(densify_doy(raw)), mode="valid")
        .orderBy("doy")
        .toPandas()
    )
    assert list(got["doy"]) == list(ref["doy"])
    assert len(got) == 366 - 21  # buckets 305-325 pool no sample
    both_null = got["seas"].isna() & got["thresh"].isna()
    assert both_null.any()
    for c in ("seas", "thresh"):
        np.testing.assert_allclose(
            got[c].values.astype(float),
            ref[c].values.astype(float),
            rtol=1e-12,
            equal_nan=True,
        )


@pytest.mark.parametrize(
    "kw",
    [
        dict(pool_mode="grid", strict_nan=True),
        dict(densify=False, smooth_width=None),  # Feb-29 interp is on
        dict(densify=False, feb29_interp=False),  # smoothing is on
        dict(
            densify=False, feb29_interp=False, smooth_width=None,
            output="arrays",
        ),
    ],
)
def test_unsupported_combinations_raise(spark, kw):
    ts = spark.createDataFrame(
        leap_only_series().head(10)
    )
    with pytest.raises(ValueError):
        pooled_climatology(ts, **kw)
