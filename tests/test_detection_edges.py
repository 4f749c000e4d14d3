"""Run-length edge cases the reference lists as its own missing suite
(reference CLAUDE.md:138,181-184): events at series start/end, gap
exactly maxGap, gap of maxGap+1, all-below cells, chain-transitive
gap merging."""

import datetime as dt
import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mhw3d_detection_spark.operators.detection import (
    detect_events,
    detect_partials,
    enrich_series,
    exceedance,
    fused_detect_metrics,
    merge_detect_partials,
)
from tests.oracle_np import mhw_events_np


def _ts(spark, flags, start="2000-01-01", cell=0):
    times = pd.date_range(start, periods=len(flags), freq="D")
    pdf = pd.DataFrame({"cell_id": cell, "time": times, "exceed": [bool(f) for f in flags]})
    return spark.createDataFrame(pdf)


def _detect(spark, flags, **kw):
    return (
        detect_events(_ts(spark, flags), **kw)
        .orderBy("event_id")
        .select("date_start", "date_end", "duration")
        .collect()
    )


def test_event_at_series_start_and_end(spark):
    flags = [1] * 6 + [0] * 10 + [1] * 7
    evs = _detect(spark, flags)
    assert len(evs) == 2
    assert evs[0]["duration"] == 6
    assert evs[1]["duration"] == 7


def test_min_duration_boundary(spark):
    # 4-day run dropped, 5-day run kept (minDuration=5)
    flags = [1] * 4 + [0] * 10 + [1] * 5
    evs = _detect(spark, flags)
    assert len(evs) == 1 and evs[0]["duration"] == 5


def test_gap_exactly_max_gap_merges(spark):
    # 5 on, 2 off (gap == maxGap == 2), 5 on -> one 12-day event
    flags = [1] * 5 + [0] * 2 + [1] * 5
    evs = _detect(spark, flags)
    assert len(evs) == 1 and evs[0]["duration"] == 12


def test_gap_above_max_gap_stays_split(spark):
    flags = [1] * 5 + [0] * 3 + [1] * 5
    evs = _detect(spark, flags)
    assert len(evs) == 2


def test_chain_transitive_merge(spark):
    # A-B-C each separated by short gaps: all three merge (the
    # reference's iterative loop semantics, marineHeatWaves.py:330-345)
    flags = [1] * 5 + [0] * 2 + [1] * 5 + [0] * 1 + [1] * 6
    evs = _detect(spark, flags)
    assert len(evs) == 1 and evs[0]["duration"] == 19


def test_short_runs_dropped_before_gap_join(spark):
    # a 3-day run between two long runs does NOT bridge them: Oliver
    # filters duration < minDuration *before* joining across gaps, and
    # the 4/3-day gaps around the short run exceed maxGap anyway; with
    # gaps of 2 on each side of a dropped 3-day run, the effective gap
    # is 2+3+2=7 > maxGap -> stays split.
    flags = [1] * 5 + [0] * 2 + [1] * 3 + [0] * 2 + [1] * 5
    evs = _detect(spark, flags)
    assert len(evs) == 2


def test_no_events_when_never_exceeding(spark):
    assert _detect(spark, [0] * 30) == []


def test_join_across_gaps_off(spark):
    flags = [1] * 5 + [0] * 1 + [1] * 5
    evs = _detect(spark, flags, join_across_gaps=False)
    assert len(evs) == 2


def test_null_flags_break_events(spark):
    times = pd.date_range("2000-01-01", periods=12, freq="D")
    flags = [True] * 5 + [None, None] + [True] * 5
    pdf = pd.DataFrame({"cell_id": 0, "time": times, "exceed": flags})
    df = spark.createDataFrame(pdf).withColumn(
        "exceed", F.col("exceed").cast("boolean")
    )
    evs = detect_events(df).collect()
    # NULL -> false, a 2-day non-exceed gap -> merged by maxGap=2
    assert len(evs) == 1 and evs[0]["duration"] == 12


# --- event membership on the fused and incremental paths ------------
#
# The production tail assembles events in one ordered pass over each
# cell's runs: qualifying runs (exceeding, >= min_duration days) open or
# extend events, and a non-qualifying run (cool days, or a too-short
# exceedance) is a member only when it sits between two qualifying runs
# of the same event. Each case below pins one edge of that rule against
# the NumPy loop oracle, on the whole-series fused path AND on the
# incremental merge with its batch split placed inside a gap.

DAY0 = dt.date(2001, 3, 1)
SEAS, THRESH = 10.0, 12.0


def _temps(pattern):
    """``pattern`` is a list of (exceeds, n_days) segments; exceeding
    days vary across all four category bands, cool days stay below the
    threshold but vary too, so every metric sees distinct values."""
    rng = np.random.default_rng(len(pattern) * 101 + sum(n for _, n in pattern))
    out = []
    for hot, n in pattern:
        lo, hi = (12.25, 19.0) if hot else (8.0, 11.75)
        out += list(np.round(rng.uniform(lo, hi, n) * 4) / 4)
    return np.array(out)


def _day(i):
    return DAY0 + dt.timedelta(days=int(i))


def _assert_matches_oracle(df, temps, kw):
    exp = mhw_events_np(
        temps, np.full(len(temps), SEAS), np.full(len(temps), THRESH), **kw
    )
    got = [r.asDict() for r in df.orderBy("event_id").collect()]
    assert len(got) == len(exp), (got, exp)
    for g, e in zip(got, exp):
        assert g["cell_id"] == 0
        assert (g["date_start"], g["date_end"], g["date_peak"]) == (
            _day(e["start"]),
            _day(e["end"]),
            _day(e["peak"]),
        ), (g, e)
        for c, v in e.items():
            if c in ("start", "end", "peak"):
                continue
            if isinstance(v, (float, np.floating)):
                assert math.isclose(g[c], v, rel_tol=1e-9, abs_tol=1e-9), (c, g, e)
            else:
                assert g[c] == v, (c, g, e)


# (pattern, detection kwargs, day index of the batch split — inside a gap)
MEMBERSHIP_CASES = {
    # a 1-day exceedance inside a 3-day gap <= max_gap: both cool days
    # and the short run are members of the joined event
    "short_run_inside_joined_gap": (
        [(1, 6), (0, 1), (1, 1), (0, 1), (1, 6)],
        dict(min_duration=5, max_gap=3),
        7,
    ),
    "gap_exactly_max_gap": (
        [(1, 5), (0, 2), (1, 5)],
        dict(min_duration=5, max_gap=2),
        6,
    ),
    "gap_max_gap_plus_one": (
        [(1, 5), (0, 3), (1, 5)],
        dict(min_duration=5, max_gap=2),
        6,
    ),
    # short runs within max_gap of the first / last qualifying run still
    # belong to no event (they are dropped before gap joining)
    "short_runs_outside_first_and_last": (
        [(0, 2), (1, 2), (0, 1), (1, 6), (0, 2), (1, 5), (0, 1), (1, 3), (0, 2)],
        dict(min_duration=5, max_gap=2),
        12,
    ),
    "max_gap_zero": (
        [(1, 5), (0, 1), (1, 6), (0, 1), (1, 2), (0, 1), (1, 5)],
        dict(min_duration=5, max_gap=0),
        5,
    ),
    "join_across_gaps_off": (
        [(1, 5), (0, 1), (1, 1), (0, 1), (1, 5)],
        dict(min_duration=5, max_gap=3, join_across_gaps=False),
        6,
    ),
    # events touching the series start and end take the edge branches
    # of the onset/decline rates
    "events_touch_series_start_and_end": (
        [(1, 6), (0, 4), (1, 7)],
        dict(min_duration=5, max_gap=2),
        8,
    ),
}


def _check_both_paths(spark, temps, kw, split):
    df = spark.createDataFrame(
        [(0, _day(i), float(t), SEAS, THRESH) for i, t in enumerate(temps)],
        "cell_id int, time date, temp double, seas double, thresh double",
    )
    _assert_matches_oracle(
        fused_detect_metrics(enrich_series(exceedance(df)), **kw), temps, kw
    )
    cut = F.lit(_day(split))
    # later batch first: batches may arrive in any order
    parts = detect_partials(df.filter(F.col("time") >= cut)).unionByName(
        detect_partials(df.filter(F.col("time") < cut))
    )
    _assert_matches_oracle(merge_detect_partials(parts, **kw), temps, kw)


@pytest.mark.parametrize("case", sorted(MEMBERSHIP_CASES))
def test_event_membership_fused_and_incremental(spark, case):
    pattern, kw, split = MEMBERSHIP_CASES[case]
    _check_both_paths(spark, _temps(pattern), kw, split)


@pytest.mark.parametrize("first,last", [(0, -1), (-1, 0)])
def test_rate_edges_peak_on_series_boundary(spark, first, last):
    # events at both series ends, with the peak on the series' first /
    # last day (the rate formulas' zero branches) or elsewhere in the
    # event (their divide-by-days branches)
    up = [13.0, 14.0, 15.0, 16.0, 17.0, 18.0]
    head = up[::-1] if first == 0 else up[1:] + up[:1]
    tail = up if last == 0 else up[-1:] + up[:-1]
    temps = np.array(head + [9.0, 9.5, 10.0, 9.0] + tail)
    _check_both_paths(spark, temps, dict(min_duration=5, max_gap=2), len(head) + 2)


# --- alternate climatology source (detect_mhw(clim_ts=...)) ----------
#
# The clim arrays are built from clim_ts and left-joined to the scored
# series on cell_id. A cell that clim_ts does not cover keeps its rows
# with NULL seas/thresh, so it never exceeds and yields no events.


def _seasonal_cells(cells, start, end, seed, heat=()):
    """Seasonal cycle + seeded noise per cell; ``heat`` holds
    (day index, days, +degrees) warm spells added to every cell."""
    times = pd.date_range(start, end, freq="D")
    ords = np.array([t.toordinal() for t in times.date])
    rng = np.random.default_rng(seed)
    frames = []
    for c in cells:
        temp = 15.0 + c + 4.0 * np.cos(2 * np.pi * (ords - 150) / 365.25)
        temp += 0.6 * rng.standard_normal(len(ords))
        for i, n, d in heat:
            temp[i + 7 * c : i + 7 * c + n] += d
        frames.append(pd.DataFrame({"cell_id": c, "time": times.date, "temp": temp}))
    return pd.concat(frames, ignore_index=True)


@pytest.mark.parametrize("pool_mode", ["grid", "series"])
def test_alternate_clim_source_left_join(spark, pool_mode):
    from mhw3d_detection_spark.operators.climatology import pooled_climatology
    from mhw3d_detection_spark.operators.severity import calculate_severity
    from mhw3d_detection_spark.plans import detect_mhw
    from tests.oracle_np import (
        clim_doy_np,
        grid_clim_threshold_np,
        pooled_clim_threshold_np,
    )

    oracle_clim = {
        "grid": grid_clim_threshold_np,
        "series": pooled_clim_threshold_np,
    }[pool_mode]
    # clim from 1990-1995 for cells 0 and 1 only; 1996-1999 scored on
    # cells 0, 1 and 2
    ref = _seasonal_cells([0, 1], "1990-01-01", "1995-12-31", seed=7)
    obs = _seasonal_cells(
        [0, 1, 2], "1996-01-01", "1999-12-31", seed=8,
        heat=[(30, 12, 3.0), (400, 20, 2.5), (1000, 9, 4.0), (1440, 15, 3.0)],
    )
    ts, clim_ts = spark.createDataFrame(obs), spark.createDataFrame(ref)

    got = detect_mhw(ts, clim_ts=clim_ts, pool_mode=pool_mode).toPandas()
    assert set(got["cell_id"]) == {0, 1}
    for c in (0, 1):
        r = ref[ref["cell_id"] == c]
        o = obs[obs["cell_id"] == c]
        seas, thresh = oracle_clim(pd.DatetimeIndex(r["time"]), r["temp"].values)
        slot = clim_doy_np(pd.DatetimeIndex(o["time"])) - 1
        exp = mhw_events_np(
            o["temp"].values, seas[slot], thresh[slot], min_duration=5, max_gap=2
        )
        assert len(exp) >= 4, exp
        g = got[got["cell_id"] == c].sort_values("event_id")
        assert len(g) == len(exp), (g, exp)
        day = list(o["time"])
        for row, e in zip(g.to_dict("records"), exp):
            assert row["event_id"] == e["event_id"]
            assert (row["date_start"], row["date_end"], row["date_peak"]) == (
                day[e["start"]],
                day[e["end"]],
                day[e["peak"]],
            ), (row, e)
            for k, v in e.items():
                if k in ("event_id", "start", "end", "peak"):
                    continue
                if isinstance(v, (float, np.floating)):
                    assert math.isclose(row[k], v, rel_tol=1e-8, abs_tol=1e-8), (k, row, e)
                else:
                    assert row[k] == v, (k, row, e)

    # the uncovered cell keeps every row, with NULL clim
    clim = pooled_climatology(clim_ts, pool_mode=pool_mode, output="arrays")
    sev = calculate_severity(ts, clim).filter(F.col("cell_id") == 2)
    uncovered = sev.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count("seas").alias("seas"),
        F.count("thresh").alias("thresh"),
        F.count("severity").alias("severity"),
    ).first()
    assert uncovered.asDict() == {
        "rows": int((obs["cell_id"] == 2).sum()),
        "seas": 0,
        "thresh": 0,
        "severity": 0,
    }
