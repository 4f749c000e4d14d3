"""Independent single-cell NumPy oracle for the pooled climatology /
threshold convention (semantics per tests/data/legacy/marineHeatWaves.py:
index-position pooling :266-281, Feb-29 interp :282-284, 3-fold periodic
running mean :858-885). Written fresh for differential testing — the
engine must agree at 1e-10 on the leap-only fixture (reference contract:
tests/test_threshold.py:84,91). :func:`mhw_events_np` is the matching
loop-form oracle for event detection + per-event metrics."""

from __future__ import annotations

import numpy as np


def clim_doy_np(times) -> np.ndarray:
    """Leap-normalized DOY (Mar 1 always 61, Dec 31 always 366)."""
    years = times.year.values
    doy = times.dayofyear.values
    leap = (years % 4 == 0) & ((years % 100 != 0) | (years % 400 == 0))
    return doy + ((~leap) & (doy >= 60)).astype(int)


def runavg_circular(x: np.ndarray, w: int) -> np.ndarray:
    """Centered width-w running mean with 3-fold periodic wrap."""
    n = len(x)
    tiled = np.concatenate([x, x, x])
    kern = np.ones(w) / w
    sm = np.convolve(tiled, kern, mode="same")
    return sm[n : 2 * n]


def grid_clim_threshold_np(
    times,
    temp: np.ndarray,
    *,
    pctile: float = 90.0,
    window_half_width: int = 5,
    smooth_width: int | None = 31,
    baseline: tuple[int, int] | None = None,
):
    """(year, doy)-GRID pooling oracle, written to the reference's own
    pivot/cross-year-pad design (legacy/climatology.py:24-58,61-119):
    baseline samples pivot to a (year, 366) grid; each row gets left/
    right pads copied from the ADJACENT GRID ROW's last/first W columns
    (NaN where no adjacent row exists); bucket t pools columns t-W..t+W
    of every padded row. Independent of the engine's slice+wrap
    formulation — a conceptual error there cannot hide here."""
    W = window_half_width
    doy = clim_doy_np(times)
    years = times.year.values
    in_base = (
        (years >= baseline[0]) & (years <= baseline[1])
        if baseline is not None
        else np.ones(len(temp), dtype=bool)
    )
    ys = np.unique(years[in_base])
    yidx = {y: i for i, y in enumerate(ys)}
    grid = np.full((len(ys), 366), np.nan)
    for t, d, y, b in zip(temp, doy, years, in_base):
        if b:
            grid[yidx[y], d - 1] = t
    padded = np.full((len(ys), 366 + 2 * W), np.nan)
    padded[:, W : W + 366] = grid
    padded[1:, :W] = grid[:-1, -W:]  # left pad from previous grid row
    padded[:-1, W + 366 :] = grid[1:, :W]  # right pad from next grid row
    seas = np.full(366, np.nan)
    thresh = np.full(366, np.nan)
    for d in range(1, 367):
        if d == 60:
            continue
        pool = padded[:, d - 1 : d - 1 + 2 * W + 1].ravel()
        pool = pool[~np.isnan(pool)]
        if len(pool):
            seas[d - 1] = pool.mean()
            thresh[d - 1] = np.percentile(pool, pctile)
    seas[59] = 0.5 * seas[58] + 0.5 * seas[60]
    thresh[59] = 0.5 * thresh[58] + 0.5 * thresh[60]
    if smooth_width:
        seas = runavg_circular(seas, smooth_width)
        thresh = runavg_circular(thresh, smooth_width)
    return seas, thresh


def pooled_clim_threshold_np(
    times,
    temp: np.ndarray,
    *,
    pctile: float = 90.0,
    window_half_width: int = 5,
    smooth_width: int | None = 31,
    baseline: tuple[int, int] | None = None,
):
    """Return (seas[366], thresh[366]) per the legacy convention."""
    doy = clim_doy_np(times)
    years = times.year.values
    T = len(temp)
    in_base = (
        (years >= baseline[0]) & (years <= baseline[1])
        if baseline is not None
        else np.ones(T, dtype=bool)
    )
    offs = np.arange(-window_half_width, window_half_width + 1)
    seas = np.full(366, np.nan)
    thresh = np.full(366, np.nan)
    for d in range(1, 367):
        if d == 60:
            continue
        pos = np.where(in_base & (doy == d))[0]
        if len(pos) == 0:
            continue
        pool = (pos[:, None] + offs[None, :]).ravel()
        pool = pool[(pool >= 0) & (pool < T)]
        vals = temp[pool]
        seas[d - 1] = np.nanmean(vals)
        thresh[d - 1] = np.nanpercentile(vals, pctile)
    seas[59] = 0.5 * seas[58] + 0.5 * seas[60]
    thresh[59] = 0.5 * thresh[58] + 0.5 * thresh[60]
    if smooth_width:
        seas = runavg_circular(seas, smooth_width)
        thresh = runavg_circular(thresh, smooth_width)
    return seas, thresh


CATEGORY_NAMES = ("Moderate", "Strong", "Severe", "Extreme")


def mhw_events_np(
    temp: np.ndarray,
    seas: np.ndarray,
    thresh: np.ndarray,
    *,
    min_duration: int = 5,
    max_gap: int = 2,
    join_across_gaps: bool = True,
) -> list[dict]:
    """Single-cell event detection + per-event metrics written to the
    reference's own loop form (marineHeatWaves.py:303-411): label
    exceedance runs, drop runs shorter than ``min_duration``, then merge
    the FIRST gap of at most ``max_gap`` days and repeat until none is
    left; every metric is taken over the event's full day slice
    ``start..end`` (joined gap days included). NaN temps are filled with
    the climatology first, so they end events. Events come back in time
    order as dicts keyed like the engine's columns, with day INDICES
    (``start``/``end``/``peak``) in place of dates."""
    temp = np.where(np.isnan(temp), seas, temp)
    exceed = temp > thresh
    T = len(temp)
    runs, i = [], 0
    while i < T:
        if exceed[i]:
            j = i
            while j + 1 < T and exceed[j + 1]:
                j += 1
            if j - i + 1 >= min_duration:
                runs.append([i, j])
            i = j + 1
        else:
            i += 1
    if join_across_gaps:
        while True:
            gaps = [runs[k + 1][0] - runs[k][1] - 1 for k in range(len(runs) - 1)]
            short = [k for k, g in enumerate(gaps) if g <= max_gap]
            if not short:
                break
            k = short[0]
            runs[k][1] = runs[k + 1][1]
            del runs[k + 1]

    rel_seas = temp - seas
    rel_thresh = temp - thresh
    rel_norm = (temp - thresh) / (thresh - seas)
    out = []
    for n, (s, e) in enumerate(runs, start=1):
        rs, rt, ab = rel_seas[s : e + 1], rel_thresh[s : e + 1], temp[s : e + 1]
        band = np.floor(1.0 + rel_norm[s : e + 1])
        dur = e - s + 1
        tp = int(np.argmax(rs))  # first occurrence = earliest-day tie-break
        imax = rs[tp]
        if s > 0:
            onset = (imax - 0.5 * (rs[0] + rel_seas[s - 1])) / (tp + 0.5)
        else:
            onset = 0.0 if tp == 0 else (imax - rs[0]) / tp
        if e < T - 1:
            decline = (imax - 0.5 * (rs[-1] + rel_seas[e + 1])) / (dur - 1 - tp + 0.5)
        else:
            decline = 0.0 if tp == dur - 1 else (imax - rs[-1]) / (dur - 1 - tp)
        cat = int(min(band[int(np.argmax(rel_norm[s : e + 1]))], 4))
        out.append(
            {
                "event_id": n,
                "start": s,
                "end": e,
                "peak": s + tp,
                "duration": dur,
                "intensity_max": imax,
                "intensity_mean": rs.mean(),
                "intensity_var": np.sqrt(rs.var()),
                "intensity_cumulative": rs.sum(),
                "intensity_max_relThresh": rt[tp],
                "intensity_mean_relThresh": rt.mean(),
                "intensity_var_relThresh": np.sqrt(rt.var()),
                "intensity_cumulative_relThresh": rt.sum(),
                "intensity_max_abs": ab[tp],
                "intensity_mean_abs": ab.mean(),
                "intensity_var_abs": np.sqrt(ab.var()),
                "intensity_cumulative_abs": ab.sum(),
                "category": CATEGORY_NAMES[cat - 1],
                "duration_moderate": int((band == 1).sum()),
                "duration_strong": int((band == 2).sum()),
                "duration_severe": int((band == 3).sum()),
                "duration_extreme": int((band >= 4).sum()),
                "rate_onset": onset,
                "rate_decline": decline,
            }
        )
    return out
