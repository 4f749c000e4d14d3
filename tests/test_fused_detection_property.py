"""Property-based differentials: the pipeline's one-pass
``fused_detect_metrics`` and the incremental ``merge_detect_partials``
must each equal the independent loop-form NumPy oracle
(``tests/oracle_np.py:mhw_events_np``, the reference's own
label / first-gap-merge / slice-metrics loop) on arbitrary series.

This pins the subtle equivalences the run-partials readout relies on:
- an event's member days == its qualifying runs plus every run between
  two of them (gap days included, leading/trailing runs excluded);
- peak argmax with earliest-day tie-break merges across run partials
  (temps are quantized to force exact rel_seas ties);
- closed-form sqrt(E[x^2]-E[x]^2) over centered partials vs the
  two-pass np.var, at magnitudes where the naive form cancels;
- NULL-temp days inside events (filled with the climatology);
- rate-formula boundary values reassembled from run edges, including
  events touching the series start/end;
- on the merge path, runs and events cut by batch boundaries re-join,
  whatever the split and the batch arrival order;
- the merge does not depend on how a batch centered its moments: runs
  re-expressed about another center, and batches in the per-cell
  first-value centering of older partials stores, merge to the same
  events.
"""

import datetime as dt
import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mhw3d_detection_spark.operators.detection import (
    detect_partials,
    enrich_series,
    exceedance,
    fused_detect_metrics,
    merge_detect_partials,
)
from tests.oracle_np import mhw_events_np

DAY0 = dt.date(2021, 1, 1)

# quantized temps (0.5-degree steps around thresh=12) => frequent exact
# rel_seas ties, exercising the earliest-day tie-break. BASE shifts the
# whole series to TPC-H-price magnitude (the repo's own orders_daily
# series runs at ~1.5e5): at this magnitude the naive
# sqrt(E[x^2]-E[x]^2) merge loses ~6 digits to cancellation, so the
# 1e-9 relative tolerance below only holds with the centered partials.
BASE = 3.0e5
SEAS, THRESH = BASE + 10.0, BASE + 12.0
temp_strategy = st.one_of(
    st.none(),
    st.integers(16, 32).map(lambda k: BASE + k / 2.0),
)
# always-exceeding days, prepended / appended so events often touch the
# series start and end (the rate formulas' edge branches)
hot_strategy = st.lists(
    st.integers(25, 32).map(lambda k: BASE + k / 2.0), max_size=6
)
series_strategy = st.tuples(
    hot_strategy, st.lists(temp_strategy, min_size=5, max_size=45), hot_strategy
).map(lambda t: t[0] + t[1] + t[2])
cells_strategy = st.lists(series_strategy, min_size=1, max_size=2)
detection_kw = st.fixed_dictionaries(
    {"min_duration": st.integers(1, 4), "max_gap": st.integers(0, 3)}
)


def _day(i):
    return DAY0 + dt.timedelta(days=int(i))


def _frame(spark, temps_by_cell):
    rows = [
        (cell, _day(i), t, SEAS, THRESH)
        for cell, temps in enumerate(temps_by_cell)
        for i, t in enumerate(temps)
    ]
    return spark.createDataFrame(
        rows, "cell_id int, time date, temp double, seas double, thresh double"
    )


def _oracle(temps_by_cell, kw):
    """Oracle events of every cell, keyed like the engine's columns:
    day indices become dates, the cell id is added."""
    out = []
    for cell, temps in enumerate(temps_by_cell):
        t = np.array([np.nan if v is None else v for v in temps])
        for e in mhw_events_np(t, np.full(len(t), SEAS), np.full(len(t), THRESH), **kw):
            row = {k: v for k, v in e.items() if k not in ("start", "end", "peak")}
            row.update(
                cell_id=cell,
                date_start=_day(e["start"]),
                date_end=_day(e["end"]),
                date_peak=_day(e["peak"]),
            )
            out.append(row)
    return out


def _assert_matches_oracle(df, temps_by_cell, kw):
    exp = _oracle(temps_by_cell, kw)
    got = sorted(
        (r.asDict() for r in df.collect()),
        key=lambda r: (r["cell_id"], r["event_id"]),
    )
    assert len(got) == len(exp), (got, exp)
    if exp:
        assert set(df.columns) == set(exp[0]), (df.columns, exp[0])
    for g, e in zip(got, exp):
        for c, v in e.items():
            if isinstance(v, float):
                assert g[c] is not None and math.isclose(
                    g[c], v, rel_tol=1e-9, abs_tol=1e-9
                ), (c, g, e)
            else:
                assert g[c] == v, (c, g, e)


@settings(max_examples=10, deadline=None)
@given(temps_by_cell=cells_strategy, kw=detection_kw)
def test_fused_equals_loop_oracle(spark, temps_by_cell, kw):
    df = _frame(spark, temps_by_cell)
    fused = fused_detect_metrics(enrich_series(exceedance(df)), **kw)
    _assert_matches_oracle(fused, temps_by_cell, kw)


@settings(max_examples=10, deadline=None)
@given(
    temps_by_cell=cells_strategy,
    kw=detection_kw,
    cuts=st.lists(st.integers(1, 57), max_size=3, unique=True),
)
def test_merged_partials_equal_loop_oracle(spark, temps_by_cell, kw, cuts):
    df = _frame(spark, temps_by_cell)
    bounds = [0, *sorted(cuts), None]
    batches = []
    for lo, hi in zip(bounds, bounds[1:]):
        in_batch = F.col("time") >= F.lit(_day(lo))
        if hi is not None:
            in_batch &= F.col("time") < F.lit(_day(hi))
        batches.append(detect_partials(df.filter(in_batch)))
    # later batches first: batches may arrive in any order
    parts = batches[-1]
    for b in reversed(batches[:-1]):
        parts = parts.unionByName(b)
    _assert_matches_oracle(merge_detect_partials(parts, **kw), temps_by_cell, kw)


MOMENTS = {"rs": "rel_seas", "rt": "rel_thresh", "ab": "t_abs"}


def _about(parts, centers):
    """The same moment partials expressed about other centers (metric ->
    Column): with d = C - c, sum(x - C) = s - n*d and
    sum((x - C)^2) = q - 2*d*s + n*d^2."""
    cols = {}
    for m, C in centers.items():
        n, s, q, c = (F.col(f"{k}_{m}") for k in "nsqc")
        d = C - c
        cols.update(
            {f"c_{m}": C, f"s_{m}": s - n * d, f"q_{m}": q - 2 * d * s + n * d * d}
        )
    return parts.withColumns(cols)


def _first_value_store(batch):
    """A batch as older partials stores hold it: moments about each
    cell's first non-null value in the batch (s != 0), plus batch-local
    boundary columns — NULL neighbors and the batch's own extent — that
    the merge must not read."""
    firsts = enrich_series(exceedance(batch)).groupBy("cell_id").agg(
        *[
            F.min_by(x, F.when(F.col(x).isNotNull(), F.col("time"))).alias(m)
            for m, x in MOMENTS.items()
        ],
        F.min("time").alias("series_start"),
        F.max("time").alias("series_end"),
    )
    parts = detect_partials(batch).join(
        firsts.withColumnsRenamed({m: f"__f_{m}" for m in MOMENTS}), "cell_id"
    )
    return _about(parts, {m: F.col(f"__f_{m}") for m in MOMENTS}).withColumns(
        {
            "before_rs": F.lit(None).cast("double"),
            "after_rs": F.lit(None).cast("double"),
        }
    ).drop(*(f"__f_{m}" for m in MOMENTS))


@settings(max_examples=10, deadline=None)
@given(
    temps_by_cell=cells_strategy,
    kw=detection_kw,
    cuts=st.lists(st.integers(1, 57), min_size=2, max_size=2, unique=True),
    delta=st.integers(-40, 40).map(lambda k: k / 4.0),
)
def test_merge_is_center_invariant(spark, temps_by_cell, kw, cuts, delta):
    df = _frame(spark, temps_by_cell)
    lo, hi = (F.lit(_day(c)) for c in sorted(cuts))
    t = F.col("time")
    shifted = detect_partials(df.filter((t >= lo) & (t < hi)))
    parts = (
        detect_partials(df.filter(t >= hi))
        .unionByName(
            _about(shifted, {m: F.col(f"c_{m}") + delta for m in MOMENTS})
        )
        .unionByName(_first_value_store(df.filter(t < lo)), allowMissingColumns=True)
    )
    _assert_matches_oracle(merge_detect_partials(parts, **kw), temps_by_cell, kw)
