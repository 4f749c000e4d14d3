"""Property-based differential: the pipeline's one-pass
``fused_detect_metrics`` must equal the component composition
``detect_events`` + ``event_metrics`` (each independently DuckDB- and
NumPy-oracle-checked) on arbitrary series.

This pins the subtle equivalences the fusion relies on:
- an event's member days == its qualifying runs plus every run between
  two of them (gap days included, leading/trailing runs excluded);
- peak argmax with earliest-day tie-break merges across run partials
  (temps are quantized to force exact rel_seas ties);
- closed-form sqrt(E[x^2]-E[x]^2) vs var_pop;
- NULL-temp days inside events (skipna mean/var/cumulative);
- rate-formula boundary values reassembled from run edges, including
  events touching the series start/end.
"""

import datetime as dt
import math

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mhw3d_detection_spark.operators.detection import (
    detect_events,
    enrich_series,
    event_metrics,
    exceedance,
    fused_detect_metrics,
)

DAY0 = dt.date(2021, 1, 1)

# quantized temps (0.5-degree steps around thresh=12) => frequent exact
# rel_seas ties, exercising the earliest-day tie-break on both paths.
# BASE shifts the whole series to TPC-H-price magnitude (the repo's
# own orders_daily series runs at ~1.5e5): at this magnitude the naive
# sqrt(E[x^2]-E[x]^2) merge loses ~6 digits to cancellation, so the
# 1e-9 relative tolerance below only holds with the centered partials.
BASE = 3.0e5
temp_strategy = st.one_of(
    st.none(),
    st.integers(16, 32).map(lambda k: BASE + k / 2.0),
)


def _rows(temps_by_cell):
    rows = []
    for cell, temps in enumerate(temps_by_cell):
        for i, t in enumerate(temps):
            rows.append(
                (cell, DAY0 + dt.timedelta(days=i), t, BASE + 10.0, BASE + 12.0)
            )
    return rows


@settings(max_examples=10, deadline=None)
@given(
    temps_by_cell=st.lists(
        st.lists(temp_strategy, min_size=5, max_size=45),
        min_size=1,
        max_size=2,
    ),
    min_duration=st.integers(1, 4),
    max_gap=st.integers(0, 3),
)
def test_fused_equals_component_composition(
    spark, temps_by_cell, min_duration, max_gap
):
    df = spark.createDataFrame(
        _rows(temps_by_cell),
        "cell_id int, time date, temp double, seas double, thresh double",
    )
    enriched = enrich_series(exceedance(df))

    fused = fused_detect_metrics(
        enriched,
        min_duration=min_duration,
        max_gap=max_gap,
    )
    events = detect_events(
        enriched,
        flag_col="__flag",
        run_col="__run",
        min_duration=min_duration,
        max_gap=max_gap,
    )
    component = event_metrics(enriched, events, enriched=True)

    cols = sorted(set(fused.columns) & set(component.columns))
    assert set(fused.columns) == set(component.columns)
    a = sorted(
        fused.select(*cols).collect(), key=lambda r: (r["cell_id"], r["event_id"])
    )
    b = sorted(
        component.select(*cols).collect(),
        key=lambda r: (r["cell_id"], r["event_id"]),
    )
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        for c in cols:
            va, vb = ra[c], rb[c]
            if isinstance(va, float) and isinstance(vb, float):
                assert math.isclose(va, vb, rel_tol=1e-9, abs_tol=1e-9), (
                    c,
                    ra,
                    rb,
                )
            else:
                assert va == vb, (c, ra, rb)
