"""The golden end-to-end gate: the seed-42 Oliver-README synthetic
series must yield exactly the three published events (FIXTURES.md F1;
recorded from examples/Check_against_oliver.ipynb cell 7, tolerance
atol=0.01 per tests/test_reproducibility.py:115-120)."""

from datetime import date

import pytest

from mhw3d_detection_spark.plans.pipeline import detect_mhw
from tests.fixtures_mhw import oliver_synthetic

GOLDEN = [
    # (start, end, peak, duration, i_max, i_mean, i_cum)
    (date(1984, 9, 27), date(1984, 11, 15), date(1984, 10, 20), 50, 4.784426, 3.898709, 194.935435),
    (date(1992, 12, 14), date(1993, 3, 23), date(1993, 1, 30), 100, 4.233110, 2.764249, 276.424922),
    (date(2003, 11, 25), date(2004, 1, 15), date(2004, 1, 5), 52, 5.873159, 4.606998, 239.563910),
]


@pytest.fixture(scope="module")
def events(spark):
    ts = spark.createDataFrame(oliver_synthetic())
    return detect_mhw(ts).orderBy("date_start").toPandas()


def test_three_events(events):
    assert len(events) == 3


def test_golden_values(events):
    for row, (start, end, peak, dur, imax, imean, icum) in zip(
        events.itertuples(index=False), GOLDEN
    ):
        assert (row.date_start.date() if hasattr(row.date_start, "date") else row.date_start) == start
        assert (row.date_end.date() if hasattr(row.date_end, "date") else row.date_end) == end
        assert row.date_peak == peak
        assert row.duration == dur
        assert abs(row.intensity_max - imax) < 0.01
        assert abs(row.intensity_mean - imean) < 0.01
        assert abs(row.intensity_cumulative - icum) < 0.01


def test_rates_and_categories_present(events):
    assert set(
        [
            "rate_onset",
            "rate_decline",
            "category",
            "duration_moderate",
            "intensity_var",
            "intensity_max_relThresh",
            "intensity_cumulative_abs",
        ]
    ) <= set(events.columns)
    assert events["rate_onset"].gt(0).all()
    assert events["rate_decline"].gt(0).all()
    assert events["category"].isin(["Moderate", "Strong", "Severe", "Extreme"]).all()
    # durations by category partition the event duration
    cat_sum = (
        events["duration_moderate"]
        + events["duration_strong"]
        + events["duration_severe"]
        + events["duration_extreme"]
    )
    assert (cat_sum == events["duration"]).all()


# The events table's column names, order and types are public API: the
# detection tail may be re-planned freely, but downstream readers
# (parquet sinks, the report plans) key on this exact schema.
EVENTS_SCHEMA = [
    ("cell_id", "int"),
    ("event_id", "int"),
    ("date_start", "date"),
    ("date_end", "date"),
    ("duration", "int"),
    ("intensity_mean", "double"),
    ("intensity_var", "double"),
    ("intensity_cumulative", "double"),
    ("intensity_mean_relThresh", "double"),
    ("intensity_var_relThresh", "double"),
    ("intensity_cumulative_relThresh", "double"),
    ("intensity_mean_abs", "double"),
    ("intensity_var_abs", "double"),
    ("intensity_cumulative_abs", "double"),
    ("duration_moderate", "bigint"),
    ("duration_strong", "bigint"),
    ("duration_severe", "bigint"),
    ("duration_extreme", "bigint"),
    ("intensity_max", "double"),
    ("date_peak", "date"),
    ("intensity_max_relThresh", "double"),
    ("intensity_max_abs", "double"),
    ("category", "string"),
    ("rate_onset", "double"),
    ("rate_decline", "double"),
]


def test_detect_mhw_schema_is_stable(spark):
    ts = spark.createDataFrame(
        [(0, date(2000, 1, 1), 15.0)], "cell_id int, time date, temp double"
    )
    got = [(f.name, f.dataType.simpleString()) for f in detect_mhw(ts).schema.fields]
    assert got == EVENTS_SCHEMA
