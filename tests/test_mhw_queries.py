

def test_forecast_skill_bounds_and_coverage(spark, sf_dir):
    import pytest

    from mhw3d_detection_spark.queries.mhw import q_forecast_skill

    rows = q_forecast_skill(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["n_days"] > 0
        assert r["mae_clim"] >= 0 and r["mae_persist"] > 0
        # skill = 1 - mae_clim/mae_persist, consistent within rounding
        assert r["skill"] == pytest.approx(
            1.0 - r["mae_clim"] / r["mae_persist"], abs=1e-3
        )


def test_official_record_covers_every_detection_row():
    # the driver's CORRECTNESS artifact records the first 50 registry
    # rows; every detection-chain row (incl. the full pipelines) must be
    # among them so the official check covers the paper's queries
    from mhw3d_detection_spark import queries as Q
    from mhw3d_detection_spark.queries import detection

    rows = [
        name
        for name, qd in Q.REGISTRY.items()
        if qd.spark_fn.__module__ == detection.__name__
    ]
    assert rows
    assert set(rows) <= set(list(Q.REGISTRY)[:50])
