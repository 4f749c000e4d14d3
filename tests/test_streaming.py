"""Structured-Streaming twins (SURVEY.md §2.10), each driven with a
real file stream (availableNow trigger). MHW detection streams through
the run-partials store (``streaming_detect_partials`` ->
``merge_detect_partials``), which must equal the batch fused tail on
the union of the micro-batches for any slicing and arrival order; the
windowed, dedup and gate twins must match their batch operators."""

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from mhw3d_detection_spark.operators.detection import (
    enrich_series,
    exceedance,
    fused_detect_metrics,
    merge_detect_partials,
)
from mhw3d_detection_spark.streaming import (
    streaming_dedup,
    streaming_detect_partials,
    streaming_severity,
    streaming_windowed_stats,
)


@pytest.fixture(scope="module")
def flagged_parquet(spark, tmp_path_factory):
    """Daily boolean series with two events separated by a 2-day gap
    (merge) and one by a 4-day gap (no merge), written as parquet so a
    file stream can replay it."""
    rows = []
    day0 = dt.datetime(2020, 1, 1)
    # cell 1: days 0-5 True, gap 2 days, days 8-12 True  -> one merged event
    # then a 4-day gap, days 17-18 True (short run, dropped by min filter)
    pattern = list(range(0, 6)) + list(range(8, 13)) + [17, 18]
    for d in range(25):
        rows.append((1, day0 + dt.timedelta(days=d), float(d), d in pattern))
    # cell 2: never exceeds
    for d in range(25):
        rows.append((2, day0 + dt.timedelta(days=d), float(d), False))
    df = spark.createDataFrame(rows, "cell_id int, time timestamp, temp double, exceed boolean")
    path = str(tmp_path_factory.mktemp("stream") / "flagged")
    df.write.mode("overwrite").parquet(path)
    return path, df


def run_stream(spark, src_df, path, build, name):
    stream = spark.readStream.schema(src_df.schema).parquet(path)
    out = build(stream)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


SEV_SCHEMA = "cell_id int, time timestamp, temp double, seas double, thresh double"


def _sev_rows(hot, days):
    """Severity-joined daily rows of cell 1 from 2021-01-01: exceeding
    (temp > thresh 12) on the ``hot`` days, with day-varying
    intensities so every metric column tells the days apart."""
    return [
        (1, dt.datetime(2021, 1, 1) + dt.timedelta(days=d),
         14.0 + 0.5 * (d % 5) if d in hot else 10.0 - 0.25 * (d % 3), 9.0, 12.0)
        for d in days
    ]


def _stream_to_store(spark, tmp_path, files, schema=SEV_SCHEMA, score=None):
    """Write ``files`` (row lists) in order and stream them through
    ``streaming_detect_partials``, one file per micro-batch; returns
    the partials store."""
    src, store = str(tmp_path / "src"), str(tmp_path / "store")
    for rows in files:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        streaming_detect_partials(score(stream) if score else stream, store)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    parts = spark.read.parquet(store)
    assert parts.select("batch").distinct().count() == len(files)
    return parts


def _events(df):
    cols = sorted(df.columns)
    return sorted(
        (r.asDict() for r in df.select(*cols).collect()),
        key=lambda r: (r["cell_id"], r["event_id"]),
    )


def _assert_same_events(want_df, got_df):
    assert set(want_df.columns) == set(got_df.columns)
    want, got = _events(want_df), _events(got_df)
    assert len(got) == len(want), (want, got)
    for ra, rb in zip(want, got):
        for c, va in ra.items():
            vb = rb[c]
            if isinstance(va, float):
                assert math.isclose(va, vb, rel_tol=1e-9, abs_tol=1e-9), (c, va, vb)
            else:
                assert va == vb, (c, va, vb)
    return want


def _store_matches_fused(spark, tmp_path, files, **kw):
    """The store contract: the merged micro-batch partials equal the
    fused whole-series tail on the union of the files."""
    parts = _stream_to_store(spark, tmp_path, files)
    union = spark.createDataFrame([r for f in files for r in f], SEV_SCHEMA)
    return _assert_same_events(
        fused_detect_metrics(enrich_series(exceedance(union)), **kw),
        merge_detect_partials(parts, **kw),
    )


def test_stateful_exact_matches_batch(spark, tmp_path):
    # W4 before W5: three 3-day runs chained by 1-day gaps (days 0-2,
    # 4-6, 8-10) each fail min_duration=5 BEFORE gap joining, so they
    # form no event (a session window over the exceed days would chain
    # them into one); days 14-20 and 23-27 qualify and join over the
    # 2-day gap. The file cuts split the chained runs and the event.
    hot = set(range(0, 3)) | set(range(4, 7)) | set(range(8, 11))
    hot |= set(range(14, 21)) | set(range(23, 28))
    files = [_sev_rows(hot, range(a, b)) for a, b in [(0, 5), (5, 17), (17, 40)]]
    got = _store_matches_fused(spark, tmp_path, files, min_duration=5, max_gap=2)
    assert [(e["date_start"].day, e["date_end"].day) for e in got] == [(15, 28)]


def test_stateful_exact_across_microbatches(spark, tmp_path):
    # an event split across micro-batches (days 0-8 and 11-15 join over
    # a 2-day gap; the first file ends inside the gap) plus a later
    # event: event ids number both in time order, as in the batch
    hot = set(range(0, 9)) | set(range(11, 16)) | set(range(22, 29))
    files = [_sev_rows(hot, range(0, 10)), _sev_rows(hot, range(10, 35))]
    got = _store_matches_fused(spark, tmp_path, files, min_duration=5, max_gap=2)
    assert [(e["event_id"], e["duration"]) for e in got] == [(1, 16), (2, 7)]


def test_stateful_exact_out_of_order_across_batches(spark, tmp_path):
    # a LATE day that PREPENDS an already-stored run: the first
    # micro-batch holds days 5-9 of the run but not day 4, which
    # arrives in the second. The whole series has ONE 6-day run from
    # day 4, so the merge must re-join the late day to the run.
    hot = set(range(4, 10)) | {11, 12, 13}
    files = [
        _sev_rows(hot, [d for d in range(10) if d != 4]),
        _sev_rows(hot, [4] + list(range(10, 31))),
    ]
    got = _store_matches_fused(spark, tmp_path, files, min_duration=5, max_gap=2)
    assert [(e["date_start"], e["duration"]) for e in got] == [
        (dt.datetime(2021, 1, 5), 6)
    ]


def test_partials_store_late_day_inside_earlier_run(spark, tmp_path):
    # a late COLD day that lands inside what the first micro-batch saw
    # as one run: the first file holds hot days 6-11 and 13-18 but not
    # day 12. The whole series has two 6-day events around the cold
    # day (max_gap=0 keeps them apart); without the first batch's
    # calendar break at day 12 the store would hold one 12-day run.
    hot = set(range(6, 12)) | set(range(13, 19))
    files = [
        _sev_rows(hot, [d for d in range(25) if d != 12]),
        _sev_rows(hot, [12]),
    ]
    got = _store_matches_fused(spark, tmp_path, files, min_duration=5, max_gap=0)
    assert [(e["date_start"].day, e["duration"]) for e in got] == [(7, 6), (14, 6)]


def test_streaming_severity_into_stateful_detector(spark, tmp_path):
    # the full streaming MHW pipeline: raw temp stream -> stream-static
    # broadcast join against a static clim (EP2 twin) -> run-partials
    # store -> merge; equal to the batch chain on the same data
    from mhw3d_detection_spark.operators.severity import calculate_severity

    day0 = dt.datetime(2020, 1, 1)
    rows = [
        (1, day0 + dt.timedelta(days=d),
         20.0 + (5.0 + 0.25 * (d % 4) if 10 <= d <= 20 else 0.0))
        for d in range(60)
    ]
    schema = "cell_id int, time timestamp, temp double"
    df = spark.createDataFrame(rows, schema)
    clim = spark.createDataFrame(
        [(1, doy, 20.0, 22.0) for doy in range(1, 367)],
        "cell_id int, doy int, seas double, thresh double",
    )
    parts = _stream_to_store(
        spark, tmp_path, [rows[:15], rows[15:]], schema,
        score=lambda s: streaming_severity(s, clim),
    )
    got = _assert_same_events(
        fused_detect_metrics(
            enrich_series(exceedance(calculate_severity(df, clim))),
            min_duration=5,
            max_gap=2,
        ),
        merge_detect_partials(parts, min_duration=5, max_gap=2),
    )
    assert [e["duration"] for e in got] == [11]
    # severity values flow through the stream projection too
    sev_rows = calculate_severity(df, clim).filter(F.col("severity") > 1).count()
    assert sev_rows == 11


def test_streaming_dedup(spark, flagged_parquet):
    path, df = flagged_parquet
    dup_path = path + "_dup"
    df.union(df).write.mode("overwrite").parquet(dup_path)
    dup_df = spark.read.parquet(dup_path)
    got = run_stream(
        spark,
        dup_df,
        dup_path,
        lambda s: streaming_dedup(s, ["cell_id", "time"], watermark="1 day"),
        "dedup",
    )
    assert got.count() == df.count()


def test_streaming_windowed_stats(spark, flagged_parquet):
    path, df = flagged_parquet
    got = run_stream(
        spark,
        df,
        path,
        lambda s: streaming_windowed_stats(
            s, window="5 days", watermark="0 seconds"
        ),
        "winstats",
    )
    rows = got.filter(F.col("cell_id") == 1).orderBy("window_start").collect()
    # windows align to the epoch (first window starts 2019-12-30 and
    # holds 3 data days); the final partial window stays open because
    # the terminal watermark equals the max event time -> 5 closed
    assert len(rows) == 5
    assert [r.n for r in rows] == [3, 5, 5, 5, 5]
    assert rows[1].mean == pytest.approx(5.0)  # avg of days 3..7


def test_streaming_similarity_matches_batch(spark, tmp_path):
    from mhw3d_detection_spark.streaming import streaming_similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "emb_stream")
    emb.write.mode("overwrite").parquet(path)
    probes = emb.filter(F.col("vec_id") % 25 == 0)

    stream = spark.readStream.schema(emb.schema).parquet(path)
    q = (
        streaming_similarity(stream, probes, min_cosine=0.3)
        .writeStream.format("memory")
        .queryName("sim_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["vec_id"], r["probe_id"])
        for r in spark.table("sim_stream").collect()
    }
    # the streaming scorer is stateless per batch: results must equal
    # the identical batch-side broadcast join
    want = {
        (r["vec_id"], r["probe_id"])
        for r in streaming_similarity(emb, probes, min_cosine=0.3).collect()
    }
    assert got == want
    assert len(want) > 0  # planted near-dups guarantee matches


def test_streaming_area_stats_matches_batch(spark, flagged_parquet):
    """The windowed area-weighted coverage over a replayed file stream
    must equal the batch area_weighted_daily on the same data (daily
    tumbling windows <=> per-day group keys)."""
    from mhw3d_detection_spark.operators.spatial import area_weighted_daily
    from mhw3d_detection_spark.streaming import streaming_area_stats

    path, df = flagged_parquet
    got = run_stream(
        spark,
        df,
        path,
        lambda s: streaming_area_stats(s, width=5, watermark="0 seconds"),
        "area_stream",
    )
    stream_rows = {
        r["window_start"].date(): r
        for r in got.collect()
    }
    batch = area_weighted_daily(
        df.withColumn("time", F.to_date("time")), width=5
    )
    batch_rows = {r["time"]: r for r in batch.collect()}
    # terminal watermark leaves the last day's window open in the
    # append-mode sink; every emitted window must match batch exactly
    assert len(stream_rows) >= len(batch_rows) - 1
    for day, sr in stream_rows.items():
        br = batch_rows[day]
        assert sr["n_cells"] == br["n_cells"]
        assert sr["n_active"] == br["n_active"]
        assert sr["area_frac_active"] == pytest.approx(
            br["area_frac_active"], rel=1e-12
        )
        assert sr["w_mean_temp"] == pytest.approx(br["w_mean_temp"], rel=1e-12)


def test_streaming_partials_merge_matches_batch(spark, tmp_path):
    # three time-slice files replayed one per micro-batch, each
    # compressed to run partials via foreachBatch; merging the store
    # must equal the batch fused pipeline on the whole series —
    # including the event that spans the first file boundary
    hot = set(range(3, 12)) | set(range(14, 17)) | set(range(30, 33))
    files = [_sev_rows(hot, range(a, b)) for a, b in [(0, 10), (10, 25), (25, 40)]]
    got = _store_matches_fused(spark, tmp_path, files, min_duration=5, max_gap=2)
    # one event, days 3..11: the 3-day run 14..16 fails min_duration=5
    # BEFORE gap joining (the frozen W4-before-W5 contract), so no merge
    assert [e["duration"] for e in got] == [9]


def test_streaming_e2e_harness_two_cells_ooo(spark, tmp_path):
    # r8 (verdict item 6): end-to-end harness driving BOTH live-ingest
    # surfaces from file-source streams with multiple out-of-order
    # micro-batches. (a) streaming_detect_partials on 2-cell data whose
    # events cross every file boundary, rows SHUFFLED within each file
    # (the contract allows any within-batch order; batches slice the
    # time axis): merging the store must reproduce the whole-history
    # batch events exactly; then a FULL REPLAY into the same store from
    # a fresh checkpoint must leave the merge unchanged (the idempotent
    # batch=<id> overwrite contract). (b) streaming_lsh_dedup fed the
    # incoming docs as 3 arbitrarily-ordered micro-batches must emit
    # exactly the batch candidate pairs (stateless gate: arrival order
    # free).
    import math
    import random

    from mhw3d_detection_spark.operators.detection import (
        enrich_series,
        exceedance,
        fused_detect_metrics,
        merge_detect_partials,
    )
    from mhw3d_detection_spark.operators.textops import (
        minhash_candidate_pairs,
        minhash_signatures,
    )
    from mhw3d_detection_spark.streaming import (
        streaming_detect_partials,
        streaming_lsh_dedup,
    )

    # ---- leg (a): two cells, events split across every file cut ----
    day0 = dt.datetime(2022, 1, 1)
    hot = {
        1: set(range(5, 18)) | set(range(36, 44)) | set(range(70, 90)),
        2: set(range(0, 9)) | set(range(28, 33)) | set(range(88, 110)),
    }
    rows = [
        (c, day0 + dt.timedelta(days=d),
         14.0 + 0.1 * c if d in hot[c] else 10.0, 9.0, 12.0)
        for c in (1, 2)
        for d in range(120)
    ]
    df = spark.createDataFrame(
        rows, "cell_id int, time timestamp, temp double, seas double, thresh double"
    )
    src = str(tmp_path / "sev_stream")
    rng = random.Random(11)
    all_rows = df.collect()
    for lo, hi in [(0, 8), (8, 40), (40, 89), (89, 120)]:
        chunk = [
            r for r in all_rows
            if lo <= (r["time"] - day0).days < hi
        ]
        rng.shuffle(chunk)  # out-of-order WITHIN the micro-batch
        spark.createDataFrame(chunk, df.schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    store = str(tmp_path / "partials_store")

    def run_stream(ckpt):
        stream = spark.readStream.schema(df.schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        q = (
            streaming_detect_partials(stream, store)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def merged_events():
        m = merge_detect_partials(
            spark.read.parquet(store), min_duration=5, max_gap=2
        )
        cols = sorted(m.columns)
        return cols, sorted(
            m.select(*cols).collect(),
            key=lambda r: (r["cell_id"], r["event_id"]),
        )

    run_stream("ckpt_a")
    cols, got = merged_events()
    whole = fused_detect_metrics(
        enrich_series(exceedance(df)), min_duration=5, max_gap=2
    )
    want = sorted(
        whole.select(*cols).collect(),
        key=lambda r: (r["cell_id"], r["event_id"]),
    )
    # both cells' event sets (incl. runs crossing 8/40/89 cuts and the
    # gap-join of cell 2's 28..32 run) reproduce exactly
    assert len(want) >= 5 and len(got) == len(want)
    for ra, rb in zip(want, got):
        for c in cols:
            va, vb = ra[c], rb[c]
            if isinstance(va, float):
                assert math.isclose(va, vb, rel_tol=1e-9, abs_tol=1e-9), (c, va, vb)
            else:
                assert va == vb, (c, va, vb)

    # full replay, fresh checkpoint, SAME store: batch=<id> overwrite
    # makes at-least-once re-processing idempotent
    run_stream("ckpt_b")
    cols2, got2 = merged_events()
    assert cols2 == cols and [tuple(r) for r in got2] == [tuple(r) for r in got]

    # ---- leg (b): LSH gate over 3 shuffled micro-batches ----
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    incoming = docs.filter(F.col("doc_id") % 2 == 1).collect()
    rng.shuffle(incoming)
    dsrc = str(tmp_path / "doc_stream")
    third = (len(incoming) + 2) // 3
    for i in range(3):
        spark.createDataFrame(
            incoming[i * third : (i + 1) * third], docs.schema
        ).coalesce(1).write.mode("append").parquet(dsrc)
    idx = minhash_signatures(corpus)
    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(dsrc)
    q = (
        streaming_lsh_dedup(stream, idx)
        .writeStream.format("memory")
        .queryName("lsh_e2e")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_pairs = {
        (r["doc_id"], r["dup_of"]) for r in spark.table("lsh_e2e").collect()
    }
    want_pairs = set()
    for r in minhash_candidate_pairs(minhash_signatures(docs)).collect():
        for x, y in ((r["doc_a"], r["doc_b"]), (r["doc_b"], r["doc_a"])):
            if x % 2 == 1 and y % 2 == 0:
                want_pairs.add((x, y))
    assert got_pairs == want_pairs and want_pairs


def test_streaming_lsh_dedup_matches_batch_pairs(spark, tmp_path):
    from mhw3d_detection_spark.operators.textops import (
        minhash_bands_rowlocal,
        minhash_candidate_pairs,
        minhash_signatures,
    )
    from mhw3d_detection_spark.streaming import streaming_lsh_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # corpus = even doc_ids (indexed up front, batch path);
    # stream = odd doc_ids arriving later
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    incoming = docs.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "doc_stream")
    incoming.write.mode("overwrite").parquet(path)

    # the rowlocal signature the stream uses must be bit-identical to
    # the grouped batch signature it joins against
    a = minhash_signatures(docs)
    b = minhash_bands_rowlocal(docs)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    idx = minhash_signatures(corpus)
    stream = spark.readStream.schema(incoming.schema).parquet(path)
    q = (
        streaming_lsh_dedup(stream, idx)
        .writeStream.format("memory")
        .queryName("lsh_dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["doc_id"], r["dup_of"])
        for r in spark.table("lsh_dedup_stream").collect()
    }
    # ground truth: the batch LSH candidate pairs restricted to
    # (odd incoming, even corpus) — pairs emits doc_a < doc_b, so
    # normalize to (incoming, corpus) orientation
    pairs = minhash_candidate_pairs(minhash_signatures(docs)).collect()
    want = set()
    for r in pairs:
        for x, y in ((r["doc_a"], r["doc_b"]), (r["doc_b"], r["doc_a"])):
            if x % 2 == 1 and y % 2 == 0:
                want.add((x, y))
    assert got == want
    assert len(want) > 0  # planted near-dups guarantee cross-parity hits


def test_streaming_quality_gate_matches_batch(spark, tmp_path):
    # the gate's streaming scores must be IDENTICAL to the batch
    # classifier's (same projection, same literals) and keep_only must
    # drop exactly the keep=0 docs
    from mhw3d_detection_spark.operators.textops import quality_classifier
    from mhw3d_detection_spark.streaming import streaming_quality_gate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "qdoc_stream")
    docs.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(docs.schema).parquet(path)
    q = (
        streaming_quality_gate(stream, keep_only=False)
        .writeStream.format("memory")
        .queryName("quality_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: (r.quality_logit, r.quality_prob, r.keep)
        for r in spark.table("quality_stream").collect()
    }
    want = {
        r.doc_id: (r.quality_logit, r.quality_prob, r.keep)
        for r in quality_classifier(docs).collect()
    }
    assert got == want  # bit-exact batch/stream parity

    q2 = (
        streaming_quality_gate(stream, keep_only=True)
        .writeStream.format("memory")
        .queryName("quality_stream_keep")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    kept = {r.doc_id for r in spark.table("quality_stream_keep").collect()}
    assert kept == {d for d, (_, _, k) in want.items() if k == 1}
    # the gate preserves the full input row, not just the score columns
    assert set(spark.table("quality_stream").columns) == set(docs.columns) | {
        "quality_logit", "quality_prob", "keep"
    }


def test_streaming_cardinality_registers_match_batch(spark, tmp_path):
    # the streaming per-window HLL registers must be bit-identical to
    # the batch registers over the same rows, and merge/estimate
    # batch-side to a sane distinct count
    import datetime as dt

    from mhw3d_detection_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )
    from mhw3d_detection_spark.streaming import streaming_cardinality

    rows = []
    base = dt.datetime(2024, 1, 1)
    for day in range(3):
        for i in range(1000 * (day + 1)):
            rows.append((base + dt.timedelta(days=day, seconds=i), f"d{day}-item{i}"))
    # sentinel far-future event: append mode only emits a window once
    # the watermark passes its end, so push the watermark beyond day 3
    rows.append((base + dt.timedelta(days=10), "sentinel"))
    df = spark.createDataFrame(rows, "time timestamp, token string")
    path = str(tmp_path / "card_stream")
    df.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(df.schema).parquet(path)
    q = (
        streaming_cardinality(stream, "token", window="1 day")
        .writeStream.format("memory")
        .queryName("card_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window.start.day, r.reg): r.rho
        for r in spark.table("card_stream").collect()
    }
    want = {
        (r.day, r.reg): r.rho
        for r in hll_registers(
            df.filter(F.col("token") != "sentinel")
            .select(F.dayofmonth("time").alias("day"), "token"),
            F.col("token"),
            ["day"],
        ).collect()
    }
    assert got == want  # bit-identical sketch state
    # estimate from the emitted registers: within HLL error of truth
    regs = spark.table("card_stream").select(
        F.dayofmonth(F.col("window.start")).alias("day"), "reg", "rho"
    )
    est = {r.day: r.est_distinct for r in hll_estimate(regs, ["day"]).collect()}
    for day, n in ((1, 1000), (2, 2000), (3, 3000)):
        assert abs(est[day] / n - 1.0) < 0.13, (day, est[day])


def test_streaming_frequency_and_histogram_match_batch(spark, tmp_path):
    # both remaining sketch twins: streaming per-window counters must be
    # bit-identical to the batch sketches over the same rows
    import datetime as dt

    from mhw3d_detection_spark.operators.sketches import cm_sketch, hist_sketch
    from mhw3d_detection_spark.streaming import (
        streaming_frequency,
        streaming_histogram,
    )

    base = dt.datetime(2024, 3, 1)
    rows = []
    for day in range(2):
        for i in range(2000):
            rows.append(
                (base + dt.timedelta(days=day, seconds=i),
                 f"tok{i % (50 * (day + 1))}", float(i % 700))
            )
    rows.append((base + dt.timedelta(days=10), "sentinel", 0.0))
    df = spark.createDataFrame(rows, "time timestamp, token string, v double")
    path = str(tmp_path / "freq_stream")
    df.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(df.schema).parquet(path)

    for name, build in [
        ("freq_stream_t", lambda s: streaming_frequency(s, "token", window="1 day")),
        ("hist_stream_t", lambda s: streaming_histogram(
            s, "v", window="1 day", lo=0.0, hi=1000.0, n_bins=32)),
    ]:
        q = (
            build(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    data = df.filter(F.col("token") != "sentinel")
    got_f = {
        (r.window.start.day, r.j, r.col): r.cnt
        for r in spark.table("freq_stream_t").collect()
    }
    want_f = {
        (r.day, r.j, r.col): r.cnt
        for r in cm_sketch(
            data.select(F.dayofmonth("time").alias("day"), "token"),
            F.col("token"), ["day"],
        ).collect()
    }
    assert got_f == want_f

    got_h = {
        (r.window.start.day, r.bin): r.cnt
        for r in spark.table("hist_stream_t").collect()
    }
    want_h = {
        (r.day, r.bin): r.cnt
        for r in hist_sketch(
            data.select(F.dayofmonth("time").alias("day"), "v"),
            F.col("v"), ["day"], lo=0.0, hi=1000.0, n_bins=32,
        ).collect()
    }
    assert got_h == want_h


def test_streaming_bm25_gate_matches_batch_ranker(spark, tmp_path):
    # scores from the streaming gate (row-local tf, literal idf/avgdl)
    # must be BIT-IDENTICAL to the batch ranker's on the same corpus
    # stats: rq6-quantized contributions make the sums order-free
    from mhw3d_detection_spark.operators.textops import bm25_stats, bm25_topk
    from mhw3d_detection_spark.streaming.sessionize import streaming_bm25_gate

    terms = ("merge", "query", "spark", "window")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idf, avgdl = bm25_stats(docs, terms)
    path = str(tmp_path / "bm25_stream")
    docs.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(docs.schema).parquet(path)
    q = (
        streaming_bm25_gate(stream, idf, avgdl)
        .writeStream.format("memory")
        .queryName("bm25_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: (r.n_hit_terms, r.score)
        for r in spark.table("bm25_stream").collect()
    }
    want = {
        r.doc_id: (r.n_hit_terms, r.score)
        for r in bm25_topk(docs, terms, top_n=None).collect()
    }
    for d, (nh, sc) in want.items():
        assert got[d] == (nh, sc), (d, got[d], (nh, sc))
    # stream routes no-hit docs too, scored 0
    assert all(v[1] == 0.0 for k, v in got.items() if k not in want)

    # min_score turns annotation into a gate
    q2 = (
        streaming_bm25_gate(stream, idf, avgdl, min_score=1.0)
        .writeStream.format("memory")
        .queryName("bm25_stream_gate")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    gated = {r.doc_id for r in spark.table("bm25_stream_gate").collect()}
    assert gated == {d for d, (_, sc) in want.items() if sc >= 1.0}


def test_streaming_winnow_dedup_matches_batch_pairs(spark, tmp_path):
    # the gate's stream-static fp join must reproduce exactly the
    # batch winnow_shared_pairs graph (at min_shared=1) restricted to
    # the (incoming, corpus) orientation — fingerprints are the same
    # row-local expressions on both paths, so parity is set equality
    from mhw3d_detection_spark.operators.textops import (
        winnow_fingerprints,
        winnow_shared_pairs,
    )
    from mhw3d_detection_spark.streaming import streaming_winnow_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    incoming = docs.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "winnow_stream")
    incoming.write.mode("overwrite").parquet(path)

    idx = winnow_fingerprints(corpus)
    stream = spark.readStream.schema(incoming.schema).parquet(path)
    q = (
        streaming_winnow_dedup(stream, idx)
        .writeStream.format("memory")
        .queryName("winnow_dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["doc_id"], r["dup_of"])
        for r in spark.table("winnow_dedup_stream").collect()
    }
    want = set()
    for r in winnow_shared_pairs(docs, min_shared=1).collect():
        for x, y in (
            (r["doc_a"], r["doc_b"]),
            (r["doc_b"], r["doc_a"]),
        ):
            if x % 2 == 1 and y % 2 == 0:
                want.add((x, y))
    assert got == want
    assert len(want) > 0  # planted near-dups guarantee cross-parity hits


def test_streaming_feature_hash_matches_batch(spark, tmp_path):
    from mhw3d_detection_spark.operators.textops import feature_hash_dense
    from mhw3d_detection_spark.streaming import streaming_feature_hash

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "fh_stream")
    docs.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(docs.schema).parquet(path)
    q = (
        streaming_feature_hash(stream)
        .writeStream.format("memory")
        .queryName("fh_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: list(r["features"])
        for r in spark.table("fh_stream").collect()
    }
    want = {
        r["doc_id"]: list(r["features"])
        for r in feature_hash_dense(docs).collect()
    }
    assert got == want  # bit-exact batch/stream feature parity


def test_streaming_cusum_matches_batch_bitexact(spark, tmp_path):
    # W15 r7: the stateful streaming CUSUM must reproduce the batch
    # operator's per-row accumulators EXACTLY (dyadic-grid recursion ==
    # batch closed form) across microbatch boundaries AND out-of-order
    # arrival within the watermark.
    from mhw3d_detection_spark.operators.analysis import cusum_changepoints
    from mhw3d_detection_spark.streaming import streaming_cusum_alarms

    import random

    rng = random.Random(3)
    day0 = dt.datetime(2021, 1, 1)
    rows = []
    for cell in (1, 2):
        for d in range(60):
            v = 10.0 + rng.uniform(-3, 3) + (8.0 if 25 <= d < 35 else 0.0)
            # day 40: a NULL sample (parity must hold: batch window
            # sums skip the NULL step, streaming must too, not crash)
            rows.append(
                (cell, day0 + dt.timedelta(days=d),
                 None if d == 40 else round(v, 2))
            )
    df = spark.createDataFrame(rows, "cell_id int, time timestamp, temp double")
    # far-future sentinel pushes the watermark past every real day
    sentinel = [(99, day0 + dt.timedelta(days=400), 0.0)]
    sent = spark.createDataFrame(sentinel, df.schema)

    path = str(tmp_path / "cusum_stream")
    # batch 1: days 0..29 EXCEPT days 10..14 (arrive late), batch 2:
    # the late days + the rest, batch 3: sentinel
    early = df.filter(
        (F.col("time") < day0 + dt.timedelta(days=30))
        & ~F.col("time").between(
            day0 + dt.timedelta(days=10), day0 + dt.timedelta(days=14)
        )
    )
    late = df.exceptAll(early)
    early.coalesce(1).write.mode("overwrite").parquet(path)
    late.coalesce(1).write.mode("append").parquet(path)
    sent.coalesce(1).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = streaming_cusum_alarms(
        stream, target=10.0, allowance=0.5, threshold=6.0, watermark="40 days"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("cusum_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["cell_id"], r["time"]): (
            r["cusum_pos"],
            r["cusum_neg"],
            r["alarm_pos"],
            r["alarm_neg"],
        )
        for r in spark.table("cusum_stream").collect()
    }
    want = {
        (r["cell_id"], r["time"]): (
            r["cusum_pos"],
            r["cusum_neg"],
            r["alarm_pos"],
            r["alarm_neg"],
        )
        for r in cusum_changepoints(
            df, target=10.0, allowance=0.5, threshold=6.0
        ).withColumn("time", F.to_date("time")).collect()
    }
    # every batch row folded by the stream must match bit-exactly, and
    # the stream must have folded everything the watermark passed
    assert len(got) == len(want)  # sentinel watermark flushed all
    assert any(v[2] for v in got.values())  # the injected shift alarms
    for key_, gv in got.items():
        assert gv == want[key_], (key_, gv, want[key_])


def test_streaming_cusum_idle_ttl_state_lifetime(spark, tmp_path):
    # ADVICE r8 (streaming/stateful.py state lifetime): (a) a cell that
    # drains at ZERO accumulators has its state removed — unobservable,
    # emissions identical; (b) with idle_ttl set, a cell idle past the
    # TTL restarts the detector from zero on re-appearance; (c) by
    # default (idle_ttl=None) the accumulators survive arbitrary idle
    # gaps — the documented permanent-state contract.
    from mhw3d_detection_spark.streaming import streaming_cusum_alarms
    from mhw3d_detection_spark.streaming.stateful import _duration_ms

    assert _duration_ms("10 days") == 10 * 86400 * 1000
    assert _duration_ms("3 hours") == 3 * 3600 * 1000

    day0 = dt.datetime(2021, 1, 1)
    schema = "cell_id int, time timestamp, temp double"

    def day(d):
        return day0 + dt.timedelta(days=d)

    # cell 1: armed (target+5) days 0-2, idle, re-appears day 70
    # cell 2: exactly at target days 0-2 (cp=cn=0 -> zero-info removal)
    burst = [(1, day(d), 15.0) for d in range(3)] + [
        (2, day(d), 10.0) for d in range(3)
    ]
    files = [
        burst,
        [(99, day(40), 10.0)],   # wm -> 35: horizon fires, drains burst
        [(99, day(41), 10.0)],   # processes the drain emissions
        [(99, day(60), 10.0)],   # wm -> 55 > (35 + ttl 10): TTL wake
        [(99, day(61), 10.0)],   # fires the idle timeout
        [(1, day(70), 15.0), (2, day(70), 10.0)],
        [(99, day(100), 10.0)],  # wm -> 95: drains day 70
        [(99, day(101), 10.0)],
    ]

    def run(name, **kw):
        path = str(tmp_path / name)
        for i, batch in enumerate(files):
            spark.createDataFrame(batch, schema).coalesce(1).write.mode(
                "overwrite" if i == 0 else "append"
            ).parquet(path)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        out = streaming_cusum_alarms(
            stream, target=10.0, allowance=0.5, threshold=6.0,
            watermark="5 days", **kw
        )
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["cell_id"], r["time"]): (r["cusum_pos"], r["cusum_neg"])
            for r in spark.table(name).collect()
        }

    d70 = dt.date(2021, 3, 12)  # day(70)
    got_ttl = run("cusum_ttl", idle_ttl="10 days")
    # (a) the at-target cell emits zeros throughout removal/refold
    assert got_ttl[(2, d70)] == (0.0, 0.0)
    # (b) TTL reset: day 70 folds from a FRESH state: cp = 15-10-0.5
    assert got_ttl[(1, d70)] == (4.5, 0.0)
    # armed value before the idle gap really was > 4.5 (3 folds)
    assert got_ttl[(1, dt.date(2021, 1, 3))] == (13.5, 0.0)

    got_perm = run("cusum_perm")  # default: no TTL
    assert got_perm[(2, d70)] == (0.0, 0.0)
    # (c) permanent state: day 70 carries the pre-gap accumulator
    assert got_perm[(1, d70)] == (13.5 + 4.5, 0.0)


def test_streaming_ewma_matches_batch_bitexact(spark, tmp_path):
    # W16 r7: the streamed truncated EWMA must equal the batch lag
    # chain bit-for-bit across microbatches and out-of-order arrival
    # (exact dyadic sums are association-free).
    from mhw3d_detection_spark.operators.analysis import ewma_smooth
    from mhw3d_detection_spark.streaming import streaming_ewma

    import random

    rng = random.Random(21)
    day0 = dt.datetime(2022, 3, 1)
    rows = [
        # day 30 NULL: batch emits NULL ewma for it and the following
        # 15 rows; the stream must mirror that, not crash
        (c, day0 + dt.timedelta(days=d),
         None if d == 30 else round(rng.uniform(0, 100), 2))
        for c in (1, 2)
        for d in range(50)
    ]
    df = spark.createDataFrame(rows, "cell_id int, time timestamp, temp double")
    sent = spark.createDataFrame(
        [(99, day0 + dt.timedelta(days=400), 0.0)], df.schema
    )
    path = str(tmp_path / "ewma_stream")
    early = df.filter(
        ~F.col("time").between(
            day0 + dt.timedelta(days=20), day0 + dt.timedelta(days=24)
        )
    )
    late = df.exceptAll(early)
    early.coalesce(1).write.mode("overwrite").parquet(path)
    late.coalesce(1).write.mode("append").parquet(path)
    sent.coalesce(1).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = streaming_ewma(stream, window=16, watermark="40 days")
    q = (
        out.writeStream.format("memory")
        .queryName("ewma_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["cell_id"], r["time"]): (r["temp_q"], r["ewma"], r["ewma_anom"])
        for r in spark.table("ewma_stream").collect()
    }
    want = {
        (r["cell_id"], r["time"]): (r["temp_q"], r["ewma"], r["ewma_anom"])
        for r in ewma_smooth(df, window=16)
        .withColumn("time", F.to_date("time"))
        .collect()
    }
    assert len(got) == len(want)
    for k, gv in got.items():
        assert gv == want[k], (k, gv, want[k])
    assert any(v[1] is not None for v in got.values())


def test_streaming_despike_gate_matches_batch_flags(spark, tmp_path):
    # W17 streaming face: a sample is flagged live iff the batch QC
    # (same trained med/MAD) flags it; unknown cells pass with NULL.
    from mhw3d_detection_spark.operators.analysis import despike_mad
    from mhw3d_detection_spark.streaming import streaming_despike_gate

    import random

    rng = random.Random(17)
    day0 = dt.datetime(2021, 5, 1)
    rows = [
        (1, day0 + dt.timedelta(days=d),
         round(20.0 + rng.uniform(-2, 2), 2) + (40.0 if d in (33, 77) else 0.0))
        for d in range(120)
    ]
    df = spark.createDataFrame(rows, "cell_id int, time timestamp, temp double")
    stats = (
        despike_mad(df, z_thresh=3.5)
        .select("cell_id", "med", "mad")
        .distinct()
    )
    path = str(tmp_path / "despike_stream")
    extra = spark.createDataFrame(
        [(9, day0, 123.0)], df.schema  # cell with no trained stats
    )
    df.union(extra).coalesce(1).write.parquet(path)
    out = streaming_despike_gate(
        spark.readStream.schema(df.schema).parquet(path), stats
    )
    q = (
        out.writeStream.format("memory")
        .queryName("despike_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["cell_id"], r["time"]): r["is_spike"]
        for r in spark.table("despike_stream").collect()
    }
    want = {
        (r["cell_id"], r["time"]): r["is_spike"]
        for r in despike_mad(df, z_thresh=3.5).collect()
    }
    for k, v in want.items():
        assert got[k] == v, (k, got[k], v)
    assert got[(9, day0)] is None  # untrained cell: alert, not a drop
    assert sum(1 for v in got.values() if v) == 2  # exactly the plants


def test_streaming_dsir_gate_matches_batch(spark, tmp_path):
    # E6f streaming face (r8): the row-local literal-table DSIR gate
    # must reproduce the batch scorer's weights BIT-exactly (dyadic
    # log-ratio grid => the stream's per-token fold and the batch
    # per-bucket grouping are the same exact sum), across micro-batches
    from mhw3d_detection_spark.operators.textops import (
        dsir_log_ratio_list,
        dsir_weights,
    )
    from mhw3d_detection_spark.streaming import streaming_dsir_gate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tpred = lambda s: s.isin("src0", "src1", "src2")  # noqa: E731
    lr = dsir_log_ratio_list(docs, tpred)
    assert len(lr) == 256 and any(w != 0.0 for w in lr)

    want = {
        r.doc_id: (r.n_tokens, r.dsir_weight)
        for r in dsir_weights(docs, tpred).collect()
    }

    path = str(tmp_path / "dsir_docs")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    half.write.mode("overwrite").parquet(path)
    docs.exceptAll(half).write.mode("append").parquet(path)
    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(path)
    q = (
        streaming_dsir_gate(stream, lr, threshold=0.0)
        .select("doc_id", "n_tokens", "dsir_weight", "keep")
        .writeStream.format("memory")
        .queryName("dsir_gate")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: (r.n_tokens, r.dsir_weight, r.keep)
        for r in spark.table("dsir_gate").collect()
    }
    # batch emits one row per doc WITH tokens; the gate scores all —
    # compare on the batch's domain, bit-for-bit
    assert set(want) <= set(got)
    for d, (nt, w) in want.items():
        gnt, gw, gk = got[d]
        assert gnt == nt and gw == w, (d, w, gw)
        assert gk == (1 if w > 0.0 else 0)


def test_streaming_outlier_gate_matches_batch(spark, tmp_path):
    # E3e streaming face (r8): the gate must score a live embedding
    # stream BIT-identically to the batch outlier screen (shared
    # scorer + dyadic distance grid), across micro-batches, against
    # the batch-trained stats table
    from mhw3d_detection_spark.operators.similarity import (
        embedding_outliers,
        outlier_stats,
    )
    from mhw3d_detection_spark.streaming import streaming_outlier_gate

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    stats = outlier_stats(emb).localCheckpoint()  # the trained artifact
    want = {
        r.vec_id: (r.dist_q, r.z, r.outlier)
        for r in embedding_outliers(emb).collect()
    }
    assert any(v[2] == 1 for v in want.values()) or len(want) > 0

    path = str(tmp_path / "emb_stream")
    half = emb.filter(F.col("vec_id") % 2 == 0)
    half.write.mode("overwrite").parquet(path)
    emb.exceptAll(half).write.mode("append").parquet(path)
    stream = spark.readStream.schema(emb.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(path)
    q = (
        streaming_outlier_gate(stream, stats)
        .writeStream.format("memory")
        .queryName("outlier_gate")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.vec_id: (r.dist_q, r.z, r.outlier)
        for r in spark.table("outlier_gate").collect()
    }
    assert got == want  # full domain AND bit-exact values


def test_r9_gates_out_of_order_microbatches(spark, tmp_path):
    """r10 (verdict #7): the two r9 stateless gates driven through the
    same out-of-order file-stream harness as the stateful ops — docs
    arrive as 3 arbitrarily-ordered micro-batches; every per-doc gate
    verdict must equal the batch application bit-for-bit (stateless
    row-local gates: arrival order free by construction; this pins
    it at the runner level, not just by inspection)."""
    import random

    from mhw3d_detection_spark.operators.sketches import bloom_bits
    from mhw3d_detection_spark.operators.textops import (
        curriculum_thresholds,
        shingles,
    )
    from mhw3d_detection_spark.streaming import (
        streaming_curriculum_gate,
        streaming_decontaminate_gate,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    thr = curriculum_thresholds(docs)
    sh = shingles(docs.filter(F.col("doc_id") % 20 == 0)).select(
        "doc_id", "shingle"
    ).distinct()
    bits = [r.bit for r in bloom_bits(sh, F.col("shingle")).collect()]
    corpus = docs.filter(F.col("doc_id") % 20 != 0)

    # batch truth
    want_cur = {
        r.doc_id: (r.quality, r.decile, r.keep)
        for r in streaming_curriculum_gate(corpus, thr, min_decile=3)
        .select("doc_id", "quality", "decile", "keep").collect()
    }
    want_dec = {
        r.doc_id: (r.n_shingles, r.n_maybe_hits, r.flagged)
        for r in streaming_decontaminate_gate(corpus, bits)
        .select("doc_id", "n_shingles", "n_maybe_hits", "flagged")
        .collect()
    }

    # 3 shuffled micro-batches through a real file stream
    rng = random.Random(7)
    incoming = corpus.collect()
    rng.shuffle(incoming)
    src = str(tmp_path / "gate_stream")
    third = (len(incoming) + 2) // 3
    for i in range(3):
        spark.createDataFrame(
            incoming[i * third : (i + 1) * third], corpus.schema
        ).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(corpus.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    for qname, gated in (
        (
            "cur_ooo",
            streaming_curriculum_gate(stream, thr, min_decile=3).select(
                "doc_id", "quality", "decile", "keep"
            ),
        ),
        (
            "dec_ooo",
            streaming_decontaminate_gate(stream, bits).select(
                "doc_id", "n_shingles", "n_maybe_hits", "flagged"
            ),
        ),
    ):
        q = (
            gated.writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / ("ckpt_" + qname)))
            .start()
        )
        q.awaitTermination(120)

    got_cur = {
        r.doc_id: (r.quality, r.decile, r.keep)
        for r in spark.table("cur_ooo").collect()
    }
    got_dec = {
        r.doc_id: (r.n_shingles, r.n_maybe_hits, r.flagged)
        for r in spark.table("dec_ooo").collect()
    }
    assert got_cur == want_cur and len(want_cur) == corpus.count()
    assert got_dec == want_dec


def test_srp_gate_out_of_order_microbatches(spark, tmp_path):
    """r10: the SRP semantic-decontamination gate through the same
    out-of-order file-stream harness — per-row (srp_sig, flagged)
    must equal the batch application across 3 shuffled micro-batches."""
    import random

    from mhw3d_detection_spark.streaming import (
        srp_gate_sigs,
        streaming_srp_decontaminate_gate,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    eval_emb = emb.filter(F.col("vec_id") % 25 == 0)
    corpus = emb.filter(F.col("vec_id") % 25 != 0)
    sigs = srp_gate_sigs(eval_emb, max_hamming=1)

    want = {
        r.vec_id: (r.srp_sig, r.flagged)
        for r in streaming_srp_decontaminate_gate(corpus, sigs)
        .select("vec_id", "srp_sig", "flagged").collect()
    }

    rng = random.Random(13)
    incoming = corpus.collect()
    rng.shuffle(incoming)
    src = str(tmp_path / "srp_stream")
    third = (len(incoming) + 2) // 3
    for i in range(3):
        spark.createDataFrame(
            incoming[i * third : (i + 1) * third], corpus.schema
        ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(corpus.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        streaming_srp_decontaminate_gate(stream, sigs)
        .select("vec_id", "srp_sig", "flagged")
        .writeStream.format("memory")
        .queryName("srp_ooo")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_srp"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.vec_id: (r.srp_sig, r.flagged)
        for r in spark.table("srp_ooo").collect()
    }
    assert got == want and len(want) == corpus.count()


def test_streaming_drift_gate_matches_batch_bitexact(spark, tmp_path):
    """r11 (VERDICT r10 next #6): the windowed drift monitor — per
    event-time window, KS/W1/PSI against a fixed reference histogram,
    emitted once on watermark close — must equal the batch twin
    window_drift_scores bit-for-bit across out-of-order microbatches."""
    import random

    from mhw3d_detection_spark.operators.analysis import (
        drift_ref_hist,
        window_drift_scores,
    )
    from mhw3d_detection_spark.streaming import streaming_drift_gate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ref = drift_ref_hist(docs.filter(F.col("doc_id") % 5 == 4), "n_chars")
    assert len(ref) > 10

    # live slice: n_chars arriving over 6 days, 3 windows of 2 days
    rng = random.Random(11)
    day0 = dt.datetime(2024, 3, 1)
    live = docs.filter(F.col("doc_id") % 5 != 4).select(
        "doc_id", "n_chars"
    ).collect()
    rows = [
        (
            day0 + dt.timedelta(days=rng.randrange(6), hours=rng.randrange(24)),
            float(r.n_chars),
        )
        for r in live
    ]
    df = spark.createDataFrame(rows, "time timestamp, val double")

    want = {
        r.win_id: (r.n_new, r.ks_stat, r.w1_stat, r.psi_stat)
        for r in window_drift_scores(
            df, ref, "val", time_col="time", window_days=2
        ).collect()
    }
    # 6 days from an unaligned start span 3-4 two-day windows
    assert len(want) in (3, 4)
    assert all(v[1] is not None for v in want.values())

    # out-of-order arrival: 3 shuffled microbatches + far-future sentinel
    shuffled = rows[:]
    rng.shuffle(shuffled)
    path = str(tmp_path / "drift_stream")
    third = (len(shuffled) + 2) // 3
    for i in range(3):
        spark.createDataFrame(
            shuffled[i * third : (i + 1) * third], df.schema
        ).coalesce(1).write.mode("append").parquet(path)
    spark.createDataFrame(
        [(day0 + dt.timedelta(days=400), 0.0)], df.schema
    ).coalesce(1).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = streaming_drift_gate(
        stream, ref, "val", time_col="time", window_days=2, watermark="7 days"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("drift_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_drift"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.win_id: (r.n_new, r.ks_stat, r.w1_stat, r.psi_stat)
        for r in spark.table("drift_stream").collect()
    }
    # every closed window matches the batch row bit-for-bit (the
    # sentinel's own window never closes, so exactly the real ones)
    assert got == want, (got, want)


def test_streaming_drift_gate_empty_ref_null_stats(spark, tmp_path):
    """Empty reference: the monitor must SEE n_old=0 (NULL stats,
    counts visible) — the ks_two_sample empty-slice contract, not a
    crash (same rule the r10 edge probe pinned batch-side)."""
    from mhw3d_detection_spark.operators.analysis import window_drift_scores
    from mhw3d_detection_spark.streaming import streaming_drift_gate

    day0 = dt.datetime(2024, 3, 1)
    rows = [(day0 + dt.timedelta(hours=h), float(40 + h)) for h in range(12)]
    df = spark.createDataFrame(rows, "time timestamp, val double")
    b = window_drift_scores(df, [], "val", time_col="time").collect()
    assert len(b) == 1 and b[0].n_new == 12 and b[0].ks_stat is None
    assert b[0].w1_stat is None and b[0].psi_stat is None

    path = str(tmp_path / "drift_empty")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    spark.createDataFrame(
        [(day0 + dt.timedelta(days=400), 0.0)], df.schema
    ).coalesce(1).write.mode("append").parquet(path)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    q = (
        streaming_drift_gate(stream, [], "val", time_col="time")
        .writeStream.format("memory")
        .queryName("drift_empty")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_drift_empty"))
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("drift_empty").collect()
    assert len(got) == 1 and got[0].n_new == 12
    assert got[0].ks_stat is None and got[0].psi_stat is None


def test_streaming_drift_gate_rq_digits_parity(spark, tmp_path):
    """r11 review follow-up: the continuous-value path (rq_digits
    domain guard) through the same out-of-order harness — the guard
    quantization must replay identically in the gate's Python fold
    (rq_py) and the batch twin's Column rq."""
    import random

    from mhw3d_detection_spark.operators.analysis import (
        drift_ref_hist,
        window_drift_scores,
    )
    from mhw3d_detection_spark.streaming import streaming_drift_gate

    rng = random.Random(23)
    day0 = dt.datetime(2024, 5, 6)  # Monday: windows align
    ref_rows = [
        (day0, rng.uniform(0.0, 30.0)) for _ in range(300)
    ]
    ref_df = spark.createDataFrame(ref_rows, "time timestamp, val double")
    ref = drift_ref_hist(ref_df, "val", rq_digits=1)

    live = [
        (
            day0 + dt.timedelta(days=rng.randrange(4), hours=rng.randrange(24)),
            rng.uniform(0.0, 35.0),
        )
        for _ in range(400)
    ]
    df = spark.createDataFrame(live, "time timestamp, val double")
    want = {
        r.win_id: (r.n_new, r.ks_stat, r.w1_stat, r.psi_stat)
        for r in window_drift_scores(
            df, ref, "val", time_col="time", window_days=2, rq_digits=1
        ).collect()
    }
    assert want and all(v[1] is not None for v in want.values())

    shuffled = live[:]
    rng.shuffle(shuffled)
    path = str(tmp_path / "drift_rq_stream")
    third = (len(shuffled) + 2) // 3
    for i in range(3):
        spark.createDataFrame(
            shuffled[i * third : (i + 1) * third], df.schema
        ).coalesce(1).write.mode("append").parquet(path)
    spark.createDataFrame(
        [(day0 + dt.timedelta(days=400), 0.0)], df.schema
    ).coalesce(1).write.mode("append").parquet(path)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    q = (
        streaming_drift_gate(
            stream, ref, "val", time_col="time", window_days=2,
            watermark="7 days", rq_digits=1,
        )
        .writeStream.format("memory")
        .queryName("drift_rq")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_drift_rq"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.win_id: (r.n_new, r.ks_stat, r.w1_stat, r.psi_stat)
        for r in spark.table("drift_rq").collect()
    }
    assert got == want, (got, want)


def test_stream_stream_attribution_join(spark, tmp_path):
    """SP8: the family's first STREAM-STREAM join — purchases and
    clicks replayed as two independent file streams (several files per
    side, so matches must survive cross-microbatch state buffering)
    must attribute exactly the pairs the identical batch join finds.
    Watermark is generous (the files are not time-ordered; lateness is
    not under test here — bounded-state expiry is a plan property,
    asserted via the EventTimeWatermark nodes below)."""
    from mhw3d_detection_spark.sources.tables import load_table
    from mhw3d_detection_spark.streaming import streaming_attribution_join

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "ts", "event_type"
    )
    purch = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    p_path, c_path = str(tmp_path / "purch"), str(tmp_path / "clicks")
    purch.repartition(3).write.parquet(p_path)
    clicks.repartition(4).write.parquet(c_path)

    want = {
        (r.user, r.purchase_ts, r.click_ts)
        for r in streaming_attribution_join(purch, clicks).collect()
    }
    assert len(want) == 25  # the sf0.001 ground truth, non-trivial

    ps = spark.readStream.schema(purch.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(p_path)
    cs = spark.readStream.schema(clicks.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(c_path)
    joined = streaming_attribution_join(
        ps, cs, watermark="40 days"
    )
    # both sides must carry an event-time watermark (state expiry)
    plan = joined._jdf.queryExecution().analyzed().toString()
    assert plan.count("EventTimeWatermark") == 2
    q = (
        joined.writeStream.format("memory")
        .queryName("attrib_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.user, r.purchase_ts, r.click_ts)
        for r in spark.table("attrib_stream").collect()
    }
    assert got == want
