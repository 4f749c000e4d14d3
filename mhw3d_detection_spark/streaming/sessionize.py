"""Structured-Streaming twins of the batch operators (SURVEY.md §2.10
— an *extension*: the reference is pure batch).

MHW event detection streams through ONE face,
:func:`streaming_detect_partials`: every micro-batch is compressed to
the batch engine's own run partials, and
:func:`~mhw3d_detection_spark.operators.detection.merge_detect_partials`
over the store yields the batch events — the same RLE, the W4
min-duration filter BEFORE W5 gap joining, the same event ids. The
remaining operators are windowed aggregates, stream-static joins and
stateless gates.

Scale notes: all stateful operators below are keyed by cell (or by
their own key) — state partitions by the grouping key; the watermark
bounds state size (late rows beyond it are dropped); output mode is
append-only once a window closes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def streaming_windowed_stats(
    stream: DataFrame,
    *,
    cell_col: str = "cell_id",
    time_col: str = "time",
    value_col: str = "temp",
    window: str = "1 day",
    slide: str | None = None,
    watermark: str = "2 days",
) -> DataFrame:
    """Tumbling/sliding windowed aggregation with late-data handling —
    the streaming analogue of the per-DOY batch aggregates (A1)."""
    w = (
        F.window(F.col(time_col), window, slide)
        if slide
        else F.window(F.col(time_col), window)
    )
    return (
        stream.withWatermark(time_col, watermark)
        .groupBy(F.col(cell_col), w)
        .agg(
            F.avg(value_col).alias("mean"),
            F.min(value_col).alias("min"),
            F.max(value_col).alias("max"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            cell_col,
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "mean",
            "min",
            "max",
            "n",
        )
    )


def streaming_severity(
    stream: DataFrame,
    clim: DataFrame,
    *,
    cell_col: str = "cell_id",
    time_col: str = "time",
    temp_col: str = "temp",
    mode: str = "legacy",
) -> DataFrame:
    """EP2 streaming twin: score a live sample stream against a STATIC
    climatology — :func:`~mhw3d_detection_spark.operators.severity.calculate_severity`
    itself, as a stream-static join (each micro-batch joins the dim
    table; no streaming state at all), with the same ``mode`` default.
    This is the operator that turns a raw sensor stream into the input
    of :func:`streaming_detect_partials` (which derives its own
    exceedance flag).
    """
    from mhw3d_detection_spark.operators.severity import calculate_severity

    return calculate_severity(
        stream,
        clim,
        cell_col=cell_col,
        time_col=time_col,
        temp_col=temp_col,
        mode=mode,
    )


def streaming_dedup(
    stream: DataFrame,
    keys: list[str],
    *,
    time_col: str = "time",
    watermark: str = "1 day",
) -> DataFrame:
    """E1 streaming twin: exact dedup within the watermark horizon
    (``dropDuplicatesWithinWatermark`` keeps state only for the
    watermark window — bounded memory at unbounded input)."""
    return stream.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def streaming_similarity(
    stream: DataFrame,
    probes: DataFrame,
    *,
    min_cosine: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Streaming vector-similarity twin (continuous matching of an
    embedding stream against a static probe set — the online shape of
    E3, cf. the streaming time-series similarity line of work in
    PAPERS.md): each micro-batch broadcast-joins the (small) probe
    dim, scores cosine JVM-side with the exact batch kernels, and
    emits matches above ``min_cosine``. Stateless per batch — no
    watermark, no store — so it scales exactly like the batch
    broadcast scorer. Typical sinks: an alerts topic, or a dedup gate
    dropping incoming docs that match an eval probe too closely."""
    from mhw3d_detection_spark.operators.similarity import as_double, dot, norm

    p = probes.select(
        F.col(id_col).alias("probe_id"),
        as_double(F.col(vec_col)).alias("__qv"),
    )
    s = stream.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("__sv")
    )
    cos = dot(F.col("__sv"), F.col("__qv")) / (
        norm(F.col("__sv")) * norm(F.col("__qv"))
    )
    return (
        s.crossJoin(F.broadcast(p))
        .filter(F.col(id_col) != F.col("probe_id"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= min_cosine)
        .select(id_col, "probe_id", "cosine")
    )


def streaming_lsh_dedup(
    stream: DataFrame,
    corpus_bands: DataFrame,
    *,
    text_col: str = "text",
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    fast_hash: bool = False,
) -> DataFrame:
    """Near-dup gate at ingest: match an incoming document stream
    against a static corpus's LSH band index (E2's streaming face —
    the online shape of data-pipeline dedup: drop or flag new docs
    that collide with anything already ingested).

    Signatures come from :func:`operators.textops.minhash_bands_rowlocal`
    — the zero-state, row-local variant (a streaming frame cannot run
    the batch path's explode-then-groupBy aggregation without unbounded
    state; per-row array expressions need none) — and are bit-identical
    to the batch signatures, so the stream joins the SAME index the
    batch pipeline built (``minhash_signatures`` over the corpus,
    written once and read here as a static frame).

    Stateless stream-static equi-join on (band_id, band_sig): per
    micro-batch the corpus side broadcasts (or AQE picks shuffle-hash
    at index scale); no watermark, no store. A doc colliding with the
    same corpus doc in several bands emits one row per band — the
    downstream gate treats any row as "duplicate", so per-pair
    distinctness (which would need state) is deliberately not enforced;
    aggregate in the sink's foreachBatch if unique pairs matter.

    Output: ``(doc_id, dup_of, band_id)`` — the incoming doc, the
    colliding corpus doc, and which band fired.
    """
    from mhw3d_detection_spark.operators.textops import minhash_bands_rowlocal

    # fast_hash must match the hash the corpus index was built with —
    # band signatures from different base hashes never collide
    new_bands = minhash_bands_rowlocal(
        stream,
        text_col=text_col,
        n_hashes=n_hashes,
        band_size=band_size,
        shingle_n=shingle_n,
        fast_hash=fast_hash,
    )
    idx = corpus_bands.select(
        F.col("doc_id").alias("dup_of"), "band_id", "band_sig"
    )
    return (
        new_bands.join(idx, ["band_id", "band_sig"])
        .filter(F.col("doc_id") != F.col("dup_of"))
        .select("doc_id", "dup_of", "band_id")
    )


def streaming_winnow_dedup(
    stream: DataFrame,
    corpus_fps: DataFrame,
    *,
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
    fast_hash: bool = False,
) -> DataFrame:
    """Substring-dup gate at ingest (the winnowing operator's streaming
    face, complementing :func:`streaming_lsh_dedup`'s whole-document
    Jaccard gate): match incoming docs' winnowing fingerprints
    (Schleimer et al. SIGMOD'03) against a static corpus fingerprint
    index — any shared token run of >= k + window - 1 tokens is
    GUARANTEED to fire at least one shared fingerprint, so copied
    passages are caught even when the rest of the document differs.

    The sketch build (:func:`operators.textops.winnow_fingerprints`)
    is row-local array expressions + one explode — stateless, so it
    runs unmodified on a streaming frame; the gate itself is a
    stateless stream-static equi-join on ``fp`` (no watermark, no
    state store). Fingerprints are bit-identical to the batch build
    (same expressions, same hash), so the stream joins the SAME index
    the batch pipeline wrote. A doc sharing several fingerprints with
    the same corpus doc emits one row per fingerprint — aggregate to
    ``n_shared >= min_shared`` in the sink's foreachBatch if the batch
    path's collision pruning matters (per-pair counting would need
    unbounded state here).

    ``k``/``window``/``fast_hash`` must match the index build. Output:
    ``(doc_id, dup_of, fp)``.
    """
    from mhw3d_detection_spark.operators.textops import winnow_fingerprints

    new_fps = winnow_fingerprints(
        stream, text_col=text_col, k=k, window=window, fast_hash=fast_hash
    )
    idx = corpus_fps.select(F.col("doc_id").alias("dup_of"), "fp")
    return (
        new_fps.join(idx, "fp")
        .filter(F.col("doc_id") != F.col("dup_of"))
        .select("doc_id", "dup_of", "fp")
    )


def streaming_quality_gate(
    stream: DataFrame,
    *,
    text_col: str = "text",
    keep_only: bool = True,
) -> DataFrame:
    """Model-based quality filter at ingest (E4e's streaming face): the
    literal-weight logistic of ``operators.textops.quality_scores``
    applied to an incoming document stream. The scorer is a pure
    narrow projection — no aggregation, no watermark, no state — so it
    composes with any streaming source and scales exactly like the
    batch scorer (one scan, zero shuffles). With ``keep_only`` the gate
    drops failing docs; otherwise it annotates every doc with
    ``(quality_logit, quality_prob, keep)`` for a downstream router.

    The batch and streaming paths are the SAME projection over the
    same plan literals, so a doc scores identically whether it arrives
    in bulk or live — the parity a curation pipeline needs to mix
    backfill and ingest."""
    from mhw3d_detection_spark.operators.textops import quality_scores

    scored = quality_scores(stream, text_col)
    if keep_only:
        scored = scored.filter(F.col("keep") == 1)
    return scored


def streaming_dsir_gate(
    stream: DataFrame,
    lr_weights: list[float],
    *,
    threshold: float = 0.0,
    text_col: str = "text",
    keep_only: bool = False,
) -> DataFrame:
    """DSIR importance gate at ingest (E6f's streaming face): score
    each incoming doc's target-likeness with the TRAINED per-bucket
    log-ratio table (``operators.textops.dsir_log_ratio_list`` — built
    batch-side, ``n_buckets`` floats, embedded as a plan literal) and
    keep/flag docs above ``threshold``. Row-local: the token fold
    indexes the literal array per token — no explode, no aggregation,
    no state, composes with any source.

    BIT-EXACT batch/stream parity: the table's entries live on the
    dyadic 1/2^16 grid, so the stream's per-token left fold and the
    batch scorer's per-bucket ``Σ n·lr`` grouping are the same exact
    dyadic sum under different association — identical bits (the
    CUSUM/EWMA argument; pinned by
    tests/test_streaming.py::test_streaming_dsir_gate_matches_batch).

    Output: input columns + ``(n_tokens, dsir_weight, keep)``."""
    from mhw3d_detection_spark.operators.textops import (
        minhash_base,
        tokens_col,
    )

    B = len(lr_weights)
    lit_lr = F.array(*[F.lit(float(w)) for w in lr_weights])
    toks = tokens_col(F.col(text_col))
    weight = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc
        + F.element_at(lit_lr, F.pmod(minhash_base(t), F.lit(B)).cast("int") + 1),
    )
    out = stream.select(
        "*",
        F.size(toks).cast("long").alias("n_tokens"),
        weight.alias("dsir_weight"),
    ).withColumn(
        "keep",
        (F.col("dsir_weight") > F.lit(float(threshold))).cast("int"),
    )
    if keep_only:
        out = out.filter(F.col("keep") == 1)
    return out


def streaming_outlier_gate(
    stream: DataFrame,
    stats: DataFrame,
    *,
    z_thresh: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    keep_only: bool = False,
) -> DataFrame:
    """Per-class embedding outlier gate at ingest (E3e's streaming
    face): score each incoming embedding's distance to its class
    centroid against the BATCH-TRAINED stats table
    (``operators.similarity.outlier_stats`` — labels-sized, static)
    and flag/drop z-score outliers before they enter the corpus — the
    online shape of CLIP-style pair filtering.

    Stateless: a stream-static broadcast join plus a row-local dyadic
    distance fold — no watermark, no state; and because the scorer IS
    the batch scorer (:func:`~...similarity.score_outliers`) over the
    same dyadic grid, a vector scores BIT-identically live or in
    backfill. ``keep_only=True`` drops flagged rows; otherwise every
    row is annotated ``(dist_q, z, outlier)``."""
    from mhw3d_detection_spark.operators.similarity import score_outliers

    out = score_outliers(
        stream, stats, z_thresh=z_thresh,
        id_col=id_col, vec_col=vec_col, label_col=label_col,
    )
    if keep_only:
        out = out.filter(F.col("outlier") == 0)
    return out


def streaming_cardinality(
    stream: DataFrame,
    item_col: str,
    *,
    time_col: str = "time",
    window: str = "1 day",
    watermark: str = "1 day",
    group_cols: list[str] | None = None,
    hash_fn=None,
) -> DataFrame:
    """Live distinct-count sketch (E7b's streaming face): per
    time-window HLL registers over an item stream — "how many distinct
    tokens/urls/users in each window per source", continuously.

    Emits the REGISTER table (``window, group_cols..., reg, rho``),
    not the estimate: the register max IS the streaming aggregate
    (state = windows × groups × ≤1024 rows, closed by the watermark),
    while the estimate needs a second aggregate over registers —
    chained streaming aggregations are not allowed in append mode, and
    materializing sketch state is the right contract anyway: stored
    register tables from any number of windows, sources, or pipelines
    merge by register-wise max (``operators.sketches.hll_estimate``
    over the union), exactly like the detection partials store. The
    registers a batch pipeline builds over the same rows are
    bit-identical (same hash, same split) — pinned by test."""
    from mhw3d_detection_spark.operators.sketches import hll_reg_rho
    from mhw3d_detection_spark.operators.textops import minhash_base

    if hash_fn is None:
        hash_fn = minhash_base
    group_cols = group_cols or []
    reg, rho = hll_reg_rho(F.col(item_col), hash_fn)
    return (
        # same NULL-item drop as the batch hll_registers (parity)
        stream.filter(F.col(item_col).isNotNull())
        .withWatermark(time_col, watermark)
        .select(
            F.col(time_col),
            *group_cols,
            reg.alias("reg"),
            rho.alias("rho"),
        )
        .groupBy(F.window(time_col, window), *group_cols, "reg")
        .agg(F.max("rho").alias("rho"))
    )


def streaming_frequency(
    stream: DataFrame,
    item_col: str,
    *,
    time_col: str = "time",
    window: str = "1 day",
    watermark: str = "1 day",
    group_cols: list[str] | None = None,
    hash_fn=None,
) -> DataFrame:
    """Live Count-Min counters per time window (E7c's streaming face):
    emits ``(window, group_cols..., j, col, cnt)`` — the mergeable
    SKETCH, same contract as :func:`streaming_cardinality` (probe
    estimation is a cheap batch read over stored counters via
    ``operators.sketches.cm_estimate``; stored windows merge by SUM).
    State = windows × groups × CM_D·CM_W counters, closed by the
    watermark. Counters are bit-identical to the batch
    ``cm_sketch`` over the same rows — pinned by test. ``hash_fn``
    MUST match the batch sketches these windows merge with."""
    from mhw3d_detection_spark.operators.sketches import cm_buckets
    from mhw3d_detection_spark.operators.textops import minhash_base

    if hash_fn is None:
        hash_fn = minhash_base
    group_cols = group_cols or []
    return (
        # same NULL-item drop as the batch cm_sketch (parity)
        stream.filter(F.col(item_col).isNotNull())
        .withWatermark(time_col, watermark)
        .select(
            F.col(time_col),
            *group_cols,
            F.explode(cm_buckets(F.col(item_col), hash_fn)).alias("b"),
        )
        .groupBy(
            F.window(time_col, window),
            *group_cols,
            F.col("b.j").alias("j"),
            F.col("b.col").alias("col"),
        )
        .agg(F.count("*").alias("cnt"))
    )


def streaming_histogram(
    stream: DataFrame,
    value_col: str,
    *,
    time_col: str = "time",
    window: str = "1 day",
    watermark: str = "1 day",
    group_cols: list[str] | None = None,
    lo: float,
    hi: float,
    n_bins: int = 128,
) -> DataFrame:
    """Live fixed-grid histogram per time window (E7d's streaming
    face): emits ``(window, group_cols..., bin, cnt)`` — the mergeable
    sketch; quantile readout batch-side via
    ``operators.sketches.hist_quantiles`` over any union of stored
    windows (fixed grid ⇒ merges exact). State = windows × groups ×
    n_bins counters, closed by the watermark."""
    from mhw3d_detection_spark.operators.sketches import hist_bin

    group_cols = group_cols or []
    b = hist_bin(F.col(value_col), lo=lo, hi=hi, n_bins=n_bins)
    return (
        stream.withWatermark(time_col, watermark)
        .select(F.col(time_col), *group_cols, b.alias("bin"))
        .groupBy(F.window(time_col, window), *group_cols, "bin")
        .agg(F.count("*").alias("cnt"))
    )


def streaming_area_stats(
    stream: DataFrame,
    *,
    cell_col: str = "cell_id",
    time_col: str = "time",
    temp_col: str = "temp",
    flag_col: str = "exceed",
    width: int = 5,
    window: str = "1 day",
    watermark: str = "2 days",
) -> DataFrame:
    """SP1 streaming twin: live regional MHW coverage — cos(latitude)
    area-weighted active fraction and weighted mean per time window over
    an already-scored sample stream (the output of
    :func:`streaming_severity`).

    The weight is a stateless per-row projection (grid geometry from the
    cell id, exactly the batch :func:`operators.spatial.grid_coords`
    rule), so the only streaming state is the windowed aggregate —
    O(open windows) rows, bounded by the watermark. This is the live
    dashboard counterpart of the batch ``area_weighted_daily``: regional
    "% of basin in heatwave" updating as microbatches land.
    """
    from mhw3d_detection_spark.operators.spatial import grid_coords

    g = grid_coords(stream, cell_col=cell_col, width=width)
    w = F.cos(F.radians(F.col("lat")))
    act = F.col(flag_col).cast("double")
    return (
        g.select(
            F.col(time_col),
            w.alias("__w"),
            (w * act).alias("__wa"),
            (w * F.col(temp_col)).alias("__wt"),
            act.alias("__a"),
        )
        .withWatermark(time_col, watermark)
        .groupBy(F.window(F.col(time_col), window))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("__a").cast("bigint").alias("n_active"),
            (F.sum("__wa") / F.sum("__w")).alias("area_frac_active"),
            (F.sum("__wt") / F.sum("__w")).alias("w_mean_temp"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_cells",
            "n_active",
            "area_frac_active",
            "w_mean_temp",
        )
    )


def streaming_detect_partials(
    stream: DataFrame,
    partials_path: str,
    *,
    cell_col: str = "cell_id",
    time_col: str = "time",
    temp_col: str = "temp",
    seas_col: str = "seas",
    thresh_col: str = "thresh",
):
    """The one streaming MHW detector: every micro-batch of a
    severity-scored stream is compressed to mergeable run partials
    (:func:`~mhw3d_detection_spark.operators.detection.detect_partials`)
    and written to a partials store; running
    :func:`~mhw3d_detection_spark.operators.detection.merge_detect_partials`
    over the store at any point yields the whole-history batch events
    (equal up to floating-point reassociation in the re-centered
    moments, ~1e-12 relative) — including events still growing across
    micro-batch boundaries, which the run coalescing re-joins.

    Returns a configured ``DataStreamWriter`` (foreachBatch sink); the
    caller adds checkpoint/trigger and ``.start()``s. Unlike the
    windowed twins this emits a SIDE STORE rather than a result stream:
    the partials table is the durable, replayable state, and the merge
    is a cheap runs-sized batch job — the lambda-architecture shape for
    a 100 TB backfill + live tail. Each micro-batch OVERWRITES its own
    ``batch=<id>`` partition directory, so foreachBatch's at-least-once
    replays are idempotent — a re-run batch replaces its rows instead
    of appending duplicates. Every batch writes every partial column,
    and the store must keep them all: the merge refuses a store that
    lacks one, whichever metrics its readers select. The extra
    ``batch`` partition column is inert downstream: the merge's run
    coalescing drops it at the first aggregate.

    CONTRACT: the micro-batches together hold each (cell, day) at most
    once; they may otherwise arrive in ANY order — late days, days
    inside an earlier batch's run, batches out of time order — with no
    watermark, because a batch's runs never span a day it lacks
    (:func:`~mhw3d_detection_spark.operators.detection.detect_partials`).
    A day delivered by two batches makes the merge raise rather than
    count it twice.
    """
    from mhw3d_detection_spark.operators.detection import detect_partials

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # unconditional write: an empty batch writes an empty partition
        # (harmless), and skipping an emptiness probe avoids evaluating
        # the batch plan twice
        detect_partials(
            batch_df,
            cell_col=cell_col,
            time_col=time_col,
            temp_col=temp_col,
            seas_col=seas_col,
            thresh_col=thresh_col,
        ).write.mode("overwrite").parquet(f"{partials_path}/batch={batch_id}")

    return stream.writeStream.foreachBatch(sink)


def streaming_bm25_gate(
    stream: DataFrame,
    term_idf: dict[str, float],
    avgdl: float,
    *,
    k1: float = 1.25,
    b: float = 0.75,
    min_score: float | None = None,
    text_col: str = "text",
) -> DataFrame:
    """BM25 relevance gate at ingest (E4c's streaming face): score each
    arriving document against a FIXED query-term bag whose idf/avgdl
    statistics were trained once on a reference corpus
    (``operators.textops.bm25_stats``) and folded in as plan LITERALS —
    the same train-once/deploy-literal seam as the quality classifier.

    Everything is row-local: ``tf`` of each query term comes from a
    ``filter`` over the doc's own token array, ``dl`` is its size — no
    aggregation, no watermark, no state, so the gate composes with any
    source and scales as a narrow map. Scores are BIT-IDENTICAL to the
    batch ranker on the same corpus stats: each term contribution is
    rq6-quantized exactly as in ``bm25_topk``, and a fixed-order sum of
    dyadic-grid values equals the batch aggregate's any-order sum.

    ``min_score`` turns annotation into a gate. Docs with no query-term
    hits score 0.0 (the batch TOP-K never surfaces them; a stream must
    still route them). Returns
    ``(..., dl, n_hit_terms, score)``.
    """
    from mhw3d_detection_spark.operators.textops import tokens_col
    from mhw3d_detection_spark.queries.base import rq

    toks = tokens_col(F.col(text_col))
    out = stream.withColumn("__toks", toks).withColumn(
        "dl", F.size("__toks").cast("long")
    )
    contribs = []
    hits = []
    for t in sorted(term_idf):
        tf = F.size(F.filter(F.col("__toks"), lambda x: x == F.lit(t)))
        c = (
            F.lit(float(term_idf[t]))
            * (tf * F.lit(k1 + 1.0))
            / (
                tf
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(float(avgdl)))
            )
        )
        contribs.append(F.when(tf > 0, rq(c, 6)).otherwise(F.lit(0.0)))
        hits.append(F.when(tf > 0, 1).otherwise(0))
    score = rq(sum(contribs, F.lit(0.0)), 4)
    out = (
        out.withColumn("n_hit_terms", sum(hits, F.lit(0)).cast("int"))
        .withColumn("score", score)
        .drop("__toks")
    )
    if min_score is not None:
        out = out.filter(F.col("score") >= F.lit(float(min_score)))
    return out


def streaming_feature_hash(
    stream: DataFrame,
    *,
    text_col: str = "text",
    dim: int = 64,
) -> DataFrame:
    """Vocabulary-free featurization at ingest (E4's feature-hashing
    streaming face): the row-local dense builder
    (:func:`operators.textops.feature_hash_dense`) applied to an
    incoming document stream — a pure narrow projection (the fold is
    over each doc's own token array), so no aggregation, watermark or
    state, and the vector a doc gets live is bit-identical to the one
    the batch featurizer gives it (the backfill/ingest parity a
    training-feature pipeline needs). Output: ``(doc_id, features:
    array<long>[dim])``."""
    from mhw3d_detection_spark.operators.textops import feature_hash_dense

    return feature_hash_dense(stream, text_col=text_col, dim=dim)


def streaming_despike_gate(
    stream: DataFrame,
    robust_stats: DataFrame,
    *,
    z_thresh: float = 3.5,
    cell_col: str = "cell_id",
    temp_col: str = "temp",
    keep_only: bool = False,
) -> DataFrame:
    """W17's streaming face: flag (or drop) spikes in a live sample
    stream against TRAINED per-cell robust stats — the classic QC
    deployment (median/MAD fit on a clean baseline window, applied to
    the feed; an online median would let a burst of spikes drag its
    own yardstick, which is the failure robust stats exist to avoid).

    ``robust_stats`` is a static ``(cell, med, mad)`` dim — build it
    with ``despike_mad(baseline).select(cell, med, mad).distinct()``
    or any fit of record. Stream-static broadcast join + the SAME
    modified-z decision expression as the batch operator
    (``0.6745 * |x_q - med| > z_thresh * mad``, inputs rq2-quantized),
    so a sample is flagged live iff the batch QC would flag it —
    stateless, no watermark, composes before ``streaming_severity``
    in the ingest chain. Cells absent from the dim pass through
    unflagged (``is_spike`` NULL → a monitoring alert, not a drop).
    """
    from mhw3d_detection_spark.queries.base import rq

    j = stream.join(F.broadcast(robust_stats), cell_col, "left")
    xq = rq(F.col(temp_col), 2)
    dev = F.abs(xq - F.col("med"))
    is_spike = F.when(
        F.col("mad") > 0,
        F.lit(0.6745) * dev > F.lit(float(z_thresh)) * F.col("mad"),
    ).otherwise(F.when(F.col("mad").isNotNull(), dev > 0))
    out = j.withColumn("is_spike", is_spike)
    if keep_only:
        return out.filter(~F.coalesce(F.col("is_spike"), F.lit(False)))
    return out


def streaming_curriculum_gate(
    stream: DataFrame,
    thresholds: dict[str, list[float]],
    *,
    min_decile: int = 0,
    text_col: str = "text",
    keep_only: bool = False,
) -> DataFrame:
    """Quality-decile gate at ingest — E6h's streaming face: score each
    incoming doc with the SAME row-local composite quality expression
    the batch deciles use (``operators.textops.composite_quality_col``
    — shared code, cannot drift), look up its source's TRAINED decile
    thresholds (batch-side exact percentiles, rq6-quantized, embedded
    here as a plan-literal map), and tag/keep docs at or above
    ``min_decile``. Row-local: one map lookup + a 9-element fold — no
    explode, no aggregation, no state; composes with any source.

    Batch/stream parity is definitional: quality is rq4 bits from the
    shared expression, thresholds are the same rq6 literals, and the
    decile count compares identical bits — pinned by
    tests/test_r9_hardening.py::TestStreamingCurriculumGate.

    Docs from sources absent from ``thresholds`` get NULL decile and
    ``keep`` 0 (route to a default/quarantine sink, the unknown-source
    monitoring convention of the other gates).

    Output: input columns + ``(quality, decile, keep)``. Raises if the
    input stream already carries one of those names — silently
    shadowing a user column would make every downstream reference
    ambiguous (advice r10 #4)."""
    from mhw3d_detection_spark.operators.textops import (
        composite_quality_col,
    )
    from mhw3d_detection_spark.queries.base import rq

    _gate_collision_check(stream, ("quality", "decile", "keep"))

    entries: list = []
    for src, thr in thresholds.items():
        entries.append(F.lit(src))
        entries.append(F.array(*[F.lit(float(x)) for x in thr]))
    thr_arr = F.element_at(F.create_map(*entries), F.col("source"))
    # materialize quality as a column FIRST: referencing the composite
    # expression inside the fold lambda would re-evaluate the regexp
    # tokenizer ~10x per row (subexpression elimination does not hoist
    # into HOF lambdas — code-review r9 finding #2)
    scored = stream.select(
        "*", rq(composite_quality_col(text_col), 4).alias("quality")
    )
    decile = F.aggregate(
        thr_arr,
        F.lit(0),
        lambda acc, x: acc + (F.col("quality") > x).cast("int"),
    )
    out = scored.select(
        "*", decile.cast("int").alias("decile")
    ).withColumn(
        "keep",
        F.coalesce(
            F.col("decile") >= F.lit(int(min_decile)), F.lit(False)
        ).cast("int"),
    )
    if keep_only:
        out = out.filter(F.col("keep") == 1)
    return out


def _gate_collision_check(stream: DataFrame, out_cols: tuple) -> None:
    """Stateless gates append fixed-name output columns; an input
    schema that already carries one would be silently duplicated /
    shadowed and every downstream reference turns ambiguous. Fail
    loudly instead (advice r10 #4)."""
    clash = [c for c in stream.columns if c in out_cols]
    if clash:
        raise ValueError(
            f"input stream already carries gate output column(s) "
            f"{clash}; rename them before applying the gate "
            f"(gate appends {list(out_cols)})"
        )


def streaming_decontaminate_gate(
    stream: DataFrame,
    bloom_set_bits: list[int],
    *,
    m: int = 4096,
    k: int = 4,
    flag_frac: float = 0.5,
    shingle_n: int = 3,
    text_col: str = "text",
    drop_flagged: bool = False,
) -> DataFrame:
    """Bloom decontamination at ingest — E2e's streaming face: the
    eval-set Bloom (``operators.sketches.bloom_bits`` built batch-side,
    ≤ m set-bit positions) packed into a LITERAL 64-bit bitmask array,
    probed by a row-local shingle fold — no join, no state, no
    explode; composes with any source. The batch twin
    (``bloom_decontaminate``) stream-static-joins the same sketch;
    THIS embeds it, trading plan size (m/64 longs ≈ 64 literals at the
    default m=4096) for a zero-shuffle gate.

    Membership matches ``_bloom_positions``' md5-segment scheme
    bit-for-bit (``k`` disjoint 32-bit segments mod m — ``k`` and
    ``m`` MUST match what ``bloom_bits`` used; probing a k<4 sketch
    with 4 segments would demand unset bits and return FALSE
    NEGATIVES, the one Bloom error that must never happen — advice
    r10 #3), and shingles
    come from the SHARED ``shingle_array_sql`` (dedup'd with
    array_distinct = the batch path's DISTINCT) — so flags agree with
    the batch pre-filter exactly; pinned by
    tests/test_r9_hardening.py::TestStreamingDecontaminateGate.

    Output: input columns + ``(n_shingles, n_maybe_hits, hit_frac,
    flagged)``; docs with fewer than ``shingle_n`` tokens get 0
    shingles, NULL hit_frac, flagged 0 (nothing to test). Raises on
    an input column named like an output (advice r10 #4)."""
    from mhw3d_detection_spark.operators.textops import (
        shingle_array_sql,
        tokens_col,
    )

    if not (1 <= int(k) <= 4):
        raise ValueError(
            f"k={k}: md5 supplies at most 4 disjoint 32-bit segments "
            "(and a Bloom needs >= 1); build the sketch with "
            "bloom_bits(..., k<=4) for this gate"
        )
    _gate_collision_check(
        stream, ("n_shingles", "n_maybe_hits", "hit_frac", "flagged")
    )
    n_words = (int(m) + 63) // 64
    words = [0] * n_words
    for b in bloom_set_bits:
        if not (0 <= int(b) < int(m)):
            raise ValueError(f"bloom bit {b} outside [0, {m})")
        words[int(b) >> 6] |= 1 << (int(b) & 63)
    # LongType is signed: re-bias any word with bit 63 set
    signed = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    words_sql = "array(" + ", ".join(f"{w}L" for w in signed) + ")"

    def bit_sql(seg: str) -> str:
        pos = f"pmod(cast(conv({seg}, 16, 10) as bigint), {int(m)})"
        word = f"element_at({words_sql}, cast({pos} / 64 as int) + 1)"
        return f"((shiftright({word}, cast({pos} % 64 as int)) & 1) = 1)"

    member = " AND ".join(
        bit_sql(f"substring(h, {1 + 8 * j}, 8)") for j in range(int(k))
    )
    sh = f"array_distinct({shingle_array_sql('__toks', int(shingle_n))})"
    hits = (
        f"aggregate(transform(transform({sh}, s -> md5(cast(s as binary))), "
        f"h -> case when {member} then 1 else 0 end), 0, (acc, x) -> acc + x)"
    )
    n_sh = f"size({sh})"
    out = (
        stream.withColumn("__toks", tokens_col(F.col(text_col)))
        .withColumn("n_shingles", F.expr(n_sh).cast("long"))
        .withColumn("n_maybe_hits", F.expr(hits).cast("long"))
        .drop("__toks")
        .withColumn(
            "hit_frac",
            F.when(
                F.col("n_shingles") > 0,
                F.col("n_maybe_hits") / F.col("n_shingles"),
            ),
        )
        .withColumn(
            "flagged",
            F.coalesce(
                F.col("hit_frac") >= F.lit(float(flag_frac)), F.lit(False)
            ).cast("int"),
        )
    )
    if drop_flagged:
        out = out.filter(F.col("flagged") == 0)
    return out


def srp_gate_sigs(
    eval_emb,
    *,
    max_hamming: int = 1,
    n_bits: int = 16,
    dim: int = 64,
    seed: int = 1213,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[int]:
    """Build the literal signature set for
    :func:`streaming_srp_decontaminate_gate`: SRP fingerprints of the
    eval/benchmark vectors, EXPANDED to their full Hamming-``max_h``
    neighborhood at build time (16-bit signatures: ≤ sigs·(1 + 16 + …)
    entries) — so the serve-side probe is ONE exact set-membership
    test, no per-row Hamming loop against the eval set. The
    neighborhood-expansion twin of the Bloom gate's bitmask: pay
    memory at BUILD, make the gate row-local and loop-free."""
    from itertools import combinations

    from mhw3d_detection_spark.operators.similarity import srp_signatures

    base = {
        int(r["srp_sig"])
        for r in srp_signatures(
            eval_emb, n_bits=n_bits, dim=dim, seed=seed,
            id_col=id_col, vec_col=vec_col,
        ).collect()
    }
    out = set(base)
    for h in range(1, int(max_hamming) + 1):
        for bits in combinations(range(n_bits), h):
            mask = 0
            for b in bits:
                mask |= 1 << b
            out.update(s ^ mask for s in base)
    return sorted(out)


def streaming_srp_decontaminate_gate(
    stream: DataFrame,
    gate_sigs: list[int],
    *,
    n_bits: int = 16,
    dim: int = 64,
    seed: int = 1213,
    vec_col: str = "embedding",
    drop_flagged: bool = False,
) -> DataFrame:
    """SEMANTIC decontamination at ingest — the embedding-space twin
    of :func:`streaming_decontaminate_gate`: the Bloom gate catches
    verbatim/near-verbatim shingle overlap with an eval set; THIS
    catches paraphrases and re-encodings whose embeddings still land
    within Hamming-``max_h`` of an eval vector's SRP fingerprint. The
    row's 16-bit signature is computed row-locally (literal
    hyperplanes, the ``srp_signatures`` expression — shared code,
    cannot drift from the batch path) and probed against the literal
    ``gate_sigs`` set from :func:`srp_gate_sigs` — no join, no state,
    composes with any source. Rows whose vector is NULL/ragged get
    NULL signature and ``flagged`` 0 (nothing to test — route to
    schema QC, the unknown-input convention of the other gates).

    Output: input columns + ``(srp_sig, flagged)``; raises on an
    input column named like an output."""
    from mhw3d_detection_spark.operators.similarity import srp_sig_col

    _gate_collision_check(stream, ("srp_sig", "flagged"))
    v = F.col(vec_col).cast("array<double>")
    ok = (F.size(v) == dim) & ~F.exists(v, lambda x: x.isNull())
    # the SHARED fingerprint expression (srp_sig_col) — same code
    # object as the batch path, cannot drift (code-review r10 #7)
    sig = srp_sig_col(v, n_bits=n_bits, dim=dim, seed=seed)
    gate = F.array(*[F.lit(int(s)) for s in gate_sigs])
    out = stream.withColumn(
        "srp_sig", F.when(ok, sig)
    ).withColumn(
        "flagged",
        F.coalesce(
            F.array_contains(gate, F.col("srp_sig")), F.lit(False)
        ).cast("int"),
    )
    if drop_flagged:
        out = out.filter(F.col("flagged") == 0)
    return out


def streaming_readability_gate(
    stream: DataFrame,
    *,
    text_col: str = "text",
    min_flesch: float = 0.0,
    max_flesch: float = 120.0,
    keep_only: bool = False,
) -> DataFrame:
    """Readability band filter at ingest (E4w's streaming face): the
    deterministic Flesch proxy of ``operators.textops.flesch_proxy``
    applied to an incoming document stream — prose lands roughly
    50-80; keyword-stuffed spam and boilerplate listings fall far
    outside [min_flesch, max_flesch] and are gated. A pure narrow
    projection (three regex counts + IEEE arithmetic) — no state, no
    watermark, composes with any source; batch and stream score each
    doc identically (the same plan expressions), the backfill/ingest
    parity every quality gate here guarantees.

    Annotates ``(n_words, n_sentences, n_syllables, flesch, keep)``;
    with ``keep_only`` failing docs are dropped instead.
    """
    from mhw3d_detection_spark.operators.textops import flesch_cols

    _gate_collision_check(
        stream, ("n_words", "n_sentences", "n_syllables", "flesch", "keep")
    )
    words, sentences, syllables, flesch = flesch_cols(text_col)
    out = stream.select(
        "*",
        words.cast("int").alias("n_words"),
        sentences.cast("int").alias("n_sentences"),
        syllables.cast("int").alias("n_syllables"),
        flesch.alias("flesch"),
        (
            (flesch >= F.lit(float(min_flesch)))
            & (flesch <= F.lit(float(max_flesch)))
        ).cast("int").alias("keep"),
    )
    if keep_only:
        out = out.filter(F.col("keep") == 1)
    return out


def streaming_sentence_dedup_gate(
    stream: DataFrame,
    bloom_set_bits: list[int],
    *,
    m: int = 4096,
    k: int = 4,
    flag_frac: float = 0.5,
    min_chars: int = 20,
    text_col: str = "text",
    drop_flagged: bool = False,
) -> DataFrame:
    """Sentence-grain template screen at ingest — E2n's streaming
    face: a Bloom built over the CORPUS'S known duplicate sentences
    (e.g. ``bloom_bits`` on the >= df sentences the q_dedup_sentences
    audit names) packed into a LITERAL bitmask and probed by a
    row-local sentence fold — the shingle decontaminate gate's device
    at sentence granularity (shingles catch fuzzy overlap; a pasted
    newsletter/licence block is sentence-EXACT and this flags it with
    zero false negatives on the indexed set).

    Sentences are the SAME [.!?]+ split / trim / >= min_chars rule as
    the batch audit (``operators.textops.flesch_proxy``'s sentence
    convention does not apply here — dedup keeps fragments readability
    drops). Membership matches ``_bloom_positions``' md5-segment
    scheme bit-for-bit (``k``/``m`` MUST match the build — k<=4).
    Output: input columns + ``(n_sents, n_maybe_dup, dup_frac,
    flagged)``; docs with zero qualifying sentences get NULL dup_frac,
    flagged 0. Raises on output-column collisions."""
    if not (1 <= int(k) <= 4):
        raise ValueError(
            f"k={k}: md5 supplies at most 4 disjoint 32-bit segments; "
            "build the sketch with bloom_bits(..., k<=4) for this gate"
        )
    _gate_collision_check(
        stream, ("n_sents", "n_maybe_dup", "dup_frac", "flagged")
    )
    n_words = (int(m) + 63) // 64
    words = [0] * n_words
    for b in bloom_set_bits:
        if not (0 <= int(b) < int(m)):
            raise ValueError(f"bloom bit {b} outside [0, {m})")
        words[int(b) >> 6] |= 1 << (int(b) & 63)
    signed = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    words_sql = "array(" + ", ".join(f"{w}L" for w in signed) + ")"

    def bit_sql(seg: str) -> str:
        pos = f"pmod(cast(conv({seg}, 16, 10) as bigint), {int(m)})"
        word = f"element_at({words_sql}, cast({pos} / 64 as int) + 1)"
        return f"((shiftright({word}, cast({pos} % 64 as int)) & 1) = 1)"

    member = " AND ".join(
        bit_sql(f"substring(h, {1 + 8 * j}, 8)") for j in range(int(k))
    )
    # fold over a renamed internal column — the gate's SQL strings
    # must never interpolate a caller-supplied column name
    sents = (
        "filter(transform(split(__gate_txt, '[.!?]+'), x -> trim(x)), "
        f"s -> length(s) >= {int(min_chars)})"
    )
    hits = (
        f"aggregate(transform(transform({sents}, "
        "s -> md5(cast(s as binary))), "
        f"h -> case when {member} then 1 else 0 end), 0, "
        "(acc, x) -> acc + x)"
    )
    out = (
        stream.withColumn("__gate_txt", F.col(text_col))
        .withColumn("n_sents", F.expr(f"size({sents})").cast("long"))
        .withColumn("n_maybe_dup", F.expr(hits).cast("long"))
        .drop("__gate_txt")
        .withColumn(
            "dup_frac",
            F.when(
                F.col("n_sents") > 0,
                F.col("n_maybe_dup") / F.col("n_sents"),
            ),
        )
        .withColumn(
            "flagged",
            F.coalesce(
                F.col("dup_frac") >= F.lit(float(flag_frac)), F.lit(False)
            ).cast("int"),
        )
    )
    if drop_flagged:
        out = out.filter(F.col("flagged") == 0)
    return out


def streaming_attribution_join(
    purchases: DataFrame,
    clicks: DataFrame,
    key_col: str = "user_id",
    time_col: str = "ts",
    attribution_window: str = "6 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """SP8: stream-stream event-time interval join — each purchase
    matched to every click by the same user inside the preceding
    attribution window (the classic click->conversion attribution
    shape, and the first STREAM-STREAM join in the streaming family:
    everything else here joins a stream to a static side).

    Works identically on static frames (no watermark applied), which
    is the batch twin the parity test and the `q_attribution_join`
    oracle row price.

    Scale/state contract: both sides carry an event-time watermark and
    the join condition bounds click_ts to [purchase_ts - window,
    purchase_ts], so Spark can expire buffered state — clicks older
    than watermark + window and purchases older than watermark are
    dropped from the state store instead of accumulating forever
    (the unbounded-state failure mode of an unconstrained
    stream-stream join). State partitions by the key equi-clause.

    Returns ``(user, purchase_ts, click_ts)`` — one row per attributed
    (purchase, click) pair, append-mode emittable as matches arrive.
    """
    p = purchases.select(
        F.col(key_col).alias("purchase_user"),
        F.col(time_col).alias("purchase_ts"),
    )
    c = clicks.select(
        F.col(key_col).alias("click_user"),
        F.col(time_col).alias("click_ts"),
    )
    if p.isStreaming:
        p = p.withWatermark("purchase_ts", watermark)
    if c.isStreaming:
        c = c.withWatermark("click_ts", watermark)
    return (
        p.join(
            c,
            F.expr(
                "purchase_user = click_user "
                "AND click_ts <= purchase_ts "
                f"AND click_ts >= purchase_ts - INTERVAL {attribution_window}"
            ),
            "inner",
        )
        .select(
            F.col("purchase_user").alias("user"),
            "purchase_ts",
            "click_ts",
        )
    )
