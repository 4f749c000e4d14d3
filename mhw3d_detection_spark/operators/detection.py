"""Event detection + per-event metrics (the reference's EP3).

The reference detects events per grid cell with a hand-rolled RLE kernel
(src/mhw3d/common/core.py:37-86) or `scipy.ndimage.label`
(tests/data/legacy/marineHeatWaves.py:319), then computes per-event
metrics over a time x event interval mask (common/core.py:110-123;
marineHeatWaves.py:350-411).

Spark-first design
------------------
Detection is classic gaps-and-islands sessionization — two window
passes and two hash aggregates, no fixed-width event matrix, no
iterative gap-merge loop:

1. W3  run-length encode the boolean exceedance series per cell:
       ``changed = flag != lag(flag)`` -> ``run_id = running sum``.
2. W4  min-duration filter: ``groupBy(cell, run_id) HAVING count >= d``.
3. W5  gap joining: a *second* sessionization over the runs
       themselves: ``gap = start - (last qualifying end) - 1``; runs
       chain into one event while ``gap <= maxGap``. The reference
       merges iteratively (first short gap, repeat:
       marineHeatWaves.py:330-345); a single cumulative-sum pass is
       equivalent because merging is chain-transitive (A-B merge never
       *increases* the B-C gap).
4. A5/W6/W7  metrics (:func:`fused_detect_metrics`): each run carries
       mergeable metric partials (:func:`_run_partials`, one fixed
       schema), and one ``groupBy(cell, event)`` merges an event's
       member runs by the one merge rule (:func:`_merge_partials`,
       which the incremental merge's run coalescing shares). Every
       per-event metric, in the pipeline and in the component queries
       alike, is a readout of these merged partials, and every metric
       column is always defined: a reader selects what it needs and
       column pruning drops the partials nothing selected reads. State
       that spans runs — the common moment center, the rate formulas'
       neighbor values, the series extent — is derived on the runs
       table (:func:`_recenter`, :func:`_run_boundaries`), once for the
       whole-series tail and the incremental merge alike; the series
       itself carries only the W3 window.

Shuffle budget of the production flow: ONE hash exchange of the series
on ``cell_id`` (the W3 window). The (cell, run) partial aggregate, the
windows over each cell's runs and the (cell, event) merge all reuse
that partitioning — no further exchange, no persist, no broadcast. All operators are stock DataFrame ops, so
Catalyst/AQE handle skew, partial aggregation and partition coalescing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from mhw3d_detection_spark.functions.scalar import CATEGORIES, rel_thresh_norm


def exceedance(
    ts_sev: DataFrame,
    *,
    temp_col: str = "temp",
    seas_col: str = "seas",
    thresh_col: str = "thresh",
) -> DataFrame:
    """Boolean exceedance series (reference: marineHeatWaves.py:303-317).

    Missing temps are replaced by the climatology (so data gaps
    terminate events) and a ``was_missing`` flag is kept; exceedance is
    strictly ``temp > thresh`` with NULL -> false.
    """
    temp = F.coalesce(F.col(temp_col), F.col(seas_col))
    return ts_sev.withColumns(
        {
            "was_missing": F.col(temp_col).isNull(),
            temp_col: temp,
            "exceed": F.coalesce(temp > F.col(thresh_col), F.lit(False)),
        }
    )


def enrich_series(
    ts_sev: DataFrame,
    *,
    cell_col: str = "cell_id",
    time_col: str = "time",
    temp_col: str = "temp",
    seas_col: str = "seas",
    thresh_col: str = "thresh",
    flag_col: str = "exceed",
) -> DataFrame:
    """Fuse every per-cell sequential derivation the detection chain
    needs into ONE window pass (one exchange + one sort of the big
    table): anomaly projections and RLE run ids (W3). Everything that
    spans runs — rate-formula neighbors, series extent, moment centers —
    is derived afterwards on the runs table (:func:`_run_boundaries`,
    :func:`_recenter`), so the series carries exactly one ordered
    window. Runs are row-based: an absent day does not end a run.
    ``rel_thresh_norm`` is the IEEE quotient (:func:`rel_thresh_norm`),
    so a ``thresh == seas`` day reads +-inf / NaN instead of raising
    under ANSI.
    """
    return _enrich(
        ts_sev, cell_col, time_col, temp_col, seas_col, thresh_col, flag_col
    )


def _enrich(
    ts_sev: DataFrame,
    cell_col: str,
    time_col: str,
    temp_col: str,
    seas_col: str,
    thresh_col: str,
    flag_col: str,
    *,
    calendar_breaks: bool = False,
) -> DataFrame:
    """:func:`enrich_series`; ``calendar_breaks`` also ends a run where
    the previous row is more than one day back (the map side of
    :func:`detect_partials`)."""
    w = Window.partitionBy(cell_col).orderBy(time_col)
    flag = F.coalesce(F.col(flag_col), F.lit(False))
    brk = (
        F.datediff(time_col, F.lag(time_col).over(w)) > 1
        if calendar_breaks
        else None
    )
    temp, seas, thresh = F.col(temp_col), F.col(seas_col), F.col(thresh_col)

    # single batched projection: one analysis pass, one Window node
    return ts_sev.withColumns(
        {
            "rel_seas": temp - seas,
            "rel_thresh": temp - thresh,
            "rel_thresh_norm": rel_thresh_norm(temp, seas, thresh),
            "t_abs": temp,
            "__flag": flag,
            "__run": _run_ids(flag, w, brk).cast("long"),
        }
    )


def _run_ids(flag: Column, w: WindowSpec, brk: Column | None = None) -> Column:
    """Gaps-and-islands run ids over the ordered window ``w``: a change
    point wherever ``flag`` differs from the previous row's (or there is
    no previous row) or the optional ``brk`` holds, and the running
    count of change points as the id (reference RLE kernel
    common/core.py:53-69). The one RLE expression behind
    :func:`rle_runs`, :func:`enrich_series`, :func:`detect_partials`
    and the cross-batch run coalescing of :func:`merge_detect_partials`.
    ``lag`` appears once: a missing previous row makes the comparison
    NULL, which the ``coalesce`` counts as a change."""
    changed = F.coalesce(flag != F.lag(flag).over(w), F.lit(True))
    if brk is not None:
        changed = changed | brk
    return F.sum(changed.cast("int")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )


def rle_runs(
    ts: DataFrame,
    *,
    cell_col: str = "cell_id",
    time_col: str = "time",
    flag_col: str = "exceed",
    min_duration: int = 1,
) -> DataFrame:
    """W3+W4 readout: run-length encode a boolean series into
    ``runs(cell_id, run_id, run_start, run_end, run_days)``, keeping
    runs of at least ``min_duration`` rows — the run table the
    ``q_rle_runs`` / ``q_min_duration_filter`` rows and the streaming
    parity tests read. Per-event metrics never go through it; they come
    from the run partials of :func:`fused_detect_metrics`.

    Gaps-and-islands (:func:`_run_ids`; Oliver uses scipy.ndimage.label,
    marineHeatWaves.py:319-327). ``run_id`` numbers both true and false
    runs (only true runs survive), so ids are increasing but not
    consecutive — both engines derive them the same way.
    """
    w = Window.partitionBy(cell_col).orderBy(time_col)
    flag = F.coalesce(F.col(flag_col), F.lit(False))

    return (
        ts.withColumns({"__flag": flag, "run_id": _run_ids(flag, w).cast("long")})
        .filter(F.col("__flag"))
        .groupBy(cell_col, "run_id")
        .agg(
            F.min(time_col).alias("run_start"),
            F.max(time_col).alias("run_end"),
            F.count(F.lit(1)).alias("run_days"),
        )
        .filter(F.col("run_days") >= min_duration)
    )


def detect_events(
    ts: DataFrame,
    *,
    cell_col: str = "cell_id",
    time_col: str = "time",
    flag_col: str = "exceed",
    min_duration: int = 5,
    max_gap: int = 2,
    join_across_gaps: bool = True,
) -> DataFrame:
    """W5 readout: sessionize a boolean series into events(cell_id,
    event_id, date_start, date_end, duration) — the event table the
    ``q_gap_join_events`` family and the streaming parity tests read.
    Events that need metrics come from :func:`fused_detect_metrics`,
    which shares the same gap assembly (:func:`_event_members`,
    :func:`_events`).

    Implements W3 (RLE), W4 (min-duration HAVING) and W5 (gap joining)
    from SURVEY.md §2.6; semantics match marineHeatWaves.py:319-345 and
    common/core.py:53-74. ``duration`` counts every calendar day from
    start to end inclusive (joined gaps count: marineHeatWaves.py:371
    takes ``len(temp[tt_start:tt_end+1])``).
    """
    runs = rle_runs(
        ts,
        cell_col=cell_col,
        time_col=time_col,
        flag_col=flag_col,
        min_duration=min_duration,
    ).withColumnRenamed("run_id", "__run")

    members = _event_members(
        runs,
        cell_col=cell_col,
        qualifies=F.lit(True),
        max_gap=max_gap,
        join_across_gaps=join_across_gaps,
    )
    return _events(members, cell_col=cell_col)


def _event_members(
    runs: DataFrame,
    *,
    cell_col: str = "cell_id",
    qualifies: Column,
    max_gap: int,
    join_across_gaps: bool,
) -> DataFrame:
    """W5 gap joining: ONE ordered pass over each cell's runs (``__run``
    increasing in time) keeps every member run of an event, tagged with
    its event id ``__evt``. Shared by :func:`detect_events` and
    :func:`fused_detect_metrics` so the gap semantics cannot drift
    between the event table and the metrics.

    A ``qualifies`` run opens a new event unless the gap since the last
    qualifying run's end is <= ``max_gap`` (always opens without
    ``join_across_gaps``); the running count of openings is the event
    id, in time order — equivalent to the reference's iterative
    first-gap merge by chain-transitivity (marineHeatWaves.py:330-345).
    A non-qualifying run belongs to the event around it iff the next
    qualifying run does not open a new one (which implies an earlier
    qualifying run, so an event is open). Every step keys on the cell,
    so input hash-partitioned by cell needs no exchange."""
    w = Window.partitionBy(cell_col).orderBy("__run")
    new = qualifies
    if join_across_gaps:
        last_end = F.last(F.when(qualifies, F.col("run_end")), ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        )
        # no earlier qualifying run: NULL gap -> opens
        new = new & F.coalesce(
            F.datediff("run_start", last_end) - 1 > max_gap, F.lit(True)
        )
    runs = runs.withColumns({"__q": qualifies, "__new": new.cast("int")})
    evt = F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    next_new = F.first(F.when(F.col("__q"), F.col("__new")), ignorenulls=True).over(
        w.rowsBetween(1, Window.unboundedFollowing)
    )
    member = F.col("__q") | (next_new == 0)
    return runs.withColumn("__evt", F.when(member, evt)).filter(
        F.col("__evt").isNotNull()
    )


def _events(
    members: DataFrame, *, cell_col: str = "cell_id", aggs: tuple[Column, ...] = ()
) -> DataFrame:
    """Event assembly: one ``groupBy(cell, event)`` over the
    :func:`_event_members` runs, with the extra per-event ``aggs``; on
    input hash-partitioned by cell it needs no exchange."""
    g = members.groupBy(cell_col, "__evt").agg(
        F.min("run_start").alias("date_start"),
        F.max("run_end").alias("date_end"),
        *aggs,
    )
    return g.select(
        cell_col,
        F.col("__evt").cast("int").alias("event_id"),
        "date_start",
        "date_end",
        (F.datediff("date_end", "date_start") + 1).alias("duration"),
        *g.columns[4:],
    )


def fused_detect_metrics(
    enriched: DataFrame,
    *,
    cell_col: str = "cell_id",
    time_col: str = "time",
    min_duration: int = 5,
    max_gap: int = 2,
    join_across_gaps: bool = True,
) -> DataFrame:
    """Detection + per-event metrics in ONE pass over the series: the
    production tail of :func:`~mhw3d_detection_spark.plans.detect_mhw`.

    Also the one metrics implementation behind every component query
    (peaks, intensities, rates, categories, block averages, ranks):
    those rows read their columns off this output. Every metric column
    is always defined; a reader selects the columns it needs, and
    Catalyst's column pruning drops every partial, window and aggregate
    that only the unselected columns read. The big table is
    touched exactly once: a per-(cell, run) aggregate computes
    *mergeable partials* for every metric — sums / counts /
    sums-of-squares for the mean/var family,
    argmax structs (value, earliest-day tie-break) for the peaks,
    category-band day counts, run-edge values for the rate formulas —
    and everything downstream (cross-run state, min-duration filter,
    gap joining, the metric merge) happens on the tiny runs table.

    Gap-day semantics are preserved exactly: runs partition the
    per-cell timeline, and a joined event [date_start, date_end] spans
    whole runs only (its boundaries are qualifying-run boundaries), so
    the event's member days — INCLUDING the sub-``max_gap`` non-exceed
    days the reference also aggregates over
    (marineHeatWaves.py:350-411 slices tt_start:tt_end+1) — are exactly
    its qualifying runs plus every run between two of them
    (:func:`_event_members`). Runs before the first / after the last
    qualifying run, or inside a gap that splits two events, belong to
    no event.

    Variance uses the closed form sqrt(E[x^2] - E[x]^2) over merged
    partials (population, like np.var ddof=0) — computed on moments
    CENTERED on one constant per event (:func:`_recenter`: the mean of
    the event's earliest run with a value) so the squares are of
    anomaly-sized deviations, not of |x| ~ 1e5 absolutes: without the
    shift, q/n - (s/n)^2 loses ~6 significant digits at the repo's own
    TPC-H-derived temp magnitudes (catastrophic cancellation). Shifting
    by a constant leaves the variance unchanged, and mean/cumulative
    are recovered by adding the center back. Clamped at 0 against
    residual rounding. The cross-run state the rates need (neighbor
    values, series extent) comes from the same runs-level helper the
    incremental merge uses (:func:`_run_boundaries`).

    ``category`` is refused, not guessed, where the peak's band is
    below 1: a ``thresh == seas`` day with ``temp == thresh`` inside
    the event has ``rel_thresh_norm`` NaN (0 * inf), which Spark's
    ``max`` ranks above +inf (the reference and the NumPy oracle fail
    there too). Reading it raises, naming the cell and the event start;
    every other column still answers.

    Scale shape: hashpartitioning(cell) from the enrich window
    satisfies the (cell, run) aggregate, the windows over each cell's
    runs and the (cell, event) merge, so the whole tail after the
    enrich exchange is ONE stage: no exchange, no persist, no
    broadcast join. The runs table (O(flag transitions) per cell) is
    never cached — a cached plan skips AQE partition coalescing, so it
    and every re-scan would run at the full initial partition count.
    """
    return _metrics_from_partials(
        _run_partials(enriched, cell_col=cell_col, time_col=time_col),
        cell_col=cell_col,
        min_duration=min_duration,
        max_gap=max_gap,
        join_across_gaps=join_across_gaps,
    )


_MOMENTS = ("rs", "rt", "ab")  # rel_seas, rel_thresh, t_abs
#: category-band day counters, in CATEGORIES order
_BANDS = ("d_mod", "d_str", "d_sev", "d_ext")


def _run_partials(
    enriched: DataFrame,
    *,
    cell_col: str = "cell_id",
    time_col: str = "time",
) -> DataFrame:
    """The per-(cell, run) mergeable-partial aggregate behind
    :func:`fused_detect_metrics` and :func:`detect_partials` — ONE
    grouped pass over the enriched series producing, per run, every
    partial any per-event metric reads: moment partials, argmax peak
    structs, category-day counters and the run's first and last
    rel_seas. One fixed schema; the rows are associative state that
    :func:`_merge_partials` merges.

    Moment partials ``(n, s, q, c)``: count, sum and sum of squares of
    deviations from the center ``c``. Each run centers on its own mean
    (``s`` = 0, ``q`` = var_pop * count), so the series needs no
    centering window; :func:`_recenter` gives runs a common center."""
    day = F.to_date(time_col)
    tb = -F.unix_date(day)  # earliest-day tie-break under max()
    rs, rt, rtn, ab = map(F.col, ("rel_seas", "rel_thresh", "rel_thresh_norm", "t_abs"))
    cat_band = F.floor(F.lit(1.0) + rtn)
    pk_order = F.struct(rs.alias("v"), tb.alias("tb"))
    pkc_order = F.struct(rtn.alias("v"), tb.alias("tb"))

    aggs = [
        F.first("__flag").alias("flag"),
        F.min(time_col).alias("run_start"),
        F.max(time_col).alias("run_end"),
        F.count(F.lit(1)).alias("run_days"),
    ]
    # moment partials about the run's own mean (nulls skipped, like
    # avg/var_pop; an all-null run has c = q = NULL, n = 0)
    for m, x in zip(_MOMENTS, (rs, rt, ab)):
        aggs += [
            F.count(x).alias(f"n_{m}"),
            F.lit(0.0).alias(f"s_{m}"),
            (F.var_pop(x) * F.count(x)).alias(f"q_{m}"),
            F.avg(x).alias(f"c_{m}"),
        ]
    hits = (cat_band == 1, cat_band == 2, cat_band == 3, cat_band >= 4)
    aggs += [
        # W6 peak partials: ordering key + payload at the key's argmax
        F.max(pk_order).alias("pk_key"),
        F.max_by(
            F.struct(day.alias("date_peak"), rt.alias("rt"), ab.alias("ab")),
            pk_order,
        ).alias("pk_val"),
        F.max(pkc_order).alias("pkc_key"),
        F.max_by(cat_band, pkc_order).alias("pkc_val"),
        *(F.sum(h.cast("long")).alias(d) for d, h in zip(_BANDS, hits)),
        F.min_by(rs, F.col(time_col)).alias("first_rs"),
        F.max_by(rs, F.col(time_col)).alias("last_rs"),
    ]
    return enriched.groupBy(
        F.col(cell_col).alias("cell_id"), F.col("__run").alias("__run")
    ).agg(*aggs)


def _merge_partials() -> list[Column]:
    """The one merge rule of the run partials, column by column: the
    aggregate list of both :func:`merge_detect_partials`' run
    coalescing and the per-event ``groupBy(cell, event)``. Over runs
    whose moments share one center (:func:`_recenter`) it yields the
    partials of their union under the same names: min/max of the run
    span and the sum of run days; sums of ``n``/``s``/``q`` and the
    shared ``c``; the max of each peak's ordering key and the payload at
    it; sums of the band-day counters; the rel_seas of the earliest
    first and the latest last day. Every partial column is required: a
    table missing one fails analysis naming it."""
    aggs = [
        F.first("flag").alias("flag"),
        F.min("run_start").alias("run_start"),
        F.max("run_end").alias("run_end"),
        F.sum("run_days").alias("run_days"),
    ]
    for m in _MOMENTS:
        aggs += [F.sum(f"{p}_{m}").alias(f"{p}_{m}") for p in "nsq"]
        aggs.append(F.first(f"c_{m}").alias(f"c_{m}"))
    for k in ("pk", "pkc"):
        aggs += [
            F.max(f"{k}_key").alias(f"{k}_key"),
            F.max_by(f"{k}_val", f"{k}_key").alias(f"{k}_val"),
        ]
    return aggs + [
        *(F.sum(d).alias(d) for d in _BANDS),
        F.min_by("first_rs", "run_start").alias("first_rs"),
        F.max_by("last_rs", "run_end").alias("last_rs"),
    ]


def _recenter(runs: DataFrame, group: str) -> DataFrame:
    """Move the moment partials ``(n, s, q, c)`` of the runs that will
    be summed together — one ``(cell_id, group)`` — onto one center
    ``C``, the center of the group's earliest run with a non-null one
    (an all-NULL run's ``c`` would NULL every shifted sum), by the shift
    identity ``d = c - C``: ``sum(x - C) = s + n*d``,
    ``sum((x - C)^2) = q + 2*d*s + n*d^2``. Any input centering merges,
    including older stores' per-cell first value (``s`` != 0). A
    group-local center keeps ``d`` to the spread inside the group, so
    the closed-form variance cancels no more digits than the data's own
    spread; a cell-wide center would cost ~eps * (event - center)^2 and
    turn an exact zero variance into ~1e-8 after the square root.
    Groups: events (both tails) and the pieces of one run that batch
    boundaries cut (the merge's run coalescing)."""
    wall = Window.partitionBy("cell_id", group)
    centered = runs.withColumns(
        {
            f"__C_{m}": F.min_by(
                f"c_{m}",
                F.when(F.col(f"c_{m}").isNotNull(), F.col("run_start")),
            ).over(wall)
            for m in _MOMENTS
        }
    )
    shifted = {}
    for m in _MOMENTS:
        n, s, q = F.col(f"n_{m}"), F.col(f"s_{m}"), F.col(f"q_{m}")
        d = F.col(f"c_{m}") - F.col(f"__C_{m}")
        shifted.update(
            {
                f"s_{m}": s + n * d,
                f"q_{m}": q + 2 * d * s + n * d * d,
                f"c_{m}": F.col(f"__C_{m}"),
            }
        )
    # one projection replaces the partials and drops the centers
    return centered.select(
        *(shifted[c].alias(c) if c in shifted else c for c in runs.columns)
    )


def _run_boundaries(runs: DataFrame) -> DataFrame:
    """The W7 rate formulas' cross-run state on the runs table (``__run``
    increasing in time): a run's previous day IS the previous run's last
    day, so ``before_rs`` = lag of ``last_rs``, ``after_rs`` = lead of
    ``first_rs`` (NULL at the series edges), and the series extent is
    min/max over the cell's runs. Shared by both tails."""
    w = Window.partitionBy("cell_id").orderBy("__run")
    wall = Window.partitionBy("cell_id")
    return runs.withColumns(
        {
            "before_rs": F.lag("last_rs").over(w),
            "after_rs": F.lead("first_rs").over(w),
            "series_start": F.min("run_start").over(wall),
            "series_end": F.max("run_end").over(wall),
        }
    )


def _metrics_from_partials(
    p: DataFrame,
    *,
    cell_col: str = "cell_id",
    min_duration: int = 5,
    max_gap: int = 2,
    join_across_gaps: bool = True,
) -> DataFrame:
    """Event assembly + metric readout over a run-partials table
    (:func:`_run_partials` schema, normalized to a ``cell_id`` column):
    the cross-run state (:func:`_run_boundaries`), W4 min-duration
    filter, W5 gap joining, the per-event merge of every member run's
    partials (:func:`_merge_partials`, moments re-centered per event by
    :func:`_recenter`), then ONE projection reads every metric off the
    merged partials."""
    members = _event_members(
        _run_boundaries(p),
        qualifies=F.col("flag") & (F.col("run_days") >= min_duration),
        max_gap=max_gap,
        join_across_gaps=join_across_gaps,
    )
    # the rate formulas' cross-run state: the days before the event's
    # first day and after its last, and the series extent
    edges = (
        F.min_by("before_rs", "run_start").alias("before_rs"),
        F.max_by("after_rs", "run_end").alias("after_rs"),
        F.min("series_start").alias("series_start"),
        F.max("series_end").alias("series_end"),
    )
    g = _events(_recenter(members, "__evt"), aggs=(*_merge_partials(), *edges))

    readout = {}
    for m, sfx in zip(_MOMENTS, ("", "_relThresh", "_abs")):
        n, s, q, c = (F.col(f"{x}_{m}") for x in "nsqc")
        nd = n.cast("double")
        # centered partials: mean = c + sum(x - c) / count and
        # sum(x) = sum(x - c) + c * count; an all-null event has s NULL
        readout |= {
            f"intensity_mean{sfx}": c + s / n,
            f"intensity_var{sfx}": F.when(
                n > 0, F.sqrt(F.greatest(q / nd - (s / nd) * (s / nd), F.lit(0.0)))
            ),
            f"intensity_cumulative{sfx}": s + c * n,
        }
    readout |= {f"duration_{c.lower()}": F.col(d) for c, d in zip(CATEGORIES, _BANDS)}

    imax = F.col("pk_key.v")
    # S6 category readout: refused where the peak's band is below 1
    band = F.least(F.col("pkc_val"), F.lit(4))
    category = F.when(
        band < 1,
        F.raise_error(
            F.format_string(
                "detect: cell %s, event starting %s has no category: the "
                "peak's rel_thresh_norm (temp - thresh) / (thresh - seas) "
                "is NaN or negative",
                F.col("cell_id"),
                F.col("date_start").cast("string"),
            )
        ),
    ).otherwise(
        F.element_at(F.array(*[F.lit(c) for c in CATEGORIES]), band.cast("int"))
    )
    # W7 onset/decline rate formulas (marineHeatWaves.py:385-411:
    # half-day boundary convention, 4 edge cases at the series extremes)
    tt = F.datediff(F.col("pk_val.date_peak"), F.to_date("date_start"))
    tt_peak = tt.cast("double")
    dur = F.col("duration").cast("double")
    first, last = F.col("first_rs"), F.col("last_rs")
    onset = (
        F.when(
            F.col("date_start") != F.col("series_start"),
            (imax - 0.5 * (first + F.col("before_rs"))) / (tt_peak + 0.5),
        )
        .when(tt == 0, F.lit(0.0))  # peak==first -> 0
        .otherwise((imax - first) / tt_peak)
    )
    decline_days = dur - 1 - tt_peak
    decline = (
        F.when(
            F.col("date_end") != F.col("series_end"),
            (imax - 0.5 * (last + F.col("after_rs"))) / (decline_days + 0.5),
        )
        .when(tt == F.col("duration") - 1, F.lit(0.0))
        .otherwise((imax - last) / decline_days)
    )
    readout |= {
        "intensity_max": imax,
        "date_peak": F.col("pk_val.date_peak"),
        "intensity_max_relThresh": F.col("pk_val.rt"),
        "intensity_max_abs": F.col("pk_val.ab"),
        "category": category,
        "rate_onset": onset,
        "rate_decline": decline,
    }
    return g.select(
        F.col("cell_id").alias(cell_col),
        "event_id",
        "date_start",
        "date_end",
        "duration",
        *(v.alias(k) for k, v in readout.items()),
    )


def detect_partials(
    ts_sev: DataFrame,
    *,
    cell_col: str = "cell_id",
    time_col: str = "time",
    temp_col: str = "temp",
    seas_col: str = "seas",
    thresh_col: str = "thresh",
) -> DataFrame:
    """Incremental detection, map side: compress ONE batch of a
    severity-joined series (cell, time, temp, seas, thresh) into
    mergeable run partials — the detection analogue of
    ``clim_partials`` for chunked / backfill / streaming processing
    (the reference's chunk-at-a-time dask model, reprocessed
    relationally).

    Each output row is one run (exceeding or not) of the batch carrying
    every partial column (:func:`_run_partials`, one fixed schema);
    cross-run state, which
    a batch cannot see, is derived by the merge. A batch's runs also
    end wherever the batch holds no row for a day (a calendar break),
    so a run never spans a day the batch lacks: another batch's rows
    can fall only BETWEEN this batch's runs, never inside one.

    CONTRACT: the batches together hold each (cell, day) at most once;
    beyond that they may slice the series any way — time slices,
    interleaved days, late days — and arrive in any order. Feed the
    union of all batches' partials to :func:`merge_detect_partials`;
    the result equals the whole-series :func:`fused_detect_metrics`
    output up to floating-point reassociation in the re-centered
    moments (~1e-12 relative; all other columns exactly). A store must
    keep every partial column, whichever metrics its readers select.

    At 100 TB this is the shape that avoids ever holding the full
    series in one job: per-batch partials are a tiny table per chunk,
    and the merge is runs-sized."""
    flagged = exceedance(
        ts_sev, temp_col=temp_col, seas_col=seas_col, thresh_col=thresh_col
    )
    enriched = _enrich(
        flagged,
        cell_col,
        time_col,
        temp_col,
        seas_col,
        thresh_col,
        "exceed",
        calendar_breaks=True,
    )
    return _run_partials(enriched, cell_col=cell_col, time_col=time_col)


def merge_detect_partials(
    partials: DataFrame,
    *,
    cell_col: str = "cell_id",
    min_duration: int = 5,
    max_gap: int = 2,
    join_across_gaps: bool = True,
) -> DataFrame:
    """Incremental detection, reduce side: union of per-batch
    :func:`detect_partials` rows -> the whole-series event metrics, the
    same columns as :func:`fused_detect_metrics`, every one defined.

    Runs-sized steps (the series itself never reappears):

    1. Coalesce runs across batches: order each cell's runs by
       run_start and merge consecutive SAME-FLAG runs (the whole-series
       RLE is row-based, so flag runs that only a batch boundary or a
       calendar break separates are one run) by the one merge rule
       (:func:`_merge_partials`), their moments first re-centered on one
       center (:func:`_recenter`); the event merge shares both. Because
       no batch's run spans a day it lacks, the
       run_start order interleaves every batch's runs exactly as the
       whole series orders its rows. A run that starts on or before
       the previous run's end means two batches hold one (cell, day):
       the merge raises instead of counting that day twice. The
       coalesced group id increases in time, so it is the merged run's
       ``__run``.
    2. Derive the cross-run state the batches could not see
       (:func:`_run_boundaries`, shared with the fused tail) and run the
       standard event assembly + metric merge
       (:func:`_metrics_from_partials`).

    The store must hold every partial column :func:`detect_partials`
    writes; one missing fails analysis with an ``AnalysisException``
    naming it, even when no selected metric reads it.
    A store whose writer did not break runs at calendar gaps still
    merges exactly when its batches are time slices (same schema).
    Extra batch columns (older stores' batch-local boundary columns, a
    store's ``batch`` partition) drop out at the coalescing aggregate.
    Every step keys on the cell, so the union's one exchange on
    ``cell_id`` serves every window and aggregate; nothing is persisted.
    """
    w = Window.partitionBy("cell_id").orderBy("run_start")
    held_twice = F.col("run_start") <= F.lag("run_end").over(w)
    g = F.when(
        held_twice,
        F.raise_error(
            F.format_string(
                "merge_detect_partials: cell %s, day %s is held by two batches",
                F.col("cell_id"),
                F.col("run_start").cast("string"),
            )
        ),
    ).otherwise(_run_ids(F.col("flag"), w))
    runs = (
        _recenter(partials.withColumn("__g", g), "__g")
        .groupBy("cell_id", F.col("__g").alias("__run"))
        .agg(*_merge_partials())
    )
    return _metrics_from_partials(
        runs,
        cell_col=cell_col,
        min_duration=min_duration,
        max_gap=max_gap,
        join_across_gaps=join_across_gaps,
    )
