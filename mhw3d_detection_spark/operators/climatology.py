"""Climatology & threshold operators (the reference's EP1).

The reference computes, per grid cell and leap-normalized day-of-year:

- ``seas``   — pooled-window mean over all samples within +/- W *series
  positions* of each occurrence of that DOY in the baseline years
  (reference: src/mhw3d/legacy/climatology.py:61-119 `_pool_window`;
  tests/data/legacy/marineHeatWaves.py:266-281 index-window loop), and
- ``thresh`` — the exact linear-interpolation percentile (default 90th)
  over the same pool (marineHeatWaves.py:280 `np.nanpercentile`),

then interpolates Feb 29 as the mean of Feb 28 / Mar 1
(marineHeatWaves.py:282-284) and smooths with a width-31 *circular*
running mean over DOY (marineHeatWaves.py:858-885 `runavg`).

Spark-first design notes
------------------------
The reference pivots the series to a rectangular (year, doy) grid with
cross-year pads purely because dense arrays need rectangular windows.
Relationally none of that machinery is needed: each sample row simply
*contributes* to the DOY buckets of its +/-W series neighbors —
a window `collect_list` + `explode` + hash-aggregate. One shuffle for
the per-cell window sort, one for the (cell, doy) aggregate; partial
aggregation (map-side combine) keeps the exploded 11x rows from ever
hitting the shuffle in full.

Two pooling modes, matching the two reference implementations:

- ``pool_mode="series"`` — +/-W *series positions* per cell (the
  vendored Oliver loop, marineHeatWaves.py:266-281: index windows over
  the time axis, truncated at the series edges). Needs one per-cell
  window sort of the big table before the aggregate.
- ``pool_mode="grid"`` — +/-W positions on the *(year, doy) grid* (the
  xarray legacy module, legacy/climatology.py:61-119: rolling over the
  doy axis with cross-year pads into adjacent *baseline* years). Day
  groups + one per-cell aggregate — NO window pass, one shuffle of the
  big table total. This is the scale path: at 100 TB it removes an
  entire exchange+sort of the input.

The two coincide on dense daily leap-year-only data and differ by the
documented ~0.01 °C residual at DOYs 45-75 on mixed years (reference
CLAUDE.md:221-224) — that residual is *between the two reference
implementations themselves*, not an artifact of this engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mhw3d_detection_spark.functions.calendar import clim_doy

FEB29 = 60


def exact_percentile_sorted(sorted_arr: Column, q: float) -> Column:
    """Exact linear-interpolation percentile of a pre-sorted array —
    numpy ``nanquantile(method='linear')`` / DuckDB ``quantile_cont``
    semantics (reference kernel legacy/climatology.py:225-240):
    ``h = (n-1)*q``; ``v = a[floor(h)] + frac * (a[floor(h)+1] - a[floor(h)])``.

    Implemented as a closed-form column over ``sort_array(collect_list(x))``
    instead of Spark's builtin ``percentile`` aggregate: the builtin
    buffers every group in an OpenHashMap of boxed doubles — measured
    50x slower (GC-bound) on 34M pooled rows than primitive array sort
    + projection, with identical results.
    """
    n = F.size(sorted_arr)
    h = (n - 1).cast("double") * F.lit(q)
    i = F.floor(h).cast("int")
    frac = h - i
    lo = F.element_at(sorted_arr, i + 1)  # element_at is 1-based
    hi = F.element_at(sorted_arr, F.least(i + 2, n))
    return F.when(n > 0, lo + frac * (hi - lo))


def _nanify(c: Column) -> Column:
    """NULL -> NaN (so window means *poison* like the reference's
    fixed-divisor convolution instead of skipping)."""
    return F.coalesce(c, F.lit(float("nan")))


def _denanify(c: Column) -> Column:
    return F.when(F.isnan(c), F.lit(None)).otherwise(c)


def densify_doy(
    clim: DataFrame,
    cell_col: str = "cell_id",
    doy_col: str = "doy",
    cells: DataFrame | None = None,
) -> DataFrame:
    """Reindex to the dense 1..366 DOY domain (missing DOYs -> NULL rows).

    Reference equivalent: ``reindex(doy=np.arange(1, 367))``
    (legacy/climatology.py:79,92).

    ``cells`` (one row per cell id) supplies the spine; when omitted
    the dense grid is built as a per-cell doy->values map + explode —
    ONE aggregate on ``clim`` itself, no distinct-spine re-derivation
    of the clim subtree and no join (r13 optimization: the old
    spine-join form evaluated the clim aggregation twice — once for
    the distinct cell list, once as the join's right side). Requires
    ``clim`` unique per (cell, doy), which every climatology aggregate
    guarantees (duplicate keys raise under Spark's default
    mapKeyDedupPolicy=EXCEPTION rather than corrupt silently).

    Pass ``cells`` explicitly only when the spine must include cells
    that have NO clim rows at all (not the case for any caller that
    derives the spine from ``clim``/its direct input: a cell with no
    baseline samples has no clim row either way).
    """
    if cells is None:
        vals = [c for c in clim.columns if c not in (cell_col, doy_col)]
        packed = clim.groupBy(cell_col).agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col(doy_col), F.struct(*vals)))
            ).alias("__doymap")
        )
        # the spine-join form emitted the grid's own doy (INT from
        # sequence(1,366)); keep that exact output type, casting only
        # the map-lookup key to clim's doy type
        key_t = dict(clim.dtypes)[doy_col]
        return packed.select(
            cell_col,
            F.explode(F.sequence(F.lit(1), F.lit(366))).alias("__doy_dense"),
            "__doymap",
        ).select(
            cell_col,
            F.col("__doy_dense").alias(doy_col),
            *[
                F.col("__doymap")[F.col("__doy_dense").cast(key_t)][c].alias(c)
                for c in vals
            ],
        )
    grid = cells.select(
        cell_col, F.explode(F.sequence(F.lit(1), F.lit(366))).alias(doy_col)
    )
    return grid.join(clim, [cell_col, doy_col], "left")


def interp_feb29(
    clim: DataFrame,
    value_cols: tuple[str, ...] = ("seas", "thresh"),
    cell_col: str = "cell_id",
    doy_col: str = "doy",
) -> DataFrame:
    """Overwrite DOY 60 with 0.5*DOY59 + 0.5*DOY61 for each value column
    (reference: legacy/climatology.py:13-21; marineHeatWaves.py:282-284).

    NULL-propagating: if either neighbor is NULL the result is NULL,
    matching `0.5*nan + 0.5*x = nan`.
    """
    neighbors = (
        clim.filter(F.col(doy_col).isin(FEB29 - 1, FEB29 + 1))
        .groupBy(cell_col)
        .agg(
            *[
                (
                    F.lit(0.5) * F.max(F.when(F.col(doy_col) == FEB29 - 1, F.col(c)))
                    + F.lit(0.5) * F.max(F.when(F.col(doy_col) == FEB29 + 1, F.col(c)))
                ).alias(f"__f29_{c}")
                for c in value_cols
            ]
        )
    )
    out = clim.join(F.broadcast(neighbors), [cell_col], "left")
    for c in value_cols:
        out = out.withColumn(
            c, F.when(F.col(doy_col) == FEB29, F.col(f"__f29_{c}")).otherwise(F.col(c))
        )
    return out.drop(*[f"__f29_{c}" for c in value_cols])


def smooth_doy_circular(
    clim: DataFrame,
    value_cols: tuple[str, ...] = ("seas", "thresh"),
    width: int = 31,
    mode: str = "full",
    cell_col: str = "cell_id",
    doy_col: str = "doy",
) -> DataFrame:
    """Width-`width` centered running mean over DOY, circular across the
    year boundary (reference `runavg`: 3-fold periodic concatenation,
    marineHeatWaves.py:858-885; xarray version legacy/climatology.py:122-138).

    mode="full"  — smooth the dense 366-row axis; NULL entries poison the
                   window (the reference's fixed-divisor convolution
                   propagates NaN). Input should be densified first.
    mode="valid" — the reference's `Ly` (sub-366-day calendar) variant:
                   smooth over only the DOYs that exist, circularly in
                   their own compressed sequence
                   (marineHeatWaves.py:288-293).

    Implementation: union three shifted copies (pos-P, pos, pos+P) and a
    plain rows-window mean, keep the middle copy — the wrap supplies full
    windows so edge semantics need no special-casing.
    """
    if width % 2 != 1:
        raise ValueError("smoothing width must be odd")
    half = width // 2
    other = [c for c in clim.columns if c not in (cell_col, doy_col, *value_cols)]

    if mode == "full":
        base = clim.select(
            cell_col,
            F.col(doy_col).alias("__pos"),
            *[ _nanify(F.col(c)).alias(c) for c in value_cols],
            *other,
        )
        period = F.lit(366)
    elif mode == "valid":
        valid_pred = None
        for c in value_cols:
            p = F.col(c).isNotNull()
            valid_pred = p if valid_pred is None else (valid_pred | p)
        valid = clim.filter(valid_pred)
        wn = Window.partitionBy(cell_col).orderBy(doy_col)
        base = valid.withColumn(
            "__pos", F.row_number().over(wn)
        ).withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy(cell_col)))
        base = base.select(
            cell_col, "__pos", "__n", doy_col,
            *[_nanify(F.col(c)).alias(c) for c in value_cols], *other,
        )
        period = F.col("__n")
    else:
        raise ValueError(f"unknown smoothing mode {mode!r}")

    copies = base.select(
        "*", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("__copy")
    ).withColumn("__pos_ext", F.col("__pos") + F.col("__copy") * period)

    w = (
        Window.partitionBy(cell_col)
        .orderBy("__pos_ext")
        .rowsBetween(-half, half)
    )
    sm = copies.withColumns(
        {c: F.avg(F.col(c)).over(w) for c in value_cols}
    ).filter(F.col("__copy") == 0)

    if mode == "full":
        out = sm.withColumn(doy_col, F.col("__pos"))
    else:
        out = sm  # doy_col was carried through
    for c in value_cols:
        out = out.withColumn(c, _denanify(F.col(c)))
    # .drop ignores columns that are absent
    return out.drop("__pos", "__pos_ext", "__copy", "__n")


def clim_arrays(
    clim: DataFrame,
    value_cols: tuple[str, ...] = ("seas", "thresh"),
    *,
    cell_col: str = "cell_id",
    doy_col: str = "doy",
    feb29: bool = True,
    smooth_width: int | None = 31,
    smooth_mode: str = "full",
) -> DataFrame:
    """Collapse row-form clim into ONE dense 366-slot array per cell and
    value column, then apply Feb-29 interpolation and the width-W
    circular running mean as array transforms.

    smooth_mode="full": semantically identical to densify_doy +
    interp_feb29 + smooth_doy_circular(mode="full") — missing DOYs
    become NaN slots that poison their windows exactly like the
    reference's fixed-divisor convolution (marineHeatWaves.py:858-885).

    smooth_mode="valid": the M3/`Ly` compressed-circular variant
    (marineHeatWaves.py:288-293; smooth_doy_circular mode="valid") —
    the smoother runs over only the PRESENT DOYs (any value column
    non-NaN, evaluated after the Feb-29 interpolation, exactly like the
    row path's valid filter), circularly in their own sequence via the
    same 3-copy construction with edge-truncated windows; absent slots
    stay NaN.

    Either way the physical plan is a single per-cell aggregate plus
    JVM higher-order functions — no join, no window sort — and the
    severity join reads one row per cell instead of cells*366 rows.

    Output: (cell_id, <col>_arr ...) — in "full" mode a dense 366-slot
    array (slot d, 1-based, is DOY d); in "valid" mode a doy->value MAP
    over the present DOYs (see the in-code note on why a dense scatter
    is a Catalyst anti-pattern). Either way, read back with
    ``element_at(<col>_arr, doy)`` and NaN->NULL (:func:`_denanify`):
    absent DOYs yield NULL, exactly like the row path's left join.
    """
    nan = F.lit(float("nan"))
    g = clim.groupBy(F.col(cell_col).alias("cell_id")).agg(
        *[
            F.map_from_entries(
                F.collect_list(F.struct(F.col(doy_col), F.col(c)))
            ).alias(f"__m_{c}")
            for c in value_cols
        ]
    )
    doys = F.sequence(F.lit(1), F.lit(366))

    # NB: PySpark infers lambda arity by inspection — closures must not
    # add default parameters, so bind the column name via a factory.
    def densifier(c: str):
        return F.transform(
            doys, lambda d: F.coalesce(F.element_at(F.col(f"__m_{c}"), d), nan)
        )

    out = g.withColumns({f"{c}_arr": densifier(c) for c in value_cols}).drop(
        *[f"__m_{c}" for c in value_cols]
    )
    return _arrays_tail(
        out,
        value_cols,
        feb29=feb29,
        smooth_width=smooth_width,
        smooth_mode=smooth_mode,
    )


def _arrays_tail(
    out: DataFrame,
    value_cols: tuple[str, ...],
    *,
    feb29: bool,
    smooth_width: int | None,
    smooth_mode: str,
) -> DataFrame:
    """Shared tail of the dense-array clim forms: Feb-29 interpolation +
    circular running mean, as per-cell array transforms over the
    ``{col}_arr`` dense 366-slot columns (NaN = absent DOY). Factored
    out of :func:`clim_arrays` so the fused grid-pooling path
    (:func:`_grid_clim_arrays_fused`) can reuse it on arrays it builds
    directly from day groups."""
    doys = F.sequence(F.lit(1), F.lit(366))
    if feb29:

        def interp(c: str):
            a = F.col(f"{c}_arr")
            return F.transform(
                a,
                lambda x, i: F.when(
                    i == FEB29 - 1,  # 0-based slot of DOY 60
                    0.5 * F.element_at(a, FEB29 - 1)
                    + 0.5 * F.element_at(a, FEB29 + 1),
                ).otherwise(x),
            )

        out = out.withColumns({f"{c}_arr": interp(c) for c in value_cols})
    if smooth_width:
        if smooth_width % 2 != 1:
            raise ValueError("smoothing width must be odd")
        half = smooth_width // 2

        if smooth_mode == "full":

            def smooth(c: str):
                a = F.col(f"{c}_arr")
                ext = F.concat(
                    F.slice(a, 366 - half + 1, half), a, F.slice(a, 1, half)
                )
                return F.transform(
                    doys,
                    lambda d: F.aggregate(
                        F.slice(ext, d, smooth_width),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    / smooth_width,
                )

            out = out.withColumns({f"{c}_arr": smooth(c) for c in value_cols})
        elif smooth_mode == "valid":
            # Every intermediate below is materialized as a COLUMN
            # before a lambda references it: an expression embedded in a
            # higher-order-function lambda is re-evaluated per element
            # (366x per slot for the scatter), which turns this O(n*W)
            # computation into O(366 * n * W) per row — measured as a
            # ~100x slowdown. Column references are evaluated once per
            # row.

            # present DOYs: any value column non-NaN (the row path's
            # valid_pred, evaluated post-Feb-29)
            def any_present(d):
                p = None
                for c in value_cols:
                    q = ~F.isnan(F.element_at(F.col(f"{c}_arr"), d))
                    p = q if p is None else (p | q)
                return p

            out = out.withColumn(
                "__vp", F.filter(doys, any_present)
            ).withColumn("__n", F.size("__vp"))
            n = F.col("__n")

            # compressed 3-copy sequences, one column per value col
            def ext_col(c: str):
                cv = F.transform(
                    F.col("__vp"), lambda d: F.element_at(F.col(f"{c}_arr"), d)
                )
                return F.concat(cv, cv, cv)

            out = out.withColumns({f"__ext_{c}": ext_col(c) for c in value_cols})

            # middle-copy position j (1..n) sits at i = n + j in the
            # 3n-long ext; the rows-window truncates at the frame edges
            # exactly like the row path when n <= half, and divides by
            # the ACTUAL window size like the window avg
            positions = F.when(n > 0, F.sequence(F.lit(1), n)).otherwise(
                F.array().cast("array<int>")
            )

            def smoothed_col(c: str):
                ext = F.col(f"__ext_{c}")

                def win_avg(j):
                    i = n + j
                    lo = F.greatest(i - half, F.lit(1))
                    hi = F.least(i + half, 3 * n)
                    w = F.slice(ext, lo, hi - lo + 1)
                    return (
                        F.aggregate(w, F.lit(0.0), lambda acc, x: acc + x)
                        / F.size(w)
                    )

                return F.transform(positions, win_avg)

            # emit doy -> smoothed-value MAPS (not 366-slot arrays): a
            # scatter back to the dense axis would reference the heavy
            # smoothing chain inside a per-slot lambda, and Catalyst's
            # project collapse inlines single-use columns into lambda
            # bodies where they are re-evaluated PER ELEMENT (measured
            # ~100x). element_at() on a map behaves exactly like the
            # dense-array readout in calculate_severity — absent DOY ->
            # NULL — so consumers are agnostic to the representation.
            out = out.withColumns(
                {
                    f"{c}_arr": F.map_from_arrays(
                        F.col("__vp"), smoothed_col(c)
                    )
                    for c in value_cols
                }
            ).drop(
                "__vp",
                "__n",
                *[f"__ext_{c}" for c in value_cols],
            )
        else:
            raise ValueError(f"unknown smoothing mode {smooth_mode!r}")
    return out


#: element type of the per-sample edge buffers in the fused grid path
_EDGE_ARR_T = "array<struct<y:int,t:double>>"


def _grid_clim_arrays_fused(
    base: DataFrame,
    *,
    pctile: float,
    window_half_width: int,
    present_doys: bool = False,
) -> DataFrame:
    """Grid-mode pooled climatology straight to raw dense per-cell
    ``seas_arr``/``thresh_arr`` (NaN = empty pool) in ONE aggregation
    cascade — the plan behind every ``pool_mode="grid"`` output; the
    Feb-29 + smoothing tail (:func:`_arrays_tail`) is the caller's.

    Two hash aggregates, zero joins, zero persists:

    1. ``groupBy(cell, doy)`` compresses the baseline series into day
       groups (value buffer + sum + year extent + per-sample
       (year, temp) rows for the ~2W/366 edge DOYs whose cross-year
       wraps need per-sample year gating — reference
       legacy/climatology.py:61-119, _build_cross_year_pad:24-58).
    2. ``groupBy(cell)`` collects the day groups into per-cell maps.

    All pooling then happens as JVM higher-order functions on the one
    row per cell: bucket t draws whole day-groups d in [t-W, t+W] and
    year-gated edge samples from the opposite year edge, and the exact
    percentile is an ``array_sort`` + closed-form readout per slot.
    Each day group crosses the wire ONCE, and hash-partitioning the
    input by cell_id alone satisfies both aggregates, so a
    pre-partitioned source reaches the arrays with no exchange at all.

    ``present_doys=True`` adds ``__present``: per slot, did the bucket
    receive any sample, NULL temps included (the raw row set of
    ``densify=False``). It reads the day-group map's keys, so the
    aggregates — and the arrays the severity join reads — are unchanged.
    """
    W = window_half_width
    q = pctile / 100.0
    nan = F.lit(float("nan"))
    edge = (F.col("doy") <= W) | (F.col("doy") > 366 - W)

    # collect_list skips NULL temps, so mean(pool) == skipna sum/count —
    # the value buffer alone carries everything seas AND thresh need.
    # sort_array here makes every per-slot pool a concat of 11 sorted
    # runs, which array_sort's TimSort merges near-linearly instead of
    # re-sorting from scratch 366x per cell.
    day_groups = base.groupBy("cell_id", "doy").agg(
        F.sort_array(F.collect_list("temp")).alias("__v"),
        # presummed day group: seas for a NON-wrap bucket is then 11
        # adds over these instead of ~11x|years| adds over the pooled
        # buffer — the single largest interpreted-lambda hot loop in
        # the fused clim (HOFs never codegen; C2 tier-up of their
        # interpreted eval was measured as the cold-wall driver)
        F.sum("temp").alias("__s"),
        F.min(F.year("time")).alias("__y0"),
        F.max(F.year("time")).alias("__y1"),
        # per-sample (year, temp) pairs, kept ONLY for edge DOYs
        # (collect_list drops the NULL struct of non-edge rows but keeps
        # edge structs whose temp field is NULL)
        F.collect_list(
            F.when(
                edge,
                F.struct(F.year("time").alias("y"), F.col("temp").alias("t")),
            )
        ).alias("__e"),
    )
    percell = day_groups.groupBy("cell_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("doy"), F.col("__v")))
        ).alias("__dgm"),
        F.map_from_entries(
            F.collect_list(F.struct(F.col("doy"), F.col("__s")))
        ).alias("__sm"),
        F.map_from_entries(
            F.collect_list(F.when(edge, F.struct(F.col("doy"), F.col("__e"))))
        ).alias("__edgem"),
        F.min("__y0").alias("__y_min"),
        F.max("__y1").alias("__y_max"),
    )

    empty_d = F.array().cast("array<double>")
    empty_e = F.array().cast(_EDGE_ARR_T)
    doys = F.sequence(F.lit(1), F.lit(366))
    # Interpreted-eval economics (no codegen inside higher-order
    # functions): map element_at is a linear key scan, so convert each
    # map to a DENSE 366-slot array ONCE per row and index it O(1) in
    # the per-slot lambdas. The dense forms are materialized as real
    # columns (referenced many times -> CollapseProject keeps them).
    dense = {
        "__dga": F.transform(
            doys, lambda d: F.coalesce(F.element_at("__dgm", d), empty_d)
        ),
        "__suma": F.transform(
            doys, lambda d: F.coalesce(F.element_at("__sm", d), F.lit(0.0))
        ),
        "__edgea": F.transform(
            doys, lambda d: F.coalesce(F.element_at("__edgem", d), empty_e)
        ),
    }
    if present_doys:
        # a day group pooling only NULLs has an EMPTY value buffer but
        # still a key in the map
        dense["__hasa"] = F.transform(
            doys, lambda d: F.element_at("__dgm", d).isNotNull()
        )
    percell = percell.withColumns(dense)

    edgea = F.col("__edgea")
    ymin = F.col("__y_min")
    ymax = F.col("__y_max")

    def day_window(a: Column, t: Column) -> Column:
        """Calendar slots [t-W, t+W] of a dense per-doy array (a slice)."""
        lo = F.greatest(t - W, F.lit(1))
        hi = F.least(t + W, F.lit(366))
        return F.slice(a, lo, hi - lo + 1)

    def wrap_rows(t: Column) -> Column:
        """Cross-year edge samples of bucket t, NULL temps kept: bucket
        t <= W receives the tail-of-year edge samples of years BEFORE
        the cell's last present year; bucket t >= 367-W receives
        head-of-year samples of years AFTER the first (the reference's
        adjacent-grid-row rule: NaN pads at the year-grid edges,
        _build_cross_year_pad:24-58)."""
        hi_rows = F.when(
            F.lit(W) >= t,
            F.filter(
                F.flatten(F.slice(edgea, t + 366 - W, F.lit(W) - t + 1)),
                lambda r: r["y"] < ymax,
            ),
        ).otherwise(empty_e)
        lo_rows = F.when(
            t >= 367 - W,
            F.filter(
                F.flatten(F.slice(edgea, F.lit(1), t - 366 + W)),
                lambda r: r["y"] > ymin,
            ),
        ).otherwise(empty_e)
        return F.concat(hi_rows, lo_rows)

    def pool_slot(t: Column) -> Column:
        """Sorted pooled-value buffer of bucket t (empty at Feb 29)."""
        vals_nw = F.flatten(day_window(F.col("__dga"), t))
        w_vals = F.filter(
            F.transform(wrap_rows(t), lambda r: r["t"]),
            lambda x: x.isNotNull(),
        )
        return F.when(
            t != FEB29, F.array_sort(F.concat(vals_nw, w_vals))
        ).otherwise(empty_d)

    # Materialize the 366 sorted pools ONCE per cell. The seas/thresh
    # readouts below reference each pool many times (the percentile
    # formula alone indexes it ~8x); if the pool were an inline
    # subexpression the optimizer would clone the slice+flatten+sort
    # chain into every reference (measured ~15x re-evaluation). As a
    # column consumed by two downstream expressions it is evaluated
    # once, and every readout is an O(1) array index.
    percell = percell.withColumn("__pool", F.transform(doys, pool_slot))
    pool = F.col("__pool")

    suma = F.col("__suma")

    def seas_slot(t: Column) -> Column:
        v = F.element_at(pool, t)
        # non-wrap buckets (the 366 - 2W majority): the pool is exactly
        # the 2W+1 whole day groups, so its sum is 2W+1 adds over the
        # PRESUMMED day sums — not |pool| interpreted adds over every
        # sample (same skipna semantics: collect_list and sum both drop
        # NULLs). Association-order contract: the presummed fold and a
        # per-sample fold differ by a few ulps, which is why every
        # oracle-compared readout of seas goes through rq(): its dyadic
        # eps nudge (2^-13..2^-16, base.py:_rq_eps) exceeds that noise
        # by >8 orders of magnitude, so both folds round identically —
        # including when seas lands EXACTLY on a decimal .xx5 boundary
        # (tests/test_climatology.py::test_presummed_fold_rq_boundary
        # pins that case). Raw-double consumers (detection exceedance)
        # compare seas to thresholds from the SAME build, never across
        # folds, so the ulp difference is unobservable there too.
        fast = F.aggregate(
            F.slice(suma, t - W, 2 * W + 1), F.lit(0.0), lambda a, x: a + x
        )
        slow = F.aggregate(v, F.lit(0.0), lambda a, x: a + x)
        wrap = (F.lit(W) >= t) | (t >= 367 - W)
        return F.when(
            F.size(v) > 0,
            F.when(wrap, slow).otherwise(fast) / F.size(v),
        ).otherwise(nan)

    def thr_slot(t: Column) -> Column:
        return F.coalesce(exact_percentile_sorted(F.element_at(pool, t), q), nan)

    def present(t: Column) -> Column:
        nonwrap = F.array_contains(day_window(F.col("__hasa"), t), True)
        return (t != FEB29) & (nonwrap | (F.size(wrap_rows(t)) > 0))

    return percell.select(
        "cell_id",
        F.transform(doys, seas_slot).alias("seas_arr"),
        F.transform(doys, thr_slot).alias("thresh_arr"),
        *([F.transform(doys, present).alias("__present")] if present_doys else []),
    )


def _clim_rows(arrs: DataFrame, keep: Column | None = None) -> DataFrame:
    """Read per-cell clim arrays back as ``(cell_id, doy, seas, thresh)``
    rows for the DOYs 1..366 where ``keep`` holds, with the
    :func:`calculate_severity` readout (``element_at``, NaN -> NULL).
    The DOY axis is a constant on purpose: Spark pushes the non-empty
    filter it infers from an exploded array below the projection that
    computes the array, which would evaluate the pooling chain twice."""
    rows = arrs.withColumn("doy", F.explode(F.sequence(F.lit(1), F.lit(366))))
    if keep is not None:
        rows = rows.filter(keep)
    return rows.select(
        "cell_id",
        "doy",
        *[
            _denanify(F.element_at(f"{c}_arr", F.col("doy"))).alias(c)
            for c in ("seas", "thresh")
        ],
    )


def pooled_climatology(
    ts: DataFrame,
    *,
    cell_col: str = "cell_id",
    time_col: str = "time",
    temp_col: str = "temp",
    baseline: tuple[int, int] | None = None,
    pctile: float = 90.0,
    window_half_width: int = 5,
    smooth_width: int | None = 31,
    smooth_mode: str = "full",
    strict_nan: bool = False,
    feb29_interp: bool = True,
    densify: bool = True,
    pool_mode: str = "series",
    output: str = "rows",
) -> DataFrame:
    """Compute ``clim(cell_id, doy, seas, thresh)`` from a long-format
    time series — the reference's `compute_climatology` +
    `compute_threshold` in one pass over the data.

    strict_nan=False reproduces the vendored oracle's nan-skipping
    `nanmean`/`nanpercentile`; strict_nan=True (series pooling only)
    reproduces the xarray port's skipna=False contract — any
    measured-but-NULL sample in the pool nullifies the bucket
    (legacy/climatology.py:243-252).

    Both pooling modes end in the per-cell array form of
    :func:`clim_arrays`. output="arrays" returns it: one row per cell,
    dense 366-slot arrays, or doy->value maps when smooth_mode="valid"
    smooths. output="rows" reads it back the way
    :func:`calculate_severity` does: 366 rows per cell, or one row per
    present DOY (the map's entries) from the maps.

    densify=False returns the raw pooled buckets instead — only DOYs
    that received samples (a grid bucket pooling only NULLs is a
    (NULL, NULL) row), no Feb-29 interpolation, no smoothing — so it
    requires feb29_interp=False, smooth_width=None and output="rows".
    Nothing is persisted: every form is a single-consumer tree.
    """
    if output not in ("rows", "arrays"):
        raise ValueError(f"unknown output {output!r}")
    if pool_mode == "grid" and strict_nan:
        raise ValueError("strict_nan=True requires pool_mode='series'")
    if not densify and (feb29_interp or smooth_width or output == "arrays"):
        raise ValueError(
            "densify=False returns the raw pooled buckets: it requires "
            "feb29_interp=False, smooth_width=None and output='rows'"
        )
    doy = clim_doy(F.col(time_col))
    d = ts.select(
        F.col(cell_col).alias("cell_id"),
        F.col(time_col).alias("time"),
        F.col(temp_col).alias("temp"),
        doy.alias("doy"),
    )
    if baseline is not None:
        in_base = F.year("time").between(baseline[0], baseline[1])
    else:
        in_base = F.lit(True)

    if pool_mode == "series":
        # Each row's +/-W series neighbors that are baseline occurrences
        # of a (non-Feb-29) DOY define the buckets this row's temp
        # contributes to (Oliver index-window semantics).
        w = (
            Window.partitionBy("cell_id")
            .orderBy("time")
            .rowsBetween(-window_half_width, window_half_width)
        )
        target = F.when(in_base & (F.col("doy") != FEB29), F.col("doy"))
        pooled = (
            d.withColumn("__targets", F.collect_list(target).over(w))
            .select("cell_id", "temp", F.explode("__targets").alias("doy"))
        )
        aggs = [
            F.avg("temp").alias("seas"),
            F.sort_array(F.collect_list("temp")).alias("__sorted"),
        ]
        if strict_nan:
            aggs.append(
                F.max(F.col("temp").isNull().cast("int")).alias("__has_missing")
            )
        clim = (
            pooled.groupBy("cell_id", "doy")
            .agg(*aggs)
            .withColumn(
                "thresh",
                exact_percentile_sorted(F.col("__sorted"), pctile / 100.0),
            )
            .drop("__sorted")
        )
        if strict_nan:
            ok = F.col("__has_missing") == 0
            clim = clim.withColumns(
                {c: F.when(ok, F.col(c)) for c in ("seas", "thresh")}
            ).drop("__has_missing")
        if not densify:
            return clim
        arrs = clim_arrays(
            clim,
            feb29=feb29_interp,
            smooth_width=smooth_width,
            smooth_mode=smooth_mode,
        )
    elif pool_mode == "grid":
        # (year, doy)-grid semantics (legacy/climatology.py:61-119):
        # sample (y, d) contributes to bucket t = d + o for o in +/-W;
        # wrapping across the year boundary lands in the ADJACENT GRID
        # ROW, which exists only while the sample's year is not the
        # cell's first/last PRESENT baseline year (the reference's
        # cross-year pads, _build_cross_year_pad:24-58: the first row's
        # left pad / last row's right pad are NaN; rows exist for
        # observed years only). Only baseline samples enter the grid at
        # all (legacy:159-161). No window pass: hash partitioning on
        # cell_id alone satisfies both aggregates of the fused cascade.
        base = d.filter(in_base).repartition("cell_id")
        arrs = _grid_clim_arrays_fused(
            base,
            pctile=pctile,
            window_half_width=window_half_width,
            present_doys=not densify,
        )
        if not densify:
            return _clim_rows(arrs, F.element_at("__present", F.col("doy")))
        arrs = _arrays_tail(
            arrs,
            ("seas", "thresh"),
            feb29=feb29_interp,
            smooth_width=smooth_width,
            smooth_mode=smooth_mode,
        )
    else:
        raise ValueError(f"unknown pool_mode {pool_mode!r}")

    if output == "arrays":
        return arrs
    if smooth_width and smooth_mode == "valid":
        # the doy -> value maps hold exactly the present DOYs
        return _clim_rows(arrs, F.element_at("seas_arr", F.col("doy")).isNotNull())
    return _clim_rows(arrs)


def simple_climatology(
    ts: DataFrame,
    *,
    cell_col: str = "cell_id",
    time_col: str = "time",
    temp_col: str = "temp",
    baseline: tuple[int, int] | None = None,
) -> DataFrame:
    """Best-practice per-DOY plain mean (no pooling): groupby('dayofyear')
    .mean() then reindex 1..366 (reference: best_practice/climatology.py:99-105).
    """
    d = ts.select(
        F.col(cell_col).alias("cell_id"),
        F.col(temp_col).alias("temp"),
        clim_doy(F.col(time_col)).alias("doy"),
        F.year(time_col).alias("__yr"),
    )
    if baseline is not None:
        d = d.filter(F.col("__yr").between(*baseline))
    out = d.groupBy("cell_id", "doy").agg(F.avg("temp").alias("seas"))
    return densify_doy(out)


# ---------------------------------------------------------------------------
# Mergeable partial-aggregate climatology states (incremental updates)
# ---------------------------------------------------------------------------

def clim_partials(
    ts: DataFrame,
    *,
    cell_col: str = "cell_id",
    time_col: str = "time",
    temp_col: str = "temp",
) -> DataFrame:
    """Per-(cell, doy) MERGEABLE partial climatology state: valid-sample
    count, sum, min, max, plus the measured-but-NULL count feeding the
    strict skipna rule (reference legacy/climatology.py:243-252).

    This is the incremental-update shape the reference cannot express
    (its climatology is a monolithic recompute): a rolling 100 TB
    archive computes one partial table per ingest batch (a year, a
    month, one new satellite granule), stores it (|cells| x 366 rows —
    tiny), and a new baseline is ONE groups-sized merge away instead of
    a full-history rescan. count/sum/min/max form commutative monoids,
    so merging is associative and layout-independent. Exact linear-
    interpolation percentiles are deliberately NOT in the state — they
    do not merge.
    """
    return (
        ts.groupBy(
            F.col(cell_col).alias("cell_id"),
            clim_doy(F.col(time_col)).alias("doy"),
        )
        .agg(
            F.count(temp_col).alias("n"),
            F.sum(temp_col).alias("s"),
            F.min(temp_col).alias("mn"),
            F.max(temp_col).alias("mx"),
            F.sum(
                F.when(F.col(temp_col).isNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_null"),
        )
    )


def merge_clim_partials(*parts: DataFrame) -> DataFrame:
    """Merge any number of partial-state tables into one (UNION ALL +
    one groups-sized hash aggregate; associative, so batches can be
    merged pairwise, hierarchically, or all at once)."""
    if not parts:
        raise ValueError("merge_clim_partials: at least one partials table required")
    it = iter(parts)
    u = next(it)
    for p in it:
        u = u.unionByName(p)
    return u.groupBy("cell_id", "doy").agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
        F.sum("n_null").alias("n_null"),
    )


def finalize_clim_partials(partials: DataFrame) -> DataFrame:
    """Resolve a (merged) partial-state table into the climatology
    outputs: nanmean `seas`, strict-rule `seas_strict` (NULL whenever
    any pooled sample was measured-but-NULL — the skipna=False
    contract), and the min/max envelope."""
    # n > 0 guard: an all-NULL group has n = 0, and Spark 4's ANSI mode
    # makes 0-division an error, not a NULL.
    mean = F.when(F.col("n") > 0, F.col("s") / F.col("n"))
    return partials.select(
        "cell_id",
        "doy",
        F.col("n").alias("n_samples"),
        mean.alias("seas"),
        F.when(F.col("n_null") == 0, mean).alias("seas_strict"),
        F.col("mn").alias("temp_min"),
        F.col("mx").alias("temp_max"),
    )


def harmonic_fit(ts: DataFrame, harm: DataFrame) -> DataFrame:
    """Closed-form first-harmonic OLS per cell:
    ``y ~ a0 + a1*c + b1*s`` where ``(c, s)`` come from the supplied
    366-row literal harmonics dim (``queries.mhw._harm_rows`` — cos/sin
    computed once in Python so both engines see identical doubles; no
    runtime trig). Exactness contract documented on
    ``queries.mhw.q_harmonic_clim``: rq2 temps, dyadic-quantized summed
    terms, Cramer solve as one shared formula string.

    ``ts`` is ``(cell_id, time, temp)``; returns
    ``(cell_id, n_days, a0, a1, b1, amplitude)`` rq2-quantized.
    Cells with fewer than 3 distinct DOYs return NULL coefficients
    (rank-deficient design — see the guard comment below).
    """
    from mhw3d_detection_spark.functions.calendar import clim_doy
    from mhw3d_detection_spark.operators.analysis import dyadic_quantize
    from mhw3d_detection_spark.queries.base import rq
    from mhw3d_detection_spark.queries.mhw import _H_A0, _H_A1, _H_B1

    j = ts.withColumn("doy", clim_doy(F.col("time"))).join(
        F.broadcast(harm), "doy"
    ).select("cell_id", rq("temp", 2).alias("y"), "c", "s")
    a = j.groupBy("cell_id").agg(
        F.count(F.lit(1)).cast("double").alias("nn"),
        # rank guard: the 3-parameter fit needs >= 3 distinct DOYs; on
        # fewer the normal matrix is singular IN EXACT ARITHMETIC but
        # the dyadic-quantized determinant lands near-zero instead of
        # zero, so Cramer silently emits garbage coefficients (r10
        # edge probe: a 1-DOY cell with temps in [12,16] "fit"
        # a1=14.43). NULL the coefficients for those cells.
        F.countDistinct("c", "s").alias("n_doys"),
        F.sum(dyadic_quantize(F.col("y"), 20)).alias("sy"),
        F.sum(dyadic_quantize(F.col("c"), 30)).alias("sc"),
        F.sum(dyadic_quantize(F.col("s"), 30)).alias("ss"),
        F.sum(dyadic_quantize(F.col("c") * F.col("c"), 30)).alias("scc"),
        F.sum(dyadic_quantize(F.col("s") * F.col("s"), 30)).alias("sss"),
        F.sum(dyadic_quantize(F.col("c") * F.col("s"), 30)).alias("scs"),
        F.sum(dyadic_quantize(F.col("y") * F.col("c"), 20)).alias("syc"),
        F.sum(dyadic_quantize(F.col("y") * F.col("s"), 20)).alias("sys"),
    )
    ok = F.col("n_doys") >= 3
    f = a.select(
        "cell_id",
        F.col("nn").cast("long").alias("n_days"),
        F.when(ok, F.expr(_H_A0)).alias("a0"),
        F.when(ok, F.expr(_H_A1)).alias("a1"),
        F.when(ok, F.expr(_H_B1)).alias("b1"),
    )
    return f.select(
        "cell_id",
        "n_days",
        rq("a0", 2).alias("a0"),
        rq("a1", 2).alias("a1"),
        rq("b1", 2).alias("b1"),
        rq(F.expr("sqrt(a1*a1 + b1*b1)"), 2).alias("amplitude"),
    )
