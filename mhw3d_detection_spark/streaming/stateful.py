"""Custom stateful streaming operators (``applyInPandasWithState``)
for ORDER-sensitive monitors (SURVEY.md §2.10 extension surface): the
CUSUM change-point screen, the EWMA smoother and the windowed drift
gate. Each is bit-identical to its batch twin in
``operators.analysis`` for any arrival order within the watermark.

Shared design (ordinals are days since 1970-01-01): rows buffer per
key until the watermark passes their day (CUSUM, EWMA) or their
window's end (drift), because only then is their fold order or their
window final — Spark itself drops rows later than the declared delay
before they reach the state function, the standard streaming
contract. Folded rows leave the buffer, so per-key state is the
monitor's own accumulator plus at most the watermark delay of pending
rows; an event-time timeout at the buffered horizon drains the buffer
once the stream goes quiet.

MHW event detection is NOT here: its one streaming face is
:func:`~mhw3d_detection_spark.streaming.sessionize.streaming_detect_partials`
feeding
:func:`~mhw3d_detection_spark.operators.detection.merge_detect_partials`,
the batch partial algebra itself, which needs no watermark and takes
batches in any arrival order.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

_MS_PER_DAY = 86400 * 1000

_DURATION_UNIT_MS = {
    "day": _MS_PER_DAY,
    "days": _MS_PER_DAY,
    "hour": 3600 * 1000,
    "hours": 3600 * 1000,
    "minute": 60 * 1000,
    "minutes": 60 * 1000,
    "second": 1000,
    "seconds": 1000,
}


def _duration_ms(spec: str) -> int:
    """Parse a Spark-style duration string (``"30 days"``) to ms —
    the same grammar the ``watermark`` arguments use."""
    n, unit = spec.strip().split()
    try:
        return int(n) * _DURATION_UNIT_MS[unit.lower()]
    except KeyError:
        raise ValueError(f"unsupported duration unit in {spec!r}") from None


_CUSUM_OUT_SCHEMA = StructType(
    [
        StructField("cell_id", LongType()),
        StructField("time", DateType()),
        StructField("cusum_pos", DoubleType()),
        StructField("cusum_neg", DoubleType()),
        StructField("alarm_pos", BooleanType()),
        StructField("alarm_neg", BooleanType()),
    ]
)

_CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("cp", DoubleType()),
        StructField("cn", DoubleType()),
        StructField("days", ArrayType(LongType())),
        StructField("vals", ArrayType(DoubleType())),
    ]
)


def streaming_cusum_alarms(
    stream: DataFrame,
    *,
    target: float,
    allowance: float,
    threshold: float,
    cell_col: str = "cell_id",
    time_col: str = "time",
    temp_col: str = "temp",
    watermark: str = "7 days",
    idle_ttl: str | None = None,
) -> DataFrame:
    """Streaming twin of :func:`operators.analysis.cusum_changepoints`
    with a TRAINED in-control ``target`` (the online-monitoring
    deployment: the level comes from a baseline fit, the detector
    watches the live feed). Emits, in append mode, one row per folded
    day — bit-identical to the batch operator called with the same
    ``target`` (dyadic-grid recursion ≡ the batch closed form; pinned
    by a parity test), for ANY arrival order within the watermark.

    Incremental design (the module's watermark buffer): CUSUM is
    ORDER-sensitive, so rows buffer per cell until the watermark passes
    their day — only then is their fold order final (Spark drops
    later-arriving older rows at the watermark gate). State: the two
    accumulators + the pending (day, value) buffer, bounded by the
    watermark delay.
    Duplicate (cell, day) samples: last arrival wins (the batch twin
    assumes a unique daily grid; feed it one).

    At 100 TB-rate: state partitions on ``cell_id`` like every other
    per-cell operator; per-cell state is two doubles + the watermark
    window, and the emitted stream is append-only (no re-emission).

    State lifetime contract: CUSUM is a CUMULATIVE detector, so by
    default a cell's accumulators persist for the life of the query
    even if the cell stops emitting — that is the correct semantics
    for a fixed sensor grid (bounded cell universe), but it means the
    state store grows with the number of EVER-SEEN cells, not the
    active set. Two bounds apply regardless: a cell whose buffer has
    drained at zero accumulators is REMOVED outright (an empty state
    refolds identically from scratch, so this is unobservable), and
    ``idle_ttl`` (e.g. ``"90 days"``) opts into removing a cell's
    state after that much watermark time with no pending rows —
    re-appearing cells then restart the detector from zero, which is a
    documented semantic reset, so it is off by default. Set it for
    high-churn key universes (user ids, session keys) where unbounded
    ever-seen state is the real hazard.
    """
    from mhw3d_detection_spark.operators.analysis import dyadic_quantize_py as _dq

    tgt = float(target)
    k = float(allowance)
    h = float(threshold)
    ttl_ms = _duration_ms(idle_ttl) if idle_ttl is not None else None

    def process(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            cp, cn, days, vals = state.get
            buf = dict(zip(days, vals))
        else:
            cp, cn, buf = 0.0, 0.0, {}
        emitted: list[tuple] = []

        def fold(day: int, xq) -> None:
            nonlocal cp, cn
            if xq is not None:
                # NULL day: batch window sums SKIP the NULL step, so the
                # accumulators hold and the row still emits (parity)
                cp = max(0.0, cp + (xq - tgt - k))
                cn = max(0.0, cn + (tgt - xq - k))
            emitted.append((key[0], day, cp, cn, cp > h, cn > h))

        if not state.hasTimedOut:
            for pdf in pdfs:
                ts = pd.to_datetime(pdf[time_col])
                ds = ts.values.astype("datetime64[D]").astype("int64")
                for day, v in zip(ds.tolist(), pdf[temp_col].tolist()):
                    buf[int(day)] = _dq(v)
        wm_day = state.getCurrentWatermarkMs() // _MS_PER_DAY
        for day in sorted(d for d in buf if d < wm_day):
            fold(day, buf.pop(day))
        # pure-idle wake: the timeout fired with nothing pending and
        # nothing folded — this is the idle_ttl expiring (the horizon
        # timeout always drains the buffer and emits)
        idle_wake = state.hasTimedOut and not buf and not emitted
        if not buf and cp == 0.0 and cn == 0.0:
            # zero-information state: an absent cell refolds to exactly
            # this, so dropping it is unobservable — keeps the store
            # bounded by ACTIVE-or-armed cells, not ever-seen ones
            if state.exists:
                state.remove()
        elif idle_wake and ttl_ms is not None:
            # documented semantic reset: the cell went idle past the
            # TTL with armed accumulators; a re-appearance restarts
            # the detector from zero
            state.remove()
        else:
            ks = sorted(buf)
            state.update((cp, cn, ks, [buf[d] for d in ks]))
            if buf:
                horizon = (max(buf) + 2) * _MS_PER_DAY
                state.setTimeoutTimestamp(
                    max(horizon, state.getCurrentWatermarkMs() + 1)
                )
            elif ttl_ms is not None:
                state.setTimeoutTimestamp(
                    state.getCurrentWatermarkMs() + ttl_ms
                )
        if emitted:
            yield pd.DataFrame(
                {
                    "cell_id": [e[0] for e in emitted],
                    "time": [
                        pd.Timestamp(e[1], unit="D").date() for e in emitted
                    ],
                    "cusum_pos": [e[2] for e in emitted],
                    "cusum_neg": [e[3] for e in emitted],
                    "alarm_pos": [e[4] for e in emitted],
                    "alarm_neg": [e[5] for e in emitted],
                }
            )

    return (
        stream.withWatermark(time_col, watermark)
        .groupBy(F.col(cell_col).cast("long").alias("cell_id"))
        .applyInPandasWithState(
            process,
            _CUSUM_OUT_SCHEMA,
            _CUSUM_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


_EWMA_OUT_SCHEMA = StructType(
    [
        StructField("cell_id", LongType()),
        StructField("time", DateType()),
        StructField("temp_q", DoubleType()),
        StructField("ewma", DoubleType()),
        StructField("ewma_anom", DoubleType()),
    ]
)

_EWMA_STATE_SCHEMA = StructType(
    [
        StructField("hist", ArrayType(DoubleType())),
        StructField("days", ArrayType(LongType())),
        StructField("vals", ArrayType(DoubleType())),
    ]
)


def streaming_ewma(
    stream: DataFrame,
    *,
    window: int = 16,
    cell_col: str = "cell_id",
    time_col: str = "time",
    temp_col: str = "temp",
    watermark: str = "7 days",
    idle_ttl: str | None = None,
) -> DataFrame:
    """Streaming twin of :func:`operators.analysis.ewma_smooth` —
    bit-identical to the batch lag chain (same truncated power-of-two
    weights over the same dyadic-grid inputs; exact dyadic sums are
    association-free, so the streamed fold and the batch chained adds
    produce the same bits). Same watermark-frontier logic as
    :func:`streaming_cusum_alarms`: the smoother is order-sensitive
    (row-based lags), so rows buffer per cell until the watermark
    fixes their fold position. State: the last ``window - 1`` folded
    values plus the pending buffer — bounded by the watermark delay.
    Warm-up rows (fewer than ``window`` samples of history) emit NULL
    ewma, matching the batch contract.

    State lifetime contract: like :func:`streaming_cusum_alarms`, a
    cell's lag history persists for the life of the query by default
    (correct for a fixed sensor grid; state = ever-seen cells ×
    ``window - 1`` doubles). A cell with no history and no pending
    rows is removed outright (unobservable), and ``idle_ttl`` opts
    into dropping idle cells' history after that much watermark time —
    a re-appearing cell then re-enters warm-up (NULL ewma for its
    first ``window - 1`` rows), which is the documented reset.
    """
    from mhw3d_detection_spark.operators.analysis import dyadic_quantize_py as _dq

    w = int(window)
    wts = [2.0 ** -(j + 1) for j in range(w - 1)] + [2.0 ** -(w - 1)]
    ttl_ms = _duration_ms(idle_ttl) if idle_ttl is not None else None

    def process(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            hist, days, vals = state.get
            hist = list(hist)
            buf = dict(zip(days, vals))
        else:
            hist, buf = [], {}
        emitted: list[tuple] = []

        def fold(day: int, xq) -> None:
            # NULL day: batch emits NULL ewma for this row AND for the
            # following window-1 rows (every lag chain containing the
            # NULL term is NULL) — mirror by recording None in history
            seq = [xq] + hist[: w - 1]
            if len(hist) >= w - 1 and all(v is not None for v in seq):
                e = 0.0
                for wt, v in zip(wts, seq):
                    e += wt * v
                emitted.append((key[0], day, xq, e, xq - e))
            else:
                emitted.append((key[0], day, xq, None, None))
            hist.insert(0, xq)
            del hist[w - 1 :]

        if not state.hasTimedOut:
            for pdf in pdfs:
                ts = pd.to_datetime(pdf[time_col])
                ds = ts.values.astype("datetime64[D]").astype("int64")
                for day, v in zip(ds.tolist(), pdf[temp_col].tolist()):
                    buf[int(day)] = _dq(v)
        wm_day = state.getCurrentWatermarkMs() // _MS_PER_DAY
        for day in sorted(d for d in buf if d < wm_day):
            fold(day, buf.pop(day))
        # see streaming_cusum_alarms: zero-info removal + idle TTL
        idle_wake = state.hasTimedOut and not buf and not emitted
        if not buf and not hist:
            if state.exists:
                state.remove()
        elif idle_wake and ttl_ms is not None:
            state.remove()
        else:
            ks = sorted(buf)
            state.update((hist, ks, [buf[d] for d in ks]))
            if buf:
                horizon = (max(buf) + 2) * _MS_PER_DAY
                state.setTimeoutTimestamp(
                    max(horizon, state.getCurrentWatermarkMs() + 1)
                )
            elif ttl_ms is not None:
                state.setTimeoutTimestamp(
                    state.getCurrentWatermarkMs() + ttl_ms
                )
        if emitted:
            yield pd.DataFrame(
                {
                    "cell_id": [e[0] for e in emitted],
                    "time": [
                        pd.Timestamp(e[1], unit="D").date() for e in emitted
                    ],
                    "temp_q": [e[2] for e in emitted],
                    "ewma": [e[3] for e in emitted],
                    "ewma_anom": [e[4] for e in emitted],
                }
            )

    return (
        stream.withWatermark(time_col, watermark)
        .groupBy(F.col(cell_col).cast("long").alias("cell_id"))
        .applyInPandasWithState(
            process,
            _EWMA_OUT_SCHEMA,
            _EWMA_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


_DRIFT_OUT_SCHEMA = StructType(
    [
        StructField("win_id", LongType()),
        StructField("window_start", DateType()),
        StructField("n_new", LongType()),
        StructField("ks_stat", DoubleType()),
        StructField("w1_stat", DoubleType()),
        StructField("psi_stat", DoubleType()),
    ]
)

_DRIFT_STATE_SCHEMA = StructType(
    [
        StructField("xs", ArrayType(DoubleType())),
        StructField("cs", ArrayType(LongType())),
    ]
)


def streaming_drift_gate(
    stream: DataFrame,
    ref: list,
    value_col: str,
    *,
    time_col: str = "time",
    window_days: int = 1,
    watermark: str = "1 day",
    rq_digits: int | None = None,
    psi_band: int = 50,
) -> DataFrame:
    """Streaming twin of
    :func:`operators.analysis.window_drift_scores` — the live drift
    monitor VERDICT r10 Next #6 asked for: per event-time window, the
    value histogram accumulates in state, and when the watermark
    closes the window ONE row emits with the KS / W1 / PSI statistics
    against the FIXED reference histogram ``ref`` (built batch-side by
    :func:`operators.analysis.drift_ref_hist` — a domain-bounded
    literal, the ``srp_gate_sigs`` device).

    Bit-parity with the batch twin for ANY arrival order inside the
    watermark: the histogram is an order-free integer aggregate, the
    pooled-domain iteration is sorted, cumulative counts are integer,
    each CDF division / W1 term / PSI term replays the batch column
    expressions on the same dyadic grids (2^-30 / 2^-20; ``ln`` is the
    one libm call — same data path both sides at these magnitudes,
    the q_text_drift_psi cross-engine precedent). Emitted rows are
    append-only: a window emits exactly once, on close.

    State: one (value -> count) map per OPEN window, bounded by the
    domain guard x the number of windows inside the watermark delay;
    closed windows' state is removed on emit.
    """
    import math

    from mhw3d_detection_spark.operators.analysis import dyadic_quantize_py
    from mhw3d_detection_spark.queries.base import rq_py

    ref_pairs = sorted((float(x), int(c)) for x, c in ref)
    n_old = float(sum(c for _, c in ref_pairs))
    ref_map = dict(ref_pairs)
    wd = int(window_days)
    pband = float(psi_band)

    def _guard(v):
        if v is None:
            return None
        v = float(v)
        if math.isnan(v):
            return None
        return v if rq_digits is None else rq_py(v, rq_digits)

    def _scores(buf: dict) -> tuple:
        n_new = float(sum(buf.values()))
        xs = sorted(set(ref_map) | set(buf))
        if not (n_old > 0 and n_new > 0):
            return int(n_new), None, None, None
        # KS + W1 over the pooled domain (the batch cum/diff/gap path)
        a = 0
        b = 0
        ks = None
        w1 = 0.0
        prev_diff = None
        prev_x = None
        for x in xs:
            if prev_x is not None:
                gap = float(x) - float(prev_x)
                w1 += dyadic_quantize_py(prev_diff, 30) * gap
            a += ref_map.get(x, 0)
            b += buf.get(x, 0)
            diff = abs(float(a) / n_old - float(b) / n_new)
            ks = diff if ks is None or diff > ks else ks
            prev_diff, prev_x = diff, x
        # PSI over psi_band-wide bands of the pooled observed spine
        bands: dict[int, list[int]] = {}
        for x in xs:
            band = int(math.floor(float(x) / pband))
            bo_bn = bands.setdefault(band, [0, 0])
            bo_bn[0] += ref_map.get(x, 0)
            bo_bn[1] += buf.get(x, 0)
        nb = len(bands)
        psi = 0.0
        for band in bands:
            bo, bn = bands[band]
            po = (bo + 1.0) / (n_old + nb)
            pn = (bn + 1.0) / (n_new + nb)
            psi += dyadic_quantize_py((pn - po) * math.log(pn / po), 20)
        return int(n_new), ks, w1, psi

    def process(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        win = int(key[0])
        if state.exists:
            xs, cs = state.get
            buf = dict(zip(xs, cs))
        else:
            buf = {}
        if not state.hasTimedOut:
            for pdf in pdfs:
                for v in pdf["__x"].tolist():
                    g = _guard(v)
                    if g is not None:
                        buf[g] = buf.get(g, 0) + 1
        wm = state.getCurrentWatermarkMs()
        end_ms = (win + 1) * wd * _MS_PER_DAY
        if wm >= end_ms and buf:
            n_new, ks, w1, psi = _scores(buf)
            state.remove()
            yield pd.DataFrame(
                {
                    "win_id": [win],
                    "window_start": [
                        pd.Timestamp(win * wd, unit="D").date()
                    ],
                    "n_new": [n_new],
                    "ks_stat": [ks],
                    "w1_stat": [w1],
                    "psi_stat": [psi],
                }
            )
            return
        if buf:
            ks_sorted = sorted(buf)
            state.update((ks_sorted, [buf[x] for x in ks_sorted]))
            state.setTimeoutTimestamp(max(end_ms, wm + 1))
        elif state.exists:
            state.remove()

    day = F.datediff(
        F.col(time_col).cast("date"), F.lit("1970-01-01").cast("date")
    )
    win = F.floor(day / F.lit(float(wd))).cast("long")
    return (
        stream.withWatermark(time_col, watermark)
        .select(
            F.col(time_col),
            win.alias("__win"),
            F.col(value_col).cast("double").alias("__x"),
        )
        .groupBy("__win")
        .applyInPandasWithState(
            process,
            _DRIFT_OUT_SCHEMA,
            _DRIFT_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_current_state(
    events,
    user_col: str = "user_id",
    state_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
):
    """Streaming materialized view of the SCD2 CURRENT state (r13): each
    key's last-event-wins state — the serving-side companion to the
    batch ``q_scd2_intervals`` history build (the interval table is the
    warehouse artifact; this is the operational "what is every user's
    state RIGHT NOW" view a router/personalizer reads).

    Works on a streaming OR batch DataFrame — the parity twin IS this
    same function on the batch frame, and the pinned property is that
    Spark's incremental aggregation state (complete/update output mode,
    any microbatch slicing, any arrival order) lands on the identical
    table. That holds because every aggregate here is a commutative
    mergeable monoid over exact values: ``max_by`` on the total
    (us, event_id) order (ties impossible — event ids are unique),
    integer max/count. No watermark is needed: the view is keyed by
    user, not by window, and late data simply loses the max_by race it
    should lose.

    Scale: state is one tuple per user (bounded by the key domain, the
    HLL/register-sketch rule); the update stream shuffles once on the
    user key."""
    from pyspark.sql import functions as F

    us = F.unix_micros(F.col(ts_col))
    order = F.struct(us.alias("us"), F.col(id_col).alias("id"))
    return (
        events.filter(
            F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
        )
        .groupBy(F.col(user_col).alias("user_id"))
        .agg(
            F.max_by(F.col(state_col), order).alias("state"),
            F.max(us).cast("long").alias("state_since_us"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )
