"""Scalar column functions: severity, category labels, ordinals.

All pure Column expressions (JVM-side, codegen'd) — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Hobday et al. category names, band k -> CATEGORIES[k-1]
#: (reference: tests/data/legacy/marineHeatWaves.py:349,386-392)
CATEGORIES = ("Moderate", "Strong", "Severe", "Extreme")

#: The legacy epsilon added to the severity denominator
#: (reference: src/mhw3d/common/core.py:226; CLAUDE.md notes it appears
#: in 3 places and is part of the frozen contract).
LEGACY_EPS = 1e-9


def severity_legacy(t_anom: Column, thresh: Column, seas: Column) -> Column:
    """severity = T_anom / (thresh - seas + 1e-9) (frozen legacy contract)."""
    return t_anom / (thresh - seas + F.lit(LEGACY_EPS))


def severity_best_practice(
    t_anom: Column, thresh: Column, seas: Column, eps: float = 1e-9
) -> Column:
    """Best-practice guarded divide: NULL where the denominator is ~0
    (reference mandates `xr.where(denom > eps, a/denom, NaN)`)."""
    denom = thresh - seas
    return F.when(denom > F.lit(eps), t_anom / denom).otherwise(F.lit(None))


def rel_thresh_norm(temp: Column, seas: Column, thresh: Column) -> Column:
    """Normalized exceedance ``(temp - thresh) / (thresh - seas)``, the
    category band's argument (marineHeatWaves.py:385), as the IEEE
    quotient NumPy gives: a zero denominator yields +-inf, or NaN for a
    zero numerator, where ANSI division would raise. A constant
    baseline (e.g. an ice-clamped cell) has ``thresh == seas``."""
    num, den = temp - thresh, thresh - seas
    return F.when(den == 0, num * F.lit(float("inf"))).otherwise(num / den)


def category_label(rel_thresh_norm_peak: Column) -> Column:
    """Map the event's peak normalized exceedance to a category string.

    cats = floor(1 + relThreshNorm); label = CATEGORIES[min(cats, 4) - 1]
    (reference: marineHeatWaves.py:386-392).
    """
    band = F.least(F.floor(F.lit(1.0) + rel_thresh_norm_peak), F.lit(4)).cast("int")
    return F.element_at(F.array(*[F.lit(c) for c in CATEGORIES]), band)


def to_ordinal(date_col: Column) -> Column:
    """Proleptic-Gregorian ordinal of a date (python `date.toordinal()`
    semantics; reference: marineHeatWaves.py:26,196):
    0001-01-01 -> 1."""
    return F.datediff(date_col, F.lit("0001-01-01")) + 1


def from_ordinal(ord_col: Column) -> Column:
    """Inverse of :func:`to_ordinal` — ordinal int -> date."""
    return F.date_add(F.lit("0001-01-01"), (ord_col - 1).cast("int"))
