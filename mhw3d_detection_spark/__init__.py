"""mhw3d_detection_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of the reference MHW (marine-heatwave)
detection library, re-expressed Spark-first.

The reference (ocean-mhw/mhw3d-detection) is an xarray/dask array library;
this engine models the same semantics relationally:

- dense labeled arrays  -> long-format DataFrames ``ts(cell_id, time, temp)``
- per-day-of-year climatology arrays -> one row of 366-slot arrays per
  cell, joined to the series on ``cell_id`` in the detection stage
  (or read back as ``clim(cell_id, doy, seas, thresh)`` rows)
- the fixed-shape NaN-padded event arrays -> a variable-length
  ``events(cell_id, event_id, date_start, date_end, ...)`` DataFrame

Subpackages
-----------
functions  : scalar column expressions (leap-normalized DOY calendar,
             severity, category labels)
sources    : table loaders / ingestion helpers
operators  : climatology, detection, event metrics, stats, padding,
             dedup / similarity / text extensions
plans      : end-to-end pipeline compositions
streaming  : Structured-Streaming twins of the batch sessionization ops
"""

__version__ = "0.1.0"

from mhw3d_detection_spark.session import get_spark  # noqa: F401
