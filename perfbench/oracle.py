"""Expected outputs from the engine's own DuckDB oracle SQL, and the
order-free hash every op's output is compared against.

The oracle text comes from the query registry (the same SQL the
differential tests gate on), pointed at the generated inputs. Hashes
use the registry's comparison normalisation: floats to 6 decimals,
NULL/NaN as ``NULL``, rows sorted, columns in name order. Expected
values are cached next to the inputs, once per (workload, seed, size).
"""

from __future__ import annotations

import hashlib
import json
import math
import os

#: the climatology baseline PIPE_POOL_GRID_SQL hard-codes
BASELINE = [1995, 2000]

#: float columns of the pipeline oracle, quantized to 2 decimals there
MHW_FLOATS = (
    "intensity_max",
    "intensity_mean",
    "intensity_cumulative",
    "rate_onset",
    "rate_decline",
)


def rq2(x: float | None) -> float | None:
    """``queries.base.rq(x, 2)``: the oracle's 2-decimal quantization
    (floor(x * 100 + 0.5 + 2^-13) / 100), same IEEE operations."""
    if x is None or x != x:
        return None
    return math.floor(x * 100.0 + (0.5 + 2.0**-13)) / 100.0


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NULL"
        return f"{round(v, 6):.6f}".rstrip("0").rstrip(".")
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(rows, cols) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def _duckdb(work: str):
    import duckdb

    con = duckdb.connect()
    tmp = os.path.join(work, "duckdb-tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    con.execute("SET enable_progress_bar = false")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{tmp}'")
    return con


def _mhw_expected(con, inputs: str) -> dict:
    from mhw3d_detection_spark.queries.base import ORDERS_DAILY_SQL
    from mhw3d_detection_spark.queries.detection import (
        MAX_GAP,
        MIN_DUR,
        PIPE_EV_SQL_DENSE,
        PIPE_METRICS_SQL_DENSE,
    )

    od = f"od AS ({ORDERS_DAILY_SQL})"
    grid = os.path.join(inputs, "grid.parquet")
    mine = f"od AS (SELECT cell_id, time, temp FROM read_parquet('{grid}'))"
    if PIPE_METRICS_SQL_DENSE.count(od) != 1:
        raise RuntimeError("pipeline oracle no longer reads one `od` CTE")
    res = con.sql(PIPE_METRICS_SQL_DENSE.replace(od, mine))
    cols = [c.lower() for c in res.columns]
    rows = res.fetchall()
    runs = con.sql(
        f"WITH {PIPE_EV_SQL_DENSE.replace(od, mine)} SELECT count(*) FROM runs"
    ).fetchone()[0]
    return {
        "cols": cols,
        "rows": len(rows),
        "hash": table_hash(rows, cols),
        "runs": runs,
        # the op must detect with the parameters the oracle used
        "params": {"baseline": BASELINE, "min_duration": MIN_DUR, "max_gap": MAX_GAP},
    }


def _curate_expected(con, inputs: str) -> dict:
    from mhw3d_detection_spark.queries.extensions import _CURATION_SQL

    for t in ("documents", "embeddings"):
        p = os.path.join(inputs, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    res = con.sql(_CURATION_SQL())
    cols = [c.lower() for c in res.columns]
    rows = res.fetchall()
    return {"cols": cols, "rows": len(rows), "hash": table_hash(rows, cols)}


def expected(work: str, workload: str, inputs: str) -> dict:
    """Expected output of one workload's op on ``inputs`` (cached)."""
    path = os.path.join(inputs, "expected.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = _duckdb(work)
    try:
        if workload == "mhw_batch":
            exp = _mhw_expected(con, inputs)
        else:
            exp = _curate_expected(con, inputs)
    finally:
        con.close()
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(exp, f)
    os.replace(tmp, path)
    return exp


def mhw_output_hash(rows: list[dict], cols: list[str]) -> str:
    """Hash a detect_mhw output (dict rows) the way the oracle's rows
    are hashed: the oracle's columns only, its float quantization."""
    out = []
    for r in rows:
        out.append(
            tuple(rq2(r[c]) if c in MHW_FLOATS else r[c] for c in cols)
        )
    return table_hash(out, cols)
