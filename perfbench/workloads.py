"""The benchmark workloads: what one op runs, what it counts as items,
how its output is checked, and how a traced op is attributed.

Each op is one call through a public entry point of the engine
(``plans.detect_mhw``, ``plans.curate_corpus``) on inputs registered
at set-up, run to completion, then checked against the oracle.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from oracle import mhw_output_hash, table_hash


class MhwBatch:
    """Full fused detection over the generated grid, events collected
    to the driver."""

    name = "mhw_batch"

    def __init__(self, spark, inputs: str, expected: dict):
        self.ts = spark.read.parquet(os.path.join(inputs, "grid.parquet"))
        self.items = pq.ParquetFile(os.path.join(inputs, "grid.parquet")).metadata.num_rows
        self.params = expected["params"]

    @staticmethod
    def install(tracer) -> None:
        from mhw3d_detection_spark.plans import pipeline

        tracer.wrap(pipeline, "pooled_climatology", "climatology.pooled_climatology")
        tracer.wrap(pipeline, "calculate_severity", "severity.calculate_severity")
        for f in ("exceedance", "enrich_series", "fused_detect_metrics"):
            tracer.wrap(pipeline, f, f"detection.{f}")

    def op(self, span):
        from mhw3d_detection_spark import plans

        with span("plans.detect_mhw"):
            events = plans.detect_mhw(
                self.ts,
                baseline=tuple(self.params["baseline"]),
                min_duration=self.params["min_duration"],
                max_gap=self.params["max_gap"],
                pool_mode="grid",
            )
        with span("op.exec"):
            rows = events.collect()
        self.output_rows = len(rows)
        return rows

    def check(self, rows, expected: dict) -> bool:
        rows = [r.asDict() for r in rows]
        return (
            len(rows) == expected["rows"]
            and mhw_output_hash(rows, expected["cols"]) == expected["hash"]
        )

    @staticmethod
    def stage_layer(names: set[str]) -> str:
        """Layer of a stage of the fused plan, by the operators it ran:
        stages re-reading the cached run partials assemble events
        (detection merge); window/sort-aggregate stages are the run
        sessionization; a scan joined to a broadcast is the severity
        join; the rest (baseline scan, pooled percentile aggregate,
        clim broadcast) is climatology."""
        if "InMemoryTableScan" in names:
            return "detection.merge"
        if names & {"Window", "SortAggregate", "HashAggregate"}:
            return "detection"
        if "BroadcastHashJoin" in names:
            return "severity"
        return "climatology"


class Curate:
    """The curation funnel over the generated corpus, collected."""

    name = "curate"

    def __init__(self, spark, inputs: str, expected: dict):
        self.docs = spark.read.parquet(os.path.join(inputs, "documents.parquet"))
        self.emb = spark.read.parquet(os.path.join(inputs, "embeddings.parquet"))
        self.items = pq.ParquetFile(os.path.join(inputs, "documents.parquet")).metadata.num_rows

    @staticmethod
    def install(tracer) -> None:
        from mhw3d_detection_spark.operators import similarity, textops
        from mhw3d_detection_spark.plans import audit_hook

        tracer.wrap(similarity, "kmeans_ivf_centroids", "similarity.kmeans_ivf_centroids")
        tracer.wrap(
            textops, "connected_components_bounded", "textops.connected_components_bounded"
        )
        tracer.wrap_ckpt(audit_hook)

    def op(self, span):
        from mhw3d_detection_spark import plans

        with span("plans.curate_corpus"):
            out = plans.curate_corpus(self.docs, self.emb)
        with span("op.exec"):
            rows = out.collect()
        self.output_rows = len(rows)
        return out.columns, rows

    def check(self, out, expected: dict) -> bool:
        cols, rows = out
        cols = [c.lower() for c in cols]
        return (
            len(rows) == expected["rows"]
            and sorted(cols) == sorted(expected["cols"])
            and table_hash([tuple(r) for r in rows], cols) == expected["hash"]
        )

    @staticmethod
    def stage_layer(names: set[str]) -> str:
        # the final readout joins the checkpointed drop tables
        return "plans.curate_corpus"


WORKLOADS = {w.name: w for w in (MhwBatch, Curate)}
