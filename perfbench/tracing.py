"""Traced runs: spans around the engine's public calls, and per-layer
attribution of Spark execution from Spark's own event log.

Spans are recorded from outside the package: :meth:`Tracer.wrap`
rebinds a public function in the module namespace its caller resolves
it from, and the wrapper opens a span around each call. Every span
also tags the Spark jobs submitted inside it (the ``perfbench.span``
local property, which the event log records on each job start), so a
job is charged to the innermost open span that maps to a layer.

Execution inside one lazy action (the fused MHW plan runs climatology,
severity and detection in one job chain) cannot be split by spans, so
those stages are charged by the operators they ran: each stage's
accumulator updates name the physical-plan nodes it executed, and the
workload's ``stage_layer`` rule maps that node set to a layer. Layer
execution time is its share of the op's stage timeline (time that
stages of several layers overlap is split evenly among them); per-task
counters (run time, GC, shuffle, spill, bytes read) come from the
task-end events.

The event log is attached per traced op (one file each) and detached
again, so a traced run can interleave traced and untraced ops and
check the attributed op against untraced ops of the same session.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time

#: span name -> layer it charges its jobs to (innermost mapped span wins)
SPAN_LAYER = {
    "climatology.pooled_climatology": "climatology",
    "severity.calculate_severity": "severity",
    "detection.exceedance": "detection",
    "detection.enrich_series": "detection",
    "detection.fused_detect_metrics": "detection",
    "similarity.kmeans_ivf_centroids": "similarity.kmeans",
    "textops.connected_components_bounded": "textops.cc",
    "ckpt:exact_drops": "textops.quality",
    "ckpt:near_pairs": "textops.minhash",
    "ckpt:near_drops": "textops.cc",
    "ckpt:sem_pairs": "similarity.sem_pairs",
    "ckpt:sem_drops": "textops.cc",
    "plans.curate_corpus": "plans.curate_corpus",
    "trace.count": "trace",
}

#: checkpointed stages whose row counts the trace records
COUNTED_CKPTS = ("near_pairs", "near_drops", "sem_pairs")


class Tracer:
    """Span recorder + per-op event-log capture for one Spark session."""

    def __init__(self, spark, log_dir: str):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.jvm = self.sc._jvm
        self.log_dir = log_dir
        os.makedirs(log_dir, exist_ok=True)
        self.spans: list[dict] = []
        self.counts: dict[str, int] = {}
        self.counts_by_op: dict[int, dict[str, int]] = {}
        self.stack: list[int] = []
        self.enabled = False
        self.op_id: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self.stack[-1] if self.stack else None,
            "op": self.op_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self.stack.append(sid)
        self.sc.setLocalProperty("perfbench.span", str(sid))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            self.sc.setLocalProperty(
                "perfbench.span", str(self.stack[-1]) if self.stack else None
            )

    def wrap(self, module, attr: str, name: str) -> None:
        """Rebind ``module.attr`` to a span-recording wrapper. A name the
        module no longer has is skipped (its spans then read 0)."""
        fn = getattr(module, attr, None)
        if fn is None:
            return
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, fn))

    def wrap_ckpt(self, module) -> None:
        """Span each ``ckpt(df, stage)`` as ``ckpt:<stage>`` and record
        the row count of the stages in :data:`COUNTED_CKPTS`."""
        fn = getattr(module, "ckpt", None)
        if fn is None:
            return
        tracer = self

        @functools.wraps(fn)
        def wrapper(df, stage, *args, **kwargs):
            with tracer.span(f"ckpt:{stage}"):
                out = fn(df, stage, *args, **kwargs)
            if tracer.enabled and stage in COUNTED_CKPTS:
                with tracer.span("trace.count"):
                    tracer.counts[stage] = tracer.counts.get(stage, 0) + out.count()
            return out

        setattr(module, "ckpt", wrapper)
        self._patched.append((module, "ckpt", fn))

    def unwrap(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    # -- traced ops ------------------------------------------------------
    @contextlib.contextmanager
    def traced_op(self, op_id: int):
        """Capture one op: event log attached, spans on, counts reset."""
        conf = (
            self.jsc.conf()
            .clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
            .set("spark.eventLog.overwrite", "true")
        )
        uri = self.jvm.java.net.URI("file://" + os.path.abspath(self.log_dir))
        listener = self.jvm.org.apache.spark.scheduler.EventLoggingListener(
            f"op{op_id}",
            self.jvm.scala.Option.apply(None),
            uri,
            conf,
            self.jsc.hadoopConfiguration(),
        )
        listener.start()
        self.jsc.addSparkListener(listener)
        self.counts = self.counts_by_op[op_id] = {}
        self.op_id = op_id
        self.enabled = True
        try:
            with self.span("op") as rec:
                yield rec
        finally:
            self.enabled = False
            self.jsc.listenerBus().waitUntilEmpty()
            self.jsc.removeSparkListener(listener)
            listener.stop()

    def op_log(self, op_id: int) -> str:
        return os.path.join(self.log_dir, f"op{op_id}")

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


# -- event-log analysis -------------------------------------------------
def _walk_plan(node: dict, acc_node: dict, parent=None) -> None:
    """Index a SparkPlanInfo tree: accumulator id -> (node, metric name)."""
    rec = {"name": node.get("nodeName", "").strip(), "parent": parent, "children": []}
    if parent is not None:
        parent["children"].append(rec)
    for m in node.get("metrics", []):
        acc_node[m["accumulatorId"]] = (rec, m["name"])
    for ch in node.get("children", []):
        _walk_plan(ch, acc_node, rec)


_STAGE_EDGES = ("ShuffleQueryStage", "BroadcastQueryStage", "Exchange", "InMemoryTableScan")


def _subtree_names(rec: dict) -> set[str]:
    """Operator names in one stage-local subtree (stops at stage edges)."""
    out = {rec["name"]}
    for ch in rec["children"]:
        if not ch["name"].startswith(_STAGE_EDGES):
            out |= _subtree_names(ch)
        else:
            out.add(ch["name"])
    return out


def _is_scan_broadcast(rec: dict) -> bool:
    """A BroadcastExchange whose join's other side scans a source file:
    the dimension table broadcast into a streamed input scan."""
    node = rec
    while node["parent"] is not None and node["parent"]["name"] in (
        "BroadcastQueryStage",
        "InputAdapter",
    ):
        node = node["parent"]
    join = node["parent"]
    if join is None or "Join" not in join["name"]:
        return False
    for side in join["children"]:
        if side is not node and any(
            n.startswith("Scan") for n in _subtree_names(side)
        ):
            return True
    return False


def _exclusive_wall_s(intervals: dict[str, list[tuple[int, int]]]) -> dict[str, float]:
    """Split the op's stage timeline among layers: each instant that
    stages of k layers share is charged 1/k to each, so the layers sum
    to the wall time during which any stage ran."""
    edges = sorted({t for ivs in intervals.values() for iv in ivs for t in iv})
    out = {layer: 0.0 for layer in intervals}
    for a, b in zip(edges, edges[1:]):
        live = [
            layer
            for layer, ivs in intervals.items()
            if any(s <= a and b <= e for s, e in ivs)
        ]
        for layer in live:
            out[layer] += (b - a) / 1000.0 / len(live)
    return out


def analyse_op(log_path: str, spans: list[dict], stage_layer) -> dict:
    """Per-layer execution of one traced op from its event-log file.

    ``stage_layer(node_names)`` maps the operator set of a stage run
    under the op's ``op.exec`` span to a layer name."""
    by_id = {s["id"]: s for s in spans}

    def span_layer(sid):
        while sid is not None:
            s = by_id[sid]
            if s["name"] in SPAN_LAYER:
                return SPAN_LAYER[s["name"]]
            if s["name"] == "op.exec":
                return None  # classify by operators
            sid = s["parent"]
        return None

    acc_node: dict[int, tuple[dict, str]] = {}
    job_span: dict[int, int | None] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    driver_acc: dict[int, int] = {}
    with open(log_path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _walk_plan(e["sparkPlanInfo"], acc_node)
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, v in e["accumUpdates"]:
                    driver_acc[acc_id] = driver_acc.get(acc_id, 0) + int(v)
            elif ev == "SparkListenerJobStart":
                sid = (e.get("Properties") or {}).get("perfbench.span")
                job_span[e["Job ID"]] = int(sid) if sid is not None else None
                for st in e["Stage IDs"]:
                    stage_job[st] = e["Job ID"]
            elif ev == "SparkListenerTaskEnd":
                st = stages.setdefault(e["Stage ID"], _new_stage())
                m = e.get("Task Metrics") or {}
                st["tasks"] += 1
                st["run_ms"] += m.get("Executor Run Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                st["spill"] += m.get("Disk Bytes Spilled", 0)
                st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st["bytes_read"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = stages.setdefault(info["Stage ID"], _new_stage())
                st["interval"] = (info["Submission Time"], info["Completion Time"])
                for a in info.get("Accumulables", []):
                    st["accs"][a["ID"]] = int(float(a.get("Value") or 0))

    layers: dict[str, dict] = {}
    engine = _new_stage()
    engine["jobs"] = sum(1 for s in job_span.values() if span_layer(s) != "trace")
    acc_total: dict[int, int] = dict(driver_acc)
    for stage_id, st in stages.items():
        if "interval" not in st:
            continue
        layer = span_layer(job_span.get(stage_job.get(stage_id)))
        if layer == "trace":
            continue
        names = {acc_node[a][0]["name"] for a in st["accs"] if a in acc_node}
        if layer is None:
            layer = stage_layer(names)
        agg = layers.setdefault(layer, _new_stage())
        agg["intervals"].append(st["interval"])
        for k in ("tasks", "run_ms", "gc_ms", "spill", "shuffle_write", "bytes_read"):
            agg[k] += st[k]
            engine[k] += st[k]
        for a, v in st["accs"].items():
            acc_total[a] = acc_total.get(a, 0) + v

    def sql_metric(node_pred, metric_name) -> int:
        return sum(
            v
            for a, v in acc_total.items()
            if a in acc_node
            and acc_node[a][1] == metric_name
            and node_pred(acc_node[a][0])
        )

    wall = _exclusive_wall_s({k: a["intervals"] for k, a in layers.items()})
    return {
        "layers": {k: {**_counters(a), "wall_s": wall[k]} for k, a in layers.items()},
        "engine": _counters(engine),
        "scan_ms": sql_metric(lambda r: r["name"].startswith("Scan"), "scan time"),
        "scan_broadcast_bytes": sql_metric(
            lambda r: r["name"] == "BroadcastExchange" and _is_scan_broadcast(r),
            "data size",
        ),
        # rows of the largest cached table read back (each reader scans
        # all of it, so one reader's count is the table's row count)
        "cached_rows": max(
            (
                v
                for a, v in acc_total.items()
                if a in acc_node
                and acc_node[a][1] == "number of output rows"
                and acc_node[a][0]["name"] == "InMemoryTableScan"
            ),
            default=0,
        ),
    }


def _counters(st: dict) -> dict:
    return {k: v for k, v in st.items() if k not in ("accs", "intervals")}


def _new_stage() -> dict:
    return {
        "tasks": 0,
        "run_ms": 0,
        "gc_ms": 0,
        "spill": 0,
        "shuffle_write": 0,
        "bytes_read": 0,
        "accs": {},
        "intervals": [],
    }
