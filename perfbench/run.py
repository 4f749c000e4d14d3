"""Benchmark driver: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload mhw_batch --seed 1 --seconds 1 --trace 0

Run from the repository root. Flow of one run:

1. synthesize the seeded inputs and their oracle hash (cached under
   ``.perfbench/``; excluded from every timing);
2. set-up: import the engine, ``get_spark(cpus=<cores>)``, register the
   inputs (``setup_s``);
3. the first op in the fresh session (``cold_op_s``), then steady ops
   back to back until ``--seconds`` have passed, at least one
   (``op_s_p50``); every op's output is checked against the oracle;
4. stop the session and wait for the JVM to exit.

With ``--trace 1`` steady ops alternate traced (event log attached,
spans on) and untraced, and the last line reports per-layer metrics
instead of end-to-end ones. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


def _units() -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def _host_heap() -> str:
    """Driver heap: a quarter of physical memory, capped at 4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    return f"{max(1024, min(4096, total_kb // 4 // 1024))}m"


def _isolate_env(run_dir: str) -> None:
    """Keep every scratch file of Python, the JVM and Spark in the run dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = _host_heap()
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
        "pyspark-shell"
    )


def _prepare(workload: str, seed: int, size: str) -> tuple[str, dict]:
    """Inputs + expected output, made in a child process so the engine
    is first imported inside the timed set-up."""
    code = (
        "import json, sys; sys.path[:0] = [sys.argv[1], sys.argv[2]]\n"
        "from inputs import make_inputs; from oracle import expected\n"
        "d = make_inputs(sys.argv[3], sys.argv[4], int(sys.argv[5]), sys.argv[6])\n"
        "print(json.dumps([d, expected(sys.argv[3], sys.argv[4], d)]))\n"
    )
    res = subprocess.run(
        [sys.executable, "-c", code, HERE, ROOT, WORK, workload, str(seed), size],
        capture_output=True,
        text=True,
        timeout=170,
    )
    if res.returncode != 0:
        raise RuntimeError(f"input synthesis failed:\n{res.stderr[-2000:]}")
    inputs, exp = json.loads(res.stdout.strip().splitlines()[-1])
    return inputs, exp


class RssSampler:
    """Samples a process's resident set size from /proc on a thread."""

    def __init__(self, pid: int, period_s: float = 0.2):
        self.pid = pid
        self.period_s = period_s
        self.samples: list[tuple[float, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmRSS missing")

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            try:
                self.samples.append((time.perf_counter(), self.rss_mb()))
            except OSError:
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def _stop(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _no_span(name):
    return contextlib.nullcontext()


def run(args) -> dict:
    from workloads import WORKLOADS

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    _isolate_env(run_dir)
    inputs, expected = _prepare(args.workload, args.seed, args.size)

    t0 = time.perf_counter()
    import mhw3d_detection_spark as engine

    spark = engine.get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
    tracer = None
    try:
        wl = WORKLOADS[args.workload](spark, inputs, expected)
        setup_s = time.perf_counter() - t0

        # peak memory is a per-layer metric: sampled in traced runs only
        sampler = contextlib.nullcontext()
        if args.trace:
            from pyspark import SparkContext
            from tracing import Tracer

            tracer = Tracer(spark, os.path.join(run_dir, "eventlog"))
            wl.install(tracer)
            # spark-submit execs into the JVM, so the launcher pid is the JVM's
            sampler = RssSampler(SparkContext._gateway.proc.pid)

        attempted = failed = 0

        def one_op(span):
            nonlocal attempted, failed
            attempted += 1
            wl.output_rows = 0
            t = time.perf_counter()
            try:
                out = wl.op(span)
            except Exception as e:  # a failed op is counted, the run goes on
                print(f"op {attempted} failed: {e!r}", file=sys.stderr)
                failed += 1
                return time.perf_counter() - t
            wall = time.perf_counter() - t
            # ops are independent jobs: drop what this one persisted, so
            # the next cannot read it back from the cache
            spark.catalog.clearCache()
            if not wl.check(out, expected):
                print(f"op {attempted}: output differs from the oracle", file=sys.stderr)
                failed += 1
            return wall

        with sampler:
            cg0 = _codegen_ns(spark)
            cold_s = one_op(_no_span)
            cold_codegen_s = (_codegen_ns(spark) - cg0) / 1e9
            plain: list[float] = []
            traced: list[tuple[int, float]] = []
            t_loop = time.perf_counter()
            while (
                time.perf_counter() - t_loop < args.seconds
                or not plain
                or (tracer is not None and not traced)
            ):
                if tracer is not None and len(traced) <= len(plain):
                    op_id = attempted + 1
                    with tracer.traced_op(op_id):
                        traced.append((op_id, one_op(tracer.span)))
                    tracer.counts_by_op[op_id]["output_rows"] = wl.output_rows
                else:
                    plain.append(one_op(_no_span))
    finally:
        if tracer is not None:
            tracer.unwrap()
        _stop(spark)
        shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)

    op_p50 = statistics.median(plain)
    if tracer is None:
        metrics = {
            "setup_s": setup_s,
            "cold_op_s": cold_s,
            "op_s_p50": op_p50,
            "items_per_s": wl.items / op_p50,
        }
    else:
        metrics = _layer_metrics(wl, tracer, traced, op_p50, cold_codegen_s)
        metrics["engine.jvm_peak_rss_mb"] = max(r for _, r in sampler.samples)
        tracer.dump(os.path.join(run_dir, "trace.json"), {"metrics": metrics})
    units = _units()
    print(
        f"{args.workload} seed={args.seed}: setup {setup_s:.2f}s cold {cold_s:.2f}s "
        f"steady {[round(x, 2) for x in plain]} traced {[round(w, 2) for _, w in traced]}",
        file=sys.stderr,
    )
    if tracer is not None and abs(metrics["trace.residual_s"]) > 0.25 * op_p50:
        print(
            f"attribution off by {metrics['trace.residual_s']:.2f}s against the "
            f"untraced op ({op_p50:.2f}s)",
            file=sys.stderr,
        )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def _codegen_ns(spark) -> int:
    cg = spark.sparkContext._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return int(cg.compileTime())


def _layer_metrics(wl, tracer, traced, op_p50, cold_codegen_s):
    """Per-layer metrics, each the median over the traced steady ops.
    Layers a workload does not run read 0."""
    from tracing import analyse_op

    mhw = wl.name == "mhw_batch"
    per_op = []
    for op_id, wall in traced:
        spans = [s for s in tracer.spans if s["op"] == op_id]
        a = analyse_op(tracer.op_log(op_id), spans, wl.stage_layer)
        cnt = tracer.counts_by_op[op_id]
        eng = a["engine"]
        stage_wall = sum(v["wall_s"] for v in a["layers"].values())

        def span_s(*names):
            return sum(s["end"] - s["start"] for s in spans if s["name"] in names)

        def layer(name, key="wall_s"):
            return a["layers"].get(name, {}).get(key, 0)

        # the engine's run table (persisted, read back by event
        # assembly) and the events it emitted
        runs = a["cached_rows"] if mhw else 0
        events = cnt["output_rows"] if mhw else 0
        # the tracer's own row-count jobs: not the op's work
        trace_s = span_s("trace.count")
        m = {
            "plans.detect_mhw.build_s": span_s("plans.detect_mhw"),
            "plans.curate_corpus.call_s": span_s("plans.curate_corpus"),
            "climatology.build_s": span_s("climatology.pooled_climatology"),
            "climatology.exec_s": layer("climatology"),
            "climatology.shuffle_write_bytes": layer("climatology", "shuffle_write"),
            "climatology.spill_bytes": layer("climatology", "spill"),
            "severity.build_s": span_s("severity.calculate_severity"),
            "severity.exec_s": layer("severity"),
            "severity.broadcast_bytes": a["scan_broadcast_bytes"] if mhw else 0,
            "detection.build_s": span_s(
                "detection.exceedance",
                "detection.enrich_series",
                "detection.fused_detect_metrics",
            ),
            "detection.exec_s": layer("detection") + layer("detection.merge"),
            "detection.merge_exec_s": layer("detection.merge"),
            "detection.shuffle_write_bytes": layer("detection", "shuffle_write")
            + layer("detection.merge", "shuffle_write"),
            "detection.runs": runs,
            "detection.events": events,
            "detection.event_yield": events / runs if runs else 0.0,
            "sources.scan_s": a["scan_ms"] / 1000.0,
            "sources.bytes_read": eng["bytes_read"],
            "textops.quality_exec_s": layer("textops.quality"),
            "textops.minhash_exec_s": layer("textops.minhash"),
            "textops.lsh_candidate_pairs": cnt.get("near_pairs", 0),
            "textops.cc_exec_s": layer("textops.cc"),
            "textops.near_dup_yield": (
                cnt.get("near_drops", 0) / cnt["near_pairs"] if cnt.get("near_pairs") else 0.0
            ),
            "similarity.kmeans_s": span_s("similarity.kmeans_ivf_centroids"),
            "similarity.sem_pairs_exec_s": layer("similarity.sem_pairs"),
            "similarity.bucket_pairs": cnt.get("sem_pairs", 0),
            "engine.jobs": eng["jobs"],
            "engine.tasks": eng["tasks"],
            "engine.task_s": eng["run_ms"] / 1000.0,
            "engine.gc_s": eng["gc_ms"] / 1000.0,
            "engine.shuffle_write_bytes": eng["shuffle_write"],
            "engine.spill_bytes": eng["spill"],
            "trace.op_s": wall,
            # the traced op's wall = time some stage of the op ran (split
            # among the layers above) + driver time with no stage of the
            # op running (planning, scheduling, result handling) + the
            # tracer's own jobs
            "trace.stage_wall_s": stage_wall,
            "trace.driver_s": wall - stage_wall - trace_s,
            "trace.overhead_s": trace_s,
        }
        per_op.append(m)
    out = {name: statistics.median(m[name] for m in per_op) for name in per_op[0]}
    out["engine.codegen_compile_s"] = cold_codegen_s
    # the check: the attributed op (stages + driver, tracer jobs left
    # out) against the untraced ops of the same run; what the tracer
    # costs beyond its own jobs (event-log writing, span bookkeeping)
    # and run-to-run noise show up here
    out["trace.residual_s"] = out["trace.stage_wall_s"] + out["trace.driver_s"] - op_p50
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("tiny", "bench", "paper"), default="bench")
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mhw3d_detection_spark", "__init__.py")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
