"""iForest engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload global_fit_score --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones and writes
the spans to ``.perfbench_out/``. The line before it holds a ``detail``
object with every figure the run measured. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3

PER_LAYER_UNITS = {
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.task_time_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.busy_share": "ratio",
    "spark.request_execute_ms": "ms",
    "scorer.kernel_rows_per_s": "rows/s",
    "scorer.steps_per_row": "count",
    "trainer.train_tree_ms": "ms",
    "trainer.nodes_per_tree": "count",
    "nodes.pack_forest_ms": "ms",
    "nodes.pandas_to_forest_ms": "ms",
    "nodes.rows_to_forest_ms": "ms",
    "nodes.total_nodes": "count",
    "iforest.threshold_s": "s",
    "iforest.transform_call_ms": "ms",
    "iforest.save_s": "s",
    "iforest.load_s": "s",
    "iforest.model_bytes": "bytes",
    "segmented.fit_score_s": "s",
    "segmented.groups": "count",
    "segmented.max_over_median_rows": "ratio",
    "trace.overhead_ms": "ms",
    "trace.accounted_share": "ratio",
    "bench.op_failure_rate": "ratio",
}


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def start_session(run_dir: str, cores: int):
    from pyspark.sql import SparkSession

    local = os.path.join(run_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then close the JVM's stdin and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def peak_rss_mb() -> float:
    """Peak resident memory of the Python driver process. The JVM's is left
    out: its heap grows with garbage-collector timing, not with the work."""
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


class Bench:
    def __init__(self, spark, workload: str, seed: int, seconds: float, trace: bool,
                 run_dir: str, size: dict | None = None) -> None:
        from workloads import SIZES, WORKLOADS

        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_dir = run_dir
        self.wl = WORKLOADS[workload](spark, run_dir, seed, size or SIZES[workload])
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, failures: list[str]) -> None:
        """Count one operation; any failure fails it."""
        self.attempted += 1
        if failures:
            self.failed += 1
            self.failures.extend(failures)
            for f in failures:
                log(f"CHECK FAILED: {f}")

    def op(self):
        res = self.wl.op()
        self.record(res.failures)
        return res

    def window(self, tracer, counters) -> list[dict]:
        """Timed operations for ``seconds``, and at least the workload's
        ``min_ops``. A traced run alternates traced and untraced operations
        so it can report the tracing overhead."""
        ops = []
        end = time.perf_counter() + self.seconds
        while True:
            traced = self.trace and len(ops) % 2 == 0
            tracer.enabled = traced
            stats = counters.measure() if traced else contextlib.nullcontext({})
            with stats as sc, tracer.request("bench", self.wl.name) as root:
                t0 = time.perf_counter()
                res = self.op()
                dt = time.perf_counter() - t0
            tracer.enabled = False
            ops.append(dict(s=dt, res=res, traced=traced, spark=sc, request=root.id if root else None))
            if len(ops) >= self.wl.min_ops and time.perf_counter() + dt > end:
                return ops

    def run(self) -> tuple[dict, dict]:
        import probes
        import tracing

        wl, tracer = self.wl, tracing.Tracer()
        log(f"{wl.name}: train")
        wl.train()
        setup = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup()
            setup.append(time.perf_counter() - t0)
            self.record([])
        log(f"{wl.name}: prepare and warm up")
        self.record(wl.prepare())
        for _ in range(wl.warmup_ops):
            self.op()
        log(f"{wl.name}: measure")

        counters = tracing.SparkCounters(self.spark) if self.trace else None
        with tracing.install(tracer) if self.trace else contextlib.nullcontext():
            ops = self.window(tracer, counters)
        log(f"{wl.name}: verify")
        auc, failures = wl.verify()
        self.record(failures)

        plain = [o for o in ops if not o["traced"]] or ops
        lat_ms = [o["s"] * 1e3 for o in plain]
        detail = {
            "workload": wl.name,
            "seed": self.seed,
            "ops": len(ops),
            "setup_s_samples": setup,
            "op_ms_samples": lat_ms,
            "auc": auc,
        }
        extras = {k for o in plain for k in o["res"].extra}
        for k in sorted(extras):
            detail[k] = statistics.median(o["res"].extra[k] for o in plain)
        if wl.name == "online_score":
            detail.update(
                request_p50_ms=statistics.median(lat_ms),
                requests_per_s=len(plain) / sum(o["s"] for o in plain),
            )

        end_to_end = {
            "setup_s": (statistics.median(setup), "s"),
            "op_p50_ms": (statistics.median(lat_ms), "ms"),
            "score_rows_per_s": (
                sum(o["res"].rows_scored for o in plain) / sum(o["res"].score_s for o in plain),
                "rows/s",
            ),
            "auc": (auc, "ratio"),
            "driver_peak_rss_mb": (peak_rss_mb(), "MB"),
        }
        if not self.trace:
            metrics = end_to_end
        else:
            metrics = self.per_layer(ops, tracer, probes, tracing, detail)
            tracer.dump(self.spans_path())
        detail.update({k: v for k, (v, _) in end_to_end.items()})
        detail["op_failure_rate"] = self.failed / self.attempted
        detail["failures"] = self.failures[:20]
        result = {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return result, detail

    def spans_path(self) -> str:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        return os.path.join(out, f"spans-{self.wl.name}-seed{self.seed}.jsonl")

    def per_layer(self, ops, tracer, probes, tracing, detail) -> dict:
        traced = [o for o in ops if o["traced"]]
        plain = [o for o in ops if not o["traced"]]
        med = lambda xs: statistics.median(list(xs))  # noqa: E731

        target = self.wl.probe_target()
        tracer.enabled = True
        with tracing.install(tracer), tracer.request("bench", "probes"):
            m, failures = probes.run_probes(
                self.spark, tracer, target, self.seed, self.run_dir,
                with_requests=self.wl.name != "online_score",
            )
            seg, seg_failures = probes.segmented_probe(tracer, self.wl)
        tracer.enabled = False
        m.update(seg)
        detail.update(seg)
        self.record(failures)
        self.record(seg_failures)
        if self.wl.name == "online_score":
            m["spark.request_execute_ms"] = med(o["res"].extra["execute_s"] * 1e3 for o in ops)

        # Self time per layer inside each traced operation; the layers
        # together with the benchmark's own glue ("bench") sum to the op.
        selfs = [tracer.self_times(o["request"]) for o in traced]
        layers = sorted({k for s in selfs for k in s})
        detail["self_ms_per_op"] = {k: med(s.get(k, 0.0) * 1e3 for s in selfs) for k in layers}
        detail["traced_op_ms"] = [o["s"] * 1e3 for o in traced]
        accounted = [1.0 - s.get("bench", 0.0) / o["s"] for s, o in zip(selfs, traced)]

        m.update({f"spark.{k}": med(o["spark"][k] for o in traced) for k in traced[0]["spark"]})
        m["trace.overhead_ms"] = (
            med(o["s"] for o in traced) * 1e3 - med(o["s"] for o in plain) * 1e3
        )
        m["trace.accounted_share"] = med(accounted)
        m["bench.op_failure_rate"] = self.failed / self.attempted
        return {k: (m[k], unit) for k, unit in PER_LAYER_UNITS.items()}


def _num(v):
    """Plain Python number for JSON (numpy scalars are not serializable)."""
    return v.item() if hasattr(v, "item") else v


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import spark_iforest_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import spark_iforest_spark from {ROOT}: {e}")
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    # Python workers import the package from the checkout too; temporary
    # files of this process, the JVMs and the workers stay in the run dir
    # (the JVM's perf-data file would otherwise go to /tmp).
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = run_dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir}"
    spark = None
    try:
        log("start Spark")
        spark = start_session(run_dir, len(os.sched_getaffinity(0)))
        bench = Bench(spark, args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
        result, detail = bench.run()
    finally:
        if spark is not None:
            log("stop Spark")
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        log("done")
    for m in result["metrics"].values():
        m["value"] = _num(m["value"])
    print(json.dumps({"detail": detail}, default=_num))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
