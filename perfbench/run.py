"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the workload's seeded inputs (cached
under ``.perfbench/cache``), sets the engine up ``SETUPS`` times
(``get_spark`` + one untimed warm-up rep each), runs passes until they
add up to ``--seconds`` seconds, checks the outputs and prints one JSON
line:

- ``--trace 0``: the end-to-end metrics, measured with tracing off;
- ``--trace 1``: an untraced, a traced and another untraced pass; the
  per-layer metrics, the tracing overhead (traced wall minus the median
  untraced wall, over the same work), and a span file under
  ``.perfbench/traces``.

Exits 2 without a result when the package is not next to this
directory, and 3 when the run overruns its deadline.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "cloudfront_kinesis_log_lambda_spark"

#: set-ups per run: the first launches the JVM and the session; the
#: second gets the running session back from get_spark() and repeats the
#: workload's own set-up (for kinesis_rollup, a new query). Their median
#: (the mean of the two) covers work moved into either. A third set-up, or
#: a SparkContext restart in the second, costs more than the run budget
#: has room for (README.md).
SETUPS = 2
#: a run that is still going after this long is abandoned
DEADLINE_S = 170

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "records_per_s": "1/s",
    "latency_p50_ms": "ms",
    "peak_pss_mb": "MB",
}

SPARK_METRICS = {
    "jobs": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "cpu_util": "ratio",
    "gc_s": "s",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "input_bytes": "bytes",
    "output_bytes": "bytes",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit.
    Layers a workload does not exercise report 0."""
    units = {
        "session.get_spark_s": "s",
        "box.canary_s": "s",
        "trace.overhead_s": "s",
        **{f"spark.{m}": u for m, u in SPARK_METRICS.items()},
        "sources.cloudfront.scan_s": "s",
        "sources.cloudfront.files": "count",
        "sources.cloudfront.rows": "count",
        "operators.transforms.self_s": "s",
        "sinks.kinesis.self_s": "s",
        "sinks.kinesis.put_s": "s",
        "sinks.kinesis.put_calls": "count",
        "sinks.kinesis.records_per_put": "count",
        "sinks.kinesis.retried_records": "count",
        "sinks.kinesis.delivered_ratio": "ratio",
        "sinks.kinesis.shuffle_write_bytes": "bytes",
        "sources.kinesis.read_s": "s",
        "sources.kinesis.rows_per_batch": "count",
    }
    for m in (
        "start_ms", "stop_ms", "data_batch_ms", "nodata_batch_ms", "add_batch_ms",
        "query_planning_ms", "commit_ms", "latest_offset_ms", "outside_trigger_ms",
    ):
        units[f"streaming.pipeline.{m}"] = "ms"
    for m, u in (
        ("batches", "count"), ("state_rows", "count"),
        ("state_mem_bytes", "bytes"), ("state_partitions", "count"),
    ):
        units[f"streaming.pipeline.{m}"] = u
    from perfbench.workloads import IncrementalTwins

    for entry in IncrementalTwins.ENTRIES:
        units[f"{IncrementalTwins.layer(entry)}.wall_s"] = "s"
        units[f"{IncrementalTwins.layer(entry)}.jobs"] = "count"
    units["streaming.twins.persisted_rdds_end"] = "count"
    return units


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _setup_env(work: str) -> dict[str, str]:
    """Executor-side imports and every temp path inside the checkout;
    returns the Spark confs that go with it."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # Python workers unpickle the sink's client factory by import path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # no hsperfdata files in the system temp dir, from spark-submit's
    # launcher JVM or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp
    return {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _canary(spark, nproc: int) -> float:
    """Fixed pure-JVM job (range → sum, noop write): a contention flag."""
    t0 = time.perf_counter()
    spark.range(0, 8_000_000, 1, nproc).selectExpr("sum(id) AS s").write.format(
        "noop"
    ).mode("overwrite").save()
    return time.perf_counter() - t0


def _stop_jvm() -> None:
    """Stop Spark and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class _Overrun(Exception):
    pass


def _alarm(signum, frame):
    raise _Overrun(f"run exceeded {DEADLINE_S} s")


def run(args) -> dict:
    from perfbench.harness import MemorySampler, StatusStore, Tracer, check_metric_names, median
    from perfbench.workloads import WORKLOADS, Ctx

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"work-{os.getpid()}")
    traces = os.path.join(state, "traces")
    os.makedirs(traces, exist_ok=True)
    conf = _setup_env(work)
    nproc = _cpus()
    tracer = Tracer(f"{args.workload}-seed{args.seed}-{os.getpid()}", enabled=False)
    ctx = Ctx(os.path.join(state, "cache"), work, args.seed, nproc, tracer)
    wl = WORKLOADS[args.workload](ctx)
    mem = None
    t_run = time.perf_counter()
    try:
        wl.prepare()
        t_prepared = time.perf_counter()

        from cloudfront_kinesis_log_lambda_spark.session import get_spark

        setups, get_spark_s = [], 0.0
        for k in range(SETUPS):
            if k:
                wl.unbind()
            t0 = time.perf_counter()
            spark = get_spark(
                app_name="perfbench",
                master=f"local[{nproc}]",
                # session.py sizes shuffles at 2-3x the cores; its default of
                # 32 matches a local[32] harness, not this local[nproc] one
                shuffle_partitions=2 * nproc,
                extra_conf=conf,
            )
            get_spark_s = get_spark_s or time.perf_counter() - t0
            wl.bind(spark)
            wl.warmup()
            setups.append(time.perf_counter() - t0)

        if not args.trace:
            mem = MemorySampler()
            passes = []
            t_start = time.perf_counter()
            for i in range(wl.max_passes or sys.maxsize):
                mem.resume()
                r = wl.run_pass(f"pass{i}")
                mem.pause()
                if r is not None:
                    passes.append(r)
                # the window is measured pass time, so the untimed work
                # between passes (collecting outputs for the checks) does
                # not change how many passes a run makes
                if (
                    sum(p.wall_s for p in passes) >= args.seconds
                    or time.perf_counter() - t_start >= 3 * args.seconds
                ):
                    break
            wl.end()
            wl.check()
            if not passes:
                raise RuntimeError("no pass completed")
            metrics = {
                "setup_s": median(setups),
                "pass_s": median([p.wall_s for p in passes]),
                "records_per_s": sum(p.records for p in passes)
                / sum(p.wall_s for p in passes),
                "latency_p50_ms": 1e3 * median([x for p in passes for x in p.latencies_s]),
                "peak_pss_mb": mem.peak / 2**20,
            }
            units = END_TO_END
            print(
                f"perfbench: {args.workload} prepare={t_prepared - t_run:.2f}s "
                f"setups={[round(s, 2) for s in setups]} "
                f"passes={[round(p.wall_s, 2) for p in passes]} "
                f"checked_at={time.perf_counter() - t_run:.2f}s",
                file=sys.stderr,
            )
        else:
            wl.end()
            status = StatusStore(spark)
            canaries = [_canary(spark, nproc)]
            untraced_wall = wl.baseline_pass("untraced")
            spark_totals = status.totals(wl.spark_groups("untraced"))
            canaries.append(_canary(spark, nproc))
            tracer.enabled = True
            # the workload times the same work as the untraced pass; its
            # layer-split jobs and checks run outside that window
            traced_wall, layer = wl.traced_pass(status)
            tracer.enabled = False
            # a second untraced pass after the traced one, so a trend over
            # successive passes (later passes run warmer) cancels out
            untraced = [w for w in (untraced_wall, wl.baseline_pass("untraced2")) if w]
            wl.check()
            units = per_layer_units()
            metrics = {name: 0.0 for name in units}
            metrics["session.get_spark_s"] = get_spark_s
            metrics["box.canary_s"] = median(canaries)
            metrics["trace.overhead_s"] = traced_wall - (median(untraced) or traced_wall)
            for m in SPARK_METRICS:
                if m in spark_totals:
                    metrics[f"spark.{m}"] = spark_totals[m]
            if untraced_wall:
                metrics["spark.cpu_util"] = spark_totals["executor_cpu_s"] / untraced_wall / nproc
            unknown = set(layer) - set(units)
            if unknown:
                raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
            metrics.update(layer)
            tracer.dump(
                os.path.join(traces, f"{args.workload}-seed{args.seed}.json"),
                {
                    "metrics": metrics,
                    "micro_batches": getattr(wl, "micro_batches", []),
                    "untraced_wall_s": untraced,
                    "traced_wall_s": traced_wall,
                },
            )
        check_metric_names(metrics)
        return {
            "correct": wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {
                name: {"value": metrics[name], "unit": units[name]} for name in units
            },
        }
    finally:
        if mem is not None:
            mem.close()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _alarm)
    signal.alarm(DEADLINE_S)
    try:
        result = run(args)
    except _Overrun as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 3
    finally:
        signal.alarm(0)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
