#!/usr/bin/env python3
"""Benchmark command for the engine's two surfaces: the reference DAG
(``etl_daily``) and the query engine (``query_mix``).

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 8 --trace 0

Run it from the repository root. It starts one Spark session
(``local[nproc]``), generates the workload's inputs from ``--seed`` in a
temporary directory under ``.perfbench_tmp/``, runs a fixed number of
warm-up ops, then runs ops back to back (one client, closed loop) for
at least ``--seconds`` and the workload's minimum op count, checks every
answer outside the timed region, stops Spark, waits for its JVM to exit
and removes the temporary directory. Times are net of hypervisor steal.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` wraps the calls into each package
layer, reports the per-layer metrics and writes the spans to
``.perfbench_out/``. See NOTES.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "hdb_resale_price_data_pipeline_spark"

OP_TIMEOUT_S = 60.0  # an op still running after this is cancelled and failed
# The traced extra phase (a cold profile build and its oracle, 60-70 s)
# starts only this soon after process start, so a run on a slow host
# still exits within the 180 s a run may take.
EXTRA_PHASE_DEADLINE_S = 100.0
DRIVER_MEMORY = "2g"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def import_package() -> None:
    """Import the engine from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    import hdb_resale_price_data_pipeline_spark as pkg

    if not os.path.abspath(pkg.__file__).startswith(os.path.join(ROOT, PACKAGE)):
        raise ImportError(f"{PACKAGE} resolved outside the checkout: {pkg.__file__}")


def run_op(spark, workload, i: int) -> tuple[float, str | None]:
    """Run op ``i``; return (latency, error or None). An op that raises
    or outlives OP_TIMEOUT_S (its jobs are then cancelled) has failed."""
    timer = threading.Timer(OP_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
    timer.start()
    t = time.perf_counter()
    try:
        workload.op(i)
        error = None
    except Exception as e:  # a failed op is counted, and the run goes on
        error = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
    latency = time.perf_counter() - t
    timer.cancel()
    if latency >= OP_TIMEOUT_S:
        error = f"timed out after {latency:.1f}s"
    return latency, error


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) ticks of all CPUs from /proc/stat. Steal is time a
    vCPU was ready to run but the hypervisor ran something else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields[:8]
    return user + nice + system + irq + softirq, steal


def net(seconds: float, t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """``seconds`` measured between tick readings ``t0`` and ``t1``, net
    of hypervisor steal (``stats.net_of_steal``)."""
    from stats import net_of_steal

    return net_of_steal(seconds, t1[0] - t0[0], t1[1] - t0[1])


def _done(workload, ops: int, elapsed: float, seconds: float) -> bool:
    """The timed loop ends once ``seconds`` have passed, the workload's
    minimum op count has run and the last round of its mix is whole."""
    return (
        elapsed >= seconds
        and ops >= workload.min_timed_ops
        and ops % workload.round_ops == 0
    )


def run(args: argparse.Namespace, workdir: str, load1: float, ticks0: tuple[int, int]) -> tuple[dict, dict]:
    from hdb_resale_price_data_pipeline_spark.session import get_spark_session

    from jvm import SparkCounters, stop_spark
    from stats import percentile, tail_percentile_ok
    from tracing import Tracer
    from workloads import WORKLOADS

    tracer = Tracer() if args.trace else None
    t = time.perf_counter()
    spark = get_spark_session(app_name=f"perfbench-{args.workload}")
    spark.range(1).count()
    session_s = time.perf_counter() - t
    try:
        counters = SparkCounters(spark)
        workload = WORKLOADS[args.workload](spark, workdir, args.seed, tracer)
        if tracer:
            workload.install_tracing(tracer)
        t = time.perf_counter()
        workload.setup()
        inputs_s = time.perf_counter() - t

        errors: dict[int, str] = {}
        if tracer:
            tracer.phase = "warmup"
        t = time.perf_counter()
        with ThreadPoolExecutor(max_workers=workload.warmup_threads) as pool:
            warm = list(pool.map(lambda i: run_op(spark, workload, i), range(workload.warmup_ops)))
        errors.update((i, err) for i, (_, err) in enumerate(warm) if err)
        warmup_s = time.perf_counter() - t
        raw_setup_s = time.perf_counter() - PROCESS_START
        setup_s = net(raw_setup_s, ticks0, cpu_ticks())

        if tracer:
            tracer.phase = "timed"
            failed_tasks_before = counters.failed_tasks()
        before = counters.snapshot()
        ticks_before = cpu_ticks()
        samples: list[float] = []  # op latencies net of steal
        raw_samples: list[float] = []
        writes: dict[str, float] = {}
        i = workload.warmup_ops
        start = time.perf_counter()
        while not _done(workload, i - workload.warmup_ops, time.perf_counter() - start, args.seconds):
            since = time.time()
            t0 = cpu_ticks()
            with tracer.op(i) if tracer else nullcontext():
                latency, err = run_op(spark, workload, i)
            samples.append(net(latency, t0, cpu_ticks()))
            raw_samples.append(latency)
            if err:
                errors[i] = err
            if tracer and hasattr(workload, "writes_since"):
                for k, v in workload.writes_since(i, since).items():
                    writes[k] = writes.get(k, 0) + v
            i += 1
        wall = time.perf_counter() - start
        net_wall = net(wall, ticks_before, cpu_ticks())
        after = counters.snapshot()
        timed = range(workload.warmup_ops, i)

        if tracer:
            tracer.phase = "check"
        wrong = workload.check(list(range(i)))
        failed = sorted(j for j in timed if j in errors or j in wrong)
        peak_rss_mb = counters.peak_rss_mb()

        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (statistics.median(samples), "s"),
            "ops_per_min": ((len(samples) - len(failed)) * 60.0 / net_wall, "1/min"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
        if tracer:
            n = len(samples)
            failed_tasks = counters.failed_tasks() - failed_tasks_before
            if time.perf_counter() - PROCESS_START < EXTRA_PHASE_DEADLINE_S:
                wrong.update(workload.traced_extra(tracer))
            else:
                print("traced extra phase skipped: run too slow", file=sys.stderr)
            metrics = layer_metrics(
                tracer, n, before, after, failed_tasks, writes,
                session_s=session_s, warmup_s=warmup_s, samples=samples,
                raw_samples=raw_samples, peak_rss_mb=peak_rss_mb,
            )
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            tracer.dump(
                os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.jsonl")
            )
            tracer.uninstall()
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "load1_at_start": load1,
            "cpus": os.environ["SPARK_GRAFT_CPUS"],
            "session_s": session_s,
            "inputs_s": inputs_s,
            "warmup_s": warmup_s,
            "warmup_latencies_s": [round(lat, 3) for lat, _ in warm],
            "raw_setup_s": raw_setup_s,
            "raw_latencies_s": [round(lat, 3) for lat in raw_samples],
            "net_latencies_s": [round(lat, 3) for lat in samples],
            "raw_op_p50_s": statistics.median(raw_samples),
            "timed_wall_s": wall,
            "timed_steal_share": 1.0 - net_wall / wall,
            # a tail percentile only where ten samples lie beyond it
            "op_p90_s": (
                percentile(samples, 0.9) if tail_percentile_ok(len(samples), 0.9) else None
            ),
            "errors": {str(k): v for k, v in errors.items()},
            "wrong": {str(k): v for k, v in wrong.items()},
        }
        result = {
            "correct": not errors and not wrong,
            "attempted": len(samples),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return result, record
    finally:
        stop_spark(spark)


def layer_metrics(tracer, n, before, after, failed_tasks, writes, *,
                  session_s, warmup_s, samples, raw_samples,
                  peak_rss_mb) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of a traced run. Seconds are raw self seconds
    per timed op, so the layers and ``trace.unattributed_s`` add up to
    ``trace.op_mean_s``, the raw mean op latency (to more, where
    branches overlap on threads). ``trace.op_p50_s`` is net of steal,
    like the untraced ``op_p50_s`` it is compared with."""
    from stats import jobs_between
    from workloads import QueryMix

    self_s = tracer.layer_seconds("timed")
    calls = tracer.calls("timed")
    profile = tracer.inclusive_seconds("profile")
    counts = tracer.counts
    hits = counts[("timed", "index_cache.hits")]
    misses = counts[("timed", "index_cache.misses")]
    m: dict[str, tuple[float, str]] = {
        "setup.session_s": (session_s, "s"),
        "setup.warmup_s": (warmup_s, "s"),
        "sources.readers.s": (self_s.get("sources.readers", 0.0) / n, "s"),
        "sources.readers.calls": (calls["sources.readers"] / n, "count"),
        "seeds.s": (self_s.get("seeds", 0.0) / n, "s"),
        "plans.build_s": (self_s.get("plans.build", 0.0) / n, "s"),
        "sources.warehouse.load_s": (self_s.get("sources.warehouse.load", 0.0) / n, "s"),
        "sources.warehouse.files_written": (writes.get("files_written", 0) / n, "count"),
        "sources.warehouse.bytes_written_per_input_byte": (
            writes.get("bytes_written", 0) / writes["bytes_read"] if writes else 0.0,
            "ratio",
        ),
    }
    for mod in QueryMix.MODULES:
        for part in ("plan", "exec"):
            m[f"queries.{mod}.{part}_s"] = (self_s.get(f"queries.{mod}.{part}", 0.0) / n, "s")
    for d in QueryMix.DISCOVERERS:
        m[f"queries.profiling.{d}_s"] = (profile.get(f"queries.profiling.{d}", 0.0), "s")
    m["queries.profiling.build_s"] = (profile.get("queries.profiling.build", 0.0), "s")
    m["operators.index_cache.hits"] = (hits / n, "count")
    m["operators.index_cache.misses"] = (misses / n, "count")
    m["operators.index_cache.puts"] = (counts[("timed", "index_cache.puts")] / n, "count")
    m["operators.index_cache.hit_ratio"] = (
        hits / (hits + misses) if hits + misses else 0.0, "ratio"
    )
    m["operators.index_cache.build_puts"] = (counts[("profile", "index_cache.puts")], "count")
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}"] = (jobs_between(before[k], after[k]) / n, "count")
    m["spark.failed_tasks"] = (failed_tasks / n, "count")
    m["jvm.gc_s"] = ((after["gc_s"] - before["gc_s"]) / n, "s")
    m["jvm.peak_rss_mb"] = (peak_rss_mb, "MB")
    m["trace.op_p50_s"] = (statistics.median(samples), "s")
    m["trace.op_mean_s"] = (statistics.fmean(raw_samples), "s")
    m["trace.unattributed_s"] = (self_s.get("op", 0.0) / n, "s")
    return m


def main(argv: list[str] | None = None) -> int:
    load1 = os.getloadavg()[0]  # stamped before this run adds load
    ticks0 = cpu_ticks()
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # set before the engine is imported: it reads them at import
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    try:
        import_package()
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    try:
        result, record = run(args, workdir, load1, ticks0)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(record), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
