#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is total wall-clock over the suite. Each query is executed to
completion by writing every column to Spark's ``noop`` sink (``consume``):
results are consumed, not collected, so the measurement is plan
execution, not driver materialization. The detail file also records,
per query, the classes Spark's code generator compiled (``codegen``).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hdb_resale_price_data_pipeline_spark.queries import local_queries
from hdb_resale_price_data_pipeline_spark.session import get_spark_session

# The suite: EVERY registered query — the driver-graded window first
# (so BENCH_r{N} carries a number for each CORRECTNESS_r{N} row,
# streaming included: availableNow runs bounded and times fine), then
# every per-module LOCAL query. r6 (verdict item 4): the list is
# AUTO-DERIVED from the registry instead of hand-curated — a new query
# is timed by construction, so a wall-time regression can't hide in an
# untimed entry. Deliberate exclusions go in BENCH_SKIP with a reason.
from hdb_resale_price_data_pipeline_spark.queries import all_queries

# name -> reason. Empty today: every registered query (252) and
# pipeline_run_all time fine.
BENCH_SKIP: dict[str, str] = {}


_GRADED = all_queries()
BENCH_QUERIES = list(_GRADED) + sorted(
    q for q in local_queries() if q not in _GRADED and q not in BENCH_SKIP
)

# Machine timing variance on this box is large (±2×): report the MEDIAN
# of REPEATS timed runs after one warm run so round-over-round
# regressions are detectable above the noise floor.
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))

# The protocol (BENCH_history.md) requires a SOLO run — concurrent load
# on the shared 32 cores inflates every number ~1.25–2× uniformly (the
# r6 driver run read 199.6s vs 157.4s solo). Detect it IN the harness
# instead of leaving it to the historian: sample the 1-minute load
# average before the suite starts (before this process has generated
# any load of its own) and stamp a load_warning when the box wasn't
# quiet. Threshold: a handful of stray worker threads is noise; a
# concurrent Spark/pytest job shows up as load ≫ this.
LOAD_QUIET_THRESHOLD = float(os.environ.get("SPARK_GRAFT_LOAD_QUIET", "4.0"))


def _core_counts() -> dict[str, int]:
    """The cores a run was taken at: the ``local[N]`` the session uses
    (``SPARK_GRAFT_CPUS``, session.py's default 32 when unset) and the
    CPUs this process may run on. Numbers taken at different counts
    are not comparable."""
    return {
        "spark_graft_cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        "cpus_available": len(os.sched_getaffinity(0)),
    }


def codegen_counter(spark):
    """A reader of the driver JVM's generated-code compiles so far:
    ``() -> (classes, compile_ms)``, or ``None`` without a py4j gateway
    (Spark Connect). A class served from the codegen cache
    (``spark.sql.codegen.cache.maxEntries``) is not counted, so a warm
    query that compiles classes is one whose classes were evicted or
    are new on every run (for example, a literal baked into the
    generated code)."""
    try:
        jvm = spark.sparkContext._jvm
        hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        gen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    except Exception:  # noqa: BLE001 — no gateway
        return lambda: None
    return lambda: (int(hist.getCount()), int(gen.compileTime()) / 1e6)


def _load_sample() -> float:
    try:
        return round(os.getloadavg()[0], 2)
    except (OSError, AttributeError):  # unsupported OR absent (Windows)
        return -1.0


# --- calibration canary (r7 verdict item 1) -----------------------------------
# `load_warning` catches CONCURRENT load; it cannot catch a slow box
# EPOCH on a quiet box (r7: identical code read 1.28× across epochs).
# So before the suite, time a FIXED workload — synthesized from
# spark.range (no data files, so invariant to sf), frozen plan, never
# rotated — and stamp its median as `canary_sec`. Round-over-round
# comparisons divide by the canary ratio to normalize epochs.
CANARY_ROWS = 20_000_000  # ~1s of shuffle+agg+join on a quiet local[32]


def run_canary(spark) -> int:
    """Frozen workload: range scan → hash agg on a modular key (one
    shuffle) → broadcast self-join → global sort (second shuffle).
    Exercises codegen, exchange, and sort paths with zero I/O. DO NOT
    EDIT — any change invalidates cross-round canary comparisons."""
    from pyspark.sql import functions as F

    base = spark.range(0, CANARY_ROWS).select(
        (F.col("id") % 10_007).alias("k"),
        (F.col("id") * 2654435761 % 2**31).alias("h"),
    )
    agg = base.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    )
    top = agg.orderBy(F.col("s").desc()).limit(100)
    joined = agg.join(F.broadcast(top.select("k")), "k")
    return joined.orderBy("k").count()

# Raw rows for the end-to-end pipeline run, per unit of sf: at sf0.1,
# 20k historical CSV rows + 10k listings per scraper source.
PIPELINE_HISTORICAL_PER_SF = 200_000
PIPELINE_LISTINGS_PER_SF = 100_000


def run_pipeline_e2e(spark, sf: float) -> int:
    """The reference's full DAG (plans/runner.run_all) on scaled
    synthetic RAW inputs: CSV/JSON parse → 3 transforms → merge dedup →
    two day-partitioned warehouse loads. Measures source parsing and
    SINKS, which the query suite (deliberately) never touches."""
    import datetime

    from hdb_resale_price_data_pipeline_spark.plans.runner import run_all
    from hdb_resale_price_data_pipeline_spark.sources.synthetic import (
        write_historical_csvs,
        write_listing_jsons,
    )

    raw = f"/tmp/bench_raw_sf{sf}"
    if not os.path.exists(f"{raw}/_done"):
        write_historical_csvs(raw, max(int(PIPELINE_HISTORICAL_PER_SF * sf), 1_000))
        write_listing_jsons(raw, max(int(PIPELINE_LISTINGS_PER_SF * sf), 500))
        open(f"{raw}/_done", "w").close()
    warehouse = "/tmp/bench_warehouse"
    run_all(
        spark,
        f"{raw}/historical_csv",
        f"{raw}/propnex.json",
        f"{raw}/srx.json",
        warehouse,
        as_of=datetime.date(2025, 6, 1),
    )
    return (
        spark.read.parquet(f"{warehouse}/historical_data").count()
        + spark.read.parquet(f"{warehouse}/scraped_data").count()
    )


# --- canary-normalized comparison (r8 verdict item 5) ---------------------------
# The documented box behavior: epochs drift up to ~2× uniformly (the
# canary measures this) and individual queries show per-run transients
# (BENCH_history documents pairs like 21.8s vs 4.2s for unchanged
# code). So a regression FLAG requires a normalized ratio outside the
# envelope AND a non-trivial absolute delta — tiny queries jitter
# multiplicatively without meaning anything.
COMPARE_RATIO_ENVELOPE = 2.0  # normalized cur/prior above this (or below 1/this)
COMPARE_MIN_DELTA_SEC = 1.0  # ... AND at least this much absolute change


def compare_runs(prior_path: str, current_path: str) -> None:
    """Print the canary-normalized round-over-round comparison as one
    generated markdown table (BENCH_history's closing sections used to
    assemble this by hand across runs). Ratios divide by the canary
    ratio, so a slow EPOCH normalizes out and only real plan/code
    regressions get flagged."""
    with open(prior_path) as fh:
        prior = json.load(fh)
    with open(current_path) as fh:
        cur = json.load(fh)
    cores = [
        tuple(rec.get(k) for k in ("spark_graft_cpus", "cpus_available"))
        for rec in (prior, cur)
    ]
    if None in cores[0] + cores[1] or cores[0] != cores[1]:
        print(
            "WARNING: core counts differ or are missing "
            f"(spark_graft_cpus, cpus_available: prior {cores[0]}, "
            f"current {cores[1]}); the ratios below compare different machines"
        )
    cp, cc = prior.get("canary_sec", -1.0), cur.get("canary_sec", -1.0)
    canary_ratio = (cc / cp) if (cp and cc and cp > 0 and cc > 0) else 1.0
    pq, cq = prior.get("queries", {}), cur.get("queries", {})
    shared = sorted(set(pq) & set(cq))
    added = sorted(set(cq) - set(pq))
    removed = sorted(set(pq) - set(cq))
    flagged = []
    for name in shared:
        a, b = pq[name], cq[name]
        if a <= 0:
            continue
        norm = (b / a) / canary_ratio
        if (
            (norm > COMPARE_RATIO_ENVELOPE or norm < 1 / COMPARE_RATIO_ENVELOPE)
            and abs(b - a / canary_ratio) > COMPARE_MIN_DELTA_SEC
        ):
            flagged.append((name, a, b, norm))
    tp, tc = sum(pq[n] for n in shared), sum(cq[n] for n in shared)
    print(f"canary: prior {cp:.3f}s -> current {cc:.3f}s "
          f"(epoch ratio {canary_ratio:.2f})")
    print(
        f"shared {len(shared)} queries: {tp:.1f}s -> {tc:.1f}s raw "
        f"(ratio {tc / tp:.2f}) | canary-normalized "
        f"{(tc / tp) / canary_ratio:.2f}"
    )
    if added:
        print(f"new queries ({len(added)}): "
              f"{sum(cq[n] for n in added):.1f}s total — {', '.join(added)}")
    if removed:
        print(f"removed queries ({len(removed)}): {', '.join(removed)}")
    print(f"\n| query | prior | current | normalized ratio | "
          f"(envelope: x{COMPARE_RATIO_ENVELOPE} and >{COMPARE_MIN_DELTA_SEC}s) |")
    print("|---|---|---|---|---|")
    if not flagged:
        print("| (none outside the scatter envelope) | | | | |")
    for name, a, b, norm in sorted(flagged, key=lambda r: -r[3]):
        print(f"| {name} | {a:.2f}s | {b:.2f}s | {norm:.2f} | flagged |")
    pg, cg = prior.get("codegen"), cur.get("codegen")
    if pg and cg:
        # A query that compiled nothing on its repeats and now does has
        # lost its classes from the cache (or bakes a new literal into
        # generated code on each run): it pays Janino and cold JIT again.
        rose = sorted(
            n for n in set(pg) & set(cg)
            if pg[n]["classes"] == 0 and cg[n]["classes"] > 0
        )
        print(
            f"\ncodegen first-run classes: prior "
            f"{prior.get('codegen_first_run_total')} -> current "
            f"{cur.get('codegen_first_run_total')}"
        )
        print(
            f"steady-state compiles rose from 0 ({len(rose)}): "
            + (", ".join(f"{n} (+{cg[n]['classes']})" for n in rose) or "none")
        )


def main() -> None:
    if "--compare" in sys.argv:
        i = sys.argv.index("--compare")
        prior = sys.argv[i + 1]
        default_cur = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_local.json"
        )
        cur = sys.argv[i + 2] if len(sys.argv) > i + 2 else default_cur
        compare_runs(prior, cur)
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    load_before = _load_sample()  # BEFORE the JVM spins up any load
    cores = _core_counts()
    spark = get_spark_session(app_name="hdb-pipeline-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Calibration canary FIRST (after session init, before any query):
    # one warm run then median of 3, same discipline as the suite.
    try:
        run_canary(spark)
        canary_runs = []
        for _ in range(3):
            c0 = time.perf_counter()
            run_canary(spark)
            canary_runs.append(time.perf_counter() - c0)
        canary_runs.sort()
        canary_sec = round(canary_runs[1], 3)
    except Exception as exc:  # noqa: BLE001 — harness boundary
        canary_sec = -1.0
        print(f"# canary ERROR: {exc}", file=sys.stderr)
    print(f"# canary: {canary_sec:.3f}s", file=sys.stderr)

    registry = local_queries()
    timings: dict[str, float] = {}
    first_runs: dict[str, float] = {}
    errors: dict[str, str] = {}
    codegen_now = codegen_counter(spark)
    codegen: dict[str, dict[str, float]] = {}

    def timed(name: str, thunk) -> None:
        """Warm run (codegen/JIT/scan-cache) + REPEATS timed runs, median
        reported: steady-state execution, not first-touch compilation,
        which is what matters for a long-lived cluster. FAULT-ISOLATED:
        one raising query records its error and the suite keeps timing
        the rest (round 2's single failure erased every number).

        r10 (verdict item 5): the warm pass is ALSO timed and recorded
        as ``first_run_sec`` — for the result-cached families
        (profiling, attribution, knn-graph) the warm run is the one
        that BUILDS the persisted frame, so the median alone would
        under-report their one-shot cost and hide a regression in the
        build. Additions-only: the median stays the headline number.

        The codegen counter is read around the warm run and around the
        REPEATS runs, outside every timed interval."""
        try:
            c0 = codegen_now()
            f0 = time.perf_counter()
            thunk()
            first_runs[name] = round(time.perf_counter() - f0, 3)
            c1 = codegen_now()
            runs = []
            for _ in range(REPEATS):
                start = time.perf_counter()
                n = thunk()
                runs.append(time.perf_counter() - start)
            c2 = codegen_now()
            if c0 is not None:
                codegen[name] = {
                    "first_run_classes": c1[0] - c0[0],
                    "classes": c2[0] - c1[0],
                    "compile_ms": round(c2[1] - c1[1], 1),
                }
            runs.sort()
            timings[name] = round(runs[len(runs) // 2], 3)
            print(
                f"# {name}: median {timings[name]:.3f}s "
                f"(min {runs[0]:.3f} max {runs[-1]:.3f}) rows={n}",
                file=sys.stderr,
            )
        except Exception as exc:  # noqa: BLE001 — harness boundary
            msg = f"{type(exc).__name__}: {exc}"
            errors[name] = msg[:500]
            print(f"# {name}: ERROR {msg.splitlines()[0][:200]}", file=sys.stderr)

    def consume(df):
        """Evaluate EVERY column to a noop sink. A ``count()`` action
        lets Catalyst prune all projected columns (a map-only transform
        times as a bare row count) and even eliminate unique-key left
        joins — the flat text_cut_passages curve that exposed this was
        measuring none of the query's actual work."""
        df.write.mode("overwrite").format("noop").save()
        return "-"

    for name in BENCH_QUERIES:
        if name not in registry:
            errors[name] = "not in registry"
            continue
        timed(name, lambda name=name: consume(registry[name].fn(spark, sf_dir)))
    # End-to-end pipeline run (parse → transform → merge → partitioned
    # sinks) — measures source parsing and SINKS, which the query suite
    # (deliberately) never touches.
    timed("pipeline_run_all", lambda: run_pipeline_e2e(spark, sf))

    total = round(sum(timings.values()), 3)
    load_after = _load_sample()
    # load_before is the clean signal (the suite itself drives the box
    # afterwards); load_after is recorded for forensics only.
    load_warning = load_before > LOAD_QUIET_THRESHOLD
    detail = {
        "metric": "bench_suite_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "first_run_sec": first_runs,
        "sf": sf,
        "repeats": REPEATS,
        "load_avg_before": load_before,
        "load_avg_after": load_after,
        "load_warning": load_warning,
        "canary_sec": canary_sec,
        **cores,
    }
    if codegen:
        # classes: compiled over the REPEATS runs, 0 when the codegen
        # cache holds the query. codegen_first_run_total is the suite's
        # working set, the number session.CODEGEN_CACHE_ENTRIES rests on.
        detail["codegen"] = codegen
        detail["codegen_first_run_total"] = sum(
            c["first_run_classes"] for c in codegen.values()
        )
    # Per-query failures are recorded in the JSON (not an exit code):
    # the artifact must stay parseable and rc=0 even on a partial run.
    # "partial" marks the headline total as NOT comparable to a full
    # run — summing only the surviving queries would otherwise make a
    # regression that kills a query read as a speedup.
    if errors:
        detail["errors"] = errors
        detail["partial"] = True
        detail["n_failed"] = len(errors)
    # The driver captures only a bounded TAIL of stdout: round 4's single
    # 86-query JSON line lost its head there and recorded parsed:null.
    # So: full per-query map goes to a committed detail file; stdout gets
    # ONE COMPACT headline line (LAST), small enough to always survive
    # the tail window — spec-shaped ("queries" carries the slowest 10).
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_local.json"),
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    out = {
        "metric": "bench_suite_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "sf": sf,
        "repeats": REPEATS,
        "n_queries": len(timings),
        "n_failed": len(errors),
        "detail": os.path.basename(detail_path),
        "load_avg_before": load_before,
        "load_warning": load_warning,
        "canary_sec": canary_sec,
        **cores,
    }
    if errors:
        out["partial"] = True
    if load_warning:
        print(
            f"# WARNING: box not quiet at start (load {load_before} > "
            f"{LOAD_QUIET_THRESHOLD}); totals inflated vs solo protocol",
            file=sys.stderr,
        )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
