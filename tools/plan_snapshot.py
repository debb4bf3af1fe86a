#!/usr/bin/env python3
"""Plan-shape snapshots: record a physical-operator signature for every
registered query into tests/plan_snapshots.json.

The signature counts the operators that define scale behavior (join
strategies, exchanges, group-limits, top-k, Python boundaries). A
code or config change that silently degrades a plan — a broadcast
becoming a SortMergeJoin, an extra shuffle, a codegen expression
falling back to a Python eval — changes the signature and fails
tests/test_plan_snapshots.py, even when sf0.01 timings hide it.

Regenerate after an INTENTIONAL plan change:

    python tools/plan_snapshot.py --update                 # all queries
    python tools/plan_snapshot.py --update --only a,b,c    # just these

and review the JSON diff like any other code review. ``--only`` merges
into the existing snapshot file — use it when a change touches a known
set of queries (the full regen costs ~7 min); run the full update
before round close if in doubt.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SNAPSHOT_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "plan_snapshots.json",
)

# Operators whose counts constitute the scale contract.
SIGNATURE_PATTERNS = {
    "broadcast_hash_join": r"BroadcastHashJoin",
    "sort_merge_join": r"SortMergeJoin",
    "shuffled_hash_join": r"ShuffledHashJoin",
    "broadcast_nested_loop_join": r"BroadcastNestedLoopJoin",
    "exchange_hash": r"Exchange hashpartitioning",
    "exchange_range": r"Exchange rangepartitioning",
    "exchange_single": r"Exchange SinglePartition",
    "window_group_limit": r"WindowGroupLimit",
    "take_ordered": r"TakeOrderedAndProject",
    "python_eval": r"BatchEvalPython|ArrowEvalPython",
    "map_in_pandas": r"MapInPandas",
    "in_memory_scan": r"InMemoryTableScan",
    "sort": r"(?m)^\s*[:+*]*-? ?Sort ",
}


def _depth(line: str) -> int:
    """Tree depth of a plan line = length of its box-drawing prefix."""
    i = 0
    while i < len(line) and line[i] in " :+-*":
        i += 1
    return i


def _strip_cached_subtrees(plan: str) -> str:
    """Drop everything UNDER InMemoryRelation nodes: how much of a
    cached frame's build lineage the plan printer repeats depends on
    cache registration/materialization state (session history), not on
    the query under test. The signature covers the plan the query owns
    — the cache boundary itself (in_memory_scan) stays counted."""
    out = []
    skip_below: int | None = None
    for line in plan.splitlines():
        d = _depth(line)
        if skip_below is not None:
            if d > skip_below:
                continue
            skip_below = None
        out.append(line)
        if "InMemoryRelation" in line:
            skip_below = d
    return "\n".join(out)


def _drop_initial_plan(plan: str) -> str:
    """Keep only the Final Plan section of an already-executed
    AdaptiveSparkPlan printout. Once a query's own QueryExecution has
    run (e.g. a correctness test called toPandas() on the same cached
    DataFrame object), ``executedPlan().toString()`` prints BOTH
    '== Final Plan ==' and '== Initial Plan ==' sections — every
    operator would be counted twice, making the signature depend on
    session history rather than plan shape.

    MUST run AFTER ``_strip_cached_subtrees``: a cached
    InMemoryRelation's nested AQE printout embeds its OWN (deeper)
    '== Initial Plan ==' marker, and cutting at that first occurrence
    used to truncate the signature before the query's real subtrees
    (emb_outliers lost its broadcast-threshold branch entirely —
    the snapshot gate was vacuous for everything below the nested
    cache printout)."""
    marker = "+- == Initial Plan =="
    idx = plan.find(marker)
    return plan if idx < 0 else plan[:idx]


def plan_signature(df) -> dict[str, int]:
    plan = _drop_initial_plan(
        _strip_cached_subtrees(df._jdf.queryExecution().executedPlan().toString())
    )
    return {
        key: len(re.findall(pat, plan))
        for key, pat in SIGNATURE_PATTERNS.items()
        if len(re.findall(pat, plan)) > 0
    }


def warm_index_caches(spark, sf_dir: str) -> None:
    """Materialize the session caches FROM A KNOWN-COLD STATE: a
    persisted frame prints a different (shorter) plan once
    materialized, so signatures are only deterministic in the warm
    state — which is also the steady state the caches exist to model.
    The initial clear makes the state reproducible no matter what ran
    earlier in the pytest session (a prior test's
    ``spark.catalog.clearCache()`` would otherwise leave
    retained-but-unpersisted entries whose plans print cache-less);
    the snapshot GENERATOR runs in a fresh session where the clear is
    a no-op, so generator and checker always agree. Covers the ANN
    index caches (emb_*) and the shared MinHash pair cache
    (dedup_minhash_lsh — consumed by the curation queries too)."""
    from hdb_resale_price_data_pipeline_spark.operators import index_cache
    from hdb_resale_price_data_pipeline_spark.queries import local_queries

    index_cache.clear()
    registry = local_queries()
    registry["dedup_minhash_lsh"].fn(spark, sf_dir).count()
    for name, spec in sorted(registry.items()):
        if name.startswith("emb_"):
            spec.fn(spark, sf_dir).count()


def build_signatures(
    spark, sf_dir: str, only: set[str] | None = None
) -> dict[str, dict[str, int]]:
    from hdb_resale_price_data_pipeline_spark.queries import local_queries

    warm_index_caches(spark, sf_dir)
    out = {}
    for name, spec in sorted(local_queries().items()):
        if only is not None and name not in only:
            continue
        out[name] = plan_signature(spec.fn(spark, sf_dir))
    return out


def main() -> None:
    from hdb_resale_price_data_pipeline_spark.session import get_spark_session

    spark = get_spark_session(app_name="plan-snapshot")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    only: set[str] | None = None
    if "--only" in sys.argv:
        idx = sys.argv.index("--only") + 1
        if idx >= len(sys.argv) or sys.argv[idx].startswith("-"):
            raise SystemExit("--only requires a comma-separated name list")
        only = set(sys.argv[idx].split(","))
        # fail fast BEFORE the multi-minute warm+build pass
        from hdb_resale_price_data_pipeline_spark.queries import local_queries

        missing = only - local_queries().keys()
        if missing:
            raise SystemExit(f"--only names not in registry: {sorted(missing)}")
    sigs = build_signatures(spark, sf_dir, only=only)
    if "--update" in sys.argv:
        if only is not None and os.path.exists(SNAPSHOT_PATH):
            with open(SNAPSHOT_PATH) as f:
                merged = json.load(f)
            # drop snapshots for queries no longer registered, then merge
            from hdb_resale_price_data_pipeline_spark.queries import local_queries

            merged = {k: v for k, v in merged.items() if k in local_queries()}
            merged.update(sigs)
            sigs = merged
        with open(SNAPSHOT_PATH, "w") as f:
            json.dump(sigs, f, indent=1, sort_keys=True)
        print(f"wrote {len(sigs)} signatures to {SNAPSHOT_PATH}")
    else:
        print(json.dumps(sigs, indent=1, sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main()
