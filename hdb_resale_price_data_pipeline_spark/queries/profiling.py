"""Catalog-driven schema profiling: FD / IND / UCC / OD / correlation
discovery.

The discoverers walk a declared PROFILING CATALOG — nine testdata tables
with their profiled columns and type classes — and GENERATE every
candidate: FD = all ordered column pairs within each table, UCC = all
unordered pairs within each table, IND = all ordered cross-table pairs
of joinable columns generated PER TYPE CLASS (integral / string /
timestamp, Binder's partition; floating measures never generate IND
candidates), OD = all ordered pairs of orderable columns within each
table.

The economics are the point at 100 TB: ONE ANALYZE-style wide
aggregate per table (rowcount, NULL-sentinel NDV per column,
min/max/non-null-NDV for the joinable classes) funds every stats prune
— ``key_holds`` / ``const_holds`` / ``pruned_impossible`` /
``pruned_range`` / ``pruned_ndv`` / ``pruned_pigeonhole`` /
``super_key`` / ``trivial_holds`` are decided from statistics alone —
and only SURVIVORS pay row-grain work. Every discoverer decides its
verdicts the same way: Spark computes bounded per-candidate counters,
and the driver collects them and builds every verdict row in one loop
over the candidates. The counters come from three passes:

- FD, UCC and correlation survivors share ONE pair-cell pass: each
  table with a survivor is scanned once and every surviving column
  pair collapses to contingency cells (``_pair_cells_frame``);
- IND survivors share ONE value pass: each table holding a surviving
  child or parent column is scanned once, and one grouping by (parent
  column, value) counts each candidate's unmatched child values
  (``_ind_violations_frame``);
- OD survivors share ONE typed group pass, one scan and one window per
  table (``_od_counts_frame``; native order semantics rule out the
  string-sentinel stack).

Each table's statistics and each discoverer's persisted RESULT frame
are session artifacts (operators/index_cache, keyed on the files they
read), so ``dq_profile_report`` steady-state costs four projections
and a union.

The reference (cyusong/HDB-Resale-Price-Data-Pipeline) ships no
profiler — its Spark surface is four cleaning scripts
(jobs/spark/*.py); the techniques here are public-literature
standards: the g3 violation measure (Kivinen & Mannila), pigeonhole
UCC pruning, and SPIDER/Binder range/NDV IND pruning.
"""

from __future__ import annotations

import functools
import math
from collections import Counter
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from ..operators import index_cache
from ..operators.util import local_frame
from .base import QuerySpec, t

# --- the declared catalog -------------------------------------------------------
#
# table -> ((column, type-class), ...). The catalog is the profiler's
# INPUT — which tables/columns an installation profiles is config (a
# real deployment reads it from its metastore; free-text payload
# columns like o_comment / documents.text are deliberately not
# profiled) — but every CANDIDATE below is generated from it, never
# hand-listed. Type classes: "int" (integral, IND-joinable), "str",
# "num" (floating measures), "date" (timestamps).
_CATALOG: dict[str, tuple[tuple[str, str], ...]] = {
    "region": (("r_regionkey", "int"), ("r_name", "str")),
    "nation": (
        ("n_nationkey", "int"),
        ("n_name", "str"),
        ("n_regionkey", "int"),
    ),
    "supplier": (
        ("s_suppkey", "int"),
        ("s_name", "str"),
        ("s_nationkey", "int"),
        ("s_acctbal", "num"),
    ),
    "part": (
        ("p_partkey", "int"),
        ("p_name", "str"),
        ("p_brand", "str"),
        ("p_type", "str"),
        ("p_size", "int"),
        ("p_retailprice", "num"),
    ),
    "customer": (
        ("c_custkey", "int"),
        ("c_name", "str"),
        ("c_nationkey", "int"),
        ("c_mktsegment", "str"),
    ),
    "orders": (
        ("o_orderkey", "int"),
        ("o_custkey", "int"),
        ("o_orderstatus", "str"),
        ("o_orderpriority", "str"),
        ("o_orderdate", "date"),
    ),
    "lineitem": (
        ("l_orderkey", "int"),
        ("l_partkey", "int"),
        ("l_suppkey", "int"),
        ("l_linenumber", "int"),
        ("l_shipdate", "date"),
    ),
    "events": (
        ("event_id", "int"),
        ("user_id", "int"),
        ("event_type", "str"),
        ("value", "num"),
        ("ts", "date"),
    ),
    "documents": (
        ("doc_id", "int"),
        ("lang", "str"),
        ("source", "str"),
        ("n_chars", "num"),
    ),
}

# NULLs participate in FD/UCC semantics as one value: NDV, pair
# grouping, and the UCC exact distinct all run over
# coalesce(cast(col as string), sentinel) — in BOTH engines, so the
# pigeonhole prune is sound for NULL-bearing columns (a prior version
# counted NDVs NULL-free while the exact test counted NULL-bearing
# pairs, under-sizing domains). String casts only feed grouping and
# counting, so per-engine injectivity is all that's required — the
# strings themselves never cross engines.
_NULL_SENTINEL = "␀null␀"


def _cols(table: str) -> tuple[str, ...]:
    return tuple(c for c, _ in _CATALOG[table])


# IND candidates are generated per TYPE CLASS (Binder's candidate
# partition): integral keys, strings (binary/UTF-8 collation on both
# engines, so range-prune decisions agree), and timestamps. "num"
# (floating measures) is deliberately not a joinable class.
_IND_CLASSES = ("int", "str", "date")


def _class_cols(table: str, klass: str) -> tuple[str, ...]:
    return tuple(c for c, k in _CATALOG[table] if k == klass)


def _ind_cols(table: str) -> tuple[tuple[str, str], ...]:
    return tuple(
        (c, k) for c, k in _CATALOG[table] if k in _IND_CLASSES
    )


# --- statistics layer (ANALYZE semantics, fingerprint-keyed) ---------------------

# Profiling artifacts live under the "profiling." tags of
# operators/index_cache: per-table statistics (plain tuples, one tag per
# table so a cold build's nine tables never evict each other) and each
# discoverer's persisted RESULT frame, which the report and repeat
# invocations read instead of re-running the survivor scans.


def clear_profile_caches() -> None:
    """Drop cached statistics AND result frames (unpersisting the
    latter)."""
    index_cache.clear("profiling.")


class _TableStats:
    """One table's ANALYZE row: rowcount, sentinel NDV per cataloged
    column, and (min, max, non-null NDV) per IND-class column —
    integral columns at bigint grain, string/timestamp columns raw
    (both engines order them identically: binary UTF-8 collation for
    strings, the time line for timestamps, so range-prune decisions
    taken from these values agree cross-engine)."""

    __slots__ = ("rowcnt", "ndv", "ind_stats")

    def __init__(self, rowcnt: int, ndv: dict, ind_stats: dict) -> None:
        self.rowcnt = rowcnt
        self.ndv = ndv
        self.ind_stats = ind_stats


@index_cache.cached("profiling.stats")
def _table_stats(spark: SparkSession, sf_dir: str, table: str) -> _TableStats:
    # Distinct aggregates dominate the ANALYZE scan (each adds a slice
    # to Spark's Expand), so every column pays exactly ONE: ind-class
    # columns (int/str/date) pay the RAW countDistinct — their sentinel
    # NDV is derived exactly as raw NDV + 1 if any NULL (string casts
    # are injective on these types, so the identity is exact; floating
    # "num" columns keep the explicit sentinel count because -0.0/0.0
    # would break the identity there) — and the non-null count that
    # funds the null flag is a plain aggregate.
    ind_kinds = dict(_ind_cols(table))
    exprs = [F.count(F.lit(1)).alias("rowcnt")]
    for c in _cols(table):
        if c in ind_kinds:
            exprs += [
                F.countDistinct(col(c)).alias(f"rndv_{c}"),
                F.count(col(c)).alias(f"nn_{c}"),
            ]
        else:
            exprs.append(
                F.countDistinct(
                    F.coalesce(col(c).cast("string"), F.lit(_NULL_SENTINEL))
                ).alias(f"ndv_{c}")
            )
    for c, k in _ind_cols(table):
        v = F.expr(_od_value_spark(c, k))  # the value passes' grain
        exprs += [F.min(v).alias(f"mn_{c}"), F.max(v).alias(f"mx_{c}")]
    # Bounded collect: ONE row of ≤ 4·|cols|+1 values — the same
    # statistics a CBO keeps per table.
    row = t(spark, sf_dir, table).agg(*exprs).collect()[0]
    rowcnt = row["rowcnt"]
    ndv = {}
    for c in _cols(table):
        if c in ind_kinds:
            ndv[c] = row[f"rndv_{c}"] + (1 if row[f"nn_{c}"] < rowcnt else 0)
        else:
            ndv[c] = row[f"ndv_{c}"]
    return _TableStats(
        rowcnt,
        ndv,
        {
            c: (row[f"mn_{c}"], row[f"mx_{c}"], row[f"rndv_{c}"])
            for c, _ in _ind_cols(table)
        },
    )


def _warm_table_stats(spark: SparkSession, sf_dir: str, tables) -> None:
    """Collect tables' ANALYZE rows CONCURRENTLY (guide §2.6: overlap
    independent jobs). Each stats row is one small bounded job; the
    candidate loops otherwise trigger them serially on first touch,
    leaving most of the box idle through nine job tails. A few jobs in
    flight back-fill the tail without fighting for cores; the tables
    are deduplicated, so no two threads compute the same table, and
    already-cached tables are plain hits."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        list(
            pool.map(
                lambda tb: _table_stats(spark, sf_dir, tb), dict.fromkeys(tables)
            )
        )


def _cached_result(spark: SparkSession, sf_dir: str, tag: str, build):
    return index_cache.artifact(
        spark,
        f"profiling.{tag}",
        index_cache.table_paths(sf_dir, _CATALOG),
        (),
        lambda: build().persist(),
    )


def _coalesced_sql(column: str) -> str:
    """DuckDB-dialect NULL-sentinel string cast (oracle side)."""
    return f"coalesce(CAST({column} AS VARCHAR), '{_NULL_SENTINEL}')"


def _coalesced_spark_sql(column: str) -> str:
    """Spark-dialect twin, used inside the ``stack()`` selectExpr."""
    return f"coalesce(CAST({column} AS STRING), '{_NULL_SENTINEL}')"


def _stats_ctes() -> str:
    """One MATERIALIZED per-table stats CTE shared by every oracle
    branch of that table — the oracle states the same
    one-ANALYZE-scan-per-table economics declaratively."""
    parts = []
    for table in _CATALOG:
        ndv_cols = ",\n           ".join(
            f"count(DISTINCT {_coalesced_sql(c)}) AS ndv_{c}"
            for c in _cols(table)
        )
        parts.append(
            f"stats_{table} AS MATERIALIZED (\n"
            f"    SELECT count(*) AS rowcnt,\n           {ndv_cols}\n"
            f"    FROM {table}\n)"
        )
    return "WITH " + ",\n".join(parts)


# --- shared pair-cell pass (FD / UCC / correlation survivors) --------------------
#
# FD, UCC and correlation all decide their surviving candidates from the
# same contingency cells: the distinct (x, y) value pairs of two columns
# of one table, with their row count o. One pass computes those cells
# for the union of the three discoverers' survivors and reduces each
# pair to a handful of counters; the discoverers then assemble their
# verdicts from the counters on the driver.


class _PairCells(NamedTuple):
    """Counters of one ordered column pair (first, second)."""

    n_cells: int  # distinct (first, second) value pairs
    n_groups: int  # distinct first values
    n_violating: int  # first values seen with more than one second value
    s: float  # Σ o²/(row margin · column margin); correlation pairs only


def _pair_survivors(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """(table, x, y, is_corr) for every unordered catalog pair, in
    catalog order, that either FD direction, the UCC candidate or the
    correlation candidate leaves to the row-grain test."""
    _warm_table_stats(spark, sf_dir, _CATALOG)
    out = []
    for table, x, y in _ucc_candidates():
        s = _table_stats(spark, sf_dir, table)
        is_corr = _corr_pruned(s, x, y) is None
        if (
            is_corr
            or _ucc_pruned(s, x, y) is None
            or _fd_pruned(s, x, y) is None
            or _fd_pruned(s, y, x) is None
        ):
            out.append((table, x, y, is_corr))
    return out


def _pair_cells_frame(spark: SparkSession, sf_dir: str, survivors: list) -> DataFrame:
    """One row per surviving pair (its index in ``survivors``) with the
    counters of both directions. Each table with a survivor is scanned
    once: ``stack()`` pivots its pairs into a tall (pair, x, y) frame of
    NULL-sentinel strings, which collapses map-side to (x, y) cells.
    Each cell is then keyed by x (d = 0) and by y (d = 1), and a grouped
    count per key yields both directions' group and violating-group
    counts by hash aggregation alone (two windows over the cells
    measured 8-10 s slower at sf0.1 on local[4]). A correlation pair's
    cells are also keyed whole (d = 2) and come back as a list, at most
    ``_CORR_NDV_CAP``² cells, for the driver-side fold."""
    stacked: dict[str, list[str]] = {}
    for i, (table, x, y, _) in enumerate(survivors):
        stacked.setdefault(table, []).append(
            f"{i}, {_coalesced_spark_sql(x)}, {_coalesced_spark_sql(y)}"
        )
    tall = functools.reduce(
        DataFrame.unionByName,
        [
            t(spark, sf_dir, table).selectExpr(
                f"stack({len(args)}, {', '.join(args)}) AS (pair, x, y)"
            )
            for table, args in stacked.items()
        ],
    )
    cells = tall.groupBy("pair", "x", "y").agg(F.count(F.lit(1)).alias("o"))
    keyed = cells.selectExpr(
        "pair",
        "o",
        "stack(3, 0, x, CAST(NULL AS STRING), 1, y, CAST(NULL AS STRING), "
        "2, x, y) AS (d, k, k2)",
    ).where(
        (col("d") < 2)
        | col("pair").isin([i for i, (*_, corr) in enumerate(survivors) if corr])
    )
    keys = keyed.groupBy("pair", "d", "k", "k2").agg(
        F.count(F.lit(1)).alias("n"), F.sum("o").alias("o")
    )
    d, multi = col("d"), col("n") > 1
    return keys.groupBy("pair").agg(
        F.sum(F.when(d == 0, col("n"))).alias("n_cells"),
        F.count(F.when(d == 0, 1)).alias("x_groups"),
        F.count(F.when((d == 0) & multi, 1)).alias("x_violating"),
        F.count(F.when(d == 1, 1)).alias("y_groups"),
        F.count(F.when((d == 1) & multi, 1)).alias("y_violating"),
        F.collect_list(F.when(d == 2, F.struct("k", "k2", "o"))).alias("cells"),
    )


def _contingency_s(cells: list[tuple[str, str, int]]) -> float:
    """Σ o²/(row margin · column margin) over a contingency table's
    observed (x, y, o) cells, folded sequentially in sorted (x, y)
    order from 0.0: the oracle's order and IEEE double operations, so
    the sum is bit-identical."""
    rows, cols = Counter(), Counter()
    for x, y, o in cells:
        rows[x] += o
        cols[y] += o
    s = 0.0
    for x, y, o in sorted(cells):
        s += float(o * o) / (rows[x] * cols[y])
    return s


def _build_pair_pass(spark: SparkSession, sf_dir: str) -> dict[tuple, _PairCells]:
    """(table, first, second) -> counters, for both directions of every
    surviving pair. Bounded collect: one row per surviving pair."""
    survivors = _pair_survivors(spark, sf_dir)
    if not survivors:
        return {}
    out = {}
    for r in _pair_cells_frame(spark, sf_dir, survivors).collect():
        table, x, y, _ = survivors[r["pair"]]
        n, s = r["n_cells"], _contingency_s(r["cells"])
        out[(table, x, y)] = _PairCells(n, r["x_groups"], r["x_violating"], s)
        out[(table, y, x)] = _PairCells(n, r["y_groups"], r["y_violating"], s)
    return out


def _pair_pass(spark: SparkSession, sf_dir: str) -> dict[tuple, _PairCells]:
    return index_cache.artifact(
        spark, "profiling.pairs", index_cache.table_paths(sf_dir, _CATALOG), (),
        lambda: _build_pair_pass(spark, sf_dir),
    )


def _ppm(ratio: float) -> int:
    """A ratio on the ppm grid, rounded half up (the oracles'
    ``floor(x * 1000000 + 0.5)`` in the same double arithmetic)."""
    return math.floor(ratio * 1_000_000 + 0.5)


# --- functional-dependency discovery ---------------------------------------------

def _fd_candidates() -> list[tuple[str, str, str]]:
    out = []
    for table in _CATALOG:
        names = _cols(table)
        for det in names:
            for dep in names:
                if det != dep:
                    out.append((table, det, dep))
    return out


def q_dq_fd_discover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency DISCOVERY over the declared catalog: every
    ordered column pair of every cataloged table (134 candidates over 9
    tables). Phase 1 is one ANALYZE-style wide aggregate per table —
    rowcount plus exact NULL-sentinel NDV per column, cached per
    (session, dataset fingerprint). Phase 2 classifies each candidate
    from statistics alone where possible:

    - NDV(A) == rowcount  → A is a key → A→B holds (``key_holds``);
    - NDV(B) == 1         → B constant → A→B holds (``const_holds``);
    - NDV(A) <  NDV(B)    → A→B cannot hold exactly, since a function
      image can't exceed its domain (``pruned_impossible``, ppm = -1:
      violation rate deliberately NOT measured — that's the prune);

    and only surviving candidates pay the g3 test, read from the shared
    pair-cell pass (``_pair_cells_frame``: one scan per table for FD,
    UCC and correlation together): determinant groups and violating
    determinants of A→B are the distinct A values of the (A, B) cells
    and those seen with more than one B. The DuckDB oracle states the
    same classification declaratively (it computes g3 for every pair
    and masks with the identical CASE — semantics, not mechanism).
    Exact-integer statuses and numerators; the one division lands on
    the ppm grid after the decision. Result frames persist per session
    — see ``_cached_result``."""
    return _cached_result(
        spark, sf_dir, "fd", lambda: _build_fd_discover(spark, sf_dir)
    )


def _fd_pruned(stats: _TableStats, det: str, dep: str) -> tuple[str, int] | None:
    """(status, violation_ppm) decided from statistics, or None when
    det -> dep needs the g3 test."""
    if stats.ndv[det] == stats.rowcnt:
        return "key_holds", 0
    if stats.ndv[dep] == 1:
        return "const_holds", 0
    if stats.ndv[det] < stats.ndv[dep]:
        return "pruned_impossible", -1
    return None


def _build_fd_discover(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = _pair_pass(spark, sf_dir)
    rows = []
    for table, det, dep in _fd_candidates():
        stats = _table_stats(spark, sf_dir, table)
        verdict = _fd_pruned(stats, det, dep)
        if verdict is None:
            c = cells[(table, det, dep)]
            verdict = (
                "holds" if c.n_violating == 0 else "violated",
                _ppm(c.n_violating / c.n_groups),
            )
        rows.append((f"{table}.{det}->{dep}", stats.ndv[det], stats.ndv[dep], *verdict))
    return local_frame(
        spark,
        rows,
        schema=(
            "fd string, ndv_det bigint, ndv_dep bigint, "
            "status string, violation_ppm bigint"
        ),
    )


def _fd_discover_oracle() -> str:
    branches = []
    for table, det, dep in _fd_candidates():
        branches.append(
            f"""SELECT '{table}.{det}->{dep}' AS fd,
       s.ndv_{det} AS ndv_det, s.ndv_{dep} AS ndv_dep,
       CASE WHEN s.ndv_{det} = s.rowcnt THEN 'key_holds'
            WHEN s.ndv_{dep} = 1 THEN 'const_holds'
            WHEN s.ndv_{det} < s.ndv_{dep} THEN 'pruned_impossible'
            WHEN g.n_violating = 0 THEN 'holds'
            ELSE 'violated' END AS status,
       CASE WHEN s.ndv_{det} = s.rowcnt OR s.ndv_{dep} = 1
                THEN CAST(0 AS BIGINT)
            WHEN s.ndv_{det} < s.ndv_{dep} THEN CAST(-1 AS BIGINT)
            ELSE g.violation_ppm END AS violation_ppm
FROM stats_{table} s CROSS JOIN (
    SELECT CAST(sum(CAST(nb > 1 AS INT)) AS BIGINT) AS n_violating,
           CAST(floor(CAST(sum(CAST(nb > 1 AS INT)) AS DOUBLE) / count(*)
                      * 1000000 + 0.5) AS BIGINT) AS violation_ppm
    FROM (
        SELECT a, count(*) AS nb FROM (
            SELECT DISTINCT {_coalesced_sql(det)} AS a,
                            {_coalesced_sql(dep)} AS b
            FROM {table}
        ) GROUP BY a
    )
) g"""
        )
    return _stats_ctes() + "\n" + "\nUNION ALL\n".join(branches)


# --- inclusion-dependency (foreign-key) discovery --------------------------------

def _ind_candidates() -> list[tuple[str, str, str, str, str]]:
    """Ordered cross-table pairs of catalog columns, generated PER
    TYPE CLASS (klass, child_table, child_col, parent_table,
    parent_col) — Binder's candidate partition: integral with
    integral, string with string, timestamp with timestamp; "num"
    measures never generate candidates. Never hand-listed: adding a
    table (or a joinable column) to the catalog grows the candidate
    set automatically."""
    out = []
    for klass in _IND_CLASSES:
        cols = [(tbl, c) for tbl in _CATALOG for c in _class_cols(tbl, klass)]
        out += [
            (klass, ct, cc, pt, pc)
            for ct, cc in cols
            for pt, pc in cols
            if ct != pt
        ]
    return out


def q_dq_ind_discover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency (foreign-key) DISCOVERY over generated
    candidates: every ordered cross-table pair of catalog columns
    WITHIN a type class (integral / string / timestamp — Binder's
    candidate partition; 432 candidates over 34 joinable columns) —
    the property that makes a join lossless and an FK constraint safe
    to declare. Statistics prune first, the SPIDER/Binder discipline,
    funded by the same per-table ANALYZE rows the FD/UCC discoverers
    share:

    - child [min,max] escapes parent [min,max] → ``pruned_range``
      (guarded: an all-NULL side has NULL min/max and is never
      range-pruned — NULL comparisons are not TRUE in the SQL oracle,
      and the Spark side checks both ends explicitly);
    - child non-null NDV > parent non-null NDV → ``pruned_ndv``
      (distinct child values can't fit in a smaller parent domain);

    on a dense-key schema half the integral candidates die on stats
    alone, and the string class shows the prune at its best — 144
    generated string candidates, ~2 survivors (name-style columns have
    disjoint lexicographic ranges). SURVIVORS are counted by one value
    pass (``_ind_violations_frame``) that scans each table holding a
    surviving column once, and the verdicts are assembled on the
    driver: ``holds`` / ``violated`` (exact violating-value count);
    coverage_ppm = child NDV / parent NDV (the density readout
    separating a total FK from a coincidental dense-key containment),
    with a -1 sentinel when the parent has no non-null values. Result frames persist per
    (session, dataset)."""
    return _cached_result(
        spark, sf_dir, "ind", lambda: _build_ind_discover(spark, sf_dir)
    )


def _ind_pruned(
    spark: SparkSession, sf_dir: str, ct: str, cc: str, pt: str, pc: str
) -> str | None:
    """The status decided from statistics, or None when the candidate
    ct.cc <= pt.pc needs the value pass."""
    cmn, cmx, cndv = _table_stats(spark, sf_dir, ct).ind_stats[cc]
    pmn, pmx, pndv = _table_stats(spark, sf_dir, pt).ind_stats[pc]
    if cmn is not None and pmn is not None and (cmn < pmn or cmx > pmx):
        return "pruned_range"
    if cndv > pndv:
        return "pruned_ndv"
    return None


def _ind_survivors(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """The candidates, in candidate order, that statistics leave to the
    value pass."""
    _warm_table_stats(spark, sf_dir, _CATALOG)
    return [
        c for c in _ind_candidates() if _ind_pruned(spark, sf_dir, *c[1:]) is None
    ]


def _ind_violations_frame(
    spark: SparkSession, sf_dir: str, survivors: list
) -> DataFrame:
    """(ind, count): the number of distinct non-NULL child values
    missing from the parent, for each survivor with at least one.

    Each table holding a surviving child or parent column is scanned
    once: ``stack()`` puts every such column into its class-typed slot
    (native equality, as in the OD pass) and the rows collapse to
    distinct (column, value) before they are tagged, so the tag
    fan-out and the grouping shuffle scale with each column's NDV, not
    its row count. A broadcast tag table then maps each child column
    to its (parent column, ind) pairs and each parent column to itself
    with a NULL ind, so one grouping by (parent column, value) finds
    the child values that met no parent row. A parent column's distinct values enter once however many
    candidates reference it (tagging parents per candidate fanned
    o_orderkey's 1.5M values ×17 at sf1 and measured 171 s), and a
    group holds at most one row per referencing child column, so the
    grouping cannot skew."""
    kinds: dict[tuple[str, str], str] = {}
    tags: list[tuple] = []
    for klass, ct, cc, pt, pc in survivors:
        kinds[(ct, cc)] = kinds[(pt, pc)] = klass
        tags.append((f"{ct}.{cc}", f"{pt}.{pc}", f"{ct}.{cc} <= {pt}.{pc}"))
    tags += dict.fromkeys(
        (f"{pt}.{pc}", f"{pt}.{pc}", None) for *_, pt, pc in survivors
    )
    stacked: dict[str, list[str]] = {}
    for (table, c), klass in kinds.items():
        stacked.setdefault(table, []).append(
            f"'{table}.{c}', {_class_slots(c, klass)}"
        )
    values = functools.reduce(
        DataFrame.unionByName,
        [
            t(spark, sf_dir, table).selectExpr(
                f"stack({len(args)}, {', '.join(args)}) AS (col, v_int, v_str, v_ts)"
            )
            for table, args in stacked.items()
        ],
    ).where("v_int IS NOT NULL OR v_str IS NOT NULL OR v_ts IS NOT NULL")
    tag_frame = local_frame(spark, tags, schema="col string, pcol string, ind string")
    unmatched = (
        values.distinct()
        .join(F.broadcast(tag_frame), "col")
        .groupBy("pcol", "v_int", "v_str", "v_ts")
        .agg(
            F.count(F.when(col("ind").isNull(), 1)).alias("n_parent"),
            F.collect_list("ind").alias("inds"),
        )
        .where(col("n_parent") == 0)
    )
    return unmatched.select(F.explode("inds").alias("ind")).groupBy("ind").count()


def _build_ind_discover(spark: SparkSession, sf_dir: str) -> DataFrame:
    survivors = _ind_survivors(spark, sf_dir)
    nv = {}
    if survivors:  # bounded collect: at most one row per survivor
        nv = dict(_ind_violations_frame(spark, sf_dir, survivors).collect())
    rows = []
    for _, ct, cc, pt, pc in _ind_candidates():
        cndv = _table_stats(spark, sf_dir, ct).ind_stats[cc][2]
        pndv = _table_stats(spark, sf_dir, pt).ind_stats[pc][2]
        ind = f"{ct}.{cc} <= {pt}.{pc}"
        status = _ind_pruned(spark, sf_dir, ct, cc, pt, pc)
        if status is None:
            n = nv.get(ind, 0)
            verdict = ("holds" if n == 0 else "violated", n)
        else:
            verdict = (status, -1)
        cov = -1 if pndv == 0 else _ppm(cndv / pndv)
        rows.append((ind, cndv, pndv, cov, *verdict))
    return local_frame(
        spark,
        rows,
        schema=(
            "ind string, ndv_child bigint, ndv_parent bigint, "
            "coverage_ppm bigint, status string, n_violating bigint"
        ),
    )


def _ind_discover_oracle() -> str:
    branches = []
    for _, ct, cc, pt, pc in _ind_candidates():
        ind = f"{ct}.{cc} <= {pt}.{pc}"
        branches.append(
            f"""SELECT '{ind}' AS ind,
       cs.ndv AS ndv_child, ps.ndv AS ndv_parent,
       CASE WHEN ps.ndv = 0 THEN CAST(-1 AS BIGINT)
            ELSE CAST(floor(CAST(cs.ndv AS DOUBLE) / ps.ndv * 1000000 + 0.5)
                AS BIGINT) END AS coverage_ppm,
       CASE WHEN cs.mn < ps.mn OR cs.mx > ps.mx THEN 'pruned_range'
            WHEN cs.ndv > ps.ndv THEN 'pruned_ndv'
            WHEN g.nv = 0 THEN 'holds'
            ELSE 'violated' END AS status,
       CASE WHEN (cs.mn < ps.mn OR cs.mx > ps.mx) OR cs.ndv > ps.ndv
                THEN CAST(-1 AS BIGINT)
            ELSE g.nv END AS n_violating
FROM istats_{ct}_{cc} cs
CROSS JOIN istats_{pt}_{pc} ps
CROSS JOIN (
    SELECT CAST(count(*) AS BIGINT) AS nv FROM (
        SELECT DISTINCT {cc} AS v FROM {ct} WHERE {cc} IS NOT NULL
    ) c WHERE NOT EXISTS (
        SELECT 1 FROM (SELECT DISTINCT {pc} AS v FROM {pt}) p
        WHERE p.v = c.v)
) g"""
        )
    def _mnmx(c: str, klass: str) -> tuple[str, str]:
        if klass == "int":  # integral columns meet at bigint grain
            return f"CAST(min({c}) AS BIGINT)", f"CAST(max({c}) AS BIGINT)"
        return f"min({c})", f"max({c})"

    ctes = ",\n".join(
        f"istats_{tbl}_{c} AS MATERIALIZED (\n"
        f"    SELECT {_mnmx(c, k)[0]} AS mn,"
        f" {_mnmx(c, k)[1]} AS mx,"
        f" count(DISTINCT {c}) AS ndv FROM {tbl}\n)"
        for tbl in _CATALOG
        for c, k in _ind_cols(tbl)
    )
    return "WITH " + ctes + "\n" + "\nUNION ALL\n".join(branches)


# --- unique-column-combination (composite-key) discovery -------------------------

def _ucc_candidates() -> list[tuple[str, str, str]]:
    out = []
    for table in _CATALOG:
        names = _cols(table)
        for i, a in enumerate(names):
            for b in names[i + 1 :]:
                out.append((table, a, b))
    return out


def q_dq_ucc_discover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unique-column-combination (composite-key) discovery over the
    declared catalog — the third leg of the profiling triad
    (``dq_fd_discover`` finds determinants, ``dq_ind_discover`` finds
    foreign keys, this finds KEYS): which column PAIRS uniquely
    identify a row, for every cataloged table (67 candidates). The
    classic answer on this schema is lineitem's (l_orderkey,
    l_linenumber) — no single lineitem column is a key, the pair is.

    Pruning comes from the pigeonhole principle: |domain(a)| ·
    |domain(b)| < rowcount means the pair CANNOT be unique, decided
    from the single-column NULL-sentinel NDVs the shared ANALYZE scan
    already funds (NULL counts as one domain value in BOTH the NDVs
    and the exact test, so the prune is sound for NULL-bearing
    columns). A single column that is itself a key makes every pair
    containing it trivially unique (``super_key``, also free). Only
    surviving pairs pay the exact two-column distinct — the cell count
    of the shared pair-cell pass (``_pair_cells_frame``). Verdicts:
    ``holds`` / ``violated`` (exact
    duplicate-row count) on integer arithmetic end to end. Result
    frames persist per (session, dataset)."""
    return _cached_result(
        spark, sf_dir, "ucc", lambda: _build_ucc_discover(spark, sf_dir)
    )


def _ucc_pruned(stats: _TableStats, a: str, b: str) -> tuple[str, int] | None:
    """(status, n_duplicate) decided from statistics, or None when the
    pair needs the exact distinct count."""
    if stats.ndv[a] == stats.rowcnt or stats.ndv[b] == stats.rowcnt:
        return "super_key", 0
    if stats.ndv[a] * stats.ndv[b] < stats.rowcnt:
        return "pruned_pigeonhole", -1
    return None


def _build_ucc_discover(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = _pair_pass(spark, sf_dir)
    rows = []
    for table, a, b in _ucc_candidates():
        stats = _table_stats(spark, sf_dir, table)
        verdict = _ucc_pruned(stats, a, b)
        if verdict is None:
            # cells are distinct sentinel-coalesced (a, b) pairs, so
            # their count is the oracle's SELECT DISTINCT count
            nd = cells[(table, a, b)].n_cells
            verdict = ("holds" if nd == stats.rowcnt else "violated", stats.rowcnt - nd)
        rows.append((f"{table}.({a},{b})", stats.ndv[a], stats.ndv[b], *verdict))
    return local_frame(
        spark,
        rows,
        schema=(
            "ucc string, ndv_a bigint, ndv_b bigint, status string, "
            "n_duplicate bigint"
        ),
    )


def _ucc_discover_oracle() -> str:
    branches = []
    for table, a, b in _ucc_candidates():
        ucc = f"{table}.({a},{b})"
        branches.append(
            f"""SELECT '{ucc}' AS ucc, s.ndv_{a} AS ndv_a, s.ndv_{b} AS ndv_b,
       CASE WHEN s.ndv_{a} = s.rowcnt OR s.ndv_{b} = s.rowcnt
                THEN 'super_key'
            WHEN s.ndv_{a} * s.ndv_{b} < s.rowcnt THEN 'pruned_pigeonhole'
            WHEN g.nd = s.rowcnt THEN 'holds'
            ELSE 'violated' END AS status,
       CASE WHEN s.ndv_{a} = s.rowcnt OR s.ndv_{b} = s.rowcnt
                THEN CAST(0 AS BIGINT)
            WHEN s.ndv_{a} * s.ndv_{b} < s.rowcnt THEN CAST(-1 AS BIGINT)
            ELSE s.rowcnt - g.nd END AS n_duplicate
FROM stats_{table} s CROSS JOIN (
    SELECT count(*) AS nd FROM (
        SELECT DISTINCT {_coalesced_sql(a)} AS a, {_coalesced_sql(b)} AS b
        FROM {table}
    )
) g"""
        )
    return _stats_ctes() + "\n" + "\nUNION ALL\n".join(branches)


# --- composed report --------------------------------------------------------------

def q_dq_profile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed schema-profiling report — the catalog-driven discovery
    family as one artifact: functional dependencies, inclusion
    dependencies (FKs), unique column combinations (keys), and order
    dependencies for every cataloged table, normalized to (section,
    item, status, metric) rows. This is the table a catalog/CBO
    ingests: what determines what, what references what, what
    identifies a row, what sorts with what. Each section keeps its own
    pruning economics (NDV grid / range+NDV stats / pigeonhole /
    NDV triviality); the discoverers' result frames persist per
    (session, dataset), so a report following the discoverers — or a
    repeat report — costs four projections and a union, no recomputed
    survivor scans."""
    sections = (
        ("fd", q_dq_fd_discover, "violation_ppm"),
        ("ind", q_dq_ind_discover, "n_violating"),
        ("ucc", q_dq_ucc_discover, "n_duplicate"),
        ("od", q_dq_od_discover, "disorder_ppm"),
    )
    return functools.reduce(
        DataFrame.unionByName,
        [
            q(spark, sf_dir).select(
                F.lit(name).alias("section"),
                col(name).alias("item"),
                "status",
                col(metric).alias("metric"),
            )
            for name, q, metric in sections
        ],
    )


def _profile_report_oracle() -> str:
    return f"""
SELECT 'fd' AS section, fd AS item, status, violation_ppm AS metric
FROM ({_fd_discover_oracle()})
UNION ALL
SELECT 'ind' AS section, ind AS item, status, n_violating AS metric
FROM ({_ind_discover_oracle()})
UNION ALL
SELECT 'ucc' AS section, ucc AS item, status, n_duplicate AS metric
FROM ({_ucc_discover_oracle()})
UNION ALL
SELECT 'od' AS section, od AS item, status, disorder_ppm AS metric
FROM ({_od_discover_oracle()})
"""


LOCAL_QUERIES: dict[str, QuerySpec] = {
    "dq_fd_discover": QuerySpec(q_dq_fd_discover, _fd_discover_oracle()),
    "dq_ind_discover": QuerySpec(q_dq_ind_discover, _ind_discover_oracle()),
    "dq_ucc_discover": QuerySpec(q_dq_ucc_discover, _ucc_discover_oracle()),
}


# --- holdout transfer validation (profile -> contract) ----------------------------

# The transfer check profiles ONE table's FD candidates on a small
# deterministic TRAIN split and re-measures them on the HOLDOUT: an FD
# that "holds" on a sample is only a contract if it survives data it
# was not mined from (TANE-style holdout validation — small samples
# mint spurious dependencies because near-unique determinants rarely
# collide there). Split rule: first two hex chars of md5(key) = '00' →
# train (≈1/256 of rows), else holdout — salted-hash determinism,
# identical in both engines. 1/256 is deliberately small: at sf0.01
# the 56-row train split mints 4 spurious FDs the holdout refutes
# (at sf0.1's 558 rows the same FDs are already refuted in-train —
# itself the sample-size lesson the check teaches).
_TRANSFER_TABLE = "orders"
_TRANSFER_KEY = "o_orderkey"
_TRANSFER_TRAIN_PREFIX = "00"


def _transfer_candidates() -> list[tuple[str, str]]:
    names = _cols(_TRANSFER_TABLE)
    return [(d, p) for d in names for p in names if d != p]


def q_dq_fd_transfer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FD DISCOVERY-TRANSFER validation — the profile→contract loop:
    every ordered column pair of the cataloged ``orders`` columns is
    g3-measured on a deterministic 1/256 TRAIN split AND on the
    HOLDOUT, and classified by whether the train verdict survives:

    - ``generalizes``        — holds on train AND holdout: a contract;
    - ``spurious_on_train``  — holds on train, violated on holdout:
      the sample minted it (near-unique determinants rarely collide on
      1/256 of the rows) — the case this check exists to catch;
    - ``violated_on_train``  — never discovered in the first place
      (holdout ppm still reported: the drift baseline).

    Scale: ONE scan of the table funds everything — ``stack()`` pivots
    all candidates into a tall (fd, split, det, dep) frame, one
    distinct, two map-side-combinable aggregates, then a 2-way pivot
    at (fd) grain (|candidates| rows). No per-candidate scans, no
    second pass for the holdout. Exact integer numerators; ppm
    divisions after the verdicts."""
    cands = _transfer_candidates()
    stack_args = ", ".join(
        f"'{_TRANSFER_TABLE}.{d}->{p}', {_coalesced_spark_sql(d)}, "
        f"{_coalesced_spark_sql(p)}"
        for d, p in cands
    )
    split = F.when(
        F.substring(F.md5(col(_TRANSFER_KEY).cast("string")), 1, 2)
        == _TRANSFER_TRAIN_PREFIX,
        F.lit("train"),
    ).otherwise(F.lit("holdout"))
    tall = (
        t(spark, sf_dir, _TRANSFER_TABLE)
        .withColumn("split", split)
        .selectExpr("split", f"stack({len(cands)}, {stack_args}) AS (fd, a, b)")
    )
    grouped = (
        tall.distinct()
        .groupBy("fd", "split", "a")
        .agg(F.count(F.lit(1)).alias("nb"))
    )
    per_split = grouped.groupBy("fd", "split").agg(
        F.sum((col("nb") > 1).cast("bigint")).alias("n_violating"),
        F.floor(
            F.sum((col("nb") > 1).cast("bigint")).cast("double")
            / F.count(F.lit(1))
            * 1_000_000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("ppm"),
    )
    pivoted = (
        per_split.groupBy("fd")
        .pivot("split", ["train", "holdout"])
        .agg(
            F.first("n_violating").alias("nv"), F.first("ppm").alias("ppm")
        )
    )
    return pivoted.select(
        "fd",
        F.coalesce(col("train_ppm"), F.lit(0)).cast("bigint").alias(
            "train_ppm"
        ),
        F.coalesce(col("holdout_ppm"), F.lit(0)).cast("bigint").alias(
            "holdout_ppm"
        ),
        F.when(
            F.coalesce(col("train_nv"), F.lit(0)) > 0,
            F.lit("violated_on_train"),
        )
        .when(
            F.coalesce(col("holdout_nv"), F.lit(0)) == 0, F.lit("generalizes")
        )
        .otherwise(F.lit("spurious_on_train"))
        .alias("verdict"),
    )


def _fd_transfer_oracle() -> str:
    tbl, key = _TRANSFER_TABLE, _TRANSFER_KEY
    branches = []
    for d, p in _transfer_candidates():
        g3 = (
            "SELECT CAST(sum(CAST(nb > 1 AS INT)) AS BIGINT) AS nv,\n"
            "       CAST(floor(CAST(sum(CAST(nb > 1 AS INT)) AS DOUBLE)\n"
            "            / count(*) * 1000000 + 0.5) AS BIGINT) AS ppm\n"
            "FROM (SELECT a, count(*) AS nb FROM (\n"
            f"    SELECT DISTINCT {_coalesced_sql(d)} AS a,\n"
            f"                    {_coalesced_sql(p)} AS b\n"
            f"    FROM {tbl} WHERE {{pred}}\n"
            ") GROUP BY a)"
        )
        pred_t = (
            f"substring(md5(CAST({key} AS VARCHAR)), 1, 2) "
            f"= '{_TRANSFER_TRAIN_PREFIX}'"
        )
        pred_h = (
            f"substring(md5(CAST({key} AS VARCHAR)), 1, 2) "
            f"<> '{_TRANSFER_TRAIN_PREFIX}'"
        )
        branches.append(
            f"""SELECT '{tbl}.{d}->{p}' AS fd,
       coalesce(tr.ppm, 0) AS train_ppm,
       coalesce(ho.ppm, 0) AS holdout_ppm,
       CASE WHEN coalesce(tr.nv, 0) > 0 THEN 'violated_on_train'
            WHEN coalesce(ho.nv, 0) = 0 THEN 'generalizes'
            ELSE 'spurious_on_train' END AS verdict
FROM ({g3.format(pred=pred_t)}) tr
CROSS JOIN ({g3.format(pred=pred_h)}) ho"""
        )
    return "\nUNION ALL\n".join(branches)


LOCAL_QUERIES["dq_fd_transfer"] = QuerySpec(
    q_dq_fd_transfer, _fd_transfer_oracle()
)


# --- order-dependency discovery ----------------------------------------------------

# Orderable classes: the same three the IND candidate partition uses —
# both engines order them identically (integers on the number line,
# strings by binary UTF-8 collation, timestamps on the time line), so
# order-compatibility verdicts agree cross-engine. "num" (floating
# measures) is excluded for the same reason it is IND-excluded.
_OD_CLASSES = _IND_CLASSES


def _od_candidates() -> list[tuple[str, str, str, str, str]]:
    """(table, a, class_a, b, class_b): every ordered pair of orderable
    cataloged columns within each table — generated, never
    hand-listed."""
    out = []
    for table in _CATALOG:
        cols = [(c, k) for c, k in _CATALOG[table] if k in _OD_CLASSES]
        out += [
            (table, a, ka, b, kb)
            for a, ka in cols
            for b, kb in cols
            if a != b
        ]
    return out


def _od_value_spark(column: str, klass: str) -> str:
    """Spark-dialect typed value expression: integral columns meet at
    bigint grain, timestamps at timestamp grain, strings raw — the
    casts unify types WITHIN a stack branch without disturbing order.
    ``column`` "NULL" gives the class's typed NULL."""
    if klass == "int":
        return f"CAST({column} AS BIGINT)"
    if klass == "date":
        return f"CAST({column} AS TIMESTAMP)"
    return f"CAST({column} AS STRING)"


def _od_value_duck(column: str, klass: str) -> str:
    if klass == "int":
        return f"CAST({column} AS BIGINT)"
    if klass == "date":
        return f"CAST({column} AS TIMESTAMP)"
    return f"CAST({column} AS VARCHAR)"


def q_dq_od_discover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-dependency discovery over the declared catalog — the
    fourth leg of the profiling family (FD = what determines, IND =
    what references, UCC = what identifies; OD = what is
    ORDER-COMPATIBLE): for which column pairs (a, b) does sorting by
    ``a`` also sort ``b``? ODs fund interchangeable sort orders,
    zone-map/partition pruning on secondary columns, and merge-join
    eligibility — the ORDER/FASTOD literature's motivating uses.

    Semantics (non-strict, over rows where both columns are non-NULL):
    ``a ~> b`` holds ascending iff a_r < a_s implies b_r <= b_s; ties
    in ``a`` constrain nothing. Equivalently, at a-GROUP grain: no
    earlier group's max(b) exceeds a later group's min(b). Both
    directions are measured in one pass; verdicts ``holds_asc`` /
    ``holds_desc`` / ``holds_both`` / ``violated``, with
    ``disorder_ppm`` = violating-group share in the better direction
    (the approximate-OD readout, same ppm grid as the FD g3).

    Economics at 100 TB: the shared ANALYZE stats classify
    ``trivial_holds`` (NDV(a) <= 1 — no ordered pairs exist) and
    ``const_holds`` (NDV(b) <= 1) for free; every surviving candidate
    is counted at a-GROUP grain by ``_od_counts_frame`` (one
    column-pruned scan and one window per table; native order
    semantics forbid the FD pass's string-sentinel stack, so the pass
    is its own), and the verdicts are assembled on the driver.
    Row-grain work never multiplies by candidate count. Result frames
    persist per session — see ``_cached_result``."""
    return _cached_result(
        spark, sf_dir, "od", lambda: _build_od_discover(spark, sf_dir)
    )


def _class_slots(column: str, klass: str) -> str:
    """One stack slot per orderable class: the column's typed value in
    its own class's slot, typed NULLs in the others (one untyped slot
    across classes would lose native order and equality)."""
    return ", ".join(
        _od_value_spark(column if k == klass else "NULL", k) for k in _OD_CLASSES
    )


def _od_pruned(stats: _TableStats, a: str, b: str) -> str | None:
    """The status decided from the non-null NDVs (the ind_stats grain:
    OD is defined over rows where both columns are present, so
    NULL-sentinel NDVs would overcount domains here), or None when
    a ~> b needs the group pass."""
    if stats.ind_stats[a][2] <= 1:
        return "trivial_holds"
    if stats.ind_stats[b][2] <= 1:
        return "const_holds"
    return None


def _od_survivors(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """The candidates, in candidate order, that statistics leave to the
    group pass."""
    _warm_table_stats(spark, sf_dir, _CATALOG)
    return [
        (table, a, ka, b, kb)
        for table, a, ka, b, kb in _od_candidates()
        if _od_pruned(_table_stats(spark, sf_dir, table), a, b) is None
    ]


def _od_counts_frame(spark: SparkSession, sf_dir: str, survivors: list) -> DataFrame:
    """(od, av, dv, n_groups) per surviving candidate: its ascending-
    and descending-violating a-groups and its a-groups where both
    columns are present. Candidates sharing a determinant share its
    grouping key and window ordering, so they fuse: one stacked copy
    per determinant carries every dependent in its own typed column,
    one grouped min/max pass, and ONE window per table (running max/min
    expressions over one WindowSpec evaluate in a single Window
    operator with a single sort). Measured at sf0.1 against one stack
    branch per (table, class pair) with one row copy per candidate:
    scan branches 37 -> 9, stacked row copies 104×N -> 34×N, and
    window-sorted rows Σ_cand NDV(a) -> Σ_det NDV(a)."""
    from pyspark.sql.window import Window

    dets: dict[str, dict[tuple[str, str], set[tuple[str, str]]]] = {}
    for table, a, ka, b, kb in survivors:
        dets.setdefault(table, {}).setdefault((a, ka), set()).add((b, kb))
    per_table = []
    for table, table_dets in sorted(dets.items()):
        # Dependent slots: columns surviving as a dependent of ANY
        # surviving determinant of this table; in a determinant's
        # branch, a slot that is not one of its dependents is a typed
        # NULL, and min/max ignore NULLs.
        dep_slots = sorted(set().union(*table_dets.values()))
        n = len(dep_slots)
        branch_rows = [
            ", ".join(
                [f"'{a}'", _class_slots(a, ka)]
                + [
                    _od_value_spark(b if (b, kb) in deps else "NULL", kb)
                    for b, kb in dep_slots
                ]
            )
            for (a, ka), deps in sorted(table_dets.items())
        ]
        dep_names = ", ".join(f"d{i}" for i in range(n))
        # NOT widened: light per-row work per stacked copy — a
        # per-branch round-robin repartition costs more than it
        # parallelizes (measured 62s -> 156s at sf1 with one stack
        # branch per class pair; contrast dedup_span_dups, where ONE
        # scan feeds heavy per-row amplification and widen fixed a
        # single-task anomaly).
        tall = (
            t(spark, sf_dir, table)
            .selectExpr(
                f"stack({len(branch_rows)}, {', '.join(branch_rows)}) "
                f"AS (det, a_int, a_str, a_dt, {dep_names})"
            )
            .where("a_int IS NOT NULL OR a_str IS NOT NULL OR a_dt IS NOT NULL")
        )
        # Map-side combine collapses rows to (determinant, a-value)
        # grain BEFORE the shuffle; the window then runs over <= NDV(a)
        # rows per determinant. A group's dependent min/max is NULL
        # when no row of the group has that dependent non-NULL — the
        # group then contributes nothing to that candidate (running
        # max/min skip NULLs; the counts below skip it), exactly the
        # oracle's "a nn AND b nn" row filter.
        grouped = tall.groupBy("det", "a_int", "a_str", "a_dt").agg(
            *[F.min(f"d{i}").alias(f"mn{i}") for i in range(n)],
            *[F.max(f"d{i}").alias(f"mx{i}") for i in range(n)],
        )
        w = (
            Window.partitionBy("det")
            .orderBy("a_int", "a_str", "a_dt")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        flagged = grouped.select(
            "*",
            *[F.max(f"mx{i}").over(w).alias(f"cmx{i}") for i in range(n)],
            *[F.min(f"mn{i}").over(w).alias(f"cmn{i}") for i in range(n)],
        )
        per_det = flagged.groupBy("det").agg(
            *[
                agg
                for i in range(n)
                for agg in (
                    F.count(F.when(col(f"cmx{i}") > col(f"mn{i}"), 1)).alias(f"av{i}"),
                    F.count(F.when(col(f"cmn{i}") < col(f"mx{i}"), 1)).alias(f"dv{i}"),
                    F.count(f"mn{i}").alias(f"n{i}"),
                )
            ]
        )
        # Unpivot to candidate grain (one row per determinant and
        # slot); a slot that is not a dependent of its determinant
        # names no candidate.
        unpivot = ", ".join(
            f"'{b}', av{i}, dv{i}, n{i}" for i, (b, _) in enumerate(dep_slots)
        )
        per_table.append(
            per_det.selectExpr(
                "det", f"stack({n}, {unpivot}) AS (dep, av, dv, n_groups)"
            ).selectExpr(
                f"concat('{table}.', det, '~>', dep) AS od", "av", "dv", "n_groups"
            )
        )
    return functools.reduce(DataFrame.unionByName, per_table)


def _build_od_discover(spark: SparkSession, sf_dir: str) -> DataFrame:
    survivors = _od_survivors(spark, sf_dir)
    counts = {}
    if survivors:  # bounded collect: one row per determinant and slot
        for r in _od_counts_frame(spark, sf_dir, survivors).collect():
            counts[r["od"]] = r[1:]
    rows = []
    for table, a, _, b, _ in _od_candidates():
        stats = _table_stats(spark, sf_dir, table)
        ndv_a, ndv_b = stats.ind_stats[a][2], stats.ind_stats[b][2]
        od = f"{table}.{a}~>{b}"
        status = _od_pruned(stats, a, b)
        if status is not None:
            rows.append((od, ndv_a, ndv_b, status, 0, 0, -1, 0))
            continue
        # A candidate whose rows are all NULL-filtered has no a-group:
        # it holds vacuously with zero groups, as in the oracle.
        av, dv, n = counts.get(od, (0, 0, 0))
        if av == 0:
            status = "holds_both" if dv == 0 else "holds_asc"
        else:
            status = "holds_desc" if dv == 0 else "violated"
        ppm = _ppm(min(av, dv) / n) if n else 0
        rows.append((od, ndv_a, ndv_b, status, av, dv, n, ppm))
    return local_frame(
        spark,
        rows,
        schema=(
            "od string, ndv_a bigint, ndv_b bigint, status string, "
            "asc_viol_groups bigint, desc_viol_groups bigint, "
            "n_groups bigint, disorder_ppm bigint"
        ),
    )


def _od_discover_oracle() -> str:
    branches = []
    for table, a, ka, b, kb in _od_candidates():
        od = f"{table}.{a}~>{b}"
        va, vb = _od_value_duck(a, ka), _od_value_duck(b, kb)
        branches.append(
            f"""SELECT '{od}' AS od, sa.ndv AS ndv_a, sb.ndv AS ndv_b,
       CASE WHEN sa.ndv <= 1 THEN 'trivial_holds'
            WHEN sb.ndv <= 1 THEN 'const_holds'
            WHEN g.av = 0 AND g.dv = 0 THEN 'holds_both'
            WHEN g.av = 0 THEN 'holds_asc'
            WHEN g.dv = 0 THEN 'holds_desc'
            ELSE 'violated' END AS status,
       CASE WHEN sa.ndv <= 1 OR sb.ndv <= 1 THEN CAST(0 AS BIGINT)
            ELSE g.av END AS asc_viol_groups,
       CASE WHEN sa.ndv <= 1 OR sb.ndv <= 1 THEN CAST(0 AS BIGINT)
            ELSE g.dv END AS desc_viol_groups,
       CASE WHEN sa.ndv <= 1 OR sb.ndv <= 1 THEN CAST(-1 AS BIGINT)
            ELSE g.n END AS n_groups,
       CASE WHEN sa.ndv <= 1 OR sb.ndv <= 1 OR g.n = 0
                THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(CAST(least(g.av, g.dv) AS DOUBLE) / g.n
                            * 1000000 + 0.5) AS BIGINT) END AS disorder_ppm
FROM odst_{table}_{a} sa CROSS JOIN odst_{table}_{b} sb CROSS JOIN (
    SELECT CAST(coalesce(sum(CASE WHEN cmx > mn_b THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS av,
           CAST(coalesce(sum(CASE WHEN cmn < mx_b THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS dv,
           CAST(count(*) AS BIGINT) AS n
    FROM (
        SELECT mn_b, mx_b,
               max(mx_b) OVER (ORDER BY a
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cmx,
               min(mn_b) OVER (ORDER BY a
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cmn
        FROM (
            SELECT {va} AS a, min({vb}) AS mn_b, max({vb}) AS mx_b
            FROM {table}
            WHERE {a} IS NOT NULL AND {b} IS NOT NULL
            GROUP BY 1
        )
    )
) g"""
        )
    used = sorted(
        {(table, c) for table, c, _, _, _ in _od_candidates()}
        | {(table, c) for table, _, _, c, _ in _od_candidates()}
    )
    ctes = ",\n".join(
        f"odst_{tbl}_{c} AS MATERIALIZED (\n"
        f"    SELECT count(DISTINCT {c}) AS ndv FROM {tbl}\n)"
        for tbl, c in used
    )
    return "WITH " + ctes + "\n" + "\nUNION ALL\n".join(branches)


LOCAL_QUERIES["dq_od_discover"] = QuerySpec(
    q_dq_od_discover, _od_discover_oracle()
)

# dq_profile_report is the family's driver-graded query: the discovery
# math (NDV grid, range/NDV IND pruning, pigeonhole) is graded through
# the composed artifact. Registered LAST: the report's oracle composes
# every discoverer's oracle, OD included.
QUERIES: dict[str, QuerySpec] = {
    "dq_profile_report": QuerySpec(q_dq_profile_report, _profile_report_oracle()),
}


# --- correlation (soft-FD) discovery ----------------------------------------------

# Contingency cap: pairs where either side's domain exceeds this are
# classified from statistics alone (CORDS' discipline — correlation
# detection pays |domain_a × domain_b| cell work, so high-cardinality
# columns are skipped, exactly as a CBO skips them when picking
# multi-column statistics to keep).
_CORR_NDV_CAP = 64
# Verdict grid (ppm of Cramér's V): >= 0.95 behaves like a functional
# dependency for estimation purposes; >= 0.30 breaks the independence
# assumption enough to matter (CORDS' flag threshold).
_CORR_DETERMINED_PPM = 950_000
_CORR_CORRELATED_PPM = 300_000


def q_dq_corr_discover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRELATION discovery over the declared catalog (CORDS, Ilyas
    et al.): which column pairs violate the optimizer's independence
    assumption, and how hard — the soft end of the dependency spectrum
    the exact discoverers (FD/IND/UCC/OD) cannot grade. Measured as
    Cramér's V over the pair's contingency table, NULL as one category
    (the family's sentinel semantics): V = 0 independent, V = 1 a
    perfect association (an exact FD in both directions reads 1; a
    soft FD reads just under). Verdicts: ``independent`` /
    ``correlated`` (V >= 0.30, CORDS' flag) / ``determined``
    (V >= 0.95 — estimate as if an FD), with ``const`` and
    ``skipped_highcard`` decided from the shared ANALYZE stats alone —
    the contingency is only paid when BOTH domains fit the
    ``_CORR_NDV_CAP`` (the CORDS discipline; the observed-cell count
    rides along, itself a dependency readout: cells << |dom a|·|dom b|
    means co-occurrence structure).

    Exactness across engines: chi-square reduces to
    n·(S - 1) with S = Σ_cells o²/(rowmargin·colmargin) — only
    OBSERVED cells contribute, so S is a sum of identically-rounded
    rationals; both engines fold it SEQUENTIALLY in (a, b) cell order
    (array_sort + aggregate / list ORDER BY + list_reduce), making the
    double bit-identical before the one sqrt and the ppm floor.

    Scale: survivors are measured by the shared pair-cell pass
    (``_pair_cells_frame``, one scan per table for FD, UCC and
    correlation together); cells collapse map-side to <= CAP² rows per
    pair; margins are two windows at cell grain; the fold's
    collect_list is bounded by CAP² = 4096 structs per pair. Row-grain
    work never multiplies by candidate count. Result frames persist
    per (session, dataset)."""
    return _cached_result(
        spark, sf_dir, "corr", lambda: _build_corr_discover(spark, sf_dir)
    )


def _corr_pruned(stats: _TableStats, a: str, b: str) -> tuple[str, int, int] | None:
    """(status, n_cells, cramers_v_ppm) decided from statistics, or None
    when the pair's contingency is measured."""
    if stats.ndv[a] <= 1 or stats.ndv[b] <= 1:
        return "const", -1, 0
    if stats.ndv[a] > _CORR_NDV_CAP or stats.ndv[b] > _CORR_NDV_CAP:
        return "skipped_highcard", -1, -1
    return None


def _build_corr_discover(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = _pair_pass(spark, sf_dir)
    rows = []
    for table, a, b in _ucc_candidates():  # all unordered cataloged pairs
        stats = _table_stats(spark, sf_dir, table)
        ndv_a, ndv_b = stats.ndv[a], stats.ndv[b]
        verdict = _corr_pruned(stats, a, b)
        if verdict is None:
            c = cells[(table, a, b)]
            v_ppm = _ppm(math.sqrt(max(c.s - 1.0, 0.0) / (min(ndv_a, ndv_b) - 1)))
            if v_ppm >= _CORR_DETERMINED_PPM:
                status = "determined"
            elif v_ppm >= _CORR_CORRELATED_PPM:
                status = "correlated"
            else:
                status = "independent"
            verdict = (status, c.n_cells, v_ppm)
        rows.append((f"{table}.({a},{b})", ndv_a, ndv_b, *verdict))
    return local_frame(
        spark,
        rows,
        schema=(
            "corr string, ndv_a bigint, ndv_b bigint, status string, "
            "n_cells bigint, cramers_v_ppm bigint"
        ),
    )


def _corr_discover_oracle() -> str:
    branches = []
    for table, a, b in _ucc_candidates():
        corr = f"{table}.({a},{b})"
        vppm = (
            "CAST(floor(sqrt(greatest(g.S - 1, 0) / "
            f"(least(s.ndv_{a}, s.ndv_{b}) - 1)) * 1000000 + 0.5) AS BIGINT)"
        )
        branches.append(
            f"""SELECT '{corr}' AS corr, s.ndv_{a} AS ndv_a, s.ndv_{b} AS ndv_b,
       CASE WHEN s.ndv_{a} <= 1 OR s.ndv_{b} <= 1 THEN 'const'
            WHEN s.ndv_{a} > {_CORR_NDV_CAP} OR s.ndv_{b} > {_CORR_NDV_CAP}
                THEN 'skipped_highcard'
            WHEN {vppm} >= {_CORR_DETERMINED_PPM} THEN 'determined'
            WHEN {vppm} >= {_CORR_CORRELATED_PPM} THEN 'correlated'
            ELSE 'independent' END AS status,
       CASE WHEN s.ndv_{a} <= 1 OR s.ndv_{b} <= 1
              OR s.ndv_{a} > {_CORR_NDV_CAP} OR s.ndv_{b} > {_CORR_NDV_CAP}
                THEN CAST(-1 AS BIGINT)
            ELSE g.n_cells END AS n_cells,
       CASE WHEN s.ndv_{a} <= 1 OR s.ndv_{b} <= 1 THEN CAST(0 AS BIGINT)
            WHEN s.ndv_{a} > {_CORR_NDV_CAP} OR s.ndv_{b} > {_CORR_NDV_CAP}
                THEN CAST(-1 AS BIGINT)
            ELSE {vppm} END AS cramers_v_ppm
FROM stats_{table} s CROSS JOIN (
    SELECT coalesce(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(term ORDER BY a, b)), (acc, x) -> acc + x), 0.0) AS S,
           CAST(count(*) AS BIGINT) AS n_cells
    FROM (
        SELECT a, b, CAST(o * o AS DOUBLE) / (r_i * c_j) AS term
        FROM (
            SELECT a, b, o,
                   sum(o) OVER (PARTITION BY a) AS r_i,
                   sum(o) OVER (PARTITION BY b) AS c_j
            FROM (
                SELECT {_coalesced_sql(a)} AS a, {_coalesced_sql(b)} AS b,
                       CAST(count(*) AS BIGINT) AS o
                FROM {table} GROUP BY 1, 2
            )
        )
    )
) g"""
        )
    return _stats_ctes() + "\n" + "\nUNION ALL\n".join(branches)


LOCAL_QUERIES["dq_corr_discover"] = QuerySpec(
    q_dq_corr_discover, _corr_discover_oracle()
)
