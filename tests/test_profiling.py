"""Catalog-driven profiling triad (queries/profiling.py): plan-shape
gates on the BUILD plans (the registry snapshots see only the cached
artifact boundary), the r8 ADVICE NULL-soundness fixes, and the
result/statistics cache discipline."""

from __future__ import annotations

import os
import shutil

import pytest

import hdb_resale_price_data_pipeline_spark.queries.profiling as P

from conftest import SMOKE_SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --- build-plan shape gates -------------------------------------------------------
# The graded snapshots for the dq queries show the persisted-artifact
# boundary (in_memory_scan), so these tests pin the BUILD plans the
# snapshot gate no longer sees.


@pytest.mark.core
def test_ind_survivors_share_one_scan_per_table(spark):
    """All surviving IND candidates are decided by one value pass that
    scans each table holding a surviving child or parent column once,
    and joins nothing per candidate: no anti-join, whose pushdown below
    a union of child columns copies the whole parent union into every
    child branch."""
    P.clear_profile_caches()
    survivors, tables = [], set()
    for _, ct, cc, pt, pc in P._ind_candidates():
        cmn, cmx, cndv = P._table_stats(spark, SMOKE_SF_DIR, ct).ind_stats[cc]
        pmn, pmx, pndv = P._table_stats(spark, SMOKE_SF_DIR, pt).ind_stats[pc]
        if (
            not (
                cmn is not None
                and pmn is not None
                and (cmn < pmn or cmx > pmx)
            )
            and cndv <= pndv
        ):
            survivors.append((ct, cc, pt, pc))
            tables |= {ct, pt}
    assert len(survivors) > len(tables)  # gate must not be vacuous
    found = P._ind_survivors(spark, SMOKE_SF_DIR)
    assert [tuple(c[1:]) for c in found] == survivors
    plan = _plan(P._ind_violations_frame(spark, SMOKE_SF_DIR, found))
    assert plan.count("Scan parquet") == len(tables), (
        f"{plan.count('Scan parquet')} scans for {len(survivors)} survivors "
        f"over {len(tables)} tables"
    )
    assert "LeftAnti" not in plan


@pytest.mark.core
def test_fd_survivors_share_one_scan_per_table(spark):
    """FD, UCC and correlation survivors share one pair-cell pass: its
    plan scans each table with any survivor once, never once per
    candidate or per discoverer. The table set is a superset of the FD
    survivor tables, so the FD scans stay fused."""
    P.clear_profile_caches()
    fd_tables, tables = set(), set()
    for table, x, y in P._ucc_candidates():
        s = P._table_stats(spark, SMOKE_SF_DIR, table)
        nx, ny, n = s.ndv[x], s.ndv[y], s.rowcnt
        fd = any(
            d != n and p != 1 and d >= p for d, p in ((nx, ny), (ny, nx))
        )
        ucc = nx != n and ny != n and nx * ny >= n
        corr = 1 < nx <= P._CORR_NDV_CAP and 1 < ny <= P._CORR_NDV_CAP
        if fd:
            fd_tables.add(table)
        if fd or ucc or corr:
            tables.add(table)
    assert fd_tables  # the gate below must not be vacuous
    survivors = P._pair_survivors(spark, SMOKE_SF_DIR)
    assert {table for table, *_ in survivors} == tables
    plan = _plan(P._pair_cells_frame(spark, SMOKE_SF_DIR, survivors))
    assert plan.count("Scan parquet") == len(tables), (
        f"expected one scan per survivor table ({sorted(tables)})"
    )


def test_pair_pass_built_once_for_fd_ucc_corr(spark, monkeypatch):
    """FD, UCC and correlation discovery read one pair-cell pass: a
    cold build of all three runs its builder exactly once."""
    calls = []
    build = P._build_pair_pass

    def counting(spark, sf_dir):
        calls.append(sf_dir)
        return build(spark, sf_dir)

    monkeypatch.setattr(P, "_build_pair_pass", counting)
    P.clear_profile_caches()
    for q in (P.q_dq_fd_discover, P.q_dq_ucc_discover, P.q_dq_corr_discover):
        q(spark, SMOKE_SF_DIR).collect()
    assert calls == [SMOKE_SF_DIR]


def test_candidates_are_generated_from_catalog():
    """Every candidate derives from the declared catalog: FD/UCC walk
    each table's column pairs; IND pairs integral-class columns across
    tables. No hand-listed candidate survives a catalog edit."""
    n_fd = sum(len(P._cols(t)) * (len(P._cols(t)) - 1) for t in P._CATALOG)
    assert len(P._fd_candidates()) == n_fd
    n_ucc = sum(
        len(P._cols(t)) * (len(P._cols(t)) - 1) // 2 for t in P._CATALOG
    )
    assert len(P._ucc_candidates()) == n_ucc
    n_ind = 0
    for klass in P._IND_CLASSES:
        cols = [(t, c) for t in P._CATALOG for c in P._class_cols(t, klass)]
        n_ind += sum(1 for ct, _ in cols for pt, _ in cols if ct != pt)
    assert len(P._ind_candidates()) == n_ind
    # candidates never pair across type classes
    for klass, ct, cc, pt, pc in P._ind_candidates():
        assert dict(P._CATALOG[ct])[cc] == dict(P._CATALOG[pt])[pc] == klass
    # and the oracle enumerates the identical candidate set
    for _, ct, cc, pt, pc in P._ind_candidates():
        assert f"{ct}.{cc} <= {pt}.{pc}" in P._ind_discover_oracle()


# --- result / statistics cache discipline -----------------------------------------


def test_result_frames_cached_per_session_dataset(spark):
    P.clear_profile_caches()
    a = P.q_dq_ucc_discover(spark, SMOKE_SF_DIR)
    b = P.q_dq_ucc_discover(spark, SMOKE_SF_DIR)
    assert a is b  # the report reads the materialized artifact
    P.clear_profile_caches()
    c = P.q_dq_ucc_discover(spark, SMOKE_SF_DIR)
    assert c is not a


def test_stats_cache_fingerprint_invalidates(spark, tmp_path):
    """Regenerating a dataset in-place within one session must
    re-profile (r8 ADVICE: a stale stats cache reads as a cross-engine
    mismatch, because the DuckDB oracle re-reads the files)."""
    sf_dir = str(tmp_path)
    for table in P._CATALOG:
        shutil.copy(
            f"{SMOKE_SF_DIR}/{table}.parquet", f"{sf_dir}/{table}.parquet"
        )
    P.clear_profile_caches()
    before = P._table_stats(spark, sf_dir, "part")
    assert P._table_stats(spark, sf_dir, "part") is before  # cached
    pairs = P._pair_pass(spark, sf_dir)
    assert P._pair_pass(spark, sf_dir) is pairs  # cached
    path = f"{sf_dir}/part.parquet"
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert P._table_stats(spark, sf_dir, "part") is not before
    assert P._pair_pass(spark, sf_dir) is not pairs


# --- ADVICE NULL-soundness fixes (exercised on NULL-bearing tmp tables) -----------


@pytest.fixture()
def null_catalog(spark, tmp_path, monkeypatch):
    """Two tmp tables exercising the NULL edges the testdata never
    produces: t1(a,b) where a={1,NULL} (a NULL-bearing near-key) and
    p(pk) all-NULL (a degenerate IND parent)."""
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(1, 1), (None, 2), (1, 2)], schema="a int, b int"
    ).coalesce(1).write.parquet(f"{sf_dir}/t1.parquet")
    spark.createDataFrame(
        [(None,), (None,)], schema="pk int"
    ).coalesce(1).write.parquet(f"{sf_dir}/p.parquet")
    catalog = {
        "t1": (("a", "int"), ("b", "int")),
        "p": (("pk", "int"),),
    }
    monkeypatch.setattr(P, "_CATALOG", catalog)
    P.clear_profile_caches()
    yield sf_dir
    P.clear_profile_caches()


def _duck_for(sf_dir):
    import duckdb

    con = duckdb.connect()
    for table in ("t1", "p"):  # Spark writes directory-style parquet
        con.execute(
            f"CREATE VIEW {table} AS "
            f"SELECT * FROM '{sf_dir}/{table}.parquet/*.parquet'"
        )
    return con


def test_ucc_pigeonhole_sound_for_nulls(spark, null_catalog):
    """r8 ADVICE (low): with NULL-free NDVs, t1.(a,b) — a={1,NULL},
    b={1,2}, 3 distinct rows — was pruned as 'cannot be unique'
    (1·2 < 3) even though the pair IS unique. Sentinel NDVs size the
    domain as 2·2 ≥ 3, so the pair reaches the exact test and reads
    ``holds``; the regenerated oracle agrees row-for-row."""
    rows = {
        r["ucc"]: r
        for r in P.q_dq_ucc_discover(spark, null_catalog).collect()
    }
    assert rows["t1.(a,b)"]["status"] == "holds"
    got = sorted(
        tuple(r) for r in P._build_ucc_discover(spark, null_catalog).collect()
    )
    want = sorted(
        tuple(r) for r in _duck_for(null_catalog)
        .execute(P._ucc_discover_oracle())
        .fetchall()
    )
    assert got == want


@pytest.mark.core
def test_ind_null_parent_guard(spark, null_catalog):
    """r8 ADVICE (low): an all-NULL parent used to raise TypeError in
    the range prune (None comparison) and ZeroDivisionError in the
    coverage ratio. Now: never range-pruned (mirroring SQL NULL
    comparison semantics), coverage sentinel -1 when the parent has no
    non-null values, and the NDV prune soundly refutes a valued child
    against an empty parent domain (1 > 0 → ``pruned_ndv``) before any
    row work; an all-NULL child is vacuously contained (``holds``).
    Cross-engine exact match."""
    rows = {
        r["ind"]: r for r in P.q_dq_ind_discover(spark, null_catalog).collect()
    }
    r = rows["t1.a <= p.pk"]
    assert (r["status"], r["coverage_ppm"], r["n_violating"]) == (
        "pruned_ndv",
        -1,
        -1,
    )
    assert rows["p.pk <= t1.a"]["status"] == "holds"  # vacuous
    got = sorted(
        tuple(r) for r in P._build_ind_discover(spark, null_catalog).collect()
    )
    want = sorted(
        tuple(r) for r in _duck_for(null_catalog)
        .execute(P._ind_discover_oracle())
        .fetchall()
    )
    assert got == want


def test_fd_nulls_one_value_cross_engine(spark, null_catalog):
    """FD semantics treat NULL as one determinant/dependent value on
    both engines (sentinel coalesce) — full FD discovery over the
    NULL-bearing catalog matches the regenerated oracle exactly."""
    got = sorted(
        tuple(r) for r in P._build_fd_discover(spark, null_catalog).collect()
    )
    want = sorted(
        tuple(r) for r in _duck_for(null_catalog)
        .execute(P._fd_discover_oracle())
        .fetchall()
    )
    assert got == want


def test_fd_transfer_one_scan_and_verdicts(spark, duck):
    """Holdout transfer validation: the whole check (both splits, all
    candidates) costs ONE scan of the table, and the three verdicts
    behave as designed on the oracle-SF data — in particular the 1/256
    train split mints FDs the holdout refutes (``spurious_on_train``),
    which is the failure mode the check exists to catch, and every key-
    determined pair generalizes."""
    P.clear_profile_caches()
    df = P.q_dq_fd_transfer(spark, "/root/testdata/sf0.01")
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1, "transfer must share one scan"
    rows = {r["fd"]: r for r in df.collect()}
    verdicts = {r["verdict"] for r in rows.values()}
    assert "spurious_on_train" in verdicts
    for dep in ("o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate"):
        assert rows[f"orders.o_orderkey->{dep}"]["verdict"] == "generalizes"
    # spurious == holds on train (ppm 0) AND violated on holdout (ppm > 0)
    for r in rows.values():
        if r["verdict"] == "spurious_on_train":
            assert r["train_ppm"] == 0 and r["holdout_ppm"] > 0


# --- order-dependency discovery ---------------------------------------------------


def test_od_candidates_generated_from_catalog():
    """OD candidates = every ordered pair of orderable-class columns
    within each cataloged table; the oracle enumerates the identical
    set."""
    total = 0
    for table in P._CATALOG:
        k = sum(1 for _, kl in P._CATALOG[table] if kl in P._OD_CLASSES)
        total += k * (k - 1)
    assert len(P._od_candidates()) == total
    kinds = {t: dict(cols) for t, cols in P._CATALOG.items()}
    oracle = P._od_discover_oracle()
    for table, a, ka, b, kb in P._od_candidates():
        assert kinds[table][a] == ka and kinds[table][b] == kb
        assert ka in P._OD_CLASSES and kb in P._OD_CLASSES
        assert f"{table}.{a}~>{b}" in oracle


@pytest.mark.core
def test_od_determinant_fusion_one_scan_and_window_per_table(spark):
    """r10 fusion: all OD candidates sharing a determinant are decided
    in ONE pass — one column-pruned scan per table (never per
    class-pair branch, never per candidate), and one Window operator
    per table (every dependent's running max/min evaluates over the
    same WindowSpec, so the per-determinant group sort is paid once,
    not once per dependent)."""
    P.clear_profile_caches()
    tables, dets, survivors = set(), set(), 0
    for table, a, ka, b, kb in P._od_candidates():
        s = P._table_stats(spark, SMOKE_SF_DIR, table)
        if s.ind_stats[a][2] > 1 and s.ind_stats[b][2] > 1:
            tables.add(table)
            dets.add((table, a))
            survivors += 1
    assert survivors > len(dets) > len(tables)  # gates must not be vacuous
    plan = _plan(
        P._od_counts_frame(spark, SMOKE_SF_DIR, P._od_survivors(spark, SMOKE_SF_DIR))
    )
    assert plan.count("Scan parquet") == len(tables), (
        f"{plan.count('Scan parquet')} scans for {survivors} survivors "
        f"over {len(tables)} tables"
    )
    n_windows = plan.count("Window [")
    assert n_windows == len(tables), (
        f"{n_windows} Window operators for {len(dets)} determinants "
        f"over {len(tables)} tables — the determinant sorts must fuse"
    )


@pytest.fixture()
def od_catalog(spark, tmp_path, monkeypatch):
    """One tmp table staging every OD verdict the testdata cannot:
    ascending/descending/shuffled dependents, a tie in the determinant
    (non-strict semantics), NULL rows (excluded), a constant column
    (both stats prunes), and a disjoint-NULL pair (the vacuous
    zero-group path)."""
    sf_dir = str(tmp_path)
    rows = [
        (1, 10, 30, 2, "n1", 7, 1, None),
        (2, 20, 20, 3, "n2", 7, 2, None),
        (3, 20, 10, 1, "n3", 7, None, 5),
        (4, None, 5, 2, "n4", 7, None, 6),
    ]
    schema = (
        "key int, inc int, dec int, shuf int, nm string, one int, "
        "va int, vb int"
    )
    spark.createDataFrame(rows, schema=schema).coalesce(1).write.parquet(
        f"{sf_dir}/tod.parquet"
    )
    catalog = {
        "tod": (
            ("key", "int"),
            ("inc", "int"),
            ("dec", "int"),
            ("shuf", "int"),
            ("nm", "str"),
            ("one", "int"),
            ("va", "int"),
            ("vb", "int"),
        ),
    }
    monkeypatch.setattr(P, "_CATALOG", catalog)
    P.clear_profile_caches()
    yield sf_dir
    P.clear_profile_caches()


@pytest.mark.core
def test_od_statuses_and_cross_engine(spark, od_catalog):
    """Every status is reachable and cross-engine exact: non-strict
    asc/desc verdicts honor determinant ties, NULL rows are excluded
    on both engines, stats prunes (trivial/const) fire from NDVs
    alone, and a pair whose columns are never non-NULL together emits
    the vacuous holds_both row with zero groups."""
    rows = {
        r["od"]: r for r in P.q_dq_od_discover(spark, od_catalog).collect()
    }
    assert rows["tod.key~>inc"]["status"] == "holds_asc"  # tie at key 2/3
    assert rows["tod.key~>dec"]["status"] == "holds_desc"
    assert rows["tod.key~>nm"]["status"] == "holds_asc"
    r = rows["tod.key~>shuf"]
    assert (
        r["status"],
        r["asc_viol_groups"],
        r["desc_viol_groups"],
        r["n_groups"],
        r["disorder_ppm"],
    ) == ("violated", 2, 2, 4, 500000)
    assert rows["tod.one~>key"]["status"] == "trivial_holds"
    assert rows["tod.key~>one"]["status"] == "const_holds"
    v = rows["tod.va~>vb"]
    assert (v["status"], v["n_groups"], v["disorder_ppm"]) == (
        "holds_both",
        0,
        0,
    )
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW tod AS SELECT * FROM '{od_catalog}/tod.parquet/*.parquet'"
    )
    got = sorted(
        tuple(r) for r in P._build_od_discover(spark, od_catalog).collect()
    )
    want = sorted(
        tuple(r) for r in con.execute(P._od_discover_oracle()).fetchall()
    )
    assert got == want


# --- correlation (soft-FD) discovery ----------------------------------------------


@pytest.fixture()
def corr_catalog(spark, tmp_path, monkeypatch):
    """One tmp table staging the statuses the testdata cannot: a
    constant column (const prune with its zero-variation V=0), a
    bijective pair (V=1 determined), an exactly independent pair
    (uniform 2x2 product distribution, V=0), and a NULL-bearing column
    (NULL is one category on both engines)."""
    sf_dir = str(tmp_path)
    rows = []
    # 4 rows per (x, y) cell of a uniform 2x2 grid -> x,y independent;
    # b = bijection of x; c constant; nb NULL for half the rows.
    i = 0
    for x in ("x0", "x1"):
        for y in ("y0", "y1"):
            for _ in range(4):
                rows.append((x, y, f"b_{x}", "k", x if i % 2 else None))
                i += 1
    spark.createDataFrame(
        rows, schema="x string, y string, b string, c string, nb string"
    ).coalesce(1).write.parquet(f"{sf_dir}/tc.parquet")
    catalog = {
        "tc": (
            ("x", "str"),
            ("y", "str"),
            ("b", "str"),
            ("c", "str"),
            ("nb", "str"),
        ),
    }
    monkeypatch.setattr(P, "_CATALOG", catalog)
    P.clear_profile_caches()
    yield sf_dir
    P.clear_profile_caches()


def test_corr_statuses_and_cross_engine(spark, corr_catalog):
    rows = {
        r["corr"]: r
        for r in P.q_dq_corr_discover(spark, corr_catalog).collect()
    }
    assert rows["tc.(x,y)"]["status"] == "independent"
    assert rows["tc.(x,y)"]["cramers_v_ppm"] == 0
    r = rows["tc.(x,b)"]
    assert (r["status"], r["cramers_v_ppm"], r["n_cells"]) == (
        "determined",
        1000000,
        2,
    )
    assert rows["tc.(x,c)"]["status"] == "const"
    assert rows["tc.(y,nb)"]["status"] is not None  # NULL category measured
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW tc AS "
        f"SELECT * FROM '{corr_catalog}/tc.parquet/*.parquet'"
    )
    got = sorted(
        tuple(r) for r in P._build_corr_discover(spark, corr_catalog).collect()
    )
    want = sorted(
        tuple(r) for r in con.execute(P._corr_discover_oracle()).fetchall()
    )
    assert got == want
