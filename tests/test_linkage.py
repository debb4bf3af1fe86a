"""Entity-resolution / record-linkage operator tests
(operators/linkage.py, streaming/linkage.py).

The correctness suite already value-diffs every ER query against its
DuckDB oracle; these tests pin the OPERATOR contracts the queries rely
on — candidate bounds, pair canonicalization, the Jaro-Winkler kernel's
bit-parity with DuckDB's built-in, and the streaming gate's
exactly-once replay behavior.
"""

from __future__ import annotations

import string

import pytest
from hypothesis import given
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from hdb_resale_price_data_pipeline_spark.operators.linkage import (
    _jaro_winkler,
    blocked_candidates,
    snm_candidates,
)

from conftest import TEST_SF_DIR


def _names(spark):
    return (
        spark.read.parquet(f"{TEST_SF_DIR}/part.parquet")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("nid"))
    )


def test_blocked_candidates_are_canonical_and_unique(spark):
    names = _names(spark)
    pairs = blocked_candidates(
        names,
        "nid",
        "p_name",
        [
            F.split_part(col("p_name"), F.lit(" "), F.lit(1)),
            F.split_part(col("p_name"), F.lit(" "), F.lit(2)),
        ],
    ).collect()  # 448 pairs on the 64-name grid — bounded
    seen = set()
    for r in pairs:
        assert r.id_a < r.id_b, "pair not canonicalized"
        assert (r.id_a, r.id_b) not in seen, "cross-pass duplicate survived"
        seen.add((r.id_a, r.id_b))
    # Two 8-block passes over 64 names: 2 * 8 * C(8,2) = 448.
    assert len(pairs) == 448


def test_snm_candidate_count_is_bounded_by_n_times_window(spark):
    cust = spark.read.parquet(f"{TEST_SF_DIR}/customer.parquet")
    n = cust.count()
    for w in (1, 3):
        cands = snm_candidates(
            cust, "c_custkey", "c_name", F.substring(col("c_name"), 10, 7), window=w
        )
        m = cands.count()
        assert m <= n * w, f"SNM window {w} emitted {m} > {n * w} candidates"
        # no self pairs
        assert cands.filter(col("id_a") == col("id_b")).count() == 0


def test_snm_pairs_are_sort_adjacent_within_block(spark):
    """Every SNM candidate's partners must be within `window` positions
    in the block's (cmp, id) sort order — the defining SNM property."""
    cust = spark.read.parquet(f"{TEST_SF_DIR}/customer.parquet").limit(400)
    cands = snm_candidates(
        cust, "c_custkey", "c_name", F.substring(col("c_name"), 10, 7), window=2
    ).collect()
    rows = sorted(
        (r.c_name, r.c_custkey) for r in cust.select("c_name", "c_custkey").collect()
    )
    by_block: dict[str, list[int]] = {}
    for name, ck in rows:
        by_block.setdefault(name[9:16], []).append(ck)
    pos = {
        ck: (bk, i) for bk, ids in by_block.items() for i, ck in enumerate(ids)
    }
    for r in cands:
        bka, ia = pos[r.id_a]
        bkb, ib = pos[r.id_b]
        assert bka == bkb, "cross-block SNM pair"
        assert 1 <= ib - ia <= 2, f"pair {r.id_a},{r.id_b} not sort-adjacent"


# --- Jaro-Winkler kernel ----------------------------------------------------

_ALPHABET = string.ascii_lowercase[:6] + "#0 "


@given(
    st.text(_ALPHABET, max_size=12),
    st.text(_ALPHABET, max_size=12),
)
def test_jaro_winkler_matches_duckdb_builtin(a, b):
    """Property: the Python kernel is bit-identical to DuckDB's
    jaro_winkler_similarity on arbitrary short strings (the oracle
    depends on exact equality, not approximate closeness)."""
    import duckdb

    want = duckdb.execute(
        "SELECT jaro_winkler_similarity(?, ?)", [a, b]
    ).fetchone()[0]
    assert _jaro_winkler(a, b) == want


def test_jaro_winkler_basic_properties():
    assert _jaro_winkler("martha", "martha") == 1.0
    assert _jaro_winkler("", "abc") == 0.0
    assert _jaro_winkler("abc", "") == 0.0
    # symmetric
    assert _jaro_winkler("martha", "marhta") == _jaro_winkler("marhta", "martha")
    # prefix boost: shared prefix scores at least as high
    assert _jaro_winkler("martha", "marhta") >= _jaro_winkler("amrtha", "amrhta") - 1e-12


# --- streaming gate ---------------------------------------------------------

@pytest.mark.usefixtures("spark")
class TestStreamErGate:
    def _run(self, spark):
        from hdb_resale_price_data_pipeline_spark.queries.er import q_stream_er_gate

        return q_stream_er_gate(spark, TEST_SF_DIR).toPandas()

    def test_replay_is_idempotent(self, spark):
        """A second availableNow run consumes zero new batches and the
        landed verdicts are bit-identical — the batch_id-keyed
        overwrite discipline."""
        first = self._run(spark).sort_values("id").reset_index(drop=True)
        second = self._run(spark).sort_values("id").reset_index(drop=True)
        assert first.equals(second)
        cust_n = spark.read.parquet(f"{TEST_SF_DIR}/customer.parquet").count()
        assert len(first) == cust_n  # one verdict per arriving record

    def test_directory_members_route_known_exact(self, spark):
        out = self._run(spark)
        known = out[out["id"] % 3 == 0]
        assert (known["route"] == "known_exact").all()
        assert (known["best_match_id"] == known["id"]).all()
        others = out[out["id"] % 3 != 0]
        assert set(others["route"]) <= {"merge", "new_entity"}


def test_served_gate_is_bit_identical_to_broadcast_gate(spark, tmp_path):
    """The disk-served directory variant (partition-pruned scan +
    broadcast the BATCH) must land exactly the verdicts of the
    broadcast-directory gate — the layout is an execution choice.

    Uses a SPARSE directory (serials < 300 only) so every route is
    genuinely exercised: arriving serials ≥ 300 share no block with any
    directory entry and MUST come out new_entity — a gate that drops
    unmatched records would fail here, not pass vacuously."""
    import os

    from pyspark.sql import functions as F

    from hdb_resale_price_data_pipeline_spark.queries.er import (
        _CUST_BLOCK_LEN,
        _CUST_BLOCK_START,
        SNM_MAX_LEV,
    )
    from hdb_resale_price_data_pipeline_spark.streaming import table_stream
    from hdb_resale_price_data_pipeline_spark.streaming.linkage import (
        stream_er_gate,
        stream_er_gate_served,
        write_er_directory,
    )

    block = lambda c: F.substring(c, _CUST_BLOCK_START, _CUST_BLOCK_LEN)  # noqa: E731
    directory = spark.read.parquet(f"{TEST_SF_DIR}/customer.parquet").filter(
        (col("c_custkey") % 3 == 0) & (col("c_custkey") < 300)
    )
    dir_path = str(tmp_path / "er_dir")
    write_er_directory(directory, dir_path, block)
    # layout check: one subdirectory per block key (the blocking index)
    parts = [d for d in os.listdir(dir_path) if d.startswith("bk=")]
    assert len(parts) >= 2, "directory not partitioned by block key"

    def run(gate_fn, directory_arg, sub):
        q = gate_fn(
            table_stream(spark, TEST_SF_DIR, "customer"),
            directory_arg,
            block,
            out_dir=str(tmp_path / sub / "out"),
            checkpoint_dir=str(tmp_path / sub / "ckpt"),
            max_lev=SNM_MAX_LEV,
        )
        q.awaitTermination()
        return (
            spark.read.parquet(str(tmp_path / sub / "out"))
            .select("id", "best_match_id", "best_lev", "route")
            .toPandas()
            .sort_values("id")
            .reset_index(drop=True)
        )

    served = run(stream_er_gate_served, dir_path, "served")
    broadcast = run(stream_er_gate, directory, "bcast")
    assert served.equals(broadcast)
    # all three routes genuinely present
    assert set(served["route"]) == {"known_exact", "merge", "new_entity"}
    assert (served[served["id"] >= 300]["route"] == "new_entity").all()


def test_maintained_directory_resolves_cross_batch_entity(spark, tmp_path):
    """r6 verdict item 6: with ``maintain_directory=True`` a new entity
    minted in batch 1 is APPENDED to the served directory, so a variant
    of the same entity arriving in batch 2 routes ``merge`` to the
    batch-1 entity id instead of minting a second entity. Without
    maintenance the same input mints a duplicate per batch."""
    import os

    from pyspark.sql import functions as F

    from hdb_resale_price_data_pipeline_spark.streaming.linkage import (
        stream_er_gate_served,
        write_er_directory,
    )

    block = lambda c: F.substring(c, 10, 7)  # noqa: E731
    schema = "c_custkey bigint, c_name string"
    # seed directory: one entity in an unrelated block
    seed = spark.createDataFrame([(5, "Customer#000000005")], schema)
    dir_path = str(tmp_path / "dir")
    write_er_directory(seed, dir_path, block)

    landing = str(tmp_path / "landing")
    os.makedirs(landing)

    def run_batch(rows, sub, maintain):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
        q = stream_er_gate_served(
            spark.readStream.schema(schema).parquet(landing),
            dir_path,
            block,
            out_dir=str(tmp_path / sub / "out"),
            checkpoint_dir=str(tmp_path / "ckpt"),  # SHARED: batch 2 only
            max_lev=1,
            maintain_directory=maintain,
        )
        q.awaitTermination()
        return {
            r["id"]: (r["route"], r["best_match_id"])
            for r in spark.read.parquet(str(tmp_path / sub / "out")).collect()
        }

    # batch 1: brand-new entity 1001 — no block match anywhere
    v1 = run_batch([(1001, "Customer#000990001")], "b1", True)
    assert v1[1001] == ("new_entity", None)
    # batch 2: a 1-edit variant of the SAME entity
    v2 = run_batch([(2002, "Customer#000990002")], "b2", True)
    assert v2[2002] == ("merge", 1001), "variant must resolve to the minted id"

    # counterfactual: an unmaintained directory mints a duplicate
    v3 = run_batch([(3003, "Customer#000990003")], "b3", False)
    # (still merges — the directory already holds 1001 from batch 1;
    # the real counterfactual is a FRESH unmaintained gate)
    import shutil

    shutil.rmtree(str(tmp_path / "ckpt"))
    fresh_dir = str(tmp_path / "dir2")
    write_er_directory(seed, fresh_dir, block)
    q = stream_er_gate_served(
        spark.readStream.schema(schema).parquet(landing),
        fresh_dir,
        block,
        out_dir=str(tmp_path / "b4" / "out"),
        checkpoint_dir=str(tmp_path / "ckpt2"),
        max_lev=1,
        maintain_directory=False,
    )
    q.awaitTermination()
    v4 = {
        r["id"]: r["route"]
        for r in spark.read.parquet(str(tmp_path / "b4" / "out")).collect()
    }
    assert v4[1001] == "new_entity" and v4[2002] == "new_entity", (
        "unmaintained gate mints a duplicate entity per batch"
    )
    assert v3[3003] == ("merge", 1001)


def test_empty_block_key_routes_identically_across_layouts(spark, tmp_path):
    """r6 ADVICE: a name shorter than the block offset yields an empty
    block key, which hive-partitioning round-trips as NULL — without the
    EMPTY_BLOCK_KEY sentinel the served gate would route such records
    differently from the broadcast gate. Both layouts must stay
    bit-identical."""
    from pyspark.sql import functions as F

    from hdb_resale_price_data_pipeline_spark.streaming.linkage import (
        stream_er_gate,
        stream_er_gate_served,
        write_er_directory,
    )

    block = lambda c: F.substring(c, 10, 7)  # noqa: E731
    schema = "c_custkey bigint, c_name string"
    directory = spark.createDataFrame(
        [(1, "Ann"), (7, "Customer#000000007")], schema
    )
    dir_path = str(tmp_path / "dir")
    write_er_directory(directory, dir_path, block)

    landing = str(tmp_path / "landing")
    spark.createDataFrame(
        [(11, "Ann"), (12, "Axn"), (13, "Customer#000000007")], schema
    ).coalesce(1).write.parquet(landing)

    def run(gate_fn, directory_arg, sub):
        q = gate_fn(
            spark.readStream.schema(schema).parquet(landing),
            directory_arg,
            block,
            out_dir=str(tmp_path / sub / "out"),
            checkpoint_dir=str(tmp_path / sub / "ckpt"),
            max_lev=1,
        )
        q.awaitTermination()
        return (
            spark.read.parquet(str(tmp_path / sub / "out"))
            .select("id", "best_match_id", "best_lev", "route")
            .toPandas()
            .sort_values("id")
            .reset_index(drop=True)
        )

    served = run(stream_er_gate_served, dir_path, "served")
    broadcast = run(stream_er_gate, directory, "bcast")
    assert served.equals(broadcast)
    by_id = {r.id: r.route for r in served.itertuples()}
    assert by_id[11] == "known_exact", "short name must match its directory twin"
    assert by_id[12] == "merge", "1-edit variant of a short name must merge"
    assert by_id[13] == "known_exact"


def test_maintained_directory_replay_converges(spark, tmp_path):
    """r7 review finding: a checkpoint replay of a maintained batch must
    NOT read its own previously-published minted entities (it would
    match records against themselves and land flipped verdicts). The
    gate prunes its own batch-prefixed files before reading, so the
    replay reproduces the clean run bit-for-bit."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from hdb_resale_price_data_pipeline_spark.streaming.linkage import (
        stream_er_gate_served,
        write_er_directory,
    )

    block = lambda c: F.substring(c, 10, 7)  # noqa: E731
    schema = "c_custkey bigint, c_name string"
    seed = spark.createDataFrame([(5, "Customer#000000005")], schema)
    dir_path = str(tmp_path / "dir")
    write_er_directory(seed, dir_path, block)
    landing = str(tmp_path / "landing")
    spark.createDataFrame([(1001, "Customer#000990001")], schema).coalesce(
        1
    ).write.parquet(landing)

    def run(sub, ckpt):
        q = stream_er_gate_served(
            spark.readStream.schema(schema).parquet(landing),
            dir_path,
            block,
            out_dir=str(tmp_path / sub / "out"),
            checkpoint_dir=str(tmp_path / ckpt),
            max_lev=1,
            maintain_directory=True,
        )
        q.awaitTermination()
        return {
            r["id"]: (r["route"], r["best_match_id"])
            for r in spark.read.parquet(str(tmp_path / sub / "out")).collect()
        }

    first = run("r1", "ckpt1")
    assert first[1001] == ("new_entity", None)
    # simulate a replay of the same batch_id: wipe the checkpoint so the
    # stream re-delivers the file as batch 0 — the directory already
    # holds the crashed attempt's published entity
    shutil.rmtree(str(tmp_path / "ckpt1"))
    second = run("r2", "ckpt2")
    assert second == first, "replay must not read its own minted entities"
    # and the directory converged to exactly one minted entry for 1001
    minted = [
        r["mid"]
        for r in spark.read.schema("mid bigint, mname string").parquet(
            dir_path
        ).collect()
        if r["mid"] == 1001
    ]
    assert minted == [1001], f"directory holds {len(minted)} copies of 1001"
