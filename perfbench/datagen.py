"""Seeded synthetic inputs for the benchmark workloads.

Two input families, both a pure function of ``(seed, scale)``:

- ``write_tables``: the ten parquet tables the query registry reads
  (``region nation customer supplier part orders lineitem events
  documents embeddings``), with the column names, physical types and
  value ranges of the datasets the registry's queries are written for.
- ``write_day_listings`` / ``write_historical``: the raw CSV and JSON
  inputs of the reference DAG (``plans.runner.run_all``), in the shapes
  of ``sources.synthetic`` but drawn from a seeded id space, so each
  ``as_of`` day gets its own distinct listings.

Row counts depend only on the scale, never on the seed, so every seed
does the same amount of work.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "red", "blue", "hot", "cold", "new", "old", "big"]
_PART_NOUN = ["ring", "widget", "plate", "gear", "rod", "bolt", "anvil", "pipe"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_EMB_DIM = 64
_EMB_LABELS = 10


def table_sizes(scale: float) -> dict[str, int]:
    """Rows per table at ``scale`` (1.0 = TPC-H sf1 proportions)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * scale),
        "supplier": max(int(10_000 * scale), 10),
        "part": int(200_000 * scale),
        "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale),
        "events": int(1_000_000 * scale),
        "documents": max(int(50_000 * scale), 500),
        "embeddings": max(int(20_000 * scale), 500),
    }


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.002:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.05:  # near duplicate: one word changed, tagged
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[j] for j in rng.integers(0, len(_LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    centers = rng.normal(0.0, 1.0, (_EMB_LABELS, _EMB_DIM))
    labels = rng.integers(0, _EMB_LABELS, n)
    vecs = centers[labels] + rng.normal(0.0, 1.2, (n, _EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten query tables under ``out_dir``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = table_sizes(scale)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array([_SEGMENTS[j] for j in rng.integers(0, 5, nc)]),
    })
    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    npart = n["part"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array([
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ]),
        "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, npart)]),
        "p_type": pa.array([_PART_TYPES[j] for j in rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)),
    })
    no = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[j] for j in rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no)),
        "o_orderdate": _days(rng, "1995-01-01", 2404, no),
        "o_orderpriority": pa.array([_PRIORITIES[j] for j in rng.integers(0, 5, no)]),
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    flags = rng.integers(0, 6, nl)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[j // 2] for j in flags]),
        "l_linestatus": pa.array([("F", "O")[j % 2] for j in flags]),
        "l_shipdate": _days(rng, "1995-01-02", 2498, nl),
    })
    ne = n["events"]
    users = max(ne * 3 // 200, 5)
    gaps = rng.exponential(30 * 86_400 * 1e6 / ne, ne).astype(np.int64)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, ne).astype(np.int64)),
        "event_type": pa.array([_EVENT_TYPES[j] for j in rng.integers(0, 5, ne)]),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, ne)]),
    })
    _write(out_dir, "documents", _documents(rng, n["documents"]))
    _write(out_dir, "embeddings", _embeddings(rng, n["embeddings"]))
    return n


# --- raw inputs of the reference DAG -------------------------------------------


class DayInput(NamedTuple):
    propnex_json: str
    srx_json: str
    expected_rows: int  # scraped rows a correct merge keeps for this day
    input_bytes: int


def write_historical(out_dir: str, seed: int, n_rows: int) -> tuple[str, int, int]:
    """The multi-vintage historical CSV set of ``sources.synthetic`` with
    each file's rows in a seeded order. Returns (dir, rows, bytes)."""
    from hdb_resale_price_data_pipeline_spark.sources.synthetic import (
        write_historical_csvs,
    )

    d = write_historical_csvs(out_dir, n_rows)
    rng = random.Random(seed)
    rows = size = 0
    for name in sorted(os.listdir(d)):
        path = os.path.join(d, name)
        with open(path) as f:
            header, *body = f.read().splitlines()
        rng.shuffle(body)
        with open(path, "w") as f:
            f.write("\n".join([header, *body]) + "\n")
        rows += len(body)
        size += os.path.getsize(path)
    return d, rows, size


def _listing_id(url: str) -> int:
    return int(url.rsplit("/", 1)[1])


def write_listing_days(out_dir: str, seed: int, per_day: int, days: int) -> list[DayInput]:
    """``days`` distinct daily propnex + srx listing files of ``per_day``
    rows each. A pool of ``per_day * days`` listings comes from
    ``sources.synthetic.write_listing_jsons``; the seed assigns pool
    slices to days and orders the rows within each file.

    The pool writer makes srx row ``i`` a (location, price) twin of
    propnex row ``i`` when its url id is below the pool size, and gives
    every other row a distinct key, so a day keeps
    ``len(propnex) + len(srx) - twins`` rows after the merge dedup."""
    from hdb_resale_price_data_pipeline_spark.sources.synthetic import (
        write_listing_jsons,
    )

    pool_n = per_day * days
    pool_dir = os.path.join(out_dir, "pool")
    p_path, s_path = write_listing_jsons(pool_dir, pool_n)
    with open(p_path) as f:
        propnex = json.load(f)
    with open(s_path) as f:
        srx = json.load(f)
    shutil.rmtree(pool_dir)
    rng = random.Random(seed)
    slices = list(range(days))
    rng.shuffle(slices)
    out = []
    for day, k in enumerate(slices):
        p = propnex[k * per_day : (k + 1) * per_day]
        s = srx[k * per_day : (k + 1) * per_day]
        rng.shuffle(p)
        rng.shuffle(s)
        twins = sum(1 for r in s if _listing_id(r["url"]) < pool_n)
        d = os.path.join(out_dir, f"day{day:02d}")
        os.makedirs(d)
        paths = []
        for name, rows in (("propnex.json", p), ("srx.json", s)):
            path = os.path.join(d, name)
            with open(path, "w") as f:
                json.dump(rows, f)
            paths.append(path)
        out.append(
            DayInput(
                paths[0],
                paths[1],
                len(p) + len(s) - twins,
                sum(os.path.getsize(x) for x in paths),
            )
        )
    return out
