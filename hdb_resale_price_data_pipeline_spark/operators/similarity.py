"""Similarity search over embedding columns (SURVEY.md §7 phase 4).

Brute-force cosine top-k is the correctness baseline; the scale path is
LSH bucketing (random-hyperplane signs) so candidate generation is a
bucket join instead of an all-pairs scan. Both are pure JVM expressions
(higher-order array functions) — no Python boundary.

Cross-engine determinism: dot products are left-folds in index order
with a double accumulator in BOTH engines (Spark ``aggregate`` over
``sequence``, DuckDB ``list_reduce`` over an index comprehension), so
the floating-point result is bit-identical and the DuckDB oracle's
value hash matches exactly. Hyperplanes are deterministic integer
lattices ``p(i, j) = ((i*31 + j*17) % 13) - 6`` — public, seedless,
identical in SQL on both sides.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .index_cache import frame_artifact


def _to_double(col_sql: str) -> tuple[str, str]:
    spark = f"transform({col_sql}, x -> cast(x AS double))"
    duck = f"CAST({col_sql} AS DOUBLE[])"
    return spark, duck


def dot_product(a: str, b: str, dim: int | None = None) -> tuple[str, str]:
    """Σ a[i]·b[i] with LEFT-TO-RIGHT addition (1-based index order).

    With ``dim`` known, the Spark side expands to an explicit arithmetic
    chain — ``e1·f1 + e2·f2 + …`` — which whole-stage-codegens (the
    higher-order ``aggregate``/``zip_with`` path is interpreted, ~100×
    slower per row). A left-associative ``+`` chain performs the exact
    same float additions as the fold, so bit-parity with the sequential
    DuckDB fold is preserved.
    """
    sa, da = _to_double(a)
    sb, db = _to_double(b)
    if dim is not None:
        terms = [
            f"cast(element_at({a}, {i}) AS double) * cast(element_at({b}, {i}) AS double)"
            for i in range(1, dim + 1)
        ]
        spark = "(" + " + ".join(terms) + ")"
    else:
        spark = (
            f"aggregate(zip_with({sa}, {sb}, (x, y) -> x * y), "
            f"cast(0.0 AS double), (acc, x) -> acc + x)"
        )
    # dim also TRUNCATES: both sides fold exactly the first ``dim``
    # elements (Matryoshka-prefix semantics); with dim == len this is
    # the full dot product, as every index-complete caller uses it.
    duck_hi = str(dim) if dim is not None else f"len({da})"
    duck = (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"[({da})[i] * ({db})[i] for i in range(1, {duck_hi} + 1)]), "
        f"(acc, x) -> acc + x)"
    )
    return spark, duck


def norm(a: str, dim: int | None = None) -> tuple[str, str]:
    s, d = dot_product(a, a, dim)
    return f"sqrt({s})", f"sqrt({d})"


def cosine(a: str, b: str, decimals: int = 6, dim: int | None = None) -> tuple[str, str]:
    ds, dd = dot_product(a, b, dim)
    nas, nad = norm(a, dim)
    nbs, nbd = norm(b, dim)
    return (
        f"round({ds} / ({nas} * {nbs}), {decimals})",
        f"round({dd} / ({nad} * {nbd}), {decimals})",
    )


def cosine_expr(a: str, b: str, decimals: int = 6, dim: int | None = None) -> Column:
    return F.expr(cosine(a, b, decimals, dim)[0])


def pair_cosine_udf():
    """Arrow-vectorized RAW cosine over two embedding columns — for the
    one plan shape where the dim-expanded arithmetic chain cannot run
    compiled: a projection consumed inside an equi-join.

    WholeStageCodegen cannot split expressions that reference join
    output variables, so a ~3·dim-term cosine chain inside a
    BroadcastHashJoin consume method overflows the JVM 64KB method
    limit (janino failure) and silently drops the whole stage to
    interpreted eval. The numpy path accumulates strictly in dimension
    order (``acc = acc + a[:,j]*b[:,j]``), reproducing the sequential
    fold's IEEE op sequence bit-for-bit, and returns the UNROUNDED
    double — callers apply ``F.round`` JVM-side so HALF_UP semantics
    stay identical to the DuckDB oracle's ``round``.
    """

    @pandas_udf("double")
    def _pair_cosine(a: pd.Series, b: pd.Series) -> pd.Series:
        import numpy as np

        if len(a) == 0:
            return pd.Series([], dtype="float64")
        ma = np.stack(a.to_numpy()).astype(np.float64, copy=False)
        mb = np.stack(b.to_numpy()).astype(np.float64, copy=False)
        dot = ma[:, 0] * mb[:, 0]
        na = ma[:, 0] * ma[:, 0]
        nb = mb[:, 0] * mb[:, 0]
        for j in range(1, ma.shape[1]):
            dot = dot + ma[:, j] * mb[:, j]
            na = na + ma[:, j] * ma[:, j]
            nb = nb + mb[:, j] * mb[:, j]
        return pd.Series(dot / (np.sqrt(na) * np.sqrt(nb)))

    return _pair_cosine


def embedding_dim(df, col_name: str = "embedding") -> int:
    """Read the (fixed) vector dimensionality from one row — a tiny
    planning-time job that unlocks the codegen dot-product path.
    Cached per (session, source files) in operators/index_cache:
    repeated queries in one session (a query suite runs dozens) skip the
    extra job; in-memory frames are never cached."""
    return frame_artifact(
        df,
        "similarity.embedding_dim",
        col_name,
        lambda: int(df.selectExpr(f"size({col_name}) AS d").first().d),
    )


def _plane(i: str, j: int) -> str:
    """Deterministic integer hyperplane component, same text in both
    SQL dialects."""
    return f"((({i}) * 31 + {j} * 17) % 13 - 6)"


def hyperplane_bucket(a: str, n_planes: int = 8, dim: int | None = None) -> tuple[str, str]:
    """LSH bucket id: bit j = sign of ⟨a, plane_j⟩, for j in 0..n-1.

    Spark side expands to explicit codegen arithmetic when ``dim`` is
    known (plane components fold to integer literals), same addition
    order as the DuckDB fold."""
    sa, da = _to_double(a)
    spark_bits = []
    duck_bits = []
    for j in range(n_planes):
        if dim is not None:
            terms = [
                f"cast(element_at({a}, {i}) AS double) * {(i * 31 + j * 17) % 13 - 6}"
                for i in range(1, dim + 1)
            ]
            sdot = "(" + " + ".join(terms) + ")"
        else:
            sdot = (
                f"aggregate(sequence(1, size({sa})), cast(0.0 AS double), "
                f"(acc, i) -> acc + element_at({sa}, i) * {_plane('i', j)})"
            )
        ddot = (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"[({da})[i] * {_plane('i', j)} for i in range(1, len({da}) + 1)]), "
            f"(acc, x) -> acc + x)"
        )
        spark_bits.append(f"IF({sdot} > 0, {1 << j}, 0)")
        duck_bits.append(f"CASE WHEN {ddot} > 0 THEN {1 << j} ELSE 0 END")
    return " + ".join(spark_bits), " + ".join(duck_bits)


def hyperplane_bucket_expr(a: str, n_planes: int = 8, dim: int | None = None) -> Column:
    return F.expr(hyperplane_bucket(a, n_planes, dim)[0])


def sq_dot_udf():
    """Arrow-vectorized integer dot product over two int8-style code
    arrays (scalar-quantized serving): int64 accumulation in numpy —
    EXACT (no float anywhere), so the coarse score is bit-free of
    engine differences by construction. Same plan-shape rationale as
    ``pair_cosine_udf``: the scoring runs against a broadcast query row
    and a dim-expanded chain over a derived code array would either
    re-evaluate the quantization transform per term or overflow the
    codegen method limit."""

    @pandas_udf("bigint")
    def _sq_dot(a: pd.Series, b: pd.Series) -> pd.Series:
        import numpy as np

        if len(a) == 0:
            return pd.Series([], dtype="int64")
        ma = np.stack(a.to_numpy()).astype(np.int64, copy=False)
        mb = np.stack(b.to_numpy()).astype(np.int64, copy=False)
        return pd.Series((ma * mb).sum(axis=1))

    return _sq_dot


# --- random projection (Johnson–Lindenstrauss) ------------------------------

# Deterministic Rademacher sign for matrix cell (j, d) of a target_dim ×
# dim projection: a Knuth multiplicative mix of the flat index, with the
# sign bit drawn from the middle of the hash (the low bit of idx*odd
# would just be idx's own parity). Pure BIGINT arithmetic so the DuckDB
# oracle reproduces it exactly: ((idx·2654435761) mod 2³¹) ÷ 2¹⁵ mod 2.
RP_MIX = 2654435761
RP_MOD = 2**31
RP_SHIFT = 32768


def rp_signs(dim: int, target_dim: int):
    """The target_dim × dim ±1 sign matrix as int64 numpy."""
    import numpy as np

    idx = (
        np.arange(target_dim, dtype=np.int64)[:, None] * dim
        + np.arange(dim, dtype=np.int64)[None, :]
    )
    h = (idx * RP_MIX) % RP_MOD
    return np.where((h // RP_SHIFT) % 2 == 0, 1, -1).astype(np.int64)


def random_projection_udf(dim: int, target_dim: int):
    """Arrow-vectorized sparse→dense Rademacher projection: embeddings
    quantized to integer millionths, then one int64 matmul against the
    deterministic sign matrix — every output cell is an order-free
    integer sum, bit-identical to the oracle's list_reduce twin."""

    signs_t = rp_signs(dim, target_dim).T  # dim × target_dim

    @pandas_udf("array<bigint>")
    def _project(emb: pd.Series) -> pd.Series:
        import numpy as np

        if len(emb) == 0:
            return pd.Series([], dtype="object")
        m = np.stack(emb.to_numpy()).astype(np.float64, copy=False)
        xq = np.floor(m * 1_000_000.0 + 0.5).astype(np.int64)
        proj = xq @ signs_t
        return pd.Series(list(proj))

    return _project
