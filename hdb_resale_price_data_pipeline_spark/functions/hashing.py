"""Cross-engine deterministic hashing primitives.

The dedup/fingerprint operator family (MinHash, SimHash, n-gram Jaccard
— SURVEY.md §7 phase 4) needs hash values that are *bit-identical* in
Spark and in the DuckDB oracle, or the driver's value-hash comparison can
never pass. Neither engine's builtin ``hash`` matches the other, so we
define a polynomial rolling hash over character codes using only
arithmetic both engines evaluate identically in BIGINT:

    h = fold(codes, b, (acc, c) -> (acc * a + c) mod M)

with M = 2^31 - 1 (keeps ``acc * a`` far below 2^63 — no overflow
divergence) and per-seed constants (a_i, b_i).

Every generator here returns a *pair* of SQL strings ``(spark_sql,
duckdb_sql)`` built from the same parameters: the Spark side goes through
``F.expr`` (JVM higher-order functions — no Python boundary, codegen
friendly), the DuckDB side into ``oracle_sql()``. Verified equivalences
(see tests/test_cross_engine.py): ascii(), lower(), split-to-chars,
aggregate ≡ list_reduce(list_prepend), transform ≡ list comprehension,
sequence ≡ range, array_min ≡ list_min, shiftleft/shiftright ≡ <</>>.
"""

from __future__ import annotations

MERSENNE_31 = 2_147_483_647  # 2^31 - 1, prime

# Per-seed multiplier/offset pairs; small primes, deterministic, public.
DEFAULT_SEEDS: list[tuple[int, int]] = [
    (131, 7),
    (137, 11),
    (139, 13),
    (149, 17),
    (151, 19),
    (157, 23),
    (163, 29),
    (167, 31),
    (173, 37),
    (179, 41),
    (181, 43),
    (191, 47),
    # extension (same prime-pair pattern): configs up to 32 signature
    # slots (e.g. 8 bands × 4 rows). Earlier entries are a stable
    # prefix — existing 8-slot oracles are unaffected.
    (193, 53),
    (197, 59),
    (199, 61),
    (211, 67),
    (223, 71),
    (227, 73),
    (229, 79),
    (233, 83),
    (239, 89),
    (241, 97),
    (251, 101),
    (257, 103),
    (263, 107),
    (269, 109),
    (271, 113),
    (277, 127),
    (281, 131),
    (283, 137),
    (293, 139),
    (307, 149),
]


def take_seeds(n: int) -> list[tuple[int, int]]:
    """First ``n`` seed pairs, failing loudly past the pool — a silent
    short slice made band_keys_udf die with an opaque IndexError deep
    in the Arrow pass when asked for >12 slots."""
    if n > len(DEFAULT_SEEDS):
        raise ValueError(
            f"minhash config needs {n} signature slots but the seed pool "
            f"has {len(DEFAULT_SEEDS)}; extend DEFAULT_SEEDS"
        )
    return DEFAULT_SEEDS[:n]


def char_codes(s: str) -> tuple[str, str]:
    """Array of unicode code points of ``s`` (empty fragments dropped)."""
    spark = f"transform(filter(split({s}, ''), x -> x <> ''), x -> ascii(x))"
    duck = f"list_transform(list_filter(string_split({s}, ''), x -> x <> ''), x -> ascii(x))"
    return spark, duck


def poly_fold(codes: tuple[str, str], a: int, b: int, mod: int = MERSENNE_31) -> tuple[str, str]:
    """Fold an int-array pair into the polynomial hash."""
    sc, dc = codes
    spark = f"aggregate({sc}, CAST({b} AS BIGINT), (acc, x) -> (acc * {a} + x) % {mod})"
    duck = (
        f"list_reduce(list_prepend(CAST({b} AS BIGINT), {dc}), "
        f"(acc, x) -> (acc * {a} + x) % {mod})"
    )
    return spark, duck


def string_hash(s: str, a: int = 131, b: int = 7, mod: int = MERSENNE_31) -> tuple[str, str]:
    """Deterministic BIGINT hash of a string expression."""
    return poly_fold(char_codes(s), a, b, mod)


def tokens(s: str) -> tuple[str, str]:
    """Lower-cased whitespace tokens of ``s``."""
    spark = f"filter(split(lower({s}), ' '), x -> x <> '')"
    duck = f"list_filter(string_split(lower({s}), ' '), x -> x <> '')"
    return spark, duck


def distinct_tokens(s: str) -> tuple[str, str]:
    spark_t, duck_t = tokens(s)
    return f"array_distinct({spark_t})", f"list_distinct({duck_t})"


def shingles(token_pair: tuple[str, str], n: int) -> tuple[str, str]:
    """Word n-grams as space-joined strings; a document shorter than
    ``n`` tokens contributes its single partial shingle."""
    st, dt = token_pair
    spark = (
        f"transform(sequence(1, greatest(size({st}) - {n} + 1, 1)), "
        f"i -> concat_ws(' ', slice({st}, i, {n})))"
    )
    duck = (
        f"[array_to_string(({dt})[i:i+{n - 1}], ' ') "
        f"for i in range(1, greatest(len({dt}) - {n} + 1, 1) + 1)]"
    )
    return spark, duck


def shingle_hashes(shingle_pair: tuple[str, str], a: int, b: int) -> tuple[str, str]:
    """Hash every shingle in an array expression."""
    ss, ds = shingle_pair
    sh_spark, _ = poly_fold(char_codes("x"), a, b)
    _, sh_duck = poly_fold(char_codes("x"), a, b)
    spark = f"transform({ss}, x -> {sh_spark})"
    duck = f"list_transform({ds}, x -> {sh_duck})"
    return spark, duck


def shingle_codes(shingle_pair: tuple[str, str]) -> tuple[str, str]:
    """Char-code arrays of every shingle (array<array<int>>). Computing
    this ONCE per row and folding per seed afterwards avoids re-splitting
    the text for every signature slot — the dominant cost of MinHash."""
    ss, ds = shingle_pair
    cc_spark, _ = char_codes("s")
    _, cc_duck = char_codes("s")
    return (
        f"transform({ss}, s -> {cc_spark})",
        f"list_transform({ds}, s -> {cc_duck})",
    )


def fold_codes(codes_ref: str, a: int, b: int, mod: int = MERSENNE_31) -> tuple[str, str]:
    """Per-seed minhash from a (column-materialized) codes array."""
    spark = (
        f"array_min(transform({codes_ref}, c -> "
        f"aggregate(c, CAST({b} AS BIGINT), (acc, x) -> (acc * {a} + x) % {mod})))"
    )
    duck = (
        f"list_min(list_transform({codes_ref}, c -> "
        f"list_reduce(list_prepend(CAST({b} AS BIGINT), c), "
        f"(acc, x) -> (acc * {a} + x) % {mod})))"
    )
    return spark, duck


def band_keys_from_codes(
    codes_ref: str, num_bands: int = 4, rows_per_band: int = 2
) -> list[tuple[str, str]]:
    """LSH band keys computed from a pre-materialized codes column."""
    seeds = take_seeds(num_bands * rows_per_band)
    slots = [fold_codes(codes_ref, a, b) for a, b in seeds]
    out: list[tuple[str, str]] = []
    for band in range(num_bands):
        chunk = slots[band * rows_per_band : (band + 1) * rows_per_band]
        spark = "concat_ws('-', " + ", ".join(s for s, _ in chunk) + ")"
        duck = "concat_ws('-', " + ", ".join(d for _, d in chunk) + ")"
        out.append((spark, duck))
    return out


def token_hashes(token_pair: tuple[str, str], a: int = 131, b: int = 7) -> tuple[str, str]:
    """Hash every token (char-fold once per token)."""
    st, dt = token_pair
    th_spark, _ = poly_fold(char_codes("x"), a, b)
    _, th_duck = poly_fold(char_codes("x"), a, b)
    return (
        f"transform({st}, x -> {th_spark})",
        f"list_transform({dt}, x -> {th_duck})",
    )


def minhash(shingle_pair: tuple[str, str], a: int, b: int) -> tuple[str, str]:
    """Min over hashed shingles for one seed — one MinHash signature slot."""
    hs, hd = shingle_hashes(shingle_pair, a, b)
    return f"array_min({hs})", f"list_min({hd})"


def minhash_signature(
    shingle_pair: tuple[str, str], num_hashes: int = 8
) -> list[tuple[str, str]]:
    """One (spark, duck) pair per signature slot."""
    seeds = take_seeds(num_hashes)
    return [minhash(shingle_pair, a, b) for a, b in seeds]


def band_keys(
    shingle_pair: tuple[str, str], num_bands: int = 4, rows_per_band: int = 2
) -> list[tuple[str, str]]:
    """LSH band keys: concat ``rows_per_band`` signature slots per band.

    Two documents collide on a band iff that band's slots all match —
    the classic banding amplification of MinHash similarity.
    """
    sig = minhash_signature(shingle_pair, num_bands * rows_per_band)
    out: list[tuple[str, str]] = []
    for band in range(num_bands):
        chunk = sig[band * rows_per_band : (band + 1) * rows_per_band]
        spark = "concat_ws('-', " + ", ".join(s for s, _ in chunk) + ")"
        duck = "concat_ws('-', " + ", ".join(d for _, d in chunk) + ")"
        out.append((spark, duck))
    return out


def simhash(token_pair: tuple[str, str], bits: int = 16, a: int = 131, b: int = 7) -> tuple[str, str]:
    """SimHash over (tf-weighted) token hashes.

    bit_j(doc) = 1 iff sum over tokens of ±1 (sign of token-hash bit j)
    is positive; value = Σ bit_j · 2^j. Nested higher-order functions on
    both engines.
    """
    st, dt = token_pair
    th_spark, _ = poly_fold(char_codes("x"), a, b)
    _, th_duck = poly_fold(char_codes("x"), a, b)
    spark = (
        f"aggregate(sequence(0, {bits - 1}), CAST(0 AS BIGINT), (acc, j) -> acc + "
        f"IF(aggregate(transform({st}, x -> {th_spark}), CAST(0 AS BIGINT), "
        f"(s, h) -> s + CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) > 0, "
        f"shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT)))"
    )
    duck = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), range(0, {bits})), (acc, j) -> acc + "
        f"CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform({dt}, x -> {th_duck})), "
        f"(s, h) -> s + CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)"
    )
    return spark, duck


# --- avalanche integer hash + HLL pieces (shared batch/streaming) -----------

HLL_MOD = 2_147_483_648  # 2^31
HLL_ALPHA = 0.7182725932495458  # alpha_256 = 0.7213 / (1 + 1.079/256)


def avalanche_hash(column: str, xor, shr) -> str:
    """31-bit xor-shift-multiply finalizer (Wang / murmur-style) of an
    integer column, parameterized over each engine's XOR and
    shift-right syntax (Spark: ``^`` / ``shiftright``; DuckDB:
    ``xor()`` / ``>>``). A plain affine LCG keeps consecutive ids
    injective mod 2^k, destroying the balls-in-bins statistics sketches
    rely on; this finalizer avalanches. Every intermediate stays
    < 2^57 — DuckDB BIGINT overflow *errors* while Spark wraps, so both
    sides must stay in range."""
    x0 = f"({column} % {HLL_MOD})"
    x1 = f"(({xor(shr(x0, 16), x0)} * 73244475) % {HLL_MOD})"
    x2 = f"(({xor(shr(x1, 16), x1)} * 73244475) % {HLL_MOD})"
    return xor(shr(x2, 16), x2)


def spark_xor(a: str, b: str) -> str:
    return f"({a} ^ {b})"


def spark_shr(x: str, n: int) -> str:
    return f"shiftright({x}, {n})"


def duck_xor(a: str, b: str) -> str:
    return f"xor({a}, {b})"


def duck_shr(x: str, n: int) -> str:
    return f"({x} >> {n})"


def hll_rho() -> str:
    """HLL rank over column ``q`` (the hash's top 23 bits):
    24 − bit_length(q), branch-unrolled as exact integer comparisons —
    no float log2 whose boundary rounding could diverge."""
    whens = " ".join(f"WHEN q >= {1 << (22 - k)} THEN {k + 1}" for k in range(23))
    return f"(CASE {whens} ELSE 24 END)"
