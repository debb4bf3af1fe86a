"""Text-analysis operators over a document column (SURVEY.md §7 phase 4).

Generalizes the reference's text conforming (emoji/ASCII stripping,
casing, tokenizing — propnex_transformation.py:18-20,44-54) into the
operators a training-data pipeline needs: token counting, quality
scoring, language ID, fingerprinting. All pure Column expressions —
JVM-side, no Python boundary — built on the cross-engine primitives in
``functions.hashing`` where the DuckDB oracle needs bit-parity.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions import hashing as H

# Tiny public stopword lists for the n-gram/stopword language heuristic.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"],
    "es": ["el", "la", "de", "los", "las", "y", "en", "que", "un", "una"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "eine", "zu"],
}
LANG_PRIORITY = ["en", "es", "de"]  # deterministic tie order


def tokens_expr(text_col: str) -> Column:
    return F.expr(H.tokens(text_col)[0])


def token_count(text_col: str) -> Column:
    """Whitespace token count."""
    return F.size(tokens_expr(text_col))


def distinct_token_count(text_col: str) -> Column:
    return F.size(F.expr(H.distinct_tokens(text_col)[0]))


def avg_token_len(text_col: str) -> Column:
    """Mean token length (integer-sum fold / count — exact in both
    engines)."""
    toks = H.tokens(text_col)[0]
    total = F.expr(
        f"aggregate(transform({toks}, x -> length(x)), 0, (acc, x) -> acc + x)"
    )
    # floor(q*1e4 + 0.5)/1e4, not round(q, 4): integer-ratio quotients
    # land on exact 5th-decimal .5 ties structurally (e.g. odd char sum /
    # 64 tokens), where Spark's repr-round and DuckDB's binary-round can
    # disagree; floor over the bit-identical quotient is repr-free.
    return (
        F.floor(
            total.cast("double") / F.size(F.expr(toks)) * 10000 + F.lit(0.5)
        ).cast("double")
        / 10000
    )


def stopword_count(text_col: str, lang: str) -> Column:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    toks = H.tokens(text_col)[0]
    return F.size(F.expr(f"filter({toks}, x -> x IN ({words}))"))


def stopword_count_duck(text_col: str, lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    toks = H.tokens(text_col)[1]
    return f"len(list_filter({toks}, x -> x IN ({words})))"


def lang_id(text_col: str) -> Column:
    """Stopword-vote language ID: argmax of per-language stopword hits,
    ties broken by LANG_PRIORITY, zero hits → 'unknown'."""
    counts = {lang: stopword_count(text_col, lang) for lang in LANG_PRIORITY}
    best = F.greatest(*counts.values())
    expr = F.when(best <= 0, F.lit("und"))
    for lang in LANG_PRIORITY:
        expr = expr.when(counts[lang] == best, F.lit(lang))
    return expr


def lang_id_duck(text_col: str) -> str:
    counts = {lang: stopword_count_duck(text_col, lang) for lang in LANG_PRIORITY}
    best = f"greatest({', '.join(counts.values())})"
    cases = "\n         ".join(
        f"WHEN {counts[lang]} = {best} THEN '{lang}'" for lang in LANG_PRIORITY
    )
    return f"CASE WHEN {best} <= 0 THEN 'und'\n         {cases} END"


def quality_score(text_col: str) -> Column:
    """Heuristic quality in [0,1]: length band + stopword presence +
    lexical diversity. Integer/ratio arithmetic only — oracle-exact."""
    n_tok = token_count(text_col)
    n_distinct = distinct_token_count(text_col)
    sw = stopword_count(text_col, "en")
    length_ok = F.when((n_tok >= 20) & (n_tok <= 400), 1).otherwise(0)
    has_stopwords = F.when(sw * 10 >= n_tok, 1).otherwise(0)  # ≥10% stopwords
    # repr-free floor(q*1e4 + 0.5)/1e4 rounding (see avg_token_len): the
    # diversity ratio and the /3 average are integer-ratio quotients
    # where Spark's repr-round and DuckDB's binary-round can split ties.
    diversity = (
        F.floor(n_distinct.cast("double") / n_tok * 10000 + F.lit(0.5)).cast("double")
        / 10000
    )
    return (
        F.floor(
            (length_ok + has_stopwords + diversity) / F.lit(3.0) * 10000 + F.lit(0.5)
        ).cast("double")
        / 10000
    )


def quality_score_duck(text_col: str) -> str:
    toks = H.tokens(text_col)[1]
    dtoks = H.distinct_tokens(text_col)[1]
    sw = stopword_count_duck(text_col, "en")
    diversity = (
        f"CAST(floor(len({dtoks})::DOUBLE / len({toks}) * 10000 + 0.5) AS DOUBLE)"
        f" / 10000"
    )
    return (
        f"CAST(floor((CASE WHEN len({toks}) BETWEEN 20 AND 400 THEN 1 ELSE 0 END"
        f" + CASE WHEN {sw} * 10 >= len({toks}) THEN 1 ELSE 0 END"
        f" + {diversity}) / 3.0 * 10000 + 0.5) AS DOUBLE) / 10000"
    )


# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space
# symbol — the GPT-style pre-tokenization shape, in regex syntax valid in
# both Java (Spark) and RE2 (DuckDB).
BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def bpe_tokens_sql(text_col: str) -> str:
    # Spark SQL string literals consume backslashes ('\s' → 's'); DuckDB
    # does not — escape only on the Spark side
    escaped = BPE_PATTERN.replace("\\", "\\\\")
    return f"regexp_extract_all(lower({text_col}), '{escaped}', 0)"


def bpe_tokens(text_col: str) -> Column:
    return F.expr(bpe_tokens_sql(text_col))


def bpe_tokens_duck(text_col: str) -> str:
    return f"regexp_extract_all(lower({text_col}), '{BPE_PATTERN}')"


def fingerprint(text_col: str) -> Column:
    """Deterministic rolling-hash document fingerprint over the
    normalized text (lower-cased, whitespace-collapsed)."""
    normalized = f"concat_ws(' ', {H.tokens(text_col)[0]})"
    return F.expr(H.string_hash(normalized)[0])


def fingerprint_duck(text_col: str) -> str:
    normalized = f"array_to_string({H.tokens(text_col)[1]}, ' ')"
    return H.string_hash(normalized)[1]


# --- PII redaction -----------------------------------------------------------
# Ordered: URLs can CONTAIN email-/phone-shaped substrings, so they go
# first; the replacement tokens contain no digits or '@', so later
# patterns can't re-match earlier redactions. Patterns stay in the
# common RE2 ∩ java.util.regex dialect (character classes, bounded
# quantifiers — no backrefs/lookaround) so the identical string runs in
# a DuckDB oracle.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("url", r"https?://[^ ]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"[+(]?[0-9][-0-9() ]{6,}[0-9]", "<PHONE>"),
]


def pii_counts_on(c: Column) -> list[Column]:
    """One ``n_<kind>`` count column per PII pattern (pre-redaction),
    over an arbitrary string expression."""
    return [
        F.regexp_count(c, F.lit(pat)).alias(f"n_{kind}")
        for kind, pat, _ in PII_PATTERNS
    ]


def redact_pii_col(c: Column) -> Column:
    """Replace every PII match with its type token, in pattern order,
    over an arbitrary string expression."""
    out = c
    for _, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def redact_pii_duck(text_col: str) -> str:
    """DuckDB twin of ``redact_pii_col`` (same patterns, same order)."""
    out = text_col
    for _, pat, token in PII_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', '{token}', 'g')"
    return out


def repetition_stats(df, id_col: str, text_col: str, n: int = 2):
    """Per-document n-gram repetition counts as a SHUFFLE-FREE map.

    The stats (most-frequent n-gram count, total n-grams) are row-local
    — no cross-document aggregation exists — so the explode →
    groupBy(doc, gram) → groupBy(doc) formulation pays two shuffles for
    a computation that needs zero. One Arrow pass with a per-doc
    counter emits exactly one row per document; the ratio (and its
    rounding) stays a JVM expression so oracle HALF_UP semantics are
    untouched. Gram derivation = arrow_text._shingles∘_tokens, the
    proven bit-identical twin of the hashing.shingles spec.
    """
    from collections import Counter
    from collections.abc import Iterator

    import pandas as pd

    from ..functions.arrow_text import _shingles, _tokens
    from ..shipping import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            tops, totals = [], []
            for t in pdf[text_col]:
                counts = Counter(_shingles(_tokens(t), n))
                tops.append(max(counts.values()))
                totals.append(sum(counts.values()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "top_gram_count": tops,
                    "n_grams": totals,
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        batches, schema="doc_id long, top_gram_count long, n_grams long"
    )


# --- C4-style corpus cleaning ------------------------------------------------
# The line/page filter stage of C4 (Raffel et al. 2020, "Exploring the
# Limits of Transfer Learning", §2.2): keep lines that end in terminal
# punctuation, have enough words, and don't mention javascript; drop
# whole pages containing "lorem ipsum" or a curly brace; drop pages
# with too few retained lines. Both sides are generated from the same
# parameters as (spark_sql, duckdb_sql) pairs — the filter is pure
# string/array arithmetic, map-only, no shuffle, no Python boundary.

C4_MIN_WORDS_PER_LINE = 5
C4_MIN_KEPT_LINES = 3
C4_TERMINAL = '[.!?"]$'
C4_BAD_LINE_WORD = "javascript"
C4_BAD_PAGE_PHRASE = "lorem ipsum"


def c4_lines(text_sql: str) -> tuple[str, str]:
    """Non-empty lines of a document (split on newline)."""
    spark = f"filter(split({text_sql}, '\\n'), x -> trim(x) <> '')"
    duck = f"list_filter(string_split({text_sql}, chr(10)), x -> trim(x) <> '')"
    return spark, duck


def c4_kept_lines(text_sql: str) -> tuple[str, str]:
    """Lines surviving the C4 line rules (terminal punctuation, word
    minimum, no javascript mention)."""
    lines_s, lines_d = c4_lines(text_sql)
    spark = (
        f"filter({lines_s}, x -> x rlike '{C4_TERMINAL}'"
        f" AND size(filter(split(trim(x), ' '), w -> w <> '')) >= {C4_MIN_WORDS_PER_LINE}"
        f" AND NOT contains(lower(x), '{C4_BAD_LINE_WORD}'))"
    )
    duck = (
        f"list_filter({lines_d}, x -> regexp_matches(x, '{C4_TERMINAL}')"
        f" AND len(list_filter(string_split(trim(x), ' '), w -> w <> '')) >= {C4_MIN_WORDS_PER_LINE}"
        f" AND NOT contains(lower(x), '{C4_BAD_LINE_WORD}'))"
    )
    return spark, duck


def c4_page_bad(text_sql: str) -> tuple[str, str]:
    """Page-level drop predicate: lorem ipsum or source-code braces."""
    spark = (
        f"(contains(lower({text_sql}), '{C4_BAD_PAGE_PHRASE}')"
        f" OR contains({text_sql}, '{{'))"
    )
    duck = (
        f"(contains(lower({text_sql}), '{C4_BAD_PAGE_PHRASE}')"
        f" OR contains({text_sql}, '{{'))"
    )
    return spark, duck


# --- Gopher-style quality rules ----------------------------------------------
# The document-level quality ruleset of Gopher (Rae et al. 2021, §A1.1),
# band thresholds adapted to this corpus's size range: word-count band,
# mean-word-length band, symbol-to-word ratio, alphabetic-word fraction,
# stopword presence. All integer-count / rounded-ratio arithmetic —
# oracle-exact, map-only.

GOPHER_MIN_WORDS = 10
GOPHER_MAX_WORDS = 1000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOPWORDS = 2
GOPHER_SYMBOL_WORDS = ("#", "...")


def gopher_symbol_count(text_sql: str) -> tuple[str, str]:
    from ..functions import hashing as H

    words = ", ".join(f"'{w}'" for w in GOPHER_SYMBOL_WORDS)
    toks_s, toks_d = H.tokens(text_sql)
    return (
        f"size(filter({toks_s}, x -> x IN ({words})))",
        f"len(list_filter({toks_d}, x -> x IN ({words})))",
    )


def gopher_alpha_count(text_sql: str) -> tuple[str, str]:
    """Words containing at least one ASCII letter."""
    from ..functions import hashing as H

    toks_s, toks_d = H.tokens(text_sql)
    return (
        f"size(filter({toks_s}, x -> x rlike '[a-z]'))",
        f"len(list_filter({toks_d}, x -> regexp_matches(x, '[a-z]')))",
    )


# --- HTML → text extraction (the CommonCrawl/C4 extraction step) -----------
# Strip script/style/comment blocks, then all tags (→ space, so adjacent
# text nodes don't weld), decode the common entities, collapse
# whitespace. Every pattern is chosen to mean the SAME thing to Java
# regex (Spark) and RE2 (DuckDB): inline (?is) flags and non-greedy .*?
# behave identically in both, and whitespace uses the explicit class
# [ \t\n\r\f] because Java's \s includes \x0B where RE2's does not.
# Entity decode order is fixed with &amp; LAST (standard quirk: "&amp;lt;"
# decodes to the literal "&lt;"), identical in both twins.

_HTML_BLOCK_PATS = (
    r"(?is)<script[^>]*>.*?</script>",
    r"(?is)<style[^>]*>.*?</style>",
    r"(?s)<!--.*?-->",
)
_HTML_TAG_PAT = r"<[^>]*>"
_HTML_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
)
_WS_PAT = r"[ \t\n\r\f]+"


def html_to_text(html: Column) -> Column:
    """Extracted plain text of an HTML column (Spark side; codegen
    regexp chain — no UDF)."""
    out = html
    for pat in _HTML_BLOCK_PATS:
        out = F.regexp_replace(out, pat, " ")
    out = F.regexp_replace(out, _HTML_TAG_PAT, " ")
    for ent, rep in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(out, _WS_PAT, " "))


def html_to_text_duck(html_sql: str) -> str:
    """DuckDB twin of :func:`html_to_text` (same patterns, same order,
    'g' flag — Spark's regexp_replace is global by default)."""
    out = html_sql
    for pat in _HTML_BLOCK_PATS:
        out = f"regexp_replace({out}, '{pat}', ' ', 'g')"
    out = f"regexp_replace({out}, '{_HTML_TAG_PAT}', ' ', 'g')"
    for ent, rep in _HTML_ENTITIES:
        rep_sql = rep.replace("'", "''")
        ent_sql = ent.replace("'", "''")
        out = f"replace({out}, '{ent_sql}', '{rep_sql}')"
    return f"trim(regexp_replace({out}, '{_WS_PAT}', ' ', 'g'))"
