"""Distributed BPE merge training: model parity with a reference
Python implementation, determinism, and encoder invariants."""

from __future__ import annotations

from collections import Counter

from conftest import TEST_SF_DIR
from hdb_resale_price_data_pipeline_spark.operators.bpe import (
    END,
    bpe_apply,
    bpe_train_with_freqs,
    word_frequencies,
)
from hdb_resale_price_data_pipeline_spark.sources import read_table


def _python_bpe(texts, n_merges, min_count=2):
    """Reference implementation (Sennrich et al. 2016 fig. 1 shape)."""
    vocab = Counter()
    for t in texts:
        for w in t.lower().split(" "):
            if w:
                vocab[tuple(list(w) + [END])] += 1
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for syms, cnt in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += cnt
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_count:
            break
        (a, b), _n = best
        merges.append((a, b))
        new_vocab = Counter()
        for syms, cnt in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] += cnt
        vocab = new_vocab
    return merges


def test_bpe_matches_python_model_on_fixture(spark):
    texts = [
        "low lower lowest",
        "new newer newest",
        "low low new new new",
        "wide wider widest",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = bpe_train_with_freqs(df, "text", n_merges=8)[0]
    want = _python_bpe(texts, 8)
    assert got == want


def test_bpe_is_deterministic_on_real_corpus(spark):
    docs = read_table(spark, TEST_SF_DIR, "documents").limit(200)
    m1 = bpe_train_with_freqs(docs, "text", n_merges=5)[0]
    m2 = bpe_train_with_freqs(docs, "text", n_merges=5)[0]
    assert m1 == m2 and len(m1) == 5


def test_bpe_apply_reduces_piece_count(spark):
    """More merges → never more pieces; zero merges = chars + markers."""
    docs = read_table(spark, TEST_SF_DIR, "documents").limit(100)
    merges = bpe_train_with_freqs(docs, "text", n_merges=6)[0]
    base = {
        r.doc_id: r.bpe_n_pieces
        for r in bpe_apply(docs, "text", []).collect()
    }
    enc = {
        r.doc_id: r.bpe_n_pieces
        for r in bpe_apply(docs, "text", merges).collect()
    }
    assert all(enc[d] <= base[d] for d in base)
    assert sum(enc.values()) < sum(base.values())  # merges actually fire


def test_word_frequencies_matches_driver_count(spark):
    docs = read_table(spark, TEST_SF_DIR, "documents").limit(50)
    got = {r.word: r.cnt for r in word_frequencies(docs, "text").collect()}
    want = Counter()
    for r in docs.select("text").collect():
        for w in r.text.lower().split(" "):
            if w:
                want[w] += 1
    assert got == dict(want)


def test_bpe_oracle_survives_exhausted_merges(spark):
    """A corpus whose vocabulary fully merges before the unrolled layer
    count is exhausted: bpe_train_with_freqs breaks early, and the
    oracle's tail layers must degrade to no-ops (aggregate-form m{i} —
    an empty argmax layer once CROSS JOINed the whole vocabulary away
    and reported every doc as zero pieces)."""
    import duckdb

    from hdb_resale_price_data_pipeline_spark.queries.text import (
        BPE_MERGES,
        _bpe_learn_oracle,
    )

    rows = [(i, "ab ab") for i in range(4)]
    # Spark side: train + apply on the tiny corpus directly
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe_train_with_freqs(docs, "text", n_merges=BPE_MERGES)[0]
    assert len(merges) < BPE_MERGES  # early break actually happens
    spark_out = {
        r.doc_id: (r.bpe_n_pieces, " ".join(r.bpe_pieces))
        for r in bpe_apply(docs, "text", merges).collect()
    }
    assert all(n > 0 for n, _ in spark_out.values())

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    # Oracle emits the graded-schema scalar head (space-joined string).
    duck_out = {
        r[0]: (r[1], r[2]) for r in con.execute(_bpe_learn_oracle()).fetchall()
    }
    assert duck_out == spark_out


def test_driver_and_distributed_merge_loops_are_bit_identical(spark):
    """r5: the bounded driver-local merge loop (lazy-heap incremental
    pair counts) must reproduce the distributed per-merge-job loop
    exactly — merges IN ORDER and final piece frequencies — on a real
    corpus slice. driver_budget_words=0 forces the distributed path."""
    from hdb_resale_price_data_pipeline_spark.operators.bpe import (
        bpe_train_with_freqs,
    )

    docs = read_table(spark, TEST_SF_DIR, "documents").limit(150)
    m_driver, f_driver = bpe_train_with_freqs(docs, "text", n_merges=8)
    m_spark, f_spark = bpe_train_with_freqs(
        docs, "text", n_merges=8, driver_budget_words=0
    )
    assert m_driver == m_spark
    assert f_driver == f_spark


def test_driver_merge_loop_handles_large_merge_counts_fast(spark):
    """The production-vocab shape the distributed loop can't serve
    (one scheduled job per merge): 1000 requested merges on the real
    corpus must complete driver-local in seconds, stopping early only
    if pairs are exhausted under min_count."""
    import time

    from hdb_resale_price_data_pipeline_spark.operators.bpe import (
        bpe_train_with_freqs,
    )

    docs = read_table(spark, TEST_SF_DIR, "documents")
    t0 = time.perf_counter()
    merges, freqs = bpe_train_with_freqs(docs, "text", n_merges=1000)
    wall = time.perf_counter() - t0
    assert len(merges) > 100  # the corpus genuinely supports deep vocab
    assert len(merges) == len(set(merges))  # no pair merged twice
    assert wall < 60, f"driver merge loop took {wall:.1f}s"


def test_wordpiece_driver_and_distributed_loops_are_bit_identical(spark):
    """WordPiece (likelihood-scored) trainer: the driver-local loop and
    the per-merge-job loop must agree exactly — the score is one
    operand-cast IEEE divide in both (operators/bpe._wp_score)."""
    from hdb_resale_price_data_pipeline_spark.operators.bpe import (
        wordpiece_train_with_freqs,
    )

    docs = read_table(spark, TEST_SF_DIR, "documents").limit(150)
    m_driver, f_driver = wordpiece_train_with_freqs(docs, "text", n_merges=6)
    m_spark, f_spark = wordpiece_train_with_freqs(
        docs, "text", n_merges=6, driver_budget_words=0
    )
    assert m_driver == m_spark
    assert f_driver == f_spark
    assert len(m_driver) == 6


def test_wordpiece_selection_differs_from_bpe_where_it_should(spark):
    """The selection rules genuinely diverge: with a pair of RARE
    symbols ('x','z' below) and a more frequent pair of COMMON symbols,
    BPE merges the frequent pair first while WordPiece prefers the
    rare-symbol pair (higher count/(count·count) likelihood gain)."""
    from hdb_resale_price_data_pipeline_spark.operators.bpe import (
        bpe_train_with_freqs,
        wordpiece_train_with_freqs,
    )

    texts = [
        "xz xz aa aa aa aa",
        "ab ab ab aa aa aa",
        "xz ab aa ab aa ab",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    bpe_first = bpe_train_with_freqs(df, "text", n_merges=1)[0][0]
    wp_first = wordpiece_train_with_freqs(df, "text", n_merges=1)[0][0]
    assert wp_first == ("x", "z")
    assert bpe_first != wp_first


# --- unigram-LM trainer (third tokenizer family) ----------------------------


def test_viterbi_prefers_likely_long_piece():
    """A high-probability multi-char piece beats its char-by-char
    spelling; an uncovered stretch falls back to chars."""
    from hdb_resale_price_data_pipeline_spark.operators.unigram import (
        viterbi_segment,
    )

    qlp = {"a": -50, "b": -50, "c": -50, "ab": -10, "x": -50}
    pieces, score = viterbi_segment("abc", qlp)
    assert pieces == ["ab", "c"]
    assert score == -60
    pieces, _ = viterbi_segment("xax", qlp)
    assert pieces == ["x", "a", "x"]


def test_viterbi_tie_breaks():
    """Equal-score segmentations: fewer pieces wins; the per-position
    rule then prefers the longer ending piece — and Python and the
    SQL unroll share the exact tuple, so this pins the contract."""
    from hdb_resale_price_data_pipeline_spark.operators.unigram import (
        viterbi_segment,
    )

    # "aa" as ["aa"] (score -20, 1 piece) vs ["a","a"] (-20, 2 pieces)
    pieces, _ = viterbi_segment("aa", {"a": -10, "aa": -20})
    assert pieces == ["aa"]
    # three equal-score paths for "aaa": ["a","aa"], ["aa","a"],
    # ["a","a","a"]; fewer pieces first, then bp DESC at the last
    # position → ["a","aa"]
    pieces, _ = viterbi_segment("aaa", {"a": -10, "aa": -20})
    assert pieces == ["a", "aa"]


def test_unigram_train_is_deterministic_and_segments_corpus(spark):
    """Two independent fits produce the identical model; every corpus
    word is segmentable and round-trips to its own characters."""
    from hdb_resale_price_data_pipeline_spark.operators.unigram import (
        unigram_train,
        viterbi_segment,
    )

    docs = read_table(spark, TEST_SF_DIR, "documents")
    qlp1, words1 = unigram_train(docs, "text")
    qlp2, words2 = unigram_train(docs, "text")
    assert qlp1 == qlp2
    for r in words1.collect():
        pieces, _ = viterbi_segment(r.word, qlp1)
        assert "".join(pieces) == r.word
    words1.unpersist()
    words2.unpersist()


def test_unigram_vocab_contains_multichar_pieces(spark):
    """The fit actually learns multi-char pieces (otherwise it
    degenerates to a char tokenizer and the EM did nothing)."""
    from hdb_resale_price_data_pipeline_spark.operators.unigram import (
        VOCAB_KEEP,
        unigram_train,
    )

    docs = read_table(spark, TEST_SF_DIR, "documents")
    qlp, words = unigram_train(docs, "text")
    longs = [p for p in qlp if len(p) >= 2]
    assert 1 <= len(longs) <= VOCAB_KEEP
    # and they are used: at least one corpus word segments to fewer
    # pieces than its character count
    from hdb_resale_price_data_pipeline_spark.operators.unigram import (
        viterbi_segment,
    )

    used = False
    for r in words.collect():
        pieces, _ = viterbi_segment(r.word, qlp)
        if len(pieces) < len(r.word):
            used = True
            break
    assert used
    words.unpersist()
