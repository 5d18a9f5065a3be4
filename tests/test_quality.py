"""Corpus-quality operator tests: PII redaction, paragraph dedup,
Gopher repetition stats (sinew_spark/operators/quality.py)."""

import pytest
from pyspark.sql import functions as F

from sinew_spark.operators.quality import (
    drop_duplicate_paragraphs,
    duplicate_paragraph_stats,
    redact_pii,
    repetition_stats,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


# --- redact_pii -----------------------------------------------------------


def test_redact_pii_all_categories(spark):
    df = _docs(
        spark,
        [
            (
                1,
                "mail a.b+c@ex-ample.co.uk ssn 123-45-6789 "
                "ph 555-123-4567 ip 192.168.0.1 end",
            )
        ],
    )
    r = redact_pii(df).collect()[0]
    assert (r.n_email, r.n_ssn, r.n_phone, r.n_ipv4, r.n_pii) == (1, 1, 1, 1, 4)
    assert r.text_redacted == "mail <EMAIL> ssn <SSN> ph <PHONE> ip <IP> end"


def test_redact_pii_counts_on_original_text(spark):
    # two emails, zero of everything else; counts reflect the raw text
    df = _docs(spark, [(1, "x@y.com and z@w.org")])
    r = redact_pii(df).collect()[0]
    assert r.n_email == 2 and r.n_pii == 2
    assert r.text_redacted == "<EMAIL> and <EMAIL>"


def test_redact_pii_clean_text_untouched(spark):
    df = _docs(spark, [(1, "no pii here, just words 12-34")])
    r = redact_pii(df).collect()[0]
    assert r.n_pii == 0 and r.text_redacted == r.text


def test_redact_pii_ssn_vs_phone_disjoint(spark):
    # 3-2-4 is SSN, 3-3-4 is phone; neither pattern claims the other
    df = _docs(spark, [(1, "a 111-22-3333 b 111-222-3333 c")])
    r = redact_pii(df).collect()[0]
    assert (r.n_ssn, r.n_phone) == (1, 1)
    assert r.text_redacted == "a <SSN> b <PHONE> c"


# --- paragraph dedup ------------------------------------------------------


def test_drop_duplicate_paragraphs_keeps_first_occurrence(spark):
    df = _docs(
        spark,
        [
            (1, "alpha\n\nshared"),
            (2, "shared\n\nbeta"),
            (3, "shared"),
        ],
    )
    out = {r.doc_id: r.text for r in drop_duplicate_paragraphs(df).collect()}
    # doc 1 owns "shared" (lowest (doc_id, idx)); doc 3 vanishes entirely
    assert out == {1: "alpha\n\nshared", 2: "beta"}


def test_drop_duplicate_paragraphs_preserves_order_and_intra_doc(spark):
    # repeat inside one doc: only the first copy survives, order kept
    df = _docs(spark, [(1, "p1\n\np2\n\np1\n\np3")])
    out = drop_duplicate_paragraphs(df).collect()[0]
    assert out.text == "p1\n\np2\n\np3"


def test_duplicate_paragraph_stats(spark):
    df = _docs(
        spark,
        [
            (1, "a\n\nb"),
            (2, "b\n\nc"),
            (3, "d"),
        ],
    )
    rows = {r.doc_id: r for r in duplicate_paragraph_stats(df).collect()}
    assert rows[1].n_paras == 2 and rows[1].n_dup == 1
    assert rows[2].n_paras == 2 and rows[2].n_dup == 1
    assert rows[3].n_paras == 1 and rows[3].n_dup == 0
    assert rows[1].dup_frac == 0.5


def test_paragraph_stats_empty_paragraphs_ignored(spark):
    df = _docs(spark, [(1, "a\n\n\n\n  \n\nb")])
    r = duplicate_paragraph_stats(df).collect()[0]
    assert r.n_paras == 2 and r.n_dup == 0


# --- repetition stats -----------------------------------------------------


def test_repetition_stats_clean_doc_kept(spark):
    df = _docs(spark, [(1, "the quick brown fox jumps over the lazy dog today")])
    r = repetition_stats(df).collect()[0]
    assert r.keep is True
    assert r.dup5_frac == 0.0


def test_repetition_stats_repeated_doc_dropped(spark):
    df = _docs(spark, [(1, "spam ham " * 40)])
    r = repetition_stats(df).collect()[0]
    # every 2-gram alternates between two values -> top2 ~ 0.5
    assert r.top2_frac > 0.2 and r.keep is False


def test_repetition_stats_mean_word_len_bounds(spark):
    df = _docs(
        spark,
        [
            (1, "a b c d e f g h i j"),  # mwl = 1 < 2 -> drop
            (2, "reasonable words appear here often enough truly and keep flowing onward nicely"),
        ],
    )
    rows = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert rows[1].mean_word_len == 1.0 and rows[1].keep is False
    assert rows[2].keep is True


def test_repetition_stats_exact_fractions(spark):
    # "x x x y": 2-grams = [x x, x x, x y] -> top2 = 2/3; mwl = 1.0
    df = _docs(spark, [(1, "x x x y")])
    r = repetition_stats(df).collect()[0]
    assert r.top2_frac == pytest.approx(2 / 3, abs=1e-6)


# --- C4 line-level cleaning ---

def test_c4_clean_line_rules(spark):
    from sinew_spark.operators.quality import c4_clean

    text = "\n".join([
        "This is a proper sentence with enough words.",   # kept
        "Too short.",                                      # < 5 words
        "No terminal punctuation in this line here",       # no punct
        "Please enable JavaScript to view this content.",  # javascript
        'He said "this quoted line has enough words."',    # kept (quote after .)
        "Another good line that ends with a question?",    # kept
    ])
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = c4_clean(df).collect()[0]
    assert r.kept and r.n_lines_kept == 3
    lines = r.clean_text.split("\n")
    assert lines[0].startswith("This is a proper")
    assert lines[1].startswith('He said')
    assert lines[2].endswith("question?")


def test_c4_clean_page_rules(spark):
    from sinew_spark.operators.quality import c4_clean

    good = "\n".join(["A fine sentence with plenty of words here."] * 4)
    rows = [
        (1, good),                                   # kept
        (2, good + "\nvar x = {a: 1};"),             # brace -> dropped
        (3, good + "\nLorem Ipsum dolor sit amet."), # lorem ipsum -> dropped
        (4, "One good line with enough words here.\nShort."),  # < 3 lines
        (5, None),                                   # null text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.kept, r.clean_text) for r in c4_clean(df).collect()}
    assert got[1][0] is True and got[1][1].count("\n") == 3
    assert got[2][0] is False and got[2][1] is None
    assert got[3][0] is False
    assert got[4][0] is False
    assert got[5][0] is False


def test_bigram_coverage_against_clean_reference(spark):
    from sinew_spark.operators.quality import bigram_coverage

    ref = spark.createDataFrame(
        [("r1", "the quick brown fox jumps"), ("r2", "the quick brown dog runs")],
        "doc_id string, text string",
    )
    docs = spark.createDataFrame(
        [
            ("clean", "the quick brown fox"),      # 3 bigrams, all in ref
            ("mixed", "the quick zzz qqq"),        # 3 bigrams, 1 in ref
            ("junk", "xx yy zz"),                  # 2 bigrams, 0 in ref
            ("tiny", "one"),                       # <2 tokens -> zero row
        ],
        "doc_id string, text string",
    )
    out = {r.doc_id: (r.n_bigrams, r.n_in_vocab, r.coverage_x)
           for r in bigram_coverage(docs, reference=ref, top_m=100).collect()}
    assert out["clean"] == (3, 3, 1_000_000)
    assert out["mixed"] == (3, 1, 333_333)
    assert out["junk"] == (2, 0, 0)
    assert out["tiny"] == (0, 0, 0)


def test_bigram_coverage_top_m_cuts_rare(spark):
    from sinew_spark.operators.quality import bigram_coverage

    # 'a b' appears twice, 'c d' and 'e f' once each; top_m=2 keeps
    # 'a b' and then the tie between 'c d'/'e f' resolves by string asc
    ref = spark.createDataFrame(
        [("r1", "a b"), ("r2", "a b"), ("r3", "c d"), ("r4", "e f")],
        "doc_id string, text string",
    )
    docs = spark.createDataFrame(
        [("x", "a b"), ("y", "c d"), ("z", "e f")], "doc_id string, text string"
    )
    out = {r.doc_id: r.n_in_vocab
           for r in bigram_coverage(docs, reference=ref, top_m=2).collect()}
    assert out == {"x": 1, "y": 1, "z": 0}


def test_bigram_coverage_self_reference_and_occurrence_counting(spark):
    from sinew_spark.operators.quality import bigram_coverage

    # repeated bigram in one doc counts per OCCURRENCE in the score
    docs = spark.createDataFrame(
        [("a", "x y x y"), ("b", "p q r s")], "doc_id string, text string"
    )
    out = {r.doc_id: (r.n_bigrams, r.n_in_vocab)
           for r in bigram_coverage(docs, top_m=3).collect()}
    # doc a: bigrams [x y, y x, x y]; vocab top3 by count = x y(2), p q, q r
    assert out["a"] == (3, 2)
    assert out["b"] == (3, 2)


def test_bigram_coverage_validation(spark):
    import pytest as _pytest

    from sinew_spark.operators.quality import bigram_coverage

    docs = spark.createDataFrame([("a", "x y")], "doc_id string, text string")
    with _pytest.raises(ValueError):
        bigram_coverage(docs, top_m=0)


def test_lm_score_hand_computed(spark):
    """Tiny corpus, hand-checked add-one bigram LM: reference = docs
    (self-trained), V = 3 ('a b a', 'b c'), contexts c1: a->1? No:
    bigrams of 'a b a' = (a,b),(b,a); of 'b c' = (b,c). c1(a)=1,
    c1(b)=2; c12 each 1. Scoring doc 'a b a': lp(a,b)=ln(2/(1+3)),
    lp(b,a)=ln(2/(2+3))."""
    import math

    from sinew_spark.operators.quality import lm_score

    docs = spark.createDataFrame(
        [(0, "a b a"), (1, "b c"), (2, "a")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in lm_score(docs).collect()}
    assert out[2].n_bigrams == 0 and out[2].sum_nll_x == 0
    lp_ab = round(math.log(2 / 4) * 1_000_000)
    lp_ba = round(math.log(2 / 5) * 1_000_000)
    assert out[0].n_bigrams == 2
    assert out[0].sum_nll_x == -(lp_ab + lp_ba)
    assert out[0].avg_nll_x == out[0].sum_nll_x // 2
    lp_bc = round(math.log(2 / 5) * 1_000_000)
    assert out[1].sum_nll_x == -lp_bc


def test_lm_score_pruning_and_oov(spark):
    """OOV bigram/context back off: unseen bigram -> c12=0; a context
    outside the top-m table -> c1=0 -> uniform 1/V floor. Gibberish
    (all-OOV) docs must score strictly worse (higher avg nll) than
    reference-like docs."""
    from sinew_spark.operators.quality import lm_score

    ref = spark.createDataFrame(
        [(i, "the quick brown fox jumps") for i in range(10)],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [(100, "the quick brown fox"), (101, "zz qq kk vv")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in lm_score(docs, reference=ref).collect()}
    assert out[101].avg_nll_x > out[100].avg_nll_x


def test_lm_score_pruned_context_probability_at_most_one(spark):
    """A kept bigram whose context fell out of the top-m context table
    must not get p(w2|w1) > 1: the context count is floored at the
    bigram's own count. Reference: 20 x 'a b c' and 10 x 'x y', V = 5;
    top_unigrams=1 keeps only context 'a' (ties by token), so the kept
    bigrams (b,c) and (x,y) have pruned contexts. Every single-bigram
    doc's log-probability is <= 0, with the hand-computed value."""
    import math

    from sinew_spark.operators.quality import lm_score

    ref = spark.createDataFrame(
        [(i, "a b c") for i in range(20)] + [(100 + i, "x y") for i in range(10)],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [(0, "x y"), (1, "b c"), (2, "a b")], ["doc_id", "text"]
    )
    out = {
        r.doc_id: r.sum_nll_x
        for r in lm_score(docs, reference=ref, top_unigrams=1, top_bigrams=3).collect()
    }
    assert all(nll >= 0 for nll in out.values()), out  # every lp <= 0
    assert out[0] == -round(math.log(11 / (10 + 5)) * 1_000_000)
    assert out[1] == -round(math.log(21 / (20 + 5)) * 1_000_000)
    assert out[2] == -round(math.log(21 / (20 + 5)) * 1_000_000)


def test_lm_score_partitioning_invariant(spark, sf_dir):
    from sinew_spark.operators.quality import lm_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = sorted(lm_score(docs, top_unigrams=10, top_bigrams=30).collect())
    b = sorted(
        lm_score(docs.repartition(17), top_unigrams=10, top_bigrams=30).collect()
    )
    assert a == b


def test_lm_score_validation(spark):
    import pytest as _pytest

    from sinew_spark.operators.quality import lm_score

    docs = spark.createDataFrame([(0, "a b")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        lm_score(docs, top_unigrams=0)


def test_lm_score_empty_reference_raises(spark):
    import pytest as _pytest

    from sinew_spark.operators.quality import lm_score

    docs = spark.createDataFrame([(0, "a b")], ["doc_id", "text"])
    empty_ref = spark.createDataFrame([(9, "  ")], ["doc_id", "text"])
    with _pytest.raises(ValueError, match="no tokens"):
        lm_score(docs, reference=empty_ref)


def test_lm_score_null_text_emits_zero_row(spark):
    """ANSI size(NULL) is NULL, not -1 — NULL-text docs must still get
    their explicit zero row (one-row-per-doc contract)."""
    from sinew_spark.operators.quality import lm_score

    docs = spark.createDataFrame(
        [(0, "a b a"), (1, None), (2, "")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in lm_score(docs).collect()}
    assert set(out) == {0, 1, 2}
    assert out[1].n_bigrams == 0 and out[1].avg_nll_x == 0
    assert out[2].n_bigrams == 0
