"""Corpus-quality operators: PII redaction, inter-document paragraph
dedup, and Gopher-style repetition filtering.

None of these exist in the reference (/root/reference is a single-node
scraper); they are training-data-pipeline additions alongside
operators/dedup.py and operators/pipeline.py (SURVEY.md §2 addendum),
designed for the 100 TB regime:

- ``redact_pii`` is a pure Catalyst projection — a fixed chain of
  ``regexp_replace``/``regexp_extract_all`` expressions, zero shuffle,
  zero Python, whole-stage codegen. Patterns are RE2-compatible so the
  DuckDB oracle can run the identical regexes.
- ``paragraph_occurrences`` / ``duplicate_paragraph_stats`` /
  ``drop_duplicate_paragraphs`` implement the standard web-corpus
  paragraph-level dedup (remove every later occurrence of a paragraph
  seen anywhere in the corpus, cf. the C4/RefinedWeb line-dedup rule).
  Scale shape: explode to (doc, idx, paragraph-hash) rows, ONE shuffle
  by hash for the global occurrence count + first-owner argmin, ONE
  shuffle back by doc id for reassembly — never all-pairs, never a
  driver collect. AQE broadcasts the per-hash aggregate back onto the
  occurrence rows (verified: 2 shuffle exchanges + 1 broadcast at test
  SF); if the distinct-paragraph side outgrows broadcast, the SMJ keys
  on the same phash so the aggregate's exchange is reused.
- ``repetition_stats`` computes the Gopher repetition signals
  (top n-gram fraction, duplicate n-gram fraction, mean word length)
  as per-row Catalyst array expressions — embarrassingly parallel, no
  shuffle. The per-row cost is O(tokens · distinct n-grams), fine for
  web documents (10^2-10^4 tokens); for book-length inputs swap the
  mode computation for a pandas UDF without changing the plan shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (category, RE2+Java-compatible pattern, replacement token). Order is
# semantics: earlier categories are redacted first and counted on the
# original text; the patterns are mutually non-overlapping on word
# boundaries (SSN 3-2-4 vs phone 3-3-4 vs dotted IPv4 quads).
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact PII spans and count them per category.

    Adds ``n_<category>`` count columns (matches in the original text),
    ``n_pii`` (their sum) and ``text_redacted``. Counting happens on the
    untouched text, replacement is applied in PII_PATTERNS order — the
    same order an oracle must use.
    """
    red = F.col(text_col)
    out = df
    total = F.lit(0)
    for name, pat, tok in PII_PATTERNS:
        cnt = F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0)))
        out = out.withColumn(f"n_{name}", cnt)
        total = total + cnt
        red = F.regexp_replace(red, pat, tok)
    return out.withColumn("n_pii", total).withColumn("text_redacted", red)


PARAGRAPH_SEP = "\n\n"


def paragraph_occurrences(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = PARAGRAPH_SEP,
    hash_expr=None,
) -> DataFrame:
    """Explode documents into (id, idx, para, phash) rows, one per
    non-empty trimmed paragraph. ``hash_expr(column) -> column`` defaults
    to xxhash64 (engine identity); oracle-facing callers pass md5
    (DuckDB lacks xxhash64, same convention as operators/pipeline.py).
    """
    hfn = hash_expr if hash_expr is not None else (lambda c: F.xxhash64(c))
    paras = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(sep), -1)).alias("idx", "para"),
    ).withColumn("para", F.trim("para")).where(F.col("para") != "")
    return paras.withColumn("phash", hfn(F.col("para")))


def duplicate_paragraph_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = PARAGRAPH_SEP,
    hash_expr=None,
) -> DataFrame:
    """Per-document paragraph-dedup report: (id, n_paras, n_dup,
    dup_frac) where n_dup counts this document's paragraphs that occur
    anywhere else in the corpus (global occurrence count > 1, including
    repeats inside one document). One shuffle by phash, one by id."""
    occ = paragraph_occurrences(docs, text_col, id_col, sep, hash_expr)
    counts = occ.groupBy("phash").agg(F.count(F.lit(1)).alias("n_occ"))
    return (
        occ.join(counts, "phash")  # co-partitioned with the groupBy above
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0)).alias("n_dup"),
        )
        .withColumn("dup_frac", F.round(F.col("n_dup") / F.col("n_paras"), 6))
    )


def drop_duplicate_paragraphs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = PARAGRAPH_SEP,
    hash_expr=None,
) -> DataFrame:
    """Corpus-wide paragraph dedup: every paragraph keeps exactly its
    first occurrence (global argmin of (id, idx) per hash — a total,
    deterministic order, so re-runs keep the same copy) and documents are
    reassembled in original paragraph order. Documents whose every
    paragraph was a later duplicate disappear. Returns (id, text)."""
    occ = paragraph_occurrences(docs, text_col, id_col, sep, hash_expr)
    first = occ.groupBy("phash").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("idx").alias("x"))).alias("fst")
    )
    kept = occ.join(first, "phash").where(
        (F.col(id_col) == F.col("fst.i")) & (F.col("idx") == F.col("fst.x"))
    )
    return (
        kept.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("idx", "para"))).alias("ps"))
        .select(
            id_col,
            F.array_join(F.transform("ps", lambda s: s["para"]), sep).alias(text_col),
        )
    )


def _grams(text: Column, n: int) -> Column:
    """All word n-grams in order (NOT distinct — repetition is the point).

    Built by zipping n shifted slices of the token array so the lambda
    touches only its struct argument — a slice-of-free-expression lambda
    (``array_join(slice(TOKS, i+1, n))``) would re-run the split/lower
    tokenization for every n-gram (higher-order-function lambdas
    re-evaluate free expression variables per element). ``concat_ws``
    skips the NULLs arrays_zip pads short docs with, matching the
    short-slice join of the old form exactly."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    length = F.greatest(F.size(toks) - n + 1, F.lit(1))
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, length) for i in range(n)])
    return F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)])
    )


def top_ngram_frac_expr(text: Column, n: int) -> Column:
    """Fraction of the document's word n-grams occupied by its single most
    frequent n-gram (Gopher repetition signal). Mode multiplicity =
    longest equal-run of the SORTED gram array, one aggregate fold whose
    lambda reads only (acc, element) — the distinct×filter formulation
    re-evaluated the gram construction per distinct gram and compared
    O(distinct·total) pairs."""
    g = _grams(text, n)
    runs = F.aggregate(
        F.array_sort(g),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("cur"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["cur"] + 1).otherwise(F.lit(1)).alias("cur"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["cur"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    return F.round(runs["best"] / F.size(g), 6)


def dup_ngram_frac_expr(text: Column, n: int) -> Column:
    """Fraction of n-gram positions that are repeats of an n-gram already
    seen in the same document: 1 - distinct/total."""
    g = _grams(text, n)
    return F.round(F.lit(1.0) - F.size(F.array_distinct(g)) / F.size(g), 6)


def mean_word_len_expr(text: Column) -> Column:
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    return F.round(
        F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)) / F.size(toks), 6
    )


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition report + keep decision. Thresholds follow
    the published Gopher rules (top 2-gram < 0.20, top 3-gram < 0.18,
    duplicate 5-gram fraction < 0.15, mean word length in [2, 10]).
    Pure per-row Catalyst — no shuffle, no Python."""
    top2 = top_ngram_frac_expr(F.col(text_col), 2)
    top3 = top_ngram_frac_expr(F.col(text_col), 3)
    dup5 = dup_ngram_frac_expr(F.col(text_col), 5)
    mwl = mean_word_len_expr(F.col(text_col))
    return docs.select(
        F.col(id_col),
        top2.alias("top2_frac"),
        top3.alias("top3_frac"),
        dup5.alias("dup5_frac"),
        mwl.alias("mean_word_len"),
        (
            (top2 < 0.20)
            & (top3 < 0.18)
            & (dup5 < 0.15)
            & (mwl >= 2.0)
            & (mwl <= 10.0)
        ).alias("keep"),
    )


def c4_clean(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 5,
    min_lines: int = 3,
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020, the rules behind
    the C4 corpus; complements drop_duplicate_paragraphs, which is the
    C4 cross-document line-DEDUP rule):

    - keep a line only if it ends in terminal punctuation (. ! ? or a
      closing quote after one), has >= ``min_words_per_line`` words, and
      does not mention javascript (boilerplate cookie/JS banners);
    - drop the whole page if fewer than ``min_lines`` lines survive, or
      the page contains '{' (code/templating) or 'lorem ipsum'.

    Output: (id, kept boolean, n_lines_kept, clean_text). Pure Catalyst
    array expressions over split lines — zero shuffle, zero Python,
    whole-stage codegen; at 100 TB this is a map-only pass."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.transform(F.split(text, "\n"), lambda l: F.trim(l))
    kept_lines = F.filter(
        lines,
        lambda l: l.rlike(r'[.!?]["' + "'" + r']?$')
        & (F.size(F.split(l, r"\s+")) >= min_words_per_line)
        & ~F.lower(l).contains("javascript"),
    )
    n_kept = F.size(kept_lines)
    page_ok = (
        (n_kept >= min_lines)
        & ~text.contains("{")
        & ~F.lower(text).contains("lorem ipsum")
    )
    return docs.select(
        F.col(id_col),
        page_ok.alias("kept"),
        n_kept.cast("int").alias("n_lines_kept"),
        F.when(page_ok, F.array_join(kept_lines, "\n")).otherwise(F.lit(None)).alias(
            "clean_text"
        ),
    )


def bigram_coverage(
    docs: DataFrame,
    reference: DataFrame | None = None,
    top_m: int = 10_000,
    doc_col: str = "doc_id",
    text_col: str = "text",
    scale: int = 1_000_000,
) -> DataFrame:
    """Reference-corpus bigram coverage — an integer-exact stand-in for
    LM-perplexity quality filtering (the CCNet/Gopher recipe scores
    documents against a clean reference corpus; a log-prob model is
    not cross-engine bit-stable, but "what fraction of this document's
    bigrams appear in the reference's top-m bigram vocabulary" ranks
    documents the same way for the common gibberish/boilerplate/
    wrong-language failure modes and is exactly replayable).

    ``reference`` defaults to ``docs`` itself (self-referential
    coverage: rare-construction documents score low). The vocabulary
    is the reference's ``top_m`` bigrams by occurrence count, ties
    broken by bigram string — fully deterministic. Output per doc:
    ``n_bigrams, n_in_vocab, coverage_x`` (fixed point on ``scale``);
    docs with fewer than 2 tokens emit an explicit zero row.

    Scale shape: vocabulary = one combinable groupBy(bigram) + a
    distributed top-m (TakeOrderedAndProject — never a full sort);
    scoring = map-only bigram explode, BROADCAST join against the
    bounded vocabulary, one combinable groupBy(doc). Nothing joins on
    corpus-sized keys.
    """
    if top_m < 1:
        raise ValueError("top_m must be >= 1")
    from sinew_spark.operators.search import tokenize_expr

    def bigrams(col: Column) -> Column:
        # tokenize once into `toks`, pair adjacents with zip_with over
        # slices — an element_at(tokenize_expr(...), i) lambda would
        # re-run the regex tokenization per bigram (free expression
        # variables in higher-order-function lambdas re-evaluate per
        # element; same fix as lm_score's bigram_rows)
        toks = tokenize_expr(col)
        return F.when(
            F.size(toks) >= 2,
            F.zip_with(
                F.slice(toks, 1, F.size(toks) - 1),
                F.slice(toks, 2, F.size(toks) - 1),
                lambda x, y: F.concat_ws(" ", x, y),
            ),
        ).otherwise(F.array().cast("array<string>"))

    ref = reference if reference is not None else docs
    vocab = (
        ref.select(F.explode(bigrams(F.col(text_col))).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("_c"))
        .orderBy(F.col("_c").desc(), F.col("bigram").asc())
        .limit(top_m)
        .select("bigram", F.lit(True).alias("_in"))
    )
    base = docs.select(F.col(doc_col).alias("_doc"), bigrams(F.col(text_col)).alias("_bg"))
    ex = base.select("_doc", F.explode("_bg").alias("bigram"))
    scored = (
        ex.join(F.broadcast(vocab), "bigram", "left")
        .groupBy("_doc")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.coalesce(F.col("_in"), F.lit(False)).cast("long")).alias(
                "n_in_vocab"
            ),
        )
        .select(
            F.col("_doc").alias(doc_col),
            "n_bigrams",
            "n_in_vocab",
            F.expr(f"(n_in_vocab * {scale}) div n_bigrams").alias("coverage_x"),
        )
    )
    empties = base.where(F.size("_bg") == 0).select(
        F.col("_doc").alias(doc_col),
        F.lit(0).cast("long").alias("n_bigrams"),
        F.lit(0).cast("long").alias("n_in_vocab"),
        F.lit(0).cast("long").alias("coverage_x"),
    )
    return scored.unionByName(empties)


def lm_score(
    docs: DataFrame,
    reference: DataFrame | None = None,
    top_unigrams: int = 100_000,
    top_bigrams: int = 1_000_000,
    doc_col: str = "doc_id",
    text_col: str = "text",
    lp_scale: int = 1_000_000,
) -> DataFrame:
    """CCNet-style n-gram LM quality scoring (Wenzek et al. 2020,
    "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    Data" — docs are ranked by perplexity under an LM trained on a
    clean reference corpus). The model here is an add-one-smoothed
    bigram LM over ``reference`` (default: ``docs`` itself):

        p(w2 | w1) = (c(w1,w2) + 1) / (max(c1(w1), c(w1,w2)) + V)

    with c(w1,w2) the bigram count in the PRUNED top-``top_bigrams``
    table (0 when absent), c1(w1) the count of w1 as a bigram left-
    context in the pruned top-``top_unigrams`` table (0 when absent —
    OOV contexts back off to the uniform 1/V), and V the reference's
    exact distinct-token count. The context count is floored at
    c(w1,w2) — its true value is at least that — so a kept bigram whose
    context was pruned still gets p <= 1. Output per doc: ``n_bigrams``,
    ``sum_nll_x`` and ``avg_nll_x`` — total and per-bigram negative
    log-likelihood in ``lp_scale`` fixed point (avg_nll_x is the log-
    perplexity up to the scale; ranking by it IS ranking by CCNet
    perplexity). Docs with <2 tokens emit an explicit zero row.

    Cross-engine determinism (why this is exact where a naive log-prob
    sum is not): the per-bigram probability's numerator/denominator are
    exact BIGINTs, their ratio one correctly-rounded IEEE division —
    bit-identical in Spark and DuckDB — and the single ``ln`` of that
    shared double is quantized to an integer (round(ln(r)*lp_scale))
    BEFORE aggregation, so the per-doc sum is pure int64 arithmetic
    with no float-accumulation-order hazard. (sum of |lp| <= doc_tokens
    * ln(V + max_c1) * lp_scale ~ 1e4 * 30 * 1e6 — far inside int64.)

    Scale shape: training = ONE explode over the reference + two
    combinable groupBys with distributed top-m pruning
    (TakeOrderedAndProject, ties by token string — deterministic);
    both pruned tables are bounded by construction and BROADCAST to
    the scoring side. Scoring = map-only bigram explode -> two
    broadcast joins -> one combinable groupBy(doc). Nothing joins on
    corpus-sized keys; the reference tables are the only state and
    they are capped at top_m rows regardless of corpus size.
    """
    if top_unigrams < 1 or top_bigrams < 1:
        raise ValueError("top_unigrams/top_bigrams must be >= 1")
    from sinew_spark.operators.search import tokenize_expr

    def bigram_rows(df: DataFrame, with_doc: bool):
        # tokenize ONCE per row into a materialized column, then pair
        # adjacent tokens with zip_with over two slices — a lambda whose
        # free variables are bound attributes, never expressions. An
        # element_at(tokenize_expr(...), i) lambda would re-run the
        # regex tokenization for EVERY bigram (higher-order-function
        # lambdas re-evaluate free expression variables per element —
        # measured 8s -> <1s at sf0.1 on this exact query).
        cols = [F.col(doc_col).alias("_doc")] if with_doc else []
        toked = df.select(*cols, tokenize_expr(F.col(text_col)).alias("_toks"))
        t = F.col("_toks")
        bg = F.when(
            F.size(t) >= 2,
            F.zip_with(
                F.slice(t, 1, F.size(t) - 1),
                F.slice(t, 2, F.size(t) - 1),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            ),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        return toked.select(
            *(["_doc"] if with_doc else []), F.explode(bg).alias("_b")
        ).select(
            *(["_doc"] if with_doc else []),
            F.col("_b.w1").alias("w1"),
            F.col("_b.w2").alias("w2"),
        )

    ref = reference if reference is not None else docs
    ref_bg = bigram_rows(ref, with_doc=False)
    # V: exact distinct tokens in the reference (both bigram positions
    # plus the tokens of 1-token docs would differ; CCNet's V is the LM
    # vocabulary = distinct tokens of the training text, so count over
    # ALL token positions, not just bigram members)
    vocab_n = (
        ref.select(F.explode(tokenize_expr(F.col(text_col))).alias("t"))
        .agg(F.countDistinct("t").alias("v"))
        .collect()[0][0]
    )
    if not vocab_n:
        # V = 0 would make the smoothing denominator 0 for OOV contexts:
        # double division yields +inf, and the int64 quantization cast
        # then throws under ANSI — fail loudly at the source instead
        raise ValueError("lm_score: reference corpus has no tokens")
    big = (
        ref_bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .orderBy(F.col("c12").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(top_bigrams)
    )
    ctx = (
        ref_bg.groupBy(F.col("w1").alias("cw"))
        .agg(F.count(F.lit(1)).alias("c1"))
        .orderBy(F.col("c1").desc(), F.col("cw").asc())
        .limit(top_unigrams)
    )
    scored_rows = (
        bigram_rows(docs, with_doc=True)
        .join(F.broadcast(big), ["w1", "w2"], "left")
        .join(F.broadcast(ctx), F.col("w1") == F.col("cw"), "left")
        .select(
            "_doc",
            (
                F.round(
                    F.log(
                        (F.coalesce(F.col("c12"), F.lit(0)) + 1).cast("double")
                        / (
                            F.greatest(
                                F.coalesce(F.col("c1"), F.lit(0)),
                                F.coalesce(F.col("c12"), F.lit(0)),
                            )
                            + vocab_n
                        ).cast("double")
                    )
                    * lp_scale
                ).cast("long")
            ).alias("_lp"),
        )
    )
    scored = scored_rows.groupBy("_doc").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (-F.sum("_lp")).cast("long").alias("sum_nll_x"),
    )
    out = scored.select(
        F.col("_doc").alias(doc_col),
        "n_bigrams",
        "sum_nll_x",
        F.expr("sum_nll_x div n_bigrams").alias("avg_nll_x"),
    )
    toks = tokenize_expr(F.col(text_col))
    # coalesce: under Spark 4's ANSI default size(NULL) is NULL (not
    # legacy -1), so a bare `size < 2` filter would drop NULL-text docs
    # from BOTH branches and silently violate the one-row-per-doc
    # contract
    empties = docs.where(F.coalesce(F.size(toks), F.lit(0)) < 2).select(
        F.col(doc_col),
        F.lit(0).cast("long").alias("n_bigrams"),
        F.lit(0).cast("long").alias("sum_nll_x"),
        F.lit(0).cast("long").alias("avg_nll_x"),
    )
    return out.unionByName(empties)
