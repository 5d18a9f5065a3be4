"""Deduplication operators for large-scale training-data pipelines.

Exact and near-duplicate detection over a document table
(doc_id, text). All operators are DataFrame-native:

- exact_dedup:     hash-groupBy on md5(text) — one shuffle on a 128-bit key
- minhash_lsh:     shingle -> minhash signature (vectorized numpy pandas
                   UDF) -> banding -> bucket self-join -> verified Jaccard.
                   Candidate generation is the LSH bucket join (shuffle on
                   band hash, never O(n^2)); verification re-computes true
                   shingle Jaccard only for bucket pairs.
- simhash:         60-bit simhash over md5 token hashes, computed entirely
                   in Catalyst (no Python); near-dups = hamming distance
                   <= k via pivot-block join (split the bits into k+1
                   blocks; dups must share one exact block -> equi-join per
                   block, then exact hamming filter). md5 (not xxhash64) so
                   an external ANSI-SQL oracle can replay the signatures
                   bit-for-bit.
- ngram_jaccard:   exact n-gram Jaccard verification for a candidate pair
                   set (used standalone at small scale, or as the LSH
                   verify stage; ``minhash_dedup(verify=True)`` wires it in)
- embedding near-dup: see operators/similarity.py

Scale notes: every candidate generator is an equi-join on a derived key
(band hash / simhash block), so AQE handles skew; signatures are computed
in one Arrow pass; no driver-side loops.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

# --- exact ---------------------------------------------------------------------


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id doc per exact text; one hash shuffle. Returns
    (doc_id, text_hash, n_dupes)."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_dupes"),
        )
        .select(id_col, "text_hash", "n_dupes")
    )


def collapse_by_canonical(
    docs: DataFrame, url_col: str = "url", canonical_col: str = "canonical"
) -> DataFrame:
    """Collapse URL identity by declared canonical (RFC 6596): pages that
    point at the same ``<link rel=canonical>`` target are one logical
    document. Returns one row per identity —
    (canonical_identity, url=representative, n_variants) — where identity
    is ``coalesce(canonical, url)`` and the representative prefers the
    canonical page itself (url == identity) over the lexicographically
    smallest variant, deterministically.

    One hash shuffle on the identity key (min_by carries a (is-not-self,
    url) struct, so the pick is a map-side-combinable aggregate — no
    window, no second shuffle). At 100 TB this is the same safe shape as
    exact_dedup; compose AFTER extract_canonical and BEFORE content-level
    dedup so near-dup never pays for pages that already declare
    themselves duplicates."""
    ident = F.coalesce(F.col(canonical_col), F.col(url_col))
    return (
        docs.select(
            ident.alias("canonical_identity"),
            F.col(url_col).alias("url"),
        )
        .groupBy("canonical_identity")
        .agg(
            F.min_by(
                "url",
                F.struct(
                    (F.col("url") != F.col("canonical_identity")).alias("not_self"),
                    F.col("url").alias("u"),
                ),
            ).alias("url"),
            F.count(F.lit(1)).alias("n_variants"),
        )
    )


# --- shingles + minhash -----------------------------------------------------------

_MERSENNE = (1 << 61) - 1


def _shingle_set(text: str, k: int) -> np.ndarray:
    """Hashed k-gram (character shingle) set, uint64 — vectorized stable
    hashing (siphash via pd.util.hash_array, fixed key)."""
    t = " ".join(text.lower().split())
    views = (
        [t] if len(t) < k else list({t[i : i + k] for i in range(len(t) - k + 1)})
    )
    return pd.util.hash_array(
        np.array(views, dtype=object), hash_key="sinew-shingle-16", categorize=False
    )


def make_minhash_udf(num_perm: int = 64, shingle_k: int = 5, seed: int = 42):
    """Vectorized minhash signature pandas UDF: text -> array<bigint> of
    length num_perm. Permutation family: splitmix64(x ^ seed_j) — the whole
    (num_perm x n_shingles) grid is evaluated as one numpy broadcast, then
    min-reduced along the shingle axis. No per-shingle Python."""
    from sinew_spark.operators.bloom import _splitmix64

    rng = np.random.default_rng(seed)
    seeds = rng.integers(0, 2**63, size=num_perm, dtype=np.int64).astype(np.uint64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def minhash(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            sh = _shingle_set(t, shingle_k)  # uint64[n]
            grid = _splitmix64(sh[None, :] ^ seeds[:, None])  # (num_perm, n)
            sig = grid.min(axis=1).view(np.int64)
            out.append([int(v) for v in sig])
        return pd.Series(out)

    return minhash


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    shingle_k: int = 5,
    seed: int = 42,
) -> DataFrame:
    mh = make_minhash_udf(num_perm, shingle_k, seed)
    return docs.select(F.col(id_col), mh(F.col(text_col)).alias("signature"))


def minhash_lsh_candidates(
    signatures: DataFrame, bands: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """Band the signature, hash each band, self-join on (band, band_hash).
    Returns distinct candidate pairs (a < b). The join is the scale path:
    shuffle on band hash, candidates only — never a cross join."""
    num_perm_col = F.size("signature")
    rows_per_band = (num_perm_col / bands).cast("int")
    banded = (
        signatures.select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.slice(
                        "signature", b * rows_per_band + 1, rows_per_band
                    ),
                )
            ).alias("band", "band_sig"),
        )
        .select(id_col, "band", F.xxhash64(F.col("band"), F.col("band_sig")).alias("bh"))
    )
    left = banded.select(F.col(id_col).alias("a"), "band", "bh")
    right = banded.select(F.col(id_col).alias("b"), "band", "bh")
    return (
        left.join(right, ["band", "bh"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def minhash_jaccard_estimate(signatures: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Estimated Jaccard = fraction of matching signature positions."""
    sa = signatures.select(F.col(id_col).alias("a"), F.col("signature").alias("sig_a"))
    sb = signatures.select(F.col(id_col).alias("b"), F.col("signature").alias("sig_b"))
    j = (
        pairs.join(sa, "a").join(sb, "b")
        .withColumn(
            "jaccard_est",
            F.expr(
                "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) / size(sig_a)"
            ),
        )
        .select("a", "b", "jaccard_est")
    )
    return j


def minhash_dedup(
    docs: DataFrame,
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    verify: bool = False,
    verify_n: int = 3,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures -> banded candidates ->
    Jaccard filter. Returns pairs (a, b, jaccard_est).

    verify=False filters on the signature-estimated Jaccard (cheapest; the
    estimate IS the filter). verify=True re-computes TRUE word-``verify_n``-
    gram Jaccard for the bucket pairs (pure Catalyst, ngram_jaccard_pairs)
    and filters/reports that instead — columns (a, b, jaccard). The verify
    cost is proportional to the candidate set, never all pairs."""
    sigs = minhash_signatures(docs, text_col, id_col, num_perm, shingle_k, seed).persist()
    cands = minhash_lsh_candidates(sigs, bands, id_col)
    if verify:
        return ngram_jaccard_pairs(docs, cands, n=verify_n, text_col=text_col, id_col=id_col).where(
            F.col("jaccard") >= threshold
        )
    return minhash_jaccard_estimate(sigs, cands, id_col).where(
        F.col("jaccard_est") >= threshold
    )


# --- simhash -------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 md5 hex chars -> always < 2^60, sign-safe in BIGINT


def simhash_expr(text_col, bits: int = SIMHASH_BITS):
    """``bits``-wide SimHash as a single Catalyst expression — zero Python.

    Token hash = first 15 hex chars of md5(token) parsed base-16 (fits
    signed 64-bit on every engine, so the same signature is reproducible in
    ANSI SQL for oracle checks). Per-bit vote counts accumulate via
    aggregate/zip_with; whole-stage codegen applies. The classic simhash
    construction (Charikar 2002) over whitespace tokens of lower(trim(text)).
    """
    return F.expr(
        f"""
        aggregate(
          zip_with(
            aggregate(
              transform(
                filter(split(lower(trim({text_col})), '\\\\s+'), t -> t != ''),
                t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)
              ),
              array_repeat(0L, {bits}),
              (acc, h) -> zip_with(
                acc, sequence(0, {bits - 1}),
                (a, b) -> a + (case when (shiftright(h, b) & 1) = 1 then 1L else -1L end)
              )
            ),
            sequence(0, {bits - 1}),
            (c, b) -> case when c > 0 then shiftleft(1L, b) else 0L end
          ),
          0L, (acc, v) -> acc + v
        )
        """
    )


def hamming_block_pairs(
    sigs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """All pairs of rows within ``max_hamming`` bit flips of each other,
    given precomputed integer signatures (simhash, image dHash, any
    64-bit-or-narrower fingerprint in a BIGINT column).

    Pivot-block join: split the signature bits into (max_hamming+1)
    blocks — any pair within hamming distance k shares at least one exact
    block (pigeonhole; bits outside the covered range only make blocks
    match more often, never less). Equi-join per block, then exact popcount
    filter — EXACT for any max_hamming (the blocks only generate
    candidates; popcount decides), never O(n^2). Shuffle rows carry
    (id, signature, block) only. Returns (a, b, hamming)."""
    nblocks = min(max_hamming + 1, bits)  # nblocks > bits would give 0-width blocks
    width = bits // nblocks
    blocks = sigs.select(
        id_col,
        F.col(sig_col).alias("_sig"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col(sig_col), i * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for i in range(nblocks)
                ]
            )
        ).alias("block_idx", "block_val"),
    )
    left = blocks.select(
        F.col(id_col).alias("a"), F.col("_sig").alias("sim_a"), "block_idx", "block_val"
    )
    right = blocks.select(
        F.col(id_col).alias("b"), F.col("_sig").alias("sim_b"), "block_idx", "block_val"
    )
    pairs = (
        left.join(right, ["block_idx", "block_val"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "sim_a", "sim_b")
        .distinct()
    )
    return (
        pairs.withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def simhash_near_dups(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Near-duplicate (a, b, hamming) pairs by token simhash: compute the
    signature JVM-side (simhash_expr), then the pivot-block candidate join
    + exact popcount filter (hamming_block_pairs)."""
    sigs = docs.select(F.col(id_col), simhash_expr(text_col, bits).alias("simhash"))
    return hamming_block_pairs(
        sigs, max_hamming=max_hamming, id_col=id_col, sig_col="simhash", bits=bits
    )


# --- n-gram Jaccard (exact verification) -------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact word-n-gram Jaccard for given (a, b) pairs — the verify stage.
    Pure Catalyst: ngrams built with transform/slice over the token array,
    intersection/union via array functions."""

    def ngrams(c):
        # zip n shifted slices so the lambda reads only its argument — a
        # slice-of-free-expression lambda re-runs the tokenization per
        # n-gram (see quality.py _grams)
        toks = F.split(F.lower(F.trim(c)), r"\s+")
        length = F.greatest(F.size(toks) - n + 1, F.lit(1))
        zipped = F.arrays_zip(*[F.slice(toks, i + 1, length) for i in range(n)])
        return F.array_distinct(
            F.transform(
                zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)])
            )
        )

    da = docs.select(F.col(id_col).alias("a"), ngrams(F.col(text_col)).alias("ng_a"))
    db = docs.select(F.col(id_col).alias("b"), ngrams(F.col(text_col)).alias("ng_b"))
    return (
        pairs.join(da, "a")
        .join(db, "b")
        .withColumn("inter", F.size(F.array_intersect("ng_a", "ng_b")))
        .withColumn("uni", F.size(F.array_union("ng_a", "ng_b")))
        .withColumn(
            "jaccard",
            F.when(F.col("uni") > 0, F.col("inter") / F.col("uni")).otherwise(F.lit(0.0)),
        )
        .select("a", "b", "jaccard")
    )


def duplicated_ngram_stats(
    docs: DataFrame,
    k: int = 5,
    doc_col: str = "doc_id",
    text_col: str = "text",
    scale: int = 1_000_000,
) -> DataFrame:
    """Cross-document duplicated-substring statistics — the signal
    behind exact-substring dedup (Lee et al., "Deduplicating Training
    Data Makes Language Models Better", ACL 2022: memorized boilerplate
    lives in long token runs shared verbatim across documents),
    re-expressed Spark-first over hashed k-grams instead of a suffix
    array (a distributed suffix array buys exact char offsets the
    training filter doesn't need; k-gram hashing gives the same
    per-document decision signal with two shuffles).

    Per document: ``n_kgrams``, ``n_dup_kgrams`` (k-grams appearing in
    at least one OTHER document), ``max_dup_run`` (longest run of
    consecutive duplicated k-grams — a run of R k-grams == a shared
    token span of R+k-1 tokens), and ``dup_frac_x`` (duplicated
    fraction in exact ``scale`` fixed point). Filter on
    ``max_dup_run >= R`` to approximate ExactSubstr's min-match-length
    rule, or on ``dup_frac_x`` for a coverage rule.

    Scale shape: tokenize + k-gram hashing are map-only Catalyst
    (md5 of the joined window — shuffles carry 32-char hashes, never
    text); ONE groupBy(hash) distinct-doc count; one co-partitioned
    join back; one groupBy(doc) that folds the position/flag pairs
    into run statistics with a single Catalyst ``aggregate`` — the
    per-doc array is bounded by document length, and nothing is ever
    O(corpus) in one partition.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from sinew_spark.operators.search import tokenize_expr

    toks = tokenize_expr(F.col(text_col))
    base = docs.select(F.col(doc_col).alias("_doc"), toks.alias("_toks")).select(
        "_doc",
        F.when(
            F.size("_toks") >= k,
            F.transform(
                F.sequence(F.lit(0), F.size("_toks") - k),
                lambda i: F.md5(F.array_join(F.slice(F.col("_toks"), i + 1, k), " ")),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("_grams"),
    )
    ex = base.select("_doc", F.posexplode("_grams").alias("_pos", "_h"))
    counts = ex.groupBy("_h").agg(F.countDistinct("_doc").alias("_nd"))
    flagged = ex.join(counts, "_h").select(
        "_doc", "_pos", (F.col("_nd") >= 2).alias("_dup")
    )
    per_doc = flagged.groupBy("_doc").agg(
        F.count(F.lit(1)).alias("n_kgrams"),
        F.sum(F.col("_dup").cast("long")).alias("n_dup_kgrams"),
        F.array_sort(F.collect_list(F.struct("_pos", "_dup"))).alias("_arr"),
    )
    run_acc = F.aggregate(
        F.col("_arr"),
        F.struct(
            F.lit(0).cast("long").alias("run"), F.lit(0).cast("long").alias("best")
        ),
        lambda acc, x: F.struct(
            F.when(x["_dup"], acc["run"] + 1).otherwise(F.lit(0).cast("long")).alias(
                "run"
            ),
            F.greatest(
                acc["best"],
                F.when(x["_dup"], acc["run"] + 1).otherwise(F.lit(0).cast("long")),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    stats = per_doc.select(
        F.col("_doc").alias(doc_col),
        "n_kgrams",
        "n_dup_kgrams",
        run_acc.alias("max_dup_run"),
        F.expr(f"(n_dup_kgrams * {scale}) div n_kgrams").alias("dup_frac_x"),
    )
    # docs shorter than k tokens produce no k-grams: emit a zero row so
    # the output covers every input document (left anti recover)
    empties = base.where(F.size("_grams") == 0).select(
        F.col("_doc").alias(doc_col),
        F.lit(0).cast("long").alias("n_kgrams"),
        F.lit(0).cast("long").alias("n_dup_kgrams"),
        F.lit(0).cast("long").alias("max_dup_run"),
        F.lit(0).cast("long").alias("dup_frac_x"),
    )
    return stats.unionByName(empties)
