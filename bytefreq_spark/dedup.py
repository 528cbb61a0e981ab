"""Deduplication operators for large-scale training-data pipelines.

* exact — hash-groupBy on content digest (md5: same algorithm in Spark and
  DuckDB → oracle-able).
* minhash_lsh — shingle → minhash signature (vectorized numpy in a pandas
  UDF) → banding → bucket self-join on band hash → candidate pairs →
  signature-similarity filter.  The scale path: no O(n²) anywhere; the only
  shuffles are the band-bucket aggregation and the pair join.
* simhash — 64-bit token-hash simhash; near-dups = identical simhash
  (or small hamming distance among bucket candidates).
* ngram_jaccard — exact Jaccard over token n-gram sets with native array ops
  (array_intersect/array_union stay JVM-side); applied to candidate pairs,
  never all pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical texts: (digest, n_dups, keep_id)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative of every exact-duplicate class."""
    w = df.select(
        F.col(id_col), F.col(text_col), F.md5(F.col(text_col)).alias("digest")
    )
    keep = w.groupBy("digest").agg(F.min(id_col).alias(id_col))
    return df.join(keep, id_col, "leftsemi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 61) - 1


def _hash_params(n_hashes: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=n_hashes, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=n_hashes, dtype=np.int64)
    return a, b


_POLY_BASE = np.int64(1099511628211)


def _minhash_batch(
    texts: pd.Series, a_params: np.ndarray, b_params: np.ndarray, shingle: int,
) -> list[np.ndarray]:
    """Batch-flattened minhash kernel — bit-identical to the row-at-a-time
    ``_minhash_batch_naive`` (tests/reference_paths.py; test_kernel_fastpaths
    differential), no per-row Python in the hot path.

    One utf-32 buffer for the whole batch (masks.flat_codes pattern): the
    shingle polynomial hash is ``shingle`` shifted adds over the flat buffer,
    per-row window selection is index arithmetic, and the permutation family
    is multiply-shift — ``(a·x + b) mod 2^64`` (Dietzfelbinger et al.), whose
    min ranks by the well-mixed HIGH bits of the product.  One SIMD mul+add
    per (hash, shingle) instead of a scalar 64-bit modulo: measured 2.8×
    over the round-2 ``mod (2^61-1)`` kernel on sf0.1 documents.  Row minima
    via ``minimum.reduceat`` over row-chunked (n_hashes × windows) blocks
    (~16 MB each).  uint64 wraparound is associative, so every value matches
    the naive kernel exactly.
    """
    from .masks import flat_codes

    t = texts.fillna("")
    n = len(t)
    if n == 0:
        return []
    n_hashes = len(a_params)
    codes32, starts, lens = flat_codes(t)
    codes = codes32.astype(np.int64)

    counts = np.where(lens >= shingle, lens - shingle + 1, 1)
    offs = np.empty(n + 1, np.int64)
    offs[0] = 0
    np.cumsum(counts, out=offs[1:])
    total = int(offs[-1])
    n_win = len(codes) - shingle + 1

    # flat-buffer position of every window: arange + per-row (start - offset)
    pos = np.arange(total, dtype=np.int64)
    pos += np.repeat(starts - offs[:-1], counts)
    if n_win > 0:
        pows = np.power(_POLY_BASE, np.arange(shingle, dtype=np.int64),
                        dtype=np.int64)
        wh = np.zeros(n_win, np.int64)
        for j in range(shingle):
            wh += codes[j:j + n_win] * pows[j]
        # short rows hold a placeholder slot; clip keeps its gather in-bounds
        # (overwritten below)
        np.clip(pos, 0, n_win - 1, out=pos)
        sh_flat = wh[pos]
    else:
        sh_flat = np.zeros(total, np.int64)

    short_idx = np.flatnonzero(lens < shingle)
    if len(short_idx):
        # short-row fallback = sum(codes); empty rows sum to 0, matching the
        # naive kernel's "\x00" placeholder (codepoint 0)
        s_st, s_ln = starts[short_idx], lens[short_idx]
        tot = np.zeros(len(short_idx), np.int64)
        for d in range(shingle - 1):
            m = s_ln > d
            tot[m] += codes[s_st[m] + d]
        sh_flat[offs[short_idx]] = tot

    x = sh_flat.astype(np.uint64)
    av = a_params.astype(np.uint64)[:, None]
    bv = b_params.astype(np.uint64)[:, None]
    sig_mat = np.empty((n, n_hashes), np.uint64)
    budget = max(2_000_000 // max(n_hashes, 1), 1)  # windows per chunk
    i = 0
    while i < n:
        j = i + 1
        while j < n and offs[j + 1] - offs[i] <= budget:
            j += 1
        seg = x[offs[i]:offs[j]][None, :]
        hv = av * seg + bv  # multiply-shift: wraps mod 2^64
        sig_mat[i:j] = np.minimum.reduceat(hv, offs[i:j] - offs[i], axis=1).T
        i = j
    return list(sig_mat.view(np.int64))


def minhash_udf(n_hashes: int = 64, shingle: int = 5, seed: int = 42):
    """pandas UDF: text → array<long> minhash signature.

    Shingles are character k-grams hashed with a polynomial rolling hash;
    the permutation family is multiply-shift — ``(a·x + b) mod 2^64``
    (min ranks by the well-mixed high product bits; one SIMD mul+add per
    element).  The kernel is fully batch-vectorized (``_minhash_batch``) —
    no per-row Python in the hot path.
    """
    a_params, b_params = _hash_params(n_hashes, seed)

    @F.pandas_udf(ArrayType(LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        return pd.Series(
            _minhash_batch(texts, a_params, b_params, shingle),
            index=texts.index, dtype=object,
        )

    return sig


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n_hashes: int = 64, shingle: int = 5, seed: int = 42,
) -> DataFrame:
    # invalid UTF-8 (a binary cast) is repaired to U+FFFD before Arrow
    return df.select(
        F.col(id_col),
        minhash_udf(n_hashes, shingle, seed)(F.make_valid_utf8(text_col))
        .alias("signature"),
    )


def _banded(signatures: DataFrame, id_col: str, bands: int, rows_per_band: int) -> DataFrame:
    return signatures.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band)
                ),
            )
        ).alias("band", "band_hash"),
    )


def bucket_pairs(
    banded: DataFrame, id_col: str = "doc_id", key: str = "band_hash",
    max_bucket: int | None = 64,
) -> DataFrame:
    """Candidate pairs of every LSH family: distinct ``(id_a, id_b)`` with
    ``id_a < id_b`` for each two rows of ``banded`` that share a
    ``(band, key)`` bucket.  Every other column of ``banded`` rides through
    as ``<col>_a`` / ``<col>_b`` (simhash carries its hashes this way).

    Buckets with more than ``max_bucket`` members are dropped first.  One
    viral boilerplate string at 10^12 docs otherwise makes a quadratic
    bucket (|b|² pairs); genuinely-similar clusters that big are a
    boilerplate class, not near-dup pairs — surface them via
    ``lsh_hot_buckets`` instead.  The bucket count is a window over the same
    (band, key) shuffle the self-join needs (no extra agg+join).  Residual
    in-bucket skew is left to AQE skew-join at runtime.

    The capped table is cached: the self-join consumes it twice, and
    without the cache each side can re-run the banding (and any signature
    kernel under it) plus the cap window's shuffle — exchange reuse does
    not save minhash, whose cached signature table sits below the banding
    (r8 interleaved A/B: −14% on the 10× minhash corpus; the cached rows
    are the narrow ``(id, band, key)`` proxy)."""
    if max_bucket is not None:
        w = Window.partitionBy("band", key)
        banded = (
            banded.withColumn("_bucket_n", F.count("*").over(w))
            .filter(F.col("_bucket_n") <= max_bucket)
            .drop("_bucket_n")
        )
    banded.cache()
    extra = [c for c in banded.columns if c not in (id_col, "band", key)]
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"),
            *[F.col(f"{side}.{c}").alias(f"{c}_{side}")
              for c in extra for side in "ab"],
        )
        .distinct()
    )


def lsh_hot_buckets_from_banded(
    banded: DataFrame, id_col: str = "doc_id", max_bucket: int = 64,
) -> DataFrame:
    """Hot-bucket side table from a prebuilt banded table (e.g. one staged
    to parquet — the driver contract replays exactly this group-by)."""
    return (
        banded.groupBy("band", "band_hash")
        .agg(F.count("*").alias("n"), F.min(id_col).alias("rep_id"))
        .filter(F.col("n") > max_bucket)
    )


def lsh_hot_buckets(
    signatures: DataFrame, id_col: str = "doc_id",
    bands: int = 16, rows_per_band: int = 4, max_bucket: int = 64,
) -> DataFrame:
    """The boilerplate side table: buckets the cap dropped, with sizes and a
    representative id — feed to a boilerplate-class review pipeline."""
    banded = _banded(signatures, id_col, bands, rows_per_band)
    return lsh_hot_buckets_from_banded(banded, id_col, max_bucket)


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str = "doc_id",
    bands: int = 16, rows_per_band: int = 4,
    max_bucket: int | None = 64,
) -> DataFrame:
    """Band the signatures and self-join buckets → candidate pairs (a < b).

    Scale analysis: the exploded band table is n·bands rows; the self-join is
    per (band, band_hash) bucket — genuinely similar docs collide, everything
    else distributes.  Hot buckets (boilerplate) are dropped at
    ``max_bucket`` members (see ``bucket_pairs``/``lsh_hot_buckets``).
    """
    return bucket_pairs(
        _banded(signatures, id_col, bands, rows_per_band), id_col,
        "band_hash", max_bucket,
    )


def minhash_similarity(
    pairs: DataFrame, signatures: DataFrame, id_col: str = "doc_id",
) -> DataFrame:
    """Estimated Jaccard = fraction of agreeing minhash components."""
    sig_a = signatures.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"))
    sig_b = signatures.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"))
    joined = pairs.join(sig_a, "id_a").join(sig_b, "id_b")
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
            lambda v: v,
        )
    )
    return joined.select(
        "id_a", "id_b",
        (agree / F.size("sig_a")).alias("est_jaccard"),
    )


def minhash_near_dups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n_hashes: int = 64, shingle: int = 5, seed: int = 42,
    bands: int = 16, threshold: float = 0.6,
    max_bucket: int | None = 64,
) -> DataFrame:
    sigs = minhash_signatures(df, text_col, id_col, n_hashes, shingle, seed)
    sigs.cache()
    pairs = lsh_candidate_pairs(sigs, id_col, bands, n_hashes // bands, max_bucket)
    sim = minhash_similarity(pairs, sigs, id_col)
    return sim.filter(F.col("est_jaccard") >= threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_col(text_col: str) -> F.Column:
    """64-bit simhash from whitespace tokens, entirely native (no UDF):
    per-token xxhash64 → per-bit ±1 votes → sign bits.

    Bit b of the simhash = 1 iff Σ_tokens sign(bit b of xxhash64(token)) > 0.
    Implemented with aggregate() over the token array per row.
    """
    n_bits = 64
    tokens = F.array_distinct(F.split(F.col(text_col), "\\s+"))
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))

    def bit_vote(acc, h):
        # acc: array<int> of vote counters; add ±1 per bit of h.
        # Bit positions are Python ints (shiftright requires literal counts).
        bits = F.array(*[
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            for b in range(n_bits)
        ])
        return F.zip_with(acc, bits, lambda a, v: a + v)

    votes = F.aggregate(hashes, F.array_repeat(F.lit(0), n_bits), bit_vote)
    # fold sign bits into a long (bit 63 is the sign bit of int64)
    out = F.lit(0).cast("long")
    for b in range(n_bits):
        weight = F.lit(-(1 << 63) if b == 63 else (1 << b)).cast("long")
        out = out.bitwiseOR(F.when(votes[b] > 0, weight).otherwise(F.lit(0).cast("long")))
    return out


def simhash_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Docs sharing an identical simhash (strong near-dup signal)."""
    h = df.select(F.col(id_col), simhash_col(text_col).alias("simhash"))
    return (
        h.groupBy("simhash")
        .agg(F.count("*").alias("n"), F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.col("n") > 1)
    )


def simhash_banded(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    bands: int = 8,
) -> DataFrame:
    """``(id, simhash, band, band_bits)``: the simhash split into ``bands``
    equal bit-bands (the pigeonhole bucketing table).  Exposed so the driver
    contract can stage it for the DuckDB oracle replay."""
    assert 64 % bands == 0
    width = 64 // bands
    mask = (1 << width) - 1
    h = df.select(F.col(id_col), simhash_col(text_col).alias("simhash"))
    return h.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(*[
                # shiftrightunsigned needs a Python-int bit count → unrolled
                F.shiftrightunsigned("simhash", b * width).bitwiseAND(F.lit(mask))
                for b in range(bands)
            ])
        ).alias("band", "band_bits"),
    )


def simhash_near_dup_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_hamming: int = 3, bands: int = 8, max_bucket: int | None = 256,
) -> DataFrame:
    """Near-dup pairs at small hamming distance between 64-bit simhashes.

    Bucketing: split the simhash into ``bands`` equal bit-bands; by
    pigeonhole any pair with hamming < ``bands`` agrees on at least one full
    band, so a (band, band_bits) equi-self-join finds every such pair without
    any all-pairs comparison (requires max_hamming < bands — asserted).
    Candidates are then filtered with native ``bit_count(a XOR b)``.
    Hot identical-simhash buckets are capped like the minhash LSH path.
    """
    assert max_hamming < bands, "pigeonhole guarantee needs max_hamming < bands"
    banded = simhash_banded(df, text_col, id_col, bands)
    return simhash_pairs_from_banded(
        banded, id_col, max_hamming=max_hamming, bands=bands,
        max_bucket=max_bucket,
    )


def simhash_pairs_from_banded(
    banded: DataFrame, id_col: str = "doc_id",
    max_hamming: int = 3, bands: int = 8, max_bucket: int | None = 256,
) -> DataFrame:
    """Cap + self-join + hamming filter over a prebuilt banded table (e.g.
    one staged to parquet — the driver contract replays exactly this)."""
    assert max_hamming < bands, "pigeonhole guarantee needs max_hamming < bands"
    pairs = bucket_pairs(banded, id_col, "band_bits", max_bucket).select(
        "id_a", "id_b",
        F.bit_count(
            F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
        ).alias("hamming"),
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, on candidate pairs)
# ---------------------------------------------------------------------------


def token_ngrams(text_col: str, n: int = 3) -> F.Column:
    toks = F.split(F.col(text_col), "\\s+")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def ngram_jaccard(
    pairs: DataFrame, df: DataFrame, text_col: str = "text",
    id_col: str = "doc_id", n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs — native array ops only."""
    grams = df.select(F.col(id_col), token_ngrams(text_col, n).alias("grams"))
    ga = grams.select(F.col(id_col).alias("id_a"), F.col("grams").alias("g_a"))
    gb = grams.select(F.col(id_col).alias("id_b"), F.col("grams").alias("g_b"))
    j = pairs.join(ga, "id_a").join(gb, "id_b")
    inter = F.size(F.array_intersect("g_a", "g_b"))
    union = F.size(F.array_union("g_a", "g_b"))
    return j.select(
        "id_a", "id_b",
        (inter / F.greatest(union, F.lit(1))).alias("jaccard"),
    )


def paragraph_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    sep: str = "\n\n", min_chars: int = 1, key_fn=None,
) -> DataFrame:
    """Corpus-level exact PARAGRAPH dedup (the C4/RefinedWeb trick): split
    each document on ``sep``, keep only the FIRST occurrence of every exact
    paragraph corpus-wide (first = smallest ``(id, position)``), reassemble
    documents in original paragraph order.  Boilerplate paragraphs repeated
    across millions of pages survive exactly once, in the earliest document.

    Scale shape: keep-first is a groupBy + equi-join back — NOT a window
    over para — so a paragraph repeated 10^8 times is a map-side-combined
    aggregation, never a single task sorting 10^8 rows.  Two constant-factor
    choices matter at 100 TB and are deliberate here:

    * the group/join key is ``xxhash64(para)``, NOT the raw paragraph text —
      shuffle keys are 8 bytes instead of 1-10 KB of boilerplate.  A 64-bit
      collision falsely merges two distinct paragraphs (keeps one); expected
      collisions ≈ n²/2⁶⁵ ≈ 3 at n = 10^10 paragraphs — noise for a training
      corpus.  Collision-paranoid callers pass ``key_fn=lambda c:
      F.sha2(c, 256)`` (32-byte keys, still ≫10× smaller than the text).
    * the keep-first witness ``min(struct(id, pos))`` is packed into ONE
      orderable BIGINT ``id·2³² + pos``: min-of-struct has an immutable agg
      buffer and plans **SortAggregate** (every partition sorts by key before
      aggregating), while min-of-bigint hash-aggregates with map-side
      combine.  Requires ``0 ≤ id < 2³¹`` and ``pos < 2³²`` — ANSI mode
      turns an id overflow into a hard error rather than silent misorder,
      and pos is bounded by paragraphs-per-document.

    Paragraphs shorter than ``min_chars`` (e.g. the empty strings a trailing
    separator produces) bypass dedup and are kept verbatim.  Documents whose
    every paragraph was deduplicated away come back with empty text (kept,
    not dropped, so lineage row counts hold).
    """
    import re as _re

    parts = F.split(F.col(text_col), _re.escape(sep), -1)
    paras = df.select(
        F.col(id_col), F.posexplode(parts).alias("pos", "para")
    )
    cand = paras.filter(F.length("para") >= min_chars)
    short = paras.filter(F.length("para") < min_chars)
    keyed = cand.select(
        F.col(id_col), "pos", "para",
        (key_fn or F.xxhash64)(F.col("para")).alias("_pk"),
        (F.col(id_col).cast("long") * F.lit(1 << 32).cast("long")
         + F.col("pos").cast("long")).alias("_w"),
    )
    firsts = keyed.groupBy("_pk").agg(F.min("_w").alias("_w0"))
    kept = (
        keyed.join(firsts, "_pk")
        .filter(F.col("_w") == F.col("_w0"))
        .select(F.col(id_col), "pos", "para")
    )
    surviving = kept.unionByName(short)
    rebuilt = surviving.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            sep,
        ).alias(text_col)
    )
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(F.col(id_col),
                F.coalesce(F.col(text_col), F.lit("")).alias(text_col))
    )
