"""Alternate engines for the quality-filter stages, kept only as
differential-test references for the production path in
``bytefreq_spark.pipeline``:

* ``mask_col`` — the JVM mask chain (translate + regexp passes +
  backreference collapse) as native Column expressions, vs the Arrow kernel
  ``masks.mask_pandas_udf`` and the pure-Python ``masks.mask_str``;
* ``with_mask_key`` — the JVM mask chain for the dictionary key, vs the
  Arrow kernel in ``featurize`` / ``with_mask_key_arrow``;
* ``with_dup_flag`` — the duplicate flag as a lag over the raw text, vs the
  pre-shuffle 64-bit hash lag in ``with_dup_flag_hashed``;
* ``with_prev_turn`` — the duplicate flag as a self-join on
  ``(conv_id, turn_idx - 1)``, which needs no conversation layout;
* ``with_decision_udf`` — the keep/drop decision through the ``decide()``
  kernel in a pandas UDF, vs the native ``decision_cols`` expressions;
* ``hyperplane_signature_col`` — the hyperplane-LSH signature as a native
  literal-tree expression, vs the Arrow kernels behind
  ``similarity.hyperplane_signatures``;
* ``text_features_naive`` — per-class ``str.count`` over the HU mask string
  and a per-row regex LU key, vs the flat-buffer ``quality.text_features``;
* ``detect_language_naive`` — regex script counts and per-token
  ``str.lower()`` set membership, vs the vectorized ``langid`` cascade;
* ``scrub_series_naive`` — the rule table over every row, vs the
  prefiltered ``scrub.scrub_series`` / ``scrub_series_sparse``;
* ``_minhash_batch_naive`` — one row at a time, vs the batch-flattened
  ``dedup._minhash_batch``;
* ``repair_encoding_series`` — the mojibake table as pandas literal
  replaces behind a lead-character prefilter, vs the JVM chain
  ``scrub.repair_encoding_col``.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StringType, StructField, StructType

from bytefreq_spark.dedup import _POLY_BASE
from bytefreq_spark.langid import (
    CAP_CHARS as LANGID_CAP_CHARS,
    LATIN_MARKER_WORDS,
    LATIN_ORDER,
    MIN_CHARS,
    SCRIPT_PATTERNS,
    script_threshold,
)
from bytefreq_spark.masks import GRAINS, _H_STEPS, mask_series, mask_str
from bytefreq_spark.quality import LU_KEY_LEN, LU_KEY_SRC_CHARS, decide
from bytefreq_spark.scrub import MOJIBAKE_MAP, SCRUB_RULES
from bytefreq_spark.similarity import _dot

DECISION_SCHEMA = StructType([
    StructField("keep", BooleanType()),
    StructField("drop_reason", StringType()),
])


# Java-regex HU rules.  Rust char::is_whitespace == Unicode White_Space ==
# these Cc chars + Zs+Zl+Zp.  Order matters: ASCII rules first, then
# whitespace, then Unicode categories, then the catch-all.
_HU_STEPS = _H_STEPS + [
    ("[\\t\\n\\x0B\\f\\r\\x85\\p{Zs}\\p{Zl}\\p{Zp}]", " "),
    ("[\\p{Lu}\\p{Lt}]", "A"),
    ("[\\p{Ll}\\p{Lo}\\p{Lm}]", "a"),
    ("[\\p{Nd}\\p{Nl}\\p{No}]", "9"),
    ('[^Aa9 ",.\\-]', "_"),
]

# (?s) DOTALL so runs of line terminators collapse too — the reference's
# Rust char loop (main.rs:79-95) and the DuckDB list-lambda both collapse
# every repeated char including \n; without DOTALL Java/Python `.` skips them.
_COLLAPSE_JAVA = ("(?s)(.)\\1+", "$1")

_ASCII_SRC = (
    "abcdefghijklmnopqrstuvwxyz" "ABCDEFGHIJKLMNOPQRSTUVWXYZ" "0123456789"
)
_ASCII_DST = "a" * 26 + "A" * 26 + "9" * 10

# HU steps after the ASCII translate (whitespace, categories, catch-all)
_HU_TAIL = _HU_STEPS[3:]


def mask_col(col: F.Column | str, grain: str = "LU") -> F.Column:
    """Native-Column mask expression (JVM, whole-stage codegen friendly).

    The ASCII a-z/A-Z/0-9 mapping is a single ``translate`` (char table, no
    regex engine); only the Unicode-category rules need regexp passes.
    NULL in, NULL out."""
    c = F.col(col) if isinstance(col, str) else col
    if grain not in GRAINS:
        grain = "HU"  # reference: unknown grain falls through to HU (main.rs:104)
    out = F.translate(c, _ASCII_SRC, _ASCII_DST)
    if grain in ("HU", "LU"):
        for pat, rep in _HU_TAIL:
            out = F.regexp_replace(out, pat, rep)
    if grain in ("L", "LU"):
        out = F.regexp_replace(out, *_COLLAPSE_JAVA)
        out = F.when(out == "", F.lit("_")).otherwise(out)
    return out


def with_mask_key(df: DataFrame) -> DataFrame:
    """JVM-only columns: LU-mask dictionary key + char count (NULL text →
    NULL key, as mask_col propagates NULL)."""
    return df.withColumns({
        # same prefix rule as quality.text_features (frozen contract)
        "lu_key": F.substring(
            mask_col(F.substring(F.col("text"), 1, LU_KEY_SRC_CHARS), "LU"),
            1, LU_KEY_LEN,
        ),
        "n_chars": F.coalesce(F.length("text"), F.lit(0)).cast("long"),
    })


def with_dup_flag(df: DataFrame) -> DataFrame:
    """Duplicate-turn flag as a lag over the raw text; must run on a
    ``conversation_layout`` frame."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    prev = F.lag("text").over(w)
    return df.withColumn(
        "is_dup",
        prev.isNotNull()
        & (prev == F.col("text"))
        & (F.coalesce(F.col("text"), F.lit("")) != ""),
    )


def with_prev_turn(df: DataFrame) -> DataFrame:
    """Duplicate-turn flag as a self-join on the composite key (no layout
    requirement; costs its own shuffle of both sides)."""
    prev = df.select(
        F.col("conv_id").alias("conv_id"),
        (F.col("turn_idx") + 1).alias("turn_idx"),
        F.col("text").alias("_prev_text"),
    )
    joined = df.join(prev, ["conv_id", "turn_idx"], "left")
    return joined.withColumn(
        "is_dup",
        F.col("_prev_text").isNotNull()
        & (F.col("_prev_text") == F.col("text"))
        & (F.coalesce(F.col("text"), F.lit("")) != ""),
    ).drop("_prev_text")


def _decide_udf():
    @F.pandas_udf(DECISION_SCHEMA)
    def dec(
        lang: pd.Series, ppl: pd.Series, n_chars: pd.Series,
        digit_count: pd.Series, weird_count: pd.Series, mask_entropy: pd.Series,
        lu_count: pd.Series, lu_total: pd.Series, is_dup: pd.Series,
        role: pd.Series,
    ) -> pd.DataFrame:
        return decide(lang, ppl, n_chars, digit_count, weird_count,
                      mask_entropy, lu_count, lu_total, is_dup, role)

    return dec


def with_decision_udf(df: DataFrame) -> DataFrame:
    """Keep/drop through the ``decide()`` kernel in a pandas UDF."""
    dec = _decide_udf()(
        F.col("lang"), F.col("ppl"), F.col("n_chars"), F.col("digit_count"),
        F.col("weird_count"), F.col("mask_entropy"), F.col("lu_count"),
        F.col("lu_total"), F.col("is_dup"), F.col("role"),
    )
    return df.withColumn("_d", dec).select("*", "_d.*").drop("_d")


def hyperplane_signature_col(vec_col: str, planes: np.ndarray) -> F.Column:
    """Sign-bit signature of a vector against fixed random hyperplanes as
    native expressions: each plane is a literal array and each dot product a
    ``zip_with``/``aggregate`` fold (n_planes × dim literal nodes)."""
    bits = []
    for i, p in enumerate(planes):
        lit = F.array(*[F.lit(float(x)) for x in p])
        bits.append(
            F.when(_dot(F.col(vec_col), lit) >= 0,
                   F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


# HU mask char classes for entropy: lower, upper, digit, space (other is the
# remainder)
_CLASS_PATTERNS = ["a", "A", "9", " "]


def text_features_naive(texts: pd.Series) -> pd.DataFrame:
    """Per-class ``str.count`` over the HU mask string, and the LU key from
    the per-value regex mask ``mask_str``."""
    t = texts.fillna("")
    hu = mask_series(t, "HU")
    lu = t.str.slice(0, LU_KEY_SRC_CHARS).map(lambda v: mask_str(v, "LU"))

    n_chars = t.str.len().to_numpy(np.int64)
    counts = np.stack(
        [hu.str.count(c).to_numpy(np.int64) for c in _CLASS_PATTERNS]
    )
    known = counts.sum(axis=0)
    other = np.maximum(n_chars - known, 0)
    weird = hu.str.count("_").to_numpy(np.int64)
    digits = counts[2]

    full = np.vstack([counts, other[None, :]]).astype(np.float64)
    total = np.maximum(full.sum(axis=0), 1.0)
    p = full / total
    with np.errstate(divide="ignore", invalid="ignore"):
        ent = -np.nansum(np.where(p > 0, p * np.log(p), 0.0), axis=0)

    return pd.DataFrame(
        {
            "n_chars": n_chars,
            "n_tokens": t.str.count(r"\S+").to_numpy(np.int64),
            "digit_count": digits,
            "weird_count": weird,
            "mask_entropy": ent,
            "lu_key": lu.str.slice(0, LU_KEY_LEN).astype(object),
        },
        index=texts.index,
    )


def detect_language_naive(texts: pd.Series) -> pd.Series:
    """Per-row formulation of the ``langid.detect_language`` spec: regex
    script counts, findall-tokenize, per-token ``str.lower()`` set
    membership.

    History: the original naive used ``(?i)\\b<word>\\b`` alternation counts
    and the original fast path lowered the text BEFORE tokenizing; the two
    agreed everywhere except around U+0130 ('İ'), where regex case folding
    ('İ' (?i)-matches 'i') and lower-then-split each invent different
    tokens.  r6 froze the token spec (tokenize the original, compare
    token.lower()) and aligned both implementations to it — see the spec
    note above ``langid.MIN_CHARS`` and test_langid_dotted_I_spec."""
    import re

    t = texts.fillna("").str.slice(0, LANGID_CAP_CHARS)
    n = len(t)
    n_chars = t.str.len().to_numpy(dtype=np.int64)

    out = np.full(n, "und", dtype=object)
    decided = n_chars < MIN_CHARS

    for lang, pat in SCRIPT_PATTERNS.items():
        num, den = script_threshold(lang)
        cnt = t.str.count(pat).to_numpy(dtype=np.int64)
        fire = (~decided) & (cnt * den >= n_chars * num)
        out[fire] = lang
        decided |= fire

    word_re = re.compile(r"\w+")
    marker_sets = {
        lang: set(words) for lang, words in LATIN_MARKER_WORDS.items()
    }
    scores = np.zeros((len(LATIN_ORDER), n), dtype=np.int64)
    for r, row in enumerate(t):
        lows = [tok.lower() for tok in word_re.findall(row)]
        for i, lang in enumerate(LATIN_ORDER):
            mset = marker_sets[lang]
            scores[i, r] = sum(1 for w_ in lows if w_ in mset) * 1000
    norm = scores // np.maximum(n_chars, 1)
    best = np.argmax(norm, axis=0)
    best_score = norm[best, np.arange(n)]
    latin = (~decided) & (best_score > 0)
    out[latin] = np.array(LATIN_ORDER, dtype=object)[best[latin]]

    return pd.Series(out, index=texts.index, dtype=object)


def scrub_series_naive(texts: pd.Series) -> pd.Series:
    """The rule table over every row, with no prefilter."""
    out = texts.fillna("")
    for _name, pat, rep in SCRUB_RULES:
        out = out.str.replace(pat, rep, regex=True)
    return out


# every mojibake sequence starts with one of these lead bytes-as-chars;
# rows without them cannot need repair (same prefilter shape as scrub)
_MOJIBAKE_LEADS = "".join(sorted({re.escape(bad[0]) for bad, _ in MOJIBAKE_MAP}))


def repair_encoding_series(texts: pd.Series) -> pd.Series:
    """Vectorized mojibake repair (ordered literal replacements),
    prefiltered to rows containing a mojibake lead character."""
    out = texts.fillna("")
    m = out.str.contains(f"[{_MOJIBAKE_LEADS}]", regex=True)
    if not m.any():
        return out
    sub = out[m]
    for bad, good in MOJIBAKE_MAP:
        sub = sub.str.replace(bad, good, regex=False)
    out = out.copy()
    out[m] = sub
    return out


def _minhash_batch_naive(
    texts: pd.Series, a_params: np.ndarray, b_params: np.ndarray, shingle: int,
) -> list[np.ndarray]:
    """Row-at-a-time minhash (same hash family, straightforward
    formulation)."""
    def codes_of(t: str) -> np.ndarray:
        raw = t.encode("utf-32-le", "surrogatepass")
        return np.frombuffer(raw, dtype=np.uint32).astype(np.int64)

    out = []
    for t in texts.fillna(""):
        if len(t) < shingle:
            sh = np.array([codes_of(t or "\x00").sum()], dtype=np.int64)
        else:
            codes = codes_of(t)
            # rolling polynomial hash over windows of length `shingle`
            win = np.lib.stride_tricks.sliding_window_view(codes, shingle)
            pows = np.power(_POLY_BASE, np.arange(shingle, dtype=np.int64),
                            dtype=np.int64)  # wraps mod 2^64: deterministic
            sh = (win * pows).sum(axis=1)
        x = sh[None, :].astype(np.uint64)
        av = a_params[:, None].astype(np.uint64)
        bv = b_params[:, None].astype(np.uint64)
        hv = av * x + bv  # multiply-shift family: wraps mod 2^64
        out.append(hv.min(axis=1).view(np.int64).copy())
    return out
