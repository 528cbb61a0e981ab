"""Per-turn heuristic quality features + the keep/drop decision function.

bytefreq's *reports* turned into *features* (SURVEY.md §7.2 step 4):

* char-class counts / mask entropy — the HU mask's class distribution
  (bytefreq's field-level freq report, per turn instead of per column);
* rare-pattern ratio — this turn's LU mask frequency in the corpus-wide
  mask-frequency dictionary (A1's output re-applied, J4);
* char-class outliers — fraction of chars masking to ``_`` (the "weird" class).

All functions are shared verbatim by the distributed pandas-UDF stages and the
single-node reference pipeline, so agreement is structural.  Thresholds use
integer cross-multiplication wherever possible (no float-boundary flakiness —
SURVEY.md §7.5 risk 3).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .masks import (
    CodepointTable, flat_codes, hu_class_codes, lu_mask_key_series,
)

# Decision thresholds (frozen contract)
MAX_CHARS = 20_000
WEIRD_NUM, WEIRD_DEN = 1, 5          # drop if weird_count * 5 > n_chars  (>20%)
DIGIT_NUM, DIGIT_DEN = 1, 2          # drop if digit_count * 2 > n_chars  (>50%)
PPL_MAX = 30.0                       # Latin-script prose only
RARE_PPM = 1_000                     # drop short turns whose LU mask freq < 0.1%
RARE_MAX_CHARS = 20                  # rare-pattern rule applies only to short turns
ENTROPY_MIN = 0.5                    # nats; boilerplate/repetition floor
ENTROPY_MIN_CHARS = 20
LATIN_LANGS = ("en", "fr", "de", "es")
ALLOWED_LANGS = ("en", "fr", "de", "es", "ja", "zh", "ru", "el", "hi",
                 "ko", "th", "he", "ur", "fa", "ar")
LU_KEY_LEN = 64                      # mask-dictionary key = LU mask truncated
LU_KEY_SRC_CHARS = 512               # ...computed from this text prefix only

# \s ≡ str.isspace (the token split); no astral whitespace exists, so the
# BMP-dense table leaves only emoji and other astral codes to the tail
_is_space = CodepointTable(lambda cp: chr(cp).isspace(), 0x10000, bool)


def _rowwise_sum(vals: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Per-row sum of a flat int64 buffer (segmented reduce; empty-row safe).

    ``np.add.reduceat`` over a same-dtype int64 buffer streams at memory
    speed; reduceat with a ``dtype=`` upcast from int8 falls into a per-
    element casting loop measured 13× slower — hence callers astype first.
    Two empty-row quirks are handled explicitly: an interior empty row makes
    reduceat return the single element at its start (zeroed afterward via
    ``lens == 0``), and a TRAILING empty row has start == len(vals), which
    reduceat rejects — those rows are excluded up front (their sum is 0 by
    definition), which also keeps the last valid row's segment running to
    the buffer end."""
    out = np.zeros(len(starts), dtype=vals.dtype)
    if not len(vals):
        return out
    valid = starts < len(vals)
    if valid.all():
        out = np.add.reduceat(vals, starts)
    elif valid.any():
        out[valid] = np.add.reduceat(vals, starts[valid])
    out[lens == 0] = 0
    return out


def _rowwise_count(mask: np.ndarray, starts: np.ndarray, lens: np.ndarray,
                   bound: int) -> np.ndarray:
    """Per-row popcount of a flat boolean mask whose row counts are at most
    ``bound``: a uint16 accumulator when that fits, else uint32 — the
    narrowest reduceat buffer (uint16 measured ~16% faster than int32)."""
    acc = np.uint16 if bound < (1 << 16) else np.uint32
    return _rowwise_sum(mask.astype(acc), starts, lens).astype(np.int64)


def _class_counts(cls: np.ndarray, classes, starts: np.ndarray,
                  lens: np.ndarray, max_len: int) -> np.ndarray:
    """(len(classes), n_rows) per-row count of each class id in the flat
    int8 buffer ``cls``, for rows of at most ``max_len`` codes.

    Counts ride packed: a row's count fits ``w = max_len.bit_length()``
    bits, so class ``classes[i]`` adds ``1 << (w * field)`` to an int64
    word of ``64 // w`` fields, and ONE gather + segmented reduce counts
    every class of the word (the one-pass-per-class formulation measured
    8× slower on a 176M-char batch).  Five classes take one word below
    4096-char rows, then 4+1, 3+2 and (from 2^21) 2+2+1 fields.  A field
    may set bit 63: the wraparound is benign, adds and shift+mask are
    bit-exact in two's complement.  A word left with one field counts by
    compare-and-cast (``_rowwise_count``): a gather there measured 3.4×
    slower on a 4.2M-char batch."""
    w = max(max_len.bit_length(), 1)
    per_word = 64 // w
    field = (1 << w) - 1
    out = []
    for k in range(0, len(classes), per_word):
        word = classes[k:k + per_word]
        if len(word) == 1:
            out.append(_rowwise_count(cls == word[0], starts, lens, max_len))
            continue
        pack = np.zeros(256, dtype=np.int64)  # one slot per int8 class id
        for i, c in enumerate(word):
            pack[c] = np.int64(1) << (w * i)
        s = _rowwise_sum(pack[cls], starts, lens)
        out.extend((s >> (w * i)) & field for i in range(len(word)))
    return np.stack(out)


def text_features(texts: pd.Series) -> pd.DataFrame:
    """Vectorized per-turn features from the HU mask + raw text.

    ONE flat codepoint buffer per batch (utf-32 view), classified per-cp
    directly (``hu_class_codes``) — the HU mask string is never
    materialized — and counted per row by packed segmented reduces whose
    field width follows the batch's longest row (``_class_counts``).
    Identical results to ``text_features_naive``
    (tests/reference_paths.py) by the kernel differential test."""
    t = texts.fillna("")
    # fused flat-buffer LU key (≡ mask_series(prefix).str.slice(0, key_len);
    # differential-tested) — one flatten + table gather instead of per-char
    # dict translate + re-flatten, decoding only the surviving key chars
    lu = lu_mask_key_series(t, LU_KEY_SRC_CHARS, LU_KEY_LEN)

    rcodes, rstarts, rlens = flat_codes(t)
    n_chars = rlens.astype(np.int64)

    # per-row counts of the HU classes a, A, 9, space and weird (cls 4
    # exactly; 5 is the kept punctuation)
    max_len = int(rlens.max()) if len(rlens) else 0
    counts = _class_counts(hu_class_codes(rcodes), range(5), rstarts, rlens,
                           max_len)
    weird = counts[4]
    counts = counts[:4]  # a, A, 9, space
    known = counts.sum(axis=0)
    other = np.maximum(n_chars - known, 0)  # '_' + kept punctuation ",.-\""
    digits = counts[2]

    # token count ≡ str.count(r"\S+"): non-ws positions preceded by ws/start
    # (tokens per row ≤ ceil(len/2), so max_len bounds the count)
    ws = _is_space(rcodes)
    prev_ws = np.empty(len(rcodes), dtype=bool)
    if len(rcodes):
        prev_ws[0] = True
        prev_ws[1:] = ws[:-1]
        prev_ws[rstarts[rstarts < len(rcodes)]] = True  # rows are independent
    n_tokens = _rowwise_count(~ws & prev_ws, rstarts, rlens, max_len)

    # class entropy (nats) over [a, A, 9, space, other]
    full = np.vstack([counts, other[None, :]]).astype(np.float64)
    total = np.maximum(full.sum(axis=0), 1.0)
    p = full / total
    with np.errstate(divide="ignore", invalid="ignore"):
        ent = -np.nansum(np.where(p > 0, p * np.log(p), 0.0), axis=0)

    return pd.DataFrame(
        {
            "n_chars": n_chars,
            "n_tokens": n_tokens,
            "digit_count": digits,
            "weird_count": weird,
            "mask_entropy": ent,
            "lu_key": lu,  # already truncated by the fused kernel
        },
        index=texts.index,
    )


def decide(
    lang: pd.Series,
    ppl: pd.Series,
    n_chars: pd.Series,
    digit_count: pd.Series,
    weird_count: pd.Series,
    mask_entropy: pd.Series,
    lu_count: pd.Series,
    lu_total: pd.Series,
    is_dup: pd.Series,
    role: pd.Series,
) -> pd.DataFrame:
    """Keep/drop + first-firing drop reason.  Vectorized; rule order frozen."""
    n = n_chars.to_numpy(np.int64)
    dc = digit_count.to_numpy(np.int64)
    wc = weird_count.to_numpy(np.int64)
    ent = mask_entropy.to_numpy(np.float64)
    lc = lu_count.fillna(0).to_numpy(np.int64)
    lt = lu_total.fillna(0).to_numpy(np.int64)
    ppl_v = ppl.to_numpy(np.float64)
    lang_v = lang.fillna("und").to_numpy(dtype=object)
    role_v = role.fillna("").to_numpy(dtype=object)
    dup_v = is_dup.fillna(False).to_numpy(dtype=bool)

    reasons = np.full(len(n), "", dtype=object)

    def fire(mask: np.ndarray, reason: str):
        m = mask & (reasons == "")
        reasons[m] = reason

    fire(n == 0, "empty")
    fire(n > MAX_CHARS, "too_long")
    fire(~np.isin(lang_v.astype(str), ALLOWED_LANGS), "lang")
    fire(wc * WEIRD_DEN > n * WEIRD_NUM, "weird_chars")
    fire(dc * DIGIT_DEN > n * DIGIT_NUM, "digits")
    is_latin = np.isin(lang_v.astype(str), LATIN_LANGS)
    prose_role = np.isin(role_v.astype(str), ("user", "assistant"))
    fire(is_latin & prose_role & (ppl_v > PPL_MAX), "perplexity")
    fire(
        (n < RARE_MAX_CHARS) & (lt > 0) & (lc * 1_000_000 < lt * RARE_PPM),
        "rare_pattern",
    )
    fire((n >= ENTROPY_MIN_CHARS) & (ent < ENTROPY_MIN), "low_entropy")
    fire(dup_v, "duplicate")

    keep = reasons == ""
    return pd.DataFrame(
        {"keep": keep, "drop_reason": np.where(keep, None, reasons)},
        index=n_chars.index,
    )
