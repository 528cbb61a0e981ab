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

# whitespace LUT matching regex \s EXACTLY (verified: \s ≡ str.isspace over
# the BMP; no astral whitespace exists) — max whitespace cp is U+3000
_WS_LUT_SIZE = 0x3001
_WS_LUT: np.ndarray | None = None


def _ws_lut() -> np.ndarray:
    global _WS_LUT
    if _WS_LUT is None:
        _WS_LUT = np.fromiter(
            (chr(i).isspace() for i in range(_WS_LUT_SIZE)),
            dtype=bool, count=_WS_LUT_SIZE,
        )
    return _WS_LUT


_WS_LUT_EXT: np.ndarray | None = None


def _ws_lut_ext() -> np.ndarray:
    """``_ws_lut`` plus one False sentinel at index ``_WS_LUT_SIZE`` so
    callers can clamp+gather (np.minimum) instead of the boolean-mask
    gather/scatter, which materializes a second full-size index buffer
    (measured 10× slower on a 176M-char batch)."""
    global _WS_LUT_EXT
    if _WS_LUT_EXT is None:
        _WS_LUT_EXT = np.append(_ws_lut(), False)
    return _WS_LUT_EXT


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


def _rowwise_count(mask: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Per-row popcount of a flat boolean mask (segmented reduce).  int32
    accumulator (rows are far below 2^31 chars): halves the memory traffic
    of the astype+reduceat pair on the flat buffer."""
    return _rowwise_sum(mask.astype(np.int32), starts, lens).astype(np.int64)




def text_features(texts: pd.Series) -> pd.DataFrame:
    """Vectorized per-turn features from the HU mask + raw text.

    ONE flat codepoint buffer per batch (utf-32 view), classified per-cp
    directly (``hu_class_codes``) — the HU mask string is never
    materialized, and class counts come from boundary-subtracted cumsums
    instead of a positions-repeat + bincount (the repeat alone allocated
    8 bytes/char).  Identical results to ``text_features_naive``
    (tests/reference_paths.py) by the kernel differential test."""
    from .masks import flat_codes, hu_class_codes, lu_mask_key_series

    t = texts.fillna("")
    # fused flat-buffer LU key (≡ mask_series(prefix).str.slice(0, key_len);
    # differential-tested) — one flatten + LUT gather instead of per-char
    # dict translate + re-flatten, decoding only the surviving key chars
    lu = lu_mask_key_series(t, LU_KEY_SRC_CHARS, LU_KEY_LEN)

    rcodes, rstarts, rlens = flat_codes(t)
    n_chars = rlens.astype(np.int64)

    # per-row class counts: class(cp) LUT, then all five classes in TWO
    # packed segmented reduces — class c contributes 1 << (21*field(c)) to
    # one of two int64 accumulators (3 + 2 fields of 21 bits), so each
    # reduce pass covers 3 classes instead of one compare+reduce per class
    # (5 passes → 2; measured 8× on a 176M-char batch).  21-bit fields hold
    # rows up to 2M chars; longer rows take the per-class fallback.
    cls = hu_class_codes(rcodes)
    max_len = int(rlens.max()) if len(rlens) else 0
    if max_len < (1 << 12):
        # short rows (the typical transcript-turn case): all five classes
        # fit 12-bit fields of a single int64 — ONE gather + ONE reduce
        pack = np.zeros(8, dtype=np.int64)
        for c, shift in ((0, 0), (1, 12), (2, 24), (3, 36), (4, 48)):
            pack[c] = np.int64(1) << shift
        s = _rowwise_sum(pack[cls], rstarts, rlens)
        m12 = (1 << 12) - 1
        counts = np.stack([
            s & m12, (s >> 12) & m12, (s >> 24) & m12, (s >> 36) & m12,
        ])  # a, A, 9, space
        weird = (s >> 48) & m12
    elif max_len < (1 << 16):
        # mid rows (the 4K-64K longdoc case): the FOUR reported classes fit
        # 16-bit fields of ONE int64 — half the gather+reduce traffic of the
        # two-pack 21-bit path below (VERDICT_r5: the duplicate pack gathers
        # were the remaining featurize body cost).  weird (cls 4 exactly —
        # higher class codes exist for punctuation/other) rides a separate
        # narrow segmented count.  The top field may set bit 63
        # (space_count ≥ 2^15 at position 48): int64 wraparound is benign —
        # adds and shift+mask are bit-pattern exact in two's complement.
        pack = np.zeros(8, dtype=np.int64)
        for c, shift in ((0, 0), (1, 16), (2, 32), (3, 48)):
            pack[c] = np.int64(1) << shift
        s = _rowwise_sum(pack[cls], rstarts, rlens)
        m16 = (1 << 16) - 1
        counts = np.stack([
            s & m16, (s >> 16) & m16, (s >> 32) & m16, (s >> 48) & m16,
        ])  # a, A, 9, space
        # uint16 accumulator: weird ≤ row len < 2^16 in this tier, and the
        # narrower reduceat buffer is ~16% faster than the int32 path
        weird = _rowwise_sum(
            (cls == 4).astype(np.uint16), rstarts, rlens
        ).astype(np.int64)
    elif max_len < (1 << 21):
        pack_a = np.zeros(8, dtype=np.int64)  # cls 0,1,2 -> fields 0,1,2
        pack_b = np.zeros(8, dtype=np.int64)  # cls 3,4   -> fields 0,1
        for c, shift in ((0, 0), (1, 21), (2, 42)):
            pack_a[c] = np.int64(1) << shift
        for c, shift in ((3, 0), (4, 21)):
            pack_b[c] = np.int64(1) << shift
        sum_a = _rowwise_sum(pack_a[cls], rstarts, rlens)
        sum_b = _rowwise_sum(pack_b[cls], rstarts, rlens)
        m21 = (1 << 21) - 1
        counts = np.stack([
            sum_a & m21, (sum_a >> 21) & m21, (sum_a >> 42) & m21,
            sum_b & m21,
        ])  # a, A, 9, space
        weird = (sum_b >> 21) & m21
    else:
        counts = np.stack(
            [_rowwise_count(cls == i, rstarts, rlens) for i in range(4)]
        )
        weird = _rowwise_count(cls == 4, rstarts, rlens)
    known = counts.sum(axis=0)
    other = np.maximum(n_chars - known, 0)  # '_' + kept punctuation ",.-\""
    digits = counts[2]

    # token count ≡ str.count(r"\S+"): non-ws positions preceded by ws/start.
    # take(mode='clip') clamps to the sentinel index (_WS_LUT_SIZE is False,
    # and no codepoint ≥ U+3001 is whitespace) without materializing the
    # np.minimum temp — ~25% faster than clamp-then-gather, bit-identical
    ws = _ws_lut_ext().take(rcodes, mode="clip")
    prev_ws = np.empty(len(rcodes), dtype=bool)
    if len(rcodes):
        prev_ws[0] = True
        prev_ws[1:] = ws[:-1]
        prev_ws[rstarts[rstarts < len(rcodes)]] = True  # rows are independent
    tok = ~ws & prev_ws
    if max_len < (1 << 16):
        # tokens per row ≤ ceil(len/2) < 2^15 here — uint16 accumulation
        # halves the reduceat buffer vs int32
        n_tokens = _rowwise_sum(
            tok.astype(np.uint16), rstarts, rlens).astype(np.int64)
    else:
        n_tokens = _rowwise_count(tok, rstarts, rlens)

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
