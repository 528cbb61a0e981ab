"""Vectorized language identification (fastText-style linear scoring, made
deterministic and SQL-free).

Two-tier classifier over a pandas Series of texts (no per-row Python — all
operations are C-level pandas/numpy):

1. **Script tier**: character-class ratios (kana / hangul / han-CJK /
   Cyrillic / Greek / Devanagari / Thai / Hebrew / Perso-Arabic, in
   ``SCRIPT_RANGES`` priority order) computed with vectorized range
   compares → ja / ko / zh / ru / el / hi / th / he / ur / fa / ar, each
   against its per-language threshold (``SCRIPT_THRESHOLDS``): scripts
   unambiguous for one language (kana→ja, hangul→ko, Urdu/Persian
   distinctive letters) fire at low thresholds AHEAD of the tiers for the
   scripts they share (han, the Arabic block).  Runs only on the
   non-ASCII subset (``str.isascii`` fast path — pure-ASCII text cannot
   contain script-tier characters).
2. **Latin tier**: per-language marker-token hit rates (the high-weight
   features a fastText supervised model learns for closely related Latin
   languages) → argmax with a fixed deterministic tie-break.  A hit is a
   maximal ``\\w+`` token of the original text whose ``str.lower()`` equals
   a marker word (spec note at ``MIN_CHARS``); implemented flat-buffer
   vectorized — \\w runs found positionally over the batch's codepoint
   array, tokens packed into uint32 keys and matched by searchsorted, no
   per-token Python objects (the regex findall + dict map it replaced spent
   85% of the tier materializing token strings).

Returns ISO-639-1 codes; ``und`` for empty/non-linguistic text.

The decision is one cascade over a per-row feature dict (``_features``):
the script tier, then the Latin argmax.  ``detect_language`` runs it on
the arrays directly; ``decide_from_features`` runs it over the columns of
``langid_feature_frame``, the staged input the ``langid_docs`` oracle
replays in DuckDB.  Marker scores are computed only for the rows the script
tier leaves undecided.  ``detect_language_naive`` in
``tests/reference_paths.py`` implements the same spec per-row with
re.findall and set membership; the differential tests assert fast == naive
so the vectorized kernel can never drift.

This mirrors bytefreq's mask philosophy: cheap character-class evidence first
(the HU mask already *is* a script detector), expensive modelling never.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# Unicode script ranges (public Unicode block boundaries) — the single
# source of truth: the fast path compares codepoints against these ranges
# directly; the regex character classes (used by the naive reference and by
# any SQL consumers) are DERIVED from them below, so they cannot drift.
# Dict ORDER is the tier order (first matching tier wins): ``ja`` runs
# BEFORE ``zh`` because kana characters are unambiguously Japanese while
# han characters are shared — the kana ratio decides ja vs zh (VERDICT_r6
# ask #3: labeling all Japanese as ``zh`` mis-routed an entire language).
SCRIPT_RANGES: dict[str, tuple[tuple[int, int], ...]] = {
    # hiragana, katakana, halfwidth katakana — all unambiguously Japanese
    "ja": ((0x3040, 0x309F), (0x30A0, 0x30FF), (0xFF66, 0xFF9F)),
    # hangul (syllables + jamo + compat jamo) — unambiguously Korean; runs
    # BEFORE zh for the same reason ja does: han is shared (hanja-mixed
    # Korean prose), hangul is not, so a small hangul presence decides ko
    "ko": ((0xAC00, 0xD7A3), (0x1100, 0x11FF), (0x3130, 0x318F)),
    "zh": ((0x3400, 0x4DBF), (0x4E00, 0x9FFF)),  # han (shared CJK ideographs)
    "ru": ((0x0400, 0x04FF),),
    "el": ((0x0370, 0x03FF),),
    "hi": ((0x0900, 0x097F),),
    "th": ((0x0E00, 0x0E7F),),
    "he": ((0x0590, 0x05FF),),
    # Perso-Arabic cascade, the ja→zh pattern one script over: the base
    # Arabic block is SHARED (ar/fa/ur/ps/ckb all write with it), so the
    # unambiguous-letter tiers run first.  ٹ ڈ ڑ ے are Urdu-only among the
    # majors (retroflexes + yeh barree, e.g. the copula ہے); پ چ ژ گ
    # distinguish Persian from Arabic but also appear in Urdu — hence ur
    # BEFORE fa.  Residual sharing (Pashto's extra retroflexes, Sorani)
    # resolves to fa/ar, the documented coverage edge (like kana/han before
    # the r7 ja split, but one tier narrower).
    "ur": ((0x0679, 0x0679), (0x0688, 0x0688), (0x0691, 0x0691),
           (0x06D2, 0x06D2)),
    "fa": ((0x067E, 0x067E), (0x0686, 0x0686), (0x0698, 0x0698),
           (0x06AF, 0x06AF)),
    "ar": ((0x0600, 0x06FF), (0x0750, 0x077F)),
}
SCRIPT_PATTERNS = {
    lang: "[" + "".join(f"{chr(lo)}-{chr(hi)}" for lo, hi in ranges) + "]"
    for lang, ranges in SCRIPT_RANGES.items()
}
SCRIPT_THRESHOLD_NUM = 3    # fire when script_chars * 10 >= n_chars * 3 (30%)
SCRIPT_THRESHOLD_DEN = 10
# Per-language overrides of the (num, den) firing fraction.  ja/ko use 10%:
# kana/hangul never appear in Chinese text, so a small unambiguous presence
# decides the language even in kanji/hanja-heavy prose (Japanese particles
# alone clear 10%), while 30% of SHARED han chars stays the zh bar.  ur/fa
# use 1%: their distinctive letters are single characters scattered through
# otherwise-shared Arabic script (a natural Urdu/Persian sentence runs
# ~2-5% of them), while 30% of the shared block stays the ar bar.
SCRIPT_THRESHOLDS: dict[str, tuple[int, int]] = {
    "ja": (1, 10),
    "ko": (1, 10),
    "ur": (1, 100),
    "fa": (1, 100),
}


def script_threshold(lang: str) -> tuple[int, int]:
    return SCRIPT_THRESHOLDS.get(
        lang, (SCRIPT_THRESHOLD_NUM, SCRIPT_THRESHOLD_DEN))

# Marker words per Latin language: function words a supervised linear model
# would weight highest.  Single source of truth — the naive path derives its
# word-bounded regexes from these same lists.
LATIN_MARKER_WORDS = {
    "en": ("the", "and", "of", "to", "is", "you", "that", "it", "with",
           "for", "this", "are", "was", "have", "not", "be"),
    "fr": ("le", "la", "les", "de", "des", "et", "est", "un", "une", "que",
           "qui", "dans", "pour", "pas", "vous", "je", "avec", "sur"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "ich",
           "sie", "mit", "auf", "für", "den", "von", "zu"),
    "es": ("el", "la", "los", "las", "de", "y", "es", "en", "que", "un",
           "una", "por", "para", "con", "no", "se", "su", "del"),
}
LATIN_ORDER = ["en", "fr", "de", "es"]  # deterministic tie-break order

# Marker-hit SPEC (frozen r6): a hit is a maximal ``\w+`` token of the
# ORIGINAL text whose ``str.lower()`` equals the marker word.  This replaced
# the earlier lower-then-tokenize formulation, which silently diverged from
# any boundary-respecting reading around U+0130 ('İ' is the one codepoint
# whose lower() is TWO chars — lowering first both split tokens at the
# combining dot AND manufactured boundary-free matches).  The token
# formulation is self-consistent, exactly mirrored by the naive reference,
# and fully vectorizable over the flat codepoint buffer.

MIN_CHARS = 3  # below this → und
CAP_CHARS = 2048  # language is decidable from a prefix; bounds cost on huge turns

# Packing geometry for the vectorized marker lookup: the distinct lowercase
# chars of the marker words form a ≤30-symbol alphabet, so each token char
# maps to a 5-bit code (0 unused, 31 = any char outside the alphabet,
# İ/multi-char-lower included) and a ≤5-char token packs into ONE uint32.
# 5-bit fields carry no inter-field arithmetic (max code 31 fits exactly),
# so pack(token) == pack(marker) ⟺ the lowered chars match positionally;
# any out-of-alphabet char puts a 31-field in the pack, which no marker key
# contains — invalid tokens fail the key comparison with no separate pass.
_TOK_MAX = 5
_CODE_BITS = 5
_INVALID_CODE = 31
_CODE_LUT_SIZE = 0x1000  # marker chars are all < U+1000; others can't match

# marker word → packed per-language membership bits (words can belong to
# several languages, e.g. 'la' in fr and es, 'de' in fr and es)
_PACKED: dict[str, int] = {}
for _i, _lang in enumerate(LATIN_ORDER):
    for _w in LATIN_MARKER_WORDS[_lang]:
        assert len(_w) <= _TOK_MAX and all(ord(c) < _CODE_LUT_SIZE for c in _w)
        _PACKED[_w] = _PACKED.get(_w, 0) | (1 << _i)

_MARKER_ALPHABET = sorted({c for w in _PACKED for c in w})
assert len(_MARKER_ALPHABET) <= _INVALID_CODE - 1
_CHAR_CODE = {c: i + 1 for i, c in enumerate(_MARKER_ALPHABET)}


def _pack_word(w: str) -> int:
    return sum(_CHAR_CODE[c] << (_CODE_BITS * i) for i, c in enumerate(w))


_MARKER_KEYS = np.array(sorted(_pack_word(w) for w in _PACKED), dtype=np.uint32)
_MARKER_BITS = np.array(
    [_PACKED[w] for w in sorted(_PACKED, key=_pack_word)], dtype=np.int64
)

_W_LUT_SIZE = 0x10000  # BMP dense; astral resolves per-unique through re
_W_LUT: np.ndarray | None = None
_CODE_LUT: np.ndarray | None = None


def _w_lut() -> np.ndarray:
    """int8 LUT: 1 iff ``re.match(r"\\w", chr(cp))`` for cp < _W_LUT_SIZE —
    built FROM the regex engine itself, so token boundaries are \\w-exact by
    construction; sentinel 2 at the clip index routes astral codepoints to
    the per-unique fallback."""
    global _W_LUT
    if _W_LUT is None:
        import re

        pat = re.compile(r"\w")
        _W_LUT = np.append(
            np.fromiter(
                (1 if pat.match(chr(cp)) else 0 for cp in range(_W_LUT_SIZE)),
                dtype=np.int8, count=_W_LUT_SIZE,
            ),
            np.int8(2),
        )
    return _W_LUT


def _code_lut() -> np.ndarray:
    """uint8 LUT fusing lowercase + alphabet classify: cp → 5-bit code of
    ``chr(cp).lower()`` in the marker alphabet, or _INVALID_CODE when the
    lowercase is multi-char ('İ'), outside the alphabet, or the source cp is
    out of LUT range (clip index)."""
    global _CODE_LUT
    if _CODE_LUT is None:
        vals = []
        for cp in range(_CODE_LUT_SIZE):
            low = chr(cp).lower()
            vals.append(
                _CHAR_CODE.get(low, _INVALID_CODE) if len(low) == 1
                else _INVALID_CODE
            )
        vals.append(_INVALID_CODE)  # clip sentinel
        _CODE_LUT = np.array(vals, dtype=np.uint8)
    return _CODE_LUT


def _seg_count16(mask: np.ndarray, starts: np.ndarray,
                 lens: np.ndarray) -> np.ndarray:
    """Per-row popcount of a flat boolean mask (uint16 reduceat — counts are
    bounded by CAP_CHARS) through ``quality._rowwise_sum``, which also
    handles the empty-row quirks.

    PRECONDITION: per-row counts must fit uint16 — every caller caps texts
    at CAP_CHARS first.  Asserted here (ADVICE r6): a future uncapped caller
    would otherwise get silently truncated counts."""
    assert not len(lens) or int(lens.max()) < (1 << 16), (
        "_seg_count16 requires rows < 2^16 chars (cap at CAP_CHARS first)"
    )
    from .quality import _rowwise_sum

    return _rowwise_sum(mask.astype(np.uint16), starts, lens).astype(np.int64)


def _script_counts(sub: pd.Series) -> dict[str, np.ndarray]:
    """Per-row script-range char counts for every SCRIPT_RANGES language —
    flat codepoint buffer + range compares + one segmented popcount per
    script, replacing four regex ``str.count`` passes (the last regex in
    the langid hot path).  Range ≡ regex char class by construction
    (SCRIPT_PATTERNS is derived from SCRIPT_RANGES)."""
    from .masks import flat_codes

    n = len(sub)
    if not n:
        return {lang: np.zeros(0, dtype=np.int64) for lang in SCRIPT_RANGES}
    codes, starts, lens = flat_codes(sub)
    out = {}
    for lang, ranges in SCRIPT_RANGES.items():
        m = None
        for lo, hi in ranges:
            part = (codes >= np.uint32(lo)) & (codes <= np.uint32(hi))
            m = part if m is None else (m | part)
        out[lang] = _seg_count16(m, starts, lens)
    return out


def _word_mask(codes: np.ndarray) -> np.ndarray:
    """bool \\w mask per codepoint (dense BMP LUT + per-unique astral
    fallback, same shape as masks.hu_class_codes)."""
    import re

    w8 = _w_lut().take(codes, mode="clip")
    big_idx = np.flatnonzero(w8 == 2)
    if len(big_idx):
        big = codes[big_idx]
        u = np.unique(big)
        pat = re.compile(r"\w")
        vals = np.fromiter(
            (1 if pat.match(chr(int(cp))) else 0 for cp in u),
            dtype=np.int8, count=len(u),
        )
        w8[big_idx] = vals[np.searchsorted(u, big)]
    return w8.astype(bool)


def _latin_scores(sub: pd.Series) -> np.ndarray:
    """(n_langs, n_rows) marker-hit counts ×1000, fully vectorized.

    One flat codepoint buffer for the batch; \\w runs found positionally
    (rows reset the run so tokens never span rows); each candidate token is
    lower+classified per-char through a fused LUT and packed into one uint32, then
    matched against the sorted marker-key table with searchsorted.  No
    per-token Python objects — the regex findall + dict map this replaced
    spent 85% of the latin tier materializing and hashing token strings."""
    from .masks import flat_codes

    n = len(sub)
    scores = np.zeros((len(LATIN_ORDER), n), dtype=np.int64)
    if not n:
        return scores
    codes, starts, lens = flat_codes(sub)
    if not len(codes):
        return scores
    w = _word_mask(codes)
    prev = np.empty(len(codes), dtype=bool)
    prev[0] = False
    prev[1:] = w[:-1]
    prev[starts[starts < len(codes)]] = False  # rows are independent
    tok_start = w & ~prev
    wpos = np.flatnonzero(w)
    if not len(wpos):
        return scores
    ts_mask = tok_start[wpos]
    tstarts = np.flatnonzero(ts_mask)          # token starts, compacted
    toklen = np.diff(np.append(tstarts, len(wpos)))
    codew = _code_lut().take(codes[wpos], mode="clip")
    # pack: char i of a token fills bits [5i, 5i+5) — no carries (max code
    # 31 fits the field exactly), so equality with a marker key ⟺ the
    # lowered chars match positionally, and an out-of-alphabet char's
    # 31-field can never appear in a key.  Positions ≥ _TOK_MAX share a
    # capped shift (sums there may wrap), but such tokens are rejected by
    # the length test before the key comparison.
    pos_in_tok = np.arange(len(wpos)) - np.repeat(tstarts, toklen)
    shift = (_CODE_BITS * np.minimum(pos_in_tok, _TOK_MAX)).astype(np.uint32)
    packed = np.add.reduceat(codew.astype(np.uint32) << shift, tstarts)
    idx = np.minimum(
        np.searchsorted(_MARKER_KEYS, packed), len(_MARKER_KEYS) - 1
    )
    hit = (toklen <= _TOK_MAX) & (_MARKER_KEYS[idx] == packed)
    ht = np.flatnonzero(hit)
    if len(ht):
        tok_row = np.searchsorted(
            starts, wpos[tstarts[ht]], side="right") - 1
        bits = _MARKER_BITS[idx[ht]]
        for i in range(len(LATIN_ORDER)):
            scores[i] = np.bincount(
                tok_row, weights=(bits >> i) & 1, minlength=n
            ).astype(np.int64) * 1000
    return scores


def _script_tier(f: dict[str, np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """Min-chars gate, then the script thresholds in ``SCRIPT_RANGES`` order
    (first script over its threshold wins) → (labels, decided)."""
    n_chars = f["n_chars"]
    out = np.full(len(n_chars), "und", dtype=object)
    decided = n_chars < MIN_CHARS
    nonascii = ~f["is_ascii"]
    for lang in SCRIPT_RANGES:
        num, den = script_threshold(lang)
        cnt = f[f"{lang}_cnt"]
        fire = (~decided) & nonascii & (cnt * den >= n_chars * num)
        out[fire] = lang
        decided |= fire
    return out, decided


def _latin_argmax(f: dict[str, np.ndarray], out: np.ndarray,
                  decided: np.ndarray) -> np.ndarray:
    """Integer-normalized marker argmax for the undecided rows (first max
    wins → LATIN_ORDER tie-break); rows with no marker hit stay ``und``."""
    scores = np.stack([f[f"{lang}_score"] for lang in LATIN_ORDER])
    norm = scores // np.maximum(f["n_chars"], 1)
    best = np.argmax(norm, axis=0)
    latin = (~decided) & (norm[best, np.arange(len(out))] > 0)
    out[latin] = np.array(LATIN_ORDER, dtype=object)[best[latin]]
    return out


def _decide(f: dict[str, np.ndarray]) -> np.ndarray:
    return _latin_argmax(f, *_script_tier(f))


def _features(texts: pd.Series) -> dict[str, np.ndarray]:
    """The ``LANGID_FEATURE_COLS`` arrays of a batch: capped char count,
    ascii flag, per-script char counts (0 for pure-ASCII rows — script
    characters are non-ASCII by construction) and raw ×1000 Latin marker
    scores, computed only for the rows the script tier leaves undecided
    (0 elsewhere)."""
    t = texts.fillna("").str.slice(0, CAP_CHARS)
    n = len(t)
    f: dict[str, np.ndarray] = {
        "n_chars": t.str.len().to_numpy(dtype=np.int64),
        "is_ascii": t.map(str.isascii).to_numpy(dtype=bool),
    }
    nonascii_idx = np.flatnonzero(~f["is_ascii"])
    for lang, sub in _script_counts(t.iloc[nonascii_idx]).items():
        cnt = np.zeros(n, dtype=np.int64)
        cnt[nonascii_idx] = sub
        f[f"{lang}_cnt"] = cnt
    und_idx = np.flatnonzero(~_script_tier(f)[1])
    scores = np.zeros((len(LATIN_ORDER), n), dtype=np.int64)
    scores[:, und_idx] = _latin_scores(t.iloc[und_idx])
    for i, lang in enumerate(LATIN_ORDER):
        f[f"{lang}_score"] = scores[i]
    return f


def detect_language(texts: pd.Series) -> pd.Series:
    """Series[str] → Series[str] of language codes. Fully vectorized.

    Only the first CAP_CHARS characters are examined (frozen contract shared
    with the reference pipeline)."""
    return pd.Series(_decide(_features(texts)), index=texts.index,
                     dtype=object)


LANGID_FEATURE_COLS = (
    ["n_chars", "is_ascii"]
    + [f"{lang}_cnt" for lang in SCRIPT_PATTERNS]
    + [f"{lang}_score" for lang in LATIN_ORDER]
)


def langid_feature_frame(texts: pd.Series) -> pd.DataFrame:
    """Per-row feature matrix from which the langid decision is a pure
    replay: capped char count, ascii flag, per-script char counts (0 for
    pure-ASCII rows) and raw ×1000 Latin marker scores.  Scores are
    computed only for rows the script tier leaves undecided: a row decided
    by the min-chars gate or by a script threshold carries ``*_score = 0``
    (the decision, here and in the SQL replay, never reads them).

    ``decide_from_features(langid_feature_frame(t)) == detect_language(t)``
    is differential-tested; the split exists so the decision layer can be
    replayed by an independent SQL engine over staged features (the
    ``langid_docs`` oracle)."""
    return pd.DataFrame(_features(texts), index=texts.index,
                        columns=LANGID_FEATURE_COLS)


def decide_from_features(feats: pd.DataFrame) -> pd.Series:
    """The langid decision layer alone, over a ``langid_feature_frame``:
    the same ``_script_tier`` → ``_latin_argmax`` cascade ``detect_language``
    runs.  The SQL oracle replays this cascade in DuckDB."""
    f = {c: feats[c].to_numpy(dtype=bool if c == "is_ascii" else np.int64)
         for c in LANGID_FEATURE_COLS}
    return pd.Series(_decide(f), index=feats.index, dtype=object)
