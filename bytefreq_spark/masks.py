"""Pattern masks — the heart of the engine.

Re-implements the reference's four mask grains (see SURVEY.md §2.2; reference
/root/reference/src/main.rs:34-114) as one Spark engine plus its oracle:

1. ``mask_pandas_udf(grain)`` — the Arrow-batched pandas UDF every profiling
   surface masks through (``profile.pattern_col``).  It runs
   ``mask_series`` (vectorized pandas: codepoint translate table built from
   ``unicodedata`` + numpy run-collapse; byte-exact to the reference's
   per-char Rust semantics) or, for the AWK grains, ``awk_mask_series``, and
   keeps NULL as NULL.
2. ``duckdb_mask_sql(expr, grain)`` — ANSI/DuckDB SQL string for the driver's
   correctness oracle (RE2 has no backreferences, so the run-length collapse is
   a list-lambda instead).

``mask_str`` (pure Python) and the JVM regexp chain in
``tests/reference_paths.py`` are differential-test references only.  The
featurize and dictionary kernels (``flat_codes``, ``lu_mask_key_series``)
share the HU table with ``mask_series``.

Grain semantics (verified char-for-char against the reference goldens,
README.md:276-314 — see FIXTURES.md §7):

* ``H``  (high grain, ASCII; main.rs:67-77):  a-z→``a``, A-Z→``A``, 0-9→``9``,
  everything else verbatim.
* ``L``  (low grain; main.rs:79-95): ``H`` then collapse ANY run of a repeated
  char to one; empty → ``_``.
* ``HU`` (high grain Unicode; main.rs:39-65): ASCII digit/lower/upper →
  ``9``/``a``/``A``; of ASCII punctuation only ``" - . ,`` kept verbatim;
  whitespace → ``' '``; then Unicode general category: Lu/Lt→``A``,
  Ll/Lo/Lm→``a``, Nd/Nl/No→``9``, Zs/Zl/Zp→``' '``; all else → ``_``.
* ``LU`` (main.rs:105-110): ``HU`` then the ``L`` collapse; empty → ``_``.
"""

from __future__ import annotations

import re
import unicodedata
from functools import lru_cache

import pandas as pd

GRAINS = ("H", "L", "HU", "LU")

# ASCII rules shared by the DuckDB oracle SQL and the test-side JVM chain
_H_STEPS = [("[a-z]", "a"), ("[A-Z]", "A"), ("[0-9]", "9")]


# ---------------------------------------------------------------------------
# DuckDB oracle SQL (RE2: \x{85}, \p{..} classes; no backrefs → list lambda)
# ---------------------------------------------------------------------------

_HU_STEPS_RE2 = _H_STEPS + [
    ("[\\t\\n\\x0b\\f\\r\\x{0085}\\p{Zs}\\p{Zl}\\p{Zp}]", " "),
    ("[\\p{Lu}\\p{Lt}]", "A"),
    ("[\\p{Ll}\\p{Lo}\\p{Lm}]", "a"),
    ("[\\p{Nd}\\p{Nl}\\p{No}]", "9"),
    ("[^Aa9 \",.-]", "_"),
]


def _duckdb_collapse(inner: str) -> str:
    split = f"string_split({inner}, '')"
    return (
        f"(CASE WHEN {inner} = '' THEN '_' ELSE array_to_string(list_filter("
        f"{split}, (c, i) -> i = 1 OR c <> ({split})[i - 1]), '') END)"
    )


def duckdb_mask_sql(expr: str, grain: str = "LU") -> str:
    """SQL expression string computing the mask of ``expr`` in DuckDB."""
    if grain in ("AWK_H", "AWK_L"):
        return duckdb_awk_mask_sql(expr, grain[-1])
    if grain not in GRAINS:
        grain = "HU"
    steps = _H_STEPS if grain in ("H", "L") else _HU_STEPS_RE2
    out = expr
    for pat, rep in steps:
        p = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{rep}', 'g')"
    if grain in ("L", "LU"):
        out = _duckdb_collapse(out)
    return out


# ---------------------------------------------------------------------------
# Pandas / pure-Python surface (byte-exact per-char reference semantics)
# ---------------------------------------------------------------------------


class _HUTable(dict):
    """Lazy codepoint→mask translate table mirroring main.rs:39-65."""

    def __missing__(self, cp: int) -> str:
        ch = chr(cp)
        if "0" <= ch <= "9":
            r = "9"
        elif "a" <= ch <= "z":
            r = "a"
        elif "A" <= ch <= "Z":
            r = "A"
        elif ch in '"-.,':
            r = ch
        elif ch.isspace() or ch in "\x1c\x1d\x1e\x1f":  # Rust is_whitespace ⊇ these? no — see note
            # Rust char::is_whitespace uses Unicode White_Space; Python str.isspace
            # additionally counts U+001C-001F.  Route those to the category rule.
            if ch in "\x1c\x1d\x1e\x1f":
                r = "_"
            else:
                r = " "
        else:
            cat = unicodedata.category(ch)
            r = {
                "Lu": "A", "Lt": "A",
                "Ll": "a", "Lo": "a", "Lm": "a",
                "Nd": "9", "Nl": "9", "No": "9",
                "Zs": " ", "Zl": " ", "Zp": " ",
            }.get(cat, "_")
        self[cp] = r
        return r


_HU_TABLE = _HUTable()
_H_TABLE = {
    **{c: "a" for c in range(ord("a"), ord("z") + 1)},
    **{c: "A" for c in range(ord("A"), ord("Z") + 1)},
    **{c: "9" for c in range(ord("0"), ord("9") + 1)},
}
_COLLAPSE_RE = re.compile(r"(.)\1+", re.DOTALL)


@lru_cache(maxsize=65536)
def mask_str(value: str, grain: str = "LU") -> str:
    """Pure-Python single-value mask (reference implementation for tests)."""
    if grain not in GRAINS:
        grain = "HU"
    table = _H_TABLE if grain in ("H", "L") else _HU_TABLE
    hi = value.translate(table)
    if grain in ("H", "HU"):
        return hi
    lo = _COLLAPSE_RE.sub(r"\1", hi)
    return lo if lo else "_"


# class ids for hu_class_codes: the HU output alphabet partitioned as
# 0=a 1=A 2=9 3=space 4=_ 5=kept-punctuation(",.-\")
_HU_CLASS_INDEX = {"a": 0, "A": 1, "9": 2, " ": 3, "_": 4,
                   '"': 5, "-": 5, ".": 5, ",": 5}
_HU_CP_LUT_SIZE = 0x500  # ASCII + Latin-1/Extended + Greek + Cyrillic
_HU_CP_LUT: "np.ndarray | None" = None


def _hu_cp_lut():
    global _HU_CP_LUT
    if _HU_CP_LUT is None:
        import numpy as np

        # one sentinel entry (-1) appended at index _HU_CP_LUT_SIZE: callers
        # clamp codepoints with np.minimum and detect the long tail by the
        # sentinel, avoiding the boolean-mask gather/scatter formulation
        # (codes[small] materializes a second full-size buffer; measured 3×
        # slower than clamp+gather on a 176M-char batch)
        _HU_CP_LUT = np.append(
            np.fromiter(
                (_HU_CLASS_INDEX[_HU_TABLE[cp]]
                 for cp in range(_HU_CP_LUT_SIZE)),
                dtype=np.int8, count=_HU_CP_LUT_SIZE,
            ),
            np.int8(-1),
        )
    return _HU_CP_LUT


def hu_class_codes(codes):
    """HU class id per codepoint, straight from the raw flat-codes buffer —
    byte-equivalent to masking with ``_HU_TABLE`` and classifying the output
    char (class(cp) := _HU_CLASS_INDEX[_HU_TABLE[cp]] by construction), but
    without materializing the mask string.  Common scripts hit a dense LUT;
    the long tail (CJK, Indic, ...) resolves per-UNIQUE codepoint through the
    same lazy table, so cost scales with distinct chars, not text length."""
    import numpy as np

    lut = _hu_cp_lut()
    # take(mode='clip') clamps to the sentinel index WITHOUT materializing
    # the np.minimum temp (a full-size uint32 buffer) — measured ~25% faster
    # than clamp-then-gather on a 30M-char batch, bit-identical
    cls = lut.take(codes, mode="clip")
    big_idx = np.nonzero(cls == -1)[0]
    if len(big_idx):
        big = codes[big_idx]
        u = np.unique(big)
        m = np.fromiter(
            (_HU_CLASS_INDEX[_HU_TABLE[int(cp)]] for cp in u),
            dtype=np.int8, count=len(u),
        )
        cls[big_idx] = m[np.searchsorted(u, big)]
    return cls


def flat_codes(s: pd.Series):
    """(codes, starts, lens) flat-codepoint view of a string Series.

    One buffer for the whole batch: utf-32-le encode gives exactly one
    uint32 per Python char (astral included), so per-row char-class work
    becomes numpy slicing with ``starts``/``lens``.  ``surrogatepass`` keeps
    a lone surrogate (legal in a Python ``str``) as its own code unit
    instead of raising; ``_collapse_runs`` decodes with the same handler."""
    import numpy as np

    joined = "".join(s)
    codes = np.frombuffer(
        joined.encode("utf-32-le", "surrogatepass"), dtype=np.uint32)
    lens = s.str.len().to_numpy(np.int64)
    starts = np.zeros(len(s), np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    return codes, starts, lens


def _collapse_runs(codes, starts, lens, index, key_len=None) -> pd.Series:
    """Run-length collapse of every row of a flat code buffer, decoded back
    to one string per row (empty → ``_``); with ``key_len``, only the first
    ``key_len`` surviving codes of each row are decoded."""
    import numpy as np

    n = len(starts)
    if len(codes) == 0:
        return pd.Series(["_"] * n, index=index, dtype=object)
    keep = np.empty(len(codes), dtype=bool)
    keep[0] = True
    np.not_equal(codes[1:], codes[:-1], out=keep[1:])
    keep[starts[starts < len(codes)]] = True  # row starts always survive
    cum = np.concatenate(([0], np.cumsum(keep)))
    row_kept = cum[starts + lens] - cum[starts]
    if key_len is None:
        sel_len = row_kept
        out_codes = codes[keep]
    else:
        sel_len = np.minimum(row_kept, key_len)
        total = int(sel_len.sum())
        kpos = np.flatnonzero(keep)
        # segmented arange: the first sel_len[r] kept positions of each row
        out_starts = np.zeros(n, np.int64)
        np.cumsum(sel_len[:-1], out=out_starts[1:])
        seg_off = (np.arange(total, dtype=np.int64)
                   - np.repeat(out_starts, sel_len))
        out_codes = codes[kpos[np.repeat(cum[starts], sel_len) + seg_off]]
    raw = out_codes.astype("<u4", copy=False).tobytes()
    big = raw.decode("utf-32-le", "surrogatepass")
    ends = np.cumsum(sel_len)
    begins = ends - sel_len
    out = [big[a:b] if b > a else "_" for a, b in zip(begins, ends)]
    return pd.Series(out, index=index, dtype=object)


def collapse_runs_series(s: pd.Series) -> pd.Series:
    """Vectorized run-length collapse ≡ ``re.sub((?s)(.)\\1+, \\1)`` with
    empty → ``_`` — the L-grain collapse as positional numpy (no
    backreference regex; ~7× on long batches).  Differentially tested
    against the regex formulation (test_masks)."""
    return _collapse_runs(*flat_codes(s), s.index)


_HU_MASK_LUT: "np.ndarray | None" = None
_HU_MASK_SENTINEL = 0xFFFFFFFF


def _hu_mask_lut():
    """uint32 LUT: cp → ord(_HU_TABLE[cp]) (the HU mask character) for the
    dense low range; sentinel at the clip index routes the long tail to the
    per-unique fallback in ``_hu_mask_codes``."""
    global _HU_MASK_LUT
    if _HU_MASK_LUT is None:
        import numpy as np

        _HU_MASK_LUT = np.append(
            np.fromiter(
                (ord(_HU_TABLE[cp]) for cp in range(_HU_CP_LUT_SIZE)),
                dtype=np.uint32, count=_HU_CP_LUT_SIZE,
            ),
            np.uint32(_HU_MASK_SENTINEL),
        )
    return _HU_MASK_LUT


def _hu_mask_codes(codes):
    """HU-masked codepoint per raw codepoint ≡ ``ord(_HU_TABLE[cp])`` —
    the flat-buffer equivalent of ``str.translate(_HU_TABLE)`` (dense LUT +
    per-unique tail, same shape as ``hu_class_codes``)."""
    import numpy as np

    out = _hu_mask_lut().take(codes, mode="clip")
    big_idx = np.flatnonzero(out == _HU_MASK_SENTINEL)
    if len(big_idx):
        big = codes[big_idx]
        u = np.unique(big)
        m = np.fromiter(
            (ord(_HU_TABLE[int(cp)]) for cp in u),
            dtype=np.uint32, count=len(u),
        )
        out[big_idx] = m[np.searchsorted(u, big)]
    return out


def lu_mask_key_series(s: pd.Series, src_chars: int, key_len: int) -> pd.Series:
    """``mask_series(s.str.slice(0, src_chars), 'LU').str.slice(0, key_len)``
    fused over ONE flat codepoint buffer: LUT gather instead of the per-char
    dict ``str.translate``, the run-collapse on the mapped codes directly
    (no intermediate translated strings + second flatten), and only the
    ≤ key_len surviving chars per row are decoded back to Python strings.
    Differential-tested against the unfused formulation (test_masks)."""
    t = s.fillna("").str.slice(0, src_chars)
    codes, starts, lens = flat_codes(t)
    return _collapse_runs(_hu_mask_codes(codes), starts, lens, s.index,
                          key_len)


def mask_series(s: pd.Series, grain: str = "LU") -> pd.Series:
    """Vectorized pandas mask (for pandas-UDF stages). NaN-safe."""
    if grain not in GRAINS:
        grain = "HU"
    table = _H_TABLE if grain in ("H", "L") else _HU_TABLE
    out = s.fillna("").str.translate(table)
    if grain in ("L", "LU"):
        out = collapse_runs_series(out)
    return out


# ---------------------------------------------------------------------------
# M7: legacy AWK grains (bytefreq_v1.05.awk:346-359) — differs from Rust H/L
# ---------------------------------------------------------------------------
#
# Semantics (verified against mawk in this sandbox, see test_awk_differential):
# * H: per-char gsub  [a-z]→a, [A-Z]→A, [0-9]→9, then \t→T.
# * L: per-RUN gsub   [a-z]+→a, [A-Z]+→A, [0-9]+→9, then \t→T — only
#   letter/digit class runs collapse; punctuation/space runs survive
#   ("Hello--World"→"Aa--Aa" vs Rust L "Aa-Aa"; "ABC  123"→"A  9").
# * empty → "<<null>>" (vs Rust "_").
# * classes are ASCII/C-locale: non-ASCII bytes pass through verbatim
#   ("Café" → H "Aaaé"); char-level == byte-level for valid UTF-8 since
#   multi-byte sequences contain no ASCII bytes.
# * the reference's trailing gsub(/^M/,"",prof) is a literal caret-M regex
#   ("strip leading M", a typo'd \r-strip) — dead code, since every 'M' was
#   already replaced by the [[:upper:]] pass; reproduced by NOT implementing it.

AWK_NULL = "<<null>>"
_AWK_H_STEPS = [("[a-z]", "a"), ("[A-Z]", "A"), ("[0-9]", "9"), ("\\t", "T")]
_AWK_L_STEPS = [("[a-z]+", "a"), ("[A-Z]+", "A"), ("[0-9]+", "9"), ("\\t", "T")]


def awk_mask_str(value: str, grain: str = "L") -> str:
    """Pure-Python AWK-mode mask (differential-test reference surface)."""
    out = value
    for pat, rep in (_AWK_H_STEPS if grain == "H" else _AWK_L_STEPS):
        out = re.sub(pat.replace("\\t", "\t"), rep, out)
    return out if out else AWK_NULL


def awk_mask_series(s: pd.Series, grain: str = "L") -> pd.Series:
    """Vectorized pandas AWK-mode mask."""
    out = s.fillna("")
    for pat, rep in (_AWK_H_STEPS if grain == "H" else _AWK_L_STEPS):
        out = out.str.replace(pat.replace("\\t", "\t"), rep, regex=True)
    return out.mask(out == "", AWK_NULL)


def duckdb_awk_mask_sql(expr: str, grain: str = "L") -> str:
    """DuckDB SQL expression for the AWK-mode mask (oracle surface)."""
    out = expr
    for pat, rep in (_AWK_H_STEPS if grain == "H" else _AWK_L_STEPS):
        out = f"regexp_replace({out}, '{pat}', '{rep}', 'g')"
    return f"(CASE WHEN {out} = '' THEN '{AWK_NULL}' ELSE {out} END)"


def mask_pandas_udf(grain: str = "LU"):
    """Series→Series pandas UDF for the given grain (Arrow-batched); NULL in,
    NULL out on every grain (the ``duckdb_mask_sql`` rule).

    2.2× faster than the JVM regexp chain on the profiling aggregation
    (measured sf0.1: 0.74 s vs 1.61 s for a 3-column melt+mask+agg) — the
    codepoint translate table + numpy run-collapse beats 8 sequential regex
    passes even after paying the Arrow transfer.  AWK grains route to the
    awk mask."""
    from pyspark.sql.functions import pandas_udf

    kernel = mask_series
    if grain in ("AWK_H", "AWK_L"):
        kernel, grain = awk_mask_series, grain[-1]

    @pandas_udf("string")
    def _mask(s: pd.Series) -> pd.Series:
        out = kernel(s, grain)
        out[s.isna()] = None
        return out

    return _mask
