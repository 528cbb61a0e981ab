"""Deterministic regex PII/toxicity scrubber.

An ordered, frozen rule table (order matters and is part of the contract —
SURVEY.md §7.5 risk 1).  It has one engine: the *Python* ``re`` engine via
pandas ``str.replace``, run by both the featurize pandas-UDF stage and the
single-node reference implementation, so scrubbed text is byte-identical by
construction (there is no Java dialect of the table to drift).

Ancestry: the reference's encoding-repair pre-pass (win1252_to_utf8.sed — an
ordered byte-rewrite table applied before profiling) is the same shape:
ordered deterministic stream rewrites.  Cited in SURVEY.md K2.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

# (name, compiled pattern, replacement) — applied strictly in this order.
SCRUB_RULES: list[tuple[str, re.Pattern, str]] = [
    ("email", re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"), "<EMAIL>"),
    # 16-digit cards, optionally 4x4 grouped, before generic phone matching
    ("card", re.compile(r"\b(?:\d[ -]?){15}\d\b"), "<CARD>"),
    ("ipv4", re.compile(r"\b(?:\d{1,3}\.){3}\d{1,3}\b"), "<IP>"),
    ("phone", re.compile(r"(?<![\w./-])\+?\d[\d ()./-]{7,}\d(?![\w-])"), "<PHONE>"),
    ("uk_postcode", re.compile(r"\b[A-Z][A-HJ-Y]?\d[A-Z\d]? ?\d[A-Z]{2}\b"), "<POSTCODE>"),
    ("ssn", re.compile(r"\b\d{3}-\d{2}-\d{4}\b"), "<SSN>"),
    # toxicity word list (small, fixed; word-bounded, case-insensitive)
    ("toxicity", re.compile(r"\b(?:dumbass|jackass|dipshit|bullshit)\b", re.IGNORECASE), "<TOX>"),
]


# Conservative prefilter: every SCRUB_RULES pattern requires a digit or '@'
# (email/card/ip/phone/ssn/postcode) or one of the toxicity stems below —
# rows failing the cheap checks provably cannot match any rule and skip the
# 7-regex chain entirely (~7× on mostly-clean corpora; measured 13k→98k
# rows/s).  The toxicity rule is IGNORECASE, and Python's ``re`` folds three
# non-ASCII code points onto stem letters that ``str.lower()`` leaves apart:
# U+017F 'ſ' onto s, U+0130 'İ' and U+0131 'ı' onto i — so they join the
# character class.  test_scrub_fast_equals_naive and
# test_scrub_case_folds_equal_naive guard the invariant: if a rule is added
# whose matches can evade this prefilter, the differential tests fail.
_TOX_STEMS = ("ass", "shit")


def _scrub_candidates(t: pd.Series) -> pd.Series:
    m = t.str.contains(r"[\d@\u017f\u0130\u0131]", regex=True)
    lo = t.str.lower()
    for stem in _TOX_STEMS:
        m |= lo.str.contains(stem, regex=False)
    return m


def scrub_series(texts: pd.Series) -> pd.Series:
    """Apply the frozen rule table in order. NaN-safe, byte-deterministic:
    ``scrub_series_sparse`` with the rows it leaves unchanged (None) filled
    back from the input."""
    sparse = scrub_series_sparse(texts)
    return sparse.where(sparse.notna(), texts.fillna(""))


def scrub_series_sparse(texts: pd.Series) -> pd.Series:
    """``scrub_series`` with an Arrow-return-pruned contract for the
    featurize UDF: rows the rule chain leaves UNCHANGED come back as None
    (the caller restores the identity JVM-side via ``coalesce(scrubbed,
    text)``, so unchanged text never re-crosses the Arrow boundary — on
    multilingual prose the candidate rate is ~0%, making the whole return
    column NULLs), while NULL input still scrubs to ``""`` (the frozen
    contract ``scrub_series`` established) and genuinely rewritten rows
    carry their scrubbed text.  ``coalesce``-composition equivalence with
    ``scrub_series`` is differential-tested (test_scrub_sparse_contract +
    the hypothesis property)."""
    filled = texts.fillna("")
    out = pd.Series(
        np.full(len(texts), None, dtype=object), index=texts.index)
    out[texts.isna()] = ""  # NULL scrubs to "" — must stay a real value
    m = _scrub_candidates(filled)
    if m.any():
        orig = filled[m]
        sub = orig
        for _name, pat, rep in SCRUB_RULES:
            sub = sub.str.replace(pat, rep, regex=True)
        # prefilter hits that no rule rewrote (e.g. a bare digit) are still
        # identities — compare only the candidate subset, not the corpus
        changed = pd.Series(
            sub.to_numpy() != orig.to_numpy(), index=sub.index)
        out[m] = sub.where(changed, None)
    return out


# ---------------------------------------------------------------------------
# Encoding repair (K2): Windows-1252 mojibake -> proper UTF-8
# ---------------------------------------------------------------------------

# Common mojibake sequences produced when CP-1252 bytes are mis-decoded as
# UTF-8 (the reference ships a 1440-line sed table for the same repair,
# scripts/awk/win1252_to_utf8.sed).  Ordered longest-first; derived
# programmatically: mojibake(ch) = ch.encode('utf-8').decode('cp1252').

def _mojibake(ch: str) -> str | None:
    try:
        return ch.encode("utf-8").decode("cp1252")
    except UnicodeDecodeError:
        return None


def _repair_chars() -> str:
    """The full CP-1252-representable repair range, swept programmatically
    (reference parity: win1252_to_utf8.sed covers the whole byte table, not
    a hand-picked list): every Latin-1-supplement printable (U+00A0-U+00FF)
    plus every CP-1252 0x80-0x9F special (euro, curly quotes, dashes,
    ellipsis, OE/oe, Y-umlaut, ...).  Chars whose UTF-8 bytes hit one of the
    five undefined CP-1252 bytes (0x81 8D 8F 90 9D) can never appear as
    cp1252-mojibake and drop out via the _mojibake() guard."""
    high = bytes(range(0x80, 0xA0)).decode("cp1252", errors="ignore")
    latin1 = "".join(chr(cp) for cp in range(0xA0, 0x100))
    return high + latin1


MOJIBAKE_MAP = [
    (m, ch) for ch in _repair_chars()
    if (m := _mojibake(ch)) is not None
]
MOJIBAKE_MAP.sort(key=lambda p: -len(p[0]))


def repair_encoding_col(c):
    """Repair every pair of ``MOJIBAKE_MAP`` in order, as chained literal
    replaces on the JVM (its pandas twin, ``repair_encoding_series``, is a
    differential reference in tests/reference_paths.py)."""
    from pyspark.sql import functions as F

    out = c
    for bad, good in MOJIBAKE_MAP:
        out = F.replace(out, F.lit(bad), F.lit(good))
    return out
