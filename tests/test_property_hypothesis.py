"""Property-based differential tests (hypothesis) over the pure kernels.

No Spark here — these hammer the pandas/Python surfaces with adversarial
unicode so the fast paths can never drift from their naive formulations on
inputs nobody thought to hand-write. SURVEY §5.2(4).
"""

from __future__ import annotations

import re

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from bytefreq_spark.masks import (
    awk_mask_series,
    awk_mask_str,
    collapse_runs_series,
    mask_series,
    mask_str,
)

# full unicode incl. astral, control chars, surrogate-free
TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=200
)
BATCH = st.lists(TEXT, min_size=0, max_size=30)


@settings(max_examples=150, deadline=None)
@given(BATCH)
def test_mask_series_equals_mask_str(vals):
    s = pd.Series(vals, dtype=object)
    for grain in ("H", "L", "HU", "LU"):
        got = mask_series(s, grain).tolist()
        want = [mask_str(v, grain) for v in vals]
        assert got == want, grain


@settings(max_examples=150, deadline=None)
@given(BATCH)
def test_collapse_runs_equals_regex(vals):
    s = pd.Series(vals, dtype=object).fillna("")
    pat = re.compile(r"(.)\1+", re.DOTALL)
    expected = s.str.replace(pat, r"\1", regex=True)
    expected = expected.mask(expected == "", "_")
    assert collapse_runs_series(s).tolist() == expected.tolist()


@settings(max_examples=150, deadline=None)
@given(BATCH)
def test_awk_series_equals_awk_str(vals):
    s = pd.Series(vals, dtype=object)
    for grain in ("H", "L"):
        got = awk_mask_series(s, grain).tolist()
        want = [awk_mask_str(v, grain) for v in vals]
        assert got == want, grain


@settings(max_examples=100, deadline=None)
@given(BATCH)
def test_scrub_fast_equals_naive_property(vals):
    from bytefreq_spark.scrub import scrub_series
    from tests.reference_paths import scrub_series_naive

    s = pd.Series(vals, dtype=object)
    assert scrub_series(s).tolist() == scrub_series_naive(s).tolist()


@settings(max_examples=100, deadline=None)
@given(BATCH)
def test_scrub_sparse_composition_property(vals):
    """The sparse scrub law: coalesce(scrub_series_sparse(s), s) ≡
    scrub_series(s) on arbitrary input, and None appears ONLY where the
    scrub is an identity on non-NULL text (the Arrow-prune contract)."""
    from bytefreq_spark.scrub import scrub_series, scrub_series_sparse

    s = pd.Series(vals, dtype=object)
    sparse = scrub_series_sparse(s)
    dense = scrub_series(s)
    assert sparse.where(sparse.notna(), s).tolist() == dense.tolist()
    for v, sp, d in zip(vals, sparse.tolist(), dense.tolist()):
        if sp is None:
            assert v is not None and d == v


@settings(max_examples=60, deadline=None)
@given(BATCH)
def test_langid_fast_equals_naive_property(vals):
    from bytefreq_spark.langid import detect_language
    from tests.reference_paths import detect_language_naive

    s = pd.Series(vals, dtype=object)
    assert detect_language(s).tolist() == detect_language_naive(s).tolist()


@settings(max_examples=80, deadline=None)
@given(BATCH)
def test_text_features_fast_equals_naive_property(vals):
    from bytefreq_spark.quality import text_features
    from tests.reference_paths import text_features_naive

    s = pd.Series(vals, dtype=object)
    pd.testing.assert_frame_equal(text_features(s), text_features_naive(s))


@settings(max_examples=150, deadline=None)
@given(TEXT)
def test_mask_properties(v):
    # idempotence of per-char grains; LU == collapse(HU); count preservation
    assert mask_str(mask_str(v, "H"), "H") == mask_str(v, "H")
    assert mask_str(mask_str(v, "HU"), "HU") == mask_str(v, "HU")
    hu = mask_str(v, "HU")
    lu_expect = re.sub(r"(.)\1+", r"\1", hu, flags=re.DOTALL) or "_"
    assert mask_str(v, "LU") == lu_expect
    assert len(mask_str(v, "H")) == len(v)


# xlsx round trip: XML-safe text (no control chars / surrogates — invalid in
# XML 1.0 documents), mixed cell types, gaps via None
_XML_TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs", "Cc", "Co")),
    max_size=30,
)
_CELL = st.one_of(
    st.none(),
    _XML_TEXT,
    st.booleans(),
    st.integers(min_value=-10**12, max_value=10**12),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
)
_SHEET = st.lists(
    st.lists(_CELL, min_size=1, max_size=6), min_size=1, max_size=8
)


@settings(max_examples=60, deadline=None)
@given(_SHEET, st.booleans())
def test_xlsx_round_trip_property(rows, shared):
    """make_xlsx → parse_xlsx reproduces excel_cell_to_string of every cell
    (None = a GAP ref, parsed back as ""), padded to the sheet's used width,
    for both shared-string and inline-string encodings."""
    from bytefreq_spark.sources.tabular import (
        excel_cell_to_string, make_xlsx, parse_xlsx,
    )

    # a sheet whose every cell stringifies to "" is "empty" by reference
    # semantics — force one visible cell
    rows = [[("h" if ri == ci == 0 and excel_cell_to_string(v) == "" else v)
             for ci, v in enumerate(row)] for ri, row in enumerate(rows)]
    data = make_xlsx({"s": rows}, shared=shared)
    got = parse_xlsx(data, 0)

    def cell_text(v):
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, (int, float)):
            return excel_cell_to_string(float(v))  # parser's number path
        return v

    # model: writer emits only non-None cells at their A1 refs; reader pads
    # gaps with "", strips all-empty lead columns AND lead/trail all-empty
    # rows (used-range bounding box), pads rows to used width
    raw = []
    for row in rows:
        cells: list[str] = []
        for ci, v in enumerate(row):
            if v is None:
                continue
            while len(cells) <= ci:
                cells.append("")
            cells[ci] = cell_text(v)
        raw.append(cells)
    nonempty = [ri for ri, r in enumerate(raw) if any(c != "" for c in r)]
    raw = raw[nonempty[0]:nonempty[-1] + 1]
    lead = min(ci for r in raw for ci, c in enumerate(r) if c != "")
    trimmed = [r[lead:] for r in raw]
    width = max(len(r) for r in trimmed)
    expect = [r + [""] * (width - len(r)) for r in trimmed]
    assert got == expect


# --- salt-probe decision core (r7: byte-aware layout acceptance) ----------

SIZES = st.lists(st.integers(min_value=0, max_value=10**9),
                 min_size=1, max_size=64)


@settings(max_examples=200, deadline=None)
@given(SIZES, st.integers(min_value=1, max_value=128))
def test_layout_rejects_row_whale(counts, target):
    """Any layout with a >2x-mean row partition must keep the salt."""
    from bytefreq_spark.pipeline import _layout_acceptable

    mean = sum(counts) / len(counts)
    if mean > 0 and max(counts) > 2.0 * mean:
        assert not _layout_acceptable(counts, None, target)


@settings(max_examples=200, deadline=None)
@given(SIZES, SIZES, st.integers(min_value=1, max_value=128))
def test_layout_rejects_byte_whale_rows_balanced(counts, chars, target):
    """Byte skew alone must keep the salt even when rows are balanced —
    the r7 review's longdocs shape, generalized."""
    from bytefreq_spark.pipeline import _layout_acceptable

    n = min(len(counts), len(chars))
    counts, chars = [1000] * n, chars[:n]  # rows perfectly balanced
    mean = sum(chars) / n
    if mean > 0 and max(chars) > 2.0 * mean:
        assert not _layout_acceptable(counts, chars, target)


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=1, max_value=64),
       st.integers(min_value=1, max_value=128),
       st.integers(min_value=0, max_value=10**6))
def test_layout_accepts_uniform_when_wide_enough(n_parts, target, size):
    """A perfectly uniform layout is acceptable iff it has >= target/2
    partitions — and the decision is invariant under scaling all sizes."""
    from bytefreq_spark.pipeline import _layout_acceptable

    counts = [size] * n_parts
    chars = [size * 37] * n_parts
    want = n_parts >= max(target // 2, 1)
    assert _layout_acceptable(counts, chars, target) is want
    assert _layout_acceptable(
        [c * 1000 for c in counts], [c * 1000 for c in chars], target
    ) is want
