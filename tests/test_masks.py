"""Mask golden tests (FIXTURES.md §7, verified against reference README goldens)
across every surface: pure-Python, pandas, the Arrow UDF, the test-side JVM
chain (tests/reference_paths.py), plus the DuckDB oracle SQL generator."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bytefreq_spark.masks import (
    GRAINS,
    duckdb_mask_sql,
    mask_series,
    mask_str,
)
from tests.reference_paths import mask_col

# (raw, H, L, HU, LU) — FIXTURES.md §7 golden vectors
GOLDEN = [
    ("Hello--World", "Aaaaa--Aaaaa", "Aa-Aa", "Aaaaa--Aaaaa", "Aa-Aa"),
    ("ABC  123", "AAA  999", "A 9", "AAA  999", "A 9"),
    ("Café", "Aaaé", "Aaé", "Aaaa", "Aa"),
    ("30/09/2019", "99/99/9999", "9/9/9", "99_99_9999", "9_9_9"),
    ("375-1", "999-9", "9-9", "999-9", "9-9"),
    ("丙551-1", "丙999-9", "丙9-9", "a999-9", "a9-9"),
    ("Skálavegur", "Aaáaaaaaaa", "Aaáa", "Aaaaaaaaaa", "Aa"),
    ("", "", "_", "", "_"),
    ('"NYC"', '"AAA"', '"A"', '"AAA"', '"A"'),
    ("79f233a8e3912d05", "99a999a9a9999a99", "9a9a9a9a9", "99a999a9a9999a99", "9a9a9a9a9"),
    # extra edge coverage
    ("ул. Пятницкая", "ул. Пятницкая", "ул. Пятницкая", "aa. Aaaaaaaaa", "a. Aa"),
    ("a\tb", "a\ta", "a\ta", "a a", "a a"),
    ("+44 (0)20", "+99 (9)99", "+9 (9)9", "_99 _9_99", "_9 _9_9"),
    # multiline values: L/LU must collapse runs of line terminators too
    # (DOTALL collapse — the reference Rust char loop collapses everything)
    ("a\n\n\nb", "a\n\n\na", "a\na", "a   a", "a a"),
    ("x\r\r\ny", "a\r\r\na", "a\r\na", "a   a", "a a"),
    ("p  q", "a  a", "a a", "a  a", "a a"),
]


@pytest.mark.parametrize("raw,h,l,hu,lu", GOLDEN)
def test_mask_str_golden(raw, h, l, hu, lu):
    assert mask_str(raw, "H") == h
    assert mask_str(raw, "L") == l
    assert mask_str(raw, "HU") == hu
    assert mask_str(raw, "LU") == lu


def test_mask_series_matches_mask_str():
    s = pd.Series([g[0] for g in GOLDEN] + [None])
    for gi, grain in enumerate(GRAINS):
        got = mask_series(s, grain)
        for i, g in enumerate(GOLDEN):
            assert got.iloc[i] == g[1 + gi], (g[0], grain)
        # NaN → empty-string semantics
        assert got.iloc[-1] == ("_" if grain in ("L", "LU") else "")


def test_lu_mask_key_series_matches_unfused():
    """The fused flat-buffer LU key (one flatten + LUT gather + capped
    decode) must equal mask_series(prefix, 'LU').str.slice(0, key_len)
    exactly — goldens, NaN/empty rows, >LUT-range unicode, runs straddling
    the prefix cut, and rows whose collapsed mask exceeds the key length."""
    from bytefreq_spark.masks import lu_mask_key_series

    rows = (
        [g[0] for g in GOLDEN]
        + [None, "", "   ", "a" * 600, "ab" * 600, "中中文abc" * 100,
           "x" * 511 + "yz", "1a2b3c" * 200, "é" * 40 + "99  zz"]
    )
    s = pd.Series(rows, dtype=object)
    for src, key in ((512, 64), (512, 8), (10, 4)):
        want = mask_series(s.fillna("").str.slice(0, src), "LU").str.slice(0, key)
        got = lu_mask_key_series(s, src, key)
        assert got.tolist() == want.tolist(), (src, key)


def test_mask_properties():
    # idempotence of H; LU = collapse(HU); cardinality reduction is implied
    for raw, *_ in GOLDEN:
        assert mask_str(mask_str(raw, "H"), "H") == mask_str(raw, "H")
        assert mask_str(mask_str(raw, "HU"), "HU") == mask_str(raw, "HU")


def test_mask_col_matches_python(spark):
    df = spark.createDataFrame([(g[0],) for g in GOLDEN], ["raw"])
    for gi, grain in enumerate(GRAINS):
        rows = df.select("raw", mask_col(F.col("raw"), grain).alias("m")).collect()
        by_raw = {r["raw"]: r["m"] for r in rows}
        for g in GOLDEN:
            assert by_raw[g[0]] == g[1 + gi], (g[0], grain, by_raw[g[0]])


def test_mask_pandas_udf_matches_python_null_stays_null(spark):
    """The production Spark engine: goldens on every grain (AWK grains via
    awk_mask_str), and NULL in → NULL out on every grain — the
    duckdb_mask_sql rule — while mask_series keeps its NaN → ``_``/``""``."""
    from bytefreq_spark.masks import awk_mask_str, mask_pandas_udf

    df = spark.createDataFrame([(g[0],) for g in GOLDEN] + [(None,)], "raw string")
    for grain in GRAINS + ("AWK_H", "AWK_L"):
        rows = df.select(
            "raw", mask_pandas_udf(grain)(F.col("raw")).alias("m")).collect()
        for r in rows:
            if r["raw"] is None:
                want = None
            elif grain.startswith("AWK_"):
                want = awk_mask_str(r["raw"], grain[-1])
            else:
                want = mask_str(r["raw"], grain)
            assert r["m"] == want, (repr(r["raw"]), grain)


def test_duckdb_oracle_matches_python():
    con = duckdb.connect()
    con.execute(
        "create table t as select * from (values %s) v(raw)"
        % ",".join("(?)" for _ in GOLDEN),
        [g[0] for g in GOLDEN],
    )
    for gi, grain in enumerate(GRAINS):
        got = con.execute(
            f"select raw, {duckdb_mask_sql('raw', grain)} from t"
        ).fetchall()
        by_raw = dict(got)
        for g in GOLDEN:
            assert by_raw[g[0]] == g[1 + gi], (g[0], grain, by_raw[g[0]])


def test_ascii_sweep_three_surfaces(spark):
    """Every ASCII char + a Unicode sample: Spark JVM regex == Python tables."""
    vals = [chr(c) for c in range(1, 128)] + [
        "é", "Ω", "я", "丙", "ء", "॥", "²", "Ⅻ", " ", " ", "😀", "́"
    ]
    df = spark.createDataFrame([(v,) for v in vals], ["raw"])
    for grain in GRAINS:
        rows = df.select("raw", mask_col(F.col("raw"), grain).alias("m")).collect()
        for r in rows:
            assert r["m"] == mask_str(r["raw"], grain), (repr(r["raw"]), grain)
