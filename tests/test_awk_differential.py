"""M7 differential tests: the AWK-mode masks vs the *actual runnable AWK
engine* (reference scripts/awk/bytefreq_v1.05.awk, executed with mawk).

Covers the legacy grain deltas vs the Rust/primary grains:
* L collapses only letter/digit class runs (``Hello--World`` → ``Aa--Aa``,
  punctuation/space runs survive) vs Rust L ``Aa-Aa``;
* empty → ``<<null>>`` vs Rust ``_``;
* tab → ``T``;
* C-locale ASCII classes: non-ASCII passes through (``Café`` → H ``Aaaé``).
"""

from __future__ import annotations

import os
import shutil
import subprocess

import pytest
from pyspark.sql import functions as F

from bytefreq_spark.masks import (
    AWK_NULL,
    awk_mask_col,
    awk_mask_series,
    awk_mask_str,
    duckdb_awk_mask_sql,
    mask_str,
)

AWK_SCRIPT = "/root/reference/scripts/awk/bytefreq_v1.05.awk"
MAWK = shutil.which("mawk")
NO_AWK_ENGINE = MAWK is None or not os.path.exists(AWK_SCRIPT)

VALUES = [
    "Hello--World",
    "ABC  123",
    "375-1",
    "a\tb",
    "",
    "Café",
    "30/09/2019",
    '"NYC"',
    "MMM9",
    "79f233a8e3912d05",
    "A--B--C",
    "  lead space",
    "under_score_9",
    "ул. Пятницкая",  # non-ASCII multi-byte: passes through classes
    "mixedUPlow123done",
]


def run_mawk(values: list[str], grain: str) -> list[str]:
    """Pipe one-column pipe-delimited lines through the reference AWK engine
    (report=3 emits one row per value: ...\\tgrain\\tpattern\\trawval)."""
    # two-field lines ("x|<value>") so an empty value still yields NF=2 —
    # a fully empty line has NF=0 and the AWK field loop would skip it
    data = "".join(f"x|{v}\n" for v in values)
    out = subprocess.run(
        [MAWK, "-F", "|", "-v", "report=3", "-v", f"grain={grain}",
         "-f", AWK_SCRIPT],
        input=data.encode("utf-8"), capture_output=True, check=True,
    ).stdout.decode("utf-8")
    patterns = []
    for line in out.splitlines():
        parts = line.split("\t")
        # colname is field 5; pattern field 7; rawval (8+) may contain tabs
        if parts[4] == "col_00002":
            patterns.append(parts[6])
    return patterns


@pytest.mark.skipif(NO_AWK_ENGINE,
                    reason="mawk or the reference AWK script is missing")
@pytest.mark.parametrize("grain", ["H", "L"])
def test_awk_mask_matches_mawk(grain):
    expected = run_mawk(VALUES, grain)
    got = [awk_mask_str(v, grain) for v in VALUES]
    assert got == expected, list(zip(VALUES, got, expected))


@pytest.mark.skipif(NO_AWK_ENGINE,
                    reason="mawk or the reference AWK script is missing")
def test_awk_series_and_duckdb_match_mawk():
    import duckdb

    for grain in ("H", "L"):
        expected = run_mawk(VALUES, grain)
        import pandas as pd

        got_pd = awk_mask_series(pd.Series(VALUES), grain).tolist()
        assert got_pd == expected
        con = duckdb.connect()
        con.execute(
            "create table t as select * from (values %s) v(raw)"
            % ",".join("(?)" for _ in VALUES), VALUES,
        )
        got_sql = [
            r[0] for r in con.execute(
                f"select {duckdb_awk_mask_sql('raw', grain)} from t"
            ).fetchall()
        ]
        assert got_sql == expected


def test_awk_grain_deltas_vs_rust():
    """The documented legacy deltas (SURVEY.md M7)."""
    # punctuation runs survive in AWK L, collapse in Rust L
    assert awk_mask_str("Hello--World", "L") == "Aa--Aa"
    assert mask_str("Hello--World", "L") == "Aa-Aa"
    # space runs survive in AWK L
    assert awk_mask_str("ABC  123", "L") == "A  9"
    assert mask_str("ABC  123", "L") == "A 9"
    # empty sentinel differs
    assert awk_mask_str("", "L") == AWK_NULL
    assert mask_str("", "L") == "_"
    # tab becomes T in AWK mode, stays verbatim in Rust H
    assert awk_mask_str("a\tb", "H") == "aTa"
    assert mask_str("a\tb", "H") == "a\ta"


def test_awk_mask_col_matches_python(spark):
    df = spark.createDataFrame([(v,) for v in VALUES], ["raw"])
    for grain in ("H", "L"):
        rows = df.select("raw", awk_mask_col(F.col("raw"), grain).alias("m")).collect()
        for r in rows:
            assert r["m"] == awk_mask_str(r["raw"], grain), (repr(r["raw"]), grain)


def test_awk_grain_via_mask_frequency(spark):
    """AWK grains route through the standard profiling surface."""
    from bytefreq_spark.profile import mask_frequency

    df = spark.createDataFrame(
        [("Hello--World",), ("",), ("ABC  123",)], ["v"]
    )
    rows = mask_frequency(df, ["v"], "AWK_L").collect()
    pats = {r["pattern"] for r in rows}
    assert pats == {"Aa--Aa", AWK_NULL, "A  9"}
