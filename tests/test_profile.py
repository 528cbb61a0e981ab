"""Profile-engine tests: melt → mask → groupBy frequency, DQ report ordering,
histograms — checked against DuckDB on the driver's sf0.001 tables, plus the
repartition-invariance property (determinism half of the scaling check)."""

from __future__ import annotations

from collections import Counter

import duckdb
import pytest
from pyspark.sql import functions as F

from bytefreq_spark.masks import duckdb_mask_sql
from bytefreq_spark.profile import (
    char_histogram,
    dq_report,
    field_count_histogram,
    mask_frequency,
    melt,
    per_file_counts,
)


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


def test_melt_shape(spark, orders):
    cols = ["o_orderstatus", "o_orderpriority"]
    long = melt(orders, cols)
    assert long.columns == ["column", "raw"]
    n = orders.count()
    assert long.count() == n * len(cols)


def test_mask_frequency_vs_duckdb(spark, orders, sf_dir):
    freq = (
        mask_frequency(orders, ["o_orderpriority"], grain="LU")
        .orderBy("column", "pattern")
        .collect()
    )
    m = duckdb_mask_sql("o_orderpriority", "LU")
    want = duckdb.sql(
        f"""select 'o_orderpriority' as column, {m} as pattern,
                   count(*) as cnt, min(o_orderpriority) as example
            from '{sf_dir}/orders.parquet'
            group by 1, 2 order by 1, 2"""
    ).fetchall()
    got = [(r["column"], r["pattern"], r["count"], r["example"]) for r in freq]
    assert got == want


def test_count_preservation(orders):
    """Σ counts == n_values (property test #4, SURVEY.md §5.2)."""
    freq = mask_frequency(orders, ["o_orderstatus", "o_orderpriority"], "L")
    total = freq.agg(F.sum("count")).collect()[0][0]
    assert total == orders.count() * 2


def test_repartition_invariance(orders):
    """Identical frequency table under different partitionings — the
    determinism half of the two-parallelism scaling criterion."""
    a = mask_frequency(orders, ["o_orderpriority"], "LU")
    b = mask_frequency(orders.repartition(17), ["o_orderpriority"], "LU")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_dq_report_ordering(spark, orders):
    rep = dq_report(orders, ["o_orderstatus", "o_orderpriority"], "LU").collect()
    # columns in schema order
    idxs = [r["col_idx"] for r in rep]
    assert idxs == sorted(idxs)
    # within a column, counts descending
    for cidx in set(idxs):
        counts = [r["count"] for r in rep if r["col_idx"] == cidx]
        assert counts == sorted(counts, reverse=True)
    # rank is 1-based row_number per column
    for cidx in set(idxs):
        ranks = [r["rank"] for r in rep if r["col_idx"] == cidx]
        assert ranks == list(range(1, len(ranks) + 1))


def test_char_histogram_vs_duckdb(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = {
        (r["char"], r["count"]) for r in char_histogram(ev, "event_type").collect()
    }
    want = set(
        duckdb.sql(
            f"""select c as char, count(*) as cnt from (
                 select unnest(string_split(event_type, '')) as c
                 from '{sf_dir}/events.parquet') where c <> ''
               group by 1"""
        ).fetchall()
    )
    assert got == want


def test_field_count_histogram(spark):
    df = spark.createDataFrame(
        [("a|b|c",), ("a|b",), ("x|y|z",), ("only",)], ["line"]
    )
    got = {(r["n_fields"], r["rows"]) for r in field_count_histogram(df, "line").collect()}
    assert got == {(1, 1), (2, 1), (3, 2)}


def test_per_file_counts(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = per_file_counts(ev).collect()
    assert len(rows) >= 1
    assert sum(r["rows"] for r in rows) == ev.count()
    assert all("events.parquet" in r["file"] for r in rows)


def test_column_stats_with_nulls(spark):
    from bytefreq_spark.profile import column_stats

    df = spark.createDataFrame(
        [("a", "x"), ("bb", None), ("a", "yyy")], "p string, q string"
    )
    rows = {r["column"]: r for r in column_stats(df).collect()}
    assert rows["p"]["n_rows"] == 3 and rows["p"]["n_null"] == 0
    assert rows["p"]["n_distinct"] == 2
    assert rows["p"]["min_val"] == "a" and rows["p"]["max_val"] == "bb"
    # avg_len is DECIMAL(18,4): both engines round the same double then
    # cast, so the driver's typed hash can't diverge on a float boundary
    assert abs(float(rows["p"]["avg_len"]) - 4 / 3) < 1e-3
    assert rows["q"]["n_null"] == 1 and rows["q"]["n_distinct"] == 2
    # avg over NON-NULL lengths only (SQL avg semantics, matches the oracle)
    assert float(rows["q"]["avg_len"]) == 2.0


def test_sessionize_gap_boundary(spark):
    """Session-window semantics: an event exactly `gap` after the previous
    one still MERGES (the window is closed at ts+gap); only strictly-beyond
    starts a new session."""
    from bytefreq_spark.events import sessionize

    rows = [
        (1, "2025-01-01 00:00:00"),
        (1, "2025-01-01 00:29:59"),  # merges (< 30 min after previous)
        (1, "2025-01-01 00:59:59"),  # merges (extends the session)
        (1, "2025-01-01 01:29:59"),  # exactly 30:00 after -> still merges
        (1, "2025-01-01 02:00:00"),  # 30:01 after -> NEW session
        (2, "2025-01-01 05:00:00"),  # other user, own session
    ]
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    got = [(r["user"], r["session_start"], r["n_events"])
           for r in sessionize(df, gap="30 minutes").collect()]
    assert got == [
        (1, "2025-01-01 00:00:00", 4),
        (1, "2025-01-01 02:00:00", 1),
        (2, "2025-01-01 05:00:00", 1),
    ]


RULES_COL = "d.Rules.std_date"


def _want(column, raw, grain):
    """Per-cell pattern every profiling surface must give: NULL → NULL, the
    raw value under a ``.Rules.`` path (M5), else the grain's mask."""
    from bytefreq_spark.masks import awk_mask_str, mask_str

    if raw is None:
        return None
    if ".Rules." in column:
        return raw
    if grain.startswith("AWK_"):
        return awk_mask_str(raw, grain[-1])
    return mask_str(raw, grain)


def _counts(rows):
    out = Counter()
    for r in rows:
        out[(r["column"], r["pattern"])] += r["count"]
    return dict(out)


def test_profiling_surfaces_agree_per_cell(spark, tmp_path):
    """One mask step and one tally behind every Spark profiling surface: the
    same pattern per cell from mask_frequency, reservoir_examples,
    doubled_columns, enhanced (HU/LU), profile_json and the streaming tally
    — NULL stays NULL and ``.Rules.`` values keep their raw value (M5).
    profile_json sees the M6 serialization (quoted strings, NULL → ``null``)
    of the same cells."""
    from bytefreq_spark.profile import doubled_columns, reservoir_examples
    from bytefreq_spark.rules import enhanced
    from bytefreq_spark.sources.json_flatten import profile_json
    from bytefreq_spark.streaming.profile_stream import streaming_mask_frequency

    cells = {"v": ["ab", None, ""], RULES_COL: ["2019-01-02", None, ""]}
    df = spark.createDataFrame(
        list(zip(*cells.values())), f"v string, `{RULES_COL}` string")
    src = tmp_path / "src"
    df.withColumn("ts", F.current_timestamp()).write.parquet(str(src))
    stream_schema = spark.read.parquet(str(src)).schema
    nested = spark.createDataFrame(
        [("ab", {"Rules": {"std_date": "2019-01-02"}}),
         (None, {"Rules": {"std_date": None}}),
         ("", None)],
        "v string, d struct<Rules: struct<std_date: string>>")
    json_cells = {"v": ['"ab"', "null", '""'],
                  RULES_COL: ['"2019-01-02"', "null", "null"]}

    for grain in ("LU", "HU", "AWK_L"):
        want = dict(Counter((c, _want(c, raw, grain))
                            for c, vals in cells.items() for raw in vals))
        assert _counts(mask_frequency(df, grain=grain).collect()) == want, grain
        assert _counts(reservoir_examples(df, grain=grain).collect()) == want, grain

        for row in doubled_columns(df, grain=grain).collect():
            for c in cells:
                assert row[f"DQ_{c}"] == _want(c, row[c], grain), (c, grain)
        if grain in ("HU", "LU"):
            for row in enhanced(df, ["v"]).collect():
                assert row["v"][grain] == _want("v", row["v"]["raw"], grain)

        json_want = dict(Counter((c, _want(c, raw, grain))
                                 for c, vals in json_cells.items() for raw in vals))
        assert _counts(profile_json(nested, grain).collect()) == json_want, grain

        got = {}
        for i, c in enumerate(cells):
            name = f"surfaces_{grain}_{i}"
            stream = spark.readStream.schema(stream_schema).parquet(str(src))
            q = (streaming_mask_frequency(stream, c, grain, window="1 hour")
                 .writeStream.format("memory").queryName(name)
                 .outputMode("complete")
                 .option("checkpointLocation", str(tmp_path / name))
                 .trigger(availableNow=True).start())
            q.awaitTermination(120)
            got.update(_counts(spark.sql(f"select * from {name}").collect()))
        assert got == want, grain
