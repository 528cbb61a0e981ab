"""Tests for report cosmetics (O4/R2/R3), encoding repair (K2), and the
streaming profile surface."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bytefreq_spark.profile import (
    doubled_columns,
    machine_report,
    truncate_example_col,
)
from bytefreq_spark.scrub import MOJIBAKE_MAP, repair_encoding_col
from tests.reference_paths import repair_encoding_series


def test_truncate_example(spark):
    df = spark.createDataFrame(
        [("short",),
         ("this is a very long example value",),
         ("exactlytwentycharss!",),
         ("supercalifragilisticexpialidocious",)],
        ["v"],
    )
    out = [r["t"] for r in df.select(truncate_example_col(F.col("v"), 20).alias("t")).collect()]
    assert out[0] == "short"
    assert out[1] == "this is a very long..."  # word-boundary cut
    assert out[2] == "exactlytwentycharss!"    # exactly at limit: untouched
    assert out[3] == "supercalifragilistic..."  # no space: hard cut


def test_doubled_columns(spark):
    df = spark.createDataFrame([("Hello--World", "ABC 123")], ["a", "b"])
    row = doubled_columns(df).collect()[0]
    assert row["DQ_a"] == "Aa-Aa"
    assert row["DQ_b"] == "A 9"
    assert list(row.asDict()) == ["a", "b", "DQ_a", "DQ_b"]


def test_machine_report(spark):
    df = spark.createDataFrame([("X1",), ("Y2",)], ["code"])
    rows = machine_report(df, grain="LU", source="test.pip").collect()
    assert all(r["filename"] == "test.pip" and r["grain"] == "LU" for r in rows)
    assert {r["pattern"] for r in rows} == {"A9"}
    assert sum(r["count"] for r in rows) == 2


def test_encoding_repair_pandas_vs_native(spark):
    broken = ["cafÃ©", "â€œquotedâ€\x9d?", "naÃ¯ve stays", "clean text"]
    fixed_pd = repair_encoding_series(pd.Series(broken)).tolist()
    assert fixed_pd[0] == "café"
    assert fixed_pd[1].startswith("“quoted")
    assert fixed_pd[3] == "clean text"
    df = spark.createDataFrame([(b,) for b in broken], ["t"])
    fixed_sp = [r["f"] for r in df.select(repair_encoding_col(F.col("t")).alias("f")).collect()]
    assert fixed_sp == fixed_pd  # native ≡ pandas repair


def test_mojibake_roundtrip():
    # every map entry really is utf8-bytes-read-as-cp1252 of its target
    for bad, good in MOJIBAKE_MAP:
        assert good.encode("utf-8").decode("cp1252") == bad


def test_mojibake_full_cp1252_sweep():
    """r4: the map covers the FULL CP-1252-representable repair range
    (reference parity with win1252_to_utf8.sed's whole-byte-table reach),
    not a hand-picked subset — every Latin-1 printable and every 0x80-0x9F
    special whose UTF-8 bytes survive a cp1252 decode repairs back to
    itself, singly and inside a sentence."""
    targets = {g for _, g in MOJIBAKE_MAP}
    for cp in range(0xA0, 0x100):
        ch = chr(cp)
        try:
            ch.encode("utf-8").decode("cp1252")
        except UnicodeDecodeError:
            continue  # hits one of the 5 undefined cp1252 bytes
        assert ch in targets, f"U+{cp:04X} missing from MOJIBAKE_MAP"
    # long-tail chars the old 26-char list missed (all cp1252-representable)
    for ch in "Œœžµ©®°±¼½¾¡¿ÀÈÌÒÙåøÆæþ":
        bad = ch.encode("utf-8").decode("cp1252")
        assert repair_encoding_series(pd.Series([f"x {bad} y"]))[0] == f"x {ch} y"
    assert len(MOJIBAKE_MAP) > 100


def test_csv_mojibake_ingest_composition(spark, tmp_path):
    """VERDICT_r5 ask: the full ingest COMPOSITION — delimited scan (S1-S3)
    → ragged-row capture (S4) → mojibake repair (K2) → mask-frequency
    profile (A1/M) — must hold together, not just per-stage.  A cp1252-
    mojibake CSV goes in; after repair the HU profile must collapse each
    word to the clean all-letter mask, which the broken text cannot (a
    mojibake 'Ã©' masks as 'A_')."""
    from bytefreq_spark.profile import dq_report
    from bytefreq_spark.sources.tabular import read_delimited

    def brk(s: str) -> str:
        """UTF-8 bytes mis-decoded as cp1252 — the real corruption."""
        return s.encode("utf-8").decode("cp1252")

    p = tmp_path / "mojibake.csv"
    # "café"/"naïve"/curly-quote mis-decoded as cp1252 + one ragged row
    p.write_text(
        "name|city\n"
        f"{brk('café')}|{brk('Überlingen')}\n"
        f"{brk('naïve')}|Paris\n"
        f"{brk('it’s')}|Lyon|EXTRA\n",
        encoding="utf-8",
    )
    raw = read_delimited(spark, str(p), delimiter="|")
    assert raw.columns == ["name", "city", "RaggedErr0"]

    fixed = raw.select(
        repair_encoding_col(F.col("name")).alias("name"),
        repair_encoding_col(F.col("city")).alias("city"),
        "RaggedErr0",
    )
    rows = {r["name"]: r for r in fixed.collect()}
    assert set(rows) == {"café", "naïve", "it’s"}
    assert rows["café"]["city"] == "Überlingen"
    assert rows["it’s"]["RaggedErr0"] == "EXTRA"

    # the repaired profile sees clean Unicode-letter masks; the broken one
    # cannot produce them (Ã/â are uppercase/lowercase + orphan symbols)
    prof = {(r["column"], r["pattern"]): r["count"]
            for r in dq_report(fixed, ["name", "city"], "HU").collect()}
    assert prof[("name", "aaaa")] == 1          # café
    assert prof[("name", "aaaaa")] == 1         # naïve
    assert prof[("name", "aa_a")] == 1          # it’s (curly quote = punct)
    assert prof[("city", "Aaaaaaaaaa")] == 1    # Überlingen
    broken_prof = {r["pattern"]
                   for r in dq_report(raw, ["name"], "HU").collect()}
    assert "aaaa" not in broken_prof and "aaaaa" not in broken_prof


def test_mojibake_double_encoding_characterized():
    """Characterized behavior of the sequential replace chain (same shape as
    the reference's sed pipeline): repairing the outer layer of a TWICE-
    broken char re-exposes the inner mojibake, which then repairs iff its
    rule sorts later in the chain than the outer rules that produced it
    (ties in the longest-first sort keep 0x80-0x9F targets before Latin-1).
    One pass is guaranteed to peel exactly one layer; full double-decode is
    order-dependent — pin one example of each so a future re-ordering of
    the map changes this test, not silently changes production output."""
    def brk(s: str) -> str:
        return s.encode("utf-8").decode("cp1252")

    one = repair_encoding_series(pd.Series([brk(brk("Ä"))]))[0]
    assert one == "Ä"            # inner rule (Ã„, latin-1) sorts after Ãƒ
    other = repair_encoding_series(pd.Series([brk(brk("œ"))]))[0]
    assert other == brk("œ")     # inner rule (Å“, 0x9C target) already ran
    # a second pass always finishes the job
    assert repair_encoding_series(pd.Series([other]))[0] == "œ"


def test_streaming_mask_frequency(spark, tmp_path):
    from bytefreq_spark.streaming.profile_stream import (
        read_transcript_stream,
        streaming_mask_frequency,
    )
    from bytefreq_spark.synth import gen_transcripts_pandas

    src = tmp_path / "stream_src"
    src.mkdir()
    pdf = gen_transcripts_pandas(40)
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(str(src))

    stream = read_transcript_stream(spark, str(src))
    agg = streaming_mask_frequency(stream, "role", grain="LU", window="1 hour")
    q = (
        agg.writeStream.format("memory").queryName("role_freq")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("select * from role_freq").collect()
    assert out, "streaming aggregation produced no rows"
    total = sum(r["count"] for r in out)
    assert total == len(pdf)
    pats = {r["pattern"] for r in out}
    assert pats == {"a"}  # roles are lowercase words → LU 'a'


def test_truncate_string_reference_semantics():
    """Hand-computed goldens of main.rs:621-635 (incl. the leading-space and
    max_length-3 quirks)."""
    from bytefreq_spark.profile import truncate_string

    # words re-joined with leading space; break before overflowing budget 17
    assert truncate_string("this is a long example value", 20) == " this is a long..."
    # single word fitting: rebuilt " 8" is longer than "8" → no ellipsis
    assert truncate_string("8", 20) == " 8"
    # whitespace collapse + leading space net out equal → no ellipsis
    assert truncate_string("a  b", 20) == " a b"
    # genuinely shorter rebuild → ellipsis appended
    assert truncate_string("a   b", 20) == " a b..."
    assert truncate_string("", 20) == ""
    # overlong single word: nothing fits → bare ellipsis
    assert truncate_string("x" * 40, 20) == "..."


def test_render_dq_report_layout(spark):
    """Format parity with main.rs:1063-1113 (README.md:276-314 shape)."""
    from bytefreq_spark.profile import dq_report, render_dq_report

    df = spark.createDataFrame(
        [("Feature", "62.0171126")] * 3 + [("Feature2", "129.826488")],
        ["type", "coord"],
    )
    rep = dq_report(df, ["type", "coord"], "LU")
    text = render_dq_report(rep, examined_rows=4, field_counts={2: 4},
                            timestamp="20230403 00:55:13")
    lines = text.split("\n")
    assert lines[0] == ""
    assert lines[1] == "Data Profiling Report: 20230403 00:55:13"
    assert lines[2] == "Examined rows: 4"
    assert lines[4] == "FieldsPerLine:"
    assert lines[5] == "2 fields: 4 rows"
    assert lines[7] == f"{'column':<32}\t{'count':<8}\t{'pattern':<8}\t{'example':<32}"
    assert lines[8] == f"{'':-<32}\t{'':-<8}\t{'':-<8}\t{'':-<32}"
    # columns in schema order, masks by count desc; col_{idx:05}_{name}
    assert lines[9].startswith("col_00000_type\t3")
    assert "Aa" in lines[9]
    assert lines[10].startswith("col_00000_type\t1")
    assert lines[11].startswith("col_00001_coord\t")


def test_render_dq_report_null_pattern(spark):
    """A NULL ``.Rules.`` value (the enhanced output of an invalid date)
    profiles to a NULL pattern; the report renders it as ``<null>``, apart
    from HU's empty-value mask ``''``."""
    from bytefreq_spark.profile import NULL_PATTERN, dq_report, render_dq_report
    from bytefreq_spark.rules import enhanced_flat

    assert NULL_PATTERN == "<null>"
    df = spark.createDataFrame([("2019-01-02",), ("not a date",)], ["d"])
    flat = enhanced_flat(df, ["d"])
    rep = dq_report(flat, ["d.Rules.std_date"], "LU")
    assert {r["pattern"] for r in rep.collect()} == {"2019-01-02", None}
    lines = render_dq_report(rep).split("\n")
    assert lines[2] == "Examined rows: 2"
    body = [ln.split("\t") for ln in lines[8:]]
    assert sorted(b[2].strip() for b in body) == ["2019-01-02", "<null>"]
    assert all(b[0] == "col_00000_d.Rules.std_date" for b in body)

    hu = spark.createDataFrame([("",), (None,), (None,)], "v string")
    lines = render_dq_report(dq_report(hu, grain="HU")).split("\n")
    assert [ln.split("\t")[1:3] for ln in lines[8:]] == [
        ["2       ", "<null>  "], ["1       ", "        "]]


def test_char_histogram_named_and_cp_render(spark):
    from bytefreq_spark.profile import char_histogram_named, render_cp_report

    df = spark.createDataFrame([("ab\t",), ("aé",)], ["v"])
    named = char_histogram_named(df, "v")
    by_char = {r["char"]: r for r in named.collect()}
    assert by_char["a"]["name"] == "LATIN SMALL LETTER A"
    assert by_char["a"]["count"] == 2
    assert by_char["\t"]["name"] == "HT - Horizontal Tab"  # control-char dim
    assert by_char["é"]["name"] == "LATIN SMALL LETTER E WITH ACUTE"
    assert by_char["é"]["codepoint"] == 0xE9

    text = render_cp_report(named)
    lines = text.split("\n")
    assert lines[0].startswith("hex   \tchar")
    # tab row: dash-padded hex quirk, \u{9} escape, description \t → \\t
    tab_line = [ln for ln in lines if "Horizontal Tab" in ln][0]
    assert tab_line.startswith("9-----\t\\u{9}")
    assert "\\t" in tab_line


def test_render_byte_report_golden(spark):
    """A8 report parity: charfreq.awk's layout (OCT FREQ CHAR DEC HEX BINARY
    DESCRIPTION; all 256 dim rows; empty FREQ for unseen bytes), fed by the
    UTF-8 byte histogram — '€' contributes its three UTF-8 bytes."""
    from bytefreq_spark.profile import render_byte_report

    df = spark.createDataFrame([("Ab1 \t€",), ("zz",)], "v string")
    lines = render_byte_report(df, "v").splitlines()
    assert len(lines) == 258  # header(2) + 256 dim rows
    assert lines[0].rstrip() == " OCT FREQ            CHAR DEC HEX  BINARY   DESCRIPTION"

    def row(oct_):
        return next(ln for ln in lines if ln.startswith(oct_ + " "))

    assert row("011") == "011  1              HT   009 0x09 00001001 Horizontal Tab"
    assert row("040") == "040  1                   032 0x20 00100000 Space"
    assert row("101") == "101  1              A    065 0x41 01000001 Latin capital letter a"
    assert row("172") == "172  2              z    122 0x7A 01111010 Latin small letter z"
    # UTF-8 bytes of '€' (E2 82 AC), named via the cp1252 extended table
    assert row("342") == "342  1              â    226 0xE2 11100010 Latin small letter a with circumflex"
    assert row("202") == "202  1              ‚    130 0x82 10000010 Single low-9 quotation mark"
    assert row("254") == "254  1              ¬    172 0xAC 10101100 Not sign"
    # unseen byte -> empty FREQ cell; control bytes carry abbreviations
    assert row("000").startswith("000                 NUL  000 0x00 00000000 Null char")
    assert row("201") == "201                      129 0x81 10000001 "


def test_byte_name_dim_complete(spark):
    from bytefreq_spark.profile import byte_name_dim

    dim = byte_name_dim(spark)
    assert dim.count() == 256
    rows = {r["byte"]: r for r in dim.collect()}
    assert rows[0]["char"] == "NUL"
    assert rows[0x80]["char"] == "€"      # cp1252 extended table
    assert rows[0x41]["description"] == "Latin capital letter a"
    assert all(rows[b]["oct"] == format(b, "03o") for b in range(256))
