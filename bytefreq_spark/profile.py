"""Distributed mask-frequency profiling (the reference's DQ engine, Spark-first).

The reference's entire mutable aggregation state — one ``HashMap<mask,count>``
plus one example map per column behind a global mutex (main.rs:834-838,
1008-1021; AWK ``allcolumns[field,pattern]++`` bytefreq_v1.05.awk:394-401) —
dissolves into a single shuffled hash aggregation:

    melt(all columns) → pattern_col → groupBy(column, pattern) → (count, example)

Catalyst plans this as partial+final HashAggregate with map-side combine, so
the lock-serialized tallies of the reference become shuffle-free partial
aggregation + one exchange on (column, pattern) — the key architectural win
(SURVEY.md §4.1).

One mask step and one tally serve every profiling surface: ``pattern_col``
masks through the Arrow kernel ``masks.mask_pandas_udf`` (NULL stays NULL)
and keeps ``.Rules.`` values verbatim (M5); ``tally`` counts per (column,
pattern) — ``mask_frequency``, ``reservoir_examples`` and
``sources.json_flatten.profile_json`` differ only in their example aggregate.

Examples: the reference keeps one *random* example per (column, mask) via
Algorithm-R reservoir (main.rs:185-189).  Default here is the deterministic
stand-in ``min(raw)`` (SURVEY.md A2) so results are testable and oracle-
matchable; ``reservoir_examples`` provides the faithful variant.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .masks import mask_pandas_udf

# ---------------------------------------------------------------------------
# Melt / unpivot (R1) — the load-bearing reshape
# ---------------------------------------------------------------------------


def melt(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Unpivot ``columns`` (default: all) to long form ``(column, raw)``.

    All values are cast to string first — profiling is stringly-typed on read
    (reference README.md:22 "Data Quality on Read").  Column order index is
    attached so report ordering (O1, main.rs:1087-1089) is reproducible.
    """
    cols = columns or df.columns
    # backticks: profiled column names may contain dots (flattened JSON paths,
    # `.Rules.` outputs) and must not be parsed as struct access
    strung = df.select([F.col(f"`{c}`").cast("string").alias(c) for c in cols])
    long = strung.unpivot([], [f"`{c}`" for c in cols], "column", "raw")
    return long


# ---------------------------------------------------------------------------
# Mask-frequency table (A1 + A2) and DQ report (O1)
# ---------------------------------------------------------------------------


def pattern_col(column: Column, raw: Column, grain: str = "LU") -> Column:
    """The mask of ``raw`` for a value of profiled ``column``: the Arrow
    kernel (NULL → NULL), except under a ``.Rules.`` path, whose values are
    rule outputs and keep their raw value as the mask (M5, main.rs:34-36) so
    enhanced output can be re-profiled without double-masking.  Invalid
    UTF-8 (a binary cast) reaches the kernel as U+FFFD, as in featurize."""
    return F.when(column.contains(".Rules."), raw).otherwise(
        mask_pandas_udf(grain)(F.make_valid_utf8(raw)))


def tally(long: DataFrame, grain: str, example: Column) -> DataFrame:
    """``(column, pattern, count, example)`` over a long ``(column, raw)``
    frame — the one mask-frequency tally (A1); ``example`` is the per-group
    example aggregate over ``raw`` (A2)."""
    masked = long.select(
        "column", pattern_col(F.col("column"), F.col("raw"), grain)
        .alias("pattern"), "raw")
    return masked.groupBy("column", "pattern").agg(
        F.count("*").alias("count"), example.alias("example"))


def mask_frequency(
    df: DataFrame,
    columns: list[str] | None = None,
    grain: str = "LU",
) -> DataFrame:
    """``(column, pattern, count, example)`` — one row per (column, mask),
    example ``min(raw)``; NULL cells tally under a NULL pattern.

    The Spark analogue of the AWK associative-array tallies named in the
    north star; the output is small (low-cardinality masks).

    Scale note: ``min(raw)`` on a string has an immutable aggregation buffer,
    which forces Catalyst to a **SortAggregate** (per-partition sort of the
    melted data); the counts-only dictionary on the hot path,
    ``pipeline.mask_frequency_dict``, stays a pure partial+final
    HashAggregate.
    """
    return tally(melt(df, columns), grain, F.min("raw"))


def dq_report(
    df: DataFrame,
    columns: list[str] | None = None,
    grain: str = "LU",
    top_k: int | None = None,
) -> DataFrame:
    """Report-ordered frequency table: columns in schema order, masks by
    count desc (main.rs:1087-1099), with per-column rank; optional top-k."""
    cols = columns or df.columns
    freq = mask_frequency(df, cols, grain)
    idx = F.create_map(
        *[x for i, c in enumerate(cols) for x in (F.lit(c), F.lit(i))]
    )
    w = Window.partitionBy("column").orderBy(
        F.desc("count"), F.asc("pattern")
    )
    out = (
        freq.withColumn("col_idx", idx[F.col("column")])
        .withColumn("rank", F.row_number().over(w))
    )
    if top_k is not None:
        out = out.filter(F.col("rank") <= top_k)
    return out.orderBy("col_idx", F.desc("count"), "pattern")


def reservoir_examples(
    df: DataFrame,
    columns: list[str] | None = None,
    grain: str = "LU",
    seed: int = 42,
) -> DataFrame:
    """Faithful single-example reservoir (Algorithm-R k=1, main.rs:185-189),
    made deterministic by seeding: pick the row with min md5(raw || seed)
    per (column, pattern) — an unbiased uniform choice, reproducible across
    partitionings (unlike the reference's arrival-order-dependent reservoir).
    md5 (not xxhash64) so DuckDB can replicate the tiebreak exactly:
    ``arg_min(raw, md5(raw || seed))`` — the driver entry is fully oracled.
    """
    return tally(melt(df, columns), grain,
                 F.min_by("raw", F.md5(F.concat("raw", F.lit(str(seed))))))


# ---------------------------------------------------------------------------
# Histograms (A5, A6, A7, A8)
# ---------------------------------------------------------------------------


def char_histogram(df: DataFrame, column: str) -> DataFrame:
    """Character-frequency histogram over a column (CP report, main.rs:500-551).

    ``(char, codepoint, count)`` ordered by codepoint asc (O2).
    """
    chars = df.select(
        F.explode(F.split(F.col(column).cast("string"), "")).alias("char")
    ).filter(F.length("char") == 1)
    return (
        chars.groupBy("char")
        .agg(F.count("*").alias("count"))
        .withColumn("codepoint", F.ascii("char"))
        .select("char", "codepoint", "count")
        .orderBy("codepoint")
    )


# J3: char → Unicode-name enrichment (reference main.rs:531-538 uses the
# unicode_names2 crate; main.rs:320-430 ships a control-char description dim).
# C0/DEL control chars have no Unicode *name*, so the reference overlays its
# own descriptions — same data here (it's the standard ASCII control list).
_CONTROL_CHAR_DESCRIPTIONS = {
    0x00: "NUL - Null char", 0x01: "SOH - Start of Heading",
    0x02: "STX - Start of Text", 0x03: "ETX - End of Text",
    0x04: "EOT - End of Transmission", 0x05: "ENQ - Enquiry",
    0x06: "ACK - Acknowledgment", 0x07: "BEL - Bell",
    0x08: "BS - Back Space", 0x09: "HT - Horizontal Tab",
    0x0A: "LF - Line Feed", 0x0B: "VT - Vertical Tab",
    0x0C: "FF - Form Feed", 0x0D: "CR - Carriage Return",
    0x0E: "SO - Shift Out / X-On", 0x0F: "SI - Shift In / X-Off",
    0x10: "DLE - Data Line Escape",
    0x11: "DC1 - Device Control 1 (oft. XON)", 0x12: "DC2 - Device Control 2",
    0x13: "DC3 - Device Control 3 (oft. XOFF)", 0x14: "DC4 - Device Control 4",
    0x15: "NAK - Negative Acknowledgement", 0x16: "SYN - Synchronous Idle",
    0x17: "ETB - End of Transmit Block", 0x18: "CAN - Cancel",
    0x19: "EM - End of Medium", 0x1A: "SUB - Substitute",
    0x1B: "ESC - Escape", 0x1C: "FS - File Separator",
    0x1D: "GS - Group Separator", 0x1E: "RS - Record Separator",
    0x1F: "US - Unit Separator", 0x7F: "DEL - Delete",
}


def unicode_name_dim(spark, max_cp: int = 0x10000) -> DataFrame:
    """Broadcast dimension ``(char, codepoint, name)`` over the BMP,
    generated from ``unicodedata`` (J3).  ~65k rows — dimension-table sized;
    broadcast-joined onto the (already tiny) aggregated char histogram."""
    import unicodedata

    rows = []
    for cp in range(1, max_cp):
        ch = chr(cp)
        name = unicodedata.name(
            ch, _CONTROL_CHAR_DESCRIPTIONS.get(cp, "UNKNOWN")
        )
        rows.append((ch, cp, name))
    return spark.createDataFrame(rows, "char string, codepoint int, name string")


def char_histogram_named(df: DataFrame, column: str) -> DataFrame:
    """A7+J3: char histogram enriched with Unicode names via broadcast join
    against the generated name dim.  ``(char, codepoint, count, name)``."""
    hist = char_histogram(df, column).drop("codepoint")
    dim = unicode_name_dim(df.sparkSession)
    return (
        hist.join(F.broadcast(dim), "char", "left")
        .withColumn("name", F.coalesce("name", F.lit("UNKNOWN")))
        .withColumn("codepoint", F.coalesce("codepoint", F.lit(-1)))
        .select("char", "codepoint", "count", "name")
        .orderBy("codepoint")
    )


def byte_histogram(df: DataFrame, column: str) -> DataFrame:
    """Byte-frequency histogram (charfreq.awk:282-285) on UTF-8 bytes."""
    exploded = df.select(
        F.explode(
            # encode → binary → per-byte ints
            F.transform(
                F.split(F.hex(F.encode(F.col(column).cast("string"), "UTF-8")), "(?<=\\G..)"),
                lambda h: F.conv(h, 16, 10).cast("int"),
            )
        ).alias("byte")
    ).filter(F.col("byte").isNotNull())
    return exploded.groupBy("byte").agg(F.count("*").alias("count")).orderBy("byte")


def column_stats(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Per-column summary statistics over the stringly-typed melt — the
    profiling companion to the mask reports: ``(column, n_rows, n_null,
    n_distinct, min_val, max_val, avg_len)``.  One melt + one grouped agg
    (exact distinct for oracle-ability; swap in approx_count_distinct on the
    100 TB path where ±2 % is fine and the agg stays one pass)."""
    long = melt(df, columns)
    return (
        long.groupBy("column")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("raw").isNull().cast("long")).alias("n_null"),
            F.count_distinct("raw").alias("n_distinct"),
            F.min("raw").alias("min_val"),
            F.max("raw").alias("max_val"),
            # double, not decimal: Spark decimal(18,4) materializes in pandas
            # as decimal.Decimal objects while DuckDB DECIMAL(18,4) arrives as
            # float64 — identical values, different dtypes, hash mismatch (the
            # r3/r4 lesson).  4dp-rounded values map to the same nearest double
            # in both engines, so round-then-DOUBLE on both sides is stable.
            F.round(F.avg(F.length("raw")), 4)
            .cast("double").alias("avg_len"),
        )
        .orderBy("column")
    )


def byte_dim_rows() -> list[tuple]:
    """The 256 rows of the byte dimension — the shape of charfreq.awk's
    ``ref`` table (charfreq.awk:7-263), independently reconstructed from
    public sources rather than copied: control bytes use the standard ASCII
    control list (shared with the J3 char dim), printable/high bytes decode
    via Windows-1252 (the extended-ASCII table charfreq targets — 0x80 is
    the euro sign there) with sentence-cased ``unicodedata`` names as
    descriptions.  Row shape: (byte, oct, hex, binary, char, description).
    Shared by the Spark dim AND the DuckDB oracle's VALUES list."""
    import unicodedata

    rows = []
    for b in range(256):
        if b in _CONTROL_CHAR_DESCRIPTIONS:
            abbrev, _, desc = _CONTROL_CHAR_DESCRIPTIONS[b].partition(" - ")
            ch = abbrev
        else:
            try:
                ch = bytes([b]).decode("cp1252")
            except UnicodeDecodeError:
                ch = ""  # 0x81/0x8D/0x8F/0x90/0x9D are unmapped in cp1252
            desc = unicodedata.name(ch, "").capitalize() if ch else ""
            if ch.isspace():
                ch = ""  # whitespace renders blank in the report table
        rows.append((b, format(b, "03o"), format(b, "02X"),
                     format(b, "08b"), ch, desc))
    return rows


def byte_name_dim(spark) -> DataFrame:
    """256-entry broadcast byte dimension (see ``byte_dim_rows``)."""
    return spark.createDataFrame(
        byte_dim_rows(),
        "byte int, oct string, hex string, binary string, "
        "char string, description string",
    )


def byte_histogram_named(df: DataFrame, column: str) -> DataFrame:
    """A8+J3: byte histogram enriched with the 256-entry byte dim via
    broadcast join.  ``(byte, count, char, description)``."""
    hist = byte_histogram(df, column)
    dim = byte_name_dim(df.sparkSession)
    return (
        hist.join(F.broadcast(dim), "byte", "left")
        .select("byte", "count", "char", "description")
        .orderBy("byte")
    )


def render_byte_report(df: DataFrame, column: str) -> str:
    """charfreq.awk's stdout layout (charfreq.awk:258-296): header, then all
    256 dim rows in byte order — ``OCT FREQ CHAR DEC HEX BINARY
    DESCRIPTION`` — with an empty FREQ cell for bytes never seen (the awk
    prints ``used[x]`` unset for those)."""
    counts = {r["byte"]: r["count"]
              for r in byte_histogram(df, column).collect()}
    dim = byte_name_dim(df.sparkSession).orderBy("byte").collect()
    out = [
        f"{' OCT':<4} {'FREQ':<14} {' CHAR DEC HEX  BINARY   DESCRIPTION'}",
        f"{' ___':<4} {'____':<14} {' ____ ___ ____ ________ ___________'}",
    ]
    for r in dim:
        freq = counts.get(r["byte"], "")
        out.append(
            f"{r['oct']:<4} {freq:<14} {r['char']:<5}"
            f"{r['byte']:03d} 0x{r['hex']} {r['binary']} {r['description']}"
        )
    return "\n".join(out)


def field_count_histogram(df: DataFrame, column: str, sep: str = "\\|") -> DataFrame:
    """Rows per field-arity for a delimited string column (A5, main.rs:1003-1005)."""
    return (
        df.select(F.size(F.split(F.col(column), sep)).alias("n_fields"))
        .groupBy("n_fields")
        .agg(F.count("*").alias("rows"))
        .orderBy("n_fields")
    )


def per_file_counts(df: DataFrame) -> DataFrame:
    """Per-source-file row counts (A6, awk ``wc[FILENAME]++``), unordered —
    also the checkpointed run's ``lineage`` and ``input_lineage`` tables.
    Non-file inputs (generators, cached frames) yield one ''-keyed row."""
    return (
        df.select(F.input_file_name().alias("file"))
        .groupBy("file")
        .agg(F.count("*").alias("rows"))
    )


# ---------------------------------------------------------------------------
# Report cosmetics & legacy report shapes (O4, R2, R3)
# ---------------------------------------------------------------------------


def truncate_example_col(c, max_len: int = 20):
    """O4 (main.rs:621-635): cut long examples at the last word boundary
    within max_len and append '...'; strings within the limit pass through."""
    cut = F.substring(c, 1, max_len)
    word_cut = F.regexp_extract(cut, r"^(.*\S)\s+\S*$", 1)
    trimmed = F.when(F.length(word_cut) > 0, word_cut).otherwise(cut)
    return F.when(F.length(c) <= max_len, c).otherwise(
        F.concat(trimmed, F.lit("..."))
    )


def doubled_columns(df: DataFrame, columns: list[str] | None = None,
                    grain: str = "LU") -> DataFrame:
    """R2 (AWK report=2): each column followed by its DQ_<col> mask."""
    cols = columns or df.columns
    out = df.select([F.col(f"`{c}`").cast("string").alias(c) for c in cols])
    return out.withColumns({
        f"DQ_{c}": pattern_col(F.lit(c), F.col(f"`{c}`"), grain) for c in cols
    })


def truncate_string(value: str, max_length: int = 20) -> str:
    """Faithful replica of the reference's report-side truncation
    (main.rs:621-635) including its quirks: words are re-joined with a
    LEADING space, the budget is ``max_length - 3``, whitespace runs
    collapse, and '...' is appended whenever the rebuilt string is shorter
    than the input.  (``truncate_example_col`` is the SQL-oracle-able
    column variant with plainer substring semantics — deliberate split.)"""
    result = ""
    for word in value.split():
        if len(result) + len(word) > max_length - 3:
            break
        result += " " + word
    if len(result) < len(value):
        result += "..."
    return result


# How ``render_dq_report`` prints the pattern of NULL cells, apart from HU's
# empty-value mask ``''``; no grain's mask can spell it.
NULL_PATTERN = "<null>"


def render_dq_report(
    report: DataFrame,
    examined_rows: int | None = None,
    field_counts: dict[int, int] | None = None,
    max_len: int = 20,
    timestamp: str = "",
) -> str:
    """The reference's stdout DQ report layout (main.rs:1063-1113), rendered
    from a ``dq_report`` frame.  Driver-side by design: the report is a
    small aggregated table (masks × columns), never the data.

    Layout: header with timestamp + examined-rows, FieldsPerLine block, then
    a tab-separated table ``col_{idx:05}_{name}  count  pattern  example``
    with {:<32}/{:<8} padding, columns in schema order, masks by count desc.
    ``examined_rows`` defaults to the report's count sum of the first column
    (mirrors A4's tabular-only counter quirk when passed 0).  A NULL pattern
    prints as ``NULL_PATTERN``.
    """
    rows = report.orderBy("col_idx", F.desc("count"), "pattern").collect()
    if examined_rows is None:
        first_idx = rows[0]["col_idx"] if rows else 0
        examined_rows = sum(r["count"] for r in rows if r["col_idx"] == first_idx)
    out = [""]
    out.append(f"Data Profiling Report: {timestamp}")
    out.append(f"Examined rows: {examined_rows}")
    out.append("")
    out.append("FieldsPerLine:")
    for n_fields, n_rows in sorted((field_counts or {}).items()):
        out.append(f"{n_fields} fields: {n_rows} rows")
    out.append("")
    out.append(f"{'column':<32}\t{'count':<8}\t{'pattern':<8}\t{'example':<32}")
    out.append(f"{'':-<32}\t{'':-<8}\t{'':-<8}\t{'':-<32}")
    for r in rows:
        example = truncate_string(r["example"] or "", max_len)
        pattern = NULL_PATTERN if r["pattern"] is None else r["pattern"]
        out.append(
            f"col_{r['col_idx']:05d}_{r['column']}\t{r['count']:<8}\t"
            f"{pattern:<8}\t{example:<32}"
        )
    return "\n".join(out)


def _escape_unicode(ch: str) -> str:
    """Rust ``char::escape_unicode`` — always ``\\u{hex}``."""
    return f"\\u{{{ord(ch):x}}}"


def _escape_debug(ch: str) -> str:
    """Rust ``char::escape_debug`` — printable chars verbatim; \\t \\n \\r
    and quotes escaped; other control/non-printable as ``\\u{hex}``."""
    import unicodedata

    specials = {"\t": "\\t", "\n": "\\n", "\r": "\\r",
                '"': '\\"', "'": "\\'", "\\": "\\\\"}
    if ch in specials:
        return specials[ch]
    if unicodedata.category(ch) in ("Cc", "Cf", "Cs", "Co", "Cn"):
        return _escape_unicode(ch)
    return ch


def render_cp_report(named_hist: DataFrame) -> str:
    """The reference's CP char-profile stdout layout (main.rs:518-549):
    ``hex  \\u{..}  count  escaped  name`` with the same (quirky) dash-padded
    hex column, ordered by codepoint."""
    out = [
        f"{'hex':<6}\t{'char':<8}\t{'count':<8}\tdescription\tname",
        f"{'':-<6}\t{'':-<8}\t{'':-<8}\t{'':-<15}\t{'':-<15}",
    ]
    for r in named_hist.orderBy("codepoint").collect():
        ch = r["char"]
        out.append(
            f"{format(r['codepoint'], 'X'):-<6}\t{_escape_unicode(ch):<10}\t"
            f"{r['count']:<8}\t{_escape_debug(ch):<8}\t{r['name']}"
        )
    return "\n".join(out)


def machine_report(df: DataFrame, columns: list[str] | None = None,
                   grain: str = "LU", source: str = "") -> DataFrame:
    """R3 (AWK report=0): machine-loadable shape
    (report_date, filename, colname, grain, count, pattern, example)."""
    freq = mask_frequency(df, columns, grain)
    return freq.select(
        F.current_date().cast("string").alias("report_date"),
        F.lit(source).alias("filename"),
        F.col("column").alias("colname"),
        F.lit(grain).alias("grain"),
        "count",
        F.col("pattern"),
        "example",
    )
