"""Source-operator tests: nested JSON flattening (S5 + M6 quirk) and the
delimited/ragged tabular reader (S2-S4), mirroring FIXTURES.md §2/§4."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from bytefreq_spark.sources.json_flatten import flatten_json, profile_json
from bytefreq_spark.sources.tabular import read_delimited

NDJSON = [
    {"customer": {"address": {"postcode": "SW1 1AA"}},
     "organisation": {"address": {"postcode": "EC1 1BB"}}},
    {"customer": {"address": {"postcode": "M1 1AA"}},
     "organisation": {"address": {"postcode": None}}},
]

GEOJSON = [
    {"geometry": {"type": "Point", "coordinates": [62.0171126, -6.7834625]},
     "properties": {"city": "Sandavágur", "street": "Heiðavegur", "number": "32"},
     "type": "Feature"},
]


@pytest.fixture(scope="module")
def ndjson_df(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("json") / "rows.ndjson"
    with open(p, "w") as f:
        for row in NDJSON:
            f.write(json.dumps(row) + "\n")
    return spark.read.json(str(p))


@pytest.fixture(scope="module")
def geo_df(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("geo") / "rows.ndjson"
    with open(p, "w") as f:
        for row in GEOJSON:
            f.write(json.dumps(row) + "\n")
    return spark.read.json(str(p))


def test_flatten_dot_paths(ndjson_df):
    out = flatten_json(ndjson_df).collect()
    paths = {r["path"] for r in out}
    assert paths == {
        "customer.address.postcode", "organisation.address.postcode"
    }
    vals = {(r["path"], r["value"]) for r in out}
    # M6: JSON strings keep their quotes; null → literal 'null'
    assert ("customer.address.postcode", '"SW1 1AA"') in vals
    assert ("organisation.address.postcode", "null") in vals


def test_flatten_array_indices(geo_df):
    out = flatten_json(geo_df).collect()
    d = {r["path"]: r["value"] for r in out}
    assert d["geometry.coordinates[0]"] == "62.0171126"
    assert d["geometry.coordinates[1]"] == "-6.7834625"
    assert d["geometry.type"] == '"Point"'
    assert d["properties.city"] == '"Sandavágur"'
    assert d["type"] == '"Feature"'


def test_flatten_array_collapse(geo_df):
    out = flatten_json(geo_df, collapse_arrays=True).collect()
    paths = [r["path"] for r in out]
    assert paths.count("geometry.coordinates[]") == 2
    assert "geometry.coordinates[0]" not in paths


def test_profile_json_masks_quoted(ndjson_df):
    rep = {(r["column"], r["pattern"]): r["count"]
           for r in profile_json(ndjson_df, grain="LU").collect()}
    # '"SW1 1AA"' → HU '"AA9 9AA"' → LU '"A9 9A"'
    assert rep[("customer.address.postcode", '"A9 9A"')] == 2
    assert rep[("organisation.address.postcode", '"A9 9A"')] == 1
    assert rep[("organisation.address.postcode", "a")] == 1  # 'null' → LU 'a'


def test_read_delimited_ragged(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("pip") / "data.pip"
    p.write_text(
        "Company Name|RegAddress.PostCode| Country \n"
        "ACME LTD|SW1 1AA|England\n"
        "BETA PLC|M1 1AA|Wales|EXTRA1|EXTRA2\n"
        "GAMMA|EC1 1BB|Scotland\n"
    )
    df = read_delimited(spark, str(p))
    # header names trimmed, spaces→_
    assert df.columns == [
        "Company_Name", "RegAddress.PostCode", "Country", "RaggedErr0", "RaggedErr1"
    ]
    rows = {r["Company_Name"]: r for r in df.collect()}
    assert len(rows) == 3
    assert rows["BETA PLC"]["RaggedErr0"] == "EXTRA1"
    assert rows["ACME LTD"]["RaggedErr0"] is None
    assert rows["GAMMA"]["Country"] == "Scotland"


def test_field_count_report(spark, tmp_path_factory):
    """A5 over a raw line frame read from a pipe-delimited file."""
    from bytefreq_spark.profile import field_count_histogram

    p = tmp_path_factory.mktemp("pip2") / "d.pip"
    p.write_text("a|b|c\n1|2\n1|2|3|4\n")
    lines = spark.read.text(str(p))
    got = {(r["n_fields"], r["rows"])
           for r in field_count_histogram(lines, "value", "\\|").collect()}
    assert got == {(2, 1), (3, 1), (4, 1)}


def test_read_paginated_json(spark, tmp_path_factory):
    from bytefreq_spark.sources.json_flatten import read_paginated_json

    d = tmp_path_factory.mktemp("paged")
    (d / "page.json").write_text(
        '{"page": 1, "items": [{"id": 1, "name": "a"}, {"id": 2, "name": "b"}]}'
    )
    out = read_paginated_json(spark, str(d / "page.json"))
    rows = {(r["id"], r["name"]) for r in out.collect()}
    assert rows == {(1, "a"), (2, "b")}
    # top-level array document
    (d / "arr.json").write_text('[{"id": 3}, {"id": 4}]')
    out2 = read_paginated_json(spark, str(d / "arr.json"))
    assert {r["id"] for r in out2.collect()} == {3, 4}


def test_rules_latlon_flag(spark):
    from bytefreq_spark.rules import enhanced
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("45",), ("120",), ("200",)], ["v"])
    on = enhanced(df, include_latlon=True).select(
        F.col("v.Rules.poss_latitude").alias("lat"),
        F.col("v.Rules.poss_longitude").alias("lon"),
    ).collect()
    assert [r["lat"] for r in on] == [True, False, False]
    assert [r["lon"] for r in on] == [True, True, False]
    off = enhanced(df).select(F.col("v.Rules.poss_latitude").alias("lat")).collect()
    assert all(r["lat"] is None for r in off)


def test_identity_mask_rules_paths(spark):
    from bytefreq_spark.profile import mask_frequency

    df = spark.createDataFrame(
        [("2020-01-01", "ABC123")], ["d.Rules.std_date", "plain"]
    )
    freq = {(r["column"], r["pattern"])
            for r in mask_frequency(df, grain="LU").collect()}
    assert ("d.Rules.std_date", "2020-01-01") in freq  # identity (M5)
    assert ("plain", "A9") in freq                      # masked


def test_csv_rfc4180_quoted_fields(spark, tmp_path_factory):
    """S2 primary path: embedded delimiters and doubled-quote escapes; an
    empty field reads as ``""`` (the csv crate's value, where Spark gives
    NULL), so it profiles as the empty-value mask, not a NULL pattern."""
    from bytefreq_spark.profile import mask_frequency
    from bytefreq_spark.sources.tabular import read_csv_rfc4180

    p = tmp_path_factory.mktemp("csv") / "q.csv"
    p.write_text(
        'id|note name|plain\n'
        '1|"contains|pipe"|x\n'
        '2|"said ""hi"" twice"|y\n'
        '3|unquoted|z\n'
        '4||w\n'
    )
    df = read_csv_rfc4180(spark, str(p), delimiter="|", header=True)
    assert df.columns == ["id", "note_name", "plain"]
    rows = {r["id"]: r["note_name"] for r in df.collect()}
    assert rows["1"] == "contains|pipe"
    assert rows["2"] == 'said "hi" twice'
    assert rows["3"] == "unquoted"
    assert rows["4"] == ""
    for grain, empty in (("LU", "_"), ("AWK_L", "<<null>>")):
        freq = {r["pattern"]: r["count"]
                for r in mask_frequency(df, ["note_name"], grain).collect()}
        assert freq[empty] == 1 and None not in freq, grain


def test_excel_cell_to_string_semantics():
    """S7 reference semantics (excel.rs:83-106), testable without openpyxl."""
    from bytefreq_spark.sources.tabular import excel_cell_to_string as c

    assert c(42) == "42"
    assert c(42.0) == "42"        # zero-fraction float → int string
    assert c(42.5) == "42.5"
    assert c(True) == "true" and c(False) == "false"
    assert c(None) == ""
    assert c("text") == "text"


from bytefreq_spark.sources.tabular import make_xlsx as _make_xlsx


_XLSX_ROWS = [
    ["Cust Name", "Acct Bal", "Active", "Note"],
    ["Alice", 1200.5, True, "said hi"],
    ["Bob", 42.0, False, None],          # gap cell → ""
    ["Chloé", -7, True, "naïve café"],
]


def test_parse_xlsx_stdlib():
    """S7 real path: stdlib zip+XML parse matches excel.rs range_to_rows
    semantics — all-string cells, int-valued floats bare, true/false bools,
    gaps padded, shared AND inline string encodings."""
    from bytefreq_spark.sources.tabular import excel_sheet_names, parse_xlsx

    for shared in (True, False):
        data = _make_xlsx({"People": _XLSX_ROWS}, shared=shared)
        rows = parse_xlsx(data, 0)
        assert rows[0] == ["Cust Name", "Acct Bal", "Active", "Note"]
        assert rows[1] == ["Alice", "1200.5", "true", "said hi"]
        assert rows[2] == ["Bob", "42", "false", ""]       # 42.0 → "42"
        assert rows[3] == ["Chloé", "-7", "true", "naïve café"]
        assert excel_sheet_names(data) == ["People"]


def test_parse_xlsx_sheet_selection(tmp_path):
    import pytest as _pytest

    from bytefreq_spark.sources.tabular import parse_xlsx

    data = _make_xlsx({
        "first": [["a"], ["1"]],
        "second": [["b", "c"], ["x", 9]],
    })
    assert parse_xlsx(data, 1) == [["b", "c"], ["x", "9"]]
    assert parse_xlsx(data, "second") == parse_xlsx(data, 1)
    with _pytest.raises(ValueError, match="out of range"):
        parse_xlsx(data, 5)
    with _pytest.raises(ValueError, match="no sheet named"):
        parse_xlsx(data, "nope")
    with _pytest.raises(ValueError, match="empty"):
        parse_xlsx(_make_xlsx({"e": [[None]]}), 0)


def test_make_xlsx_sheet_name_attribute_escaping():
    """Sheet names land in an XML ATTRIBUTE: '\"' and '&' must survive the
    round trip (plain escape() leaves quotes alone → malformed workbook)."""
    from bytefreq_spark.sources.tabular import excel_sheet_names, parse_xlsx

    name = 'Q1 "final" & draft'
    data = _make_xlsx({name: [["h"], ["v"]]})
    assert excel_sheet_names(data) == [name]
    assert parse_xlsx(data, name) == [["h"], ["v"]]


def _raw_xlsx(sheet_xml_rows: str) -> bytes:
    """Hand-built minimal workbook whose sheetData is given verbatim —
    exercises producer shapes our own writer never emits (row-number gaps,
    missing r attributes)."""
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr(
            "xl/workbook.xml",
            '<?xml version="1.0"?>'
            '<workbook xmlns="http://schemas.openxmlformats.org/'
            'spreadsheetml/2006/main">'
            '<sheets><sheet name="s" sheetId="1"/></sheets></workbook>',
        )
        z.writestr(
            "xl/worksheets/sheet1.xml",
            '<?xml version="1.0"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/'
            'spreadsheetml/2006/main">'
            f"<sheetData>{sheet_xml_rows}</sheetData></worksheet>",
        )
    return buf.getvalue()


def _inline_row(r: int | None, *vals: str) -> str:
    cells = "".join(
        f'<c r="{chr(ord("A") + i)}{r if r is not None else ""}" '
        f't="inlineStr"><is><t>{v}</t></is></c>'
        for i, v in enumerate(vals)
    )
    attr = f' r="{r}"' if r is not None else ""
    return f"<row{attr}>{cells}</row>"


def test_parse_xlsx_row_number_gaps():
    """Excel omits fully-empty rows from sheetData; rows must land at their
    ``r`` position (gap rows materialize as "" rows inside the used range)
    or header selection silently shifts.  Leading/trailing all-empty rows
    are stripped (calamine used-range bounding box)."""
    from bytefreq_spark.sources.tabular import parse_xlsx

    # rows at r=3 (header), r=5, r=8 — rows 1-2 are OUTSIDE the range
    # (stripped), row 4 and rows 6-7 are in-range gaps (kept as "")
    data = _raw_xlsx(
        _inline_row(3, "h1", "h2")
        + _inline_row(5, "a", "b")
        + _inline_row(8, "c", "d")
    )
    assert parse_xlsx(data, 0) == [
        ["h1", "h2"], ["", ""], ["a", "b"], ["", ""], ["", ""], ["c", "d"],
    ]
    # rows without r fall back to sequential placement after the last row
    data2 = _raw_xlsx(_inline_row(1, "x") + _inline_row(None, "y"))
    assert parse_xlsx(data2, 0) == [["x"], ["y"]]


def test_read_excel_duplicate_headers(spark, tmp_path):
    """Headers normalizing to the same name ("A B" vs "A_B") and empty
    header cells must yield usable, unique column names — duplicates break
    every later by-name select with an ambiguous-reference error."""
    from bytefreq_spark.sources.tabular import read_excel

    p = tmp_path / "dup.xlsx"
    p.write_bytes(_make_xlsx({"s": [
        ["A B", "A_B", "", "A_B"],
        ["1", "2", "3", "4"],
    ]}))
    df = read_excel(spark, str(p))
    assert df.columns == ["A_B", "A_B_2", "col_2", "A_B_3"]
    assert [tuple(r) for r in df.collect()] == [("1", "2", "3", "4")]
    # by-name select works (the failure mode this guards against)
    assert df.select("A_B_2").first()[0] == "2"


def test_dedupe_headers_suffix_collision():
    """A literal header colliding with a generated suffix must not re-emit
    the same name: ["a", "a", "a_2"] naively yields ["a", "a_2", "a_2"] —
    the exact ambiguity dedupe_headers exists to prevent."""
    from bytefreq_spark.sources.tabular import dedupe_headers

    out = dedupe_headers(["a", "a", "a_2"])
    assert len(set(out)) == 3 and out[0] == "a"
    # generated names must also never collide with LATER literal headers
    out2 = dedupe_headers(["a", "a", "a", "a_2", "a_3"])
    assert len(set(out2)) == 5
    # empty-cell fallback stays collision-free too
    out3 = dedupe_headers(["col_0", ""])
    assert len(set(out3)) == 2


def test_read_excel_spark(spark, tmp_path):
    """read_excel end-to-end: header normalization + all-string frame."""
    from bytefreq_spark.sources.tabular import read_excel

    p = tmp_path / "people.xlsx"
    p.write_bytes(_make_xlsx({"People": _XLSX_ROWS}))
    df = read_excel(spark, str(p))
    assert df.columns == ["Cust_Name", "Acct_Bal", "Active", "Note"]
    rows = [tuple(r) for r in df.orderBy("Cust_Name").collect()]
    assert rows == [
        ("Alice", "1200.5", "true", "said hi"),
        ("Bob", "42", "false", ""),
        ("Chloé", "-7", "true", "naïve café"),
    ]


def test_read_excel_files_distributed(spark, tmp_path):
    """A glob of many workbooks → binaryFile + one parse task per file."""
    import pytest as _pytest

    from bytefreq_spark.sources.tabular import read_excel

    hdr = [["Id", "Val"]]
    for i in range(3):
        (tmp_path / f"wb{i}.xlsx").write_bytes(
            _make_xlsx({"s": hdr + [[i * 10 + j, f"v{i}-{j}"]
                                    for j in range(4)]}))
    df = read_excel(spark, str(tmp_path / "*.xlsx"))
    assert df.columns == ["Id", "Val"]
    assert df.count() == 12
    got = {tuple(r) for r in df.collect()}
    assert ("10", "v1-0") in got and ("23", "v2-3") in got

    (tmp_path / "bad.xlsx").write_bytes(
        _make_xlsx({"s": [["Other", "Header"], [1, "x"]]}))
    with _pytest.raises(Exception, match="header mismatch"):
        read_excel(spark, str(tmp_path / "*.xlsx")).collect()


def test_read_delimited_multipartition(spark, tmp_path_factory):
    """Line numbers must be real even when the file splits into many
    partitions (monotonically_increasing_id would misalign)."""
    p = tmp_path_factory.mktemp("mp") / "big.pip"
    with open(p, "w") as f:
        f.write("a col|b col\n")
        for i in range(3000):
            f.write(f"r{i}|v{i}\n")
    from bytefreq_spark.sources.tabular import read_delimited

    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    try:
        df = read_delimited(spark, str(p), "|", header_row=1)
        assert df.columns == ["a_col", "b_col"]
        assert df.count() == 3000
        assert df.filter(df.a_col == "a col").count() == 0  # no header leak
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
