"""Delimited/tabular source with reference header + ragged-row semantics.

Mirrors the reference's tabular path (S2-S4):
* configurable single-char delimiter, default ``|`` (main.rs:686-695);
* header row N: names taken from row N (1-based data order), trimmed,
  spaces → ``_`` (main.rs:846-850, 914-918); rows at or before the header
  are skipped;
* ragged rows: fields beyond the header spawn ``RaggedErr{N}`` columns
  (main.rs:977-999) — here the max arity is discovered with one cheap
  aggregation pass (distributed scans can't grow schema mid-flight).

All columns are strings (profiling-on-read).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def normalize_header(name: str) -> str:
    return name.strip().replace(" ", "_")


def dedupe_headers(headers: list[str]) -> list[str]:
    """Make normalized headers usable as column names: empty cells become
    ``col_{i}`` and later duplicates get ``_2``, ``_3``, ... suffixes
    (normalization can collide — "A B" and "A_B" both normalize to "A_B" —
    and a duplicate/empty name breaks every later by-name select with an
    ambiguous-reference error)."""
    used: set[str] = set()
    out = []
    for i, h in enumerate(headers):
        h = h or f"col_{i}"
        # track EMITTED names, not input names: a literal header can collide
        # with a generated suffix (["a", "a", "a_2"] must not re-emit "a_2")
        cand, n = h, 1
        while cand in used:
            n += 1
            cand = f"{h}_{n}"
        used.add(cand)
        out.append(cand)
    return out


def _sep_regex(delimiter: str) -> str:
    return "\\" + delimiter if delimiter in "|.$^*+?()[]{}" else delimiter


def delimited_lines_to_columns(
    lines: DataFrame, names: list[str], delimiter: str = "|",
    value_col: str = "value",
) -> DataFrame:
    """Split a frame of raw lines into named string columns with the
    reference's ragged-row semantics (S4, main.rs:977-999): fields beyond the
    header spawn ``RaggedErr{N}`` columns.  Max arity is discovered with one
    cheap aggregation pass (a distributed scan can't grow schema mid-flight).
    """
    data = lines.select(F.split(F.col(value_col), _sep_regex(delimiter)).alias("_f"))
    max_arity = data.agg(F.max(F.size("_f"))).collect()[0][0] or len(names)
    cols = list(names) + [
        f"RaggedErr{i}" for i in range(max(0, max_arity - len(names)))
    ]
    return data.select(
        # F.get (not []): returns NULL past the end under ANSI mode
        *[F.get(F.col("_f"), i).alias(c) for i, c in enumerate(cols)]
    )


def read_delimited(
    spark: SparkSession,
    path: str,
    delimiter: str = "|",
    header_row: int = 1,
) -> DataFrame:
    """Read a delimited text file the way the reference does.

    Note: quoted-field RFC 4180 parsing is available via ``spark.read.csv``
    (PERMISSIVE); this reader reproduces the reference's *fallback* naive
    split (main.rs:692-694) which is also its AWK-compatible behavior.
    """
    # Real 0-based line numbers via zipWithIndex (partition-ordered global
    # index), not monotonically_increasing_id — mono ids are
    # (partition<<33)+offset, so `>= header_row` skips the wrong rows whenever
    # the file splits into >1 partition.  zipWithIndex costs one extra tiny
    # per-partition-count job, acceptable for this profiling entry path
    # (the big-data path is spark.read.csv, see read_csv_rfc4180).
    indexed = spark.read.text(path).rdd.zipWithIndex().map(
        lambda t: (t[0]["value"], t[1])
    )
    lines = spark.createDataFrame(indexed, "value string, _row long")
    hdr = lines.filter(F.col("_row") == header_row - 1).collect()[0]["value"]
    names = [normalize_header(c) for c in hdr.split(delimiter)]

    data = lines.filter(F.col("_row") >= header_row)
    return delimited_lines_to_columns(data, names, delimiter)


def read_csv_rfc4180(
    spark: SparkSession,
    path: str,
    delimiter: str = "|",
    header: bool = True,
) -> DataFrame:
    """RFC 4180 quoted-field delimited reader (S2 primary path).

    The reference's primary tabular parser is the csv crate with full quoting
    (main.rs:638-655): quoted fields may embed the delimiter, doubled quotes
    escape a literal quote.  ``spark.read.csv`` implements exactly these
    semantics JVM-side (splittable, pushdown-friendly — the big-data path);
    header names get the same trim + spaces→``_`` normalization as
    ``read_delimited``.  All-string schema: profiling-on-read.

    Spark reads an unquoted empty field (and a field missing from a short
    row) as NULL; the csv crate gives ``""``.  NULLs are filled with ``""``
    so an empty cell profiles as the empty-value mask (LU ``_``, AWK
    ``<<null>>``), not as a NULL pattern.
    """
    df = spark.read.csv(
        path, sep=delimiter, header=header, quote='"', escape='"',
        mode="PERMISSIVE", inferSchema=False,
    )
    return df.select([
        F.coalesce(F.col(f"`{c}`"), F.lit("")).alias(normalize_header(c))
        for c in df.columns
    ])


# ---------------------------------------------------------------------------
# S7: Excel source (reference excel.rs:17-114) — pure-stdlib zip+XML parse,
# no codec library needed (r4: the openpyxl gate is gone)
# ---------------------------------------------------------------------------


def excel_cell_to_string(v) -> str:
    """All-cells-to-string semantics of the reference (excel.rs:83-106):
    ints bare, floats with zero fraction as int strings, bools ``true``/
    ``false``, empty → ``""``.  Pure function so the semantics are testable
    even when no Excel reader library is installed."""
    import math

    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isfinite(v) and v == int(v):
            return str(int(v))
        return str(v)
    return str(v)


def _xlsx_col_index(ref: str) -> int:
    """0-based column index from an A1-style cell reference ("BC12" → 54)."""
    n = 0
    for ch in ref:
        if not ch.isalpha():
            break
        n = n * 26 + (ord(ch.upper()) - ord("A") + 1)
    return n - 1


def _xlsx_cell_text(el) -> str:
    """Concatenated <t> runs under an <is>/<si> element (plain + rich text)."""
    return "".join(t.text or "" for t in el.iter() if t.tag.endswith("}t"))


def excel_sheet_names(data: bytes) -> list[str]:
    """Workbook sheet names in declaration order (excel.rs:57-62)."""
    import io
    import xml.etree.ElementTree as ET
    import zipfile

    with zipfile.ZipFile(io.BytesIO(data)) as z:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
    return [
        s.attrib.get("name", "")
        for s in wb.iter() if s.tag.endswith("}sheet")
    ]


def parse_xlsx(data: bytes, sheet: int | str = 0) -> list[list[str]]:
    """Pure-stdlib xlsx parse (zipfile + ElementTree) → all-string rows,
    the exact shape of the reference's range_to_rows (excel.rs:66-82):
    every cell stringified via the Int/Float/Bool/Empty rules, rows padded
    to the used-range width, missing cells inside a row filled with "".

    Covers the cell types the reference's calamine path handles: shared
    strings (incl. rich-text runs), inline strings, formula strings,
    numbers (int-valued floats bare — excel.rs:88-95), booleans, errors
    (``#ERROR:...``).  Date-STYLED numbers surface as their raw serial
    number, matching calamine's DateTime.to_string() fallback
    (excel.rs:97-101: "just convert to string representation").

    No Excel library needed: xlsx is a zip of XML, both in the stdlib —
    the previous openpyxl gate is gone."""
    import io
    import xml.etree.ElementTree as ET
    import zipfile

    with zipfile.ZipFile(io.BytesIO(data)) as z:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        sheets = [s for s in wb.iter() if s.tag.endswith("}sheet")]
        names = [s.attrib.get("name", "") for s in sheets]
        if isinstance(sheet, str):
            if sheet not in names:
                raise ValueError(f"no sheet named {sheet!r}; have {names}")
            idx = names.index(sheet)
        else:
            if sheet >= len(sheets):
                raise ValueError(
                    f"Sheet index {sheet} out of range. Workbook has "
                    f"{len(sheets)} sheets."
                )
            idx = sheet
        # resolve the sheet's XML part through the workbook relationships
        # (sheet order in workbook.xml need not match worksheets/sheetN.xml
        # numbering)
        rid = None
        for k, v in sheets[idx].attrib.items():
            if k.endswith("}id"):
                rid = v
        target = f"worksheets/sheet{idx + 1}.xml"
        if rid is not None:
            rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
            for rel in rels.iter():
                if rel.attrib.get("Id") == rid:
                    target = rel.attrib["Target"]
        target = target.lstrip("/")
        if not target.startswith("xl/"):
            target = "xl/" + target

        shared: list[str] = []
        try:
            sst = ET.fromstring(z.read("xl/sharedStrings.xml"))
            shared = [
                _xlsx_cell_text(si)
                for si in sst.iter() if si.tag.endswith("}si")
            ]
        except KeyError:
            pass

        sheet_xml = ET.fromstring(z.read(target))

    # rows are placed by their 1-based ``r`` attribute: Excel OMITS fully
    # empty rows from sheetData, so sequential appending would silently
    # shift later rows up and header_row would select the wrong row.  Gaps
    # become rows of "" (calamine used-range semantics: in-range empty rows
    # exist); rows without an ``r`` fall back to the next sequential slot.
    by_idx: dict[int, list[str]] = {}
    next_seq = 0
    min_col = None
    for row in sheet_xml.iter():
        if not row.tag.endswith("}row"):
            continue
        try:
            ridx = int(row.attrib["r"]) - 1
        except (KeyError, ValueError):
            ridx = next_seq
        next_seq = ridx + 1
        cells: list[str] = []
        for c in row:
            if not c.tag.endswith("}c"):
                continue
            col = _xlsx_col_index(c.attrib.get("r", ""))
            if col < 0:
                col = len(cells)
            while len(cells) <= col:
                cells.append("")
            t = c.attrib.get("t", "n")
            v = None
            is_el = None
            for ch in c:
                if ch.tag.endswith("}v"):
                    v = ch.text or ""
                elif ch.tag.endswith("}is"):
                    is_el = ch
            if t == "inlineStr":
                cells[col] = _xlsx_cell_text(is_el) if is_el is not None else ""
            elif v is None:
                cells[col] = ""
            elif t == "s":
                cells[col] = shared[int(v)]
            elif t == "str":
                cells[col] = v
            elif t == "b":
                cells[col] = "true" if v not in ("0", "", "false") else "false"
            elif t == "e":
                cells[col] = f"#ERROR:{v}"
            else:  # number
                cells[col] = excel_cell_to_string(float(v))
            if cells[col] != "":
                mc = col
                min_col = mc if min_col is None else min(min_col, mc)
        by_idx[ridx] = cells
    rows = [
        by_idx.get(i, [])
        for i in range(max(by_idx) + 1 if by_idx else 0)
    ]
    nonempty = [i for i, r in enumerate(rows) if any(c != "" for c in r)]
    if not nonempty:
        raise ValueError("Sheet is empty")
    # the reference's Range is the used bounding box: strip all-empty LEAD
    # and TRAIL rows (symmetric with the lead-column strip — a sheet whose
    # data starts at row 5 has a 4-row-smaller range, not 4 blank rows),
    # strip all-empty lead columns, pad every row to the widest
    rows = rows[nonempty[0]:nonempty[-1] + 1]
    lead = min_col or 0
    rows = [r[lead:] for r in rows]
    width = max(len(r) for r in rows)
    return [r + [""] * (width - len(r)) for r in rows]


def read_excel(
    spark: SparkSession, path: str, sheet: int | str = 0, header_row: int = 1
) -> DataFrame:
    """Excel scan → all-string DataFrame (S7; reference excel.rs:17-114):
    sheet by 0-based index or by name, every cell stringified, header row N
    with the standard name normalization.  Driver-side parse — Excel files
    are small config/reference tables, not the 100 TB path (for a DIRECTORY
    of workbooks use ``read_excel_files``, which parallelizes per file)."""
    with open(path, "rb") as f:
        rows = parse_xlsx(f.read(), sheet)
    header = dedupe_headers([normalize_header(c) for c in rows[header_row - 1]])
    body = rows[header_row:]
    return spark.createDataFrame(body or [], schema=" ".join(
        f"`{h}` string," for h in header
    ).rstrip(","))


def read_excel_files(
    spark: SparkSession, path_glob: str, sheet: int | str = 0,
    header_row: int = 1,
) -> DataFrame:
    """Distributed Excel scan: ``binaryFile`` source → one parse task per
    workbook (mapInPandas over the file bytes), headers normalized per file
    and required to agree.  The Spark-first shape for MANY small workbooks;
    each file is bounded (xlsx is a zip loaded in memory), parallelism comes
    from the file count."""
    import pandas as pd

    bins = spark.read.format("binaryFile").load(path_glob)
    first = bins.select("content").first()
    if first is None:
        raise FileNotFoundError(f"no files match {path_glob}")
    head_rows = parse_xlsx(bytes(first["content"]), sheet)
    header = dedupe_headers(
        [normalize_header(c) for c in head_rows[header_row - 1]]
    )
    schema = ", ".join(f"`{h}` string" for h in header)

    def gen(batches):
        for pdf in batches:
            for blob in pdf["content"]:
                rows = parse_xlsx(bytes(blob), sheet)
                hdr = dedupe_headers(
                    [normalize_header(c) for c in rows[header_row - 1]]
                )
                if hdr != header:
                    raise ValueError(
                        f"workbook header mismatch: {hdr} != {header}"
                    )
                yield pd.DataFrame(rows[header_row:], columns=header)

    return bins.select("content").mapInPandas(gen, schema=schema)


def make_xlsx(sheets: dict[str, list[list]], shared: bool = True) -> bytes:
    """Minimal deterministic xlsx WRITER (zip + XML, stdlib only) — the
    round-trip staging side of ``parse_xlsx``, used by tests and the
    driver-contract oracle (the reference only reads Excel, excel.rs; this
    writer exists to exercise that read path without any codec library).
    Cell typing: str → shared string (or inline when shared=False), bool →
    t="b", int/float → number, None → skipped cell (a GAP, not an empty
    string — exercises the A1-ref padding)."""
    import io
    import zipfile
    from xml.sax.saxutils import escape

    strings: list[str] = []

    def sref(s: str) -> int:
        if s not in strings:
            strings.append(s)
        return strings.index(s)

    def colname(i: int) -> str:
        name = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            name = chr(ord("A") + r) + name
        return name

    sheet_xmls = []
    for rows in sheets.values():
        body = []
        for ri, row in enumerate(rows, start=1):
            cells = []
            for ci, v in enumerate(row):
                if v is None:
                    continue
                ref = f"{colname(ci)}{ri}"
                if isinstance(v, bool):
                    cells.append(f'<c r="{ref}" t="b"><v>{int(v)}</v></c>')
                elif isinstance(v, (int, float)):
                    cells.append(f'<c r="{ref}"><v>{v}</v></c>')
                elif shared:
                    cells.append(
                        f'<c r="{ref}" t="s"><v>{sref(str(v))}</v></c>')
                else:
                    cells.append(
                        f'<c r="{ref}" t="inlineStr"><is><t>'
                        f"{escape(str(v))}</t></is></c>")
            body.append(f'<row r="{ri}">{"".join(cells)}</row>')
        sheet_xmls.append(
            '<?xml version="1.0"?><worksheet xmlns="http://schemas.'
            'openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
            f'{"".join(body)}</sheetData></worksheet>')

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    sheet_tags = "".join(
        # attribute context: escape() alone leaves '"' unescaped and would
        # emit a malformed name="a"b" attribute
        f'<sheet name="{escape(nm, {chr(34): "&quot;"})}" '
        f'sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, nm in enumerate(sheets)
    )
    workbook = (
        f'<?xml version="1.0"?><workbook xmlns="{ns}" xmlns:r="{rns}">'
        f"<sheets>{sheet_tags}</sheets></workbook>")
    rels = "".join(
        f'<Relationship Id="rId{i + 1}" Type="{rns}/worksheet" '
        f'Target="worksheets/sheet{i + 1}.xml"/>'
        for i in range(len(sheets))
    )
    wb_rels = ('<?xml version="1.0"?><Relationships xmlns="http://schemas.'
               f'openxmlformats.org/package/2006/relationships">{rels}'
               "</Relationships>")
    sst = (
        '<?xml version="1.0"?>'
        f'<sst xmlns="{ns}" count="{len(strings)}" '
        f'uniqueCount="{len(strings)}">'
        + "".join(f"<si><t>{escape(s)}</t></si>" for s in strings)
        + "</sst>")
    ctypes = (
        '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.'
        'org/package/2006/content-types">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Default Extension="rels" ContentType="application/vnd.'
        'openxmlformats-package.relationships+xml"/></Types>')
    root_rels = ('<?xml version="1.0"?><Relationships xmlns="http://schemas.'
                 'openxmlformats.org/package/2006/relationships">'
                 f'<Relationship Id="rId1" Type="{rns}/officeDocument" '
                 'Target="xl/workbook.xml"/></Relationships>')

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", ctypes)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        if strings:
            z.writestr("xl/sharedStrings.xml", sst)
        for i, xml in enumerate(sheet_xmls):
            z.writestr(f"xl/worksheets/sheet{i + 1}.xml", xml)
    return buf.getvalue()
