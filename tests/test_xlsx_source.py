"""S1 Excel ingest: the dependency-free executor-side xlsx reader.

Fixture workbooks are produced by the module's own minimal writer (this
environment has no openpyxl to generate them with); the writer emits the
standard part layout — sharedStrings for text, inline <v> numerics, sparse
cell references — so the parser's indirection paths are all exercised.
"""

from __future__ import annotations

import pytest

from retailfeaturestore_spark.jobs import read_excel_sheets
from retailfeaturestore_spark.sources.xlsx import (
    _ROW_START,
    _SHEETDATA_END,
    _parse_row_elements,
    _shared_strings,
    _sheet_members,
    parse_shard,
    read_xlsx,
    write_minimal_xlsx,
)

# Tiny enough that every row of the fixtures is its own shard: header-only
# shards, boundary ownership and the final sheetData cut all run.
TINY_SHARDS = 64

_SHEETS = {
    "Year 2009-2010": [
        ["Invoice", "StockCode", "Quantity", "Price", "Country"],
        ["536365", "85123A", 6, 2.55, "United Kingdom"],
        ["536366", "71053", 4, 3.39, "France"],
        # sparse row: missing Country cell
        ["536367", "84406B", 2, 2.75, None],
    ],
    # second sheet reorders columns — header mapping must fix it
    "Year 2010-2011": [
        ["Country", "Invoice", "StockCode", "Quantity", "Price"],
        ["Germany", "579001", "22720", 12, 1.25],
    ],
}


def _written_rows(cols):
    """The fixture's data rows as the declared columns, straight from the
    rows the writer was given (a column a sheet lacks reads None)."""
    out = []
    for rows in _SHEETS.values():
        head = rows[0]
        out += [tuple(r[head.index(c)] if c in head else None for c in cols) for r in rows[1:]]
    return sorted(out, key=repr)


@pytest.fixture(scope="module")
def workbook(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("xlsx") / "retail.xlsx")
    write_minimal_xlsx(path, _SHEETS)
    return path


def test_parse_bytes_roundtrip(workbook):
    """An in-memory copy of the workbook parses sheet by sheet, in workbook
    order, through the reader task's body at one shard per sheet."""
    import io
    import zipfile

    from pyspark.sql import types as T

    with open(workbook, "rb") as f:
        data = f.read()
    names = ["Invoice", "StockCode", "Quantity", "Price", "Country"]
    dtypes = [T.StringType(), T.StringType(), T.DoubleType(), T.DoubleType(), T.StringType()]
    with zipfile.ZipFile(io.BytesIO(data)) as zf:
        members = _sheet_members(zf)
        assert members == ["xl/worksheets/sheet1.xml", "xl/worksheets/sheet2.xml"]
        first, second = (parse_shard(zf, m, 0, 1, names, dtypes) for m in members)
    assert len(first) == 3
    assert first[0] == ["536365", "85123A", 6.0, 2.55, "United Kingdom"]
    assert first[2][4] is None  # sparse cell -> None
    # the second sheet's reordered header maps back to the declared order
    assert second == [["579001", "22720", 12.0, 1.25, "Germany"]]


def test_read_xlsx_returns_the_written_rows(spark, workbook):
    """Multi-sheet union + header remapping + sparse cells, at the default
    shard size (one shard per sheet) and at one row per shard."""
    cols = ["Invoice", "StockCode", "Quantity", "Price", "Country"]
    for shard_bytes in (8 << 20, TINY_SHARDS):
        df = read_xlsx(
            spark,
            workbook,
            "Invoice string, StockCode string, Quantity long, Price double, Country string",
            target_shard_bytes=shard_bytes,
        )
        assert df.columns == cols
        assert sorted(map(tuple, df.collect()), key=repr) == _written_rows(cols), shard_bytes


def test_sharded_reader_equals_per_file_reader(spark, workbook):
    """The workbook cut to ~1 row per shard reads the same rows as the
    whole-sheet read (one shard per sheet): header-only shards, mid-row cut
    candidates and the final-shard sheetData cut lose or repeat nothing."""
    schema = "Invoice string, StockCode string, Quantity long, Price double, Country string"
    whole = read_xlsx(spark, workbook, schema)
    sharded = read_xlsx(spark, workbook, schema, target_shard_bytes=TINY_SHARDS)
    assert sharded.rdd.getNumPartitions() > whole.rdd.getNumPartitions()
    assert sorted(map(tuple, sharded.collect()), key=repr) == sorted(
        map(tuple, whole.collect()), key=repr
    )


def test_read_xlsx_unions_sheets_with_header_mapping(spark, workbook):
    df = read_xlsx(
        spark,
        workbook,
        "Invoice string, StockCode string, Quantity long, Price double, Country string",
    )
    rows = {r.Invoice: r for r in df.collect()}
    assert len(rows) == 4
    # sheet 2's reordered columns land under the right names
    assert rows["579001"].Country == "Germany"
    assert rows["579001"].Quantity == 12
    # numeric-typed coercion + integral-float narrowing for string ids
    assert rows["536365"].Price == 2.55
    assert rows["536365"].Invoice == "536365"
    assert rows["536367"].Country is None


def test_read_xlsx_plans_one_task_per_shard_without_exchange(spark, workbook):
    """The plan frame holds one (workbook, sheet, shard) row per partition,
    so the read is one task per shard and adds no shuffle."""
    df = read_xlsx(spark, workbook, "Invoice string")
    assert df.rdd.getNumPartitions() == 2  # two sheets, one shard each
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_read_xlsx_skips_hidden_files(spark, tmp_path):
    """A landing directory holds what Spark's file index hides: a job's
    empty ``_SUCCESS`` marker, an editor lock file, an in-flight
    ``._COPYING_`` upload and a hidden staging directory.  The reader skips
    them as that index does, instead of failing to open them as zips."""
    write_minimal_xlsx(str(tmp_path / "late.xlsx"), {"S": [["K", "V"], ["a", 1.0]]})
    (tmp_path / "_SUCCESS").write_bytes(b"")
    (tmp_path / ".~lock.late.xlsx#").write_text("user,host,2024-01-01;")
    (tmp_path / "next.xlsx._COPYING_").write_bytes(b"PK\x03")
    staging = tmp_path / "_temporary" / "0"
    staging.mkdir(parents=True)
    write_minimal_xlsx(str(staging / "part.xlsx"), {"S": [["K", "V"], ["b", 2.0]]})
    for shard_bytes in (8 << 20, TINY_SHARDS):
        df = read_xlsx(spark, str(tmp_path), "K string, V double", target_shard_bytes=shard_bytes)
        assert [tuple(r) for r in df.collect()] == [("a", 1.0)]


def test_read_excel_sheets_defaults(spark, workbook):
    df = read_excel_sheets(spark, workbook)
    assert df.count() == 4
    assert "Invoice" in df.columns and "Country" in df.columns
    # columns absent from the workbook surface as all-null, not an error
    assert df.where(df["Description"].isNotNull()).count() == 0


def test_workbook_roundtrip_property():
    """Property: any grid of strings/numbers/bools/Nones written by the
    minimal writer parses back cell-for-cell (strings via sharedStrings,
    numbers as floats, None as sparse-omitted -> None)."""
    import os
    import tempfile
    import zipfile

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    cell = st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-10**9, max_value=10**9),
        st.floats(allow_nan=False, allow_infinity=False, width=32),
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs", "Cc")),
            min_size=0,
            max_size=12,
        ),
    )
    grid = st.lists(st.lists(cell, min_size=1, max_size=6), min_size=1, max_size=8)

    @settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
    @given(grid)
    def prop(rows):
        width = max(len(r) for r in rows)
        padded = [list(r) + [None] * (width - len(r)) for r in rows]
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "grid.xlsx")
            write_minimal_xlsx(path, {"S": padded})
            with zipfile.ZipFile(path) as zf:
                (member,) = _sheet_members(zf)
                xml = zf.read(member)
                shared = _shared_strings(zf)
        lo = _ROW_START.search(xml).start()
        hi = _SHEETDATA_END.search(xml, lo).start()
        parsed = list(_parse_row_elements(xml[lo:hi], shared))
        # sparse rows carry no trailing pad; compare on the parsed grid
        # padded back out
        got = [list(r) + [None] * (width - len(r)) for r in parsed]
        assert len(got) == len(padded)
        for prow, grow in zip(padded, got):
            for pv, gv in zip(prow, grow):
                if pv is None or isinstance(pv, (bool, str)):
                    assert gv == pv
                else:
                    assert gv == float(pv)

    prop()


def test_error_cells_coerce_to_null():
    """t="e" error cells (#DIV/0!, #N/A — common in exporter workbooks) and
    malformed numerics null out instead of failing the executor task."""
    import xml.etree.ElementTree as ET

    from retailfeaturestore_spark.sources.xlsx import _cell_value

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    err = ET.fromstring(f'<c xmlns="{ns}" r="A1" t="e"><v>#DIV/0!</v></c>')
    assert _cell_value(err, []) is None
    bad = ET.fromstring(f'<c xmlns="{ns}" r="A1"><v>not-a-number</v></c>')
    assert _cell_value(bad, []) is None


@pytest.fixture(scope="module")
def dated_workbook(tmp_path_factory):
    """Workbook shaped like the real UCI export: serial-number dates,
    float-typed Customer ID, a cancel invoice, and a quarantine row."""
    path = str(tmp_path_factory.mktemp("xlsx") / "retail_dated.xlsx")
    header = ["Invoice", "StockCode", "Description", "Quantity",
              "InvoiceDate", "Price", "Customer ID", "Country"]
    write_minimal_xlsx(
        path,
        {
            "Year 2009-2010": [
                header,
                # serial 40179.25 = 2010-01-01 06:00:00 UTC
                ["536365", "85123a", " box ", 6, 40179.25, 2.55, 17850.0, "United Kingdom"],
                ["C536379", "22720", "cancel", 1, 40180.5, 1.0, 17850.0, "United Kingdom"],
                # no customer id -> P6 quarantine
                ["536380", "84406", "orphan", 2, 40181.0, 1.0, None, "France"],
            ],
        },
    )
    return path


def test_ingest_serial_dates_end_to_end(spark, dated_workbook, tmp_path):
    """The composed real path: executor xlsx parse -> normalize (serial-date
    repair, double customer-id repair) -> bronze sink.  Regression for the
    round-2 wiring bug where serial dates were nulled by try_cast(timestamp)
    and P6 then dropped EVERY row of a real workbook."""
    import datetime

    from retailfeaturestore_spark.jobs import ingest_to_bronze, read_excel_sheets

    bronze = str(tmp_path / "bronze")
    ingest_to_bronze(spark, read_excel_sheets(spark, dated_workbook), bronze)
    rows = {r.invoice: r for r in spark.read.parquet(bronze).collect()}
    assert set(rows) == {"536365", "C536379"}  # nonzero; quarantine dropped
    assert rows["536365"].invoice_date == datetime.datetime(2010, 1, 1, 6, 0, 0)
    assert rows["536365"].customer_id == 17850  # 17850.0 double -> int
    assert rows["536365"].stock_code == "85123A"
    assert rows["536365"].description == "box"
    assert rows["536365"].line_amount == 6 * 2.55
    assert rows["C536379"].is_cancel is True
    assert rows["C536379"].invoice_date == datetime.datetime(2010, 1, 2, 12, 0, 0)


def test_fixture_workbook_matches_values_oracle(spark):
    """The registered xlsx_ingest_normalize query returns exactly the rows
    its VALUES oracle declares (driver-independent local differential)."""
    import duckdb

    from retailfeaturestore_spark.queries import REGISTRY

    qd = REGISTRY["xlsx_ingest_normalize"]
    got = qd.fn(spark, "/unused").toPandas().sort_values("invoice").reset_index(drop=True)
    exp = duckdb.sql(qd.oracle).df().sort_values("invoice").reset_index(drop=True)
    assert len(got) == len(exp) == 60
    assert sorted(got.columns) == sorted(exp.columns)
    for c in ("invoice", "quantity", "customer_id", "is_cancel", "line_amount"):
        assert list(got[c]) == list(exp[c]), c


@pytest.mark.slow  # throughput gate, ~90s workbook build+parse (driver-window fit, r14)
def test_xlsx_parser_throughput_100k_rows(spark, tmp_path):
    """Scaled ingest exercise (VERDICT r5 'missing' #3 proxy: the real UCI
    workbook is 1.07M rows across two sheets and is not present in this
    environment): a 100k-row two-sheet synthetic workbook must parse
    through the executor-side reader with exact row fidelity and a
    throughput that extrapolates to the reference workbook in under
    three minutes."""
    import time

    from pyspark.sql import functions as F

    from retailfeaturestore_spark.sources.xlsx import (
        read_xlsx,
        write_minimal_xlsx,
    )

    n = 100_000
    head = [
        "Invoice", "StockCode", "Description", "Quantity",
        "InvoiceDate", "Price", "Customer ID", "Country",
    ]

    def row(i):
        return [
            ("C" if i % 50 == 49 else "") + str(500000 + i),
            f"sku{i % 3000}",
            f"item {i % 997} description",
            1 + (i % 12),
            40179.0 + (i % 700) + (i % 4) * 0.25,
            round(0.5 + (i % 40) * 0.25, 2),
            float(10000 + (i % 5000)),
            ["United Kingdom", "France", "Germany"][i % 3],
        ]

    half = n // 2
    path = str(tmp_path / "big.xlsx")
    write_minimal_xlsx(
        path,
        {
            "s1": [head] + [row(i) for i in range(half)],
            "s2": [head] + [row(i) for i in range(half, n)],
        },
    )
    schema = (
        "Invoice string, StockCode string, Description string, Quantity long, "
        "InvoiceDate double, Price double, `Customer ID` double, Country string"
    )
    t0 = time.time()
    df = read_xlsx(spark, path, schema)
    assert df.count() == n
    elapsed = time.time() - t0
    # exact fidelity at both sheet boundaries and a cancel row
    got = {
        r["Invoice"]: r
        for r in df.where(
            F.col("Invoice").isin("500000", str(500000 + half), "C500049")
        ).collect()
    }
    assert got["500000"]["Quantity"] == 1
    assert got[str(500000 + half)]["InvoiceDate"] == row(half)[4]
    assert got["C500049"]["Price"] == row(49)[5]
    # throughput gate: measured ~10k rows/s (one task per sheet, stdlib XML
    # parse) on the r5-r12 boxes; the r13 box measures 5.3k cold / 6.5k warm on
    # BIT-IDENTICAL reader code (box drift, same class as the r11/r12
    # drift records in BASELINE.md).  r14 (ADVICE r13 #4): the floor is
    # env-parameterized PER BOX instead of permanently relaxed — the
    # default restores the historical 6k gate (fast boxes / CI keep the
    # tight bar, so a real ~40% reader regression fails there again), and
    # a drifted box states its calibration explicitly, e.g.
    # RFS_XLSX_MIN_ROWS_PER_SEC=3500 on the r13/r14 sandbox.  Either floor
    # extrapolates the 1.07M-row UCI workbook to single-digit minutes per
    # file.  This workbook's sheets are each over the reader's default
    # 8 MiB shard size, so the parse runs several row shards per sheet.
    import os

    floor = float(os.environ.get("RFS_XLSX_MIN_ROWS_PER_SEC", "6000"))
    assert n / elapsed > floor, f"{n / elapsed:.0f} rows/s (floor {floor:.0f})"


# ---------------------------------------------------------------------------
# Row shards: intra-sheet row-range parallelism must be invisible — the
# written rows at every shard granularity.
# ---------------------------------------------------------------------------


def test_sharded_reader_boundary_sweep(spark, tmp_path):
    """Row counts must be exact at EVERY shard size: a row lost or
    duplicated at a shard boundary is the failure mode this reader must
    prove against (ownership rule: a row belongs to the shard whose byte
    range contains its '<row' start)."""
    n = 500
    rows = [["K", "V"]] + [[f"k{i:04d}", float(i)] for i in range(n)]
    path = str(tmp_path / "sweep.xlsx")
    write_minimal_xlsx(path, {"S": rows})
    for tsb in (37, 256, 4096, 1 << 30):
        df = read_xlsx(spark, path, "K string, V double", target_shard_bytes=tsb)
        got = df.toPandas()
        assert len(got) == n, (tsb, len(got))
        assert got["K"].nunique() == n, tsb
        assert got["V"].sum() == n * (n - 1) / 2, tsb


def test_sharded_reader_empty_sheet(spark, tmp_path):
    path = str(tmp_path / "empty.xlsx")
    write_minimal_xlsx(path, {"E": []})
    assert read_xlsx(spark, path, "K string, V double").count() == 0


def test_sharded_reader_handles_excel_prefixed_attributes(spark, tmp_path):
    """Real Excel declares extension namespaces on the worksheet ROOT
    (xmlns:x14ac, xmlns:mc) and uses them on every row
    (x14ac:dyDescent="0.25").  A row slice re-wrapped without replaying
    those declarations raises 'unbound prefix' — the r12 review's top
    finding, invisible to fixture-only tests because the minimal writer
    never emits prefixed attributes.  This fixture retrofits them the way
    Excel writes them."""
    import re
    import zipfile

    src = str(tmp_path / "plain.xlsx")
    n = 300
    rows = [["K", "V"]] + [[f"k{i:03d}", float(i)] for i in range(n)]
    write_minimal_xlsx(src, {"S": rows})

    dst = str(tmp_path / "excelish.xlsx")
    with zipfile.ZipFile(src) as zin, zipfile.ZipFile(
        dst, "w", zipfile.ZIP_DEFLATED
    ) as zout:
        for zi in zin.infolist():
            data = zin.read(zi.filename)
            if zi.filename.startswith("xl/worksheets/"):
                xml = data.decode()
                xml = xml.replace(
                    '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">',
                    '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
                    'xmlns:mc="http://schemas.openxmlformats.org/markup-compatibility/2006" '
                    'xmlns:x14ac="http://schemas.microsoft.com/office/spreadsheetml/2009/9/ac" '
                    'mc:Ignorable="x14ac">',
                )
                xml = re.sub(
                    r'<row r="(\d+)">',
                    r'<row r="\1" spans="1:2" x14ac:dyDescent="0.25">',
                    xml,
                )
                data = xml.encode()
            zout.writestr(zi.filename, data)

    for shard_bytes in (8 << 20, 2048):
        got = sorted(map(tuple, read_xlsx(spark, dst, "K string, V double",
                                          target_shard_bytes=shard_bytes).collect()))
        assert got == [tuple(r) for r in rows[1:]], shard_bytes


def test_sharded_reader_over_workbook_directory(spark, tmp_path):
    """Directory enumeration: the reader must union every sheet of every
    workbook under the path."""
    want = []
    for i in range(3):
        rows = [["K", "V"]] + [[f"w{i}k{j}", float(j)] for j in range(50)]
        write_minimal_xlsx(str(tmp_path / f"wb{i}.xlsx"), {"S": rows})
        want += [tuple(r) for r in rows[1:]]
    for shard_bytes in (8 << 20, 256):
        df = read_xlsx(spark, str(tmp_path), "K string, V double", target_shard_bytes=shard_bytes)
        assert sorted(map(tuple, df.collect())) == sorted(want), shard_bytes


def _write_foreign_style_workbook(path: str) -> None:
    """A workbook in the shape REAL producers (Excel, openpyxl) emit and
    the repo's minimal writer never does: pretty-printed XML (newlines and
    indentation BETWEEN row elements), dimension/sheetViews/cols before
    sheetData and pageMargins after it, spans/s/ht attributes on rows,
    x14ac:dyDescent prefixed attributes under an mc:Ignorable declaration,
    and sharedStrings with multi-run formatted text (<si><r><rPr/><t>)
    that concatenates per run.  (r12 code-review found the namespace
    replay only via a synthetic fixture; this pins the broader
    foreign-producer surface byte-shape.)"""
    import zipfile

    ct = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
        "</Types>"
    )
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    )
    wb = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        "<sheets>"
        '<sheet name="Data" sheetId="1" r:id="rId1"/>'
        "</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        "</Relationships>"
    )
    # multi-run formatted string: parser must concatenate ALL <t> runs
    shared = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="4" uniqueCount="4">\n'
        "  <si><t>Invoice</t></si>\n"
        "  <si><t>Country</t></si>\n"
        '  <si><r><rPr><b/></rPr><t>United </t></r><r><t>Kingdom</t></r></si>\n'
        '  <si><t xml:space="preserve">France</t></si>\n'
        "</sst>"
    )
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships" '
        'xmlns:mc="http://schemas.openxmlformats.org/markup-compatibility/2006" '
        'xmlns:x14ac="http://schemas.microsoft.com/office/spreadsheetml/2009/9/ac" '
        'mc:Ignorable="x14ac">\n'
        '  <dimension ref="A1:B3"/>\n'
        "  <sheetViews>\n"
        '    <sheetView tabSelected="1" workbookViewId="0"/>\n'
        "  </sheetViews>\n"
        '  <sheetFormatPr defaultRowHeight="15" x14ac:dyDescent="0.25"/>\n'
        '  <cols><col min="1" max="2" width="12.85546875" customWidth="1"/></cols>\n'
        "  <sheetData>\n"
        '    <row r="1" spans="1:2" x14ac:dyDescent="0.25">\n'
        '      <c r="A1" t="s"><v>0</v></c>\n'
        '      <c r="B1" t="s"><v>1</v></c>\n'
        "    </row>\n"
        '    <row r="2" spans="1:2" ht="15.75" s="1" customFormat="1" x14ac:dyDescent="0.25">\n'
        '      <c r="A2" s="1"><v>536365</v></c>\n'
        '      <c r="B2" t="s" s="1"><v>2</v></c>\n'
        "    </row>\n"
        '    <row r="3" spans="1:2" x14ac:dyDescent="0.25">\n'
        '      <c r="A3"><v>536366</v></c>\n'
        '      <c r="B3" t="s"><v>3</v></c>\n'
        "    </row>\n"
        "  </sheetData>\n"
        '  <pageMargins left="0.7" right="0.7" top="0.75" bottom="0.75" header="0.3" footer="0.3"/>\n'
        "</worksheet>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", ct)
        zf.writestr("_rels/.rels", rels)
        zf.writestr("docProps/app.xml", "<Properties/>")  # foreign extra member
        zf.writestr("xl/workbook.xml", wb)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        zf.writestr("xl/sharedStrings.xml", shared)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)


def test_foreign_style_workbook_both_readers_agree(spark, tmp_path):
    """The reader must parse the foreign-producer byte shape (pretty-printed
    rows, style attributes, multi-run shared strings) alike at one shard
    per sheet and at many shards per sheet."""
    path = str(tmp_path / "foreign.xlsx")
    _write_foreign_style_workbook(path)
    # the tiny shard size forces multiple shards across the indented XML,
    # so the row cutter must handle whitespace BETWEEN row elements
    for shard_bytes in (8 << 20, TINY_SHARDS):
        got = read_xlsx(spark, path, "Invoice string, Country string",
                        target_shard_bytes=shard_bytes)
        assert sorted(map(tuple, got.collect())) == [
            ("536365", "United Kingdom"),  # multi-run si concatenated
            ("536366", "France"),
        ], shard_bytes


def test_openpyxl_written_workbook_differential(spark, tmp_path):
    """Where openpyxl exists (the real-deps CI leg), write a genuinely
    foreign workbook with it and require the reader to return its rows at
    one shard per sheet and at many shards per sheet (VERDICT r12
    next-round #7)."""
    openpyxl = pytest.importorskip("openpyxl")

    path = str(tmp_path / "opx.xlsx")
    wb = openpyxl.Workbook()
    ws = wb.active
    ws.title = "Data"
    ws.append(["Invoice", "Quantity", "Price", "Country"])
    ws.append(["536365", 6, 2.55, "United Kingdom"])
    ws.append(["536366", 4, 3.39, "Français & <co>"])
    ws.append(["536367", None, 2.75, None])  # sparse row
    wb.save(path)
    schema = "Invoice string, Quantity long, Price double, Country string"
    for shard_bytes in (8 << 20, TINY_SHARDS):
        got = read_xlsx(spark, path, schema, target_shard_bytes=shard_bytes)
        assert sorted(map(tuple, got.collect())) == [
            ("536365", 6, 2.55, "United Kingdom"),
            ("536366", 4, 3.39, "Français & <co>"),
            ("536367", None, 2.75, None),
        ], shard_bytes
