"""S1 Excel ingest — a dependency-free xlsx reader that runs INSIDE Spark.

Parity target: the reference loads both workbook sheets through pandas
``read_excel`` and concatenates them (``jobs/ingest_xlsx_to_parquet.py:8-11``,
SURVEY.md §2.1 S1).  This environment has no openpyxl, and more importantly
the reference's driver-side parse is the wrong shape for a lakehouse: here
each workbook is parsed *on an executor* instead.

Spark shape: ``binaryFile`` source -> ``mapInPandas`` (Arrow-batched) with a
caller-declared schema.  An xlsx file is a zip archive of XML parts, so the
parser below is plain stdlib ``zipfile`` + ``xml.etree`` — no imports beyond
what ships with Python.  Parallelism is per-FILE (a zip member cannot be
split mid-stream), which is the honest unit for spreadsheet ingest: a 100 TB
landing zone is thousands of workbooks, and each task parses one while the
downstream normalize/bronze write redistributes on real keys.  A single
giant workbook should be landed as CSV/parquet instead — documented limit,
same advice the reference's pandas path would need.

Supported xlsx surface (everything the reference's UCI retail workbook and
common exporters emit): shared strings, inline strings, formula-cached
strings, booleans, numbers, blank cells, sparse cell references.  Dates
surface as Excel serial numbers (numeric) — converting them is the ingest
contract's job (P16/P17), matching how the reference's column cleanup owns
type repair.
"""

from __future__ import annotations

import io
import re
import zipfile
import xml.etree.ElementTree as ET
from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

__all__ = [
    "read_xlsx",
    "read_xlsx_sharded",
    "parse_xlsx_bytes",
    "write_minimal_xlsx",
]

_MAIN_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
_PKG_REL_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"
_CELL_REF = re.compile(r"([A-Z]+)(\d+)")


def _col_index(ref: str) -> int:
    """'A'->0, 'Z'->25, 'AA'->26 (base-26 bijective)."""
    n = 0
    for ch in ref:
        n = n * 26 + (ord(ch) - 64)
    return n - 1


def _cell_value(cell: ET.Element, shared: list[str]):
    t = cell.get("t", "n")
    if t == "inlineStr":
        is_el = cell.find(f"{_MAIN_NS}is")
        return "".join(x.text or "" for x in is_el.iter(f"{_MAIN_NS}t")) if is_el is not None else None
    v = cell.find(f"{_MAIN_NS}v")
    if v is None or v.text is None:
        return None
    if t == "s":
        return shared[int(v.text)]
    if t == "str":  # formula cached string
        return v.text
    if t == "b":
        return v.text == "1"
    if t == "e":  # error cell (#DIV/0!, #N/A, ...) -> null per coerce contract
        return None
    try:
        return float(v.text)  # "n" numeric (dates = serial numbers)
    except ValueError:
        return None


def parse_xlsx_bytes(
    data: bytes, sheets: Iterable[str] | None = None
) -> Iterator[tuple[str, list[list]]]:
    """Yield ``(sheet_name, rows)`` per worksheet; rows are dense lists
    (sparse cells filled with None), in sheet order."""
    want = set(sheets) if sheets is not None else None
    with zipfile.ZipFile(io.BytesIO(data)) as zf:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in zf.namelist():
            root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            shared = [
                "".join(t.text or "" for t in si.iter(f"{_MAIN_NS}t"))
                for si in root.iter(f"{_MAIN_NS}si")
            ]
        rels = {
            rel.get("Id"): rel.get("Target")
            for rel in ET.fromstring(zf.read("xl/_rels/workbook.xml.rels")).iter(
                f"{_PKG_REL_NS}Relationship"
            )
        }
        wb = ET.fromstring(zf.read("xl/workbook.xml"))
        for sheet_el in wb.iter(f"{_MAIN_NS}sheet"):
            name = sheet_el.get("name")
            if want is not None and name not in want:
                continue
            target = rels[sheet_el.get(_REL_NS)].lstrip("/")
            member = target if target.startswith("xl/") else f"xl/{target}"
            ws = ET.fromstring(zf.read(member))
            rows: list[list] = []
            width = 0
            for row_el in ws.iter(f"{_MAIN_NS}row"):
                row: list = []
                for cell in row_el.iter(f"{_MAIN_NS}c"):
                    ref = cell.get("r")
                    if ref is not None:
                        m = _CELL_REF.match(ref)
                        idx = _col_index(m.group(1)) if m else len(row)
                    else:
                        idx = len(row)
                    while len(row) <= idx:
                        row.append(None)
                    row[idx] = _cell_value(cell, shared)
                width = max(width, len(row))
                rows.append(row)
            for row in rows:
                row.extend([None] * (width - len(row)))
            yield name, rows


def coerce_cell(v, dt: T.DataType):
    """Coerce a raw cell value to the declared Spark type; uncoercible cells
    become null (ingest never fails on a bad cell — type repair beyond this
    is the normalize layer's contract)."""
    if v is None:
        return None
    try:
        if isinstance(dt, (T.DoubleType, T.FloatType)):
            return float(v)
        if isinstance(dt, (T.LongType, T.IntegerType)):
            return int(float(v))
        if isinstance(dt, T.BooleanType):
            return bool(v)
        if isinstance(dt, T.StringType):
            if isinstance(v, float) and v.is_integer():
                return str(int(v))  # '85123' not '85123.0' (id columns)
            return str(v)
        return v
    except (TypeError, ValueError):
        return None


def iter_workbook_rows(
    content: bytes,
    names: list[str],
    dtypes: list[T.DataType],
    header: bool,
    sheet_list: list[str] | None,
) -> Iterator[tuple[list, str]]:
    """Yield ``(coerced_row, sheet_name)`` for every data row of every
    selected sheet — the per-file parse of the mapInPandas reader."""
    for sheet_name, rows in parse_xlsx_bytes(content, sheet_list):
        if not rows:
            continue
        if header:
            head = [str(c) if c is not None else "" for c in rows[0]]
            pos = [head.index(n) if n in head else -1 for n in names]
            body = rows[1:]
        else:
            pos = list(range(len(names)))
            body = rows
        for row in body:
            yield (
                [
                    coerce_cell(row[p], dt) if 0 <= p < len(row) else None
                    for p, dt in zip(pos, dtypes)
                ],
                sheet_name,
            )


def read_xlsx(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    header: bool = True,
    sheets: Iterable[str] | None = None,
    add_source_columns: bool = False,
) -> DataFrame:
    """All sheets of all workbooks under ``path`` as ONE DataFrame (the
    reference's multi-sheet UNION ALL), parsed on executors.

    ``schema`` declares the output columns; with ``header=True`` each sheet's
    first row maps declared names to positions (sheets may order columns
    differently), otherwise declared order = positional.  Values are coerced
    to the declared type (numbers parsed from strings, integral floats
    narrowed to ints); cells that don't coerce become null rather than
    failing the ingest — type repair beyond that is the normalize layer's
    contract.  ``add_source_columns`` appends (_source_file, _sheet) lineage.
    """
    out_schema = (
        schema if isinstance(schema, T.StructType) else T.StructType.fromDDL(schema)
    )
    full_schema = out_schema
    if add_source_columns:
        full_schema = T.StructType(
            list(out_schema.fields)
            + [
                T.StructField("_source_file", T.StringType()),
                T.StructField("_sheet", T.StringType()),
            ]
        )
    names = [f.name for f in out_schema.fields]
    dtypes = [f.dataType for f in out_schema.fields]
    sheet_list = list(sheets) if sheets is not None else None

    def _parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            for file_path, content in zip(pdf["path"], pdf["content"]):
                out_rows: list[list] = []
                out_meta: list[tuple[str, str]] = []
                for row, sheet_name in iter_workbook_rows(
                    bytes(content), names, dtypes, header, sheet_list
                ):
                    out_rows.append(row)
                    out_meta.append((file_path, sheet_name))
                pdf_out = pd.DataFrame(out_rows, columns=names)
                if add_source_columns:
                    pdf_out["_source_file"] = [m[0] for m in out_meta]
                    pdf_out["_sheet"] = [m[1] for m in out_meta]
                yield pdf_out

    binary = spark.read.format("binaryFile").load(path).select("path", "content")
    return binary.mapInPandas(_parse, schema=full_schema)


# ---------------------------------------------------------------------------
# SHARDED single-workbook reader — intra-sheet parallelism.
#
# read_xlsx parallelizes per FILE (a zip member can't be split mid-DEFLATE
# stream), which is the right unit for a landing zone of thousands of
# workbooks but serializes ONE giant workbook through two tasks (VERDICT r11
# next-round #7: ~18k rows/s on the 1.07M-row UCI-shaped synthetic).  The
# fix is to shard each worksheet's DECOMPRESSED XML by byte ranges aligned
# to <row> boundaries: row starts ('<row ') can never appear inside cell
# text (XML escapes '<' in content, and xlsx string payloads live in the
# separate sharedStrings part anyway), so a C-speed bytes.find() scan is a
# sound row splitter.  Each shard is its own Spark task that re-opens the
# workbook, streams the member through zipfile's incremental inflater up to
# its slice end (shard i decompresses ~i/N of the member — DEFLATE is not
# seekable, but inflation is ~10x cheaper than XML parse, so duplicating it
# buys N-way parse parallelism), cuts [first row-start >= i*L/N, first
# row-start >= (i+1)*L/N), and ET-parses only that slice.  The plan is a
# tiny (path, member, shard) DataFrame repartitioned one-row-per-task —
# the same shape Spark itself uses for parquet row-group splits.
# ---------------------------------------------------------------------------

_ROW_START = re.compile(rb"<(?:[A-Za-z0-9._]+:)?row[ >/]")
_SHEETDATA_END = re.compile(rb"</(?:[A-Za-z0-9._]+:)?sheetData>")


def _list_workbooks(path: str) -> list[tuple[str, str, int]]:
    """Driver-side file enumeration (the same role Spark's own
    InMemoryFileIndex plays for parquet): ``(lineage_uri, open_loc,
    compressed_size)`` per workbook under ``path`` — lineage_uri matches
    the binaryFile source's ``path`` column format (``file:/abs/path``
    locally, the full scheme URI otherwise) so ``_source_file`` is
    byte-identical across the two readers; open_loc is what pyarrow.fs
    resolves; compressed_size is the listing's file size (free — no open),
    used by dispatch prefilters.  pyarrow handles local paths and any
    scheme the installed arrow filesystems support (file://, hdfs://,
    s3://)."""
    import pyarrow.fs as pafs

    scheme = path.split("://", 1)[0] + "://" if "://" in path else None
    fs, p = pafs.FileSystem.from_uri(path)
    info = fs.get_file_info(p)
    if info.type == pafs.FileType.File:
        files = [(p, info.size or 0)]
    else:
        sel = pafs.FileSelector(p, recursive=True)
        files = sorted(
            (i.path, i.size or 0) for i in fs.get_file_info(sel) if i.is_file
        )
    if scheme:
        return [(scheme + f, scheme + f, sz) for f, sz in files]
    return [("file:" + f, f, sz) for f, sz in files]


def _open_input(path: str):
    import pyarrow.fs as pafs

    fs, p = pafs.FileSystem.from_uri(path)
    return fs.open_input_file(p)


def _workbook_sheets(zf: zipfile.ZipFile) -> list[tuple[str, str]]:
    """(sheet_name, member) in workbook order — the enumeration read is
    workbook.xml + its rels, a few KB regardless of data size."""
    rels = {
        rel.get("Id"): rel.get("Target")
        for rel in ET.fromstring(zf.read("xl/_rels/workbook.xml.rels")).iter(
            f"{_PKG_REL_NS}Relationship"
        )
    }
    out = []
    for sheet_el in ET.fromstring(zf.read("xl/workbook.xml")).iter(f"{_MAIN_NS}sheet"):
        target = rels[sheet_el.get(_REL_NS)].lstrip("/")
        member = target if target.startswith("xl/") else f"xl/{target}"
        out.append((sheet_el.get("name"), member))
    return out


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    if "xl/sharedStrings.xml" not in zf.namelist():
        return []
    root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
    return [
        "".join(t.text or "" for t in si.iter(f"{_MAIN_NS}t"))
        for si in root.iter(f"{_MAIN_NS}si")
    ]


class _MemberScanner:
    """Incremental scan state over one decompressing zip-member stream.
    All offsets are STREAM offsets; ``base`` tracks the stream offset of
    ``buf[0]`` so already-scanned prefix bytes can be discarded — shard i
    of a giant worksheet must hold O(slice) bytes, not O(i*L/N) (r12
    code-review finding: without discard, concurrent late shards of one
    2 GB-XML sheet would sum to tens of GB resident).  Callers only ever
    scan FORWARD, so the inflater runs at most once over the member."""

    #: rescan overlap on buffer growth — must exceed the longest token the
    #: scanner searches for ('</{prefix}:sheetData>' with a long prefix);
    #: the previous fixed 16 could skip a straddled long-prefixed match
    _STRADDLE = 64

    def __init__(self, fh):
        self._fh = fh
        self.buf = bytearray()
        self.base = 0
        self.eof = False

    def end(self) -> int:
        return self.base + len(self.buf)

    def ensure(self, n: int) -> None:
        # fixed-size reads: a single read(n - end) for a far-ahead target
        # would inflate and buffer the entire gap in one call (r12 advice
        # finding) — the loop shape is identical, the peak per-call
        # allocation is capped at the chunk size
        while not self.eof and self.end() < n:
            chunk = self._fh.read(1 << 20)
            if not chunk:
                self.eof = True
                return
            self.buf += chunk

    def discard_to(self, n: int) -> None:
        cut = min(max(n - self.base, 0), len(self.buf))
        if cut:
            del self.buf[:cut]
            self.base += cut

    def slice(self, a: int, b: int) -> bytes:
        return bytes(self.buf[a - self.base : b - self.base])

    def find(self, pattern: re.Pattern, start: int, discard: bool = False) -> int:
        """Stream offset of the first ``pattern`` match at >= start, -1 if
        the member ends first.  ``discard=True`` drops bytes behind the
        scan frontier as the inflater advances (skip-to-shard phase: the
        caller has no further use for them)."""
        pos = max(start, self.base)
        if discard:
            # bounded skip phase: advance the inflater toward ``start`` in
            # ~1 MiB steps, discarding behind the frontier EACH step, so
            # skipping to a late shard of a giant member holds O(1 MiB)
            # resident — not the whole [base, start) prefix (r12 advice:
            # the old single ensure(start + 1MiB) buffered the entire gap
            # before the first discard ran; N concurrent late shards of
            # one 2 GB-XML sheet summed to tens of GB)
            while not self.eof and self.end() < pos - self._STRADDLE:
                self.ensure(self.end() + (1 << 20))
                self.discard_to(min(self.end(), pos) - self._STRADDLE)
        while True:
            self.ensure(pos + (1 << 20))
            m = pattern.search(self.buf, pos - self.base)
            if m:
                return self.base + m.start()
            if self.eof:
                return -1
            pos = max(pos, self.end() - self._STRADDLE)
            if discard:
                self.discard_to(pos)


def _root_namespaces(head: bytes) -> list[tuple[str, str]]:
    """Namespace declarations visible on the worksheet root, read from the
    bytes preceding the first row via ET's pull parser (quote-correct, no
    regex over attribute soup).  Real Excel declares extension prefixes on
    the root (xmlns:x14ac, xmlns:mc, ...) and then uses them on EVERY row
    (x14ac:dyDescent) — a re-wrapped row slice parses only if those
    declarations are replayed on the synthetic wrapper (r12 code-review
    finding: the fixture-only writer never emits prefixed attributes, so
    tests alone missed this)."""
    parser = ET.XMLPullParser(events=("start-ns",))
    out: list[tuple[str, str]] = []
    try:
        parser.feed(head)
        for _ev, (prefix, uri) in parser.read_events():
            out.append((prefix, uri))
    except ET.ParseError:
        pass  # head is cut at a tag boundary; decls already collected
    return out


def _parse_row_elements(
    data: bytes, shared: list[str], ns_decls: list[tuple[str, str]] = ()
) -> Iterator[list]:
    """Parse a byte slice of complete <row> elements (cut on row starts)
    into sparse-filled row lists — the same cell semantics as
    parse_xlsx_bytes, minus the per-sheet global width pad (consumers
    index by header position with a bounds guard, so trailing Nones are
    equivalent).  ``ns_decls`` replays the worksheet root's namespace
    declarations on the synthetic wrapper so prefixed row/cell attributes
    (x14ac:dyDescent et al.) stay bound."""
    parts = [b"<sheetData"]
    seen: set[str] = set()
    for prefix, uri in ns_decls:
        if prefix in seen:
            continue
        seen.add(prefix)
        if prefix:
            parts.append(f' xmlns:{prefix}="{uri}"'.encode())
        else:
            parts.append(f' xmlns="{uri}"'.encode())
    if "" not in seen:
        parts.append(
            b' xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
        )
    decl = b"".join(parts) + b">"
    root = ET.fromstring(decl + data + b"</sheetData>")
    for row_el in root.iter(f"{_MAIN_NS}row"):
        row: list = []
        for cell in row_el.iter(f"{_MAIN_NS}c"):
            ref = cell.get("r")
            if ref is not None:
                m2 = _CELL_REF.match(ref)
                idx = _col_index(m2.group(1)) if m2 else len(row)
            else:
                idx = len(row)
            while len(row) <= idx:
                row.append(None)
            row[idx] = _cell_value(cell, shared)
        yield row


def read_xlsx_sharded(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    header: bool = True,
    sheets: Iterable[str] | None = None,
    add_source_columns: bool = False,
    target_shard_bytes: int = 8 << 20,
) -> DataFrame:
    """``read_xlsx`` semantics (same schema/header/coercion contract, same
    multi-sheet UNION) with INTRA-sheet parallelism: each worksheet is cut
    into ``ceil(uncompressed_xml / target_shard_bytes)`` row-aligned byte
    shards (capped at the session's default parallelism per sheet), each
    parsed by its own task.  Use
    it when the landing zone is one giant workbook rather than many; for
    directories of ordinary workbooks the per-file reader avoids the
    duplicated inflation and is the better default."""
    out_schema = (
        schema if isinstance(schema, T.StructType) else T.StructType.fromDDL(schema)
    )
    full_schema = out_schema
    if add_source_columns:
        full_schema = T.StructType(
            list(out_schema.fields)
            + [
                T.StructField("_source_file", T.StringType()),
                T.StructField("_sheet", T.StringType()),
            ]
        )
    names = [f.name for f in out_schema.fields]
    dtypes = [f.dataType for f in out_schema.fields]
    want = set(sheets) if sheets is not None else None
    cap = spark.sparkContext.defaultParallelism

    # enumeration: central directory + workbook.xml per file — KBs each,
    # the control-plane read every split-planning scan does
    plan_rows: list[tuple] = []
    for uri, loc, _csize in _list_workbooks(path):
        raw = _open_input(loc)
        try:
            with zipfile.ZipFile(raw) as zf:
                sizes = {zi.filename: zi.file_size for zi in zf.infolist()}
                for sheet_name, member in _workbook_sheets(zf):
                    if want is not None and sheet_name not in want:
                        continue
                    xml_size = sizes.get(member, 0)
                    n_shards = max(
                        1, min(cap, -(-xml_size // target_shard_bytes))
                    )
                    for i in range(n_shards):
                        plan_rows.append(
                            (uri, loc, member, sheet_name, i, n_shards, xml_size)
                        )
        finally:
            try:
                raw.close()
            except Exception:  # noqa: BLE001 — already closed
                pass
    if not plan_rows:
        return spark.createDataFrame([], schema=full_schema)

    def _parse_shards(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        # per-task handle cache; BOTH layers closed in the finally below
        # (ZipFile.close() does not close a file object it was handed, so
        # the pyarrow NativeFile must be tracked separately — r12
        # code-review finding: long-lived executors leaked one descriptor
        # per workbook per batch)
        opened: dict[str, tuple[object, zipfile.ZipFile, list[str]]] = {}

        def handle(loc: str) -> tuple[zipfile.ZipFile, list[str]]:
            if loc not in opened:
                raw = _open_input(loc)
                zf = zipfile.ZipFile(raw)
                opened[loc] = (raw, zf, _shared_strings(zf))
            _raw, zf, shared = opened[loc]
            return zf, shared

        def shard_frames():
            for pdf in batches:
                for uri, loc, member, sheet_name, shard, n_shards, xml_size in zip(
                    pdf["path"], pdf["loc"], pdf["member"], pdf["sheet"],
                    pdf["shard"], pdf["n_shards"], pdf["xml_size"],
                ):
                    zf, shared = handle(loc)
                    chunk = -(-int(xml_size) // int(n_shards))
                    start_t, end_t = int(shard) * chunk, (int(shard) + 1) * chunk
                    with zf.open(member) as fh:
                        sc = _MemberScanner(fh)
                        first = sc.find(_ROW_START, 0)
                        if first < 0:
                            continue  # empty sheet
                        ns_decls = _root_namespaces(sc.slice(0, first))
                        hdr_end = first
                        if header:
                            nxt = sc.find(_ROW_START, first + 4)
                            if nxt < 0:
                                nxt = sc.find(_SHEETDATA_END, first)
                            hdr_end = nxt if nxt >= 0 else sc.end()
                            hdr_rows = list(
                                _parse_row_elements(
                                    sc.slice(first, hdr_end), shared, ns_decls
                                )
                            )
                            head = [
                                str(c) if c is not None else ""
                                for c in (hdr_rows[0] if hdr_rows else [])
                            ]
                            pos_map = [
                                head.index(n) if n in head else -1 for n in names
                            ]
                        else:
                            pos_map = list(range(len(names)))
                        # data region begins after the header row (or at the
                        # first row when header=False); shard ownership = row
                        # starts in [start_t, end_t).  '<row[ >/]' cannot
                        # match outside sheetData (worksheet-level elements
                        # like <rowBreaks> fail the delimiter; '<' is escaped
                        # inside cell text), so no sheetData-end probe is
                        # needed to validate lo — and the skip phase discards
                        # behind its frontier, so memory stays O(shard slice)
                        data_floor = hdr_end if header else first
                        scan_from = max(start_t, data_floor)
                        sc.discard_to(max(scan_from - sc._STRADDLE, 0))
                        lo = sc.find(_ROW_START, scan_from, discard=True)
                        if lo < 0 or lo >= end_t:
                            continue  # no row starts inside this shard's range
                        hi = sc.find(_ROW_START, end_t)
                        if hi < 0:
                            # last occupied shard: cut at the sheetData
                            # close.  Search from lo, NOT end_t — the
                            # ceil-sized final range can overshoot EOF, and
                            # '</sheetData>' never appears between rows so
                            # the first match past lo is the data end.
                            # (Only THIS shard ever scans the member tail.)
                            hi = sc.find(_SHEETDATA_END, lo)
                            if hi < 0:
                                hi = sc.end()
                        out_rows: list[list] = []
                        for row in _parse_row_elements(
                            sc.slice(lo, hi), shared, ns_decls
                        ):
                            out_rows.append(
                                [
                                    coerce_cell(row[p], dt)
                                    if 0 <= p < len(row)
                                    else None
                                    for p, dt in zip(pos_map, dtypes)
                                ]
                            )
                    yield uri, sheet_name, out_rows

        try:
            for uri, sheet_name, out_rows in shard_frames():
                pdf_out = pd.DataFrame(out_rows, columns=names)
                if add_source_columns:
                    pdf_out["_source_file"] = uri
                    pdf_out["_sheet"] = sheet_name
                yield pdf_out
        finally:
            for raw, zf, _shared in opened.values():
                try:
                    zf.close()
                finally:
                    try:
                        raw.close()
                    except Exception:  # noqa: BLE001 — already closed
                        pass

    plan = spark.createDataFrame(
        plan_rows,
        schema="path string, loc string, member string, sheet string, "
        "shard int, n_shards int, xml_size bigint",
    ).repartition(len(plan_rows))
    return plan.mapInPandas(_parse_shards, schema=full_schema)


# ---------------------------------------------------------------------------
# Minimal xlsx WRITER — test-fixture generator (no openpyxl in this
# environment to produce fixtures with), emitting the same part layout
# Excel/openpyxl produce: shared strings for text, plain <v> for numbers.
# ---------------------------------------------------------------------------

_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
{sheet_overrides}
</Types>"""

_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _col_letter(idx: int) -> str:
    letters = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        letters = chr(65 + rem) + letters
    return letters


def write_minimal_xlsx(path: str, sheets: dict[str, list[list]]) -> None:
    """Write ``{sheet_name: rows}`` as a conformant xlsx: strings go through
    sharedStrings (exercising the parser's indirection path), numbers/bools
    inline, None -> omitted cell (exercising sparse refs)."""
    shared: list[str] = []
    shared_idx: dict[str, int] = {}

    def sref(s: str) -> int:
        if s not in shared_idx:
            shared_idx[s] = len(shared)
            shared.append(s)
        return shared_idx[s]

    sheet_xml: dict[str, str] = {}
    for name, rows in sheets.items():
        parts = ["<sheetData>"]
        for r, row in enumerate(rows, start=1):
            parts.append(f'<row r="{r}">')
            for c, v in enumerate(row):
                if v is None:
                    continue
                ref = f"{_col_letter(c)}{r}"
                if isinstance(v, str):
                    parts.append(f'<c r="{ref}" t="s"><v>{sref(v)}</v></c>')
                elif isinstance(v, bool):
                    parts.append(f'<c r="{ref}" t="b"><v>{1 if v else 0}</v></c>')
                else:
                    parts.append(f'<c r="{ref}"><v>{v}</v></c>')
            parts.append("</row>")
        parts.append("</sheetData>")
        sheet_xml[name] = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            + "".join(parts)
            + "</worksheet>"
        )

    sheet_names = list(sheets)
    wb_sheets = "".join(
        f'<sheet name="{_esc(n)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, n in enumerate(sheet_names)
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f"<sheets>{wb_sheets}</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" '
            'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
            f'Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(sheet_names))
        )
        + f'<Relationship Id="rId{len(sheet_names) + 1}" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" '
        'Target="sharedStrings.xml"/>'
        "</Relationships>"
    )
    shared_xml = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        f'count="{len(shared)}" uniqueCount="{len(shared)}">'
        + "".join(f"<si><t>{_esc(s)}</t></si>" for s in shared)
        + "</sst>"
    )
    overrides = "".join(
        f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        for i in range(len(sheet_names))
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", _CONTENT_TYPES.format(sheet_overrides=overrides))
        zf.writestr("_rels/.rels", _ROOT_RELS)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        zf.writestr("xl/sharedStrings.xml", shared_xml)
        for i, name in enumerate(sheet_names):
            zf.writestr(f"xl/worksheets/sheet{i + 1}.xml", sheet_xml[name])
