"""Minimal pure-stdlib xlsx reader/writer (the Excel engine for S1/S3).

An ``.xlsx`` file is a zip of XML parts (ECMA-376 / ISO 29500
SpreadsheetML). This module implements just enough of that public
format to (a) read sheet names + cell values and (b) write small test
fixtures, using only ``zipfile`` + ``xml.etree`` — no openpyxl.

It is the only engine ``report_reader`` uses, for the discover → sniff
→ read → pipeline path (`reports_exporter_v0.83.py:1684-1724,522-528`).
On a real cluster the ``com.crealytics:spark-excel`` datasource could
replace it behind the same interface.

Supported on read: inline strings, shared strings, numbers, booleans,
sparse cells (gaps reconstructed from the ``r`` cell reference), and
bounded row ranges (``min_row``/``max_row``) for the S4 tiered
parallel read. Not supported: formulas (the cached value is used),
styles, dates-as-serials (report fixtures carry ISO strings, matching
the reference's dtype=str reads).
"""

from __future__ import annotations

import re
import zipfile
from collections.abc import Iterator
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

_MAIN_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_CELL_REF = re.compile(r"^([A-Z]+)(\d+)$")

# OOXML _xHHHH_ escaping (ECMA-376 §22.4.2.4): characters illegal in
# XML 1.0 (everything below 0x20 except TAB/LF/CR) are stored as
# ``_xHHHH_``; a literal substring already shaped like an escape gets
# its underscore protected as ``_x005F_``. openpyxl/Excel do the same,
# so decoding is required for real-world-file parity, not just our own
# round-trip. CR is escaped too although XML-legal: parsers normalize
# literal CR/CRLF in content to LF, so it would not round-trip.
# ￾/￿ are also illegal in XML 1.0 (Char excludes them) —
# unescaped they produce a workbook every parser rejects.
_XML_ILLEGAL = re.compile(r"[\x00-\x08\x0B-\x0C\x0D\x0E-\x1F￾￿]")
_OOXML_ESC = re.compile(r"_x([0-9A-Fa-f]{4})_")
# Protection uses a LOOKAHEAD so overlapping escape-shaped substrings
# (e.g. the shared '_' in '_x005F_x0041_') each get their leading
# underscore protected — a consuming match would skip the second one
# and the decode pass would mis-decode the tail.
_OOXML_NEEDS_GUARD = re.compile(r"_(?=x[0-9A-Fa-f]{4}_)")


def _ooxml_escape(s: str) -> str:
    s = _OOXML_NEEDS_GUARD.sub("_x005F_", s)
    return _XML_ILLEGAL.sub(lambda m: "_x%04X_" % ord(m.group()), s)


def _ooxml_unescape(s: str) -> str:
    # one left-to-right pass: _x005F_x0041_ → literal "_x0041_" (the
    # consumed _x005F_ yields "_", and the remainder cannot re-match)
    return _OOXML_ESC.sub(lambda m: chr(int(m.group(1), 16)), s)


def _col_index(ref: str) -> int:
    """'A'→0, 'B'→1, … 'AA'→26 (base-26 bijective column letters)."""
    n = 0
    for ch in ref:
        n = n * 26 + (ord(ch) - 64)
    return n - 1


def _col_letters(idx: int) -> str:
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(65 + rem) + out
    return out


def _workbook_sheets(zf: zipfile.ZipFile) -> list[tuple[str, str]]:
    """[(sheet_name, part_path)] in workbook order, via the rels part."""
    rels = {}
    with zf.open("xl/_rels/workbook.xml.rels") as f:
        for rel in ET.parse(f).getroot():
            target = rel.get("Target", "")
            if target.startswith("/"):
                target = target.lstrip("/")
            else:
                target = "xl/" + target
            rels[rel.get("Id")] = target
    sheets = []
    with zf.open("xl/workbook.xml") as f:
        root = ET.parse(f).getroot()
        for sheet in root.iter(f"{_MAIN_NS}sheet"):
            rid = sheet.get(f"{_REL_NS}id")
            sheets.append((sheet.get("name"), rels[rid]))
    return sheets


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        f = zf.open("xl/sharedStrings.xml")
    except KeyError:
        return []
    with f:
        root = ET.parse(f).getroot()
    out = []
    for si in root.iter(f"{_MAIN_NS}si"):
        # concatenate all <t> runs (rich text splits one string into runs)
        out.append(
            _ooxml_unescape("".join(t.text or "" for t in si.iter(f"{_MAIN_NS}t")))
        )
    return out


def _cell_value(cell: ET.Element, shared: list[str]):
    ctype = cell.get("t", "n")
    if ctype == "inlineStr":
        is_el = cell.find(f"{_MAIN_NS}is")
        if is_el is None:
            return None
        return _ooxml_unescape("".join(t.text or "" for t in is_el.iter(f"{_MAIN_NS}t")))
    v = cell.find(f"{_MAIN_NS}v")
    if v is None or v.text is None:
        return None
    if ctype == "s":
        return shared[int(v.text)]
    if ctype == "b":
        return v.text == "1"
    if ctype == "str":
        return _ooxml_unescape(v.text)
    try:
        f = float(v.text)
        return int(f) if f.is_integer() and "." not in v.text and "e" not in v.text.lower() else f
    except ValueError:
        return v.text


def sheet_names(path: str) -> list[str]:
    with zipfile.ZipFile(path) as zf:
        return [name for name, _ in _workbook_sheets(zf)]


def sheet_max_row(path: str, sheet: str) -> int:
    """Last 1-based row index, from the ``<dimension>`` part when
    present (a metadata read), else a row-element scan."""
    with zipfile.ZipFile(path) as zf:
        part = dict(_workbook_sheets(zf))[sheet]
        with zf.open(part) as f:
            last = 0
            for _, el in ET.iterparse(f):
                if el.tag == f"{_MAIN_NS}dimension":
                    ref = el.get("ref", "")
                    m = _CELL_REF.match(ref.split(":")[-1])
                    if m:
                        return int(m.group(2))
                elif el.tag == f"{_MAIN_NS}row":
                    last = max(last, int(el.get("r", last + 1)))
                    el.clear()
            return last


def iter_rows(
    path: str,
    sheet: str,
    min_row: int = 1,
    max_row: int | None = None,
) -> Iterator[list]:
    """Yield rows (lists of python values, None for empty cells) for the
    1-based inclusive range [min_row, max_row]. Skipped/empty XML rows
    inside the range yield [] so row indices stay aligned."""
    with zipfile.ZipFile(path) as zf:
        shared = _shared_strings(zf)
        part = dict(_workbook_sheets(zf))[sheet]
        expected = min_row
        with zf.open(part) as f:
            for _, el in ET.iterparse(f):
                if el.tag != f"{_MAIN_NS}row":
                    continue
                r = int(el.get("r", expected))
                if max_row is not None and r > max_row:
                    el.clear()
                    break
                if r >= min_row:
                    while expected < r:  # fill gaps from omitted rows
                        yield []
                        expected += 1
                    row: list = []
                    for cell in el.iter(f"{_MAIN_NS}c"):
                        m = _CELL_REF.match(cell.get("r", ""))
                        idx = _col_index(m.group(1)) if m else len(row)
                        while len(row) < idx:
                            row.append(None)
                        row.append(_cell_value(cell, shared))
                    yield row
                    expected = r + 1
                el.clear()


# ---------------------------------------------------------------- writer

_CT = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    "{overrides}</Types>"
)
_ROOT_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
    "</Relationships>"
)


def write_xlsx(path: str, sheets: dict[str, list[list]]) -> str:
    """Write {sheet_name: rows} as a minimal valid xlsx (inline strings,
    numbers, None gaps). Fixture-grade: small sheets, no styling."""
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        overrides, wb_sheets, wb_rels = [], [], []
        for i, (name, rows) in enumerate(sheets.items(), start=1):
            part = f"worksheets/sheet{i}.xml"
            overrides.append(
                f'<Override PartName="/xl/{part}" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            )
            wb_sheets.append(f'<sheet name="{escape(name, {chr(34): "&quot;"})}" sheetId="{i}" r:id="rId{i}"/>')
            wb_rels.append(
                f'<Relationship Id="rId{i}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="{part}"/>'
            )
            xml_rows = []
            for r, row in enumerate(rows, start=1):
                cells = []
                for c, val in enumerate(row):
                    if val is None:
                        continue
                    ref = f"{_col_letters(c)}{r}"
                    if isinstance(val, bool):
                        cells.append(f'<c r="{ref}" t="b"><v>{int(val)}</v></c>')
                    elif isinstance(val, (int, float)):
                        cells.append(f'<c r="{ref}"><v>{val!r}</v></c>')
                    else:
                        cells.append(
                            f'<c r="{ref}" t="inlineStr"><is>'
                            f'<t xml:space="preserve">{escape(_ooxml_escape(str(val)))}</t>'
                            "</is></c>"
                        )
                xml_rows.append(f'<row r="{r}">{"".join(cells)}</row>')
            n_cols = max((len(r) for r in rows), default=1) or 1
            dim = f"A1:{_col_letters(n_cols - 1)}{max(len(rows), 1)}"
            zf.writestr(
                f"xl/{part}",
                '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
                f'<dimension ref="{dim}"/><sheetData>{"".join(xml_rows)}</sheetData></worksheet>',
            )
        zf.writestr("[Content_Types].xml", _CT.format(overrides="".join(overrides)))
        zf.writestr("_rels/.rels", _ROOT_RELS)
        zf.writestr(
            "xl/workbook.xml",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
            'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            f'<sheets>{"".join(wb_sheets)}</sheets></workbook>',
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f'{"".join(wb_rels)}</Relationships>',
        )
    return path
