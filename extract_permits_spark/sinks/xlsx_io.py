"""Pure-stdlib xlsx codec (ECMA-376 / ISO-29500 SpreadsheetML).

openpyxl/xlsxwriter are not installed in this container, but an .xlsx
file is just a ZIP of XML parts, so the reference's Excel surface is
implemented directly on ``zipfile`` + ``xml.etree``:

- S6 (read workbook values: format_reviewed_permits_for_upload.py:123-204)
- S7 (read cell fill color AS DATA — the reviewer flags rows by
  coloring the PIN cell: format_reviewed_permits_for_upload.py:31-83)
- S8 (formatted sink: widths, bold header, frozen panes, autofilter,
  protection, date serials, formula cells: permit_cleaning.py:911-1135)

Writer: multiple sheets, inline strings, numbers, bools, date serials
(numFmtId 14), formula cells, per-cell solid fills (ARGB), bold header,
column widths, freeze panes, autofilter, sheet protection, expression
conditional-format rules (dxf highlights; permit_cleaning.py:1027-1053),
and dataValidation blocks (custom/textLength/date; :1055-1084). Sheet data
is a ``pa.Table`` and renders column by column: each column's Arrow type
picks one cell template, and escaping, ``xml:space``, cell refs and row
wrappers are ``pyarrow.compute`` string kernels over the whole column. The
workbook is written to a temp file beside ``path`` and renamed into place,
so a failed write leaves no partial file and keeps an existing one.

Reader: shared strings + inline strings, numbers, bools, date serials
(built-in date numFmtIds), formula cells, per-cell solid-fill
fgColor as either an ARGB string or a ("theme", idx, tint) tuple —
exactly the two shapes the reference's flag detection needs — plus the
conditional-format rules and data validations parsed back out for
round-trip verification.

Driver-side by design: review workbooks are bounded by contract (250
rows/file batches, S9) — this is presentation I/O, not a data path.
"""

from __future__ import annotations

import os
import re
import uuid
import zipfile
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape, quoteattr

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_NS_R = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_NS_PKG_REL = "http://schemas.openxmlformats.org/package/2006/relationships"
_NS_CT = "http://schemas.openxmlformats.org/package/2006/content-types"

_EPOCH = datetime(1899, 12, 30)  # Excel serial epoch (1900 system)
# built-in date/time number formats (ECMA-376 §18.8.30)
_DATE_NUMFMT_IDS = set(range(14, 23)) | {45, 46, 47}
_UNIX_EPOCH_SERIAL = 25569  # serial of 1970-01-01, Arrow's day zero
# the characters str.isspace() accepts, i.e. what str.strip() removes
_PY_WHITESPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680\u2000\u2001\u2002\u2003"
    "\u2004\u2005\u2006\u2007\u2008\u2009\u200a\u2028\u2029\u202f\u205f\u3000"
)


@dataclass
class CondFormat:
    """One formula-typed conditional-format rule (ECMA-376 §18.3.1.18):
    when ``formula`` evaluates true for a cell in ``sqref``, the cell gets
    the ``bg_color`` solid fill (a dxf differential format). This is the
    traffic-light surface of the reference's review workbook
    (chicago/permit_cleaning.py:1027-1053)."""

    sqref: str  # e.g. "A2:H251"
    formula: str  # without the leading '='
    bg_color: str  # RGB or ARGB hex


@dataclass
class DataValidation:
    """One <dataValidation> block (ECMA-376 §18.3.1.32) — the cell-edit
    guards of the reference's review workbook (permit_cleaning.py:
    149-157 Ready checkbox, :1055-1084 per-column emission loop)."""

    sqref: str
    type: str  # custom | textLength | date | whole | decimal | list | time
    formula1: str | None = None
    formula2: str | None = None
    operator: str | None = None  # between | greaterThanOrEqual | ...
    allow_blank: bool = True
    error_title: str | None = None
    error_message: str | None = None


@dataclass
class SheetSpec:
    name: str
    header: list[str]
    rows: pa.Table  # one column per header entry
    col_widths: list[int | None] | None = None
    # (data_row_idx, col_idx) -> ARGB fill, 0-based over ``rows``
    fills: dict[tuple[int, int], str] = field(default_factory=dict)
    # columns whose text cells starting with "=" and holding "(" are
    # formula cells, written without the "=" (engine-built HYPERLINKs)
    formula_cols: frozenset[int] = frozenset()
    freeze_cols: int = 0
    freeze_rows: int = 0
    autofilter: bool = False
    protect: bool = False
    cond_formats: list[CondFormat] = field(default_factory=list)
    validations: list[DataValidation] = field(default_factory=list)


def _col_letter(ci: int) -> str:
    out = ""
    ci += 1
    while ci:
        ci, rem = divmod(ci - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def _col_index(ref: str) -> int:
    out = 0
    for ch in ref:
        if not ch.isalpha():
            break
        out = out * 26 + (ord(ch.upper()) - ord("A") + 1)
    return out - 1


def to_serial(dt: datetime | date) -> float:
    if isinstance(dt, datetime):
        delta = dt - _EPOCH
        return delta.days + delta.seconds / 86400 + delta.microseconds / 86400e6
    return float((datetime(dt.year, dt.month, dt.day) - _EPOCH).days)


def from_serial(serial: float) -> datetime:
    return _EPOCH + timedelta(days=serial)


# --------------------------------------------------------------------- #
# writer
# --------------------------------------------------------------------- #


class _Styles:
    """Deduplicating style table: (bold, is_date, fill_argb) -> xf index."""

    def __init__(self) -> None:
        self.fills: list[str] = []  # ARGB solid fills, after none+gray125
        self._fill_idx: dict[str, int] = {}
        self.xfs: list[tuple[int, int, int]] = [(0, 0, 0)]  # (fontId, numFmtId, fillId)
        self._xf_idx: dict[tuple[int, int, int], int] = {(0, 0, 0): 0}
        self.dxfs: list[str] = []  # ARGB bg fills for cfRules
        self._dxf_idx: dict[str, int] = {}

    def dxf(self, bg_color: str) -> int:
        """Differential format for a conditional-format rule — dxf fills
        carry the highlight as patternFill/bgColor (ECMA-376 §18.8.14)."""
        argb = bg_color.upper().lstrip("#")
        if len(argb) == 6:
            argb = "FF" + argb
        if argb not in self._dxf_idx:
            self._dxf_idx[argb] = len(self.dxfs)
            self.dxfs.append(argb)
        return self._dxf_idx[argb]

    def xf(self, bold: bool = False, is_date: bool = False, fill: str | None = None) -> int:
        fill_id = 0
        if fill is not None:
            fill = fill.upper().lstrip("#")
            if len(fill) == 6:
                fill = "FF" + fill
            if fill not in self._fill_idx:
                self._fill_idx[fill] = 2 + len(self.fills)  # 0=none, 1=gray125
                self.fills.append(fill)
            fill_id = self._fill_idx[fill]
        key = (1 if bold else 0, 14 if is_date else 0, fill_id)
        if key not in self._xf_idx:
            self._xf_idx[key] = len(self.xfs)
            self.xfs.append(key)
        return self._xf_idx[key]

    def to_xml(self) -> str:
        fills = (
            '<fill><patternFill patternType="none"/></fill>'
            '<fill><patternFill patternType="gray125"/></fill>'
        )
        for argb in self.fills:
            fills += (
                f'<fill><patternFill patternType="solid"><fgColor rgb="{argb}"/>'
                '<bgColor indexed="64"/></patternFill></fill>'
            )
        xfs = ""
        for font_id, numfmt_id, fill_id in self.xfs:
            attrs = f'numFmtId="{numfmt_id}" fontId="{font_id}" fillId="{fill_id}" borderId="0"'
            applies = []
            if numfmt_id:
                applies.append('applyNumberFormat="1"')
            if fill_id:
                applies.append('applyFill="1"')
            if font_id:
                applies.append('applyFont="1"')
            xfs += f"<xf {attrs} {' '.join(applies)}/>"
        dxfs = "".join(
            f'<dxf><fill><patternFill><bgColor rgb="{argb}"/></patternFill></fill></dxf>'
            for argb in self.dxfs
        )
        return (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<styleSheet xmlns="{_NS}">'
            '<fonts count="2">'
            '<font><sz val="10"/><name val="Arial"/></font>'
            '<font><b/><sz val="10"/><name val="Arial"/></font>'
            "</fonts>"
            f'<fills count="{2 + len(self.fills)}">{fills}</fills>'
            '<borders count="1"><border><left/><right/><top/><bottom/><diagonal/></border></borders>'
            '<cellStyleXfs count="1"><xf numFmtId="0" fontId="0" fillId="0" borderId="0"/></cellStyleXfs>'
            f'<cellXfs count="{len(self.xfs)}">{xfs}</cellXfs>'
            + (f'<dxfs count="{len(self.dxfs)}">{dxfs}</dxfs>' if self.dxfs else "")
            + "</styleSheet>"
        )


# One column's cells as (template, values, is_date) parts: ``values`` is
# the template-ready text of the cells the part holds and null elsewhere;
# the parts of a column never overlap. Templates: "t" inline text, "f"
# formula, "b" bool, "n" number (dates and timestamps as serials).
_Part = tuple[str, pa.Array, bool]


def _strings(values: list) -> pa.Array:
    return pa.array(values, pa.string())


def _arrow_parts(a: pa.Array, formula: bool = False) -> list[_Part]:
    """Parts of one typed column; its Arrow type picks the template. NaN
    and null cells are empty; a zoned timestamp renders its wall time in
    its zone; types without a template render as text of their value."""
    t = a.type
    if pa.types.is_null(t):
        return []
    if pa.types.is_boolean(t):
        return [("b", pc.if_else(a, "1", "0"), False)]
    if pa.types.is_integer(t):
        return [("n", a.cast(pa.string()), False)]
    if pa.types.is_floating(t):
        # Python's float repr, which Arrow's cast does not reproduce
        text = [None if v is None or v != v else repr(v) for v in a.to_pylist()]
        return [("n", _strings(text), False)]
    if pa.types.is_date(t):
        days = a.cast(pa.date32()).cast(pa.int32()).cast(pa.int64())
        serial = pc.add(days, _UNIX_EPOCH_SERIAL).cast(pa.string())
        return [("n", pc.binary_join_element_wise(serial, ".0", ""), True)]
    if pa.types.is_timestamp(t):
        if t.tz is not None:
            a = pc.local_timestamp(a)
        a = a.cast(pa.timestamp("us"), safe=False)
        text = [None if v is None else repr(to_serial(v)) for v in a.to_pylist()]
        return [("n", _strings(text), True)]
    if not (pa.types.is_string(t) or pa.types.is_large_string(t)):
        a = _strings([None if v is None else str(v) for v in a.to_pylist()])
    if not formula:
        return [("t", a, False)]
    is_formula = pc.and_(pc.starts_with(a, "="), pc.match_substring(a, "("))
    return [
        ("f", pc.if_else(is_formula, pc.utf8_slice_codeunits(a, 1), None), False),
        ("t", pc.if_else(is_formula, None, a), False),
    ]


# ECMA-376 ST_Xstring (§22.9.2.19): a character XML 1.0 forbids, or that a
# parser rewrites (CR reads back as LF), is written as _xHHHH_, and an
# underscore that would read back as an escape's start (a literal _xHHHH_,
# or _xHHHH before a character escaped here) as _x005F_. The class text
# reads the same in Python's re and in Arrow's RE2.
_XML_UNSAFE = "\\x00-\\x08\\x0b-\\x1f\ufffe\uffff"
_XSTRING_ESCAPE = re.compile(rf"[{_XML_UNSAFE}]|_(?=x[0-9A-Fa-f]{{4}}[_{_XML_UNSAFE}])")
_XSTRING_HIT = rf"[{_XML_UNSAFE}]|_x[0-9A-Fa-f]{{4}}_"  # a superset, for Arrow
_XSTRING_CODE = re.compile(r"_x([0-9A-Fa-f]{4})_")


def _unxstring(text: str) -> str:
    """Decode ST_Xstring escapes in one left-to-right pass."""
    return _XSTRING_CODE.sub(lambda m: chr(int(m.group(1), 16)), text) if "_x" in text else text


def _escape(a: pa.Array) -> pa.Array:
    """XML-escape text; the cells that need ST_Xstring escapes take them
    one by one in Python, every other cell passes through as it is."""
    hit = pc.fill_null(pc.match_substring_regex(a, _XSTRING_HIT), False)
    if pc.any(hit).as_py():
        escaped = [
            _XSTRING_ESCAPE.sub(lambda m: f"_x{ord(m.group()):04X}_", v)
            for v in a.filter(hit).to_pylist()
        ]
        a = pc.replace_with_mask(a, hit, pa.array(escaped, a.type))
    for ch, ent in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
        a = pc.replace_substring(a, ch, ent)
    return a


_TEXT_OPEN = ' t="inlineStr"><is><t>'
_TEXT_OPEN_SPACE = ' t="inlineStr"><is><t xml:space="preserve">'
_TEMPLATES = {
    "f": ("><f>", "</f></c>"),
    "b": (' t="b"><v>', "</v></c>"),
    "n": ("><v>", "</v></c>"),
    "t": (None, "</t></is></c>"),
}


def _cells(parts: list[_Part], letter: str, row_nums: pa.Array, style: pa.Array) -> pa.Array:
    """One column's ``<c>`` elements, null for a cell with neither a value
    nor a style (skipped). ``style`` holds each cell's ` s="N"` or ""."""
    null = pa.scalar(None, pa.string())
    bodies = []
    for kind, values, _ in parts:
        opening, closing = _TEMPLATES[kind]
        if kind == "t":
            padded = pc.not_equal(pc.utf8_trim(values, characters=_PY_WHITESPACE), values)
            opening = pc.if_else(padded, _TEXT_OPEN_SPACE, _TEXT_OPEN)
        if kind in ("t", "f"):
            values = _escape(values)
        bodies.append(pc.binary_join_element_wise(opening, values, closing, ""))
    styled_empty = pc.if_else(pc.not_equal(style, ""), "/>", null)
    body = pc.coalesce(*bodies, styled_empty)
    return pc.binary_join_element_wise('<c r="', letter, row_nums, '"', style, body, "")


def _style_attr(xf: int) -> str:
    return f' s="{xf}"' if xf else ""


def _rows_xml(columns: list[list[_Part]], first_row: int, n: int, styles: list[pa.Array]) -> str:
    """``n`` rows from ``first_row`` on, one ``<row>`` each, empty ones too."""
    row_nums = pa.array(np.arange(first_row, first_row + n)).cast(pa.string())
    cells = [
        _cells(parts, _col_letter(ci), row_nums, style)
        for ci, (parts, style) in enumerate(zip(columns, styles))
    ]
    opening = pc.binary_join_element_wise('<row r="', row_nums, '">', "")
    rows = pc.binary_join_element_wise(
        opening, *cells, "</row>", "", null_handling="replace", null_replacement=""
    )
    return pc.binary_join(pa.ListArray.from_arrays([0, n], rows), "")[0].as_py()


def _data_xml(sheet: SheetSpec, styles: _Styles) -> str:
    """The data rows of ``sheet``, rendered column by column. Styles are
    registered in row-major order of first use, as a cell-by-cell writer
    would, so the style table does not depend on the render order."""
    n_cols, n_rows = len(sheet.header), sheet.rows.num_rows
    columns = [
        _arrow_parts(sheet.rows.column(ci).combine_chunks(), ci in sheet.formula_cols)
        if ci < sheet.rows.num_columns
        else []
        for ci in range(n_cols)
    ]
    fills = {
        (ri, ci): f
        for (ri, ci), f in sheet.fills.items()
        if 0 <= ri < n_rows and 0 <= ci < n_cols
    }
    dated = [np.zeros(n_rows, bool) for _ in columns]  # cells holding a date
    for mask, parts in zip(dated, columns):
        for _, values, is_date in parts:
            if is_date:
                mask |= values.is_valid().to_numpy(zero_copy_only=False)
    first_use = [(ri, ci, bool(dated[ci][ri]), f) for (ri, ci), f in fills.items()]
    for ci, mask in enumerate(dated):
        first = next((ri for ri in np.flatnonzero(mask) if (ri, ci) not in fills), None)
        if first is not None:
            first_use.append((int(first), ci, True, None))
    for _, _, is_date, f in sorted(first_use, key=lambda u: u[:2]):
        styles.xf(is_date=is_date, fill=f)
    col_styles = []
    for ci, mask in enumerate(dated):
        filled = sorted(ri for ri, c in fills if c == ci)
        hit = np.zeros(n_rows, bool)
        hit[filled] = True
        plain_dates = mask & ~hit
        date_style = _style_attr(styles.xf(is_date=True)) if plain_dates.any() else ""
        style = pc.if_else(pa.array(plain_dates), date_style, "")
        if filled:
            attrs = [
                _style_attr(styles.xf(is_date=bool(mask[ri]), fill=fills[ri, ci]))
                for ri in filled
            ]
            style = pc.replace_with_mask(style, pa.array(hit), _strings(attrs))
        col_styles.append(style)
    return _rows_xml(columns, 2, n_rows, col_styles)


def _sheet_xml(sheet: SheetSpec, styles: _Styles) -> str:
    n_cols = len(sheet.header)
    parts = [f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><worksheet xmlns="{_NS}">']
    if sheet.freeze_cols or sheet.freeze_rows:
        # both splits ⇒ the active (scrolling) pane is bottomRight; a
        # single split freezes only columns (topRight) or rows (bottomLeft)
        top_left = f"{_col_letter(sheet.freeze_cols)}{sheet.freeze_rows + 1}"
        splits = ""
        if sheet.freeze_cols:
            splits += f'xSplit="{sheet.freeze_cols}" '
        if sheet.freeze_rows:
            splits += f'ySplit="{sheet.freeze_rows}" '
        active = (
            "bottomRight"
            if sheet.freeze_cols and sheet.freeze_rows
            else ("topRight" if sheet.freeze_cols else "bottomLeft")
        )
        parts.append(
            '<sheetViews><sheetView workbookViewId="0">'
            f'<pane {splits}topLeftCell="{top_left}" '
            f'activePane="{active}" state="frozen"/></sheetView></sheetViews>'
        )
    if sheet.col_widths:
        cols = "".join(
            f'<col min="{i + 1}" max="{i + 1}" width="{w}" customWidth="1"/>'
            for i, w in enumerate(sheet.col_widths)
            if w is not None
        )
        if cols:
            parts.append(f"<cols>{cols}</cols>")
    parts.append("<sheetData>")
    bold = pa.array([_style_attr(styles.xf(bold=True))])
    header = [_arrow_parts(_strings([h])) for h in sheet.header]
    parts.append(_rows_xml(header, 1, 1, [bold] * n_cols))
    parts.append(_data_xml(sheet, styles))
    parts.append("</sheetData>")
    if sheet.protect:
        parts.append(
            '<sheetProtection sheet="1" selectLockedCells="0" '
            'selectUnlockedCells="0" autoFilter="0" sort="0"/>'
        )
    if sheet.autofilter:
        parts.append(f'<autoFilter ref="A1:{_col_letter(n_cols - 1)}{sheet.rows.num_rows + 1}"/>')
    # CT_Worksheet sequence: ... autoFilter, ..., conditionalFormatting*,
    # dataValidations — order matters for strict consumers.
    for pri, cf in enumerate(sheet.cond_formats, start=1):
        parts.append(
            f'<conditionalFormatting sqref="{cf.sqref}">'
            f'<cfRule type="expression" dxfId="{styles.dxf(cf.bg_color)}" '
            f'priority="{pri}"><formula>{escape(cf.formula)}</formula>'
            "</cfRule></conditionalFormatting>"
        )
    if sheet.validations:
        blocks = []
        for dv in sheet.validations:
            attrs = [f'type="{dv.type}"']
            if dv.operator:
                attrs.append(f'operator="{dv.operator}"')
            if dv.allow_blank:
                attrs.append('allowBlank="1"')
            attrs.append('showErrorMessage="1"')
            if dv.error_title:
                attrs.append(f"errorTitle={quoteattr(dv.error_title)}")
            if dv.error_message:
                attrs.append(f"error={quoteattr(dv.error_message)}")
            attrs.append(f'sqref="{dv.sqref}"')
            inner = ""
            if dv.formula1 is not None:
                inner += f"<formula1>{escape(str(dv.formula1))}</formula1>"
            if dv.formula2 is not None:
                inner += f"<formula2>{escape(str(dv.formula2))}</formula2>"
            blocks.append(f"<dataValidation {' '.join(attrs)}>{inner}</dataValidation>")
        parts.append(
            f'<dataValidations count="{len(sheet.validations)}">'
            + "".join(blocks)
            + "</dataValidations>"
        )
    parts.append("</worksheet>")
    return "".join(parts)


def write_xlsx(path: str, sheets: list[SheetSpec]) -> None:
    """Write a workbook. Single pass; styles deduped across sheets. The
    file appears at ``path`` whole or not at all."""
    styles = _Styles()
    sheet_xmls = [_sheet_xml(s, styles) for s in sheets]

    overrides = "".join(
        f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.'
        'spreadsheetml.worksheet+xml"/>'
        for i in range(len(sheets))
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Types xmlns="{_NS_CT}">'
        '<Default Extension="rels" ContentType='
        '"application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        f"{overrides}"
        '<Override PartName="/xl/styles.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>'
        "</Types>"
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{_NS_PKG_REL}">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    )
    sheet_entries = "".join(
        f"<sheet name={quoteattr(s.name)} sheetId=\"{i + 1}\" r:id=\"rId{i + 1}\"/>"
        for i, s in enumerate(sheets)
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{_NS}" xmlns:r="{_NS_R}">'
        f"<sheets>{sheet_entries}</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{_NS_PKG_REL}">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" Type="http://schemas.openxmlformats.org/'
            'officeDocument/2006/relationships/worksheet" '
            f'Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(sheets))
        )
        + f'<Relationship Id="rId{len(sheets) + 1}" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/'
        'relationships/styles" Target="styles.xml"/>'
        "</Relationships>"
    )

    directory, name = os.path.split(os.path.abspath(path))
    tmp = os.path.join(directory, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        with zipfile.ZipFile(tmp, "x", zipfile.ZIP_DEFLATED) as zf:
            zf.writestr("[Content_Types].xml", content_types)
            zf.writestr("_rels/.rels", root_rels)
            zf.writestr("xl/workbook.xml", workbook)
            zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
            zf.writestr("xl/styles.xml", styles.to_xml())
            for i, xml in enumerate(sheet_xmls):
                zf.writestr(f"xl/worksheets/sheet{i + 1}.xml", xml)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


# --------------------------------------------------------------------- #
# reader
# --------------------------------------------------------------------- #


@dataclass
class ReadSheet:
    header: list[str]
    rows: list[list[object]]  # data rows (header stripped), padded to header width
    # per data row, col_idx -> ARGB str | ("theme", idx, tint) | None
    fills: list[dict[int, object]]
    # expression cfRules: {"sqref", "formula", "bg_color"(ARGB|None)}
    cond_formats: list[dict] = field(default_factory=list)
    # dataValidation blocks: type/operator/sqref/formula1/formula2/
    # allow_blank/error_style/error_title/error_message
    validations: list[dict] = field(default_factory=list)


def _q(tag: str) -> str:
    return f"{{{_NS}}}{tag}"


def _is_date_fmt(numfmt_id: int, custom: dict[int, str]) -> bool:
    if numfmt_id in _DATE_NUMFMT_IDS:
        return True
    fmt = custom.get(numfmt_id, "")
    # strip quoted literals and bracketed sections, then look for date codes
    bare = re.sub(r'"[^"]*"|\[[^\]]*\]', "", fmt)
    return bool(re.search(r"[ymdhs]", bare, re.IGNORECASE)) and "#" not in bare


def _parse_styles(
    data: bytes,
) -> tuple[list[object], list[bool], list[str | None]]:
    """styles.xml -> (xf index -> fill descriptor, xf index -> is_date,
    dxf index -> cfRule bgColor ARGB)."""
    root = ET.fromstring(data)
    custom_fmts: dict[int, str] = {}
    for nf in root.iter(_q("numFmt")):
        custom_fmts[int(nf.get("numFmtId"))] = nf.get("formatCode", "")

    fill_descs: list[object] = []
    for f in root.iter(_q("fill")):
        pf = f.find(_q("patternFill"))
        desc = None
        if pf is not None and pf.get("patternType") == "solid":
            fg = pf.find(_q("fgColor"))
            if fg is not None:
                if fg.get("rgb"):
                    desc = fg.get("rgb").upper()
                elif fg.get("theme") is not None:
                    desc = ("theme", int(fg.get("theme")), float(fg.get("tint", "0")))
        fill_descs.append(desc)

    xf_fills: list[object] = []
    xf_dates: list[bool] = []
    cell_xfs = root.find(_q("cellXfs"))
    for xf in cell_xfs.findall(_q("xf")) if cell_xfs is not None else []:
        fill_id = int(xf.get("fillId", "0"))
        numfmt_id = int(xf.get("numFmtId", "0"))
        xf_fills.append(fill_descs[fill_id] if fill_id < len(fill_descs) else None)
        xf_dates.append(_is_date_fmt(numfmt_id, custom_fmts))

    # dxf table (conditional-format highlights): dxfId -> bgColor ARGB
    dxf_fills: list[str | None] = []
    dxfs = root.find(_q("dxfs"))
    for dxf in dxfs.findall(_q("dxf")) if dxfs is not None else []:
        bg = None
        for el in dxf.iter(_q("bgColor")):
            bg = (el.get("rgb") or "").upper() or None
        dxf_fills.append(bg)
    return xf_fills, xf_dates, dxf_fills


def read_xlsx(path: str, sheet_name: str | None = None) -> ReadSheet:
    """Read one sheet's values + per-cell solid-fill colors."""
    with zipfile.ZipFile(path) as zf:
        wb = ET.fromstring(zf.read("xl/workbook.xml"))
        rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
        rel_target = {
            r.get("Id"): r.get("Target")
            for r in rels.iter(f"{{{_NS_PKG_REL}}}Relationship")
        }
        target = None
        for sheet in wb.iter(_q("sheet")):
            if sheet_name is None or sheet.get("name") == sheet_name:
                target = rel_target[sheet.get(f"{{{_NS_R}}}id")]
                break
        if target is None:
            raise KeyError(f"Sheet {sheet_name!r} not found in workbook")
        if not target.startswith("/"):
            target = "xl/" + target

        shared: list[str] = []
        if "xl/sharedStrings.xml" in zf.namelist():
            sst = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            for si in sst.findall(_q("si")):
                shared.append(_unxstring("".join(t.text or "" for t in si.iter(_q("t")))))

        xf_fills: list[object] = []
        xf_dates: list[bool] = []
        dxf_fills: list[str | None] = []
        if "xl/styles.xml" in zf.namelist():
            xf_fills, xf_dates, dxf_fills = _parse_styles(zf.read("xl/styles.xml"))

        ws = ET.fromstring(zf.read(target.lstrip("/")))

    all_rows: list[list[object]] = []
    all_fills: list[dict[int, object]] = []
    for row in ws.iter(_q("row")):
        values: list[object] = []
        fills: dict[int, object] = {}
        # externally-produced workbooks may omit the optional r attribute;
        # ECMA-376 then places the cell one past the previous cell
        next_ci = 0
        for c in row.findall(_q("c")):
            ref = c.get("r")
            ci = _col_index(ref) if ref else next_ci
            next_ci = ci + 1
            while len(values) <= ci:
                values.append(None)
            style = int(c.get("s", "0"))
            if style < len(xf_fills) and xf_fills[style] is not None:
                fills[ci] = xf_fills[style]
            t = c.get("t", "n")
            v = c.find(_q("v"))
            if t == "inlineStr":
                is_el = c.find(_q("is"))
                values[ci] = (
                    _unxstring("".join(tt.text or "" for tt in is_el.iter(_q("t"))))
                    if is_el is not None
                    else None
                )
            elif t == "s":
                values[ci] = shared[int(v.text)] if v is not None else None
            elif t == "str":
                values[ci] = v.text if v is not None else None
            elif t == "b":
                values[ci] = v is not None and v.text == "1"
            elif t == "e":
                # error cell (#N/A, #DIV/0!, ...) — surface the error
                # string rather than crashing the numeric branch
                values[ci] = v.text if v is not None else None
            elif v is not None and v.text is not None:
                num = float(v.text)
                if style < len(xf_dates) and xf_dates[style]:
                    values[ci] = from_serial(num)
                else:
                    values[ci] = int(num) if num == int(num) else num
        all_rows.append(values)
        all_fills.append(fills)

    cond_formats: list[dict] = []
    for cf in ws.iter(_q("conditionalFormatting")):
        sqref = cf.get("sqref", "")
        for rule in cf.findall(_q("cfRule")):
            if rule.get("type") != "expression":
                continue
            f_el = rule.find(_q("formula"))
            dxf_id = rule.get("dxfId")
            cond_formats.append(
                {
                    "sqref": sqref,
                    "formula": f_el.text if f_el is not None else None,
                    "bg_color": (
                        dxf_fills[int(dxf_id)]
                        if dxf_id is not None and int(dxf_id) < len(dxf_fills)
                        else None
                    ),
                }
            )

    validations: list[dict] = []
    dvs = ws.find(_q("dataValidations"))
    for dv in dvs.findall(_q("dataValidation")) if dvs is not None else []:
        f1 = dv.find(_q("formula1"))
        f2 = dv.find(_q("formula2"))
        validations.append(
            {
                "type": dv.get("type"),
                "operator": dv.get("operator"),
                "sqref": dv.get("sqref"),
                "formula1": f1.text if f1 is not None else None,
                "formula2": f2.text if f2 is not None else None,
                "allow_blank": dv.get("allowBlank") == "1",
                "error_style": dv.get("errorStyle", "stop"),
                "error_title": dv.get("errorTitle"),
                "error_message": dv.get("error"),
            }
        )

    if not all_rows:
        return ReadSheet([], [], [], cond_formats, validations)
    header = [str(h) if h is not None else "" for h in all_rows[0]]
    width = len(header)
    data = [r + [None] * (width - len(r)) for r in all_rows[1:]]
    return ReadSheet(header, data, all_fills[1:], cond_formats, validations)
