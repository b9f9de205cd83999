"""The column-wise sheet renderer against a cell-by-cell oracle.

``xlsx_io`` renders sheet data one column at a time with pyarrow compute
kernels. The oracle below is the cell-by-cell writer those kernels
replace: one ``<c>`` per cell, its template picked from the Python type of
the value. Both must produce the same bytes for the sheet data and the
same style table.
"""

from __future__ import annotations

import os
import sys
import zipfile
from datetime import date, datetime
from xml.sax.saxutils import escape

import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from extract_permits_spark.sinks import xlsx_io
from extract_permits_spark.sinks.xlsx_io import (
    SheetSpec,
    _col_letter,
    _sheet_xml,
    _Styles,
    read_xlsx,
    to_serial,
    write_xlsx,
)


class _Formula(str):
    """Oracle-side marker: a link-column cell the sink writes as a formula."""


def _oracle_cell(ref: str, value: object, style: int) -> str:
    s = f' s="{style}"' if style else ""
    if value is None:
        return f'<c r="{ref}"{s}/>'
    if isinstance(value, _Formula):
        return f'<c r="{ref}"{s}><f>{escape(str(value))}</f></c>'
    if isinstance(value, bool):
        return f'<c r="{ref}"{s} t="b"><v>{1 if value else 0}</v></c>'
    if isinstance(value, (datetime, date)):
        return f'<c r="{ref}"{s}><v>{to_serial(value)}</v></c>'
    if isinstance(value, (int, float)):
        return f'<c r="{ref}"{s}><v>{value}</v></c>'
    text = escape(str(value))
    space = ' xml:space="preserve"' if text != text.strip() else ""
    return f'<c r="{ref}"{s} t="inlineStr"><is><t{space}>{text}</t></is></c>'


def _oracle_sheet_data(header, rows, fills, styles: _Styles) -> str:
    bold = styles.xf(bold=True)
    out = ["<sheetData>"]
    cells = "".join(_oracle_cell(f"{_col_letter(ci)}1", h, bold) for ci, h in enumerate(header))
    out.append(f'<row r="1">{cells}</row>')
    for ri, row in enumerate(rows):
        cells = []
        for ci in range(len(header)):
            value = row[ci] if ci < len(row) else None
            if isinstance(value, float) and value != value:
                value = None  # NaN is an empty cell
            style = styles.xf(is_date=isinstance(value, (datetime, date)), fill=fills.get((ri, ci)))
            if value is None and not style:
                continue
            cells.append(_oracle_cell(f"{_col_letter(ci)}{ri + 2}", value, style))
        out.append(f'<row r="{ri + 2}">{"".join(cells)}</row>')
    out.append("</sheetData>")
    return "".join(out)


def _rendered(sheet: SheetSpec) -> tuple[str, str]:
    styles = _Styles()
    xml = _sheet_xml(sheet, styles)
    data = xml[xml.index("<sheetData>") : xml.index("</sheetData>") + len("</sheetData>")]
    return data, styles.to_xml()


def _oracle(header, rows, fills) -> tuple[str, str]:
    styles = _Styles()
    return _oracle_sheet_data(header, rows, fills, styles), styles.to_xml()


def _link_cell(v):
    """save_workbook's rule for LINK_COLUMNS text."""
    if isinstance(v, str) and v.startswith("=") and "(" in v:
        return _Formula(v[1:])
    return v


TEXT = st.text(
    alphabet=st.sampled_from(list("ab<>&=(\"' \t\n") + ["\xa0", "　", "\x1c", " ", "é"]),
    max_size=8,
)
LINK = st.one_of(
    TEXT,
    st.builds(lambda t: f'=HYPERLINK("https://x/{t}", "{t}")', TEXT),
    st.just("=no paren"),
    st.just("(=late"),
)
FLOATS = st.one_of(
    st.sampled_from([3.0, 1e16, 0.1 + 0.2, -0.0, 1e-6, 1e22, float("nan"), float("inf")]),
    st.floats(allow_nan=True, allow_infinity=True),
)
DECIMALS_2 = st.decimals(min_value=-10**9, max_value=10**9, places=2, allow_nan=False)
DECIMALS_7 = st.decimals(min_value=-1, max_value=1, places=7, allow_nan=False)
COLUMN_KINDS = {
    "text": (pa.string(), TEXT),
    "link": (pa.string(), LINK),
    "bool": (pa.bool_(), st.booleans()),
    "int": (pa.int64(), st.integers(-(2**63), 2**63 - 1)),
    "float": (pa.float64(), FLOATS),
    "date": (pa.date32(), st.dates()),
    "timestamp": (pa.timestamp("us"), st.datetimes()),
    "decimal2": (pa.decimal128(12, 2), DECIMALS_2),
    "decimal7": (pa.decimal128(9, 7), DECIMALS_7),
    "null": (pa.null(), st.nothing()),
}


@st.composite
def sheets(draw):
    kinds = draw(st.lists(st.sampled_from(sorted(COLUMN_KINDS)), min_size=1, max_size=6))
    n_rows = draw(st.integers(0, 7))
    columns = []
    for kind in kinds:
        typ, values = COLUMN_KINDS[kind]
        cells = st.lists(st.one_of(st.none(), values), min_size=n_rows, max_size=n_rows)
        columns.append(pa.array(draw(cells), typ))
    fill_colors = st.sampled_from(["FFFFFF00", "FFC000", "#ff00b0f0", "FF00FF00"])
    fills = draw(
        st.dictionaries(
            st.tuples(st.integers(0, max(n_rows, 1)), st.integers(0, len(kinds))),
            fill_colors,
            max_size=6,
        )
    )
    return kinds, pa.table(columns, names=[f"c{i}" for i in range(len(kinds))]), fills


@settings(max_examples=80, deadline=None)
@given(sheets())
def test_column_render_matches_cell_oracle(sheet):
    """Arrow-table sheets render byte for byte like the cell-by-cell
    oracle: None/NaN empty, formulas only in link columns, t="b" bools,
    Python-formatted numbers, date and timestamp serials with the date
    style, decimals and everything else as text, per-cell fills, styles
    registered in row-major order of first use."""
    kinds, table, fills = sheet
    header = list(table.column_names)
    links = frozenset(ci for ci, k in enumerate(kinds) if k == "link")
    rows = [
        [_link_cell(v) if ci in links else v for ci, v in enumerate(r.values())]
        for r in table.to_pylist()
    ]
    want = _oracle(header, rows, fills)
    spec = SheetSpec(name="S", header=header, rows=table, fills=fills, formula_cols=links)
    assert _rendered(spec) == want


def test_whitespace_set_is_str_isspace():
    """xml:space="preserve" follows str.strip(), whose set the renderer
    spells out for pyarrow's trim kernel."""
    every = "".join(c for c in map(chr, range(sys.maxunicode + 1)) if c.isspace())
    assert xlsx_io._PY_WHITESPACE == every


def test_failed_write_leaves_no_partial_file(tmp_path, monkeypatch):
    """A workbook is written to a temp file and renamed into place: when a
    sheet part fails half-way, nothing appears at a new path, an existing
    workbook stays intact and no temp file is left."""
    sheets = [
        SheetSpec(name="Permits", header=["a"], rows=pa.table({"a": ["x"]})),
        SheetSpec(name="Universe of Valid PINs", header=["pin"], rows=pa.table({"pin": ["1"]})),
    ]
    real = zipfile.ZipFile.writestr

    def writestr(self, name, data, *args, **kwargs):
        if str(getattr(name, "filename", name)) == "xl/worksheets/sheet2.xml":
            raise OSError("disk full")
        return real(self, name, data, *args, **kwargs)

    existing = tmp_path / "existing.xlsx"
    old = pa.table({"old": ["kept"]})
    write_xlsx(str(existing), [SheetSpec(name="Old", header=["old"], rows=old)])
    before = existing.read_bytes()
    monkeypatch.setattr(zipfile.ZipFile, "writestr", writestr)
    fresh = tmp_path / "fresh.xlsx"
    with pytest.raises(OSError, match="disk full"):
        write_xlsx(str(fresh), sheets)
    with pytest.raises(OSError, match="disk full"):
        write_xlsx(str(existing), sheets)
    monkeypatch.undo()
    assert sorted(os.listdir(tmp_path)) == ["existing.xlsx"]
    assert existing.read_bytes() == before
    assert read_xlsx(str(existing)).rows == [["kept"]]
