"""Round-trip tests for the pure-stdlib xlsx codec + the S6/S7/S8 Excel
surface it unlocks (reference: chicago/permit_cleaning.py:911-1135 write,
chicago/legacy_permits/format_reviewed_permits_for_upload.py:31-204 read)."""

from __future__ import annotations

import os
import tempfile
import zipfile
from datetime import date, datetime

import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from extract_permits_spark.sinks.excel_sink import (
    FLAG_FILL_COLORS,
    LINK_COLUMNS,
    fill_matches_flag,
    flagged_rows_from_frame,
    presentation_frame,
    read_reviewed_workbook,
    save_workbook,
    without_flagged_rows,
)
from extract_permits_spark.sinks.xlsx_io import (
    SheetSpec,
    from_serial,
    read_xlsx,
    to_serial,
    write_xlsx,
)
from extract_permits_spark.specs import ColumnSpec


def plain_specs(df):
    """One spec per column, header = engine name = source column."""
    return [ColumnSpec(c, c, src=c) for c in df.columns]


@pytest.fixture()
def tmp_xlsx():
    with tempfile.TemporaryDirectory() as d:
        yield os.path.join(d, "wb.xlsx")


def test_value_round_trip(tmp_xlsx):
    rows = pa.table(
        {
            "a": ["plain", "  padded  ", '<&> escaped "quotes"'],
            "b": [42, -1, 2**33],
            "c": [3.5, 0.0, 1e-6],
            "d": [True, False, None],
            "e": [datetime(2024, 3, 1, 12, 30), None, None],
            "f": [None, "last", "x"],
            "g": [None, date(1999, 12, 31), None],
        }
    )
    write_xlsx(tmp_xlsx, [SheetSpec(name="S", header=rows.column_names, rows=rows)])
    got = read_xlsx(tmp_xlsx, "S")
    assert got.header == ["a", "b", "c", "d", "e", "f", "g"]
    assert got.rows[0][:4] == ["plain", 42, 3.5, True]
    assert got.rows[0][4] == datetime(2024, 3, 1, 12, 30)
    assert got.rows[0][5] is None
    assert got.rows[1][0] == "  padded  "  # xml:space preserved
    assert got.rows[1][6] == datetime(1999, 12, 31)  # date -> midnight
    assert got.rows[2][0] == '<&> escaped "quotes"'
    assert got.rows[2][1] == 2**33


def test_serial_conversion():
    # Excel's documented anchor: 2008-01-01 is serial 39448 (1900 system)
    assert to_serial(date(2008, 1, 1)) == 39448.0
    assert from_serial(39448.0) == datetime(2008, 1, 1)
    noon = datetime(2008, 1, 1, 12, 0)
    assert from_serial(to_serial(noon)) == noon


def test_fill_round_trip_and_flag_semantics(tmp_xlsx):
    rows = pa.table({"pin": ["p1", "p2", "p3", "p4"]})
    fills = {(0, 0): "FFFFFF00", (1, 0): "FFFFC000", (2, 0): "FF00FF00"}
    write_xlsx(
        tmp_xlsx, [SheetSpec(name="S", header=["pin"], rows=rows, fills=fills)]
    )
    got = read_xlsx(tmp_xlsx, "S")
    assert got.fills[0][0] == "FFFFFF00"
    assert got.fills[1][0] == "FFFFC000"
    assert got.fills[2][0] == "FF00FF00"
    assert got.fills[3] == {}
    assert fill_matches_flag(got.fills[0][0])
    assert fill_matches_flag(got.fills[1][0])
    assert not fill_matches_flag(got.fills[2][0])  # green is not a flag color
    assert not fill_matches_flag(None)


def test_flag_color_equivalences():
    """ARGB and theme-tint forms (reference pin_cell_matches_flag,
    format_reviewed_permits_for_upload.py:39-83)."""
    # full ARGB strings only: the reference's alpha-stripped fallback
    # compares 6 chars against 8-char set entries, so it is never true
    assert not fill_matches_flag("FFFF00")
    assert not fill_matches_flag("AAFFFF00")
    assert fill_matches_flag("#FFFFC000")  # leading # stripped like the ref
    assert fill_matches_flag(("theme", 7, 0.3999755851924192))
    assert fill_matches_flag(("theme", 7, 0.39997558519))  # tint rounded to 6dp
    assert not fill_matches_flag(("theme", 3, 0.4))
    assert ("theme", 7, 0.3999755851924192) in FLAG_FILL_COLORS


def test_formula_cells_round_trip(tmp_xlsx):
    links = pa.table({"f": ['=HYPERLINK("https://x/1","1")']})
    write_xlsx(
        tmp_xlsx, [SheetSpec(name="S", header=["f"], rows=links, formula_cols=frozenset({0}))]
    )
    with zipfile.ZipFile(tmp_xlsx) as zf:
        xml = zf.read("xl/worksheets/sheet1.xml").decode()
    assert '<f>HYPERLINK("https://x/1","1")</f>' in xml


def test_multi_sheet_and_structure(tmp_xlsx):
    write_xlsx(
        tmp_xlsx,
        [
            SheetSpec(name="Permits", header=["a"], rows=pa.table({"a": [1]}),
                      autofilter=True, protect=True, freeze_cols=1, col_widths=[18]),
            SheetSpec(name="Universe of Valid PINs", header=["pin"],
                      rows=pa.table({"pin": ["x"]})),
        ],
    )
    with zipfile.ZipFile(tmp_xlsx) as zf:
        assert zf.testzip() is None
        names = set(zf.namelist())
        assert {"[Content_Types].xml", "_rels/.rels", "xl/workbook.xml",
                "xl/_rels/workbook.xml.rels", "xl/styles.xml",
                "xl/worksheets/sheet1.xml", "xl/worksheets/sheet2.xml"} <= names
        s1 = zf.read("xl/worksheets/sheet1.xml").decode()
    assert "autoFilter" in s1 and "sheetProtection" in s1
    assert 'state="frozen"' in s1 and 'customWidth="1"' in s1
    second = read_xlsx(tmp_xlsx, "Universe of Valid PINs")
    assert second.rows == [["x"]]
    # sheet lookup by name must not fall through to the first sheet
    with pytest.raises(KeyError):
        read_xlsx(tmp_xlsx, "nope")


def test_save_workbook_round_trip(spark):
    """S8 -> S6: render the formatted review workbook, read it back, values
    survive (the reference's own review cycle)."""
    df = spark.createDataFrame(
        [
            ("12081000060000", "GARAGE <&> REPAIR", 1500, "2024-01-02"),
            ("00000000000001", None, None, None),
        ],
        "pin string, work string, amount int, issue_date string",
    )
    uni = spark.createDataFrame([("12081000060000",), ("1",)], "pin string")
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "review.xlsx")
        save_workbook(
            df.withColumn("errors", F.lit(None).cast("string")), p,
            specs=plain_specs(df), errors_col="errors", pin_universe=uni,
        )
        got = read_xlsx(p, "Permits")
        assert got.header == ["pin", "work", "amount", "issue_date", "Ready", "Errors"]
        assert got.rows[0] == [
            "12081000060000", "GARAGE <&> REPAIR", 1500, "2024-01-02", False, ""
        ]
        assert got.rows[1] == ["00000000000001", None, None, None, False, ""]
        pins = read_xlsx(p, "Universe of Valid PINs")
        assert pins.rows[0] == ["12081000060000", "12-08-100-006-0000"]
        assert pins.rows[1] == ["00000000000001", "00-00-000-000-0001"]


def test_save_workbook_with_specs(spark):
    """Specs drive header renames, in list order, and widths."""
    from extract_permits_spark.specs import PERMIT_COLUMNS

    cols = PERMIT_COLUMNS[:3]
    df = spark.createDataFrame(
        [tuple(f"v{i}" for i in range(len(cols) + 1))],
        ", ".join(f"{s.name} string" for s in reversed(cols)) + ", errors string",
    )
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "o.xlsx")
        save_workbook(df, p, specs=cols, errors_col="errors")
        got = read_xlsx(p, "Permits")
        with zipfile.ZipFile(p) as zf:
            xml = zf.read("xl/worksheets/sheet1.xml").decode()
        assert got.header == [s.header for s in cols] + ["Ready", "Errors"]
        assert got.rows == [["v2", "v1", "v0", False, "v3"]]
    widths = [s.width for s in cols] + [10, 40]
    for i, w in enumerate(widths, start=1):
        assert f'<col min="{i}" max="{i}" width="{w}" customWidth="1"/>' in xml


def test_reviewed_workbook_ingest(spark):
    """S7 end-to-end: write a review file with flagged PIN cells, ingest it,
    and partition on the flag — the reference's upload/QC split."""
    rows = pa.table(
        {
            "PIN* [PARID]": ["12081000060000", "99999999999999", "11111111111111"],
            "note": ["OK", "BAD", "MEH"],
            "Issue Date* [PERMDT]": [datetime(2024, 2, 1), datetime(2024, 2, 2), None],
        }
    )
    fills = {(0, 0): "FFFFFF00", (2, 0): "FF00B0F0"}  # row0 flagged, row2 not
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "reviewed.xlsx")
        write_xlsx(
            p,
            [SheetSpec(name="Permits",
                       header=rows.column_names, rows=rows, fills=fills)],
        )
        df = read_reviewed_workbook(spark, p, "Permits")
        assert df.columns == ["PIN* [PARID]", "note", "Issue Date* [PERMDT]", "is_flagged"]
        out = {r["PIN* [PARID]"]: r for r in df.collect()}
        assert out["12081000060000"]["is_flagged"] is True
        assert out["99999999999999"]["is_flagged"] is False
        assert out["11111111111111"]["is_flagged"] is False
        # all-string frame; date cells ISO-formatted
        assert out["12081000060000"]["Issue Date* [PERMDT]"] == "2024-02-01"
        flagged = flagged_rows_from_frame(df).collect()
        assert [r["PIN* [PARID]"] for r in flagged] == ["12081000060000"]
        assert without_flagged_rows(df).count() == 2


def test_presentation_frame_order(spark):
    from extract_permits_spark.specs import PERMIT_COLUMNS

    names = [s.name for s in PERMIT_COLUMNS]
    df = spark.createDataFrame(
        [tuple("x" for _ in names)], ", ".join(f"{n} string" for n in reversed(names))
    )
    out = presentation_frame(df, PERMIT_COLUMNS)
    assert out.columns == [s.header for s in PERMIT_COLUMNS]


def test_freeze_rows_and_cols_pane(tmp_xlsx):
    """r2-ADVICE: header ROW must freeze too (reference freeze_panes(1, 3)
    ⇒ xSplit=3 ySplit=1 topLeftCell=D2 activePane=bottomRight)."""
    write_xlsx(
        tmp_xlsx,
        [
            SheetSpec(
                name="S",
                header=["a", "b", "c", "d"],
                rows=pa.table({"a": ["w"], "b": ["x"], "c": ["y"], "d": ["z"]}),
                freeze_cols=3,
                freeze_rows=1,
            )
        ],
    )
    with zipfile.ZipFile(tmp_xlsx) as zf:
        xml = zf.read("xl/worksheets/sheet1.xml").decode()
    assert 'xSplit="3"' in xml
    assert 'ySplit="1"' in xml
    assert 'topLeftCell="D2"' in xml
    assert 'activePane="bottomRight"' in xml
    assert 'state="frozen"' in xml


@settings(max_examples=200, deadline=None)
@given(st.text(), st.lists(st.text(), min_size=1, max_size=4))
def test_text_cells_round_trip_any_string(head, texts):
    """Every string reads back unchanged, in the header and in data cells,
    control characters, U+FFFE/U+FFFF, CR and literal _xHHHH_ runs
    included (ECMA-376 ST_Xstring escapes); a formula cell holding the same
    text stays well-formed XML."""
    import xml.etree.ElementTree as ET

    from extract_permits_spark.sinks.xlsx_io import _unxstring

    formulas = ["=" + t + "(" for t in texts]
    rows = pa.table({"t": texts, "f": formulas})
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "text.xlsx")
        write_xlsx(p, [SheetSpec("S", [head, "f"], rows, formula_cols=frozenset({1}))])
        got = read_xlsx(p, "S")
        with zipfile.ZipFile(p) as zf:
            ws = ET.fromstring(zf.read("xl/worksheets/sheet1.xml"))
    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    assert got.header == [head, "f"]
    assert [r[0] for r in got.rows] == texts
    assert [_unxstring(f.text or "") for f in ws.iter(f"{ns}f")] == [t[1:] for t in formulas]


def test_reader_error_cells_and_missing_r(tmp_xlsx):
    """r2-ADVICE: externally-produced workbooks (the real S6 input) may
    contain t="e" error cells and cells without the optional r attribute —
    neither may crash or overwrite a neighbor."""
    import shutil

    write_xlsx(
        tmp_xlsx,
        [
            SheetSpec(
                name="S",
                header=["a", "b", "c"],
                rows=pa.table({"a": ["x"], "b": [1], "c": ["y"]}),
            )
        ],
    )
    # rewrite sheet1 with a hand-built row exercising both shapes
    hacked = tmp_xlsx + ".hacked.xlsx"
    with zipfile.ZipFile(tmp_xlsx) as zin, zipfile.ZipFile(
        hacked, "w", zipfile.ZIP_DEFLATED
    ) as zout:
        for item in zin.namelist():
            data = zin.read(item)
            if item == "xl/worksheets/sheet1.xml":
                xml = data.decode()
                row = (
                    '<row r="2">'
                    '<c r="A2" t="e"><v>#N/A</v></c>'
                    "<c><v>7</v></c>"  # no r attr: implicit column B
                    '<c t="inlineStr"><is><t>tail</t></is></c>'  # implicit C
                    "</row>"
                )
                start = xml.index('<row r="2">')
                end = xml.index("</row>", start) + len("</row>")
                data = (xml[:start] + row + xml[end:]).encode()
            zout.writestr(item, data)
    got = read_xlsx(hacked, "S")
    assert got.rows[0] == ["#N/A", 7, "tail"]
    shutil.os.remove(hacked)


def test_cond_format_and_validation_codec_round_trip(tmp_xlsx):
    """S8 extras at the codec layer: expression cfRules (dxf highlight
    fills) and dataValidation blocks survive write -> read."""
    from extract_permits_spark.sinks.xlsx_io import CondFormat, DataValidation

    write_xlsx(
        tmp_xlsx,
        [
            SheetSpec(
                name="S",
                header=["a", "b"],
                rows=pa.table({"a": ["x", "y"], "b": [1, 2]}),
                cond_formats=[
                    CondFormat("A2:B3", 'AND($B2="",$A2=FALSE)', "FFD5A8"),
                    CondFormat("A2:B3", '$B2<>""', "#FFB3B3"),  # hash form
                ],
                validations=[
                    DataValidation(
                        "A2:A3",
                        "textLength",
                        operator="between",
                        formula1="1",
                        formula2="40",
                        error_title="Invalid <A>",
                        error_message='Must be "short".',
                    ),
                    DataValidation(
                        "B2:B3",
                        "custom",
                        formula1='$A2=""',
                        allow_blank=False,
                    ),
                ],
            )
        ],
    )
    got = read_xlsx(tmp_xlsx, "S")
    assert got.rows == [["x", 1], ["y", 2]]  # values unharmed
    assert got.cond_formats == [
        {"sqref": "A2:B3", "formula": 'AND($B2="",$A2=FALSE)', "bg_color": "FFFFD5A8"},
        {"sqref": "A2:B3", "formula": '$B2<>""', "bg_color": "FFFFB3B3"},
    ]
    assert got.validations == [
        {
            "type": "textLength",
            "operator": "between",
            "sqref": "A2:A3",
            "formula1": "1",
            "formula2": "40",
            "allow_blank": True,
            "error_style": "stop",
            "error_title": "Invalid <A>",
            "error_message": 'Must be "short".',
        },
        {
            "type": "custom",
            "operator": None,
            "sqref": "B2:B3",
            "formula1": '$A2=""',
            "formula2": None,
            "allow_blank": False,
            "error_style": "stop",
            "error_title": None,
            "error_message": None,
        },
    ]
    # schema order: conditionalFormatting before dataValidations, both
    # after autoFilter/sheetProtection territory (strict readers care)
    with zipfile.ZipFile(tmp_xlsx) as zf:
        xml = zf.read("xl/worksheets/sheet1.xml").decode()
    assert xml.index("</sheetData>") < xml.index("<conditionalFormatting")
    assert xml.index("<conditionalFormatting") < xml.index("<dataValidations")


def test_save_workbook_review_mode_traffic_lights_and_validations(spark):
    """S8 review surface end-to-end: the Errors/Ready rails, the three
    traffic-light rules (ref permit_cleaning.py:1027-1053), per-spec data
    validations (:1055-1084), and the Ready-checkbox gate (:149-157)."""
    from extract_permits_spark.specs import PERMIT_COLUMNS

    df = spark.createDataFrame(
        [
            ("12081000060000", "P12345678", "1/2/2024", "1500", "1 MAIN ST",
             "CHICAGO, IL 60601", "A PERSON", "GARAGE", ""),
            ("9", "X", "bad", "0", "", "", "", "", "Missing PIN, Missing amount"),
        ],
        ", ".join(f"{s.name} string" for s in PERMIT_COLUMNS) + ", errors string",
    )
    uni = spark.createDataFrame([("12081000060000",)], "pin string")
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "review.xlsx")
        save_workbook(df, p, specs=PERMIT_COLUMNS, pin_universe=uni, errors_col="errors")
        got = read_xlsx(p, "Permits")

    assert got.header[-2:] == ["Ready", "Errors"]
    assert got.rows[0][-2:] == [False, ""]  # fresh review: unchecked, no errors
    assert got.rows[1][-1] == "Missing PIN, Missing amount"

    # traffic lights: 3 expression rules over the full data range with the
    # reference's colors, anchored on the Ready/Errors column letters
    n_cols = len(got.header)
    err_l = chr(ord("A") + n_cols - 1)
    rdy_l = chr(ord("A") + n_cols - 2)
    rng = f"A2:{err_l}3"
    assert got.cond_formats == [
        {"sqref": rng, "formula": f'AND(${err_l}2="",${rdy_l}2=FALSE)', "bg_color": "FFFFD5A8"},
        {"sqref": rng, "formula": f'${err_l}2<>""', "bg_color": "FFFFB3B3"},
        {"sqref": rng, "formula": f'AND(${rdy_l}2=TRUE,${err_l}2="")', "bg_color": "FFB8D4E8"},
    ]

    # validations: 6 spec columns + the Ready gate
    by_sqref = {v["sqref"]: v for v in got.validations}
    assert len(got.validations) == 7
    # pin: custom COUNTIF against the universe sheet, blanks NOT allowed
    pin = by_sqref["A2:A3"]
    assert pin["type"] == "custom" and not pin["allow_blank"]
    assert "Universe of Valid PINs" in pin["formula1"]
    assert "SUBSTITUTE(A2" in pin["formula1"]  # {COL} filled in
    # issue date: serial floor for 1900-01-01 (epoch 1899-12-30; the
    # pre-1900-03-01 leap-bug offset is a known, harmless quirk here)
    dt = by_sqref["C2:C3"]
    assert dt["type"] == "date" and dt["operator"] == "greaterThanOrEqual"
    assert dt["formula1"] == str(int(to_serial(date(1900, 1, 1))))
    # amount custom bounds
    assert "2147483647" in by_sqref["D2:D3"]["formula1"]
    # text-length trio
    assert by_sqref["E2:E3"] == {
        "type": "textLength", "operator": "between", "sqref": "E2:E3",
        "formula1": "1", "formula2": "40", "allow_blank": True,
        "error_style": "stop", "error_title": "Invalid Address",
        "error_message": "Address must be between 1 and 40 characters.",
    }
    assert by_sqref["G2:G3"]["formula2"] == "50"
    assert by_sqref["H2:H3"]["formula2"] == "2000"
    # Ready gate: custom formula anchored on the Errors column
    rdy = by_sqref[f"{rdy_l}2:{rdy_l}3"]
    assert rdy["type"] == "custom" and rdy["formula1"] == f'${err_l}2=""'
    assert rdy["error_title"] == "Errors not resolved"


def test_save_workbook_upload_variant_skips_ready_gate(spark):
    """The pre-checked upload variant skips the checkbox validation so
    Excel won't reset it on open (ref :1061-1065); without a universe
    sheet the PIN COUNTIF is withheld too."""
    from extract_permits_spark.specs import PERMIT_COLUMNS

    df = spark.createDataFrame(
        [("12081000060000", "P12345678", "1/2/2024", "1500", "1 MAIN ST",
          "CHICAGO, IL 60601", "A PERSON", "GARAGE", "")],
        ", ".join(f"{s.name} string" for s in PERMIT_COLUMNS) + ", errors string",
    )
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "upload.xlsx")
        save_workbook(df, p, specs=PERMIT_COLUMNS, errors_col="errors", checked=True)
        got = read_xlsx(p, "Permits")
    assert got.rows[0][-2] is True  # pre-checked Ready
    sqrefs = {v["sqref"] for v in got.validations}
    assert len(got.validations) == 5  # no Ready gate, no PIN universe rule
    assert "A2:A2" not in sqrefs
    assert not any(v["error_title"] == "Errors not resolved" for v in got.validations)


def test_save_workbook_source_text_never_becomes_formula(spark):
    """Source text that looks like a formula (a work description reading
    =HYPERLINK(...)) is written as a text cell and round-trips as that
    string: only the engine-built link columns render as formulas."""
    from extract_permits_spark.specs import PERMIT_COLUMNS

    text = '=HYPERLINK("http://evil.example","fix permit")'
    df = spark.createDataFrame(
        [("12081000060000", "P12345678", "1/2/2024", "1500", "1 MAIN ST",
          "CHICAGO, IL 60601", "A PERSON", text, "")],
        ", ".join(f"{s.name} string" for s in PERMIT_COLUMNS) + ", errors string",
    )
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "review.xlsx")
        save_workbook(df, p, specs=PERMIT_COLUMNS, errors_col="errors")
        got = read_xlsx(p, "Permits")
        with zipfile.ZipFile(p) as zf:
            xml = zf.read("xl/worksheets/sheet1.xml").decode()
    assert got.rows[0][got.header.index("Notes [NOTE1]")] == text
    assert "<f>" not in xml


def test_save_workbook_link_column_writes_formula(spark):
    """The engine-built P11 ``pin_link`` value still renders as a live
    HYPERLINK formula cell."""
    link = '=HYPERLINK("https://www.cookcountyassessor.com/pin/12081000060000", "12081000060000")'
    df = spark.createDataFrame([("12081000060000", link)], "pin string, pin_link string")
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "links.xlsx")
        save_workbook(
            df.withColumn("errors", F.lit("")), p, specs=plain_specs(df), errors_col="errors"
        )
        got = read_xlsx(p, "Permits")
        with zipfile.ZipFile(p) as zf:
            xml = zf.read("xl/worksheets/sheet1.xml").decode()
    assert got.header == ["pin", "pin_link", "Ready", "Errors"]
    assert '<c r="B2"><f>HYPERLINK("https://www.cookcountyassessor.com/pin/' in xml


def test_save_workbook_formula_cells_follow_the_engine_name(spark):
    """Formula cells follow a spec's engine name, not its header: a
    ``pin_link`` column shown as "PIN Link" still renders its HYPERLINK
    as a formula cell, and a text column headed "pin_link" does not."""
    link = '=HYPERLINK("https://www.cookcountyassessor.com/pin/12081000060000", "12081000060000")'
    df = spark.createDataFrame(
        [(link, link, "")], "pin_link string, work_description string, errors string"
    )
    specs = [
        ColumnSpec("pin_link", "PIN Link", src="pin_link"),
        ColumnSpec("work_description", "pin_link", src="work_description"),
    ]
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "links.xlsx")
        save_workbook(df, p, specs=specs, errors_col="errors")
        got = read_xlsx(p, "Permits")
        with zipfile.ZipFile(p) as zf:
            xml = zf.read("xl/worksheets/sheet1.xml").decode()
    assert got.header == ["PIN Link", "pin_link", "Ready", "Errors"]
    assert f'<c r="A2"><f>{link[1:]}</f>' in xml
    assert got.rows[0][1] == link
    assert xml.count("<f>") == 1


def test_save_workbook_timestamps_keep_session_wall_time(spark):
    """Arrow collects timestamps as UTC instants; the sink writes the
    session's wall-clock time, the serial of the value the session shows."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Chicago")
    try:
        df = spark.createDataFrame([("2024-03-10 01:30:00",), (None,)], "t string").select(
            F.to_timestamp("t").alias("ts"), F.to_date("t").alias("d")
        )
        shown = df.toPandas()
        with tempfile.TemporaryDirectory() as d:
            p = os.path.join(d, "ts.xlsx")
            save_workbook(
                df.withColumn("errors", F.lit("")), p, specs=plain_specs(df), errors_col="errors"
            )
            header = read_xlsx(p, "Permits").header
            with zipfile.ZipFile(p) as zf:
                xml = zf.read("xl/worksheets/sheet1.xml").decode()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert shown["ts"][0] == datetime(2024, 3, 10, 1, 30)
    want_ts = to_serial(datetime(2024, 3, 10, 1, 30))
    want_d = to_serial(date(2024, 3, 10))
    assert header == ["ts", "d", "Ready", "Errors"]
    assert f"<v>{want_ts}</v>" in xml and f"<v>{want_d}</v>" in xml
    assert '<c r="A3"' not in xml and '<c r="B3"' not in xml  # the nulls stay empty


def test_save_workbook_nullable_int_stays_integer(spark):
    """A nullable integer column is written as integers (1500), not
    upcast to float (1500.0)."""
    df = spark.createDataFrame([(1500,), (None,)], "amount int")
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "ints.xlsx")
        save_workbook(
            df.withColumn("errors", F.lit("")), p, specs=plain_specs(df), errors_col="errors"
        )
        header = read_xlsx(p, "Permits").header
        with zipfile.ZipFile(p) as zf:
            xml = zf.read("xl/worksheets/sheet1.xml").decode()
    assert header == ["amount", "Ready", "Errors"]
    assert '<c r="A2"><v>1500</v></c>' in xml


# XML-legal text with the characters the formula rule turns on
CELL_TEXT = st.text(alphabet=list("ab<>&=(\"' \t\n") + ["\xa0", "é", "　"], max_size=8)
FORMULA_LIKE = st.one_of(
    CELL_TEXT,
    st.builds(lambda t: f'=HYPERLINK("https://x/{t}", "{t}")', CELL_TEXT),
    st.builds(lambda t: "=" + t + "(", CELL_TEXT),
    st.sampled_from(["=no paren", "(=late", "=(", "=", ""]),
)
FORMULA_RULE_COLUMNS = ["cookviewer_link", "pin_link", "work_description", "applicant"]


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(*[st.one_of(st.none(), FORMULA_LIKE)] * len(FORMULA_RULE_COLUMNS)),
        min_size=1,
        max_size=6,
    )
)
def test_save_workbook_formula_cells_only_in_link_columns(spark, rows):
    """A text that starts with '=' and holds '(' is written as a formula
    cell (without the '=') in the link columns only; the same text in any
    other column, and every other text anywhere, reads back as the same
    string."""
    import xml.etree.ElementTree as ET

    df = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in FORMULA_RULE_COLUMNS))
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "formulas.xlsx")
        save_workbook(
            df.withColumn("errors", F.lit("")), p, specs=plain_specs(df), errors_col="errors"
        )
        got = read_xlsx(p)
        with zipfile.ZipFile(p) as zf:
            ws = ET.fromstring(zf.read("xl/worksheets/sheet1.xml"))
    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    formulas = {c.get("r"): c.find(f"{ns}f") for c in ws.iter(f"{ns}c")}
    assert got.header == FORMULA_RULE_COLUMNS + ["Ready", "Errors"]
    for ri, row in enumerate(rows):
        for ci, (name, text) in enumerate(zip(FORMULA_RULE_COLUMNS, row)):
            f = formulas.get(f"{'ABCD'[ci]}{ri + 2}")
            if name in LINK_COLUMNS and text and text.startswith("=") and "(" in text:
                assert f is not None and (f.text or "") == text[1:], (name, text)
            else:
                assert f is None, (name, text)
                assert got.rows[ri][ci] == text, (name, text)
