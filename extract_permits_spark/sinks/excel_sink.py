"""Driver-side Excel presentation sink + reviewed-workbook ingest
(SURVEY.md §2.1 S6-S10).

The reference's signature output is a formatted review workbook
(save_xlsx_file, chicago/permit_cleaning.py:911-1135): per-column
widths/formats, frozen header, autofilter, hyperlink formulas, sheet
protection, plus a PIN-universe sheet with hyphenated PINs (:1127-1131).
Its signature *input* is the reviewed workbook where the reviewer flags
rows by coloring the PIN cell (format_reviewed_permits_for_upload.py:
31-83 flag colors, :123-204 value read).

Design split: everything *data* (error messages E2, links P10/P11,
hyphenated PINs) is computed engine-side as real columns; this module
renders and ingests via the pure-stdlib codec in ``xlsx_io`` (openpyxl
is not installed in this container — and is not needed: xlsx is
zip+XML). Render/ingest are inherently driver-side, bounded by the
review-file cardinality (250 rows/file batch cap, S9).
"""

from __future__ import annotations

from datetime import datetime

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from extract_permits_spark.operators.clean import universe_pin
from extract_permits_spark.sinks.xlsx_io import (
    CondFormat,
    DataValidation,
    SheetSpec,
    _col_letter,
    read_xlsx,
    write_xlsx,
)

# Status traffic lights over the data range (reference
# chicago/permit_cleaning.py:1027-1053): formula -> bg color, priority in
# list order. {ERRORS_COL}/{READY_COL} are filled with column letters.
TRAFFIC_LIGHT_RULES = [
    # no errors, unchecked -> orange
    ('AND(${ERRORS_COL}2="",${READY_COL}2=FALSE)', "FFD5A8"),
    # has errors -> red
    ('${ERRORS_COL}2<>""', "FFB3B3"),
    # ready -> blue
    ('AND(${READY_COL}2=TRUE,${ERRORS_COL}2="")', "B8D4E8"),
]

# Ready-checkbox gate (reference :149-157): checking the box is blocked
# while the row still has errors. Same fields as ColumnSpec.validation.
READY_VALIDATION = {
    "type": "custom",
    "formula1": '${ERRORS_COL}2=""',
    "error_title": "Errors not resolved",
    "error_message": "This row still has errors. Fix them before marking ready.",
}

# Reviewer flag fills on the PIN cell
# (format_reviewed_permits_for_upload.py:31-37): yellow, orange, and one
# theme-encoded variant of the same orange that round-trips through Excel
# as (theme 7, tint 0.39998).
FLAG_FILL_COLORS = {
    "FFFFFF00",  # yellow (ARGB)
    "FFFFC000",  # orange (ARGB)
    ("theme", 7, 0.3999755851924192),
}


def fill_matches_flag(fill: object) -> bool:
    """True if a cell-fill descriptor from ``xlsx_io.read_xlsx`` is one of
    the reviewer flag colors (pin_cell_matches_flag,
    format_reviewed_permits_for_upload.py:39-83): ARGB match, or
    theme+tint match with tint rounded to 6dp."""
    if fill is None:
        return False
    if isinstance(fill, str):
        return fill.upper().lstrip("#") in FLAG_FILL_COLORS
    if isinstance(fill, tuple) and len(fill) == 3 and fill[0] == "theme":
        want = {
            (t[0], t[1], round(t[2], 6))
            for t in FLAG_FILL_COLORS
            if isinstance(t, tuple)
        }
        return ("theme", fill[1], round(float(fill[2]), 6)) in want
    return False


def hyphenated_pin(c: Column | str) -> Column:
    """14-digit PIN → '12-34-567-890-1234' (universe-sheet display;
    reference chicago/permit_cleaning.py:1127-1131)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.concat_ws(
        "-",
        F.substring(c, 1, 2),
        F.substring(c, 3, 2),
        F.substring(c, 5, 3),
        F.substring(c, 8, 3),
        F.substring(c, 11, 4),
    )


# Columns that hold engine-built HYPERLINK formulas (P10 cookviewer_link,
# P11 pin_link, plans/permits.clean_permits). Only these render as formula
# cells: any other string is text, so source text such as a work
# description reading "=HYPERLINK(...)" can never become a live formula.
LINK_COLUMNS = frozenset({"cookviewer_link", "pin_link"})


def presentation_frame(df: DataFrame, specs, *extra: Column) -> DataFrame:
    """Project engine columns to presentation headers in ``specs`` order,
    followed by ``extra`` — the data-side half of save_xlsx_file."""
    return df.select(*[F.col(s.name).alias(s.header) for s in specs], *extra)


def _collect(df: DataFrame) -> pa.Table:
    """Collect through Arrow. ``toArrow`` tags timestamps UTC; re-tag them
    with the session time zone so cells hold session wall-clock time."""
    table = df.toArrow()
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    for i, f in enumerate(table.schema):
        if pa.types.is_timestamp(f.type) and f.type.tz is not None:
            zoned = table.column(i).cast(pa.timestamp(f.type.unit, tz))
            table = table.set_column(i, f.name, zoned)
    return table


def save_workbook(
    df: DataFrame,
    path: str,
    specs,
    errors_col: str,
    pin_universe: DataFrame | None = None,
    checked: bool = False,
) -> None:
    """S8: render a (small, already review-sized) DataFrame to the
    reference's review workbook on the driver (save_xlsx_file,
    chicago/permit_cleaning.py:911-1135), collected with one Arrow pass
    per sheet and rendered column by column (``xlsx_io``). 'Permits' holds
    the ``specs`` columns (headers, widths) in list order, then 'Ready'
    (every box ``checked``) and 'Errors' (``errors_col``, the E2 messages);
    bold header, frozen header row and three columns, autofilter,
    protection. A spec whose engine name is in LINK_COLUMNS (P10/P11)
    writes a value starting with '=' as a formula cell (write_formula,
    :992-1001); every other string is text. Over the data rows: the
    traffic lights (:1027-1053), each spec's ``validation`` and the
    Ready-checkbox gate (:149-157, :1055-1084), {COL}/{ERRORS_COL} filled
    with column letters (:1070-1077); the pre-checked upload variant skips
    the gate so Excel won't reset it on open (:1061-1065). ``pin_universe``
    adds the 'Universe of Valid PINs' sheet, keyed by ``clean.universe_pin``
    and hyphenated (:1127-1131); without it the PIN validation that reads
    that sheet is left out.
    """
    # reference column layout puts Ready at col 1; engine-side the two
    # status rails ride at the end, after the spec columns in list order
    ready, errors = _col_letter(len(specs)), _col_letter(len(specs) + 1)
    messages = F.coalesce(F.col(errors_col).cast("string"), F.lit(""))
    table = _collect(
        presentation_frame(df, specs, F.lit(checked).alias("Ready"), messages.alias("Errors"))
    )
    n_rows = table.num_rows
    cond_formats: list[CondFormat] = []
    validations: list[DataValidation] = []
    if n_rows:  # reference gates on n_data_rows > 0 (:1028)
        cond_formats = [
            CondFormat(f"A2:{errors}{n_rows + 1}", f.format(ERRORS_COL=errors, READY_COL=ready), c)
            for f, c in TRAFFIC_LIGHT_RULES
        ]
        guards = [(i, s.validation) for i, s in enumerate(specs) if s.validation]
        for ci, v in guards + ([] if checked else [(len(specs), READY_VALIDATION)]):
            if pin_universe is None and "Universe of Valid PINs" in v.get("formula1", ""):
                continue
            col = _col_letter(ci)
            formulas = {
                k: v[k].format(COL=col, ERRORS_COL=errors)
                for k in ("formula1", "formula2")
                if k in v
            }
            validations.append(DataValidation(f"{col}2:{col}{n_rows + 1}", **(v | formulas)))

    sheets = [
        SheetSpec(
            name="Permits",
            header=table.column_names,
            rows=table,
            col_widths=[s.width for s in specs] + [10, 40],
            freeze_cols=3,
            freeze_rows=1,
            autofilter=True,
            protect=True,
            cond_formats=cond_formats,
            validations=validations,
            formula_cols=frozenset(i for i, s in enumerate(specs) if s.name in LINK_COLUMNS),
        )
    ]
    if pin_universe is not None:
        universe = pin_universe.select(universe_pin(pin_universe.columns[0]).alias("pin")).select(
            "pin", hyphenated_pin("pin").alias("pin_hyphenated")
        )
        sheets.append(
            SheetSpec(
                name="Universe of Valid PINs",
                header=["pin", "pin_hyphenated"],
                rows=_collect(universe),
                col_widths=[16, 20],
                protect=True,
            )
        )
    write_xlsx(path, sheets)


def read_reviewed_workbook(
    spark: SparkSession,
    path: str,
    sheet_name: str | None = None,
    pin_header: str = "PIN* [PARID]",
) -> DataFrame:
    """S6+S7: ingest a reviewed workbook — every cell as a string column
    (the reference reads all columns for QC, format_reviewed_permits_for_
    upload.py:123-204) plus an ``is_flagged`` boolean derived from the PIN
    cell's fill color (:39-83). Dates render back as ISO strings so the
    frame is uniformly string-typed like the reference's upload frame."""
    sheet = read_xlsx(path, sheet_name)
    try:
        pin_idx = sheet.header.index(pin_header)
    except ValueError:
        pin_idx = None

    def fmt(v: object) -> str | None:
        if v is None:
            return None
        if isinstance(v, datetime):
            if v.time() == v.time().min:
                return v.date().isoformat()
            return v.isoformat(sep=" ")
        if isinstance(v, bool):
            return str(v)
        if isinstance(v, float) and v == int(v):
            return str(int(v))
        return str(v)

    records = []
    for row, fills in zip(sheet.rows, sheet.fills):
        rec = {h: fmt(v) for h, v in zip(sheet.header, row)}
        rec["is_flagged"] = pin_idx is not None and fill_matches_flag(fills.get(pin_idx))
        records.append(rec)

    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField(h, T.StringType()) for h in sheet.header]
        + [T.StructField("is_flagged", T.BooleanType())]
    )
    return spark.createDataFrame(records, schema)


def flagged_rows_from_frame(df: DataFrame, flag_col: str = "is_flagged") -> DataFrame:
    """S7/S10 engine half: keep reviewer-flagged rows (the upload set,
    format_reviewed_permits_for_upload.py:171-183)."""
    return df.where(F.coalesce(F.col(flag_col), F.lit(False)))


def without_flagged_rows(df: DataFrame, flag_col: str = "is_flagged") -> DataFrame:
    """S10: reference deletes flagged rows bottom-up in the workbook copy
    (:86-120); engine-side it is an anti-filter."""
    return df.where(~F.coalesce(F.col(flag_col), F.lit(False)))
