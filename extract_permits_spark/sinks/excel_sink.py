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
    format_reviewed_permits_for_upload.py:39-83): ARGB match, RGB-without-
    alpha match, or theme+tint match with tint rounded to 6dp."""
    if fill is None:
        return False
    if isinstance(fill, str):
        val = fill.upper().lstrip("#")
        if val in FLAG_FILL_COLORS:
            return True
        return len(val) == 8 and val[2:] in {c for c in FLAG_FILL_COLORS if isinstance(c, str)}
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
    """Project engine columns to presentation headers in col_idx order,
    followed by ``extra`` — the data-side half of save_xlsx_file."""
    ordered = sorted(specs, key=lambda s: s.col_idx)
    return df.select(*[F.col(s.name).alias(s.header) for s in ordered], *extra)


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
    specs=None,
    pin_universe: DataFrame | None = None,
    errors_col: str | None = None,
    checked: bool = False,
) -> None:
    """S8: render a (small, already review-sized) DataFrame to a formatted
    xlsx on the driver — bold frozen header (header ROW frozen too,
    matching the reference's freeze_panes(1, FREEZE_COLS)), per-spec
    column widths,
    autofilter, protected sheet, plus the 'Universe of Valid PINs' sheet
    with zero-padded + hyphenated PINs (save_xlsx_file,
    chicago/permit_cleaning.py:911-1135). Both sheets are collected with
    one Arrow pass each and rendered column by column (``xlsx_io``).
    Cells of the engine-built link columns (LINK_COLUMNS, P10/P11) whose
    value starts with '=' are written as formula cells, like the
    reference's write_formula branch (:992-1001); every other string is
    written as text.

    Review-workbook extras (S8 presentation surface): pass ``errors_col``
    (the E2 message column) to append 'Ready' + 'Errors' presentation
    columns and emit the reference's status traffic lights
    (TRAFFIC_LIGHT_RULES, ref :1027-1053) plus per-column data validations
    from ``ColumnSpec.validation`` and the Ready-checkbox gate
    (ref :149-157, :1055-1084), each over its column's data range with
    {COL}/{ERRORS_COL} filled with column letters (ref :1070-1077). Every
    row's checkbox gets ``checked`` (the reference's upload variant
    pre-checks all rows and then SKIPS the checkbox validation so Excel
    won't reset it on open, ref :1061-1065).
    """
    review_mode = errors_col is not None
    # reference column layout puts Ready at col 1; engine-side the two
    # status rails ride at the end so spec col_idx stays contiguous
    status = (
        [
            F.lit(bool(checked)).alias("Ready"),
            F.coalesce(F.col(errors_col).cast("string"), F.lit("")).alias("Errors"),
        ]
        if review_mode
        else []
    )
    widths = None
    validation_specs: list[tuple[int, dict]] = []
    if specs is not None:
        ordered = sorted(specs, key=lambda s: s.col_idx)
        widths = [s.width for s in ordered] + ([10, 40] if review_mode else [])
        validation_specs = [(i, s.validation) for i, s in enumerate(ordered) if s.validation]
        df = presentation_frame(df, specs, *status)
    elif review_mode:
        df = df.select(*[c for c in df.columns if c != errors_col], *status)
    header = list(df.columns)
    table = _collect(df)
    n_rows = table.num_rows

    cond_formats: list[CondFormat] = []
    validations: list[DataValidation] = []
    if review_mode and n_rows:  # reference gates on n_data_rows > 0 (:1028)
        errors_letter = _col_letter(header.index("Errors"))
        ready_letter = _col_letter(header.index("Ready"))
        data_range = f"A2:{_col_letter(len(header) - 1)}{n_rows + 1}"
        cond_formats = [
            CondFormat(
                data_range,
                formula.format(ERRORS_COL=errors_letter, READY_COL=ready_letter),
                color,
            )
            for formula, color in TRAFFIC_LIGHT_RULES
        ]
        if not checked:
            # upload variant skips the checkbox gate (ref :1061-1065)
            validation_specs.append((header.index("Ready"), READY_VALIDATION))
        for ci, v in validation_specs:
            # the PIN universe COUNTIF references the universe sheet; only
            # emit it when that sheet is being written
            if pin_universe is None and "Universe of Valid PINs" in v.get("formula1", ""):
                continue
            col = _col_letter(ci)
            formulas = {
                k: v[k].format(COL=col, ERRORS_COL=errors_letter)
                for k in ("formula1", "formula2")
                if k in v
            }
            validations.append(DataValidation(f"{col}2:{col}{n_rows + 1}", **(v | formulas)))

    sheets = [
        SheetSpec(
            name="Permits",
            header=header,
            rows=table,
            col_widths=widths,
            freeze_cols=min(3, len(header)),
            freeze_rows=1,
            autofilter=True,
            protect=True,
            cond_formats=cond_formats,
            validations=validations,
            formula_cols=frozenset(i for i, h in enumerate(header) if h in LINK_COLUMNS),
        )
    ]
    if pin_universe is not None:
        # zero-pad to 14; a longer value is kept whole, never truncated
        pin = F.col(pin_universe.columns[0]).cast("string")
        padded = F.when(F.length(pin) < 14, F.lpad(pin, 14, "0")).otherwise(pin)
        universe = pin_universe.select(padded.alias("pin")).select(
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
