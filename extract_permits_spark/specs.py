"""ColumnSpec registry — the declarative centerpiece (SURVEY.md §1.1/§2.9).

The reference's ``PERMIT_COLUMNS`` dict-of-dicts
(chicago/permit_cleaning.py:63-131 doc, :133-406 registry) carries, per
output column: position, header, source-column name, warehouse name,
validation rules (in *two* kept-in-sync rails: an Excel error formula and a
Python validator, :117-124), and presentation metadata.

Here one ``ColumnSpec`` compiles to everything downstream:
- the registry projection with renames (P1, ``organize_columns``),
- a ``Column`` error message (E2) and, derived from it, the validation
  predicate (E1) — a *single* rail, so the reference's dual-rail sync
  contract (E4) becomes a non-issue by construction; a property test
  still asserts predicate ⇔ message-nullity,
- the presentation headers, widths and cell validations of the xlsx sink.

The warehouse names are not restated here: the warehouse mapping is
``operators/dedup.canonicalize_for_dedup`` / ``KEYS``.

Everything compiles to pure expressions — validation of a billion rows is a
codegen'd scan, not a Python loop.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# A rule is (error_message, predicate_builder); predicate True ⇒ INVALID.
Rule = tuple[str, Callable[[Column], Column]]


@dataclass(frozen=True)
class ColumnSpec:
    col_idx: int
    name: str  # canonical engine name
    header: str  # presentation header (xlsx sink)
    src: str | None = None  # ingest column (city_name analog)
    dtype: T.DataType = field(default_factory=T.StringType)
    rules: Sequence[Rule] = ()
    width: int | None = None  # sink metadata
    # S8 cell-edit guard for the review workbook, mirroring the reference's
    # per-column "validation" blocks (chicago/permit_cleaning.py:149-157,
    # 182-196,241-256,279-289,308-316,351-361,379-389): the ECMA-376
    # <dataValidation> fields of sinks/xlsx_io.DataValidation (type,
    # operator, formula1, formula2, allow_blank, error_title,
    # error_message), those equal to its defaults left out. Formulas have
    # no leading "="; sinks/excel_sink.save_workbook fills {COL}/
    # {ERRORS_COL} with column letters (:1070-1077) and the sqref.
    validation: dict | None = None

    def error_message(self) -> Column:
        """E2: per-column error string — concat_ws skips NULLs exactly like
        the reference's TEXTJOIN(…, TRUE, …) formula
        (chicago/permit_cleaning.py:897-908)."""
        parts = [
            F.when(pred(F.col(self.name)), F.lit(msg)) for msg, pred in self.rules
        ]
        return F.concat_ws(", ", *parts) if parts else F.lit("")


# --- rule builders (each mirrors a reference validator; True ⇒ invalid) ----


def required(c: Column) -> Column:
    # reference: "Missing PIN" etc., chicago/permit_cleaning.py:171-181
    return c.isNull() | (F.trim(c.cast("string")) == "")


def not_exact_digits(n: int) -> Callable[[Column], Column]:
    # reference: "PIN is not 14 digits" :171-175 + R regex ^\d{14}$
    # (legacy_permits/helper.R:101-103)
    return lambda c: c.isNotNull() & ~c.rlike(rf"^\d{{{n}}}$")


def longer_than(n: int) -> Callable[[Column], Column]:
    # reference: "Address > 40 characters" :233-240, note ≤2000, name ≤50
    # (legacy_permits/helper.py:128-138)
    return lambda c: F.length(c) > n


def length_not_in(ns: Sequence[int]) -> Callable[[Column], Column]:
    # reference: permit-no length ∈ {9,10} (legacy_permits/helper.py:122-127)
    return lambda c: c.isNotNull() & ~F.length(c).isin(*ns)


def not_numeric_in_bounds(lo: int, hi: int) -> Callable[[Column], Column]:
    # reference: "Amount must be at least 1" / ≤ INT32_MAX
    # (chicago/permit_cleaning.py:298-315, legacy_permits/helper.py:139-144)
    def rule(c: Column) -> Column:
        v = c.cast("string").try_cast("double")
        return c.isNotNull() & (v.isNull() | (v < lo) | (v > hi))

    return rule


def not_parseable_date(fmt: str | None = None) -> Callable[[Column], Column]:
    # reference: issue-date validator chicago/permit_cleaning.py:275-278
    def rule(c: Column) -> Column:
        parsed = (
            F.try_to_timestamp(c.cast("string"), F.lit(fmt))
            if fmt
            else F.try_to_timestamp(c.cast("string"))
        )
        return c.isNotNull() & parsed.isNull()

    return rule


INT32_MAX = 2_147_483_647

# The permit registry (engine-canonical subset of the reference's
# PERMIT_COLUMNS, chicago/permit_cleaning.py:133-406).
PERMIT_COLUMNS: list[ColumnSpec] = [
    ColumnSpec(
        0,
        "pin",
        "PIN* [PARID]",
        src="solo_pin",
        rules=[
            ("Missing PIN", required),
            ("PIN is not 14 digits", not_exact_digits(14)),
        ],
        width=18,
        # reference :182-196 — membership in the universe sheet, hyphens
        # stripped on the 14-digit column, hyphenated form on the display
        # column
        validation={
            "type": "custom",
            "formula1": (
                "OR("
                "COUNTIF('Universe of Valid PINs'!$A:$A,"
                'SUBSTITUTE({COL}2,"-",""))>0,'
                "COUNTIF('Universe of Valid PINs'!$B:$B,{COL}2)>0"
                ")"
            ),
            "allow_blank": False,
            "error_title": "Invalid PIN",
            "error_message": (
                "PIN must be 14 digits (hyphens excluded) and exist in "
                "the Universe of Valid PINs."
            ),
        },
    ),
    ColumnSpec(
        1,
        "permit_number",
        "Local Permit No.* [USER28]",
        src="permit_",
        rules=[
            ("Missing permit number", required),
            ("Permit number must be 9-10 characters", length_not_in((9, 10))),
        ],
        width=14,
    ),
    ColumnSpec(
        2,
        "issue_date",
        "Issue Date* [PERMDT]",
        src="issue_date",
        rules=[
            ("Missing issue date", required),
            # display format m/d/Y — the reference validates the displayed
            # date string (chicago/permit_cleaning.py:275-278)
            ("Issue date is not a valid date", not_parseable_date("M/d/yyyy")),
        ],
        width=12,
        # reference :279-289 — Excel-side date floor
        validation={
            "type": "date",
            "operator": "greaterThanOrEqual",
            # 1900-01-01 as the serial xlsx_io.to_serial gives it (epoch
            # 1899-12-30; Excel's pre-1900-03-01 leap-year bug makes it
            # serial 1 in Excel itself — harmless for a floor)
            "formula1": "2",
            "error_title": "Invalid Date",
            "error_message": "Issue Date must be a valid date.",
        },
    ),
    ColumnSpec(
        3,
        "amount",
        "Amount* [AMOUNT]",
        src="reported_cost",
        rules=[
            ("Missing amount", required),
            ("Amount must be at least 1", not_numeric_in_bounds(1, INT32_MAX)),
        ],
        width=12,
        # reference :308-316 — numeric whole-dollar bounds
        validation={
            "type": "custom",
            "formula1": "AND(ISNUMBER({COL}2),{COL}2>=1,{COL}2<=2147483647)",
            "error_title": "Invalid Amount",
            "error_message": (
                "Amount must be a whole number between 1 and 2,147,483,647."
            ),
        },
    ),
    ColumnSpec(
        4,
        "applicant_street_address",
        "Applicant Street Address* [ADDR1]",
        src="address",
        rules=[
            ("Missing address", required),
            ("Address > 40 characters", longer_than(40)),
        ],
        width=30,
        # reference :241-256 — iasWorld ADDR1 field cap
        validation={
            "type": "textLength",
            "operator": "between",
            "formula1": "1",
            "formula2": "40",
            "error_title": "Invalid Address",
            "error_message": "Address must be between 1 and 40 characters.",
        },
    ),
    ColumnSpec(
        5,
        "city_state",
        "Applicant City, State, Zip* [ADDR3]",
        src="city_state",
        rules=[("Missing city/state", required)],
        width=18,
    ),
    ColumnSpec(
        6,
        "applicant",
        "Applicant* [USER21]",
        src="contact_1_name",
        rules=[
            ("Missing applicant", required),
            ("Applicant > 50 characters", longer_than(50)),
        ],
        width=24,
        # reference :379-389 — USER21 field cap
        validation={
            "type": "textLength",
            "operator": "between",
            "formula1": "1",
            "formula2": "50",
            "error_title": "Invalid Applicant",
            "error_message": "Applicant must be between 1 and 50 characters.",
        },
    ),
    ColumnSpec(
        7,
        "work_description",
        "Notes [NOTE1]",
        src="work_description",
        rules=[("Description > 2000 characters", longer_than(2000))],
        width=60,
        # reference :351-361 — NOTE1 field cap
        validation={
            "type": "textLength",
            "operator": "between",
            "formula1": "1",
            "formula2": "2000",
            "error_title": "Invalid Work Description",
            "error_message": (
                "Work Description must be between 1 and 2000 characters."
            ),
        },
    ),
]

# registry invariant: contiguous 0-based col_idx
# (reference assert chicago/permit_cleaning.py:411-424)
assert [s.col_idx for s in PERMIT_COLUMNS] == list(range(len(PERMIT_COLUMNS)))


def organize_columns(
    df: DataFrame,
    specs: Sequence[ColumnSpec] = PERMIT_COLUMNS,
    keep_extra: Sequence[str] = (),
) -> DataFrame:
    """P1: keep only registry columns (renamed from src), add missing as
    NULL, order by col_idx. Reference: organize_columns
    chicago/permit_cleaning.py:643-665. ``keep_extra`` carries pass-through
    columns (e.g. the explode position tag) the registry doesn't own."""
    have = set(df.columns)
    cols = []
    for s in sorted(specs, key=lambda s: s.col_idx):
        if s.src and s.src in have:
            cols.append(F.col(s.src).alias(s.name))
        elif s.name in have:
            cols.append(F.col(s.name))
        else:
            cols.append(F.lit(None).cast(s.dtype).alias(s.name))
    cols += [F.col(c) for c in keep_extra if c in have]
    return df.select(*cols)


def compile_validation(specs: Sequence[ColumnSpec] = PERMIT_COLUMNS) -> Column:
    """E1+E2 compiler: the ``errors`` message column, every failed rule's
    message joined by ", " ('' when the row is valid).

    operators/validate.with_validation derives ``has_error`` from the
    staged column rather than from a second disjunction of the same
    predicates — the reference keeps two rails in sync by convention
    (chicago/permit_cleaning.py:117-124); deriving one from the other
    makes E4 true by construction AND halves rule evaluation."""
    msgs = [s.error_message() for s in specs if s.rules]
    return F.concat_ws(", ", *[F.nullif(m, F.lit("")) for m in msgs])
