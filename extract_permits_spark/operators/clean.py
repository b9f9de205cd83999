"""Scalar cleaning expressions (SURVEY.md §2.2, P1-P17).

Every function here is a pure ``Column -> Column`` (or DataFrame ->
DataFrame) expression builder using only ``pyspark.sql.functions`` — no
Python UDFs — so the whole chain stays inside WholeStageCodegen and Catalyst
can push, prune, and fold freely. Each builder cites the reference behavior
it reproduces (path:line into /root/reference).
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# P2 — multi-column concat (address assembly).
# Reference: chicago/permit_cleaning.py:635-637 — fillna('') then
# ' '.join(...): empty parts are preserved (double spaces possible), unlike
# bare concat_ws which skips NULLs. We replicate fillna-then-join exactly.
# ---------------------------------------------------------------------------


def assemble_address(*parts: Column | str) -> Column:
    cols = [F.coalesce(F.col(p) if isinstance(p, str) else p, F.lit("")) for p in parts]
    return F.concat_ws(" ", *cols)


# ---------------------------------------------------------------------------
# P3 — date parse + reformat with coercion.
# Reference: chicago/permit_cleaning.py:639-641 (errors='coerce' → NULL).
# ---------------------------------------------------------------------------

ISO_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
DISPLAY_DATE_FMT = "M/d/yyyy"


def parse_and_display_date(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.date_format(F.try_to_timestamp(c, F.lit(ISO_TS_FMT)), DISPLAY_DATE_FMT)


# ---------------------------------------------------------------------------
# P4 — PIN normalize, main path: strip '-', 10-digit → +'0000', NA → ''.
# Reference: format_pin, chicago/permit_cleaning.py:615-630.
# P4 is ``pad_stripped_pin(strip_pin(c))``; clean_permits stages the
# stripped form as a column (it feeds three branches of the padding).
# ---------------------------------------------------------------------------


def strip_pin(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.regexp_replace(c, "-", "")


def pad_stripped_pin(stripped: Column | str) -> Column:
    stripped = F.col(stripped) if isinstance(stripped, str) else stripped
    padded = F.when(F.length(stripped) == 10, F.concat(stripped, F.lit("0000"))).otherwise(
        stripped
    )
    return F.coalesce(padded, F.lit(""))


# ---------------------------------------------------------------------------
# P5 — PIN normalize, legacy 4-case: digits only; 13→lead 0; 10→trail 0000;
# 9→both. Reference: chicago/legacy_permits/helper.py:42-58 (R twin
# helper.R:66-83).
# ---------------------------------------------------------------------------


def normalize_pin_legacy(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    d = F.regexp_replace(c, "[^0-9]", "")
    return (
        F.when(F.length(d) == 13, F.concat(F.lit("0"), d))
        .when(F.length(d) == 10, F.concat(d, F.lit("0000")))
        .when(F.length(d) == 9, F.concat(F.lit("0"), d, F.lit("0000")))
        .otherwise(d)
    )


# ---------------------------------------------------------------------------
# P6 — universe PIN key: zero-pad to 14, a longer value kept whole (lpad
# alone would truncate it into some other parcel's PIN). One rule for J6's
# membership key and the review workbook's universe sheet, whose COUNTIF
# guard checks the same membership. Reference: chicago/permit_cleaning.py:
# 438,444-448 (J6 set membership), :1127-1131 (universe sheet).
# ---------------------------------------------------------------------------


def universe_pin(c: Column | str) -> Column:
    pin = (F.col(c) if isinstance(c, str) else c).cast("string")
    return F.when(F.length(pin) < 14, F.lpad(pin, 14, "0")).otherwise(pin)


# ---------------------------------------------------------------------------
# P7 — dictionary regex abbreviation (folded regexp_replace chain).
# Reference: shorten_applicant_names, chicago/permit_cleaning.py:668-689.
# The mapping is applied in dict order, each as a regex over the running
# result — order matters and is preserved here.
# ---------------------------------------------------------------------------

# Verbatim from the reference's name_shortening_dict
# (chicago/permit_cleaning.py:668-689), same 15 entries in the same order —
# order matters for overlapping patterns (e.g. APARTMENT fires before
# APARTMENTS; both yield APTS on plural input).
APPLICANT_ABBREVIATIONS: dict[str, str] = {
    "ASSOCIATION": "ASSN",
    "COMPANY": "CO",
    "BUILDING": "BLDG",
    "FOUNDATION": "FNDN",
    "ILLINOIS": "IL",
    "STREET": "ST",
    "BOULEVARD": "BLVD",
    "AVENUE": "AVE",
    "APARTMENT": "APT",
    "APARTMENTS": "APTS",
    "MANAGEMENT": "MGMT",
    "CORPORATION": "CORP",
    "INCORPORATED": "INC",
    "LIMITED": "LTD",
    "PLAZA": "PLZ",
}


def abbreviate(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    # the reference applies these as regexes, but every pattern is a string
    # literal — literal replace() has identical semantics and skips regex
    # machinery (~3× faster on the sf0.1 pipeline); an entry containing
    # regex metacharacters would need regexp_replace again
    return reduce(
        lambda acc, kv: F.replace(acc, F.lit(kv[0]), F.lit(kv[1])),
        APPLICANT_ABBREVIATIONS.items(),
        c,
    )


# ---------------------------------------------------------------------------
# P8 — numeric coerce + round + nullable-int cast.
# Reference: round_amount, chicago/permit_cleaning.py:692-698. pandas
# .round() is HALF_EVEN, so we use bround() for fidelity (SURVEY §7.4.3).
# ---------------------------------------------------------------------------


def round_amount(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.bround(c.try_cast("double")).cast("long")


# ---------------------------------------------------------------------------
# P10/P11 — conditional hyperlink formula synthesis.
# Reference: chicago/permit_cleaning.py:782-790 (CookViewer) and
# make_pin_hyperlink :792-806.
# ---------------------------------------------------------------------------

COOKVIEWER_URL = "https://maps.cookcountyil.gov/cookviewer/?search="
ASSESSOR_URL = "https://www.cookcountyassessor.com/pin/"


def cookviewer_link(addr: Column | str) -> Column:
    addr = F.col(addr) if isinstance(addr, str) else addr
    formula = F.format_string(
        '=HYPERLINK("%s%%s, Chicago, IL", "Click here to open in CookViewer")'
        % COOKVIEWER_URL,
        addr,
    )
    return F.when(addr.isNotNull() & (addr != ""), formula).otherwise(F.lit(""))


# P11 is ``pin_link_from_digits(pin, pin_digits(pin))``; clean_permits
# stages the digits-only form, which feeds the length test and the formula.
def pin_digits(pin: Column | str) -> Column:
    pin = F.col(pin) if isinstance(pin, str) else pin
    return F.regexp_replace(pin, r"\D", "")


def pin_link_from_digits(pin: Column | str, digits: Column | str) -> Column:
    pin = F.col(pin) if isinstance(pin, str) else pin
    digits = F.col(digits) if isinstance(digits, str) else digits
    formula = F.format_string(
        '=HYPERLINK("%s%%s", "%%s")' % ASSESSOR_URL, digits, pin
    )
    return (
        F.when(pin.isNull() | (pin == ""), F.lit("NO PIN FOUND"))
        .when(F.length(digits) == 14, formula)
        .otherwise(pin)
    )


# ---------------------------------------------------------------------------
# P13 — join-key canonicalization bundle for warehouse dedup.
# Reference: chicago/permit_cleaning.py:848-871. SmartFile strips
# [():;+#*&'"@½] and truncates descriptions to 259 chars.
# ---------------------------------------------------------------------------

SMARTFILE_STRIP_RE = "[():;+#*&'\"@½]"
PERMDT_FMT = "yyyy-MM-dd HH:mm:ss.SSS"


def canonical_amount(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return c.try_cast("double").cast("decimal(38,2)")


def canonical_permdt(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    # the permits frame carries the DISPLAY date (m/d/Y) by dedup time —
    # parse that first, fall back to ISO-ish inputs (reference re-parses
    # with pd.to_datetime at :860)
    parsed = F.coalesce(
        F.try_to_timestamp(c, F.lit(DISPLAY_DATE_FMT)), F.try_to_timestamp(c)
    )
    return F.date_format(parsed, PERMDT_FMT)


def canonical_address_note(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.concat(c, F.lit(",,CHICAGO, IL"))


def canonical_description(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.substring(F.regexp_replace(c, SMARTFILE_STRIP_RE, ""), 1, 259)


# ---------------------------------------------------------------------------
# P15 — ensure-columns / schema conformance: add missing as string NULLs
# and project in canonical order. Reference:
# chicago/legacy_permits/helper.R:85-90, chicago/permit_cleaning.py:661-664.
# ---------------------------------------------------------------------------


def ensure_columns(df: DataFrame, order: Sequence[str]) -> DataFrame:
    have = set(df.columns)
    return df.select(
        *[F.col(c) if c in have else F.lit(None).cast("string").alias(c) for c in order]
    )


# ---------------------------------------------------------------------------
# P16 — blocklist filter (all-zeros PIN).
# Reference: chicago/legacy_permits/2022/format_legacy_2022.R:43-44.
# ---------------------------------------------------------------------------

ZERO_PIN = "00000000000000"


def drop_blocklisted_pins(df: DataFrame) -> DataFrame:
    return df.where(F.col("pin") != ZERO_PIN)


# Excel serial date decode (origin 1899-12-30).
# Reference: chicago/legacy_permits/2023/format_legacy_2023.R:35-39.
def excel_serial_to_date(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.date_add(F.lit("1899-12-30").cast("date"), c.try_cast("int"))
