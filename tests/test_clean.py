"""Unit tests for scalar cleaning expressions (SURVEY.md §2.2).

Edge cases pinned per SURVEY §5/§7.4: NULL vs '' handling, 9/10/13-digit
PIN forms, banker's rounding, empty-part address assembly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from extract_permits_spark.operators import clean


def _one(spark, expr, **cols):
    schema = ", ".join(f"{k} string" for k in cols)
    df = spark.createDataFrame([tuple(cols.values())], schema)
    return df.select(expr.alias("out")).first()["out"]


def test_assemble_address_preserves_empty_parts(spark):
    # fillna('') + ' '.join keeps the empty slot (double space) — reference
    # chicago/permit_cleaning.py:635-637
    out = _one(
        spark,
        clean.assemble_address("a", "b", "c"),
        a="123",
        b=None,
        c="MAIN ST",
    )
    assert out == "123  MAIN ST"


def test_format_pin_cases(spark):
    # the reference's format_pin is the two staged P4 pieces composed
    f = clean.pad_stripped_pin(clean.strip_pin("p"))
    assert _one(spark, f, p="12-08-100-006-0000") == "12081000060000"
    assert _one(spark, f, p="1208100006") == "12081000060000"
    assert _one(spark, f, p=None) == ""
    assert _one(spark, f, p="12081000060000") == "12081000060000"


def test_normalize_pin_legacy_four_cases(spark):
    f = clean.normalize_pin_legacy("p")
    assert _one(spark, f, p="1234567890123") == "01234567890123"  # 13 → lead 0
    assert _one(spark, f, p="1234567890") == "12345678900000"  # 10 → trail 0000
    assert _one(spark, f, p="123456789") == "01234567890000"  # 9 → both
    assert _one(spark, f, p="12-34-567-890-1234") == "12345678901234"  # strip


def test_round_amount_bankers(spark):
    # pandas .round() is HALF_EVEN (reference :692-698) — 0.5 → 0, 1.5 → 2
    f = clean.round_amount("x")
    assert _one(spark, f, x="0.5") == 0
    assert _one(spark, f, x="1.5") == 2
    assert _one(spark, f, x="2.5") == 2
    assert _one(spark, f, x="not a number") is None


def test_abbreviate_order_and_all_occurrences(spark):
    out = _one(spark, clean.abbreviate("s"), s="BUILDING MANAGEMENT COMPANY BUILDING")
    assert out == "BLDG MGMT CO BLDG"


def test_parse_and_display_date(spark):
    f = clean.parse_and_display_date("d")
    assert _one(spark, f, d="2023-07-05T00:00:00.000000") == "7/5/2023"
    assert _one(spark, f, d="garbage") is None  # errors='coerce' → NULL


def test_canonical_description_strips_and_truncates(spark):
    out = _one(spark, clean.canonical_description("s"), s="A(B):C;'D\"E@F½G+H#I*J&K")
    assert out == "ABCDEFGHIJK"
    long = "x" * 300
    assert len(_one(spark, clean.canonical_description("s"), s=long)) == 259


def test_excel_serial_to_date(spark):
    # Excel origin 1899-12-30 (reference format_legacy_2023.R:35-39)
    out = _one(spark, clean.excel_serial_to_date("n"), n="45000")
    assert str(out) == "2023-03-15"


def test_pin_detail_link_cases(spark):
    # the reference's make_pin_hyperlink is the two staged P11 pieces composed
    f = clean.pin_link_from_digits("p", clean.pin_digits("p"))
    assert _one(spark, f, p=None) == "NO PIN FOUND"
    assert _one(spark, f, p="12-08-100-006-0000").startswith("=HYPERLINK")
    assert _one(spark, f, p="123, 456") == "123, 456"  # pass-through


def test_ensure_columns_and_blocklist(spark):
    df = spark.createDataFrame([("1",)], ["a"])
    out = clean.ensure_columns(df, ["a", "b"])
    assert out.columns == ["a", "b"]
    assert out.first()["b"] is None

    df2 = spark.createDataFrame([(clean.ZERO_PIN,), ("00000000000001",)], ["pin"])
    assert clean.drop_blocklisted_pins(df2).count() == 1
