"""Golden end-to-end tests (SURVEY.md §5, FIXTURES.md §7 checkpoints).

Handcrafted permit-shaped fixtures through the full §3.1 and §3.3 chains,
asserting the reference-semantics checkpoints: exploded row counts,
pin_final forms, keyword matches, dedup removal counts, partition splits,
legacy flag columns.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from extract_permits_spark.plans.legacy import run_legacy_pipeline
from extract_permits_spark.plans.permits import clean_permits, run_pipeline
from extract_permits_spark.sources.readers import (
    CROSSWALK_SCHEMA,
    IASWORLD_PERMIT_SCHEMA,
    PERMITS_RAW_SCHEMA,
    PIN_UNIVERSE_SCHEMA,
)

RAW_ROWS = [
    # (permit_, issue_date, reported_cost, street_number, street_direction,
    #  street_name, suffix, contact_1_name, work_description, pin_list)
    (
        "100000001",
        "2023-07-05T00:00:00.000000",
        "1500.4",
        "123",
        "N",
        "MAIN ST",
        None,
        "ACME BUILDING COMPANY",
        "CONSTRUCT new GARAGE and wreck porch",
        "12-08-100-006-0000 | 1208100007 | 12-08-100-006-0000",
    ),
    ("100000002", "2023-07-06T00:00:00.000000", "0.4", "456", None, "OAK AVE", None,
     "BOB", "repair roof", None),
    ("100000003", "garbage-date", "25.0", "789", "S", "ELM ST", None,
     "CARL", "no keywords here", "99-99-999-999-9999"),
]

UNIVERSE_ROWS = [
    ("12081000060000", "1208100006", "123 N MAIN ST", "2023", "City"),
    ("12081000070000", "1208100007", "123 N MAIN ST", "2023", "City"),
    ("55555555555555", "5555555555", "456  OAK AVE", "2023", "City"),
    ("44444444444444", "4444444444", "IGNORED", "2023", "North"),  # non-City
]


@pytest.fixture()
def permits_raw(spark):
    return spark.createDataFrame(RAW_ROWS, PERMITS_RAW_SCHEMA)


@pytest.fixture()
def universe(spark):
    return spark.createDataFrame(UNIVERSE_ROWS, PIN_UNIVERSE_SCHEMA)


def test_golden_clean_permits(spark, permits_raw, universe):
    from extract_permits_spark.operators.enrich import tag_keywords

    # P9 lives above the cleaning chain in run_pipeline (see plan note);
    # apply it here to assert the full §3.1 column set
    out = tag_keywords(
        clean_permits(permits_raw, universe), "work_description"
    ).collect()
    # (a) exploded count: permit 1 → 2 distinct PINs (dupe collapsed),
    # permit 2 → NULL row survives, permit 3 → 1
    assert len(out) == 4
    by_permit = {}
    for r in out:
        by_permit.setdefault(r["permit_number"], []).append(r)
    # (b) pin_final 14-digit-or-empty
    p1 = sorted(by_permit["100000001"], key=lambda r: r["pin_type"])
    assert [r["pin"] for r in p1] == ["12081000060000", "12081000070000"]
    assert [r["pin_type"] for r in p1] == ["pin1", "pin2"]
    assert by_permit["100000002"][0]["pin"] == ""  # NA → '' (ref :621-627)
    # P3 date display + coerce
    assert p1[0]["issue_date"] == "7/5/2023"
    assert by_permit["100000003"][0]["issue_date"] is None
    # P8 bankers rounding: 1500.4 → 1500; 0.4 → 0
    assert p1[0]["amount"] == 1500
    assert by_permit["100000002"][0]["amount"] == 0
    # P7 abbreviation
    assert p1[0]["applicant"] == "ACME BLDG CO"
    # (c) P9 keywords in list order, case-insensitive
    # reference list order (permit_cleaning.py:707-746): Garage < New < Wreck
    assert p1[0]["matched_keywords"] == "Garage, New, Wreck"
    assert by_permit["100000003"][0]["matched_keywords"] == ""
    # A2/J1 suggested pins: sorted uniques comma-joined; miss → ''
    assert p1[0]["suggested_pins"] == "12081000060000, 12081000070000"
    assert by_permit["100000003"][0]["suggested_pins"] == ""


def test_golden_partition_split(spark, permits_raw, universe):
    upload, review = run_pipeline(permits_raw, universe)
    up = upload.collect()
    # (e) upload rows satisfy every validator AND pin ∈ universe:
    # only permit 1's two pins qualify (permit 2: missing pin + amount<1;
    # permit 3: bad date + pin not in universe)
    assert sorted(r["pin"] for r in up) == ["12081000060000", "12081000070000"]
    rev = {r["permit_number"]: r["errors"] for r in review.collect()}
    assert "Missing PIN" in rev["100000002"]
    assert "Amount must be at least 1" in rev["100000002"]
    # coerced garbage date → NULL → displayed empty → "Missing" (the
    # errors='coerce' path, reference :639-641 + required-rule)
    assert "Missing issue date" in rev["100000003"]


def test_golden_dedup_removes_seeded_overlap(spark, permits_raw, universe):
    # (d) seed the warehouse with canonicalized copies of permit 1's rows —
    # the anti-join must remove exactly those
    from extract_permits_spark.operators.dedup import canonicalize_for_dedup

    cleaned = clean_permits(permits_raw, universe)
    seeded = (
        canonicalize_for_dedup(cleaned.where(F.col("permit_number") == "100000001"))
        .select(
            "parid",
            "permdt",
            F.col("amount_key").alias("amount"),
            "note2",
            "user21",
            "user28",
            "user43",
        )
    )
    existing = spark.createDataFrame(seeded.collect(), IASWORLD_PERMIT_SCHEMA)
    upload, review = run_pipeline(permits_raw, universe, existing=existing)
    remaining = upload.collect() + review.collect()
    assert sorted(r["permit_number"] for r in remaining) == ["100000002", "100000003"]


def test_universe_pin_longer_than_14_is_kept_whole(spark, permits_raw, tmp_path):
    """J6 and the workbook's universe sheet key the universe by one rule:
    zero-pad to 14, keep a longer PIN whole. A 15-character universe PIN
    whose first 14 characters are a permit's PIN is not that PIN, so the
    permit row stays out of upload (lpad would truncate the universe PIN
    into a match), and the universe sheet, which the PIN cell's COUNTIF
    guard reads, shows it whole."""
    from extract_permits_spark.plans.permits import validated_permits
    from extract_permits_spark.sinks.excel_sink import save_workbook
    from extract_permits_spark.sinks.xlsx_io import read_xlsx
    from extract_permits_spark.specs import PERMIT_COLUMNS

    universe = spark.createDataFrame(
        [("120810000600001", "1208100006", "123 N MAIN ST", "2023", "City"),
         ("12081000070000", "1208100007", "123 N MAIN ST", "2023", "City"),
         ("81000070000", "0008100007", "1 ELM ST", "2023", "City")],
        PIN_UNIVERSE_SCHEMA,
    )
    rows = validated_permits(permits_raw, universe).where(
        F.col("permit_number") == "100000001"
    )
    assert {r["pin"]: r["in_universe"] for r in rows.collect()} == {
        "12081000060000": False,
        "12081000070000": True,
    }
    path = str(tmp_path / "review.xlsx")
    save_workbook(
        rows, path, specs=PERMIT_COLUMNS, errors_col="errors", pin_universe=universe.select("pin")
    )
    assert sorted(read_xlsx(path, "Universe of Valid PINs").rows) == [
        ["00081000070000", "00-08-100-007-0000"],
        ["120810000600001", "12-08-100-006-0000"],
        ["12081000070000", "12-08-100-007-0000"],
    ]


LEGACY_ROWS = [
    # pin, PIN2, permit_number, issue_date (excel serial), amount, addr, name, note
    ("12-08-100-006-0000", "1208100007", "100012345", "45112", "1500",
     "123 N MAIN ST", "ACME", "note a"),
    ("123456789", None, "100012346", "45113", "99",
     "456 OAK AVE", "BOB", "note b"),
    ("00000000000000", None, "100012347", "45114", "50",
     "789 ELM ST", "CARL", "blocklisted"),
    ("12-08-100-006-0000", "1208100007", "100012345", "45112", "1500",
     "123 N MAIN ST", "ACME", "note a"),  # exact dup row → distinct collapses
]


def test_golden_legacy_pipeline(spark):
    reviewed = spark.createDataFrame(
        LEGACY_ROWS,
        "pin string, PIN2 string, permit_number string, issue_date string, "
        "amount string, applicant_street_address string, applicant string, "
        "work_description string",
    )
    crosswalk = spark.createDataFrame(
        [("99999999999999", "01234567890000", "2023", "actionable")],
        CROSSWALK_SCHEMA,
    )
    out = run_legacy_pipeline(reviewed, crosswalk, pin_cols=["PIN2"]).collect()
    by_pin = {r["pin"]: r for r in out}
    # blocklisted all-zeros PIN dropped (P16)
    assert "00000000000000" not in by_pin
    # X3: PIN2 unpivoted into its own row; P5 normalized
    assert "12081000070000" in by_pin
    # P5: 9-digit → lead 0 + trail 0000, then J3 crosswalk override remaps it
    assert "01234567890000" not in by_pin
    assert "99999999999999" in by_pin
    # excel serial decode: 45112 → 2023-07-05 displayed M/d/yyyy
    assert by_pin["12081000060000"]["issue_date"] == "7/5/2023"
    # W2: duplicate (pin, permit) rows collapsed to one
    assert sum(1 for r in out if r["pin"] == "12081000060000") == 1
    # E3 flags
    assert by_pin["12081000060000"]["valid_row"] is True
    assert by_pin["99999999999999"]["valid_amount"] is True
    assert all(r["valid_not_duplicate"] for r in out)


def test_partitioned_write_equals_two_output_api(spark, tmp_path):
    """E1 single-pass shape: the has_error=false/true partitions of
    write_pipeline_partitioned must equal run_pipeline's upload/review."""
    from extract_permits_spark.plans.permits import (
        permits_from_tpch,
        run_pipeline,
        write_pipeline_partitioned,
    )

    sf_dir = "/root/testdata/sf0.001"
    permits_raw, universe = permits_from_tpch(spark, sf_dir)
    out = str(tmp_path / "pp")
    write_pipeline_partitioned(permits_raw, universe, out)
    written = spark.read.parquet(out)

    upload, review = run_pipeline(permits_raw, universe)
    assert written.where("has_error = false").count() == upload.count()
    assert written.where("has_error = true").count() == review.count()
    # same permit keys in the upload partition (order-insensitive)
    got = {
        (r["permit_number"], r["pin"])
        for r in written.where("has_error = false")
        .select("permit_number", "pin")
        .collect()
    }
    want = {(r["permit_number"], r["pin"]) for r in upload.select("permit_number", "pin").collect()}
    assert got == want
