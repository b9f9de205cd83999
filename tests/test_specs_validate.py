"""Spec registry + validation compiler tests, incl. the E4 property test:
E1 predicate ⇔ E2 message non-emptiness on randomized rows
(reference dual-rail sync contract, chicago/permit_cleaning.py:117-124)."""

from __future__ import annotations

import random

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from extract_permits_spark import specs
from extract_permits_spark.operators import validate


def _permits(spark, rows):
    schema = (
        "pin string, permit_number string, issue_date string, amount string, "
        "applicant_street_address string, city_state string, applicant string, "
        "work_description string"
    )
    return spark.createDataFrame(rows, schema)


GOOD = (
    "12081000060000",
    "100012345",
    "7/5/2023",
    "1500",
    "123 N MAIN ST",
    "CHICAGO, IL",
    "ACME BLDG CO",
    "NEW GARAGE",
)


def test_registry_invariants():
    # list order is the column order; names and headers address columns
    names = [s.name for s in specs.PERMIT_COLUMNS]
    assert len(set(names)) == len(names)
    headers = [s.header for s in specs.PERMIT_COLUMNS]
    assert len(set(headers)) == len(headers)


def test_organize_columns_renames_fills_orders(spark):
    df = spark.createDataFrame(
        [("A", "p1", "desc")], "solo_pin string, permit_ string, work_description string"
    )
    out = specs.organize_columns(df)
    assert out.columns == [s.name for s in specs.PERMIT_COLUMNS]
    row = out.first()
    assert row["pin"] == "A" and row["permit_number"] == "p1"
    assert row["amount"] is None  # missing → NULL


def test_good_row_passes_bad_rows_partition(spark):
    bad_amount = GOOD[:3] + ("0",) + GOOD[4:]  # below lower bound
    bad_pin = ("123",) + GOOD[1:]
    df = _permits(spark, [GOOD, bad_amount, bad_pin])
    upload, review = validate.partition_valid(
        validate.with_validation(df, extra_error=F.lit(False))
    )
    assert upload.count() == 1
    rev = {r["pin"]: r["errors"] for r in review.collect()}
    assert "Amount must be at least 1" in rev["12081000060000"]
    assert "PIN is not 14 digits" in rev["123"]


def test_extra_error_folds_in(spark):
    df = _permits(spark, [GOOD])
    upload, review = validate.partition_valid(
        validate.with_validation(df, extra_error=F.lit(True))
    )
    assert upload.count() == 0 and review.count() == 1


def _random_row(rng):
    def maybe(v, p=0.3):
        return None if rng.random() < p else v

    return (
        maybe(rng.choice(["12081000060000", "123", "", "12-08", "99999999999999"])),
        maybe(rng.choice(["100012345", "12345", "1000123456", ""])),
        maybe(rng.choice(["7/5/2023", "2023-07-05", "garbage", ""])),
        maybe(rng.choice(["1500", "0", "-5", "99999999999", "xyz", ""])),
        maybe(rng.choice(["123 N MAIN ST", "x" * 41, ""])),
        maybe("CHICAGO, IL"),
        maybe(rng.choice(["ACME", "y" * 51, ""])),
        maybe(rng.choice(["ok", "z" * 2001])),
    )


def test_e4_property_has_error_iff_messages(spark):
    rng = random.Random(42)
    rows = [_random_row(rng) for _ in range(300)]
    df = _permits(spark, rows)
    out = (
        validate.with_validation(df, extra_error=F.lit(False))
        .select("has_error", "errors")
        .collect()
    )
    for r in out:
        assert r["has_error"] == (r["errors"] != ""), r


def _per_column_errors():
    """The earlier E1 composition, kept as the reference: each column's
    fired messages joined, blanks dropped by nullif, then joined again."""
    per_column = [
        F.concat_ws(", ", *[F.when(pred(F.col(s.name)), F.lit(m)) for m, pred in s.rules])
        for s in specs.PERMIT_COLUMNS
        if s.rules
    ]
    return F.concat_ws(", ", *[F.nullif(m, F.lit("")) for m in per_column])


_CELL = st.one_of(
    st.none(),
    st.sampled_from(
        ["", "  ", "\t", "12081000060000", "1208-10-000", "123", "１２3", "100012345",
         "7/5/2023", "2/30/2023", "2023-07-05", "13/1/2023", "1500", "0", "-5",
         "2147483648", "1e3", "NaN", "xyz"]
    ),
    st.text(max_size=12),
    st.integers(min_value=39, max_value=2002).map(lambda n: "x" * n),
)


@settings(max_examples=15, deadline=None)
@given(st.lists(st.tuples(*[_CELL] * 8), min_size=1, max_size=40))
def test_flat_errors_equal_per_column_composition(spark, rows):
    """compile_validation's one concat_ws over every rule gives the same
    ``errors`` as the per-column concat_ws/nullif composition, on rows with
    nulls, blanks, over-length text and bad digits, dates and amounts."""
    got = (
        _permits(spark, rows)
        .select(
            specs.compile_validation().alias("flat"),
            _per_column_errors().alias("per_column"),
        )
        .collect()
    )
    for row, r in zip(rows, got):
        assert r["flat"] == r["per_column"], row


def test_legacy_flags_conjunction(spark):
    df = spark.createDataFrame(
        [
            ("12081000060000", "100012345", 100.0, "addr", "note", "name", False),
            ("bad", "100012345", 100.0, "addr", "note", "name", False),
            ("12081000060000", "100012345", 100.0, "addr", "note", "name", True),
        ],
        "pin string, permit_number string, amount double, "
        "applicant_street_address string, work_description string, "
        "applicant string, is_duplicate boolean",
    )
    out = validate.legacy_flag_columns(df, in_universe_col=None).collect()
    assert [r["valid_row"] for r in out] == [True, False, False]
    assert [r["valid_pin"] for r in out] == [True, False, True]
    assert [r["valid_not_duplicate"] for r in out] == [True, True, False]


def test_registry_order_covers_previously_unchecked_entries():
    """r5-VERDICT ask #2: the driver's correctness window covers the first
    50 queries() entries; the 20 entries that had never earned a driver row
    (xlsx family included) must stay inside that window."""
    import __spark_entry__ as mod
    from extract_permits_spark.plans.analytics import _CHECK_FIRST

    names = list(mod.queries())
    first50 = set(names[:50])
    # the registry leads with the priority list, in order (the window is
    # 50 wide, so entries past _CHECK_FIRST[:50] wait for rotation in a
    # later round — with >50 never-checked entries full coverage is
    # necessarily multi-round)
    assert names[: len(_CHECK_FIRST)] == _CHECK_FIRST
    for n in _CHECK_FIRST[:50]:
        assert n in first50, f"{n} fell outside the driver's 50-entry window"
    # and every oracle key still pairs with a query
    assert set(mod.oracle_sql()) <= set(names)


def test_merge_upsert_invariants_property(spark):
    """Hypothesis invariants for the MERGE keep-disjunction over random
    base/change sets: output keys unique; deleted keys absent; inserted
    keys present iff not matched; unmatched-base rows kept unchanged."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    @settings(max_examples=12, deadline=None)
    @given(
        base=st.sets(st.integers(0, 15), max_size=8),
        dels=st.sets(st.integers(0, 15), max_size=4),
        ups=st.sets(st.integers(0, 15), max_size=4),
        ins=st.sets(st.integers(16, 23), max_size=4),
    )
    def check(base, dels, ups, ins):
        b = spark.createDataFrame(
            [(k, float(k)) for k in base] or [(None, None)], "key INT, bal DOUBLE"
        ).where(F.col("key").isNotNull())
        ch_rows = (
            [(k, "D", 3) for k in dels]
            + [(k, "U", 2) for k in ups]
            + [(k, "I", 1) for k in ins]
        )
        ch = spark.createDataFrame(
            ch_rows or [(None, None, None)], "key INT, op STRING, prio INT"
        ).where(F.col("key").isNotNull())
        w = Window.partitionBy("key").orderBy(F.col("prio").desc())
        ch = ch.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
        m = b.join(ch, "key", "full_outer")
        keep = (
            (F.col("op").isNull() & F.col("bal").isNotNull())
            | ((F.col("op") == "U") & F.col("bal").isNotNull())
            | ((F.col("op") == "I") & F.col("bal").isNull())
        )
        out = {r["key"]: r["op"] for r in m.where(keep).collect()}

        assert len(out) == len(set(out))  # unique keys (dict by construction)
        for k in dels:
            if k in base:
                assert k not in out  # matched delete removes
        for k in base - dels - ups:
            assert out.get(k) is None or out[k] in ("U",)  # kept rows survive
            assert k in out
        for k in ins:
            assert (k in out) == (k not in base)  # insert only when unmatched

    check()
