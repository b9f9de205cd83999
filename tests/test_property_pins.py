"""Property-based check: the Spark PIN normalizers agree with a direct
Python model of the reference logic on arbitrary inputs.

Model mirrors chicago/legacy_permits/helper.py:42-58 (legacy 4-case) and
chicago/permit_cleaning.py:615-630 (main path). Each hypothesis example is
a BATCH of strings → one Spark job per example, keeping runtime sane.
"""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st

from extract_permits_spark.operators.clean import (
    normalize_pin_legacy,
    pad_stripped_pin,
    strip_pin,
)

PIN_CHARS = st.text(alphabet="0123456789-abcZ ½", min_size=0, max_size=20)


def model_legacy(s: str | None) -> str | None:
    if s is None:
        return None
    d = re.sub(r"[^0-9]", "", s)
    if len(d) == 13:
        return "0" + d
    if len(d) == 10:
        return d + "0000"
    if len(d) == 9:
        return "0" + d + "0000"
    return d


def model_main(s: str | None) -> str:
    if s is None:
        return ""
    d = s.replace("-", "")
    if len(d) == 10:
        return d + "0000"
    return d


@settings(max_examples=8, deadline=None)
@given(st.lists(st.one_of(st.none(), PIN_CHARS), min_size=1, max_size=40))
def test_pin_normalizers_match_python_model(spark, pins):
    df = spark.createDataFrame([(p,) for p in pins], "p string")
    got = df.select(
        normalize_pin_legacy("p").alias("legacy"),
        pad_stripped_pin(strip_pin("p")).alias("main"),
    ).collect()
    for s, row in zip(pins, got):
        assert row["legacy"] == model_legacy(s), repr(s)
        assert row["main"] == model_main(s), repr(s)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "hot"]),      # group (skewed)
            st.integers(min_value=0, max_value=50),  # order key
            st.integers(min_value=-40, max_value=40),  # integer weight
            st.integers(min_value=0, max_value=160),   # decimal weight /8
        ),
        min_size=1,
        max_size=60,
    )
)
def test_group_cumsum_weight_types_match_window_model(spark, rows):
    """Property pin for the r14 ADVICE weight-type fix: for arbitrary
    skewed group/order/weight batches, distributed_group_cumsum must
    equal the sequential window spelling EXACTLY for integer weights
    (long path) and for decimal weights (native-type path, eighths so
    the scale exercises fractions) — including negative weights and
    duplicate order keys broken by the unique row id."""
    from decimal import Decimal

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from extract_permits_spark.operators.windows import (
        distributed_group_cumsum,
    )

    data = [
        (g, o, i, w, Decimal(dw) / 8)
        for i, (g, o, w, dw) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "g string, o long, k long, wi long, wd decimal(12,3)"
    )
    w = (
        W.partitionBy("g")
        .orderBy(F.col("o"), F.col("k"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    want = {
        r["k"]: (r["ci"], r["cd"])
        for r in df.withColumn("ci", F.sum("wi").over(w))
        .withColumn("cd", F.sum("wd").over(w))
        .collect()
    }
    got_i = {
        r["k"]: r["cum"]
        for r in distributed_group_cumsum(
            df, ["g"], [F.col("o"), F.col("k")], "wi", "cum"
        ).collect()
    }
    got_d = {
        r["k"]: r["cum"]
        for r in distributed_group_cumsum(
            df, ["g"], [F.col("o"), F.col("k")], "wd", "cum"
        ).collect()
    }
    for k, (ci, cd) in want.items():
        assert got_i[k] == ci, (k, got_i[k], ci)
        assert got_d[k] == cd, (k, got_d[k], cd)


def _iso(dt) -> str:
    # ISO_TS_FMT (yyyy-MM-dd'T'HH:mm:ss.SSSSSS), year zero-padded to 4
    return (
        f"{dt.year:04d}-{dt.month:02d}-{dt.day:02d}T"
        f"{dt.hour:02d}:{dt.minute:02d}:{dt.second:02d}.{dt.microsecond:06d}"
    )


_ISO_SHAPE = re.compile(r"\d{4,}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{6}")


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.datetimes(), min_size=1, max_size=40),
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=9999),
            st.integers(min_value=0, max_value=99),
            st.integers(min_value=0, max_value=99),
        ),
        max_size=20,
    ),
    st.lists(
        st.one_of(
            st.none(), st.text(max_size=30).filter(lambda s: not _ISO_SHAPE.fullmatch(s))
        ),
        max_size=20,
    ),
)
def test_date_rules_agree(spark, stamps, fields, texts):
    """P3 (parse_and_display_date), E1's issue-date rule and P13's
    canonical_permdt are three spellings of one date: any timestamp in
    ISO_TS_FMT displays as a string E1 accepts and P13 maps back to the
    same day at midnight; month/day fields that form no real date, and
    any text not in ISO_TS_FMT, display as NULL."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from extract_permits_spark.operators.clean import (
        canonical_permdt,
        parse_and_display_date,
    )
    from extract_permits_spark.specs import PERMIT_COLUMNS

    def real(y, m, d):
        try:
            return datetime(y, m, d)
        except ValueError:
            return None

    cases = [(_iso(t), t) for t in stamps]
    cases += [
        (f"{y:04d}-{m:02d}-{d:02d}T00:00:00.000000", real(y, m, d)) for y, m, d in fields
    ]
    cases += [(s, None) for s in texts]
    spec = next(s for s in PERMIT_COLUMNS if s.name == "issue_date")
    rule = F.concat_ws(
        ", ", *[F.when(pred(F.col("issue_date")), F.lit(msg)) for msg, pred in spec.rules]
    )
    df = spark.createDataFrame([(s,) for s, _ in cases], "raw string")
    got = (
        df.select(parse_and_display_date("raw").alias("issue_date"))
        .select(
            "issue_date",
            rule.alias("errors"),
            canonical_permdt("issue_date").alias("permdt"),
        )
        .collect()
    )
    for (raw, want), row in zip(cases, got):
        if want is None:
            assert row["issue_date"] is None, repr(raw)
            continue
        assert row["issue_date"] == f"{want.month}/{want.day}/{want.year:04d}", repr(raw)
        assert row["errors"] == "", (raw, row["errors"])
        day = f"{want.year:04d}-{want.month:02d}-{want.day:02d}"
        assert row["permdt"] == f"{day} 00:00:00.000", repr(raw)
