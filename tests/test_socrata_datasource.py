"""Python DataSource API Socrata source: registration, pushdown, partitioning."""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import types as T
from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, IsNotNull, LessThan

from extract_permits_spark.sources.readers import PERMITS_RAW_SCHEMA
from extract_permits_spark.sources.socrata_datasource import (
    DateWindow,
    SocrataDataSource,
    SocrataReader,
)

RECS = [
    {"permit_": "A", "issue_date": "2023-02-01T05:00:00.000", "pin_list": "1"},
    {"permit_": "B", "issue_date": "2023-06-15T05:00:00.000", "pin_list": None},
    {"permit_": "C", "issue_date": "2024-03-01T05:00:00.000", "pin_list": "2"},
]


@pytest.fixture()
def fixture_path():
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "recs.jsonl")
        with open(p, "w") as fh:
            for r in RECS:
                fh.write(json.dumps(r) + "\n")
        yield p


def _reader(fixture_path, **opts):
    schema = T.StructType(
        [
            T.StructField("permit_", T.StringType()),
            T.StructField("issue_date", T.StringType()),
            T.StructField("pin_list", T.StringType()),
        ]
    )
    options = {"fixture_path": fixture_path, "num_partitions": "4", **opts}
    return SocrataReader(schema, options)


def test_push_filters_narrow_window(fixture_path):
    r = _reader(fixture_path)
    leftover = list(
        r.pushFilters(
            [
                GreaterThanOrEqual(("issue_date",), "2023-01-01"),
                LessThan(("issue_date",), "2023-12-31"),
                IsNotNull(("pin_list",)),  # unsupported → returned
            ]
        )
    )
    assert r.start == "2023-01-01" and r.end == "2023-12-31"
    # the window is whole days, so Spark re-applies every filter exactly
    assert [type(f) for f in leftover] == [GreaterThanOrEqual, LessThan, IsNotNull]


def test_partitions_and_read_respect_window(fixture_path):
    r = _reader(fixture_path)
    list(r.pushFilters([EqualTo(("issue_date",), "2023-06-15")]))
    parts = r.partitions()
    assert parts == [DateWindow("2023-06-15", "2023-06-15")]
    rows = [row for p in parts for row in r.read(p)]
    assert [row[0] for row in rows] == ["B"]


def test_end_to_end_through_spark(spark, fixture_path):
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SocrataDataSource)
    df = (
        spark.read.format("socrata")
        .option("fixture_path", fixture_path)
        .option(
            "schema_ddl", "permit_ string, issue_date string, pin_list string"
        )
        .load()
        .where("issue_date >= '2023-01-01' AND issue_date < '2024-01-01'")
    )
    got = sorted(r["permit_"] for r in df.collect())
    assert got == ["A", "B"]
    # the date range narrows the scan; Spark re-checks it post-scan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PythonScan" in plan or "BatchScan" in plan


BOUNDARY_RECS = [
    {"permit_": "D", "issue_date": "2023-06-15T05:00:00.000", "pin_list": "1"},
    {"permit_": "E", "issue_date": "2023-12-31T05:00:00.000", "pin_list": "2"},
    {"permit_": "F", "issue_date": "2024-01-01T05:00:00.000", "pin_list": "3"},
]


@pytest.mark.parametrize(
    "predicate",
    [
        "issue_date < '2024-01-01'",
        "issue_date = '2023-06-15'",
        "issue_date > '2023-12-31T06:00:00'",
    ],
)
def test_pushed_date_filters_match_plain_json_read(spark, tmp_path, predicate):
    """Pushed date filters narrow the fetch to whole days; the rows that
    come back must still be exactly the rows Spark's own string
    comparison keeps over the same file."""
    path = str(tmp_path / "boundary.jsonl")
    with open(path, "w") as fh:
        for r in BOUNDARY_RECS:
            fh.write(json.dumps(r) + "\n")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SocrataDataSource)
    pushed = (
        spark.read.format("socrata")
        .option("fixture_path", path)
        .option("schema_ddl", "permit_ string, issue_date string, pin_list string")
        .load()
        .where(predicate)
    )
    plain = spark.read.json(path).where(predicate)
    want = sorted(r["permit_"] for r in plain.collect())
    assert sorted(r["permit_"] for r in pushed.collect()) == want


def _month_records(n: int = 62) -> list[dict]:
    """Two records per day of January 2023, each with a distinct permit."""
    return [
        {"permit_": f"P{i:03d}", "issue_date": f"2023-01-{i // 2 + 1:02d}T05:00:00.000",
         "pin_list": str(i)}
        for i in range(n)
    ] + [{"permit_": "FEB", "issue_date": "2023-02-01T05:00:00.000", "pin_list": "x"}]


def test_month_load_is_one_partition_one_fetch(spark, tmp_path):
    """A one-month window is one input partition; it returns the rows the
    reader keeps when the same month is split into 8 windows."""
    path = str(tmp_path / "month.jsonl")
    with open(path, "w") as fh:
        for r in _month_records():
            fh.write(json.dumps(r) + "\n")
    spark.dataSource.register(SocrataDataSource)
    df = (
        spark.read.format("socrata")
        .option("fixture_path", path)
        .option("schema_ddl", "permit_ string, issue_date string, pin_list string")
        .option("start_date", "2023-01-01")
        .option("end_date", "2023-01-31")
        .load()
    )
    assert df.rdd.getNumPartitions() == 1
    r = _reader(path, start_date="2023-01-01", end_date="2023-01-31", num_partitions="8")
    assert len(r.partitions()) == 1
    # the same month as eight windows of 3-4 days
    bounds = [1, 5, 9, 13, 17, 21, 25, 29, 32]
    windows = [
        DateWindow(f"2023-01-{lo:02d}", f"2023-01-{hi - 1:02d}")
        for lo, hi in zip(bounds, bounds[1:])
    ]
    split = sorted(row for w in windows for row in r.read(w))
    got = sorted(tuple(row) for row in df.collect())
    assert len(got) == 62
    assert got == split


DRIFT_DDL = "permit_ string, issue_date string, flag string, n string, cost string, " \
    "meta string, pins string, note string, absent string"
DRIFT_RECS = [
    '{"permit_": "A", "issue_date": "2023-03-01T05:00:00.000", "flag": true, '
    '"n": 42, "cost": 1500.50, "meta": {"k": [1, 2.50], "s": "caf\\u00e9"}, '
    '"pins": ["1", 2], "note": null, "extra": {"x": 1}}',
    '{"permit_": "B", "issue_date": "2023-03-02T05:00:00.000", "flag": false, '
    '"n": -7, "cost": 1e-7, "meta": {}, "pins": [], "note": "plain text"}',
    '{"permit_": "C", "issue_date": "2023-03-03T05:00:00.000", "flag": "yes", '
    '"n": 12345678901234567890, "cost": "12.00", "pins": [true, null]}',
]


def test_non_string_json_values_match_spark_json_read(spark, tmp_path):
    """Non-string JSON values arrive as their JSON text, missing fields as
    null and extra fields are dropped, as spark.read.json gives them for
    string-typed fields."""
    path = str(tmp_path / "drift.jsonl")
    with open(path, "w") as fh:
        fh.write("\n".join(DRIFT_RECS) + "\n")
    spark.dataSource.register(SocrataDataSource)
    got = (
        spark.read.format("socrata")
        .option("fixture_path", path)
        .option("schema_ddl", DRIFT_DDL)
        .load()
    )
    want = spark.read.schema(DRIFT_DDL).json(path)
    assert got.columns == want.columns
    assert sorted(got.collect()) == sorted(want.collect())
    flags = {r["permit_"]: r["flag"] for r in got.collect()}
    assert flags == {"A": "true", "B": "false", "C": "yes"}


# JSON value texts, spelled the way a response may spell them: the
# reader must hand each non-string value over exactly as written
WS = st.sampled_from(["", " ", "  ", "\t", " \t "])
JSON_STRINGS = st.builds(json.dumps, st.text(max_size=12), ensure_ascii=st.booleans())
JSON_NUMBERS = st.one_of(
    st.sampled_from(
        ["1.50", "1e5", "-0.0", "-0", "0.000", "1E+2", "1.0e-10", "2.50E-3",
         "12345678901234567890", "-98765432109876543210"]
    ),
    st.integers(-(10**25), 10**25).map(str),
    st.floats(allow_nan=False, allow_infinity=False).map(repr),
)
JSON_SCALARS = st.one_of(
    JSON_STRINGS, JSON_NUMBERS, st.sampled_from(["true", "false", "null"])
)


def _json_array(items, ws):
    return "[" + ws[0] + ",".join(f"{ws[1]}{v}{ws[2]}" for v in items) + ws[3] + "]"


def _json_object(fields, ws):
    body = ",".join(f"{ws[1]}{json.dumps(k)}{ws[2]}:{ws[3]}{v}" for k, v in fields.items())
    return "{" + ws[0] + body + ws[1] + "}"


JSON_VALUES = st.recursive(
    JSON_SCALARS,
    lambda inner: st.one_of(
        st.builds(_json_array, st.lists(inner, max_size=3), st.lists(WS, min_size=4, max_size=4)),
        st.builds(
            _json_object,
            st.dictionaries(st.text(max_size=4), inner, max_size=3),
            st.lists(WS, min_size=4, max_size=4),
        ),
    ),
    max_leaves=6,
)
# every schema field but the date, plus one the schema does not hold
OPTIONAL_FIELDS = [n for n in PERMITS_RAW_SCHEMA.fieldNames() if n != "issue_date"] + ["extra"]


@st.composite
def json_records(draw):
    fields = draw(st.dictionaries(st.sampled_from(OPTIONAL_FIELDS), JSON_VALUES))
    day = draw(st.integers(1, 28))
    fields["issue_date"] = json.dumps(f"2023-02-{day:02d}T05:00:00.000")
    keys = draw(st.permutations(sorted(fields)))
    return _json_object({k: fields[k] for k in keys}, draw(st.lists(WS, min_size=4, max_size=4)))


@settings(max_examples=15, deadline=None)
@given(st.lists(json_records(), min_size=1, max_size=8))
def test_json_text_rule_matches_spark_json_read(spark, records):
    """Over one JSON-lines response, the source's rows equal
    ``spark.read.schema(PERMITS_RAW_SCHEMA).json``'s: strings decoded,
    numbers, booleans, objects and arrays as their JSON text exactly as
    written (whitespace included), null and missing keys as null, fields
    outside the schema dropped."""
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "response.jsonl")
        with open(path, "w") as fh:
            fh.write("\n".join(records) + "\n")
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        spark.dataSource.register(SocrataDataSource)
        got = spark.read.format("socrata").option("fixture_path", path).load()
        want = spark.read.schema(PERMITS_RAW_SCHEMA).json(path)
        assert got.columns == want.columns
        assert sorted(map(tuple, got.collect()), key=repr) == sorted(
            map(tuple, want.collect()), key=repr
        )


def test_non_string_issue_date_is_outside_every_window(tmp_path):
    """A date that is not a JSON string is dropped like an unparseable
    one, instead of failing the task."""
    path = str(tmp_path / "dates.jsonl")
    with open(path, "w") as fh:
        for d in (20230115, True, None, {"d": "2023-01-15"}, "2023-01-15T00:00:00"):
            fh.write(json.dumps({"permit_": repr(d), "issue_date": d}) + "\n")
    r = _reader(path, start_date="2023-01-01", end_date="2023-01-31")
    rows = [row for p in r.partitions() for row in r.read(p)]
    assert [row[0] for row in rows] == ["'2023-01-15T00:00:00'"]


def test_s1_socrata_pull_reads_through_data_source(spark):
    """The registry's S1 entry loads through a SocrataReader subclass: the
    two-year window is 8 partitions, and its rows are the orders in that
    window, formatted as the Socrata records the fetch serves."""
    from pyspark.sql import functions as F

    from conftest import SF_DIR
    from extract_permits_spark.plans.analytics_core import s1_socrata_pull

    df = s1_socrata_pull(spark, SF_DIR)
    assert df.rdd.getNumPartitions() == 8
    orders = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    want = orders.where(
        F.date_format("o_orderdate", "yyyy-MM-dd").between("1995-01-01", "1996-12-31")
    ).select(
        F.col("o_orderkey").cast("string").alias("permit_"),
        F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias("issue_date"),
        F.col("o_totalprice").cast("string").alias("reported_cost"),
    )
    got = sorted(tuple(r) for r in df.collect())
    assert got and got == sorted(tuple(r) for r in want.collect())


def test_s1_socrata_pull_runs_in_a_plain_session(spark):
    """Python filter pushdown is off by default, and Spark refuses to plan
    a reader that implements pushFilters without it: the entry sets the
    conf itself, so a session built without it still runs the pull."""
    from conftest import SF_DIR
    from extract_permits_spark.plans.analytics_core import s1_socrata_pull

    key = "spark.sql.python.filterPushdown.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert s1_socrata_pull(spark, SF_DIR).count() > 0
    finally:
        spark.conf.set(key, prev)
