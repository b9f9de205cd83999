"""Python DataSource API Socrata source: registration, pushdown, partitioning."""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from pyspark.sql import types as T
from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, IsNotNull, LessThan

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
