"""Tests for the Socrata source adapter, sinks, and excel-sink data half."""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from extract_permits_spark.operators.validate import partition_valid
from extract_permits_spark.sinks import excel_sink, writers
from extract_permits_spark.sources import socrata
from extract_permits_spark.sources.readers import PERMITS_RAW_SCHEMA
from extract_permits_spark.sources.socrata_datasource import (
    SocrataDataSource,
    SocrataReader,
)


def test_build_soql_matches_reference_shape():
    q = socrata.build_soql("ydr8-5enu", "issue_date", "2023-01-01", "2023-06-30")
    p = q.to_params()
    assert p["$where"] == "issue_date between '2023-01-01' and '2023-06-30'"
    assert p["$order"] == "issue_date DESC"
    assert p["$limit"] == "10000000"


def test_partition_date_range_disjoint_cover():
    parts = socrata.partition_date_range("2023-01-01", "2023-03-31", 4)
    assert parts[0][0] == "2023-01-01" and parts[-1][1] == "2023-03-31"
    for (l1, h1), (l2, h2) in zip(parts, parts[1:]):
        assert h1 < l2  # disjoint, ordered
    total = sum(
        (socrata.date.fromisoformat(h) - socrata.date.fromisoformat(lo)).days + 1
        for lo, h in parts
    )
    assert total == 90


@pytest.mark.parametrize(
    "start, end, n",
    [
        ("2018-02-01", "2018-02-28", 1),  # 28-day month
        ("2018-04-01", "2018-04-30", 1),  # 30-day month
        ("2018-01-01", "2018-01-31", 1),  # 31-day month
        ("2018-01-15", "2018-02-14", 1),  # 31 days across a month boundary
        ("2018-01-15", "2018-02-15", 2),  # 32 days
        ("2018-01-01", "2018-12-31", 8),  # a year, capped at 8
        ("1900-01-01", "3000-01-01", 8),  # the reader's unbounded default
        ("2018-01-01", "2018-01-01", 1),  # one day
        ("1995-01-01", "1996-12-31", 8),  # s1_socrata_pull's window
    ],
)
def test_partition_date_range_window_sized(start, end, n):
    parts = socrata.partition_date_range(start, end, 8)
    assert len(parts) == n
    assert parts[0][0] == start and parts[-1][1] == end
    days = [socrata.date.fromisoformat(d) for w in parts for d in w]
    for hi, lo in zip(days[1::2], days[2::2]):
        assert (lo - hi).days == 1  # disjoint and gap-free
    assert all(lo <= hi for lo, hi in zip(days[::2], days[1::2]))
    spans = [(hi - lo).days + 1 for lo, hi in zip(days[::2], days[1::2])]
    assert max(spans) - min(spans) <= 1  # ~equal windows


def test_read_socrata_distributed_pull(spark):
    recs = [
        {"permit_": "A", "issue_date": "2023-02-01T00:00:00.000", "pin_list": "1 | 2"},
        {"permit_": "B", "issue_date": "2023-05-01T00:00:00.000", "pin_list": None},
        {"permit_": "C", "issue_date": "2024-01-01T00:00:00.000", "pin_list": "3"},
    ]
    # the reader implements pushFilters: Spark plans it only with this set
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SocrataDataSource)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "recs.jsonl")
        with open(path, "w") as fh:
            fh.writelines(json.dumps(r) + "\n" for r in recs)
        df = (
            spark.read.format("socrata")
            .option("fixture_path", path)
            .option("start_date", "2023-01-01")
            .option("end_date", "2023-12-31")
            .option("num_partitions", "3")
            .load()
        )
        assert df.rdd.getNumPartitions() == 3
        got = sorted(r["permit_"] for r in df.collect())
    assert got == ["A", "B"]  # C is outside every date window


def test_default_fetch_is_stubbed():
    reader = SocrataReader(PERMITS_RAW_SCHEMA, {})
    with pytest.raises(NotImplementedError):
        list(reader.read(reader.partitions()[0]))


def test_empty_month_writes_empty_workbooks(spark, tmp_path):
    """A month whose Socrata response holds no records runs the whole
    chain and writes both workbooks the monthly run writes: the spec
    headers plus Ready and Errors, no data rows, and so no traffic
    lights or validations (those cover the data range only)."""
    from decimal import Decimal

    from extract_permits_spark.plans.permits import run_pipeline
    from extract_permits_spark.sinks.xlsx_io import read_xlsx
    from extract_permits_spark.sources.readers import (
        IASWORLD_PERMIT_SCHEMA,
        PIN_UNIVERSE_SCHEMA,
    )
    from extract_permits_spark.specs import PERMIT_COLUMNS

    response = tmp_path / "empty.jsonl"
    response.write_text("")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SocrataDataSource)
    raw = (
        spark.read.format("socrata")
        .option("fixture_path", str(response))
        .option("start_date", "2023-01-01")
        .option("end_date", "2023-01-31")
        .load()
    )
    universe = spark.createDataFrame(
        [("12081000060000", "1208100006", "1 MAIN ST", "2023", "City")], PIN_UNIVERSE_SCHEMA
    )
    existing = spark.createDataFrame(
        [("00000000000001", "1996-01-02 00:00:00.000", Decimal("1.00"),
          "1 N,,CHICAGO, IL", "O", "100000001", "x")], IASWORLD_PERMIT_SCHEMA)
    upload, review = run_pipeline(raw, universe, existing=existing, cache=True)
    up_path, rev_path = str(tmp_path / "upload.xlsx"), str(tmp_path / "review.xlsx")
    excel_sink.save_workbook(
        upload.withColumn("errors", F.lit("")), up_path,
        specs=PERMIT_COLUMNS, errors_col="errors", checked=True,
    )
    excel_sink.save_workbook(
        review, rev_path, specs=PERMIT_COLUMNS, errors_col="errors",
        pin_universe=universe.select("pin"),
    )
    headers = [s.header for s in PERMIT_COLUMNS] + ["Ready", "Errors"]
    assert len(headers) == 10
    for path in (up_path, rev_path):
        sheet = read_xlsx(path, "Permits")
        assert sheet.header == headers
        assert sheet.rows == []
        assert sheet.cond_formats == [] and sheet.validations == []
    assert read_xlsx(rev_path, "Universe of Valid PINs").rows == [
        ["12081000060000", "12-08-100-006-0000"]
    ]


def test_split_write_and_batches(spark):
    df = spark.createDataFrame(
        [(i, i % 3 == 0) for i in range(20)], "k long, has_error boolean"
    )
    with tempfile.TemporaryDirectory() as d:
        up, rev = os.path.join(d, "up"), os.path.join(d, "rev")
        upload, review = partition_valid(df)
        writers.write_canonical(upload, up)
        writers.write_canonical(review, rev)
        assert spark.read.parquet(up).count() == 13
        assert spark.read.parquet(rev).count() == 7
        assert "has_error" not in spark.read.parquet(up).columns

        bp = os.path.join(d, "batches")
        writers.write_upload_batches(df.select("k"), bp, ["k"], batch_size=8)
        out = spark.read.parquet(bp)
        assert out.where(F.col("batch") == 0).count() == 8
        assert out.where(F.col("batch") == 2).count() == 4


def test_cached_dimension_roundtrip(spark):
    calls = []

    def build():
        calls.append(1)
        return spark.range(5).withColumnRenamed("id", "pin")

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "dim")
        a = writers.cached_dimension(spark, build, p)
        b = writers.cached_dimension(spark, build, p)
        assert a.count() == b.count() == 5
        assert len(calls) == 1  # second call served from cache


def test_hyphenated_pin(spark):
    df = spark.createDataFrame([("12081000060000",)], "pin string")
    out = df.select(excel_sink.hyphenated_pin("pin").alias("h")).first()["h"]
    assert out == "12-08-100-006-0000"


def test_excel_render_real(spark):
    """S8 renders without openpyxl now (pure-stdlib codec; see
    tests/test_xlsx_io.py for the full round-trip suite)."""
    import os
    import tempfile
    import zipfile

    from extract_permits_spark.sinks.xlsx_io import read_xlsx
    from extract_permits_spark.specs import ColumnSpec

    df = spark.createDataFrame([("12081000060000", "HOUSE")], "pin string, work string")
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "out.xlsx")
        excel_sink.save_workbook(
            df.withColumn("errors", F.lit("")), p,
            specs=[ColumnSpec(c, c, src=c) for c in df.columns], errors_col="errors",
        )
        with zipfile.ZipFile(p) as zf:
            assert zf.testzip() is None
            assert "xl/workbook.xml" in zf.namelist()
        assert read_xlsx(p, "Permits").header == ["pin", "work", "Ready", "Errors"]


def test_flag_filters(spark):
    df = spark.createDataFrame(
        [("a", True), ("b", False), ("c", None)], "pin string, is_flagged boolean"
    )
    assert {r["pin"] for r in excel_sink.flagged_rows_from_frame(df).collect()} == {"a"}
    assert {r["pin"] for r in excel_sink.without_flagged_rows(df).collect()} == {
        "b",
        "c",
    }


def test_observation_metrics_single_pass(spark, tmp_path):
    """Observation metrics ride the write action itself — counts and
    bounds arrive without any second scan of the data."""
    from pyspark.sql import functions as F

    from extract_permits_spark.operators.metrics import observe_quality

    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 10 == 0).alias("has_error"),
        (F.col("id") * 2).alias("amount"),
    )
    instrumented, obs = observe_quality(df, error_flag="has_error", amount_col="amount")
    instrumented.write.mode("overwrite").parquet(str(tmp_path / "out"))
    got = obs.get
    assert got["n_rows"] == 1000
    assert got["n_errors"] == 100
    assert got["amount_min"] == 0 and got["amount_max"] == 1998


def test_csv_dimension_roundtrip(spark, tmp_path):
    """Reference-format CSV cache interop: header, quoting, all-string
    ingestion without inference (typed downstream, like every ingest)."""
    from pyspark.sql import types as T

    from extract_permits_spark.sinks.writers import (
        read_csv_dimension,
        write_csv_dimension,
    )

    df = spark.createDataFrame(
        [("04-34-100-016-0000", "0434100016", 'addr with, comma "q"', "2024")],
        ["pin", "pin10", "prop_address_full", "year"],
    )
    path = str(tmp_path / "dim_csv")
    write_csv_dimension(df, path)
    back = read_csv_dimension(spark, path)
    assert [f.dataType for f in back.schema.fields] == [T.StringType()] * 4
    assert back.collect() == df.collect()

    # explicit schema: single-pass typed read
    schema = T.StructType(
        [
            T.StructField("pin", T.StringType()),
            T.StructField("pin10", T.StringType()),
            T.StructField("prop_address_full", T.StringType()),
            T.StructField("year", T.IntegerType()),
        ]
    )
    typed = read_csv_dimension(spark, path, schema)
    assert typed.first()["year"] == 2024


def test_sorted_write_has_tight_rowgroup_stats(spark, tmp_path):
    """write_sorted_for_pruning must produce parquet whose row-group
    min/max ranges are disjoint (monotonic) on the sort column — the
    physical property row-group skipping needs. Verified from the footer
    with pyarrow, not assumed."""
    import glob

    import pyarrow.parquet as pq

    from extract_permits_spark.sinks.writers import write_sorted_for_pruning

    df = (
        spark.range(200_000)
        .selectExpr("cast(hash(id) % 1000000 as long) as k", "id")
        .repartition(2)
    )
    path = str(tmp_path / "sorted")
    # force several row groups per file so the property is non-trivial
    write_sorted_for_pruning(
        df, path, ["k"], **{"parquet.block.size": str(64 * 1024)}
    )

    saw_multi = False
    for f in glob.glob(path + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        ranges = []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            assert col.path_in_schema == "k"
            st = col.statistics
            ranges.append((st.min, st.max))
        saw_multi = saw_multi or len(ranges) > 1
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert lo1 <= hi1 <= lo2 <= hi2  # monotonic, disjoint-or-touching
    assert saw_multi, "expected multiple row groups to make the test meaningful"


def test_corrupt_json_ingestion_is_explicit(spark):
    """Ingestion robustness: schemaless JSON rows that fail the schema
    must land in an explicit corrupt-record column (PERMISSIVE), never
    silently null out — the loud-failure policy the r5 events regression
    taught (readers.py probes, never assumes)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    rows = [
        ('{"k": 1, "v": "ok"}',),
        ('{"k": "NOT_AN_INT", "v": "bad-type"}',),
        ("{broken json",),
    ]
    df = spark.createDataFrame(rows, ["raw"])
    schema = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("v", T.StringType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    parsed = df.select(
        F.from_json(
            "raw", schema, {"columnNameOfCorruptRecord": "_corrupt", "mode": "PERMISSIVE"}
        ).alias("j")
    ).select("j.*")
    got = parsed.collect()
    assert got[0]["k"] == 1 and got[0]["_corrupt"] is None
    # type mismatch: field nulls out, corrupt column keeps the evidence
    assert got[1]["k"] is None and got[1]["_corrupt"] is not None
    assert got[2]["k"] is None and got[2]["_corrupt"] is not None


def test_avro_probe_is_honest_gate(spark):
    import pytest

    from extract_permits_spark.sinks import avro_io

    if avro_io.avro_available(spark):  # deployment environment
        import tempfile

        d = tempfile.mkdtemp() + "/t"
        avro_io.write_avro(spark.range(3), d)
        assert avro_io.read_avro(spark, d).count() == 3
    else:
        with pytest.raises(NotImplementedError, match="spark-avro"):
            avro_io.write_avro(spark.range(1), "/tmp/nowhere_avro")
        with pytest.raises(NotImplementedError, match="spark-avro"):
            avro_io.read_avro(spark, "/tmp/nowhere_avro")


def test_avro_probe_cache_is_per_application(spark):
    """A stale probe result from an earlier Spark application must not be
    reused for a new one (ADVICE r7: a session created with --packages
    after a negative probe was permanently gated off)."""
    from extract_permits_spark.sinks import avro_io

    avro_io.reset_avro_probe()
    assert avro_io._AVAILABLE == {}
    # seed a fake earlier application's answer; this session's probe must
    # run fresh and land under its own applicationId key
    avro_io._AVAILABLE["app-000-stale"] = True
    got = avro_io.avro_available(spark)
    key = spark.sparkContext.applicationId
    assert key in avro_io._AVAILABLE
    assert avro_io._AVAILABLE[key] == got
    assert got is avro_io.avro_available(spark)  # cached on repeat
    avro_io.reset_avro_probe()
