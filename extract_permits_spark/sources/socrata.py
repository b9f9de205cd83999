"""Socrata-style HTTP JSON source with filter pushdown (SURVEY.md §2.1 S1).

The reference fetches permits via one Socrata SoQL GET
(download_permits, chicago/permit_cleaning.py:539-554) with
``$where issue_date between .. and ..``, ``$order``, ``$limit``.

Spark-native shape: a Python DataSource (Spark 4 ``spark.dataSource``
API) whose reader translates pushed filters into SoQL — the distributed
generalization of the reference's single GET (partition by date range so
1000 executors fetch disjoint windows). Network egress doesn't exist in
this container, so ``fetch`` is injectable and defaults to a stub that
raises; the SoQL translation + partitioning logic is real and unit-tested.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from datetime import date, timedelta
from typing import Callable, Iterable, Sequence


@dataclass(frozen=True)
class SoqlQuery:
    dataset: str
    where: str | None
    order: str | None
    limit: int

    def to_params(self) -> dict[str, str]:
        p: dict[str, str] = {"$limit": str(self.limit)}
        if self.where:
            p["$where"] = self.where
        if self.order:
            p["$order"] = self.order
        return p


def build_soql(
    dataset: str,
    date_col: str,
    start_date: str,
    end_date: str,
    order_desc: bool = True,
    limit: int = 10_000_000,
) -> SoqlQuery:
    """SoQL for a date-range pull — mirrors the reference's request
    (``$where issue_date between '{s}' and '{e}'``, ``$order=issue_date
    DESC``, ``$limit=10000000``)."""
    return SoqlQuery(
        dataset=dataset,
        where=f"{date_col} between '{start_date}' and '{end_date}'",
        order=f"{date_col} DESC" if order_desc else None,
        limit=limit,
    )


def partition_date_range(
    start_date: str, end_date: str, num_partitions: int
) -> list[tuple[str, str]]:
    """Split [start, end] into ~equal disjoint windows — one HTTP pull per
    Spark partition, the scale answer to the reference's single GET. A
    window is at least a month long (31 days), so a one-month pull is one
    fetch; ``num_partitions`` caps the count for long ranges."""
    s, e = date.fromisoformat(start_date), date.fromisoformat(end_date)
    days = (e - s).days + 1
    n = max(1, min(num_partitions, -(-days // 31)))
    step = days // n
    extra = days % n
    out: list[tuple[str, str]] = []
    cur = s
    for i in range(n):
        span = step + (1 if i < extra else 0)
        hi = cur + timedelta(days=span - 1)
        out.append((cur.isoformat(), hi.isoformat()))
        cur = hi + timedelta(days=1)
    return out


def default_fetch(url: str, params: dict[str, str]) -> list[dict]:
    raise NotImplementedError(
        "no network egress in this environment; inject a fetch callable "
        "(e.g. requests.get(...).json()) in deployment"
    )


def read_socrata(
    spark,
    dataset: str,
    date_col: str,
    start_date: str,
    end_date: str,
    schema,
    fetch: Callable[[str, dict[str, str]], list[dict]] = default_fetch,
    num_partitions: int = 8,
    base_url: str = "https://data.cityofchicago.org/resource",
):
    """Distributed Socrata read: partition the date range, fetch each
    window inside its partition (executor-side), parse JSON rows against
    the explicit schema. All-string schema matches JSON-arrives-untyped
    ingest semantics (chicago/permit_cleaning.py:552-553)."""
    windows = partition_date_range(start_date, end_date, num_partitions)
    url = f"{base_url}/{dataset}.json"
    names: Sequence[str] = [f.name for f in schema.fields]

    def pull(window: tuple[str, str]) -> Iterable[tuple]:
        q = build_soql(dataset, date_col, window[0], window[1])
        for rec in fetch(url, q.to_params()):
            yield tuple(
                None if rec.get(n) is None else str(rec.get(n)) for n in names
            )

    rdd = spark.sparkContext.parallelize(windows, len(windows)).flatMap(pull)
    return spark.createDataFrame(rdd, schema)


def _apply_soql(records: list[dict], params: dict[str, str]) -> list[dict]:
    """Record-server core: honor the SoQL between-filter + limit on a
    record list, exactly like the endpoint would."""
    where = params.get("$where", "")
    out = records
    if " between '" in where:
        col, rest = where.split(" between '", 1)
        lo, hi = rest.rstrip("'").split("' and '")
        col = col.strip()
        # SoQL date-bound semantics: date-only bounds include the whole
        # end day — compare on the date prefix
        out = [
            r for r in records if r.get(col) and lo[:10] <= r[col][:10] <= hi[:10]
        ]
    return json.loads(json.dumps(out[: int(params.get("$limit", 10**9))]))


def fake_fetch_from_records(records: list[dict]):
    """Test helper: a fetch that serves from an in-memory record list,
    honoring the SoQL between-filter on the requested column."""

    def fetch(url: str, params: dict[str, str]) -> list[dict]:
        return _apply_soql(records, params)

    return fetch


def fake_fetch_from_parquet(
    path: str,
    columns: Sequence[str],
    make_record: Callable[[dict], dict],
    filter_col_map: dict[str, str] | None = None,
):
    """Partition-side record server: serves SoQL requests from a local
    parquet file — the no-network stand-in for the HTTP endpoint that runs
    INSIDE each Spark partition. Nothing is collected on the driver; at
    scale each date-window partition issues its own bounded "request"
    exactly like the real fetch would.

    ``filter_col_map`` maps a record-space SoQL filter column (e.g.
    ``issue_date``) to its parquet source column (e.g. ``o_orderdate``);
    when provided, the ``$where between`` date bounds are pushed into
    ``pq.read_table(filters=...)`` so each partition's fetch decodes only
    its own window's row groups instead of materializing the full table
    per partition. ``_apply_soql`` still runs on the result for exact
    boundary and ``$limit`` semantics (the pushdown is a superset: whole
    end day included).
    """

    def fetch(url: str, params: dict[str, str]) -> list[dict]:
        from datetime import datetime, timedelta

        import pyarrow.parquet as pq

        filters = None
        where = params.get("$where", "")
        if filter_col_map and " between '" in where:
            col, rest = where.split(" between '", 1)
            pq_col = filter_col_map.get(col.strip())
            if pq_col:
                lo, hi = rest.rstrip("'").split("' and '")
                lo_ts = datetime.fromisoformat(lo[:10])
                # SoQL date-only bounds include the whole end day
                hi_ts = datetime.fromisoformat(hi[:10]) + timedelta(days=1)
                filters = [(pq_col, ">=", lo_ts), (pq_col, "<", hi_ts)]
        rows = pq.read_table(
            path, columns=list(columns), filters=filters
        ).to_pylist()
        return _apply_soql([make_record(r) for r in rows], params)

    return fetch
