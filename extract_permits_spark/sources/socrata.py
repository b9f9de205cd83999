"""Socrata SoQL request shape and date-window split (SURVEY.md §2.1 S1).

The reference fetches permits via one Socrata SoQL GET
(download_permits, chicago/permit_cleaning.py:539-554) with
``$where issue_date between .. and ..``, ``$order``, ``$limit``.
``build_soql`` reproduces that request; ``partition_date_range`` splits a
pull's date range into disjoint windows, one fetch per Spark partition.
The reader itself is the Python data source in
``sources/socrata_datasource.py``.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date, timedelta


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
