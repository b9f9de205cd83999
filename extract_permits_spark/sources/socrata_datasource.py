"""Socrata as a Spark 4 Python DataSource with real filter pushdown (S1).

The one Socrata reader (the SoQL shape and the window split live in
sources/socrata.py): register once, then

    spark.dataSource.register(SocrataDataSource)
    spark.read.format("socrata")
         .option("start_date", "1900-01-01").option("end_date", "3000-01-01")
         .load()
         .where("issue_date >= '2023-01-01'")   # ← pushed into the fetch

``pushFilters`` narrows the date window from Catalyst's filters on the
``DATE_COL`` (``issue_date``) column (the SoQL ``$where`` the reference
hand-builds, chicago/permit_cleaning.py:539-554), ``partitions()``
splits the window into one fetch per task, and each task pulls only its
slice. Partitions are window-sized
(``socrata.partition_date_range``): a window of up to 31 days — the
reference's monthly pull — is one partition and one fetch, and longer
ranges split into month-or-longer windows, at most ``num_partitions``. The
window is whole days, coarser than a filter such as
``issue_date < '2024-01-01'`` or ``= '2023-06-15'`` on a timestamp string,
so every pushed filter is also handed back and Spark re-applies it exactly
to the narrowed fetch.

The schema is ``readers.PERMITS_RAW_SCHEMA`` unless the ``schema_ddl``
option names another; every column is a string. A JSON string value
arrives decoded; any other JSON value (number, bool, object, array)
arrives as its JSON text exactly as the response spells it, as
``spark.read.json`` gives for a string-typed field. A missing field or a
JSON null is null; fields outside the schema are ignored. A record whose
date field is not a JSON string falls outside every window, as an
unparseable date does.

Offline mode (no network egress): ``fixture_path`` points at a JSON-lines
file served through the same SoQL filter semantics, so the pushdown path
is fully testable. ``SocrataReader._fetch(start, end)`` is the seam for
the HTTP GET: a subclass overrides it (``s1_socrata_pull`` serves each
window from a parquet file this way).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql import types as T

from extract_permits_spark.sources.readers import PERMITS_RAW_SCHEMA
from extract_permits_spark.sources.socrata import partition_date_range

DATE_COL = "issue_date"
_DECODER = json.JSONDecoder()
_WS = re.compile(r"[ \t\n\r]*")


def _raw_fields(text: str) -> dict[str, str]:
    """Top-level field -> the JSON text of its value, exactly as written."""
    out: dict[str, str] = {}
    i = _WS.match(text, text.index("{") + 1).end()
    while text[i] != "}":
        key, i = json.decoder.scanstring(text, i + 1)
        i = _WS.match(text, text.index(":", i) + 1).end()
        _, end = _DECODER.raw_decode(text, i)
        out[key] = text[i:end]
        i = _WS.match(text, end).end()
        if text[i] == ",":
            i = _WS.match(text, i + 1).end()
    return out


@dataclass
class DateWindow(InputPartition):
    start: str
    end: str


class SocrataReader(DataSourceReader):
    def __init__(self, schema: T.StructType, options: dict):
        self.schema_ = schema
        self.start = options.get("start_date", "1900-01-01")
        self.end = options.get("end_date", "3000-01-01")
        self.num_partitions = int(options.get("num_partitions", "8"))
        self.fixture_path = options.get("fixture_path")

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Narrow the whole-day fetch window from date-column predicates.
        Every filter is returned: the window keeps each row a filter could
        accept, and Spark evaluates the filters exactly post-scan."""
        for f in filters:
            col = f.attribute[0] if hasattr(f, "attribute") else None
            if col == DATE_COL and isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                self.start = max(self.start, str(f.value)[:10])
            elif col == DATE_COL and isinstance(f, (LessThan, LessThanOrEqual)):
                self.end = min(self.end, str(f.value)[:10])
            elif col == DATE_COL and isinstance(f, EqualTo):
                self.start = self.end = str(f.value)[:10]
            yield f

    def partitions(self) -> Sequence[InputPartition]:
        return [
            DateWindow(lo, hi)
            for lo, hi in partition_date_range(self.start, self.end, self.num_partitions)
        ]

    def read(self, partition: DateWindow) -> Iterator[tuple]:
        names = [f.name for f in self.schema_.fields]
        for line in self._fetch(partition.start, partition.end):
            rec = json.loads(line)
            d = rec.get(DATE_COL)
            # same SoQL date-prefix semantics as the window split
            if not isinstance(d, str) or not (partition.start <= d[:10] <= partition.end):
                continue
            values = [rec.get(n) for n in names]
            if not all(v is None or isinstance(v, str) for v in values):
                raw = _raw_fields(line)
                values = [
                    v if v is None or isinstance(v, str) else raw[n]
                    for n, v in zip(names, values)
                ]
            yield tuple(values)

    def _fetch(self, start: str, end: str) -> Iterator[str]:
        """The response's records, one JSON object text each."""
        if self.fixture_path:
            with open(self.fixture_path) as fh:
                yield from (line for line in fh if line.strip())
            return
        raise NotImplementedError(
            "no network egress in this environment; set fixture_path, or swap "
            "_fetch for an HTTP SoQL GET in deployment"
        )


class SocrataDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "socrata"

    def schema(self) -> T.StructType | str:
        return self.options.get("schema_ddl", PERMITS_RAW_SCHEMA)

    def reader(self, schema: T.StructType) -> SocrataReader:
        return SocrataReader(schema, dict(self.options))
