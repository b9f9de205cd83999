"""The three benchmark workloads.

Each workload makes its seed-independent inputs once per checkout
(``build_cache``, in a process of its own), generates the rest without
Spark (``generate``), registers
what a user registers once per session (``start``), builds state the
timed region must not pay for (``prepare``), and then runs operations:
``before_op`` (untimed), ``op`` (timed: first call into the program until
the output is committed) and ``check`` (untimed output check, returns the
rows committed). ``traced_op`` runs one operation with spans around the
layer calls; ``layer_pass`` forces the layer prefixes once for self times
and operator counts.

Why these three workloads, and which layer metric should move which
end-to-end metric, is written down in README.md next to this file.
"""

from __future__ import annotations

import gc
import json
import os
import pickle
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import gen
from tracing import Tracer, force, plan_exchanges, wrapped

INT32_MAX = 2_147_483_647


class CheckFailed(Exception):
    """An operation's output did not match what its inputs imply."""


def _dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under a written parquet directory."""
    files = total = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                total += os.path.getsize(os.path.join(root, n))
    return files, total


def _count():
    from pyspark.sql import functions as F

    return F.count(F.lit(1))


def settle(spark) -> None:
    """Untimed, before every operation: drop cached frames, free the
    scratch checkpoints the program registers (a long-lived session must
    free them between evaluations, see ``session.free_scratch_checkpoints``)
    and collect both heaps, so each operation starts from the same heap
    state instead of paying for its predecessors' garbage."""
    from extract_permits_spark.session import free_scratch_checkpoints

    free_scratch_checkpoints()
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


class _Permits:
    """Shared by both permit workloads: inputs, warehouse, prefix forcing."""

    min_ops = 1

    def __init__(self, run_dir: str, seed: int, cache: str) -> None:
        self.run_dir = run_dir
        self.seed = seed
        self.cache = cache
        self.in_dir = os.path.join(run_dir, "inputs")

    def build_cache(self) -> None:
        """Seed-independent inputs, made once per checkout in a session of
        their own: the permit tables, and the canonicalized dedup keys of
        every permit (``canonicalize_for_dedup`` over its cleaned rows),
        from which each run cuts its ``iasworld_permit`` table without a
        Spark job of its own."""
        from pyspark.sql import functions as F

        from extract_permits_spark.operators.dedup import canonicalize_for_dedup
        from extract_permits_spark.plans.permits import clean_permits
        from extract_permits_spark.session import get_spark
        from extract_permits_spark.sources import readers

        data = gen.permit_data()
        with open(os.path.join(self.cache, "permit_data.pkl"), "wb") as fh:
            pickle.dump(data, fh)
        info = gen.write_permit_inputs(data, self.seed, self.in_dir)
        gen.write_permits_raw(data, info["paths"]["permits_raw"])
        spark = get_spark("perfbench-cache")
        try:
            raw = spark.read.schema(readers.PERMITS_RAW_SCHEMA).parquet(info["paths"]["permits_raw"])
            uni = spark.read.schema(readers.PIN_UNIVERSE_SCHEMA).parquet(info["paths"]["pin_universe"])
            canonicalize_for_dedup(clean_permits(raw, uni)).select(
                "parid", "permdt", F.col("amount_key").alias("amount"),
                "note2", "user21", "user28", "user43",
            ).write.parquet(os.path.join(self.cache, "dedup_keys.parquet"))
        finally:
            spark.stop()

    def generate(self) -> None:
        with open(os.path.join(self.cache, "permit_data.pkl"), "rb") as fh:
            self.data = pickle.load(fh)
        self.info = gen.write_permit_inputs(self.data, self.seed, self.in_dir)
        self.in_warehouse = np.zeros(gen.N_PERMITS, dtype=bool)
        self.in_warehouse[self.info["subset"]] = True
        self.universe_pins = set(self.data.universe["pin"])

    def start(self, spark) -> None:
        from extract_permits_spark.sources import readers

        self.spark = spark
        self.readers = readers

    def _universe(self):
        return self.spark.read.schema(self.readers.PIN_UNIVERSE_SCHEMA).parquet(
            self.info["paths"]["pin_universe"]
        )

    def prepare(self) -> None:
        """Seed ``iasworld_permit`` with the canonicalized keys of the
        chosen permits' cleaned rows, so the dedup anti-join has known
        work."""
        keys = pq.read_table(os.path.join(self.cache, "dedup_keys.parquet"))
        chosen = pa.array([self.data.permits["permit_"][i] for i in self.info["subset"]])
        seeded = keys.filter(pc.is_in(keys["user28"], value_set=chosen))
        if seeded.num_rows != self.info["seeded_rows"]:
            raise CheckFailed(
                f"warehouse has {seeded.num_rows} rows, expected {self.info['seeded_rows']}"
            )
        self.warehouse_path = os.path.join(self.in_dir, "iasworld_permit.parquet")
        pq.write_table(seeded, self.warehouse_path)
        self.existing = self.spark.read.schema(self.readers.IASWORLD_PERMIT_SCHEMA).parquet(
            self.warehouse_path
        )

    def layer_pass(self, raw, n_permits: int, seeded_rows: int) -> dict[str, float]:
        """Force each prefix of the chain into the noop sink; a layer's self
        time is the difference between consecutive prefixes."""
        from pyspark.sql import functions as F

        from extract_permits_spark.operators.dedup import deduplicate_permits
        from extract_permits_spark.operators.enrich import tag_keywords
        from extract_permits_spark.operators.joins import semi_join_membership
        from extract_permits_spark.operators.validate import with_validation
        from extract_permits_spark.plans.permits import clean_permits

        uni = self._universe()
        one = F.lit(1)
        cleaned = clean_permits(raw, uni)
        t_clean, c = force(cleaned, {
            "rows": F.count(one),
            "hits": F.sum(F.when(F.col("suggested_pins") != "", 1).otherwise(0)),
        })
        deduped = deduplicate_permits(cleaned, self.existing)
        t_dedup, d = force(deduped, {"rows": F.count(one)})
        flagged = semi_join_membership(
            deduped, uni.select(F.lpad("pin", 14, "0").alias("pin")),
            left_key="pin", right_key="pin", flag_col="in_universe",
        )
        validated = with_validation(flagged, extra_error=~F.col("in_universe"))
        t_valid, v = force(validated, {
            "rows": F.count(one), "review": F.sum(F.col("has_error").cast("long")),
        })
        tagged = tag_keywords(validated, "work_description")
        t_enrich, e = force(tagged, {
            "tagged": F.sum(F.when(F.col("matched_keywords") != "", 1).otherwise(0)),
        })
        removed = c["rows"] - d["rows"]
        return {
            "operators.clean.self_s": t_clean,
            "operators.dedup.self_s": t_dedup - t_clean,
            "operators.validate.self_s": t_valid - t_dedup,
            "operators.enrich.self_s": t_enrich - t_valid,
            "chain.noop_s": t_enrich,
            "reshape.fanout": c["rows"] / n_permits,
            "joins.suggested_hit_ratio": c["hits"] / c["rows"],
            "dedup.removed_rows": removed,
            "dedup.removed_ratio": removed / seeded_rows,
            "validate.review_share": v["review"] / v["rows"],
            "enrich.tagged_share": e["tagged"] / v["rows"],
        }

    def _check_upload(self, cols: dict[str, list]) -> None:
        """Every upload row satisfies the column validators and its PIN is
        in the parcel universe (checked here in plain Python)."""
        import pandas as pd

        df = pd.DataFrame(cols)
        bad = ~df["pin"].fillna("").str.fullmatch(r"\d{14}")
        bad |= ~df["pin"].isin(self.universe_pins)
        bad |= ~df["permit_number"].fillna("").str.len().isin([9, 10])
        bad |= pd.to_datetime(df["issue_date"], format="%m/%d/%Y", errors="coerce").isna()
        amount = pd.to_numeric(df["amount"], errors="coerce")
        bad |= amount.isna() | (amount < 1) | (amount > INT32_MAX)
        for col, limit in (("applicant_street_address", 40), ("applicant", 50)):
            s = df[col].fillna("")
            bad |= (s.str.strip() == "") | (s.str.len() > limit)
        bad |= df["city_state"].fillna("").str.strip() == ""
        bad |= df["work_description"].fillna("").str.len() > 2000
        if bad.any():
            raise CheckFailed(f"{int(bad.sum())} upload rows violate a validator")


class PermitBulk(_Permits):
    """Backfill: the whole §3.1 chain over all 150,000 permits, written as
    one parquet dataset partitioned by ``has_error``."""

    name = "permit_bulk"

    def generate(self) -> None:
        super().generate()
        gen.write_permits_raw(self.data, self.info["paths"]["permits_raw"])

    def prepare(self) -> None:
        super().prepare()
        self.out_dir = os.path.join(self.run_dir, "bulk_out")

    def _raw(self):
        return self.spark.read.schema(self.readers.PERMITS_RAW_SCHEMA).parquet(
            self.info["paths"]["permits_raw"]
        )

    def before_op(self, i: int) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)
        settle(self.spark)

    def op(self, i: int) -> None:
        from extract_permits_spark.plans.permits import write_pipeline_partitioned

        write_pipeline_partitioned(
            self._raw(), self._universe(), self.out_dir, existing=self.existing
        )

    def check(self, i: int) -> int:
        if not os.path.exists(os.path.join(self.out_dir, "_SUCCESS")):
            raise CheckFailed("no _SUCCESS marker")
        ds = pads.dataset(
            self.out_dir, format="parquet",
            partitioning=pads.partitioning(pa.schema([("has_error", pa.bool_())]), flavor="hive"),
        )
        total = ds.count_rows()
        want = self.info["exploded_rows"] - self.info["seeded_rows"]
        if total != want:
            raise CheckFailed(f"{total} rows written, expected {want}")
        upload = ds.to_table(
            filter=pads.field("has_error") == False,  # noqa: E712
            columns=[
                "pin", "permit_number", "issue_date", "amount",
                "applicant_street_address", "city_state", "applicant",
                "work_description",
            ],
        )
        if upload.num_rows in (0, total):
            raise CheckFailed("upload/review split is degenerate")
        self._check_upload(upload.to_pydict())
        return total

    def traced_op(self, i: int, tr: Tracer) -> dict[str, float]:
        from extract_permits_spark.plans.permits import (
            validated_permits,
            write_pipeline_partitioned,
        )

        self.before_op(i)
        with tr.op(i):
            with tr.span("sources.read"):
                _, r = force(self._raw(), {"rows": _count()})
            with tr.span("plans.build"):
                plan = validated_permits(self._raw(), self._universe(), self.existing)
            with tr.span("plans.optimize"):
                _, exchanges = plan_exchanges(plan)
            with tr.span("sinks.parquet.write"):
                write_pipeline_partitioned(
                    self._raw(), self._universe(), self.out_dir, existing=self.existing
                )
        rows = self.check(i)
        files, size = _dir_bytes(self.out_dir)
        return {
            "sources.records_parsed": r["rows"],
            "sources.records_kept": r["rows"],
            "plans.exchanges": exchanges,
            "sinks.parquet.files": files,
            "sinks.parquet.bytes_per_row": size / rows,
        }

    def layer_pass(self) -> dict[str, float]:
        return super().layer_pass(self._raw(), gen.N_PERMITS, self.info["seeded_rows"])


class PermitMonthly(_Permits):
    """The reference's run mode: one month per operation, pulled from a
    Socrata JSON-lines response, ending in the upload and review
    workbooks."""

    name = "permit_monthly"
    # months after the warm-up one still speed up while the JIT compiles
    # (the first timed month ~15% slower than the second, by a steady
    # ratio), so at least two months are timed and their median reported
    min_ops = 2

    def start(self, spark) -> None:
        super().start(spark)
        from extract_permits_spark.sources.socrata_datasource import SocrataDataSource

        spark.dataSource.register(SocrataDataSource)

    def prepare(self) -> None:
        super().prepare()
        self.order = gen.month_order(self.seed)
        self.month_dir = os.path.join(self.run_dir, "months")
        self.out_dir = os.path.join(self.run_dir, "workbooks")
        os.makedirs(self.month_dir, exist_ok=True)
        os.makedirs(self.out_dir, exist_ok=True)
        self.universe_df = self._universe()

    def before_op(self, i: int) -> None:
        self.month = self.order[i % len(self.order)]
        self.month_path = os.path.join(self.month_dir, f"{self.month:02d}.jsonl")
        self.n_records = gen.write_month_jsonl(self.data, self.month, self.month_path)
        for f in os.listdir(self.out_dir):
            os.remove(os.path.join(self.out_dir, f))
        self._frames = None
        settle(self.spark)

    def _raw(self):
        lo, hi = gen.month_window(self.month)
        return (
            self.spark.read.format("socrata")
            .option("fixture_path", self.month_path)
            .option("start_date", lo)
            .option("end_date", hi)
            .load()
        )

    def _paths(self) -> tuple[str, str]:
        return (
            os.path.join(self.out_dir, f"upload_{self.month:02d}.xlsx"),
            os.path.join(self.out_dir, f"review_{self.month:02d}.xlsx"),
        )

    def _write(self, upload, review) -> None:
        from pyspark.sql import functions as F

        from extract_permits_spark.sinks import excel_sink
        from extract_permits_spark.specs import PERMIT_COLUMNS

        up_path, rev_path = self._paths()
        excel_sink.save_workbook(
            upload.withColumn("errors", F.lit("")), up_path,
            specs=PERMIT_COLUMNS, errors_col="errors", checked=True,
        )
        excel_sink.save_workbook(
            review, rev_path, specs=PERMIT_COLUMNS, errors_col="errors",
            pin_universe=self.universe_df.select("pin"),
        )

    def op(self, i: int) -> None:
        from extract_permits_spark.plans.permits import run_pipeline

        upload, review = run_pipeline(
            self._raw(), self.universe_df, existing=self.existing, cache=True
        )
        self._write(upload, review)
        self._frames = (upload, review)

    def check(self, i: int) -> int:
        from extract_permits_spark.sinks.xlsx_io import read_xlsx
        from extract_permits_spark.specs import PERMIT_COLUMNS

        upload, review = self._frames
        counts = upload.count(), review.count()
        # records with an unparseable issue_date fall outside every date
        # window, so the source never returns them
        mine = (self.data.month == self.month) & self.data.dated
        want = int(self.data.n_pins[mine].sum()) - int(
            self.data.n_pins[mine & self.in_warehouse].sum()
        )
        if sum(counts) != want:
            raise CheckFailed(f"month {self.month}: {sum(counts)} rows, expected {want}")
        headers = [s.header for s in PERMIT_COLUMNS]
        for path, n in zip(self._paths(), counts):
            sheet = read_xlsx(path)
            if sheet.header[: len(headers)] != headers:
                raise CheckFailed(f"{os.path.basename(path)}: header {sheet.header}")
            if len(sheet.rows) != n:
                raise CheckFailed(f"{os.path.basename(path)}: {len(sheet.rows)} rows, frame has {n}")
        return want

    def traced_op(self, i: int, tr: Tracer) -> dict[str, float]:
        from extract_permits_spark.plans.permits import run_pipeline, validated_permits
        from extract_permits_spark.sinks import excel_sink
        from extract_permits_spark.sources.socrata_datasource import SocrataReader

        self.before_op(i)
        lo, hi = gen.month_window(self.month)
        # every input partition of the reader re-reads the whole response
        # and keeps its own date window
        n_parts = len(SocrataReader(None, {"start_date": lo, "end_date": hi}).partitions())
        with tr.op(i):
            with tr.span("sources.read"):
                _, r = force(self._raw(), {"rows": _count()})
            with tr.span("plans.build"):
                plan = validated_permits(self._raw(), self.universe_df, self.existing)
            with tr.span("plans.optimize"):
                _, exchanges = plan_exchanges(plan)
            with tr.span("operators.execute"):
                upload, review = run_pipeline(
                    self._raw(), self.universe_df, existing=self.existing, cache=True
                )
                upload.count()
            with tr.span("sinks.xlsx"), wrapped(tr, excel_sink, "write_xlsx", "sinks.xlsx.render"):
                self._write(upload, review)
        self._frames = (upload, review)
        self.check(i)
        return {
            "sources.records_parsed": self.n_records * n_parts,
            "sources.records_kept": r["rows"],
            "plans.exchanges": exchanges,
            "sinks.xlsx.bytes": sum(os.path.getsize(p) for p in self._paths()),
        }

    def layer_pass(self) -> dict[str, float]:
        mine = (self.data.month == self.month) & self.data.dated
        seeded = int(self.data.n_pins[mine & self.in_warehouse].sum())
        return super().layer_pass(self._raw(), int(mine.sum()), seeded)


class CorpusCuration:
    """``llm_corpus_curation`` over the 5,000-document corpus, memo caches
    cleared before every operation."""

    name = "corpus_curation"
    min_ops = 1

    def __init__(self, run_dir: str, seed: int, cache: str) -> None:
        self.run_dir = run_dir
        self.seed = seed
        self.cache = cache
        self.docs_dir = os.path.join(run_dir, "corpus")
        self.out_dir = os.path.join(run_dir, "curated")
        self.checked_rows = None

    def build_cache(self) -> None:
        """The oracle's answer, once per checkout: DuckDB running the
        registry's oracle SQL (``analytics.oracle_sql()``) over the
        documents. The seed only reorders them, so the answer holds for
        every seed. It takes longer than a curation, so runs do not repeat
        it."""
        import duckdb

        from extract_permits_spark.plans import analytics

        self.generate()
        sql = analytics.oracle_sql()["llm_corpus_curation"]
        path = os.path.join(self.docs_dir, "documents.parquet")
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            rows = sorted(con.execute(sql).fetchall())
        finally:
            con.close()
        with open(os.path.join(self.cache, "curation_oracle.json"), "w") as fh:
            json.dump({"rows": rows}, fh)

    def generate(self) -> None:
        gen.write_documents(self.seed, self.docs_dir)

    def start(self, spark) -> None:
        from extract_permits_spark.plans import _registry, analytics  # noqa: F401

        self.spark = spark
        self.registry = _registry

    def prepare(self) -> None:
        pass

    def before_op(self, i: int) -> None:
        self.registry.clear_frame_caches()
        shutil.rmtree(self.out_dir, ignore_errors=True)
        settle(self.spark)

    def op(self, i: int) -> None:
        from extract_permits_spark.plans.analytics_events import llm_corpus_curation

        llm_corpus_curation(self.spark, self.docs_dir).write.mode("overwrite").parquet(
            self.out_dir
        )

    def check(self, i: int) -> int:
        if not os.path.exists(os.path.join(self.out_dir, "_SUCCESS")):
            raise CheckFailed("no _SUCCESS marker")
        got = pq.ParquetDataset(self.out_dir).read()
        cols = ["doc_id", "source", "n_toks", "split"]
        rows = sorted(zip(*[got.column(c).to_pylist() for c in cols]))
        if self.checked_rows is None:
            self._check_oracle(rows)
            self.checked_rows = rows
        elif rows != self.checked_rows:
            raise CheckFailed("curation differs from the run's first curation")
        return len(rows)

    def _check_oracle(self, rows: list[tuple]) -> None:
        """Row by row against the cached oracle answer."""
        with open(os.path.join(self.cache, "curation_oracle.json")) as fh:
            want = [tuple(r) for r in json.load(fh)["rows"]]
        if rows != want:
            raise CheckFailed(f"curation differs from the oracle ({len(rows)} vs {len(want)} rows)")

    def traced_op(self, i: int, tr: Tracer) -> dict[str, float]:
        from extract_permits_spark.plans.analytics_events import llm_corpus_curation
        from extract_permits_spark.sources.readers import load_table

        self.before_op(i)
        with tr.op(i):
            with tr.span("sources.read"):
                _, r = force(load_table(self.spark, self.docs_dir, "documents"), {"rows": _count()})
            with tr.span("plans.build"):
                df = llm_corpus_curation(self.spark, self.docs_dir)
            with tr.span("plans.optimize"):
                _, exchanges = plan_exchanges(df)
            with tr.span("sinks.parquet.write"):
                df.write.mode("overwrite").parquet(self.out_dir)
        rows = self.check(i)
        files, size = _dir_bytes(self.out_dir)
        return {
            "sources.records_parsed": r["rows"],
            "sources.records_kept": r["rows"],
            "plans.exchanges": exchanges,
            "sinks.parquet.files": files,
            "sinks.parquet.bytes_per_row": size / rows,
            "curation.kept_ratio": rows / gen.N_DOCS,
        }

    def layer_pass(self) -> dict[str, float]:
        from pyspark.sql import functions as F

        from extract_permits_spark.operators.graph import connected_components
        from extract_permits_spark.plans.analytics_core import docs_pretrain_filter

        self.registry.clear_frame_caches()
        t_filter, _ = force(docs_pretrain_filter(self.spark, self.docs_dir))
        t_pairs, p = force(
            self.registry._collapsed_edges(self.spark, self.docs_dir), {"rows": _count()}
        )
        t0 = time.perf_counter()
        comps = connected_components(self.registry._collapsed_edges(self.spark, self.docs_dir))
        t_comp = time.perf_counter() - t0 - t_pairs
        n_comp = comps.select("component").distinct().count()
        return {
            "functions.text.filter.self_s": t_filter,
            "functions.similarity.pairs.self_s": t_pairs,
            "operators.graph.components.self_s": t_comp,
            "graph.candidate_pairs": p["rows"],
            "graph.components": n_comp,
        }


WORKLOADS = {w.name: w for w in (PermitBulk, PermitMonthly, CorpusCuration)}
