"""The production permit pipeline as one lazy DAG (SURVEY.md §3.1).

Reference flow (chicago/permit_cleaning.py:1138-1230):
constant city_state (P12) → explode multi-PIN (X1/X2) → format_pin (P4) →
organize columns (P1) with address assembly (P2) + date display (P3) →
abbreviate applicant (P7) → round amount (P8) → suggested PINs by address
(A2+J1) + links (P10/P11) + keyword tags (P9) → optional warehouse dedup
(P13+J2) → validation partition (E1+J6).

Everything is transformations on two source DataFrames; the only actions
are the final writes. Expected shuffles at scale: the A2 groupBy on the
universe (then broadcast), the dedup anti-join, and nothing else — explode,
cleaning, tagging and validation are all narrow.

``permits_from_tpch`` adapts the driver's TPC-H-ish fixtures into the
permit shape so the same DAG runs on testdata for the smoke entry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from extract_permits_spark.operators.clean import (
    abbreviate,
    assemble_address,
    cookviewer_link,
    pad_stripped_pin,
    parse_and_display_date,
    pin_digits,
    pin_link_from_digits,
    round_amount,
    strip_pin,
)
from extract_permits_spark.operators.dedup import deduplicate_permits
from extract_permits_spark.operators.enrich import tag_keywords
from extract_permits_spark.operators.joins import (
    semi_join_membership,
    suggested_values_join,
)
from extract_permits_spark.operators.reshape import explode_multi_value
from extract_permits_spark.operators.validate import partition_valid, with_validation
from extract_permits_spark.sources.readers import load_table
from extract_permits_spark import specs


def clean_permits(permits_raw: DataFrame, universe: DataFrame) -> DataFrame:
    """Steps P12→P2/P3/P7/P8→A2/J1→P10/P17→X1/X2→P4→P1→P11 as one plan.

    Staging (r5-VERDICT ask #6): every permit-level expression — the
    regexp-heavy address assembly, date parse/display, applicant
    abbreviation, amount rounding, and the suggested-PINs broadcast probe
    — is computed BEFORE the multi-PIN explode. The Generate node is a
    CollapseProject barrier, so Catalyst cannot re-inline these below-
    explode expressions into the post-explode projections: each evaluates
    once per PERMIT, and the explode fan-out (~4 PINs/permit in the
    fixtures) copies attribute values instead of re-running regexps.
    Only the genuinely per-PIN steps (P4 format, P1 registry projection,
    P11 pin link, validation) run on the exploded grain.

    The input is repartitioned to ``spark.sql.shuffle.partitions`` before
    any per-permit work. This stage is the one place where AQE's
    byte-based partition coalescing misjudges cost: the pre-explode rows
    are narrow (a few MB at sf0.1), so AQE coalesces the upstream shuffle
    to ONE partition — and then the regexp-heavy cleaning, the ~4× PIN
    explode, the 37-branch keyword tag, validation, and the sink all run
    on a single core (measured 7.5s → 2.5s at sf0.1/local[32] from this
    repartition alone). The explicit partition count is deliberate:
    ``repartition(col)`` without a count is itself subject to AQE
    coalescing, which would undo the fix. Shuffling here is scale-correct
    — it moves the *narrowest* representation of each permit (pre-explode,
    pre-enrichment), and the target tracks cluster size via the operator's
    ``spark.sql.shuffle.partitions`` setting rather than a constant."""
    n_part = int(permits_raw.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    permits_raw = permits_raw.repartition(n_part, "permit_")
    permits = permits_raw.withColumn("city_state", F.lit("CHICAGO, IL"))  # P12
    # permit-level cleaning, in place on the src columns so the registry
    # rename (organize_columns) picks them up unchanged
    pre = (
        permits.withColumn(
            "address",
            assemble_address("street_number", "street_direction", "street_name"),  # P2
        )
        .withColumn("issue_date", parse_and_display_date("issue_date"))  # P3
        .withColumn("contact_1_name", abbreviate("contact_1_name"))  # P7
        .withColumn("reported_cost", round_amount("reported_cost"))  # P8
    )
    pre = suggested_values_join(  # A2+J1 — permit-level key, pre-fan-out probe
        pre,
        universe.where(F.col("triad_name") == "City"),
        fact_key="address",
        dim_key="prop_address_full",
        dim_value="pin",
        out_col="suggested_pins",
    )
    pre = pre.withColumn("property_address", F.col("address")).withColumn(  # P17
        "cookviewer_link", cookviewer_link("property_address")  # P10
    )
    exploded = explode_multi_value(pre, "pin_list", out_col="solo_pin")  # X1+X2
    # P4 staged: the stripped form feeds three branches of format_pin —
    # materialize it once instead of three regexp_replace evaluations per
    # row (Catalyst doesn't CSE across branches; see SCALE.md)
    formatted = (
        exploded.withColumn("_stripped", strip_pin("solo_pin"))
        .withColumn("solo_pin", pad_stripped_pin("_stripped"))
        .drop("_stripped")
    )
    organized = specs.organize_columns(  # P1 — registry projection + renames
        formatted,
        keep_extra=[
            "pin_type",
            "suggested_pins",
            "property_address",
            "cookviewer_link",
        ],
    )
    # P11 staged: digits-only form used by both the length test and the
    # formula — one regexp per row instead of two
    enriched = (
        organized.withColumn("_digits", pin_digits("pin"))
        .withColumn("pin_link", pin_link_from_digits("pin", "_digits"))
        .drop("_digits")
    )
    # P9 is applied LAST in run_pipeline (after validation): any projection
    # added ON TOP of the 37-branch keyword expression makes Catalyst's
    # CollapseProject re-inline its staged subexpressions — measured +11 s
    # at sf0.1. Nothing downstream reads matched_keywords, so it goes on
    # top of the final frame instead.
    return enriched


def validated_permits(
    permits_raw: DataFrame,
    universe: DataFrame,
    existing: DataFrame | None = None,
) -> DataFrame:
    """Full §3.1 chain up to (and including) validation + keyword tagging —
    the single validated parent both output partitions derive from."""
    cleaned = clean_permits(permits_raw, universe)
    if existing is not None:
        cleaned = deduplicate_permits(cleaned, existing)  # P13+J2
    flagged = semi_join_membership(  # J6
        cleaned,
        universe.select(F.lpad("pin", 14, "0").alias("pin")),
        left_key="pin",
        right_key="pin",
        flag_col="in_universe",
    )
    validated = with_validation(flagged, extra_error=~F.col("in_universe"))  # E1+E2
    # P9 last: no projection may sit above the 37-branch keyword expression
    # or CollapseProject re-inlines its staged lower() 37× (see clean_permits)
    return tag_keywords(validated, "work_description")


def run_pipeline(
    permits_raw: DataFrame,
    universe: DataFrame,
    existing: DataFrame | None = None,
    cache: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Full §3.1 chain → (upload_df, review_df). ``cache=True`` persists
    the validated parent so consuming both outputs costs one scan."""
    return partition_valid(validated_permits(permits_raw, universe, existing), cache)


def write_pipeline_partitioned(
    permits_raw: DataFrame,
    universe: DataFrame,
    out_dir: str,
    existing: DataFrame | None = None,
) -> None:
    """SURVEY §2.9 E1's "one job, two filtered writes": compute the
    validated frame ONCE and write it partitioned by ``has_error`` —
    ``has_error=false/`` is the upload set, ``has_error=true/`` the review
    set. No persist, no second scan: the split is a partitioned write, so
    the whole pipeline is a single pass end to end. (The persist-based
    ``run_pipeline(cache=True)`` costs an extra full-frame serialization —
    measured ~7s of the 17s total at sf0.1 — and is only needed when both
    outputs must be consumed as in-memory DataFrames.) At cluster scale
    this is also the shape that avoids keeping the wide frame pinned in
    executor memory between the two consumers."""
    validated = validated_permits(permits_raw, universe, existing)
    validated.write.mode("overwrite").partitionBy("has_error").parquet(out_dir)


# order-key shift between permits_from_tpch copies: above every fixture's
# largest o_orderkey, so each copy contributes distinct permit numbers
_KEY_STRIDE = 10**7


def permits_from_tpch(
    spark: SparkSession, sf_dir: str, copies: int = 1
) -> tuple[DataFrame, DataFrame]:
    """Adapt orders+lineitem+customer fixtures into (permits_raw, universe).

    Orders play permits (o_orderkey → permit number, o_totalprice → cost);
    each order's lineitem part keys become its pipe-separated ``pin_list``
    (zero-padded to PIN width); customers play the parcel universe.
    Deterministic: every aggregation orders its inputs.

    ``copies > 1`` scale-amplifies the input: the fact tables are unioned
    ``copies`` times with order keys shifted by ``_KEY_STRIDE`` per copy —
    a LAZY sf×copies-equivalent input (nothing written, nothing collected)
    for benching the pipeline beyond the largest fixture. The universe
    (dimension) side is unchanged, which is exactly the production shape
    (fact grows, parcel universe doesn't).
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    amp_orders, amp_lineitem = orders, lineitem
    for c in range(1, copies):
        shift = F.lit(c * _KEY_STRIDE)
        amp_orders = amp_orders.unionByName(
            orders.withColumn("o_orderkey", F.col("o_orderkey") + shift)
        )
        amp_lineitem = amp_lineitem.unionByName(
            lineitem.withColumn("l_orderkey", F.col("l_orderkey") + shift)
        )

    # PIN-space modulus from the parquet FOOTER (pyarrow metadata) — an
    # O(footer-bytes) driver read instead of an eager Spark count() job on
    # every pipeline invocation (VERDICT r1 perf note)
    import os as _os

    import pyarrow.parquet as _pq

    n_cust = _pq.ParquetFile(
        _os.path.join(sf_dir, "customer.parquet")
    ).metadata.num_rows
    return permits_from_frames(amp_orders, amp_lineitem, customer, n_cust)


def permits_from_frames(
    orders: DataFrame, lineitem: DataFrame, customer: DataFrame, n_cust: int
) -> tuple[DataFrame, DataFrame]:
    """Core fixture→permit-shape adaptation over already-loaded frames."""
    pins = lineitem.groupBy("l_orderkey").agg(
        F.array_join(
            F.array_sort(
                F.collect_set(
                    F.lpad(
                        F.pmod(F.col("l_partkey"), F.lit(n_cust)).cast("string"), 14, "0"
                    )
                )
            ),
            " | ",
        ).alias("pin_list")
    )
    permits_raw = (
        orders.join(pins, orders.o_orderkey == pins.l_orderkey, "left")
        .select(
            F.concat(F.lit("1"), F.lpad(F.col("o_orderkey").cast("string"), 8, "0")).alias(
                "permit_"
            ),
            F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias(
                "issue_date"
            ),
            F.col("o_totalprice").cast("string").alias("reported_cost"),
            F.col("o_custkey").cast("string").alias("street_number"),
            F.lit("N").alias("street_direction"),
            F.col("o_orderpriority").alias("street_name"),
            F.lit(None).cast("string").alias("suffix"),
            F.col("o_orderstatus").alias("contact_1_name"),
            F.concat(F.lit("CONSTRUCT GARAGE AND REPAIR PORCH FOR ORDER "), "o_orderkey").alias(
                "work_description"
            ),
            F.col("pin_list"),
        )
    )
    universe = customer.select(
        F.lpad(F.col("c_custkey").cast("string"), 14, "0").alias("pin"),
        F.substring(F.lpad(F.col("c_custkey").cast("string"), 14, "0"), 1, 10).alias(
            "pin10"
        ),
        F.concat(F.col("c_custkey").cast("string"), F.lit(" N "), "c_mktsegment").alias(
            "prop_address_full"
        ),
        F.lit("2024").alias("year"),
        F.lit("City").alias("triad_name"),
    )
    return permits_raw, universe
