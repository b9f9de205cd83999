"""Warehouse dedup: canonicalize join keys + multi-key anti-join
(SURVEY.md §2.2 P13 + §2.4 J2).

Reference: deduplicate_permits chicago/permit_cleaning.py:820-883.

Scale: the anti-join shuffles both sides on the 7-part composite key; with
AQE on, a small warehouse side broadcasts instead. The reference's Athena
``WHERE permdt BETWEEN`` range belongs to whoever reads the warehouse
table: a filter on ``existing`` pushes down to its scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from extract_permits_spark.operators.clean import (
    canonical_address_note,
    canonical_amount,
    canonical_description,
    canonical_permdt,
)
from extract_permits_spark.operators.joins import anti_join_existing

# canonical key column names follow the warehouse (iasworld.permit) side;
# the permit frame already has an ``amount`` column, so that key joins
# under ``amount_key``
KEYS = ["parid", "permdt", "amount", "note2", "user21", "user28", "user43"]
JOIN_KEYS = ["amount_key" if k == "amount" else k for k in KEYS]


def canonicalize_for_dedup(df: DataFrame) -> DataFrame:
    """P13: add the 7 canonicalized key columns (reference :848-871)."""
    return (
        df.withColumn("parid", F.col("pin"))
        .withColumn("permdt", canonical_permdt("issue_date"))
        .withColumn("amount_key", canonical_amount("amount"))
        .withColumn("note2", canonical_address_note("applicant_street_address"))
        .withColumn("user21", F.col("applicant"))
        .withColumn("user28", F.col("permit_number"))
        .withColumn("user43", canonical_description("work_description"))
    )


def deduplicate_permits(permits: DataFrame, existing: DataFrame) -> DataFrame:
    """J2: drop permits already present in the warehouse table.

    ``existing`` carries the warehouse column names (KEYS); ``permits`` is
    canonicalized first.
    """
    keyed = canonicalize_for_dedup(permits)
    probe = existing.select(
        *[
            F.col(k).cast("decimal(38,2)").alias(j) if k != j else F.col(k)
            for k, j in zip(KEYS, JOIN_KEYS)
        ]
    )
    return anti_join_existing(keyed, probe, JOIN_KEYS).drop(*JOIN_KEYS)
