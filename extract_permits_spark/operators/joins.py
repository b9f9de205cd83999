"""Join operators (SURVEY.md §2.4, J1-J6).

All reference joins are equi-joins against small dimensions — broadcast
candidates. The dimension-side helpers (J1, J3, J6) always broadcast their
right side: at 100 TB the PIN universe (~10^6 rows) still broadcasts. The
J2 anti-join leaves the strategy to AQE, because a warehouse-sized right
side must shuffle.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def suggested_values_join(
    facts: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    dim_value: str,
    out_col: str = "suggested",
) -> DataFrame:
    """J1+A2: pre-aggregate dim values per key into a sorted comma string,
    then left-join onto facts; misses → ''.

    Reference: add_address_link_and_suggested_pins
    chicago/permit_cleaning.py:750-780 (groupby-unique-join :754-759).
    pandas ``unique()`` preserves first-seen input order, which is
    nondeterministic under parallel scan — we sort within group instead
    (documented divergence, SURVEY §7.4.1).

    Scale: the aggregation shuffles on ``dim_key`` once; the join side is a
    collapsed 1-row-per-key frame, broadcast.
    """
    collapsed = (
        dim.groupBy(F.col(dim_key).alias("_k"))
        .agg(
            F.array_join(F.array_sort(F.collect_set(F.col(dim_value))), ", ").alias(
                out_col
            )
        )
    )
    joined = facts.join(
        F.broadcast(collapsed),
        facts[fact_key] == F.col("_k"),
        "left",
    ).drop("_k")
    return joined.withColumn(out_col, F.coalesce(F.col(out_col), F.lit("")))


def anti_join_existing(
    df: DataFrame,
    existing: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """J2: multi-key anti-join (dedup vs warehouse).

    Reference: deduplicate_permits chicago/permit_cleaning.py:820-883. The
    reference drop_duplicates the right side then uses an indicator merge;
    Spark's ``left_anti`` gives those semantics natively and never
    duplicates left rows, so no right-side distinct is needed.
    """
    return df.join(existing.select(*keys), list(keys), "left_anti")


def semi_join_membership(
    df: DataFrame,
    universe: DataFrame,
    left_key: str,
    right_key: str,
    flag_col: str,
) -> DataFrame:
    """J6: set-membership check: keep all rows and add the boolean
    membership flag ``flag_col``.

    Reference: chicago/permit_cleaning.py:438,444-448 (Python set
    membership), chicago/legacy_permits/helper.py:146-148 (isin).
    """
    keys = F.broadcast(universe.select(F.col(right_key).alias("_k")).distinct())
    joined = df.join(
        keys.withColumn("_present", F.lit(True)), df[left_key] == F.col("_k"), "left"
    )
    return joined.withColumn(flag_col, F.coalesce(F.col("_present"), F.lit(False))).drop(
        "_k", "_present"
    )


def crosswalk_override(
    df: DataFrame,
    crosswalk: DataFrame,
    key: str,
    crosswalk_key: str,
    override_col: str,
) -> DataFrame:
    """J3: left join a remapping dimension and coalesce-override the key.

    Reference: chicago/legacy_permits/2021/format_legacy_2021.R:44-47 (and
    2022/2023 twins): ``left_join(crosswalk, by=c(PIN=original_pin));
    PIN = coalesce(meta_pin, PIN)``.
    """
    cw = crosswalk.select(
        F.col(crosswalk_key).alias("_ck"), F.col(override_col).alias("_ov")
    )
    joined = df.join(F.broadcast(cw), df[key] == F.col("_ck"), "left")
    return joined.withColumn(key, F.coalesce(F.col("_ov"), F.col(key))).drop("_ck", "_ov")
