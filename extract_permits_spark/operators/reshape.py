"""Grain-change operators: explode / unpivot (SURVEY.md §2.3, X1-X3).

The reference does a save/explode/union-back dance to keep NULL-list rows
(chicago/permit_cleaning.py:557-611); ``posexplode_outer`` subsumes that in
one shuffle-free narrow transformation, and its ``pos`` column gives the
deterministic within-group position pandas got from input order
(SURVEY §7.4.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PIPE_SEP = r" \| "


def split_pipe_list(c):
    """X1 parse: ``PIPE_SEP`` list → array with order-preserving dedupe.

    Reference: chicago/permit_cleaning.py:566-583 (dict.fromkeys dedupe —
    first occurrence wins, order preserved; Spark's array_distinct has the
    same keep-first semantics).
    """
    c = F.col(c) if isinstance(c, str) else c
    return F.array_distinct(F.split(c, PIPE_SEP))


def explode_multi_value(df: DataFrame, list_col: str, out_col: str = "solo_pin") -> DataFrame:
    """X1+X2: explode a pipe-list column into ``out_col``, keeping NULL-list
    rows, and tag each element with its 1-based position in ``pin_type``
    (``pin1``, ``pin2``, …; NULL on a NULL-list row).

    Reference: expand_multi_pin_permits chicago/permit_cleaning.py:557-611
    (explode :585-596, positional tag via groupby.cumcount :598-601).
    ``posexplode_outer`` keeps NULL rows natively (pos/val = NULL) — no
    union-back needed, and the whole thing is a narrow map-side op: no
    shuffle at any scale.
    """
    arr = split_pipe_list(F.col(list_col))
    exploded = df.select(
        *[F.col(c) for c in df.columns],
        F.posexplode_outer(arr).alias("_pos", out_col),
    )
    return exploded.withColumn(
        "pin_type",
        F.when(
            F.col("_pos").isNotNull(),
            F.concat(F.lit("pin"), (F.col("_pos") + 1).cast("string")),
        ),
    ).drop("_pos")


def unpivot_wide_columns(
    df: DataFrame,
    id_cols: list[str],
    value_cols: list[str],
    var_name: str = "pin_col",
    value_name: str = "extra_pin",
) -> DataFrame:
    """X3: wide-to-long unpivot (R pivot_longer over ``PIN1..PINn``),
    dropping the rows whose value is NULL.

    Reference: expand_pins chicago/legacy_permits/helper.R:40-62. Spark's
    native ``unpivot`` (= ``stack``) is a narrow op — no shuffle.
    """
    return df.unpivot(
        [F.col(c) for c in id_cols], [F.col(c) for c in value_cols], var_name, value_name
    ).where(F.col(value_name).isNotNull())
