"""Validation / partition operators (SURVEY.md §2.9, E1-E4).

The reference's signature capability: split a frame into
(valid-for-upload, needs-review) via per-column validators, and surface
human-readable error messages. Both compile to Catalyst expressions from
the ColumnSpec registry (specs.py) — one codegen'd pass, two filtered
outputs. At scale this is a single scan with two sinks (or one write
partitioned by bucket), never two jobs.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from extract_permits_spark.specs import PERMIT_COLUMNS, ColumnSpec, compile_validation


def with_validation(
    df: DataFrame,
    specs: Sequence[ColumnSpec] = PERMIT_COLUMNS,
    extra_error: Column | None = None,
) -> DataFrame:
    """E1+E2: add ``has_error`` boolean + ``errors`` message columns.

    ``extra_error`` folds in non-registry predicates — e.g. PIN-universe
    membership (J6), which the reference checks inside partition_permits
    (chicago/permit_cleaning.py:427-452).
    """
    # stage the errors column first, then flag from it — each validator
    # evaluates once per row instead of twice (E4 holds by construction)
    out = df.withColumn("errors", compile_validation(specs))
    has_error = F.col("errors") != ""
    if extra_error is not None:
        has_error = has_error | F.coalesce(extra_error, F.lit(False))
    return out.withColumn("has_error", has_error)


def partition_valid(
    validated: DataFrame, cache: bool = False
) -> tuple[DataFrame, DataFrame]:
    """E1: two-way split of a ``with_validation`` frame →
    (upload_df, review_df).

    Reference: partition_permits chicago/permit_cleaning.py:427-452.
    Both outputs share one parent plan; ``cache=True`` persists the
    validated parent so consuming both halves scans the input once
    (the write-side alternative is one job partitioned by ``has_error``,
    plans/permits.write_pipeline_partitioned).
    """
    if cache:
        validated = validated.persist()
    upload = validated.where(~F.col("has_error")).drop("has_error", "errors")
    review = validated.where(F.col("has_error"))
    return upload, review


def legacy_flag_columns(
    df: DataFrame,
    pin_col: str = "pin",
    permit_col: str = "permit_number",
    amount_col: str = "amount",
    addr_col: str = "applicant_street_address",
    note_col: str = "work_description",
    name_col: str = "applicant",
    in_universe_col: str | None = "in_universe",
    dup_col: str | None = "is_duplicate",
) -> DataFrame:
    """E3: legacy path's boolean flag columns + conjunction → valid_row.

    Reference: finalize_columns chicago/legacy_permits/helper.py:110-173
    (R twin helper.R:96-135). Flags are kept as real columns — the review
    output shows analysts *which* rule failed. Two semantics carried over
    exactly from the pandas twin:

    - Text-length flags go through ``astype(str)``, which renders NaN as
      the 3-char string ``'nan'`` — so a NULL address/name/note/pin field
      has length 3 and the ``<= N`` length checks PASS for NULLs while the
      ``== 14`` / ``isin(9, 10)`` checks FAIL. Replicated via
      ``coalesce(cast(string), 'nan')``.
    - ``valid_amount`` (to_numeric coercible and < 2147483647, no lower
      bound — helper.py:139-145) is computed as a flag but is NOT part of
      the ``valid_row`` conjunction (helper.py:155-164 omits it).
    """
    c = F.col

    def str_len(col: str) -> Column:
        # pandas astype(str): NaN → 'nan' (length 3)
        return F.length(F.coalesce(c(col).cast("string"), F.lit("nan")))

    amount = c(amount_col).cast("string").try_cast("double")
    flags: dict[str, Column] = {
        "valid_pin": str_len(pin_col) == 14,
        "valid_permit_number": str_len(permit_col).isin(9, 10),
        "valid_address": str_len(addr_col) <= 40,
        "valid_note": str_len(note_col) <= 2000,
        "valid_name": str_len(name_col) <= 50,
        # NaN (e.g. amount='nan') fails `< limit` in Spark exactly as
        # pandas' notnull() fails it — both engines mark it invalid
        "valid_amount": amount.isNotNull() & (amount < 2147483647),
    }
    if in_universe_col is not None:
        flags["valid_universe"] = F.coalesce(c(in_universe_col), F.lit(False))
    if dup_col is not None:
        flags["valid_not_duplicate"] = ~F.coalesce(c(dup_col), F.lit(False))
    out = df
    for name, expr in flags.items():
        out = out.withColumn(name, expr)
    valid = F.lit(True)
    for name in flags:
        if name == "valid_amount":  # ref valid_row omits it (helper.py:155-164)
            continue
        valid = valid & F.col(name)
    return out.withColumn("valid_row", valid)
