"""Legacy backfill pipeline (SURVEY.md §3.3) as one lazy DAG.

Reference flow (chicago/legacy_permits/2023/format_legacy_2023.R:1-118 and
2021/2022 twins + helper.R):
read reviewed sheet (wide PIN1..PINn columns) → constant ADDR3 →
expand_pins (X3 unpivot + union + distinct) → ensure_columns (P15) →
normalize_pin (P5) + Excel-serial date decode → crosswalk join + coalesce
override (J3) → first-row-per-(PIN, permit) (W2) → finalize/validate (E3)
→ batched upload outputs (S9/O5).

Inputs arrive as all-string frames (helper.R:92-95 forces all-char); the
is_flagged boolean stands in for the PIN-cell fill color (S7 ingest
adapter materializes it — format_reviewed_permits_for_upload.py:31-83).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from extract_permits_spark.operators.clean import (
    DISPLAY_DATE_FMT,
    drop_blocklisted_pins,
    ensure_columns,
    excel_serial_to_date,
    normalize_pin_legacy,
)
from extract_permits_spark.operators.joins import crosswalk_override
from extract_permits_spark.operators.reshape import unpivot_wide_columns
from extract_permits_spark.operators.validate import legacy_flag_columns
from extract_permits_spark.operators.windows import (
    duplicate_pair_flag,
    first_row_per_group,
)
from extract_permits_spark.specs import PERMIT_COLUMNS

CANONICAL_COLUMNS = [s.name for s in PERMIT_COLUMNS]  # registry order


def expand_pins(df: DataFrame, pin_cols: list[str]) -> DataFrame:
    """X3: wide PIN1..PINn → long, unioned with the primary-PIN rows,
    distinct. Reference: expand_pins chicago/legacy_permits/helper.R:40-62.
    """
    ids = [c for c in df.columns if c not in pin_cols and c != "pin"]
    long = (
        unpivot_wide_columns(df, ids, pin_cols, "pin_col", "extra_pin")
        .drop("pin_col")
        .withColumnRenamed("extra_pin", "pin")
    )
    primary = df.drop(*pin_cols)
    return long.unionByName(primary).dropDuplicates()


def run_legacy_pipeline(
    reviewed: DataFrame,
    crosswalk: DataFrame,
    pin_cols: list[str] | None = None,
    serial_dates: bool = True,
) -> DataFrame:
    """Full §3.3 chain; returns the finalized frame with E3 flag columns
    and ``valid_row`` (callers split upload/review on it)."""
    df = reviewed.withColumn("city_state", F.lit("CHICAGO, IL"))  # ADDR3 const
    if pin_cols:
        df = expand_pins(df, pin_cols)  # X3
    df = ensure_columns(df, CANONICAL_COLUMNS + ["is_flagged"])  # P15
    df = df.withColumn("pin", normalize_pin_legacy("pin"))  # P5
    if serial_dates:
        df = df.withColumn(
            "issue_date",
            F.date_format(excel_serial_to_date("issue_date"), DISPLAY_DATE_FMT),
        )
    df = crosswalk_override(  # J3
        df, crosswalk, key="pin", crosswalk_key="original_pin", override_col="meta_pin"
    )
    df = drop_blocklisted_pins(df)  # P16
    df = first_row_per_group(  # W2
        df, ["pin", "permit_number"], ["issue_date", "amount"]
    )
    df = duplicate_pair_flag(df, ["pin", "permit_number"], "is_duplicate")  # A5
    return legacy_flag_columns(df, in_universe_col=None)  # E3
