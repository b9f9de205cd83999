"""Enrichment operators (SURVEY.md §2.2 P9).

Keyword tagging is an unrolled when-chain of ``contains`` over one staged
lower-cased text column — fully JVM-side, no UDF, no join: at 100 TB this
is a narrow map over the fact table.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Assessable-keyword list, verbatim from the reference (casing and order
# included): chicago/permit_cleaning.py:707-746. Order matters: the output
# comma-join preserves keyword-list order, not text order. Matching is
# case-insensitive substring, exactly as the reference's
# `kw.lower() in str(note).lower()`.
ASSESSABLE_KEYWORDS: list[str] = [
    "Addition",
    "Elevator",
    "Window",
    "Construction",
    "Garage",
    "Roof",
    "Demolition",
    "HVAC",
    "Flatwork",
    "Expand",
    "Basement",
    "Alarm",
    "Fire",
    "Bathroom",
    "Solar",
    "New",
    "Attic",
    "Vacant",
    "Conversion",
    "Rehab",
    "Enclosed porch",
    "Alteration",
    "EFP",
    "ADU",
    "A.D.U.",
    "Coach",
    "Accessory",
    "Extension",
    "Dormer",
    "Erect",
    "Proposed",
    "Wreck",
    "Finish",
    "Rec Room",
    "Convert",
    "Recreation room",
    "Sun Room",
    "Season",
]


def tag_keywords(
    df: DataFrame, text_col: str, keywords: Sequence[str] = ASSESSABLE_KEYWORDS
) -> DataFrame:
    """P9: ``matched_keywords`` = comma-join of the keywords contained
    (case-insensitive) in ``text_col``, in keyword-list order.

    Reference: chicago/permit_cleaning.py:810-816 — a per-row Python loop
    over the keyword list. Here an unrolled when-chain: a higher-order
    ``filter`` over a literal array interprets its lambda per element and
    breaks whole-stage codegen (measured 2× slower on the full pipeline at
    sf0.1). ``lower(coalesce(text,''))`` is staged as a real intermediate
    column so the plan carries ONE lower() instead of len(keywords)
    inlined copies — measured 3× faster at sf0.1 (Catalyst does not CSE
    across the when-branches of the projection)."""
    lowered = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    parts = [
        F.when(F.col("_kw_lowered").contains(k.lower()), F.lit(k)) for k in keywords
    ]
    return (
        df.withColumn("_kw_lowered", lowered)
        .withColumn("matched_keywords", F.concat_ws(", ", *parts))
        .drop("_kw_lowered")
    )
