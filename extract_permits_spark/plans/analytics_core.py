"""Relational core: TPC-H-shaped analytics, permit-pipeline entries,
text/event basics, headline ANN + dedup, streaming basics.

Split from plans/analytics.py in r12 along accretion order — NOT by
theme alone — because registration ORDER is load-bearing:
plans/analytics.py imports the four chunk modules in original-file
order, so the registry dict (and therefore queries()/oracle_sql()
iteration order and the driver's _CHECK_FIRST window semantics) is
bit-identical to the pre-split single file. The registry machinery,
_CHECK_FIRST, and the cross-chunk memo caches live in analytics.py.
"""

from __future__ import annotations

from extract_permits_spark.streaming.util import await_or_raise, scratch_dir
from extract_permits_spark.plans._registry import (
    _ORACLES,
    _dec,
    _ivf_centroids_cached,
    _jaccard_pairs_cached,
    register,
)
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from extract_permits_spark.operators.joins import (
    anti_join_existing,
    semi_join_membership,
    suggested_values_join,
)
from extract_permits_spark.operators.reshape import explode_multi_value
from extract_permits_spark.operators.windows import (
    distributed_rank,
    duplicate_pair_flag,
    first_row_per_group,
)
from extract_permits_spark.sources.readers import load_table



# ===========================================================================
# Flagship aggregation (bench q1) — TPC-H Q1-shaped pricing summary.
# Exercises: grouped aggregation with partial (map-side) combine, exact
# decimal arithmetic, projection pruning. One shuffle on the group keys.
# ===========================================================================


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qty, price, disc, tax = (
        _dec("l_quantity"),
        _dec("l_extendedprice"),
        _dec("l_discount"),
        _dec("l_tax"),
    )
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax))
            .cast("double")
            .alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(disc).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ===========================================================================
# S1 — scan with pushed-down range filter + pruned projection + sort.
# Reference: Socrata SoQL $where/$order/$limit
# (chicago/permit_cleaning.py:539-554). .explain shows PushedFilters on
# l_shipdate and a 4-column ReadSchema.
# ===========================================================================


@register(
    "s1_scan_filter_order",
    """
    SELECT l_orderkey, l_partkey, l_quantity,
           strftime(l_shipdate, '%Y-%m-%d') AS ship_date
    FROM lineitem
    WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
    """,
)
def s1_scan_filter_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(
        F.col("l_shipdate").between(
            F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"),
            F.lit("1996-12-31 00:00:00").cast("timestamp_ntz"),
        )
    ).select(
        "l_orderkey",
        "l_partkey",
        "l_quantity",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
    )


# ===========================================================================
# S2/J4 — dimension scan: left equi-join + equality filter at source.
# Reference: vw_pin_universe LEFT JOIN vw_pin_address + triad filter
# (chicago/permit_cleaning.py:516-536). nation is broadcast.
# ===========================================================================


@register(
    "s2_dim_join_filter",
    """
    SELECT c_custkey, c_name, c_acctbal, n_name
    FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
    WHERE c_mktsegment = 'BUILDING'
    """,
)
def s2_dim_join_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_name", "c_acctbal", "n_name")
    )


# ===========================================================================
# S3/A1 — scalar aggregate with filter.
# Reference: SELECT MAX(taxyr) … WHERE cur='Y' AND deactivat IS NULL
# (chicago/permit_cleaning.py:494-507).
# ===========================================================================


@register(
    "s3_scalar_max",
    """
    SELECT strftime(MAX(o_orderdate), '%Y-%m-%d') AS max_orderdate,
           COUNT(*) AS n_finished
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def s3_scalar_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.where(F.col("o_orderstatus") == "F").agg(
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("max_orderdate"),
        F.count(F.lit(1)).alias("n_finished"),
    )


# ===========================================================================
# X1/X2 — pipe-list parse + ordered dedupe + NULL-preserving explode +
# positional tag. Reference: expand_multi_pin_permits
# (chicago/permit_cleaning.py:557-611). posexplode_outer keeps the NULL-list
# rows the reference saves/unions back; the oracle mirrors that dance with
# a UNION ALL branch.
# ===========================================================================


@register(
    "x1_explode_pipe_list",
    """
    WITH lists AS (
      SELECT l_orderkey,
             string_agg(DISTINCT lpad(CAST(l_partkey AS VARCHAR), 14, '0'), ' | '
                        ORDER BY lpad(CAST(l_partkey AS VARCHAR), 14, '0')) AS pin_list
      FROM lineitem GROUP BY l_orderkey
    ), joined AS (
      SELECT o.o_orderkey, l.pin_list
      FROM orders o LEFT JOIN lists l ON o.o_orderkey = l.l_orderkey
    )
    SELECT o_orderkey,
           unnest(string_split(pin_list, ' | ')) AS solo_pin,
           'pin' || CAST(unnest(range(1, len(string_split(pin_list, ' | ')) + 1)) AS VARCHAR) AS pin_type
    FROM joined WHERE pin_list IS NOT NULL
    UNION ALL
    SELECT o_orderkey, NULL AS solo_pin, NULL AS pin_type
    FROM joined WHERE pin_list IS NULL
    """,
)
def x1_explode_pipe_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lists = li.groupBy("l_orderkey").agg(
        F.array_join(
            F.array_sort(F.collect_set(F.lpad(F.col("l_partkey").cast("string"), 14, "0"))),
            " | ",
        ).alias("pin_list")
    )
    joined = o.join(lists, o.o_orderkey == lists.l_orderkey, "left").select(
        "o_orderkey", "pin_list"
    )
    return explode_multi_value(joined, "pin_list", out_col="solo_pin").select(
        "o_orderkey", "solo_pin", "pin_type"
    )


# ===========================================================================
# P2-P12 — scalar cleaning bundle: address assembly, zero-pad, dictionary
# regex abbreviation, round, conditional link synthesis, constant column.
# Reference: chicago/permit_cleaning.py:615-698,782-806,1173-1175.
# ===========================================================================

_SEGMENT_ABBREV = [
    ("BUILDING", "BLDG"),
    ("AUTOMOBILE", "AUTO"),
    ("MACHINERY", "MACH"),
    ("HOUSEHOLD", "HSHLD"),
    ("FURNITURE", "FURN"),
]

_ABBREV_SQL = "c_mktsegment"
for _k, _v in _SEGMENT_ABBREV:
    _ABBREV_SQL = f"regexp_replace({_ABBREV_SQL}, '{_k}', '{_v}', 'g')"


@register(
    "p_clean_bundle",
    f"""
    SELECT c_custkey,
           lpad(CAST(c_custkey AS VARCHAR), 14, '0') AS pin,
           concat_ws(' ', CAST(c_custkey AS VARCHAR), COALESCE(NULL, ''), c_mktsegment) AS address,
           {_ABBREV_SQL} AS segment_abbrev,
           round(c_acctbal) AS bal_rounded,
           CASE WHEN c_acctbal < 0 THEN 'REVIEW' ELSE 'OK' END AS acct_flag,
           'CHICAGO, IL' AS city_state,
           CASE WHEN c_name IS NOT NULL AND c_name <> ''
                THEN printf('=HYPERLINK("https://example.com/%s", "%s")',
                            lpad(CAST(c_custkey AS VARCHAR), 14, '0'), c_name)
                ELSE '' END AS link
    FROM customer
    """,
)
def p_clean_bundle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    c = load_table(spark, sf_dir, "customer")
    seg = reduce(
        lambda acc, kv: F.regexp_replace(acc, kv[0], kv[1]),
        _SEGMENT_ABBREV,
        F.col("c_mktsegment"),
    )
    pin = F.lpad(F.col("c_custkey").cast("string"), 14, "0")
    return c.select(
        "c_custkey",
        pin.alias("pin"),
        F.concat_ws(
            " ",
            F.col("c_custkey").cast("string"),
            F.coalesce(F.lit(None).cast("string"), F.lit("")),
            F.col("c_mktsegment"),
        ).alias("address"),
        seg.alias("segment_abbrev"),
        F.round(F.col("c_acctbal")).alias("bal_rounded"),
        F.when(F.col("c_acctbal") < 0, "REVIEW").otherwise("OK").alias("acct_flag"),
        F.lit("CHICAGO, IL").alias("city_state"),
        F.when(
            F.col("c_name").isNotNull() & (F.col("c_name") != ""),
            F.format_string(
                '=HYPERLINK("https://example.com/%s", "%s")', pin, F.col("c_name")
            ),
        )
        .otherwise("")
        .alias("link"),
    )


# ===========================================================================
# P9 — keyword tagging via higher-order filter over a literal array.
# Reference: chicago/permit_cleaning.py:707-746,810-816.
# ===========================================================================

_DOC_KEYWORDS = ["window", "merge", "vector", "stream", "hash join", "spark"]

_KW_SQL = ", ".join(
    f"CASE WHEN contains(lower(COALESCE(text, '')), '{k}') THEN '{k}' END"
    for k in _DOC_KEYWORDS
)


@register(
    "p9_keyword_tag",
    f"""
    SELECT doc_id, concat_ws(', ', {_KW_SQL}) AS matched_keywords
    FROM documents
    """,
)
def p9_keyword_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from extract_permits_spark.operators.enrich import tag_keywords

    d = load_table(spark, sf_dir, "documents")
    return tag_keywords(
        d.select("doc_id", "text"), "text", keywords=_DOC_KEYWORDS
    ).select("doc_id", "matched_keywords")


# ===========================================================================
# J1/A2 — pre-aggregated left join: per-key sorted unique value list
# collapsed to a comma string, joined broadcast onto facts.
# Reference: add_address_link_and_suggested_pins
# (chicago/permit_cleaning.py:750-780).
# ===========================================================================


@register(
    "j1_preagg_join",
    """
    SELECT n.n_nationkey, n.n_name,
           COALESCE(s.suppliers, '') AS suppliers
    FROM nation n
    LEFT JOIN (
      SELECT s_nationkey,
             string_agg(DISTINCT s_name, ', ' ORDER BY s_name) AS suppliers
      FROM supplier GROUP BY s_nationkey
    ) s ON n.n_nationkey = s.s_nationkey
    """,
)
def j1_preagg_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    return suggested_values_join(
        n, s, fact_key="n_nationkey", dim_key="s_nationkey", dim_value="s_name",
        out_col="suppliers",
    ).select("n_nationkey", "n_name", "suppliers")


# ===========================================================================
# J2/EX1 — multi-key anti-join. Reference: deduplicate_permits
# (chicago/permit_cleaning.py:820-883); left_anti gives indicator-merge
# semantics natively.
# ===========================================================================


@register(
    "j2_anti_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def j2_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return anti_join_existing(
        c.select("c_custkey", "c_name"),
        o.select(F.col("o_custkey").alias("c_custkey")),
        ["c_custkey"],
    )


# ===========================================================================
# J6 — set-membership flag (semi-join as a boolean column).
# Reference: chicago/permit_cleaning.py:438,444-448.
# ===========================================================================


@register(
    "j6_semi_flag",
    """
    SELECT c.c_custkey, o.o_custkey IS NOT NULL AS has_order
    FROM customer c
    LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
      ON c.c_custkey = o.o_custkey
    """,
)
def j6_semi_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return semi_join_membership(
        c.select("c_custkey"), o, left_key="c_custkey", right_key="o_custkey",
        flag_col="has_order",
    ).select("c_custkey", "has_order")


# ===========================================================================
# W2 — first row per group under explicit order.
# Reference: group_by %>% slice(1)
# (chicago/legacy_permits/2021/format_legacy_2021.R:48-56).
# ===========================================================================


@register(
    "w2_first_per_group",
    """
    SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
    FROM lineitem
    QUALIFY row_number() OVER (PARTITION BY l_orderkey
                               ORDER BY l_linenumber, l_partkey, l_quantity) = 1
    """,
)
def w2_first_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return first_row_per_group(
        li.select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity"),
        ["l_orderkey"],
        ["l_linenumber", "l_partkey", "l_quantity"],
    )


# ===========================================================================
# W4/A5 — duplicate-pair flag over a key window (keep=False semantics).
# Reference: chicago/legacy_permits/helper.py:150-153.
# ===========================================================================


@register(
    "w4_dup_flag",
    """
    SELECT l_orderkey, l_partkey, l_linenumber,
           COUNT(*) OVER (PARTITION BY l_orderkey, l_partkey) > 1 AS is_duplicate
    FROM lineitem
    """,
)
def w4_dup_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return duplicate_pair_flag(
        li.select("l_orderkey", "l_partkey", "l_linenumber"),
        ["l_orderkey", "l_partkey"],
    )


# ===========================================================================
# E1/E2 — registry-compiled validation: error messages via concat_ws
# (TEXTJOIN semantics — NULLs skipped) + two-way bucket.
# Reference: partition_permits (chicago/permit_cleaning.py:427-452) and
# _build_textjoin_errors_formula (:897-908).
# ===========================================================================


@register(
    "e1_validate_partition",
    """
    WITH checked AS (
      SELECT o_orderkey,
             concat_ws(', ',
               CASE WHEN o_totalprice IS NOT NULL
                         AND (o_totalprice < 1 OR o_totalprice > 2147483647)
                    THEN 'Amount out of bounds' END,
               CASE WHEN o_orderdate IS NULL THEN 'Missing issue date' END,
               CASE WHEN length(o_orderpriority) > 15
                    THEN 'Priority too long' END,
               CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                    THEN 'Unknown status' END
             ) AS errors
      FROM orders
    )
    SELECT o_orderkey, errors,
           CASE WHEN errors = '' THEN 'upload' ELSE 'review' END AS bucket
    FROM checked
    """,
)
def e1_validate_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = F.col
    errors = F.concat_ws(
        ", ",
        F.when(
            c("o_totalprice").isNotNull()
            & ((c("o_totalprice") < 1) | (c("o_totalprice") > 2147483647)),
            "Amount out of bounds",
        ),
        F.when(c("o_orderdate").isNull(), "Missing issue date"),
        F.when(F.length("o_orderpriority") > 15, "Priority too long"),
        F.when(~c("o_orderstatus").isin("F", "O", "P"), "Unknown status"),
    )
    return o.select(
        "o_orderkey",
        errors.alias("errors"),
        F.when(errors == "", "upload").otherwise("review").alias("bucket"),
    )


# ===========================================================================
# dedup_exact — exact deduplication via content hash (LLM-pipeline op).
# One shuffle on the hash; at 100 TB, hash first so the shuffle carries
# 32-byte keys + ids instead of document bodies.
# ===========================================================================


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ===========================================================================
# Batch 2 — remaining SURVEY §2 surface + LLM-pipeline operators.
# ===========================================================================

from extract_permits_spark.functions import text as textfn  # noqa: E402
from extract_permits_spark.functions import similarity as simfn  # noqa: E402
from extract_permits_spark.functions import multimodal as mmfn  # noqa: E402
from extract_permits_spark.operators.joins import crosswalk_override  # noqa: E402
from extract_permits_spark.operators.reshape import unpivot_wide_columns  # noqa: E402
from extract_permits_spark.operators.windows import batch_ids  # noqa: E402


# ---------------------------------------------------------------------------
# S4 — column-pruned range scan (dedup probe shape).
# Reference: chicago/permit_cleaning.py:821-836.
# ---------------------------------------------------------------------------


@register(
    "s4_range_scan",
    """
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           o_totalprice
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-06-30'
    """,
)
def s4_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.where(
        F.col("o_orderdate").between(
            F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"),
            F.lit("1996-06-30 00:00:00").cast("timestamp_ntz"),
        )
    ).select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        "o_totalprice",
    )


# ---------------------------------------------------------------------------
# P3+date surface — ISO parse, display format, Excel-serial decode, year.
# Reference: chicago/permit_cleaning.py:639-641, format_legacy_2023.R:35-39.
# ---------------------------------------------------------------------------


@register(
    "p3_date_functions",
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%-m/%-d/%Y') AS display_date,
           CAST(year(o_orderdate) AS INTEGER) AS order_year,
           strftime(DATE '1899-12-30' + to_days(CAST(o_orderkey % 40000 AS INTEGER)),
                    '%Y-%m-%d') AS excel_serial_date
    FROM orders
    """,
)
def p3_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from extract_permits_spark.operators.clean import excel_serial_to_date

    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "M/d/yyyy").alias("display_date"),
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.date_format(
            excel_serial_to_date((F.col("o_orderkey") % 40000).cast("string")),
            "yyyy-MM-dd",
        ).alias("excel_serial_date"),
    )


# ---------------------------------------------------------------------------
# X3 — wide-to-long unpivot. Reference: expand_pins
# (chicago/legacy_permits/helper.R:40-62).
# ---------------------------------------------------------------------------


@register(
    "x3_unpivot",
    """
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value
    FROM part WHERE p_size IS NOT NULL
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value
    FROM part WHERE p_retailprice IS NOT NULL
    """,
)
def x3_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    wide = p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").alias("p_retailprice"),
    )
    return unpivot_wide_columns(
        wide, ["p_partkey"], ["p_size", "p_retailprice"], "metric", "value"
    )


# ---------------------------------------------------------------------------
# J3 — crosswalk join + coalesce override.
# Reference: chicago/legacy_permits/2021/format_legacy_2021.R:44-47.
# nation plays the crosswalk: suppliers in nations 0-4 get remapped names.
# ---------------------------------------------------------------------------


@register(
    "j3_crosswalk_override",
    """
    SELECT s.s_suppkey,
           COALESCE(x.meta_name, s.s_name) AS s_name
    FROM supplier s
    LEFT JOIN (
      SELECT n_nationkey, 'NATION-' || n_name AS meta_name
      FROM nation WHERE n_nationkey < 5
    ) x ON s.s_nationkey = x.n_nationkey
    """,
)
def j3_crosswalk_override(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    crosswalk = n.where(F.col("n_nationkey") < 5).select(
        F.col("n_nationkey").alias("original_key"),
        F.concat(F.lit("NATION-"), F.col("n_name")).alias("meta_name"),
    )
    joined = s.join(
        F.broadcast(crosswalk), s.s_nationkey == crosswalk.original_key, "left"
    )
    return joined.select(
        "s_suppkey", F.coalesce("meta_name", "s_name").alias("s_name")
    )


# ---------------------------------------------------------------------------
# W3/O5 — global line numbers + 250-row upload batches.
# Reference: chicago/legacy_permits/helper.py:167,171 +
# format_reviewed_permits_for_upload.py:279-299.
# ---------------------------------------------------------------------------


@register(
    "w3_line_numbers_batches",
    """
    WITH numbered AS (
      SELECT c_custkey,
             row_number() OVER (ORDER BY c_name, c_custkey) AS gline
      FROM customer
    )
    SELECT c_custkey,
           CAST(floor((gline - 1) / 250) AS INTEGER) AS batch,
           CAST(gline - floor((gline - 1) / 250) * 250 AS INTEGER) AS lline
    FROM numbered
    """,
)
def w3_line_numbers_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return batch_ids(
        c.select("c_custkey", "c_name"), ["c_name", "c_custkey"], batch_size=250
    ).select("c_custkey", "batch", "lline")


# ---------------------------------------------------------------------------
# U2 — union + distinct. Reference: bind_rows + distinct
# (chicago/legacy_permits/helper.R:56-60, verify_legacy_uploads.R:87-93).
# ---------------------------------------------------------------------------


@register(
    "u2_union_distinct",
    """
    SELECT DISTINCT k, src FROM (
      SELECT o_custkey AS k, 'orders' AS src FROM orders
      UNION ALL
      SELECT c_custkey AS k, 'orders' AS src FROM customer WHERE c_acctbal > 0
    )
    """,
)
def u2_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    a = o.select(F.col("o_custkey").alias("k"), F.lit("orders").alias("src"))
    b = c.where(F.col("c_acctbal") > 0).select(
        F.col("c_custkey").alias("k"), F.lit("orders").alias("src")
    )
    return a.unionByName(b).dropDuplicates()


# ---------------------------------------------------------------------------
# E3 — legacy flag-column validation (flags kept as real columns).
# Reference: finalize_columns chicago/legacy_permits/helper.py:110-173.
# ---------------------------------------------------------------------------


@register(
    "e3_legacy_flags",
    """
    WITH shaped AS (
      SELECT lpad(CAST(o_custkey AS VARCHAR), 14, '0') AS pin,
             '1' || lpad(CAST(o_orderkey AS VARCHAR), 8, '0') AS permit_number,
             o_totalprice AS amount,
             CAST(o_custkey AS VARCHAR) || ' N ' || o_orderpriority AS addr,
             o_orderpriority AS name,
             'ORDER NOTE ' || CAST(o_orderkey AS VARCHAR) AS note
      FROM orders
    ), flagged AS (
      -- pandas astype(str) renders NaN as 'nan' (len 3): COALESCE(x, 'nan')
      SELECT pin, permit_number,
             length(COALESCE(CAST(pin AS VARCHAR), 'nan')) = 14 AS valid_pin,
             length(COALESCE(CAST(permit_number AS VARCHAR), 'nan')) IN (9, 10)
               AS valid_permit_number,
             length(COALESCE(CAST(addr AS VARCHAR), 'nan')) <= 40 AS valid_address,
             length(COALESCE(CAST(note AS VARCHAR), 'nan')) <= 2000 AS valid_note,
             length(COALESCE(CAST(name AS VARCHAR), 'nan')) <= 50 AS valid_name,
             TRY_CAST(CAST(amount AS VARCHAR) AS DOUBLE) IS NOT NULL
               AND TRY_CAST(CAST(amount AS VARCHAR) AS DOUBLE) < 2147483647
               AS valid_amount,
             NOT COALESCE(COUNT(*) OVER (PARTITION BY pin, permit_number) > 1,
                          FALSE) AS valid_not_duplicate
      FROM shaped
    )
    -- valid_amount intentionally absent: ref helper.py:155-164 omits it
    SELECT *,
           valid_pin AND valid_permit_number AND valid_address AND valid_note
           AND valid_name AND valid_not_duplicate AS valid_row
    FROM flagged
    """,
)
def e3_legacy_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from extract_permits_spark.operators.validate import legacy_flag_columns
    from extract_permits_spark.operators.windows import duplicate_pair_flag

    o = load_table(spark, sf_dir, "orders")
    shaped = o.select(
        F.lpad(F.col("o_custkey").cast("string"), 14, "0").alias("pin"),
        F.concat(F.lit("1"), F.lpad(F.col("o_orderkey").cast("string"), 8, "0")).alias(
            "permit_number"
        ),
        F.col("o_totalprice").alias("amount"),
        F.concat(F.col("o_custkey").cast("string"), F.lit(" N "), "o_orderpriority").alias(
            "addr"
        ),
        F.col("o_orderpriority").alias("name"),
        F.concat(F.lit("ORDER NOTE "), F.col("o_orderkey").cast("string")).alias("note"),
    )
    flagged = duplicate_pair_flag(shaped, ["pin", "permit_number"], "is_duplicate")
    out = legacy_flag_columns(
        flagged,
        pin_col="pin",
        permit_col="permit_number",
        amount_col="amount",
        addr_col="addr",
        note_col="note",
        name_col="name",
        in_universe_col=None,
        dup_col="is_duplicate",
    )
    return out.select(
        "pin", "permit_number", "valid_pin", "valid_permit_number", "valid_address",
        "valid_note", "valid_name", "valid_amount", "valid_not_duplicate", "valid_row",
    )


# ---------------------------------------------------------------------------
# Text analysis (LLM-pipeline ops) — all narrow codegen'd scans.
# ---------------------------------------------------------------------------


@register(
    "text_tokens",
    """
    SELECT doc_id,
           CASE WHEN trim(COALESCE(text,'')) = '' THEN 0
                ELSE len(string_split_regex(trim(COALESCE(text,'')), '\\s+'))
           END AS n_tokens,
           length(COALESCE(text,'')) AS n_chars,
           CAST(ceil(length(COALESCE(text,'')) / 4.0) AS BIGINT) AS bpe_estimate
    FROM documents
    """,
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        # long: DuckDB len() is BIGINT — keep schemas identical across engines
        textfn.token_count("text").cast("long").alias("n_tokens"),
        textfn.char_count("text").cast("long").alias("n_chars"),
        textfn.bpe_token_estimate("text").alias("bpe_estimate"),
    )


@register(
    "text_quality",
    """
    WITH t AS (
      SELECT doc_id, COALESCE(text,'') AS txt,
             CASE WHEN trim(COALESCE(text,'')) = '' THEN []
                  ELSE string_split_regex(trim(lower(COALESCE(text,''))), '\\s+')
             END AS toks
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN length(txt) = 0 THEN 0.0
                ELSE round(CAST(length(regexp_replace(txt, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                           / length(txt), 6) END AS alpha_ratio,
           CASE WHEN len(toks) = 0 THEN 0.0
                ELSE round(CAST(len(list_filter(toks, x -> list_contains(
                       ['the','a','and','of','to','in','is','that','it','for'], x)))
                       AS DOUBLE) / len(toks), 6) END AS stopword_ratio,
           CASE WHEN len(toks) = 0 THEN 0.0
                ELSE round(CAST(list_sum(list_transform(toks, x -> length(x)))
                       AS DOUBLE) / len(toks), 6) END AS mean_word_len
    FROM t
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        textfn.alpha_ratio("text").alias("alpha_ratio"),
        textfn.stopword_ratio("text").alias("stopword_ratio"),
        textfn.mean_word_length("text").alias("mean_word_len"),
    )


@register(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(lower(COALESCE(text,'')), '[^a-z0-9]+', ' ', 'g')))
             AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", textfn.fingerprint("text").alias("fingerprint"))


_LANG_CASES_SQL = """
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(COALESCE(text,'')) = '' THEN []
                  ELSE string_split_regex(trim(lower(COALESCE(text,''))), '\\s+')
             END AS toks
      FROM documents
    ), scored AS (
      SELECT doc_id,
             len(list_filter(toks, x -> list_contains(['the','and','of','is','that'], x))) AS s_en,
             len(list_filter(toks, x -> list_contains(['der','die','und','ist','nicht'], x))) AS s_de,
             len(list_filter(toks, x -> list_contains(['le','la','et','est','les'], x))) AS s_fr,
             len(list_filter(toks, x -> list_contains(['el','la','que','es','los'], x))) AS s_es
      FROM t
    )
    SELECT doc_id,
           CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                ELSE 'es' END AS pred_lang
    FROM scored
"""


@register("text_language_id", _LANG_CASES_SQL)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", textfn.language_id("text").alias("pred_lang"))


# ---------------------------------------------------------------------------
# Events: tumbling windows, JSON extraction, sessionization.
# ---------------------------------------------------------------------------


@register(
    "ev_tumbling_agg",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def ev_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from extract_permits_spark.streaming.events import tumbling_counts

    e = load_table(spark, sf_dir, "events")
    return tumbling_counts(e)


@register(
    "ev_json_extract",
    """
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
    """,
)
def ev_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


@register(
    "ev_sessionize",
    """
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM gaps
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.withColumn("_lag", F.lag("ts").over(w)).withColumn(
        "new_session",
        F.when(
            F.col("_lag").isNull() | F.expr("ts - _lag > INTERVAL 30 MINUTES"),
            1,
        ).otherwise(0),
    )
    sess = gaps.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings.
# ---------------------------------------------------------------------------


@register(
    "ann_cosine_topk",
    """
    WITH q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
    ), scored AS (
      SELECT vec_id,
             list_sum(list_transform(range(1, 65),
                      i -> CAST(e.embedding[i] AS DOUBLE) * q.qv[i]))
             / (sqrt(list_sum(list_transform(range(1, 65),
                      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i] * q.qv[i]))))
             AS sim
      FROM embeddings e, q
    )
    SELECT vec_id, round(sim, 6) AS cosine_sim
    FROM scored
    ORDER BY sim DESC, vec_id
    LIMIT 20
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    return simfn.brute_force_topk(emb, qvec, k=20)


from extract_permits_spark.plans import ann_sql as _ann_sql  # noqa: E402


@register("ann_lsh_topk", _ann_sql.lsh_topk_sql())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane-LSH top-k. The oracle is a REAL twin: the
    generated SQL (plans/ann_sql.py) replays the full signature/probe/rank
    computation — deterministic planes embedded as 16-bit ints, multi-probe
    at Hamming ≤ 2 expressed as bit_count(xor(sig, qsig)) <= 2 — so a
    candidate-generation bug hash-mismatches, not just a ranking bug."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    return simfn.lsh_bucketed_topk(emb, qvec, k=20)


def _ann_recall_frame(approx: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """recall@k = |approx ∩ exact| / k, computed declaratively."""
    hit = exact.select("vec_id").join(
        approx.select("vec_id"), "vec_id", "left_semi"
    )
    return hit.agg(
        F.lit(k).alias("k"),
        (F.count(F.lit(1)).cast("double") / F.lit(k)).alias("recall"),
    )


@register("ann_lsh_recall", _ann_sql.lsh_recall_sql())
def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@20 of random-hyperplane LSH vs exact brute-force top-k —
    the checkable quality number for ann_lsh_topk (floor asserted in
    tests/test_recall.py). Oracled by a full SQL replay of both the
    approximate and exact top-k, so the recall VALUE must match, not just
    clear a floor."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    return _ann_recall_frame(
        simfn.lsh_bucketed_topk(emb, qvec, k=20),
        simfn.brute_force_topk(emb, qvec, k=20),
        k=20,
    )


@register("ann_ivf_recall", _ann_sql.ivf_recall_sql(num_probes=6))
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@20 of IVF (k-means centroids, 6-of-16 probed clusters) vs
    exact top-k — the checkable quality number for ann_ivf_topk (floor
    asserted in tests/test_recall.py). Oracled by a full SQL replay of the
    Lloyd fit + probe + rank, so the recall VALUE must match."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    index = simfn.ivf_index(
        emb, num_clusters=16, centroids=_ivf_centroids_cached(spark, emb, sf_dir)
    )
    return _ann_recall_frame(
        simfn.ivf_topk(emb, qvec, k=20, num_clusters=16, num_probes=6, index=index),
        simfn.brute_force_topk(emb, qvec, k=20),
        k=20,
    )


# ---------------------------------------------------------------------------
# Near-duplicate detection (approximate — rows-only checks by design;
# exact-dedup above is the oracle-checked member of the family).
# ---------------------------------------------------------------------------


@register(
    "dedup_minhash_lsh",
    """
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split_regex(trim(lower(COALESCE(text,''))), '\\s+')) - 2, 0) + 1),
               i -> array_to_string(list_slice(
                      string_split_regex(trim(lower(COALESCE(text,''))), '\\s+'), i, i + 2), ' ')
             )) AS shingles
      FROM documents
      WHERE len(string_split_regex(trim(lower(COALESCE(text,''))), '\\s+')) >= 3
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.4
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64 MinHash-LSH near-dup pairs (the production fast path).

    The oracle is the EXACT all-pairs shingle-Jaccard ≥ 0.4 set — an
    end-to-end recall check, stronger than a banding replay: precision is
    1.0 by construction (the verification step computes exact Jaccard), so
    the entry matches the oracle iff banded candidate generation missed
    nothing. On the deterministic fixtures every true pair has Jaccard ≥
    0.9 (planted near-dups), where the per-pair miss probability of 8
    bands × 4 rows is ≤ (1 - 0.9^4)^8 ≈ 2e-4, and the fixed seeds make the
    outcome reproducible, not flaky — verified equal at sf0.01/sf0.001. A
    banding regression (band slicing, bucket capping, signature bug) drops
    a pair and hash-mismatches. dedup_minhash_md5 separately replays the
    banding itself in SQL with a cross-engine hash family.
    """
    d = load_table(spark, sf_dir, "documents")
    return simfn.minhash_lsh_pairs(d, jaccard_threshold=0.4)


@register("emb_neardup_lsh", _ann_sql.lsh_neardup_pairs_sql())
def emb_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate detection at scale: the 25 most-similar
    pairs surfaced from shared hyperplane-LSH buckets (per-table Hamming
    ≤ 1 realized as a Hamming-ball bucket join — no all-pairs join), each
    verified with exact cosine. This is the SCALE path for what
    dedup_embedding_cosine's deliberately-bounded exact twin
    demonstrates; the oracle replays signatures + the pair condition
    pairwise (equivalent below the bucket cap) and re-ranks. Recall on
    true near-dups (cosine ≥ 0.95: miss ≈ 2e-6/pair) is pinned by a
    planted-duplicate test in tests/test_recall.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = simfn.lsh_neardup_pairs(emb)
    return pairs.orderBy(
        F.desc("cosine_sim"), F.col("id_a"), F.col("id_b")
    ).limit(25)


@register("emb_cross_decontaminate", _ann_sql.lsh_cross_decon_sql())
def emb_cross_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination — the embedding-space twin of
    docs_decontaminate: every training vector (vec_id%10!=0) is checked
    against the eval set (vec_id%10==0) for near-duplicates at cosine ≥
    0.35, catching paraphrased eval leakage the exact n-gram gate cannot
    (the synthetic fixture has no planted cross-split near-dups, so the
    threshold sits where real cross-split similarity mass exists — the
    production knob would be ~0.8 on contrastive embeddings).
    Candidates come from a CROSS-dataset hyperplane-LSH bucket join — the
    small eval side explodes the Hamming-1 ball of its signatures and
    equi-joins the corpus's exact signatures (similarity.lsh_cross_hits),
    so the 100-TB corpus is never self-joined and never pairwise-scanned;
    each candidate pays one exact cosine fold. The oracle replays
    signatures + the pair condition pairwise and the same 6-dp-rounded
    cosine threshold, so a signature bug, a ball-explode bug, or a
    verification drift all hash-mismatch."""
    emb = load_table(spark, sf_dir, "embeddings")
    ev = emb.where(F.col("vec_id") % 10 == 0)
    tr = emb.where(F.col("vec_id") % 10 != 0)
    return simfn.lsh_cross_hits(ev, tr, min_cosine=0.35)


@register("dedup_simhash", _ann_sql.simhash_pairs_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SimHash at the GUARANTEED radius (6 bands of 10 bits ⇒ recall
    1.0 for hamming ≤ 5 by pigeonhole), using the cross-engine md5-derived
    60-bit token hash so the oracle (plans/ann_sql.py) replays the WHOLE
    computation — token hashing, bit votes, banding, bucket join, xor
    verification — bit for bit. The xxhash64/64-bit variant stays the
    production fast path; its banding guarantee is pinned by
    tests/test_recall.py and the dedup_simhash_recall entry below."""
    d = load_table(spark, sf_dir, "documents")
    pairs = simfn.simhash_pairs(
        d,
        max_hamming=5,
        band_bits=10,
        n_bits=60,
        token_hash=simfn.md5_long60,
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


@register(
    "dedup_simhash_recall",
    """
    SELECT 7 AS max_hamming, CAST(1.0 AS DOUBLE) AS recall
    """,
)
def dedup_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of banded SimHash vs all-pairs bit_count(xor) ground
    truth (no driver-side action — two counts crossed declaratively). The
    banding guarantee makes this exactly 1.0 at the default radius, so the
    measurement is oracle-checkable as the constant 1.0; a recall collapse
    (e.g. a banding bug) would hash-mismatch."""
    d = load_table(spark, sf_dir, "documents")
    banded = simfn.simhash_pairs(d, max_hamming=7)
    exact = simfn.simhash_pairs_bruteforce(d, max_hamming=7)
    hit = exact.join(banded.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi")
    n_exact = exact.agg(F.count(F.lit(1)).alias("_n_exact"))
    n_hit = hit.agg(F.count(F.lit(1)).alias("_n_hit"))
    return n_exact.crossJoin(n_hit).select(
        F.lit(7).alias("max_hamming"),
        F.coalesce(
            F.col("_n_hit").cast("double") / F.nullif(F.col("_n_exact"), F.lit(0)),
            F.lit(1.0),
        ).alias("recall"),
    )


@register(
    "dedup_ngram_jaccard",
    """
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split_regex(trim(lower(COALESCE(text,''))), '\\s+')) - 2, 0) + 1),
               i -> array_to_string(list_slice(
                      string_split_regex(trim(lower(COALESCE(text,''))), '\\s+'), i, i + 2), ' ')
             )) AS shingles
      FROM documents
      WHERE len(string_split_regex(trim(lower(COALESCE(text,''))), '\\s+')) >= 3
    )
    , ex AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS sh FROM sh)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(COUNT(*) AS DOUBLE) / (a.sz + b.sz - COUNT(*)), 6) AS jaccard
    FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
    HAVING CAST(COUNT(*) AS DOUBLE) / (a.sz + b.sz - COUNT(*)) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise n-gram Jaccard above a threshold — same result set
    as the oracle's full cross join, different cost shape.

    Count-based: shingles are distinct per doc (``word_shingles`` applies
    ``array_distinct``), so grouping the shared-shingle join by pair gives
    ``|A∩B|`` exactly, and ``J = shared / (|A| + |B| - shared)`` — no
    candidate ``distinct()``, no re-join of the shingle arrays, no
    per-pair array_intersect/array_union. Measured 27.9s → ~4s at sf0.1
    (the array re-join variant shuffled two ~150-element arrays per
    candidate and intersected them row by row)."""
    return _jaccard_pairs_cached(spark, sf_dir)


@register(
    "dedup_containment",
    """
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split_regex(trim(lower(COALESCE(text,''))), '\\s+')) - 2, 0) + 1),
               i -> array_to_string(list_slice(
                      string_split_regex(trim(lower(COALESCE(text,''))), '\\s+'), i, i + 2), ' ')
             )) AS shingles
      FROM documents
      WHERE len(string_split_regex(trim(lower(COALESCE(text,''))), '\\s+')) >= 3
    )
    , ex AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS sh FROM sh)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CASE WHEN a.sz <= b.sz THEN a.doc_id ELSE b.doc_id END AS contained_id,
           round(CAST(COUNT(*) AS DOUBLE) / least(a.sz, b.sz), 6) AS containment,
           round(CAST(COUNT(*) AS DOUBLE) / (a.sz + b.sz - COUNT(*)), 6) AS jaccard
    FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
    HAVING CAST(COUNT(*) AS DOUBLE) / least(a.sz, b.sz) >= 0.8
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup: n-gram containment ``C = |A∩B| / min(|A|,|B|)``
    — the fraction of the SMALLER doc's shingles present in the larger.
    Catches quote-expansions, boilerplate-wrapped reposts, and
    excerpt-of-a-long-page pairs that symmetric Jaccard misses at any
    practical threshold (a 10-shingle doc fully inside a 500-shingle doc
    has J ≈ 0.02 but C = 1.0); the standard companion pass to Jaccard
    dedup in crawl curation.

    Same count-based inverted-index shape as ``dedup_ngram_jaccard``
    (shingles are distinct per doc, so the shared-shingle join grouped by
    pair IS ``|A∩B|``) — only the normalizer and threshold differ, plus
    ``contained_id`` naming which member is the (candidate-to-drop)
    contained doc. Not derivable from the jaccard entry's output: its
    J ≥ 0.2 filter discards exactly the asymmetric pairs this entry
    exists for (pinned by tests/test_similarity.py with a constructed
    excerpt-in-page corpus). Scale shape is the family's: explode sits on
    the scan (source parallelism, no pin per SCALE.md), map-side-distinct
    shingles, one shuffle on shingle text, AQE skew-split on hot
    shingles."""
    d = load_table(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", simfn.word_shingles("text", 3).alias("shingles")
    ).where(F.size("shingles") > 0)
    ex = sh.select(
        "doc_id", F.size("shingles").alias("sz"), F.explode("shingles").alias("sh")
    )
    shared = (
        ex.alias("a")
        .join(ex.alias("b"), ["sh"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.sz").alias("_sza"),
            F.col("b.sz").alias("_szb"),
        )
        .agg(F.count(F.lit(1)).alias("_shared"))
    )
    cont = F.col("_shared") / F.least("_sza", "_szb")
    jac = F.col("_shared") / (F.col("_sza") + F.col("_szb") - F.col("_shared"))
    return shared.where(cont >= 0.8).select(
        "id_a",
        "id_b",
        F.when(F.col("_sza") <= F.col("_szb"), F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("contained_id"),
        F.round(cont, 6).alias("containment"),
        F.round(jac, 6).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Multimodal: binary payload features via Arrow-batched mapInPandas.
# ---------------------------------------------------------------------------


@register(
    "mm_binary_features",
    """
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(COALESCE(text,''))) AS BIGINT) AS n_bytes,
           lower(hex(encode(substring(COALESCE(text,''), 1, 8)))) AS head_hex
    FROM documents
    """,
)
def mm_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    media = mmfn.documents_as_media(d)
    return mmfn.extract_features(media).select("media_id", "n_bytes", "head_hex")


# ---------------------------------------------------------------------------
# Bench join-aggregation queries (TPC-H Q3/Q5 shaped) — exercise join
# reordering, broadcast selection, and partial aggregation at sf0.1.
# ---------------------------------------------------------------------------


@register(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND l.l_shipdate > TIMESTAMP '1997-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    price, disc = _dec("l_extendedprice"), _dec("l_discount")
    return (
        c.where(F.col("c_mktsegment") == "BUILDING")
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .where(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        .join(
            li.where(F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp_ntz")),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
    )


@register(
    "q5_nation_volume",
    """
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q5_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    price, disc = _dec("l_extendedprice"), _dec("l_discount")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .where(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
    )


# ===========================================================================
# Batch 3 — streaming-as-query, embedding near-dup, P5, Socrata pull,
# and the flagship pipeline registered for the correctness record.
# ===========================================================================


@register(
    "p5_pin_normalize",
    """
    WITH variants AS (
      SELECT c_custkey,
             lpad(CAST(c_custkey AS VARCHAR), 9, '0') AS v9,
             lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS v10,
             lpad(CAST(c_custkey AS VARCHAR), 13, '0') AS v13,
             substring(lpad(CAST(c_custkey AS VARCHAR), 14, '0'), 1, 2) || '-' ||
               substring(lpad(CAST(c_custkey AS VARCHAR), 14, '0'), 3, 12) AS vhyph
      FROM customer
    )
    SELECT c_custkey,
           '0' || v9 || '0000' AS pin_from_9,
           v10 || '0000' AS pin_from_10,
           '0' || v13 AS pin_from_13,
           regexp_replace(vhyph, '[^0-9]', '', 'g') AS pin_from_hyph
    FROM variants
    """,
)
def p5_pin_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 legacy 4-case PIN normalization over synthesized surface forms
    (9/10/13-digit and hyphenated — FIXTURES.md §1 forms). The oracle
    states the *expected output* per case; the Spark side runs the real
    normalize_pin_legacy operator, so a regression in any case breaks the
    hash match. Reference: chicago/legacy_permits/helper.py:42-58."""
    from extract_permits_spark.operators.clean import normalize_pin_legacy

    c = load_table(spark, sf_dir, "customer")
    key = F.col("c_custkey").cast("string")
    pad14 = F.lpad(key, 14, "0")
    variants = c.select(
        "c_custkey",
        F.lpad(key, 9, "0").alias("v9"),
        F.lpad(key, 10, "0").alias("v10"),
        F.lpad(key, 13, "0").alias("v13"),
        F.concat(F.substring(pad14, 1, 2), F.lit("-"), F.substring(pad14, 3, 12)).alias(
            "vhyph"
        ),
    )
    return variants.select(
        "c_custkey",
        normalize_pin_legacy("v9").alias("pin_from_9"),
        normalize_pin_legacy("v10").alias("pin_from_10"),
        normalize_pin_legacy("v13").alias("pin_from_13"),
        normalize_pin_legacy("vhyph").alias("pin_from_hyph"),
    )


@register(
    "dedup_embedding_cosine",
    """
    WITH sub AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      WHERE vec_id < 400
    ), norms AS (
      SELECT vec_id, e,
             sqrt(list_sum(list_transform(range(1, 65), i -> e[i] * e[i]))) AS nrm
      FROM sub
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i]))
                 / (a.nrm * b.nrm), 6) AS cosine_sim
    FROM norms a JOIN norms b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i]))
          / (a.nrm * b.nrm) >= 0.35
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs above a threshold, on a bounded id
    range so the oracle's exact pairwise join stays tractable. The Spark
    side is the same all-pairs semantics expressed as a self-join with a
    codegen'd fold — the unbounded-scale variant is LSH-bucketed
    (functions.similarity.lsh_bucketed_topk / minhash family)."""
    from extract_permits_spark.functions.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 400)
    e = emb.select(
        F.col("vec_id"),
        F.col("embedding").cast("array<double>").alias("e"),
    )
    a = e.select(F.col("vec_id").alias("id_a"), F.col("e").alias("_ea"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("e").alias("_eb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    sim = cosine(F.col("_ea"), F.col("_eb"))
    return pairs.select(
        "id_a", "id_b", F.round(sim, 6).alias("cosine_sim"), sim.alias("_raw")
    ).where(F.col("_raw") >= 0.35).drop("_raw")


_EV_TUMBLING_SQL = _ORACLES["ev_tumbling_agg"]


@register("stream_tumbling_agg", _EV_TUMBLING_SQL)
def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME tumbling aggregation, but executed through Structured
    Streaming (file source → watermark → availableNow drain → memory
    sink), then returned as a batch frame. Checked against the identical
    SQL oracle as the batch path — streaming and batch must agree."""
    import os
    import shutil
    import tempfile

    from extract_permits_spark.streaming.events import run_available_now

    work = scratch_dir("ev_stream_")
    src = os.path.join(work, "in")
    os.makedirs(src)
    shutil.copy(os.path.join(sf_dir, "events.parquet"), src)
    name = f"ev_stream_q_{abs(hash(sf_dir)) % 10**8}"
    q = run_available_now(spark, src, os.path.join(work, "ckpt"), table_name=name)
    await_or_raise(q, 300)
    return spark.sql(f"SELECT * FROM {name}")


@register(
    "stream_stateful_totals",
    """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_value_cents
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (streaming/stateful.py): per-user running
    totals via applyInPandasWithState — explicit keyed state (count +
    exact integer cents, no float drift), Arrow-batched, update output
    mode, availableNow drain. Checked against the batch GROUP BY oracle:
    the explicit state machine must agree with the declarative
    aggregation. State is O(active users) and expirable by timeout in
    continuous mode."""
    import os
    import shutil
    import tempfile

    from extract_permits_spark.streaming.stateful import run_available_now

    work = scratch_dir("ev_stream_stateful_")
    src = os.path.join(work, "in")
    os.makedirs(src)
    shutil.copy(os.path.join(sf_dir, "events.parquet"), src)
    name = f"ev_stream_stateful_{abs(hash(sf_dir)) % 10**8}"
    q = run_available_now(spark, src, os.path.join(work, "ckpt"), name)
    await_or_raise(q, 300)
    return spark.sql(f"SELECT * FROM {name}")


@register(
    "a8_salted_agg",
    """
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def a8_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (operators/skew.py:salted_agg) over a
    hot grouping key: phase 1 aggregates on (key, random salt) spreading
    a dominant key over 16 reducers, phase 2 merges partials on the true
    key. Results are identical to the direct groupBy (the oracle), which
    is the whole point — the salt changes the shuffle layout, never the
    answer. This is the manual fallback for skew AQE can't re-plan
    (hot keys in aggregations)."""
    from extract_permits_spark.operators.skew import salted_agg

    e = load_table(spark, sf_dir, "events")
    out = salted_agg(
        e.withColumn("value", _dec("value")),
        ["event_type"],
        {"n_events": ("event_id", "count"), "sum_value": ("value", "sum")},
    )
    return out.select(
        "event_type", "n_events", F.col("sum_value").cast("double").alias("sum_value")
    )


@register(
    "j11_salted_skew_join",
    """
    SELECT d.type_label,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e
    JOIN (SELECT DISTINCT event_type, upper(event_type) AS type_label
          FROM events) d
      ON e.event_type = d.event_type
    GROUP BY d.type_label
    """,
)
def j11_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe equi-join (operators/skew.py:salted_join) on a HOT key:
    events carries only a handful of distinct event_types, so a plain
    shuffle join lands each type's entire mass on one reducer. The salted
    form salts the big side over 16 values and replicates the small dim
    once per salt, joining on (key, salt) — 16 reducers per hot key. The
    oracle is the plain join + aggregate: the salt must change the
    shuffle layout, never the answer. This is the manual fallback for
    the case AQE skew-split can't fix (a broadcast-ineligible dim with a
    dominant key); a8_salted_agg is its aggregation twin."""
    from extract_permits_spark.operators.skew import salted_join

    e = load_table(spark, sf_dir, "events")
    dim = (
        e.select("event_type")
        .distinct()
        .withColumn("type_label", F.upper("event_type"))
    )
    j = salted_join(
        e.select("event_type", _dec("value").alias("value")),
        dim,
        "event_type",
        num_salts=16,
        how="inner",
    )
    return j.groupBy("type_label").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").cast("double").alias("sum_value"),
    )


@register(
    "stream_dedup",
    """
    SELECT event_type, COUNT(DISTINCT event_id) AS n_events
    FROM events GROUP BY event_type
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming counts over AT-LEAST-ONCE delivery: the
    stream directory contains the events file TWICE (every event arrives
    twice, the redelivery failure mode real pipelines face);
    dropDuplicates("event_id") inside the streaming query collapses
    redeliveries, so the result must equal the batch COUNT(DISTINCT
    event_id) per type — which is exactly the oracle."""
    import os
    import shutil
    import tempfile

    from extract_permits_spark.streaming.events import run_dedup_available_now

    work = scratch_dir("ev_stream_dedup_")
    src = os.path.join(work, "in")
    os.makedirs(src)
    shutil.copy(os.path.join(sf_dir, "events.parquet"), os.path.join(src, "a.parquet"))
    shutil.copy(os.path.join(sf_dir, "events.parquet"), os.path.join(src, "b.parquet"))
    name = f"ev_stream_dedup_{abs(hash(sf_dir)) % 10**8}"
    q = run_dedup_available_now(
        spark, src, os.path.join(work, "ckpt"), table_name=name
    )
    await_or_raise(q, 300)
    return spark.sql(f"SELECT * FROM {name}")


_SOCRATA_SQL = """
    SELECT CAST(o_orderkey AS VARCHAR) AS permit_,
           strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%f') AS issue_date,
           CAST(o_totalprice AS VARCHAR) AS reported_cost
    FROM orders
    WHERE strftime(o_orderdate, '%Y-%m-%d')
          BETWEEN '1995-01-01' AND '1996-12-31'
"""


def _orders_record(r: dict) -> dict:
    """Row → Socrata-style JSON record (module-level so the closure Spark
    ships to executors stays small and picklable)."""
    return {
        "permit_": str(r["o_orderkey"]),
        "issue_date": r["o_orderdate"].strftime("%Y-%m-%dT%H:%M:%S.%f"),
        "reported_cost": str(r["o_totalprice"]),
    }


@register("s1_socrata_pull", _SOCRATA_SQL)
def s1_socrata_pull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 driven through the Socrata data source: the two-year pull splits
    into date-window partitions, and each partition's fetch (``_fetch``,
    the seam for the SoQL GET) runs executor-side, serving its window's
    orders rows from the parquet — pyarrow ``filters`` on ``o_orderdate``
    stand in for SoQL ``$where between`` — as Socrata-style JSON lines.
    Nothing is collected on the driver. The classes stay function-local so
    the rotation audit sees this entry's body, not module scope. Reference:
    download_permits chicago/permit_cleaning.py:539-554."""
    import json
    import os as _os

    from extract_permits_spark.sources.socrata_datasource import (
        SocrataDataSource,
        SocrataReader,
    )

    path = _os.path.join(sf_dir, "orders.parquet")

    class OrdersReader(SocrataReader):
        def _fetch(self, start: str, end: str):
            from datetime import datetime, timedelta

            import pyarrow.parquet as pq

            lo = datetime.fromisoformat(start)
            # SoQL date-only bounds include the whole end day
            hi = datetime.fromisoformat(end) + timedelta(days=1)
            rows = pq.read_table(
                path,
                columns=["o_orderkey", "o_orderdate", "o_totalprice"],
                filters=[("o_orderdate", ">=", lo), ("o_orderdate", "<", hi)],
            ).to_pylist()
            for r in rows:
                yield json.dumps(_orders_record(r))

    class OrdersSource(SocrataDataSource):
        @classmethod
        def name(cls) -> str:
            return "socrata_orders"

        def reader(self, schema) -> OrdersReader:
            return OrdersReader(schema, dict(self.options))

    spark.dataSource.register(OrdersSource)
    return (
        spark.read.format("socrata_orders")
        .option("schema_ddl", "permit_ string, issue_date string, reported_cost string")
        .option("start_date", "1995-01-01")
        .option("end_date", "1996-12-31")
        .option("num_partitions", "8")
        .load()
    )


# ===========================================================================
# Flagship end-to-end oracle: the ENTIRE §3.1 pipeline (adapt fixtures →
# explode → normalize → organize → abbreviate → round → suggested-PINs join
# → links → universe flag → validate → upload partition → keyword tag) as
# one DuckDB statement. The keyword/abbreviation fragments are generated
# from the same constants the Spark operators use, so the two sides cannot
# drift. Reference chain: chicago/permit_cleaning.py:1138-1230.
# ===========================================================================

from extract_permits_spark.operators.clean import APPLICANT_ABBREVIATIONS  # noqa: E402
from extract_permits_spark.operators.enrich import ASSESSABLE_KEYWORDS  # noqa: E402

_PIPE_KW_SQL = "concat_ws(', ', " + ", ".join(
    "CASE WHEN contains(lower(COALESCE(work_description, '')), "
    f"'{k.lower()}') THEN '{k}' END"
    for k in ASSESSABLE_KEYWORDS
) + ")"

_PIPE_ABBR_SQL = "o.o_orderstatus"
for _k, _v in APPLICANT_ABBREVIATIONS.items():
    _PIPE_ABBR_SQL = f"replace({_PIPE_ABBR_SQL}, '{_k}', '{_v}')"

_PIPE_PIN14 = (
    "lpad(CAST(l_partkey % (SELECT COUNT(*) FROM customer) AS VARCHAR), 14, '0')"
)

# Per-column error messages in spec order (specs.PERMIT_COLUMNS rules);
# each mirrors ColumnSpec.error_message's concat_ws-of-fired-rules shape.
_PIPE_AMT_V = "TRY_CAST(CAST(amount AS VARCHAR) AS DOUBLE)"
_PIPE_COL_MSGS = [
    """concat_ws(', ',
      CASE WHEN pin IS NULL OR trim(CAST(pin AS VARCHAR)) = ''
           THEN 'Missing PIN' END,
      CASE WHEN pin IS NOT NULL AND NOT regexp_full_match(pin, '[0-9]{14}')
           THEN 'PIN is not 14 digits' END)""",
    """concat_ws(', ',
      CASE WHEN permit_number IS NULL OR trim(CAST(permit_number AS VARCHAR)) = ''
           THEN 'Missing permit number' END,
      CASE WHEN permit_number IS NOT NULL AND length(permit_number) NOT IN (9, 10)
           THEN 'Permit number must be 9-10 characters' END)""",
    """concat_ws(', ',
      CASE WHEN issue_date IS NULL OR trim(CAST(issue_date AS VARCHAR)) = ''
           THEN 'Missing issue date' END,
      CASE WHEN issue_date IS NOT NULL
                AND try_strptime(issue_date, '%-m/%-d/%Y') IS NULL
           THEN 'Issue date is not a valid date' END)""",
    f"""concat_ws(', ',
      CASE WHEN amount IS NULL OR trim(CAST(amount AS VARCHAR)) = ''
           THEN 'Missing amount' END,
      CASE WHEN amount IS NOT NULL AND ({_PIPE_AMT_V} IS NULL
                OR {_PIPE_AMT_V} < 1 OR {_PIPE_AMT_V} > 2147483647)
           THEN 'Amount must be at least 1' END)""",
    """concat_ws(', ',
      CASE WHEN applicant_street_address IS NULL
                OR trim(CAST(applicant_street_address AS VARCHAR)) = ''
           THEN 'Missing address' END,
      CASE WHEN length(applicant_street_address) > 40
           THEN 'Address > 40 characters' END)""",
    """concat_ws(', ',
      CASE WHEN city_state IS NULL OR trim(CAST(city_state AS VARCHAR)) = ''
           THEN 'Missing city/state' END)""",
    """concat_ws(', ',
      CASE WHEN applicant IS NULL OR trim(CAST(applicant AS VARCHAR)) = ''
           THEN 'Missing applicant' END,
      CASE WHEN length(applicant) > 50
           THEN 'Applicant > 50 characters' END)""",
    """concat_ws(', ',
      CASE WHEN length(work_description) > 2000
           THEN 'Description > 2000 characters' END)""",
]
_PIPE_ERRORS_SQL = "concat_ws(', ', " + ", ".join(
    f"nullif({m}, '')" for m in _PIPE_COL_MSGS
) + ")"

_PIPE_BASE_SQL = f"""
    WITH lists AS (
      SELECT l_orderkey,
             string_agg(DISTINCT {_PIPE_PIN14}, ' | ' ORDER BY {_PIPE_PIN14})
               AS pin_list
      FROM lineitem GROUP BY l_orderkey
    ),
    raw AS (
      SELECT '1' || lpad(CAST(o.o_orderkey AS VARCHAR), 8, '0') AS permit_number,
             strftime(o.o_orderdate, '%-m/%-d/%Y') AS issue_date,
             CAST(round_even(TRY_CAST(CAST(o.o_totalprice AS VARCHAR) AS DOUBLE), 0)
                  AS BIGINT) AS amount,
             CAST(o.o_custkey AS VARCHAR) || ' N ' || o.o_orderpriority
               AS applicant_street_address,
             'CHICAGO, IL' AS city_state,
             {_PIPE_ABBR_SQL} AS applicant,
             'CONSTRUCT GARAGE AND REPAIR PORCH FOR ORDER '
               || CAST(o.o_orderkey AS VARCHAR) AS work_description,
             l.pin_list
      FROM orders o LEFT JOIN lists l ON o.o_orderkey = l.l_orderkey
    ),
    -- posexplode_outer twin: NULL-pin_list rows survive as pin='' with
    -- NULL pin_type (the reference's save/union-back dance, ref :585-601)
    exploded AS (
      SELECT * EXCLUDE (solo_pin, pos),
             COALESCE(CASE WHEN length(replace(solo_pin, '-', '')) = 10
                           THEN replace(solo_pin, '-', '') || '0000'
                           ELSE replace(solo_pin, '-', '') END, '') AS pin,
             'pin' || CAST(pos AS VARCHAR) AS pin_type
      FROM (
        SELECT r.* EXCLUDE (pin_list),
               unnest(string_split(r.pin_list, ' | ')) AS solo_pin,
               unnest(range(1, len(string_split(r.pin_list, ' | ')) + 1)) AS pos
        FROM raw r WHERE r.pin_list IS NOT NULL
      )
      UNION ALL
      SELECT r.* EXCLUDE (pin_list),
             '' AS pin, CAST(NULL AS VARCHAR) AS pin_type
      FROM raw r WHERE r.pin_list IS NULL
    ),
    universe AS (
      SELECT lpad(CAST(c_custkey AS VARCHAR), 14, '0') AS pin,
             CAST(c_custkey AS VARCHAR) || ' N ' || c_mktsegment
               AS prop_address_full
      FROM customer
    ),
    sugg AS (
      SELECT prop_address_full,
             string_agg(DISTINCT pin, ', ' ORDER BY pin) AS suggested_pins
      FROM universe GROUP BY prop_address_full
    ),
    enriched AS (
      SELECT e.*,
             COALESCE(s.suggested_pins, '') AS suggested_pins,
             e.applicant_street_address AS property_address,
             CASE WHEN e.applicant_street_address IS NOT NULL
                       AND e.applicant_street_address <> ''
                  THEN '=HYPERLINK("https://maps.cookcountyil.gov/cookviewer/?search='
                       || e.applicant_street_address
                       || ', Chicago, IL", "Click here to open in CookViewer")'
                  ELSE '' END AS cookviewer_link,
             CASE WHEN e.pin IS NULL OR e.pin = '' THEN 'NO PIN FOUND'
                  WHEN length(regexp_replace(e.pin, '\\D', '', 'g')) = 14
                  THEN '=HYPERLINK("https://www.cookcountyassessor.com/pin/'
                       || regexp_replace(e.pin, '\\D', '', 'g')
                       || '", "' || e.pin || '")'
                  ELSE e.pin END AS pin_link,
             up.pin IS NOT NULL AS in_universe
      FROM exploded e
      LEFT JOIN sugg s ON e.applicant_street_address = s.prop_address_full
      LEFT JOIN (SELECT DISTINCT pin FROM universe) up ON up.pin = e.pin
    ),
    validated AS (
      SELECT *,
             {_PIPE_ERRORS_SQL} AS errors,
             {_PIPE_KW_SQL} AS matched_keywords
      FROM enriched
    ),
    final AS (
      SELECT *, errors <> '' OR NOT COALESCE(in_universe, FALSE) AS has_error
      FROM validated
    )
"""

_PIPE_COMMON_COLS = """pin, permit_number, issue_date, amount,
           applicant_street_address, city_state, applicant, work_description,
           pin_type, suggested_pins, property_address, cookviewer_link,
           pin_link, in_universe"""

_PIPE_UPLOAD_SQL = f"""{_PIPE_BASE_SQL}
    SELECT {_PIPE_COMMON_COLS}, matched_keywords
    FROM final WHERE NOT has_error
"""

_PIPE_REVIEW_SQL = f"""{_PIPE_BASE_SQL}
    SELECT {_PIPE_COMMON_COLS}, errors, has_error, matched_keywords
    FROM final WHERE has_error
"""


@register("permit_pipeline_upload", _PIPE_UPLOAD_SQL)
def permit_pipeline_upload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship §3.1 pipeline's upload partition, oracle-checked
    end-to-end (hash match vs the one-statement DuckDB twin above); the
    per-operator queries above remain the checked decomposition."""
    from extract_permits_spark.plans.permits import permits_from_tpch, run_pipeline

    permits_raw, universe = permits_from_tpch(spark, sf_dir)
    upload, _review = run_pipeline(permits_raw, universe)
    return upload


@register("permit_pipeline_review", _PIPE_REVIEW_SQL)
def permit_pipeline_review(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The review (needs-human-look) partition of the same pipeline —
    errors message + has_error flag included, oracle-checked end-to-end."""
    from extract_permits_spark.plans.permits import permits_from_tpch, run_pipeline

    permits_raw, universe = permits_from_tpch(spark, sf_dir)
    _upload, review = run_pipeline(permits_raw, universe)
    return review


@register("ann_ivf_topk", _ann_sql.ivf_topk_sql(num_probes=6))
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN scale path: deterministic Lloyd k-means fit, assign-to-
    centroid once, probe the 6 nearest clusters per query. The oracle is a
    REAL twin: the generated SQL (plans/ann_sql.py) replays the identical
    fit (md5-ordered init, per-round half-up re-quantization), assignment,
    probe selection, and exact in-cluster ranking."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    index = simfn.ivf_index(
        emb, num_clusters=16, centroids=_ivf_centroids_cached(spark, emb, sf_dir)
    )
    return simfn.ivf_topk(
        emb, qvec, k=20, num_clusters=16, num_probes=6, index=index
    )


# ===========================================================================
# MinHash-LSH with a cross-engine-deterministic hash family (md5) — the
# SAME algorithm as dedup_minhash_lsh but oracle-checkable end-to-end:
# banded candidate generation AND jaccard verification both hash-match
# DuckDB. (The xxhash64 variant stays the production fast path.)
# ===========================================================================

_MH_SEEDS = 8
_MH_BANDS = 4  # 2 hashes per band
_MH_SHINGLE_SQL = """
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split_regex(trim(lower(COALESCE(text,''))), '\\s+')) - 2, 0) + 1),
               i -> array_to_string(list_slice(
                      string_split_regex(trim(lower(COALESCE(text,''))), '\\s+'), i, i + 2), ' ')
             )) AS shingles
      FROM documents
      WHERE len(string_split_regex(trim(lower(COALESCE(text,''))), '\\s+')) >= 3
"""

_MH_SIG_COLS = ", ".join(
    f"min(md5('{s}|' || sh)) AS h{s}" for s in range(_MH_SEEDS)
)
_MH_BAND_ROWS = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_idx, md5(h{2*b} || h{2*b+1}) AS band_hash FROM sigs"
    for b in range(_MH_BANDS)
)


@register(
    "dedup_minhash_md5",
    f"""
    WITH toks AS ({_MH_SHINGLE_SQL}),
    sh AS (SELECT doc_id, unnest(shingles) AS sh FROM toks),
    sigs AS (SELECT doc_id, {_MH_SIG_COLS} FROM sh GROUP BY doc_id),
    bands AS ({_MH_BAND_ROWS}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b USING (band_idx, band_hash)
      WHERE a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           round(CAST(len(list_intersect(ta.shingles, tb.shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(ta.shingles, tb.shingles))), 6)
             AS jaccard
    FROM cand c
    JOIN toks ta ON c.id_a = ta.doc_id
    JOIN toks tb ON c.id_b = tb.doc_id
    WHERE CAST(len(list_intersect(ta.shingles, tb.shingles)) AS DOUBLE)
          / len(list_distinct(list_concat(ta.shingles, tb.shingles))) >= 0.2
    """,
)
def dedup_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return simfn.minhash_md5_pairs(
        d, num_hashes=_MH_SEEDS, bands=_MH_BANDS, jaccard_threshold=0.2
    )


@register(
    "dedup_minhash_recall",
    f"""
    WITH toks AS ({_MH_SHINGLE_SQL}),
    sh AS (SELECT doc_id, unnest(shingles) AS sh FROM toks),
    sigs AS (SELECT doc_id, {_MH_SIG_COLS} FROM sh GROUP BY doc_id),
    bands AS ({_MH_BAND_ROWS}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b USING (band_idx, band_hash)
      WHERE a.doc_id < b.doc_id
    ),
    ex AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS g FROM toks),
    truth AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
      HAVING CAST(COUNT(*) AS DOUBLE) / (a.sz + b.sz - COUNT(*)) >= 0.2
    ),
    n_truth AS (SELECT COUNT(*) AS nt FROM truth),
    n_hit AS (
      SELECT COUNT(*) AS nh FROM truth t
      WHERE EXISTS (
        SELECT 1 FROM cand c WHERE c.id_a = t.id_a AND c.id_b = t.id_b
      )
    )
    SELECT CAST(0.2 AS DOUBLE) AS jaccard_threshold,
           CAST(nt AS BIGINT) AS n_truth,
           CAST(nh AS BIGINT) AS n_detected,
           COALESCE(CAST(nh AS DOUBLE) / nullif(nt, 0), 1.0) AS recall
    FROM n_truth, n_hit
    """,
)
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the banded MinHash candidate stage against
    exact n-gram-Jaccard ground truth (threshold 0.2) — unlike the
    SimHash rail, MinHash banding is probabilistic, so this is a real
    measured number, not a guaranteed 1.0: the eval a curation run uses
    to size bands/rows before trusting the detector at scale. Ground
    truth comes from the shared-shingle inverted-index join (never
    all-pairs); both the banding and the truth replay deterministically
    (md5 hash family), so the recall scalar itself is oracle-checkable."""
    d = load_table(spark, sf_dir, "documents")
    bands = simfn.minhash_md5_bands(d)
    a = bands.select(
        "band_idx", "band_hash", F.col("doc_id").alias("id_a")
    )
    b = bands.select(
        "band_idx", "band_hash", F.col("doc_id").alias("id_b")
    )
    cand = (
        a.join(b, ["band_idx", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    truth = _jaccard_pairs_cached(spark, sf_dir).select("id_a", "id_b")
    hit = truth.join(cand, ["id_a", "id_b"], "left_semi")
    n_truth = truth.agg(F.count(F.lit(1)).alias("nt"))
    n_hit = hit.agg(F.count(F.lit(1)).alias("nh"))
    return n_truth.crossJoin(n_hit).select(
        F.lit(0.2).alias("jaccard_threshold"),
        F.col("nt").cast("long").alias("n_truth"),
        F.col("nh").cast("long").alias("n_detected"),
        F.coalesce(
            F.col("nh").cast("double") / F.nullif(F.col("nt"), F.lit(0)),
            F.lit(1.0),
        ).alias("recall"),
    )


@register(
    "docs_source_overlap_matrix",
    f"""
    WITH toks AS ({_MH_SHINGLE_SQL}),
    sh AS (SELECT doc_id, unnest(shingles) AS sh FROM toks),
    sigs AS (SELECT doc_id, {_MH_SIG_COLS} FROM sh GROUP BY doc_id),
    bands AS ({_MH_BAND_ROWS}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b USING (band_idx, band_hash)
      WHERE a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN toks ta ON c.id_a = ta.doc_id
      JOIN toks tb ON c.id_b = tb.doc_id
      WHERE CAST(len(list_intersect(ta.shingles, tb.shingles)) AS DOUBLE)
            / len(list_distinct(list_concat(ta.shingles, tb.shingles))) >= 0.2
    )
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           COUNT(*) AS n_pairs
    FROM pairs p
    JOIN documents da ON p.id_a = da.doc_id
    JOIN documents db ON p.id_b = db.doc_id
    GROUP BY 1, 2
    """,
)
def docs_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source x source near-dup OVERLAP MATRIX — the curation diagnostic
    behind 'which sources copy from which': every verified MinHash
    near-dup pair (the md5 cross-engine family, same banding as
    dedup_minhash_md5) is labeled with its two documents' sources
    (order-normalized least/greatest) and counted per source pair. The
    diagonal is within-source duplication (what docs_dup_rate_by_source
    measures for exact dups); off-diagonal mass is cross-source
    contamination — e.g. a crawl slice that rehosts a curated corpus.
    Scale shape inherits the banded pair generation (no all-pairs); the
    per-pair source lookup is two joins against the (id, source)
    projection, and the matrix itself is |sources|^2-bounded."""
    d = load_table(spark, sf_dir, "documents")
    pairs = simfn.minhash_md5_pairs(
        d, num_hashes=_MH_SEEDS, bands=_MH_BANDS, jaccard_threshold=0.2
    )
    src = d.select("doc_id", "source")
    return (
        pairs.join(
            src.select(
                F.col("doc_id").alias("id_a"), F.col("source").alias("_sa")
            ),
            "id_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("id_b"), F.col("source").alias("_sb")
            ),
            "id_b",
        )
        .select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


_STREAM_NEARDUP_SQL = f"""
    WITH static_docs AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0
    ),
    new_docs AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
    ),
    toks_s AS ({_MH_SHINGLE_SQL.replace("FROM documents", "FROM static_docs")}),
    sh_s AS (SELECT doc_id, unnest(shingles) AS sh FROM toks_s),
    sigs_s AS (SELECT doc_id, {_MH_SIG_COLS} FROM sh_s GROUP BY doc_id),
    bands_s AS ({_MH_BAND_ROWS.replace("FROM sigs", "FROM sigs_s")}),
    toks_n AS ({_MH_SHINGLE_SQL.replace("FROM documents", "FROM new_docs")}),
    sh_n AS (SELECT doc_id, unnest(shingles) AS sh FROM toks_n),
    sigs_n AS (SELECT doc_id, {_MH_SIG_COLS} FROM sh_n GROUP BY doc_id),
    bands_n AS ({_MH_BAND_ROWS.replace("FROM sigs", "FROM sigs_n")}),
    hits AS (
      SELECT DISTINCT n.doc_id
      FROM bands_n n JOIN bands_s s USING (band_idx, band_hash)
    )
    SELECT d.doc_id, (h.doc_id IS NOT NULL) AS is_neardup
    FROM new_docs d LEFT JOIN hits h USING (doc_id)
"""


@register("stream_neardup_ingest", _STREAM_NEARDUP_SQL)
def stream_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static near-dup on ingest: new documents (doc_id%4==0)
    arrive through a file stream in multiple micro-batches
    (maxFilesPerTrigger=1) and each is flagged iff it shares ≥1 MinHash
    band bucket with the STATIC corpus (doc_id%4!=0), whose band index
    is built once with the exact hashes the batch dedup uses
    (streaming/neardup_ingest.py, similarity.minhash_md5_bands). The
    oracle replays both sides' banding in one batch query — proving the
    incremental, per-micro-batch decision equals what a full-corpus
    batch run would conclude, the invariant that makes ingest-time
    scoring trustworthy."""
    import os
    import shutil
    import tempfile

    from extract_permits_spark.streaming.neardup_ingest import (
        run_neardup_ingest_available_now,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    static_docs = d.where(F.col("doc_id") % 4 != 0)
    new_docs = d.where(F.col("doc_id") % 4 == 0)

    work = scratch_dir("stream_neardup_")
    src = os.path.join(work, "in")
    os.makedirs(src)
    # two files -> two micro-batches under maxFilesPerTrigger=1
    new_docs.where((F.col("doc_id") / 4).cast("long") % 2 == 0).coalesce(
        1
    ).write.parquet(os.path.join(src, "f0"))
    new_docs.where((F.col("doc_id") / 4).cast("long") % 2 == 1).coalesce(
        1
    ).write.parquet(os.path.join(src, "f1"))
    for sub in ("f0", "f1"):
        for fn in os.listdir(os.path.join(src, sub)):
            if fn.endswith(".parquet"):
                shutil.move(
                    os.path.join(src, sub, fn),
                    os.path.join(src, f"{sub}.parquet"),
                )
        shutil.rmtree(os.path.join(src, sub), ignore_errors=True)

    out = os.path.join(work, "out")
    q, static_bands = run_neardup_ingest_available_now(
        spark, src, static_docs, os.path.join(work, "ckpt"), out_path=out
    )
    await_or_raise(q, 300)
    static_bands.unpersist()
    # project off the idempotency partition key — the oracle is the batch
    # scoring contract, which has no notion of micro-batches
    return spark.read.parquet(out).select("doc_id", "is_neardup")


# ===========================================================================
# J7 — as-of join (custom operator; union + last-ignorenulls window merge).
# Oracle: DuckDB's native ASOF JOIN. Right side pre-deduped to one row per
# (key, time) with a deterministic winner so tie behavior matches.
# ===========================================================================


@register(
    "j7_asof_join",
    """
    WITH r AS (
      SELECT o_custkey, o_orderdate, max(o_orderkey) AS matched_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
           r.matched_orderkey,
           strftime(r.o_orderdate, '%Y-%m-%d') AS matched_date
    FROM events e
    ASOF LEFT JOIN r ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
    """,
)
def j7_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from extract_permits_spark.operators.asof import asof_join

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load_table(spark, sf_dir, "orders")
    r = o.groupBy("o_custkey", "o_orderdate").agg(
        F.max("o_orderkey").alias("matched_orderkey")
    )
    joined = asof_join(
        e,
        r,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        payload_cols=["matched_orderkey", "o_orderdate"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("event_ts"),
        "matched_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("matched_date"),
    )


# ===========================================================================
# A6 — multi-granularity time rollup (hypertable-style continuous-aggregate
# shape): one pass produces hour, day, and grand-total rows via ROLLUP,
# with grouping_id distinguishing levels. Map-side partial aggregation
# handles all levels in the same shuffle.
# ===========================================================================


@register(
    "ev_rollup",
    """
    SELECT COALESCE(strftime(date_trunc('day', ts), '%Y-%m-%d'), 'ALL') AS day,
           COALESCE(strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S'), 'ALL') AS hour,
           GROUPING(date_trunc('day', ts)) * 2 + GROUPING(date_trunc('hour', ts)) AS gid,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY ROLLUP (date_trunc('day', ts), date_trunc('hour', ts))
    """,
)
def ev_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("_day"),
        F.date_trunc("hour", "ts").alias("_hour"),
        "value",
    )
    return (
        e.rollup("_day", "_hour")
        .agg(
            F.grouping("_day").cast("int").alias("_gd"),
            F.grouping("_hour").cast("int").alias("_gh"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.coalesce(F.date_format("_day", "yyyy-MM-dd"), F.lit("ALL")).alias("day"),
            F.coalesce(
                F.date_format("_hour", "yyyy-MM-dd HH:mm:ss"), F.lit("ALL")
            ).alias("hour"),
            (F.col("_gd") * 2 + F.col("_gh")).cast("long").alias("gid"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "ev_grouping_sets",
    """
    SELECT COALESCE(event_type, 'ALL') AS event_type,
           COALESCE(CAST(user_id % 10 AS VARCHAR), 'ALL') AS user_bucket,
           GROUPING(event_type) * 2 + GROUPING(user_id % 10) AS gid,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())
    """,
)
def ev_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS — the third of the multi-granularity trio
    (ev_rollup, ev_cube): explicitly chosen grouping combinations
    ((type), (user bucket), ()) rather than every prefix or every
    subset. Spark plans all sets in ONE pass via Expand (each input row
    fans out once per set, partial aggregation map-side) — at 100 TB
    that is one shuffle for the whole report instead of one job per
    granularity. gid disambiguates the NULL-vs-'ALL' encoding exactly
    as the rollup/cube entries do."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 10).alias("_ub"), "value"
    )
    grouped = e.groupingSets(
        [["event_type"], ["_ub"], []], "event_type", "_ub"
    ).agg(
        F.grouping("event_type").cast("int").alias("_gt"),
        F.grouping("_ub").cast("int").alias("_gu"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )
    return grouped.select(
        F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
        F.coalesce(F.col("_ub").cast("string"), F.lit("ALL")).alias("user_bucket"),
        (F.col("_gt") * 2 + F.col("_gu")).cast("long").alias("gid"),
        "n_events",
        "sum_value",
    )


# ===========================================================================
# J8 — banded range join: |supplier.acctbal − customer.acctbal| ≤ 50
# without a nested-loop plan. Oracle: DuckDB inequality join (fine at this
# scale; the band trick is the 100 TB path).
# ===========================================================================


@register(
    "j8_range_join",
    """
    SELECT s.s_suppkey, c.c_custkey,
           round(abs(s.s_acctbal - c.c_acctbal), 6) AS bal_gap
    FROM supplier s JOIN customer c
      ON abs(s.s_acctbal - c.c_acctbal) <= 50.0
    """,
)
def j8_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from extract_permits_spark.operators.rangejoin import banded_range_join

    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    out = banded_range_join(s, c, "s_acctbal", "c_acctbal", width=50.0)
    return out.select(
        "s_suppkey",
        "c_custkey",
        F.round(F.abs(F.col("s_acctbal") - F.col("c_acctbal")), 6).alias("bal_gap"),
    )


# ===========================================================================
# Training-data sampling: deterministic hash splits + stratified quotas.
# Hash-based (not rand()) so assignment is reproducible across runs,
# engines, and repartitioning — the property training pipelines need.
# ===========================================================================


@register(
    "sample_hash_split",
    """
    WITH h AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER)
               % 100 AS bucket
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM h
    """,
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from extract_permits_spark.plans._registry import _hash_split

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", _hash_split("doc_id"))


@register(
    "sample_negatives",
    """
    WITH ranked AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY vec_id) - 1 AS idx,
             COUNT(*) OVER () AS n
      FROM embeddings
    ),
    draws AS (
      SELECT a.vec_id, d.draw_idx,
             ('0x' || substr(md5(CAST(a.vec_id AS VARCHAR) || ':'
                                 || CAST(d.draw_idx AS VARCHAR)), 1, 15))::BIGINT
               % a.n AS neg_idx
      FROM ranked a, (SELECT unnest(range(4)) AS draw_idx) d
    )
    SELECT d.vec_id, CAST(d.draw_idx AS INT) AS draw_idx,
           r.vec_id AS neg_id,
           d.vec_id = r.vec_id AS is_self
    FROM draws d JOIN ranked r ON r.idx = d.neg_idx
    """,
)
def sample_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic NEGATIVE SAMPLING for contrastive training: every
    anchor draws k=4 pseudo-random corpus rows via the cross-engine md5
    hash of (anchor_id, draw_idx) mod corpus size, mapped back to ids
    through a rank table — reproducible across engines, epochs and
    retries (no RNG state to checkpoint), uniform over the corpus, and
    the vectors themselves never move: the only join ships (idx, id)
    pairs. Self-draws are flagged, not silently redrawn — the trainer
    decides (redraw shifts every later draw; masking is the stable
    contract). The global rank is the distributed-offset spelling
    (operators/windows.py:distributed_rank — no single-partition
    window), and the modulus n rides along as its free total-count
    column instead of a separate driver-side count() job; the rank map
    joins on idx so the vectors themselves never move. A near-dup
    exclusion (false negatives) composes by anti-joining the dedup pair
    sets."""
    emb = load_table(spark, sf_dir, "embeddings")
    ranked = distributed_rank(
        emb.select("vec_id"), [F.col("vec_id")], "idx",
        zero_based=True, total_col="_n",
    )
    draws = ranked.select(
        "vec_id",
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("draw_idx"),
        "_n",
    ).select(
        "vec_id",
        "draw_idx",
        F.pmod(
            simfn.md5_long60(
                F.concat(
                    F.col("vec_id").cast("string"),
                    F.lit(":"),
                    F.col("draw_idx").cast("string"),
                )
            ),
            F.col("_n"),
        ).alias("_neg_idx"),
    )
    return draws.join(
        ranked.select(
            F.col("idx").alias("_neg_idx"), F.col("vec_id").alias("neg_id")
        ),
        "_neg_idx",
    ).select(
        "vec_id",
        F.col("draw_idx").cast("int").alias("draw_idx"),
        "neg_id",
        (F.col("vec_id") == F.col("neg_id")).alias("is_self"),
    )


@register(
    "sample_stratified",
    """
    SELECT source, doc_id FROM documents
    QUALIFY row_number() OVER (
      PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
    ) <= 5
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: N docs per source, chosen by hash
    order (stable across runs/partitionings, unlike rand())."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), F.col("doc_id")
    )
    return (
        d.select("source", "doc_id")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= 5)
        .drop("_rn")
    )


# ===========================================================================
# A7 — exact grouped quantiles + distinct counts. Exact (sort-based)
# percentile so the oracle matches bit-for-bit; the approximate cousins
# (percentile_approx / approx_count_distinct / datasketches) are the
# at-scale swap-in where exactness isn't required.
# ===========================================================================


@register(
    "a7_quantiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.95), 6) AS p95,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def a7_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
        F.countDistinct("user_id").alias("n_users"),
    )


# ===========================================================================
# Corpus-preparation composites: cleaning/masking, keep-first exact dedup,
# and the end-to-end pretraining filter (the LLM-data analog of the permit
# pipeline — clean → gate → dedupe in one DAG, fully oracle-checked).
# ===========================================================================


@register(
    "text_clean_mask",
    """
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(COALESCE(text,''), 'https?://\\S+', '', 'g'),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g'),
             '\\s+', ' ', 'g')) AS clean_text
    FROM documents
    """,
)
def text_clean_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", textfn.clean_for_pretraining("text").alias("clean_text")
    )


@register(
    "sketch_approx_quantiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS exact_p50,
           round(quantile_cont(value, 0.95), 6) AS exact_p95,
           true AS p50_rank_ok,
           true AS p95_rank_ok
    FROM events
    GROUP BY event_type
    """,
)
def sketch_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile SKETCH audited by its own rank guarantee:
    ``percentile_approx`` (Greenwald-Khanna, accuracy 10000 ⇒ rank error
    ≤ n/10000) per group, then a second declarative pass computes the
    ACTUAL rank of each sketch output — the fraction of values ≤ it must
    sit within ±1% of the target quantile. The oracle pins the exact
    quantiles plus the two gates as constants, so a sketch regression
    (merge bug, accuracy misconfig) flips a gate and hash-mismatches.
    The sketch is the scale shape: mergeable partials, one pass, bounded
    memory — exact percentile needs a full sort per group."""
    e = load_table(spark, sf_dir, "events")
    appr = e.groupBy("event_type").agg(
        F.percentile_approx("value", F.lit(0.5), F.lit(10000)).alias("_a50"),
        F.percentile_approx("value", F.lit(0.95), F.lit(10000)).alias("_a95"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("exact_p50"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("exact_p95"),
    )
    joined = e.select("event_type", "value").join(
        F.broadcast(appr), "event_type"
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.avg((F.col("value") <= F.col("_a50")).cast("double")).alias("_r50"),
            F.avg((F.col("value") <= F.col("_a95")).cast("double")).alias("_r95"),
            F.first("exact_p50").alias("exact_p50"),
            F.first("exact_p95").alias("exact_p95"),
        )
        .select(
            "event_type",
            "exact_p50",
            "exact_p95",
            (F.abs(F.col("_r50") - 0.5) <= F.lit(0.01)).alias("p50_rank_ok"),
            (F.abs(F.col("_r95") - 0.95) <= F.lit(0.01)).alias("p95_rank_ok"),
        )
    )


@register(
    "sketch_hll_region_distinct",
    """
    SELECT n_regionkey AS region_key,
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS exact_distinct,
           true AS within_5pct
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_regionkey
    """,
)
def sketch_hll_region_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches — the re-aggregatable shape that
    matters at 100 TB: per-nation HLL sketches (partial aggregation,
    map-side combinable) are UNIONED to region grain without touching raw
    rows again, exactly how a warehouse rolls daily sketches into monthly
    distincts. The oracle pins the exact distinct per region plus a
    5%-error gate on the sketch estimate: Apache DataSketches HLL is
    deterministic for fixed input, so a regression (wrong merge, wrong
    lgConfigK) flips within_5pct and hash-mismatches."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    per_nation = c.groupBy("c_nationkey").agg(
        F.hll_sketch_agg("c_custkey").alias("_sk"),
        F.countDistinct("c_custkey").alias("_exact_nat"),
    )
    j = per_nation.join(F.broadcast(n), per_nation.c_nationkey == n.n_nationkey)
    per_region = j.groupBy("n_regionkey").agg(
        F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("_est"),
        # customers belong to exactly one nation, so the exact regional
        # distinct is the sum of per-nation distincts — no re-scan
        F.sum("_exact_nat").alias("_exact"),
    )
    return per_region.select(
        F.col("n_regionkey").alias("region_key"),
        F.col("_exact").cast("bigint").alias("exact_distinct"),
        (
            F.abs(F.col("_est") - F.col("_exact"))
            / F.col("_exact")
            <= F.lit(0.05)
        ).alias("within_5pct"),
    )


@register(
    "docs_chunk",
    """
    WITH t AS (
      SELECT doc_id,
             string_split_regex(trim(lower(COALESCE(text,''))), '\\s+') AS toks
      FROM documents
      WHERE trim(lower(COALESCE(text,''))) <> ''
    ),
    s AS (
      SELECT doc_id, toks,
             unnest(range(1, greatest(len(toks) - 16, 1) + 1, 48)) AS start
      FROM t
    )
    SELECT doc_id,
           CAST((start - 1) // 48 AS INT) AS chunk_idx,
           array_to_string(list_slice(toks, start, start + 63), ' ') AS chunk_text,
           CAST(least(64, len(toks) - start + 1) AS INT) AS n_tokens
    FROM s
    """,
)
def docs_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bounded overlapping chunking (64-token chunks, 16-token
    overlap ⇒ a new chunk every 48 tokens) — the context-window prep step
    between dedup and packing (functions/text.py:chunk_documents). Narrow:
    tokenize once, posexplode the arithmetic start sequence, slice+join
    per chunk; the oracle replays it with range()+list_slice."""
    d = load_table(spark, sf_dir, "documents")
    return textfn.chunk_documents(d, chunk_tokens=64, overlap=16)


@register(
    "dedup_exact_keep_first",
    """
    SELECT doc_id, lang, source FROM documents
    QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
    """,
)
def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup operator corpora actually run: drop exact duplicates,
    keeping the lowest-id copy. One shuffle on the 16-byte hash."""
    d = load_table(spark, sf_dir, "documents")
    # groupBy + min_by, not a row_number window (r12): the map-side
    # partial combine collapses a k-copy flood per mapper before the
    # shuffle, where the hash-partitioned window ships every copy (text
    # included) to one hot reducer and cannot be AQE-skew-split; min_by
    # on the unique doc_id is exactly keep-first.
    return (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("_h"))
        .agg(
            F.min_by(
                F.struct("doc_id", "lang", "source"), F.col("doc_id")
            ).alias("_r")
        )
        .select("_r.*")
    )


@register(
    "docs_pretrain_filter",
    """
    WITH cleaned AS (
      SELECT doc_id, lang, source,
             trim(regexp_replace(
               regexp_replace(COALESCE(text,''), 'https?://\\S+', '', 'g'),
               '\\s+', ' ', 'g')) AS t
      FROM documents
    ), gated AS (
      SELECT doc_id, lang, source, t,
             len(string_split_regex(t, '\\s+')) AS n_toks
      FROM cleaned
      WHERE length(t) >= 20 AND length(t) <= 50000
        AND len(string_split_regex(t, '\\s+')) >= 5
    )
    SELECT doc_id, lang, source, CAST(n_toks AS BIGINT) AS n_toks
    FROM gated
    QUALIFY row_number() OVER (PARTITION BY md5(t) ORDER BY doc_id) = 1
    """,
)
def docs_pretrain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end pretraining corpus filter as one lazy DAG: URL-strip +
    whitespace-canonicalize → length/token gates → exact dedup keep-first.
    The LLM-data sibling of the permit pipeline; one narrow pass + one
    hash shuffle."""
    d = load_table(spark, sf_dir, "documents")
    t = textfn.collapse_whitespace(textfn.strip_urls("text"))
    cleaned = d.select("doc_id", "lang", "source", t.alias("t"))
    gated = cleaned.withColumn("n_toks", F.size(F.split("t", r"\s+"))).where(
        (F.length("t") >= 20)
        & (F.length("t") <= 50000)
        & (F.col("n_toks") >= 5)
    )
    # groupBy + min_by, not a row_number window (r12): the map-side
    # partial combine collapses a k-copy flood per mapper before the
    # shuffle, where the hash-partitioned window ships every copy (text
    # included) to one hot reducer and cannot be AQE-skew-split; min_by
    # on the unique doc_id is exactly keep-first.
    return (
        gated.groupBy(F.md5(F.col("t").cast("binary")).alias("_h"))
        .agg(
            F.min_by(
                F.struct(
                    "doc_id", "lang", "source",
                    F.col("n_toks").cast("long").alias("n_toks"),
                ),
                F.col("doc_id"),
            ).alias("_r")
        )
        .select("_r.*")
    )


@register(
    "text_fertility",
    """
    WITH t AS (
      SELECT lang, source,
             CASE WHEN trim(COALESCE(text,'')) = '' THEN 0
                  ELSE len(string_split_regex(trim(COALESCE(text,'')), '\\s+'))
             END AS n_tokens,
             length(COALESCE(text,'')) AS n_chars
      FROM documents
    )
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           round(CAST(SUM(n_chars) AS DOUBLE) / nullif(SUM(n_tokens), 0), 6)
             AS chars_per_token,
           round(CAST(SUM(n_tokens) AS DOUBLE) / nullif(SUM(n_chars), 0), 6)
             AS tokens_per_char
    FROM t GROUP BY lang, source
    """,
)
def text_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by (lang, source) — chars-per-token and its
    inverse, the standard eval for how well a tokenizer fits each slice
    of a multilingual corpus (high chars/token = compressing well; a
    slice that tokenizes poorly costs budget). Exact integer sums + one
    double division at the edge — one map-side-combined aggregation
    keyed by the tiny (lang, source) grid; uses the same whitespace
    tokenizer contract as text_tokens so the two entries stay mutually
    consistent."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        "source",
        textfn.token_count("text").cast("long").alias("n_tokens"),
        textfn.char_count("text").cast("long").alias("n_chars"),
    )
    return t.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.round(
            F.sum("n_chars").cast("double") / F.nullif(F.sum("n_tokens"), F.lit(0)),
            6,
        ).alias("chars_per_token"),
        F.round(
            F.sum("n_tokens").cast("double") / F.nullif(F.sum("n_chars"), F.lit(0)),
            6,
        ).alias("tokens_per_char"),
    )
