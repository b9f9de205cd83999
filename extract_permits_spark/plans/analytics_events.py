"""Advanced events & windows, graph, CDC/streaming composites, sketches,
and the LLM flagship chains (curation / tokenize-pack / pretrain).

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
from extract_permits_spark.session import (
    free_local_checkpoint as _free_ckpt,
    register_scratch_checkpoint as _register_scratch,
)
from extract_permits_spark.plans._registry import (
    _ORACLES,
    _components_cached,
    _dec,
    _jaccard_pairs_cached,
    register,
)
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from extract_permits_spark.functions import text as textfn
from extract_permits_spark.operators.windows import distributed_group_rank
from extract_permits_spark.plans.analytics_core import docs_pretrain_filter
from extract_permits_spark.plans.analytics_corpus import (
    _COMPONENT_EDGES_SQL,
    _JACCARD_PAIRS_SQL,
)
from extract_permits_spark.sources.readers import load_table



@register(
    "w6_rank_family",
    """
    SELECT c_custkey, c_mktsegment,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd,
           CAST(ntile(10) OVER w AS BIGINT) AS decile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def w6_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining rank-family window functions (percent_rank,
    cume_dist, ntile) over a unique ordering — one shuffle on the
    partition key, sort within. percent_rank is an exact small-int
    rational so the 6dp rounding is engine-independent."""
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.ntile(10).over(w).cast("long").alias("decile"),
    )


# ===========================================================================
# Batch r6c — sequence/transition analytics, SCD2 intervals, SymSpell
# fuzzy join (exact recall at distance 1), and fixed-point PageRank over
# the near-dup graph. PageRank and SymSpell use integer-only arithmetic so
# the DuckDB replay is bit-exact (no float summation-order drift).
# ===========================================================================


@register(
    "ev_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def ev_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts per user stream (lead() over a
    unique (ts, event_id) ordering, then a 25-cell aggregate). One shuffle
    on user_id for the window, one map-side-combined shuffle for the tiny
    transition matrix — the standard sessionless sequence-mining shape."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "x5_scd2_intervals",
    """
    SELECT user_id, event_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           coalesce(strftime(lead(ts) OVER (
                      PARTITION BY user_id ORDER BY ts, event_id
                    ), '%Y-%m-%d %H:%M:%S.%f'),
                    '9999-12-31 00:00:00.000000') AS valid_to
    FROM events
    """,
)
def x5_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 validity intervals from an event log: each row's
    valid_to is the next change's timestamp (open intervals get the
    sentinel high date). The warehouse-standard lead() formulation — one
    shuffle on the business key; at 100 TB this runs per key partition
    with no driver state and writes straight to the dimension table."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return e.select(
        "user_id",
        "event_id",
        "event_type",
        F.date_format("ts", fmt).alias("valid_from"),
        F.coalesce(
            F.date_format(F.lead("ts").over(w), fmt),
            F.lit("9999-12-31 00:00:00.000000"),
        ).alias("valid_to"),
    )


def symspell_keys(col) -> "F.Column":
    """SymSpell distance-1 blocking keys: the string itself plus every
    single-character deletion. Two strings within Levenshtein distance 1
    ALWAYS share at least one key (substitution at i → both i-deletions
    equal; insert/delete → the shorter string is itself a deletion of the
    longer), so the blocked join has recall 1.0 by construction — no
    all-pairs product, index size Σ|s| keys."""
    c = F.col(col) if isinstance(col, str) else col
    dels = F.transform(
        F.sequence(F.lit(1), F.length(c)),
        lambda i: F.concat(c.substr(F.lit(1), i - 1), c.substr(i + 1, F.length(c))),
    )
    return F.array_distinct(F.concat(F.array(c), dels))


@register(
    "j9_fuzzy_symspell",
    """
    WITH names AS (SELECT DISTINCT p_name FROM part),
    keyed AS (
      SELECT p_name, unnest(list_distinct(
               [p_name] || list_transform(
                 range(1, length(p_name) + 1),
                 i -> substr(p_name, 1, i - 1) || substr(p_name, i + 1)
               ))) AS k
      FROM names
    ),
    cand AS (
      SELECT DISTINCT a.p_name AS name_a, b.p_name AS name_b
      FROM keyed a JOIN keyed b ON a.k = b.k AND a.p_name < b.p_name
    )
    SELECT name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
    FROM cand WHERE levenshtein(name_a, name_b) <= 1
    """,
)
def j9_fuzzy_symspell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join on part names at Levenshtein distance ≤ 1 via
    SymSpell deletion-neighborhood blocking (public algorithm: Garbe's
    symmetric delete). The reference fuzzy-matches permit addresses by
    normalization only (chicago/permit_cleaning.py:618-667); this is the
    engine-native generalization: generate ≤ |s|+1 deletion keys per
    string (narrow explode), equi-join on the key, verify with exact
    levenshtein on the candidates. Recall 1.0 at distance 1 by
    construction; never an all-pairs product, so it scales as Σ|s|, not
    n²."""
    p = load_table(spark, sf_dir, "part").select("p_name").distinct()
    keyed = p.select("p_name", F.explode(symspell_keys("p_name")).alias("k"))
    cand = (
        keyed.alias("a")
        .join(keyed.alias("b"), ["k"])
        .where(F.col("a.p_name") < F.col("b.p_name"))
        .select(
            F.col("a.p_name").alias("name_a"), F.col("b.p_name").alias("name_b")
        )
        .distinct()
    )
    return cand.where(F.levenshtein("name_a", "name_b") <= 1).select(
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").cast("long").alias("dist"),
    )


# --- fixed-point PageRank over the n-gram near-dup graph -------------------

_PR_SCALE = 1_000_000_000_000  # 1e12: BIGINT-safe through 85x multiplies
_PR_ITERS = 5

_PR_EDGES_SQL = """
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split_regex(trim(lower(COALESCE(text,''))), '\\s+')) - 2, 0) + 1),
               i -> array_to_string(list_slice(
                      string_split_regex(trim(lower(COALESCE(text,''))), '\\s+'), i, i + 2), ' ')
             )) AS shingles
      FROM documents
      WHERE len(string_split_regex(trim(lower(COALESCE(text,''))), '\\s+')) >= 3
    ),
    ex AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS sh FROM sh),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
      HAVING CAST(COUNT(*) AS DOUBLE) / (a.sz + b.sz - COUNT(*)) >= 0.2
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
    nn AS (SELECT count(*) AS n FROM deg)
"""


def _pagerank_oracle_sql() -> str:
    """Unrolled fixed-point PageRank oracle: the Spark loop replayed as
    chained CTEs. Integer-only arithmetic (// floor division) makes every
    iteration bit-exact across engines."""
    s = _PR_SCALE
    cte = [f"WITH {_PR_EDGES_SQL},"]
    cte.append(
        f"r0 AS (SELECT d.node, ({s} // nn.n) AS rank FROM deg d CROSS JOIN nn)"
    )
    for i in range(1, _PR_ITERS + 1):
        cte.append(
            f""",
    s{i} AS (
      SELECT e.dst AS node, sum(r.rank // dg.deg) AS s
      FROM edges e
      JOIN r{i - 1} r ON e.src = r.node
      JOIN deg dg ON e.src = dg.node
      GROUP BY e.dst
    ),
    r{i} AS (
      SELECT d.node,
             ((15 * ({s} // nn.n)) // 100)
             + ((85 * coalesce(s{i}.s, 0)) // 100) AS rank
      FROM deg d CROSS JOIN nn
      LEFT JOIN s{i} ON d.node = s{i}.node
    )"""
        )
    cte.append(
        f"\nSELECT node AS doc_id, CAST(rank AS BIGINT) AS rank_fp FROM r{_PR_ITERS}"
    )
    return "".join(cte)


@register("graph_pagerank", _pagerank_oracle_sql())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 5 iterations) over the undirected near-dup
    graph from the shared n-gram pair list — ranks the most-connected
    duplicate hubs, the docs whose removal dissolves the most pairs.

    Fixed-point integer arithmetic throughout (rank scaled by 1e12, floor
    division): BIGINT sums are associative, so the result is bit-exact
    and engine-independent — the honest way to oracle an iterative float
    algorithm. Per iteration: one equi-join rank→edges on src and one
    map-side-combined sum on dst; the edge list reuses the memoized pair
    scan (localCheckpoint'ed), so lineage stays flat across iterations.
    At 100 TB this is the standard Pregel-as-joins shape, co-partitioned
    on the node key."""
    pairs = _jaccard_pairs_cached(spark, sf_dir).select("id_a", "id_b")
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionAll(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    ).localCheckpoint(eager=True)
    _register_scratch(deg)
    # node count is a bounded O(1) driver scalar; folding it into literal
    # integers keeps every iteration's plan join-shaped (a 1-row
    # crossJoin would plan as BroadcastNestedLoopJoin). Exact Python int
    # arithmetic — identical to the oracle's // on the SQL scalar.
    n = deg.count()
    init_rank = _PR_SCALE // n
    base = 15 * init_rank // 100
    ranks = deg.select("node", F.lit(init_rank).alias("rank"))
    for _ in range(_PR_ITERS):
        contrib = ranks.join(deg, "node").select(
            "node", F.expr("rank div deg").alias("contrib")
        )
        in_sum = (
            edges.join(contrib, edges.src == contrib.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("contrib").alias("s"))
        )
        ranks = (
            deg.select("node")
            .join(in_sum, "node", "left")
            .select(
                "node",
                (F.lit(base) + F.expr("85 * coalesce(s, 0) div 100")).alias("rank"),
            )
        )
    return ranks.select(F.col("node").alias("doc_id"), F.col("rank").alias("rank_fp"))


_LPA_ROUNDS = 4


def _lpa_oracle_sql() -> str:
    """Unrolled synchronous label propagation: R fixed rounds as chained
    CTEs over the shared near-dup edge list (same _PR_EDGES_SQL CTEs as
    pagerank). Integer counts + min-label tie-break make every round
    deterministic and engine-independent — no floats anywhere."""
    cte = [f"WITH {_PR_EDGES_SQL},"]
    cte.append("l0 AS (SELECT node, node AS lbl FROM deg)")
    for r in range(1, _LPA_ROUNDS + 1):
        cte.append(
            f""",
    c{r} AS (
      SELECT e.dst AS node, l.lbl, count(*) AS c
      FROM edges e JOIN l{r - 1} l ON e.src = l.node
      GROUP BY e.dst, l.lbl
    ),
    l{r} AS (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
        FROM c{r}
      ) WHERE rn = 1
    )"""
        )
    cte.append(
        f"""
    SELECT node AS doc_id, lbl AS community FROM l{_LPA_ROUNDS}"""
    )
    return "".join(cte)


@register("graph_lpa_communities", _lpa_oracle_sql())
def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007, arXiv:0709.2938) over the near-dup graph — where connected
    components answers "which docs are transitively linked at all", LPA
    splits dense components into internally-dense communities (the
    boilerplate families inside a big crawl blob).

    Fully deterministic variant: every node starts as its own label; each
    of the 4 synchronous rounds re-labels a node with the most frequent
    label among its neighbors, ties broken by MIN label — realized as one
    equi-join labels→edges on src, one (dst, lbl) count, and one
    max(struct(count, -label)) hash aggregate per round. No rank window,
    no sort, no floats; the oracle unrolls the identical rounds. Reuses
    the memoized pair scan like pagerank, so lineage stays flat.

    At 100 TB: the Pregel-as-joins shape again — both per-round shuffles
    hash-partition on the node key and combine map-side; rounds are fixed
    (bounded plan depth), state is the label frame (one long per node)."""
    pairs = _jaccard_pairs_cached(spark, sf_dir).select("id_a", "id_b")
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionAll(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    nodes = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    ).select("node").localCheckpoint(eager=True)
    _register_scratch(nodes)
    labels = nodes.select("node", F.col("node").alias("lbl"))
    for _ in range(_LPA_ROUNDS):
        cnt = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        best = cnt.groupBy("node").agg(
            F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("nl"))).alias("m")
        )
        labels = best.select("node", (-F.col("m.nl")).alias("lbl"))
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("community")
    )


@register(
    "stream_stream_join",
    """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
    FROM events p JOIN events c ON p.user_id = c.user_id
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts < p.ts
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click-before-purchase attribution
    pairs) executed through Structured Streaming — two watermarked file
    streams, event-time-bounded inner join, availableNow drain — checked
    against the batch range-join SQL oracle. The time bound in the join
    predicate is what makes 100 TB viable: it lets the engine evict
    buffered state as the watermarks advance instead of holding both
    streams forever."""
    import os
    import shutil
    import tempfile

    from extract_permits_spark.streaming.events import run_interval_join_available_now

    work = scratch_dir("ev_stream_ssj_")
    src = os.path.join(work, "in")
    os.makedirs(src)
    shutil.copy(os.path.join(sf_dir, "events.parquet"), src)
    name = f"ev_stream_ssj_{abs(hash(sf_dir)) % 10**8}"
    # a stream-stream join holds TWO keyed state stores per shuffle
    # partition; at local-test scale 32 partitions is pure state-store
    # setup overhead (23s → ~8s at 8). Production sizing follows state
    # volume, not this constant.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = run_interval_join_available_now(
            spark, src, os.path.join(work, "ckpt"), table_name=name
        )
        await_or_raise(q, 300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.sql(f"SELECT * FROM {name}")


@register(
    "basket_brand_pairs",
    """
    WITH items AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    )
    SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS n_orders
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
    GROUP BY 1, 2
    HAVING count(*) >= 50
    """,
)
def basket_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: brand pairs bought in the same order
    (support ≥ 50 orders). The self-join is keyed on the basket id, and a
    basket holds ≤ 13 items (TPC-H order shape), so the fan-out is a
    bounded quadratic per basket — the classic a-priori candidate
    generation that stays linear in order count at 100 TB. Distinct
    (order, brand) first, so multi-quantity lines don't inflate support;
    the brand dimension joins broadcast."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # one shuffle on the basket key (collect_set folds the distinct into
    # the same exchange), then the pair fan-out is a NARROW sorted-array
    # combination explode — vs the distinct + self-join shape, which paid
    # three wide shuffles of the item stream (measured 1.65s → 1.33s at
    # sf0.1; at 100 TB the saved exchanges dominate)
    items = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("bs"))
    )
    pairs = items.select(
        F.explode(
            F.expr(
                "flatten(transform(bs, (x, i) -> "
                "transform(slice(bs, i + 2, size(bs) - i - 1), "
                "y -> struct(x AS brand_a, y AS brand_b))))"
            )
        ).alias("pr")
    )
    return (
        pairs.groupBy(
            F.col("pr.brand_a").alias("brand_a"),
            F.col("pr.brand_b").alias("brand_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("n_orders") >= 50)
    )


@register(
    "ev_time_weighted_avg",
    """
    WITH seg AS (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             epoch_ms(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               - epoch_ms(ts) AS dur_ms
      FROM events
    )
    SELECT user_id,
           round(CAST(sum(cents * dur_ms) AS DOUBLE)
                 / CAST(sum(dur_ms) AS DOUBLE) / 100.0, 6) AS tw_avg,
           CAST(sum(dur_ms) AS BIGINT) AS total_ms
    FROM seg WHERE dur_ms IS NOT NULL
    GROUP BY user_id
    """,
)
def ev_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of an irregularly-sampled signal per user —
    each reading holds until the next one (right-open step function), the
    metric sensors/prices need where plain AVG over-weights bursts.
    Exact integer core: value in cents × duration in ms, both BIGINT, so
    the sums are associative and the single final division is the only
    float op (deterministic across engines and partitionings). One window
    shuffle + one agg, both on user_id."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ltz = F.col("ts").cast("timestamp")
    seg = e.select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (
            F.unix_millis(F.lead(ltz).over(w)) - F.unix_millis(ltz)
        ).alias("dur_ms"),
    ).where(F.col("dur_ms").isNotNull())
    return seg.groupBy("user_id").agg(
        F.round(
            F.sum(F.col("cents") * F.col("dur_ms")).cast("double")
            / F.sum("dur_ms").cast("double")
            / F.lit(100.0),
            6,
        ).alias("tw_avg"),
        F.sum("dur_ms").cast("long").alias("total_ms"),
    )


# ===========================================================================
# Batch r6d — warehouse maintenance ops: MERGE-style upsert apply (the
# batch form of CDC apply / Delta MERGE INTO), deterministic grouped
# mode, and null-safe join semantics.
# ===========================================================================


@register(
    "x6_merge_upsert",
    """
    WITH updates AS (
      SELECT o_custkey AS key, 'U' AS op, 2 AS prio,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS delta,
             NULL AS new_name, CAST(NULL AS DOUBLE) AS new_balance
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1996-07-01'
      GROUP BY o_custkey
    ), deletes AS (
      SELECT c_custkey AS key, 'D' AS op, 3 AS prio,
             NULL AS delta, NULL AS new_name, CAST(NULL AS DOUBLE) AS new_balance
      FROM customer WHERE c_custkey % 17 = 0
    ), inserts AS (
      SELECT c_custkey + 1000000 AS key, 'I' AS op, 1 AS prio,
             NULL AS delta,
             'Customer#new' || CAST(c_custkey AS VARCHAR) AS new_name,
             CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS DOUBLE) / 100.0
               AS new_balance
      FROM customer WHERE c_custkey % 13 = 0
    ), changes AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY key ORDER BY prio DESC
        ) AS rn
        FROM (SELECT * FROM updates UNION ALL
              SELECT * FROM deletes UNION ALL
              SELECT * FROM inserts)
      ) WHERE rn = 1
    )
    SELECT coalesce(b.c_custkey, c.key) AS key,
           coalesce(b.c_name, c.new_name) AS name,
           CAST(CASE
             WHEN c.op = 'U'
               THEN round(CAST(b.c_acctbal AS DECIMAL(18,2)) + c.delta, 2)
             WHEN c.op = 'I' THEN c.new_balance
             ELSE CAST(b.c_acctbal AS DECIMAL(18,2))
           END AS DOUBLE) AS balance,
           CASE WHEN c.op = 'U' THEN 'updated'
                WHEN c.op = 'I' THEN 'inserted'
                ELSE 'kept' END AS action
    FROM customer b FULL OUTER JOIN changes c ON b.c_custkey = c.key
    WHERE (c.op IS NULL AND b.c_custkey IS NOT NULL)        -- kept
       OR (c.op = 'U' AND b.c_custkey IS NOT NULL)          -- updated
       OR (c.op = 'I' AND b.c_custkey IS NULL)              -- inserted
    """,
)
def x6_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics as one batch plan — the CDC-apply shape
    (WHEN MATCHED UPDATE / WHEN MATCHED [cond] DELETE / WHEN NOT MATCHED
    INSERT) without a table format: change set deduped by key with
    delete-over-update precedence, one full-outer equi-join against the
    base, per-row action classification. At 100 TB both sides hash on the
    merge key (one co-partitioned shuffle each); with a bucketed base
    table the exchange disappears entirely — this is exactly what Delta/
    Iceberg MERGE compiles to under Spark."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    updates = (
        o.where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp_ntz"))
        )
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.sum(_dec("o_totalprice")).alias("delta"))
        .select(
            "key",
            F.lit("U").alias("op"),
            F.lit(2).alias("prio"),
            "delta",
            F.lit(None).cast("string").alias("new_name"),
            F.lit(None).cast("double").alias("new_balance"),
        )
    )
    deletes = c.where(F.col("c_custkey") % 17 == 0).select(
        F.col("c_custkey").alias("key"),
        F.lit("D").alias("op"),
        F.lit(3).alias("prio"),
        F.lit(None).cast("decimal(38,2)").alias("delta"),
        F.lit(None).cast("string").alias("new_name"),
        F.lit(None).cast("double").alias("new_balance"),
    )
    inserts = c.where(F.col("c_custkey") % 13 == 0).select(
        (F.col("c_custkey") + 1000000).alias("key"),
        F.lit("I").alias("op"),
        F.lit(1).alias("prio"),
        F.lit(None).cast("decimal(38,2)").alias("delta"),
        F.concat(F.lit("Customer#new"), F.col("c_custkey").cast("string")).alias(
            "new_name"
        ),
        # exact integer-cents carry: a decimal division here lands on
        # half-cent boundaries where Spark (HALF_UP) and DuckDB (double
        # path) round apart — 3/1527 rows differed at sf0.01
        (F.round(F.col("c_acctbal") * 100).cast("long").cast("double") / 100.0).alias(
            "new_balance"
        ),
    )
    w = Window.partitionBy("key").orderBy(F.col("prio").desc())
    changes = (
        updates.unionByName(deletes)
        .unionByName(inserts)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    merged = c.join(changes, c.c_custkey == changes.key, "full_outer")
    # explicit keep-disjunction: three-valued logic makes the NOT(... AND
    # ...) spelling silently drop no-change rows (op IS NULL propagates)
    keep = (
        (F.col("op").isNull() & F.col("c_custkey").isNotNull())  # kept
        | ((F.col("op") == "U") & F.col("c_custkey").isNotNull())  # updated
        | ((F.col("op") == "I") & F.col("c_custkey").isNull())  # inserted
    )
    return (
        merged.where(keep)
        .select(
            F.coalesce(F.col("c_custkey"), F.col("key")).alias("key"),
            F.coalesce(F.col("c_name"), F.col("new_name")).alias("name"),
            F.when(F.col("op") == "U", F.round(_dec("c_acctbal") + F.col("delta"), 2))
            .when(F.col("op") == "I", F.col("new_balance"))
            .otherwise(_dec("c_acctbal"))
            .cast("double")
            .alias("balance"),
            F.when(F.col("op") == "U", F.lit("updated"))
            .when(F.col("op") == "I", F.lit("inserted"))
            .otherwise(F.lit("kept"))
            .alias("action"),
        )
    )


@register(
    "a9_mode",
    """
    SELECT user_id, event_type AS mode_type, n
    FROM (
      SELECT user_id, event_type, count(*) AS n,
             row_number() OVER (
               PARTITION BY user_id ORDER BY count(*) DESC, event_type
             ) AS rn
      FROM events GROUP BY user_id, event_type
    ) WHERE rn = 1
    """,
)
def a9_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic grouped MODE: most frequent event type per user,
    ties broken lexicographically (Spark's native mode() leaves ties
    unspecified — unusable for cross-engine checks). Count then a top-1
    window over the tiny per-user type table; both shuffles key on
    user_id."""
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc(), F.col("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), "n")
    )


@register(
    "j10_null_safe_join",
    """
    WITH d AS (
      SELECT doc_id, nullif(lang, 'en') AS lang_grp FROM documents
    ), grp AS (
      SELECT lang_grp, count(*) AS grp_n FROM d GROUP BY lang_grp
    )
    SELECT d.doc_id, coalesce(d.lang_grp, '<null>') AS lang_grp, g.grp_n
    FROM d JOIN grp g ON d.lang_grp IS NOT DISTINCT FROM g.lang_grp
    """,
)
def j10_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys match
    each other instead of silently dropping — the semantics dimension
    joins over nullable business keys need. Spark plans <=> as a hash
    join key (EqualNullSafe is still an equi-join), so there is no
    nested-loop penalty for the null-safe form."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.nullif("lang", F.lit("en")).alias("lang_grp")
    )
    grp = d.groupBy("lang_grp").agg(F.count(F.lit(1)).alias("grp_n"))
    return (
        d.alias("a")
        .join(grp.alias("g"), F.col("a.lang_grp").eqNullSafe(F.col("g.lang_grp")))
        .select(
            "doc_id",
            F.coalesce(F.col("a.lang_grp"), F.lit("<null>")).alias("lang_grp"),
            "grp_n",
        )
    )


@register(
    "stream_cdc_apply",
    """
    SELECT user_id, event_id, round(value, 2) AS value, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC
      ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming upsert materialization (streaming/cdc_apply.py): drain
    the backlog through foreachBatch latest-wins merges with atomic
    snapshot swaps, then read the live table. Must equal the batch
    latest-per-key query — which is exactly the oracle. Exactly-once via
    checkpoint + idempotent merge (pinned by
    tests/test_stateful_streaming.py across restart and redelivery)."""
    import os
    import shutil
    import tempfile

    from extract_permits_spark.streaming.cdc_apply import run_cdc_apply_available_now

    work = scratch_dir("ev_cdc_apply_")
    src = os.path.join(work, "in")
    os.makedirs(src)
    shutil.copy(os.path.join(sf_dir, "events.parquet"), src)
    out = os.path.join(work, "out")
    q = run_cdc_apply_available_now(spark, src, os.path.join(work, "ckpt"), out)
    await_or_raise(q, 300)
    live = spark.read.parquet(os.path.join(out, "live"))
    return live.select(
        "user_id",
        "event_id",
        F.round("value", 2).alias("value"),
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
    )


@register(
    "ev_variant_agg",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS max_k
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
    GROUP BY event_type
    """,
)
def ev_variant_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics over the VARIANT type (Spark 4): parse
    the JSON payload ONCE into a variant column, then typed
    `variant_get` paths feed a normal aggregate. Versus per-path
    `get_json_object` (ev_json_extract), the parse cost is paid once per
    row regardless of how many paths are read — the open-table-format
    answer to schemaless event payloads at 100 TB. Extraction stays
    JVM-side (no UDF); integer sums are exact."""
    e = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.try_parse_json("props"), "$.k", "long")
    return (
        e.select("event_type", k.alias("k"))
        .where(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
    )


# ===========================================================================
# Batch r6e — iterative BPE vocabulary induction (full trainer). The
# existing vocab_bpe_pairs computes ONE round of pair statistics; this is
# the whole training loop: N rounds of (pair stats over the vocab →
# argmax merge → apply merge), exactly the distributed form of Sennrich
# et al. 2016. Symbols are framed as '<sym>' so the flat-string merge
# replace can only ever align to whole-symbol boundaries and adjacent
# matches never share characters — replace semantics are then identical
# across engines by construction.
# ===========================================================================

_BPE_ROUNDS = 8


def _bpe_train_oracle_sql(rounds: int = _BPE_ROUNDS) -> str:
    """DuckDB replay of the full BPE training loop, one CTE pair per
    round (pair stats + merged representation)."""
    parts = [
        """WITH wf AS (
      SELECT word, count(*) AS freq FROM (
        SELECT unnest(string_split_regex(trim(lower(COALESCE(text,''))), '\\s+')) AS word
        FROM documents
      ) WHERE word <> '' GROUP BY word
    ),
    w0 AS MATERIALIZED (
      SELECT array_to_string(
               list_transform(range(1, length(word) + 1),
                              i -> '<' || substr(word, i, 1) || '>'), '') AS repr,
             freq
      FROM wf
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
    p{r} AS MATERIALIZED (
      SELECT p, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        SELECT freq, unnest(list_transform(
                 range(1, len(string_split(trim(repr, '<>'), '><'))),
                 j -> '<' || string_split(trim(repr, '<>'), '><')[j]
                      || '><' || string_split(trim(repr, '<>'), '><')[j + 1] || '>'
               )) AS p
        FROM w{r - 1}
        WHERE len(string_split(trim(repr, '<>'), '><')) >= 2
      ) GROUP BY p ORDER BY cnt DESC, p LIMIT 1
    ),
    w{r} AS MATERIALIZED (
      SELECT replace(repr, (SELECT p FROM p{r}),
                     (SELECT '<' || replace(replace(p, '<', ''), '>', '') || '>'
                      FROM p{r})) AS repr,
             freq
      FROM w{r - 1}
    )"""
        )
    selects = [
        f"""SELECT {r} AS round,
           (SELECT string_split(trim(p, '<>'), '><')[1] FROM p{r}) AS pair_a,
           (SELECT string_split(trim(p, '<>'), '><')[2] FROM p{r}) AS pair_b,
           (SELECT replace(replace(p, '<', ''), '>', '') FROM p{r}) AS merged,
           (SELECT cnt FROM p{r}) AS cnt"""
        for r in range(1, rounds + 1)
    ]
    parts.append("\n" + "\nUNION ALL\n".join(selects))
    return "".join(parts)


@register("vocab_bpe_train", _bpe_train_oracle_sql())
def vocab_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full distributed BPE training loop (Sennrich et al. 2016): N
    rounds of pair-statistics-over-the-vocabulary → argmax merge → apply
    merge. The corpus collapses to its word-frequency table in ONE
    corpus-scale shuffle; every round after that costs vocabulary-scale
    (at 100 TB: ~10^6 vocab rows per round, trivially distributed), and
    per-round driver state is exactly one (pair, count) row — the argmax,
    a bounded `.first()` probe. Framed '<sym>' symbols make the merge a
    whole-symbol-aligned literal replace with no cross-match character
    sharing, so the oracle's replace() provably applies the identical
    merges."""
    from extract_permits_spark.functions.similarity import tokens

    d = load_table(spark, sf_dir, "documents")
    words = d.select(F.explode(tokens(F.col("text"))).alias("word")).where(
        F.col("word") != ""
    )
    wf = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    cur = wf.select(
        F.concat_ws(
            "",
            F.transform(
                F.sequence(F.lit(1), F.length("word")),
                lambda i: F.concat(
                    F.lit("<"), F.col("word").substr(i, F.lit(1)), F.lit(">")
                ),
            ),
        ).alias("repr"),
        "freq",
    ).localCheckpoint(eager=True)
    _register_scratch(cur)

    syms = F.split(F.expr("trim(BOTH '<>' FROM repr)"), "><")
    n = F.size(syms)
    pair_strs = F.when(
        n >= 2,
        F.transform(
            F.arrays_zip(
                F.slice(syms, 1, n - 1).alias("a"), F.slice(syms, 2, n - 1).alias("b")
            ),
            lambda s: F.concat(
                F.lit("<"), s["a"], F.lit("><"), s["b"], F.lit(">")
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))

    rows = []
    for r in range(1, _BPE_ROUNDS + 1):
        top = (
            cur.select(F.explode(pair_strs).alias("p"), "freq")
            .groupBy("p")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("p"))
            .first()
        )
        if top is None:  # vocabulary exhausted (not reachable on fixtures)
            break
        pat, cnt = top["p"], int(top["cnt"])
        inner = pat.replace("<", "").replace(">", "")
        a, b = pat[1:-1].split("><")
        rows.append((r, a, b, inner, cnt))
        prev_cur = cur
        cur = cur.withColumn(
            "repr", F.replace(F.col("repr"), F.lit(pat), F.lit(f"<{inner}>"))
        ).localCheckpoint(eager=True)
        _free_ckpt(prev_cur)

    # the returned frame is pure driver rows — the LAST round's
    # checkpoint is dead the moment the loop exits, so free it here
    # rather than leaking it for the session (r13 ADVICE, low); the
    # round-0 case double-frees the registered scratch frame, which
    # free_local_checkpoint tolerates (unpersist is idempotent).
    _free_ckpt(cur)
    schema = "round INT, pair_a STRING, pair_b STRING, merged STRING, cnt BIGINT"
    return spark.createDataFrame(rows, schema)


@register(
    "a10_regression",
    """
    WITH s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sy,
             CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sx,
             CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)
                      * CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sxx,
             CAST(sum(CAST(round(value * 100) AS BIGINT)
                      * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS syy,
             CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)
                      * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sxy
      FROM events
      WHERE json_extract_string(props, '$.k') IS NOT NULL AND value IS NOT NULL
      GROUP BY event_type
    )
    SELECT event_type, n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0, 6) AS slope,
           round((CAST(sy AS DOUBLE) / 100.0
                  - (CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0)
                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS corr
    FROM s
    """,
)
def a10_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped OLS + Pearson correlation (value vs the JSON k field) from
    EXACT integer moment sums — n, Σx, Σy, Σx², Σy², Σxy all in BIGINT
    cents/units, so the partial aggregation is associative and the only
    float ops are the final closed-form divisions (deterministic across
    engines and partitionings — the built-in regr_slope/corr accumulate
    doubles and are not). The mergeable-moments shape is also exactly
    what a 1000-executor partial agg wants."""
    e = load_table(spark, sf_dir, "events")
    x = F.get_json_object("props", "$.k").cast("long")
    y = F.round(F.col("value") * 100).cast("long")
    s = (
        e.where(x.isNotNull() & F.col("value").isNotNull())
        .select("event_type", x.alias("x"), y.alias("y"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("sy"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den / F.lit(100.0)
    return s.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(
            (
                F.col("sy").cast("double") / F.lit(100.0)
                - slope * F.col("sx").cast("double")
            )
            / F.col("n").cast("double"),
            6,
        ).alias("intercept"),
        F.round(
            num
            / F.sqrt(
                den * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
            ),
            6,
        ).alias("corr"),
    )


@register(
    "sketch_cms_topk",
    r"""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(lower(COALESCE(text,''))), '\s+')) AS token
      FROM documents
      WHERE trim(COALESCE(text,'')) <> ''
    ),
    cms AS (
      SELECT d, b, count(*) AS c FROM (
        SELECT u.d,
               CAST(('0x' || substring(md5(CAST(u.d AS VARCHAR) || ':' || token), 1, 6))
                    AS INTEGER) % 512 AS b
        FROM toks, (SELECT unnest([0, 1, 2, 3]) AS d) u
      ) GROUP BY d, b
    ),
    exact_top AS (
      SELECT token, count(*) AS exact_n
      FROM toks GROUP BY token ORDER BY exact_n DESC, token LIMIT 20
    )
    SELECT t.token, t.exact_n,
           min(c.c) AS est_n,
           min(c.c) >= t.exact_n AS bound_holds
    FROM exact_top t
    JOIN (SELECT unnest([0, 1, 2, 3]) AS d) u ON true
    JOIN cms c
      ON c.d = u.d
     AND c.b = CAST(('0x' || substring(md5(CAST(u.d AS VARCHAR) || ':' || t.token), 1, 6))
                    AS INTEGER) % 512
    GROUP BY t.token, t.exact_n
    """,
)
def sketch_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over the token stream (d=4 md5 rows × w=512
    buckets) queried for the exact top-20 tokens, with the sketch's
    one-sided contract — estimate ≥ true count, always — verified as a
    column the oracle hash-checks. The sketch table is 2048 counters
    regardless of corpus size and builds with ONE map-side-combined
    shuffle (each token emits d bucket increments); merging shards is
    counter addition, the mergeable-partial shape warehouse rollups
    need. Complements HLL (distinct) and GK (quantiles) in the sketch
    family; md5 bucketing keeps the DuckDB replay bit-exact."""
    from extract_permits_spark.functions.similarity import tokens as _tokens

    d = load_table(spark, sf_dir, "documents")
    toks = d.where(F.trim(F.coalesce("text", F.lit(""))) != "").select(
        F.explode(_tokens(F.col("text"))).alias("token")
    )

    def bucket(dd, tok_col):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit(str(dd)), F.lit(":"), tok_col).cast("binary")
                    ),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("int")
            % 512
        )

    rows = [
        toks.select(F.lit(dd).alias("d"), bucket(dd, F.col("token")).alias("b"))
        for dd in range(4)
    ]
    from functools import reduce

    cms = (
        reduce(DataFrame.unionByName, rows)
        .groupBy("d", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact_top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("token"))
        .limit(20)
    )
    probes = reduce(
        DataFrame.unionByName,
        [
            exact_top.select(
                "token", "exact_n", F.lit(dd).alias("d"),
                bucket(dd, F.col("token")).alias("b"),
            )
            for dd in range(4)
        ],
    )
    return (
        probes.join(F.broadcast(cms), ["d", "b"])
        .groupBy("token", "exact_n")
        .agg(
            F.min("c").alias("est_n"),
            (F.min("c") >= F.first("exact_n")).alias("bound_holds"),
        )
    )


@register(
    "ev_attribution",
    """
    SELECT purchase_id, user_id, click_id AS last_click_id
    FROM (
      SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
             row_number() OVER (
               PARTITION BY p.event_id ORDER BY c.ts DESC, c.event_id DESC
             ) AS rn
      FROM events p JOIN events c ON p.user_id = c.user_id
      WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts < p.ts
    ) WHERE rn = 1
    """,
)
def ev_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: for every purchase, the single most recent
    click inside the 30-minute lookback — the candidate interval join
    (same shape stream_stream_join runs through the streaming engine)
    reduced by a deterministic max-by struct per purchase. Both the join
    and the reduction key on the same columns, so the pick is one
    aggregation over the already-joined pairs — no second window
    shuffle."""
    e = load_table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    c = e.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    pairs = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("interval 30 minutes"))
        & (F.col("c_ts") < F.col("p_ts")),
    )
    return (
        pairs.groupBy("purchase_id", "user_id")
        .agg(F.max(F.struct("c_ts", "click_id")).alias("_m"))
        .select("purchase_id", "user_id", F.col("_m.click_id").alias("last_click_id"))
    )


@register(
    "x7_date_spine",
    """
    WITH RECURSIVE spine(d) AS (
      SELECT (SELECT min(CAST(ts AS DATE)) FROM events)
      UNION ALL
      SELECT d + INTERVAL 1 DAY FROM spine
      WHERE d < (SELECT max(CAST(ts AS DATE)) FROM events)
    ), act AS (
      SELECT CAST(ts AS DATE) AS dd, count(*) AS n FROM events GROUP BY 1
    )
    SELECT strftime(s.d, '%Y-%m-%d') AS day,
           coalesce(a.n, 0) AS n_events,
           a.dd IS NULL AS is_gap
    FROM spine s LEFT JOIN act a ON s.d = a.dd
    """,
)
def x7_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-free calendar spine via WITH RECURSIVE (new engine surface in
    Spark 4) — the canonical warehouse recursive CTE: generate every day
    between the fact table's min and max, left-join daily activity, flag
    silent days. The spine bounds are bounded driver scalars (two-value
    .first()); the recursion itself is O(days), never data-sized.
    Complements the iterative-DataFrame loop of vocab_bpe_train
    with the declarative recursion form for small bounded expansions."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.select(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    ).first()
    lo, hi = bounds["lo"], bounds["hi"]
    e.select(F.col("ts").cast("date").alias("dd")).groupBy("dd").agg(
        F.count(F.lit(1)).alias("n")
    ).createOrReplaceTempView("_spine_act")
    return spark.sql(
        f"""
        WITH RECURSIVE spine(d) AS (
          SELECT DATE'{lo}'
          UNION ALL
          SELECT date_add(d, 1) FROM spine WHERE d < DATE'{hi}'
        )
        SELECT date_format(s.d, 'yyyy-MM-dd') AS day,
               coalesce(a.n, 0) AS n_events,
               a.dd IS NULL AS is_gap
        FROM spine s LEFT JOIN _spine_act a ON s.d = a.dd
        """
    )


@register(
    "a11_histogram",
    """
    WITH b AS (
      SELECT CAST(least(greatest(floor((c_acctbal + 1000.0) / 1000.0) + 1, 0), 12)
                  AS BIGINT) AS bucket
      FROM customer
    )
    SELECT bucket,
           CAST(round(-1000.0 + (bucket - 1) * 1000.0, 2) AS DOUBLE) AS lo,
           CAST(round(-1000.0 + bucket * 1000.0, 2) AS DOUBLE) AS hi,
           count(*) AS n
    FROM b GROUP BY bucket
    """,
)
def a11_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram via width_bucket over fixed bounds (the
    TPC-H acctbal domain [-1000, 10000], 11 buckets): a single map-side-
    combined aggregate — the mergeable shape dashboards bin with at any
    scale. Fixed literal bounds (not data-derived min/max) keep bucket
    edges stable across snapshots, which is what makes day-over-day
    histograms comparable."""
    c = load_table(spark, sf_dir, "customer")
    bucket = F.width_bucket("c_acctbal", F.lit(-1000.0), F.lit(10000.0), F.lit(11))
    return (
        c.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bucket",
            F.round(F.lit(-1000.0) + (F.col("bucket") - 1) * 1000.0, 2).alias("lo"),
            F.round(F.lit(-1000.0) + F.col("bucket") * 1000.0, 2).alias("hi"),
            "n",
        )
    )


@register(
    "sample_leakage_safe_split",
    _COMPONENT_EDGES_SQL
    + """
    , reach(id, comp) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM sym)
      UNION
        SELECT s.v, r.comp FROM reach r JOIN sym s ON s.u = r.id
    ),
    comp AS (SELECT id, MIN(comp) AS component FROM reach GROUP BY id),
    keyed AS (
      SELECT d.doc_id,
             coalesce(c.component, d.doc_id) AS split_key
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    )
    SELECT doc_id, split_key,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id, split_key,
             CAST(('0x' || substring(md5(CAST(split_key AS VARCHAR)), 1, 4))
                  AS INTEGER) % 100 AS bucket
      FROM keyed
    )
    """,
)
def sample_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/valid/test split: hash the near-dup CLUSTER
    root, not the doc id, so every member of a duplicate cluster lands in
    the same split — the split hygiene that stops eval contamination by
    near-copies (hash-split by doc id silently scatters a cluster across
    train AND test). Isolated docs fall back to their own id; the cluster
    labels reuse the memoized component computation, and the split is the
    same deterministic md5 bucketing as sample_hash_split."""
    from extract_permits_spark.plans._registry import _hash_split

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    comp = _components_cached(spark, sf_dir).select(
        F.col("id").alias("doc_id"), "component"
    )
    keyed = d.join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("split_key")
    )
    return keyed.select("doc_id", "split_key", _hash_split("split_key"))


@register(
    "profile_documents",
    """
    SELECT
      count(*) AS n_rows,
      CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS text_nulls,
      count(DISTINCT lang) AS lang_distinct,
      count(DISTINCT source) AS source_distinct,
      CAST(min(n_chars) AS BIGINT) AS chars_min,
      CAST(max(n_chars) AS BIGINT) AS chars_max,
      CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS chars_total,
      CAST(sum(CAST(length(COALESCE(text,'')) AS BIGINT)) AS BIGINT) AS text_len_total
    FROM documents
    """,
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profile of the corpus (null counts, distincts,
    bounds, exact totals) — the deterministic, oracle-checkable cousin of
    df.summary(). All counters are exact BIGINTs, so partial aggregation
    is associative; a profiling pass at 100 TB is one scan with map-side
    combine (plus two distinct sub-aggregates on tiny-cardinality
    columns)."""
    d = load_table(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)).cast("long").alias(
            "text_nulls"
        ),
        F.count_distinct("lang").alias("lang_distinct"),
        F.count_distinct("source").alias("source_distinct"),
        F.min("n_chars").cast("long").alias("chars_min"),
        F.max("n_chars").cast("long").alias("chars_max"),
        F.sum(F.col("n_chars").cast("long")).cast("long").alias("chars_total"),
        F.sum(F.length(F.coalesce("text", F.lit(""))).cast("long"))
        .cast("long")
        .alias("text_len_total"),
    )


@register(
    "ev_anomaly_zscore",
    """
    WITH s AS (
      SELECT event_type,
             count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sy,
             CAST(sum(CAST(round(value * 100) AS BIGINT)
                      * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS syy
      FROM events WHERE value IS NOT NULL GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           round((CAST(round(e.value * 100) AS BIGINT) * s.n - s.sy)
                 / sqrt(CAST(s.n * s.syy - s.sy * s.sy AS DOUBLE)), 6) AS z
    FROM events e JOIN s ON e.event_type = s.event_type
    WHERE e.value IS NOT NULL
      AND abs((CAST(round(e.value * 100) AS BIGINT) * s.n - s.sy)
              / sqrt(CAST(s.n * s.syy - s.sy * s.sy AS DOUBLE))) > 2.5
    """,
)
def ev_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier flagging from exact integer moments —
    the algebraic identity z = (x·n − Σx) / sqrt(n·Σx² − (Σx)²)
    evaluated with BIGINT numerators, so the only float ops are the final
    division (deterministic; a naive avg/stddev_pop accumulates doubles
    partition-order-dependently). Two passes: tiny per-type moment table,
    broadcast back over the stream — the standard anomaly-flagging shape
    at any scale."""
    e = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    y = F.round(F.col("value") * 100).cast("long")
    s = e.select("event_type", y.alias("y")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    j = e.join(F.broadcast(s), "event_type")
    num = (y * F.col("n") - F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    z = num / den
    return j.where(F.abs(z) > 2.5).select(
        "event_id", "event_type", F.round(z, 6).alias("z")
    )


@register(
    "graph_triangles",
    _JACCARD_PAIRS_SQL
    + """
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM pairs e1
    JOIN pairs e2 ON e1.id_b = e2.id_a
    JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the near-dup graph — the density signal that
    separates tight duplicate cliques from chains. Oriented-edge form
    (id_a < id_b everywhere, so each triangle counts exactly once): two
    equi-joins on node keys, never an all-pairs product; the classic
    distributed triangle algorithm (order by degree at real scale to
    bound the wedge fan-out)."""
    pairs = _jaccard_pairs_cached(spark, sf_dir).select("id_a", "id_b")
    e1 = pairs.alias("e1")
    e2 = pairs.alias("e2")
    e3 = pairs.alias("e3")
    wedges = e1.join(e2, F.col("e1.id_b") == F.col("e2.id_a"))
    tri = wedges.join(
        e3,
        (F.col("e3.id_a") == F.col("e1.id_a")) & (F.col("e3.id_b") == F.col("e2.id_b")),
    )
    return tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))


@register(
    "graph_link_prediction",
    """
    WITH pr AS (
      SELECT a.l_orderkey, a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    e0 AS (
      SELECT pa AS id_a, pb AS id_b FROM pr
      GROUP BY pa, pb HAVING count(*) >= 2
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM e0
      UNION ALL SELECT id_b, id_a FROM e0
    ),
    deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
    wedge AS (
      SELECT e1.dst AS a, e2.dst AS b
      FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
    ),
    common AS (SELECT a, b, count(*) AS c FROM wedge GROUP BY a, b),
    cand AS (
      SELECT a, b, c FROM common
      WHERE NOT EXISTS (
        SELECT 1 FROM e0 WHERE e0.id_a = common.a AND e0.id_b = common.b
      )
    )
    SELECT cand.a AS id_a, cand.b AS id_b,
           CAST(cand.c AS BIGINT) AS n_common,
           round(CAST(cand.c AS DOUBLE) / (da.deg + db.deg - cand.c), 6)
             AS jaccard
    FROM cand
    JOIN deg da ON da.node = cand.a
    JOIN deg db ON db.node = cand.b
    ORDER BY jaccard DESC, id_a, id_b
    LIMIT 25
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-Jaccard link prediction (Liben-Nowell & Kleinberg 2003)
    over the co-purchase graph — parts are linked when co-ordered in ≥ 2
    orders; score every NON-edge sharing a common neighbor by
    |N(a)∩N(b)| / |N(a)∪N(b)|. (The near-dup graph is useless here: its
    Jaccard-threshold components are transitively closed cliques with no
    open wedges — co-occurrence graphs are where link prediction lives.)

    Shape: one self-join on the order key (pair generation, map-side
    combinable count), one wedge self-join on the shared-neighbor key
    (same class as graph_triangles — orient by degree at real scale to
    bound wedge fan-out), an anti-join against the edge list, and a
    double division of exact integers. Top-25 by (score, id_a, id_b) —
    deterministic; the oracle replays the identical construction."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    e0 = (
        a.join(b, "ok")
        .where(F.col("pa") < F.col("pb"))
        .groupBy(F.col("pa").alias("id_a"), F.col("pb").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= 2)
        .select("id_a", "id_b")
    )
    edges = e0.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionAll(e0.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    e1 = edges.select(F.col("src").alias("u"), F.col("dst").alias("a"))
    e2 = edges.select(F.col("src").alias("u"), F.col("dst").alias("b"))
    common = (
        e1.join(e2, "u")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cand = common.join(
        e0,
        (common.a == e0.id_a) & (common.b == e0.id_b),
        "left_anti",
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("degb"))
    return (
        cand.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("id_a"),
            F.col("b").alias("id_b"),
            F.col("c").cast("long").alias("n_common"),
            F.round(
                F.col("c").cast("double")
                / (F.col("dega") + F.col("degb") - F.col("c")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "id_a", "id_b")
        .limit(25)
    )


@register(
    "j7b_asof_forward",
    """
    SELECT p.event_id AS purchase_id, p.user_id,
           (SELECT e.event_id FROM events e
            WHERE e.user_id = p.user_id AND e.event_type = 'error'
              AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 1 HOUR
            ORDER BY e.ts, e.event_id LIMIT 1) AS next_error_id
    FROM events p WHERE p.event_type = 'purchase'
    """,
)
def j7b_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with tolerance (pandas merge_asof
    direction='forward'): each purchase enriched with the NEXT error
    event on the same user within one hour, or NULL. Same single-shuffle
    union+window plan as the backward join — only the scan order flips;
    the tolerance nulls matches outside the window after the fill, so no
    extra join appears. Oracle is the correlated-subquery formulation."""
    from extract_permits_spark.operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    left = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    right = e.where(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("next_error_id")
    )
    out = asof_join(
        left,
        right,
        left_on="user_id",
        right_on="user_id",
        left_time="ts",
        right_time="ts",
        payload_cols=["next_error_id"],
        direction="forward",
        tolerance_seconds=3600,
    )
    return out.select("purchase_id", "user_id", "next_error_id")


@register(
    "q1_incremental_maintenance",
    # oracle: the DIRECT full-table aggregate — the incremental path must
    # be indistinguishable from recomputing
    _ORACLES["q1_pricing_summary"],
)
def q1_incremental_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of the Q1 pricing summary: the fact
    stream splits into a base snapshot and an append delta (orderkey % 10),
    each side folds to ALGEBRAIC partials (decimal sums + counts — no
    averages), and the view refresh is a sum-of-partials merge with
    averages derived at the end. Because every sum is exact decimal, the
    merged view is BIT-IDENTICAL to a full recompute — the oracle IS the
    direct aggregate. At 100 TB this turns a daily full-table scan into
    an aggregate over yesterday's partials + today's delta."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz")
    )
    qty, price, disc, tax = (
        _dec("l_quantity"),
        _dec("l_extendedprice"),
        _dec("l_discount"),
        _dec("l_tax"),
    )

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum(qty).alias("p_qty"),
            F.sum(price).alias("p_price"),
            F.sum(price * (F.lit(1) - disc)).alias("p_disc_price"),
            F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax)).alias("p_charge"),
            F.sum(disc).alias("p_disc"),
            F.count(F.lit(1)).alias("p_n"),
        )

    base = partials(li.where(F.col("l_orderkey") % 10 != 0))
    delta = partials(li.where(F.col("l_orderkey") % 10 == 0))
    merged = (
        base.unionByName(delta)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("p_qty").alias("m_qty"),
            F.sum("p_price").alias("m_price"),
            F.sum("p_disc_price").alias("m_disc_price"),
            F.sum("p_charge").alias("m_charge"),
            F.sum("p_disc").alias("m_disc"),
            F.sum("p_n").alias("m_n"),
        )
    )
    return merged.select(
        "l_returnflag",
        "l_linestatus",
        F.col("m_qty").cast("double").alias("sum_qty"),
        F.col("m_price").cast("double").alias("sum_base_price"),
        F.col("m_disc_price").cast("double").alias("sum_disc_price"),
        F.col("m_charge").cast("double").alias("sum_charge"),
        (F.col("m_qty").cast("double") / F.col("m_n")).alias("avg_qty"),
        (F.col("m_disc").cast("double") / F.col("m_n")).alias("avg_disc"),
        F.col("m_n").alias("count_order"),
    )


@register(
    "ev_dau_wau",
    """
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    dau AS (SELECT day, count(*) AS dau FROM du GROUP BY day),
    expanded AS (
      SELECT DISTINCT du.day + CAST(u.off AS INTEGER) * INTERVAL 1 DAY AS wday, du.user_id
      FROM du, (SELECT unnest(range(0, 7)) AS off) u
    ),
    wau AS (
      SELECT CAST(wday AS DATE) AS day, count(*) AS wau FROM expanded GROUP BY 1
    )
    SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dau, w.wau
    FROM dau d JOIN wau w ON d.day = w.day
    """,
)
def ev_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily + trailing-7-day active users. WAU cannot be summed from
    daily distincts (users repeat), so each (user, day) pair is expanded
    to the 7 window-days it contributes to — a bounded 7× narrow fan-out
    — then counted distinct per window day. All shuffles key on
    (day[, user]); the expansion happens AFTER the first distinct, so
    the fan-out applies to unique pairs, not raw events (at 100 TB the
    raw stream is 1000× the pair count). Only window days with same-day
    activity are reported (join, not left join), keeping the output a
    clean day series."""
    e = load_table(spark, sf_dir, "events")
    du = e.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    expanded = (
        du.select(
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"), "day", "user_id"
        )
        .select(F.date_add("day", F.col("off")).alias("day"), "user_id")
        .distinct()
    )
    wau = expanded.groupBy("day").agg(F.count(F.lit(1)).alias("wau"))
    return (
        dau.join(wau, "day")
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "dau", "wau")
    )


@register(
    "docs_dup_rate_by_source",
    """
    WITH h AS (
      SELECT source, md5(COALESCE(text, '')) AS th FROM documents
    ),
    g AS (
      SELECT source, th, count(*) AS n FROM h GROUP BY source, th
    )
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS n_dup_docs,
           round(CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS DOUBLE)
                 / sum(n), 6) AS dup_rate
    FROM g GROUP BY source
    """,
)
def docs_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate rate per source — the per-feed health metric that
    decides which crawls need dedup attention first. Hash the text once,
    count per (source, hash), fold to per-source totals: two shuffles,
    both map-side combined, second one over the tiny hash-group table.
    dup_rate counts ALL members of a duplicated hash group (a group of
    3 contributes 3), matching 'fraction of docs that have a twin'."""
    d = load_table(spark, sf_dir, "documents")
    g = (
        d.select("source", F.md5(F.coalesce("text", F.lit(""))).alias("th"))
        .groupBy("source", "th")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return g.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_dup_docs"),
        F.round(
            F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0)).cast("double")
            / F.sum("n"),
            6,
        ).alias("dup_rate"),
    )


@register(
    "sample_weighted_per_source",
    """
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             round(ln(
               (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) + 1.0) / 4294967297.0
             ) / n_chars, 9) AS es_key
      FROM documents
      WHERE n_chars > 0
    )
    SELECT doc_id, source, n_chars, es_key
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY source ORDER BY es_key DESC, doc_id
      ) AS rn
      FROM keyed
    ) WHERE rn <= 3
    """,
)
def sample_weighted_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, k=3 per source, weight =
    n_chars — the Efraimidis–Spirakis exponential-key scheme (key =
    ln(u)/w, keep the k largest), with u derived from md5(doc_id) so the
    'randomness' is deterministic, reproducible across runs, engines,
    and partitionings. This is how a quality-weighted subsample is drawn
    from 100 TB in ONE pass with no coordination: per-row key, per-group
    top-k window (or a partial top-k under WindowGroupLimit) — never a
    sequential reservoir. The 9dp rounding before ranking makes the
    cross-engine order exact; ties break on doc_id."""
    d = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8),
            16,
            10,
        ).cast("long")
        + F.lit(1.0)
    ) / F.lit(4294967297.0)
    keyed = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.round(F.log(u) / F.col("n_chars"), 9).alias("es_key"),
    )
    w = Window.partitionBy("source").orderBy(F.col("es_key").desc(), F.col("doc_id"))
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "source", "n_chars", "es_key")
    )


_CURATION_SQL = _COMPONENT_EDGES_SQL + """
    , reach(id, comp) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM sym)
      UNION
        SELECT s.v, r.comp FROM reach r JOIN sym s ON s.u = r.id
    ),
    comp AS MATERIALIZED (SELECT id, MIN(comp) AS component FROM reach GROUP BY id),
    canon AS MATERIALIZED (
      SELECT component, canonical_id FROM (
        SELECT c.component,
               FIRST_VALUE(c.id) OVER (
                 PARTITION BY c.component
                 ORDER BY length(COALESCE(d.text, '')) DESC, c.id
               ) AS canonical_id,
               ROW_NUMBER() OVER (PARTITION BY c.component ORDER BY c.id) AS rn
        FROM comp c JOIN documents d ON d.doc_id = c.id
      ) WHERE rn = 1
    ),
    cleaned AS (
      SELECT doc_id, lang, source,
             trim(regexp_replace(
               regexp_replace(COALESCE(text,''), 'https?://\\S+', '', 'g'),
               '\\s+', ' ', 'g')) AS t
      FROM documents
    ),
    gated AS (
      SELECT doc_id, lang, source, t,
             len(string_split_regex(t, '\\s+')) AS n_toks
      FROM cleaned
      WHERE length(t) >= 20 AND length(t) <= 50000
        AND len(string_split_regex(t, '\\s+')) >= 5
    ),
    filt AS (
      SELECT doc_id, source, CAST(n_toks AS BIGINT) AS n_toks
      FROM gated
      QUALIFY row_number() OVER (PARTITION BY md5(t) ORDER BY doc_id) = 1
    ),
    kept AS (
      SELECT f.doc_id, f.source, f.n_toks,
             coalesce(c.component, f.doc_id) AS split_key
      FROM filt f
      LEFT JOIN comp c ON f.doc_id = c.id
      LEFT JOIN canon k ON c.component = k.component
      WHERE c.id IS NULL OR k.canonical_id = f.doc_id
    )
    SELECT doc_id, source, n_toks,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM (
      SELECT *, CAST(('0x' || substring(md5(CAST(split_key AS VARCHAR)), 1, 4))
                     AS INTEGER) % 100 AS bucket
      FROM kept
    )
"""


@register("llm_corpus_curation", _CURATION_SQL)
def llm_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-curation flagship — what a user actually runs
    before training: quality filter (URL-strip, length/token gates, exact
    dedup keep-first) → near-dup removal (keep only each n-gram cluster's
    canonical survivor: longest text, ties to lowest id) → leakage-safe
    train/valid/test split (hash of the cluster root, so surviving docs
    and any future cluster re-expansion stay split-stable). Every stage
    reuses independently-oracled machinery: docs_pretrain_filter, the
    memoized components, dedup_cluster_canonical's survivor rule
    (canonical_per_cluster) and sample_leakage_safe_split's split rule
    (_hash_split). The whole chain is replayed end-to-end in DuckDB —
    composition is where silent semantic drift hides, so the composition
    itself is hash-checked."""
    from extract_permits_spark.operators.graph import canonical_per_cluster
    from extract_permits_spark.plans._registry import _hash_split

    d = load_table(spark, sf_dir, "documents")
    filt = docs_pretrain_filter(spark, sf_dir).select("doc_id", "source", "n_toks")
    comp = _components_cached(spark, sf_dir).select("id", "component")
    quality = d.select(
        "doc_id", F.length(F.coalesce("text", F.lit(""))).alias("_quality")
    )
    canon = canonical_per_cluster(comp, quality, quality_col="_quality").select(
        "component", "canonical_id"
    )
    kept = (
        filt.join(comp, filt.doc_id == comp.id, "left")
        .join(canon, "component", "left")
        .where(F.col("id").isNull() | (F.col("canonical_id") == F.col("doc_id")))
        .select(
            "doc_id",
            "source",
            "n_toks",
            F.coalesce("component", "doc_id").alias("split_key"),
        )
    )
    return kept.select("doc_id", "source", "n_toks", _hash_split("split_key"))


_TOKPACK_SQL = """
    WITH RECURSIVE cleaned AS (
      SELECT doc_id,
             trim(regexp_replace(
               regexp_replace(COALESCE(text,''), 'https?://\\S+', '', 'g'),
               '\\s+', ' ', 'g')) AS t
      FROM documents
    ), gated AS (
      SELECT doc_id, t, len(string_split_regex(t, '\\s+')) AS n_toks
      FROM cleaned
      WHERE length(t) >= 20 AND length(t) <= 50000
        AND len(string_split_regex(t, '\\s+')) >= 5
    ), filt AS (
      SELECT doc_id, t FROM gated
      QUALIFY row_number() OVER (PARTITION BY md5(t) ORDER BY doc_id) = 1
    ), toked AS (
      SELECT doc_id, string_split_regex(trim(lower(t)), '\\s+') AS toks
      FROM filt
    ), chunks AS (
      SELECT doc_id,
             CAST((start - 1) // 64 AS INT) AS chunk_idx,
             CAST(least(64, len(toks) - start + 1) AS BIGINT) AS weight
      FROM (
        SELECT doc_id, toks,
               unnest(range(1, greatest(len(toks), 1) + 1, 64)) AS start
        FROM toked
      )
    ), seq AS MATERIALIZED (
      SELECT doc_id % 8 AS shard, doc_id, chunk_idx, weight,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id % 8 ORDER BY doc_id, chunk_idx
             ) AS rn
      FROM chunks
    ), pack(shard, rn, doc_id, chunk_idx, weight, bin, used) AS (
        SELECT shard, rn, doc_id, chunk_idx, weight, 0, weight
        FROM seq WHERE rn = 1
      UNION ALL
        SELECT s.shard, s.rn, s.doc_id, s.chunk_idx, s.weight,
               CASE WHEN p.used + s.weight > 256 THEN p.bin + 1 ELSE p.bin END,
               CASE WHEN p.used + s.weight > 256 THEN s.weight
                    ELSE p.used + s.weight END
        FROM pack p JOIN seq s ON s.shard = p.shard AND s.rn = p.rn + 1
    )
    SELECT shard, doc_id, chunk_idx, weight, CAST(bin AS BIGINT) AS bin
    FROM pack
"""


@register("llm_tokenize_pack", _TOKPACK_SQL)
def llm_tokenize_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed shard-assembly flagship — the stage a trainer consumes
    AFTER curation: quality filter (URL-strip, length/token gates, exact
    dedup keep-first, same contract as docs_pretrain_filter) →
    non-overlapping 64-token chunking (the context-window grain) →
    next-fit packing of chunks into 256-token bins per shard. Output is
    one row per chunk: (shard, doc_id, chunk_idx, weight, bin) — the
    physical training-shard layout.

    Scale shape: cleaning + chunking are narrow (tokenize once,
    posexplode arithmetic starts; chunk_text is never materialized —
    column pruning removes the slice/join); the only shuffles are the
    dedup hash and the per-shard repartition for the stateful pack walk
    (Arrow-batched applyInPandas, sequential only WITHIN a shard — at
    100 TB the shard count scales with the cluster, 8 here for oracle
    tractability). The walk orders on seq_id = doc_id*1024 + chunk_idx
    (== (doc_id, chunk_idx): the 50k-char gate bounds chunks/doc at 391
    < 1024). The DuckDB oracle replays the identical walk one row per
    shard per step as a recursive CTE, hash-checking the composition
    end-to-end like llm_corpus_curation."""
    from extract_permits_spark.functions.corpus import next_fit_pack

    d = load_table(spark, sf_dir, "documents")
    t = textfn.collapse_whitespace(textfn.strip_urls("text"))
    cleaned = d.select("doc_id", t.alias("t"))
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
    filt = (
        gated.groupBy(F.md5(F.col("t").cast("binary")).alias("_h"))
        .agg(F.min_by(F.struct("doc_id", "t"), F.col("doc_id")).alias("_r"))
        .select("_r.*")
    )
    chunks = textfn.chunk_documents(
        filt, id_col="doc_id", text_col="t", chunk_tokens=64, overlap=0
    )
    seq = chunks.select(
        (F.col("doc_id") % 8).alias("shard"),
        (F.col("doc_id") * 1024 + F.col("chunk_idx")).alias("seq_id"),
        F.col("n_tokens").cast("long").alias("w"),
    )
    packed = next_fit_pack(
        seq, id_col="seq_id", weight_col="w", shard_col="shard", budget=256
    )
    return packed.select(
        "shard",
        F.floor(F.col("seq_id") / 1024).cast("long").alias("doc_id"),
        (F.col("seq_id") % 1024).cast("int").alias("chunk_idx"),
        "weight",
        "bin",
    )


@register(
    "llm_pack_stats",
    f"""
    SELECT shard,
           CAST(max(bin) + 1 AS BIGINT) AS n_bins,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(weight) AS BIGINT) AS sum_tokens,
           CAST(sum(weight) AS DOUBLE) / ((max(bin) + 1) * 256) AS fill_rate
    FROM ({_TOKPACK_SQL})
    GROUP BY shard
    ORDER BY shard
    """,
)
def llm_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit over the shard-assembly flagship: per
    shard, how many 256-token bins the next-fit walk opened, how many
    chunks they hold, and the fill rate (token utilization — the number
    a trainer watches, since every unfilled slot is padding compute).
    Bins are numbered densely from 0 per shard, so n_bins is max(bin)+1 —
    an exact max aggregate, no countDistinct Expand. All-integer until
    the single final division; the oracle replays the entire pack walk
    (the recursive CTE) and aggregates identically."""
    packed = llm_tokenize_pack(spark, sf_dir)
    fill = F.sum("weight").cast("double") / (
        (F.max("bin") + F.lit(1)) * F.lit(256)
    )
    return (
        packed.groupBy("shard")
        .agg(
            (F.max("bin") + 1).cast("long").alias("n_bins"),
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum("weight").cast("long").alias("sum_tokens"),
            fill.alias("fill_rate"),
        )
        .orderBy("shard")
    )


def _quality_sigmoid(text) -> "F.Column":
    """The fixed-weight quality logistic shared by docs_quality_score,
    docs_quality_prune, and llm_pretrain_pipeline — ONE definition so the
    three entries cannot drift (r9 review finding; each entry's oracle
    restates the same closed form). Returns the raw sigmoid; callers
    apply the 6dp round."""
    len_chars = F.length(text).cast("double")
    n_words = F.size(F.split(F.trim(F.lower(text)), r"\s+")).cast("double")
    n_punct = (
        F.length(text)
        - F.length(
            F.replace(
                F.replace(F.replace(text, F.lit("."), F.lit("")), F.lit(","), F.lit("")),
                F.lit("!"),
                F.lit(""),
            )
        )
    ).cast("double")
    logit = (
        F.lit(-2.0)
        + F.lit(0.004) * len_chars
        + F.lit(0.02) * n_words
        - F.lit(0.1) * n_punct
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))


_PRETRAIN_SQL = """
    WITH RECURSIVE cleaned AS (
      SELECT doc_id, source,
             trim(regexp_replace(
               regexp_replace(COALESCE(text,''), 'https?://\\S+', '', 'g'),
               '\\s+', ' ', 'g')) AS t
      FROM documents
    ), gated AS (
      SELECT doc_id, source, t
      FROM cleaned
      WHERE length(t) >= 20 AND length(t) <= 50000
        AND len(string_split_regex(t, '\\s+')) >= 5
    ), toks AS MATERIALIZED (
      SELECT doc_id, source, t,
             string_split_regex(trim(lower(t)), '\\s+') AS tk
      FROM gated
    ), grams AS MATERIALIZED (
      SELECT doc_id,
             unnest(list_transform(
               range(1, greatest(len(tk) - 4, 0) + 1),
               i -> array_to_string(list_slice(tk, i, i + 4), ' ')
             )) AS g
      FROM toks
    ), ev AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0
    ), contaminated AS (
      SELECT DISTINCT gr.doc_id
      FROM grams gr JOIN ev USING (g)
      WHERE gr.doc_id % 10 <> 0
    ), train AS (
      SELECT doc_id, source, t, tk FROM toks
      WHERE doc_id % 10 <> 0
        AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ), deduped AS MATERIALIZED (
      SELECT doc_id, source, t, tk FROM train
      QUALIFY row_number() OVER (PARTITION BY md5(t) ORDER BY doc_id) = 1
    ), q AS (
      SELECT doc_id, source, tk,
             round(1.0 / (1.0 + exp(-(
               -2.0 + 0.004 * CAST(length(t) AS DOUBLE)
                    + 0.02 * CAST(len(string_split_regex(trim(lower(t)), '\\s+'))
                                  AS DOUBLE)
                    - 0.1 * CAST(length(t)
                          - length(replace(replace(replace(t,
                                    '.', ''), ',', ''), '!', '')) AS DOUBLE)
             ))), 6) AS quality
      FROM deduped
    ), pruned AS (
      SELECT doc_id, source, tk FROM (
        SELECT doc_id, source, tk,
               ROW_NUMBER() OVER (
                 PARTITION BY source ORDER BY quality DESC, doc_id
               ) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM q
      ) WHERE rn <= CAST(ceil(0.3 * n) AS BIGINT)
    ), mixed AS (
      SELECT doc_id, tk FROM (
        SELECT doc_id, tk,
               SUM(len(tk)) OVER (
                 PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM pruned
      ) WHERE cum <= 600
    ), chunks AS (
      SELECT doc_id,
             CAST((start - 1) // 64 AS INT) AS chunk_idx,
             CAST(least(64, len(tk) - start + 1) AS BIGINT) AS weight
      FROM (
        SELECT doc_id, tk,
               unnest(range(1, greatest(len(tk), 1) + 1, 64)) AS start
        FROM mixed
      )
    ), seq AS MATERIALIZED (
      SELECT doc_id % 8 AS shard, doc_id, chunk_idx, weight,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id % 8 ORDER BY doc_id, chunk_idx
             ) AS rn
      FROM chunks
    ), pack(shard, rn, doc_id, chunk_idx, weight, bin, used) AS (
        SELECT shard, rn, doc_id, chunk_idx, weight, 0, weight
        FROM seq WHERE rn = 1
      UNION ALL
        SELECT s.shard, s.rn, s.doc_id, s.chunk_idx, s.weight,
               CASE WHEN p.used + s.weight > 256 THEN p.bin + 1 ELSE p.bin END,
               CASE WHEN p.used + s.weight > 256 THEN s.weight
                    ELSE p.used + s.weight END
        FROM pack p JOIN seq s ON s.shard = p.shard AND s.rn = p.rn + 1
    )
    SELECT shard, doc_id, chunk_idx, weight, CAST(bin AS BIGINT) AS bin
    FROM pack
"""


def _budget_mix(pruned: DataFrame, cap: int = 512, budget: int = 600) -> DataFrame:
    """The cap-prefiltered per-source token-budget mix stage of
    ``llm_pretrain_pipeline`` (factored out in r15 so the guard
    semantics are unit-testable with a small cap; the default-arg plan
    is byte-identical to the previous inline spelling).

    ``pruned`` must carry (doc_id, source, tk, _src_n) where ``_src_n``
    is the per-source survivor count entering this stage. The budget is
    a constant, so a rank-cap prefilter bounds the window's input:
    ``row_number <= cap`` plans as WindowGroupLimit — each map task
    keeps at most ``cap`` rows per source BEFORE the shuffle, so the
    per-source reducer sees O(cap x tasks) rows,
    corpus-size-independent — and the cumulative sum runs on the tiny
    capped set. Correctness is GUARDED in-plan, not assumed: cum is
    monotone per source, so a dropped row can only have been a survivor
    if the cap-th row's cum is still <= budget AND a row beyond the cap
    actually exists (``_src_n > cap`` — r14 ADVICE low: a source with
    exactly ``cap`` under-budget survivors dropped nothing, the old
    guard tripped on it spuriously); assert_true fails the job in the
    real config-error case instead of silently under-mixing."""
    wmix = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    capped = pruned.withColumn("_mrn", F.row_number().over(wmix)).where(
        F.col("_mrn") <= cap
    )
    cum = F.sum(F.size("tk")).over(
        wmix.rowsBetween(Window.unboundedPreceding, 0)
    )
    cap_guard = F.coalesce(
        F.assert_true(
            (F.col("_mrn") < cap)
            | (F.col("cum") > budget)
            | (F.col("_src_n") <= F.lit(cap)),
            F.lit(
                "llm_pretrain_pipeline: the token mix budget was not"
                " exhausted within the rank prefilter cap — raise"
                " the cap (a source has too many near-empty docs)"
            ),
        ).cast("long"),
        F.lit(0).cast("long"),
    )
    return (
        capped.withColumn("cum", cum)
        .where((F.col("cum") + cap_guard) <= budget)
        .select("doc_id", "tk")
    )


@register("llm_pretrain_pipeline", _PRETRAIN_SQL)
def llm_pretrain_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pretraining-data pipeline, composed end to end — what a
    training-data team actually ships, chaining the registry's oracled
    stages in their production order:

      clean (URL-strip, whitespace collapse) -> gates (20..50k chars,
      >=5 tokens) -> benchmark decontamination (drop any training doc
      sharing a 5-gram with the held-out eval slice doc_id%10==0, which
      is itself excluded) -> exact dedup keep-first (md5 of cleaned
      text) -> quality prune (top 30% per source by the logistic
      score) -> domain mix (600-token budget per source, md5-shuffled
      prefix) -> 64-token chunking -> next-fit packing into 256-token
      bins per shard (doc_id%8). Output = the physical shard layout
      (shard, doc_id, chunk_idx, weight, bin), llm_tokenize_pack's
      contract with the curated-and-mixed corpus upstream.

    Scale shape: every stage before packing is narrow maps + at most one
    shuffle each (grams explode + broadcast eval probe; md5 dedup
    window; source windows; source mix window), the pack walk is
    sequential only within a shard, and nothing is ever corpus-pairwise.
    The oracle replays the ENTIRE chain as one chained CTE including the
    recursive pack walk — the hash match pins every stage boundary, so
    a user can swap any stage knowing exactly what contract it must
    keep."""
    from extract_permits_spark.functions.corpus import next_fit_pack
    from extract_permits_spark.functions.similarity import tokens
    from extract_permits_spark.functions.text import _word_ngrams

    d = load_table(spark, sf_dir, "documents")
    t = textfn.collapse_whitespace(textfn.strip_urls("text"))
    cleaned = d.select("doc_id", "source", t.alias("t"))
    gated = cleaned.where(
        (F.length("t") >= 20)
        & (F.length("t") <= 50000)
        & (F.size(F.split("t", r"\s+")) >= 5)
    )
    toked = gated.select("doc_id", "source", "t", tokens(F.col("t")).alias("tk"))

    grams = toked.select("doc_id", F.explode(_word_ngrams(F.col("tk"), 5)).alias("g"))
    ev = grams.where(F.col("doc_id") % 10 == 0).select("g").distinct()
    contaminated = (
        grams.where(F.col("doc_id") % 10 != 0)
        .join(F.broadcast(ev), "g")
        .select("doc_id")
        .distinct()
    )
    train = toked.where(F.col("doc_id") % 10 != 0).join(
        contaminated, "doc_id", "left_anti"
    )

    # groupBy + min_by, not a row_number window (r12): the map-side
    # partial combine collapses a k-copy flood per mapper before the
    # shuffle, where the hash-partitioned window ships every copy (text
    # included) to one hot reducer and cannot be AQE-skew-split; min_by
    # on the unique doc_id is exactly keep-first.
    deduped = (
        train.groupBy(F.md5(F.col("t").cast("binary")).alias("_h"))
        .agg(F.min_by(F.struct(*train.columns), F.col("doc_id")).alias("_r"))
        .select("_r.*")
    )

    quality = F.round(_quality_sigmoid(F.col("t")), 6)
    scored = deduped.select("doc_id", "source", "tk", quality.alias("quality"))
    # distributed_group_rank, not a per-source window (r12): see
    # docs_quality_prune — no one-reducer-per-source sort at scale
    pruned = distributed_group_rank(
        scored,
        ["source"],
        [F.col("quality").desc(), F.col("doc_id")],
        "rn",
        total_col="n",
    ).where(
        F.col("rn") <= F.ceil(F.lit(0.3) * F.col("n")).cast("long")
    ).select(
        "doc_id",
        "source",
        "tk",
        # per-source survivor count (free — n is already attached): the
        # cap guard below must know whether any row actually exists
        # beyond the prefilter cap
        F.ceil(F.lit(0.3) * F.col("n")).cast("long").alias("_src_n"),
    )

    # The chain's LAST per-source window, de-fanged two ways (r14, the
    # follow-up r12e designated) — see _budget_mix above for the
    # WindowGroupLimit prefilter + in-plan budget-exhaustion guard.
    # (The general spelling with no weight assumption is
    # operators/windows.py:distributed_group_cumsum, used by
    # docs_domain_mix; measured here it costs two extra corpus
    # exchanges ~+1.4 s at sf0.1 that the constant budget makes
    # unnecessary.)
    mixed = _budget_mix(pruned)

    starts = F.sequence(F.lit(1), F.greatest(F.size("tk"), F.lit(1)), F.lit(64))
    chunks = mixed.select(
        "doc_id", "tk", F.posexplode(starts).alias("chunk_idx", "_start")
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.least(F.lit(64), F.size("tk") - F.col("_start") + 1)
        .cast("long")
        .alias("w"),
    )
    seq = chunks.select(
        (F.col("doc_id") % 8).alias("shard"),
        (F.col("doc_id") * 1024 + F.col("chunk_idx")).alias("seq_id"),
        "w",
    )
    packed = next_fit_pack(
        seq, id_col="seq_id", weight_col="w", shard_col="shard", budget=256
    )
    return packed.select(
        "shard",
        F.floor(F.col("seq_id") / 1024).cast("long").alias("doc_id"),
        (F.col("seq_id") % 1024).cast("int").alias("chunk_idx"),
        "weight",
        "bin",
    )


_HASH_EMBED_SQL_BODY = """
    w AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(COALESCE(text,''))), '\\s+')) AS word
      FROM documents
    ),
    t AS (SELECT doc_id, md5(word) AS h FROM w WHERE word <> ''),
    v AS (
      SELECT doc_id,
             CAST(CAST(('0x' || substring(h, 1, 4)) AS INTEGER) % 64 AS INT) AS dim,
             CAST(sum(CASE WHEN CAST(('0x' || substring(h, 5, 1)) AS INTEGER) % 2 = 0
                           THEN 1 ELSE -1 END) AS BIGINT) AS val
      FROM t GROUP BY doc_id, dim
    )
"""

_RAG_QUERY_TEXT = "spark table join fast query vector"


@register(
    "diag_skew_report",
    """
    WITH c AS (
      SELECT l_suppkey AS key, count(*) AS n FROM lineitem GROUP BY 1
    ),
    st AS (
      SELECT count(*) AS n_keys, sum(n) AS total,
             avg(n) AS mean_n, quantile_cont(n, 0.99) AS p99, max(n) AS mx
      FROM c
    ),
    t AS (
      SELECT key, n, row_number() OVER (ORDER BY n DESC, key) AS rnk
      FROM c ORDER BY n DESC, key LIMIT 10
    )
    SELECT t.rnk, t.key, t.n AS n_rows,
           round(CAST(t.n AS DOUBLE) / st.total, 6) AS share,
           st.n_keys,
           round(st.mean_n, 6) AS mean_rows,
           round(st.p99, 6) AS p99_rows,
           round(st.mx / st.mean_n, 6) AS max_over_mean
    FROM t, st
    """,
)
def diag_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit — the profiling pass a 100 TB operator runs
    BEFORE picking a join strategy (salt? AQE skew hints? broadcast?):
    per-key row counts for a candidate shuffle key (l_suppkey here), the
    top-10 heavy hitters with their corpus share, and the distribution
    stats (mean, exact p99, max/mean skew factor) that decide the
    remedy. Everything derives from the one per-key count aggregate —
    map-side combined, key-cardinality-sized thereafter; the global
    stats row joins back on a constant key as a broadcast hash join
    (never a nested-loop product), and the only window runs over the
    already-limited 10-row head."""
    li = load_table(spark, sf_dir, "lineitem")
    c = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    st = c.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("total"),
        F.avg("n").alias("mean_n"),
        F.expr("percentile(n, 0.99)").alias("p99"),
        F.max("n").alias("mx"),
    ).withColumn("_k", F.lit(1))
    top = c.orderBy(F.desc("n"), "key").limit(10)
    w = Window.orderBy(F.desc("n"), "key")
    top = top.withColumn("rnk", F.row_number().over(w).cast("long")).withColumn(
        "_k", F.lit(1)
    )
    return (
        top.join(F.broadcast(st), "_k")
        .select(
            "rnk",
            "key",
            F.col("n").alias("n_rows"),
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
            "n_keys",
            F.round("mean_n", 6).alias("mean_rows"),
            F.round("p99", 6).alias("p99_rows"),
            F.round(F.col("mx") / F.col("mean_n"), 6).alias("max_over_mean"),
        )
    )


@register(
    "ev_decayed_counts",
    """
    WITH a AS (
      SELECT event_type,
             greatest(0, least(62,
               date_diff('day', CAST(ts AS DATE), DATE '2024-02-01') // 7
             )) AS wk,
             COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(18,2))) AS s
      FROM events GROUP BY 1, 2
    ),
    b AS (
      SELECT event_type,
             CAST(SUM(n) AS BIGINT) AS n_events,
             list(struct_pack(wk := wk, s := CAST(s AS DOUBLE))
                  ORDER BY wk) AS arr
      FROM a GROUP BY event_type
    )
    SELECT event_type, n_events,
           round(list_sum(list_transform(arr,
                 x -> x.s / CAST(1 << x.wk AS DOUBLE))), 6) AS decayed_value
    FROM b
    """,
)
def ev_decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed value per event type (half-life one
    week against a fixed reference date) — the trending-score shape.

    Float determinism recipe: never sum weighted doubles in shuffle
    order. Stage 1 pre-aggregates EXACT decimal value sums per
    (type, age-week) — associative, map-side combined; stage 2 folds the
    handful of week buckets IN WEEK ORDER (sort_array + one aggregate
    lambda), with weights as exact dyadic rationals (1 / 2^wk via an
    integer lookup — no libm pow, whose last-ulp behavior differs across
    engines). The fold order and every double op match the oracle's
    list_sum(list_transform(... ORDER BY wk)) exactly. At 100 TB the
    fold input is (n_types × n_weeks) rows — nothing row-scale ever
    carries a float.

    Age clamp (r13, ADVICE fix): wk is clamped to [0, 62] in BOTH
    engines at the group-key stage — events newer than the reference
    date fold at full weight (wk=0) and events older than 62 weeks at
    2^-62 (numerically ~0 but defined), so arbitrary-age inputs can
    never index past the 63-entry dyadic table (previously an 8-entry
    table silently nulled / errored outside the fixture's [0,4] window
    while the oracle's 1<<wk kept going)."""
    ev = load_table(spark, sf_dir, "events")
    ref = F.lit("2024-02-01").cast("date")
    wk_raw = F.floor(F.datediff(ref, F.col("ts").cast("date")) / 7).cast("long")
    wk = F.greatest(F.lit(0).cast("long"), F.least(F.lit(62).cast("long"), wk_raw))
    a = ev.groupBy(
        "event_type", wk.alias("wk")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
    )
    b = a.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.sort_array(
            F.collect_list(F.struct(F.col("wk"), F.col("s").cast("double").alias("s")))
        ).alias("arr"),
    )
    decayed = F.aggregate(
        F.transform(F.col("arr"), lambda x: x["s"] / F.element_at(
            F.array(*[F.lit(float(1 << k)) for k in range(63)]),
            (x["wk"] + 1).cast("int"),
        )),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return b.select(
        "event_type", "n_events", F.round(decayed, 6).alias("decayed_value")
    )
