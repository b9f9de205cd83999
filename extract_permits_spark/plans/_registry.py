"""Registry machinery + cross-chunk memo caches for the analytics
query surface.

Lives in its own CYCLE-FREE module (r12): the four chunk modules
(analytics_core/_corpus/_events/_rag) import `register` and the shared
cache helpers from here, never from the analytics hub — so a Spark
WORKER unpickling a UDF whose __module__ is a chunk can import that
chunk directly without re-entering the hub's in-progress import (the
hub imports the chunks, completing the cycle exactly once, on the
driver). tpch_extra imports from here for the same reason.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from extract_permits_spark.functions import similarity as simfn
from extract_permits_spark.sources.readers import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, sql: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            # a second @register with an existing name would silently
            # SHADOW the first (dict overwrite) — this bit in r9 when a
            # new decontamination entry collided with the r6 one. Fail
            # at import time instead.
            raise ValueError(f"duplicate registry entry: {name!r}")
        _QUERIES[name] = fn
        if sql is not None:
            _ORACLES[name] = sql
        return fn

    return deco


def _dec(c, scale: int = 2):
    """Exact-sum helper: double → decimal(18,s) so SUM is associative."""
    c = F.col(c) if isinstance(c, str) else c
    return c.cast(f"decimal(18,{scale})")


# Deterministic driver-coordinated computations (the CC label fixpoint and
# the IVF Lloyd fit) run actions while BUILDING their result, so a caller
# that constructs the same query twice — the correctness harness does, once
# for values and once for the schema — pays the whole loop twice. Both are
# pure functions of (session, fixture dir); memoize per process. The cached
# components frame is localCheckpoint'ed (safe to reuse); the cached
# centroids are plain floats.
_COMPONENTS_CACHE: dict[tuple[int, str], DataFrame] = {}
_JACCARD_PAIRS_CACHE: dict[tuple[int, str], DataFrame] = {}
_IVF_CENTROID_CACHE: dict[tuple[int, str], list[list[float]]] = {}
_KCENTER_CACHE: dict[tuple[int, str], tuple] = {}
_PCA_CACHE: dict[tuple[int, str], tuple] = {}
_PCA2_CACHE: dict[tuple[int, str], tuple] = {}


def clear_frame_caches() -> None:
    """Drop the memoized DATAFRAME caches and FREE their checkpoint
    blocks (r13 GC-tail fix). ``dict.clear()`` alone left every cleared
    generation's corpus-scale LogicalRDD blocks on the heap for the
    life of the session — clearCache() doesn't touch them — so bench
    fresh-runs accumulated dead blocks until full-GC tails (probed:
    settled 8 s curation runs spiking to 26 s by the third batch).
    Callers that want a fresh end-to-end run (bench, probes) use THIS,
    not the raw dicts. Driver-value caches (centroids, PCA, k-center)
    hold no executor storage and are cleared by their owners as needed.
    """
    from extract_permits_spark.session import free_local_checkpoint

    for cache in (_COMPONENTS_CACHE, _JACCARD_PAIRS_CACHE, _EMB_COMPONENTS_CACHE):
        for df in cache.values():
            free_local_checkpoint(df)
        cache.clear()


def _pca2_cached(
    spark: SparkSession, emb: DataFrame, sf_dir: str
) -> tuple:
    """Memoized top-2 PCA fit (one scatter pass + two bounded driver
    recurrences). Cached value is (v1, c1, v2, c2, n)."""
    key = (id(spark), sf_dir)
    if key not in _PCA2_CACHE:
        _PCA2_CACHE[key] = simfn.pca_power_fit2(emb, "vec_id", "embedding")
    return _PCA2_CACHE[key]



def _pca_cached(
    spark: SparkSession, emb: DataFrame, sf_dir: str
) -> tuple:
    """Memoized power-iteration PCA fit (same rationale as the IVF and
    k-center caches). Cached value is (v, proj_const, n) — d floats +
    two scalars, bounded."""
    key = (id(spark), sf_dir)
    if key not in _PCA_CACHE:
        _PCA_CACHE[key] = simfn.pca_power_fit(emb, "vec_id", "embedding")
    return _PCA_CACHE[key]



def _kcenter_cached(
    spark: SparkSession, emb: DataFrame, sf_dir: str, k: int = 8
) -> tuple:
    """Memoized greedy k-center selection (same rationale as the IVF
    centroid cache: the correctness harness constructs each query twice,
    and the driver-coordinated k-pass loop runs actions while building
    its result). Cached value is (selection, centers) — k ids + k·dim
    floats, bounded."""
    key = (id(spark), sf_dir)
    if key not in _KCENTER_CACHE:
        _KCENTER_CACHE[key] = simfn.kcenter_select(
            emb, "vec_id", "embedding", k=k
        )
    return _KCENTER_CACHE[key]


def _kcenter_batched_cached(
    spark: SparkSession, emb: DataFrame, sf_dir: str, k: int = 8, batch: int = 4
) -> tuple:
    """Memoized BATCHED k-center selection (emb_kcenter_batch's fit) —
    same rationale and cache as the exact greedy, keyed separately."""
    key = (id(spark), sf_dir, "batched", k, batch)
    if key not in _KCENTER_CACHE:
        _KCENTER_CACHE[key] = simfn.kcenter_select_batched(
            emb, "vec_id", "embedding", k=k, batch=batch
        )
    return _KCENTER_CACHE[key]



def _jaccard_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared shingle scan (r5-VERDICT ask #3): the n-gram pair list feeds
    three registry entries (the pair detector itself plus both cluster
    resolutions). Materialize it once per (session, fixture) and reuse —
    at scale this is the standard pattern of persisting the candidate
    pair list before closure rather than re-deriving it per consumer."""
    key = (id(spark), sf_dir)
    if key not in _JACCARD_PAIRS_CACHE:
        from extract_permits_spark.session import assert_no_scratch_refs

        df = _jaccard_pairs_uncached(spark, sf_dir).localCheckpoint(eager=True)
        # memoized frames must be self-contained: scratch checkpoints
        # are freed BETWEEN evaluations (see free_scratch_checkpoints'
        # invariant) and a memo referencing one fails at a distance
        assert_no_scratch_refs(df)
        _JACCARD_PAIRS_CACHE[key] = df
    return _JACCARD_PAIRS_CACHE[key]


def _shingle_pairs(docs: DataFrame) -> DataFrame:
    """THE shared-shingle self-join: ``(id_a, id_b, jaccard)`` for each
    pair id_a < id_b of ``docs(doc_id, text)`` whose distinct word
    3-gram sets have Jaccard >= 0.2 (``jaccard`` rounded to 6 places).

    Each row is shingled exactly once, into an eager scratch checkpoint
    that the self-join, shared count and filter all read; left lazy, the
    interpreted shingle lambda ran up to 8x per document (SCALE.md,
    curation pair stage). The pinned partition count keeps the ~50x
    explode and the join's map side off AQE's 1-2 coalesced partitions
    (r13: sf0.1 edges 6-10 s starved vs 2.7-3.4 s); the checkpoint
    keeps it."""
    from extract_permits_spark.session import register_scratch_checkpoint

    sh = (
        docs.select("doc_id", "text")
        .repartition(docs.sparkSession.sparkContext.defaultParallelism * 2)
        .select("doc_id", simfn.word_shingles("text", 3).alias("shingles"))
        .localCheckpoint(eager=True)
    )
    register_scratch_checkpoint(sh)
    exploded = sh.select(
        "doc_id", F.size("shingles").alias("sz"), F.explode("shingles").alias("sh")
    )
    shared = (
        exploded.alias("a")
        .join(exploded.alias("b"), ["sh"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.sz").alias("_sza"),
            F.col("b.sz").alias("_szb"),
        )
        .agg(F.count(F.lit(1)).alias("_shared"))
    )
    jac = F.col("_shared") / (F.col("_sza") + F.col("_szb") - F.col("_shared"))
    return shared.where(jac >= 0.2).select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    )


def _collapsed_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup graph edges with exact-duplicate collapse — the
    dup-heavy-crawl scale path (CCNet/Dolma-style: exact dedup BEFORE
    near-dup detection).

    The shared-shingle pair join is quadratic in the per-shingle posting
    length, so a corpus where each page has k exact copies pays k² on
    every bucket. Collapsing identical texts first (min doc_id per
    md5(text) = the representative) runs the pair join (_shingle_pairs)
    on DISTINCT texts only and re-attaches twins as star edges
    rep→twin — linear in twin count. Connected components over (rep
    pairs ∪ twin stars) equal components over the full pair graph
    exactly: exact twins share ALL shingles (Jaccard 1.0 ≥ 0.2), so
    within a twin group every pair edge existed, and any twin↔other
    edge is implied via its rep's path.

    Twin stars are restricted to shingle-ELIGIBLE docs, matching the
    full graph's node set. Eligibility is ``size(tokens) >= 3``: equal
    to "≥ 1 shingle" by construction (zip_ngrams is empty exactly below
    n tokens), without building shingles outside _shingle_pairs.

    Measured at the 10×-amplified sf0.1 bench shape (50k docs, 9 exact
    twins each): curation composite 72 s → see BENCH; at 1× the extra
    md5 window costs ~0.1 s."""
    d = load_table(spark, sf_dir, "documents")
    eligible = d.select("doc_id", "text").where(
        F.size(simfn.tokens("text")) >= 3
    )
    # groupBy, NOT Window.partitionBy(_h) (r12): the aggregate's map-side
    # partial combine collapses a k-copy flood to ~one row per mapper
    # BEFORE the shuffle, where the window shipped every copy to one hot
    # reducer (and windows cannot be AQE-skew-split). min_by is exact
    # here — every text in an _h group is identical by construction —
    # and the star join's build side is one row per key, the classic
    # AQE-splittable skew shape.
    hashed = eligible.select(
        "doc_id", "text", F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("_h")
    )
    reps_min = hashed.groupBy("_h").agg(
        F.min("doc_id").alias("_rep"),
        F.expr("min_by(text, doc_id)").alias("_text"),
    )
    reps = reps_min.select(
        F.col("_rep").alias("doc_id"), F.col("_text").alias("text")
    )
    rep_pairs = _shingle_pairs(reps).select("id_a", "id_b")
    twin_stars = (
        hashed.join(reps_min.select("_h", "_rep"), "_h")
        .where(F.col("doc_id") != F.col("_rep"))
        .select(F.col("_rep").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    return rep_pairs.unionByName(twin_stars)


def _components_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    from extract_permits_spark.operators.graph import connected_components

    key = (id(spark), sf_dir)
    if key not in _COMPONENTS_CACHE:
        from extract_permits_spark.session import assert_no_scratch_refs

        df = connected_components(_collapsed_edges(spark, sf_dir))
        # self-contained by construction (connected_components returns a
        # projection over its OWN final-round checkpoint) — the guard
        # pins that property against future refactors
        assert_no_scratch_refs(df)
        _COMPONENTS_CACHE[key] = df
    return _COMPONENTS_CACHE[key]


_EMB_COMPONENTS_CACHE: dict[tuple[int, str], DataFrame] = {}


def _emb_components_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup components with exact-vector collapse — memoized
    per (session, fixture) for the same reason as _components_cached: the
    min-label fixpoint runs actions while building its result, and the
    correctness harness constructs each query twice. The collapsed
    construction (reps-only LSH pairs + twin star edges) yields exactly
    the full pair graph's components: an exact twin has the identical
    signature and identical cosine to every other vector as its rep, so
    all its edges are implied through the rep (pinned by
    tests/test_recall.py's uncollapsed-equivalence test). One edge case
    diverges deliberately: identical ZERO vectors cluster here via their
    star edges, while the raw LSH graph would not pair them (cosine
    0/0 = NULL fails any threshold) — exact duplicates clustering is the
    right dedup answer, and the oracle replays the same collapsed
    construction, so the gate is consistent either way."""
    from extract_permits_spark.operators.graph import connected_components

    key = (id(spark), sf_dir)
    if key not in _EMB_COMPONENTS_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        # groupBy, NOT Window.partitionBy(embedding): the aggregate's
        # map-side partial combine collapses a flood to ~one row per
        # mapper BEFORE the shuffle, where a window ships every copy to
        # a single reducer (hot partition, and windows cannot be
        # AQE-skew-split). The star-edge join's per-key build side is
        # exactly one row, the classic AQE-splittable skew shape.
        reps_min = emb.groupBy("embedding").agg(
            F.min("vec_id").alias("_rep")
        )
        reps = reps_min.select(
            F.col("_rep").alias("vec_id"), "embedding"
        )
        # coalesce-proof fan-out below the compact collapse exchange —
        # same guard (and same measured starvation mode) as
        # _collapsed_edges above: the LSH signature/band explode would
        # otherwise run on the 1-2 AQE-coalesced partitions
        reps = reps.repartition(spark.sparkContext.defaultParallelism * 2)
        rep_pairs = simfn.lsh_neardup_pairs(reps, min_cosine=0.35).select(
            "id_a", "id_b"
        )
        stars = (
            emb.join(reps_min, "embedding")
            .where(F.col("vec_id") != F.col("_rep"))
            .select(F.col("_rep").alias("id_a"), F.col("vec_id").alias("id_b"))
        )
        from extract_permits_spark.session import assert_no_scratch_refs

        df = connected_components(rep_pairs.unionByName(stars))
        assert_no_scratch_refs(df)
        _EMB_COMPONENTS_CACHE[key] = df
    return _EMB_COMPONENTS_CACHE[key]


def _ivf_centroids_cached(
    spark: SparkSession, emb: DataFrame, sf_dir: str
) -> list[list[float]]:
    key = (id(spark), sf_dir)
    if key not in _IVF_CENTROID_CACHE:
        _IVF_CENTROID_CACHE[key] = simfn.kmeans_fit(
            emb, "vec_id", "embedding", k=16, rounds=3
        )
    return _IVF_CENTROID_CACHE[key]


def _jaccard_pairs_uncached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shingle_pairs(load_table(spark, sf_dir, "documents"))
