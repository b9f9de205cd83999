"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads in a
single JVM), but every config here is chosen so the same code ships to a
1000-executor cluster unchanged:

- AQE on (runtime coalescing of small shuffle partitions, skew-join
  splitting) so a plan tuned at sf0.1 re-plans itself at 100 TB.
- ``spark.sql.shuffle.partitions`` defaults to 2×cores locally; on a real
  cluster AQE's ``advisoryPartitionSizeInBytes`` governs and the static
  number only caps the initial stage.
- Arrow enabled for any pandas interchange (similarity / multimodal UDFs).
- Session timezone pinned to UTC so timestamp semantics are
  environment-independent (matches the DuckDB oracle harness).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "extract-permits-spark") -> SparkSession:
    cpus = default_parallelism()
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Codegen field cap: r2 measured maxFields=16 winning (the wide
        # permit stage fused past the JVM JIT HugeMethodLimit and ran
        # interpreted). After r6 staged the permit-level expressions below
        # the explode, the hot stage is narrow again and Spark's default
        # (100) wins across the board: headline 31.2s -> 28.9s, pipeline
        # 9.6s -> 7.7s at sf0.1, no query regresses (SCALE.md "Codegen
        # method size" records both measurements). A runtime SQL conf:
        # re-test with spark.conf.set if the stage shapes change again.
        .config("spark.sql.codegen.maxFields", "100")
        # r15 (opt): pyspark-4 DataFrame debugging decorates EVERY
        # Column/DataFrame API call with a Python stack inspection plus
        # ~3 py4j round trips (conf.get + PySparkCurrentOrigin.set/clear
        # in pyspark/errors/utils.py:_with_origin) purely to enrich
        # error messages with user call sites. On wide expression
        # builders this dominates DRIVER-side query construction —
        # measured per-construction at sf0.1 (3-run steady, quiet
        # host): emb_cross_decontaminate 5.54 s -> 1.44 s, dedup_simhash
        # 3.99 -> 0.74, rag_context_assembly 3.60 -> 2.05, emb_neardup_
        # lsh 3.17 -> 1.48, llm_pretrain_pipeline 1.77 -> 0.60 with the
        # flag off, values untouched (it never affects plans, only
        # error decoration). Scale-independent: this is per-API-call
        # driver overhead, identical on a laptop or a 1000-executor
        # cluster (guide §5: the driver should do almost no work; §7.3:
        # planning/construction time is driver-side single-process).
        # An interactive debugging session can re-enable the call-site
        # enrichment with spark.conf.set; the production default stays
        # off.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # local-mode: ALL task threads share the driver JVM heap, so this
        # is the de-facto executor memory. 8g on this 125 GB box caused GC
        # storms on the heavy dedup jobs — measured 20s -> 45s -> (after
        # full GC) 12.5s for the SAME amplified minhash query; 48g holds
        # the working set. On a real cluster executors size independently
        # (spark.executor.memory) and this only governs the driver.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .getOrCreate()
    )


def free_local_checkpoint(df) -> None:
    """Release the storage blocks of a localCheckpoint'ed DataFrame.

    ``spark.catalog.clearCache()`` only clears cache-manager entries —
    a LogicalRDD's blocks live until the JVM happens to GC the RDD
    object (ContextCleaner reference tracking), which under heap
    pressure is exactly when they're most harmful: iterative loops that
    checkpoint per round accumulate dead rounds' blocks and the
    shrinking heap turns into full-GC tails (r13 probe: the third
    settled curation run spiked 8 s → 26 s with zero code change).
    Verified on pyspark 4.1: analyzed() is a LogicalRDD for a
    checkpointed frame and unpersisting its RDD drops the blocks.
    Descends through narrow unary wrappers (Project/Filter) so a frame
    like connected_components' ``proposed.drop("_changed")`` — a
    Project over the LogicalRDD — frees its blocks too (r13 ADVICE:
    the top-node-only check silently no-op'ed on exactly the cached
    frames clear_frame_caches exists to reclaim). Only Project/Filter
    are walked: they cannot re-reference the child after the caller is
    done with the frame, whereas descending through joins/aggregates
    could free a checkpoint shared with a sibling plan. Silently
    no-ops on non-checkpointed frames or API drift — this is an
    allocator hint, never a correctness dependency.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        for _ in range(8):
            name = plan.getClass().getSimpleName()
            if name == "LogicalRDD":
                plan.rdd().unpersist(False)
                return
            if name not in ("Project", "Filter"):
                return
            plan = plan.children().apply(0)
    except Exception:
        pass


# Per-evaluation scratch checkpoints: frames a function materializes
# (localCheckpoint) INSIDE a returned lazy plan, so the function itself
# can never free them (the caller's action happens later, and a freed
# localCheckpoint cannot recompute). Long-lived sessions that re-run
# entries (bench, the oracle checker) free them at safe points instead.
_SCRATCH_CKPTS: list = []


def register_scratch_checkpoint(df) -> None:
    """Record a checkpointed frame whose blocks should be reclaimed at
    the caller's next safe point (after the consuming action finished).
    See free_local_checkpoint for why explicit freeing matters."""
    _SCRATCH_CKPTS.append(df)


def free_scratch_checkpoints() -> None:
    """Free every registered scratch checkpoint's blocks. ONLY call
    between evaluations (a freed localCheckpoint cannot recompute, so a
    still-pending lazy plan that references one would fail).

    INVARIANT (r13 ADVICE): no frame that SURVIVES an evaluation — in
    particular the cross-evaluation memo caches in plans/_registry —
    may reference a registered scratch checkpoint; it would fail at a
    distance with missing-block errors after this runs. Memoized frames
    must be self-contained (their own localCheckpoint). The memo caches
    enforce this at insert time via assert_no_scratch_refs."""
    while _SCRATCH_CKPTS:
        free_local_checkpoint(_SCRATCH_CKPTS.pop())


def _logical_rdd_ids(df) -> set:
    """JVM RDD ids of every LogicalRDD leaf in df's analyzed plan.
    Best-effort (empty set on API drift) — used only by the insert-time
    guard below, never for correctness."""
    ids: set = set()
    try:
        stack = [df._jdf.queryExecution().analyzed()]
        while stack:
            node = stack.pop()
            if node.getClass().getSimpleName() == "LogicalRDD":
                ids.add(node.rdd().id())
                continue
            ch = node.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
    except Exception:
        return set()
    return ids


def assert_no_scratch_refs(df) -> None:
    """Insert-time guard for cross-evaluation memo caches: a memoized
    frame must not reference any REGISTERED scratch checkpoint, because
    free_scratch_checkpoints() (called between evaluations by bench and
    the oracle checker) unpersists those blocks and a localCheckpoint
    cannot recompute — the memoized frame would then fail at a DISTANCE
    on its next reuse (r13 ADVICE, low). Raising here moves the failure
    to the line that created the unsafe memo."""
    scratch: set = set()
    for s in _SCRATCH_CKPTS:
        scratch |= _logical_rdd_ids(s)
    if scratch and scratch & _logical_rdd_ids(df):
        raise AssertionError(
            "memoized frame references a registered scratch checkpoint; "
            "localCheckpoint the frame itself before memoizing (scratch "
            "blocks are freed between evaluations and cannot recompute)"
        )
