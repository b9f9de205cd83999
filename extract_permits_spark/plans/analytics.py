"""Query registry: one entry per SURVEY.md §2 operator class (+ LLM ops).

Each query has a Spark implementation (idiomatic DataFrame API, built-in
functions only unless noted) and, where SQL-expressible, a DuckDB oracle
returning identical column names/values. Conventions to keep the
order-insensitive value hash stable across engines:

- every computed column is explicitly aliased, identically on both sides;
- date/timestamp outputs are formatted to strings (engine-independent);
- double aggregations are computed in DECIMAL(18,2) (exact, associative —
  no float summation-order drift) and cast to DOUBLE at the end;
- ratios are a single double division of exact operands (deterministic);
- string collation is binary on both engines.
"""

from __future__ import annotations

# Registry machinery and the cross-chunk memo caches live in _registry
# (cycle-free; see its docstring). Re-exported here so every existing
# importer keeps addressing them as analytics.<name> — the cache DICTS
# are the same objects (bench.py clears them through this module).
from extract_permits_spark.plans._registry import (  # noqa: F401
    _COMPONENTS_CACHE,
    _IVF_CENTROID_CACHE,
    _JACCARD_PAIRS_CACHE,
    _ORACLES,
    _QUERIES,
    QueryFn,
    _collapsed_edges,
    _components_cached,
    _dec,
    _ivf_centroids_cached,
    _jaccard_pairs_cached,
    _jaccard_pairs_uncached,
    register,
)
from extract_permits_spark.sources.readers import load_table  # noqa: F401

# The driver's correctness check covers the first 50 registry entries per
# round; _CHECK_FIRST controls that window and is rotated each round so
# every entry earns a driver row (see the r9 NOTE below the list).
_CHECK_FIRST = [
    # r16 window: (a) the ENTIRE 28-entry r10-witness cohort leads —
    # at age 5 the bound (tests/test_witness_age.py) forces every one
    # of them in, exactly as the r15 NOTE predicted; (b) the entries
    # this round's edits changed (rotation_audit output against
    # _AUDIT_BASE, pinned by tests/test_rotation.py); (c) the oldest
    # r11-witnessed entries (ledger order), filling the window to
    # exactly 50. Witness ages are computed, not hand-tallied:
    # python tools/witness_ledger.py.
    # (a) the r10 cohort — oldest witnesses in the registry, all 28
    "docs_url_dedup",
    "emb_pq_adc_topk",
    "emb_pq_codes",
    "emb_quantize",
    "ev_hopping_agg",
    "ev_rollup",
    "ev_session_window",
    "j11_salted_skew_join",
    "j7_asof_join",
    "j8_range_join",
    "jsonl_corrupt_quarantine",
    "pack_sequences",
    "sample_hash_split",
    "sample_interleave",
    "sample_mixture_weights",
    "sample_stratified",
    "sketch_approx_quantiles",
    "sketch_hll_region_distinct",
    "sketch_topk_tokens",
    "stream_ann_index_ingest",
    "stream_session_agg",
    "stream_stateful_totals",
    "text_clean_mask",
    "text_repetition",
    "u3_intersect",
    "vocab_bpe_pairs",
    "w5_rolling",
    "x4_pivot",
    # (b) changed this round (r16 optimization edits), per the
    # transitive body-granular audit (tools/rotation_audit.py vs
    # _AUDIT_BASE, pinned by tests/test_rotation.py):
    # functions/similarity.py — the minhash dup-mass gate now shares
    # its md5-groupBy pass with the collapsed branch (_dup_groups /
    # _dup_gate_from_groups), the single-reference pre-aggregation
    # shingle-stream checkpoints were dropped (the verifier reads
    # explode(_shingles) from the checkpointed sh), and
    # lsh_bands/_hamming_ball_explode backtick-quote interpolated
    # names (ADVICE r15 — tree-identical for every internal caller);
    # session.py — dataFrameDebugging became env-overridable
    # (ADVICE r15; default unchanged); simhash_table's vote aggregate
    # became the bit-packed two-lane form (same integer votes —
    # 2·ones_i > n ⟺ Σ±1 > 0 — pinned by tests + oracle).
    # Consumers flagged:
    "dedup_simhash",
    "dedup_simhash_recall",
    "dedup_minhash_lsh",
    "dedup_minhash_md5",
    "dedup_minhash_recall",
    "stream_neardup_ingest",
    "docs_source_overlap_matrix",
    "emb_cross_decontaminate",
    "emb_neardup_components",
    "emb_neardup_lsh",
    "stream_decontaminate_ingest",
    "stream_semantic_decon_ingest",
    # plans/analytics_rag.py — rag_context_assembly dropped its stale
    # single-consumer shortlist checkpoint (r16; values oracle-matched
    # at sf0.001+sf0.01)
    "rag_context_assembly",
    # (c) the oldest r11-witnessed entries (ledger order), filling to
    # exactly 50; the rest of the r11 cohort defers to r17 where the
    # age bound will force it.
    "a10_regression",
    "a11_histogram",
    "a9_mode",
    "dedup_winnowing",
    "docs_dup_rate_by_source",
    "docs_pii_redact",
    "emb_prototypicality",
    "ev_anomaly_zscore",
    "ev_attribution",
]

# Base ref for this round's rotation audit (r13 final commit) and the
# modules whose r14 edits are exempt from the changed-entry rule. BUMP
# _AUDIT_BASE to the new round-boundary sha (the driver's "round N:
# verdict/..." commit) at the START of each builder session and clear
# the exemptions — otherwise the audit re-flags the previous round's
# already-witnessed entries forever. Exemptions are per-round and only
# for edits that cannot move any entry's VALUES or result-plan shape —
# each needs the reason an auditor would check. tests/test_rotation.py
# asserts rotation_audit(_AUDIT_BASE) minus these modules ⊆ _CHECK_FIRST
# so the transitive rule can't silently regress (VERDICT r13 #1).
_AUDIT_BASE = "c7b7cc989caf530d978f3cda8a01a0a2d96e9a22"
# Permit-chain consolidation (one definition per rule; dead twins, unset
# parameters and the second/third upload-review split removed). Every
# registry entry these edits flag — j1_preagg_join, j2_anti_join,
# j6_semi_flag, p9_keyword_tag, permit_pipeline_upload/review,
# xlsx_review_roundtrip — keeps a byte-identical optimized plan
# (exprIds stripped) and identical rows at sf0.001 against the parent
# commit, and validated_permits' plan is identical at sf0.01 with and
# without a warehouse frame. The removed join hints/parameters each equalled the value
# every caller used. excel_sink's behaviour change (formula cells only
# for link columns; the universe sheet rendered by hyphenated_pin)
# reaches no entry: xlsx_review_roundtrip imports only the unchanged
# read_reviewed_workbook.
_AUDIT_HYGIENE_MODULES: set[str] = {
    "extract_permits_spark.operators.clean",
    "extract_permits_spark.operators.dedup",
    "extract_permits_spark.operators.enrich",
    "extract_permits_spark.operators.joins",
    "extract_permits_spark.operators.validate",
    "extract_permits_spark.plans.permits",
    "extract_permits_spark.sinks.excel_sink",
    "extract_permits_spark.specs",
}

# r16 rotation NOTE: witness-age arithmetic is computed, not
# hand-tallied — run `python tools/witness_ledger.py` for the
# per-entry last-green-round table, and see tests/test_witness_age.py
# for the enforced bound: every entry whose witness would age past 5
# rounds at the upcoming driver round must sit in this window.
# Deferred to r17: the r11 cohort past the 22 (c) slots above (ledger
# order from q15_top_supplier) — at age 5 next round the bound will
# force them into the r17 window.
# The rotation rule is TRANSITIVE over helper imports and BODY-GRANULAR
# within chunk modules: tools/rotation_audit.py <git-ref> lists every
# registry entry whose own function body, same-chunk helper, or
# transitively-imported engine module changed since the ref — those
# jump the queue alongside directly-edited entries, minus the
# per-round documented hygiene modules above (pinned by
# tests/test_rotation.py).


def _reordered(d: dict) -> dict:
    head = {k: d[k] for k in _CHECK_FIRST if k in d}
    return head | {k: v for k, v in d.items() if k not in head}


def queries() -> dict[str, QueryFn]:
    return _reordered(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return _reordered(_ORACLES)


# ---------------------------------------------------------------------------
# The query surface itself lives in four chunk modules, split from this
# file in r12 (it had grown past 9k lines). They are imported HERE, in
# original accretion order, because each @register call appends to
# _QUERIES/_ORACLES and the resulting iteration order — which the
# driver's 50-entry correctness window reads through _CHECK_FIRST — must
# stay bit-identical to the pre-split single file. tpch_extra is pulled
# in by analytics_rag at its original position for the same reason.
# ---------------------------------------------------------------------------

from extract_permits_spark.plans import analytics_core as _core  # noqa: E402
from extract_permits_spark.plans import analytics_corpus as _corpus  # noqa: E402
from extract_permits_spark.plans import analytics_events as _events  # noqa: E402
from extract_permits_spark.plans import analytics_rag as _rag  # noqa: E402

# Re-export every chunk-defined name so existing importers (tests, bench,
# tools) keep addressing them as analytics.<name>. setdefault: hub-owned
# names (register, caches, queries, ...) always win.
for _mod in (_core, _corpus, _events, _rag):
    for _k, _v in vars(_mod).items():
        if not _k.startswith("__"):
            globals().setdefault(_k, _v)
del _mod, _k, _v
