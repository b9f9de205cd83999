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

# Registry machinery and the cross-chunk memo getters live in _registry
# (cycle-free; see its docstring). Re-exported here so every existing
# importer keeps addressing them as analytics.<name>.
from extract_permits_spark.plans._registry import (  # noqa: F401
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
    # r17 window: (a) the ENTIRE 32-entry r11-witness cohort leads —
    # at age 5 the bound (tests/test_witness_age.py) forces every one
    # of them in, as the r16 NOTE predicted; (b) the entries changed
    # since the r16 boundary (rotation_audit output against
    # _AUDIT_BASE minus _AUDIT_HYGIENE_MODULES, pinned by
    # tests/test_rotation.py). Witness ages are computed, not
    # hand-tallied: python tools/witness_ledger.py.
    # (a) the r11 cohort — oldest witnesses in the registry, all 32
    "ev_cube",
    "ev_dau_wau",
    "ev_retention",
    "ev_time_weighted_avg",
    "ev_transitions",
    "ev_variant_agg",
    "graph_triangles",
    "j10_null_safe_join",
    "j7b_asof_forward",
    "j9_fuzzy_symspell",
    "profile_documents",
    "q10_returned_items",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q17_small_quantity",
    "q19_disjunctive",
    "q1_incremental_maintenance",
    "q22_idle_customers",
    "q2_min_balance_supplier",
    "q4_priority_exists",
    "q6_forecast_revenue",
    "q7_nation_trade",
    "q8_market_share",
    "q9_profit_by_nation",
    "sample_weighted_per_source",
    "sketch_cms_topk",
    "stream_cdc_apply",
    "stream_stream_join",
    "w6_rank_family",
    "x5_scd2_intervals",
    "x6_merge_upsert",
    "x7_date_spine",
    # (b) changed since the r16 boundary, per the transitive
    # body-granular audit (tools/rotation_audit.py vs _AUDIT_BASE):
    # plans/_registry.py — the shared-shingle self-join is one helper
    # (_shingle_pairs) that shingles each doc once into a scratch
    # checkpoint, and _collapsed_edges' eligibility is
    # size(tokens) >= 3 (equal to "≥ 1 shingle" by construction).
    # Consumers flagged (graph_triangles is already in (a)):
    "dedup_cluster_canonical",
    "dedup_cluster_components",
    "dedup_minhash_recall",
    "dedup_ngram_jaccard",
    "docs_corpus_report",
    "graph_lpa_communities",
    "graph_pagerank",
    "llm_corpus_curation",
    "sample_leakage_safe_split",
    # plans/analytics_core.py — reads through a function-local
    # SocrataReader subclass instead of an RDD of fetches;
    # partition_date_range sizes windows to at least a month (this
    # entry's two-year pull keeps its 8 windows)
    "s1_socrata_pull",
    # sinks/xlsx_io.py — column-wise sheet render and atomic writes
    "xlsx_review_roundtrip",
    # plans/analytics_core.py, analytics_rag.py — the bodies now call the
    # shared split rule (_registry._hash_split) and the k-center memo
    # getters with their one k/batch folded in; plans unchanged
    "emb_kcenter_batch",
    "emb_kcenter_coreset",
    "sample_hash_split",
    # operators/graph.py — connected_components is one Arrow collect of
    # the edge list and a numpy min-label pass on the driver (was a
    # checkpointed Spark round loop); canonical_per_cluster lost id_col.
    # The other consumers it flags are queued above.
    "emb_neardup_components",
    "mm_image_dedup_clusters",
    # specs.py, plans/permits.py — E1 is one concat_ws over every rule's
    # message, and P9 tags once per permit, below the multi-PIN explode
    # (both optimized plans move; the rows are identical)
    "permit_pipeline_upload",
    "permit_pipeline_review",
]

# Base ref for this round's rotation audit (the r16 boundary commit,
# "round 16: verdict/...") and the modules whose edits since then are
# exempt from the changed-entry rule. BUMP
# _AUDIT_BASE to the new round-boundary sha (the driver's "round N:
# verdict/..." commit) at the START of each builder session and clear
# the exemptions — otherwise the audit re-flags the previous round's
# already-witnessed entries forever. Exemptions are per-round and only
# for edits that cannot move any entry's VALUES or result-plan shape —
# each needs the reason an auditor would check. tests/test_rotation.py
# asserts rotation_audit(_AUDIT_BASE) minus these modules ⊆ _CHECK_FIRST
# so the transitive rule can't silently regress (VERDICT r13 #1).
_AUDIT_BASE = "74fe6f18bead307f0a38add524aa284c5b721fd2"
# Permit-chain consolidation (one definition per rule; dead twins, unset
# parameters and the second/third upload-review split removed). Every
# registry entry the operator edits flag — j1_preagg_join, j2_anti_join,
# j6_semi_flag, p9_keyword_tag, xlsx_review_roundtrip — keeps a
# byte-identical optimized plan (exprIds stripped) and identical rows at
# sf0.001 against the parent commit. The removed join hints/parameters
# each equalled the value every caller used. excel_sink's behaviour change
# (formula cells only for link columns; the universe sheet rendered by
# hyphenated_pin) reaches no entry: xlsx_review_roundtrip imports only the
# unchanged read_reviewed_workbook.
# specs.py and plans/permits.py are not exempt: the flat E1 message list
# and the per-permit keyword tag move validated_permits' optimized plan
# (its rows are unchanged), so the two entries that reach them,
# permit_pipeline_upload/review, are queued in (b).
# The single-shape xlsx sink edits are value-neutral as well: validate's
# legacy_flag_columns(filled_cols=) was passed by no caller, and
# excel_sink.READY_VALIDATION now holds the <dataValidation> fields the
# deleted dialect compiler produced from it. The entries these edits
# flag — e3_legacy_flags, xlsx_review_roundtrip — keep an
# identical optimized plan (exprIds stripped, sf0.001) and match their
# oracles at sf0.01, and the upload and review workbooks of four
# perfbench months (seed 7) are cmp-equal to the parent commit's.
# plans/_registry's one memo (_memo over one _MEMO dict, replacing seven
# per-getter dicts) and its one split rule (_hash_split) are value-neutral
# too: every registry entry's optimized plan at sf0.001 (exprIds, lambda
# variable ids, RDD ids and per-tree table suffixes normalized) equals the
# parent commit's, except llm_corpus_curation, whose body changed and
# which is queued in (b); all 223 entries match their oracles at sf0.01.
# The k-center memo getters' k and batch equalled their one caller's
# values. The entries flagged by the earlier shared-shingle _registry
# edit stay queued in (b).
# So are excel_sink's one-column-order edits: every parameter, default and
# None state they removed held the one value each caller used or was
# reached by no caller, and its alpha-stripped flag-colour branch was
# never true.
# session.py: the SPARK_GRAFT_CODEGEN_MAXFIELDS and SPARK_GRAFT_DF_DEBUGGING
# env overrides became the values they defaulted to, and
# free_local_checkpoint now frees only a direct localCheckpoint result: a
# block release moves no entry's values or plan. The entries that reach it
# through alias imports (vocab_bpe_train, vocab_bpe_encode,
# stream_decontaminate_ingest) match their oracles at sf0.01.
# operators/reshape lost four options, each the one value every caller
# used; x1_explode_pipe_list, x3_unpivot and permit_pipeline_* keep their
# optimized plans (tools/registry_plans.py at sf0.001: all entries equal
# the parent commit's) and match their oracles at sf0.01.
# The one review-workbook contract is value-neutral too: excel_sink lost
# a layout no caller reached (specs/errors_col unset), and xlsx_review_
# roundtrip imports only the unchanged read_reviewed_workbook. clean's new
# universe_pin (the universe sheet's rule, moved from excel_sink) and
# dedup's amount_key probe name (in place of the amount_c rename) reach
# only validated_permits: at sf0.001 every registry plan but permit_
# pipeline_upload/_review (queued in (b)) equals the parent commit's, and
# its rows at sf0.01 are identical with and without a warehouse frame.
_AUDIT_HYGIENE_MODULES: set[str] = {
    "extract_permits_spark.operators.clean",
    "extract_permits_spark.operators.dedup",
    "extract_permits_spark.operators.enrich",
    "extract_permits_spark.operators.joins",
    "extract_permits_spark.operators.reshape",
    "extract_permits_spark.operators.validate",
    "extract_permits_spark.plans._registry",
    "extract_permits_spark.session",
    "extract_permits_spark.sinks.excel_sink",
}

# r17 rotation NOTE: witness-age arithmetic is computed, not
# hand-tallied — run `python tools/witness_ledger.py` for the
# per-entry last-green-round table, and see tests/test_witness_age.py
# for the enforced bound: every entry whose witness would age past 5
# rounds at the upcoming driver round must sit in this window.
# Deferred to r18: the 27 r12-witnessed entries not queued above
# (ledger order from a12_winsorize) — at age 5 the bound will force
# them into the r18 window.
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
