"""Connected components + canonical-per-cluster (operators/graph.py)."""

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from extract_permits_spark.operators import graph
from extract_permits_spark.operators.graph import (
    canonical_per_cluster,
    connected_components,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_chain_and_separate_pair(spark):
    # chain 1-2-3-4 (diameter 3, needs multiple propagation rounds) plus
    # a disjoint pair 10-11
    comp = connected_components(
        _edges(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    )
    got = {r.id: r.component for r in comp.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_triangle_with_tail_and_reversed_edges(spark):
    # labels must flow against edge direction too (5,2): min id 2 wins
    comp = connected_components(_edges(spark, [(3, 4), (4, 5), (5, 3), (5, 2)]))
    got = {r.id: r.component for r in comp.collect()}
    assert got == {2: 2, 3: 2, 4: 2, 5: 2}


def test_long_chain_in_random_id_order_is_one_component(spark):
    # 300 hops in random id order: one component, whatever the diameter
    import random

    order = list(range(1, 301))
    random.Random(7).shuffle(order)
    chain = list(zip(order, order[1:]))
    got = {r.id: r.component for r in connected_components(_edges(spark, chain)).collect()}
    assert got == {v: 1 for v in order}


def _py_components(pairs):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


_INT64 = (-(2**63), -(2**63) + 1, 2**63 - 2, 2**63 - 1)


@st.composite
def _edge_lists(draw):
    ids = st.one_of(st.integers(-3, 12), st.sampled_from(_INT64 + (100, 150)))
    pairs = draw(st.lists(st.tuples(ids, ids), max_size=30))
    if pairs:  # duplicate and reversed copies
        again = draw(st.lists(st.tuples(st.sampled_from(pairs), st.booleans()), max_size=10))
        pairs += [(b, a) if flip else (a, b) for (a, b), flip in again]
    pairs += [(a, a) for a in draw(st.lists(ids, max_size=3))]
    chain = draw(st.permutations(range(100, 100 + draw(st.integers(0, 80)))))
    pairs += list(zip(chain, chain[1:]))
    return draw(st.permutations(pairs))


@settings(max_examples=25, deadline=None)
@given(_edge_lists())
def test_components_equal_python_union_find(spark, pairs):
    """Duplicate, reversed and self-loop edges, int64-extreme ids, and a
    chain in random id order (which may share ids 100/150 with the rest)."""
    comp = connected_components(_edges(spark, pairs))
    rows = comp.collect()
    assert len(rows) == len({r.id for r in rows})
    assert {r.id: r.component for r in rows} == _py_components(pairs)


def test_edge_list_past_bound_raises(spark, monkeypatch):
    monkeypatch.setattr(graph, "_MAX_EDGES", 3)
    at_bound = _edges(spark, [(1, 2), (2, 3), (4, 5)])
    assert connected_components(at_bound).count() == 5
    with pytest.raises(ValueError, match="more than 3 edges"):
        connected_components(_edges(spark, [(1, 2), (2, 3), (4, 5), (5, 6)]))


def test_null_endpoint_raises(spark):
    with pytest.raises(ValueError, match="null edge endpoint"):
        connected_components(_edges(spark, [(1, 2), (None, 3)]))


def _texts(spark, lengths):
    """``(doc_id, text)`` docs whose text lengths are ``lengths[doc_id]``;
    a ``None`` length is a NULL text."""
    return spark.createDataFrame(
        [(i, None if n is None else "x" * n) for i, n in lengths.items()],
        "doc_id long, text string",
    )


def test_canonical_picks_highest_quality_then_lowest_id(spark):
    comp = connected_components(_edges(spark, [(1, 2), (2, 3), (10, 11), (20, 21)]))
    docs = _texts(spark, {1: 5, 2: 9, 3: 9, 10: 1, 11: 1, 20: None, 21: 1})
    out = {
        r.component: (r.canonical_id, r.cluster_size)
        for r in canonical_per_cluster(comp, docs).collect()
    }
    # cluster {1,2,3}: length tie 9 between 2 and 3 -> lowest id 2
    # cluster {10,11}: tie -> 10
    # cluster {20,21}: a NULL text counts as empty, never beating 21's text
    assert out == {1: (2, 3), 10: (10, 2), 20: (21, 2)}


def test_canonical_equal_quality_is_min_id(spark):
    comp = connected_components(_edges(spark, [(7, 5), (5, 9)]))
    docs = _texts(spark, {5: 1, 7: 1, 9: 1})
    out = canonical_per_cluster(comp, docs).collect()
    assert len(out) == 1
    assert (out[0].component, out[0].canonical_id, out[0].cluster_size) == (5, 5, 3)


def test_collapsed_edges_components_equal_full_pair_graph(spark, tmp_path):
    """The r7 exact-collapse-first optimization's proof obligation, run
    empirically: components over _collapsed_edges (pair join on
    distinct-text representatives + twin star edges) must equal
    components over the FULL shared-shingle pair graph — on the real
    fixture AND on a twin-amplified copy (each doc duplicated 3x, the
    dup-heavy shape the collapse exists for)."""
    import os

    from pyspark.sql import functions as F

    from extract_permits_spark.plans import analytics
    from extract_permits_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"

    def comps_of(edges):
        return {
            (r["id"], r["component"])
            for r in connected_components(edges).collect()
        }

    # 1x fixture: collapsed vs full pair graph
    full = analytics._jaccard_pairs_uncached(spark, sf).select("id_a", "id_b")
    collapsed = analytics._collapsed_edges(spark, sf)
    assert comps_of(collapsed) == comps_of(full)

    # 3x twins: every doc gains 2 exact copies with shifted ids
    docs = load_table(spark, sf, "documents")
    amp = docs
    for c in (1, 2):
        amp = amp.unionByName(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(c * 10**7))
        )
    amp_dir = str(tmp_path / "amp")
    amp.write.parquet(os.path.join(amp_dir, "documents.parquet"))
    full3 = analytics._jaccard_pairs_uncached(spark, amp_dir).select("id_a", "id_b")
    coll3 = analytics._collapsed_edges(spark, amp_dir)
    got, want = comps_of(coll3), comps_of(full3)
    assert got == want
    # and the collapse actually collapses: far fewer edges than the
    # full graph (every twin pair materializes there)
    assert coll3.count() < full3.count()


def test_lpa_communities_splits_bridged_cliques(spark):
    """Two 4-cliques joined by a single bridge edge: components says one
    blob, LPA's 4 synchronous min-tie-break rounds must keep two
    communities (each clique converges to its min member's label).
    Verified against a Python replay of the exact update rule."""
    from pyspark.sql import functions as F

    from extract_permits_spark.plans.analytics_events import _LPA_ROUNDS

    cl1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    cl2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    bridge = [(3, 10)]
    pairs = spark.createDataFrame(cl1 + cl2 + bridge, "id_a long, id_b long")

    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    nodes = edges.select(F.col("src").alias("node")).distinct()
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
    got = {r["node"]: r["lbl"] for r in labels.collect()}

    # python replay of the same synchronous rule
    adj: dict[int, list[int]] = {}
    for a, b in cl1 + cl2 + bridge:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    lab = {v: v for v in adj}
    for _ in range(_LPA_ROUNDS):
        new = {}
        for v, ns in adj.items():
            freq: dict[int, int] = {}
            for u in ns:
                freq[lab[u]] = freq.get(lab[u], 0) + 1
            new[v] = max(freq.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        lab = new
    assert got == lab
    # and the two cliques keep distinct communities
    assert {got[v] for v in range(4)} != {got[v] for v in range(10, 14)}
