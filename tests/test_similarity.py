"""Unit tests for similarity / near-dup detection (LLM-pipeline ops)."""

from __future__ import annotations

import math

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from extract_permits_spark.functions import similarity as sim


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_word_shingles(spark):
    df = _docs(spark, [(1, "a b c d"), (2, "a b"), (3, None)])
    out = {
        r["doc_id"]: r["sh"]
        for r in df.select("doc_id", sim.word_shingles("text", 3).alias("sh")).collect()
    }
    assert out[1] == ["a b c", "b c d"]
    assert out[2] == []  # shorter than n
    assert out[3] == []


def test_minhash_lsh_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different words entirely unrelated content goes right here now"
    df = _docs(spark, [(1, base), (2, near), (3, far)])
    pairs = sim.minhash_lsh_pairs(df, jaccard_threshold=0.3).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found
    assert all(p == (1, 2) for p in found)
    jac = [r["jaccard"] for r in pairs if (r["id_a"], r["id_b"]) == (1, 2)][0]
    assert 0.3 <= jac < 1.0


def test_minhash_identical_docs_jaccard_one(spark):
    t = "one two three four five six seven"
    df = _docs(spark, [(1, t), (2, t)])
    pairs = sim.minhash_lsh_pairs(df, jaccard_threshold=0.9).collect()
    assert len(pairs) == 1 and pairs[0]["jaccard"] == 1.0


def test_simhash_properties(spark):
    df = _docs(spark, [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
                       (3, "totally different content here"), (4, "")])
    out = {r["doc_id"]: r["s"] for r in df.select(
        "doc_id", sim.simhash64("text").alias("s")).collect()}
    assert out[1] == out[2]  # identical text → identical simhash
    assert out[1] != out[3]
    assert out[4] is None  # empty → NULL

    pairs = sim.simhash_pairs(df, max_hamming=3).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
    assert pairs[0]["hamming"] == 0


def test_cosine_matches_numpy(spark):
    import numpy as np

    a = [1.0, 2.0, 3.0]
    b = [4.0, 5.0, 6.0]
    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    got = df.select(sim.cosine(F.col("a"), F.col("b")).alias("c")).first()["c"]
    want = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert math.isclose(got, want, rel_tol=1e-12)


def test_brute_force_topk_self_first(spark):
    import random

    random.seed(7)
    rows = [(i, [random.uniform(-1, 1) for _ in range(8)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = rows[5][1]
    top = sim.brute_force_topk(df, q, k=3).collect()
    assert top[0]["vec_id"] == 5  # the query vector itself is its own NN
    assert abs(top[0]["cosine_sim"] - 1.0) < 1e-9
    sims = [r["cosine_sim"] for r in top]
    assert sims == sorted(sims, reverse=True)


def test_lsh_topk_subset_of_brute_force_universe(spark):
    import random

    random.seed(11)
    rows = [(i, [random.uniform(-1, 1) for _ in range(8)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = rows[0][1]
    approx = sim.lsh_bucketed_topk(df, q, k=5, num_planes=6)
    got = approx.collect()
    assert 0 < len(got) <= 5
    # query's own bucket always probed → exact self-match present
    assert got[0]["vec_id"] == 0


def test_ivf_topk_contains_self_and_overlaps_brute_force(spark):
    import random

    random.seed(3)
    rows = [(i, [random.uniform(-1, 1) for _ in range(8)]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = rows[7][1]
    index = sim.ivf_index(df, num_clusters=8)
    approx = sim.ivf_topk(df, q, k=5, num_clusters=8, num_probes=3, index=index)
    got = approx.collect()
    assert got[0]["vec_id"] == 7  # self in its own probed cluster
    exact_ids = {r["vec_id"] for r in sim.brute_force_topk(df, q, k=5).collect()}
    assert {r["vec_id"] for r in got} & exact_ids  # nonzero recall

    # index assigns every vector to a valid cluster
    indexed, centroids = index
    clusters = {r["cluster_id"] for r in indexed.select("cluster_id").distinct().collect()}
    assert clusters <= set(range(len(centroids)))


def test_plane_dots_arrow_matches_jvm_fold_bitwise(spark):
    """The Arrow/NumPy plane-dot kernel must reproduce the interpreted
    JVM fold BITWISE (cumsum = same left-to-right adds, same per-step
    rounding): signatures derive from the SIGN of these doubles, so even
    a last-ulp difference could flip a bucket."""
    from pyspark.sql import functions as F

    from extract_permits_spark.functions import similarity as S

    v = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    planes = [S._lsh_plane(42, t, p, 64) for t in range(2) for p in range(4)]
    jvm = v.select("vec_id", S._plane_dots(F.col("embedding"), planes).alias("d"))
    arrow = v.select(
        "vec_id", S._plane_dots_arrow(F.col("embedding"), planes).alias("d")
    )
    diff = (
        jvm.alias("j")
        .join(arrow.alias("a"), "vec_id")
        .where(F.expr("j.d != a.d"))
        .count()
    )
    assert diff == 0


def test_semdedup_flags_greedy_keep_lowest_id(spark):
    """semdedup_flags: identical vectors in one cluster keep only the
    lowest id; a far-away vector is never flagged; every vector gets
    exactly one row with a valid cluster id."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),   # dup of 0
        (2, [0.999, 0.001, 0.0, 0.0]),  # near-dup of 0
        (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal — never a dup of 0/1/2
        (4, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r
        for r in sim.semdedup_flags(
            df, num_clusters=2, rounds=1, threshold=0.9
        ).collect()
    }
    assert len(out) == 5
    assert out[0]["is_semdup"] is False          # lowest id survives
    assert out[1]["is_semdup"] is True           # exact dup of 0
    assert out[2]["is_semdup"] is True           # cos(0,2) > 0.9
    # 3 and 4 can only be flagged against each other (cos 0) — never
    assert out[3]["is_semdup"] is False and out[4]["is_semdup"] is False
    assert all(0 <= r["cluster_id"] < 2 for r in out.values())


def test_prototypicality_prune_fraction_and_scores(spark):
    """prototypicality_flags: ~prune_frac of each cluster is flagged
    (ceil per cluster), scores lie in [-1, 1], every vector appears
    once."""
    from pyspark.sql import functions as F

    v = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = sim.prototypicality_flags(v, num_clusters=4, rounds=1,
                                    prune_frac=0.25)
    rows = out.collect()
    assert len(rows) == v.count()
    assert all(-1.000001 <= r["proto_sim"] <= 1.000001 for r in rows)
    per = (
        out.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("is_pruned").cast("int")).alias("p"),
        )
        .collect()
    )
    import math

    for r in per:
        assert r["p"] == math.ceil(0.25 * r["n"]), (r["cluster_id"], r["n"], r["p"])


def test_winnowing_detects_lifted_passage(spark):
    """Winnowing guarantee: any shared word substring of >= w+k-1 = 7
    words yields >= 1 shared fingerprint; disjoint docs share none."""
    lifted = "one two three four five six seven"  # exactly 7 shared words
    a = "intro words here " + lifted + " closing remarks"
    b = "completely different opening " + lifted + " and another ending"
    c = "no overlap with anything else at all in this document body"
    df = _docs(spark, [(1, a), (2, b), (3, c)])
    fp = sim.winnow_fingerprints(df, k=4, w=4)
    shared = (
        fp.alias("x")
        .join(fp.alias("y"), ["fingerprint"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
        .collect()
    )
    got = {(r["a"], r["b"]) for r in shared}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got
    # short doc still fingerprints (single min) and empty doc yields none
    tiny = _docs(spark, [(9, "just four words here"), (10, "")])
    n = {r["doc_id"]: 1 for r in sim.winnow_fingerprints(tiny, k=4, w=4).collect()}
    assert 9 in n and 10 not in n


def _symspell_keys_py(s: str) -> set[str]:
    """Pure-Python mirror of plans.analytics.symspell_keys (the Spark
    expression): the string plus every single-character deletion."""
    return {s} | {s[:i] + s[i + 1 :] for i in range(len(s))}


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_symspell_recall_property():
    """The SymSpell guarantee the fuzzy join relies on: ANY two strings
    within Levenshtein distance 1 share at least one deletion key.
    Property-tested over random short strings (small alphabet so
    distance-1 pairs actually occur)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    alphabet = "ab c"

    @settings(max_examples=300, deadline=None)
    @given(
        st.text(alphabet=alphabet, max_size=8),
        st.text(alphabet=alphabet, max_size=8),
    )
    def check(a, b):
        if _lev(a, b) <= 1:
            assert _symspell_keys_py(a) & _symspell_keys_py(b), (a, b)

    check()


def test_symspell_keys_spark_matches_python(spark):
    """The Spark expression must produce exactly the Python mirror's key
    set (it is the basis of the recall proof above)."""
    from pyspark.sql import functions as F

    from extract_permits_spark.plans.analytics import symspell_keys

    samples = ["", "a", "ab", "red widget", "cold bolt", "x y z"]
    df = spark.createDataFrame([(s,) for s in samples], ["s"])
    got = {
        r["s"]: set(r["k"])
        for r in df.select("s", symspell_keys("s").alias("k")).collect()
    }
    for s in samples:
        assert got[s] == _symspell_keys_py(s), s


def test_containment_catches_excerpt_jaccard_misses(spark, tmp_path):
    """dedup_containment's reason to exist: an excerpt fully inside a long
    page has containment 1.0 but Jaccard ~0.14 — below the jaccard
    entry's 0.2 threshold, so the pair is invisible to dedup_ngram_jaccard
    and MUST be surfaced (with the excerpt as contained_id) here."""
    from extract_permits_spark.plans import analytics

    big = " ".join(f"w{i}" for i in range(60))          # 58 shingles
    excerpt = " ".join(f"w{i}" for i in range(20, 30))  # 8 shingles, all in big
    other = " ".join(f"z{i}" for i in range(30))        # disjoint
    docs = spark.createDataFrame(
        [(1, big), (2, excerpt), (3, other)], "doc_id long, text string"
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    sf_dir = str(tmp_path)

    got = {
        (r["id_a"], r["id_b"]): r
        for r in analytics.queries()["dedup_containment"](spark, sf_dir).collect()
    }
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    assert r["contained_id"] == 2
    assert r["containment"] == 1.0
    assert r["jaccard"] < 0.2  # the excerpt pair is sub-threshold for Jaccard

    jac_pairs = {
        (r["id_a"], r["id_b"])
        for r in analytics._jaccard_pairs_uncached(spark, sf_dir).collect()
    }
    assert (1, 2) not in jac_pairs  # not derivable from the jaccard entry


def test_kcenter_select_greedy_picks_and_bounded_state(spark):
    """Greedy farthest-point selection on a constructed corpus: the pick
    order is the exact Gonzalez sequence (seed = min id, then argmax of
    min-distance with min-id tie-break), verified against a Python
    replay; centers come back as plain floats (bounded driver state)."""
    import itertools

    from extract_permits_spark.functions.similarity import kcenter_select

    # 1-D embeddings make the greedy order hand-checkable
    pts = {0: 0.0, 1: 10.0, 2: 5.0, 3: 5.0, 4: 100.0, 5: 99.0}
    rows = [(i, [v, 0.0]) for i, v in pts.items()]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sel, centers = kcenter_select(df, k=4)
    # replay: seed 0 -> farthest 4 (100) -> then 1 (d=min(100,8100)... )
    chosen = [0]
    dmin = {i: float("inf") for i in pts}
    for _ in range(3):
        for i in pts:
            d = (pts[i] - pts[chosen[-1]]) ** 2
            dmin[i] = min(dmin[i], d)
        nxt = max(
            (i for i in pts if i not in chosen),
            key=lambda i: (dmin[i], -i),
        )
        chosen.append(nxt)
    assert [cid for _, cid in sel] == chosen
    assert all(len(c) == 2 and isinstance(c[0], float) for c in centers)
    # tie-break pin: ids 2 and 3 are identical points — if one is ever
    # picked it must be 2 (min id). With k=4 the sequence is 0,4,1,2|5...
    if 3 in chosen:
        assert 2 in chosen and chosen.index(2) < chosen.index(3)


def test_kcenter_batched_matches_greedy_at_batch1_and_guards(spark):
    """kcenter_select_batched: batch=1 degenerates to the exact Gonzalez
    greedy (same picks, same centers); k > n stops early with every row
    selected; empty corpus raises; batch>1 still returns k DISTINCT
    ids whose first pick equals the greedy's first pick (the seed and
    the round-1 farthest point are batch-independent)."""
    import pytest

    from extract_permits_spark.functions.similarity import (
        kcenter_select,
        kcenter_select_batched,
    )

    pts = {0: 0.0, 1: 10.0, 2: 5.0, 3: 5.0, 4: 100.0, 5: 99.0}
    rows = [(i, [v, 0.0]) for i, v in pts.items()]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    sel_g, cent_g = kcenter_select(df, k=4)
    sel_b1, cent_b1 = kcenter_select_batched(df, k=4, batch=1)
    assert sel_b1 == sel_g and cent_b1 == cent_g

    sel_b2, cent_b2 = kcenter_select_batched(df, k=4, batch=2)
    ids = [cid for _, cid in sel_b2]
    assert len(ids) == 4 and len(set(ids)) == 4
    assert ids[0] == sel_g[0][1]  # seed identical
    assert ids[1] == sel_g[1][1]  # round-1 farthest identical

    # k > n: early stop, all rows selected once
    sel_all, _ = kcenter_select_batched(df, k=100, batch=3)
    assert sorted(cid for _, cid in sel_all) == sorted(pts)

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError):
        kcenter_select_batched(empty, k=2, batch=2)
    with pytest.raises(ValueError):
        kcenter_select(empty, k=2)


def test_kcenter_assignment_plan_is_narrow(spark):
    """emb_kcenter_coreset's assignment stage is a single codegen'd
    projection over broadcast center literals — no join, no Exchange
    after the (cached) selection loop."""
    from extract_permits_spark.plans import analytics as A

    df = A.queries()["emb_kcenter_coreset"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan
    rows = df.collect()
    centers = [r for r in rows if r["is_center"]]
    assert len(centers) == 8
    # every center assigns to itself at distance 0
    assert all(r["center_id"] == r["vec_id"] and r["dist_sq"] == 0.0 for r in centers)
    # every vector is assigned to some selected center
    cids = {r["vec_id"] for r in centers}
    assert all(r["center_id"] in cids for r in rows)


def test_pca_power_fit_recovers_dominant_axis(spark):
    """Constructed corpus with variance overwhelmingly along dimension 2:
    the fitted component must point there (|v[2]| ~ 1, others small),
    with the sign convention v[0] >= 0 applied, and projections must
    separate the two clusters."""
    from extract_permits_spark.functions.similarity import pca_power_fit

    rows = []
    for i in range(40):
        spread = 10.0 if i % 2 == 0 else -10.0
        rows.append((i, [0.01 * (i % 3), 0.02, spread + 0.001 * i, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    v, const, n = pca_power_fit(df, iters=8)
    assert n == 40 and len(v) == 4
    assert abs(v[2]) > 0.999
    assert v[0] >= 0
    # determinism: a second fit returns the identical floats
    v2, const2, _ = pca_power_fit(df, iters=8)
    assert v2 == v and const2 == const


def test_pca_power_fit2_recovers_both_axes(spark):
    """Variance along dim 2 (large) and dim 0 (smaller): PC1 must point
    at dim 2, PC2 — after deflation — at dim 0, and the components must
    be near-orthogonal."""
    from extract_permits_spark.functions.similarity import pca_power_fit2

    rows = []
    for i in range(40):
        big = 10.0 if i % 2 == 0 else -10.0
        small = 3.0 if i % 4 < 2 else -3.0
        rows.append((i, [small + 0.001 * i, 0.02, big, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    v1, c1, v2, c2, n = pca_power_fit2(df, iters=8)
    assert n == 40
    assert abs(v1[2]) > 0.999
    assert abs(v2[0]) > 0.999
    dot = sum(a * b for a, b in zip(v1, v2))
    assert abs(dot) < 1e-3
    assert v1[0] >= 0 and v2[0] >= 0


def test_kcenter_batch_duplicate_center_is_center_semantics(spark):
    """r13 ADVICE (medium): one batched round can select two rows with
    IDENTICAL embeddings (impossible in the exact greedy, where the
    second duplicate's dmin collapses to 0 after the first is picked);
    both duplicates then ASSIGN to the lower id, so only the lower id
    counts as a center under the oracle's `vec_id = center_id` rule.
    The registry entries compute is_center the same way since r14 —
    this pins the construction at the unit level with a corpus where
    the divergence actually occurs (the fixtures' near-uniform
    embeddings masked it)."""
    from pyspark.sql import functions as F

    from extract_permits_spark.functions import similarity as simfn

    rows = [
        (0, [0.0, 0.0]),
        (1, [100.0, 0.0]),
        (2, [100.0, 0.0]),  # exact duplicate of vec 1
        (3, [1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sel, centers = simfn.kcenter_select_batched(df, k=3, batch=2)
    ids = [cid for _, cid in sel]
    # seed 0, then round 1's top-2 by (dmin DESC, id): the duplicate
    # pair 1 and 2 — both selected in ONE round
    assert set(ids) == {0, 1, 2}

    v = df.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    scored = F.array(
        *[
            F.struct(
                simfn._sqdist_to(c).alias("d"),
                F.lit(cid).cast("long").alias("cid"),
            )
            for (_, cid), c in zip(sel, centers)
        ]
    )
    best = F.array_sort(scored).getItem(0)
    out = {
        r["vec_id"]: r
        for r in v.select(
            "vec_id",
            best["cid"].alias("center_id"),
            (F.col("vec_id") == best["cid"]).alias("is_center"),
        ).collect()
    }
    assert out[1]["is_center"] and out[1]["center_id"] == 1
    # the higher-id duplicate assigns to 1 and is NOT a center — the
    # exact case where the old isin(center_ids) spelling said True and
    # the DuckDB twin said False
    assert not out[2]["is_center"] and out[2]["center_id"] == 1
    assert out[0]["is_center"] and out[0]["center_id"] == 0
    assert not out[3]["is_center"]


def test_kcenter_batched_k64_deterministic_and_distinct(spark):
    """The k=64/batch=8 configuration the bench row
    (emb_kcenter_fit_batch_k64) times: picks are distinct, include the
    greedy seed and round-1 farthest point, and the whole selection is
    run-to-run deterministic — the property the once-measured 6.3x
    pass-ratio claim (SCALE.md r14-s1) rests on."""
    from extract_permits_spark.functions.similarity import (
        kcenter_select,
        kcenter_select_batched,
    )
    from extract_permits_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    sel1, cent1 = kcenter_select_batched(emb, k=64, batch=8)
    sel2, cent2 = kcenter_select_batched(emb, k=64, batch=8)
    assert sel1 == sel2 and cent1 == cent2
    ids = [cid for _, cid in sel1]
    assert len(ids) == 64 and len(set(ids)) == 64
    sel_g, _ = kcenter_select(emb, k=2)
    assert ids[0] == sel_g[0][1]  # seed identical to the exact greedy
    assert ids[1] == sel_g[1][1]  # round-1 farthest identical


def test_minhash_md5_pairs_duplicate_expansion_parity(spark):
    """r15 rep-collapse: on a corpus where every doc has k exact copies,
    minhash_md5_pairs must emit exactly (a) all C(k,2) same-text pairs
    at jaccard 1.0 and (b) every no-dup pair (a, b, j) expanded to the
    k x k pairs between a's and b's copy groups at the SAME jaccard —
    the pre-collapse banded algorithm's output by construction."""
    from extract_permits_spark.functions.similarity import minhash_md5_pairs

    base = [
        (i, f"alpha beta gamma delta epsilon zeta token{i} token{i+1} "
            f"shared tail words here for overlap number {i % 5}")
        for i in range(24)
    ]
    docs = spark.createDataFrame(base, "doc_id long, text string")
    p0 = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_md5_pairs(docs, jaccard_threshold=0.2).collect()
    }

    k = 3
    amp_rows = [
        (i + c * 1000, t) for (i, t) in base for c in range(k)
    ]
    amp = spark.createDataFrame(amp_rows, "doc_id long, text string")

    want = {}
    for (i, _t) in base:
        ids = sorted(i + c * 1000 for c in range(k))
        for x in range(k):
            for y in range(x + 1, k):
                want[(ids[x], ids[y])] = 1.0
    for (a, b), j in p0.items():
        for ca in range(k):
            for cb in range(k):
                x, y = a + ca * 1000, b + cb * 1000
                want[(min(x, y), max(x, y))] = j
    # r15c gate: force BOTH branches — the k=3 flood's pair mass equals
    # (not exceeds) one linear pass, so auto routes it to the direct
    # banded path; collapse=True keeps the collapsed branch pinned.
    for collapse in (None, True, False):
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in minhash_md5_pairs(
                amp, jaccard_threshold=0.2, collapse=collapse
            ).collect()
        }
        assert got == want, f"collapse={collapse}"


def test_minhash_lsh_pairs_duplicate_expansion_parity(spark):
    """r15 rep-collapse on the production (capped, xxhash64) variant:
    same duplicate-expansion equality as the md5 twin, PLUS the cap
    interplay — a same-text flood larger than max_bucket_size floods
    its own buckets, so the uncollapsed code paired none of its copies
    (every shared bucket dropped); the collapsed code must reproduce
    that, while an under-cap flood pairs all C(k,2) copies at 1.0."""
    from extract_permits_spark.functions.similarity import minhash_lsh_pairs

    base = [
        (i, f"alpha beta gamma delta epsilon zeta token{i} token{i+1} "
            f"shared tail words here for overlap number {i % 5}")
        for i in range(18)
    ]
    docs = spark.createDataFrame(base, "doc_id long, text string")
    p0 = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.3).collect()
    }

    k = 3
    amp = spark.createDataFrame(
        [(i + c * 1000, t) for (i, t) in base for c in range(k)],
        "doc_id long, text string",
    )
    want = {}
    for (i, _t) in base:
        ids = sorted(i + c * 1000 for c in range(k))
        for x in range(k):
            for y in range(x + 1, k):
                want[(ids[x], ids[y])] = 1.0
    for (a, b), j in p0.items():
        for ca in range(k):
            for cb in range(k):
                x, y = a + ca * 1000, b + cb * 1000
                want[(min(x, y), max(x, y))] = j
    # r15c gate: force BOTH branches (see the md5 twin for why)
    for collapse in (None, True, False):
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in minhash_lsh_pairs(
                amp, jaccard_threshold=0.3, collapse=collapse
            ).collect()
        }
        assert got == want, f"collapse={collapse}"

    # over-cap flood: 6 identical docs with cap 5 -> every bucket the
    # flood occupies holds weighted size >= 6 and drops; no pairs at
    # all. The auto gate collapses this shape (pair mass 15 > 6 docs);
    # assert the uncollapsed branch agrees on both cap settings.
    flood = spark.createDataFrame(
        [(i, "only one text body repeated verbatim here") for i in range(6)],
        "doc_id long, text string",
    )
    for collapse in (None, False):
        assert (
            minhash_lsh_pairs(
                flood, jaccard_threshold=0.3, max_bucket_size=5,
                collapse=collapse,
            ).count()
            == 0
        ), f"collapse={collapse}"
        # raise the cap to 6: all C(6,2)=15 pairs at jaccard 1.0
        roomy = minhash_lsh_pairs(
            flood, jaccard_threshold=0.3, max_bucket_size=6,
            collapse=collapse,
        ).collect()
        assert len(roomy) == 15, f"collapse={collapse}"
        assert all(r["jaccard"] == 1.0 for r in roomy)


def test_minhash_dup_gate_decision(spark):
    """r15c: the dup-mass gate collapses exactly when the corpus'
    exact-duplicate pair mass Σ m(m−1)/2 exceeds the doc count — scale-
    free, and a single hot text trips it alone."""
    from extract_permits_spark.functions.similarity import _dup_gate_collapse

    distinct = spark.createDataFrame(
        [(i, f"text number {i}") for i in range(10)],
        "doc_id long, text string",
    )
    assert _dup_gate_collapse(distinct, "text") is False
    # 10 docs in 5 pairs: pair mass 5 <= 10 -> stay direct
    pairs5 = spark.createDataFrame(
        [(i, f"pair text {i // 2}") for i in range(10)],
        "doc_id long, text string",
    )
    assert _dup_gate_collapse(pairs5, "text") is False
    # one hot text with 8 copies among 10 docs: pair mass 28 > 10
    hot = spark.createDataFrame(
        [(i, "hot flood body" if i < 8 else f"unique {i}") for i in range(10)],
        "doc_id long, text string",
    )
    assert _dup_gate_collapse(hot, "text") is True
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert _dup_gate_collapse(empty, "text") is False


def test_dup_gate_from_groups_matches_standalone(spark):
    """r16: the generators gate through _dup_gate_from_groups over the
    shared _dup_groups frames; the decision must equal the documented
    standalone rule on every shape the standalone test pins."""
    from extract_permits_spark.functions.similarity import (
        _dup_gate_collapse,
        _dup_gate_from_groups,
        _dup_groups,
    )

    fixtures = [
        [(i, f"text number {i}") for i in range(10)],
        [(i, f"pair text {i // 2}") for i in range(10)],
        [(i, "hot flood body" if i < 8 else f"unique {i}") for i in range(10)],
        [],
    ]
    for rows in fixtures:
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        _members, groups = _dup_groups(docs, "doc_id", "text")
        assert _dup_gate_from_groups(groups) is _dup_gate_collapse(
            docs, "text"
        ), rows[:2]


def test_simhash_table_packed_votes_match_per_row(spark):
    """r16: the bit-packed two-lane vote aggregate must reproduce the
    per-row simhash64 reference exactly — including vote ties (2*ones
    == n leaves the bit clear) and high token multiplicity."""
    from pyspark.sql import functions as F

    from extract_permits_spark.functions.similarity import (
        md5_long60,
        simhash64,
        simhash_table,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c a"),
            (2, "tie tie other other"),  # even-multiplicity tie shapes
            (3, ""),
            (4, "x"),
            (5, ("hot " * 300 + "cold " * 299).strip()),  # heavy counts
            (6, "a A a A mixed Case tokens"),
        ],
        "doc_id long, text string",
    )
    packed = {
        r["doc_id"]: r["_sim"]
        for r in simhash_table(docs, "doc_id", "text").collect()
    }
    ref = {
        r["doc_id"]: r["s"]
        for r in docs.select("doc_id", simhash64("text").alias("s")).collect()
        if r["s"] is not None
    }
    assert packed == ref
    # md5 60-bit variant: all hashes non-negative, below 2^60
    md5v = simhash_table(
        docs, "doc_id", "text", n_bits=60, token_hash=md5_long60
    ).collect()
    assert md5v and all(0 <= r["_sim"] < (1 << 60) for r in md5v)


def test_md5_band_rows_single_pass_and_values(spark):
    """r16: minhash_md5_bands must plan ONE scan of its input (the old
    bands-way union re-ran the signature aggregate per branch) and emit
    the same (id, band_idx, band_hash) set as the per-band projection
    spelling."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from extract_permits_spark.functions.similarity import (
        _md5_sigs,
        minhash_md5_bands,
        word_shingles,
    )

    docs = spark.createDataFrame(
        [(i, f"one two three four five w{i} w{i+1} shared tail") for i in range(12)],
        "doc_id long, text string",
    )
    bands = minhash_md5_bands(docs)
    buf = io.StringIO()
    with redirect_stdout(buf):
        bands.explain("formatted")
    tree = buf.getvalue().split("\n\n")[0]
    assert tree.count("Union") == 0
    assert tree.count("Scan ") == 1, tree
    # value parity vs the explicit per-band projection
    sh = docs.select(
        F.col("doc_id"), word_shingles("text", 3).alias("_shingles")
    ).where(F.size("_shingles") > 0)
    sigs = _md5_sigs(
        sh.select("doc_id", F.explode("_shingles").alias("_sh")), "doc_id", 8
    )
    expected = set()
    for b in range(4):
        part = sigs.select(
            "doc_id",
            F.lit(b).alias("band_idx"),
            F.md5(
                F.concat(*[F.col(f"h{b * 2 + r}") for r in range(2)]).cast(
                    "binary"
                )
            ).alias("band_hash"),
        )
        expected |= {
            (r["doc_id"], r["band_idx"], r["band_hash"]) for r in part.collect()
        }
    got = {
        (r["doc_id"], r["band_idx"], r["band_hash"]) for r in bands.collect()
    }
    assert got == expected


# --- the shared-shingle pair helper behind _collapsed_edges and
# _jaccard_pairs_uncached, replayed in pure Python ---------------------


def _py_shingles(text):
    """Python model of word_shingles(text, 3): Spark's trim strips only
    ASCII spaces, and split(\\s+) keeps a leading/trailing empty token
    (Java's \\s is [ \\t\\n\\x0B\\f\\r], not \\xa0)."""
    import re

    t = (text or "").lower().strip(" ")
    toks = [] if t == "" else re.split(r"[ \t\n\x0b\f\r]+", t)
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


def _py_jaccard_pairs(docs):
    import itertools
    from decimal import ROUND_HALF_UP, Decimal

    sh = {i: s for i, t in docs if (s := _py_shingles(t))}
    out = {}
    for a, b in itertools.combinations(sorted(sh), 2):
        n = len(sh[a] & sh[b])
        jac = n / (len(sh[a]) + len(sh[b]) - n)
        if jac >= 0.2:
            out[(a, b)] = float(
                Decimal(repr(jac)).quantize(Decimal("1e-6"), ROUND_HALF_UP)
            )
    return out


def _py_components(pairs):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {(v, find(v)) for v in parent}


def _edge_case_corpus():
    import random

    rng = random.Random(5)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    docs = [
        (1, "p q r s t u v w"),  # 6 shingles
        (2, "p q r s x1 x2 x3 x4"),  # shares 2 of 6 with doc 1: J = 0.2
        (3, "p q r s y1 y2 y3 y4 y5"),  # shares 2 of 6+7: J = 2/11 < 0.2
        (4, "\tfoo bar baz qux"),  # first shingle " foo bar" (empty token)
        (5, "foo bar baz qux"),
        (6, "\tfoo bar baz qux"),  # exact twin of 4
        (7, "one two three four five"),
        (8, "one two three four five"),  # exact twins 7, 8, 9
        (9, "one two three four five"),
        (10, "a b"),  # under 3 tokens, twinned: never a node
        (11, "a b"),
        (12, None),
        (13, None),
        (14, "   "),
        (15, "ONE two  three four five "),  # case + inner/trailing blanks
        (16, "x y z\n"),  # trailing newline: 4 tokens, last empty
    ]
    for i in range(17, 57):
        n = rng.randint(0, 9)
        sep = rng.choice([" ", "  ", "\t", " \n"])
        docs.append((i, sep.join(rng.choice(vocab) for _ in range(n))))
    return docs


def test_shingle_pairs_match_python_replay(spark, tmp_path):
    """_jaccard_pairs_uncached (ids and rounded jaccard) and the
    components over _collapsed_edges equal a pure-Python replay on a
    corpus of exact twins, sub-3-token texts (twinned too), null and
    blank text, a tab-leading text and a pair exactly at J = 0.2."""
    from extract_permits_spark.operators.graph import connected_components
    from extract_permits_spark.plans import analytics

    docs = _edge_case_corpus()
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    sf_dir = str(tmp_path)

    want = _py_jaccard_pairs(docs)
    assert want[(1, 2)] == 0.2 and (1, 3) not in want
    assert want[(4, 6)] == 1.0 and want[(4, 5)] == round(2 / 3, 6)
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in analytics._jaccard_pairs_uncached(spark, sf_dir).collect()
    }
    assert got == want

    comps = {
        (r["id"], r["component"])
        for r in connected_components(
            analytics._collapsed_edges(spark, sf_dir)
        ).collect()
    }
    assert comps == _py_components(want)
    assert not {10, 11, 12, 13, 14} & {v for v, _ in comps}


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.text(alphabet=" \t\n\r\xa0\x0bab", min_size=0, max_size=12),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_token_count_eligibility_equals_nonempty_shingles(spark, texts):
    """_collapsed_edges' eligibility size(tokens) >= 3 selects exactly
    the docs with at least one 3-shingle, on whitespace-heavy text
    (tabs, newlines, \\xa0, leading/trailing blanks)."""
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    rows = df.select(
        (F.size(sim.tokens("t")) >= 3).alias("by_tokens"),
        (F.size(sim.word_shingles("t", 3)) > 0).alias("by_shingles"),
    ).collect()
    for t, r in zip(texts, rows):
        assert r["by_tokens"] == r["by_shingles"], repr(t)
        assert r["by_shingles"] == bool(_py_shingles(t)), repr(t)


def test_scratch_free_keeps_curation_memos(spark):
    """The shingle table is a SCRATCH checkpoint: freeing scratch
    blocks between evaluations must leave the components and Jaccard
    pair memos collectable (neither may reference it), and must really
    free the shingle tables."""
    from extract_permits_spark import session
    from extract_permits_spark.plans import _registry

    sf_dir = "/root/testdata/sf0.001"
    _registry.clear_frame_caches()
    session.free_scratch_checkpoints()
    comp = _registry._components_cached(spark, sf_dir)
    pairs = _registry._jaccard_pairs_cached(spark, sf_dir)
    shingle_ids = set()
    for s in session._SCRATCH_CKPTS:
        shingle_ids |= session._logical_rdd_ids(s)
    assert len(shingle_ids) == 2  # one shingle table per memo
    persisted = spark.sparkContext._jsc.getPersistentRDDs()
    assert all(persisted.containsKey(i) for i in shingle_ids)
    want_comp, want_pairs = sorted(comp.collect()), sorted(pairs.collect())

    session.free_scratch_checkpoints()
    persisted = spark.sparkContext._jsc.getPersistentRDDs()
    assert not any(persisted.containsKey(i) for i in shingle_ids)
    assert sorted(_registry._components_cached(spark, sf_dir).collect()) == want_comp
    assert sorted(_registry._jaccard_pairs_cached(spark, sf_dir).collect()) == want_pairs
