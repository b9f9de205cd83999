"""Similarity & near-duplicate detection for training-data pipelines.

All candidate-generation paths are LSH-shaped so the cost at 100 TB is
O(corpus) + O(candidate pairs), never O(n²):

- MinHash + banded LSH  (Jaccard near-dup; Broder '97 / MMDS ch.3)
- SimHash + band buckets (Hamming near-dup; Charikar '02)
- n-gram Jaccard verification on candidate pairs only
- cosine ANN: brute-force top-k baseline + LSH-bucketed scale path

Everything is built-in expressions (xxhash64, higher-order array functions,
bit ops) — no Python in the hot path. The only shuffles are the
bucket-group joins on compact integer keys; document bodies never shuffle
(hash first, join ids, fetch bodies by id at the end).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------------
# Shingling
# ---------------------------------------------------------------------------


def tokens(text: Column | str) -> Column:
    t = F.trim(F.lower(F.coalesce(_c(text), F.lit(""))))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def zip_ngrams(toks: Column, n: int) -> Column:
    """Ordered, duplicate-keeping word n-grams of a token array as
    space-joined strings; empty array below ``n`` tokens. THE shared
    gram builder — word_shingles and text._word_ngrams both ride it
    (extracted in r9 after the same perf fix had to be applied twice).

    Shape: n whole-array slices zipped, then one concat per gram —
    NOT a per-gram ``slice(toks, i, n)`` (which allocates a fresh
    sub-array per gram inside an interpreted lambda; measured 5.3s vs
    0.8s at sf0.1 for the shingle explode, and 3.7s vs 1.9s for the
    decontamination row, identical output)."""
    m = F.greatest(F.size(toks) - n + 1, F.lit(0))  # gram count
    zipped = F.arrays_zip(*[F.slice(toks, k + 1, m) for k in range(n)])
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(k)] for k in range(n)])
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams (zip_ngrams + array_distinct). Narrow,
    per-row, codegen'd."""
    return F.array_distinct(zip_ngrams(tokens(text), n))


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003 — the MOSS
    algorithm): hash every positional word k-gram, slide a w-window over
    the hash sequence, keep each window's minimum. Guarantees: any shared
    substring of ≥ w+k-1 words produces at least one shared fingerprint
    (detection floor), and fingerprint density is ~2/(w+1) — a fixed-rate
    sample of the document, robust to insertions/deletions around the
    match (unlike fixed-stride sampling).

    Returns (id, fingerprint) — the inverted-index shape; pairs sharing
    ≥ m fingerprints are substring-overlap candidates.

    Shape: grams AND window minima are both zip-of-shifted-slices + one
    per-element expression (concat / least) — never a per-window
    ``slice()`` allocation inside an interpreted lambda (the same measured
    ~6× trap word_shingles documents). Hashing is the cross-engine
    md5-60-bit so DuckDB replays fingerprints digit-identically. Narrow
    until the final explode; no shuffle at all in this function."""
    toks = tokens(text_col)
    m = F.greatest(F.size(toks) - k + 1, F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, m) for j in range(k)])
    gram_strs = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(k)])
    )
    hashes = F.transform(
        gram_strs,
        lambda g: F.conv(F.substring(F.md5(g.cast("binary")), 1, 15), 16, 10).cast(
            "long"
        ),
    )
    hashes = F.when(F.size(toks) >= k, hashes).otherwise(
        F.array().cast("array<long>")
    )
    nw = F.greatest(F.size(hashes) - w + 1, F.lit(0))
    zipped_w = F.arrays_zip(*[F.slice(hashes, j + 1, nw) for j in range(w)])
    mins = F.transform(
        zipped_w, lambda s: F.least(*[s[str(j)] for j in range(w)])
    )
    fps = (
        F.when(F.size(hashes) >= w, mins)
        .when(F.size(hashes) > 0, F.array(F.array_min(hashes)))
        .otherwise(F.array().cast("array<long>"))
    )
    return docs.select(
        F.col(id_col), F.explode(F.array_distinct(fps)).alias("fingerprint")
    )


def winnow_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    topn: int | None = 25,
) -> DataFrame:
    """Substring-overlap candidate pairs: join the winnowing inverted
    index with itself on fingerprint, count shared prints per pair, keep
    pairs sharing ≥ min_shared. One equi-join on a near-uniform long key
    + one pair groupBy — O(corpus + shared-fingerprint pairs), never
    all-pairs. At 100 TB, cap bucket sizes first (a fingerprint shared by
    millions of docs is boilerplate, not plagiarism — drop it like a
    stop-shingle)."""
    fp = winnow_fingerprints(docs, id_col, text_col, k, w)
    pairs = (
        fp.alias("a")
        .join(fp.alias("b"), ["fingerprint"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    if topn is not None:
        pairs = pairs.orderBy(
            F.col("n_shared").desc(), "id_a", "id_b"
        ).limit(topn)
    return pairs


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------


def _quote_ident(name: str) -> str:
    """Backtick-quote a (possibly dot-qualified) column name for SQL-text
    interpolation, one segment at a time — ``_b.sig`` → `` `_b`.`sig` ``
    — matching ``F.col``'s qualifier parsing exactly, so the parsed-SQL
    fast paths resolve the same attribute as their Column twins for ANY
    name (ADVICE r15: an unquoted name needing backticks would fail to
    parse or silently bind elsewhere)."""
    return ".".join("`" + p.replace("`", "``") + "`" for p in name.split("."))


def lsh_bands(sig_col: Column | str, bands: int, rows: int) -> Column:
    """Array of (band_idx, band_hash) structs: signature sliced into
    ``bands`` bands of ``rows`` hashes, each band hashed to one int64.

    Built as ONE parsed SQL expression when the signature is addressed
    by name (r15 opt): the per-band ``F.struct``/``F.xxhash64`` loop
    cost ~6 py4j round trips per band of driver-side construction —
    pure Python↔JVM chatter, same expression tree either way (guide §5:
    driver overhead; SCALE.md r15 construction ledger). The name is
    backtick-quoted per dot segment (r16, ADVICE r15) so the string
    path resolves exactly like ``F.col(sig_col)`` for any identifier,
    not just the simple internal ones."""
    if isinstance(sig_col, str):
        quoted = _quote_ident(sig_col)
        return F.expr(
            "array("
            + ", ".join(
                f"named_struct('band_idx', {b}, 'band_hash', "
                f"xxhash64(slice({quoted}, {b * rows + 1}, {rows})))"
                for b in range(bands)
            )
            + ")"
        )
    sig = _c(sig_col)
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.xxhash64(F.slice(sig, b * rows + 1, rows)).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )


def candidate_pairs_from_buckets(
    bucketed: DataFrame,
    id_col: str = "doc_id",
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Self-join per LSH bucket → distinct candidate id pairs (id_a < id_b).

    ``bucketed`` must have columns (id_col, band_idx, band_hash). Buckets
    larger than ``max_bucket_size`` are dropped (degenerate content — e.g.
    empty docs — that would quadratically explode); at scale this cap is
    the difference between a bounded join and a runaway one. Dropped
    buckets are knowable: callers can count them with the same groupBy.
    """
    # Coalesce-proof fan-out (r13, the r6 AQE finding): band rows are
    # COMPACT (id + two hash columns), so AQE byte-coalescing merges this
    # exchange to a few partitions — and the pair self-join below fans
    # out quadratically per bucket on those few cores. An explicit
    # partition count is exempt from coalescing; the bucket-size window
    # AND both self-join sides all require exactly this clustering, so
    # this stays the single shuffle of the candidate step.
    bucketed = bucketed.repartition(
        bucketed.sparkSession.sparkContext.defaultParallelism * 2,
        "band_idx",
        "band_hash",
    )
    sized = bucketed.withColumn(
        "_bucket_n",
        F.count(F.lit(1)).over(Window.partitionBy("band_idx", "band_hash")),
    ).where(F.col("_bucket_n") <= max_bucket_size)
    a = sized.select(
        F.col("band_idx"), F.col("band_hash"), F.col(id_col).alias("id_a")
    )
    b = sized.select(
        F.col("band_idx"), F.col("band_hash"), F.col(id_col).alias("id_b")
    )
    return (
        a.join(b, ["band_idx", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _dup_groups(
    docs: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """Shared exact-duplicate group frames for the minhash pair
    generators (r16, VERDICT r15 #1): ``members`` = (md5(text), id) and
    ``groups`` = (md5, rep = min(id), m = count), both lazily
    checkpointed, chained as ONE pass — groups reads members'
    checkpoint, so the whole thing costs one scan + one groupBy. The
    dup-mass gate aggregates ``groups``; its ``.first()`` materializes
    both frames, which the collapsed branch then reuses as-is. The r15
    shape paid this md5-groupBy pass inside the gate and THREW IT AWAY,
    then recomputed members/groups from scratch when the collapse fired
    (guide §2.4: remove shuffles outright — and §1.2: don't compute
    things you throw away). Speculative cost on a duplicate-light
    corpus: the members checkpoint write, ~24 B/doc of executor-local
    disk vs the KBs/doc text scan the gate pays either way; on a
    duplicate-heavy corpus this saves a full second scan + groupBy."""
    from extract_permits_spark.session import register_scratch_checkpoint

    gkey = F.md5(F.coalesce(F.col(text_col), F.lit("")).cast("binary"))
    members = docs.select(gkey.alias("_g"), F.col(id_col)).localCheckpoint(
        eager=False
    )
    register_scratch_checkpoint(members)
    groups = (
        members.groupBy("_g")
        .agg(F.min(F.col(id_col)).alias("_rep"), F.count(F.lit(1)).alias("_m"))
        .localCheckpoint(eager=False)
    )
    register_scratch_checkpoint(groups)
    return members, groups


def _dup_gate_from_groups(groups: DataFrame) -> bool:
    """The r15c dup-mass decision (same math as ``_dup_gate_collapse``)
    computed from a shared ``_dup_groups`` frame: collapse iff
    exact-duplicate pair mass Σ m(m−1)/2 exceeds one linear pass
    (> n docs). The ``.first()`` materializes the lazily-checkpointed
    groups (and its members parent) as a side effect — deliberately:
    the collapsed branch reuses both without recomputation."""
    tot = groups.agg(
        F.sum("_m").alias("n"),
        F.sum(F.col("_m") * (F.col("_m") - F.lit(1))).alias("_pm2"),
    ).first()
    if tot is None:
        return False
    # _pm2 = Σ m(m−1) = 2× pair mass; collapse iff pair_mass > n
    return (tot["_pm2"] or 0) > 2 * (tot["n"] or 0)


def _dup_gate_collapse(docs: DataFrame, text_col: str) -> bool:
    """r15c dup-mass gate for the minhash pair generators: decide, from
    ONE narrow pass over md5(text), whether the exact-duplicate collapse
    pays for itself. The collapse's win is quadratic in per-group
    multiplicity (a group of k exact copies feeds C(k,2) candidate rows
    to the verifier uncollapsed); its cost is ~constant (the
    members/groups materialization plus output-sized expansion joins —
    measured 2.8–3.4 s at the sf0.1 1× shape, SCALE.md r15-s6). So
    collapse exactly when the corpus' exact-duplicate PAIR MASS
    Σ_g m_g(m_g−1)/2 exceeds one linear pass worth of rows (> n docs) —
    scale-free in n, and a single hot text with millions of copies trips
    it on its own. Either branch is value-identical by construction
    (pinned by the duplicate-expansion parity tests, which force both).
    The gate itself shuffles only (16-byte md5, count) rows — ~0.2 s at
    sf0.1, amortized into the pass the collapsed branch needs anyway.

    r16: the pair generators now gate through ``_dup_gate_from_groups``
    over the shared ``_dup_groups`` frames (one pass, reused on
    collapse); this standalone form is kept as the documented decision
    rule and its direct test surface — the math is identical."""
    gkey = F.md5(F.coalesce(F.col(text_col), F.lit("")).cast("binary"))
    tot = (
        docs.select(gkey.alias("_g"))
        .groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_m"))
        .agg(
            F.sum("_m").alias("n"),
            F.sum(F.col("_m") * (F.col("_m") - F.lit(1))).alias("_pm2"),
        )
        .first()
    )
    if tot is None:
        return False
    # _pm2 = Σ m(m−1) = 2× pair mass; collapse iff pair_mass > n
    return (tot["_pm2"] or 0) > 2 * (tot["n"] or 0)


def _count_verify(
    cand: DataFrame,
    ex: DataFrame,
    sz: DataFrame,
    id_col: str,
    jaccard_threshold: float,
) -> DataFrame:
    """Count-based exact-Jaccard verification (r9), shared by every
    minhash pair path: |A∩B| as a co-count over the exploded distinct
    shingle stream joined through the candidate pairs — the same
    integers as the old array-pair join with no array ever riding a join
    row (the only shape that survives 100 TB; wide-document array joins
    OOM). ``ex`` is (id, _sh) exploded-distinct, ``sz`` is (id, _sz)."""
    inter = (
        cand.join(ex.select(F.col(id_col).alias("id_a"), "_sh"), "id_a")
        .join(ex.select(F.col(id_col).alias("id_b"), "_sh"), ["id_b", "_sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    jac = F.col("_inter") / (F.col("_sza") + F.col("_szb") - F.col("_inter"))
    return (
        inter.join(
            sz.select(F.col(id_col).alias("id_a"), F.col("_sz").alias("_sza")),
            "id_a",
        )
        .join(
            sz.select(F.col(id_col).alias("id_b"), F.col("_sz").alias("_szb")),
            "id_b",
        )
        .where(jac >= jaccard_threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = 1000,
    collapse: bool | None = None,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup: shingle → signature → band buckets
    → candidate pairs → exact shingle-Jaccard verification.

    Returns (id_a, id_b, jaccard) with jaccard ≥ threshold.

    Precondition: ``jaccard_threshold > 0``. The count-based verifier
    computes |A∩B| with an INNER join over shared shingles, so candidate
    pairs with zero overlap never reach the threshold filter — at a
    threshold of 0 they would be silently absent (the pre-r9 array form
    returned them with jaccard 0.0). Zero-overlap pairs are dedup noise,
    never near-dups, so no production caller wants them; the precondition
    applies to ``minhash_md5_pairs`` identically.

    Shape chosen for scale: shingles are EXPLODED and the k min-hashes are
    computed as k codegen'd ``min()`` aggregates in a single groupBy pass
    (one shuffle on doc ids) — measured ~3× faster than the per-row
    higher-order ``array_min(transform(...))`` form, whose lambdas are
    interpreted per element. Verification is a count-based co-count over
    the exploded shingles (r9) — document bodies and shingle arrays never
    ride a join row.

    Exact-duplicate collapse (r15, same construction and equivalence
    argument as ``minhash_md5_pairs`` — see there): banding and
    verification run over one representative per distinct text, and
    pairs expand back through the duplicate groups. The bucket cap
    weighs each rep by its group size, so bucket sizes equal the
    pre-collapse doc counts exactly (the ``lsh_cross_hits`` r15 cap
    rule), and same-text pairs are emitted only for groups with at
    least one SURVIVING bucket — a flood larger than
    ``max_bucket_size`` drops all its own buckets and pairs nothing,
    exactly as the uncollapsed code behaved. Values identical by
    construction; the flood cost falls from quadratic to linear in the
    duplication factor.

    ``collapse`` (r15c): None = auto — collapse only when the corpus'
    exact-duplicate pair mass exceeds one linear pass (see
    ``_dup_gate_collapse``); a duplicate-light corpus takes the direct
    banded path and skips the collapse machinery's ~3 s constant.
    True/False force a branch (the parity tests pin both equal).
    """
    from extract_permits_spark.session import register_scratch_checkpoint

    members = groups = None
    if collapse is None:
        # r16 (VERDICT r15 #1): the gate derives from the SAME lazily-
        # checkpointed members/groups frames the collapsed branch
        # consumes — one md5-groupBy pass, not two (guide §2.4). An
        # explicit ``collapse=`` skips the gate job entirely.
        members, groups = _dup_groups(docs, id_col, text_col)
        collapse = _dup_gate_from_groups(groups)
    rows = num_hashes // bands
    # one parsed expression instead of num_hashes×4 py4j calls (r15 opt,
    # same tree — see lsh_bands)
    sig_agg = F.expr(
        "array("
        + ", ".join(f"min(xxhash64(_sh, {seed}))" for seed in range(num_hashes))
        + ")"
    ).alias("_sig")
    if not collapse:
        # duplicate-light corpus (r15c gate): the banded pipeline runs
        # over all docs directly — the pre-collapse construction with
        # ONE lazy checkpoint on the multiply-referenced aggregate (sh
        # feeds the bucket fan-out, both size lookups and, since r16,
        # the verifier's co-count stream via explode(_shingles) — the
        # set IS the distinct shingle stream, word_shingles being
        # array_distinct). The r15b checkpoint on the pre-aggregation
        # ``exploded`` stream is gone: it is referenced exactly once
        # now, so checkpointing it only bought a corpus-scale
        # shingle-stream disk write (guide §5: materialize only what is
        # re-read).
        exploded = docs.select(
            F.col(id_col),
            F.explode(word_shingles(text_col, shingle_n)).alias("_sh"),
        )
        sh = (
            exploded.groupBy(id_col)
            .agg(F.collect_set("_sh").alias("_shingles"), sig_agg)
            .localCheckpoint(eager=False)
        )
        register_scratch_checkpoint(sh)
        bucketed = sh.select(
            F.col(id_col),
            F.explode(lsh_bands("_sig", bands, rows)).alias("_band"),
        ).select(id_col, F.col("_band.band_idx"), F.col("_band.band_hash"))
        pairs = candidate_pairs_from_buckets(bucketed, id_col, max_bucket_size)
        ex = sh.select(F.col(id_col), F.explode("_shingles").alias("_sh"))
        sz = sh.select(F.col(id_col), F.size("_shingles").alias("_sz"))
        return _count_verify(pairs, ex, sz, id_col, jaccard_threshold)

    # Collapsed branch. r15b: the narrow intermediates are deduplicated
    # via registered LAZY localCheckpoint (same rationale and
    # barrier-free shape as minhash_md5_pairs — see there): the
    # expansion references members/groups 4x and the verifier the
    # shingle sets 3x; un-materialized, each reference re-ran the scan
    # + semi join + shingle + signature chain. Lazy (eager=False) keeps
    # one DAG — no per-checkpoint job barrier — while every reference
    # past the first reads the persisted partitions. All checkpoints
    # sit UPSTREAM of the pinned band repartition, which must stay in
    # the executed plan (test_fanout_exchanges_pin_partition_count).
    # r16: members/groups arrive pre-materialized from the shared gate
    # pass when the gate decided (collapse=None); only a forced
    # collapse=True builds them here.
    if members is None:
        members, groups = _dup_groups(docs, id_col, text_col)
    reps = docs.select(F.col(id_col), F.col(text_col)).join(
        groups.select(F.col("_rep").alias(id_col)), id_col, "left_semi"
    )

    # r16: no checkpoint on the pre-aggregation shingle stream — it is
    # referenced once (sh's agg); the verifier's co-count stream reads
    # explode(_shingles) from the checkpointed sh instead (see the
    # direct branch).
    exploded = reps.select(
        F.col(id_col), F.explode(word_shingles(text_col, shingle_n)).alias("_sh")
    )
    sh = (
        exploded.groupBy(id_col)
        .agg(F.collect_set("_sh").alias("_shingles"), sig_agg)
        .localCheckpoint(eager=False)
    )
    register_scratch_checkpoint(sh)
    bucketed = sh.join(
        groups.select(F.col("_rep").alias(id_col), "_m"), id_col
    ).select(
        F.col(id_col),
        F.col("_m"),
        F.explode(lsh_bands("_sig", bands, rows)).alias("_band"),
    ).select(id_col, "_m", F.col("_band.band_idx"), F.col("_band.band_hash"))
    # weighted bucket cap — the same coalesce-proof fan-out pin as
    # candidate_pairs_from_buckets (see there), with sum(_m) replacing
    # the row count so a bucket's size is its pre-collapse doc count
    bucketed = bucketed.repartition(
        bucketed.sparkSession.sparkContext.defaultParallelism * 2,
        "band_idx",
        "band_hash",
    )
    sized = bucketed.withColumn(
        "_bucket_n",
        F.sum("_m").over(Window.partitionBy("band_idx", "band_hash")),
    ).where(F.col("_bucket_n") <= max_bucket_size)
    # r15b: the capped band rows feed THREE consumers (both self-join
    # sides + the surviving-rep filter for intra pairs); lazy-checkpoint
    # them so the window cap runs once, and re-pin the fan-out exchange
    # BELOW the checkpoint — the planner cannot see a LogicalRDD's
    # partitioning, so without the pin AQE would byte-coalesce the tiny
    # (id, band) rows onto 1-2 cores exactly as
    # test_fanout_exchanges_pin_partition_count documents.
    sized = sized.localCheckpoint(eager=False)
    register_scratch_checkpoint(sized)
    sized = sized.repartition(
        sized.sparkSession.sparkContext.defaultParallelism * 2,
        "band_idx",
        "band_hash",
    )
    a = sized.select(
        F.col("band_idx"), F.col("band_hash"), F.col(id_col).alias("id_a")
    )
    b = sized.select(
        F.col("band_idx"), F.col("band_hash"), F.col(id_col).alias("id_b")
    )
    pairs = (
        a.join(b, ["band_idx", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # count-based verification (r9, shared helper): shingles are
    # distinct per doc (word_shingles is array_distinct), so the
    # exploded sets double as the verifier's co-count stream.
    ex = sh.select(F.col(id_col), F.explode("_shingles").alias("_sh"))
    sz = sh.select(F.col(id_col), F.size("_shingles").alias("_sz"))
    rep_pairs = _count_verify(pairs, ex, sz, id_col, jaccard_threshold)

    # expansion (see minhash_md5_pairs): cross-text rep pairs fan out to
    # member pairs; same-text pairs emit at jaccard 1.0, but ONLY for
    # groups with >= 1 surviving bucket (the cap drops a flood's own
    # buckets, and with them its intra pairs — pre-collapse semantics)
    g_of = groups.select(F.col("_rep").alias("_rid"), F.col("_g"))
    cross = (
        rep_pairs.join(
            g_of.select(F.col("_rid").alias("id_a"), F.col("_g").alias("_ga")),
            "id_a",
        )
        .join(
            g_of.select(F.col("_rid").alias("id_b"), F.col("_g").alias("_gb")),
            "id_b",
        )
        .select("_ga", "_gb", "jaccard")
        .join(
            members.select(F.col("_g").alias("_ga"), F.col(id_col).alias("_xa")),
            "_ga",
        )
        .join(
            members.select(F.col("_g").alias("_gb"), F.col(id_col).alias("_xb")),
            "_gb",
        )
        .select(
            F.least("_xa", "_xb").alias("id_a"),
            F.greatest("_xa", "_xb").alias("id_b"),
            "jaccard",
        )
    )
    surviving = sized.select(F.col(id_col).alias("_rid")).distinct()
    intra = (
        surviving.join(g_of, "_rid")
        .join(groups.where(F.col("_m") >= 2).select("_g"), "_g")
        .join(members.select("_g", F.col(id_col).alias("_xa")), "_g")
        .join(members.select("_g", F.col(id_col).alias("_xb")), "_g")
        .where(F.col("_xa") < F.col("_xb"))
        .where(F.lit(1.0) >= F.lit(jaccard_threshold))
        .select(
            F.col("_xa").alias("id_a"),
            F.col("_xb").alias("id_b"),
            F.round(F.lit(1.0), 6).alias("jaccard"),
        )
    )
    return cross.unionByName(intra)


def minhash_md5_bands(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """The md5-family band index on its own: (id, band_idx, band_hash),
    one row per band per document with ≥ shingle_n tokens. Factored out
    of ``minhash_md5_pairs`` so a STATIC corpus index can be built once
    and probed by later arrivals (streaming ingest scoring) with the
    exact same hashes the batch dedup and its DuckDB oracle use."""
    sh = docs.select(
        F.col(id_col), word_shingles(text_col, shingle_n).alias("_shingles")
    ).where(F.size("_shingles") > 0)
    exploded = sh.select(F.col(id_col), F.explode("_shingles").alias("_sh"))
    sigs = _md5_sigs(exploded, id_col, num_hashes)
    return _md5_band_rows(sigs, id_col, num_hashes, bands)


def _md5_sigs(exploded: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """Per-seed min(md5) signature columns h0..h{n-1} from the exploded
    (id, shingle) stream — the one place the md5 minhash math lives
    (shared by the standalone band index and the r15 checkpointed pair
    generator so the two can never drift)."""
    return exploded.groupBy(id_col).agg(
        *[
            F.min(
                F.md5(F.concat(F.lit(f"{s}|"), F.col("_sh")).cast("binary"))
            ).alias(f"h{s}")
            for s in range(num_hashes)
        ]
    )


def _md5_band_rows(
    sigs: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band_idx, band_hash) rows from signature columns — the band
    construction half of ``minhash_md5_bands``, factored so the pair
    generator can feed it an already-materialized signature frame.

    One explode-of-array pass (r16), the same shape as ``lsh_bands``:
    the old ``bands``-way unionByName re-evaluated the whole signature
    subtree once per branch when the input was NOT a materialized RDD —
    per-branch column pruning makes each branch's exchange distinct, so
    ReuseExchange never fires (the r13 rag lesson) — and the
    ``minhash_md5_bands`` consumers (the recall eval's candidate join,
    the streaming index/batch scoring) fed it the raw aggregate:
    measured 8 parquet scans + 8 shingle explodes in
    dedup_minhash_recall's plan, now 1 scan + 1 Generate per reference.
    Values identical: same (id, band_idx, band_hash) set, band_hash is
    the same md5(concat(h...)) expression."""
    rows = num_hashes // bands
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.md5(
                            F.concat(
                                *[F.col(f"h{b * rows + r}") for r in range(rows)]
                            ).cast("binary")
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_band"),
    ).select(id_col, F.col("_band.band_idx"), F.col("_band.band_hash"))


def _md5_banded_verified(
    docs_narrow: DataFrame,
    id_col: str,
    shingle_n: int,
    num_hashes: int,
    bands: int,
    jaccard_threshold: float,
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """The md5 banded-LSH core: shingle → lazily-checkpointed shingle
    arrays and signatures → pinned band fan-out → candidate self-join →
    count-based verification. Returns ``(pairs, sh)`` — ``sh`` is the
    checkpointed (id, _shingles) frame so the collapsed caller can gate
    intra-group pairs on reps that actually shingle. The two lazy
    checkpoints are the r15b materialization medicine: ``sh`` feeds the
    verifier's co-count stream plus both size lookups and ``sigs`` feeds
    all ``bands`` union branches — un-materialized, every reference
    re-ran the scan + shingle + 8-hash min-agg chain (SCALE.md r15-s4).
    """
    from extract_permits_spark.session import register_scratch_checkpoint

    sh = (
        docs_narrow.select(
            F.col(id_col), word_shingles(text_col, shingle_n).alias("_shingles")
        )
        .where(F.size("_shingles") > 0)
        .localCheckpoint(eager=False)
    )
    register_scratch_checkpoint(sh)
    sigs = _md5_sigs(
        sh.select(F.col(id_col), F.explode("_shingles").alias("_sh")),
        id_col,
        num_hashes,
    ).localCheckpoint(eager=False)
    register_scratch_checkpoint(sigs)
    band_frames = _md5_band_rows(sigs, id_col, num_hashes, bands)
    # coalesce-proof fan-out below the compact band exchange — same
    # guard (and same measured starvation) as candidate_pairs_from_buckets:
    # one pinned shuffle serves BOTH self-join sides (dup-heavy 10x bench
    # shape: 35.9 s cold byte-coalesced → 10.0 s pinned, same pairs)
    band_frames = band_frames.repartition(
        band_frames.sparkSession.sparkContext.defaultParallelism * 2,
        "band_idx",
        "band_hash",
    )
    a = band_frames.select("band_idx", "band_hash", F.col(id_col).alias("id_a"))
    b = band_frames.select("band_idx", "band_hash", F.col(id_col).alias("id_b"))
    cand = (
        a.join(b, ["band_idx", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # shingles are distinct per doc (word_shingles is array_distinct),
    # so the explode doubles as the verifier's co-count stream
    ex = sh.select(F.col(id_col), F.explode("_shingles").alias("_sh"))
    sz = sh.select(F.col(id_col), F.size("_shingles").alias("_sz"))
    return _count_verify(cand, ex, sz, id_col, jaccard_threshold), sh


def minhash_md5_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.2,
    collapse: bool | None = None,
) -> DataFrame:
    """MinHash-LSH with the md5 hash family — the cross-engine-
    deterministic variant whose banding a DuckDB oracle replays verbatim
    (registry entry ``dedup_minhash_md5``; xxhash64 ``minhash_lsh_pairs``
    is the production fast path). Same banded shape: shingle → per-seed
    min(md5) signature → per-band md5 bucket → candidate join → exact
    Jaccard verification. Precondition: ``jaccard_threshold > 0`` — the
    count-based verifier drops zero-overlap candidate pairs before the
    threshold filter (see ``minhash_lsh_pairs``).

    Exact-duplicate collapse (r15 — the ``lsh_cross_hits`` r14 medicine
    applied to pair GENERATION): on a crawl flood where every doc has k
    exact copies, the banded self-join materializes C(k,2) candidate
    rows per original and the count-verifier explodes each against the
    full shingle stream — quadratic in flood size, and the residual
    heap-phase variance the r9 count-based rework left behind (settled
    samples still swung 8.8–23.3 s at the 10× bench shape on identical
    code). Instead: collapse to one representative per distinct text
    (md5-of-text groupBy + min_by — the map-side-combining dedup shape
    ``llm_pretrain_pipeline`` uses), run banding + verification on reps
    only, then expand — same-text pairs are emitted directly at jaccard
    1.0 (identical distinct shingle arrays ⇒ |A∩B| = |A| = |B| exactly),
    and every cross-text rep pair fans out to its groups' member pairs
    with the rep-level jaccard (identical texts ⇒ identical signatures,
    buckets and shingle sets). Values identical by construction; the
    verification join shrinks by the square of the duplication factor.
    ``collapse`` (r15c): None = auto — collapse only when the corpus'
    exact-duplicate pair mass exceeds one linear pass (see
    ``_dup_gate_collapse``); a duplicate-light corpus takes the direct
    banded path and skips the collapse machinery's ~3 s constant.
    True/False force a branch (the parity tests pin both equal)."""
    members = groups = None
    if collapse is None:
        # r16 (VERDICT r15 #1): the gate derives from the SAME lazily-
        # checkpointed members/groups frames the collapsed branch
        # consumes — one md5-groupBy pass, not two (guide §2.4). An
        # explicit ``collapse=`` skips the gate job entirely.
        members, groups = _dup_groups(docs, id_col, text_col)
        collapse = _dup_gate_from_groups(groups)
    if not collapse:
        # duplicate-light corpus (r15c gate): the banded core runs over
        # all docs directly — the pre-collapse construction with the
        # r15b lazy checkpoints (see _md5_banded_verified)
        pairs, _sh = _md5_banded_verified(
            docs.select(F.col(id_col), F.col(text_col)),
            id_col,
            shingle_n,
            num_hashes,
            bands,
            jaccard_threshold,
            text_col=text_col,
        )
        return pairs

    # Collapsed branch. text never rides an exchange here: members
    # shuffles (md5, id) only, and the rep rows come back via a semi
    # join on the id list — broadcast under AQE at any bucket-able
    # id-list size (ids are 8 bytes/doc; at the billions-of-docs regime
    # where it stops broadcasting, one id-shuffle of the corpus is the
    # price of the quadratic flood immunity below).
    #
    # r15b: the narrow intermediates (members, groups, shingle arrays,
    # signatures) are materialized ONCE via registered LAZY
    # localCheckpoint — the phash_pairs r13 medicine, minus the eager
    # barrier. The expansion stage references members/groups 4x and the
    # verifier references the shingle stream 3x; un-materialized, every
    # reference re-ran the parquet scan + semi join + shingle explode +
    # 8-hash min-agg chain (the closing r15 bench caught the md5 1x row
    # at a STABLE 66 s, min 65.6 — recompute, not regime; the plan had
    # grown 732 -> 1761 lines). eager=False keeps construction one DAG
    # (measured: eager barriers 4.9-5.2 s warm vs lazy 4.0-4.4 s, both
    # vs 14.9 s un-checkpointed in-session); references past the first
    # read the persisted partitions. Checkpointed frames are O(corpus)
    # narrow rows on executor-local disk — the same bytes one exchange
    # of them would spill. r16: members/groups arrive pre-materialized
    # from the shared gate pass when the gate decided (collapse=None);
    # only a forced collapse=True builds them here.
    if members is None:
        members, groups = _dup_groups(docs, id_col, text_col)
    reps = docs.select(F.col(id_col), F.col(text_col)).join(
        groups.select(F.col("_rep").alias(id_col)), id_col, "left_semi"
    )

    # rep-level banded LSH — the pre-r15 math verbatim, over reps; the
    # shingle arrays and signatures run once (checkpointed inside the
    # shared core) instead of once per union branch / join side
    rep_pairs, sh = _md5_banded_verified(
        reps, id_col, shingle_n, num_hashes, bands, jaccard_threshold,
        text_col=text_col,
    )

    # expansion: rep pair (ra, rb) → every (member of ra's group,
    # member of rb's group) pair, globally oriented id_a < id_b (groups
    # are disjoint, so least/greatest can't collide with intra pairs)
    g_of = groups.select(F.col("_rep").alias("_rid"), F.col("_g"))
    cross = (
        rep_pairs.join(
            g_of.select(F.col("_rid").alias("id_a"), F.col("_g").alias("_ga")),
            "id_a",
        )
        .join(
            g_of.select(F.col("_rid").alias("id_b"), F.col("_g").alias("_gb")),
            "id_b",
        )
        .select("_ga", "_gb", "jaccard")
        .join(
            members.select(F.col("_g").alias("_ga"), F.col(id_col).alias("_xa")),
            "_ga",
        )
        .join(
            members.select(F.col("_g").alias("_gb"), F.col(id_col).alias("_xb")),
            "_gb",
        )
        .select(
            F.least("_xa", "_xb").alias("id_a"),
            F.greatest("_xa", "_xb").alias("id_b"),
            "jaccard",
        )
    )
    # intra-group pairs: exact duplicates, jaccard 1.0 by identity —
    # only for groups whose rep actually shingles (empty/NULL texts
    # never paired before the collapse either); the constant threshold
    # guard keeps the degenerate threshold > 1.0 case faithful
    intra = (
        sh.select(F.col(id_col).alias("_rid"))
        .join(g_of, "_rid")
        .join(
            groups.where(F.col("_m") >= 2).select("_g"),
            "_g",
        )
        .join(members.select("_g", F.col(id_col).alias("_xa")), "_g")
        .join(members.select("_g", F.col(id_col).alias("_xb")), "_g")
        .where(F.col("_xa") < F.col("_xb"))
        .where(F.lit(1.0) >= F.lit(jaccard_threshold))
        .select(
            F.col("_xa").alias("id_a"),
            F.col("_xb").alias("id_b"),
            F.round(F.lit(1.0), 6).alias("jaccard"),
        )
    )
    return cross.unionByName(intra)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash64(text: Column | str) -> Column:
    """64-bit SimHash over whitespace tokens (Charikar '02): per bit,
    majority vote of token-hash bits, weighted by token frequency.

    Pure expressions: O(64·T) per doc inside codegen. Empty → NULL.
    """
    toks = tokens(text)
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    # bit positions unrolled in Python (shift amounts must be literals);
    # still one codegen'd expression per doc, no Python at runtime

    def vote_at(bit: int):
        # factory keeps the merge lambda at exactly 2 args (pyspark
        # introspects lambda arity for higher-order functions)
        return lambda acc, h: acc + F.when(
            F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    sim = F.lit(0).cast("long")
    for i in range(64):
        vote = F.aggregate(hashes, F.lit(0).cast("long"), vote_at(i))
        sim = sim + F.when(
            vote > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
    return F.when(F.size(toks) > 0, sim)


def md5_long60(col: Column | str) -> Column:
    """First 60 bits of md5 as a non-negative long — the cross-engine hash
    for oracle-checkable paths: Spark ``conv(substr(md5, 1, 15), 16, 10)``
    ≡ DuckDB ``('0x' || substr(md5(x), 1, 15))::BIGINT`` (verified digit
    -identical; 15 hex chars = 60 bits < 2^63, so no sign wrap)."""
    return F.conv(F.substring(F.md5(_c(col).cast("binary")), 1, 15), 16, 10).cast(
        "long"
    )


def simhash_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 64,
    token_hash=None,
) -> DataFrame:
    """(id, simhash) via the scale shape: explode tokens → one groupBy with
    ``n_bits`` codegen'd conditional sums (bit votes) → assemble the hash.

    Equivalent to ``simhash64`` per row (token multiplicity weights votes
    identically) but runs ~10× faster on real corpora: the per-row variant
    evaluates 64 interpreted ``aggregate`` lambdas per document, this one
    shuffles compact (id, hash) pairs once and stays in codegen.

    ``token_hash`` defaults to ``xxhash64`` (production fast path); pass
    ``md5_long60`` with ``n_bits=60`` for the cross-engine-reproducible
    variant a SQL oracle can replay.
    """
    token_hash = token_hash or F.xxhash64
    exploded = docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("_t")
    ).select(F.col(id_col), token_hash("_t").alias("_h"))
    # r16 (VERDICT r15 #3): bit-PACKED vote aggregate — two 32-bit count
    # lanes per long instead of one ±1 conditional sum per bit. Long j
    # accumulates the per-doc ONES count of hash bit j in its low lane
    # and of bit j+32 in its high lane: each token contributes
    # ``shiftright(_h, j) & mask`` (mask = 1 | 1<<32, or just 1 when
    # bit j+32 doesn't exist) — branchless, one shift + one AND, where
    # the r15 form evaluated n_bits CASE WHENs per token. The agg state
    # and the map-side partial-aggregation shuffle bytes drop from
    # n_bits sums to ceil(min(n_bits,32)) + 1 columns (§2.3 fewer
    # shuffled bytes, §5 less agg state). Vote equivalence is exact
    # integer arithmetic: the old vote_i = Σ±1 = 2·ones_i − n, so
    # vote_i > 0 ⟺ 2·ones_i > n, with n = count(1) carried alongside.
    # Overflow is impossible by construction, no guard needed: a lane
    # holds a per-doc token count, and a Spark string caps at 2^31
    # bytes ⇒ < 2^31 whitespace tokens < 2^32 (and the long sum itself
    # peaks below (1 + 2^32)·2^31 < 2^63).
    n_longs = min(n_bits, 32)
    masks = [
        (1 | (1 << 32)) if j + 32 < n_bits else 1 for j in range(n_longs)
    ]
    votes = exploded.groupBy(id_col).agg(
        F.expr("count(1)").alias("_n"),
        *[
            F.expr(f"sum(shiftright(_h, {j}) & {masks[j]}L)").alias(f"_p{j}")
            for j in range(n_longs)
        ],
    )

    def _ones(i: int) -> str:
        if i < 32:
            return f"(_p{i} & 4294967295L)"
        return f"shiftright(_p{i - 32}, 32)"

    sim = F.expr(
        "CAST(0 AS BIGINT) + "
        + " + ".join(
            f"(CASE WHEN 2 * {_ones(i)} > _n "
            f"THEN shiftleft(CAST(1 AS BIGINT), {i}) "
            "ELSE CAST(0 AS BIGINT) END)"
            for i in range(n_bits)
        )
    )
    return votes.select(F.col(id_col), sim.alias("_sim"))


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 7,
    band_bits: int = 8,
    allow_recall_loss: bool = False,
    n_bits: int = 64,
    token_hash=None,
) -> DataFrame:
    """SimHash near-dup pairs: band the ``n_bits``-bit hash into
    ``band_bits``-bit chunks, bucket-join, verify with bit_count(xor).

    Recall contract (pigeonhole): with ``n_bands = n_bits // band_bits``
    bands, any pair within Hamming distance ``n_bands - 1`` must agree
    exactly on at least one band, so candidate generation has recall
    **1.0** for all pairs with hamming ≤ n_bands - 1. The defaults (8
    bands of 8 bits, max_hamming=7) keep the guarantee tight; asking for a
    ``max_hamming`` beyond the guaranteed radius raises unless
    ``allow_recall_loss=True`` (pairs at distance n_bands..max_hamming may
    then be silently missed). Verified against brute-force bit_count(xor)
    ground truth in tests/test_recall.py.

    ``n_bits=60, band_bits=10, token_hash=md5_long60`` gives the
    cross-engine variant (6 bands × 10 bits, guaranteed radius 5) whose
    whole computation a DuckDB oracle replays bit-for-bit.

    Returns (id_a, id_b, hamming ≤ max_hamming).
    """
    n_bands = n_bits // band_bits
    if max_hamming > n_bands - 1 and not allow_recall_loss:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the banding guarantee "
            f"(n_bands-1 = {n_bands - 1}); use more/smaller bands or pass "
            "allow_recall_loss=True to accept missed pairs in "
            f"[{n_bands}, {max_hamming}]"
        )
    with_sim = simhash_table(docs, id_col, text_col, n_bits, token_hash)
    mask = (1 << band_bits) - 1
    banded = with_sim.select(
        id_col,
        "_sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright("_sim", b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_hash"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("_band"),
    ).select(id_col, "_sim", F.col("_band.band_idx"), F.col("_band.band_hash"))
    # coalesce-proof fan-out below the compact band exchange — same r13
    # guard as candidate_pairs_from_buckets: pin the count on the ONE
    # shuffle both self-join sides reuse
    banded = banded.repartition(
        banded.sparkSession.sparkContext.defaultParallelism * 2,
        "band_idx",
        "band_hash",
    )
    a = banded.select(
        "band_idx", "band_hash", F.col(id_col).alias("id_a"), F.col("_sim").alias("_sim_a")
    )
    b = banded.select(
        "band_idx", "band_hash", F.col(id_col).alias("id_b"), F.col("_sim").alias("_sim_b")
    )
    return (
        a.join(b, ["band_idx", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("_sim_a").bitwiseXOR(F.col("_sim_b"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_pairs_bruteforce(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 7,
) -> DataFrame:
    """All-pairs ``bit_count(xor)`` ground truth for simhash_pairs — O(n²)
    cross join, for fixtures/recall audits only (the banded path is the
    scale shape). Same output schema: (id_a, id_b, hamming)."""
    with_sim = simhash_table(docs, id_col, text_col)
    a = with_sim.select(F.col(id_col).alias("id_a"), F.col("_sim").alias("_sim_a"))
    b = with_sim.select(F.col(id_col).alias("id_b"), F.col("_sim").alias("_sim_b"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("_sim_a").bitwiseXOR(F.col("_sim_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Cosine similarity / ANN
# ---------------------------------------------------------------------------


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic order → reproducible)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def int8_quantize(vec: Column) -> tuple[Column, Column]:
    """Symmetric int8 quantization of a float vector: ``scale =
    max(|x|)/127``; ``q_i = floor(x_i/scale + 0.5)`` (half-up spelled out
    as floor(+0.5) so Spark and any oracle engine round identically —
    built-in round() differs between HALF_UP and HALF_EVEN across
    engines). All-zero vectors quantize to zeros with scale 0.

    Returns ``(quantized int array, scale)``. Narrow per-row HOF — no
    shuffle; the interpreted-lambda cost is ~dim ops/row, which is the
    floor for any per-element transform that keeps array shape (the
    explode→groupBy rewrite used for minhash trades it for 2 shuffles,
    a loss here because nothing aggregates across rows).
    """
    maxabs = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    scale = maxabs / F.lit(127.0)
    q = F.when(maxabs == 0, F.transform(vec, lambda x: F.lit(0))).otherwise(
        F.transform(
            vec, lambda x: F.floor(x.cast("double") / scale + F.lit(0.5)).cast("int")
        )
    )
    return q, scale


def brute_force_topk(
    vectors: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k against a literal query vector.

    One narrow scan + a global top-k (Spark's TakeOrderedAndProject —
    per-partition heaps then a k-row merge on the driver; no full sort,
    no shuffle of the corpus). The correctness baseline for ANN variants.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        vectors.select(
            F.col(id_col), F.round(cosine(F.col(vec_col), q), 6).alias("cosine_sim")
        )
        .orderBy(F.desc("cosine_sim"), F.col(id_col))
        .limit(k)
    )


def _plane_dots(vec: Column, planes: list[list[float]]) -> Column:
    """Array of dot(vec, plane_i) for ALL planes via one literal plane
    matrix and one shared lambda. The k-separate-folds spelling rebuilt an
    aggregate tree per plane (~30k expression nodes — seconds of
    driver-side analysis per query, the SCALE.md r3 rule); this is ~10×
    smaller and measured 5× faster end-to-end with bitwise-identical
    values (same per-plane sequential fold)."""
    mat = F.array(*[F.array(*[F.lit(x) for x in pl]) for pl in planes])
    return F.transform(
        mat,
        lambda pl: F.aggregate(
            F.zip_with(vec, pl, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda a, v: a + v,
        ),
    )


def _plane_dots_arrow(vec: Column, planes: list[list[float]]) -> Column:
    """Arrow-batched twin of ``_plane_dots``: the per-row work is a dense
    (dim × n_planes) matrix product — exactly the workload vectorized
    NumPy exists for. The interpreted HOF fold costs ~600 ns per
    multiply-add (measured: 5.6 s for 2k rows × 128 planes × 64 dims);
    this kernel does the same arithmetic in ~50 ms.

    BITWISE PARITY with the sequential fold (which the DuckDB oracle
    twins replay) is preserved by summing with ``np.cumsum`` over the
    dim axis — cumsum performs the same left-to-right adds with the same
    per-step rounding as the fold, unlike ``dot``/``matmul`` whose
    pairwise/SIMD summation can differ in the last ulp and flip a
    near-zero sign. Products are chunked (~2M doubles) to bound the
    (rows × planes × dim) intermediate."""
    import numpy as np
    import pandas as pd

    mat = np.asarray(planes, dtype=np.float64)
    n_planes, dim = mat.shape
    chunk_rows = max(1, int(2_000_000 / (n_planes * dim)))

    # no inline type hints: the module's `from __future__ import
    # annotations` defers them to strings that can't resolve (pd is a
    # function-local import), which pandas_udf's hint parser rejects
    def _dots_kernel(s):
        vals = s.to_numpy()
        out: list = []
        for i in range(0, len(vals), chunk_rows):
            v = np.asarray(
                [np.asarray(x, dtype=np.float64) for x in vals[i : i + chunk_rows]]
            )
            if v.size == 0:
                continue
            prod = v[:, None, :] * mat[None, :, :]
            out.extend(np.cumsum(prod, axis=2)[:, :, -1].tolist())
        return pd.Series(out, dtype=object)

    _dots_kernel.__annotations__ = {"s": pd.Series, "return": pd.Series}
    dots = F.pandas_udf(_dots_kernel, "array<double>")
    return dots(vec)


def lsh_plane_ints(seed: int, table: int, p: int, dim: int) -> list[int]:
    # deterministic pseudo-random plane from integer tuple hashing (Python
    # hash of int tuples is PYTHONHASHSEED-independent — reproducible).
    # Kept as raw 16-bit ints so the SQL oracle twin (plans/ann_sql.py) can
    # embed them as short literals and reproduce the same doubles via
    # k/65535.0 - 0.5 (two IEEE ops, bitwise identical across engines).
    return [hash((seed, table, p, d)) & 0xFFFF for d in range(dim)]


def _lsh_plane(seed: int, table: int, p: int, dim: int) -> list[float]:
    return [(k / 0xFFFF) - 0.5 for k in lsh_plane_ints(seed, table, p, dim)]


def lsh_bucketed_topk(
    vectors: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    num_tables: int = 8,
    num_planes: int = 8,
    max_probe_distance: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH (LSH forest,
    sign-random-projection; Charikar '02, Indyk-Motwani '98 AND-OR
    amplification).

    Index side: per table, each vector → ``num_planes``-bit signature (one
    int). Query side: per table, probe the query's bucket plus all buckets
    within Hamming distance ``max_probe_distance`` (multi-probe), union the
    per-table candidate sets, dedup, exact-rank the survivors. A single
    b-bit table has per-neighbor hit probability p_match^b, which collapses
    for moderate-similarity neighbors; OR-ing L independent tables lifts it
    to 1-(1-p_match^b)^L — the standard recall amplification. Measured
    recall floor is pinned in tests/test_recall.py via ann_lsh_recall.

    Scale shape: each per-table probe is a filter on a precomputable
    signature column — at 100 TB each table is its own bucketed/partitioned
    index and the union is L partition-pruned scans (bodies fetched once
    after dedup), never a full-corpus scan per query.

    Deterministic planes derive from hash((seed, table, plane, dim)) — no
    RNG state, reproducible across runs/engines. The query-side signature
    is a sequential Python fold (same IEEE op order as the engine-side
    ``dot`` and the SQL oracle twin), so all three agree bitwise.

    ONE corpus scan: all L table signatures are computed in a single
    projection and the per-table probes become one OR filter
    (``bit_count(sig_t ^ qsig_t) <= r`` ≡ membership in the radius-r
    Hamming ball the probe set enumerates). The earlier spelling unioned
    L filtered scans + a dropDuplicates shuffle — L× the read and an
    avoidable exchange. At 100 TB with precomputed signature columns this
    is one partition-pruned scan per query.
    """
    dim = len(query_vec)
    qf = [float(x) for x in query_vec]
    q = F.array(*[F.lit(x) for x in qf])

    all_planes = [
        _lsh_plane(seed, t, p, dim)
        for t in range(num_tables)
        for p in range(num_planes)
    ]
    with_dots = vectors.withColumn(
        "_dots", _plane_dots_arrow(F.col(vec_col), all_planes)
    )
    sig_cols = []
    probe_cond = None
    for t in range(num_tables):
        sig = F.lit(0)
        qsig = 0
        for p in range(num_planes):
            sig = sig + F.when(
                F.col("_dots")[t * num_planes + p] >= 0, F.lit(1 << p)
            ).otherwise(F.lit(0))
            acc = 0.0
            for a, b in zip(qf, all_planes[t * num_planes + p]):
                acc += a * b
            if acc >= 0:
                qsig |= 1 << p
        sig_cols.append(sig.alias(f"_sig{t}"))
        cond = (
            F.bit_count(F.col(f"_sig{t}").bitwiseXOR(F.lit(qsig)))
            <= max_probe_distance
        )
        probe_cond = cond if probe_cond is None else probe_cond | cond

    return (
        with_dots.select(id_col, vec_col, *sig_cols)
        .where(probe_cond)
        .select(
            F.col(id_col), F.round(cosine(F.col(vec_col), q), 6).alias("cosine_sim")
        )
        .orderBy(F.desc("cosine_sim"), F.col(id_col))
        .limit(k)
    )


def _table_sig_explode(num_tables: int) -> Column:
    """``explode(array(named_struct('t', i, 'sig', _sigi), ...))`` over a
    ``_lsh_sig_frame`` output — one parsed expression (r15 opt, same
    tree as the per-table ``F.struct`` loop it replaced; guide §5
    driver overhead). Shared by the self-join and cross-dataset paths."""
    return F.expr(
        "explode(array("
        + ", ".join(
            f"named_struct('t', {t}, 'sig', _sig{t})" for t in range(num_tables)
        )
        + "))"
    )


def _hamming_ball_explode(sig_name: str, num_planes: int) -> Column:
    """``explode(array(sig, sig ^ 1, sig ^ 2, ...))`` — the Hamming-≤1
    ball of a packed signature addressed by name, as one parsed
    expression (r15 opt, same tree as the ``bitwiseXOR`` loop). Name
    backtick-quoted per segment like ``lsh_bands`` (ADVICE r15)."""
    quoted = _quote_ident(sig_name)
    return F.expr(
        f"explode(array({quoted}, "
        + ", ".join(f"{quoted} ^ {1 << p}" for p in range(num_planes))
        + "))"
    )


def _lsh_sig_frame(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    num_tables: int,
    num_planes: int,
    seed: int,
    dim: int,
) -> DataFrame:
    """(id, vec, _sig0.._sig{L-1}): the per-table hyperplane signatures —
    one Arrow-batched plane-dot kernel over ALL tables' planes, then L
    codegen'd bit-pack expressions. Shared by the self-join near-dup pair
    generation (``lsh_neardup_pairs``) and the cross-dataset probe
    (``lsh_cross_hits``) so the two paths can never drift."""
    all_planes = [
        _lsh_plane(seed, t, p, dim)
        for t in range(num_tables)
        for p in range(num_planes)
    ]
    with_dots = vectors.withColumn(
        "_dots", _plane_dots_arrow(F.col(vec_col), all_planes)
    )
    # r15 opt: one parsed SQL expression per table — the
    # tables×planes ``F.when`` bit-pack loop was ~0.6 s of py4j round
    # trips per construction per side (measured on lsh_cross_hits,
    # which builds TWO of these frames inside the bench's timed
    # region), identical expression tree (guide §5 driver overhead).
    sig_cols = [
        F.expr(
            "0 + "
            + " + ".join(
                f"(CASE WHEN _dots[{t * num_planes + p}] >= 0 "
                f"THEN {1 << p} ELSE 0 END)"
                for p in range(num_planes)
            )
        ).alias(f"_sig{t}")
        for t in range(num_tables)
    ]
    return with_dots.select(id_col, vec_col, *sig_cols)


def lsh_neardup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_tables: int = 8,
    num_planes: int = 16,
    pair_hamming: int = 1,
    seed: int = 42,
    max_bucket_size: int = 1000,
    min_cosine: float | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs via hyperplane-LSH buckets — the
    SCALE path for what ``dedup_embedding_cosine``'s bounded exact twin
    demonstrates: O(corpus + candidate pairs), never an all-pairs join.

    Per table, each vector gets a ``num_planes``-bit signature; a pair is
    a candidate iff its signatures agree within ``pair_hamming`` bits in
    ANY table (realized as a bucket join: one side explodes the Hamming
    ball of its signature — (bits choose ≤ r) variants — and joins the
    other side's exact signature, so no pairwise comparison happens).
    Candidates are verified with exact cosine. Returns
    (id_a, id_b, cosine_sim), optionally thresholded.

    Recall: per table P(hamming ≤ 1) = (1-θ/π)^b + b(θ/π)(1-θ/π)^(b-1);
    OR over L tables. Defaults are 16 planes × 8 tables (r6: widened from
    8 planes — at 8 bits a near-uniform corpus put ~33% of ALL pairs into
    shared buckets, 664k candidates from 2k vectors; at 16 bits the random
    collision rate drops ~150× while true near-dups still hit: miss ≈
    2e-17 per pair at cosine 0.999, ≈3e-3 at cosine 0.95). Pinned by a
    planted-duplicate test in tests/test_recall.py. Same determinism contract as the ANN family —
    the DuckDB oracle replays signatures and the Hamming condition
    pairwise (equivalent by construction).

    ``max_bucket_size`` is a THROUGHPUT TRIAGE on the pair-list
    contract, not a correctness knob: a (table, signature) bucket
    larger than the cap is dropped from candidate generation, which at
    crawl scale silently skips exactly the boilerplate floods dedup
    exists for — unavoidable under this contract, because a flood
    bucket's pair list is inherently quadratic in its size. A pipeline
    that wants flood-safe dedup consumes the COMPONENTS contract
    instead (plans: ``emb_neardup_components`` — exact-vector collapse
    bounds every bucket to distinct-vector variety and attaches floods
    as linear star edges; same closure, no intra-flood pair ever
    materialized).
    """
    if pair_hamming > 1:
        raise ValueError("pair_hamming > 1 not implemented (ball explode grows fast)")
    dim = len_planes_dim(vectors, vec_col)
    with_sigs = _lsh_sig_frame(
        vectors, id_col, vec_col, num_tables, num_planes, seed, dim
    )

    bucketed = with_sigs.select(
        F.col(id_col),
        _table_sig_explode(num_tables).alias("_b"),
    ).select(id_col, F.col("_b.t"), F.col("_b.sig"))
    # cap degenerate buckets (same contract as candidate_pairs_from_buckets)
    sized = bucketed.withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy("t", "sig"))
    ).where(F.col("_n") <= max_bucket_size)
    # materialize once: `sized` feeds BOTH sides of the bucket self-join,
    # and without a cut the whole 128-dot signature pipeline is computed
    # twice (measured 2× the dominant stage). The checkpointed frame is
    # (id, table, sig) triples — tiny at any corpus scale. r16: lazy
    # (eager=False) — one DAG, no job barrier between the signature rail
    # and the bucket join's first stage; the blocks still materialize
    # exactly once (first computing job caches them), the same
    # conversion that paid ~0.7-0.9 s/row on phash_pairs in r15 (§2d).
    sized = sized.localCheckpoint(eager=False)
    # the checkpoint's blocks outlive this call by design (the returned
    # pair plan reads them lazily) — register them so bench/checker
    # sessions reclaim the storage between evaluations (r13 GC finding)
    from extract_permits_spark.session import register_scratch_checkpoint

    register_scratch_checkpoint(sized)
    # Coalesce-proof fan-out (r13, the r6 AQE finding): the checkpointed
    # triples are tiny, so the bucket join's exchanges byte-coalesce to a
    # few partitions and the ball explode + per-bucket pair fan-out run
    # on a few cores. Pin the partition count on both join sides — these
    # exchanges existed anyway (the checkpoint hides the window's
    # partitioning from Catalyst); only the count is forced.
    _np = sized.sparkSession.sparkContext.defaultParallelism * 2
    sized = sized.repartition(_np, "t", "sig")
    # probe side: the Hamming-≤1 ball of each signature (1 + num_planes
    # variants) — joining variant == exact sig realizes |sig_a ^ sig_b| ≤ 1
    variants = sized.select(
        F.col(id_col).alias("id_a"),
        "t",
        _hamming_ball_explode("sig", num_planes).alias("sig"),
    )
    cand = (
        variants.repartition(_np, "t", "sig")
        .join(
            sized.select(F.col(id_col).alias("id_b"), "t", "sig"), ["t", "sig"]
        )
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # verification: norms are per-VECTOR quantities — compute them once on
    # the corpus side and join them alongside the vectors, so each pair
    # pays one dot fold instead of three (dot + 2 norms); value-identical
    # to cosine() since the same sqrt(Σv²) subexpression just moves from
    # per-pair to per-vector (measured 2.1 s → 1.0 s at sf0.1)
    nv = vectors.select(
        F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("_nrm")
    )
    a = nv.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"), F.col("_nrm").alias("_na")
    )
    b = nv.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"), F.col("_nrm").alias("_nb")
    )
    out = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6
            ).alias("cosine_sim"),
        )
    )
    if min_cosine is not None:
        out = out.where(F.col("cosine_sim") >= min_cosine)
    return out


def len_planes_dim(vectors: DataFrame, vec_col: str) -> int:
    """Vector dimensionality from the schema when declared, else from one
    bounded head probe (the planes need a concrete dim)."""
    row = vectors.select(F.size(F.col(vec_col)).alias("d")).head()
    return int(row["d"])


def lsh_cross_hits(
    probe: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_tables: int = 8,
    num_planes: int = 16,
    seed: int = 42,
    min_cosine: float = 0.8,
    max_bucket_size: int | None = None,
    salt_shards: int = 8,
) -> DataFrame:
    """Cross-dataset embedding near-dup probe — SEMANTIC decontamination:
    for every corpus (training) vector, count the probe (eval) vectors
    that are LSH candidates at Hamming ≤ 1 in any table AND verify at
    cosine ≥ ``min_cosine``. Returns (id, n_hits, is_contaminated) for
    EVERY corpus row — the embedding-space twin of the n-gram
    ``corpus.contamination_hits`` gate, catching paraphrased eval leakage
    the exact n-gram match cannot.

    Scale shape: the PROBE side (eval suites — always the small side)
    explodes the Hamming-1 ball of its signatures (1+num_planes variants
    per table) and equi-joins the corpus's exact signatures, so the
    corpus is never self-joined and no pairwise comparison happens.
    Candidates dedup to (corpus, probe) pairs before the one cosine fold
    per pair. Signatures come from the same ``_lsh_sig_frame`` as
    ``lsh_neardup_pairs`` — the batch dedup and the decontamination gate
    can never drift.

    ``max_bucket_size`` defaults to None — UNCAPPED: a decontamination
    gate that silently drops oversized corpus buckets skips exactly the
    degenerate (near-identical) vectors most likely to be leaked eval
    content, and a cap computed over "the corpus" diverges between the
    batch path (full training split) and a per-micro-batch stream, which
    would break the stream ≡ batch equivalence the ingest gate relies
    on. Uncapped, per-vector decisions depend on nothing but the static
    probe side, so the equivalence is unconditional and the pairwise
    oracle is exact at any scale. A degenerate bucket costs candidates
    proportional to its size × the (small) probe side — pass an explicit
    cap only for throughput triage, never on a correctness gate.

    ``salt_shards`` bounds the uncapped gate's hot-bucket skew (r11
    VERDICT #2) without dropping a single row: a degenerate corpus
    bucket (millions of near-identical boilerplate embeddings landing
    in one ``(t, sig)`` key) would otherwise concentrate the candidate
    join's entire fan-in on one reducer task. The corpus side refines
    the join key with ``_salt = xxhash64(id) % salt_shards`` and the
    probe side replicates each Hamming-ball variant across ALL shards,
    so every (corpus, probe) candidate pair survives exactly once —
    a pure key refinement, result-identical for any shard count (the
    planted-degenerate-bucket test pins this), while the hot bucket's
    per-task fan-in divides by ``salt_shards``. The replication cost
    lands only on the probe side — the small side by contract — and is
    a constant factor on it, vs. the corpus-proportional cost of a
    second sizing pass or a checkpoint (the alternative designs). Salt
    derives from the static row id, so streaming micro-batches salt
    identically to the batch path: stream ≡ batch is untouched.

    The plane dimensionality comes from the PROBE side — the static,
    usually-non-empty eval suite — so an empty corpus micro-batch cannot
    poison the dim probe (head() on an empty frame has no row); an empty
    probe falls back to the corpus, and with BOTH sides empty the gate
    stays total (every corpus row — none — scored clean)."""
    dim_row = (
        probe.select(F.size(F.col(vec_col)).alias("d")).head()
        or corpus.select(F.size(F.col(vec_col)).alias("d")).head()
    )
    if dim_row is None:
        return corpus.select(
            id_col,
            F.lit(0).cast("long").alias("n_hits"),
            F.lit(False).alias("is_contaminated"),
        )
    dim = int(dim_row["d"])
    # exact-duplicate collapse BEFORE the banded probe (r14; the r12d
    # components medicine applied here): a crawl flood of k_c corpus
    # copies × k_p probe copies of one embedding would materialize
    # k_c·k_p candidate pairs per original — quadratic in flood size —
    # yet every copy's answer is a pure function of its embedding.
    # Collapse each side to one representative per DISTINCT embedding
    # (probe side keeps its multiplicity), run the probe at rep level,
    # and expand the per-rep hit count back to corpus copies by an
    # embedding equi-join at the end. Values are identical by
    # construction (exact equality ⇒ identical signatures and cosines;
    # n_hits per corpus row = Σ multiplicities of verified probe reps;
    # max_bucket_size weighs each rep by its duplicate count, so bucket
    # sizes equal the pre-collapse row counts — r15 fix, see below),
    # so the pairwise oracle and the stream ≡ batch gate are untouched
    # (corpus collapse is batch-local; probe is the static side).
    # Measured: the 100×-flood probe (SCALE.md r14-s2) ran 183-243 s
    # uncollapsed at 200k vectors and the collapsed path restores
    # near-linear scaling; no-dup corpora pay two narrow group-bys.
    c_reps = corpus.groupBy(F.col(vec_col).alias(vec_col)).agg(
        F.min(F.col(id_col)).alias(id_col),
        F.count(F.lit(1)).cast("long").alias("_ccnt"),
    )
    p_reps = probe.groupBy(F.col(vec_col).alias(vec_col)).agg(
        F.min(F.col(id_col)).alias(id_col),
        F.count(F.lit(1)).cast("long").alias("_pcnt"),
    )
    csig = _lsh_sig_frame(
        c_reps, id_col, vec_col, num_tables, num_planes, seed, dim
    )
    psig = _lsh_sig_frame(
        p_reps, id_col, vec_col, num_tables, num_planes, seed, dim
    )
    c_bucketed = csig.select(
        F.col(id_col),
        _table_sig_explode(num_tables).alias("_b"),
    ).select(F.col(id_col).alias("_cid"), F.col("_b.t"), F.col("_b.sig"))
    if max_bucket_size is None:
        sized = c_bucketed
    else:
        # bucket size = EXPANDED multiplicity (r14 ADVICE low): each rep
        # stands for _ccnt identical corpus rows, so the cap must weigh
        # reps by their duplicate counts — a bucket of N copies of one
        # embedding is still a size-N bucket (dropped when N > cap),
        # exactly as the pre-collapse code sized it. Count-only sizing
        # would let any exact-duplicate flood slip under the cap as one
        # rep, changing n_hits for cap-passing callers.
        sized = (
            c_bucketed.join(
                c_reps.select(F.col(id_col).alias("_cid"), "_ccnt"), "_cid"
            )
            .withColumn(
                "_n", F.sum("_ccnt").over(Window.partitionBy("t", "sig"))
            )
            .where(F.col("_n") <= max_bucket_size)
            .drop("_n", "_ccnt")
        )
    join_keys = ["t", "sig"]
    if salt_shards > 1:
        # hot-bucket bound (see docstring): refine the join key so a
        # degenerate (t, sig) bucket's fan-in spreads over salt_shards
        # reducer keys; the probe replication below makes it lossless
        sized = sized.withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col("_cid")), F.lit(salt_shards)).cast("int"),
        )
        join_keys = ["t", "sig", "_salt"]
    # probe side explodes the Hamming-≤1 ball: variant == exact corpus sig
    # realizes |sig_c ^ sig_p| ≤ 1 without any pairwise scan
    p_variants = psig.select(
        F.col(id_col).alias("_pid"),
        _table_sig_explode(num_tables).alias("_b"),
    ).select(
        "_pid",
        F.col("_b.t"),
        _hamming_ball_explode("_b.sig", num_planes).alias("sig"),
    )
    if salt_shards > 1:
        # replicate each probe variant across every salt shard — the
        # corpus row's shard is among them, so no candidate is lost; the
        # constant-factor blowup is on the SMALL (eval) side only
        p_variants = p_variants.withColumn(
            "_salt",
            F.explode(F.array(*[F.lit(i) for i in range(salt_shards)])),
        )
    cand = (
        p_variants.join(sized, join_keys)
        .select("_cid", "_pid")
        .distinct()
    )
    nv_c = c_reps.select(
        F.col(id_col).alias("_cid"),
        F.col(vec_col).alias("_vc"),
        l2_norm(F.col(vec_col)).alias("_nc"),
    )
    nv_p = p_reps.select(
        F.col(id_col).alias("_pid"),
        F.col("_pcnt"),
        F.col(vec_col).alias("_vp"),
        l2_norm(F.col(vec_col)).alias("_np"),
    )
    hits = (
        cand.join(nv_c, "_cid")
        .join(nv_p, "_pid")
        .where(
            F.round(
                dot(F.col("_vc"), F.col("_vp")) / (F.col("_nc") * F.col("_np")),
                6,
            )
            >= F.lit(min_cosine)
        )
        # each verified probe REP stands for _pcnt probe vectors, all at
        # the identical cosine — summing multiplicities IS the pairwise
        # count
        .groupBy("_cid")
        .agg(F.sum("_pcnt").alias("_nh"))
    )
    # expand rep-level results to every corpus copy: rep id -> its
    # embedding, then an embedding equi-join back to the corpus (exact
    # binary equality — both sides read the same stored values)
    rep_hits = nv_c.join(hits, "_cid").select(
        F.col("_vc").alias("_v_exp"), F.col("_nh")
    )
    return (
        corpus.select(id_col, F.col(vec_col).alias("_v_exp"))
        .join(rep_hits, "_v_exp", "left")
        .select(
            id_col,
            F.coalesce(F.col("_nh"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("_nh"), F.lit(0)) > 0).alias("is_contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path, with a
# deterministic Lloyd k-means centroid fit that a SQL oracle can replay.
#
# Cross-engine determinism rules (shared with plans/ann_sql.py, which
# generates the DuckDB twin of this exact computation):
# - vectors are unit-normalized and each coordinate rounded half-up to 9
#   decimals (``floor(x*1e9 + 0.5)/1e9`` — floor-spelled so HALF_UP vs
#   HALF_EVEN engine differences can't bite);
# - init centroids = the k vectors with smallest (md5(id), id) — the
#   engine-agnostic deterministic sample;
# - each Lloyd round assigns by squared-L2 argmin (ties → lowest cluster
#   id) and recomputes per-dimension means rounded half-up to 6 decimals
#   (re-quantizing each round keeps float summation-order drift between
#   engines from compounding);
# - empty clusters keep their previous centroid.
# ---------------------------------------------------------------------------


def _round_half_up(col: Column, decimals: int) -> Column:
    f = float(10**decimals)
    return F.floor(col * F.lit(f) + F.lit(0.5)) / F.lit(f)


def _py_round_half_up(v: float, decimals: int) -> float:
    import math

    f = float(10**decimals)
    return math.floor(v * f + 0.5) / f


def unit_normalized(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, e) with e = unit-normalized double coords rounded to 9 dp —
    the canonical representation the k-means fit and its SQL twin share."""
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, v: a + v * v))
    return vectors.select(
        F.col(id_col),
        F.transform(vec, lambda x: _round_half_up(x / norm, 9)).alias("e"),
    )


def _nearest_by_l2(vec: Column, centroids: list[list[float]]) -> Column:
    """Argmin of squared-L2 distance to literal centroids (ties → lowest
    cluster id) — k fused distance expressions inside codegen; no shuffle,
    no UDF.

    Shape matters twice over: the distances come from ONE literal
    centroid matrix and one shared lambda (not one fold tree per
    centroid), and the argmin is ``array_position(d, array_min(d)) - 1``
    (first match ⇒ lowest cluster id on ties, same rule as the SQL twin's
    ``ORDER BY dist, cid``). The earlier least()+when-chain spelling
    duplicated every distance subtree O(k) times — a ~140k-node expression
    tree that cost ~20s of driver-side analysis per query. Values are
    bitwise-unchanged (same per-centroid sequential (x-y)² fold). The
    matrix is ONE nested-list F.lit — one py4j call instead of k×d
    per-element calls, which dominated per-query plan-build time (r9)."""
    mat = F.lit([[float(x) for x in c] for c in centroids])
    d_arr = F.transform(
        mat,
        lambda c: F.aggregate(
            F.zip_with(vec, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda a, v: a + v,
        ),
    )
    return (F.array_position(d_arr, F.array_min(d_arr)) - 1).cast("int")


def _argmin_l2_arrow(centroids: list[list[float]]) -> Column:
    """Arrow-batched twin of ``_nearest_by_l2`` over an already-normalized
    ``array<double>`` column — the assignment hot map for the IVF/SemDeDup/
    prototypicality family. k×dim = 1,024 multiply-adds per row is past
    the interpreted-HOF break-even (the SCALE.md rule pinned by the IVFADC
    kernel: ~0.8 ms/row interpreted vs ~1 µs/row vectorized; the argmin
    spelling also evaluates the distance array twice). Bitwise parity:
    ``pq._fold_dists_np`` does the same left-to-right adds as the
    sequential fold, and ``np.argmin`` takes the first minimum — the same
    ties→lowest-cid rule as ``array_position(d, array_min(d))``."""
    import numpy as np
    import pandas as pd

    from extract_permits_spark.functions.pq import _fold_dists_np

    cent = np.asarray(centroids, dtype=np.float64)

    def _kernel(s):
        vals = s.to_numpy()
        if len(vals) == 0:
            return pd.Series([], dtype="int32")
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in vals])
        return pd.Series(
            np.argmin(_fold_dists_np(np, x, cent), axis=1).astype("int32")
        )

    _kernel.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return F.pandas_udf(_kernel, "int")


def kmeans_fit(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    rounds: int = 3,
) -> list[list[float]]:
    """Deterministic Lloyd k-means over unit-normalized vectors; returns k
    centroids (each coord rounded to 6 dp). ``rounds=0`` degenerates to the
    md5-ordered deterministic sample (IVF-flat init).

    Driver-side state is k centroid rows per round (bounded — never the
    corpus); each round is one codegen'd assignment + one groupBy of d
    avg() aggregates. At 100 TB you fit on a sample (vectors.sample) and
    the shape is unchanged.
    """
    n = unit_normalized(vectors, id_col, vec_col)
    init_rows = (
        n.orderBy(F.md5(F.col(id_col).cast("string").cast("binary")), F.col(id_col))
        .limit(k)
        .collect()
    )
    cents = [[float(x) for x in r["e"]] for r in init_rows]
    dim = len(cents[0])
    for _ in range(rounds):
        assigned = n.select(
            _argmin_l2_arrow(cents)(F.col("e")).alias("_cid"), "e"
        )
        # per-dimension means via posexplode + one narrow (cid, pos)
        # groupBy — compiles much faster than a 64-column avg aggregate
        # and rounds to the same 6-dp centroids (verified identical)
        means = (
            assigned.select("_cid", F.posexplode("e").alias("_pos", "_x"))
            .groupBy("_cid", "_pos")
            .agg(F.avg("_x").alias("_m"))
            .collect()
        )
        new: dict[int, list[float]] = {}
        for r in means:
            cid = int(r["_cid"])
            if cid not in new:
                new[cid] = [0.0] * dim
            new[cid][int(r["_pos"])] = _py_round_half_up(float(r["_m"]), 6)
        cents = [new.get(i, cents[i]) for i in range(k)]
    return cents


def semdedup_flags(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_clusters: int = 16,
    rounds: int = 3,
    threshold: float = 0.35,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    clustering first, comparing only within clusters.

    1. deterministic Lloyd k-means over unit-normalized vectors
       (``kmeans_fit`` — bounded driver state, centroids broadcast as
       literals);
    2. nearest-centroid assignment as one codegen'd argmin — no shuffle;
    3. pairwise cosine ONLY within a cluster via an equi-join on
       ``cluster_id`` (a hash shuffle on the cluster key — never an
       all-pairs product);
    4. greedy keep-lowest-id: a vector is a semantic duplicate iff some
       lower-id vector in its cluster has cosine ≥ threshold.

    Returns (id, cluster_id, is_semdup) for every input vector.

    Scale: the paper sizes k ∝ n/⟨cluster⟩, which bounds within-cluster
    pairwise work to n·⟨cluster⟩ comparisons regardless of corpus size; at
    100 TB the fit runs on a sample and the assignment/join shape is
    unchanged. Cosine over unit vectors is a plain dot product, so the
    join's fold expression stays inside whole-stage codegen.
    """
    if centroids is None:
        centroids = kmeans_fit(vectors, id_col, vec_col, num_clusters, rounds)
    n = unit_normalized(vectors, id_col, vec_col)
    assigned = n.select(
        F.col(id_col),
        _argmin_l2_arrow(centroids)(F.col("e")).alias("cluster_id"),
        "e",
    )
    a = assigned.select(
        F.col(id_col).alias("_id_a"), "cluster_id", F.col("e").alias("_ea")
    )
    b = assigned.select(
        F.col(id_col).alias("_id_b"), "cluster_id", F.col("e").alias("_eb")
    )
    dropped = (
        a.join(b, "cluster_id")
        .where(F.col("_id_a") < F.col("_id_b"))
        .where(dot(F.col("_ea"), F.col("_eb")) >= F.lit(threshold))
        .select(F.col("_id_b").alias(id_col))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return (
        assigned.join(dropped, id_col, "left")
        .select(
            id_col,
            "cluster_id",
            F.coalesce(F.col("_dup"), F.lit(False)).alias("is_semdup"),
        )
    )


def prototypicality_flags(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_clusters: int = 16,
    rounds: int = 3,
    prune_frac: float = 0.1,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """The SSL-prototypes half of D4 (Tirumala et al. 2023,
    arXiv:2308.12284): score every vector by cosine to its OWN cluster
    centroid and flag the top ``prune_frac`` most prototypical per
    cluster for pruning — the most-redundant region of each semantic
    neighbourhood, complementing ``semdedup_flags`` (which removes
    pairwise near-dups). Together they are the D4 recipe.

    Shape: centroid lookup is ``element_at`` into the literal centroid
    matrix by cluster id (zero-shuffle codegen); the rank is one window
    shuffle on cluster_id. Returns (id, cluster_id, proto_sim,
    is_pruned)."""
    if centroids is None:
        centroids = kmeans_fit(vectors, id_col, vec_col, num_clusters, rounds)
    n = unit_normalized(vectors, id_col, vec_col)
    mat = F.array(*[F.array(*[F.lit(x) for x in c]) for c in centroids])
    cid = _argmin_l2_arrow(centroids)(F.col("e"))
    cvec = F.element_at(mat, F.col("cluster_id") + 1)
    scored = n.select(
        F.col(id_col), cid.alias("cluster_id"), "e"
    ).select(
        id_col,
        "cluster_id",
        (dot(F.col("e"), cvec) / F.sqrt(dot(cvec, cvec))).alias("_sim"),
    )
    w = Window.partitionBy("cluster_id").orderBy(F.col("_sim").desc(), id_col)
    wc = Window.partitionBy("cluster_id")
    return scored.select(
        id_col,
        "cluster_id",
        F.round("_sim", 6).alias("proto_sim"),
        (
            F.row_number().over(w)
            <= F.ceil(F.lit(prune_frac) * F.count(F.lit(1)).over(wc))
        ).alias("is_pruned"),
    )


def ivf_index(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_clusters: int = 16,
    rounds: int = 3,
    centroids: list[list[float]] | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """Assign every vector to its nearest k-means centroid. At 100 TB the
    ``cluster_id`` column is written once (partitioned/bucketed by it) and
    every query prunes to its probed clusters' files.

    Pass prefit ``centroids`` to skip the (deterministic) Lloyd fit —
    callers that serve many queries cache the fit once."""
    if centroids is None:
        centroids = kmeans_fit(vectors, id_col, vec_col, num_clusters, rounds)
    n = unit_normalized(vectors, id_col, vec_col)
    indexed = n.select(
        F.col(id_col),
        _argmin_l2_arrow(centroids)(F.col("e")).alias("cluster_id"),
    ).join(vectors, id_col)
    return indexed, centroids


def write_ivf_index(
    indexed: DataFrame, path: str, id_col: str = "vec_id"
) -> None:
    """Persist an IVF index partitioned by ``cluster_id`` — the write-once
    side of the IVF contract: every later query filters on its probed
    clusters and the parquet source prunes whole partition directories
    (PartitionFilters in the scan, asserted in tests/test_plan_quality.py).
    At 100 TB this is the difference between reading num_probes/num_clusters
    of the corpus and reading all of it.

    The rows are clustered on cluster_id before the write so each
    partition directory holds one file per shuffle partition owning that
    cluster, not one per upstream task × cluster — the small-files
    penalty measured on the IVFPQ twin (tools/probe_ivfpq.py: 2.6 s →
    0.56 s per query). Unlike the codes-only IVFPQ index this shuffle
    moves the vectors — the one-time price of the exact-vector layout."""
    indexed.repartition(F.col("cluster_id")).write.mode("overwrite").partitionBy(
        "cluster_id"
    ).parquet(path)


def ivf_topk_from_index(
    spark,
    path: str,
    centroids: list[list[float]],
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    num_probes: int = 6,
) -> DataFrame:
    """Query a persisted IVF index: rank centroids driver-side (k·dim
    floats — bounded), read ONLY the probed cluster partitions, exact
    top-k within them. Same probe selection as ``ivf_topk``."""
    import math

    qnorm = math.sqrt(sum(float(x) * float(x) for x in query_vec))
    qn = [_py_round_half_up(float(x) / qnorm, 9) for x in query_vec]
    dists = [sum((a - b) * (a - b) for a, b in zip(qn, c)) for c in centroids]
    probe = sorted(range(len(centroids)), key=lambda i: (dists[i], i))[:num_probes]
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    indexed = spark.read.parquet(path).where(F.col("cluster_id").isin(*probe))
    return (
        indexed.select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col).cast("array<double>"), qcol), 6).alias(
                "cosine_sim"
            ),
        )
        .orderBy(F.desc("cosine_sim"), F.col(id_col))
        .limit(k)
    )


def ivf_topk(
    vectors: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    num_clusters: int = 16,
    num_probes: int = 6,
    rounds: int = 3,
    index: tuple[DataFrame, list[list[float]]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: rank centroids by distance to the query,
    scan only the ``num_probes`` best clusters, exact top-k within them.

    Pass a prebuilt ``index`` to amortize fit+assignment across queries
    (the realistic shape: index once, query many)."""
    import math

    indexed, centroids = (
        index
        if index is not None
        else ivf_index(vectors, id_col, vec_col, num_clusters, rounds)
    )
    # normalize the query exactly as unit_normalized does (same IEEE ops)
    qnorm = math.sqrt(sum(float(x) * float(x) for x in query_vec))
    qn = [_py_round_half_up(float(x) / qnorm, 9) for x in query_vec]
    dists = [
        sum((a - b) * (a - b) for a, b in zip(qn, c)) for c in centroids
    ]
    probe = sorted(range(len(centroids)), key=lambda i: (dists[i], i))[:num_probes]
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        indexed.where(F.col("cluster_id").isin(*probe))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col).cast("array<double>"), qcol), 6).alias(
                "cosine_sim"
            ),
        )
        .orderBy(F.desc("cosine_sim"), F.col(id_col))
        .limit(k)
    )


def _sqdist_to(center: list[float]) -> Column:
    """Squared L2 from column ``e`` (array<double>) to a broadcast center
    literal, as a left-to-right codegen'd fold — the exact summation
    order the DuckDB oracle's list_sum(list_transform(...)) uses, so the
    doubles are bit-identical across engines."""
    carr = F.array(*[F.lit(float(x)) for x in center])
    return F.aggregate(
        F.zip_with(F.col("e"), carr, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def kcenter_select(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
) -> tuple[list[tuple[int, int]], list[list[float]]]:
    """Greedy farthest-point k-center selection (Gonzalez 1985) — the
    coreset / diverse-subset primitive a curation pipeline uses to pick
    k maximally-spread exemplars from an embedding corpus (2-approx to
    the optimal k-center cover).

    Deterministic: seed = min id; each round picks the point maximizing
    min squared-L2 distance to the selected set, ties broken by min id
    (realized as one ``max(struct(dmin, -id))`` partial-aggregate — a
    tree reduce, never a global sort).

    Scale: k passes over the data, each a narrow broadcast-literal
    distance map + one reduce; driver state is k ids + k·dim floats
    (bounded — never the corpus). The running ``dmin`` column chains
    ``least(...)`` per round, so pass i re-evaluates i cheap codegen'd
    expressions rather than shuffling anything — the classic
    k-scans-no-shuffle shape.

    Returns (selection, centers): selection is [(sel_order, vec_id)],
    centers the corresponding raw-double vectors.

    Degenerate inputs (r13, ADVICE fix): an empty corpus raises a clear
    ValueError; k larger than the corpus stops early and returns every
    row as a center (the greedy prefix found so far) instead of crashing
    on a null aggregate. The materialized base frame is persisted (one
    materialization shared by all k passes — spillable at cluster scale,
    unlike a localCheckpoint whose blocks also outlived the call) and
    released in a ``finally`` so repeated invocations (bench fresh runs)
    don't accumulate storage for the life of the session.
    """
    if k < 1:
        raise ValueError(f"kcenter_select: k must be >= 1, got {k}")
    v = vectors.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("e")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # bounded driver probe: the single seed row (min id); also the
        # action that materializes the persisted base frame once.
        seed = v.orderBy("_id").limit(1).first()
        if seed is None:
            raise ValueError("kcenter_select: empty corpus")
        sel: list[tuple[int, int]] = [(0, int(seed["_id"]))]
        centers: list[list[float]] = [[float(x) for x in seed["e"]]]
        df = v.withColumn("dmin", F.lit(float("inf")))
        for i in range(1, k):
            df = df.withColumn("dmin", F.least(F.col("dmin"), _sqdist_to(centers[-1])))
            picked = [s[1] for s in sel]
            # one bounded reduce per round: the farthest row (dist, -id, e)
            m = (
                df.where(~F.col("_id").isin(*picked))
                .agg(
                    F.max(
                        F.struct(
                            F.col("dmin").alias("d"),
                            (-F.col("_id")).alias("nid"),
                            F.col("e").alias("e"),
                        )
                    ).alias("m")
                )
                .first()["m"]
            )
            if m is None or m["nid"] is None:
                break  # corpus exhausted (k > n): return the prefix found
            sel.append((i, int(-m["nid"])))
            centers.append([float(x) for x in m["e"]])
        return sel, centers
    finally:
        v.unpersist()


def kcenter_select_batched(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    batch: int = 4,
) -> tuple[list[tuple[int, int]], list[list[float]]]:
    """Batched farthest-point k-center — the scale path when k grows
    past ~100 and ``kcenter_select``'s k sequential driver passes become
    the bottleneck (SCALE.md named this limitation; r12 VERDICT ask #9).

    Per round, pick the ``batch`` UNSELECTED points farthest from the
    current center set (by the running dmin, ties by min id) in ONE
    top-b reduce, then fold all of them in before the next distance
    update — ceil((k−1)/batch) passes instead of k−1. This is the
    standard oversampled greedy (k-means‖-style batching applied to the
    Gonzalez sweep): batch members are far from all PREVIOUS centers
    but may be near each other, so the strict 2-approximation bound
    loosens to a constant factor in practice — the documented trade for
    k/b× fewer corpus scans. batch=1 degenerates to the exact greedy.

    Determinism contract matches kcenter_select: seed = min id; top-b is
    an (dmin DESC, id ASC) TakeOrdered (never a global sort); distance
    updates are LEAST-chains over the batch (min of exact doubles —
    order-insensitive), each inner fold the bit-pinned left-to-right
    ``_sqdist_to``. Driver state: k ids + k·dim doubles. The DuckDB twin
    (plans/ann_sql.py: kcenter_batch_sql) unrolls the identical rounds.
    """
    if k < 1 or batch < 1:
        raise ValueError(f"kcenter_select_batched: k={k}, batch={batch} must be >= 1")
    v = vectors.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("e")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        seed = v.orderBy("_id").limit(1).first()
        if seed is None:
            raise ValueError("kcenter_select_batched: empty corpus")
        sel: list[tuple[int, int]] = [(0, int(seed["_id"]))]
        centers: list[list[float]] = [[float(x) for x in seed["e"]]]
        df = v.withColumn("dmin", F.lit(float("inf")))
        new_centers = centers[:]
        while len(sel) < k:
            df = df.withColumn(
                "dmin",
                F.least(F.col("dmin"), *[_sqdist_to(c) for c in new_centers]),
            )
            picked = [s[1] for s in sel]
            b = min(batch, k - len(sel))
            rows = (
                df.where(~F.col("_id").isin(*picked))
                .orderBy(F.col("dmin").desc(), "_id")
                .limit(b)
                .select("_id", "e")
                .collect()
            )
            if not rows:
                break  # corpus exhausted (k > n): return the prefix found
            new_centers = []
            for r in rows:
                sel.append((len(sel), int(r["_id"])))
                new_centers.append([float(x) for x in r["e"]])
            centers.extend(new_centers)
        return sel, centers
    finally:
        v.unpersist()


def pca_power_fit(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 8,
    scale: int = 10**6,
) -> tuple[list[float], float, int]:
    """First principal component by power iteration over the EXACT
    integer scatter matrix — the cross-engine-deterministic way to
    oracle an iterative float algorithm (same recipe as kmeans_fit:
    exact integer corpus aggregates, then a bounded driver-side float
    recurrence with floor-half-up rounding each round).

    1. Quantize each coordinate to round(x·10⁶) (one narrow map — the
       float32→double product is exact, the round is HALF_UP on both
       engines).
    2. One corpus pass computes Σq_i (d values) and Σq_i·q_j (d² values)
       as exact integer sums — associative, so map-side combine and any
       merge order give bit-identical results. The shuffle carries d²
       keys (4096 at d=64), not rows: this is the Gram-matrix shape
       that scales to any corpus size.
    3. Driver builds the scatter matrix M = n·Σqq − Σq·Σqᵀ in exact
       Python ints (n·cov, positive-semidefinite, scale-free for the
       iteration), converts to doubles, and runs ``iters`` power steps:
       w = M·v as left-to-right folds, v ← floor-half-up(w/‖w‖, 9 dp).
       Driver state is d² doubles — bounded, never the corpus.
    4. Sign convention: flip so v[0] ≥ 0.

    Returns (v, proj_const, n) where proj_const = Σ μ_i·v_i is the
    centering offset so a projection pass is the narrow codegen'd
    ``dot(e, v) − proj_const``. The DuckDB twin (plans/ann_sql.py:
    pca_power_sql) replays every step with the identical operation
    order, so all doubles match bit-for-bit.
    """
    sq, n, md = _pca_scatter(vectors, id_col, vec_col, scale)
    v = _pca_power_iterate(md, iters)
    return v, _pca_proj_const(sq, n, scale, v), n


def _pca_scatter(
    vectors: DataFrame, id_col: str, vec_col: str, scale: int
) -> tuple[list[int], int, list[list[float]]]:
    """One corpus pass -> (Σq per dim, n, scatter matrix M as doubles).
    Exact integer sums; M = n·Σqq − Σq·Σqᵀ built in arbitrary-precision
    Python ints, converted to doubles once (round-to-nearest — same as
    the oracle's HUGEINT→DOUBLE cast)."""
    e = F.col(vec_col).cast("array<double>")
    q = F.transform(e, lambda x: F.round(x * scale).cast("long"))
    base = vectors.select(q.alias("q"))
    e1 = base.select(F.posexplode("q").alias("i", "qi"), F.col("q"))
    sq_rows = (
        e1.groupBy("i")
        .agg(
            F.sum(F.col("qi").cast("decimal(38,0)")).alias("s"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .collect()  # d rows — bounded driver state
    )
    sqq_rows = (
        e1.select("i", "qi", F.posexplode("q").alias("j", "qj"))
        .groupBy("i", "j")
        .agg(F.sum((F.col("qi") * F.col("qj")).cast("decimal(38,0)")).alias("s"))
        .collect()  # d² rows — bounded driver state
    )
    dim = len(sq_rows)
    n = int(sq_rows[0]["cnt"])
    sq = [0] * dim
    for r in sq_rows:
        sq[int(r["i"])] = int(r["s"])
    mint = [[0] * dim for _ in range(dim)]
    for r in sqq_rows:
        i, j = int(r["i"]), int(r["j"])
        mint[i][j] = n * int(r["s"]) - sq[i] * sq[j]
    md = [[float(x) for x in row] for row in mint]
    return sq, n, md


def _pca_mat_vec(md: list[list[float]], v: list[float]) -> list[float]:
    """M·v as left-to-right folds — the exact op order the SQL twin's
    list_sum(list_transform(...)) uses."""
    out = []
    for row in md:
        acc = 0.0
        for j in range(len(v)):
            acc = acc + row[j] * v[j]
        out.append(acc)
    return out


def _pca_power_iterate(md: list[list[float]], iters: int) -> list[float]:
    """``iters`` power steps with floor-half-up 9-dp rounding per step
    and the v[0] ≥ 0 sign convention."""
    import math

    dim = len(md)
    v = [1.0 / math.sqrt(dim)] * dim
    for _ in range(iters):
        w = _pca_mat_vec(md, v)
        nacc = 0.0
        for x in w:
            nacc = nacc + x * x
        norm = math.sqrt(nacc)
        if norm == 0.0:
            raise ValueError("power iteration collapsed: M @ v is zero")
        v = [_py_round_half_up(x / norm, 9) for x in w]
    if v[0] < 0:
        v = [-x for x in v]
    return v


def _pca_proj_const(
    sq: list[int], n: int, scale: int, v: list[float]
) -> float:
    const = 0.0
    for i in range(len(v)):
        const = const + (float(sq[i]) / (n * scale)) * v[i]
    return const


def pca_power_fit2(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 8,
    scale: int = 10**6,
) -> tuple[list[float], float, list[float], float, int]:
    """Top-2 principal components: fit PC1 by power iteration, DEFLATE
    the scatter matrix (M₂ = M − λ₁·v₁v₁ᵀ with λ₁ = v₁ᵀMv₁ — Hotelling
    deflation, all in driver doubles with pinned op order), and power-
    iterate again. One corpus pass total; everything after the scatter
    aggregate is bounded driver state, and the SQL twin replays λ₁, the
    deflation, and the second recurrence with the identical fold orders.

    Returns (v1, const1, v2, const2, n)."""
    sq, n, md = _pca_scatter(vectors, id_col, vec_col, scale)
    v1 = _pca_power_iterate(md, iters)
    mv = _pca_mat_vec(md, v1)
    lam = 0.0
    for i in range(len(v1)):
        lam = lam + v1[i] * mv[i]
    m2 = [
        [md[i][j] - (lam * v1[i]) * v1[j] for j in range(len(v1))]
        for i in range(len(v1))
    ]
    v2 = _pca_power_iterate(m2, iters)
    return (
        v1,
        _pca_proj_const(sq, n, scale, v1),
        v2,
        _pca_proj_const(sq, n, scale, v2),
        n,
    )
