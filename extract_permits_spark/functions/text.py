"""Text-analysis functions for training-data pipelines.

All pure ``pyspark.sql.functions`` expressions — language ID, quality
scoring, token counting, and fingerprinting run inside codegen as a narrow
map over the corpus: zero shuffles, linear scan, trivially scales to 100 TB
of documents.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------------
# Token counting: whitespace tokens + a BPE-ish subword estimate.
# ---------------------------------------------------------------------------

WORD_RE = r"\s+"


def token_count(text: Column | str) -> Column:
    """Whitespace token count; 0 for empty/NULL."""
    t = F.trim(F.coalesce(_c(text), F.lit("")))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, WORD_RE)))


def char_count(text: Column | str) -> Column:
    return F.length(F.coalesce(_c(text), F.lit("")))


def bpe_token_estimate(text: Column | str, chars_per_token: float = 4.0) -> Column:
    """BPE-ish token estimate: ceil(chars / 4) — the standard budgeting
    heuristic when no tokenizer is available executor-side."""
    return F.ceil(char_count(text) / F.lit(chars_per_token)).cast("long")


# ---------------------------------------------------------------------------
# Quality signals: stopword / alpha ratios and mean word length.
# ---------------------------------------------------------------------------

EN_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "that", "it", "for"]


def alpha_ratio(text: Column | str) -> Column:
    """Fraction of characters that are ASCII letters (6-dp double)."""
    t = F.coalesce(_c(text), F.lit(""))
    n = F.length(t)
    letters = F.length(F.regexp_replace(t, "[^A-Za-z]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.round(letters.cast("double") / n.cast("double"), 6)
    )


def stopword_ratio(text: Column | str, stopwords: list[str] | None = None) -> Column:
    """Fraction of whitespace tokens that are stopwords (6-dp double)."""
    stopwords = stopwords or EN_STOPWORDS
    t = F.trim(F.lower(F.coalesce(_c(text), F.lit(""))))
    toks = F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, WORD_RE))
    sw = F.array(*[F.lit(w) for w in stopwords])
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.round(hits.cast("double") / n.cast("double"), 6)
    )


def mean_word_length(text: Column | str) -> Column:
    t = F.trim(F.coalesce(_c(text), F.lit("")))
    toks = F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, WORD_RE))
    n = F.size(toks)
    total = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.round(total.cast("double") / n.cast("double"), 6)
    )


# ---------------------------------------------------------------------------
# Language ID: stopword-profile argmax over per-language marker lists.
# N-gram-free heuristic expressible in both Spark and ANSI SQL.
# ---------------------------------------------------------------------------

LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "that"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "que", "es", "los"],
}


def _marker_hits(text: Column, words: list[str]) -> Column:
    toks = F.split(F.trim(F.lower(F.coalesce(text, F.lit("")))), WORD_RE)
    w = F.array(*[F.lit(x) for x in words])
    return F.size(F.filter(toks, lambda x: F.array_contains(w, x)))


def language_id(text: Column | str, default: str = "und") -> Column:
    """Predicted language = argmax of marker-token hits; ties break by the
    declaration order of LANG_MARKERS; all-zero → ``default``."""
    text = _c(text)
    scores = [(lang, _marker_hits(text, ws)) for lang, ws in LANG_MARKERS.items()]
    best = scores[0][1]
    for _, s in scores[1:]:
        best = F.greatest(best, s)
    expr = F.lit(default)
    for lang, s in reversed(scores):
        expr = F.when((s == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


# ---------------------------------------------------------------------------
# Document fingerprinting: normalized-content hash + shingle count.
# (The rolling-hash winnowing variant lives in similarity.py as shingles.)
# ---------------------------------------------------------------------------


def normalized_text(text: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, non-alnum collapsed to
    single spaces, trimmed."""
    t = F.lower(F.coalesce(_c(text), F.lit("")))
    return F.trim(F.regexp_replace(t, "[^a-z0-9]+", " "))


def fingerprint(text: Column | str) -> Column:
    """MD5 of the normalized text — stable across engines and runs."""
    return F.md5(normalized_text(text).cast("binary"))


# ---------------------------------------------------------------------------
# Corpus cleaning: URL stripping, PII masking, whitespace canonicalization.
# All regexp expressions — narrow, codegen'd, zero shuffle.
# ---------------------------------------------------------------------------

URL_RE = r"https?://\S+"
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"


def strip_urls(text: Column | str) -> Column:
    return F.regexp_replace(F.coalesce(_c(text), F.lit("")), URL_RE, "")


def mask_pii(text: Column | str) -> Column:
    """Mask emails and phone-shaped tokens (the minimum pretraining
    hygiene pass; swap in stronger recognizers executor-side as needed)."""
    t = F.coalesce(_c(text), F.lit(""))
    t = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(t, PHONE_RE, "<PHONE>")


def collapse_whitespace(text: Column | str) -> Column:
    return F.trim(F.regexp_replace(F.coalesce(_c(text), F.lit("")), r"\s+", " "))


def clean_for_pretraining(text: Column | str) -> Column:
    """strip URLs → mask PII → collapse whitespace, in that order."""
    return collapse_whitespace(mask_pii(strip_urls(text)))


# ---------------------------------------------------------------------------
# Repetition metrics (Gopher-style quality filters): fraction of repeated
# tokens / lines and the share of the document covered by its most frequent
# word n-gram. Pure per-document array expressions — embarrassingly parallel,
# no shuffle; per-doc cost is bounded by document length, not corpus size.
# ---------------------------------------------------------------------------


def _word_ngrams(toks: Column, n: int) -> Column:
    """Overlapping word n-grams of a token array, duplicates KEPT
    (occurrence counts matter to decontamination) — the shared
    zip-slices builder, see similarity.zip_ngrams."""
    from extract_permits_spark.functions.similarity import zip_ngrams

    return zip_ngrams(toks, n)


def dup_line_fraction(text: Column | str) -> Column:
    """Gopher duplicate-line filter: fraction of non-empty lines that are
    exact repeats of an earlier line."""
    t = F.coalesce(_c(text), F.lit(""))
    lines = F.filter(F.split(t, "\n"), lambda x: F.length(F.trim(x)) > 0)
    n = F.size(lines)
    d = F.size(F.array_distinct(lines))
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.round((n - d).cast("double") / n.cast("double"), 6)
    )


def _max_equal_run(sorted_arr: Column) -> Column:
    """Length of the longest run of equal adjacent elements in a SORTED
    array == the max multiplicity of any element. Single ``aggregate``
    pass with a (prev, run, best) accumulator — O(n) per row, one array
    reference. (The naive nested count-each-distinct form is O(n²) AND
    re-expands the array expression per element — measured 50× slower.)"""
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(sorted_arr, init, step, lambda acc: acc["best"])


def repetition_metrics(df, id_col: str = "doc_id", text_col: str = "text"):
    """All repetition metrics in one staged scan: tokenize once, build the
    sorted gram arrays once (each in its own projection so lambda bodies
    reference a BOUND column, not the whole token-split subtree — letting
    Catalyst inline the arrays into every lambda re-evaluates the regex
    split per array element, measured 16× slower at sf0.1), then compute
    the fractions. Returns (id, dup_token_frac, top_bigram_frac,
    top_trigram_frac); still a narrow no-shuffle plan."""
    from extract_permits_spark.functions.similarity import tokens

    def frac_over(arr: str) -> Column:
        return F.when(F.size(arr) == 0, F.lit(0.0)).otherwise(
            F.round(
                _max_equal_run(F.col(arr)).cast("double")
                / F.size(arr).cast("double"),
                6,
            )
        )

    return (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .select(
            id_col,
            "_toks",
            F.array_sort(_word_ngrams(F.col("_toks"), 2)).alias("_big"),
            F.array_sort(_word_ngrams(F.col("_toks"), 3)).alias("_tri"),
        )
        .select(
            id_col,
            F.when(F.size("_toks") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    (F.size("_toks") - F.size(F.array_distinct("_toks"))).cast(
                        "double"
                    )
                    / F.size("_toks").cast("double"),
                    6,
                )
            )
            .alias("dup_token_frac"),
            frac_over("_big").alias("top_bigram_frac"),
            frac_over("_tri").alias("top_trigram_frac"),
        )
    )


def chunk_documents(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
):
    """Split documents into token-bounded overlapping chunks — the step
    between cleaning/dedup and training-shard assembly (context-window
    packing input). Returns (id, chunk_idx, chunk_text, n_tokens), one
    row per chunk; chunks start every ``chunk_tokens - overlap`` tokens
    and the last chunk may be short. Empty documents produce no rows.

    Pure narrow expressions: tokenize once, one ``posexplode`` over the
    arithmetic start sequence, one slice+join per chunk — no shuffle, no
    UDF; the grain change is the explode. Tokenization uses the same
    trim/lower/``\\s+`` contract as the similarity family so chunk text
    is cross-engine reproducible (DuckDB twin in the registry).
    """
    from extract_permits_spark.functions.similarity import tokens

    step = chunk_tokens - overlap
    if step <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    toks = tokens(F.col(text_col))
    with_toks = docs.select(F.col(id_col), toks.alias("_t")).where(
        F.size("_t") > 0
    )
    # last start is capped at size - overlap: a later start's chunk would
    # be a pure suffix retread, fully contained in its predecessor
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size("_t") - overlap, F.lit(1)),
        F.lit(step),
    )
    exploded = with_toks.select(
        id_col, "_t", F.posexplode(starts).alias("chunk_idx", "_start")
    )
    return exploded.select(
        id_col,
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.concat_ws(" ", F.slice("_t", F.col("_start"), chunk_tokens)).alias(
            "chunk_text"
        ),
        F.least(
            F.lit(chunk_tokens), F.size("_t") - F.col("_start") + 1
        ).cast("int").alias("n_tokens"),
    )


def hll_register_rank(text_col):
    """(register, rank) columns of the m=256 deterministic HLL sketch:
    register = first 8 md5 bits, rank = leading zeros of the next 56
    bits + 1 (via MINIMAL-LENGTH binary — conv(…,10,2) ≡ DuckDB bin(),
    so the construction replays exactly in the oracle). Shared by the
    batch entry (docs_hll_distinct) and the streaming ingest gate so
    stream ≡ batch is true by construction: registers merge by MAX,
    which is associative, commutative, AND idempotent — an at-least-once
    replay of a micro-batch cannot change a register."""
    h = F.md5(F.coalesce(text_col, F.lit("")).cast("binary"))
    reg = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    v = F.conv(F.substring(h, 3, 14), 16, 10).cast("long")
    rank = F.when(v == 0, F.lit(57)).otherwise(
        F.lit(56) - F.length(F.conv(v, 10, 2)) + F.lit(1)
    )
    return reg, rank


def hll_estimate_from_registers(regs):
    """(s, zeros) -> the HLL estimate column pipeline over a full
    256-register frame ``regs`` with columns (reg, m): returns a 1-row
    DataFrame with column ``e``. Register-ordered dyadic fold + the
    small-range linear-counting correction — every double op matches
    the DuckDB twin."""
    pow_table = F.array(*[F.lit(float(1 << k)) for k in range(58)])
    folded = regs.agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct(F.col("reg"), F.col("m")))),
            F.lit(0.0),
            lambda acc, x: acc
            + F.lit(1.0) / F.element_at(pow_table, (x["m"] + 1).cast("int")),
        ).alias("s"),
        F.sum(F.when(F.col("m") == 0, 1).otherwise(0)).cast("long").alias("zeros"),
    )
    alpha_m2 = (
        F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0)) * F.lit(65536.0)
    )
    raw = alpha_m2 / F.col("s")
    est = F.when(
        (raw <= F.lit(640.0)) & (F.col("zeros") > 0),
        F.lit(256.0) * F.log(F.lit(256.0) / F.col("zeros")),
    ).otherwise(raw)
    return folded.select(est.alias("e"))


def hashed_tf(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    dims: int = 64,
):
    """Feature-hashing (hashing-trick) term-frequency vectorizer — the
    embedding every corpus can afford at 100 TB: no vocabulary pass, no
    model, each token maps to ``bucket = md5(token)[:4] mod dims`` with
    a sign bit from the next hex digit (the signed variant keeps the
    estimator unbiased under collisions, Weinberger et al. 2009).
    Returns the vector in LONG FORMAT, ``(id, dim, val)`` with exact
    integer ``val = Σ sign(token)`` over the document's tokens — sparse
    (zero dims absent), shuffle-free until the caller aggregates, and
    bit-reproducible across engines (md5 on UTF-8 bytes both sides).

    One narrow explode + one (id, dim) groupBy; at corpus scale the
    groupBy is the only shuffle and partial aggregation folds the token
    stream map-side.
    """
    from extract_permits_spark.functions.similarity import tokens

    w = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_w")
    ).where(F.col("_w") != "")
    h = F.md5(F.col("_w").cast("binary"))
    dim = (F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % dims).cast("int")
    sign = F.when(
        F.conv(F.substring(h, 5, 1), 16, 10).cast("long") % 2 == 0, F.lit(1)
    ).otherwise(F.lit(-1))
    return (
        w.select(F.col(id_col), dim.alias("dim"), sign.alias("_s"))
        .groupBy(id_col, "dim")
        .agg(F.sum("_s").cast("long").alias("val"))
    )
