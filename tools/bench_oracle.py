"""DuckDB-side timing baseline for the bench headline queries.

The reference publishes no benchmark numbers (BASELINE.md), so this
script synthesizes the comparison target the "within 2×" gate needs:
it times each headline query's *oracle SQL* — the independent DuckDB
formulation of the same result — on the same parquet files, same
machine, all cores. Usage:

    python tools/bench_oracle.py [sf_dir]        # default /root/testdata/sf0.1

Prints one JSON line: {"metric": "oracle_headline_total", "value": sec,
"queries": {name: sec}, "sf": ...}. Methodology matches bench.py: each
query runs twice, steady-state (second) time reported; results are
materialized into an in-memory relation (fetched row count only — no
client transfer cost beyond DuckDB's own materialization).

Caveat recorded in BASELINE.md: a few oracle twins are deliberately
naive so they stay obviously-correct (e.g. dedup_ngram_jaccard is a
full O(n²) cross join where the Spark side prunes via shared shingles);
for those the oracle time is an upper bound, not a tuned DuckDB number.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from bench import HEADLINE

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    from extract_permits_spark.plans import analytics

    oracles = analytics.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    # headline queries that have an oracle twin, plus the flagship
    # pipeline composite (its oracle is the end-to-end upload partition).
    # Two exclusions keep the comparison honest and r2-comparable:
    # - dedup_minhash_lsh's oracle is the deliberately-naive exact O(n²)
    #   all-pairs Jaccard (a recall check, ~15 min at sf0.1) — timing it
    #   would flatter Spark absurdly;
    # - the dedup_simhash registry entry is the md5-portable variant while
    #   bench.py times the xxhash64 production path — different hash
    #   family, not a like-for-like pair. Since r14 (VERDICT r13 #5) the
    #   md5 variant IS paired under the explicit name dedup_simhash_md5
    #   (timed below, matching bench.py's twin row); the bare name stays
    #   excluded so the production row remains honest.
    # mm_image_stats: the Spark side encodes+decodes real PNGs while the
    # oracle recomputes the expected stats closed-form — correct as an
    # oracle, asymmetric as a timed pair.
    # emb_ivfpq_topk: the Spark side amortizes the k-means + PQ fits
    # through its index caches (the production contract) while the oracle
    # replays both fits per query — asymmetric as a timed pair.
    # mm_image_phash / mm_video_shots / mm_audio_fingerprint are PAIRED
    # since r13 (r12 VERDICT ask #4): the same codec-vs-closed-form
    # asymmetry exists, but a same-sitting ratio with the caveat written
    # down beats an unpaired headline row. BASELINE.md carries the
    # caveat next to the numbers.
    skip_timing = {
        "dedup_minhash_lsh",
        "dedup_simhash",
        "mm_image_stats",
        "emb_ivfpq_topk",
        "emb_ivfpq_batch_topk",
    }
    names = [n for n in HEADLINE if n in oracles and n not in skip_timing]
    if "permit_pipeline_upload" in oracles:
        names.append("permit_pipeline_upload")

    times: dict[str, float] = {}
    for name in names:
        sql = oracles[name]
        con.execute(sql).fetchall()  # warm-up (buffer cache, plan cache)
        t0 = time.time()
        con.execute(sql).fetchall()
        times[name] = round(time.time() - t0, 3)

    # md5-portable SimHash pair row (r14): same banded algorithm both
    # engines; bench.py's dedup_simhash_md5 row forces the same registry
    # entry Spark-side
    if "dedup_simhash" in oracles:
        sql = oracles["dedup_simhash"]
        con.execute(sql).fetchall()
        t0 = time.time()
        con.execute(sql).fetchall()
        times["dedup_simhash_md5"] = round(time.time() - t0, 3)

    def _timed_scale(row: str, sql: str) -> None:
        # scale rows mirror bench.py's r14 protocol upgrade: a warm-up
        # pass (buffer/plan cache) before the timed run, instead of the
        # old single cold run
        con.execute(sql).fetchall()
        t0 = time.time()
        con.execute(sql).fetchall()
        times[row] = round(time.time() - t0, 3)

    # sf×10 equivalent of the flagship pipeline: re-point the fact views
    # at a UNION ALL of 10 key-shifted copies (mirror of Spark's
    # permits_from_tpch(copies=10)) and run the same end-to-end upload SQL.
    # Warm-up + steady timed run since r14, mirroring bench.py's scale
    # protocol upgrade (_timed_scale).
    if "permit_pipeline_upload" in oracles:
        stride = 10**7
        for tbl, key in [("orders", "o_orderkey"), ("lineitem", "l_orderkey")]:
            p = os.path.join(sf_dir, f"{tbl}.parquet")
            union = " UNION ALL ".join(
                f"SELECT * REPLACE ({key} + {c * stride} AS {key}) "
                f"FROM read_parquet('{p}')"
                for c in range(10)
            )
            con.execute(f"CREATE OR REPLACE VIEW {tbl} AS {union}")
        _timed_scale("permit_pipeline_sf1eq", oracles["permit_pipeline_upload"])

    # classic-join shape at 10x: materialize the amplified facts first
    # (mirror of bench.py, which writes them to parquet outside the
    # timed region — this oracle's EXISTS/NOT EXISTS pair reads
    # lineitem three times, so timing the lazy union would measure
    # re-scans, not the join), then time the query.
    if "q21_waiting_supplier" in oracles and "permit_pipeline_upload" in oracles:
        con.execute("CREATE TABLE _amp_orders AS SELECT * FROM orders")
        con.execute("CREATE TABLE _amp_lineitem AS SELECT * FROM lineitem")
        con.execute("CREATE OR REPLACE VIEW orders AS SELECT * FROM _amp_orders")
        con.execute(
            "CREATE OR REPLACE VIEW lineitem AS SELECT * FROM _amp_lineitem"
        )
        _timed_scale("q21_waiting_supplier_sf1eq", oracles["q21_waiting_supplier"])

    # dedup at 10x: same amplified-documents input, same md5-banded
    # algorithm both engines (bench.py's dedup_minhash_md5_sf1eq row).
    # Materialized outside the timed region (r7: bench.py materializes
    # its amplified frame to parquet, so the lazy UNION ALL's 10
    # re-scans must leave the DuckDB timing too).
    if "dedup_minhash_md5" in oracles:
        p = os.path.join(sf_dir, "documents.parquet")
        union = " UNION ALL ".join(
            f"SELECT * REPLACE (doc_id + {c * 10**7} AS doc_id) "
            f"FROM read_parquet('{p}')"
            for c in range(10)
        )
        con.execute(f"CREATE TABLE _amp_docs10 AS {union}")
        con.execute(
            "CREATE OR REPLACE VIEW documents AS SELECT * FROM _amp_docs10"
        )
        _timed_scale("dedup_minhash_md5_sf1eq", oracles["dedup_minhash_md5"])

    # tf-idf at 10x documents (mirror of bench.py's text_tfidf_sf1eq):
    # same materialized 10x table, same query text as the registry
    # oracle (which reads the `documents` view, re-pointed above).
    if "text_tfidf" in oracles and "dedup_minhash_md5" in oracles:
        _timed_scale("text_tfidf_sf1eq", oracles["text_tfidf"])

    # hybrid RRF fusion at 10x documents (mirror of bench.py's
    # rag_fusion_sf1eq): the registry oracle embeds both scorers' full
    # SQL; the `documents` view still points at the 10x table here.
    if "rag_rrf_fusion" in oracles and "dedup_minhash_md5" in oracles:
        _timed_scale("rag_fusion_sf1eq", oracles["rag_rrf_fusion"])

    # tf-idf at 100x documents (mirror of bench.py's text_tfidf_sf10eq):
    # amplified corpus materialized outside the timed region, then the
    # identical registry oracle SQL over the re-pointed view.
    if "text_tfidf" in oracles:
        p = os.path.join(sf_dir, "documents.parquet")
        union = " UNION ALL ".join(
            f"SELECT * REPLACE (doc_id + {c * 10**7} AS doc_id) "
            f"FROM read_parquet('{p}')"
            for c in range(100)
        )
        con.execute(f"CREATE TABLE _amp_docs100 AS {union}")
        con.execute(
            "CREATE OR REPLACE VIEW documents AS SELECT * FROM _amp_docs100"
        )
        _timed_scale("text_tfidf_sf10eq", oracles["text_tfidf"])
        # restore the 10x view for the curation row below
        union10 = " UNION ALL ".join(
            f"SELECT * REPLACE (doc_id + {c * 10**7} AS doc_id) "
            f"FROM read_parquet('{p}')"
            for c in range(10)
        )
        con.execute(f"CREATE OR REPLACE VIEW documents AS {union10}")

    # curation flagship at 10x documents (mirror of bench.py's
    # llm_corpus_curation_sf1eq): amplified corpus MATERIALIZED outside
    # the timed region (the chain scans documents several times; Spark
    # reads it from parquet), then the identical end-to-end SQL.
    if "llm_corpus_curation" in oracles:
        con.execute("CREATE TABLE _amp_docs AS SELECT * FROM documents")
        con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM _amp_docs")
        _timed_scale("llm_corpus_curation_sf1eq", oracles["llm_corpus_curation"])

    # cross-dataset semantic decon at 10x embeddings (mirror of bench.py's
    # emb_cross_decontaminate_sf1eq): amplified table materialized outside
    # the timed region; the key stride is a multiple of 10 so the
    # vec_id%10 eval/train split is preserved. This oracle is the exact
    # pairwise replay — structurally O(|tr|*|ev|) where Spark's
    # Hamming-ball bucket join is near-linear in the corpus — so the
    # DuckDB time is an upper bound by construction; the row exists to
    # measure that crossover.
    if "emb_cross_decontaminate" in oracles:
        p = os.path.join(sf_dir, "embeddings.parquet")
        union = " UNION ALL ".join(
            f"SELECT * REPLACE (vec_id + {c * 10**7} AS vec_id) "
            f"FROM read_parquet('{p}')"
            for c in range(10)
        )
        con.execute(f"CREATE TABLE _amp_emb10 AS {union}")
        con.execute(
            "CREATE OR REPLACE VIEW embeddings AS SELECT * FROM _amp_emb10"
        )
        _timed_scale("emb_cross_decontaminate_sf1eq", oracles["emb_cross_decontaminate"])

    line = json.dumps(
        {
            "metric": "oracle_headline_total",
            "value": round(sum(times.values()), 3),
            "unit": "sec",
            "queries": times,
            "sf": sf,
            "engine": f"duckdb {duckdb.__version__}, all cores",
        }
    )
    print(line)
    # durable copy, the pairing input for bench.py's `paired` block: a
    # bench.py run in the same sitting reads this and emits per-row
    # Spark/DuckDB ratios so BENCH_rN.json carries machine-readable
    # ratios instead of BASELINE.md prose alone (r11 VERDICT #7).
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "oracle_last.json",
    )
    with open(out, "w") as f:
        f.write(line + "\n")


if __name__ == "__main__":
    main()
