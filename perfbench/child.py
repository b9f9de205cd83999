"""One benchmark run in its own process: generate inputs, set up a warmed
session, run closed-loop operations for the requested time, check every
output, and write the results as JSON.

Started by run.py, which pins the environment (cores, heap, PYTHONPATH,
local dirs) and measures peak memory from outside. Usage:

    python3 perfbench/child.py WORKLOAD SEED SECONDS TRACE RUN_DIR CACHE_DIR RESULT_JSON
    python3 perfbench/child.py cache WORKLOAD SEED RUN_DIR CACHE_DIR

The second form fills CACHE_DIR with the workload's seed-independent
inputs (``build_cache``), in a session of its own.
"""

from __future__ import annotations

import json
import sys
import time
import traceback

import stats
from tracing import StatusStore, Tracer, medians
from workloads import WORKLOADS


# Every metric a run prints, with its unit: untraced runs print
# END_TO_END, traced runs PER_LAYER. BENCHMARK.json lists the same.
END_TO_END = {"setup_s": "s", "op_p50_s": "s", "rows_per_s": "1/s"}
PER_LAYER = {
    "session.start_s": "s",
    "sources.read_s": "s",
    "sources.records_parsed": "count",
    "sources.records_kept": "count",
    "sources.keep_ratio": "ratio",
    "plans.build_s": "s",
    "plans.optimize_s": "s",
    "plans.exchanges": "count",
    "operators.clean.self_s": "s",
    "operators.dedup.self_s": "s",
    "operators.validate.self_s": "s",
    "operators.enrich.self_s": "s",
    "reshape.fanout": "ratio",
    "joins.suggested_hit_ratio": "ratio",
    "dedup.removed_rows": "count",
    "dedup.removed_ratio": "ratio",
    "validate.review_share": "ratio",
    "enrich.tagged_share": "ratio",
    "sinks.parquet.write_s": "s",
    "sinks.parquet.files": "count",
    "sinks.parquet.bytes_per_row": "B",
    "sinks.xlsx.collect_s": "s",
    "sinks.xlsx.render_s": "s",
    "sinks.xlsx.bytes": "B",
    "functions.text.filter.self_s": "s",
    "functions.similarity.pairs.self_s": "s",
    "operators.graph.components.self_s": "s",
    "graph.candidate_pairs": "count",
    "graph.components": "count",
    "curation.kept_ratio": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "spark.task_busy_share": "ratio",
    "trace.overhead_s": "s",
}

# span name -> per-layer metric holding the span's median self time
SPAN_METRICS = {
    "sources.read": "sources.read_s",
    "plans.build": "plans.build_s",
    "plans.optimize": "plans.optimize_s",
    "sinks.xlsx": "sinks.xlsx.collect_s",
    "sinks.xlsx.render": "sinks.xlsx.render_s",
}


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench +{time.perf_counter() - T_START:.1f}s] {msg}", file=sys.stderr, flush=True)


def set_up(wl) -> tuple[object, float, float]:
    """Start the session and warm it with one operation. Returns the
    session, the session start seconds and the set-up seconds (session
    start plus the warm-up operation; writing the warehouse table in
    between is input preparation and is not counted)."""
    t0 = time.perf_counter()
    from extract_permits_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    wl.start(spark)
    t_session = time.perf_counter() - t0
    t1 = time.perf_counter()
    wl.prepare()
    log(f"prepare {time.perf_counter() - t1:.2f}s (not counted)")
    wl.before_op(0)
    t2 = time.perf_counter()
    wl.op(0)
    t_warm = time.perf_counter() - t2
    wl.check(0)
    log(f"session {t_session:.2f}s + warm-up op {t_warm:.2f}s")
    return spark, t_session, t_session + t_warm


def run_ops(wl, seconds: float, first: int, status: StatusStore | None = None, min_ops: int = 1):
    """Closed loop, one caller: run operations until ``seconds`` have
    passed and at least ``min_ops`` ran. Returns [(wall_s, rows or None,
    engine deltas)]."""
    done = []
    t_start = time.perf_counter()
    i = first
    while True:
        wl.before_op(i)
        snap = status.snapshot() if status else None
        t0, wall = time.perf_counter(), None
        try:
            wl.op(i)
            wall = time.perf_counter() - t0
            deltas = status.delta(snap, wall) if status else {}
            rows = wl.check(i)
        except Exception:  # a failed operation is counted, not fatal
            log(f"op {i} failed:\n{traceback.format_exc()}")
            wall, rows, deltas = wall or time.perf_counter() - t0, None, {}
        done.append((wall, rows, deltas))
        log(f"op {i}: {wall:.3f}s rows={rows}")
        i += 1
        if time.perf_counter() - t_start >= seconds and len(done) >= min_ops:
            return done


def untraced(wl, seconds: float, setup_s: float) -> dict:
    ops = run_ops(wl, seconds, first=1, min_ops=wl.min_ops)
    ok = [(w, r) for w, r, _ in ops if r is not None]
    walls = [w for w, _ in ok]
    result = {
        "attempted": len(ops),
        "failed": len(ops) - len(ok),
        "op_walls": [w for w, _, _ in ops],
        "metrics": {"setup_s": {"value": setup_s, "unit": END_TO_END["setup_s"]}},
    }
    if ok:
        result["metrics"]["op_p50_s"] = {"value": stats.median(walls), "unit": END_TO_END["op_p50_s"]}
        result["metrics"]["rows_per_s"] = {
            "value": stats.median([r / w for w, r in ok]), "unit": END_TO_END["rows_per_s"]
        }
        t = stats.tail(walls)
        result["op_tail"] = None if t is None else {"percentile": t[0], "value_s": t[1]}
    return result


def traced(wl, seconds: float, session_s: float, spans_path: str) -> dict:
    """Per-layer run: one prefix-forcing pass, then operations alternating
    untraced (engine deltas) and traced (spans) until ``seconds`` pass.
    A metric a workload does not exercise reads 0."""
    tr = Tracer()
    status = StatusStore(wl.spark)
    layer = wl.layer_pass()
    log(f"layer pass: {layer}")
    plain, counts, traced_walls, failed, attempted = [], [], [], 0, 0
    t_start = time.perf_counter()
    i = 1
    while True:
        attempted += 2
        wall, rows, deltas = run_ops(wl, 0, first=i, status=status)[0]
        if rows is None:
            failed += 1
        else:
            plain.append(deltas | {"_wall": wall})
        try:
            counts.append(wl.traced_op(i + 1, tr))
            traced_walls.append(tr.durations("op")[-1])
        except Exception:  # a failed operation is counted, not fatal
            log(f"traced op {i + 1} failed:\n{traceback.format_exc()}")
            failed += 1
        i += 2
        if time.perf_counter() - t_start >= seconds:
            break
    tr.dump(spans_path)
    self_s = medians([dict(v) for k, v in tr.self_times().items() if k is not None])
    engine = medians(plain) if plain else {}

    values = {k: v for k, v in layer.items() if k in PER_LAYER}
    values.update(medians(counts) if counts else {})
    values.update({k: v for k, v in engine.items() if k in PER_LAYER})
    values.update({m: self_s[s] for s, m in SPAN_METRICS.items() if s in self_s})
    values["session.start_s"] = session_s
    parsed = values.get("sources.records_parsed")
    if parsed:
        values["sources.keep_ratio"] = values["sources.records_kept"] / parsed
    if "sinks.parquet.write" in self_s:
        # the write span also computes the chain; its noop-forced time is
        # the compute part
        values["sinks.parquet.write_s"] = self_s["sinks.parquet.write"] - layer.get("chain.noop_s", 0.0)
    if traced_walls and "_wall" in engine:
        values["trace.overhead_s"] = stats.median(traced_walls) - engine["_wall"]
    return {
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values.get(k, 0), "unit": u} for k, u in PER_LAYER.items()},
    }


def main(argv: list[str]) -> int:
    if argv[0] == "cache":
        workload, seed, run_dir, cache = argv[1:]
        WORKLOADS[workload](run_dir, int(seed), cache).build_cache()
        return 0
    workload, seed, seconds, trace, run_dir, cache, result_path = argv
    seed, seconds, trace = int(seed), float(seconds), int(trace)
    wl = WORKLOADS[workload](run_dir, seed, cache)
    t0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t0
    log(f"inputs generated in {gen_s:.2f}s (not counted)")
    spark, session_s, setup_s = set_up(wl)
    try:
        if trace:
            result = traced(wl, seconds, session_s, result_path + ".spans.json")
        else:
            result = untraced(wl, seconds, setup_s)
        import pyspark

        result["env"] = {
            "generate_s": gen_s,
            "cores": spark.sparkContext.defaultParallelism,
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "pyspark": pyspark.__version__,
            "python": sys.version.split()[0],
        }
    finally:
        spark.stop()
    stats.check_names(result["metrics"])
    with open(result_path, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
