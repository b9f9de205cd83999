"""Benchmark entry point.

    python3 perfbench/run.py --workload permit_monthly --seed 1 --seconds 5 --trace 0

Run from the repository root. Pins the environment the run uses (all of
this machine's cores, a driver heap sized to its RAM, PYTHONPATH with the
repository, Spark and temp dirs inside perfbench/out), starts one run in
a child process, samples the resident memory of the Spark JVM and its
Python workers while it runs (kept with the full result), and prints the result as the last line of
standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones. The full result (operation times, tail percentile, versions, load
average) is kept under perfbench/out/results/.

The first run of a workload in a checkout first makes that workload's
seed-independent inputs (perfbench/out/cache/, keyed by the sources) in
a child process and session of their own.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
WORKLOADS = ("permit_bulk", "permit_monthly", "corpus_curation")
TIMEOUT_S = 170
# the first run in a checkout may take longer: it also makes the input cache
CACHE_TIMEOUT_S = 600
PAGE = os.sysconf("SC_PAGE_SIZE")


def driver_memory() -> str:
    """A quarter of physical RAM, between 2 and 6 GiB: room for the
    Python workers and the rest of the machine beside the JVM heap."""
    with open("/proc/meminfo") as fh:
        kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return f"{max(2, min(6, kb // 4 // 1024**2))}g"


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def engine_rss_mb(pid: int) -> tuple[float, float]:
    """Resident MB of every process below ``pid`` (the JVM, the Python
    workers it forks, and their launch shells), not ``pid`` itself; and
    of the JVM alone."""
    kids = _children()
    stack, total, jvm = list(kids.get(pid, [])), 0, 0
    while stack:
        p = stack.pop()
        stack.extend(kids.get(p, []))
        try:
            with open(f"/proc/{p}/statm") as fh:
                rss = int(fh.read().split()[1]) * PAGE
            with open(f"/proc/{p}/comm") as fh:
                if fh.read().strip() == "java":
                    jvm += rss
        except OSError:
            continue
        total += rss
    return total / 1024**2, jvm / 1024**2


def become_subreaper() -> None:
    """Make processes orphaned below this one (the JVM outlives the run's
    Python process) this process's children, so it can reap them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_group(pgid: int, timeout_s: float = 10.0) -> None:
    """Kill what is left of the run's process group (the JVM and its
    Python workers) and reap it, until the group is empty."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.05)


def cpu_check_s() -> float:
    """Seconds for a fixed pure-Python loop: a record of how fast this
    machine ran right after the run, for reading the run's timings."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def environment(run_dir: str) -> dict[str, str]:
    cpus = str(len(os.sched_getaffinity(0)))
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=cpus,
        SPARK_GRAFT_DRIVER_MEM=driver_memory(),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        # the same string hashing, so set and dict order, in every run
        PYTHONHASHSEED="0",
        PYSPARK_SUBMIT_ARGS=(
            # no hsperfdata files in the system temp dir
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
            "pyspark-shell"
        ),
    )
    env.pop("SPARK_GRAFT_DF_DEBUGGING", None)
    env.pop("SPARK_GRAFT_CODEGEN_MAXFIELDS", None)
    return env


def source_key() -> str:
    """Digest of the program's and the input generator's sources: a cache
    made by other code is not used."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "gen.py"), os.path.join(HERE, "workloads.py")]
    for d, dirs, names in os.walk(os.path.join(ROOT, "extract_permits_spark")):
        dirs.sort()
        files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def run_child(args: list[str], run_dir: str, timeout_s: float) -> tuple[int, float, float]:
    """Run child.py with ``args`` in its own process group, with the pinned
    environment, sampling the memory of the engine below it; kill and reap
    the whole group when it ends. Returns (exit code, peak MB of the JVM
    plus its Python workers, peak MB of the JVM)."""
    env = environment(run_dir)
    cmd = [sys.executable, os.path.join(HERE, "child.py"), *args]
    peak = peak_jvm = 0.0
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr, start_new_session=True)
    deadline = time.monotonic() + timeout_s
    try:
        while proc.poll() is None:
            rss, jvm = engine_rss_mb(proc.pid)
            peak, peak_jvm = max(peak, rss), max(peak_jvm, jvm)
            if time.monotonic() > deadline:
                print("perfbench: run timed out", file=sys.stderr)
                break
            time.sleep(0.5)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        stop_group(proc.pid)
        shutil.rmtree(run_dir, ignore_errors=True)
    return proc.returncode, peak, peak_jvm


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()

    if not os.path.isdir(os.path.join(ROOT, "extract_permits_spark")):
        print("perfbench: the program (extract_permits_spark/) is not here", file=sys.stderr)
        return 2

    become_subreaper()
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    cache = os.path.join(OUT, "cache", source_key(), args.workload)
    if not os.path.isdir(cache):
        # the first run of a workload in a checkout
        tmp = f"{cache}.tmp-{os.getpid()}"
        os.makedirs(tmp)
        code, _, _ = run_child(
            ["cache", args.workload, str(args.seed), os.path.join(OUT, "cache-" + name), tmp],
            os.path.join(OUT, "cache-" + name), CACHE_TIMEOUT_S,
        )
        if code != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            print(f"perfbench: making the input cache failed (exit {code})", file=sys.stderr)
            return 1
        os.rename(tmp, cache)
        print(f"perfbench: input cache made in {time.monotonic() - t_start:.1f}s", file=sys.stderr)

    run_dir = os.path.join(OUT, name)
    results_dir = os.path.join(OUT, "results")
    os.makedirs(results_dir, exist_ok=True)
    result_path = os.path.join(results_dir, name + ".json")
    with open("/proc/loadavg") as fh:
        load_before = fh.read().split()[:3]
    code, peak, peak_jvm = run_child(
        [args.workload, str(args.seed), str(args.seconds), str(args.trace), run_dir, cache, result_path],
        run_dir, TIMEOUT_S,
    )
    if code != 0 or not os.path.exists(result_path):
        print(f"perfbench: run failed (exit {code})", file=sys.stderr)
        return 1
    with open(result_path) as fh:
        result = json.load(fh)
    with open("/proc/loadavg") as fh:
        result["env"]["loadavg"] = {"before": load_before, "after": fh.read().split()[:3]}
    result["env"]["cpu_check_s"] = cpu_check_s()
    result["env"]["nproc"] = len(os.sched_getaffinity(0))
    # recorded, not a metric: JVM heap growth spreads it by more than a
    # tenth between runs of the same code
    result["env"]["peak_rss_mb"] = peak
    result["env"]["peak_jvm_rss_mb"] = peak_jvm
    with open(result_path, "w") as fh:
        json.dump(result, fh, indent=1)
    print(f"perfbench: run took {time.monotonic() - t_start:.1f}s", file=sys.stderr)
    ok_metrics = all(m["value"] == m["value"] for m in result["metrics"].values())
    line = {
        "correct": result["failed"] == 0 and ok_metrics,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": result["metrics"],
    }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
