"""Compare every registry entry's optimized plan with a parent commit's.

    python tools/registry_plans.py PARENT SF_DIR

dumps the optimized logical plan of each ``queries()`` entry over
``SF_DIR`` for the working tree and for ``git archive PARENT``, each in
its own Python process with ``PYTHONPATH`` set to that tree (the Python
UDFs and data sources of some entries are unpickled in Spark's Python
workers, which import from it) and its own scratch working directory.
Four things differ between any two runs of the same plan and are
normalized away before the compare:

- exprIds (``#123``, ``#123L``);
- higher-order-function lambda variables (``x_123``): their ids come from
  a global counter, so a reordered ``_CHECK_FIRST`` shifts them;
- RDD ids;
- per-tree table suffixes (``ivfpq_served_<tag>``,
  ``stream_hll_regs_<hash>``, ...).

Prints ``<n> parent, <m> change; <k> equal; differ: [...]``, then one
line per entry whose plan reads ``ERROR``, and exits 1 if any entry
differs or errs. Each tree takes about 2-3 min at sf0.001 on 4 vCPUs.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def dump(sf_dir: str) -> None:
    """Print ``== name ==`` and the optimized plan of every entry of the
    tree on ``sys.path``."""
    import __spark_entry__ as mod
    from extract_permits_spark.session import free_scratch_checkpoints, get_spark

    spark = get_spark("registry-plans")
    for name, fn in mod.queries().items():
        free_scratch_checkpoints()
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
        except Exception as e:  # noqa: BLE001 — an entry that fails to plan is reported
            plan = f"ERROR {type(e).__name__}: {str(e)[:200]}"
        print(f"== {name} ==\n{plan}", flush=True)
    spark.stop()


def normalize(text: str) -> str:
    text = re.sub(r"#\d+L?", "", text)
    text = re.sub(r"\b(x|y|acc|k|v)_\d+\b", r"\1_", text)
    text = re.sub(r"(RDD|rdd)(\s*at\s*\S+)?\[\d+\]", r"\1[]", text)
    return re.sub(r"\b(ivfpq_served|[a-z_]+)_\d{6,}\b", r"\1_<tag>", text)


def plans(tree: str, sf_dir: str) -> dict[str, str]:
    """``{entry: normalized plan}`` for ``tree``, dumped in a child process."""
    env = dict(os.environ, PYTHONPATH=tree)
    with tempfile.TemporaryDirectory() as cwd:
        run = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--dump", sf_dir],
            cwd=cwd, env=env, capture_output=True, text=True,
        )
    if run.returncode:
        sys.exit(f"plan dump of {tree} failed:\n" + "\n".join(run.stderr.splitlines()[-20:]))
    parts = re.split(r"^== (\S+) ==$", normalize(run.stdout), flags=re.M)
    return dict(zip(parts[1::2], parts[2::2]))


def main(parent_ref: str, sf_dir: str) -> int:
    sf_dir = os.path.abspath(sf_dir)
    with tempfile.TemporaryDirectory() as parent:
        archive = subprocess.run(
            ["git", "-C", REPO, "archive", parent_ref],
            stdout=subprocess.PIPE, check=True,
        ).stdout
        subprocess.run(["tar", "-x", "-C", parent], input=archive, check=True)
        a = plans(parent, sf_dir)
    b = plans(REPO, sf_dir)
    differ = [k for k in a if a[k] != b.get(k)]
    print(f"{len(a)} parent, {len(b)} change; {len(a) - len(differ)} equal; differ: {differ}")
    errors = [k for k in b if b[k].lstrip().startswith("ERROR")]
    for k in errors:
        print(f"{k}: {b[k].strip()}")
    return 1 if differ or errors or len(a) != len(b) else 0


if __name__ == "__main__":
    if sys.argv[1] == "--dump":
        dump(sys.argv[2])
    else:
        sys.exit(main(*sys.argv[1:]))
