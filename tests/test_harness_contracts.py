"""Meta-tests for the driver-facing harness contracts.

Two past failure modes these pin down:
- r5's bench crashed because a headline name drifted from the registry;
- a typo in the _CHECK_FIRST rotation would SILENTLY drop the entry
  from the driver's 50-entry correctness window (_reordered skips
  unknown names), so the window would record something else instead.
"""

from __future__ import annotations


def test_bench_headline_names_resolve_and_have_oracles():
    import bench
    from extract_permits_spark.plans import analytics

    qs = analytics.queries()
    oracles = analytics.oracle_sql()
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert missing == [], f"HEADLINE names not in registry: {missing}"
    # every headline entry has an oracle twin (bench_oracle pairs them,
    # modulo its documented skip_timing set)
    no_oracle = [n for n in bench.HEADLINE if n not in oracles]
    assert no_oracle == [], f"HEADLINE names without oracle SQL: {no_oracle}"


def test_check_first_rotation_is_exact_window():
    from extract_permits_spark.plans import analytics

    qs = analytics.queries()
    unknown = [n for n in analytics._CHECK_FIRST if n not in analytics._QUERIES]
    assert unknown == [], f"_CHECK_FIRST names not registered: {unknown}"
    assert len(analytics._CHECK_FIRST) == len(set(analytics._CHECK_FIRST))
    # the driver records the FIRST 50 queries() entries; the rotation
    # list must fill that window exactly (no accidental shrink)
    assert len(analytics._CHECK_FIRST) >= 50
    assert list(qs)[: len(analytics._CHECK_FIRST)] == analytics._CHECK_FIRST


def test_every_query_has_matching_oracle_or_is_documented():
    from extract_permits_spark.plans import analytics

    qs = analytics.queries()
    oracles = analytics.oracle_sql()
    # current repo state: every entry is oracle-checked; if a future
    # non-SQL-expressible entry lands, list it here explicitly
    documented_rows_only: set[str] = set()
    missing = [n for n in qs if n not in oracles and n not in documented_rows_only]
    assert missing == []


def test_coverage_md_tracks_registry_both_ways():
    """COVERAGE.md is hand-kept; this pins it to the registry in BOTH
    directions (r7 VERDICT #7). Forward: every queries() name must appear
    backticked somewhere in COVERAGE.md. Reverse: every backticked
    snake_case token inside a 'queries() entry' table column must BE a
    registry name — a renamed or deleted entry can't leave a stale row."""
    import os
    import re

    from extract_permits_spark.plans import analytics

    path = os.path.join(os.path.dirname(__file__), "..", "COVERAGE.md")
    text = open(path, encoding="utf-8").read()
    names = set(analytics.queries())

    missing = sorted(n for n in names if f"`{n}`" not in text)
    assert missing == [], f"queries() entries absent from COVERAGE.md: {missing}"

    # locate the 'queries() entry' column (3rd) of every markdown table row
    stale = []
    in_table = False
    tables_matched = 0
    for line in text.splitlines():
        if line.startswith("|"):
            cells = [c.strip() for c in line.strip("|").split("|")]
            if len(cells) >= 3 and "queries() entry" in cells[2]:
                in_table = True
                tables_matched += 1
                continue
            if in_table and len(cells) >= 3 and not set(cells[2]) <= {"-", " "}:
                for tok in re.findall(r"`([a-z][a-z0-9_]*)`", cells[2]):
                    if tok not in names:
                        stale.append(tok)
        else:
            in_table = False
    # r8 ADVICE: a header rename would silently disable the reverse check
    # (in_table never entered). Require the column header to have matched
    # at least once so the guard fails loudly instead of going blind.
    assert tables_matched > 0, (
        "no COVERAGE.md table has a 'queries() entry' third-column header; "
        "the reverse drift check would be a no-op — fix the header or this test"
    )
    assert stale == [], f"COVERAGE.md cites non-registry entry names: {stale}"


def test_registry_chunks_import_standalone():
    """Worker-unpickle regression class (r12): a Spark executor
    deserializing a UDF whose __module__ is a chunk imports that chunk
    DIRECTLY, in a fresh interpreter, without the hub having run first.
    Each registry module must therefore import standalone — a chunk that
    pulls the hub mid-initialization dies with a
    partially-initialized-module ImportError on executors while every
    driver-side test stays green (s1_socrata_pull's Python datasource
    found this the hard way). Subprocesses, not importlib: the point is
    a COLD sys.modules."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for mod in (
        "extract_permits_spark.plans._registry",
        "extract_permits_spark.plans.analytics_core",
        "extract_permits_spark.plans.analytics_corpus",
        "extract_permits_spark.plans.analytics_events",
        "extract_permits_spark.plans.analytics_rag",
        "extract_permits_spark.plans.tpch_extra",
        "extract_permits_spark.plans.analytics",
    ):
        r = subprocess.run(
            [sys.executable, "-c", f"import {mod}"],
            capture_output=True,
            text=True,
            cwd=repo,
        )
        assert r.returncode == 0, f"{mod} failed standalone import:\n{r.stderr[-2000:]}"
