"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import child  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


@pytest.mark.parametrize(
    "n, rank, percentile",
    [(0, None, None), (1, None, None), (10, None, None), (11, 1, 100 / 11),
     (12, 2, 100 * 2 / 12), (20, 10, 50.0), (100, 90, 90.0)],
)
def test_tail_leaves_ten_beyond(n, rank, percentile):
    assert stats.tail_rank(n) == rank
    xs = [float(v) for v in range(n, 0, -1)]  # unsorted on purpose
    got = stats.tail(xs)
    if rank is None:
        assert got is None
    else:
        assert got == (percentile, float(rank))
        assert sum(1 for x in xs if x > got[1]) == 10


class _CountingWorkload:
    def __init__(self):
        self.ops = []

    def before_op(self, i):
        pass

    def op(self, i):
        self.ops.append(i)

    def check(self, i):
        return 1


@pytest.mark.parametrize("min_ops", [1, 2, 3])
def test_run_ops_times_at_least_min_ops(min_ops):
    wl = _CountingWorkload()
    done = child.run_ops(wl, 0, first=1, min_ops=min_ops)
    assert wl.ops == list(range(1, min_ops + 1))
    assert [rows for _, rows, _ in done] == [1] * min_ops


def test_median():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


@pytest.fixture(scope="module")
def permits():
    return gen.permit_data()


def test_permit_inputs_are_fixed(permits):
    again = gen.permit_data()
    assert again.permits == permits.permits
    assert again.universe == permits.universe
    assert np.array_equal(again.n_pins, permits.n_pins)
    assert len(permits.permits["permit_"]) == gen.N_PERMITS
    assert len(set(permits.permits["permit_"])) == gen.N_PERMITS


def test_seed_picks_warehouse_and_month_order(permits):
    a, b = gen.warehouse_subset(permits, 7), gen.warehouse_subset(permits, 7)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, gen.warehouse_subset(permits, 8))
    assert a.size == round(gen.WAREHOUSE_SHARE * gen.N_PERMITS)
    # only permits whose dedup keys are all present are seeded
    assert permits.dated[a].all()
    assert gen.month_order(7) == gen.month_order(7) != gen.month_order(8)
    assert sorted(gen.month_order(7)) == list(range(gen.N_MONTHS))


def test_write_permit_inputs_is_deterministic(permits, tmp_path):
    a = gen.write_permit_inputs(permits, 3, str(tmp_path / "a"))
    b = gen.write_permit_inputs(permits, 3, str(tmp_path / "b"))
    with open(a["paths"]["pin_universe"], "rb") as fa, open(b["paths"]["pin_universe"], "rb") as fb:
        assert fa.read() == fb.read()
    assert np.array_equal(a["subset"], b["subset"])
    assert a["seeded_rows"] == b["seeded_rows"] == int(permits.n_pins[a["subset"]].sum())


def test_month_response_holds_the_month(permits, tmp_path):
    path = str(tmp_path / "m.jsonl")
    n = gen.write_month_jsonl(permits, 5, path)
    lo, hi = gen.month_window(5)
    with open(path) as fh:
        recs = [json.loads(line) for line in fh]
    assert len(recs) == n == int((permits.month == 5).sum())
    dated = [r["issue_date"][:10] for r in recs if r["issue_date"][0].isdigit()]
    assert dated and all(lo <= d <= hi for d in dated)


def test_documents_seed_only_reorders():
    a, b, c = gen.documents(1), gen.documents(1), gen.documents(2)
    assert a.equals(b)
    assert not a.equals(c)
    assert a.sort_by("doc_id").equals(c.sort_by("doc_id"))
    assert a.sort_by("doc_id").column("doc_id").to_pylist() == list(range(gen.N_DOCS))


def test_curation_check_against_cached_oracle(tmp_path):
    rows = [(0, "src0", 12, "train"), (1, "src1", 40, "test"), (2, "src2", 12, "valid")]
    with open(tmp_path / "curation_oracle.json", "w") as fh:
        json.dump({"rows": rows}, fh)
    # the seed only reorders the documents, so one answer serves every seed
    for seed in (1, 2):
        wl = workloads.CorpusCuration("unused", seed, str(tmp_path))
        wl._check_oracle(rows)
        for bad in (
            rows[:2],  # a document lost
            [(0, "src0", 12, "valid"), *rows[1:]],
            [(0, "src0", 13, "train"), *rows[1:]],
        ):
            with pytest.raises(workloads.CheckFailed):
                wl._check_oracle(bad)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == child.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == child.PER_LAYER
    for table in (child.END_TO_END, child.PER_LAYER):
        stats.check_names({k: {"unit": u} for k, u in table.items()})
    assert set(child.SPAN_METRICS.values()) <= set(child.PER_LAYER)


def test_check_names_rejects_bad_names():
    with pytest.raises(ValueError):
        stats.check_names({"bad name": {"unit": "s"}})
    with pytest.raises(ValueError):
        stats.check_names({".hidden": {"unit": "s"}})
    with pytest.raises(ValueError):
        stats.check_names({"ok": {"unit": "seconds per op!"}})
