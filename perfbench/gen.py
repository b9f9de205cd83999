"""Deterministic input generators for the benchmark.

The *shape* of every input (row counts, value distributions, duplicate
density) is fixed by ``BASE_SEED`` so every run does the same amount of
work; the run's ``--seed`` only chooses which permits are already in the
warehouse, the order the months are pulled in, and the document order.
Nothing here imports Spark: inputs are plain parquet / JSON-lines files,
which is all the program under test ever receives.

Sizes follow the repo's sf0.1 fixtures: 150,000 permits over 80 months
(~1,900 a month), 15,000 parcels, 5,000 documents.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from datetime import date

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20_240_101
N_PERMITS = 150_000
N_PARCELS = 15_000
N_MONTHS = 80
FIRST_MONTH = (2018, 1)
N_DOCS = 5_000
WAREHOUSE_SHARE = 0.10

PERMIT_COLUMNS = [
    "permit_",
    "issue_date",
    "reported_cost",
    "street_number",
    "street_direction",
    "street_name",
    "suffix",
    "contact_1_name",
    "work_description",
    "pin_list",
]

_STREETS = [
    "MAIN ST", "OAK AVE", "ELM ST", "STATE ST", "HALSTED ST", "ASHLAND AVE",
    "WESTERN AVE", "CICERO AVE", "PULASKI RD", "KEDZIE AVE", "ARCHER AVE",
    "MILWAUKEE AVE", "CLARK ST", "BROADWAY", "LAKE SHORE DR", "IRVING PARK RD",
    "FULLERTON AVE", "DIVISION ST", "ROOSEVELT RD", "CERMAK RD",
]
_DIRS = ["N", "S", "E", "W"]
_NAMES = [
    "ACME BUILDING COMPANY", "LAKESIDE CONSTRUCTION CORPORATION",
    "NORTH SHORE APARTMENTS MANAGEMENT", "ILLINOIS ROOFING INCORPORATED",
    "PLAZA HOMES LIMITED", "MIDWEST FOUNDATION ASSOCIATION", "JOHN SMITH",
    "MARIA GARCIA", "CITY ELECTRIC COMPANY", "BOULEVARD DEVELOPMENT CORPORATION",
    "SOUTH SIDE BUILDING ASSOCIATION", "CHEN PLUMBING",
]
_WORK = [
    "ERECT NEW TWO STORY GARAGE", "REPAIR ROOF AND REPLACE GUTTERS",
    "INTERIOR ALTERATION OF BASEMENT", "INSTALL SOLAR PANELS ON ROOF",
    "WRECK AND REMOVE EXISTING FRAME SHED", "REPLACE HVAC UNIT",
    "CONVERT ATTIC TO LIVING SPACE", "NEW ENCLOSED PORCH (REAR)",
    "REPLACE WATER HEATER", "MASONRY TUCKPOINTING ON FRONT ELEVATION",
    "INSTALL FIRE ALARM SYSTEM", "BATHROOM REMODEL: NEW FIXTURES",
    "PROPOSED DORMER ADDITION", "REPAIR FRONT STAIRS", "ELECTRICAL UPGRADE 200A",
    "SIGN PERMIT", "REHAB VACANT BUILDING", "ADU COACH HOUSE CONSTRUCTION",
]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _distinct(rng: np.random.Generator, lo: int, hi: int, k: int) -> np.ndarray:
    """``k`` distinct integers in [lo, hi), in random order."""
    draw = rng.integers(lo, hi, 2 * k)
    _, first = np.unique(draw, return_index=True)
    out = draw[np.sort(first)][:k]
    if out.size < k:
        raise ValueError("range too small for k distinct values")
    return out


def _month(i: int) -> tuple[int, int]:
    y, m = FIRST_MONTH
    k = (y * 12 + m - 1) + i
    return k // 12, k % 12 + 1


def month_window(i: int) -> tuple[str, str]:
    """(first day, last day) of month ``i`` as ISO dates."""
    y, m = _month(i)
    ny, nm = _month(i + 1)
    last = date.fromordinal(date(ny, nm, 1).toordinal() - 1)
    return date(y, m, 1).isoformat(), last.isoformat()


@dataclass
class PermitData:
    """The permit-side inputs, as Python columns (one list per column)."""

    permits: dict[str, list]
    month: np.ndarray  # month index per permit
    n_pins: np.ndarray  # exploded rows each permit yields
    dated: np.ndarray  # issue_date parses: inside a month window, dedup keys all present
    universe: dict[str, list]


def permit_data() -> PermitData:
    """The fixed permit and parcel tables (independent of the run seed)."""
    rng = np.random.default_rng(BASE_SEED)
    # parcels: 14-digit PINs, ~20% sharing an address with a neighbour
    pin10 = _distinct(rng, 10**9, 3 * 10**9, N_PARCELS)
    unit = np.where(rng.random(N_PARCELS) < 0.15, 1001, 0)
    pins = [f"{p:010d}{u:04d}" for p, u in zip(pin10, unit)]
    addr_of = np.arange(N_PARCELS)
    shared = rng.random(N_PARCELS) < 0.2
    addr_of[shared] = np.maximum(addr_of[shared] - 1, 0)
    num = rng.integers(100, 9999, N_PARCELS)
    dir_ = rng.integers(0, 4, N_PARCELS)
    street = rng.integers(0, len(_STREETS), N_PARCELS)
    addresses = [
        f"{num[a]} {_DIRS[dir_[a]]} {_STREETS[street[a]]}" for a in addr_of
    ]
    triad = np.where(rng.random(N_PARCELS) < 0.9, "City", "North")
    universe = {
        "pin": pins,
        "pin10": [p[:10] for p in pins],
        "prop_address_full": addresses,
        "year": ["2024"] * N_PARCELS,
        "triad_name": triad.tolist(),
    }

    n = N_PERMITS
    month = np.sort(rng.integers(0, N_MONTHS, n))
    day = rng.integers(1, 29, n)
    bad_date = rng.random(n) < 0.005
    issue = []
    for mi, d, bad in zip(month, day, bad_date):
        y, m = _month(int(mi))
        issue.append("not-a-date" if bad else f"{y:04d}-{m:02d}-{d:02d}T00:00:00.000000")
    cost = np.round(np.exp(rng.normal(9.0, 1.5, n)), 2)
    low_cost = rng.random(n) < 0.03
    cost[low_cost] = 0.4
    home = rng.integers(0, N_PARCELS, n)
    at_home = rng.random(n) < 0.7
    no_dir = rng.random(n) < 0.03
    away_num = rng.integers(1, 12000, n)
    away_dir = rng.integers(0, 4, n)
    away_street = rng.integers(0, len(_STREETS), n)
    a = addr_of[home]
    street_number = np.where(at_home, num[a], away_num).astype(str).tolist()
    dir_idx = np.where(at_home, dir_[a], away_dir)
    street_direction = [None if nd else _DIRS[d] for d, nd in zip(dir_idx, no_dir)]
    street_name = [_STREETS[k] for k in np.where(at_home, street[a], away_street)]
    name_idx = rng.integers(0, len(_NAMES), n)
    long_name = rng.random(n) < 0.002
    names = [
        _NAMES[k] + (" AND SONS GENERAL CONTRACTING SERVICES OF GREATER CHICAGO" if ln else "")
        for k, ln in zip(name_idx, long_name)
    ]
    work_a = rng.integers(0, len(_WORK), n)
    work_b = rng.integers(0, len(_WORK), n)
    two = rng.random(n) < 0.4
    work = [
        _WORK[a] + ("; " + _WORK[b] if t else "") for a, b, t in zip(work_a, work_b, two)
    ]
    # PIN lists: 1-7 distinct parcels, first one the permit's home parcel;
    # surface forms as the portal serves them (bare, hyphenated, 10-digit)
    k_pins = rng.integers(1, 8, n)
    no_pins = rng.random(n) < 0.02
    others = rng.integers(0, N_PARCELS, int(k_pins.sum()))
    form = rng.random(others.size + n)
    unknown = rng.integers(10**13, 10**14, others.size + n)
    pin_list: list[str | None] = []
    n_pins = np.ones(n, dtype=np.int64)
    o = 0
    for i in range(n):
        k = int(k_pins[i])
        chosen = list(dict.fromkeys([int(home[i]), *others[o : o + k - 1].tolist()]))
        o += k
        if no_pins[i]:
            pin_list.append(None)
            continue
        forms = []
        for j, parcel in enumerate(chosen):
            p, r = pins[parcel], form[o + j]
            if r < 0.15:
                forms.append(f"{p[0:2]}-{p[2:4]}-{p[4:7]}-{p[7:10]}-{p[10:14]}")
            elif r < 0.25 and p.endswith("0000"):
                forms.append(p[:10])
            elif r < 0.28:
                forms.append(f"{unknown[o + j]:014d}")  # parcel not in the universe
            else:
                forms.append(p)
        pin_list.append(" | ".join(forms))
        n_pins[i] = len(forms)
    permits = {
        "permit_": [f"1{i:08d}" for i in _distinct(rng, 0, 10**8, n)],
        "issue_date": issue,
        "reported_cost": [f"{c:.2f}" for c in cost],
        "street_number": street_number,
        "street_direction": street_direction,
        "street_name": street_name,
        "suffix": [None] * n,
        "contact_1_name": names,
        "work_description": work,
        "pin_list": pin_list,
    }
    return PermitData(
        permits=permits,
        month=month,
        n_pins=n_pins,
        dated=~bad_date,
        universe=universe,
    )


def warehouse_subset(data: PermitData, seed: int) -> np.ndarray:
    """Indices of the permits already loaded into the warehouse: a
    seed-chosen ~10% of the permits whose dedup keys are all non-NULL."""
    rng = np.random.default_rng(seed)
    eligible = np.flatnonzero(data.dated)
    k = int(round(WAREHOUSE_SHARE * N_PERMITS))
    return np.sort(rng.choice(eligible, k, replace=False))


def month_order(seed: int) -> list[int]:
    """The order a run pulls the months in."""
    return np.random.default_rng(seed + 1).permutation(N_MONTHS).tolist()


def _table(cols: dict[str, list], names: list[str]) -> pa.Table:
    return pa.Table.from_arrays([pa.array(cols[c], pa.string()) for c in names], names=names)


def write_permit_inputs(data: PermitData, seed: int, out_dir: str) -> dict:
    """Write the pin_universe parquet file (and name the path
    ``write_permits_raw`` writes to). Returns paths, the seeded permits
    (``subset``) and the expected counts the output checks use."""
    os.makedirs(out_dir, exist_ok=True)
    subset = warehouse_subset(data, seed)
    paths = {
        "permits_raw": os.path.join(out_dir, "permits_raw.parquet"),
        "pin_universe": os.path.join(out_dir, "pin_universe.parquet"),
    }
    pq.write_table(
        _table(data.universe, ["pin", "pin10", "prop_address_full", "year", "triad_name"]),
        paths["pin_universe"],
    )
    return {
        "paths": paths,
        "exploded_rows": int(data.n_pins.sum()),
        "seeded_rows": int(data.n_pins[subset].sum()),
        "subset": subset,
    }


def write_permits_raw(data: PermitData, path: str) -> None:
    """All permits as one parquet file (the backfill's input)."""
    pq.write_table(_table(data.permits, PERMIT_COLUMNS), path)


def write_month_jsonl(data: PermitData, month: int, path: str) -> int:
    """One month's Socrata response as JSON lines; returns the record count."""
    rows = np.flatnonzero(data.month == month)
    with open(path, "w") as fh:
        for i in rows:
            rec = {c: data.permits[c][i] for c in PERMIT_COLUMNS}
            fh.write(json.dumps({k: v for k, v in rec.items() if v is not None}))
            fh.write("\n")
    return int(rows.size)


def documents(seed: int) -> pa.Table:
    """The 5,000-document corpus: 30-word vocabulary, 10-100 tokens, 5%
    near-duplicates (a copy of another document plus one token), a few
    exact copies, URL-bearing, whitespace-padded and too-short texts.
    The corpus is fixed, ids included; ``seed`` only permutes the order
    the documents are stored in, so every seed asks for the same work and
    the same answer."""
    rng = np.random.default_rng(BASE_SEED + 7)
    texts: list[str] = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 20 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        if i > 20 and r < 0.055:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        n_tok = int(rng.integers(10, 101)) if r < 0.99 else int(rng.integers(1, 5))
        words = [_VOCAB[k] for k in rng.integers(0, len(_VOCAB), n_tok)]
        if rng.random() < 0.03:
            words.insert(int(rng.integers(0, len(words) + 1)), f"https://example.com/p/{i}")
        sep = "  " if rng.random() < 0.02 else " "
        texts.append(sep.join(words))
    lang = rng.choice(_LANGS, N_DOCS, p=_LANG_P).tolist()
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang, pa.string()),
            "source": pa.array([f"src{d % 20}" for d in range(N_DOCS)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return table.take(np.random.default_rng(seed + 2).permutation(N_DOCS))


def write_documents(seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents(seed), os.path.join(out_dir, "documents.parquet"))
