"""Summary statistics and metric naming shared by the launcher and the runs."""

from __future__ import annotations

import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
TAIL_BEYOND = 10


def median(xs: list[float]) -> float:
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def tail_rank(n: int, beyond: int = TAIL_BEYOND) -> int | None:
    """1-based rank of the highest order statistic that still has at least
    ``beyond`` samples above it, or None when ``n`` samples cannot leave
    that many beyond any of them."""
    rank = n - beyond
    return rank if rank >= 1 else None


def tail(xs: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with ``beyond``
    samples beyond it; None when there are too few samples."""
    rank = tail_rank(len(xs), beyond)
    if rank is None:
        return None
    return 100.0 * rank / len(xs), sorted(xs)[rank - 1]


def check_names(metrics: dict[str, dict]) -> None:
    """Raise if a metric name or unit falls outside the result contract."""
    for name, m in metrics.items():
        if not NAME_RE.match(name):
            raise ValueError(f"bad metric name {name!r}")
        if not UNIT_RE.match(m["unit"]):
            raise ValueError(f"bad unit {m['unit']!r} for {name}")
