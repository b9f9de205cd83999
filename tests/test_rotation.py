"""Pins the transitive rotation rule (VERDICT r13 #1): every registry
entry the rotation audit flags as changed since the round's base ref —
minus the round's documented hygiene modules — must be queued in
_CHECK_FIRST, so a helper or chunk edit can never silently dodge its
driver re-witness. Complements test_harness_contracts (window names
exist, order is honored) — this one closes the loop on window CONTENT.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))


def _ref_resolves(ref: str) -> bool:
    return (
        subprocess.run(
            ["git", "rev-parse", "--verify", f"{ref}^{{commit}}"],
            cwd=REPO, capture_output=True,
        ).returncode
        == 0
    )


def test_check_first_covers_rotation_audit():
    import rotation_audit
    from extract_permits_spark.plans import analytics

    if not _ref_resolves(analytics._AUDIT_BASE):
        pytest.skip("audit base commit not present in this clone")
    flagged = rotation_audit.affected_entries(
        analytics._AUDIT_BASE, analytics._AUDIT_HYGIENE_MODULES
    )
    missing = sorted(set(flagged) - set(analytics._CHECK_FIRST))
    assert missing == [], (
        "entries changed since the round's audit base are not queued in "
        f"_CHECK_FIRST: { {m: flagged[m] for m in missing} } — add them "
        "to the window (or, if the edit is value-neutral hygiene, add "
        "its MODULE to _AUDIT_HYGIENE_MODULES with a justification)"
    )


def test_hygiene_exemptions_name_real_modules():
    """A typo'd exemption would silently exempt nothing — fail loudly."""
    import rotation_audit
    from extract_permits_spark.plans import analytics

    mods = set(rotation_audit.engine_modules())
    bogus = sorted(set(analytics._AUDIT_HYGIENE_MODULES) - mods)
    assert bogus == [], f"exempt names are not engine modules: {bogus}"


def test_audit_base_is_full_sha():
    """A branch name or short sha would drift; pin the full 40-char sha
    so the audited diff is the same on every machine."""
    from extract_permits_spark.plans import analytics

    assert len(analytics._AUDIT_BASE) == 40
    assert all(c in "0123456789abcdef" for c in analytics._AUDIT_BASE)


_DEMO_CHUNK = """\
from extract_permits_spark.plans._registry import register


def _shared(x):
    return x


@register("demo_a", "SELECT 1")
def demo_a(spark, sf_dir):
    return _shared(1)


@register("demo_b", "SELECT 2")
def demo_b(spark, sf_dir):
    return _shared(2)


@register("demo_c", "SELECT 3")
def demo_c(spark, sf_dir):
    return 3
"""


def _git(cwd, *args) -> str:
    return subprocess.run(
        ["git", "-c", "user.name=t", "-c", "user.email=t@t", *args],
        cwd=cwd, capture_output=True, text=True, check=True,
    ).stdout.strip()


_DEMO_HELPER = '''\
"""Demo helpers: one constant, one function."""

LIMIT = 3


def clip(x):
    return min(x, LIMIT)
'''

_DEMO_CONSUMER = """\
from extract_permits_spark.functions.demo import clip
from extract_permits_spark.plans._registry import register


@register("demo_clip", "SELECT 1")
def demo_clip(spark, sf_dir):
    return clip(5)


@register("demo_plain", "SELECT 2")
def demo_plain(spark, sf_dir):
    return 2
"""


def _demo_flags(
    tmp_path, monkeypatch, edit, files=None, edited="plans/analytics_demo.py"
) -> dict:
    """affected_entries over a throwaway repo holding `files` (package-
    relative path -> source; by default one chunk module with three
    entries), after `edit` rewrites the source of `edited`."""
    import rotation_audit

    pkg = tmp_path / "extract_permits_spark"
    files = {
        "plans/_registry.py": "def register(name, sql):\n    return lambda fn: fn\n",
        **(files or {"plans/analytics_demo.py": _DEMO_CHUNK}),
    }
    for rel, src in files.items():
        (pkg / rel).parent.mkdir(parents=True, exist_ok=True)
        (pkg / rel).write_text(src)
    _git(tmp_path, "init", "-q")
    _git(tmp_path, "add", ".")
    _git(tmp_path, "commit", "-q", "-m", "base")
    base = _git(tmp_path, "rev-parse", "HEAD")
    (pkg / edited).write_text(edit(files[edited]))
    monkeypatch.setattr(rotation_audit, "REPO", str(tmp_path))
    return rotation_audit.affected_entries(base)


def test_module_docstring_edit_flags_no_entry(tmp_path, monkeypatch):
    """A module docstring moves no entry's values or plan: rewording one
    flags nothing, while a constant edit in the same module still flags
    the entry that uses the module (and only that one)."""
    files = {"functions/demo.py": _DEMO_HELPER, "plans/analytics_demo.py": _DEMO_CONSUMER}
    docstring = _demo_flags(
        tmp_path / "doc", monkeypatch,
        lambda src: src.replace("Demo helpers:", "Helpers for the demo:"),
        files, "functions/demo.py",
    )
    assert docstring == {}
    constant = _demo_flags(
        tmp_path / "const", monkeypatch,
        lambda src: src.replace("LIMIT = 3", "LIMIT = 4"),
        files, "functions/demo.py",
    )
    assert constant == {"demo_clip": ["extract_permits_spark.functions.demo"]}


def test_chunk_granularity_drops_untouched_entries(tmp_path, monkeypatch):
    """The r14 body-granular rule: an edit inside one chunk entry must
    not flag the chunk's unrelated entries (the pre-r14 behavior flagged
    all ~70). Pinned on a three-entry demo chunk, and on the round's real
    diff whenever that diff touches a chunk module."""
    import rotation_audit
    from extract_permits_spark.plans import analytics

    demo = "extract_permits_spark.plans.analytics_demo"
    own_body = _demo_flags(
        tmp_path / "own", monkeypatch,
        lambda src: src.replace("return 3", "return 4"),
    )
    assert own_body == {"demo_c": [demo]}
    shared_helper = _demo_flags(
        tmp_path / "helper", monkeypatch,
        lambda src: src.replace("return x", "return x + 0"),
    )
    assert shared_helper == {"demo_a": [demo], "demo_b": [demo]}
    monkeypatch.undo()

    if not _ref_resolves(analytics._AUDIT_BASE):
        return
    flagged = rotation_audit.affected_entries(
        analytics._AUDIT_BASE, analytics._AUDIT_HYGIENE_MODULES
    )
    chunk_flagged = [
        e for e, mods in flagged.items()
        if any(m.rsplit(".", 1)[-1].startswith("analytics") for m in mods)
    ]
    # strictly fewer than a whole chunk's membership (~55+ entries each)
    assert len(chunk_flagged) < 40, (
        "chunk edits are flagging near-whole-chunk memberships again: "
        f"{sorted(chunk_flagged)[:50]}"
    )
