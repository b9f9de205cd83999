"""Transitive rotation audit for the driver-correctness window.

The `_CHECK_FIRST` rotation policy (plans/analytics.py) queues every
registry entry whose code changed since its last driver witness. The r12
verdict found the gap: an edit to a SHARED HELPER (e.g.
functions/similarity.py) left its consuming entries un-queued because
only directly-edited entries jumped. This tool makes the rule transitive
over imports:

    python tools/rotation_audit.py <git-ref>

prints every registry entry that can REACH any engine module changed
since `<git-ref>` (`git diff --name-only <git-ref> -- extract_permits_spark`).

Reachability model (deliberately tiered so one helper edit doesn't
flag all 223 entries):

- SYMBOL level for the first _SYMBOL_DEPTH hops: a from-import
  (`from plans._registry import _dec`) or a module-alias attr use
  (`simfn.lsh_topk(...)`) walks only the named symbol's own body —
  not everything the module imports at module scope;
- module-closure level beyond that, with conservative "*" attribution
  markers (no symbol trail exists for closure reach, so those modules
  always keep their flag);
- EVERY changed module is BODY-GRANULAR (r14; chunks first, then
  generalized after a one-function similarity.py edit flagged 99
  entries): an entry keeps a changed module's flag only if a changed
  top-level def is inside the transitive same-module closure of the
  symbols the walk attributed, or the module scope (constants, imports,
  classes) moved, or the module was reached via a "*" marker. Chunk
  registry modules (plans/analytics*) additionally never bleed through
  as a closure.

Library surface: affected_entries(ref, exempt=()) returns
{entry: [changed modules]}; `exempt` names engine modules whose edits
are DECLARED value-neutral for the round (post-evaluation hygiene) —
the per-round list lives next to _CHECK_FIRST in plans/analytics.py
with its justification, and tests/test_rotation.py pins
affected_entries(_AUDIT_BASE, _AUDIT_HYGIENE_MODULES) ⊆ _CHECK_FIRST.
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# How many hops the walk stays SYMBOL-level before falling back to
# whole-module closure expansion (with conservative "*" markers). r12
# used 2; r14 raised it to 6 after the lsh_cross_hits edit showed
# shallow fallbacks starring functions/similarity for dozens of entries
# whose real chains never touch the changed symbol (the last spurious
# pair, ann_ivf_*, came from a depth-4 boundary at pq._fold_dists_np
# whose module closure loops back to similarity). The walk is memoized
# per entry with depth-keyed guards (order-independent — a hash-seed
# flake at depth-agnostic keys caught this), so the deeper level still
# runs in under a second.
_SYMBOL_DEPTH = 6
PKG = "extract_permits_spark"


def engine_modules() -> dict[str, str]:
    out = {}
    for root, _dirs, files in os.walk(os.path.join(REPO, PKG)):
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(root, f)
                rel = os.path.relpath(p, REPO)[:-3].replace(os.sep, ".")
                if rel.endswith(".__init__"):
                    rel = rel[: -len(".__init__")]
                out[rel] = p
    return out


class ModInfo:
    """Per-module AST digest: alias maps + per-top-level-symbol name use."""

    def __init__(self, mod: str, path: str, all_mods: set[str]):
        self.mod = mod
        tree = ast.parse(open(path).read())
        self.alias_mod: dict[str, str] = {}      # local name -> module it IS
        self.fromname_mod: dict[str, str] = {}   # local name -> module it came FROM
        self.fromname_sym: dict[str, str] = {}   # local name -> its name in that module
        self.registered: dict[str, str] = {}     # registry entry -> function name
        self.symbol_names: dict[str, set[str]] = {}  # top-level def -> names used
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.startswith(PKG):
                        self.alias_mod[a.asname or a.name.split(".")[-1]] = a.name
            elif isinstance(node, ast.ImportFrom) and node.module and node.module.startswith(PKG):
                for a in node.names:
                    nm = a.asname or a.name
                    cand = f"{node.module}.{a.name}"
                    if cand in all_mods:
                        self.alias_mod[nm] = cand  # `from pkg import mod`
                    else:
                        self.fromname_mod[nm] = node.module
                        self.fromname_sym[nm] = a.name  # `import f as g` walks f
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                names: set[str] = set()
                for sub in ast.walk(node):
                    if isinstance(sub, ast.Name):
                        names.add(sub.id)
                    elif isinstance(sub, ast.Attribute):
                        names.add(sub.attr)
                self.symbol_names[node.name] = names
                for dec in node.decorator_list:
                    if (
                        isinstance(dec, ast.Call)
                        and getattr(dec.func, "id", getattr(dec.func, "attr", "")) == "register"
                        and dec.args
                        and isinstance(dec.args[0], ast.Constant)
                    ):
                        self.registered[dec.args[0].value] = node.name


def _changed_symbols(mod: str, path: str, ref: str) -> tuple[set[str], bool]:
    """(top-level defs whose AST dump differs vs `ref`, module-scope
    changed?). The module docstring counts as neither. A def present on
    only one side counts changed; an
    unreadable ref version (new file) counts everything changed. The
    dump includes decorator_list, so an entry whose register() oracle
    SQL literal changed is flagged even with an identical body."""
    rel = os.path.relpath(path, REPO)
    proc = subprocess.run(
        ["git", "show", f"{ref}:{rel}"],
        cwd=REPO, capture_output=True, text=True,
    )
    cur_tree = ast.parse(open(path).read())
    if proc.returncode != 0:
        return {n.name for n in cur_tree.body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))}, True
    old_tree = ast.parse(proc.stdout)

    def digest(tree):
        # the module docstring is not module scope: it moves no entry
        body = tree.body[1:] if ast.get_docstring(tree, clean=False) is not None else tree.body
        defs, scope = {}, []
        for node in body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs[node.name] = ast.dump(node)
            else:
                scope.append(ast.dump(node))
        return defs, scope

    cur_defs, cur_scope = digest(cur_tree)
    old_defs, old_scope = digest(old_tree)
    changed = {
        n for n in set(cur_defs) | set(old_defs)
        if cur_defs.get(n) != old_defs.get(n)
    }
    return changed, cur_scope != old_scope


def affected_entries(ref: str, exempt: set[str] | frozenset = frozenset()):
    """{registry entry: sorted changed modules it reaches} for every
    engine module changed since `ref`, minus `exempt` (the round's
    declared-hygiene modules). Chunk modules are body-granular; see the
    module docstring."""
    diff = subprocess.run(
        ["git", "diff", "--name-only", ref, "--", PKG],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout.split()
    changed = {f[:-3].replace(os.sep, ".") for f in diff if f.endswith(".py")}
    changed -= set(exempt)
    mods = engine_modules()
    allset = set(mods)
    info = {m: ModInfo(m, p, allset) for m, p in mods.items()}
    chunk = {m for m in mods if m.rsplit(".", 1)[-1].startswith("analytics")}

    # module-level import graph over expandable (non-chunk) modules only
    graph: dict[str, set[str]] = {}
    for m, mi in info.items():
        deps = set(mi.alias_mod.values()) | set(mi.fromname_mod.values())
        graph[m] = {d for d in deps if d in allset and d not in chunk}
    closure = {k: set(v) for k, v in graph.items()}
    moved = True
    while moved:
        moved = False
        for k, deps in closure.items():
            add = set().union(*(closure.get(d, set()) for d in deps)) - deps
            if add:
                deps |= add
                moved = True

    def expand(m: str) -> set[str]:
        return {m} | (closure.get(m, set()) if m not in chunk else set())

    def symbol_reach(
        mod: str,
        sym: str,
        depth: int = 0,
        seen: set | None = None,
        attrib: set | None = None,
    ) -> set[str]:
        """Modules reached by symbol `sym` of module `mod` — symbol-level
        for the first two from-import hops (so `from _registry import
        _dec` reaches only what `_dec` uses, not everything `_registry`
        imports at module scope), module-closure beyond.

        `attrib`, when given, collects every (module, symbol) the walk
        attributes — including constant/class imports and the depth≥2
        fallback — separately from the cycle-guard `seen`, so the
        body-granular chunk filter can tell WHICH chunk symbols an entry
        actually uses (a constant's change shows up in the chunk's
        module-scope digest, a def's in its body digest)."""
        if attrib is not None:
            attrib.add((mod, sym))
        if mod not in info:
            return {mod}
        mi = info[mod]
        if sym not in mi.symbol_names:
            return {mod}  # constant / class / unknown: membership only
        if seen is None:  # `or` would discard a passed-in EMPTY collector
            seen = set()
        # key includes DEPTH: the walk behaves differently near the
        # _SYMBOL_DEPTH boundary (symbol-level vs star-expand), so a
        # depth-agnostic guard made results depend on which path reached
        # a symbol first — i.e. on set iteration order / hash seed (a
        # test flake caught it). Per-depth keys cost ≤4x states and make
        # the union order-independent.
        key = (mod, sym, depth)
        if key in seen:
            return {mod}
        seen.add(key)

        def _attr_expand(tgt: str) -> set[str]:
            # module-alias use (`simfn.foo(...)`) — the same two-tier
            # rule as from-imports: at shallow depth, walk each used
            # top-level def of the directly-named module at SYMBOL level
            # (every attr name this symbol uses that is one of the
            # target's defs — over-attribution across same-named defs in
            # two modules only ADDS flags, safe); fall back to whole-
            # closure expansion with "*" markers (the granular filter
            # treats those as must-keep) when no def use is recognizable
            # (constants-only use) or the walk is already deep.
            if tgt in info and depth < _SYMBOL_DEPTH:
                used_defs = mi.symbol_names[sym] & set(
                    info[tgt].symbol_names
                )
                if used_defs:
                    r = {tgt}
                    for a in used_defs:
                        r |= symbol_reach(tgt, a, depth + 1, seen, attrib)
                    return r
            if attrib is not None:
                for cm in expand(tgt):
                    attrib.add((cm, "*"))
            return expand(tgt)

        reach = {mod}
        for n in mi.symbol_names[sym]:
            if n in mi.alias_mod:
                reach |= _attr_expand(mi.alias_mod[n])
            elif n in mi.fromname_mod:
                src, name = mi.fromname_mod[n], mi.fromname_sym[n]
                if depth < _SYMBOL_DEPTH:
                    reach |= symbol_reach(src, name, depth + 1, seen, attrib)
                else:
                    if attrib is not None:
                        attrib.add((src, name))
                        for cm in expand(src) - {src}:
                            attrib.add((cm, "*"))
                    reach |= expand(src)
            elif n in mi.symbol_names and n != sym:
                # same-module helper call: include its reach too
                if depth < _SYMBOL_DEPTH:
                    reach |= symbol_reach(mod, n, depth + 1, seen, attrib)
        return reach

    # body-granular digests for EVERY changed engine module (r14: chunks
    # only at first, then a one-function edit to the 1,900-line
    # functions/similarity.py flagged 99 of 223 entries under the
    # whole-module rule): which top-level defs actually differ vs the
    # ref, and whether the module scope (constants, imports, non-def
    # statements) moved
    mod_digest = {
        m: _changed_symbols(m, mods[m], ref) for m in changed & set(mods)
    }

    def chunk_reach(mi: "ModInfo", fn: str) -> set[str]:
        """fn plus every same-module top-level def it transitively uses
        (the decorator is part of fn's own dump, not walked here)."""
        out, work = {fn}, [fn]
        while work:
            cur = work.pop()
            for n in mi.symbol_names.get(cur, ()):  # noqa: B905
                if n in mi.symbol_names and n not in out:
                    out.add(n)
                    work.append(n)
        return out

    affected: dict[str, list[str]] = {}
    for defmod, mi in info.items():
        for entry, fn in mi.registered.items():
            attrib: set = set()
            reach = symbol_reach(defmod, fn, attrib=attrib)
            hits = set(reach & changed)
            # body-granular pass over every changed module in reach: the
            # (module, symbol) trail records which symbols the walk
            # attributed (own-chunk entry fn, cross-module from-imports,
            # module-alias attr uses); close each over same-module
            # helper calls and keep the flag only if a changed def is
            # touched or the module scope (where constants live) moved.
            # A module reached with a "*" marker (import-closure reach,
            # where no symbol trail exists) stays flagged — conservative.
            for m in list(hits):
                if m not in mod_digest:
                    continue
                syms, scope_moved = mod_digest[m]
                if scope_moved:
                    continue
                entered = {s for (mm, s) in attrib if mm == m}
                if not entered or "*" in entered:
                    continue
                used: set = set()
                for s in entered:
                    used |= chunk_reach(info[m], s)
                if not (used & syms):
                    hits.discard(m)
            if hits:
                affected[entry] = sorted(hits)
    return affected


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    ref = sys.argv[1]
    exempt = set(sys.argv[2:])
    affected = affected_entries(ref, exempt)
    print(f"# affected registry entries since {ref}"
          f"{' (exempt: ' + ', '.join(sorted(exempt)) + ')' if exempt else ''}"
          f": {len(affected)}")
    for e in sorted(affected):
        print(f"{e}\t<- {', '.join(affected[e])}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
