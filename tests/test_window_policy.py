"""Automated driver-window policy (VERDICT r3 ask #2).

Policy (set in round 2, violated for streaming in round 3): any query key
whose implementing code changed since the key's LAST driver-green round
must sit inside the driver's first-50 correctness window, so the next
CORRECTNESS_r{N}.json re-verifies it at sf0.01.

This test automates the bookkeeping end-to-end from repo history — no
manually-maintained JSON to rot:

* last green round per key  = the highest CORRECTNESS_r*.json containing
  the key with ``hash_match: true`` (or a rows-only ``no_oracle`` row —
  that IS that key's strongest possible driver signal);
* the code the driver verified = the tree at the commit that ADDED that
  round's CORRECTNESS file (the driver commits results on the final tree
  of the round);
* implementing code per key   = FUNCTION-granular since round 10
  (VERDICT r9 ask #2 — module-level granularity let r9's additive edits
  mark 296 keys changed, trip the |C| > 50 escape hatch, and pass on a
  stale pin): each package file is parsed into top-level UNITS (defs with
  their decorators, name-binding statements, loose statements); a key's
  implementing code is the set of defs transitively reachable from its
  registered function through a name-reference graph over the package;
* changed                     = any reachable def's SOURCE SEGMENT differs
  between the round commit (``git show``) and the WORKING TREE (so the
  test bites before commit, not after), or a referenced module-level
  binding changed, or a loose statement changed in a file of the key's
  import closure (file-level fallback — loose code can affect anything).
  Appending a NEW function to a module no longer flags the module's
  existing keys.

Rule: with C = changed-or-never-verified keys and W = the first-50
window — if |C| ≤ 50 then C ⊆ W (every changed key gets a driver row
next round); if |C| > 50 the window can't hold them all, so every slot
must at least be SPENT on a changed key (prioritization, the best any
round can do).  Additionally (VERDICT r9 ask #2b): while any key has
NEVER held a driver row, the pinned window must not equal the previous
round's CORRECTNESS key set — the exact stale-pin state r9 shipped in.
"""

from __future__ import annotations

import ast
import json
import re
import subprocess
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "zip_to_parquet_spark"
WINDOW = 50


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", str(REPO), *args],
        check=True,
        capture_output=True,
        text=True,
    ).stdout


def _module_file(dotted: str, known: set[str] | None = None) -> str | None:
    """'zip_to_parquet_spark.operators.vectors' → repo-relative file; with
    ``known``, looked up in that set of files instead of the working tree."""
    rel = Path(dotted.replace(".", "/"))
    for cand in (rel.with_suffix(".py"), rel / "__init__.py"):
        found = str(cand) in known if known is not None else (REPO / cand).exists()
        if found:
            return str(cand)
    return None


def _package_sources(rev: str | None = None) -> dict[str, str]:
    """Repo-relative file → source of every package module, from the
    working tree, or from commit ``rev``."""
    if rev is None:
        return {
            str(f.relative_to(REPO)): f.read_text() for f in (REPO / PKG).rglob("*.py")
        }
    files = _git("ls-tree", "-r", "--name-only", rev, "--", PKG).splitlines()
    return {rel: _git_blob(rev, rel) for rel in files if rel.endswith(".py")}


def _import_closure(rev: str | None = None) -> dict[str, set[str]]:
    """file → transitive set of package files it imports (itself included)."""
    sources = _package_sources(rev)
    known = set(sources)
    edges: dict[str, set[str]] = {}
    for rel, src in sources.items():
        deps: set[str] = set()
        for m in re.finditer(
            rf"^\s*from\s+({PKG}[.\w]*)\s+import\s+([^\n]+)", src, re.M
        ):
            base, names = m.group(1), m.group(2)
            bf = _module_file(base, known)
            if bf:
                deps.add(bf)
            # `from pkg.plans import llm, relational` imports submodules.
            for name in re.findall(r"\w+", names.split("#")[0]):
                sub = _module_file(f"{base}.{name}", known)
                if sub:
                    deps.add(sub)
        for m in re.finditer(rf"^\s*import\s+({PKG}[.\w]*)", src, re.M):
            bf = _module_file(m.group(1), known)
            if bf:
                deps.add(bf)
        edges[rel] = deps
    closure: dict[str, set[str]] = {}

    def walk(node: str, acc: set[str]) -> None:
        if node in acc:
            return
        acc.add(node)
        for dep in edges.get(node, ()):
            walk(dep, acc)

    for node in edges:
        acc: set[str] = set()
        walk(node, acc)
        closure[node] = acc
    return closure


def _last_green_rounds() -> dict[str, int]:
    """key → highest round with a driver row that counts as verified."""
    green: dict[str, int] = {}
    for f in sorted(REPO.glob("CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", f.name).group(1))
        for key, res in json.loads(f.read_text()).items():
            if res.get("hash_match") or res.get("err") == "no_oracle":
                green[key] = max(green.get(key, 0), rnd)
    return green


def _round_commit(rnd: int) -> str | None:
    """The commit that ADDED CORRECTNESS_r{rnd}.json (driver round end)."""
    out = _git(
        "log",
        "--format=%H",
        "--diff-filter=A",
        "--",
        f"CORRECTNESS_r{rnd:02d}.json",
    ).strip()
    return out.splitlines()[0] if out else None


# Sentinel: "every file changed" — used when a round's CORRECTNESS file has
# no owning commit (untracked / rewritten history), so we cannot know what
# tree the driver verified.  Treating that as "nothing changed" would
# silently waive the policy (VERDICT r4 ask #3); instead every key last
# green in that round counts as changed, which is loud.
_ALL_CHANGED = object()

_WORD = re.compile(r"[A-Za-z_]\w*")


def parse_units(src: str) -> tuple[dict[str, str], dict[str, str], list[str]]:
    """Split a module into top-level units for function-granular diffing.

    Returns ``(defs, binds, loose)``:

    * ``defs``  — def/class name → source segment INCLUDING decorators (so
      an oracle literal inside ``@query(..., oracle=...)`` is part of the
      function's unit);
    * ``binds`` — module-level bound name (assignment target or import
      alias) → concatenation of the statements binding it;
    * ``loose`` — segments of statements binding nothing (bare calls,
      if-blocks, …) — changes here fall back to file granularity.
    """
    lines = src.splitlines(keepends=True)
    defs: dict[str, str] = {}
    binds: dict[str, str] = {}
    loose: list[str] = []

    def seg(node: ast.stmt, include_decorators: bool = False) -> str:
        start = node.lineno
        if include_decorators and getattr(node, "decorator_list", None):
            start = min([start] + [d.lineno for d in node.decorator_list])
        return "".join(lines[start - 1 : node.end_lineno])

    for node in ast.parse(src).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            defs[node.name] = defs.get(node.name, "") + seg(node, True)
            continue
        if (
            isinstance(node, ast.Expr)
            and isinstance(node.value, ast.Constant)
            and isinstance(node.value.value, str)
        ):
            # Module docstring / bare string literal: evaluating a string
            # expression has zero runtime effect, so an edit to one cannot
            # change any key's result — never flag it (r11: the r10 debt
            # audit found a docstring edit file-flagging 22 keys).
            continue
        names: list[str] = []
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            names = [(a.asname or a.name).split(".")[0] for a in node.names]
        elif isinstance(node, ast.Assign):
            names = [
                n.id
                for t in node.targets
                for n in ast.walk(t)
                if isinstance(n, ast.Name)
            ]
        elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
            names = [
                n.id for n in ast.walk(node.target) if isinstance(n, ast.Name)
            ]
        if names:
            for n in names:
                binds[n] = binds.get(n, "") + seg(node)
        else:
            loose.append(seg(node))
    return defs, binds, loose


def diff_units(
    old_src: str | None, new_src: str | None
) -> tuple[set[str], set[str], bool]:
    """(changed def names, changed bind names, loose-changed?) between two
    versions of a file.  An unparseable or absent side marks everything on
    the other side changed (loud, never silent)."""

    def parse(src: str | None):
        if src is None:
            return None
        try:
            return parse_units(src)
        except SyntaxError:
            return None

    old, new = parse(old_src), parse(new_src)
    if old is None or new is None:
        got = old or new
        if got is None:
            return set(), set(), True
        return set(got[0]), set(got[1]), True
    odefs, obinds, oloose = old
    ndefs, nbinds, nloose = new
    cdefs = {
        n
        for n in set(odefs) | set(ndefs)
        if odefs.get(n) != ndefs.get(n)
    }
    cbinds = {
        n
        for n in set(obinds) | set(nbinds)
        if obinds.get(n) != nbinds.get(n)
    }
    return cdefs, cbinds, sorted(oloose) != sorted(nloose)


def _git_blob(sha: str, rel: str) -> str | None:
    try:
        return _git("show", f"{sha}:{rel}")
    except subprocess.CalledProcessError:
        return None  # file did not exist at that commit


def _ast_ref_names(node: ast.AST) -> set[str]:
    """Python names a def/class actually REFERENCES: Name identifiers,
    attribute names, and import aliases, collected from the AST. Unlike
    raw-text word matching this excludes words that only occur inside
    string literals (docstrings, oracle SQL) — a def mentioned in prose is
    not a dependency. Still an over-approximation of true dependencies
    (cross-file name collisions add edges, never remove them): every way
    Python code can reach another top-level unit without dynamic dispatch
    surfaces as a Name or Attribute node, and the package has no
    getattr/eval/exec/udf.register string dispatch (grep-verified r11)."""
    names: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            names.add(n.attr)
        elif isinstance(n, ast.alias):
            names.add((n.asname or n.name).split(".")[0])
    return names


def _import_edges(
    nodes: list[ast.AST], known: set[str]
) -> tuple[dict[str, set[tuple[str, str]]], dict[str, str]]:
    """Package imports anywhere inside ``nodes`` → ``(names, modules)``:
    ``names`` maps a bound name to the (file, name) pairs it is imported
    from (``from pkg.mod import orig as name``); ``modules`` maps an alias
    bound to a package module (``from pkg import mod``, ``import pkg.mod``)
    to that module's file."""
    names: dict[str, set[tuple[str, str]]] = {}
    modules: dict[str, str] = {}
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.ImportFrom) and not n.level and n.module:
                base = _module_file(n.module, known)
                for a in n.names:
                    sub = _module_file(f"{n.module}.{a.name}", known)
                    if sub:
                        modules[a.asname or a.name] = sub
                    elif base:
                        names.setdefault(a.asname or a.name, set()).add(
                            (base, a.name)
                        )
            elif isinstance(n, ast.Import):
                for a in n.names:
                    f = _module_file(a.name, known)
                    if f:
                        modules[a.asname or a.name.split(".")[0]] = f
    return names, modules


class _RefGraph:
    """Name-reference graph over the working tree (or commit ``rev``):
    which defs does a key's registered function transitively reference?
    AST-name matching (r11, was raw-text tokens) is a sound
    over-approximation — see _ast_ref_names; a name collision adds edges,
    never removes them."""

    def __init__(self, rev: str | None = None) -> None:
        self.units: dict[str, tuple[dict[str, str], dict[str, str], list[str]]] = {}
        asts: dict[str, ast.Module | None] = {}
        sources = _package_sources(rev)
        known = set(sources)
        # Where a module-level name comes from, per file, and which names
        # alias package modules; the same per def for its local imports.
        self.imports: dict[str, dict[str, set[tuple[str, str]]]] = {}
        self.modules: dict[str, dict[str, str]] = {}
        self.local: dict[tuple[str, str], tuple[dict, dict]] = {}
        for rel, src in sources.items():
            try:
                self.units[rel] = parse_units(src)
                asts[rel] = ast.parse(src)
            except SyntaxError:
                self.units[rel] = ({}, {}, [src])
                asts[rel] = None
        # def name → [(file, name)] across the package
        self.def_index: dict[str, list[tuple[str, str]]] = {}
        self.tokens: dict[tuple[str, str], set[str]] = {}
        for rel, (defs, _binds, _loose) in self.units.items():
            ref_names: dict[str, set[str]] = {}
            tree = asts[rel]
            if tree is not None:
                top = []
                for node in tree.body:
                    if isinstance(
                        node,
                        (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef),
                    ):
                        ref_names.setdefault(node.name, set()).update(
                            _ast_ref_names(node)
                        )
                        self.local[(rel, node.name)] = _import_edges([node], known)
                    else:
                        top.append(node)
                self.imports[rel], self.modules[rel] = _import_edges(top, known)
            for name, segment in defs.items():
                self.def_index.setdefault(name, []).append((rel, name))
                # Fallback to raw-text tokens when the AST is unavailable
                # (unparseable file) — loud, never silent.
                self.tokens[(rel, name)] = ref_names.get(
                    name, set(_WORD.findall(segment))
                )
        self._reach_cache: dict[tuple[str, str], tuple[set, set]] = {}
        self._resolve_cache: dict[tuple[str, str], set[str]] = {}

    def _resolve(self, rel: str, name: str) -> set[str]:
        """Files whose module-level binding of ``name`` a read of it in
        ``rel``'s namespace goes through: ``rel`` itself, then the files
        ``rel`` imports the name from, transitively."""
        key = (rel, name)
        if key not in self._resolve_cache:
            self._resolve_cache[key] = {rel}  # cycle guard
            out = {rel}
            for src, orig in self.imports.get(rel, {}).get(name, ()):
                out |= self._resolve(src, orig)
            self._resolve_cache[key] = out
        return self._resolve_cache[key]

    def reads_from(self, visited: set[tuple[str, str]], name: str) -> set[str]:
        """Files whose module-level binding of ``name`` the defs in
        ``visited`` may read: the def's own module (and where that module
        imports the name from), the def's local ``from ... import name``,
        and ``alias.name`` through any package-module alias the def
        mentions."""
        out: set[str] = set()
        for node in visited:
            toks = self.tokens[node]
            if name not in toks:
                continue
            rel = node[0]
            out |= self._resolve(rel, name)
            lnames, lmods = self.local.get(node, ({}, {}))
            for src, orig in lnames.get(name, ()):
                out |= self._resolve(src, orig)
            for alias, mod in (*self.modules.get(rel, {}).items(), *lmods.items()):
                if alias in toks:
                    out |= self._resolve(mod, name)
        return out

    def reach(self, rel: str, fn_name: str) -> tuple[set, set] | None:
        """→ (visited def (file,name) pairs, union of referenced tokens),
        or None if the function is not a top-level def in that file."""
        if (rel, fn_name) not in self.tokens:
            return None
        if (rel, fn_name) in self._reach_cache:
            return self._reach_cache[(rel, fn_name)]
        visited: set[tuple[str, str]] = set()
        toks: set[str] = set()
        stack = [(rel, fn_name)]
        while stack:
            node = stack.pop()
            if node in visited:
                continue
            visited.add(node)
            t = self.tokens[node]
            toks |= t
            for tok in t:
                for target in self.def_index.get(tok, ()):
                    if target not in visited:
                        stack.append(target)
        self._reach_cache[(rel, fn_name)] = (visited, toks)
        return visited, toks


def changed_units(
    sha: str, rev: str | None = None
) -> tuple[set[tuple[str, str]], set[tuple[str, str]], set[str], set[str]]:
    """Units that changed between commit ``sha`` and the working tree (or
    commit ``rev``): ``(changed (file, def), changed (file, bind),
    loose-dirty files, files git says differ)``, over files git says
    differ at all."""
    files = set(_git("diff", "--name-only", sha, *([rev] if rev else []), "--", PKG)
                .splitlines())
    cdefs: set[tuple[str, str]] = set()
    cbinds: set[tuple[str, str]] = set()
    dirty_files: set[str] = set()
    for rel in files:
        if not rel.endswith(".py"):
            dirty_files.add(rel)
            continue
        if rev is None:
            new = (REPO / rel).read_text() if (REPO / rel).exists() else None
        else:
            new = _git_blob(rev, rel)
        old = _git_blob(sha, rel)
        if old is None and new is not None:
            # File CREATED since the round: a key whose own code is
            # unchanged since its green row cannot have depended on a
            # file that did not exist then — Python has no cross-file
            # shadowing, so new top-level defs/binds only matter to
            # callers, and any real caller changed its OWN units (an
            # import line or a def edit), which flags it directly.
            # What a new file CAN do to old keys is import-time side
            # effects, i.e. effective loose statements — only those
            # dirty the file (same risk class the function-granular
            # design already accepts for appended defs).
            try:
                _nd, _nb, new_loose = parse_units(new)
            except SyntaxError:
                dirty_files.add(rel)
                continue
            if new_loose:
                dirty_files.add(rel)
            continue
        d, b, loose = diff_units(old, new)
        cdefs |= {(rel, n) for n in d}
        cbinds |= {(rel, n) for n in b}
        if loose:
            dirty_files.add(rel)
    return cdefs, cbinds, dirty_files, files


def key_reasons(
    mod_file: str,
    fn_name: str,
    units: tuple,
    closure: dict[str, set[str]],
    graph: _RefGraph,
) -> list[tuple]:
    """The changed units (``changed_units``) that flag the key registered
    as ``fn_name`` in ``mod_file`` — empty when its code is unchanged."""
    cdefs, cbinds, dirty_files, git_files = units
    files = closure.get(mod_file, {mod_file})
    if files & dirty_files:
        # loose module-level change → file fallback
        return [("file", f, "") for f in sorted(files & dirty_files)]
    reach = graph.reach(mod_file, fn_name)
    if reach is None:
        # Registered function is not a top-level def we can segment →
        # file-level fallback (loud, never silent).
        return [("file", f, "") for f in sorted(files & git_files)]
    visited, toks = reach
    # A changed module-level binding (constant / import alias) counts
    # only when it lives in a file of the key's import closure AND a
    # reachable def reads the name through that file's binding — a
    # reshuffled import block in an unrelated module, or a module that
    # re-imports a name the key reads from elsewhere, must not flag it.
    bind_hits = [
        (f, n)
        for f, n in cbinds
        if f in files and n in toks and f in graph.reads_from(visited, n)
    ]
    return [("def", f, n) for f, n in sorted(visited & cdefs)] + [
        ("bind", f, n) for f, n in sorted(bind_hits)
    ]


def compute_changed_keys(
    detail: bool = False,
) -> (
    tuple[set[str], dict[str, int], list[str]]
    | tuple[set[str], dict[str, int], list[str], dict[str, list[tuple]]]
):
    """(changed keys, key → last green round, registry order[, reasons]).

    Shared by the policy test below and ``scripts/window_pin.py`` so the
    re-pin suggestion and the test verdict can never disagree. With
    ``detail=True`` a fourth element maps each changed key to the concrete
    units that flagged it — ``("def"|"bind"|"file"|"never"|"no-round-commit",
    file, name)`` tuples — so the pin script can blame the debt
    (VERDICT r10 ask #4: make the differ's conservatism visible).
    """
    from zip_to_parquet_spark.plans import all_queries
    from zip_to_parquet_spark.plans.registry import key_modules

    qs = all_queries()
    keys = list(qs)
    modules = key_modules()
    closure = _import_closure()
    # Driver rows of deleted keys stay in the CORRECTNESS history; only
    # registered keys have code to diff or a window slot to claim.
    green = {k: r for k, r in _last_green_rounds().items() if k in qs}
    graph = _RefGraph()

    # Per round: which units changed between the round's driver commit and
    # the WORKING TREE, computed once per distinct round.
    round_units: dict[int, object] = {}
    for rnd in set(green.values()):
        sha = _round_commit(rnd)
        round_units[rnd] = _ALL_CHANGED if sha is None else changed_units(sha)

    changed: set[str] = set()
    reasons: dict[str, list[tuple]] = {}
    for key in keys:
        mod_file = _module_file(modules[key])
        if key not in green:
            changed.add(key)  # never had a driver row
            reasons[key] = [("never", mod_file, "")]
            continue
        units = round_units[green[key]]
        if units is _ALL_CHANGED:
            changed.add(key)  # round commit unknown → assume changed (loud)
            reasons[key] = [("no-round-commit", f"r{green[key]}", "")]
            continue
        got = key_reasons(mod_file, qs[key].__name__, units, closure, graph)
        if got:
            changed.add(key)
            reasons[key] = got
    if detail:
        return changed, green, keys, reasons
    return changed, green, keys


def policy_verdict(changed: set[str], keys: list[str]) -> str | None:
    """None if the window satisfies the policy, else the failure message.
    THE verdict — shared by the test below and scripts/window_pin.py so
    the script's OK/FAIL can never drift from what the test asserts."""
    window = set(keys[:WINDOW])
    if len(changed) <= WINDOW:
        outside = sorted(changed - window)
        if outside:
            return (
                f"{len(outside)} changed key(s) outside the first-{WINDOW} "
                f"driver window — re-pin set_priority in "
                f"{PKG}/plans/__init__.py: {outside}"
            )
    else:
        wasted = sorted(window - changed)
        if wasted:
            return (
                f"{len(changed)} keys changed (> window of {WINDOW}) but "
                f"these window slots hold UNCHANGED keys — swap them for "
                f"changed ones: {wasted}"
            )
    return None


def test_changed_keys_are_inside_driver_window():
    changed, _green, keys = compute_changed_keys()
    verdict = policy_verdict(changed, keys)
    assert verdict is None, verdict


def test_set_priority_rejects_unregistered_key():
    """A pin naming a deleted key would silently cost the driver window a
    slot; set_priority must refuse it and keep the shipped pin."""
    import pytest

    from zip_to_parquet_spark.plans import registry

    shipped = list(registry._PRIORITY)
    assert len(shipped) == WINDOW
    with pytest.raises(ValueError, match="no_such_query_key"):
        registry.set_priority([*shipped[1:], "no_such_query_key"])
    assert registry._PRIORITY == shipped
    assert list(registry.all_queries())[:WINDOW] == shipped


def test_missing_round_commit_marks_all_its_keys_changed(monkeypatch):
    """VERDICT r4 ask #3: a CORRECTNESS file with no owning commit (e.g.
    still untracked at round start) must mark every key last-green in that
    round as CHANGED — a loud re-verify demand — never silently unchanged."""
    import sys

    mod = sys.modules[__name__]
    monkeypatch.setattr(mod, "_round_commit", lambda rnd: None)
    changed, green, keys = compute_changed_keys()
    # With every round commit "missing", every key that ever went green must
    # be flagged (never-green keys are changed by definition already).
    assert changed == set(keys)
    assert set(green) <= changed


def test_window_policy_detects_plan_module_edit(tmp_path):
    """The machinery itself: the closure must tie every registered key to
    its defining plans module, and that module's closure must include the
    operator modules it imports (an edit anywhere in the closure flags
    the key)."""
    from zip_to_parquet_spark.plans.registry import key_modules

    closure = _import_closure()
    modules = key_modules()
    llm_file = _module_file(modules["ann_pq_topk"])
    assert llm_file == f"{PKG}/plans/llm.py"
    assert f"{PKG}/operators/vectors.py" in closure[llm_file]
    assert f"{PKG}/schema.py" in closure[llm_file]
    zip_file = _module_file(modules["zip_explode_hash"])
    assert f"{PKG}/sources/zipsource.py" in closure[zip_file]


def test_pin_not_stale_while_backlog_nonempty():
    """VERDICT r9 ask #2b: while any key has never held a driver row, the
    pinned window must differ from the previous round's CORRECTNESS key
    set.  This is the exact state round 9 shipped in (stale r8 pin, 42-key
    backlog) — the old policy test passed on it; this one cannot."""
    changed, green, keys = compute_changed_keys()
    never = [k for k in keys if k not in green]
    if not never:
        return  # backlog clear — oldest-green-first rotation takes over
    rounds = sorted(REPO.glob("CORRECTNESS_r*.json"))
    assert rounds, "no driver history yet"
    prev = set(json.loads(rounds[-1].read_text()))
    window = set(keys[:WINDOW])
    assert window != prev, (
        f"{len(never)} never-driver-checked keys exist but the pinned "
        f"window is byte-identical to {rounds[-1].name}'s key set — the "
        f"driver sweep would re-verify already-green keys; re-pin "
        f"set_priority (scripts/window_pin.py prints the suggestion)"
    )


def test_function_granular_diff_additive_edit_not_flagged():
    """VERDICT r9 ask #2a: appending a new function must not flag existing
    defs; editing a def (or its decorator, or a module constant) flags
    exactly that unit."""
    base = (
        "import os\n"
        "A = 1\n"
        "@query('k')\n"
        "def f(spark, sf):\n"
        "    return A\n"
    )
    # additive append: only the new def is changed
    d, b, loose = diff_units(base, base + "\ndef g():\n    return 2\n")
    assert d == {"g"} and not b and not loose
    # body edit: only f
    d, b, loose = diff_units(base, base.replace("return A", "return A + 1"))
    assert d == {"f"} and not b and not loose
    # decorator edit (e.g. the oracle literal): still flags f
    d, _, _ = diff_units(
        base, base.replace("@query('k')", "@query('k', oracle='SELECT 2')")
    )
    assert d == {"f"}
    # constant edit: flags the bind, not the def
    d, b, loose = diff_units(base, base.replace("A = 1", "A = 2"))
    assert not d and b == {"A"} and not loose
    # import reshuffle: flags import binds only
    d, b, loose = diff_units(base, base.replace("import os", "import os, re"))
    assert not d and b == {"os", "re"} and not loose
    # loose statement (e.g. a bare call) changes → file-level fallback
    d, b, loose = diff_units(base, base + "print('x')\n")
    assert loose and not d and not b
    # unparseable side → everything loud
    d, b, loose = diff_units(base, "def broken(:\n")
    assert loose and d == {"f"} and b == {"os", "A"}


def test_refgraph_reaches_operator_helpers():
    """The name-reference graph must tie a key's registered function to the
    operator helpers it calls (transitively) so an operator edit flags the
    keys built on it."""
    graph = _RefGraph()
    reach = graph.reach(f"{PKG}/plans/llm.py", "ann_pq_topk")
    assert reach is not None
    visited, toks = reach
    visited_files = {f for f, _ in visited}
    assert f"{PKG}/operators/vectors.py" in visited_files
    assert (f"{PKG}/plans/llm.py", "ann_pq_topk") in visited


def test_hot_shingle_guard_sql_in_sync_across_all_oracles():
    """Finding from the round-5 review: the hot-shingle predicate appears
    in several oracle strings. Every occurrence must equal the ONE
    constant in operators/dedupe.py — a constant change that forgets an
    oracle fails here instead of as a driver hash mismatch."""
    from zip_to_parquet_spark.operators.dedupe import DUCK_HOT_HAVING_SQL as want
    from zip_to_parquet_spark.plans import all_oracle_sql

    hits = 0
    for name, sql in all_oracle_sql().items():
        for line in sql.splitlines():
            if "HAVING" in line and "1000" in line:
                hits += 1
                assert want in line.strip(), (name, line.strip(), want)
    assert hits >= 5  # jaccard, containment, clusters x2, keep_best


def test_headroom_linter_clean():
    """scripts/audit_headroom.py: no BIGINT product of data-sized columns
    without 128-bit widening or a whitelisted documented bound (the
    round-8 overflow-divergence class must not regress)."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "audit_headroom",
        Path(__file__).resolve().parents[1] / "scripts" / "audit_headroom.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.main() == 0


def test_headroom_linter_flags_stale_whitelist_and_source_sites():
    """VERDICT r8 ask #6 + ADVICE r8: the linter must (a) fail on a
    whitelist entry that matches no current hit (dead entries are how
    linters rot), (b) match whitelist fragments against the FLAGGED
    fragment, not the whole text, and (c) actually scan plans/ source
    functions, not just oracles."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "audit_headroom_stale",
        Path(__file__).resolve().parents[1] / "scripts" / "audit_headroom.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    # (a) a fabricated entry that can never match a hit -> stale -> exit 1
    fake = ("no_such_key", "sum(ghost * ghost)")
    mod.WHITELIST.add(fake)
    try:
        hits, stale = mod.run()
        assert fake in stale
        assert mod.main() == 1
    finally:
        mod.WHITELIST.discard(fake)

    # (b) a whitelisted fragment suppresses ONLY its own site: the same
    # owner with a different unwidened product still reports.
    hits: list = []
    used: set = set()
    mod.scan_text(
        "sample_effective_size",
        "sum(n_chars * n_chars) ... sum(other * other)",
        hits,
        used,
    )
    assert ("sample_effective_size", "sum(other * other)") in hits
    assert used  # the real site was recognized, not shadowed

    # (c) the source scan sees plans/ function bodies: a BIGINT product
    # in any un-widened top-level function would be reported with a
    # file:function owner. Prove the plumbing by scanning a synthetic
    # body through the same entry point the source scan uses.
    hits2: list = []
    mod.scan_text("plans/fake.py:bad_fn", "F.sum(dev * dev)", hits2, set())
    assert hits2 and hits2[0][0] == "plans/fake.py:bad_fn"
    # and the live tree is clean through the real source scan
    live_hits: list = []
    mod.scan_plans_sources(live_hits, set())
    assert live_hits == []


def test_diff_units_properties_hold_on_generated_modules():
    """Property coverage for the function-granular differ (it gates the
    driver-window policy, so its blind spots become evidence gaps):
    over a grid of generated modules, (a) identity diffs are empty,
    (b) appending a NEW def flags only that def, (c) editing one def's
    body flags exactly that def, (d) unit attribution is order-stable —
    reordering two defs without changing their text flags nothing."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    import keyword

    # Filter Python keywords: the regex can draw 'as'/'if'/'in'..., which
    # makes `def as():` a SyntaxError — the differ is CORRECTLY loud on
    # unparseable input, so a keyword draw fails the identity property
    # for the wrong reason (hypothesis found this in r14).
    names = st.lists(
        st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True).filter(
            lambda s: not keyword.iskeyword(s)
        ),
        min_size=1,
        max_size=6,
        unique=True,
    )

    def module_of(fnames, salt=""):
        parts = ["import os\n", "CONST = 1\n"]
        for fn in fnames:
            parts.append(
                f"def {fn}():\n    return CONST + {len(fn)}{salt}\n"
            )
        return "".join(parts)

    @settings(max_examples=50, deadline=None)
    @given(names)
    def check(fnames):
        src = module_of(fnames)
        # (a) identity
        d, b, loose = diff_units(src, src)
        assert not d and not b and not loose
        # (b) additive append
        d, b, loose = diff_units(src, src + "def zz_new():\n    return 0\n")
        assert d == {"zz_new"} and not b and not loose
        # (c) single-def edit
        target = fnames[0]
        edited = src.replace(
            f"def {target}():\n    return CONST + {len(target)}\n",
            f"def {target}():\n    return CONST + {len(target)} + 1\n",
        )
        d, b, loose = diff_units(src, edited)
        assert d == {target} and not b and not loose
        # (d) reorder without text change
        if len(fnames) >= 2:
            reordered = module_of(list(reversed(fnames)))
            d, b, loose = diff_units(src, reordered)
            assert not d and not b and not loose

    check()


def test_detail_mode_gives_every_changed_key_a_reason():
    """VERDICT r10 ask #4: the differ must say WHICH closure unit flagged
    each key so the pin script can blame the debt. Every changed key gets
    at least one reason of a known kind; unchanged keys get none."""
    changed, green, keys, reasons = compute_changed_keys(detail=True)
    kinds = {"def", "bind", "file", "never", "no-round-commit"}
    assert set(reasons) == changed
    for key, rs in reasons.items():
        assert rs, key
        assert {k for k, _f, _n in rs} <= kinds, (key, rs)
    # and the 3-tuple form is unchanged for existing callers
    c3, g3, k3 = compute_changed_keys()
    assert (c3, g3, k3) == (changed, green, keys)


def test_docstring_edit_never_flags():
    """A module/bare string literal evaluates to nothing — editing one
    cannot change a key's result, so the differ must not flag it (r11:
    a docstring edit had file-flagged 22 multimodal keys)."""
    src = '"""module doc."""\nX = 1\ndef f():\n    return X\n'
    edited = src.replace("module doc.", "much better module doc.")
    d, b, loose = diff_units(src, edited)
    assert not d and not b and not loose
    # ... while a non-string loose statement still falls back loudly
    d, b, loose = diff_units(src, src + "print(1)\n")
    assert loose


def test_created_file_with_only_defs_does_not_dirty(monkeypatch):
    """A file created AFTER a key's last green round flags nothing by
    itself (no cross-file shadowing in Python; real callers changed their
    own units) — unless it executes effective loose statements on import."""
    clean = '"""doc."""\nimport os\nK = 3\ndef helper():\n    return K\n'
    effectful = clean + "os.environ.setdefault('X', '1')\n"
    for src, expect_dirty in ((clean, False), (effectful, True)):
        _d, _b, loose = parse_units(src)
        assert bool(loose) == expect_dirty


def test_rebinding_flags_only_keys_that_read_the_name_through_it():
    """A module that rebinds a name flags a key only when the key's
    reachable code reads the name through that module's binding.

    ``operators/pipeline.py`` gained ``from runtime import size_aware_side``
    in 0b54080 (parent c79b261). ``tfidf_topk_terms`` mentions the name but
    reads it from ``runtime`` through ``operators/retrieval.py``, and
    pipeline.py is in its import closure only through other helpers; in
    0b54080 → 849fcd4 ``schema.py`` rebinds ``Column``, which the key reads
    from pyspark. Neither rebinding may flag it. A rebinding the key does
    read still flags it, also through an import chain: ``tpch2`` imports
    ``_cents`` from ``tpch_deco``, which turned it from a def into an
    import in 849fcd4."""
    pipeline = (f"{PKG}/operators/pipeline.py", "size_aware_side")
    tfidf = (f"{PKG}/plans/analytics.py", "tfidf_topk_terms_q")
    for old, new, rebound in (
        ("c79b261", "0b54080", pipeline),
        ("0b54080", "849fcd4", (f"{PKG}/schema.py", "Column")),
    ):
        units = changed_units(old, new)
        graph = _RefGraph(new)
        closure = _import_closure(new)
        assert rebound in units[1]
        visited, toks = graph.reach(*tfidf)
        assert rebound[0] in closure[tfidf[0]] and rebound[1] in toks
        reasons = key_reasons(*tfidf, units, closure, graph)
        assert ("bind", *rebound) not in reasons, reasons
    assert key_reasons(*tfidf, changed_units("c79b261", "0b54080"),
                       _import_closure("0b54080"), _RefGraph("0b54080")) == []
    q2 = key_reasons(f"{PKG}/plans/tpch2.py", "q2_min_cost_supplier",
                     units, closure, graph)
    assert ("bind", f"{PKG}/plans/tpch_deco.py", "_cents") in q2
