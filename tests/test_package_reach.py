"""Every top-level package definition is reached from an entry point (no Spark).

A function, class or constant that only tests call is not part of what
the package ships: a caller can never run it, and it still has to be
read, kept working and kept in step with the rest. The entry points are
the CLI (``mee_spark/cli.py`` and the ``build_index.py`` /
``query_index.py`` scripts), the registered queries
(``__spark_entry__.py``) and the benchmarks (``bench.py`` and
``perfbench/``). From them the walk follows
``Name``, ``Attribute`` and import nodes through the package modules;
strings and docstrings reach nothing. A definition is reached when code
that is reached names it."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = "mee_spark"
ENTRY_FILES = (["__spark_entry__.py", "bench.py", "build_index.py",
                "query_index.py"]
               + sorted(str(p.relative_to(ROOT))
                        for p in (ROOT / "perfbench").glob("*.py")))
# run as ``python -m``: the module's top-level statements are the entry
ENTRY_MODULES = [f"{PKG}.cli"]

# Kept although no entry point reaches them, one reason each. References
# that an entry point does reach need no entry: ``codec.decode_postings``
# and ``merge.decoded_postings`` (perfbench/layers.py) and
# ``query.fuzzy_expand_terms`` (the symspell expansion's fallback).
ALLOWED = {
    f"{PKG}.__version__": "package metadata, read by packaging tools",
    f"{PKG}.streaming.incremental_index_stream":
        "the paper's incremental-sync mode as a Structured Streaming job",
    f"{PKG}.streaming.page_stream_source":
        "the page source of incremental_index_stream",
    f"{PKG}.streaming.read_page_stream":
        "the streaming page reader of incremental_index_stream",
    f"{PKG}.dedup.simhash_pairs":
        "the reference the simhash dedup tests compare against",
    f"{PKG}.textprep.tokenize_udf":
        "the Python reference that tokenize_col is tested against",
}


def _modules() -> dict[str, ast.Module]:
    mods = {}
    for path in sorted((ROOT / PKG).glob("*.py")):
        name = PKG if path.stem == "__init__" else f"{PKG}.{path.stem}"
        mods[name] = ast.parse(path.read_text(), str(path))
    return mods


def _targets(stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [n.id for t in stmt.targets for n in ast.walk(t)
                if isinstance(n, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


class _Graph:
    def __init__(self):
        self.mods = _modules()
        # (module, name) -> the top-level statement that defines it
        self.defs = {}
        # module -> {bound name: ("mod", module) | ("def", module, name)}
        self.aliases = {m: {} for m in self.mods}
        for mod, tree in self.mods.items():
            for stmt in tree.body:
                for name in _targets(stmt):
                    self.defs[(mod, name)] = stmt
            for node in ast.walk(tree):
                self._bind(mod, node)

    def _bind(self, mod, node) -> None:
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(PKG):
                    key = a.asname or a.name.split(".")[0]
                    target = a.name if a.asname else PKG
                    self.aliases.setdefault(mod, {})[key] = ("mod", target)
        elif isinstance(node, ast.ImportFrom) and node.level == 0 \
                and (node.module or "").startswith(PKG):
            for a in node.names:
                sub = f"{node.module}.{a.name}"
                self.aliases.setdefault(mod, {})[a.asname or a.name] = (
                    ("mod", sub) if sub in self.mods else ("def", node.module, a.name))

    def resolve(self, mod, name, seen=()):
        """The package definition ``name`` means in ``mod``, chasing
        re-exports, or None."""
        if (mod, name) in self.defs:
            return (mod, name)
        alias = self.aliases.get(mod, {}).get(name)
        if alias and alias[0] == "def" and (alias[1], alias[2]) not in seen:
            return self.resolve(alias[1], alias[2], (*seen, (mod, name)))
        return None

    def refs(self, mod, nodes):
        """Package definitions and modules named by ``nodes`` in ``mod``."""
        out, mods = set(), set()
        for root in nodes:
            for node in ast.walk(root):
                if isinstance(node, ast.Name):
                    hit = self.resolve(mod, node.id)
                    if hit:
                        out.add(hit)
                    alias = self.aliases.get(mod, {}).get(node.id)
                    if alias and alias[0] == "mod":
                        mods.add(alias[1])
                elif isinstance(node, ast.Attribute):
                    owner = self._module_of(mod, node.value)
                    if owner:
                        sub = f"{owner}.{node.attr}"
                        if sub in self.mods:
                            mods.add(sub)
                        hit = self.resolve(owner, node.attr)
                        if hit:
                            out.add(hit)
                elif isinstance(node, ast.ImportFrom) and node.level == 0:
                    for a in node.names:
                        sub = f"{node.module}.{a.name}"
                        if sub in self.mods:
                            mods.add(sub)
                        elif node.module in self.mods:
                            mods.add(node.module)
                            hit = self.resolve(node.module, a.name)
                            if hit:
                                out.add(hit)
                elif isinstance(node, ast.Import):
                    mods |= {a.name for a in node.names if a.name in self.mods}
        return out, mods

    def _module_of(self, mod, node):
        if isinstance(node, ast.Name):
            alias = self.aliases.get(mod, {}).get(node.id)
            return alias[1] if alias and alias[0] == "mod" else None
        if isinstance(node, ast.Attribute):
            owner = self._module_of(mod, node.value)
            sub = f"{owner}.{node.attr}" if owner else None
            return sub if sub in self.mods else None
        return None

    def reached(self) -> set:
        todo_defs, todo_mods = set(), set(ENTRY_MODULES)
        for rel in ENTRY_FILES:
            tree = ast.parse((ROOT / rel).read_text(), rel)
            mod = f"<{rel}>"
            for node in ast.walk(tree):
                self._bind(mod, node)
            d, m = self.refs(mod, [tree])
            todo_defs |= d
            todo_mods |= m
        seen_defs, seen_mods = set(), set()
        while todo_defs or todo_mods:
            if todo_mods:
                mod = todo_mods.pop()
                if mod in seen_mods:
                    continue
                seen_mods.add(mod)
                # importing a module runs its top-level statements
                # (imports only bind names; definitions run when named)
                body = [s for s in self.mods[mod].body
                        if not _targets(s)
                        and not isinstance(s, (ast.Import, ast.ImportFrom))]
                d, m = self.refs(mod, body)
            else:
                key = todo_defs.pop()
                if key in seen_defs:
                    continue
                seen_defs.add(key)
                todo_mods.add(key[0])
                d, m = self.refs(key[0], [self.defs[key]])
            todo_defs |= d - seen_defs
            todo_mods |= m - seen_mods
        return seen_defs


def _unreached() -> list[str]:
    g = _Graph()
    reached = g.reached()
    return sorted(f"{mod}.{name}" for mod, name in g.defs
                  if (mod, name) not in reached and name not in ("__all__",))


def test_every_package_definition_is_reached_from_an_entry_point():
    assert [n for n in _unreached() if n not in ALLOWED] == []


def test_allowlist_names_only_unreached_definitions():
    # an entry that names a deleted or a reached definition is stale
    unreached = set(_unreached())
    assert sorted(n for n in ALLOWED if n not in unreached) == []
