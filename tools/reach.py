"""Which package code a job reaches: non-blank lines per module.

Roots are every top-level definition in ``jobs/*.py``, ``perfbench/*.py``
and the core modules (``CORE`` below). From each reached definition the
tool follows the names it references, through the module's imports and
the definition's own lazy imports, to top-level definitions (functions,
classes, assignments) of other package modules. It never enters
``driver_queries.py``, so code that only a driver query reaches shows as
unreached. Module-level lines that belong to no definition (docstring,
imports) count as reached when anything in the module is.

The walk is by name: a dynamic lookup (``getattr``, a registry keyed by
string) is invisible to it, so confirm a candidate with grep before
deleting it.

    python tools/reach.py
"""

from __future__ import annotations

import ast
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "xmlschemavalidator_spark"
CORE = ("engine", "compiler", "xsd", "flagship", "manifest", "session", "tables")
CORE_PACKAGES = ("streaming", "rules")
SKIP = f"{PKG}.driver_queries"


class Module:
    def __init__(self, name: str, path: str, is_package: bool):
        self.name = name
        self.package = name if is_package else name.rpartition(".")[0]
        with open(path, encoding="utf-8") as fh:
            self.lines = fh.read().splitlines()
        self.tree = ast.parse("\n".join(self.lines), path)
        self.defs: dict[str, list[ast.stmt]] = {}
        self.other: list[ast.stmt] = []
        for st in self.tree.body:
            names = _defined_names(st)
            for n in names:
                self.defs.setdefault(n, []).append(st)
            if not names and not isinstance(st, (ast.Import, ast.ImportFrom)):
                self.other.append(st)
        self.aliases = _aliases(self.tree.body, self.package, into_defs=False)

    def nonblank(self, st: ast.stmt | None = None) -> set[int]:
        if st is None:
            lo, hi = 1, len(self.lines)
        else:
            lo = min([st.lineno] + [d.lineno for d in getattr(st, "decorator_list", [])])
            hi = st.end_lineno
        return {i for i in range(lo, hi + 1) if self.lines[i - 1].strip()}


def _defined_names(st: ast.stmt) -> list[str]:
    if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [st.name]
    targets = st.targets if isinstance(st, ast.Assign) else (
        [st.target] if isinstance(st, ast.AnnAssign) else []
    )
    return [t.id for t in targets if isinstance(t, ast.Name)]


def _walk(node: ast.AST, into_defs: bool):
    yield node
    for child in ast.iter_child_nodes(node):
        if into_defs or not isinstance(
            child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            yield from _walk(child, into_defs)


def _aliases(stmts, package: str, into_defs: bool) -> dict[str, tuple[str, str | None]]:
    """local name -> (module, attribute or None for the module itself);
    ``into_defs`` also takes the lazy imports inside function bodies."""
    out: dict[str, tuple[str, str | None]] = {}
    for node in (n for st in stmts for n in _walk(st, into_defs)):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    out[a.asname] = (a.name, None)
                else:
                    out[a.name.split(".")[0]] = (a.name.split(".")[0], None)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = package.split(".")[: len(package.split(".")) - node.level + 1]
                base = ".".join(parts + ([base] if base else []))
            for a in node.names:
                out[a.asname or a.name] = (base, a.name)
    return out


def load() -> dict[str, Module]:
    mods: dict[str, Module] = {}
    for sub in (PKG, "jobs", "perfbench"):
        for dirpath, _dirs, files in os.walk(os.path.join(ROOT, sub)):
            for f in sorted(files):
                if not f.endswith(".py"):
                    continue
                rel = os.path.relpath(os.path.join(dirpath, f), ROOT)[: -len(".py")]
                name = rel.replace(os.sep, ".")
                is_package = name.endswith(".__init__")
                name = name[: -len(".__init__")] if is_package else name
                mods[name] = Module(name, os.path.join(ROOT, rel + ".py"), is_package)
    return mods


def reach(mods: dict[str, Module]) -> tuple[set[tuple[str, int]], set[str]]:
    """The reached (module, id(stmt)) definitions and the loaded modules."""
    reached: set[tuple[str, int]] = set()
    loaded: set[str] = set()
    work: list[tuple[Module, ast.stmt]] = []

    def load_module(name: str) -> None:
        while name and name in mods and name != SKIP and name not in loaded:
            loaded.add(name)
            work.extend((mods[name], st) for st in mods[name].other)
            name = name.rpartition(".")[0]  # importing runs the package __init__

    def mark(mod: Module, st: ast.stmt) -> None:
        if (mod.name, id(st)) not in reached:
            reached.add((mod.name, id(st)))
            load_module(mod.name)
            work.append((mod, st))

    def resolve(modname: str, attr: str | None, depth: int = 0):
        """Module or definitions that ``modname.attr`` names (None if outside)."""
        if modname == SKIP or modname not in mods or depth > 20:
            return None
        if attr is None:
            return mods[modname]
        if f"{modname}.{attr}" in mods:
            return mods[f"{modname}.{attr}"]
        mod = mods[modname]
        if attr in mod.defs:
            return [(mod, st) for st in mod.defs[attr]]
        if attr in mod.aliases:  # a re-export
            return resolve(*mod.aliases[attr], depth + 1)
        return None

    def follow(target) -> None:
        if isinstance(target, Module):
            load_module(target.name)
        elif target:
            for mod, st in target:
                mark(mod, st)

    for name, mod in mods.items():
        short = name[len(PKG) + 1:] if name.startswith(PKG + ".") else None
        if (
            not name.startswith(PKG)
            or short in CORE
            or (short or "").split(".")[0] in CORE_PACKAGES
        ):
            load_module(name)
            for sts in mod.defs.values():
                for st in sts:
                    mark(mod, st)

    while work:
        mod, st = work.pop()
        aliases = {**mod.aliases, **_aliases([st], mod.package, into_defs=True)}
        for node in ast.walk(st):
            chain: list[str] = []
            while isinstance(node, ast.Attribute):
                chain.insert(0, node.attr)
                node = node.value
            if not isinstance(node, ast.Name):
                continue
            if node.id in aliases:
                target = resolve(*aliases[node.id])
            elif node.id in mod.defs:
                target = [(mod, s) for s in mod.defs[node.id]]
            else:
                continue
            for attr in chain:
                if not isinstance(target, Module):
                    break
                follow(target)
                target = resolve(target.name, attr)
            follow(target)
    return reached, loaded


def main() -> None:
    mods = load()
    reached, loaded = reach(mods)
    rows = []
    for name, mod in sorted(mods.items()):
        if not name.startswith(PKG) or name == SKIP:
            continue
        total = mod.nonblank()
        in_defs: set[int] = set()
        hit: set[int] = set()
        for sts in mod.defs.values():
            for st in sts:
                lines = mod.nonblank(st)
                in_defs |= lines
                if (name, id(st)) in reached:
                    hit |= lines
        if name in loaded:
            hit |= total - in_defs
        rows.append((name[len(PKG) + 1:] or "__init__", len(hit), len(total - hit)))
    width = max(len(r[0]) for r in rows)
    print(f"{'module':<{width}}  {'reached':>7}  {'unreached':>9}")
    for name, hit, miss in sorted(rows, key=lambda r: (-r[2], r[0])):
        print(f"{name:<{width}}  {hit:>7}  {miss:>9}")
    print(f"{'total':<{width}}  {sum(r[1] for r in rows):>7}  {sum(r[2] for r in rows):>9}")
    skipped = len(mods[SKIP].nonblank())
    print(f"(driver_queries, not followed: {skipped} non-blank lines)", file=sys.stderr)


if __name__ == "__main__":
    main()
