"""Which of `kolibrie_spark/` the engine can reach: an import walk.

Usage: python tools/reach.py [repo_dir]

Starts from the package itself and its three entry modules
(`kolibrie_spark`, `kolibrie_spark.engine`, `kolibrie_spark.cli`,
`kolibrie_spark.http_server`) and follows every `import` / `from ...
import` statement, including the ones inside function bodies, with the
stdlib `ast` module (nothing is imported or executed). Importing
`a.b.c` also runs `a` and `a.b`, so parent packages count as reached;
`from a import b` reaches `a.b` when `b` is a submodule. Prints the
package's total, reachable and unreachable line counts, then each
unreachable module with its lines, largest first.
"""
from __future__ import annotations

import ast
import os
import sys

PACKAGE = "kolibrie_spark"
ROOTS = [PACKAGE, f"{PACKAGE}.engine", f"{PACKAGE}.cli", f"{PACKAGE}.http_server"]


def modules(repo: str) -> dict[str, str]:
    """Dotted module name -> file path for every .py file of the package."""
    out = {}
    for dirpath, _, files in os.walk(os.path.join(repo, PACKAGE)):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            parts = os.path.relpath(path, repo)[: -len(".py")].split(os.sep)
            if parts[-1] == "__init__":
                parts.pop()
            out[".".join(parts)] = path
    return out


def imports(name: str, path: str, mods: dict[str, str]) -> set[str]:
    """Package modules that `name` imports anywhere in its body."""
    is_pkg = os.path.basename(path) == "__init__.py"
    here = name if is_pkg else name.rpartition(".")[0]
    found: set[str] = set()
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = here
            for _ in range(node.level - 1):
                base = base.rpartition(".")[0]
            if node.level:
                base = f"{base}.{node.module}" if node.module else base
            else:
                base = node.module or ""
            found.add(base)
            found.update(f"{base}.{a.name}" for a in node.names)
    reached = set()
    for dotted in found:
        parts = dotted.split(".")
        # the module itself plus every parent package it makes Python run
        reached.update(
            ".".join(parts[:i]) for i in range(1, len(parts) + 1)
            if ".".join(parts[:i]) in mods
        )
    return reached


def lines(path: str) -> int:
    with open(path) as f:
        return sum(1 for _ in f)


def main() -> None:
    repo = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    mods = modules(repo)
    seen: set[str] = set()
    todo = [r for r in ROOTS if r in mods]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo.extend(imports(name, mods[name], mods) - seen)
    size = {m: lines(p) for m, p in mods.items()}
    total = sum(size.values())
    reachable = sum(size[m] for m in seen)
    print(f"total       {total:6d} lines in {len(mods)} modules")
    print(f"reachable   {reachable:6d} lines in {len(seen)} modules")
    print(f"unreachable {total - reachable:6d} lines in {len(mods) - len(seen)} modules")
    for m in sorted(set(mods) - seen, key=lambda m: (-size[m], m)):
        print(f"  {size[m]:6d}  {m}")


if __name__ == "__main__":
    main()
