"""Structural guard: every module of the package has a production caller.

Walks the import graph from the production entry points (the CLI and
its ``python -m`` shim, the REST API, the curation pipeline and the
package ``__init__``) over the AST of each module, function-local
imports included, and fails on any module under
``datacontract_cli_spark/`` that the walk never reaches.
Such a module runs only from tests, benches or entry queries; give it a
production caller or delete it. The package loads no module by name
(no ``importlib`` / ``__import__``), so the static walk is complete.
"""

import ast
from pathlib import Path

PKG = "datacontract_cli_spark"
ROOT = Path(__file__).resolve().parent.parent / PKG
ENTRY_POINTS = (f"{PKG}.cli", f"{PKG}.__main__", f"{PKG}.api", f"{PKG}.pipeline", PKG)
# synthetic transcript data for the benches, tools and tests; no contract
# check or curation stage reads it
ALLOWED_UNREACHED = {f"{PKG}.sources.transcripts"}


def _modules() -> dict[str, Path]:
    mods = {}
    for path in ROOT.rglob("*.py"):
        parts = (PKG, *path.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imports(name: str, path: Path, mods: dict[str, Path]) -> set[str]:
    """Modules of the package that ``name`` imports anywhere in its body,
    with the packages that loading them imports on the way."""
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            targets = [alias.name for alias in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.split(".")[: len(package.split(".")) - node.level + 1]
                base = ".".join([*anchor, base] if base else anchor)
            # `from pkg import sub` imports the submodule when one exists
            targets = [base] + [f"{base}.{alias.name}" for alias in node.names]
        else:
            continue
        for target in targets:
            parts = target.split(".")
            for i in range(1, len(parts) + 1):
                prefix = ".".join(parts[:i])
                if prefix in mods:
                    found.add(prefix)
    return found


def unreached_modules() -> set[str]:
    mods = _modules()
    seen, todo = set(), list(ENTRY_POINTS)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo.extend(_imports(name, mods[name], mods) - seen)
    return set(mods) - seen


def test_every_module_is_reached_from_a_production_entry_point():
    unreached = unreached_modules() - ALLOWED_UNREACHED
    assert not unreached, (
        f"{len(unreached)} modules no command, API or pipeline imports: "
        f"{sorted(unreached)}")
