"""Structural guard: every module and every top-level definition of the
package has a production caller.

Walks the import graph from the production entry points (the CLI and
its ``python -m`` shim, the REST API, the curation pipeline and the
package ``__init__``) over the AST of each module, function-local
imports included, and fails on any module under
``datacontract_cli_spark/`` that the walk never reaches.
Such a module runs only from tests, benches or entry queries; give it a
production caller or delete it. The package loads no module by name
(no ``importlib`` / ``__import__``), so the static walk is complete.

The second guard does the same for top-level ``def``/``class``es, as a
name-based fixpoint. Roots: the import-time statements of every reached
module, ``cli.main``, the public names of ``api`` and ``pipeline`` (the
package ``__all__`` is an import-time statement), and every name
``__spark_entry__.py`` (the oracle gate, the operator library's declared
consumer) mentions. A definition is live when root code or a live
definition names it: as an identifier, attribute, import alias or
identifier-shaped string. Two definitions sharing a name keep each other
alive, so a collision can hide dead code but never flags live code.
"""

import ast
import re
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


# --- function level -------------------------------------------------------

ENTRY = ROOT.parent / "__spark_entry__.py"
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
# the only reasons a definition may stay with no production caller
FIXTURE = ("lakehouse fixture writer the reader or tailer tests need "
           "(pyiceberg and delta-rs are not dependencies)")
SYNTHETIC = "synthetic data for the benches, tools and tests"
SEAM = "test seam"
TRACED = "patched by perfbench/trace.py LAYER_FUNCS"
PARITY = ("reference-parity warehouse physical-type comparator, kept with its "
          "decision-table tests until its deletion is decided")
ALLOWED_UNREFERENCED = {
    # a real replace / dataChange=false commit and a checkpointed or
    # vacuumed log, which the tailer and the readers must handle
    f"{PKG}.sources.delta_table.checkpoint_delta": FIXTURE,
    f"{PKG}.sources.delta_table.compact_delta": FIXTURE,
    f"{PKG}.sources.delta_table.vacuum_delta": FIXTURE,
    f"{PKG}.sources.iceberg_write.compact_iceberg": FIXTURE,
    f"{PKG}.sources.transcripts.synthesize_transcripts": SYNTHETIC,
    f"{PKG}.model.definitions.clear_definition_cache": SEAM,
    f"{PKG}.checks.physical.physical_type_matches": PARITY,
    f"{PKG}.checks.physical.reconstruct_native_type": PARITY,
    f"{PKG}.checks.physical.oracle_char_length": PARITY,
}


def _names(nodes) -> set[str]:
    """Every identifier, attribute, import alias and identifier-shaped
    string these nodes contain."""
    out = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.alias):
                out.add(node.name.rpartition(".")[2])
                if node.asname:
                    out.add(node.asname)
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                if IDENT.fullmatch(node.value):
                    out.add(node.value)
    return out


def _on_import(node) -> list:
    """The parts of one top-level statement that run on import: all of a
    plain statement; a def's decorators and defaults; a class's
    decorators, bases and keywords."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
        a = node.args
        return [*node.decorator_list, *a.defaults,
                *(d for d in a.kw_defaults if d is not None)]
    if isinstance(node, ast.ClassDef):
        return [*node.decorator_list, *node.bases, *node.keywords]
    return [node]


def dead_definitions(keep=()) -> set[str]:
    """Top-level defs and classes of the package that no production code
    reaches, as ``module.name``. Each ``module.name`` in ``keep`` counts as
    a root, so the helpers an exception calls stay alive with it."""
    mods = _modules()
    reached = set(mods) - unreached_modules()
    defs = {}  # module.name -> def/class node
    live = {"main", *(q.rpartition(".")[2] for q in keep)}
    for name, path in mods.items():
        public = name in (f"{PKG}.api", f"{PKG}.pipeline")
        for node in ast.parse(path.read_text(), str(path)).body:
            if name in reached:
                live |= _names(_on_import(node))
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[f"{name}.{node.name}"] = node
                if public and not node.name.startswith("_"):
                    live.add(node.name)
    live |= _names([ast.parse(ENTRY.read_text(), str(ENTRY))])
    done: set[str] = set()
    while grown := {q for q, node in defs.items() if node.name in live} - done:
        live |= _names(defs[q] for q in grown)
        done |= grown
    return set(defs) - done


def test_every_top_level_definition_is_reached_from_production():
    allowed = set(ALLOWED_UNREFERENCED)
    dead = dead_definitions(keep=allowed)
    assert not dead, (
        f"{len(dead)} top-level definitions only tests, benches "
        f"or tools reach: {sorted(dead)}")
    # an exception that production now reaches, or that is gone, is stale
    stale = allowed - dead_definitions()
    assert not stale, sorted(stale)
    assert set(ALLOWED_UNREFERENCED.values()) <= {
        FIXTURE, SYNTHETIC, SEAM, TRACED, PARITY}


# --- imports --------------------------------------------------------------

def unused_imports() -> set[str]:
    """Names that a module of the package imports at module level (in its
    body or a top-level ``if``/``try``) and never reads, as
    ``module.name``. A read is a loaded identifier, which covers attribute
    bases and annotations, a name in a quoted annotation, or an
    ``__all__`` entry. Package ``__init__`` modules re-export what they
    import and are exempt."""
    out = set()
    for name, path in _modules().items():
        if path.name == "__init__.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        top, bound = list(tree.body), set()
        while top:
            node = top.pop()
            if isinstance(node, (ast.If, ast.Try, ast.ExceptHandler)):
                top.extend(ast.iter_child_nodes(node))
            elif isinstance(node, ast.Import):
                bound |= {a.asname or a.name.partition(".")[0]
                          for a in node.names}
            elif (isinstance(node, ast.ImportFrom)
                  and node.module != "__future__"):
                bound |= {a.asname or a.name for a in node.names}
        read = set()
        for node in ast.walk(tree):
            note = (getattr(node, "returns", None)
                    or getattr(node, "annotation", None))
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                read.add(node.id)
            elif isinstance(note, ast.Constant) and isinstance(note.value, str):
                read |= {n.id for n in ast.walk(ast.parse(note.value))
                         if isinstance(n, ast.Name)}
            elif (isinstance(node, ast.Assign)
                  and any(getattr(t, "id", None) == "__all__"
                          for t in node.targets)):
                read |= {e.value for e in ast.walk(node.value)
                         if isinstance(e, ast.Constant)}
        out |= {f"{name}.{b}" for b in bound - read - {"*"}}
    return out


def test_every_module_level_import_is_used():
    unused = unused_imports()
    assert not unused, (
        f"{len(unused)} module-level imports their module never uses: "
        f"{sorted(unused)}")
