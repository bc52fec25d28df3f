"""Reach scan: every top-level definition in the package must be reached
from code other than the tests.

A static AST scan, no Spark. Names are matched bare (a reference to
``stats`` anywhere reaches every top-level ``stats``), and only code
counts: docstrings and comments never reference anything. The roots are

  * every name used in ``bench.py``, ``__spark_entry__.py``,
    ``perfbench/``, ``examples/`` and ``tools/``;
  * the registry's ``q_``/``o_`` pairs, which it assembles by name;
  * the names the package ``__init__`` files export, the lazy ones as
    strings;
  * module-level code, and every decorated definition;
  * dunder names.

From the roots the scan follows each reached definition's body. A
definition that stays unreached is dead weight that only its own tests
keep alive: delete it with those tests, or, if it must stay, name it in
``KEEP`` with the reason.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "pythonvectordb_spark"
ROOT_SOURCES = ("bench.py", "__spark_entry__.py", "perfbench", "examples", "tools")

# definitions kept although only tests reach them, each with its reason
KEEP = {
    "load_npz": "the migration path from the reference's .npz files (MIGRATION.md)",
    "save_npz": "the migration path back to the reference's .npz files (MIGRATION.md)",
    "lsh_band_signatures_int_expr": "the expression the Arrow LSH kernel is pinned against",
    "release_rollup_levels": "the release call hypertable_rollup's docstring tells callers to make",
    "start_vector_ingest": "streaming twin of the reference's insert",
    "start_indexed_ingest": "streaming insert with ingest-time IVF/PQ indexing",
    "start_dedup_gate": "streaming twin of the registry's dedup_gate_twin",
    "start_user_spend_matview": "streaming twin of the registry's matview_user_spend_twin",
    "events_stream_tumbling": "the watermarked-window streaming entry point",
    "user_activity_tracker": "the stateful-map streaming entry point",
    "dedup_stream": "the watermark-dedup streaming entry point",
}


def _py_files(*paths: Path) -> list[Path]:
    out: list[Path] = []
    for p in paths:
        if p.is_file() and p.suffix == ".py":
            out.append(p)
        elif p.is_dir():
            out.extend(sorted(p.rglob("*.py")))
    return out


def _names(node: ast.AST) -> set[str]:
    """Every name a piece of code uses: loads, attributes and imports."""
    found: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            found.add(n.id)
        elif isinstance(n, ast.Attribute):
            found.add(n.attr)
        elif isinstance(n, ast.alias):
            found.add(n.name.rsplit(".", 1)[-1])
    return found


def _string_names(node: ast.AST) -> set[str]:
    """Identifier-shaped string constants (lazy export tables)."""
    return {
        n.value
        for n in ast.walk(node)
        if isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier()
    }


def scan() -> dict[str, list[str]]:
    """Unreached top-level definitions: ``{name: [module, ...]}``."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: set[str] = set()
    for path in _py_files(PACKAGE):
        module = path.relative_to(REPO).with_suffix("").as_posix().replace("/", ".")
        tree = ast.parse(path.read_text(), str(path))
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(stmt.name, []).append((module, stmt))
                if stmt.decorator_list or (
                    ".registry." in module and stmt.name[:2] in ("q_", "o_")
                ):
                    roots.add(stmt.name)
            elif not (
                isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant)
            ):  # module-level code, not the docstring
                roots |= _names(stmt)
                if path.name == "__init__.py":
                    roots |= _string_names(stmt)
    for path in _py_files(*(REPO / s for s in ROOT_SOURCES)):
        roots |= _names(ast.parse(path.read_text(), str(path)))

    reached: set[str] = set()
    todo = [*roots, *KEEP]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, node in defs.get(name, ()):
            todo.extend(_names(node) - reached)
    return {
        name: [m for m, _ in where]
        for name, where in sorted(defs.items())
        if name not in reached
        and not (name.startswith("__") and name.endswith("__"))
    }


def test_every_package_definition_is_reached_outside_tests():
    dead = scan()
    assert not dead, "reached only from tests/ or from nothing: " + ", ".join(
        f"{m}.{name}" for name, mods in dead.items() for m in mods
    )


def test_keep_list_names_existing_definitions():
    """A stale keep-list entry would silently exempt a future name."""
    defined = set()
    for path in _py_files(PACKAGE):
        tree = ast.parse(path.read_text(), str(path))
        defined |= {
            s.name
            for s in tree.body
            if isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        }
    assert set(KEEP) <= defined, sorted(set(KEEP) - defined)
