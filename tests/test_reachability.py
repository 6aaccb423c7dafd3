"""Every top-level package definition is reached from an entry point.

A definition counts as reached when its name appears in code that runs
from an entry point: the driver contract (``__spark_entry__.py``),
``bench.py``, ``examples/``, ``tools/``, ``perfbench/*.py`` and the
package's own module-level code. Reached definitions reach the names
in their bodies in turn, iterated to a fixpoint. Names are read from
the ``ast`` (``Name``, ``Attribute``, import aliases and identifier
string constants), which also sees names inside f-strings.

The only unreached definitions allowed are reference implementations
that tests compare the engine against. Anything else that nothing
reaches should be deleted, not kept alive by its own tests. No Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "datawarehouse_backup_system_spark"

#: reference implementations that tests pin the engine against
REFERENCE_ONLY = {
    "dedup_approx.py::minhash_signature",
    "importance.py::_bucket_logratio_from_buckets",
    "lm.py::bigram_model",
    "lm.py::score_with_model",
    "quantize.py::pq_encode",
    "similarity.py::neardup_pairs",
    "text.py::tokens_sql",
    "ingest_stream.py::stream_source",
    "ingest_stream.py::streaming_dedup",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
            if n.asname:
                out.add(n.asname)
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and n.value.isidentifier()
        ):
            out.add(n.value)
    return out


def _root_files() -> list[Path]:
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for folder in ("examples", "tools", "perfbench"):
        files += sorted((ROOT / folder).glob("*.py"))
    return files


def unreached_definitions() -> set[str]:
    """``module.py::name`` of every top-level package definition that no
    entry point reaches."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: list[ast.AST] = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                defs.setdefault(stmt.name, []).append(
                    (f"{path.name}::{stmt.name}", stmt)
                )
            else:
                roots.append(stmt)
    for path in _root_files():
        roots.append(ast.parse(path.read_text(), filename=str(path)))

    reached: set[str] = set()
    todo = roots
    while todo:
        node = todo.pop()
        for name in _names(node) - reached:
            reached.add(name)
            todo.extend(stmt for _, stmt in defs.get(name, ()))
    return {
        key
        for name, entries in defs.items()
        if name not in reached
        for key, _ in entries
    }


def test_every_definition_is_reached_or_a_reference():
    assert unreached_definitions() == REFERENCE_ONLY


def test_scan_sees_names_inside_f_strings():
    """``tokenize`` on Python 3.11 reads an f-string as one STRING token,
    so these helpers, used only inside f-strings, would look dead."""
    tree = ast.parse('x = f"SELECT {_cos_sql(a, b)} FROM t"')
    assert "_cos_sql" in _names(tree)
