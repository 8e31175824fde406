"""Every ``crabspark`` module needs a consumer (ROADMAP rule 2).

Walks the ``import`` / ``from ... import`` statements of the entry points —
the engine, the query registry, streaming, WARC, the ``bin/`` jobs and
``bench.py`` — with ``ast`` (function-local imports included) and follows
every import that resolves to a file in this repo. A ``crabspark/*.py``
module outside that transitive closure is code nothing runs. No Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
ROOTS = [
    "crabspark/engine.py",
    "crabspark/queries.py",
    "crabspark/streaming.py",
    "crabspark/warc.py",
    "bench.py",
    *sorted(p.relative_to(REPO).as_posix() for p in (REPO / "bin").glob("*.py")),
]


def _module_file(name: str) -> Path | None:
    """The repo file a dotted module name imports, or None if not ours."""
    base = REPO.joinpath(*name.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def _imported_files(path: Path) -> set[Path]:
    names: list[str] = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            names += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            assert not node.level, f"{path}: relative imports are not followed"
            names.append(node.module)
            # `from pkg import sub` may name a submodule, not an attribute
            names += [f"{node.module}.{a.name}" for a in node.names]
    files = set()
    for name in names:
        parts = name.split(".")
        # importing a.b.c runs a/__init__, a/b/__init__ and a/b/c
        for i in range(1, len(parts) + 1):
            f = _module_file(".".join(parts[:i]))
            if f is not None:
                files.add(f)
    return files


def _closure() -> set[Path]:
    todo = [REPO / r for r in ROOTS]
    seen: set[Path] = set()
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        todo += _imported_files(path) - seen
    return seen


def test_roots_exist():
    missing = [r for r in ROOTS if not (REPO / r).is_file()]
    assert not missing, missing


def test_every_crabspark_module_has_a_consumer():
    reached = _closure()
    orphans = sorted(
        p.name for p in (REPO / "crabspark").glob("*.py") if p not in reached
    )
    assert not orphans, f"crabspark modules nothing imports: {orphans}"
