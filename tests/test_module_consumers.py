"""Every ``crabspark`` module and every ``Config`` knob needs a consumer
(ROADMAP rule 2).

Modules: walks the ``import`` / ``from ... import`` statements of the entry
points — the engine, the query registry, streaming, WARC, the ``bin/`` jobs
and ``bench.py`` — with ``ast`` (function-local imports included) and
follows every import that resolves to a file in this repo. A
``crabspark/*.py`` module outside that transitive closure is code nothing
runs.

Knobs: every ``Config`` field must be read as an attribute somewhere in
``crabspark/`` outside ``config.py``, in ``bin/`` or in ``bench.py``; a field
nothing reads is a knob that changes nothing. The named allow-list holds
the reference-parity fields that only load.

Persisted state: every literal key of a dict passed to a catalog's
``commit(...)`` or ``compact(...)`` in ``crabspark/`` must be read by an
``extra("<key>")`` call somewhere in ``crabspark/``; a manifest extra
nothing reads is state written for no reader.

Bench scripts: every ``bench/*.py`` must be named by its path in a test or
a ``perfbench/`` file, or sit on a named allow-list with the reason it
stays; a script nothing runs goes.

Functions: every public top-level function and every public method of a
public class in ``crabspark/*.py`` must be referenced — by a name, an
attribute or an import — in non-test code outside its own body, or sit on
a named allow-list with the reason it stays. No Spark.
"""

from __future__ import annotations

import ast
import dataclasses
from pathlib import Path

from crabspark.config import Config

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


# Config fields kept so reference configs load, with nothing to drive
LOAD_ONLY_FIELDS = {
    "starting_url": "folded into seeds by Config itself; the engine reads "
                    "seeds",
    "max_threads": "the reference's fetch thread count; Spark task slots "
                   "replace it",
    "crawler_request_timeout": "the fetch-simulation join has no "
                               "per-request socket to time out",
    "crawler_request_delay_ms": "the crawl loop has no per-request sleep",
    "sqlite_path": "the store is a snapshot catalog rooted at the workdir, "
                   "not a sqlite file",
    "log_relative_paths": "the engine logs no file paths",
}


def _attribute_reads() -> set[str]:
    files = [
        p for p in (REPO / "crabspark").glob("*.py") if p.name != "config.py"
    ]
    files += sorted((REPO / "bin").glob("*.py")) + [REPO / "bench.py"]
    reads = set()
    for path in files:
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, ast.Attribute) and isinstance(
                node.ctx, ast.Load
            ):
                reads.add(node.attr)
    return reads


def test_every_config_field_has_a_consumer():
    fields = {f.name for f in dataclasses.fields(Config)}
    assert set(LOAD_ONLY_FIELDS) <= fields, set(LOAD_ONLY_FIELDS) - fields
    reads = _attribute_reads()
    unread = sorted(fields - reads - set(LOAD_ONLY_FIELDS))
    assert not unread, f"Config fields nothing reads: {unread}"
    # an allow-listed field that gained a reader leaves the list
    stale = sorted(set(LOAD_ONLY_FIELDS) & reads)
    assert not stale, f"allow-listed fields that are now read: {stale}"


def _receiver_name(node: ast.expr) -> str:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return ""


def _manifest_extras() -> tuple[dict[str, str], set[str]]:
    """(literal extra keys committed -> first file:line, keys read)."""
    written: dict[str, str] = {}
    read: set[str] = set()
    for path in sorted((REPO / "crabspark").glob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and _receiver_name(node.func.value).endswith("catalog")
            ):
                continue
            args = [*node.args, *(k.value for k in node.keywords)]
            if node.func.attr == "extra":
                if args and isinstance(args[0], ast.Constant):
                    read.add(args[0].value)
            elif node.func.attr in ("commit", "compact"):
                for arg in args:
                    for d in ast.walk(arg):
                        if not isinstance(d, ast.Dict):
                            continue
                        for key in d.keys:
                            if isinstance(key, ast.Constant):
                                written.setdefault(
                                    key.value, f"{path.name}:{key.lineno}"
                                )
    return written, read


def test_every_manifest_extra_has_a_reader():
    written, read = _manifest_extras()
    assert written, "no committed extras found: the walk is broken"
    unread = sorted(f"{k} ({at})" for k, at in written.items() if k not in read)
    assert not unread, f"manifest extras nothing reads: {unread}"


# bench scripts no test or perfbench file names, with the reason each stays
BENCH_ALLOW_LIST = {
    "frontier_curve.py": "the bloom keep-or-delete decision (ROADMAP item "
                         "4) is a run of it at 120k pages",
}


def _bench_mentions() -> str:
    files = [
        p for p in (REPO / "tests").glob("*.py")
        if p.name != Path(__file__).name  # the allow-list names its keys
    ]
    files += [
        p for p in (REPO / "perfbench").rglob("*")
        if p.is_file() and p.suffix in (".py", ".md")
    ]
    return "\n".join(p.read_text() for p in files)


def test_every_bench_script_has_a_consumer():
    scripts = {p.name for p in (REPO / "bench").glob("*.py")}
    text = _bench_mentions()
    named = {s for s in scripts if f"bench/{s}" in text}
    orphans = sorted(scripts - named - set(BENCH_ALLOW_LIST))
    assert not orphans, f"bench scripts nothing names: {orphans}"
    # an allow-listed script that is gone, or now named, leaves the list
    stale = sorted(set(BENCH_ALLOW_LIST) - (scripts - named))
    assert not stale, f"stale bench allow-list entries: {stale}"


# public functions no non-test code references, with the reason each stays
FUNCTION_ALLOW_LIST = {
    "streaming.start_page_ingest": "the stream-to-frontier candidate "
                                   "ingest, which only tests drive; its "
                                   "keep-or-delete decision is ROADMAP "
                                   "item 9's second change",
    "streaming.start_warc_ingest": "the candidate ingest's archive source "
                                   "(see start_page_ingest)",
    "engine.Engine.ingest_candidates": "the candidate ingest's frontier "
                                       "fold (see start_page_ingest)",
    "engine.Engine.visit_log": "tests read the crawl's visit order from it",
    "tables.Catalog.read_at": "tests read a committed round's state "
                              "through it",
    "tables.Catalog.snapshots": "tests list a table's committed rounds "
                                "through it",
    "warc.write_warc": "writes the WARC fixtures of the WARC tests and of "
                       "the bin/warc_ingest.py spark-submit test",
    "warc.read_cdx": "the read side of the CDX sidecars write_warc writes",
    "warc.fetch_record": "the random-access read of the CDX sidecars "
                         "write_warc writes",
    "extract.extract_links": "the link extractor of tests/oracle.py",
    "queries.train_ivf_centroids": "the provenance of the frozen literals "
                                   "in ivf_centroids.py, which a test "
                                   "re-trains",
}


def _public_functions() -> dict[str, tuple[Path, ast.AST]]:
    """``module.func`` / ``module.Class.method`` -> (file, def node)."""
    defs = {}
    for path in sorted((REPO / "crabspark").glob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in tree.body:
            if isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
                members = [(f"{node.name}.", m) for m in node.body]
            else:
                members = [("", node)]
            for prefix, fn in members:
                if isinstance(
                    fn, (ast.FunctionDef, ast.AsyncFunctionDef)
                ) and not fn.name.startswith("_"):
                    defs[f"{path.stem}.{prefix}{fn.name}"] = (path, fn)
    return defs


def _function_references() -> dict[str, list[tuple[Path, int]]]:
    """name -> (file, line) of every Name, Attribute or import alias in the
    non-test code; docstrings and comments are no nodes, so never count."""
    files = [
        *(REPO / "crabspark").glob("*.py"),
        *(REPO / "bin").glob("*.py"),
        *(REPO / "bench").glob("*.py"),
        *(REPO / "perfbench").rglob("*.py"),
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
    ]
    refs: dict[str, list[tuple[Path, int]]] = {}
    for path in files:
        if path.name.startswith("test_"):
            continue
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.alias):
                name = node.name.rsplit(".", 1)[-1]
            else:
                continue
            refs.setdefault(name, []).append((path, node.lineno))
    return refs


def _uncalled_functions() -> set[str]:
    refs = _function_references()
    return {
        key
        for key, (path, fn) in _public_functions().items()
        if not any(
            # a reference inside the function's own body is no caller
            not (f == path and fn.lineno <= line <= fn.end_lineno)
            for f, line in refs.get(fn.name, [])
        )
    }


def test_every_public_function_has_a_consumer():
    defs = _public_functions()
    assert "engine.Engine.run" in defs, "the def walk is broken"
    uncalled = _uncalled_functions()
    orphans = sorted(uncalled - set(FUNCTION_ALLOW_LIST))
    assert not orphans, f"public functions nothing calls: {orphans}"
    # an allow-listed function that is gone, or now called, leaves the list
    stale = sorted(set(FUNCTION_ALLOW_LIST) - uncalled)
    assert not stale, f"stale function allow-list entries: {stale}"
