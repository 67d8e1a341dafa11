"""Every module under ``jgtextrank_spark/`` is reached by an import from
the engine's entry points, so code that nothing runs cannot accumulate
unnoticed.

The walk is pure AST (no SparkSession, nothing imported). It starts from
the public keyword API (``api``), ``streaming``, the spark-submit job,
the benchmark harness and the scripts, and follows every import of the
package: module-level and inside functions, absolute and relative.
Importing a module also runs its parent packages' ``__init__``. The gate
queries in ``__spark_entry__.py`` and the tests are not roots: a module
that only they import is not part of the engine."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "jgtextrank_spark"

# Not reached from the roots, kept for now because tier-1 floor tests
# check them. The list may only shrink: deleting one of these modules
# (with its tests and gate queries) removes its name here, and a new
# module that no root imports fails the test.
UNREACHED_KEPT = frozenset(
    f"{PKG}.{name}"
    for name in (
        "algos.bipartite",
        "algos.densest",
        "algos.graphstats",
        "algos.groupdist",
        "algos.linkpred",
        "algos.mis",
        "algos.mst",
        "algos.neighborhood",
        "algos.paths",
        "algos.walks",
        "algos.wlhash",
        "crawl",
        "functions.bpe",
        "functions.curation",
        "functions.evalops",
        "functions.gsloaders",
        "functions.lm",
        "functions.multimodal",
        "functions.packing",
        "functions.sampling",
        "functions.search",
        "functions.similarity",
    )
)


def _module_name(path: Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _package_modules() -> dict[str, Path]:
    return {_module_name(p): p for p in (REPO / PKG).rglob("*.py")}


ROOT_MODULES = [f"{PKG}.api", f"{PKG}.streaming"]


def _root_files() -> list[Path]:
    bench = [
        p
        for p in (REPO / "perfbench").glob("*.py")
        if not p.name.startswith("test_")
    ]
    return [
        REPO / "jobs" / "linkgraph_job.py",
        *bench,
        *(REPO / "scripts").glob("*.py"),
    ]


def _imported(path: Path, modules: dict[str, Path]) -> set[str]:
    """Package modules that importing ``path`` runs."""
    name = _module_name(path)
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            found.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.split(".")
                anchor = anchor[: len(anchor) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            found.add(base)
            # `from pkg import sub` imports the submodule `pkg.sub`
            found.update(f"{base}.{alias.name}" for alias in node.names)
    reached = set()
    for mod in found:
        parts = mod.split(".")
        reached.update(
            ".".join(parts[:i])
            for i in range(1, len(parts) + 1)
            if ".".join(parts[:i]) in modules
        )
    return reached


def _reachable() -> set[str]:
    modules = _package_modules()
    seen: set[str] = set()
    todo = ROOT_MODULES + [
        m for p in _root_files() for m in _imported(p, modules)
    ]
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        todo.extend(_imported(modules[mod], modules) - seen)
    return seen


def test_every_package_module_is_reached():
    unreached = set(_package_modules()) - _reachable() - UNREACHED_KEPT
    assert not unreached, (
        f"modules no entry point imports: {sorted(unreached)}"
    )


def test_unreached_list_only_shrinks():
    modules = _package_modules()
    gone = UNREACHED_KEPT - set(modules)
    assert not gone, f"deleted, drop from UNREACHED_KEPT: {sorted(gone)}"
    reached = UNREACHED_KEPT & _reachable()
    assert not reached, (
        f"now reached, drop from UNREACHED_KEPT: {sorted(reached)}"
    )
