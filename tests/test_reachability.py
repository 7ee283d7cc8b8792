"""Every ``dotnetspider_spark`` module is reached from an entry point, or
says why it is kept.

The entry points (roots) are the driver contract ``__spark_entry__``,
``bench``, the ``perfbench`` scripts, the CLI (``__main__``), the
``Spider`` API and the crawl loop. The import graph is read with
``ast`` (module-level and function-local imports alike); nothing is
imported and no Spark runs.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "dotnetspider_spark"


def _module_name(path: Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


ROOTS = [
    "__spark_entry__",
    "bench",
    *sorted(_module_name(p) for p in (REPO / "perfbench").glob("*.py")),
    f"{PACKAGE}.__main__",
    f"{PACKAGE}.spider",
    f"{PACKAGE}.crawler.loop",
]

#: modules no root imports, each with the reason it stays
KEEP = {
    f"{PACKAGE}.functions.pagination": (
        "SURVEY.md:193-197 maps AutoIncrement and the LastPageCheckers"
    ),
    f"{PACKAGE}.sinks.files": "SURVEY.md:263 maps File/JsonFilePipeline",
    f"{PACKAGE}.sinks.iceberg": "the BASELINE.json north rule names Iceberg",
    f"{PACKAGE}.crawler.timetravel": "the north rule's checkpointed snapshots",
}


def _modules() -> dict[str, Path]:
    """Dotted name -> file, for the package, perfbench and the top-level
    scripts."""
    files = [
        *REPO.glob("*.py"),
        *(REPO / PACKAGE).rglob("*.py"),
        *(REPO / "perfbench").glob("*.py"),
    ]
    return {_module_name(p): p for p in files}


def _imports(name: str, path: Path) -> set[str]:
    """Every dotted name an import statement in ``path`` names, with each
    of its parent packages; ``from m import x`` also names ``m.x``, which
    is kept only if it is a module."""
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.rsplit(".", node.level - 1)[0]
                base = f"{anchor}.{base}" if base else anchor
            targets = [base, *(f"{base}.{a.name}" for a in node.names)]
        else:
            continue
        for t in targets:
            parts = t.split(".")
            out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out


def _reached(modules: dict[str, Path]) -> set[str]:
    seen, todo = set(), [r for r in ROOTS if r in modules]
    while todo:
        m = todo.pop()
        if m in seen:
            continue
        seen.add(m)
        todo.extend(i for i in _imports(m, modules[m]) if i in modules)
    return seen


def test_roots_exist():
    modules = _modules()
    assert [r for r in ROOTS if r not in modules] == []


def test_every_module_is_reached_or_kept_with_a_reason():
    modules = _modules()
    reached = _reached(modules)
    package = {m for m in modules if m.split(".")[0] == PACKAGE}
    unreached = package - reached
    assert sorted(unreached - KEEP.keys()) == []
    # the keep-list holds only modules that really are unreached, each
    # with its reason, which its docstring also gives
    assert sorted(KEEP.keys() - unreached) == []
    assert all(reason.strip() for reason in KEEP.values())
    for m in KEEP:
        doc = ast.get_docstring(ast.parse(modules[m].read_text()))
        assert "kept because" in doc, m
