"""Every ``etl_opensky_spark`` import in the package, its tools and the
benchmark resolves: the module exists and binds each imported name.

The check is static (``ast``; nothing is imported and no Spark starts), so
it also covers the lazy imports inside function bodies, which otherwise
fail only when their code path runs — the usual leftover when a module or
a function is deleted."""

from __future__ import annotations

import ast
from functools import cache
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "etl_opensky_spark"
SCANNED = (PACKAGE, "tools", "perfbench")


def _module_path(module: str) -> Path | None:
    base = ROOT.joinpath(*module.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


@cache
def _bound_names(module: str) -> frozenset[str]:
    """Names the module binds at top level: defs, classes, assignments
    and imports, also inside top-level if/try/with blocks."""
    tree = ast.parse(_module_path(module).read_text())
    names: set[str] = set()
    todo: list[ast.AST] = list(tree.body)
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for target in targets:
                names.update(
                    n.id for n in ast.walk(target) if isinstance(n, ast.Name)
                )
        elif isinstance(node, (ast.If, ast.Try, ast.With, ast.ExceptHandler)):
            todo.extend(ast.iter_child_nodes(node))
    return frozenset(names)


def _ours(module: str | None) -> bool:
    return module is not None and (
        module == PACKAGE or module.startswith(PACKAGE + ".")
    )


def _dangling(source: str, where: str) -> list[str]:
    """One message per package import in ``source`` that does not resolve."""
    problems = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if _ours(alias.name) and _module_path(alias.name) is None:
                    problems.append(f"{where}:{node.lineno}: no module {alias.name}")
        elif (
            isinstance(node, ast.ImportFrom) and node.level == 0
            and _ours(node.module)
        ):
            if _module_path(node.module) is None:
                problems.append(f"{where}:{node.lineno}: no module {node.module}")
                continue
            for alias in node.names:
                submodule = f"{node.module}.{alias.name}"
                if (
                    alias.name not in _bound_names(node.module)
                    and _module_path(submodule) is None
                ):
                    problems.append(
                        f"{where}:{node.lineno}: {node.module} has no {alias.name}"
                    )
    return problems


def _scanned_files() -> list[Path]:
    return sorted(p for d in SCANNED for p in (ROOT / d).rglob("*.py"))


def test_every_package_import_resolves():
    problems = [
        msg
        for path in _scanned_files()
        for msg in _dangling(path.read_text(), str(path.relative_to(ROOT)))
    ]
    assert not problems, "dangling imports:\n" + "\n".join(problems)


def test_the_check_sees_lazy_and_dangling_imports():
    source = (
        "from etl_opensky_spark.operators.keys import surrogate_key\n"
        "from etl_opensky_spark.functions import datetime\n"
        "def helper():\n"
        "    from etl_opensky_spark.sources.versioned import no_such_name\n"
        "    import etl_opensky_spark.no_such_module\n"
        "    from etl_opensky_spark.no_such_module import x\n"
    )
    assert _dangling(source, "probe") == [
        "probe:4: etl_opensky_spark.sources.versioned has no no_such_name",
        "probe:5: no module etl_opensky_spark.no_such_module",
        "probe:6: no module etl_opensky_spark.no_such_module",
    ]
    # the package, its tools and the benchmark are all scanned
    scanned = {p.relative_to(ROOT).parts[0] for p in _scanned_files()}
    assert scanned == set(SCANNED)
