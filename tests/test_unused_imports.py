"""Every name a module imports is used in that module.

Parses each module under ``counsel_data_pipeline_spark/`` and ``tools/``
with ``ast`` (nothing is imported or run) and fails on an imported name
that the module never references. An import kept for its side effect
says so with ``# noqa: F401`` on its line; ``__init__.py`` files, whose
imports are re-exports, are skipped.
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGES = ("counsel_data_pipeline_spark", "tools")


def _modules():
    for pkg in PACKAGES:
        for path in sorted((ROOT / pkg).rglob("*.py")):
            if path.name != "__init__.py":
                yield path


def _imported(tree: ast.Module, lines: list[str]):
    """(bound name, line) for each import not marked ``noqa: F401``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        span = lines[node.lineno - 1 : node.end_lineno]
        if any("noqa: F401" in line for line in span):
            continue
        for alias in node.names:
            if alias.name == "*":
                continue
            name = alias.asname or alias.name.split(".")[0]
            yield name, node.lineno


def _annotations(tree: ast.Module):
    for node in ast.walk(tree):
        if isinstance(node, ast.arg) and node.annotation is not None:
            yield node.annotation
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and node.returns:
            yield node.returns
        elif isinstance(node, ast.AnnAssign):
            yield node.annotation


def _referenced(tree: ast.Module) -> set[str]:
    names = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    # a quoted annotation names its imports inside a string
    for ann in _annotations(tree):
        for node in ast.walk(ann):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                try:
                    expr = ast.parse(node.value, mode="eval")
                except SyntaxError:  # a Literal["…"] value, not a type
                    continue
                names.update(n.id for n in ast.walk(expr) if isinstance(n, ast.Name))
    # and ``__all__`` re-exports by name
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            names.update(
                e.value for e in ast.walk(node.value)
                if isinstance(e, ast.Constant) and isinstance(e.value, str)
            )
    return names


def test_no_unused_imports():
    unused = []
    for path in _modules():
        source = path.read_text(encoding="utf-8")
        tree = ast.parse(source, filename=str(path))
        used = _referenced(tree)
        for name, line in _imported(tree, source.splitlines()):
            if name not in used:
                unused.append(f"{path.relative_to(ROOT)}:{line}: {name}")
    assert not unused, "imported but never used:\n" + "\n".join(unused)


def test_check_sees_an_unused_import_and_honours_noqa():
    source = (
        "import os\n"
        "import sys  # noqa: F401\n"
        "from json import dumps, loads\n"
        "def f(x: 'Mapping') -> str:\n"
        "    return dumps(x)\n"
    )
    tree = ast.parse(source)
    used = _referenced(tree)
    unused = [n for n, _ in _imported(tree, source.splitlines()) if n not in used]
    assert unused == ["os", "loads"]
