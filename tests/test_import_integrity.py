"""Static import integrity: every ``sqlserver_pg_cdc_spark.*`` import in
the package, the scripts and the tests resolves to a module file, and
every name imported from it is bound there.

Most imports in ``workload.py`` and ``cli.py`` are function-local, so
importing a module proves nothing about them; a dangling one only fails
when its query or subcommand runs. This walks the AST instead (no
Spark, no imports executed)."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "sqlserver_pg_cdc_spark"


def _sources() -> list[Path]:
    files = [ROOT / "__spark_entry__.py"]
    for d in (PKG, "scripts", "tests"):
        files += sorted((ROOT / d).rglob("*.py"))
    return files


def _module_file(module: str) -> Path | None:
    base = ROOT.joinpath(*module.split("."))
    for cand in (base.with_suffix(".py"), base / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def _bound_names(tree: ast.Module) -> set[str]:
    """Names a module binds at top level (descending into if/try/with)."""
    names: set[str] = set()
    stack = list(tree.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names |= {n.id for n in ast.walk(t) if isinstance(n, ast.Name)}
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                names.add(a.asname or a.name.split(".")[0])
        elif isinstance(node, (ast.If, ast.Try, ast.With)):
            for field in ("body", "orelse", "finalbody", "handlers"):
                stack.extend(getattr(node, field, []))
        elif isinstance(node, ast.ExceptHandler):
            stack.extend(node.body)
    return names


def _absolute(path: Path, node: ast.ImportFrom) -> str:
    if not node.level:
        return node.module or ""
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    base = parts[: len(parts) - node.level]
    return ".".join(base + ([node.module] if node.module else []))


def test_every_package_import_resolves():
    bound: dict[Path, set[str]] = {}
    problems: list[str] = []
    checked = 0
    for path in _sources():
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            where = f"{path.relative_to(ROOT)}:{getattr(node, 'lineno', 0)}"
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.split(".")[0] == PKG:
                        checked += 1
                        if _module_file(a.name) is None:
                            problems.append(f"{where}: no module {a.name}")
            elif isinstance(node, ast.ImportFrom):
                module = _absolute(path, node)
                if module.split(".")[0] != PKG:
                    continue
                mfile = _module_file(module)
                if mfile is None:
                    problems.append(f"{where}: no module {module}")
                    continue
                if mfile not in bound:
                    bound[mfile] = _bound_names(ast.parse(mfile.read_text()))
                for a in node.names:
                    checked += 1
                    if a.name != "*" and a.name not in bound[mfile] and (
                        _module_file(f"{module}.{a.name}") is None
                    ):
                        problems.append(f"{where}: {module} has no {a.name}")
    assert not problems, "\n".join(problems)
    assert checked > 200, checked
