"""One engine under serving: the declarative executor (plans/executor.py)
is the reference the parity tests and ``cli verify`` compare the kernel
against, never a runtime dependency of a served route. Spark-free."""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "bitfunnel_spark"
ALLOWED = {"cli.py", "plans/executor.py"}


def _imports_executor(tree: ast.AST) -> bool:
    """Whether a module imports plans.executor (the package uses absolute
    imports only: ``from bitfunnel_spark.plans.executor import ...``,
    ``from bitfunnel_spark.plans import executor``, ``import ...``)."""
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            names = {node.module} | {f"{node.module}.{a.name}" for a in node.names}
        elif isinstance(node, ast.Import):
            names = {a.name for a in node.names}
        else:
            continue
        if "bitfunnel_spark.plans.executor" in names:
            return True
    return False


def test_executor_imported_only_by_cli_verify():
    importers = {
        p.relative_to(PKG).as_posix()
        for p in PKG.rglob("*.py")
        if _imports_executor(ast.parse(p.read_text(), str(p)))
    }
    assert importers <= ALLOWED, sorted(importers - ALLOWED)
    assert "cli.py" in importers  # cli verify compares against the reference
