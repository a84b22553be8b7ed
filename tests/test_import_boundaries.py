"""Production modules stay independent of the reference layer: only
``oracle.py`` may import ``oracle`` or the pure-Python ``xxh64`` twin, so
an oracle-vs-operator parity test never compares a module with itself."""

import ast
from pathlib import Path

import jsonschema_validator_spark

PACKAGE = Path(jsonschema_validator_spark.__file__).parent
REFERENCE_MODULES = {"oracle", "xxh64"}


def _imported_names(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield from alias.name.split(".")
        elif isinstance(node, ast.ImportFrom):
            yield from (node.module or "").split(".")
            for alias in node.names:
                yield alias.name


def test_only_oracle_imports_reference_modules():
    modules = sorted(PACKAGE.rglob("*.py"))
    assert len(modules) > 20
    offenders = {}
    for path in modules:
        if path.name == "oracle.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        hits = REFERENCE_MODULES.intersection(_imported_names(tree))
        if hits:
            offenders[str(path.relative_to(PACKAGE))] = sorted(hits)
    assert offenders == {}
