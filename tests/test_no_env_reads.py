"""Deployment settings come from the environment in exactly two modules:
``session.py`` (Spark session) and ``config_sources.py`` (the .env / env /
spark-conf layering).  No operator may grow a tuning knob that nothing sets
by reading ``os.environ`` or ``os.getenv``."""

from __future__ import annotations

import ast
import pathlib

import language_identification_spark

PACKAGE = pathlib.Path(language_identification_spark.__file__).parent
ALLOWED = {"session.py", "config_sources.py"}
_ENV = {"environ", "getenv"}


def _env_reads(tree: ast.AST) -> list[int]:
    lines = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and node.attr in _ENV
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        ):
            lines.append(node.lineno)
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            if any(a.name in _ENV for a in node.names):
                lines.append(node.lineno)
    return lines


def test_env_is_read_only_in_session_and_config_sources():
    found = [
        f"{path.relative_to(PACKAGE.parent)}:{line}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.relative_to(PACKAGE).as_posix() not in ALLOWED
        for line in _env_reads(ast.parse(path.read_text(), filename=str(path)))
    ]
    assert not found, found

