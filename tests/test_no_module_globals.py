"""No operator may keep module-global state that changes what an earlier
returned DataFrame computes: the package has no ``global`` statement."""

from __future__ import annotations

import ast
import pathlib

import language_identification_spark

PACKAGE = pathlib.Path(language_identification_spark.__file__).parent


def test_package_has_no_global_statement():
    found = [
        f"{path.relative_to(PACKAGE.parent)}:{node.lineno}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path)))
        if isinstance(node, ast.Global)
    ]
    assert not found, found
