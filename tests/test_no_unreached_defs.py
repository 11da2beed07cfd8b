"""Every top-level function and class in the package is named by code outside
``tests/``: the package itself, ``__spark_entry__.py`` (the oracled queries),
``jobs/``, ``tools/`` or ``perfbench/``.  A definition that only tests name is
a capability no engine entry point reaches: delete it, or keep it in ``KEPT``
with the test that needs it.  Names count as identifiers (a name, an
attribute or an import), not as words in docstrings or comments."""

from __future__ import annotations

import ast
import pathlib

import language_identification_spark

PACKAGE = pathlib.Path(language_identification_spark.__file__).parent
ROOT = PACKAGE.parent
CALLERS = [PACKAGE, ROOT / "jobs", ROOT / "tools", ROOT / "perfbench", ROOT / "__spark_entry__.py"]

KEPT = {
    # scalar twins: the per-row spec a vectorized path is checked against
    "functions/lang.py::collapse_supported_scalar": "test_lang.py::test_scalar",
    "hashing.py::char_trigram_buckets_scalar": "test_hashing.py::test_trigram_parity",
    "hashing.py::word_bigram_buckets_scalar": "test_hashing.py::test_word_bigram_parity",
    # instruments a test measures surviving behaviour with
    "operators/quantize.py::dequantize_expr": "test_quantize.py (quantize round trip)",
    "sources/layout.py::file_column_ranges": "test_layout.py (write_range_sorted layout)",
    "models/train_distributed.py::train_langid_distributed":
        "test_train_distributed.py (bit-identity with the in-process trainer)",
    "models/train_distributed.py::train_perplexity_distributed":
        "test_train_distributed.py (bit-identity with the in-process trainer)",
    "models/seed_corpora.py::train_split":
        "test_train_distributed.py, test_training_job.py (training corpus)",
    # only a test reaches these capabilities yet: delete each, or name its caller
    "config_sources.py::resolve_output_mode": "test_config_sources.py::test_resolve_output_mode",
    "operators/codestats.py::strip_comments_rewrite":
        "test_codestats.py::test_strip_comments_rewrite_roundtrip",
    "operators/linespans.py::span_context_text":
        "test_linespans.py::test_context_pad_clamped_end_to_end",
    "operators/repolevel.py::apply_repo_filter": "test_fim.py::test_apply_repo_filter_broadcasts",
    "sources/layout.py::compact": "test_layout.py::test_compact_bounds_file_count_and_preserves_rows",
}


def _sources():
    for src in CALLERS:
        for path in [src] if src.is_file() else sorted(src.rglob("*.py")):
            if "tests" not in path.relative_to(ROOT).parts:
                yield path


def _identifiers(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.alias):
            yield node.name.rsplit(".", 1)[-1]


def test_every_package_definition_is_named_outside_tests():
    named = {n for path in _sources() for n in _identifiers(ast.parse(path.read_text()))}
    unreached = [
        f"{path.relative_to(PACKAGE).as_posix()}::{node.name}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for node in ast.parse(path.read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and node.name not in named
    ]
    assert sorted(set(unreached) - set(KEPT)) == [], "named only by tests"
    assert sorted(set(KEPT) - set(unreached)) == [], "KEPT entry now has a caller"
