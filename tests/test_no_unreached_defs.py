"""Every top-level function and class in the package is named by code outside
``tests/``: the package itself, ``__spark_entry__.py`` (the oracled queries),
``jobs/``, ``tools/`` or ``perfbench/``.  A definition that only tests name is
a capability no engine entry point reaches: delete it, or keep it in ``KEPT``
with the test that needs it.  Names count as identifiers (a name, an
attribute or an import), not as words in docstrings or comments.

The same callers must also set every option they are offered: a defaulted
parameter that no caller outside ``tests/`` passes is a configuration no
oracle checks and no benchmark measures.  Make it a module constant, or keep
it in ``KEPT_KNOBS`` with the need outside tests that sets it."""

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
}


KEPT_KNOBS = {
    "checkpoint.py::run_checkpointed(fail_after)":
        "perfbench's crash-and-resume run passes it through **kw",
    "checkpoint.py::run_checkpointed(fail_between)":
        "fault-injection seam: only it reaches the commit window a crash test needs",
    "config_sources.py::filter_config(env)":
        "the environment the layering reads; a caller substitutes its own",
    "datagen/labeler.py::label_frame(cfg)":
        "the labeler follows whatever FilterConfig a deployment layers in",
    "session.py::get_spark(shuffle_partitions)": "a session setting",
    "operators/dedup.py::incremental_jaccard_pairs(lake_staging)":
        "a path: where a deployment stages the lake's features",
    "functions/heuristics.py::with_heuristics(content)": "a column name",
    "operators/validation.py::column_profile(cols)": "column names",
    "operators/similarity.py::build_ann_index(centroids)":
        "a data input, like the trained centroids the driver passes to ivf_topk",
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


def _callee(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    return f.attr if isinstance(f, ast.Attribute) else None


def _defaulted(fn: ast.FunctionDef) -> list[str]:
    a = fn.args
    pos = a.posonlyargs + a.args
    names = [x.arg for x in pos[len(pos) - len(a.defaults):]]
    names += [x.arg for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return [n for n in names if not n.endswith(("_col", "_cols"))]


def _set_by(fn: ast.FunctionDef, calls: list[ast.Call]) -> set[str]:
    """Parameters of ``fn`` that some call passes, by keyword or position."""
    pos = [x.arg for x in fn.args.posonlyargs + fn.args.args]
    out: set[str] = set()
    for c in calls:
        out |= {k.arg for k in c.keywords if k.arg}
        starred = any(isinstance(x, ast.Starred) for x in c.args)
        out |= set(pos if starred else pos[: len(c.args)])
    return out


def test_every_option_is_set_outside_tests():
    calls: dict[str, list[ast.Call]] = {}
    for path in _sources():
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call) and _callee(node):
                calls.setdefault(_callee(node), []).append(node)
    unset = [
        f"{path.relative_to(PACKAGE).as_posix()}::{node.name}({name})"
        for path in sorted(PACKAGE.rglob("*.py"))
        for node in ast.parse(path.read_text()).body
        if isinstance(node, ast.FunctionDef)
        and not node.name.startswith("_")
        and node.name in calls
        for name in _defaulted(node)
        if name not in _set_by(node, calls[node.name])
    ]
    assert sorted(set(unset) - set(KEPT_KNOBS)) == [], "options no caller outside tests sets"
    assert sorted(set(KEPT_KNOBS) - set(unset)) == [], "KEPT_KNOBS entry now set by a caller"
