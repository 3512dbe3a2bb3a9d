"""Engineering-discipline audits: no per-row Python UDFs, no RDD maps,
no driver-side collect loops inside operators (input_hint: vectorized
pandas/Arrow UDFs only)."""

from __future__ import annotations

import ast
import pathlib
import re

TESTS = pathlib.Path(__file__).parent
PKG = TESTS.parent / "relation_extraction_using_llms_spark"
REF_LOADERS = {"ref_module", "ref_setup_module"}

FORBIDDEN = [
    (re.compile(r"\bF\.udf\(|\budf\(lambda"), "row-at-a-time F.udf"),
    (re.compile(r"\.rdd\.map|\.rdd\.flatMap|\bsc\.parallelize"), "RDD map path"),
    (re.compile(r"\.toPandas\(\)"), "driver-side full materialization"),
]

ALLOWED_COLLECT = {
    # none: operators must not collect; tests/bench drive actions.
}


def _py_files():
    return [p for p in PKG.rglob("*.py")]


def test_no_forbidden_constructs():
    offenders = []
    for path in _py_files():
        src = path.read_text()
        for pat, label in FORBIDDEN:
            if pat.search(src):
                offenders.append((str(path), label))
    assert not offenders, offenders


def test_no_collect_inside_operators():
    """Data collects are forbidden; tiny driver-side metadata reads must be
    explicitly marked '# driver-metadata collect'."""
    offenders = []
    for path in _py_files():
        for line in path.read_text().splitlines():
            if ".collect()" in line and "driver-metadata collect" not in line:
                offenders.append((str(path), line.strip()))
    assert not offenders, offenders


def test_pandas_udfs_are_batched():
    """Every mapInPandas/applyInPandas body must take iterator/frame args,
    and the package must import pandas only inside UDF modules (cheap
    executor import)."""
    n_vectorized = 0
    for path in _py_files():
        src = path.read_text()
        n_vectorized += src.count("mapInPandas") + src.count("applyInPandas")
    assert n_vectorized >= 6  # the Python surface is Arrow-batched


def _import_time_calls(tree):
    """Call nodes that run when the module is imported: everything outside
    function and lambda bodies (decorators and defaults included)."""
    pending = list(tree.body)
    while pending:
        node = pending.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            pending += node.decorator_list + node.args.defaults
            pending += [d for d in node.args.kw_defaults if d is not None]
            continue
        if isinstance(node, ast.Lambda):
            pending += node.args.defaults
            continue
        if isinstance(node, ast.Call):
            yield node
        pending += ast.iter_child_nodes(node)


def test_no_import_time_reference_loads():
    """A reference load at import time is a collection error wherever the
    reference checkout is absent, and it drops every test in the module:
    load the reference in a fixture gated by ``require_reference()``."""
    offenders = []
    for path in sorted(TESTS.glob("*.py")):
        for call in _import_time_calls(ast.parse(path.read_text())):
            func = call.func
            name = getattr(func, "id", None) or getattr(func, "attr", None)
            if name in REF_LOADERS:
                offenders.append(f"{path.name}:{call.lineno} {name}")
    assert not offenders, offenders
