"""Static gate: one session memo and one stream run in engine code.

Per-session state (artifact paths, label tables, training state) lives
in dicts on ``spark._quty_<family>``, and only
``quty_server_spark/session.py`` (``memo``) may read or set those
attributes; every other module goes through ``memo``. Likewise every
bounded stream run goes through ``streaming/ops.py``'s
``run_available``, the only place that starts a writer under
``trigger(availableNow=True)`` and waits for it. A second hand-rolled
copy of either device fails here. Pure AST: no Spark session starts.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1] / "quty_server_spark"

MEMO_HOME = "quty_server_spark/session.py"
STREAM_RUN_HOME = ("quty_server_spark/streaming/ops.py", "run_available")

_ATTR_BUILTINS = {"getattr", "setattr", "hasattr", "delattr"}


def _modules():
    for path in sorted(ROOT.rglob("*.py")):
        rel = str(path.relative_to(ROOT.parent))
        yield rel, ast.parse(path.read_text(), filename=str(path))


def _enclosing_function(tree: ast.AST, lineno: int) -> str:
    """Name of the innermost function containing ``lineno`` ('' if none)."""
    best, best_span = "", None
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            end = node.end_lineno or node.lineno
            if node.lineno <= lineno <= end:
                span = end - node.lineno
                if best_span is None or span < best_span:
                    best, best_span = node.name, span
    return best


def _session_attr_sites(tree: ast.AST) -> list[int]:
    """Lines that read or set a ``_quty_*`` attribute, either directly
    (``spark._quty_x``) or by name (``getattr(spark, "_quty_x", ...)``)."""
    lines = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr.startswith("_quty_"):
            lines.append(node.lineno)
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id in _ATTR_BUILTINS
            and len(node.args) >= 2
            and isinstance(node.args[1], ast.Constant)
            and isinstance(node.args[1].value, str)
            and node.args[1].value.startswith("_quty_")
        ):
            lines.append(node.lineno)
    return lines


def _stream_run_sites(tree: ast.AST) -> list[int]:
    """Lines of ``.trigger(availableNow=True)`` and ``.awaitTermination()``
    calls."""
    lines = []
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
        ):
            continue
        if node.func.attr == "awaitTermination" or (
            node.func.attr == "trigger"
            and any(k.arg == "availableNow" for k in node.keywords)
        ):
            lines.append(node.lineno)
    return lines


def test_session_memo_attributes_only_in_session_module():
    hits = sorted(
        {
            f"{rel}: {_enclosing_function(tree, line)}()"
            for rel, tree in _modules()
            if rel != MEMO_HOME
            for line in _session_attr_sites(tree)
        }
    )
    assert not hits, (
        "hand-rolled _quty_* session state outside session.memo:\n"
        + "\n".join(hits)
    )


def test_available_now_runs_only_in_run_available():
    hits = []
    for rel, tree in _modules():
        for line in _stream_run_sites(tree):
            fn = _enclosing_function(tree, line)
            if (rel, fn) != STREAM_RUN_HOME:
                hits.append(f"{rel}:{line} in {fn}()")
    assert not hits, (
        "availableNow stream run outside run_available:\n" + "\n".join(hits)
    )

