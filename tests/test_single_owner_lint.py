"""Each cross-cutting session mechanism has one owner in the package
(the test_driver_action_lint.py precedent: an AST scan, files only).

- Session conf is written only in ``session.py``: ``build_session`` sets
  the defaults and ``conf_scope`` owns every per-call change.
- A stream is started only in ``streaming/pipeline.py::_run_stream``, which
  owns the availableNow trigger, the checkpoint and the state-partition pin.

A new ``.conf.set``/``.conf.unset`` or ``.start()``/``.awaitTermination()``
site elsewhere fails here; route it through the owner instead.
"""

from __future__ import annotations

import ast
import functools
import os

PKG = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), os.pardir, "presto_weather_spark"
)

CONF_OWNER = "session.py"
STREAM_OWNER = ("streaming/pipeline.py", "_run_stream")


@functools.cache
def _calls() -> list[tuple[str, str, ast.Call]]:
    """(relpath, enclosing function, call) for every call in the package."""
    found = []
    for root, _, files in os.walk(PKG):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, PKG)
            stack: list[str] = []

            class V(ast.NodeVisitor):
                def visit_FunctionDef(self, node):
                    stack.append(node.name)
                    self.generic_visit(node)
                    stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Call(self, node):
                    found.append((rel, stack[-1] if stack else "<module>", node))
                    self.generic_visit(node)

            V().visit(ast.parse(open(path).read()))
    return found


def _is_conf_write(call: ast.Call) -> bool:
    fn = call.func
    return (
        isinstance(fn, ast.Attribute)
        and fn.attr in ("set", "unset")
        and isinstance(fn.value, ast.Attribute)
        and fn.value.attr == "conf"
    )


def _is_stream_start(call: ast.Call) -> bool:
    fn = call.func
    return isinstance(fn, ast.Attribute) and fn.attr in ("start", "awaitTermination")


def test_session_conf_is_written_only_in_session_module():
    sites = [(rel, fn) for rel, fn, call in _calls() if _is_conf_write(call)]
    assert any(rel == CONF_OWNER for rel, _ in sites), "lint matched nothing"
    stray = sorted({s for s in sites if s[0] != CONF_OWNER})
    assert not stray, f"conf written outside {CONF_OWNER}; use conf_scope: {stray}"


def test_streams_start_only_in_the_stream_helper():
    sites = {(rel, fn) for rel, fn, call in _calls() if _is_stream_start(call)}
    assert STREAM_OWNER in sites, "lint matched nothing"
    stray = sorted(sites - {STREAM_OWNER})
    assert not stray, f"stream started outside {STREAM_OWNER}; use it: {stray}"
