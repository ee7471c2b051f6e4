"""Each cross-cutting session mechanism has one owner in the package
(the test_driver_action_lint.py precedent: an AST scan, files only).

- Session conf is written only in ``session.py``: ``build_session`` sets
  the defaults and ``conf_scope`` owns every per-call change.
- A stream is started only in ``streaming/pipeline.py::_run_stream``, which
  owns the availableNow trigger, the checkpoint and the state-partition pin.
- Driver-side rows become a DataFrame only in ``session.py::local_rows``,
  which goes through Arrow (a ``LocalTableScan``, no Python worker).
- Scratch paths are built only in ``session.py``: ``stage_dir`` and
  ``temp_dir`` name, create and remove them.
- The corpus tokenizer and the scan fan-out live only in
  ``operators/_util.py``: ``raw_tokens``/``tokens`` with their DuckDB twins
  ``SQL_RAW_TOKENS``/``SQL_TOKENS``, and ``spread``.
- A ``Query`` is built only in ``registry.py``: composed oracles are
  declared in ``register`` and resolved there, never patched in afterwards.
- A Spark subtree or oracle CTE that two keys need is written once, as a
  helper or a SQL fragment: no run of ``COPY_RUN`` normalized lines appears
  twice in the package unless its two owners are in ``COPY_ALLOWLIST``.
- A frame is checkpointed only in ``operators/_util.py::materialize``, and
  every caller names a literal reason from its ``_EAGER`` table
  (``materialize(df, "reused")`` or ``.transform(materialize, "reused")``),
  so the owner alone decides which reasons run a job at build time.
- Whether a frame is small enough to solve on the driver is decided only in
  ``operators/_util.py::fits_driver``, against the one row limit
  ``DRIVER_ROWS`` (tests force the cluster half by setting it to 0): no
  other module holds a ``*_LIMIT`` constant or orders a bare ``.count()``
  against anything but 0.
- A named temp view is created only in ``session.py`` (``register_views``);
  a key binds its frames with ``spark.sql(text, name=frame)`` instead, so
  no call leaves a view in the shared catalog.

A new ``.conf.set``/``.conf.unset``, ``.start()``/``.awaitTermination()``,
``.createDataFrame``, ``scratch_root()``/``scratch_base()``,
``import tempfile``, ``defaultParallelism``, ``split(lower(...), r"\\s+")``,
``string_split_regex(lower(text)``, ``_REGISTRY``, ``Query(``,
``defer_install``, ``localCheckpoint``, ``*_LIMIT`` constant, size-gating
``.count()`` or ``createOrReplaceTempView``/``createTempView`` site elsewhere
fails here; route it through the owner instead.
"""

from __future__ import annotations

import ast
import collections
import functools
import itertools
import os

PKG = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), os.pardir, "presto_weather_spark"
)

CONF_OWNER = "session.py"
STREAM_OWNER = ("streaming/pipeline.py", "_run_stream")
ROWS_OWNER = ("session.py", "local_rows")
SCRATCH_OWNER = "session.py"
CORPUS_OWNER = os.path.join("operators", "_util.py")
REGISTRY_OWNER = "registry.py"
MATERIALIZE_OWNER = (CORPUS_OWNER, "materialize")
VIEW_OWNER = "session.py"


@functools.cache
def _trees() -> list[tuple[str, ast.Module]]:
    """(relpath, parsed module) for every file in the package."""
    found = []
    for root, _, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as src:
                    found.append((os.path.relpath(path, PKG), ast.parse(src.read())))
    return found


@functools.cache
def _nodes() -> list[tuple[str, str, ast.AST]]:
    """(relpath, enclosing function, node) for every call and import in the
    package."""
    found = []
    for rel, tree in _trees():
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

            visit_Import = visit_ImportFrom = visit_Call

        V().visit(tree)
    return found


def _calls() -> list[tuple[str, str, ast.Call]]:
    return [t for t in _nodes() if isinstance(t[2], ast.Call)]


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


def test_rows_enter_the_engine_only_through_local_rows():
    sites = {
        (rel, fn)
        for rel, fn, call in _calls()
        if isinstance(call.func, ast.Attribute) and call.func.attr == "createDataFrame"
    }
    assert ROWS_OWNER in sites, "lint matched nothing"
    stray = sorted(sites - {ROWS_OWNER})
    assert not stray, f"createDataFrame outside {ROWS_OWNER}; use it: {stray}"


def _is_scratch_site(node: ast.AST) -> bool:
    if isinstance(node, ast.Call):
        fn = node.func
        name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
        return name in ("scratch_root", "scratch_base")
    if isinstance(node, ast.Import):
        return any(a.name == "tempfile" for a in node.names)
    return isinstance(node, ast.ImportFrom) and node.module == "tempfile"


def test_scratch_paths_are_built_only_in_session_module():
    sites = [(rel, fn) for rel, fn, node in _nodes() if _is_scratch_site(node)]
    assert any(rel == SCRATCH_OWNER for rel, _ in sites), "lint matched nothing"
    stray = sorted({s for s in sites if s[0] != SCRATCH_OWNER})
    assert not stray, (
        f"scratch path built outside {SCRATCH_OWNER}; use stage_dir/temp_dir: {stray}"
    )


def _sites(match) -> set[str]:
    """Files holding a node that ``match`` accepts."""
    return {rel for rel, tree in _trees() for node in ast.walk(tree) if match(node)}


def _called(node: ast.AST, name: str) -> bool:
    if not isinstance(node, ast.Call):
        return False
    fn = node.func
    return (fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)) == name


def _is_tokenizer(node: ast.AST) -> bool:
    """A Spark ``split(lower(...), r"\\s+")`` call, or the DuckDB tokenizer
    text in a string constant or f-string part."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return "string_split_regex(lower(text)" in node.value
    return (
        _called(node, "split")
        and len(node.args) >= 2
        and _called(node.args[0], "lower")
        and isinstance(node.args[1], ast.Constant)
        and node.args[1].value == r"\s+"
    )


def test_scan_fan_out_reads_default_parallelism_only_in_util():
    sites = _sites(
        lambda n: isinstance(n, ast.Attribute) and n.attr == "defaultParallelism"
    )
    stray = sorted(sites - {CORPUS_OWNER})
    assert not stray, f"defaultParallelism read outside {CORPUS_OWNER}; use spread: {stray}"
    assert CORPUS_OWNER in sites, "lint matched nothing"


def test_corpus_tokenizer_is_spelled_only_in_util():
    sites = _sites(_is_tokenizer)
    stray = sorted(sites - {CORPUS_OWNER})
    assert not stray, (
        f"tokenizer spelled outside {CORPUS_OWNER}; use raw_tokens/tokens or "
        f"SQL_RAW_TOKENS/SQL_TOKENS: {stray}"
    )
    assert CORPUS_OWNER in sites, "lint matched nothing"


def _is_registry_reach_in(node: ast.AST) -> bool:
    """A use of the registry's private table or of the retired
    ``defer_install``, an import of either or of ``Query``, or a hand-built
    ``Query``."""
    private = ("_REGISTRY", "defer_install")
    if isinstance(node, ast.Name):
        return node.id in private
    if isinstance(node, ast.ImportFrom):
        return any(a.name in (*private, "Query") for a in node.names)
    return _called(node, "Query")


def test_queries_are_built_only_in_the_registry():
    sites = _sites(_is_registry_reach_in)
    stray = sorted(sites - {REGISTRY_OWNER})
    assert not stray, (
        f"registry reached into outside {REGISTRY_OWNER}; declare a composed "
        f"oracle in register instead: {stray}"
    )
    assert REGISTRY_OWNER in sites, "lint matched nothing"


def test_frames_are_checkpointed_only_in_materialize():
    sites = [
        (rel, fn, call.lineno)
        for rel, fn, call in _calls()
        if _called(call, "localCheckpoint")
    ]
    stray = [s for s in sites if s[:2] != MATERIALIZE_OWNER]
    assert not stray, (
        f"{len(stray)} localCheckpoint calls outside {MATERIALIZE_OWNER}; use it: {stray}"
    )
    assert sites, "lint matched nothing"


def _reasons() -> set[str]:
    """The keys of the owner's ``_EAGER`` table."""
    tree = dict(_trees())[CORPUS_OWNER]
    for node in tree.body:
        if isinstance(node, ast.Assign) and getattr(node.targets[0], "id", None) == "_EAGER":
            return {k.value for k in node.value.keys}
    raise AssertionError(f"no _EAGER table in {CORPUS_OWNER}")


def _materialize_reason(use: ast.Name, parent: ast.AST) -> str | None:
    """The literal reason of a ``materialize(df, why)`` call or a
    ``.transform(materialize, why)`` call, else None."""
    if not isinstance(parent, ast.Call) or len(parent.args) != 2:
        return None
    direct = parent.func is use
    piped = _called(parent, "transform") and parent.args[0] is use
    why = parent.args[1]
    if (direct or piped) and isinstance(why, ast.Constant) and isinstance(why.value, str):
        return why.value
    return None


def test_every_materialize_names_a_known_reason():
    reasons, bad, n = _reasons(), [], 0
    for rel, tree in _trees():
        parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and node.id == "materialize":
                n += 1
                why = _materialize_reason(node, parents[node])
                if why not in reasons:
                    bad.append(f"{rel}:{node.lineno} ({why!r})")
    assert n, "lint matched nothing"
    assert not bad, f"materialize needs a literal reason from {sorted(reasons)}: {bad}"


_ORDER = (ast.Lt, ast.LtE, ast.Gt, ast.GtE)


def _is_bare_count(node: ast.AST) -> bool:
    """``<frame>.count()`` with no arguments (not the column ``F.count(c)``)."""
    return _called(node, "count") and not node.args and not node.keywords


def _size_gates(tree: ast.Module) -> list[str]:
    """Module-level ``*_LIMIT`` constants, and bare ``.count()`` results
    ordered against anything but 0 (emptiness checks stay legal)."""
    found = [
        f"{t.id}:{node.lineno}"
        for node in tree.body
        if isinstance(node, (ast.Assign, ast.AnnAssign))
        for t in (node.targets if isinstance(node, ast.Assign) else [node.target])
        if isinstance(t, ast.Name) and t.id.endswith("_LIMIT")
    ]
    for node in ast.walk(tree):
        if not isinstance(node, ast.Compare):
            continue
        sides = [node.left, *node.comparators]
        for op, a, b in zip(node.ops, sides, sides[1:]):
            for count, other in ((a, b), (b, a)):
                zero = isinstance(other, ast.Constant) and other.value == 0
                if isinstance(op, _ORDER) and _is_bare_count(count) and not zero:
                    found.append(f"count():{node.lineno}")
    return found


def test_driver_or_cluster_is_chosen_only_in_fits_driver():
    stray = {
        rel: gates
        for rel, tree in _trees()
        if rel != CORPUS_OWNER and (gates := _size_gates(tree))
    }
    assert not stray, (
        f"size gate outside {CORPUS_OWNER}; use fits_driver and DRIVER_ROWS: {stray}"
    )
    owner = dict(_trees())[CORPUS_OWNER]
    assert any(
        isinstance(n, ast.FunctionDef) and n.name == "fits_driver" for n in owner.body
    ), "lint matched nothing"


def test_temp_views_are_created_only_in_session_module():
    sites = [
        (rel, fn, call.lineno)
        for rel, fn, call in _calls()
        if _called(call, "createOrReplaceTempView") or _called(call, "createTempView")
    ]
    assert any(rel == VIEW_OWNER for rel, _, _ in sites), "lint matched nothing"
    stray = [s for s in sites if s[0] != VIEW_OWNER]
    assert not stray, (
        f"temp view created outside {VIEW_OWNER}; bind the frame with "
        f"spark.sql(text, name=frame) instead: {stray}"
    )


COPY_RUN = 8  # normalized lines; shorter shared runs are idiom, not a copy
_BARE = {"(", ")", "),", "))", ")))", "]", "],", "}", '"""', '""",'}
# Pairs of owning functions ("file::function") allowed to share a run, each
# with the reason sharing it would need a flag or a branch on the caller.
_KNN_KERNELS = (
    "Arrow UDF kernels stay self-contained: a module-level helper would make "
    "every Python worker import this module to unpickle them, and the kernels "
    "differ in rounding and output columns"
)
COPY_ALLOWLIST: dict[frozenset[str], str] = {
    frozenset({"operators/similarity.py::score"}): _KNN_KERNELS,
    frozenset({"operators/similarity.py::mine", "operators/similarity.py::score"}): (
        _KNN_KERNELS
    ),
    frozenset(
        {"operators/similarity.py::x03_cosine_topk", "operators/similarity.py::_probe_knn"}
    ): _KNN_KERNELS,
}


def _owners(tree: ast.Module, n_lines: int) -> list[str]:
    """The innermost function or class holding each line (decorators
    included, so an oracle belongs to its key), ``<module>`` elsewhere."""
    owner = ["<module>"] * (n_lines + 2)

    def visit(node: ast.AST) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                start = min([child.lineno] + [d.lineno for d in child.decorator_list])
                owner[start : child.end_lineno + 1] = [child.name] * (
                    child.end_lineno + 1 - start
                )
            visit(child)

    visit(tree)
    return owner


@functools.cache
def _copied_runs() -> tuple[list[tuple[str, str]], set[frozenset[str]]]:
    """Each pair of places ("file:line" of the first line) sharing a run of
    COPY_RUN normalized lines, with their owners, where the owners are not
    allowlisted; and the allowlisted owner pairs that do share a run.
    Normalizing strips each line and collapses whitespace, and drops blank
    lines, comments and lines that are only brackets or quotes."""
    runs = collections.defaultdict(list)
    for rel, tree in _trees():
        with open(os.path.join(PKG, rel)) as src:
            lines = src.read().splitlines()
        owner = _owners(tree, len(lines))
        kept = [
            (text, n)
            for n, text in ((n, " ".join(line.split())) for n, line in enumerate(lines, 1))
            if text and not text.startswith("#") and text not in _BARE
        ]
        for i in range(len(kept) - COPY_RUN + 1):
            run = tuple(text for text, _ in kept[i : i + COPY_RUN])
            n = kept[i][1]
            runs[run].append((f"{rel}:{n}", f"{rel}::{owner[n]}"))
    stray, allowed = set(), set()
    for places in runs.values():
        for (at_a, own_a), (at_b, own_b) in itertools.combinations(places, 2):
            owners = frozenset((own_a, own_b))
            if owners in COPY_ALLOWLIST:
                allowed.add(owners)
            else:
                stray.add((f"{at_a} ({own_a})", f"{at_b} ({own_b})"))
    return sorted(stray), allowed


def test_no_copied_subqueries():
    assert _trees(), "lint matched nothing"
    stray, _ = _copied_runs()
    assert not stray, (
        f"{len(stray)} runs of {COPY_RUN} lines are written twice; move each into "
        f"one helper or SQL fragment, or allowlist the pair with a reason: {stray[:20]}"
    )


def test_copy_allowlist_carries_no_dead_entries():
    _, allowed = _copied_runs()
    dead = [sorted(k) for k in COPY_ALLOWLIST if k not in allowed]
    assert not dead, f"allowlisted owner pairs no longer share a run; prune: {dead}"
