"""Driver-built relations stay JVM-local (no Spark needed).

`spark.createDataFrame(<python list>)` parallelizes its rows through a
Python RDD that every evaluation of the frame re-runs in Python
workers, and each Python task carries a fixed start-up cost. Engine
code therefore builds such frames through `session.local_frame` (an
Arrow table → LocalRelation). This guard walks the engine packages and
fails on any other `createDataFrame` call."""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(__file__), "..", "search_engine_spark")
GUARDED = ("operators", "functions", "plans")


def _create_calls(path: str) -> list[tuple[int, str | None]]:
    """(line, enclosing function) of every `.createDataFrame(` call."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    out = []

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                walk(child, child.name)
                continue
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "createDataFrame"):
                out.append((child.lineno, fn))
            walk(child, fn)

    walk(tree, None)
    return out


def test_engine_frames_go_through_local_frame():
    bad = []
    for sub in GUARDED:
        for root, _, files in os.walk(os.path.join(PKG, sub)):
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(root, name)
                    bad += [f"{os.path.relpath(path, PKG)}:{line}"
                            for line, _ in _create_calls(path)]
    assert not bad, ("build driver-side frames with session.local_frame, "
                     f"not createDataFrame: {bad}")


def test_local_frame_hands_spark_an_arrow_table():
    """The helper makes the package's one call, and hands it a
    `pa.Table`: that path has no silent fallback to the Python-RDD
    path (a pandas frame has one, under
    spark.sql.execution.arrow.pyspark.fallback.enabled)."""
    path = os.path.join(PKG, "session.py")
    assert [fn for _, fn in _create_calls(path)] == ["local_frame"]
    with open(path) as f:
        fn = next(n for n in ast.walk(ast.parse(f.read()))
                  if isinstance(n, ast.FunctionDef) and n.name == "local_frame")
    tables = {t.id for n in ast.walk(fn) if isinstance(n, ast.Assign)
              and ast.unparse(n.value).startswith("pa.Table.")
              for t in n.targets}
    call = next(n for n in ast.walk(fn) if isinstance(n, ast.Call)
                and ast.unparse(n.func).endswith("createDataFrame"))
    assert isinstance(call.args[0], ast.Name) and call.args[0].id in tables
