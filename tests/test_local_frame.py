"""Source guard: driver-local frames are built by session.local_frame only.

A ``createDataFrame`` over a Python list/tuple literal pickles the rows into
an RDD and starts a Python worker per action; this keeps such calls out of
the engine. The local_frame round-trips live in test_checkpoint_io.py next
to the ledger writers that use it.
"""

from __future__ import annotations

import ast
import os

SPARKDOC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "sparkdoc")

#: the synthetic-corpus generator (test and benchmark data only) may still
#: build frames from Python literals
_ALLOWED = {os.path.join("sparkdoc", "synth.py")}
_LITERALS = (ast.List, ast.ListComp, ast.Tuple)


def _literal_create_calls(source: str) -> list[int]:
    hits = []
    for node in ast.walk(ast.parse(source)):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            data = node.args[0] if node.args else next(
                (k.value for k in node.keywords if k.arg == "data"), None
            )
            if isinstance(data, _LITERALS):
                hits.append(node.lineno)
    return hits


def test_guard_flags_literal_calls():
    src = (
        "spark.createDataFrame([], 's string')\n"
        "s.createDataFrame([(x,) for x in y], 'x int')\n"
        "s.createDataFrame(data=((1,),), schema='x int')\n"
        "s.createDataFrame(table, schema)\n"
    )
    assert _literal_create_calls(src) == [1, 2, 3]


def test_no_list_literal_create_dataframe_in_sparkdoc():
    """Driver-local frames go through session.local_frame (an Arrow local
    relation); a createDataFrame over a Python list/tuple literal pickles
    the rows into an RDD and starts a Python worker per action."""
    root = os.path.dirname(SPARKDOC)
    offenders = []
    for dirpath, _, files in os.walk(SPARKDOC):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, root)
            if rel in _ALLOWED:
                continue
            with open(path, encoding="utf-8") as fh:
                lines = _literal_create_calls(fh.read())
            offenders += [f"{rel}:{line}" for line in lines]
    assert not offenders, f"use sparkdoc.session.local_frame: {offenders}"
