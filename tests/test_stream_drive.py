"""One stream drive: the replay-stream protocol is spelled in one place.

Every streaming runner reads its replay through ``runner._replay`` (the
one ``maxFilesPerTrigger`` file source) and runs to completion through
``runner._drain`` (the one ``trigger(availableNow=...)`` +
``awaitTermination()``). A second copy of either is a second place where
the checkpoint, the finite trigger or the per-file batching can drift
from the closed-form stream oracles, so this scan keeps them out of the
rest of the package.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent / "uw_hadoop_aglorithms_spark"

#: drive marker -> the one (module, function) allowed to contain it
HOME = {
    "trigger(availableNow=...)": ("streaming/runner.py", "_drain"),
    ".awaitTermination(": ("streaming/runner.py", "_drain"),
    '"maxFilesPerTrigger"': ("streaming/runner.py", "_replay"),
}


def _drive_sites(rel: str, tree: ast.Module) -> list[tuple[str, str, int, str]]:
    """(marker, enclosing function, line, module) for every drive marker."""
    out = []

    def visit(node: ast.AST, scope: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scope = node.name
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if node.func.attr == "trigger" and any(
                kw.arg == "availableNow" for kw in node.keywords
            ):
                out.append(("trigger(availableNow=...)", scope, node.lineno, rel))
            if node.func.attr == "awaitTermination":
                out.append((".awaitTermination(", scope, node.lineno, rel))
        if isinstance(node, ast.Constant) and node.value == "maxFilesPerTrigger":
            out.append(('"maxFilesPerTrigger"', scope, node.lineno, rel))
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    visit(tree, "<module>")
    return out


def _all_sites() -> list[tuple[str, str, int, str]]:
    sites = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        sites += _drive_sites(rel, ast.parse(path.read_text()))
    return sites


@pytest.mark.parametrize("marker", sorted(HOME))
def test_stream_drive_spelled_once(marker):
    sites = [s for s in _all_sites() if s[0] == marker]
    home_mod, home_fn = HOME[marker]
    stray = [
        f"{mod}:{line} in {fn}"
        for _, fn, line, mod in sites
        if (mod, fn) != (home_mod, home_fn)
    ]
    assert not stray, (
        f"{marker} outside runner.{home_fn} — drive the stream through "
        f"runner._drain/_to_memory and read it through runner._replay: "
        + "; ".join(stray)
    )
    assert len(sites) == 1, f"{marker} must occur exactly once, got {sites}"
