"""Docstrings are plain strings, never format strings: a ``{NAME}`` or a
``%%`` in one prints literally in ``help()`` and in the registry listing.
The one allowed brace form names a parameter of the documented function
(``_lr_sql_ctes`` documents its CTE names as ``w{rounds}``)."""

from __future__ import annotations

import ast
import pathlib
import re

import drive_health_etl_spark

_PKG = pathlib.Path(drive_health_etl_spark.__file__).parent
_BRACED = re.compile(r"\{([A-Za-z_][A-Za-z0-9_]*)\}")


def _docstring_hits(tree: ast.Module, path: str) -> list[str]:
    hits = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Module | ast.ClassDef | ast.FunctionDef | ast.AsyncFunctionDef):
            continue
        doc = ast.get_docstring(node, clean=False)
        if doc is None:
            continue
        params = set()
        if isinstance(node, ast.FunctionDef | ast.AsyncFunctionDef):
            a = node.args
            params = {p.arg for p in [*a.posonlyargs, *a.args, *a.kwonlyargs, a.vararg, a.kwarg] if p}
        where = f"{path}:{getattr(node, 'name', '<module>')}"
        if "%%" in doc:
            hits.append(f"{where}: %%")
        hits += [f"{where}: {{{m}}}" for m in _BRACED.findall(doc) if m not in params]
    return hits


def test_no_format_placeholders_in_docstrings():
    hits = []
    for path in sorted(_PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        hits += _docstring_hits(tree, str(path.relative_to(_PKG)))
    assert hits == []


def test_checker_flags_placeholders_and_allows_parameters():
    tree = ast.parse(
        '"""held 63%% of docs"""\n'
        'def f(rounds):\n    """w{rounds} per round, top-{K}"""\n'
    )
    assert _docstring_hits(tree, "m.py") == ["m.py:<module>: %%", "m.py:f: {K}"]
