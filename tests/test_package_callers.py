"""No test-only package code: every top-level ``def``/``class`` in the
package must be reachable from production code, i.e. from the package's own
module-level statements (the registry and its tables), ``tools/``,
``bench.py``, ``__spark_entry__.py`` or ``perfbench/*.py``. A definition that
only ``tests/`` calls, directly or through other test-only definitions, is
either wired in or deleted.

The scan is by name, so it errs toward "reachable": a bare name resolves to
its own module's definition when the module has one, an attribute
(``mod.fn``) to every definition of that name. Imports alone reach nothing.
"""

from __future__ import annotations

import ast
import pathlib

import drive_health_etl_spark

_PKG = pathlib.Path(drive_health_etl_spark.__file__).parent
_REPO = _PKG.parent
# The tests' cache-reset seam: dropping every cached dataset between tests
# is test plumbing, not a pipeline step.
_EXEMPT = {"operators/fitcache.py:purge"}


def _refs(node: ast.AST) -> tuple[set[str], set[str]]:
    """Bare names and attribute names that ``node`` reads."""
    names, attrs = set(), set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            attrs.add(n.attr)
    return names, attrs


def _test_only(pkg: dict[str, ast.Module], roots: list[ast.Module]) -> list[str]:
    """``module:name`` of every top-level package definition that no root
    reaches; ``pkg`` maps a package-relative path to its parsed module."""
    defs: dict[str, ast.AST] = {}  # "mod:name" -> def node
    by_name: dict[str, set[str]] = {}
    aliases: dict[str, str] = {}  # ``import x as y``: y -> x
    for tree in [*pkg.values(), *roots]:
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom):
                aliases.update({a.asname: a.name for a in n.names if a.asname})
    todo = []  # (module or None, bare names, attribute names)
    for mod, tree in pkg.items():
        for stmt in tree.body:
            if isinstance(stmt, ast.FunctionDef | ast.AsyncFunctionDef | ast.ClassDef):
                key = f"{mod}:{stmt.name}"
                defs[key] = stmt
                by_name.setdefault(stmt.name, set()).add(key)
            else:
                todo.append((mod, *_refs(stmt)))
    todo += [(None, *_refs(tree)) for tree in roots]

    reached: set[str] = set()
    while todo:
        mod, names, attrs = todo.pop()
        hits = set()
        for name in names | {aliases[x] for x in names if x in aliases}:
            own = f"{mod}:{name}"
            hits |= {own} if own in defs else by_name.get(name, set())
        for name in attrs:
            hits |= by_name.get(name, set())
        for key in hits - reached:
            reached.add(key)
            todo.append((key.split(":")[0], *_refs(defs[key])))
    return sorted(set(defs) - reached - _EXEMPT)


def _parse(path: pathlib.Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def test_every_package_definition_has_a_production_caller():
    pkg = {str(p.relative_to(_PKG)): _parse(p) for p in sorted(_PKG.rglob("*.py"))}
    roots = [
        *(_parse(p) for p in sorted((_REPO / "tools").glob("*.py"))),
        *(_parse(p) for p in sorted((_REPO / "perfbench").glob("*.py"))),
        _parse(_REPO / "bench.py"),
        _parse(_REPO / "__spark_entry__.py"),
    ]
    found = _test_only(pkg, roots)
    assert not found, "reachable only from tests/:\n" + "\n".join(found)


def test_scan_follows_calls_through_modules_and_chains():
    pkg = {
        "a.py": ast.parse(
            "from b import used as u\n"
            "REG = {'q': u}\n"
            "def helper(): pass\n"
            "def only_tests(): return chain()\n"
            "def chain(): pass\n"
        ),
        "b.py": ast.parse(
            "import c\n"
            "def used(): return helper()\n"
            "def helper(): return c.by_attr()\n"
            "def dead(): pass\n"
        ),
        "c.py": ast.parse("def by_attr(): pass\n"),
    }
    roots = [ast.parse("import a\na.REG\n")]
    # ``used`` is reached through its alias; its bare ``helper()`` resolves
    # to b's own helper, never a's; ``c.by_attr`` is reached by attribute;
    # ``chain`` is reached only from a test-only definition, so it is
    # test-only too.
    assert _test_only(pkg, roots) == [
        "a.py:chain", "a.py:helper", "a.py:only_tests", "b.py:dead",
    ]
