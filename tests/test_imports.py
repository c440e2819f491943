"""Every internal import resolves, lazy ones included.

A `from dataprofiler_spark... import name` inside a function body fails
only when that function runs, so deleting a module or a function can leave
one behind that no other test reaches. This parses the package, the tests
and perfbench with `ast` (perfbench itself is never imported) and checks
that each such module imports and has each imported name.
"""

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "dataprofiler_spark"


def _internal_imports():
    """(file:line, module, name or None) for every import of the package."""
    for top in (PACKAGE, "tests", "perfbench"):
        for path in sorted((ROOT / top).rglob("*.py")):
            tree = ast.parse(path.read_text(), filename=str(path))
            for node in ast.walk(tree):
                where = f"{path.relative_to(ROOT)}:{getattr(node, 'lineno', 0)}"
                if isinstance(node, ast.ImportFrom) and node.level == 0:
                    mod = node.module or ""
                    if mod == PACKAGE or mod.startswith(PACKAGE + "."):
                        for alias in node.names:
                            yield where, mod, alias.name
                elif isinstance(node, ast.Import):
                    for alias in node.names:
                        if alias.name == PACKAGE or alias.name.startswith(PACKAGE + "."):
                            yield where, alias.name, None


def _resolves(mod: str, name: str | None) -> str | None:
    """None when the import works, else why it does not."""
    try:
        module = importlib.import_module(mod)
    except ImportError as e:
        return f"module {mod}: {e}"
    if name is None or name == "*" or hasattr(module, name):
        return None
    try:  # a submodule named in a from-import
        importlib.import_module(f"{mod}.{name}")
    except ImportError:
        return f"{mod} has no {name}"
    return None


def test_internal_imports_resolve():
    imports = list(_internal_imports())
    assert imports, "found no internal imports"
    broken = [
        f"{where}: {why}"
        for where, mod, name in imports
        if (why := _resolves(mod, name)) is not None
    ]
    assert not broken, "\n".join(broken)


def _private_module_names(tree):
    """Names of the private module-level functions, classes and
    assignments (`_name`, not dunders) one module defines."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            targets = [node.name]
        elif isinstance(node, ast.Assign):
            targets = [
                n.id
                for t in node.targets
                for n in ast.walk(t)
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
            ]
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            targets = [node.target.id]
        else:
            continue
        for name in targets:
            if name.startswith("_") and not name.startswith("__"):
                yield node.lineno, name


def _private_names_defined_and_used(top):
    """(file:line, name) of every private module-level name defined under
    `top`, and the set of names its code loads: a `Name` load, an
    `Attribute` or a from-import. Comments and docstrings do not count."""
    defined, used = [], set()
    for path in sorted((ROOT / top).rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        defined += [
            (f"{path.relative_to(ROOT)}:{line}", name)
            for line, name in _private_module_names(tree)
        ]
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.ImportFrom):
                used.update(alias.name for alias in node.names)
    return defined, used


def test_private_module_names_are_used():
    """A private module-level helper that no code of its own tree loads is
    dead: deleting its last caller left it behind. The package and the
    tests are checked apart, so a package helper that only a test loads
    is dead too, and so is a test strategy or fixture helper that no
    remaining test loads."""
    dead = []
    for top in (PACKAGE, "tests"):
        defined, used = _private_names_defined_and_used(top)
        assert defined, f"found no private module-level names under {top}"
        dead += [f"{where}: {name}" for where, name in defined if name not in used]
    assert not dead, "\n".join(dead)
