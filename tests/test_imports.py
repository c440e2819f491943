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
