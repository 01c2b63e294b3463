"""Import-surface guard (no Spark session needed).

Every module of the package must import, and every ``import`` / ``from``
statement that targets the package — in the package itself, in
``tests/``, ``perfbench/``, ``tools/`` and the root entry scripts,
including imports inside function
bodies that only run on some code path — must resolve to an existing
module or attribute.  A lazy import left pointing at a deleted module
fails here instead of on the first call that reaches it.
"""

from __future__ import annotations

import ast
import importlib
import pkgutil
from pathlib import Path

import pytest

import data_integration_est_spark as pkg

ROOT = Path(__file__).resolve().parent.parent
PKG = pkg.__name__
SCANNED = [ROOT / PKG, ROOT / "tests", ROOT / "perfbench", ROOT / "tools",
           ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _module_names() -> list[str]:
    return [PKG] + sorted(
        m.name for m in pkgutil.walk_packages(pkg.__path__, prefix=f"{PKG}.")
    )


def _package_imports() -> list[tuple[str, int, str, str | None]]:
    """(file, line, module, imported name or None) for every import of
    the package, anywhere in a scanned file's syntax tree."""
    out = []
    for base in SCANNED:
        for path in [base] if base.is_file() else sorted(base.rglob("*.py")):
            rel = path.relative_to(ROOT)
            # the package a relative import is anchored at (for a module
            # and for an ``__init__`` alike: the file's directory)
            anchor = list(rel.parent.parts)
            for node in ast.walk(ast.parse(path.read_text(), str(rel))):
                if isinstance(node, ast.Import):
                    for a in node.names:
                        if a.name.split(".")[0] == PKG:
                            out.append((str(rel), node.lineno, a.name, None))
                elif isinstance(node, ast.ImportFrom):
                    if node.level:
                        base_mod = anchor[:len(anchor) - (node.level - 1)]
                        mod = ".".join(base_mod + ([node.module] if node.module else []))
                    else:
                        mod = node.module or ""
                    if mod.split(".")[0] != PKG:
                        continue
                    for a in node.names:
                        out.append((str(rel), node.lineno, mod, a.name))
    return out


@pytest.mark.parametrize("name", _module_names())
def test_every_module_imports(name):
    importlib.import_module(name)


def test_every_package_import_resolves():
    imports = _package_imports()
    assert imports, "the scan found no imports of the package"
    broken = []
    for where, line, mod, name in imports:
        try:
            m = importlib.import_module(mod)
        except ImportError as e:
            broken.append(f"{where}:{line}: {mod} ({e})")
            continue
        if name is None or name == "*" or hasattr(m, name):
            continue
        try:
            importlib.import_module(f"{mod}.{name}")
        except ImportError:
            broken.append(f"{where}:{line}: {mod}.{name} does not exist")
    assert not broken, "unresolvable package imports:\n" + "\n".join(broken)
