"""Every package name that an entry point imports must exist.

The entry points (``bench.py``, ``__spark_entry__.py``, ``scripts/`` and
``perfbench/``) are not imported by the rest of the suite, and several of
them import inside functions, so a package deletion can strand one of
their imports without any other test noticing. This walks their ASTs —
function bodies included — and checks each
``from traffic_accidents_airflow_kafka_spark... import a, b`` against the
live package. No Spark session is started.
"""

from __future__ import annotations

import ast
import glob
import importlib
import os

import pytest

PACKAGE = "traffic_accidents_airflow_kafka_spark"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _entry_point_files() -> list[str]:
    files = [os.path.join(REPO, "bench.py"), os.path.join(REPO, "__spark_entry__.py")]
    for sub in ("scripts", "perfbench"):
        files += sorted(glob.glob(os.path.join(REPO, sub, "*.py")))
    return files


def _package_imports() -> list[tuple[str, int, str, tuple[str, ...]]]:
    """(file, line, module, imported names) for every package import."""
    out = []
    for path in _entry_point_files():
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        rel = os.path.relpath(path, REPO)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.level == 0:
                mod = node.module or ""
                if mod == PACKAGE or mod.startswith(PACKAGE + "."):
                    names = tuple(a.name for a in node.names)
                    out.append((rel, node.lineno, mod, names))
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.name == PACKAGE or a.name.startswith(PACKAGE + "."):
                        out.append((rel, node.lineno, a.name, ()))
    return out


IMPORTS = _package_imports()


def test_entry_points_import_the_package():
    # Guards the walk itself: an empty list would make the check vacuous.
    files = {rel for rel, *_ in IMPORTS}
    assert {"bench.py", "__spark_entry__.py"} <= files
    assert any(f.startswith("scripts/") for f in files)
    assert any(f.startswith("perfbench/") for f in files)


@pytest.mark.parametrize(
    "rel,line,module,names", IMPORTS, ids=[f"{r}:{n}" for r, n, *_ in IMPORTS]
)
def test_entry_point_import_resolves(rel, line, module, names):
    mod = importlib.import_module(module)
    missing = []
    for name in names:
        if hasattr(mod, name):
            continue
        try:  # `from pkg import submodule` needs no attribute on pkg yet
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            missing.append(name)
    assert not missing, f"{rel}:{line} imports {missing} from {module}"
