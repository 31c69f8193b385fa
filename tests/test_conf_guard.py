"""Only ``session.py`` writes session conf.

Everything else scopes conf through ``session.with_conf`` (a cloned
session) or applies the shared read pins through
``session.pin_runtime_conf``, so no thread can see another's setting.
This walks the package, ``bench.py`` and ``scripts/`` and fails on any
``<x>.conf.set(...)`` or ``<x>.conf.unset(...)`` call elsewhere. No Spark
session is started.
"""

from __future__ import annotations

import ast
import glob
import os

PACKAGE = "traffic_accidents_airflow_kafka_spark"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SESSION = os.path.join(PACKAGE, "session.py")


def _files() -> list[str]:
    files = sorted(glob.glob(os.path.join(REPO, PACKAGE, "**", "*.py"), recursive=True))
    files.append(os.path.join(REPO, "bench.py"))
    files += sorted(glob.glob(os.path.join(REPO, "scripts", "*.py")))
    return files


def _conf_writes(path: str) -> list[int]:
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("set", "unset")
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "conf"
    ]


def test_walk_sees_the_session_writes():
    # Guards the walk itself: session.py does write conf, so a detector
    # that finds nothing there is broken, not passing.
    files = {os.path.relpath(p, REPO) for p in _files()}
    assert {SESSION, "bench.py"} <= files
    assert any(f.startswith("scripts/") for f in files)
    assert _conf_writes(os.path.join(REPO, SESSION))


def test_no_conf_writes_outside_session():
    offenders = [
        f"{rel}:{line}"
        for path in _files()
        if (rel := os.path.relpath(path, REPO)) != SESSION
        for line in _conf_writes(path)
    ]
    assert not offenders, f"session conf written outside {SESSION}: {offenders}"
