"""The core engine (plans + streaming) must not pull in the query
library: importing it leaves ``queries``, ``oracles``, ``extensions``
(which holds the streaming state/window operators and the Column twins
of the plugins) and the test-table loaders unloaded, and does not start
pandas. The other direction holds too: every module under the engine's
subpackages is reached by the engine's static import closure, so query
code cannot land there."""

import ast
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "trollflow2_spark"
ENGINE_ROOTS = (PKG + ".plans", PKG + ".streaming", PKG + ".cli")
ENGINE_SUBPACKAGES = (
    "config", "sources", "operators", "sinks", "functions", "plans",
    "streaming",
)
OUTSIDE_CORE = (
    "trollflow2_spark.queries",
    "trollflow2_spark.oracles",
    "trollflow2_spark.extensions",
    "trollflow2_spark.extensions.stream_state",
    "trollflow2_spark.extensions.stream_windows",
    "trollflow2_spark.extensions.column_plugins",
    "trollflow2_spark.tables",
)


def test_core_import_closure_excludes_query_library():
    code = (
        "import json, sys\n"
        "import trollflow2_spark.plans, trollflow2_spark.streaming\n"
        "print(json.dumps({'loaded': sorted(m for m in sys.modules"
        " if m.startswith('trollflow2_spark')),"
        " 'pandas': 'pandas' in sys.modules}))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True,
        check=True,
    ).stdout
    probe = json.loads(out.splitlines()[-1])
    loaded = probe["loaded"]
    assert "trollflow2_spark.plans" in loaded
    assert "trollflow2_spark.streaming" in loaded
    leaked = [m for m in loaded if m.startswith(OUTSIDE_CORE)]
    assert leaked == []
    assert probe["pandas"] is False


def _module_path(module):
    base = os.path.join(REPO, *module.split("."))
    for path in (os.path.join(base, "__init__.py"), base + ".py"):
        if os.path.isfile(path):
            return path
    return None


def _static_import_closure(roots):
    """Every package module a static walk of ``roots`` reaches: imports at
    any depth (lazy function-level ones included), ``from pkg import name``
    where ``name`` is a submodule, and each module's parent packages."""
    seen, todo = set(), list(roots)
    while todo:
        parts = todo.pop().split(".")
        if parts[0] != PKG:
            continue
        for depth in range(1, len(parts) + 1):
            module = ".".join(parts[:depth])
            path = _module_path(module)
            if module in seen or path is None:
                continue
            seen.add(module)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                if isinstance(node, ast.Import):
                    todo += [a.name for a in node.names]
                elif isinstance(node, ast.ImportFrom) and node.module:
                    todo.append(node.module)
                    todo += [node.module + "." + a.name for a in node.names]
    return {os.path.relpath(_module_path(m), REPO) for m in seen}


def test_engine_subpackages_hold_only_engine_modules():
    reached = _static_import_closure(ENGINE_ROOTS)
    present = {
        os.path.join(PKG, sub, name)
        for sub in ENGINE_SUBPACKAGES
        for name in os.listdir(os.path.join(REPO, PKG, sub))
        if name.endswith(".py")
    }
    assert sorted(present - reached) == []
