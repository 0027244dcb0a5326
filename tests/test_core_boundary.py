"""The core engine (plans + streaming) must not pull in the query
library: importing it leaves ``queries``, ``oracles``, ``extensions``
(which holds the streaming state/window operators and the Column twins
of the plugins) and the test-table loaders unloaded, and does not start
pandas."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
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
