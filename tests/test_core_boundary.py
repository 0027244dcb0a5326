"""The core engine (plans + streaming) must not pull in the query
library: importing it leaves ``queries``, ``oracles`` and
``extensions`` unloaded."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUTSIDE_CORE = (
    "trollflow2_spark.queries",
    "trollflow2_spark.oracles",
    "trollflow2_spark.extensions",
)


def test_core_import_closure_excludes_query_library():
    code = (
        "import json, sys\n"
        "import trollflow2_spark.plans, trollflow2_spark.streaming\n"
        "print(json.dumps(sorted(m for m in sys.modules"
        " if m.startswith('trollflow2_spark'))))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True,
        check=True,
    ).stdout
    loaded = json.loads(out.splitlines()[-1])
    assert "trollflow2_spark.plans" in loaded
    assert "trollflow2_spark.streaming" in loaded
    leaked = [m for m in loaded if m.startswith(OUTSIDE_CORE)]
    assert leaked == []
