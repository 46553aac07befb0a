"""The route record helper is silent unless the caller turns its logger
on (the records themselves are asserted where each route is tested)."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path


def test_record_route_returns_choice_and_is_silent_by_default():
    """With the default logging configuration nothing reaches stdout or
    stderr: the package attaches no handler and logs below WARNING."""
    code = (
        "from autonomous_orchestrator_ai_spark.routes import record_route\n"
        "assert record_route('r', inputs={'n': 1}, estimate=2, budget=3, chosen='a') == 'a'\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=Path(__file__).resolve().parent.parent,
        capture_output=True,
        text=True,
        check=True,
    )
    assert (out.stdout, out.stderr) == ("", "")

