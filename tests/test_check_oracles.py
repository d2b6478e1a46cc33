"""tools/check_oracles.py: its output is only result lines."""

from __future__ import annotations

import pathlib
import subprocess
import sys

_ROOT = pathlib.Path(__file__).resolve().parent.parent

_PROBE = """
import runpy, sys
spark = runpy.run_path(sys.argv[1])["start_spark"]()
print("showConsoleProgress=" + str(spark.sparkContext.getConf().get("spark.ui.showConsoleProgress")))
spark.stop()
"""


def test_check_oracles_session_has_no_console_progress(tmp_path):
    """The tool's own session starts its JVM with Spark's console progress
    bars off, so no bar runs into a result line (``grep -c '^ok'`` counts
    every passing query)."""
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, str(_ROOT / "tools" / "check_oracles.py")],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "showConsoleProgress=false" in out.stdout.splitlines()
