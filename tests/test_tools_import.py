"""Load every script under tools/ the way ``python tools/X.py`` does, without
running its main, so a moved module or a deleted helper fails here rather
than on the next person who runs the tool. Each load runs in its own
interpreter whose sys.path[0] is tools/, as under script execution, and
then imports pyspark there: a tool named after a standard-library module
(``profile``, which pyspark's cProfile imports) would shadow it for every
tool and fail that import."""

import subprocess
import sys
from pathlib import Path

import pytest

TOOLS = sorted((Path(__file__).resolve().parent.parent / "tools").glob("*.py"))

LOAD = """
import runpy, sys
from pathlib import Path
sys.path[0] = str(Path(sys.argv[1]).parent)
tool = runpy.run_path(sys.argv[1], run_name="tool_under_test")
assert callable(tool.get("main")), "no main()"
import pyspark
"""


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.name)
def test_tool_loads_as_a_script(path):
    proc = subprocess.run([sys.executable, "-c", LOAD, str(path)], capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr[-4000:]
