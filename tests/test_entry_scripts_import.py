"""Every script under ``jobs/`` and ``tools/`` imports the way
``python <script>`` loads it: from an unrelated working directory, with
only the script's own directory on ``sys.path`` and no ``PYTHONPATH``,
so each one's path setup is what finds ``readur_spark``. A module with no
``__main__`` guard is a library (``tools/expected.py``) and is imported
from the repo root, as its importers do. The imports inside its
functions resolve too (the jobs import the engine in ``main``).
Importing starts no Spark session and launches no JVM; nothing below its
``__main__`` guard runs."""

import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
SCRIPTS = sorted(
    str(p.relative_to(ROOT)) for d in ("jobs", "tools") for p in (ROOT / d).glob("*.py")
)

PROBE = """
import ast, importlib, runpy, sys
path, sys.path[0] = sys.argv[1], sys.argv[2]
runpy.run_path(path, run_name="__import_smoke__")
for node in ast.walk(ast.parse(open(path).read())):
    if isinstance(node, ast.Import):
        for a in node.names:
            importlib.import_module(a.name)
    elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module != "__future__":
        mod = importlib.import_module(node.module)
        for a in node.names:
            if not hasattr(mod, a.name):
                importlib.import_module(node.module + "." + a.name)
from pyspark import SparkContext
assert SparkContext._active_spark_context is None, "import started a session"
assert SparkContext._gateway is None, "import launched a JVM"
"""


def test_scripts_found():
    assert any(s.startswith("jobs/") for s in SCRIPTS)
    assert any(s.startswith("tools/") for s in SCRIPTS)


@pytest.mark.parametrize("script", SCRIPTS)
def test_script_imports_without_spark(script, tmp_path):
    path = ROOT / script
    is_script = '__name__ == "__main__"' in path.read_text()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", PROBE, str(path), str(path.parent if is_script else ROOT)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
