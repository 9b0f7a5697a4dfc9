"""Every ``ocr_spark`` module imports in a plain interpreter, before any
SparkSession exists (a driver script imports operators first and builds
its session later; a worker imports them with no session at all)."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_IMPORT_ALL = """
import importlib, pkgutil
import ocr_spark
from pyspark.sql import SparkSession

for m in pkgutil.walk_packages(ocr_spark.__path__, "ocr_spark."):
    importlib.import_module(m.name)
assert SparkSession.getActiveSession() is None
print("imported")
"""


def test_every_module_imports_without_a_session():
    proc = subprocess.run(
        [sys.executable, "-c", _IMPORT_ALL],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip() == "imported"
