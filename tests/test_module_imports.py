"""Every ``ocr_spark`` module imports in a plain interpreter, before any
SparkSession exists (a driver script imports operators first and builds
its session later; a worker imports them with no session at all), and
every one of them is reached from an entry point."""

import ast
import glob
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


#: modules started by name rather than imported: ``get_spark`` sets
#: ``spark.python.daemon.module`` to this package, and ``python -m`` runs
#: its ``__main__``.
_STARTED_BY_NAME = ("ocr_spark.plans.pyworker", "ocr_spark.plans.pyworker.__main__")


def _module_files() -> dict[str, str]:
    """Dotted module name -> file, for every module under the repo's
    packages and top-level scripts."""
    mods = {}
    for path in glob.glob(os.path.join(REPO, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, REPO)
        if rel.startswith(("tests", ".")):
            continue
        parts = rel[:-3].split(os.sep)
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imports_of(name: str, path: str) -> set[str]:
    """Every module an ``import`` or ``from ... import`` statement anywhere
    in the file (function bodies included) may load, parent packages too."""
    package = name if path.endswith("__init__.py") else name.rpartition(".")[0]
    found = set()
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            found.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = package.split(".")
            base = base[: len(base) - node.level + 1] if node.level else []
            base = ".".join(base + ([node.module] if node.module else []))
            found.add(base)
            found.update(f"{base}.{alias.name}" for alias in node.names)
    return {
        ".".join(mod.split(".")[:i + 1])
        for mod in found
        for i in range(mod.count(".") + 1)
    }


def test_every_module_is_reached_from_an_entry_point():
    """A static walk of the import statements from the driver contract,
    the CLI and benchmark scripts reaches every ``ocr_spark`` module: a
    module nothing reaches is code that serves no caller."""
    mods = _module_files()
    roots = ["__spark_entry__", "bench", "ocr_spark.contract", *_STARTED_BY_NAME]
    roots += [m for m in mods if m.startswith(("scripts.", "perfbench."))]
    seen, todo = set(), [m for m in roots if m in mods]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo.extend(m for m in _imports_of(name, mods[name]) if m in mods)
    unreached = sorted(m for m in mods if m.startswith("ocr_spark") and m not in seen)
    assert unreached == []


def test_only_the_router_sniffs_pages():
    """Operators read page bytes through ``extract.page_route``: no other
    module under ``ocr_spark/operators`` names the byte sniffers, so no
    operator can grow a second sniff-and-decode path."""
    sniffers = ("looks_like_html", "detect_bom")
    found = []
    for path in sorted(glob.glob(os.path.join(REPO, "ocr_spark", "operators", "*.py"))):
        if os.path.basename(path) == "extract.py":
            continue
        with open(path, encoding="utf-8") as f:
            source = f.read()
        found += [(os.path.basename(path), s) for s in sniffers if s in source]
    assert found == []
