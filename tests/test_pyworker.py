"""The ocr_spark worker daemon: an archive-stamped
``zipimporter.invalidate_caches`` that keeps import semantics, installed in
every Python worker of a ``get_spark`` session, and workers that import
``ocr_spark`` from wherever the driver did (``spark-submit --py-files``
from an unrelated cwd).
"""

import importlib
import os
import shutil
import subprocess
import sys
import zipfile
import zipimport

import pytest

from ocr_spark.plans import pyworker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


def test_unchanged_archive_is_not_reread_and_rewrite_is_seen(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"pyworker_probe_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("pyworker_probe_a", "pyworker_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("pyworker_probe_a").VALUE == 1

    reloads = []
    original = pyworker._reload

    def counting(self):
        if self.archive == archive:
            reloads.append(self.prefix)
        original(self)

    monkeypatch.setattr(pyworker, "_reload", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches)

    importlib.invalidate_caches()  # first call stamps the importer
    assert reloads == [""]
    for _ in range(5):
        importlib.invalidate_caches()
    assert reloads == [""], "an unchanged archive was re-read"

    _write_zip(
        archive,
        {"pyworker_probe_a": "VALUE = 1\n", "pyworker_probe_b": "VALUE = 2\n"},
    )
    importlib.invalidate_caches()
    assert reloads == ["", ""]
    assert importlib.import_module("pyworker_probe_b").VALUE == 2


def test_session_workers_run_the_daemon(spark):
    def probe(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    rows = spark.range(0, 64, numPartitions=4).mapInPandas(probe, "m string").collect()
    assert {r.m for r in rows} == {"ocr_spark.plans.pyworker"}


DRIVE = """
import datetime

import ocr_spark
from ocr_spark.operators.extract import extract_pages
from ocr_spark.plans.session import get_spark

assert ocr_spark.__file__.startswith({zip!r}), ocr_spark.__file__
spark = get_spark("pyworker_drive", cpus=2)
page = b"<html><head><title>T</title></head><body><p>Workers import the zip.</p></body></html>"
df = spark.createDataFrame(
    [("http://a.example/", datetime.datetime(2024, 1, 1), bytearray(page), "en")],
    "url string, warc_ts timestamp, html binary, lang string",
)
print("TEXT=" + extract_pages(df).collect()[0].text)
spark.stop()
"""


def test_spark_submit_py_files_from_foreign_cwd(tmp_path):
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit is not on PATH")
    archive = str(tmp_path / "ocr_spark.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        for root, dirs, files in os.walk(os.path.join(REPO, "ocr_spark")):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    (tmp_path / "drive.py").write_text(DRIVE.format(zip=archive))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [spark_submit, "--master", "local[2]", "--py-files", archive, "drive.py"],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=str(tmp_path),
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "TEXT=Workers import the zip." in proc.stdout
