"""ocr_spark — a PySpark-native main-content extraction engine.

A from-scratch rebuild of the query/data-processing capabilities of the
reference repo ``yui-mhcp/ocr`` (see SURVEY.md), re-expressed Spark-first:

- ``kernels``   : pure numpy/pandas computation kernels (no Spark imports).
  These reproduce the reference's detect/order/recognize semantics and are
  golden-tested against the literal fixtures from the reference's own
  test-suite (``/root/reference/tests/test_utils_boxes.py`` et al.).
- ``operators`` : Spark stage wrappers — ``mapInPandas`` / ``applyInPandas``
  / vectorized ``pandas_udf`` only; no per-row Python UDFs anywhere.
- ``sources``   : deterministic synthetic pages table + parquet-backed
  "iceberg-like" catalog with manifest snapshots + lineage/resume.
- ``functions`` : native Column-expression helpers (JVM-side, codegen'd).
- ``plans``     : the flagship extraction pipeline, its streaming form
  (every stream commits to the catalog) + SparkSession builder.
"""

__version__ = "0.1.0"
