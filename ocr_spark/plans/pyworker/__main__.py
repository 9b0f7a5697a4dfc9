"""Entry point of the worker daemon: install the archive-stamped
``zipimporter.invalidate_caches``, then serve forked workers as
``pyspark.daemon`` does."""

import zipimport

from pyspark.daemon import manager

from ocr_spark.plans.pyworker import invalidate_caches

if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    manager()
