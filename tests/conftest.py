import os

import pytest

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = f"{TESTDATA}/sf0.001"
SF_CORRECT = f"{TESTDATA}/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from ocr_spark.plans.session import get_spark

    spark = get_spark("ocr_spark_tests", cpus=8)
    yield spark
    spark.stop()


class _StageCapture:
    """Stands in for a pages DataFrame: keeps the function an operator
    hands to ``mapInPandas``."""

    def select(self, *_cols):
        return self

    def mapInPandas(self, fn, schema):
        self.fn = fn
        return self


def run_stage(operator, pages):
    """Run a one-``mapInPandas`` pages operator without Spark: ``pages`` is
    a list of (url, html bytes); returns the stage's output rows as dicts."""
    import pandas as pd

    stage = operator(_StageCapture())
    batch = pd.DataFrame(
        {"url": [u for u, _ in pages], "html": [h for _, h in pages]}
    )
    out = pd.concat(list(stage.fn(iter([batch]))), ignore_index=True)
    return out.to_dict("records")
