"""Scalar pandas_udf definitions (SURVEY.md §2.11 vectorized-UDF surface).

NOTE: no ``from __future__ import annotations`` here — pandas_udf resolves
the pd.Series type hints at decoration time; stringified annotations break
signature inference. Return types are DataType objects, not DDL strings:
a DDL string is parsed when the decorator runs, which needs an active
SparkSession, so the module would not import without one.
"""

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, IntegerType, StringType

from ..kernels.textproc import edit_distance


@pandas_udf(DoubleType())
def lev_norm_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Weighted-Levenshtein kernel (metrics.py:85-159) over Arrow batches;
    with default costs it equals levenshtein(a,b)/len(b) (the oracle)."""
    return pd.Series(
        [round(float(edit_distance(x, y, normalize=True)), 6) for x, y in zip(a, b)]
    )


@pandas_udf(IntegerType())
def compress_milli_udf(texts: pd.Series) -> pd.Series:
    """zlib level-6 compression ratio in integer milli units:
    ``1000 * len(zlib(utf8)) // len(utf8)``; NULL/empty text -> NULL.
    Deterministic (fixed level, integer math), Arrow-batched."""
    import zlib

    out = []
    for t in texts:
        if t is None:
            out.append(None)
            continue
        b = str(t).encode("utf-8")
        out.append(1000 * len(zlib.compress(b, 6)) // len(b) if b else None)
    return pd.Series(pd.array(out, dtype="Int32"))


@pandas_udf(StringType())
def normalize_numbers_udf(text: pd.Series) -> pd.Series:
    """Number/ordinal/money/time verbalization (numbers.py kernel, the F5
    cleaner analog) over Arrow batches."""
    from ..kernels.numbers import normalize_numbers

    return text.map(lambda t: normalize_numbers(t) if t is not None else None)
