"""Text cleaners as native Column expressions (SURVEY.md §2.9 F4).

The reference's whitespace/case cleaners (utils/text/cleaners.py) map 1:1
onto regexp_replace/lower/trim.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def clean_text_expr(col, *, lower: bool = True) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    if lower:
        c = F.lower(c)
    return F.trim(F.regexp_replace(c, r"\s+", " "))
