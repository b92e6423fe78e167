"""Scalar expression builders (SURVEY.md §2.2 P9/P10, §2.7 math family).

Reference: ``np.where(den==0, 0, num/den)`` + ``errstate``/``nan_to_num``
(``simple_pre_processing.py:951-958``) and the clipped action space
(``models_backup.py:538-542`` decoded). All pure Column expressions —
codegen'd, null-safe without ANSI exceptions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _c(x: ColumnOrName) -> Column:
    return F.col(x) if isinstance(x, str) else x


def safe_div(num: ColumnOrName, den: ColumnOrName,
             default: float = 0.0) -> Column:
    """num/den with 0 (not null/NaN/Inf) when den==0 — P10 exactly."""
    n, d = _c(num), _c(den)
    return F.when(d != 0, n / d).otherwise(F.lit(default))


def clip(col: ColumnOrName, lo: float, hi: float) -> Column:
    """``np.clip`` → greatest/least."""
    return F.least(F.greatest(_c(col), F.lit(lo)), F.lit(hi))


def sigmoid(col: ColumnOrName) -> Column:
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-_c(col)))
