"""Native column expression for the reference's number semantics.

:func:`parse_id_number_col` — P12 (utils.py:527-548): Indonesian-format
parse with silent 0.0 on malformed input. A pure Catalyst expression
(whole-stage codegen, no UDF); its behavior is pinned against the scalar
``fields.parse_id_number`` by tests/test_functions.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

__all__ = ["parse_id_number_col"]


def parse_id_number_col(c: Column) -> Column:
    """strip → drop '.' (thousands) → ','→'.' → try_cast → 0.0 fallback."""
    cleaned = F.replace(F.replace(F.trim(c), F.lit("."), F.lit("")), F.lit(","), F.lit("."))
    return F.coalesce(cleaned.try_cast("double"), F.lit(0.0))
