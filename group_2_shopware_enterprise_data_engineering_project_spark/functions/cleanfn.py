"""Row-cleaning column expressions (native, no Python UDFs).

The reference does these per-row in Lambda Python (clean_record,
reference src/streaming/CRM/services/consumer/lambda_function.py:88-117);
here each is a vectorized Column expression.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def blank_to_null(col: Column | str) -> Column:
    """Trim; empty string -> NULL (reference lambda_function.py:92-99)."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(t == F.lit(""), F.lit(None)).otherwise(t)


def range_to_null(col: Column | str, lo, hi) -> Column:
    """Out-of-range numeric -> NULL, in-range kept (reference rating
    1..5 rule, lambda_function.py:100-104)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.between(F.lit(lo), F.lit(hi)), c).otherwise(F.lit(None))


def anon_id(*seed_cols: Column | str) -> Column:
    """Deterministic surrogate id: `anon` + first 8 hex of sha2 over the
    seed columns.

    The reference uses uuid4 (transformation.py:76-79) — random ids are
    untestable against an oracle, so we derive the id from the row's
    stable columns instead (SURVEY §7.3 determinism note).
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in seed_cols]
    return F.concat(
        F.lit("anon"),
        F.substring(F.sha2(F.concat_ws("\x1f", *[c.cast("string") for c in cols]), 256), 1, 8),
    )
