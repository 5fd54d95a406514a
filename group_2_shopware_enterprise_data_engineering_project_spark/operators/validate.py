"""Validate-and-quarantine framework (P3-P8 + K6-K8 semantics).

The reference validates per-source with plain Python/pandas loops and
routes failures to quarantine prefixes / DLQs (reference:
src/batch/inventory/services/glue_service/inventory_validate.py:209-276,
src/batch/pos/services/validator/validate.py:62-105,
src/streaming/CRM/services/consumer/lambda_function.py:70-117). Here
validation is ONE declarative pass: every rule is a boolean Column, the
valid/invalid split is two filters off the same parent plan (Catalyst
collapses the shared scan), and the summary is a single aggregate —
no row-at-a-time Python anywhere, so it runs at any scale.

Rejection is record-level (CRM rows -> DLQ): `split` returns (valid,
invalid), and `write_rejected` lands the invalid side in the
quarantine zone (batch pipelines) or the DLQ (streaming sink).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    """A named validation predicate: rows where `cond` is False (or
    null) are invalid, tagged with `name`."""

    name: str
    cond: Column


def required(cols: list[str]) -> list[Rule]:
    """P3 — required/not-null predicates (reference
    inventory_validate.py:216-243, validate.py:66-78)."""
    return [Rule(f"{c}_required", F.col(c).isNotNull()) for c in cols]


def non_negative(cols: list[str]) -> list[Rule]:
    """P7 — business-rule predicate `x >= 0` (reference
    inventory_validate.py:258-261 stock_level rule)."""
    return [Rule(f"{c}_non_negative", F.col(c) >= 0) for c in cols]


def non_negative_or_null(cols: list[str]) -> list[Rule]:
    """P7 — `x >= 0 OR x IS NULL` (reference inventory_validate.py:262-266
    restock_threshold rule)."""
    return [
        Rule(f"{c}_non_negative_or_null", F.col(c).isNull() | (F.col(c) >= 0))
        for c in cols
    ]


def not_future(ts_col: str, horizon: str = "24 hours", now: str | None = None) -> Rule:
    """P7 — timestamp not more than `horizon` in the future (reference
    inventory_validate.py:267-272). `now` pins the clock for
    deterministic tests; production passes None -> current_timestamp."""
    now_col = F.lit(now).cast("timestamp") if now else F.current_timestamp()
    return Rule(
        f"{ts_col}_not_future",
        F.col(ts_col) <= now_col + F.expr(f"INTERVAL {horizon}"),
    )


def positive_key(col: str) -> Rule:
    """P6 — domain predicate `key > 0` rejects the row (reference
    lambda_function.py:105-107 customer_id rule)."""
    return Rule(f"{col}_positive", F.col(col) > 0)


def _violations(rules: list[Rule]) -> Column:
    """Array of names of violated rules (empty = valid). A failed rule
    is one whose condition is not strictly true (false OR null)."""
    return F.array_compact(
        F.array(
            *[
                F.when(~r.cond.eqNullSafe(F.lit(True)), F.lit(r.name)).otherwise(
                    F.lit(None)
                )
                for r in rules
            ]
        )
    )


def with_flags(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Annotate each row with `is_valid` and the violated-rule list.
    One projection — no shuffle."""
    df = df.withColumn("violations", _violations(rules))
    return df.withColumn("is_valid", F.size("violations") == 0)


def _row_counts() -> list[Column]:
    """What a valid row is, for every report that counts them: total,
    valid and invalid rows over a `with_flags` frame. The K8 `summary`
    and the `RowCounts` observation both aggregate exactly this list."""
    return [
        F.count(F.lit(1)).alias("total_rows"),
        F.sum(F.col("is_valid").cast("long")).alias("valid_rows"),
        F.sum((~F.col("is_valid")).cast("long")).alias("invalid_rows"),
    ]


# How long `RowCounts.get` waits for Spark to deliver the observed
# metrics of an action that already returned (they arrive through the
# listener bus, normally within milliseconds) before it counts instead.
_OBSERVED_WAIT_S = 30.0


class RowCounts:
    """Valid/invalid row counts of one `split`, taken by the action that
    first runs either side of it instead of by extra count jobs.

    ``split(df, rules, counts)`` observes the flagged frame below both
    filters, so whichever write first scans the batch fills the counts
    with every row it read (`DataFrame.observe`). One case loses them:
    when a stage holding the observed node produces no rows (a batch
    with no valid rows ahead of a shuffle), AQE's empty-relation pruning
    drops that stage from the final plan and Spark completes the
    observation with an empty row. `get` then counts the flagged batch
    with one aggregate — the only path that costs a job."""

    def __init__(self) -> None:
        self._observation = Observation()
        self._flagged: DataFrame | None = None

    def observe(self, flagged: DataFrame) -> DataFrame:
        self._flagged = flagged
        return flagged.observe(self._observation, *_row_counts())

    def _observed(self) -> dict | None:
        """The observed metrics, or None when Spark delivered an empty
        row or none within `_OBSERVED_WAIT_S` (the observed frame never
        ran). `Observation.get` would raise on the first and block
        forever on the second, so the JVM object is polled instead."""
        jo = self._observation._jo
        done = jo.future()
        deadline = time.monotonic() + _OBSERVED_WAIT_S
        while not done.isCompleted():
            if time.monotonic() > deadline:
                return None
            time.sleep(0.001)
        if jo.getRow().length() == 0:
            return None
        return self._observation.get

    def get(self) -> tuple[int, int]:
        """(valid_rows, invalid_rows) of the split batch. Call after an
        action ran on either side of the split."""
        m = self._observed()
        if m is None:
            m = self._flagged.agg(*_row_counts()).first().asDict()
        # sum() over no rows is NULL
        return int(m["valid_rows"] or 0), int(m["invalid_rows"] or 0)


def split(
    df: DataFrame, rules: list[Rule], counts: RowCounts | None = None
) -> tuple[DataFrame, DataFrame]:
    """Record-level split -> (valid, invalid_with_reasons).

    Both sides derive from one flagged plan; routing the invalid side
    to a quarantine path (K6) or DLQ table (K7) is just a write on the
    second DataFrame. With ``counts``, the flagged plan is observed so
    the first action on either side also counts both (`RowCounts`).
    """
    flagged = with_flags(df, rules)
    if counts is not None:
        flagged = counts.observe(flagged)
    valid = flagged.filter(F.col("is_valid")).drop("is_valid", "violations")
    invalid = flagged.filter(~F.col("is_valid")).drop("is_valid")
    return valid, invalid


def summary(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """K8 — single-row validation report: total rows, valid/invalid
    counts, and per-rule violation counts (reference
    validate.py:107-132 summary JSON). One map-side pass."""
    flagged = with_flags(df, rules)
    aggs = _row_counts() + [
        F.sum(
            F.array_contains(F.col("violations"), r.name).cast("long")
        ).alias(f"viol_{r.name}")
        for r in rules
    ]
    return flagged.agg(*aggs)


def write_rejected(invalid: DataFrame, path: str, mode: str) -> None:
    """K6/K7 — land the invalid side of `split` with its violated-rule
    list serialized as a JSON string, mirroring the reference's S3
    quarantine prefixes (inventory_validate.py:304-334) and the CRM DLQ
    (lambda_function.py:120-156). The batch pipelines overwrite their
    quarantine zone; the streaming DLQ appends per micro-batch."""
    invalid.withColumn("violations", F.to_json(F.col("violations"))).write.mode(
        mode
    ).parquet(path)


# --- Deequ-style expectation suite (one scan, many constraints) ------------


def expectation_report(
    df: DataFrame,
    completeness_cols: list[str] | None = None,
    unique_cols: list[str] | None = None,
    bounds: dict[str, tuple[float, float]] | None = None,
    allowed: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Declarative data-quality constraints evaluated in ONE aggregate
    scan (the Deequ pattern): every metric is an aggregate expression
    in a single groupBy().agg(), so checking 20 constraints on 100 TB
    costs one pass, not 20. Returns one row per constraint:
    (constraint_name, metric, passed).

    Metrics are exact ratios of BIGINT counts (deterministic IEEE
    division) — no sampled approximations, so `passed` is
    reproducible. uniqueness uses count(distinct): for extreme-
    cardinality columns swap in approx_count_distinct and a tolerance,
    the documented trade.
    """
    completeness_cols = completeness_cols or []
    unique_cols = unique_cols or []
    bounds = bounds or {}
    allowed = allowed or {}

    aggs = [F.count(F.lit(1)).cast("long").alias("_n")]
    for c in completeness_cols:
        aggs.append(F.count(F.col(c)).cast("long").alias(f"_nn_{c}"))
    for c in unique_cols:
        aggs.append(F.countDistinct(F.col(c)).cast("long").alias(f"_d_{c}"))
    for c in bounds:
        aggs.append(F.min(F.col(c)).cast("double").alias(f"_min_{c}"))
        aggs.append(F.max(F.col(c)).cast("double").alias(f"_max_{c}"))
    for c, vals in allowed.items():
        aggs.append(
            F.sum(
                F.when(F.col(c).isin(vals) | F.col(c).isNull(), 0).otherwise(1)
            )
            .cast("long")
            .alias(f"_bad_{c}")
        )
    row = df.agg(*aggs)

    n = F.col("_n").cast("double")
    entries = []
    for c in completeness_cols:
        m = F.col(f"_nn_{c}").cast("double") / n
        entries.append((f"completeness:{c}", m, m >= F.lit(1.0)))
    for c in unique_cols:
        m = F.col(f"_d_{c}").cast("double") / n
        entries.append((f"uniqueness:{c}", m, F.col(f"_d_{c}") == F.col("_n")))
    for c, (lo, hi) in bounds.items():
        ok = (F.col(f"_min_{c}") >= F.lit(float(lo))) & (
            F.col(f"_max_{c}") <= F.lit(float(hi))
        )
        entries.append((f"bounds:{c}", F.col(f"_max_{c}"), ok))
    for c in allowed:
        m = F.col(f"_bad_{c}").cast("double")
        entries.append((f"allowed_values:{c}", m, F.col(f"_bad_{c}") == F.lit(0)))

    packed = F.array(
        *[
            F.struct(
                F.lit(name).alias("constraint_name"),
                metric.alias("metric"),
                passed.alias("passed"),
            )
            for name, metric, passed in entries
        ]
    )
    return row.select(F.explode(packed).alias("_e")).select("_e.*")


def k_anonymity(
    df: DataFrame, qi_cols: tuple[str, ...], k: int = 10
) -> DataFrame:
    """K-anonymity audit over quasi-identifier columns — the privacy
    check a training-data pipeline runs BEFORE releasing tabular or
    user-derived data (complementing t16's PII redaction and k24's
    hard purge): every equivalence class of the quasi-identifiers with
    fewer than k members can potentially re-identify its members via
    linkage. Emits one row per class with its size and an at-risk
    flag; NULL quasi-identifier values form their own class (groupBy
    semantics — a NULL nation is itself a linkable fact).

    One map-side-combined groupBy; class cardinality, not data volume,
    bounds the result.
    """
    from pyspark.sql import functions as F

    return (
        df.groupBy(*qi_cols)
        .agg(F.count(F.lit(1)).cast("long").alias("class_size"))
        .select(
            *qi_cols,
            "class_size",
            (F.col("class_size") < k).cast("int").alias("at_risk"),
        )
    )


def l_diversity(
    df: DataFrame, qi_cols: tuple[str, ...], sensitive_col: str, l: int = 3
) -> DataFrame:
    """L-diversity audit — the strengthening of `k_anonymity` that
    catches the homogeneity attack k-anonymity misses: a class can be
    large (k-anonymous) yet expose its members anyway when every row
    shares the SAME sensitive value. Emits one row per
    quasi-identifier equivalence class with its size, the count of
    DISTINCT sensitive values, and an at-risk flag (< l distinct).

    Same scale shape as k_anonymity: one groupBy (the countDistinct
    plans map-side via Expand), result bounded by class cardinality.
    """
    from pyspark.sql import functions as F

    return (
        df.groupBy(*qi_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("class_size"),
            F.countDistinct(sensitive_col).cast("long").alias("n_sensitive"),
        )
        .select(
            *qi_cols,
            "class_size",
            "n_sensitive",
            (F.col("n_sensitive") < l).cast("int").alias("at_risk"),
        )
    )
