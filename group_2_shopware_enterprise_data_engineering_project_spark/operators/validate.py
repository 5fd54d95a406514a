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

Two rejection granularities, both present in the reference:
- record-level (CRM rows -> DLQ): `split` returns (valid, invalid).
- file/batch-level (inventory rejects the whole file if ANY row fails,
  inventory_validate.py:244-247): `batch_is_valid` aggregates to a bool.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
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


def split(df: DataFrame, rules: list[Rule]) -> tuple[DataFrame, DataFrame]:
    """Record-level split -> (valid, invalid_with_reasons).

    Both sides derive from one flagged plan; routing the invalid side
    to a quarantine path (K6) or DLQ table (K7) is just a write on the
    second DataFrame.
    """
    flagged = with_flags(df, rules)
    valid = flagged.filter(F.col("is_valid")).drop("is_valid", "violations")
    invalid = flagged.filter(~F.col("is_valid")).drop("is_valid")
    return valid, invalid


def summary(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """K8 — single-row validation report: total rows, valid/invalid
    counts, and per-rule violation counts (reference
    validate.py:107-132 summary JSON). One map-side pass."""
    flagged = with_flags(df, rules)
    aggs = [
        F.count(F.lit(1)).alias("total_rows"),
        F.sum(F.col("is_valid").cast("long")).alias("valid_rows"),
        F.sum((~F.col("is_valid")).cast("long")).alias("invalid_rows"),
    ] + [
        F.sum(
            F.array_contains(F.col("violations"), r.name).cast("long")
        ).alias(f"viol_{r.name}")
        for r in rules
    ]
    return flagged.agg(*aggs)


def batch_is_valid(df: DataFrame, rules: list[Rule]) -> bool:
    """File-level gate: True iff NO row violates any rule (reference
    inventory_validate.py:244-247 rejects the whole file). Driver-side
    boolean for pipeline control flow."""
    flagged = with_flags(df, rules)
    return flagged.filter(~F.col("is_valid")).isEmpty()


def quarantine_split(
    df: DataFrame,
    rules: list[Rule],
    valid_path: str | None = None,
    rejected_path: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """K6 — split and optionally persist both sides (valid zone +
    rejected zone), mirroring the reference's S3 prefix routing
    (inventory_validate.py:278-299,304-334)."""
    valid, invalid = split(df, rules)
    if valid_path:
        valid.write.mode("overwrite").parquet(valid_path)
    if rejected_path:
        invalid.withColumn(
            "violations", F.to_json(F.col("violations"))
        ).write.mode("overwrite").parquet(rejected_path)
    return valid, invalid


# --- Deequ-style expectation suite (one scan, many constraints) ------------


def expectation_report(
    df: DataFrame,
    completeness_cols: list[str] | None = None,
    unique_cols: list[str] | None = None,
    bounds: dict[str, tuple[float, float]] | None = None,
    allowed: dict[str, list[str]] | None = None,
    min_completeness: float = 1.0,
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
        entries.append((f"completeness:{c}", m, m >= F.lit(min_completeness)))
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
