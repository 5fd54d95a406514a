"""Partitioning helpers.

`spread` fixes the small-source/heavy-compute mismatch: a tiny parquet
file (one row group) scans as ONE task, so per-row-expensive operators
(minhash signatures: ~6k md5/doc) serialize on a single core while the
rest of the executor idles. A guarded round-robin repartition buys full
parallelism for one cheap shuffle of the input rows.

Guarded: only widens when the plan currently has FEWER partitions than
the target — on a real cluster where a 100 TB scan already yields
thousands of splits, it is a no-op rather than a 10k->64 downsample.
Measured here: minhash signatures at sf0.1 went 22.0s -> 0.7s.

Do NOT use it before plain relational aggregates — there the shuffle
costs more than the single-core partial agg it parallelizes (measured:
sales KPI 3.3s -> 4.4s with a forced repartition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
