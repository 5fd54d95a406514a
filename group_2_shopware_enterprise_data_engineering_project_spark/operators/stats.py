"""Distribution statistics operators: key-skew profiling, group-wise
OLS regression, and winsorized summaries.

All three follow the repo's exact-arithmetic discipline (PERF.md,
`analytics.sales_kpi`): aggregate in order-independent integer sums
(BIGINT), do floating-point work only in deterministic single
IEEE-754 expressions over those exact sums — +, -, *, / are
exactly-rounded per IEEE, so a Spark plan and a DuckDB oracle that
evaluate the SAME expression tree over the SAME integers produce
bit-identical doubles. Sums of doubles (partition-order-dependent)
and transcendental functions (ln/exp differ in the last ulp across
libm implementations) never appear.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def key_skew_profile(df: DataFrame, key_col: str, top_n: int = 20) -> DataFrame:
    """Heavy-hitter profile for a prospective join/partition key.

    Returns the top-N keys by row count with each key's share of the
    table and its ratio to the mean per-key count — the two numbers
    that decide whether a key needs salting / AQE skew handling before
    it becomes a shuffle key at scale.

    Scale shape: one map-side-combined groupBy(key) — the only shuffle
    carries (key, count) pairs, never rows — then a rank-N cut
    (TakeOrderedAndProject for small N) and a broadcast of the two
    scalar totals. This is the profile you run BEFORE choosing a
    partitioning, so it must itself be skew-proof: it is, because
    counts combine map-side and the hot key contributes one row per
    input partition to the shuffle.
    """
    counts = df.groupBy(F.col(key_col).alias("key_value")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    totals = counts.agg(
        F.sum("cnt").cast("long").alias("_total"),
        F.count(F.lit(1)).cast("long").alias("_n_keys"),
    )
    # global top-N via orderBy+limit = TakeOrderedAndProject (each task
    # keeps N rows, the driver merges) — NOT a row_number window, which
    # would drag every key's count through one partition. The rank
    # window then runs over only the N survivors.
    cut = counts.orderBy(F.col("cnt").desc(), F.col("key_value").asc()).limit(top_n)
    w = Window.orderBy(F.col("cnt").desc(), F.col("key_value").asc())
    top = cut.withColumn("rank", F.row_number().over(w).cast("long")).join(
        F.broadcast(totals)
    )
    return top.select(
        "rank",
        "key_value",
        "cnt",
        (F.col("cnt").cast("double") / F.col("_total").cast("double")).alias("share"),
        (
            F.col("cnt").cast("double")
            * F.col("_n_keys").cast("double")
            / F.col("_total").cast("double")
        ).alias("ratio_to_avg"),
    )


def group_ols(
    df: DataFrame,
    group_col: str,
    x_int: Column,
    y_int: Column,
) -> DataFrame:
    """Per-group ordinary-least-squares fit (slope / intercept / r²)
    from exact integer sufficient statistics.

    ``x_int`` / ``y_int`` must be integer-valued expressions (cast or
    scale to integer units first — e.g. money in cents). The five
    sufficient sums n, Σx, Σy, Σxy, Σxx, Σyy are BIGINT — exact and
    order-independent — and the closed forms

        slope = (nΣxy − ΣxΣy) / (nΣxx − Σx²)
        intercept = (Σy − slope·Σx) / n
        r² = (nΣxy − ΣxΣy)² / ((nΣxx − Σx²)(nΣyy − Σy²))

    are evaluated in doubles OVER the exact sums (products like nΣxy
    can exceed int64, so each sum is cast to double first; a sum like
    Σy² may exceed 2⁵³, in which case the cast is no longer exact —
    but exactly-rounded casts of identical integers are still
    bit-identical across engines, which is the property that matters). This is why
    the built-in ``regr_slope``-family aggregates are NOT used: they
    accumulate doubles in partition order, which is not reproducible
    across engines or even across runs.

    One map-side-combined shuffle on the group key; nothing else.

    Overflow audit (r11 verdict item 4): every addend x*y, x*x, y*y is
    NON-NEGATIVE here in practice (quantities, prices) and both
    engines raise at the same points rather than diverging — the
    per-row BIGINT product overflows loudly in ANSI Spark AND in
    DuckDB (probed: "Overflow in multiplication of INT64"), and for
    non-negative addends ANSI Spark's mid-sum raise condition (true
    total > 2^63-1) coincides exactly with the oracle's
    HUGEINT->BIGINT cast raise. Engines fail together; no silent
    wrap path exists. Callers whose Σy² can genuinely exceed 2^63
    (cents² over ~1e10 rows per group) get a loud error in both
    engines, not a wrong slope.
    """
    x = x_int.cast("long")
    y = y_int.cast("long")
    sums = df.groupBy(F.col(group_col).alias("group_key")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    sxxd = F.col("sxx").cast("double")
    syyd = F.col("syy").cast("double")
    cov_n = nd * sxyd - sxd * syd
    var_x = nd * sxxd - sxd * sxd
    var_y = nd * syyd - syd * syd
    slope = cov_n / var_x
    return sums.select(
        "group_key",
        "n",
        slope.alias("slope"),
        ((syd - slope * sxd) / nd).alias("intercept"),
        (cov_n * cov_n / (var_x * var_y)).alias("r2"),
    )


def winsorized_summary(
    df: DataFrame,
    group_col: str,
    value_int: Column,
    q_lo: float = 0.05,
    q_hi: float = 0.95,
) -> DataFrame:
    """Per-group winsorized sum: clamp each value to the group's
    [q_lo, q_hi] *discrete* quantiles (the k-th smallest actual value,
    k = ceil(q·n)), then aggregate.

    Discrete (type-1) quantiles instead of interpolated ones on
    purpose: the threshold is an actual data value, so both engines
    agree on it EXACTLY — interpolated quantiles (`percentile`,
    `quantile_cont`) compute ``a + (b−a)·f`` vs ``(1−f)·a + f·b``
    in different engines, and the ulp difference can flip a clamp
    comparison. ``value_int`` must be an integer-valued expression
    (scale money to cents first); the clamped sum is then a BIGINT —
    exact and order-independent.

    Scale shape: one shuffle on the group key feeds BOTH the two
    rank-window passes and the final aggregation (same partitioning,
    Catalyst reuses the exchange). Per-task memory is a sort of one
    group's rows — the same bound as any per-group window; groups too
    hot for that need pre-aggregation by (group, value) first, which
    this operator does: ranks are computed over (group, value, count)
    run-length pairs, not raw rows.

    Group-key contract (same as ``equidepth_bucketize``): the
    threshold join-back is null-UNSAFE, so a NULL group is absent
    from the summary; pre-coalesce to a sentinel if null is a real
    category. This is a per-group SUMMARY, not a TOTAL audit frame.
    """
    if not (0.0 < q_lo <= q_hi <= 1.0):
        raise ValueError(f"need 0 < q_lo <= q_hi <= 1, got ({q_lo}, {q_hi})")
    v = value_int.cast("long")
    g = F.col(group_col).alias("group_key")

    # run-length compress per (group, value) so the window sorts
    # distinct values, not raw rows (bounds per-task memory on groups
    # with many repeated values)
    rl = df.groupBy(g, v.alias("val")).agg(F.count(F.lit(1)).cast("long").alias("c"))
    # ROWS frame pinned even though (group, val) is unique by
    # construction (RANGE==ROWS here): the m15 lesson — remove the
    # divergence surface, don't reason it away
    w = (
        Window.partitionBy("group_key")
        .orderBy("val")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = rl.withColumn("cum", F.sum("c").over(w)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("group_key"))
    )
    # k-th smallest (k = ceil(q*n)) = first value whose cumulative
    # count reaches k; "cum - c < k <= cum" selects exactly one row
    k_lo = F.ceil(F.lit(q_lo) * F.col("n").cast("double")).cast("long")
    k_hi = F.ceil(F.lit(q_hi) * F.col("n").cast("double")).cast("long")
    thresholds = ranked.groupBy("group_key").agg(
        F.min(
            F.when((F.col("cum") - F.col("c") < k_lo) & (k_lo <= F.col("cum")), F.col("val"))
        ).alias("lo"),
        F.min(
            F.when((F.col("cum") - F.col("c") < k_hi) & (k_hi <= F.col("cum")), F.col("val"))
        ).alias("hi"),
    )
    clamped = rl.join(thresholds, "group_key").select(
        "group_key",
        "c",
        F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("val"))).alias("cv"),
        (F.col("val") < F.col("lo")).alias("is_lo"),
        (F.col("val") > F.col("hi")).alias("is_hi"),
        "lo",
        "hi",
    )
    return clamped.groupBy("group_key").agg(
        F.sum("c").alias("n"),
        F.min("lo").alias("lo_value"),
        F.min("hi").alias("hi_value"),
        F.sum(F.col("cv") * F.col("c")).alias("winsorized_sum"),
        F.sum(F.when(F.col("is_lo"), F.col("c")).otherwise(F.lit(0))).alias(
            "n_clamped_lo"
        ),
        F.sum(F.when(F.col("is_hi"), F.col("c")).otherwise(F.lit(0))).alias(
            "n_clamped_hi"
        ),
    )


def count_min(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Count-min sketch with a FULLY verifiable estimate: per key,
    (exact_n, cms_est) where cms_est = min over ``depth`` hash rows of
    the (row, bucket) counter the key hashes into.

    The sketch algebra is pure integer arithmetic over md5-derived
    buckets, so it is DETERMINISTIC and partitioning-independent
    (counter increments commute) — unlike most sketches, an external
    engine can recompute the identical estimate, which is why the
    paired query carries an exact value-hash oracle rather than the
    bounds-audit pattern `m13` needs for approx_count_distinct. The
    classical guarantees still hold and are asserted in tests:
    cms_est >= exact_n always, and overshoot is bounded by colliding
    keys' mass (<= total_n * e/width per row w.h.p.).

    Scale: the counter table is depth x width rows TOTAL (fixed
    memory, mergeable across partitions/streams — the actual 100 TB
    artifact); building it is one map-side-combined groupBy after a
    depth-way explode of (row, bucket) pairs. The per-key estimate
    join broadcasts the counters. Exact counts (one groupBy on the
    key) are emitted alongside for the verification contract; a pure
    production sketch would skip that branch and keep only counters.
    """
    hashed = cms_increments(df, key_col, depth, width)

    counters = hashed.groupBy("i", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )  # <= depth*width rows — the sketch itself
    exact = df.groupBy(key_col).agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
    key_buckets = hashed.select(key_col, "i", "bucket").distinct()
    est = (
        key_buckets.join(F.broadcast(counters), ["i", "bucket"])
        .groupBy(key_col)
        .agg(F.min("c").cast("long").alias("cms_est"))
    )
    return exact.join(est, key_col)


def cms_increments(
    df: DataFrame, key_col: str, depth: int, width: int
) -> DataFrame:
    """One (key, i, bucket) row per input row per hash row — the raw
    increment stream both the batch sketch (`count_min`) and the
    streaming counter-merge sink aggregate. md5-derived buckets are
    the engine-portable hash (DuckDB mirrors them verbatim), which is
    what makes the sketch exactly oracle-checkable."""
    key = F.col(key_col).cast("string")

    def bucket(i: int):
        return F.pmod(
            F.conv(
                F.substring(F.md5(F.concat(F.lit(str(i)), F.lit(":"), key)), 1, 6),
                16,
                10,
            ).cast("long"),
            F.lit(width),
        )

    return df.select(
        F.col(key_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("i"), bucket(i).alias("bucket"))
                    for i in range(depth)
                ]
            )
        ).alias("h"),
    ).select(key_col, F.col("h.i").alias("i"), F.col("h.bucket").alias("bucket"))


#: HLL geometry: 64 registers (bucket = 6 bits of md5), rank from a
#: disjoint 48-bit slice. alpha_64 per Flajolet et al.
HLL_M = 64
_HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)


def hll_registers(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """The mergeable HLL artifact: per (group, bucket) max rank —
    (g, b, r) rows, at most HLL_M per group. Two corpora's register
    tables merge with `hll_merge` (union + max — commutative,
    associative, idempotent), and `hll_distinct` is exactly
    `hll_registers` + the estimate rollup, so merged registers feed
    the same estimator. Bucket and rank come from disjoint md5 slices
    (see `hll_distinct` for the cross-engine rationale)."""
    val = F.col(value_col).cast("string")
    h = F.md5(val)
    bucket = F.pmod(F.conv(F.substring(h, 1, 4), 16, 10).cast("long"), F.lit(HLL_M))
    v48 = F.conv(F.substring(h, 5, 12), 16, 10).cast("long")
    # rho = leading zeros in the 48-bit slice + 1 = 49 - bit_length;
    # bin(0) = '0' (length 1) maps v48=0 to rho=48 in BOTH engines —
    # off the Flajolet convention by 1 with probability 2^-48, and
    # identically so on each side, which is what the oracle needs
    rho = F.lit(49) - F.length(F.bin(v48))
    return (
        df.select(F.col(group_col).alias("g"), bucket.alias("b"), rho.alias("rho"))
        .groupBy("g", "b")
        .agg(F.max("rho").alias("r"))
    )


def hll_merge(*register_tables: DataFrame) -> DataFrame:
    """Max-merge register tables built by `hll_registers` on disjoint
    (or overlapping — max is idempotent) corpora: the distributed-
    sketch property that lets 100 TB be sketched shard by shard and
    combined in O(groups x m) rows."""
    out = register_tables[0]
    for t in register_tables[1:]:
        out = out.unionByName(t)
    return out.groupBy("g", "b").agg(F.max("r").alias("r"))


def hll_estimate(regs: DataFrame) -> DataFrame:
    """The estimate rollup over a register table — (g,
    n_zero_registers, hll_raw_est), same algebra as `hll_distinct`
    minus the exact-count verification branch."""
    rolled = regs.groupBy("g").agg(
        F.sum(F.expr("shiftleft(cast(1 as bigint), cast(49 - r as int))"))
        .cast("long")
        .alias("s_exact"),
        F.count(F.lit(1)).cast("long").alias("n_regs"),
    )
    const = _HLL_ALPHA * HLL_M * HLL_M * float(1 << 49)
    zeros = F.lit(HLL_M) - F.col("n_regs")
    s_full = F.col("s_exact") + zeros.cast("long") * F.lit(1 << 49)
    return rolled.select(
        "g",
        zeros.cast("long").alias("n_zero_registers"),
        (F.lit(const) / s_full.cast("double")).alias("hll_raw_est"),
    )


def hll_distinct(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Per-group HyperLogLog distinct-count sketch whose estimate an
    external engine can recompute EXACTLY (the m27/count_min property,
    applied to cardinality): buckets and ranks come from disjoint md5
    slices, registers are max-merged (max commutes — partitioning-
    invariant), and the harmonic sum is kept EXACT by summing the
    integer 2^(49-rho) instead of the float 2^-rho (each term <= 2^48,
    64 terms — BIGINT-safe), so the only float op is one final
    division of two exactly-agreed numbers.

    Emits per group: exact_distinct (rides along for the verification
    contract), n_zero_registers, and hll_raw_est. The small-range
    linear-counting correction (m * ln(m/zeros)) is deliberately left
    to the caller: ln is transcendental and libm implementations
    differ in the last ulp across engines — the same reason
    mixture_weights leaves its normalization to the caller. All
    correction INPUTS are emitted.

    Scale: one groupBy (group, bucket) max-merge — the shuffle carries
    at most m rows per group — then an m-row-per-group rollup. The
    register table IS the mergeable artifact (union two corpora's
    registers with max); exact_distinct is a verification-only branch
    a production pipeline would drop.
    """
    regs = hll_registers(df, group_col, value_col)
    rolled = regs.groupBy("g").agg(
        F.sum(F.expr("shiftleft(cast(1 as bigint), cast(49 - r as int))"))
        .cast("long")
        .alias("s_exact"),
        F.count(F.lit(1)).cast("long").alias("n_regs"),
    )
    # CONST = alpha * m^2 * 2^49, computed once in Python so both
    # engines parse the identical double literal (repr interpolation)
    const = _HLL_ALPHA * HLL_M * HLL_M * float(1 << 49)
    # zero registers contribute 2^(49-0)=2^49 each to the harmonic sum
    zeros = F.lit(HLL_M) - F.col("n_regs")
    s_full = F.col("s_exact") + zeros.cast("long") * F.lit(1 << 49)
    est = F.lit(const) / s_full.cast("double")
    exact = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count_distinct(F.col(value_col)).cast("long").alias("exact_distinct")
    )
    return (
        exact.join(rolled, "g")
        .select(
            F.col("g").alias(group_col),
            "exact_distinct",
            zeros.cast("long").alias("n_zero_registers"),
            est.alias("hll_raw_est"),
        )
    )


def analyze_columns_hll(
    df: DataFrame,
    int_cols: tuple[str, ...],
    str_cols: tuple[str, ...],
) -> DataFrame:
    """ANALYZE-style per-column statistics with sketch NDV — the 100 TB
    variant of the exact-countDistinct ANALYZE (k29): same output shape
    (col, n_rows, n_null, min_val, max_val) but ndv comes from the m64
    HyperLogLog of `hll_distinct` instead of Expand-planned exact
    countDistinct, plus the sketch's verification columns
    (n_zero_registers).

    Plan shape — ONE FileScan, NO Expand: each row explodes into one
    (col, val) pair per analyzed column, then a single map-side-combined
    groupBy (col, bucket) computes the HLL register max AND bucket-local
    partial counts/min/max side by side; the per-column rollup that
    follows runs over at most m+1 rows per column. The shuffle carries
    (n_cols x (m+1)) x n_partitions partial rows — fixed memory, no
    per-value Expand replication, no second pass over the table.

    Nulls ride bucket -1 (they have no hash) so n_rows/n_null stay exact;
    min/max for integer columns aggregate the NUMERIC value (cast to
    string only at output — lexicographic string min would order
    '9' > '100'), string columns aggregate the string directly.
    """
    pairs = []
    for c in int_cols:
        pairs.append(
            F.struct(
                F.lit(c).alias("col"),
                F.col(c).cast("string").alias("val_str"),
                F.col(c).cast("long").alias("val_num"),
            )
        )
    for c in str_cols:
        pairs.append(
            F.struct(
                F.lit(c).alias("col"),
                F.col(c).cast("string").alias("val_str"),
                F.lit(None).cast("long").alias("val_num"),
            )
        )
    stacked = df.select(F.explode(F.array(*pairs)).alias("p")).select("p.*")
    h = F.md5(F.col("val_str"))
    bucket = F.when(F.col("val_str").isNull(), F.lit(-1)).otherwise(
        F.pmod(F.conv(F.substring(h, 1, 4), 16, 10).cast("long"), F.lit(HLL_M))
    )
    v48 = F.conv(F.substring(h, 5, 12), 16, 10).cast("long")
    rho = F.lit(49) - F.length(F.bin(v48))
    per_bucket = (
        stacked.select(
            "col",
            "val_str",
            "val_num",
            bucket.alias("b"),
            F.when(F.col("val_str").isNotNull(), rho).alias("rho"),
        )
        .groupBy("col", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.count("val_str").cast("long").alias("n_nonnull"),
            F.max("rho").alias("r"),
            F.min("val_num").alias("min_num"),
            F.max("val_num").alias("max_num"),
            F.min("val_str").alias("min_str"),
            F.max("val_str").alias("max_str"),
        )
    )
    rolled = per_bucket.groupBy("col").agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        (F.sum("cnt") - F.sum("n_nonnull")).cast("long").alias("n_null"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("b") >= 0,
                    F.expr("shiftleft(cast(1 as bigint), cast(49 - r as int))"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("s_exact"),
        F.count(F.when(F.col("b") >= 0, F.lit(1))).cast("long").alias("n_regs"),
        F.min("min_num").alias("min_num"),
        F.max("max_num").alias("max_num"),
        F.min("min_str").alias("min_str"),
        F.max("max_str").alias("max_str"),
    )
    const = _HLL_ALPHA * HLL_M * HLL_M * float(1 << 49)
    zeros = F.lit(HLL_M) - F.col("n_regs")
    s_full = F.col("s_exact") + zeros.cast("long") * F.lit(1 << 49)
    return rolled.select(
        "col",
        "n_rows",
        "n_null",
        zeros.cast("long").alias("n_zero_registers"),
        (F.lit(const) / s_full.cast("double")).alias("ndv_hll_est"),
        F.coalesce(F.col("min_num").cast("string"), F.col("min_str")).alias(
            "min_val"
        ),
        F.coalesce(F.col("max_num").cast("string"), F.col("max_str")).alias(
            "max_val"
        ),
    )


# --- fixed-bin histogram sketch (mergeable quantiles) ----------------------


def histogram_bins(
    df: DataFrame,
    group_col: str,
    value_cents,
    lo: int,
    hi: int,
    bins: int = 64,
) -> DataFrame:
    """The mergeable quantile artifact (completing the sketch triad:
    m27 count-min for frequency, m28 HLL for cardinality, this for
    distribution): per (group, bin) counts over ``bins`` EQUI-WIDTH
    buckets of a FIXED [lo, hi) domain. Merging two corpora's
    histograms is bin-count ADDITION (commutative/associative), and
    everything is BIGINT arithmetic — an external engine recomputes
    the sketch exactly, the property the t-digest/KLL family
    fundamentally cannot offer (their centroids/compactions are
    order-dependent). The trade: error is bounded by bin width over a
    domain fixed in advance, not adaptive — the right trade when the
    domain is known (prices, latencies with a cap, token counts).

    Values below lo clamp to bin 0, at/above hi to bin bins-1 (the
    outermost bins absorb outliers; their counts flag a mis-sized
    domain). NULL values are EXCLUDED from the sketch — a NULL has no
    position in the domain, and letting it through would create a
    NULL bin row that the quantile cumsum counts BEFORE bin 0. One
    map-side-combining groupBy to <= groups x bins rows.
    """
    if hi <= lo or bins < 1:
        raise ValueError(f"need lo < hi and bins >= 1, got [{lo}, {hi}) x {bins}")
    pre = df.select(
        F.col(group_col).alias("g"), value_cents.cast("long").alias("_v")
    ).filter(F.col("_v").isNotNull())
    raw = F.expr(f"((_v - {int(lo)}L) * {int(bins)}L) div {int(hi - lo)}L")
    b = F.least(F.lit(bins - 1), F.greatest(F.lit(0), raw)).cast("long")
    return (
        pre.select("g", b.alias("b"))
        .groupBy("g", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def histogram_quantiles(
    hist: DataFrame,
    lo: int,
    hi: int,
    bins: int = 64,
) -> DataFrame:
    """Quantile estimates from a `histogram_bins` table: for q in 50 and
    95 (integer percents), the UPPER boundary of the first bin
    where 100 * cumulative >= q * n — pure BIGINT comparisons, so the
    estimate is engine-exact and merge-invariant. Emits per group:
    n and one q{q}_upper_cents column per q. Window runs over the
    <= bins rows per group, not the data."""
    w_cum = (
        Window.partitionBy("g")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("g")
    cum = hist.withColumn("cum", F.sum("c").over(w_cum)).withColumn(
        "n", F.sum("c").over(w_all)
    )
    width = (hi - lo) // bins
    aggs = [F.max("n").cast("long").alias("n")]
    for q in (50, 95):
        hit = F.when(
            F.col("cum") * 100 >= F.col("n") * q, F.col("b")
        )
        aggs.append(
            (F.lit(lo) + (F.min(hit) + 1) * F.lit(width))
            .cast("long")
            .alias(f"q{q}_upper_cents")
        )
    return cum.groupBy("g").agg(*aggs)


# --- equi-depth bucketizer (feature discretization) ------------------------


def equidepth_bucketize(
    df: DataFrame,
    group_col: str,
    value_int,
    n_buckets: int = 8,
) -> DataFrame:
    """Per-group equi-depth (quantile) discretizer — the ML-prep
    companion to `histogram_bins`' fixed-domain equi-width bins:
    bucket boundaries are the group's own type-1 discrete quantiles
    (k-th smallest actual value, k = ceil(j*n/B) — ALL-integer
    arithmetic, so both engines agree exactly; see `winsorized_sum`
    for why interpolated quantiles can't be hashed), and each value's
    bucket is the count of boundaries strictly below it (boundary
    ties collapse into the lower bucket, deterministically).

    Returns per (group, bucket): n_rows, lo/hi value — approximately
    equal row depths, data-adaptive ranges. Scale shape: ranks are
    computed over run-length (group, value, count) pairs, not raw
    rows; the boundary table is one row of B-1 values per group and
    broadcasts into the bucket-assignment join.

    Group-key contract: the bucket-assignment join is a plain
    null-UNSAFE equi-join, so rows with a NULL group are absent from
    the output (like their NULL values, excluded above). Callers for
    whom null is a real category must pre-coalesce the group column
    to a sentinel — unlike the TOTAL audit frames (budget_select,
    group_quantile_filter, deterministic_downsample), this operator
    summarizes named groups.
    """
    if n_buckets < 2:
        raise ValueError(f"need n_buckets >= 2, got {n_buckets}")
    # NULL values are EXCLUDED: under Spark's NULLS-FIRST window order
    # a NULL run can absorb a boundary rank, making that boundary NULL
    # and collapsing the whole group's bucket sum to NULL — and the
    # engines disagree on NULL placement anyway.
    v = value_int.cast("long")
    g = F.col(group_col).alias("g")
    rl = (
        df.select(g, v.alias("val"))
        .filter(F.col("val").isNotNull())
        .groupBy("g", "val")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = (
        Window.partitionBy("g")
        .orderBy("val")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = rl.withColumn("cum", F.sum("c").over(w)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("g"))
    )
    bounds = ranked.groupBy("g").agg(
        *[
            F.min(
                F.when(
                    (F.col("cum") - F.col("c") < F.expr(f"({j} * n + {n_buckets - 1}) div {n_buckets}"))
                    & (F.expr(f"({j} * n + {n_buckets - 1}) div {n_buckets}") <= F.col("cum")),
                    F.col("val"),
                )
            ).alias(f"b{j}")
            for j in range(1, n_buckets)
        ]
    )
    bucket = sum(
        (F.col("val") > F.col(f"b{j}")).cast("long") for j in range(1, n_buckets)
    )
    return (
        rl.join(F.broadcast(bounds), "g")
        .select("g", "val", "c", bucket.alias("bucket"))
        .groupBy("g", "bucket")
        .agg(
            F.sum("c").cast("long").alias("n_rows"),
            F.min("val").alias("lo"),
            F.max("val").alias("hi"),
        )
    )


def drift_buckets(
    df: DataFrame,
    period_col: str,
    value_cents: Column,
    lo: int,
    hi: int,
    bins: int = 10,
) -> DataFrame:
    """Distribution-drift monitor between a baseline and a current
    period — the data-quality gate a production ingest runs before
    accepting a new batch into a training corpus (a value-distribution
    shift flags upstream schema/unit changes, bot floods, scraper
    breakage). ``period_col`` must be 0 (baseline) / 1 (current).

    Reuses `histogram_bins`' fixed-domain BIGINT binning, then emits
    ONE ROW PER BIN: baseline/current counts (exact BIGINT), the
    current count expected under the baseline shape, and the bin's
    chi-square contribution. No float SUM anywhere — the chi-square
    statistic is deliberately left per-bin (each contribution is a
    fixed tree of exactly-rounded IEEE ops, bit-equal cross-engine;
    a float total would be addition-order-dependent). Downstream
    alerting thresholds per-bin or sums the BIGINT counts.

    Scale: one map-side-combined groupBy to <= 2 x bins rows; totals
    come from a second tiny agg of that result, broadcast back.
    """
    return drift_from_histogram(
        histogram_bins(df, period_col, value_cents, lo, hi, bins)
    )


def drift_from_histogram(hist: DataFrame) -> DataFrame:
    """Finish stage of `drift_buckets`, split out so a STREAMED
    histogram works identically: per-period bin counts are additive
    (commute across micro-batches), so a counter table maintained by
    additive merges yields the exact same drift report as one batch
    pass — the st21 pattern, same law as st13's streamed count-min.
    Input: (g, b, c) rows with g = 0 baseline / 1 current."""
    per_bin = hist.groupBy("b").agg(
        F.sum(F.when(F.col("g") == 0, F.col("c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_base"),
        F.sum(F.when(F.col("g") == 1, F.col("c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_cur"),
    )
    totals = per_bin.agg(
        F.sum("n_base").cast("long").alias("total_base"),
        F.sum("n_cur").cast("long").alias("total_cur"),
    )
    # Empty-baseline guard: total_base = 0 is PLAUSIBLE data (first
    # run of a new metric, baseline window not yet populated). ANSI
    # Spark would raise DIVIDE_BY_ZERO on the double division where
    # DuckDB yields NULL — guard to the same NULL so both engines
    # report "expected undefined" and the chi2 CASE falls through to
    # NULL identically.
    expected = F.when(
        F.col("total_base") > 0,
        F.col("n_base").cast("double")
        * F.col("total_cur").cast("double")
        / F.col("total_base").cast("double"),
    )
    diff = F.col("n_cur").cast("double") - F.col("expected_cur")
    return (
        per_bin.crossJoin(F.broadcast(totals))
        .withColumn("expected_cur", expected)
        .select(
            F.col("b").alias("bin"),
            "n_base",
            "n_cur",
            "expected_cur",
            F.when(
                F.col("expected_cur") > 0,
                diff * diff / F.col("expected_cur"),
            ).alias("chi2_contrib"),
        )
    )


def shuffle_skew_audit(
    df: DataFrame, key_col: str, n_buckets: int = 8
) -> DataFrame:
    """Pre-flight shuffle-skew audit: hash ``key_col`` into the
    ``n_buckets`` reducer buckets a shuffle on that key would use
    (engine-portable md5_16 mod rule, same as k28's hidden
    partitioning) and report per-bucket row/key counts with a
    >2x-mean ``skew_flag`` — the report that tells a pipeline to salt
    (j5/skewjoin) BEFORE the straggler, not after.

    One map-side-combined groupBy over the hashed bucket; the flag is
    integer cross-multiplication (n_rows * n_buckets > 2 * total)
    against a broadcast 1-row total — no floats in the output.
    """
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("skew:"), F.col(key_col))), 1, 4
            ),
            16,
            10,
        ).cast("long"),
        F.lit(n_buckets),
    ).cast("long")
    per_bucket = (
        df.select(bucket.alias("bucket"), key_col)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct(key_col).cast("long").alias("n_keys"),
        )
    )
    tot = per_bucket.agg(F.sum("n_rows").cast("long").alias("total"))
    return per_bucket.join(F.broadcast(tot)).select(
        "bucket",
        "n_rows",
        "n_keys",
        (F.col("n_rows") * n_buckets > 2 * F.col("total"))
        .cast("long")
        .alias("skew_flag"),
    )


#: Benford first-digit expectations log10(1 + 1/d), computed ONCE in
#: Python and interpolated as identical double literals into both the
#: Spark plan and the DuckDB oracle (the module's transcendental-
#: function discipline: ln/log10 never evaluate engine-side).
import math as _math

BENFORD_EXPECTED: tuple[float, ...] = tuple(
    _math.log10(1.0 + 1.0 / d) for d in range(1, 10)
)


def benford_audit(
    df: DataFrame,
    amount_col: str,
    deviation_threshold: float = 0.02,
) -> DataFrame:
    """Benford's-law first-digit audit over a monetary column — the
    classic forensic data-quality screen (fabricated or systematically
    corrupted amounts drift from the log distribution of naturally
    occurring ones). Amounts convert to exact integer cents (the repo's
    floor(x*100+0.5) discipline), the first significant digit is the
    leading character of the BIGINT's decimal string (identical CAST in
    both engines — no engine-side log10), and each digit's observed
    share is one exact division of BIGINTs. Expected shares are Python-
    interpolated literals (BENFORD_EXPECTED), so deviation = share -
    expected is a single IEEE subtraction both engines round
    identically.

    Scale shape: ONE scan — a map-side-combined groupBy over 9 possible
    digits (the shuffle carries at most 9 x n_partitions partial
    counts); the grand total is a window sum over the resulting <=9-row
    counts frame, never a second aggregation over the base table. The
    final step is a broadcast join against the 9-row expectation frame.

    Output per digit 1-9: n, share, benford_expected, deviation,
    flagged (|deviation| > threshold).
    """
    cents = F.floor(F.col(amount_col) * 100.0 + 0.5).cast("long")
    digits = (
        df.select(cents.alias("cents"))
        .filter(F.col("cents") > 0)
        .select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("long")
            .alias("digit")
        )
    )
    from pyspark.sql import Window

    # total = sum over the <=9-row per-digit counts frame (an
    # unordered window over a digit-cardinality frame, NOT a second
    # aggregation over the base table — the table is scanned once)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    counts = digits.groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).withColumn("total", F.sum("n").over(w_all).cast("long"))
    spark = df.sparkSession
    expected = spark.createDataFrame(
        [(d, BENFORD_EXPECTED[d - 1]) for d in range(1, 10)],
        "digit long, benford_expected double",
    )
    share = F.col("n").cast("double") / F.col("total").cast("double")
    dev = share - F.col("benford_expected")
    return (
        F.broadcast(expected)
        .join(counts, "digit", "left")
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
            F.coalesce(share, F.lit(0.0)).alias("share"),
            "benford_expected",
            F.coalesce(dev, -F.col("benford_expected")).alias("deviation"),
            (
                F.abs(F.coalesce(dev, -F.col("benford_expected")))
                > F.lit(deviation_threshold)
            )
            .cast("int")
            .alias("flagged"),
        )
    )


def triangular_exact(col_name: str) -> Column:
    """c*(c+1)/2 with EVERY operation in DECIMAL(38,0): as raw
    BIGINTs the product blows up at c ~ 3.04e9 (ANSI Spark raises,
    non-ANSI wraps) while a HUGEINT oracle stays exact — the engines
    must agree instead. c*(c+1) is always even, so the decimal /2 is
    integral and the cast back to scale 0 is lossless."""
    cdec = f"CAST({col_name} AS DECIMAL(38,0))"
    return F.expr(f"CAST({cdec} * ({cdec} + 1) / 2 AS DECIMAL(38,0))")


def length_gini(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source Gini coefficient over document TOKEN COUNTS — the
    length-inequality screen that complements t33's term-HHI: a source
    whose token mass sits in a handful of mega-documents (G -> 1)
    skews packing (m15), budget selection (m60), and any per-doc
    quality gate, even when its HHI looks healthy.

    Rank-based Gini, G = (2*S1 - (N+1)*S0) / (N*S0) with S1 = sum of
    i*x_(i) over the ascending sort and S0 = sum x — computed WITHOUT
    ever sorting the corpus: per (source, length) frequencies first
    (the only corpus shuffle — (source, n, count) triples), then each
    distinct value v with count c and B smaller-valued docs before it
    contributes v*(c*B + c*(c+1)/2) to S1 in closed form (the sum of
    its block's ranks — tie-invariant, so no tiebreak column is ever
    needed). The prefix window runs over the VALUE-cardinality frame
    (distinct lengths per source, bounded by the max document length,
    not the corpus), never over documents — the m60/a36 sharded-frame
    discipline.

    Exactness: every term — including the per-cell products n*c and
    c*(c+1)/2, which as raw BIGINTs blow up at ~3e9 docs per cell —
    forms in DECIMAL(38,0) (S1 is order N^2*v and overflows BIGINT at
    ~1e9 docs; decimal keeps it exact where ANSI-BIGINT would raise
    and the DuckDB oracle's HUGEINT would sail on), with ONE final
    double division.
    DuckDB mirrors with HUGEINT sums — both engines correctly round
    the same exact integers, so the quotient matches bit-for-bit.
    All-zero-token sources emit G = 0.0 (CASE-guarded 0/0).
    """
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.text import (
        token_count,
    )

    dec = "decimal(38,0)"
    freq = (
        docs.select(
            F.col(source_col).alias("source"),
            token_count(F.coalesce(F.col(text_col), F.lit("")))
            .cast("long")
            .alias("n"),
        )
        .groupBy("source", "n")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w_b = (
        Window.partitionBy("source")
        .orderBy("n")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    per_val = freq.select(
        "source",
        "n",
        "c",
        F.coalesce(F.sum("c").over(w_b), F.lit(0)).cast("long").alias("b"),
    ).select(
        "source",
        F.col("c"),
        # Every product forms AFTER the DECIMAL(38,0) cast: n*c and
        # c*(c+1) as raw BIGINTs overflow at ~3e9 docs per (source,
        # length) cell — ANSI Spark raises there while the DuckDB
        # oracle's HUGEINT stays exact, diverging instead of agreeing
        # (ADVICE r11). c*(c+1) is always even, so the decimal /2 is
        # exact and the cast back to scale 0 loses nothing.
        (F.col("n").cast(dec) * F.col("c")).alias("s0_v"),
        (
            F.col("n").cast(dec)
            * (
                F.col("c").cast(dec) * F.col("b")
                + triangular_exact("c")
            )
        ).alias("s1_v"),
    )
    agg = per_val.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.sum("s0_v").alias("_s0"),
        F.sum("s1_v").alias("_s1"),
    )
    num = (
        F.lit(2).cast(dec) * F.col("_s1")
        - (F.col("n_docs") + F.lit(1)).cast(dec) * F.col("_s0")
    )
    den = F.col("n_docs").cast(dec) * F.col("_s0")
    return agg.select(
        "source",
        "n_docs",
        guarded_bigint(F.col("_s0"), "length_gini: total_tokens").alias(
            "total_tokens"
        ),
        F.when(den == F.lit(0).cast(dec), F.lit(0.0))
        .otherwise(num.cast("double") / den.cast("double"))
        .alias("gini"),
    )


def guarded_bigint(dec_col: Column, what: str) -> Column:
    """Cast an exact DECIMAL(38,0) aggregate to BIGINT, raising LOUDLY
    if it does not fit — the Spark-side twin of DuckDB's
    HUGEINT->BIGINT cast error. Spark non-ANSI arithmetic WRAPS silently
    on long overflow (and decimal overflow degrades to null), so
    without this gate the two engines diverge instead of failing
    together (ADVICE r10, t33). Null input (decimal-sum overflow) also
    raises — an exact aggregate that lost exactness must never pass.
    """
    fits = dec_col.isNotNull() & (
        dec_col <= F.lit(2**63 - 1).cast("decimal(38,0)")
    ) & (dec_col >= F.lit(-(2**63)).cast("decimal(38,0)"))
    return F.when(
        F.assert_true(
            fits,
            F.lit(
                f"{what} overflows BIGINT — widen the output column to "
                "DECIMAL(38,0) (DuckDB raises on the same cast)"
            ),
        ).isNull(),
        dec_col,
    ).cast("long")
