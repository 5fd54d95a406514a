"""Analytics query library — the reference's aggregation/join surface.

Each function is a declarative DataFrame transform: single groupBy hash
aggregation (map-side partial agg + one shuffle on the group keys), no
Python UDFs, no collect. At 100 TB these are exactly the plans you want
Catalyst to own: partial aggregation shrinks the shuffle to ~|groups|,
AQE coalesces post-shuffle partitions, and dimension joins broadcast.

Reference parity notes are cited per function (file:line into
/root/reference/).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .hints import broadcast_if_small


def session_metrics(
    events: DataFrame,
    session_cols: tuple[str, ...] = ("user_id",),
    ts_col: str = "ts",
    event_type_col: str = "event_type",
    distinct_col: str = "event_type",
) -> DataFrame:
    """A2 — per-session engagement metrics.

    Reference: src/streaming/WEB/services/quicksight/script.sql:1-17
    (min/max event_time, date_diff seconds, COUNT(*), COUNT(DISTINCT page),
    MIN/MAX(event_type) as entry/exit, ORDER BY session_start DESC).

    Quirk preserved: entry/exit event is the *alphabetical* MIN/MAX of
    event_type, not first/last by time (SURVEY §2.5 A2).

    One shuffle on the session key; everything else is map-side. The
    reference SQL's ORDER BY session_start DESC is display-only — a
    global sort is a pure-cost range exchange at scale, so it is NOT
    part of this operator; callers that need ranked output use top_k
    (TakeOrderedAndProject) and oracles keep ORDER BY in SQL.
    """
    ts = F.col(ts_col)
    return events.groupBy(*session_cols).agg(
        F.min(ts).alias("session_start"),
        F.max(ts).alias("session_end"),
        (F.unix_timestamp(F.max(ts)) - F.unix_timestamp(F.min(ts))).alias(
            "duration_sec"
        ),
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct(F.col(distinct_col)).alias("n_distinct"),
        F.min(F.col(event_type_col)).alias("entry_event"),
        F.max(F.col(event_type_col)).alias("exit_event"),
    )


# Engagement weights — reference script.sql:63-71 uses
# Click=2 View=1 Scroll=1 Like=3 Comment=4 ELSE 1; mapped onto the
# testdata event_type domain {click,view,purchase,signup,error}.
ENGAGEMENT_WEIGHTS = {"click": 2, "view": 1, "purchase": 4, "signup": 3}
ENGAGEMENT_DEFAULT = 1


def engagement_weight(event_type_col: str = "event_type") -> Column:
    c = F.col(event_type_col)
    expr = None
    for k, w in ENGAGEMENT_WEIGHTS.items():
        expr = F.when(c == k, w) if expr is None else expr.when(c == k, w)
    return expr.otherwise(F.lit(ENGAGEMENT_DEFAULT))


def engagement_score(
    events: DataFrame,
    session_cols: tuple[str, ...] = ("user_id",),
    event_type_col: str = "event_type",
) -> DataFrame:
    """A3 — weighted CASE-sum engagement score per session.

    Reference: script.sql:59-76 (SUM over CASE event_type weights).
    Display ordering stays in the oracle SQL / top_k, not the plan.
    """
    return events.groupBy(*session_cols).agg(
        F.sum(engagement_weight(event_type_col)).alias("engagement_score")
    )


def sales_kpi(
    lineitem: DataFrame,
    orders: DataFrame,
    part_col: str = "l_partkey",
) -> DataFrame:
    """A1 — sales per product per day, rounded to 2 decimals BEFORE any
    downstream merge (reference transfom_pos.py:127-129: groupBy
    product_id,date -> round(sum(revenue),2) AS total_sales).

    Realized over lineitem⋈orders: revenue = extendedprice*(1-discount),
    day = date(o_orderdate). The join is a plain equi-join on orderkey —
    at scale both sides are big, so this is a shuffle join; Catalyst/AQE
    handle strategy. Aggregation shuffles once on (partkey, day).
    """
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    # Money math in exact integer cents: per-row half-up rounding via
    # floor(x*100+0.5) is bit-deterministic IEEE, and a BIGINT sum is
    # order-independent — unlike round(sum(double),2), which differs
    # across engines/partition orders in the last ulp.
    rev_cents = F.floor(revenue * F.lit(100.0) + F.lit(0.5)).cast("long")
    return (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"], "inner")
        .groupBy(F.col(part_col).alias("product_id"), F.to_date("o_orderdate").alias("sale_date"))
        .agg((F.sum(rev_cents).cast("double") / F.lit(100.0)).alias("total_sales"))
    )


def loyalty_metrics(
    orders: DataFrame,
    key_col: str = "o_custkey",
    flag_col: str = "o_orderstatus",
    measure_col: str = "o_totalprice",
) -> DataFrame:
    """A4 — per-customer loyalty metrics.

    Reference: script.sql:79-91 — SUM(CASE WHEN interaction_type='Loyalty'
    THEN 1 ELSE 0 END), rate = 100.0*loyal/COUNT(*) (guarded COUNT>0),
    AVG(rating). Realized on orders: 'loyalty interaction' := order with
    o_orderstatus = 'F'; rating := o_totalprice.
    """
    is_loyal = F.when(F.col(flag_col) == "F", 1).otherwise(0)
    n = F.count(F.lit(1))
    loyal = F.sum(is_loyal)
    # avg over exact integer cents (order-independent), final scalar
    # double ops are bit-deterministic across engines.
    measure_cents = F.floor(F.col(measure_col) * F.lit(100.0) + F.lit(0.5)).cast("long")
    return (
        orders.groupBy(F.col(key_col).alias("customer_id"))
        .agg(
            loyal.alias("loyalty_interactions"),
            F.count(F.lit(1)).alias("total_interactions"),
            F.when(n > 0, F.lit(100.0) * loyal / n)
            .otherwise(F.lit(0.0))
            .alias("loyalty_rate"),
            (F.sum(measure_cents).cast("double") / (F.lit(100.0) * n)).alias(
                "avg_rating"
            ),
        )
    )


def alert_count(
    events: DataFrame,
    window_start: str,
    window_end: str,
    ts_col: str = "ts",
    value_col: str = "value",
    negative_threshold: float = 100.0,
) -> DataFrame:
    """A5 — conditional count over an hour-aligned window + alert flag.

    Reference: src/streaming/CRM/services/alerting_system/alerting_lambda.py:47-93
    (COUNT(*) WHERE rating<=2 AND ingestion_time in [T-1h, T); alert if
    count >= 10, threshold at :24, compare :119).

    The timestamp filter is a pushable predicate — on a time-partitioned
    table this prunes to one hour of data before any compute.
    """
    ts = F.col(ts_col)
    filtered = events.filter(
        (ts >= F.lit(window_start).cast("timestamp"))
        & (ts < F.lit(window_end).cast("timestamp"))
        & (F.col(value_col) <= F.lit(negative_threshold))
    )
    return filtered.agg(
        F.count(F.lit(1)).alias("negative_count"),
        (F.count(F.lit(1)) >= F.lit(10)).alias("alert"),
    )


def duplicate_keys(df: DataFrame, key_col: str) -> DataFrame:
    """A6 — duplicate-key diagnostic: keys occurring more than once.

    Reference: inventory_transform.py:486-493
    (groupBy(inventory_id).count().filter('count > 1')).
    """
    return (
        df.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


def null_counts(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """A8 — per-column null counts (single-row validation report).

    Reference: inventory_validate.py:238-243 / validate.py:74-78
    (df[col].isnull().sum() per column). One map-side pass, no shuffle
    beyond the final single-row reduce.
    """
    cols = cols or df.columns
    aggs = [
        F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}_nulls")
        for c in cols
    ]
    return df.agg(*aggs)


def loyalty_join(
    sessions: DataFrame,
    customers: DataFrame,
    session_user_col: str = "user_id",
    cust_key_col: str = "c_custkey",
) -> DataFrame:
    """J1 + J2 — session summary LEFT JOIN customer dim on a cast key,
    COALESCE defaults for misses.

    Reference: script.sql:93-103 (LEFT JOIN ON CAST(s.user_id AS int) =
    l.customer_id; COALESCE(l.x, 0)). The reference's trailing ORDER BY
    session_id DESC is display-only and stays in the oracle SQL / top_k
    — not a range exchange in the plan.

    The customer side is a dimension, but its cardinality grows with
    the dataset — so the broadcast hint is SIZE-GATED
    (``broadcast_if_small``): shuffle-free fast path while the dim
    fits, shuffle join (or AQE runtime broadcast) once it doesn't.
    A forced hint here would OOM at the 100 TB design point.
    """
    right = broadcast_if_small(
        customers.select(
            F.col(cust_key_col).alias("_ck"),
            F.col("c_name"),
            F.col("c_acctbal"),
            F.col("c_mktsegment"),
        )
    )
    joined = sessions.join(
        right, sessions[session_user_col].cast("int") == right["_ck"], "left"
    )
    return joined.select(
        *[sessions[c] for c in sessions.columns],
        F.coalesce(F.col("c_name"), F.lit("unknown")).alias("customer_name"),
        F.coalesce(F.col("c_acctbal"), F.lit(0.0)).alias("acctbal"),
        F.coalesce(F.col("c_mktsegment"), F.lit("NONE")).alias("mktsegment"),
    )


def top_k(df: DataFrame, order_col: str, k: int, *tiebreak_cols: str) -> DataFrame:
    """O1 + O2 — global ORDER BY DESC + LIMIT.

    Reference: script.sql:17,48,103 (ORDER BY ... DESC), CRM_README.md:216
    (LIMIT 10). Spark executes this as TakeOrderedAndProject — no global
    sort materialization, per-partition top-k then a k-row merge on the
    driver. Exactly what you want at 100 TB.
    """
    order = [F.col(order_col).desc()] + [F.col(c) for c in tiebreak_cols]
    return df.orderBy(*order).limit(k)


def date_range_summary(
    orders: DataFrame,
    start: str,
    end: str,
    date_col: str = "o_orderdate",
    measure_col: str = "o_totalprice",
) -> DataFrame:
    """P15 — date-range filter + monthly rollup.

    Reference: script.sql:15,46,74,89 (WHERE date(event_time) BETWEEN
    :start AND :end). The to_date comparison compiles to a parquet
    min/max-pushable range predicate.
    """
    d = F.to_date(F.col(date_col))
    cents = F.floor(F.col(measure_col) * F.lit(100.0) + F.lit(0.5)).cast("long")
    return (
        orders.filter((d >= F.lit(start)) & (d <= F.lit(end)))
        .groupBy(F.date_format(date_col, "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents).cast("double") / F.lit(100.0)).alias("total_value"),
        )
        .orderBy("month")
    )


#: Rank-error denominator of the approximate percentiles (error 1/100).
PCT_ERR = 100


def approx_engagement_stats(events: DataFrame, rsd: float = 0.02) -> DataFrame:
    """Sketch-based per-event-type stats: HLL++ distinct users
    (`approx_count_distinct`, relative sd `rsd`) and KLL-style
    approximate value percentiles (`percentile_approx`, rank error
    1/PCT_ERR).

    At 100 TB these replace their exact siblings (A-family
    countDistinct, m10 exact percentiles): exact distinct shuffles
    every (type, user) pair and exact percentiles sort whole groups,
    while the sketches reduce map-side to KB-sized state per partition
    and merge associatively — constant memory, one narrow shuffle, no
    sort. Both sketches are hash-based and deterministic (no RNG), so
    results are stable run to run; accuracy-vs-exact is pinned by
    measured error-bound tests, not an oracle (an approximation can't
    hash-match exact SQL).
    """
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.approx_count_distinct("user_id", rsd).alias("approx_users"),
        F.percentile_approx("value", F.lit(0.5), F.lit(PCT_ERR)).alias("p50_approx"),
        F.percentile_approx("value", F.lit(0.99), F.lit(PCT_ERR)).alias("p99_approx"),
    )


def sketch_accuracy_report(events: DataFrame) -> DataFrame:
    """Driver-checkable accuracy audit of `approx_engagement_stats`:
    recompute the exact stats and emit per-group BOOLEANS asserting the
    sketches landed inside their published error bounds — 5-sigma on
    the HLL++ user count (10% of the exact count), 2x the KLL
    rank-error 1/PCT_ERR on each percentile. Booleans (not the approx values) are
    what the oracle hashes, so an approximation becomes exactly
    verifiable: the DuckDB side computes the same exact counts and
    literal TRUEs, and any out-of-bound sketch breaks the hash.

    The exact recomputation (countDistinct shuffle + a rank-count pass
    against the broadcast sketch row) is the audit's cost, paid in THIS
    query only — production reads `approx_engagement_stats`, whose
    constant-memory merge is the point at 100 TB.
    """
    approx = F.broadcast(approx_engagement_stats(events))
    eps = 2.0 / PCT_ERR  # 2x slack over the sketch's nominal rank error
    joined = events.join(approx, "event_type")
    agg = joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users_exact"),
        F.max("approx_users").alias("au"),
        F.count("value").alias("n_val"),
        F.sum(F.when(F.col("value") < F.col("p50_approx"), 1).otherwise(0)).alias("lt50"),
        F.sum(F.when(F.col("value") <= F.col("p50_approx"), 1).otherwise(0)).alias("le50"),
        F.sum(F.when(F.col("value") < F.col("p99_approx"), 1).otherwise(0)).alias("lt99"),
        F.sum(F.when(F.col("value") <= F.col("p99_approx"), 1).otherwise(0)).alias("le99"),
    )

    def _rank_ok(lt: str, le: str, q: float):
        lo = (F.lit(q) - F.lit(eps)) * F.col("n_val")
        hi = (F.lit(q) + F.lit(eps)) * F.col("n_val")
        cond = (F.col(lt) + F.lit(1) <= hi + F.lit(1.0)) & (F.col(le) >= lo - F.lit(1.0))
        return F.when(F.col("n_val") == 0, F.lit(True)).otherwise(cond)

    return agg.select(
        "event_type",
        "n_events",
        "n_users_exact",
        (
            F.abs(F.col("au") - F.col("n_users_exact"))
            <= F.lit(0.10) * F.col("n_users_exact")
        ).alias("users_within_bound"),
        _rank_ok("lt50", "le50", 0.5).alias("p50_rank_ok"),
        _rank_ok("lt99", "le99", 0.99).alias("p99_rank_ok"),
    )


# --- ordered-funnel analysis -----------------------------------------------

FUNNEL_STEPS = ("view", "click", "purchase")


def funnel(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Strict-order funnel conversion over FUNNEL_STEPS: per user, step
    i counts only if an event of steps[i] occurs AFTER the first
    completion of steps[i-1] (first-touch semantics, (ts, event_id)
    total order).
    Output: one row per step with the user count that reached it — the
    classic product-analytics conversion query.

    Scale shape: ONE shuffle. Events are filtered to funnel types,
    grouped per user into a time-sorted (ts, event_id, type) array,
    and a codegen fold walks it carrying one timestamp per step —
    per-user state is O(len(steps)), per-task memory is bounded by a
    user's own funnel events. The window/self-join formulation (which
    the DuckDB oracle deliberately uses as an INDEPENDENT mirror)
    would shuffle per-step candidate sets instead.
    """
    steps = FUNNEL_STEPS
    ev = events.filter(F.col(type_col).isin(*steps)).select(
        F.col(user_col).alias("user_id"),
        F.col(ts_col).alias("ts"),
        F.col("event_id").alias("tb"),
        F.col(type_col).alias("et"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("ts", "tb", "et"))).alias("seq")
    )
    init = F.struct(
        *[F.lit(None).cast("timestamp").alias(f"s{i}") for i in range(len(steps))]
    )

    def fold(acc, e):
        fields = []
        for i, name in enumerate(steps):
            gate = acc[f"s{i}"].isNull() & (e["et"] == name)
            if i > 0:
                gate = gate & acc[f"s{i-1}"].isNotNull()
            fields.append(
                F.when(gate, e["ts"]).otherwise(acc[f"s{i}"]).alias(f"s{i}")
            )
        return F.struct(*fields)

    state = per_user.select(
        "user_id", F.aggregate("seq", init, fold).alias("st")
    )
    counts = state.agg(
        *[
            F.sum(F.when(F.col(f"st.s{i}").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"n{i}")
            for i in range(len(steps))
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("step"),
                F.lit(name).alias("step_name"),
                F.col(f"n{i}").alias("n_users"),
            )
            for i, name in enumerate(steps)
        ]
    )
    return counts.select(F.explode(rows).alias("r")).select(
        "r.step", "r.step_name", "r.n_users"
    )


def cohort_retention(
    events: DataFrame, user_col: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """Weekly cohort retention matrix: users are cohorted by the ISO
    week (Monday-truncated) of their FIRST event; each (cohort_week,
    week_offset) cell counts the cohort's users active in that week —
    the standard retention triangle.

    Determinism: week truncation and the day-difference `div 7` are
    integer-exact and share the Monday convention with DuckDB's
    date_trunc, so the oracle matches bit-for-bit. Scale: activity
    dedups to (user, week) FIRST (the big reduction — raw events never
    reach the join), then a per-user min, a user-keyed join, and a
    final small groupBy onto cohort x offset cells.
    """
    wk = F.date_trunc("week", F.col(ts_col)).cast("date")
    activity = events.select(
        F.col(user_col).alias("user_id"), wk.alias("week")
    ).distinct()
    first = activity.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        activity.join(first, "user_id")
        .groupBy(
            "cohort_week",
            F.expr("datediff(week, cohort_week) div 7").cast("long").alias(
                "week_offset"
            ),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


def item_cooccurrence(
    lineitem: DataFrame,
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    max_basket: int = 50,
) -> DataFrame:
    """Market-basket pair mining: the 20 item pairs most often
    bought in the same order.

    Scale shape: distinct (order, item) first (shrinks multi-line
    orders), baskets larger than ``max_basket`` are EXCLUDED before
    pairing — the self-join within an order is O(basket²), and one
    degenerate 10⁵-item basket would otherwise emit 10¹⁰ pairs; the
    cap makes that cost bound explicit and deterministic (mirrored by
    the oracle). The pair join is an equi-join on the order key, the
    pair count is one map-side-combined shuffle, and the final cut is
    TakeOrderedAndProject.
    """
    oi = lineitem.select(
        F.col(order_col).alias("okey"), F.col(item_col).alias("item")
    ).distinct()
    sizes = oi.groupBy("okey").agg(F.count(F.lit(1)).alias("bsize"))
    bounded = oi.join(
        sizes.filter(F.col("bsize") <= max_basket).select("okey"),
        "okey",
        "left_semi",
    )
    a = bounded.select("okey", F.col("item").alias("item_a"))
    b = bounded.select("okey", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "okey")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    cut = pairs.orderBy(
        F.col("n_orders").desc(), F.col("item_a").asc(), F.col("item_b").asc()
    ).limit(20)
    w = Window.orderBy(
        F.col("n_orders").desc(), F.col("item_a").asc(), F.col("item_b").asc()
    )
    return cut.withColumn("rank", F.row_number().over(w).cast("long"))


def last_touch_attribution(events: DataFrame) -> DataFrame:
    """Last-touch marketing attribution: each 'purchase' conversion is
    credited to the user's most recent 'click' or 'view' touch at or
    before the conversion; touches older than one day — or absent
    entirely — fall
    to the 'direct' channel. Emits per-channel conversion counts and
    exact-cents attributed revenue.

    Built on `asof.asof_join` (union + one per-user window — no
    inequality join blowup): the corpus-sized work is ONE shuffle on
    user_id shared by the sort and the forward fill, plus one
    conversion-key left join to re-admit unmatched conversions, plus
    the map-side-combined channel rollup. Ties at the same touch
    timestamp resolve to the greatest event_id on both engines, so
    attribution is deterministic.
    """
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.asof import (
        asof_join,
    )

    conv = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("buy_id"),
        "user_id",
        F.col("ts").alias("buy_ts"),
        "value",
    )
    # NULL-user touches are excluded so a NULL-user conversion can
    # never be attributed: the as-of union-window would otherwise group
    # NULL keys into ONE window partition and forward-fill across them
    # (SQL join equality never matches NULL — this filter makes the
    # window formulation agree with that semantics by construction).
    touch = events.filter(
        F.col("event_type").isin("click", "view") & F.col("user_id").isNotNull()
    ).select("user_id", "ts", "event_type", "event_id")
    matched = asof_join(
        conv,
        touch,
        left_key="user_id",
        right_key="user_id",
        left_ts="buy_ts",
        right_ts="ts",
        payload_cols=("event_type", "ts"),
        right_tiebreak="event_id",
    ).select(
        "buy_id",
        F.col("event_type").alias("touch_channel"),
        F.col("ts").alias("touch_ts"),
    )
    att = conv.join(matched, "buy_id", "left").select(
        "buy_id",
        "value",
        F.when(
            F.col("touch_ts")
            >= F.col("buy_ts") - F.expr("INTERVAL 1 DAY"),
            F.col("touch_channel"),
        )
        .otherwise(F.lit("direct"))
        .alias("channel"),
    )
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    return att.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_conversions"),
        (F.sum(cents).cast("double") / F.lit(100.0)).alias("attributed_revenue"),
    )
