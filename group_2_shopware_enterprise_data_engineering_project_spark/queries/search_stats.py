"""Search, distribution-statistics, range-join, and rollup-cascade
queries with DuckDB oracles.

Float discipline (see `operators/stats.py` module docstring): every
oracle evaluates the SAME IEEE-754 expression tree over the SAME
exact integer sums as the Spark plan, and float literals that are
*computed* in Python (e.g. k1+1) are interpolated into the SQL via
``repr`` so both engines parse the identical double — ``1.2 + 1.0``
in binary is NOT the double that the literal ``2.2`` parses to.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from group_2_shopware_enterprise_data_engineering_project_spark.operators import (
    rangejoin,
    rollup,
    search,
    stats,
)
from group_2_shopware_enterprise_data_engineering_project_spark.operators.hints import (
    broadcast_if_small,
)
from group_2_shopware_enterprise_data_engineering_project_spark.registry import register
from group_2_shopware_enterprise_data_engineering_project_spark.sources import table


# --- J4: interval join without an equi-key (binned) ---------------------

J4_ORACLE = """
SELECT o_orderkey,
       o_orderdate AS window_start,
       CAST(count(*) AS BIGINT) AS n_shipped,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
FROM orders JOIN lineitem
  ON o_orderdate <= l_shipdate AND l_shipdate < o_orderdate + INTERVAL 7 DAY
WHERE o_orderpriority = '1-URGENT'
GROUP BY 1, 2
ORDER BY o_orderkey
"""


@register(
    "j4_range_join",
    J4_ORACLE,
    doc="interval join with NO equi-key (urgent-order 7-day windows x "
    "lineitem ship events) via time-bin explode + hash join — the "
    "nested-loop-free plan; bin = window length so replication <= 2x",
)
def j4_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = table(spark, sf_dir, "lineitem").select("l_shipdate", "l_quantity")
    intervals = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(
            "o_orderkey",
            F.col("o_orderdate").alias("window_start"),
            (F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS")).alias("window_end"),
        )
    )
    # Aggregate BEFORE the interval join (guide §2.3): every lineitem
    # ship date lies inside ~dozens of overlapping 7-day windows, so
    # joining raw rows fans each one out that many times (~50M pairs
    # at sf0.1). count/sum are additive over the day partition, so
    # pre-reducing the point side to one (day, n, qty) row per ship
    # date — date-cardinality, not corpus-cardinality — then summing
    # the partials per window is algebraically identical (exceptAll 0
    # both directions; measured 10-13 s -> 1.1-1.6 s warm).
    daily = lineitem.groupBy("l_shipdate").agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum(F.col("l_quantity").cast("long")).alias("_q"),
    )
    joined = rangejoin.interval_join_binned(
        daily,
        intervals,
        point_ts="l_shipdate",
        start_col="window_start",
        end_col="window_end",
        bin_seconds=7 * 86400,
    )
    return joined.groupBy("o_orderkey", "window_start").agg(
        F.sum("_n").alias("n_shipped"),
        F.sum("_q").alias("qty_sum"),
    )


# --- A15: key-skew / heavy-hitter profile -------------------------------

A15_ORACLE = """
WITH counts AS (
  SELECT user_id AS key_value, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1
), tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n_keys
  FROM counts
)
SELECT CAST(row_number() OVER (ORDER BY cnt DESC, key_value) AS BIGINT) AS rank,
       key_value, cnt,
       CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share,
       CAST(cnt AS DOUBLE) * CAST(n_keys AS DOUBLE) / CAST(total AS DOUBLE)
           AS ratio_to_avg
FROM counts, tot
QUALIFY rank <= 20
ORDER BY rank
"""


@register(
    "a15_key_skew_profile",
    A15_ORACLE,
    doc="heavy-hitter/skew profile of a prospective shuffle key "
    "(events.user_id): top-20 keys with table share and ratio to the "
    "per-key mean; the only shuffle carries (key,count) pairs",
)
def a15_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.key_skew_profile(table(spark, sf_dir, "events"), "user_id", top_n=20)


# --- A16: per-group OLS trend (exact integer sufficient statistics) -----

_CENTS = "CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)"
_QTY = "CAST(l_quantity AS BIGINT)"

A16_ORACLE = f"""
WITH s AS (
  SELECT p_brand AS group_key,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum({_QTY}) AS BIGINT) AS sx,
         CAST(sum({_CENTS}) AS BIGINT) AS sy,
         CAST(sum({_QTY} * {_CENTS}) AS BIGINT) AS sxy,
         CAST(sum({_QTY} * {_QTY}) AS BIGINT) AS sxx,
         CAST(sum({_CENTS} * {_CENTS}) AS BIGINT) AS syy
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1
), d AS (
  SELECT group_key, n,
         CAST(n AS DOUBLE) AS n_d, CAST(sx AS DOUBLE) AS sx_d,
         CAST(sy AS DOUBLE) AS sy_d,
         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov_n,
         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS var_x,
         CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS var_y
  FROM s
)
SELECT group_key, n,
       cov_n / var_x AS slope,
       (sy_d - (cov_n / var_x) * sx_d) / n_d AS intercept,
       (cov_n * cov_n) / (var_x * var_y) AS r2
FROM d
ORDER BY group_key
"""


@register(
    "a16_regression_trends",
    A16_ORACLE,
    doc="per-brand OLS price-vs-quantity fit from exact BIGINT "
    "sufficient sums (n, Σx, Σy, Σxy, Σxx, Σyy) — NOT the builtin "
    "regr_* aggregates, whose double accumulation is partition-order-"
    "dependent and irreproducible across engines",
)
def a16_regression_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    joined = lineitem.join(
        broadcast_if_small(part), lineitem["l_partkey"] == part["p_partkey"]
    )
    cents = F.floor(
        F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5)
    ).cast("long")
    return stats.group_ols(
        joined, "p_brand", x_int=F.col("l_quantity"), y_int=cents
    )


# --- A17: winsorized per-group summary ----------------------------------

A17_ORACLE = f"""
WITH rl AS (
  SELECT l_returnflag AS group_key, {_CENTS} AS val,
         CAST(count(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2
), r2 AS (
  SELECT *,
         sum(c) OVER (PARTITION BY group_key ORDER BY val
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(c) OVER (PARTITION BY group_key) AS n
  FROM rl
), r3 AS (
  SELECT *,
         CAST(ceil(0.05 * CAST(n AS DOUBLE)) AS BIGINT) AS k_lo,
         CAST(ceil(0.95 * CAST(n AS DOUBLE)) AS BIGINT) AS k_hi
  FROM r2
), th AS (
  SELECT group_key,
         min(CASE WHEN cum - c < k_lo AND k_lo <= cum THEN val END) AS lo,
         min(CASE WHEN cum - c < k_hi AND k_hi <= cum THEN val END) AS hi
  FROM r3 GROUP BY 1
)
SELECT rl.group_key,
       CAST(sum(c) AS BIGINT) AS n,
       CAST(min(lo) AS BIGINT) AS lo_value,
       CAST(min(hi) AS BIGINT) AS hi_value,
       CAST(sum(greatest(lo, least(hi, val)) * c) AS BIGINT) AS winsorized_sum,
       CAST(sum(CASE WHEN val < lo THEN c ELSE 0 END) AS BIGINT) AS n_clamped_lo,
       CAST(sum(CASE WHEN val > hi THEN c ELSE 0 END) AS BIGINT) AS n_clamped_hi
FROM rl JOIN th USING (group_key)
GROUP BY 1
ORDER BY group_key
"""


@register(
    "a17_winsorize",
    A17_ORACLE,
    doc="per-returnflag winsorized revenue sum clamped at discrete "
    "p05/p95 (k-th-smallest actual value, not interpolated — "
    "interpolation formulas differ across engines in the last ulp); "
    "ranks run over run-length (group,value,count) pairs, values in "
    "exact cents",
)
def a17_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = table(spark, sf_dir, "lineitem")
    cents = F.floor(
        F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5)
    ).cast("long")
    return stats.winsorized_summary(
        lineitem, "l_returnflag", value_int=cents, q_lo=0.05, q_hi=0.95
    )


# --- K14: multi-resolution rollup cascade -------------------------------

def _k14_level(res: int) -> str:
    return f"""
SELECT CAST({res} AS BIGINT) AS resolution_sec,
       make_timestamp(CAST(floor(epoch(ts) / {res}) AS BIGINT) * {res} * 1000000)
           AS bucket_start,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
           AS total_value
FROM events GROUP BY 2"""


K14_ORACLE = (
    _k14_level(60)
    + "\nUNION ALL"
    + _k14_level(3600)
    + "\nUNION ALL"
    + _k14_level(86400)
    + "\nORDER BY resolution_sec, bucket_start"
)


@register(
    "k14_rollup_cascade",
    K14_ORACLE,
    doc="hypertable-style cascading rollup minute->hour->day: raw "
    "events scanned ONCE, each coarser level re-aggregated from the "
    "previous level; the oracle recomputes every level directly from "
    "raw events, so a hash match proves cascade == direct bit-for-bit "
    "(exact-cents measures are associative)",
)
def k14_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rollup.rollup_cascade(table(spark, sf_dir, "events"))


# --- T11: BM25 top-k keyword scoring ------------------------------------

_BM25_TERMS = ("customer", "hash", "batch")
_K1 = 1.2
_B = 0.75
_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"

T11_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents
), dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1
), nd AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
), ad AS (
  SELECT CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE term IN {_BM25_TERMS!r} GROUP BY 1, 2
), dfq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
), scored AS (
  SELECT doc_id,
         CAST(floor(
           ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
              / (CAST(df AS DOUBLE) + 0.5))
           * ((CAST(tf AS DOUBLE) * {_K1 + 1.0!r})
              / (CAST(tf AS DOUBLE)
                 + {_K1!r} * ({1.0 - _B!r}
                              + {_B!r} * CAST(dl AS DOUBLE) / avgdl)))
           * 1000000.0 + 0.5) AS BIGINT) AS micro
  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id), nd, ad
), ds AS (
  SELECT doc_id, CAST(sum(micro) AS BIGINT) AS score_micro,
         CAST(count(*) AS BIGINT) AS n_terms_matched
  FROM scored GROUP BY 1
)
SELECT CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS BIGINT)
           AS rank,
       doc_id,
       CAST(score_micro AS DOUBLE) / 1000000.0 AS score,
       n_terms_matched
FROM ds
QUALIFY rank <= 10
ORDER BY rank
"""


@register(
    "t11_bm25_topk",
    T11_ORACLE,
    doc="BM25 top-10 docs for a 3-term query; rational IDF "
    "(N-df+0.5)/(df+0.5) instead of ln (cross-engine ulp — see "
    "tfidf_top_terms), per-doc total summed in BIGINT micro-units so "
    "it is term-order-independent; computed float literals "
    "interpolated via repr so both engines parse identical doubles",
)
def t11_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return search.bm25_topk(
        table(spark, sf_dir, "documents"),
        query_terms=_BM25_TERMS,
        k=10,
        k1=_K1,
        b=_B,
    )


# --- T12: bounded inverted index ----------------------------------------

T12_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents
), pd AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY 1, 2
)
SELECT term,
       CAST(count(*) AS BIGINT) AS df,
       CAST(sum(tf) AS BIGINT) AS tf_total,
       array_to_string(list_slice(list_sort(list(doc_id)), 1, 20), ',')
           AS postings
FROM pd
GROUP BY term
ORDER BY term
"""


@register(
    "t12_inverted_index",
    T12_ORACLE,
    doc="term -> (df, total tf, first-20 posting list) inverted index; "
    "postings capped BEFORE collect_list via a rank window so per-term "
    "state is O(cap) even for every-doc stopwords",
)
def t12_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return search.inverted_index(table(spark, sf_dir, "documents"), posting_cap=20)


# --- A18: per-group z-score anomaly detection ---------------------------

A18_ORACLE = """
WITH s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sx,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                  * CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sxx
  FROM events GROUP BY 1
), d AS (
  SELECT event_type,
         CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_cents,
         sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS std_cents
  FROM s
)
SELECT e.event_id, e.event_type, e.value,
       (CAST(floor(e.value * 100.0 + 0.5) AS BIGINT) - d.mean_cents)
           / d.std_cents AS z
FROM events e JOIN d USING (event_type)
WHERE abs((CAST(floor(e.value * 100.0 + 0.5) AS BIGINT) - d.mean_cents)
          / d.std_cents) > 2.5
ORDER BY e.event_id
"""


@register(
    "a18_anomaly_zscore",
    A18_ORACLE,
    doc="per-event-type z-score outliers (|z| > 2.5): moments from "
    "exact BIGINT cent sums, std via sqrt (exactly rounded per "
    "IEEE-754, so cross-engine deterministic — unlike ln/exp); the "
    "5-row moment table broadcasts back, the event stream never "
    "reshuffles",
)
def a18_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    s = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cents).alias("sx"),
        F.sum(cents * cents).alias("sxx"),
    )
    nd, sxd, sxxd = (F.col(c).cast("double") for c in ("n", "sx", "sxx"))
    d = s.select(
        "event_type",
        (sxd / nd).alias("mean_cents"),
        F.sqrt((nd * sxxd - sxd * sxd) / (nd * nd)).alias("std_cents"),
    )
    z = (cents - F.col("mean_cents")) / F.col("std_cents")
    return (
        events.join(F.broadcast(d), "event_type")
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > F.lit(2.5))
        .select("event_id", "event_type", "value", "z")
    )


# --- A19: TPC-H Q5-shape multi-way star join ----------------------------

A19_ORACLE = """
SELECT n_name,
       CAST(year(o_orderdate) AS BIGINT) AS order_year,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100.0 + 0.5)
                AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND s_nationkey = c_nationkey
GROUP BY 1, 2
ORDER BY n_name, order_year
"""


@register(
    "a19_regional_revenue",
    A19_ORACLE,
    doc="TPC-H Q5-shape 6-table join (local-supplier revenue by nation "
    "and year, region-filtered): big-big joins shuffle on their keys, "
    "bounded nation/region dims broadcast with the region filter "
    "applied BEFORE the broadcast so pruning cascades through the "
    "join; the sf-proportional supplier dim is size-gated "
    "(broadcast_if_small) instead of hint-forced; revenue in exact "
    "cents",
)
def a19_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    supplier = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dims = nation.join(
        F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"]
    ).select("n_nationkey", "n_name")
    rev_cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0)
        + F.lit(0.5)
    ).cast("long")
    return (
        customer.join(orders, customer["c_custkey"] == orders["o_custkey"])
        .join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .join(
            broadcast_if_small(supplier),
            lineitem["l_suppkey"] == supplier["s_suppkey"],
        )
        .filter(F.col("s_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(dims), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.year("o_orderdate").cast("long").alias("order_year"))
        .agg((F.sum(rev_cents).cast("double") / F.lit(100.0)).alias("revenue"))
    )


# --- A23: share-of-total (ratio-to-report) ------------------------------

A23_ORACLE = """
WITH g AS (
  SELECT o_orderpriority,
         CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents
  FROM orders GROUP BY 1
), t AS (
  SELECT CAST(sum(cents) AS BIGINT) AS total FROM g
)
SELECT o_orderpriority,
       CAST(cents AS DOUBLE) / CAST(100.0 AS DOUBLE) AS revenue,
       CAST(cents AS DOUBLE) / CAST(total AS DOUBLE) AS share
FROM g, t
ORDER BY o_orderpriority
"""


@register(
    "a23_share_of_total",
    A23_ORACLE,
    doc="ratio-to-report: per-priority revenue share of the grand "
    "total — one map-side-combined group agg, the 1-row total "
    "broadcast back (NOT a global window over the detail rows); exact "
    "cents, single IEEE division",
)
def a23_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast("long")
    g = orders.groupBy("o_orderpriority").agg(F.sum(cents).alias("cents"))
    t = g.agg(F.sum("cents").alias("total"))
    return g.join(F.broadcast(t)).select(
        "o_orderpriority",
        (F.col("cents").cast("double") / F.lit(100.0)).alias("revenue"),
        (F.col("cents").cast("double") / F.col("total").cast("double")).alias(
            "share"
        ),
    )


# --- J5: hybrid skew-aware fact-to-fact equi-join ------------------------

from group_2_shopware_enterprise_data_engineering_project_spark.operators import (  # noqa: E402
    skewjoin,
)

J5_ORACLE = """
SELECT e.event_id, e.user_id, o.o_orderkey
FROM events e JOIN orders o ON e.user_id = o.o_custkey
"""


@register(
    "j5_skew_join",
    J5_ORACLE,
    doc="hybrid skew-aware equi-join (events x orders on user): hot "
    "keys detected by a map-side-combined count and salted across "
    "tasks with the right side replicated per salt, cold keys join "
    "plain — per-task row bound is STRUCTURAL, unlike AQE skew-join "
    "which only re-splits sort-merge partitions and cannot replicate "
    "a hash-join build side; oracle is the PLAIN join (losslessness "
    "is the contract). hot_threshold=50 so both paths are exercised "
    "at sf0.01",
)
def j5_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events").select("event_id", "user_id")
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderkey"
    )
    return skewjoin.skew_join(
        events,
        orders,
        on="user_id",
        salt=4,
        hot_threshold=50,
        left_id="event_id",
    )


# --- M27: count-min sketch with an EXACT oracle --------------------------

_CMS_D, _CMS_W = 4, 256


def cms_oracle(d: int, w: int) -> str:
    """The count-min estimate recurrence as DuckDB SQL — ONE builder
    shared by m27 (batch) and st13 (streamed; increments commute so
    the final counter table is byte-identical), so a fix to the sketch
    algebra cannot silently apply to only one of them."""
    return f"""
WITH e AS (
  SELECT CAST(user_id AS VARCHAR) AS k, user_id FROM events
), hashed AS (
  SELECT user_id, i,
         ('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || k), 1, 6))::BIGINT
             % {w} AS bucket
  FROM e CROSS JOIN (SELECT unnest(range({d})) AS i)
), counters AS (
  SELECT i, bucket, CAST(count(*) AS BIGINT) AS c
  FROM hashed GROUP BY 1, 2
), exact AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n FROM e GROUP BY 1
), key_buckets AS (
  SELECT DISTINCT user_id, i, bucket FROM hashed
), est AS (
  SELECT user_id, CAST(min(c) AS BIGINT) AS cms_est
  FROM key_buckets JOIN counters USING (i, bucket)
  GROUP BY 1
)
SELECT user_id, exact_n, cms_est FROM exact JOIN est USING (user_id)
"""


M27_ORACLE = cms_oracle(_CMS_D, _CMS_W)


@register(
    "m27_count_min",
    M27_ORACLE,
    doc=f"count-min sketch (d={_CMS_D}, w={_CMS_W}) over event user "
    "traffic with an EXACT value-hash oracle: the sketch algebra is "
    "deterministic integer math over md5-derived buckets, so DuckDB "
    "recomputes the identical estimate — no bounds-audit indirection. "
    "The counter table (d x w rows, mergeable, fixed memory) is the "
    "100 TB artifact; exact counts ride along for verification",
)
def m27_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.count_min(
        table(spark, sf_dir, "events").select("user_id"),
        "user_id",
        depth=_CMS_D,
        width=_CMS_W,
    )


# --- M28: HyperLogLog distinct sketch with an EXACT oracle ---------------

# CONST = alpha_64 * 64^2 * 2^49 interpolated via repr so both engines
# parse the identical double (module float-literal discipline).
M28_ORACLE = """
WITH v AS (
  SELECT event_type, CAST(user_id AS VARCHAR) AS val FROM events
), h AS (
  SELECT event_type,
         ('0x' || substring(md5(val), 1, 4))::BIGINT % 64 AS b,
         49 - length(bin(('0x' || substring(md5(val), 5, 12))::BIGINT)) AS rho,
         val
  FROM v
), regs AS (
  SELECT event_type, b, max(rho) AS r FROM h GROUP BY 1, 2
), rolled AS (
  SELECT event_type,
         CAST(sum((1::BIGINT << CAST(49 - r AS INT))) AS BIGINT) AS s_exact,
         CAST(count(*) AS BIGINT) AS n_regs
  FROM regs GROUP BY 1
), exact AS (
  SELECT event_type, CAST(count(DISTINCT val) AS BIGINT) AS exact_distinct
  FROM v GROUP BY 1
)
SELECT e.event_type, e.exact_distinct,
       CAST(64 - r.n_regs AS BIGINT) AS n_zero_registers,
       1.6356288818656343e+18 / CAST(r.s_exact + (64 - r.n_regs) * (1::BIGINT << 49)
                        AS DOUBLE) AS hll_raw_est
FROM exact e JOIN rolled r USING (event_type)
"""


@register(
    "m28_hll_distinct",
    M28_ORACLE,
    doc="per-group HyperLogLog distinct sketch (m=64 registers, "
    "md5-sliced bucket/rank) with an EXACT value-hash oracle: "
    "registers max-merge (commutative, partitioning-invariant) and "
    "the harmonic sum is the exact integer sum of 2^(49-rho), so the "
    "only float op is one division both engines round identically. "
    "Register table is the mergeable fixed-memory artifact; linear-"
    "counting correction left to the caller (ln is libm-divergent), "
    "its inputs emitted",
)
def m28_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.hll_distinct(
        table(spark, sf_dir, "events").select("event_type", "user_id"),
        "event_type",
        "user_id",
    )


# --- M56: HLL register MERGE across shards (the 100 TB sketch path) -------

M56_ORACLE = """
WITH v AS (
  SELECT event_type,
         event_type || '|' || CAST(CAST(ts AS DATE) AS VARCHAR) AS g,
         CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CAST(user_id AS VARCHAR) AS val
  FROM events
), h AS (
  SELECT event_type, g,
         ('0x' || substring(md5(val), 1, 4))::BIGINT % 64 AS b,
         49 - length(bin(('0x' || substring(md5(val), 5, 12))::BIGINT)) AS rho
  FROM v
), day_regs AS (
  SELECT event_type, g, b, max(rho) AS r FROM h GROUP BY 1, 2, 3
), merged AS (
  SELECT event_type, b, max(r) AS r FROM day_regs GROUP BY 1, 2
), rolled AS (
  SELECT event_type,
         CAST(sum((1::BIGINT << CAST(49 - r AS INT))) AS BIGINT) AS s_exact,
         CAST(count(*) AS BIGINT) AS n_regs
  FROM merged GROUP BY 1
), exact AS (
  SELECT event_type,
         CAST(count(DISTINCT day) AS BIGINT) AS n_days,
         CAST(count(DISTINCT val) AS BIGINT) AS exact_distinct
  FROM v GROUP BY 1
)
SELECT e.event_type, e.n_days, e.exact_distinct,
       CAST(64 - r.n_regs AS BIGINT) AS n_zero_registers,
       1.6356288818656343e+18
           / CAST(r.s_exact + (64 - r.n_regs) * (1::BIGINT << 49) AS DOUBLE)
           AS hll_raw_est
FROM exact e JOIN rolled r USING (event_type)
"""


@register(
    "m56_hll_merge_rollup",
    M56_ORACLE,
    doc="HLL register MERGE across shards with an EXACT oracle — the "
    "property that makes the sketch the 100 TB artifact, verified as "
    "a query rather than assumed: per-(event_type, day) register "
    "tables (what each daily ingest shard would persist) max-merge "
    "into per-event_type registers, and the merged estimate is "
    "IDENTICAL to sketching the union directly (max is commutative/"
    "associative/idempotent). Both engines recompute the same integer "
    "register algebra; exact_distinct rides along as the verification "
    "branch. Shuffles carry register rows only (<= 64 per group-day)",
)
def m56_hll_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").cast("string").alias("day"),
        "user_id",
    )
    sharded = ev.withColumn(
        "gday", F.concat(F.col("event_type"), F.lit("|"), F.col("day"))
    )
    # stage 1: the per-shard (per-day) register tables — the artifact a
    # daily pipeline would persist instead of raw ids
    day_regs = stats.hll_registers(sharded, "gday", "user_id")
    # stage 2: cross-shard max-merge into per-event_type registers, then
    # the shared estimate rollup
    merged = stats.hll_merge(
        day_regs.select(F.substring_index(F.col("g"), "|", 1).alias("g"), "b", "r")
    )
    est = stats.hll_estimate(merged)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("day").cast("long").alias("n_days"),
        F.countDistinct("user_id").cast("long").alias("exact_distinct"),
    )
    return exact.join(est, exact.event_type == est.g).select(
        "event_type", "n_days", "exact_distinct",
        "n_zero_registers", "hll_raw_est",
    )


# --- M31: mergeable histogram quantile sketch (EXACT oracle) --------------

_H_LO, _H_HI, _H_BINS = 0, 16_000_000, 64
_H_W = (_H_HI - _H_LO) // _H_BINS

M31_ORACLE = f"""
WITH v AS (
  SELECT l_returnflag AS g,
         CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS val
  FROM lineitem
), binned AS (
  SELECT g,
         least({_H_BINS - 1},
               greatest(0, ((val - {_H_LO}) * {_H_BINS}) // {_H_HI - _H_LO}))
             AS b
  FROM v
), hist AS (
  SELECT g, b, CAST(count(*) AS BIGINT) AS c FROM binned GROUP BY 1, 2
), cum AS (
  SELECT g, b, c,
         CAST(sum(c) OVER (PARTITION BY g ORDER BY b
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum,
         CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n
  FROM hist
)
SELECT g AS l_returnflag,
       CAST(max(n) AS BIGINT) AS n,
       CAST({_H_LO} + (min(CASE WHEN cum * 100 >= n * 50 THEN b END) + 1)
            * {_H_W} AS BIGINT) AS q50_upper_cents,
       CAST({_H_LO} + (min(CASE WHEN cum * 100 >= n * 95 THEN b END) + 1)
            * {_H_W} AS BIGINT) AS q95_upper_cents
FROM cum GROUP BY 1
"""


@register(
    "m31_histogram_quantiles",
    M31_ORACLE,
    doc=f"mergeable histogram quantile sketch (completing the sketch "
    f"triad: m27 frequency, m28 cardinality, this distribution): "
    f"{_H_BINS} equi-width BIGINT bins over a fixed cents domain — "
    "bin counts ADD across corpora (unlike t-digest/KLL, whose "
    "compactions are order-dependent and engine-irreproducible) and "
    "the q50/q95 upper-boundary estimates are pure integer "
    "comparisons, so the oracle is EXACT. Quantile windows run over "
    "<= bins rows per group, never the data",
)
def m31_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
    hist = stats.histogram_bins(
        lineitem, "l_returnflag", cents, _H_LO, _H_HI, _H_BINS
    )
    return stats.histogram_quantiles(hist, _H_LO, _H_HI, _H_BINS).select(
        F.col("g").alias("l_returnflag"), "n", "q50_upper_cents", "q95_upper_cents"
    )


# --- M32: equi-depth bucketizer (per-group quantile discretization) -------

_M32_B = 8

M32_ORACLE = f"""
WITH rl AS (
  SELECT l_returnflag AS g,
         CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS val,
         CAST(count(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2
), ranked AS (
  SELECT g, val, c,
         CAST(sum(c) OVER (PARTITION BY g ORDER BY val
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum,
         CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n
  FROM rl
), bounds AS (
  SELECT g,
         {", ".join(
             f"min(CASE WHEN cum - c < (({j} * n + {_M32_B - 1}) // {_M32_B}) "
             f"AND (({j} * n + {_M32_B - 1}) // {_M32_B}) <= cum "
             f"THEN val END) AS b{j}"
             for j in range(1, _M32_B)
         )}
  FROM ranked GROUP BY g
), assigned AS (
  SELECT rl.g, rl.val, rl.c,
         {" + ".join(f"CAST(rl.val > b.b{j} AS BIGINT)" for j in range(1, _M32_B))}
             AS bucket
  FROM rl JOIN bounds b ON rl.g = b.g
)
SELECT g AS l_returnflag, bucket,
       CAST(sum(c) AS BIGINT) AS n_rows,
       min(val) AS lo, max(val) AS hi
FROM assigned GROUP BY 1, 2
ORDER BY 1, 2
"""


@register(
    "m32_equidepth_bucketize",
    M32_ORACLE,
    doc=f"per-group equi-depth discretizer ({_M32_B} buckets): "
    "boundaries are the group's OWN type-1 discrete quantiles "
    "(k = ceil(j*n/B), all-integer — interpolated quantiles are "
    "engine-divergent and unhashable), a value's bucket = boundaries "
    "strictly below it. The ML-prep complement of m31's fixed-domain "
    "bins: data-adaptive ranges, near-equal depths. Ranks run over "
    "run-length (group, value, count) pairs, never raw rows; the "
    "B-1-column boundary table broadcasts into assignment",
)
def m32_equidepth_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
    return stats.equidepth_bucketize(
        lineitem, "l_returnflag", cents, _M32_B
    ).select(F.col("g").alias("l_returnflag"), "bucket", "n_rows", "lo", "hi")


# --- t21: reciprocal-rank fusion (hybrid keyword + vector retrieval) -------

_RRF_TOPK = 20
_NORM_T21 = (
    "sqrt(list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)
_DOT_T21 = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)

T21_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents
), dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1
), nd AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
), ad AS (
  SELECT CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE term IN {_BM25_TERMS!r} GROUP BY 1, 2
), dfq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
), scored AS (
  SELECT doc_id,
         CAST(floor(
           ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
              / (CAST(df AS DOUBLE) + 0.5))
           * ((CAST(tf AS DOUBLE) * {_K1 + 1.0!r})
              / (CAST(tf AS DOUBLE)
                 + {_K1!r} * ({1.0 - _B!r}
                              + {_B!r} * CAST(dl AS DOUBLE) / avgdl)))
           * 1000000.0 + 0.5) AS BIGINT) AS micro
  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id), nd, ad
), ds AS (
  SELECT doc_id, CAST(sum(micro) AS BIGINT) AS score_micro
  FROM scored GROUP BY 1
), kw AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id)
              AS BIGINT) AS rank_kw
  FROM ds
  QUALIFY rank_kw <= {_RRF_TOPK}
), vq AS (
  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
), vsims AS (
  SELECT vec_id AS doc_id,
         {_DOT_T21.format(a='qv', b='embedding')}
         / ({_NORM_T21.format(v='qv')} * {_NORM_T21.format(v='embedding')})
             AS cs
  FROM embeddings, vq WHERE vec_id <> 0
), vec AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY cs DESC, doc_id) AS BIGINT)
             AS rank_vec
  FROM vsims
  QUALIFY rank_vec <= {_RRF_TOPK}
)
SELECT doc_id, rank_kw, rank_vec,
       CAST(coalesce(1000000000 // (60 + rank_kw), 0)
          + coalesce(1000000000 // (60 + rank_vec), 0) AS BIGINT) AS rrf_micro,
       CAST(row_number() OVER (
           ORDER BY coalesce(1000000000 // (60 + rank_kw), 0)
                  + coalesce(1000000000 // (60 + rank_vec), 0) DESC,
                    doc_id ASC) AS BIGINT) AS fused_rank
FROM kw FULL JOIN vec USING (doc_id)
"""


@register(
    "t21_rrf_fusion",
    T21_ORACLE,
    doc="hybrid-retrieval reciprocal-rank fusion (Cormack 2009): BM25 "
    f"top-{_RRF_TOPK} keyword list fused with the exact-cosine "
    f"top-{_RRF_TOPK} list for query vector 0 via integer micro-unit "
    "1/(60+rank) contributions (BIGINT div — exact cross-engine); "
    "absent-list docs contribute one term; fused rank window bounded "
    "by construction (<= 2k rows)",
)
def t21_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import (
        similarity,
    )

    kw = search.bm25_topk(
        table(spark, sf_dir, "documents"),
        query_terms=_BM25_TERMS,
        k=_RRF_TOPK,
        k1=_K1,
        b=_B,
    ).select("doc_id", F.col("rank").cast("long").alias("rank_kw"))
    vec = similarity.brute_force_topk(
        table(spark, sf_dir, "embeddings"), query_ids=[0], k=_RRF_TOPK
    ).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").cast("long").alias("rank_vec"),
    )
    return search.rrf_fuse(kw, vec)


# --- j8: interval-interval overlap join (binned, canonical-bin dedup) --------

J8_ORACLE = """
WITH l AS (
  SELECT o_orderkey AS a,
         CAST(o_orderdate AS TIMESTAMP) AS ls,
         CAST(o_orderdate + INTERVAL 7 DAY AS TIMESTAMP) AS le
  FROM orders WHERE o_orderpriority = '1-URGENT'
), r AS (
  SELECT o_orderkey AS b,
         CAST(o_orderdate AS TIMESTAMP) AS rs,
         CAST(o_orderdate + INTERVAL 7 DAY AS TIMESTAMP) AS re
  FROM orders WHERE o_orderpriority = '2-HIGH'
), p AS (
  SELECT a, b FROM l JOIN r ON ls < re AND rs < le
)
SELECT a AS orderkey,
       CAST(count(*) AS BIGINT) AS n_overlaps,
       CAST(min(b) AS BIGINT) AS min_overlap_key,
       CAST(max(b) AS BIGINT) AS max_overlap_key
FROM p GROUP BY 1
"""


@register(
    "j8_interval_overlap",
    J8_ORACLE,
    doc="interval x interval overlap join (urgent vs high-priority "
    "7-day order windows) — no equi-key on EITHER side, the shape a "
    "naive plan turns into a cartesian product. Both sides bin-explode "
    "and equi-join on the bin; a pair survives only in its CANONICAL "
    "bin (the one containing the later start, inside both intervals "
    "by the overlap definition) so no distinct() over the pair blowup "
    "is needed. Replication ~2x at bin = window length",
)
def j8_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")

    def side(priority, key, s, e):
        return orders.filter(F.col("o_orderpriority") == priority).select(
            F.col("o_orderkey").alias(key),
            F.col("o_orderdate").cast("timestamp").alias(s),
            (F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS"))
            .cast("timestamp")
            .alias(e),
        )

    pairs = rangejoin.interval_overlap_join(
        side("1-URGENT", "a", "ls", "le"),
        side("2-HIGH", "b", "rs", "re"),
        "ls", "le", "rs", "re",
        bin_seconds=7 * 86400,
    )
    return pairs.groupBy(F.col("a").alias("orderkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n_overlaps"),
        F.min("b").cast("long").alias("min_overlap_key"),
        F.max("b").cast("long").alias("max_overlap_key"),
    )


# --- j9: per-key interval union (coverage islands) ----------------------------

_J9_LEN_US = 300_000_000  # each event opens a 5-minute activity interval

J9_ORACLE = f"""
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + {_J9_LEN_US} AS e
  FROM events
), m AS (
  SELECT user_id, s, e,
         max(e) OVER (PARTITION BY user_id ORDER BY s, e
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
  FROM iv
), marked AS (
  SELECT user_id, s, e,
         CAST(sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY s, e
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS island_id
  FROM m
)
SELECT user_id, island_id,
       CAST(min(s) AS BIGINT) AS island_start_us,
       CAST(max(e) AS BIGINT) AS island_end_us,
       CAST(count(*) AS BIGINT) AS n_intervals
FROM marked GROUP BY 1, 2
"""


@register(
    "j9_interval_union",
    J9_ORACLE,
    doc="per-user interval union: overlapping/touching 5-minute "
    "activity intervals collapse into coverage ISLANDS (min start, "
    "max end, n merged) — the complement of a36's concurrency count, "
    "and the primitive behind uptime/SLA gap audits (gaps are the "
    "space between consecutive islands). An interval opens a new "
    "island iff its start strictly exceeds the running max of PRIOR "
    "ends (ROWS frame ending at -1 — the row must not see its own "
    "end); touching intervals merge under half-open semantics. Both "
    "windows partition by user; all-BIGINT epoch micros; "
    "permutation-deterministic under duplicate intervals. Hand-solved "
    "+ brute-force property tests in tests/test_search_stats.py",
)
def j9_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import (
        rangejoin,
    )

    iv = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("start_us"),
        (F.unix_micros(F.col("ts")) + F.lit(_J9_LEN_US)).alias("end_us"),
    )
    return rangejoin.interval_union(iv, "user_id", "start_us", "end_us")


# --- j10: coverage fraction of an audit window ----------------------------------

import datetime as _dt  # noqa: E402

_J10_T0_US = int(
    _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc).timestamp() * 1_000_000
)
_J10_T1_US = int(
    _dt.datetime(2024, 2, 1, tzinfo=_dt.timezone.utc).timestamp() * 1_000_000
)
_J10_WIN_US = _J10_T1_US - _J10_T0_US

# Independent formulation ON PURPOSE (the r9 a36 lesson): the operator
# merges islands via the running-max-of-prior-ends algebra; the oracle
# never forms islands — it sweeps +1/-1 boundary events and integrates
# the stretches where the active count is positive (union length =
# measure of {active >= 1}), counting an island whenever active rises
# from zero. Same numbers, disjoint algorithms.
J10_ORACLE = f"""
WITH iv AS (
  SELECT user_id,
         greatest(epoch_us(ts), {_J10_T0_US}) AS s,
         least(epoch_us(ts) + {300_000_000}, {_J10_T1_US}) AS e
  FROM events
), c AS (
  SELECT * FROM iv WHERE s < e
), pts AS (
  SELECT user_id, s AS t, 1 AS d FROM c
  UNION ALL
  SELECT user_id, e AS t, -1 AS d FROM c
), sw AS (
  SELECT user_id, t, CAST(sum(d) AS BIGINT) AS delta
  FROM pts GROUP BY 1, 2
), run AS (
  SELECT user_id, t, delta,
         CAST(sum(delta) OVER (PARTITION BY user_id ORDER BY t)
              AS BIGINT) AS active,
         lead(t) OVER (PARTITION BY user_id ORDER BY t) AS nxt
  FROM sw
)
SELECT user_id,
       CAST(sum(CASE WHEN active > 0 AND active - delta = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_islands,
       CAST(sum(CASE WHEN active > 0 THEN nxt - t ELSE 0 END) AS BIGINT)
           AS covered_us,
       CAST(sum(CASE WHEN active > 0 THEN nxt - t ELSE 0 END) AS DOUBLE)
           / CAST({_J10_WIN_US} AS DOUBLE) AS coverage
FROM run GROUP BY user_id
"""


@register(
    "j10_interval_coverage",
    J10_ORACLE,
    doc="per-user coverage fraction of a fixed audit window (January "
    "2024): activity intervals are clipped to the window, merged into "
    "islands (rangejoin.interval_union — the j9 primitive), and the "
    "island lengths sum to the covered time; coverage = covered_us / "
    "window_us as ONE BIGINT/BIGINT double division. The uptime/SLA "
    "number gap audits report. Oracle is the INDEPENDENT sweep-line "
    "formulation (+1/-1 boundary integration of {{active>0}} "
    "stretches) — disjoint algorithm, same integers. Scale: per-user "
    "windows only (per-task state = one user's clipped intervals), "
    "one map-side-combined groupBy",
)
def j10_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import (
        rangejoin,
    )

    iv = (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.greatest(
                F.unix_micros(F.col("ts")), F.lit(_J10_T0_US)
            ).alias("start_us"),
            F.least(
                F.unix_micros(F.col("ts")) + F.lit(300_000_000),
                F.lit(_J10_T1_US),
            ).alias("end_us"),
        )
        .filter(F.col("start_us") < F.col("end_us"))
    )
    islands = rangejoin.interval_union(iv, "user_id", "start_us", "end_us")
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum(F.col("island_end_us") - F.col("island_start_us"))
        .cast("long")
        .alias("covered_us"),
        (
            F.sum(F.col("island_end_us") - F.col("island_start_us"))
            .cast("double")
            / F.lit(float(_J10_WIN_US))
        ).alias("coverage"),
    )
