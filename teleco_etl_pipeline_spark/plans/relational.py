"""Relational operator catalog over the harness star schema.

One registered query per operator family in SURVEY.md §2 (S/P/J/A/
window/O/U/M). Each query is a declarative DataFrame program — no
UDFs, no collect loops — so Catalyst performs predicate pushdown,
column pruning, broadcast-join selection and AQE re-planning; the
same plans scale from sf0.001 to a 1000-executor 100 TB cluster.

Oracle-parity rules (see plans/registry.py): identical aliases on
both sides; doubles produced by aggregation are rounded on both
sides; timestamps projected as epoch micros (``functions.epoch_us``
on the TIMESTAMP_NTZ event time == DuckDB ``epoch_us``) or DATE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from teleco_etl_pipeline_spark.plans.registry import query
from teleco_etl_pipeline_spark.sources.tables import load_table


# Cross-engine tie stabilizer: Spark rounds doubles via their shortest
# decimal string (BigDecimal HALF_UP); DuckDB via binary scaling. On
# exact ties (a quotient like 4201.315, or an exact decimal sum like
# 289100.845 cast to DOUBLE) they disagree. Sums are made DECIMAL-exact
# first, so both engines hold bit-identical doubles; a +1e-9 nudge
# before every ROUND then makes them agree everywhere.
EPS = 1e-9


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Aggregation family (A1-A6, A10) + scan/filter pushdown (S1/S2, P10)
# ---------------------------------------------------------------------------


@query(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) + 1e-9, 2)      AS sum_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) + 1e-9, 2) AS sum_base_price,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) + 1e-9, 2) AS sum_disc_price,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,2)))
                          * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) + 1e-9, 2)   AS sum_charge,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) + 1e-9, 4)      AS avg_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) + 1e-9, 4) AS avg_price,
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) + 1e-9, 4)      AS avg_disc,
           COUNT(*)                                                              AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Flagship TPC-H-Q1-shaped scan→filter→agg (A3/A5/A6, P10). "
    "Filter + 7-column projection push to the parquet reader; "
    "partial aggregation is map-side (2x3 groups).",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # DECIMAL-exact sums: summation order differs across engines (and
    # across partitionings of the same engine), so double sums are not
    # reproducible at the last bit. Decimal accumulation is exact —
    # the same trick keeps *our own* results stable under AQE
    # re-partitioning at any scale.
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    tax = F.col("l_tax").cast("decimal(18,2)")
    disc_price = price * (F.lit(1) - disc)
    cnt = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(qty).cast("double") + EPS, 2).alias("sum_qty"),
            F.round(F.sum(price).cast("double") + EPS, 2).alias("sum_base_price"),
            F.round(F.sum(disc_price).cast("double") + EPS, 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (F.lit(1) + tax)).cast("double") + EPS, 2).alias(
                "sum_charge"
            ),
            F.round(F.sum(qty).cast("double") / cnt + EPS, 4).alias("avg_qty"),
            F.round(F.sum(price).cast("double") / cnt + EPS, 4).alias("avg_price"),
            F.round(F.sum(disc).cast("double") / cnt + EPS, 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "grouped_counts",
    "SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type",
    doc="GROUP BY + COUNT distribution (A3) — shape of the DQ "
    "distribution checks (DWH_Quality_Checks.sql:25-27).",
)
def q_grouped_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))


@query(
    "conditional_counts",
    """
    SELECT COUNT(*)                                             AS total_orders,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F')          AS finished_cnt,
           COUNT(*) FILTER (WHERE o_totalprice > 400000)        AS big_cnt,
           COUNT(*) FILTER (WHERE o_orderpriority LIKE '1-%')   AS urgent_cnt,
           COUNT(*) FILTER (WHERE o_custkey IS NULL)            AS null_cust_cnt
    FROM orders
    """,
    doc="FILTER-clause conditional counts (A2) — the per-column "
    "null/invalid profiling shape (DWH_Quality_Checks.sql:44-51).",
)
def q_conditional_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cnt_if = lambda c: F.count(F.when(c, F.lit(1)))  # noqa: E731
    return o.agg(
        F.count(F.lit(1)).alias("total_orders"),
        cnt_if(F.col("o_orderstatus") == "F").alias("finished_cnt"),
        cnt_if(F.col("o_totalprice") > 400000).alias("big_cnt"),
        cnt_if(F.col("o_orderpriority").like("1-%")).alias("urgent_cnt"),
        cnt_if(F.col("o_custkey").isNull()).alias("null_cust_cnt"),
    )


@query(
    "dup_finder",
    """
    SELECT o_custkey, COUNT(*) AS order_cnt
    FROM orders GROUP BY o_custkey HAVING COUNT(*) > 5
    """,
    doc="GROUP BY + HAVING duplicate finder (A4) — "
    "DataWarehouse.py:421-426 semantics.",
)
def q_dup_finder(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("order_cnt"))
        .filter(F.col("order_cnt") > 5)
    )


@query(
    "minmax_profile",
    """
    SELECT ROUND(MIN(l_quantity), 2)      AS min_qty,
           ROUND(MAX(l_quantity), 2)      AS max_qty,
           ROUND(MIN(l_extendedprice), 2) AS min_price,
           ROUND(MAX(l_extendedprice), 2) AS max_price,
           ROUND(MIN(l_discount), 2)      AS min_disc,
           ROUND(MAX(l_discount), 2)      AS max_disc,
           strftime(MIN(l_shipdate), '%Y-%m-%d') AS min_shipdate,
           strftime(MAX(l_shipdate), '%Y-%m-%d') AS max_shipdate
    FROM lineitem
    """,
    doc="Multi-column MIN/MAX range profile (A5) — "
    "DWH_Quality_Checks.sql:107-117.",
)
def q_minmax_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.min("l_quantity"), 2).alias("min_qty"),
        F.round(F.max("l_quantity"), 2).alias("max_qty"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.min("l_discount"), 2).alias("min_disc"),
        F.round(F.max("l_discount"), 2).alias("max_disc"),
        F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("min_shipdate"),
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("max_shipdate"),
    )


@query(
    "count_distinct",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS uniq_users,
           COUNT(*)                AS cnt
    FROM events GROUP BY event_type
    """,
    doc="COUNT(DISTINCT) consistency check (A7) — "
    "DWH_Quality_Checks.sql:305-307.",
)
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("uniq_users"),
        F.count(F.lit(1)).alias("cnt"),
    )


@query(
    "distinct_values",
    "SELECT DISTINCT c_mktsegment AS segment FROM customer",
    doc="DISTINCT projection for dim builds (A8) — "
    "create_load_data_gold.sql:11.",
)
def q_distinct_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.select(F.col("c_mktsegment").alias("segment")).distinct()


@query(
    "error_rate",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
           CAST(COUNT(*) FILTER (WHERE l_discount > 0.07 OR l_tax > 0.06) AS BIGINT) AS bad_rows,
           ROUND(100.0 * (COUNT(*) FILTER (WHERE l_discount > 0.07 OR l_tax > 0.06)) / COUNT(*) + 1e-9, 4) AS error_rate_pct
    FROM lineitem
    """,
    doc="Single-pass error-rate circuit-breaker aggregate (A10/C3) — "
    "DataWarehouse.py:455-465 computed in ONE scan, not two counts.",
)
def q_error_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    bad = (F.col("l_discount") > 0.07) | (F.col("l_tax") > 0.06)
    return li.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.count(F.when(bad, F.lit(1))).alias("bad_rows"),
    ).select(
        "total_rows",
        "bad_rows",
        F.round(100.0 * F.col("bad_rows") / F.col("total_rows") + EPS, 4).alias(
            "error_rate_pct"
        ),
    )


# ---------------------------------------------------------------------------
# Projection family (P2-P9, P15)
# ---------------------------------------------------------------------------


@query(
    "conditional_projection",
    """
    SELECT o_orderkey,
           CASE o_orderstatus WHEN 'O' THEN 'open'
                              WHEN 'F' THEN 'finished'
                              ELSE 'partial' END               AS status_label,
           COALESCE(NULLIF(o_orderpriority, ''), 'none')       AS priority,
           REPLACE(o_orderpriority, '-', ' ')                  AS priority_norm,
           CONCAT_WS(',', o_orderstatus, o_orderpriority)      AS status_concat,
           'warehouse'                                         AS source_system,
           ROUND(o_totalprice, 2)                              AS total_price
    FROM orders
    """,
    doc="CASE WHEN / COALESCE / REPLACE / concat / literal projection "
    "(P3/P4/P8/P9/P15) — the export projection shape "
    "(churn_export_dag_cloude.py:324-366).",
)
def q_conditional_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "O", "open")
        .when(F.col("o_orderstatus") == "F", "finished")
        .otherwise("partial")
        .alias("status_label"),
        F.coalesce(F.nullif(F.col("o_orderpriority"), F.lit("")), F.lit("none")).alias(
            "priority"
        ),
        F.replace(F.col("o_orderpriority"), F.lit("-"), F.lit(" ")).alias(
            "priority_norm"
        ),
        F.concat_ws(",", "o_orderstatus", "o_orderpriority").alias("status_concat"),
        F.lit("warehouse").alias("source_system"),
        F.round(F.col("o_totalprice"), 2).alias("total_price"),
    )


@query(
    "scrub_cast",
    """
    SELECT event_id,
           CAST(NULLIF(regexp_replace(props, '[^0-9.]', '', 'g'), '') AS DOUBLE) AS props_num,
           COALESCE(TRY_CAST(NULLIF(TRIM(
             CASE WHEN event_id % 2 = 0 THEN CAST(event_id AS VARCHAR) ELSE event_type END
           ), '') AS INTEGER), -1)                                               AS safe_int_or_default,
           CAST(TRUNC(value) AS INTEGER)                                         AS value_int
    FROM events
    """,
    doc="Regex-scrub cast + NULLIF safe cast + numeric coercion "
    "(P5/P6/P7) — create_load_data_gold.sql:106-120 semantics "
    "including digit-concatenation ('12a3'→123, 'n/a'→NULL).",
)
def q_scrub_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from teleco_etl_pipeline_spark.functions import safe_int, scrub_numeric

    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        scrub_numeric("props").alias("props_num"),
        F.coalesce(
            safe_int(
                F.when(F.col("event_id") % 2 == 0, F.col("event_id").cast("string"))
                .otherwise(F.col("event_type"))
            ),
            F.lit(-1),
        ).alias("safe_int_or_default"),
        F.col("value").try_cast("int").alias("value_int"),
    )


@query(
    "watermark_window",
    """
    SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
    FROM events
    WHERE epoch_us(ts) >  epoch_us(TIMESTAMP '2024-01-05 00:00:00')
      AND epoch_us(ts) <= epoch_us(TIMESTAMP '2024-01-12 00:00:00')
    """,
    doc="Half-open watermark range predicate (P13/St1) — the "
    "incremental-extraction window (churn_export_dag_cloude.py:369-370). "
    "Predicate pushes to the parquet scan.",
)
def q_watermark_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from teleco_etl_pipeline_spark.functions import epoch_us, ntz_lit

    ev = _t(spark, sf_dir, "events")
    # Filter on the RAW ts column against TIMESTAMP_NTZ literals — a
    # plain comparison pushes to the parquet reader (PushedFilters +
    # row-group stats pruning); an expression over ts (cast,
    # unix_micros) does not. epoch_us is projection-only.
    return ev.filter(
        (F.col("ts") > ntz_lit("2024-01-05 00:00:00"))
        & (F.col("ts") <= ntz_lit("2024-01-12 00:00:00"))
    ).select("event_id", "user_id", epoch_us("ts").alias("ts_us"), "event_type")


# ---------------------------------------------------------------------------
# Join family (J1-J10)
# ---------------------------------------------------------------------------


@query(
    "star_join",
    """
    SELECT r_name, n_name,
           COUNT(*)                 AS customer_cnt,
           ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) + 1e-9, 2) AS avg_bal
    FROM customer
    JOIN nation ON n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n_regionkey
    GROUP BY r_name, n_name
    """,
    doc="Fact↔dim star join (J2/J3): nation and region are tiny → "
    "Catalyst broadcast-hash-joins them, zero shuffle of the big side "
    "before aggregation.",
)
def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        c.join(n, n["n_nationkey"] == c["c_nationkey"])
        .join(r, r["r_regionkey"] == n["n_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("customer_cnt"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
                + EPS,
                2,
            ).alias("avg_bal"),
        )
    )


@query(
    "semi_join",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000)
    """,
    doc="Left-semi join / IN-subquery (J6) — Reprocessing.py:116-119 "
    "delete-targeting shape.",
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "anti_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
    )
    """,
    doc="Left-anti join / NOT EXISTS (J7/J8) — idempotent dim insert "
    "and orphan checks (create_load_data_gold.sql:15-18, "
    "DWH_Quality_Checks.sql:255-271).",
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "nullsafe_join",
    """
    WITH a AS (
      SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg FROM customer
    ), b AS (
      SELECT DISTINCT seg, COALESCE(seg, '<null>') AS seg_tag FROM a
    )
    SELECT b.seg_tag, COUNT(*) AS cnt
    FROM a JOIN b ON a.seg IS NOT DISTINCT FROM b.seg
    GROUP BY b.seg_tag
    """,
    doc="Null-safe equi-join (J4, `<=>`/eqNullSafe) — the 9-key "
    "dim_services match (create_load_data_gold.sql:131-140). A plain "
    "`==` would silently drop the NULL-segment group.",
)
def q_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    a = c.select(
        "c_custkey", F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg")
    )
    b = (
        a.select("seg")
        .distinct()
        .select("seg", F.coalesce(F.col("seg"), F.lit("<null>")).alias("seg_tag"))
    )
    return (
        a.join(F.broadcast(b), a["seg"].eqNullSafe(b["seg"]))
        .groupBy("seg_tag")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "expr_key_join",
    """
    WITH dim AS (
      SELECT UPPER(TRIM(n_name)) AS nation_key_norm, n_regionkey FROM nation
    )
    SELECT dim.nation_key_norm, dim.n_regionkey, COUNT(*) AS customer_cnt
    FROM customer c
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    JOIN dim        ON UPPER(TRIM(n.n_name)) = dim.nation_key_norm
    GROUP BY dim.nation_key_norm, dim.n_regionkey
    """,
    doc="Expression-key join on normalized strings (J5) — the "
    "TRIM(UPPER(..)) churn_reason match "
    "(create_load_data_gold.sql:125,129).",
)
def q_expr_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    dim = n.select(
        F.upper(F.trim(F.col("n_name"))).alias("nation_key_norm"),
        F.col("n_regionkey").alias("dim_regionkey"),
    )
    return (
        c.join(F.broadcast(n), n["n_nationkey"] == c["c_nationkey"])
        .join(F.broadcast(dim), F.upper(F.trim(n["n_name"])) == dim["nation_key_norm"])
        .groupBy("nation_key_norm", "dim_regionkey")
        .agg(F.count(F.lit(1)).alias("customer_cnt"))
        .withColumnRenamed("dim_regionkey", "n_regionkey")
    )


@query(
    "correlated_scalar",
    """
    SELECT c_custkey, c_name,
           ROUND(CAST(COALESCE(
             (SELECT SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
              FROM orders o WHERE o.o_custkey = c.c_custkey),
             0) AS DOUBLE), 2) AS total_spend
    FROM customer c
    """,
    doc="Correlated scalar subquery (J9) decorrelated Spark-side into "
    "pre-aggregate + left join + COALESCE "
    "(churn_export_dag_cloude.py:353-355).",
)
def q_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_spend")
    )
    return c.join(spend, c["c_custkey"] == spend["o_custkey"], "left").select(
        "c_custkey",
        "c_name",
        F.round(F.coalesce(F.col("_spend").cast("double"), F.lit(0.0)), 2).alias(
            "total_spend"
        ),
    )


# ---------------------------------------------------------------------------
# Window / sort / limit family (§2.5, O1-O4) + surrogate keys
# ---------------------------------------------------------------------------


@query(
    "window_dup_flag",
    """
    SELECT event_id, user_id,
           COUNT(*) OVER (PARTITION BY user_id, event_type) AS grp_cnt,
           CAST(COUNT(*) OVER (PARTITION BY user_id, event_type) > 1 AS INTEGER) AS is_dup
    FROM events
    """,
    doc="keep=False duplicate marking as a window count (A11) — "
    "DataWarehouse.py:449 `duplicated(keep=False)`.",
)
def q_window_dup_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type")
    cnt = F.count(F.lit(1)).over(w)
    return ev.select(
        "event_id",
        "user_id",
        cnt.alias("grp_cnt"),
        (cnt > 1).cast("int").alias("is_dup"),
    )


@query(
    "latest_per_key",
    """
    SELECT user_id, event_id AS last_event_id, epoch_us(ts) AS last_ts_us, event_type
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    doc="Latest-record-per-key via row_number window (O2) — "
    "DataWarehouse.py:94-97 'ORDER BY created_at DESC LIMIT 1' per key.",
)
def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from teleco_etl_pipeline_spark.functions import epoch_us

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            epoch_us("ts").alias("last_ts_us"),
            "event_type",
        )
    )


@query(
    "topk_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20
    """,
    doc="Top-k (O4): Spark compiles orderBy+limit to "
    "TakeOrderedAndProject — per-partition heaps, no global sort.",
)
def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "surrogate_keys",
    """
    SELECT ROW_NUMBER() OVER (ORDER BY segment) AS segment_key, segment
    FROM (SELECT DISTINCT c_mktsegment AS segment FROM customer)
    """,
    doc="SERIAL-equivalent dense surrogate keys (§1.2): row_number over "
    "an explicit canonical ordering of the distinct dim values — "
    "deterministic across runs, unlike monotonically_increasing_id. "
    "Single-partition window is safe: dims are small by construction.",
)
def q_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from teleco_etl_pipeline_spark.operators.keys import add_surrogate_key

    c = _t(spark, sf_dir, "customer")
    dim = c.select(F.col("c_mktsegment").alias("segment")).distinct()
    return add_surrogate_key(dim, "segment_key", order_by=["segment"]).select(
        "segment_key", "segment"
    )


# ---------------------------------------------------------------------------
# Set operations (U1)
# ---------------------------------------------------------------------------


@query(
    "union_summary",
    """
    SELECT 'customer' AS layer, COUNT(*) AS row_cnt FROM customer
    UNION ALL SELECT 'orders',   COUNT(*) FROM orders
    UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
    UNION ALL SELECT 'events',   COUNT(*) FROM events
    """,
    doc="UNION ALL layer summary (U1) — DWH_Quality_Checks.sql:317-325 "
    "cross-layer row-count consistency report.",
)
def q_union_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = []
    for name in ("customer", "orders", "lineitem", "events"):
        t = _t(spark, sf_dir, name)
        parts.append(
            t.agg(F.count(F.lit(1)).alias("row_cnt")).select(
                F.lit(name).alias("layer"), "row_cnt"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Mutation family (M1/M3) expressed as pure queries for oracle parity
# ---------------------------------------------------------------------------


@query(
    "upsert_merge",
    """
    WITH target AS (
      SELECT user_id,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value,
             COUNT(*)                AS event_cnt,
             MIN(epoch_us(ts))       AS first_seen_us
      FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00' GROUP BY user_id
    ), src AS (
      SELECT user_id,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value,
             COUNT(*)                AS event_cnt,
             MIN(epoch_us(ts))       AS first_seen_us
      FROM events WHERE ts >= TIMESTAMP '2024-01-20 00:00:00' GROUP BY user_id
    )
    SELECT COALESCE(t.user_id, s.user_id)                         AS user_id,
           COALESCE(s.total_value, t.total_value)                 AS total_value,
           COALESCE(s.event_cnt, t.event_cnt)                     AS event_cnt,
           COALESCE(t.first_seen_us, s.first_seen_us)             AS first_seen_us,
           CASE WHEN t.user_id IS NULL THEN 'new'
                WHEN s.user_id IS NULL THEN 'existing'
                ELSE 'updated' END                                AS record_type
    FROM target t FULL OUTER JOIN src s ON t.user_id = s.user_id
    """,
    doc="Keyed upsert with column-subset update (M1): matched rows take "
    "updated measures from source but KEEP first_seen from target "
    "(insert_data_into_bronze.sql:60-77 semantics: only ~16 of 33 "
    "columns update on conflict), with record_type bookkeeping.",
)
def q_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from teleco_etl_pipeline_spark.operators.upsert import merge_upsert

    from teleco_etl_pipeline_spark.functions import epoch_us, ntz_lit

    ev = _t(spark, sf_dir, "events")
    cut = ntz_lit("2024-01-20 00:00:00")  # pushdown-safe NTZ comparand

    def _snapshot(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias(
                "total_value"
            ),
            F.count(F.lit(1)).alias("event_cnt"),
            F.min(epoch_us("ts")).alias("first_seen_us"),
        )

    target = _snapshot(ev.filter(F.col("ts") < cut))
    src = _snapshot(ev.filter(F.col("ts") >= cut))
    return merge_upsert(
        target,
        src,
        keys=["user_id"],
        update_cols=["total_value", "event_cnt"],  # first_seen_us kept from target
        record_type_col="record_type",
    )


@query(
    "delete_then_insert",
    """
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderstatus = 'F'
                THEN ROUND(o_totalprice * 1.1 + 1e-9, 2)
                ELSE ROUND(o_totalprice, 2) END AS total_price
    FROM orders
    """,
    doc="Delete-then-insert upsert (M3, Reprocessing.py:113-126): Spark "
    "side really does anti-join(fix keys) ∪ fixes; the oracle's CASE "
    "formulation proves the two are semantically identical.",
)
def q_delete_then_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from teleco_etl_pipeline_spark.operators.upsert import delete_then_insert

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total_price")
    )
    fixes = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("o_totalprice") * 1.1 + EPS, 2).alias("total_price"),
        )
    )
    return delete_then_insert(o, fixes, keys=["o_orderkey"])


@query(
    "md5_checksum",
    "SELECT doc_id, md5(text) AS checksum FROM documents",
    doc="MD5 content checksum (§2.9 hash; DataWarehouse.py:67-73 "
    "file-idempotency) as a distributed column op.",
)
def q_md5_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", F.md5(F.col("text")).alias("checksum"))


@query(
    "tenure_months_calc",
    """
    SELECT o_orderkey,
           CAST(date_part('year',  age(TIMESTAMP '2026-08-13 00:00:00', o_orderdate)) * 12
              + date_part('month', age(TIMESTAMP '2026-08-13 00:00:00', o_orderdate)) AS INTEGER)
             AS tenure_months
    FROM orders
    """,
    doc="Calendar-month tenure parity (§2.9 date math, SURVEY trap "
    "#5): Postgres EXTRACT(YEAR FROM age())*12 + EXTRACT(MONTH ...) "
    "vs Spark floor(months_between) — verified equivalent on every "
    "order date (churn_export_dag_cloude.py:348-351).",
)
def q_tenure_months_calc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from teleco_etl_pipeline_spark.functions.scalars import tenure_months

    o = _t(spark, sf_dir, "orders")
    ref = F.lit("2026-08-13 00:00:00").cast("timestamp")
    return o.select(
        "o_orderkey",
        tenure_months(F.col("o_orderdate"), ref).alias("tenure_months"),
    )


@query(
    "topk_per_group",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice
    FROM orders
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY o_orderpriority
      ORDER BY o_totalprice DESC, o_orderkey ASC
    ) <= 3
    """,
    doc="Per-group top-k via window rank (the scale-friendly "
    "grouped-topk pattern: one shuffle on the group key, per-group "
    "heaps, no global sort).",
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
    )


@query(
    "initcap_norm",
    """
    SELECT DISTINCT
           c_mktsegment,
           upper(substr(lower(trim(c_mktsegment)), 1, 1))
             || substr(lower(trim(c_mktsegment)), 2) AS segment_title
    FROM customer
    """,
    doc="initcap string normalization (P14 — Reprocessing.py:81 "
    "`.str.title()` on gender). DuckDB lacks initcap, so the oracle "
    "spells it out — semantics match for single-word values.",
)
def q_initcap_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_mktsegment",
        F.initcap(F.trim(F.col("c_mktsegment"))).alias("segment_title"),
    ).distinct()


# ---------------------------------------------------------------------------
# Bloom-filter join pruning (J-family scale strategy)
# ---------------------------------------------------------------------------

_BLOOM_M_BITS = 4096
_BLOOM_K = 3


def bloom_bit_positions(key, m_bits: int, k_hashes: int) -> list:
    """``k_hashes`` deterministic Bloom bit positions in [0, m_bits)
    for a key column: position_i = int(md5(key || 'bp{i}')[:8], 16) %
    m_bits. Integer-only (md5 → 32-bit hex slice → modulo), so the
    positions are bit-identical in Spark, DuckDB, and any executor
    build — same construction as operators/sampling.py:_hash_bucket.
    """
    s = key.cast("string")
    return [
        (
            F.conv(
                F.substring(F.md5(F.concat(s, F.lit(f"bp{i}"))), 1, 8), 16, 10
            ).cast("bigint")
            % m_bits
        )
        for i in range(k_hashes)
    ]


@query(
    "bloom_pruned_join",
    f"""
    WITH dimk AS (
      SELECT DISTINCT c_custkey AS k FROM customer
      WHERE c_mktsegment = 'AUTOMOBILE' AND c_acctbal > 9000
    ),
    dimpos AS (
      SELECT k,
             (CAST(concat('0x', substr(md5(concat(CAST(k AS VARCHAR), 'bp0')), 1, 8)) AS BIGINT) % {_BLOOM_M_BITS}) AS p0,
             (CAST(concat('0x', substr(md5(concat(CAST(k AS VARCHAR), 'bp1')), 1, 8)) AS BIGINT) % {_BLOOM_M_BITS}) AS p1,
             (CAST(concat('0x', substr(md5(concat(CAST(k AS VARCHAR), 'bp2')), 1, 8)) AS BIGINT) % {_BLOOM_M_BITS}) AS p2
      FROM dimk
    ),
    bits AS (
      SELECT list(DISTINCT p) AS bloom,
             (SELECT COUNT(*) FROM dimk) AS n_dim_keys
      FROM (
        SELECT p0 AS p FROM dimpos
        UNION ALL SELECT p1 FROM dimpos
        UNION ALL SELECT p2 FROM dimpos
      )
    ),
    probe AS (
      SELECT
        list_contains(b.bloom, (CAST(concat('0x', substr(md5(concat(CAST(o.o_custkey AS VARCHAR), 'bp0')), 1, 8)) AS BIGINT) % {_BLOOM_M_BITS}))
        AND list_contains(b.bloom, (CAST(concat('0x', substr(md5(concat(CAST(o.o_custkey AS VARCHAR), 'bp1')), 1, 8)) AS BIGINT) % {_BLOOM_M_BITS}))
        AND list_contains(b.bloom, (CAST(concat('0x', substr(md5(concat(CAST(o.o_custkey AS VARCHAR), 'bp2')), 1, 8)) AS BIGINT) % {_BLOOM_M_BITS}))
          AS bloom_pass,
        d.k IS NOT NULL AS matched,
        b.n_dim_keys
      FROM orders o
      CROSS JOIN bits b
      LEFT JOIN dimk d ON o.o_custkey = d.k
    )
    SELECT CAST({_BLOOM_M_BITS} AS BIGINT)               AS m_bits,
           CAST({_BLOOM_K} AS BIGINT)                    AS k_hashes,
           MAX(n_dim_keys)                               AS n_dim_keys,
           COUNT(*)                                      AS n_fact,
           COUNT(*) FILTER (WHERE bloom_pass)            AS n_candidates,
           COUNT(*) FILTER (WHERE matched)               AS n_matched,
           COUNT(*) FILTER (WHERE bloom_pass AND NOT matched) AS n_false_pos,
           COUNT(*) FILTER (WHERE matched AND NOT bloom_pass) AS n_missed
    FROM probe
    """,
    doc="Bloom-filter join pruning: the build side (selective "
    "customer subset) is reduced to a deterministic md5-based bit-"
    "position set, broadcast as ONE row, and the fact scan is pruned "
    "by k array_contains probes BEFORE any join — the runtime-filter "
    "strategy for 100 TB fact↔selective-dim joins where shipping the "
    "key set itself would be too large (the bitset is m_bits/8 bytes "
    "regardless of key count; size m ≈ 10·|keys| bits for ~1% FP). "
    "The report also LEFT-joins the true key set purely to ACCOUNT "
    "false positives — the production path is the bloom filter "
    "alone, then the exact join on the ~n_candidates survivors. "
    "n_missed is structurally 0 (a Bloom filter has no false "
    "negatives); the oracle re-derives it so the cross-engine check "
    "proves the property, not just the counts. All outputs are "
    "integers — deterministic by construction (PARITY.md).",
)
def q_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    m, k = _BLOOM_M_BITS, _BLOOM_K
    dim = (
        _t(spark, sf_dir, "customer")
        .filter(
            (F.col("c_mktsegment") == "AUTOMOBILE") & (F.col("c_acctbal") > 9000)
        )
        .select(F.col("c_custkey").alias("k"))
        .distinct()
    )
    bits = dim.select(
        "k", F.explode(F.array(*bloom_bit_positions(F.col("k"), m, k))).alias("p")
    ).agg(
        F.sort_array(F.collect_set("p")).alias("bloom"),
        F.count_distinct("k").alias("n_dim_keys"),
    )
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    probe = (
        o.crossJoin(F.broadcast(bits))  # 1-row scalar broadcast
        .join(F.broadcast(dim), o["o_custkey"] == dim["k"], "left")
        .select(
            "n_dim_keys",
            F.col("k").isNotNull().alias("matched"),
            *[
                p.alias(f"q{i}")
                for i, p in enumerate(
                    bloom_bit_positions(F.col("o_custkey"), m, k)
                )
            ],
            "bloom",
        )
        .withColumn(
            "bloom_pass",
            F.expr(
                " AND ".join(
                    f"array_contains(bloom, q{i})" for i in range(k)
                )
            ),
        )
    )
    cnt_if = lambda c: F.count(F.when(c, F.lit(1)))  # noqa: E731
    return probe.agg(
        F.lit(m).cast("bigint").alias("m_bits"),
        F.lit(k).cast("bigint").alias("k_hashes"),
        F.max("n_dim_keys").alias("n_dim_keys"),
        F.count(F.lit(1)).alias("n_fact"),
        cnt_if(F.col("bloom_pass")).alias("n_candidates"),
        cnt_if(F.col("matched")).alias("n_matched"),
        cnt_if(F.col("bloom_pass") & ~F.col("matched")).alias("n_false_pos"),
        cnt_if(F.col("matched") & ~F.col("bloom_pass")).alias("n_missed"),
    )
