"""Window functions + sort/limit (SURVEY §2B Q31–Q36).

Window partitioning shuffles once on the partition key and sorts within
partitions — at scale the partition key must be high-cardinality (customer,
order, user) so no single partition exceeds executor memory. None of these
use a global window (that would serialize on one task).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from olr_cdc_oracle_with_dbz_spark.catalog import Catalog, key_bounds, row_count
from olr_cdc_oracle_with_dbz_spark.plans.canonical import (
    fround,
    iround,
    DEC,
    _micros,
    ordered,
    ordered_static,
    presort_ranges,
    presort_static,
    sized_partitions,
)
from olr_cdc_oracle_with_dbz_spark.registry import register


@register(
    "q31_ranking",
    oracle="""
    SELECT o_custkey, o_orderkey,
           rank()       OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk,
           dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS drnk,
           row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
           ntile(4)     OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS quart
    FROM orders ORDER BY o_custkey, o_orderkey
    """,
)
def q31_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank / ntile per customer."""
    o = Catalog(spark, sf_dir).orders
    # static-bucket clustering on the window key BEFORE the windows: one
    # sample-free hash exchange on the monotone bucket tag both satisfies
    # the windows' required distribution (the tag rides in partitionBy —
    # _srp is a pure function of o_custkey, so groups are unchanged) and
    # leaves partitions in presentation order (presort_static,
    # plans/canonical.py).
    by_price = Window.partitionBy("_srp", "o_custkey").orderBy(F.col("o_totalprice").desc())
    total = Window.partitionBy("_srp", "o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        presort_static(o, key_bounds(sf_dir, "orders", "o_custkey"), "o_custkey", keep_tag=True)
        .select(
            "o_custkey",
            "o_orderkey",
            F.rank().over(by_price).alias("rnk"),
            F.dense_rank().over(by_price).alias("drnk"),
            F.row_number().over(total).alias("rn"),
            F.ntile(4).over(total).alias("quart"),
        )
        .sortWithinPartitions("o_custkey", "o_orderkey")
    )


@register(
    "q32_lag_lead",
    oracle="""
    SELECT user_id, event_id,
           coalesce(lag(event_id)  OVER w, -1) AS prev_id,
           coalesce(lead(event_id) OVER w, -1) AS next_id,
           first_value(event_type) OVER w AS first_type,
           last_value(event_type)  OVER (PARTITION BY user_id
                                         ORDER BY CAST(ts AS TIMESTAMP), event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    ORDER BY user_id, event_id
    """,
)
def q32_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/first/last per user ordered by event time."""
    ev = Catalog(spark, sf_dir).events
    w = Window.partitionBy("_srp", "user_id").orderBy("ts", "event_id")
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # static-bucket-before-window: see q31_ranking
    return (
        presort_static(ev, key_bounds(sf_dir, "events", "user_id"), "user_id", keep_tag=True)
        .select(
            "user_id",
            "event_id",
            F.coalesce(F.lag("event_id").over(w), F.lit(-1)).alias("prev_id"),
            F.coalesce(F.lead("event_id").over(w), F.lit(-1)).alias("next_id"),
            F.first("event_type").over(w).alias("first_type"),
            F.last("event_type").over(whole).alias("last_type"),
        )
        .sortWithinPartitions("user_id", "event_id")
    )


@register(
    "q33_frames",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 1000000) AS BIGINT))
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1000000, 6) AS running_rev,
           ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 1000000) AS BIGINT))
                 OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                       RANGE BETWEEN 10 PRECEDING AND CURRENT ROW) AS DOUBLE) / 1000000, 6) AS near_rev
    FROM orders ORDER BY o_custkey, o_orderkey
    """,
)
def q33_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rowsBetween running sum + rangeBetween sliding sum, exact via long
    micro-units (the q26 rework: codegen'd long adds instead of per-row
    BigDecimal; a per-customer running sum stays far under 2^63 at any
    SF, and the one long→double division renders identically in both
    engines)."""
    o = Catalog(spark, sf_dir).orders
    # _micros: codegen-arithmetic rounding — Round's per-value BigDecimal
    # was the dominant scan-side constant (SCALE.md r10 evidence round-up)
    mic_price = _micros("o_totalprice")
    running = (
        Window.partitionBy("_srp", "o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    near = (
        Window.partitionBy("_srp", "o_custkey")
        .orderBy("o_orderkey")
        .rangeBetween(-10, Window.currentRow)
    )
    rend = lambda c: fround(c.cast("double") / 1_000_000, 6)  # noqa: E731
    # static-bucket-before-window: see q31_ranking (r7 measured the
    # post-window range sampler re-running both windows, 2.95 s -> 1.07 s
    # at sf3; r8 replaces the remaining sampling job with static bounds).
    # r9: exchange width sized to the data — ~140k orders per task keeps
    # the dominant per-partition sort parallel at every octave (sf3:
    # 1.66 s at the old fixed 16 → 1.07 s ≈ 1.9× DuckDB).
    p = sized_partitions(row_count(sf_dir, "orders"), 140_000, lo=16)
    return (
        presort_static(o, key_bounds(sf_dir, "orders", "o_custkey"), "o_custkey", keep_tag=True, partitions=p)
        .select(
            "o_custkey",
            "o_orderkey",
            rend(F.sum(mic_price).over(running)).alias("running_rev"),
            rend(F.sum(mic_price).over(near)).alias("near_rev"),
        )
        .sortWithinPartitions("o_custkey", "o_orderkey")
    )


@register(
    "q34_topk_per_group",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM (
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_extendedprice DESC, l_linenumber) AS rn
      FROM lineitem
    ) WHERE rn <= 3
    ORDER BY l_orderkey, l_linenumber
    """,
)
def q34_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 lineitems per order by price (windowed top-k pattern).

    r9 rework: the window reads the CO-BUCKETED lineitem
    (operators/storage.py) — HashPartitioning(l_orderkey) from the bucket
    files satisfies the window's distribution, so the 18M-row input is
    never exchanged; WindowGroupLimit prunes each group to 3 rows before
    the window, and only the ~3/7ths-sized output pays the presentation
    range sort. sf3 decomposition (healthy window, median of 3): the old
    _srp-exchange-before-window form spent 3.07 s on its 18M-row
    exchange+sort alone (3.9–5.7 s total, 2.7–3.5× DuckDB); this form is
    1.32–1.48 s ≈ 1.2–1.3× DuckDB (1.12 s). A collect_list/array_sort
    hash-agg variant measured 1.94–2.13 s — the per-bucket sort+WGL wins.
    At 100 TB the bucketed layout is the same one the fact joins use; the
    window inherits it for free.
    """
    from olr_cdc_oracle_with_dbz_spark.operators.storage import (
        ensure_cobucketed_facts,
    )

    li_b, _ = ensure_cobucketed_facts(spark, sf_dir)
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_linenumber")
    )
    out = (
        li_b.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )
    # presentation sort width sized to the top-k OUTPUT (~3/7 of input)
    p = sized_partitions(row_count(sf_dir, "lineitem") * 3 // 7, 400_000, lo=8)
    return ordered_static(
        out, key_bounds(sf_dir, "lineitem"), "l_orderkey", "l_linenumber",
        partitions=p,
    )


@register(
    "q35_multikey_sort",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           nullif(o_orderstatus, 'O') AS maybe_null
    FROM orders
    ORDER BY maybe_null ASC NULLS FIRST, o_totalprice DESC, o_orderkey
    """,
)
def q35_multikey_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global multi-key sort with NULLS FIRST (range-partitioned sort at scale)."""
    o = Catalog(spark, sf_dir).orders
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("maybe_null"),
    ).transform(
        ordered,
        F.col("maybe_null").asc_nulls_first(),
        F.col("o_totalprice").desc(),
        F.col("o_orderkey"),
        partitions=8,
    )


@register(
    "q36_limit_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
)
def q36_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-100 — Spark plans TakeOrderedAndProject (no full sort)."""
    o = Catalog(spark, sf_dir).orders
    # plain orderBy here, NOT ordered(): sort+limit must stay adjacent so
    # Catalyst plans TakeOrderedAndProject (distributed per-partition
    # top-k + small merge); a repartition between them would force a full
    # single-partition sort of the input before the limit
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@register(
    "q31b_distribution_ranks",
    oracle="""
    SELECT o_orderkey,
           ROUND(percent_rank() OVER w, 6) AS pr,
           ROUND(cume_dist()    OVER w, 6) AS cd
    FROM orders
    WHERE o_orderkey < 2000
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_orderkey
    """,
)
def q31b_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist (distribution window functions)."""
    o = Catalog(spark, sf_dir).orders.filter(F.col("o_orderkey") < 2000)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    ).transform(ordered_static, (0.0, 2000.0), "o_orderkey")


@register(
    "q21b_funnel",
    oracle="""
    WITH f AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup'   THEN CAST(ts AS TIMESTAMP) END) AS t_signup,
             MIN(CASE WHEN event_type = 'click'    THEN CAST(ts AS TIMESTAMP) END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS t_buy
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) FILTER (WHERE t_signup IS NOT NULL) AS n_signup,
           COUNT(*) FILTER (WHERE t_signup < t_click) AS n_then_click,
           COUNT(*) FILTER (WHERE t_signup < t_click AND t_click < t_buy) AS n_full_funnel
    FROM f
    """,
)
def q21b_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence funnel: signup → click → purchase per user.

    Conditional-min first-touch times in ONE aggregation pass (never a
    per-stage self-join — at 100 TB that's the difference between one
    shuffle on user_id and three). Strict ordering between stages.
    """
    ev = Catalog(spark, sf_dir).events
    first = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))
    f = ev.groupBy("user_id").agg(
        first("signup").alias("t_signup"),
        first("click").alias("t_click"),
        first("purchase").alias("t_buy"),
    )
    return f.agg(
        F.count(F.when(F.col("t_signup").isNotNull(), 1)).alias("n_signup"),
        F.count(F.when(F.col("t_signup") < F.col("t_click"), 1)).alias("n_then_click"),
        F.count(
            F.when(
                (F.col("t_signup") < F.col("t_click"))
                & (F.col("t_click") < F.col("t_buy")),
                1,
            )
        ).alias("n_full_funnel"),
    )


@register(
    "q21c_retention",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id,
             date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk
      FROM events
    ), cohort AS (
      SELECT user_id, MIN(wk) AS c FROM act GROUP BY user_id
    )
    SELECT c.c AS cohort_week,
           COUNT(DISTINCT c.user_id) AS n_cohort,
           COUNT(DISTINCT CASE WHEN a.wk = c.c + INTERVAL 7 DAY
                               THEN a.user_id END) AS n_retained_w1
    FROM cohort c JOIN act a ON c.user_id = a.user_id
    GROUP BY c.c ORDER BY c.c
    """,
)
def q21c_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: of users first active in week W, how many
    are active again in W+1.

    Single user-keyed dataflow: cohort week = min(wk) OVER (user), the
    retained flag reduces per user in the SAME partitioning (no new
    exchange between the window and the groupBy), and the final cohort
    rollup is a plain count/sum over one row per user. The previous form
    aggregated cohorts separately, joined back on user, and finished with
    two countDistincts — an Expand ×2 of the joined rows plus two extra
    user-keyed exchanges."""
    ev = Catalog(spark, sf_dir).events
    act = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    w = Window.partitionBy("user_id")
    per_user = (
        act.withColumn("c", F.min("wk").over(w))
        .groupBy("user_id")
        .agg(
            F.first("c").alias("cohort_week"),
            F.max(
                (F.col("wk") == F.col("c") + F.expr("INTERVAL 7 DAY")).cast("int")
            ).alias("ret"),
        )
    )
    return (
        per_user.groupBy("cohort_week")
        .agg(
            F.count(F.lit(1)).alias("n_cohort"),
            F.sum("ret").alias("n_retained_w1"),
        )
        .transform(ordered, "cohort_week")
    )
