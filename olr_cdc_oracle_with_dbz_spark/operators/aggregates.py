"""Aggregation operators (SURVEY §2B Q22–Q30).

All aggregation is declarative ``groupBy().agg()`` — Catalyst plans
partial (map-side) + final aggregation automatically, which is the scalable
shape: at 100 TB the partial agg collapses each scan partition to one row per
group before the shuffle, so shuffle volume is O(groups), not O(rows).

Float determinism: every checked sum/avg runs through exact decimal
accumulation (plans/canonical.py) so results are order-independent and
bit-identical to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olr_cdc_oracle_with_dbz_spark.catalog import Catalog, key_bounds, row_count
from olr_cdc_oracle_with_dbz_spark.plans.canonical import (
    fround,
    iround,
    DEC,
    _micros,
    avg6,
    ordered,
    ordered_static,
    presort_ranges,
    presort_static,
    render,
    render_fixed,
    sql_avg6,
    sql_render_fixed,
    sized_partitions,
    sql_sum6,
    sum6,
)
from olr_cdc_oracle_with_dbz_spark.registry import register


@register(
    "q22_hash_agg_tpch_q1",
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      {sql_sum6('l_quantity')} AS sum_qty,
      {sql_sum6('l_extendedprice')} AS sum_base_price,
      {sql_sum6('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
      {sql_sum6('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
      {sql_avg6('l_quantity')} AS avg_qty,
      {sql_avg6('l_extendedprice')} AS avg_price,
      {sql_avg6('l_discount')} AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q22_hash_agg_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q1-style pricing summary (hash aggregate).

    This is the relational surface the reference delegates to its Postgres
    sink (/root/reference/README.md:829-850) — the whole point of the CDC
    pipeline is making the table queryable like this downstream.
    """
    li = Catalog(spark, sf_dir).lineitem
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum6("l_quantity").alias("sum_qty"),
            sum6("l_extendedprice").alias("sum_base_price"),
            sum6(disc).alias("sum_disc_price"),
            sum6(charge).alias("sum_charge"),
            avg6("l_quantity").alias("avg_qty"),
            avg6("l_extendedprice").alias("avg_price"),
            avg6("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .transform(ordered, "l_returnflag", "l_linestatus")
    )


@register(
    "q23_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT l_partkey) AS n_part,
           COUNT(DISTINCT l_orderkey) AS n_order
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q23_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-distinct aggregate, in the form Catalyst plans best.

    Two-pass split (r10, replacing the pure Expand form): the three
    distincts are NOT equal — suppkey/partkey have tiny domains (1k/20k)
    while orderkey's domain is |orders| (4.5M at sf3), so orderkey
    dominated the Expand shuffle (|distinct (rf, orderkey) pairs| ≈ fact
    row count). The orderkey leg now reads the CO-BUCKETED lineitem
    (q13b/q26 layout): HashPartitioning(l_orderkey) satisfies the
    (rf, orderkey) dedup's required distribution, so that aggregation
    runs with ZERO exchange, and the follow-up count-per-rf ships 3 rows
    per partition. The small-domain pair runs as a 2-distinct Expand on
    the raw scan (shuffle = |distinct pairs| ≤ 3·21k). Cost model at
    100 TB: one extra scan vs an orders-sized shuffle — shuffle bytes
    dominate, the split wins. Measured sf3 same-window medians (r10):
    Expand 2.71 s → two-pass 1.96 s (values hash-identical). Earlier
    forms for the record (r9): manual stack+distinct 4.44 s, three
    independent aggs joined 4.00 s, encoded-pair dedupe 4.04 s,
    mapInPandas np.unique partial 8.9 s.
    """
    from olr_cdc_oracle_with_dbz_spark.operators.storage import (
        ensure_cobucketed_facts,
    )

    li = Catalog(spark, sf_dir).lineitem
    li_b, _ = ensure_cobucketed_facts(spark, sf_dir)
    n_order = (
        li_b.select("l_returnflag", "l_orderkey")
        .filter(F.col("l_orderkey").isNotNull())  # COUNT(DISTINCT) excludes NULL
        .groupBy("l_returnflag", "l_orderkey")
        .agg(F.lit(1))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_order"))
    )
    small = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
    )
    # Null-safe LEFT join (ADVICE r10): a group whose l_orderkey values are
    # all NULL emits no n_order row (COUNT(DISTINCT) must report 0, not drop
    # the group), and a NULL l_returnflag group must survive the rejoin —
    # `<=>` keeps both, matching the single-aggregate countDistinct form on
    # arbitrary data. Both sides are ≤|distinct rf| rows, so the broadcast
    # join shape is unchanged.
    n_order = n_order.withColumnRenamed("l_returnflag", "_rf")
    return (
        small.join(
            n_order, F.col("l_returnflag").eqNullSafe(F.col("_rf")), "left"
        )
        .select(
            "l_returnflag",
            "n_supp",
            "n_part",
            F.coalesce("n_order", F.lit(0)).alias("n_order"),
        )
        .transform(ordered, "l_returnflag")
    )


@register(
    "q24_global_agg",
    oracle=f"""
    SELECT COUNT(*) AS n,
           {sql_sum6('o_totalprice')} AS total,
           ROUND(MIN(o_totalprice), 6) AS lo,
           ROUND(MAX(o_totalprice), 6) AS hi,
           COUNT(DISTINCT o_custkey) AS n_cust
    FROM orders
    """,
)
def q24_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (no-group) aggregate."""
    o = Catalog(spark, sf_dir).orders
    return o.agg(
        F.count(F.lit(1)).alias("n"),
        sum6("o_totalprice").alias("total"),
        F.round(F.min("o_totalprice"), 6).alias("lo"),
        F.round(F.max("o_totalprice"), 6).alias("hi"),
        F.countDistinct("o_custkey").alias("n_cust"),
    )


@register(
    "q25_rollup",
    oracle="""
    SELECT coalesce(n.n_name, '(all)') AS nat,
           coalesce(o.o_orderpriority, '(all)') AS prio,
           GROUPING(n.n_name) AS g_nat,
           GROUPING(o.o_orderpriority) AS g_prio,
           COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY ROLLUP(n.n_name, o.o_orderpriority)
    ORDER BY nat, prio, g_nat, g_prio
    """,
)
def q25_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING indicators (CUBE/GROUPING SETS share the codepath)."""
    cat = Catalog(spark, sf_dir)
    joined = cat.orders.join(
        cat.customer, F.col("o_custkey") == F.col("c_custkey")
    ).join(F.broadcast(cat.nation), F.col("c_nationkey") == F.col("n_nationkey"))
    return (
        joined.rollup("n_name", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping("n_name").cast("long").alias("g_nat"),
            F.grouping("o_orderpriority").cast("long").alias("g_prio"),
        )
        .select(
            F.coalesce(F.col("n_name"), F.lit("(all)")).alias("nat"),
            F.coalesce(F.col("o_orderpriority"), F.lit("(all)")).alias("prio"),
            "g_nat",
            "g_prio",
            "n_orders",
        )
        .transform(ordered, "nat", "prio", "g_nat", "g_prio")
    )


@register(
    "q25b_cube",
    oracle="""
    SELECT coalesce(l_returnflag, '(all)') AS rf,
           coalesce(l_linestatus, '(all)') AS ls,
           GROUPING(l_returnflag) AS g_rf,
           GROUPING(l_linestatus) AS g_ls,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    ORDER BY rf, ls, g_rf, g_ls
    """,
)
def q25b_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two low-cardinality dimensions."""
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping("l_returnflag").cast("long").alias("g_rf"),
            F.grouping("l_linestatus").cast("long").alias("g_ls"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("(all)")).alias("rf"),
            F.coalesce(F.col("l_linestatus"), F.lit("(all)")).alias("ls"),
            "g_rf",
            "g_ls",
            "n",
        )
        .transform(ordered, "rf", "ls", "g_rf", "g_ls")
    )


@register(
    "q25c_grouping_sets",
    oracle="""
    SELECT coalesce(l_returnflag, '(all)') AS rf,
           coalesce(l_linestatus, '(all)') AS ls,
           GROUPING(l_returnflag) AS g_rf,
           GROUPING(l_linestatus) AS g_ls,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY rf, ls, g_rf, g_ls
    """,
)
def q25c_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the non-hierarchical multi-grouping form)."""
    Catalog(spark, sf_dir).register_views(("lineitem",))
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, '(all)') AS rf,
               coalesce(l_linestatus, '(all)') AS ls,
               CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
               CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY rf, ls, g_rf, g_ls
        """
    )


@register(
    "q26_having",
    oracle=f"""
    SELECT l_orderkey, {sql_sum6('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM(CAST(ROUND(l_quantity * 1000000) AS BIGINT)) > 150000000
    ORDER BY l_orderkey
    """,
)
def q26_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING — post-aggregation filter on an exact micro-unit long sum.

    The whole-stage-codegen long-sum path (canonical ``_micros``), not a
    decimal accumulator — same exactness, measured ~5× cheaper per the
    r6 q27 rework; the HAVING compares in the same exact integer domain.

    r9: the aggregation reads the CO-BUCKETED lineitem — the bucket
    files' HashPartitioning(l_orderkey) satisfies the aggregation's
    required distribution, so the 18M-row input is never exchanged; only
    the HAVING-filtered output pays the presentation range exchange.
    sf3, same window: the r8 single-exchange presort form (which shipped
    all 18M rows through its exchange) 2.04 s; a classic partial+final
    two-exchange form 2.56 s (4.5M high-cardinality groups make the
    map-side partial nearly useless); this form 0.97 s.
    """
    from olr_cdc_oracle_with_dbz_spark.operators.storage import (
        ensure_cobucketed_facts,
    )

    li_b, _ = ensure_cobucketed_facts(spark, sf_dir)
    agg = (
        li_b.select("l_orderkey", "l_quantity")
        .groupBy("l_orderkey")
        .agg(F.sum(_micros("l_quantity")).alias("_sq"))
        .filter(F.col("_sq") > 150 * 1_000_000)
        .select(
            "l_orderkey",
            fround(F.col("_sq").cast("double") / 1_000_000, 6).alias("sum_qty"),
        )
    )
    p = sized_partitions(row_count(sf_dir, "lineitem") // 7, 400_000, lo=8)
    return ordered_static(
        agg, key_bounds(sf_dir, "lineitem"), "l_orderkey", partitions=p
    )


@register(
    "q27_stats_aggs",
    oracle=f"""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS sx,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                 * CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS sxx,
             SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS sy,
             SUM(CAST(ROUND(l_quantity) AS BIGINT)
                 * CAST(ROUND(l_quantity) AS BIGINT)) AS syy,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                 * CAST(ROUND(l_quantity) AS BIGINT)) AS sxy
      FROM lineitem GROUP BY l_returnflag),
    d AS (
      SELECT l_returnflag,
             CAST(n * sxx - sx * sx AS DOUBLE) AS nx,
             CAST(n * syy - sy * sy AS DOUBLE) AS ny,
             CAST(n * sxy - sx * sy AS DOUBLE) AS nc,
             CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE) AS den
      FROM m)
    SELECT l_returnflag,
           {sql_render_fixed("nx / den / 10000.0", 4)} AS var_price,
           {sql_render_fixed("sqrt(nx / den) / 100.0", 6)} AS std_price,
           {sql_render_fixed("nc / den / 100.0", 6)} AS covar_pq,
           {sql_render_fixed("nc / sqrt(nx * ny)", 6)} AS corr_pq
    FROM d ORDER BY l_returnflag
    """,
)
def q27_stats_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stddev/var/corr/covar from exact integer moments (cents fixed point).

    Native double accumulators are order-dependent across engines, and
    even exact DECIMAL(38,12) sums diverge at sf1: DuckDB renders a
    scale-12 decimal to double via int128→double÷10¹² (two roundings)
    while the JVM rounds once, and the sf1 covariance sits 1.5e-10 from a
    6-dp half boundary — unreachable by any double pipeline. Instead,
    every moment is an exact SCALE-0 integer (price in cents, quantity
    integral — the testdata is 2-dp/0-dp by construction), the
    numerators n·sxx−sx² / n·syy−sy² / n·sxy−sx·sy are formed exactly in
    the integer domain (hugeint in DuckDB, decimal(38,0) here), and ONE
    correctly-rounded cast to double feeds an identical IEEE expression
    tree in both engines — bit-identical outputs, boundary or not
    (canonical.py rule 7; BASELINE.md sf-trend note 3).
    """
    li = Catalog(spark, sf_dir).lineitem
    xc = iround(F.col("l_extendedprice") * 100)  # cents, exact
    yl = iround(F.col("l_quantity"))
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xc).alias("sx"),
        # sxx ≈ 1e20 at sf1 — exceeds long; carry in decimal(38,0), still exact
        F.sum((xc * xc).cast("decimal(38,0)")).alias("sxx"),
        F.sum(yl).alias("sy"),
        F.sum(yl * yl).alias("syy"),
        F.sum(xc * yl).alias("sxy"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731 — exact integer carrier
    n = F.col("n")
    nx = (dec(n) * F.col("sxx") - dec(F.col("sx")) * dec(F.col("sx"))).cast("double")
    ny = (dec(n) * dec(F.col("syy")) - dec(F.col("sy")) * dec(F.col("sy"))).cast("double")
    nc = (dec(n) * dec(F.col("sxy")) - dec(F.col("sx")) * dec(F.col("sy"))).cast("double")
    den = n.cast("double") * (n - 1).cast("double")
    return m.select(
        "l_returnflag",
        render_fixed(nx / den / 10000.0, 4).alias("var_price"),
        render_fixed(F.sqrt(nx / den) / 100.0, 6).alias("std_price"),
        render_fixed(nc / den / 100.0, 6).alias("covar_pq"),
        render_fixed(nc / F.sqrt(nx * ny), 6).alias("corr_pq"),
    ).transform(ordered, "l_returnflag")


@register(
    "q28_percentile",
    oracle="""
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 6) AS median_price,
           ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90_price
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q28_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile / median (linear interpolation both engines).

    ONE percentile aggregate with an array of quantiles — separate
    percentile() calls each buffer the full value column in their own
    aggregation state (measured 2× slower for identical results).
    """
    o = Catalog(spark, sf_dir).orders
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.percentile("o_totalprice", F.array(F.lit(0.5), F.lit(0.9))).alias("_ps")
        )
        .select(
            "o_orderpriority",
            F.round(F.col("_ps")[0], 6).alias("median_price"),
            F.round(F.col("_ps")[1], 6).alias("p90_price"),
        )
        .transform(ordered, "o_orderpriority")
    )


@register(
    "q29_distinct_exact_vs_approx",
    oracle="""
    SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS exact_cust
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q29_distinct_exact_vs_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact form of the approx pair (hash-checked); approx variant below."""
    o = Catalog(spark, sf_dir).orders
    return (
        o.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("exact_cust"))
        .transform(ordered, "o_orderpriority")
    )


@register(
    "q29b_approx_aggs",
    oracle="""
    SELECT o_orderpriority, TRUE AS cust_within_eps, TRUE AS median_within_eps
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    approx=True,  # quality gate: times the approx+exact pair, not a workload
)
def q29b_approx_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROX: HLL count-distinct + approx percentile, ε-bounded vs exact.

    At 100 TB these replace their exact forms: HLL sketches merge map-side
    (no shuffle of distinct values), approx_percentile bounds state. The
    checked output is the per-group ``|approx - exact| / exact ≤ ε`` flags
    (ε = 3·rsd for HLL, 2% for the median) — SQL-expressible as all-TRUE,
    so the sketch accuracy itself is under the driver's hash gate.
    """
    o = Catalog(spark, sf_dir).orders
    # Two aggregations joined on the 5-row group key, NOT one: mixing a
    # DISTINCT aggregate (Expand rewrite) with object-agg percentiles in a
    # single agg forces a sort-based fallback over expanded rows — measured
    # 8.3 s vs ~1 s for the split form at sf0.1.
    #
    # approx_percentile accuracy 2500 (r20; was 10000): the sketch's
    # per-row QuantileSummaries maintenance was the single largest term in
    # this query's profile (combined agg 0.43 → 0.30 s at sf0.1), and the
    # checked OUTPUT is the ε flag, not the approx value. 2500 is
    # EMPIRICALLY calibrated to the generated o_totalprice distribution
    # (flag verified TRUE at sf0.001/0.01/0.1 oracle + sf1 sweep), not
    # derived: accuracy bounds RANK error (1/2500 of rows), while the
    # flag is a VALUE-error bound, and rank error maps to value error
    # only where the distribution is dense around the median. A data set
    # with a sparse region near a group's median could flip the flag;
    # re-check it (or raise accuracy to 5000) before trusting it there.
    # The exact percentile, by contrast, profiled at only +0.05 s over the
    # scan — NOT this query's bottleneck (r19 verdict item 7 answered).
    sketches = o.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_cust"),
        F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(2500)).alias("approx_median"),
        F.expr("percentile(o_totalprice, 0.5)").alias("exact_median"),
    )
    exact = o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_cust")
    )
    return (
        sketches.join(exact, "o_orderpriority")
        .select(
            "o_orderpriority",
            (
                F.abs(F.col("approx_cust") - F.col("exact_cust"))
                <= 0.06 * F.col("exact_cust")
            ).alias("cust_within_eps"),
            (
                F.abs(F.col("approx_median") - F.col("exact_median"))
                <= 0.02 * F.abs(F.col("exact_median"))
            ).alias("median_within_eps"),
        )
        .transform(ordered, "o_orderpriority")
    )


@register(
    "q30_filtered_agg",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
           COUNT(*) FILTER (WHERE l_quantity >= 25) AS n_bulk,
           {sql_sum6('CASE WHEN l_discount > 0.05 THEN l_extendedprice ELSE 0 END')} AS disc_revenue
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q30_filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (FILTER clause / count_if)."""
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
            F.count(F.when(F.col("l_quantity") >= 25, 1)).alias("n_bulk"),
            sum6(
                F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice")).otherwise(0.0)
            ).alias("disc_revenue"),
        )
        .transform(ordered, "l_returnflag")
    )
