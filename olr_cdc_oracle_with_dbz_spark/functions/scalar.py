"""Scalar function surface (SURVEY §2B Q40–Q46).

All built-in ``pyspark.sql.functions`` — JVM-side, codegen'd, never Python.
Each query is a function matrix over one table; the oracle uses DuckDB's
equivalent (names differ: instr↔strpos, split↔string_split, …). Only the
semantic intersection is exposed (e.g. no day-of-week: Sunday=1 in Spark,
0 in DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olr_cdc_oracle_with_dbz_spark.catalog import Catalog, key_bounds
from olr_cdc_oracle_with_dbz_spark.plans.canonical import fround, presort_ranges, presort_static, ordered, ordered_static
from olr_cdc_oracle_with_dbz_spark.registry import register


@register(
    "q40_string_funcs",
    oracle="""
    SELECT p_partkey,
           substr(p_name, 1, 4)              AS sub4,
           upper(p_name)                     AS up,
           lower(p_brand)                    AS lo,
           trim('  ' || p_name || ' ')       AS trimmed,
           lpad(CAST(p_size AS VARCHAR), 5, '0') AS padded,
           p_brand || ':' || p_type          AS cat,
           length(p_name)                    AS len,
           string_split(p_name, ' ')[1]      AS first_word,
           replace(p_name, ' ', '_')         AS repl,
           strpos(p_name, 'widget')          AS pos_widget
    FROM part ORDER BY p_partkey
    """,
)
def q40_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function matrix over part."""
    p = Catalog(spark, sf_dir).part
    return p.select(
        "p_partkey",
        F.substring("p_name", 1, 4).alias("sub4"),
        F.upper("p_name").alias("up"),
        F.lower("p_brand").alias("lo"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit(" "))).alias("trimmed"),
        F.lpad(F.col("p_size").cast("string"), 5, "0").alias("padded"),
        F.concat_ws(":", "p_brand", "p_type").alias("cat"),
        F.length("p_name").alias("len"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("repl"),
        F.instr(F.col("p_name"), "widget").alias("pos_widget"),
    ).transform(ordered_static, key_bounds(sf_dir, "part"), "p_partkey")


@register(
    "q41_datetime_funcs",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate)                               AS y,
           month(o_orderdate)                              AS m,
           day(o_orderdate)                                AS d,
           dayofyear(o_orderdate)                          AS doy,
           o_orderdate + INTERVAL 7 DAY                    AS plus_week,
           date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS days_since,
           date_trunc('month', o_orderdate)                AS month_start,
           CAST(o_orderdate AS DATE)                       AS as_date,
           CAST(epoch(o_orderdate) AS BIGINT)              AS epoch_s,
           strftime(o_orderdate, '%Y-%m-%d')               AS ymd
    FROM orders ORDER BY o_orderkey
    """,
)
def q41_datetime_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function matrix over orders (session TZ pinned UTC)."""
    o = Catalog(spark, sf_dir).orders
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("y"),
        F.month(d).alias("m"),
        F.dayofmonth(d).alias("d"),
        F.dayofyear(d).alias("doy"),
        (d + F.expr("INTERVAL 7 DAY")).alias("plus_week"),
        F.datediff(d, F.lit("1995-01-01").cast("timestamp")).cast("long").alias("days_since"),
        F.date_trunc("month", d).alias("month_start"),
        d.cast("date").alias("as_date"),
        F.unix_timestamp(d).alias("epoch_s"),
        F.date_format(d, "yyyy-MM-dd").alias("ymd"),
    ).transform(ordered_static, key_bounds(sf_dir, "orders"), "o_orderkey")


@register(
    "q42_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice, 1)                 AS r1,
           CAST(FLOOR(l_extendedprice) AS BIGINT)    AS flr,
           CAST(CEIL(l_extendedprice) AS BIGINT)     AS cl,
           ABS(l_discount - 0.05)                    AS ad,
           ROUND(sqrt(l_extendedprice), 6)           AS sq,
           ROUND(ln(l_extendedprice), 6)             AS lg,
           ROUND(exp(l_discount), 6)                 AS ex,
           ROUND(pow(l_quantity, 2), 6)              AS p2,
           l_orderkey % 7                            AS m7,
           CAST(sign(l_discount - 0.05) AS BIGINT)   AS sg
    FROM lineitem ORDER BY l_orderkey, l_linenumber
    """,
)
def q42_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function matrix.

    Round-2 driver red dissected: every value was bitwise identical to the
    oracle's — the hash mismatch was purely *render typing* (Spark
    floor/ceil → BIGINT vs DuckDB's DOUBLE; Spark signum → DOUBLE vs
    DuckDB's TINYINT). Both sides now pin the integer-valued columns to
    BIGINT so the driver's type-sensitive canonical render agrees;
    the libm columns (sq/lg/ex/p2) were never the problem.
    """
    li = Catalog(spark, sf_dir).lineitem
    price = F.col("l_extendedprice")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        fround(price, 1).alias("r1"),
        F.floor(price).alias("flr"),
        F.ceil(price).alias("cl"),
        F.abs(F.col("l_discount") - 0.05).alias("ad"),
        fround(F.sqrt(price), 6).alias("sq"),
        fround(F.log(price), 6).alias("lg"),
        fround(F.exp("l_discount"), 6).alias("ex"),
        fround(F.pow("l_quantity", F.lit(2)), 6).alias("p2"),
        (F.col("l_orderkey") % 7).alias("m7"),
        F.signum(F.col("l_discount") - 0.05).cast("long").alias("sg"),
    ).transform(ordered_static, key_bounds(sf_dir, "lineitem"), "l_orderkey", "l_linenumber")


@register(
    "q43_array_funcs",
    oracle="""
    SELECT vec_id,
           len(embedding)                                   AS dim,
           ROUND(CAST(embedding[1] AS DOUBLE), 6)           AS first_elem,
           ROUND(CAST(list_sort(embedding)[1] AS DOUBLE), 6) AS min_elem,
           len(list_distinct(embedding))                    AS n_distinct,
           ROUND(CAST(list_sum(list_transform(embedding[1:8],
                 x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(18,9)))) AS DOUBLE), 6) AS head_sum
    FROM embeddings ORDER BY vec_id
    """,
)
def q43_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array functions over the embedding column (size/index/sort/distinct/slice)."""
    e = Catalog(spark, sf_dir).embeddings
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        F.size(emb).alias("dim"),
        F.round(emb.getItem(0).cast("double"), 6).alias("first_elem"),
        F.round(F.sort_array(emb).getItem(0).cast("double"), 6).alias("min_elem"),
        F.size(F.array_distinct(emb)).alias("n_distinct"),
        F.round(
            F.aggregate(
                F.slice(emb, 1, 8),
                F.lit(0).cast("decimal(30,9)"),
                # float→double widening is exact in both engines; casting the
                # float straight to decimal disagrees at the 7th digit.
                lambda acc, x: (acc + x.cast("double").cast("decimal(18,9)")).cast(
                    "decimal(30,9)"
                ),
            ).cast("double"),
            6,
        ).alias("head_sum"),
    ).transform(ordered_static, key_bounds(sf_dir, "embeddings"), "vec_id")


@register(
    "q43b_explode",
    oracle="""
    SELECT doc_id, unnest(string_split(text, ' ')) AS token
    FROM documents WHERE doc_id < 20
    ORDER BY doc_id, token
    """,
)
def q43b_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode / UNNEST of a split array (UDTF-shaped lateral view)."""
    d = Catalog(spark, sf_dir).documents
    return (
        d.filter(F.col("doc_id") < 20)
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .transform(ordered, "doc_id", "token")
    )


@register(
    "q44_struct_map",
    oracle="""
    SELECT n_nationkey,
           {'name': n_name, 'region': n_regionkey}.name     AS s_name,
           {'name': n_name, 'region': n_regionkey}.region   AS s_region,
           map([n_name], [n_regionkey])[n_name][1]          AS m_val
    FROM nation ORDER BY n_nationkey
    """,
)
def q44_struct_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct construction + field access, map build + key lookup."""
    n = Catalog(spark, sf_dir).nation
    st = F.struct(F.col("n_name").alias("name"), F.col("n_regionkey").alias("region"))
    mp = F.create_map(F.col("n_name"), F.col("n_regionkey"))
    return n.select(
        "n_nationkey",
        st.getField("name").alias("s_name"),
        st.getField("region").alias("s_region"),
        mp[F.col("n_name")].alias("m_val"),  # getItem(Column) deprecated in Spark 3+
    ).transform(ordered, "n_nationkey")


@register(
    "q45_json_funcs",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
           json_extract_string(props, '$.missing')           AS missing
    FROM events ORDER BY event_id
    """,
)
def q45_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events.props string column.

    Parse ONCE through an intermediate projection, then project struct
    fields: referencing ``from_json(...).getField(..)`` per output column
    runs the Jackson parse once per reference (no CSE across the Project
    — measured 25% slower at sf0.1, 2× parse at sf1); per-path
    get_json_object would re-parse likewise.
    """
    ev = Catalog(spark, sf_dir).events
    # range-partition BEFORE the parse: a sampled range sort above it
    # would run the Jackson parse twice (presort_ranges)
    return (
        ev.select("event_id", "props")
        .transform(presort_static, key_bounds(sf_dir, "events"), "event_id")
        .select(
            "event_id", F.from_json("props", "k bigint, missing string").alias("_p")
        )
        .select(
            "event_id",
            F.col("_p.k").alias("k_val"),
            F.col("_p.missing").alias("missing"),
        )
        .sortWithinPartitions("event_id")
    )


@register(
    "q45b_from_to_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS parsed_k,
           '{"id":' || CAST(event_id AS VARCHAR) || ',"type":"' || event_type || '"}' AS rendered
    FROM events WHERE event_id < 100 ORDER BY event_id
    """,
)
def q45b_from_to_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json with explicit schema + to_json rendering."""
    ev = Catalog(spark, sf_dir).events
    parsed = F.from_json("props", "k bigint")
    rendered = F.to_json(F.struct(F.col("event_id").alias("id"), F.col("event_type").alias("type")))
    return (
        ev.filter(F.col("event_id") < 100)
        .select(
            "event_id",
            parsed.getField("k").alias("parsed_k"),
            rendered.alias("rendered"),
        )
        .transform(ordered_static, key_bounds(sf_dir, "events"), "event_id")
    )


@register(
    "q46_hash_misc",
    oracle="""
    SELECT p_partkey,
           md5(p_name)                                        AS h_md5,
           sha256(p_name)                                     AS h_sha,
           greatest(p_size, 25)                               AS g,
           least(p_size, 25)                                  AS l,
           CAST(('0x' || substr(md5(p_name), 1, 15)) AS BIGINT) AS h_int
    FROM part ORDER BY p_partkey
    """,
)
def q46_hash_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5/sha2/greatest/least + portable hash→int (hex prefix of md5)."""
    p = Catalog(spark, sf_dir).part
    return p.select(
        "p_partkey",
        F.md5("p_name").alias("h_md5"),
        F.sha2(F.col("p_name"), 256).alias("h_sha"),
        F.greatest(F.col("p_size"), F.lit(25)).alias("g"),
        F.least(F.col("p_size"), F.lit(25)).alias("l"),
        F.conv(F.substring(F.md5("p_name"), 1, 15), 16, 10).cast("bigint").alias("h_int"),
    ).transform(ordered_static, key_bounds(sf_dir, "part"), "p_partkey")


@register(
    "q44b_pivot",
    oracle="""
    SELECT n_name,
           -- COUNT (BIGINT), not SUM: DuckDB SUM(INTEGER) returns HUGEINT,
           -- which renders as float under the driver's canonicalization
           -- while Spark's pivot-count is BIGINT (the q49 round-2 red)
           COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS urgent,
           COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS medium,
           COUNT(CASE WHEN o_orderpriority = '5-LOW'    THEN 1 END) AS low
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
)
def q44b_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): order counts per nation by priority column.

    ``groupBy().pivot(col, values)`` with explicit pivot values — never
    let Spark scan for distinct values on a 100 TB table.
    """
    c = Catalog(spark, sf_dir)
    joined = (
        c.orders.join(c.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(c.nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    wide = (
        joined.groupBy("n_name")
        .pivot("o_orderpriority", ["1-URGENT", "3-MEDIUM", "5-LOW"])
        .count()
    )
    return wide.select(
        "n_name",
        F.coalesce(F.col("1-URGENT"), F.lit(0)).alias("urgent"),
        F.coalesce(F.col("3-MEDIUM"), F.lit(0)).alias("medium"),
        F.coalesce(F.col("5-LOW"), F.lit(0)).alias("low"),
    ).transform(ordered, "n_name")


@register(
    "q44c_unpivot",
    oracle="""
    SELECT p_partkey, metric, val FROM (
      SELECT p_partkey,
             UNNEST(['size', 'retail']) AS metric,
             UNNEST([CAST(p_size AS DOUBLE), p_retailprice]) AS val
      FROM part
    ) WHERE p_partkey < 500
    ORDER BY p_partkey, metric
    """,
)
def q44c_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt (wide→long): one row per (part, metric)."""
    p = Catalog(spark, sf_dir).part.filter(F.col("p_partkey") < 500)
    return (
        p.select(
            "p_partkey",
            F.col("p_size").cast("double").alias("size"),
            F.col("p_retailprice").alias("retail"),
        )
        .unpivot("p_partkey", ["size", "retail"], "metric", "val")
        .transform(ordered_static, key_bounds(sf_dir, "part"), "p_partkey", "metric")
    )


@register(
    "q43c_higher_order",
    oracle="""
    SELECT vec_id,
           ROUND(CAST(list_sum(list_transform(embedding[1:16],
                 x -> CAST(abs(CAST(x AS DOUBLE)) AS DECIMAL(18,9)))) AS DOUBLE), 6) AS l1_head,
           len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0)) AS n_pos,
           ROUND(CAST(list_sum(list_transform(
                 list_zip(embedding[1:8], embedding[9:16]),
                 p -> CAST(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)
                      AS DECIMAL(18,9)))) AS DOUBLE), 6) AS zip_dot
    FROM embeddings ORDER BY vec_id
    """,
)
def q43c_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array lambdas: transform / filter / zip_with / aggregate.

    These are the codegen'd building blocks the similarity kernels fold
    over; decimal accumulators keep the fold order-independent for the
    cross-engine check.
    """
    e = Catalog(spark, sf_dir).embeddings
    emb = F.col("embedding")
    dec = lambda c: c.cast("decimal(18,9)")
    l1 = F.aggregate(
        F.slice(emb, 1, 16),
        F.lit(0).cast("decimal(30,9)"),
        lambda acc, x: (acc + dec(F.abs(x.cast("double")))).cast("decimal(30,9)"),
    )

    def round6_signed(acc):
        # Spark rounds a double through BigDecimal, so a small negative sum
        # that rounds to zero comes back +0.0 where DuckDB's ROUND keeps
        # -0.0. -abs(r) equals r for every negative input except that zero.
        d = acc.cast("double")
        r = F.round(d, 6)
        return F.when(d < 0, -F.abs(r)).otherwise(r)

    zip_dot = F.aggregate(
        F.zip_with(
            F.slice(emb, 1, 8),
            F.slice(emb, 9, 8),
            lambda a, b: dec(a.cast("double") * b.cast("double")),
        ),
        F.lit(0).cast("decimal(30,9)"),
        lambda acc, x: (acc + x).cast("decimal(30,9)"),
        round6_signed,
    )
    # range-partition BEFORE the lambdas: interpreted HOF evaluation is
    # the dominant cost, and a sampled range sort above it runs it twice
    return (
        e.select("vec_id", "embedding")
        .transform(presort_static, key_bounds(sf_dir, "embeddings"), "vec_id")
        .select(
            "vec_id",
            F.round(l1.cast("double"), 6).alias("l1_head"),
            F.size(F.filter(emb, lambda x: x.cast("double") > 0)).alias("n_pos"),
            zip_dot.alias("zip_dot"),
        )
        .sortWithinPartitions("vec_id")
    )


@register(
    "q10b_null_safe_eq",
    oracle="""
    SELECT a.o_orderkey AS k1, b.o_orderkey AS k2
    FROM (SELECT o_orderkey, CASE WHEN o_orderkey % 7 = 0 THEN NULL
                                  ELSE o_orderkey % 5 END AS grp
          FROM orders WHERE o_orderkey < 300) a
    JOIN (SELECT o_orderkey, CASE WHEN o_orderkey % 7 = 0 THEN NULL
                                  ELSE o_orderkey % 5 END AS grp
          FROM orders WHERE o_orderkey < 300) b
      ON a.grp IS NOT DISTINCT FROM b.grp AND a.o_orderkey < b.o_orderkey
    ORDER BY k1, k2
    """,
)
def q10b_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality (<=> / IS NOT DISTINCT FROM) as a join predicate:
    NULL groups match each other, unlike plain `=`."""
    o = Catalog(spark, sf_dir).orders.filter(F.col("o_orderkey") < 300)
    grp = F.when(F.col("o_orderkey") % 7 == 0, None).otherwise(F.col("o_orderkey") % 5)
    side = o.select(F.col("o_orderkey"), grp.alias("grp"))
    a, b = side.alias("a"), side.alias("b")
    return (
        a.join(
            b,
            F.col("a.grp").eqNullSafe(F.col("b.grp"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .select(F.col("a.o_orderkey").alias("k1"), F.col("b.o_orderkey").alias("k2"))
        .transform(ordered_static, (0.0, 300.0), "k1", "k2")
    )
