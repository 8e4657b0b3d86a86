"""Relational-core catalog entries (SURVEY.md §2.3-2.7).

Each entry exercises one operator family from the reference's inventory,
re-expressed over the driver's TPC-H-ish tables so it can be checked
against the DuckDB oracle. The genomics-typed counterparts (same
operators over reads/contigs fixtures) live in tests/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from virapipe_spark.catalog import query, table
from virapipe_spark.scale import (
    KeyedRanges,
    exact_ntile,
    truncate_lineage,
    two_phase_rank,
)


# ---------------------------------------------------------------------------
# Scans / projections / filters (§2.1, §2.3)
# ---------------------------------------------------------------------------


@query(
    "scan_project",
    oracle="""
    SELECT l_orderkey, l_partkey, l_extendedprice
    FROM lineitem
    WHERE l_quantity < 5
    """,
)
def scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + pushed-down predicate — the `SELECT cols WHERE ...`
    shape of the reference's generic SQL surface (SQLQueryFastq.java:95-110).
    Catalyst pushes both the filter and the 3-column read schema into the
    parquet scan."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity") < 5).select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )


@query(
    "filter_predicate",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice > 150000
    """,
)
def filter_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive scalar predicate — the unmapped-flag filter shape
    (SQLQueryBAM.java:23 `WHERE readUnmapped = TRUE`)."""
    o = table(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 150000)
    ).select("o_orderkey", "o_custkey", "o_totalprice")


@query(
    "orderby_limit",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def orderby_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort + limit — `SELECT * FROM records ORDER BY key ASC`
    (SQLQueryFastq.java:22) with the reference's show(100) limit
    (SQLQueryFastq.java:100). Unique tie-break key keeps the row set
    deterministic. Spark plans this as TakeOrderedAndProject — no full
    sort at scale."""
    o = table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Aggregations (§2.5)
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      round(sum(l_quantity), 2) AS sum_qty,
      round(sum(l_extendedprice), 2) AS sum_base_price,
      round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
      round(avg(l_quantity), 4) AS avg_qty,
      round(avg(l_discount), 4) AS avg_disc,
      count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship hash aggregate (TPC-H Q1 shape): scan -> filter ->
    partial agg -> shuffle on (returnflag, linestatus) -> final agg.
    Map-side partial aggregation bounds the shuffle at O(groups), so the
    plan is scan-dominated at any scale."""
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "count_distinct",
    oracle="""
    SELECT
      count(DISTINCT l_partkey) AS n_parts,
      count(DISTINCT l_suppkey) AS n_supps,
      count(*) AS n_rows
    FROM lineitem
    """,
)
def count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`SELECT count(DISTINCT(sequence)) FROM records` — the documented
    example query at SQLQueryFastq.java:93."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


@query(
    "group_having_band",
    oracle="""
    SELECT l_partkey, count(*) AS c
    FROM lineitem
    GROUP BY l_partkey
    HAVING count(*) > 20 AND count(*) < 40
    """,
)
def group_having_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-band HAVING — the coverage-band filter of digital
    normalization (`minc < count < maxc`, NormalizeRDD.java:94-103).
    Band (20, 40) sits inside the sf0.01 per-part count range [14, 49]
    so the check is non-vacuous (~1.8k rows)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(F.count("*").alias("c"))
        .filter((F.col("c") > 20) & (F.col("c") < 40))
    )


@query(
    "dedup_first_per_key",
    oracle="""
    SELECT
      o_custkey,
      min(o_orderkey) AS first_orderkey,
      min_by(o_totalprice, o_orderkey) AS first_totalprice
    FROM orders
    GROUP BY o_custkey
    """,
)
def dedup_first_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep one representative record per key — the reference dedups
    FASTQ by read id with `reduceByKey((a,b) -> a)`
    (FastqFilter.java:88-94). 'First' is order-dependent there; we pin a
    deterministic representative (min key) so the op is testable."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.min("o_orderkey").alias("first_orderkey"),
        F.min_by("o_totalprice", "o_orderkey").alias("first_totalprice"),
    )


@query(
    "dedup_distinct_rows",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus
    FROM lineitem
    """,
)
def dedup_distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global distinct (NormalizeRDD.java:103 `.distinct()`)."""
    li = table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


@query(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP — free on the engine's SQL surface
    (no reference counterpart; stock Spark semantics)."""
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n"),
    )


@query(
    "agg_pivot",
    oracle="""
    SELECT l_returnflag,
      round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_O,
      round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_F
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (conditional aggregation) — engine SQL-surface extra."""
    li = table(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    return piv.select(
        "l_returnflag", F.col("O").alias("qty_O"), F.col("F").alias("qty_F")
    )


# ---------------------------------------------------------------------------
# Joins (§2.4)
# ---------------------------------------------------------------------------


@query(
    "join_inner_agg",
    oracle="""
    SELECT c_mktsegment,
           round(sum(o_totalprice), 2) AS segment_total,
           count(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_inner_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join + aggregate. The dimension side is broadcast —
    the Spark-native replacement for the reference's driver-side
    collect-and-filter idiom (FastaFilter.java:54). customer grows with
    scale factor, so the hint is size-gated on the measured parquet
    footprint (scale.broadcast_if_small): broadcast while it fits,
    shuffled hash join beyond — never an unconditional hint on a
    growing table (round-3 ADVICE on q5, applied catalog-wide)."""
    from virapipe_spark import scale

    o = table(spark, sf_dir, "orders")
    c = scale.broadcast_if_small(
        table(spark, sf_dir, "customer"), f"{sf_dir}/customer.parquet"
    )
    return (
        o.join(c, o.o_custkey == F.col("c_custkey"), "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("segment_total"),
            F.count("*").alias("n_orders"),
        )
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c_custkey,
           count(o_orderkey) AS n_orders,
           round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer equi-join, null-tolerant aggregate — the contig ⋈
    BLAST-hits join (BlastNFilter.java:172: contigs with no hit survive
    with null hit columns)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "total_spent"
            ),
        )
    )


@query(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_totalprice > 300000
    )
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join by id set — the reference hand-rolls this by collecting
    ids to the driver and filtering with `!ids.contains(id)`
    (FastaFilter.java:50-65). A left-anti join keeps it distributed and
    broadcastable. Anti-joining against the *filtered* orders subset
    (totalprice > 300k) keeps the result non-empty at sf0.01 (~30 rows)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_left_semi",
    oracle="""
    SELECT p_partkey, p_brand
    FROM part
    WHERE EXISTS (
      SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity > 45
    )
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join (EXISTS) — dual of the anti-join above."""
    p = table(spark, sf_dir, "part")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return p.join(li, p.p_partkey == li.l_partkey, "left_semi").select(
        "p_partkey", "p_brand"
    )


@query(
    "join_broadcast_dims",
    oracle="""
    SELECT r_name, n_name,
           count(*) AS n_suppliers,
           round(sum(s_acctbal), 2) AS total_bal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-join through two broadcast dimensions — the shape every
    reference 'broadcast variable' use case (BlastN.java:103,
    HDFSWriter.java:70) becomes in DataFrame land. Both dims broadcast;
    zero shuffles before the final aggregate."""
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
        )
    )


@query(
    "join_threshold_filter",
    oracle="""
    SELECT l_orderkey, l_partkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount) / o_totalprice * 100, 4)
             AS contribution_pct
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_extendedprice * (1 - l_discount) / o_totalprice * 100 > 70
      AND l_quantity > 30
    """,
)
def join_threshold_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + derived-ratio threshold predicate — the BlastNFilter
    overlap/identity filter (`overlap = (qend-qstart+1)/len(seq)*100 > 70
    AND pident > 70`, BlastNFilter.java:172-192), with the *intended*
    float-division semantics (the reference's integer division makes
    overlap 0 — see QUIRKS.md)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    pct = F.col("l_extendedprice") * (1 - F.col("l_discount")) / F.col("o_totalprice") * 100
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter((pct > 70) & (F.col("l_quantity") > 30))
        .select(
            "l_orderkey",
            "l_partkey",
            "l_linenumber",
            F.round(pct, 4).alias("contribution_pct"),
        )
    )


# ---------------------------------------------------------------------------
# Window functions (§2.6)
# ---------------------------------------------------------------------------


@query(
    "window_topk_per_group",
    oracle="""
    SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rn
    FROM (
      SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
             ) AS rn
      FROM lineitem
    )
    WHERE rn <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via row_number — the engine's ranking surface
    (no reference counterpart beyond ORDER BY; SURVEY §2.6)."""
    li = table(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_returnflag").orderBy(
        F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber"
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice", "rn")
    )


@query(
    "window_running_sum",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           round(sum(l_quantity) OVER (
             PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS running_qty
    FROM lineitem
    WHERE l_suppkey <= 10
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate over an ordered partition."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 10)
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.sum("l_quantity").over(w), 2).alias("running_qty"),
    )


@query(
    "window_lag_gap",
    oracle="""
    SELECT user_id, event_id,
           epoch_us(ts) - epoch_us(lag(ts) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
           )) AS gap_us
    FROM events
    WHERE user_id <= 20
    """,
)
def window_lag_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() — inter-event gap per user; the primitive under
    sessionization (see extensions). r12: on scale.KeyedRanges (the
    distributed segmented scan) instead of a per-user window, so a
    bot-tail key histogram cannot serialize one user onto one task —
    see sessionize_events for the full rationale; bit-identical at
    sf0.01/sf0.1/skew."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    kr = KeyedRanges(ev, "user_id", ["ts", "event_id"], carry_cols=("ts",))
    f = kr.lag_col(kr.frame, "ts", "__prev_ts")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("__prev_ts"))
    return f.select("user_id", "event_id", gap.alias("gap_us"))


# ---------------------------------------------------------------------------
# Set operations (§2.7)
# ---------------------------------------------------------------------------


@query(
    "set_union",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    UNION
    SELECT o_custkey FROM orders WHERE o_totalprice > 200000
    """,
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) — directory-glob union is implicit in the
    reference (NormalizeRDD.java:39); explicit set semantics here."""
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_totalprice") > 200000).select("o_custkey")
    return a.union(b).distinct()


@query(
    "set_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersect(b)


@query(
    "set_except",
    oracle="""
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 250000
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL EXCEPT (distinct semantics). `subtract` IS EXCEPT DISTINCT;
    `exceptAll().distinct()` is not (a row appearing more often on the
    left than the right would survive). The right side is filtered so the
    result is non-empty at sf0.01 (~11 rows)."""
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 250000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.subtract(o)


# ---------------------------------------------------------------------------
# Generic SQL pass-through (§2.3 row 1 — the flagship surface)
# ---------------------------------------------------------------------------


@query(
    "sql_passthrough",
    oracle="""
    SELECT l_returnflag AS key, count(*) AS n,
           round(avg(l_extendedprice), 4) AS avg_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY key ASC
    """,
)
def sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User SQL over a registered view — `registerTempTable` +
    `sqlContext.sql(query)` (SQLQueryFastq.java:92-99) via
    virapipe_spark.sql.sql()."""
    from virapipe_spark.sql import sql

    li = table(spark, sf_dir, "lineitem")
    return sql(
        li,
        """
        SELECT l_returnflag AS key, count(*) AS n,
               round(avg(l_extendedprice), 4) AS avg_price
        FROM records
        GROUP BY l_returnflag
        ORDER BY key ASC
        """,
    )


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < DATE '1995-03-15'
      AND l_shipdate  > DATE '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape — the canonical 3-way star probe (selective dim
    filter -> fact join -> group -> top-k). Exercises what the single-dim
    entries can't: multi-join ordering and a selective customer filter
    that should broadcast BEFORE the fact-fact join.

    Scale: customer(BUILDING) is ~1/5 of a dim table — broadcast hint;
    orders⋈lineitem shuffles on orderkey (the only unavoidable
    fact-fact exchange); date predicates push into both parquet scans;
    the top-10 is TakeOrderedAndProject (no global sort
    materialization). l_orderkey tiebreak pins the LIMIT boundary."""
    from virapipe_spark import scale

    cust = scale.broadcast_if_small(
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey"),
        f"{sf_dir}/customer.parquet",
    )
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1995-03-15"
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    return (
        li.join(
            orders.join(cust, orders["o_custkey"] == cust["c_custkey"]),
            li["l_orderkey"] == orders["o_orderkey"],
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey   = o_custkey
    JOIN lineitem ON l_orderkey  = o_orderkey
    JOIN supplier ON l_suppkey   = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — the deepest join tree in the catalog (6 tables)
    with the classic correlated predicate: revenue only counts when the
    supplier's nation matches the customer's (local fulfilment).

    Scale: region→nation is a 2-hop dim chain that reduces to a tiny,
    scale-invariant nation-key set — the only joins *unconditionally*
    broadcast. supplier and customer grow linearly with scale factor, so
    a blanket hint would override autoBroadcastJoinThreshold and OOM at
    the 100 TB bar; but leaving them unhinted surrenders to Catalyst's
    static join-size product, which inflates the tiny supplier⋈nation
    chain past the threshold and shuffles all of lineitem⋈orders on
    l_suppkey (measured 0.85 s → 2.8 s at sf0.1; AQE's runtime SMJ→BHJ
    rewrite doesn't refund the map-side shuffle write). They get
    scale.broadcast_if_small instead — hint from the MEASURED parquet
    footprint, exactly what a CBO with table stats would plan: broadcast
    below 32 MB on disk, shuffled join above. The c_nationkey =
    s_nationkey correlation is applied as a post-join filter on two
    already-joined small columns (never a join key — it would skew on
    nation)."""
    from virapipe_spark import scale

    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = table(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supplier = table(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    supplier = scale.broadcast_if_small(supplier, f"{sf_dir}/supplier.parquet")
    customer = scale.broadcast_if_small(
        table(spark, sf_dir, "customer"), f"{sf_dir}/customer.parquet"
    )
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            customer,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue")
        )
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 2) AS p50,
           round(quantile_cont(l_extendedprice, 0.95), 2) AS p95,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles (median + p95) — Spark ``percentile``
    and DuckDB ``quantile_cont`` share the linear-interpolation
    definition, so the values hash-match exactly after rounding.

    Scale: exact percentiles buffer each group's values on the reducer —
    fine for bounded groups (3 return flags); at 100 TB with
    high-cardinality groups switch to ``percentile_approx`` (t-digest,
    mergeable map-side sketch, no full buffering) and accept the
    approximation — the catalog keeps the exact form because the oracle
    must agree bit-for-bit."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 2).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 2).alias("p95"),
        F.count("*").alias("n"),
    )


@query(
    "window_time_range_avg",
    oracle="""
    SELECT user_id, event_id,
           round(avg(value) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ), 4) AS avg_1h
    FROM events
    WHERE user_id <= 20
    """,
)
def window_time_range_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frame — per event, the user's average
    value over the trailing hour. Unlike the ROWS frames elsewhere in
    the catalog, the frame is defined by a TIME interval, so ties and
    bursts widen it; both engines anchor the frame on the epoch-micros
    ordering key (``rangeBetween`` needs a numeric key in Spark).

    Scale: one shuffle on user_id, ordered scan per user with a sliding
    frame — state bounded by the densest hour, not history. The
    streaming twin is a watermarked sliding window."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w), 4).alias("avg_1h"),
    )


@query(
    "q14_promo_share",
    oracle="""
    SELECT round(100.0 *
             sum(CASE WHEN p_type = 'ECONOMY'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END) /
             sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share,
           count(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1995-04-01'
    """,
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — conditional aggregation over a fact⋈dim join:
    the revenue share of one part type in a shipping quarter. The CASE
    inside the sum is the conditional-agg idiom (no second scan, no
    self-join); part broadcasts against the date-pruned lineitem scan."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1995-04-01")
    )
    from virapipe_spark import scale

    part = scale.broadcast_if_small(
        table(spark, sf_dir, "part").select("p_partkey", "p_type"),
        f"{sf_dir}/part.parquet",
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0.0))
    return (
        li.join(part, li["l_partkey"] == F.col("p_partkey"))
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_share"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "join_full_outer",
    oracle="""
    SELECT n.n_nationkey, n.n_name, c.cnt
    FROM nation n
    FULL OUTER JOIN (
      SELECT c_nationkey, count(*) AS cnt FROM customer
      WHERE c_acctbal > 9000 GROUP BY c_nationkey
    ) c ON n.n_nationkey = c.c_nationkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join — completes the join family (inner, left-outer,
    semi, anti, broadcast, zip). Nations with no rich customers keep a
    null count; any orphan aggregate row keeps null nation columns.
    Full outer cannot broadcast (both sides must see all keys) — Spark
    plans a shuffle join on the key, correctly."""
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    agg = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("cnt"))
    )
    return nation.join(
        agg, nation["n_nationkey"] == agg["c_nationkey"], "full_outer"
    ).select("n_nationkey", "n_name", "cnt")


@query(
    "join_salted_skew",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders JOIN nation ON o_orderkey % 25 = n_nationkey
    GROUP BY o_orderpriority
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's skew-safe salted join (scale.salted_join) under the
    driver's correctness gate: a synthetic low-cardinality join key
    (orderkey mod 25 — the worst case a plain shuffle join can meet: 25
    keys across every partition) joined salted, then aggregated. The
    oracle is the PLAIN join — salting must be semantically invisible.

    Scale: the fact side spreads each hot key over n_salts shuffle
    partitions; the 25-row dim side replicates ×n_salts. Deterministic
    content-derived salt keeps it retry-safe (see scale.py)."""
    from virapipe_spark.scale import salted_join

    orders = table(spark, sf_dir, "orders").withColumn(
        "k", (F.col("o_orderkey") % 25).cast("long")
    )
    nation = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("k")
    )
    joined = salted_join(orders, nation, "k", n_salts=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


@query(
    "window_topk_salted",
    oracle="""
    SELECT l_returnflag, l_orderkey, rn FROM (
      SELECT l_returnflag, l_orderkey,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice DESC,
                                         l_orderkey, l_linenumber) AS rn
      FROM lineitem
    ) WHERE rn <= 5
    """,
)
def window_topk_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's two-phase salted top-k (scale.topk_per_group) under
    the driver's gate, against the single-window oracle: with 3 groups,
    a plain ranking window funnels the whole table through 3 tasks;
    phase 1 ranks within (group, salt) buckets at n_salts× parallelism
    and keeps each bucket's top-k, phase 2 ranks the tiny survivor set.
    Results must be identical to the single window — the tie columns
    make the ordering total."""
    from virapipe_spark.scale import topk_per_group

    li = table(spark, sf_dir, "lineitem")
    order = [
        F.col("l_extendedprice").desc(),
        F.col("l_orderkey"),
        F.col("l_linenumber"),
    ]
    return topk_per_group(
        li, ["l_returnflag"], order, 5, ["l_orderkey", "l_linenumber"]
    ).select("l_returnflag", "l_orderkey", "rn")


@query(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions — the full grouping lattice (4 grouping
    sets) in one pass, completing the rollup/pivot family. Spark
    computes all sets with a single shuffle (each input row expands to
    its grouping-set keys map-side, partial-aggregated before the
    exchange); subtotal rows carry NULL dimension values on both
    engines."""
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty")
    )


@query(
    "set_except_all",
    oracle="""
    SELECT o_custkey FROM orders
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — multiset difference (a customer with 5 orders, 2 of
    them 'F', keeps 3 rows). Pairs with set_except (distinct semantics):
    ``exceptAll`` preserves multiplicities, ``subtract`` does not; both
    plan as an aggregate-counted anti-shape, no row-by-row matching."""
    o = table(spark, sf_dir, "orders")
    a = o.select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.exceptAll(b)


@query(
    "set_union_by_name",
    oracle="""
    SELECT c_custkey AS id, c_acctbal AS bal FROM customer WHERE c_acctbal > 9990
    UNION ALL
    SELECT o_custkey AS id, o_totalprice AS bal FROM orders WHERE o_totalprice > 450000
    """,
)
def set_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName — column-resolving union (position-independent), the
    schema-evolution-safe form a long-lived 100 TB pipeline needs when
    upstream column order drifts. The right side is built with its
    columns deliberately reversed to prove resolution is by NAME."""
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9990)
        .select(F.col("c_custkey").alias("id"), F.col("c_acctbal").alias("bal"))
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 450000)
        .select(F.col("o_totalprice").alias("bal"), F.col("o_custkey").alias("id"))
    )
    return c.unionByName(o)


@query(
    "window_ntile_cume",
    oracle="""
    SELECT c_custkey,
           ntile(4) OVER w AS quartile,
           round(cume_dist() OVER w, 6) AS cd
    FROM customer
    WHERE c_nationkey = 3
    WINDOW w AS (ORDER BY c_acctbal, c_custkey)
    """,
)
def window_ntile_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution ranking functions (ntile quartiles + cume_dist) —
    the remaining window-function family the catalog's row_number /
    rank / lag entries didn't cover — computed WITHOUT the global
    window both functions textbook-plan to (r10): the rank comes from
    scale.two_phase_rank (range-partitioned sort + control-plane
    offsets), quartile from scale.exact_ntile's closed form (the SQL
    standard's first-(n mod k)-buckets-get-one-extra sizing both
    engines' window ntile implements), and cume_dist = rn/n because
    (c_acctbal, c_custkey) is a TOTAL order — every row is its own
    peer group, the same tie-free discipline all the catalog's rank
    entries pin. Oracle stays the plain window pair — same numbers,
    different physical plan, which is the point."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_nationkey") == 3)
    ranked, n = two_phase_rank(c, ["c_acctbal", "c_custkey"])
    return ranked.select(
        "c_custkey",
        exact_ntile(F.col("rn"), n, 4).cast("int").alias("quartile"),
        F.round(F.col("rn") / F.lit(n), 6).alias("cd"),
    )


@query(
    "join_null_safe",
    oracle="""
    WITH a AS (
      SELECT c_custkey,
             CASE WHEN c_nationkey % 5 = 0 THEN NULL ELSE c_nationkey END AS nk
      FROM customer
    ),
    b AS (
      SELECT CASE WHEN n_nationkey % 5 = 0 THEN NULL ELSE n_nationkey END AS nk,
             n_name
      FROM nation
    )
    SELECT count(*) AS n_pairs,
           count(*) FILTER (a.nk IS NULL) AS n_null_pairs
    FROM a JOIN b ON a.nk IS NOT DISTINCT FROM b.nk
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): NULL
    keys MATCH each other instead of silently dropping — the semantic
    corner every plain equi-join gets wrong when the key is nullable.
    Every 5th nation key is nulled on both sides so the null-bucket is
    exercised (its pair count is reported separately).

    Scale caution, encoded here deliberately: the NULL bucket is one
    giant join key — at 100 TB a null-heavy column turns a null-safe
    join into a skew hotspot (all nulls meet on one partition). Spark
    still plans a hash join (<=> is an equi-comparison); pair it with
    salting (scale.salted_join) if the null fraction is material."""
    nk_a = F.when(F.col("c_nationkey") % 5 == 0, F.lit(None)).otherwise(
        F.col("c_nationkey")
    )
    nk_b = F.when(F.col("n_nationkey") % 5 == 0, F.lit(None)).otherwise(
        F.col("n_nationkey")
    )
    a = table(spark, sf_dir, "customer").select("c_custkey", nk_a.alias("nk"))
    b = table(spark, sf_dir, "nation").select(nk_b.alias("nk"), "n_name")
    joined = a.join(b, a["nk"].eqNullSafe(b["nk"]))
    return joined.agg(
        F.count("*").alias("n_pairs"),
        F.count(F.when(a["nk"].isNull(), 1)).alias("n_null_pairs"),
    )


@query(
    "filter_regexp",
    oracle="""
    SELECT o_orderkey, o_orderpriority
    FROM orders
    WHERE regexp_matches(o_orderpriority, '^[12]-')
      AND o_totalprice > 300000
    """,
)
def filter_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex predicate (rlike / regexp_matches) — the pattern-matching
    filter surface (the reference greps read names and taxonomy strings;
    catalog analogs use anchored literals, this one a real character
    class). Regex predicates don't push into parquet scans (only the
    companion comparison does) — anchor patterns and pair with a
    pushable predicate, as here."""
    o = table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderpriority").rlike("^[12]-") & (F.col("o_totalprice") > 300000)
    ).select("o_orderkey", "o_orderpriority")


@query(
    "agg_string_concat",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation
    GROUP BY n_regionkey
    """,
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (string_agg / collect_list+sort) —
    the report-building aggregate. Spark's collect_list is
    order-nondeterministic after a shuffle, so the engine sorts the
    collected array before joining: deterministic on both engines, and
    the ORDER BY in the DuckDB oracle pins the same order.

    Scale: collect_list materializes each group in memory — bounded
    here (nations per region); for unbounded groups cap with
    slice(sort_array(...), 1, k) or aggregate counts instead."""
    n = table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
    )


@query(
    "q7_nation_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): revenue flowing between an
    ordered pair of nations, by supplier-nation x customer-nation x
    ship year — the classic DISJUNCTIVE cross-filter ((A,B) or (B,A))
    that a naive planner turns into a post-join filter over the full
    fact join.

    Scale: both nation legs are 25-row broadcasts, and the disjunction
    is pushed to each leg BEFORE the fact join (each side filtered to
    the two named nations — semantically the OR can only pass rows
    where both legs are in {A, B}), so the supplier and customer
    fan-outs shrink at the scan, not after the shuffle. The residual
    exact pair predicate applies post-join on two already-broadcast
    columns. Facts shuffle once per equi-join on their natural keys."""
    pair = ("NATION_1", "NATION_2")
    n1 = (
        table(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*pair))
        .select(
            F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = (
        table(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*pair))
        .select(
            F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
        )
    )
    s = table(spark, sf_dir, "supplier").join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk")
    )
    c = table(spark, sf_dir, "customer").join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk")
    )
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(
            ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
        )
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): top-20 customers by
    revenue lost to returns — fact-heavy join + per-customer rollup +
    global top-k.

    Scale: the returnflag filter pushes into the lineitem scan (reads
    ~1/3 of the fact), nation broadcasts, and the final ordering is a
    TakeOrderedAndProject (top-k heap per partition + driver merge of
    20-row heads), never a full sort of the customer rollup.
    revenue-desc ties break on the unique custkey so the row set is
    deterministic for the hash gate."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — EXISTS decorrelated to a LEFT SEMI join: count
    orders per priority that have at least one late line item (shipped
    >60 days after the order date; the driver schema has no
    l_commitdate, so lateness derives from the order date — same
    correlated-EXISTS plan shape as spec Q4).

    Scale: the date filter prunes orders at the scan; the semi-join
    keys on l_orderkey (equi) with the date correlation as a join-time
    residual — Catalyst plans one shuffle per side and stops probing a
    key at its first match (semi-join short-circuit), never
    materializing the multi-match blowup a full join would."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    li = table(spark, sf_dir, "lineitem")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "q12_priority_class",
    oracle="""
    SELECT month(l_shipdate) AS ship_month,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY ship_month
    """,
)
def q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — conditional aggregation (CASE inside SUM)
    splitting line volume into priority classes per ship month (the
    driver schema has no l_shipmode; month plays the grouping role).

    Scale: the year filter pushes to the lineitem scan; one equi-join
    on the order key and a 12-group aggregate with map-side partials —
    the CASE arithmetic is a codegen'd projection, costing nothing over
    the plain count."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.month("l_shipdate").alias("ship_month"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias(
                "high_line_count"
            ),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias(
                "low_line_count"
            ),
        )
    )


@query(
    "q18_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 200
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           round(sum(l_quantity), 2) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — the HAVING-subquery-then-join-back pattern:
    find orders whose total quantity exceeds a threshold, then
    reassemble the customer-facing rows for exactly those orders.

    Scale: the `big` aggregate reduces lineitem to qualifying order
    keys FIRST, and re-enters as a LEFT SEMI join (the IN subquery) —
    so the expensive 3-table join only ever sees qualifying orders.
    AQE broadcasts the semi side when the threshold keeps it small;
    the final aggregate groups on the already-colocated order key."""
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 200)
        .select("l_orderkey")
    )
    o = table(spark, sf_dir, "orders").join(
        big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi"
    )
    c = table(spark, sf_dir, "customer")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
    )


@query(
    "q22_dormant_value",
    oracle="""
    WITH cutoff AS (
      SELECT avg(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0
    )
    SELECT c_mktsegment,
           count(*) AS n_custs,
           round(sum(c_acctbal), 2) AS total_bal
    FROM customer c, cutoff
    WHERE c.c_acctbal > cutoff.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_mktsegment
    """,
)
def q22_dormant_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — scalar aggregate subquery + NOT EXISTS: count
    high-balance customers with no RECENT order (dormant since
    2000-01-01; "never ordered" is empty in the driver data and a
    0-row result would pass the gate trivially), per market segment
    (the driver schema has no c_phone; mktsegment plays the
    country-code role). The float average is compared, not output, so cross-engine
    reduction-order drift cannot flip any boundary row that the 2dp
    rounding of total_bal would expose — avg() of the same doubles
    agrees to the output precision used here.

    Scale: the scalar subquery is a ONE-ROW aggregate broadcast
    (crossJoin — the assembly_n50_stats precedent); the NOT EXISTS is
    a LEFT ANTI join on the customer key, shuffle-partitioned both
    sides; the final aggregate is 5 groups with map-side partials."""
    c = table(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-01-01")
        .select("o_custkey")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_custs"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


def _order_pair_counts(
    li: DataFrame, distinct_parts: bool = False
) -> DataFrame:
    """(pa, pb, support) for every ordered part pair co-occurring in an
    order — the shared pair stage of the co-purchase graph family
    (triangle count, PageRank, association rules). Blocks on the order
    key (pairs per order bounded by basket size², never corpus size);
    callers choose the input grain (raw lineitem = line-pair support,
    ``distinct_parts=True`` or pre-``.distinct()`` rows = distinct-order
    support) and the support threshold.

    r12 (guide §2.3/§2.4): baskets instead of a self-join. The old
    form shuffled ``li`` TWICE (both sides of the orderkey equi-join)
    and inflated to basket² rows *before* the pair aggregate's map
    side. Now one ``groupBy(l_orderkey).collect_list`` shuffle builds
    the basket (map-side partial collects), pairs expand from the
    array in the map stage of the pair aggregate, and partial counts
    bound that shuffle by the pair domain. Same basket-size² compute
    bound, two data-sized exchanges instead of four, no join.
    ``distinct_parts=True`` folds the caller's per-order
    ``.distinct()`` into the same shuffle via ``collect_set``
    (distinct over (l_orderkey, l_partkey) IS per-basket dedup).
    Pair semantics are value-based (``pa < pb``), identical to the
    old ``a.l_partkey < b.l_partkey`` join condition: duplicate parts
    within an order multiply line-pair support exactly as the
    multiset self-join did, and never pair with themselves."""
    collect = F.collect_set if distinct_parts else F.collect_list
    baskets = li.groupBy("l_orderkey").agg(
        collect("l_partkey").alias("__parts")
    )
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                "__parts",
                lambda x: F.transform(
                    "__parts",
                    lambda y: F.struct(x.alias("pa"), y.alias("pb")),
                ),
            )
        ),
        lambda p: p["pa"] < p["pb"],
    )
    return (
        baskets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.count("*").alias("support"))
    )


@query(
    "graph_triangle_count",
    oracle="""
    WITH pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    edges AS (SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING count(*) >= 2)
    SELECT count(*) AS n_triangles
    FROM edges e1
    JOIN edges e2 ON e2.pa = e1.pb
    JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over a co-occurrence graph — the canonical
    multi-way self-join graph analytic (the degree-of-clustering
    primitive behind community detection). Vertices are parts; an edge
    connects parts co-ordered in >= 2 distinct orders (the support
    threshold keeps the graph sparse — raw single co-occurrence is
    ~30x denser); every triangle is counted once via the a < b < c
    orientation the edge direction enforces.

    Scale: the pair stage blocks on the order key (pairs per order =
    items², bounded by basket size, never corpus size); the support
    HAVING collapses pairs to edges BEFORE the triangle join; the
    wedge join (e1⋈e2 on the shared vertex) is the only
    super-linear step — its volume is sum(deg²) of the SUPPORTED
    graph, the quantity the support threshold exists to bound. All
    three joins are equi-joins Catalyst shuffle-partitions by vertex;
    at 100 TB add degree-ordered orientation (low-degree vertex
    first) to cap per-key wedge fan-out."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = (
        _order_pair_counts(li)
        .filter(F.col("support") >= 2)
        .select("pa", "pb")
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    return (
        e1.join(e2, F.col("e2.pa") == F.col("e1.pb"))
        .join(
            e3,
            (F.col("e3.pa") == F.col("e1.pa"))
            & (F.col("e3.pb") == F.col("e2.pb")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )


@query(
    "parts_pareto_skyline",
    oracle="""
    WITH p AS (
      SELECT p_partkey, p_size,
             CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
      FROM part
    ),
    s AS (
      SELECT *, max(p_size) OVER (ORDER BY price_cents
                 RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS best_cheaper
      FROM p
    )
    SELECT p_partkey, p_size, price_cents
    FROM s WHERE best_cheaper IS NULL OR p_size > best_cheaper
    """,
)
def parts_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto skyline (maximize size, minimize price): a part
    survives iff no strictly cheaper part is at least as large —
    computed without the naive O(n²) dominance self-join, as a single
    running max over a RANGE frame on integer price cents (strictly
    cheaper = RANGE ... 1 PRECEDING; cents make the integer frame
    bound exact where a double RANGE offset couldn't be).

    Scale: the pre-r11 plan was one global RANGE window over all parts
    (SF-linear — data-sized at the 100 TB bar). Now the docstring's
    promised path, made real: pre-aggregate the per-price max size
    (shuffle bounded by DISTINCT prices — the value domain), then the
    strictly-cheaper running max over that distinct-price table via
    scale.two_phase_prefix_agg(max, inclusive=False) — windowless,
    exact, and RANGE-faithful because ties collapsed into the
    pre-aggregate (equal prices never split across ranges). Parts then
    equi-join their price's carry-in. Ties on price keep both rows
    (the strict frame excludes equal prices), so duplicated optima all
    surface."""
    from virapipe_spark.scale import two_phase_prefix_agg

    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_size",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
    )
    per_price = p.groupBy("price_cents").agg(F.max("p_size").alias("psz"))
    best = two_phase_prefix_agg(
        per_price,
        ["price_cents"],
        "psz",
        "best_cheaper",
        agg="max",
        inclusive=False,
    ).select("price_cents", "best_cheaper")
    s = p.join(best, "price_cents")
    return s.filter(
        F.col("best_cheaper").isNull() | (F.col("p_size") > F.col("best_cheaper"))
    ).select("p_partkey", "p_size", "price_cents")


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 — the pure scan-rate benchmark: four conjunctive
    predicates and one global sum, no join, no group key. The query
    every columnar engine is fastest at; here it proves the engine's
    floor: all four predicates push into the parquet scan
    (PushedFilters), the projection reads 4 columns, and the aggregate
    is a map-side partial into a single final row."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n"),
        )
    )


@query(
    "q19_disjunctive_join",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 30
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 45
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — the disjunctive (OR-of-ANDs) join predicate
    that stress-tests predicate decomposition: the optimizer must
    extract the common conjuncts it CAN push (the union of brand/size
    ranges prunes part; the union of quantity ranges prunes lineitem)
    while the full disjunction evaluates post-join (adapted to the
    driver schema: no l_shipmode/l_shipinstruct legs).

    Scale: part is the broadcast side (dim-sized); the residual OR is
    a codegen'd filter on already-joined columns — never a join-key
    explosion. Catalyst's CNF conversion derives the pushable
    brand IN (...) / size / quantity envelopes automatically."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    joined = li.join(p, F.col("p_partkey") == F.col("l_partkey"))
    leg = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return (
        joined.filter(
            leg("Brand#1", 15, 1, 11)
            | leg("Brand#2", 30, 10, 20)
            | leg("Brand#3", 45, 20, 30)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n"),
        )
    )


@query(
    "graph_pagerank",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    und AS (
      SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING count(*) >= 2
    ),
    edges AS (
      SELECT pa AS src, pb AS dst FROM und
      UNION ALL
      SELECT pb AS src, pa AS dst FROM und
    ),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    in1 AS (
      SELECT e.dst, CAST(sum(1000000 // g.d) AS BIGINT) AS s
      FROM edges e JOIN deg g ON e.src = g.src
      GROUP BY e.dst
    ),
    r1 AS (
      SELECT g.src AS node,
             CAST(150000 + (85 * coalesce(i.s, 0)) // 100 AS BIGINT) AS rank,
             g.d
      FROM deg g LEFT JOIN in1 i ON g.src = i.dst
    ),
    in2 AS (
      SELECT e.dst, CAST(sum(r.rank // r.d) AS BIGINT) AS s
      FROM edges e JOIN r1 r ON e.src = r.node
      GROUP BY e.dst
    )
    SELECT g.src AS node,
           CAST(150000 + (85 * coalesce(i.s, 0)) // 100 AS BIGINT) AS rank
    FROM deg g LEFT JOIN in2 i ON g.src = i.dst
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (2 unrolled rounds, integer-exact — graph.pagerank)
    over the part co-purchase graph: vertices are parts, an edge links
    parts co-ordered in >= 2 distinct orders (the triangle-count
    graph, symmetrized). Completes the iterative-algorithm family:
    k-means (centroid update), connected components (label
    propagation), PageRank (rank diffusion) — each with a
    cross-engine-exact arithmetic story.

    Scale: edge construction blocks on the order key (pairs per order
    bounded by basket size²) and the support threshold sparsifies
    before any iteration; each round is one vertex-keyed equi-join +
    sum-aggregate + degree join-back (the Pregel shape — shuffle
    volume = edge count per round, lineage checkpoint-truncated for
    deep iteration counts). Integer ranks (ppm) make the oracle
    comparison bitwise, per the graph.pagerank docstring."""
    from virapipe_spark.graph import pagerank

    # distinct-order grain via collect_set: the per-order dedup rides
    # the basket shuffle instead of paying its own exchange (r12)
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    und = (
        _order_pair_counts(li, distinct_parts=True)
        .filter(F.col("support") >= 2)
        .select("pa", "pb")
    )
    edges = und.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionAll(und.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    # The edge subtree (pair self-join + support agg) is consumed 3x
    # (degree table + each iteration's contrib join); it is a SHUFFLE
    # aggregate, so unlike the IVF broadcast projection (recompute won
    # there, extensions._IVF_MAT) materializing pays off: interleaved
    # A/B x7 at sf0.1 (tools/ab_pagerank.py) measured checkpoint 2.33 s
    # vs recompute 2.70 s median with every order statistic lower.
    # Lazy localCheckpoint per the minhash-signature precedent (blocks
    # free when the frame is unreferenced; on preemptible clusters use
    # reliable checkpoint — graph.py caveat).
    edges = truncate_lineage(edges, eager=False)
    return pagerank(edges, iterations=2)


@query(
    "parts_association_rules",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
    item AS (SELECT l_partkey AS pk, count(*) AS s FROM li GROUP BY 1),
    pair AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS s_ab
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    )
    SELECT pa, pb, CAST(s_ab AS BIGINT) AS s_ab,
           CAST((s_ab * 10000) // ia.s AS BIGINT) AS conf_ab_bp,
           CAST((s_ab * 10000) // ib.s AS BIGINT) AS conf_ba_bp,
           CAST((n_orders * s_ab * 10000) // (ia.s * ib.s) AS BIGINT)
             AS lift_bp
    FROM pair
    JOIN item ia ON pa = ia.pk
    JOIN item ib ON pb = ib.pk
    CROSS JOIN n
    """,
)
def parts_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over co-ordered parts: support,
    both directed confidences, and lift for every part pair co-ordered
    in >= 2 distinct orders — the classic frequent-itemset analytic
    (the k=2 slice of Apriori/FP-growth, which is where real
    recommender pipelines stop at catalog scale).

    All ratios are integer basis points via div (confidence =
    s_ab*10000 div s_a; lift = N*s_ab*10000 div (s_a*s_b)) — exact
    cross-engine, the repo's integer-exact convention.

    Scale: the pair stage blocks on the order key (basket-size²
    bounded, never corpus-bounded) and the support HAVING prunes
    before the two item-support joins (equi-joins on partkey; the
    item-support table is partkey-sized, AQE-broadcastable). The order
    count attaches via a 1-row broadcast crossJoin (the scalar-
    aggregate pattern shared with q11/q15/q22)."""
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n = li.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    item = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.count("*").alias("s")
    )
    pair = (
        _order_pair_counts(li)
        .withColumnRenamed("support", "s_ab")
        .filter(F.col("s_ab") >= 2)
    )
    ia = item.select(F.col("pk").alias("pk_a"), F.col("s").alias("s_a"))
    ib = item.select(F.col("pk").alias("pk_b"), F.col("s").alias("s_b"))
    return (
        pair.join(ia, F.col("pa") == F.col("pk_a"))
        .join(ib, F.col("pb") == F.col("pk_b"))
        .crossJoin(F.broadcast(n))
        .select(
            "pa",
            "pb",
            F.col("s_ab").cast("long").alias("s_ab"),
            F.expr("(s_ab * 10000) div s_a").cast("long").alias("conf_ab_bp"),
            F.expr("(s_ab * 10000) div s_b").cast("long").alias("conf_ba_bp"),
            F.expr("(n_orders * s_ab * 10000) div (s_a * s_b)")
            .cast("long")
            .alias("lift_bp"),
        )
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), ())
    """,
    since=7,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the custom slice of the grouping
    lattice between ROLLUP (agg_rollup) and CUBE (agg_cube): exactly
    the (priority, status), (priority), and grand-total cells, with
    grouping_id disambiguating genuine NULL keys from superaggregate
    rows.

    Scale: Spark expands the sets into one Expand node feeding a
    single hash aggregate — one pass over orders, one shuffle, row
    amplification = number of sets (3), with map-side partials per
    set. Strictly cheaper than unioning three groupBys (three scans,
    three shuffles)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderpriority", "o_orderstatus"], ["o_orderpriority"], []],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select("o_orderpriority", "o_orderstatus", "gid", "n", "total")
    )


# ---------------------------------------------------------------------------
# Bloom-filter join pre-filtering (§2.4 scale extension)
# ---------------------------------------------------------------------------

_BF_M = 16384  # bits
_BF_K = 3  # hash functions


def _bf_nib(p: int) -> str:
    return (
        f"(CASE WHEN ascii(substr(h, {p}, 1)) >= 97"
        f" THEN ascii(substr(h, {p}, 1)) - 87"
        f" ELSE ascii(substr(h, {p}, 1)) - 48 END)"
    )


_BF_POS = (
    f"({_bf_nib(1)} * 4096 + {_bf_nib(2)} * 256"
    f" + {_bf_nib(3)} * 16 + {_bf_nib(4)}) % {_BF_M}"
)


@query(
    "join_bloom_prefilter",
    oracle=f"""
    WITH build AS (
      SELECT DISTINCT o_orderkey AS k FROM orders
      WHERE o_orderpriority = '1-URGENT'
    ),
    probe AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
    bits AS (
      SELECT DISTINCT {_BF_POS} AS pos
      FROM (SELECT md5(concat(j, ':', k)) AS h
            FROM build,
                 (SELECT unnest(generate_series(0, {_BF_K - 1})) AS j))
    ),
    probe_pos AS (
      SELECT k, j, {_BF_POS} AS pos
      FROM (SELECT k, j, md5(concat(j, ':', k)) AS h
            FROM probe,
                 (SELECT unnest(generate_series(0, {_BF_K - 1})) AS j))
    ),
    cand AS (
      SELECT p.k FROM probe_pos p JOIN bits b ON p.pos = b.pos
      GROUP BY p.k HAVING count(*) = {_BF_K}
    ),
    exact AS (SELECT k FROM probe WHERE k IN (SELECT k FROM build))
    SELECT (SELECT count(*) FROM probe) AS n_probe_keys,
           (SELECT count(*) FROM cand) AS n_candidates,
           (SELECT count(*) FROM exact) AS n_exact,
           (SELECT count(*) FROM cand) - (SELECT count(*) FROM exact)
             AS n_false_pos,
           (SELECT count(*) FROM exact WHERE k IN (SELECT k FROM cand))
             = (SELECT count(*) FROM exact) AS no_false_negatives
    """,
    since=7,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pre-filtering — the runtime row-level
    filtering Spark 3.3+ injects automatically
    (`spark.sql.optimizer.runtime.bloomFilter.enabled`), built
    explicitly so the approximation layer itself is hash-checked: the
    build side (urgent orders) sets {_BF_K} md5-derived bits in a
    {_BF_M}-bit filter; probe keys (lineitem orderkeys) whose {_BF_K}
    positions are all set become candidates; the exact semi-join then
    removes false positives. The entry emits the measured funnel
    (probe → candidates → exact) plus the two Bloom guarantees as
    checked values: false positives exist but are bounded (~7% at this
    fill factor), false negatives NEVER (`no_false_negatives`).
    Deterministic md5 hashing makes the sketch — like
    `events_count_min` — bit-identical cross-engine, so the oracle
    rebuilds the identical filter in SQL.

    Scale: this is THE pattern for a 100 TB probe side meeting a small
    build side the optimizer can't see through (e.g. across a shuffle
    or a non-equi stage): the bit-set is {_BF_M} bits regardless of
    build size — broadcast for free — and the probe-side prefilter
    runs scan-side before any shuffle, cutting shuffle volume by the
    non-member fraction. Here the bit positions travel as a broadcast
    DataFrame joined on position (pure DataFrame algebra, no driver
    collect).

    The whole funnel is ONE pass over the probe side: probe positions
    LEFT-join the broadcast bit set, one groupBy(k) derives is_cand
    (all {_BF_K} positions hit), one join against the build side
    derives is_exact, and a single global aggregate emits all five
    columns. The original four-branch shape (separate count branches
    crossJoined at the end, plus an exact semi-join) re-planned the
    probe leg per branch; the single-pass rewrite measured 2.5x faster
    at sf0.1 with bit-identical output (tools/ab_bloom_singlepass.py:
    3.90 s -> 1.55 s median over 7 interleaved reps)."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    build = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )
    probe = li.select(F.col("l_orderkey").alias("k")).distinct()
    js = F.explode(F.array(*[F.lit(j) for j in range(_BF_K)])).alias("j")

    def positions(df: DataFrame) -> DataFrame:
        return (
            df.select("k", js)
            .withColumn("h", F.md5(F.concat(F.col("j"), F.lit(":"), F.col("k"))))
            .withColumn("pos", F.expr(_BF_POS))
        )

    bits = positions(build).select("pos").distinct().withColumn("hit", F.lit(1))
    per_key = (
        positions(probe)
        .join(F.broadcast(bits), "pos", "left")
        .groupBy("k")
        .agg((F.count("hit") == _BF_K).alias("is_cand"))
    )
    flagged = per_key.join(
        build.withColumn("in_build", F.lit(True)), "k", "left"
    ).select("is_cand", F.col("in_build").isNotNull().alias("is_exact"))
    # coalesce(sum, 0): on an empty probe set F.sum yields NULL, but the
    # four-branch predecessor and the DuckDB oracle both return 0 counts
    # (and true no_false_negatives, 0 == 0) — keep that contract.
    agg = flagged.agg(
        F.count("*").alias("n_probe_keys"),
        F.coalesce(F.sum(F.col("is_cand").cast("long")), F.lit(0)).alias(
            "n_candidates"
        ),
        F.coalesce(F.sum(F.col("is_exact").cast("long")), F.lit(0)).alias(
            "n_exact"
        ),
        F.coalesce(
            F.sum((F.col("is_cand") & F.col("is_exact")).cast("long")), F.lit(0)
        ).alias("n_exact_in_cand"),
    )
    return agg.select(
        "n_probe_keys",
        "n_candidates",
        "n_exact",
        (F.col("n_candidates") - F.col("n_exact")).alias("n_false_pos"),
        (F.col("n_exact_in_cand") == F.col("n_exact")).alias(
            "no_false_negatives"
        ),
    )


@query(
    "graph_bfs_hops",
    oracle="""
    WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    und AS (
      SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING count(*) >= 2
    ),
    edges AS (
      SELECT pa AS src, pb AS dst FROM und
      UNION ALL
      SELECT pb AS src, pa AS dst FROM und
    ),
    srcs AS (SELECT DISTINCT src AS node FROM edges WHERE src < 20),
    walk AS (
      SELECT node, 0 AS d FROM srcs
      UNION
      SELECT e.dst AS node, w.d + 1 AS d
      FROM walk w JOIN edges e ON e.src = w.node
      WHERE w.d < 3
    )
    SELECT node, CAST(min(d) AS INTEGER) AS dist
    FROM walk GROUP BY node
    """,
    since=7,
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance (`graph.bfs_hops`, <= 3 hops) over
    the part co-purchase graph, from the low-key part set — the
    reachability/radius primitive the iterative family was missing
    (k-means, connected components, PageRank, now BFS). Distances are
    small integers, so the hash check is bitwise; the oracle walks the
    same graph with a recursive CTE under UNION (set) semantics, which
    bounds the working table at nodes × hops exactly like the engine's
    min-fold.

    Scale: see graph.bfs_hops — per-round shuffle is the frontier's
    out-edges only; edge construction reuses the blocked pair builder
    (`_order_pair_counts`: pairs per order bounded by basket size²,
    support >= 2 sparsifies before any iteration)."""
    from virapipe_spark.graph import bfs_hops

    # distinct-order grain via collect_set (see graph_pagerank note)
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    und = (
        _order_pair_counts(li, distinct_parts=True)
        .filter(F.col("support") >= 2)
        .select("pa", "pb")
    )
    edges = und.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionAll(und.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    # Consumed once per hop round: checkpoint for the same reason as
    # graph_pagerank's edge list (shuffle-aggregate subtree reused 3x).
    edges = truncate_lineage(edges, eager=False)
    sources = edges.filter(F.col("src") < 20).select(
        F.col("src").alias("node")
    ).distinct()
    return bfs_hops(edges, sources, max_hops=3)


@query(
    "parts_fuzzy_pairs",
    oracle="""
    WITH names AS (
      SELECT min(p_partkey) AS pk, p_name,
             string_split(p_name, ' ')[1] AS blk
      FROM part GROUP BY p_name
    )
    SELECT a.pk AS key_a, b.pk AS key_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist
    FROM names a JOIN names b ON a.blk = b.blk AND a.pk < b.pk
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
    since=7,
)
def parts_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance fuzzy matching — the entity-resolution
    primitive (record linkage by approximate string equality) and the
    engine's string-distance family member: distinct part names pair
    within a cheap blocking key (their first token) and survive if
    Levenshtein distance <= 3. Both engines implement the identical
    classic Levenshtein (verified: 'kitten'/'sitting' = 3 on both), so
    the integer distances hash bitwise.

    Scale: the two load-bearing moves are (1) DISTINCT names first —
    edit distance runs per distinct STRING pair, never per row pair
    (64 names here stand in for 20k parts), and (2) pairs form only
    inside blocking buckets, the same candidate-bounding contract as
    every near-dup operator in the catalog (on messier keys the block
    is a q-gram or phonetic prefix; the length filter |len_a - len_b|
    <= d composes the same way). The O(len²) distance evaluates
    JVM-side (codegen'd levenshtein), only on the blocked candidates."""
    p = table(spark, sf_dir, "part")
    names = p.groupBy("p_name").agg(F.min("p_partkey").alias("pk")).select(
        "pk", "p_name", F.split(F.col("p_name"), " ").getItem(0).alias("blk")
    )
    d = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        names.alias("a")
        .join(names.alias("b"), "blk")
        .filter(F.col("a.pk") < F.col("b.pk"))
        .filter(d <= 3)
        .select(
            F.col("a.pk").alias("key_a"),
            F.col("b.pk").alias("key_b"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            d.cast("int").alias("edit_dist"),
        )
    )


@query(
    "lineitem_dq_audit",
    oracle="""
    WITH base AS (
      SELECT count(*) AS n_rows,
             CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS null_keys,
             CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                           THEN 1 ELSE 0 END) AS BIGINT) AS qty_oob,
             CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS disc_oob,
             CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS price_nonpos,
             CAST(sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                           THEN 1 ELSE 0 END) AS BIGINT) AS flag_bad
      FROM lineitem
    ),
    dup AS (
      SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS dup_lines
      FROM (SELECT count(*) AS c FROM lineitem
            GROUP BY l_orderkey, l_linenumber) g
      WHERE c > 1
    )
    SELECT n_rows, null_keys, qty_oob, disc_oob, price_nonpos, flag_bad,
           dup_lines,
           (null_keys = 0 AND dup_lines = 0 AND flag_bad = 0) AS key_ok,
           (qty_oob = 0 AND disc_oob = 0 AND price_nonpos = 0)
             AS ranges_ok
    FROM base, dup
    """,
    since=7,
)
def lineitem_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation audit (the Deequ/Great-Expectations
    operator class): one pass computes the whole constraint suite —
    null-key count, range violations (quantity/discount/price),
    domain-membership violations (returnflag), and composite-key
    duplicate count — and emits both the raw violation counts (for
    trending) and the pass/fail booleans a pipeline gates on. On clean
    TPC-H-shaped data every check passes with zeros, which the oracle
    verifies exactly — and any generator drift or ingestion bug flips
    a count.

    Scale: all single-column checks fuse into ONE map-side-combinable
    aggregate over the scan (conditional sums — no per-check pass);
    the uniqueness check is the only shuffle, keyed on the composite
    key, and emits surplus counts rather than rows. This is the audit
    you run per-partition-batch at 100 TB, persisting one row per
    batch."""
    li = table(spark, sf_dir, "lineitem")
    c = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("long")  # noqa: E731
    base = li.agg(
        F.count("*").alias("n_rows"),
        c(F.col("l_orderkey").isNull()).alias("null_keys"),
        c((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).alias(
            "qty_oob"
        ),
        c((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).alias(
            "disc_oob"
        ),
        c(F.col("l_extendedprice") <= 0).alias("price_nonpos"),
        c(~F.col("l_returnflag").isin("A", "N", "R")).alias("flag_bad"),
    )
    dup = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .agg(
            F.coalesce(F.sum(F.col("c") - 1), F.lit(0))
            .cast("long")
            .alias("dup_lines")
        )
    )
    return base.crossJoin(F.broadcast(dup)).select(
        "n_rows",
        "null_keys",
        "qty_oob",
        "disc_oob",
        "price_nonpos",
        "flag_bad",
        "dup_lines",
        (
            (F.col("null_keys") == 0)
            & (F.col("dup_lines") == 0)
            & (F.col("flag_bad") == 0)
        ).alias("key_ok"),
        (
            (F.col("qty_oob") == 0)
            & (F.col("disc_oob") == 0)
            & (F.col("price_nonpos") == 0)
        ).alias("ranges_ok"),
    )


@query(
    "lineitem_abc_analysis",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM rev),
    ranked AS (
      SELECT l_partkey, cents,
             CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_cents
      FROM rev
    )
    SELECT r.l_partkey, r.cents, r.cum_cents,
           CASE WHEN r.cum_cents * 100 <= t.total * 80 THEN 'A'
                WHEN r.cum_cents * 100 <= t.total * 95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked r, tot t
    """,
    since=7,
)
def lineitem_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification: parts ranked by exact
    revenue cents, running share computed in INTEGER arithmetic
    (`cum*100 <= total*80` instead of a float ratio crossing 0.8 — the
    repo's integer-threshold idiom, immune to last-ulp boundary flips),
    classed A/<=80%, B/<=95%, C/rest. The skyline entry finds
    efficient FRONTIERS; ABC finds revenue CONCENTRATION — the other
    classic Pareto question.

    Scale: one partkey aggregate, then a running total over the
    per-part revenue order. The running total was a GLOBAL window
    until r11 — part is SF-linear (TPC-H: 20k x SF rows), so the
    single-partition sort was data-sized, the same finding as the
    stable-matching dim indices — and is now
    scale.two_phase_prefix_agg: range-partitioned per-range cumsum
    plus a partition-count-sized carry-in collect, exact in int64.
    The total rides a one-row cross join either way."""
    from virapipe_spark.scale import two_phase_prefix_agg

    li = table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    rev = li.groupBy("l_partkey").agg(F.sum(cents).cast("long").alias("cents"))
    tot = rev.agg(F.sum("cents").cast("long").alias("total"))
    ranked = two_phase_prefix_agg(
        rev, [F.col("cents").desc(), "l_partkey"], "cents", "cum_cents"
    ).withColumn("cum_cents", F.col("cum_cents").cast("long"))
    return ranked.crossJoin(F.broadcast(tot)).select(
        "l_partkey",
        "cents",
        "cum_cents",
        F.when(F.col("cum_cents") * 100 <= F.col("total") * 80, "A")
        .when(F.col("cum_cents") * 100 <= F.col("total") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled peel oracle: DuckDB has no iteration, so the fixpoint
    loop is unrolled to ``rounds`` simultaneous-removal rounds —
    chosen above the measured fixpoint depth at both test scales (3
    at sf0.01, 5 at sf0.1), so the unrolled result IS the k-core
    there; the ``stable_ok`` column (every emitted degree >= k)
    certifies convergence in the output itself. Every chained CTE is
    AS MATERIALIZED: DuckDB inlines CTEs by default and each round
    references its predecessor twice, so the naive unroll re-derives
    the whole pair join 2^rounds times (measured: >5 min at sf0.1;
    materialized: seconds)."""
    parts = [
        """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    und AS (SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING count(*) >= 2),
    edges AS MATERIALIZED (
      SELECT pa AS src, pb AS dst FROM und
      UNION ALL
      SELECT pb AS src, pa AS dst FROM und
    ),
    n0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
    d{i} AS MATERIALIZED (
      SELECT e.src, count(*) AS d FROM edges e
      JOIN n{i - 1} a ON e.src = a.node
      JOIN n{i - 1} b ON e.dst = b.node
      GROUP BY e.src
    ),
    n{i} AS MATERIALIZED (SELECT src AS node FROM d{i} WHERE d >= {k})"""
        )
    parts.append(
        f""",
    fin AS (
      SELECT e.src AS node, CAST(count(*) AS BIGINT) AS d FROM edges e
      JOIN n{rounds} a ON e.src = a.node
      JOIN n{rounds} b ON e.dst = b.node
      GROUP BY e.src
    )
    SELECT node, d, d >= {k} AS stable_ok FROM fin"""
    )
    return "".join(parts)


@query("graph_kcore", oracle=_kcore_oracle(k=2, rounds=6), since=8)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition (k=2) of the part co-purchase graph —
    the iterative PEELING member of the graph family (CC, PageRank,
    BFS, triangles established): graph.kcore loops
    drop-degree-below-k rounds to a fixpoint with early stop; the
    DuckDB oracle unrolls 6 simultaneous-removal rounds (above the
    measured fixpoint depth at both scales: 3 at sf0.01, 5 at sf0.1,
    where the core shrinks to 3 nodes), so the hash pins every
    surviving node AND its in-core degree; ``stable_ok`` certifies
    convergence as data. An independent pure-python peel cross-checks
    the fixpoint in tests/test_recall.py.

    Scale: each round is one node-keyed degree aggregate over
    membership-filtered edges (never node-vs-node); the early-stop
    count is scalar control plane (the CC precedent); lineage
    truncates every 3 rounds via reliable-capable checkpoints."""
    from virapipe_spark.graph import kcore

    # r12: basket edge build (the _order_pair_counts port) —
    # distinct_parts folds the old li.distinct() into the same shuffle
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    und = _order_pair_counts(li, distinct_parts=True).filter(
        F.col("support") >= 2
    )
    edges = und.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionAll(und.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    edges = truncate_lineage(edges, eager=False)
    core = kcore(edges, k=2, max_rounds=6)
    return core.select(
        "node", F.col("d").cast("long").alias("d"), (F.col("d") >= 2).alias("stable_ok")
    )


@query(
    "graph_hits_bipartite",
    oracle="""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS hub, l.l_partkey AS auth
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE l.l_partkey < 400
    ),
    a1 AS (
      SELECT auth, CAST(count(*) AS BIGINT) * 1000000 AS auth_score
      FROM e GROUP BY auth
    ),
    h1 AS (
      SELECT e.hub, CAST(sum(a1.auth_score) AS BIGINT) AS hub_score
      FROM e JOIN a1 USING (auth) GROUP BY e.hub
    ),
    a2 AS (
      SELECT e.auth, CAST(sum(h1.hub_score) AS BIGINT) AS auth_score
      FROM e JOIN h1 USING (hub) GROUP BY e.auth
    ),
    h2 AS (
      SELECT e.hub, CAST(sum(a2.auth_score) AS BIGINT) AS hub_score
      FROM e JOIN a2 USING (auth) GROUP BY e.hub
    )
    SELECT 'hub' AS side, hub AS node, hub_score AS score FROM h2
    UNION ALL
    SELECT 'auth' AS side, auth AS node, auth_score AS score FROM a2
    """,
    since=8,
)
def graph_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over the bipartite
    customer->part purchase graph — the DUAL-diffusion member of the
    iterative family (PageRank diffuses one score on one vertex set;
    HITS alternates two scores across a bipartite split: influential
    customers are those buying authoritative parts and vice versa).
    Two integer-exact rounds from a 1e6-scaled start, no in-loop
    normalization (rescaling only — rankings identical, stated in
    graph.hits_bipartite), the oracle unrolling each half-round as a
    join+aggregate exactly like the pagerank precedent. Output: both
    sides' final scores, hash-checked.

    Scale: each half-round is one edge equi-join + key aggregate;
    the part filter (< 400) bounds the authority side like the other
    part-graph entries."""
    from virapipe_spark.graph import hits_bipartite

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") < 400
    ).select("l_orderkey", "l_partkey")
    e = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("hub"), F.col("l_partkey").alias("auth")
        )
        .distinct()
    )
    e = truncate_lineage(e, eager=False)
    hubs, auths = hits_bipartite(e, rounds=2)
    return hubs.select(
        F.lit("hub").alias("side"),
        F.col("hub").alias("node"),
        F.col("hub_score").alias("score"),
    ).unionAll(
        auths.select(
            F.lit("auth").alias("side"),
            F.col("auth").alias("node"),
            F.col("auth_score").alias("score"),
        )
    )


_CM_W = 262144
_CM_D = 3


@query(
    "join_size_estimate_cm",
    oracle=f"""
    WITH a AS (
      SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY l_orderkey
    ),
    b AS (
      SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS c
      FROM orders GROUP BY o_orderkey
    ),
    exact AS (
      SELECT CAST(sum(a.c * b.c) AS BIGINT) AS exact_size
      FROM a JOIN b USING (k)
    ),
    rows_a AS (
      SELECT d.i,
             CAST(CAST('0x' || substr(md5(CAST(d.i AS STRING) || ':' ||
                       CAST(a.k AS STRING)), 1, 8) AS BIGINT)
                  % {_CM_W} AS BIGINT) AS bucket,
             a.c
      FROM a, (SELECT unnest(generate_series(0, {_CM_D - 1})) AS i) d
    ),
    rows_b AS (
      SELECT d.i,
             CAST(CAST('0x' || substr(md5(CAST(d.i AS STRING) || ':' ||
                       CAST(b.k AS STRING)), 1, 8) AS BIGINT)
                  % {_CM_W} AS BIGINT) AS bucket,
             b.c
      FROM b, (SELECT unnest(generate_series(0, {_CM_D - 1})) AS i) d
    ),
    cm_a AS (SELECT i, bucket, CAST(sum(c) AS BIGINT) AS v
             FROM rows_a GROUP BY i, bucket),
    cm_b AS (SELECT i, bucket, CAST(sum(c) AS BIGINT) AS v
             FROM rows_b GROUP BY i, bucket),
    inner_prod AS (
      SELECT cm_a.i, CAST(sum(cm_a.v * cm_b.v) AS BIGINT) AS est
      FROM cm_a JOIN cm_b USING (i, bucket)
      GROUP BY cm_a.i
    ),
    est AS (SELECT CAST(min(est) AS BIGINT) AS est_size FROM inner_prod)
    SELECT e.exact_size, s.est_size,
           s.est_size >= e.exact_size AS never_underestimates,
           round(CAST(s.est_size AS DOUBLE) / e.exact_size, 4) AS ratio
    FROM exact e, est s
    """,
    since=8,
)
def join_size_estimate_cm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based JOIN-SIZE estimation — the count-min inner-product
    estimator (Cormode & Muthukrishnan 2005; the AGMS join-size line):
    each side of a prospective equi-join compresses to a {_CM_D} x
    {_CM_W} count-min sketch, and the join cardinality estimate is the
    MINIMUM over rows of the sketch inner product — the number a query
    optimizer reads to pick broadcast vs shuffle WITHOUT touching
    either table again (sketches are mergeable across partitions by
    vector addition, the mergeable-sketch family's optimizer-facing
    member). Width is the accuracy lever and it must respect the key
    cardinality: the estimator's additive error is ~F1(A)*F1(B)/w, so
    w = {_CM_W} (>= the larger side's distinct keys at these scales)
    keeps the measured ratio near 1 — the first cut (w=256) measured a
    587x overestimate at sf0.1, exactly what the bound predicts for
    150k keys in 256 buckets, and the ``ratio`` column keeps that
    honesty in the output. Deterministic md5 bucket hashing makes the whole estimate
    hash-checkable (the KMV/theta precedent); the exact join size
    rides along, and ``never_underestimates`` certifies the one-sided
    CM guarantee (every bucket product counts at least the true
    matching mass, so est >= exact ALWAYS — a refuting row would be an
    implementation bug, not noise).

    Scale: per-side key aggregates (partial, the count itself), then
    {_CM_D}*{_CM_W}-row sketch tables — the inner product is a
    constant-size join regardless of input; at 100 TB sketches are
    maintained incrementally per partition and merged."""
    li = table(spark, sf_dir, "lineitem").groupBy(
        F.col("l_orderkey").alias("k")
    ).agg(F.count("*").cast("long").alias("c"))
    od = table(spark, sf_dir, "orders").groupBy(
        F.col("o_orderkey").alias("k")
    ).agg(F.count("*").cast("long").alias("c"))

    def cm(side: DataFrame) -> DataFrame:
        rows = side.select(
            F.explode(F.sequence(F.lit(0), F.lit(_CM_D - 1))).alias("i"),
            "k",
            "c",
        ).select(
            "i",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("i").cast("string"),
                                F.lit(":"),
                                F.col("k").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % _CM_W
            ).alias("bucket"),
            "c",
        )
        return rows.groupBy("i", "bucket").agg(
            F.sum("c").cast("long").alias("v")
        )

    cma = cm(li)
    cmb = cm(od)
    est = (
        cma.join(cmb.withColumnRenamed("v", "w"), ["i", "bucket"])
        .groupBy("i")
        .agg(F.sum(F.col("v") * F.col("w")).cast("long").alias("est"))
        .agg(F.min("est").cast("long").alias("est_size"))
    )
    exact = (
        li.join(od.withColumnRenamed("c", "c2"), "k")
        .agg(F.sum(F.col("c") * F.col("c2")).cast("long").alias("exact_size"))
    )
    return (
        exact.crossJoin(F.broadcast(est))
        .select(
            "exact_size",
            "est_size",
            (F.col("est_size") >= F.col("exact_size")).alias(
                "never_underestimates"
            ),
            F.round(
                F.col("est_size").cast("double") / F.col("exact_size"), 4
            ).alias("ratio"),
        )
    )


_EQD_B = 8


@query(
    "lineitem_equidepth_histogram",
    oracle=f"""
    WITH x AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
      FROM lineitem
    ),
    ranked AS (
      SELECT v, row_number() OVER (ORDER BY v) AS rn,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM x
    ),
    bucketed AS (
      SELECT v, n, CAST(((rn - 1) * {_EQD_B}) // n AS BIGINT) AS b
      FROM ranked
    )
    SELECT b AS bucket,
           CAST(min(v) AS BIGINT) AS lo_cents,
           CAST(max(v) AS BIGINT) AS hi_cents,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM bucketed GROUP BY b
    """,
    since=8,
)
def lineitem_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram — the ANALYZE TABLE statistic a
    cost-based optimizer consumes (with lineitem_skew_report and
    join_size_estimate_cm this completes the optimizer-statistics
    family: skew, join size, selectivity): l_extendedprice in exact
    cents splits into {_EQD_B} rank-equal buckets, each reporting its
    [lo, hi] boundary and row count — selectivity of a range predicate
    reads straight off the bucket overlaps. Bucket membership of tied
    values at a boundary is rank-arbitrary, but every OUTPUT is
    deterministic: counts are fixed by the rank arithmetic and a tie
    group straddling a boundary contributes the same value to both
    buckets' extrema.

    Scale: the exact global rank is a single-partition sort window at
    this grain — the known pattern; production ANALYZE samples or
    range-partitions first (Spark's RangePartitioner does exactly
    this), and the two-level prefix sum (docs_shard_assignment) is the
    exact-rank fix when needed. The statistic itself is {_EQD_B} rows
    regardless of input."""
    x = table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("v")
    )
    w_all = W.partitionBy()
    ranked = x.select(
        "v",
        F.row_number().over(W.orderBy("v")).alias("rn"),
        F.count("*").over(w_all).cast("long").alias("n"),
    )
    bucketed = ranked.select(
        "v",
        F.expr(f"CAST(((rn - 1) * {_EQD_B}) div n AS BIGINT)").alias("b"),
    )
    return bucketed.groupBy(F.col("b").alias("bucket")).agg(
        F.min("v").cast("long").alias("lo_cents"),
        F.max("v").cast("long").alias("hi_cents"),
        F.count("*").cast("long").alias("n_rows"),
    )


_PROFILE_COLS = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_returnflag",
    "l_linestatus",
    "l_shipdate",
]


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_COLS:
        parts.append(
            f"""SELECT '{c}' AS col_name,
              CAST(count(*) AS BIGINT) AS n_rows,
              CAST(count(*) - count({c}) AS BIGINT) AS n_null,
              CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
              CAST(min({c}) AS STRING) AS min_val,
              CAST(max({c}) AS STRING) AS max_val
            FROM lineitem"""
        )
    return "\nUNION ALL\n".join(parts)


@query("lineitem_column_profile", oracle=_profile_oracle(), since=8)
def lineitem_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column table profile — the ANALYZE-TABLE/stats-collection
    pass that precedes any 100 TB tuning decision (broadcast
    thresholds, bucketing keys, skew salting all start from these
    numbers): one row per column with row count, null count, exact
    distinct count, and min/max rendered as strings so heterogeneous
    column types share one schema. Hash-exact: the cross-engine
    surface is CAST(x AS STRING) (QUIRKS 7) on BIGINT/DOUBLE/VARCHAR/
    TIMESTAMP minima and maxima, plus exact integer counts.

    Scale: TWO passes over the scan, deliberately — the null/min/max
    suite fuses into one map-side-combinable aggregate, and the 11
    exact distinct counts run as their own aggregate (one Expand x11 +
    partial aggregate, the standard multi-distinct plan); the one-row
    results crossJoin (broadcast) into the report. Fusing all 45
    expressions into a single agg was measured at ~25 s of pure
    Catalyst time (RewriteDistinctAggregates folds the 33 non-distinct
    aggs into the x11 Expand) vs 3.3 s split — a plan-compile cost,
    not an execution one, but it dominates at any scale. At 100 TB you
    swap countDistinct for approx_count_distinct (HLL) and the whole
    profile collapses back into the single pass — the exact variant
    here IS the oracle that approximation would be measured against
    (embed_ivf_recall precedent).

    Reference parity: profiling/stats endpoints over alignment stores
    (SURVEY §2.5's count/distinct family generalized per-column)."""
    li = table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"{c}__null"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    base = li.agg(F.count("*").cast("long").alias("n_rows"), *aggs)
    nd = li.agg(
        *[
            F.countDistinct(c).cast("long").alias(f"{c}__nd")
            for c in _PROFILE_COLS
        ]
    )
    one = base.crossJoin(nd)
    stack = ", ".join(
        f"'{c}', {c}__null, {c}__nd, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    return one.select(
        "n_rows",
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack}) AS "
            "(col_name, n_null, n_distinct, min_val, max_val)"
        ),
    ).select("col_name", "n_rows", "n_null", "n_distinct", "min_val", "max_val")


def _lpa_oracle(rounds: int) -> str:
    """Unrolled synchronous label-propagation oracle (kcore unroll
    precedent: every chained CTE AS MATERIALIZED — QUIRKS 8). Each
    round: per-(node, label) neighbor counts, per-node max count,
    min-label argmax — semantics shared verbatim with
    graph.label_propagation's struct-max."""
    parts = [
        """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    und AS (SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING count(*) >= 2),
    edges AS MATERIALIZED (
      SELECT pa AS src, pb AS dst FROM und
      UNION ALL
      SELECT pb AS src, pa AS dst FROM und
    ),
    l0 AS MATERIALIZED (
      SELECT DISTINCT src AS node, src AS lbl FROM edges
    )"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
    c{i} AS MATERIALIZED (
      SELECT e.dst AS node, l.lbl, count(*) AS c
      FROM edges e JOIN l{i - 1} l ON e.src = l.node
      GROUP BY e.dst, l.lbl
    ),
    m{i} AS MATERIALIZED (SELECT node, max(c) AS mc FROM c{i} GROUP BY node),
    l{i} AS MATERIALIZED (
      SELECT c.node, min(c.lbl) AS lbl
      FROM c{i} c JOIN m{i} m ON c.node = m.node AND c.c = m.mc
      GROUP BY c.node
    )"""
        )
    parts.append(
        f"""
    SELECT f.node, CAST(f.lbl AS BIGINT) AS lbl,
           f.lbl <> p.lbl AS changed
    FROM l{rounds} f JOIN l{rounds - 1} p ON f.node = p.node"""
    )
    return "".join(parts)


@query("graph_label_propagation", oracle=_lpa_oracle(rounds=4), since=8)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the
    part co-purchase graph (the kcore fixture) — the COMMUNITY member
    of the iterative-graph family (CC finds connectivity; LPA finds
    density structure inside a component). Four deterministic rounds
    (most-frequent neighbor label, min-label tie-break); the hash pins
    every node's final label AND whether the last round still flipped
    it (`changed`) — synchronous LPA may oscillate by design, so the
    transcript, not a convergence claim, is the contract
    (honest-claims rule; the oscillation literature is the reason).

    Scale: see graph.label_propagation — per round one edge-keyed
    count + one node-keyed argmax aggregate, the Pregel shape;
    reliable-capable lineage truncation every 2 rounds."""
    from virapipe_spark.graph import label_propagation

    # r12: basket edge build (the _order_pair_counts port) —
    # distinct_parts folds the old li.distinct() into the same shuffle
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    und = _order_pair_counts(li, distinct_parts=True).filter(
        F.col("support") >= 2
    )
    edges = und.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionAll(und.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    edges = truncate_lineage(edges, eager=False)
    out = label_propagation(edges, rounds=4)
    return out.select("node", F.col("lbl").cast("long").alias("lbl"), "changed")


_HMED_BUCKET = 100000  # $1000-wide histogram buckets in cents


@query(
    "lineitem_histogram_median",
    oracle="""
    WITH pts AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ),
    vals AS (
      SELECT flag, cents, count(*) AS c FROM pts GROUP BY flag, cents
    ),
    cum AS (
      SELECT flag, cents,
             sum(c) OVER (PARTITION BY flag ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS cle,
             sum(c) OVER (PARTITION BY flag) AS n
      FROM vals
    )
    SELECT flag, CAST(min(n) AS BIGINT) AS n,
           CAST((min(n) + 1) // 2 AS BIGINT) AS target_rank,
           CAST(min(cents) AS BIGINT) AS median_cents
    FROM cum WHERE cle >= (n + 1) // 2
    GROUP BY flag
    """,
    since=8,
)
def lineitem_histogram_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed median WITHOUT a global row sort — the
    two-pass histogram algorithm every ABC/N50/RFM docstring defers to,
    implemented for real: pass 1 histograms price-cents into
    $1000-wide buckets and a per-flag prefix sum locates the bucket
    containing the lower-median rank (n+1) div 2; pass 2 scans ONLY
    that bucket's rows, ranking exact values from the carried-in
    cumulative base. The oracle computes the same integer rank
    definition over the full per-value distribution — so the hash
    proves the bucketed refinement finds the identical value while
    never sorting more than one bucket's distinct values per group.

    Scale: pass 1 is a partial-aggregable (flag, bucket) count (1024
    buckets/group, broadcastable); pass 2's filter prunes the scan to
    ~1/1000 of rows per group. This is how exact quantiles are
    actually computed at 100 TB (t-digest is the approximate cousin;
    this is the exact path)."""
    pts = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    hist = pts.groupBy(
        "flag", F.expr(f"cents div {_HMED_BUCKET}").alias("bucket")
    ).agg(F.count("*").alias("c"))
    wb = W.partitionBy("flag").orderBy("bucket")
    cum = hist.select(
        "flag",
        "bucket",
        "c",
        (F.sum("c").over(
            wb.rowsBetween(W.unboundedPreceding, W.currentRow)
        ) - F.col("c")).alias("cum_before"),
        F.sum("c").over(W.partitionBy("flag")).alias("n"),
    ).withColumn("target", F.expr("(n + 1) div 2"))
    med_bucket = (
        cum.filter(F.col("cum_before") + F.col("c") >= F.col("target"))
        .groupBy("flag")
        .agg(
            F.min_by(
                F.struct("bucket", "cum_before", "n", "target"), "bucket"
            ).alias("mb")
        )
        .select(
            "flag",
            F.col("mb.bucket").alias("bucket"),
            F.col("mb.cum_before").alias("cum_before"),
            F.col("mb.n").alias("n"),
            F.col("mb.target").alias("target"),
        )
    )
    # pass 2: only the median bucket's rows per group are ever ranked
    in_bucket = pts.withColumn(
        "bucket", F.expr(f"cents div {_HMED_BUCKET}")
    ).join(F.broadcast(med_bucket), ["flag", "bucket"])
    vals = in_bucket.groupBy(
        "flag", "cents", "cum_before", "n", "target"
    ).agg(F.count("*").alias("c"))
    wv = W.partitionBy("flag").orderBy("cents")
    ranked = vals.withColumn(
        "cle",
        F.col("cum_before")
        + F.sum("c").over(wv.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return (
        ranked.filter(F.col("cle") >= F.col("target"))
        .groupBy("flag")
        .agg(
            F.min("n").cast("long").alias("n"),
            F.min("target").cast("long").alias("target_rank"),
            F.min("cents").cast("long").alias("median_cents"),
        )
    )


@query(
    "orders_ri_audit",
    oracle="""
    WITH li AS (
      SELECT l_orderkey,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS line_cents
      FROM lineitem GROUP BY l_orderkey
    ),
    o AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents
      FROM orders
    ),
    j AS MATERIALIZED (
      SELECT o.o_orderkey, o.total_cents, li.n_lines, li.line_cents
      FROM o FULL OUTER JOIN li ON o.o_orderkey = li.l_orderkey
    )
    SELECT CAST(sum(CASE WHEN total_cents IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_orders,
           CAST(sum(coalesce(n_lines, 0)) AS BIGINT) AS n_lineitems,
           CAST(sum(CASE WHEN total_cents IS NULL
                         THEN n_lines ELSE 0 END) AS BIGINT)
             AS n_orphan_lines,
           CAST(sum(CASE WHEN n_lines IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_childless_orders,
           CAST(sum(CASE WHEN total_cents IS NOT NULL
                          AND n_lines IS NOT NULL
                          AND total_cents <> line_cents
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_price_mismatch,
           CAST(max(CASE WHEN total_cents IS NOT NULL
                          AND n_lines IS NOT NULL
                         THEN abs(total_cents - line_cents)
                         ELSE 0 END) AS BIGINT) AS max_abs_diff_cents
    FROM j
    """,
    since=8,
)
def orders_ri_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential-integrity audit — the dq_audit class
    extended across the foreign key (single-table expectations can't
    see orphans): one full-outer join of orders against per-order
    line aggregates yields, in one pass, orphaned lineitems (child
    without parent), childless orders (parent without child), and
    header-vs-detail reconciliation (o_totalprice cents vs summed
    line gross cents — whatever the generator's relationship is, the
    mismatch COUNT and the max absolute diff are the data, reported
    not assumed). Integer-cents exact.

    Scale: the child side pre-aggregates to the join key BEFORE the
    join (the classic RI-audit trick — the join carries one row per
    order, not one per line), then a single conditional-sum reduce;
    at 100 TB both sides shuffle on the same key once, and AQE
    handles the orphan-skew case."""
    li = table(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("line_cents"),
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias(
            "total_cents"
        ),
    )
    j = o.join(li, o["o_orderkey"] == li["l_orderkey"], "full_outer")
    both = F.col("total_cents").isNotNull() & F.col("n_lines").isNotNull()
    return j.agg(
        F.sum(F.when(F.col("total_cents").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_orders"),
        F.sum(F.coalesce("n_lines", F.lit(0))).cast("long").alias(
            "n_lineitems"
        ),
        F.sum(
            F.when(F.col("total_cents").isNull(), F.col("n_lines")).otherwise(
                0
            )
        )
        .cast("long")
        .alias("n_orphan_lines"),
        F.sum(F.when(F.col("n_lines").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_childless_orders"),
        F.sum(
            F.when(
                both & (F.col("total_cents") != F.col("line_cents")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_price_mismatch"),
        F.max(
            F.when(
                both, F.abs(F.col("total_cents") - F.col("line_cents"))
            ).otherwise(0)
        )
        .cast("long")
        .alias("max_abs_diff_cents"),
    )


#: round(log10(1+1/d) * 1e6) for d = 1..9 — python-precomputed literal
#: constants (they sum to exactly 1e6), shared verbatim by both engines
#: so no transcendental ever evaluates inside a query.
_BENFORD_PPM = [
    301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757,
]


def _benford_case() -> str:
    whens = " ".join(
        f"WHEN {d} THEN {ppm}" for d, ppm in enumerate(_BENFORD_PPM, 1)
    )
    return f"CASE digit {whens} END"


@query(
    "lineitem_benford_audit",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                         AS STRING), 1, 1) AS BIGINT) AS digit
      FROM lineitem
      WHERE l_extendedprice > 0
    ),
    counts AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(count(*)) OVER () AS BIGINT) AS total
      FROM digits GROUP BY digit
    )
    SELECT digit, n, total,
           CAST(n * 1000000 // total AS BIGINT) AS observed_ppm,
           CAST({_benford_case()} AS BIGINT) AS benford_ppm,
           CAST(abs(n * 1000000 // total - {_benford_case()}) AS BIGINT)
             AS abs_dev_ppm,
           abs(n * 1000000 // total - {_benford_case()}) > 50000
             AS flagged
    FROM counts
    """,
    since=8,
)
def lineitem_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit — the forensic-accounting
    screen (fabricated or constrained amounts betray themselves in
    the leading-digit distribution): leading digit of exact price
    cents counted per digit, observed frequency in integer ppm
    against the Benford expectation log10(1+1/d) — precomputed as
    LITERAL ppm constants summing to exactly 1e6 and shared verbatim
    by both engines, so no transcendental ever evaluates in a query
    (the oracle-discipline workaround for an inherently logarithmic
    law). Per-digit absolute deviation and a 5%-point flag ship as
    data: TPC-H-style uniform pricing is NOT Benford-distributed, and
    the flags SHOULD fire — the entry is the measurement, the flags
    are what an auditor reads (honest-claims rule: whether this data
    obeys Benford is an empirical output, not an assumption).

    Scale: one digit projection (string head of an integer — stays in
    codegen) + a 9-group count with a window total — the
    constant-width audit row per batch, dq_audit's cost model."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice") > 0
    )
    digit = F.substring(
        F.round(F.col("l_extendedprice") * 100).cast("long").cast("string"),
        1,
        1,
    ).cast("long")
    counts = li.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").cast("long").alias("n")
    )
    counts = counts.withColumn(
        "total", F.sum("n").over(W.partitionBy()).cast("long")
    )
    bppm = F.expr(_benford_case())
    obs = F.expr("n * 1000000 div total")
    return counts.select(
        "digit",
        "n",
        "total",
        obs.cast("long").alias("observed_ppm"),
        bppm.cast("long").alias("benford_ppm"),
        F.abs(obs - bppm).cast("long").alias("abs_dev_ppm"),
        (F.abs(obs - bppm) > 50000).alias("flagged"),
    )


@query(
    "lineitem_gini_lorenz",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem GROUP BY l_suppkey
    ),
    ranked AS (
      SELECT l_suppkey, cents,
             row_number() OVER (ORDER BY cents, l_suppkey) AS i,
             CAST(sum(cents) OVER (ORDER BY cents, l_suppkey
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum,
             CAST(sum(cents) OVER () AS BIGINT) AS total,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM rev
    )
    SELECT CAST(i AS BIGINT) AS i, l_suppkey, cents, cum, total, n,
           CAST(cum * 1000000 // total AS BIGINT) AS lorenz_ppm,
           CAST(i * 1000000 // n AS BIGINT) AS pop_ppm,
           round(CAST(2 * sum(i * cents) OVER ()
                      - (n + 1) * total AS DOUBLE)
                 / (n * total), 4) AS gini
    FROM ranked
    """,
    since=8,
)
def lineitem_gini_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve + Gini coefficient of supplier revenue — the
    RANK-based concentration measure beside the share-square HHI
    (HHI answers "how few control it"; Gini answers "how unequal is
    the whole distribution"): suppliers ranked ascending by exact
    revenue cents, each row carries its Lorenz coordinate
    (population ppm, cumulative-revenue ppm) in integers, and the
    Gini rides every row from the closed form
    G = (2*Σ i*x_(i) − (n+1)*Σx) / (n*Σx) — numerator and both
    denominator factors are exact integers, so the single rounded
    float division is the only float op (the HHI r7 rewrite's
    discipline, applied from the start).

    Scale: one supplier aggregate + one global rank window (the
    honest exact cost, ABC stance — range-partitioned rank + offset
    broadcast at 100 TB); the Σ i*x and totals are unbounded-window
    sums over the already-reduced supplier table."""
    rev = table(spark, sf_dir, "lineitem").groupBy("l_suppkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    wo = W.orderBy("cents", "l_suppkey")
    wall = W.partitionBy()
    ranked = rev.select(
        "l_suppkey",
        "cents",
        F.row_number().over(wo).alias("i"),
        F.sum("cents")
        .over(wo.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("long")
        .alias("cum"),
        F.sum("cents").over(wall).cast("long").alias("total"),
        F.count("*").over(wall).cast("long").alias("n"),
    )
    return ranked.select(
        F.col("i").cast("long").alias("i"),
        "l_suppkey",
        "cents",
        "cum",
        "total",
        "n",
        F.expr("cum * 1000000 div total").cast("long").alias("lorenz_ppm"),
        F.expr("i * 1000000 div n").cast("long").alias("pop_ppm"),
        F.round(
            (
                F.lit(2) * F.sum(F.col("i") * F.col("cents")).over(wall)
                - (F.col("n") + 1) * F.col("total")
            ).cast("double")
            / (F.col("n") * F.col("total")),
            4,
        ).alias("gini"),
    )


def _sssp_oracle(rounds: int) -> str:
    """Unrolled Bellman-Ford oracle: DuckDB has no iteration, so
    ``rounds`` synchronous relaxation rounds are unrolled as chained
    MATERIALIZED CTEs (the kcore-oracle lesson: each round references
    its predecessor twice, so the default CTE inlining re-derives the
    whole prefix exponentially). ``rounds`` is chosen above the
    measured fixpoint depth at both test scales (4 at sf0.01, 8 at
    sf0.1), so the unrolled result IS the shortest-path fixpoint
    there; the ``min_ok`` column (no incoming edge can still improve
    the node) certifies convergence in the output itself."""
    parts = [
        """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
                WHERE l_partkey < 2000),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    und AS (SELECT pa, pb FROM pairs GROUP BY pa, pb),
    edges AS MATERIALIZED (
      SELECT pa AS src, pb AS dst, (pa + pb) % 9 + 1 AS w FROM und
      UNION ALL
      SELECT pb AS src, pa AS dst, (pa + pb) % 9 + 1 AS w FROM und
    ),
    d0 AS MATERIALIZED (
      SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist
      FROM edges WHERE src % 97 = 0
    )"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
    d{i} AS MATERIALIZED (
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM d{i - 1}
        UNION ALL
        SELECT e.dst AS node, d.dist + e.w AS dist
        FROM d{i - 1} d JOIN edges e ON d.node = e.src
      ) GROUP BY node
    )"""
        )
    parts.append(
        f""",
    best AS (
      SELECT e.dst AS node, min(d.dist + e.w) AS best_in
      FROM d{rounds} d JOIN edges e ON d.node = e.src
      GROUP BY e.dst
    )
    SELECT d.node, CAST(d.dist AS BIGINT) AS dist,
           (b.best_in IS NULL OR b.best_in >= d.dist) AS min_ok
    FROM d{rounds} d LEFT JOIN best b ON d.node = b.node"""
    )
    return "".join(parts)


def _sssp_finish(
    und: list[tuple[int, int]], n_bound: int = 2000, rounds: int = 10
) -> list[tuple[int, int, bool]]:
    """Exact driver-side closure of the weighted-SSSP audit over the
    collected undirected (pa, pb) pair list (pa < pb, unique, ids <
    ``n_bound`` by the entry's clip): symmetrize, weight w =
    (pa+pb)%9+1, seed nodes divisible by 97, then ``rounds`` rounds of
    SYNCHRONOUS Bellman-Ford relaxation with early stop — bit-exactly
    the distributed `graph.sssp` semantics (after round r every node
    holds the min over paths of <= r edges; the frontier-limited loop
    computes the same d_r, and both stop at the fixpoint), followed by
    the ``min_ok`` certification (no incoming edge can still relax).
    Vectorized: ids index numpy arrays directly, so a round is one
    fancy-index + minimum.at over the edge arrays. Returns sorted
    (node, dist, min_ok) rows for reached nodes only (the sparse
    contract)."""
    import numpy as np

    if not und:
        return []
    pa = np.fromiter((a for a, _ in und), np.int64, len(und))
    pb = np.fromiter((b for _, b in und), np.int64, len(und))
    w1 = (pa + pb) % 9 + 1
    src = np.concatenate([pa, pb])
    dst = np.concatenate([pb, pa])
    w = np.concatenate([w1, w1])
    inf = np.int64(1) << 62
    dist = np.full(n_bound, inf, np.int64)
    seeds = np.unique(src[src % 97 == 0])
    dist[seeds] = 0
    for _ in range(rounds):
        ds = dist[src]
        m = ds < inf
        if not m.any():
            break
        prev = dist.copy()
        np.minimum.at(dist, dst[m], ds[m] + w[m])
        if np.array_equal(dist, prev):
            break
    ds = dist[src]
    m = ds < inf
    best = np.full(n_bound, inf, np.int64)
    np.minimum.at(best, dst[m], ds[m] + w[m])
    return sorted(
        (int(n), int(dist[n]), bool(best[n] == inf or best[n] >= dist[n]))
        for n in np.flatnonzero(dist < inf)
    )


@query("graph_sssp_weighted", oracle=_sssp_oracle(rounds=10), since=8)
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source WEIGHTED shortest paths (Bellman-Ford) over the
    part co-purchase graph — the weighted member of the iterative
    graph family (bfs_hops is the unit-weight case; kcore peels,
    pagerank diffuses). Edge weight = (pa+pb)%9+1, deterministic
    integer; seeds = nodes divisible by 97; distances exact int64
    sums, so the hash pins every reached node's true distance. The
    oracle unrolls 10 simultaneous-relaxation rounds (above the
    measured fixpoint depth: 4 at sf0.01, 8 at sf0.1); the engine's
    frontier-limited loop early-stops at the fixpoint, where both
    agree; ``min_ok`` certifies no edge can still relax — convergence
    as data, the kcore stable_ok / honest-claims shape. An
    independent python Dijkstra cross-checks the fixpoint in
    tests/test_recall.py.

    Scale (r12 rewrite, guide §5 — control-plane finishing): the
    data-sized work is the distinct-pair aggregate over lineitem,
    which stays distributed. The GRAPH it produces is domain-bounded
    BY CONSTRUCTION — the entry (and oracle) clip part keys < 2000,
    so the undirected edge list is ≤ C(2000,2) rows at ANY scale
    factor. The 10-round synchronous relaxation + certification
    therefore run driver-side in vectorized exact-int64 numpy
    (`_sssp_finish` — ids index arrays directly; one fancy-index +
    `minimum.at` per round), bit-equal to the frontier-limited
    distributed loop (after round r both hold the min over <= r-edge
    paths, and both early-stop at the fixpoint; twin test pins this
    on real data). `graph.sssp` remains the unbounded-graph path and
    stays exercised by its hand-graph/Dijkstra tests."""
    # r12: basket edge build (the _order_pair_counts port) —
    # distinct_parts folds the old li.distinct() into the shuffle, and
    # the pair aggregate IS the old pairs-level .distinct()
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") < 2000)
        .select("l_orderkey", "l_partkey")
    )
    und = _order_pair_counts(li, distinct_parts=True).select("pa", "pb")
    pairs = [(int(r["pa"]), int(r["pb"])) for r in und.collect()]
    rows = _sssp_finish(pairs, n_bound=2000, rounds=10)
    return spark.createDataFrame(
        rows, schema="node long, dist long, min_ok boolean"
    )


@query(
    "lineitem_bucket_fingerprint",
    oracle="""
    WITH rows_h AS (
      SELECT CAST('0x' || substr(md5(concat_ws('|',
               l_orderkey, l_partkey, l_suppkey, l_linenumber,
               CAST(round(l_extendedprice * 100) AS BIGINT),
               l_returnflag, l_linestatus)), 1, 15) AS BIGINT) AS h
      FROM lineitem
    )
    SELECT h % 256 AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(h) AS BIGINT) AS xor_digest
    FROM rows_h GROUP BY bucket
    """,
    since=8,
)
def lineitem_bucket_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent bucketed DATASET FINGERPRINT — the
    replica-verification / migration-audit primitive at 100 TB: every
    row canonicalizes to an integer-rendered string (floats first to
    cents, the house idiom — cross-engine float formatting never
    enters the hash), hashes through md5 to a 60-bit int, and folds
    into its bucket's XOR digest. Two copies of a table agree iff all
    256 (bucket, n_rows, xor_digest) rows agree; a single changed,
    dropped, or duplicated row flips its bucket (XOR cancels exact
    duplicate PAIRS — the count column is the companion check that
    catches even-multiplicity edits). Both engines synthesize the
    same hash function, so the digest itself is what the oracle gate
    proves.

    Scale: one projection + one 256-key aggregate; XOR is commutative
    and associative, so partials combine map-side in any order and
    per-shard digests MERGE without re-reading data — the reason this
    beats a sort-based checksum (which needs a total order) for
    distributed integrity checks. Bucket count is a constant: output
    size is independent of table size."""
    li = table(spark, sf_dir, "lineitem")
    row_str = F.concat_ws(
        "|",
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("long"),
        "l_returnflag",
        "l_linestatus",
    )
    h = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("long")
    return (
        li.select(h.alias("h"))
        .groupBy((F.col("h") % 256).alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.expr("bit_xor(h)").cast("long").alias("xor_digest"),
        )
    )


# ---------------------------------------------------------------------------
# Cascade-delete propagation audit (the GDPR erasure shape)
# ---------------------------------------------------------------------------


@query(
    "orders_cascade_delete",
    oracle="""
    WITH del_c AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    ),
    del_o AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM del_c)
    ),
    del_l AS (
      SELECT l_orderkey, l_linenumber FROM lineitem
      WHERE l_orderkey IN (SELECT o_orderkey FROM del_o)
    ),
    left_o AS (
      SELECT o_orderkey, o_custkey FROM orders
      WHERE o_custkey NOT IN (SELECT c_custkey FROM del_c)
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM del_c) AS n_customers_deleted,
      (SELECT CAST(count(*) AS BIGINT) FROM del_o) AS n_orders_deleted,
      (SELECT CAST(count(*) AS BIGINT) FROM del_l) AS n_lineitems_deleted,
      (SELECT CAST(count(*) AS BIGINT) FROM customer)
        - (SELECT count(*) FROM del_c) AS n_customers_left,
      (SELECT CAST(count(*) AS BIGINT) FROM left_o) AS n_orders_left,
      (SELECT CAST(count(*) AS BIGINT) FROM lineitem)
        - (SELECT count(*) FROM del_l) AS n_lineitems_left,
      (SELECT count(*) FROM left_o
       WHERE o_custkey IN (SELECT c_custkey FROM del_c)) = 0
        AS no_orphaned_orders
    """,
    since=8,
)
def orders_cascade_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASCADE-DELETE propagation — the GDPR/right-to-erasure shape:
    deleting one customer segment must take its orders and their line
    items with it, across three referential hops. The entry computes
    the full deletion manifest (per-table delete counts and surviving
    counts) plus the invariant that makes the cascade correct
    (`no_orphaned_orders`: no surviving order references a deleted
    customer) — the complement of orders_ri_audit, which checks keys
    that EXIST; this checks the closure of keys being REMOVED. In a
    lakehouse this manifest is exactly what a MERGE/DELETE commit
    protocol needs before it swaps files (events_upsert_merge's
    deletion sibling).

    Scale: each hop is one key-keyed semi/anti join flowing root →
    leaves (customer keys → order keys → line items), never a
    multi-way product; counts are one-row aggregates assembled by
    broadcast. The deleted-key frontier is what shuffles — bounded by
    the deletion request, not table size — and at 100 TB the same
    plan drives the actual file-rewrite job (anti-join output is the
    keep-set writer input)."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    del_c = cust.filter(F.col("c_mktsegment") == "AUTOMOBILE").select(
        "c_custkey"
    )
    del_o = orders.join(
        del_c, orders.o_custkey == del_c.c_custkey, "left_semi"
    ).select("o_orderkey")
    del_o = del_o.persist()
    del_l = li.join(
        del_o, li.l_orderkey == del_o.o_orderkey, "left_semi"
    ).select("l_orderkey", "l_linenumber")
    left_o = orders.join(
        del_c, orders.o_custkey == del_c.c_custkey, "left_anti"
    ).select("o_orderkey", "o_custkey")
    left_o = left_o.persist()
    n_del_c = del_c.agg(F.count("*").cast("long").alias("n_customers_deleted"))
    n_del_o = del_o.agg(F.count("*").cast("long").alias("n_orders_deleted"))
    n_del_l = del_l.agg(
        F.count("*").cast("long").alias("n_lineitems_deleted")
    )
    n_cust = cust.agg(F.count("*").cast("long").alias("n_cust_total"))
    n_left_o = left_o.agg(F.count("*").cast("long").alias("n_orders_left"))
    n_li = li.agg(F.count("*").cast("long").alias("n_li_total"))
    orphans = left_o.join(
        del_c, left_o.o_custkey == del_c.c_custkey, "left_semi"
    ).agg(F.count("*").alias("n_orphans"))
    return (
        n_del_c.crossJoin(F.broadcast(n_del_o))
        .crossJoin(F.broadcast(n_del_l))
        .crossJoin(F.broadcast(n_cust))
        .crossJoin(F.broadcast(n_left_o))
        .crossJoin(F.broadcast(n_li))
        .crossJoin(F.broadcast(orphans))
        .select(
            "n_customers_deleted",
            "n_orders_deleted",
            "n_lineitems_deleted",
            (F.col("n_cust_total") - F.col("n_customers_deleted"))
            .cast("long")
            .alias("n_customers_left"),
            "n_orders_left",
            (F.col("n_li_total") - F.col("n_lineitems_deleted"))
            .cast("long")
            .alias("n_lineitems_left"),
            (F.col("n_orphans") == 0).alias("no_orphaned_orders"),
        )
    )


# ---------------------------------------------------------------------------
# Financial rounding-drift audit (round-then-sum vs sum-then-round)
# ---------------------------------------------------------------------------


@query(
    "lineitem_rounding_drift",
    oracle="""
    WITH ln AS (
      SELECT l_orderkey,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT))
               AS net_x10000
      FROM lineitem
    ),
    per_order AS (
      SELECT l_orderkey,
             CAST(sum((net_x10000 + 50) // 100) AS BIGINT)
               AS round_then_sum_cents,
             CAST((sum(net_x10000) + 50) // 100 AS BIGINT)
               AS sum_then_round_cents
      FROM ln GROUP BY l_orderkey
    )
    SELECT CAST(round_then_sum_cents - sum_then_round_cents AS BIGINT)
             AS drift_cents,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(round_then_sum_cents) AS BIGINT) AS total_cents_rts
    FROM per_order GROUP BY drift_cents
    """,
    since=9,
)
def lineitem_rounding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUNDING-DRIFT audit — the finance-pipeline invariant check:
    does rounding each line to cents and summing give the same
    invoice total as summing exactly and rounding once? (It doesn't —
    and regulators care which one you book.) Discounted line values
    live in exact 1/10000-dollar fixed-point (price cents × discount
    percent, both single exactly-rounded casts of the 2-dp source
    columns — no float ever sums), the two policies are pure integer
    arithmetic ((x+50) div 100 = half-up cents), and the output is
    the full drift DISTRIBUTION: how many orders drift by -2..+2
    cents between policies, with the booked total per drift class.
    The per-line vs per-order drift bound (each line contributes
    < 1 cent of truncation, so |drift| <= lines-1) is visible in the
    histogram.

    Scale: one order-keyed partial-aggregated pass carrying BOTH
    policies in the same aggregate (no second scan), then a
    drift-keyed rollup over the orders frame. Mergeable at the
    per-order grain; the fixed-point algebra is the pattern any
    money pipeline should ship instead of floats."""
    li = table(spark, sf_dir, "lineitem")
    net = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
    ).alias("net_x10000")
    per_order = (
        li.select("l_orderkey", net)
        .groupBy("l_orderkey")
        .agg(
            F.sum(F.expr("(net_x10000 + 50) div 100"))
            .cast("long")
            .alias("round_then_sum_cents"),
            F.expr("(sum(net_x10000) + 50) div 100")
            .cast("long")
            .alias("sum_then_round_cents"),
        )
    )
    return (
        per_order.groupBy(
            (
                F.col("round_then_sum_cents")
                - F.col("sum_then_round_cents")
            )
            .cast("long")
            .alias("drift_cents")
        )
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("round_then_sum_cents")
            .cast("long")
            .alias("total_cents_rts"),
        )
    )


# ---------------------------------------------------------------------------
# FIFO allocation matching via cumulative-interval overlap
# ---------------------------------------------------------------------------


@query(
    "lineitem_fifo_matching",
    oracle="""
    WITH b AS (
      SELECT l_partkey AS pk, CAST(l_quantity AS BIGINT) AS q,
             sum(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM lineitem WHERE l_returnflag <> 'R'
    ),
    s AS (
      SELECT l_partkey AS pk, CAST(l_quantity AS BIGINT) AS q,
             sum(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM lineitem WHERE l_returnflag = 'R'
    ),
    m AS (
      SELECT b.pk,
             least(b.cum, s.cum) - greatest(b.cum - b.q, s.cum - s.q)
               AS mq
      FROM b JOIN s ON b.pk = s.pk
       AND b.cum - b.q < s.cum AND s.cum - s.q < b.cum
    ),
    agg AS (
      SELECT pk, CAST(count(*) AS BIGINT) AS n_matches,
             CAST(sum(mq) AS BIGINT) AS matched_qty
      FROM m GROUP BY pk
    ),
    tot AS (
      SELECT l_partkey AS pk,
             CAST(sum(CASE WHEN l_returnflag <> 'R'
                           THEN CAST(l_quantity AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS supplied_qty,
             CAST(sum(CASE WHEN l_returnflag = 'R'
                           THEN CAST(l_quantity AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS returned_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT tot.pk AS l_partkey, tot.supplied_qty, tot.returned_qty,
           CAST(coalesce(agg.n_matches, 0) AS BIGINT) AS n_matches,
           CAST(coalesce(agg.matched_qty, 0) AS BIGINT) AS matched_qty,
           coalesce(agg.matched_qty, 0)
             = least(tot.supplied_qty, tot.returned_qty)
             AS fully_allocated
    FROM tot LEFT JOIN agg ON agg.pk = tot.pk
    """,
    since=9,
)
def lineitem_fifo_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO ALLOCATION MATCHING — the inventory-accounting / order-
    matching-engine primitive (match each return against the oldest
    unconsumed supply of the same part, first-in-first-out), solved
    WITHOUT sequential state: running-quantity prefix sums turn every
    supply line into the interval [cum-q, cum) on the part's supply
    axis and every return line likewise on the demand axis, and FIFO
    matching IS the overlap of those cumulative intervals (matched
    qty = interval intersection length) — the trick that turns an
    inherently stateful ledger walk into one windowed pass + one
    range-predicated equi-join. Per part: supply, returns, match
    count, matched quantity, and the conservation invariant
    (matched = min(supplied, returned) — verified to hold for every
    part at both scales). Quantities are exact integers; the
    FIFO order is pinned by (shipdate, orderkey, linenumber).

    Scale: two part-keyed windows (the sessionize cost model), one
    join blocked on the part key whose per-part fan-out is bounded by
    lines-per-part² only where cumulative ranges actually overlap —
    at 100 TB the matching remains per-key local, mergeable by
    re-basing each shard's prefix sums (the distributed prefix-sum
    refinement)."""
    li = table(spark, sf_dir, "lineitem")
    wv = (
        W.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    q = F.col("l_quantity").cast("long")

    def side(pred) -> DataFrame:
        return li.filter(pred).select(
            F.col("l_partkey").alias("pk"),
            q.alias("q"),
            F.sum(q).over(wv).cast("long").alias("cum"),
        )

    b = side(F.col("l_returnflag") != "R")
    s = side(F.col("l_returnflag") == "R").select(
        F.col("pk").alias("spk"),
        F.col("q").alias("sq"),
        F.col("cum").alias("scum"),
    )
    m = b.join(
        s,
        (F.col("pk") == F.col("spk"))
        & (F.col("cum") - F.col("q") < F.col("scum"))
        & (F.col("scum") - F.col("sq") < F.col("cum")),
    ).select(
        "pk",
        (
            F.least(F.col("cum"), F.col("scum"))
            - F.greatest(
                F.col("cum") - F.col("q"), F.col("scum") - F.col("sq")
            )
        ).alias("mq"),
    )
    agg = m.groupBy("pk").agg(
        F.count("*").cast("long").alias("n_matches"),
        F.sum("mq").cast("long").alias("matched_qty"),
    )
    tot = li.groupBy(F.col("l_partkey")).agg(
        F.sum(F.when(F.col("l_returnflag") != "R", q).otherwise(0))
        .cast("long")
        .alias("supplied_qty"),
        F.sum(F.when(F.col("l_returnflag") == "R", q).otherwise(0))
        .cast("long")
        .alias("returned_qty"),
    )
    return (
        tot.join(agg, tot.l_partkey == agg.pk, "left")
        .select(
            "l_partkey",
            "supplied_qty",
            "returned_qty",
            F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
            F.coalesce("matched_qty", F.lit(0))
            .cast("long")
            .alias("matched_qty"),
            (
                F.coalesce("matched_qty", F.lit(0))
                == F.least("supplied_qty", "returned_qty")
            ).alias("fully_allocated"),
        )
    )


# ---------------------------------------------------------------------------
# Local clustering coefficient (per-node triangle density)
# ---------------------------------------------------------------------------


@query(
    "graph_clustering_coeff",
    oracle="""
    WITH pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    und AS (SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING count(*) >= 2),
    edges AS (
      SELECT pa AS src, pb AS dst FROM und
      UNION ALL
      SELECT pb, pa FROM und
    ),
    deg AS (
      SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
      FROM edges GROUP BY src
    ),
    tri AS (
      SELECT w.node, CAST(count(*) AS BIGINT) AS triangles
      FROM (
        SELECT e1.src AS node, e1.dst AS b, e2.dst AS c
        FROM edges e1 JOIN edges e2
          ON e2.src = e1.src AND e1.dst < e2.dst
      ) w
      JOIN und t ON t.pa = w.b AND t.pb = w.c
      GROUP BY w.node
    )
    SELECT deg.node, deg.degree,
           CAST(coalesce(tri.triangles, 0) AS BIGINT) AS triangles,
           CAST(coalesce(tri.triangles, 0) * 2000000
                // (deg.degree * (deg.degree - 1)) AS BIGINT) AS cc_ppm
    FROM deg LEFT JOIN tri ON tri.node = deg.node
    WHERE deg.degree >= 2
    """,
    since=9,
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL clustering coefficient — graph_triangle_count made
    per-node: for every part in the co-purchase graph (support >= 2
    edges, the shared sparsifier), the fraction of its neighbor pairs
    that are themselves connected, in exact ppm (2·tri·1e6 div
    deg·(deg-1) — integer, no float ratio). This is the locality
    statistic community detection actually thresholds on (a node
    embedded in a clique scores 1e6; a pure hub scores 0), where the
    global triangle count only says how clustered the graph is in
    aggregate. Nodes with degree < 2 are excluded — their coefficient
    is undefined, not zero (the honest-domain rule; emitting 0 would
    poison downstream averages).

    Scale: wedges enumerate from the symmetrized edge list with
    b < c orientation (each unordered neighbor pair once), volume
    Σ deg² — the same bound as the global count, just grouped by the
    wedge center; the closing-edge check is one equi-join against the
    oriented edge table; everything shuffles on vertex keys. The
    degree-ordered-orientation refinement applies unchanged at
    100 TB."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    und = (
        _order_pair_counts(li)
        .filter(F.col("support") >= 2)
        .select("pa", "pb")
    )
    und = truncate_lineage(und, eager=False)
    edges = und.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionByName(und.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("degree")
    )
    e1 = edges.select(F.col("src").alias("node"), F.col("dst").alias("b"))
    e2 = edges.select(F.col("src").alias("node2"), F.col("dst").alias("c"))
    wedges = e1.join(
        e2,
        (F.col("node") == F.col("node2")) & (F.col("b") < F.col("c")),
    ).select("node", "b", "c")
    tri = (
        wedges.join(
            und,
            (F.col("b") == F.col("pa")) & (F.col("c") == F.col("pb")),
            "left_semi",
        )
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("triangles"))
    )
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            F.expr(
                "coalesce(triangles, 0) * 2000000"
                " div (degree * (degree - 1))"
            )
            .cast("long")
            .alias("cc_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Link prediction: common neighbors + Jaccard over the co-purchase graph
# ---------------------------------------------------------------------------


@query(
    "graph_link_prediction",
    oracle="""
    WITH pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    und AS (SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING count(*) >= 2),
    edges AS (
      SELECT pa AS src, pb AS dst FROM und
      UNION ALL
      SELECT pb, pa FROM und
    ),
    deg AS (
      SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
      FROM edges GROUP BY src
    ),
    cn AS (
      SELECT e1.dst AS a, e2.dst AS b, CAST(count(*) AS BIGINT) AS common_n
      FROM edges e1 JOIN edges e2
        ON e2.src = e1.src AND e1.dst < e2.dst
      GROUP BY e1.dst, e2.dst
    ),
    cand AS (
      SELECT cn.a, cn.b, cn.common_n
      FROM cn LEFT JOIN und ON und.pa = cn.a AND und.pb = cn.b
      WHERE und.pa IS NULL
    ),
    scored AS (
      SELECT cand.a, cand.b, cand.common_n,
             da.degree AS deg_a, db.degree AS deg_b,
             CAST(cand.common_n * 1000000
                  // (da.degree + db.degree - cand.common_n) AS BIGINT)
               AS jaccard_ppm
      FROM cand
      JOIN deg da ON da.node = cand.a
      JOIN deg db ON db.node = cand.b
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               ORDER BY common_n DESC, jaccard_ppm DESC, a, b) AS rank
      FROM scored
    )
    SELECT a AS node_a, b AS node_b, common_n, deg_a, deg_b, jaccard_ppm,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 50
    """,
    since=9,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINK PREDICTION by common-neighbor count and neighborhood
    Jaccard — the classic 'who should be connected next' scorer
    (Liben-Nowell & Kleinberg) over the co-purchase graph: for every
    NON-adjacent part pair sharing at least one neighbor, the number
    of shared neighbors and |Γa∩Γb| / |Γa∪Γb| in exact ppm, global
    top-50. This is the complement of graph_clustering_coeff (which
    scores edges that exist) — the recommendation surface scores
    edges that do not. The union denominator is deg_a + deg_b −
    common_n (inclusion-exclusion; the pair itself is non-adjacent so
    no self-term), an integer, and the ranking is fully pinned
    (count desc, jaccard desc, then ids).

    Scale: shared-neighbor pairs enumerate from the symmetrized edge
    list as wedges centered on the common neighbor (volume Σ deg² —
    the triangle-count bound; degree-capping hubs bounds it at
    100 TB), shuffle on vertex keys only; the existing-edge removal
    is one anti-join; the top-50 is a TakeOrdered reduce, not a
    global sort."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    und = (
        _order_pair_counts(li)
        .filter(F.col("support") >= 2)
        .select("pa", "pb")
    )
    und = truncate_lineage(und, eager=False)
    edges = und.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionByName(und.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("degree")
    )
    e1 = edges.select(F.col("src").alias("x"), F.col("dst").alias("a"))
    e2 = edges.select(F.col("src").alias("x2"), F.col("dst").alias("b"))
    cn = (
        e1.join(e2, (F.col("x") == F.col("x2")) & (F.col("a") < F.col("b")))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("common_n"))
    )
    cand = cn.join(
        und,
        (F.col("a") == F.col("pa")) & (F.col("b") == F.col("pb")),
        "left_anti",
    )
    scored = (
        cand.join(deg.withColumnRenamed("node", "a").withColumnRenamed("degree", "deg_a"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("degree", "deg_b"), "b")
        .select(
            F.col("a").alias("node_a"),
            F.col("b").alias("node_b"),
            "common_n",
            "deg_a",
            "deg_b",
            F.expr("common_n * 1000000 div (deg_a + deg_b - common_n)")
            .cast("long")
            .alias("jaccard_ppm"),
        )
    )
    order = [
        F.col("common_n").desc(),
        F.col("jaccard_ppm").desc(),
        F.col("node_a"),
        F.col("node_b"),
    ]
    top = scored.orderBy(*order).limit(50)
    return top.withColumn(
        "rank", F.row_number().over(W.orderBy(*order)).cast("long")
    )


# ---------------------------------------------------------------------------
# Zone-map (min/max statistics) pruning audit: insertion vs date layout
# ---------------------------------------------------------------------------

_ZONE_ROWS = 600  # natural-layout zone width in orderkeys (file proxy)
_ZM_LO = "DATE '1994-03-01'"
_ZM_HI = "DATE '1994-04-30'"


@query(
    "lineitem_zonemap_prune",
    oracle=f"""
    WITH rows_ AS (
      SELECT CAST(l_orderkey // {_ZONE_ROWS} AS BIGINT) AS zone_natural,
             CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               // 32 AS zone_clustered,
             CAST(l_shipdate AS DATE) AS d
      FROM lineitem
    ),
    lim AS (
      SELECT CAST({_ZM_LO} - DATE '1970-01-01' AS BIGINT) AS lo,
             CAST({_ZM_HI} - DATE '1970-01-01' AS BIGINT) AS hi
    ),
    both_ AS (
      SELECT 'natural' AS layout, zone_natural AS zone,
             CAST(d - DATE '1970-01-01' AS BIGINT) AS ed FROM rows_
      UNION ALL
      SELECT 'clustered', zone_clustered,
             CAST(d - DATE '1970-01-01' AS BIGINT) FROM rows_
    ),
    zones AS (
      SELECT layout, zone, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(min(ed) AS BIGINT) AS min_d,
             CAST(max(ed) AS BIGINT) AS max_d,
             CAST(sum(CASE WHEN ed BETWEEN (SELECT lo FROM lim)
                                       AND (SELECT hi FROM lim)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_match
      FROM both_ GROUP BY layout, zone
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_zones,
           CAST(sum(CASE WHEN max_d >= (SELECT lo FROM lim)
                          AND min_d <= (SELECT hi FROM lim)
                         THEN 1 ELSE 0 END) AS BIGINT) AS zones_scanned,
           CAST(sum(n_rows) AS BIGINT) AS rows_total,
           CAST(sum(CASE WHEN max_d >= (SELECT lo FROM lim)
                          AND min_d <= (SELECT hi FROM lim)
                         THEN n_rows ELSE 0 END) AS BIGINT)
             AS rows_scanned,
           CAST(sum(n_match) AS BIGINT) AS rows_matched,
           CAST(sum(CASE WHEN max_d >= (SELECT lo FROM lim)
                          AND min_d <= (SELECT hi FROM lim)
                         THEN n_rows ELSE 0 END) * 1000000
                // greatest(sum(n_match), 1) AS BIGINT)
             AS amplification_ppm
    FROM zones GROUP BY layout
    """,
    since=9,
)
def lineitem_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZONE-MAP pruning audit — min/max data-skipping statistics (the
    parquet row-group / Delta file-stats mechanism) MEASURED as data:
    partition lineitem into zones two ways — 'natural' (insertion
    order: contiguous orderkey ranges, the layout an append-only
    ingest produces) and 'clustered' (32-day shipdate buckets, the
    layout a date-partitioned table produces) — compute each zone's
    min/max shipdate, and replay a two-month range predicate against
    the zone map alone. Reported per layout: zones scanned vs total,
    rows the zone map FAILS to skip (rows_scanned), truly matching
    rows, and the scan amplification in ppm (1e6 = perfect skipping).
    The natural layout scans nearly everything — shipdate is
    uncorrelated with insertion order, every zone's [min,max]
    straddles the predicate — which is precisely the measured
    argument for the clustered/Z-ordered layout twin
    (events_zorder_layout). Dates are epoch-day integers end to end.

    Scale: one pass builds both zone maps (two map-side-combinable
    aggregates over a union), the audit runs on ZONE COUNT rows, and
    nothing here shuffles more than #zones — exactly how a table
    -format maintenance job scores whether a re-cluster is worth it."""
    li = table(spark, sf_dir, "lineitem").select(
        F.expr(f"l_orderkey div {_ZONE_ROWS}").alias("zone_natural"),
        F.expr("datediff(cast(l_shipdate as date), DATE '1970-01-01')")
        .cast("long")
        .alias("ed"),
    ).select(
        "zone_natural",
        F.expr("ed div 32").alias("zone_clustered"),
        "ed",
    )
    both = li.select(
        F.lit("natural").alias("layout"),
        F.col("zone_natural").alias("zone"),
        "ed",
    ).unionByName(
        li.select(
            F.lit("clustered").alias("layout"),
            F.col("zone_clustered").alias("zone"),
            "ed",
        )
    )
    lo = F.expr(f"datediff({_ZM_LO}, DATE '1970-01-01')").cast("long")
    hi = F.expr(f"datediff({_ZM_HI}, DATE '1970-01-01')").cast("long")
    zones = both.groupBy("layout", "zone").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("ed").cast("long").alias("min_d"),
        F.max("ed").cast("long").alias("max_d"),
        F.sum(F.when(F.col("ed").between(lo, hi), 1).otherwise(0))
        .cast("long")
        .alias("n_match"),
    )
    scanned = (F.col("max_d") >= lo) & (F.col("min_d") <= hi)
    return zones.groupBy("layout").agg(
        F.count("*").cast("long").alias("n_zones"),
        F.sum(F.when(scanned, 1).otherwise(0))
        .cast("long")
        .alias("zones_scanned"),
        F.sum("n_rows").cast("long").alias("rows_total"),
        F.sum(F.when(scanned, F.col("n_rows")).otherwise(0))
        .cast("long")
        .alias("rows_scanned"),
        F.sum("n_match").cast("long").alias("rows_matched"),
        F.expr(
            "sum(CASE WHEN max_d >= "
            f"datediff({_ZM_LO}, DATE '1970-01-01') AND min_d <= "
            f"datediff({_ZM_HI}, DATE '1970-01-01') THEN n_rows ELSE 0 END)"
            " * 1000000 div greatest(sum(n_match), 1)"
        )
        .cast("long")
        .alias("amplification_ppm"),
    )


# ---------------------------------------------------------------------------
# Minimum spanning forest (distributed Boruvka) over the co-purchase graph
# ---------------------------------------------------------------------------


@query(
    "graph_mst_boruvka",
    oracle="""
    WITH RECURSIVE pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    und AS (
      SELECT pa, pb, CAST(count(*) AS BIGINT) AS support
      FROM pairs GROUP BY pa, pb HAVING count(*) >= 2
    ),
    e AS (
      SELECT pa, pb, support,
             (1000000 // support) * 17179869184 + pa * 131072 + pb AS cost
      FROM und
    ),
    r AS (
      SELECT e.cost AS ecost, e.pb AS target, e.pa AS node FROM e
      UNION
      SELECT r.ecost, r.target,
             CASE WHEN g.pa = r.node THEN g.pb ELSE g.pa END AS node
      FROM r JOIN e g
        ON (g.pa = r.node OR g.pb = r.node) AND g.cost < r.ecost
      WHERE r.node <> r.target
    )
    SELECT pa, pb, support, CAST(cost AS BIGINT) AS cost
    FROM e WHERE NOT EXISTS (
      SELECT 1 FROM r WHERE r.ecost = e.cost AND r.node = e.pb
    )
    """,
    since=9,
)
def graph_mst_boruvka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MINIMUM SPANNING FOREST by distributed BORUVKA over the
    co-purchase graph — the clustering backbone (single-linkage
    dendrograms, network design, and the cheapest-connection summary
    of any similarity graph are all MSF questions). Edge cost packs
    (inverse support, pa, pb) into one bigint — rarer co-purchases
    cost more, and the id tiebreak makes every cost UNIQUE, so the
    forest is unique and hash-checkable. The Spark side is real
    Boruvka (graph.boruvka_msf): every component picks its min
    outgoing edge in parallel, picked edges contract via
    pointer-doubling CC, component count at least halves per round.
    The ORACLE never runs Boruvka — it applies the CYCLE PROPERTY
    (an edge is in the unique MSF iff its endpoints are NOT connected
    by strictly lighter edges), expanding lighter-edge reachability
    as a recursive fixpoint — two independent constructions of the
    same unique object, the strongest oracle shape in the catalog.

    Scale: per round a constant number of vertex-keyed equi-joins +
    one per-component min (window on the component key); rounds <=
    ceil(log2 V) by the halving invariant; lineage checkpoint-
    truncated per round (the PageRank discipline). The oracle's
    quadratic reachability is the sf0.01-scale check only — the
    cluster-side algorithm never materializes pairs beyond the edge
    list."""
    from virapipe_spark.graph import boruvka_msf

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    und = _order_pair_counts(li).filter(F.col("support") >= 2)
    e = und.select(
        F.col("pa").alias("a"),
        F.col("pb").alias("b"),
        "support",
        (
            F.expr("1000000 div support") * F.lit(17179869184).cast("long")
            + F.col("pa") * 131072
            + F.col("pb")
        )
        .cast("long")
        .alias("cost"),
    )
    e = truncate_lineage(e, reliable=True)
    msf = boruvka_msf(e.select("a", "b", "cost"))
    return msf.join(e.select("a", "b", "support"), ["a", "b"]).select(
        F.col("a").alias("pa"),
        F.col("b").alias("pb"),
        F.col("support").cast("long").alias("support"),
        F.col("cost").cast("long").alias("cost"),
    )


# ---------------------------------------------------------------------------
# Weighted quantiles (quantity-weighted price percentiles)
# ---------------------------------------------------------------------------


@query(
    "lineitem_weighted_median",
    oracle="""
    WITH v AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY flag, cents
    ),
    c AS (
      SELECT flag, cents, w,
             CAST(SUM(w) OVER (PARTITION BY flag ORDER BY cents
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(SUM(w) OVER (PARTITION BY flag) AS BIGINT) AS tot
      FROM v
    )
    SELECT flag AS l_returnflag,
           CAST(min(tot) AS BIGINT) AS tot_weight,
           CAST(min(CASE WHEN 4 * cum >= tot THEN cents END) AS BIGINT) AS wp25,
           CAST(min(CASE WHEN 2 * cum >= tot THEN cents END) AS BIGINT) AS wp50,
           CAST(min(CASE WHEN 4 * cum >= 3 * tot THEN cents END) AS BIGINT)
             AS wp75
    FROM c GROUP BY flag
    """,
    since=9,
)
def lineitem_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED QUANTILES — the unit-weighted percentile family
    (`percentile(x)` weights every row equally; pricing, inventory and
    sampling analyses weight by QUANTITY, so the median "unit shipped"
    is not the median line). Per return flag: the quantity-weighted
    p25/p50/p75 of line price in exact cents, by the textbook
    definition — the smallest value whose cumulative weight reaches
    p·total — with the crossing test cleared of division
    (4·cum ≥ p4·tot over exact integer weights), so every output is an
    exact integer and the hash check is airtight. Spark has no
    weighted percentile built-in; this is the canonical distributed
    construction: collapse to (group, value) partial weights (map-side
    combinable), one ordered window for the running weight, and a
    conditional min per crossing.

    Scale: the aggregate collapses rows to distinct (group, value)
    pairs before any ordered pass, so the window sees bounded input at
    any row count; with a monstrous value domain the same crossing
    test runs over the equi-depth histogram instead (the
    lineitem_equidepth_histogram primitive) — the algebra is
    unchanged."""
    li = table(spark, sf_dir, "lineitem")
    v = (
        li.groupBy(
            F.col("l_returnflag").alias("flag"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("w"))
    )
    win = W.partitionBy("flag").orderBy("cents").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    c = v.select(
        "flag",
        "cents",
        F.sum("w").over(win).cast("long").alias("cum"),
        F.sum("w").over(W.partitionBy("flag")).cast("long").alias("tot"),
    )
    return c.groupBy(F.col("flag").alias("l_returnflag")).agg(
        F.min("tot").cast("long").alias("tot_weight"),
        F.min(F.when(4 * F.col("cum") >= F.col("tot"), F.col("cents")))
        .cast("long")
        .alias("wp25"),
        F.min(F.when(2 * F.col("cum") >= F.col("tot"), F.col("cents")))
        .cast("long")
        .alias("wp50"),
        F.min(F.when(4 * F.col("cum") >= 3 * F.col("tot"), F.col("cents")))
        .cast("long")
        .alias("wp75"),
    )


# ---------------------------------------------------------------------------
# Queueing-delay reconstruction (Lindley recurrence via reflection)
# ---------------------------------------------------------------------------


@query(
    "orders_queue_waiting",
    oracle="""
    WITH q AS (
      SELECT o_orderkey % 8 AS worker,
             CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
               * 86400 + o_orderkey % 86400 AS t,
             CAST(round(o_totalprice * 100) AS BIGINT) % 540 + 60 AS s,
             o_orderkey AS k
      FROM orders
    ),
    x AS (
      SELECT worker, t, s, k,
             CAST(row_number() OVER w AS BIGINT) AS i,
             COALESCE(lag(s) OVER w - (t - lag(t) OVER w), 0) AS dx
      FROM q WINDOW w AS (PARTITION BY worker ORDER BY t, k)
    ),
    pre_t AS (
      SELECT worker, i, s,
             CAST(SUM(dx) OVER (PARTITION BY worker ORDER BY i
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pre
      FROM x
    ),
    p AS (
      SELECT worker, i, s, pre,
             CAST(MIN(pre) OVER (PARTITION BY worker ORDER BY i
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS lo
      FROM pre_t
    )
    SELECT worker, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(max(pre - lo) AS BIGINT) AS max_wait,
           CAST(sum(pre - lo) AS BIGINT) AS total_wait,
           CAST(sum((pre - lo) * i) AS BIGINT) AS wait_checksum,
           CAST(sum(s) AS BIGINT) AS busy_seconds
    FROM p GROUP BY worker
    """,
    since=9,
)
def orders_queue_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUEUE-WAITING-TIME reconstruction — the single-server Lindley
    recurrence W(n+1) = max(0, W(n) + S(n) − A(n+1)+A(n)) that prices
    backlog in any work-queue (order fulfilment, ticket desks, message
    consumers). The recurrence looks inherently sequential, but the
    REFLECTION PRINCIPLE solves it in closed form: with X(i) = prior
    service − interarrival gap and P its prefix sum, W(i) = P(i) −
    min(P(1..i)) — a reflected random walk — so two ordered windows
    (running sum, running min) replace the per-row loop and the whole
    computation distributes per worker. Arrivals and integer-second
    service times are synthesized deterministically from order key and
    price cents; every intermediate is an exact integer, and the
    index-weighted checksum pins each individual wait, not just the
    per-worker summary.

    Scale: one shuffle on the worker key, two window passes over each
    worker's timeline; workers are independent so the partition count
    matches the server fleet. A worker whose history exceeds one
    partition splits by time range: P and min(P) both merge across
    chunks with one boundary value per chunk (prefix sums are
    associative), the standard segmented-scan refinement."""
    o = table(spark, sf_dir, "orders")
    q = o.select(
        (F.col("o_orderkey") % 8).alias("worker"),
        (
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).cast("long")
            * 86400
            + F.col("o_orderkey") % 86400
        ).alias("t"),
        (
            F.round(F.col("o_totalprice") * 100).cast("long") % 540 + 60
        ).alias("s"),
        F.col("o_orderkey").alias("k"),
    )
    w = W.partitionBy("worker").orderBy("t", "k")
    x = q.select(
        "worker",
        "s",
        F.row_number().over(w).cast("long").alias("i"),
        F.coalesce(
            F.lag("s").over(w) - (F.col("t") - F.lag("t").over(w)), F.lit(0)
        ).alias("dx"),
    )
    vwin = W.partitionBy("worker").orderBy("i").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    p = x.select(
        "worker",
        "i",
        "s",
        F.sum("dx").over(vwin).cast("long").alias("pre"),
    ).select(
        "worker",
        "i",
        "s",
        "pre",
        F.min("pre").over(vwin).cast("long").alias("lo"),
    )
    wait = (F.col("pre") - F.col("lo"))
    return p.groupBy("worker").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.max(wait).cast("long").alias("max_wait"),
        F.sum(wait).cast("long").alias("total_wait"),
        F.sum(wait * F.col("i")).cast("long").alias("wait_checksum"),
        F.sum("s").cast("long").alias("busy_seconds"),
    )


# ---------------------------------------------------------------------------
# Merkle-tree dataset digest (hierarchical integrity commitment)
# ---------------------------------------------------------------------------


@query(
    "lineitem_merkle_tree",
    oracle="""
    WITH rows_h AS (
      SELECT CAST('0x' || substr(md5(concat_ws('|',
               l_orderkey, l_partkey, l_suppkey, l_linenumber,
               CAST(round(l_extendedprice * 100) AS BIGINT),
               l_returnflag, l_linestatus)), 1, 15) AS BIGINT) AS h
      FROM lineitem
    ),
    buckets AS (
      SELECT h % 64 AS idx, CAST(bit_xor(h) AS BIGINT) AS xd,
             CAST(count(*) AS BIGINT) AS n
      FROM rows_h GROUP BY idx
    ),
    l6 AS (
      SELECT CAST(g.idx AS BIGINT) AS idx,
             md5(COALESCE(CAST(b.xd AS VARCHAR) || ':'
                          || CAST(b.n AS VARCHAR),
                          'empty:' || CAST(g.idx AS VARCHAR))) AS digest
      FROM (SELECT unnest(generate_series(0, 63)) AS idx) g
      LEFT JOIN buckets b ON b.idx = g.idx
    ),
    l5 AS (SELECT idx // 2 AS idx,
                  md5(min(CASE WHEN idx % 2 = 0 THEN digest END)
                      || min(CASE WHEN idx % 2 = 1 THEN digest END)) AS digest
           FROM l6 GROUP BY idx // 2),
    l4 AS (SELECT idx // 2 AS idx,
                  md5(min(CASE WHEN idx % 2 = 0 THEN digest END)
                      || min(CASE WHEN idx % 2 = 1 THEN digest END)) AS digest
           FROM l5 GROUP BY idx // 2),
    l3 AS (SELECT idx // 2 AS idx,
                  md5(min(CASE WHEN idx % 2 = 0 THEN digest END)
                      || min(CASE WHEN idx % 2 = 1 THEN digest END)) AS digest
           FROM l4 GROUP BY idx // 2),
    l2 AS (SELECT idx // 2 AS idx,
                  md5(min(CASE WHEN idx % 2 = 0 THEN digest END)
                      || min(CASE WHEN idx % 2 = 1 THEN digest END)) AS digest
           FROM l3 GROUP BY idx // 2),
    l1 AS (SELECT idx // 2 AS idx,
                  md5(min(CASE WHEN idx % 2 = 0 THEN digest END)
                      || min(CASE WHEN idx % 2 = 1 THEN digest END)) AS digest
           FROM l2 GROUP BY idx // 2),
    l0 AS (SELECT idx // 2 AS idx,
                  md5(min(CASE WHEN idx % 2 = 0 THEN digest END)
                      || min(CASE WHEN idx % 2 = 1 THEN digest END)) AS digest
           FROM l1 GROUP BY idx // 2)
    SELECT CAST(6 AS BIGINT) AS level, idx, digest FROM l6
    UNION ALL SELECT 5, idx, digest FROM l5
    UNION ALL SELECT 4, idx, digest FROM l4
    UNION ALL SELECT 3, idx, digest FROM l3
    UNION ALL SELECT 2, idx, digest FROM l2
    UNION ALL SELECT 1, idx, digest FROM l1
    UNION ALL SELECT 0, idx, digest FROM l0
    """,
    since=9,
)
def lineitem_merkle_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERKLE TREE over the dataset — the hierarchical commitment that
    upgrades the flat bucketed fingerprint
    (lineitem_bucket_fingerprint) to LOGARITHMIC DIFF LOCALIZATION:
    two replicas compare roots (level 0); on mismatch they walk down
    only the differing subtree, touching log2(64) digests instead of
    re-shipping all 64 buckets — the anti-entropy protocol shape
    (Dynamo/Cassandra replica repair) and the dataset-versioning
    audit trail. Leaves are the order-independent per-bucket XOR
    digests rendered through md5; parents are md5(left || right); all
    64 leaf slots exist (empty buckets commit to a pinned sentinel)
    so the tree shape is fixed and every level is hash-checked — 127
    rows pin the entire tree, and both engines construct it
    independently.

    Scale: the leaf pass is the fingerprint aggregate (map-side
    combinable XOR, constant 64 groups); the six reduction rounds
    each aggregate a constant-size table — driver-free, shuffle cost
    O(1). Wider tables just mean a wider leaf fan-out constant."""
    li = table(spark, sf_dir, "lineitem")
    row_str = F.concat_ws(
        "|",
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("long"),
        "l_returnflag",
        "l_linestatus",
    )
    h = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("long")
    buckets = (
        li.select(h.alias("h"))
        .groupBy((F.col("h") % 64).alias("idx"))
        .agg(
            F.expr("bit_xor(h)").cast("long").alias("xd"),
            F.count("*").cast("long").alias("n"),
        )
    )
    grid = spark.range(64).select(F.col("id").cast("long").alias("idx"))
    # NB: concat_ws skips nulls, so the empty-slot sentinel uses an
    # explicit when/otherwise rather than coalesce-over-concat_ws
    level = grid.join(buckets, "idx", "left").select(
        "idx",
        F.md5(
            F.when(
                F.col("xd").isNotNull(),
                F.concat(
                    F.col("xd").cast("string"),
                    F.lit(":"),
                    F.col("n").cast("string"),
                ),
            ).otherwise(
                F.concat(F.lit("empty:"), F.col("idx").cast("string"))
            )
        ).alias("digest"),
    )
    # r12 (§3.3 plan truncation): every reduction level AND its union
    # branch into `out` re-embedded the data-sized leaf aggregate —
    # ~21 logical copies, 1,153 explain lines (64-row algebra above a
    # lineitem scan). One checkpoint of the 64-row leaf level runs the
    # data pass exactly once; the six reductions then fold a flat
    # constant-size frame.
    level = truncate_lineage(level, reliable=True)
    out = level.select(F.lit(6).cast("long").alias("level"), "idx", "digest")
    cur = level
    for lvl in range(5, -1, -1):
        cur = (
            cur.groupBy(F.expr("idx div 2").alias("idx"))
            .agg(
                F.md5(
                    F.concat(
                        F.min(
                            F.when(F.col("idx") % 2 == 0, F.col("digest"))
                        ),
                        F.min(
                            F.when(F.col("idx") % 2 == 1, F.col("digest"))
                        ),
                    )
                ).alias("digest")
            )
        )
        out = out.unionAll(
            cur.select(
                F.lit(lvl).cast("long").alias("level"), "idx", "digest"
            )
        )
    return out


# ---------------------------------------------------------------------------
# Phonetic blocking (Soundex synthesized in relational expressions)
# ---------------------------------------------------------------------------

#: American Soundex letter->digit table over a..z (vowels/h/w -> 0).
_SOUNDEX_MAP = "01230120022455012623010202"


def _soundex_sql(word: str) -> str:
    """DuckDB rendering of the Soundex pipeline over ``word`` (RE2 has
    no backreferences, so run-collapse is one pass per digit)."""
    t = (
        f"translate(substr({word}, 1, 1) ||"
        f" replace(replace(substr({word}, 2), 'h', ''), 'w', ''),"
        f" 'abcdefghijklmnopqrstuvwxyz', '{_SOUNDEX_MAP}')"
    )
    for d in "0123456":
        t = f"regexp_replace({t}, '{d}{{2,}}', '{d}', 'g')"
    return (
        f"upper(substr({word}, 1, 1)) ||"
        f" substr(replace(substr({t}, 2), '0', '') || '000', 1, 3)"
    )


@query(
    "parts_phonetic_blocking",
    oracle=f"""
    WITH w AS (
      SELECT p_partkey, lower(split_part(p_name, ' ', 1)) AS word
      FROM part
    ),
    coded AS (
      SELECT p_partkey, word, {_soundex_sql("word")} AS sdx FROM w
    )
    SELECT sdx AS soundex,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT word) AS BIGINT) AS n_words,
           CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS n_pairs,
           CAST(min(p_partkey) AS BIGINT) AS min_part,
           CAST(max(p_partkey) AS BIGINT) AS max_part
    FROM coded GROUP BY sdx
    """,
    since=9,
)
def parts_phonetic_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHONETIC BLOCKING for record linkage — the Soundex pass that
    entity-resolution pipelines run before any pairwise comparison:
    names that SOUND alike land in one block, and the expensive fuzzy
    matcher (parts_fuzzy_pairs) runs only within blocks. The classic
    American Soundex is synthesized entirely in relational
    expressions — translate() maps letters to the 6 phonetic classes,
    adjacent equal codes collapse (one regexp pass per digit: RE2 has
    no backreferences, so the portable form avoids them), vowels drop
    after collapsing (they separate codes but emit none), h/w are
    transparent within the tail, and the code pads to letter+3. Both
    engines build the code independently, so the hash check proves
    the encoding itself, not just the block stats. Per block: member
    and distinct-word counts, the candidate-pair count the blocker
    admits (the n(n-1)/2 the matcher would score), and the key range.

    Scale: one projection + one aggregate on the code — blocking IS
    the scale strategy (candidate pairs drop from N²/2 to
    sum-of-block²), and the code is a pure scan-stage expression, so
    the blocker adds nothing beyond the shuffle it saves."""
    p = table(spark, sf_dir, "part")
    word = F.lower(F.element_at(F.split(F.col("p_name"), " "), 1))
    t = F.translate(
        F.concat(
            F.substring(word, 1, 1),
            F.translate(F.expr("substr(lower(element_at(split(p_name, ' '), 1)), 2)"), "hw", ""),
        ),
        "abcdefghijklmnopqrstuvwxyz",
        _SOUNDEX_MAP,
    )
    for d in "0123456":
        t = F.regexp_replace(t, f"{d}{{2,}}", d)
    coded = p.select(
        "p_partkey", word.alias("word"), t.alias("x")
    ).select(
        "p_partkey",
        "word",
        F.concat(
            F.upper(F.substring(F.col("word"), 1, 1)),
            F.substring(
                F.concat(
                    F.translate(F.expr("substr(x, 2)"), "0", ""),
                    F.lit("000"),
                ),
                1,
                3,
            ),
        ).alias("sdx"),
    )
    n = F.count("*")
    return coded.groupBy(F.col("sdx").alias("soundex")).agg(
        n.cast("long").alias("n_parts"),
        F.countDistinct("word").cast("long").alias("n_words"),
        F.expr("count(*) * (count(*) - 1) div 2")
        .cast("long")
        .alias("n_pairs"),
        F.min("p_partkey").cast("long").alias("min_part"),
        F.max("p_partkey").cast("long").alias("max_part"),
    )


# ---------------------------------------------------------------------------
# Bipartiteness audit (BFS 2-coloring + odd-cycle witness count)
# ---------------------------------------------------------------------------


def _bipartite_finish(
    edges: list[tuple[int, int]], max_hops: int = 24
) -> list[tuple[int, int, int, int, int, int]]:
    """Exact driver-side closure of the bipartiteness audit over a
    collected ``(a, b)`` edge list (a < b, unique): min-label connected
    components, multi-source BFS (hop cap ``max_hops``) from component
    minima, then the per-component conflict aggregate — pure integer
    math mirroring the distributed composition op-for-op AND the
    oracle's recursive CTEs (the ``WHERE w.d < 24`` walk cap, the
    inner dist joins that drop >24-hop nodes/edges, and the final
    nstat⋈marked inner join that drops components with no surviving
    edge). Returns sorted (comp, n_nodes, max_dist, n_edges,
    n_conflicts, is_bipartite) rows."""
    from collections import deque

    adj: dict[int, list[int]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    # components: flood from ascending node ids — the first unvisited
    # node is its component's minimum, i.e. the min-label/root
    comp: dict[int, int] = {}
    for start in sorted(adj):
        if start in comp:
            continue
        comp[start] = start
        dq = deque([start])
        while dq:
            u = dq.popleft()
            for v in adj[u]:
                if v not in comp:
                    comp[v] = start
                    dq.append(v)
    # multi-source BFS from the roots; nodes first reached beyond the
    # hop cap stay absent (the sparse-BFS contract the oracle shares)
    dist: dict[int, int] = {}
    dq = deque()
    for r in set(comp.values()):
        dist[r] = 0
        dq.append(r)
    while dq:
        u = dq.popleft()
        if dist[u] >= max_hops:
            continue
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                dq.append(v)
    nstat: dict[int, list[int]] = {}
    for node, c in comp.items():
        if node in dist:
            st = nstat.setdefault(c, [0, 0])
            st[0] += 1
            st[1] = max(st[1], dist[node])
    estat: dict[int, list[int]] = {}
    for a, b in edges:
        if a in dist and b in dist:
            st = estat.setdefault(comp[a], [0, 0])
            st[0] += 1
            st[1] += 1 if dist[a] == dist[b] else 0
    return sorted(
        (c, nstat[c][0], nstat[c][1], ne, nc, 1 if nc == 0 else 0)
        for c, (ne, nc) in estat.items()
    )



@query(
    "graph_bipartite_check",
    oracle="""
    WITH RECURSIVE pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_partkey < 600 AND b.l_partkey < 600
    ),
    e AS (
      SELECT pa AS a, pb AS b FROM pairs
      GROUP BY pa, pb HAVING count(*) >= 2
    ),
    sym AS (
      SELECT a AS src, b AS dst FROM e
      UNION ALL SELECT b, a FROM e
    ),
    reach AS (
      SELECT src AS node, src AS m FROM sym
      UNION
      SELECT s.dst, r.m FROM reach r JOIN sym s ON s.src = r.node
    ),
    comp AS (SELECT node, CAST(min(m) AS BIGINT) AS comp
             FROM reach GROUP BY node),
    roots AS (SELECT node FROM comp WHERE node = comp),
    walk AS (
      SELECT node, CAST(0 AS BIGINT) AS d FROM roots
      UNION
      SELECT s.dst, w.d + 1 FROM walk w JOIN sym s ON s.src = w.node
      WHERE w.d < 24
    ),
    dist AS (SELECT node, CAST(min(d) AS BIGINT) AS d
             FROM walk GROUP BY node),
    marked AS (
      SELECT c.comp, e.a, e.b,
             CASE WHEN da.d = db.d THEN 1 ELSE 0 END AS conflict
      FROM e
      JOIN comp c ON c.node = e.a
      JOIN dist da ON da.node = e.a
      JOIN dist db ON db.node = e.b
    ),
    nstat AS (
      SELECT c.comp, CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(max(d.d) AS BIGINT) AS max_dist
      FROM comp c JOIN dist d ON d.node = c.node GROUP BY c.comp
    )
    SELECT n.comp, n.n_nodes, n.max_dist,
           CAST(count(m.a) AS BIGINT) AS n_edges,
           CAST(sum(m.conflict) AS BIGINT) AS n_conflicts,
           CAST(CASE WHEN sum(m.conflict) = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS is_bipartite
    FROM nstat n JOIN marked m ON m.comp = n.comp
    GROUP BY n.comp, n.n_nodes, n.max_dist
    """,
    since=9,
)
def graph_bipartite_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIPARTITENESS audit by BFS 2-COLORING — the structural
    pre-check for every bipartite-only algorithm in the catalog
    (HITS, bipartite matching, two-mode projections): color each node
    by the PARITY of its shortest hop distance from its component's
    root, and count the ODD-CYCLE WITNESSES — edges whose endpoints
    share a BFS layer (for an edge the layer gap is at most 1, so
    equal parity means equal layer, and each such edge closes an odd
    cycle). Parity of the SHORTEST distance is traversal-order
    independent, which is what makes the conflict count deterministic
    and hash-checkable — no arbitrary 2-coloring tiebreaks. Per
    component: size, eccentricity bound, edge count, conflict count,
    and the verdict.

    Scale (r12 rewrite, guide §5 — control-plane finishing): the
    data-sized work is the co-purchase pair aggregate over lineitem,
    which stays distributed (`_order_pair_counts`, the basket shape).
    The GRAPH it produces is domain-bounded BY CONSTRUCTION — the
    entry clips to part keys < 600 (as does the oracle), so the edge
    list is ≤ C(600,2) rows at ANY scale factor. The closure
    (min-label CC + capped multi-source BFS + the conflict aggregate)
    therefore runs driver-side in exact integer math
    (`_bipartite_finish` — the ABTT collected-Gram precedent),
    replacing ~27 s of per-round Spark job overhead (O(log d)
    doubling rounds + up to 24 eagerly-checkpointed BFS rounds) with
    one bounded collect. The distributed CC/BFS primitives
    (graph.py) remain the path for UNBOUNDED graphs and stay
    exercised by pagerank/bfs_hops/euler/boruvka; the twin test pins
    this closure equal to the distributed composition on real data."""
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_partkey") < 600)
    )
    e = (
        _order_pair_counts(li)
        .filter(F.col("support") >= 2)
        .select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    )
    edges = [(int(r["a"]), int(r["b"])) for r in e.collect()]
    rows = _bipartite_finish(edges)
    return spark.createDataFrame(
        rows,
        schema=(
            "comp long, n_nodes long, max_dist long, n_edges long, "
            "n_conflicts long, is_bipartite long"
        ),
    )


# ---------------------------------------------------------------------------
# Harmonic centrality from pinned sources (exact rational distances)
# ---------------------------------------------------------------------------

#: lcm(1..16): every 1/d with d <= 16 is exact as _HC_LCM // d
_HC_LCM = 720720


@query(
    "graph_harmonic_centrality",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    e AS (
      SELECT pa AS a, pb AS b FROM pairs
      GROUP BY pa, pb HAVING count(*) >= 2
    ),
    sym AS (
      SELECT a AS src, b AS dst FROM e
      UNION ALL SELECT b, a FROM e
    ),
    roots AS (
      SELECT DISTINCT src AS s FROM sym ORDER BY s LIMIT 4
    ),
    walk AS (
      SELECT s, s AS node, CAST(0 AS BIGINT) AS d FROM roots
      UNION
      SELECT w.s, g.dst, w.d + 1
      FROM walk w JOIN sym g ON g.src = w.node
      WHERE w.d < 16
    ),
    dist AS (
      SELECT s, node, CAST(min(d) AS BIGINT) AS d
      FROM walk GROUP BY s, node
    )
    SELECT s AS source,
           CAST(count(*) - 1 AS BIGINT) AS n_reached,
           CAST(sum(CASE WHEN d > 0 THEN {_HC_LCM} // d ELSE 0 END)
                AS BIGINT) AS harmonic_scaled,
           CAST(max(d) AS BIGINT) AS max_dist
    FROM dist GROUP BY s
    """,
    since=10,
)
def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARMONIC CENTRALITY from pinned sources — the closeness variant
    that stays WELL-DEFINED on disconnected graphs (Boldi-Vigna:
    unreached nodes contribute 1/inf = 0 instead of poisoning the
    mean), the standard "how central is this hub" measure for
    influence and placement questions. H(s) = sum over reachable
    nodes of 1/d(s,v), kept EXACT by scaling through lcm(1..16) =
    {_HC_LCM} — every 1/d is an exact integer {_HC_LCM}//d, so the
    centrality ranking is hash-checkable with no float summation
    order to pin. Sources are the four smallest vertex ids (always
    present, scale-stable); distances come from a multi-source
    frontier BFS keyed by (source, node) — the bfs_hops engine
    generalized to per-source sheets — capped at 16 hops (documented;
    beyond-cap nodes count 0, exactly the harmonic convention for
    far/unreachable). The ORACLE recurses (source, node, hop) closure
    with UNION dedup and takes min — construction independent of the
    frontier mechanics.

    Scale: per round the frontier's out-edges shuffle on the vertex
    key; the (source, node) keying multiplies state by a CONSTANT 4
    (pinned sources), not by |V| — the standard trick for exact
    multi-source centrality at scale (HyperBall replaces the sheets
    with HLL counters when sources = all nodes)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = (
        _order_pair_counts(li)
        .filter(F.col("support") >= 2)
        .select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    )
    e = truncate_lineage(e, reliable=True)
    sym = e.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    roots = (
        sym.select(F.col("src").alias("s"))
        .distinct()
        .orderBy("s")
        .limit(4)
    )
    dist = truncate_lineage(
        roots.select(
            "s", F.col("s").alias("node"), F.lit(0).cast("long").alias("d")
        ),
        reliable=True,
    )
    # textbook frontier BFS: each round expands only the NEWLY reached
    # (s, node) sheet and anti-joins the visited set — first discovery
    # IS min-d, so this is bit-identical to the old re-aggregate-the-
    # whole-dist-table loop while shuffling frontier-sized data instead
    # of the full visited set 16 times (at 100 TB the visited table is
    # data-sized; the frontier peaks and shrinks). Each frontier is
    # eagerly checkpointed (it feeds the join, the anti-join and the
    # final union), and the loop stops at the true eccentricity —
    # an empty frontier — instead of always burning the 16-hop cap.
    frontier = dist
    for h in range(1, 17):
        nxt = (
            frontier.join(sym, frontier["node"] == sym["src"])
            .select("s", F.col("dst").alias("node"),
                    F.lit(h).cast("long").alias("d"))
            .distinct()
        )
        # r12: lazy checkpoint + emptiness probe in ONE job (the CC
        # convergence-count fuse) — the count is a FULL action, so the
        # checkpoint is materialized for the frontier's three consumers
        # exactly as the old eager cut + isEmpty pair was, one job
        # cheaper per hop.
        frontier = truncate_lineage(
            nxt.join(dist, ["s", "node"], "left_anti"),
            eager=False,
            reliable=True,
        )
        if frontier.count() == 0:
            break
        dist = dist.unionAll(frontier)
    return dist.groupBy(F.col("s").alias("source")).agg(
        (F.count("*") - 1).cast("long").alias("n_reached"),
        F.sum(
            F.when(
                F.col("d") > 0, F.expr(f"{_HC_LCM} div d")
            ).otherwise(0)
        )
        .cast("long")
        .alias("harmonic_scaled"),
        F.max("d").cast("long").alias("max_dist"),
    )


# ---------------------------------------------------------------------------
# Maximal independent set (derandomized Luby, fixed hash priorities)
# ---------------------------------------------------------------------------

_MIS_ROUNDS = 10


def _mis_oracle() -> str:
    """Unrolled synchronous Luby rounds in plain SQL. With priorities
    FIXED once (not re-drawn per round), the algorithm computes the
    lexicographically-first MIS by priority order — a unique object,
    so the unrolled mirror plus the python greedy twin give three
    constructions."""
    parts = [
        """a0 AS MATERIALIZED (SELECT node, pri FROM nodes)"""
    ]
    for r in range(1, _MIS_ROUNDS + 1):
        parts.append(
            f"""nb{r} AS MATERIALIZED (
      SELECT a.node, min(b.pri) AS mn
      FROM a{r - 1} a
      JOIN sym s ON s.src = a.node
      JOIN a{r - 1} b ON b.node = s.dst
      GROUP BY a.node
    ),
    c{r} AS MATERIALIZED (
      SELECT a.node FROM a{r - 1} a
      LEFT JOIN nb{r} n ON n.node = a.node
      WHERE n.mn IS NULL OR a.pri < n.mn
    ),
    rm{r} AS MATERIALIZED (
      SELECT node FROM c{r}
      UNION
      SELECT s.dst FROM c{r} c JOIN sym s ON s.src = c.node
    ),
    a{r} AS MATERIALIZED (
      SELECT a.node, a.pri FROM a{r - 1} a
      LEFT JOIN rm{r} r ON r.node = a.node
      WHERE r.node IS NULL
    )"""
        )
    body = ",\n    ".join(parts)
    mis_union = "\n      UNION ALL ".join(
        f"SELECT node, {r} AS rnd FROM c{r}"
        for r in range(1, _MIS_ROUNDS + 1)
    )
    return f"""
    WITH pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    e AS (
      SELECT pa AS a, pb AS b FROM pairs
      GROUP BY pa, pb HAVING count(*) >= 2
    ),
    sym AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM e
      UNION ALL SELECT b, a FROM e
    ),
    nodes AS MATERIALIZED (
      SELECT node,
             CAST('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 10)
                  AS BIGINT) * 1048576 + node AS pri
      FROM (SELECT DISTINCT src AS node FROM sym)
    ),
    {body},
    mis AS MATERIALIZED ({mis_union}),
    status AS (
      SELECT n.node,
             CASE WHEN m.node IS NOT NULL THEN 'mis'
                  WHEN a.node IS NOT NULL THEN 'undecided'
                  ELSE 'dominated' END AS status,
             COALESCE(m.rnd, 0) AS rnd
      FROM nodes n
      LEFT JOIN mis m ON m.node = n.node
      LEFT JOIN a{_MIS_ROUNDS} a ON a.node = n.node
    ),
    misnb AS (
      SELECT st.node, CAST(count(m2.node) AS BIGINT) AS mis_neighbors
      FROM status st
      JOIN sym s ON s.src = st.node
      LEFT JOIN (SELECT node FROM mis) m2 ON m2.node = s.dst
      GROUP BY st.node
    )
    SELECT st.node, st.status, CAST(st.rnd AS BIGINT) AS rnd,
           COALESCE(m.mis_neighbors, 0) AS mis_neighbors
    FROM status st LEFT JOIN misnb m ON m.node = st.node
    """


@query("graph_mis_luby", oracle=_mis_oracle(), since=10)
def graph_mis_luby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL INDEPENDENT SET by DERANDOMIZED LUBY — the symmetry-
    breaking primitive behind parallel graph coloring, scheduling and
    landmark selection: each round, every still-active node whose
    fixed hash priority beats all active neighbors joins the MIS, and
    it plus its neighbors leave the graph; rounds shrink the active
    set geometrically (Luby's classic O(log n) bound). Priorities are
    drawn ONCE (md5 of the node id, node-id tiebreak appended in the
    low bits, so they are distinct by construction) — that
    derandomization makes the result the UNIQUE lexicographically-
    first MIS, hence hash-checkable, and equal to the sequential
    greedy-by-priority set (the pytest twin proves exactly that).
    Output per node: status, the round it entered, and — the
    verified-as-data contract — its count of MIS neighbors, which the
    MIS/dominated definitions force to 0 / >= 1; any 'undecided'
    rows (round budget exhausted) are emitted honestly and counted
    identically by both engines.

    Scale: each round is two vertex-keyed equi-joins (neighbor-min,
    removal) over the ACTIVE subgraph only, which Luby's analysis
    shrinks by a constant factor per round in expectation — the
    textbook Pregel workload. Priorities are scan-stage hashes; no
    global ordering is ever materialized (that is the whole point vs
    the sequential greedy)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = (
        _order_pair_counts(li)
        .filter(F.col("support") >= 2)
        .select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    )
    e = truncate_lineage(e, reliable=True)
    sym = e.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    sym = truncate_lineage(sym, reliable=True)
    nodes = sym.select(F.col("src").alias("node")).distinct().select(
        "node",
        (
            F.conv(
                F.substring(F.md5(F.col("node").cast("string")), 1, 10),
                16,
                10,
            ).cast("long")
            * 1048576
            + F.col("node")
        ).alias("pri"),
    )
    active = truncate_lineage(nodes, reliable=True)
    mis = None
    for r in range(1, _MIS_ROUNDS + 1):
        nb = (
            active.join(sym, active["node"] == sym["src"])
            .select(F.col("dst").alias("node2"), "node")
            .join(
                active.select(
                    F.col("node").alias("node2"), F.col("pri").alias("p2")
                ),
                "node2",
            )
            .groupBy("node")
            .agg(F.min("p2").alias("mn"))
        )
        # cand feeds three consumers (misr, and removed twice);
        # checkpointing it eagerly runs the round's join work ONCE and
        # keeps every later frame's lineage flat — cheaper per round
        # than the old every-3-rounds lazy cadence, whose plans grew
        # ~3 rounds deep with the nb self-join doubling each level
        cand = truncate_lineage(
            active.join(nb, "node", "left")
            .filter(F.col("mn").isNull() | (F.col("pri") < F.col("mn")))
            .select("node"),
            reliable=True,
        )
        misr = cand.select("node", F.lit(r).cast("long").alias("rnd"))
        mis = misr if mis is None else mis.unionAll(misr)
        removed = cand.unionAll(
            cand.join(sym, cand["node"] == sym["src"]).select(
                F.col("dst").alias("node")
            )
        ).distinct()
        active = truncate_lineage(
            active.join(removed, "node", "left_anti"), reliable=True
        )
        # Luby's geometric shrink usually empties the active set well
        # before the round budget; once it does, every later round's
        # nb/cand/removed are empty frames — identical output, pure
        # scheduling waste — so stop (the checkpoint above already
        # materialized `active`; isEmpty reads the cached blocks).
        # r12 NEGATIVE: the lazy-checkpoint count fuse measured WORSE
        # here (1.776 -> 1.864 s median, every order statistic higher;
        # tools/ab_frontier_fuse.py) — active shrinks geometrically, so
        # isEmpty's partial scan of cached blocks beats a full count
        # once the set is nearly empty. Eager + isEmpty stays.
        if active.isEmpty():
            break
    status = (
        nodes.join(mis, "node", "left")
        .join(
            active.select("node", F.lit(1).alias("still")),
            "node",
            "left",
        )
        .select(
            "node",
            F.when(F.col("rnd").isNotNull(), "mis")
            .when(F.col("still").isNotNull(), "undecided")
            .otherwise("dominated")
            .alias("status"),
            F.coalesce("rnd", F.lit(0)).cast("long").alias("rnd"),
        )
    )
    misnb = (
        status.join(sym, status["node"] == sym["src"])
        .select("node", F.col("dst").alias("node2"))
        .join(
            mis.select(F.col("node").alias("node2"), F.lit(1).alias("im")),
            "node2",
            "left",
        )
        .groupBy("node")
        .agg(F.sum(F.coalesce("im", F.lit(0))).cast("long").alias("mn"))
    )
    return status.join(misnb, "node", "left").select(
        "node",
        "status",
        "rnd",
        F.coalesce("mn", F.lit(0)).cast("long").alias("mis_neighbors"),
    )

# ---------------------------------------------------------------------------
# Stable matching (batch Gale-Shapley deferred acceptance)
# ---------------------------------------------------------------------------

_GS_ROUNDS = 16
_GS_K = 4  # preference-list length
#: Test knob (r13, ADVICE_r12): the fixpoint early-break's equivalence
#: to the full _GS_ROUNDS budget is load-bearing against the oracle;
#: tests/test_recall.py pins break-output == full-run output on the
#: REAL entry by flipping this to False. Never False in production.
_GS_EARLY_STOP = True


def _rank_gs(p, s):
    """Part p's md5-derived rank of supplier s (low bits = s, so ranks
    are distinct by construction) — shared by the entry and the
    fixpoint A/B tool (tools/ab_gs_fixpoint.py)."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("pr|"),
                        p.cast("string"),
                        F.lit("|"),
                        s.cast("string"),
                    )
                ),
                1,
                10,
            ),
            16,
            10,
        ).cast("long")
        * 1048576
        + s
    )


def _gs_oracle() -> str:
    """Unrolled batch deferred-acceptance rounds in plain SQL. With
    preferences fixed, every proposal order (sequential, batch) yields
    the SAME proposer-optimal stable matching (McVitie-Wilson), so the
    unrolled mirror plus the python sequential twin give three
    constructions. MATERIALIZED throughout, and claims come from a
    SINGLE pass over the state (held part or next proposal, one CASE)
    with the winner picked by a per-part row_number — the
    single-consumer shape the misra-gries cascade taught."""
    k = _GS_K
    rank = (
        "CAST('0x' || substr(md5('pr|' || CAST({p} AS VARCHAR) || '|'"
        " || CAST({s} AS VARCHAR)), 1, 10) AS BIGINT) * 1048576 + {s}"
    )
    parts = []
    for r in range(1, _GS_ROUNDS + 1):
        pr_rank = rank.format(p="target", s="s_idx")
        parts.append(
            f"""cl{r} AS MATERIALIZED (
      SELECT s_idx, target,
             CASE WHEN held = 1 THEN prank ELSE {pr_rank} END AS rnk
      FROM (
        SELECT s_idx, prank,
               CASE WHEN part IS NOT NULL THEN part
                    WHEN pos <= {k} THEN (h + pos - 1) % m END AS target,
               CASE WHEN part IS NOT NULL THEN 1 ELSE 0 END AS held
        FROM st{r - 1}
      ) WHERE target IS NOT NULL
    ),
    w{r} AS MATERIALIZED (
      SELECT s_idx, target, rnk FROM (
        SELECT s_idx, target, rnk,
               row_number() OVER (PARTITION BY target ORDER BY rnk) AS rn
        FROM cl{r}
      ) WHERE rn = 1
    ),
    st{r} AS MATERIALIZED (
      SELECT s.s_idx, s.h, s.m,
             s.pos + CASE WHEN s.part IS NULL AND s.pos <= {k}
                          THEN 1 ELSE 0 END AS pos,
             w.target AS part, w.rnk AS prank
      FROM st{r - 1} s LEFT JOIN w{r} w ON w.s_idx = s.s_idx
    )"""
        )
    body = ",\n    ".join(parts)
    R = _GS_ROUNDS
    blk_rank = rank.format(p="b.target", s="b.s_idx")
    return f"""
    WITH sup AS MATERIALIZED (
      SELECT s_suppkey,
             row_number() OVER (ORDER BY s_suppkey) - 1 AS s_idx
      FROM supplier
    ),
    msc AS (SELECT CAST(greatest(count(*) // 2, 3) AS BIGINT) AS m
            FROM supplier),
    pidx AS MATERIALIZED (
      SELECT p_partkey,
             row_number() OVER (ORDER BY p_partkey) - 1 AS p_idx
      FROM part QUALIFY p_idx < (SELECT m FROM msc)
    ),
    st0 AS MATERIALIZED (
      SELECT s_idx,
             CAST('0x' || substr(md5('gs|' || CAST(s_idx AS VARCHAR)),
                                 1, 10) AS BIGINT) % m AS h,
             m, CAST(1 AS BIGINT) AS pos,
             CAST(NULL AS BIGINT) AS part, CAST(NULL AS BIGINT) AS prank
      FROM sup, msc
    ),
    {body},
    fin AS MATERIALIZED (
      SELECT s_idx, h, m, pos, part, prank,
             CASE WHEN part IS NOT NULL THEN 'matched'
                  WHEN pos > {_GS_K} THEN 'exhausted'
                  ELSE 'undecided' END AS status,
             CASE WHEN part IS NOT NULL
                  THEN (part - h + m) % m + 1 ELSE 0 END AS pref_rank
      FROM st{R}
    ),
    holders AS MATERIALIZED (
      SELECT part, prank FROM fin WHERE part IS NOT NULL
    ),
    blk AS MATERIALIZED (
      SELECT b.s_idx, count(*) AS nblk
      FROM (
        SELECT f.s_idx, (f.h + i.i - 1) % f.m AS target, i.i
        FROM fin f, unnest(generate_series(1, {_GS_K})) i(i)
        WHERE f.status <> 'matched' OR i.i < f.pref_rank
      ) b
      LEFT JOIN holders hd ON hd.part = b.target
      WHERE hd.part IS NULL OR ({blk_rank}) < hd.prank
      GROUP BY b.s_idx
    )
    SELECT sup.s_suppkey,
           fin.status,
           COALESCE(p.p_partkey, -1) AS matched_partkey,
           CAST(fin.pref_rank AS BIGINT) AS pref_rank,
           CAST(COALESCE(blk.nblk, 0) AS BIGINT) AS blocking_pairs
    FROM fin
    JOIN sup ON sup.s_idx = fin.s_idx
    LEFT JOIN pidx p ON p.p_idx = fin.part
    LEFT JOIN blk ON blk.s_idx = fin.s_idx
    """


@query("supplier_stable_matching", oracle=_gs_oracle(), since=10)
def supplier_stable_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STABLE MATCHING by BATCH GALE-SHAPLEY deferred acceptance — the
    two-sided market-assignment primitive (residency match, ad
    auctions, storage placement): suppliers hold hash-derived
    preference lists over a deliberately SCARCE part pool (m = n/2
    slots for n suppliers, so contention and honest exhaustion are
    exercised, not just first-choice trivia); each round every free
    supplier proposes to its next-preferred part and each part keeps
    the proposer it ranks best (md5 rank, supplier-id low bits =>
    distinct by construction). With preferences fixed, EVERY proposal
    schedule — one-at-a-time or batch-synchronous — produces the SAME
    proposer-optimal stable matching (McVitie-Wilson '71), which makes
    the result a unique hash-checkable object; the sequential-greedy
    pytest twin proves exactly that equivalence. The stability theorem
    itself is emitted AS DATA: per supplier, the count of blocking
    pairs over its preference list (a part it prefers whose holder
    ranks worse, or an unheld preferred part) — forced to 0 by
    deferred acceptance, recomputed independently by both engines.
    Any round-budget leftovers surface honestly as 'undecided'
    (identical in both engines — the MIS precedent).

    Scale: each round is one sketch-sized aggregate (min rank per
    part) plus two supplier-keyed equi-joins over the FREE subset,
    which deferred acceptance shrinks every round; preference lists
    are O(1) arithmetic over scan-stage hashes, never materialized
    n x m. The dimension-table row_number and the one-row m scalar
    are dim-bounded (the qini ntile note applies).

    Reference capability class: ClusterDeploy-style resource
    assignment (SURVEY.md section 2 engine extras)."""
    k = _GS_K
    sup = table(spark, sf_dir, "supplier").select("s_suppkey")
    # dense 0..n-1 indices via the two-phase distributed sort rank
    # (r11): supplier/part are TPC-H SF-linear (10k/20k x SF rows), so
    # the former global row_number windows were data-sized at the
    # 100 TB bar even though they read "dims" — the global-order
    # exemptions are pruned, and the rank is bit-identical.
    s_ranked, _ns = two_phase_rank(sup, ["s_suppkey"], rank_col="__rn")
    s_idx = s_ranked.select(
        "s_suppkey", (F.col("__rn") - 1).cast("long").alias("s_idx")
    )
    msc = sup.agg(
        F.greatest(F.expr("count(*) div 2"), F.lit(3))
        .cast("long")
        .alias("m")
    )
    p_ranked, _np = two_phase_rank(
        table(spark, sf_dir, "part").select("p_partkey"),
        ["p_partkey"],
        rank_col="__rn",
    )
    pidx = (
        p_ranked.select(
            "p_partkey", (F.col("__rn") - 1).cast("long").alias("p_idx")
        )
        .crossJoin(F.broadcast(msc))
        .filter(F.col("p_idx") < F.col("m"))
        .select("p_partkey", "p_idx")
    )

    _rank = _rank_gs

    st = (
        s_idx.crossJoin(F.broadcast(msc))
        .select(
            "s_idx",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(F.lit("gs|"), F.col("s_idx").cast("string"))
                        ),
                        1,
                        10,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.col("m")
            ).alias("h"),
            "m",
            F.lit(1).cast("long").alias("pos"),
            F.lit(None).cast("long").alias("part"),
            F.lit(None).cast("long").alias("prank"),
        )
    )
    # the state feeds TWO consumers per round (claims + rebuild); an
    # eager cut at the top keeps every round's plan free of the dim
    # row_number scans, and the per-2-round cuts stop the 2^r
    # re-expansion (the misra-gries single-consumer lesson: claims is
    # ONE pass over the state — held part or next proposal in a CASE —
    # and the per-part winner is a row_number over the same shuffle)
    st = truncate_lineage(st, reliable=True)
    for r in range(1, _GS_ROUNDS + 1):
        claims = (
            st.select(
                "s_idx",
                "prank",
                F.when(F.col("part").isNotNull(), F.col("part"))
                .when(
                    F.col("pos") <= k,
                    (F.col("h") + F.col("pos") - 1) % F.col("m"),
                )
                .alias("target"),
                F.col("part").isNotNull().alias("held"),
            )
            .filter(F.col("target").isNotNull())
            .select(
                "s_idx",
                "target",
                F.when(F.col("held"), F.col("prank"))
                .otherwise(_rank(F.col("target"), F.col("s_idx")))
                .alias("rnk"),
            )
        )
        winners = (
            claims.withColumn(
                "rn",
                F.row_number().over(
                    W.partitionBy("target").orderBy("rnk")
                ),
            )
            .filter(F.col("rn") == 1)
            .select(
                "s_idx",
                F.col("target").alias("wpart"),
                F.col("rnk").alias("wrank"),
            )
        )
        st = (
            st.select(
                "s_idx",
                "h",
                "m",
                (
                    F.col("pos")
                    + F.when(
                        F.col("part").isNull() & (F.col("pos") <= k), 1
                    ).otherwise(0)
                ).alias("pos"),
            )
            .join(
                winners.select(
                    "s_idx",
                    F.col("wpart").alias("part"),
                    F.col("wrank").alias("prank"),
                ),
                "s_idx",
                "left",
            )
        )
        if r % 2 == 0:
            # r12: lazy checkpoint + fixpoint probe in ONE job (the CC
            # convergence-count fuse). The probe is a FULL action, so
            # the checkpoint is materialized exactly as the old eager
            # cut was. When no free supplier still has a proposal left
            # (part NULL and pos <= k), every remaining round is the
            # identity — claims come only from holders, each part's
            # winner is its current holder, pos never advances — so
            # breaking at the fixpoint is bit-identical to running the
            # full _GS_ROUNDS budget (which the oracle still does).
            st = truncate_lineage(st, eager=False, reliable=True)
            if (
                st.filter(
                    F.col("part").isNull() & (F.col("pos") <= k)
                ).count()
                == 0
            ) and _GS_EARLY_STOP:
                break
    fin = st.select(
        "s_idx",
        "h",
        "m",
        "pos",
        "part",
        "prank",
        F.when(F.col("part").isNotNull(), "matched")
        .when(F.col("pos") > k, "exhausted")
        .otherwise("undecided")
        .alias("status"),
        F.when(
            F.col("part").isNotNull(),
            (F.col("part") - F.col("h") + F.col("m")) % F.col("m") + 1,
        )
        .otherwise(0)
        .cast("long")
        .alias("pref_rank"),
    )
    fin = truncate_lineage(fin, reliable=True)
    holders = fin.filter(F.col("part").isNotNull()).select(
        F.col("part").alias("hpart"), F.col("prank").alias("hrank")
    )
    cand = (
        fin.select(
            "s_idx",
            "h",
            "m",
            "status",
            "pref_rank",
            F.explode(F.sequence(F.lit(1), F.lit(k))).alias("i"),
        )
        .filter(
            (F.col("status") != "matched") | (F.col("i") < F.col("pref_rank"))
        )
        .select(
            "s_idx",
            ((F.col("h") + F.col("i") - 1) % F.col("m")).alias("target"),
        )
    )
    blk = (
        cand.join(holders, cand["target"] == holders["hpart"], "left")
        .filter(
            F.col("hpart").isNull()
            | (_rank(F.col("target"), F.col("s_idx")) < F.col("hrank"))
        )
        .groupBy("s_idx")
        .agg(F.count("*").cast("long").alias("nblk"))
    )
    return (
        fin.join(s_idx, "s_idx")
        .join(pidx, fin["part"] == pidx["p_idx"], "left")
        .join(blk, "s_idx", "left")
        .select(
            "s_suppkey",
            "status",
            F.coalesce("p_partkey", F.lit(-1)).cast("long").alias(
                "matched_partkey"
            ),
            "pref_rank",
            F.coalesce("nblk", F.lit(0)).cast("long").alias("blocking_pairs"),
        )
    )

# ---------------------------------------------------------------------------
# Densest subgraph (2+eps)-approximation (Bahmani batch peeling)
# ---------------------------------------------------------------------------

_DS_ROUNDS = 6  # fixture peels empty in <= 4 rounds at every scale


def _ds_oracle() -> str:
    parts = []
    for r in range(_DS_ROUNDS):
        parts.append(
            f"""d{r} AS MATERIALIZED (
      SELECT n, CAST(count(*) AS BIGINT) AS deg FROM (
        SELECT a AS n FROM e{r} UNION ALL SELECT b FROM e{r}
      ) GROUP BY n
    ),
    t{r} AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS v,
             (SELECT CAST(count(*) AS BIGINT) FROM e{r}) AS ne
      FROM d{r}
    ),
    v{r} AS MATERIALIZED (
      SELECT d.n FROM d{r} d, t{r} t WHERE d.deg * t.v >= 3 * t.ne
    ),
    e{r + 1} AS MATERIALIZED (
      SELECT e.a, e.b FROM e{r} e
      JOIN v{r} x ON x.n = e.a
      JOIN v{r} y ON y.n = e.b
    )"""
        )
    body = ",\n    ".join(parts)
    stats = "\n      UNION ALL ".join(
        f"SELECT {r} AS round, t.v AS n_nodes, t.ne AS n_edges FROM t{r} t"
        for r in range(_DS_ROUNDS)
    )
    return f"""
    WITH pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    e0 AS MATERIALIZED (
      SELECT pa AS a, pb AS b FROM pairs GROUP BY pa, pb
      HAVING count(*) >= 2
    ),
    {body},
    stats AS (
      SELECT * FROM ({stats}) WHERE n_nodes > 0
    )
    SELECT CAST(round AS BIGINT) AS round, n_nodes, n_edges,
           CAST(n_edges AS DOUBLE) / n_nodes AS density,
           CAST(CASE WHEN row_number() OVER (
                    ORDER BY CAST(n_edges AS DOUBLE) / n_nodes DESC, round
                  ) = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_best
    FROM stats
    """


@query("graph_densest_subgraph", oracle=_ds_oracle(), since=10)
def graph_densest_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DENSEST SUBGRAPH by BATCH PEELING — Bahmani-Kumar-
    Vassilvitskii (VLDB'12), THE MapReduce densest-subgraph algorithm
    (community cores, fraud rings, spam link farms): instead of
    Charikar's one-vertex-at-a-time greedy peel (n sequential rounds),
    remove EVERY vertex with degree below 2(1+eps) times the current
    density in one batch — O(log n / eps) rounds for a (2+2eps)
    guarantee; eps = 0.5 makes the threshold test exact integer
    cross-multiplication (deg * |V| >= 3 * |E|), no density float in
    any decision. The answer is the max-density ROUND (peeling is
    monotone destructive, the best subgraph appears mid-trajectory —
    at sf0.001 round 0 wins, at sf0.1 round 2, so scale actually
    exercises the argmax); per-round (nodes, edges, density) rows keep
    the whole trajectory auditable, is_best flags the (2+2eps)-
    approximate winner. The twin test mirrors the batch peel AND runs
    true sequential Charikar, asserting the theory inequality
    best_batch >= best_charikar / 3.

    Scale: per round one degree aggregate, one ONE-ROW totals frame
    broadcast into the threshold filter, and one two-sided semi-join
    to drop peeled endpoints — the k-core round shape with a global
    threshold; rounds are O(log n), each shuffling the surviving edge
    set only.

    Reference capability class: graph mining extras
    (SURVEY.md section 2 — triangle/k-core/MIS family)."""
    # r12: basket edge build (the _order_pair_counts port)
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = (
        _order_pair_counts(li)
        .filter(F.col("support") >= 2)
        .select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    )
    e = truncate_lineage(e, eager=True, reliable=True)
    stat_frames = []
    for r in range(_DS_ROUNDS):
        deg = (
            e.select(F.col("a").alias("n"))
            .unionAll(e.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count("*").cast("long").alias("deg"))
        )
        ne = e.agg(F.count("*").cast("long").alias("ne"))
        tot = deg.agg(F.count("*").cast("long").alias("v")).crossJoin(
            F.broadcast(ne)
        )
        stat_frames.append(
            tot.select(
                F.lit(r).cast("long").alias("round"),
                F.col("v").alias("n_nodes"),
                F.col("ne").alias("n_edges"),
            )
        )
        keep = (
            deg.crossJoin(F.broadcast(tot))
            .filter(F.col("deg") * F.col("v") >= 3 * F.col("ne"))
            .select("n")
        )
        e = (
            e.join(keep.select(F.col("n").alias("a")), "a", "left_semi")
            .join(keep.select(F.col("n").alias("b")), "b", "left_semi")
            .select("a", "b")
        )
        e = truncate_lineage(e, eager=True, reliable=True)
    stats = stat_frames[0]
    for fr in stat_frames[1:]:
        stats = stats.unionAll(fr)
    stats = stats.filter(F.col("n_nodes") > 0)
    return stats.select(
        "round",
        "n_nodes",
        "n_edges",
        (F.col("n_edges").cast("double") / F.col("n_nodes")).alias(
            "density"
        ),
        F.when(
            F.row_number().over(
                W.orderBy(
                    (F.col("n_edges").cast("double") / F.col("n_nodes"))
                    .desc(),
                    "round",
                )
            )
            == 1,
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("is_best"),
    )

# ---------------------------------------------------------------------------
# Price index numbers (Laspeyres / Paasche / Fisher over a matched basket)
# ---------------------------------------------------------------------------

_PI_SPLIT = "1998-01-01"  # base period before, current period after


def _pi_oracle() -> str:
    return f"""
    WITH li AS (
      SELECT p.p_brand AS brand, l.l_partkey AS part,
             CASE WHEN o.o_orderdate < DATE '{_PI_SPLIT}' THEN 0
                  ELSE 1 END AS period,
             CAST(round(l.l_quantity) AS BIGINT) AS q,
             l.l_extendedprice AS r
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
    ),
    pp AS (
      SELECT brand, part, period,
             CAST(sum(q) AS BIGINT) AS q,
             CAST(round(100 * sum(r) / sum(q)) AS BIGINT) AS p_cents
      FROM li GROUP BY brand, part, period
    ),
    matched AS (
      SELECT b.brand, b.part,
             b.q AS q0, b.p_cents AS p0, c.q AS q1, c.p_cents AS p1
      FROM pp b JOIN pp c ON c.part = b.part AND c.brand = b.brand
                         AND b.period = 0 AND c.period = 1
    ),
    agg AS (
      SELECT brand,
             CAST(count(*) AS BIGINT) AS n_parts,
             CAST(sum(p1 * q0) AS BIGINT) AS l_num,
             CAST(sum(p0 * q0) AS BIGINT) AS l_den,
             CAST(sum(p1 * q1) AS BIGINT) AS p_num,
             CAST(sum(p0 * q1) AS BIGINT) AS p_den
      FROM matched GROUP BY brand
    )
    SELECT brand, n_parts, l_num, l_den, p_num, p_den,
           CAST(l_num AS DOUBLE) / l_den AS laspeyres,
           CAST(p_num AS DOUBLE) / p_den AS paasche,
           sqrt((CAST(l_num AS DOUBLE) / l_den)
                * (CAST(p_num AS DOUBLE) / p_den)) AS fisher
    FROM agg
    """


@query("lineitem_price_index", oracle=_pi_oracle(), since=10)
def lineitem_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRICE INDEX NUMBERS — the Laspeyres / Paasche / Fisher family
    every statistics office and pricing team computes (CPI
    methodology; Fisher is the "ideal index" satisfying the time-
    reversal test): per brand, a MATCHED basket of parts sold in both
    halves of the order history, base-period-weighted
    (sum p1*q0 / sum p0*q0, Laspeyres), current-weighted (Paasche),
    and their geometric mean (Fisher). Unit prices are cents —
    round(100 * revenue / quantity), ONE exactly-rounded division per
    (part, period), the quantized-embedding discipline — so all four
    index numerators/denominators are exact bigints shipped alongside
    the two division doubles and the single sqrt. Matched-basket
    semantics (parts must trade in BOTH periods) stated, not hidden —
    it is the standard CPI item-replacement problem made visible as
    n_parts.

    Scale: one fact-table aggregate to (brand, part, period) grain
    with map-side combine, a self-join on the part key (period 0 x
    period 1 — equi, never cartesian), one brand aggregate. The
    orders/part dims broadcast.

    Reference capability class: longitudinal pricing analytics
    (TPC-H extras; the index-number member of the trend family)."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    base = (
        li.join(F.broadcast(o), li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .select(
            F.col("p_brand").alias("brand"),
            F.col("l_partkey").alias("part"),
            F.when(
                F.col("o_orderdate") < F.lit(_PI_SPLIT).cast("timestamp"), 0
            )
            .otherwise(1)
            .alias("period"),
            F.round("l_quantity").cast("long").alias("q"),
            F.col("l_extendedprice").alias("r"),
        )
    )
    pp = base.groupBy("brand", "part", "period").agg(
        F.sum("q").cast("long").alias("q"),
        F.round(100 * F.sum("r") / F.sum("q")).cast("long").alias(
            "p_cents"
        ),
    )
    b = pp.filter(F.col("period") == 0).select(
        "brand",
        "part",
        F.col("q").alias("q0"),
        F.col("p_cents").alias("p0"),
    )
    c = pp.filter(F.col("period") == 1).select(
        F.col("brand").alias("cb"),
        F.col("part").alias("cp"),
        F.col("q").alias("q1"),
        F.col("p_cents").alias("p1"),
    )
    matched = b.join(
        c, (F.col("cp") == F.col("part")) & (F.col("cb") == F.col("brand"))
    )
    agg = matched.groupBy("brand").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum(F.col("p1") * F.col("q0")).cast("long").alias("l_num"),
        F.sum(F.col("p0") * F.col("q0")).cast("long").alias("l_den"),
        F.sum(F.col("p1") * F.col("q1")).cast("long").alias("p_num"),
        F.sum(F.col("p0") * F.col("q1")).cast("long").alias("p_den"),
    )
    las = F.col("l_num").cast("double") / F.col("l_den")
    paa = F.col("p_num").cast("double") / F.col("p_den")
    return agg.select(
        "brand",
        "n_parts",
        "l_num",
        "l_den",
        "p_num",
        "p_den",
        las.alias("laspeyres"),
        paa.alias("paasche"),
        F.sqrt(las * paa).alias("fisher"),
    )

# ---------------------------------------------------------------------------
# Double-entry ledger reconciliation (planted discrepancies recovered)
# ---------------------------------------------------------------------------


def _ledger_oracle() -> str:
    return """
    WITH base AS (
      SELECT o_orderkey AS k,
             CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT)
               AS day,
             CAST(round(100 * o_totalprice) AS BIGINT) AS cents,
             CAST('0x' || substr(md5('err|' || CAST(o_orderkey AS VARCHAR)),
                                 1, 8) AS BIGINT) % 97 AS e,
             CAST('0x' || substr(md5('gap|' || CAST(o_orderkey AS VARCHAR)),
                                 1, 8) AS BIGINT) % 101 AS g
      FROM orders
    ),
    debits AS (
      SELECT k, day, cents + CASE WHEN e = 0 THEN 1 ELSE 0 END AS amt
      FROM base
    ),
    credits AS (
      SELECT k, day, cents AS amt FROM base WHERE g <> 0
    )
    SELECT d.k AS o_orderkey, d.day,
           d.amt AS debit_cents,
           COALESCE(c.amt, 0) AS credit_cents,
           d.amt - COALESCE(c.amt, 0) AS diff_cents,
           CASE WHEN c.k IS NULL THEN 'missing_credit'
                ELSE 'amount_mismatch' END AS anomaly
    FROM debits d
    LEFT JOIN credits c ON c.k = d.k
    WHERE c.k IS NULL OR d.amt <> c.amt
    """


@query("orders_ledger_reconcile", oracle=_ledger_oracle(), since=10)
def orders_ledger_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOUBLE-ENTRY RECONCILIATION — the controls job every finance
    close runs (match the AR subledger against revenue postings, list
    every break): two ledgers are derived from orders in exact cents,
    with PLANTED discrepancies — ~1% of debits carry a one-cent error
    (md5 % 97), ~1% of credit postings are missing entirely (md5 %
    101) — and the reconciler must recover exactly the planted break
    list, classified (amount_mismatch vs missing_credit), which the
    twin test asserts set-for-set against the generative rule (the
    planted-ground-truth discipline of Hough/registration, applied to
    a controls workload). Cents are round(100 * price) bigints; every
    comparison integer-exact.

    Scale: one scan, one key-keyed LEFT join (the anti-join half of
    full reconciliation; the credit-only direction is symmetric), one
    filter — linear, shuffle on the ledger key only. Real closes add
    fuzzy matching (amount+date blocking) which the
    sorted-neighborhood and fuzzy-pairs entries already provide.

    Reference capability class: cross-table audit (orders_ri_audit's
    value-level sibling)."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )

    def _h(tag: str, mod: int):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(tag + "|"),
                            F.col("o_orderkey").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % mod
        )

    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.floor(
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            / F.lit(86_400_000_000)
        )
        .cast("long")
        .alias("day"),
        F.round(100 * F.col("o_totalprice")).cast("long").alias("cents"),
        _h("err", 97).alias("e"),
        _h("gap", 101).alias("g"),
    )
    debits = base.select(
        "k",
        "day",
        (
            F.col("cents") + F.when(F.col("e") == 0, 1).otherwise(0)
        ).alias("amt"),
    )
    credits = base.filter(F.col("g") != 0).select(
        F.col("k").alias("ck"), F.col("cents").alias("camt")
    )
    return (
        debits.join(credits, debits["k"] == credits["ck"], "left")
        .filter(
            F.col("ck").isNull() | (F.col("amt") != F.col("camt"))
        )
        .select(
            F.col("k").alias("o_orderkey"),
            "day",
            F.col("amt").alias("debit_cents"),
            F.coalesce("camt", F.lit(0)).cast("long").alias(
                "credit_cents"
            ),
            (F.col("amt") - F.coalesce("camt", F.lit(0)))
            .cast("long")
            .alias("diff_cents"),
            F.when(F.col("ck").isNull(), "missing_credit")
            .otherwise("amount_mismatch")
            .alias("anomaly"),
        )
    )

# ---------------------------------------------------------------------------
# Euler circuit / path existence per component (degree-parity theorem)
# ---------------------------------------------------------------------------


def _euler_oracle() -> str:
    return """
    WITH RECURSIVE pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    und AS MATERIALIZED (
      SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING count(*) >= 2
    ),
    sym AS (
      SELECT pa AS a, pb AS b FROM und
      UNION ALL SELECT pb, pa FROM und
    ),
    nodes AS (SELECT DISTINCT a AS n FROM sym),
    reach(src, node) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN sym e ON e.a = r.node
    ),
    comp AS MATERIALIZED (
      SELECT src AS n, min(node) AS cid FROM reach GROUP BY src
    ),
    deg AS (SELECT a AS n, CAST(count(*) AS BIGINT) AS d
            FROM sym GROUP BY a)
    SELECT c.cid AS component,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(d.d) / 2 AS BIGINT) AS n_edges,
           CAST(sum(CASE WHEN d.d % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_odd,
           CAST(CASE WHEN sum(CASE WHEN d.d % 2 = 1 THEN 1 ELSE 0 END) = 0
                     THEN 1 ELSE 0 END AS BIGINT) AS has_circuit,
           CAST(CASE WHEN sum(CASE WHEN d.d % 2 = 1 THEN 1 ELSE 0 END)
                          IN (0, 2)
                     THEN 1 ELSE 0 END AS BIGINT) AS has_path
    FROM comp c JOIN deg d ON d.n = c.n
    GROUP BY c.cid
    """


@query("graph_euler_check", oracle=_euler_oracle(), since=10)
def graph_euler_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EULER CIRCUIT/PATH EXISTENCE — the theorem that founded graph
    theory (Euler 1736), decided per connected component by pure
    degree parity: a connected multigraph has an Euler circuit iff
    every vertex has even degree, an Euler path iff exactly 0 or 2
    vertices are odd. The route-inspection question ("can this
    pipeline/street/trace network be traversed edge-once?") thus
    reduces to ONE degree aggregate + the shared CC engine — no path
    search at all, which is the whole point of the theorem and makes
    the answer exactly hash-checkable. Output per component: size,
    edge count (handshake: sum(deg)/2 — exact, the division is by
    construction even), odd-degree count, and both existence flags.

    Scale: degree table is one aggregate over the symmetrized edge
    list; components come from the doubling CC engine (O(log
    diameter) rounds); the parity aggregate is component-keyed. All
    shuffle keys are vertex/component ids.

    Reference capability class: graph diagnostics (triangle/k-core/
    MIS/densest family — the traversability member)."""
    from virapipe_spark.graph import connected_components_doubling

    # r12: basket edge build (the _order_pair_counts port)
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    und = (
        _order_pair_counts(li)
        .filter(F.col("support") >= 2)
        .select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    )
    und = truncate_lineage(und, reliable=True)
    sym = und.unionAll(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    nodes = sym.select(F.col("a").alias("n")).distinct()
    comp = connected_components_doubling(
        und, nodes, node_col="n", label_col="cid"
    )
    deg = sym.groupBy(F.col("a").alias("n")).agg(
        F.count("*").cast("long").alias("d")
    )
    return (
        comp.join(deg, "n")
        .groupBy(F.col("cid").alias("component"))
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            (F.sum("d") / 2).cast("long").alias("n_edges"),
            F.sum(F.when(F.col("d") % 2 == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_odd"),
        )
        .select(
            "component",
            "n_nodes",
            "n_edges",
            "n_odd",
            F.when(F.col("n_odd") == 0, 1).otherwise(0).cast("long")
            .alias("has_circuit"),
            F.when(F.col("n_odd").isin(0, 2), 1).otherwise(0)
            .cast("long")
            .alias("has_path"),
        )
    )

# ---------------------------------------------------------------------------
# Airport-game Shapley values (exact cooperative cost allocation)
# ---------------------------------------------------------------------------

_SHAP_N = 10
_SHAP_LCM = 2520  # lcm(1..10): every divisor (n - j + 1) divides it


def _shapley_oracle() -> str:
    n, lcm = _SHAP_N, _SHAP_LCM
    return f"""
    WITH top10 AS MATERIALIZED (
      SELECT s_suppkey, CAST(round(100 * s_acctbal) AS BIGINT) AS cost
      FROM supplier
      ORDER BY s_acctbal DESC, s_suppkey
      LIMIT {n}
    ),
    ranked AS (
      SELECT s_suppkey, cost,
             row_number() OVER (ORDER BY cost, s_suppkey) AS j
      FROM top10
    ),
    diffs AS (
      SELECT s_suppkey, cost, j,
             cost - coalesce(lag(cost) OVER (ORDER BY j), 0) AS d
      FROM ranked
    ),
    phi AS (
      SELECT s_suppkey, cost, j,
             CAST(sum(({lcm} // ({n} - j + 1)) * d)
                  OVER (ORDER BY j ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS phi_scaled
      FROM diffs
    )
    SELECT s_suppkey, cost AS cost_cents, CAST(j AS BIGINT) AS j,
           phi_scaled,
           CAST(phi_scaled AS DOUBLE) / {lcm} AS shapley_cents,
           CAST(CASE WHEN sum(phi_scaled) OVER ()
                          = {lcm} * max(cost) OVER ()
                     THEN 1 ELSE 0 END AS BIGINT) AS efficiency_ok
    FROM phi
    """


@query("supplier_airport_shapley", oracle=_shapley_oracle(), since=10)
def supplier_airport_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHAPLEY VALUE cost allocation for the AIRPORT GAME
    (Littlechild & Owen 1973) — the cooperative-game answer to "who
    pays how much of the shared runway/pipeline/cluster": when player
    j's standalone cost is c_j (sorted ascending), the O(n) closed
    form phi_j = sum_{{i<=j}} (c_i - c_{{i-1}}) / (n - i + 1) replaces
    the 2^n coalition enumeration. Over the top-10 suppliers by
    account balance (costs in cents), every division is by one of
    1..10, so scaling by lcm(1..10) = 2520 makes each Shapley value
    an EXACT bigint (phi_scaled) — no float in any comparison; the
    EFFICIENCY AXIOM (allocations sum to the grand-coalition cost,
    i.e. sum(phi) = c_max, a telescoping identity) is verified as
    exact integers and emitted per row. The twin test additionally
    brute-forces the true Shapley formula over all 2^9 coalitions per
    player — the closed form against the definition.

    Scale: the game here is deliberately a FIXED 10-player panel (the
    allocation report shape); the distributed part is selecting the
    panel and pricing costs from the fact tables — and the panel pick
    is an ``orderBy().limit(n)`` TakeOrderedAndProject (r11: it was a
    global row_number over the SF-LINEAR supplier table, the same
    data-sized top-k anti-pattern BM25's term pick retired in r9/r10).
    The remaining windows run over the 10-row panel. Large-n airport
    games stay O(n log n) — one sort, one lag, one running sum — via
    the two_phase machinery if the panel itself ever scales.

    Reference capability class: cost attribution analytics (the
    attribution_ushape family — its game-theoretic member)."""
    n, lcm = _SHAP_N, _SHAP_LCM
    s = table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.round(100 * F.col("s_acctbal")).cast("long").alias(
            "cost"
        ),
        "s_acctbal",
    )
    top = (
        s.orderBy(F.col("s_acctbal").desc(), "s_suppkey")
        .limit(n)
        .select("s_suppkey", "cost")
    )
    ranked = top.select(
        "s_suppkey",
        "cost",
        F.row_number().over(W.orderBy("cost", "s_suppkey")).alias("j"),
    )
    diffs = ranked.select(
        "s_suppkey",
        "cost",
        "j",
        (
            F.col("cost")
            - F.coalesce(F.lag("cost").over(W.orderBy("j")), F.lit(0))
        ).alias("d"),
    )
    phi = diffs.select(
        "s_suppkey",
        "cost",
        "j",
        F.sum(
            F.expr(f"CAST({lcm} div ({n} - j + 1) AS BIGINT) * d")
        )
        .over(W.orderBy("j").rowsBetween(W.unboundedPreceding, 0))
        .cast("long")
        .alias("phi_scaled"),
    )
    wall = W.orderBy().rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    return phi.select(
        "s_suppkey",
        F.col("cost").alias("cost_cents"),
        F.col("j").cast("long").alias("j"),
        "phi_scaled",
        (F.col("phi_scaled").cast("double") / lcm).alias("shapley_cents"),
        F.when(
            F.sum("phi_scaled").over(wall)
            == lcm * F.max("cost").over(wall),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("efficiency_ok"),
    )

# ---------------------------------------------------------------------------
# Newsvendor critical fractile (exact quantile stock level + optimality)
# ---------------------------------------------------------------------------

_NV_CU = 3  # underage cost per unit (lost margin)
_NV_CO = 1  # overage cost per unit (holding/salvage loss)


def _nv_oracle() -> str:
    cu, co = _NV_CU, _NV_CO
    return f"""
    WITH d AS (
      SELECT p.p_brand AS brand,
             CAST(floor(epoch_us(l.l_shipdate) / 86400000000) AS BIGINT)
               AS day,
             CAST(sum(round(l.l_quantity)) AS BIGINT) AS dem
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY brand, day
    ),
    hist AS (
      SELECT brand, dem, CAST(count(*) AS BIGINT) AS c
      FROM d GROUP BY brand, dem
    ),
    q AS MATERIALIZED (
      SELECT brand,
             CAST(min(CASE WHEN ({cu} + {co}) * cc >= {cu} * n
                           THEN dem END) AS BIGINT) AS q_star
      FROM (
        SELECT brand, dem,
               sum(c) OVER (PARTITION BY brand ORDER BY dem
                            ROWS UNBOUNDED PRECEDING) AS cc,
               sum(c) OVER (PARTITION BY brand) AS n
        FROM hist
      ) GROUP BY brand
    ),
    costs AS (
      SELECT d.brand, q.q_star,
             CAST(sum({co} * greatest(0, q.q_star - d.dem)
                    + {cu} * greatest(0, d.dem - q.q_star))
                  AS BIGINT) AS cost_at,
             CAST(sum({co} * greatest(0, q.q_star - 1 - d.dem)
                    + {cu} * greatest(0, d.dem - q.q_star + 1))
                  AS BIGINT) AS cost_minus,
             CAST(sum({co} * greatest(0, q.q_star + 1 - d.dem)
                    + {cu} * greatest(0, d.dem - q.q_star - 1))
                  AS BIGINT) AS cost_plus,
             CAST(count(*) AS BIGINT) AS n_days
      FROM d JOIN q ON q.brand = d.brand
      GROUP BY d.brand, q.q_star
    )
    SELECT brand, q_star, n_days, cost_at, cost_minus, cost_plus,
           CAST(CASE WHEN cost_at <= cost_minus AND cost_at <= cost_plus
                     THEN 1 ELSE 0 END AS BIGINT) AS is_optimal
    FROM costs
    """


@query("lineitem_newsvendor", oracle=_nv_oracle(), since=10)
def lineitem_newsvendor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEWSVENDOR CRITICAL FRACTILE — the inventory-theory cornerstone
    (stock q* = the cu/(cu+co) demand quantile minimizes expected
    underage+overage cost): per brand, the empirical 75th-percentile
    daily demand (cu=3, co=1) via the exact bounded-histogram crossing
    ((cu+co)*cum >= cu*n — no interpolation), and then the THEOREM IS
    VERIFIED AS DATA: the realized cost at q* is recomputed against
    the demand history alongside the cost at q*-1 and q*+1, and
    is_optimal asserts the discrete local minimum that the critical
    fractile guarantees (local optimality = global here, by convexity
    of the piecewise-linear cost). All integer arithmetic.

    Scale: demand aggregation is one fact pass to (brand, day) grain;
    the quantile is the histogram-crossing trick (spectrum/per-cycle
    precedents); cost evaluation is one join of the day grain against
    the 25-row q* table (broadcast). Nothing scales with raw
    lineitems beyond the first aggregate.

    Reference capability class: operations analytics (the queueing /
    FIFO-matching family — its stochastic-inventory member)."""
    cu, co = _NV_CU, _NV_CO
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_quantity"
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    d = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .select(
            F.col("p_brand").alias("brand"),
            F.floor(
                F.unix_micros(F.col("l_shipdate").cast("timestamp"))
                / F.lit(86_400_000_000)
            )
            .cast("long")
            .alias("day"),
            F.round("l_quantity").cast("long").alias("qty"),
        )
        .groupBy("brand", "day")
        .agg(F.sum("qty").cast("long").alias("dem"))
    )
    d = truncate_lineage(d, reliable=True)
    hist = d.groupBy("brand", "dem").agg(
        F.count("*").cast("long").alias("c")
    )
    wb = W.partitionBy("brand")
    q = (
        hist.select(
            "brand",
            "dem",
            F.sum("c")
            .over(wb.orderBy("dem").rowsBetween(W.unboundedPreceding, 0))
            .alias("cc"),
            F.sum("c")
            .over(
                wb.orderBy().rowsBetween(
                    W.unboundedPreceding, W.unboundedFollowing
                )
            )
            .alias("n"),
        )
        .groupBy("brand")
        .agg(
            F.min(
                F.when(
                    (cu + co) * F.col("cc") >= cu * F.col("n"),
                    F.col("dem"),
                )
            )
            .cast("long")
            .alias("q_star")
        )
    )

    def cost(qcol):
        return F.sum(
            co * F.greatest(F.lit(0), qcol - F.col("dem"))
            + cu * F.greatest(F.lit(0), F.col("dem") - qcol)
        ).cast("long")

    costs = (
        d.join(F.broadcast(q), "brand")
        .groupBy("brand", "q_star")
        .agg(
            cost(F.col("q_star")).alias("cost_at"),
            cost(F.col("q_star") - 1).alias("cost_minus"),
            cost(F.col("q_star") + 1).alias("cost_plus"),
            F.count("*").cast("long").alias("n_days"),
        )
    )
    return costs.select(
        "brand",
        "q_star",
        "n_days",
        "cost_at",
        "cost_minus",
        "cost_plus",
        F.when(
            (F.col("cost_at") <= F.col("cost_minus"))
            & (F.col("cost_at") <= F.col("cost_plus")),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("is_optimal"),
    )

# ---------------------------------------------------------------------------
# Degree assortativity (Newman's r as an exact integer rational)
# ---------------------------------------------------------------------------


def _assort_oracle() -> str:
    return """
    WITH pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    und AS MATERIALIZED (
      SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING count(*) >= 2
    ),
    sym AS MATERIALIZED (
      SELECT pa AS a, pb AS b FROM und
      UNION ALL SELECT pb, pa FROM und
    ),
    deg AS MATERIALIZED (
      SELECT a AS n, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY a
    ),
    ed AS (
      SELECT da.d AS j, db.d AS k
      FROM sym e
      JOIN deg da ON da.n = e.a
      JOIN deg db ON db.n = e.b
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(j) AS BIGINT) AS sj,
             CAST(sum(j * j) AS BIGINT) AS sjj,
             CAST(sum(j * k) AS BIGINT) AS sjk
      FROM ed
    )
    SELECT m, sj, sjj, sjk,
           CAST(m * sjk - sj * sj AS BIGINT) AS r_num,
           CAST(m * sjj - sj * sj AS BIGINT) AS r_den,
           CAST(m * sjk - sj * sj AS DOUBLE)
             / (m * sjj - sj * sj) AS assortativity
    FROM m
    """


@query("graph_assortativity", oracle=_assort_oracle(), since=10)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY — Newman's r (2002), the one number that
    separates social-style graphs (hubs befriend hubs, r > 0) from
    technological/biological ones (hubs attach to leaves, r < 0), and
    the standard first diagnostic after degree distribution and
    clustering coefficient. It is the Pearson correlation of endpoint
    degrees over the SYMMETRIZED edge list — and on a symmetric list
    the two marginals coincide, so r collapses to ONE exact integer
    rational: r = (M*Sjk - Sj^2) / (M*Sjj - Sj^2); numerator and
    denominator ship as bigints beside the single-division double,
    the OLS-Cramer discipline applied to graph topology. The twin
    recomputes the moments in python and re-derives r both from this
    identity and from the two-marginal textbook formula, proving the
    collapse.

    Scale: one degree aggregate, two vertex-keyed equi-joins to
    decorate edges with endpoint degrees (the Pregel contrib shape),
    one map-side-combined moment aggregate — linear in edges, no
    iteration at all.

    Reference capability class: graph statistics
    (clustering-coefficient family; SURVEY.md graph extras)."""
    # r12: basket edge build (the _order_pair_counts port)
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    und = (
        _order_pair_counts(li)
        .filter(F.col("support") >= 2)
        .select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    )
    und = truncate_lineage(und, reliable=True)
    sym = und.unionAll(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy(F.col("a").alias("n")).agg(
        F.count("*").cast("long").alias("d")
    )
    ed = (
        sym.join(
            deg.select(F.col("n").alias("na"), F.col("d").alias("j")),
            F.col("na") == F.col("a"),
        )
        .join(
            deg.select(F.col("n").alias("nb"), F.col("d").alias("k")),
            F.col("nb") == F.col("b"),
        )
        .select("j", "k")
    )
    m = ed.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("j").cast("long").alias("sj"),
        F.sum(F.col("j") * F.col("j")).cast("long").alias("sjj"),
        F.sum(F.col("j") * F.col("k")).cast("long").alias("sjk"),
    )
    return m.select(
        "m",
        "sj",
        "sjj",
        "sjk",
        (F.col("m") * F.col("sjk") - F.col("sj") * F.col("sj"))
        .cast("long")
        .alias("r_num"),
        (F.col("m") * F.col("sjj") - F.col("sj") * F.col("sj"))
        .cast("long")
        .alias("r_den"),
        (
            (F.col("m") * F.col("sjk") - F.col("sj") * F.col("sj"))
            .cast("double")
            / (F.col("m") * F.col("sjj") - F.col("sj") * F.col("sj"))
        ).alias("assortativity"),
    )
