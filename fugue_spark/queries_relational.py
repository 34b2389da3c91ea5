"""Relational headline queries (SURVEY.md §2.1 operator families).

B-series shapes from BASELINE.md: scan/filter/project, group-agg, multi-join
+ broadcast dims, semi/anti, per-group top-k, set ops, IO round trip.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import fugue_spark.api as fa
from fugue_spark import functions as ff
from fugue_spark.benchmarks import load_table, register


def _money_sum(col, scale: int):
    """Exact cross-engine SUM of fixed-decimal doubles: scale each row to an
    integer, sum as int64 (order-independent), then divide back. A float SUM
    rounded after the fact is NOT reproducible across engines — half-even vs
    half-up at .xx5 boundaries flips the last digit.

    floor(x*scale + 0.5), not round(x*scale, 0): Spark's round on doubles
    goes through BigDecimal.valueOf — a Double.toString + BigDecimal
    allocation PER ROW per aggregate, measured as q1's entire compute margin
    at sf10 (2.27 s -> 0.74 s, scripts/expr_variants.py). The two agree
    everywhere the scaled value is not exactly *.5 — and these inputs are
    fixed-decimal, so x*scale is integer +/- float error (~1e-10), never .5;
    equality re-proved against every oracle at all driver SFs + sf1/sf10."""
    return (F.sum(F.floor(col * scale + F.lit(0.5))).cast("double") / scale)


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100 AS sum_base_price,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS DOUBLE) / 10000 AS sum_disc_price,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000, 0) AS BIGINT)) AS DOUBLE) / 1000000 AS sum_charge,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100 / COUNT(*) AS avg_price,
           CAST(SUM(CAST(ROUND(l_discount * 100, 0) AS BIGINT)) AS DOUBLE) / 100 / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("aggregate", "filter"),
    bench=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → filter → 8-agg groupBy.

    Scale posture: single shuffle on two low-cardinality keys; partial
    (map-side) aggregation makes the shuffle tiny regardless of input size.
    Filter + column pruning push down to the parquet scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    qty_sum = F.sum(F.col("l_quantity").cast("long")).cast("double")
    price_sum = _money_sum(F.col("l_extendedprice"), 100)
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            qty_sum.alias("sum_qty"),
            price_sum.alias("sum_base_price"),
            _money_sum(disc_price, 10000).alias("sum_disc_price"),
            _money_sum(charge, 1000000).alias("sum_charge"),
            (qty_sum / n).alias("avg_qty"),
            (price_sum / n).alias("avg_price"),
            (_money_sum(F.col("l_discount"), 100) / n).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q2_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity,
           l_extendedprice * (1 - l_discount) AS net_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_discount > 0.05 AND l_quantity < 25
    """,
    tags=("filter", "select"),
    bench=True,
)
def q2_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1: scan → filter → project through the engine's select operator.

    Predicates and the 6-column projection push down into the parquet scan
    (PushedFilters + ReadSchema) — the scan never materializes unused
    columns, which is the whole game at 100 TB.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return fa.select(
        li,
        ff.col("l_orderkey"),
        ff.col("l_linenumber"),
        ff.col("l_quantity"),
        (ff.col("l_extendedprice") * (1 - ff.col("l_discount"))).alias("net_price"),
        where=(ff.col("l_shipdate") >= ff.lit("1995-01-01").cast("datetime"))
        & (ff.col("l_discount") > 0.05)
        & (ff.col("l_quantity") < 25),
    )


@register(
    "q3_join_revenue_by_nation",
    oracle="""
    SELECT n_name, r_name,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100 AS revenue,
           COUNT(*) AS n_orders
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    JOIN orders ON o_custkey = c_custkey
    GROUP BY n_name, r_name
    ORDER BY n_name
    """,
    tags=("join", "broadcast", "aggregate"),
    bench=True,
)
def q3_join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3: fact ⋈ dims with explicit broadcast of the small sides.

    nation/region (25/5 rows at any SF) are broadcast, and so is the
    customer⋈dims result — the whole dimension side of the star, so the
    fact table (orders) never shuffles at all: scan → broadcast hash join
    → partial agg on 25 groups. That is the right 100 TB plan as long as
    the customer dim fits executor memory; when it doesn't, drop the
    outer broadcast and Catalyst/AQE plan the custkey exchange (SMJ with
    runtime skew handling) — the gate exercises the engine's explicit
    broadcast operator either way.
    """
    cust = fa.rename(load_table(spark, sf_dir, "customer"), {"c_nationkey": "n_nationkey"})
    nat = fa.rename(load_table(spark, sf_dir, "nation"), {"n_regionkey": "r_regionkey"})
    reg = load_table(spark, sf_dir, "region")
    orders = fa.rename(load_table(spark, sf_dir, "orders"), {"o_custkey": "c_custkey"})
    dims = fa.join(fa.broadcast(nat), fa.broadcast(reg), "inner")  # nation ⋈ region
    enriched = fa.join(cust, fa.broadcast(dims), "inner")
    joined = fa.join(orders, fa.broadcast(enriched), "inner")
    return fa.select(
        joined,
        ff.col("n_name"),
        ff.col("r_name"),
        ff.ColumnExpr(_money_sum(F.col("o_totalprice"), 100), has_agg=True).alias("revenue"),
        ff.count(ff.all_cols()).alias("n_orders"),
    ).orderBy("n_name")


@register(
    "q4_semi_join",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_custkey IN (
      SELECT o_custkey FROM orders WHERE o_totalprice > 300000
    )
    """,
    tags=("join",),
    bench=True,
)
def q4_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: customers having a big order — left-semi join, left schema only.

    The filtered orders side is small after the selective predicate, so it
    is broadcast (fa.broadcast): the semi join becomes map-only on the
    customer side — no shuffle of either input. Cached inputs carry
    full-size stats, so static planning (and stage-granular AQE) would
    otherwise sort-merge with BOTH sides exchanged: measured 1.29 s → 0.33
    s at sf1. At 100 TB a selective-dim broadcast is the difference
    between a 6-billion-row exchange and none."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    big = fa.rename(
        fa.filter(orders, ff.col("o_totalprice") > 300000.0), {"o_custkey": "c_custkey"}
    )
    res = fa.semi_join(cust, fa.broadcast(fa.select_columns(big, ["c_custkey"])))
    return fa.select_columns(res, ["c_custkey", "c_name", "c_acctbal"])


@register(
    "q5_anti_join",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE c_custkey NOT IN (
      SELECT o_custkey FROM orders
      WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 250000
    )
    """,
    tags=("join",),
)
def q5_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: customers with no big urgent order — left-anti join."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = fa.rename(
        fa.filter(
            orders,
            (ff.col("o_orderpriority") == "1-URGENT") & (ff.col("o_totalprice") > 250000.0),
        ),
        {"o_custkey": "c_custkey"},
    )
    # broadcast the selective side (see q4): anti join goes map-only
    res = fa.anti_join(cust, fa.broadcast(fa.select_columns(urgent, ["c_custkey"])))
    return fa.select_columns(res, ["c_custkey", "c_mktsegment"])


@register(
    "q6_topk_per_customer",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM (
      SELECT o_orderkey, o_custkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    tags=("take", "window"),
    bench=True,
)
def q6_topk_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5: top-3 orders per customer via the take operator (row_number
    window — one shuffle on the partition key, no global sort)."""
    orders = fa.select_columns(
        load_table(spark, sf_dir, "orders"), ["o_orderkey", "o_custkey", "o_totalprice"]
    )
    return fa.take(orders, 3, presort="o_totalprice DESC", partition={"by": ["o_custkey"]})


@register(
    "q7_setops_brands",
    oracle="""
    WITH small_parts AS (SELECT p_brand, p_size FROM part WHERE p_size < 15),
         cheap_parts AS (SELECT p_brand, p_size FROM part WHERE p_retailprice < 1200)
    SELECT p_brand, p_size FROM (
      SELECT * FROM small_parts UNION SELECT * FROM cheap_parts
    ) EXCEPT
    SELECT p_brand, p_size FROM (
      SELECT * FROM small_parts INTERSECT SELECT * FROM cheap_parts
    )
    """,
    tags=("setops", "distinct"),
    bench=True,
)
def q7_setops_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8: union/intersect/subtract composition with distinct semantics."""
    part = load_table(spark, sf_dir, "part")
    cols = ["p_brand", "p_size"]
    small = fa.select_columns(fa.filter(part, ff.col("p_size") < 15), cols)
    cheap = fa.select_columns(fa.filter(part, ff.col("p_retailprice") < 1200.0), cols)
    return fa.subtract(fa.union(small, cheap), fa.intersect(small, cheap))


@register(
    "q8_assign_fillna_agg",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(ROUND((CASE WHEN value >= 10 THEN value ELSE 0 END) * 100, 0) AS BIGINT)) AS DOUBLE) / 100 AS big_value_sum,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
    tags=("assign", "fillna", "aggregate"),
)
def q8_assign_fillna_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """assign → fillna → aggregate chain: small-value events nulled then
    filled with 0 — exercises the NA operators inside one Catalyst plan."""
    ev = load_table(spark, sf_dir, "events")
    ev = fa.assign(
        ev,
        big_value=ff.ColumnExpr(
            F.when(F.col("value") >= 10, F.col("value")).otherwise(F.lit(None))
        ),
    )
    ev = fa.fillna(ev, {"big_value": 0.0})
    return fa.aggregate(
        ev,
        "event_type",
        big_value_sum=ff.ColumnExpr(_money_sum(F.col("big_value"), 100), has_agg=True),
        n=ff.count(ff.all_cols()),
    )


@register(
    "q9_io_roundtrip",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
    FROM lineitem GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("io",),
    bench=True,
    # timing-only: the correctness oracle reads the ORIGINAL table (equality
    # proves the round trip lossless) so timing it would compare a real
    # write+reload against a no-IO aggregate; this does the identical
    # partitioned-parquet write + reload on the DuckDB side
    duck_bench="""
    COPY (SELECT l_returnflag, l_quantity FROM lineitem)
      TO '/tmp/duck_bench_q9.parquet'
      (FORMAT PARQUET, PARTITION_BY (l_returnflag), OVERWRITE_OR_IGNORE);
    SELECT l_returnflag, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
    FROM read_parquet('/tmp/duck_bench_q9.parquet/*/*.parquet',
                      hive_partitioning = 1)
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q9_io_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B10: save partitioned parquet → reload → aggregate. The oracle runs
    on the original table; equality proves the round trip is lossless."""
    li = fa.select_columns(
        load_table(spark, sf_dir, "lineitem"), ["l_returnflag", "l_quantity"]
    )
    out = os.path.join(tempfile.gettempdir(), "fugue_spark_q9.parquet")
    fa.save(li, out, mode="overwrite", partition_by=["l_returnflag"])
    # the written frame's schema: the reload runs no schema-inference job
    back = fa.load(spark, out, schema=fa.get_schema(li))
    # total-order output: the driver's value hash is row-order-sensitive
    return fa.aggregate(
        back,
        "l_returnflag",
        n=ff.count(ff.all_cols()),
        qty=ff.sum(ff.col("l_quantity").cast("long")),
    ).orderBy("l_returnflag")


@register(
    "q10_sql_passthrough_window",
    oracle="""
    SELECT user_id, n_sessions, n_events FROM (
      SELECT user_id,
             CAST(1 + SUM(CASE WHEN gap_us > 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
             COUNT(*) AS n_events
      FROM (
        SELECT user_id,
               EPOCH_US(CAST(ts AS TIMESTAMP) - LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts)) AS gap_us
        FROM events
      )
      GROUP BY user_id
    )
    ORDER BY user_id
    """,
    tags=("sql", "window"),
    bench=True,
)
def q10_sql_passthrough_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-SQL passthrough (the reference's posture for window functions:
    SELECT bodies ship verbatim to the backend). Sessionization: count
    gaps > 1h per user with LAG — integer output, engine-independent."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
        SELECT user_id, n_sessions, n_events FROM (
          SELECT user_id,
                 1 + SUM(CASE WHEN gap_us > 3600000000 THEN 1 ELSE 0 END) AS n_sessions,
                 COUNT(*) AS n_events
          FROM (
            SELECT user_id,
                   unix_micros(CAST(ts AS TIMESTAMP)) - LAG(unix_micros(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY ts) AS gap_us
            FROM events
          )
          GROUP BY user_id
        )
        ORDER BY user_id
        """
    )


@register(
    "q11_transform_per_order",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS DOUBLE) / 10000 AS revenue,
           COUNT(*) AS n_lines,
           FIRST(l_linenumber ORDER BY l_quantity DESC, l_linenumber ASC) AS top_line
    FROM lineitem
    GROUP BY l_orderkey
    """,
    tags=("transform", "map"),
    bench=True,
)
def q11_transform_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6: the flagship map engine — per-orderkey pandas function with
    prepartition + presort, run by the grouped map engine: one shuffle on
    the key, one JVM sort that also applies the presort, then mapInArrow
    with per-group pandas frames (no driver involvement). ``compile=False``
    keeps it on the Python engine; q22 is the same workload compiled."""
    from fugue_spark.transform import transform

    # project BEFORE the transform: the map engine must shuffle every column
    # the user function might touch, so carrying 5 columns instead of 16 is
    # the difference between a 5-col and a 16-col exchange — at 100 TB this
    # is the whole game (same practice as q12's pre-zip projection)
    li = fa.select_columns(
        load_table(spark, sf_dir, "lineitem"),
        ["l_orderkey", "l_extendedprice", "l_discount", "l_linenumber", "l_quantity"],
    )

    def per_order(pdf):
        import numpy as np

        # exact fixed-point sum (see _money_sum): identical across engines.
        # dict output: the engine batches dict results into one frame per
        # chunk — 5× cheaper than building a 1-row DataFrame per group.
        ep = pdf.l_extendedprice.values
        rev_e4 = int(np.round(ep * (1 - pdf.l_discount.values) * 10000).astype("int64").sum())
        return {
            "l_orderkey": int(pdf.l_orderkey.values[0]),
            "revenue": rev_e4 / 10000.0,
            "n_lines": len(pdf),
            "top_line": int(pdf.l_linenumber.values[0]),
        }

    return transform(
        li,
        per_order,
        schema="l_orderkey:long,revenue:double,n_lines:long,top_line:int",
        partition={"by": ["l_orderkey"], "presort": "l_quantity DESC, l_linenumber ASC"},
        compile=False,
    )


@register(
    "q12_cotransform_order_lines",
    oracle="""
    SELECT o.o_orderkey AS orderkey,
           COUNT(l.l_linenumber) AS n_lines,
           CAST(CAST(ROUND(MAX(o.o_totalprice) * 10000, 0) AS BIGINT)
             - SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS price_gap_e4
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey
    """,
    tags=("zip", "comap", "cogroup"),
    bench=True,
)
def q12_cotransform_order_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7: zip/comap — orders zipped with lineitem by orderkey as one
    tagged union, shuffled once on the key and split back per side by the
    grouped map engine. ``compile=False`` keeps it on the Python engine;
    q23 is the same workload compiled."""
    from fugue_spark.cotransform import cotransform

    # project BEFORE the zip: the tagged union shuffles the superset schema,
    # so carrying only the needed columns is the difference between a 4-col
    # and a 25-col exchange — at 100 TB this is the whole game
    orders = fa.select_columns(
        fa.rename(load_table(spark, sf_dir, "orders"), {"o_orderkey": "orderkey"}),
        ["orderkey", "o_totalprice"],
    )
    li = fa.select_columns(
        fa.rename(load_table(spark, sf_dir, "lineitem"), {"l_orderkey": "orderkey"}),
        ["orderkey", "l_extendedprice", "l_discount"],
    )

    def gap(cursor, o, l):
        import numpy as np

        rev_e4 = int(
            np.round(l.l_extendedprice.values * (1 - l.l_discount.values) * 10000)
            .astype("int64")
            .sum()
        )
        total_e4 = int(np.round(o.o_totalprice.values.max() * 10000))
        return {
            "orderkey": int(cursor["orderkey"]),
            "n_lines": len(l),
            "price_gap_e4": total_e4 - rev_e4,
        }

    # NOTE: no global orderBy here — a sort after the python stage would
    # range-sample its child and execute the cotransform twice; the driver's
    # value hash is row-order-insensitive (r1 evidence: q11 hash-green with
    # unordered output), the red gates were a dtype artifact.
    return cotransform(
        [orders, li],
        gap,
        schema="orderkey:long,n_lines:long,price_gap_e4:long",
        how="inner",
        compile=False,
    )


def _q13_per_order(pdf):
    # dict output → the engine's _ArrowResultBatcher cheap path (one DataFrame
    # per 1024 groups instead of one per group — ~0.5 ms/frame saved)
    return {
        "l_orderkey": int(pdf.l_orderkey.iloc[0]),
        "n": len(pdf),
        "qty": int(pdf.l_quantity.sum()),
    }


@register(
    "q13_fuguesql_script",
    oracle="""
    SELECT l_orderkey, COUNT(*) AS n, CAST(SUM(l_quantity) AS BIGINT) AS qty
    FROM lineitem WHERE l_quantity < 30
    GROUP BY l_orderkey
    """,
    tags=("sql", "fuguesql"),
    bench=True,
)
def q13_fuguesql_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9: multi-statement FugueSQL script end-to-end — LOAD → SELECT
    (raw SQL via Catalyst) → TRANSFORM (map engine) → YIELD."""
    from fugue_spark.sql import fsql

    res = fsql(
        """
        li = LOAD PARQUET "{{path}}"
        proj = SELECT l_orderkey, l_quantity FROM li WHERE l_quantity < 30
        TRANSFORM proj PREPARTITION BY l_orderkey USING per_order SCHEMA l_orderkey:long,n:long,qty:long
        YIELD DATAFRAME AS result
        """,
        spark=spark,
        functions={"per_order": _q13_per_order},
        path=f"{sf_dir}/lineitem.parquet",
    )
    return res["result"]


def _q24_per_order(pdf):
    # traceable form of _q13_per_order: same math, no int() wrappers
    return {
        "l_orderkey": pdf.l_orderkey.iloc[0],
        "n": len(pdf),
        "qty": pdf.l_quantity.sum().astype("int64"),
    }


@register(
    "q24_fuguesql_compiled",
    oracle="""
    SELECT l_orderkey, COUNT(*) AS n, CAST(SUM(l_quantity) AS BIGINT) AS qty
    FROM lineitem WHERE l_quantity < 30
    GROUP BY l_orderkey
    """,
    tags=("sql", "fuguesql", "compile"),
    bench=True,
)
def q24_fuguesql_compiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q13's script with ``TRANSFORM COMPILED``: the SQL layer routes the
    same per-group function through the trace-compiler, so the script
    executes as LOAD → Catalyst SELECT → native groupBy().agg — zero
    Python in the final plan. Benchmarked beside q13 it isolates what the
    script's pandas stage costs."""
    from fugue_spark.sql import fsql

    res = fsql(
        """
        li = LOAD PARQUET "{{path}}"
        proj = SELECT l_orderkey, l_quantity FROM li WHERE l_quantity < 30
        TRANSFORM COMPILED proj PREPARTITION BY l_orderkey USING per_order SCHEMA l_orderkey:long,n:long,qty:long
        YIELD DATAFRAME AS result
        """,
        spark=spark,
        functions={"per_order": _q24_per_order},
        path=f"{sf_dir}/lineitem.parquet",
    )
    return res["result"]


@register(
    "q14_alter_columns_cast",
    oracle="""
    SELECT l_orderkey,
           CAST(l_quantity AS INTEGER) AS l_quantity,
           strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS ship_day,
           CAST(l_returnflag = 'R' AS BOOLEAN) AS returned,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR) AS price_dec
    FROM lineitem WHERE l_linenumber = 1
    """,
    tags=("alter_columns", "cast", "decimal"),
)
def q14_alter_columns_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """alter_columns cast matrix over the engine op (float→int with the
    NaN→NULL guard, timestamp→date, derived boolean, double→decimal(12,2)
    — the SURVEY §1.2 decimal commitment, value-checked via the canonical
    scale-2 string rendering both engines share)."""
    li = fa.filter(load_table(spark, sf_dir, "lineitem"), ff.col("l_linenumber") == 1)
    li = fa.assign(
        li,
        ship_day=ff.col("l_shipdate"),
        returned=ff.col("l_returnflag") == "R",
        price_dec=ff.col("l_extendedprice"),
    )
    li = fa.select_columns(
        li, ["l_orderkey", "l_quantity", "ship_day", "returned", "price_dec"]
    )
    out = fa.alter_columns(li, "l_quantity:int,ship_day:date,price_dec:decimal(12,2)")
    # date/decimal→string for engine-neutral comparison (date objects and
    # Decimal round-trip differently through pandas in each engine)
    return fa.alter_columns(out, "ship_day:str,price_dec:str")


@register(
    "q15_cube_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    tags=("aggregate", "cube"),
)
def q15_cube_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-set aggregation (CUBE) — free via Catalyst, part of the
    raw-SQL/aggregation surface beyond the reference's 9 agg functions."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
        )
        # explicit NULLS FIRST on both engines: Spark ASC defaults to nulls
        # first, DuckDB to nulls last — a silent row-order mismatch otherwise
        .orderBy(F.asc_nulls_first("l_returnflag"), F.asc_nulls_first("l_linestatus"))
    )


@register(
    "q16_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS BIGINT) END) AS BIGINT) AS O,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS BIGINT) END) AS BIGINT) AS F
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("pivot", "aggregate"),
)
def q16_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot on linestatus — Spark-native groupBy().pivot()."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("long")))
        .orderBy("l_returnflag")
    )


@register(
    "q17_left_join_fillna",
    oracle="""
    SELECT COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
           COUNT(*) AS n_orders
    FROM orders o
    LEFT JOIN (SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 5000) c
      ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
    tags=("join", "fillna", "aggregate"),
)
def q17_left_join_fillna(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_outer join producing NULLs → fillna → aggregate (the NA-op
    pipeline over engine primitives)."""
    orders = fa.rename(load_table(spark, sf_dir, "orders"), {"o_custkey": "c_custkey"})
    rich = fa.select_columns(
        fa.filter(load_table(spark, sf_dir, "customer"), ff.col("c_acctbal") > 5000.0),
        ["c_custkey", "c_mktsegment"],
    )
    joined = fa.left_outer_join(orders, rich)
    filled = fa.fillna(joined, {"c_mktsegment": "UNKNOWN"})
    out = fa.aggregate(filled, "c_mktsegment", n_orders=ff.count(ff.all_cols()))
    return fa.rename(out, {"c_mktsegment": "segment"})


@register(
    "q18_distinct",
    oracle="SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders",
    tags=("distinct",),
)
def q18_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return fa.distinct(fa.select_columns(orders, ["o_orderpriority", "o_orderstatus"]))


@register(
    "q20_transform_arrow_per_order",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS DOUBLE) / 10000 AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY l_orderkey
    """,
    tags=("transform", "map", "arrow"),
    bench=True,
)
def q20_transform_arrow_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q11's workload on the Arrow fast path: a ``pa.Table``-annotated
    function gets a ZERO-COPY slice of the partition's Arrow stream per
    group — no pandas block construction, no Series boxing. This is the
    engine's high-throughput transformer form (reference format_hint
    contract: fugue_spark/execution_engine.py:326-333); benchmarked beside
    q11 it isolates what the pandas handoff itself costs."""
    import pyarrow as pa

    from fugue_spark.transform import transform

    li = fa.select_columns(
        load_table(spark, sf_dir, "lineitem"),
        ["l_orderkey", "l_extendedprice", "l_discount"],
    )

    def per_order(t: pa.Table):
        import numpy as np

        ep = t.column("l_extendedprice").to_numpy()
        di = t.column("l_discount").to_numpy()
        rev_e4 = int(np.round(ep * (1 - di) * 10000).astype("int64").sum())
        return {
            "l_orderkey": t.column("l_orderkey")[0].as_py(),
            "revenue": rev_e4 / 10000.0,
            "n_lines": t.num_rows,
        }

    return transform(
        li,
        per_order,
        schema="l_orderkey:long,revenue:double,n_lines:long",
        partition={"by": ["l_orderkey"]},
        compile=False,
    )


@register(
    "q21_cotransform_arrow",
    oracle="""
    SELECT o.o_orderkey AS orderkey,
           COUNT(l.l_linenumber) AS n_lines,
           CAST(CAST(ROUND(MAX(o.o_totalprice) * 10000, 0) AS BIGINT)
             - SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS price_gap_e4
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey
    """,
    tags=("zip", "comap", "arrow"),
    bench=True,
)
def q21_cotransform_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q12's workload on the zip engine's Arrow fast path: both sides are
    ``pa.Table``-annotated, so each group is a pair of zero-copy
    ``Table.slice`` views of the partition stream — no pandas construction
    anywhere. Benchmarked beside q12 it isolates the cotransform pandas
    handoff cost exactly as q20 does for q11."""
    import pyarrow as pa

    from fugue_spark.cotransform import cotransform

    orders = fa.select_columns(
        fa.rename(load_table(spark, sf_dir, "orders"), {"o_orderkey": "orderkey"}),
        ["orderkey", "o_totalprice"],
    )
    li = fa.select_columns(
        fa.rename(load_table(spark, sf_dir, "lineitem"), {"l_orderkey": "orderkey"}),
        ["orderkey", "l_extendedprice", "l_discount"],
    )

    def gap(cursor, o: pa.Table, l: pa.Table):
        import numpy as np

        rev_e4 = int(
            np.round(
                l.column("l_extendedprice").to_numpy()
                * (1 - l.column("l_discount").to_numpy())
                * 10000
            )
            .astype("int64")
            .sum()
        )
        total_e4 = int(np.round(o.column("o_totalprice").to_numpy().max() * 10000))
        return {
            "orderkey": int(cursor["orderkey"]),
            "n_lines": l.num_rows,
            "price_gap_e4": total_e4 - rev_e4,
        }

    return cotransform(
        [orders, li],
        gap,
        schema="orderkey:long,n_lines:long,price_gap_e4:long",
        how="inner",
        compile=False,
    )


@register(
    "q22_transform_compiled",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS DOUBLE) / 10000 AS revenue,
           COUNT(*) AS n_lines,
           FIRST(l_linenumber ORDER BY l_quantity DESC, l_linenumber ASC) AS top_line
    FROM lineitem
    GROUP BY l_orderkey
    """,
    tags=("transform", "map", "compile"),
    bench=True,
)
def q22_transform_compiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q11's workload through the aggregation trace-compiler
    (``compile="strict"``): the SAME pandas-style per-group function, but
    the engine symbolically executes it once and rewrites the transform as
    a native groupBy().agg — whole-stage codegen, map-side partial
    aggregation, no Python workers. This is the only transformer form
    whose cost profile matches a hand-written Catalyst aggregation; the
    gate proves hash-identical results to the q11 oracle."""
    from fugue_spark.transform import transform

    li = fa.select_columns(
        load_table(spark, sf_dir, "lineitem"),
        ["l_orderkey", "l_extendedprice", "l_discount", "l_linenumber", "l_quantity"],
    )

    def per_order(pdf):
        # identical math to q11, in traceable form (no int()/np wrappers);
        # this function also runs unmodified on the pandas path
        rev_e4 = (pdf.l_extendedprice * (1 - pdf.l_discount) * 10000).round().astype("int64").sum()
        return {
            "l_orderkey": pdf.l_orderkey.iloc[0],
            "revenue": rev_e4.astype("float64") / 10000,
            "n_lines": len(pdf),
            "top_line": pdf.l_linenumber.iloc[0],
        }

    return transform(
        li,
        per_order,
        schema="l_orderkey:long,revenue:double,n_lines:long,top_line:int",
        partition={"by": ["l_orderkey"], "presort": "l_quantity DESC, l_linenumber ASC"},
        compile="strict",
    )


@register(
    "q23_cotransform_compiled",
    oracle="""
    SELECT o.o_orderkey AS orderkey,
           COUNT(l.l_linenumber) AS n_lines,
           CAST(CAST(ROUND(MAX(o.o_totalprice) * 10000, 0) AS BIGINT)
             - SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS price_gap_e4
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey
    """,
    tags=("zip", "comap", "compile"),
    bench=True,
)
def q23_cotransform_compiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q12's workload through the zip trace-compiler (``compile="strict"``):
    the same two-sided per-group reducer, symbolically executed once and
    rewritten as per-side groupBy().agg joined on the key — each side
    shuffles only partial aggregation states instead of the tagged-union
    exchange carrying every row to Python workers. Hash-identical to the
    q12 oracle."""
    from fugue_spark.cotransform import cotransform

    orders = fa.select_columns(
        fa.rename(load_table(spark, sf_dir, "orders"), {"o_orderkey": "orderkey"}),
        ["orderkey", "o_totalprice"],
    )
    li = fa.select_columns(
        fa.rename(load_table(spark, sf_dir, "lineitem"), {"l_orderkey": "orderkey"}),
        ["orderkey", "l_extendedprice", "l_discount"],
    )

    def gap(cursor, o, l):
        # identical math to q12, in traceable form; runs unmodified on the
        # zip engine too (numpy scalar ops on the pandas path)
        rev_e4 = (l.l_extendedprice * (1 - l.l_discount) * 10000).round().astype("int64").sum()
        total_e4 = (o.o_totalprice.max() * 10000).round().astype("int64")
        return {
            "orderkey": cursor["orderkey"],
            "n_lines": len(l),
            "price_gap_e4": total_e4 - rev_e4,
        }

    return cotransform(
        [orders, li],
        gap,
        schema="orderkey:long,n_lines:long,price_gap_e4:long",
        how="inner",
        compile="strict",
    )


@register(
    "q19_sample_deterministic",
    oracle="""
    SELECT * FROM lineitem
    WHERE md5(concat_ws(chr(31), '42',
                        CAST(l_orderkey AS VARCHAR),
                        CAST(l_linenumber AS VARCHAR)))
          < '19999999999999999999999999999999'
    """,
    tags=("sample",),
)
def q19_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §2 ``sample`` operator, attested through its deterministic
    ``method="hash"`` variant: keep a row iff md5(seed + row identity)
    falls below frac of the hash space — the one sampling semantics an
    independent engine CAN value-match (the threshold below is exactly
    2^128/10 in hex). The API-default RNG ``sample()`` (reference
    execution_engine.py:600-640 semantics) stays pytest-verified instead:
    DuckDB cannot reproduce Spark's seeded per-partition RNG, so no SQL
    oracle exists for it by nature — tests/test_operators.py checks its
    fraction statistics, seed determinism, and replace semantics."""
    li = load_table(spark, sf_dir, "lineitem")
    return fa.sample(
        li,
        frac=0.1,
        seed=42,
        method="hash",
        key_cols=["l_orderkey", "l_linenumber"],
    )


@register(
    "q31_dropna_fillna_persist",
    oracle="""
    WITH proj AS (
      SELECT l_orderkey, l_linenumber,
             CASE WHEN l_discount < 0.03 THEN NULL ELSE l_quantity END AS qty,
             CASE WHEN l_returnflag = 'N' THEN NULL ELSE l_tax END AS tax
      FROM lineitem WHERE l_orderkey % 7 = 0
    )
    SELECT l_orderkey, l_linenumber, qty, COALESCE(tax, -1.0) AS tax
    FROM proj WHERE qty IS NOT NULL
    """,
    tags=("dropna", "fillna", "persist", "fuguesql"),
)
def q31_dropna_fillna_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedicated oracle gate for the three §2.1 operators whose driver
    attestation was previously indirect (VERDICT r09 task #3): a FugueSQL
    script builds a null-bearing projection, DROP ROWS (dropna, reference
    workflow.py dropna/how-any) removes qty nulls, FILL NULLS (fillna)
    replaces tax nulls, and the PERSIST postfix (engine persist, eager
    count) materializes the result before yielding."""
    from fugue_spark.sql import fsql

    res = fsql(
        """
        li = LOAD PARQUET "{{path}}"
        proj = SELECT l_orderkey, l_linenumber,
               CASE WHEN l_discount < 0.03 THEN NULL ELSE l_quantity END AS qty,
               CASE WHEN l_returnflag = 'N' THEN NULL ELSE l_tax END AS tax
               FROM li WHERE l_orderkey % 7 = 0
        clean = DROP ROWS IF ANY NULLS ON qty FROM proj
        FILL NULLS tax:-1.0 FROM clean PERSIST
        YIELD DATAFRAME AS result
        """,
        spark=spark,
        path=f"{sf_dir}/lineitem.parquet",
    )
    return res["result"]


@register(
    "q25_transform_filter_compiled",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS net_e2,
           l_quantity
    FROM lineitem
    WHERE l_quantity >= 30 AND l_discount > 0.02
    """,
    tags=("transform", "map", "compile", "filter"),
    bench=True,
)
def q25_transform_filter_compiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-shape trace-compilation: a transformer that RETURNS a filtered+
    assigned frame (``pdf[mask].assign(...)``-style) compiles to a native
    filter/select — no Python workers AND no exchange (row-local per-group
    work ≡ global work, so the partitioning is elided). The filter reaches
    the scan as a pushed predicate; benchmarked beside the identical
    pandas-path q-shape this is the difference between scan speed and a
    python-bounded stage."""
    from fugue_spark.transform import transform

    li = fa.select_columns(
        load_table(spark, sf_dir, "lineitem"),
        ["l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_quantity"],
    )

    def keep_heavy(pdf):
        import numpy as np

        # integer-scaled money (FLOOR of the identically-associated double
        # product) — the cross-engine float discipline; a round(x, 2) here
        # would flip the last cent on binary .xx5 boundaries between
        # engines (compile.py "Rounding caveat")
        big = pdf[(pdf.l_quantity >= 30) & (pdf.l_discount > 0.02)]
        out = big.assign(
            net_e2=np.floor(
                big.l_extendedprice.values * (1 - big.l_discount.values) * 100
            ).astype("int64")
        )
        return out[["l_orderkey", "l_linenumber", "net_e2", "l_quantity"]]

    return transform(
        li,
        keep_heavy,
        schema="l_orderkey:long,l_linenumber:int,net_e2:long,l_quantity:double",
        compile="strict",
    )


@register(
    "q26_transform_condagg_compiled",
    oracle="""
    SELECT l_orderkey,
           COUNT(CASE WHEN l_quantity >= 30 THEN 1 END) AS n_big,
           CAST(COALESCE(SUM(CASE WHEN l_quantity >= 30
                 THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)
                 END), 0) AS DOUBLE) / 10000 AS big_rev,
           COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY l_orderkey
    """,
    tags=("transform", "compile", "conditional"),
    bench=True,
)
def q26_transform_condagg_compiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregation compile: a reducer over a FILTERED subset
    (pdf[mask].col.sum()) traces to sum(CASE WHEN mask THEN col END) —
    the 'aggregate the qualifying rows per group' shape with zero Python
    in the plan and pandas' empty-subset contract (sum→0) preserved for
    orders with no qualifying line."""
    from fugue_spark.transform import transform

    li = fa.select_columns(
        load_table(spark, sf_dir, "lineitem"),
        ["l_orderkey", "l_extendedprice", "l_discount", "l_quantity"],
    )

    def per_order(pdf):
        import numpy as np

        big = pdf[pdf.l_quantity >= 30]
        rev_e4 = (
            np.round(big.l_extendedprice.values * (1 - big.l_discount.values) * 10000)
            .astype("int64")
            .sum()
        )
        return {
            "l_orderkey": pdf.l_orderkey.iloc[0],
            "n_big": big.l_quantity.count(),
            "big_rev": rev_e4.astype("float64") / 10000,
            "n_lines": len(pdf),
        }

    return transform(
        li,
        per_order,
        schema="l_orderkey:long,n_big:long,big_rev:double,n_lines:long",
        partition={"by": ["l_orderkey"]},
        compile="strict",
    )


@register(
    "q27_transform_topk_compiled",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM (
      SELECT l_orderkey, l_linenumber, l_quantity,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                ORDER BY l_quantity DESC, l_linenumber ASC) AS rn
      FROM lineitem
    ) WHERE rn <= 2
    """,
    tags=("transform", "compile", "topk"),
    bench=True,
)
def q27_transform_topk_compiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k through the trace-compiler: a transformer returning
    sort_values(...).head(2) compiles to a native row_number window — the
    take-operator plan with the transformer's ergonomics, zero Python.
    The sort is total (quantity DESC, linenumber ASC) so the k-cut is
    engine-deterministic."""
    from fugue_spark.transform import transform

    li = fa.select_columns(
        load_table(spark, sf_dir, "lineitem"),
        ["l_orderkey", "l_linenumber", "l_quantity"],
    )

    def top_lines(pdf):
        return pdf.sort_values(
            ["l_quantity", "l_linenumber"], ascending=[False, True]
        ).head(2)

    return transform(
        li,
        top_lines,
        schema="l_orderkey:long,l_linenumber:int,l_quantity:double",
        partition={"by": ["l_orderkey"]},
        compile="strict",
    )


@register(
    "q28_transform_dedup_compiled",
    oracle="""
    SELECT l_orderkey, l_returnflag, l_linenumber, l_quantity
    FROM (
      SELECT l_orderkey, l_returnflag, l_linenumber, l_quantity,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_returnflag
                                ORDER BY l_quantity DESC, l_linenumber ASC) AS rn
      FROM lineitem
    ) WHERE rn = 1
    """,
    tags=("transform", "compile", "dedup"),
)
def q28_transform_dedup_compiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered drop_duplicates through the trace-compiler: the best line
    per (order, returnflag) — sort_values().drop_duplicates(subset)
    compiles to row_number()==1 over (keys + subset), zero Python. Total
    sort order (quantity DESC, linenumber ASC) makes the survivor
    engine-deterministic."""
    from fugue_spark.transform import transform

    li = fa.select_columns(
        load_table(spark, sf_dir, "lineitem"),
        ["l_orderkey", "l_returnflag", "l_linenumber", "l_quantity"],
    )

    def best_line_per_flag(pdf):
        return pdf.sort_values(
            ["l_quantity", "l_linenumber"], ascending=[False, True]
        ).drop_duplicates("l_returnflag")

    return transform(
        li,
        best_line_per_flag,
        schema="l_orderkey:long,l_returnflag:str,l_linenumber:int,l_quantity:double",
        partition={"by": ["l_orderkey"]},
        compile="strict",
    )


@register(
    "q29_transform_window_compiled",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(FLOOR(
             CAST(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT) AS DOUBLE)
             * 1000000
             / SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT))
                 OVER (PARTITION BY l_orderkey)
           ) AS BIGINT) AS share_e6,
           COUNT(*) OVER (PARTITION BY l_orderkey) AS n_lines
    FROM lineitem
    """,
    tags=("transform", "compile", "window"),
    bench=True,
)
def q29_transform_window_compiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dict-of-arrays through the trace-compiler: a per-group function that
    RETURNS PER-ROW VECTORS mixed with reductions (each line's share of its
    order's revenue) compiles to a native WINDOW plan — the reduction
    becomes ``sum() OVER (PARTITION BY key)``, every group row emits one
    output row, one exchange, no Python stage. The same function runs
    unmodified on the pandas path (dict-of-arrays = multi-row result).
    This is the r06-VERDICT 'dict-of-lists' compiler widening."""
    from fugue_spark.transform import transform

    li = fa.select_columns(
        load_table(spark, sf_dir, "lineitem"),
        ["l_orderkey", "l_extendedprice", "l_discount", "l_linenumber"],
    )

    def per_line_share(pdf):
        rev_e4 = (pdf.l_extendedprice * (1 - pdf.l_discount) * 10000).round().astype("int64")
        tot = rev_e4.sum()
        return {
            "l_orderkey": pdf.l_orderkey.iloc[0],
            "l_linenumber": pdf.l_linenumber,
            # float-division + floor on BOTH paths (the compiled form is
            # floor(a / b) over doubles): rev*1e6 < 2^53 so the double is
            # exact and the floor is engine-identical
            "share_e6": (rev_e4.astype("float64") * 1000000 / tot.astype("float64")).astype("float64").__floordiv__(1).astype("int64"),
            "n_lines": len(pdf),
        }

    return transform(
        li,
        per_line_share,
        schema="l_orderkey:long,l_linenumber:int,share_e6:long,n_lines:long",
        partition={"by": ["l_orderkey"]},
        compile="strict",
    )


@register(
    "q30_transform_running_compiled",
    oracle="""
    SELECT user_id, event_id,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS run_cents,
           COALESCE(LAG(CAST(ROUND(value * 100, 0) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
           ), 0) AS prev_cents
    FROM events
    """,
    tags=("transform", "compile", "window", "running"),
    bench=True,
)
def q30_transform_running_compiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (ordered-window) transforms through the trace-compiler:
    ``cumsum()`` and ``shift()`` over the declared presort compile to
    ordered window functions (running SUM / LAG over PARTITION BY user
    ORDER BY ts, event_id). The presort carries event_id as a tiebreak so
    both paths are deterministic under equal timestamps. Same function,
    pandas path ≡ compiled path ≡ DuckDB window oracle."""
    from fugue_spark.transform import transform

    ev = fa.select_columns(
        load_table(spark, sf_dir, "events"),
        ["user_id", "event_id", "ts", "value"],
    )

    def running(pdf):
        cents = (pdf.value * 100).round().astype("int64")
        return {
            "user_id": pdf.user_id.iloc[0],
            "event_id": pdf.event_id,
            "run_cents": cents.cumsum(),
            "prev_cents": cents.shift(1, fill_value=0).astype("int64"),
        }

    return transform(
        ev,
        running,
        schema="user_id:long,event_id:long,run_cents:long,prev_cents:long",
        partition={"by": ["user_id"], "presort": "ts ASC, event_id ASC"},
        compile="strict",
    )
