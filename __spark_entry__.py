"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

Float determinism strategy (so Spark and DuckDB hash-match bitwise):

* Sums of doubles are order-dependent; every aggregate over a double
  expression goes through ``round(x, 6) -> decimal(38,6) -> sum -> double``
  in BOTH engines. Decimal addition is exact and associative, so the
  shuffle/partial-agg order cannot change the result.
* Per-row arithmetic on identical inputs is bit-identical across engines
  (IEEE doubles), EXCEPT transcendental functions (ln/exp/lgamma differ by
  ~1 ulp between JVM and libm): those are rounded to 6 decimals before any
  aggregation, and results built purely from +,-,*,/ and sqrt are left
  exact.
* Sequential array folds (cosine) use the same accumulation order in both
  engines (Spark ``F.aggregate`` fold == DuckDB ``list_reduce``).
* Timestamps never appear in outputs; they are projected to epoch
  seconds/millis BIGINT.
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import contextmanager

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

HALF_LOG_2PI = 0.5 * float(np.log(2.0 * np.pi))
LOG_PI = float(np.log(np.pi))


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from henbun_spark import sources

    return sources.load_table(spark, sf_dir, name)


def _wide(df: DataFrame) -> DataFrame:
    """Scan-parallelism floor for COMPUTE-heavy aggregations (r12, guide
    §2.5 input skew / §6 input splits): the driver test parquet is one
    row group per table, so every scan is ONE task and per-row math
    above it (decimal-exact sums, libm densities) runs on one core of
    the whole box — measured 5.2s -> 1.3s on `corr_lineitem_metrics`
    (600k rows x 12 decimal sums) at sf0.1/local[32]. Rides
    `ensure_parallelism`: round-robin widens the narrow pre-aggregate
    rows to cluster default parallelism ONLY when the scan yields fewer
    partitions — at 100 TB (thousands of splits) it is a plan no-op
    with zero added shuffle, so this is not a local[32]-only tune.

    ONLY for queries whose downstream aggregates are order-independent
    (decimal/integer sums, count, min/max): row placement then cannot
    move a bit, which is the same invariant `ensure_parallelism`'s
    existing fan-out users rely on."""
    from henbun_spark.operators._parallel import ensure_parallelism

    return ensure_parallelism(df)


_SCRATCH_ROOT: str | None = None


def _scratch_dir(prefix: str) -> str:
    """Scratch dir for streaming sinks. The dir must outlive the contract
    function (the returned DataFrame scans it lazily; the driver collects
    later), so it can't be a self-deleting TemporaryDirectory — instead
    all scratch dirs share one per-process root removed at interpreter
    exit, so repeated invocations don't leak /tmp/henbun_* dirs."""
    global _SCRATCH_ROOT
    import atexit
    import shutil
    import tempfile

    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="henbun_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def _file_stream(df: DataFrame, prefix: str, one_file_per_batch: bool = False):
    """Write ``df`` as 4 parquet files into a fresh scratch dir and open
    a file stream over them. Returns ``(stream, base)``: the query puts
    its state, checkpoint and output dirs under ``base``. With
    ``one_file_per_batch`` each micro-batch reads one file
    (maxFilesPerTrigger=1), so a drain folds several batches; without
    it a micro-batch takes every file available."""
    base = _scratch_dir(prefix)
    in_dir = f"{base}/in"
    df.repartition(4).write.mode("overwrite").parquet(in_dir)
    reader = df.sparkSession.readStream.schema(df.schema)
    if one_file_per_batch:
        reader = reader.option("maxFilesPerTrigger", 1)
    return reader.parquet(in_dir), base


def _drain_to_parquet(spark, out, out_dir: str, ckpt: str) -> None:
    """Shared availableNow parquet drain for the streaming contract
    queries, run under `_stream_state_scope` so stateful queries size
    their state stores to the key space, not the cluster width (a
    stateless drain is unaffected — it creates no state store and the
    sink write is one batch either way)."""
    from henbun_spark import streaming

    with _stream_state_scope(spark):
        streaming.run_available_now(out, ckpt, out_dir)


@contextmanager
def _stream_state_scope(spark):
    """Size STREAMING STATE-STORE partitioning for one drain (r12).

    A stateful Structured Streaming query instantiates one state-store
    (with per-batch delta/commit files) per shuffle partition, fixed at
    first checkpoint. The session default ties that to cluster width
    (32 here), but the demo streams' key spaces are tiny (a handful of
    event types / window keys), so 32 stores were pure per-batch commit
    machinery — measured r12: streaming_hopping_counts 3.7 -> 1.8s,
    streaming_dedup_keys 6.5 -> 3.7s at sf0.1. State partitioning
    should track key cardinality/throughput, not cluster width: the
    scope uses min(8, cores), at least 2, so the driver's lower-core-count
    runs stay comparable. Only the stateful drains are wrapped; the conf
    is restored immediately after the drain, so batch plans never see
    it."""
    want = max(2, min(8, spark.sparkContext.defaultParallelism))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(want))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _overlap(*fns):
    """Run independent eager steps (checkpoints, bounded collects) on
    one driver thread each and return their results in order. Each
    pipeline's single-task stages and planning gaps back-fill with the
    other's tasks; the threads share the session, and the results are
    materialized, so downstream plans are unaffected."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(fns)) as pool:
        futures = [pool.submit(fn) for fn in fns]
        return [f.result() for f in futures]


#: bound-margin instrumentation for the *_ok bound-boolean contract
#: queries (tools/bound_margins.py): when _RECORD_BOUNDS is on, each
#: query records (query, bound, measured stat, limit, direction, step)
#: as it computes its booleans — step is the smallest discrete move the
#: statistic can make (1/n for recalls/accuracies; None = continuous).
#: Normal runs never touch this.
_BOUND_LOG: list = []
_RECORD_BOUNDS = False


def _rec_bound(query, bound, stat, limit, direction, step=None):
    if _RECORD_BOUNDS:
        _BOUND_LOG.append(
            {
                "query": query,
                "bound": bound,
                "stat": float(stat),
                "limit": float(limit),
                "dir": direction,
                "step": None if step is None else float(step),
            }
        )


def _dsum(col, alias, scale: int = 6):
    """Order-independent exact sum of a double expression (see module doc)."""
    return (
        F.sum(F.round(col, scale).cast(f"decimal(38,{scale})"))
        .cast("double")
        .alias(alias)
    )


def _sql_dsum(expr: str, alias: str, scale: int = 6) -> str:
    return (
        f"CAST(SUM(CAST(ROUND({expr}, {scale}) AS DECIMAL(38,{scale}))) AS DOUBLE)"
        f" AS {alias}"
    )


# ---------------------------------------------------------------------------
# relational / TPC-H-ish queries
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan-filter-aggregate, fully partial-aggregatable.

    At scale: one shuffle keyed on (returnflag, linestatus) — 6 groups,
    map-side combine does nearly all the work; filter pushed to parquet.
    """
    li = _load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    out = (
        # filter BELOW the parallelism floor so pushdown still reaches
        # the scan; the widen is a no-op at scale (see _wide)
        _wide(li.where(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity"), "sum_qty"),
            _dsum(F.col("l_extendedprice"), "sum_base_price"),
            _dsum(disc_price, "sum_disc_price"),
            _dsum(charge, "sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
        .withColumn("avg_price", F.col("sum_base_price") / F.col("count_order"))
    )
    return out


_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
  {_sql_dsum('l_quantity', 'sum_qty')},
  {_sql_dsum('l_extendedprice', 'sum_base_price')},
  {_sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
  {_sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
  COUNT(*) AS count_order,
  {_sql_dsum('l_quantity', '_sq')} / COUNT(*) AS avg_qty,
  {_sql_dsum('l_extendedprice', '_sp')} / COUNT(*) AS avg_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
"""
# NOTE: duckdb doesn't allow reusing aliases; restate the dsum for avgs.
_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
  {_sql_dsum('l_quantity', 'sum_qty')},
  {_sql_dsum('l_extendedprice', 'sum_base_price')},
  {_sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
  {_sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
  COUNT(*) AS count_order,
  CAST(SUM(CAST(ROUND(l_quantity, 6) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(ROUND(l_extendedprice, 6) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
"""


def q3_top_orders(spark, sf_dir):
    """Top-10 orders by revenue: broadcast-joined dims, decimal-exact
    revenue so the LIMIT ordering is deterministic across engines."""
    cust = _load(spark, sf_dir, "customer")
    orders = _load(spark, sf_dir, "orders")
    li = _load(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    out = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            cust.where(F.col("c_mktsegment") == "BUILDING"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("o_orderkey")
        .agg(
            _dsum(rev, "revenue"),
            F.max(F.unix_timestamp("o_orderdate")).alias("o_orderdate_epoch"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )
    return out


_Q3_SQL = f"""
SELECT o_orderkey,
  {_sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
  MAX(epoch(o_orderdate))::BIGINT AS o_orderdate_epoch
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q5_nation_revenue(spark, sf_dir):
    """Star join: lineitem large fact, everything else broadcast; single
    shuffle for the final 25-group aggregate."""
    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    cust = _load(spark, sf_dir, "customer")
    supp = _load(spark, sf_dir, "supplier")
    nation = _load(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    out = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(_dsum(rev, "revenue"), F.count(F.lit(1)).alias("n_items"))
    )
    return out


_Q5_SQL = f"""
SELECT n_name,
  {_sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
  COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE c_nationkey = s_nationkey
GROUP BY n_name
"""


def q4_late_shipment_priority(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS decorrelated to a LEFT SEMI join — orders
    with at least one lineitem shipped >90 days after the order date,
    counted per priority. The semi-join keeps orders-side columns only
    (no fact-side fan-out) and the big side never duplicates rows."""
    orders = _load(spark, sf_dir, "orders")
    li = _load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey
    AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
"""


def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: pure scan-filter-aggregate; every predicate pushes
    to the parquet scan and the single global sum is map-side partial."""
    li = _load(spark, sf_dir, "lineitem")
    out = li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    )
    return out.agg(
        _dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_Q6_SQL = f"""
SELECT {_sql_dsum('l_extendedprice * l_discount', 'revenue')},
  COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.02 AND l_discount <= 0.06
  AND l_quantity < 24
"""


def q12_priority_by_status(spark, sf_dir):
    """TPC-H Q12 shape: fact-to-dim join + conditional (CASE) aggregation
    — two sums split by a predicate in one pass, no second scan."""
    li = _load(spark, sf_dir, "lineitem").select("l_orderkey", "l_linestatus")
    orders = _load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(1 - high).alias("low_line_count"),
        )
    )


_Q12_SQL = """
SELECT l_linestatus,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_linestatus
"""


def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: conditional revenue ratio. Both the promo and
    total sums are decimal-exact (order-independent), so the final ratio
    is deterministic; one broadcast join, one global aggregate."""
    li = _load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount", "l_shipdate"
    )
    part = _load(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))
    joined = li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    ).join(part, F.col("l_partkey") == F.col("p_partkey"))
    agg = joined.agg(
        _dsum(promo, "promo_revenue"), _dsum(rev, "total_revenue")
    )
    return agg.select(
        "promo_revenue",
        "total_revenue",
        F.round(
            F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue"), 6
        ).alias("promo_pct"),
    )


_Q14_SQL = f"""
WITH agg AS (
  SELECT
    {_sql_dsum("CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END", 'promo_revenue')},
    {_sql_dsum('l_extendedprice * (1 - l_discount)', 'total_revenue')}
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-07-01')
SELECT promo_revenue, total_revenue,
  ROUND(100.0 * promo_revenue / total_revenue, 6) AS promo_pct
FROM agg
"""


def q22_inactive_customers(spark, sf_dir):
    """TPC-H Q22 shape: NOT EXISTS decorrelated to a LEFT ANTI join —
    customers with no recent (2001+) order, counted per nation with
    their balance sum. The anti-join's probe side streams; the date
    filter prunes the build side before it ships."""
    cust = _load(spark, sf_dir, "customer")
    recent = (
        _load(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    inactive = cust.join(
        recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return inactive.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        _dsum(F.col("c_acctbal"), "total_acctbal"),
    )


_Q22_SQL = f"""
SELECT c_nationkey, COUNT(*) AS n_customers,
  {_sql_dsum('c_acctbal', 'total_acctbal')}
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderdate >= TIMESTAMP '2001-01-01')
GROUP BY c_nationkey
"""


def rollup_revenue(spark, sf_dir):
    """ROLLUP over (returnflag, linestatus): subtotal hierarchy in one pass — Spark expands to a union of partial aggregates, all map-side combinable."""
    li = _wide(_load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_extendedprice", "l_discount"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(_dsum(rev, "revenue"), F.count(F.lit(1)).alias("n_rows"))
    )


_ROLLUP_SQL = f"""
SELECT l_returnflag, l_linestatus,
  {_sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
  COUNT(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def cube_revenue(spark, sf_dir):
    """CUBE over (returnflag, linestatus): 4 grouping combinations in one
    pass — Spark expands to a union of partial aggregates, all map-side
    combinable."""
    li = _wide(_load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_extendedprice", "l_discount"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(_dsum(rev, "revenue"), F.count(F.lit(1)).alias("n_rows"))
    )


_CUBE_SQL = f"""
SELECT l_returnflag, l_linestatus,
  {_sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
  COUNT(*) AS n_rows
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def grouping_sets_revenue(spark, sf_dir):
    """Explicit GROUPING SETS ((returnflag), (linestatus), ()) via the SQL
    surface — different expansion than rollup/cube."""
    li = _load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_gs")
    return spark.sql(f"""
        SELECT l_returnflag, l_linestatus,
          {_sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
          COUNT(*) AS n_rows
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """)


_GROUPING_SETS_SQL = f"""
SELECT l_returnflag, l_linestatus,
  {_sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
  COUNT(*) AS n_rows
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def set_ops_customers(spark, sf_dir):
    """INTERSECT / EXCEPT over key sets (SURVEY §2.10 set operations):
    customers partitioned by whether they ever ordered. Both branches are
    null-safe hash semi/anti joins after Catalyst rewrites them."""
    cust = _load(spark, sf_dir, "customer").select("c_custkey")
    ordered = _load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    have = cust.intersect(ordered).withColumn("tag", F.lit("has_orders"))
    none = cust.subtract(ordered).withColumn("tag", F.lit("no_orders"))
    return have.unionByName(none)


_SET_OPS_SQL = """
SELECT c_custkey, 'has_orders' AS tag
FROM (SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders)
UNION ALL
SELECT c_custkey, 'no_orders' AS tag
FROM (SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders)
"""


def join_types_suite(spark, sf_dir):
    """Every join type in one checked result (§2.10 joins closure):
    inner / left / right / full outer plus the row-filtering semi and
    anti forms, each summarized as (rows, non-null left keys, non-null
    right keys) over key ranges built to exercise all three overlap
    regions (left-only, both, right-only). All six plan as hash joins on
    the same key — the aggregate makes the null-extension semantics of
    each type hash-checkable."""
    from functools import reduce

    cust = _load(spark, sf_dir, "customer").select("c_custkey").where(
        F.col("c_custkey") < 600
    )
    ords = (
        _load(spark, sf_dir, "orders")
        .where(F.col("o_custkey").between(300, 900))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    parts = []
    for how in ["inner", "left", "right", "full"]:
        j = cust.join(ords, cust.c_custkey == ords.o_custkey, how)
        parts.append(
            j.agg(
                F.lit(how).alias("join_type"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count("c_custkey").alias("n_left"),
                F.count("o_custkey").alias("n_right"),
            )
        )
    for how in ["semi", "anti"]:
        j = cust.join(ords, cust.c_custkey == ords.o_custkey, how)
        parts.append(
            j.agg(
                F.lit(how).alias("join_type"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count("c_custkey").alias("n_left"),
                F.lit(0).cast("long").alias("n_right"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


_JOIN_TYPES_SQL = """
WITH c AS (SELECT c_custkey FROM customer WHERE c_custkey < 600),
o AS (SELECT o_custkey, COUNT(*)::BIGINT AS n_orders FROM orders
      WHERE o_custkey BETWEEN 300 AND 900 GROUP BY 1)
SELECT 'inner' AS join_type, COUNT(*)::BIGINT AS n_rows,
  COUNT(c_custkey)::BIGINT AS n_left, COUNT(o_custkey)::BIGINT AS n_right
FROM c JOIN o ON c_custkey = o_custkey
UNION ALL
SELECT 'left', COUNT(*)::BIGINT, COUNT(c_custkey)::BIGINT,
  COUNT(o_custkey)::BIGINT
FROM c LEFT JOIN o ON c_custkey = o_custkey
UNION ALL
SELECT 'right', COUNT(*)::BIGINT, COUNT(c_custkey)::BIGINT,
  COUNT(o_custkey)::BIGINT
FROM c RIGHT JOIN o ON c_custkey = o_custkey
UNION ALL
SELECT 'full', COUNT(*)::BIGINT, COUNT(c_custkey)::BIGINT,
  COUNT(o_custkey)::BIGINT
FROM c FULL JOIN o ON c_custkey = o_custkey
UNION ALL
SELECT 'semi', COUNT(*)::BIGINT, COUNT(*)::BIGINT, 0::BIGINT
FROM c WHERE c_custkey IN (SELECT o_custkey FROM o)
UNION ALL
SELECT 'anti', COUNT(*)::BIGINT, COUNT(*)::BIGINT, 0::BIGINT
FROM c WHERE c_custkey NOT IN (SELECT o_custkey FROM o)
"""


def distinct_agg_suppliers(spark, sf_dir):
    """Exact COUNT(DISTINCT) per group (the approx_count_distinct twin is
    pytest-checked for 5% error — an approximate sketch can't hash-match an
    oracle)."""
    li = _load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


_DISTINCT_AGG_SQL = """
SELECT l_returnflag,
  COUNT(DISTINCT l_suppkey) AS n_suppliers,
  COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem GROUP BY l_returnflag
"""


def string_date_functions(spark, sf_dir):
    """String/date scalar-function surface (§2.10): substr/upper/concat/
    length + year/month/day extraction — all whole-stage codegen."""
    orders = _load(spark, sf_dir, "orders")
    return (
        orders.select(
            F.col("o_orderkey"),
            F.upper(F.substring(F.col("o_orderpriority"), 1, 4)).alias("prio4"),
            F.length(F.concat(F.col("o_orderstatus"), F.lit("|"),
                              F.col("o_orderpriority"))).alias("tag_len"),
            F.concat_ws(
                "-",
                F.year("o_orderdate").cast("string"),
                F.lpad(F.month("o_orderdate").cast("string"), 2, "0"),
            ).alias("order_month"),
            F.dayofweek("o_orderdate").alias("dow"),
        )
        .groupBy("prio4", "order_month")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("tag_len").alias("sum_tag_len"),
            F.min("dow").alias("min_dow"),
        )
    )


_STRING_DATE_SQL = """
SELECT upper(substr(o_orderpriority, 1, 4)) AS prio4,
  concat_ws('-', CAST(year(o_orderdate) AS VARCHAR),
            lpad(CAST(month(o_orderdate) AS VARCHAR), 2, '0')) AS order_month,
  COUNT(*) AS n,
  CAST(SUM(length(concat(o_orderstatus, '|', o_orderpriority))) AS BIGINT)
    AS sum_tag_len,
  (MIN(dayofweek(o_orderdate) + 1))::INT AS min_dow  -- duckdb: Sunday=0; spark: Sunday=1
FROM orders
GROUP BY 1, 2
"""


def percentile_quantity(spark, sf_dir):
    """Exact interpolated percentiles per group, rounded to 6 decimals
    to absorb interpolation-arithmetic ulps — computed by the
    DISTRIBUTED order-statistics path (`relational.
    keyed_percentiles_exact`), not Spark's buffering `percentile()`:
    the builtin holds a value->count map per group in executor memory
    (unbounded in distinct values — l_extendedprice is
    high-cardinality, so it OOMs at 100x), while the two-pass rank
    shape keeps every task bounded and reproduces percentile() /
    quantile_cont interpolation bit-for-bit."""
    from henbun_spark.operators import relational

    li = _load(spark, sf_dir, "lineitem")
    # histogram_cap=0: l_extendedprice is known-continuous, so even the
    # shuffle-free distinct probe is a wasted scan here — go straight
    # to the cell-pruned path
    pct = relational.keyed_percentiles_exact(
        li, "l_returnflag", "l_extendedprice", [0.5, 0.95], histogram_cap=0
    )
    return pct.groupBy("l_returnflag").agg(
        F.round(F.max(F.when(F.col("p") == 0.5, F.col("value"))), 6).alias("p50"),
        F.round(F.max(F.when(F.col("p") == 0.95, F.col("value"))), 6).alias("p95"),
    )


_PERCENTILE_SQL = """
SELECT l_returnflag,
  ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
  ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS p95
FROM lineitem GROUP BY l_returnflag
"""


def weighted_percentile_price(spark, sf_dir):
    """Exact WEIGHTED percentiles per group — `percentile(value, p,
    freq)` semantics (price distribution where each lineitem counts
    l_quantity times), computed by the bounded-memory distributed path
    (`relational.keyed_percentiles_exact` with ``weight_col``: one
    weighted cells pass, broadcast mass-rank targets) instead of the
    builtin's unbounded per-group value map. Interpolation is bitwise the
    builtin's (pytest-asserted); the oracle replays the semantics by
    frequency-expanding rows and taking quantile_cont."""
    from henbun_spark.operators import relational

    li = _load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        F.col("l_quantity").cast("long").alias("qty"),
    )
    pct = relational.keyed_percentiles_exact(
        li, "l_returnflag", "l_extendedprice", [0.5, 0.95], weight_col="qty"
    )
    return pct.groupBy("l_returnflag").agg(
        F.round(F.max(F.when(F.col("p") == 0.5, F.col("value"))), 6).alias("p50"),
        F.round(F.max(F.when(F.col("p") == 0.95, F.col("value"))), 6).alias("p95"),
    )


_WEIGHTED_PCT_SQL = """
WITH w AS (
  SELECT l_returnflag, l_extendedprice::DOUBLE AS v, l_quantity::BIGINT AS q
  FROM lineitem WHERE l_quantity > 0),
e AS (
  SELECT l_returnflag, v
  FROM w, LATERAL unnest(generate_series(1, q)))
SELECT l_returnflag,
  ROUND(quantile_cont(v, 0.5), 6) AS p50,
  ROUND(quantile_cont(v, 0.95), 6) AS p95
FROM e GROUP BY 1
"""


def top_events_per_user(spark, sf_dir):
    """Top-3 events per user by value: one keyed window (row_number) after a single shuffle on user_id — the per-group top-k shape."""
    from henbun_spark.operators import relational

    ev = _load(spark, sf_dir, "events")
    return (
        relational.top_k_per_group(
            ev, ["user_id"], "value", 3, tiebreak="event_id"
        )
        .select("user_id", "event_id", "value", "rank")
    )


_TOPK_SQL = """
SELECT user_id, event_id, value, rank::INT AS rank FROM (
  SELECT user_id, event_id, value,
    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rank
  FROM events)
WHERE rank <= 3
"""


def asof_last_purchase(spark, sf_dir):
    """As-of join (clicks pick up the most recent purchase value per user):
    one shuffle on user_id via the union+window formulation — no range
    explosion (operators/relational.py)."""
    from henbun_spark.operators import relational

    ev = _load(spark, sf_dir, "events")
    left = ev.select("user_id", "ts", "event_id").where(
        F.col("event_type") == "click"
    )
    right = ev.select("user_id", "ts", F.col("value").alias("last_value")).where(
        F.col("event_type") == "purchase"
    )
    return relational.asof_join(
        left, right, on="ts", by="user_id", right_cols=["last_value"]
    ).select("event_id", "last_value")


_ASOF_SQL = """
SELECT l.event_id, r.value AS last_value
FROM (SELECT * FROM events WHERE event_type='click') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='purchase') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def asof_next_purchase(spark, sf_dir):
    """Forward as-of join (clicks pick up the NEXT purchase value per
    user): the same one-shuffle union+window plan with the time sort
    flipped."""
    from henbun_spark.operators import relational

    ev = _load(spark, sf_dir, "events")
    left = ev.select("user_id", "ts", "event_id").where(
        F.col("event_type") == "click"
    )
    right = ev.select("user_id", "ts", F.col("value").alias("next_value")).where(
        F.col("event_type") == "purchase"
    )
    return relational.asof_join(
        left, right, on="ts", by="user_id", right_cols=["next_value"],
        direction="forward",
    ).select("event_id", "next_value")


_ASOF_FWD_SQL = """
SELECT l.event_id, r.value AS next_value
FROM (SELECT * FROM events WHERE event_type='click') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='purchase') r
  ON l.user_id = r.user_id AND l.ts <= r.ts
"""


def asof_tolerance_purchase(spark, sf_dir):
    """As-of join with a max-staleness bound: clicks match the most
    recent purchase only when it happened within the last 2 hours —
    older matches null out. Same single-shuffle union+window plan; the
    tolerance is a pure post-filter Column expression."""
    from henbun_spark.operators import relational

    ev = _load(spark, sf_dir, "events")
    left = ev.select("user_id", "ts", "event_id").where(
        F.col("event_type") == "click"
    )
    right = ev.select("user_id", "ts", F.col("value").alias("last_value")).where(
        F.col("event_type") == "purchase"
    )
    return relational.asof_join(
        left, right, on="ts", by="user_id", right_cols=["last_value"],
        tolerance=7200.0,
    ).select("event_id", "last_value")


_ASOF_TOL_SQL = """
SELECT l.event_id,
  CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= 7200000000 THEN r.value END
    AS last_value
FROM (SELECT * FROM events WHERE event_type='click') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='purchase') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def sessionize_events(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity): lag + cumulative-sum session ids in one keyed window pass, sub-second gap precision."""
    from henbun_spark.operators import relational

    ev = _load(spark, sf_dir, "events")
    return relational.sessionize(
        ev, gap_minutes=30, tiebreak="event_id"
    ).select("user_id", "event_id", "session_seq")


_SESSION_SQL = """
SELECT user_id, event_id,
  CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
FROM (
  SELECT user_id, event_id, ts,
    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
           OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
         THEN 1 ELSE 0 END AS new_sess
  FROM events)
"""


def running_total_user(spark, sf_dir):
    """Cumulative per-user revenue — decimal accumulation so every prefix
    sum is exact (order-dependence removed)."""
    ev = _load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = F.sum(F.round(F.col("value"), 6).cast("decimal(38,6)")).over(w)
    return ev.select(
        "event_id", run.cast("double").alias("running_value")
    )


_RUNNING_SQL = """
SELECT event_id,
  CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(38,6)))
       OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
FROM events
"""


def hourly_event_counts(spark, sf_dir):
    """Tumbling-window aggregate (the batch twin of the streaming
    windowed_counts operator — same groupBy(window) plan)."""
    ev = _load(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "1 hour")
    return (
        ev.groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum(F.col("value"), "sum_value"),
        )
        .select(
            (F.unix_timestamp(F.col("w.start")) * 1000).alias("hour_start_ms"),
            "event_type",
            "n",
            "sum_value",
        )
    )


_HOURLY_SQL = f"""
SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS hour_start_ms,
  event_type, COUNT(*) AS n,
  {_sql_dsum('value', 'sum_value')}
FROM events
GROUP BY 1, 2
"""


def range_join_quantity(spark, sf_dir):
    """Band join via bucketization: interval dim exploded to bucket ids so
    Catalyst gets an equi-hash-join, not a nested-loop."""
    from henbun_spark.operators import relational

    li = _load(spark, sf_dir, "lineitem")
    brackets = spark.createDataFrame(
        [("small", 0.0, 15.0), ("mid", 15.0, 35.0), ("big", 35.0, 100.0)],
        "bracket string, lo double, hi double",
    )
    joined = relational.range_join_bucketed(
        li.select("l_quantity", "l_extendedprice"),
        brackets,
        left_val="l_quantity",
        right_lo="lo",
        right_hi="hi",
        bucket_width=10.0,
    )
    return joined.groupBy("bracket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        _dsum(F.col("l_extendedprice"), "sum_price"),
    )


_RANGE_SQL = f"""
SELECT bracket, COUNT(*) AS n_rows,
  {_sql_dsum('l_extendedprice', 'sum_price')}
FROM lineitem
JOIN (VALUES ('small', 0.0, 15.0), ('mid', 15.0, 35.0), ('big', 35.0, 100.0))
     AS b(bracket, lo, hi)
  ON l_quantity >= lo AND l_quantity <= hi
GROUP BY bracket
"""


# ---------------------------------------------------------------------------
# dedup operators (documents table)
# ---------------------------------------------------------------------------

def dedup_exact_groups(spark, sf_dir):
    """Exact duplicate groups by text hash: one map-side-combinable groupBy; keeps min doc_id per group as the canonical representative."""
    from henbun_spark.operators import dedup

    docs = _load(spark, sf_dir, "documents")
    return dedup.exact_dup_groups(docs, ["text"], "doc_id").select(
        "keep_id", "n_dups"
    )


_EXACT_DUP_SQL = """
SELECT min(doc_id) AS keep_id, COUNT(*) AS n_dups
FROM documents GROUP BY text
"""


def dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup candidate pairs: char-8-gram shingles -> banded min-hash signatures -> bucket equi-join, never an all-pairs compare."""
    from henbun_spark.operators import dedup

    docs = _load(spark, sf_dir, "documents")
    # max_bucket: the designed skew guard (see minhash_lsh_pairs) — a
    # band-minimum shared by k docs yields k^2 candidate pairs. At the
    # driver SFs no bucket exceeds 500, so the cap is measurement-free
    # (identical candidates/recall); at the sf1 probe 96 degenerate
    # buckets (>500 members) carried 263M of the 273M intermediate
    # pairs and wedged the 24g heap — capped: 16.5s, 38x faster.
    return dedup.minhash_lsh_pairs(
        docs, "text", "doc_id", n=8, bands=4, max_bucket=500
    )


_MINHASH_SQL = """
WITH sh AS (
  SELECT DISTINCT doc_id, substr(text, i, 8) AS s
  FROM (SELECT doc_id, text,
          unnest(generate_series(1, greatest(length(text)-7, 1))) AS i
        FROM documents)
), sig AS (
  SELECT doc_id, band,
    min(substr(md5((band // 4)::VARCHAR || '|' || s), (band % 4) * 8 + 1, 8)) AS mh
  FROM sh CROSS JOIN (SELECT unnest([0,1,2,3]) AS band)
  GROUP BY doc_id, band
), kept AS (
  SELECT band, mh FROM sig GROUP BY band, mh HAVING COUNT(*) <= 500
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  COUNT(DISTINCT a.band) AS n_bands
FROM sig a JOIN kept k ON a.band = k.band AND a.mh = k.mh
JOIN sig b ON a.band = b.band AND a.mh = b.mh
  AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(DISTINCT a.band) >= 1
"""


def dedup_jaccard(spark, sf_dir):
    """N-gram Jaccard near-dup pairs via an inverted index with a max_df skew cap — candidate generation is keyed on shared shingles only."""
    from henbun_spark.operators import dedup

    docs = _load(spark, sf_dir, "documents")
    # max_df: drop near-universal shingles before the inverted-index
    # self-join — without it the pair blow-up is O(df^2) per hot shingle
    # (769M intermediate rows at sf0.1; 74k with the cap). Near-dup pairs
    # share their rare shingles, so recall at threshold 0.35 is unaffected.
    return dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", n=5, threshold=0.35, max_df=100
    )


# CTE block shared by the jaccard-pairs oracle and the connected-components
# oracle (which consumes the same pair set as its edge list).
_JACCARD_CTES = """
sh0 AS (
  SELECT DISTINCT doc_id, substr(text, i, 5) AS s
  FROM (SELECT doc_id, text,
          unnest(generate_series(1, greatest(length(text)-4, 1))) AS i
        FROM documents)
), rare AS (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= 100),
sh AS (SELECT sh0.* FROM sh0 JOIN rare USING (s)),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT id_a, id_b, c::DOUBLE / (za.sz + zb.sz - c) AS jaccard
  FROM common
  JOIN sz za ON za.doc_id = id_a
  JOIN sz zb ON zb.doc_id = id_b
  WHERE c::DOUBLE / (za.sz + zb.sz - c) >= 0.35
)"""

_JACCARD_SQL = f"""
WITH {_JACCARD_CTES}
SELECT id_a, id_b, jaccard FROM jac
"""


def dedup_containment(spark, sf_dir):
    """N-gram CONTAINMENT near-dup pairs (doc-inside-doc duplicates:
    full quotes, concatenated crawls) — |A∩B|/min(|A|,|B|) over the same
    inverted-index candidates and max_df skew cap as `dedup_jaccard`;
    catches the asymmetric-overlap class symmetric Jaccard misses.
    `contained_id` = the smaller-set member (the drop candidate)."""
    from henbun_spark.operators import dedup

    docs = _load(spark, sf_dir, "documents")
    return dedup.ngram_containment_pairs(
        docs, "text", "doc_id", n=5, threshold=0.5, max_df=100
    )


# shares sh0/rare/sh/sz/common with the jaccard oracle (the unused jac
# CTE is dead code the engine prunes)
_CONTAINMENT_SQL = f"""
WITH {_JACCARD_CTES}
SELECT id_a, id_b,
  CASE WHEN za.sz <= zb.sz THEN id_a ELSE id_b END AS contained_id,
  c::DOUBLE / least(za.sz, zb.sz) AS containment
FROM common
JOIN sz za ON za.doc_id = id_a
JOIN sz zb ON zb.doc_id = id_b
WHERE c::DOUBLE / least(za.sz, zb.sz) >= 0.5
"""


def dedup_components(spark, sf_dir):
    """Duplicate-CLUSTER labeling: n-gram-Jaccard near-dup pairs as edges,
    transitively closed by iterative min-label propagation (one keyed
    shuffle per round, lineage truncated per round), then every document
    labeled with its component id + a canonical-keep flag. The oracle
    closes the same edge set with a recursive CTE."""
    from henbun_spark.operators import dedup, graph

    docs = _load(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", n=5, threshold=0.35, max_df=100
    )
    return graph.dedup_clusters(docs, pairs, "doc_id")


def dedup_components_star(spark, sf_dir):
    """Same duplicate-cluster labeling as `dedup_components` but closed
    with the alternating large-star/small-star algorithm (O(log^2 n)
    rounds independent of graph diameter — the scale path for chain-
    shaped graphs). Must hash-match the identical recursive-CTE oracle."""
    from henbun_spark.operators import dedup, graph

    docs = _load(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", n=5, threshold=0.35, max_df=100
    )
    comp = graph.connected_components_star(
        pairs, "id_a", "id_b"
    ).withColumnRenamed("node", "doc_id")
    return (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("comp", F.col("doc_id")).alias("component")
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("component"))
    )


_COMPONENTS_SQL = f"""
WITH RECURSIVE {_JACCARD_CTES},
edges AS (
  SELECT id_a AS u, id_b AS v FROM jac
  UNION
  SELECT id_b, id_a FROM jac
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v WHERE e.v <> r.u
),
comp AS (
  SELECT d.doc_id,
         least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS component
  FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
  GROUP BY d.doc_id
)
SELECT doc_id, component, doc_id = component AS is_canonical FROM comp
"""


def dedup_canonical_best(spark, sf_dir):
    """Quality-aware canonical selection — the composition that answers
    the dedup pipeline's actual question, "which duplicate do we KEEP":
    n-gram-Jaccard near-dup clusters (min-label propagation), each
    member scored by the quality heuristic, and the highest-quality doc
    (ties to lowest id) elected per cluster. The quality expression is
    bit-identical cross-engine (same op order as the hash-exact
    pipeline queries), so the argmax — a double-ordered window — is
    deterministic and the whole election is oracle-checked."""
    from henbun_spark.operators import dedup, graph, text

    docs = _load(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", n=5, threshold=0.35, max_df=100
    )
    comp = graph.dedup_clusters(docs, pairs, "doc_id").select(
        "doc_id", "component"
    )
    scored = text.quality_score(docs).select("doc_id", "quality")
    j = comp.join(scored, "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        j.withColumn("rk", F.row_number().over(w))
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias("keep_doc_id"),
            F.round(F.max("quality"), 6).alias("best_quality"),
        )
    )


_CANONICAL_BEST_SQL = f"""
WITH RECURSIVE {_JACCARD_CTES},
edges AS (
  SELECT id_a AS u, id_b AS v FROM jac
  UNION
  SELECT id_b, id_a FROM jac
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v WHERE e.v <> r.u
),
comp AS (
  SELECT d.doc_id,
         least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS component
  FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
  GROUP BY d.doc_id
),
tq AS (
  SELECT doc_id,
    list_filter(string_split(text, ' '), x -> x <> '') AS toks,
    text, length(text) AS n_chars
  FROM documents
),
q AS (
  SELECT doc_id,
    0.4 * least(n_chars / 500.0, 1.0)
    + 0.3 * (1 - (n_chars - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                   / greatest(n_chars, 1))
    + 0.3 * least(
        len(list_filter(toks,
          x -> list_contains(['the','a','of','and','to','in','is','on','for','with'], x)))
        / greatest(len(toks), 1) / 0.5, 1.0) AS quality
  FROM tq
),
r AS (
  SELECT comp.component, comp.doc_id, q.quality,
    row_number() OVER (PARTITION BY comp.component
                       ORDER BY q.quality DESC, comp.doc_id ASC) AS rk
  FROM comp JOIN q USING (doc_id)
)
SELECT component, COUNT(*)::BIGINT AS n_members,
  MAX(CASE WHEN rk = 1 THEN doc_id END)::BIGINT AS keep_doc_id,
  ROUND(MAX(quality), 6) AS best_quality
FROM r GROUP BY component
"""


def triangle_count_dupgraph(spark, sf_dir):
    """Triangle counting (Suri & Vassilvitskii WWW'11 wedge-check) on the
    n-gram-Jaccard near-dup graph: each triangle generated exactly once
    at its lowest vertex via two equi-joins over the canonical edge
    table; per-node counts via a 3-corner union + groupBy. Triangle
    density is the standard cluster-quality signal for dedup graphs
    (near-clique duplicate groups are triangle-rich; chains of
    borderline matches are not)."""
    from henbun_spark.operators import dedup, graph

    docs = _load(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", n=5, threshold=0.35, max_df=100
    )
    return graph.triangle_count(pairs, "id_a", "id_b")


_TRIANGLE_SQL = f"""
WITH {_JACCARD_CTES},
e AS (SELECT id_a AS lo, id_b AS hi FROM jac),
tris AS (
  SELECT w.a, w.b, w.c
  FROM (SELECT ab.lo AS a, ab.hi AS b, ac.hi AS c
        FROM e ab JOIN e ac ON ab.lo = ac.lo AND ab.hi < ac.hi) w
  JOIN e cl ON cl.lo = w.b AND cl.hi = w.c
),
corners AS (
  SELECT a AS node FROM tris
  UNION ALL SELECT b FROM tris
  UNION ALL SELECT c FROM tris
)
SELECT node, COUNT(*) AS n_triangles FROM corners GROUP BY node
"""


def quantile_sketch_value(spark, sf_dir):
    """Histogram quantile sketch vs exact percentile: p50/p95 of
    events.value estimated from a 256-bin mergeable equi-width histogram
    (declared [0,1000) domain), with the exact interpolated percentile
    and absolute error alongside. Error bound = one bin width (3.9);
    the measurement itself is oracle-checked."""
    from henbun_spark.operators import sketch

    ev = _load(spark, sf_dir, "events")
    hist = sketch.histogram_build(ev, "value", lo=0.0, hi=1000.0, n_bins=256)
    est = sketch.histogram_quantile(hist, [0.5, 0.95], lo=0.0, hi=1000.0, n_bins=256)
    exact = ev.agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("e50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("e95"),
    ).selectExpr("stack(2, 0.5D, e50, 0.95D, e95) as (q, exact)")
    return (
        est.join(exact, "q")
        .select("q", "est", "exact", F.round(F.abs(F.col("est") - F.col("exact")), 6).alias("abs_err"))
    )


_QUANTILE_SKETCH_SQL = """
WITH hist AS (
  SELECT least(greatest(CAST(floor((value - 0.0) / 3.90625) AS INT), 0), 255) AS bin,
         COUNT(*) AS cnt
  FROM events GROUP BY 1),
cum AS (
  SELECT bin, cnt,
    SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
    SUM(cnt) OVER () AS total
  FROM hist),
est AS (
  SELECT CAST(0.5 AS DOUBLE) AS q, ROUND(0.0 + (bin + (CAST(ceil(0.5 * total) AS BIGINT) - (cum - cnt)) / CAST(cnt AS DOUBLE)) * 3.90625, 6) AS est
  FROM cum WHERE cum >= ceil(0.5 * total) ORDER BY bin LIMIT 1),
est2 AS (
  SELECT CAST(0.95 AS DOUBLE) AS q, ROUND(0.0 + (bin + (CAST(ceil(0.95 * total) AS BIGINT) - (cum - cnt)) / CAST(cnt AS DOUBLE)) * 3.90625, 6) AS est
  FROM cum WHERE cum >= ceil(0.95 * total) ORDER BY bin LIMIT 1),
ests AS (SELECT * FROM est UNION ALL SELECT * FROM est2),
ex AS (
  SELECT CAST(0.5 AS DOUBLE) AS q, ROUND(quantile_cont(value, 0.5), 6) AS exact FROM events
  UNION ALL
  SELECT CAST(0.95 AS DOUBLE), ROUND(quantile_cont(value, 0.95), 6) FROM events)
SELECT ests.q, est, exact, ROUND(abs(est - exact), 6) AS abs_err
FROM ests JOIN ex ON ests.q = ex.q
"""


def chunk_docs_overlap(spark, sf_dir):
    """Overlapping fixed-size chunking (RAG/context-window prep): 200-char
    windows stepping 150 (50 overlap) with per-chunk lineage — pure
    codegen fan-out, zero shuffle. Chunk text exported as its md5 digest
    to keep the compare row narrow."""
    from henbun_spark.operators import text as text_ops

    docs = _load(spark, sf_dir, "documents")
    ch = text_ops.chunk_with_overlap(
        docs, "text", "doc_id", chunk_chars=200, overlap=50
    )
    return ch.select(
        "doc_id", "chunk_idx", "char_start", "chunk_len",
        F.md5("chunk").alias("digest"),
    )


_CHUNK_OVERLAP_SQL = """
WITH n AS (
  SELECT doc_id, text,
    greatest(CAST(ceil((length(text) - 50) / 150.0) AS INT), 1) AS n_chunks
  FROM documents),
ex AS (
  SELECT doc_id, text, CAST(i AS INT) AS chunk_idx
  FROM n, LATERAL unnest(generate_series(0, n_chunks - 1)) AS t(i))
SELECT doc_id, chunk_idx, chunk_idx * 150 AS char_start,
  length(substr(text, chunk_idx * 150 + 1, 200))::INT AS chunk_len,
  md5(substr(text, chunk_idx * 150 + 1, 200)) AS digest
FROM ex
"""


def bloom_semi_lineitem(spark, sf_dir):
    """Bloom-filter runtime pre-filter (the modern engine's large-join
    optimization, as an explicit operator): build a <= m/32-row bitmap
    from the selective side (high-value orders), broadcast it, and drop
    lineitem probe rows BEFORE any shuffle join. Returns the
    measurement row: exact semi-join rows, bloom-passed rows, false
    positives, fp rate — all deterministic (md5 bitmap), so the
    filter's quality is itself oracle-checked."""
    from henbun_spark.operators import sketch

    orders = _load(spark, sf_dir, "orders")
    li = _load(spark, sf_dir, "lineitem")
    sel = orders.where(F.col("o_totalprice") > 400000).select(
        F.col("o_orderkey").alias("k")
    )
    bloom = sketch.bloom_build(sel, "k", m_bits=1 << 16, k=4)
    probe = li.select(F.col("l_orderkey").alias("k"))
    passed = sketch.bloom_filter_probe(probe, bloom, "k", m_bits=1 << 16, k=4)
    n_bloom = passed.agg(F.count(F.lit(1)).alias("n_bloom"))
    n_exact = probe.join(sel.distinct(), "k", "semi").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    return (
        n_exact.crossJoin(n_bloom)
        .select(
            "n_exact",
            "n_bloom",
            (F.col("n_bloom") - F.col("n_exact")).alias("n_false_pos"),
            F.round(
                (F.col("n_bloom") - F.col("n_exact"))
                / F.greatest(F.lit(1), F.col("n_bloom")),
                6,
            ).alias("fp_share"),
        )
    )


def _bloom_sql(m_bits: int = 1 << 16, k: int = 4, salt: str = "bloom") -> str:
    def pos(expr, i):
        h = f"md5('{salt}' || '|' || '{i}' || '|' || coalesce(CAST({expr} AS VARCHAR), chr(0)))"
        val6 = " + ".join(
            f"((instr('0123456789abcdef', substr({h}, {j + 1}, 1)) - 1) * {16 ** (5 - j)})"
            for j in range(6)
        )
        return f"CAST(({val6}) % {m_bits} AS INT)"

    build = " UNION ALL ".join(
        f"SELECT {pos('k', i)} AS pos FROM sel" for i in range(k)
    )
    probe_pos = " UNION ALL ".join(
        f"SELECT k, {i} AS i, {pos('k', i)} AS pos FROM probekeys" for i in range(k)
    )
    return f"""
WITH sel AS (
  SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_totalprice > 400000),
bitmap AS (
  SELECT pos // 32 AS word_idx,
         CAST(bit_or(CAST(1 AS BIGINT) << (pos % 32)) AS BIGINT) AS bits
  FROM ({build}) GROUP BY 1),
probekeys AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
ppos AS ({probe_pos}),
hits AS (
  SELECT ppos.k, COUNT(*) AS nbits
  FROM ppos JOIN bitmap ON ppos.pos // 32 = bitmap.word_idx
  WHERE (bits & (CAST(1 AS BIGINT) << (pos % 32))) != 0
  GROUP BY ppos.k),
pass AS (SELECT k FROM hits WHERE nbits = {k}),
counts AS (
  SELECT
    (SELECT COUNT(*) FROM lineitem JOIN sel ON l_orderkey = sel.k) AS n_exact,
    (SELECT COUNT(*) FROM lineitem JOIN pass ON l_orderkey = pass.k) AS n_bloom)
SELECT n_exact::BIGINT AS n_exact, n_bloom::BIGINT AS n_bloom,
  (n_bloom - n_exact)::BIGINT AS n_false_pos,
  ROUND((n_bloom - n_exact) / greatest(1, n_bloom)::DOUBLE, 6) AS fp_share
FROM counts
"""


def minhash_recall_docs(spark, sf_dir):
    """Self-measuring recall of the MinHash-LSH candidate pass against
    the exact inverted-index Jaccard truth set (threshold 0.35) — the
    dedup twin of `emb_lsh_recall`: both pair sets, the intersection,
    and the recall arithmetic are oracle-mirrored so the measurement
    itself is hash-checked. Keeps the LSH trade-off measured on the text
    path, not assumed.

    Scale semantics of the ABSOLUTE max_df=100 (kept deliberately —
    r11): the exact inverted-index truth set is the verification twin,
    not the scale path. An absolute df cap keeps its join volume LINEAR
    in the corpus (sum over shingles of min(df, cap)^2 with a constant
    cap); a corpus-relative cap (2% of n) would make it QUADRATIC — one
    shingle at a 10k cap is 10^8 join pairs. The price is that on a
    pathologically self-similar corpus (the 30-word-vocab synthetic at
    sf10+) every shingle's df exceeds the cap and the truth set is
    honestly EMPTY — recall is then NULL (guarded below), never a
    crash. Real corpora keep near-dup pairs discoverable through their
    rare shingles at any size; at 100 TB the pair GENERATORS are the
    banded minhash/simhash passes, and this query is the bounded-SF
    instrument that validates them."""
    from henbun_spark.operators import dedup

    docs = _load(spark, sf_dir, "documents")
    # each pair set feeds two plan branches (its own count + the
    # intersection); checkpoint so the shingle/signature pipelines run
    # once, not per branch
    from pyspark.storagelevel import StorageLevel

    def _truth():
        return (
            dedup.ngram_jaccard_pairs(
                docs, "text", "doc_id", n=5, threshold=0.35, max_df=100
            )
            .select("id_a", "id_b")
            .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
        )

    # same max_bucket cap as the production dedup_minhash_lsh pass (the
    # sf1 probe wedged the 24g heap on the UNCAPPED candidate set);
    # DISK_ONLY checkpoints keep the materialized pair sets off-heap
    def _cands():
        return (
            dedup.minhash_lsh_pairs(
                docs, "text", "doc_id", n=8, bands=4, max_bucket=500
            )
            .select("id_a", "id_b")
            .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
        )

    # the two eager materializations are independent until the
    # intersection
    truth, cands = _overlap(_truth, _cands)
    # left-semi join, not intersect (r12): both pair sets are DISTINCT
    # by construction (each is a groupBy over (id_a, id_b)), so
    # intersect's distinct-aggregate on both sides was pure overhead —
    # the semi-join keeps the same one shuffle per side and drops the
    # two distinct expands. Row set identical.
    common = truth.join(cands, on=["id_a", "id_b"], how="left_semi")
    return (
        truth.agg(F.count(F.lit(1)).alias("n_truth"))
        .crossJoin(cands.agg(F.count(F.lit(1)).alias("n_cand")))
        .crossJoin(common.agg(F.count(F.lit(1)).alias("n_common")))
        .select(
            "n_truth",
            "n_cand",
            "n_common",
            # guarded: an empty truth set must report NULL recall, not
            # crash under ANSI division (the pre-r11 sf10 failure mode)
            F.when(
                F.col("n_truth") > 0,
                F.round(F.col("n_common") / F.col("n_truth"), 6),
            ).alias("recall"),
        )
    )


_MINHASH_RECALL_SQL = f"""
WITH {_JACCARD_CTES},
msh AS (
  SELECT DISTINCT doc_id, substr(text, i, 8) AS s
  FROM (SELECT doc_id, text,
          unnest(generate_series(1, greatest(length(text)-7, 1))) AS i
        FROM documents)
), msig AS (
  SELECT doc_id, band,
    min(substr(md5((band // 4)::VARCHAR || '|' || s), (band % 4) * 8 + 1, 8)) AS mh
  FROM msh CROSS JOIN (SELECT unnest([0,1,2,3]) AS band)
  GROUP BY doc_id, band
),
mkept AS (
  SELECT band, mh FROM msig GROUP BY band, mh HAVING COUNT(*) <= 500
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM msig a JOIN mkept k ON a.band = k.band AND a.mh = k.mh
  JOIN msig b ON a.band = b.band AND a.mh = b.mh
    AND a.doc_id < b.doc_id
),
truth AS (SELECT id_a, id_b FROM jac),
hit AS (SELECT id_a, id_b FROM truth INTERSECT SELECT id_a, id_b FROM cand)
SELECT
  (SELECT COUNT(*) FROM truth)::BIGINT AS n_truth,
  (SELECT COUNT(*) FROM cand)::BIGINT AS n_cand,
  (SELECT COUNT(*) FROM hit)::BIGINT AS n_common,
  CASE WHEN (SELECT COUNT(*) FROM truth) > 0 THEN
    ROUND((SELECT COUNT(*) FROM hit) / (SELECT COUNT(*) FROM truth)::DOUBLE, 6)
  END AS recall
"""


def skew_report_events(spark, sf_dir):
    """Key-skew diagnostic over (user_id, event_type): hottest 10 keys
    with share and uniform-ratio — map-side-combinable groupBy + a
    TakeOrdered top-k, totals as a bounded 1-row broadcast."""
    from henbun_spark.operators import relational

    ev = _load(spark, sf_dir, "events")
    return relational.skew_report(ev, ["user_id", "event_type"], top_k=10)


_SKEW_SQL = """
WITH counts AS (
  SELECT user_id, event_type, COUNT(*)::BIGINT AS n
  FROM events GROUP BY 1, 2),
tot AS (SELECT SUM(n)::BIGINT AS total, COUNT(*)::BIGINT AS n_keys FROM counts)
SELECT row_number() OVER (ORDER BY n DESC, user_id, event_type)::INT AS rank,
  user_id, event_type, n,
  ROUND(n::DOUBLE / total, 6) AS share,
  ROUND(n::DOUBLE * n_keys / total, 4) AS uniform_ratio
FROM counts CROSS JOIN tot
ORDER BY n DESC, user_id, event_type
LIMIT 10
"""


def salted_join_segments(spark, sf_dir):
    """Skew-mitigated fact-to-dim join (`relational.salted_join`): events
    rows scatter across 8 salted sub-keys, the customer dim replicates
    once per salt, and the join keys on (user_id, salt) — a hot user's
    rows spread over 8 reducer tasks instead of one straggler. The
    per-segment aggregate is salt-invariant, so the oracle is the PLAIN
    join: salting must change the schedule, never the result."""
    from henbun_spark.operators import relational

    ev = _load(spark, sf_dir, "events").select("user_id", "value")
    cust = _load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = relational.salted_join(ev, cust, on="user_id", n_salts=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        _dsum(F.col("value"), "value_sum"),
    )


_SALTED_JOIN_SQL = f"""
SELECT c_mktsegment, COUNT(*)::BIGINT AS n,
  {_sql_dsum('value', 'value_sum')}
FROM events JOIN customer ON customer.c_custkey = events.user_id
GROUP BY 1
"""


def partition_pruned_scan(spark, sf_dir):
    """Hive-partitioned layout + partition pruning end-to-end: events
    rewritten `partitionBy(day)` (the 100 TB ingest layout), then a
    day-range aggregate whose filter prunes DIRECTORIES at planning time
    — the scan never lists, opens, or reads files outside the three
    matching partitions (PartitionFilters in the plan; asserted in
    pytest). The oracle computes the same aggregate from the unpruned
    table, so the pruned scan must lose zero rows."""
    ev = _load(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    base = _scratch_dir("henbun_prune_")
    ev.write.mode("overwrite").partitionBy("day").parquet(base)
    part = spark.read.parquet(base).where(
        F.col("day").between("2024-01-05", "2024-01-07")
    )
    return part.groupBy("day", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        _dsum(F.col("value"), "value_sum"),
    ).withColumn("day", F.col("day").cast("date"))


_PARTITION_PRUNE_SQL = f"""
SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*)::BIGINT AS n,
  {_sql_dsum('value', 'value_sum')}
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-07'
GROUP BY 1, 2
"""


def budget_select_docs(spark, sf_dir):
    """Token-budget corpus selection: highest-n_chars docs until a 12k
    cumulative token budget — the in-plan binned prefix sum (sampled
    equi-depth score bins -> map-side per-bin totals -> broadcast bin
    offsets -> within-bin running window), NEVER a single-reducer
    global window and no driver offset round-trip."""
    from henbun_spark.operators import selection

    docs = _load(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.size(
            F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))
        ).cast("long").alias("n_tokens"),
    )
    out = selection.take_budget(
        docs, "n_chars", "n_tokens", budget=12000, id_col="doc_id"
    )
    return out.select("doc_id", "n_chars", "n_tokens", "cum_weight")


def diverse_select_emb(spark, sf_dir):
    """Greedy k-center diverse-coreset selection (Gonzalez 1985; the
    "pick k maximally spread examples" sampler in training-data
    assembly — new in r8, beyond the SURVEY checklist). Runs
    `selection.kcenter_select` (k scans, centers as plan-time literals,
    TakeOrdered(1) argmax per round — no global sort, no data shuffle).

    ORACLE-CHECKED via planted structure: 64 points at quadratically
    spaced positions id^2 on one axis — all pairwise squared distances
    are distinct exact integers (max ~1.6e7, far inside float53), so
    the greedy pick sequence and its min_dist2 certificate values are
    a deterministic constant regardless of partitioning; the oracle
    pins all 8 (rank, vec_id, min_dist2) rows as VALUES. A broken
    argmax, tie-break, distance fold, or exclusion of already-selected
    ids changes the sequence and fails the hash. The 2-approx coverage
    certificate on RANDOM data is pytest-enforced
    (test_kcenter_certificate)."""
    from henbun_spark.operators import selection

    pts = spark.range(0, 64, 1, 4).select(
        F.col("id").alias("vec_id"),
        F.array(
            *([(F.col("id") * F.col("id")).cast("double")]
              + [F.lit(0.0) for _ in range(7)])
        ).alias("embedding"),
    )
    return selection.kcenter_select(pts, "embedding", "vec_id", k=8)


#: r8 planted k-center oracle: the greedy sequence over id^2 positions
#: (replayed single-process, all distances distinct exact integers).
_KCENTER_PLANTED_SQL = """
SELECT rank::INT AS rank, vec_id::BIGINT AS vec_id,
       min_dist2::DOUBLE AS min_dist2
FROM (VALUES
  (1, 0, NULL), (2, 63, 15752961.0), (3, 45, 3779136.0),
  (4, 32, 1002001.0), (5, 55, 891136.0), (6, 39, 247009.0),
  (7, 23, 245025.0), (8, 50, 225625.0)) AS t(rank, vec_id, min_dist2)
"""


def dsir_select_docs(spark, sf_dir):
    """DSIR data selection (Xie et al. 2023): the 100 most English-like
    docs from the raw pool by hashed-n-gram importance weight, with
    lang='en' as the target-domain sample — fit + score in one pass
    over the exploded uni/bigrams, md5 bucketing and floor-quantized
    decimal log-ratio sums so the weights are bit-reproducible and
    DuckDB-mirrorable. Two shuffles (bucket counts, per-doc sum); the
    4096-row model broadcasts."""
    from henbun_spark.operators import selection

    docs = _load(spark, sf_dir, "documents")
    return selection.dsir_select(
        docs, "text", "doc_id", F.col("lang") == "en", k=100
    )


def _dsir_sql() -> str:
    h = "md5('dsir|' || g)"
    idx6 = " + ".join(
        f"((instr('0123456789abcdef', substr({h}, {j + 1}, 1)) - 1) * {16 ** (5 - j)})"
        for j in range(6)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, lang = 'en' AS is_t,
         list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM documents),
grams AS (
  SELECT doc_id, is_t, g FROM toks, UNNEST(
    list_concat(tk,
      list_transform(generate_series(1, len(tk) - 1),
                     i -> tk[i] || ' ' || tk[i + 1]))) AS u(g)),
hits AS (SELECT doc_id, is_t, ({idx6}) % 4096 AS b FROM grams),
cnt AS (
  SELECT b, COUNT(*)::BIGINT AS cr,
         SUM(CASE WHEN is_t THEN 1 ELSE 0 END)::BIGINT AS ct
  FROM hits GROUP BY b),
lw AS (SELECT b, CAST(floor((ln(ct + 1) - ln(cr + 1)) * 1000000.0 + 0.5)
                      / 1000000.0 AS DECIMAL(38,6)) AS lw FROM cnt),
kk AS (SELECT CAST(floor((ln(SUM(cr) + 4096) - ln(SUM(ct) + 4096))
                         * 1000000.0 + 0.5) / 1000000.0
                   AS DECIMAL(38,6)) AS k FROM cnt),
agg AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_ngrams, SUM(lw) AS s
  FROM hits JOIN lw USING (b) GROUP BY doc_id)
SELECT doc_id, n_ngrams, CAST(s + n_ngrams * k AS DOUBLE) AS weight
FROM agg CROSS JOIN kk
ORDER BY weight DESC, doc_id ASC
LIMIT 100
"""


_BUDGET_SELECT_SQL = """
WITH t AS (
  SELECT doc_id, n_chars,
         len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS n_tokens
  FROM documents)
SELECT doc_id, n_chars, n_tokens, cum_weight FROM (
  SELECT doc_id, n_chars, n_tokens,
    CAST(SUM(n_tokens) OVER (ORDER BY n_chars DESC, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_weight
  FROM t)
WHERE cum_weight <= 12000
"""


def emb_lsh_recall(spark, sf_dir):
    """Self-measuring recall of the banded-LSH near-dup path against the
    exact brute-force pair set at the same threshold — the quantitative
    answer to "what does the 100 TB plan give up?". Both sides and the
    recall arithmetic are oracle-mirrored, so the driver hash-checks the
    measurement itself.

    Interpretation note: the synthetic corpus is i.i.d. gaussian — LSH's
    documented worst case (pairwise cosines cluster near 0, so the 0.2-
    threshold set is wide-angle, not near-duplicate). On planted true
    duplicates the same operator measures ~1.0 recall
    (tests/test_operators.py::test_embedding_near_dup_lsh_finds_planted_duplicates);
    this query exists to keep the trade-off MEASURED, not assumed."""
    from henbun_spark.operators import dedup

    emb = _load(spark, sf_dir, "embeddings")
    # both pair sets feed two branches (own count + intersection);
    # checkpoint so the O(n^2) brute pass and the LSH pipeline run once.
    # The two materializations are independent until the intersection —
    # overlap them in two driver threads (guide §2.6), same as
    # `minhash_recall_docs`.
    def _brute():
        return (
            dedup.embedding_near_dup_pairs(
                emb, "embedding", "vec_id", threshold=0.2
            )
            .select("id_a", "id_b")
            .localCheckpoint()
        )

    def _lsh():
        return (
            dedup.embedding_near_dup_lsh(
                emb,
                "embedding",
                "vec_id",
                threshold=0.2,
                n_planes=_EMB_LSH_NPLANES,
                bands=_EMB_LSH_BANDS,
                seed=_EMB_LSH_SEED,
                dim=_EMB_LSH_DIM,
            )
            .select("id_a", "id_b")
            .localCheckpoint()
        )

    brute, lsh = _overlap(_brute, _lsh)
    common = brute.intersect(lsh)
    return (
        brute.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(lsh.agg(F.count(F.lit(1)).alias("n_lsh")))
        .crossJoin(common.agg(F.count(F.lit(1)).alias("n_common")))
        .select(
            "n_exact",
            "n_lsh",
            "n_common",
            F.round(F.col("n_common") / F.col("n_exact"), 6).alias("recall"),
        )
    )


def emb_density_outliers(spark, sf_dir):
    """Label-free density-based embedding outliers (NEW op, r12): score
    every vector by the exact integer sum of its LSH bucket sizes
    across 3 independent sign-random-projection banks
    (`similarity.lsh_density_scores`) and return the 10 sparsest points
    (density asc, vec_id tie-break). A point in sparse buckets under
    EVERY projection has no dense semantic neighborhood — the
    k-distance/LOF signal with zero pair joins: two scans + one
    <= bands*2^planes-row broadcast. Complements `emb_label_outliers`
    (centroid distance, needs labels). Shares the recall query's plane
    bank (same seed/dims), so the oracle replays identical literals;
    all arithmetic on the score is integer-exact."""
    from henbun_spark.operators import similarity

    emb = _load(spark, sf_dir, "embeddings")
    scored = similarity.lsh_density_scores(
        emb,
        "embedding",
        "vec_id",
        n_planes=_EMB_LSH_NPLANES,
        bands=_EMB_LSH_BANDS,
        seed=_EMB_LSH_SEED,
    )
    return scored.orderBy("density", "vec_id").limit(10)


def _emb_density_sql() -> str:
    planes = np.random.default_rng(_EMB_LSH_SEED).standard_normal(
        (_EMB_LSH_BANDS, _EMB_LSH_NPLANES, _EMB_LSH_DIM)
    )
    buckets = ",\n  ".join(
        f"{_emb_lsh_bucket_sql(planes[bi])} AS b{bi}"
        for bi in range(_EMB_LSH_BANDS)
    )
    stacked = "\n  UNION ALL ".join(
        f"SELECT vec_id, {bi} AS band, b{bi} AS bucket FROM bk"
        for bi in range(_EMB_LSH_BANDS)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bk AS (SELECT vec_id,
  {buckets}
  FROM e),
st AS ({stacked}),
sizes AS (SELECT band, bucket, COUNT(*)::BIGINT AS sz FROM st GROUP BY 1, 2)
SELECT st.vec_id, SUM(sz)::BIGINT AS density
FROM st JOIN sizes USING (band, bucket)
GROUP BY st.vec_id
ORDER BY density, st.vec_id
LIMIT 10
"""


def _emb_recall_sql() -> str:
    return f"""
WITH brute AS (
  SELECT id_a, id_b FROM ({_EMB_NEAR_DUP_SQL.strip()})
),
lsh AS (
  SELECT id_a, id_b FROM ({_EMB_LSH_SQL.strip()})
),
common AS (SELECT id_a, id_b FROM brute INTERSECT SELECT id_a, id_b FROM lsh)
SELECT (SELECT COUNT(*)::BIGINT FROM brute) AS n_exact,
       (SELECT COUNT(*)::BIGINT FROM lsh) AS n_lsh,
       (SELECT COUNT(*)::BIGINT FROM common) AS n_common,
       ROUND((SELECT COUNT(*) FROM common)::DOUBLE
             / (SELECT COUNT(*) FROM brute), 6) AS recall
"""


def weighted_sample_docs(spark, sf_dir):
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis order statistics): 50 docs sampled by n_chars weight —
    map-only key computation + TakeOrdered(k), oracle-mirrored md5
    uniforms."""
    from henbun_spark.operators import sampling

    docs = _load(spark, sf_dir, "documents")
    out = sampling.weighted_sample(docs, "n_chars", 50, "doc_id", salt="ws")
    return out.select(
        "doc_id", "n_chars", F.round("sample_key", 10).alias("sample_key")
    )


def _weighted_sample_sql() -> str:
    # lazy: _md5_prefix_sql is defined later in the module
    return f"""
WITH keyed AS (
  SELECT doc_id, n_chars,
    pow(({_md5_prefix_sql('doc_id', 'ws', 12)} + 1.0) / {float(1 << 48)!r},
        1.0 / n_chars) AS sample_key
  FROM documents WHERE n_chars > 0)
SELECT doc_id, n_chars, ROUND(sample_key, 10) AS sample_key
FROM keyed ORDER BY sample_key DESC, doc_id LIMIT 50
"""


def funnel_signup_purchase(spark, sf_dir):
    """Ordered funnel view -> click -> purchase: strictly-after
    subsequence matching via k-1 narrow frontier joins (no per-user
    event collection anywhere)."""
    from henbun_spark.operators import relational

    ev = _load(spark, sf_dir, "events")
    return relational.funnel(ev, "ts", "user_id", "event_type",
                             ["view", "click", "purchase"])


_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view'
  GROUP BY user_id),
s2 AS (
  SELECT s1.user_id, s1.t1,
         min(CASE WHEN e.ts > s1.t1 THEN e.ts END) AS t2
  FROM s1 LEFT JOIN events e
    ON e.user_id = s1.user_id AND e.event_type = 'click'
  GROUP BY s1.user_id, s1.t1),
s3 AS (
  SELECT s2.user_id, s2.t1, s2.t2,
         min(CASE WHEN e.ts > s2.t2 THEN e.ts END) AS t3
  FROM s2 LEFT JOIN events e
    ON e.user_id = s2.user_id AND e.event_type = 'purchase'
  GROUP BY s2.user_id, s2.t1, s2.t2),
c AS (SELECT COUNT(t1)::BIGINT AS n1, COUNT(t2)::BIGINT AS n2,
             COUNT(t3)::BIGINT AS n3 FROM s3)
SELECT step, event_type, n_users, ROUND(n_users::DOUBLE / n1, 6) AS conversion
FROM c, (VALUES (1, 'view'), (2, 'click'), (3, 'purchase')) AS v(step, event_type),
LATERAL (SELECT CASE step WHEN 1 THEN n1 WHEN 2 THEN n2 ELSE n3 END AS n_users)
"""


def snapshot_diff_docs(spark, sf_dir):
    """CDC snapshot diff between two deterministic corpus versions (old
    drops doc_id%11==0, new drops doc_id%13==0 and rewrites doc_id%17==0)
    — full-outer join on (id, md5 digest) only; payloads never shuffle."""
    from henbun_spark.operators import relational

    docs = _load(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 11 != 0)
    new = docs.where(F.col("doc_id") % 13 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 17 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return relational.snapshot_diff(old, new, "doc_id", ["text", "source"])


_SNAPSHOT_DIFF_SQL = """
WITH old AS (
  SELECT doc_id,
    md5(coalesce(text, chr(0) || 'null') || chr(1)
        || coalesce(source, chr(0) || 'null') || chr(1)) AS h
  FROM documents WHERE doc_id % 11 <> 0),
nw AS (
  SELECT doc_id,
    md5(coalesce(CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END,
                 chr(0) || 'null') || chr(1)
        || coalesce(source, chr(0) || 'null') || chr(1)) AS h
  FROM documents WHERE doc_id % 13 <> 0)
SELECT coalesce(old.doc_id, nw.doc_id) AS doc_id,
  CASE WHEN old.h IS NULL THEN 'added'
       WHEN nw.h IS NULL THEN 'removed'
       WHEN old.h <> nw.h THEN 'changed'
       ELSE 'unchanged' END AS change_type
FROM old FULL OUTER JOIN nw USING (doc_id)
"""


def profile_documents(spark, sf_dir):
    """Single-pass table profile (rows / nulls / distinct / min / max per
    column) — every statistic partial-aggregatable, one scan, stack()
    unpivot."""
    from henbun_spark import sources as src

    docs = _load(spark, sf_dir, "documents")
    return src.profile_table(docs, ["doc_id", "lang", "source", "n_chars"])


_PROFILE_SQL = """
WITH s AS (SELECT COUNT(*) AS n_rows FROM documents)
SELECT col AS "column", n_rows, n_nulls, n_distinct, min_val, max_val
FROM (
  SELECT 'doc_id' AS col, s.n_rows,
    (SELECT COUNT(*) - COUNT(doc_id) FROM documents)::BIGINT AS n_nulls,
    (SELECT COUNT(DISTINCT doc_id) FROM documents)::BIGINT AS n_distinct,
    (SELECT CAST(MIN(doc_id) AS VARCHAR) FROM documents) AS min_val,
    (SELECT CAST(MAX(doc_id) AS VARCHAR) FROM documents) AS max_val
  FROM s
  UNION ALL
  SELECT 'lang', s.n_rows,
    (SELECT COUNT(*) - COUNT(lang) FROM documents)::BIGINT,
    (SELECT COUNT(DISTINCT lang) FROM documents)::BIGINT,
    (SELECT MIN(lang) FROM documents),
    (SELECT MAX(lang) FROM documents)
  FROM s
  UNION ALL
  SELECT 'source', s.n_rows,
    (SELECT COUNT(*) - COUNT(source) FROM documents)::BIGINT,
    (SELECT COUNT(DISTINCT source) FROM documents)::BIGINT,
    (SELECT MIN(source) FROM documents),
    (SELECT MAX(source) FROM documents)
  FROM s
  UNION ALL
  SELECT 'n_chars', s.n_rows,
    (SELECT COUNT(*) - COUNT(n_chars) FROM documents)::BIGINT,
    (SELECT COUNT(DISTINCT n_chars) FROM documents)::BIGINT,
    (SELECT CAST(MIN(n_chars) AS VARCHAR) FROM documents),
    (SELECT CAST(MAX(n_chars) AS VARCHAR) FROM documents)
  FROM s)
"""


def zorder_events(spark, sf_dir):
    """Z-order (Morton) clustering key over (user_id, hour): pure-Column
    bit interleaving (the data-skipping layout key `write_zordered` sorts
    by), summarized per 16-z-bucket so the oracle can hash-compare the
    full curve. Shows each bucket covers a compact (user, hour)
    hyper-rectangle — the property file pruning relies on."""
    from henbun_spark.operators import layout

    ev = _load(spark, sf_dir, "events")
    # floor, not cast("long"): cast truncates toward zero and would
    # bucket pre-1970 hours one high (tests/test_negative_epoch_oracle);
    # cast("double") keeps sub-second precision like DuckDB's epoch()
    base = ev.select(
        "user_id",
        (
            F.floor(F.col("ts").cast("double") / F.lit(3600.0)).cast("long")
            % 1024
        ).alias("hr"),
    )
    z = layout.zorder_value(["user_id", "hr"], bits=16)
    return (
        base.select(z.alias("zv"), "user_id", "hr")
        .groupBy(F.shiftright(F.col("zv"), 12).alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("user_id").alias("min_user"),
            F.max("user_id").alias("max_user"),
            F.min("hr").alias("min_hr"),
            F.max("hr").alias("max_hr"),
        )
    )


def _zorder_sql() -> str:
    from henbun_spark.operators import layout

    return f"""
WITH base AS (
  SELECT user_id,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) % 1024 AS hr
  FROM events),
z AS (SELECT user_id, hr, {layout.zorder_sql(["user_id", "hr"], 16)} AS zv
      FROM base)
SELECT zv >> 12 AS zbucket, COUNT(*)::BIGINT AS n,
  min(user_id) AS min_user, max(user_id) AS max_user,
  min(hr) AS min_hr, max(hr) AS max_hr
FROM z GROUP BY 1
"""


_ZORDER_SQL = _zorder_sql()


_REF_SOURCES = ("src0", "src1", "src2", "src3", "src4")


def incremental_dedup_new(spark, sf_dir):
    """Incremental-ingest dedup: treat sources src0-src4 as the existing
    lake, the rest as the new crawl; drop new docs exactly or MinHash-
    near-duplicating the lake. Both stages are anti-joins on narrow keys."""
    from henbun_spark.operators import dedup

    docs = _load(spark, sf_dir, "documents")
    ref = docs.where(F.col("source").isin(*_REF_SOURCES))
    new = docs.where(~F.col("source").isin(*_REF_SOURCES))
    out = dedup.incremental_dedup(
        new, ref, "text", "doc_id", n=8, bands=4, min_bands=3
    )
    return out.select("doc_id", "source")


_INCR_DEDUP_SQL = """
WITH ref AS (
  SELECT * FROM documents WHERE source IN ('src0','src1','src2','src3','src4')),
nw AS (
  SELECT * FROM documents
  WHERE source NOT IN ('src0','src1','src2','src3','src4')),
n1 AS (
  SELECT nw.* FROM nw
  WHERE md5(text) NOT IN (SELECT md5(text) FROM ref)),
sh_n AS (
  SELECT DISTINCT doc_id, substr(text, i, 8) AS s
  FROM (SELECT doc_id, text,
          unnest(generate_series(1, greatest(length(text)-7, 1))) AS i
        FROM n1)),
sig_n AS (
  SELECT doc_id, band,
    min(substr(md5((band // 4)::VARCHAR || '|' || s), (band % 4) * 8 + 1, 8)) AS mh
  FROM sh_n CROSS JOIN (SELECT unnest([0,1,2,3]) AS band)
  GROUP BY doc_id, band),
sh_r AS (
  SELECT DISTINCT doc_id, substr(text, i, 8) AS s
  FROM (SELECT doc_id, text,
          unnest(generate_series(1, greatest(length(text)-7, 1))) AS i
        FROM ref)),
sig_r AS (
  SELECT DISTINCT band,
    mh
  FROM (
    SELECT doc_id, band,
      min(substr(md5((band // 4)::VARCHAR || '|' || s), (band % 4) * 8 + 1, 8)) AS mh
    FROM sh_r CROSS JOIN (SELECT unnest([0,1,2,3]) AS band)
    GROUP BY doc_id, band)),
hits AS (
  SELECT sig_n.doc_id
  FROM sig_n JOIN sig_r ON sig_n.band = sig_r.band AND sig_n.mh = sig_r.mh
  GROUP BY sig_n.doc_id
  HAVING COUNT(DISTINCT sig_n.band) >= 3)
SELECT doc_id, source FROM n1 WHERE doc_id NOT IN (SELECT doc_id FROM hits)
"""


def pagerank_dup_graph(spark, sf_dir):
    """PageRank over the n-gram-Jaccard near-dup graph (6 power
    iterations, decimal-exact contribution sums): the centrality-based
    canonical-doc selector. Oracle unrolls the identical recurrence."""
    from henbun_spark.operators import dedup, graph

    docs = _load(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", n=5, threshold=0.35, max_df=100
    )
    pr = graph.pagerank(pairs, "id_a", "id_b", iters=6)
    return pr.select(
        F.col("node").alias("doc_id"), F.round("rank", 6).alias("rank")
    )


def _pagerank_sql(iters: int = 6) -> str:
    body = [
        f"""WITH {_JACCARD_CTES},
edges AS (
  SELECT id_a AS u, id_b AS v FROM jac WHERE id_a <> id_b
  UNION
  SELECT id_b, id_a FROM jac WHERE id_a <> id_b),
deg AS (SELECT u, COUNT(*)::BIGINT AS d FROM edges GROUP BY u),
p0 AS (SELECT u AS node, 1.0::DOUBLE AS rank FROM deg)"""
    ]
    for k in range(1, iters + 1):
        body.append(
            f""",
p{k} AS (
  SELECT e.v AS node,
    0.15 + 0.85 * CAST(SUM(CAST(ROUND(p.rank / deg.d, 9) AS DECIMAL(38,9))) AS DOUBLE) AS rank
  FROM edges e
  JOIN p{k - 1} p ON p.node = e.u
  JOIN deg ON deg.u = e.u
  GROUP BY e.v)"""
        )
    body.append(f"\nSELECT node AS doc_id, ROUND(rank, 6) AS rank FROM p{iters}")
    return "".join(body)


def chunk_dedup_docs(spark, sf_dir):
    """Span-level (paragraph-style) exact dedup: 16-word chunks, global
    first-occurrence keep, per-doc reassembly. First-occurrence is a
    partial-aggregatable min(struct) groupBy — no window over the corpus."""
    from henbun_spark.operators import dedup

    docs = _load(spark, sf_dir, "documents")
    return dedup.chunk_dedup(docs, "text", "doc_id", chunk_words=16)


_CHUNK_DEDUP_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM documents
),
chunks AS (
  SELECT doc_id, i AS chunk_idx,
         array_to_string(w[(i*16+1):(i*16+16)], ' ') AS chunk
  FROM (SELECT doc_id, w,
          unnest(generate_series(0, greatest(CAST(ceil(len(w)/16.0) AS INT)-1, 0))) AS i
        FROM toks)
),
flagged AS (
  SELECT doc_id, chunk_idx, chunk,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) = 1 AS keep
  FROM chunks
)
SELECT doc_id,
       COUNT(*)::BIGINT AS n_chunks,
       SUM(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       COALESCE(array_to_string(list(chunk ORDER BY chunk_idx) FILTER (WHERE keep), ' '), '')
         AS clean_text
FROM flagged GROUP BY doc_id
"""


def dedup_substring_spans(spark, sf_dir):
    """NEW r9 operator: ExactSubstr-style duplicate-span detection (Lee
    et al. 2021) — every maximal char span whose every 24-char window
    occurs >= 2 times corpus-wide, via rolling-window digests merged
    into intervals (`dedup.duplicate_substring_spans`). O(total chars)
    explode + one map-side-combinable digest groupBy + per-doc interval
    windows; no pairwise join anywhere, so no max_df skew cap needed."""
    from henbun_spark.operators import dedup

    docs = _load(spark, sf_dir, "documents")
    return dedup.duplicate_substring_spans(
        docs, "text", "doc_id", min_len=24
    )


_SUBSTR_SPANS_CTE = """
pos AS (
  SELECT doc_id, text, unnest(generate_series(1, length(text) - 23)) AS i
  FROM documents WHERE length(text) >= 24),
sh AS (SELECT doc_id, i, md5(substr(text, i, 24)) AS digest FROM pos),
dups AS (SELECT digest FROM sh GROUP BY digest HAVING COUNT(*) > 1),
hits AS (SELECT doc_id, i FROM sh JOIN dups USING (digest)),
marked AS (
  SELECT doc_id, i,
    CASE WHEN coalesce(i > max(i + 23) OVER (PARTITION BY doc_id ORDER BY i
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1, TRUE)
    THEN 1 ELSE 0 END AS nw
  FROM hits),
isl AS (
  SELECT doc_id, i,
    SUM(nw) OVER (PARTITION BY doc_id ORDER BY i) AS g
  FROM marked),
spans AS (
  SELECT doc_id, MIN(i)::BIGINT AS span_start,
    (MAX(i) + 23)::BIGINT AS span_end, COUNT(*)::BIGINT AS n_shingles,
    (MAX(i) + 23 - MIN(i) + 1)::BIGINT AS span_len
  FROM isl GROUP BY doc_id, g)
"""

_SUBSTR_SPANS_SQL = f"""
WITH {_SUBSTR_SPANS_CTE}
SELECT doc_id, span_start, span_end, n_shingles, span_len FROM spans
"""


def dedup_substring_removal(spark, sf_dir):
    """NEW r9 operator, the excision half of the ExactSubstr pass:
    duplicated spans cut out and documents stitched back together —
    pure Column functions (lag for the piece before each span,
    array_sort(collect_list)+transform+concat as the ordered
    string_agg, substr tail), no UDF, identical arithmetic in the
    DuckDB oracle. Docs without spans pass through untouched."""
    from henbun_spark.operators import dedup

    docs = _load(spark, sf_dir, "documents")
    return dedup.remove_duplicate_spans(docs, "text", "doc_id", min_len=24)


_SUBSTR_REMOVAL_SQL = f"""
WITH {_SUBSTR_SPANS_CTE},
ordered AS (
  SELECT doc_id, span_start, span_end,
    coalesce(lag(span_end) OVER (PARTITION BY doc_id ORDER BY span_start),
             0) AS pe
  FROM spans),
stitched AS (
  SELECT o.doc_id,
    string_agg(substr(d.text, (o.pe + 1)::INT,
                      (o.span_start - 1 - o.pe)::INT), ''
               ORDER BY o.span_start)
      || substr(d.text, (MAX(o.span_end) + 1)::INT,
                greatest(length(d.text) - MAX(o.span_end), 0)::INT)
      AS cleaned,
    COUNT(*)::BIGINT AS n_spans
  FROM ordered o JOIN documents d USING (doc_id)
  GROUP BY o.doc_id, d.text)
SELECT d.doc_id,
  CASE WHEN s.doc_id IS NULL THEN d.text ELSE s.cleaned END AS cleaned,
  length(d.text)::BIGINT AS orig_len,
  length(CASE WHEN s.doc_id IS NULL THEN d.text ELSE s.cleaned END)::BIGINT
    AS cleaned_len,
  coalesce(s.n_spans, 0)::BIGINT AS n_spans
FROM documents d LEFT JOIN stitched s USING (doc_id)
"""


def dedup_substring_winnowed(spark, sf_dir):
    """NEW r10 operator: winnowed ExactSubstr duplicate-span detection
    (`dedup.duplicate_substring_spans_winnowed`, Schleimer-Wilkerson-
    Aiken fingerprint selection) — per-doc digest + band-min selection
    entirely map-side; only the selected ~2/(band+1) of positions is
    exploded into the digest groupBy, cutting the exact pass's
    O(total chars) shuffle ~4.5x at band=8 while deterministically
    detecting every duplicate span >= min_len + band - 1 chars."""
    from henbun_spark.operators import dedup

    docs = _load(spark, sf_dir, "documents")
    return dedup.duplicate_substring_spans_winnowed(
        docs, "text", "doc_id", min_len=24, band=8
    )


_WINNOW_SEL_CTE = """
pos AS (
  SELECT doc_id, text, length(text) - 23 AS m,
         unnest(generate_series(1, length(text) - 23)) AS i
  FROM documents WHERE length(text) >= 24),
keys AS (
  SELECT doc_id, m, i,
         md5(substr(text, i, 24)) || lpad(CAST(i AS VARCHAR), 12, '0') AS key
  FROM pos),
selraw AS (
  SELECT doc_id, m, i,
    min(key) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS sel_key
  FROM keys),
sel AS (
  SELECT DISTINCT doc_id, substr(sel_key, 1, 32) AS digest,
         CAST(substr(sel_key, 33, 12) AS BIGINT) AS i
  FROM selraw WHERE i <= greatest(m - 7, 1))
"""

_SUBSTR_WINNOW_SQL = f"""
WITH {_WINNOW_SEL_CTE.strip()},
dups AS (SELECT digest FROM sel GROUP BY digest HAVING COUNT(*) > 1),
hits AS (SELECT doc_id, i FROM sel JOIN dups USING (digest)),
marked AS (
  SELECT doc_id, i,
    CASE WHEN coalesce(i > max(i + 23) OVER (PARTITION BY doc_id ORDER BY i
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1, TRUE)
    THEN 1 ELSE 0 END AS nw
  FROM hits),
isl AS (
  SELECT doc_id, i,
    SUM(nw) OVER (PARTITION BY doc_id ORDER BY i) AS g
  FROM marked)
SELECT doc_id, MIN(i)::BIGINT AS span_start,
  (MAX(i) + 23)::BIGINT AS span_end, COUNT(*)::BIGINT AS n_shingles,
  (MAX(i) + 23 - MIN(i) + 1)::BIGINT AS span_len
FROM isl GROUP BY doc_id, g
"""


def streaming_winnow_index(spark, sf_dir):
    """NEW r10 streaming path (#25): the INCREMENTAL twin of the
    winnowed ExactSubstr pass — a persistent SELECTED-fingerprint
    index. Documents stream in as 4-file micro-batches; each batch
    computes its own docs' winnowed fingerprints
    (`dedup.winnowed_fingerprints` — content-LOCAL per doc, so the
    same doc selects the same fingerprints whichever batch it arrives
    in) and folds (digest -> min canonical_id, occurrence count)
    partials into versioned exactly-once state via
    `mv_stream_maintenance(agg_spec={canonical_id: min})`. Carries
    ~2/(band+1) of the exact index's rows (the winnowing density) with
    the same deterministic detection floor (spans >= min_len + band -
    1); the drained duplicated-fingerprint index == the batch winnowed
    selection's digest groupBy bit-for-bit. ORACLE-CHECKED against the
    same selection CTE the batch `dedup_substring_winnowed` oracle
    uses."""
    from henbun_spark import streaming
    from henbun_spark.operators import dedup

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    stream, base = _file_stream(docs, "henbun_swx_", one_file_per_batch=True)

    def partials(d):
        return (
            dedup.winnowed_fingerprints(d, "text", "doc_id", 24, 8)
            .groupBy("digest")
            .agg(
                F.min("doc_id").alias("canonical_id"),
                F.count(F.lit(1)).alias("n_occ"),
            )
        )

    q = streaming.mv_stream_maintenance(
        stream,
        partials,
        ["digest"],
        f"{base}/state",
        f"{base}/ckpt",
        agg_spec={"canonical_id": "min"},
    )
    q.awaitTermination()
    idx = streaming.load_state(spark, f"{base}/state")
    return idx.where(F.col("n_occ") > 1).select(
        "digest", "canonical_id", F.col("n_occ").cast("long").alias("n_occ")
    )


_STREAM_WINNOW_INDEX_SQL = f"""
WITH {_WINNOW_SEL_CTE.strip()}
SELECT digest, MIN(doc_id) AS canonical_id, COUNT(*)::BIGINT AS n_occ
FROM sel GROUP BY 1 HAVING COUNT(*) > 1
"""


def _simhash_bits_sql(bits: int) -> str:
    bit_exprs = []
    for j in range(bits):
        nib = f"(instr('0123456789abcdef', substr(md5(tok), {j // 4 + 1}, 1)) - 1)"
        bit = f"(({nib} >> {3 - j % 4}) & 1)"
        bit_exprs.append(f"CASE WHEN sum(2*{bit}-1) > 0 THEN {1 << j} ELSE 0 END")
    return " + ".join(bit_exprs)


def dedup_simhash(spark, sf_dir):
    """64-bit SimHash fingerprints per doc: one shingle explode + one map-side-combinable groupBy of signed bit contributions, pure Column math."""
    from henbun_spark.operators import dedup

    docs = _load(spark, sf_dir, "documents")
    return dedup.simhash(docs, "text", "doc_id", bits=16)


_SIMHASH_SQL = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''
)
SELECT doc_id, ({_simhash_bits_sql(16)})::BIGINT AS simhash
FROM toks GROUP BY doc_id
"""


def simhash_near_pairs(spark, sf_dir):
    """Banded (pigeonhole-exact) SimHash near-dup pairs; the oracle is the
    brute-force quadratic check — banding must find exactly the same set."""
    from henbun_spark.operators import dedup

    docs = _load(spark, sf_dir, "documents")
    # 32-bit fingerprints: with max_hamming=3 the pigeonhole blocks are
    # 8 bits wide (256 bucket values) vs 4 bits at bits=16 (16 values) —
    # ~16x smaller candidate buckets, so the O(bucket^2) join fan-out
    # drops ~256x, and hamming<=3 of 32 is a far sharper near-dup test.
    return dedup.simhash_near_pairs(docs, "text", "doc_id", bits=32, max_hamming=3)


_SIMHASH_PAIRS_SQL = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''
), fp AS (
  SELECT doc_id, ({_simhash_bits_sql(32)})::BIGINT AS simhash
  FROM toks GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def simhash_neighbor_stats(spark, sf_dir):
    """Scale-mode twin of simhash_near_pairs: per-doc near-neighbor count +
    deterministic top-3 nearest (hamming, id tie-break) — O(n*k) output at
    any SF, where the full pair set is output-bound quadratic on
    self-similar corpora (165.9M rows at sf1). Same pigeonhole banding;
    hamming filtered before any post-join shuffle."""
    from henbun_spark.operators import dedup

    docs = _load(spark, sf_dir, "documents")
    return dedup.simhash_neighbor_topk(
        docs, "text", "doc_id", bits=32, max_hamming=3, k=3
    )


def streaming_simhash_degree(spark, sf_dir):
    """NEW r11 streaming path (#26): near-dup DEGREE maintenance at
    ingest. Documents stream in as 4-file micro-batches; each batch's
    SimHash fingerprints band-join the persistent index (pigeonhole
    blocks, batch-vs-index + within-batch only — the index never
    self-joins), every discovered pair increments BOTH endpoints'
    n_near exactly once (first-agreeing-block emission collapses
    multi-block matches map-side, no distinct shuffle; a pair is found
    precisely when its later doc arrives), and
    the per-doc (fingerprint, n_near) state commits atomically per
    batch. The drained degrees equal the batch near-pair degree
    aggregation bit-for-bit under any batch split — degree is
    arrival-order-free. ORACLE-CHECKED against the brute-force pair-set
    degree SQL."""
    from henbun_spark import streaming

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    stream, base = _file_stream(docs, "henbun_shd_", one_file_per_batch=True)
    q = streaming.simhash_degree_stream_maintenance(
        stream,
        f"{base}/state",
        f"{base}/ckpt",
        bits=32,
        max_hamming=3,
    )
    q.awaitTermination()
    idx = streaming.load_state(spark, f"{base}/state")
    return idx.where(F.col("n_near") > 0).select(
        "doc_id", F.col("n_near").cast("long").alias("n_near")
    )


_STREAM_SIMHASH_DEGREE_SQL = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''
), fp AS (
  SELECT doc_id, ({_simhash_bits_sql(32)})::BIGINT AS simhash
  FROM toks GROUP BY doc_id
)
SELECT a.doc_id AS doc_id, COUNT(*)::BIGINT AS n_near
FROM fp a JOIN fp b ON a.doc_id <> b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
GROUP BY a.doc_id
"""


def streaming_bloom_filter(spark, sf_dir):
    """NEW r12 streaming path (#28): BLOOM-FILTER maintenance at
    ingest. High-value orders (o_totalprice > 400000) stream in as
    4-file micro-batches; the persistent state is the <= 2048-row
    (word_idx, bits) bitmap over their order keys — the build side of
    `bloom_semi_lineitem`'s runtime pre-filter, kept always-current so
    probe-side pre-filtering never rescans the build table. Bitwise OR
    is associative, commutative and idempotent, so the drained bitmap
    equals the one-shot batch `sketch.bloom_build` bit-for-bit under
    any micro-batch split. ORACLE-CHECKED against the same md5-nibble
    bitmap SQL the batch bloom uses, plus per-word popcounts."""
    from henbun_spark import streaming

    orders = _load(spark, sf_dir, "orders")
    sel = orders.where(F.col("o_totalprice") > 400000).select(
        F.col("o_orderkey").alias("k")
    )
    stream, base = _file_stream(sel, "henbun_sbf_", one_file_per_batch=True)
    q = streaming.bloom_stream_maintenance(
        stream, "k", f"{base}/state", f"{base}/ckpt", m_bits=1 << 16, k=4
    )
    q.awaitTermination()
    s = streaming.load_state(spark, f"{base}/state")
    return s.select(
        F.col("word_idx").cast("int").alias("word_idx"),
        F.col("bits").cast("long").alias("bits"),
        F.bit_count("bits").cast("int").alias("n_set"),
    )


def _stream_bloom_sql(m_bits: int = 1 << 16, k: int = 4, salt: str = "bloom") -> str:
    def pos(expr, i):
        h = f"md5('{salt}' || '|' || '{i}' || '|' || coalesce(CAST({expr} AS VARCHAR), chr(0)))"
        val6 = " + ".join(
            f"((instr('0123456789abcdef', substr({h}, {j + 1}, 1)) - 1) * {16 ** (5 - j)})"
            for j in range(6)
        )
        return f"CAST(({val6}) % {m_bits} AS INT)"

    build = " UNION ALL ".join(
        f"SELECT {pos('k', i)} AS pos FROM sel" for i in range(k)
    )
    return f"""
WITH sel AS (
  SELECT o_orderkey AS k FROM orders WHERE o_totalprice > 400000),
bitmap AS (
  SELECT pos // 32 AS word_idx,
         CAST(bit_or(CAST(1 AS BIGINT) << (pos % 32)) AS BIGINT) AS bits
  FROM ({build}) GROUP BY 1)
SELECT CAST(word_idx AS INT) AS word_idx, bits,
  CAST(bit_count(bits) AS INT) AS n_set
FROM bitmap
"""


def streaming_bottomk_sample(spark, sf_dir):
    """NEW r12 streaming path (#27): BOTTOM-K (priority) sample
    maintenance at ingest. Documents stream in as 4-file micro-batches;
    the persistent state is the 100 rows with the smallest
    ``substr(md5('bk|' || doc_id), 1, 16)`` priority among everything
    ingested so far — the KMV/bottom-k primitive a 100-TB pipeline uses
    to keep a representative sample of an unbounded crawl with zero RNG
    state (membership is recomputable from the pure hash; the k-th
    smallest priority doubles as a distinct-count estimator, and two
    streams' states merge by union + re-top-k). Each batch is one
    TakeOrdered(k) over (previous k) ∪ batch — bounded state, bounded
    work, split-invariant because rank truncation is a MIN-like fold.
    ORACLE-CHECKED bit-for-bit against the batch ORDER BY priority
    LIMIT k SQL."""
    from henbun_spark import streaming

    docs = _load(spark, sf_dir, "documents").select("doc_id", "source")
    stream, base = _file_stream(docs, "henbun_sbk_", one_file_per_batch=True)
    q = streaming.bottomk_stream_maintenance(
        stream,
        "doc_id",
        f"{base}/state",
        f"{base}/ckpt",
        k=100,
        payload_cols=("source",),
    )
    q.awaitTermination()
    s = streaming.load_state(spark, f"{base}/state")
    return s.select("doc_id", "source", "pr")


_STREAM_BOTTOMK_SQL = """
SELECT doc_id, source,
  substr(md5('bk|' || CAST(doc_id AS VARCHAR)), 1, 16) AS pr
FROM documents
ORDER BY pr, doc_id
LIMIT 100
"""


_SIMHASH_NEIGHBOR_SQL = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''
), fp AS (
  SELECT doc_id, ({_simhash_bits_sql(32)})::BIGINT AS simhash
  FROM toks GROUP BY doc_id
), near AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS nbr_id,
    bit_count(xor(a.simhash, b.simhash))::INT AS hamming
  FROM fp a JOIN fp b ON a.doc_id <> b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
), ranked AS (
  SELECT doc_id, nbr_id, hamming,
    COUNT(*) OVER (PARTITION BY doc_id) AS n_near,
    ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY hamming, nbr_id) AS nn_rank
  FROM near)
SELECT doc_id, n_near::BIGINT AS n_near, nn_rank::INT AS nn_rank,
  nbr_id, hamming
FROM ranked WHERE nn_rank <= 3
"""


# ---------------------------------------------------------------------------
# text analysis (documents table)
# ---------------------------------------------------------------------------

def text_stats(spark, sf_dir):
    """Per-doc token/char statistics + rolling-hash fingerprint — map-only Column pass, zero shuffle."""
    from henbun_spark.operators import text

    docs = _load(spark, sf_dir, "documents")
    out = text.bpe_ish_token_count(text.fingerprint(text.token_stats(docs)))
    return out.select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        F.round("avg_token_len", 6).alias("avg_token_len"),
        "token_estimate",
        "fingerprint",
    )


_TEXT_STATS_SQL = """
WITH t AS (
  SELECT doc_id, text,
    list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents)
SELECT doc_id,
  len(toks)::INT AS n_tokens,
  len(list_distinct(toks))::INT AS n_distinct_tokens,
  ROUND(length(replace(text, ' ', ''))::DOUBLE / greatest(len(toks), 1), 6)
    AS avg_token_len,
  (len(toks) + CAST(ceil(length(text) / 16.0) AS INT))::INT AS token_estimate,
  list_reduce(
    list_transform(generate_series(1, greatest(length(text), 1)),
                   i -> ascii(substr(text, i, 1))::BIGINT),
    (acc, c) -> (acc * 31 + c) % 2147483647
  ) AS fingerprint
FROM t
"""


def text_quality(spark, sf_dir):
    """Heuristic quality score (length, punctuation, stopword fraction) in [0,1] — pure Column math."""
    from henbun_spark.operators import text

    docs = _load(spark, sf_dir, "documents")
    return text.quality_score(docs).select(
        "doc_id", F.round("quality", 6).alias("quality")
    )


_TEXT_QUALITY_SQL = """
WITH t AS (
  SELECT doc_id, text,
    list_filter(string_split(text, ' '), x -> x <> '') AS toks,
    length(text) AS n_chars
  FROM documents)
SELECT doc_id,
  ROUND(
    0.4 * least(n_chars / 500.0, 1.0)
    + 0.3 * (1 - (n_chars - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                   / greatest(n_chars, 1))
    + 0.3 * least(
        len(list_filter(toks,
          x -> list_contains(['the','a','of','and','to','in','is','on','for','with'], x)))
        / greatest(len(toks), 1) / 0.5, 1.0)
  , 6) AS quality
FROM t
"""


def text_langid(spark, sf_dir):
    """Lexicon-vote language ID with deterministic tie-break, aggregated per predicted language — map-only scoring."""
    from henbun_spark.operators import text

    docs = _load(spark, sf_dir, "documents")
    return (
        text.lang_id(docs)
        .groupBy("pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_LANG_MARKERS_SQL = {
    "en": "['the','a','and','of','is']",
    "de": "['der','die','das','und','ist']",
    "fr": "['le','la','et','est','les']",
    "es": "['el','la','que','es','los']",
    "zh": "['de','shi','zai','le','he']",
}
_LANG_SCORES = ",\n  ".join(
    f"len(list_filter(toks, x -> list_contains({arr}, x))) AS score_{la}"
    for la, arr in _LANG_MARKERS_SQL.items()
)
_LANG_CASE = " ".join(
    f"WHEN score_{la} = best THEN '{la}'" for la in sorted(_LANG_MARKERS_SQL)
)
_LANGID_SQL = f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents),
s AS (
  SELECT doc_id,
  {_LANG_SCORES}
  FROM t),
p AS (
  SELECT doc_id,
    CASE {_LANG_CASE} END AS pred_lang
  FROM (SELECT *, greatest(score_de, score_en, score_es, score_fr, score_zh)
          AS best FROM s))
SELECT pred_lang, COUNT(*) AS n_docs FROM p GROUP BY pred_lang
"""


def text_tfidf(spark, sf_dir):
    """Top-3 characteristic terms per document by smoothed TF-IDF.
    Vocabulary/doc-frequency stats + per-doc window rank — the standard
    keyword-extraction pass of a corpus pipeline."""
    from henbun_spark.operators import text

    docs = _load(spark, sf_dir, "documents")
    return text.tfidf_top_terms(docs, "text", "doc_id", k=3)


_TFIDF_SQL = """
WITH toks AS (
  SELECT doc_id,
    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM documents),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY doc_id, term),
dfreq AS (
  SELECT term, count(*)::BIGINT AS df_t FROM tf GROUP BY term),
n AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
    ROUND(tf.tf * (ln((n.n_docs + 1)::DOUBLE / (dfreq.df_t + 1)::DOUBLE) + 1.0), 6)
      AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
ranked AS (
  SELECT doc_id, term, tf, tfidf,
    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC)
         AS INT) AS rank
  FROM scored)
SELECT doc_id, term, tf, tfidf, rank FROM ranked WHERE rank <= 3
"""


def text_repetition(spark, sf_dir):
    """Intra-document repetition (duplicate/top token-bigram fractions) —
    the Gopher-style boilerplate-detection filter."""
    from henbun_spark.operators import text

    docs = _load(spark, sf_dir, "documents")
    return text.repetition_stats(docs, "text", "doc_id")


_REPETITION_SQL = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents),
bg AS (
  SELECT doc_id,
    unnest(list_filter(
      list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]),
      g -> g IS NOT NULL)) AS bigram
  FROM t),
per AS (
  SELECT doc_id, bigram, count(*)::BIGINT AS cnt FROM bg GROUP BY doc_id, bigram)
SELECT doc_id,
  CAST(sum(cnt) AS BIGINT) AS n_bigrams,
  count(*)::BIGINT AS n_distinct_bigrams,
  ROUND(1.0 - count(*)::DOUBLE / CAST(sum(cnt) AS DOUBLE), 6) AS dup_bigram_frac,
  ROUND(max(cnt)::DOUBLE / CAST(sum(cnt) AS DOUBLE), 6) AS top_bigram_frac
FROM per GROUP BY doc_id
"""


def lm_bigram_docs(spark, sf_dir):
    """Interpolated bigram-LM cross-entropy per doc (lam=0.7 bigram +
    0.3 unigram backoff): one bigram explode feeds both count tables,
    three vocab-keyed joins, decimal-exact aggregation."""
    from henbun_spark.operators import text as text_ops

    docs = _load(spark, sf_dir, "documents")
    return text_ops.bigram_lm_score(docs, "text", "doc_id", lam=0.7)


_LM_BIGRAM_SQL = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents),
bg AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 1, 1))) AS i
        FROM t)
  WHERE i + 1 <= len(w)),
c12 AS (SELECT w1, w2, COUNT(*)::BIGINT AS c12 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, SUM(c12)::BIGINT AS c1 FROM c12 GROUP BY 1),
uni AS (
  SELECT tok AS w2, COUNT(*)::BIGINT AS c2
  FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        FROM documents)
  GROUP BY 1),
tot AS (SELECT SUM(c2)::BIGINT AS n_total FROM uni),
scored AS (
  SELECT bg.doc_id,
    ROUND(ln(0.7 * c12.c12 / c1.c1 + 0.30000000000000004 * uni.c2 / tot.n_total), 6) AS lp
  FROM bg
  JOIN c12 USING (w1, w2)
  JOIN c1 USING (w1)
  JOIN uni USING (w2)
  CROSS JOIN tot)
SELECT doc_id, COUNT(*)::BIGINT AS n_positions,
  -(CAST(SUM(CAST(lp AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)) AS xent2
FROM scored GROUP BY doc_id
"""


def gopher_quality_docs(spark, sf_dir):
    """The published Gopher quality-rule subset per doc (word-count and
    mean-word-length windows, symbol ratios, alphabetic-word fraction,
    stopword presence) + overall pass flag — map-only Column math."""
    from henbun_spark.operators import text as text_ops

    docs = _load(spark, sf_dir, "documents")
    return text_ops.gopher_quality(docs, "text", "doc_id")


_GOPHER_SQL = """
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents),
m AS (
  SELECT doc_id,
    len(w) AS n_words,
    ROUND(list_sum(list_transform(w, x -> length(x)))::DOUBLE / len(w), 6) AS mean_word_len,
    ROUND(((length(text) - length(replace(text, '#', '')))) / len(w), 6) AS hash_ratio,
    ROUND(((length(text) - length(replace(text, '...', ''))) / 3) / len(w), 6) AS ellipsis_ratio,
    ROUND(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE / len(w), 6) AS alpha_word_frac,
    (list_contains(w, 'the')::INT + list_contains(w, 'be')::INT
     + list_contains(w, 'to')::INT + list_contains(w, 'of')::INT
     + list_contains(w, 'and')::INT + list_contains(w, 'that')::INT
     + list_contains(w, 'have')::INT + list_contains(w, 'with')::INT) AS stop_hits
  FROM t)
SELECT doc_id, n_words, mean_word_len, hash_ratio, ellipsis_ratio,
  alpha_word_frac, stop_hits,
  (n_words >= 50 AND n_words <= 100000
   AND mean_word_len >= 3 AND mean_word_len <= 10
   AND hash_ratio < 0.1 AND ellipsis_ratio < 0.3
   AND alpha_word_frac > 0.8 AND stop_hits >= 2) AS passes
FROM m
"""


def lm_score_docs(spark, sf_dir):
    """Unigram-LM cross-entropy per doc (CCNet-style quality signal):
    pass 1 trains token counts, pass 2 scores via a token-keyed join —
    two shuffles total, decimal-exact per-doc aggregation."""
    from henbun_spark.operators import text as text_ops

    docs = _load(spark, sf_dir, "documents")
    return text_ops.unigram_lm_score(docs, "text", "doc_id")


_LM_SCORE_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
  FROM documents),
cnt AS (SELECT tok, COUNT(*)::BIGINT AS c FROM toks GROUP BY tok),
tot AS (SELECT SUM(c)::BIGINT AS n FROM cnt)
SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
  -(CAST(SUM(CAST(ROUND(ln(c) - ln(n), 6) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)) AS xent
FROM toks JOIN cnt USING (tok) CROSS JOIN tot
GROUP BY doc_id
"""


def hopping_window_counts(spark, sf_dir):
    """Hopping (sliding) window aggregate: 2-hour windows every hour —
    each event lands in exactly 2 windows (`F.window` with a slide
    duration; the oracle unnests the two covering buckets). Same keyed
    partial-agg plan as tumbling, with 2x row fan-out before the
    combine."""
    ev = _load(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "2 hours", "1 hour")
    return (
        ev.groupBy(win.alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            (F.unix_timestamp(F.col("w.start")) * 1000).alias("win_start_ms"),
            "event_type",
            "n",
        )
    )


_HOPPING_SQL = """
WITH b AS (
  SELECT event_type,
    epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS h,
    unnest([0, 1]) AS back
  FROM events)
SELECT (h - back * 3600000)::BIGINT AS win_start_ms, event_type,
  COUNT(*)::BIGINT AS n
FROM b GROUP BY 1, 2
"""


def session_concurrency_hourly(spark, sf_dir):
    """Interval-overlap rollup: native session_window sessions (30-min
    gap) exploded onto every hour they overlap, then counted — the
    hypertable "concurrent sessions per bucket" query. The explode is
    bounded by each session's own span (like gapfill's axis), never a
    global calendar join."""
    ev = _load(spark, sf_dir, "events")
    sess = ev.groupBy(
        F.session_window(F.col("ts"), "30 minutes").alias("w"), F.col("user_id")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    # floor via the double-cast epoch (cast("long") would truncate
    # toward zero — wrong bucket for pre-1970 sessions, and
    # unix_timestamp's whole-second truncation has the same hazard on
    # negative sub-second starts)
    h0 = F.floor(F.col("w.start").cast("double") / F.lit(3600.0)).cast("long")
    # end is exclusive: a session ending exactly on the hour boundary
    # does not overlap the next hour. cast("double") keeps sub-second
    # precision (unix_timestamp truncates to whole seconds and would
    # disagree with the oracle when a session ends within the first
    # second of an hour)
    h1 = F.ceil(F.col("w.end").cast("double") / F.lit(3600.0)).cast("long") - 1
    hours = F.sequence(h0, F.greatest(h1, h0))
    return (
        sess.select(F.explode(hours).alias("hour_idx"))
        .groupBy("hour_idx")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .select((F.col("hour_idx") * 3600000).alias("hour_start_ms"), "n_sessions")
    )


_CONCURRENCY_SQL = """
WITH pts AS (
  SELECT user_id, ts,
    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
           OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800
         THEN 1 ELSE 0 END AS new_sess
  FROM events),
sess AS (
  SELECT user_id, sess_id, min(ts) AS t0,
         max(ts) + INTERVAL 30 MINUTE AS t1
  FROM (SELECT user_id, ts,
          SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM pts)
  GROUP BY user_id, sess_id),
hours AS (
  SELECT unnest(generate_series(
    CAST(floor(epoch(t0) / 3600) AS BIGINT),
    greatest(CAST(ceil(epoch(t1) / 3600.0) AS BIGINT) - 1,
             CAST(floor(epoch(t0) / 3600) AS BIGINT))
  )) AS hour_idx
  FROM sess)
SELECT (hour_idx * 3600000)::BIGINT AS hour_start_ms,
  COUNT(*)::BIGINT AS n_sessions
FROM hours GROUP BY 1
"""


def feature_hashing_events(spark, sf_dir):
    """Hashing-trick featurization of (event_type, user_id) into a
    1024-dim sparse space — vocabulary-free, map-only, md5-portable."""
    from henbun_spark.operators import text as text_ops

    ev = _load(spark, sf_dir, "events")
    out = text_ops.hashed_features(
        ev, ["event_type", "user_id"], "event_id", n_features=1024
    )
    return out.select(
        "event_id",
        F.element_at("idx", 1).alias("idx_type"),
        F.element_at("sign", 1).alias("sign_type"),
        F.element_at("idx", 2).alias("idx_user"),
        F.element_at("sign", 2).alias("sign_user"),
    )


def _feature_hash_sql() -> str:
    def pair(col_name, expr, idx_alias, sign_alias):
        h = f"md5('fh' || '|' || '{col_name}' || '|' || coalesce(CAST({expr} AS VARCHAR), chr(0)))"
        nib = "instr('0123456789abcdef', substr({h}, {p}, 1)) - 1"
        idx6 = " + ".join(
            f"((instr('0123456789abcdef', substr({h}, {j + 1}, 1)) - 1) * {16 ** (5 - j)})"
            for j in range(6)
        )
        sgn = f"(((instr('0123456789abcdef', substr({h}, 7, 1)) - 1) % 2) * 2 - 1)"
        return (
            f"CAST(({idx6}) % 1024 AS INT) AS {idx_alias}",
            f"CAST({sgn} AS INT) AS {sign_alias}",
        )

    i1, s1 = pair("event_type", "event_type", "idx_type", "sign_type")
    i2, s2 = pair("user_id", "user_id", "idx_user", "sign_user")
    return f"SELECT event_id, {i1}, {s1}, {i2}, {s2} FROM events"


def equidepth_histogram(spark, sf_dir):
    """Equi-depth (quantile-bucketed) histogram of event values per
    type — the optimizer-statistics histogram as a query, built WITHOUT
    `ntile() OVER (PARTITION BY event_type ...)`: event_type is
    low-cardinality, so that window sorts ~1/|types| of the table in ONE
    task at 100 TB. Instead the bucket id comes from the IN-PLAN binned
    per-key rank (`relational.keyed_prefix_sum` in rank mode: sampled
    equi-depth value bins -> map-side cell counts -> in-plan broadcast
    offsets -> within-cell running count; one data shuffle, no driver
    round-trip, no pinned partitioning) and `relational.ntile_from_rank`,
    pure Column math that reproduces ANSI ntile bucket ids bitwise — so
    the DuckDB ntile oracle still hash-matches while every task sorts
    only its bin slice."""
    from henbun_spark.operators import relational

    ev = _load(spark, sf_dir, "events").select("event_type", "value", "event_id")
    ranked = relational.keyed_prefix_sum(
        ev,
        "event_type",
        ["value", "event_id"],
        out_name="rk",
        total_name="__n",  # per-type totals ride the offset broadcast: no extra scan
    )
    return (
        ranked.withColumn(
            "bucket", relational.ntile_from_rank(F.col("rk"), F.col("__n"), 8)
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
    )


_EQUIDEPTH_SQL = """
SELECT event_type, bucket, COUNT(*)::BIGINT AS n,
  ROUND(MIN(value), 6) AS lo, ROUND(MAX(value), 6) AS hi
FROM (
  SELECT event_type, value,
    ntile(8) OVER (PARTITION BY event_type ORDER BY value, event_id) AS bucket
  FROM events)
GROUP BY 1, 2
"""


def curriculum_order_docs(spark, sf_dir):
    """Deterministic curriculum ordering for training (short->long
    length curriculum): equi-depth difficulty LEVELS from the ANSI-ntile
    bucket math over the in-plan GLOBAL binned rank (`key_cols=[]` —
    never a partition-less `ntile()` window, which moves the whole
    corpus to one task), then a deterministic md5 shuffle WITHIN each
    level (position from the md5-bucketed per-level rank — sources
    interleave with zero RNG state, reproducible across reruns/cluster
    sizes). Training order = (level ASC, pos ASC)."""
    from henbun_spark.operators import relational

    docs = _load(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    ranked = relational.keyed_prefix_sum(
        docs, [], ["n_chars", "doc_id"], out_name="rk", total_name="__n"
    )
    lev = ranked.withColumn(
        "level", relational.ntile_from_rank(F.col("rk"), F.col("__n"), 10)
    )
    with_h = lev.withColumn(
        "__h", F.md5(F.concat(F.lit("cur|"), F.col("doc_id").cast("string")))
    )
    pos = relational.md5_bucketed_prefix_sum(
        with_h, ["level"], "__h", "doc_id", None, out_name="pos"
    )
    return pos.select("doc_id", "source", "level", "pos")


_CURRICULUM_SQL = """
WITH r AS (
  SELECT doc_id, source,
    CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS INT) AS level,
    md5('cur|' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents)
SELECT doc_id, source, level,
  row_number() OVER (PARTITION BY level ORDER BY h, doc_id)::BIGINT AS pos
FROM r
"""


def quality_topq_per_source(spark, sf_dir):
    """Per-domain quality filtering (the FineWeb/CCNet-style curation
    step "keep the top 30% of each source by quality"): heuristic
    quality score (pure Column math, `text.quality_score`), floor-
    quantized to 1e-6 so the rank order is bit-deterministic
    cross-engine, then a per-source rank from the IN-PLAN binned keyed
    rank (never a per-source `row_number()` window, which sorts a whole
    source in one task at 100 TB); keep rank > n - ceil(0.3 * n) in
    (quality ASC, doc_id ASC) order — the top-30% boundary is exact,
    not approximate, and survives any partitioning."""
    from henbun_spark.operators import relational, text

    docs = _load(spark, sf_dir, "documents")
    scored = text.quality_score(docs).select(
        "doc_id",
        "source",
        (F.floor(F.col("quality") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "q"
        ),
    )
    ranked = relational.keyed_prefix_sum(
        scored, "source", ["q", "doc_id"], out_name="rk", total_name="n"
    )
    kept = ranked.where(
        F.col("rk") > F.col("n") - F.ceil(F.lit(0.3) * F.col("n"))
    )
    return kept.select("doc_id", "source", F.col("q").alias("quality"))


_QUALITY_TOPQ_SQL = """
WITH t AS (
  SELECT doc_id, source, text,
    list_filter(string_split(text, ' '), x -> x <> '') AS toks,
    length(text) AS n_chars
  FROM documents),
s AS (
  SELECT doc_id, source,
    floor((
      0.4 * least(n_chars / 500.0, 1.0)
      + 0.3 * (1 - (n_chars - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                     / greatest(n_chars, 1))
      + 0.3 * least(
          len(list_filter(toks,
            x -> list_contains(['the','a','of','and','to','in','is','on','for','with'], x)))
          / greatest(len(toks), 1) / 0.5, 1.0)
    ) * 1000000.0 + 0.5) / 1000000.0 AS q
  FROM t),
r AS (
  SELECT doc_id, source, q,
    row_number() OVER (PARTITION BY source ORDER BY q, doc_id) AS rk,
    count(*) OVER (PARTITION BY source) AS n
  FROM s)
SELECT doc_id, source, q AS quality
FROM r WHERE rk > n - CEIL(0.3 * n)
"""


def length_quantiles_by_source(spark, sf_dir):
    """Per-source document-length quantiles (p10/p50/p90 of n_chars) —
    the drift report curation runs per ingest to catch a source whose
    length profile shifted (truncation bugs, boilerplate floods).
    n_chars is the canonical duplicate-heavy integer column, so this
    rides `keyed_percentiles_exact`'s ONE-JOB histogram fast path
    (per-value counts bounded by |distinct lengths| x |sources|, driver
    order-statistics math, bitwise quantile_cont interpolation)."""
    from henbun_spark.operators import relational

    docs = _load(spark, sf_dir, "documents")
    return relational.keyed_percentiles_exact(
        docs, "source", "n_chars", [0.1, 0.5, 0.9]
    ).select("source", "p", F.col("value").alias("q_chars"))


_LENGTH_QUANTILES_SQL = """
WITH q AS (
  SELECT source,
    quantile_cont(n_chars, 0.1) AS q10,
    quantile_cont(n_chars, 0.5) AS q50,
    quantile_cont(n_chars, 0.9) AS q90
  FROM documents GROUP BY source)
SELECT source, 0.1 AS p, q10 AS q_chars FROM q
UNION ALL SELECT source, 0.5, q50 FROM q
UNION ALL SELECT source, 0.9, q90 FROM q
"""


def robust_scale_value(spark, sf_dir):
    """Robust (median/MAD) feature scaling per event_type — the
    outlier-immune standardization tree models and monitoring pipelines
    use where mean/std would be dragged by the tails: z = (v - med) /
    (1.4826 * MAD), both statistics from ONE `keyed_median_mad`
    histogram job, floor-quantized at each stage so the scaled value is
    engine-identical. Groups with MAD = 0 (constant-value types) are
    excluded in both engines rather than emitting infinities."""
    import math

    from henbun_spark.operators import relational

    ev = _load(spark, sf_dir, "events")

    def q(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    mm = relational.keyed_median_mad(
        ev,
        "event_type",
        "value",
        med_transform=lambda m: math.floor(m * 1e6 + 0.5) / 1e6,
    ).select("event_type", "med", q(F.col("mad")).alias("mad"))
    return (
        ev.join(F.broadcast(mm), "event_type")
        .where(F.col("mad") > 0)
        .select(
            "event_id",
            "event_type",
            q(
                (F.col("value") - F.col("med"))
                / (F.lit(1.4826) * F.col("mad"))
            ).alias("z"),
        )
    )


_ROBUST_SCALE_SQL = """
WITH med AS (
  SELECT event_type,
    floor(quantile_cont(value, 0.5) * 1000000.0 + 0.5) / 1000000.0 AS med
  FROM events GROUP BY 1),
mad AS (
  SELECT events.event_type, MAX(med) AS med,
    floor(quantile_cont(abs(value - med), 0.5) * 1000000.0 + 0.5)
      / 1000000.0 AS mad
  FROM events JOIN med USING (event_type)
  GROUP BY events.event_type)
SELECT event_id, events.event_type,
  floor((value - med) / (1.4826 * mad) * 1000000.0 + 0.5) / 1000000.0 AS z
FROM events JOIN mad USING (event_type)
WHERE mad > 0
"""


def source_kl_matrix(spark, sf_dir):
    """Pairwise source-domain KL divergence over hashed-unigram models
    (the mixing-decision similarity matrix — DSIR's modeling applied
    source-vs-source): add-one smoothing, exact decimal term sums with
    the (T_a + B) division factored out so the bucket sum is
    order-independent and bit-reproducible, one corpus read."""
    from henbun_spark.operators import selection

    docs = _load(spark, sf_dir, "documents")
    return selection.source_kl_matrix(docs, "text", "source")


def _source_kl_sql() -> str:
    h = "md5('srcsim|' || g)"
    idx6 = " + ".join(
        f"((instr('0123456789abcdef', substr({h}, {j + 1}, 1)) - 1) * {16 ** (5 - j)})"
        for j in range(6)
    )
    return f"""
WITH toks AS (
  SELECT source AS src,
         list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM documents),
grams AS (SELECT src, g FROM toks, UNNEST(tk) AS u(g)),
cnt AS (
  SELECT src, ({idx6}) % 4096 AS b, COUNT(*)::BIGINT AS c
  FROM grams GROUP BY 1, 2),
tot AS (SELECT src, SUM(c)::BIGINT AS t FROM cnt GROUP BY 1),
grid AS (
  SELECT tot.src, gb.b, tot.t, COALESCE(cnt.c, 0) AS c
  FROM tot CROSS JOIN (SELECT unnest(range(4096)) AS b) gb
  LEFT JOIN cnt ON cnt.src = tot.src AND cnt.b = gb.b),
lp AS (
  SELECT src, b, t, c + 1 AS c1,
    CAST(floor((ln(c + 1) - ln(t + 4096)) * 1000000.0 + 0.5) / 1000000.0
         AS DECIMAL(38,6)) AS lp
  FROM grid)
SELECT a.src AS src_a, b.src AS src_b,
  floor(CAST(SUM(a.c1 * (a.lp - b.lp)) AS DOUBLE) / (MAX(a.t) + 4096)
        * 1000000.0 + 0.5) / 1000000.0 AS kl
FROM lp a JOIN lp b ON a.b = b.b AND a.src <> b.src
GROUP BY 1, 2
"""


def vocab_coverage_curve(spark, sf_dir):
    """Tokenizer-design analytic: what fraction of all corpus token
    OCCURRENCES is covered by the top-N vocabulary, at N in {100, 1000,
    5000}? Token frequencies are one map-side-combinable groupBy
    (shuffle bounded by |vocab|, not tokens); the frequency rank comes
    from the IN-PLAN GLOBAL binned rank over (freq DESC, token) —
    web-scale vocabularies are exactly the table a partition-less
    `row_number()` window would sort in one task — and coverage is a
    conditional sum per cutoff (exact integer sums; the ratio floor-quantizes to 1e-6
    so the boundary is engine-identical)."""
    from henbun_spark.operators import relational

    docs = _load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))
        ).alias("token")
    )
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    ranked = relational.keyed_prefix_sum(
        vocab, [], [F.desc("freq"), "token"], out_name="rk"
    )
    cutoffs = [100, 1000, 5000]
    agg = ranked.agg(
        F.sum("freq").alias("tot"),
        *[
            F.sum(F.when(F.col("rk") <= c, F.col("freq")).otherwise(0)).alias(
                f"c{c}"
            )
            for c in cutoffs
        ],
    )
    # one explode over a struct array, not a per-cutoff union: a union
    # would plan the whole rank/agg subtree once per cutoff
    return agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).cast("int").alias("rank_cutoff"),
                        (
                            F.floor(
                                F.col(f"c{c}") / F.col("tot") * F.lit(1e6)
                                + F.lit(0.5)
                            )
                            / 1e6
                        ).alias("coverage"),
                    )
                    for c in cutoffs
                ]
            )
        ).alias("r")
    ).select("r.*")


_VOCAB_COVERAGE_SQL = """
WITH tok AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
  FROM documents),
f AS (SELECT token, COUNT(*) AS freq FROM tok GROUP BY 1),
r AS (
  SELECT freq,
    row_number() OVER (ORDER BY -freq, token) AS rk
  FROM f),
c(rank_cutoff) AS (SELECT unnest([100, 1000, 5000])),
t AS (SELECT SUM(freq) AS tot FROM r)
SELECT CAST(rank_cutoff AS INT) AS rank_cutoff,
  floor(SUM(CASE WHEN rk <= rank_cutoff THEN freq ELSE 0 END) / MAX(t.tot)
        * 1000000.0 + 0.5) / 1000000.0 AS coverage
FROM r CROSS JOIN c CROSS JOIN t
GROUP BY rank_cutoff
"""


def dedup_yield_curve(spark, sf_dir):
    """Dedup threshold-tuning analytic: pair counts per Jaccard bucket
    (floor(j * 10) / 10, from 0.1 up) over the same inverted-index
    candidate generation and max_df skew cap as `dedup_jaccard` — the
    yield curve that answers "how many pairs would a 0.5 vs 0.7
    threshold drop" BEFORE committing to a full dedup pass. Bucket
    boundaries are exact in both engines: jaccard is the same integer
    division in IEEE doubles, so floor(j * 10) cannot disagree."""
    from henbun_spark.operators import dedup

    docs = _load(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", n=5, threshold=0.1, max_df=100
    )
    return (
        pairs.withColumn(
            "bucket", F.floor(F.col("jaccard") * 10) / F.lit(10.0)
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


_DEDUP_YIELD_SQL = """
WITH sh0 AS (
  SELECT DISTINCT doc_id, substr(text, i, 5) AS s
  FROM (SELECT doc_id, text,
          unnest(generate_series(1, greatest(length(text)-4, 1))) AS i
        FROM documents)
), rare AS (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= 100),
sh AS (SELECT sh0.* FROM sh0 JOIN rare USING (s)),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT c::DOUBLE / (za.sz + zb.sz - c) AS jaccard
  FROM common
  JOIN sz za ON za.doc_id = id_a
  JOIN sz zb ON zb.doc_id = id_b
  WHERE c::DOUBLE / (za.sz + zb.sz - c) >= 0.1
)
SELECT floor(jaccard * 10) / 10.0 AS bucket, COUNT(*)::BIGINT AS n_pairs
FROM jac GROUP BY 1
"""


def cross_source_dups(spark, sf_dir):
    """Cross-source duplicate overlap matrix ("how much of dump B is
    already in dump A"): distinct (8-token-span md5, source) pairs,
    then a fingerprint-keyed self-join with src_a < src_b —
    per-fingerprint expansion bounded by |sources|, output bounded by
    source pairs; no all-pairs stage. The report that decides whether a
    new crawl snapshot is worth ingesting before any dedup runs."""
    from henbun_spark.operators import dedup

    docs = _load(spark, sf_dir, "documents")
    return dedup.cross_source_duplicates(docs, "text", "source")


_CROSS_SOURCE_SQL = """
WITH toks AS (
  SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents),
p AS (
  SELECT DISTINCT source, md5(array_to_string(t[g.i:g.i+7], ' ')) AS fp
  FROM toks,
    LATERAL (SELECT unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS i) g),
j AS (
  SELECT a.source AS src_a, b.source AS src_b, a.fp
  FROM p a JOIN p b ON a.fp = b.fp AND a.source < b.source)
SELECT src_a, src_b, COUNT(DISTINCT fp) AS n_shared
FROM j GROUP BY 1, 2
"""


def ewma_user_value(spark, sf_dir):
    """Per-user EWMA of event values (alpha=0.3): the sequential-fold
    option-(a) shape — one keyed shuffle, array_sort, codegen fold; the
    oracle mirrors the identical recurrence with list_reduce."""
    from henbun_spark.operators import relational

    ev = _load(spark, sf_dir, "events")
    return relational.ewma_last(ev, "ts", "user_id", "value", alpha=0.3)


_EWMA_SQL = """
WITH g AS (
  SELECT user_id, COUNT(*)::BIGINT AS n_obs,
    list(value ORDER BY ts, value) AS vals
  FROM events GROUP BY user_id)
SELECT user_id, n_obs,
  ROUND(list_reduce(vals, (acc, v) -> 0.3 * v + 0.7 * acc), 6) AS ewma
FROM g
"""


def gapfill_hourly_locf(spark, sf_dir):
    """Hypertable-style hourly rollup with gap filling + LOCF per user:
    per-key dense bucket axis (sequence+explode bounded by each key's
    span), count/decimal-sum aggregation, carried-forward values via an
    ignorenulls last() window."""
    from henbun_spark.operators import relational

    ev = _load(spark, sf_dir, "events")
    return relational.gapfill_locf(ev, "ts", "user_id", "value", 3600)


_GAPFILL_SQL = """
WITH b AS (
  SELECT user_id,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket_epoch,
         COUNT(*)::BIGINT AS n_obs,
         CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(38,6))) AS DOUBLE) AS vsum
  FROM events GROUP BY 1, 2),
rng AS (SELECT user_id, min(bucket_epoch) AS h0, max(bucket_epoch) AS h1
        FROM b GROUP BY 1),
axis AS (SELECT user_id, unnest(generate_series(h0, h1, 3600)) AS bucket_epoch
         FROM rng)
SELECT axis.user_id, axis.bucket_epoch,
  COALESCE(b.n_obs, 0)::BIGINT AS n_events,
  last_value(b.vsum IGNORE NULLS) OVER (
    PARTITION BY axis.user_id ORDER BY axis.bucket_epoch
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf,
  (b.n_obs IS NULL) AS filled
FROM axis LEFT JOIN b USING (user_id, bucket_epoch)
"""


def _with_pii(docs):
    """Deterministically inject synthetic PII into the corpus text (the
    testdata has none) — mirrored literally in the oracle so both engines
    scrub identical inputs."""
    return docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" reach user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" call 415-555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" host 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".1"),
                ),
            ).otherwise(F.lit("")),
        ),
    )


def pii_redact(spark, sf_dir):
    """PII scan + redaction over the (synthetically PII-enriched) corpus:
    pure-Column regexp counts and chained replacements — a map-only pass,
    zero shuffles."""
    from henbun_spark.operators import text as text_ops

    docs = _with_pii(_load(spark, sf_dir, "documents"))
    return text_ops.pii_scrub(docs, "text", "doc_id")


_PII_INJECT_SQL = """
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 5 = 0
         THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com'
         ELSE '' END
    || CASE WHEN doc_id % 7 = 0
         THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         ELSE '' END
    || CASE WHEN doc_id % 11 = 0
         THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
         ELSE '' END AS text
  FROM documents
"""

_PII_SQL = f"""
WITH enriched AS ({_PII_INJECT_SQL})
SELECT doc_id,
  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))::BIGINT AS n_email,
  len(regexp_extract_all(text, '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b'))::BIGINT AS n_ip,
  len(regexp_extract_all(text, '\\b\\d{{3}}-\\d{{3}}-\\d{{4}}\\b'))::BIGINT AS n_phone,
  regexp_replace(
    regexp_replace(
      regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[EMAIL]', 'g'),
      '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b', '[IP]', 'g'),
    '\\b\\d{{3}}-\\d{{3}}-\\d{{4}}\\b', '[PHONE]', 'g') AS redacted
FROM enriched
"""


def _md5_prefix_sql(expr: str, salt: str, ndigits: int = 6) -> str:
    """First `ndigits` hex chars of md5(salt|expr) as an integer — DuckDB
    twin of sampling._hash_bucket's conv(substring(md5, 1, n), 16, 10)."""
    h = f"md5('{salt}' || '|' || CAST({expr} AS VARCHAR))"
    terms = [
        f"(instr('0123456789abcdef', substr({h}, {j + 1}, 1)) - 1) * {16 ** (ndigits - 1 - j)}"
        for j in range(ndigits)
    ]
    return "(" + " + ".join(terms) + ")"


def train_test_split_hash(spark, sf_dir):
    """Deterministic hash split of documents (the distributed Indexer,
    model.py:126-143): membership is a pure function of doc_id, stable
    under repartitioning/retries — audit-grade splits at 100 TB."""
    from henbun_spark.operators import sampling

    docs = _load(spark, sf_dir, "documents")
    return (
        sampling.hash_split(docs, "doc_id", test_pct=10)
        .groupBy("is_test")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


_TRAIN_TEST_SQL = f"""
SELECT ({_md5_prefix_sql('doc_id', 'split')} % 100) < 10 AS is_test,
  COUNT(*) AS n_docs, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
FROM documents
GROUP BY 1
"""


def split_leakage_report(spark, sf_dir):
    """Eval-set DECONTAMINATION report — the check every training
    pipeline owes its benchmarks: after the deterministic 90/10 hash
    split, which near-duplicate pairs CROSS the split (a train doc
    near-duplicating a held-out doc leaks the eval set into training)?
    Composition of two proven primitives: `sampling.hash_split` (pure
    md5 membership, stable under growth) x `dedup.minhash_lsh_pairs`
    (banded candidates, no all-pairs). Output: per-source (of the
    EVAL-side doc) crossing-pair count and distinct leaked eval docs —
    the table that decides whether to re-split or drop. Scale shape ==
    the LSH pass + two broadcast-joinable flag lookups; the split
    predicate is a pure Column, so nothing new shuffles. Runs with the
    same `max_bucket=500` skew cap as `dedup_minhash_lsh` (r10 —
    measurement-free at the driver SFs where no bucket exceeds 500,
    38x at the sf1 probe; the oracle applies the identical filter via
    the shared minhash CTE)."""
    from henbun_spark.operators import dedup, sampling

    docs = _load(spark, sf_dir, "documents")
    flags = sampling.hash_split(docs, "doc_id", test_pct=10).select(
        "doc_id", "source", "is_test"
    )
    pairs = dedup.minhash_lsh_pairs(
        docs, "text", "doc_id", n=8, bands=4, max_bucket=500
    )
    crossed = (
        pairs.join(
            flags.select(
                F.col("doc_id").alias("id_a"),
                F.col("is_test").alias("test_a"),
                F.col("source").alias("src_a"),
            ),
            "id_a",
        )
        .join(
            flags.select(
                F.col("doc_id").alias("id_b"),
                F.col("is_test").alias("test_b"),
                F.col("source").alias("src_b"),
            ),
            "id_b",
        )
        .where(F.col("test_a") != F.col("test_b"))
    )
    eval_id = F.when(F.col("test_a"), F.col("id_a")).otherwise(F.col("id_b"))
    eval_src = F.when(F.col("test_a"), F.col("src_a")).otherwise(
        F.col("src_b")
    )
    return (
        crossed.select(eval_id.alias("eval_id"), eval_src.alias("source"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_cross_pairs"),
            F.countDistinct("eval_id").alias("n_leaked_eval_docs"),
        )
    )


def _split_leakage_sql() -> str:
    return f"""
WITH pairs AS ({_MINHASH_SQL.strip()}),
fl AS (
  SELECT doc_id, source,
    ({_md5_prefix_sql('doc_id', 'split')} % 100) < 10 AS is_test
  FROM documents),
x AS (
  SELECT p.id_a, p.id_b, a.is_test AS ta, b.is_test AS tb,
         a.source AS sa, b.source AS sb
  FROM pairs p
  JOIN fl a ON p.id_a = a.doc_id
  JOIN fl b ON p.id_b = b.doc_id
  WHERE a.is_test <> b.is_test),
e AS (
  SELECT CASE WHEN ta THEN id_a ELSE id_b END AS eval_id,
         CASE WHEN ta THEN sa ELSE sb END AS source
  FROM x)
SELECT source, COUNT(*)::BIGINT AS n_cross_pairs,
  COUNT(DISTINCT eval_id)::BIGINT AS n_leaked_eval_docs
FROM e GROUP BY 1
"""


def sample_per_group(spark, sf_dir):
    """Deterministic k-per-group sample of events by md5 order — every
    run/engine picks identical rows (no RNG, one shuffle)."""
    from henbun_spark.operators import sampling

    ev = _load(spark, sf_dir, "events")
    return sampling.deterministic_sample_per_group(
        ev, ["event_type"], "event_id", k=5, distributed_ranks=True
    ).select("event_type", "event_id")


_SAMPLE_GROUP_SQL = """
SELECT event_type, event_id FROM (
  SELECT event_type, event_id,
    row_number() OVER (PARTITION BY event_type
                       ORDER BY md5('sample' || '|' || CAST(event_id AS VARCHAR)),
                                event_id) AS rn
  FROM events)
WHERE rn <= 5
"""


def pipeline_clean_corpus(spark, sf_dir):
    """End-to-end training-data prep composition — the thing this engine
    exists for: exact dedup (keep min id per text) -> quality score ->
    language ID -> token budget, aggregated per language over the kept
    high-quality docs. One groupBy(text) shuffle for dedup + one final
    tiny aggregate; every scoring step is whole-stage codegen in the same
    stage."""
    from henbun_spark.operators import dedup, text

    docs = _load(spark, sf_dir, "documents")
    kept = dedup.exact_dedup(docs, ["text"], "doc_id")
    scored = text.bpe_ish_token_count(text.lang_id(text.quality_score(kept)))
    return (
        scored.where(F.col("quality") >= 0.5)
        .groupBy("pred_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("token_estimate").cast("long")).alias("sum_tokens"),
            _dsum(F.col("quality"), "sum_quality"),
        )
    )


_PIPELINE_SQL = f"""
WITH kept AS (
  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text
), t AS (
  SELECT doc_id, text,
    list_filter(string_split(text, ' '), x -> x <> '') AS toks,
    length(text) AS n_chars
  FROM kept
), scored AS (
  SELECT doc_id, toks,
    0.4 * least(n_chars / 500.0, 1.0)
    + 0.3 * (1 - (n_chars - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                   / greatest(n_chars, 1))
    + 0.3 * least(
        len(list_filter(toks,
          x -> list_contains(['the','a','of','and','to','in','is','on','for','with'], x)))
        / greatest(len(toks), 1) / 0.5, 1.0) AS quality,
    (len(toks) + CAST(ceil(length(text) / 16.0) AS INT)) AS token_estimate
  FROM t
), langed AS (
  SELECT doc_id, quality, token_estimate,
  {_LANG_SCORES}
  FROM scored
), pred AS (
  SELECT doc_id, quality, token_estimate,
    CASE {_LANG_CASE} END AS pred_lang
  FROM (SELECT *, greatest(score_de, score_en, score_es, score_fr, score_zh)
          AS best FROM langed)
)
SELECT pred_lang, COUNT(*) AS n_docs,
  CAST(SUM(token_estimate) AS BIGINT) AS sum_tokens,
  {_sql_dsum('quality', 'sum_quality')}
FROM pred
WHERE quality >= 0.5
GROUP BY pred_lang
"""


# ---------------------------------------------------------------------------
# similarity search (embeddings table)
# ---------------------------------------------------------------------------

_DOT_SQL = (
    "list_reduce(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]),"
    " (acc, v) -> acc + v)"
)


def _cos_sql(a: str, b: str) -> str:
    return (
        f"{_DOT_SQL.format(a=a, b=b)} / "
        f"sqrt({_DOT_SQL.format(a=a, b=a)} * {_DOT_SQL.format(a=b, b=b)})"
    )


def sim_cosine_topk(spark, sf_dir):
    """Exact brute-force top-k (query side broadcast; corpus scanned once).
    Fold order of the dot product matches the oracle bit-for-bit."""
    from henbun_spark.operators import similarity

    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return similarity.cosine_topk(emb, queries, k=3)


_COSINE_TOPK_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    {_cos_sql('qv', 'v')} AS cos
  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id)
SELECT query_id, neighbor_id, cos, rank::INT AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored)
WHERE rank <= 3
"""


#: r7 PQ/IVF oracle: the exact top-3 (same SQL as sim_cosine_topk) with
#: the recall-bound boolean appended — TRUE is the contract; a broken
#: trained path flips the Spark side and fails the hash.
_ANN_RECALL_SQL = f"""
SELECT t.*, TRUE AS recall_ok FROM ({_COSINE_TOPK_SQL.strip()}) t
"""


def emb_near_dup(spark, sf_dir):
    """Embedding near-dup brute-force baseline: bounded O(n^2) cosine self-join kept as the small-SF ground truth for the LSH scale path."""
    from henbun_spark.operators import dedup

    emb = _load(spark, sf_dir, "embeddings")
    return dedup.embedding_near_dup_pairs(emb, "embedding", "vec_id", threshold=0.2)


_EMB_NEAR_DUP_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cos_sql('a.v', 'b.v')} AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {_cos_sql('a.v', 'b.v')} >= 0.2
"""


# banded sign-random-projection LSH near-dup: the 100 TB plan of record.
# The oracle mirrors the exact bucketing (plane coefficients as e-notation
# literals -> parsed as DOUBLE, same fold order) so candidates and the
# cosine refine are bit-identical engine-to-engine — the same pattern that
# makes simhash_near_pairs hash-exact.
# n_planes=5 -> 32 buckets/band: measured 2x faster than 4 planes at
# sf0.1 (candidate volume ~ n^2 / 2^planes per band) at slightly lower
# wide-angle recall; near-dup recall at high thresholds is unaffected.
_EMB_LSH_BANDS, _EMB_LSH_NPLANES, _EMB_LSH_SEED, _EMB_LSH_DIM = 3, 5, 7, 64


def emb_near_dup_lsh(spark, sf_dir):
    """Banded sign-random-projection LSH near-dup pairs + exact cosine refine — the 100 TB plan of record; plane literals make it hash-exact."""
    from henbun_spark.operators import dedup

    emb = _load(spark, sf_dir, "embeddings")
    return dedup.embedding_near_dup_lsh(
        emb,
        "embedding",
        "vec_id",
        threshold=0.2,
        n_planes=_EMB_LSH_NPLANES,
        bands=_EMB_LSH_BANDS,
        seed=_EMB_LSH_SEED,
        dim=_EMB_LSH_DIM,
    )


def _emb_lsh_bucket_sql(planes_band: np.ndarray) -> str:
    terms = []
    for j, plane in enumerate(planes_band):
        arr = "[" + ", ".join(f"{float(x):.17e}" for x in plane) + "]"
        dot = _DOT_SQL.format(a="v", b=arr)
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")::BIGINT"


def _emb_lsh_sql() -> str:
    planes = np.random.default_rng(_EMB_LSH_SEED).standard_normal(
        (_EMB_LSH_BANDS, _EMB_LSH_NPLANES, _EMB_LSH_DIM)
    )
    buckets = ",\n  ".join(
        f"{_emb_lsh_bucket_sql(planes[bi])} AS b{bi}"
        for bi in range(_EMB_LSH_BANDS)
    )
    stacked = "\n  UNION ALL ".join(
        f"SELECT vec_id, {bi} AS band, b{bi} AS bucket FROM bk"
        for bi in range(_EMB_LSH_BANDS)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bk AS (SELECT vec_id,
  {buckets}
  FROM e),
st AS ({stacked}),
cands AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM st a JOIN st b ON a.band = b.band AND a.bucket = b.bucket
    AND a.vec_id < b.vec_id),
units AS (
  SELECT vec_id,
    list_transform(v, x -> x / sqrt({_DOT_SQL.format(a='v', b='v')})) AS u
  FROM e)
SELECT id_a, id_b, {_DOT_SQL.format(a='ea.u', b='eb.u')} AS cos
FROM cands
JOIN units ea ON ea.vec_id = id_a
JOIN units eb ON eb.vec_id = id_b
WHERE {_DOT_SQL.format(a='ea.u', b='eb.u')} >= 0.2
"""


_EMB_LSH_SQL = _emb_lsh_sql()


# ---------------------------------------------------------------------------
# scalar-function surface: densities & transforms over lineitem
# (reference: /root/reference/Henbun/densities.py, transforms.py)
# ---------------------------------------------------------------------------

def density_gaussian(spark, sf_dir):
    """Gaussian log-density (densities.py D1) over lineitem as whole-stage-codegen Column math, grouped decimal-exact sums."""
    from henbun_spark import densities

    li = _wide(_load(spark, sf_dir, "lineitem"))
    logp = densities.gaussian(F.col("l_quantity"), 25.0, 100.0)
    return li.groupBy("l_returnflag").agg(_dsum(logp, "sum_logp"))


_DENS_GAUSS_SQL = f"""
SELECT l_returnflag,
  {_sql_dsum(f'{-HALF_LOG_2PI!r} - 0.5 * ln(100.0) - 0.5 * (25.0 - l_quantity) * (25.0 - l_quantity) / 100.0', 'sum_logp')}
FROM lineitem GROUP BY l_returnflag
"""


def density_poisson(spark, sf_dir):
    """Exercises the lgamma pandas-UDF path (Spark SQL has no lgamma)."""
    from henbun_spark import densities

    li = _wide(_load(spark, sf_dir, "lineitem"))
    logp = densities.poisson(F.lit(25.0), F.col("l_quantity"))
    return li.groupBy("l_returnflag").agg(_dsum(logp, "sum_logp"))


_DENS_POISSON_SQL = f"""
SELECT l_returnflag,
  {_sql_dsum('l_quantity * ln(25.0) - 25.0 - lgamma(l_quantity + 1.0)', 'sum_logp')}
FROM lineitem GROUP BY l_returnflag
"""


def density_student_t(spark, sf_dir):
    """Student-t log-density (D7) — exercises the codegen Lanczos lgamma twice per row."""
    from henbun_spark import densities

    li = _wide(_load(spark, sf_dir, "lineitem"))
    logp = densities.student_t(F.col("l_quantity"), 25.0, 10.0, 4.0)
    return li.groupBy("l_returnflag").agg(_dsum(logp, "sum_logp"))


_DENS_STUDENT_SQL = f"""
SELECT l_returnflag,
  {_sql_dsum(
      f"lgamma(2.5) - lgamma(2.0) - 0.5 * (ln(100.0) + ln(4.0) + {LOG_PI!r})"
      " - 2.5 * ln(1.0 + 0.25 * ((l_quantity - 25.0) / 10.0)"
      " * ((l_quantity - 25.0) / 10.0))",
      'sum_logp')}
FROM lineitem GROUP BY l_returnflag
"""


def density_lognormal(spark, sf_dir):
    """Log-normal log-density (D2) as Column math."""
    from henbun_spark import densities

    li = _wide(_load(spark, sf_dir, "lineitem"))
    logp = densities.lognormal(F.col("l_quantity"), 3.0, 0.5)
    return li.groupBy("l_returnflag").agg(_dsum(logp, "sum_logp"))


_DENS_LOGNORMAL_SQL = f"""
SELECT l_returnflag,
  {_sql_dsum(f'{-HALF_LOG_2PI!r} - 0.5 * ln(0.5) - 0.5 * (3.0 - ln(l_quantity)) * (3.0 - ln(l_quantity)) / 0.5 - ln(l_quantity)', 'sum_logp')}
FROM lineitem GROUP BY l_returnflag
"""


def density_bernoulli(spark, sf_dir):
    """Bernoulli log-likelihood (D3) via a CASE branch on the outcome."""
    from henbun_spark import densities

    li = _wide(_load(spark, sf_dir, "lineitem"))
    p = F.col("l_discount") + F.lit(0.2)
    y = (F.col("l_quantity") > 25.0).cast("double")
    return li.groupBy("l_returnflag").agg(_dsum(densities.bernoulli(p, y), "sum_logp"))


_DENS_BERNOULLI_SQL = f"""
SELECT l_returnflag,
  {_sql_dsum('CASE WHEN (CASE WHEN l_quantity > 25.0 THEN 1.0 ELSE 0.0 END) = 1.0 THEN ln(l_discount + 0.2) ELSE ln(1.0 - (l_discount + 0.2)) END', 'sum_logp')}
FROM lineitem GROUP BY l_returnflag
"""


def density_exponential(spark, sf_dir):
    """Exponential log-density (D5) as Column math."""
    from henbun_spark import densities

    li = _wide(_load(spark, sf_dir, "lineitem"))
    logp = densities.exponential(F.lit(5.0), F.col("l_quantity"))
    return li.groupBy("l_returnflag").agg(_dsum(logp, "sum_logp"))


_DENS_EXPONENTIAL_SQL = f"""
SELECT l_returnflag,
  {_sql_dsum('-l_quantity / 5.0 - ln(5.0)', 'sum_logp')}
FROM lineitem GROUP BY l_returnflag
"""


def density_gamma(spark, sf_dir):
    """Gamma log-density (D6) — codegen lgamma path."""
    from henbun_spark import densities

    li = _wide(_load(spark, sf_dir, "lineitem"))
    logp = densities.gamma(3.0, 2.0, F.col("l_quantity"))
    return li.groupBy("l_returnflag").agg(_dsum(logp, "sum_logp"))


_DENS_GAMMA_SQL = f"""
SELECT l_returnflag,
  {_sql_dsum('-3.0 * ln(2.0) - lgamma(3.0) + 2.0 * ln(l_quantity) - l_quantity / 2.0', 'sum_logp')}
FROM lineitem GROUP BY l_returnflag
"""


def density_beta(spark, sf_dir):
    """Beta log-density (D8) with the reference's [1e-6, 1-1e-6] clip."""
    from henbun_spark import densities

    li = _wide(_load(spark, sf_dir, "lineitem"))
    logp = densities.beta(2.0, 3.0, F.col("l_discount"))
    return li.groupBy("l_returnflag").agg(_dsum(logp, "sum_logp"))


_DENS_BETA_SQL = f"""
SELECT l_returnflag,
  {_sql_dsum('(2.0 - 1.0) * ln(least(greatest(l_discount, 1e-6), 1.0 - 1e-6))'
             ' + (3.0 - 1.0) * ln(1.0 - least(greatest(l_discount, 1e-6), 1.0 - 1e-6))'
             ' + lgamma(5.0) - lgamma(2.0) - lgamma(3.0)', 'sum_logp')}
FROM lineitem GROUP BY l_returnflag
"""


def density_laplace(spark, sf_dir):
    """Laplace log-density (D9) as Column math."""
    from henbun_spark import densities

    li = _wide(_load(spark, sf_dir, "lineitem"))
    logp = densities.laplace(25.0, 10.0, F.col("l_quantity"))
    return li.groupBy("l_returnflag").agg(_dsum(logp, "sum_logp"))


_DENS_LAPLACE_SQL = f"""
SELECT l_returnflag,
  {_sql_dsum('-abs(25.0 - l_quantity) / 10.0 - ln(2.0 * 10.0)', 'sum_logp')}
FROM lineitem GROUP BY l_returnflag
"""


def density_bimixture(spark, sf_dir):
    """Stable log-sum-exp two-component mixture (densities.py D11)."""
    from henbun_spark import densities

    li = _wide(_load(spark, sf_dir, "lineitem"))
    x = F.col("l_quantity")
    logp0 = densities.gaussian(x, 20.0, 25.0)
    logp1 = densities.gaussian(x, 35.0, 100.0)
    logp = densities.bimixture(0.3, logp0, logp1)
    return li.groupBy("l_returnflag").agg(_dsum(logp, "sum_logp"))


_BIMIX_P0 = f"({-HALF_LOG_2PI!r} - 0.5 * ln(25.0) - 0.5 * (20.0 - l_quantity) * (20.0 - l_quantity) / 25.0 + ln(0.3))"
_BIMIX_P1 = f"({-HALF_LOG_2PI!r} - 0.5 * ln(100.0) - 0.5 * (35.0 - l_quantity) * (35.0 - l_quantity) / 100.0 + ln(1.0 - 0.3))"
_DENS_BIMIX_SQL = f"""
SELECT l_returnflag,
  {_sql_dsum(f'greatest({_BIMIX_P0}, {_BIMIX_P1})'
             f' + ln(exp({_BIMIX_P0} - greatest({_BIMIX_P0}, {_BIMIX_P1}))'
             f'    + exp({_BIMIX_P1} - greatest({_BIMIX_P0}, {_BIMIX_P1})))', 'sum_logp')}
FROM lineitem GROUP BY l_returnflag
"""


def transform_exp(spark, sf_dir):
    """Exp bijector (transforms.py T2): forward + log_jacobian surface."""
    from henbun_spark import transforms

    li = _wide(_load(spark, sf_dir, "lineitem"))
    t = transforms.Exp()
    x = F.col("l_discount") * 10.0
    return li.groupBy("l_returnflag").agg(
        _dsum(t.forward(x), "sum_forward"),
        _dsum(t.log_jacobian(x), "sum_logjac"),
    )


_TRANSFORM_EXP_SQL = f"""
SELECT l_returnflag,
  {_sql_dsum('exp(l_discount * 10.0) + 1e-06', 'sum_forward')},
  {_sql_dsum('l_discount * 10.0', 'sum_logjac')}
FROM lineitem GROUP BY l_returnflag
"""


def priors_logp(spark, sf_dir):
    """Column-mode prior surface (priors.py §2.5): per-row log densities of
    Normal/Gaussian/Laplace/Uniform priors on a derived column, aggregated
    by Spark's partial+final sum (the distributed reduce_sum)."""
    from henbun_spark import priors

    li = _wide(_load(spark, sf_dir, "lineitem"))
    x = F.col("l_discount") * 10.0 - 0.5
    return li.groupBy("l_returnflag").agg(
        _dsum(priors.Normal().logp(x), "sum_normal"),
        _dsum(priors.Gaussian(1.0, 4.0).logp(x), "sum_gaussian"),
        _dsum(priors.Laplace(0.0, 2.0).logp(x), "sum_laplace"),
        _dsum(priors.Uniform(-1.0, 1.0).logp(x), "sum_uniform"),
    )


_PRIORS_SQL = f"""
SELECT l_returnflag,
  {_sql_dsum(f'{-HALF_LOG_2PI!r} - 0.5 * ln(1.0) - 0.5 * (0.0 - (l_discount * 10.0 - 0.5)) * (0.0 - (l_discount * 10.0 - 0.5)) / 1.0', 'sum_normal')},
  {_sql_dsum(f'{-HALF_LOG_2PI!r} - 0.5 * ln(4.0) - 0.5 * (1.0 - (l_discount * 10.0 - 0.5)) * (1.0 - (l_discount * 10.0 - 0.5)) / 4.0', 'sum_gaussian')},
  {_sql_dsum('-abs(0.0 - (l_discount * 10.0 - 0.5)) / 2.0 - ln(2.0 * 2.0)', 'sum_laplace')},
  {_sql_dsum(f'{-float(np.log(2.0))!r}', 'sum_uniform')}
FROM lineitem GROUP BY l_returnflag
"""


def transform_softplus(spark, sf_dir):
    """Constraint-bijector surface (Log1pe/Logistic, transforms.py T3/T4)
    applied as whole-stage-codegen Column math."""
    from henbun_spark import transforms

    li = _wide(_load(spark, sf_dir, "lineitem"))
    sp = transforms.Log1pe().forward(F.col("l_discount") * 10.0)
    lg = transforms.Logistic(0.0, 2.0).forward(F.col("l_quantity") - 25.0)
    return li.groupBy("l_returnflag").agg(
        _dsum(sp, "sum_softplus"), _dsum(lg, "sum_logistic")
    )


_TRANSFORM_SQL = f"""
SELECT l_returnflag,
  {_sql_dsum('greatest(l_discount * 10.0, 0.0) + ln(1.0 + exp(-abs(l_discount * 10.0))) + 1e-06', 'sum_softplus')},
  {_sql_dsum('0.0 + 2.0 / (1.0 + exp(-(l_quantity - 25.0)))', 'sum_logistic')}
FROM lineitem GROUP BY l_returnflag
"""


def sql_udf_surface(spark, sf_dir):
    """The PURE-SQL math surface (`henbun_spark.sql_functions`): the
    density/transform families registered as Spark SQL temporary
    functions and exercised entirely through `spark.sql(...)` — no
    Column API anywhere. SQL UDFs are macros, so this plan is the same
    whole-stage codegen as the Column twin queries (`density_gaussian`,
    `transform_softplus`): zero Python workers, constant folding and
    pushdown see through every `hb_*` call. The oracle inlines the
    identical formulas (same op order, same literals)."""
    from henbun_spark.sql_functions import register_sql_functions

    register_sql_functions(spark)
    _wide(_load(spark, sf_dir, "lineitem")).createOrReplaceTempView("lineitem")
    return spark.sql("""
SELECT l_returnflag,
  CAST(SUM(CAST(ROUND(hb_gaussian(l_quantity, 25.0D, 100.0D), 6) AS DECIMAL(38,6))) AS DOUBLE) AS sum_gauss,
  CAST(SUM(CAST(ROUND(hb_laplace(25.0D, 10.0D, l_quantity), 6) AS DECIMAL(38,6))) AS DOUBLE) AS sum_laplace,
  CAST(SUM(CAST(ROUND(hb_log1pe(l_discount * 10.0D), 6) AS DECIMAL(38,6))) AS DOUBLE) AS sum_log1pe,
  CAST(SUM(CAST(ROUND(hb_bimixture(0.3D,
      hb_gaussian(l_quantity, 20.0D, 100.0D),
      hb_gaussian(l_quantity, 30.0D, 100.0D)), 6) AS DECIMAL(38,6))) AS DOUBLE) AS sum_bimix
FROM lineitem GROUP BY l_returnflag
""")


def _sql_udf_oracle() -> str:
    gauss = (
        lambda mu: f"({-HALF_LOG_2PI!r} - 0.5 * ln(100.0)"
        f" - 0.5 * ({mu} - l_quantity) * ({mu} - l_quantity) / 100.0)"
    )
    a = f"({gauss('20.0')} + ln(0.3))"
    b = f"({gauss('30.0')} + ln(1.0 - 0.3))"
    bimix = (
        f"greatest({a}, {b})"
        f" + ln(exp({a} - greatest({a}, {b})) + exp({b} - greatest({a}, {b})))"
    )
    return f"""
SELECT l_returnflag,
  {_sql_dsum(gauss('25.0'), 'sum_gauss')},
  {_sql_dsum('-abs(25.0 - l_quantity) / 10.0 - ln(2.0 * 10.0)', 'sum_laplace')},
  {_sql_dsum('greatest(l_discount * 10.0, 0.0) + ln(1.0 + exp(-abs(l_discount * 10.0))) + 1e-06', 'sum_log1pe')},
  {_sql_dsum(bimix, 'sum_bimix')}
FROM lineitem GROUP BY l_returnflag
"""


_SQL_UDF_SQL = _sql_udf_oracle()


# ---------------------------------------------------------------------------
# non-SQL-expressible: VI training, GP sampling, streaming, multimodal, ANN
# (driver records rows-only checks for these)
# ---------------------------------------------------------------------------

def _ols_from_moments(row):
    """Closed-form OLS (a, b) for y ~ a + b*x from exact moments."""
    n, sx, sy, sxx, sxy = (
        float(row["n_events"]), float(row["sx"]), float(row["sy"]),
        float(row["sxx"]), float(row["sxy"]),
    )
    b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return (sy - b * sx) / n, b


def _moments_row_frame(spark, moments):
    """Collect the one-row moments aggregate ONCE and rebuild it as a
    local frame (r12): the VI regression queries need the row driver-side
    for the OLS proximity bounds AND as the query payload — returning the
    lazy aggregate re-executed the full scan when the sink forced it.
    The values are the same collected doubles; only the second scan is
    gone."""
    row = moments.collect()[0]
    return row, moments.sparkSession.createDataFrame([row], moments.schema)


def _reg_moments(ev):
    """One-scan decimal-exact regression moments over (x, y) — the same
    `_dsum` recipe the oracle-green `linreg_value_by_hour` uses."""
    x, y = F.col("x"), F.col("y")
    return ev.agg(
        F.count(F.lit(1)).alias("n_events"),
        _dsum(x, "sx"),
        _dsum(y, "sy"),
        _dsum(x * x, "sxx"),
        _dsum(x * y, "sxy"),
    )


_REG_MOMENTS_SQL = f"""
  COUNT(*)::BIGINT AS n_events,
  {_sql_dsum('CAST(hour(ts) AS DOUBLE)', 'sx')},
  {_sql_dsum('value', 'sy')},
  {_sql_dsum('CAST(hour(ts) AS DOUBLE) * CAST(hour(ts) AS DOUBLE)', 'sxx')},
  {_sql_dsum('CAST(hour(ts) AS DOUBLE) * value', 'sxy')}
"""


class _HourValueReg:
    """Shared model for the VI regression flagships: value ~ a*100 + b*hour.

    The intercept is carried in units of 100 (`ab[0] * 100.0`) — the same
    scale trick as `streaming_vi_training`'s `mu * 100.0` and the standard
    feature/target scaling any practitioner applies before first-order
    optimization: events.value has mean ~50 while Adam moves each raw
    parameter by at most ~lr per step, so an unscaled intercept would need
    ~1000 steps to leave the N(0,1) init basin. In internal units the
    optimum is ~0.49, reachable (and measured reached, within 10%) in 30
    steps at lr=0.05."""

    def build(self):
        import henbun_spark as hb
        from henbun_spark.spark_exec import ColumnData

        class Reg(hb.Model):
            def setUp(self):
                self.x = ColumnData("x")
                self.y = ColumnData("y")
                self.ab = hb.Variable([2])

            def local_objective(self):
                pred = self.ab[0] * 100.0 + self.ab[1] * self.x
                return hb.densities.gaussian(self.y, pred, 1.0)

        return Reg()


def vi_linear_regression(spark, sf_dir):
    """End-to-end distributed VI slice (SURVEY §7 M2): probabilistic linear
    regression value ~ a + b*hour trained with broadcast-params ->
    mapInPandas grads -> driver Adam (reference Model/Variable lifecycle,
    `model.py:113-263`, distributed).

    ORACLE-CHECKED (r9, retiring the rows-only driver row — the r8
    bound-boolean recipe): the Adam trajectory has no SQL form, but the
    convex objective's optimum IS the closed-form OLS fit, and the exact
    regression moments it derives from are order-independent decimal sums
    the oracle recomputes. Output = (n, sum x, sum y, sum x^2, sum x*y)
    plus `fit_a_ok` (fitted intercept within 20% of the OLS intercept —
    measured 9.7%/8.4% at sf0.01/sf0.1), `fit_b_ok` (fitted slope within
    0.5 ABSOLUTE of the OLS slope — the true slope is ~0, so a relative
    bound is ill-posed; measured <=0.09, and the seeded init starts at
    ~0.93, so a trainer that fails to move flips the boolean), and
    `improved_ok` (objective strictly improved). A broken gradient,
    broadcast, fold, or Adam update leaves the params near the N(0,1)
    init and flips a bound; exact-trajectory detail stays pytest-covered."""
    import henbun_spark as hb
    from henbun_spark.spark_exec import SparkTrainer

    ev = _load(spark, sf_dir, "events").select(
        F.hour("ts").cast("double").alias("x"),
        F.col("value").alias("y"),
    )
    trainer = SparkTrainer(
        _HourValueReg().build(), ev, optimizer=hb.Adam(learning_rate=0.05)
    )
    trainer.fit(maxiter=30)
    a_int, b = [float(v) for v in trainer.model.ab.value]
    a = a_int * 100.0
    mrow, moments = _moments_row_frame(spark, _reg_moments(ev))
    a_ols, b_ols = _ols_from_moments(mrow)
    fit_a_ok = abs(a - a_ols) <= 0.2 * abs(a_ols)
    fit_b_ok = abs(b - b_ols) <= 0.5
    improved = trainer.history[-1] > trainer.history[0]
    _rec_bound("vi_linear_regression", "fit_a_ok",
               abs(a - a_ols) / abs(a_ols), 0.2, "<=")
    _rec_bound("vi_linear_regression", "fit_b_ok", abs(b - b_ols), 0.5, "<=")
    _rec_bound("vi_linear_regression", "improved_ok",
               trainer.history[-1] - trainer.history[0], 0.0, ">")
    return moments.select(
        "n_events", "sx", "sy", "sxx", "sxy",
        F.lit(bool(fit_a_ok)).alias("fit_a_ok"),
        F.lit(bool(fit_b_ok)).alias("fit_b_ok"),
        F.lit(bool(improved)).alias("improved_ok"),
    )


_VI_LINREG_SQL = f"""
SELECT {_REG_MOMENTS_SQL},
  TRUE AS fit_a_ok, TRUE AS fit_b_ok, TRUE AS improved_ok
FROM events
"""


def vi_minibatch_sgd(spark, sf_dir):
    """Minibatch stochastic training — the reference's scalability
    mechanism (MinibatchData, `param.py:716-739`) distributed: each Adam
    step samples a deterministic per-step fraction of the frame
    (seed = f(step), retry-safe), gradients rescale by 1/fraction so
    they stay unbiased for the full objective.

    ORACLE-CHECKED (r9, retiring the rows-only driver row): same exact
    regression moments + OLS-proximity bounds as the full-batch
    `vi_linear_regression` — landing inside the SAME bounds while seeing
    only a fifth of the rows per step is precisely the unbiased-gradient
    claim (a biased minibatch estimator converges to the WRONG optimum
    and flips `fit_a_ok`/`fit_b_ok`; measured 8.3%/6.6% intercept error
    at sf0.01/sf0.1, slope error <=0.08). `steps_ok` additionally pins
    that all 40 sampled steps actually ran (a sampler that yields an
    empty frame short-circuits the step count)."""
    import henbun_spark as hb
    from henbun_spark.spark_exec import SparkTrainer

    ev = _load(spark, sf_dir, "events").select(
        F.hour("ts").cast("double").alias("x"),
        F.col("value").alias("y"),
    )
    trainer = SparkTrainer(
        _HourValueReg().build(), ev, optimizer=hb.Adam(learning_rate=0.05)
    )
    trainer.fit(maxiter=40, minibatch_fraction=0.2)
    a_int, b = [float(v) for v in trainer.model.ab.value]
    a = a_int * 100.0
    mrow, moments = _moments_row_frame(spark, _reg_moments(ev))
    a_ols, b_ols = _ols_from_moments(mrow)
    fit_a_ok = abs(a - a_ols) <= 0.2 * abs(a_ols)
    fit_b_ok = abs(b - b_ols) <= 0.5
    _rec_bound("vi_minibatch_sgd", "fit_a_ok",
               abs(a - a_ols) / abs(a_ols), 0.2, "<=")
    _rec_bound("vi_minibatch_sgd", "fit_b_ok", abs(b - b_ols), 0.5, "<=")
    steps_ok = (
        trainer.step_count == 40
        and trainer.history[-1] > trainer.history[0]
    )
    return moments.select(
        "n_events", "sx", "sy", "sxx", "sxy",
        F.lit(bool(fit_a_ok)).alias("fit_a_ok"),
        F.lit(bool(fit_b_ok)).alias("fit_b_ok"),
        F.lit(bool(steps_ok)).alias("steps_ok"),
    )


_VI_MINIBATCH_SQL = f"""
SELECT {_REG_MOMENTS_SQL},
  TRUE AS fit_a_ok, TRUE AS fit_b_ok, TRUE AS steps_ok
FROM events
"""


def streaming_vi_training(spark, sf_dir):
    """ONLINE training on a stream (`streaming.StreamingTrainer`): the
    reference's minibatch loop (`MinibatchData`, param.py:716-739) with
    micro-batches as the minibatches — each arriving file triggers
    foreachBatch, which runs SGD steps of the distributed gradient loop
    on just that batch while model/optimizer state persists on the
    driver across batches. Fits the mean of events.value; with
    lr = 0.5/n_total each step contracts the error for any micro-batch
    size, so the drained estimate lands near the true mean.

    ORACLE-CHECKED (r8, retiring the rows-only driver row — the
    bound-boolean recipe): the SGD posterior itself has no SQL form,
    but the target it contracts toward does. Output = the exact
    decimal-quantized (count, sum) of events.value (order-independent,
    recomputed by the oracle) plus `fit_ok` — the drained estimate must
    land within 20% of the true mean (measured 7.6%/8.5% at
    sf0.01/sf0.1; lr = 0.5/n makes each step a contraction, so the
    bound is structural, not luck) — and `folded_ok` — every micro-batch
    must actually have been folded (batches_seen >= 2, steps == 6 per
    batch). A dropped batch, a broken gradient, or a state-persistence
    bug across foreachBatch calls flips a boolean; convergence detail
    stays pytest-asserted."""
    import henbun_spark as hb
    from henbun_spark import autodiff as ad
    from henbun_spark import streaming
    from henbun_spark.spark_exec import ColumnData, SparkTrainer

    ev = _load(spark, sf_dir, "events").select("value")

    class MeanModel(hb.Model):
        def setUp(self):
            self.v = ColumnData("value")
            self.mu = hb.Variable([1])

        def local_objective(self):
            return ad.sum(
                hb.densities.gaussian(self.v, self.mu * 100.0, 100.0**2)
            )

    m = MeanModel()
    n_total = ev.count()
    tr = SparkTrainer(
        m, ev,
        optimizer=hb.model.GradientDescent(learning_rate=0.5 / n_total),
        cache=False,
    )
    st = streaming.StreamingTrainer(tr, steps_per_batch=6)
    stream, base = _file_stream(ev, "henbun_strain_", one_file_per_batch=True)
    q = st.attach(stream, f"{base}/ckpt")
    q.awaitTermination()
    true_mean = float(ev.agg(F.avg("value")).collect()[0][0])
    fitted = float(m.mu.value[0] * 100.0)
    fit_ok = abs(fitted - true_mean) <= 0.2 * abs(true_mean)
    _rec_bound("streaming_vi_training", "fit_ok",
               abs(fitted - true_mean) / abs(true_mean), 0.2, "<=")
    folded_ok = (
        st.batches_seen >= 2 and tr.step_count == 6 * st.batches_seen
    )
    return ev.agg(
        F.count(F.lit(1)).alias("n_events"),
        _dsum(F.col("value"), "sum_value"),
    ).select(
        "n_events",
        "sum_value",
        F.lit(bool(fit_ok)).alias("fit_ok"),
        F.lit(bool(folded_ok)).alias("folded_ok"),
    )


_STREAM_VI_SQL = f"""
SELECT COUNT(*)::BIGINT AS n_events,
  {_sql_dsum('value', 'sum_value')},
  TRUE AS fit_ok, TRUE AS folded_ok
FROM events
"""


def logreg_quality_classifier(spark, sf_dir):
    """Supervised corpus-filter classifier (the fastText-style "good vs
    crawl" quality gate every production pretraining pipeline runs),
    framed as rule distillation: the composite heuristic
    `text.quality_score` plays teacher (label = score above the corpus
    median), and a logistic regression over the UNDERLYING statistics
    (length score, punctuation ratio, stopword score) is trained
    DISTRIBUTED through the same broadcast-params -> mapInPandas grads ->
    sum_partials -> driver Adam loop as the VI flagships — the
    reference's Model/Variable machinery (`model.py:113-263`,
    `param.py:97-205`) driving a plain MAP objective. The teacher's
    decision boundary is linear in these features, so the student can
    represent it exactly and training provably separates (pytest asserts
    accuracy far above the base rate). The per-row log-likelihood uses
    the numerically exact form ``y*s - softplus(s)`` (never
    materializes a probability, so no log(0) at confident scores).
    Features are pure Column math; serving/accuracy is a second
    pure-Column pass with the fitted weights folded in as literals — at
    100 TB both passes are map-only scans.

    ORACLE-CHECKED (r8, retiring the rows-only driver row — the
    bound-boolean recipe): the trained weights have no SQL form, but
    the TEACHER LABELS do (the same quality arithmetic the bitwise-green
    `text_quality` oracle replicates), and the training outcome is
    checkable as a bound. Output = per-label doc counts (exact ints,
    recomputed by the oracle from `documents`) plus `acc_ok`: the
    fitted student's training accuracy must reach 0.9 (measured 0.97 at
    sf0.01 AND sf0.1 against a ~0.5 base rate — a broken feature
    column, gradient, Adam update, or serving pass lands near chance
    and flips the boolean; a broken label rule shifts the counts)."""
    import henbun_spark as hb
    from henbun_spark import autodiff as ad
    from henbun_spark.operators.text import PUNCT_CHARS, STOPWORDS, _tokens
    from henbun_spark.spark_exec import ColumnData, SparkTrainer

    docs = _load(spark, sf_dir, "documents")
    toks = _tokens("text")
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tok = F.greatest(F.size(toks), F.lit(1))
    n_chr = F.greatest(F.length("text"), F.lit(1))
    punct = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), f"[{PUNCT_CHARS}]", "")
    )
    ls = F.least(F.length("text") / F.lit(500.0), F.lit(1.0))
    pr = punct / n_chr
    ss = F.least(
        F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
        / n_tok / F.lit(0.5),
        F.lit(1.0),
    )
    quality = F.lit(0.4) * ls + F.lit(0.3) * (1 - pr) + F.lit(0.3) * ss
    feats = docs.select(
        ls.cast("double").alias("x1"),
        pr.cast("double").alias("x2"),
        ss.cast("double").alias("x3"),
        F.when(quality > 0.58, 1.0).otherwise(0.0).alias("y"),
    )

    class Clf(hb.Model):
        def setUp(self):
            self.x1 = ColumnData("x1")
            self.x2 = ColumnData("x2")
            self.x3 = ColumnData("x3")
            self.y = ColumnData("y")
            self.w = hb.Variable([4])

        def local_objective(self):
            s = (
                self.w[0]
                + self.w[1] * self.x1
                + self.w[2] * self.x2
                + self.w[3] * self.x3
            )
            softplus = ad.maximum(s, 0.0) + ad.log1p(ad.exp(-ad.abs(s)))
            return self.y * s - softplus

    trainer = SparkTrainer(Clf(), feats, optimizer=hb.Adam(learning_rate=0.3))
    trainer.fit(maxiter=80)
    w0, w1, w2, w3 = [float(v) for v in trainer.model.w.value]
    score = (
        F.lit(w0)
        + F.lit(w1) * F.col("x1")
        + F.lit(w2) * F.col("x2")
        + F.lit(w3) * F.col("x3")
    )
    acc = feats.agg(
        F.avg(
            F.when((score > 0) == (F.col("y") == 1.0), 1.0).otherwise(0.0)
        ).alias("a")
    ).collect()[0]["a"]
    if _RECORD_BOUNDS:
        n_docs_total = feats.count()
        _rec_bound("logreg_quality_classifier", "acc_ok", acc, 0.9, ">=",
                   step=1.0 / max(n_docs_total, 1))
    return (
        feats.groupBy(F.col("y").alias("label"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn("acc_ok", F.lit(bool(acc >= 0.9)))
    )


_LOGREG_LABELS_SQL = """
WITH t AS (
  SELECT text,
    list_filter(string_split(text, ' '), x -> x <> '') AS toks,
    length(text) AS n_chars
  FROM documents),
lab AS (
  SELECT CASE WHEN (
    0.4 * least(n_chars / 500.0, 1.0)
    + 0.3 * (1 - (n_chars - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                  / greatest(n_chars, 1))
    + 0.3 * least(
        len(list_filter(toks,
          x -> list_contains(['the','a','of','and','to','in','is','on','for','with'], x)))
        / greatest(len(toks), 1) / 0.5, 1.0)
  ) > 0.58 THEN 1.0 ELSE 0.0 END AS label
  FROM t)
SELECT label::DOUBLE AS label, COUNT(*)::BIGINT AS n_docs,
       TRUE AS acc_ok
FROM lab GROUP BY label
"""


def vi_amortized_encoder(spark, sf_dir):
    """The reference's core differentiator end-to-end, DISTRIBUTED: the
    global/local split (README.md:14-21) — a NeuralNet encoder emits
    per-row LOCAL variational parameters (amortized inference), globals
    train via broadcast -> mapInPandas grads -> sum_partials -> driver
    Adam, and posterior summaries stream back per Arrow batch through
    `spark_exec.predict` (no n-sized state on the driver at any point);
    the encoder/LOCAL mechanics carry pytest parity in
    tests/test_spark_exec.py.

    ORACLE-CHECKED (r9, retiring the rows-only driver row): exact row
    count (every events row must produce exactly one posterior row —
    a dropped Arrow batch in `predict` shifts it), plus `improved_ok`
    (3-step-mean ELBO gain positive; measured +60.6%/+60.3% at
    sf0.01/sf0.1 — the largest margin of any flagship, the amortized
    objective starts far from the data), `posterior_finite_ok` (every
    streamed-back z_mean finite — a broken encoder weight or Arrow
    schema mismatch NaNs it), and `mean_bounded_ok` (|avg z_mean| <= 10
    vs measured 0.16 — the relu-net output scale is bounded by its 0.3
    init and the 0.02x8-step Adam budget; a diverged net flips it)."""
    import henbun_spark as hb
    from henbun_spark import variationals
    from henbun_spark import autodiff as ad
    from henbun_spark.param import graph_key
    from henbun_spark.spark_exec import ColumnData, SparkTrainer, predict

    ev = _load(spark, sf_dir, "events").select(
        (F.hour("ts").cast("double") / 24.0).alias("x"),
        (F.col("value") / 100.0).alias("y"),
    )

    class AmortizedVI(hb.Model):
        def setUp(self):
            self.xy = ColumnData(["x", "y"])
            self.enc = hb.nn.NeuralNet([2, 8, 2], neuron_types="relu", stddev=0.3)
            self.z = variationals.Normal([1], collections=graph_key.LOCAL)
            self.dec = hb.Variable([1], mean=0.0, stddev=0.1)

        def local_objective(self):
            self.z = self.enc(self.xy)
            z = self.z
            y = self.xy[:, 1]
            lik = hb.densities.gaussian(y, z.reshape((-1,)) + self.dec, 0.1)
            return ad.sum(lik) - self.KL(graph_key.LOCAL)

        def posterior(self):
            # amortized posterior mean = first encoder output channel
            # (the value fed into the LOCAL variational's q_mu)
            out = self.enc(self.xy)
            return {"z_mean": out[:, 0].data.reshape(-1)}

    m = AmortizedVI()
    tr = SparkTrainer(m, ev, optimizer=hb.Adam(learning_rate=0.02))
    tr.fit(maxiter=8)
    post = predict(tr.model, ev, "posterior", "z_mean double")
    r = post.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                F.col("z_mean").isNotNull() & ~F.isnan("z_mean"), 1
            ).otherwise(0)
        ).alias("n_finite"),
        F.avg("z_mean").alias("avg"),
    ).collect()[0]
    h = tr.history
    improved = float(np.mean(h[-3:])) > float(np.mean(h[:3]))
    finite_ok = r["n_finite"] == r["n"]
    bounded_ok = r["avg"] is not None and abs(float(r["avg"])) <= 10.0
    _rec_bound("vi_amortized_encoder", "improved_ok",
               float(np.mean(h[-3:])) - float(np.mean(h[:3])), 0.0, ">")
    _rec_bound("vi_amortized_encoder", "mean_bounded_ok",
               abs(float(r["avg"])) if r["avg"] is not None else float("inf"),
               10.0, "<=")
    return ev.agg(F.count(F.lit(1)).alias("n_rows")).select(
        "n_rows",
        F.lit(bool(improved)).alias("improved_ok"),
        F.lit(bool(finite_ok)).alias("posterior_finite_ok"),
        F.lit(bool(bounded_ok)).alias("mean_bounded_ok"),
    )


_AMORTIZED_SQL = """
SELECT COUNT(*)::BIGINT AS n_rows, TRUE AS improved_ok,
  TRUE AS posterior_finite_ok, TRUE AS mean_bounded_ok
FROM events
"""


def gp_experts_events(spark, sf_dir):
    """Mixture-of-GP-experts — the reference's flagship Expert_GPR
    notebook shape, distributed: two sparse-GP experts (their own
    whitened variational u over shared inducing points) model the data
    at different noise scales, a logistic-transformed global fraction
    gates them, and the per-row likelihood is the stable-LSE
    `bimixture` of the two experts' Gaussian densities. Everything
    trains through one SparkTrainer (broadcast params -> mapInPandas
    grads through kernel/Cholesky/bimixture -> sum_partials -> Adam);
    the analytic KLs of both experts enter via global_objective.

    ORACLE-CHECKED (r9, retiring the LAST GP rows-only driver row):
    exact (count, decimal-exact sum of y) payload the oracle recomputes,
    plus `improved_ok` — 3-step-mean ELBO gain positive (the query's
    own noise-damped flag since r7; measured +41.4% at maxiter=40
    against ~+-6% damped MC noise — the r9 BENCH_NOTES entry records
    why 20 steps was rejected) — `gate_ok` — the trained gate fraction
    inside its Logistic(0.05, 0.95) transform range, which only a NaN
    escaping the bimixture/Cholesky path can violate (NaN comparisons
    are false) — and `sigmas_ok` — both expert noise scales in (0, 50),
    same NaN-guard rationale."""
    import henbun_spark as hb
    from henbun_spark import autodiff as ad
    from henbun_spark import transforms, variationals
    from henbun_spark.gp import kernels
    from henbun_spark.gp.gp import SparseGP
    from henbun_spark.spark_exec import ColumnData, SparkTrainer

    ev = _load(spark, sf_dir, "events").select(
        (F.hour("ts").cast("double") / 24.0).alias("x"),
        (F.col("value") / 100.0).alias("y"),
    )
    z = np.linspace(0.0, 1.0, 6).reshape(-1, 1)

    class Experts(hb.Model):
        def setUp(self):
            self.x = ColumnData("x")
            self.y = ColumnData("y")
            self.gp1 = SparseGP(kernels.UnitRBF(), z)
            self.gp2 = SparseGP(kernels.UnitRBF(), z)
            self.u1 = variationals.Normal(shape=[6], n_layers=[3])
            self.u2 = variationals.Normal(shape=[6], n_layers=[3])
            self.frac_raw = hb.Variable(
                [1], mean=0.0, stddev=0.01, transform=transforms.Logistic(0.05, 0.95)
            )
            self.lnsig1 = hb.Variable([1], mean=float(np.log(0.1)), stddev=0.01)
            self.lnsig2 = hb.Variable([1], mean=float(np.log(3.0)), stddev=0.01)

        def local_objective(self):
            xs = self.x.reshape((-1, 1))
            s1 = self.gp1.samples(xs, self.u1, q_shape="neglected")  # [3, n]
            s2 = self.gp2.samples(xs, self.u2, q_shape="neglected")
            y = self.y.reshape((1, -1))
            lp1 = hb.densities.gaussian(y, s1, ad.exp(self.lnsig1 * 2.0))
            lp2 = hb.densities.gaussian(y, s2, ad.exp(self.lnsig2 * 2.0))
            lik = hb.densities.bimixture(self.frac_raw, lp1, lp2)
            return ad.sum(lik) / 3.0

        def global_objective(self):
            return -self.KL()

    m = Experts()
    tr = SparkTrainer(m, ev, optimizer=hb.Adam(learning_rate=0.02))
    tr.fit(maxiter=40)
    frac = float(np.asarray(m.frac_raw.value).ravel()[0])  # constrained space
    sig1 = float(np.exp(np.asarray(m.lnsig1.value).ravel()[0]))
    sig2 = float(np.exp(np.asarray(m.lnsig2.value).ravel()[0]))
    # single-sample ELBO estimates are MC-noisy (+-10%); compare
    # 3-step means so the improvement flag is signal, not a draw
    improved = float(np.mean(tr.history[-3:])) > float(
        np.mean(tr.history[:3])
    )
    gate_ok = 0.05 <= frac <= 0.95
    sigmas_ok = (0.0 < sig1 < 50.0) and (0.0 < sig2 < 50.0)
    _rec_bound("gp_experts_events", "improved_ok",
               float(np.mean(tr.history[-3:])) - float(np.mean(tr.history[:3])),
               0.0, ">")
    _rec_bound("gp_experts_events", "gate_ok",
               min(frac - 0.05, 0.95 - frac), 0.0, ">=")
    _rec_bound("gp_experts_events", "sigmas_ok",
               min(sig1, sig2, 50.0 - sig1, 50.0 - sig2), 0.0, ">")
    return ev.agg(
        F.count(F.lit(1)).alias("n_events"),
        _dsum(F.col("y"), "sum_y"),
    ).select(
        "n_events",
        "sum_y",
        F.lit(bool(improved)).alias("improved_ok"),
        F.lit(bool(gate_ok)).alias("gate_ok"),
        F.lit(bool(sigmas_ok)).alias("sigmas_ok"),
    )


_GP_EXPERTS_SQL = f"""
SELECT COUNT(*)::BIGINT AS n_events,
  {_sql_dsum('value / 100.0', 'sum_y')},
  TRUE AS improved_ok, TRUE AS gate_ok, TRUE AS sigmas_ok
FROM events
"""


def vi_staged_training(spark, sf_dir):
    """Collection-scoped STAGED optimization, distributed — the
    reference's Expert_GPR training recipe (freeze one parameter set
    while fitting the other, then swap): stage 1 fits the location
    with the scale frozen (collection 'loc'), stage 2 fits the scale
    with the location frozen (collection 'scale'). Each stage is its
    own SparkTrainer over the same cached frame; the frozen values are
    bitwise unchanged across the other stage (asserted here via the
    output).

    ORACLE-CHECKED (r9, retiring the rows-only driver row): the staged
    trajectory has no SQL form, but the freeze CONTRACT is exactly
    checkable as booleans — `mu_frozen_s2` / `lnsig_frozen_s1` assert the
    out-of-collection parameter is BITWISE unchanged across the other
    stage (the collection-scoping guarantee `spark_exec.py` already
    asserts internally; a trainer that leaks gradients across collections
    flips them deterministically) — and the stage-1 target is SQL: `mu`
    must land within 20% of mean(value)/100 (measured 5.6%/5.9% at
    sf0.01/sf0.1, from a seeded init ~0.1 — a dead stage 1 flips it).
    Output = exact (count, decimal-exact sum of value) the oracle
    recomputes, plus the four contract booleans."""
    import henbun_spark as hb
    from henbun_spark.spark_exec import ColumnData, SparkTrainer

    ev = _load(spark, sf_dir, "events").select(
        (F.col("value") / 100.0).alias("y")
    )

    class Staged(hb.Model):
        def setUp(self):
            self.y = ColumnData("y")
            self.mu = hb.Variable([1], collections="loc")
            self.lnsig = hb.Variable([1], collections="scale")

        def local_objective(self):
            import henbun_spark.autodiff as ad

            var = ad.exp(self.lnsig * 2.0)
            return hb.densities.gaussian(self.y, self.mu, var)

    m = Staged()
    t1 = SparkTrainer(m, ev, optimizer=hb.Adam(learning_rate=0.1), collection="loc")
    lnsig_before = float(np.asarray(m.lnsig.value).ravel()[0])
    t1.fit(maxiter=12)
    lnsig_after_s1 = float(np.asarray(m.lnsig.value).ravel()[0])
    mu_after_s1 = float(np.asarray(m.mu.value).ravel()[0])
    t2 = SparkTrainer(m, ev, optimizer=hb.Adam(learning_rate=0.1), collection="scale")
    t2.fit(maxiter=12)
    mu_after_s2 = float(np.asarray(m.mu.value).ravel()[0])
    mean_y = float(ev.agg(F.avg("y")).collect()[0][0])
    mu_fit_ok = abs(mu_after_s1 - mean_y) <= 0.2 * abs(mean_y)
    _rec_bound("vi_staged_training", "mu_fit_ok",
               abs(mu_after_s1 - mean_y) / abs(mean_y), 0.2, "<=")
    return ev.agg(
        F.count(F.lit(1)).alias("n_events"),
        _dsum(F.col("y") * 100.0, "sum_value"),
    ).select(
        "n_events",
        "sum_value",
        F.lit(bool(mu_after_s1 == mu_after_s2)).alias("mu_frozen_s2"),
        F.lit(bool(lnsig_before == lnsig_after_s1)).alias("lnsig_frozen_s1"),
        F.lit(bool(mu_fit_ok)).alias("mu_fit_ok"),
        F.lit(
            bool(
                t1.history[-1] > t1.history[0]
                and t2.history[-1] > t2.history[0]
            )
        ).alias("stages_improved"),
    )


_VI_STAGED_SQL = f"""
SELECT COUNT(*)::BIGINT AS n_events,
  {_sql_dsum('value / 100.0 * 100.0', 'sum_value')},
  TRUE AS mu_frozen_s2, TRUE AS lnsig_frozen_s1,
  TRUE AS mu_fit_ok, TRUE AS stages_improved
FROM events
"""


def gp_regression_events(spark, sf_dir):
    """Sparse-GP regression TRAINED on a real table — the reference's
    GPR notebook lifecycle (whitened variational u over inducing points,
    trainable lengthscale, Gaussian likelihood) on events(hour -> value)
    via the distributed trainer: broadcast params -> per-batch
    K(z, x_batch) + sample inside mapInPandas -> sum_partials grads ->
    driver Adam; the analytic Normal KL enters once per step through
    `global_objective`; the GP math itself carries numpy-parity pytests.

    ORACLE-CHECKED (r9, retiring the rows-only driver row — the bound-
    boolean recipe): the GP posterior has no SQL form, but the training
    CONTRACT does. Output = exact (count, decimal-exact sums of x and
    y) the oracle recomputes, plus `improved_ok` — the 3-step-mean ELBO
    gain (noise-damped like gp_experts') must be positive; measured
    +37.8%/+51.3% at sf0.01/sf0.1 against ~+-6% MC noise on the damped
    means — and `params_ok` — trained lengthscale in (0, 100) and noise
    sigma in (0, 50): structurally loose (measured 0.80-0.92 / 0.78),
    but a broken Cholesky/jitter path NaNs the parameters and NaN
    comparisons are false, so the classic GP failure mode flips it."""
    import henbun_spark as hb
    from henbun_spark import autodiff as ad
    from henbun_spark import variationals
    from henbun_spark.gp import kernels
    from henbun_spark.gp.gp import SparseGP
    from henbun_spark.spark_exec import ColumnData, SparkTrainer

    ev = _load(spark, sf_dir, "events").select(
        (F.hour("ts").cast("double") / 24.0).alias("x"),
        (F.col("value") / 100.0).alias("y"),
    )
    z = np.linspace(0.0, 1.0, 8).reshape(-1, 1)

    class GPReg(hb.Model):
        def setUp(self):
            self.x = ColumnData("x")
            self.y = ColumnData("y")
            self.gp = SparseGP(kernels.UnitRBF(), z)
            self.u = variationals.Normal(shape=[8], n_layers=[4])
            self.lnsig = hb.Variable([1], mean=float(np.log(0.5)), stddev=0.01)

        def local_objective(self):
            s = self.gp.samples(
                self.x.reshape((-1, 1)), self.u, q_shape="neglected"
            )  # [4, n] posterior samples
            var = ad.exp(self.lnsig * 2.0)
            lik = hb.densities.gaussian(self.y.reshape((1, -1)), s, var)
            return ad.sum(lik) / 4.0

        def global_objective(self):
            return -self.KL()

    m = GPReg()
    tr = SparkTrainer(m, ev, optimizer=hb.Adam(learning_rate=0.05))
    tr.fit(maxiter=10)
    ls = float(np.asarray(m.gp.kern.lengthscales.value).ravel()[0])
    sig = float(np.exp(np.asarray(m.lnsig.value).ravel()[0]))
    h = tr.history
    improved = float(np.mean(h[-3:])) > float(np.mean(h[:3]))
    params_ok = (0.0 < ls < 100.0) and (0.0 < sig < 50.0)
    _rec_bound("gp_regression_events", "improved_ok",
               float(np.mean(h[-3:])) - float(np.mean(h[:3])), 0.0, ">")
    _rec_bound("gp_regression_events", "params_ok",
               min(ls, 100.0 - ls, sig, 50.0 - sig), 0.0, ">")
    return ev.agg(
        F.count(F.lit(1)).alias("n_events"),
        _dsum(F.col("x"), "sum_x"),
        _dsum(F.col("y"), "sum_y"),
    ).select(
        "n_events",
        "sum_x",
        "sum_y",
        F.lit(bool(improved)).alias("improved_ok"),
        F.lit(bool(params_ok)).alias("params_ok"),
    )


_GP_REGRESSION_SQL = f"""
SELECT COUNT(*)::BIGINT AS n_events,
  {_sql_dsum('CAST(hour(ts) AS DOUBLE) / 24.0', 'sum_x')},
  {_sql_dsum('value / 100.0', 'sum_y')},
  TRUE AS improved_ok, TRUE AS params_ok
FROM events
"""


def gp_sparse_posterior(spark, sf_dir):
    """SparseGP posterior samples, DISTRIBUTED over the n (coordinate)
    axis — the §2.9 G3 execution shape: the model (inducing points z +
    kernel params + whitened u) ships to executors once via the pickled
    broadcast inside `spark_exec.predict`; each Arrow batch computes its
    own K(z, x_batch) columns, the m x m Cholesky solve, and per-
    coordinate sample mean/std. Nothing n-sized ever touches the driver;
    the plan contains MapInPandas over a real coordinate DataFrame;
    distributed == driver parity is pytest-asserted in tests/test_gp.py.

    ORACLE-CHECKED (r9, retiring the rows-only driver row): the inputs
    are seeded constants and sf-independent, and per-coordinate results
    depend only on that coordinate's own K(z, x) column, so everything
    EXCEPT the diagonal-mode noise draw is a plan-independent constant
    — verified bitwise across 1/4/13-partition runs. Output = the
    1e-6-quantized (x, neglected-center mean, sample std) as BIGINTs
    against a VALUES oracle (std is shared: the diagonal correction is
    one draw per coordinate ADDED to all 30 samples, so it shifts the
    mean and leaves std untouched), plus `noise_ok` — the stochastic
    sample mean must sit within 6 sigma of its analytic center, scaled
    by the mode's own additional-cov (per-row; a wrong correction
    magnitude, a NaN, or a draw applied per-sample instead of shared
    flips it; chance of a true-positive 6-sigma excursion over 40 rows
    ~1e-7)."""
    import pandas as pd

    import henbun_spark as hb
    from henbun_spark.gp import kernels
    from henbun_spark.gp.gp import SparseGP
    from henbun_spark.spark_exec import ColumnData, predict

    rng = np.random.default_rng(0)
    x = np.linspace(-2, 2, 40)
    z = np.linspace(-2, 2, 10).reshape(-1, 1)
    u = rng.standard_normal((30, 10))

    class GPPost(hb.Model):
        def setUp(self):
            self.idx = ColumnData("idx")
            self.x = ColumnData("x")
            self.gp = SparseGP(kernels.UnitRBF(), z)
            self.u = hb.Data(u)

        def posterior_summary(self):
            xs = self.x.reshape((-1, 1))
            s0 = self.gp.samples(xs, self.u, q_shape="neglected")
            s1 = self.gp.samples(xs, self.u, q_shape="diagonal")
            lnt = self.gp._effective_LT(xs)
            dcov = self.gp._additional_cov(xs, lnt, "diagonal")
            return {
                "idx": self.idx.data.astype(np.int64),
                "x": self.x.data,
                "mu": s0.data.mean(axis=0),
                "std": s1.data.std(axis=0),
                "mean": s1.data.mean(axis=0),
                "dcov": dcov.data,
            }

    coords = spark.createDataFrame(
        pd.DataFrame({"idx": np.arange(40, dtype=np.float64), "x": x})
    ).repartition(4)
    post = predict(
        GPPost(), coords, "posterior_summary",
        "idx long, x double, mu double, std double, mean double,"
        " dcov double",
    )

    def _micro(c):
        return F.floor(F.col(c) * F.lit(1e6) + F.lit(0.5)).cast("long")

    noise_ok = (
        F.abs(F.col("mean") - F.col("mu"))
        <= F.lit(6.0) * F.sqrt(F.abs(F.col("dcov"))) + F.lit(1e-9)
    )
    if _RECORD_BOUNDS:
        # worst deviation in sigma units across the 40 coordinates; the
        # bound is 6 sigma, MC noise of a 4-sample mean is ~0.5 sigma
        worst = post.select(
            (
                F.abs(F.col("mean") - F.col("mu"))
                / (F.sqrt(F.abs(F.col("dcov"))) + F.lit(1e-12))
            ).alias("z")
        ).agg(F.max("z")).collect()[0][0]
        _rec_bound("gp_sparse_posterior", "noise_ok", float(worst),
                   6.0, "<=", step=0.5)
    return post.select(
        "idx",
        _micro("x").alias("x_micro"),
        _micro("mu").alias("mu_micro"),
        _micro("std").alias("std_micro"),
        noise_ok.alias("noise_ok"),
    )


_GP_SPARSE_POSTERIOR_SQL = """
SELECT idx::BIGINT AS idx, x_micro::BIGINT AS x_micro,
  mu_micro::BIGINT AS mu_micro, std_micro::BIGINT AS std_micro,
  TRUE AS noise_ok
FROM (VALUES
  (0, -2000000, -78196, 882108),
  (1, -1897436, -84014, 908525),
  (2, -1794872, -88283, 938200),
  (3, -1692308, -90829, 968386),
  (4, -1589744, -91602, 995953),
  (5, -1487179, -90674, 1017878),
  (6, -1384615, -88222, 1031669),
  (7, -1282051, -84500, 1035684),
  (8, -1179487, -79804, 1029333),
  (9, -1076923, -74443, 1013159),
  (10, -974359, -68711, 988801),
  (11, -871795, -62865, 958841),
  (12, -769231, -57119, 926519),
  (13, -666667, -51647, 895327),
  (14, -564103, -46582, 868503),
  (15, -461538, -42029, 848512),
  (16, -358974, -38070, 836638),
  (17, -256410, -34765, 832854),
  (18, -153846, -32149, 836002),
  (19, -51282, -30222, 844219),
  (20, 51282, -28945, 855417),
  (21, 153846, -28229, 867667),
  (22, 256410, -27946, 879444),
  (23, 358974, -27939, 889731),
  (24, 461538, -28050, 898053),
  (25, 564103, -28155, 904456),
  (26, 666667, -28204, 909481),
  (27, 769231, -28248, 914097),
  (28, 871795, -28466, 919614),
  (29, 974359, -29160, 927522),
  (30, 1076923, -30735, 939274),
  (31, 1179487, -33651, 956011),
  (32, 1282051, -38360, 978303),
  (33, 1384615, -45226, 1005961),
  (34, 1487179, -54458, 1038008),
  (35, 1589744, -66044, 1072825),
  (36, 1692308, -79715, 1108419),
  (37, 1794872, -94942, 1142766),
  (38, 1897436, -110961, 1174121),
  (39, 2000000, -126835, 1201244)
) AS t(idx, x_micro, mu_micro, std_micro)
"""


def session_window_agg(spark, sf_dir):
    """Built-in session windows (Spark's native gap-based sessionization —
    the same groupBy(session_window) plan runs under Structured Streaming
    with a watermark). Oracle: lag/cumsum session reconstruction."""
    ev = _load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"),
            F.col("user_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"), _dsum(F.col("value"), "sum_value"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
            "sum_value",
        )
    )


_SESSION_WINDOW_SQL = f"""
WITH marked AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
           OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800
         THEN 1 ELSE 0 END AS new_sess
  FROM events),
sess AS (
  SELECT user_id, ts, value,
    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked)
SELECT user_id, epoch_us(min(ts)) AS session_start_us,
  COUNT(*) AS n_events,
  {_sql_dsum('value', 'sum_value')}
FROM sess GROUP BY user_id, sid
"""


def emb_quantize(spark, sf_dir):
    """Embedding L2-normalize + symmetric int8 quantization, reduced to
    per-vector scalar checksums so the hash stays array-free: norm,
    quantizer scale, sum|q| (integer — exact), reconstruction error."""
    from henbun_spark.operators import similarity

    emb = _load(spark, sf_dir, "embeddings")
    nq = similarity.normalize_and_quantize(emb, "embedding", "vec_id")
    return nq.select(
        "vec_id",
        F.round("l2_norm", 6).alias("l2_norm"),
        F.round("scale", 9).alias("scale"),
        F.aggregate(
            F.col("q"), F.lit(0).cast("long"), lambda a, x: a + F.abs(x)
        ).alias("q_l1"),
        F.round("recon_err", 6).alias("recon_err"),
    )


_EMB_QUANT_SQL = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec
  FROM embeddings),
s AS (
  SELECT vec_id, vec,
    sqrt(list_reduce(list_transform(vec, x -> x * x), (a, b) -> a + b))
      AS l2_norm,
    greatest(list_max(list_transform(vec, x -> abs(x))), 1e-12) / 127.0
      AS scale
  FROM v)
SELECT vec_id,
  ROUND(l2_norm, 6) AS l2_norm,
  ROUND(scale, 9) AS scale,
  CAST(list_sum(list_transform(vec, x -> abs(CAST(round(x / scale, 0) AS INT))))
       AS BIGINT) AS q_l1,
  ROUND(sqrt(list_sum(list_transform(vec,
    x -> (x - CAST(round(x / scale, 0) AS INT) * scale)
       * (x - CAST(round(x / scale, 0) AS INT) * scale)))), 6) AS recon_err
FROM s
"""


def streaming_windowed_counts(spark, sf_dir):
    """Structured Streaming end-to-end, ORACLE-CHECKED: watermarked
    tumbling-window aggregation drained with availableNow into a parquet
    sink. A single sentinel row 4 hours past the last real event pushes
    the final watermark (delay 2h) beyond every real window's end, so
    append mode emits ALL real windows; the sentinel's own window stays
    in state (never emitted; absent from the oracle). Hash covers
    (window start, key, count) — the decimal-exact value sums are
    oracle-checked on the identical batch plan (`hourly_event_counts`).

    The sink lives in a non-self-deleting scratch dir so the result is
    returned as a LAZY parquet scan — no toPandas()/collect round-trip
    through the driver; every output row stays executor-side end-to-end.
    """

    from henbun_spark import streaming

    ev = _load(spark, sf_dir, "events").select("user_id", "ts", "event_type", "value")
    sentinel = ev.agg(
        (F.max("ts") + F.expr("INTERVAL 4 HOURS")).alias("ts")
    ).select(
        F.lit(-1).cast("long").alias("user_id"),
        "ts",
        F.lit("__flush__").alias("event_type"),
        F.lit(0.0).alias("value"),
    )
    data = ev.unionByName(sentinel)
    stream, base = _file_stream(data, "henbun_stream_")
    agg = streaming.windowed_counts(
        stream, ts_col="ts", key_col="event_type", window="1 hour",
        watermark="2 hours",
    )
    out = agg.select(
        (F.unix_timestamp(F.col("window.start")) * 1000).alias("hour_start_ms"),
        "event_type",
        "n",
    )
    out_dir = f"{base}/out"
    _drain_to_parquet(spark, out, out_dir, f"{base}/ckpt")
    return spark.read.parquet(out_dir)


_STREAM_WINDOW_SQL = """
SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS hour_start_ms,
  event_type, COUNT(*) AS n
FROM events
GROUP BY 1, 2
"""


def streaming_asof_purchase(spark, sf_dir):
    """STREAMING as-of join, ORACLE-CHECKED against the batch ASOF JOIN:
    clicks pick up the most recent purchase per user from a live tagged
    stream via `streaming.asof_join_stream` (applyInPandasWithState,
    watermark-ordered buffering — exact under any arrival order within
    the watermark). The flush sentinel advances the final watermark past
    every real event so the drain seals and emits all probes."""
    from henbun_spark import streaming

    ev = _load(spark, sf_dir, "events")
    tagged = ev.where(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "ts",
        (F.col("event_type") == "click").cast("int").alias("is_left"),
        "event_id",
        "value",
    )
    sentinel = ev.agg((F.max("ts") + F.expr("INTERVAL 4 HOURS")).alias("ts")).select(
        F.lit(-1).cast("long").alias("user_id"),
        "ts",
        F.lit(0).alias("is_left"),
        F.lit(-1).cast("long").alias("event_id"),
        F.lit(0.0).alias("value"),
    )
    data = tagged.unionByName(sentinel)
    stream, base = _file_stream(data, "henbun_sasof_")
    out = streaming.asof_join_stream(
        stream, ts_col="ts", key_col="user_id", watermark="2 hours"
    )
    out_dir = f"{base}/out"
    _drain_to_parquet(spark, out, out_dir, f"{base}/ckpt")
    return spark.read.parquet(out_dir)


def streaming_hll_users(spark, sf_dir):
    """Incremental sketch maintenance on a stream, ORACLE-CHECKED: each
    micro-batch (4-file source, one file per trigger) MAX-merges its HLL
    register table into a persistent parquet sketch via foreachBatch.
    Register merge is associative + commutative, so the drained state is
    bit-identical to the batch sketch — the oracle is the SAME SQL as
    the batch `hll_distinct_users`."""
    from henbun_spark import streaming
    from henbun_spark.operators import sketch

    ev = _load(spark, sf_dir, "events").select("user_id", "ts")
    stream, base = _file_stream(ev, "henbun_shll_", one_file_per_batch=True)
    q = streaming.hll_stream_maintenance(
        stream, "user_id", f"{base}/state", f"{base}/ckpt", b=8
    )
    q.awaitTermination()
    regs = streaming.load_state(spark, f"{base}/state")
    est = sketch.hll_estimate(regs, b=8)
    exact = ev.agg(F.countDistinct("user_id").alias("exact_distinct"))
    return est.crossJoin(exact)


def streaming_pca_gram(spark, sf_dir):
    """Incremental PCA sufficient-statistics maintenance on a stream
    (r8, NEW streaming path): each micro-batch (4-file source, one file
    per trigger) reduces to one (n, sum, Gram) row that foreachBatch
    ADDS into a persistent 1-row parquet state under the versioned
    exactly-once commit machinery; after the drain the state is
    eigendecomposed (`decomposition.eig_from_stats`) and the planted
    rows are projected with the streamed-fit components.

    ORACLE-CHECKED with the SAME SQL as `pca_embeddings`: the input is
    the `_walsh_planted` dyadic design, where every float sum is exact,
    so stats addition is batch-split-independent bit-for-bit and the
    streamed fit must equal the batch fit must equal the analytic
    answer (pc_k = a_k * Walsh sign — plain bit arithmetic). A dropped
    or double-folded micro-batch, a broken commit/replay guard, or a
    stats-merge bug changes the Gram and fails the hash."""
    from henbun_spark import streaming
    from henbun_spark.operators import decomposition

    pts = _walsh_planted(spark)
    stream, base = _file_stream(pts, "henbun_spca_", one_file_per_batch=True)
    q = streaming.pca_stream_maintenance(
        stream, "embedding", f"{base}/state", f"{base}/ckpt"
    )
    q.awaitTermination()
    r = streaming.load_state(spark, f"{base}/state").collect()[0]
    comps, _, mu = decomposition.eig_from_stats(r["n"], r["s"], r["g"], 4)
    proj = decomposition.pca_project(
        pts.select("vec_id", "embedding"), "embedding", comps, mu
    )
    return proj.select("vec_id", "pc1", "pc2", "pc3", "pc4")


def streaming_hopping_counts(spark, sf_dir):
    """Streaming HOPPING (sliding) windows, ORACLE-CHECKED against the
    batch hopping aggregate: 2-hour windows every hour under a 2-hour
    watermark, drained with availableNow. The flush sentinel sits 6
    hours past the last event so the final watermark (max+4h) passes
    every real window's end (max+2h) and append mode emits them all;
    the sentinel's own two windows stay in state, never emitted."""
    from henbun_spark import streaming

    ev = _load(spark, sf_dir, "events").select("user_id", "ts", "event_type", "value")
    sentinel = ev.agg(
        (F.max("ts") + F.expr("INTERVAL 6 HOURS")).alias("ts")
    ).select(
        F.lit(-1).cast("long").alias("user_id"),
        "ts",
        F.lit("__flush__").alias("event_type"),
        F.lit(0.0).alias("value"),
    )
    data = ev.unionByName(sentinel)
    stream, base = _file_stream(data, "henbun_hop_")
    agg = streaming.windowed_counts(
        stream, ts_col="ts", key_col="event_type", window="2 hours",
        slide="1 hour", watermark="2 hours",
    )
    out = agg.select(
        (F.unix_timestamp(F.col("window.start")) * 1000).alias("win_start_ms"),
        "event_type",
        "n",
    )
    out_dir = f"{base}/out"
    _drain_to_parquet(spark, out, out_dir, f"{base}/ckpt")
    return spark.read.parquet(out_dir)


def streaming_enrich_static(spark, sf_dir):
    """Stream-STATIC enrichment join, ORACLE-CHECKED: the events table
    replayed as a file stream, joined per micro-batch to the static
    customer dimension (stateless — no watermark, no join state; at
    scale the static side is broadcast per batch), projected and drained
    with availableNow into a parquet sink. Decimal-exact value sums per
    mktsegment are re-aggregated from the sink scan, so the hash covers
    the enriched rows end to end. Its twin `streaming_static_enrich`
    folds per-batch partials into exactly-once state instead; only this
    one covers the stateless row-level sink drain."""
    from henbun_spark import streaming

    ev = _load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    cust = _load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream, base = _file_stream(ev, "henbun_senrich_")
    enriched = stream.join(F.broadcast(cust), "user_id").select(
        "event_id", "c_mktsegment", "value"
    )
    out_dir = f"{base}/out"
    streaming.run_available_now(enriched, f"{base}/ckpt", out_dir)
    return (
        spark.read.parquet(out_dir)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum(F.col("value"), "value_sum"),
        )
    )


_STREAM_ENRICH_SQL = """
SELECT c_mktsegment, COUNT(*)::BIGINT AS n,
  CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(38,6))) AS DOUBLE) AS value_sum
FROM events JOIN customer ON customer.c_custkey = events.user_id
GROUP BY 1
"""


def streaming_dedup_keys(spark, sf_dir):
    """Streaming exact dedup end-to-end, ORACLE-CHECKED: the events table
    replayed as a file stream through `dropDuplicatesWithinWatermark` on
    (user_id, event_type), drained with availableNow into a parquet sink.
    The 31-day watermark delay exceeds the 30-day corpus span, so no row
    is late-dropped and the surviving key set equals batch DISTINCT —
    while state stays bounded by the horizon (the 100 TB property:
    continuous ingestion never accumulates unbounded dedup state).
    Only the key columns are emitted (which PAYLOAD row survives is
    arrival-order-dependent; the key set is deterministic)."""
    from henbun_spark import streaming

    ev = _load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    stream, base = _file_stream(ev, "henbun_sdedup_")
    deduped = streaming.dedup_stream(
        stream, ["user_id", "event_type"], ts_col="ts", watermark="31 days"
    )
    out_dir = f"{base}/out"
    out = deduped.select("user_id", "event_type")
    _drain_to_parquet(spark, out, out_dir, f"{base}/ckpt")
    return spark.read.parquet(out_dir)


_STREAM_DEDUP_SQL = """
SELECT DISTINCT user_id, event_type FROM events
"""


def multimodal_features(spark, sf_dir):
    """Binary-column multimodal plumbing: synthesize media -> mapInPandas
    decode/featurize (deterministic fake kernel; codecs stubbed).
    ORACLE-CHECKED (r7): seeded sf-independent synthesis makes the
    output a 64-row constant — (media_id, kind, BMP payload byte count,
    feature dim) pinned via a range-generated oracle, holding the
    synthesize -> encode -> Arrow-batched featurize plumbing (schema,
    batch shape, payload size) to the driver hash."""
    from henbun_spark.operators import multimodal

    media = multimodal.synthesize_media(spark, n=64, kind="image", seed=0)
    feats = multimodal.decode_and_featurize(media, dim=16)
    return feats.select(
        "media_id", "kind", "n_bytes", F.size("feature").alias("dim")
    )


_MULTIMODAL_FEATURES_SQL = """
SELECT CAST(i AS BIGINT) AS media_id, 'image' AS kind,
       CAST(246 AS INTEGER) AS n_bytes, CAST(16 AS INTEGER) AS dim
FROM (SELECT unnest(range(64)) AS i)
"""


def image_dedup_ahash(spark, sf_dir):
    """Perceptual image dedup end-to-end on REAL pixels: genuine BMP
    payloads -> decode + box resize + average-hash (Arrow-batched
    mapInPandas, binary never leaves the scan) -> the one pigeonhole
    Hamming band join shared with the SimHash operators and the
    streaming degree index (`dedup.hamming_band_pairs`, no all-pairs,
    no pair dedup shuffle). 8 planted noisy copies must
    pair with their originals. ORACLE-CHECKED (r7): seeded sf-
    independent synthesis makes the pair output a deterministic
    constant; the oracle pins (id_a, id_b, hamming) as a VALUES table,
    hash-checking decode -> resize -> aHash -> banded join end-to-end."""
    import numpy as np  # noqa: F811 — local alias for the closure below

    from henbun_spark.operators import multimodal

    media = multimodal.synthesize_media(spark, n=64, kind="image", seed=0)
    rng = np.random.default_rng(99)
    extras = []
    for r in media.where(F.col("media_id") < 8).collect():
        pix = multimodal.decode_bmp(bytes(r["payload"]))
        noisy = np.clip(
            pix.astype(int) + rng.integers(-5, 6, pix.shape), 0, 255
        ).astype(np.uint8)
        extras.append(
            (
                int(r["media_id"]) + 1000,
                "image",
                bytearray(multimodal.encode_bmp(noisy)),
                (8, 8, None, None, "bmp"),
            )
        )
    all_media = media.unionByName(
        spark.createDataFrame(extras, multimodal.MEDIA_SCHEMA)
    )
    hashes = multimodal.ahash_images(all_media)
    pairs = multimodal.hamming_near_pairs(hashes, max_hamming=8)
    return pairs.orderBy("id_a", "id_b")


def image_dedup_phash(spark, sf_dir):
    """DCT perceptual-hash image dedup — the level-change-robust sibling
    of `image_dedup_ahash`: BMP decode -> box resize -> 2-D DCT (pure
    numpy, no scipy) -> 8x8 low-frequency block -> median-threshold
    64-bit fingerprint (DC excluded), then the same one pigeonhole
    Hamming band join (`dedup.hamming_band_pairs`). The planted copies get a GLOBAL BRIGHTNESS SHIFT plus noise;
    8 shifted copies must pair with their originals. pHash and aHash
    have complementary failure modes, which is why pipelines carry
    both. ORACLE-CHECKED (r7): seeded sf-independent synthesis makes
    the pair output a deterministic constant; the oracle pins it as a
    VALUES table (affine-relevel robustness stays pytest-covered)."""
    import numpy as np  # noqa: F811 — local alias for the closure below

    from henbun_spark.operators import multimodal

    media = multimodal.synthesize_media(spark, n=64, kind="image", seed=3)
    rng = np.random.default_rng(31)
    extras = []
    for r in media.where(F.col("media_id") < 8).collect():
        pix = multimodal.decode_bmp(bytes(r["payload"]))
        shifted = np.clip(
            pix.astype(int) + 40 + rng.integers(-4, 5, pix.shape), 0, 255
        ).astype(np.uint8)
        extras.append(
            (
                int(r["media_id"]) + 1000,
                "image",
                bytearray(multimodal.encode_bmp(shifted)),
                (8, 8, None, None, "bmp"),
            )
        )
    all_media = media.unionByName(
        spark.createDataFrame(extras, multimodal.MEDIA_SCHEMA)
    )
    # synthesized demo images are 8x8 — DCT the full image (img_size=8);
    # real corpora keep the 32x32 default
    hashes = multimodal.phash_images(all_media, img_size=8)
    pairs = multimodal.hamming_near_pairs(
        hashes, max_hamming=10, hash_col="phash"
    )
    return pairs.orderBy("id_a", "id_b")


def audio_dedup_fp(spark, sf_dir):
    """Perceptual audio dedup end-to-end on REAL waveforms — the audio
    sibling of `image_dedup_ahash`: genuine PCM16 WAV payloads (multi-tone
    mixes, so spectra are diverse) -> decode + spectral-envelope
    fingerprint (Arrow-batched mapInPandas; only (id, 31-bit fp) leaves
    the scan) -> the one pigeonhole Hamming band join shared with the
    SimHash operators (`dedup.hamming_band_pairs`, no all-pairs). 8 planted re-levelled+noisy copies must pair with their
    originals: the fingerprint bits are cumulative-energy-curve signs,
    invariant to gain and robust to additive noise. ORACLE-CHECKED
    (r7): seeded sf-independent synthesis makes the FULL pair output
    (planted + background near-pairs) a deterministic 418-row constant;
    the oracle decodes it from a compact `id_a:id_b:hamming` literal —
    hash-checking WAV decode -> fingerprint -> banded join end-to-end."""
    import numpy as np  # noqa: F811 — local alias for the closure below

    from henbun_spark.operators import multimodal

    rng = np.random.default_rng(7)
    t = np.arange(3200) / 16000.0
    # one tone per log-spaced band with random (lognormal) energy: the
    # cumulative-energy curve wiggles around the diagonal, so the 31
    # fingerprint bits are document-specific (sparse 4-tone spectra all
    # collapse to near-identical run-of-ones patterns)
    band_freqs = np.geomspace(40.0, 7200.0, 31)
    rows, waves = [], {}
    for i in range(64):
        amps = 0.02 * rng.lognormal(0.0, 1.0, size=31)
        phases = rng.uniform(0.0, 2 * np.pi, size=31)
        w = np.zeros_like(t)
        for fq, am, ph in zip(band_freqs, amps, phases):
            w += am * np.sin(2 * np.pi * fq * t + ph)
        waves[i] = w
        rows.append(
            (i, "audio", bytearray(multimodal.encode_wav(w)),
             (None, None, 16000, 200, "wav"))
        )
    for i in range(8):  # gain-shifted noisy re-encodes of the first 8
        noisy = waves[i] * 0.8 + rng.normal(0.0, 0.01, t.size)
        rows.append(
            (1000 + i, "audio", bytearray(multimodal.encode_wav(noisy)),
             (None, None, 16000, 200, "wav"))
        )
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA).coalesce(8)
    fp = multimodal.audio_fingerprint(media).withColumnRenamed("afp", "ahash")
    pairs = multimodal.hamming_near_pairs(fp, bits=31, max_hamming=3)
    return pairs.orderBy("id_a", "id_b")


_IMAGE_DEDUP_AHASH_SQL = """
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(hamming AS INTEGER) AS hamming
FROM (VALUES (0, 1000, 1), (1, 1001, 2), (2, 1002, 0), (3, 1003, 0),
             (4, 1004, 0), (5, 1005, 0), (6, 1006, 2), (7, 1007, 2))
  AS t(id_a, id_b, hamming)
"""


_IMAGE_DEDUP_PHASH_SQL = """
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(hamming AS INTEGER) AS hamming
FROM (VALUES (0, 1000, 2), (1, 1001, 4), (2, 1002, 0), (3, 1003, 2),
             (4, 1004, 2), (5, 1005, 2), (6, 1006, 4), (7, 1007, 4))
  AS t(id_a, id_b, hamming)
"""


# Full deterministic audio pair output (418 rows) as a compact
# id_a:id_b:hamming literal — see audio_dedup_fp's docstring.
_AUDIO_FP_PAIRS = (  # noqa: E501
    "0:6:1|0:15:2|0:21:3|0:22:1|0:34:2|0:40:2|0:41:1|0:1000:0|0:1006:1|1:9:2|1:19:2|1:28:3|1:29:3|1:30:3|1:33:2|1:37:2|1:58:2|1:63:2|1:1001:1|2:35:3|2:1002:0|3:12:3|3:13:1|3:16:2|3:18:3|3:20:2|3:24:2|3:26:2|3:27:1|3:45:3|3:49:3|3:50:1|3:1003:0|4:8:0|4:9:2|4:11:1|4:12:2|4:16:3|4:19:2|4:28:1|4:29:1|4:30:1|4:31:3|4:33:2|4:37:2|4:38:1|4:39:1|4:48:1|4:49:2|4:53:1|4:57:0|4:58:2|4:63:2|4:1001:3|4:1004:0|5:9:2|5:19:2|5:28:3|5:29:3|5:30:3|5:31:3|5:33:2|5:37:2|5:53:3|5:58:2|5:63:2|5:1001:3|5:1005:0|6:15:3|6:22:2|6:34:1|6:40:1|6:41:2|6:46:3|6:51:3|6:61:3|6:1000:1|6:1006:0|7:1007:0|8:9:2|8:11:1|8:12:2|8:16:3|8:19:2|8:28:1|8:29:1|8:30:1|8:31:3|8:33:2|8:37:2|8:38:1|8:39:1|8:48:1|8:49:2|8:53:1|8:57:0|8:58:2|8:63:2|8:1001:3|8:1004:0|9:11:3|9:19:0|9:28:1|9:29:1|9:30:1|9:31:3|9:33:0|9:37:0|9:38:3|9:39:3|9:48:3|9:53:3|9:54:3|9:57:2|9:58:0|9:63:0|9:1001:1|9:1004:2|9:1005:2|10:15:3|10:21:2|10:24:3|10:26:3|10:35:1|10:45:2|10:47:1|10:52:3|10:56:3|10:62:1|11:12:1|11:16:2|11:18:3|11:19:3|11:27:3|11:28:2|11:29:2|11:30:2|11:31:2|11:32:3|11:33:3|11:37:3|11:38:0|11:39:0|11:48:0|11:49:1|11:53:2|11:57:1|11:58:3|11:63:3|11:1004:1|12:16:1|12:27:2|12:28:3|12:29:3|12:30:3|12:31:3|12:32:2|12:38:1|12:39:1|12:48:1|12:49:0|12:53:3|12:57:2|12:1003:3|12:1004:2|13:16:3|13:18:2|13:20:3|13:23:3|13:24:1|13:26:1|13:27:2|13:45:2|13:47:3|13:50:0|13:1003:1|15:21:1|15:22:1|15:35:2|15:41:1|15:1000:2|15:1006:3|16:27:1|16:32:3|16:38:2|16:39:2|16:48:2|16:49:1|16:50:3|16:57:3|16:1003:2|16:1004:3|17:59:2|18:24:3|18:26:3|18:31:3|18:38:3|18:39:3|18:48:3|18:50:2|18:53:3|18:1003:3|19:28:1|19:29:1|19:30:1|19:31:3|19:33:0|19:37:0|19:38:3|19:39:3|19:48:3|19:53:3|19:54:3|19:57:2|19:58:0|19:63:0|19:1001:1|19:1004:2|19:1005:2|20:27:3|20:50:3|20:1003:2|21:22:2|21:35:1|21:41:2|21:47:3|21:56:3|21:62:3|21:1000:3|22:34:3|22:35:3|22:40:3|22:41:0|22:1000:1|22:1006:2|23:24:2|23:26:2|23:45:3|23:50:3|24:26:0|24:27:3|24:45:1|24:47:2|24:50:1|24:1003:2|25:34:3|25:40:3|25:44:3|25:46:1|26:27:3|26:45:1|26:47:2|26:50:1|26:1003:2|27:31:3|27:38:3|27:39:3|27:48:3|27:49:2|27:50:2|27:1003:1|28:29:0|28:30:0|28:33:1|28:37:1|28:38:2|28:39:2|28:48:2|28:49:3|28:53:2|28:57:1|28:58:1|28:63:1|28:1001:2|28:1004:1|28:1005:3|29:30:0|29:33:1|29:37:1|29:38:2|29:39:2|29:48:2|29:49:3|29:53:2|29:57:1|29:58:1|29:63:1|29:1001:2|29:1004:1|29:1005:3|30:33:1|30:37:1|30:38:2|30:39:2|30:48:2|30:49:3|30:53:2|30:57:1|30:58:1|30:63:1|30:1001:2|30:1004:1|30:1005:3|31:33:3|31:37:3|31:38:2|31:39:2|31:48:2|31:49:3|31:57:3|31:58:3|31:63:3|31:1004:3|31:1005:3|32:38:3|32:39:3|32:48:3|32:49:2|33:37:0|33:38:3|33:39:3|33:48:3|33:53:3|33:54:3|33:57:2|33:58:0|33:63:0|33:1001:1|33:1004:2|33:1005:2|34:40:0|34:41:3|34:46:2|34:61:2|34:1000:2|34:1006:1|35:41:3|35:45:3|35:47:2|35:56:2|35:62:2|35:1002:3|37:38:3|37:39:3|37:48:3|37:53:3|37:54:3|37:57:2|37:58:0|37:63:0|37:1001:1|37:1004:2|37:1005:2|38:39:0|38:48:0|38:49:1|38:53:2|38:57:1|38:58:3|38:63:3|38:1004:1|39:48:0|39:49:1|39:53:2|39:57:1|39:58:3|39:63:3|39:1004:1|40:41:3|40:46:2|40:61:2|40:1000:2|40:1006:1|41:1000:1|41:1006:2|43:60:0|45:47:1|45:50:2|45:62:3|45:1003:3|46:1006:3|47:50:3|47:62:2|48:49:1|48:53:2|48:57:1|48:58:3|48:63:3|48:1004:1|49:53:3|49:57:2|49:1003:3|49:1004:2|50:1003:1|51:1006:3|52:62:2|53:57:1|53:58:3|53:63:3|53:1004:1|53:1005:3|54:58:3|54:63:3|57:58:2|57:63:2|57:1001:3|57:1004:0|58:63:0|58:1001:1|58:1004:2|58:1005:2|61:1006:3|63:1001:1|63:1004:2|63:1005:2|1000:1006:1|1001:1004:3|1001:1005:3"
)

_AUDIO_DEDUP_FP_SQL = f"""
SELECT CAST(split_part(x, ':', 1) AS BIGINT) AS id_a,
       CAST(split_part(x, ':', 2) AS BIGINT) AS id_b,
       CAST(split_part(x, ':', 3) AS INTEGER) AS hamming
FROM (SELECT unnest(string_split('{_AUDIO_FP_PAIRS}', '|')) AS x)
"""


def streaming_interval_join(spark, sf_dir):
    """Watermarked stream-stream interval join, drained with availableNow
    and ORACLE-CHECKED: with an eviction-free watermark over a finite
    input, the inner interval join's output equals the batch join, so the
    streaming runtime itself is held to the DuckDB oracle (ts values are
    exactly microsecond-granular — verified — so interval arithmetic
    agrees across engines). Production deployments use a tight watermark;
    state stays bounded by watermark + interval width either way.
    """

    from henbun_spark import streaming

    ev = _load(spark, sf_dir, "events")
    stream, base = _file_stream(ev, "henbun_sjoin_")
    clicks = stream.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("click_id")
    )
    purchases = stream.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("purchase_id")
    )
    joined = streaming.interval_join_streams(
        clicks,
        purchases,
        on="user_id",
        left_ts="c_ts",
        right_ts="p_ts",
        lower="interval 0 seconds",
        upper="interval 6 hours",
        watermark="3650 days",
    )
    out = joined.select(
        F.col("l.user_id").alias("user_id"), "click_id", "purchase_id"
    )
    out_dir = f"{base}/out"
    _drain_to_parquet(spark, out, out_dir, f"{base}/ckpt")
    return spark.read.parquet(out_dir)


_STREAM_IJOIN_SQL = """
SELECT l.user_id, l.event_id AS click_id, r.event_id AS purchase_id
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND l.event_type = 'click' AND r.event_type = 'purchase'
 AND r.ts >= l.ts - INTERVAL 6 HOUR
 AND r.ts <= l.ts
"""


def streaming_sessionize(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState
    gap-sessionization) held to the batch SQL oracle: a sentinel event
    per user, 2 hours after that user's last real event, closes every
    real session through the data path, so the drained streaming output
    equals batch sessionization exactly. Only the sentinel's own open
    session stays in state (never emitted; absent from the oracle too).
    Hash covers the integer session structure (bounds in µs, event
    count) — float totals are tested elsewhere (accumulation order is
    engine-specific)."""

    from henbun_spark import streaming

    ev = _load(spark, sf_dir, "events").select("user_id", "ts", "value")
    sentinels = ev.groupBy("user_id").agg(
        (F.max("ts") + F.expr("INTERVAL 2 HOURS")).alias("ts")
    ).select("user_id", "ts", F.lit(0.0).alias("value"))
    data = ev.unionByName(sentinels)
    stream, base = _file_stream(data, "henbun_ssess_")
    sess = streaming.sessionize_stream(
        stream, gap_minutes=30.0, watermark="3650 days"
    )
    out = sess.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
    )
    out_dir = f"{base}/out"
    _drain_to_parquet(spark, out, out_dir, f"{base}/ckpt")
    return spark.read.parquet(out_dir)


_STREAM_SESS_SQL = """
WITH marked AS (
  SELECT user_id, ts,
    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
           OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800
         THEN 1 ELSE 0 END AS new_sess
  FROM events),
sess AS (
  SELECT user_id, ts,
    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked)
SELECT user_id,
  epoch_us(min(ts)) AS session_start_us,
  epoch_us(max(ts)) AS session_end_us,
  count(*)::INT AS n_events
FROM sess GROUP BY user_id, sid
"""


def ann_topk_lsh(spark, sf_dir):
    """Approximate NN via sign-random-projection LSH buckets with
    1-bit multi-probe (the 100 TB serving path). HASH-CHECKED: the
    seeded planes, bucket bits, XOR probe masks, cosine fold order, and
    the (cos DESC, neighbor_id) tie-break are all deterministic, so the
    oracle replays the identical bucketing with the plane coefficients
    as literals — the same pattern that makes `emb_near_dup_lsh` exact.
    Recall vs the exact brute force is separately pytest-asserted."""
    from henbun_spark.operators import similarity

    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return similarity.ann_topk(
        emb, queries, k=3, n_planes=4, seed=42, dim=64, probe_hamming=1
    )


def _ann_lsh_sql() -> str:
    from henbun_spark.operators.similarity import _planes

    bucket = _emb_lsh_bucket_sql(_planes(64, 4, 42))
    # probe masks for probe_hamming=1 over 4 planes: self + 4 bit flips
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
q AS (SELECT b.vec_id AS query_id, v AS qv, xor(bucket, m) AS bucket
      FROM b CROSS JOIN (SELECT unnest([0,1,2,4,8]::BIGINT[]) AS m)
      WHERE b.vec_id < 5),
scored AS (
  SELECT q.query_id, b.vec_id AS neighbor_id, {_cos_sql('qv', 'v')} AS cos
  FROM b JOIN q ON b.bucket = q.bucket
  WHERE b.vec_id <> q.query_id)
SELECT query_id, neighbor_id, cos, rank::INT AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored)
WHERE rank <= 3
"""


_ANN_LSH_SQL = _ann_lsh_sql()


def hard_negatives_emb(spark, sf_dir):
    """Contrastive-training pair mining — the embedding-training prep
    step (hard negatives a la DPR/SimCSE): for each query vector, the
    top-5 most-similar documents BELOW the positive threshold (cos <
    0.35) are its hard negatives, alongside the count of positives
    (cos >= 0.35). One broadcast of the query side, one corpus scan,
    one keyed window — the exact plan shape of `sim_cosine_topk` with a
    threshold split. The cosine fold order matches the oracle
    bit-for-bit, so the threshold boundary and ranking are
    hash-checkable."""
    from henbun_spark.operators.dedup import cosine

    emb = _load(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cvec"),
    )
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qvec"),
    )
    scored = (
        corpus.join(F.broadcast(queries))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine(F.col("qvec"), F.col("cvec")).alias("cos"))
    )
    # n_positives as a tiny groupBy + broadcast join, NOT a
    # full-partition window: the window shape shuffled and buffered
    # every scored pair a second time just to attach a per-query
    # scalar; the aggregate is map-side combinable and 20 rows
    pos = scored.groupBy("query_id").agg(
        F.sum(F.when(F.col("cos") >= 0.35, 1).otherwise(0))
        .cast("long")
        .alias("n_positives")
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.where(F.col("cos") < 0.35)
        .withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= 5)
        .join(F.broadcast(pos), "query_id")
        .select("query_id", "n_positives", "neighbor_id", "cos", "rank")
    )


_HARD_NEG_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, {_cos_sql('qv', 'v')} AS cos
  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
pos AS (
  SELECT query_id,
    SUM(CASE WHEN cos >= 0.35 THEN 1 ELSE 0 END)::BIGINT AS n_positives
  FROM scored GROUP BY query_id)
SELECT query_id, n_positives, neighbor_id, cos, rank::INT AS rank FROM (
  SELECT s.query_id, p.n_positives, s.neighbor_id, s.cos,
    row_number() OVER (PARTITION BY s.query_id
                       ORDER BY s.cos DESC, s.neighbor_id ASC) AS rank
  FROM scored s JOIN pos p USING (query_id)
  WHERE s.cos < 0.35)
WHERE rank <= 5
"""


def ann_topk_ivf(spark, sf_dir):
    """Approximate NN via an IVF index: k-means coarse quantizer (driver
    sample), cell-keyed equi-join, exact cosine refine within nprobe
    cells. ORACLE-CHECKED (r7, retiring the rows-only driver row): the
    trained candidate sets have no SQL form, so the contract output is
    the EXACT cosine top-3 for 5 payload queries (the `sim_cosine_topk`
    oracle recipe — same dot-product fold order, bitwise) plus
    `recall_ok`: the IVF path's recall@3 measured over a WIDER 25-query
    set (75 pairs — r10, the bound-margin sweep found the 15-pair set
    one discrete step from the 1/3 bound) stays >= 1/3; nprobe=2 of 8
    cells examines ~25% of a random-embedding corpus, chance would be
    ~0.25, measured 0.47-0.60 across SFs at this seed. Bounded 75-row
    collects; a broken quantizer or cell join flips the boolean and
    fails the driver hash."""
    from henbun_spark.operators import similarity

    emb = _load(spark, sf_dir, "embeddings")
    wide = emb.where(F.col("vec_id") < 25)
    approx = similarity.ivf_topk(
        emb, wide, k=3, n_cells=8, nprobe=2, train_sample=2000, seed=42
    )
    exact_wide = similarity.cosine_topk(emb, wide, k=3)
    # the two measurement collects are independent jobs (r12)
    exact_rows, approx_rows = _overlap(exact_wide.collect, approx.collect)
    eset = {(r["query_id"], r["neighbor_id"]) for r in exact_rows}
    aset = {(r["query_id"], r["neighbor_id"]) for r in approx_rows}
    # empty query set -> exact frame is empty, the boolean is unread
    ok = (not eset) or len(eset & aset) / len(eset) >= (1.0 / 3.0)
    if eset:
        _rec_bound("ann_topk_ivf", "recall_ok",
                   len(eset & aset) / len(eset), 1.0 / 3.0, ">=",
                   step=1.0 / len(eset))
    # the 5-query contract payload is the query_id < 5 slice of the
    # already-collected 25-query exact frame (cosine_topk ranks per
    # query, so a query's top-3 is batch-independent) — rebuild it as a
    # local frame instead of re-executing a second cosine_topk pipeline
    # at the sink (r12, guide §5: the values are the same collected
    # rows; only the second corpus scan is gone)
    exact = spark.createDataFrame(
        [r for r in exact_rows if r["query_id"] < 5], exact_wide.schema
    )
    return exact.withColumn("recall_ok", F.lit(bool(ok)))


# ---------------------------------------------------------------------------
# TPC-H query shapes, round 4: the remaining standard forms expressible
# without a partsupp table (q2/q9/q11/q16/q20 need it).  Each exercises a
# distinct plan shape: fact-fact joins (q7/q10), conditional-sum ratio
# (q8), pre-aggregated outer join (q13), scalar-max subquery (q15),
# correlated-subquery decorrelation (q17), groupBy-HAVING-then-enrich
# (q18), disjunctive pushdown (q19), EXISTS/NOT-EXISTS pair (q21).
# ---------------------------------------------------------------------------

def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: bidirectional nation-pair trade volume by ship
    year.

    At scale: the one fact-fact join (lineitem x orders) is keyed on
    orderkey with no broadcast hint — AQE broadcasts at bench SF,
    sort-merge at 100 TB.  The nation-pair filter is applied to the tiny
    broadcast sides *before* their joins, so fact rows not touching the
    two nations never survive the supplier join (~2/25 selectivity ahead
    of the expensive orders join).
    """
    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    supp = _load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = _load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _load(spark, sf_dir, "nation")
    pair = ("NATION_1", "NATION_2")
    n1 = nation.where(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.where(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(_dsum(vol, "revenue"), F.count(F.lit(1)).alias("n_items"))
    )


_Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
  {_sql_dsum('volume', 'revenue')},
  COUNT(*) AS n_items
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
    CAST(year(l_shipdate) AS INT) AS l_year,
    l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01') t
GROUP BY supp_nation, cust_nation, l_year
"""


def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of a regional market for one
    part type, by order year.

    The share is nation_volume / total_volume with BOTH sums
    decimal-exact, so the two engines divide bit-identical doubles.
    Dims are filtered before broadcast (part to one type, customers
    semi-reduced to the region's nations); the lineitem x orders join is
    AQE-planned.
    """
    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    orders = _load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    cust = _load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _load(spark, sf_dir, "nation")
    region = _load(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    region_nations = nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("c_nk"))
    amer_cust = cust.join(
        F.broadcast(region_nations), F.col("c_nationkey") == F.col("c_nk")
    ).select("c_custkey")
    supp_nation = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    tgt = F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(F.lit(0.0))
    return (
        li.join(
            part.select("p_partkey"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            orders.select("o_orderkey", "o_custkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(amer_cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(_dsum(tgt, "nation_volume"), _dsum(vol, "total_volume"))
        .withColumn(
            "mkt_share", F.col("nation_volume") / F.col("total_volume")
        )
    )


# duckdb can't reuse SELECT aliases inside sibling expressions, so the two
# dsums are computed once in an inner query and the ratio taken outside
# (same trick as Q1's averages, hoisted a level for readability).
_Q8_SQL = f"""
SELECT o_year, nation_volume, total_volume,
  nation_volume / total_volume AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
    {_sql_dsum(
        "CASE WHEN n2.n_name = 'NATION_5'"
        " THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END",
        'nation_volume')},
    {_sql_dsum('l_extendedprice * (1 - l_discount)', 'total_volume')}
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
    AND o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate < TIMESTAMP '1997-01-01'
  GROUP BY 1) t
"""


def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in a
    half-year window.  Both fact filters (returnflag, date window) push to
    the parquet scans; lineitem x orders shuffles on orderkey (AQE);
    customer/nation broadcast; the final top-k is a 20-row
    TakeOrderedAndProject, never a full sort.
    """
    li = _load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = _load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    cust = _load(spark, sf_dir, "customer")
    nation = _load(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_dsum(rev, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


_Q10_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
  {_sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: distribution of orders-per-customer including the
    zero bucket.

    Decorrelated the scale-friendly way: orders pre-aggregate to one row
    per customer BEFORE the outer join (instead of LEFT JOIN + per-key
    count over the fanned-out rows), so the join's build side is already
    |customers|-sized and the second aggregate groups ~dozens of distinct
    counts.  Matches the classic ON-clause-filtered LEFT OUTER formulation
    exactly (filter applied pre-join == ON predicate).
    """
    cust = _load(spark, sf_dir, "customer").select("c_custkey")
    orders = _load(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    ord_counts = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return (
        cust.join(ord_counts, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(
            F.coalesce(F.col("n_orders"), F.lit(0).cast("bigint")).alias(
                "c_count"
            )
        )
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


_Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey) t
GROUP BY c_count
"""


def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: CTE + scalar-max subquery.  Quarterly revenue per
    supplier, keep the supplier(s) achieving the global max.  The
    decimal-exact revenue makes the equality comparison stable across
    engines; the 1-row max is joined back (broadcast), never collected to
    the driver.
    """
    li = _load(spark, sf_dir, "lineitem")
    supp = _load(spark, sf_dir, "supplier")
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            _dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "total_revenue",
            )
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


_Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey,
    {_sql_dsum('l_extendedprice * (1 - l_discount)', 'total_revenue')}
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    quantity) decorrelated into a pre-aggregation + join on partkey.

    The brand filter is applied FIRST (broadcast semi-reduction of
    lineitem), then the per-part average runs over only the surviving
    parts' rows — identical to the correlated semantics, since the
    subquery is only ever evaluated for brand-matching parts.  The
    0.2*avg threshold is deterministic across engines because quantities
    are integer-valued doubles (their sum is exact).
    """
    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    filtered = li.join(
        part.select("p_partkey"),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    per_part = filtered.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        filtered.join(
            per_part, F.col("l_partkey") == F.col("ap_partkey")
        )
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice"), 6).cast("decimal(38,6)")
            ).alias("_s"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            (F.col("_s").cast("double") / 7.0).alias("avg_yearly"), "n_items"
        )
    )


_Q17_SQL = """
SELECT CAST(SUM(CAST(ROUND(l_extendedprice, 6) AS DECIMAL(38,6))) AS DOUBLE)
         / 7.0 AS avg_yearly,
  COUNT(*) AS n_items
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < (
    SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = p_partkey)
"""


def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: groupBy-HAVING on the bare fact, then enrich.

    The heavy aggregate runs on (orderkey, sum_qty) alone — no dim
    columns ride through the shuffle — and only qualifying orders (a few
    hundred per million) join back to orders/customer, where AQE sees the
    tiny filtered side and broadcasts it.  sum(l_quantity) is exact
    (integer-valued doubles), so the HAVING cut is engine-stable.
    """
    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    cust = _load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 250.0)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("o_orderdate_epoch"),
            "o_totalprice",
            "sum_qty",
        )
    )


_Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey,
  epoch(o_orderdate)::BIGINT AS o_orderdate_epoch, o_totalprice, sum_qty
FROM (
  SELECT l_orderkey, SUM(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey) t
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE sum_qty > 250.0
"""


def q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: OR of conjunctive predicate groups spanning both
    join sides.  Catalyst extracts the common l_partkey = p_partkey
    equi-key for the broadcast hash join and evaluates the residual
    disjunction post-join; the per-side prunable parts of the OR
    (quantity/size bounds) are pushed into the scans.
    """
    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part")
    j = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    c1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    )
    c2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
    )
    c3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.where(c1 | c2 | c3).agg(
        _dsum(rev, "revenue"), F.count(F.lit(1)).alias("n_items")
    )


_Q19_SQL = f"""
SELECT {_sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
  COUNT(*) AS n_items
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""


def q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape (adapted: this schema has no commit/receipt dates,
    so 'late' = shipped more than 60 days after the order date).
    Suppliers who were the SOLE late shipper in a multi-supplier finished
    order.

    The classic EXISTS / NOT-EXISTS pair (see the oracle SQL) is
    decorrelated into ONE per-order aggregation: distinct suppliers and
    distinct late suppliers per order, keeping late rows of orders with
    >= 2 suppliers where exactly one was late (necessarily the row's
    own).  One shuffle on orderkey for the stats + one orderkey join back
    — no correlated re-scans of the fact, which is what a naive
    translation would do twice.
    """
    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    supp = _load(spark, sf_dir, "supplier")
    j = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 60 DAYS"
    )
    stats = (
        j.withColumn("is_late", late)
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(
                F.when(F.col("is_late"), F.col("l_suppkey"))
            ).alias("n_late_supp"),
        )
        .where((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .select("l_orderkey")
    )
    return (
        j.where(late)
        .join(stats, "l_orderkey")
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(10)
    )


_Q21_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 10
"""


def window_functions_suite(spark, sf_dir):
    """Ranking/navigation window-function surface (§2.10): lag, lead,
    ntile, percent_rank, cume_dist, first_value, nth_value, row_number
    over a per-customer order timeline.  All eight share one window spec,
    so they evaluate in a single pass after one shuffle keyed on
    o_custkey; the (o_orderdate, o_orderkey) ordering is total, making
    every function deterministic.
    """
    orders = _load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cdist"),
        F.first("o_totalprice").over(w).alias("first_price"),
        F.nth_value("o_totalprice", 2).over(wf).alias("second_price"),
        F.row_number().over(w).alias("rn"),
    )


_WINDOW_SUITE_SQL = """
SELECT o_custkey, o_orderkey,
  lag(o_totalprice) OVER w AS prev_price,
  lead(o_totalprice) OVER w AS next_price,
  CAST(ntile(4) OVER w AS INT) AS quartile,
  percent_rank() OVER w AS pct_rank,
  cume_dist() OVER w AS cdist,
  first_value(o_totalprice) OVER w AS first_price,
  nth_value(o_totalprice, 2) OVER wf AS second_price,
  CAST(row_number() OVER w AS INT) AS rn
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def approx_distinct_events(spark, sf_dir):
    """Approximate aggregation (§2.10): HyperLogLog++ distinct-user
    estimate per event type next to the exact count.  The HLL sketch
    merges associatively, so the plan is one partial-aggregatable shuffle
    at any scale — the exact countDistinct, by contrast, needs the full
    (event_type, user_id) expansion; at 100 TB only the sketch survives.
    ORACLE-CHECKED (r7, retiring the rows-only driver row): HLL
    register values are engine-specific, so the contract output carries
    the EXACT per-type distinct count and event count (hash-checked)
    plus `approx_ok` — the estimate within the pytest bound
    (max(5% of exact, 2)); a broken sketch path flips the boolean and
    fails the driver hash.
    """
    ev = _load(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("__approx"),
        F.countDistinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    if _RECORD_BOUNDS:
        # worst per-type margin: allowed error minus actual error, in
        # units of one distinct user (the statistic's discrete step)
        worst = agg.select(
            (
                F.greatest(F.lit(2.0), F.col("exact_users") * F.lit(0.05))
                - F.abs(F.col("__approx") - F.col("exact_users"))
            ).alias("m")
        ).agg(F.min("m")).collect()[0][0]
        _rec_bound("approx_distinct_events", "approx_ok",
                   float(worst), 0.0, ">=", step=1.0)
    return agg.select(
        "event_type",
        (
            F.abs(F.col("__approx") - F.col("exact_users"))
            <= F.greatest(F.lit(2.0), F.col("exact_users") * F.lit(0.05))
        ).alias("approx_ok"),
        "exact_users",
        "n_events",
    )


_APPROX_DISTINCT_SQL = """
SELECT event_type, TRUE AS approx_ok,
  COUNT(DISTINCT user_id)::BIGINT AS exact_users,
  COUNT(*)::BIGINT AS n_events
FROM events GROUP BY 1
"""


def mix_corpus_sources(spark, sf_dir):
    """Weighted deterministic corpus re-mix (SURVEY §2.11): keep N% of
    each source by md5(id) bucket — a pure-Column filter, zero shuffle,
    stable under data growth.  Result: per-source survivor counts."""
    from henbun_spark.operators import pipeline

    docs = _load(spark, sf_dir, "documents")
    rates = {"src0": 100, "src1": 75, "src2": 50, "src3": 25}
    mixed = pipeline.mix_sources(
        docs, "source", "doc_id", rates, salt="mix", default_pct=10
    )
    return mixed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast("bigint")).alias("sum_chars"),
    )


_MIX_SQL = f"""
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE ({_md5_prefix_sql('doc_id', 'mix')} % 100) <
  CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 75
              WHEN 'src2' THEN 50 WHEN 'src3' THEN 25 ELSE 10 END
GROUP BY source
"""


def pack_sequences_docs(spark, sf_dir):
    """Next-fit sequence packing (SURVEY §2.11): documents laid out in
    deterministic md5 order within each source shard, binned by the
    training-sequence index where they start (budget 512 tokens, tokens
    estimated as floor(n_chars/4)+1).  One window shuffle keyed on the
    shard column; integer cumsums are engine-exact."""
    from henbun_spark.operators import pipeline

    docs = _load(spark, sf_dir, "documents").withColumn(
        "tok_est", (F.floor(F.col("n_chars") / 4) + 1).cast("long")
    )
    packed = pipeline.pack_sequences(
        docs, "doc_id", "tok_est", budget=512, part_col="source", salt="pack"
    )
    return packed.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok_est").alias("sum_tokens"),
        F.min("start_offset").alias("first_offset"),
    )


_PACK_SQL = f"""
WITH t AS (
  SELECT source, doc_id, (n_chars // 4 + 1)::BIGINT AS tok_est
  FROM documents),
o AS (
  SELECT source, doc_id, tok_est,
    SUM(tok_est) OVER (
      PARTITION BY source
      ORDER BY md5('pack' || '|' || CAST(doc_id AS VARCHAR)), doc_id
      ROWS UNBOUNDED PRECEDING) - tok_est AS start_offset
  FROM t)
SELECT source, CAST(start_offset // 512 AS BIGINT) AS bin, COUNT(*) AS n_docs,
  CAST(SUM(tok_est) AS BIGINT) AS sum_tokens,
  CAST(MIN(start_offset) AS BIGINT) AS first_offset
FROM o
GROUP BY source, start_offset // 512
"""


def streaming_corpus_ingest(spark, sf_dir):
    """STREAMING corpus-ingest ETL — the production shape of
    `pipeline_clean_corpus` minus the cross-doc dedup: documents arrive
    as a file stream (one file per trigger) and every scoring step
    (quality heuristic, language ID, token estimate) plus the quality
    gate runs as stateless map-only Column code inside each micro-batch
    — zero streaming state, so the pipeline sustains any rate and any
    history length. The sink parquet is aggregated per language and
    ORACLE-CHECKED against the batch SQL over the same table: a finite
    drain of a stateless pipeline must equal the batch run exactly."""
    from henbun_spark import streaming
    from henbun_spark.operators import text

    docs = _load(spark, sf_dir, "documents")
    stream, base = _file_stream(docs, "henbun_singest_", one_file_per_batch=True)
    scored = text.bpe_ish_token_count(text.lang_id(text.quality_score(stream)))
    kept = scored.where(F.col("quality") >= 0.5).select(
        "doc_id", "pred_lang", "quality",
        F.col("token_estimate").cast("long").alias("token_estimate"),
    )
    out_dir = f"{base}/out"
    streaming.run_available_now(kept, f"{base}/ckpt", out_dir)
    return (
        spark.read.parquet(out_dir)
        .groupBy("pred_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("token_estimate").alias("sum_tokens"),
            _dsum(F.col("quality"), "sum_quality"),
        )
    )


_STREAM_INGEST_SQL = f"""
WITH t AS (
  SELECT doc_id, text,
    list_filter(string_split(text, ' '), x -> x <> '') AS toks,
    length(text) AS n_chars
  FROM documents
), scored AS (
  SELECT doc_id, toks,
    0.4 * least(n_chars / 500.0, 1.0)
    + 0.3 * (1 - (n_chars - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                   / greatest(n_chars, 1))
    + 0.3 * least(
        len(list_filter(toks,
          x -> list_contains(['the','a','of','and','to','in','is','on','for','with'], x)))
        / greatest(len(toks), 1) / 0.5, 1.0) AS quality,
    (len(toks) + CAST(ceil(length(text) / 16.0) AS INT)) AS token_estimate
  FROM t
), langed AS (
  SELECT doc_id, quality, token_estimate,
  {_LANG_SCORES}
  FROM scored
), pred AS (
  SELECT doc_id, quality, token_estimate,
    CASE {_LANG_CASE} END AS pred_lang
  FROM (SELECT *, greatest(score_de, score_en, score_es, score_fr, score_zh)
          AS best FROM langed)
)
SELECT pred_lang, COUNT(*) AS n_docs,
  CAST(SUM(token_estimate) AS BIGINT) AS sum_tokens,
  {_sql_dsum('quality', 'sum_quality')}
FROM pred
WHERE quality >= 0.5
GROUP BY pred_lang
"""


def training_shards_docs(spark, sf_dir):
    """Deterministic training-shard layout — the sink step after packing:
    every doc lands in shard = md5 bucket (a layout/retry-independent
    "global shuffle" with no global sort), ordered WITHIN its shard by a
    second independent md5 key (the deterministic permutation training
    jobs want for reproducible batches). One hash-keyed window per
    shard; at 100 TB each shard is a partitionBy directory written in
    parallel. The per-shard manifest carries an order checksum
    (sum(position * doc_id), exact integer math) that pins the
    within-shard permutation itself — the oracle verifies the ORDER, not
    just membership."""
    n_shards = 8
    docs = _load(spark, sf_dir, "documents").select(
        "doc_id",
        (F.floor(F.col("n_chars") / 4) + 1).cast("long").alias("tok_est"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("shard|"), F.col("doc_id").cast("string"))),
                    1, 6,
                ), 16, 10,
            ).cast("long") % n_shards
        ).cast("int").alias("shard"),
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ord|"), F.col("doc_id").cast("string"))),
                1, 6,
            ), 16, 10,
        ).cast("long").alias("ord"),
    )
    w = Window.partitionBy("shard").orderBy("ord", "doc_id")
    pos = docs.withColumn("pos", F.row_number().over(w).cast("long"))
    return pos.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok_est").alias("sum_tokens"),
        F.sum(F.col("pos") * F.col("doc_id")).alias("order_checksum"),
    )


_SHARDS_SQL = f"""
WITH keyed AS (
  SELECT doc_id, (n_chars // 4 + 1)::BIGINT AS tok_est,
    ({_md5_prefix_sql('doc_id', 'shard')} % 8)::INT AS shard,
    {_md5_prefix_sql('doc_id', 'ord')}::BIGINT AS ord
  FROM documents),
po AS (
  SELECT shard, tok_est, doc_id,
    row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id)::BIGINT AS pos
  FROM keyed)
SELECT shard, COUNT(*)::BIGINT AS n_docs,
  SUM(tok_est)::BIGINT AS sum_tokens,
  SUM(pos * doc_id)::BIGINT AS order_checksum
FROM po GROUP BY shard
"""


def contamination_check(spark, sf_dir):
    """Benchmark decontamination scan (SURVEY §2.11): corpus docs sharing
    any 12-char gram with the held-out 'benchmark' slice (3% of docs by
    md5 bucket).  Inverted-index semi-join keyed on the gram — shuffle is
    O(matching grams), never corpus x benchmark."""
    from henbun_spark.operators import pipeline, sampling

    docs = _load(spark, sf_dir, "documents")
    bucket = sampling._hash_bucket(F.col("doc_id"), "bench")
    benchmark = docs.where(bucket < 3)
    corpus = docs.where(bucket >= 3)
    return pipeline.contamination_overlap(
        corpus, benchmark, "text", "doc_id", n=12, min_overlap=1
    )


_CONTAM_SQL = f"""
WITH bucketed AS (
  SELECT doc_id, text, ({_md5_prefix_sql('doc_id', 'bench')} % 100) AS bk
  FROM documents),
bench_grams AS (
  SELECT DISTINCT substr(text, i, 12) AS shingle
  FROM (SELECT text, unnest(generate_series(1, greatest(length(text)-11, 1))) AS i
        FROM bucketed WHERE bk < 3)),
corpus_grams AS (
  SELECT DISTINCT doc_id, substr(text, i, 12) AS shingle
  FROM (SELECT doc_id, text,
          unnest(generate_series(1, greatest(length(text)-11, 1))) AS i
        FROM bucketed WHERE bk >= 3))
SELECT doc_id, COUNT(*) AS n_overlap
FROM corpus_grams
WHERE shingle IN (SELECT shingle FROM bench_grams)
GROUP BY doc_id
HAVING COUNT(*) >= 1
"""


def token_histogram(spark, sf_dir):
    """Equi-width histogram of document lengths (50-char buckets, capped
    at 12): the one-pass profiling shape every corpus build starts with —
    pure Column bucket math + one partial-aggregatable groupBy."""
    docs = _load(spark, sf_dir, "documents")
    bucket = F.least(
        F.lit(11), F.floor(F.col("n_chars") / 50).cast("int")
    ).alias("bucket")
    return docs.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast("bigint")).alias("sum_chars"),
    )


_TOKEN_HIST_SQL = """
SELECT least(11, CAST(n_chars // 50 AS INT)) AS bucket,
  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY 1
"""


def kmeans_embeddings(spark, sf_dir):
    """Distributed Lloyd's k-means (SURVEY §2.11): deterministic
    xxhash-min init, mapInPandas assignment scan per iteration, its
    partials added by `local_replay.sum_partials` (driver sees k x dim
    doubles per partition), final assignment as pure-Column codegen.

    ORACLE-CHECKED (r8, retiring the rows-only driver row): the fit runs
    on PLANTED data — 256 synthesized points in 4 well-separated
    clusters (centers 200 apart on coordinate 0, per-point offsets
    <= 0.47), cluster map `(id*25) % 256 // 64` chosen so the four
    xxhash-min init seeds land in four DISTINCT planted clusters, making
    Lloyd's recovery of the exact planted partition deterministic. All
    values are dyadic rationals, so every float sum is EXACT and
    summation order (partitioning, the fold's shape) cannot move a
    bit: the oracle recomputes per-true-cluster (n_vecs, mean_x0) with
    plain SQL arithmetic over the same synthesis formula. Output drops
    the arbitrary init-dependent cluster LABEL (rows compare
    order-insensitively on the value columns). A mis-init, a broken
    Lloyd's update, or one misassigned point flips counts and fails the
    hash. Corpus-scale k-means stays oracle-pinned via
    `semantic_dedup_emb` and the `ann_topk_ivf`/`ann_topk_pq` coarse
    quantizers, and numpy-parity pytests keep the 1e-8 centroid check."""
    from henbun_spark.operators import clustering

    off = lambda j: (
        ((F.col("id") * 37 + j * 11) % 16).cast("double") - 7.5
    ) / 16.0
    cl = F.expr("CAST(((id*25) % 256) DIV 64 AS INT)")
    # 4 slices, not the 32-core default: 256 rows across 32 Arrow tasks
    # per Lloyd's iteration is pure python-worker startup overhead
    # (measured 3.0 -> 1.3s best-of-3 at 4 slices, byte-identical output
    # — the sums are exact dyadics, partitioning cannot move a bit)
    pts = spark.range(0, 256, 1, 4).select(
        F.col("id").alias("vec_id"),
        F.array(
            *([(cl.cast("double") * 200.0 + off(0))] + [off(j) for j in range(1, 8)])
        ).alias("embedding"),
    )
    centroids, _ = clustering.kmeans_fit(
        pts, "embedding", "vec_id", k=4, max_iter=3
    )
    assigned = clustering.kmeans_assign(pts, "embedding", centroids)
    x0 = F.col("embedding").cast("array<double>")[0]
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.avg(x0).alias("mean_x0"),
        )
        .select("n_vecs", "mean_x0")
    )


#: r8 planted-kmeans oracle: same synthesis arithmetic, grouped by the
#: TRUE cluster — equal to the recovered grouping iff Lloyd's recovers
#: the planted partition exactly (see kmeans_embeddings docstring).
_KMEANS_PLANTED_SQL = """
WITH pts AS (
  SELECT i AS id,
    ((i*25) % 256) // 64 AS cl,
    (((i*25) % 256) // 64) * 200.0 + (((i*37) % 16) - 7.5)/16.0 AS x0
  FROM (SELECT unnest(range(256)) AS i))
SELECT COUNT(*)::BIGINT AS n_vecs, AVG(x0) AS mean_x0
FROM pts GROUP BY cl
"""


def semantic_dedup_emb(spark, sf_dir):
    """SemDeDup-style semantic dedup (SURVEY §2.11): k-means clusters as
    the blocking stage, within-cluster cosine pairs >= 0.95, transitive
    closure, one keeper per semantic group.

    ORACLE-CHECKED (r8, retiring the rows-only driver row): the test
    embeddings have NO natural pairs at cosine >= 0.90 (measured at
    sf0.01 and sf0.1), so planted near-dup copies fully determine the
    duplicate groups. Twelve seeded copies (deterministic multiplicative
    perturbation, |eps| <= 3e-4 per element -> cosine >= 0.999999 vs the
    original, >= 0.95 margin on both sides of the threshold regardless
    of float32 rounding) are unioned in: vec_id 0-3 get TWO copies each
    (3-member components — transitive closure genuinely exercised:
    copy-copy pairs close through the original), 4-11 one copy each.
    The oracle pins the dup components as a VALUES table and the
    singleton count as COUNT(*)-12, so a blocking recall miss (a planted
    pair split across k-means cells), a broken closure, or a keeper bug
    each flips the hash. The k-means path stays REAL and corpus-sized —
    the bench cost is unchanged in kind."""
    from henbun_spark.operators import dedup

    emb = _load(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def _plant(n_copies, offset):
        # perturbation keyed by the NEW id so the two copies of the same
        # original differ from each other; pure integer arithmetic, no
        # libm, so it is deterministic on any engine/platform
        nid = F.col("vec_id") + F.lit(offset)
        pert = F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, j: x * (1.0 + ((nid * 31 + j) % 7 - 3) * 1e-4),
        )
        return emb.where(F.col("vec_id") < n_copies).select(
            nid.alias("vec_id"), pert.cast("array<float>").alias("embedding")
        )

    aug = emb.unionByName(_plant(12, 1_000_000)).unionByName(
        _plant(4, 2_000_000)
    )
    # SemDeDup scales cluster count with corpus size (the paper uses
    # k ~ n/160): blocking cost is sum(cluster^2) ~ n^2/k, so a fixed k
    # degrades quadratically as the corpus grows
    n = emb.count()
    k = max(8, n // 300)
    # blocking-fit parallelism ~n/5000 (see kmeans_fit): at corpus scale
    # this is full fan-out, locally it stops paying 32 Arrow workers to
    # each score ~60 rows per Lloyd iteration (measured 4.3 -> 1.7s)
    labeled = dedup.semantic_dedup(
        aug, "embedding", "vec_id", k=k, threshold=0.95,
        fit_slices=max(4, n // 5000),
    )
    grp = labeled.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.col("is_kept").cast("long")).alias("n_kept"),
    )
    dups = grp.where(F.col("n_members") >= 2)
    singles = grp.where(F.col("n_members") == 1).agg(
        F.count(F.lit(1)).alias("n_singletons")
    )
    # bounded 1-row broadcast cross join (the skew_report_events shape)
    return dups.crossJoin(F.broadcast(singles))


#: r8 semantic-dedup oracle: planted dup components are a deterministic
#: constant (see semantic_dedup_emb docstring); singletons = N - 12.
_SEMANTIC_DEDUP_SQL = """
SELECT CAST(t.component AS BIGINT) AS component,
       CAST(t.n_members AS BIGINT) AS n_members,
       CAST(1 AS BIGINT) AS n_kept,
       s.n_singletons
FROM (VALUES (0, 3), (1, 3), (2, 3), (3, 3),
             (4, 2), (5, 2), (6, 2), (7, 2),
             (8, 2), (9, 2), (10, 2), (11, 2)) AS t(component, n_members)
CROSS JOIN (SELECT (COUNT(*) - 12)::BIGINT AS n_singletons
            FROM embeddings) s
"""


def bpe_train_encode(spark, sf_dir):
    """Distributed BPE tokenizer training (SURVEY §2.11): one corpus pass
    builds the word-frequency table; each merge round is pure-Column
    pair-counting + argmax + fold-rewrite ON THE VOCAB TABLE only.

    ORACLE-CHECKED (r8, retiring the rows-only driver row — the
    bound-boolean recipe, training kept REAL and corpus-sized): the
    learned merge rules are iterative-argmax state with no SQL form
    (their exactness stays pinned by the reference-parity pytest), but
    the tokenizer's defining INVARIANT is checkable per document:
    encoding must be LOSSLESS. `roundtrip_ok` decodes the token
    sequence in-plan (concatenate tokens, `</w>` end-markers back to
    spaces — the corpus contains no literal angle brackets, so the
    marker cannot collide) and compares it to the whitespace-normalized
    text; a corrupted merge table, a fold-rewrite bug that garbles a
    symbol, or an encoder that drops tokens flips the boolean. The
    payload (doc_id, n_chars) is recomputed exactly by the oracle, so
    the scan/coverage side is hash-pinned too."""
    from henbun_spark.operators import bpe

    docs = _load(spark, sf_dir, "documents")
    merges = bpe.bpe_train(docs, "text", n_merges=16)
    enc = bpe.bpe_encode(docs, "text", "doc_id", merges)
    norm = F.array_join(
        F.filter(F.split(F.col("text"), "\\s+"), lambda t: t != F.lit("")),
        " ",
    )
    decoded = F.trim(
        F.regexp_replace(F.array_join(F.col("tokens"), ""), "</w>", " ")
    )
    return (
        enc.join(docs.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            F.length("text").alias("n_chars"),
            (decoded == norm).alias("roundtrip_ok"),
        )
    )


_BPE_ROUNDTRIP_SQL = """
SELECT doc_id, length(text)::INT AS n_chars, TRUE AS roundtrip_ok
FROM documents
"""


def _walsh_planted(spark):
    """The planted PCA input shared by `pca_embeddings` and
    `streaming_pca_gram`: 64 points, dim 8, coordinate k<4 equal to
    a_k * (1 - 2*bit_k(id)) with a = (8,4,2,1), coordinates 4-7 zero.
    Walsh signs are exactly balanced and pairwise orthogonal over
    id in [0,64), and every value is a small dyadic rational — all
    float sums over this data are EXACT (see pca_embeddings). 4 slices
    (64 rows over the 32-core default is pure task overhead; exact sums
    make partitioning bit-irrelevant)."""
    scales = (8.0, 4.0, 2.0, 1.0)
    sign = lambda k: 1.0 - 2.0 * F.shiftright(F.col("id"), k).bitwiseAND(
        F.lit(1)
    ).cast("double")
    return spark.range(0, 64, 1, 4).select(
        F.col("id").alias("vec_id"),
        F.array(
            *([F.lit(a) * sign(k) for k, a in enumerate(scales)]
              + [F.lit(0.0) for _ in range(4)])
        ).alias("embedding"),
    )


def pca_embeddings(spark, sf_dir):
    """Distributed PCA (SURVEY §2.11): one mapInPandas pass reduces the
    input to (n, sum, Gram) sufficient statistics added by
    `local_replay.sum_partials`, driver eigendecomposes, and the
    projection runs as pure-Column codegen with literal coefficients.

    ORACLE-CHECKED (r8, retiring the rows-only driver row): the fit
    runs on the PLANTED axis-aligned data of `_walsh_planted` — 64
    points in dim 8 where coordinate
    k<4 is `a_k * s_k(id)` with Walsh signs `s_k(id) = 1 - 2*bit_k(id)`
    (exactly balanced and pairwise orthogonal over id in [0,64)) and
    scales a = (8,4,2,1); coordinates 4-7 are zero. Every Gram
    cross-moment is a sum of exactly cancelling dyadic terms and every
    mean is exactly 0, so the distributed covariance is EXACTLY diagonal
    regardless of partitioning or summation order; eigh of an exactly
    diagonal matrix returns the axes exactly, the distinct variances
    (64*a_k^2/63) fix the order, and pca_fit's sign canonicalization
    (largest-|coeff| positive) fixes the signs. The projection is then
    exactly `pc_k(id) = a_k * s_k(id)` — plain SQL bit arithmetic, no
    eigendecomposition needed in the oracle. A broken Gram reduction,
    eig ordering, sign canonicalization, or projection literal flips
    the hash. The algorithm is input-agnostic (one pass + O(dim^3)
    driver eig); the corpus-shaped numpy-parity pytest (1e-8) keeps the
    non-planted check."""
    from henbun_spark.operators import decomposition

    pts = _walsh_planted(spark)
    comps, _, mu = decomposition.pca_fit(pts, "embedding", k=4)
    proj = decomposition.pca_project(
        pts.select("vec_id", "embedding"), "embedding", comps, mu
    )
    return proj.select("vec_id", "pc1", "pc2", "pc3", "pc4")


#: r8 planted-PCA oracle: pc_k = a_k * (1 - 2*bit_k(id)) exactly (see
#: pca_embeddings docstring — the planted covariance is exactly
#: diagonal, so the projection is pure bit arithmetic).
_PCA_PLANTED_SQL = """
SELECT i::BIGINT AS vec_id,
  8.0*(1 - 2*((i >> 0) & 1)) AS pc1,
  4.0*(1 - 2*((i >> 1) & 1)) AS pc2,
  2.0*(1 - 2*((i >> 2) & 1)) AS pc3,
  1.0*(1 - 2*((i >> 3) & 1)) AS pc4
FROM (SELECT unnest(range(64)) AS i)
"""


# ---------------------------------------------------------------------------
# round-4 additions: semi-structured, analytics, sketches, array HOFs
# ---------------------------------------------------------------------------

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def json_extract_props(spark, sf_dir):
    """Semi-structured column processing: parse the events.props JSON
    string with an explicit schema (`from_json` — JVM-side, no inference
    pass, malformed rows surface as NULL instead of failing) and
    aggregate the extracted field.

    At scale: schema-on-read with a declared schema is a pure map —
    the JSON parse runs inside whole-stage codegen and the groupBy
    stays 5-group partial-aggregatable."""
    ev = _load(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k INT")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .where(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


_JSON_PROPS_SQL = """
SELECT event_type, COUNT(*) AS n_with_k,
  SUM(k)::BIGINT AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k
FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM events)
WHERE k IS NOT NULL
GROUP BY event_type
"""


def pivot_event_types(spark, sf_dir):
    """Pivot (crosstab): user cohort bucket x event_type -> wide counts.
    Pivot values are DECLARED (no extra distinct pass over the data),
    so the whole query is one partial-aggregatable groupBy; revenue per
    bucket rides along as a decimal-exact sum."""
    ev = _load(spark, sf_dir, "events")
    out = (
        ev.withColumn("bucket", (F.col("user_id") % 10).cast("int"))
        .groupBy("bucket")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, [*_EVENT_TYPES])
    )
    for t in _EVENT_TYPES:
        out = out.withColumnRenamed(t, f"n_{t}")
    return out


_PIVOT_SQL = f"""
SELECT CAST(user_id % 10 AS INT) AS bucket,
  {', '.join(f"COUNT(*) FILTER (WHERE event_type = '{t}') AS n_{t}" for t in _EVENT_TYPES)}
FROM events
GROUP BY 1
"""


def rolling_1h_user_value(spark, sf_dir):
    """Time-range rolling aggregate: per-user trailing-1-hour sum of
    `value` (RANGE frame over event-time, not ROWS — simultaneous
    events share a frame, so the result is deterministic under ties).

    At scale: one keyed sort shuffle; the range frame evaluates with a
    sliding two-pointer inside each partition. Ordering key is epoch
    MICROSECONDS (BIGINT) because the test events have sub-second
    timestamps and integer ordering is engine-exact."""
    ev = _load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    roll = F.sum(F.round(F.col("value"), 6).cast("decimal(38,6)")).over(w)
    return ev.select(
        "event_id", roll.cast("double").alias("rolling_1h_value")
    )


_ROLLING_SQL = """
SELECT event_id,
  CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(38,6)))
       OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE)
    AS rolling_1h_value
FROM events
"""


def cohort_retention(spark, sf_dir):
    """Cohort/retention analysis: users cohorted by first-active day;
    for each (cohort_day, day_offset) count distinct returning users.

    At scale: the per-user first-day table is |users| rows (tiny next to
    the event log) — broadcast back onto events, then one 2-key groupBy
    with a distinct-by-user pre-aggregation that combines map-side."""
    ev = _load(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day")
    )
    first = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(first, "user_id")
        .groupBy("cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"))
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


_COHORT_SQL = """
WITH days AS (
  SELECT user_id, datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day
  FROM events),
first AS (
  SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id)
SELECT cohort_day, day - cohort_day AS day_offset,
  COUNT(DISTINCT days.user_id)::BIGINT AS n_users
FROM days JOIN first ON days.user_id = first.user_id
GROUP BY 1, 2
"""


def cms_frequency_users(spark, sf_dir):
    """Count-min sketch (SURVEY §2.11 sketches): build a 4x256 counter
    table over events.user_id, then point-query every distinct user and
    return estimate next to exact count. The sketch state is <= 1024
    mergeable counters regardless of input size; estimates are
    deterministic (md5 bucket hashing), so the oracle rebuilds the
    identical sketch in SQL."""
    from henbun_spark.operators import sketch

    ev = _load(spark, sf_dir, "events")
    cms = sketch.cms_build(ev, "user_id", depth=4, width=256)
    keys = ev.select("user_id").distinct()
    est = sketch.cms_estimate(cms, keys, "user_id", depth=4, width=256)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    return (
        est.withColumnRenamed("key", "user_id")
        .join(exact, "user_id")
        .select("user_id", "exact_n", F.col("est").alias("cms_n"))
    )


def _cms_sql(depth: int = 4, width: int = 256, salt: str = "cms") -> str:
    def bucket(d: int) -> str:
        h = f"md5('{salt}' || '|' || '{d}' || '|' || coalesce(CAST(user_id AS VARCHAR), chr(0)))"
        val6 = " + ".join(
            f"((instr('0123456789abcdef', substr({h}, {j + 1}, 1)) - 1) * {16 ** (5 - j)})"
            for j in range(6)
        )
        return f"CAST(({val6}) % {width} AS INT)"

    probes = " UNION ALL ".join(
        f"SELECT user_id, {d} AS d, {bucket(d)} AS bucket FROM (SELECT DISTINCT user_id FROM events)"
        for d in range(depth)
    )
    counters = " UNION ALL ".join(
        f"SELECT {d} AS d, {bucket(d)} AS bucket FROM events" for d in range(depth)
    )
    return f"""
WITH cnt AS (
  SELECT d, bucket, COUNT(*) AS cnt FROM ({counters}) GROUP BY d, bucket),
probes AS ({probes}),
est AS (
  SELECT probes.user_id, MIN(coalesce(cnt.cnt, 0)) AS cms_n
  FROM probes LEFT JOIN cnt ON probes.d = cnt.d AND probes.bucket = cnt.bucket
  GROUP BY probes.user_id)
SELECT est.user_id, COUNT(*)::BIGINT AS exact_n, CAST(est.cms_n AS BIGINT) AS cms_n
FROM events JOIN est ON events.user_id = est.user_id
GROUP BY est.user_id, est.cms_n
"""


def array_functions_emb(spark, sf_dir):
    """Array higher-order-function suite over the embedding column:
    transform (square), aggregate (sequential fold — same accumulation
    order as DuckDB list_reduce, so doubles are bit-identical), filter
    (positive components), all inside whole-stage codegen. The float ->
    double widening cast is exact in both engines."""
    emb = _load(spark, sf_dir, "embeddings")
    arr = F.col("embedding").cast("array<double>")
    sq_sum = F.aggregate(
        F.transform(arr, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    return emb.select(
        "vec_id",
        F.round(F.sqrt(sq_sum), 6).alias("l2_norm"),
        F.size(F.filter(arr, lambda x: x > 0)).alias("n_pos"),
        F.round(
            F.aggregate(arr, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x))), 6
        ).alias("max_abs"),
    )


_ARRAY_FN_SQL = """
SELECT vec_id,
  ROUND(sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x),
                         (a, b) -> a + b)), 6) AS l2_norm,
  CAST(length(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0)) AS INT) AS n_pos,
  ROUND(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> greatest(abs(x), 0.0)),
                    (a, b) -> greatest(a, b)), 6) AS max_abs
FROM embeddings
"""


def corr_lineitem_metrics(spark, sf_dir):
    """Pearson correlation matrix entries over lineitem numerics,
    computed from decimal-exact moment sums (NOT F.corr, whose float
    accumulation is shuffle-order-dependent) — the same one-scan
    sufficient-statistics pattern as the PCA operator, SQL-expressible
    because the moments are plain sums."""
    li = _wide(
        _load(spark, sf_dir, "lineitem").select(
            "l_quantity", "l_extendedprice", "l_discount", "l_tax"
        )
    )
    pairs = [
        ("l_quantity", "l_extendedprice"),
        ("l_quantity", "l_discount"),
        ("l_extendedprice", "l_tax"),
    ]
    aggs = [F.count(F.lit(1)).alias("n")]
    seen = set()
    for x, y in pairs:
        for c in (x, y):
            if c not in seen:
                seen.add(c)
                aggs.append(_dsum(F.col(c), f"s_{c}"))
                aggs.append(_dsum(F.col(c) * F.col(c), f"ss_{c}"))
        aggs.append(_dsum(F.col(x) * F.col(y), f"sp_{x}_{y}"))
    wide = li.agg(*aggs)

    def corr_col(x, y):
        n = F.col("n")
        num = n * F.col(f"sp_{x}_{y}") - F.col(f"s_{x}") * F.col(f"s_{y}")
        dx = F.sqrt(n * F.col(f"ss_{x}") - F.col(f"s_{x}") * F.col(f"s_{x}"))
        dy = F.sqrt(n * F.col(f"ss_{y}") - F.col(f"s_{y}") * F.col(f"s_{y}"))
        return F.round(num / (dx * dy), 9)

    # stack() the single wide row into long form so the aggregation plan
    # runs ONCE (a UNION of per-pair selects would re-aggregate the scan
    # once per pair — 3 exchanges instead of 1)
    named = wide.select(
        *[corr_col(x, y).alias(f"c{i}") for i, (x, y) in enumerate(pairs)]
    )
    stacked = ", ".join(
        f"'{x}', '{y}', c{i}" for i, (x, y) in enumerate(pairs)
    )
    return named.selectExpr(f"stack({len(pairs)}, {stacked}) as (x, y, corr)")


def _corr_sql() -> str:
    pairs = [
        ("l_quantity", "l_extendedprice"),
        ("l_quantity", "l_discount"),
        ("l_extendedprice", "l_tax"),
    ]
    cols = []
    seen = set()
    for x, y in pairs:
        for c in (x, y):
            if c not in seen:
                seen.add(c)
                cols.append(_sql_dsum(c, f"s_{c}"))
                cols.append(_sql_dsum(f"{c} * {c}", f"ss_{c}"))
        cols.append(_sql_dsum(f"{x} * {y}", f"sp_{x}_{y}"))
    sel = []
    for x, y in pairs:
        expr = (
            f"ROUND((n * sp_{x}_{y} - s_{x} * s_{y}) /"
            f" (sqrt(n * ss_{x} - s_{x} * s_{x}) * sqrt(n * ss_{y} - s_{y} * s_{y})), 9)"
        )
        sel.append(f"SELECT '{x}' AS x, '{y}' AS y, {expr} AS corr FROM wide")
    return (
        "WITH wide AS (SELECT COUNT(*) AS n, "
        + ", ".join(cols)
        + " FROM lineitem)\n"
        + "\nUNION ALL ".join(sel)
    )


def linreg_value_by_hour(spark, sf_dir):
    """Simple OLS (the SQL REGR_SLOPE/REGR_INTERCEPT family) per
    event_type: value regressed on hour-of-day, slope and intercept in
    closed form from decimal-exact moments — one scan, one keyed
    partial-agg, fully deterministic."""
    ev = _wide(_load(spark, sf_dir, "events").select("event_type", "ts", "value"))
    x = F.hour("ts").cast("double")
    y = F.col("value")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        _dsum(x, "sx"),
        _dsum(y, "sy"),
        _dsum(x * x, "sxx"),
        _dsum(x * y, "sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return g.select(
        "event_type",
        "n",
        F.round(slope, 9).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 9).alias(
            "intercept"
        ),
    )


_LINREG_SQL = f"""
WITH g AS (
  SELECT event_type, COUNT(*) AS n,
    {_sql_dsum('CAST(hour(ts) AS DOUBLE)', 'sx')},
    {_sql_dsum('value', 'sy')},
    {_sql_dsum('CAST(hour(ts) AS DOUBLE) * CAST(hour(ts) AS DOUBLE)', 'sxx')},
    {_sql_dsum('CAST(hour(ts) AS DOUBLE) * value', 'sxy')}
  FROM events GROUP BY event_type)
SELECT event_type, n,
  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS slope,
  ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 9) AS intercept
FROM g
"""


def unpivot_pricing_metrics(spark, sf_dir):
    """UNPIVOT/melt: the wide per-(flag,status) aggregate table turned
    long — one (metric, value) row per measure via the native
    `DataFrame.unpivot` (codegen Expand node, no shuffle beyond the
    aggregation that built the wide table)."""
    li = _wide(_load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"))
    wide = li.groupBy("l_returnflag", "l_linestatus").agg(
        _dsum(F.col("l_quantity"), "sum_qty"),
        _dsum(F.col("l_extendedprice"), "sum_base_price"),
    )
    return wide.unpivot(
        ["l_returnflag", "l_linestatus"],
        ["sum_qty", "sum_base_price"],
        "metric",
        "value",
    )


_UNPIVOT_SQL = f"""
WITH wide AS (
  SELECT l_returnflag, l_linestatus,
    {_sql_dsum('l_quantity', 'sum_qty')},
    {_sql_dsum('l_extendedprice', 'sum_base_price')}
  FROM lineitem GROUP BY 1, 2)
SELECT l_returnflag, l_linestatus, 'sum_qty' AS metric, sum_qty AS value FROM wide
UNION ALL
SELECT l_returnflag, l_linestatus, 'sum_base_price', sum_base_price FROM wide
"""


def fuzzy_match_titles(spark, sf_dir):
    """Blocked fuzzy string join (entity resolution): document 'titles'
    (first 16 chars) within Levenshtein distance 4, candidates generated
    only inside first-token blocks — sum(block^2), never n^2; the edit
    distance runs JVM-side on candidates only."""
    from henbun_spark.operators import text as text_ops

    docs = _load(spark, sf_dir, "documents")
    titled = docs.select(
        "doc_id", F.substring("text", 1, 16).alias("title")
    )
    # max_block: first-token blocks have FIXED cardinality (vocabulary-
    # bounded), so sum(block^2) grows quadratically with the corpus —
    # the sf1 probe measured 121x time for 10x rows. Deterministic
    # block splitting caps the work at ~n * max_block; at the driver
    # SFs every block is under the cap, so results are unchanged.
    return text_ops.fuzzy_pairs(
        titled,
        "title",
        "doc_id",
        block_expr=F.split(F.col("title"), " ")[0],
        max_distance=4,
        max_block=512,
    )


_FUZZY_SQL = """
WITH t AS (
  SELECT doc_id, substr(text, 1, 16) AS title,
         str_split(substr(text, 1, 16), ' ')[1] AS blk0
  FROM documents),
c AS (SELECT blk0, CAST(CEIL(COUNT(*) / 512.0) AS BIGINT) AS ns
      FROM t GROUP BY blk0),
tb AS (
  SELECT doc_id, title,
    blk0 || '#' || CAST(((instr('0123456789abcdef', substr(md5(title), 1, 1)) - 1) * 268435456 + (instr('0123456789abcdef', substr(md5(title), 2, 1)) - 1) * 16777216 + (instr('0123456789abcdef', substr(md5(title), 3, 1)) - 1) * 1048576 + (instr('0123456789abcdef', substr(md5(title), 4, 1)) - 1) * 65536 + (instr('0123456789abcdef', substr(md5(title), 5, 1)) - 1) * 4096 + (instr('0123456789abcdef', substr(md5(title), 6, 1)) - 1) * 256 + (instr('0123456789abcdef', substr(md5(title), 7, 1)) - 1) * 16 + (instr('0123456789abcdef', substr(md5(title), 8, 1)) - 1) * 1) % ns AS VARCHAR) AS blk
  FROM t JOIN c USING (blk0))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  levenshtein(a.title, b.title)::INT AS distance
FROM tb a JOIN tb b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE levenshtein(a.title, b.title) <= 4
"""


def validate_constraints_events(spark, sf_dir):
    """Declarative data-quality suite (dbt-test shape) in ONE scan: all
    conditional-count rules fold into a single aggregation; uniqueness
    rides along as an exact distinct count. 100 TB cost = one pass,
    not one job per rule."""
    from henbun_spark.operators import quality

    ev = _load(spark, sf_dir, "events")
    return quality.validate(
        ev,
        [
            {"check": "not_null", "col": "event_id"},
            {"check": "unique", "col": "event_id"},
            {"check": "not_null", "col": "user_id"},
            {"check": "range", "col": "value", "min": 0.0, "max": 1000.0},
            {
                "check": "accepted_values",
                "col": "event_type",
                "values": list(_EVENT_TYPES),
            },
            {"check": "regex", "col": "props", "pattern": r"^\{.*\}$"},
        ],
    )


_VALIDATE_SQL = r"""
WITH agg AS (
  SELECT
    SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS v0,
    COUNT(event_id) - COUNT(DISTINCT event_id) AS v1,
    SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS v2,
    SUM(CASE WHEN value IS NULL OR value < 0.0 OR value > 1000.0 THEN 1 ELSE 0 END) AS v3,
    SUM(CASE WHEN event_type IS NULL
              OR event_type NOT IN ('click','error','purchase','signup','view')
             THEN 1 ELSE 0 END) AS v4,
    SUM(CASE WHEN props IS NULL OR NOT regexp_matches(props, '^\{.*\}$')
             THEN 1 ELSE 0 END) AS v5
  FROM events)
SELECT rule, "column", n_violations::BIGINT AS n_violations,
       n_violations = 0 AS passed
FROM (
  SELECT 'not_null' AS rule, 'event_id' AS "column", v0 AS n_violations FROM agg
  UNION ALL SELECT 'unique', 'event_id', v1 FROM agg
  UNION ALL SELECT 'not_null', 'user_id', v2 FROM agg
  UNION ALL SELECT 'range', 'value', v3 FROM agg
  UNION ALL SELECT 'accepted_values', 'event_type', v4 FROM agg
  UNION ALL SELECT 'regex', 'props', v5 FROM agg)
"""


def row_ids_documents(spark, sf_dir):
    """Global consecutive row ids WITHOUT a single-reducer global window:
    the IN-PLAN binned prefix rank (`relational.keyed_prefix_sum`,
    rank mode, global, DESC) — sampled value bins, map-side cell
    counts, in-plan offsets, within-bin running count; one data shuffle
    and nothing that re-executes a sampled range shuffle across jobs
    (the earlier two-pass form needed a persist pin for that). The
    oracle is the naive `row_number() OVER (ORDER BY ...)` — same ids,
    scalable plan."""
    from henbun_spark.operators import relational

    docs = _load(spark, sf_dir, "documents")
    out = relational.keyed_prefix_sum(
        docs.select("doc_id", F.length("text").alias("text_len")),
        [],
        [F.desc("text_len"), "doc_id"],
        out_name="row_id",
    )
    return out.select("doc_id", "text_len", "row_id")


_ROW_IDS_SQL = """
SELECT doc_id, length(text)::INT AS text_len,
  row_number() OVER (ORDER BY length(text) DESC, doc_id)::BIGINT AS row_id
FROM documents
"""


def row_ids_wide_bins(spark, sf_dir):
    """`row_ids_documents` at a BIG-CLUSTER bin width (r8): 512
    requested bins over a high-cardinality double pushes the bin
    expression past `CODEGEN_SAFE_BOUNDS`, so this query rides the
    Arrow-vectorized searchsorted bin path (`relational.
    _searchsorted_bin_expr`) — the representation large shuffle-width
    clusters get, where the binary-search CASE tree would trip the JVM
    64 KB codegen limit (SCALING.md r8 clamp-edge probe). Driver-hash-
    pins that path end-to-end: same ids as the naive global window, an
    ArrowEvalPython bin stage instead of 511 CASE nodes."""
    from henbun_spark.operators import relational

    ev = _load(spark, sf_dir, "events").select(
        "event_id", F.col("value").cast("double").alias("value")
    )
    out = relational.keyed_prefix_sum(
        ev, [], [F.asc("value"), F.asc("event_id")], out_name="ord", n_bins=512
    )
    return out.select("event_id", "value", "ord")


_ROW_IDS_WIDE_SQL = """
SELECT event_id, value::DOUBLE AS value,
  row_number() OVER (ORDER BY value, event_id)::BIGINT AS ord
FROM events
"""


def row_ids_string_bins(spark, sf_dir):
    """`row_ids_wide_bins`' STRING twin (r9, closing the r8 verdict's
    item 6): a high-cardinality STRING leading key (md5 of the lineitem
    row key) at a 512-bin big-cluster width drives the object-dtype
    `np.searchsorted` branch of `relational._searchsorted_bin_expr` —
    the branch whose correctness rests on Python `<` matching Spark's
    UTF8 binary collation (code-point order both sides). That contract
    was pytest-pinned but no driver hash rode it; this query pins it
    end-to-end. lineitem (not events) so the 2% string-bounds sample
    yields ~1200 rows -> the full 511 bounds even at sf0.01, far past
    `CODEGEN_SAFE_BOUNDS` — the path engages with margin at every SF.
    Oracle is the naive global window; md5 hex is ASCII so the two
    engines' orders agree trivially, making any divergence attributable
    to the bin machinery, which is the point."""
    from henbun_spark.operators import relational

    li = _load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.md5(
            F.concat_ws(
                "-",
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
            )
        ).alias("row_key"),
    )
    out = relational.keyed_prefix_sum(
        li, [], [F.asc("row_key"), F.asc("l_orderkey")], out_name="ord", n_bins=512
    )
    return out.select("l_orderkey", "l_linenumber", "row_key", "ord")


_ROW_IDS_STRING_SQL = """
SELECT l_orderkey, l_linenumber,
  md5(l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR) AS row_key,
  row_number() OVER (
    ORDER BY md5(l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR),
             l_orderkey
  )::BIGINT AS ord
FROM lineitem
"""


def corpus_layout_order(spark, sf_dir):
    """Reproducible corpus layout for training determinism: a STABLE
    global ordering (source ASC, doc_id ASC) -> consecutive ordinal ->
    round-robin shard id, so re-running data prep on re-ingested data
    yields byte-identical shard assignment. The ordinal comes from the
    r7 GENERALIZED in-plan global rank (`relational.keyed_prefix_sum`,
    `key_cols=[]`) with a STRING leading sort key — and where the
    shuffle width asks for more bins than `source` has values, the
    sampled bounds dedupe below the count requested and the COMPOSITE
    path engages: cells are keyed by the exact source value x doc_id
    value bins (|sources| x |bins| parallel slices), not one
    near-global sort task per source. No global window, no persisted
    scaffold, nothing partition-id dependent; the oracle is the naive
    `row_number() OVER (ORDER BY source, doc_id)`."""
    from henbun_spark.operators import relational

    docs = _load(spark, sf_dir, "documents").select("doc_id", "source")
    out = relational.keyed_prefix_sum(
        docs, [], [F.asc("source"), F.asc("doc_id")], out_name="ord"
    )
    return out.select(
        "doc_id",
        "source",
        "ord",
        F.pmod(F.col("ord") - 1, F.lit(20)).cast("int").alias("shard"),
    )


_CORPUS_LAYOUT_SQL = """
SELECT doc_id, source,
  row_number() OVER (ORDER BY source, doc_id)::BIGINT AS ord,
  ((row_number() OVER (ORDER BY source, doc_id) - 1) % 20)::INT AS shard
FROM documents
"""


def corpus_layout_desc(spark, sf_dir):
    """`corpus_layout_order`'s DESC + NULLS edge (r8, closing the r7
    verdict's item 6): the r7 generalized `_leading_sort_bins` NULL
    placement matrix (relational.py:603) was pytest-covered but no
    CONTRACT query ordered by a nullable string DESCENDING — this one
    pins the `DESC NULLS LAST` null-bin arithmetic (NULL -> bin -1, the
    far end of the DESC offsets walk) to the driver hash. NULLs are
    injected deterministically (every 17th doc) because the test data
    has none; the leading key is therefore a COMPUTED nullable string,
    which also exercises the composite low-card path's expression (not
    bare-column) handling wherever that path engages (see
    `corpus_layout_order`). Oracle is the naive global window."""
    from henbun_spark.operators import relational

    docs = _load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 17 == 0, F.lit(None))
        .otherwise(F.col("source"))
        .alias("src"),
    )
    out = relational.keyed_prefix_sum(
        docs, [], [F.desc_nulls_last("src"), F.asc("doc_id")], out_name="ord"
    )
    return out.select(
        "doc_id",
        "src",
        "ord",
        F.pmod(F.col("ord") - 1, F.lit(20)).cast("int").alias("shard"),
    )


_CORPUS_LAYOUT_DESC_SQL = """
WITH d AS (
  SELECT doc_id,
    CASE WHEN doc_id % 17 = 0 THEN NULL ELSE source END AS src
  FROM documents)
SELECT doc_id, src,
  row_number() OVER (ORDER BY src DESC NULLS LAST, doc_id)::BIGINT AS ord,
  ((row_number() OVER (ORDER BY src DESC NULLS LAST, doc_id) - 1) % 20)::INT
    AS shard
FROM d
"""


def merge_upsert_docs(spark, sf_dir):
    """CDC MERGE/upsert (`relational.apply_changes`): a deterministic
    change log (updates for doc_id%7==0 at v2, tombstones for
    doc_id%13==0 at v3) applied onto the documents snapshot in ONE keyed
    shuffle — the lakehouse MERGE INTO pattern without a table format.
    Where update and delete collide, the higher version (delete) wins."""
    from henbun_spark.operators import relational

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    updates = (
        docs.where(F.col("doc_id") % 7 == 0)
        .select(
            "doc_id",
            F.concat(F.col("text"), F.lit(" UPDATED")).alias("text"),
            F.lit(2).alias("version"),
            F.lit(False).alias("is_delete"),
        )
    )
    deletes = (
        docs.where(F.col("doc_id") % 13 == 0)
        .select(
            "doc_id",
            F.lit(None).cast("string").alias("text"),
            F.lit(3).alias("version"),
            F.lit(True).alias("is_delete"),
        )
    )
    changes = updates.unionByName(deletes)
    snap = relational.apply_changes(docs, changes, "doc_id", "version")
    return snap.select("doc_id", F.length("text").alias("text_len"))


_MERGE_SQL = """
SELECT doc_id,
  CASE WHEN doc_id % 7 = 0 THEN length(text) + 8 ELSE length(text) END::INT
    AS text_len
FROM documents
WHERE doc_id % 13 <> 0
"""


def scd2_user_intervals(spark, sf_dir):
    """SCD type-2 dimension build: each user's purchase log becomes
    validity intervals [valid_from, valid_to) with a current-row flag —
    one lead() window per key. Timestamps exported as epoch micros."""
    from henbun_spark.operators import relational

    ev = _load(spark, sf_dir, "events")
    log = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("price")
    )
    out = relational.scd2_intervals(log, "user_id", "ts", ["price"])
    return out.select(
        "user_id",
        "price",
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros("valid_to").alias("valid_to_us"),
        "is_current",
    )


_SCD2_SQL = """
SELECT user_id, value AS price,
  epoch_us(ts) AS valid_from_us,
  epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts)) AS valid_to_us,
  lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL AS is_current
FROM events WHERE event_type = 'purchase'
"""


def hll_distinct_users(spark, sf_dir):
    """HyperLogLog distinct-count sketch (own implementation, not
    approx_count_distinct): md5-deterministic registers, so the estimate
    is bit-reproducible and ORACLE-CHECKED — the SQL rebuilds identical
    registers and the harmonic sum is computed in exact scaled BIGINTs.

    At scale: sketch state is <= 256 rows regardless of input (map-side
    max per register); per-day register tables merge by MAX without
    touching raw data. Exact distinct ships alongside for the error
    story."""
    from henbun_spark.operators import sketch

    ev = _load(spark, sf_dir, "events")
    regs = sketch.hll_registers(ev, "user_id", b=8)
    est = sketch.hll_estimate(regs, b=8)
    exact = ev.agg(F.countDistinct("user_id").alias("exact_distinct"))
    return est.crossJoin(exact)


def _hll_sql(b: int = 8, salt: str = "hll", group_col: str | None = None) -> str:
    m = 2 ** b
    alpha = 0.7213 / (1.0 + 1.079 / m)
    nib = lambda expr: f"(instr('0123456789abcdef', {expr}) - 1)"  # noqa: E731
    g = f"{group_col}, " if group_col else ""
    gby = f"GROUP BY {group_col}" if group_col else ""
    if group_col:
        final = f"""
SELECT est.{group_col}, n_registers_hit, ROUND(raw_est, 6) AS hll_est,
  ex.exact_distinct
FROM est JOIN (SELECT {group_col}, COUNT(DISTINCT user_id)::BIGINT AS exact_distinct
               FROM events GROUP BY {group_col}) ex
  ON est.{group_col} = ex.{group_col}"""
    else:
        final = """
SELECT n_registers_hit, ROUND(raw_est, 6) AS hll_est,
  (SELECT COUNT(DISTINCT user_id) FROM events)::BIGINT AS exact_distinct
FROM est"""
    return f"""
WITH hashed AS (
  SELECT {g}md5('{salt}' || '|' || coalesce(CAST(user_id AS VARCHAR), chr(0))) AS h
  FROM events),
parts AS (
  SELECT {g}{nib("substr(h, 1, 1)")} * 16 + {nib("substr(h, 2, 1)")} AS register,
         substr(h, 3, 14) AS tail
  FROM hashed),
ranked AS (
  SELECT {g}register,
    CASE WHEN length(regexp_extract(tail, '^(0*)', 1)) = 14 THEN 57
         ELSE length(regexp_extract(tail, '^(0*)', 1)) * 4
              + (CASE WHEN {nib("substr(tail, length(regexp_extract(tail, '^(0*)', 1)) + 1, 1)")} >= 8 THEN 0
                      WHEN {nib("substr(tail, length(regexp_extract(tail, '^(0*)', 1)) + 1, 1)")} >= 4 THEN 1
                      WHEN {nib("substr(tail, length(regexp_extract(tail, '^(0*)', 1)) + 1, 1)")} >= 2 THEN 2
                      ELSE 3 END) + 1
    END AS rank
  FROM parts),
regs AS (
  SELECT {g}register, MAX(rank) AS max_rank FROM ranked GROUP BY {g}register),
agg AS (
  SELECT {g}COUNT(*) AS n_hit,
    CAST(SUM(CAST(1 AS BIGINT) << (57 - max_rank)) AS BIGINT) AS denom_hit
  FROM regs {gby}),
denoms AS (
  SELECT {g}n_hit,
    CAST(denom_hit AS DOUBLE) / {float(2 ** 57)!r} + CAST({m} - n_hit AS DOUBLE)
      AS denom
  FROM agg),
est AS (
  SELECT {g}CAST(n_hit AS INT) AS n_registers_hit,
    CASE WHEN CAST({alpha!r} AS DOUBLE) * {m} * {m} / denom
              <= CAST({2.5 * m!r} AS DOUBLE) AND n_hit < {m}
         THEN CAST({float(m)!r} AS DOUBLE) * ln(CAST({float(m)!r} AS DOUBLE) / ({m} - n_hit))
         ELSE CAST({alpha!r} AS DOUBLE) * {m} * {m} / denom
    END AS raw_est
  FROM denoms)
{final}
"""


def sliding_distinct_users(spark, sf_dir):
    """Distinct users per SLIDING window (2h window / 1h hop) as one HLL
    sketch per window next to the exact count — the streaming-dashboard
    shape ("unique visitors, rolling 2h") where the exact distinct must
    expand every (window, user) pair but the sketch caps state at 2^b
    registers per window. Each event explodes into its two covering
    windows (map-only), then the register build combines map-side.
    Oracle rebuilds identical per-window registers from the same window
    arithmetic."""
    from henbun_spark.operators import sketch

    ev = _load(spark, sf_dir, "events")
    # floor, not cast("long") truncation — see test_negative_epoch_oracle
    wstart = (
        F.floor(F.col("ts").cast("double") / F.lit(3600.0)).cast("long")
        * 3600
    )
    ev2 = ev.select(
        "user_id",
        F.explode(F.array(wstart, wstart - 3600)).alias("win_start"),
    )
    regs = sketch.hll_registers(ev2, "user_id", b=8, group_cols=["win_start"])
    est = sketch.hll_estimate(regs, b=8, group_cols=["win_start"])
    exact = ev2.groupBy("win_start").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "win_start")


def _hll_windowed_sql() -> str:
    base = _hll_sql(group_col="win_start").replace("FROM events", "FROM winsrc")
    win = """winsrc AS (
  SELECT user_id, unnest([
    CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600,
    CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 - 3600]) AS win_start
  FROM events),"""
    return base.replace("WITH hashed AS (", "WITH " + win + "\nhashed AS (")


def hll_users_by_type(spark, sf_dir):
    """GROUPED HyperLogLog: distinct users per event_type as one sketch
    per group (<= 256 rows each), next to the exact count — the realistic
    100 TB shape ("distinct per segment") where exact countDistinct must
    expand every (segment, user) pair but the sketch stays
    map-side-combinable. Oracle rebuilds the identical per-group
    registers."""
    from henbun_spark.operators import sketch

    ev = _load(spark, sf_dir, "events")
    regs = sketch.hll_registers(ev, "user_id", b=8, group_cols=["event_type"])
    est = sketch.hll_estimate(regs, b=8, group_cols=["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type")


def anomaly_zscore_events(spark, sf_dir):
    """Z-score anomaly detection per event_type: mean/std from
    decimal-exact sums (order-independent), then a second pass flags
    rows beyond 2 sigma. Two scans, one 5-row broadcast join — the
    canonical two-pass distributed outlier filter (no global sort, no
    driver round-trip)."""
    ev = _load(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        _dsum(F.col("value"), "s1"),
        _dsum(F.col("value") * F.col("value"), "s2"),
        F.count(F.lit(1)).alias("n"),
    )
    stats = stats.select(
        "event_type",
        "n",
        (F.col("s1") / F.col("n")).alias("mean"),
        F.sqrt(
            F.greatest(
                F.col("s2") / F.col("n") - (F.col("s1") / F.col("n")) ** 2, F.lit(0.0)
            )
        ).alias("std"),
    )
    flagged = ev.join(F.broadcast(stats), "event_type").where(
        F.abs(F.col("value") - F.col("mean")) > 2 * F.col("std")
    )
    return flagged.groupBy("event_type").agg(
        F.max("n").alias("n_total"),
        F.count(F.lit(1)).alias("n_anomalies"),
        F.round(F.max("mean"), 6).alias("mean_value"),
        F.round(F.max("std"), 6).alias("std_value"),
    )


_ZSCORE_SQL = f"""
WITH stats AS (
  SELECT event_type, COUNT(*) AS n,
    {_sql_dsum('value', 's1')}, {_sql_dsum('value * value', 's2')}
  FROM events GROUP BY event_type),
norm AS (
  SELECT event_type, n, s1 / n AS mean,
    sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)) AS std
  FROM stats)
SELECT events.event_type, MAX(n) AS n_total, COUNT(*) AS n_anomalies,
  ROUND(MAX(mean), 6) AS mean_value, ROUND(MAX(std), 6) AS std_value
FROM events JOIN norm ON events.event_type = norm.event_type
WHERE abs(value - mean) > 2 * std
GROUP BY events.event_type
"""


# Acklam's rational approximation to the standard-normal inverse CDF —
# pure arithmetic (Horner forms + sqrt/ln), so the SAME coefficient list
# generates both the Column expression and the oracle SQL text with
# identical op order (bit-reproducible cross-engine).
_ACKLAM = {
    "a": [-3.969683028665376e+01, 2.209460984245205e+02,
          -2.759285104469687e+02, 1.383577518672690e+02,
          -3.066479806614716e+01, 2.506628277459239e+00],
    "b": [-5.447609879822406e+01, 1.615858368580409e+02,
          -1.556989798598866e+02, 6.680131188771972e+01,
          -1.328068155288572e+01],
    "c": [-7.784894002430293e-03, -3.223964580411365e-01,
          -2.400758277161838e+00, -2.549732539343734e+00,
          4.374664141464968e+00, 2.938163982698783e+00],
    "d": [7.784695709041462e-03, 3.224671290700398e-01,
          2.445134137142996e+00, 3.754408661907416e+00],
}
_ACKLAM_PLOW = 0.02425


def _ppf_col(u):
    """Inverse normal CDF of Column `u` in (0,1) — whole-stage codegen."""
    A, B, C, D = (_ACKLAM[k] for k in "abcd")

    def horner(coefs, x):
        acc = F.lit(coefs[0])
        for coef in coefs[1:]:
            acc = acc * x + F.lit(coef)
        return acc

    qc = u - F.lit(0.5)
    r = qc * qc
    central = horner(A, r) * qc / (horner(B, r) * r + F.lit(1.0))
    ql = F.sqrt(F.lit(-2.0) * F.log(u))
    lower = horner(C, ql) / (horner(D, ql) * ql + F.lit(1.0))
    qu = F.sqrt(F.lit(-2.0) * F.log(F.lit(1.0) - u))
    upper = -(horner(C, qu) / (horner(D, qu) * qu + F.lit(1.0)))
    plow = F.lit(_ACKLAM_PLOW)
    return (
        F.when(u < plow, lower)
        .when(u > F.lit(1.0) - plow, upper)
        .otherwise(central)
    )


def _ppf_sql(u: str) -> str:
    A, B, C, D = (_ACKLAM[k] for k in "abcd")

    def horner(coefs, x):
        acc = repr(coefs[0])
        for coef in coefs[1:]:
            acc = f"({acc} * {x} + {coef!r})"
        return acc

    qc = f"({u} - 0.5)"
    r = f"({qc} * {qc})"
    central = f"({horner(A, r)} * {qc} / ({horner(B, r)} * {r} + 1.0))"
    ql = f"sqrt(-2.0 * ln({u}))"
    lower = f"({horner(C, ql)} / ({horner(D, ql)} * {ql} + 1.0))"
    qu = f"sqrt(-2.0 * ln(1.0 - {u}))"
    upper = f"(-({horner(C, qu)} / ({horner(D, qu)} * {qu} + 1.0)))"
    return (
        f"CASE WHEN {u} < {_ACKLAM_PLOW!r} THEN {lower}"
        f" WHEN {u} > 1.0 - {_ACKLAM_PLOW!r} THEN {upper}"
        f" ELSE {central} END"
    )


def rank_gauss_value(spark, sf_dir):
    """Rank-Gauss (inverse-normal quantile) feature normalization per
    event_type — the tree-model/NN preprocessing step that maps any value
    distribution onto N(0,1) by rank: u = (rank - 0.5)/n over a total
    (value, event_id) order, z = Phi^-1(u) via Acklam's rational
    approximation as PURE Column math (no scipy, no UDF — ~30 fused
    multiply-adds in whole-stage codegen). One keyed shuffle for the
    rank window; the per-type count rides the same window pass. The
    oracle is generated from the same coefficient list with identical
    Horner op order. The rank comes from the IN-PLAN binned per-key
    rank (`relational.keyed_prefix_sum` in rank mode: sampled
    equi-depth value bins, map-side cell counts, in-plan broadcast
    offsets, within-cell running count) instead of a `row_number() OVER
    (PARTITION BY event_type ...)` window — the keyed window sorts ~1/|types| of the
    table in one task at 100 TB; the binned shape sorts only bin
    slices, with no driver round-trip and nothing partition-id
    dependent."""
    from henbun_spark.operators import relational

    ev = _load(spark, sf_dir, "events").select("event_type", "value", "event_id")
    ranked = relational.keyed_prefix_sum(
        ev,
        "event_type",
        ["value", "event_id"],
        out_name="__rk",
        total_name="__n",  # per-type totals ride the offset broadcast: no extra scan
    ).select(
        "event_type",
        "value",
        F.col("__rk").cast("double").alias("rk"),
        F.col("__n").cast("double").alias("n"),
    )
    z = _ppf_col((F.col("rk") - F.lit(0.5)) / F.col("n"))
    scored = ranked.withColumn("z", z)
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        _dsum(F.col("z"), "sum_z"),
        _dsum(F.col("z") * F.col("z"), "sum_z2"),
        F.round(F.max("z"), 6).alias("max_z"),
    )


_RANK_GAUSS_SQL = f"""
WITH ranked AS (
  SELECT event_type, value,
    CAST(row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS DOUBLE) AS rk,
    CAST(COUNT(*) OVER (PARTITION BY event_type) AS DOUBLE) AS n
  FROM events),
scored AS (
  SELECT event_type, {_ppf_sql('((rk - 0.5) / n)')} AS z FROM ranked)
SELECT event_type, COUNT(*)::BIGINT AS n_rows,
  {_sql_dsum('z', 'sum_z')},
  {_sql_dsum('z * z', 'sum_z2')},
  ROUND(MAX(z), 6) AS max_z
FROM scored GROUP BY event_type
"""


def anomaly_mad_events(spark, sf_dir):
    """Robust (median/MAD) anomaly detection per event_type — the outlier
    filter that survives heavy-tailed distributions where mean/std
    (`anomaly_zscore_events`) gets dragged by the outliers it should
    flag: pass 1 computes the exact interpolated median, pass 2 the
    median absolute deviation, then rows beyond 3 * 1.4826 * MAD are
    flagged. Both statistics quantize to 1e-6 via the portable
    floor-quantize (identical IEEE op sequence in both engines) BEFORE
    entering the flag predicate, so the boundary comparison is
    bit-deterministic cross-engine. Both statistics come from ONE
    `relational.keyed_median_mad` call: a single map-side-combinable
    (key, value) histogram — shuffle bounded by distinct pairs, not
    rows — with both order statistics (and the |v - med| fold) as
    driver math, replacing the previous TWO sequential
    `keyed_percentiles_exact` calls (6 jobs + a persisted deviation
    frame). Continuous-value inputs that overflow the histogram cap
    fall back to the cell-pruned two-pass path inside the operator;
    Spark's buffering `percentile()` (per-group value map, unbounded in
    distinct values at 100x) is avoided in both regimes. Interpolation
    and quantizer arithmetic are bitwise the builtin's, so the oracle
    is unchanged."""
    import math

    from henbun_spark.operators import relational

    ev = _load(spark, sf_dir, "events")

    def q(c):  # portable 1e-6 quantizer (round(x, 6) tie-breaks differ)
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    mm = relational.keyed_median_mad(
        ev,
        "event_type",
        "value",
        med_transform=lambda m: math.floor(m * 1e6 + 0.5) / 1e6,
    )
    mad = mm.select("event_type", "med", q(F.col("mad")).alias("mad"))
    flagged = ev.join(F.broadcast(mad), "event_type").where(
        F.abs(F.col("value") - F.col("med")) > 3 * 1.4826 * F.col("mad")
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_anomalies"),
        F.max("med").alias("med_value"),
        F.max("mad").alias("mad_value"),
    )


_MAD_SQL = """
WITH med AS (
  SELECT event_type,
    floor(quantile_cont(value, 0.5) * 1000000.0 + 0.5) / 1000000.0 AS med
  FROM events GROUP BY 1),
mad AS (
  SELECT events.event_type, MAX(med) AS med,
    floor(quantile_cont(abs(value - med), 0.5) * 1000000.0 + 0.5) / 1000000.0
      AS mad
  FROM events JOIN med USING (event_type) GROUP BY events.event_type)
SELECT events.event_type, COUNT(*)::BIGINT AS n_anomalies,
  MAX(med) AS med_value, MAX(mad) AS mad_value
FROM events JOIN mad USING (event_type)
WHERE abs(value - med) > 3 * 1.4826 * mad
GROUP BY 1
"""


def winsorize_value_by_type(spark, sf_dir):
    """Per-type winsorization — the outlier-clipping feature transform
    (clip every value into its type's [p01, p99]) that precedes scaling
    in tabular/feature pipelines. The clip bounds come from the
    DISTRIBUTED exact-percentile path (`relational.
    keyed_percentiles_exact`, two-pass keyed rank — no buffering
    `percentile()`, no per-key single-task sort), quantized to 1e-6 with
    the portable floor-quantize so the boundary predicate is
    bit-deterministic cross-engine; the clipped values then fold into an
    order-independent decimal-exact sum. One rank pass + one broadcast
    join + one scan-side aggregate at any scale."""
    from henbun_spark.operators import relational

    ev = _load(spark, sf_dir, "events")

    def q(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    pct = relational.keyed_percentiles_exact(
        ev, "event_type", "value", [0.01, 0.99]
    )
    bounds = pct.groupBy("event_type").agg(
        q(F.max(F.when(F.col("p") == 0.01, F.col("value")))).alias("lo"),
        q(F.max(F.when(F.col("p") == 0.99, F.col("value")))).alias("hi"),
    )
    clipped = F.when(F.col("value") < F.col("lo"), F.col("lo")).otherwise(
        F.when(F.col("value") > F.col("hi"), F.col("hi")).otherwise(
            F.col("value")
        )
    )
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("value") < F.col("lo"), 1).otherwise(0))
            .cast("long")
            .alias("n_clipped_lo"),
            F.sum(F.when(F.col("value") > F.col("hi"), 1).otherwise(0))
            .cast("long")
            .alias("n_clipped_hi"),
            _dsum(clipped, "w_sum"),
            F.max("lo").alias("lo"),
            F.max("hi").alias("hi"),
        )
    )


_WINSORIZE_SQL = f"""
WITH b AS (
  SELECT event_type,
    floor(quantile_cont(value, 0.01) * 1000000.0 + 0.5) / 1000000.0 AS lo,
    floor(quantile_cont(value, 0.99) * 1000000.0 + 0.5) / 1000000.0 AS hi
  FROM events GROUP BY 1)
SELECT event_type, COUNT(*)::BIGINT AS n_rows,
  SUM(CASE WHEN value < lo THEN 1 ELSE 0 END)::BIGINT AS n_clipped_lo,
  SUM(CASE WHEN value > hi THEN 1 ELSE 0 END)::BIGINT AS n_clipped_hi,
  {_sql_dsum("CASE WHEN value < lo THEN lo WHEN value > hi THEN hi ELSE value END", "w_sum")},
  MAX(lo) AS lo, MAX(hi) AS hi
FROM events JOIN b USING (event_type)
GROUP BY 1
"""


def cap_docs_per_source(spark, sf_dir):
    """Per-source quota cap — the anti-domination guard of corpus
    assembly (no single crawl/source may exceed K docs): keep at most
    K=400 docs per source, chosen by deterministic salted-hash order
    (reproducible, unbiased by ingest order). `source` is
    low-cardinality, so the naive `row_number() OVER (PARTITION BY
    source ...)` is a single-task sort of ~1/|sources| of the corpus at
    100 TB — the rank comes from the md5-bucketed distributed prefix
    count (`relational.md5_bucketed_prefix_sum`: order-aligned
    hash-prefix cells, in-plan bucket offsets, no driver round-trip);
    md5 order totalizes via the doc_id tiebreak so the kept set is
    engine-identical."""
    from henbun_spark.operators import relational

    docs = _load(spark, sf_dir, "documents").select("doc_id", "source")
    ranked = relational.md5_bucketed_prefix_sum(
        docs.withColumn("__h", F.md5(F.col("doc_id").cast("string"))),
        "source",
        "__h",
        "doc_id",
        None,
        out_name="rank",
    )
    return (
        ranked.where(F.col("rank") <= 400)
        .select("doc_id", "source", F.col("rank").cast("int").alias("rank"))
    )


_CAP_SOURCE_SQL = """
SELECT doc_id, source, rank::INT AS rank FROM (
  SELECT doc_id, source,
    row_number() OVER (PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank
  FROM documents)
WHERE rank <= 400
"""


def observed_filter_metrics(spark, sf_dir):
    """One-pass pipeline observability (`DataFrame.observe`): ingest-side
    metrics (input row count + decimal-exact value sum) ride the SAME
    job that computes the filtered aggregate — never a second scan of
    the input. At 100 TB a separate metrics pass doubles the pipeline's
    IO; `observe` attaches accumulator-style metrics to the plan node,
    so drop-rate monitoring is free. The bounded 1-row observation is
    re-emitted next to the kept-side aggregate; the oracle recomputes
    both sides from the base table."""
    from pyspark.sql import Observation

    ev = _load(spark, sf_dir, "events")
    obs = Observation("ingest")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.round(F.col("value"), 6).cast("decimal(38,6)")).alias("sum_total"),
    )
    kept = observed.where(
        (F.col("value") > 100.0) & (F.col("event_type") != "view")
    )
    kept_row = kept.agg(
        F.count(F.lit(1)).alias("n_kept"), _dsum(F.col("value"), "sum_kept")
    ).collect()[0]
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_total"]),
                float(m["sum_total"]),
                int(kept_row["n_kept"]),
                float(kept_row["sum_kept"] or 0.0),
            )
        ],
        "n_total bigint, sum_total double, n_kept bigint, sum_kept double",
    )


_OBSERVE_SQL = f"""
SELECT
  (SELECT COUNT(*) FROM events)::BIGINT AS n_total,
  (SELECT CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(38,6))) AS DOUBLE)
     FROM events) AS sum_total,
  COUNT(*)::BIGINT AS n_kept,
  {_sql_dsum('value', 'sum_kept')}
FROM events WHERE value > 100.0 AND event_type <> 'view'
"""


# ---------------------------------------------------------------------------
# round-4 additions: heavy hitters, interpolated gapfill, normalized dedup,
# temperature mixing, rolling median, incremental MV maintenance, PQ ANN
# ---------------------------------------------------------------------------

def heavy_hitters_users(spark, sf_dir):
    """Misra-Gries heavy hitters: users with > N/128 of all events, found
    with O(k) state per scan task (candidate pass) + one candidate-only
    counting pass — never a full groupBy over the key space. The MG
    guarantee (no false negatives above N/k) plus exact verification
    makes the output EXACTLY the true heavy-hitter set, so the oracle is
    plain HAVING COUNT(*)*k > N."""
    from henbun_spark.operators import sketch

    ev = _load(spark, sf_dir, "events")
    return sketch.heavy_hitters(ev, "user_id", k=128)


_HEAVY_HITTERS_SQL = """
WITH tot AS (SELECT COUNT(*) AS N FROM events)
SELECT CAST(user_id AS VARCHAR) AS key, COUNT(*)::BIGINT AS n
FROM events, tot
GROUP BY user_id, tot.N
HAVING COUNT(*) * 128 > tot.N
"""


def heavy_hitters_by_type(spark, sf_dir):
    """GROUPED Misra-Gries heavy hitters: per event_type, the users with
    within-segment frequency > segment_n / 128 — "trending per segment"
    with O(k) sketch state per (task, group), the distinct union of the
    per-(task, group) summaries as the broadcast candidate table, and
    one exact candidate-only verify pass (`sketch.heavy_hitters` with
    ``group_cols``). Same no-false-negative guarantee per group, so the
    oracle is the plain per-group HAVING."""
    from henbun_spark.operators import sketch

    ev = _load(spark, sf_dir, "events")
    return sketch.heavy_hitters(ev, "user_id", k=128, group_cols=["event_type"])


_HH_GROUPED_SQL = """
WITH tot AS (
  SELECT event_type, COUNT(*) AS grp_n FROM events GROUP BY event_type)
SELECT e.event_type, CAST(e.user_id AS VARCHAR) AS key, COUNT(*)::BIGINT AS n
FROM events e JOIN tot USING (event_type)
GROUP BY e.event_type, e.user_id, tot.grp_n
HAVING COUNT(*) * 128 > tot.grp_n
"""


def gapfill_hourly_interp(spark, sf_dir):
    """Hourly rollup with LINEAR-interpolation gap filling per user (the
    `interpolate` sibling of gapfill_hourly_locf): missing buckets take
    the straight line between nearest observed neighbors; trailing gaps
    carry forward."""
    from henbun_spark.operators import relational

    ev = _load(spark, sf_dir, "events")
    return relational.gapfill_interpolate(ev, "ts", "user_id", "value", 3600)


_GAPFILL_INTERP_SQL = """
WITH b AS (
  SELECT user_id,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket_epoch,
         COUNT(*)::BIGINT AS n_obs,
         CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(38,6))) AS DOUBLE) AS vsum
  FROM events GROUP BY 1, 2),
rng AS (SELECT user_id, min(bucket_epoch) AS h0, max(bucket_epoch) AS h1
        FROM b GROUP BY 1),
axis AS (SELECT user_id, unnest(generate_series(h0, h1, 3600)) AS bucket_epoch
         FROM rng),
seg AS (
  SELECT axis.user_id, axis.bucket_epoch, b.n_obs, b.vsum,
    last_value(b.vsum IGNORE NULLS) OVER wb AS prev_v,
    last_value(CASE WHEN b.vsum IS NOT NULL THEN axis.bucket_epoch END IGNORE NULLS)
      OVER wb AS prev_t,
    first_value(b.vsum IGNORE NULLS) OVER wf AS next_v,
    first_value(CASE WHEN b.vsum IS NOT NULL THEN axis.bucket_epoch END IGNORE NULLS)
      OVER wf AS next_t
  FROM axis LEFT JOIN b USING (user_id, bucket_epoch)
  WINDOW
    wb AS (PARTITION BY axis.user_id ORDER BY axis.bucket_epoch
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wf AS (PARTITION BY axis.user_id ORDER BY axis.bucket_epoch
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT user_id, bucket_epoch,
  COALESCE(n_obs, 0)::BIGINT AS n_events,
  floor((CASE WHEN vsum IS NOT NULL THEN vsum
              WHEN next_t IS NOT NULL THEN
                prev_v + (next_v - prev_v)
                * (CAST(bucket_epoch - prev_t AS DOUBLE)
                   / CAST(next_t - prev_t AS DOUBLE))
              ELSE prev_v END) * 1e6 + 0.5) / 1e6 AS value_interp,
  (n_obs IS NULL) AS filled
FROM seg
"""


def dedup_normalized(spark, sf_dir):
    """Exact dedup over canonicalized text (lowercase, non-alphanumeric
    runs -> single space, trim): catches trivial reformat duplicates at
    hash-groupBy cost. One row per doc with its group size and keep
    flag."""
    from henbun_spark.operators import dedup

    docs = _load(spark, sf_dir, "documents")
    return dedup.normalized_dup_groups(docs, "text", "doc_id")


_DEDUP_NORM_SQL = """
WITH h AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS norm_hash
  FROM documents),
g AS (SELECT norm_hash, COUNT(*)::BIGINT AS group_size, MIN(doc_id) AS keep_id
      FROM h GROUP BY 1)
SELECT h.doc_id, h.norm_hash, g.group_size, (h.doc_id = g.keep_id) AS keep
FROM h JOIN g USING (norm_hash)
"""


def mix_temperature_sources(spark, sf_dir):
    """Temperature-based (T=0.5) source re-balancing by character mass:
    per-source keep rates ~ sqrt(mass)/mass, quantized to ppm, applied
    as a deterministic md5 hash filter. Output is the per-source audit:
    mass, computed keep rate, and rows actually kept."""
    from henbun_spark.operators import pipeline

    docs = _load(spark, sf_dir, "documents")
    kept = pipeline.mix_temperature(
        docs, "source", "doc_id", "n_chars", target_frac=0.5, salt="mixT"
    )
    return kept.groupBy("source").agg(
        F.max("src_mass").alias("src_mass"),
        F.max("keep_ppm").alias("keep_ppm"),
        F.count(F.lit(1)).alias("n_kept"),
    )


def _ppm_sql(id_expr: str, salt: str) -> str:
    h = f"md5('{salt}' || '|' || CAST({id_expr} AS VARCHAR))"
    val6 = " + ".join(
        f"((instr('0123456789abcdef', substr({h}, {j + 1}, 1)) - 1) * {16 ** (5 - j)})"
        for j in range(6)
    )
    return f"CAST(({val6}) % 1000000 AS INT)"


_MIX_TEMP_SQL = f"""
WITH per_src AS (
  SELECT source, CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS src_mass
  FROM documents GROUP BY source),
tot AS (
  SELECT CAST(SUM(CAST(ROUND(sqrt(CAST(src_mass AS DOUBLE)), 9) AS DECIMAL(38,9)))
              AS DECIMAL(38,9)) AS W,
         SUM(src_mass) AS N
  FROM per_src),
rates AS (
  SELECT source, src_mass,
    CAST(ROUND(least(1.0,
      0.5 * CAST(N AS DOUBLE)
      * (CAST(CAST(ROUND(sqrt(CAST(src_mass AS DOUBLE)), 9) AS DECIMAL(38,9)) AS DOUBLE)
         / CAST(W AS DOUBLE))
      / CAST(src_mass AS DOUBLE)) * 1e6) AS INT) AS keep_ppm
  FROM per_src, tot)
SELECT d.source, MAX(r.src_mass) AS src_mass, MAX(r.keep_ppm) AS keep_ppm,
       COUNT(*)::BIGINT AS n_kept
FROM documents d JOIN rates r ON d.source = r.source
WHERE {_ppm_sql('d.doc_id', 'mixT')} < r.keep_ppm
GROUP BY d.source
"""


def upsample_epochs_sources(spark, sf_dir):
    """Multi-EPOCH deterministic source mixing via
    `pipeline.upsample_epochs` — the upsampling half of re-balancing that
    keep-rate mixers cannot express: per-source rates span 0.25x..3.75x
    (derived from the source id), so small high-quality sources repeat
    whole epochs while others run a fraction of one. Copy counts are
    floor(rate) + a ppm-hash Bernoulli on the fraction — reproducible,
    RNG-free, stable under corpus growth; copies materialize via a
    map-side explode with an epoch index (no shuffle). Output audits
    (source, epoch) -> docs + char mass, hash-checked."""
    from henbun_spark.operators import pipeline

    docs = _load(spark, sf_dir, "documents")
    srcs = [r[0] for r in docs.select("source").distinct().collect()]
    rates = {s: 0.25 + (int(s[3:]) % 8) * 0.5 for s in srcs}
    out = pipeline.upsample_epochs(
        docs, "source", "doc_id", rates, default_rate=1.0, salt="epoch"
    )
    return out.groupBy("source", F.col("epoch").cast("int").alias("epoch")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).alias("char_mass"),
    )


_UPSAMPLE_SQL = """
WITH rates AS (
  SELECT source,
    CAST((250000 + (CAST(substr(source, 4) AS INT) % 8) * 500000) // 1000000
         AS INT) AS base,
    CAST((250000 + (CAST(substr(source, 4) AS INT) % 8) * 500000) % 1000000
         AS INT) AS frac
  FROM (SELECT DISTINCT source FROM documents)),
c AS (
  SELECT d.source, d.doc_id, d.n_chars,
    base + CASE WHEN CAST((((instr('0123456789abcdef', substr(md5('epoch' || '|' || CAST(d.doc_id AS VARCHAR)), 1, 1)) - 1) * 1048576) + ((instr('0123456789abcdef', substr(md5('epoch' || '|' || CAST(d.doc_id AS VARCHAR)), 2, 1)) - 1) * 65536) + ((instr('0123456789abcdef', substr(md5('epoch' || '|' || CAST(d.doc_id AS VARCHAR)), 3, 1)) - 1) * 4096) + ((instr('0123456789abcdef', substr(md5('epoch' || '|' || CAST(d.doc_id AS VARCHAR)), 4, 1)) - 1) * 256) + ((instr('0123456789abcdef', substr(md5('epoch' || '|' || CAST(d.doc_id AS VARCHAR)), 5, 1)) - 1) * 16) + ((instr('0123456789abcdef', substr(md5('epoch' || '|' || CAST(d.doc_id AS VARCHAR)), 6, 1)) - 1) * 1)) % 1000000 AS INT) < frac THEN 1 ELSE 0 END AS n
  FROM documents d JOIN rates USING (source)),
e AS (
  SELECT source, doc_id, n_chars,
    unnest(generate_series(0, n - 1)) AS epoch
  FROM c WHERE n > 0)
SELECT source, epoch::INT AS epoch, COUNT(*)::BIGINT AS n_docs,
  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS char_mass
FROM e GROUP BY 1, 2
"""


def pack_materialize_docs(spark, sf_dir):
    """Materialized packed training sequences
    (`pipeline.materialize_packed_sequences`): bins `pack_sequences_docs`
    assigns become actual concatenated sequences — per (source, bin),
    member docs joined in stream order with a record-separator char.
    The concat shuffle keys on the HIGH-cardinality (shard, bin) pair,
    so every group is ~budget tokens regardless of corpus size. Output
    hashes the sequence text via md5 so the oracle compares content
    without hauling megabyte strings through the compare."""
    from henbun_spark.operators import pipeline

    docs = _load(spark, sf_dir, "documents").withColumn(
        "tok_est", (F.floor(F.col("n_chars") / 4) + 1).cast("long")
    )
    seqs = pipeline.materialize_packed_sequences(
        docs, "doc_id", "text", "tok_est", budget=512, part_col="source",
        salt="pack",
    )
    return seqs.select(
        "source",
        "bin",
        "n_docs",
        "seq_tokens",
        F.md5(F.col("seq_text")).alias("seq_digest"),
        F.length("seq_text").alias("seq_chars"),
    )


_PACK_MATERIALIZE_SQL = """
WITH toks AS (
  SELECT source, doc_id, text, (n_chars // 4 + 1)::BIGINT AS tok_est
  FROM documents),
offs AS (
  SELECT source, doc_id, text, tok_est,
    SUM(tok_est) OVER (
      PARTITION BY source
      ORDER BY md5('pack' || '|' || CAST(doc_id AS VARCHAR)), doc_id
      ROWS UNBOUNDED PRECEDING) - tok_est AS start_offset
  FROM toks)
SELECT source, (start_offset // 512)::BIGINT AS bin,
  COUNT(*)::BIGINT AS n_docs,
  CAST(SUM(tok_est) AS BIGINT) AS seq_tokens,
  md5(string_agg(text, chr(30) ORDER BY start_offset, doc_id)) AS seq_digest,
  (SUM(length(text)) + (COUNT(*) - 1))::BIGINT AS seq_chars
FROM offs GROUP BY 1, 2
"""


def rolling_median_user(spark, sf_dir):
    """Exact rolling median of `value` over the trailing 7 events per
    user (ROWS frame, ts+event_id tie-broken ordering): one keyed window
    collecting the bounded frame, array_sort, middle element (odd) or
    mean of the two middles (even) — Spark has no native windowed
    median; state is capped by the frame width, so the sort stays
    codegen-side at any scale."""
    ev = _load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, 0)
    )
    vals = F.array_sort(F.collect_list(F.col("value")).over(w))
    n = F.size(vals)
    odd = F.element_at(vals, F.floor((n + F.lit(1)) / 2).cast("int"))
    lo = F.element_at(vals, F.floor(n / 2).cast("int"))
    hi = F.element_at(vals, (F.floor(n / 2) + 1).cast("int"))
    med = F.when(n % 2 == 1, odd).otherwise((lo + hi) / F.lit(2.0))
    return ev.select(
        "event_id", "user_id", F.round(med, 6).alias("rolling_median")
    )


_ROLLING_MEDIAN_SQL = """
WITH lw AS (
  SELECT event_id, user_id,
    list_sort(list(value) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS vals
  FROM events)
SELECT event_id, user_id,
  ROUND(CASE WHEN len(vals) % 2 = 1
             THEN vals[CAST(floor((len(vals) + 1) / 2) AS INT)]
             ELSE (vals[CAST(floor(len(vals) / 2) AS INT)]
                   + vals[CAST(floor(len(vals) / 2) AS INT) + 1]) / 2.0
        END, 6) AS rolling_median
FROM lw
"""


def mv_incremental_daily(spark, sf_dir):
    """Incremental materialized-view maintenance: the daily
    (day x event_type) aggregate MV is built from events before
    2024-01-24, then a late-arriving final week folds in via
    `merge_agg_states` — union + re-aggregation of mergeable partials
    (counts + decimal-exact sums), never a rescan of the base. The
    oracle recomputes from scratch; matching proves the merge is exact."""
    from henbun_spark.operators import relational

    ev = _load(spark, sf_dir, "events")
    day = F.to_date("ts").alias("day")
    cutoff = F.lit("2024-01-24").cast("date")

    def partials(d):
        return d.groupBy(day, "event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value"), 6).cast("decimal(38,6)")).alias(
                "value_state"
            ),
        )

    mv = partials(ev.where(F.to_date("ts") < cutoff))
    delta = partials(ev.where(F.to_date("ts") >= cutoff))
    merged = relational.merge_agg_states(mv, delta, ["day", "event_type"])
    return merged.select(
        "day",
        "event_type",
        "n_events",
        F.col("value_state").cast("double").alias("value_sum"),
        F.round(
            F.col("value_state").cast("double") / F.col("n_events"), 6
        ).alias("value_avg"),
    )


_MV_INCREMENTAL_SQL = f"""
SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*)::BIGINT AS n_events,
  {_sql_dsum('value', 'value_sum')},
  ROUND(CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6)
    AS value_avg
FROM events
GROUP BY 1, 2
"""


def assemble_training_corpus(spark, sf_dir):
    """End-to-end training-data assembly flagship — the composition the
    individual operators exist for, each stage oracle-mirrored so the
    WHOLE pipeline is hash-checked: (1) normalized exact dedup keeps one
    doc per canonical text; (2) Gopher quality rules drop low-quality
    docs; (3) temperature (T=0.5) source re-balancing by character mass
    over the survivors; (4) next-fit packing into 512-token training
    sequences per source shard. Output: per-source audit (docs, tokens,
    sequence bins). Every stage is map-only or keyed-shuffle — the
    composition inherits each operator's 100 TB shape."""
    from henbun_spark.operators import dedup, pipeline
    from henbun_spark.operators import text as text_ops

    docs = _load(spark, sf_dir, "documents")
    groups = dedup.normalized_dup_groups(docs, "text", "doc_id")
    d1 = docs.join(
        groups.where(F.col("keep")).select("doc_id"), "doc_id", "left_semi"
    )
    # corpus-appropriate Gopher subset: the stopword-presence rule is
    # dropped (the synthetic corpus contains no English stopwords, so it
    # rejects every document); the length / word-shape / symbol rules
    # discriminate and stay
    g = text_ops.gopher_quality(d1, "text", "doc_id")
    passed = g.where(
        (F.col("n_words") >= 50)
        & (F.col("n_words") <= 100000)
        & (F.col("mean_word_len") >= 3)
        & (F.col("mean_word_len") <= 10)
        & (F.col("hash_ratio") < 0.1)
        & (F.col("ellipsis_ratio") < 0.3)
        & (F.col("alpha_word_frac") > 0.8)
    ).select("doc_id")
    d2 = d1.join(passed, "doc_id", "left_semi")
    d3 = pipeline.mix_temperature(
        d2, "source", "doc_id", "n_chars", target_frac=0.5, salt="corpus"
    )
    tk = d3.withColumn(
        "tok_est", (F.floor(F.col("n_chars") / 4) + 1).cast("long")
    )
    packed = pipeline.pack_sequences(
        tk, "doc_id", "tok_est", budget=512, part_col="source", salt="pack"
    )
    return packed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok_est").alias("sum_tokens"),
        F.countDistinct("bin").alias("n_bins"),
    )


def _assemble_sql() -> str:
    return f"""
WITH h AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS norm_hash
  FROM documents),
keepers AS (
  SELECT h.doc_id FROM h
  JOIN (SELECT norm_hash, MIN(doc_id) AS keep_id FROM h GROUP BY 1) g
    USING (norm_hash)
  WHERE h.doc_id = g.keep_id),
d1 AS (SELECT d.* FROM documents d JOIN keepers USING (doc_id)),
t AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM d1),
m AS (
  SELECT doc_id,
    len(w) AS n_words,
    ROUND(list_sum(list_transform(w, x -> length(x)))::DOUBLE / len(w), 6) AS mean_word_len,
    ROUND(((length(text) - length(replace(text, '#', '')))) / len(w), 6) AS hash_ratio,
    ROUND(((length(text) - length(replace(text, '...', ''))) / 3) / len(w), 6) AS ellipsis_ratio,
    ROUND(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE / len(w), 6) AS alpha_word_frac
  FROM t),
passed AS (
  SELECT doc_id FROM m
  WHERE n_words >= 50 AND n_words <= 100000
    AND mean_word_len >= 3 AND mean_word_len <= 10
    AND hash_ratio < 0.1 AND ellipsis_ratio < 0.3
    AND alpha_word_frac > 0.8),
d2 AS (SELECT d1.* FROM d1 JOIN passed USING (doc_id)),
per_src AS (
  SELECT source, CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS src_mass
  FROM d2 GROUP BY source),
tot AS (
  SELECT CAST(SUM(CAST(ROUND(sqrt(CAST(src_mass AS DOUBLE)), 9) AS DECIMAL(38,9)))
              AS DECIMAL(38,9)) AS W,
         SUM(src_mass) AS N
  FROM per_src),
rates AS (
  SELECT source,
    CAST(ROUND(least(1.0,
      0.5 * CAST(N AS DOUBLE)
      * (CAST(CAST(ROUND(sqrt(CAST(src_mass AS DOUBLE)), 9) AS DECIMAL(38,9)) AS DOUBLE)
         / CAST(W AS DOUBLE))
      / CAST(src_mass AS DOUBLE)) * 1e6) AS INT) AS keep_ppm
  FROM per_src, tot),
d3 AS (
  SELECT d2.* FROM d2 JOIN rates USING (source)
  WHERE {_ppm_sql('doc_id', 'corpus')} < keep_ppm),
tk AS (
  SELECT source, doc_id, (n_chars // 4 + 1)::BIGINT AS tok_est FROM d3),
o AS (
  SELECT source, doc_id, tok_est,
    SUM(tok_est) OVER (
      PARTITION BY source
      ORDER BY md5('pack' || '|' || CAST(doc_id AS VARCHAR)), doc_id
      ROWS UNBOUNDED PRECEDING) - tok_est AS start_offset
  FROM tk)
SELECT source, COUNT(*)::BIGINT AS n_docs,
  CAST(SUM(tok_est) AS BIGINT) AS sum_tokens,
  COUNT(DISTINCT start_offset // 512)::BIGINT AS n_bins
FROM o GROUP BY source
"""


def date_trunc_family(spark, sf_dir):
    """Datetime-truncation surface: per (week, month, quarter) truncation
    of order dates with counts and revenue — the calendar-rollup shapes
    (`date_trunc`) every time-series warehouse query leans on. Map-only
    truncations + one map-side-combinable aggregation."""
    o = _load(spark, sf_dir, "orders")
    return (
        o.select(
            F.date_trunc("week", F.col("o_orderdate")).cast("date").alias("wk"),
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("mo"),
            F.date_trunc("quarter", F.col("o_orderdate")).cast("date").alias("qt"),
            "o_totalprice",
        )
        .groupBy("wk", "mo", "qt")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice"), "revenue"),
        )
    )


_DATE_TRUNC_SQL = f"""
SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS wk,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
       CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qt,
       COUNT(*)::BIGINT AS n_orders,
       {_sql_dsum('o_totalprice', 'revenue')}
FROM orders
GROUP BY 1, 2, 3
"""


def null_semantics_suite(spark, sf_dir):
    """SQL null-semantics surface over a column with real NULLs
    (c_comment sliced to NULL for a deterministic subset): null-safe
    equality (<=>), COALESCE, NULLIF, IS DISTINCT FROM aggregation, and
    null-last ordering counts — the semantics corner every engine must
    pin down."""
    c = _load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None)).otherwise(
            F.col("c_mktsegment")
        ).alias("seg"),
    )
    return c.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("seg").alias("n_nonnull"),
        F.sum(F.col("seg").eqNullSafe(F.lit("BUILDING")).cast("long")).alias(
            "n_building_nullsafe"
        ),
        F.sum(
            (~F.col("seg").eqNullSafe(F.lit("BUILDING"))).cast("long")
        ).alias("n_not_building_nullsafe"),
        F.count(F.coalesce(F.col("seg"), F.lit("UNKNOWN"))).alias("n_coalesced"),
        F.sum(F.nullif(F.col("seg"), F.lit("MACHINERY")).isNull().cast("long")).alias(
            "n_nullified"
        ),
    )


_NULL_SEMANTICS_SQL = """
WITH c AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END AS seg
  FROM customer)
SELECT COUNT(*)::BIGINT AS n_rows,
  COUNT(seg)::BIGINT AS n_nonnull,
  SUM(CASE WHEN seg IS NOT DISTINCT FROM 'BUILDING' THEN 1 ELSE 0 END)::BIGINT
    AS n_building_nullsafe,
  SUM(CASE WHEN seg IS DISTINCT FROM 'BUILDING' THEN 1 ELSE 0 END)::BIGINT
    AS n_not_building_nullsafe,
  COUNT(COALESCE(seg, 'UNKNOWN'))::BIGINT AS n_coalesced,
  SUM(CASE WHEN NULLIF(seg, 'MACHINERY') IS NULL THEN 1 ELSE 0 END)::BIGINT
    AS n_nullified
FROM c
"""


def asof_nearest_purchase(spark, sf_dir):
    """Nearest-direction as-of join (clicks pick up the temporally
    CLOSEST purchase per user, either side; ties go backward): both
    window fills share one user-keyed shuffle. Completes the
    backward/forward/nearest as-of family. Oracle: DuckDB has no
    nearest ASOF, so the oracle composes its backward and forward ASOF
    joins and picks the closer match — an independent formulation of
    the same semantics."""
    from henbun_spark.operators import relational

    ev = _load(spark, sf_dir, "events")
    left = ev.select("user_id", "ts", "event_id").where(
        F.col("event_type") == "click"
    )
    right = ev.select("user_id", "ts", F.col("value").alias("near_value")).where(
        F.col("event_type") == "purchase"
    )
    return relational.asof_nearest(
        left, right, on="ts", by="user_id", right_cols=["near_value"]
    ).select("event_id", "near_value")


_ASOF_NEAREST_SQL = """
WITH l AS (SELECT * FROM events WHERE event_type='click'),
p AS (SELECT * FROM events WHERE event_type='purchase'),
b AS (
  SELECT l.event_id, l.ts AS lts, r.ts AS bts, r.value AS bval
  FROM l ASOF LEFT JOIN p r ON l.user_id = r.user_id AND l.ts >= r.ts),
f AS (
  SELECT l.event_id, r.ts AS fts, r.value AS fval
  FROM l ASOF LEFT JOIN p r ON l.user_id = r.user_id AND l.ts <= r.ts)
SELECT b.event_id,
  CASE WHEN bts IS NOT NULL AND (fts IS NULL
            OR (epoch_us(lts) - epoch_us(bts)) <= (epoch_us(fts) - epoch_us(lts)))
       THEN bval ELSE fval END AS near_value
FROM b JOIN f USING (event_id)
"""


def boilerplate_chunks_docs(spark, sf_dir):
    """Frequency-based boilerplate removal: 16-word chunks appearing in
    more than 2 distinct documents are template text and are stripped
    from EVERY document (vs `chunk_dedup_docs`, which keeps first
    occurrences). Output per doc: chunk counts and the reassembled
    clean text."""
    from henbun_spark.operators import dedup

    docs = _load(spark, sf_dir, "documents")
    return dedup.boilerplate_chunk_removal(
        docs, "text", "doc_id", chunk_words=16, max_docs=2
    )


_BOILERPLATE_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM documents
),
chunks AS (
  SELECT doc_id, i AS chunk_idx,
         array_to_string(w[(i*16+1):(i*16+16)], ' ') AS chunk
  FROM (SELECT doc_id, w,
          unnest(generate_series(0, greatest(CAST(ceil(len(w)/16.0) AS INT)-1, 0))) AS i
        FROM toks)
),
freq AS (
  SELECT chunk, COUNT(DISTINCT doc_id) AS doc_freq FROM chunks GROUP BY chunk
),
flagged AS (
  SELECT c.doc_id, c.chunk_idx, c.chunk, f.doc_freq <= 2 AS keep
  FROM chunks c JOIN freq f USING (chunk)
)
SELECT doc_id,
       COUNT(*)::BIGINT AS n_chunks,
       SUM(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       COALESCE(array_to_string(list(chunk ORDER BY chunk_idx) FILTER (WHERE keep), ' '), '')
         AS clean_text
FROM flagged GROUP BY doc_id
"""


def streaming_mv_daily(spark, sf_dir):
    """Streaming materialized-view maintenance, ORACLE-CHECKED with the
    SAME full-recompute SQL as `mv_incremental_daily`: each micro-batch
    aggregates to (day x event_type) partials and merges into the
    persistent MV via union + re-aggregation of mergeable states.
    Count/decimal-sum merging is associative + commutative, so the
    drained MV is exact regardless of how rows split into batches."""
    from henbun_spark import streaming

    ev = _load(spark, sf_dir, "events").select("ts", "event_type", "value")
    stream, base = _file_stream(ev, "henbun_smv_", one_file_per_batch=True)

    def partials(d):
        return d.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value"), 6).cast("decimal(38,6)")).alias(
                "value_state"
            ),
        )

    q = streaming.mv_stream_maintenance(
        stream, partials, ["day", "event_type"], f"{base}/state", f"{base}/ckpt"
    )
    q.awaitTermination()
    mv = streaming.load_state(spark, f"{base}/state")
    return mv.select(
        "day",
        "event_type",
        "n_events",
        F.col("value_state").cast("double").alias("value_sum"),
        F.round(
            F.col("value_state").cast("double") / F.col("n_events"), 6
        ).alias("value_avg"),
    )


def streaming_mv_partitioned_daily(spark, sf_dir):
    """PARTITION-SCOPED streaming MV maintenance, ORACLE-CHECKED with
    the same full-recompute SQL as `mv_incremental_daily` — the huge-MV
    variant (`mv_stream_maintenance_partitioned`) under the same
    hash-level guarantee as `streaming_mv_daily`: the state keeps
    day-level keys but is hive-partitioned on the derived MONTH (the
    production layout — partition granularity coarser than the key so
    file counts stay sane), and each micro-batch reads back and
    rewrites ONLY the month-partitions it touches (partition-pruned
    scan + dynamic partition overwrite + journaled idempotence), so
    per-batch cost is O(|batch| + |touched partitions|) no matter how
    large the MV grows — a month-partitioned MV over years folds in a
    late hour by touching one partition. Count/decimal-sum merge
    states keep the drained MV exact under any micro-batch split."""
    from henbun_spark import streaming

    ev = _load(spark, sf_dir, "events").select("ts", "event_type", "value")
    stream, base = _file_stream(ev, "henbun_smvp_", one_file_per_batch=True)

    def partials(d):
        return d.groupBy(
            F.date_trunc("month", F.col("ts")).cast("date").alias("month"),
            F.to_date("ts").alias("day"),
            F.col("event_type"),
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value"), 6).cast("decimal(38,6)")).alias(
                "value_state"
            ),
        )

    q = streaming.mv_stream_maintenance_partitioned(
        stream,
        partials,
        ["month", "day", "event_type"],
        "month",
        f"{base}/state",
        f"{base}/ckpt",
    )
    q.awaitTermination()
    mv = streaming.load_partitioned_state(spark, f"{base}/state")
    return mv.select(
        F.col("day").cast("date").alias("day"),
        "event_type",
        "n_events",
        F.col("value_state").cast("double").alias("value_sum"),
        F.round(
            F.col("value_state").cast("double") / F.col("n_events"), 6
        ).alias("value_avg"),
    )


def streaming_interval_left_join(spark, sf_dir):
    """Watermarked stream-stream LEFT OUTER interval join, drained and
    ORACLE-CHECKED against the batch left join: matched rows flow like
    the inner join; each unmatched click emits (null purchase) only
    after the watermark passes click_ts + 6h, so a sentinel row on both
    streams 10 days past the data pushes the final watermark beyond
    every real left row and the closing no-data micro-batch flushes the
    outer results. State stays bounded by watermark + interval width."""
    from henbun_spark import streaming

    ev = _load(spark, sf_dir, "events")
    far = ev.agg((F.max("ts") + F.expr("INTERVAL 240 HOURS")).alias("ts"))
    sentinel = far.select(
        F.lit(-1).cast("long").alias("event_id"),
        "ts",
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("click").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("").alias("props"),
    ).unionByName(
        far.select(
            F.lit(-2).cast("long").alias("event_id"),
            "ts",
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("purchase").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("").alias("props"),
        )
    )
    data = ev.select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ).unionByName(sentinel)
    stream, base = _file_stream(data, "henbun_sloj_")
    clicks = stream.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("click_id")
    )
    purchases = stream.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("purchase_id")
    )
    joined = streaming.interval_join_streams(
        clicks,
        purchases,
        on="user_id",
        left_ts="c_ts",
        right_ts="p_ts",
        lower="interval 0 seconds",
        upper="interval 6 hours",
        watermark="1 hour",
        how="leftOuter",
    )
    # sentinel rows must flow INTO the sink: a user_id filter here gets
    # pushed below the watermark operators by Catalyst and deletes the
    # sentinels before the event-time stats — the watermark then never
    # passes the tail clicks and their outer rows never flush. Filter on
    # the batch read instead.
    out = joined.select(
        F.col("l.user_id").alias("user_id"), "click_id", "purchase_id"
    )
    out_dir = f"{base}/out"
    _drain_to_parquet(spark, out, out_dir, f"{base}/ckpt")
    return spark.read.parquet(out_dir).where(F.col("user_id") >= 0)


_STREAMING_LOJ_SQL = """
SELECT l.user_id, l.event_id AS click_id, r.event_id AS purchase_id
FROM (SELECT * FROM events WHERE event_type = 'click') l
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts - INTERVAL 6 HOURS
 AND r.ts <= l.ts
"""


def streaming_ivf_ingest(spark, sf_dir):
    """Incremental ANN index maintenance on a stream: arriving vectors
    are cell-assigned (Column math, centroid literals) and APPENDED to
    a cell-partitioned parquet index — no rewrite, no state; serving
    prunes the scan to the probed cells' partition directories.

    ORACLE-CHECKED (r8, retiring the rows-only driver row — the
    `ann_topk_ivf` recipe): the streamed-and-served candidate sets have
    no SQL form, so the contract output is the EXACT cosine top-3 for
    the 5 payload queries (the `sim_cosine_topk` oracle, bitwise) plus
    `recall_ok`: the STREAMED index's recall@3 must stay >= 0.4 — the
    SAME bound as the batch `ann_topk_ivf` (r9, closing the advisor's
    inconsistency note). The recall is measured over a WIDER 25-query
    set (75 exact pairs) than the hashed payload, so the boolean's
    granularity is 1/75 and the measured 0.53/0.56 recall at
    sf0.01/sf0.1 sits 10 discrete steps above the bound (chance at
    nprobe=2 of 8 cells would be ~0.25) — a benign testdata
    regeneration cannot plausibly flip it, but a dropped micro-batch,
    a broken cell assignment at ingest, or a partition-pruning bug at
    serve time still does. The pytest additionally pins streamed ==
    batch `ivf_topk` EXACTLY under the same quantizer."""
    from henbun_spark.operators import similarity

    emb = _load(spark, sf_dir, "embeddings")
    centroids = similarity.train_coarse_quantizer(
        emb, "embedding", "vec_id", n_cells=8, train_sample=2000, seed=42
    )
    stream, base = _file_stream(emb, "henbun_sivf_", one_file_per_batch=True)
    q = similarity.ivf_index_write_stream(
        stream, centroids, f"{base}/index", f"{base}/ckpt"
    )
    q.awaitTermination()
    wide = emb.where(F.col("vec_id") < 25)
    approx = similarity.ivf_index_search(
        spark, f"{base}/index", centroids, wide, k=3, nprobe=2
    )
    exact_wide = similarity.cosine_topk(emb, wide, k=3)
    eset = {(r["query_id"], r["neighbor_id"]) for r in exact_wide.collect()}
    aset = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    ok = (not eset) or len(eset & aset) / len(eset) >= 0.4
    if eset:
        _rec_bound("streaming_ivf_ingest", "recall_ok",
                   len(eset & aset) / len(eset), 0.4, ">=",
                   step=1.0 / len(eset))
    exact = similarity.cosine_topk(emb, emb.where(F.col("vec_id") < 5), k=3)
    return exact.withColumn("recall_ok", F.lit(bool(ok)))


def streaming_dedup_index(spark, sf_dir):
    """PERSISTENT streaming dedup index, ORACLE-CHECKED with the batch
    digest SQL: documents stream in as 4-file micro-batches and
    foreachBatch folds each batch's (md5(text) -> min doc_id, count)
    partials into a versioned exactly-once state via
    `mv_stream_maintenance(agg_spec={canonical_id: min})` — the
    continuous-ingest dedup pattern: the index answers "is this text
    already in the lake, and which doc is canonical" without ever
    rescanning the corpus, min/count merges are order-independent so
    micro-batch splits cannot change the drained state, and replayed
    batches are skipped by batch id. Output: duplicate groups only
    (n_copies > 1) with their canonical (minimum) doc_id."""
    from henbun_spark import streaming

    base_docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    # the corpus has no exact text dups at test SF; a deterministic
    # "re-crawl" slice (every 11th doc re-ingested under a new id)
    # gives the index real duplicate groups to resolve
    recrawl = base_docs.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    docs = base_docs.unionByName(recrawl)
    stream, base = _file_stream(docs, "henbun_sdi_", one_file_per_batch=True)

    def partials(d):
        return d.groupBy(F.md5("text").alias("digest")).agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )

    q = streaming.mv_stream_maintenance(
        stream,
        partials,
        ["digest"],
        f"{base}/state",
        f"{base}/ckpt",
        agg_spec={"canonical_id": "min"},
    )
    q.awaitTermination()
    idx = streaming.load_state(spark, f"{base}/state")
    return idx.where(F.col("n_copies") > 1).select(
        "digest", "canonical_id", "n_copies"
    )


_STREAM_DEDUP_INDEX_SQL = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text
  FROM documents WHERE doc_id % 11 = 0)
SELECT md5(text) AS digest, MIN(doc_id) AS canonical_id,
  COUNT(*)::BIGINT AS n_copies
FROM corpus GROUP BY 1 HAVING COUNT(*) > 1
"""


def streaming_substr_index(spark, sf_dir):
    """NEW r9 streaming path: the INCREMENTAL twin of the r9 ExactSubstr
    operator — a persistent duplicated-WINDOW digest index. Documents
    stream in as 4-file micro-batches; each batch explodes its own
    24-char rolling windows (the same factorization as
    `dedup.duplicate_substring_spans`: a duplicated substring of length
    >= L is a run of duplicated L-char windows) and folds
    (digest -> min doc_id, occurrence count) partials into versioned
    exactly-once state via `mv_stream_maintenance(agg_spec=
    {canonical_id: min})`. min/count merges are order-independent, so
    micro-batch splits cannot change the drained state, and the index
    answers "which windows of this new doc already exist in the lake"
    at ingest time without rescanning the corpus — the continuous-
    ingest form of the ExactSubstr pass. ORACLE-CHECKED: drained state
    == the batch digest groupBy bit-for-bit."""
    from henbun_spark import streaming

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    stream, base = _file_stream(docs, "henbun_ssx_", one_file_per_batch=True)

    def partials(d):
        ln = F.length("text")
        pos = d.where(ln >= 24).select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(1), ln - F.lit(23))).alias("i"),
        )
        return (
            pos.select(
                "doc_id",
                F.md5(
                    F.col("text").substr(F.col("i"), F.lit(24))
                ).alias("digest"),
            )
            .groupBy("digest")
            .agg(
                F.min("doc_id").alias("canonical_id"),
                F.count(F.lit(1)).alias("n_occ"),
            )
        )

    q = streaming.mv_stream_maintenance(
        stream,
        partials,
        ["digest"],
        f"{base}/state",
        f"{base}/ckpt",
        agg_spec={"canonical_id": "min"},
    )
    q.awaitTermination()
    idx = streaming.load_state(spark, f"{base}/state")
    return idx.where(F.col("n_occ") > 1).select(
        "digest", "canonical_id", F.col("n_occ").cast("long").alias("n_occ")
    )


_STREAM_SUBSTR_INDEX_SQL = """
WITH pos AS (
  SELECT doc_id, text, unnest(generate_series(1, length(text) - 23)) AS i
  FROM documents WHERE length(text) >= 24)
SELECT md5(substr(text, i, 24)) AS digest,
  MIN(doc_id) AS canonical_id, COUNT(*)::BIGINT AS n_occ
FROM pos GROUP BY 1 HAVING COUNT(*) > 1
"""


def streaming_neardup_index(spark, sf_dir):
    """PERSISTENT streaming NEAR-dup index, ORACLE-CHECKED with the
    batch LSH-bucket SQL: documents stream in as 4-file micro-batches;
    each batch computes its docs' banded MinHash signatures (char-8-gram
    shingles, 4 bands — a per-DOC map-side computation, so no signature
    ever depends on other batches) and folds the per-(band, mh) bucket
    partials (min doc_id as the canonical member, member count) into
    versioned exactly-once state via `mv_stream_maintenance`
    (`agg_spec={canonical_id: min}`). min/sum merges are
    order-independent, so micro-batch splits cannot change the drained
    state — the index equals the batch groupBy over the full corpus,
    and answers "which LSH buckets does this new doc collide with, and
    who is canonical there" without rescanning the lake. Output:
    collision buckets only (n_members > 1) — exactly the candidate
    generation state behind `dedup_minhash_lsh`, maintained
    incrementally."""
    from henbun_spark import streaming
    from henbun_spark.operators import dedup

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    stream, base = _file_stream(docs, "henbun_sni_", one_file_per_batch=True)

    def partials(d):
        sig = dedup.minhash_signatures(d, "text", "doc_id", n=8, bands=4)
        return sig.groupBy("band", "mh").agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_members"),
        )

    q = streaming.mv_stream_maintenance(
        stream,
        partials,
        ["band", "mh"],
        f"{base}/state",
        f"{base}/ckpt",
        agg_spec={"canonical_id": "min"},
    )
    q.awaitTermination()
    idx = streaming.load_state(spark, f"{base}/state")
    return idx.where(F.col("n_members") > 1).select(
        "band", "mh", "canonical_id", "n_members"
    )


def streaming_static_enrich(spark, sf_dir):
    """STREAM-STATIC enrichment join, ORACLE-CHECKED with the batch
    join SQL: events stream in as 4-file micro-batches and each batch
    broadcast-joins the STATIC customer->nation dimension (the most
    common production streaming shape — no state, no watermark: the
    static side is re-broadcast per micro-batch, so dimension updates
    between batches are picked up for free); per-batch (nation,
    event_type) partials (count + exact INTEGER-CENTS sum, so folding
    across arbitrary micro-batch splits is bit-exact) fold into
    versioned exactly-once state via `mv_stream_maintenance`.

    r9 representation change: the hashed result carries `sum_cents`
    as BIGINT — `SUM(CAST(floor(value*100.0+0.5) AS BIGINT))` on both
    sides — instead of the r7 `decimal(28,2)` column. The r6-r8 driver
    rows were rows-green/schema-green/hash-red while the local oracle
    check was bitwise-exact, i.e. the VALUES agreed but the driver's
    hash protocol rendered the decimal differently; pure BIGINTs leave
    nothing representation-dependent to hash (the floor-quantize is the
    same IEEE op sequence in both engines, the repo's standard recipe).
    The drained state equals the batch join+groupBy bit-for-bit. Its
    twin `streaming_enrich_static` drains enriched rows statelessly to
    parquet over `customer` alone; only this one covers the exactly-once
    `mv_stream_maintenance` fold and the two-table `customer ⋈ nation`
    dimension."""
    from henbun_spark import streaming

    ev = _load(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    dim = (
        _load(spark, sf_dir, "customer")
        .join(
            _load(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("c_custkey").alias("user_id"), "n_name")
    )
    stream, base = _file_stream(ev, "henbun_sse_", one_file_per_batch=True)

    def partials(d):
        return (
            d.join(F.broadcast(dim), "user_id")
            .groupBy("n_name", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(
                    F.floor(
                        F.col("value") * F.lit(100.0) + F.lit(0.5)
                    ).cast("long")
                ).alias("sum_cents"),
            )
        )

    q = streaming.mv_stream_maintenance(
        stream,
        partials,
        ["n_name", "event_type"],
        f"{base}/state",
        f"{base}/ckpt",
    )
    q.awaitTermination()
    mv = streaming.load_state(spark, f"{base}/state")
    return mv.select(
        "n_name",
        "event_type",
        "n_events",
        F.col("sum_cents").cast("long").alias("sum_cents"),
    )


_STREAM_STATIC_ENRICH_SQL = """
SELECT n_name, event_type, COUNT(*)::BIGINT AS n_events,
  CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
    AS sum_cents
FROM events
JOIN customer ON user_id = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1, 2
"""


_STREAM_NEARDUP_INDEX_SQL = """
WITH sh AS (
  SELECT DISTINCT doc_id, substr(text, i, 8) AS s
  FROM (SELECT doc_id, text,
          unnest(generate_series(1, greatest(length(text)-7, 1))) AS i
        FROM documents)
), sig AS (
  SELECT doc_id, band,
    min(substr(md5((band // 4)::VARCHAR || '|' || s), (band % 4) * 8 + 1, 8)) AS mh
  FROM sh CROSS JOIN (SELECT unnest([0,1,2,3]) AS band)
  GROUP BY doc_id, band
)
SELECT band, mh, MIN(doc_id) AS canonical_id,
  COUNT(*)::BIGINT AS n_members
FROM sig GROUP BY 1, 2 HAVING COUNT(*) > 1
"""


def streaming_heavy_hitters(spark, sf_dir):
    """Incremental heavy-hitter maintenance on a stream, ORACLE-CHECKED
    with the SAME SQL as the batch `heavy_hitters_users`: each
    micro-batch's Misra-Gries summaries fold into a persistent
    <= (k-1)-row state via foreachBatch; MG-summary folding preserves
    the total-undercount <= N/k bound across batches, so the drained
    candidate set still covers every key above N/k over the whole
    stream. One exact verification pass then yields exactly the true
    heavy hitters."""
    from henbun_spark import streaming
    from henbun_spark.operators import sketch

    ev = _load(spark, sf_dir, "events").select("user_id", "ts")
    stream, base = _file_stream(ev, "henbun_smg_", one_file_per_batch=True)
    q = streaming.mg_stream_maintenance(
        stream, "user_id", f"{base}/state", f"{base}/ckpt", k=128
    )
    q.awaitTermination()
    cands = streaming.load_state(spark, f"{base}/state")
    return sketch.heavy_hitters_verify(ev, "user_id", cands, k=128)


def tdigest_quantiles_value(spark, sf_dir):
    """t-digest quantile estimates over events.value, ORACLE-CHECKED
    (r7, retiring the rows-only driver row): deterministic md5-bucketed
    digests (applyInPandas), k1-scale greedy compression (~100
    centroids regardless of input), bounded merge, interpolated
    estimates. The greedy compression loop has no SQL form, so the
    contract output carries (a) the EXACT percentile twin from the
    distributed order-statistics path (floor-quantized, ==
    quantile_cont bitwise) and (b) `rank_ok`: the estimate's empirical-
    CDF rank error stays under the 2% pytest bound (measured <= 0.001
    at sf0.01/0.1 — 20x margin), computed from one conditional-sum scan
    — the `minhash_recall_docs` oracle-checked-metric pattern, so a
    broken digest flips the boolean and fails the driver hash."""
    from henbun_spark.operators import sketch

    ev = _load(spark, sf_dir, "events")
    dig = sketch.tdigest_merge(sketch.tdigest_build(ev, "value", delta=100))
    qs = [0.01, 0.25, 0.5, 0.75, 0.99]
    # r12: the digest chain (build -> python merge) fed BOTH the
    # emptiness probe and the quantile collect — persist the <= ~100-row
    # digest so the corpus pass runs once, and release it as soon as
    # both driver-side uses are done (before returning the lazy result)
    dig = dig.persist()
    try:
        if not dig.head(1):  # empty input: schema-stable empty result
            return spark.createDataFrame(
                [], "q double, exact double, rank_ok boolean"
            )
        ests = {
            r["q"]: r["est"] for r in sketch.tdigest_quantile(dig, qs).collect()
        }
    finally:
        dig.unpersist(blocking=False)
    return _tdigest_contract(spark, "tdigest_quantiles_value", ev, ests, 0.02)


def _tdigest_contract(spark, query, ev, ests, bound):
    """(q, exact, rank_ok) contract tail of the global t-digest queries:
    ``rank_ok`` per q from ONE scan of ``ev`` (n + per-q "values <=
    estimate" counts, map-side combine) against the query's rank-error
    ``bound``, that statistic recorded by `_rec_bound`, joined to the
    floor-quantized EXACT twin from the distributed order-statistics
    path (== quantile_cont bitwise)."""
    from henbun_spark.operators import relational

    qs = sorted(ests)
    row = ev.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum((F.col("value") <= F.lit(ests[q])).cast("long")).alias(
                f"le_{i}"
            )
            for i, q in enumerate(qs)
        ],
    ).collect()[0]
    errs = [abs(row[f"le_{i}"] / row["n"] - q) for i, q in enumerate(qs)]
    ok = spark.createDataFrame(
        [(float(q), bool(e <= bound)) for q, e in zip(qs, errs)],
        "q double, rank_ok boolean",
    )
    _rec_bound(query, "rank_ok", max(errs), bound, "<=", step=1.0 / row["n"])
    exact = relational.keyed_percentiles_exact(ev, [], "value", qs).select(
        F.col("p").alias("q"),
        (F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "exact"
        ),
    )
    return exact.join(F.broadcast(ok), "q")


def tdigest_by_type(spark, sf_dir):
    """Per-GROUP t-digest quantiles (grouped sketch family completion:
    HLL by type = distinct, Misra-Gries by type = heavy keys, t-digest
    by type = quantiles): per-event_type p50/p95 estimated from
    ~100-centroid digests built over (group, md5-value-bucket) cells —
    the one keyed `sketch.tdigest_build`/`tdigest_merge`/
    `tdigest_quantile` chain with ``group_cols``, 8 value buckets per
    group; summaries, never raw values, shuffle on the group key — next
    to the EXACT per-type percentiles from the distributed
    order-statistics path. ORACLE-CHECKED (r7): greedy compression has
    no SQL form, so the contract output is (event_type, q, exact
    floor-quantized == quantile_cont bitwise, rank_ok) with `rank_ok`
    asserting the per-group empirical-CDF rank error under the 2.5%
    pytest bound (measured <= 0.0024 at sf0.01 — 10x margin) via one
    broadcast-join conditional-sum pass — a broken grouped digest flips
    the boolean and fails the driver hash."""
    from henbun_spark.operators import relational, sketch

    ev = _load(spark, sf_dir, "events")
    by = ["event_type"]
    dig = sketch.tdigest_merge(
        sketch.tdigest_build(ev, "value", delta=100, n_buckets=8, group_cols=by),
        delta=100,
        group_cols=by,
    )
    est = sketch.tdigest_quantile(dig, [0.5, 0.95], group_cols=by)
    joined = ev.join(F.broadcast(est), "event_type").groupBy(
        "event_type", "q"
    )
    rank_err = F.abs(
        F.sum((F.col("value") <= F.col("est")).cast("long"))
        / F.count(F.lit(1))
        - F.first("q")
    )
    ok = joined.agg((rank_err <= F.lit(0.025)).alias("rank_ok"))
    if _RECORD_BOUNDS:
        worst = joined.agg(
            rank_err.alias("e"), F.count(F.lit(1)).alias("n")
        ).agg(F.max("e"), F.min(F.lit(1.0) / F.col("n"))).collect()[0]
        _rec_bound("tdigest_by_type", "rank_ok", float(worst[0]),
                   0.025, "<=", step=float(worst[1]))
    exact = relational.keyed_percentiles_exact(
        ev, "event_type", "value", [0.5, 0.95]
    ).select(
        "event_type",
        F.col("p").alias("q"),
        (F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "exact"
        ),
    )
    return exact.join(ok, ["event_type", "q"])


def streaming_tdigest_value(spark, sf_dir):
    """Incremental quantile-sketch maintenance on a stream
    (`streaming.tdigest_stream_maintenance`): events replayed as a
    4-file stream (one file per trigger); each micro-batch's bucketed
    t-digest folds into a persistent ~100-centroid parquet state via
    foreachBatch. The drained state answers p1..p99 next to the exact
    batch percentiles — completing the streaming sketch family (HLL =
    distinct, Misra-Gries = heavy keys, t-digest = quantiles, MV =
    aggregates). ORACLE-CHECKED (r7) like `tdigest_quantiles_value`:
    (q, exact floor-quantized == quantile_cont bitwise, rank_ok) with
    `rank_ok` bounding the DRAINED digest's empirical-CDF rank error at
    the 2.5% pytest bound — the streaming fold path itself is held to
    the driver hash."""
    from henbun_spark import streaming
    from henbun_spark.operators import sketch

    ev = _load(spark, sf_dir, "events").select("value", "ts")
    stream, base = _file_stream(ev, "henbun_std_", one_file_per_batch=True)
    q = streaming.tdigest_stream_maintenance(
        stream, "value", f"{base}/state", f"{base}/ckpt", delta=100
    )
    q.awaitTermination()
    dig = streaming.load_state(spark, f"{base}/state")
    qs = [0.01, 0.25, 0.5, 0.75, 0.99]
    if not dig.head(1):  # empty input: schema-stable empty result
        return spark.createDataFrame(
            [], "q double, exact double, rank_ok boolean"
        )
    ests = {
        r["q"]: r["est"] for r in sketch.tdigest_quantile(dig, qs).collect()
    }
    return _tdigest_contract(spark, "streaming_tdigest_value", ev, ests, 0.025)


_TDIGEST_QUANTILES_SQL = """
WITH ex AS (
  SELECT CAST(0.01 AS DOUBLE) AS q, quantile_cont(value, 0.01) AS v FROM events
  UNION ALL SELECT CAST(0.25 AS DOUBLE), quantile_cont(value, 0.25) FROM events
  UNION ALL SELECT CAST(0.5 AS DOUBLE), quantile_cont(value, 0.5) FROM events
  UNION ALL SELECT CAST(0.75 AS DOUBLE), quantile_cont(value, 0.75) FROM events
  UNION ALL SELECT CAST(0.99 AS DOUBLE), quantile_cont(value, 0.99) FROM events)
SELECT q, floor(v * 1000000.0 + 0.5) / 1000000.0 AS exact, TRUE AS rank_ok
FROM ex
"""


_TDIGEST_BY_TYPE_SQL = """
SELECT event_type, CAST(0.5 AS DOUBLE) AS q,
  floor(quantile_cont(value, 0.5) * 1000000.0 + 0.5) / 1000000.0 AS exact,
  TRUE AS rank_ok
FROM events GROUP BY event_type
UNION ALL
SELECT event_type, CAST(0.95 AS DOUBLE),
  floor(quantile_cont(value, 0.95) * 1000000.0 + 0.5) / 1000000.0, TRUE
FROM events GROUP BY event_type
"""


def video_dedup_frames(spark, sf_dir):
    """Video near-dup end-to-end on REAL frames: genuine HBV1 raw-frame
    containers -> per-frame decode + perceptual aHash at sampled
    offsets (Arrow-batched mapInPandas, payload never shuffles) ->
    frame-hash inverted-index join (frames play the n-gram role). 8
    planted copies must pair with their originals. ORACLE-CHECKED (r7):
    the synthesis is fully seeded and sf-independent, so the planted-
    pair output (ids + shared-frame counts) is a deterministic constant
    — the oracle pins it as a VALUES table, hash-checking the whole
    decode -> aHash -> inverted-index pipeline end-to-end."""
    from henbun_spark.operators import multimodal

    media = multimodal.synthesize_media(spark, n=64, kind="video", seed=0)
    extras = [
        (
            int(r["media_id"]) + 1000,
            "video",
            bytearray(bytes(r["payload"])),
            (8, 8, None, 1500, "hbv"),
        )
        for r in media.where(F.col("media_id") < 8).collect()
    ]
    all_media = media.unionByName(
        spark.createDataFrame(extras, multimodal.MEDIA_SCHEMA)
    )
    frames = multimodal.frame_sample(all_media, every_ms=250)
    pairs = multimodal.video_dup_candidates(frames, min_shared=3)
    return pairs.where(F.col("id_b") - F.col("id_a") == 1000)


_VIDEO_DEDUP_FRAMES_SQL = """
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(shared_frames AS BIGINT) AS shared_frames
FROM (VALUES (0, 1000, 7), (1, 1001, 7), (2, 1002, 7), (3, 1003, 7),
             (4, 1004, 7), (5, 1005, 7), (6, 1006, 7), (7, 1007, 7))
  AS t(id_a, id_b, shared_frames)
"""


def ann_topk_pq(spark, sf_dir):
    """Approximate NN via product quantization: 8x16 codebooks (driver
    sample), one-byte-per-subspace codes, ADC lookup-table scoring, then
    exact cosine re-rank of the top candidates. ORACLE-CHECKED (r7)
    like `ann_topk_ivf`: trained codebooks have no SQL form, so the
    contract output is the EXACT cosine top-3 (bitwise vs the
    `sim_cosine_topk` oracle recipe) plus `recall_ok` asserting the PQ
    path's overall recall@3 >= 0.4 (measured 0.47-0.67 across
    sf0.001-0.1 at this seed; the ADC candidate set feeding the exact
    re-rank is what the bound exercises)."""
    from henbun_spark.operators import similarity

    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    approx = similarity.pq_topk(
        emb, queries, k=3, m_sub=8, n_codes=16, refine=32, seed=42
    )
    exact = similarity.cosine_topk(emb, queries, k=3)
    # the two measurement collects are independent jobs (r12)
    exact_rows, approx_rows = _overlap(exact.collect, approx.collect)
    eset = {(r["query_id"], r["neighbor_id"]) for r in exact_rows}
    aset = {(r["query_id"], r["neighbor_id"]) for r in approx_rows}
    # empty query set -> exact frame is empty, the boolean is unread
    ok = (not eset) or len(eset & aset) / len(eset) >= 0.4
    if eset:
        _rec_bound("ann_topk_pq", "recall_ok",
                   len(eset & aset) / len(eset), 0.4, ">=",
                   step=1.0 / len(eset))
    # rebuild the contract payload from the rows just collected instead
    # of re-executing the exact pipeline at the sink (r12, guide §5)
    return spark.createDataFrame(exact_rows, exact.schema).withColumn(
        "recall_ok", F.lit(bool(ok))
    )


def streaming_kmeans_update(spark, sf_dir):
    """Streaming MINI-BATCH K-MEANS sufficient-stats fold (r9, new op):
    embeddings arrive as 4-file micro-batches; each batch assigns its
    vectors to the nearest of k=4 FIXED seed centroids (the classic
    mini-batch-k-means / streaming-EM shape: assignment against the
    current model, sufficient stats folded incrementally, centroid
    update = sum/count at read time) and emits per-cluster
    (count, coordinate-sum) partials into versioned exactly-once state
    via `mv_stream_maintenance`.  Differs from `streaming_ivf_ingest`
    (postings-list/index maintenance) in WHAT is maintained: here it is
    the MODEL's sufficient statistics, i.e. the training-side streaming
    twin of `kmeans_embeddings`' Lloyd step.

    ORACLE-CHECKED hash-exactly with NO planted data: coordinates are
    quantized to BIGINT grid units (`clustering.quantize_units`,
    floor(x*2^10) — exact IEEE ops, bit-identical on any engine), seeds
    are the vec_id 0-3 unit vectors (recomputable by the oracle from
    the same table; 4-row bounded collect on the Spark side, plan-time
    literals thereafter), distances/argmin/sums are pure integer math
    (`clustering.assign_nearest_units`, ties to the lowest cluster id),
    and BIGINT count/sum folding is associative — the drained state
    equals the batch assignment+groupBy bit-for-bit no matter how rows
    split into micro-batches.  A misrouted vector, a dropped batch, or
    a broken state merge flips both counts and sums.  At 100 TB:
    assignment is one map-side expression per batch (k x dim literals,
    no shuffle, no Python), partials are map-side-combinable to <= k
    rows, and the state is k rows total."""
    from henbun_spark import streaming
    from henbun_spark.operators import clustering

    emb = _load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seeds = sorted(
        clustering.quantize_units(
            emb.where(F.col("vec_id") < 4), "embedding"
        )
        .select("vec_id", "u")
        .collect(),
        key=lambda r: r["vec_id"],
    )  # bounded: exactly 4 rows to the driver, then plan-time literals
    cents = [list(r["u"]) for r in seeds]
    stream, base = _file_stream(emb, "henbun_skm_", one_file_per_batch=True)

    def partials(d):
        w = clustering.quantize_units(d, "embedding")
        a = clustering.assign_nearest_units(w, "u", cents)
        return a.groupBy(F.col("cluster").cast("long").alias("cluster")).agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(
                F.aggregate(
                    "u", F.lit(0).cast("long"), lambda acc, x: acc + x
                )
            ).alias("sum_units"),
            F.sum(F.element_at("u", 1)).alias("sum_u0"),
        )

    q = streaming.mv_stream_maintenance(
        stream, partials, ["cluster"], f"{base}/state", f"{base}/ckpt"
    )
    q.awaitTermination()
    mv = streaming.load_state(spark, f"{base}/state")
    return mv.select("cluster", "n_vecs", "sum_units", "sum_u0")


#: r9 streaming-k-means oracle: recomputes the seed centroids, the
#: integer-unit assignment (same floor(x*1024) quantization, same
#: lowest-id tie-break via (d, cid) ordering) and the BIGINT
#: sufficient-stat sums over the whole table in one batch pass —
#: equal to the drained stream state iff every micro-batch assigned
#: and folded exactly (see streaming_kmeans_update docstring).
_STREAM_KMEANS_SQL = """
WITH w AS (
  SELECT vec_id,
    list_transform(embedding,
      x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT)) AS u
  FROM embeddings
), seeds AS (
  SELECT vec_id AS cid, u AS cu FROM w WHERE vec_id < 4
), dist AS (
  SELECT w.vec_id, s.cid, w.u,
    list_aggregate(list_transform(list_zip(w.u, s.cu),
      p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') AS d
  FROM w, seeds s
), assigned AS (
  SELECT vec_id, u, cid,
    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
  FROM dist
)
SELECT CAST(cid AS BIGINT) AS cluster,
  COUNT(*)::BIGINT AS n_vecs,
  CAST(SUM(list_aggregate(u, 'sum')) AS BIGINT) AS sum_units,
  CAST(SUM(u[1]) AS BIGINT) AS sum_u0
FROM assigned WHERE rn = 1 GROUP BY cid
"""


def emb_label_outliers(spark, sf_dir):
    """Label-conditional centroid-distance outlier ranking (r9, new op):
    the label-noise / semantic-outlier pruning step of a training-data
    pipeline — for every label, the 3 embeddings FARTHEST from their
    own label centroid (`selection.centroid_outlier_ranks`).  Hash-exact
    on the REAL embeddings table (no planting): BIGINT grid units plus
    the count-scaled integer distance n^2*||u - mean||^2 mean no float
    mean ever exists (recipe + overflow bound in the operator
    docstring).  Plan: map-side quantize -> one map-side-combinable
    (label x dim) sum agg (tiny) -> broadcast join back -> map-side
    distance -> per-label rank window."""
    from henbun_spark.operators import selection

    emb = _load(spark, sf_dir, "embeddings")
    return selection.centroid_outlier_ranks(
        emb, "embedding", "vec_id", "label", top_k=3
    ).select(
        F.col("label").cast("long").alias("label"),
        "vec_id",
        "dist_units",
        "rank",
    )


_EMB_LABEL_OUTLIERS_SQL = """
WITH w AS (
  SELECT vec_id, label,
    list_transform(embedding,
      x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT)) AS u
  FROM embeddings
), e AS (
  SELECT vec_id, label, i, u[i] AS x
  FROM w, unnest(generate_series(1, len(u))) AS t(i)
), c AS (
  SELECT label, COUNT(*) AS n FROM w GROUP BY label
), s AS (
  SELECT label, i, SUM(x) AS sx FROM e GROUP BY label, i
), d AS (
  SELECT e.vec_id, e.label,
    CAST(SUM((c.n * e.x - s.sx) * (c.n * e.x - s.sx)) AS BIGINT)
      AS dist_units
  FROM e JOIN s USING (label, i) JOIN c USING (label)
  GROUP BY e.vec_id, e.label
)
SELECT CAST(label AS BIGINT) AS label, vec_id, dist_units,
  CAST(row_number() OVER (PARTITION BY label
         ORDER BY dist_units DESC, vec_id) AS BIGINT) AS rank
FROM d
QUALIFY rank <= 3
"""


def bucketed_join_revenue(spark, sf_dir):
    """Bucketed-table CO-LOCATED join (r9, new op): lay out orders and
    lineitem `bucketBy(8, orderkey)` once (`bucketing.write_bucketed` —
    one file per bucket via the matching-hash repartition), then join
    them with ZERO Exchange on either input (`bucketing.bucketed_join`,
    SortMergeJoin pinned) and aggregate revenue per order priority.
    The one scale technique the rest of the repo's join surface doesn't
    cover: the shuffle is paid ONCE at layout time, so every recurring
    join on the key is exchange-free — at 100 TB this is the difference
    between re-shuffling the fact table per query and never shuffling
    it again.  The no-exchange property is pytest-asserted on the
    physical plan (exactly ONE Exchange in the whole query — the final
    groupBy — and both scans `Bucketed: true`).

    ORACLE-CHECKED against the plain join+groupBy SQL on the original
    parquet: bucketing is pure LAYOUT — hash-routing rows to files must
    not add, drop, or duplicate a single row, which is exactly what a
    wrong pmod/hash mismatch between repartition and bucketBy would do.
    Counts + exact decimal sums make the check bitwise."""
    from henbun_spark.operators import bucketing

    base = _scratch_dir("henbun_bkt_")
    tag = base.rsplit("henbun_bkt_", 1)[1]  # session-unique catalog names
    ot, lt = f"hb_bkt_orders_{tag}", f"hb_bkt_lineitem_{tag}"
    bucketing.write_bucketed(
        _load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        ),
        ot,
        "o_orderkey",
        8,
        f"{base}/orders",
    )
    bucketing.write_bucketed(
        _load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        lt,
        "l_orderkey",
        8,
        f"{base}/lineitem",
    )
    j = bucketing.bucketed_join(spark, lt, ot, "l_orderkey", "o_orderkey")
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        _dsum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")),
            "sum_revenue",
        ),
    )


def emb_truncated_recall(spark, sf_dir):
    """Matryoshka-style TRUNCATED-DIMENSION retrieval evaluation (r9,
    new op): the storage/latency lever of an embedding pipeline — MRL
    embeddings keep meaning in their prefix, so serving can search the
    first d dims and pay d/D of the dot-product and index cost.  This
    op answers "what does truncation cost in retrieval quality" by
    computing the exact cosine top-3 at d=16 next to the full d=64 for
    the 5 probe queries; the overlap between the two rank lists per
    query IS the recall@3 of the truncated index (the rows expose both
    lists; no float ratio is hashed).

    ORACLE-CHECKED bitwise: both dims ride `similarity.cosine_topk`
    (the proven fold-order-matched cosine — `sim_cosine_topk`) over
    `F.slice` prefixes; slicing before the same left-to-right dot fold
    is IEEE-identical in both engines.  Plan: corpus scanned once per
    dim, queries broadcast, one rank shuffle — the d-truncation
    multiplies work by d/D exactly as it would at 100 TB."""
    from henbun_spark.operators import similarity

    emb = _load(spark, sf_dir, "embeddings")
    outs = []
    for d in (16, 64):
        t = emb.select(
            "vec_id", F.slice("embedding", 1, d).alias("embedding")
        )
        outs.append(
            similarity.cosine_topk(t, t.where(F.col("vec_id") < 5), k=3)
            .withColumn("dim", F.lit(d).cast("long"))
        )
    return outs[0].unionByName(outs[1]).select(
        "dim", "query_id", "neighbor_id", "cos", "rank"
    )


_EMB_TRUNCATED_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
dims AS (SELECT unnest([16, 64]) AS dim),
t AS (SELECT dim, vec_id, v[1:dim] AS v FROM e, dims),
q AS (SELECT dim, vec_id AS query_id, v AS qv FROM t WHERE vec_id < 5),
scored AS (
  SELECT t.dim, q.query_id, t.vec_id AS neighbor_id,
    {_cos_sql('qv', 'v')} AS cos
  FROM t JOIN q USING (dim) WHERE t.vec_id <> q.query_id)
SELECT CAST(dim AS BIGINT) AS dim, query_id, neighbor_id, cos,
       rank::INT AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY dim, query_id
                               ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored)
WHERE rank <= 3
"""


_BUCKETED_JOIN_SQL = f"""
SELECT o_orderpriority, COUNT(*)::BIGINT AS n_items,
  {_sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_revenue')}
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def bucketed_lookup_revenue(spark, sf_dir):
    """Bucket-PRUNED point lookup (r10, new op): lay out lineitem
    `bucketBy(8, l_orderkey)` once, then probe two literal order keys
    (`bucketing.bucketed_lookup`): the equality filter on the bucket
    key prunes the scan to the matching bucket FILES
    (`SelectedBucketsCount <= 2 out of 8`, pytest-asserted on the
    physical plan) and the groupBy on the bucket key both retains the
    bucketed scan against `DisableUnnecessaryBucketedScan` and needs
    ZERO Exchange — at 100 TB this is partition pruning for
    high-cardinality keys, reading 1/n of the fact files per probe.

    ORACLE-CHECKED bitwise against the plain filtered aggregate on the
    original parquet: pruning is pure FILE SELECTION — skipping
    buckets must not add or drop a row vs scanning everything."""
    from henbun_spark.operators import bucketing

    base = _scratch_dir("henbun_bktlk_")
    tag = base.rsplit("henbun_bktlk_", 1)[1]
    lt = f"hb_bktlk_lineitem_{tag}"
    bucketing.write_bucketed(
        _load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        lt,
        "l_orderkey",
        8,
        f"{base}/lineitem",
    )
    return bucketing.bucketed_lookup(
        spark,
        lt,
        "l_orderkey",
        [42, 1042],
        {
            "n_items": F.count(F.lit(1)).cast("long"),
            "sum_revenue": F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")), 6
                ).cast("decimal(38,6)")
            ).cast("double"),
        },
    )


_BUCKETED_LOOKUP_SQL = f"""
SELECT l_orderkey, COUNT(*)::BIGINT AS n_items,
  {_sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_revenue')}
FROM lineitem WHERE l_orderkey IN (42, 1042)
GROUP BY l_orderkey
"""


def related_docs_tfidf(spark, sf_dir):
    """Sparse lexical retrieval (r9, new op): top-3 related documents per
    document by TF-IDF-weighted cosine over word 4-gram shingles
    (`text.shingle_tfidf_cosine_topk`) — the inverted-index "related
    docs" RANKER next to the threshold-style minhash/Jaccard dedup
    family: weighted cosine ranks partial template overlap low and true
    rewrites high, which is what a curation UI or a hard-negative miner
    needs.

    Scale shape: posting-list self-join keyed on the shingle with the
    df <= max_df skew cap (identical guard to the minhash `max_df` — a
    boilerplate shingle would otherwise put a df^2 blowup on one shuffle
    key while carrying ~zero IDF weight), per-pair dot products and
    per-doc L2 norms as quantized decimal partial-aggs (shuffle-order
    independent, bitwise across engines), one keyed window for the
    top-k. ORACLE-CHECKED bitwise: the SQL rebuilds the same postings,
    weights, decimal dot/norm sums and rank."""
    from henbun_spark.operators import text

    docs = _load(spark, sf_dir, "documents")
    return text.shingle_tfidf_cosine_topk(
        docs, "text", "doc_id", n=4, k=3, max_df=100
    )


_RELATED_DOCS_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents),
postings AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
    AS shingle
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 3)) AS i
        FROM toks)),
tf AS (
  SELECT doc_id, shingle, COUNT(*)::BIGINT AS tf
  FROM postings GROUP BY doc_id, shingle),
dfreq AS (
  SELECT shingle, COUNT(*)::BIGINT AS df_t FROM tf GROUP BY shingle
  HAVING COUNT(*) <= 100),
n AS (SELECT COUNT(DISTINCT doc_id)::BIGINT AS n_docs FROM documents),
weighted AS (
  SELECT tf.doc_id AS id, tf.shingle,
    ROUND(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df_t + 1.0)) + 1.0), 6) AS w
  FROM tf JOIN dfreq USING (shingle) CROSS JOIN n),
norms AS (
  SELECT id,
    sqrt(CAST(SUM(CAST(ROUND(w * w, 9) AS DECIMAL(38,9))) AS DOUBLE)) AS norm
  FROM weighted GROUP BY id),
dots AS (
  SELECT a.id AS id_a, b.id AS id_b,
    CAST(SUM(CAST(ROUND(a.w * b.w, 9) AS DECIMAL(38,9))) AS DOUBLE) AS dot
  FROM weighted a JOIN weighted b USING (shingle)
  WHERE a.id < b.id GROUP BY a.id, b.id),
cos_pairs AS (
  SELECT id_a, id_b, ROUND(dot / (na.norm * nb.norm), 6) AS cos
  FROM dots
  JOIN norms na ON na.id = id_a
  JOIN norms nb ON nb.id = id_b
  WHERE ROUND(dot / (na.norm * nb.norm), 6) >= 0.0),
sym AS (
  SELECT id_a AS id, id_b AS neighbor_id, cos FROM cos_pairs
  UNION ALL
  SELECT id_b AS id, id_a AS neighbor_id, cos FROM cos_pairs)
SELECT id AS doc_id, neighbor_id, cos, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY id
             ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
  FROM sym)
WHERE rank <= 3
"""


def lttb_downsample_events(spark, sf_dir):
    """LTTB time-series downsampling per user (r9, new op): each user's
    event series shrinks to 12 points that preserve its visual shape
    (`relational.lttb_downsample` — Steinarsson's largest-triangle-
    three-buckets, the hypertable/Grafana decimation operator, in the
    PARALLEL averaged-anchor variant: anchoring on neighbor-bucket
    averages instead of the previously SELECTED point removes the
    sequential chain, so every bucket's argmax distributes).

    Scale shape: every window is partitioned BY USER (no global sort
    anywhere); anchor averages are exact integer/decimal sums, the
    triangle cross-product is fixed double arithmetic on those
    reproducible inputs, ties break on (ts, value). Users with < 12
    points pass through unchanged. ORACLE-CHECKED bitwise — the
    selection itself is hash-pinned, not just the plumbing."""
    from henbun_spark.operators import relational

    ev = _load(spark, sf_dir, "events")
    return relational.lttb_downsample(ev, "ts", "user_id", "value", buckets=12)


def lttb_m4_hourly(spark, sf_dir):
    """Time-bucketed LTTB over M4 candidates per event type (r10, new
    op): one visually-representative point per (event_type, hour) —
    first/last hours keep their endpoint, every middle hour keeps the
    M4 candidate (first/last by time, min/max by value — Jugel et al.
    2014) maximizing the LTTB triangle against the neighbor hours'
    exact average anchors (`relational.lttb_m4_downsample`).

    This is the batch twin of `streaming_lttb_value`: every state
    column is an exact decimal sum or a struct extremum, so the
    continuous aggregate folds exactly-once under any micro-batch
    split. Plan: one map-side-combinable partial agg over the data,
    then windows over the MV-sized state only. ORACLE-CHECKED bitwise
    (the selection itself, not just the plumbing)."""
    from henbun_spark.operators import relational

    ev = _load(spark, sf_dir, "events")
    return relational.lttb_m4_downsample(
        ev, "ts", "event_type", "value", bucket_secs=3600
    )


def streaming_lttb_value(spark, sf_dir):
    """STREAMING LTTB continuous-aggregate maintenance (r10, the 24th
    streaming path — the downsampled dashboard series kept fresh at
    ingest): events stream in as 4-file micro-batches; each batch
    aggregates its own per-(event_type, hour) M4/anchor partials
    (`relational.lttb_m4_partials`) and folds them into versioned
    exactly-once state via `mv_stream_maintenance(agg_spec=
    M4_LTTB_MERGE_SPEC)` — counts and decimal sums merge by SUM, the
    four M4 candidate points by struct min/max, all associative AND
    commutative, so the drained state equals the batch partials
    bit-for-bit under ANY split and `lttb_m4_finalize` re-derives the
    anchors and selected points at drain. ORACLE-CHECKED with the SAME
    SQL as the batch twin `lttb_m4_hourly`."""
    from henbun_spark import streaming
    from henbun_spark.operators import relational

    ev = _load(spark, sf_dir, "events").select("ts", "event_type", "value")
    stream, base = _file_stream(ev, "henbun_slttb_", one_file_per_batch=True)
    q = streaming.mv_stream_maintenance(
        stream,
        lambda d: relational.lttb_m4_partials(
            d, "ts", "value", 3600, key_col="event_type"
        ),
        ["event_type", "bucket_epoch"],
        f"{base}/state",
        f"{base}/ckpt",
        agg_spec=relational.M4_LTTB_MERGE_SPEC,
    )
    q.awaitTermination()
    mv = streaming.load_state(spark, f"{base}/state")
    return relational.lttb_m4_finalize(mv, "event_type")


_LTTB_M4_SQL = """
WITH b AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket_epoch,
         epoch_us(ts) AS x, value AS v
  FROM events WHERE value IS NOT NULL),
agg AS (
  SELECT event_type, bucket_epoch, COUNT(*) AS n,
    SUM(CAST(x AS HUGEINT)) AS sx,
    SUM(CAST(ROUND(v, 6) AS DECIMAL(38,6))) AS sy
  FROM b GROUP BY 1, 2),
rk AS (
  SELECT event_type, bucket_epoch, x, v,
    row_number() OVER (PARTITION BY event_type, bucket_epoch
                       ORDER BY x ASC, v ASC) AS rf,
    row_number() OVER (PARTITION BY event_type, bucket_epoch
                       ORDER BY x DESC, v DESC) AS rl,
    row_number() OVER (PARTITION BY event_type, bucket_epoch
                       ORDER BY v ASC, x ASC) AS rmin,
    row_number() OVER (PARTITION BY event_type, bucket_epoch
                       ORDER BY v DESC, x DESC) AS rmax
  FROM b),
cand AS (
  SELECT DISTINCT event_type, bucket_epoch, x, v
  FROM rk WHERE rf = 1 OR rl = 1 OR rmin = 1 OR rmax = 1),
anch AS (
  SELECT event_type, bucket_epoch,
    lag(CAST(sx AS DOUBLE) / n)
      OVER (PARTITION BY event_type ORDER BY bucket_epoch) AS lx,
    lag(CAST(sy AS DOUBLE) / n)
      OVER (PARTITION BY event_type ORDER BY bucket_epoch) AS ly,
    lead(CAST(sx AS DOUBLE) / n)
      OVER (PARTITION BY event_type ORDER BY bucket_epoch) AS rx,
    lead(CAST(sy AS DOUBLE) / n)
      OVER (PARTITION BY event_type ORDER BY bucket_epoch) AS ry,
    min(bucket_epoch) OVER (PARTITION BY event_type) AS bmin,
    max(bucket_epoch) OVER (PARTITION BY event_type) AS bmax
  FROM agg),
firsts AS (
  SELECT r.event_type, r.bucket_epoch,
         r.x::BIGINT AS ts_epoch_us, r.v AS value
  FROM rk r JOIN anch a
    ON r.event_type = a.event_type AND r.bucket_epoch = a.bucket_epoch
  WHERE r.bucket_epoch = a.bmin AND r.rf = 1),
lasts AS (
  SELECT r.event_type, r.bucket_epoch,
         r.x::BIGINT AS ts_epoch_us, r.v AS value
  FROM rk r JOIN anch a
    ON r.event_type = a.event_type AND r.bucket_epoch = a.bucket_epoch
  WHERE r.bucket_epoch = a.bmax AND r.rl = 1
    AND (a.bmax <> a.bmin OR (r.x, r.v) <> (
      SELECT (r2.x, r2.v) FROM rk r2
      WHERE r2.event_type = r.event_type
        AND r2.bucket_epoch = r.bucket_epoch AND r2.rf = 1))),
scored AS (
  SELECT c.event_type, c.bucket_epoch, c.x, c.v,
    abs((a.lx - a.rx) * (c.v - a.ly)
        - (a.lx - CAST(c.x AS DOUBLE)) * (a.ry - a.ly)) AS a2
  FROM cand c JOIN anch a
    ON c.event_type = a.event_type AND c.bucket_epoch = a.bucket_epoch
  WHERE c.bucket_epoch > a.bmin AND c.bucket_epoch < a.bmax),
picked AS (
  SELECT event_type, bucket_epoch, x::BIGINT AS ts_epoch_us, v AS value
  FROM (SELECT *, row_number() OVER (PARTITION BY event_type, bucket_epoch
          ORDER BY a2 DESC, x ASC, v ASC) AS pk FROM scored)
  WHERE pk = 1)
SELECT * FROM firsts
UNION ALL SELECT * FROM lasts
UNION ALL SELECT * FROM picked
"""


_LTTB_SQL = """
WITH pts AS (
  SELECT user_id, epoch_us(ts) AS xx, value AS yy,
    row_number() OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts), value) AS rnk,
    COUNT(*) OVER (PARTITION BY user_id) AS nn
  FROM events WHERE value IS NOT NULL),
small AS (
  SELECT user_id, CAST(rnk - 1 AS INT) AS bucket, xx AS ts_epoch_us,
         yy AS value
  FROM pts WHERE nn < 12),
binned AS (
  SELECT user_id, xx, yy,
    CAST(CASE WHEN rnk = 1 THEN 0
              WHEN rnk = nn THEN 11
              ELSE 1 + ((rnk - 2) * 10) // (nn - 2) END AS INT) AS bucket
  FROM pts WHERE nn >= 12),
avgs AS (
  SELECT user_id, bucket,
    CAST(SUM(xx) AS DOUBLE) / COUNT(*) AS ax,
    CAST(SUM(CAST(ROUND(yy, 6) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS ay
  FROM binned GROUP BY user_id, bucket),
anchors AS (
  SELECT user_id, bucket,
    lag(ax)  OVER (PARTITION BY user_id ORDER BY bucket) AS lx,
    lag(ay)  OVER (PARTITION BY user_id ORDER BY bucket) AS ly,
    lead(ax) OVER (PARTITION BY user_id ORDER BY bucket) AS rx,
    lead(ay) OVER (PARTITION BY user_id ORDER BY bucket) AS ry
  FROM avgs),
scored AS (
  SELECT b.user_id, b.bucket, b.xx, b.yy,
    CASE WHEN b.bucket = 0 OR b.bucket = 11 THEN 0.0
         ELSE abs((a.lx - a.rx) * (b.yy - a.ly)
                  - (a.lx - b.xx) * (a.ry - a.ly)) END AS area2
  FROM binned b JOIN anchors a USING (user_id, bucket)),
picked AS (
  SELECT user_id, bucket, xx AS ts_epoch_us, yy AS value
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, bucket
               ORDER BY area2 DESC, xx ASC, yy ASC) AS pick
        FROM scored)
  WHERE pick = 1)
SELECT * FROM picked UNION ALL SELECT * FROM small
"""


def twa_value_user(spark, sf_dir):
    """Time-weighted average value per user (r9, new op): the hypertable
    `time_weight('Linear')` aggregate (`relational.time_weighted_avg`)
    — trapezoidal integration between consecutive observations divided
    by the observed span, so irregular sampling stops biasing the plain
    AVG toward bursty periods.

    Scale shape: one lead() window partitioned BY USER + one keyed
    partial-agg; per-trapezoid terms are quantized and summed as
    decimal(38,12) (shuffle-order independent). Single-point users have
    no span and drop (the hypertable contract). ORACLE-CHECKED
    bitwise."""
    from henbun_spark.operators import relational

    ev = _load(spark, sf_dir, "events")
    return relational.time_weighted_avg(ev, "ts", "user_id", "value")


_TWA_SQL = """
WITH stepped AS (
  SELECT user_id, epoch_us(ts) AS x, value AS v,
    lead(epoch_us(ts)) OVER (PARTITION BY user_id
                             ORDER BY epoch_us(ts), value) AS x1,
    lead(value) OVER (PARTITION BY user_id
                      ORDER BY epoch_us(ts), value) AS v1
  FROM events WHERE value IS NOT NULL),
agg AS (
  SELECT user_id, COUNT(*)::BIGINT AS n_points,
    CAST(MAX(x) - MIN(x) AS DOUBLE) / 1e6 AS span_secs,
    CAST(SUM(CAST(ROUND((v + v1) / 2.0 * (CAST(x1 - x AS DOUBLE) / 1e6), 6)
                  AS DECIMAL(38,12))) AS DOUBLE) AS area
  FROM stepped GROUP BY user_id)
SELECT user_id, n_points, ROUND(span_secs, 6) AS span_secs,
       ROUND(area / span_secs, 6) AS twa
FROM agg WHERE span_secs > 0
"""


def join_size_estimate_cms(spark, sf_dir):
    """Join-cardinality estimation from two count-min sketches (r9, new
    op): |events JOIN customer ON user_id = c_custkey| estimated by the
    CM inner product (`sketch.cms_inner_product`, Cormode-Muthukrishnan)
    — per hash row, the dot product of the two counter vectors is an
    upper bound on the true join size; MIN over the depth rows tightens
    it. The join-PLANNING primitive: at 100 TB the two 4x256 counter
    tables (built map-side, one scan each, KBs on the wire) price a
    fact-to-fact shuffle before you commit to it. The estimate is pure
    integer arithmetic on md5-deterministic buckets, so it is
    engine-exact; the true size rides along for the accuracy check.
    ORACLE-CHECKED bitwise (both columns BIGINT)."""
    from henbun_spark.operators import sketch

    ev = _load(spark, sf_dir, "events")
    cust = _load(spark, sf_dir, "customer")
    cms_e = sketch.cms_build(ev, "user_id", depth=4, width=256)
    cms_c = sketch.cms_build(cust, "c_custkey", depth=4, width=256)
    est = sketch.cms_inner_product(cms_e, cms_c, depth=4)
    exact = ev.join(
        cust, ev["user_id"] == cust["c_custkey"]
    ).agg(F.count(F.lit(1)).alias("exact_n"))
    return est.crossJoin(exact).select(
        F.col("est").cast("long").alias("est_n"), "exact_n"
    )


def _cms_join_size_sql(depth: int = 4, width: int = 256, salt: str = "cms") -> str:
    def bucket(d: int, col: str) -> str:
        h = (
            f"md5('{salt}' || '|' || '{d}' || '|' || "
            f"coalesce(CAST({col} AS VARCHAR), chr(0)))"
        )
        val6 = " + ".join(
            f"((instr('0123456789abcdef', substr({h}, {j + 1}, 1)) - 1)"
            f" * {16 ** (5 - j)})"
            for j in range(6)
        )
        return f"CAST(({val6}) % {width} AS INT)"

    cnt_e = " UNION ALL ".join(
        f"SELECT {d} AS d, {bucket(d, 'user_id')} AS bucket FROM events"
        for d in range(depth)
    )
    cnt_c = " UNION ALL ".join(
        f"SELECT {d} AS d, {bucket(d, 'c_custkey')} AS bucket FROM customer"
        for d in range(depth)
    )
    dvals = ", ".join(str(d) for d in range(depth))
    return f"""
WITH ce AS (
  SELECT d, bucket, COUNT(*)::BIGINT AS cnt FROM ({cnt_e}) GROUP BY d, bucket),
cc AS (
  SELECT d, bucket, COUNT(*)::BIGINT AS cnt FROM ({cnt_c}) GROUP BY d, bucket),
ip AS (
  SELECT ce.d, SUM(ce.cnt * cc.cnt) AS ip
  FROM ce JOIN cc ON ce.d = cc.d AND ce.bucket = cc.bucket
  GROUP BY ce.d),
daxis AS (SELECT unnest([{dvals}]) AS d),
ipf AS (
  SELECT daxis.d, COALESCE(ip.ip, 0) AS ip
  FROM daxis LEFT JOIN ip USING (d))
SELECT CAST((SELECT MIN(ip) FROM ipf) AS BIGINT) AS est_n,
       (SELECT COUNT(*) FROM events JOIN customer ON user_id = c_custkey)::BIGINT
         AS exact_n
"""


def counter_delta_user(spark, sf_dir):
    """Resets-aware counter aggregation per user (r9, new op): the
    hypertable `counter_agg` / PromQL `increase()` primitive
    (`relational.counter_delta`) — each user's `value` readings treated
    as a restartable monotone counter: total increase = sum of positive
    consecutive deltas, plus the post-reset reading at each reset
    (where the naive max-min is simply wrong). Scale shape: one lag()
    window BY USER + one keyed partial-agg, quantized decimal(38,12)
    increment sums. ORACLE-CHECKED bitwise."""
    from henbun_spark.operators import relational

    ev = _load(spark, sf_dir, "events")
    return relational.counter_delta(ev, "ts", "user_id", "value")


_COUNTER_DELTA_SQL = """
WITH stepped AS (
  SELECT user_id, value AS v,
    lag(value) OVER (PARTITION BY user_id
                     ORDER BY epoch_us(ts), value) AS v0
  FROM events WHERE value IS NOT NULL)
SELECT user_id, COUNT(*)::BIGINT AS n_points,
  COALESCE(SUM(CASE WHEN v0 IS NOT NULL AND v < v0 THEN 1 ELSE 0 END),
           0)::BIGINT AS n_resets,
  ROUND(COALESCE(CAST(SUM(CAST(ROUND(
          CASE WHEN v0 IS NULL THEN NULL
               WHEN v >= v0 THEN v - v0
               ELSE v END, 6) AS DECIMAL(38,12))) AS DOUBLE), 0.0), 6)
    AS total_increase
FROM stepped GROUP BY user_id
"""


def ohlc_hourly_value(spark, sf_dir):
    """Hourly OHLC candlestick rollup over events.value (r9, new op):
    the continuous-aggregate staple (`relational.ohlc_bucket`).
    Open/close are FIRST/LAST BY EVENT TIME under a (ts, value) total
    order — plain first()/last() is partition-order dependent and
    engine-divergent. Scale shape: ONE aggregation, no window — the
    open/close ride min/max over a packed (epoch_us, value) struct
    (the arg-min trick), so state is two structs per bucket and the
    whole rollup partial-aggregates map-side. ORACLE-CHECKED bitwise
    (the oracle computes the same total order via rank windows)."""
    from henbun_spark.operators import relational

    ev = _load(spark, sf_dir, "events")
    return relational.ohlc_bucket(ev, "ts", "value", bucket_secs=3600)


_OHLC_SQL = """
WITH b AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket_epoch,
         epoch_us(ts) AS x, value AS v
  FROM events WHERE value IS NOT NULL),
ranked AS (
  SELECT bucket_epoch, v,
    row_number() OVER (PARTITION BY bucket_epoch ORDER BY x ASC, v ASC)
      AS rf,
    row_number() OVER (PARTITION BY bucket_epoch ORDER BY x DESC, v DESC)
      AS rl
  FROM b),
agg AS (
  SELECT bucket_epoch, COUNT(*)::BIGINT AS n_points,
         MAX(v) AS high, MIN(v) AS low
  FROM b GROUP BY bucket_epoch)
SELECT a.bucket_epoch, a.n_points, f.v AS open, a.high, a.low, l.v AS close
FROM agg a
JOIN (SELECT bucket_epoch, v FROM ranked WHERE rf = 1) f USING (bucket_epoch)
JOIN (SELECT bucket_epoch, v FROM ranked WHERE rl = 1) l USING (bucket_epoch)
"""


def hll_overlap_segments(spark, sf_dir):
    """Audience-overlap estimation between two user segments (r9, new
    op): distinct users who 'click' AND 'purchase', estimated by
    HLL inclusion-exclusion (`sketch.hll_overlap`) — est(A) + est(B) -
    est(A u B), with the union estimate coming free from the register
    MAX-merge. The segment-overlap question answered from two <= 256-row
    sketches: at 100 TB the per-segment register tables are built
    map-side in the segments' own scans and only KBs ever move — the
    exact INTERSECT (which must shuffle both identity sets) rides along
    for the accuracy story. All register arithmetic is the
    md5-deterministic recipe, so even the float estimates are
    engine-exact. ORACLE-CHECKED bitwise."""
    from henbun_spark.operators import sketch

    ev = _load(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "click")
    b = ev.where(F.col("event_type") == "purchase")
    regs_a = sketch.hll_registers(a, "user_id", b=8)
    regs_b = sketch.hll_registers(b, "user_id", b=8)
    overlap = sketch.hll_overlap(regs_a, regs_b, b=8)
    exact = (
        a.select("user_id")
        .distinct()
        .intersect(b.select("user_id").distinct())
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    return overlap.crossJoin(exact)


def _hll_overlap_sql(b: int = 8, salt: str = "hll") -> str:
    m = 2 ** b
    alpha = 0.7213 / (1.0 + 1.079 / m)
    nib = lambda expr: f"(instr('0123456789abcdef', {expr}) - 1)"  # noqa: E731
    lz = "length(regexp_extract(tail, '^(0*)', 1))"
    first_nib = nib(f"substr(tail, {lz} + 1, 1)")
    return f"""
WITH hashed AS (
  SELECT event_type AS seg,
    md5('{salt}' || '|' || coalesce(CAST(user_id AS VARCHAR), chr(0))) AS h
  FROM events WHERE event_type IN ('click', 'purchase')),
parts AS (
  SELECT seg, {nib("substr(h, 1, 1)")} * 16 + {nib("substr(h, 2, 1)")}
           AS register,
         substr(h, 3, 14) AS tail
  FROM hashed),
ranked AS (
  SELECT seg, register,
    CASE WHEN {lz} = 14 THEN 57
         ELSE {lz} * 4
              + (CASE WHEN {first_nib} >= 8 THEN 0
                      WHEN {first_nib} >= 4 THEN 1
                      WHEN {first_nib} >= 2 THEN 2
                      ELSE 3 END) + 1
    END AS rank
  FROM parts),
segregs AS (
  SELECT seg, register, MAX(rank) AS max_rank
  FROM ranked GROUP BY seg, register),
allregs AS (
  SELECT * FROM segregs
  UNION ALL
  SELECT 'u' AS seg, register, MAX(max_rank) AS max_rank
  FROM segregs GROUP BY register),
agg AS (
  SELECT seg, COUNT(*) AS n_hit,
    CAST(SUM(CAST(1 AS BIGINT) << (57 - max_rank)) AS BIGINT) AS denom_hit
  FROM allregs GROUP BY seg),
est AS (
  SELECT seg,
    ROUND(CASE WHEN CAST({alpha!r} AS DOUBLE) * {m} * {m} / denom
                    <= CAST({2.5 * m!r} AS DOUBLE) AND n_hit < {m}
               THEN CAST({float(m)!r} AS DOUBLE)
                    * ln(CAST({float(m)!r} AS DOUBLE) / ({m} - n_hit))
               ELSE CAST({alpha!r} AS DOUBLE) * {m} * {m} / denom
          END, 6) AS hll_est
  FROM (SELECT seg, n_hit,
          CAST(denom_hit AS DOUBLE) / {float(2 ** 57)!r}
            + CAST({m} - n_hit AS DOUBLE) AS denom
        FROM agg)),
wide AS (
  SELECT MAX(CASE WHEN seg = 'click' THEN hll_est END) AS est_a,
         MAX(CASE WHEN seg = 'purchase' THEN hll_est END) AS est_b,
         MAX(CASE WHEN seg = 'u' THEN hll_est END) AS est_union
  FROM est)
SELECT est_a, est_b, est_union,
  ROUND(est_a + est_b - est_union, 6) AS est_intersection,
  (SELECT COUNT(*) FROM
     (SELECT user_id FROM events WHERE event_type = 'click'
      INTERSECT
      SELECT user_id FROM events WHERE event_type = 'purchase'))::BIGINT
    AS exact_intersection
FROM wide
"""


def streaming_ohlc_value(spark, sf_dir):
    """STREAMING OHLC materialized-view maintenance (r9, new streaming
    path — the candlestick dashboard kept fresh at ingest): events
    stream in as 4-file micro-batches; each batch aggregates its own
    per-hour (count, min/max (epoch_us, value) structs, min/max value)
    partials and folds them into versioned exactly-once state via
    `mv_stream_maintenance(agg_spec={open/close struct: min/max})`.
    Every state column is a mergeable extremum or count — min/max of
    the packed time-value struct is associative AND commutative, so
    open/close stay exact under ANY micro-batch split, and the drained
    MV equals the batch `ohlc_hourly_value` rollup bit-for-bit.
    ORACLE-CHECKED with the SAME SQL as the batch twin."""
    from henbun_spark import streaming
    from henbun_spark.operators import relational

    ev = _load(spark, sf_dir, "events").select("ts", "value")
    stream, base = _file_stream(ev, "henbun_sohlc_", one_file_per_batch=True)
    q = streaming.mv_stream_maintenance(
        stream,
        lambda d: relational.ohlc_partials(d, "ts", "value", 3600),
        ["bucket_epoch"],
        f"{base}/state",
        f"{base}/ckpt",
        agg_spec=relational.OHLC_MERGE_SPEC,
    )
    q.awaitTermination()
    mv = streaming.load_state(spark, f"{base}/state")
    return relational.ohlc_finalize(mv)


def profile_drift_docs(spark, sf_dir):
    """Column-level profile drift between two corpus snapshots (r9, new
    op): the data-observability gate before a new ingest replaces the
    old — row/null/distinct counts and min/max per column side by side,
    plus the derived signals (null-rate delta, distinct-count delta,
    range-changed flag). Complements `snapshot_diff_docs` (which ROWS
    changed) with "did the SHAPE of the data move": an upstream
    encoding bug surfaces here as a null-rate jump or a collapsed
    distinct count even when row counts look fine. Same deterministic
    snapshot recipe as the diff (old drops doc_id%11==0; new drops
    %13==0 and rewrites %17==0). Cost: two single-pass profiles + a
    5-row join. ORACLE-CHECKED bitwise."""
    from henbun_spark import sources as src

    docs = _load(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 11 != 0)
    new = docs.where(F.col("doc_id") % 13 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 17 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return src.profile_drift(
        old, new, ["doc_id", "text", "lang", "source", "n_chars"]
    )


def _profile_drift_sql() -> str:
    cols = ["doc_id", "text", "lang", "source", "n_chars"]

    def side_stats(tbl: str, c: str, suffix: str) -> str:
        return (
            f"(SELECT COUNT(*) FROM {tbl})::BIGINT AS n_rows_{suffix},\n"
            f"    (SELECT COUNT(*) - COUNT({c}) FROM {tbl})::BIGINT"
            f" AS n_nulls_{suffix},\n"
            f"    (SELECT COUNT(DISTINCT {c}) FROM {tbl})::BIGINT"
            f" AS n_distinct_{suffix},\n"
            f"    (SELECT CAST(MIN({c}) AS VARCHAR) FROM {tbl})"
            f" AS min_val_{suffix},\n"
            f"    (SELECT CAST(MAX({c}) AS VARCHAR) FROM {tbl})"
            f" AS max_val_{suffix}"
        )

    per_col = "\n  UNION ALL\n  ".join(
        f"SELECT '{c}' AS col,\n    "
        + side_stats("old", c, "old")
        + ",\n    "
        + side_stats("nw", c, "new")
        for c in cols
    )
    return f"""
WITH old AS (SELECT * FROM documents WHERE doc_id % 11 <> 0),
nw AS (
  SELECT doc_id,
    CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END AS text,
    lang, source, n_chars
  FROM documents WHERE doc_id % 13 <> 0),
stats AS (
  {per_col})
SELECT col AS "column",
  'both' AS status,
  n_rows_old, n_rows_new, n_nulls_old, n_nulls_new,
  n_distinct_old, n_distinct_new,
  min_val_old, min_val_new, max_val_old, max_val_new,
  ROUND(CAST(n_nulls_new AS DOUBLE) / n_rows_new
        - CAST(n_nulls_old AS DOUBLE) / n_rows_old, 6) AS null_rate_delta,
  (n_distinct_new - n_distinct_old)::BIGINT AS distinct_delta,
  ((min_val_old IS DISTINCT FROM min_val_new)
   OR (max_val_old IS DISTINCT FROM max_val_new)) AS range_changed
FROM stats
"""


def event_cooccurrence_pmi(spark, sf_dir):
    """Event-type co-occurrence with pointwise mutual information (r9,
    new op): which behaviors go together — for every unordered pair of
    event types, the number of users exhibiting both and
    PMI = ln(P(a,b) / (P(a) P(b))) over the user population (positive:
    the pair co-occurs more than independence predicts). The
    association-mining primitive behind feature crosses and audience
    modeling. Scale shape: distinct (user, type) pairs (one groupBy),
    self-join keyed on user with per-user fan-out bounded by the TYPE
    cardinality (never by event count — a user with a million events
    still contributes <= C(|types|, 2) pairs), then a |types|^2-sized
    aggregate; the n_users scalar broadcasts. ORACLE-CHECKED bitwise
    (probabilities are exact integer ratios, ln on identical doubles,
    round 6)."""
    ev = _load(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    n_users = ev.agg(
        F.count_distinct("user_id").alias("n_users")
    )
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    marg = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_type"))
    ma = marg.select(
        F.col("event_type").alias("type_a"), F.col("n_type").alias("n_a")
    )
    mb = marg.select(
        F.col("event_type").alias("type_b"), F.col("n_type").alias("n_b")
    )
    return (
        pairs.join(ma, "type_a")
        .join(mb, "type_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                F.log(
                    F.col("n_both").cast("double")
                    * F.col("n_users")
                    / (F.col("n_a").cast("double") * F.col("n_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )


_COOCCURRENCE_PMI_SQL = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
n AS (SELECT COUNT(DISTINCT user_id)::BIGINT AS n_users FROM events),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         COUNT(*)::BIGINT AS n_both
  FROM ut a JOIN ut b ON a.user_id = b.user_id
  WHERE a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type),
marg AS (
  SELECT event_type, COUNT(*)::BIGINT AS n_type FROM ut GROUP BY event_type)
SELECT type_a, type_b, n_both,
  ROUND(ln(CAST(n_both AS DOUBLE) * n.n_users
           / (CAST(ma.n_type AS DOUBLE) * mb.n_type)), 6) AS pmi
FROM pairs
JOIN marg ma ON ma.event_type = type_a
JOIN marg mb ON mb.event_type = type_b
CROSS JOIN n
"""


def event_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over event types (r9, new
    op): P(next = b | current = a) from each user's time-ordered event
    stream — the session-analytics primitive behind "what do users do
    after X" and behavioral anomaly scoring. Scale shape: ONE lead()
    window partitioned BY USER (ties totalized by event_id — the
    deterministic next-event election), then a |types|^2-sized
    count aggregate; probabilities derive from exact integer counts at
    read time. ORACLE-CHECKED bitwise."""
    ev = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    steps = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    totals = steps.groupBy("cur").agg(F.count(F.lit(1)).alias("n_from"))
    return (
        steps.groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("n_trans"))
        .join(totals, "cur")
        .select(
            "cur",
            "nxt",
            "n_trans",
            F.round(
                F.col("n_trans").cast("double") / F.col("n_from"), 6
            ).alias("p_next"),
        )
    )


_TRANSITION_SQL = """
WITH steps AS (
  SELECT event_type AS cur,
    lead(event_type) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS nxt
  FROM events),
kept AS (SELECT cur, nxt FROM steps WHERE nxt IS NOT NULL),
trans AS (
  SELECT cur, nxt, COUNT(*)::BIGINT AS n_trans FROM kept GROUP BY cur, nxt),
totals AS (SELECT cur, COUNT(*)::BIGINT AS n_from FROM kept GROUP BY cur)
SELECT trans.cur, nxt, n_trans,
  ROUND(CAST(n_trans AS DOUBLE) / n_from, 6) AS p_next
FROM trans JOIN totals ON trans.cur = totals.cur
"""


def emb_centroid_drift(spark, sf_dir):
    """Per-label embedding centroid drift between two snapshots (r9, new
    op): the embedding-pipeline counterpart of `profile_drift_docs` —
    after re-encoding a corpus, "did each class's centroid move, and
    how far" catches a swapped encoder checkpoint or skewed re-crawl
    that per-column stats cannot see (`clustering.centroid_drift`).
    Deterministic snapshots: old drops vec_id%11==0; new drops %13==0
    and shifts the FIRST coordinate of vec_id%17==0 vectors by +0.25
    (an exact dyadic step, so the planted drift is reproducible).
    Exactness: BIGINT grid units + count-scaled decimal distance — no
    float mean ever exists; the embeddings never shuffle as vectors
    (per-side (label, dim) unit-sum state only). ORACLE-CHECKED
    bitwise."""
    from henbun_spark.operators import clustering

    emb = _load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    old = emb.where(F.col("vec_id") % 11 != 0)
    new = emb.where(F.col("vec_id") % 13 != 0).withColumn(
        "embedding",
        F.when(
            F.col("vec_id") % 17 == 0,
            F.transform(
                "embedding",
                lambda x, i: F.when(i == 0, x + F.lit(0.25)).otherwise(x),
            ),
        ).otherwise(F.col("embedding")),
    )
    return clustering.centroid_drift(old, new, "embedding", "label", grid=1024)


_CENTROID_DRIFT_SQL = """
WITH base AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
old_u AS (
  SELECT vec_id, label, i - 1 AS dim,
    CAST(floor(e[i] * 1024.0) AS BIGINT) AS unit
  FROM (SELECT vec_id, label, e, unnest(generate_series(1, len(e))) AS i
        FROM base WHERE vec_id % 11 <> 0)),
new_u AS (
  SELECT vec_id, label, i - 1 AS dim,
    CAST(floor(CASE WHEN vec_id % 17 = 0 AND i = 1
                    THEN e[i] + 0.25 ELSE e[i] END * 1024.0) AS BIGINT)
      AS unit
  FROM (SELECT vec_id, label, e, unnest(generate_series(1, len(e))) AS i
        FROM base WHERE vec_id % 13 <> 0)),
so AS (SELECT label, dim, SUM(unit) AS su_old FROM old_u GROUP BY label, dim),
sn AS (SELECT label, dim, SUM(unit) AS su_new FROM new_u GROUP BY label, dim),
no_ AS (SELECT label, COUNT(DISTINCT vec_id)::BIGINT AS n_old
        FROM old_u GROUP BY label),
nn_ AS (SELECT label, COUNT(DISTINCT vec_id)::BIGINT AS n_new
        FROM new_u GROUP BY label),
d2 AS (
  SELECT so.label,
    SUM((sn.su_new * no_.n_old - so.su_old * nn_.n_new)
        * (sn.su_new * no_.n_old - so.su_old * nn_.n_new)) AS dist2
  FROM so JOIN sn ON so.label = sn.label AND so.dim = sn.dim
  JOIN no_ ON no_.label = so.label
  JOIN nn_ ON nn_.label = so.label
  GROUP BY so.label)
SELECT d2.label, n_old, n_new,
  ROUND(sqrt(CAST(dist2 AS DOUBLE))
        / (CAST(n_old AS DOUBLE) * n_new * 1024.0), 6) AS drift
FROM d2 JOIN no_ ON no_.label = d2.label JOIN nn_ ON nn_.label = d2.label
"""


def session_top_paths(spark, sf_dir):
    """Top user journeys (r9, new op): the 10 most common session-opening
    event-type PATHS — each 30-min-gap session's first (up to) 3 events
    in time order joined as "a>b>c", counted across all sessions. The
    product-analytics "what do sessions start with" report, built
    entirely on shipped primitives: `relational.sessionize` (one keyed
    window pass), a per-session rank window, and an order-pinned path
    assembly (array_sort over (step, type) structs — collect_list alone
    is partition-order dependent). The final top-10 is TakeOrdered with
    a (count DESC, path ASC) total order over a candidate set bounded
    by |types|^3 + |types|^2 + |types| distinct paths — never a global
    sort of data. ORACLE-CHECKED bitwise."""
    from henbun_spark.operators import relational

    ev = _load(spark, sf_dir, "events")
    s = relational.sessionize(ev, gap_minutes=30, tiebreak="event_id")
    w = Window.partitionBy("user_id", "session_seq").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    first3 = s.withColumn("step", F.row_number().over(w)).where(
        F.col("step") <= 3
    )
    paths = first3.groupBy("user_id", "session_seq").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("step", "event_type"))),
                lambda x: x.getField("event_type"),
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(10)
    )


_SESSION_PATHS_SQL = """
WITH s AS (
  SELECT user_id, event_id, ts, event_type,
    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
      AS session_seq
  FROM (
    SELECT user_id, event_id, ts, event_type,
      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                IS NULL
             OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id)) > 1800
           THEN 1 ELSE 0 END AS new_sess
    FROM events)),
first3 AS (
  SELECT user_id, session_seq, step, event_type FROM (
    SELECT user_id, session_seq, event_type,
      row_number() OVER (PARTITION BY user_id, session_seq
                         ORDER BY ts, event_id) AS step
    FROM s)
  WHERE step <= 3),
paths AS (
  SELECT user_id, session_seq,
    string_agg(event_type, '>' ORDER BY step) AS path
  FROM first3 GROUP BY user_id, session_seq)
SELECT path, COUNT(*)::BIGINT AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = {
        # Registration order below is historical; the driver-visible
        # FIRST-50 window is set explicitly by the `window` list after
        # this dict (r10 rotation — see the comment there).
        "streaming_static_enrich": streaming_static_enrich,
        "vi_linear_regression": vi_linear_regression,
        "vi_minibatch_sgd": vi_minibatch_sgd,
        "vi_staged_training": vi_staged_training,
        "gp_regression_events": gp_regression_events,
        "gp_experts_events": gp_experts_events,
        "vi_amortized_encoder": vi_amortized_encoder,
        "gp_sparse_posterior": gp_sparse_posterior,
        "row_ids_string_bins": row_ids_string_bins,
        "dedup_substring_spans": dedup_substring_spans,
        "dedup_substring_removal": dedup_substring_removal,
        "dedup_substring_winnowed": dedup_substring_winnowed,
        "streaming_winnow_index": streaming_winnow_index,
        "streaming_substr_index": streaming_substr_index,
        "streaming_kmeans_update": streaming_kmeans_update,
        "emb_label_outliers": emb_label_outliers,
        "bucketed_join_revenue": bucketed_join_revenue,
        "bucketed_lookup_revenue": bucketed_lookup_revenue,
        "emb_truncated_recall": emb_truncated_recall,
        "related_docs_tfidf": related_docs_tfidf,
        "lttb_downsample_events": lttb_downsample_events,
        "lttb_m4_hourly": lttb_m4_hourly,
        "streaming_lttb_value": streaming_lttb_value,
        "twa_value_user": twa_value_user,
        "join_size_estimate_cms": join_size_estimate_cms,
        "counter_delta_user": counter_delta_user,
        "ohlc_hourly_value": ohlc_hourly_value,
        "hll_overlap_segments": hll_overlap_segments,
        "streaming_ohlc_value": streaming_ohlc_value,
        "profile_drift_docs": profile_drift_docs,
        "event_cooccurrence_pmi": event_cooccurrence_pmi,
        "event_transition_matrix": event_transition_matrix,
        "emb_centroid_drift": emb_centroid_drift,
        "session_top_paths": session_top_paths,
        "q3_top_orders": q3_top_orders,
        "q4_late_shipment_priority": q4_late_shipment_priority,
        "q5_nation_revenue": q5_nation_revenue,
        "q6_forecast_revenue": q6_forecast_revenue,
        "rollup_revenue": rollup_revenue,
        "running_total_user": running_total_user,
        "session_window_agg": session_window_agg,
        "sessionize_events": sessionize_events,
        "set_ops_customers": set_ops_customers,
        "string_date_functions": string_date_functions,
        "top_events_per_user": top_events_per_user,
        "streaming_dedup_index": streaming_dedup_index,
        "json_extract_props": json_extract_props,
        "pivot_event_types": pivot_event_types,
        "rolling_1h_user_value": rolling_1h_user_value,
        "cohort_retention": cohort_retention,
        "cms_frequency_users": cms_frequency_users,
        "hll_distinct_users": hll_distinct_users,
        "hll_users_by_type": hll_users_by_type,
        "row_ids_documents": row_ids_documents,
        "fuzzy_match_titles": fuzzy_match_titles,
        "unpivot_pricing_metrics": unpivot_pricing_metrics,
        "corr_lineitem_metrics": corr_lineitem_metrics,
        "linreg_value_by_hour": linreg_value_by_hour,
        "validate_constraints_events": validate_constraints_events,
        "merge_upsert_docs": merge_upsert_docs,
        "scd2_user_intervals": scd2_user_intervals,
        "array_functions_emb": array_functions_emb,
        "anomaly_zscore_events": anomaly_zscore_events,
        "anomaly_mad_events": anomaly_mad_events,
        "observed_filter_metrics": observed_filter_metrics,
        "rank_gauss_value": rank_gauss_value,
        "dedup_components": dedup_components,
        "dedup_components_star": dedup_components_star,
        "dedup_canonical_best": dedup_canonical_best,
        "pagerank_dup_graph": pagerank_dup_graph,
        "triangle_count_dupgraph": triangle_count_dupgraph,
        "chunk_dedup_docs": chunk_dedup_docs,
        "incremental_dedup_new": incremental_dedup_new,
        "pii_redact": pii_redact,
        "lm_score_docs": lm_score_docs,
        "lm_bigram_docs": lm_bigram_docs,
        "gopher_quality_docs": gopher_quality_docs,
        "mix_corpus_sources": mix_corpus_sources,
        "pack_sequences_docs": pack_sequences_docs,
        "semantic_dedup_emb": semantic_dedup_emb,
        "corpus_layout_desc": corpus_layout_desc,
        "row_ids_wide_bins": row_ids_wide_bins,
        "kmeans_embeddings": kmeans_embeddings,
        "pca_embeddings": pca_embeddings,
        "diverse_select_emb": diverse_select_emb,
        "streaming_pca_gram": streaming_pca_gram,
        "streaming_ivf_ingest": streaming_ivf_ingest,
        "logreg_quality_classifier": logreg_quality_classifier,
        "bpe_train_encode": bpe_train_encode,
        "streaming_vi_training": streaming_vi_training,
        "dedup_exact_groups": dedup_exact_groups,
        "dedup_jaccard": dedup_jaccard,
        "dedup_minhash_lsh": dedup_minhash_lsh,
        "dedup_simhash": dedup_simhash,
        "density_bernoulli": density_bernoulli,
        "density_beta": density_beta,
        "density_bimixture": density_bimixture,
        "density_exponential": density_exponential,
        "density_gamma": density_gamma,
        "density_gaussian": density_gaussian,
        "density_laplace": density_laplace,
        "density_lognormal": density_lognormal,
        "density_poisson": density_poisson,
        "density_student_t": density_student_t,
        "emb_near_dup": emb_near_dup,
        "emb_near_dup_lsh": emb_near_dup_lsh,
        "pipeline_clean_corpus": pipeline_clean_corpus,
        "range_join_quantity": range_join_quantity,
        "sim_cosine_topk": sim_cosine_topk,
        "simhash_near_pairs": simhash_near_pairs,
        "simhash_neighbor_stats": simhash_neighbor_stats,
        "streaming_simhash_degree": streaming_simhash_degree,
        "streaming_bottomk_sample": streaming_bottomk_sample,
        "streaming_bloom_filter": streaming_bloom_filter,
        "emb_density_outliers": emb_density_outliers,
        "text_langid": text_langid,
        "text_quality": text_quality,
        "text_repetition": text_repetition,
        "text_stats": text_stats,
        "text_tfidf": text_tfidf,
        "train_test_split_hash": train_test_split_hash,
        "transform_softplus": transform_softplus,
        "asof_last_purchase": asof_last_purchase,
        "asof_next_purchase": asof_next_purchase,
        "cube_revenue": cube_revenue,
        "distinct_agg_suppliers": distinct_agg_suppliers,
        "grouping_sets_revenue": grouping_sets_revenue,
        "hourly_event_counts": hourly_event_counts,
        "percentile_quantity": percentile_quantity,
        "q12_priority_by_status": q12_priority_by_status,
        "q14_promo_revenue": q14_promo_revenue,
        "q1_pricing_summary": q1_pricing_summary,
        "q22_inactive_customers": q22_inactive_customers,
        "streaming_mv_partitioned_daily": streaming_mv_partitioned_daily,
        "corpus_layout_order": corpus_layout_order,
        "split_leakage_report": split_leakage_report,
        "tdigest_quantiles_value": tdigest_quantiles_value,
        "tdigest_by_type": tdigest_by_type,
        "streaming_tdigest_value": streaming_tdigest_value,
        "video_dedup_frames": video_dedup_frames,
        "image_dedup_ahash": image_dedup_ahash,
        "image_dedup_phash": image_dedup_phash,
        "audio_dedup_fp": audio_dedup_fp,
        "ann_topk_pq": ann_topk_pq,
        "ann_topk_ivf": ann_topk_ivf,
        "approx_distinct_events": approx_distinct_events,
        "multimodal_features": multimodal_features,
        "ann_topk_lsh": ann_topk_lsh,
        "streaming_windowed_counts": streaming_windowed_counts,
        "sample_per_group": sample_per_group,
        "q7_volume_shipping": q7_volume_shipping,
        "q8_market_share": q8_market_share,
        "q10_returned_items": q10_returned_items,
        "q13_customer_distribution": q13_customer_distribution,
        "q15_top_supplier": q15_top_supplier,
        "q17_small_quantity_revenue": q17_small_quantity_revenue,
        "q18_large_orders": q18_large_orders,
        "q19_disjunctive_revenue": q19_disjunctive_revenue,
        "q21_waiting_suppliers": q21_waiting_suppliers,
        "window_functions_suite": window_functions_suite,
        "join_types_suite": join_types_suite,
        "asof_tolerance_purchase": asof_tolerance_purchase,
        "gapfill_hourly_locf": gapfill_hourly_locf,
        "hopping_window_counts": hopping_window_counts,
        "session_concurrency_hourly": session_concurrency_hourly,
        "ewma_user_value": ewma_user_value,
        "equidepth_histogram": equidepth_histogram,
        "feature_hashing_events": feature_hashing_events,
        "zorder_events": zorder_events,
        "skew_report_events": skew_report_events,
        "salted_join_segments": salted_join_segments,
        "partition_pruned_scan": partition_pruned_scan,
        "budget_select_docs": budget_select_docs,
        "funnel_signup_purchase": funnel_signup_purchase,
        "weighted_sample_docs": weighted_sample_docs,
        "snapshot_diff_docs": snapshot_diff_docs,
        "profile_documents": profile_documents,
        "winsorize_value_by_type": winsorize_value_by_type,
        "cap_docs_per_source": cap_docs_per_source,
        "upsample_epochs_sources": upsample_epochs_sources,
        "pack_materialize_docs": pack_materialize_docs,
        "weighted_percentile_price": weighted_percentile_price,
        "dsir_select_docs": dsir_select_docs,
        "dedup_containment": dedup_containment,
        "curriculum_order_docs": curriculum_order_docs,
        "quality_topq_per_source": quality_topq_per_source,
        "cross_source_dups": cross_source_dups,
        "streaming_neardup_index": streaming_neardup_index,
        "vocab_coverage_curve": vocab_coverage_curve,
        "source_kl_matrix": source_kl_matrix,
        "robust_scale_value": robust_scale_value,
        "length_quantiles_by_source": length_quantiles_by_source,
        "dedup_yield_curve": dedup_yield_curve,
        "priors_logp": priors_logp,
        "sql_udf_surface": sql_udf_surface,
        "heavy_hitters_users": heavy_hitters_users,
        "heavy_hitters_by_type": heavy_hitters_by_type,
        "sliding_distinct_users": sliding_distinct_users,
        "gapfill_hourly_interp": gapfill_hourly_interp,
        "dedup_normalized": dedup_normalized,
        "mix_temperature_sources": mix_temperature_sources,
        "rolling_median_user": rolling_median_user,
        "mv_incremental_daily": mv_incremental_daily,
        "asof_nearest_purchase": asof_nearest_purchase,
        "assemble_training_corpus": assemble_training_corpus,
        "date_trunc_family": date_trunc_family,
        "null_semantics_suite": null_semantics_suite,
        "boilerplate_chunks_docs": boilerplate_chunks_docs,
        "streaming_mv_daily": streaming_mv_daily,
        "streaming_heavy_hitters": streaming_heavy_hitters,
        "streaming_interval_left_join": streaming_interval_left_join,
        "streaming_hopping_counts": streaming_hopping_counts,
        "streaming_asof_purchase": streaming_asof_purchase,
        "streaming_hll_users": streaming_hll_users,
        "streaming_interval_join": streaming_interval_join,
        "streaming_sessionize": streaming_sessionize,
        "streaming_dedup_keys": streaming_dedup_keys,
        "streaming_enrich_static": streaming_enrich_static,
        "streaming_corpus_ingest": streaming_corpus_ingest,
        "training_shards_docs": training_shards_docs,
        "contamination_check": contamination_check,
        "token_histogram": token_histogram,
        "hard_negatives_emb": hard_negatives_emb,
        "emb_quantize": emb_quantize,
        "emb_lsh_recall": emb_lsh_recall,
        "minhash_recall_docs": minhash_recall_docs,
        "bloom_semi_lineitem": bloom_semi_lineitem,
        "chunk_docs_overlap": chunk_docs_overlap,
        "quantile_sketch_value": quantile_sketch_value,
        "transform_exp": transform_exp,
    }
    # --- driver-coverage rotation (round 13) ---
    # The driver hash-checks the FIRST 50 entries each round; all 50
    # are oracle-backed (tests/test_entry.py enforces it). The r12
    # verdict's #2: an optimization round must pin the TOUCHED set into
    # the window before rotating by staleness. Slots 1-18: every query
    # whose code changed in the r12 optimization session (corr/rollup/q1
    # widening, PageRank local cap, minhash semi-join + overlap, semantic
    # dedup widening, VI moments collect, simhash persist, substring
    # persist, sql_udf, ann_topk payload rebuild, transform/priors VI
    # surfaces). Slots 19-22: the r13 optimization targets (streaming
    # as-of rewrite, bloom probe, vi_minibatch replay,
    # kmeans local replay). Slots 23-47: the remaining r8-stale cohort
    # (alphabetical; the 5 r8 names already pinned above are not
    # repeated). Slots 48-50: head of the r9 cohort (alphabetical) —
    # after this round no registry query is staler than r9.
    window = [
        "corr_lineitem_metrics",
        "rollup_revenue",
        "q1_pricing_summary",
        "pagerank_dup_graph",
        "minhash_recall_docs",
        "semantic_dedup_emb",
        "vi_linear_regression",
        "simhash_near_pairs",
        "simhash_neighbor_stats",
        "dedup_substring_spans",
        "dedup_substring_winnowed",
        "sql_udf_surface",
        "ann_topk_ivf",
        "ann_topk_pq",
        "ann_topk_lsh",
        "transform_exp",
        "transform_softplus",
        "priors_logp",
        "streaming_asof_purchase",
        "bloom_semi_lineitem",
        "vi_minibatch_sgd",
        "kmeans_embeddings",
        "distinct_agg_suppliers",
        "diverse_select_emb",
        "emb_near_dup",
        "emb_near_dup_lsh",
        "grouping_sets_revenue",
        "hourly_event_counts",
        "logreg_quality_classifier",
        "pca_embeddings",
        "percentile_quantity",
        "pipeline_clean_corpus",
        "q12_priority_by_status",
        "q14_promo_revenue",
        "q22_inactive_customers",
        "range_join_quantity",
        "row_ids_wide_bins",
        "sim_cosine_topk",
        "streaming_ivf_ingest",
        "streaming_pca_gram",
        "streaming_vi_training",
        "text_langid",
        "text_quality",
        "text_repetition",
        "text_stats",
        "text_tfidf",
        "train_test_split_hash",
        "bucketed_join_revenue",
        "cms_frequency_users",
        "cohort_retention",
    ]
    out = {n: base[n] for n in window}
    out.update({n: f for n, f in base.items() if n not in out})
    return out


def oracle_sql() -> dict[str, str]:
    return {
        "dsir_select_docs": _dsir_sql(),
        "dedup_containment": _CONTAINMENT_SQL,
        "curriculum_order_docs": _CURRICULUM_SQL,
        "quality_topq_per_source": _QUALITY_TOPQ_SQL,
        "cross_source_dups": _CROSS_SOURCE_SQL,
        "winsorize_value_by_type": _WINSORIZE_SQL,
        "cap_docs_per_source": _CAP_SOURCE_SQL,
        "upsample_epochs_sources": _UPSAMPLE_SQL,
        "pack_materialize_docs": _PACK_MATERIALIZE_SQL,
        "weighted_percentile_price": _WEIGHTED_PCT_SQL,
        "streaming_dedup_index": _STREAM_DEDUP_INDEX_SQL,
        "streaming_neardup_index": _STREAM_NEARDUP_INDEX_SQL,
        "streaming_static_enrich": _STREAM_STATIC_ENRICH_SQL,
        "vocab_coverage_curve": _VOCAB_COVERAGE_SQL,
        "source_kl_matrix": _source_kl_sql(),
        "robust_scale_value": _ROBUST_SCALE_SQL,
        "length_quantiles_by_source": _LENGTH_QUANTILES_SQL,
        "dedup_yield_curve": _DEDUP_YIELD_SQL,
        "q1_pricing_summary": _Q1_SQL,
        "q3_top_orders": _Q3_SQL,
        "q5_nation_revenue": _Q5_SQL,
        "q4_late_shipment_priority": _Q4_SQL,
        "q6_forecast_revenue": _Q6_SQL,
        "q12_priority_by_status": _Q12_SQL,
        "q14_promo_revenue": _Q14_SQL,
        "q22_inactive_customers": _Q22_SQL,
        "q7_volume_shipping": _Q7_SQL,
        "q8_market_share": _Q8_SQL,
        "q10_returned_items": _Q10_SQL,
        "q13_customer_distribution": _Q13_SQL,
        "q15_top_supplier": _Q15_SQL,
        "q17_small_quantity_revenue": _Q17_SQL,
        "q18_large_orders": _Q18_SQL,
        "q19_disjunctive_revenue": _Q19_SQL,
        "q21_waiting_suppliers": _Q21_SQL,
        "window_functions_suite": _WINDOW_SUITE_SQL,
        "rollup_revenue": _ROLLUP_SQL,
        "cube_revenue": _CUBE_SQL,
        "grouping_sets_revenue": _GROUPING_SETS_SQL,
        "set_ops_customers": _SET_OPS_SQL,
        "join_types_suite": _JOIN_TYPES_SQL,
        "distinct_agg_suppliers": _DISTINCT_AGG_SQL,
        "string_date_functions": _STRING_DATE_SQL,
        "percentile_quantity": _PERCENTILE_SQL,
        "top_events_per_user": _TOPK_SQL,
        "asof_last_purchase": _ASOF_SQL,
        "asof_next_purchase": _ASOF_FWD_SQL,
        "asof_tolerance_purchase": _ASOF_TOL_SQL,
        "sessionize_events": _SESSION_SQL,
        "session_window_agg": _SESSION_WINDOW_SQL,
        "streaming_interval_join": _STREAM_IJOIN_SQL,
        "streaming_sessionize": _STREAM_SESS_SQL,
        "streaming_dedup_keys": _STREAM_DEDUP_SQL,
        "streaming_enrich_static": _STREAM_ENRICH_SQL,
        "streaming_corpus_ingest": _STREAM_INGEST_SQL,
        "ann_topk_lsh": _ANN_LSH_SQL,
        "ann_topk_pq": _ANN_RECALL_SQL,
        "ann_topk_ivf": _ANN_RECALL_SQL,
        "approx_distinct_events": _APPROX_DISTINCT_SQL,
        "multimodal_features": _MULTIMODAL_FEATURES_SQL,
        "streaming_windowed_counts": _STREAM_WINDOW_SQL,
        # r7: retired rows-only debt — deterministic-constant and
        # oracle-checked-metric conversions (see each docstring)
        "tdigest_quantiles_value": _TDIGEST_QUANTILES_SQL,
        "tdigest_by_type": _TDIGEST_BY_TYPE_SQL,
        "streaming_tdigest_value": _TDIGEST_QUANTILES_SQL,
        "video_dedup_frames": _VIDEO_DEDUP_FRAMES_SQL,
        "image_dedup_ahash": _IMAGE_DEDUP_AHASH_SQL,
        "image_dedup_phash": _IMAGE_DEDUP_PHASH_SQL,
        "audio_dedup_fp": _AUDIO_DEDUP_FP_SQL,
        "streaming_hopping_counts": _HOPPING_SQL,
        "streaming_asof_purchase": _ASOF_SQL,
        "streaming_hll_users": _hll_sql(),
        "running_total_user": _RUNNING_SQL,
        "hourly_event_counts": _HOURLY_SQL,
        "gapfill_hourly_locf": _GAPFILL_SQL,
        "hopping_window_counts": _HOPPING_SQL,
        "session_concurrency_hourly": _CONCURRENCY_SQL,
        "ewma_user_value": _EWMA_SQL,
        "equidepth_histogram": _EQUIDEPTH_SQL,
        "feature_hashing_events": _feature_hash_sql(),
        "zorder_events": _ZORDER_SQL,
        "skew_report_events": _SKEW_SQL,
        "salted_join_segments": _SALTED_JOIN_SQL,
        "partition_pruned_scan": _PARTITION_PRUNE_SQL,
        "budget_select_docs": _BUDGET_SELECT_SQL,
        "funnel_signup_purchase": _FUNNEL_SQL,
        "weighted_sample_docs": _weighted_sample_sql(),
        "snapshot_diff_docs": _SNAPSHOT_DIFF_SQL,
        "profile_documents": _PROFILE_SQL,
        "range_join_quantity": _RANGE_SQL,
        "json_extract_props": _JSON_PROPS_SQL,
        "pivot_event_types": _PIVOT_SQL,
        "rolling_1h_user_value": _ROLLING_SQL,
        "cohort_retention": _COHORT_SQL,
        "cms_frequency_users": _cms_sql(),
        "hll_distinct_users": _hll_sql(),
        "hll_users_by_type": _hll_sql(group_col="event_type"),
        "row_ids_documents": _ROW_IDS_SQL,
        "row_ids_wide_bins": _ROW_IDS_WIDE_SQL,
        # r9: pins the object-dtype (string) searchsorted bin branch
        "row_ids_string_bins": _ROW_IDS_STRING_SQL,
        # r8: retired rows-only debt — planted deterministic structure
        # (see each docstring)
        "kmeans_embeddings": _KMEANS_PLANTED_SQL,
        "pca_embeddings": _PCA_PLANTED_SQL,
        # r8 NEW operator beyond the checklist: greedy k-center coreset
        "diverse_select_emb": _KCENTER_PLANTED_SQL,
        # r8 NEW streaming path: exact dyadic stats -> same analytic SQL
        "streaming_pca_gram": _PCA_PLANTED_SQL,
        # r8: retired rows-only debt via the ann_topk_ivf recipe
        "streaming_ivf_ingest": _ANN_RECALL_SQL,
        # r8: retired rows-only debt via the bound-boolean recipe
        "logreg_quality_classifier": _LOGREG_LABELS_SQL,
        "bpe_train_encode": _BPE_ROUNDTRIP_SQL,
        "streaming_vi_training": _STREAM_VI_SQL,
        # r9: retired rows-only debt via the bound-boolean recipe —
        # exact OLS moments / freeze-contract booleans (see docstrings)
        "vi_linear_regression": _VI_LINREG_SQL,
        "vi_minibatch_sgd": _VI_MINIBATCH_SQL,
        "vi_staged_training": _VI_STAGED_SQL,
        # r9 NEW operators beyond the checklist: ExactSubstr-style
        # duplicate-span detection + excision (Lee et al. 2021)
        "dedup_substring_spans": _SUBSTR_SPANS_SQL,
        "dedup_substring_removal": _SUBSTR_REMOVAL_SQL,
        "dedup_substring_winnowed": _SUBSTR_WINNOW_SQL,
        "streaming_winnow_index": _STREAM_WINNOW_INDEX_SQL,
        # r9 NEW streaming path: incremental ExactSubstr window index
        "streaming_substr_index": _STREAM_SUBSTR_INDEX_SQL,
        # r9 NEW ops (mid-round): integer-exact streaming mini-batch
        # k-means sufficient stats; label-centroid outlier ranking
        "streaming_kmeans_update": _STREAM_KMEANS_SQL,
        "emb_label_outliers": _EMB_LABEL_OUTLIERS_SQL,
        "bucketed_join_revenue": _BUCKETED_JOIN_SQL,
        "bucketed_lookup_revenue": _BUCKETED_LOOKUP_SQL,
        "emb_truncated_recall": _EMB_TRUNCATED_SQL,
        "related_docs_tfidf": _RELATED_DOCS_SQL,
        "lttb_downsample_events": _LTTB_SQL,
        "lttb_m4_hourly": _LTTB_M4_SQL,
        "streaming_lttb_value": _LTTB_M4_SQL,
        "twa_value_user": _TWA_SQL,
        "join_size_estimate_cms": _cms_join_size_sql(),
        "counter_delta_user": _COUNTER_DELTA_SQL,
        "ohlc_hourly_value": _OHLC_SQL,
        "hll_overlap_segments": _hll_overlap_sql(),
        "streaming_ohlc_value": _OHLC_SQL,
        "profile_drift_docs": _profile_drift_sql(),
        "event_cooccurrence_pmi": _COOCCURRENCE_PMI_SQL,
        "event_transition_matrix": _TRANSITION_SQL,
        "emb_centroid_drift": _CENTROID_DRIFT_SQL,
        "session_top_paths": _SESSION_PATHS_SQL,
        # r9: the LAST four rows-only queries retired — bound-boolean
        # recipe for the GP/VI training flagships, constant VALUES +
        # 6-sigma noise bound for the deterministic-input GP posterior
        "gp_regression_events": _GP_REGRESSION_SQL,
        "gp_experts_events": _GP_EXPERTS_SQL,
        "vi_amortized_encoder": _AMORTIZED_SQL,
        "gp_sparse_posterior": _GP_SPARSE_POSTERIOR_SQL,
        "fuzzy_match_titles": _FUZZY_SQL,
        "unpivot_pricing_metrics": _UNPIVOT_SQL,
        "corr_lineitem_metrics": _corr_sql(),
        "linreg_value_by_hour": _LINREG_SQL,
        "validate_constraints_events": _VALIDATE_SQL,
        "merge_upsert_docs": _MERGE_SQL,
        "scd2_user_intervals": _SCD2_SQL,
        "array_functions_emb": _ARRAY_FN_SQL,
        "anomaly_zscore_events": _ZSCORE_SQL,
        "anomaly_mad_events": _MAD_SQL,
        "observed_filter_metrics": _OBSERVE_SQL,
        "rank_gauss_value": _RANK_GAUSS_SQL,
        "dedup_exact_groups": _EXACT_DUP_SQL,
        "dedup_minhash_lsh": _MINHASH_SQL,
        "dedup_jaccard": _JACCARD_SQL,
        "dedup_simhash": _SIMHASH_SQL,
        "simhash_near_pairs": _SIMHASH_PAIRS_SQL,
        "simhash_neighbor_stats": _SIMHASH_NEIGHBOR_SQL,
        "streaming_simhash_degree": _STREAM_SIMHASH_DEGREE_SQL,
        "streaming_bottomk_sample": _STREAM_BOTTOMK_SQL,
        "streaming_bloom_filter": _stream_bloom_sql(),
        "emb_density_outliers": _emb_density_sql(),
        "dedup_components": _COMPONENTS_SQL,
        "dedup_components_star": _COMPONENTS_SQL,
        "dedup_canonical_best": _CANONICAL_BEST_SQL,
        "pagerank_dup_graph": _pagerank_sql(6),
        "triangle_count_dupgraph": _TRIANGLE_SQL,
        "chunk_dedup_docs": _CHUNK_DEDUP_SQL,
        "incremental_dedup_new": _INCR_DEDUP_SQL,
        "text_stats": _TEXT_STATS_SQL,
        "text_quality": _TEXT_QUALITY_SQL,
        "text_langid": _LANGID_SQL,
        "text_tfidf": _TFIDF_SQL,
        "text_repetition": _REPETITION_SQL,
        "pii_redact": _PII_SQL,
        "lm_score_docs": _LM_SCORE_SQL,
        "lm_bigram_docs": _LM_BIGRAM_SQL,
        "gopher_quality_docs": _GOPHER_SQL,
        "pipeline_clean_corpus": _PIPELINE_SQL,
        "train_test_split_hash": _TRAIN_TEST_SQL,
        "sample_per_group": _SAMPLE_GROUP_SQL,
        "mix_corpus_sources": _MIX_SQL,
        "pack_sequences_docs": _PACK_SQL,
        "training_shards_docs": _SHARDS_SQL,
        "contamination_check": _CONTAM_SQL,
        "token_histogram": _TOKEN_HIST_SQL,
        "sim_cosine_topk": _COSINE_TOPK_SQL,
        "emb_near_dup": _EMB_NEAR_DUP_SQL,
        "emb_near_dup_lsh": _EMB_LSH_SQL,
        "hard_negatives_emb": _HARD_NEG_SQL,
        "emb_quantize": _EMB_QUANT_SQL,
        "emb_lsh_recall": _emb_recall_sql(),
        "minhash_recall_docs": _MINHASH_RECALL_SQL,
        "bloom_semi_lineitem": _bloom_sql(),
        "chunk_docs_overlap": _CHUNK_OVERLAP_SQL,
        "quantile_sketch_value": _QUANTILE_SKETCH_SQL,
        "density_gaussian": _DENS_GAUSS_SQL,
        "density_poisson": _DENS_POISSON_SQL,
        "density_student_t": _DENS_STUDENT_SQL,
        "density_lognormal": _DENS_LOGNORMAL_SQL,
        "density_bernoulli": _DENS_BERNOULLI_SQL,
        "density_exponential": _DENS_EXPONENTIAL_SQL,
        "density_gamma": _DENS_GAMMA_SQL,
        "density_beta": _DENS_BETA_SQL,
        "density_laplace": _DENS_LAPLACE_SQL,
        "density_bimixture": _DENS_BIMIX_SQL,
        "transform_softplus": _TRANSFORM_SQL,
        "sql_udf_surface": _SQL_UDF_SQL,
        "transform_exp": _TRANSFORM_EXP_SQL,
        "priors_logp": _PRIORS_SQL,
        "heavy_hitters_users": _HEAVY_HITTERS_SQL,
        "heavy_hitters_by_type": _HH_GROUPED_SQL,
        "sliding_distinct_users": _hll_windowed_sql(),
        "gapfill_hourly_interp": _GAPFILL_INTERP_SQL,
        "dedup_normalized": _DEDUP_NORM_SQL,
        "mix_temperature_sources": _MIX_TEMP_SQL,
        "rolling_median_user": _ROLLING_MEDIAN_SQL,
        "mv_incremental_daily": _MV_INCREMENTAL_SQL,
        "asof_nearest_purchase": _ASOF_NEAREST_SQL,
        "assemble_training_corpus": _assemble_sql(),
        "date_trunc_family": _DATE_TRUNC_SQL,
        "null_semantics_suite": _NULL_SEMANTICS_SQL,
        "boilerplate_chunks_docs": _BOILERPLATE_SQL,
        "streaming_mv_daily": _MV_INCREMENTAL_SQL,
        "streaming_mv_partitioned_daily": _MV_INCREMENTAL_SQL,
        "corpus_layout_order": _CORPUS_LAYOUT_SQL,
        "corpus_layout_desc": _CORPUS_LAYOUT_DESC_SQL,
        # r8: retired rows-only debt — planted-constant dup components
        # (see semantic_dedup_emb's docstring)
        "semantic_dedup_emb": _SEMANTIC_DEDUP_SQL,
        "split_leakage_report": _split_leakage_sql(),
        "streaming_heavy_hitters": _HEAVY_HITTERS_SQL,
        "streaming_interval_left_join": _STREAMING_LOJ_SQL,
    }
