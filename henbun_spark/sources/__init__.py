"""Sources: SparkSession factory + normalized table loaders.

The reference has no file connectors (data enters as numpy feeds,
`/root/reference/Henbun/param.py:676-739`); this module is the Spark-native
scan/source surface: Parquet (primary), CSV/JSON helpers, and the
driver-supplied TPC-H-ish test tables.

Scale notes (100 TB design):
* All reads are plain `spark.read` — predicate pushdown / column pruning /
  partition pruning stay available to Catalyst.
* `nanosAsLong` handles TIMESTAMP(NANOS) parquet (unsupported natively by
  Spark); the ns->us conversion matches DuckDB's internal microsecond
  truncation so oracle comparisons agree.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# columns stored as TIMESTAMP(NANOS) in parquet -> read as long, convert
_NANO_TS_COLS = {"events": ["ts"]}


def get_spark(
    app_name: str = "henbun_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Opinionated local-mode session: AQE on, Arrow on, UTC, shuffle
    partitions sized to cores (not the 200 default).

    Python workers run under `henbun_spark._daemon`, pyspark's daemon
    minus the re-read of every unchanged zip archive (pyspark.zip, the
    spark-core jar) that pyspark otherwise does before each task, most
    of the CPU of a short Arrow task. It is set as the daemon module
    because pyspark's daemon ignores a `spark.python.worker.module` whose
    name does not start with "pyspark". The executors' Python must
    therefore import `henbun_spark`, as the library's UDFs already
    require."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(cpus)
    # local mode = one JVM for driver+executors; Spark's 1g default heap
    # starves 32 concurrent tasks. Only effective before JVM launch —
    # ignored (harmlessly) by getOrCreate on an existing session.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "henbun_spark._daemon")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _nanos_to_ts(df: DataFrame, col: str) -> DataFrame:
    """Normalize a timestamp column to TimestampType regardless of how the
    parquet stored it: TIMESTAMP(NANOS) read as long (ns-epoch, via
    nanosAsLong) -> exact integer floor-division to us (float division would
    lose precision: ns epochs ~1.7e18 exceed double's 2^53, drifting ±1us vs
    DuckDB's exact truncation); TIMESTAMP(MICROS) read as TIMESTAMP_NTZ ->
    plain cast (values identical under the UTC session timezone); already
    TimestampType -> no-op."""
    if col not in df.columns:
        return df
    dt = df.schema[col].dataType
    if isinstance(dt, T.TimestampType):
        return df
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn(col, F.col(col).cast(T.TimestampType()))
    if isinstance(dt, (T.LongType, T.IntegerType)):
        return df.withColumn(
            col, F.timestamp_micros(F.expr(f"{col} div 1000"))
        )
    if isinstance(dt, T.DateType):
        return df.withColumn(col, F.col(col).cast(T.TimestampType()))
    if isinstance(dt, T.StringType):
        return df.withColumn(col, F.to_timestamp(F.col(col)))
    return df


def normalize_events(df: DataFrame) -> DataFrame:
    """Apply the events-table ts normalization to any frame with the events
    schema (batch or streaming)."""
    for col in _NANO_TS_COLS["events"]:
        df = _nanos_to_ts(df, col)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table with normalized schema (ns-timestamps ->
    TimestampType via microsecond truncation, matching DuckDB)."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in _NANO_TS_COLS.get(name, []):
        df = _nanos_to_ts(df, col)
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    out = {}
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            out[t] = load_table(spark, sf_dir, t)
    return out


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (SQL surface)."""
    dfs = load_all(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def read_csv(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    """CSV scan; schema strongly preferred at scale (no inference pass)."""
    reader = spark.read.options(header="true", **options)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by=None):
    """Sink: parquet writer, optionally hive-partitioned (partition pruning
    at scale)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def compact_parquet(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_file_mb: int = 256,
) -> int:
    """Small-file compaction: rewrite a parquet directory into files of
    ~`target_file_mb` each (from the source's on-disk bytes). The
    small-files problem is a first-order 100 TB failure mode — a
    million 1 MB files means a million scan tasks and a crushed
    namenode/listing path; periodic compaction keeps scans at
    maxPartitionBytes-sized tasks.

    Returns the number of output files requested. Uses coalesce (no
    shuffle) when reducing file count — each output task reads whole
    input files; use `write_zordered` instead when the rewrite should
    also re-cluster rows.
    """
    total = 0
    for root, _dirs, files in os.walk(in_path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n = max(1, -(-total // (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(in_path)
    df.coalesce(n).write.mode("overwrite").parquet(out_path)
    return n


def profile_table(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Column-level data profile: rows, nulls, distinct count, min/max
    (as strings, so heterogeneous column types stack into one frame).
    One aggregation pass over the table — every statistic is partial-
    aggregatable, so the profile costs a single scan at any scale.
    The per-column stats are computed in ONE agg (not a loop of jobs)
    and unpivoted with stack()."""
    cols = cols or df.columns
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"__nn_{c}"),
            F.countDistinct(F.col(c)).alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
        ]
    row = df.agg(F.count(F.lit(1)).alias("__rows"), *aggs)
    stacked = ", ".join(
        f"'{c}', __rows - __nn_{c}, __nd_{c}, __mn_{c}, __mx_{c}" for c in cols
    )
    return row.selectExpr(
        "__rows as n_rows",
        f"stack({len(cols)}, {stacked}) as (column, n_nulls, n_distinct, min_val, max_val)",
    ).select("column", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val")


def profile_drift(
    old: DataFrame, new: DataFrame, cols: list[str] | None = None
) -> DataFrame:
    """Column-level PROFILE DRIFT between two snapshots — the data-
    observability check that runs before a new ingest replaces the old
    one: row/null/distinct counts and min/max per column, side by side,
    with the derived drift signals (null-rate delta, distinct-count
    delta, range-changed flag). `snapshot_diff` answers "which ROWS
    changed"; this answers "did the SHAPE of the data move" — a
    upstream schema or encoding bug shows up here as a null-rate jump
    or a collapsed distinct count even when row counts look fine.

    Cost: exactly two `profile_table` scans (one per snapshot, each a
    single partial-aggregatable pass) + a |cols|-row join. The drift
    math is arithmetic on counts, so the report is engine-exact;
    min/max comparisons are null-safe (an all-null column drifts only
    if the other side disagrees). The join is FULL OUTER with a
    ``status`` column ('both' | 'added' | 'removed'): a column that
    appears or disappears between snapshots — the bluntest schema
    drift there is — must surface as a row, not silently vanish from
    an inner join.
    """
    po = profile_table(old, cols)
    pn = profile_table(new, cols)
    o = po.select(
        "column",
        *[
            F.col(c).alias(f"{c}_old")
            for c in ["n_rows", "n_nulls", "n_distinct", "min_val", "max_val"]
        ],
    )
    n = pn.select(
        "column",
        *[
            F.col(c).alias(f"{c}_new")
            for c in ["n_rows", "n_nulls", "n_distinct", "min_val", "max_val"]
        ],
    )
    j = o.join(n, "column", "full_outer")
    null_rate = lambda side: F.col(f"n_nulls_{side}").cast("double") / F.col(  # noqa: E731
        f"n_rows_{side}"
    )
    return j.select(
        "column",
        F.when(F.col("n_rows_old").isNull(), F.lit("added"))
        .when(F.col("n_rows_new").isNull(), F.lit("removed"))
        .otherwise(F.lit("both"))
        .alias("status"),
        "n_rows_old",
        "n_rows_new",
        "n_nulls_old",
        "n_nulls_new",
        "n_distinct_old",
        "n_distinct_new",
        "min_val_old",
        "min_val_new",
        "max_val_old",
        "max_val_new",
        F.round(null_rate("new") - null_rate("old"), 6).alias(
            "null_rate_delta"
        ),
        (F.col("n_distinct_new") - F.col("n_distinct_old")).alias(
            "distinct_delta"
        ),
        (
            ~F.col("min_val_old").eqNullSafe(F.col("min_val_new"))
            | ~F.col("max_val_old").eqNullSafe(F.col("max_val_new"))
        ).alias("range_changed"),
    )


def read_parquet_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read across schema versions (`mergeSchema`): files written
    before a column existed surface it as NULL instead of failing the
    scan. The footer merge costs one extra pass over file metadata —
    enable it per-read here rather than globally, since at 100 TB the
    footer listing of a million files is itself a job."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same pushdown/pruning surface as parquet (ORC is the
    other columnar format Spark ships natively; predicate pushdown uses
    ORC's built-in min/max/bloom indexes)."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite", partition_by=None):
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_text(spark: SparkSession, path: str, whole_file: bool = False) -> DataFrame:
    """Raw text corpus scan: one row per line (`value` string), or one
    row per FILE with ``whole_file=True`` — the ingest shape for
    document corpora stored as flat files. Line mode splits on newlines
    inside scan tasks (parallel at any scale); whole-file mode keeps a
    document together at the cost of one task per file — compact small
    files first (`compact_parquet`) or the task count explodes."""
    return spark.read.text(path, wholetext=whole_file)


def read_json_tolerant(
    spark: SparkSession, path: str, schema, corrupt_col: str = "_corrupt_record"
) -> DataFrame:
    """JSON scan that quarantines malformed rows into `corrupt_col`
    (PERMISSIVE mode) instead of failing the pipeline — at ingest scale
    some fraction of records is always broken, and dropping them
    silently (DROPMALFORMED) loses the evidence needed to fix the
    producer. The schema must include `corrupt_col` as a nullable
    string."""
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )
