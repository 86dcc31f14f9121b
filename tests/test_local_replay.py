"""`local_replay.fetch_batches`: the one-job driver fetch under the row
cap and the byte budget, each task bounded by its 1/P share."""

import hashlib
import pickle

import pandas as pd
import pytest
from pyspark.sql import functions as F

from henbun_spark.local_replay import REPLAY_BUDGET_BYTES, fetch_batches
from henbun_spark.spark_exec import LOCAL_ROWS_CAP


def _digest(pdf) -> str:
    return hashlib.sha256(pickle.dumps(pdf)).hexdigest()


def _seen_by_map_in_pandas(df):
    """(pid, bi, digest) of every non-empty batch a distributed
    mapInPandas task iterates, in (pid, bi) order."""

    def fn(iterator):
        import hashlib
        import pickle

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        for bi, pdf in enumerate(iterator):
            if len(pdf):
                d = hashlib.sha256(pickle.dumps(pdf)).hexdigest()
                yield pd.DataFrame({"pid": [pid], "bi": [bi], "d": [d]})

    rows = df.mapInPandas(fn, "pid int, bi int, d string").collect()
    return sorted((r["pid"], r["bi"], r["d"]) for r in rows)


def _dim1024(spark):
    # 2100 x 1024 doubles, about 17 MB: under the row cap, over the bytes
    return spark.range(0, 2100, 1, 4).select(
        F.array_repeat(F.col("id").cast("double"), 1024).alias("v")
    )


def _skewed(spark):
    # partitions of 300, 33, 33 and 34 rows: 400 in all, at a cap of 400
    # rows (a share of 100) the first partition is over its share
    return spark.range(0, 300, 1, 1).union(spark.range(300, 400, 1, 3))


def _vi_frame(spark):
    # the vi_replay shape: 4 partitions x 5000 rows of two doubles
    x = F.col("id") / 20000.0
    return spark.range(0, 20000, 1, 4).select(
        x.alias("x"), (0.3 + 2.0 * x).alias("y")
    )


@pytest.mark.parametrize(
    "make,rows_cap,fetched",
    [
        pytest.param(_dim1024, LOCAL_ROWS_CAP, False, id="dim1024-over-bytes"),
        pytest.param(_skewed, 400, False, id="partition-over-row-share"),
        pytest.param(_vi_frame, LOCAL_ROWS_CAP, True, id="vi-frame"),
    ],
)
def test_fetch_batches_budget_edges(spark, make, rows_cap, fetched):
    """(a) a dim-1024 frame under the row cap but over the byte budget
    stays distributed; (b) a frame under the row cap whose largest
    partition is over its 1/P share stays distributed; (c) the vi frame,
    cut into several Arrow batches per partition, comes back as every
    (pid, bi) in order with the pandas frames mapInPandas iterates."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1500")
    try:
        df = make(spark)
        got = fetch_batches(df, lambda pdf: pdf, rows_cap)
        if not fetched:
            assert got is None
            return
        want = _seen_by_map_in_pandas(df)
        assert len(want) == 4 * 4  # 1500, 1500, 1500, 500 per partition
        assert [(pid, bi, _digest(pdf)) for pid, bi, pdf in got] == want
        assert sum(len(pickle.dumps(pdf)) for _, _, pdf in got) < REPLAY_BUDGET_BYTES
    finally:
        spark.conf.set(key, prev)
