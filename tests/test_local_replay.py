"""`local_replay.fetch_batches`: the one-job driver fetch under the row
cap and the byte budget, each task bounded by its 1/P share."""

import hashlib
import pickle

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from henbun_spark.local_replay import REPLAY_BUDGET_BYTES, fetch_batches
from henbun_spark.spark_exec import LOCAL_ROWS_CAP


def _digest(pdf) -> str:
    return hashlib.sha256(pickle.dumps(pdf)).hexdigest()


def _seen_by_map_in_pandas(df, to_payload):
    """(pid, bi, digest of the pickled payload) of every non-empty batch a
    distributed mapInPandas task iterates, collected as rows, in (pid,
    bi) order."""

    def fn(iterator):
        import hashlib
        import pickle

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        for bi, pdf in enumerate(iterator):
            if len(pdf):
                d = hashlib.sha256(pickle.dumps(to_payload(pdf))).hexdigest()
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


def _kmeans_frame(spark):
    # 4 partitions x 5000 rows of an 8-double array column, the kind of
    # embedding column `clustering.kmeans_fit` fetches
    return spark.range(0, 20000, 1, 4).select(
        F.array(*[F.col("id") * (j + 1) / 7.0 for j in range(8)]).alias("_v")
    )


# payloads are lambdas so that tasks unpickle them by value: a worker
# cannot import this module. The k-means one is the float64 matrix
# `clustering.kmeans_fit` fetches per batch.
@pytest.mark.parametrize(
    "make,rows_cap,fetched,to_payload",
    [
        pytest.param(_dim1024, LOCAL_ROWS_CAP, False, lambda pdf: pdf, id="dim1024-over-bytes"),
        pytest.param(_skewed, 400, False, lambda pdf: pdf, id="partition-over-row-share"),
        pytest.param(_vi_frame, LOCAL_ROWS_CAP, True, lambda pdf: pdf, id="vi-frame"),
        pytest.param(
            _kmeans_frame,
            LOCAL_ROWS_CAP,
            True,
            lambda pdf: np.stack(pdf["_v"].to_numpy()).astype(np.float64),
            id="kmeans-array",
        ),
    ],
)
def test_fetch_batches_budget_edges(spark, make, rows_cap, fetched, to_payload):
    """(a) a dim-1024 frame under the row cap but over the byte budget
    stays distributed; (b) a frame under the row cap whose largest
    partition is over its 1/P share stays distributed; (c) the vi frame
    and (d) the k-means array payload, cut into several Arrow batches per
    partition, come back as every (pid, bi) in order, each payload
    pickling to the bytes a ``mapInPandas(...).collect()`` of the same
    batches gives."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1500")
    try:
        df = make(spark)
        got = fetch_batches(df, to_payload, rows_cap)
        if not fetched:
            assert got is None
            return
        want = _seen_by_map_in_pandas(df, to_payload)
        assert len(want) == 4 * 4  # 1500, 1500, 1500, 500 per partition
        assert [(pid, bi, _digest(data)) for pid, bi, data in got] == want
        assert sum(len(pickle.dumps(data)) for _, _, data in got) < REPLAY_BUDGET_BYTES
    finally:
        spark.conf.set(key, prev)
