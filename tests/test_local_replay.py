"""`local_replay.fetch_batches`: the one-job driver fetch under the row
cap and the byte budget, each task bounded by its 1/P share; and
`local_replay.sum_partials`, whose replay over those batches adds the
bits its distributed job adds."""

import hashlib
import pickle

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from henbun_spark.local_replay import REPLAY_BUDGET_BYTES, fetch_batches, sum_partials
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


@pytest.mark.parametrize("per", ["batch", "partition"])
def test_sum_partials_replay_bitwise_equals_distributed(spark, per):
    """One vector per Arrow batch, or one per partition, summed over a
    frame whose partitions hold 3 Arrow batches each, with an empty
    partition between them: the driver replay over `fetch_batches` adds
    the same bits the distributed job adds. The values span 7 orders of
    magnitude, so a sum in another order moves bits."""
    a = F.sin(F.col("id") * 0.37) * F.pow(F.lit(10.0), F.col("id") % 7)
    # 4 partitions of 750 ids; the filter empties the third
    df = (
        spark.range(0, 3000, 1, 4)
        .where((F.col("id") < 1500) | (F.col("id") >= 2250))
        .select(a.alias("a"), F.cos(F.col("id") * 1.3).alias("b"))
    )

    def per_batch(pid, frames):
        for bi, x in frames:
            yield np.concatenate(([len(x), x[:, 0].sum() * (bi + 1),
                                   (x[:, 0] * x[:, 1]).sum() + pid],
                                  x[:5, 0] / (x[:5, 1] + 2.0)))

    def per_partition(pid, frames):
        total = np.zeros(8)
        for v in per_batch(pid, frames):
            total = total * 0.5 + v
        yield total

    def to_payload(pdf):
        return pdf[["a", "b"]].to_numpy()

    partial = per_batch if per == "batch" else per_partition
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "300")
    try:
        batches = fetch_batches(df, to_payload, LOCAL_ROWS_CAP)
        distributed = sum_partials(df, to_payload, partial, 8)
    finally:
        spark.conf.set(key, prev)
    assert [(pid, bi) for pid, bi, _ in batches] == [
        (pid, bi) for pid in (0, 1, 3) for bi in range(3)
    ]
    assert sum(len(x) for _, _, x in batches) == 2250
    replayed = sum_partials(None, None, partial, 8, batches)
    assert distributed.tobytes() == replayed.tobytes()
