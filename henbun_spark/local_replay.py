"""Driver-local replay: fetch a small frame's Arrow batches in one job.

An iterative fit (the `SparkTrainer` gradient loop, Lloyd's k-means) runs
one Spark job per step. When the frame is small, the driver can instead
fetch the exact (partition, Arrow batch) frames the distributed
``mapInPandas`` would iterate, once, and replay every step on them with
no Spark job. `fetch_batches` is that fetch, shared by both callers.
A `SparkTrainer` holds its replay while it holds its frame: later fits
and `evaluate` replay it too, until its `df` is assigned. What it holds
is bounded by REPLAY_BUDGET_BYTES of batches plus
`spark_exec.TAPE_BUDGET_BYTES` of tapes. k-means drops its copy when
the fit returns.

One ``mapInPandas`` job, no LIMIT probe. Each task pickles
``to_payload(pdf)`` per Arrow batch and keeps running totals of rows and
pickled bytes. Its share of the budget is ``rows_cap // P`` rows and
``REPLAY_BUDGET_BYTES // P`` bytes, P being the frame's partition count.
The batch that takes a task past either share is not sent: the task
yields one marker row instead and stops reading. So the driver never
receives more than ``rows_cap`` rows or ``REPLAY_BUDGET_BYTES`` bytes,
and at scale an over-budget task ends after its first batches. Any
marker means "stay distributed" (None). The driver receives the rows as
one Arrow table (`DataFrame.toArrow`), not as ``Row`` objects that the
JVM pickles and the driver unpickles before it reads each payload.

The per-task share is what one job costs under skew: a frame under both
totals whose largest partition is over its share stays distributed. Its
result is the same, bit for bit; only the replay's speed is lost.
"""

from __future__ import annotations

import pickle

#: bytes of pickled payload the driver accepts for one replay. The
#: largest replay at the driver SFs, vi_linear_regression's 100k rows x
#: 2 doubles, pickles to about 1.6 MB; a 768-dim embedding column
#: reaches the budget at about 2700 rows, where the rows-only cap let
#: 128k rows (0.8 GB) through.
REPLAY_BUDGET_BYTES = 16 << 20


def fetch_batches(df, to_payload, rows_cap: int):
    """``[(pid, bi, to_payload(pdf)), ...]`` in (pid, bi) order, one entry
    per non-empty Arrow batch of `df` as ``mapInPandas`` would see it, or
    None when `df` is over its budget (see the module docstring). Returns
    None without a job when ``rows_cap <= 0`` or when `df` has
    TREE_DEPTH_CUTOVER partitions or more. `to_payload` runs inside the
    task, so what it builds from the batch round-trips bit-exactly."""
    from henbun_spark.operators._parallel import _plan_partitions
    from henbun_spark.spark_exec import TREE_DEPTH_CUTOVER

    if rows_cap <= 0:
        return None
    nparts = _plan_partitions(df)
    if nparts >= TREE_DEPTH_CUTOVER:
        return None
    row_share = rows_cap // max(nparts, 1)
    byte_share = REPLAY_BUDGET_BYTES // max(nparts, 1)

    def grab(iterator):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        rows = nbytes = 0
        for bi, pdf in enumerate(iterator):
            if len(pdf) == 0:
                continue
            data = pickle.dumps(to_payload(pdf))
            rows += len(pdf)
            nbytes += len(data)
            if rows > row_share or nbytes > byte_share:
                yield pd.DataFrame({"pid": [pid], "bi": [-1], "data": [b""]})
                return
            yield pd.DataFrame({"pid": [pid], "bi": [bi], "data": [data]})

    got = df.mapInPandas(grab, schema="pid int, bi int, data binary").toArrow()
    # (pid, bi) is unique per row, so the sort never compares payloads
    rows = sorted(zip(*(got.column(c).to_pylist() for c in ("pid", "bi", "data"))))
    if any(bi < 0 for _, bi, _ in rows):
        return None
    return [(pid, bi, pickle.loads(data)) for pid, bi, data in rows]
