"""Driver-local replay and the one partial-sum fold of an iterative fit.

An iterative fit (the `SparkTrainer` gradient loop, Lloyd's k-means, and
the one-pass PCA statistics) runs as rounds: the driver ships its small
state, every partition folds its rows into partial sums, and the driver
adds them up. `sum_partials` is that round, shared by all three, with
two paths that run the same per-partition code and add in the same
order:

* distributed: one ``mapInPandas`` emits each partial as one
  ``v array<double>`` row. Below TREE_DEPTH_CUTOVER partitions the
  driver collects the rows and adds them in partition order, then in
  the order each partition yielded them; at or above it,
  ``treeAggregate`` (depth 2) adds them executor-side, so the driver
  receives one vector however many partitions there are. Its final
  ``RDD.reduce`` adds the collected partition results in partition
  order; only its ``reduceByKey`` level adds in no fixed order, so a
  sum past the cutover can move by ulps from run to run.
* replay: the same fold on the driver over the batches `fetch_batches`
  returned, with no Spark job.

When the frame is small, the driver can fetch the exact (partition,
Arrow batch) frames the distributed ``mapInPandas`` would iterate, once,
and replay every round on them. `fetch_batches` is that fetch.
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
from itertools import groupby
from operator import itemgetter

import numpy as np

#: bytes of pickled payload the driver accepts for one replay. The
#: largest replay at the driver SFs, vi_linear_regression's 100k rows x
#: 2 doubles, pickles to about 1.6 MB; a 768-dim embedding column
#: reaches the budget at about 2700 rows, where the rows-only cap let
#: 128k rows (0.8 GB) through.
REPLAY_BUDGET_BYTES = 16 << 20

#: partition count from which `sum_partials` adds on the executors
#: (``treeAggregate`` at depth 2) and `fetch_batches` fetches nothing.
#: Below it the driver collects one small row per partial: depth 2
#: would add a ~sqrt(P)-partition shuffle stage to every round, which at
#: the driver SFs (P = 1-32) doubled a training step's stage count for
#: nothing, and even depth 1 sends every row through a second
#: Python-worker layer (the RDD seq/comb functions) after a
#: javaToPython conversion. At the 1000-executor design point P is
#: thousands and depth 2 keeps the driver's traffic at one vector per
#: round.
TREE_DEPTH_CUTOVER = 64


def fetch_batches(df, to_payload, rows_cap: int):
    """``[(pid, bi, to_payload(pdf)), ...]`` in (pid, bi) order, one entry
    per non-empty Arrow batch of `df` as ``mapInPandas`` would see it, or
    None when `df` is over its budget (see the module docstring). Returns
    None without a job when ``rows_cap <= 0`` or when `df` has
    TREE_DEPTH_CUTOVER partitions or more. `to_payload` runs inside the
    task, so what it builds from the batch round-trips bit-exactly."""
    from henbun_spark.operators._parallel import _plan_partitions

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


def _add(total, v):
    """``total + v`` as float64, in place once `total` exists; None is
    the empty sum, so the first vector is copied, not added to zero."""
    if v is None:
        return total
    if total is None:
        return np.array(v, dtype=np.float64)
    total += v
    return total


def sum_partials(df, to_payload, partial, width, batches=None):
    """The float64 sum of every vector ``partial(pid, frames)`` yields,
    over all partitions of `df` (see the module docstring).

    `frames` iterates one partition's non-empty Arrow batches as
    ``(bi, to_payload(pdf))`` and `partial` yields vectors of length
    `width` from them. With `batches` (what `fetch_batches` returned)
    the fold runs on the driver and `df` is not read. Both paths add in
    partition order, then yield order, so they agree bit for bit. The
    sum starts at ``np.zeros(width)``; with ``width=None`` it starts at
    the first vector, and None means nothing was yielded."""
    total = None if width is None else np.zeros(width)
    if batches is not None:
        for pid, group in groupby(batches, key=itemgetter(0)):
            for v in partial(pid, ((bi, x) for _, bi, x in group)):
                total = _add(total, v)
        return total
    from henbun_spark.operators._parallel import _plan_partitions

    def task(iterator):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        frames = ((bi, to_payload(pdf)) for bi, pdf in enumerate(iterator)
                  if len(pdf))
        for v in partial(pid, frames):
            yield pd.DataFrame({"v": [np.asarray(v, dtype=np.float64)]})

    rows = df.mapInPandas(task, schema="v array<double>")
    if _plan_partitions(rows) < TREE_DEPTH_CUTOVER:
        for row in rows.collect():
            total = _add(total, row[0])
        return total
    return rows.rdd.treeAggregate(
        total, lambda acc, row: _add(acc, row[0]), _add, depth=2
    )
