"""Distributed training & inference executor.

This is the engine's answer to the reference's `session.run(optimize_op,
feed_dict=minibatch)` loop (`/root/reference/Henbun/model.py:255-269`),
re-shaped for Spark's execution model (SURVEY §3.3):

per step:
  1. minibatch  = ``df.sample(fraction, seed=step)`` (or the full frame)
  2. broadcast  = current global parameters (small numpy arrays)
  3. one job    = ``mapInPandas`` evaluates the user objective per Arrow
                  batch with `henbun_spark.autodiff`, emitting ONE row per
                  batch: (loss, n_rows, flattened-gradient)
  4. aggregate  = partial gradients sum linearly and are combined
                  IN-CLUSTER via ``RDD.treeAggregate`` (MLlib's pattern):
                  executors reduce their batch partials, a tree of
                  combiners folds partition results, and the driver
                  receives exactly ONE (loss, n, |params|-vector) triple
                  per step — never one row per batch
  5. update     = driver-side Adam on the free-space parameter vector

Objective contract (why two methods): a distributed objective must
decompose as  sum over rows  +  dataset-level terms. ``local_objective``
is evaluated per batch (its value/gradient sum across partitions);
``global_objective`` (optional: priors/KL of *global* parameters) is
evaluated once per step on the driver. KL of LOCAL variationals is
row-additive and belongs in ``local_objective``. ``local_objective`` may
depend only on the global state, the batch and the seeded RNG
(``draw_normal``), never on what an earlier evaluation left on the
model: a task evaluates every Arrow batch of its partition on one
unpickled model, and the driver-local replay keeps that model for every
step of a fit.

Driver-local replay (under LOCAL_ROWS_CAP): a multi-step fit fetches
the frame's (partition, Arrow batch) pandas frames in one job and drops
them when it returns. Every step of the fit then runs on the driver
with no Spark job: one `_Replica` per partition, unpickled at its first
batch of the fit, gets the step's global state injected and evaluates
that partition's batches with the distributed job's seeds and fold
order, so the training history is bit-identical.

Determinism under task retry (SURVEY §4 O3): the per-batch sample RNG is
seeded with (step, partitionId, batch_index), so a re-executed task
redraws identical noise.

Scale: executors never see the whole dataset; the driver never sees rows.
Traffic per step = |params| broadcast down + |params| collected up (one
tree-aggregated vector), independent of the number of partitions/batches.
At 1000 executors with ~1e6 parameters that is ~8 MB each way per step;
the tree depth (default 2) bounds any single combiner's fan-in.
"""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np

from henbun_spark import autodiff as ad
from henbun_spark.config import settings
from henbun_spark.model import Adam, Model
from henbun_spark.param import Data, graph_key

try:
    from pyspark import TaskContext
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F
except ImportError:  # pragma: no cover
    DataFrame = None


class ColumnData(Data):
    """A Data placeholder fed from DataFrame columns per Arrow batch.

    Declares the engine-side schema (column names, in order); the executor
    fills `.data` from each pandas batch before evaluating the objective.
    With a single column the fed tensor is 1-d [N]; with k columns, [N, k].
    """

    def __init__(self, columns):
        self.columns = [columns] if isinstance(columns, str) else list(columns)
        width = len(self.columns)
        init = np.zeros((0,) if width == 1 else (0, width), dtype=np.float64)
        Data.__init__(self, init)

    def assign(self, value):  # shape changes allowed: batch size varies
        value = np.asarray(value)
        self.data = self._coerce(value)

    def bind_batch(self, pdf):
        cols = [pdf[c].to_numpy(dtype=np.float64) for c in self.columns]
        if len(cols) == 1:
            self.assign(cols[0])
        else:
            self.assign(np.stack(cols, axis=1))


def _register_by_value(cls, cloudpickle) -> None:
    """Model classes defined in user scripts/tests are not importable by
    executor python workers — serialize their defining module by value."""
    import sys

    mod = sys.modules.get(cls.__module__)
    if (
        mod is not None
        and not cls.__module__.startswith(("henbun_spark", "builtins", "__mp"))
        and cls.__module__ != "__main__"
    ):
        try:
            cloudpickle.register_pickle_by_value(mod)
        except Exception:
            pass


def _collect_column_data(model: Model) -> list:
    return [
        d for d in model.get_variables(graph_key.DATA) if isinstance(d, ColumnData)
    ]


def _trainable(model: Model, collection):
    return [
        v
        for v in model.get_variables(collection)
        if v.collections not in graph_key.not_parameters
    ]


#: partition count above which treeAggregate uses depth 2. Below it the
#: intermediate combine stage is pure scheduling overhead — with P
#: partitions depth 2 inserts a ~sqrt(P)-partition shuffle stage per
#: step, which at the driver SFs (P = 1-32, one small parquet per
#: table) doubled every training step's stage count for nothing
#: (measured r12: vi_linear_regression ~30% step-time cut at depth 1).
#: At the 1000-executor design point P is thousands and depth 2 keeps
#: driver traffic at one |params| vector — unchanged there.
TREE_DEPTH_CUTOVER = 64


def _tree_depth(nparts: int) -> int:
    return 2 if nparts >= TREE_DEPTH_CUTOVER else 1


#: row count at or below which ``fit()`` replays the per-batch gradient
#: evaluation DRIVER-LOCALLY (r12, guide §1.2 "the distributed
#: algorithm" / §5 driver): a full-batch training loop is maxiter
#: sequential Spark jobs whose per-job scheduling + Python-boundary
#: round-trip (~0.1-0.3s each) dwarfs the per-step numpy work on the
#: driver test frames. Under the cap, ONE bounded job fetches the exact
#: (partition, Arrow-batch) pandas frames the distributed mapInPandas
#: would see, and every step replays them through one `_Replica` per
#: partition with the same state injection, the same (step, pid, bi)
#: seeds, and the same partial-fold order — so the Adam trajectory is
#: REPLICATED BIT-FOR-BIT (pytest-pinned), exactly like the PageRank
#: driver-local path under the union-find cap. Above the cap (or past
#: TREE_DEPTH_CUTOVER partitions) nothing changes: the distributed loop
#: is the 100 TB design. Override with SPARK_GRAFT_TRAINER_LOCAL_CAP
#: (0 disables).
LOCAL_ROWS_CAP = 1 << 17


#: ---- bit-exact driver replica of Dataset.sample (r13) ---------------
#: `df.sample(fraction, seed)` (without replacement) plans SampleExec,
#: which per partition runs a BernoulliCellSampler seeded with
#: XORShiftRandom(hashSeed(seed + partitionIndex)) and keeps a row iff
#: rng.nextDouble() < fraction (Spark source: SampleExec /
#: RDD.randomSampleWithRange / XORShiftRandom — all public Apache
#: code). Every piece is deterministic given (seed, partition index,
#: row position), so a driver-local replay of a minibatch fit can
#: reproduce the exact sampled row set from the already-fetched
#: partition frames — no per-step Spark job. The XORShift state
#: transition is linear over GF(2), so the sequential per-row state
#: sequence vectorizes with basis-matrix doubling (s_{n+m} = A^m s_n).

_M64 = (1 << 64) - 1


def _murmur3_32(data: bytes, seed: int) -> int:
    """scala.util.hashing.MurmurHash3.bytesHash (x86_32), exact."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    nblocks = len(data) // 4
    for i in range(nblocks):
        k = int.from_bytes(data[4 * i: 4 * i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[nblocks * 4:]
    k = 0
    if len(tail) == 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def _xs_hash_seed(seed: int) -> int:
    """XORShiftRandom.hashSeed: murmur the 8 big-endian seed bytes
    twice (lowBits seeded with MurmurHash3.arraySeed, highBits chained
    on lowBits) — verified against the running JVM's stream in
    tests/test_spark_exec.py."""
    buf = (seed & _M64).to_bytes(8, "big")
    low = _murmur3_32(buf, 0x3C074A61)  # MurmurHash3.arraySeed
    high = _murmur3_32(buf, low)
    return ((high << 32) | low) & _M64


def _xs_step(x: np.ndarray) -> np.ndarray:
    """One XORShiftRandom state transition, elementwise on uint64."""
    x = x ^ (x << np.uint64(21))
    x = x ^ (x >> np.uint64(35))
    x = x ^ (x << np.uint64(4))
    return x


def _gf2_apply(basis: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Apply the GF(2)-linear map given by `basis` (basis[i] = image of
    bit i, 64 uint64s) to every element of `x`."""
    r = np.zeros_like(x)
    one = np.uint64(1)
    for i in range(64):
        r ^= basis[i] * ((x >> np.uint64(i)) & one)
    return r


#: images of the 64 unit vectors under one XORShift step (the map A)
_XS_BASIS = _xs_step(np.uint64(1) << np.arange(64, dtype=np.uint64))


def _xs_states(seed0: int, n: int) -> np.ndarray:
    """The first `n` XORShift states after state `seed0` (i.e. the
    values successive `next()` calls are derived from), via doubling:
    out[:m] known => out[m:2m] = A^m(out[:m]), squaring A^m each level.
    O(64 n) vector ops instead of an n-step Python loop."""
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out
    out[0] = _xs_step(np.uint64(seed0))
    m = 1
    basis = _XS_BASIS
    while m < n:
        k = min(m, n - m)
        out[m: m + k] = _gf2_apply(basis, out[:k])
        m2 = m * 2
        if m2 < n:
            basis = _gf2_apply(basis, basis)
        m = m2
    return out


def _bernoulli_keep_mask(seed: int, pid: int, n_rows: int, fraction: float) -> np.ndarray:
    """Boolean keep-mask for one partition of `df.sample(fraction,
    seed)`: java.util.Random.nextDouble consumes next(26) then next(27),
    BernoulliCellSampler keeps a row iff the double < fraction."""
    states = _xs_states(_xs_hash_seed(int(seed) + int(pid)), 2 * n_rows)
    hi = (states[0::2] & np.uint64((1 << 26) - 1)).astype(np.int64)
    lo = (states[1::2] & np.uint64((1 << 27) - 1)).astype(np.int64)
    x = ((hi << np.int64(27)) + lo).astype(np.float64) * (2.0 ** -53)
    return x < fraction


def _flatten(arrs) -> np.ndarray:
    return (
        np.concatenate([np.ravel(a) for a in arrs])
        if arrs
        else np.zeros(0, dtype=np.float64)
    )


@contextmanager
def _float_type(name: str):
    """Run a worker-side block under the driver's float_type (by dtype
    name), then restore the worker's own. Executors import config fresh
    (float64 default), and Spark reuses Python workers across jobs, so a
    job that set the type and kept it would make later jobs in the same
    worker compute in float32."""
    prev = settings.dtypes.float_type
    settings.dtypes.float_type = np.dtype(name).type
    try:
        yield
    finally:
        settings.dtypes.float_type = prev


class _Replica:
    """The model as one task holds it: unpickled once, with its
    ColumnData feeds and its Variables by long_name looked up once, so
    each Arrow batch pays only for binding and evaluation.

    Used by a distributed task for its partition, and by the driver-local
    replay for each partition across every step of a fit; `load` injects
    the step's global state."""

    def __init__(self, model_bytes: bytes, var_names):
        import pickle

        self.model = pickle.loads(model_bytes)
        self.columns = _collect_column_data(self.model)
        self.by_name = {v.long_name: v for v in self.model.get_variables()}
        self.vars = [self.by_name[name] for name in var_names]

    def load(self, state: dict, float_type) -> None:
        for name, arr in state.items():
            v = self.by_name[name]
            v._array = np.array(arr, dtype=float_type)
            v._pending = None
            v.finalize()

    def evaluate(self, pdf, seed, want_grad):
        """Feed one pandas batch into the model and evaluate
        local_objective: ``(loss, flat gradient or None)``."""
        model = self.model
        for cd in self.columns:
            cd.bind_batch(pdf)
        model.new_eval(seed=seed)
        with model.tf_mode():
            obj = model.local_objective()
        if not isinstance(obj, ad.Tensor):
            obj = ad.Tensor(obj)
        if obj.data.ndim > 0:
            obj = obj.sum()
        if not want_grad:
            return float(obj.data), None
        obj.backward()
        grads = []
        for v in self.vars:
            g = v._leaf.grad if v._leaf is not None else None
            grads.append(g if g is not None else np.zeros_like(v._array))
        return float(obj.data), _flatten(grads)


class SparkTrainer:
    """Distributed Adam over a DataFrame-backed objective.

    >>> class Reg(hb.Model):
    ...     def setUp(self):
    ...         self.x = ColumnData("x"); self.y = ColumnData("y")
    ...         self.ab = hb.Variable([2])
    ...     def local_objective(self):
    ...         pred = self.ab[0] + self.ab[1] * self.x
    ...         return hb.densities.gaussian(self.y, pred, 0.1)
    >>> SparkTrainer(Reg(), df).fit(maxiter=50)
    """

    def __init__(
        self,
        model: Model,
        df,
        collection=graph_key.VARIABLES,
        optimizer=None,
        cache: bool = True,
    ):
        import cloudpickle

        _register_by_value(type(model), cloudpickle)
        self.model = model
        self.model.initialize()
        self.df = df.persist() if cache else df
        self.optimizer = optimizer if optimizer is not None else Adam()
        self.vars = _trainable(model, collection)
        self.var_names = [v.long_name for v in self.vars]
        self.var_shapes = [v._array.shape for v in self.vars]
        self.var_sizes = [v._array.size for v in self.vars]
        self.spark = df.sparkSession
        # drives the adaptive treeAggregate depth (see _tree_depth);
        # minibatch samples inherit the parent's partitioning, so one
        # probe at construction covers every step
        self._nparts = self.df.rdd.getNumPartitions()
        sc = self.spark.sparkContext
        # structure is broadcast ONCE; per-step only the parameter state
        # dict travels (compile-once memoization, SURVEY §4 O11)
        model._spark = None  # defensive: never ship a session
        self._model_bytes_bc = sc.broadcast(cloudpickle.dumps(model))
        self.step_count = 0
        self.history: list[float] = []
        # driver-local replay state, set/cleared by fit() (see
        # LOCAL_ROWS_CAP): [(pid, bi, pandas frame), ...] or None
        self._local_batches = None
        # per-partition concatenated frames + Arrow chunk size, built
        # lazily by the first minibatch replay step (_sampled_batches)
        self._local_parts = None
        self._arrow_max_records = 10000
        # {pid: _Replica}, set/cleared with _local_batches
        self._replicas = None

    # -- internals --------------------------------------------------------
    def _state(self) -> dict:
        return {v.long_name: np.array(v._array) for v in self.vars}

    def _job(self, df, state, step, want_grad: bool):
        """One Spark job: per-batch (loss, n, grad) partials, summed
        in-cluster; returns a single ``(loss, n, grad-or-None)`` triple.

        The mapInPandas stage emits one small row per Arrow batch; a
        ``treeAggregate`` (depth 2) folds those rows executor-side so
        driver traffic is one |params| vector regardless of partition
        count — the flat ``collect()`` of partials would be ~8 GB/step at
        the 1000-executor x 1e6-param design point and trip
        spark.driver.maxResultSize.
        """
        model_bytes_bc = self._model_bytes_bc
        var_names = list(self.var_names)
        state_items = {k: np.array(v) for k, v in state.items()}
        # the driver's float_type travels with the job, so the float32
        # mode's Arrow/compute savings materialize cluster-side
        float_name = np.dtype(settings.dtypes.float_type).name

        def fn(iterator):
            import pandas as pd

            with _float_type(float_name):
                rep = _Replica(model_bytes_bc.value, var_names)
                rep.load(state_items, np.dtype(float_name).type)
                pid = TaskContext.get().partitionId() if TaskContext.get() else 0
                for bi, pdf in enumerate(iterator):
                    if len(pdf) == 0:
                        continue
                    seed = hash((int(step), int(pid), int(bi))) % (2**63)
                    loss, grad = rep.evaluate(pdf, seed, want_grad)
                    out = {"loss": [loss], "n": [len(pdf)]}
                    out["grad"] = [
                        (grad if grad is not None else np.zeros(0)).tolist()
                    ]
                    yield pd.DataFrame(out)

        schema = "loss double, n long, grad array<double>"
        partials = df.mapInPandas(fn, schema=schema)
        if not want_grad:
            row = partials.groupBy().agg(
                F.sum("loss").alias("loss"), F.sum("n").alias("n")
            ).collect()[0]
            n = int(row["n"] or 0)
            return float(row["loss"] or 0.0), n, None

        n_params = int(np.sum(self.var_sizes)) if self.var_sizes else 0
        zero = (0.0, 0, np.zeros(n_params, dtype=np.float64))

        if _tree_depth(self._nparts) == 1:
            # depth-1 regime (driver SFs: a handful of partitions, one
            # small partial row per Arrow batch): collect the partials
            # directly and fold on the driver in partition/batch order.
            # `partials.rdd.treeAggregate` at depth 1 shipped every
            # partial row back through a SECOND Python-worker evaluation
            # layer (the RDD seq/comb funcs) plus a javaToPython plan
            # conversion per step — pure per-step overhead when the
            # driver receives the same few rows either way (guide §4:
            # eliminate boundary crossings). Float sums regroup at the
            # batch level (~1 ulp), same class of reorder the tree
            # combine already allowed.
            loss, n, grad = zero
            for row in partials.collect():
                g = np.asarray(row["grad"], dtype=np.float64)
                grad[: g.size] += g
                loss += row["loss"]
                n += int(row["n"])
            return float(loss), int(n), grad

        def seq(acc, row):
            g = np.asarray(row["grad"], dtype=np.float64)
            gacc = acc[2]
            gacc[: g.size] += g  # zero is per-partition; in-place is safe
            return (acc[0] + row["loss"], acc[1] + int(row["n"]), gacc)

        def comb(a, b):
            gacc = b[2]
            gacc += a[2]
            return (a[0] + b[0], a[1] + b[1], gacc)

        loss, n, grad = partials.rdd.treeAggregate(
            zero, seq, comb, depth=_tree_depth(self._nparts)
        )
        return float(loss), int(n), grad

    def _fetch_local_batches(self):
        """ONE bounded job: materialize the exact (partitionId, batch
        index, pandas frame) triples the distributed ``mapInPandas``
        would iterate — same session Arrow batching, same partition
        layout, frames shipped back pickled so dtypes round-trip
        bit-exactly. Returns None (and fetches nothing but a count)
        when the frame is over LOCAL_ROWS_CAP / too many partitions —
        the distributed path is the design at scale; this is a bounded
        driver fast path like the PageRank union-find cap."""
        import os

        cap = int(os.environ.get("SPARK_GRAFT_TRAINER_LOCAL_CAP", LOCAL_ROWS_CAP))
        if cap <= 0 or self._nparts >= TREE_DEPTH_CUTOVER:
            return None
        # bounded existence probe: LIMIT cap+1 short-circuits the scan
        # once cap+1 rows are seen, so the over-cap path at scale (where
        # the answer is "stay distributed") never pays a full count job
        if self.df.limit(cap + 1).count() > cap:
            return None

        def grab(iterator):
            import pickle

            import pandas as pd

            pid = TaskContext.get().partitionId() if TaskContext.get() else 0
            for bi, pdf in enumerate(iterator):
                if len(pdf) == 0:
                    continue
                yield pd.DataFrame(
                    {"pid": [pid], "bi": [bi], "data": [pickle.dumps(pdf)]}
                )

        import pickle

        rows = self.df.mapInPandas(
            grab, schema="pid int, bi int, data binary"
        ).collect()
        return sorted(
            ((r["pid"], r["bi"], pickle.loads(bytes(r["data"]))) for r in rows),
            key=lambda t: (t[0], t[1]),
        )

    def _job_local(self, state, step, want_grad: bool, batches=None):
        """Driver-local replica of `_job` over the fetched batches: one
        `_Replica` per partition, unpickled at its first batch of the
        fit and kept for the fit's later steps (as a task keeps its model
        across its Arrow batches), the step's state injected into it, the
        same (step, pid, bi) seeds, partials folded in (pid, bi) order —
        the identical order the depth-1 collect fold uses — so every float
        matches the distributed job bit-for-bit (pytest-pinned). Reuse
        across steps relies on the objective contract in the module
        docstring. `batches` overrides the full fetched list (the
        minibatch replay passes the step's sampled chunks)."""
        float_type = np.dtype(settings.dtypes.float_type).type
        n_params = int(np.sum(self.var_sizes)) if self.var_sizes else 0
        loss, n = 0.0, 0
        grad = np.zeros(n_params, dtype=np.float64) if want_grad else None
        rep, cur_pid = None, None
        for pid, bi, pdf in (self._local_batches if batches is None else batches):
            if pid != cur_pid:
                rep = self._replicas.get(pid)
                if rep is None:
                    rep = self._replicas[pid] = _Replica(
                        self._model_bytes_bc.value, self.var_names
                    )
                rep.load(state, float_type)
                cur_pid = pid
            seed = hash((int(step), int(pid), int(bi))) % (2**63)
            bloss, bgrad = rep.evaluate(pdf, seed, want_grad)
            if want_grad:
                g = bgrad if bgrad is not None else np.zeros(0)
                grad[: g.size] += g
            loss += bloss
            n += len(pdf)
        return float(loss), int(n), grad

    def _unflatten(self, flat: np.ndarray):
        out, off = [], 0
        for shape, size in zip(self.var_shapes, self.var_sizes):
            out.append(flat[off: off + size].reshape(shape))
            off += size
        return out

    def _global_terms(self, want_grad: bool):
        model = self.model
        if not hasattr(model, "global_objective"):
            return 0.0, None
        model.new_eval(seed=self.step_count)
        with model.tf_mode():
            gobj = model.global_objective()
        if not isinstance(gobj, ad.Tensor):
            return float(gobj), None
        if gobj.data.ndim > 0:
            gobj = gobj.sum()
        if not want_grad:
            return float(gobj.data), None
        gobj.backward()
        grads = []
        for v in self.vars:
            g = v._leaf.grad if v._leaf is not None and v._leaf.grad is not None else None
            grads.append(g if g is not None else np.zeros_like(v._array))
        return float(gobj.data), _flatten(grads)

    def _minibatch(self, fraction, step):
        if fraction is None or fraction >= 1.0:
            return self.df, 1.0
        return self.df.sample(fraction=fraction, seed=step), 1.0 / fraction

    def _sampled_batches(self, fraction, step):
        """The (pid, bi, frame) chunks the distributed minibatch job
        would see at this step, rebuilt locally: the bit-exact
        `df.sample` keep-mask per partition (`_bernoulli_keep_mask`)
        over the fetched partition rows, re-chunked at the session's
        Arrow maxRecordsPerBatch exactly as the JVM would batch the
        SAMPLED rows into the mapInPandas stream."""
        if self._local_parts is None:
            import pandas as pd

            parts: dict = {}
            for pid, _bi, pdf in self._local_batches:
                parts.setdefault(pid, []).append(pdf)
            self._local_parts = [
                (pid, frames[0] if len(frames) == 1
                 else pd.concat(frames, ignore_index=True))
                for pid, frames in sorted(parts.items())
            ]
            self._arrow_max_records = int(
                self.spark.conf.get(
                    "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"
                )
            )
        out = []
        cap = self._arrow_max_records
        for pid, pdf in self._local_parts:
            keep = _bernoulli_keep_mask(step, pid, len(pdf), fraction)
            idx = np.flatnonzero(keep)
            if idx.size == 0:
                continue
            sampled = pdf.iloc[idx].reset_index(drop=True)
            step_rows = len(sampled) if cap <= 0 else cap
            for bi in range(0, (len(sampled) + step_rows - 1) // step_rows):
                out.append(
                    (pid, bi, sampled.iloc[bi * step_rows: (bi + 1) * step_rows])
                )
        return out

    # -- public -----------------------------------------------------------
    def evaluate(self, minibatch_fraction=None) -> float:
        """Objective value (local sums + global terms) — `Optimizer.run`."""
        df, scale = self._minibatch(minibatch_fraction, self.step_count)
        local, _, _ = self._job(df, self._state(), self.step_count, want_grad=False)
        g, _ = self._global_terms(want_grad=False)
        return float(local * scale + g)

    def step(self, minibatch_fraction=None) -> float:
        """One distributed gradient step; returns the objective value."""
        self.step_count += 1
        if self._local_batches is not None and (
            minibatch_fraction is None or minibatch_fraction >= 1.0
        ):
            loss, n, total = self._job_local(
                self._state(), self.step_count, want_grad=True
            )
            scale = 1.0
        elif self._local_batches is not None:
            # minibatch replay: same sampled rows (bit-exact RNG
            # replica), same chunking, same seeds and fold order as the
            # distributed sampled job — pytest-pinned parity
            loss, n, total = self._job_local(
                self._state(),
                self.step_count,
                want_grad=True,
                batches=self._sampled_batches(minibatch_fraction, self.step_count),
            )
            scale = 1.0 / minibatch_fraction
        else:
            df, scale = self._minibatch(minibatch_fraction, self.step_count)
            loss, n, total = self._job(
                df, self._state(), self.step_count, want_grad=True
            )
        if n == 0:
            raise ValueError("empty minibatch: raise minibatch_fraction")
        loss *= scale
        total = total * scale
        gval, ggrad = self._global_terms(want_grad=True)
        loss += gval
        if ggrad is not None:
            total += ggrad
        updates = {}
        for v, g in zip(self.vars, self._unflatten(total)):
            updates[v.long_name] = (v._array, g)
        self.optimizer.step(updates)
        self.history.append(loss)
        return loss

    def fit(self, maxiter=100, minibatch_fraction=None, callback=None):
        # multi-step fits localize under the cap: the fetch costs ~2
        # jobs and saves one per step. Minibatch fits replay
        # `df.sample` with a bit-exact XORShiftRandom replica
        # (`_bernoulli_keep_mask`, pytest-pinned parity);
        # SPARK_GRAFT_TRAINER_LOCAL_MINIBATCH=0 pins sampling to the
        # cluster as a safety valve.
        import os

        minibatch = (
            minibatch_fraction is not None and minibatch_fraction < 1.0
        )
        localize = maxiter >= 4 and not (
            minibatch
            and os.environ.get("SPARK_GRAFT_TRAINER_LOCAL_MINIBATCH", "1") == "0"
        )
        if localize and self._local_batches is None:
            self._local_batches = self._fetch_local_batches()
            self._replicas = {}
        try:
            for it in range(maxiter):
                loss = self.step(minibatch_fraction)
                if callback is not None:
                    callback(it, loss)
        finally:
            if localize:
                self._local_batches = None
                self._local_parts = None
                self._replicas = None
        return self


def predict(model: Model, df, method_name: str, output_schema: str):
    """Distributed inference: run a model method per Arrow batch, emitting
    output columns. The method reads ColumnData feeds and returns a dict
    {column_name: 1-d/2-d array} or a single Tensor/array.

    This is the engine's amortized-inference path (encoder -> LOCAL
    params -> posterior summaries), embarrassingly parallel over rows.
    """
    import cloudpickle

    _register_by_value(type(model), cloudpickle)
    model.initialize()
    model_bytes = cloudpickle.dumps(model)
    float_name = np.dtype(settings.dtypes.float_type).name

    def fn(iterator):
        import pickle

        import pandas as pd

        with _float_type(float_name):
            m = pickle.loads(model_bytes)
            columns = _collect_column_data(m)
            pid = TaskContext.get().partitionId() if TaskContext.get() else 0
            for bi, pdf in enumerate(iterator):
                if len(pdf) == 0:
                    continue
                for cd in columns:
                    cd.bind_batch(pdf)
                m.new_eval(seed=hash((int(pid), int(bi))) % (2**63))
                with m.tf_mode():
                    out = getattr(m, method_name)()
                if isinstance(out, ad.Tensor):
                    out = {"value": out.data}
                elif isinstance(out, np.ndarray):
                    out = {"value": out}
                cols = {}
                for k, v in out.items():
                    v = v.data if isinstance(v, ad.Tensor) else np.asarray(v)
                    cols[k] = list(v) if v.ndim > 1 else v
                yield pd.DataFrame(cols)

    return df.mapInPandas(fn, schema=output_schema)
