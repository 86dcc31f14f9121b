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
model, and it reads data and parameter values only through
`henbun_spark.autodiff` ops: the driver-local replay runs it eagerly
once per (batch row count, float type) on each partition's model and
replays it from that trace after (`_Replica`), so a value taken from
``.data`` in plain numpy, or a Python branch on one, would keep the
traced batch's value. This is enforced: the first replay of every trace
is also evaluated eagerly and a result that differs in any bit raises a
RuntimeError naming the model class. A distributed task evaluates each
batch eagerly and replays nothing.

Driver-local replay (under LOCAL_ROWS_CAP and the byte budget): a
multi-step fit fetches the frame's (partition, Arrow batch) pandas frames
in ONE job (`local_replay.fetch_batches`, no LIMIT probe) and holds
them until `df` is assigned (see `SparkTrainer`). Each task sends at
most its 1/P share of the row cap and of `REPLAY_BUDGET_BYTES`; a task
past its share sends a marker instead and the fit stays distributed, so
a skewed frame under both totals trains distributed (same result,
slower). Every replayed step and `evaluate` then runs on the driver with
no Spark job: one `_Replica` per partition, unpickled at its first
batch, gets the step's global state injected and evaluates that
partition's batches with the distributed job's seeds and fold order, so
training history and objective values are bit-identical. The partition
count P (and so the tree depth) is read once per frame.

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
from functools import lru_cache

import numpy as np

from henbun_spark import autodiff as ad
from henbun_spark.config import settings
from henbun_spark.local_replay import fetch_batches
from henbun_spark.model import Adam, Model
from henbun_spark.param import Data, graph_key

try:
    from pyspark import TaskContext
    from pyspark.sql import DataFrame
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


#: row cap of the DRIVER-LOCAL replay (r12, guide §1.2 "the distributed
#: algorithm" / §5 driver): a full-batch training loop is maxiter
#: sequential Spark jobs whose per-job scheduling + Python-boundary
#: round-trip (~0.1-0.3s each) dwarfs the per-step numpy work on the
#: driver test frames. `fit()` fetches the exact (partition, Arrow-batch)
#: pandas frames the distributed mapInPandas would see in ONE job
#: (`local_replay.fetch_batches`), bounded twice: each of the P tasks
#: sends at most LOCAL_ROWS_CAP // P rows and REPLAY_BUDGET_BYTES // P
#: pickled bytes, else a marker that keeps the fit distributed. The
#: per-task share trades skew for the single job: a frame under both
#: totals whose largest partition is over its share trains distributed,
#: bit-identically, only slower. Every replayed step runs through one
#: `_Replica` per partition with the same state injection, the same
#: (step, pid, bi) seeds, and the same partial-fold order — so the Adam
#: trajectory is REPLICATED BIT-FOR-BIT (pytest-pinned). Past
#: TREE_DEPTH_CUTOVER partitions no fetch runs: the distributed loop is
#: the 100 TB design. `fit` and `clustering.kmeans_fit` read this cap
#: at call time; 0 disables the replay (tests set it for the twin).
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


def _xs_table(basis: np.ndarray) -> np.ndarray:
    """8 x 256 byte table of the GF(2)-linear map whose images of the 64
    unit vectors are `basis`: row j, column b is the image of b << 8j."""
    tab = np.zeros((8, 256), dtype=np.uint64)
    for j in range(8):
        for i in range(8):
            tab[j, 1 << i: 2 << i] = tab[j, : 1 << i] ^ basis[8 * j + i]
    return tab


def _xs_apply(tab: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Apply the map of byte table `tab` to every element of `x`: one
    gather and XOR per byte."""
    b = x.astype("<u8", copy=False).view(np.uint8).reshape(-1, 8)
    r = tab[0, b[:, 0]]
    for j in range(1, 8):
        r ^= tab[j, b[:, j]]
    return r


_XS_UNITS = np.uint64(1) << np.arange(64, dtype=np.uint64)


@lru_cache(maxsize=None)
def _xs_level(k: int) -> np.ndarray:
    """Byte table of A^(2^k), A being one XORShift step. Built on first
    use, one level at a time: an eager build of every level would add
    to the import time of each forked Python worker."""
    if k == 0:
        return _xs_table(_xs_step(_XS_UNITS))
    prev = _xs_level(k - 1)
    return _xs_table(_xs_apply(prev, _xs_apply(prev, _XS_UNITS)))


def _xs_states(seed0: int, n: int) -> np.ndarray:
    """The first `n` XORShift states after state `seed0` (i.e. the
    values successive `next()` calls are derived from), via doubling:
    out[:m] known => out[m:2m] = A^m(out[:m]) with m = 2^k, through the
    cached byte table of A^(2^k). O(8 n) gathers instead of an n-step
    Python loop."""
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out
    out[0] = _xs_step(np.uint64(seed0))
    m, level = 1, 0
    while m < n:
        k = min(m, n - m)
        out[m: m + k] = _xs_apply(_xs_level(level), out[:k])
        m, level = 2 * m, level + 1
    return out


#: Spark ``major.minor`` versions whose ``df.sample`` stream
#: `_bernoulli_keep_mask` was checked against, row for row
#: (``test_sample_mask_matches_jvm``). Under any other version a minibatch
#: fit samples on the cluster: the same result, one job per step.
SAMPLER_VERIFIED_SPARK = ("4.1",)


def _sampler_verified(version: str) -> bool:
    return ".".join(version.split(".")[:2]) in SAMPLER_VERIFIED_SPARK


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


class _Traced:
    """One trace of a replica's objective: its `autodiff.Tape`, the
    leaves of the trainable Variables in gradient order, the bytes the
    tape holds once kept, and how far a replay was checked against an
    eager evaluation (0 not yet, 1 the loss, 2 loss and gradient)."""

    __slots__ = ("tape", "grad_leaves", "nbytes", "checked")

    def __init__(self, tape, grad_leaves):
        self.tape, self.grad_leaves = tape, grad_leaves
        self.nbytes = self.checked = 0


#: traces a `_Replica` keeps: one for its partition's full Arrow batches
#: and one for the shorter last batch; a trace at a new key drops the
#: least recently used one, so a minibatch step's changing last-batch
#: row count never evicts the full batches' trace
MAX_TRACES = 2

#: bytes of node data and gradients the driver-local replay's tapes may
#: hold between steps, over all partitions of a fit (each replica keeps
#: a 1/P share). A tape holds its whole graph from one step to the next,
#: where an eager evaluation frees it, so without this bound a fit near
#: LOCAL_ROWS_CAP would hold two batches' graphs for every partition. A
#: trace over the share is not kept: its batches trace again each step.
TAPE_BUDGET_BYTES = 64 << 20


class _Replica:
    """The model as one task holds it: unpickled once, with its
    ColumnData feeds and its Variables by long_name looked up once, so
    each Arrow batch pays only for binding and evaluation.

    Used by a distributed task for its partition, and by the driver-local
    replay for each partition across every step of a fit; `load` injects
    the step's global state.

    An evaluation at a (batch row count, float type) key with no kept
    tape runs local_objective eagerly under `autodiff.record`. The
    driver-local replay keeps that graph as a tape, within MAX_TRACES
    and `keep_bytes`; every later evaluation at the key replays it: the
    step's seed re-seeds the sample stream, the leaves re-read the
    Variables' arrays and the bound batch, and the stored forward and
    backward rules run in the stored order, bit-identical to an eager
    evaluation. The first replay of each tape is also evaluated eagerly
    and must match bit for bit (the objective contract in the module
    docstring). A distributed task's replica lives for one step and keeps
    no tape (`keep_bytes=0`): there a tape would be replayed only by the
    task's other batches of the same row count, each first replay behind
    an extra eager check."""

    def __init__(self, model_bytes: bytes, var_names, keep_bytes: int):
        import pickle

        self.model = pickle.loads(model_bytes)
        self.columns = _collect_column_data(self.model)
        self.by_name = {v.long_name: v for v in self.model.get_variables()}
        self.vars = [self.by_name[name] for name in var_names]
        self.keep_bytes = keep_bytes
        self.traces = {}  # {(rows, float type): _Traced}, least recent first

    def load(self, state: dict, float_type) -> None:
        for name, arr in state.items():
            v = self.by_name[name]
            v._array = np.array(arr, dtype=float_type)
            v._pending = None
            v.finalize()

    def evaluate(self, pdf, seed, want_grad):
        """Feed one pandas batch into the model and evaluate
        local_objective: ``(loss, flat gradient or None)``."""
        for cd in self.columns:
            cd.bind_batch(pdf)
        key = (len(pdf), settings.dtypes.float_type)
        traced = self.traces.pop(key, None)
        if traced is None:
            traced = self._trace(seed, want_grad)
            self._keep(key, traced)
            return self._read(traced, want_grad)
        self.traces[key] = traced  # now the most recently used
        self.model.reseed(seed)
        traced.tape.replay(want_grad)
        out = self._read(traced, want_grad)
        need = 2 if want_grad else 1
        if traced.checked < need:
            eager = self._read(self._trace(seed, want_grad), want_grad)
            if _bits(*eager) != _bits(*out):
                raise RuntimeError(
                    f"{type(self.model).__name__}.local_objective replayed "
                    f"from its trace differs from an eager evaluation on a "
                    f"batch of {len(pdf)} rows: it reads a data or parameter "
                    f"value outside autodiff ops (e.g. a Tensor built from "
                    f"`.data`), which a replay cannot follow"
                )
            traced.checked = need
        return out

    def _keep(self, key, traced: _Traced) -> None:
        """Keep a new trace if it fits `keep_bytes` next to the traces
        that stay; at MAX_TRACES the least recently used one goes."""
        if not self.keep_bytes:
            return
        traced.nbytes = traced.tape.nbytes()
        stay = list(self.traces.values())[max(0, len(self.traces) + 1 - MAX_TRACES):]
        if sum(t.nbytes for t in stay) + traced.nbytes > self.keep_bytes:
            return
        while len(self.traces) >= MAX_TRACES:
            del self.traces[next(iter(self.traces))]
        self.traces[key] = traced

    def _trace(self, seed, want_grad) -> _Traced:
        """Evaluate local_objective eagerly, recording its tape."""
        model = self.model
        with ad.record() as nodes:
            model.new_eval(seed=seed)
            with model.tf_mode():
                obj = model.local_objective()
            if not isinstance(obj, ad.Tensor):
                obj = ad.Tensor(obj)
            if obj.data.ndim > 0:
                obj = obj.sum()
        tape = ad.Tape(nodes, obj)
        if want_grad:
            tape.backward()
        return _Traced(tape, [v._leaf for v in self.vars])

    def _read(self, traced: _Traced, want_grad):
        loss = float(traced.tape.out.data)
        if not want_grad:
            return loss, None
        grads = []
        for v, t in zip(self.vars, traced.grad_leaves):
            g = t.grad if t is not None else None
            grads.append(g if g is not None else np.zeros_like(v._array))
        return loss, _flatten(grads)


def _bits(loss: float, grad) -> bytes:
    return np.float64(loss).tobytes() + (b"" if grad is None else grad.tobytes())


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

    The replay (LOCAL_ROWS_CAP) lives while the trainer holds its frame:
    its batches (REPLAY_BUDGET_BYTES pickled at most) and one `_Replica`
    per partition with its tapes (TAPE_BUDGET_BYTES). Assigning `df`,
    even ``tr.df = tr.df``, or changing the session's Arrow
    maxRecordsPerBatch releases them. With ``cache=False`` a later fit
    replays the rows the first replayed fit read until `df` is assigned.
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
        self.df = df.persist() if cache else df  # holds no replay yet
        self.optimizer = optimizer if optimizer is not None else Adam()
        self.vars = _trainable(model, collection)
        self.var_names = [v.long_name for v in self.vars]
        self.var_shapes = [v._array.shape for v in self.vars]
        self.var_sizes = [v._array.size for v in self.vars]
        self.spark = df.sparkSession
        sc = self.spark.sparkContext
        # structure is broadcast ONCE; per-step only the parameter state
        # dict travels (compile-once memoization, SURVEY §4 O11)
        model._spark = None  # defensive: never ship a session
        self._model_bytes_bc = sc.broadcast(cloudpickle.dumps(model))
        self.step_count = 0
        self.history: list[float] = []

    @property
    def df(self):
        """The frame the trainer fits."""
        return self._df

    @df.setter
    def df(self, frame):
        # any assignment releases what is held for the frame: the replay
        # ([(pid, bi, pandas frame), ...] from fit(), _sampled_batches'
        # per-partition frames, {pid: _Replica}), whether fit() fetched
        # it (a frame over the budget fetches None, once), the Arrow batch
        # rows of the last fit or evaluate, and the partition count (_job)
        self._df = frame
        self._local_batches = self._local_parts = self._replicas = None
        self._fetched = False
        self._arrow_max_records = self._nparts = None

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
                rep = _Replica(model_bytes_bc.value, var_names, keep_bytes=0)
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
        n_params = int(np.sum(self.var_sizes)) if want_grad and self.var_sizes else 0
        zero = (0.0, 0, np.zeros(n_params, dtype=np.float64))
        if self._nparts is None:  # `df` is self.df or a sample of it
            from henbun_spark.operators._parallel import _plan_partitions

            self._nparts = _plan_partitions(self.df)
        depth = _tree_depth(self._nparts)

        if depth == 1:
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
            # combine already allowed. `evaluate` takes this path too:
            # one stage, where a groupBy sum planned a shuffle and a
            # second stage to add a few rows.
            loss, n, grad = zero
            for row in partials.collect():
                g = np.asarray(row["grad"], dtype=np.float64)
                grad[: g.size] += g
                loss += row["loss"]
                n += int(row["n"])
            return float(loss), int(n), grad if want_grad else None

        def seq(acc, row):
            g = np.asarray(row["grad"], dtype=np.float64)
            gacc = acc[2]
            gacc[: g.size] += g  # zero is per-partition; in-place is safe
            return (acc[0] + row["loss"], acc[1] + int(row["n"]), gacc)

        def comb(a, b):
            gacc = b[2]
            gacc += a[2]
            return (a[0] + b[0], a[1] + b[1], gacc)

        loss, n, grad = partials.rdd.treeAggregate(zero, seq, comb, depth=depth)
        return float(loss), int(n), grad if want_grad else None

    def _fetch_local_batches(self):
        """The frame's (partitionId, batch index, pandas frame) triples,
        exactly as the distributed ``mapInPandas`` would iterate them, in
        one bounded job; None when the frame is over its budget or has
        too many partitions (`local_replay.fetch_batches`)."""
        return fetch_batches(self.df, lambda pdf: pdf, LOCAL_ROWS_CAP)

    def _release_if_rebatched(self) -> None:
        """Release the held replay if the session's Arrow batch rows
        moved since the last fit or evaluate: the distributed job would
        now cut the frame into other batches, with other seeds."""
        rows = int(self.spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"
        ))
        if rows != self._arrow_max_records:
            self.df, self._arrow_max_records = self.df, rows

    def _job_local(self, state, step, want_grad: bool, batches):
        """Driver-local replica of `_job` over `batches` (the held list,
        or a minibatch step's sampled chunks): one `_Replica` per
        partition, unpickled at its first batch and kept while the
        trainer holds its frame (as a task keeps its model across its
        Arrow batches), the step's state injected into it, the same
        (step, pid, bi) seeds, partials folded in (pid, bi) order — the
        identical order the depth-1 collect fold uses — so every float
        matches the distributed job bit-for-bit (pytest-pinned). Each
        replica keeps its traces across steps and fits within its 1/P
        share of TAPE_BUDGET_BYTES, so a full-batch step replays every
        partition's objective (the enforced contract in the module
        docstring). The replay holds REPLAY_BUDGET_BYTES of batches plus
        TAPE_BUDGET_BYTES of tapes at most."""
        float_type = np.dtype(settings.dtypes.float_type).type
        n_params = int(np.sum(self.var_sizes)) if self.var_sizes else 0
        loss, n = 0.0, 0
        grad = np.zeros(n_params, dtype=np.float64) if want_grad else None
        rep, cur_pid = None, None
        for pid, bi, pdf in batches:
            if pid != cur_pid:
                rep = self._replicas.get(pid)
                if rep is None:
                    nparts = len({p for p, _, _ in self._local_batches})
                    rep = self._replicas[pid] = _Replica(
                        self._model_bytes_bc.value,
                        self.var_names,
                        keep_bytes=TAPE_BUDGET_BYTES // nparts,
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

    def _replays(self, fraction) -> bool:
        """Whether a step at `fraction` may replay held batches: a sample
        only under SAMPLER_VERIFIED_SPARK, else it runs on the cluster."""
        return (fraction is None or fraction >= 1.0
                or _sampler_verified(self.spark.version))

    def _partials(self, fraction, step, want_grad: bool):
        """``(loss, n, grad-or-None, scale)`` of the rows a step at
        `fraction` sees, `scale` taking the sums to the whole frame; the
        one selector of steps and `evaluate`. Held batches replay the full
        batch or, under `_replays`, the step's bit-exact `df.sample`
        (`_sampled_batches`); otherwise one `_job` runs."""
        full = fraction is None or fraction >= 1.0
        scale = 1.0 if full else 1.0 / fraction
        state = self._state()
        if self._local_batches is not None and self._replays(fraction):
            batches = (self._local_batches if full
                       else self._sampled_batches(fraction, step))
            return (*self._job_local(state, step, want_grad, batches), scale)
        df = self.df if full else self.df.sample(fraction=fraction, seed=step)
        return (*self._job(df, state, step, want_grad), scale)

    def _sampled_batches(self, fraction, step):
        """The (pid, bi, frame) chunks the distributed minibatch job
        would see at this step, rebuilt locally: the bit-exact
        `df.sample` keep-mask per partition (`_bernoulli_keep_mask`)
        over the fetched partition rows, re-chunked at the Arrow
        maxRecordsPerBatch of the fetch exactly as the JVM would batch
        the SAMPLED rows into the mapInPandas stream."""
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
        """Objective value (local sums + global terms) — `Optimizer.run`;
        replayed on held batches as a step would be (`_partials`)."""
        self._release_if_rebatched()
        local, _, _, scale = self._partials(
            minibatch_fraction, self.step_count, want_grad=False
        )
        g, _ = self._global_terms(want_grad=False)
        return float(local * scale + g)

    def step(self, minibatch_fraction=None) -> float:
        """One gradient step; returns the objective value."""
        self.step_count += 1
        loss, n, total, scale = self._partials(
            minibatch_fraction, self.step_count, want_grad=True
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
        # a multi-step fit with no batches held fetches them under the
        # cap (one job, saving one per step) if its steps can replay
        # them (`_replays`); they stay held after it returns, and a frame
        # over the budget is not fetched again until `df` is assigned
        self._release_if_rebatched()
        if (maxiter >= 4 and not self._fetched
                and self._replays(minibatch_fraction)):
            self._local_batches = self._fetch_local_batches()
            self._fetched, self._replicas = True, {}
        for it in range(maxiter):
            loss = self.step(minibatch_fraction)
            if callback is not None:
                callback(it, loss)
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
