"""M2 end-to-end: the distributed training lifecycle (SURVEY §3.3) —
probabilistic linear regression via mapInPandas partial gradients +
driver Adam, on a Spark DataFrame. Mirrors the reference's
`Henbun_structure.ipynb` cell 23 workflow and checks Spark-vs-driver
gradient parity.
"""

import importlib
import sys
import zipfile
import zipimport
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pytest

import henbun_spark as hb
from henbun_spark import autodiff as ad
from henbun_spark import spark_exec, variationals
from henbun_spark.model import Adam
from henbun_spark.param import graph_key
from henbun_spark.spark_exec import ColumnData, SparkTrainer, predict

A_TRUE, B_TRUE, NOISE = 0.4, 0.5, 0.1


def make_df(spark, n=400, parts=4):
    rng = np.random.default_rng(0)
    x = rng.uniform(-1, 1, n)
    y = A_TRUE + B_TRUE * x + NOISE * rng.standard_normal(n)
    return (
        spark.createDataFrame(pd.DataFrame({"x": x, "y": y})).repartition(parts),
        x,
        y,
    )


class LinReg(hb.Model):
    """logp = sum gaussian(y, a + b*x, softplus(s)^2)."""

    def setUp(self):
        self.x = ColumnData("x")
        self.y = ColumnData("y")
        self.coef = hb.Variable([2], mean=0.0, stddev=0.1)
        self.s = hb.Variable([1], transform=hb.transforms.positive())

    def local_objective(self):
        pred = self.coef[0] + self.coef[1] * self.x
        return ad.sum(hb.densities.gaussian(self.y, pred, ad.square(self.s)))

    def global_objective(self):
        # weak N(0,1) priors on the coefficients (dataset-level term)
        return hb.priors.Normal().logp(self.coef)


def test_distributed_linreg_converges(spark):
    df, x, y = make_df(spark)
    m = LinReg()
    tr = SparkTrainer(m, df, optimizer=Adam(learning_rate=0.05))
    first = tr.evaluate()
    tr.fit(maxiter=45)
    last = tr.evaluate()
    assert last > first
    a, b = m.coef.value
    assert abs(a - A_TRUE) < 0.2
    assert abs(b - B_TRUE) < 0.25


def test_spark_gradient_matches_driver(spark):
    """In-cluster treeAggregate of partial gradients across partitions ==
    single-process gradient on the same rows (linearity of the
    decomposition). The driver receives ONE (loss, n, grad) triple."""
    df, x, y = make_df(spark, n=200, parts=8)
    m = LinReg()
    tr = SparkTrainer(m, df)

    spark_loss, n, spark_grad = tr._job(
        tr.df, tr._state(), step=0, want_grad=True
    )
    assert n == 200
    assert spark_grad.shape == (3,)

    # driver-side reference on identical data
    m2 = LinReg()
    for name, arr in tr._state().items():
        v = {vv.long_name: vv for vv in m2.get_variables()}[name]
        v._array = np.array(arr)
        v._pending = None
        v.finalize()
    m2.x.assign(x)
    m2.y.assign(y)
    m2.new_eval(seed=0)
    with m2.tf_mode():
        obj = m2.local_objective()
    obj.backward()
    ref_grad = np.concatenate(
        [m2.coef._leaf.grad.ravel(), m2.s._leaf.grad.ravel()]
    )
    np.testing.assert_allclose(spark_loss, float(obj.data), rtol=1e-6)
    np.testing.assert_allclose(spark_grad, ref_grad, rtol=1e-5, atol=1e-7)


def test_minibatch_step_runs(spark):
    df, _, _ = make_df(spark)
    m = LinReg()
    tr = SparkTrainer(m, df, optimizer=Adam(learning_rate=0.05))
    loss = tr.step(minibatch_fraction=0.25)
    assert np.isfinite(loss)
    assert tr.step_count == 1


class AmortizedVI(hb.Model):
    """Encoder -> LOCAL variational: the full global/local split
    (README.md:14-21) running distributed."""

    def setUp(self):
        self.xy = ColumnData(["x", "y"])
        self.enc = hb.nn.NeuralNet([2, 8, 2], neuron_types="relu", stddev=0.3)
        self.z = variationals.Normal([1], collections=graph_key.LOCAL)
        self.dec = hb.Variable([1], mean=0.0, stddev=0.1)

    def local_objective(self):
        self.z = self.enc(self.xy)  # feeds q_mu, q_sqrt
        z = self.z
        y = self.xy[:, 1]
        lik = hb.densities.gaussian(y, z.reshape((-1,)) + self.dec, 0.1)
        return ad.sum(lik) - self.KL(graph_key.LOCAL)


def test_amortized_local_variational_trains(spark):
    df, _, _ = make_df(spark, n=300)
    m = AmortizedVI()
    tr = SparkTrainer(m, df, optimizer=Adam(learning_rate=0.02))
    first = tr.evaluate()
    tr.fit(maxiter=20)
    assert tr.evaluate() > first


@pytest.mark.parametrize("model_cls,lr", [(LinReg, 0.05), (AmortizedVI, 0.02)])
def test_local_replay_bitwise_equals_distributed(spark, monkeypatch, model_cls, lr):
    """fit()'s driver-local replay under LOCAL_ROWS_CAP must REPLICATE
    the distributed loop bit-for-bit: same Arrow batch frames, same
    per-partition model state injection, same (step, pid, bi)
    seeds (AmortizedVI pins the MC-sampling path), same partial-fold
    order. Exact float equality on every history entry and every
    trained parameter — not allclose."""
    df, _, _ = make_df(spark)
    m1 = model_cls()
    tr1 = SparkTrainer(m1, df, optimizer=Adam(learning_rate=lr))
    init = tr1._state()

    cap = spark_exec.LOCAL_ROWS_CAP
    monkeypatch.setattr(spark_exec, "LOCAL_ROWS_CAP", 0)  # distributed
    tr1.fit(maxiter=6)

    m2 = model_cls()
    tr2 = SparkTrainer(m2, df, optimizer=Adam(learning_rate=lr))
    for v in tr2.vars:
        v._array = np.array(init[v.long_name])
        v._pending = None
        v.finalize()
    monkeypatch.setattr(spark_exec, "LOCAL_ROWS_CAP", cap)  # local replay
    calls = []
    orig_job = tr2._job

    def spy(*a, **k):
        calls.append(1)
        return orig_job(*a, **k)

    tr2._job = spy
    tr2.fit(maxiter=6)
    assert not calls, "local replay did not engage"
    assert tr1.history == tr2.history  # bitwise, every step
    for v1, v2 in zip(tr1.vars, tr2.vars):
        assert np.array_equal(np.asarray(v1._array), np.asarray(v2._array))


@pytest.mark.parametrize("seed,fraction", [(1, 0.2), (7, 0.2), (40, 0.5), (3, 0.07)])
def test_sample_mask_matches_jvm(spark, seed, fraction):
    """`_bernoulli_keep_mask` must reproduce `df.sample(fraction, seed)`
    EXACTLY (same XORShiftRandom stream per partition): compare the
    sampled id sequence per partition against the mask applied to the
    partition's rows in scan order."""
    from pyspark.sql import functions as F

    from henbun_spark.spark_exec import _bernoulli_keep_mask

    df = spark.range(0, 5003, 1, 7)
    full = df.select(
        F.spark_partition_id().alias("pid"), F.col("id")
    ).collect()
    by_pid: dict = {}
    for r in full:
        by_pid.setdefault(r["pid"], []).append(r["id"])
    sampled = df.sample(fraction=fraction, seed=seed).select(
        F.spark_partition_id().alias("pid"), F.col("id")
    ).collect()
    got: dict = {}
    for r in sampled:
        got.setdefault(r["pid"], []).append(r["id"])
    for pid, ids in by_pid.items():
        keep = _bernoulli_keep_mask(seed, pid, len(ids), fraction)
        want = [i for i, k in zip(ids, keep) if k]
        assert got.get(pid, []) == want, f"partition {pid} diverged"


def test_sampler_replica_verified_for_running_spark(spark):
    """The running Spark's major.minor is one the sampler replica was
    verified against. A version bump fails here until
    `test_sample_mask_matches_jvm` is rerun on it and the version is
    added to SAMPLER_VERIFIED_SPARK."""
    from henbun_spark.spark_exec import SAMPLER_VERIFIED_SPARK, _sampler_verified

    assert _sampler_verified(spark.version), (
        f"Spark {spark.version} not in {SAMPLER_VERIFIED_SPARK}"
    )


def test_unverified_spark_samples_minibatch_on_cluster(spark, monkeypatch):
    """Under a Spark version outside SAMPLER_VERIFIED_SPARK a minibatch
    fit never replays the sampler: every step is a distributed job."""
    monkeypatch.setattr(spark_exec, "SAMPLER_VERIFIED_SPARK", ("3.5",))
    df, _, _ = make_df(spark)
    tr = SparkTrainer(LinReg(), df, optimizer=Adam(learning_rate=0.05))
    sampled, jobs = [], []
    orig_sample, orig_job = tr._sampled_batches, tr._job

    def spy_sample(*a, **k):
        sampled.append(1)
        return orig_sample(*a, **k)

    def spy_job(*a, **k):
        jobs.append(1)
        return orig_job(*a, **k)

    tr._sampled_batches, tr._job = spy_sample, spy_job
    tr.fit(maxiter=4, minibatch_fraction=0.5)
    assert not sampled, "minibatch fit replayed on an unverified Spark"
    assert len(jobs) == 4
    assert len(tr.history) == 4 and np.all(np.isfinite(tr.history))


def test_unverified_spark_minibatch_after_full_fit_samples_on_cluster(
    spark, monkeypatch
):
    """A full-batch fit leaves its batches held; a minibatch fit after it
    on a Spark version outside SAMPLER_VERIFIED_SPARK must still sample
    on the cluster, not replay `df.sample` from the held batches."""
    monkeypatch.setattr(spark_exec, "SAMPLER_VERIFIED_SPARK", ("3.5",))
    df, _, _ = make_df(spark)
    tr = SparkTrainer(LinReg(), df, optimizer=Adam(learning_rate=0.05))
    sampled, jobs = [], []
    orig_sample, orig_job = tr._sampled_batches, tr._job

    def spy_sample(*a, **k):
        sampled.append(1)
        return orig_sample(*a, **k)

    def spy_job(*a, **k):
        jobs.append(1)
        return orig_job(*a, **k)

    tr._sampled_batches, tr._job = spy_sample, spy_job
    tr.fit(maxiter=6)
    assert not jobs and tr._local_batches, "full-batch fit did not replay"
    tr.fit(maxiter=4, minibatch_fraction=0.5)
    assert not sampled, "minibatch fit replayed on an unverified Spark"
    assert len(jobs) == 4
    assert len(tr.history) == 10 and np.all(np.isfinite(tr.history))


_MINIBATCH_CASES = [(0.25, None), (0.5, 37), (0.06, None)]


@pytest.mark.parametrize(
    "model_cls,lr,fraction,arrow_batch",
    [pytest.param(LinReg, 0.05, f, b, id=f"{f}-{b}") for f, b in _MINIBATCH_CASES]
    + [
        pytest.param(AmortizedVI, 0.02, f, b, id=f"AmortizedVI-{f}-{b}")
        for f, b in _MINIBATCH_CASES
    ],
)
def test_minibatch_replay_bitwise_equals_distributed(
    spark, monkeypatch, model_cls, lr, fraction, arrow_batch
):
    """The minibatch driver-local replay must REPLICATE the distributed
    sampled loop bit-for-bit: identical sampled row sets per step
    (bit-exact RNG replica), identical Arrow chunking of the sampled
    partitions (the 37-row case forces multi-batch partitions),
    identical (step, pid, bi) seeds and fold order. fraction=0.06
    exercises empty sampled partitions. AmortizedVI pins MC sampling
    through the per-partition models the replay keeps across steps.
    Exact float equality on every history entry and every trained
    parameter."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    if arrow_batch is not None:
        spark.conf.set(key, str(arrow_batch))
    try:
        df, _, _ = make_df(spark)
        m1 = model_cls()
        tr1 = SparkTrainer(m1, df, optimizer=Adam(learning_rate=lr))
        init = tr1._state()

        cap = spark_exec.LOCAL_ROWS_CAP
        monkeypatch.setattr(spark_exec, "LOCAL_ROWS_CAP", 0)  # distributed
        tr1.fit(maxiter=6, minibatch_fraction=fraction)

        m2 = model_cls()
        tr2 = SparkTrainer(m2, df, optimizer=Adam(learning_rate=lr))
        for v in tr2.vars:
            v._array = np.array(init[v.long_name])
            v._pending = None
            v.finalize()
        monkeypatch.setattr(spark_exec, "LOCAL_ROWS_CAP", cap)  # local replay
        calls = []
        orig_job = tr2._job

        def spy(*a, **k):
            calls.append(1)
            return orig_job(*a, **k)

        tr2._job = spy
        tr2.fit(maxiter=6, minibatch_fraction=fraction)
        assert not calls, "minibatch local replay did not engage"
        assert tr1.history == tr2.history  # bitwise, every step
        for v1, v2 in zip(tr1.vars, tr2.vars):
            assert np.array_equal(np.asarray(v1._array), np.asarray(v2._array))
    finally:
        spark.conf.set(key, prev)


def test_local_replay_refetches_reassigned_frame(spark, monkeypatch):
    """StreamingTrainer points `trainer.df` at each micro-batch and fits
    again, so a replayed fit must read the frame the trainer holds now,
    not the rows an earlier fit fetched. Two fits on different frames
    replay bit-for-bit like the same two fits run distributed."""
    df_a, _, _ = make_df(spark, n=400)
    df_b, _, _ = make_df(spark, n=240)
    m1 = LinReg()
    tr1 = SparkTrainer(m1, df_a, optimizer=Adam(learning_rate=0.05))
    init = tr1._state()
    cap = spark_exec.LOCAL_ROWS_CAP
    monkeypatch.setattr(spark_exec, "LOCAL_ROWS_CAP", 0)  # distributed
    tr1.fit(maxiter=5)
    tr1.df = df_b
    tr1.fit(maxiter=5)

    m2 = LinReg()
    tr2 = SparkTrainer(m2, df_a, optimizer=Adam(learning_rate=0.05))
    for v in tr2.vars:
        v._array = np.array(init[v.long_name])
        v._pending = None
        v.finalize()
    monkeypatch.setattr(spark_exec, "LOCAL_ROWS_CAP", cap)  # local replay
    fetched = []
    orig_fetch = tr2._fetch_local_batches

    def spy():
        batches = orig_fetch()
        fetched.append(sum(len(pdf) for _, _, pdf in batches))
        return batches

    tr2._fetch_local_batches = spy
    tr2.fit(maxiter=5)
    tr2.df = df_b
    tr2.fit(maxiter=5)
    assert fetched == [400, 240]
    assert tr1.history == tr2.history  # bitwise, every step
    for v1, v2 in zip(tr1.vars, tr2.vars):
        assert np.array_equal(np.asarray(v1._array), np.asarray(v2._array))



def test_fit_reads_partition_count_of_reassigned_frame(spark):
    """A trainer built on a 4-partition frame and re-pointed at a
    64-partition one (as StreamingTrainer re-points it per micro-batch)
    must read 64 when it fits: past TREE_DEPTH_CUTOVER the fit stays
    distributed, one `_job` per step, and never replays."""
    from pyspark.sql import functions as F

    df, _, _ = make_df(spark)
    tr = SparkTrainer(LinReg(), df, optimizer=Adam(learning_rate=0.05))
    x = F.col("id") / 640.0
    tr.df = spark.range(0, 640, 1, 64).select(
        x.alias("x"), (A_TRUE + B_TRUE * x).alias("y")
    )
    calls = []
    orig_job = tr._job

    def spy(*a, **k):
        calls.append(1)
        return orig_job(*a, **k)

    tr._job = spy
    tr.fit(maxiter=4)
    assert len(calls) == 4, "fit replayed on a stale partition count"


def test_fit_fetches_an_over_budget_frame_once(spark, monkeypatch):
    """A frame over the replay budget (the fetch returns None) is
    fetched once while the trainer holds it, not again at every fit;
    assigning `df` releases that outcome like a held replay."""
    calls = []

    def over_budget(*a, **k):
        calls.append(1)
        return None

    monkeypatch.setattr(spark_exec, "fetch_batches", over_budget)
    df, _, _ = make_df(spark)
    tr = SparkTrainer(LinReg(), df, optimizer=Adam(learning_rate=0.05))
    tr.fit(maxiter=4)
    tr.fit(maxiter=4)
    assert len(calls) == 1
    tr.df = tr.df
    tr.fit(maxiter=4)
    assert len(calls) == 2


def _fit_evaluate_pass(tr):
    """fit, minibatch fit, evaluate and minibatch evaluate on one frame:
    the rounds of a vi_replay pass that do not predict."""
    tr.fit(maxiter=6)
    tr.fit(maxiter=5, minibatch_fraction=0.25)
    return tr.evaluate(), tr.evaluate(0.25)


def _twin(model_cls, df, init, lr=0.05):
    """A trainer over `df` starting from the parameter values `init`."""
    tr = SparkTrainer(model_cls(), df, optimizer=Adam(learning_rate=lr))
    for v in tr.vars:
        v._array = np.array(init[v.long_name])
        v._pending = None
        v.finalize()
    return tr


@pytest.mark.parametrize("model_cls", [LinReg, AmortizedVI])
def test_held_replay_serves_later_fits_and_evaluate(spark, monkeypatch, model_cls):
    """A trainer holds its replayed batches while it holds its frame: a
    full fit, a minibatch fit and two evaluations start one Spark job
    (the fetch) in all, and give the history and objective values of the
    same rounds run distributed, bit for bit."""
    df, _, _ = make_df(spark)
    tr1 = SparkTrainer(model_cls(), df, optimizer=Adam(learning_rate=0.05))
    tr2 = _twin(model_cls, df, tr1._state())
    cap = spark_exec.LOCAL_ROWS_CAP
    monkeypatch.setattr(spark_exec, "LOCAL_ROWS_CAP", 0)  # distributed
    want = _fit_evaluate_pass(tr1)
    monkeypatch.setattr(spark_exec, "LOCAL_ROWS_CAP", cap)  # local replay
    tracker = spark.sparkContext.statusTracker()
    tr2.df.count()  # builds the cache, whatever an earlier test cached
    before = set(tracker.getJobIdsForGroup(None))
    got = _fit_evaluate_pass(tr2)
    assert len(set(tracker.getJobIdsForGroup(None)) - before) == 1
    assert got == want  # bitwise
    _assert_bitwise_equal(tr1, tr2)


def test_reassigned_frame_releases_held_replay(spark, monkeypatch):
    """Assigning `df` releases the held replay: a StreamingTrainer
    micro-batch of 240 rows is fetched fresh (not replayed from the
    trainer's own 400 rows), a fit after it fetches the trainer's 400
    rows again (not the micro-batch's), and ``tr.df = tr.df`` forces one
    more fetch. A change to the session's Arrow batch rows releases the
    replay too, before `evaluate` and before a fit. Every round is
    bit-identical to the same rounds run distributed."""
    from henbun_spark.streaming import StreamingTrainer

    df_a, _, _ = make_df(spark, n=400)
    df_b, _, _ = make_df(spark, n=240)

    def rounds(tr):
        tr.fit(maxiter=4)
        StreamingTrainer(tr, steps_per_batch=4).foreach_batch(df_b, 0)
        tr.fit(maxiter=4)
        tr.df = tr.df
        tr.fit(maxiter=4)
        with _arrow_batch_rows(spark, 37):
            out = tr.evaluate()
            tr.fit(maxiter=4)
        return out, tr.evaluate()

    tr1 = SparkTrainer(AmortizedVI(), df_a, optimizer=Adam(learning_rate=0.02))
    tr2 = _twin(AmortizedVI, df_a, tr1._state(), lr=0.02)
    cap = spark_exec.LOCAL_ROWS_CAP
    monkeypatch.setattr(spark_exec, "LOCAL_ROWS_CAP", 0)  # distributed
    want = rounds(tr1)
    monkeypatch.setattr(spark_exec, "LOCAL_ROWS_CAP", cap)  # local replay
    fetched = []
    orig_fetch = tr2._fetch_local_batches

    def spy():
        batches = orig_fetch()
        fetched.append(sorted(len(pdf) for _, _, pdf in batches))
        return batches

    tr2._fetch_local_batches = spy
    got = rounds(tr2)
    assert [sum(rows) for rows in fetched] == [400, 240, 400, 400, 400]
    assert 37 in fetched[-1] and 37 not in fetched[-2]
    assert got == want  # bitwise
    _assert_bitwise_equal(tr1, tr2)


@contextmanager
def _arrow_batch_rows(spark, rows):
    """The session's Arrow maxRecordsPerBatch set to `rows` in the block."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(rows))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _replay_and_distributed(spark, monkeypatch, model_cls, df, lr, maxiter=6):
    """The same fit from the same initial state, once distributed and
    once replayed on the driver: (distributed trainer, replay trainer,
    the replay's fetched batches)."""
    m1 = model_cls()
    tr1 = SparkTrainer(m1, df, optimizer=Adam(learning_rate=lr))
    init = tr1._state()
    cap = spark_exec.LOCAL_ROWS_CAP
    monkeypatch.setattr(spark_exec, "LOCAL_ROWS_CAP", 0)  # distributed
    tr1.fit(maxiter=maxiter)

    m2 = model_cls()
    tr2 = SparkTrainer(m2, df, optimizer=Adam(learning_rate=lr))
    for v in tr2.vars:
        v._array = np.array(init[v.long_name])
        v._pending = None
        v.finalize()
    monkeypatch.setattr(spark_exec, "LOCAL_ROWS_CAP", cap)  # local replay
    fetched = []
    orig_fetch = tr2._fetch_local_batches

    def spy():
        batches = orig_fetch()
        fetched.extend(batches or [])
        return batches

    tr2._fetch_local_batches = spy
    tr2.fit(maxiter=maxiter)
    assert fetched, "local replay did not engage"
    return tr1, tr2, fetched


def _assert_bitwise_equal(tr1, tr2):
    assert tr1.history == tr2.history  # bitwise, every step
    for v1, v2 in zip(tr1.vars, tr2.vars):
        assert np.array_equal(np.asarray(v1._array), np.asarray(v2._array))


def test_replay_traces_once_per_batch_shape(spark, monkeypatch):
    """Partitions of 100 rows in Arrow batches of 37 give a full and a
    short last batch: each replica traces its objective once per batch
    row count, checks the first replay of each trace against an eager
    evaluation, and replays every later evaluation, bit-identical to the
    distributed fit."""
    from pyspark.sql import functions as F

    from henbun_spark.spark_exec import _Replica

    traces, replays = [], []
    orig_trace, orig_replay = _Replica._trace, ad.Tape.replay

    def trace_spy(self, *a, **k):
        traces.append(1)
        return orig_trace(self, *a, **k)

    def replay_spy(self, *a, **k):
        replays.append(1)
        return orig_replay(self, *a, **k)

    x = F.sin(F.col("id") * 0.37)
    df = spark.range(0, 400, 1, 4).select(
        x.alias("x"), (A_TRUE + B_TRUE * x + 0.1 * F.cos(F.col("id") * 1.3)).alias("y")
    )
    # spies see the driver-local replay only: distributed tasks evaluate
    # in Python worker processes
    monkeypatch.setattr(_Replica, "_trace", trace_spy)
    monkeypatch.setattr(ad.Tape, "replay", replay_spy)
    with _arrow_batch_rows(spark, 37):
        tr1, tr2, fetched = _replay_and_distributed(
            spark, monkeypatch, AmortizedVI, df, 0.02
        )
    _assert_bitwise_equal(tr1, tr2)
    keys = {(pid, len(pdf)) for pid, _, pdf in fetched}
    assert sorted(len(pdf) for _, _, pdf in fetched) == [26] * 4 + [37] * 8
    # one trace per (partition, row count), and one eager check at the
    # first replay of each; every other evaluation replays
    assert len(traces) == 2 * len(keys) == 16
    assert len(replays) == 6 * len(fetched) - len(keys)


def test_minibatch_replay_keeps_full_batch_trace(spark, monkeypatch):
    """A sampled partition of about 90 rows in Arrow batches of 37 has
    full batches whose row count is the same every step and a last batch
    whose row count changes: the last batches' traces must not evict the
    full batch's, so each partition traces (and checks) 37 rows once and
    replays them at every later step."""
    from henbun_spark.spark_exec import _Replica

    traced_rows = []
    orig_trace = _Replica._trace

    def trace_spy(self, *a, **k):
        traced_rows.append(len(self.columns[0].data))
        return orig_trace(self, *a, **k)

    monkeypatch.setattr(_Replica, "_trace", trace_spy)
    df, _, _ = make_df(spark)
    tr = SparkTrainer(LinReg(), df, optimizer=Adam(learning_rate=0.05))
    sampled = []
    orig_sampled = tr._sampled_batches

    def sampled_spy(*a, **k):
        batches = orig_sampled(*a, **k)
        sampled.append(batches)
        return batches

    tr._sampled_batches = sampled_spy
    with _arrow_batch_rows(spark, 37):
        tr.fit(maxiter=6, minibatch_fraction=0.9)
    assert len(sampled) == 6, "minibatch local replay did not engage"
    pids = {pid for batches in sampled for pid, _, _ in batches}
    for batches in sampled:  # every partition has a full batch each step
        assert {pid for pid, _, pdf in batches if len(pdf) == 37} == pids
    last = {(pid, len(pdf)) for batches in sampled for pid, _, pdf in batches
            if len(pdf) < 37}
    assert len(last) > len(pids), "last-batch row counts did not change"
    assert traced_rows.count(37) == 2 * len(pids)


class DataBranch(LinReg):
    """Reads a batch value outside autodiff ops: a replay would reuse the
    traced batch's mask, which the replica must refuse."""

    def local_objective(self):
        pos = ad.Tensor(self.y.data > 0)
        pred = self.coef[0] + self.coef[1] * self.x
        return ad.sum(pos * hb.densities.gaussian(self.y, pred, ad.square(self.s)))


def test_replica_rejects_objective_reading_data_outside_ops():
    """The first replay of a trace is checked against an eager
    evaluation: an objective that builds a constant from `.data` raises,
    naming the model class, instead of training on a stale value."""
    import cloudpickle

    from henbun_spark.spark_exec import TAPE_BUDGET_BYTES, _Replica, _trainable

    rng = np.random.default_rng(3)
    pdfs = [pd.DataFrame({"x": rng.uniform(-1, 1, 50), "y": rng.normal(0, 1, 50)})
            for _ in range(2)]
    for cls, raises in ((LinReg, False), (DataBranch, True)):
        m = cls()
        m.initialize()
        names = [v.long_name for v in _trainable(m, graph_key.VARIABLES)]
        rep = _Replica(cloudpickle.dumps(m), names, keep_bytes=TAPE_BUDGET_BYTES)
        rep.evaluate(pdfs[0], 1, True)  # traces
        if raises:
            with pytest.raises(RuntimeError, match="DataBranch"):
                rep.evaluate(pdfs[1], 2, True)
        else:
            rep.evaluate(pdfs[1], 2, True)


def test_replica_keeps_tapes_within_its_bytes():
    """A replica keeps a trace only within `keep_bytes`: one with no room
    traces every evaluation (as a distributed task does, at 0 bytes) and
    returns the same bits as one that replays."""
    import cloudpickle

    from henbun_spark.spark_exec import TAPE_BUDGET_BYTES, _Replica, _bits, _trainable

    rng = np.random.default_rng(5)
    pdfs = [pd.DataFrame({"x": rng.uniform(-1, 1, 50), "y": rng.normal(0, 1, 50)})
            for _ in range(3)]
    m = LinReg()
    m.initialize()
    names = [v.long_name for v in _trainable(m, graph_key.VARIABLES)]
    kept = _Replica(cloudpickle.dumps(m), names, keep_bytes=TAPE_BUDGET_BYTES)
    none = _Replica(cloudpickle.dumps(m), names, keep_bytes=0)
    for seed, pdf in enumerate(pdfs + pdfs):
        assert _bits(*kept.evaluate(pdf, seed, True)) == _bits(*none.evaluate(pdf, seed, True))
    assert [t.nbytes > 0 for t in kept.traces.values()] == [True]
    assert not none.traces


class BernoulliReg(hb.Model):
    """Logistic regression through `densities.bernoulli`, whose label
    mask must follow the batch on a replay."""

    def setUp(self):
        self.x = ColumnData("x")
        self.label = ColumnData("label")
        self.w = hb.Variable([2], mean=0.0, stddev=0.1)

    def local_objective(self):
        p = ad.sigmoid(self.w[0] + self.w[1] * self.x)
        return ad.sum(hb.densities.bernoulli(p, self.label))


def test_bernoulli_replay_bitwise_equals_distributed(spark, monkeypatch):
    """Two equal-size Arrow batches per partition with different labels:
    the second batch replays the first one's tape, so the label mask must
    be a traced leaf; the replayed fit is bit-equal to the distributed."""
    from pyspark.sql import functions as F

    x = F.sin(F.col("id") * 0.61)
    df = spark.range(0, 400, 1, 4).select(
        x.alias("x"),
        (x + 0.5 * F.cos(F.col("id") * 2.3) > 0).cast("double").alias("label"),
    )
    with _arrow_batch_rows(spark, 50):
        tr1, tr2, fetched = _replay_and_distributed(
            spark, monkeypatch, BernoulliReg, df, 0.1
        )
    _assert_bitwise_equal(tr1, tr2)
    by_pid = {}
    for pid, _, pdf in fetched:
        by_pid.setdefault(pid, []).append(pdf)
    for frames in by_pid.values():
        assert [len(f) for f in frames] == [50, 50]
        assert not np.array_equal(frames[0]["label"], frames[1]["label"])

class PredModel(hb.Model):
    def setUp(self):
        self.x = ColumnData("x")
        self.coef = hb.Variable([2])

    def local_objective(self):
        return ad.sum(hb.densities.gaussian(self.x, self.coef[0], 1.0))

    def score(self):
        return {"pred": (self.coef[0] + self.coef[1] * self.x).data,
                "x2": ad.square(self.x).data}


def test_predict_mapinpandas(spark):
    df, x, _ = make_df(spark, n=100)
    m = PredModel()
    m.coef = np.array([1.0, 2.0])
    m.initialize()
    out = predict(m, df, "score", "pred double, x2 double").toPandas()
    assert len(out) == 100
    np.testing.assert_allclose(
        np.sort(out["pred"].to_numpy()), np.sort(1.0 + 2.0 * x), atol=1e-5
    )


def test_float32_mode_reaches_executors(spark):
    """The driver's float_type ships with the job (ADVICE r2): in float32
    mode the executor-side objective is computed in float32 — the result
    visibly diverges from the float64 run in the low bits while agreeing
    at float32 precision."""
    from henbun_spark.config import Settings, temp_settings

    df, x, y = make_df(spark, n=100, parts=4)
    m64 = LinReg()
    tr64 = SparkTrainer(m64, df)
    loss64, n64, grad64 = tr64._job(tr64.df, tr64._state(), step=0, want_grad=True)

    tmp = Settings()
    tmp.dtypes.float_type = np.float32
    with temp_settings(tmp):
        m32 = LinReg()
        tr32 = SparkTrainer(m32, df)
        # same initial state as the float64 run, cast down
        state32 = {k: v.astype(np.float32) for k, v in tr64._state().items()}
        loss32, n32, grad32 = tr32._job(tr32.df, state32, step=0, want_grad=True)

    assert n32 == n64 == 100
    assert np.isfinite(loss32) and np.isfinite(grad32).all()
    np.testing.assert_allclose(loss32, loss64, rtol=1e-4)
    assert loss32 != loss64  # float32 rounding is observable => knob is live


def test_gp_regression_trains_distributed(spark):
    """Sparse-GP regression through SparkTrainer (whitened variational u,
    trainable lengthscale, analytic KL via global_objective): the ELBO
    improves over a short distributed fit on synthetic sine data."""
    import numpy as np
    import pandas as pd

    import henbun_spark as hb
    from henbun_spark import autodiff as ad
    from henbun_spark import variationals
    from henbun_spark.gp import kernels
    from henbun_spark.gp.gp import SparseGP
    from henbun_spark.spark_exec import ColumnData, SparkTrainer

    rng = np.random.default_rng(2)
    x = rng.uniform(0, 1, 400)
    y = np.sin(2 * np.pi * x) + 0.1 * rng.standard_normal(400)
    df = spark.createDataFrame(pd.DataFrame({"x": x, "y": y})).repartition(4)
    z = np.linspace(0, 1, 6).reshape(-1, 1)

    class GPReg(hb.Model):
        def setUp(self):
            self.x = ColumnData("x")
            self.y = ColumnData("y")
            self.gp = SparseGP(kernels.UnitRBF(), z)
            self.u = variationals.Normal(shape=[6], n_layers=[4])
            self.lnsig = hb.Variable([1], mean=float(np.log(0.5)), stddev=0.01)

        def local_objective(self):
            s = self.gp.samples(
                self.x.reshape((-1, 1)), self.u, q_shape="neglected"
            )
            var = ad.exp(self.lnsig * 2.0)
            lik = hb.densities.gaussian(self.y.reshape((1, -1)), s, var)
            return ad.sum(lik) / 4.0

        def global_objective(self):
            return -self.KL()

    tr = SparkTrainer(GPReg(), df, optimizer=hb.Adam(learning_rate=0.05))
    tr.fit(maxiter=15)
    assert tr.history[-1] > tr.history[0]


def test_logreg_classifier_separates(spark, sf_dir):
    """The distilled quality classifier must learn the teacher's linear
    boundary: `acc_ok` (train accuracy >= 0.9, the r8 oracle bound) must
    hold, and the bound must be MEANINGFUL — both teacher classes
    populated, neither above 90% base rate (else 0.9 accuracy would be
    reachable by a constant classifier)."""
    import __spark_entry__ as entry_mod

    rows = entry_mod.logreg_quality_classifier(spark, sf_dir).collect()
    assert {r["label"] for r in rows} == {0.0, 1.0}
    assert all(r["acc_ok"] is True for r in rows), rows
    total = sum(r["n_docs"] for r in rows)
    for r in rows:
        assert 0.1 * total <= r["n_docs"] <= 0.9 * total, rows


class BitWidth(hb.Model):
    def setUp(self):
        self.x = ColumnData("x")

    def bits(self):
        return {"bits": np.full(len(self.x.data), 8 * self.x.data.itemsize)}


def test_predict_computes_in_driver_float_type_after_float32_job(spark):
    """Spark reuses Python workers across jobs, so a float32 `_job` must
    not leave its workers computing in float32 for a later float64
    `predict`, and `predict` must follow the driver's float_type. The
    float32 job runs 24 tasks, which cycle through every idle worker of
    the pool; each predict reports the bit width it computed in."""
    from henbun_spark.config import Settings, temp_settings

    df, _, _ = make_df(spark, n=96, parts=24)
    one = df.coalesce(1)
    tmp = Settings()
    tmp.dtypes.float_type = np.float32
    with temp_settings(tmp):
        tr = SparkTrainer(LinReg(), df)
        tr._job(tr.df, tr._state(), step=0, want_grad=True)
        bits32 = predict(BitWidth(), one, "bits", "bits long").toPandas()
    bits64 = predict(BitWidth(), one, "bits", "bits long").toPandas()
    assert set(bits32["bits"]) == {32}
    assert set(bits64["bits"]) == {64}


@pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="this interpreter's zipimporter re-reads lazily; the shim is a no-op",
)
def test_daemon_rereads_only_changed_archives(tmp_path, monkeypatch):
    """The worker daemon's shim keeps an unchanged archive's directory
    across `importlib.invalidate_caches()` and still re-reads one whose
    stat signature changed, so a module added to it imports."""
    from henbun_spark import _daemon

    # install into a clean slate; teardown restores the unpatched method
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("henbun_zip_a.py", "X = 1\n")
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("henbun_zip_a").X == 1
        _daemon.install()
        _daemon.install()  # a second install is harmless
        before = zipimport._zip_directory_cache[archive]
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[archive] is before
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("henbun_zip_a.py", "X = 1\n")
            z.writestr("henbun_zip_b.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[archive] is not before
        assert importlib.import_module("henbun_zip_b").Y == 2
    finally:
        for name in ("henbun_zip_a", "henbun_zip_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_session_workers_run_under_henbun_daemon(spark):
    """Python workers of a `get_spark` session are forked by
    `henbun_spark._daemon`, and a task's `invalidate_caches()` keeps the
    directory of the unchanged pyspark.zip."""

    def probe(_):
        import importlib
        import os
        import sys
        import zipimport

        archive = next(
            (p for p in zipimport._zip_directory_cache if os.path.basename(p) == "pyspark.zip"),
            None,
        )
        before = zipimport._zip_directory_cache.get(archive)
        importlib.invalidate_caches()
        kept = before is not None and zipimport._zip_directory_cache.get(archive) is before
        yield sys.modules["__main__"].__spec__.name, archive is not None, kept

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert got == [("henbun_spark._daemon", True, True)]


def test_session_workers_start_frozen_and_still_free_task_cycles(spark):
    """A worker forked by the daemon inherits its frozen import-time heap
    (so the per-task `gc.collect()` skips it), and a reference cycle a
    task builds and drops is still freed by `gc.collect()`."""

    def probe(_):
        import gc
        import weakref

        class Node:
            pass

        a, b = Node(), Node()
        a.other, b.other = b, a
        ref = weakref.ref(a)
        del a, b
        gc.collect()
        yield gc.get_freeze_count(), ref() is None

    got = spark.sparkContext.parallelize([0, 1], 2).mapPartitions(probe).collect()
    assert len(got) == 2
    assert all(frozen > 0 and freed for frozen, freed in got), got
