"""M2 end-to-end: the distributed training lifecycle (SURVEY §3.3) —
probabilistic linear regression via mapInPandas partial gradients +
driver Adam, on a Spark DataFrame. Mirrors the reference's
`Henbun_structure.ipynb` cell 23 workflow and checks Spark-vs-driver
gradient parity.
"""

import numpy as np
import pandas as pd
import pytest

import henbun_spark as hb
from henbun_spark import autodiff as ad
from henbun_spark import variationals
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

    monkeypatch.setenv("SPARK_GRAFT_TRAINER_LOCAL_CAP", "0")  # distributed
    tr1.fit(maxiter=6)

    m2 = model_cls()
    tr2 = SparkTrainer(m2, df, optimizer=Adam(learning_rate=lr))
    for v in tr2.vars:
        v._array = np.array(init[v.long_name])
        v._pending = None
        v.finalize()
    monkeypatch.delenv("SPARK_GRAFT_TRAINER_LOCAL_CAP")  # local replay
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

        monkeypatch.setenv("SPARK_GRAFT_TRAINER_LOCAL_CAP", "0")  # distributed
        tr1.fit(maxiter=6, minibatch_fraction=fraction)

        m2 = model_cls()
        tr2 = SparkTrainer(m2, df, optimizer=Adam(learning_rate=lr))
        for v in tr2.vars:
            v._array = np.array(init[v.long_name])
            v._pending = None
            v.finalize()
        monkeypatch.delenv("SPARK_GRAFT_TRAINER_LOCAL_CAP")  # local replay
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
    monkeypatch.setenv("SPARK_GRAFT_TRAINER_LOCAL_CAP", "0")  # distributed
    tr1.fit(maxiter=5)
    tr1.df = df_b
    tr1.fit(maxiter=5)

    m2 = LinReg()
    tr2 = SparkTrainer(m2, df_a, optimizer=Adam(learning_rate=0.05))
    for v in tr2.vars:
        v._array = np.array(init[v.long_name])
        v._pending = None
        v.finalize()
    monkeypatch.delenv("SPARK_GRAFT_TRAINER_LOCAL_CAP")  # local replay
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
