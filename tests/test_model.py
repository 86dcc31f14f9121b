"""End-to-end optimization convergence — mirrors
`/root/reference/testing/test_model.py`: Adam drives SquareModel params to 0
(atol 1e-4 @ 1500 iters), collection-scoped freezing, Indexer semantics,
minibatch feeds.
"""

import numpy as np
import pytest

import henbun_spark as hb
from henbun_spark import autodiff as ad
from henbun_spark.model import Adam, Indexer
from henbun_spark.param import MinibatchData, Variable, graph_key


class SquareModel(hb.Model):
    """`testing/test_model.py:8-29`."""

    def setUp(self):
        self.p = Variable([2, 3])

    @hb.AutoOptimize()
    def likelihood(self):
        return -ad.sum(ad.square(self.p))


class TwoCollectionModel(hb.Model):
    """`testing/test_model.py:34-74`."""

    def setUp(self):
        self.p1 = Variable([2], collections=["col1"])
        self.p2 = Variable([2], collections=["col2"])

    @hb.AutoOptimize()
    def likelihood(self):
        return -ad.sum(ad.square(self.p1)) - ad.sum(ad.square(self.p2 - 1.0))


def test_square_model_converges():
    m = SquareModel()
    opt = m.likelihood()
    opt.compile(optimizer=Adam(learning_rate=0.01))
    opt.optimize(maxiter=1500)
    np.testing.assert_allclose(m.p.value, np.zeros((2, 3)), atol=1e-4)


def test_objective_improves_and_run_returns_scalar():
    m = SquareModel()
    opt = m.likelihood().compile(optimizer=Adam(learning_rate=0.01))
    before = float(opt.run())
    opt.optimize(maxiter=200)
    after = float(opt.run())
    assert after > before


def test_collection_scoped_optimization():
    """Freezing by collection: optimizing col1 must not touch p2."""
    m = TwoCollectionModel()
    m.initialize()
    p2_before = m.p2.value.copy()
    opt = m.likelihood()
    opt.compile(optimizer=Adam(learning_rate=0.01), collection="col1")
    opt.optimize(maxiter=1500)
    np.testing.assert_allclose(m.p1.value, np.zeros(2), atol=1e-3)
    np.testing.assert_array_equal(m.p2.value, p2_before)


def test_optimizer_memoized():
    m = SquareModel()
    assert m.likelihood() is m.likelihood()


def test_indexer_split_and_draws():
    """`model.py:126-153`: 90/10 split, uniform-with-replacement draws."""
    idx = Indexer(seed=0)
    idx.setUp(100)
    assert idx.train_size == 90
    assert idx.test_size == 10
    assert set(idx._train_index).isdisjoint(set(idx._test_index))
    draws = idx.train_index(1000)
    assert set(draws).issubset(set(idx._train_index))
    tdraws = idx.test_index(50)
    assert set(tdraws).issubset(set(idx._test_index))


class MinibatchModel(hb.Model):
    def setUp(self):
        rng = np.random.default_rng(0)
        self.x = MinibatchData(rng.normal(size=(200, 1)))
        self.mu = Variable([1])

    @hb.AutoOptimize()
    def lik(self):
        return ad.sum(hb.densities.gaussian(self.x, self.mu, 1.0))


def test_minibatch_training():
    """Minibatch SGD recovers the data mean."""
    m = MinibatchModel()
    opt = m.lik().compile(optimizer=Adam(learning_rate=0.05))
    assert m._index.data_size == 200
    opt.optimize(maxiter=800, minibatch_size=32)
    true_mean = m.x.value.mean()
    np.testing.assert_allclose(m.mu.value[0], true_mean, atol=0.15)


def test_minibatch_fit_repeats_bitwise():
    """Minibatch draws come from `settings.training.seed`, not OS
    entropy: two fresh models fit to the same bits."""
    mus = []
    for _ in range(2):
        m = MinibatchModel()
        m.lik().compile(optimizer=Adam(learning_rate=0.05)).optimize(
            maxiter=50, minibatch_size=32
        )
        mus.append(m.mu.value.tobytes())
    assert mus[0] == mus[1]


def test_validate_rejects_mismatched_minibatch_sizes():
    class Bad(hb.Model):
        def setUp(self):
            self.a = MinibatchData(np.zeros((10, 1)))
            self.b = MinibatchData(np.zeros((12, 1)))

    m = Bad()
    with pytest.raises(ValueError):
        m.validate()


def test_test_feed_dict_shape():
    m = MinibatchModel()
    m.validate()
    feeds = m.test_feed_dict(5)
    (batch,) = feeds.values()
    assert batch.shape == (5, 1)


def test_rc_file_layer_round_trip(tmp_path, monkeypatch):
    """henbunrc loading mirrors the reference's layered settings
    (`_settings.py:26-149`, `henbunrc:1-17`): INI sections overlay the
    dataclass defaults with typed parsing (bool / numpy dtype / float /
    int), unknown sections are ignored, $HENBUNRC selects the file, and
    `temp_settings` still scopes overrides."""
    from henbun_spark import config

    rc = tmp_path / "henbunrc"
    rc.write_text(
        "[dtypes]\n"
        "float_type = float32\n"
        "int_type = int64\n"
        "[numerics]\n"
        "jitter_level = 1e-3\n"
        "clip_by_value = True\n"
        "clip_value_min = -10.0\n"
        "[training]\n"
        "seed = 7\n"
        "[verbosity]\n"
        "optimisation_verb = False\n"
        "hmc_verb = True\n"
        "[profiling]\n"
        "dump_timeline = True\n"
    )
    s = config.load_rc(str(rc))
    assert s.dtypes.float_type is np.float32
    assert s.numerics.jitter_level == 1e-3
    assert s.numerics.clip_by_value is True
    assert s.numerics.clip_value_min == -10.0
    assert s.numerics.clip_value_max == 50.0  # untouched default
    assert s.training.seed == 7
    # the reference keys this engine does not read load cleanly and set
    # nothing: `int_type`, `[verbosity]`, `[profiling]`
    assert s == config.Settings(
        dtypes=config._Dtypes(float_type=np.float32),
        numerics=config._Numerics(
            jitter_level=1e-3, clip_by_value=True, clip_value_min=-10.0),
        training=config._Training(seed=7),
    )
    assert not hasattr(s.dtypes, "int_type")
    assert not hasattr(s, "verbosity")

    # env-var layer
    monkeypatch.setenv("HENBUNRC", str(rc))
    s2 = config.load_rc()
    assert s2.dtypes.float_type is np.float32
    monkeypatch.setenv("HENBUNRC", str(tmp_path / "missing"))
    with pytest.raises(FileNotFoundError):
        config.load_rc()
    monkeypatch.delenv("HENBUNRC")

    # no rc anywhere -> pure defaults
    monkeypatch.chdir(tmp_path / "..")
    base = config.load_rc()
    assert base.dtypes.float_type is np.float64

    # context override still scopes (reference test_tf_wraps.py:16-42)
    with config.temp_settings(s) as active:
        assert active.dtypes.float_type is np.float32
    assert config.settings.dtypes.float_type is np.float64


def test_rc_value_parser_grammar():
    from henbun_spark import config

    assert config.parse_rc_value("True") is True
    assert config.parse_rc_value("false") is False
    assert config.parse_rc_value("float64") is np.float64
    assert config.parse_rc_value("1e-5") == 1e-5
    assert config.parse_rc_value("-50.0") == -50.0
    assert config.parse_rc_value("42") == 42
    assert config.parse_rc_value("hello") == "hello"
    with pytest.raises(ValueError):
        config.parse_rc_value(3)
