"""Model lifecycle: construct -> compile -> run/optimize.

Re-expresses `/root/reference/Henbun/model.py` without TensorFlow:

* `Model` is the root of the parameter tree. There is no tf.Session; an
  "evaluation" traces the user's objective method under `tf_mode` against
  autodiff Tensors and (for training) runs reverse-mode backprop.
* `Optimizer.compile/run/optimize` keep the reference API
  (`model.py:190-269`). The default optimizer is Adam (`model.py:206`),
  re-implemented driver-side — for distributed training the same Adam
  consumes gradients aggregated from executors (see `spark_exec.py`).
* `Indexer` reproduces the 90/10 shuffled train/test split and
  uniform-with-replacement minibatch draws (`model.py:126-153`).

Driver-side (numpy) evaluation is the fast path for small data — the same
objective code runs unchanged inside Arrow-batched pandas UDFs when the
data is a DataFrame (`spark_exec.SparkTrainer`).
"""

from __future__ import annotations

from functools import wraps

import numpy as np

from henbun_spark import autodiff as ad
from henbun_spark.param import (
    Data,
    MinibatchData,
    Parameterized,
    Variable,
    graph_key,
)


class Adam:
    """Adam (Kingma & Ba 2014), ascent form — matches
    tf.train.AdamOptimizer defaults used at `model.py:206`."""

    def __init__(self, learning_rate=0.001, beta1=0.9, beta2=0.999, epsilon=1e-8):
        self.lr = learning_rate
        self.beta1, self.beta2, self.eps = beta1, beta2, epsilon
        self._m = {}
        self._v = {}
        self._t = 0

    def step(self, params: dict):
        """params: {key: (array, grad)}; updates arrays in place (ascent)."""
        self._t += 1
        b1, b2 = self.beta1, self.beta2
        lr_t = self.lr * np.sqrt(1 - b2 ** self._t) / (1 - b1 ** self._t)
        for key, (arr, grad) in params.items():
            m = self._m.setdefault(key, np.zeros_like(arr))
            v = self._v.setdefault(key, np.zeros_like(arr))
            m += (1 - b1) * (grad - m)
            v += (1 - b2) * (grad * grad - v)
            arr += lr_t * m / (np.sqrt(v) + self.eps)


class GradientDescent:
    def __init__(self, learning_rate=0.01):
        self.lr = learning_rate

    def step(self, params: dict):
        for _, (arr, grad) in params.items():
            arr += self.lr * grad


class Indexer:
    """Minibatching index bookkeeping (`model.py:126-153`)."""

    def __init__(self, seed=None):
        self.data_size = None
        self.test_frac = 0.1
        self._rng = np.random.default_rng(seed)

    def setUp(self, data_size):
        self.data_size = data_size
        self.test_size = int(np.floor(data_size * self.test_frac))
        self.train_size = data_size - self.test_size
        index = np.arange(data_size)
        self._rng.shuffle(index)
        self._train_index = index[: self.train_size]
        self._test_index = index[self.train_size:]

    def train_index(self, minibatch_size):
        return self._train_index[
            self._rng.integers(0, self.train_size, minibatch_size)
        ]

    def test_index(self, minibatch_size):
        if minibatch_size is None:
            return self._test_index
        return self._test_index[
            self._rng.integers(0, self.test_size, minibatch_size)
        ]


class Model(Parameterized):
    """Root of the parameter tree (`model.py:13-123`).

    >>> class SquareModel(hb.Model):
    ...     def setUp(self):
    ...         self.p = hb.Variable([2, 3])
    ...     @hb.AutoOptimize()
    ...     def likelihood(self):
    ...         return -hb.autodiff.sum(hb.autodiff.square(self.p))
    >>> m = SquareModel()
    >>> m.likelihood().compile()
    >>> m.likelihood().optimize(maxiter=1500)
    """

    def __init__(self, name="model", **kw):
        Parameterized.__init__(self)
        self._name = name
        self._index = Indexer()
        self._eval_step = 0
        self._eval_rng = np.random.default_rng(0)
        self.setUp(**kw)

    @property
    def name(self):
        return self._name

    def setUp(self):
        pass

    # -- evaluation ------------------------------------------------------
    def draw_normal(self, shape):
        """Fresh N(0,1) draw for the current evaluation — the engine's
        tf.random_normal. Seeded per evaluation step for retry determinism
        (SURVEY §4 O3)."""
        return self._eval_rng.standard_normal(size=shape)

    def reseed(self, seed=None):
        """Re-seed the sample RNG for a new evaluation: all a tape replay
        of the objective needs from `new_eval` (`autodiff.Tape`)."""
        self._eval_step += 1
        self._eval_rng = np.random.default_rng(
            self._eval_step if seed is None else seed
        )

    def new_eval(self, minibatch_index=None, seed=None):
        """Start a fresh evaluation: clear autodiff leaves, re-seed the
        sample RNG, feed data."""
        self.reseed(seed)
        self.reset_eval()
        self.get_feed_dict(minibatch_index)

    def run(self, method, feed_dict_index=None, seed=None):
        """Evaluate a model method (or raw callable) with full-data feeds
        (`model.py:84-96`). Returns numpy."""
        self.initialize()
        self.new_eval(feed_dict_index, seed=seed)
        with self.tf_mode():
            out = method(self) if callable(method) else method
        if isinstance(out, ad.Tensor):
            return np.array(out.data)
        return out

    def validate(self):
        """`model.py:98-117`.

        Divergence from the reference: LOCAL-fed checks happen at first
        objective evaluation (feeds are per-evaluation here, not traced
        once into a static graph), so validate only checks data sizing.
        """
        minibatch_data = [
            d
            for d in self.get_variables(graph_key.DATA)
            if isinstance(d, MinibatchData)
        ]
        if len(minibatch_data) > 1:
            sizes = {d.data.shape[0] for d in minibatch_data}
            if len(sizes) > 1:
                raise ValueError("MinibatchData sizes differ.")
        if minibatch_data:
            data_size = minibatch_data[0].data.shape[0]
            if self._index.data_size != data_size:
                self._index.setUp(data_size)

    def test_feed_dict(self, minibatch_size=None):
        """`model.py:119-123`."""
        return self.get_feed_dict(self._index.test_index(minibatch_size))


class AutoOptimize:
    """Decorator memoizing an Optimizer per objective method
    (`model.py:155-188`)."""

    def __call__(self, method):
        @wraps(method)
        def runnable(instance):
            name = "_" + method.__name__ + "_AF_optimizer"
            if hasattr(instance, name):
                return getattr(instance, name)
            optimizer = Optimizer(instance, method)
            object.__setattr__(instance, name, optimizer)
            return optimizer

        return runnable


class Optimizer:
    """Compile/run/optimize one objective (`model.py:190-269`)."""

    def __init__(self, model_instance: Model, likelihood_method):
        self.model = model_instance
        self.likelihood_method = likelihood_method
        self._compiled = False
        self._optimizer = None
        self._var_list = []

    def compile(self, optimizer=None, collection=graph_key.VARIABLES, global_step=None):
        """Choose the trainable set by collection tag; validate; Adam by
        default (`model.py:206-230`)."""
        self._optimizer = optimizer if optimizer is not None else Adam()
        self._var_list = [
            v
            for v in self.model.get_variables(collection)
            if v.collections not in graph_key.not_parameters
        ]
        self.model.initialize()
        self.model.validate()
        self._compiled = True
        return self

    def _evaluate(self, minibatch_index=None, backward=False, seed=None):
        model = self.model
        model.new_eval(minibatch_index, seed=seed)
        with model.tf_mode():
            obj = self.likelihood_method(model)
        if not isinstance(obj, ad.Tensor):
            obj = ad.Tensor(obj)
        if obj.data.ndim > 0:
            obj = obj.sum()
        if backward:
            obj.backward()
        return obj

    def _minibatch_index(self, minibatch_size, training=True):
        if minibatch_size is None:
            return None
        idx = self.model._index
        return idx.train_index(minibatch_size) if training else idx.test_index(minibatch_size)

    def run(self, minibatch_size=None, training=True):
        """Evaluate the objective with current parameters
        (`model.py:245-253`)."""
        assert self._compiled, "call .compile() first"
        obj = self._evaluate(self._minibatch_index(minibatch_size, training))
        return np.array(obj.data)

    def optimize(self, maxiter=1, minibatch_size=None, callback=None):
        """maxiter steps of minibatch SGD/Adam ascent (`model.py:255-269`)."""
        assert self._compiled, "call .compile() first"
        for it in range(maxiter):
            obj = self._evaluate(
                self._minibatch_index(minibatch_size), backward=True
            )
            updates = {}
            for v in self._var_list:
                if v._leaf is not None and v._leaf.grad is not None:
                    updates[v.long_name] = (v._array, v._leaf.grad)
            self._optimizer.step(updates)
            if callback is not None:
                callback(it, float(obj.data))
        return self
