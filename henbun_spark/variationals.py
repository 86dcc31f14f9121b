"""Variational (distribution-valued) parameters.

Reference: `/root/reference/Henbun/variationals.py`. A Variational holds
``q_mu`` and ``q_sqrt`` (diagonal: log-scale vector; fullrank: dense
lower-triangular matrix) and *reading it yields a fresh Monte-Carlo sample*
via the reparameterization trick (`variationals.py:131-153`):

    diagonal:  s = q_mu + exp(q_sqrt) * u,      u ~ N(0, I)
    fullrank:  s = q_mu + tril(q_sqrt) @ u

The i.i.d. draw ``u`` is made **once per evaluation step** and shared by the
sample and the KL term (`variationals.py:204`) — the engine re-seeds its RNG
per step (deterministic under Spark task retry: seed = f(step)).

Spark mapping: global variationals sample driver-side (small tensors);
LOCAL variationals are fed per-row q_mu/q_sqrt columns from an encoder
network inside the training pandas UDF and sample per Arrow batch.
"""

from __future__ import annotations

import functools

import numpy as np

from henbun_spark import autodiff as ad
from henbun_spark import densities, priors, transforms
from henbun_spark.param import Parameterized, Variable, graph_key
from henbun_spark.utils import clip


class Variational(Parameterized):
    """Base variational parameter (`variationals.py:31-209`)."""

    def __init__(
        self,
        shape,
        n_layers=[],
        n_batch=None,
        q_shape="diagonal",
        mean=0.0,
        stddev=1.0,
        prior=None,
        transform=None,
        collections=None,
    ):
        Parameterized.__init__(self)
        collections = collections if collections is not None else [graph_key.VARIABLES]
        self._shape = [shape] if isinstance(shape, int) else list(shape)
        self.n_layers = [n_layers] if isinstance(n_layers, int) else list(n_layers)
        self.n_batch = n_batch
        self.size = int(functools.reduce(np.multiply, self._shape, 1))
        self.collections = collections
        assert q_shape in ("diagonal", "fullrank")
        self.q_shape = q_shape
        # q_mu / q_sqrt initialization mirrors `variationals.py:84-99`
        self.q_mu = Variable(
            self.size,
            n_layers=self.n_layers,
            n_batch=n_batch,
            mean=mean,
            stddev=0.1 * stddev,
            collections=collections,
        )
        if q_shape == "diagonal":
            # log(q_sqrt) is stored — manual positivity transform
            self.q_sqrt = Variable(
                self.size,
                n_layers=self.n_layers,
                n_batch=n_batch,
                mean=np.log(stddev),
                stddev=0.1,
                collections=collections,
            )
        else:
            self.q_sqrt = Variable(
                [self.size, self.size],
                n_layers=self.n_layers,
                n_batch=n_batch,
                mean=stddev,
                stddev=0.1 * stddev,
                collections=collections,
            )
        self.transform = transform if transform is not None else transforms.Identity()
        self.prior = prior
        self.u = None                 # current i.i.d. draw
        self._fixed_u = None          # test hook: pin u
        self._tensor = None           # pre-transform sample
        self.transformed_tensor = None

    # -- internals --------------------------------------------------------
    def _child(self, name) -> Variable:
        return object.__getattribute__(self, name)

    def _draw_u(self, sample_shape):
        if self._fixed_u is not None:
            return ad.Tensor(self._fixed_u)
        root = self.highest_parent
        if hasattr(root, "draw_normal"):
            return ad.leaf(lambda: root.draw_normal(sample_shape))
        return ad.leaf(lambda: np.random.default_rng().standard_normal(sample_shape))

    def _ensure_sample(self):
        """Draw u and build the reparameterized sample for this evaluation.

        Cached until the next `reset_eval` so objective and KL share one u
        (`variationals.py:107,127,204`).
        """
        if self.transformed_tensor is not None:
            return
        if self.collections == graph_key.LOCAL:
            raise ValueError(
                f"{self.long_name}: LOCAL variational must be fed before reading"
            )
        if self.n_batch is None:
            sample_shape = tuple(self.n_layers) + (self.size,)
        else:
            sample_shape = tuple(self.n_layers) + (self.n_batch, self.size)
        self.u = self._draw_u(sample_shape)
        self._tensor = self._sample(self.u)
        self.transformed_tensor = self.transform.forward(self._tensor)

    def _sample(self, u: ad.Tensor) -> ad.Tensor:
        """Reparameterization trick (`variationals.py:131-153`)."""
        q_mu = self._child("q_mu").tensor()
        q_sqrt = self._child("q_sqrt").tensor()
        if self.q_shape == "diagonal":
            return q_mu + ad.exp(q_sqrt) * u
        tril_mask = np.tril(np.ones((self.size, self.size)))
        sqrt = q_sqrt * tril_mask
        prod = sqrt @ u.reshape(tuple(u.shape) + (1,))
        return q_mu + prod.reshape(u.shape)

    # -- public surface ----------------------------------------------------
    def tensor(self):
        """A fresh (clipped, reshaped) sample (`variationals.py:112-119`)."""
        self._ensure_sample()
        t = self.transformed_tensor
        if self.collections != graph_key.LOCAL and self.n_batch is None:
            return clip(t.reshape(tuple(self.n_layers) + tuple(self._shape)))
        return clip(t.reshape(tuple(self.n_layers) + (-1,) + tuple(self._shape)))

    def feed(self, x):
        """LOCAL case: feed q_mu/q_sqrt (+hypers) from encoder output, then
        sample (`variationals.py:121-129`)."""
        Parameterized.feed(self, x)
        if self.collections == graph_key.LOCAL:
            n = x.shape[-2]
            sample_shape = tuple(self.n_layers) + (n, self.size)
            self.u = self._draw_u(sample_shape)
            self._tensor = self._sample(self.u)
            self.transformed_tensor = self.transform.forward(self._tensor)

    def reset_eval(self):
        Parameterized.reset_eval(self)
        self.u = None
        self._tensor = None
        self.transformed_tensor = None

    @property
    def logdet(self):
        """Log-determinant of q (`variationals.py:178-186`)."""
        q_sqrt = self._child("q_sqrt").tensor()
        if self.q_shape == "diagonal":
            return 2.0 * q_sqrt
        idx = (Ellipsis, np.arange(self.size), np.arange(self.size))
        return ad.log(ad.square(q_sqrt[idx]))

    def KL(self, collection=None):
        """`variationals.py:188-196`."""
        if collection is None or collection in self.collections:
            return self._KL()
        return 0.0

    def _KL(self):
        """Single-sample MC KL (`variationals.py:198-209`); reuses this
        evaluation's u."""
        self._ensure_sample()
        kl = -0.5 * ad.sum(np.log(2.0 * np.pi) + self.logdet + ad.square(self.u))
        if self.prior is not None:
            kl = kl - ad.sum(self.prior.logp(self.transformed_tensor))
            kl = kl - ad.sum(self.transform.log_jacobian(self._tensor))
        return kl


class Normal(Variational):
    """N prior, no transform; analytic-KL fast path
    (`variationals.py:211-230`)."""

    def __init__(
        self,
        shape,
        n_layers=[],
        n_batch=None,
        q_shape="diagonal",
        mean=0.0,
        stddev=1.0,
        collections=None,
    ):
        Variational.__init__(
            self,
            shape,
            q_shape=q_shape,
            n_layers=n_layers,
            n_batch=n_batch,
            mean=mean,
            stddev=stddev,
            prior=priors.Normal(),
            transform=transforms.Identity(),
            collections=collections,
        )

    def _KL(self):
        """Analytic shortcut (`variationals.py:225-230`)."""
        self._ensure_sample()
        return -0.5 * ad.sum(
            self.logdet + ad.square(self.u) - ad.square(self._tensor)
        )


class Gaussian(Normal):
    """Normal + trainable positive ``scale`` (`variationals.py:232-291`)."""

    def __init__(
        self,
        shape,
        n_layers=[],
        n_batch=None,
        q_shape="diagonal",
        mean=0.0,
        stddev=1.0,
        collections=None,
        scale_shape=None,
        scale_n_layers=None,
    ):
        # split mean/stddev into scale * q (`variationals.py:264-273`)
        if np.abs(mean) < stddev:
            scale_mean, q_mean, q_std = stddev, mean / stddev, 1.0
        else:
            scale_mean, q_mean, q_std = np.abs(mean), 1.0, stddev / np.abs(mean)
        Normal.__init__(
            self,
            shape,
            q_shape=q_shape,
            n_layers=n_layers,
            n_batch=n_batch,
            mean=q_mean,
            stddev=q_std,
            collections=collections,
        )
        scale_shape = scale_shape or [1 for _ in self._shape]
        scale_layer = scale_n_layers or [1 for _ in self.n_layers]
        self.scale = Variable(
            scale_shape,
            n_layers=scale_layer,
            n_batch=n_batch,
            mean=scale_mean,
            stddev=0.1 * scale_mean,
            transform=transforms.positive(),
            collections=self.collections,
        )

    def tensor(self):
        return self._child("scale").tensor() * Normal.tensor(self)


class OffsetGaussian(Gaussian):
    """Gaussian + trainable ``offset`` (`variationals.py:293-314`)."""

    def __init__(
        self,
        shape,
        n_layers=[],
        n_batch=None,
        q_shape="diagonal",
        mean=0.0,
        stddev=1.0,
        collections=None,
        scale_shape=None,
        scale_n_layers=None,
    ):
        Gaussian.__init__(
            self,
            shape=shape,
            n_layers=n_layers,
            n_batch=n_batch,
            q_shape=q_shape,
            mean=0.0,
            stddev=stddev,
            collections=collections,
            scale_shape=scale_shape,
            scale_n_layers=scale_n_layers,
        )
        offset_shape = scale_shape or [1 for _ in self._shape]
        offset_layer = scale_n_layers or [1 for _ in self.n_layers]
        self.offset = Variable(
            offset_shape,
            n_layers=offset_layer,
            n_batch=n_batch,
            mean=mean,
            stddev=0.1 * np.abs(mean) if mean else 0.1,
            collections=self.collections,
        )

    def tensor(self):
        return Gaussian.tensor(self) + self._child("offset").tensor()


class Beta(Variational):
    """Logistic-transformed variational with trainable Beta-prior
    hyper-parameters alpha, beta (`variationals.py:316-381`)."""

    def __init__(
        self,
        shape,
        n_layers=[],
        n_batch=None,
        q_shape="diagonal",
        mean=0.0,
        stddev=1.0,
        collections=None,
        scale_shape=None,
        scale_n_layers=None,
    ):
        Variational.__init__(
            self,
            shape,
            q_shape=q_shape,
            n_layers=n_layers,
            n_batch=n_batch,
            mean=mean,
            stddev=stddev,
            transform=transforms.Logistic(),
            collections=collections,
        )
        scale_shape = scale_shape or [1 for _ in self._shape]
        scale_layer = scale_n_layers or [1 for _ in self.n_layers]
        self.alpha = Variable(
            scale_shape,
            n_layers=scale_layer,
            n_batch=n_batch,
            mean=1.0,
            stddev=0.1,
            transform=transforms.positive(),
            collections=self.collections,
        )
        self.beta = Variable(
            scale_shape,
            n_layers=scale_layer,
            n_batch=n_batch,
            mean=1.0,
            stddev=0.1,
            transform=transforms.positive(),
            collections=self.collections,
        )

    def _KL(self):
        """`variationals.py:368-381` — Beta-density cross term."""
        self._ensure_sample()
        kl = -0.5 * ad.sum(np.log(2.0 * np.pi) + self.logdet + ad.square(self.u))
        alpha = self._child("alpha").tensor()
        beta_ = self._child("beta").tensor()
        kl = kl - ad.sum(densities.beta(alpha, beta_, self.transformed_tensor))
        kl = kl - ad.sum(self.transform.log_jacobian(self._tensor))
        return kl
