"""GP posterior sampling (reference: `/root/reference/Henbun/gp/gp.py`).

Whitened parameterization: u ~ N(0, I) (a `variationals.Normal`), correlated
through the Cholesky factor of the kernel (`gp.py:14-21`).

Spark execution shape (SURVEY §2.9 G3): `SparseGP.samples` distributes
cleanly over the n (prediction-coordinate) axis — broadcast the inducing
points z and the m-by-m Cholesky, then compute per-partition K(z, x_p)
solves inside `mapInPandas`. The bounded m <= ~1k keeps every per-task
matrix small; nothing n-by-n is ever materialized for the sparse path.
"""

from __future__ import annotations

import numpy as np

from henbun_spark import autodiff as ad
from henbun_spark.config import settings
from henbun_spark.param import Parameterized, Variable, graph_key


def _draw_normal(node, shape):
    root = node.highest_parent
    if hasattr(root, "draw_normal"):
        return ad.leaf(lambda: root.draw_normal(shape))
    return ad.leaf(lambda: np.random.default_rng().standard_normal(shape))


def _t(x):
    return x if isinstance(x, ad.Tensor) else ad.Tensor(x)


class GP(Parameterized):
    """Dense whitened GP posterior sample (`gp.py:9-50`).

    >>> gp = GP(kernels.UnitRBF())
    >>> u = variationals.Normal(shape=[N, n])
    >>> samples = gp.samples(x, u)   # [N, n]
    """

    def __init__(self, kern):
        Parameterized.__init__(self)
        self.kern = kern

    def samples(self, x, u):
        """u @ Cholesky(K(x))^T (`gp.py:37-50`); x: [n,d], u: [N,n]."""
        kern = object.__getattribute__(self, "kern")
        L = kern.Cholesky(_t(x))
        return _t(u) @ L.T


class SparseGP(GP):
    """Inducing-point sparse approximation (`gp.py:53-143`) with trainable
    z and three correction modes: 'neglected' / 'diagonal' / 'fullrank'."""

    def __init__(self, kern, z, collections=None):
        GP.__init__(self, kern)
        collections = collections if collections is not None else [graph_key.VARIABLES]
        self.z = Variable(shape=list(np.asarray(z).shape), collections=collections)
        self.z = np.asarray(z, dtype=np.float64)  # deferred assign
        self.m = len(z)

    def _z(self):
        return object.__getattribute__(self, "z").tensor()

    def samples(self, x, u, q_shape="diagonal"):
        """Posterior samples at x (`gp.py:99-143`).

        x: [n,d] or [N,n,d]; u: [N,m] whitened inducing values.
        """
        assert q_shape in ("diagonal", "neglected", "fullrank")
        kern = object.__getattribute__(self, "kern")
        x = _t(x)
        u = _t(u)
        N = u.shape[0]
        LnT = self._effective_LT(x)  # [m,n] or [N,m,n]
        if x.ndim == 2:
            samples = u @ LnT  # [N,m]@[m,n] -> [N,n]
        elif x.ndim == 3:
            prod = u.reshape((N, 1, u.shape[1])) @ LnT  # [N,1,m]@[N,m,n]
            samples = prod.reshape((N, prod.shape[-1]))
        else:
            raise ValueError("x must be [n,d] or [N,n,d]")

        if q_shape == "neglected":
            return samples
        if q_shape == "diagonal":
            diag_cov = self._additional_cov(x, LnT, "diagonal")  # [n] or [N,n]
            noise = _draw_normal(self, tuple(x.shape[:-1]))
            return samples + ad.sqrt(ad.abs(diag_cov)) * noise
        # fullrank
        n = x.shape[-2]
        jitterI = np.eye(n) * settings.numerics.jitter_level
        chol = ad.cholesky(self._additional_cov(x, LnT, "fullrank") + jitterI)
        if x.ndim == 2:
            noise = _draw_normal(self, (N, n))
            return samples + noise @ chol.T
        noise = _draw_normal(self, (N, 1, n))
        corr = noise @ chol.T
        return samples + corr.reshape((N, n))

    def _effective_LT(self, x):
        """L_m^{-1} K(z, x) (`gp.py:146-174`)."""
        kern = object.__getattribute__(self, "kern")
        z = self._z()
        Lm = kern.Cholesky(z)  # [m,m]
        if x.ndim == 2:
            return ad.triangular_solve(Lm, kern.K(z, x), lower=True)  # [m,n]
        if x.ndim == 3:
            N = x.shape[0]
            Lminv = ad.triangular_solve(Lm, np.eye(self.m), lower=True)  # [m,m]
            zb = z.reshape((1,) + tuple(z.shape))
            ztile = ad.Tensor(np.ones((N, 1, 1))) * zb  # broadcast tile [N,m,d]
            return Lminv @ kern.K(ztile, x)  # [m,m]@[N,m,n] -> [N,m,n]
        raise ValueError("x must be [n,d] or [N,n,d]")

    def _additional_cov(self, x, LnT, q_shape):
        """Knn - Knm Kmm^{-1} Kmn (`gp.py:177-192`)."""
        kern = object.__getattribute__(self, "kern")
        if q_shape == "diagonal":
            return kern.Kdiag(x) - ad.square(LnT).sum(axis=-2)
        Knn = kern.K(x)
        return Knn - LnT.T @ LnT
