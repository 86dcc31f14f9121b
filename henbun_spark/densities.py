"""Elementwise log-density library — the engine's scalar-function surface.

Reference semantics: `/root/reference/Henbun/densities.py:25-103` (itself
standard textbook log-pdfs). Triple-mode dispatch:

* pyspark ``Column`` inputs -> Column expression built from
  `pyspark.sql.functions` (JVM-side, whole-stage codegen); `lgamma` has no
  Spark SQL builtin so densities that need it route through an
  Arrow-batched pandas UDF.
* ``autodiff.Tensor`` inputs -> differentiable graph (objective tracing).
* numpy inputs -> eager numpy.
"""

from __future__ import annotations

import numpy as np

from henbun_spark import autodiff as ad
from henbun_spark.utils import is_column, lgamma as _np_lgamma

try:
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def _lgamma_udf(s: pd.Series) -> pd.Series:  # kept for parity testing
        return pd.Series(_np_lgamma(s.to_numpy(dtype=np.float64)))

except ImportError:  # pragma: no cover
    F = None
    _lgamma_udf = None


def _lgamma_col_core(z):
    """Lanczos series as Column arithmetic — mirrors utils._lgamma_core
    term-for-term so JVM and numpy agree to the add/mul/div bit (log
    differs by <= 1 ulp between Math.log and libm)."""
    from henbun_spark.utils import _LANCZOS_COEF, _LANCZOS_G

    series = F.lit(float(_LANCZOS_COEF[0]))
    for i in range(1, len(_LANCZOS_COEF)):
        series = series + F.lit(float(_LANCZOS_COEF[i])) / (z + F.lit(float(i)))
    t = z + F.lit(_LANCZOS_G + 0.5)
    half_log_2pi = 0.5 * float(np.log(2.0 * np.pi))
    return (
        F.lit(half_log_2pi) + (z + F.lit(0.5)) * F.log(t) - t + F.log(series)
    )


def _lgamma_col(x):
    """log Gamma(x) as a pure Column expression (whole-stage codegen —
    no Python worker in the poisson/gamma/beta/student-t hot paths).
    Reflection formula below 0.5, Lanczos core elsewhere."""
    core = _lgamma_col_core(x - F.lit(1.0))
    refl = F.log(
        F.lit(float(np.pi)) / F.abs(F.sin(F.lit(float(np.pi)) * x))
    ) - _lgamma_col_core((F.lit(1.0) - x) - F.lit(1.0))
    return F.when(x < F.lit(0.5), refl).otherwise(core)

_HALF_LOG_2PI = 0.5 * np.log(2.0 * np.pi)


class _NPMath:
    log = staticmethod(np.log)
    exp = staticmethod(np.exp)
    log1p = staticmethod(np.log1p)
    square = staticmethod(np.square)
    abs = staticmethod(np.abs)
    maximum = staticmethod(np.maximum)
    clip = staticmethod(np.clip)
    lgamma = staticmethod(_np_lgamma)

    @staticmethod
    def where(c, a, b):
        return np.where(c, a, b)


class _ADMath:
    log = staticmethod(ad.log)
    exp = staticmethod(ad.exp)
    log1p = staticmethod(ad.log1p)
    square = staticmethod(ad.square)
    abs = staticmethod(ad.abs)
    maximum = staticmethod(ad.maximum)
    lgamma = staticmethod(ad.lgamma)

    @staticmethod
    def clip(x, lo, hi):
        return ad.clip(x, lo, hi)


def _mode(*xs):
    if any(is_column(x) for x in xs):
        return "col"
    if any(isinstance(x, ad.Tensor) for x in xs):
        return "ad"
    return "np"


def _mathlib(*xs):
    return _ADMath if _mode(*xs) == "ad" else _NPMath


def _c(x):
    """Promote python scalars to Column literals inside Column expressions."""
    return F.lit(float(x)) if isinstance(x, (int, float)) else x


def lgamma(x):
    """log Gamma(x): Column (codegen Lanczos), Tensor (autodiff) or numpy."""
    if is_column(x):
        return _lgamma_col(x)
    if isinstance(x, ad.Tensor):
        return ad.lgamma(x)
    return _np_lgamma(x)


def gaussian(x, mu, var):
    """`densities.py:25-27`."""
    if _mode(x, mu, var) == "col":
        x, mu, var = _c(x), _c(mu), _c(var)
        return F.lit(-_HALF_LOG_2PI) - 0.5 * F.log(var) - 0.5 * (mu - x) ** 2 / var
    m = _mathlib(x, mu, var)
    return -_HALF_LOG_2PI - 0.5 * m.log(var) - 0.5 * m.square(mu - x) / var


def lognormal(x, mu, var):
    """`densities.py:30-32`."""
    if _mode(x, mu, var) == "col":
        lnx = F.log(_c(x))
        return gaussian(lnx, _c(mu), _c(var)) - lnx
    m = _mathlib(x, mu, var)
    lnx = m.log(x)
    return gaussian(lnx, mu, var) - lnx


def bernoulli(p, y):
    """`densities.py:35-36` (modernizes the deprecated tf.select)."""
    if _mode(p, y) == "col":
        p, y = _c(p), _c(y)
        return F.when(y == F.lit(1.0), F.log(p)).otherwise(F.log(F.lit(1.0) - p))
    if _mode(p, y) == "ad":
        # select(y==1, p, 1-p) differentiable in p; the mask takes no
        # gradient and is a traced leaf, so a replay reads the batch's y
        if isinstance(y, ad.Tensor):
            mask = ad.leaf(lambda: (y.data == 1).astype(np.float64))
        else:
            mask = ad.Tensor((np.asarray(y) == 1).astype(np.float64))
        return ad.log(p * mask + (1.0 - p) * (1.0 - mask))
    p, y = np.asarray(p, dtype=np.float64), np.asarray(y)
    return np.where(y == 1, np.log(p), np.log(1.0 - p))


def poisson(lamb, y):
    """`densities.py:39-40`."""
    if _mode(lamb, y) == "col":
        lamb, y = _c(lamb), _c(y)
        return y * F.log(lamb) - lamb - lgamma(y + F.lit(1.0))
    m = _mathlib(lamb, y)
    return y * m.log(lamb) - lamb - m.lgamma(y + 1.0)


def exponential(lamb, y):
    """`densities.py:43-44`."""
    if _mode(lamb, y) == "col":
        lamb, y = _c(lamb), _c(y)
        return -y / lamb - F.log(lamb)
    m = _mathlib(lamb, y)
    return -y / lamb - m.log(lamb)


def gamma(shape, scale, x):
    """`densities.py:47-49`."""
    if _mode(shape, scale, x) == "col":
        shape, scale, x = _c(shape), _c(scale), _c(x)
        return (
            -shape * F.log(scale)
            - lgamma(shape)
            + (shape - F.lit(1.0)) * F.log(x)
            - x / scale
        )
    m = _mathlib(shape, scale, x)
    return -shape * m.log(scale) - m.lgamma(shape) + (shape - 1.0) * m.log(x) - x / scale


def student_t(x, mean, scale, deg_free):
    """`densities.py:52-59`; deg_free may itself be a tensor/Column."""
    if _mode(x, mean, scale, deg_free) == "col":
        x, mean, scale, deg_free = _c(x), _c(mean), _c(scale), _c(deg_free)
        const = (
            lgamma((deg_free + F.lit(1.0)) * F.lit(0.5))
            - lgamma(deg_free * F.lit(0.5))
            - F.lit(0.5) * (F.log(scale ** 2) + F.log(deg_free) + F.lit(np.log(np.pi)))
        )
        return const - F.lit(0.5) * (deg_free + F.lit(1.0)) * F.log(
            F.lit(1.0) + (F.lit(1.0) / deg_free) * ((x - mean) / scale) ** 2
        )
    m = _mathlib(x, mean, scale, deg_free)
    const = (
        m.lgamma((deg_free + 1.0) * 0.5)
        - m.lgamma(deg_free * 0.5)
        - 0.5 * (m.log(m.square(scale)) + m.log(deg_free) + np.log(np.pi))
    )
    return const - 0.5 * (deg_free + 1.0) * m.log(
        1.0 + (1.0 / deg_free) * m.square((x - mean) / scale)
    )


def beta(alpha, beta_, y):
    """`densities.py:62-68` — clips y into [1e-6, 1-1e-6] first."""
    if _mode(alpha, beta_, y) == "col":
        alpha, beta_, y = _c(alpha), _c(beta_), _c(y)
        y = F.least(F.greatest(y, F.lit(1e-6)), F.lit(1.0 - 1e-6))
        return (
            (alpha - F.lit(1.0)) * F.log(y)
            + (beta_ - F.lit(1.0)) * F.log(F.lit(1.0) - y)
            + lgamma(alpha + beta_)
            - lgamma(alpha)
            - lgamma(beta_)
        )
    m = _mathlib(alpha, beta_, y)
    y = m.clip(y, 1e-6, 1.0 - 1e-6)
    return (
        (alpha - 1.0) * m.log(y)
        + (beta_ - 1.0) * m.log(1.0 - y)
        + m.lgamma(alpha + beta_)
        - m.lgamma(alpha)
        - m.lgamma(beta_)
    )


def laplace(mu, sigma, y):
    """`densities.py:71-72`."""
    if _mode(mu, sigma, y) == "col":
        mu, sigma, y = _c(mu), _c(sigma), _c(y)
        return -F.abs(mu - y) / sigma - F.log(F.lit(2.0) * sigma)
    m = _mathlib(mu, sigma, y)
    return -m.abs(mu - y) / sigma - m.log(2.0 * sigma)


def multivariate_normal(x, mu, L):
    """`densities.py:75-91` — Tensor/numpy only (matrix-shaped; used inside
    grouped pandas UDFs, never as a per-row Column expression).

    L is the Cholesky factor of the covariance; x, mu are vectors or
    matrices with independence over columns.
    """
    if _mode(x, mu, L) == "ad":
        x = x if isinstance(x, ad.Tensor) else ad.Tensor(x)
        mu = mu if isinstance(mu, ad.Tensor) else ad.Tensor(mu)
        L = L if isinstance(L, ad.Tensor) else ad.Tensor(L)
        d = x - mu
        if d.ndim == 1:
            d = d.reshape((d.shape[0], 1))
        alpha = ad.triangular_solve(L, d, lower=True)
        num_col = 1 if x.ndim == 1 else x.shape[1]
        num_dims = x.shape[0]
        diag_idx = np.diag_indices(L.shape[0])
        ret = -0.5 * num_dims * num_col * np.log(2 * np.pi)
        ret = ret - num_col * ad.log(L[diag_idx]).sum()
        return ret - 0.5 * ad.square(alpha).sum()
    x = np.asarray(x, dtype=np.float64)
    mu = np.asarray(mu, dtype=np.float64)
    L = np.asarray(L, dtype=np.float64)
    d = x - mu
    if d.ndim == 1:
        d = d[:, None]
    alpha = _solve_lower_triangular(L, d)
    num_col = 1 if x.ndim == 1 else x.shape[1]
    num_dims = x.shape[0]
    ret = -0.5 * num_dims * num_col * np.log(2 * np.pi)
    ret += -num_col * np.sum(np.log(np.diag(L)))
    ret += -0.5 * np.sum(np.square(alpha))
    return ret


def _solve_lower_triangular(L: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Forward substitution (scipy unavailable in this runtime)."""
    n = L.shape[0]
    x = np.zeros_like(b, dtype=np.float64)
    for i in range(n):
        x[i] = (b[i] - L[i, :i] @ x[:i]) / L[i, i]
    return x


def bimixture(fraction, logp0, logp1):
    """log(f*exp(p0) + (1-f)*exp(p1)) via stable LSE (`densities.py:94-103`)."""
    mode = _mode(fraction, logp0, logp1)
    if mode == "col":
        fraction, logp0, logp1 = _c(fraction), _c(logp0), _c(logp1)
        a = logp0 + F.log(fraction)
        b = logp1 + F.log(F.lit(1.0) - fraction)
        m = F.greatest(a, b)
        return m + F.log(F.exp(a - m) + F.exp(b - m))
    m = _mathlib(fraction, logp0, logp1)
    a = logp0 + m.log(fraction)
    b = logp1 + m.log(1.0 - fraction)
    if mode == "ad":
        a = a if isinstance(a, ad.Tensor) else ad.Tensor(a)
        b = b if isinstance(b, ad.Tensor) else ad.Tensor(b)
        mx = ad.maximum(a, b)
        return mx + ad.log(ad.exp(a - mx) + ad.exp(b - mx))
    mx = np.maximum(a, b)
    return mx + np.log(np.exp(a - mx) + np.exp(b - mx))
