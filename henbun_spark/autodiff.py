"""Tiny pure-numpy reverse-mode autodiff.

Spark has no gradient engine — this is the single biggest delta from the
TensorFlow-based reference (`SURVEY.md §7`). The reference leans on TF
autodiff (`/root/reference/Henbun/model.py:220-221`); here, objectives are
expressed over `Tensor` wrappers and differentiated per Arrow batch inside
pandas UDFs (executor-side), or directly on the driver for small data.
Gradients aggregate linearly across partitions, so per-partition partial
gradients sum into the full gradient (map-side combine -> driver Adam).

Design: classic tape-free reverse-mode over numpy ndarrays with full
broadcasting support (gradients un-broadcast back to input shapes).
Matrix ops needed by the GP layer (cholesky, triangular_solve) implement
standard backward rules (Murray 2016, "Differentiation of the Cholesky
decomposition") without scipy.
"""

from __future__ import annotations

import numpy as np

from henbun_spark.config import settings


def _unbroadcast(grad: np.ndarray, shape: tuple) -> np.ndarray:
    """Sum grad over axes that were broadcast to reach ``grad.shape``."""
    if grad.shape == shape:
        return grad
    # added leading axes
    while grad.ndim > len(shape):
        grad = grad.sum(axis=0)
    for i, s in enumerate(shape):
        if s == 1 and grad.shape[i] != 1:
            grad = grad.sum(axis=i, keepdims=True)
    return grad.reshape(shape)


def _acc(t: "Tensor", g) -> None:
    """Add the gradient contribution `g` into ``t.grad``.

    The first contribution allocates the array: ``g + 0.0`` written into
    a fresh array of t's dtype is exactly ``zeros + g`` (``-0.0`` turns
    into ``0.0`` as it would), so no node pays a zero-fill."""
    if t.grad is None:
        t.grad = np.add(g, 0.0, out=np.empty_like(t.data))
    else:
        t.grad += g


class Tensor:
    __slots__ = ("data", "grad", "_backward", "_prev", "requires_grad")
    __array_priority__ = 100  # so np.ndarray + Tensor defers to us

    def __init__(self, data, requires_grad: bool = False, _prev=(), _backward=None):
        # compute dtype follows settings.dtypes.float_type (float64 default;
        # float32 mode halves Arrow/broadcast bytes at reference tolerances)
        self.data = np.asarray(data, dtype=settings.dtypes.float_type)
        self.grad = None
        if not requires_grad:
            for p in _prev:
                if p.requires_grad:
                    requires_grad = True
                    break
        self.requires_grad = requires_grad
        self._prev = _prev
        self._backward = _backward

    # -- graph ---------------------------------------------------------
    @property
    def shape(self):
        return self.data.shape

    @property
    def ndim(self):
        return self.data.ndim

    @property
    def size(self):
        return self.data.size

    def backward(self, grad=None):
        if grad is None:
            grad = np.ones_like(self.data)
        topo, visited = [], set()

        def build(t):
            if id(t) in visited or not t.requires_grad:
                return
            visited.add(id(t))
            for p in t._prev:
                build(p)
            topo.append(t)

        build(self)
        # gradients are allocated by each node's first contribution
        # (`_acc`); clearing here drops any left by an earlier backward
        for t in topo:
            t.grad = None
        self.grad = np.asarray(grad, dtype=self.data.dtype)
        for t in reversed(topo):
            if t._backward is not None and t.grad is not None:
                t._backward(t.grad)

    # -- helpers --------------------------------------------------------
    @staticmethod
    def _wrap(x):
        return x if isinstance(x, Tensor) else Tensor(x)

    def _binop(self, other, fwd, bwd_self, bwd_other):
        other = Tensor._wrap(other)
        out_data = fwd(self.data, other.data)
        out = Tensor(out_data, _prev=(self, other))

        def _backward(g):
            if self.requires_grad:
                _acc(self, _unbroadcast(bwd_self(g, self.data, other.data, out_data), self.shape))
            if other.requires_grad:
                _acc(other, _unbroadcast(bwd_other(g, self.data, other.data, out_data), other.shape))

        out._backward = _backward
        return out

    # -- arithmetic ------------------------------------------------------
    def __add__(self, other):
        return self._binop(other, lambda a, b: a + b,
                           lambda g, a, b, o: g, lambda g, a, b, o: g)

    __radd__ = __add__

    def __sub__(self, other):
        return self._binop(other, lambda a, b: a - b,
                           lambda g, a, b, o: g, lambda g, a, b, o: -g)

    def __rsub__(self, other):
        return Tensor._wrap(other).__sub__(self)

    def __mul__(self, other):
        return self._binop(other, lambda a, b: a * b,
                           lambda g, a, b, o: g * b, lambda g, a, b, o: g * a)

    __rmul__ = __mul__

    def __truediv__(self, other):
        return self._binop(other, lambda a, b: a / b,
                           lambda g, a, b, o: g / b,
                           lambda g, a, b, o: -g * a / (b * b))

    def __rtruediv__(self, other):
        return Tensor._wrap(other).__truediv__(self)

    def __pow__(self, p):
        assert isinstance(p, (int, float))
        out = Tensor(self.data ** p, _prev=(self,))

        def _backward(g):
            if self.requires_grad:
                _acc(self, g * p * self.data ** (p - 1))

        out._backward = _backward
        return out

    def __neg__(self):
        return self * -1.0

    def __matmul__(self, other):
        other = Tensor._wrap(other)
        out = Tensor(self.data @ other.data, _prev=(self, other))
        a, b = self, other

        def _backward(g):
            if a.requires_grad:
                ga = g @ np.swapaxes(b.data, -1, -2)
                _acc(a, _unbroadcast(ga, a.shape))
            if b.requires_grad:
                gb = np.swapaxes(a.data, -1, -2) @ g
                _acc(b, _unbroadcast(gb, b.shape))

        out._backward = _backward
        return out

    def __getitem__(self, idx):
        out = Tensor(self.data[idx], _prev=(self,))

        def _backward(g):
            if self.requires_grad:
                if self.grad is None:
                    self.grad = np.zeros_like(self.data)
                np.add.at(self.grad, idx, g)

        out._backward = _backward
        return out

    def reshape(self, *shape):
        if len(shape) == 1 and isinstance(shape[0], (tuple, list)):
            shape = tuple(shape[0])
        old = self.shape
        out = Tensor(self.data.reshape(shape), _prev=(self,))

        def _backward(g):
            if self.requires_grad:
                _acc(self, g.reshape(old))

        out._backward = _backward
        return out

    @property
    def T(self):
        out = Tensor(np.swapaxes(self.data, -1, -2), _prev=(self,))

        def _backward(g):
            if self.requires_grad:
                _acc(self, np.swapaxes(g, -1, -2))

        out._backward = _backward
        return out

    def sum(self, axis=None, keepdims=False):
        out = Tensor(self.data.sum(axis=axis, keepdims=keepdims), _prev=(self,))

        def _backward(g):
            if not self.requires_grad:
                return
            if axis is None:
                _acc(self, np.broadcast_to(g, self.shape))
            else:
                gg = g if keepdims else np.expand_dims(g, axis)
                _acc(self, np.broadcast_to(gg, self.shape))

        out._backward = _backward
        return out

    def mean(self, axis=None, keepdims=False):
        n = self.size if axis is None else self.shape[axis]
        return self.sum(axis=axis, keepdims=keepdims) * (1.0 / n)

    def item(self) -> float:
        return float(self.data)

    def __repr__(self):
        return f"Tensor(shape={self.shape}, requires_grad={self.requires_grad})"


# -- unary ops -------------------------------------------------------------

def _unary(x, fwd, dfdx):
    x = Tensor._wrap(x)
    out_data = fwd(x.data)
    out = Tensor(out_data, _prev=(x,))

    def _backward(g):
        if x.requires_grad:
            _acc(x, g * dfdx(x.data, out_data))

    out._backward = _backward
    return out


def exp(x):
    return _unary(x, np.exp, lambda a, o: o)


def log(x):
    return _unary(x, np.log, lambda a, o: 1.0 / a)


def log1p(x):
    return _unary(x, np.log1p, lambda a, o: 1.0 / (1.0 + a))


def sqrt(x):
    return _unary(x, np.sqrt, lambda a, o: 0.5 / o)


def abs(x):  # noqa: A001 - mirrors tf.abs
    return _unary(x, np.abs, lambda a, o: np.sign(a))


def square(x):
    return _unary(x, np.square, lambda a, o: 2.0 * a)


def sigmoid(x):
    def fwd(a):
        out = np.empty_like(a)
        pos = a >= 0
        out[pos] = 1.0 / (1.0 + np.exp(-a[pos]))
        ea = np.exp(a[~pos])
        out[~pos] = ea / (1.0 + ea)
        return out

    return _unary(x, fwd, lambda a, o: o * (1.0 - o))


def tanh(x):
    return _unary(x, np.tanh, lambda a, o: 1.0 - o * o)


def relu(x):
    return _unary(x, lambda a: np.maximum(a, 0.0), lambda a, o: (a > 0).astype(np.float64))


def softplus(x):
    return _unary(
        x,
        lambda a: np.maximum(a, 0.0) + np.log1p(np.exp(-np.abs(a))),
        lambda a, o: _sigmoid_np(a),
    )


def _sigmoid_np(a):
    out = np.empty_like(a)
    pos = a >= 0
    out[pos] = 1.0 / (1.0 + np.exp(-a[pos]))
    ea = np.exp(a[~pos])
    out[~pos] = ea / (1.0 + ea)
    return out


def lgamma(x):
    from henbun_spark.utils import digamma as _digamma, lgamma as _lgamma

    return _unary(
        x,
        lambda a: np.asarray(_lgamma(a)),
        lambda a, o: np.asarray(_digamma(a)),
    )


def clip(x, lo, hi):
    return _unary(
        x,
        lambda a: np.clip(a, lo, hi),
        lambda a, o: ((a >= lo) & (a <= hi)).astype(np.float64),
    )


def sum(x, axis=None, keepdims=False):  # noqa: A001 - mirrors tf.reduce_sum
    return Tensor._wrap(x).sum(axis=axis, keepdims=keepdims)


def mean(x, axis=None, keepdims=False):
    return Tensor._wrap(x).mean(axis=axis, keepdims=keepdims)


def matmul(a, b):
    return Tensor._wrap(a) @ b


def transpose(x, axes=None):
    """General axis permutation; backward permutes the gradient by the
    inverse axes."""
    x = Tensor._wrap(x)
    axes_t = tuple(range(x.ndim))[::-1] if axes is None else tuple(axes)
    inv = np.argsort(axes_t)
    out = Tensor(np.transpose(x.data, axes_t), _prev=(x,))

    def _backward(g):
        if x.requires_grad:
            _acc(x, np.transpose(g, inv))

    out._backward = _backward
    return out


def maximum(a, b):
    a, b = Tensor._wrap(a), Tensor._wrap(b)
    return a._binop(
        b,
        lambda x, y: np.maximum(x, y),
        lambda g, x, y, o: g * (x >= y),
        lambda g, x, y, o: g * (y > x),
    )


def concat(tensors, axis=0):
    tensors = [Tensor._wrap(t) for t in tensors]
    out = Tensor(np.concatenate([t.data for t in tensors], axis=axis), _prev=tuple(tensors))
    sizes = [t.shape[axis] for t in tensors]

    def _backward(g):
        parts = np.split(g, np.cumsum(sizes)[:-1], axis=axis)
        for t, p in zip(tensors, parts):
            if t.requires_grad:
                _acc(t, p)

    out._backward = _backward
    return out


def log_sum_exp(x, axis=-1):
    """Stable LSE with gradient (mirrors `tf_wraps.py:42-48`)."""
    x = Tensor._wrap(x)
    m = np.max(x.data, axis=axis, keepdims=True)
    shifted = x - Tensor(m)
    return log(exp(shifted).sum(axis=axis)) + Tensor(np.squeeze(m, axis=axis))


# -- linear-algebra ops (GP layer) ------------------------------------------

def _solve_tri_2d(L, b, lower=True, trans=False):
    A = L.T if trans else L
    low = (not lower) if trans else lower
    n = A.shape[0]
    x = np.zeros_like(b, dtype=np.float64)
    rng = range(n) if low else range(n - 1, -1, -1)
    for i in rng:
        if low:
            x[i] = (b[i] - A[i, :i] @ x[:i]) / A[i, i]
        else:
            x[i] = (b[i] - A[i, i + 1:] @ x[i + 1:]) / A[i, i]
    return x


def _solve_tri_np(L, b, lower=True, trans=False):
    """Triangular solve by substitution, batched over leading axes of L/b.

    scipy is unavailable in this runtime; n is bounded by design (inducing
    points m <= ~1k), the batch axis is what distributes on Spark.
    """
    L = np.asarray(L, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    if L.ndim == 2 and b.ndim <= 2:
        return _solve_tri_2d(L, b, lower, trans)
    # broadcast leading dims
    lead = np.broadcast_shapes(L.shape[:-2], b.shape[:-2])
    Lb = np.broadcast_to(L, lead + L.shape[-2:]).reshape((-1,) + L.shape[-2:])
    bb = np.broadcast_to(b, lead + b.shape[-2:]).reshape((-1,) + b.shape[-2:])
    out = np.stack(
        [_solve_tri_2d(Lb[i], bb[i], lower, trans) for i in range(Lb.shape[0])]
    )
    return out.reshape(lead + b.shape[-2:])


def cholesky(a):
    """chol(A) with Murray (2016) backward rule; batched over leading axes."""
    a = Tensor._wrap(a)
    L = np.linalg.cholesky(a.data)
    out = Tensor(L, _prev=(a,))

    def _phi(M):
        P = np.tril(M)
        P[np.diag_indices_from(P)] *= 0.5
        return P

    def _bw_2d(Lk, Lbar):
        P = _phi(Lk.T @ np.tril(Lbar))
        tmp = _solve_tri_2d(Lk, P.T, lower=True, trans=True).T    # P @ L^{-1}
        Abar = _solve_tri_2d(Lk, tmp, lower=True, trans=True)     # L^{-T} @ ...
        return 0.5 * (Abar + Abar.T)

    def _backward(g):
        if not a.requires_grad:
            return
        if L.ndim == 2:
            _acc(a, _bw_2d(L, g))
        else:
            n = L.shape[-1]
            Lf = L.reshape(-1, n, n)
            gf = np.asarray(g).reshape(-1, n, n)
            ab = np.stack([_bw_2d(Lf[i], gf[i]) for i in range(Lf.shape[0])])
            _acc(a, ab.reshape(L.shape))

    out._backward = _backward
    return out


def triangular_solve(L, b, lower=True):
    """x = L^{-1} b with gradients to both L and b (batched)."""
    L, b = Tensor._wrap(L), Tensor._wrap(b)
    bdat = b.data if b.data.ndim > 1 else b.data[:, None]
    squeeze = b.data.ndim == 1
    x = _solve_tri_np(L.data, bdat, lower=lower)
    out = Tensor(x[..., 0] if squeeze else x, _prev=(L, b))

    def _backward(g):
        gmat = g if not squeeze else g[:, None]
        gb = _solve_tri_np(L.data, gmat, lower=lower, trans=True)  # L^{-T} g
        if b.requires_grad:
            _acc(b, gb[..., 0] if squeeze else _unbroadcast(gb, b.shape))
        if L.requires_grad:
            gL = -gb @ np.swapaxes(x, -1, -2)
            gL = np.tril(gL) if lower else np.triu(gL)
            _acc(L, _unbroadcast(gL, L.shape))

    out._backward = _backward
    return out
