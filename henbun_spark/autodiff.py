"""Tiny pure-numpy reverse-mode autodiff that records a replayable tape.

Spark has no gradient engine — this is the single biggest delta from the
TensorFlow-based reference (`SURVEY.md §7`). The reference leans on TF
autodiff (`/root/reference/Henbun/model.py:220-221`); here, objectives are
expressed over `Tensor` wrappers and differentiated per Arrow batch inside
pandas UDFs (executor-side), or directly on the driver for small data.
Gradients aggregate linearly across partitions, so per-partition partial
gradients sum into the full gradient (map-side combine -> driver Adam).

Design: reverse-mode over numpy ndarrays with full broadcasting support
(gradients un-broadcast back to input shapes). Matrix ops needed by the
GP layer (cholesky, triangular_solve) implement standard backward rules
(Murray 2016, "Differentiation of the Cholesky decomposition") without
scipy.

Trace and replay (the reference's compile-once graph, `SURVEY.md §4
O11`): every op computes its value eagerly and keeps two rules on the
node it returns. The forward rule recomputes ``data`` from its inputs'
``.data``; the backward rule is called with the node's gradient and
current ``data`` and reads its inputs' current ``.data`` (never an array
captured when the node was built, and never the node itself, so no rule
makes a reference cycle and a dropped graph is freed at once). Values from
outside the graph — a Variable's free array, a data feed, an RNG draw,
or a non-differentiable value computed from other nodes — enter through
`leaf`, whose forward rule re-reads them. Inside `record()` every new
node is collected in creation order; `Tape` keeps those nodes and the
backward post-order of the output. `Tape.replay` then rewrites each
node's ``data`` through its forward rule (with the same
``np.asarray(..., float_type)`` as `Tensor.__init__`) and runs the
stored backward rules in the stored order: the same numpy calls and the
same `_acc` calls as an eager evaluation, so every bit is the same. A
value read from ``.data`` in plain numpy and wrapped as a constant is
NOT re-read by a replay; code that is replayed computes such values
with ops or `leaf`.

Gradient ownership: a node's first gradient contribution is stored as
is, without a copy, so ``t.grad`` may alias another node's gradient or
be a read-only ``np.broadcast_to`` view; every later contribution
allocates a fresh sum (`_acc`). This is safe because nothing writes a
gradient in place: `backward` and every rule here only read them, and
the optimizers (`model.Adam`, `model.GradientDescent`) and
`spark_exec._Replica.evaluate` only read the leaf gradients they are
handed. Code that wants to modify a ``.grad`` copies it first. A replay
never writes a node's ``data`` in place either: it binds a new array.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

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

    The first contribution is borrowed when it already has t's shape and
    dtype: ``t.grad`` becomes `g` itself, which may be another node's
    gradient or a read-only broadcast view and is never written. A
    first contribution of another shape or dtype is written into a fresh
    array of t's dtype (``g + 0.0``, so float32 gradients stay float32).
    A later contribution allocates ``t.grad + g`` and never adds in
    place, which keeps any borrowed array untouched."""
    if t.grad is not None:
        t.grad = np.add(t.grad, g, out=np.empty_like(t.data))
    elif (isinstance(g, np.ndarray) and g.shape == t.data.shape
          and g.dtype == t.data.dtype):
        t.grad = g
    else:
        t.grad = np.add(g, 0.0, out=np.empty_like(t.data))


def _is_basic_index(idx) -> bool:
    """True for a numpy basic index (ints, slices, Ellipsis, None): it
    selects each element at most once, so its gradient is a plain
    assignment into zeros."""
    for i in idx if isinstance(idx, tuple) else (idx,):
        if not (i is None or i is Ellipsis or isinstance(i, slice)
                or (isinstance(i, (int, np.integer)) and not isinstance(i, bool))):
            return False
    return True


class _Recorder(threading.local):
    """Per-thread list that collects new nodes inside `record()`. Per
    thread because a StreamingTrainer fits on Spark's foreachBatch
    callback thread while the main thread may evaluate too."""

    nodes = None


_recorder = _Recorder()


@contextmanager
def record():
    """Collect every `Tensor` this thread creates inside the block, in
    creation order, into the yielded list (the input of `Tape`)."""
    prev, nodes = _recorder.nodes, []
    _recorder.nodes = nodes
    try:
        yield nodes
    finally:
        _recorder.nodes = prev


class Tensor:
    __slots__ = ("data", "grad", "_forward", "_backward", "_prev", "requires_grad")
    __array_priority__ = 100  # so np.ndarray + Tensor defers to us

    def __init__(self, data, requires_grad: bool = False, _prev=()):
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
        # a constant has no forward rule: a replay keeps its data
        self._forward = None
        self._backward = None
        nodes = _recorder.nodes
        if nodes is not None:
            nodes.append(self)

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
        self._backprop(self._post_order(), grad)

    def _post_order(self) -> list:
        """The nodes that need a gradient, each after all of its inputs,
        in the order a recursive depth-first walk over `_prev` would
        append them (explicit stack, so deep graphs do not recurse)."""
        topo, visited = [], {id(self)}
        stack = [(self, iter(self._prev))] if self.requires_grad else []
        while stack:
            t, inputs = stack[-1]
            for p in inputs:
                if p.requires_grad and id(p) not in visited:
                    visited.add(id(p))
                    stack.append((p, iter(p._prev)))
                    break
            else:
                stack.pop()
                topo.append(t)
        return topo

    def _backprop(self, topo: list, grad=None) -> None:
        """Run the backward rules of `topo` (this node's `_post_order`)
        from the output down."""
        if grad is None:
            grad = np.ones_like(self.data)
        # gradients are set by each node's first contribution (`_acc`);
        # clearing here drops any left by an earlier backward
        for t in topo:
            t.grad = None
        self.grad = np.asarray(grad, dtype=self.data.dtype)
        for t in reversed(topo):
            if t._backward is not None and t.grad is not None:
                t._backward(t.grad, t.data)

    # -- helpers --------------------------------------------------------
    @staticmethod
    def _wrap(x):
        return x if isinstance(x, Tensor) else Tensor(x)

    def _binop(self, other, fwd, bwd_self, bwd_other):
        other = Tensor._wrap(other)

        def backward(g, o):
            if self.requires_grad:
                _acc(self, _unbroadcast(bwd_self(g, self.data, other.data, o), self.shape))
            if other.requires_grad:
                _acc(other, _unbroadcast(bwd_other(g, self.data, other.data, o), other.shape))

        return _op(lambda: fwd(self.data, other.data), (self, other), backward)

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

        def backward(g, o):
            if self.requires_grad:
                _acc(self, g * p * self.data ** (p - 1))

        return _op(lambda: self.data ** p, (self,), backward)

    def __neg__(self):
        return self * -1.0

    def __matmul__(self, other):
        a, b = self, Tensor._wrap(other)

        def backward(g, o):
            if a.requires_grad:
                ga = g @ np.swapaxes(b.data, -1, -2)
                _acc(a, _unbroadcast(ga, a.shape))
            if b.requires_grad:
                gb = np.swapaxes(a.data, -1, -2) @ g
                _acc(b, _unbroadcast(gb, b.shape))

        return _op(lambda: a.data @ b.data, (a, b), backward)

    def __getitem__(self, idx):
        basic = _is_basic_index(idx)

        def backward(g, o):
            if self.requires_grad:
                full = np.zeros_like(self.data)
                if basic:
                    full[idx] = g
                else:  # fancy indices may repeat an element
                    np.add.at(full, idx, g)
                _acc(self, full)

        return _op(lambda: self.data[idx], (self,), backward)

    def reshape(self, *shape):
        if len(shape) == 1 and isinstance(shape[0], (tuple, list)):
            shape = tuple(shape[0])
        old = self.shape

        def backward(g, o):
            if self.requires_grad:
                _acc(self, g.reshape(old))

        return _op(lambda: self.data.reshape(shape), (self,), backward)

    @property
    def T(self):
        def backward(g, o):
            if self.requires_grad:
                _acc(self, np.swapaxes(g, -1, -2))

        return _op(lambda: np.swapaxes(self.data, -1, -2), (self,), backward)

    def sum(self, axis=None, keepdims=False):
        def backward(g, o):
            if not self.requires_grad:
                return
            if axis is None:
                _acc(self, np.broadcast_to(g, self.shape))
            else:
                gg = g if keepdims else np.expand_dims(g, axis)
                _acc(self, np.broadcast_to(gg, self.shape))

        return _op(lambda: self.data.sum(axis=axis, keepdims=keepdims), (self,), backward)

    def mean(self, axis=None, keepdims=False):
        n = self.size if axis is None else self.shape[axis]
        return self.sum(axis=axis, keepdims=keepdims) * (1.0 / n)

    def item(self) -> float:
        return float(self.data)

    def __repr__(self):
        return f"Tensor(shape={self.shape}, requires_grad={self.requires_grad})"


def _op(forward, prev, backward):
    """The node ``forward()`` computes from `prev`, with its forward and
    backward rules attached; ``backward(g, o)`` adds the input gradients
    given the node's gradient `g` and data `o`."""
    out = Tensor(forward(), _prev=prev)
    out._forward = forward
    out._backward = backward
    return out


def leaf(read, requires_grad: bool = False):
    """A graph leaf whose value ``read()`` fetches from outside the graph:
    a Variable's free array, a data feed, an RNG draw, or a value
    computed in numpy from other nodes' ``.data`` that takes no
    gradient. A replay calls `read` again, in creation order, so it sees
    the current array, the current batch, the re-seeded stream or the
    replayed inputs."""
    t = Tensor(read(), requires_grad=requires_grad)
    t._forward = read
    return t


class Tape:
    """One recorded evaluation of `out`: the nodes `record()` collected
    and the backward post-order of `out`. `replay` re-evaluates the same
    graph on whatever its leaves read now, with no new node."""

    __slots__ = ("forward", "out", "order")

    def __init__(self, nodes, out: Tensor):
        self.forward = [t for t in nodes if t._forward is not None]
        self.out = out
        self.order = out._post_order()

    def backward(self) -> None:
        self.out._backprop(self.order)

    def replay(self, want_grad: bool = True) -> None:
        float_type = settings.dtypes.float_type
        for t in self.forward:
            t.data = np.asarray(t._forward(), dtype=float_type)
        if want_grad:
            self.backward()

    def nbytes(self) -> int:
        """Bytes the nodes' data and gradients hold now, each array
        that owns its memory counted once (views and borrowed gradients
        are free)."""
        arrays = {id(t.data): t.data for t in self.forward}
        arrays.update((id(t.grad), t.grad) for t in self.order if t.grad is not None)
        total = 0
        for a in arrays.values():
            if a.flags.owndata:
                total += a.nbytes
        return total


# -- unary ops -------------------------------------------------------------

def _unary(x, fwd, dfdx):
    x = Tensor._wrap(x)

    def backward(g, o):
        if x.requires_grad:
            _acc(x, g * dfdx(x.data, o))

    return _op(lambda: fwd(x.data), (x,), backward)


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
    return _unary(x, _sigmoid_np, lambda a, o: o * (1.0 - o))


def tanh(x):
    return _unary(x, np.tanh, lambda a, o: 1.0 - o * o)


def relu(x):
    return _unary(x, lambda a: np.maximum(a, 0.0), lambda a, o: a > 0)


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
        lambda a, o: (a >= lo) & (a <= hi),
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

    def backward(g, o):
        if x.requires_grad:
            _acc(x, np.transpose(g, inv))

    return _op(lambda: np.transpose(x.data, axes_t), (x,), backward)


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
    sizes = [t.shape[axis] for t in tensors]

    def backward(g, o):
        parts = np.split(g, np.cumsum(sizes)[:-1], axis=axis)
        for t, p in zip(tensors, parts):
            if t.requires_grad:
                _acc(t, p)

    return _op(lambda: np.concatenate([t.data for t in tensors], axis=axis),
               tuple(tensors), backward)


def log_sum_exp(x, axis=-1):
    """Stable LSE with gradient (mirrors `tf_wraps.py:42-48`). The max
    shift takes no gradient, as in TF: it is a `leaf` read off x."""
    x = Tensor._wrap(x)
    m = leaf(lambda: np.max(x.data, axis=axis, keepdims=True))
    shifted = x - m
    return log(exp(shifted).sum(axis=axis)) + leaf(lambda: np.squeeze(m.data, axis=axis))


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

    def _phi(M):
        P = np.tril(M)
        P[np.diag_indices_from(P)] *= 0.5
        return P

    def _bw_2d(Lk, Lbar):
        P = _phi(Lk.T @ np.tril(Lbar))
        tmp = _solve_tri_2d(Lk, P.T, lower=True, trans=True).T    # P @ L^{-1}
        Abar = _solve_tri_2d(Lk, tmp, lower=True, trans=True)     # L^{-T} @ ...
        return 0.5 * (Abar + Abar.T)

    def backward(g, o):
        if not a.requires_grad:
            return
        L = o
        if L.ndim == 2:
            _acc(a, _bw_2d(L, g))
        else:
            n = L.shape[-1]
            Lf = L.reshape(-1, n, n)
            gf = np.asarray(g).reshape(-1, n, n)
            ab = np.stack([_bw_2d(Lf[i], gf[i]) for i in range(Lf.shape[0])])
            _acc(a, ab.reshape(L.shape))

    return _op(lambda: np.linalg.cholesky(a.data), (a,), backward)


def triangular_solve(L, b, lower=True):
    """x = L^{-1} b with gradients to both L and b (batched)."""
    L, b = Tensor._wrap(L), Tensor._wrap(b)
    squeeze = b.data.ndim == 1
    x = None  # the float64 solve, before the cast to float_type

    def forward():
        nonlocal x
        bdat = b.data if b.data.ndim > 1 else b.data[:, None]
        x = _solve_tri_np(L.data, bdat, lower=lower)
        return x[..., 0] if squeeze else x

    def backward(g, o):
        gmat = g if not squeeze else g[:, None]
        gb = _solve_tri_np(L.data, gmat, lower=lower, trans=True)  # L^{-T} g
        if b.requires_grad:
            _acc(b, gb[..., 0] if squeeze else _unbroadcast(gb, b.shape))
        if L.requires_grad:
            gL = -gb @ np.swapaxes(x, -1, -2)
            gL = np.tril(gL) if lower else np.triu(gL)
            _acc(L, _unbroadcast(gL, L.shape))

    return _op(forward, (L, b), backward)
