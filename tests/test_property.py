"""Property-based checks (hypothesis) over the math core: transform
bijectivity, autodiff-vs-finite-difference gradients, and triangular
packing round-trips — the fuzzing layer on top of the example-based suite
(SURVEY §5's scipy-parity pillar, generalized)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from henbun_spark import autodiff as ad
from henbun_spark import transforms
from henbun_spark.utils import lgamma as np_lgamma
from henbun_spark.utils import tri_to_vec, vec_to_tri

finite_floats = st.floats(
    min_value=-20.0, max_value=20.0, allow_nan=False, allow_infinity=False
)


@settings(max_examples=30, deadline=None)
@given(st.lists(finite_floats, min_size=1, max_size=16))
def test_transform_roundtrip_property(xs):
    x = np.asarray(xs, dtype=np.float64)
    for t in (transforms.Exp(), transforms.Log1pe(), transforms.Logistic(-3.0, 5.0)):
        y = t.forward(x)
        np.testing.assert_allclose(t.backward(y), x, atol=1e-6, rtol=1e-6)


@settings(max_examples=30, deadline=None)
@given(st.lists(st.floats(min_value=-3.0, max_value=3.0, allow_nan=False),
                min_size=2, max_size=8))
def test_autodiff_gradient_matches_finite_difference(xs):
    x = np.asarray(xs, dtype=np.float64)

    def f(v):
        t = ad.Tensor(v, requires_grad=True)
        out = ad.sum(ad.exp(-ad.square(t)) + ad.softplus(t) * ad.sigmoid(t))
        return t, out

    t, out = f(x)
    out.backward()
    grad = t.grad.copy()
    eps = 1e-6
    for i in range(len(x)):
        xp, xm = x.copy(), x.copy()
        xp[i] += eps
        xm[i] -= eps
        num = (float(f(xp)[1].data) - float(f(xm)[1].data)) / (2 * eps)
        np.testing.assert_allclose(grad[i], num, atol=1e-5, rtol=1e-4)


# graphs that reach one node along several paths, so a gradient borrowed
# by one consumer (`autodiff._acc`) is also read or summed by another
_SHARED_NODE_GRAPHS = {
    "x+x": lambda t: ad.sum(ad.square(t + t)),
    "2x+2x+x": lambda t: ad.sum(ad.square((2.0 * t) + (2.0 * t) + t)),
    "reshape-T": lambda t: ad.sum(t.reshape(-1).reshape(t.shape).T * t.T)
    + ad.sum(t.reshape(t.size)[:, None] * t.reshape(t.size)[None, :]),
    "sum-broadcast": lambda t: ad.sum(t * ad.sum(t, axis=0, keepdims=True))
    + ad.sum(t) * ad.sum(t[0]),
    "basic-slices": lambda t: ad.sum(ad.square(t[0] * t[-1]))
    + ad.sum(t[1:, ::2] * t[:-1, ::2])
    + ad.sum(t[..., None][:, 0] * t[None, ...][0]),
    "fancy-repeat": lambda t: ad.sum(ad.square(t[[0, 0, 1, 0]]))
    + ad.sum(t[[1, 1, 0], [0, 0, 1]] * t[0, 0]),
}


@settings(max_examples=40, deadline=None)
@given(
    st.sampled_from(sorted(_SHARED_NODE_GRAPHS)),
    st.integers(min_value=2, max_value=4),
    st.integers(min_value=2, max_value=4),
    st.integers(min_value=0, max_value=2**31),
)
def test_shared_node_gradients_own_their_arrays(name, rows, cols, seed):
    """Leaf gradients of graphs that reuse a node match central finite
    differences, and a second `backward()` returns the same leaf
    gradients: no borrowed first contribution was written in place."""
    f = _SHARED_NODE_GRAPHS[name]
    x = np.random.default_rng(seed).uniform(-2.0, 2.0, (rows, cols))
    t = ad.Tensor(x, requires_grad=True)
    out = f(t)
    out.backward()
    grad = np.array(t.grad)
    eps = 1e-6
    for i in np.ndindex(x.shape):
        xp, xm = x.copy(), x.copy()
        xp[i] += eps
        xm[i] -= eps
        num = (float(f(ad.Tensor(xp)).data) - float(f(ad.Tensor(xm)).data)) / (2 * eps)
        np.testing.assert_allclose(grad[i], num, atol=1e-4, rtol=1e-5)
    out.backward()
    np.testing.assert_array_equal(t.grad, grad)


@settings(max_examples=20, deadline=None)
@given(st.lists(st.floats(min_value=-3.0, max_value=3.0, allow_nan=False),
                min_size=4, max_size=8))
def test_float32_leaf_gradients_stay_float32(xs):
    """In float32 mode, leaf gradients through relu, clip and both
    `__getitem__` paths keep float32: bool masks and borrowed
    contributions add no float64 on the way."""
    import copy

    from henbun_spark.config import settings as hb_settings
    from henbun_spark.config import temp_settings

    tmp = copy.deepcopy(hb_settings)
    tmp.dtypes.float_type = np.float32
    with temp_settings(tmp):
        a = ad.Tensor(np.asarray(xs), requires_grad=True)
        b = ad.Tensor(np.asarray(xs), requires_grad=True)
        c = ad.Tensor(np.asarray(xs), requires_grad=True)
        out = (
            ad.sum(ad.relu(a) * a)
            + ad.sum(ad.clip(b, -1.0, 1.0))
            + ad.sum(c[1:] * c[:-1])
            + ad.sum(c[[0, 0, 2]])
        )
        out.backward()
        for leaf in (a, b, c):
            assert leaf.grad.dtype == np.float32


def _spd(a):
    """A symmetric positive-definite [rows, rows] node built from a."""
    return a @ a.T + ad.Tensor(np.eye(a.shape[0]) * a.shape[0])


# every public op of `autodiff`, applied to two [rows, cols] leaves
# (rows >= 2); positivity and squareness are built from the leaves
_REPLAY_OPS = {
    "add": lambda a, b: a + b,
    "radd": lambda a, b: 2.0 + a,
    "sub": lambda a, b: a - b,
    "rsub": lambda a, b: 1.5 - b,
    "mul": lambda a, b: a * b,
    "div": lambda a, b: a / (ad.square(b) + 1.0),
    "rdiv": lambda a, b: 2.0 / (ad.square(b) + 1.0),
    "neg": lambda a, b: -a,
    "pow": lambda a, b: a ** 3,
    "matmul": lambda a, b: a @ b.T,
    "ad.matmul": lambda a, b: ad.matmul(a.T, b),
    "getitem-basic": lambda a, b: a[1:, ::2] * b[:-1, ::2] + a[0, None, ::2],
    "getitem-fancy": lambda a, b: a[[0, 0, -1]] * b[[1, 0, 1]],
    "reshape": lambda a, b: a.reshape((-1,)) * b.reshape(-1),
    "T": lambda a, b: a.T * b.T,
    "sum": lambda a, b: ad.sum(a * b),
    "sum-axis": lambda a, b: ad.sum(a, axis=0) * b.sum(axis=1, keepdims=True),
    "mean": lambda a, b: ad.mean(a, axis=1) + b.mean(),
    "exp": lambda a, b: ad.exp(a),
    "log": lambda a, b: ad.log(ad.square(a) + 0.5),
    "log1p": lambda a, b: ad.log1p(ad.square(b)),
    "sqrt": lambda a, b: ad.sqrt(ad.square(a) + 0.25),
    "abs": lambda a, b: ad.abs(a),
    "square": lambda a, b: ad.square(b),
    "sigmoid": lambda a, b: ad.sigmoid(a),
    "tanh": lambda a, b: ad.tanh(b),
    "relu": lambda a, b: ad.relu(a),
    "softplus": lambda a, b: ad.softplus(b),
    "lgamma": lambda a, b: ad.lgamma(ad.square(a) + 0.5),
    "clip": lambda a, b: ad.clip(a, -0.5, 1.0),
    "transpose": lambda a, b: ad.transpose(a) * ad.transpose(b[None], (2, 1, 0))[..., 0],
    "maximum": lambda a, b: ad.maximum(a, b),
    "concat": lambda a, b: ad.concat([a, b], axis=0) * ad.concat([b, a], axis=0),
    "log_sum_exp": lambda a, b: ad.log_sum_exp(a * 3.0) + ad.sum(ad.log_sum_exp(b, axis=0)),
    "cholesky": lambda a, b: ad.cholesky(_spd(a)),
    "cholesky-batched": lambda a, b: ad.cholesky(_spd(a).reshape((1,) + (a.shape[0],) * 2)),
    "triangular_solve": lambda a, b: ad.triangular_solve(ad.cholesky(_spd(a)), b),
    "triangular_solve-vector": lambda a, b: ad.triangular_solve(ad.cholesky(_spd(a)), b[:, 0]),
    "triangular_solve-batched": lambda a, b: ad.triangular_solve(
        ad.cholesky(_spd(a)).reshape((1,) + (a.shape[0],) * 2), b[None]
    ),
}


@pytest.mark.parametrize("name", sorted(_REPLAY_OPS))
@settings(max_examples=6, deadline=None)
@given(
    st.integers(min_value=2, max_value=4),
    st.integers(min_value=1, max_value=3),
    st.integers(min_value=0, max_value=2**31),
    st.booleans(),
)
def test_tape_replay_equals_eager_for_every_op(name, rows, cols, seed, float32):
    """Trace an op on inputs A, replay the tape on inputs B of the same
    shape: value and leaf gradients equal an eager evaluation on B
    bit for bit. An op whose forward rule is missing, or whose backward
    rule reads an array captured at trace time, replays A's values."""
    import copy

    from henbun_spark.config import settings as hb_settings
    from henbun_spark.config import temp_settings

    f = _REPLAY_OPS[name]
    rng = np.random.default_rng(seed)
    a_in, b_in = (rng.uniform(-2.0, 2.0, (2, rows, cols)) for _ in range(2))
    tmp = copy.deepcopy(hb_settings)
    tmp.dtypes.float_type = np.float32 if float32 else np.float64
    with temp_settings(tmp):
        box = {"a": a_in[0], "b": b_in[0]}
        with ad.record() as nodes:
            a = ad.leaf(lambda: box["a"], requires_grad=True)
            b = ad.leaf(lambda: box["b"], requires_grad=True)
            y = f(a, b)
            out = ad.sum(y * y)
        tape = ad.Tape(nodes, out)
        tape.backward()
        box["a"], box["b"] = a_in[1], b_in[1]
        tape.replay()

        ea = ad.Tensor(a_in[1], requires_grad=True)
        eb = ad.Tensor(b_in[1], requires_grad=True)
        ey = f(ea, eb)
        eager = ad.sum(ey * ey)
        eager.backward()
    assert out.data.dtype == eager.data.dtype
    assert out.data.tobytes() == eager.data.tobytes()
    for leaf, ref in ((a, ea), (b, eb)):
        if ref.grad is None:
            assert leaf.grad is None
        else:
            assert leaf.grad.dtype == ref.grad.dtype
            assert np.array_equal(leaf.grad, ref.grad)


@settings(max_examples=20, deadline=None)
@given(st.integers(min_value=1, max_value=8), st.integers(min_value=1, max_value=4),
       st.integers(min_value=0, max_value=2**31))
def test_vec_to_tri_roundtrip_property(n, d, seed):
    m = n * (n + 1) // 2
    x = np.random.default_rng(seed).standard_normal((d, m))
    tri = vec_to_tri(x)
    assert tri.shape == (d, n, n)
    # strictly upper part is zero
    for k in range(d):
        np.testing.assert_array_equal(np.triu(tri[k], k=1), 0.0)
    np.testing.assert_array_equal(tri_to_vec(tri), x)


@settings(max_examples=40, deadline=None)
@given(st.floats(min_value=0.05, max_value=170.0, allow_nan=False))
def test_lgamma_recurrence_property(x):
    # Gamma(x+1) = x * Gamma(x)  =>  lgamma(x+1) - lgamma(x) = log(x)
    lhs = np_lgamma(x + 1.0) - np_lgamma(x)
    np.testing.assert_allclose(lhs, np.log(x), rtol=1e-9, atol=1e-9)


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=300),
    st.integers(min_value=2, max_value=20),
)
def test_mg_fold_guarantee_property(keys, k):
    """Misra-Gries invariants under arbitrary streams: summary holds at
    most k-1 counters, never overcounts, undercounts by at most n/k —
    hence every key with frequency > n/k survives."""
    from collections import Counter

    from henbun_spark.operators.sketch import mg_fold

    d = mg_fold({}, [(key, 1) for key in keys], k)
    true = Counter(keys)
    n = len(keys)
    assert len(d) <= k - 1
    for key, w in d.items():
        assert 0 < w <= true[key]
        assert true[key] - w <= n / k
    for key, c in true.items():
        if c * k > n:
            assert key in d


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=500,
    ),
    st.integers(min_value=10, max_value=200),
)
def test_tdigest_compress_property(vals, delta):
    """t-digest compression conserves mass and the weighted mean, keeps
    centroid means sorted, and bounds the centroid count by ~delta."""
    from henbun_spark.operators.sketch import _tdigest_compress

    m, w = _tdigest_compress(vals, [1.0] * len(vals), delta)
    assert abs(sum(w) - len(vals)) < 1e-6
    assert all(a <= b + 1e-9 for a, b in zip(m, m[1:]))
    assert len(m) <= delta + 2
    got_mean = sum(mi * wi for mi, wi in zip(m, w)) / sum(w)
    np.testing.assert_allclose(got_mean, np.mean(vals), rtol=1e-9, atol=1e-6)


@settings(max_examples=20, deadline=None)
@given(
    st.integers(min_value=1, max_value=10),
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=0, max_value=2**31),
)
def test_rawvideo_roundtrip_property(n, h, w, seed):
    from henbun_spark.operators import multimodal

    frames = np.random.default_rng(seed).integers(
        0, 256, size=(n, h, w, 3), dtype=np.uint8
    )
    dec, fps = multimodal.decode_rawvideo(
        multimodal.encode_rawvideo(frames, fps=7)
    )
    assert fps == 7
    np.testing.assert_array_equal(dec, frames)


@settings(max_examples=40, deadline=None)
@given(st.floats(min_value=1e-4, max_value=1.0 - 1e-4, allow_nan=False))
def test_acklam_ppf_inverts_normal_cdf_property(u):
    """The generated PPF SQL (same text the oracle runs) must invert the
    normal CDF to the approximation's published error and be odd-symmetric
    about 0.5 — checked through DuckDB, i.e. engine-independently."""
    import math

    import duckdb

    import __spark_entry__ as em

    uu = f"CAST({u!r} AS DOUBLE)"
    z, zs = duckdb.sql(
        f"SELECT {em._ppf_sql(uu)} AS z,"
        f" {em._ppf_sql(f'(1.0 - {uu})')} AS zs"
    ).fetchone()
    cdf = 0.5 * (1.0 + math.erf(z / math.sqrt(2.0)))
    assert abs(cdf - u) < 5e-9
    assert abs(zs + z) < 5e-8  # odd symmetry Phi^-1(1-u) = -Phi^-1(u)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=9), min_size=1, max_size=12),
    st.lists(
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        min_size=1,
        max_size=4,
    ),
    st.integers(min_value=0, max_value=2**31),
)
def test_percentile_target_location_property(cell_sizes, ps, seed):
    """The percentile family's driver math (`_percentile_targets`): for
    ANY cell layout, every target's covering cell and LOCAL rank must
    agree with brute-force expansion of the cells into a sorted value
    array — the invariant the value-range extract pass then relies on."""
    import math

    from henbun_spark.operators import relational

    rng = np.random.default_rng(seed)
    # strictly increasing disjoint value ranges per cell; some cells
    # collapse to a single value (heavy-duplicate runs) to exercise the
    # driver-resolved branch
    edges = np.cumsum(rng.uniform(0.5, 2.0, size=2 * len(cell_sizes)))
    point = rng.random(len(cell_sizes)) < 0.3
    cells = {
        ("k",): [
            (
                n,
                float(edges[2 * i]),
                float(edges[2 * i] if point[i] else edges[2 * i + 1]),
            )
            for i, n in enumerate(cell_sizes)
        ]
    }
    kt = [__import__("pyspark").sql.types.StructField(
        "k", __import__("pyspark").sql.types.StringType())]
    need, _, resolved, _ = relational._percentile_targets(cells, ps, kt)
    # brute-force: value array where cell i contributes n_i entries; an
    # entry's "cell idx" is recoverable by position
    owner = [i for i, n in enumerate(cell_sizes) for _ in range(n)]
    total = sum(cell_sizes)
    starts = np.cumsum([0] + cell_sizes).tolist()
    targets = {}
    for row in need:
        _, p, lo, hi, pos, which, clo, chi, local = row
        targets[(p, which)] = ("extract", clo, chi, local)
    for row in resolved:
        _, p, lo, hi, pos, which, v = row
        targets[(p, which)] = ("resolved", v)
    for p in ps:
        pos = float(p) * (total - 1)
        for which, rank in ((0, int(math.floor(pos)) + 1),
                            (1, int(math.ceil(pos)) + 1)):
            j = owner[rank - 1]
            n, clo, chi = cells[("k",)][j]
            got = targets[(float(p), which)]
            if got[0] == "extract":
                assert (got[1], got[2]) == (clo, chi), (p, which)
                assert got[3] == rank - starts[j], (p, which)
            else:
                # resolved only permitted for single-value cells
                assert clo == chi and got[1] == clo, (p, which)


@given(
    vals=st.lists(
        st.tuples(
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
            ),
            st.integers(min_value=1, max_value=9),
        ),
        min_size=1,
        max_size=40,
    ),
    ps=st.lists(
        st.floats(min_value=0.0, max_value=1.0), min_size=1, max_size=5
    ),
)
@settings(max_examples=150, deadline=None)
def test_hist_percentile_matches_numpy_linear(vals, ps):
    """_hist_percentile (the driver math behind keyed_median_mad and
    keyed_percentiles_exact's histogram fast path) == numpy's 'linear'
    interpolation over the brute-force expansion, for arbitrary value
    histograms with duplicates and arbitrary p — same definition as
    Spark's percentile() and DuckDB's quantile_cont. Exact equality is
    not asserted at the last ulp (numpy's op order differs); the
    builtin-parity op-order check lives in the Spark-vs-oracle tests,
    this one guards the ORDER-STATISTICS selection (cumulative-count
    walk, floor/ceil ranks, short-circuits)."""
    import numpy as np

    from henbun_spark.operators import relational

    # collapse duplicate values like groupBy(value) does, sort ascending
    agg = {}
    for v, n in vals:
        agg[v] = agg.get(v, 0) + n
    hist = sorted(agg.items())
    expanded = np.array(
        [v for v, n in hist for _ in range(n)], dtype=float
    )
    # op-order noise is ~ulps of the interpolation TERMS (|v_lo|, |v_hi|),
    # not of the result: between near-cancelling neighbors (v_lo < 0 < v_hi
    # with a tiny fraction) the result can be orders of magnitude below
    # either term, so a result-relative bound underflows while the
    # difference is numerically meaningless. A wrong-rank selection — what
    # this test guards — errs by the value spacing, far above this bound.
    # Floor at 1e-300 for near-denormal inputs.
    scale = float(np.max(np.abs(expanded)))
    tol = max(4 * scale * 2.3e-16, 1e-300)
    for p in ps:
        got = relational._hist_percentile(hist, p)
        exp = float(np.quantile(expanded, p, method="linear"))
        assert got == exp or abs(got - exp) <= tol, (p, got, exp)


@settings(max_examples=100, deadline=None)
@given(
    st.floats(width=32, allow_nan=False, allow_infinity=False,
              min_value=-1e6, max_value=1e6),
    st.sampled_from([2, 64, 256, 1024, 4096, 65536]),
)
def test_quantize_units_multiply_is_exact_property(x, grid):
    """The integer-units recipe (clustering.quantize_units and every
    hash-exact vector op on top of it) rests on one IEEE fact: for a
    float32 value widened to double, multiplying by a power of two is
    EXACT — floor(x * 2^k) in double equals the true mathematical
    floor. Fractions are exact rationals, so they are the ground
    truth; any rounding in the multiply would surface here."""
    import math
    from fractions import Fraction

    xf = float(np.float32(x))
    got = math.floor(np.float64(xf) * np.float64(grid))
    want = math.floor(Fraction(xf) * grid)
    assert got == want


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=-2048, max_value=2048),
                 min_size=3, max_size=3),
        min_size=1, max_size=12,
    )
)
def test_count_scaled_distance_identity_property(us):
    """selection.centroid_outlier_ranks' count-scaled BIGINT distance
    D_i = sum_d (n*u_id - S_d)^2 must equal n^2 * ||u_i - mean||^2
    computed in exact rational arithmetic — i.e. the integer form
    really is the squared distance to the (never-materialized) float
    mean, scaled by a per-group constant that cannot change the
    ranking."""
    from fractions import Fraction

    u = np.array(us, dtype=np.int64)
    n = len(u)
    s = u.sum(axis=0)
    d_int = ((n * u - s[None, :]) ** 2).sum(axis=1)
    for i in range(n):
        true = (n ** 2) * sum(
            (Fraction(int(u[i, j])) - Fraction(int(s[j]), n)) ** 2
            for j in range(u.shape[1])
        )
        assert true == d_int[i]


@pytest.mark.parametrize("bits,k", [(63, 3), (31, 3), (16, 3), (63, 10)])
def test_hamming_band_pairs_equals_brute_force(spark, bits, k):
    """The pigeonhole band join misses no pair and emits none twice: on
    random fingerprints with planted copies at 0..k+1 flipped bits, its
    (id_a < id_b) rows equal the all-pairs `popcount(a ^ b) <= k` set,
    including widths that k + 1 does not divide (the remainder bits are
    in no block, yet count toward the distance)."""
    from henbun_spark.operators import dedup

    rng = np.random.default_rng(bits * 100 + k)
    fps = [int(v) for v in rng.integers(0, 1 << bits, size=40, dtype=np.int64)]
    for base in list(fps[:20]):
        flips = rng.choice(bits, size=int(rng.integers(0, k + 2)), replace=False)
        fps.append(base ^ sum(1 << int(j) for j in flips))
    fps += fps[:3]  # exact duplicates under new ids
    want = sorted(
        (i, j, bin(fps[i] ^ fps[j]).count("1"))
        for i in range(len(fps))
        for j in range(i + 1, len(fps))
        if bin(fps[i] ^ fps[j]).count("1") <= k
    )
    bands = dedup.hamming_band_blocks(
        spark.createDataFrame(list(enumerate(fps)), "id long, fp long"),
        "id", "fp", bits, k,
    )
    got = sorted(
        tuple(r)
        for r in dedup.hamming_band_pairs(bands, bands, "id", "fp", bits, k)
        .where("id_a < id_b")
        .collect()
    )
    assert any(h > 0 for _, _, h in want) and any(h == 0 for _, _, h in want)
    assert got == want
