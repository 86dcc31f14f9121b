"""Structural/metadata tests — mirrors `/root/reference/testing/test_param.py`:
naming, parent links, tf_mode switching, feed-size arithmetic & slicing
order, ParamList, deferred assign/initialize semantics, data coercion.
"""

import numpy as np
import pytest

import henbun_spark as hb
from henbun_spark import autodiff as ad
from henbun_spark.param import Data, MinibatchData, ParamList, Parameterized, Variable, graph_key


class TreeModel(hb.Model):
    def setUp(self):
        self.p = Variable([2, 3])
        self.child = Parameterized()
        self.child.q = Variable([4])


def test_naming_and_parent_links():
    m = TreeModel()
    assert m.p.name == "p"
    assert m.p.long_name == "model.p"
    assert m.child.q.long_name == "model.child.q"
    assert m.child.q.highest_parent is m


def test_tf_mode_type_switch():
    m = TreeModel()
    assert isinstance(m.p, Variable)
    with m.tf_mode():
        assert isinstance(m.p, ad.Tensor)
        assert isinstance(m.child.q, ad.Tensor)
    assert isinstance(m.p, Variable)


def test_deferred_assign_semantics():
    """Assignment is queued until the next initialize() (`param.py:241-266`)."""
    m = TreeModel()
    m.initialize()
    m.p = np.zeros((2, 3))
    m.initialize()
    np.testing.assert_array_equal(m.p.value, np.zeros((2, 3)))
    m.p = np.ones((2, 3))
    # not yet applied: read through run (no auto-init of pending)
    m.initialize()
    np.testing.assert_array_equal(m.p.value, np.ones((2, 3)))


def test_transform_assign_roundtrip():
    m = hb.Model()
    m.v = Variable([3], transform=hb.transforms.positive())
    target = np.array([0.5, 1.5, 2.5])
    m.v = target
    m.initialize()
    np.testing.assert_allclose(m.v.value, target, atol=1e-6)


def test_feed_size_and_slicing_order():
    """Parameterized.feed splits by sorted-name order (`param.py:516-537`)."""
    p = Parameterized()
    p.a = Variable([2], collections=graph_key.LOCAL)
    p.b = Variable([3], collections=graph_key.LOCAL)
    assert p.a.feed_size == 2
    assert p.b.feed_size == 3
    assert p.feed_size == 5
    x = np.arange(10, dtype=np.float64).reshape(2, 5)  # N=2 rows
    p.feed(ad.Tensor(x))
    np.testing.assert_array_equal(p.a._tensor.data, x[:, :2])
    np.testing.assert_array_equal(p.b._tensor.data, x[:, 2:])


def test_local_feed_shape_validation():
    v = Variable([2, 3], n_batch=4, collections=graph_key.LOCAL)
    with pytest.raises(ValueError):
        v.feed(np.zeros((5, 6)))  # wrong n_batch
    v.feed(np.zeros((4, 6)))
    assert v._tensor.shape == (4, 2, 3)


def test_data_dtype_coercion():
    """float->float_type (float64 default — documented divergence from the
    reference's float32, `henbunrc:7`), int->int32 (`param.py:689-699`)."""
    d = Data(np.arange(5, dtype=np.float32))
    assert d.data.dtype == np.float64
    d2 = Data(np.arange(5, dtype=np.int64))
    assert d2.data.dtype == np.int32
    with pytest.raises(ValueError):
        Data(np.array(["a", "b"]))


def test_float32_mode_controls_compute():
    """Flipping settings.dtypes.float_type must actually change storage and
    autodiff compute dtype (round-1 verdict: the knob was dead config)."""
    import copy

    from henbun_spark import autodiff as ad
    from henbun_spark.config import settings, temp_settings

    tmp = copy.deepcopy(settings)
    tmp.dtypes.float_type = np.float32
    with temp_settings(tmp):
        d = Data(np.arange(5, dtype=np.float64))
        assert d.data.dtype == np.float32
        t = ad.Tensor(np.arange(5, dtype=np.float64), requires_grad=True)
        obj = ad.sum(ad.square(t))
        assert obj.data.dtype == np.float32
        obj.backward()
        assert t.grad.dtype == np.float32
        v = Variable([3])
        v.initialize()
        assert v._array.dtype == np.float32
    # restored outside the context
    assert Data(np.zeros(2)).data.dtype == np.float64


def test_data_shape_change_rejected():
    d = Data(np.zeros((4, 2)))
    with pytest.raises(ValueError):
        d.assign(np.zeros((5, 2)))
    d.assign(np.ones((4, 2)))
    np.testing.assert_array_equal(d.value, np.ones((4, 2)))


def test_minibatch_data_indexing():
    d = MinibatchData(np.arange(20, dtype=np.float64).reshape(10, 2))
    d.get_feed_dict(np.array([1, 3]))
    np.testing.assert_array_equal(d._tensor.data, [[2, 3], [6, 7]])


def test_paramlist():
    pl = ParamList([Variable([2]), Variable([3])])
    assert len(pl) == 2
    assert pl[0].name == "item0"
    assert pl[1].name == "item1"
    m = hb.Model()
    m.pl = pl
    assert pl[0].long_name == "model.pl.item0"
    assert len(m.get_variables()) == 2


def test_collections_query():
    m = hb.Model()
    m.a = Variable([2])
    m.b = Variable([2], collections=["special"])
    m.c = Variable([2], collections=graph_key.LOCAL)
    assert len(m.get_variables()) == 3
    assert m.get_variables("special") == [m.b]
    assert m.get_variables(graph_key.VARIABLES) == [m.a]
    assert m.get_variables(graph_key.LOCAL) == [m.c]


def test_save_restore_roundtrip(tmp_path):
    """Mirrors `testing/test_model.py:76-105`."""
    m1 = TreeModel()
    m1.p = np.full((2, 3), 1.5)
    m1.initialize()
    path = str(tmp_path / "ckpt")
    m1.save(path)

    m2 = TreeModel()
    m2.restore(path)
    np.testing.assert_allclose(m2.p.value, np.full((2, 3), 1.5))
    # re-initialize must NOT clobber restored values
    m2.initialize()
    np.testing.assert_allclose(m2.p.value, np.full((2, 3), 1.5))


# -- child order after tree changes ------------------------------------------
LOCAL = graph_key.LOCAL


class OrderTree(hb.Model):
    def setUp(self):
        self.b = Variable([2], collections=LOCAL)
        self.a = Variable([1], collections=LOCAL)
        self.g = Variable([3])
        self.sub = Parameterized()
        self.sub.d = Variable([2], collections=LOCAL)
        self.sub.c = Variable([1], collections=LOCAL)
        self.items = ParamList([Variable([1], collections=LOCAL)])


def _fresh_variables(node):
    """get_variables() as a fresh walk: children sorted by
    `Parentable.name` at every visit."""
    if isinstance(node, ParamList):
        children = list(node._list)
    elif isinstance(node, Parameterized):
        children = sorted(
            (
                c
                for k, c in vars(node).items()
                if isinstance(c, (Variable, Parameterized)) and k != "_parent"
            ),
            key=lambda c: c.name,
        )
    else:
        return [node]
    return [v for c in children for v in _fresh_variables(c)]


def _add_children(m):
    m.aa = Variable([2], collections=LOCAL)
    m.sub.e = Variable([3], collections=LOCAL)
    m.zz = Parameterized()
    m.zz.f = Variable([1], collections=LOCAL)
    return m


def _replace_children(m):
    m.a = Variable([3], collections=LOCAL)  # Variable -> Variable
    sub = Parameterized()
    sub.y = Variable([2], collections=LOCAL)
    sub.x = Variable([1], collections=LOCAL)
    m.sub = sub  # Parameterized -> Parameterized
    m.g = Parameterized()  # Variable -> Parameterized
    m.g.h = Variable([1], collections=LOCAL)
    return m


def _delete_children(m):
    del m.a
    del m.sub.d
    return m


def _append_to_list(m):
    m.items.append(Variable([2], collections=LOCAL))
    m.items.append(Variable([1], collections=LOCAL))
    return m


def _alias_child(m):
    # one child under two keys of one parent: both sort at its name "b"
    m.y_b = m.b
    return m


def _reparent_child(m):
    # sub.c, shared with m, is now named through m: after sub.d
    m.zz_c = m.sub.c
    return m


def _cloudpickle_roundtrip(m):
    import cloudpickle

    m = cloudpickle.loads(cloudpickle.dumps(m))
    m.sub.a0 = Variable([1], collections=LOCAL)  # the copy's tree changes too
    return m


@pytest.mark.parametrize(
    "mutate",
    [_add_children, _replace_children, _delete_children, _append_to_list,
     _alias_child, _reparent_child, _cloudpickle_roundtrip],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_child_order_matches_fresh_tree(mutate):
    """sorted_variables orders a node's own children by their keys, not
    by `Parentable.name`; after each way the tree can change,
    get_variables() order, long_names and the split of a LOCAL feed
    must match a walk by name."""
    m = OrderTree()
    m.feed(np.zeros((1, m.feed_size)))
    before = [v.long_name for v in m.get_variables()]
    m = mutate(m)

    got, want = m.get_variables(), _fresh_variables(m)
    assert [id(v) for v in got] == [id(v) for v in want]
    assert [v.long_name for v in got] == [v.long_name for v in want]
    assert [v.long_name for v in got] != before

    local = [v for v in want if v.collections == LOCAL]
    width = sum(v.feed_size for v in local)
    assert m.feed_size == width
    x = np.arange(4.0 * width).reshape(4, width)
    m.feed(x)
    fed, begin = {}, 0
    for v in local:  # a shared Variable keeps its last slice
        fed[id(v)] = v, x[:, begin: begin + v.feed_size].reshape([4] + v.shape)
        begin += v.feed_size
    for v, want_cols in fed.values():
        np.testing.assert_array_equal(v._tensor.data, want_cols, err_msg=v.long_name)
