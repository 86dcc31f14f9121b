"""Parameter tree: Variable / Data / MinibatchData / Parameterized / ParamList.

Re-expresses `/root/reference/Henbun/param.py` on a numpy + Spark substrate:

* **global** parameters (collections=[VARIABLES] or custom tags): driver-held
  numpy arrays, truncated-normal initialized, broadcast to executors per
  training step (`param.py:157-209`).
* **LOCAL** parameters (collections=LOCAL): no storage; an autodiff Tensor is
  fed per evaluation — typically a slice of an encoder-network output
  (`param.py:281-304`). In Spark mode the feed comes from Arrow batch columns.
* **DATA**: whole-dataset constants re-fed per evaluation (`param.py:676-739`);
  in Spark mode, DataFrame columns.

The reference's `tf_mode` attribute magic (`param.py:342-453`) is kept: inside
``with model.tf_mode():`` child parameters read as autodiff Tensors and
assignment to a LOCAL child feeds it — so user model code looks like the
reference's. Evaluation happens either driver-side (small data) or inside an
Arrow-batched pandas UDF on executors (see `model.py`).

Shape convention matches the reference: full shape is
``[*n_layers, (n_batch), *shape]`` with the minibatch axis second-to-last
group (`param.py:160-186`).
"""

from __future__ import annotations

import functools
from contextlib import contextmanager
from operator import itemgetter

import numpy as np

from henbun_spark import autodiff as ad
from henbun_spark import transforms
from henbun_spark.config import settings


class graph_key:
    """Storage-class tags (`param.py:29-47`)."""

    VARIABLES = "variables"
    LOCAL = "LOCAL"
    DATA = "DATA"
    not_parameters = [LOCAL, DATA]


def _truncated_normal(shape, mean, stddev, rng):
    """Draw N(mean, stddev) resampling outside 2 sigma (tf.truncated_normal)."""
    x = rng.normal(mean, stddev, size=shape)
    bad = np.abs(x - mean) > 2.0 * stddev
    while np.any(bad):
        x[bad] = rng.normal(mean, stddev, size=int(bad.sum()))
        bad = np.abs(x - mean) > 2.0 * stddev
    return x


class Parentable:
    """Node in the named parameter tree (`param.py:49-95`)."""

    def __init__(self):
        self._parent = None

    @property
    def highest_parent(self):
        return self if self._parent is None else self._parent.highest_parent

    @property
    def name(self):
        if self._parent is None:
            return "unnamed"
        if isinstance(self._parent, ParamList):
            return "item%i" % self._parent._list.index(self)
        matches = [
            key
            for key, value in self._parent.__dict__.items()
            if value is self
        ]
        if len(matches) == 0:
            raise ValueError("mis-specified parent.")
        return matches[0]

    @property
    def long_name(self):
        if self._parent is None:
            return self.name
        return self._parent.long_name + "." + self.name


class Variable(Parentable):
    """A tensor-valued parameter (`param.py:97-304`).

    Full shape: ``[*n_layers, (n_batch), *shape]``. Global variables hold a
    numpy array in **free** (untransformed) space; ``tensor()`` applies the
    transform. LOCAL variables are fed per evaluation; DATA placeholders are
    handled by the Data subclass.
    """

    def __init__(
        self,
        shape,
        n_layers=[],
        n_batch=None,
        mean=0.0,
        stddev=1.0,
        transform=None,
        collections=None,
    ):
        Parentable.__init__(self)
        if isinstance(shape, int):
            shape = [shape]
        self.transform = transform if transform is not None else transforms.Identity()
        self.collections = collections if collections is not None else [graph_key.VARIABLES]
        self.n_batch = n_batch
        self.shape = list(shape)
        self.n_layers = list(n_layers)
        self._assigned = True
        self._tensor = None  # fed autodiff Tensor (LOCAL) / feed array (DATA)
        self._array = None   # free-space numpy storage (global)
        self._pending = None  # queued assignment, applied at initialize()
        self._leaf = None    # autodiff leaf for the current evaluation
        if self.collections not in graph_key.not_parameters:
            if self.n_batch is None:
                full = list(n_layers) + list(shape)
            else:
                full = list(n_layers) + [self.n_batch] + list(shape)
            rng = np.random.default_rng(settings.training.seed + abs(hash(tuple(full))) % (2**31))
            self._pending = _truncated_normal(full, mean, stddev, rng)
            self._array = np.array(self._pending)  # value before explicit initialize()

    # -- storage lifecycle (`param.py:241-279`) --------------------------
    def assign(self, value):
        """Queue a new (constrained-space) value; applied at initialize()."""
        if self.collections not in graph_key.not_parameters:
            self._pending = np.asarray(
                self.transform.backward(value), dtype=settings.dtypes.float_type
            )
            self._assigned = True

    def initialize(self):
        if self._assigned and self._pending is not None:
            self._array = np.array(self._pending, dtype=settings.dtypes.float_type)
        self.finalize()

    def finalize(self):
        """Clear the pending flag (`param.py:260-266`)."""
        self._assigned = False

    @property
    def value(self):
        """Current constrained-space value as numpy (`param.py:268-279`)."""
        if self._assigned and self.collections not in graph_key.not_parameters:
            self.initialize()
        if self.collections in graph_key.not_parameters:
            t = self.tensor()
            return np.array(t.data) if isinstance(t, ad.Tensor) else np.array(t)
        return np.asarray(self.transform.forward(self._array))

    # -- evaluation ------------------------------------------------------
    def free_leaf(self) -> ad.Tensor:
        """The autodiff leaf in free space for the current evaluation.

        One leaf per evaluation so gradients accumulate; reset via
        `reset_eval` before each objective evaluation.
        """
        if self.collections in graph_key.not_parameters:
            raise ValueError(f"{self.long_name}: LOCAL/DATA variables have no leaf")
        if self._assigned and self._pending is not None:
            self.initialize()
        if self._leaf is None:
            self._leaf = ad.Tensor(self._array, requires_grad=True)
        return self._leaf

    def tensor(self):
        """Transformed tensor for the current evaluation (`param.py:211-218`)."""
        if self.collections in graph_key.not_parameters:
            return self._tensor
        return self.transform.forward(self.free_leaf())

    def reset_eval(self):
        self._leaf = None
        if self.collections == graph_key.LOCAL:
            self._tensor = None

    # -- collection queries (`param.py:225-239`) -------------------------
    def get_variables(self, collection=None):
        if collection is None or collection in self.collections:
            return [self]
        return []

    # -- LOCAL feeding (`param.py:281-304`) ------------------------------
    @property
    def feed_size(self) -> int:
        if self.collections == graph_key.LOCAL:
            return int(functools.reduce(np.multiply, self.shape, 1))
        return 0

    def feed(self, x):
        """Feed a ``[*n_layers, N, feed_size]`` tensor into this LOCAL param,
        reshaped to ``[*n_layers, N, *shape]``."""
        if self.collections != graph_key.LOCAL:
            raise ValueError(f"{self.long_name} is not LOCAL")
        x = x if isinstance(x, ad.Tensor) else ad.Tensor(x)
        n = x.shape[-2]
        if self.n_batch is not None and self.n_batch != n:
            raise ValueError(
                f"{self.long_name}: minibatch axis {n} != declared n_batch {self.n_batch}"
            )
        self._tensor = x.reshape(tuple(self.n_layers) + (n,) + tuple(self.shape))

    def get_feed_dict(self, minibatch_index=None):
        return {}

    def KL(self, collection=None):
        return 0.0


class Data(Variable):
    """Whole-dataset constant (`param.py:676-714`)."""

    def __init__(self, array):
        Parentable.__init__(self)
        array = np.asarray(array)
        self.transform = transforms.Identity()
        self.collections = graph_key.DATA
        self.n_batch = None
        self.shape = list(array.shape)
        self.n_layers = []
        self._assigned = False
        self._array = None
        self._pending = None
        self._leaf = None
        self.data = self._coerce(array)
        self._tensor = None

    @staticmethod
    def _coerce(array: np.ndarray) -> np.ndarray:
        """dtype coercion mirroring `param.py:689-699`: floats -> float_type,
        ints -> int32; anything else raises."""
        if np.issubdtype(array.dtype, np.floating):
            return array.astype(settings.dtypes.float_type)
        if np.issubdtype(array.dtype, np.integer):
            return array.astype(np.int32)
        raise ValueError(f"unsupported dtype {array.dtype}")

    def assign(self, value):
        """Swap data; shape changes are rejected (`param.py:707-714`)."""
        value = np.asarray(value)
        if list(value.shape) != list(self.shape):
            raise ValueError(
                f"{self.long_name}: shape change {self.shape} -> {list(value.shape)} rejected"
            )
        self.data = self._coerce(value)

    def tensor(self):
        if self._tensor is None:
            self._tensor = ad.Tensor(self.data)  # Tensor casts to float_type
        return self._tensor

    def reset_eval(self):
        self._tensor = None

    def get_feed_dict(self, minibatch_index=None):
        self._tensor = ad.Tensor(self.data)
        return {self: self.data}

    @property
    def value(self):
        return np.array(self.data)


class MinibatchData(Data):
    """Data whose FIRST axis is a minibatch index (`param.py:716-739`)."""

    def get_feed_dict(self, minibatch_index=None):
        if minibatch_index is None:
            batch = self.data
        else:
            batch = self.data[minibatch_index]
        self._tensor = ad.Tensor(batch)
        return {self: batch}


class Parameterized(Parentable):
    """Named tree of parameters with tf_mode tracing (`param.py:316-560`)."""

    def __init__(self):
        Parentable.__init__(self)
        self._tf_mode = False

    def __getattribute__(self, key):
        o = object.__getattribute__(self, key)
        # only tree children are swapped for tensors, so the common case
        # (methods, arrays, flags) returns before reading _tf_mode
        if not isinstance(o, (Parameterized, Variable)) or key == "_parent":
            return o
        try:
            if not object.__getattribute__(self, "_tf_mode"):
                return o
        except AttributeError:
            return o
        if hasattr(o, "tensor"):
            return o.tensor()
        return o

    def __setattr__(self, key, value):
        if key in self.__dict__.keys():
            p = object.__getattribute__(self, key)
            try:
                if object.__getattribute__(self, "_tf_mode"):
                    if isinstance(p, (Variable, Parameterized)):
                        p.feed(value)
                        return
            except (KeyError, AttributeError):
                pass
            if isinstance(p, Variable):
                if isinstance(value, (float, int)):
                    value = np.array([value], dtype=np.float64)
                if isinstance(value, np.ndarray):
                    p.assign(value)
                    return
            if isinstance(p, (Variable, Parameterized)) and isinstance(
                value, (Variable, Parameterized)
            ):
                p._parent = None
        object.__setattr__(self, key, value)
        if isinstance(value, Parentable) and key != "_parent":
            value._parent = self

    @contextmanager
    def tf_mode(self):
        self._begin_tf_mode()
        try:
            yield
        finally:
            self._end_tf_mode()

    def _begin_tf_mode(self):
        [c._begin_tf_mode() for c in self.sorted_variables if isinstance(c, Parameterized)]
        self._tf_mode = True

    def _end_tf_mode(self):
        [c._end_tf_mode() for c in self.sorted_variables if isinstance(c, Parameterized)]
        self._tf_mode = False

    @property
    def sorted_variables(self):
        """Child Variables/Parameterized sorted by name (`param.py:455-465`).

        A child's name is the first key its parent holds it under, so a
        child of this node sorts by that key, read off this walk of
        ``__dict__``; only a child held here but parented elsewhere asks
        `Parentable.name`, which scans its parent's ``__dict__``."""
        keyed, first = [], {}
        for key, child in object.__getattribute__(self, "__dict__").items():
            if isinstance(child, (Variable, Parameterized)) and key != "_parent":
                if child._parent is self:
                    name = first.setdefault(id(child), key)
                else:
                    name = child.name
                keyed.append((name, child))
        keyed.sort(key=itemgetter(0))
        return [child for _, child in keyed]

    def get_variables(self, collection=None):
        """Recursively collect tagged Variables (`param.py:467-485`)."""
        out = []
        for child in self.sorted_variables:
            out.extend(child.get_variables(collection))
        return out

    def get_feed_dict(self, minibatch_index=None):
        """Recursively build feeds for Data children (`param.py:539-547`)."""
        feeds = {}
        for child in self.sorted_variables:
            feeds.update(child.get_feed_dict(minibatch_index))
        return feeds

    def reset_eval(self):
        for child in self.sorted_variables:
            child.reset_eval()

    def initialize(self):
        for child in self.sorted_variables:
            child.initialize()

    def finalize(self):
        for child in self.sorted_variables:
            child.finalize()

    # -- LOCAL feed-splitting (`param.py:516-537`) ------------------------
    @property
    def feed_size(self) -> int:
        return int(
            np.sum([c.feed_size for c in self.sorted_variables], dtype=np.int64)
        )

    def feed(self, x):
        """Split one wide ``[..., N, feed_size]`` tensor across all LOCAL
        children in `sorted_variables` order by their feed_size."""
        x = x if isinstance(x, ad.Tensor) else ad.Tensor(x)
        begin = 0
        for child in self.sorted_variables:
            size = child.feed_size
            if size == 0:
                continue
            sl = [slice(None)] * (x.ndim - 1) + [slice(begin, begin + size)]
            child.feed(x[tuple(sl)])
            begin += size
        if begin != x.shape[-1]:
            raise ValueError(
                f"{self.long_name}: feed width {x.shape[-1]} != total feed_size {begin}"
            )

    def KL(self, collection=None):
        """Recursively sum child KL terms (`param.py:549-560`)."""
        terms = [c.KL(collection) for c in self.sorted_variables]
        terms = [t for t in terms if t is not None]
        if not terms:
            return 0.0
        return functools.reduce(lambda a, b: a + b, terms)

    # -- checkpointing (`param.py:562-603`) --------------------------------
    def param_state(self) -> dict:
        """{long_name: free-space ndarray} for all global parameters."""
        state = {}
        for v in self.get_variables():
            if v.collections not in graph_key.not_parameters:
                if v._assigned and v._pending is not None:
                    v.initialize()
                state[v.long_name] = np.array(v._array)
        return state

    def save(self, path: str):
        """Checkpoint global params keyed by long_name (npz)."""
        state = self.param_state()
        np.savez(path if path.endswith(".npz") else path + ".npz", **state)

    def restore(self, path: str):
        """Load a checkpoint into matching long_names; restored values are
        final (re-initialize() does not clobber them), matching
        `testing/test_model.py:76-105`."""
        data = np.load(path if path.endswith(".npz") else path + ".npz")
        prefix = self.long_name
        by_name = {v.long_name: v for v in self.get_variables()}
        for key in data.files:
            v = by_name.get(key)
            if v is None and not key.startswith(prefix):
                # saved from a different root name; re-root
                suffix = key.split(".", 1)[1] if "." in key else key
                v = by_name.get(prefix + "." + suffix)
            if v is not None:
                v._array = np.array(data[key], dtype=settings.dtypes.float_type)
                v._pending = None
                v.finalize()


class ParamList(Parameterized):
    """Ordered list container of parameters (`param.py:605-674`)."""

    def __init__(self, list_of_params=None):
        Parameterized.__init__(self)
        self._list = []
        for item in list_of_params or []:
            self.append(item)

    def append(self, item):
        if not isinstance(item, Parentable):
            raise AssertionError("can only append Parentable items")
        item._parent = self
        self._list.append(item)

    def __len__(self):
        return len(self._list)

    def __getitem__(self, i):
        o = self._list[i]
        if self._tf_mode and hasattr(o, "tensor"):
            return o.tensor()
        return o

    def __setitem__(self, i, value):
        p = self._list[i]
        if self._tf_mode and isinstance(p, (Variable, Parameterized)):
            p.feed(value)
            return
        if isinstance(p, Variable) and isinstance(value, np.ndarray):
            p.assign(value)
            return
        value._parent = self
        self._list[i] = value

    @property
    def sorted_variables(self):
        return list(self._list)
