"""Engine configuration.

Mirrors the reference's layered settings system
(`/root/reference/Henbun/_settings.py:26-149`, `Henbun/henbunrc:1-17`):
float dtype, jitter level for Cholesky PD-ness, optional value clipping,
and a context-manager override used heavily by tests
(`/root/reference/testing/test_tf_wraps.py:16-42`).

Spark-side divergence (documented): the reference DEFAULTS to float32
(`henbunrc:7`); this engine defaults `float_type` to float64 because
Spark columns are DOUBLE (Tungsten native) and the DuckDB oracle contract
is bit-exact in float64. The knob is honored, not dead config: it sets
the numpy dtype of `autodiff.Tensor` compute and of `Data`/`Variable`
storage, so `settings.dtypes.float_type = np.float32` (or
`temp_settings`) runs the whole objective/gradient path in float32 —
matching reference accuracy tolerances at half the Arrow/broadcast
bytes."""

from __future__ import annotations

import contextlib
import copy
from dataclasses import dataclass, field

import numpy as np


@dataclass
class _Dtypes:
    float_type: type = np.float64


@dataclass
class _Numerics:
    jitter_level: float = 1e-5
    clip_by_value: bool = False          # henbunrc:12 default off
    clip_value_min: float = -50.0        # henbunrc:13
    clip_value_max: float = 50.0         # henbunrc:14


@dataclass
class _Training:
    seed: int = 0


@dataclass
class Settings:
    dtypes: _Dtypes = field(default_factory=_Dtypes)
    numerics: _Numerics = field(default_factory=_Numerics)
    training: _Training = field(default_factory=_Training)


def parse_rc_value(string: str):
    """Typed parse of one rc value — the reference's grammar
    (`_settings.py:91-108`): booleans, dtype names (mapped to numpy
    here, tf there), floats, ints, else the raw string."""
    if not isinstance(string, str):
        raise ValueError("rc values must be strings")
    if string in ("true", "True"):
        return True
    if string in ("false", "False"):
        return False
    if string in ("float64", "float32", "float16", "int64", "int32", "int16"):
        return getattr(np, string)
    if any(string.count(s) for s in ".eE"):
        try:
            return float(string)
        except ValueError:
            return string
    try:
        return int(string)
    except ValueError:
        return string


def _rc_path(path: str | None = None) -> str | None:
    """Resolve the rc file: explicit arg > $HENBUNRC > search order
    cwd -> home -> package dir, preferring `henbunrc` over `.henbunrc`
    per location (`_settings.py:126-144`)."""
    import os

    if path is not None:
        if not os.path.exists(path):
            raise FileNotFoundError(path)
        return path
    env = os.environ.get("HENBUNRC")
    if env:
        if not os.path.exists(env):
            raise FileNotFoundError(env)
        return env
    locations = [
        os.path.abspath(os.curdir),
        os.path.expanduser("~"),
        os.path.dirname(os.path.realpath(__file__)),
    ]
    for loc in locations:
        for name in ("henbunrc", ".henbunrc"):
            cand = os.path.join(loc, name)
            if os.path.isfile(cand):
                return cand
    return None


def load_rc(path: str | None = None) -> Settings:
    """Defaults -> rc file layer (`_settings.py:26-149` semantics):
    build a `Settings` from dataclass defaults, then overlay any
    matching [section] keys from the INI rc file. Unknown sections/keys
    are ignored (this engine's settings surface is typed and holds only
    what the engine reads; a reference rc's `[verbosity]`/`[profiling]`
    sections and `int_type`/`test_frac`/`init_*` keys set nothing).
    With no rc file anywhere, returns pure defaults."""
    import configparser

    out = Settings()
    resolved = _rc_path(path)
    if resolved is None:
        return out
    cp = configparser.ConfigParser()
    cp.read(resolved)
    groups = {
        "dtypes": out.dtypes,
        "numerics": out.numerics,
        "training": out.training,
    }
    for section in cp.sections():
        target = groups.get(section)
        if target is None:
            continue
        for key, raw in cp[section].items():
            if hasattr(target, key):
                setattr(target, key, parse_rc_value(raw))
    return out


def _load_rc_at_import() -> Settings:
    """Import-time layer load must never break `import henbun_spark`: a
    stale $HENBUNRC (deleted file, leftover CI env) falls back to
    defaults with a stderr note instead of raising. Explicit
    `load_rc(path)` still raises on a missing path."""
    import sys

    try:
        return load_rc()
    except Exception as exc:  # noqa: BLE001 - any rc problem (missing
        # $HENBUNRC target, malformed INI, bad value) must degrade to
        # defaults, not break import
        print(
            f"henbun_spark: ignoring unusable rc config ({exc!r}); "
            "using default settings",
            file=sys.stderr,
        )
        return Settings()


settings = _load_rc_at_import()


@contextlib.contextmanager
def temp_settings(tmp: Settings):
    """Swap global settings within a context (``_settings.py:131-149``)."""
    global settings
    old = copy.deepcopy(settings)
    _assign(settings, tmp)
    try:
        yield settings
    finally:
        _assign(settings, old)


def _assign(dst: Settings, src: Settings) -> None:
    dst.dtypes = copy.deepcopy(src.dtypes)
    dst.numerics = copy.deepcopy(src.numerics)
    dst.training = copy.deepcopy(src.training)
