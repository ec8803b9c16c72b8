"""Benchmark-side spans around the engine's layer boundaries.

`Tracer.install` replaces each layer's public functions with a wrapper
that times the call, everywhere the engine holds a reference to them:
the defining module, and every engine module that bound the name at
import time (`queries/composed.py` binds `merge_asof`, `queries/*.py`
bind `load_table`, `queries/dedup.py` binds a `RetainedCaches.evict`
method).  `uninstall` puts the originals back, so untraced passes run
the program unchanged.

A layer's time is the wall time of its outermost call: a call made
while the same layer is already on the stack is counted in the outer
call only.  A layer's time does include calls it makes into other
layers (graphcc's `release_local_checkpoint`, for example).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
import types
from collections import Counter, defaultdict

ENGINE = "ondemand_dask_spark"

# layer name -> module whose public functions (and class methods) are
# that layer's entry points
LAYER_MODULES = {
    "io": "ondemand_dask_spark.io",
    "operators.quantile": "ondemand_dask_spark.operators.quantile",
    "operators.rank": "ondemand_dask_spark.operators.rank",
    "operators.asof": "ondemand_dask_spark.operators.asof",
    "operators.graphcc": "ondemand_dask_spark.operators.graphcc",
    "operators.checkpoint": "ondemand_dask_spark.operators.checkpoint",
}


def _public_callables(mod: types.ModuleType):
    """(owner, attribute, function) for each public function defined in
    `mod` and each public method of a class defined there."""
    for name, obj in vars(mod).items():
        if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
            continue
        if inspect.isfunction(obj):
            yield mod, name, obj
        elif inspect.isclass(obj):
            for mname, meth in vars(obj).items():
                if not mname.startswith("_") and inspect.isfunction(meth):
                    yield obj, mname, meth


class Tracer:
    def __init__(self) -> None:
        self.seconds: dict[str, float] = defaultdict(float)
        self.calls: Counter[str] = Counter()
        self.local_checkpoints = 0
        self.loaded_tables: set[str] = set()
        self._active: set[str] = set()
        self._patched: list[tuple[object, str, object]] = []

    def span(self, layer: str, fn):
        records_table = fn.__name__ == "load_table"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if records_table:
                self.loaded_tables.add(args[2] if len(args) > 2 else kwargs["name"])
            if layer in self._active:
                return fn(*args, **kwargs)
            self._active.add(layer)
            self.calls[layer] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds[layer] += time.perf_counter() - t0
                self._active.discard(layer)

        return wrapper

    def _set(self, owner, attr: str, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def install(self, dataframe_cls: type) -> None:
        """Wrap every layer entry point, and count `localCheckpoint`
        calls on `dataframe_cls` (the session's concrete DataFrame)."""
        wrapped = {}
        for layer, modname in LAYER_MODULES.items():
            for owner, attr, fn in _public_callables(importlib.import_module(modname)):
                wrapped[fn] = self.span(layer, fn)
                self._set(owner, attr, wrapped[fn])
        for mod in [m for n, m in sys.modules.items() if n.startswith(ENGINE)]:
            for attr, val in list(vars(mod).items()):
                if isinstance(val, types.FunctionType) and val in wrapped:
                    self._set(mod, attr, wrapped[val])
                elif isinstance(val, types.MethodType) and val.__func__ in wrapped:
                    bound = types.MethodType(wrapped[val.__func__], val.__self__)
                    self._set(mod, attr, bound)

        original = dataframe_cls.localCheckpoint

        def local_checkpoint(df, *args, **kwargs):
            self.local_checkpoints += 1
            return original(df, *args, **kwargs)

        self._set(dataframe_cls, "localCheckpoint", local_checkpoint)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, value = self._patched.pop()
            setattr(owner, attr, value)
