"""Driver-side spans around the public functions of each sparkswift layer.

``install`` wraps every public module-level function defined in a layer's
modules (plus the ``sources.store.Store`` methods, since store probes and
appends are methods) and swaps the wrapper into every loaded ``sparkswift``
module attribute that held the original: the suite modules bind names with
``from ... import ...``, so patching the defining module alone would miss
their calls. Spans are kept in memory and read once the run ends.

Wrappers run on the driver only. Pickled into a UDF closure they reduce to
the original function, so executors never see them.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
import types
from dataclasses import dataclass, field

# layer -> modules whose public functions belong to it
LAYERS = {
    "plans": ["sparkswift.plans.inference"],
    "apply": [
        "sparkswift.accessor",
        "sparkswift.parallel_accessor",
        "sparkswift.operators.apply",
        "sparkswift.operators.groupby",
        "sparkswift.operators.rolling",
        "sparkswift.operators.resample",
        "sparkswift.operators.pandas_api",
    ],
    **{
        name: [f"sparkswift.operators.{name}"]
        for name in (
            "dedup similarity text graph pca joins sampling packing profile events "
            "layout spread multimodal"
        ).split()
    },
    "sources.load": ["sparkswift.sources.loaders", "sparkswift.sources.media_headers"],
    "sources.write": ["sparkswift.sources.writers", "sparkswift.sources.store"],
    "streaming": ["sparkswift.streaming.ops"],
}
# (module, class) -> method -> layer
_METHODS = {
    ("sparkswift.sources.store", "Store"): {
        "exists": "sources.load",
        "read": "sources.load",
        "append": "sources.write",
        "write_members": "sources.write",
        "compact": "sources.write",
    }
}


@dataclass
class Span:
    layer: str
    name: str
    start: float  # time.time() seconds
    end: float = 0.0
    child_s: float = 0.0

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s


@dataclass
class Recorder:
    on: bool = True  # when off, wrappers call straight through
    spans: list[Span] = field(default_factory=list)
    stack: list[Span] = field(default_factory=list)


def _resolve(module: str, qualname: str):
    obj = importlib.import_module(module)
    for part in qualname.split("."):
        obj = getattr(obj, part)
    return obj


class _Wrapped:
    """A traced stand-in for one function; binds like a function."""

    def __init__(self, fn, layer: str, recorder: Recorder):
        functools.update_wrapper(self, fn)
        self._fn, self._layer, self._rec = fn, layer, recorder

    def __call__(self, *args, **kwargs):
        rec = self._rec
        if not rec.on:
            return self._fn(*args, **kwargs)
        span = Span(self._layer, self._fn.__qualname__, time.time())
        rec.stack.append(span)
        try:
            return self._fn(*args, **kwargs)
        finally:
            span.end = time.time()
            rec.stack.pop()
            if rec.stack:
                rec.stack[-1].child_s += span.end - span.start
            rec.spans.append(span)

    def __get__(self, obj, owner=None):
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        return _resolve, (self._fn.__module__, self._fn.__qualname__)


def _traceable(obj, module: str) -> bool:
    return (
        isinstance(obj, types.FunctionType)
        and obj.__module__ == module
        and not obj.__name__.startswith("_")
        # pandas_udf / udf results are functions carrying UDF metadata
        and not hasattr(obj, "evalType")
    )


def install(recorder: Recorder) -> int:
    """Wrap every layer function; returns how many module functions were wrapped."""
    wrappers: dict[int, _Wrapped] = {}
    for layer, modules in LAYERS.items():
        for modname in modules:
            mod = importlib.import_module(modname)
            for obj in list(vars(mod).values()):
                if _traceable(obj, modname):
                    wrappers[id(obj)] = _Wrapped(obj, layer, recorder)
    for (modname, cls_name), methods in _METHODS.items():
        cls = getattr(importlib.import_module(modname), cls_name)
        for attr, layer in methods.items():
            setattr(cls, attr, _Wrapped(vars(cls)[attr], layer, recorder))
    for modname, mod in list(sys.modules.items()):
        if mod is None or not (modname == "sparkswift" or modname.startswith("sparkswift.")):
            continue
        for attr, obj in list(vars(mod).items()):
            w = wrappers.get(id(obj))
            if w is not None and w.__wrapped__ is obj:
                setattr(mod, attr, w)
    return len(wrappers)
