"""Session-keyed store for trained state that several registry entries share.

A trainer decorated with :func:`memoized` keeps ONE slot: the value of its
last build under a ``cache_key``. The slot's key is the Spark application,
the trainer, and every argument of the call except the input frame, for
which ``cache_key`` (the caller-owned identity of that frame, e.g. the
dataset path) stands in; lists are frozen to tuples. So any change of
configuration misses, and a new trainer parameter cannot be left out of
the key. A new session misses too: the stored frames sit on
localCheckpoint blocks that only the building session's executors hold.
``cache_key=None`` always builds fresh.

The lock covers the dict operations only, never a build: two concurrent
misses on one key (``ann_recall_report`` trains from a thread pool) may
both build — identical deterministic results, the second insert wins.
"""

from __future__ import annotations

import functools
import inspect
import threading
from typing import Iterable

_SLOTS: dict[str, tuple[tuple, object]] = {}  # trainer -> (key, value)
_LOCK = threading.Lock()


def _frozen(v: object) -> object:
    return tuple(map(_frozen, v)) if isinstance(v, (list, tuple)) else v


def memoized(frame: str):
    """Memoize a trainer whose input frame is its parameter ``frame`` and
    whose ``cache_key`` parameter names that input."""

    def decorate(fn):
        sig = inspect.signature(fn)
        op = f"{fn.__module__}.{fn.__qualname__}"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            call = sig.bind(*args, **kwargs)
            call.apply_defaults()
            if call.arguments["cache_key"] is None:
                return fn(*args, **kwargs)
            app = call.arguments[frame].sparkSession.sparkContext.applicationId
            key = (op, app) + tuple(
                (n, _frozen(v)) for n, v in call.arguments.items() if n != frame
            )
            with _LOCK:
                slot = _SLOTS.get(op)
            if slot is not None and slot[0] == key:
                return slot[1]
            out = fn(*args, **kwargs)
            with _LOCK:
                _SLOTS[op] = (key, out)
            return out

        return wrapper

    return decorate


def held() -> set[tuple]:
    """Keys of the artifacts the store holds now."""
    with _LOCK:
        return {key for key, _ in _SLOTS.values()}


def forget(keys: Iterable[tuple]) -> None:
    """Drop the held artifacts whose key is in ``keys``."""
    keys = set(keys)
    with _LOCK:
        for op, (key, _) in list(_SLOTS.items()):
            if key in keys:
                del _SLOTS[op]
