"""Helpers shared by the benchmark's workloads."""

from __future__ import annotations

import contextlib
import os
from dataclasses import dataclass


class CheckFailed(Exception):
    """An output check found a wrong result."""


@dataclass
class OpResult:
    items: int


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


@contextlib.contextmanager
def patched(module, name: str, wrapper):
    """Replace ``module.name`` with ``wrapper(original)`` for the block.
    Callers inside the package look the name up at call time, so the
    wrapper sees every call the program makes through the module."""
    original = getattr(module, name)
    setattr(module, name, wrapper(original))
    try:
        yield
    finally:
        setattr(module, name, original)


def traced_call(tracer, span_name: str, on_result=None):
    """Wrapper factory for :func:`patched`: one span per call.
    ``on_result(span, out, args, kwargs)`` may return a replacement for
    the call's result."""

    def wrap(fn):
        def inner(*args, **kwargs):
            with tracer.span(span_name) as s:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    replaced = on_result(s, out, args, kwargs)
                    if replaced is not None:
                        out = replaced
                return out

        return inner

    return wrap
