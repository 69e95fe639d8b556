"""The benchmark's traced runs patch engine functions by module and
attribute name (perfbench/trace.py TARGETS, resolved with getattr and no
default): a renamed or deleted function breaks every traced run, so each
name must resolve."""

from __future__ import annotations

import importlib

from perfbench.trace import TARGETS


def test_trace_targets_resolve():
    missing = [
        f"{module}.{attr}"
        for module, attr, _ in TARGETS
        if not callable(getattr(importlib.import_module(module), attr, None))
    ]
    assert TARGETS and not missing, f"trace targets that do not resolve: {missing}"
