"""The benchmark's tracer (perfbench.trace) wraps program entry points by
name; a rename must fail here, not only in the slow benchmark smoke test."""

import importlib

from perfbench.trace import TARGETS


def test_trace_targets_resolve():
    for mod_name, attr, _layer in TARGETS:
        obj = importlib.import_module(mod_name)
        for part in attr.split("."):
            assert hasattr(obj, part), f"{mod_name}.{attr}"
            obj = getattr(obj, part)
        assert callable(obj), f"{mod_name}.{attr}"
