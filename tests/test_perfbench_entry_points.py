"""The traced benchmark (``perfbench/run.py --trace 1``) wraps named
entry points of the package from outside it. A refactor that renames or
removes one must fail here, in the unit suite, rather than only in a
traced benchmark run. No SparkSession is needed: wrapping and restoring
only touches module and class attributes."""

from __future__ import annotations

import importlib
import importlib.util
import os
import sys

SPANS_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench", "spans.py"
)


def _owner(mod_name: str, path: str):
    owner = importlib.import_module(mod_name)
    *cls_path, attr = path.split(".")
    for c in cls_path:
        owner = getattr(owner, c)
    return owner, attr


def test_traced_entry_points_exist_and_are_restored(monkeypatch):
    spec = importlib.util.spec_from_file_location("perfbench_spans", SPANS_PATH)
    spans = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, spec.name, spans)
    spec.loader.exec_module(spans)

    originals = {}
    for mod_name, path, _ in spans.ENTRY_POINTS:
        owner, attr = _owner(mod_name, path)
        assert attr in owner.__dict__, f"traced entry point {mod_name}.{path} is gone"
        originals[(mod_name, path)] = owner.__dict__[attr]

    inst = spans.instrument(spans.Tracer())
    try:
        for (mod_name, path), fn in originals.items():
            owner, attr = _owner(mod_name, path)
            assert owner.__dict__[attr].__wrapped__ is fn, f"{mod_name}.{path} not wrapped"
    finally:
        inst.undo()

    for (mod_name, path), fn in originals.items():
        owner, attr = _owner(mod_name, path)
        assert owner.__dict__[attr] is fn, f"{mod_name}.{path} not restored"
