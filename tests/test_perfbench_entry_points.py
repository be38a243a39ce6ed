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


def test_pruned_reads_attribute_their_prune_span(spark, tmp_path, monkeypatch):
    """``perfbench/layers.py`` counts ``stats.files_kept_frac`` from the
    ``stats.prune`` spans whose DIRECT parent is a pruned read. Each
    pruned read must keep calling ``prune_files`` through the module
    inside its own span, and a read over a fresh StatsIndex must not
    footer-scan."""
    from pydala2_spark.plans.snapshots import SnapshotDataset
    from pydala2_spark.plans.stats import StatsIndex
    from pydala2_spark.sources.dataset import ParquetDataset

    spec = importlib.util.spec_from_file_location("perfbench_spans", SPANS_PATH)
    spans = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, spec.name, spans)
    spec.loader.exec_module(spans)

    plain = str(tmp_path / "plain")
    for lo in (0, 100):
        spark.range(lo, lo + 100).coalesce(1).write.mode("append").parquet(plain)
    StatsIndex(spark, plain).refresh()
    ds = ParquetDataset(plain, spark=spark)
    snap = SnapshotDataset(spark, str(tmp_path / "snap"))
    for lo in (0, 100):
        snap.commit(spark.range(lo, lo + 100).coalesce(1))

    tracer = spans.Tracer()
    inst = spans.instrument(tracer)
    tracer.enabled = True
    try:
        for scan, call in (
            ("stats.read_pruned", lambda: ds.scan("id", 10, 20)),
            ("snapshots.read_pruned", lambda: snap.read_pruned("id", 10, 20)),
        ):
            first = len(tracer.spans)
            call()
            new = tracer.spans[first:]
            prunes = [s for s in new if s.name == "stats.prune"]
            assert len(prunes) == 1, scan
            assert tracer.spans[prunes[0].parent].name == scan
            assert [f.endswith(".parquet") for f in prunes[0].attrs["kept"]] == [True]
        footer_parents = {
            tracer.spans[s.parent].name
            for s in tracer.spans
            if s.name == "stats.footer_scan" and s.parent is not None
        }
        assert "stats.read_pruned" not in footer_parents
    finally:
        tracer.enabled = False
        inst.undo()
