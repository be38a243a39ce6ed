"""Per-layer metrics of a traced run, and the end-to-end metric each one
should move (``LAYER_MAP``).

Times (``*_s``) and counts are per operation: the sum over a traced
run's operations divided by their number. A layer a workload never
calls reports 0 (the lake layers on ``registry_fixed``, the query layer
on ``lake_mixed``). ``bloom.build_s`` is per build and covers set-up.
"""

from __future__ import annotations

import statistics

from workloads import LAKE_CLASSES, LAKE_FRESH, REGISTRY_QUERIES

_LAKE = "lake_mixed"
_REG = "registry_fixed"

# layer metric -> (unit, end-to-end metric it should move, workload)
LAYER_MAP = {
    # plans.stats
    "stats.footer_scan_s": ("s", "range_* p50 -> class_geomean_s, op_p50_s", _LAKE),
    "stats.footer_scan_calls": ("count", "range_* p50 -> class_geomean_s", _LAKE),
    "stats.prune_s": ("s", "range_* p50 -> class_geomean_s", _LAKE),
    "stats.files_kept_frac": ("ratio", "range_* p50 -> class_geomean_s", _LAKE),
    "stats.refresh_s": ("s", "mutate_plain p50 -> class_geomean_s", _LAKE),
    # plans.bloom
    "bloom.prune_s": ("s", "point_plain p50 -> class_geomean_s", _LAKE),
    "bloom.files_kept_frac": ("ratio", "point_plain p50 -> class_geomean_s", _LAKE),
    "bloom.false_pos_frac": ("ratio", "point_plain p50 -> class_geomean_s", _LAKE),
    "bloom.build_s": ("s", "setup_s", _LAKE),
    # plans.fs
    "fs.list_calls": ("count", "op_p50_s", _LAKE),
    "fs.list_s": ("s", "op_p50_s", _LAKE),
    # plans.catalog, sources.dataset
    "catalog.register_s": ("s", "sql p50 -> class_geomean_s", _LAKE),
    "dataset.load_s": ("s", "op_p50_s", _LAKE),
    # sources.writer
    "writer.write_s": ("s", "mutate_plain p50 -> class_geomean_s", _LAKE),
    "writer.files_written": ("count", "mutate_plain p50; stored_bytes_per_row", _LAKE),
    "writer.bytes_written": ("B", "mutate_plain p50; stored_bytes_per_row", _LAKE),
    # operators.merge
    "merge.merge_s": ("s", "mutate_plain p50 -> class_geomean_s", _LAKE),
    "merge.delete_where_s": ("s", "mutate_plain p50 -> class_geomean_s", _LAKE),
    "merge.update_where_s": ("s", "mutate_plain p50 -> class_geomean_s", _LAKE),
    "merge.files_rewritten": ("count", "mutate_plain p50; stored_bytes_per_row", _LAKE),
    "merge.write_amp": ("ratio", "mutate_plain p50; stored_bytes_per_row", _LAKE),
    # operators.maintenance
    "maintenance.compact_s": ("s", "compact_plain p50 -> class_geomean_s", _LAKE),
    "maintenance.bytes_rewritten": ("B", "compact_plain p50 -> class_geomean_s", _LAKE),
    "dataset.file_count": ("count", "range_plain p50 -> class_geomean_s", _LAKE),
    # plans.snapshots
    "snapshots.commit_s": ("s", "mutate_snap p50 -> class_geomean_s", _LAKE),
    "snapshots.mutate_s": ("s", "mutate_snap p50 -> class_geomean_s", _LAKE),
    "snapshots.compact_s": ("s", "compact_snap p50 -> class_geomean_s", _LAKE),
    "snapshots.manifest_bytes": ("B", "stored_bytes_per_row", _LAKE),
    # Spark scheduler and executors
    "spark.jobs_per_op": ("count", "op_p50_s", _LAKE),
    "spark.stages_per_op": ("count", "op_p50_s", _LAKE),
    "spark.tasks_per_op": ("count", "op_p50_s", _LAKE),
    "spark.driver_frac": ("ratio", "op_p50_s", _LAKE),
    "spark.executor_run_s": ("s", "class_geomean_s", _REG),
    "spark.shuffle_write_bytes": ("B", "class_geomean_s", _REG),
    "spark.spill_bytes": ("B", "class_geomean_s", _REG),
    "spark.input_bytes": ("B", "range_* p50 -> class_geomean_s", _LAKE),
    # run-level
    "lat.op_p50_s": ("s", "median over all operations; ops_per_s", "both"),
    "stored_bytes_per_row": ("B", "bytes on disk per live row, sidecars included", "both"),
    "failed_op_frac": ("ratio", "correct", "both"),
    "trace.ops_per_s": ("1/s", "ops_per_s of untraced runs: the difference is the overhead", "both"),
    "trace.overhead_frac": ("ratio", "ops_per_s", "both"),
}
# median latency of each operation class
LAYER_MAP.update({f"lat.{c}_p50_s": ("s", "class_geomean_s", _LAKE) for c in LAKE_CLASSES})
LAYER_MAP.update({f"query.{q}_s": ("s", "class_geomean_s", _REG) for q in REGISTRY_QUERIES})

# spans summed per operation into ``<name>_s``
_TIMED = [
    "stats.footer_scan",
    "stats.prune",
    "stats.refresh",
    "bloom.prune",
    "fs.list",
    "catalog.register",
    "dataset.load",
    "writer.write",
    "merge.merge",
    "merge.delete_where",
    "merge.update_where",
    "maintenance.compact",
    "snapshots.commit",
    "snapshots.mutate",
    "snapshots.compact",
]
# a prune under this parent span ran over that copy's files
_SCANS = {"stats.read_pruned": "files", "snapshots.read_pruned": "snap_files"}


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def layer_metrics(wl, records, tracer, summary, stored_bytes, live_rows, ops_per_s) -> dict:
    """Every per-layer metric as ``name -> (value, unit)``."""
    from spans import covered_seconds, span_cost_s

    ids = {r["i"] for r in records}
    n = max(len(records), 1)
    by_op = {r["i"]: r for r in records}
    m: dict[str, float] = {}

    for name in _TIMED:
        total, calls = tracer.totals(name, ids)
        m[f"{name}_s"] = total / n
        if name in ("stats.footer_scan", "fs.list"):
            m[f"{name}_calls"] = calls / n

    # pruning: files kept over the files the pruned copy held
    kept = total = b_kept = b_total = false_pos = 0
    for s in tracer.spans:
        if s.op not in by_op or "kept" not in s.attrs:
            continue
        before = by_op[s.op]["before"]
        parent = tracer.spans[s.parent].name if s.parent is not None else None
        if s.name == "stats.prune" and parent in _SCANS:
            kept += len(s.attrs["kept"])
            total += before[_SCANS[parent]]
        elif s.name == "bloom.prune" and "holding" in before:
            b_kept += len(s.attrs["kept"])
            b_total += before["files"]
            false_pos += sum(1 for f in s.attrs["kept"] if f not in before["holding"])
    m["stats.files_kept_frac"] = _ratio(kept, total)
    m["bloom.files_kept_frac"] = _ratio(b_kept, b_total)
    m["bloom.false_pos_frac"] = _ratio(false_pos, b_kept)
    build_s, builds = tracer.totals("bloom.build", {None})
    m["bloom.build_s"] = _ratio(build_s, builds)

    # files and bytes the plain copy gained or lost around each operation
    files_written = bytes_written = rewritten = merge_bytes = compact_bytes = 0
    changed_rows = 0
    file_counts = []
    for r in records:
        if "plain_bytes" not in r["before"]:
            continue
        file_counts.append(r["after"]["files"])
        kind, stack = r["op"][0], r["op"][1]
        if stack != "plain":
            continue
        before, after = r["before"]["plain_bytes"], r["after"]["plain_bytes"]
        added = sum(b for f, b in after.items() if f not in before)
        files_written += sum(1 for f in after if f not in before)
        bytes_written += added
        if kind in ("upsert", "delete", "update"):
            rewritten += sum(1 for f in before if f not in after)
            merge_bytes += added
            changed_rows += _changed_rows(r["op"])
        elif kind == "compact":
            compact_bytes += added
    m["writer.files_written"] = files_written / n
    m["writer.bytes_written"] = bytes_written / n
    m["merge.files_rewritten"] = rewritten / n
    m["merge.write_amp"] = _ratio(merge_bytes, changed_rows * _ratio(stored_bytes, live_rows))
    m["maintenance.bytes_rewritten"] = compact_bytes / n
    m["dataset.file_count"] = statistics.fmean(file_counts) if file_counts else 0.0
    manifest = getattr(wl, "manifest_bytes", None)
    m["snapshots.manifest_bytes"] = float(manifest()) if manifest else 0.0

    # Spark scheduler and executors
    sp = [r["spark"] for r in records]
    for key in ("jobs", "stages", "tasks"):
        m[f"spark.{key}_per_op"] = sum(s[key] for s in sp) / n
    for key in ("executor_run_s", "shuffle_write_bytes", "spill_bytes", "input_bytes"):
        m[f"spark.{key}"] = sum(s[key] for s in sp) / n
    wall = sum(r["latency"] for r in records)
    in_jobs = sum(min(covered_seconds(r["spark"]["job_intervals"]), r["latency"]) for r in records)
    m["spark.driver_frac"] = _ratio(wall - in_jobs, wall)

    p50 = summary["class_p50_s"]
    for c in LAKE_CLASSES:
        m[f"lat.{c}_p50_s"] = p50.get(c, 0.0)
    for q in REGISTRY_QUERIES:
        m[f"query.{q}_s"] = p50.get(q, 0.0)
    m["lat.op_p50_s"] = summary["op_p50_s"]
    m["stored_bytes_per_row"] = _ratio(stored_bytes, live_rows)
    m["failed_op_frac"] = summary["failed_op_frac"]

    # tracing adds only span bookkeeping inside the timed operations
    n_spans = sum(1 for s in tracer.spans if s.op in ids)
    m["trace.ops_per_s"] = ops_per_s
    m["trace.overhead_frac"] = _ratio(n_spans * span_cost_s(), wall)

    return {k: (float(m[k]), unit) for k, (unit, _, _) in LAYER_MAP.items()}


def _changed_rows(op: tuple) -> int:
    """Rows a plain-copy write asks to change: an upsert's source rows;
    for a delete or update, an estimate of 4 rows per order key in its
    range (the generator's density)."""
    if op[0] == "upsert":
        return len(op[3]) + LAKE_FRESH
    return 4 * (op[3] - op[2])
