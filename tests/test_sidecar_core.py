"""The sidecar core's read-side contracts: a file is known to a sidecar
only by path AND size, pruned reads keep hive partition columns, and
``ParquetDataset.scan`` takes its stats from the StatsIndex, reading
footers only of the files the index does not know."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pydala2_spark.plans.bloom import bloom_prune, build_bloom_index, refresh_bloom_index
from pydala2_spark.plans.stats import StatsIndex
from pydala2_spark.sources.dataset import ParquetDataset

from conftest import make_simple_pdf


def _write_ids(path: str, name: str, lo: int, hi: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"id": pa.array(range(lo, hi), pa.int64())}), f"{path}/{name}")


def test_file_rewritten_in_place_is_not_known_to_sidecars(spark, tmp_ds_path):
    """Overwriting a file under its old name changes its size. The
    StatsIndex and bloom rows describe the old contents, so the file
    must count as unknown: kept by every pruned read, and re-read by
    the next refresh (reported as removed AND added)."""
    os.makedirs(tmp_ds_path)
    _write_ids(tmp_ds_path, "part-0.parquet", 0, 100)
    _write_ids(tmp_ds_path, "part-1.parquet", 100, 200)
    idx = StatsIndex(spark, tmp_ds_path)
    idx.refresh()
    build_bloom_index(spark, tmp_ds_path, "id", num_bits=1 << 12)

    _write_ids(tmp_ds_path, "part-0.parquet", 500, 700)
    between = F.col("id").between(540, 560)
    assert idx.read_pruned("id", 540, 560).where(between).count() == 21
    ds = ParquetDataset(tmp_ds_path, spark=spark)
    assert ds.scan("id", 540, 560).where(between).count() == 21
    kept = bloom_prune(spark, tmp_ds_path, "id", [550])
    assert [f.rsplit("/", 1)[-1] for f in kept] == ["part-0.parquet"]

    assert idx.refresh() == {"added": 1, "removed": 1, "total": 2}
    assert refresh_bloom_index(spark, tmp_ds_path, "id") == {
        "added": 1,
        "removed": 1,
        "total": 2,
    }
    # healed: both sidecars now describe the new contents
    assert [f.rsplit("/", 1)[-1] for f in idx.prune("id", 540, 560)] == ["part-0.parquet"]
    assert idx.refresh() == {"added": 0, "removed": 0, "total": 2}
    assert bloom_prune(spark, tmp_ds_path, "id", [50]) == []


def test_pruned_reads_keep_hive_partition_columns(spark, tmp_ds_path):
    df = spark.createDataFrame([(i, f"p{i % 2}") for i in range(40)], "id long, part string")
    df.repartition(1).write.partitionBy("part").parquet(tmp_ds_path)
    ds = ParquetDataset(tmp_ds_path, spark=spark)
    assert ds.df.columns == ["id", "part"]
    idx = StatsIndex(spark, tmp_ds_path)
    idx.refresh()
    ds.build_bloom_index("id", num_bits=1 << 12)

    for got in (ds.scan("id", 3, 5), ds.scan_point("id", [4]), idx.read_pruned("id", 3, 5)):
        assert got.columns == ["id", "part"]
    rows = ds.scan("id", 3, 5).where(F.col("id").between(3, 5)).collect()
    assert sorted(tuple(r) for r in rows) == [(3, "p1"), (4, "p0"), (5, "p1")]


def test_scan_reads_footers_only_of_files_the_index_does_not_know(
    spark, tmp_ds_path, monkeypatch
):
    from pydala2_spark.plans import stats as S
    from pydala2_spark.plans.fs import list_files

    for i in range(3):
        spark.createDataFrame(make_simple_pdf(40, seed=40 * i)).repartition(1).write.mode(
            "append"
        ).parquet(tmp_ds_path)
    StatsIndex(spark, tmp_ds_path).refresh()
    before = set(list_files(spark, tmp_ds_path, suffixes=(".parquet",)))

    calls: list = []
    orig = S.collect_file_stats

    def spy(spark, path, parallelism=None, files=None):
        calls.append(files)
        return orig(spark, path, parallelism, files)

    monkeypatch.setattr(S, "collect_file_stats", spy)
    ds = ParquetDataset(tmp_ds_path, spark=spark)
    ds.scan("id", 45, 85).collect()
    assert calls == []  # a fresh index: no footer read

    # one out-of-band append the index has never seen
    spark.createDataFrame(make_simple_pdf(40, seed=120)).repartition(1).write.mode(
        "append"
    ).parquet(tmp_ds_path)
    appended = sorted(set(list_files(spark, tmp_ds_path, suffixes=(".parquet",))) - before)
    assert len(appended) == 1
    between = F.col("id").between(45, 125)
    got = ds.scan("id", 45, 125).where(between).collect()
    assert calls == [appended]
    want = spark.read.parquet(tmp_ds_path).where(between).collect()
    assert sorted(tuple(r) for r in got) == sorted(tuple(r) for r in want)


def test_footer_scan_above_the_driver_limit_runs_on_executors(spark, tmp_ds_path):
    """More than 32 footers are read on the executors, which re-import
    the stats module with an empty filesystem registry: the driver's
    registrations must ride in the closure."""
    import pyarrow.fs as pafs

    from pydala2_spark.plans.stats import (
        _DRIVER_FOOTERS,
        collect_file_stats,
        register_scheme_filesystem,
        unregister_scheme_filesystem,
    )

    os.makedirs(tmp_ds_path)
    n = _DRIVER_FOOTERS + 1
    for k in range(n):
        _write_ids(tmp_ds_path, f"part-{k:03d}.parquet", 10 * k, 10 * k + 10)
    register_scheme_filesystem(
        "mockfs", pafs.SubTreeFileSystem(os.path.abspath(tmp_ds_path), pafs.LocalFileSystem())
    )
    try:
        uris = [f"mockfs://part-{k:03d}.parquet" for k in range(n)]
        rows = collect_file_stats(spark, "mockfs://", files=uris).collect()
    finally:
        unregister_scheme_filesystem("mockfs")
    assert sorted(r["file_path"] for r in rows) == uris
    assert all(r["num_rows"] == 10 for r in rows)
