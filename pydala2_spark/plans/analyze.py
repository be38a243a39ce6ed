"""The sidecar core — one refresh for every skipping sidecar.

A dataset carries up to three kinds of sidecar: the min/max StatsIndex
(``_stats_index``), one bloom filter per column (``_bloom_index/<col>``)
and the HLL NDV sketches (``_ndv_sketches``). Their lifecycle is
written once, in :func:`_refresh`:

1. list the dataset ONCE — path and size per file;
2. diff each sidecar against that listing through the one membership
   rule (:func:`pydala2_spark.plans.stats._known`): listed files the
   sidecar does not know are added, recorded files it no longer knows
   are removed — a file rewritten in place is both;
3. keep the old rows minus the removed files and derive rows for the
   added files only: footers for the StatsIndex, and for every bloom /
   NDV branch ONE persisted projection of the union of the files any
   of them still needs — an analyze after an append reads the appended
   files' data exactly once, however many columns are indexed;
4. publish each sidecar through one staged swap
   (:func:`pydala2_spark.plans.stats._publish_sidecar`).

A full build is the same refresh with no old sidecar, at the caller's
geometry. ``StatsIndex.refresh``, ``build_bloom_index`` /
``refresh_bloom_index``, ``build_ndv_sketches`` /
``refresh_ndv_sketches``, :func:`analyze_dataset` (``Catalog.analyze``)
and the write-through :func:`refresh_metadata` are all calls into it,
so the fused ANALYZE and the single-sidecar builders are the same
code. Each sidecar keeps its own added/removed set even when the
sidecars are out of sync (e.g. bloom built last week, NDV never).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_BLOOM_EMPTY_SCHEMA = (
    "file_path string, word_index long, word long, "
    "num_bits long, num_hashes int, value_type string"
)


class _Diff(NamedTuple):
    """One sidecar against the listing (see ``stats._known``)."""

    ipath: str
    kept: DataFrame | None  # old rows of the known files; None on a build
    added: list[str]  # listed files whose rows must be derived
    gone: list[str]  # recorded files no longer known


def _read_sidecar(spark: SparkSession, ipath: str, schema=None):
    """The sidecar at ``ipath``, or None when there is none."""
    from pydala2_spark.plans.fs import path_exists

    if not path_exists(spark, ipath):
        return None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(ipath)


def _refresh(
    spark: SparkSession,
    path: str,
    stats_index: str | None = None,
    bloom: list[tuple] = (),
    ndv: tuple | None = None,
) -> dict:
    """Refresh (or build) the named sidecars of the dataset at ``path``.

    ``stats_index`` is the StatsIndex path; each ``bloom`` entry is
    ``(column, sidecar path, (num_bits, num_hashes), rebuild)``; ``ndv``
    is ``(sidecar path, columns, lg_k, rebuild)``. A sidecar is built
    from scratch — at the given geometry — when ``rebuild`` is set or
    it has no usable old rows; an ``lg_k`` of None means the NDV
    sidecar must already exist. Returns ``{"stats": …, "bloom:<col>":
    …, "ndv": …}`` for the sidecars named: ``{"added", "removed",
    "total"}`` each, NDV adding ``"new_columns"`` — or, for an NDV
    build, ``{"rows", "files", "columns"}``."""
    from pydala2_spark.functions.safety import quote_identifier
    from pydala2_spark.plans import stats as S
    from pydala2_spark.plans.bloom import _SENTINEL, _position_words, _sentinels
    from pydala2_spark.plans.fs import schemeless, schemeless_col

    listing = S._parquet_listing(spark, path)

    def diff(ipath, old, recorded) -> _Diff:
        return _Diff(ipath, *S._known(listing, old, recorded))

    def meta(d: _Diff) -> dict:
        return {"added": len(d.added), "removed": len(d.gone), "total": len(listing)}

    out: dict = {}
    if stats_index is not None:
        old = _read_sidecar(spark, stats_index, S.STATS_SCHEMA)
        d = diff(stats_index, old, S._index_sizes(old) if old is not None else {})
        parts = [d.kept] if d.kept is not None else []
        if d.added:
            parts.append(S.collect_file_stats(spark, path, files=d.added))
        S._publish_stats_index(S._union(spark, parts, S.STATS_SCHEMA), stats_index)
        out["stats"] = meta(d)

    # -- plan phase: per-sidecar diffs, metadata-only reads ---------------
    blooms = []
    for column, ipath, geometry, rebuild in bloom:
        quote_identifier(column)
        old = None if rebuild else _read_sidecar(spark, ipath)
        recorded, params = _sentinels(old) if old is not None else ({}, None)
        if params is None:  # build: no sidecar, or an emptied one
            old, params = None, (*geometry, None)
        blooms.append((column, diff(ipath, old, recorded), params))

    nd = None
    if ndv is not None:
        ipath, columns, lg_k, rebuild = ndv
        for c in columns:
            quote_identifier(c)
        old = None if rebuild else _read_sidecar(spark, ipath)
        first = old.select("lg_k").first() if old is not None else None
        if first is None and lg_k is None:
            if old is None:
                raise ValueError(
                    f"no NDV sidecar at {ipath!r}; run build_ndv_sketches(spark, "
                    f"path, columns=[...]) first (a refresh cannot know which "
                    f"columns to sketch)"
                )
            raise ValueError(f"NDV sidecar at {ipath!r} is empty; re-run build_ndv_sketches")
        if first is None:  # build: no sidecar, or an emptied one
            old, tracked, recorded = None, [], {}
        else:
            lg_k = int(first["lg_k"])
            tracked = [r["column"] for r in old.select("column").distinct().collect() if r["column"]]
            recorded = {r["file_path"]: None for r in old.select("file_path").distinct().collect()}
        new_columns = [c for c in columns if c not in tracked]
        nd = (diff(ipath, old, recorded), lg_k, tracked, new_columns, first is None)

    # -- the ONE data pass: union of every sidecar's needed files ---------
    needed: set[str] = set()
    needed_cols = []
    for column, d, _ in blooms:
        needed.update(d.added)
        needed_cols.append(column)
    if nd:
        d, _, tracked, new_columns, _ = nd
        needed.update(d.added)
        if new_columns:
            needed.update(listing)  # a new NDV column is sketched for EVERY file
        needed_cols += tracked + new_columns
    needed_cols = list(dict.fromkeys(needed_cols))
    scan = None
    if needed:
        if len(needed) == len(listing):
            # full build: read the DIRECTORY — at 10⁶ files an explicit
            # path list is a driver-memory/plan-size hazard the listing
            # Spark does anyway avoids
            src = spark.read.parquet(path)
        else:
            # incremental: basePath keeps hive partition columns
            # addressable even though the read is an explicit subset
            src = spark.read.option("basePath", path).parquet(*sorted(needed))
        scan = src.select(
            schemeless_col(F.input_file_name()).alias("__file"),
            *[F.col(c) for c in needed_cols],
        ).persist()

    def scan_for(files: list[str]):
        # a branch that needs the WHOLE scan skips the membership
        # filter — an isin() over 10⁶ literals is itself a plan-size
        # hazard; incremental branches filter on their (small) set
        if len(files) == len(needed):
            return scan
        return scan.filter(F.col("__file").isin([schemeless(f) for f in files]))

    try:
        for column, d, (nb, nh, vt) in blooms:
            parts = [d.kept] if d.kept is not None else []
            if d.added:
                # a refresh casts to the sidecar's stored type (schema
                # drift must not diverge the hash family from the probe
                # side); a build hashes the native type
                vcol = F.col(column) if vt is None else F.col(column).cast(vt)
                vt = vt or scan.schema[column].dataType.simpleString()
                values = (
                    scan_for(d.added)
                    .select(F.col("__file").alias("file_path"), vcol.alias("__v"))
                    .where(F.col("__v").isNotNull())
                )
                words = (
                    _position_words(values, "__v", nb, nh)
                    .groupBy("file_path", "word_index")
                    .agg(F.bit_or("word_bit").alias("word"))
                )
                # sentinel row per file: membership (path + size) in the
                # index, so the probe can tell "indexed, value absent"
                # (prunable) from "not known" (must keep)
                sentinels = spark.createDataFrame(
                    [(schemeless(f), _SENTINEL, listing[f]) for f in d.added],
                    "file_path string, word_index long, word long",
                )
                parts.append(
                    words.unionByName(sentinels)
                    .withColumn("num_bits", F.lit(nb).cast("long"))
                    .withColumn("num_hashes", F.lit(nh).cast("int"))
                    .withColumn("value_type", F.lit(vt))
                )
            S._publish_sidecar(S._union(spark, parts, _BLOOM_EMPTY_SCHEMA), d.ipath)
            out[f"bloom:{column}"] = meta(d)

        if nd:
            d, k, tracked, new_columns, build = nd

            def sketch(files: list[str], col: str):
                return (
                    scan_for(files)
                    .select(F.col("__file").alias("file_path"), F.col(col).alias("__v"))
                    .groupBy("file_path")
                    .agg(F.hll_sketch_agg("__v", F.lit(k)).alias("sketch"))
                    .select("file_path", F.lit(col).alias("column"), "sketch", F.lit(k).alias("lg_k"))
                )

            parts = [d.kept] if d.kept is not None else []
            parts += [sketch(list(listing), c) for c in new_columns if listing]
            parts += [sketch(d.added, c) for c in tracked if d.added]
            # marker row (column="") per added file: a zero-row file
            # emits no sketch group, and without a membership record
            # the staleness guard in estimate_ndv would flag it forever
            parts.append(
                spark.createDataFrame(
                    [(schemeless(f), "") for f in d.added], "file_path string, column string"
                )
                .withColumn("sketch", F.lit(None).cast("binary"))
                .withColumn("lg_k", F.lit(k))
            )
            S._publish_sidecar(S._union(spark, parts, None), d.ipath)
            if build:
                n = spark.read.parquet(d.ipath).filter(F.col("column") != "").count()
                out["ndv"] = {"rows": n, "files": len(listing), "columns": list(columns)}
            else:
                out["ndv"] = {**meta(d), "new_columns": new_columns}
    finally:
        if scan is not None:
            scan.unpersist()
    return out


def analyze_dataset(
    spark: SparkSession,
    dataset_path: str,
    bloom_columns: list[str] | None = None,
    ndv_columns: list[str] | None = None,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
    lg_k: int = 12,
) -> dict:
    """Build or incrementally refresh the min/max StatsIndex (always),
    bloom sidecars for ``bloom_columns``, and HLL NDV sketches for
    ``ndv_columns`` — one listing, and at most ONE data-reading scan
    shared by all bloom/NDV branches (the StatsIndex needs footers
    only). A sidecar that does not exist yet is built at the given
    geometry.

    Returns the same result dict as the single-sidecar builders:
    ``{"stats": …, "bloom:<col>": …, "ndv": …}``.
    """
    from pydala2_spark.plans.bloom import _bloom_sidecar_path, _check_geometry
    from pydala2_spark.plans.stats import StatsIndex, ndv_sidecar_path

    _check_geometry(num_bits, num_hashes)
    path = dataset_path.rstrip("/")
    ndv_columns = list(dict.fromkeys(ndv_columns or []))
    return _refresh(
        spark,
        path,
        stats_index=StatsIndex(spark, path).index_path,
        bloom=[
            (c, _bloom_sidecar_path(path, c), (num_bits, num_hashes), False)
            for c in dict.fromkeys(bloom_columns or [])
        ],
        ndv=(ndv_sidecar_path(path), ndv_columns, lg_k, False) if ndv_columns else None,
    )


def existing_sidecar_columns(spark: SparkSession, dataset_path: str) -> dict:
    """Discover which skipping sidecars the layout already carries —
    ``{"bloom": [cols], "ndv": [cols]}`` — from metadata only (one
    directory listing for bloom, one sidecar-parquet column scan for
    NDV; neither touches data files). The write-through refresh uses
    this so a plain ``update_metadata=True`` maintains exactly the
    sidecars an operator previously opted into, no more."""
    from pydala2_spark.plans.fs import _fs_and_path, path_exists
    from pydala2_spark.plans.stats import ndv_sidecar_path

    path = dataset_path.rstrip("/")
    out: dict = {"bloom": [], "ndv": []}
    broot = f"{path}/_bloom_index"
    if path_exists(spark, broot):
        fs, hpath, _ = _fs_and_path(spark, broot)
        for st in fs.listStatus(hpath):
            if st.isDirectory():
                out["bloom"].append(st.getPath().getName())
        out["bloom"].sort()
    npath = ndv_sidecar_path(path)
    if path_exists(spark, npath):
        rows = (
            spark.read.parquet(npath)
            .select("column")
            .filter(F.col("column") != "")
            .distinct()
            .collect()
        )
        out["ndv"] = sorted(r["column"] for r in rows)
    return out


def refresh_metadata(spark: SparkSession, dataset_path: str) -> dict:
    """Write-through sidecar refresh — the reference's
    ``update_metadata=True`` contract (`pydala/dataset.py:1479-1530`:
    every write folds the new files into `_metadata` without a manual
    rebuild). Here: the min/max StatsIndex always refreshes, and every
    bloom / NDV sidecar that already exists on the layout refreshes
    incrementally — new files' data is read ONCE, shared across all
    sidecars, via :func:`analyze_dataset`. Sidecars the caller never
    built are not invented (building one is an explicit opt-in with
    geometry choices); use ``Catalog.analyze`` / ``analyze_dataset``
    to add one.
    """
    found = existing_sidecar_columns(spark, dataset_path)
    return analyze_dataset(
        spark,
        dataset_path,
        bloom_columns=found["bloom"],
        ndv_columns=found["ndv"],
    )
