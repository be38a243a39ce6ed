"""Distributed bloom-filter file index — point-lookup file skipping.

Min/max stats (:mod:`pydala2_spark.plans.stats`) prune RANGE
predicates, matching the reference's row-group pruning
(`/root/reference/pydala/helpers/metadata.py:145-266`). But at 100 TB
a point lookup on a high-cardinality, unclustered column (user id,
document id, content hash) prunes NOTHING that way: every file's
[min, max] spans the probe value, so `id = 123` still opens a million
files. A per-file bloom filter answers "can this file contain value
v?" with no false negatives, extending file-level skipping to
``col = v`` and ``col IN (...)`` — the needle-in-haystack shape that
dominates GDPR deletes, merge key lookups, and sample tracing.

Both halves stay distributed — nothing value-sized ever reaches the
driver:

* **BUILD** is one Spark job: each value hashes ``k`` ways
  (``xxhash64`` with k seed columns), positions fold into sparse
  64-bit words with the ``bit_or`` aggregate grouped by
  ``(file, word_index)``. Output is a parquet sidecar under
  ``<dataset>/_bloom_index/<column>`` (underscore prefix hides it from
  Spark scans, the reference's ``_metadata`` convention). Sidecar size
  is bounded by ``num_bits/64`` rows per file regardless of row count.
* **PROBE** hashes the probe values through the SAME Spark
  expressions (hash equality by construction — no Python reimpl to
  drift), joins them against the sidecar words, and keeps a file when
  ALL k bits of at least one probe value are set. The probe side is
  values×k rows — broadcast-scale for point/IN lookups, which is the
  use case; screening one dataset against another at scale is a join
  (`operators/curate.py` decontamination), not a bloom probe.

Build and refresh are the one sidecar core of
:mod:`pydala2_spark.plans.analyze` (a build is a refresh with no old
sidecar). Membership is the one rule of every sidecar
(:func:`pydala2_spark.plans.stats._known`): each indexed file has a
sentinel row carrying its size in ``word``, and a file the sidecar
does not know by path AND size (appended, or rewritten in place, since
the build) is always kept. A file whose column is entirely NULL cannot
contain a (non-null) probe value and is prunable. The only driver-side
materialization is the candidate FILE LIST — metadata-scale, one
string per surviving file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pydala2_spark.functions.safety import quote_identifier

# Hadoop qualifies local paths as file:/x, input_file_name() as
# file:///x — all sidecar paths are stored and compared scheme-free
# through the package-wide rule in plans/fs.py
from pydala2_spark.plans.fs import schemeless as _schemeless

#: sentinel word_index marking "this file was indexed" even when the
#: indexed column held no non-null values in it; its ``word`` is the
#: file's size, the membership rule's second key.
_SENTINEL = -1


def _bloom_sidecar_path(dataset_path: str, column: str) -> str:
    return f"{dataset_path.rstrip('/')}/_bloom_index/{column}"


def _positions(value_col: F.Column, num_bits: int, num_hashes: int) -> list[F.Column]:
    """The k bit positions of a value — shared verbatim between build
    and probe so the hash family can never diverge. Seeded variants of
    ``xxhash64`` come from hashing (value, seed) pairs."""
    return [
        F.pmod(F.xxhash64(value_col, F.lit(i)), F.lit(num_bits))
        for i in range(num_hashes)
    ]


def _position_words(df: DataFrame, value_col: str, num_bits: int, num_hashes: int) -> DataFrame:
    """(…, value) → (…, hash_i, word_index, word_bit) rows."""
    pos = F.posexplode(
        F.array(*_positions(F.col(value_col), num_bits, num_hashes))
    )
    return (
        df.select("*", pos.alias("hash_i", "__pos"))
        .withColumn("word_index", F.shiftright(F.col("__pos"), 6))
        # shiftleft with a column amount needs the SQL form; the bit
        # stays a long so bit_or folds 64 positions per word
        .withColumn("word_bit", F.expr("shiftleft(1L, int(__pos & 63))"))
        .drop("__pos", value_col)
    )


def _check_geometry(num_bits: int, num_hashes: int) -> None:
    # an unvalidated num_hashes=0 sidecar would make every probe
    # silently prune ALL files
    if num_bits < 64 or num_bits & (num_bits - 1):
        raise ValueError(f"num_bits must be a power of two >= 64, got {num_bits}")
    if not 1 <= num_hashes <= 16:
        raise ValueError(f"num_hashes must be in [1, 16], got {num_hashes}")


def _sentinels(idx: DataFrame):
    """``({file: recorded size}, (num_bits, num_hashes, value_type))``
    from a sidecar's sentinel rows; ``({}, None)`` for an empty one."""
    rows = (
        idx.where(F.col("word_index") == _SENTINEL)
        .select("file_path", "word", "num_bits", "num_hashes", "value_type")
        .collect()
    )
    if not rows:
        return {}, None
    r = rows[0]
    return (
        {x["file_path"]: x["word"] for x in rows},
        (int(r["num_bits"]), int(r["num_hashes"]), r["value_type"]),
    )


def build_bloom_index(
    spark: SparkSession,
    dataset_path: str,
    column: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
    index_path: str | None = None,
) -> dict:
    """Build (or rebuild) the bloom sidecar for ``column``.

    One job: scan → k-way hash → ``bit_or`` per (file, word). With the
    default 2^20 bits/file and k=5, a file holding 100k distinct
    values probes at ~0.8 % false-positive rate, and the sidecar costs
    at most 16384 words (≤128 KiB) per file — independent of file row
    count, so a million-file dataset's index is ~16 GB worst case and
    usually far smaller (sparse words only for set bits).

    Returns ``{"files": n, "words": w}``.
    """
    from pydala2_spark.plans.analyze import _refresh

    quote_identifier(column)  # raises on non-identifier names
    _check_geometry(num_bits, num_hashes)
    path = dataset_path.rstrip("/")
    ipath = index_path or _bloom_sidecar_path(path, column)
    out = _refresh(spark, path, bloom=[(column, ipath, (num_bits, num_hashes), True)])
    n_words = spark.read.parquet(ipath).where(F.col("word_index") != _SENTINEL).count()
    return {"files": out[f"bloom:{column}"]["total"], "words": n_words}


def refresh_bloom_index(
    spark: SparkSession,
    dataset_path: str,
    column: str,
    index_path: str | None = None,
) -> dict:
    """Incremental sidecar refresh (the ``StatsIndex.refresh``
    discipline, same core): hash ONLY files added or rewritten since
    the build, drop rows of removed files, keep everything else. After
    a 1 %-of-files append, the refresh scans 1 % of the data — at
    millions of files that is the difference between a usable index
    and a nightly rebuild. With no sidecar yet this is a build at the
    default geometry. Returns ``{"added": n, "removed": m, "total": k}``.
    """
    from pydala2_spark.plans.analyze import _refresh

    path = dataset_path.rstrip("/")
    ipath = index_path or _bloom_sidecar_path(path, column)
    out = _refresh(spark, path, bloom=[(column, ipath, (1 << 20, 5), False)])
    return out[f"bloom:{column}"]


def bloom_prune(
    spark: SparkSession,
    dataset_path: str,
    column: str,
    values: list,
    index_path: str | None = None,
) -> list[str]:
    """Files that MAY contain any of ``values`` in ``column``.

    No false negatives: every file actually holding one of the values
    survives. False positives at the sidecar's configured rate. Files
    the sidecar does not know (newer than the index, or rewritten in
    place) are kept unseen (conservative).
    """
    quote_identifier(column)  # raises on non-identifier names
    from pydala2_spark.plans.fs import path_exists
    from pydala2_spark.plans.stats import _known, _parquet_listing

    path = dataset_path.rstrip("/")
    ipath = index_path or _bloom_sidecar_path(path, column)
    listing = _parquet_listing(spark, path)
    if not path_exists(spark, ipath):
        return list(listing)  # no index → no pruning
    if not values:
        return []

    idx = spark.read.parquet(ipath)
    recorded, geometry = _sentinels(idx)
    _, unknown, _ = _known(listing, None, recorded)
    if geometry is None:
        return unknown
    num_bits, num_hashes, value_type = geometry
    # schemeless form keys all comparisons; originals are what the
    # caller can hand back to spark.read.parquet
    known = {_schemeless(p): p for p in set(listing) - set(unknown)}
    # probe values must hash EXACTLY as the build side did, so they
    # must enter the plan in the column's native type. Direct typed
    # construction handles every type faithfully (bytes → binary —
    # str(bytes) would hash the repr and silently false-negative).
    # The string→cast fallback exists ONLY for convenience probes like
    # an int against a string column, is entered only on the specific
    # type-mismatch error, and never for binary columns (a repr-hashed
    # bytes probe would violate the no-false-negative contract).
    try:
        probe_raw = spark.createDataFrame(
            [(v,) for v in values], f"__v {value_type}"
        )
    except TypeError:
        if value_type == "binary" or any(isinstance(v, (bytes, bytearray)) for v in values):
            raise
        probe_raw = spark.createDataFrame(
            [(str(v),) for v in values], "raw string"
        ).select(F.col("raw").cast(value_type).alias("__v"))
    probe = probe_raw.select(
        F.monotonically_increasing_id().alias("value_id"), "__v"
    )
    probe_words = _position_words(probe, "__v", int(num_bits), int(num_hashes))

    # a file may contain a value iff all k of its bits are set there
    hits = (
        idx.where(F.col("word_index") != _SENTINEL)
        .join(F.broadcast(probe_words), "word_index")
        .where(F.col("word").bitwiseAND(F.col("word_bit")) == F.col("word_bit"))
        .groupBy("file_path", "value_id")
        .agg(F.countDistinct("hash_i").alias("bits_set"))
        .where(F.col("bits_set") == F.lit(int(num_hashes)))
        .select("file_path")
        .distinct()
    )
    candidates = [known[r["file_path"]] for r in hits.collect() if r["file_path"] in known]
    return sorted(set(candidates) | set(unknown))


def read_bloom_pruned(
    spark: SparkSession,
    dataset_path: str,
    column: str,
    values: list,
    index_path: str | None = None,
) -> DataFrame:
    """Scan only the bloom-surviving files (under ``basePath``, so hive
    partition columns stay); the caller still applies the row-level
    ``isin`` filter (pruning is file-granular)."""
    from pydala2_spark.plans.stats import _read_survivors

    files = bloom_prune(spark, dataset_path, column, values, index_path)
    return _read_survivors(spark, dataset_path.rstrip("/"), files)
