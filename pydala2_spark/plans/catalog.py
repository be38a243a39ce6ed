"""YAML catalog — namespaced table entries auto-registered for SQL.

Capability parity with the reference's ``Catalog``
(`/root/reference/pydala/catalog.py:23-109, 139-166, 530-557, 559-793`):
a YAML file mapping ``namespace.table`` → {path, format, partitioning,
write_args}; ``catalog.sql(query)`` extracts referenced table names,
registers each as a view over its dataset, and runs the query.

Spark-first: registration is ``createOrReplaceTempView`` over a lazy
DataFrame, execution is ``spark.sql`` (Catalyst), so a catalog query
against 100 TB of parquet plans exactly like a hand-written DataFrame
program — nothing is materialized at registration time.

Named filesystems (reference `pydala/catalog.py:139-166`,
`pydala/filesystem.py:179-227`): a ``filesystems:`` section maps
profile names to storage credentials/options; tables reference one by
name. The Spark-native translation is **per-bucket Hadoop
configuration** — profile options become
``fs.s3a.bucket.<bucket>.access.key`` etc. on the session's Hadoop
conf at load time, so two S3 profiles (or S3 + local) coexist in ONE
SparkSession without leaking credentials across buckets (the
session-global ``fs.s3a.*`` keys stay untouched). A profile with
``cached: true`` routes reads through :class:`plans.cachefs.LocalCache`
(the reference's cached-fsspec workflow).

YAML layout (same spirit as the reference's):

    filesystems:
      s3_main:
        protocol: s3
        bucket: my-bucket
        key: AKIA...
        secret: "..."
        endpoint_url: http://minio:9000
    tables:
      silver:
        orders:
          path: s3://my-bucket/orders
          format: parquet
          filesystem: s3_main
          partitioning: [year, month]
          write_args: {max_rows_per_file: 1000000}
"""

from __future__ import annotations

import os
import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession

try:
    import yaml  # pyyaml ships with pyspark images; gate anyway

    _HAS_YAML = True
except Exception:  # pragma: no cover
    _HAS_YAML = False

_SQL_TABLE_RE = re.compile(
    r"\b(?:from|join)\s+([A-Za-z_][\w.]*)", re.IGNORECASE
)
_SQL_KEYWORDS = {"select", "lateral", "unnest", "values"}

# profile option -> fs.s3a.[bucket.<b>.] suffix. Only recognized keys
# are forwarded; unknown keys are ignored rather than risk writing a
# malformed Hadoop property.
_S3A_OPTION_MAP = {
    "key": "access.key",
    "access_key": "access.key",
    "secret": "secret.key",
    "secret_key": "secret.key",
    "token": "session.token",
    "session_token": "session.token",
    "endpoint": "endpoint",
    "endpoint_url": "endpoint",
    "region": "endpoint.region",
    "path_style_access": "path.style.access",
}


def s3a_conf_for_profile(profile: dict[str, Any]) -> dict[str, str]:
    """Translate a filesystem profile into Hadoop S3A properties,
    scoped per-bucket when the profile names one (the mechanism that
    lets two S3 accounts share a SparkSession).

    A profile WITHOUT ``bucket`` falls back to the session-global
    ``fs.s3a.*`` prefix — two bucketless profiles applied in one
    session would silently clobber each other's credentials, so that
    fallback warns loudly; name a bucket for real isolation."""
    bucket = profile.get("bucket")
    if not bucket and any(k in _S3A_OPTION_MAP for k in profile):
        import warnings

        warnings.warn(
            "filesystem profile sets s3a credentials without a 'bucket': "
            "they apply SESSION-GLOBALLY (fs.s3a.*) and a second "
            "bucketless profile would overwrite them — add 'bucket: "
            "<name>' for per-bucket isolation",
            stacklevel=2,
        )
    prefix = f"fs.s3a.bucket.{bucket}." if bucket else "fs.s3a."
    out: dict[str, str] = {}
    for opt, val in profile.items():
        suffix = _S3A_OPTION_MAP.get(opt)
        if suffix is None:
            continue
        if isinstance(val, bool):
            val = "true" if val else "false"
        out[prefix + suffix] = str(val)
    if profile.get("anon"):
        out[prefix + "aws.credentials.provider"] = (
            "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider"
        )
    return out


def _rewrite_scheme(path: str) -> str:
    """``s3://`` is fsspec vocabulary; Hadoop's S3 connector is s3a."""
    return re.sub(r"^s3://", "s3a://", path)


def get_table_names(query: str) -> list[str]:
    """Table identifiers referenced by FROM/JOIN clauses.

    Reference delegates to a sqlglot AST walk
    (`pydala/helpers/sql.py:9-13`); a regex over FROM/JOIN targets
    covers the same catalog use case without the dependency
    (subqueries contribute their inner FROMs, which is exactly what
    auto-registration needs).
    """
    no_strings = re.sub(r"'[^']*'", "''", query)
    names = []
    for m in _SQL_TABLE_RE.finditer(no_strings):
        name = m.group(1)
        if name.lower() in _SQL_KEYWORDS:
            continue
        if name not in names:
            names.append(name)
    return names


class Catalog:
    def __init__(self, path: str, spark: SparkSession | None = None) -> None:
        if spark is None:
            from pydala2_spark.session import get_spark

            spark = get_spark()
        self.spark = spark
        self.path = path
        self._config: dict[str, Any] = {"tables": {}, "filesystems": {}}
        self._applied_fs: set[str] = set()
        # atomic create-if-absent hook handed to every snapshot table
        # this catalog loads (plans/snapshots.py commit_publisher) —
        # REQUIRED before committing to snapshot tables on object-store
        # schemes, where rename is not an atomic lock
        self.commit_publisher = None
        if os.path.exists(path):
            self._load_yaml()

    def set_commit_publisher(self, publisher) -> "Catalog":
        """Install the manifest-publish hook (e.g.
        ``snapshots.s3_conditional_put_publisher()``) used by the
        snapshot tables this catalog loads on OBJECT-STORE schemes;
        local/HDFS snapshot tables keep the native atomic-rename lock
        (an S3 hook would reject their scheme-less manifest paths).
        Returns self."""
        self.commit_publisher = publisher
        return self

    # -- persistence -----------------------------------------------------

    def _load_yaml(self) -> None:
        if not _HAS_YAML:
            raise ImportError("pyyaml is required for YAML catalogs")
        with open(self.path) as f:
            self._config = yaml.safe_load(f) or {"tables": {}}
        self._config.setdefault("tables", {})
        self._config.setdefault("filesystems", {})

    def _save_yaml(self) -> None:
        if not _HAS_YAML:
            raise ImportError("pyyaml is required for YAML catalogs")
        with open(self.path, "w") as f:
            yaml.safe_dump(self._config, f, sort_keys=False)

    # -- introspection ---------------------------------------------------

    @property
    def namespaces(self) -> list[str]:
        return sorted(self._config["tables"].keys())

    def all_tables(self) -> list[str]:
        out = []
        for ns, tables in self._config["tables"].items():
            out.extend(f"{ns}.{t}" for t in tables)
        return sorted(out)

    def _entry(self, name: str) -> dict[str, Any]:
        ns, _, table = name.rpartition(".")
        tables = self._config["tables"]
        if ns:
            if ns not in tables or table not in tables[ns]:
                raise KeyError(f"table {name!r} not in catalog")
            return tables[ns][table]
        hits = [(n, t) for n, ts in tables.items() for t in ts if t == table]
        if not hits:
            raise KeyError(f"table {name!r} not in catalog")
        if len(hits) > 1:
            raise KeyError(f"table name {name!r} is ambiguous across namespaces {sorted(h[0] for h in hits)}")
        return tables[hits[0][0]][hits[0][1]]

    def files(self, name: str) -> list[str]:
        return self.load(name).files()

    def schema(self, name: str):
        return self.load(name).schema

    def analyze(
        self,
        name: str,
        bloom_columns: list[str] | None = None,
        ndv_columns: list[str] | None = None,
    ) -> dict:
        """Build (or incrementally refresh) the table's skipping
        sidecars in place: the min/max StatsIndex always, plus bloom
        membership filters and HLL NDV sketches for the named columns.
        Re-running after appends costs only the appended (or rewritten)
        files — every sidecar is diffed against one listing by the one
        sidecar core — and a newly requested NDV column extends the
        tracked set: the catalog-level ANALYZE a warehouse would run
        after ingest.

        Entries with a ``filesystem:`` profile resolve exactly as
        ``load`` does (credentials + scheme rewrite); the sidecars are
        built at the SOURCE path — indexes belong with the data, not a
        local cache mirror. Snapshot tables are refused: directory-
        level sidecars would index replaced versions' files; use
        ``SnapshotDataset.read_pruned`` / ``collect_file_stats(files=
        manifest)`` for version-scoped skipping instead.

        This is :func:`pydala2_spark.plans.analyze.analyze_dataset`,
        the same refresh the single-sidecar builders and the
        write-through ``update_metadata=True`` run: all bloom/NDV
        branches share ONE data scan of the files still needing
        indexing, so an analyze after an append reads the appended
        data once, however many columns are indexed.
        """
        from pydala2_spark.plans.analyze import analyze_dataset

        entry = self._entry(name)
        if entry.get("snapshot"):
            raise ValueError(
                f"analyze({name!r}): snapshot tables index per version — "
                "directory-level sidecars would cover replaced files; use "
                "SnapshotDataset.read_pruned / collect_file_stats(files=...)"
            )
        path = entry["path"].rstrip("/")
        if entry.get("filesystem"):
            self._apply_filesystem(entry["filesystem"])
            path = _rewrite_scheme(path)
        return analyze_dataset(
            self.spark, path, bloom_columns=bloom_columns, ndv_columns=ndv_columns
        )

    def show(self, name: str) -> str:
        """Pretty YAML dump of one table entry (reference
        `pydala/catalog.py:253-270`)."""
        if not _HAS_YAML:
            raise ImportError("pyyaml is required for YAML catalogs")
        text = yaml.safe_dump({name: dict(self._entry(name))}, sort_keys=False)
        print(text)
        return text

    # -- named filesystems (reference catalog.py:139-166) ----------------

    @property
    def filesystems(self) -> list[str]:
        return sorted(self._config.get("filesystems", {}).keys())

    def create_filesystem(self, name: str, protocol: str = "file", **options: Any) -> None:
        self._config.setdefault("filesystems", {})[name] = {
            "protocol": protocol, **options
        }
        self._applied_fs.discard(name)
        self._save_yaml()

    def delete_filesystem(self, name: str) -> None:
        self._config.get("filesystems", {}).pop(name, None)
        self._applied_fs.discard(name)
        self._save_yaml()

    def show_filesystem(self, name: str) -> str:
        """Pretty YAML dump of one filesystem profile with secrets
        masked (reference `pydala/catalog.py:272-294`)."""
        if not _HAS_YAML:
            raise ImportError("pyyaml is required for YAML catalogs")
        profile = dict(self._fs_profile(name))
        for k in ("secret", "secret_key", "token", "session_token", "key", "access_key"):
            if k in profile:
                profile[k] = "***"
        text = yaml.safe_dump({name: profile}, sort_keys=False)
        print(text)
        return text

    def _fs_profile(self, name: str) -> dict[str, Any]:
        fss = self._config.get("filesystems", {})
        if name not in fss:
            raise KeyError(f"filesystem {name!r} not in catalog")
        return fss[name]

    def _apply_filesystem(self, name: str) -> dict[str, Any]:
        """Idempotently push a profile's options onto the session's
        Hadoop conf (per-bucket keys — other buckets keep their own
        credentials) and return the profile."""
        profile = self._fs_profile(name)
        if name in self._applied_fs:
            return profile
        proto = (profile.get("protocol") or "file").lower()
        if proto in ("s3", "s3a"):
            hconf = self.spark.sparkContext._jsc.hadoopConfiguration()
            for key, val in s3a_conf_for_profile(profile).items():
                hconf.set(key, val)
        # protocol 'file' needs no conf; unknown protocols are left to
        # whatever Hadoop connectors the session already carries
        self._applied_fs.add(name)
        return profile

    # -- CRUD (write-through YAML, reference catalog.py:559-793) ---------

    def create_namespace(self, ns: str) -> None:
        self._config["tables"].setdefault(ns, {})
        self._save_yaml()

    def create_table(
        self,
        name: str,
        path: str,
        format: str = "parquet",
        partitioning: list[str] | None = None,
        write_args: dict[str, Any] | None = None,
        **extra: Any,
    ) -> None:
        ns, _, table = name.rpartition(".")
        ns = ns or "default"
        self._config["tables"].setdefault(ns, {})
        entry = {"path": path, "format": format}
        if partitioning:
            entry["partitioning"] = list(partitioning)
        if write_args:
            entry["write_args"] = dict(write_args)
        entry.update(extra)
        self._config["tables"][ns][table] = entry
        self._save_yaml()

    def update_table(self, name: str, **changes: Any) -> None:
        self._entry(name).update(changes)
        self._save_yaml()

    def delete_table(self, name: str, vacuum: bool = False) -> None:
        ns, _, table = name.rpartition(".")
        ns = ns or "default"
        entry = self._config["tables"].get(ns, {}).pop(table, None)
        if entry and vacuum:
            from pydala2_spark.plans.fs import delete_paths

            delete_paths(self.spark, [entry["path"]])
        self._save_yaml()

    def delete_namespace(self, ns: str, vacuum: bool = False) -> None:
        """Drop a namespace and every table entry in it
        (docs/user-guide/catalog-management.md:203); data files are
        only removed with ``vacuum=True``."""
        tables = self._config["tables"].pop(ns, {})
        if vacuum and tables:
            from pydala2_spark.plans.fs import delete_paths

            delete_paths(self.spark, [e["path"] for e in tables.values()])
        self._save_yaml()

    def copy_table(
        self, source: str, dest: str, path: str | None = None, mode: str = "overwrite"
    ) -> None:
        """Copy a table across namespaces
        (docs/user-guide/catalog-management.md:235-244): copies the
        data when a new ``path`` is given (a distributed read→write),
        otherwise registers the destination entry over the same files.
        """
        entry = dict(self._entry(source))
        if path:
            df = self.load(source).df
            df.write.format(entry.get("format", "parquet")).mode(mode).save(path)
            entry["path"] = path
        ns, _, table = dest.rpartition(".")
        ns = ns or "default"
        self._config["tables"].setdefault(ns, {})[table] = entry
        self._save_yaml()

    # -- loading / SQL ---------------------------------------------------

    def load(self, name: str, as_dataset: bool = True):
        from pydala2_spark.sources.dataset import CSVDataset, JSONDataset, ParquetDataset

        entry = self._entry(name)
        path = entry["path"]
        if entry.get("filesystem"):
            profile = self._apply_filesystem(entry["filesystem"])
            path = _rewrite_scheme(path)
            if profile.get("cached"):
                import hashlib

                from pydala2_spark.plans.cachefs import LocalCache

                # one mirror subdir per remote path, so tables sharing
                # a cached profile don't overwrite each other
                storage = profile.get("cache_storage")
                sub = hashlib.md5(path.encode()).hexdigest()[:12]
                cache = LocalCache(
                    self.spark,
                    path,
                    cache_dir=os.path.join(storage, sub) if storage else None,
                )
                cache.sync()
                path = cache.cache_dir
        if entry.get("snapshot"):
            # manifest-managed table: reads follow the snapshot layer
            # (plans/snapshots.py); an optional `version:` in the entry
            # pins time travel for every reader of this catalog. This
            # branch sits AFTER the filesystem-profile block so an
            # s3-profiled snapshot table gets its credentials and
            # scheme rewrite like any other entry.
            from pydala2_spark.plans.snapshots import SnapshotDataset

            # for_path applies the catalog-wide publisher only to
            # object-store tables; local/HDFS tables keep the atomic
            # rename lock (see SnapshotDataset.for_path)
            snap = SnapshotDataset.for_path(
                self.spark, path, commit_publisher=self.commit_publisher
            )
            if as_dataset:
                return snap
            # `tag:` pins by NAME (resolved at read time, so re-tagging
            # rolls every catalog reader together); `version:` pins the
            # number. Both present is ambiguous — refuse.
            if entry.get("tag") is not None and entry.get("version") is not None:
                raise ValueError(
                    f"{name!r}: catalog entry pins both tag and version — "
                    "keep exactly one"
                )
            if entry.get("tag") is not None:
                return snap.read(tag=entry["tag"])
            return snap.read(entry.get("version"))
        cls = {"parquet": ParquetDataset, "csv": CSVDataset, "json": JSONDataset}.get(
            entry.get("format", "parquet"), ParquetDataset
        )
        ds = cls(
            path,
            spark=self.spark,
            partitioning=entry.get("partitioning"),
            name=name.rpartition(".")[2],
        )
        return ds if as_dataset else ds.df

    def register(self, name: str) -> str:
        from pydala2_spark.functions.safety import quote_identifier

        view = name.rpartition(".")[2]
        quote_identifier(view)  # reject non-identifier table names
        self.load(name, as_dataset=False).createOrReplaceTempView(view)
        return view

    def sql(self, query: str) -> DataFrame:
        """Auto-register every catalog table the query references, run it."""
        known = {t.rpartition(".")[2]: t for t in self.all_tables()}
        for ref in get_table_names(query):
            short = ref.rpartition(".")[2]
            if short in known:
                self.register(known[short])
        return self.spark.sql(query)

    def write_table(self, name: str, data: Any, mode: str = "append", **kw: Any) -> None:
        entry = self._entry(name)
        args = dict(entry.get("write_args", {}))
        args.update(kw)
        self.load(name).write_to_dataset(data, mode=mode, **args)
