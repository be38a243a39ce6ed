"""The two workloads: seeded operation lists, how each operation runs
against ``pydala2_spark``, and the DuckDB oracle each result is checked
against.

Both workloads are closed loops with one client: the runner issues an
operation only after the previous one has returned. Operation lists are
plain tuples made from the seed alone, so the same seed always gives the
same list (and the same inputs).
"""

from __future__ import annotations

import os
import random
import shutil

import corpus

# ---------------------------------------------------------------------------
# sizes

LAKE_ROWS = 60_000
LAKE_FILES = 8
LAKE_BATCH = 2_000  # rows per append
LAKE_UPSERT = 400  # appended rows an upsert draws (duplicates collapse)
LAKE_FRESH = 100  # new rows an upsert inserts
BLOOM_BITS = 1 << 16  # per file, 5 hashes: ~2 % false positives at 7,500 keys

REGISTRY_QUERIES = [
    "q5_nation_revenue",
    "q9_product_profit",
    "q18_large_volume_customers",
    "q21_multi_exists",
    "w_pareto_abc",
    "graph_pagerank",
    "graph_label_prop",
    "dedup_minhash_lsh",
    "emb_kmeans",
    "emb_semantic_dedup",
    "doc_substring_search",
    "stream_upsert_sink",
]

STACKS = ("plain", "snap")
_DAYS = 2500  # ship dates span day 1 .. 2499 after 1995-01-01


def _ts_sql(day: int) -> str:
    return corpus.shipdate(day).strftime("%Y-%m-%d %H:%M:%S")


def canon(rows) -> list[tuple]:
    """Order-insensitive, type-stable form of a result for comparison."""

    def cell(v):
        if isinstance(v, float) and v.is_integer():
            return int(v)
        return v

    return sorted(tuple(cell(v) for v in r) for r in rows)


# ---------------------------------------------------------------------------
# operation lists (pure: seed in, tuples out)


def lake_ops(seed: int, n_cycles: int = 30) -> list[tuple]:
    """Cycles of append, range read, upsert, point read, compaction,
    delete, update, SQL read. Every operation except the SQL read runs
    once on the plain dataset and once on the snapshot dataset, as two
    operations; the SQL read runs on the plain dataset through the
    catalog. One cycle holds every operation class and every write kind.

    Appends add order keys above every existing one. Upserts pick row
    ids among appended rows, skewed toward the most recent. Deletes and
    updates hit order-key ranges of the initial rows only, so no write
    touches a row another kind of write can remove, and the plain,
    snapshot and DuckDB states must agree exactly.
    """
    rng = random.Random(seed)
    n_orders = LAKE_ROWS // 4
    ops = []
    next_id = LAKE_ROWS

    def both(*op):
        ops.extend((op[0], stack) + op[1:] for stack in STACKS)

    for c in range(n_cycles):
        both("append", c, next_id)
        next_id += LAKE_BATCH
        lo = rng.randrange(n_orders + (next_id - LAKE_ROWS) // 4 - 1000)
        both("range", lo, lo + 1000)
        n_rows = (c + 1) * LAKE_BATCH
        picks = {
            _appended_id(n_rows - 1 - min(int(rng.expovariate(1 / 1000)), n_rows - 1))
            for _ in range(LAKE_UPSERT)
        }
        both("upsert", c, tuple(sorted(picks)), next_id)
        next_id += LAKE_FRESH
        both("point", rng.randrange(next_id))
        both("compact")
        width = rng.randrange(20, 200)
        lo = rng.randrange(n_orders - width)
        both("delete", lo, lo + width)
        width = rng.randrange(50, 400)
        lo = rng.randrange(n_orders - width)
        both("update", lo, lo + width)
        ops.append(("sql", "plain", rng.randrange(1, _DAYS - 30)))
    return ops


def _appended_id(j: int) -> int:
    """Row id of the ``j``-th appended row (the id counter also advances
    by LAKE_FRESH for the upsert that follows each append)."""
    return LAKE_ROWS + j + (j // LAKE_BATCH) * LAKE_FRESH


def registry_ops(seed: int, n_passes: int = 20) -> list[tuple]:
    """Passes over the 12 fixed queries in a fixed order, so the first
    (cold) operation of every run is the same query. The seed picks the
    data only."""
    return [("query", n) for _ in range(n_passes) for n in REGISTRY_QUERIES]


OP_LISTS = {"lake_mixed": lake_ops, "registry_fixed": registry_ops}
# operations in one cycle (one pass of the fixed queries): every class once
CYCLE = {name: len(make(0, 1)) for name, make in OP_LISTS.items()}


def op_class(workload: str, op: tuple) -> str:
    """The latency class an operation is reported under."""
    if workload == "registry_fixed":
        return op[1]
    kind = "mutate" if op[0] in ("append", "upsert", "delete", "update") else op[0]
    return kind if kind == "sql" else f"{kind}_{op[1]}"


LAKE_CLASSES = [f"{k}_{s}" for k in ("mutate", "compact", "range", "point") for s in STACKS] + ["sql"]


# ---------------------------------------------------------------------------
# shared helpers


def _data_files(path: str) -> dict[str, int]:
    """Visible data files under ``path`` (name -> bytes); directories and
    files starting with ``_`` or ``.`` are sidecars, staging or hidden."""
    out = {}
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


# ---------------------------------------------------------------------------
# lake_mixed


_STATE_SQL = (
    "SELECT count(*), sum(row_id), sum(row_id * CAST(l_quantity AS BIGINT)), "
    "sum(row_id * CAST(round(l_tax * 100) AS BIGINT)), "
    "sum(CASE WHEN l_linestatus = 'U' THEN 1 ELSE 0 END), sum(l_orderkey) FROM {t}"
)
_RANGE_SQL = (
    "SELECT count(*), sum(row_id), sum(row_id * CAST(l_quantity AS BIGINT)) "
    "FROM {t} WHERE l_orderkey BETWEEN {lo} AND {hi}"
)
_POINT_SQL = "SELECT row_id, l_orderkey, l_quantity, l_linestatus FROM {t} WHERE row_id = {k}"
_GROUP_SQL = (
    "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty "
    "FROM {t} WHERE l_shipdate >= TIMESTAMP'{lo}' AND l_shipdate < TIMESTAMP'{hi}' "
    "GROUP BY l_returnflag, l_linestatus"
)


def _write_sql(op: tuple, t: str) -> str:
    """DuckDB statement replaying a delete or update write on table ``t``."""
    where = f"l_orderkey >= {op[2]} AND l_orderkey < {op[3]}"
    if op[0] == "delete":
        return f"DELETE FROM {t} WHERE {where}"
    return f"UPDATE {t} SET l_linestatus = 'U', l_tax = l_tax + 0.01 WHERE {where}"


def _write_clustered(table, path: str) -> None:
    """The initial layout: ``table`` sorted on l_orderkey, cut into
    LAKE_FILES equal files (ship dates stored as UTC instants, the way
    Spark writes its timestamps)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    i = table.schema.get_field_index("l_shipdate")
    table = table.set_column(i, "l_shipdate", table["l_shipdate"].cast(pa.timestamp("us", tz="UTC")))
    table = table.sort_by("l_orderkey")
    per = -(-table.num_rows // LAKE_FILES)
    for k in range(LAKE_FILES):
        part = table.slice(k * per, per)
        pq.write_table(part, os.path.join(path, f"part-{k:05d}.parquet"), compression="zstd")


class LakeMixed:
    """lineitem (plus a unique ``row_id``) as LAKE_FILES small files
    clustered on l_orderkey, kept twice: as a plain ParquetDataset with a
    StatsIndex and a bloom sidecar on the unclustered ``row_id``, and as
    a SnapshotDataset. One seeded stream of writes is applied to both,
    with range, point and SQL reads in between."""

    name = "lake_mixed"
    setup_repeats = 1

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.table = corpus.lake_lineitem(seed, LAKE_ROWS)
        self.batches: dict[int, object] = {}

    def setup(self, i: int) -> None:
        from pydala2_spark.plans.catalog import Catalog
        from pydala2_spark.plans.snapshots import SnapshotDataset
        from pydala2_spark.plans.stats import StatsIndex
        from pydala2_spark.sources.dataset import ParquetDataset

        self.plain_path = os.path.join(self.work, f"plain{i}")
        self.snap_path = os.path.join(self.work, f"snap{i}")
        _write_clustered(self.table, self.plain_path)
        self.plain = ParquetDataset(self.plain_path, spark=self.spark)
        self.schema = self.plain.df.schema
        StatsIndex(self.spark, self.plain_path).refresh()
        self.plain.build_bloom_index("row_id", num_bits=BLOOM_BITS)
        self.snap = SnapshotDataset(self.spark, self.snap_path)
        self.snap.commit(self.spark.read.parquet(self.plain_path))
        self.catalog = Catalog(os.path.join(self.work, f"catalog{i}.yaml"), spark=self.spark)
        self.catalog.create_table("lake.lineitem", self.plain_path)

    # -- generated batches -------------------------------------------------

    def _rows(self, seed: int, first_id: int, n: int):
        """``n`` new rows with ids from ``first_id`` and order keys above
        every key written before them (4 rows per key)."""
        import pyarrow as pa

        t = corpus.lake_lineitem(seed, n)
        ids = t["row_id"].to_numpy() + first_id
        keys = LAKE_ROWS // 4 + (ids - LAKE_ROWS) // 4
        t = t.set_column(t.schema.get_field_index("l_orderkey"), "l_orderkey", pa.array(keys))
        return t.set_column(t.schema.get_field_index("row_id"), "row_id", pa.array(ids))

    def _batch(self, a: int):
        """The rows of append number ``a`` (kept: upserts rewrite them)."""
        if a not in self.batches:
            first = LAKE_ROWS + a * (LAKE_BATCH + LAKE_FRESH)
            self.batches[a] = self._rows(self.seed * 1000 + a, first, LAKE_BATCH)
        return self.batches[a]

    def _upsert_source(self, r: int, ids: tuple, newest: int):
        """Appended rows ``ids`` with a new quantity, plus LAKE_FRESH new
        rows from id ``newest``."""
        import pyarrow as pa
        import pyarrow.compute as pc

        by_append: dict[int, list[int]] = {}
        for rid in ids:
            by_append.setdefault((rid - LAKE_ROWS) // (LAKE_BATCH + LAKE_FRESH), []).append(rid)
        parts = [
            self._batch(a).filter(pc.is_in(self._batch(a)["row_id"], pa.array(rids, pa.int64())))
            for a, rids in sorted(by_append.items())
        ]
        fresh = self._rows(self.seed * 1000 + 500 + r, newest, LAKE_FRESH)
        src = pa.concat_tables(parts + [fresh])
        qty = ((src["row_id"].to_numpy() + r) % 50 + 1).astype("float64")
        return src.set_column(src.schema.get_field_index("l_quantity"), "l_quantity", pa.array(qty))

    # -- operations ---------------------------------------------------------

    def run(self, op: tuple):
        kind, stack = op[0], op[1]
        if kind in ("range", "point", "sql"):
            return self._read(op)
        plain = stack == "plain"
        if kind == "append":
            df = self.spark.createDataFrame(self._batch(op[2]).to_pandas(), self.schema)
            if plain:
                self.plain.write_to_dataset(df, update_metadata=True)
            else:
                self.snap.commit(df)
        elif kind == "upsert":
            _, _, r, ids, newest = op
            src = self._upsert_source(r, ids, newest)
            if plain:
                df = self.spark.createDataFrame(src.to_pandas(), self.schema)
                self.plain.merge(df, strategy="upsert", key_columns=["row_id"], update_metadata=True)
            else:
                id_list = ",".join(str(i) for i in ids)
                self.snap.update_where(
                    f"row_id IN ({id_list})",
                    {"l_quantity": f"CAST((row_id + {r}) % 50 + 1 AS DOUBLE)"},
                )
                fresh = src.slice(src.num_rows - LAKE_FRESH)
                self.snap.commit(self.spark.createDataFrame(fresh.to_pandas(), self.schema))
        elif kind in ("delete", "update"):
            pred = f"l_orderkey >= {op[2]} AND l_orderkey < {op[3]}"
            target = self.plain if plain else self.snap
            extra = {"update_metadata": True} if plain else {}
            if kind == "delete":
                target.delete_where(pred, **extra)
            else:
                target.update_where(pred, {"l_linestatus": "'U'", "l_tax": "l_tax + 0.01"}, **extra)
        elif plain:  # compact
            self.plain.compact_by_rows(max_rows_per_file=LAKE_ROWS // LAKE_FILES)
            self.plain.refresh_metadata()
        else:
            self.snap.compact(small_file_max_bytes=4 << 20, target_file_bytes=64 << 20)
        return None

    def _read(self, op: tuple) -> list[tuple]:
        from pyspark.sql import functions as F

        kind, stack = op[0], op[1]
        if kind == "sql":
            lo, hi = _ts_sql(op[2]), _ts_sql(op[2] + 30)
            df = self.catalog.sql(_GROUP_SQL.format(t="lineitem", lo=lo, hi=hi))
        elif kind == "range":
            lo, hi = op[2], op[3] - 1
            src = (
                self.plain.scan("l_orderkey", lo, hi)
                if stack == "plain"
                else self.snap.read_pruned("l_orderkey", lo, hi)
            )
            df = src.where(F.col("l_orderkey").between(lo, hi)).agg(
                F.count(F.lit(1)),
                F.sum("row_id"),
                F.sum(F.col("row_id") * F.col("l_quantity").cast("long")),
            )
        else:
            k = op[2]
            src = (
                self.plain.scan_point("row_id", [k])
                if stack == "plain"
                else self.snap.read_pruned("row_id", k, k)
            )
            df = src.where(F.col("row_id") == k).select(
                "row_id", "l_orderkey", "l_quantity", "l_linestatus"
            )
        return [tuple(r) for r in df.collect()]

    def expected(self, ops: list[tuple]) -> list:
        """Replay the stream on DuckDB, one table per copy; every read's
        expected result is its copy's state at that point of the stream.
        Leaves the end states in ``self.final``."""
        import duckdb

        con = duckdb.connect()
        con.register("seed_t", self.table)
        for s in STACKS:
            con.execute(f"CREATE TABLE li_{s} AS SELECT * FROM seed_t")
        out = []
        for op in ops:
            kind, t = op[0], f"li_{op[1]}"
            res = None
            if kind == "append":
                con.register("b", self._batch(op[2]))
                con.execute(f"INSERT INTO {t} SELECT * FROM b")
            elif kind == "upsert":
                con.register("u", self._upsert_source(*op[2:]))
                con.execute(f"DELETE FROM {t} WHERE row_id IN (SELECT row_id FROM u)")
                con.execute(f"INSERT INTO {t} SELECT * FROM u")
            elif kind in ("delete", "update"):
                con.execute(_write_sql(op, t))
            elif kind == "range":
                res = con.sql(_RANGE_SQL.format(t=t, lo=op[2], hi=op[3] - 1)).fetchall()
            elif kind == "point":
                res = con.sql(_POINT_SQL.format(t=t, k=op[2])).fetchall()
            elif kind == "sql":
                lo, hi = _ts_sql(op[2]), _ts_sql(op[2] + 30)
                res = con.sql(_GROUP_SQL.format(t=t, lo=lo, hi=hi)).fetchall()
            out.append(res)
        self.final = [con.sql(_STATE_SQL.format(t=f"li_{s}")).fetchone() for s in STACKS]
        con.close()
        return out

    def final_state(self) -> list[tuple]:
        """End state of both copies, in the form of ``self.final``."""
        self.spark.read.parquet(self.plain_path).createOrReplaceTempView("pb_plain")
        self.snap.read().createOrReplaceTempView("pb_snap")
        return [tuple(self.spark.sql(_STATE_SQL.format(t=f"pb_{s}")).first()) for s in STACKS]

    def stored(self) -> tuple[int, int]:
        """(bytes on disk of both copies with their sidecars, live rows of
        both copies)."""
        rows = sum(f[0] for f in self.final)
        return _tree_bytes(self.plain_path) + _tree_bytes(self.snap_path), rows

    def manifest_bytes(self) -> int:
        return _tree_bytes(os.path.join(self.snap_path, "_snapshots"))

    def observe(self, op: tuple) -> dict:
        """Layout facts around a traced operation (taken outside its timing):
        data files of each copy and, for a point read, the files that
        really hold the key."""
        plain = _data_files(self.plain_path)
        out = {"files": len(plain), "snap_files": len(self.snap.files()), "plain_bytes": plain}
        if op[0] == "point" and op[1] == "plain":
            import duckdb

            rows = duckdb.sql(
                f"SELECT DISTINCT filename FROM read_parquet('{self.plain_path}/*.parquet', "
                f"filename=true) WHERE row_id = {op[2]}"
            ).fetchall()
            out["holding"] = {os.path.basename(f) for (f,) in rows}
        return out


# ---------------------------------------------------------------------------
# registry_fixed


class RegistryFixed:
    """The 12 fixed registry queries over a seeded star schema, each timed
    to ``collect()`` and compared to its DuckDB oracle."""

    name = "registry_fixed"
    setup_repeats = 3

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        _keep_scratch_in(os.path.join(work, "scratch"))

    def setup(self, i: int) -> None:
        self.sf_dir = os.path.join(self.work, f"star{i}")
        self.rows = corpus.write_star(self.sf_dir, self.seed)
        if i:
            shutil.rmtree(os.path.join(self.work, f"star{i - 1}"), ignore_errors=True)

    def run(self, op: tuple):
        df = self.queries[op[1]](self.spark, self.sf_dir)
        return df.columns, [tuple(r) for r in df.collect()]

    def expected(self, ops: list[tuple]) -> list:
        import duckdb

        con = duckdb.connect()
        for t in self.rows:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        cache = {}
        for _, name in ops:
            if name not in cache:
                rel = con.sql(self.oracles[name])
                cache[name] = (list(rel.columns), rel.fetchall())
        con.close()
        return [cache[name] for _, name in ops]

    def stored(self) -> tuple[int, int]:
        return _tree_bytes(self.sf_dir), sum(self.rows.values())

    def observe(self, op: tuple) -> dict:
        return {}


def _keep_scratch_in(root: str) -> None:
    """Point the side-effecting queries' scratch datasets (by default under
    ``/tmp``) at ``root``, so a run writes only inside its work directory."""
    import importlib
    import pkgutil

    import pydala2_spark.queries as queries_pkg

    def scratch(spark, sf_dir, prefix):
        path = os.path.join(root, prefix, spark.sparkContext.applicationId)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return path

    for info in pkgutil.iter_modules(queries_pkg.__path__):
        mod = importlib.import_module(f"{queries_pkg.__name__}.{info.name}")
        if hasattr(mod, "_app_scoped_tmp"):
            mod._app_scoped_tmp = scratch


WORKLOADS = {"lake_mixed": LakeMixed, "registry_fixed": RegistryFixed}


def frame_sig(cols, rows):
    """Column-name-sorted, row-sorted, exact-repr form of a query result
    (the registry's oracle comparison)."""

    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return str(int(v))
        return repr(v) if isinstance(v, float) else str(v)

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(cell(r[i]) for i in order) for r in rows)


def matches(workload: str, got, want) -> bool:
    """Whether one operation's result equals its oracle's."""
    if workload == "registry_fixed":
        return frame_sig(*got) == frame_sig(*want)
    if got is None or want is None:
        return got is None and want is None
    return canon(got) == canon(want)
