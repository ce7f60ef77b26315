"""Fixture-table access for the query corpus.

Tables are the driver-generated TPC-H-ish parquet files (TESTDATA.md):
``region nation customer supplier part orders lineitem events documents
embeddings``. Reads go straight through ``spark.read.parquet`` so Catalyst
gets full predicate pushdown / column pruning on the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import configure_runtime

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimension tables that should always be broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Resolved base-table DataFrames, keyed by (applicationId, path, stat
#: fingerprint). ``spark.read.parquet`` pays ~150 ms of driver-side schema
#: inference + relation resolution PER CALL (measured,
#: scripts/driver_overhead_probe.py) — a 6-table query re-resolved every
#: table footer on every build. A real engine resolves a table once per
#: catalog state; this memo is exactly that (a lazy PLAN, never data —
#: every action still recomputes from the parquet files). The stat
#: fingerprint (mtime_ns, size) invalidates the entry when a test rewrites
#: the same path; non-stat-able paths skip the cache entirely.
_TABLE_CACHE: dict[tuple, DataFrame] = {}
_TABLE_CACHE_MAX = 512


def _fixture_fingerprint(path: str) -> tuple | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown fixture table {name!r}; expected one of {TABLE_NAMES}")
    path = table_path(sf_dir, name)
    key = None
    fp = _fixture_fingerprint(path)
    if fp is not None:
        try:
            app_id = spark.sparkContext.applicationId
        except Exception:  # pragma: no cover - stopped context
            app_id = None
        if app_id is not None:
            key = (app_id, path, fp)
            cached = _TABLE_CACHE.get(key)
            if cached is not None:
                return cached
    df = spark.read.parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # events.ts stored as parquet TIMESTAMP(NANOS): read as
            # epoch-nanos LONG (spark.sql.legacy.parquet.nanosAsLong) and
            # truncate to micros with integer division — same floor
            # semantics as DuckDB's ns->us read, and exact (a double
            # division would lose precision above 2^53 ns).
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # micros-precision fixture: align with the session-local
            # TIMESTAMP type the rest of the corpus (and DuckDB) uses.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if key is not None:
        if len(_TABLE_CACHE) >= _TABLE_CACHE_MAX:
            _TABLE_CACHE.clear()
        _TABLE_CACHE[key] = df
    return df


def parallelized(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure enough partitions before heavy narrow (per-row) compute.

    The local fixtures are single-row-group parquet files — Spark cannot
    split them, so a scan followed by expensive per-row work (md5/regex/
    array folds) runs on ONE core. A cheap round-robin repartition unlocks
    all cores. At cluster scale inputs already have >= cores partitions and
    this is a no-op — the check is on the actual scan partitioning, so the
    extra shuffle is never paid when the source is properly split.
    """
    if df.isStreaming:
        # streaming frames can't be partition-probed (.rdd forces a batch
        # plan) and micro-batch sizing is the scheduler's job — pass
        # through so per-row operators compose as streaming stages
        return df
    min_p = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min_p:
        return df.repartition(min_p)
    return df


class Tables:
    """Lazy accessor: ``Tables(spark, sf_dir).lineitem`` -> DataFrame."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        configure_runtime(spark)
        self._spark = spark
        self._sf_dir = sf_dir

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        # memoize: repeated access must return the SAME DataFrame object, so
        # join conditions like t.orders.o_custkey == t.customer.c_custkey
        # resolve against the joined lineage instead of a fresh scan
        df = load_table(self._spark, self._sf_dir, name)
        setattr(self, name, df)
        return df

    def register_views(self) -> None:
        """Register every fixture table as a temp view for ``spark.sql``."""
        for name in TABLE_NAMES:
            load_table(self._spark, self._sf_dir, name).createOrReplaceTempView(name)
