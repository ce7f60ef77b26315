"""The benchmark's workloads: closed loop, one client, back-to-back ops
against the public copy-engine API.

A workload is prepared (inputs generated, engine built, first load) and then
driven op by op. Every op is followed, outside the timed window, by
:meth:`Workload.check`, which compares what was published with what the
generator wrote.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime, timedelta

import numpy as np
from pyspark.sql import functions as F

from mssql2monetdb_spark.config.spec import load_spec
from mssql2monetdb_spark.engine.copy import EXIT_NO_NEW_DATA, EXIT_OK, CopyEngine
from mssql2monetdb_spark.sources.jdbc import derby_shutdown, driver_connection

from perfbench import gen

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
RETAIN = 2  # the reference's keep-2 retention

_REVENUE_SQL = (
    "SELECT c.c_nationkey AS nation, COUNT(*) AS n_orders, "
    "SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue "
    "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
    "GROUP BY c.c_nationkey"
)
_REVENUE_COUNT_SQL = (
    "SELECT COUNT(DISTINCT c.c_nationkey) FROM orders o "
    "JOIN customer c ON o.o_custkey = c.c_custkey"
)


class Workload:
    """One prepared instance of a workload; subclasses fill in the rest."""

    #: The kinds of op one cycle of the loop runs, in order; the first is
    #: the workload's primary op, the one ``op_s_p50`` and ``rows_per_s``
    #: describe.
    cycle: tuple[str, ...] = ("load",)
    #: Input sizes in rows. BENCHMARK.json's ``why`` lines and README.md
    #: repeat them; change all three together.
    sizes: dict[str, int] = {}

    def __init__(self, spark, seed: int, work_dir: str) -> None:
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.engine: CopyEngine | None = None
        self.loads = 0
        #: table -> (key column, price column, expected checksum)
        self.expected: dict[str, tuple[str, str, gen.Checksum]] = {}
        self.source_rows = 0

    # -- preparation ---------------------------------------------------------
    def prepare(self) -> None:
        """Generate inputs, build the engine and make the first load."""
        shutil.rmtree(self.work_dir, ignore_errors=True)
        os.makedirs(self.work_dir)
        self.generate(os.path.join(self.work_dir, "src"))
        self.engine = CopyEngine(self.spark, load_spec(self.spec()))
        if self.run_op() != EXIT_OK:
            raise RuntimeError(f"{type(self).__name__}: the initial load failed")

    def generate(self, src: str) -> None:
        raise NotImplementedError

    def spec(self) -> dict:
        raise NotImplementedError

    def _write(self, table, src: str, name: str, key: str, price: str, **kw) -> None:
        gen.write_parts(table, os.path.join(src, f"{name}.parquet"), **kw)
        self.source_rows += table.num_rows
        self.expected[name] = (key, price, gen.checksums(table, key, price))

    # -- the loop ------------------------------------------------------------
    def before_op(self, kind: str) -> None:
        """Untimed work before an op of ``kind`` (e.g. appending new rows)."""

    def expect_exit(self, kind: str) -> int:
        """The exit code an op of ``kind`` must return."""
        return EXIT_OK

    def run_op(self) -> int:
        """The timed op: one ``CopyEngine.run`` with the next load date."""
        self.loads += 1
        return self.engine.run(load_date=datetime(2024, 1, 1) + timedelta(minutes=self.loads))

    def rows_published(self) -> int:
        """Rows the published tables must hold after an op."""
        return sum(c.count for _, _, c in self.expected.values())

    def check(self, *, full: bool) -> list[str]:
        """Errors in the published state; empty when it is right. The
        retained versions are checked always, the published contents only
        when ``full`` (after every primary op)."""
        errors = self.version_errors()
        if full:
            actual = self.published_checksums()
            for table, (_, _, want) in sorted(self.expected.items()):
                if actual.get(table) != want:
                    errors.append(f"{table}: published {actual.get(table)}, generated {want}")
        return errors

    def published_checksums(self) -> dict[str, gen.Checksum]:
        raise NotImplementedError

    def version_errors(self) -> list[str]:
        raise NotImplementedError

    def close(self) -> None:
        """Release what the prepared instance holds outside Spark."""


class ParquetWorkload(Workload):
    """Workloads that publish into the engine's versioned parquet catalog."""

    def spec(self) -> dict:
        return {
            "warehouse_dir": os.path.join(self.work_dir, "wh"),
            "state_dir": os.path.join(self.work_dir, "state"),
            "sources": {"src": {"format": "parquet", "path": os.path.join(self.work_dir, "src")}},
            "tables": self.tables(),
        }

    def tables(self) -> dict:
        raise NotImplementedError

    def published_checksums(self) -> dict[str, gen.Checksum]:
        cat = self.engine.catalog
        frames = []
        for table, (key, price, _) in sorted(self.expected.items()):
            df = cat.read_version(self.spark, "default", cat.current_version("default", table))
            frames.append(
                df.agg(
                    F.lit(table).alias("t"),
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col(key).cast("long")).alias("k"),
                    F.sum(F.round(F.col(price) * 100).cast("long")).alias("p"),
                )
            )
        union = frames[0]
        for df in frames[1:]:
            union = union.unionByName(df)
        return {r.t: gen.Checksum(r.n, r.k or 0, r.p or 0) for r in union.collect()}

    def version_errors(self) -> list[str]:
        cat = self.engine.catalog
        errors = []
        for table in self.expected:
            versions = cat.table_versions("default", table)
            if len(versions) > RETAIN:
                errors.append(f"{table}: {len(versions)} versions retained")
            if not versions or cat.current_version("default", table) != versions[0]:
                errors.append(f"{table}: the view does not point at the newest load")
        return errors


class FullRefresh(ParquetWorkload):
    """The reference's default mode: every run re-copies every table."""

    sizes = {"orders": 120_000, "customers": 12_000}

    def generate(self, src: str) -> None:
        n_orders, n_customers = self.sizes["orders"], self.sizes["customers"]
        orders = gen.orders(self.seed, n_orders, n_customers)
        customers = gen.customers(self.seed, n_customers)
        self._write(orders, src, "orders", "o_orderkey", "o_totalprice")
        self._write(customers, src, "customer", "c_custkey", "c_acctbal")
        # the join+aggregate job's expected output, computed with numpy
        nation = customers.column("c_nationkey").to_numpy()[orders.column("o_custkey").to_numpy() - 1]
        present = np.unique(nation)
        cents = np.rint(orders.column("o_totalprice").to_numpy() * 100).astype(np.int64)
        self.expected["nation_revenue"] = (
            "nation",
            "revenue",
            gen.Checksum(len(present), int(present.sum()), int(cents.sum())),
        )

    def tables(self) -> dict:
        return {
            "orders_job": {"source": "src", "from_table": "orders"},
            "customer_job": {"source": "src", "from_table": "customer"},
            "revenue_job": {
                "source": "src",
                "from_query": _REVENUE_SQL,
                "count_query": _REVENUE_COUNT_SQL,
                "to_table": "nation_revenue",
            },
        }


class PollTicks(ParquetWorkload):
    """The scheduled incremental loop over triggered ``incremental`` tables,
    halving in size. Three fresh ticks, each after a delta is appended to
    one seeded table, are followed by an idle tick that finds no new data.
    A fresh tick costs about a second per table whatever its size, so two
    tables leave room for enough fresh ticks in a run."""

    cycle = ("fresh", "fresh", "fresh", "idle")
    sizes = {"first_table": 64_000, "tables": 2, "delta": 2_000}

    def expect_exit(self, kind: str) -> int:
        return EXIT_OK if kind == "fresh" else EXIT_NO_NEW_DATA

    def generate(self, src: str) -> None:
        self.src = src
        self.next_seq: list[int] = []
        self.batches = 0
        self.picker = np.random.default_rng([self.seed, 7])
        for i in range(self.sizes["tables"]):
            n = self.sizes["first_table"] >> i
            self._write(gen.poll_rows(self.seed, i, 0, 1, n), src, f"t{i}", "seq", "amount")
            self.next_seq.append(n + 1)

    def tables(self) -> dict:
        return {
            f"t{i}_job": {
                "source": "src",
                "from_table": f"t{i}",
                "trigger": {"column": "seq"},
                "incremental": True,
            }
            for i in range(self.sizes["tables"])
        }

    def before_op(self, kind: str) -> None:
        if kind != "fresh":
            return
        i = int(self.picker.integers(self.sizes["tables"]))
        n = self.sizes["delta"]
        self.batches += 1
        delta = gen.poll_rows(self.seed, i, self.batches, self.next_seq[i], n)
        self.next_seq[i] += n
        self.source_rows += n
        gen.write_parts(
            delta, os.path.join(self.src, f"t{i}.parquet"), parts=1, first_part=gen.PARTS + self.batches
        )
        key, price, want = self.expected[f"t{i}"]
        self.expected[f"t{i}"] = (key, price, want + gen.checksums(delta, key, price))


class JdbcSink(Workload):
    """Full copies into embedded Derby through the staged bulk loader, then
    the transactional view switch and keep-2 cleanup on the server."""

    sizes = {"orders": 40_000, "customers": 4_000}

    @property
    def db(self) -> str:
        return os.path.join(self.work_dir, "derby", "wh")

    def generate(self, src: str) -> None:
        n_orders, n_customers = self.sizes["orders"], self.sizes["customers"]
        self._write(gen.orders(self.seed, n_orders, n_customers), src, "orders", "o_orderkey", "o_totalprice")
        self._write(gen.customers(self.seed, n_customers), src, "customer", "c_custkey", "c_acctbal")

    def spec(self) -> dict:
        return {
            "warehouse_dir": os.path.join(self.work_dir, "wh_unused"),
            "state_dir": os.path.join(self.work_dir, "state"),
            "sources": {"src": {"format": "parquet", "path": os.path.join(self.work_dir, "src")}},
            "sink": {
                "format": "jdbc",
                "method": "copy",
                "import_concurrency": 1,
                "staging_dir": os.path.join(self.work_dir, "stage"),
                "options": {"url": f"jdbc:derby:{self.db};create=true", "driver": DERBY_DRIVER},
            },
            "tables": {
                "orders_job": {"source": "src", "from_table": "orders"},
                "customer_job": {"source": "src", "from_table": "customer"},
            },
        }

    def published_checksums(self) -> dict[str, gen.Checksum]:
        """Aggregates computed by Derby over the published views."""
        conn = driver_connection(self.spark, self.engine.spec.sink.options)
        out = {}
        try:
            st = conn.createStatement()
            for table, (key, price, _) in sorted(self.expected.items()):
                rs = st.executeQuery(
                    f'SELECT COUNT(*), SUM("{key}"), '
                    f'SUM(CAST("{price}" * 100 + 0.5 AS BIGINT)) FROM {table}'
                )
                rs.next()
                out[table] = gen.Checksum(rs.getLong(1), rs.getLong(2), rs.getLong(3))
                rs.close()
            st.close()
        finally:
            conn.close()
        return out

    def version_errors(self) -> list[str]:
        wh = self.engine.warehouse
        errors = []
        for table in self.expected:
            versions = wh.table_versions(table)
            if len(versions) > RETAIN:
                errors.append(f"{table}: {len(versions)} versions retained")
            current = wh.current_version(table)
            if not versions or current is None or current.lower() != versions[0].lower():
                errors.append(f"{table}: the view does not point at the newest load")
        return errors

    def close(self) -> None:
        if self.engine is not None:
            derby_shutdown(self.spark, self.db)


WORKLOADS = {"full_refresh": FullRefresh, "poll_ticks": PollTicks, "jdbc_sink": JdbcSink}
