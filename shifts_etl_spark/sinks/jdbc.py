"""JDBC load target (K1/K2/K4) — the reference's actual sink.

The reference loads the 4 tables into Postgres with psycopg2
``execute_values(page_size=1000)`` inside one transaction per page and
rolls everything back on failure (reference
etl/app/shift_data_processor.py:123-183). This writer re-creates that
contract on Spark's ``.format("jdbc")`` path with a write-audit-publish
protocol, because Spark's JDBC writer commits per PARTITION — it cannot
give multi-table (or even multi-partition) atomicity on its own:

  1. each table of a batch is appended executor-parallel into a staging
     table ``<table>__stg`` (``batchsize`` chunks the INSERTs — the
     ``page_size`` analog; no data ever flows through the driver)
  2. one driver-side JDBC transaction publishes ALL staged tables
     (``INSERT INTO <table> SELECT * FROM <table>__stg``) and records the
     batch in ``etl_commits`` — readers never observe a partial batch (K2)
  3. any failure before the publish commit leaves targets untouched;
     staging tables are dropped either way (K1 rollback semantics)

Idempotent per ``batch_id`` like the parquet StagedWriter: a replayed
batch already present in ``etl_commits`` is a no-op, so a crash between
the publish commit and ``stream_etl``'s checkpoint cannot double-load.

The interface mirrors sinks.staged.StagedWriter (write_batch / read_table
/ commits), so ``pipeline.load_batch`` — the flatten → validate → commit →
KPI path of ``run_etl`` and ``stream_etl`` — takes a JdbcWriter unchanged
(``run_etl`` and ``stream_etl`` themselves build a StagedWriter).
Tested against the embedded Derby that ships with Spark; any JDBC URL
(Postgres at the reference's scale) takes the same code path.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

COMMITS_TABLE = "etl_commits"


class JdbcWriter:
    def __init__(
        self,
        spark: SparkSession,
        url: str,
        batchsize: int = 1000,
        driver: str | None = None,
    ):
        self.spark = spark
        self.url = url
        self.batchsize = batchsize
        self.driver = driver

    # -- driver-side SQL plumbing (py4j java.sql; bounded metadata work,
    # never row data) ------------------------------------------------------

    @contextmanager
    def _connection(self):
        jvm = self.spark.sparkContext._jvm
        if self.driver:  # ensure the class is registered with DriverManager
            jvm.java.lang.Class.forName(self.driver)
        conn = jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            yield conn
        finally:
            conn.close()

    @staticmethod
    def _table_exists(conn, name: str) -> bool:
        rs = conn.getMetaData().getTables(None, None, name.upper(), None)
        try:
            return rs.next()
        finally:
            rs.close()

    @staticmethod
    def _execute(conn, sql: str) -> None:
        st = conn.createStatement()
        try:
            st.execute(sql)
        finally:
            st.close()

    def _committed(self, conn, batch_id: str) -> bool:
        if not self._table_exists(conn, COMMITS_TABLE):
            return False
        ps = conn.prepareStatement(
            f"SELECT 1 FROM {COMMITS_TABLE} WHERE batch_id = ?"
        )
        try:
            ps.setString(1, batch_id)
            rs = ps.executeQuery()
            try:
                return rs.next()
            finally:
                rs.close()
        finally:
            ps.close()

    # -- the StagedWriter-shaped interface ----------------------------------

    def write_batch(
        self, tables: dict[str, DataFrame], batch_id: str | None = None
    ) -> str:
        """All-or-nothing multi-table load (one reference 'page')."""
        batch_id = batch_id or uuid.uuid4().hex[:12]
        with self._connection() as conn:
            if self._committed(conn, batch_id):
                return batch_id  # replayed batch — the commits table is truth
        stage_names = {name: f"{name}__stg" for name in tables}
        try:
            # 1. executor-parallel, batchsize-chunked writes into staging
            for name, df in tables.items():
                w = (
                    df.write.format("jdbc")
                    .option("url", self.url)
                    .option("dbtable", stage_names[name])
                    .option("batchsize", str(self.batchsize))
                    .mode("overwrite")
                )
                if self.driver:
                    w = w.option("driver", self.driver)
                w.save()
            # 2. single-transaction publish of every table + the commit row
            with self._connection() as conn:
                conn.setAutoCommit(False)
                try:
                    if not self._table_exists(conn, COMMITS_TABLE):
                        self._execute(
                            conn,
                            f"CREATE TABLE {COMMITS_TABLE} ("
                            "batch_id VARCHAR(64) PRIMARY KEY, "
                            "tables VARCHAR(512))",
                        )
                    for name, stg in stage_names.items():
                        if not self._table_exists(conn, name):
                            self._execute(
                                conn,
                                f"CREATE TABLE {name} AS SELECT * FROM {stg} "
                                "WITH NO DATA",
                            )
                        self._execute(
                            conn, f"INSERT INTO {name} SELECT * FROM {stg}"
                        )
                    ps = conn.prepareStatement(
                        f"INSERT INTO {COMMITS_TABLE} VALUES (?, ?)"
                    )
                    try:
                        ps.setString(1, batch_id)
                        ps.setString(2, ",".join(sorted(tables)))
                        ps.executeUpdate()
                    finally:
                        ps.close()
                    conn.commit()
                except BaseException:
                    conn.rollback()
                    raise
        finally:
            # 3. staging never outlives the batch, success or failure
            with self._connection() as conn:
                for stg in stage_names.values():
                    if self._table_exists(conn, stg):
                        self._execute(conn, f"DROP TABLE {stg}")
        return batch_id

    def read_table(self, spark: SparkSession, name: str) -> DataFrame:
        r = spark.read.format("jdbc").option("url", self.url).option(
            "dbtable", name
        )
        if self.driver:
            r = r.option("driver", self.driver)
        return r.load()

    def commits(self) -> list[tuple[str, set[str]]]:
        """(batch_id, tables) per commit — parity with StagedWriter."""
        with self._connection() as conn:
            if not self._table_exists(conn, COMMITS_TABLE):
                return []
            st = conn.createStatement()
            try:
                rs = st.executeQuery(
                    f"SELECT batch_id, tables FROM {COMMITS_TABLE}"
                )
                out = []
                while rs.next():
                    out.append((rs.getString(1), set(rs.getString(2).split(","))))
                rs.close()
                return out
            finally:
                st.close()

    def clear(self, tables: list[str]) -> None:
        """K4 — cascade-delete analog: empty every table in ONE transaction
        (children and parents vanish together, like the reference's
        ON DELETE CASCADE wipe)."""
        with self._connection() as conn:
            conn.setAutoCommit(False)
            try:
                for name in tables + [COMMITS_TABLE]:
                    if self._table_exists(conn, name):
                        self._execute(conn, f"DELETE FROM {name}")
                conn.commit()
            except BaseException:
                conn.rollback()
                raise
