"""Warehouse catalog / DDL layer (SURVEY.md §2.1 S8-S14).

Re-expresses the reference's `PgSql` class (main.py:328-454):

- S10 CREATE SCHEMA IF ABSENT → `CREATE DATABASE IF NOT EXISTS`
- S11 CREATE TABLE from a col→type dict (optional auto-id) →
  `CREATE TABLE IF NOT EXISTS ... USING parquet`; primary keys are
  metadata-only in Spark — uniqueness is enforced by the MERGE key
  (operators/merge_ops.py), exactly how the reference's staged MERGE
  uses them.
- S12 TRUNCATE, S13 raw SQL passthrough → `spark.sql`
- S8/S9 JDBC sink/scan → thin wrappers over the built-in JDBC source
  (import-gated: no JDBC driver jar ships in this environment);
  `batchsize` ≙ the reference's chunksize=1000 (main.py:413).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


class Catalog:
    """Session-catalog DDL helper (reference PgSql, main.py:328-454)."""

    def __init__(self, spark: SparkSession, database: str = "orion"):
        self.spark = spark
        self.database = database
        # S10: ensure schema exists (main.py:353-360)
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")

    def qualified(self, name: str) -> str:
        return f"{self.database}.{name}"

    def create_table(self, name: str, cols_type: dict[str, str], id_auto: bool = False) -> None:
        """S11: DDL from a col→type dict (main.py:363-390). `id_auto`
        maps the reference's `ID SERIAL PRIMARY KEY` to a generated
        identity-style long column (populated at write time via
        monotonically_increasing_id by callers that need it)."""
        cols = []
        if id_auto:
            cols.append("ID BIGINT")
        cols += [f"{col} {typ}" for col, typ in cols_type.items()]
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.qualified(name)} ({', '.join(cols)}) USING parquet"
        )

    def truncate(self, name: str) -> None:
        """S12: reset a staging table (transf.py:211,275,324,366)."""
        self.spark.sql(f"TRUNCATE TABLE {self.qualified(name)}")

    def sql(self, query: str) -> DataFrame:
        """S13: raw SQL passthrough (main.py:418-434)."""
        return self.spark.sql(query)

    def insert_append(self, name: str, df: DataFrame) -> None:
        """S8 shape: append rows into a catalog table."""
        df.write.mode("append").insertInto(self.qualified(name))

    def show_table(self, name: str, n: int = 20) -> DataFrame:
        """S9: verification read-back. The reference prints the WHOLE
        table via read_sql_table (main.py:437-454) — at scale that is
        a driver OOM; we expose limit(n) and leave full scans to the
        caller's sink."""
        return self.spark.table(self.qualified(name)).limit(n)


def jdbc_scan(spark: SparkSession, url: str, table: str, **options) -> DataFrame:
    """S9 over real JDBC (requires a driver jar on the classpath)."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def jdbc_append(df: DataFrame, url: str, table: str, batchsize: int = 1000, **options) -> None:
    """S8 over real JDBC; batchsize ≙ reference chunksize=1000
    (main.py:413). MERGE cannot be pushed through the plain JDBC
    writer — use operators/merge_ops.py end-state + overwrite, or push
    MERGE SQL via a server-side statement (documented limitation,
    SURVEY §2.8)."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", batchsize)
        .mode("append")
    )
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save()


def jdbc_execute(spark: SparkSession, url: str, sql: str) -> int:
    """Server-side statement passthrough over JDBC — the reference's
    MERGE pushdown path (transf.py:215-273 sends the MERGE text to the
    server): executes DML/DDL the plain JDBC reader/writer cannot
    express (MERGE, UPDATE, DELETE). One driver-side control-plane
    statement through the JVM's DriverManager; no data moves through
    Python — the server does the set-oriented work, which is exactly
    why the reference pushes MERGE server-side instead of
    read-modify-writing. Returns the server's update count."""
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        stmt = conn.createStatement()
        try:
            return stmt.executeUpdate(sql)
        finally:
            stmt.close()
    finally:
        conn.close()


def analyze_table(spark: SparkSession, qualified_name: str, columns: list[str] | None = None) -> None:
    """Collect table/column statistics for Catalyst's cost-based
    optimizer (join reordering, broadcast decisions at planning time —
    complements AQE's runtime stats). At 100 TB, ANALYZE after large
    loads is what keeps CBO's join orders sane."""
    spark.sql(f"ANALYZE TABLE {qualified_name} COMPUTE STATISTICS")
    if columns:
        spark.sql(
            f"ANALYZE TABLE {qualified_name} COMPUTE STATISTICS FOR COLUMNS {', '.join(columns)}"
        )
