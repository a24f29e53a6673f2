"""PostgreSQL changeset sink (SURVEY.md S16): JDBC drop-in.

The reference writes changesets straight into PostgreSQL with
``INSERT … ON CONFLICT (id) DO UPDATE SET … WHERE changesets.open``
(``ohsome-changesets/.../ChangesetDB.java:127-186``). Spark's JDBC sink
only supports append/overwrite, so the drop-in uses the standard
warehouse shape for upserts:

1. append the batch to a staging table via the built-in (parallel,
   partition-per-connection) JDBC writer,
2. run ONE server-side merge statement moving staging → target with the
   reference's exact conflict semantics,
3. truncate staging.

Step 2/3 run on the driver over a single connection — they move no rows
through Spark, so the shape holds at any scale (the data path stays the
distributed JDBC append).

The container ships no JDBC driver or server, so both the row path and
the statement executor are injectable; production uses the defaults.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame

from .osmxml import CHANGESET_SCHEMA

__all__ = ["ChangesetJdbcSink", "changeset_merge_sql", "CHANGESET_TABLE_DDL"]

# mirrors the reference's setupChangesetDB.sql (bbox columns in place of
# the PostGIS geometry; hashtags as a text[] per ChangesetDB.java:156)
CHANGESET_TABLE_DDL = """\
CREATE TABLE IF NOT EXISTS {table} (
  id bigint PRIMARY KEY,
  user_id bigint,
  created_at timestamp,
  closed_at timestamp,
  open boolean,
  user_name text,
  tags jsonb,
  hashtags text[],
  min_lon double precision,
  min_lat double precision,
  max_lon double precision,
  max_lat double precision
)"""

# the changeset table's columns; the WKB ``geom`` has no column here
_COLS = [c for c in CHANGESET_SCHEMA.fieldNames() if c != "geom"]


def changeset_merge_sql(table: str = "changesets", staging: str = "changesets_staging") -> str:
    """The reference's upsert, verbatim semantics
    (``ChangesetDB.java:131-149``): new ids insert; existing ids update
    ONLY while the stored row is still open — a closed changeset is
    immutable. Within-batch ordering is resolved Spark-side by
    ``streaming.changesets.batch_winner`` before the append, so the
    staging table holds at most one row per id."""
    cols = ", ".join(_COLS)
    sets = ", ".join(f"{c} = EXCLUDED.{c}" for c in _COLS if c != "id")
    return (
        f"INSERT INTO {table} ({cols})\n"
        f"SELECT {cols} FROM {staging}\n"
        f"ON CONFLICT (id) DO UPDATE SET {sets}\n"
        f"WHERE {table}.open"
    )


def _default_append(df: DataFrame, url: str, table: str, options: dict) -> None:
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .options(**options)
        .mode("append")
        .save()
    )


@dataclass
class ChangesetJdbcSink:
    """Drop-in PostgreSQL writer for the changesets pipeline.

    ``append`` ships the rows (distributed JDBC write, ``batchsize`` rows
    per round trip per partition); ``execute`` runs one driver-side
    statement (merge / truncate / DDL). Both default to the real thing
    and are injectable for tests and for connection pooling.
    """

    url: str
    table: str = "changesets"
    staging: str = "changesets_staging"
    options: dict = field(default_factory=lambda: {"batchsize": "10000"})
    append: Callable[[DataFrame, str, str, dict], None] = _default_append
    execute: Callable[[str], None] | None = None
    statements: list = field(default_factory=list)  # executed SQL, in order

    def _exec(self, sql: str) -> None:
        self.statements.append(sql)
        if self.execute is not None:
            self.execute(sql)
        else:  # pragma: no cover - needs a live server + pg driver jar
            self._exec_via_jvm(sql)

    def _exec_via_jvm(self, sql: str) -> None:  # pragma: no cover
        """Driver-side statement through the JVM's DriverManager (the same
        connection path Spark's JDBC source uses; no extra dependency)."""
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        jvm = spark._jvm  # noqa: SLF001 - py4j bridge is the documented seam
        conn = jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            stmt = conn.createStatement()
            stmt.execute(sql)
            stmt.close()
        finally:
            conn.close()

    def ensure_tables(self) -> None:
        self._exec(CHANGESET_TABLE_DDL.format(table=self.table))
        self._exec(
            CHANGESET_TABLE_DDL.format(table=self.staging).replace(" PRIMARY KEY", "")
        )

    def upsert(self, batch: DataFrame) -> None:
        """One replication batch → staging append → conflict merge →
        staging truncate. ``batch`` must already be winner-resolved
        (one row per id). The store's ``map<string,string>`` tags become a
        JSON string at the JDBC boundary (PostgresDialect has no map type;
        jsonb ingests the text)."""
        from pyspark.sql import functions as F

        cols = [F.to_json("tags").alias("tags") if c == "tags" else F.col(c) for c in _COLS]
        self.append(batch.select(*cols), self.url, self.staging, self.options)
        self._exec(changeset_merge_sql(self.table, self.staging))
        self._exec(f"TRUNCATE {self.staging}")
