"""JDBC drop-in for :class:`ControlStore` (SURVEY.md §2 S9).

The reference keeps its control state in Postgres via SQLAlchemy
(src/app/db/database.py, src/models/*.py); :class:`ControlStore` swaps
that for versioned parquet because this sandbox has no database server.
This class is the other half of the swap point named in
``control/store.py``: the same read/overwrite/upsert/delete contract
spoken over ``spark.read/write.jdbc``, so the engine can point straight
at the reference's actual Postgres schema.

Design:

- **Server-side MERGE.** ``upsert`` loads the updates into a staging
  table with a Spark JDBC append, then issues one ``MERGE INTO`` on the
  server (Derby >= 10.11 and Postgres >= 15 share the syntax).  The
  driver never materializes the target table, so the contract holds even
  when the control tables outgrow driver memory.
- **Transactional publish.** ``overwrite`` and ``delete`` run as single
  commits (autocommit off), giving readers the same all-or-nothing
  visibility the parquet store's commit claim provides.
- **Quoted lowercase identifiers** everywhere, so JDBC metadata reports
  the exact column names in :data:`SCHEMAS` (Derby would otherwise
  uppercase them) and Spark's quoted INSERT statements line up.

Tested against the embedded Derby that ships with Spark; on a real
deployment the URL/driver swap to Postgres and nothing else changes.
(Embedded Derby lives inside the driver JVM — fine on local[N]; a real
cluster needs a networked database, which is the production case anyway.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .store import KEYS, SCHEMAS

#: Spark type -> ANSI column type (Derby + Postgres compatible).
_SQL_TYPES: dict[type, str] = {
    T.LongType: "BIGINT",
    T.StringType: "VARCHAR(32000)",
    T.TimestampType: "TIMESTAMP",
    T.BooleanType: "BOOLEAN",
}

#: Non-key string columns use CLOB: Spark's Derby dialect types NULL
#: string parameters as CLOB, which Derby rejects against VARCHAR.  Key
#: strings stay VARCHAR — they are never null and must be MERGE-
#: comparable (Derby cannot compare CLOBs).  Postgres treats both as
#: TEXT, so the split is invisible there.
_NONKEY_STRING_TYPE = "CLOB"


def _col_type(field: T.StructField, keys: list[str]) -> str:
    if isinstance(field.dataType, T.StringType) and field.name not in keys:
        return _NONKEY_STRING_TYPE
    return _SQL_TYPES[type(field.dataType)]

#: Derby SQLState for "table/index already exists".
_DERBY_EXISTS = "X0Y32"


def _q(name: str) -> str:
    return f'"{name}"'


def _stage(table: str) -> str:
    return f"{table}__stage"


def _kstage(table: str) -> str:
    return f"{table}__kdel"


class JdbcControlStore:
    """Control tables in a JDBC database, same contract as ControlStore."""

    def __init__(self, spark: SparkSession, url: str,
                 properties: dict[str, str] | None = None) -> None:
        self.spark = spark
        self.url = url
        self.properties = dict(properties or {})
        self._ensure_tables()

    # -- connection plumbing ------------------------------------------------

    def _connection(self):
        jvm = self.spark._sc._jvm
        driver = self.properties.get("driver")
        if driver:
            jvm.java.lang.Class.forName(driver)
        user = self.properties.get("user")
        if user:
            return jvm.java.sql.DriverManager.getConnection(
                self.url, user, self.properties.get("password", "")
            )
        return jvm.java.sql.DriverManager.getConnection(self.url)

    def _execute(self, *statements: str) -> None:
        """Run statements in ONE transaction (single commit)."""
        conn = self._connection()
        try:
            conn.setAutoCommit(False)
            st = conn.createStatement()
            for sql in statements:
                st.executeUpdate(sql)
            st.close()
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()

    def _ensure_tables(self) -> None:
        for table, schema in SCHEMAS.items():
            keys = KEYS[table]
            cols = ", ".join(
                f"{_q(f.name)} {_col_type(f, keys)}"
                for f in schema.fields
            )
            key_cols = ", ".join(
                f"{_q(f.name)} {_col_type(f, keys)}"
                for f in schema.fields if f.name in keys
            )
            for name, body in ((table, cols), (_stage(table), cols),
                               (_kstage(table), key_cols)):
                try:
                    self._execute(f"CREATE TABLE {_q(name)} ({body})")
                except Exception as e:  # noqa: BLE001
                    if _DERBY_EXISTS not in str(e) \
                            and "already exists" not in str(e):
                        raise

    def _load_stage(self, stage: str, df: DataFrame) -> None:
        """TRUNCATE-and-append the staging table for the next statement.

        coalesce(1): control tables are tiny and one connection avoids
        embedded-Derby lock contention; a Postgres deployment can drop
        the coalesce for parallel appends.
        """
        self._execute(f"DELETE FROM {_q(stage)}")
        df.coalesce(1).write.mode("append").jdbc(
            self.url, _q(stage), properties=self.properties
        )

    # -- the ControlStore contract ------------------------------------------

    def read(self, table: str) -> DataFrame:
        schema = SCHEMAS[table]
        cols = ", ".join(_q(f.name) for f in schema.fields)
        query = f"(SELECT {cols} FROM {_q(table)}) t"
        reader = self.spark.read.format("jdbc") \
            .option("url", self.url).option("dbtable", query)
        for k, v in self.properties.items():
            reader = reader.option(k, v)
        if self.url.startswith("jdbc:derby:"):
            # Derby cannot compare CLOB columns against literals, so a
            # pushed-down filter on a non-key string column is a syntax
            # error there; evaluate predicates in Spark instead.  Real
            # databases (Postgres TEXT) keep the pushdown.
            reader = reader.option("pushDownPredicate", "false")
        df = reader.load()
        return df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name)
              for f in schema.fields]
        )

    def overwrite(self, table: str, df: DataFrame) -> None:
        """Full replace, published atomically (one transaction)."""
        names = [f.name for f in SCHEMAS[table].fields]
        self._load_stage(_stage(table), df.select(names))
        cols = ", ".join(_q(n) for n in names)
        self._execute(
            f"DELETE FROM {_q(table)}",
            f"INSERT INTO {_q(table)} ({cols}) "
            f"SELECT {cols} FROM {_q(_stage(table))}",
        )

    def upsert(self, table: str, updates: DataFrame,
               insert_only: bool = False) -> None:
        """MERGE on the primary key, executed on the database server."""
        names = [f.name for f in SCHEMAS[table].fields]
        keys = KEYS[table]
        self._load_stage(_stage(table), updates.select(names))
        on = " AND ".join(f"t.{_q(k)} = s.{_q(k)}" for k in keys)
        ins_cols = ", ".join(_q(n) for n in names)
        ins_vals = ", ".join(f"s.{_q(n)}" for n in names)
        merge = f"MERGE INTO {_q(table)} t USING {_q(_stage(table))} s ON {on}"
        set_clause = ", ".join(
            f"{_q(n)} = s.{_q(n)}" for n in names if n not in keys
        )
        if not insert_only and set_clause:
            merge += f" WHEN MATCHED THEN UPDATE SET {set_clause}"
        merge += (f" WHEN NOT MATCHED THEN INSERT ({ins_cols}) "
                  f"VALUES ({ins_vals})")
        self._execute(merge)

    def sync(self, table: str, snapshot: DataFrame,
             scope: str | None = None) -> None:
        """Scoped snapshot mirror (ControlStore.sync drop-in): one
        transaction deletes scoped rows missing from the snapshot
        (``WHEN NOT MATCHED BY SOURCE DELETE``) and MERGEs the rest.

        ``scope`` is evaluated by the DATABASE, so write it in the
        server's dialect (Derby/Postgres: quote lowercase identifiers,
        e.g. ``'"job_id" < 10'``)."""
        names = [f.name for f in SCHEMAS[table].fields]
        keys = KEYS[table]
        self._load_stage(_stage(table), snapshot.select(names))
        match = " AND ".join(
            f"s.{_q(k)} = {_q(table)}.{_q(k)}" for k in keys
        )
        where = f"({scope}) AND " if scope else ""
        on = " AND ".join(f"t.{_q(k)} = s.{_q(k)}" for k in keys)
        ins_cols = ", ".join(_q(n) for n in names)
        ins_vals = ", ".join(f"s.{_q(n)}" for n in names)
        set_clause = ", ".join(
            f"{_q(n)} = s.{_q(n)}" for n in names if n not in keys
        )
        merge = (f"MERGE INTO {_q(table)} t USING {_q(_stage(table))} s "
                 f"ON {on}")
        if set_clause:
            merge += f" WHEN MATCHED THEN UPDATE SET {set_clause}"
        merge += (f" WHEN NOT MATCHED THEN INSERT ({ins_cols}) "
                  f"VALUES ({ins_vals})")
        self._execute(
            f"DELETE FROM {_q(table)} WHERE {where}NOT EXISTS "
            f"(SELECT 1 FROM {_q(_stage(table))} s WHERE {match})",
            merge,
        )

    def delete(self, table: str, keys_df: DataFrame) -> None:
        keys = KEYS[table]
        self._load_stage(_kstage(table), keys_df.select(keys))
        match = " AND ".join(
            f"s.{_q(k)} = {_q(table)}.{_q(k)}" for k in keys
        )
        self._execute(
            f"DELETE FROM {_q(table)} WHERE EXISTS "
            f"(SELECT 1 FROM {_q(_kstage(table))} s WHERE {match})"
        )

    def vacuum(self, table: str | None = None, keep_last: int = 3) -> int:
        """Nothing to reclaim — the database holds one live version."""
        return 0
