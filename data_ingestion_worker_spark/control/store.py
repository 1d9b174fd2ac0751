"""Versioned-parquet control tables (jobs/staging/issues/issue_items/contacts).

The reference keeps its control state in Postgres via SQLAlchemy (models
at src/models/*.py); the Spark-native shape is table-format storage with
MERGE upserts.  Delta/Iceberg aren't in this container, so this module is
a minimal versioned-directory table format with the two properties the
flows actually need:

- **snapshot isolation per table**: readers see the version current when
  they started; a writer publishes a new immutable version directory and
  then atomically claims the next commit record naming it.
- **set-based MERGE**: ``upsert(keys)`` = anti-join out the matched rows,
  union the updates, publish — one write per table per batch, never the
  reference's per-row commit+refresh (staging_repository.py:105-107,
  SURVEY.md §4 anti-patterns).
- **optimistic concurrency between writers** (Delta's commit protocol,
  scaled down): a publish must atomically claim the next slot in a
  monotonically numbered commit log (``_commits/NNNNNNNN.json``, claimed
  via hard-link — create-with-content-or-fail).  Read-modify-write ops
  (``upsert``/``delete``) record the commit sequence they derived from
  and only claim ``base+1``; losing the claim means another writer
  committed in between, so the merge is re-derived from the new current
  and retried — a concurrent writer can never silently overwrite another
  writer's rows (no lost updates).
- **the commit log is the only metadata**: the latest commit record
  names the current version, and the records in sequence order are the
  history that time travel, restore and vacuum read.  A crash between
  the parquet write and the claim leaves an uncommitted version
  directory that no reader sees and vacuum removes first.

On a real deployment this class is swapped for Delta `MERGE INTO` /
Iceberg row-level ops; every caller goes through read/overwrite/upsert so
the swap is one file.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TS = T.TimestampType()
_S = T.StringType()
_L = T.LongType()
_B = T.BooleanType()


def _schema(fields: list[tuple[str, T.DataType]]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


#: Control-table schemas (reference src/models/*.py; FIXTURES.md §3).
SCHEMAS: dict[str, T.StructType] = {
    "jobs": _schema([
        ("job_id", _L), ("job_created_at", _TS), ("job_user_id", _S),
        ("job_original_filename", _S), ("job_s3_object_key", _S),
        ("job_status", _S), ("job_total_rows", _L),
        ("job_processed_rows", _L), ("job_issue_count", _L),
        ("job_process_start", _TS), ("job_process_end", _TS),
        # Error text of the last fatal failure (reference marks
        # JobStatus.FAILED on any processing exception,
        # src/processor.py:387,671,787; here a job goes FAILED when its
        # dead-letter retry budget is exhausted).
        ("job_error", _S),
    ]),
    "staging": _schema([
        ("staging_id", _L), ("staging_job_id", _L), ("staging_email", _S),
        ("staging_first_name", _S), ("staging_last_name", _S),
        ("staging_company", _S), ("staging_created_at", _TS),
        ("staging_status", _S), ("staging_row_hash", _S),
        ("staging_row_number", _L),
    ]),
    "issues": _schema([
        ("issue_id", _L), ("issues_job_id", _L), ("issue_type", _S),
        ("issue_key", _S), ("issue_resolved", _B),
        ("issue_description", _S), ("issue_resolved_at", _TS),
        ("issue_resolved_by", _S), ("issue_resolution_comment", _S),
        ("issue_created_at", _TS),
    ]),
    "issue_items": _schema([
        ("issue_item_id", _L), ("item_issue_id", _L),
        ("item_staging_id", _L),
    ]),
    "contacts": _schema([
        ("contact_id", _L), ("staging_id", _L), ("contacts_user_id", _S),
        ("contact_email", _S), ("contact_first_name", _S),
        ("contact_last_name", _S), ("contact_company", _S),
        ("contact_created_at", _TS),
    ]),
    # Dead-letter ledger for the streaming consumer: the SQS
    # redrive-policy analogue (maxReceiveCount -> DLQ).  The reference
    # has no DLQ — a failing job message redelivers forever after its
    # visibility timeout (README.md:196-203); this table bounds retries
    # and preserves the failure for operators instead.
    "dead_letters": _schema([
        ("dlq_job_id", _L), ("dlq_s3_key", _S), ("dlq_error", _S),
        ("dlq_attempts", _L), ("dlq_status", _S),
        ("dlq_first_seen_at", _TS), ("dlq_last_attempt_at", _TS),
    ]),
    # Per-microbatch heartbeat written by the StreamProgressListener —
    # the drain-level half of the reference's row-granularity progress
    # (T4): each completed microbatch publishes its input-row count
    # while the streaming query is still running.
    "stream_progress": _schema([
        ("progress_query_id", _S), ("progress_batch_id", _L),
        ("progress_input_rows", _L), ("progress_at", _TS),
    ]),
}

#: Primary keys used by MERGE upserts.
KEYS: dict[str, list[str]] = {
    "jobs": ["job_id"],
    "staging": ["staging_job_id", "staging_row_hash"],
    "issues": ["issues_job_id", "issue_type", "issue_key"],
    "issue_items": ["item_issue_id", "item_staging_id"],
    "contacts": ["staging_id"],
    "dead_letters": ["dlq_job_id"],
    "stream_progress": ["progress_query_id", "progress_batch_id"],
}

#: Physical layout (SURVEY.md §1.3): per-job reads of staging/issues and
#: per-tenant reads of contacts become partition pruning — the Spark
#: upgrade of the reference's B-tree indexes on those columns.  jobs and
#: issue_items are tiny and stay flat.
PARTITIONING: dict[str, list[str]] = {
    "staging": ["staging_job_id"],
    "issues": ["issues_job_id"],
    "contacts": ["contacts_user_id"],
}


def _sql_literal(value: object, dtype: T.DataType) -> str:
    """One Python value as Spark SQL literal text, via the same
    ``toInternal`` conversion ``createDataFrame`` applies (tz-aware
    timestamps go through UTC, naive ones through local time).  Strings
    travel as UTF-8 hex so no quoting or escape setting can alter them."""
    if value is None:
        return "NULL"
    v = dtype.toInternal(value)
    if isinstance(dtype, T.StringType):
        return f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)"
    if isinstance(dtype, T.BooleanType):
        return "true" if v else "false"
    if isinstance(dtype, T.LongType):
        return f"{int(v)}L"
    if isinstance(dtype, T.TimestampType):
        return f"timestamp_micros({int(v)})"
    raise TypeError(f"literal_frame: unsupported column type {dtype}")


def literal_frame(spark: SparkSession, rows: list[tuple],
                  schema: T.StructType) -> DataFrame:
    """Driver-side ``rows`` as a JVM-only relation of type ``schema``.

    ``inline`` over ONE array-of-struct literal, cast to
    ``array<schema>``: one relation at any row count, no Python worker
    and no ``Scan ExistingRDD`` — ``createDataFrame(list)`` plans as a
    ``parallelize`` + Python ``map`` stage that re-runs every time a
    plan built on it executes.  The array is passed as SQL text, so
    building it costs one py4j call however many values it holds (a
    ``lit`` Column per value costs several).  Zero rows plan as an
    empty ``LocalRelation`` (``limit(0)``), so reading it runs no job.
    """
    width = len(schema.fields)
    structs = []
    for row in rows:
        if len(row) != width:
            raise ValueError(f"literal_frame: row {row!r} does not have "
                             f"{width} fields")
        structs.append("struct(" + ", ".join(
            _sql_literal(v, f.dataType) for v, f in zip(row, schema.fields)
        ) + ")")
    df = spark.range(0, 1, 1, 1).select(F.inline(
        F.expr(f"array({', '.join(structs)})").cast(T.ArrayType(schema))))
    return df if rows else df.limit(0)


#: Bound on merge re-derivations under writer contention.  Control-plane
#: writers are per-job microbatches (a handful at a time), so a conflict
#: chain this long means something is structurally wrong — fail loudly.
_OCC_RETRIES = 8


class ControlStore:
    """Five control tables under one root directory."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- version plumbing ---------------------------------------------------

    def _commits_dir(self, table: str) -> str:
        return os.path.join(self.root, table, "_commits")

    def _commits(self, table: str) -> list[tuple[int, str]]:
        """``(seq, file name)`` of every claimed commit record, in
        sequence order."""
        try:
            names = os.listdir(self._commits_dir(table))
        except FileNotFoundError:
            return []
        seqs = (n[: -len(".json")] for n in names if n.endswith(".json"))
        return sorted((int(s), f"{s}.json") for s in seqs if s.isdigit())

    def _record(self, table: str, name: str) -> dict:
        with open(os.path.join(self._commits_dir(table), name)) as f:
            return json.load(f)

    def _latest_commit(self, table: str) -> tuple[int, str | None]:
        """Highest claimed commit ``(seq, version)``; ``(0, None)`` for a
        table with no commit records yet."""
        commits = self._commits(table)
        if not commits:
            return (0, None)
        seq, name = commits[-1]
        return (seq, self._record(table, name)["version"])

    def _claim_commit(self, table: str, seq: int, version: str,
                      operation: str) -> bool:
        """Atomically claim commit slot ``seq`` for ``version``.

        The claim is a hard-link of a fully written temp record onto the
        slot name: link either succeeds (record appears complete, no torn
        reads) or raises ``FileExistsError`` (another writer owns the
        slot).  This is the single serialization point between writers.
        The record is fsynced before the link: it is the only source of
        "current", so a torn record after a power loss would make every
        read of the table fail.
        """
        cdir = self._commits_dir(table)
        os.makedirs(cdir, exist_ok=True)
        tmp = os.path.join(cdir, f".{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            f.write(json.dumps({"version": version, "operation": operation,
                                "ts": time.time()}))
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, os.path.join(cdir, f"{seq:08d}.json"))
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def _claim_next(self, table: str, version: str, operation: str) -> None:
        """Claim the slot after the then-latest commit for a blind write
        (one that does not depend on the current contents): a lost claim
        just re-claims the next slot, at most ``_OCC_RETRIES`` times, so a
        persistent filesystem error surfacing as ``FileExistsError``
        fails loudly instead of spinning forever."""
        for _ in range(_OCC_RETRIES):
            if self._claim_commit(table, self._latest_commit(table)[0] + 1,
                                  version, operation):
                return
        raise RuntimeError(
            f"{operation}({table}@{version}): could not claim a commit slot "
            f"after {_OCC_RETRIES} retries — writer contention too high"
        )

    def _current_version(self, table: str) -> str | None:
        return self._latest_commit(table)[1]

    def history(self, table: str) -> list[dict]:
        """Commit log, oldest first (Delta ``DESCRIBE HISTORY`` shape):
        one entry per publish/restore with version id, operation and
        wall-clock timestamp.  After :meth:`vacuum` it lists only the
        commits of the versions that were kept, plus the latest commit
        (Delta's log cleanup)."""
        return [self._record(table, n) for _, n in self._commits(table)]

    def read(self, table: str, version: str | None = None) -> DataFrame:
        """Current snapshot, or — time travel — any retained ``version``
        from :meth:`history` (Delta ``VERSION AS OF``)."""
        if version is None:
            version = self._current_version(table)
            if version is None:
                return literal_frame(self.spark, [], SCHEMAS[table])
        path = os.path.join(self.root, table, version)
        if not os.path.isdir(path):
            raise FileNotFoundError(
                f"{table}@{version}: version unknown or vacuumed"
            )
        return self.spark.read.schema(SCHEMAS[table]).parquet(path)

    def overwrite(self, table: str, df: DataFrame) -> None:
        """Publish a new immutable version of the table (atomic commit
        claim).

        A blind write: it does not depend on the current contents, so a
        commit-slot collision just re-claims the next slot — never a
        conflict.
        """
        self._publish(table, df, "overwrite")

    def _publish(self, table: str, df: DataFrame, operation: str,
                 expected_seq: int | None = None) -> bool:
        """Write a new immutable version directory, then claim a commit slot.

        With ``expected_seq`` (read-modify-write callers): claim exactly
        that slot; on collision the just-written orphan version is removed
        and False returned so the caller re-derives from the new current.
        Without it (blind writes): claim the next free slot
        (:meth:`_claim_next`).
        """
        cols = [f.name for f in SCHEMAS[table].fields]
        version = f"v-{uuid.uuid4().hex[:12]}"
        path = os.path.join(self.root, table, version)
        writer = df.select(cols).write.mode("overwrite")
        parts = PARTITIONING.get(table)
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(path)
        self._build_manifest(table, path)
        if expected_seq is None:
            self._claim_next(table, version, operation)
            return True
        if self._claim_commit(table, expected_seq, version, operation):
            return True
        shutil.rmtree(path, ignore_errors=True)
        return False

    def _build_manifest(self, table: str, path: str) -> None:
        """File-level min/max manifest on the leading primary-key column
        present in the data files — the data-skipping half of a
        lakehouse table format (Delta/Iceberg file statistics), built
        from parquet FOOTERS only (no data read).  Stored as
        ``_manifest.json`` inside the version directory: Spark's
        parquet reader ignores ``_``-prefixed files, and vacuum removes
        it with its version.  Best-effort — any file without usable
        stats is recorded as unprunable (always read)."""
        import glob as _glob

        try:
            import pyarrow.parquet as pq
        except ImportError:  # manifest is an optimization, never required
            return
        files = sorted(_glob.glob(os.path.join(path, "**", "*.parquet"),
                                  recursive=True))
        if not files:
            return
        try:
            names = list(pq.ParquetFile(files[0]).schema_arrow.names)
        except Exception:  # noqa: BLE001
            return
        col = next((k for k in KEYS[table] if k in names), None)
        if col is None:  # leading keys all live in partition directories
            return
        entries: dict[str, list | None] = {}
        for f in files:
            rng: list | None = None
            try:
                md = pq.ParquetFile(f).metadata
                colnames = [md.schema.column(i).name
                            for i in range(md.num_columns)]
                ci = colnames.index(col)
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ci).statistics
                    if st is None or not st.has_min_max:
                        mins = []
                        break
                    mins.append(st.min)
                    maxs.append(st.max)
                if mins:
                    lo, hi = min(mins), max(maxs)
                    if isinstance(lo, bytes):
                        raise TypeError("non-JSON stats")
                    rng = [lo, hi]
            except Exception:  # noqa: BLE001 — unprunable, not fatal
                rng = None
            entries[os.path.relpath(f, path)] = rng
        tmp = os.path.join(path, "._manifest.tmp")
        with open(tmp, "w") as fh:
            json.dump({"column": col, "files": entries}, fh)
        os.replace(tmp, os.path.join(path, "_manifest.json"))

    def read_where(self, table: str, lo, hi,
                   version: str | None = None) -> DataFrame:
        """Range read on the manifest column with FILE-LEVEL SKIPPING:
        only parquet files whose [min, max] intersects [lo, hi] are
        listed to the reader (Delta/Iceberg data skipping; the
        complement of the directory-level partition pruning the layout
        already provides).  Falls back to a plain filtered read when no
        manifest exists; the residual filter always applies, so results
        never depend on the manifest being right — only the I/O does."""
        if version is None:
            version = self._current_version(table)
        if version is None:
            return literal_frame(self.spark, [], SCHEMAS[table])
        path = os.path.join(self.root, table, version)
        mpath = os.path.join(path, "_manifest.json")
        if not os.path.isfile(mpath):
            col = KEYS[table][0]
            return self.read(table, version).filter(
                F.col(col).between(lo, hi))
        with open(mpath) as fh:
            m = json.load(fh)
        col = m["column"]
        pred = F.col(col).between(lo, hi)
        keep = [os.path.join(path, rel) for rel, rng in m["files"].items()
                if rng is None or not (rng[1] < lo or rng[0] > hi)]
        if not keep:
            return self.read(table, version).filter(pred).limit(0)
        return (
            self.spark.read.schema(SCHEMAS[table])
            .option("basePath", path)
            .parquet(*keep)
            .filter(pred)
        )

    def restore(self, table: str, version: str) -> None:
        """Make a retained prior version current again (Delta ``RESTORE
        TABLE``) by committing it anew: history stays append-only and a
        later vacuum keeps the restored version alive as current.  A
        blind write, but it serializes through the commit log so a
        concurrent merge can detect it."""
        path = os.path.join(self.root, table, version)
        if not os.path.isdir(path):
            raise FileNotFoundError(
                f"{table}@{version}: version unknown or vacuumed"
            )
        self._claim_next(table, version, "restore")

    def vacuum(self, table: str | None = None, keep_last: int = 3) -> int:
        """Delete unreferenced version directories, keeping the current
        version plus the ``keep_last`` most recently *committed* others
        (by each version's latest commit sequence — not directory mtimes,
        which rewrites can touch).  A version directory with no commit
        record (a crash between the parquet write and the claim) ranks
        older than every committed one.

        The snapshot-isolation contract means a reader started before a
        publish may still be scanning an old version; ``keep_last`` is the
        retention window (Delta's VACUUM retention, scaled down).  The
        commit records of vacuumed versions are pruned too (Delta's log
        cleanup), so afterwards :meth:`history` lists only the commits of
        the kept versions plus the latest commit.  Returns the number of
        versions removed.
        """
        removed = 0
        for t in ([table] if table else list(SCHEMAS)):
            tdir = os.path.join(self.root, t)
            if not os.path.isdir(tdir):
                continue
            current = self._current_version(t)
            # position of each version's latest commit (last wins)
            order = {e["version"]: i for i, e in enumerate(self.history(t))}
            versions = sorted(
                (v for v in os.listdir(tdir)
                 if v.startswith("v-") and v != current),
                key=lambda v: order.get(v, -1),
                reverse=True,
            )
            for v in versions[keep_last:]:
                shutil.rmtree(os.path.join(tdir, v), ignore_errors=True)
                removed += 1
            self._vacuum_commits(t)
        return removed

    def _vacuum_commits(self, table: str) -> None:
        """Drop commit records whose version directory is gone, keeping
        the latest record (authoritative "current") regardless — the
        Delta-log-checkpoint analogue.  Without this, _commits/ grows one
        file per historical publish forever and every read pays an
        O(total-commits) listdir in ``_latest_commit``."""
        for _, n in self._commits(table)[:-1]:
            try:
                version = self._record(table, n)["version"]
            except (ValueError, OSError):
                continue
            if not os.path.isdir(os.path.join(self.root, table, version)):
                try:
                    os.unlink(os.path.join(self._commits_dir(table), n))
                except OSError:
                    pass

    # -- MERGE --------------------------------------------------------------

    def _read_modify_write(self, table: str, derive, operation: str) -> None:
        """OCC retry loop shared by every read-modify-write op:
        re-derive ``derive(current_snapshot)`` from the then-current
        version until the commit claim of ``base+1`` lands."""
        for _ in range(_OCC_RETRIES):
            base_seq, _ = self._latest_commit(table)
            if self._publish(table, derive(self.read(table)), operation,
                             expected_seq=base_seq + 1):
                return
        raise RuntimeError(
            f"{table}: optimistic-concurrency conflict persisted across "
            f"{_OCC_RETRIES} retries — writer contention too high"
        )

    def upsert(self, table: str, updates: DataFrame,
               insert_only: bool = False) -> None:
        """MERGE semantics on the table's primary key.

        ``insert_only=True`` = ``WHEN NOT MATCHED THEN INSERT`` (existing
        rows win — the reference's get_or_create, issue_repository.py:19-74);
        otherwise matched rows are replaced by the update
        (``WHEN MATCHED UPDATE, WHEN NOT MATCHED INSERT``).
        """
        keys = KEYS[table]
        cols = [f.name for f in SCHEMAS[table].fields]

        def derive(target: DataFrame):
            if insert_only:
                fresh = updates.select(cols).join(
                    target.select(keys), keys, "left_anti"
                )
                return target.unionByName(fresh)
            kept = target.join(updates.select(keys), keys, "left_anti")
            return kept.unionByName(updates.select(cols))

        self._read_modify_write(
            table, derive, "merge-insert-only" if insert_only else "merge")

    def diff(self, table: str, from_version: str,
             to_version: str | None = None,
             include_preimages: bool = True) -> DataFrame:
        """Change-data-feed between two retained versions (Delta
        ``table_changes``): one row per changed primary key with
        ``_change_type`` ∈ {insert, delete, update_preimage,
        update_postimage} — Delta's CDF shape, preimages included by
        default because downstream *incremental* consumers are wrong
        without them (a postimage-only feed double-counts updates in
        :func:`maintain_aggregate`).  ``include_preimages=False`` gives
        the postimage-only report view.

        Computed as two key anti-joins (inserts / deletes) plus an
        inner join filtered to value inequality (updates) — each a
        hash join on the primary key, so the diff cost scales with the
        snapshots, never with history length.  The update check
        compares the full non-key column tuple with null-safe equality
        (``eqNullSafe``), so NULL→value transitions are real updates.
        """
        keys = KEYS[table]
        cols = [f.name for f in SCHEMAS[table].fields]
        vals = [c for c in cols if c not in keys]
        old = self.read(table, from_version)
        new = self.read(table, to_version)
        inserts = new.join(old.select(keys), keys, "left_anti") \
            .select(cols).withColumn("_change_type", F.lit("insert"))
        deletes = old.join(new.select(keys), keys, "left_anti") \
            .select(cols).withColumn("_change_type", F.lit("delete"))
        o = old.select(keys + [F.col(c).alias(f"_old_{c}") for c in vals])
        changed_pred = None
        for c in vals:
            ne = ~F.col(c).eqNullSafe(F.col(f"_old_{c}"))
            changed_pred = ne if changed_pred is None else (changed_pred | ne)
        updates = new.join(o, keys)
        if changed_pred is not None:
            updates = updates.filter(changed_pred)
        else:  # key-only table: no value columns can change
            updates = updates.filter(F.lit(False))
        out = inserts.unionByName(deletes).unionByName(
            updates.select(cols)
            .withColumn("_change_type", F.lit("update_postimage"))
        )
        if include_preimages:
            pre = updates.select(
                *keys,
                *[F.col(f"_old_{c}").alias(c) for c in vals],
            ).select(cols).withColumn(
                "_change_type", F.lit("update_preimage")
            )
            out = out.unionByName(pre)
        return out

    def sync(self, table: str, snapshot: DataFrame,
             scope: str | None = None) -> None:
        """Full-snapshot mirror of a (scoped) slice — Delta's
        ``WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT / WHEN NOT
        MATCHED BY SOURCE DELETE`` in one commit: after the call the
        table's rows inside ``scope`` are exactly ``snapshot``'s rows,
        and rows outside ``scope`` are untouched.

        ``scope`` is a SQL predicate string (e.g. ``"job_id = 7"``) —
        the production shape is syncing one tenant / job / day
        partition against an upstream extract without rewriting the
        rest of the table.  ``scope=None`` mirrors the whole table (an
        overwrite that still flows through the OCC loop and appears as
        one ``sync`` commit in the log/CDF).

        Shares :meth:`upsert`'s OCC retry loop; the delete half is an
        implicit consequence of rebuilding the scoped slice from the
        snapshot, so there is no per-row delete pass to keep idempotent
        — replaying the same sync is a no-op by construction.

        Two edge rules keep the backends drop-in equivalent: a row
        where ``scope`` evaluates to NULL counts as OUTSIDE the scope
        (kept — matching the JDBC ``DELETE WHERE (scope)`` semantics,
        where NULL never deletes), and a snapshot key that also exists
        outside the scope REPLACES that row (MERGE semantics) instead
        of duplicating the primary key.
        """
        keys = KEYS[table]
        cols = [f.name for f in SCHEMAS[table].fields]

        def derive(target: DataFrame):
            if scope:
                # NULL-safe complement: NOT(NULL) is NULL and would
                # silently drop the row from a plain filter.
                kept = target.filter(
                    ~F.coalesce(F.expr(f"({scope})"), F.lit(False))
                )
            else:
                kept = target.filter(F.lit(False))
            kept = kept.join(snapshot.select(keys), keys, "left_anti")
            return kept.unionByName(snapshot.select(cols))

        self._read_modify_write(table, derive, "sync")

    def delete(self, table: str, keys_df: DataFrame) -> None:
        """``WHEN MATCHED THEN DELETE``: drop rows whose primary key
        appears in ``keys_df`` (anti-join + republish).  Read-modify-write,
        so it shares :meth:`upsert`'s OCC retry loop."""
        keys = KEYS[table]
        self._read_modify_write(
            table,
            lambda target: target.join(keys_df.select(keys), keys,
                                       "left_anti"),
            "delete",
        )


def compute_aggregate(df: DataFrame, keys: list[str],
                      sum_cols: list[str]) -> DataFrame:
    """Batch twin of :func:`maintain_aggregate`: grouped row count plus
    null-safe sums.  Single codification of the aggregate's semantics so
    the incremental path can never drift from the full recompute."""
    return df.groupBy(keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        *[F.sum(F.coalesce(F.col(c), F.lit(0))).cast("long")
          .alias(f"sum_{c}") for c in sum_cols],
    )


def maintain_aggregate(prev_agg: DataFrame, changes: DataFrame,
                       keys: list[str], sum_cols: list[str]) -> DataFrame:
    """Incremental view maintenance: roll a CDF diff into a grouped
    count/sum aggregate instead of recomputing it from the snapshot.

    ``changes`` is :meth:`ControlStore.diff` WITH preimages: inserts and
    update postimages add with sign +1, deletes and update preimages
    subtract with sign -1 — the classic delta-propagation rule for
    distributive aggregates.  The merge is a union + re-aggregate (not a
    key join), so NULL group keys group correctly; groups whose count
    reaches zero vanish, exactly as in the full recompute.

    Scale: cost is O(|changes|) + one shuffle over (|prev groups| +
    |changed groups|) — independent of the snapshot size, which is the
    entire point at 100 TB: a thousand-row commit maintains a
    billion-row table's rollup for the price of the thousand rows.
    """
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = changes.groupBy(keys).agg(
        F.sum(sign).cast("long").alias("n_rows"),
        *[F.sum(sign * F.coalesce(F.col(c), F.lit(0))).cast("long")
          .alias(f"sum_{c}") for c in sum_cols],
    )
    return (
        prev_agg.unionByName(delta)
        .groupBy(keys)
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            *[F.sum(f"sum_{c}").cast("long").alias(f"sum_{c}")
              for c in sum_cols],
        )
        .filter(F.col("n_rows") > 0)
    )
