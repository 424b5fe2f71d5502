"""Write layer: how query results land in destination tables.

Re-expresses the reference's loaders + write dispositions
(reference: executor/bumblebee/loader.py:24-56, bigquery_service.py:
96-141) over ``dt``-partitioned Parquet tables:

* append              → WRITE_APPEND
* overwrite_table     → WRITE_TRUNCATE (whole table)
* overwrite_partition → partition decorator ``table$YYYYMMDD`` (the
  day is truncated even when the new data is empty)
* overwrite_partitions → the multi-day REPLACE fan-out, one job
* overwrite_dynamic   → REPLACE_MERGE "auto": exactly the days present
  in the result are replaced — the Spark-native collapse of the
  reference's temp-table + ``MERGE ON FALSE`` script (reference:
  query.py:6-39)
* delete_insert       → REPLACE_MERGE with PARTITION_FILTER: delete
  rows matching the filter, insert all new rows (reference:
  query.py:41-62)
* delete_where / update_where / overwrite_from_plan_reading_destination
  → DML emulation (dml.py)

Commit protocol — one for every load except APPEND. The load writes its
new content exactly once, into a fresh version directory
``<warehouse>/<db>.db/_versions/<table>/<uuid>`` outside the table's
own root, and commits by changing catalog metadata only: ``ALTER TABLE
… SET LOCATION`` for an unpartitioned table; for a partitioned one, one
batched ``ADD PARTITION … LOCATION`` for the new days and one
external-catalog ``alterPartitions`` call that moves every day that
already exists. A day the load empties is pointed at an empty directory
rather than dropped: dropping a managed partition deletes files a
reader may still scan, and a later APPEND of that day would land in the
day's old default directory and pick its stale files up again. No load
overwrites a file it may read, so a plan may read the destination it
replaces without a staging table. APPEND keeps ``insertInto``: it only
adds files.

Crash and recovery. Between the version write and the catalog changes
the commit writes an intent record — ``_versions/<table>/intent.json``,
through a temporary file and ``os.replace`` — naming the table and its
new locations; it deletes the record after the last catalog change.
Applying a record twice is harmless, so:

* killed during the version write — there is no record; the table is
  wholly old and the half-written version is garbage.
* killed after the record is written — before the first catalog
  change, between the ADD of new days and the move of existing ones,
  or before the record is deleted — the next load of the table (any
  method, at its entry, under the table lock) or ``Writer.recover()``
  rolls the record forward: the table reads wholly new.

Re-running the load converges from every window. The hot path makes no
catalog scan: a load's recovery check is one ``os.path.exists`` unless
a record is there. Fault injection: tests/test_crash_atomicity.py kills
a real process in each window above.

Old versions. A commit never deletes what it replaces: it records the
directories it stopped referencing in ``_versions/<table>/
superseded.json`` and deletes the ones the PREVIOUS commit of the table
recorded. A reader that planned against a version can finish while one
more commit lands, and a table keeps at most its current data plus the
data of one replaced commit. Leftovers of a killed load are swept by
the next commit of their days; ``Writer.recover()`` (quiesced-only)
deletes every directory no table references. ``Catalog.drop_table``
deletes the table's ``_versions`` directory, record included.

Concurrency. Within one process, loads on one table take a per-table
re-entrant lock (``table_write_lock``) for their catalog changes.
Read-modify-write loads — MERGE / DELETE / UPDATE emulation,
delete_insert, and a REPLACE whose query reads its own destination —
hold it across plan build, version write and commit, so N concurrent
in-process loads on one table produce the state of SOME serial order.
Other REPLACE-family loads write their version outside the lock, so
they overlap on everything but the commit; a commit never deletes a
version another in-process load is still writing. Across processes (or
sessions on a shared metastore) the engine offers no coordination:
concurrent cross-process loads on one table are unsupported and
last-writer-wins; serialize them externally, as the reference's
orchestrator serializes per-table jobs.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import re
import shutil
import threading
import uuid
from datetime import date, datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import PARTITION_COL, VERSIONS, Catalog, PartitionKind, TableMeta

# "bigint NOT NULL" → constraint recognized in catalog type strings
_NOT_NULL_RE = re.compile(r"\s+not\s+null\s*$", re.IGNORECASE)

_INTENT = "intent.json"  # <db>.db/_versions/<table>/intent.json
_SUPERSEDED = "superseded.json"  # what the last commit replaced
_NULL_DAY = "__HIVE_DEFAULT_PARTITION__"  # partitionBy's dir for dt NULL

_TABLE_LOCKS: dict[str, threading.RLock] = {}
_LOCKS_GUARD = threading.Lock()
_IN_FLIGHT: set[str] = set()  # version directories being written
_IN_FLIGHT_GUARD = threading.Lock()

__all__ = ["Writer", "table_write_lock"]


def table_write_lock(spark_name: str) -> threading.RLock:
    """Per-table re-entrant lock serializing in-process commits and
    read-modify-write loads (see the concurrency contract above)."""
    with _LOCKS_GUARD:
        return _TABLE_LOCKS.setdefault(
            spark_name.lower(), threading.RLock()
        )


class Writer:
    def __init__(self, spark: SparkSession, catalog: Catalog):
        self.spark = spark
        self.catalog = catalog
        # rows written by observed write calls since the last
        # reset_rows_written() — the analogue of a BQ job's output-row
        # statistics, surfaced into the xcom JSON by the runner
        self.rows_written: int | None = None

    def reset_rows_written(self) -> None:
        self.rows_written = None

    def _observed(self, df: DataFrame):
        """Attach a row-count Observation to a frame about to be
        written: zero extra jobs and zero extra scans — the metric
        rides the write itself (vs a df.count() that would double-read
        the input)."""
        from pyspark.sql import Observation

        obs = Observation()
        return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs

    def _record(self, obs) -> None:
        try:
            n = int(obs.get["rows"])
        except Exception:
            return  # metric is best-effort, never fail a write over it
        self.rows_written = (self.rows_written or 0) + n

    # -- schema alignment ----------------------------------------------

    def _align(
        self,
        df: DataFrame,
        meta: TableMeta,
        allow_field_addition: bool,
        keep_partition_col: bool = False,
    ) -> DataFrame:
        """Project df onto the destination's user columns (by name,
        casting types); optionally evolve the destination schema first.
        ``keep_partition_col`` carries an already-present ``dt`` column
        through (appended last, matching table column order) — used by
        DML emulation on ingestion-time tables, where kept/updated rows
        must retain their ORIGINAL partition.

        A cast that turns a non-NULL value into NULL (``'abc'`` into a
        ``bigint`` column: with ANSI off, ``Column.cast`` yields NULL)
        fails the job: a schema mismatch never writes NULLs in place of
        data.

        ``allow_field_addition`` enables BOTH schema-update options the
        reference sets together (bigquery_service.py:111-115): new
        columns are added (ALLOW_FIELD_ADDITION) and NOT NULL
        destination columns are relaxed to nullable
        (ALLOW_FIELD_RELAXATION). Without it, a NOT NULL column is
        ENFORCED at write time: a missing source column fails the plan
        (it would write all NULLs), and a present-but-null value fails
        the job via a per-row raise_error guard — Spark itself doesn't
        enforce declared constraints on v1 parquet tables.
        """
        df_cols = {c.lower(): c for c in df.columns}
        df_types = {
            c.lower(): f.dataType.simpleString()
            for c, f in zip(df.columns, df.schema.fields)
        }
        dest_names = {n.lower() for n, _ in meta.columns}
        extra = [
            c
            for c in df.columns
            if c.lower() not in dest_names
            and not (keep_partition_col and c == PARTITION_COL)
        ]
        if extra:
            if not allow_field_addition:
                raise ValueError(
                    f"result has columns {extra} not in destination {meta.fqn}; "
                    "set ALLOW_FIELD_ADDITION to evolve the schema"
                )
            self.catalog.add_columns(
                meta.fqn, [(c, df_types[c.lower()]) for c in extra]
            )
        missing = [n for n, _ in meta.columns if n.lower() not in df_cols]
        if missing and not allow_field_addition:
            raise ValueError(f"result missing destination columns {missing} for {meta.fqn}")
        required = [n for n, t in meta.columns if _NOT_NULL_RE.search(t)]
        if required and allow_field_addition:
            # reference couples addition+relaxation in one option set
            self.catalog.relax_columns(meta.fqn, required)
        # without relaxation: a missing required column already failed the
        # generic missing-columns check above; present columns get a
        # per-row NULL guard below
        required_set = {n.lower() for n in required} if not allow_field_addition else set()
        select = []
        for name, ddl_type in meta.columns:
            base_type = _NOT_NULL_RE.sub("", ddl_type)
            if name.lower() in df_cols:
                src = F.col(f"`{df_cols[name.lower()]}`")
                col = src.cast(base_type)
                src_type = df_types[name.lower()]
                if _norm_type(src_type) != _norm_type(base_type):
                    col = F.when(
                        src.isNotNull() & col.isNull(),
                        F.raise_error(
                            F.concat(
                                F.lit(
                                    f"cannot write {src_type} value '"
                                ),
                                src.cast("string"),
                                F.lit(
                                    f"' to {base_type} column {name} of "
                                    f"{meta.fqn}: the cast yields NULL"
                                ),
                            )
                        ).cast(base_type),
                    ).otherwise(col)
                if name.lower() in required_set:
                    col = F.coalesce(
                        col,
                        F.raise_error(
                            F.lit(
                                f"NULL written to NOT NULL column {name} of "
                                f"{meta.fqn}; set ALLOW_FIELD_ADDITION to relax"
                            )
                        ).cast(base_type),
                    )
                select.append(col.alias(name))
            else:
                select.append(F.lit(None).cast(base_type).alias(name))
        if keep_partition_col and PARTITION_COL in df.columns:
            select.append(F.col(PARTITION_COL).cast("date").alias(PARTITION_COL))
        return df.select(*select)

    def _with_dt(
        self, df: DataFrame, meta: TableMeta, partition_date: date | datetime | None
    ) -> DataFrame:
        part = meta.partition
        if not part.is_partitioned:
            return df
        if part.kind == PartitionKind.COLUMN_DAY and part.field:
            dt_col = F.to_date(F.col(f"`{part.field}`"))
        elif partition_date is not None:
            if isinstance(partition_date, datetime):
                partition_date = partition_date.date()
            dt_col = F.lit(partition_date.isoformat()).cast("date")
        else:
            raise ValueError(
                f"ingestion-time table {meta.fqn} needs an explicit partition date"
            )
        return df.withColumn(PARTITION_COL, dt_col)

    # -- write modes ----------------------------------------------------

    def append(
        self,
        fqn: str,
        df: DataFrame,
        partition_date: date | datetime | None = None,
        allow_field_addition: bool = False,
    ) -> None:
        meta = self.prepare(fqn)
        out = self._with_dt(self._align(df, meta, allow_field_addition), meta, partition_date)
        out, obs = self._observed(out)
        with table_write_lock(meta.spark_name):
            out.write.insertInto(meta.spark_name, overwrite=False)
        self._record(obs)

    def overwrite_table(
        self,
        fqn: str,
        df: DataFrame,
        partition_date: date | datetime | None = None,
        allow_field_addition: bool = False,
        reads_destination: bool = False,
    ) -> None:
        """WRITE_TRUNCATE of the whole table (all partitions).
        ``reads_destination`` makes it a read-modify-write load: the
        table lock is held across the version write and the commit."""
        meta = self.prepare(fqn)
        with _locked_if(reads_destination, meta):
            out = self._with_dt(
                self._align(df, meta, allow_field_addition), meta, partition_date
            )
            self._commit(meta, out, whole=True)

    def overwrite_partition(
        self,
        fqn: str,
        df: DataFrame,
        partition_date: date | datetime,
        allow_field_addition: bool = False,
        reads_destination: bool = False,
    ) -> None:
        """Partition-decorator write ``table$YYYYMMDD`` — truncate and
        load exactly one day partition; every row lands in that day."""
        meta = self.prepare(fqn)
        _require_partitioned(meta)
        if isinstance(partition_date, datetime):
            partition_date = partition_date.date()
        with _locked_if(reads_destination, meta):
            out = self._align(df, meta, allow_field_addition).withColumn(
                PARTITION_COL, F.lit(partition_date.isoformat()).cast("date")
            )
            self._commit(meta, out, days=[partition_date])

    def overwrite_partitions(
        self,
        fqn: str,
        day_dfs: dict[date, DataFrame],
        allow_field_addition: bool = False,
    ) -> None:
        """Multi-partition REPLACE fan-out as ONE Spark job: each day's
        result is tagged with its partition date, unioned and written
        once. Decorator semantics: every listed day is replaced, even
        when its new data is empty.

        This replaces the reference's N concurrent per-partition load
        jobs (transformation.py:362-428) with a single scan+write whose
        parallelism Spark schedules internally — at 100 TB, one job
        reading the source once beats 30 jobs re-scanning it.
        """
        meta = self.prepare(fqn)
        _require_partitioned(meta)
        if not day_dfs:
            return  # empty day window: nothing to replace
        pieces = [
            self._align(df, meta, allow_field_addition).withColumn(
                PARTITION_COL, F.lit(day.isoformat()).cast("date")
            )
            for day, df in day_dfs.items()
        ]
        combined = functools.reduce(DataFrame.unionByName, pieces)
        self._commit(meta, combined, days=sorted(day_dfs))

    def overwrite_dynamic(
        self, fqn: str, df: DataFrame, allow_field_addition: bool = False
    ) -> None:
        """Replace exactly the day-partitions present in the result
        (REPLACE_MERGE auto semantics) — one pass, no temp table, no
        driver-side partition collection."""
        meta = self.prepare(fqn)
        _require_partitioned(meta)
        out = self._with_dt(self._align(df, meta, allow_field_addition), meta, None)
        self._commit(meta, out)

    def delete_insert(
        self,
        fqn: str,
        df: DataFrame,
        filter_expression: str,
        allow_field_addition: bool = False,
        partition_date: date | datetime | None = None,
    ) -> None:
        """Delete destination rows matching ``filter_expression`` (over
        destination columns, incl. ``dt``/_PARTITIONTIME), then insert
        all result rows (REPLACE_MERGE with PARTITION_FILTER).

        ``partition_date`` assigns the inserted rows' ingestion day on
        INGESTION_DAY tables (BigQuery stamps loaded rows with the load
        time's _PARTITIONTIME; the engine passes the execution date) —
        ignored for COLUMN_DAY tables, whose dt derives from the field.

        Partition-scoped on partitioned tables: only partitions that
        contain matching rows or receive new rows are rewritten —
        at 100 TB a date-scoped PARTITION_FILTER touches the window's
        partitions, not the table.
        """
        meta = self.prepare(fqn)
        with table_write_lock(meta.spark_name):
            new = self._with_dt(
                self._align(df, meta, allow_field_addition), meta, partition_date
            )
            dest = self.spark.table(meta.spark_name)
            matches = F.coalesce(F.expr(filter_expression), F.lit(False))
            if not meta.partition.is_partitioned:
                self._commit(meta, dest.filter(~matches).unionByName(new))
                return
            # affected = partitions with deletions ∪ partitions of inserts
            days = _days(
                dest.filter(matches)
                .select(PARTITION_COL)
                .union(new.select(PARTITION_COL))
            )
            kept = _in_days(dest, days).filter(~matches)
            self._commit(meta, kept.unionByName(new), days=days)

    def delete_where(self, fqn: str, predicate: str) -> None:
        """``DELETE FROM t WHERE pred`` (reference:
        samples/tasks/delete/query.sql). Partition-scoped on partitioned
        tables: only partitions containing matching rows are rewritten,
        so a date-scoped predicate touches the window's partitions, not
        the table."""
        meta = self.prepare(fqn)
        with table_write_lock(meta.spark_name):
            dest = self.spark.table(meta.spark_name)
            matches = F.coalesce(F.expr(predicate), F.lit(False))
            if not meta.partition.is_partitioned:
                self._commit(meta, dest.filter(~matches))
                return
            days = _days(dest.filter(matches).select(PARTITION_COL))
            if not days:
                self.rows_written = self.rows_written or 0
                return  # nothing matched: nothing to rewrite
            self._commit(meta, _in_days(dest, days).filter(~matches), days=days)

    def update_where(
        self, fqn: str, assignments: dict, predicate: str
    ) -> None:
        """``UPDATE t SET c = expr WHERE pred`` — the same cost class as
        BigQuery's DML (a job that rewrites the affected storage).
        Partition-scoped on partitioned tables UNLESS an assignment can
        change the partition column (then rows may move between
        partitions, so the whole table is rewritten)."""
        meta = self.prepare(fqn)
        with table_write_lock(meta.spark_name):
            dest = self.spark.table(meta.spark_name)
            matches = F.coalesce(F.expr(predicate), F.lit(False))
            assigned = {c.lower() for c in assignments}
            # Every SET target must resolve to a user-visible destination
            # column — BigQuery errors on an unrecognized column, so a
            # typo'd / alias-qualified / struct-path name must not silently
            # no-op. This also rejects the internal partition pseudo-column
            # ('dt'): on a partitioned table it is never in column_names (a
            # user column named 'dt' would already have collided with the
            # physical partition column at create_table), and letting it
            # through the partition-scoped path would silently drop rows
            # whose new dt leaves the affected-partition set.
            known = {c.lower() for c in meta.column_names}
            unmatched = sorted(c for c in assignments if c.lower() not in known)
            if unmatched:
                raise ValueError(
                    f"UPDATE {fqn}: SET column(s) {unmatched} not found in "
                    f"destination columns {meta.column_names}"
                )
            # ONE projection, never sequential withColumn: SQL UPDATE
            # evaluates the predicate and every SET expression against the
            # ORIGINAL row — chained withColumn would let later assignments
            # (and the predicate inside their CASE) see earlier ones
            # (SET a = b, b = a must swap; SET a = 0, b = 1 WHERE a > 10
            # must set both).
            updated_cols = []
            for name in dest.columns:
                if name.lower() in assigned:
                    expr = next(e for c, e in assignments.items() if c.lower() == name.lower())
                    updated_cols.append(
                        F.when(matches, F.expr(expr))
                        .otherwise(F.col(f"`{name}`"))
                        .alias(name)
                    )
                else:
                    updated_cols.append(F.col(f"`{name}`").alias(name))
            updated = dest.select(*updated_cols)
            part = meta.partition
            partition_safe = part.is_partitioned and not (
                (part.field or "").lower() in assigned
            )
            if not partition_safe:
                if part.is_partitioned and part.field:
                    # dt derives from the partition field — recompute it
                    updated = updated.withColumn(
                        PARTITION_COL, F.to_date(F.col(f"`{part.field}`"))
                    )
                self._commit(meta, updated, whole=True)
                return
            days = _days(dest.filter(matches).select(PARTITION_COL))
            if not days:
                self.rows_written = self.rows_written or 0
                return  # nothing matched: nothing to rewrite
            self._commit(meta, _in_days(updated, days), days=days)

    def overwrite_from_plan_reading_destination(self, fqn: str, df: DataFrame) -> None:
        """Full overwrite where df's plan scans the destination (DML
        emulation). Re-entrant lock: dml.execute_merge already holds
        the table lock around plan build + this write, so the plan
        reads the state the commit replaces and no other in-process
        commit lands in between; direct callers get the same guarantee
        only if they BUILD df while holding table_write_lock too."""
        meta = self.prepare(fqn)
        with table_write_lock(meta.spark_name):
            self._commit(meta, df, whole=True)

    # -- the commit protocol (module docstring) --------------------------

    def prepare(self, fqn: str) -> TableMeta:
        """Look the destination up and finish its interrupted commit,
        if any — every load's entry step. A caller whose frame reads
        the destination calls it before building the frame, so the
        plan reads the finished state (the engine does)."""
        meta = self.catalog.get_table(fqn)
        # the unlocked check keeps the hot path free of catalog calls;
        # _finish re-reads the record under the lock, where no
        # in-process commit can still be holding it
        path = os.path.join(self._versions_dir(meta.spark_name), _INTENT)
        if os.path.exists(path):
            with table_write_lock(meta.spark_name):
                self._finish(path)
        return meta

    def _commit(
        self,
        meta: TableMeta,
        df: DataFrame,
        days: list[date] = (),
        whole: bool = False,
    ) -> None:
        """Write ``df`` once into a fresh version directory, then point
        the catalog at it. Partitioned tables replace the days ``df``
        writes, plus the listed ``days`` and — when ``whole`` — every
        existing day; a replaced day without new rows is emptied."""
        name = meta.spark_name
        partitioned = meta.partition.is_partitioned
        cols = meta.column_names + ([PARTITION_COL] if partitioned else [])
        tdir = self._versions_dir(name)
        version = os.path.join(tdir, uuid.uuid4().hex)
        path = os.path.join(tdir, _INTENT)
        out, obs = self._observed(df.select(*[F.col(f"`{c}`") for c in cols]))
        writer = out.write.format("parquet")
        if partitioned:
            writer = writer.partitionBy(PARTITION_COL)
        with _writing(version):
            try:
                writer.save(version)
            except BaseException:
                shutil.rmtree(version, ignore_errors=True)  # never referenced
                raise
            self._record(obs)
            with table_write_lock(name):
                # an in-process load that failed after its record was
                # written: finish it before this record replaces it
                if os.path.exists(path):
                    self._finish(path)
                if partitioned:
                    prefix = f"{PARTITION_COL}="
                    written = {
                        d[len(prefix):] for d in os.listdir(version) if d.startswith(prefix)
                    }
                    existing = {
                        r[0].split("=", 1)[1]
                        for r in self.catalog._run_ddl(f"SHOW PARTITIONS {_q(name)}").collect()
                    }
                    touched = written | {d.isoformat() for d in days}
                    if whole:
                        touched |= existing
                    intent = {
                        "table": name,
                        "version": version,
                        "add": sorted(written - existing),
                        "set": sorted(touched & existing),
                    }
                else:
                    intent = {"table": name, "location": version}
                _write_json(path, intent)
                self._apply(intent)
                os.remove(path)
                garbage = self._supersede(meta, intent)
        self.spark.catalog.refreshTable(name)
        for old in garbage:
            shutil.rmtree(old, ignore_errors=True)
        for old in {os.path.dirname(g) for g in garbage}:
            # a version whose last day was replaced
            if os.path.dirname(old) == tdir and not glob.glob(
                os.path.join(old, f"{PARTITION_COL}=*")
            ):
                shutil.rmtree(old, ignore_errors=True)

    def _apply(self, intent: dict) -> None:
        """Point the catalog at an intent record's locations. Every
        step is idempotent, so a record may be applied again."""
        name = intent["table"]
        if "location" in intent:
            self.catalog._run_ddl(
                f"ALTER TABLE {_q(name)} SET LOCATION {_lit(intent['location'])}"
            )
            return

        def location(day: str) -> str:
            path = os.path.join(intent["version"], f"{PARTITION_COL}={day}")
            os.makedirs(path, exist_ok=True)  # an emptied day's directory
            return path

        if intent["add"]:
            specs = " ".join(
                f"PARTITION ({_spec(d)}) LOCATION {_lit(location(d))}"
                for d in intent["add"]
            )
            self.catalog._run_ddl(f"ALTER TABLE {_q(name)} ADD IF NOT EXISTS {specs}")
        if intent["set"]:
            self.catalog.set_partition_locations(
                name, {day: location(day) for day in intent["set"]}
            )

    def _supersede(self, meta: TableMeta, intent: dict) -> list[str]:
        """Lazy deletion of replaced data (caller holds the table lock,
        after the swap). Record the directories this commit stopped
        referencing in ``_versions/<table>/superseded.json`` and return
        the ones the previous commit recorded, for deletion: a reader
        that planned against a version keeps it for one more commit.

        Every directory of a replaced day other than the new one is
        unreferenced once the catalog points at the new one — except a
        version another in-process load is still writing, which is
        skipped. Leftovers of a killed load are swept with the next
        commit of their days."""
        tdir = self._versions_dir(meta.spark_name)
        root = os.path.join(os.path.dirname(os.path.dirname(tdir)), os.path.basename(tdir))
        with _IN_FLIGHT_GUARD:
            skip = set(_IN_FLIGHT)
        if "location" in intent:
            skip.add(intent["location"])
            replaced = [root, *glob.glob(os.path.join(tdir, "*", ""))]
        else:
            skip.add(intent["version"])
            days = {f"{PARTITION_COL}={d}" for d in intent["set"]}
            replaced = [
                d
                for d in glob.glob(os.path.join(tdir, "*", f"{PARTITION_COL}=*"))
                + glob.glob(os.path.join(root, f"{PARTITION_COL}=*"))
                if os.path.basename(d) in days
            ]
        path = os.path.join(tdir, _SUPERSEDED)
        try:
            with open(path) as fh:
                previous = json.load(fh)
        except FileNotFoundError:
            previous = []
        replaced = {p.rstrip("/") for p in replaced if os.path.isdir(p)} - set(previous)
        _write_json(path, sorted(
            p for p in replaced if not any(_overlaps(p, s) for s in skip)
        ))
        return previous

    def _finish(self, path: str) -> None:
        """Roll an intent record forward, then delete it (caller holds
        the table lock)."""
        try:
            with open(path) as fh:
                intent = json.load(fh)
        except FileNotFoundError:
            return  # finished by the commit that held the lock
        exists = self.spark.catalog.tableExists(intent["table"])
        if exists:
            self._apply(intent)
        os.remove(path)
        if exists:
            self.spark.catalog.refreshTable(intent["table"])

    def recover(self) -> list[str]:
        """Roll every intent record in the warehouse forward, then
        delete the directories no table references any more: versions
        that were superseded or never committed (a load killed during
        its version write), and a table's original directories that a
        commit moved it away from. Returns the deleted paths.

        QUIESCED-ONLY: run it only when no load is in flight anywhere
        on the shared catalog. A live load's version is unreferenced
        until its commit, and a reader may still be scanning a
        superseded one; loads themselves never need this call — each
        one finishes its own table's interrupted commit at entry."""
        root = self.catalog.local_warehouse
        if root is None:
            raise ValueError("recover() needs a local warehouse")
        for path in glob.glob(os.path.join(root, "*.db", VERSIONS, "*", _INTENT)):
            tdir = os.path.dirname(path)
            with table_write_lock(f"{_db_of(tdir)}.{os.path.basename(tdir)}"):
                self._finish(path)
        deleted: list[str] = []
        for tdir in sorted(glob.glob(os.path.join(root, "*.db", VERSIONS, "*"))):
            db, table = _db_of(tdir), os.path.basename(tdir)
            candidates = [tdir]
            live: list[str] = []
            if self.spark.catalog.tableExists(f"{db}.{table}"):
                partitioned, live = self._data_locations(db, table)
                default_root = os.path.join(root, f"{db}.db", table)
                candidates = [
                    *glob.glob(os.path.join(tdir, "*", f"{PARTITION_COL}=*")),
                    *glob.glob(os.path.join(tdir, "*", "")),
                    # a partitioned table keeps its root; its days may move
                    *(glob.glob(os.path.join(default_root, f"{PARTITION_COL}=*"))
                      if partitioned else [default_root]),
                ]
            for tmp in glob.glob(os.path.join(tdir, "*.tmp")):
                os.remove(tmp)  # killed between writing a record and its os.replace
            for cand in candidates:
                cand = cand.rstrip("/")
                if os.path.isdir(cand) and not any(_overlaps(cand, p) for p in live):
                    shutil.rmtree(cand, ignore_errors=True)
                    deleted.append(cand)
        return deleted

    def _data_locations(self, db: str, table: str) -> tuple[bool, list[str]]:
        """(partitioned, local paths holding the table's data): its
        location, or every partition's when it is partitioned."""
        ext = self.spark._jsparkSession.sessionState().catalog().externalCatalog()
        meta = ext.getTable(db, table)
        if not meta.partitionColumnNames().nonEmpty():
            return False, [meta.location().getPath().rstrip("/")]
        paths = []
        parts = ext.listPartitions(db, table, self.spark._jvm.scala.Option.empty())
        it = parts.iterator()
        while it.hasNext():
            paths.append(it.next().location().getPath().rstrip("/"))
        return True, paths

    def _versions_dir(self, spark_name: str) -> str:
        return self.catalog.versions_dir(spark_name)


def _require_partitioned(meta: TableMeta) -> None:
    if not meta.partition.is_partitioned:
        raise ValueError(f"{meta.fqn} is not partitioned")


@contextlib.contextmanager
def _writing(version: str):
    """Mark a version as in flight — no commit may delete it — until
    the commit that writes it ends."""
    with _IN_FLIGHT_GUARD:
        _IN_FLIGHT.add(version)
    try:
        yield
    finally:
        with _IN_FLIGHT_GUARD:
            _IN_FLIGHT.discard(version)


def _locked_if(hold: bool, meta: TableMeta):
    return table_write_lock(meta.spark_name) if hold else contextlib.nullcontext()


def _days(frame: DataFrame) -> list[date]:
    """The distinct non-NULL ``dt`` values of a one-column frame."""
    return sorted(r[0] for r in frame.distinct().collect() if r[0] is not None)


def _in_days(df: DataFrame, days: list[date]) -> DataFrame:
    """Rows of ``days`` only — a literal IN on the partition column, so
    the scan is pruned to those partitions."""
    return df.filter(F.col(PARTITION_COL).isin(days))


def _write_json(path: str, value) -> None:
    """Replace ``path`` atomically: a temporary file, then os.replace."""
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as fh:
        json.dump(value, fh)
    os.replace(tmp, path)


def _norm_type(ddl: str) -> str:
    return re.sub(r"\s+", "", ddl).lower()


def _spec(day: str) -> str:
    value = "NULL" if day == _NULL_DAY else f"'{day}'"
    return f"{PARTITION_COL} = {value}"


def _db_of(table_dir: str) -> str:
    """``<warehouse>/<db>.db/_versions/<table>`` → ``<db>``."""
    return os.path.basename(os.path.dirname(os.path.dirname(table_dir)))[: -len(".db")]


def _overlaps(a: str, b: str) -> bool:
    return a == b or a.startswith(b + "/") or b.startswith(a + "/")


def _lit(text: str) -> str:
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _q(name: str) -> str:
    return ".".join(f"`{part}`" for part in name.split("."))
