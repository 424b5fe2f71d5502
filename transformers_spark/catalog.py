"""Engine catalog: BigQuery-style table coordinates on a Spark catalog.

``project.dataset.table`` maps to Spark database ``project_dataset``,
table ``table`` (hyphens → underscores, matching the dialect shim).
Day-partitioned tables (both BigQuery flavors — ingestion-time and
column-partitioned, reference: executor/bumblebee/transformation.py:
70-123) are physical Parquet tables with an explicit ``dt DATE``
partition column:

* ingestion-time: ``dt`` is assigned by the loader (the stand-in for
  ``_PARTITIONTIME``; the dialect rewrites that pseudo-column to
  ``CAST(dt AS TIMESTAMP)``),
* column DAY on field F: ``dt = DATE(F)`` derived at write.

Partitioning metadata is persisted in TBLPROPERTIES so any session can
re-introspect it (the dispatch layer's analogue of BigQuery
``get_table``).
"""

from __future__ import annotations

import functools
import os
import re
import shutil
import time
from dataclasses import dataclass
from datetime import date
from types import SimpleNamespace
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dialect import spark_table_name_from_fqn

__all__ = ["PartitionKind", "PartitionSpec", "TableMeta", "Catalog", "PARTITION_COL"]

PARTITION_COL = "dt"
VERSIONS = "_versions"  # <warehouse>/<db>.db/_versions/<table>: loads' versions

PROP_KIND = "transformers.partition.kind"
PROP_FIELD = "transformers.partition.field"


class PartitionKind:
    NONE = "none"
    INGESTION_DAY = "ingestion_day"
    COLUMN_DAY = "column_day"


@dataclass(frozen=True)
class PartitionSpec:
    kind: str = PartitionKind.NONE
    field: str | None = None  # source column for COLUMN_DAY

    @property
    def is_partitioned(self) -> bool:
        return self.kind != PartitionKind.NONE


@dataclass
class TableMeta:
    fqn: str
    spark_name: str
    columns: list[tuple[str, str]]  # user-visible (name, spark ddl type)
    partition: PartitionSpec

    @property
    def column_names(self) -> list[str]:
        return [name for name, _ in self.columns]


def _q(name: str) -> str:
    """Backtick-quote a possibly-dotted spark name per identifier."""
    return ".".join(f"`{part}`" for part in name.split("."))


def _sq(value: str) -> str:
    """Single-quote a DDL option/location value, escaping embedded
    quotes (a path like /data/o'brien must not break the statement)."""
    return "'" + str(value).replace("'", "\\'") + "'"


# Transient-failure signatures for catalog/DDL calls: metastore and
# object-store hiccups that a bounded retry heals. Analysis errors
# (missing table, bad SQL) never match — they must fail immediately.
_TRANSIENT_ERROR_RE = re.compile(
    r"connection (?:refused|reset)|timed? ?out|timeoutexception"
    r"|ioexception|temporarily unavailable|remoteexception"
    r"|slowdown|rate exceeded|requesttimeout|statuscode=(?:429|500|503)",
    re.IGNORECASE,
)

# Reference parity: the reference delegates transient-error retry to the
# BigQuery client library's default retry policy (the client constructed
# in factory.go carries google-cloud-go's built-in backoff for 429/5xx).
# Spark has no such client-side layer, so these driver-side catalog /
# metastore calls get an explicit bounded-retry discipline instead;
# Spark task retries cover distributed execution.
MAX_CATALOG_ATTEMPTS = 3
_RETRY_BASE_SLEEP_S = 0.2


class Catalog:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._meta: dict[str, TableMeta] = {}
        self._tables: dict[str, SimpleNamespace] = {}  # see _table

    # -- naming ---------------------------------------------------------

    def spark_name(self, fqn: str) -> str:
        return spark_table_name_from_fqn(fqn)

    # -- resilience ------------------------------------------------------

    def _run_ddl(self, sql: str):
        """Run a catalog/DDL statement with bounded retry + exponential
        backoff on transient failures (see ``_TRANSIENT_ERROR_RE``).
        Non-transient errors propagate on the first attempt."""
        return self._retry(lambda: self.spark.sql(sql))

    def _retry(self, call):
        attempt = 0
        while True:
            attempt += 1
            try:
                return call()
            except Exception as err:  # noqa: BLE001 — classified below
                if attempt >= MAX_CATALOG_ATTEMPTS or not _TRANSIENT_ERROR_RE.search(
                    str(err)
                ):
                    raise
                time.sleep(min(_RETRY_BASE_SLEEP_S * 2 ** (attempt - 1), 2.0))

    # -- DDL ------------------------------------------------------------

    def create_table(
        self,
        fqn: str,
        columns: list[tuple[str, str]],
        partition: PartitionSpec = PartitionSpec(),
        if_not_exists: bool = True,
    ) -> TableMeta:
        name = self.spark_name(fqn)
        db = name.split(".")[0]
        self._run_ddl(f"CREATE DATABASE IF NOT EXISTS `{db}`")
        if not self.spark.catalog.tableExists(name):
            self._drop_versions(name)  # left by an earlier table of this name
        cols_ddl = ", ".join(f"`{c}` {t}" for c, t in columns)
        partition_ddl = ""
        props = [f"'{PROP_KIND}' = '{partition.kind}'"]
        if partition.is_partitioned:
            cols_ddl += f", `{PARTITION_COL}` DATE"
            partition_ddl = f" PARTITIONED BY (`{PARTITION_COL}`)"
            if partition.field:
                props.append(f"'{PROP_FIELD}' = '{partition.field}'")
        exists_ddl = "IF NOT EXISTS " if if_not_exists else ""
        ddl = (
            f"CREATE TABLE {exists_ddl}{_q(name)} ({cols_ddl}) USING PARQUET"
            f"{partition_ddl} TBLPROPERTIES ({', '.join(props)})"
        )
        try:
            self._run_ddl(ddl)
        except Exception as err:
            # In-memory catalog + persistent warehouse: a previous
            # session's managed-table directory can survive as an
            # orphan the catalog no longer knows. It's unreachable
            # data — clear it and retry once.
            if "LOCATION_ALREADY_EXISTS" not in str(err):
                raise
            location = re.search(r"'file:([^']+)'", str(err))
            if location is None:
                raise
            shutil.rmtree(location.group(1), ignore_errors=True)
            self._run_ddl(ddl)
        meta = TableMeta(fqn=fqn, spark_name=name, columns=list(columns), partition=partition)
        self._meta[fqn] = meta
        self._tables.pop(name.lower(), None)
        return meta

    def drop_table(self, fqn: str) -> None:
        name = self.spark_name(fqn)
        self._run_ddl(f"DROP TABLE IF EXISTS {_q(name)}")
        self._meta.pop(fqn, None)
        self._tables.pop(name.lower(), None)
        self._drop_versions(name)

    # -- version directories (loaders.py commit protocol) ---------------

    @functools.cached_property
    def local_warehouse(self) -> str | None:
        """The warehouse directory, or None when it is not local."""
        uri = urlparse(self.spark.conf.get("spark.sql.warehouse.dir"))
        return os.path.abspath(uri.path) if uri.scheme in ("", "file") else None

    def versions_dir(self, spark_name: str) -> str:
        """``<warehouse>/<db>.db/_versions/<table>``: where loads write
        the table's versions and its intent record."""
        if self.local_warehouse is None:
            raise ValueError(
                "version directories need a local warehouse, not "
                + self.spark.conf.get("spark.sql.warehouse.dir")
            )
        db, _, table = spark_name.lower().rpartition(".")
        return os.path.join(
            self.local_warehouse, f"{db or 'default'}.db", VERSIONS, table
        )

    def _drop_versions(self, spark_name: str) -> None:
        """Delete a dropped table's versions and any intent record: a
        table created again under the name must not adopt them. (A table
        dropped and created again with plain SQL skips this: drop
        destinations through ``drop_table``.)"""
        if self.local_warehouse is not None:
            shutil.rmtree(self.versions_dir(spark_name), ignore_errors=True)

    # -- commits through the external catalog (loaders.py) ---------------
    #
    # A commit changes metadata only, so it talks to the external catalog
    # directly: listing a table's partitions there takes ~2 ms against
    # ~32 ms for SHOW PARTITIONS, and each SQL DDL statement costs 10-60 ms
    # of parsing, analysis and a relation refresh on top of its one
    # catalog call.

    @functools.cached_property
    def _jvm(self) -> SimpleNamespace:
        """Session-wide JVM handles the commit calls reuse."""
        jvm = self.spark._jvm
        session = self.spark._jsparkSession
        catalog = jvm.org.apache.spark.sql.catalyst.catalog
        return SimpleNamespace(
            session_catalog=session.sessionState().catalog(),
            external=session.sessionState().catalog().externalCatalog(),
            partition=catalog.CatalogTablePartition,
            uri=catalog.CatalogUtils.stringToURI,
            spec=jvm.org.apache.spark.sql.execution.datasources.PartitioningUtils.parsePathFragment,
            some=jvm.scala.Option.apply,
            none=jvm.scala.Option.empty(),
            no_params=jvm.scala.Predef.Map().empty(),
            array_list=jvm.java.util.ArrayList,
            as_scala=jvm.scala.jdk.javaapi.CollectionConverters.asScala,
            identifier=jvm.org.apache.spark.sql.catalyst.TableIdentifier,
        )

    def _table(self, spark_name: str) -> SimpleNamespace:
        """Per-table JVM handles: the table's storage format (what a new
        partition inherits) and its identifier. Storage formats never
        change under a table, so the handles live until the table is
        created or dropped through this catalog."""
        key = spark_name.lower()
        if key not in self._tables:
            j = self._jvm
            db, table = key.split(".")
            storage = j.external.getTable(db, table).storage()
            self._tables[key] = SimpleNamespace(
                db=db,
                table=table,
                storage=storage,
                formats=(
                    storage.inputFormat(), storage.outputFormat(), storage.serde(),
                    storage.compressed(), storage.properties(),
                ),
                ident=j.identifier(table, j.some(db)),
            )
        return self._tables[key]

    def partition_names(self, spark_name: str) -> set[str]:
        """The table's ``dt`` partition values, as they appear in ``dt=``
        directory names (``__HIVE_DEFAULT_PARTITION__`` for NULL)."""
        t = self._table(spark_name)
        names = self._retry(
            lambda: self._jvm.external.listPartitionNames(t.db, t.table, self._jvm.none)
        ).mkString("\n")
        prefix = f"{PARTITION_COL}="
        return {n[len(prefix):] for n in names.split("\n") if n.startswith(prefix)}

    def _partitions(self, t: SimpleNamespace, locations: dict[str, str]):
        """A Scala Seq of partitions at local ``locations`` (partition
        value → path), each inheriting the table's storage format."""
        j = self._jvm
        now = int(time.time() * 1000)
        parts = j.array_list()
        for value, path in locations.items():
            where = t.storage.copy(j.some(j.uri("file:" + path)), *t.formats)
            parts.add(j.partition(
                j.spec(f"{PARTITION_COL}={value}"), where, j.no_params, now, -1, j.none,
            ))
        return j.as_scala(parts).toSeq()

    def add_partitions(self, spark_name: str, locations: dict[str, str]) -> None:
        """Add ``dt`` partitions at local directories in ONE external-
        catalog call (partitions that exist already are left as they
        are). ``locations`` maps a partition value, as it appears in a
        ``dt=`` directory name, to a path."""
        t = self._table(spark_name)
        seq = self._partitions(t, locations)
        self._retry(lambda: self._jvm.external.createPartitions(t.db, t.table, seq, True))

    def set_partition_locations(self, spark_name: str, locations: dict[str, str]) -> None:
        """Point existing ``dt`` partitions at new local directories in
        ONE external-catalog call; ``locations`` as for
        ``add_partitions``. The SQL form, ``ALTER TABLE … PARTITION …
        SET LOCATION``, costs one statement per day: 10-20 ms each with
        the in-memory catalog and about 60 ms with the embedded Hive
        metastore."""
        t = self._table(spark_name)
        seq = self._partitions(t, locations)
        self._retry(lambda: self._jvm.external.alterPartitions(t.db, t.table, seq))

    def set_location(self, spark_name: str, path: str) -> None:
        """Point an unpartitioned table at a local directory: what
        ``ALTER TABLE … SET LOCATION`` does, in two catalog calls. Like
        that statement, it drops the table's statistics, which described
        the old data."""
        j, t = self._jvm, self._table(spark_name)
        table = self._retry(lambda: j.external.getTable(t.db, t.table))
        storage = table.storage()
        moved = table.withNewStorage(
            j.some(j.uri("file:" + path)), storage.inputFormat(), storage.outputFormat(),
            storage.compressed(), storage.serde(), storage.properties(),
        )
        self._retry(lambda: j.external.alterTable(moved))
        if table.stats().isDefined():
            self._retry(lambda: j.external.alterTableStats(t.db, t.table, j.none))

    def invalidate(self, spark_name: str) -> None:
        """Make the next read of the table plan against its new
        locations: drop the session's cached relation of the table.
        ``refreshTable`` does that too, after resolving the table and
        listing its files (~10 ms against ~0.1 ms); its other work,
        refreshing file listings and re-caching cached frames of the
        table, reads the directories a commit has just stopped
        referencing."""
        self._jvm.session_catalog.invalidateCachedTable(self._table(spark_name).ident)

    def create_view(self, fqn: str, sql_query: str, replace: bool = True) -> str:
        """Standard (non-materialized) view under catalog coordinates;
        ``sql_query`` may be BigQuery dialect — it transpiles through
        the same shim as task queries. Queries through the view expand
        to base tables in Catalyst, so dependency resolution and
        pushdown behave exactly as BigQuery's referencedTables does
        (reference resolves views in its dry-run dependency path)."""
        from .dialect import transpile

        name = self.spark_name(fqn)
        db = name.split(".")[0]
        self._run_ddl(f"CREATE DATABASE IF NOT EXISTS `{db}`")
        verb = "CREATE OR REPLACE VIEW" if replace else "CREATE VIEW"
        self._run_ddl(f"{verb} {_q(name)} AS {transpile(sql_query)}")
        return name

    def drop_view(self, fqn: str) -> None:
        self._run_ddl(f"DROP VIEW IF EXISTS {_q(self.spark_name(fqn))}")

    def register_external_table(
        self,
        fqn: str,
        path: str,
        fmt: str = "csv",
        schema_ddl: str | None = None,
        options: dict[str, str] | None = None,
    ) -> DataFrame:
        """File-backed external table at ``project.dataset.table`` — the
        analogue of the reference's Google-Sheet-backed federated tables
        (reference: samples/tasks/select/federated_table/). Queries
        address it like a managed table. ``CREATE TABLE ... USING <fmt>
        LOCATION`` makes an unmanaged entry: DROP removes metadata only,
        never the files."""
        if fmt not in ("csv", "json", "parquet"):
            raise ValueError(f"unsupported external format {fmt!r}")
        name = self.spark_name(fqn)
        self._run_ddl(f"CREATE DATABASE IF NOT EXISTS `{name.split('.')[0]}`")
        opts = dict(options or {})
        if fmt == "csv":
            opts.setdefault("header", "true")
        if schema_ddl is None and fmt in ("csv", "json"):
            # infer once driver-side, then pin the schema in the DDL so
            # the table definition is stable across sessions; backticked
            # names survive spaces, colons and hyphens
            schema = (
                self.spark.read.format(fmt)
                .options(**opts, inferSchema=True)
                .load(path)
                .schema
            )
            schema_ddl = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
            )
        cols = f" ({schema_ddl})" if schema_ddl else ""
        opts_ddl = (
            " OPTIONS (" + ", ".join(f"{_sq(k)} = {_sq(v)}" for k, v in opts.items()) + ")"
            if opts
            else ""
        )
        self._run_ddl(
            f"CREATE TABLE IF NOT EXISTS {_q(name)}{cols} USING {fmt}{opts_ddl} "
            f"LOCATION {_sq(path)}"
        )
        return self.spark.table(name)

    def table_exists(self, fqn: str) -> bool:
        return self.spark.catalog.tableExists(self.spark_name(fqn))

    def add_columns(self, fqn: str, new_columns: list[tuple[str, str]]) -> None:
        """Schema evolution (ALLOW_FIELD_ADDITION, reference:
        bigquery_service.py:111-115)."""
        if not new_columns:
            return
        cols_ddl = ", ".join(f"`{c}` {t}" for c, t in new_columns)
        self._run_ddl(f"ALTER TABLE {_q(self.spark_name(fqn))} ADD COLUMNS ({cols_ddl})")
        meta = self.get_table(fqn)
        meta.columns.extend(new_columns)

    def relax_columns(self, fqn: str, names: list[str]) -> None:
        """Nullability relaxation (ALLOW_FIELD_RELAXATION — the
        reference's bigquery_service.py:111-115 always enables it
        together with field addition): drops NOT NULL from the recorded
        column types so subsequent writes may land NULLs. Spark v1
        parquet tables don't carry the constraint operationally (ALTER
        COLUMN ... DROP NOT NULL is a v2/Delta feature), so the catalog
        metadata the writer enforces against is the source of truth."""
        if not names:
            return
        meta = self.get_table(fqn)
        lower = {n.lower() for n in names}
        meta.columns = [
            (c, re.sub(r"\s+not\s+null\s*$", "", t, flags=re.IGNORECASE))
            if c.lower() in lower
            else (c, t)
            for c, t in meta.columns
        ]

    # -- introspection (the BigQuery get_table analogue) ----------------

    def get_table(self, fqn: str) -> TableMeta:
        if fqn in self._meta:
            return self._meta[fqn]
        name = self.spark_name(fqn)
        if not self.spark.catalog.tableExists(name):
            raise ValueError(f"table not found: {fqn} (spark name {name})")
        props = {
            row["key"]: row["value"]
            for row in self._run_ddl(f"SHOW TBLPROPERTIES {_q(name)}").collect()
        }
        kind = props.get(PROP_KIND, PartitionKind.NONE)
        field = props.get(PROP_FIELD)
        schema = self.spark.table(name).schema
        columns = [
            (f.name, f.dataType.simpleString())
            for f in schema.fields
            if not (kind != PartitionKind.NONE and f.name == PARTITION_COL)
        ]
        meta = TableMeta(
            fqn=fqn,
            spark_name=name,
            columns=columns,
            partition=PartitionSpec(kind=kind, field=field),
        )
        self._meta[fqn] = meta
        return meta

    # -- reads ----------------------------------------------------------

    def read(self, fqn: str, include_partition_col: bool = True) -> DataFrame:
        meta = self.get_table(fqn)
        df = self.spark.table(meta.spark_name)
        if not include_partition_col and meta.partition.is_partitioned:
            df = df.drop(PARTITION_COL)
        return df

    def partition_dates(self, fqn: str) -> list[date]:
        """Distinct dt values — partition-pruned metadata-ish scan."""
        meta = self.get_table(fqn)
        if not meta.partition.is_partitioned:
            return []
        rows = (
            self.spark.table(meta.spark_name)
            .select(PARTITION_COL)
            .distinct()
            .collect()
        )
        return sorted(r[0] for r in rows if r[0] is not None)
