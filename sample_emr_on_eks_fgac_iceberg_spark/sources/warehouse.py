"""Engine-managed table warehouse: DDL + DML over identity-partitioned
columnar tables.

Implements the reference's storage surface (SURVEY.md §2 D1/D2/M1, §1.3):

- ``CREATE TABLE … PARTITIONED BY (col)``
  (producer_account_setup/producer_iceberg_datalake_setup.sh:116-131,
  169-187) → ``Warehouse.create_table`` with identity partitioning,
- ``INSERT INTO … VALUES`` (:143-157, 197-209) → ``insert_values`` /
  ``insert_into`` (appends a new snapshot),
- ``DROP TABLE`` (producer_clean_up.sh:92-103) → ``drop_table``,
- physical layout: parquet data files under ``<col>=<value>/``
  directories, exactly the layout the reference's cleanup log shows for
  its Iceberg tables (producer_cleanup_logs.txt:31-53), plus a
  versioned JSON metadata file standing in for Iceberg's metadata tree.

When an iceberg-spark runtime jar is on the classpath the same API is
served by Iceberg DDL through ``spark.sql`` (session.py wires the
catalog); this pure-parquet implementation keeps identical logical
semantics — schema-on-write, identity partition pruning, snapshot-ish
append versioning — with zero extra dependencies.

Scale notes: writes cluster rows by partition value before Spark's
dynamic partition write (``Warehouse._write_data``), reads prune
partitions via directory layout + parquet footer stats; nothing here
collects to the driver.
"""

from __future__ import annotations

import errno
import json
import os
import re
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


# --------------------------------------------------------------------
# Hidden partitioning (Iceberg partition transforms): a spec entry is
# either an identity column name or a transform expression —
# year(ts) / month(ts) / day(ts) / hour(ts) / bucket(N, col) /
# truncate(W, col). The derived partition value is engine-managed: it
# appears in the directory layout (ts_day=2024-01-05/…) but never in
# the logical schema, and queries filter on the SOURCE column — the
# engine's scan planner converts those predicates into partition
# pruning (Iceberg's metadata-time file planning), so a query never
# has to know how the table is partitioned.
# --------------------------------------------------------------------

_TRANSFORM_RE = re.compile(
    r"^\s*(years?|months?|days?|hours?)\s*\(\s*`?(\w+)`?\s*\)\s*$"
    r"|^\s*(bucket|truncate)\s*\(\s*(\d+)\s*,\s*`?(\w+)`?\s*\)\s*$",
    re.I,
)

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

_INT_TYPES = {"tinyint", "smallint", "int", "bigint"}
# Iceberg's positional delete file: the spec's reserved fields
# file_path (2147483546) and pos (2147483545), in that order.
_POSITION_DELETE_SCHEMA = T.StructType(
    [T.StructField("file_path", T.StringType()), T.StructField("pos", T.LongType())]
)


@dataclass(frozen=True)
class PartitionField:
    kind: str  # identity | year | month | day | hour | bucket | truncate
    source: str
    param: int | None
    name: str  # directory column name (ts_day, k_bucket, …)


def parse_partition_spec(entries: list[str]) -> list[PartitionField]:
    out = []
    for e in entries:
        m = _TRANSFORM_RE.match(e)
        if m is None:
            col = e.strip().strip("`")
            out.append(PartitionField("identity", col, None, col))
        elif m.group(1):
            kind = m.group(1).lower().rstrip("s")
            src = m.group(2)
            out.append(PartitionField(kind, src, None, f"{src}_{kind}"))
        else:
            kind = m.group(3).lower()
            param, src = int(m.group(4)), m.group(5)
            suffix = "bucket" if kind == "bucket" else "trunc"
            out.append(PartitionField(kind, src, param, f"{src}_{suffix}"))
    return out


def _transform_column(f: PartitionField, dtype: str) -> F.Column:
    """The derived partition value as a Spark expression (write path).
    ``dtype`` is the source column's simpleString type."""
    c = F.col(f.source)
    if f.kind == "year":
        return F.year(c)
    if f.kind == "month":
        return F.date_format(c, "yyyy-MM")
    if f.kind == "day":
        return F.date_format(c, "yyyy-MM-dd")
    if f.kind == "hour":
        return F.date_format(c, "yyyy-MM-dd-HH")
    if f.kind == "bucket":
        # spec-conformant bucket[N] (murmur3_x86_32 seed 0 over the
        # spec byte layouts) so external Iceberg readers compute the
        # same bucket for a literal and prune the RIGHT files — NOT
        # Spark's F.hash (seed 42, Spark-internal layouts)
        from sample_emr_on_eks_fgac_iceberg_spark.sources.iceberg_bucket import (
            bucket_expr,
        )

        return bucket_expr(f.source, f.param, dtype)
    if f.kind == "truncate":
        # order-preserving: ints floor to a multiple of W, strings to
        # a W-char prefix (Iceberg's truncate semantics)
        if dtype in _INT_TYPES:
            return c - F.pmod(c, F.lit(f.param))
        return F.substring(c, 1, f.param)
    raise ValueError(f.kind)


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _type_sql(dtype: T.DataType) -> str:
    """``simpleString`` with struct field names quoted, so any declared
    type parses back inside a SQL CAST."""
    if isinstance(dtype, T.StructType):
        return "struct<" + ", ".join(
            f"{_quote(f.name)}: {_type_sql(f.dataType)}"
            + ("" if f.nullable else " NOT NULL")
            for f in dtype.fields
        ) + ">"
    if isinstance(dtype, T.ArrayType):
        return f"array<{_type_sql(dtype.elementType)}>"
    if isinstance(dtype, T.MapType):
        return f"map<{_type_sql(dtype.keyType)}, {_type_sql(dtype.valueType)}>"
    return dtype.simpleString()


def cast_projection(fields: list[T.StructField], present=None) -> list[str]:
    """``selectExpr`` list casting each field to its declared type (a
    typed NULL for a field not in ``present``): one py4j call where
    ``F.col(n).cast(t).alias(n)`` costs ~50 per column; same plan."""
    return [
        f"CAST({_quote(f.name) if present is None or f.name in present else 'NULL'}"
        f" AS {_type_sql(f.dataType)}) AS {_quote(f.name)}"
        for f in fields
    ]


class TableNotFoundError(Exception):
    pass


class SchemaMismatchError(Exception):
    pass


class SnapshotNotFoundError(Exception):
    pass


class MergeCardinalityError(Exception):
    """A target row matched more than one source row — same error
    Iceberg's MERGE raises (non-deterministic update otherwise)."""


class CommitConflictError(Exception):
    """A concurrent commit invalidated this one (Iceberg's optimistic
    concurrency): either the files this commit removes / the data files
    its positional deletes reference are no longer live (someone
    rewrote them — applying ours would lose their effects), or another
    process claimed the same metadata version (O_EXCL version claim,
    the HadoopTableOperations pattern). Re-plan against the refreshed
    table state and retry; non-overlapping commits succeed on retry."""


class _CommitClaimRace(CommitConflictError):
    """Internal: lost the O_EXCL version-claim race. RETRYABLE — the
    competing commit advances the base, so re-reading metadata and
    revalidating can succeed without re-planning (Iceberg's
    ``commit.retry.num-retries`` behavior for non-conflicting commits).
    Validation conflicts (planned files no longer live) raise the base
    class directly and are never auto-retried: the caller must
    re-plan."""


@dataclass
class TableMeta:
    name: str
    schema_json: str
    partition_by: list[str] = field(default_factory=list)
    properties: dict[str, str] = field(default_factory=dict)
    snapshots: list[dict] = field(default_factory=list)
    link_to: str | None = None  # M2: resource link → target table name
    renames: list = field(default_factory=list)  # [[old, new], …] oldest first
    refs: dict = field(default_factory=dict)  # name → {snapshot_id, type}
    # Iceberg table-uuid: assigned once at the first metadata write and
    # stable across renames/commits, as the spec requires (the mirror
    # chain in iceberg_metadata.py keys on it)
    uuid: str | None = None

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.schema_json))


class Warehouse:
    """A directory of identity-partitioned parquet tables with schema-on-
    write enforcement and append snapshots.

    Write distribution: every data-file write goes through
    ``_write_data``. On a partitioned table it clusters rows by
    partition value (Iceberg's ``hash`` distribution), so a commit adds
    about one file per partition value it touches, each sorted by the
    table's WRITE ORDERED BY. Compaction keeps its planned file count;
    unpartitioned writes keep the input's partitioning."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(self._meta_dir, exist_ok=True)

    # ------------------------------------------------------------- paths
    @property
    def _meta_dir(self) -> str:
        return os.path.join(self.root, "_metadata")

    def _meta_path(self, name: str) -> str:
        return os.path.join(self._meta_dir, f"{name}.json")

    def data_dir(self, name: str) -> str:
        return os.path.join(self.root, name, "data")

    # ---------------------------------------------------------- metadata
    def _write_meta(self, meta: TableMeta) -> None:
        if meta.uuid is None and meta.link_to is None:
            import uuid as _uuid

            meta.uuid = str(_uuid.uuid4())
        with open(self._meta_path(meta.name), "w") as f:
            json.dump(
                {
                    "name": meta.name,
                    "schema_json": meta.schema_json,
                    "partition_by": meta.partition_by,
                    "properties": meta.properties,
                    "snapshots": meta.snapshots,
                    "link_to": meta.link_to,
                    "renames": meta.renames,
                    "refs": meta.refs,
                    "uuid": meta.uuid,
                },
                f,
                indent=2,
            )
        # spec-shaped Iceberg v2 metadata chain (interop artifact; the
        # engine's own manifest log above stays the commit authority)
        from sample_emr_on_eks_fgac_iceberg_spark.sources.iceberg_metadata import (
            emit_metadata,
        )

        emit_metadata(meta, os.path.join(self.root, meta.name))

    def _read_meta(self, name: str) -> TableMeta:
        path = self._meta_path(name)
        if not os.path.exists(path):
            raise TableNotFoundError(f"Table '{name}' does not exist")
        with open(path) as f:
            raw = json.load(f)
        return TableMeta(**raw)

    def table_exists(self, name: str) -> bool:
        return os.path.exists(self._meta_path(name))

    @contextmanager
    def _table_lock(self, name: str):
        """Per-table advisory lock held across a mutation's
        read-modify-write of the metadata file — what makes the commit
        path actually linearizable (Iceberg's atomic metadata swap;
        concurrent committers serialize here while their data writes
        proceed in parallel elsewhere). File-based (flock), so it also
        covers multiple Warehouse instances over the same root."""
        import fcntl

        with open(os.path.join(self._meta_dir, f".{name}.lock"), "w") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(lf, fcntl.LOCK_UN)

    def state_token(self) -> tuple:
        """Cheap change token over every table's metadata file (name,
        mtime_ns, size). Manifest-planned reads freeze the file list in
        the plan, so cached views must be re-resolved when this changes
        — one stat() per table, no data I/O."""
        out = []
        for f in sorted(os.listdir(self._meta_dir)):
            if f.endswith(".json"):
                st = os.stat(os.path.join(self._meta_dir, f))
                out.append((f, st.st_mtime_ns, st.st_size))
        return tuple(out)

    def scan_version(self, name: str) -> tuple[str, str]:
        """(base table, metadata version) of ``name``'s current scan; a
        resource link resolves to its target. The version is a digest of
        the base table's metadata file, which every commit, ALTER and
        spec change rewrites, so a frame planned at one version stays
        valid until the version changes."""
        import hashlib

        meta = self._read_meta(name)
        while meta.link_to is not None:
            meta = self._read_meta(meta.link_to)
        with open(self._meta_path(meta.name), "rb") as f:
            return meta.name, hashlib.blake2b(f.read(), digest_size=16).hexdigest()

    def list_tables(self) -> list[str]:
        return sorted(
            os.path.splitext(f)[0]
            for f in os.listdir(self._meta_dir)
            if f.endswith(".json")
        )

    # -------------------------------------------------------- databases
    # A Glue-style database registry (the reference creates
    # healthcare_db via `aws glue create-database`,
    # producer_iceberg_datalake_setup.sh:106-107, and deletes it in
    # cleanup). Tables live under a database by NAME PREFIX
    # (`db.table`), which is how the engine's catalog-qualified
    # resolution already addresses them; the registry adds the
    # explicit lifecycle.

    @property
    def _db_dir(self) -> str:
        return os.path.join(self._meta_dir, "databases")

    def create_database(self, db: str, if_not_exists: bool = False) -> None:
        os.makedirs(self._db_dir, exist_ok=True)
        marker = os.path.join(self._db_dir, db)
        if os.path.exists(marker):
            if if_not_exists:
                return
            raise ValueError(f"Database '{db}' already exists")
        with open(marker, "w"):
            pass

    def list_databases(self) -> list[str]:
        if not os.path.isdir(self._db_dir):
            return []
        return sorted(os.listdir(self._db_dir))

    def tables_in_database(self, db: str) -> list[str]:
        prefix = db + "."
        return [t for t in self.list_tables() if t.startswith(prefix)]

    def drop_database(
        self, db: str, cascade: bool = False, if_exists: bool = False
    ) -> None:
        """Glue semantics: dropping a non-empty database requires
        CASCADE (which drops its tables, resource links included)."""
        marker = os.path.join(self._db_dir, db)
        if not os.path.exists(marker):
            if if_exists:
                return
            raise ValueError(f"Database '{db}' does not exist")
        members = self.tables_in_database(db)
        if members and not cascade:
            raise ValueError(
                f"Database '{db}' is not empty ({len(members)} tables); "
                "use DROP DATABASE ... CASCADE"
            )
        for t in members:
            self.drop_table(t)
        os.remove(marker)

    # ---------------------------------------------------------- views
    # Producer-side persistent SQL views, stored Iceberg-view-spec
    # style (a versioned metadata document per view: every CREATE OR
    # REPLACE appends a version, the current pointer moves — the view
    # spec's version history, scaled to this warehouse's JSON
    # metadata). Consumers have their own invoker's-rights views in
    # SecureSession; these are the trusted-surface equivalent, resolved
    # by SqlFrontend._query at read time (always the CURRENT version).

    @property
    def _views_dir(self) -> str:
        return os.path.join(self._meta_dir, "views")

    def _view_path(self, name: str) -> str:
        return os.path.join(self._views_dir, f"{name}.view.json")

    def view_exists(self, name: str) -> bool:
        return os.path.exists(self._view_path(name))

    def create_view(self, name: str, sql: str, replace: bool = False) -> None:
        """Register (or version-forward) a SQL view. The name shares
        the table namespace — a view may not shadow a table (and
        create_table refuses view names), matching Iceberg/Glue's
        single catalog namespace."""
        import json
        import time

        if self.table_exists(name):
            raise ValueError(
                f"Cannot create view '{name}': a table with that name exists"
            )
        os.makedirs(self._views_dir, exist_ok=True)
        path = self._view_path(name)
        if os.path.exists(path):
            if not replace:
                raise ValueError(f"View '{name}' already exists")
            with open(path) as f:
                doc = json.load(f)
        else:
            doc = {"name": name, "versions": []}
        vid = len(doc["versions"]) + 1
        doc["versions"].append(
            {
                "version-id": vid,
                "timestamp-ms": int(time.time() * 1000),
                "sql": sql,
            }
        )
        doc["current-version-id"] = vid
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f, indent=1)
        os.replace(tmp, path)

    def drop_view(self, name: str, if_exists: bool = False) -> None:
        path = self._view_path(name)
        if not os.path.exists(path):
            if if_exists:
                return
            raise ValueError(f"View '{name}' does not exist")
        os.remove(path)

    def list_views(self) -> list[str]:
        if not os.path.isdir(self._views_dir):
            return []
        return sorted(
            f[: -len(".view.json")]
            for f in os.listdir(self._views_dir)
            if f.endswith(".view.json")
        )

    def view_doc(self, name: str) -> dict:
        import json

        path = self._view_path(name)
        if not os.path.exists(path):
            raise ValueError(f"View '{name}' does not exist")
        with open(path) as f:
            return json.load(f)

    def view_sql(self, name: str, version_id: int | None = None) -> str:
        """Body text of a view version — current by default, or any
        retained version (the Iceberg view spec keeps the full version
        list; CREATE OR REPLACE only moves current-version-id), so
        view evolution is auditable like table snapshots."""
        doc = self.view_doc(name)
        vid = doc["current-version-id"] if version_id is None else version_id
        hits = [x for x in doc["versions"] if x["version-id"] == vid]
        if not hits:
            raise ValueError(
                f"View '{name}' has no version {vid} "
                f"(versions: 1..{len(doc['versions'])})"
            )
        return hits[0]["sql"]

    def view_versions(self, name: str) -> list[dict]:
        """The view's full version history, oldest first — each entry
        {version-id, timestamp-ms, sql} plus an is_current flag."""
        doc = self.view_doc(name)
        cur = doc["current-version-id"]
        return [
            {**v, "is_current": v["version-id"] == cur}
            for v in doc["versions"]
        ]

    # --------------------------------------------------------------- DDL
    @staticmethod
    def validate_table_definition(
        schema: T.StructType | str, partition_by: list[str] | None
    ) -> tuple[T.StructType, list[str]]:
        """Everything CREATE TABLE checks, callable WITHOUT side
        effects — CREATE OR REPLACE validates the replacement
        definition with this BEFORE dropping the table it replaces, so
        a bad definition can never destroy the old table."""
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        partition_by = list(partition_by or [])
        names = [f.name for f in schema.fields]
        for pf in parse_partition_spec(partition_by):
            if pf.source not in names:
                raise ValueError(f"Partition column '{pf.source}' not in schema")
            if pf.name in names and pf.kind != "identity":
                raise ValueError(
                    f"Derived partition name '{pf.name}' collides with a schema column"
                )
        return schema, partition_by

    def create_table(
        self,
        name: str,
        schema: T.StructType | str,
        partition_by: list[str] | None = None,
        properties: dict[str, str] | None = None,
    ) -> TableMeta:
        """D1: CREATE TABLE … PARTITIONED BY (col)."""
        if self.table_exists(name):
            raise ValueError(f"Table '{name}' already exists")
        if self.view_exists(name):
            raise ValueError(
                f"Cannot create table '{name}': a view with that name "
                "exists (single catalog namespace)"
            )
        schema, partition_by = self.validate_table_definition(schema, partition_by)
        meta = TableMeta(
            name=name,
            schema_json=json.dumps(schema.jsonValue()),
            partition_by=partition_by,
            properties=self.validate_properties(
                properties or {"table_type": "PARQUET"}
            ),
        )
        os.makedirs(self.data_dir(name), exist_ok=True)
        self._write_meta(meta)
        return meta

    def create_resource_link(self, link_name: str, target: str) -> TableMeta:
        """M2: resource link — a catalog alias resolving to another
        table, the in-process analog of the reference's cross-account
        Glue resource links ``rl_patients``/``rl_claims``
        (consumer_account_setup/consumer_emr_on_eks_setup.sh:261-287).
        Grants and DataCellsFilters bind to the *link name*, exactly as
        Lake Formation policies bind to the consumer's link."""
        if self.table_exists(link_name):
            raise ValueError(f"Table '{link_name}' already exists")
        target_meta = self._read_meta(target)  # target must exist
        meta = TableMeta(
            name=link_name,
            schema_json=target_meta.schema_json,
            partition_by=list(target_meta.partition_by),
            properties={"table_type": "RESOURCE_LINK"},
            link_to=target,
        )
        self._write_meta(meta)
        return meta

    def rename_table(self, old: str, new: str) -> None:
        """ALTER TABLE old RENAME TO new — a pure catalog/metadata
        operation (Iceberg's rename: no data movement in spirit; here
        the table directory moves with its name but every snapshot file
        list is RELATIVE to the data dir, so the whole history —
        time travel, refs, changelog reads — survives untouched).

        Fail-safe refusals: the target name must be free, and no
        resource link may point at the old name (Glue does not rewrite
        links on rename; a dangling link is a confused-deputy hazard,
        so the rename is refused until the link is dropped). Renaming
        a resource link itself is also refused: a link owns no data
        directory (it writes through to its target), so there is
        nothing to move and Glue models link renames as drop+recreate.
        Grants deliberately do NOT follow the rename — Lake Formation
        permissions key on the resource name, so renaming re-keys the
        resource and existing grants orphan, exactly as in the
        reference's stack; re-grant under the new name.

        Both names are locked (in sorted order, so two concurrent
        renames cannot deadlock) before the target-free check — the
        check-then-act on 'new' is atomic with the meta write, matching
        the linearizability of the other commit paths."""
        if old == new:
            raise ValueError(f"Cannot rename '{old}' to itself")
        first, second = sorted((old, new))
        with self._table_lock(first), self._table_lock(second):
            meta = self._read_meta(old)  # raises if missing
            if meta.link_to is not None:
                raise ValueError(
                    f"Cannot rename '{old}': it is a resource link to "
                    f"'{meta.link_to}' (drop and recreate the link instead)"
                )
            if self.table_exists(new):
                raise ValueError(f"Table '{new}' already exists")
            for f in os.listdir(self._meta_dir):
                if not f.endswith(".json"):
                    continue
                with open(os.path.join(self._meta_dir, f)) as fh:
                    other = json.load(fh)
                if other.get("link_to") == old:
                    raise ValueError(
                        f"Cannot rename '{old}': resource link "
                        f"'{other['name']}' points at it (drop the link first)"
                    )
            meta.name = new
            os.rename(os.path.join(self.root, old), os.path.join(self.root, new))
            self._write_meta(meta)
            os.remove(self._meta_path(old))
            # commit-claim debris keys on the table NAME: a later table
            # re-created under the old name restarts at sequence 1 and
            # must not inherit stale claims
            for f in os.listdir(self._meta_dir):
                if f.startswith(f".{old}.commit-"):
                    os.remove(os.path.join(self._meta_dir, f))

    def drop_table(self, name: str) -> None:
        """M1: DROP TABLE — removes data files and metadata."""
        meta_path = self._meta_path(name)
        if not os.path.exists(meta_path):
            raise TableNotFoundError(f"Table '{name}' does not exist")
        os.remove(meta_path)
        shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)
        # version-claim / lock debris must go with the table: a
        # re-created table restarts at sequence 1, which a stale claim
        # file would otherwise report as a commit conflict
        for f in os.listdir(self._meta_dir):
            if f.startswith(f".{name}.commit-") or f == f".{name}.lock":
                os.remove(os.path.join(self._meta_dir, f))

    def show_partitions(self, name: str) -> list[str]:
        """Partition values currently on disk, as Spark's SHOW
        PARTITIONS spells them (``col=value[/col2=value2]``, sorted).
        Pure directory-listing metadata — no data I/O; hidden
        transforms list their derived directory columns (ts_day=…,
        k_bucket=…), matching Iceberg's `.partitions` metadata view.
        Raises on an unpartitioned table, as Spark does."""
        meta = self._read_meta(name)
        if meta.link_to is not None:
            return self.show_partitions(meta.link_to)
        spec = parse_partition_spec(meta.partition_by)
        if not spec:
            raise ValueError(
                f"SHOW PARTITIONS is not allowed on a table that is not "
                f"partitioned: {name}"
            )
        # CURRENT SNAPSHOT's files only — copy-on-write keeps dead
        # files on disk for time travel, and a partition whose rows
        # were all deleted must not be listed (Iceberg/Spark parity;
        # caught by the round-5 review)
        depth = len(spec)
        found: set[str] = set()
        for f in self._live_files(meta):
            kv = [p for p in f.split("/") if "=" in p]
            if len(kv) >= depth:
                found.add("/".join(kv[:depth]))
        return sorted(found)

    # ---------------------------------------------------------- snapshots
    def _data_files(self, name: str) -> set[str]:
        """Relative paths of every parquet data file currently on disk."""
        data = self.data_dir(name)
        return {
            os.path.relpath(os.path.join(dirpath, fn), data)
            for dirpath, _, fns in os.walk(data)
            for fn in fns
            if fn.endswith(".parquet")
        }

    def snapshots(self, name: str) -> list[dict]:
        """Snapshot log, oldest first — the engine's analog of Iceberg's
        metadata tree (reference cleanup log shows snap-*.avro manifests,
        producer_account_setup/logs/producer_cleanup_logs.txt:33-51).
        Each entry: snapshot_id, timestamp_ms, operation, added_files,
        removed_files, sequence_number."""
        return list(self._read_meta(name).snapshots)

    def current_snapshot_id(self, name: str) -> int | None:
        """Head of the main lineage — staged (unpublished WAP)
        snapshots are not the table head."""
        snaps = [s for s in self._read_meta(name).snapshots if not s.get("staged")]
        return snaps[-1]["snapshot_id"] if snaps else None

    @staticmethod
    def _live_files(meta: TableMeta, snapshot_id: int | None = None) -> set[str]:
        """Replay the manifest log up to (and including) snapshot_id —
        None means the current snapshot. The live set is what a scan
        reads: copy-on-write DML removes files from it without deleting
        them from disk, so older snapshots stay readable."""
        live: set[str] = set()
        for s in meta.snapshots:
            if snapshot_id is not None and s["snapshot_id"] > snapshot_id:
                break
            # a staged (write-audit-publish) snapshot is invisible to
            # the live set until published — unless it is itself the
            # read target (the audit read)
            if s.get("staged") and s["snapshot_id"] != snapshot_id:
                continue
            live |= set(s["added_files"])
            live -= set(s.get("removed_files", ()))
        return live

    # --------------------------------- merge-on-read equality deletes
    # Iceberg v2 row-level deletes without rewriting data files: a
    # DELETE on a table with write.delete.mode=merge-on-read writes a
    # small *equality delete file* holding the identifier-column values
    # of the deleted rows; scans subtract them with an anti-join. A
    # delete at sequence D applies only to rows in data files with
    # sequence < D (Iceberg's sequence-number rule) — which is what
    # makes later inserts of the same key, and DML/compaction rewrites
    # (whose new files get a higher sequence), immune to old deletes.
    # At 100 TB the win is the write path: deleting a billion rows
    # spread over the table costs one small keys file, not a rewrite
    # of every touched data file; compaction materializes deletes in
    # the background.

    def delete_dir(self, name: str) -> str:
        return os.path.join(self.root, name, "deletes")

    def _delete_files_on_disk(self, name: str) -> set[str]:
        d = self.delete_dir(name)
        if not os.path.isdir(d):
            return set()
        return {
            os.path.relpath(os.path.join(dirpath, fn), d)
            for dirpath, _, fns in os.walk(d)
            for fn in fns
            if fn.endswith(".parquet")
        }

    @staticmethod
    def _live_delete_files(
        meta: TableMeta, snapshot_id: int | None = None
    ) -> dict[str, int]:
        """Replay the manifest log → {delete file: the sequence number
        it was committed at}. Removal (compaction / expiry / rollback)
        takes a file out of the live set; re-adds keep the original
        sequence so the apply-to-older-data rule stays stable."""
        live: dict[str, int] = {}
        first_seq: dict[str, int] = {}
        for s in meta.snapshots:
            if snapshot_id is not None and s["snapshot_id"] > snapshot_id:
                break
            # a collapsed base manifest (expire_snapshots) records the
            # original commit sequences explicitly
            for f, seq in s.get("delete_file_seqs", {}).items():
                first_seq.setdefault(f, int(seq))
            for f in s.get("added_delete_files", ()):
                seq = first_seq.setdefault(f, s["sequence_number"])
                live[f] = seq
            for f in s.get("removed_delete_files", ()):
                live.pop(f, None)
        return live

    @staticmethod
    def _file_seqs(meta: TableMeta) -> dict[str, int]:
        """Data file → sequence number of the snapshot that first added
        it (re-adds by rollback keep the original sequence, mirroring
        Iceberg's per-entry data_sequence_number). A collapsed base
        manifest carries its pre-collapse sequences in ``file_seqs``."""
        out: dict[str, int] = {}
        for s in meta.snapshots:
            if s.get("staged"):
                # sequence is assigned at publish time (Iceberg's
                # cherry-pick re-sequences the picked snapshot)
                continue
            for f, seq in s.get("file_seqs", {}).items():
                out.setdefault(f, int(seq))
            for f in s["added_files"]:
                out.setdefault(f, s["sequence_number"])
        return out

    def identifier_fields(self, name: str) -> list[str]:
        meta = self._resolve_dml_target(name)
        return json.loads(meta.properties.get("identifier_fields", "[]"))

    def set_identifier_fields(self, name: str, cols: list[str]) -> None:
        """Iceberg's identifier_field_ids: the row-identity columns
        equality deletes key on (a natural/primary key)."""
        name = self._resolve_dml_target(name).name
        with self._table_lock(name):
            meta = self._read_meta(name)
            names = {f.name for f in meta.schema.fields}
            for c in cols:
                if c not in names:
                    raise ValueError(f"Identifier column '{c}' not in schema")
            meta.properties["identifier_fields"] = json.dumps(list(cols))
            self._write_meta(meta)

    _WRITE_MODE_KEYS = ("write.delete.mode", "write.update.mode", "write.merge.mode")

    @classmethod
    def validate_properties(cls, props: dict[str, str] | None) -> dict[str, str]:
        """Everything a table property write checks, callable WITHOUT
        side effects (CREATE OR REPLACE checks before it drops): each
        ``write.{delete,update,merge}.mode`` must be 'copy-on-write' or
        'merge-on-read' — any other spelling would silently run
        copy-on-write."""
        props = dict(props or {})
        for key in cls._WRITE_MODE_KEYS:
            if key in props and props[key] not in ("copy-on-write", "merge-on-read"):
                raise ValueError(
                    f"Unknown {key} '{props[key]}': expected 'copy-on-write' "
                    "or 'merge-on-read'"
                )
        return props

    def set_properties(self, name: str, props: dict[str, str]) -> None:
        """ALTER TABLE … SET TBLPROPERTIES: validate every value first
        (``validate_properties``), then write them in one metadata
        update — a rejected value leaves the table unchanged."""
        props = self.validate_properties(props)
        name = self._resolve_dml_target(name).name
        with self._table_lock(name):
            meta = self._read_meta(name)
            meta.properties.update(props)
            self._write_meta(meta)

    def set_delete_mode(self, name: str, mode: str) -> None:
        """write.delete.mode: 'copy-on-write' (default) or
        'merge-on-read'. With identifier fields MoR writes EQUALITY
        delete files (content=2, key tuples); without them it writes
        POSITIONAL delete files (content=1, (file_path, pos) rows) —
        the spec's two row-level delete kinds."""
        self.set_properties(name, {"write.delete.mode": mode})

    def _apply_equality_deletes(
        self, meta: TableMeta, df: DataFrame, del_map: dict[str, int]
    ) -> DataFrame:
        """Subtract equality-delete rows: anti-join on the identifier
        columns with the sequence guard del_seq > data_seq. The delete
        side is key tuples only — small — so it broadcasts; the data
        scan is never shuffled by the subtraction."""
        keys = json.loads(meta.properties.get("identifier_fields", "[]"))
        by_seq: dict[int, list[str]] = {}
        for f, s in del_map.items():
            by_seq.setdefault(s, []).append(f)
        ddir = self.delete_dir(meta.name)
        parts = []
        for seq, files in sorted(by_seq.items()):
            raw = self.spark.read.parquet(*(os.path.join(ddir, f) for f in files))
            # renames committed after the delete file was written: the
            # stored key columns resolve through the same rename log as
            # data files
            for old, new in meta.renames:
                if old in raw.columns and new not in raw.columns:
                    raw = raw.withColumnRenamed(old, new)
            parts.append(
                raw.select(*keys).withColumn("__del_seq", F.lit(int(seq)))
            )
        dels = parts[0]
        for p in parts[1:]:
            dels = dels.unionByName(p)
        d = dels.alias("__dels")
        t = df.alias("__tgt")
        cond = F.col("__dels.__del_seq") > F.col("__tgt.__seq")
        for k in keys:
            cond = cond & F.col(f"__tgt.{k}").eqNullSafe(F.col(f"__dels.{k}"))
        return t.join(F.broadcast(d), cond, "left_anti").drop("__seq")

    # a claim older than this with no metadata written at its sequence
    # was abandoned by a crashed committer and may be reclaimed; no
    # healthy commit's read→claim window approaches this
    _CLAIM_STALE_S = 300.0

    def _claim_version(self, name: str, seq: int) -> tuple[str, str]:
        """Acquire the O_EXCL metadata-version claim for ``seq``
        (Iceberg HadoopTableOperations): even without the flock
        (separate hosts on shared storage), two processes committing
        from the same base cannot both win — the second O_EXCL create
        fails and surfaces as a retryable claim race. A claim left by a
        committer that CRASHED after claiming but before writing
        metadata (we know none was written: seq was computed as
        last+1 from a fresh read) is reclaimed once it is older than
        ``_CLAIM_STALE_S`` — without this, every retry from the
        unchanged base recomputes the same seq and conflicts forever
        (ADVICE r9). Reclaim goes through RENAME, not unlink: exactly
        one reclaimer wins the move, so a racer acting on a stale stat
        can never delete a competitor's freshly re-created claim
        (stat→unlink TOCTOU). The claim body carries an owner TOKEN;
        ``_verify_claim`` re-checks it immediately before the metadata
        write, so even a claim stolen from a still-running (but
        slower-than-the-staleness-bound) committer aborts that
        committer retryably instead of losing a commit."""
        claim = os.path.join(self._meta_dir, f".{name}.commit-{seq}")
        token = f"{os.getpid()}-{id(self)}-{time.monotonic_ns()}"
        for _ in range(2):
            try:
                fd = os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                try:
                    os.write(fd, token.encode())
                finally:
                    os.close(fd)
                return claim, token
            except FileExistsError:
                try:
                    age = time.time() - os.stat(claim).st_mtime
                except FileNotFoundError:
                    continue  # holder vanished between open and stat: retry
                if age <= self._CLAIM_STALE_S:
                    break  # live competing claim — a genuine race
                tomb = f"{claim}.reclaimed-{token}"
                try:
                    os.rename(claim, tomb)  # abandoned: one winner reclaims
                except OSError:
                    continue  # another reclaimer won the rename; retry create
                try:
                    os.unlink(tomb)
                except FileNotFoundError:
                    pass
        raise _CommitClaimRace(
            f"Concurrent commit already claimed version {seq} of "
            f"'{name}' — refresh and retry"
        )

    @staticmethod
    def _verify_claim(claim: str, token: str) -> None:
        """The last gate before the metadata write: the claim file must
        still exist and still carry OUR token — a reclaimer that stole
        it (this committer outlived the staleness bound mid-commit)
        owns the version now, so we abort retryably rather than write
        over its commit."""
        try:
            with open(claim, "r") as f:
                held = f.read()
        except FileNotFoundError:
            held = None
        if held != token:
            raise _CommitClaimRace(
                f"Version claim {os.path.basename(claim)} was reclaimed "
                "mid-commit — refresh and retry"
            )

    def _commit_snapshot(
        self,
        meta: TableMeta,
        operation: str,
        added: set[str],
        *args,
        **kwargs,
    ) -> None:
        """Optimistic commit with bounded auto-retry (Iceberg's
        ``commit.retry.num-retries``, default 4): each attempt re-reads
        the on-disk metadata and revalidates, so a commit that only
        lost the version-claim race — e.g. two concurrent appends,
        which can never truly conflict — succeeds on a later attempt
        without caller-side re-planning. Genuine conflicts (planned
        files no longer live) raise immediately: only re-planning can
        fix those."""
        retries = int(meta.properties.get("commit.retry.num-retries", "4"))
        for attempt in range(retries + 1):
            try:
                return self._commit_snapshot_attempt(
                    meta, operation, added, *args, **kwargs
                )
            except _CommitClaimRace:
                if attempt == retries:
                    raise
                # brief backoff: the competing claim holder needs time
                # to finish writing its metadata before our re-read
                time.sleep(min(0.05 * (2 ** attempt), 0.5))

    def _commit_snapshot_attempt(
        self,
        meta: TableMeta,
        operation: str,
        added: set[str],
        removed: set[str] | None = None,
        txn: tuple[str, int] | None = None,
        added_deletes: set[str] | None = None,
        removed_deletes: set[str] | None = None,
        equality_ids: list[str] | None = None,
        staged: bool = False,
        delete_kinds: dict[str, str] | None = None,
        delete_refs: dict[str, list[str]] | None = None,
        wap_id: str | None = None,
    ) -> None:
        """One optimistic-commit attempt: re-read the on-disk metadata
        so a concurrent committer's snapshots are not clobbered, then
        append ours with the next sequence number (Iceberg's
        commit-by-swapping-metadata, linearized per table). ``txn``
        stamps the snapshot with a (source_id, batch_id) pair — the
        exactly-once hook streaming sinks key their idempotence on."""
        if os.path.exists(self._meta_path(meta.name)):
            meta = self._read_meta(meta.name)
        seq = meta.snapshots[-1]["sequence_number"] + 1 if meta.snapshots else 1
        # optimistic-concurrency validation (Iceberg's
        # validateDataFilesExist): every file this commit removes, and
        # every data file its positional deletes reference, must still
        # be live in the re-read metadata — otherwise a concurrent
        # commit rewrote them between our scan planning and now, and
        # applying ours would silently lose its effects. Validated
        # against the POST-commit live set so rollback's re-adds count.
        # (rollback re-adds historical delete files whose refs may
        # legitimately point at files a later commit rewrote while the
        # delete file stayed live — exempt from ref validation)
        check_refs = delete_refs if operation != "rollback" else None
        if removed or check_refs:
            cur_live = self._live_files(meta)
            gone = set(removed or ()) - cur_live
            post = (cur_live | set(added)) - set(removed or ())
            ref_gone = {
                r for refs in (check_refs or {}).values() for r in refs
            } - post
            if gone or ref_gone:
                raise CommitConflictError(
                    f"Commit to '{meta.name}' conflicts with a concurrent "
                    f"commit: {sorted(gone or ref_gone)[:4]} no longer live "
                    "— re-plan against the refreshed table state and retry"
                )
        if removed_deletes:
            cur_dels = set(self._live_delete_files(meta))
            dgone = set(removed_deletes) - cur_dels
            if dgone:
                raise CommitConflictError(
                    f"Commit to '{meta.name}' conflicts with a concurrent "
                    f"commit: delete files {sorted(dgone)[:4]} no longer live"
                )
        claim, claim_token = self._claim_version(meta.name, seq)
        try:
            # Post-claim revalidation (ADVICE r10): winning the claim —
            # in particular winning a RECLAIM of a >stale-bound claim —
            # proves nothing about the metadata. A slow holder may have
            # passed ITS _verify_claim and written metadata at this
            # sequence just before our rename stole the claim file; our
            # meta object (and the seq derived from it) would then be
            # stale and _write_meta would overwrite the committed
            # snapshot. Re-read the on-disk metadata under our claim: if
            # any snapshot at or past seq exists, the version is taken —
            # abort retryably so the retry loop recomputes from fresh
            # state. (_verify_claim protects the victim that has NOT yet
            # written; this guard protects the victim that HAS.)
            if os.path.exists(self._meta_path(meta.name)):
                latest = self._read_meta(meta.name)
                if (
                    latest.snapshots
                    and latest.snapshots[-1]["sequence_number"] >= seq
                ):
                    raise _CommitClaimRace(
                        f"Version {seq} of '{meta.name}' was committed by a "
                        "concurrent writer before our claim — refresh and "
                        "retry"
                    )
            self._write_claimed_snapshot(
                meta, seq, operation, added, removed, txn, added_deletes,
                removed_deletes, equality_ids, staged, delete_kinds,
                delete_refs, claim=claim, claim_token=claim_token,
                wap_id=wap_id,
            )
        except BaseException:
            # the commit failed AFTER claiming (footer IOError, ENOSPC,
            # …) and no metadata was written at this seq — release the
            # claim so a retry from the unchanged base can reclaim it
            # immediately instead of conflicting forever (ADVICE r9).
            # Only if the claim is still OURS: a reclaimer may already
            # own this version (never unlink a competitor's claim).
            try:
                with open(claim, "r") as f:
                    still_ours = f.read() == claim_token
            except FileNotFoundError:
                still_ours = False
            if still_ours:
                try:
                    os.unlink(claim)
                except FileNotFoundError:
                    pass
            raise

    def _write_claimed_snapshot(
        self,
        meta: TableMeta,
        seq: int,
        operation: str,
        added: set[str],
        removed: set[str] | None,
        txn: tuple[str, int] | None,
        added_deletes: set[str] | None,
        removed_deletes: set[str] | None,
        equality_ids: list[str] | None,
        staged: bool,
        delete_kinds: dict[str, str] | None,
        delete_refs: dict[str, list[str]] | None,
        claim: str | None = None,
        claim_token: str | None = None,
        wap_id: str | None = None,
    ) -> None:
        import pyarrow.parquet as pq

        data = self.data_dir(meta.name)
        # commit summary (Iceberg's snapshot summary): row counts of
        # the added files from their footers — bounded by file count,
        # no data I/O — kept per partition directory so the metadata
        # mirror can emit the spec's partition summaries
        added_records = 0
        partition_added_records: dict[str, int] = {}
        for f in sorted(added):
            n = pq.ParquetFile(os.path.join(data, f)).metadata.num_rows
            added_records += n
            part = os.path.dirname(f)
            partition_added_records[part] = (
                partition_added_records.get(part, 0) + n
            )
        entry = {
            "snapshot_id": seq,
            "sequence_number": seq,
            "timestamp_ms": int(time.time() * 1000),
            "operation": operation,
            "added_files": sorted(added),
            "removed_files": sorted(removed or ()),
            "added_records": added_records,
            "partition_added_records": partition_added_records,
        }
        if txn is not None:
            entry["source_id"], entry["batch_id"] = txn[0], int(txn[1])
        if added_deletes or removed_deletes:
            entry["added_delete_files"] = sorted(added_deletes or ())
            entry["removed_delete_files"] = sorted(removed_deletes or ())
        if equality_ids:
            entry["equality_ids"] = list(equality_ids)
        # delete-file kind (content=1 positional / content=2 equality)
        # and the data files a positional delete references, recorded
        # IN the committing snapshot (ADVICE r8: schema-sniffed kinds
        # misclassify an equality-delete table whose identifier fields
        # are literally named file_path/pos; refs let scans prune the
        # delete application to intersecting data files)
        if delete_kinds:
            entry["delete_kinds"] = {f: delete_kinds[f] for f in sorted(delete_kinds)}
        if delete_refs:
            entry["delete_refs"] = {
                f: sorted(delete_refs[f]) for f in sorted(delete_refs)
            }
        if staged:
            entry["staged"] = True
            if wap_id is not None:
                # Iceberg stamps spark.wap.id into the staged snapshot's
                # summary; publish_changes finds it by this tag
                entry["wap_id"] = str(wap_id)
        # record the spec the added files were written under (partition
        # evolution: reads group files by spec)
        entry["partition_by"] = list(meta.partition_by)
        if claim is not None and claim_token is not None:
            # last gate: if a reclaimer stole this version's claim while
            # the footer reads ran, abort retryably instead of writing
            # over its commit.
            #
            # Residual TOCTOU (ADVICE r11, documented by design): between
            # this verify and the _write_meta below, a reclaimer that
            # steals a >stale-bound claim can still land a commit at the
            # same sequence around ours — POSIX rename gives atomic
            # replace, not compare-and-swap, so no ordering of
            # file-system primitives closes the window entirely. This is
            # exactly Iceberg's HadoopTableOperations caveat (its javadoc
            # warns concurrent commits through the Hadoop catalog can
            # both "succeed"); the production answer there and here is a
            # catalog with an atomic CAS — the reference uses Glue
            # (producer_iceberg_datalake_setup.sh), whose UpdateTable is
            # conditional. The stale bound makes the window reachable
            # only by a writer that stalled mid-commit for the full
            # reclaim timeout; the revalidation above plus this verify
            # shrink it to microseconds on top of that.
            self._verify_claim(claim, claim_token)
        meta.snapshots.append(entry)
        self._write_meta(meta)

    def last_committed_batch(self, name: str, source_id: str) -> int | None:
        """Highest batch_id a given streaming source has committed into
        this table, or None — the replay fence for exactly-once
        ingestion (Iceberg/Delta's txn-id pattern: the sink skips any
        micro-batch at or below this watermark)."""
        best = None
        for s in self._read_meta(name).snapshots:
            if s.get("source_id") == source_id:
                b = s["batch_id"]
                best = b if best is None or b > best else best
        return best

    # --------------------------------------------------------------- DML
    def insert_into(
        self,
        name: str,
        df: DataFrame,
        txn: tuple[str, int] | None = None,
        staged: bool = False,
        wap_id: str | None = None,
    ) -> bool | int:
        """D2: INSERT INTO — schema-on-write append, partition fan-out.
        Every append commits a new snapshot whose manifest lists the
        files it added, enabling read-at-snapshot / time travel.

        ``txn=(source_id, batch_id)`` makes the append idempotent: a
        batch at or below the source's committed watermark is skipped
        (returns False) — the exactly-once contract for streaming
        foreachBatch sinks replaying after failure.

        ``staged=True`` is the write-audit-publish path (Iceberg's WAP):
        the data is written and committed as a snapshot that is
        INVISIBLE to normal reads; the returned snapshot id can be
        audited with ``read_table(snapshot_id=…)`` and made live with
        ``publish_snapshot`` (cherry-pick) or abandoned (expiry reclaims
        it).

        Writes through a resource link land in the LINKED table (Glue
        resource links are write-through); reads delegate the same way,
        so link and target always agree."""
        meta = self._resolve_dml_target(name)
        name = meta.name
        schema = meta.schema
        missing = [f.name for f in schema.fields if f.name not in df.columns]
        if missing:
            raise SchemaMismatchError(f"Insert into '{name}' missing columns {missing}")
        # lock spans fence-check → write → commit so the added-file
        # diff can't absorb a concurrent writer's files and the replay
        # fence can't be passed twice
        with self._table_lock(name):
            if txn is not None:
                fence = self.last_committed_batch(name, txn[0])
                if fence is not None and int(txn[1]) <= fence:
                    return False
            added = self._write_data(meta, df)
            if wap_id is not None:
                # a wap-tagged write is staged by definition (Iceberg:
                # spark.wap.id set → the commit stages)
                staged = True
            self._commit_snapshot(
                meta,
                "append",
                added,
                txn=txn,
                staged=staged,
                wap_id=wap_id,
            )
            if staged:
                return self._read_meta(name).snapshots[-1]["snapshot_id"]
        return True

    def insert_values(self, name: str, rows: list[tuple]) -> None:
        """D2 literal form: INSERT INTO t VALUES (…), (…)."""
        meta = self._read_meta(name)
        df = self.spark.createDataFrame(rows, schema=meta.schema)
        self.insert_into(name, df)

    def insert_overwrite(
        self, name: str, df: DataFrame, dynamic: bool = True
    ) -> dict:
        """INSERT OVERWRITE: replace instead of append.

        ``dynamic=True`` is Iceberg's / Spark's dynamic partition
        overwrite (`partitionOverwriteMode=dynamic`): only the
        partitions present in the incoming frame are replaced; all
        other partitions are untouched and shared with the previous
        snapshot. ``dynamic=False`` (static) replaces the whole table.
        On an unpartitioned table both modes replace everything.

        The dynamic path replaces partitions LOGICALLY — the touched
        partition-value tuples become a predicate over the table's
        rows (same transform expressions the write path uses), and the
        CoW machinery rewrites exactly the files containing matches.
        That stays correct across partition-spec evolution: a legacy
        file from an older spec that straddles a replaced partition is
        rewritten keeping only its other-partition rows, where a
        directory-layout diff would silently leave stale duplicates.
        Cost is the incoming data plus matched files, never a rescan;
        the commit swaps everything atomically at the snapshot level."""
        meta = self._resolve_dml_target(name)
        name = meta.name
        schema = meta.schema
        missing = [f.name for f in schema.fields if f.name not in df.columns]
        if missing:
            raise SchemaMismatchError(
                f"Insert overwrite '{name}' missing columns {missing}"
            )
        spec = parse_partition_spec(meta.partition_by)
        if dynamic and spec:
            aligned = df.selectExpr(*cast_projection(schema.fields))
            types = {f.name: f.dataType.simpleString() for f in schema.fields}
            tcols = [
                (
                    pf,
                    F.col(pf.source)
                    if pf.kind == "identity"
                    else _transform_column(pf, types[pf.source]),
                )
                for pf in spec
            ]
            # partition tuples the incoming frame touches — bounded
            # collect (number of replaced partitions, metadata-sized)
            pvals = (
                aligned.select(*[tc.alias(pf.name) for pf, tc in tcols])
                .distinct()
                .collect()  # scale-ok: distinct replaced partition tuples, metadata-sized
            )
            pred = None
            for r in pvals:
                clause = None
                for pf, tc in tcols:
                    eq = tc.eqNullSafe(F.lit(r[pf.name]))
                    clause = eq if clause is None else (clause & eq)
                pred = clause if pred is None else (pred | clause)
            scan = self._scan_live(meta, with_file=True)
            kept = None
            affected: set[str] = set()
            if scan is not None and pred is not None:
                files = scan.filter(pred).selectExpr(
                    f"collect_set({self._FILE_REF}) AS files"
                ).collect()[0]["files"]  # scale-ok: 1-row commit-planning aggregate
                uris = [f.uri for f in files]
                affected = {f.rel for f in files}
                if affected:
                    kept = (
                        scan.filter(F.col("__file_path").isin(uris))
                        .filter(~F.coalesce(pred, F.lit(False)))
                        .drop("__file_path")
                    )
            rewritten = aligned if kept is None else kept.unionByName(aligned)
            added, _ = self._rewrite_files(meta, rewritten, "overwrite", affected)
            return {
                "added_files": len(added),
                "replaced_files": len(affected),
                "replaced_partitions": len(pvals),
            }

        # static, or unpartitioned table: full replace
        with self._table_lock(name):
            # re-read under the lock (matching truncate_table): a commit
            # landing between the earlier meta read and lock acquisition
            # must have its files in `removed`, or a "replace everything"
            # overwrite silently keeps the concurrent batch's rows
            meta = self._read_meta(name)
            removed = set(self._live_files(meta))
            added = self._write_data(meta, df)
            self._commit_snapshot(
                meta,
                "overwrite",
                added,
                removed,
                removed_deletes=set(self._live_delete_files(meta)),
            )
        return {
            "added_files": len(added),
            "replaced_files": len(removed),
            "replaced_partitions": len({os.path.dirname(f) for f in removed}),
        }

    def truncate_table(self, name: str) -> dict:
        """TRUNCATE TABLE: metadata-only commit retiring every live
        data (and delete) file — no data is read or rewritten, and
        history stays time-travelable until expiry (Iceberg truncate
        semantics)."""
        meta = self._resolve_dml_target(name)
        with self._table_lock(meta.name):
            meta = self._read_meta(meta.name)  # re-read under the lock
            live = self._live_files(meta)
            dels = set(self._live_delete_files(meta))
            self._commit_snapshot(
                meta, "truncate", set(), live, removed_deletes=dels
            )
        return {"removed_files": len(live)}

    # -------------------------------------------- row-level DML (CoW)
    # Copy-on-write at file granularity, Iceberg's default write.mode:
    # one scan finds the data files containing matches (predicate pushed
    # to the parquet reader, partition pruning from the directory
    # layout), only those files are rewritten, and the commit swaps them
    # in the manifest — untouched files are shared between snapshots.
    # At 100 TB the rewrite cost is proportional to the matched file
    # set, not the table.

    def _resolve_dml_target(self, name: str) -> TableMeta:
        meta = self._read_meta(name)
        return self._read_meta(meta.link_to) if meta.link_to is not None else meta

    @staticmethod
    def _aliased(scan: DataFrame | None, alias: str | None) -> DataFrame | None:
        """A DML scan under the statement's target alias (``t AS x``)."""
        return scan.alias(alias) if scan is not None and alias else scan

    def _rewrite_files(
        self,
        meta: TableMeta,
        rewritten: DataFrame | None,
        operation: str,
        removed: set[str],
        removed_deletes: set[str] | None = None,
        txn: tuple[str, int] | None = None,
        empty_guard=None,
        order: list | None = None,
        distribute: bool = True,
        position_deletes: tuple[DataFrame, set[str]] | None = None,
    ) -> tuple[set[str], set[str]]:
        """Append the rewritten rows as new data files and commit a
        snapshot that removes the old files from the live set; returns
        the added (data files, delete files). ``order`` and
        ``distribute`` pass through to ``_write_data``.
        ``position_deletes`` — (rows, data files they reference) — are
        written by ``_write_position_deletes`` under the same lock and
        commit in the same snapshot (merge-on-read row-level writes).

        ``empty_guard``: an ``Observation`` counting the written rows
        (metric 'n'). When the statement removes and deletes nothing
        and the guard reports zero rows written — a MERGE that only
        inserted, and inserted nothing — the write's 0-row debris is
        unlinked and NO snapshot commits, preserving the statement's
        historical no-op semantics without a separate pre-count job."""
        with self._table_lock(meta.name):
            deletes = (
                {}
                if position_deletes is None
                else self._write_position_deletes(meta, *position_deletes)
            )
            added = (
                set()
                if rewritten is None
                else self._write_data(meta, rewritten, order, distribute)
            )
            if (
                empty_guard is not None
                and not removed
                and not removed_deletes
                and not deletes
                and int(empty_guard.get["n"]) == 0
            ):
                for f in added:
                    os.remove(os.path.join(self.data_dir(meta.name), f))
                return set(), set()
            self._commit_snapshot(
                meta, operation, added, removed,
                removed_deletes=removed_deletes, txn=txn, **deletes,
            )
        return added, deletes.get("added_deletes", set())

    def _write_position_deletes(
        self, meta: TableMeta, rows: DataFrame, refs: set[str]
    ) -> dict:
        """Append ``rows`` — (file_path, pos) pairs — as positional
        delete files (Iceberg content=1; columns named per the spec's
        reserved fields 2147483546/2147483545), deduplicated and sorted
        by (file_path, pos) as the spec asks. Returns the commit
        arguments: the added files, their kind, and the data files
        ``refs`` they reference (a scan skips a delete file whose refs
        miss every file it reads). The caller holds the table lock, so
        the delete-dir diff sees this write only."""
        ddir = self.delete_dir(meta.name)
        os.makedirs(ddir, exist_ok=True)
        before = self._delete_files_on_disk(meta.name)
        rows = rows.dropDuplicates(["file_path", "pos"])
        rows.sortWithinPartitions("file_path", "pos").write.mode("append").parquet(ddir)
        added = self._delete_files_on_disk(meta.name) - before
        refs = sorted(refs)
        return {
            "added_deletes": added,
            "delete_kinds": {f: "positional" for f in added},
            "delete_refs": {f: refs for f in added},
        }

    @staticmethod
    def _predicate(condition) -> F.Column:
        """A DELETE/UPDATE WHERE: SQL text, a Column, or None (all rows)."""
        if condition is None:
            return F.lit(True)
        return F.expr(condition) if isinstance(condition, str) else condition

    def delete_from(self, name: str, condition=None, alias: str | None = None) -> dict:
        """DELETE FROM name [AS alias] [WHERE condition]. Rows where the
        predicate is NULL are kept (SQL three-valued semantics). The
        condition sees the table's rows under ``alias`` (``x.k``, also
        from a correlated subquery).

        A row-level write (``_row_level_write``) of one WHEN MATCHED
        THEN DELETE clause, the WHERE being the match. Copy-on-write
        (default) rewrites only the files holding a matched row,
        without it: ``{"deleted_rows", "rewritten_files"}``. With
        ``write.delete.mode=merge-on-read`` no data file is rewritten:
        the matched rows become one positional delete file, or, on a
        table with identifier fields, an equality delete file of their
        keys (``_delete_equality``): ``{"deleted_rows",
        "delete_files", "mode"}``."""
        meta = self._resolve_dml_target(name)
        cond = self._predicate(condition)
        mor = meta.properties.get("write.delete.mode") == "merge-on-read"
        keys = json.loads(meta.properties.get("identifier_fields", "[]"))
        if mor and keys:
            return self._delete_equality(meta, cond, alias, keys)
        stats = self._row_level_write(
            meta, "delete", mor, cond, [{"action": "delete"}], target_alias=alias
        )
        del stats["updated_rows"], stats["inserted_rows"]
        return stats

    def _delete_equality(
        self, meta: TableMeta, cond, alias: str | None, keys: list[str]
    ) -> dict:
        """Merge-on-read DELETE on a table with identifier fields: write
        the matched rows' identifier-column tuples as an equality delete
        file and commit — no data file is rewritten. The scan already
        subtracts previously-committed deletes, so re-deleting the same
        rows is a no-op commit. Cost at 100 TB: one pruned scan to find
        the keys + a keys-only write, vs CoW's rewrite of every file
        containing a match."""
        scan = self._aliased(self._scan_live(meta, with_file=True), alias)
        if scan is None:
            return {"deleted_rows": 0, "delete_files": 0, "mode": "merge-on-read"}
        hit = F.coalesce(cond, F.lit(False))
        matched = (
            scan.filter(hit)
            .select(*keys, F.col("__file_path"))
            .localCheckpoint(eager=False)
        )
        # one job: match count + the data files the matched rows live in
        # (the stand-in for the partition/column bounds Iceberg records
        # per equality-delete file — used by scans to skip delete files
        # disjoint from the read file set, and by maintenance to drop
        # dangling ones). Sound because identifier_fields declare row
        # identity: the files holding the matched keys ARE the files
        # this delete can affect (later-sequence files are excluded by
        # the application's seq guard regardless).
        row = matched.agg(
            F.count(F.lit(1)).alias("n"),
            F.collect_set(F.expr(self._rel_sql("__file_path"))).alias("refs"),
        ).collect()[0]  # scale-ok: 1-row commit-planning aggregate
        n, refs = int(row["n"]), sorted(row["refs"])
        if n == 0:
            return {"deleted_rows": 0, "delete_files": 0, "mode": "merge-on-read"}
        ddir = self.delete_dir(meta.name)
        os.makedirs(ddir, exist_ok=True)
        with self._table_lock(meta.name):
            before = self._delete_files_on_disk(meta.name)
            # key tuples are tiny relative to the data; one file per
            # non-empty task is fine (Iceberg writes per-task delete
            # files too)
            matched.drop("__file_path").dropDuplicates(keys).write.mode(
                "append"
            ).parquet(ddir)
            added = self._delete_files_on_disk(meta.name) - before
            self._commit_snapshot(
                meta,
                "delete",
                added=set(),
                added_deletes=added,
                equality_ids=keys,
                delete_kinds={f: "equality" for f in added},
                delete_refs={f: refs for f in added},
            )
        return {"deleted_rows": n, "delete_files": len(added), "mode": "merge-on-read"}

    @staticmethod
    def _rel_sql(col: str) -> str:
        """SQL for the data-relative name of a file, as the snapshot log
        records it, from a file-path column: Spark's
        ``_metadata.file_path`` or a positional delete's ``file_path``
        (the same URI). It is the join key of a positional-delete
        application (absolute URIs go stale when rename_table moves the
        directory; the rel path does not), and the name of every file a
        row-level write removes or a delete file references. The URI is
        percent-encoded (a space is %20, a partition value's escaped
        %25 is %2525) and keeps ``+`` as is, so ``+`` is escaped before
        ``url_decode``, which would read it as a space."""
        return f"url_decode(replace(substring_index({col}, '/data/', -1), '+', '%2B'))"

    # a scanned row's file: ``uri`` for a rewrite's membership filter
    # (echoed verbatim: file:/ vs file:/// must not be rebuilt), ``rel``
    # for the snapshot log
    _FILE_REF = f"named_struct('uri', __file_path, 'rel', {_rel_sql('__file_path')})"

    @staticmethod
    def _delete_kinds_from_meta(meta: TableMeta) -> dict[str, str]:
        """delete file → 'equality' | 'positional', replayed from the
        snapshot log. Precedence per file (first record wins): an
        explicit ``delete_kinds`` map (written by every delete commit
        since round 9, and by the collapsed base manifest), else the
        committing snapshot's equality_ids presence (pre-round-9
        metadata: equality commits always recorded their key columns,
        positional ones never did)."""
        kinds: dict[str, str] = {}
        for s in meta.snapshots:
            for f, k in s.get("delete_kinds", {}).items():
                kinds.setdefault(f, k)
            inferred = "equality" if s.get("equality_ids") else "positional"
            for f in s.get("added_delete_files", ()):
                kinds.setdefault(f, inferred)
        return kinds

    @staticmethod
    def _delete_refs_from_meta(meta: TableMeta) -> dict[str, frozenset]:
        """delete file (either kind) → the set of data-relative paths
        it references (from the committing snapshot's ``delete_refs``:
        exact file list for positional deletes, matched-key file list
        for equality deletes). Files with no recorded refs are absent —
        callers must treat them as may-reference-anything (no
        pruning)."""
        refs: dict[str, frozenset] = {}
        for s in meta.snapshots:
            for f, r in s.get("delete_refs", {}).items():
                refs.setdefault(f, frozenset(r))
        return refs

    def _delete_kind(
        self,
        name: str,
        kinds: dict[str, str],
        f: str,
        cols: set[str] | None = None,
    ) -> str:
        """Kind of one delete file: the snapshot-log map first, else the
        parquet-footer sniff (pre-round-9 collapsed base manifests carry
        no kind map) — a positional delete file has exactly the spec's
        (file_path, pos) columns. Callers that already hold the file's
        schema pass its column names via ``cols`` to avoid a second
        footer read. A vacuumed file that the log never classified
        defaults to 'equality' (nothing left to sniff)."""
        k = kinds.get(f)
        if k is None:
            if cols is None:
                path = os.path.join(self.delete_dir(name), f)
                if not os.path.exists(path):
                    return "equality"
                import pyarrow.parquet as pq

                cols = set(pq.read_schema(path).names)
            k = "positional" if cols == {"file_path", "pos"} else "equality"
        return k

    def _split_delete_kinds(
        self, meta: TableMeta, del_map: dict[str, int]
    ) -> tuple[dict[str, int], dict[str, int]]:
        """(equality, positional) partition of the live delete files.
        Kind comes from snapshot metadata (``_delete_kinds_from_meta``)
        with the footer-sniff fallback (``_delete_kind``).
        Metadata-scale either way."""
        kinds = self._delete_kinds_from_meta(meta)
        eq: dict[str, int] = {}
        pos: dict[str, int] = {}
        for f, seq in del_map.items():
            k = self._delete_kind(meta.name, kinds, f)
            (pos if k == "positional" else eq)[f] = seq
        return eq, pos

    def _read_position_deletes(self, ddir: str, files) -> DataFrame:
        """Positional delete files under ``ddir``, read with their fixed
        spec schema — no inference job."""
        return self.spark.read.schema(_POSITION_DELETE_SCHEMA).parquet(
            *(os.path.join(ddir, f) for f in files)
        )

    def _apply_position_deletes(
        self, meta: TableMeta, df: DataFrame, del_map: dict[str, int]
    ) -> DataFrame:
        """Subtract positionally-deleted rows: anti-join on the
        (data-relative file path, row ordinal) identity with the
        sequence guard del_seq >= data_seq (the spec applies a
        positional delete to files of the same commit or earlier —
        note >= where equality uses >). The delete side is (path, pos)
        tuples only — small — so it broadcasts; the scan is never
        shuffled by the subtraction."""
        ddir = self.delete_dir(meta.name)
        parts = []
        by_seq: dict[int, list[str]] = {}
        for f, s in del_map.items():
            by_seq.setdefault(s, []).append(f)
        for seq, files in sorted(by_seq.items()):
            raw = self._read_position_deletes(ddir, files)
            parts.append(
                raw.select(
                    F.expr(self._rel_sql("file_path")).alias("__d_rel"),
                    F.col("pos").alias("__d_pos"),
                ).withColumn("__del_seq", F.lit(int(seq)))
            )
        dels = parts[0]
        for p in parts[1:]:
            dels = dels.unionByName(p)
        cond = (
            (F.expr(self._rel_sql("__file_path")) == F.col("__d_rel"))
            & (F.col("__pos") == F.col("__d_pos"))
            & (F.col("__del_seq") >= F.col("__seq"))
        )
        return df.join(F.broadcast(dels), cond, "left_anti")

    def update_where(
        self, name: str, assignments: dict, condition=None, alias: str | None = None
    ) -> dict:
        """UPDATE name [AS alias] SET col = expr[, …] [WHERE condition].
        Assignment expressions may reference any column of the row,
        qualified by ``alias`` too (also from a correlated subquery).

        A row-level write (``_row_level_write``) of one WHEN MATCHED
        THEN UPDATE clause, the WHERE being the match. Copy-on-write
        (default) rewrites the files holding a matched row:
        ``{"updated_rows", "rewritten_files"}``. With
        ``write.update.mode=merge-on-read`` (Iceberg's update-mode knob,
        independent of the delete mode) the matched rows become one
        positional delete file plus appended rows carrying the new
        values, in one snapshot; no data file is rewritten:
        ``{"updated_rows", "delete_files", "mode"}``."""
        meta = self._resolve_dml_target(name)
        schema_names = {f.name for f in meta.schema.fields}
        for col in assignments:
            if col not in schema_names:
                raise SchemaMismatchError(f"UPDATE {name}: unknown column '{col}'")
        stats = self._row_level_write(
            meta,
            "update",
            meta.properties.get("write.update.mode") == "merge-on-read",
            self._predicate(condition),
            [{"action": "update", "set": assignments}],
            target_alias=alias,
        )
        del stats["deleted_rows"], stats["inserted_rows"]
        return stats

    # ------------------------------------------------------------- MERGE
    @staticmethod
    def _norm_merge_clauses(
        matched_update,
        matched_delete,
        not_matched_insert,
        matched_clauses,
        not_matched_clauses,
        not_matched_by_source,
    ):
        """Normalize the two MERGE surfaces — the legacy single-clause
        kwargs and the full multi-clause lists — into three validated
        clause lists (matched, not-matched-insert, not-matched-by-
        source), each evaluated FIRST-MATCH-WINS per row, the
        Spark/Iceberg MERGE contract."""
        if matched_clauses is None:
            if matched_update and matched_delete:
                raise ValueError("pass matched_update or matched_delete, not both")
            matched_clauses = []
            if matched_update:
                matched_clauses = [
                    {"action": "update", "set": dict(matched_update), "condition": None}
                ]
            elif matched_delete:
                matched_clauses = [{"action": "delete", "condition": None}]
        elif matched_update or matched_delete:
            raise ValueError(
                "pass matched_clauses OR matched_update/matched_delete, not both"
            )
        if not_matched_clauses is None:
            if not_matched_insert is True:
                not_matched_clauses = [{"condition": None, "values": True}]
            elif not_matched_insert:
                not_matched_clauses = [
                    {"condition": None, "values": dict(not_matched_insert)}
                ]
            else:
                not_matched_clauses = []
        elif not_matched_insert not in (True, None):
            raise ValueError(
                "pass not_matched_clauses OR not_matched_insert, not both"
            )
        not_matched_by_source = list(not_matched_by_source or [])
        for c in list(matched_clauses) + not_matched_by_source:
            if c.get("action") not in ("update", "delete"):
                raise ValueError(f"MERGE clause action must be update|delete: {c}")
            if c["action"] == "update" and not c.get("set"):
                raise ValueError(f"MERGE UPDATE clause needs a set dict: {c}")
        for c in not_matched_clauses:
            if c.get("values") is not True and not c.get("values"):
                raise ValueError(f"MERGE INSERT clause needs values: {c}")
        return list(matched_clauses), list(not_matched_clauses), not_matched_by_source

    @staticmethod
    def _clause_col(clauses, base) -> F.Column:
        """First-match-wins clause selector: an int column holding
        base+i for the first clause whose condition passes, else NULL.
        NULL-valued conditions fail closed (SQL three-valued logic); no
        clause after an unconditional one can fire."""
        expr = None
        for i, c in enumerate(clauses):
            if c.get("condition") is None:
                return F.lit(base + i) if expr is None else expr.otherwise(base + i)
            cond = F.coalesce(F.expr(c["condition"]), F.lit(False))
            expr = F.when(cond, base + i) if expr is None else expr.when(cond, base + i)
        return F.lit(None).cast("int") if expr is None else expr

    @staticmethod
    def _clause_actions(clauses, base) -> tuple[set, set]:
        upd = {base + i for i, c in enumerate(clauses) if c["action"] == "update"}
        dele = {base + i for i, c in enumerate(clauses) if c["action"] == "delete"}
        return upd, dele

    @staticmethod
    def _update_col(clauses, base, clause_col, f, keep_col):
        """The value of column ``f`` after applying whichever UPDATE
        clause fired (clause index base+i), else ``keep_col`` — one
        nested CASE, fully inside codegen."""
        e = None
        for i, c in enumerate(clauses):
            if c["action"] != "update" or f.name not in c["set"]:
                continue
            v = F.expr(c["set"][f.name]).cast(f.dataType)
            cond = clause_col == (base + i)
            e = F.when(cond, v) if e is None else e.when(cond, v)
        return e.otherwise(keep_col) if e is not None else keep_col

    def _updated_cols(self, matched, by_source, fields, ta) -> dict[str, F.Column]:
        """Post-write value of each schema column an UPDATE clause sets,
        over a classified target row: matched UPDATE clauses layer over
        the kept target value (``ta.col``, or ``col`` without an alias),
        by-source UPDATE clauses over that — clause indices are
        disjoint (0.. vs 100..), so exactly one CASE arm fires per
        row."""
        clause = F.col("__clause")
        out = {}
        for f in fields:
            if any(
                c["action"] == "update" and f.name in c["set"]
                for c in (*matched, *by_source)
            ):
                keep = F.col(f"{ta}.{f.name}" if ta else f.name)
                out[f.name] = self._update_col(
                    by_source, 100, clause, f,
                    self._update_col(matched, 0, clause, f, keep),
                )
        return out

    def _insert_frame(
        self, meta: TableMeta, unmatched: DataFrame, clauses, source_cols
    ) -> DataFrame:
        """NOT MATCHED [AND cond] THEN INSERT, first-match-wins: rows
        matching no insert clause are NOT inserted; each clause maps
        target columns from source expressions (values=True → by
        name)."""
        for c in clauses:
            if c["values"] is True:
                missing = [
                    f.name
                    for f in meta.schema.fields
                    if f.name not in source_cols
                ]
                if missing:
                    raise SchemaMismatchError(
                        f"MERGE INTO {meta.name}: INSERT * source missing "
                        f"columns {missing}"
                    )
        picked = unmatched.withColumn(
            "__ic", self._clause_col(clauses, 0)
        ).filter(F.col("__ic").isNotNull())
        cols = []
        for f in meta.schema.fields:
            e = None
            for j, c in enumerate(clauses):
                v = (
                    F.col(f.name)
                    if c["values"] is True
                    else F.expr(c["values"].get(f.name, "NULL"))
                ).cast(f.dataType)
                e = (
                    F.when(F.col("__ic") == j, v)
                    if e is None
                    else e.when(F.col("__ic") == j, v)
                )
            cols.append(e.alias(f.name))
        return picked.select(*cols)

    def frame_of(self, plan) -> DataFrame:
        """A DataFrame of this warehouse's session over a JVM logical plan
        (a parsed relation, or the analyzed plan of a frame built on
        another session of the context)."""
        datasets = self.spark._jvm.org.apache.spark.sql.classic.Dataset
        return DataFrame(datasets.ofRows(self.spark._jsparkSession, plan), self.spark)

    def merge_into(
        self,
        name: str,
        source: DataFrame,
        on: str,
        *,
        matched_update: dict | None = None,
        matched_delete: bool = False,
        not_matched_insert: dict | bool = True,
        matched_clauses: list[dict] | None = None,
        not_matched_clauses: list[dict] | None = None,
        not_matched_by_source: list[dict] | None = None,
        target_alias: str = "t",
        source_alias: str = "s",
        txn: tuple[str, int] | None = None,
    ) -> dict:
        """MERGE INTO name AS t USING source AS s ON <on> — the upsert
        operator (Iceberg's flagship row-level DML), full multi-clause
        form (the reference runtime ships it via the Iceberg Spark
        extensions, consumer_emr_on_eks_setup.sh:440-449):

        - ``matched_clauses``: [{action: 'update'|'delete',
          set: {col: expr over t/s}, condition: str|None}, …] —
          ``WHEN MATCHED [AND cond] THEN …``, first-match-wins per
          matched row; a matched row firing no clause stays unchanged.
        - ``not_matched_clauses``: [{condition: str|None,
          values: True|{col: expr over s}}, …] — ``WHEN NOT MATCHED
          [AND cond] THEN INSERT``; values=True is INSERT * by name.
        - ``not_matched_by_source``: [{action, set, condition}, …] —
          ``WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE/DELETE``
          over target rows with no source match (the SCD close-out
          idiom).

        The legacy single-clause kwargs (``matched_update`` /
        ``matched_delete`` / ``not_matched_insert``) remain as
        shorthand for one-clause lists.

        ``txn=(source_id, batch_id)`` keeps the merge idempotent
        (exactly-once CDC apply): a batch at or below the source's
        committed watermark returns ``{"skipped": True}``.

        A row-level write (``_row_level_write``): ONE join evaluates
        every clause gate, enforces the one-source-row-per-target-row
        cardinality rule and counts per-action rows, grouped by each
        target row's (file, row ordinal) — an inner join without
        by-source clauses, a left join over the whole target with them.
        The source is plan-barriered so it evaluates once.
        Copy-on-write (default) rewrites only the files where some
        clause fired: ``{"updated_rows", "deleted_rows",
        "inserted_rows", "rewritten_files"}``. With
        ``write.merge.mode=merge-on-read`` the firing rows become ONE
        positional delete file plus appended replacements, and no data
        file is rewritten: ``{…, "delete_files", "mode"}``."""
        meta = self._resolve_dml_target(name)
        m_cls, i_cls, s_cls = self._norm_merge_clauses(
            matched_update,
            matched_delete,
            not_matched_insert,
            matched_clauses,
            not_matched_clauses,
            not_matched_by_source,
        )
        if txn is not None:
            fence = self.last_committed_batch(meta.name, txn[0])
            if fence is not None and int(txn[1]) <= fence:
                return {"skipped": True, "batch_id": int(txn[1])}
        if source.sparkSession is not self.spark:
            # re-home a source built on another session of the context:
            # the write job, and the Observation counting its inserts,
            # run on this session, and an Observation whose plan runs
            # elsewhere never receives its metrics and waits forever
            source = self.frame_of(source._jdf.queryExecution().analyzed())
        return self._row_level_write(
            meta,
            "merge",
            meta.properties.get("write.merge.mode") == "merge-on-read",
            on,
            m_cls,
            by_source=s_cls,
            inserts=i_cls,
            source=source,
            target_alias=target_alias,
            source_alias=source_alias,
            txn=txn,
        )

    def _row_level_write(
        self,
        meta: TableMeta,
        operation: str,
        mor: bool,
        on,
        matched: list[dict],
        *,
        by_source: list[dict] = (),
        inserts: list[dict] = (),
        source: DataFrame | None = None,
        target_alias: str | None = None,
        source_alias: str = "s",
        txn: tuple[str, int] | None = None,
    ) -> dict:
        """The one row-level write under DELETE, UPDATE and MERGE: a row
        classifier, one aggregate, then one commit step per write mode
        (Iceberg's ``write.{delete,update,merge}.mode`` picks how a
        change commits, not how it is computed).

        Classifier: the target scan under ``target_alias``, each row
        matched by ``on`` — the MERGE join condition with ``source``,
        or without a source the DELETE/UPDATE WHERE — and tagged with
        ``__clause``: the first firing ``matched`` clause (0..) of a
        matched row, the first firing ``by_source`` clause (100..) of
        an unmatched one, else NULL. Without by-source clauses only a
        matched row can fire, so the classifier keeps the matched rows
        alone (an inner join, or a filter); with them it is a left join
        over the whole target.

        Aggregate, one job: per-action row counts, the files holding a
        firing row, and for MERGE the most source rows one target row
        matched (the cardinality rule) — grouped by the row identity
        (``__file_path``, ``__pos``).

        Commit: copy-on-write re-classifies the rows of the touched
        files and rewrites them without the deleted rows and with the
        updates applied; merge-on-read writes the firing rows'
        positions as one positional delete file and appends only the
        updated rows (they share the delete file's sequence number, but
        a positional delete names (path, ordinal), so they are immune by
        identity, not by sequence). The NOT MATCHED ``inserts`` ride the
        same write, counted by an ``Observation``; a statement that
        changes nothing commits nothing."""
        from pyspark.sql import Observation

        stats = {"updated_rows": 0, "deleted_rows": 0, "inserted_rows": 0}
        if mor:
            stats.update(delete_files=0, mode="merge-on-read")
        else:
            stats["rewritten_files"] = 0
        fires = bool(matched or by_source)
        src = None
        if source is not None:
            source = source.localCheckpoint(eager=False)
            src = source.withColumn("__matched", F.lit(True)).alias(source_alias)
            on = F.expr(on)
            hit = F.coalesce(F.col("__matched"), F.lit(False))
        else:
            hit = F.coalesce(on, F.lit(False))
        # positions name the rows of a delete file and identify a MERGE's
        # target rows
        with_pos = fires and (mor or src is not None)
        scan = self._scan_live(meta, with_file=fires, with_pos=with_pos)
        t = self._aliased(scan, target_alias)
        on_match = self._clause_col(matched, 0)
        clause = F.when(hit, on_match)
        if by_source:
            clause = clause.otherwise(self._clause_col(by_source, 100))

        def classify(target: DataFrame, how: str) -> DataFrame:
            # an inner match keeps matched rows only: their clause needs
            # no gate
            if src is not None:
                rows = target.join(src, on, how)
            else:
                rows = target.filter(on) if how == "inner" else target
            return rows.withColumn("__clause", on_match if how == "inner" else clause)

        m_upd, m_del = self._clause_actions(matched, 0)
        s_upd, s_del = self._clause_actions(by_source, 100)
        upd_idx, del_idx = sorted(m_upd | s_upd), sorted(m_del | s_del)
        # SQL text over the classifier's columns: one py4j call each
        fired = "__clause IS NOT NULL"
        upd_in = f"__clause IN ({', '.join(map(str, upd_idx))})" if upd_idx else "false"
        del_in = f"__clause IN ({', '.join(map(str, del_idx))})" if del_idx else "false"
        affected: set[str] = set()
        rows = dels = None
        if t is not None and fires:
            classified = classify(t, "left" if by_source else "inner")
            if mor:  # read again by the delete and append writes
                classified = classified.localCheckpoint(eager=False)
            per_row, most = classified, []
            if src is not None:
                per_row = classified.groupBy("__file_path", "__pos").agg(
                    F.expr("count(__matched) AS __n"),
                    F.expr("min(__clause) AS __clause"),
                )
                most = ["max(__n) AS max_n"]
            agg = per_row.selectExpr(
                f"collect_set(if({fired}, {self._FILE_REF}, NULL)) AS files",
                f"count_if({upd_in}) AS upd",
                f"count_if({del_in}) AS del",
                *most,
            ).collect()[0]  # scale-ok: 1-row commit-planning aggregate
            if most and (agg["max_n"] or 0) > 1:
                raise MergeCardinalityError(
                    f"MERGE INTO {meta.name}: a target row matched "
                    f"{agg['max_n']} source rows"
                )
            stats["updated_rows"], stats["deleted_rows"] = agg["upd"], agg["del"]
            uris = [f.uri for f in agg["files"]]
            affected = {f.rel for f in agg["files"]}
            if affected and mor:
                dels = classified.filter(fired).selectExpr(
                    "__file_path AS file_path", "__pos AS pos"
                )
                rows = classified.filter(upd_in) if upd_idx else None
            elif affected:
                rows = classify(t.filter(F.col("__file_path").isin(uris)), "left")
                if del_idx:
                    rows = rows.filter(f"NOT coalesce({del_in}, false)")
        out = None
        if rows is not None:
            fields = meta.schema.fields
            new = self._updated_cols(matched, by_source, fields, target_alias)
            if src is None:  # the write projects to the declared schema
                out = rows.withColumns(new) if new else rows
            else:  # the source's columns go: inserts union by name
                out = rows.select(
                    *(
                        new[f.name].alias(f.name)
                        if f.name in new
                        else F.col(f"{target_alias}.{f.name}")
                        for f in fields
                    )
                )
        obs = None
        if inserts:
            unmatched = src.join(t, on, "left_anti") if t is not None else src
            obs = Observation()
            added = self._insert_frame(meta, unmatched, inserts, source.columns).observe(
                obs, F.count(F.lit(1)).alias("n")
            )
            out = added if out is None else out.unionByName(added)
        if out is None and dels is None:
            return stats
        _, added_deletes = self._rewrite_files(
            meta,
            out,
            operation,
            set() if mor else affected,
            txn=txn,
            empty_guard=obs,
            position_deletes=None if dels is None else (dels, affected),
        )
        if obs is not None:
            stats["inserted_rows"] = int(obs.get["n"])
        if mor:
            stats["delete_files"] = len(added_deletes)
        else:
            stats["rewritten_files"] = len(affected)
        return stats

    # -------------------------------------------------------------- scan
    def read_table(
        self,
        name: str,
        snapshot_id: int | None = None,
        as_of_timestamp_ms: int | None = None,
        ref: str | None = None,
        filters: list[tuple] | None = None,
    ) -> DataFrame:
        """S1: cataloged scan, planned from metadata alone like an
        Iceberg scan: the file list comes from the manifest log and the
        reader schema from the table's declared schema and partition
        spec (partition values come from the directory layout, cast to
        their declared or transform type). Planning launches no Spark
        job — no listing, no schema inference; the returned frame reads
        the files only when an action runs. The one exception is a
        table that was ALTERed: its reader schema is the union of the
        data files' footers (``_merged_group_schema``).

        ``snapshot_id`` reads the table as of that snapshot (the union
        of every manifest up to and including it — appends are
        cumulative), mirroring Iceberg's ``VERSION AS OF``;
        ``as_of_timestamp_ms`` picks the last snapshot committed at or
        before that time (``TIMESTAMP AS OF``); a time before the first
        snapshot raises SnapshotNotFoundError, as Iceberg refuses it.

        ``filters`` — [(col, op, literal), …] with op in
        {=, <, <=, >, >=, in} over SOURCE columns — plans the file set
        at the manifest level first (hidden-partitioning pruning:
        day(ts)/bucket(k)/truncate specs prune without the query
        mentioning the partition layout), then applies the exact
        predicate row-level."""
        meta = self._read_meta(name)
        if meta.link_to is not None:
            return self.read_table(
                meta.link_to,
                snapshot_id=snapshot_id,
                as_of_timestamp_ms=as_of_timestamp_ms,
                ref=ref,
                filters=filters,
            )
        if sum(x is not None for x in (snapshot_id, as_of_timestamp_ms, ref)) > 1:
            raise ValueError("pass only one of snapshot_id, as_of_timestamp_ms, ref")
        if ref is not None:
            snapshot_id = self.resolve_ref(name, ref)
        if as_of_timestamp_ms is not None:
            eligible = [
                s["snapshot_id"]
                for s in meta.snapshots
                if s["timestamp_ms"] <= as_of_timestamp_ms
            ]
            if not eligible:
                stamp = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(as_of_timestamp_ms // 1000))
                raise SnapshotNotFoundError(
                    f"Cannot find a snapshot of '{name}' older than "
                    f"{stamp}.{as_of_timestamp_ms % 1000:03d} UTC"
                )
            snapshot_id = eligible[-1]
        if snapshot_id is not None:
            known = {s["snapshot_id"] for s in meta.snapshots}
            if snapshot_id not in known:
                raise SnapshotNotFoundError(
                    f"Table '{name}' has no snapshot {snapshot_id} (known: {sorted(known)})"
                )
        scan = self._scan_live(meta, snapshot_id=snapshot_id, filters=filters)
        if scan is None:
            return self.spark.createDataFrame([], meta.schema)
        if filters:
            scan = scan.filter(self._residual_condition(filters))
        return scan

    def stream_table(
        self, name: str, max_files_per_trigger: int | None = None
    ) -> DataFrame:
        """Structured-streaming read of a warehouse table — the
        engine's equivalent of Iceberg's Spark streaming source
        (SparkMicroBatchStream): an incremental tail where every
        committed append surfaces as a micro-batch. Returns an
        UNBOUNDED DataFrame in the table's logical schema (partition
        values restored from the directory layout, declared types
        re-asserted, engine-managed transform columns dropped).

        Contract — mirrors Iceberg's streaming-read rules: the history
        must be APPEND-ONLY. Overwrite / delete / replace / rollback
        snapshots, merge-on-read delete files, staged (WAP) snapshots,
        and schema evolution all refuse loudly at stream-definition
        time, because a directory tail cannot replay removals or
        resolve renamed physical columns (Iceberg's source likewise
        throws on non-append snapshots unless told to skip them).
        Files that land mid-stream are assumed committed — the same
        assumption Iceberg's file listing makes between refreshes.

        At 100 TB this is the right shape: the source checkpoints seen
        files and each trigger reads only NEW files (bounded by
        ``max_files_per_trigger``), never rescanning history."""
        meta = self._read_meta(name)
        if meta.link_to is not None:
            return self.stream_table(meta.link_to, max_files_per_trigger)
        for s in meta.snapshots:
            if s.get("staged"):
                raise ValueError(
                    f"stream_table('{name}'): snapshot "
                    f"{s['snapshot_id']} is staged (write-audit-publish) "
                    "— a directory tail would surface unpublished rows; "
                    "publish or expire it first"
                )
            if s.get("operation") != "append" or s.get("removed_files"):
                raise ValueError(
                    f"stream_table('{name}'): snapshot "
                    f"{s['snapshot_id']} is '{s.get('operation')}' — "
                    "streaming reads need an append-only history (the "
                    "Iceberg streaming-source contract); use the CDC "
                    "changelog (read_changes / ChangelogTail) for "
                    "tables with row-level rewrites"
                )
            if s.get("added_delete_files"):
                raise ValueError(
                    f"stream_table('{name}'): snapshot "
                    f"{s['snapshot_id']} carries merge-on-read delete "
                    "files — a directory tail cannot apply them; "
                    "compact first or tail the changelog"
                )
        if meta.properties.get("schema_evolved") == "true" or meta.renames:
            raise ValueError(
                f"stream_table('{name}'): the table's schema evolved — "
                "a pinned stream schema cannot resolve renamed/widened "
                "physical columns across old files"
            )
        data = self.data_dir(name)
        os.makedirs(data, exist_ok=True)
        reader = self.spark.readStream.schema(meta.schema)
        if max_files_per_trigger is not None:
            reader = reader.option(
                "maxFilesPerTrigger", int(max_files_per_trigger)
            )
        sdf = reader.parquet(data)
        # partition discovery appends engine-managed transform columns
        # (ts_day, k_bucket, …) and may re-type identity values from
        # directory strings — re-project to the declared logical schema
        return sdf.selectExpr(*cast_projection(meta.schema.fields, set(sdf.columns)))

    # ---------------------------------------- storage-partitioned join
    # The reference's exact runtime pairing (Spark 3.3+ with the Iceberg
    # SparkCatalog, consumer_emr_on_eks_setup.sh:440-449) ships SPJ:
    # a join of two tables bucketed on the join key plans WITHOUT a
    # shuffle — at 100 TB that is the difference between a
    # metadata-planned co-located join and the largest Exchange in the
    # plan. Python exposes no DSv2 hook to report a custom scan's
    # KeyGroupedPartitioning, so the engine expresses the same contract
    # through Spark's native bucketed tables: each bucket[N] warehouse
    # table materializes once per snapshot as a bucketBy(N, key) mirror
    # in the session catalog, and every subsequent join of two mirrors
    # bucketed to the same N is planned by Catalyst as a zero-Exchange
    # SortMergeJoin (asserted in tests/test_spj.py). The mirror write is
    # ONE shuffle, amortized over every later join of that snapshot;
    # re-materialization happens only when the snapshot advances.

    def bucket_layout(self, name: str) -> tuple[str, int] | None:
        """(source_column, N) of the table's ``bucket[N]`` partition
        field, or None — the layout contract storage-partitioned joins
        key on. Resource links report their target's layout."""
        meta = self._read_meta(name)
        if meta.link_to is not None:
            return self.bucket_layout(meta.link_to)
        for pf in parse_partition_spec(meta.partition_by):
            if pf.kind == "bucket":
                return pf.source, pf.param
        return None

    def _mirror_prefix(self, name: str) -> str:
        import hashlib

        root_tag = hashlib.md5(self.root.encode()).hexdigest()[:8]
        return f"__spj_{root_tag}_{name.replace('.', '_')}_v"

    def bucketed_read(self, name: str) -> DataFrame:
        """Read ``name`` through its bucketed session-catalog mirror,
        materializing the mirror for the CURRENT snapshot if absent
        (and dropping mirrors of superseded snapshots). The returned
        scan reports ``Bucketed: true`` — joins and aggregations keyed
        on the bucket column plan without an Exchange."""
        layout = self.bucket_layout(name)
        if layout is None:
            raise ValueError(
                f"Table '{name}' has no bucket[N] partition field — "
                "storage-partitioned reads need one (PARTITIONED BY "
                "bucket(N, key))"
            )
        key, n = layout
        meta = self._read_meta(name)
        if meta.link_to is not None:
            return self.bucketed_read(meta.link_to)
        snap = self.current_snapshot_id(name) or 0
        prefix = self._mirror_prefix(name)
        mirror = f"{prefix}{snap}"
        cat = self.spark.catalog
        if not cat.tableExists(mirror):
            for t in cat.listTables():
                if t.name.startswith(prefix) and t.name != mirror:
                    self.spark.sql(f"DROP TABLE IF EXISTS {t.name}")
            path = os.path.join(
                self.root, "_spj_mirrors", name.replace(".", "__"), str(snap)
            )
            # repartition on the key first: Spark's bucketBy applies the
            # same hashpartitioning expression, so each task then holds
            # exactly one bucket and writes exactly one file — the
            # single-file-per-bucket layout that lets Catalyst keep the
            # mirror's sort order usable and the file count bounded
            (
                self.read_table(name)
                .repartition(n, key)
                .write.format("parquet")
                .bucketBy(n, key)
                .sortBy(key)
                .option("path", path)
                .mode("overwrite")
                .saveAsTable(mirror)
            )
        return self.spark.table(mirror)

    def storage_partitioned_join(
        self, left: str, right: str, how: str = "inner"
    ) -> DataFrame:
        """Join two ``bucket[N]``-partitioned tables on their bucket
        source columns with NO shuffle on either side (the Iceberg SPJ
        contract). Both tables must carry a bucket transform with the
        SAME N; the join condition is equality of the two bucket source
        columns (they may be named differently, e.g. o_custkey =
        c_custkey)."""
        bl, br = self.bucket_layout(left), self.bucket_layout(right)
        if bl is None or br is None:
            missing = left if bl is None else right
            raise ValueError(
                f"storage_partitioned_join: '{missing}' has no bucket[N] "
                "partition field"
            )
        (kl, nl), (kr, nr) = bl, br
        if nl != nr:
            raise ValueError(
                f"storage_partitioned_join: bucket counts differ — "
                f"'{left}' is bucket[{nl}] on {kl}, '{right}' is "
                f"bucket[{nr}] on {kr}; co-located planning needs equal N"
            )
        lm, rm = self.bucketed_read(left), self.bucketed_read(right)
        return lm.join(rm, lm[kl] == rm[kr], how)

    def _file_specs(self, meta: TableMeta) -> dict[str, tuple]:
        """Relative data file → the partition spec it was written under
        (replayed from the snapshot log; pre-evolution entries without a
        recorded spec default to the current one)."""
        current = tuple(meta.partition_by)
        out: dict[str, tuple] = {}
        for s in meta.snapshots:
            spec = tuple(s.get("partition_by", current))
            for f in s["added_files"]:
                out[f] = spec
        return out

    def _write_data(
        self,
        meta: TableMeta,
        df: DataFrame,
        order: list | None = None,
        distribute: bool = True,
    ) -> set[str]:
        """The one data-file write path (caller holds the table lock):
        cast ``df`` to the declared schema, append it, and return the
        relative paths of the added files. Transform partition entries
        add an engine-managed directory column (ts_day, k_bucket, …).
        Partitioned rows are clustered by the directory columns
        (REBALANCE: AQE coalesces small partitions and splits skewed
        ones; ``distribute=False`` keeps the caller's distribution), then
        sorted by them and ``order`` (default: WRITE ORDERED BY) — the
        ordering Spark's planned write needs, so it adds no second sort
        that would scramble ``order``."""
        order = self._write_order(meta) if order is None else order
        df = df.selectExpr(*cast_projection(meta.schema.fields))
        types = {f.name: f.dataType.simpleString() for f in meta.schema.fields}
        part_cols = []
        for pf in parse_partition_spec(meta.partition_by):
            if pf.kind != "identity":
                df = df.withColumn(pf.name, _transform_column(pf, types[pf.source]))
            part_cols.append(pf.name)
        if part_cols and distribute:
            df = df.hint("rebalance", *part_cols)
        if part_cols or order:
            df = df.sortWithinPartitions(*part_cols, *order)
        before = self._data_files(meta.name)
        writer = df.write.mode("append")
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.parquet(self.data_dir(meta.name))
        return self._data_files(meta.name) - before

    # ------------------------------------------------- scan planning
    def _partition_values(self, rel_path: str) -> dict[str, str]:
        """Directory-encoded partition values of a data file."""
        out = {}
        for seg in os.path.dirname(rel_path).split(os.sep):
            if "=" in seg:
                k, _, v = seg.partition("=")
                out[k] = unquote(v)
        return out

    def _bucket_of(self, val, n: int, cache: dict) -> int:
        """Spec bucket of a literal — pure Python (no Spark job),
        the same murmur3_x86_32 the write path applies, so pruning and
        placement always agree."""
        key = (val, n)
        if key not in cache:
            from sample_emr_on_eks_fgac_iceberg_spark.sources.iceberg_bucket import (
                bucket_literal,
            )

            cache[key] = bucket_literal(val, n)
        return cache[key]

    @staticmethod
    def _conservative(fv, t, op, tvals=None) -> bool:
        """May a partition with transformed value ``fv`` contain rows
        matching (op, literal) whose transformed literal is ``t``?
        Transforms are order-preserving but lossy, so range bounds stay
        inclusive (the residual filter finalizes row-level truth)."""
        if op == "=":
            return fv == t
        if op == "in":
            return fv in tvals
        if op in ("<", "<="):
            return fv <= t
        if op in (">", ">="):
            return fv >= t
        return True

    def _may_contain(
        self, pf: PartitionField, pval: str | None, op: str, val,
        dtype: str, bucket_cache: dict,
    ) -> bool:
        if pval is None:
            return True  # file predates this spec field
        if pval == _HIVE_NULL:
            return False  # NULL source never matches =, <, >, IN
        if pf.kind == "identity":
            if dtype in _INT_TYPES:
                fv, t = int(pval), int(val)
            else:
                fv, t = pval, str(val)
            if op == "=":
                return fv == t
            if op == "in":
                return fv in {int(x) if dtype in _INT_TYPES else str(x) for x in val}
            if op == "<":
                return fv < t
            if op == "<=":
                return fv <= t
            if op == ">":
                return fv > t
            if op == ">=":
                return fv >= t
            return True
        if pf.kind == "year":
            tf = lambda v: v.year  # noqa: E731
            fv = int(pval)
        elif pf.kind == "month":
            tf = lambda v: f"{v.year:04d}-{v.month:02d}"  # noqa: E731
            fv = pval
        elif pf.kind == "day":
            tf = lambda v: f"{v.year:04d}-{v.month:02d}-{v.day:02d}"  # noqa: E731
            fv = pval
        elif pf.kind == "hour":
            tf = (  # noqa: E731
                lambda v: f"{v.year:04d}-{v.month:02d}-{v.day:02d}-{v.hour:02d}"
            )
            fv = pval
        elif pf.kind == "truncate":
            if dtype in _INT_TYPES:
                tf = lambda v: int(v) - (int(v) % pf.param)  # noqa: E731
                fv = int(pval)
            else:
                tf = lambda v: str(v)[: pf.param]  # noqa: E731
                fv = pval
        elif pf.kind == "bucket":
            if op == "=":
                return int(pval) == self._bucket_of(val, pf.param, bucket_cache)
            if op == "in":
                return int(pval) in {
                    self._bucket_of(v, pf.param, bucket_cache) for v in val
                }
            return True  # buckets carry no order
        else:
            return True
        if op == "in":
            return self._conservative(fv, None, op, {tf(v) for v in val})
        return self._conservative(fv, tf(val), op)

    def _prune_files(
        self, meta: TableMeta, files: set[str], filters: list[tuple]
    ) -> set[str]:
        """Iceberg-style metadata-time scan planning: convert predicates
        on SOURCE columns into partition-value checks and drop files
        that cannot contain a match. Pure manifest work — cost is
        O(files × filters), zero data I/O; at 100 TB this is what turns
        a full-table scan into a handful of partitions. Files written
        under an older spec (partition evolution) are only pruned by
        the fields that spec actually has."""
        specs = self._file_specs(meta)
        types = {f.name: f.dataType.simpleString() for f in meta.schema.fields}
        parsed: dict[tuple, list[PartitionField]] = {}
        bucket_cache: dict = {}
        kept = set()
        for fpath in files:
            spec = specs.get(fpath, tuple(meta.partition_by))
            if spec not in parsed:
                parsed[spec] = parse_partition_spec(list(spec))
            pvals = self._partition_values(fpath)
            keep = True
            for col, op, val in filters:
                for pf in parsed[spec]:
                    if pf.source != col:
                        continue
                    if not self._may_contain(
                        pf, pvals.get(pf.name), op, val, types.get(col, ""), bucket_cache
                    ):
                        keep = False
                        break
                if not keep:
                    break
            if keep:
                kept.add(fpath)
        return kept

    @staticmethod
    def _residual_condition(filters: list[tuple]):
        """The exact row-level predicate for the pruned scan — pruning
        is conservative, the residual makes it precise."""
        cond = F.lit(True)
        for col, op, val in filters:
            c = F.col(col)
            if op == "=":
                cond = cond & (c == F.lit(val))
            elif op == "<":
                cond = cond & (c < F.lit(val))
            elif op == "<=":
                cond = cond & (c <= F.lit(val))
            elif op == ">":
                cond = cond & (c > F.lit(val))
            elif op == ">=":
                cond = cond & (c >= F.lit(val))
            elif op == "in":
                cond = cond & c.isin(list(val))
            else:
                raise ValueError(f"Unsupported filter op '{op}'")
        return cond

    def _read_files(
        self,
        meta: TableMeta,
        files: set[str] | list[str],
        with_file: bool = False,
        seq_of: dict[str, int] | None = None,
        with_pos: bool = False,
    ) -> DataFrame | None:
        """Manifest-planned read of an explicit file set, resolved
        against the current schema. Files are grouped by the partition
        spec they were written under (partition evolution: each group
        has a consistent directory layout; partition values come from
        the directory for that group's spec and from the file for every
        other column), then the projected groups union by name.
        ``seq_of`` additionally groups by commit sequence and tags rows
        with a ``__seq`` column (only needed when equality deletes are
        live — the sequence guard is per data file).

        Every group is read with an explicit schema taken from metadata
        (``_group_schema``) and the manifest's file list, so planning
        the read launches no Spark job: no schema inference, and no
        distributed listing (``session.PARTITION_DISCOVERY_THRESHOLD``).
        Only an evolved table still reads footers, once per file."""
        if not files:
            return None
        data = self.data_dir(meta.name)
        specs = self._file_specs(meta)
        groups: dict[tuple, list[str]] = {}
        for f in sorted(files):
            spec = specs.get(f, tuple(meta.partition_by))
            key = (spec, seq_of.get(f, 0)) if seq_of is not None else (spec,)
            groups.setdefault(key, []).append(f)
        # (file, row ordinal) identity for positional deletes —
        # Iceberg's (file_path, pos) tuple, via Spark's parquet metadata
        # columns
        with_file = with_file or with_pos
        extra = ("__file_path",) if with_file else ()
        if seq_of is not None:
            extra = extra + ("__seq",)
        if with_pos:
            extra = extra + ("__pos",)
        parts = []
        for key, group_files in groups.items():
            raw = (
                self.spark.read.option("basePath", data)
                .schema(self._group_schema(data, group_files, meta, key[0]))
                .parquet(*(os.path.join(data, f) for f in group_files))
            )
            if with_file:
                raw = raw.withColumn("__file_path", F.col("_metadata.file_path"))
            if seq_of is not None:
                raw = raw.withColumn("__seq", F.lit(int(key[1])))
            if with_pos:
                raw = raw.withColumn("__pos", F.col("_metadata.row_index"))
            parts.append(self._project(raw, meta, extra=extra))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # type-promotion lattice (Iceberg's legal widenings): each key may
    # silently read as any type to its right
    _WIDEN_ORDER = ("tinyint", "smallint", "int", "bigint")  # simpleString names
    _FLOAT_ORDER = ("float", "double")

    @classmethod
    def _widen_pair(cls, a: T.DataType, b: T.DataType) -> T.DataType | None:
        """The narrower-to-wider merge of two field types, or None when
        they are incompatible (caller raises)."""
        if a == b:
            return a
        sa, sb = a.simpleString(), b.simpleString()
        for order in (cls._WIDEN_ORDER, cls._FLOAT_ORDER):
            if sa in order and sb in order:
                return a if order.index(sa) >= order.index(sb) else b
        if isinstance(a, T.DecimalType) and isinstance(b, T.DecimalType):
            if a.scale == b.scale:
                return a if a.precision >= b.precision else b
        return None

    @staticmethod
    def _partition_fields(meta: TableMeta, spec: tuple) -> list[T.StructField]:
        """Reader-schema fields for the directory columns of ``spec``.
        An explicit reader schema suppresses partition-type inference,
        so each dir column gets its declared type (identity) or the type
        its transform produces — Spark casts the directory strings to
        it."""
        declared = {f.name: f.dataType for f in meta.schema.fields}
        out = []
        for pf in parse_partition_spec(list(spec)):
            if pf.kind == "identity":
                dtype = declared.get(pf.source, T.StringType())
            elif pf.kind == "year" or pf.kind == "bucket":
                dtype = T.IntegerType()
            elif pf.kind == "truncate":
                src = declared.get(pf.source, T.StringType())
                dtype = src if src.simpleString() in _INT_TYPES else T.StringType()
            else:  # month/day/hour → date_format strings
                dtype = T.StringType()
            out.append(T.StructField(pf.name, dtype, True))
        return out

    def _group_schema(
        self, data: str, files: list[str], meta: TableMeta, spec: tuple
    ) -> T.StructType:
        """Reader schema of one spec group. Every write path casts to
        the declared schema, so until an ALTER the files hold exactly
        the declared columns minus the spec's directory columns. After
        one (``schema_evolved``), pre-evolution files have a different
        physical schema, so the union of footers is needed
        (``_merged_group_schema``)."""
        if meta.properties.get("schema_evolved") == "true":
            return self._merged_group_schema(data, files, meta, spec)
        dirs = self._partition_fields(meta, spec)
        names = {f.name for f in dirs}
        return T.StructType(
            [f for f in meta.schema.fields if f.name not in names] + dirs
        )

    def _merged_group_schema(
        self, data: str, files: list[str], meta: TableMeta, spec: tuple
    ) -> T.StructType:
        """Union of the group's file footers with numeric widening —
        one footer read per file, the manifest-planning cost an evolved
        table pays (Iceberg keeps the same information in metadata).
        The union is computed here because Spark's own mergeSchema
        refuses int→long, float→double and decimal precision growth,
        while its parquet readers accept an explicitly widened schema
        over narrow files (Spark 4 widening promotion) — the property
        ALTER COLUMN TYPE relies on. Partition-directory columns
        (excluded from footers by partitionBy) are appended from
        ``_partition_fields``."""
        # Parquet part files are immutable once committed (uuid part
        # names; rewrites add new files), so footers cache per path —
        # without this every scan of an evolved table re-reads every
        # footer serially on the driver (round-5 review finding).
        cache = self.__dict__.setdefault("_footer_schema_cache", {})
        merged: dict[str, T.StructField] = {}
        order: list[str] = []
        for f in files:
            path = os.path.join(data, f)
            sch = cache.get(path)
            if sch is None:
                sch = self.spark.read.parquet(path).schema
                cache[path] = sch
            for fld in sch.fields:
                if fld.name not in merged:
                    merged[fld.name] = fld
                    order.append(fld.name)
                    continue
                cur = merged[fld.name]
                wide = self._widen_pair(cur.dataType, fld.dataType)
                if wide is None:
                    raise ValueError(
                        f"Cannot merge column '{fld.name}' types "
                        f"{cur.dataType.simpleString()} and "
                        f"{fld.dataType.simpleString()}"
                    )
                merged[fld.name] = T.StructField(
                    fld.name, wide, cur.nullable or fld.nullable
                )
        for fld in self._partition_fields(meta, spec):
            if fld.name not in merged:
                merged[fld.name] = fld
                order.append(fld.name)
        return T.StructType([merged[n] for n in order])

    def _scan_live(
        self,
        meta: TableMeta,
        snapshot_id: int | None = None,
        with_file: bool = False,
        filters: list[tuple] | None = None,
        with_pos: bool = False,
        restrict_files: set[str] | None = None,
    ) -> DataFrame | None:
        """Scan of the live data files of the requested snapshot minus
        any live equality AND positional deletes, resolved against the
        current schema. ``filters`` prune the file list at the manifest
        level (hidden-partitioning scan planning) — the caller applies
        the residual. ``restrict_files`` intersects the live set with
        an explicit file list (CDC pre-image reads). None for an empty
        set."""
        files = self._live_files(meta, snapshot_id)
        if restrict_files is not None:
            files = files & restrict_files
        if filters:
            files = self._prune_files(meta, files, filters)
        del_map = self._live_delete_files(meta, snapshot_id)
        eq_map, pos_map = (
            self._split_delete_kinds(meta, del_map) if del_map else ({}, {})
        )
        if pos_map or eq_map:
            # scope the delete application (Iceberg scopes delete files
            # to data files via manifest partition/column bounds): a
            # delete file whose recorded refs don't intersect the
            # scanned file set is skipped — under a sustained MoR
            # delete stream the per-scan delete union stays bounded by
            # the files actually read, not by total delete history.
            # Positional refs are exact (the delete names its files);
            # equality refs are the files holding the matched identifier
            # keys at commit time, sound under the identifier-fields
            # row-identity contract. Unknown refs (pre-refs commits)
            # stay conservatively applied.
            refs_map = self._delete_refs_from_meta(meta)

            def _scoped(m: dict[str, int]) -> dict[str, int]:
                return {
                    f: s
                    for f, s in m.items()
                    if f not in refs_map or not refs_map[f].isdisjoint(files)
                }

            pos_map, eq_map = _scoped(pos_map), _scoped(eq_map)
        need_pos = with_pos or bool(pos_map)
        scan = self._read_files(
            meta,
            files,
            with_file=with_file,
            seq_of=self._file_seqs(meta) if del_map else None,
            with_pos=need_pos,
        )
        if scan is None:
            return None
        if pos_map:
            scan = self._apply_position_deletes(meta, scan, pos_map)
        if eq_map:
            scan = self._apply_equality_deletes(meta, scan, eq_map)
        elif del_map:
            scan = scan.drop("__seq")
        if need_pos and not with_pos:
            scan = scan.drop(*(["__pos"] if with_file else ["__file_path", "__pos"]))
        return scan

    def _project(self, df: DataFrame, meta: TableMeta, extra: tuple = ()) -> DataFrame:
        """Resolve a raw scan against the *current* declared schema:
        replay column renames (old files keep old names — Iceberg
        resolves by field id, the engine by a rename log), null-fill
        columns added after a file was written, re-assert declared
        types so DATE/DECIMAL survive the round-trip."""
        for old, new in meta.renames:
            if old in df.columns and new in df.columns:
                # mixed files: each row's value lives in exactly one of
                # the two physical columns (the other is padding-null),
                # so coalesce resolves per row — the engine's stand-in
                # for Iceberg's field-id resolution
                df = df.withColumn(new, F.coalesce(F.col(new), F.col(old))).drop(old)
            elif old in df.columns:
                df = df.withColumnRenamed(old, new)
        return df.selectExpr(
            *cast_projection(meta.schema.fields, set(df.columns)),
            *map(_quote, extra),
        )

    def schema_of(self, name: str) -> T.StructType:
        return self._read_meta(name).schema

    def partition_spec(self, name: str) -> list[str]:
        return self._read_meta(name).partition_by

    # ------------------------------------------- schema evolution (ALTER)
    # Metadata-only, like Iceberg: no data file is touched. Old files
    # are resolved against the current schema at read time (_project):
    # added columns null-fill, dropped columns are ignored, renames
    # replay through the rename log.

    def _write_schema(self, meta: TableMeta, fields: list[T.StructField]) -> None:
        meta.schema_json = json.dumps(T.StructType(fields).jsonValue())
        meta.properties["schema_evolved"] = "true"
        self._write_meta(meta)

    def add_columns(self, name: str, cols: T.StructType | str) -> None:
        """ALTER TABLE name ADD COLUMNS (c type, …) — existing rows read
        back NULL for the new columns."""
        name = self._resolve_dml_target(name).name
        with self._table_lock(name):
            meta = self._read_meta(name)
            if isinstance(cols, str):
                cols = T.StructType.fromDDL(cols)
            fields = list(meta.schema.fields)
            existing = {f.name for f in fields}
            for f in cols.fields:
                if f.name in existing:
                    raise ValueError(f"Column '{f.name}' already exists in '{name}'")
                fields.append(f)
            self._write_schema(meta, fields)

    def drop_column(self, name: str, col: str) -> None:
        """ALTER TABLE name DROP COLUMN col — the physical column stays
        in old files; reads project it away."""
        name = self._resolve_dml_target(name).name
        with self._table_lock(name):
            meta = self._read_meta(name)
            if col in {pf.source for pf in parse_partition_spec(meta.partition_by)}:
                raise ValueError(f"Cannot drop partition column '{col}'")
            if col in json.loads(meta.properties.get("identifier_fields", "[]")):
                raise ValueError(
                    f"Cannot drop identifier column '{col}' (equality deletes key on it)"
                )
            fields = [f for f in meta.schema.fields if f.name != col]
            if len(fields) == len(meta.schema.fields):
                raise ValueError(f"Column '{col}' does not exist in '{name}'")
            self._write_schema(meta, fields)

    def alter_column_type(self, name: str, col: str, new_type: str) -> None:
        """ALTER TABLE name ALTER COLUMN col TYPE t — Iceberg's legal
        type promotions only (int→long, float→double, decimal precision
        growth at fixed scale). Metadata-only: old files keep the
        narrow physical type and widen at read time (the reader schema
        in _merged_group_schema; Spark 4's parquet widening promotion
        does the per-file upcast)."""
        name = self._resolve_dml_target(name).name
        with self._table_lock(name):
            meta = self._read_meta(name)
            fields = {f.name: f for f in meta.schema.fields}
            if col not in fields:
                raise ValueError(f"Column '{col}' does not exist in '{name}'")
            if col in {pf.source for pf in parse_partition_spec(meta.partition_by)}:
                raise ValueError(
                    f"Cannot change the type of partition column '{col}'"
                )
            target = T._parse_datatype_string(new_type)
            cur = fields[col].dataType
            if target == cur:
                return
            if self._widen_pair(cur, target) != target:
                raise ValueError(
                    f"Cannot change column '{col}' from "
                    f"{cur.simpleString()} to {target.simpleString()}: only "
                    "widening promotions (int->long, float->double, "
                    "decimal precision growth) are allowed"
                )
            new_fields = [
                T.StructField(col, target, f.nullable) if f.name == col else f
                for f in meta.schema.fields
            ]
            self._write_schema(meta, new_fields)

    def rename_column(self, name: str, old: str, new: str) -> None:
        """ALTER TABLE name RENAME COLUMN old TO new — recorded in the
        rename log; old files keep the old physical name and resolve per
        row at read time."""
        name = self._resolve_dml_target(name).name
        with self._table_lock(name):
            meta = self._read_meta(name)
            if old in {pf.source for pf in parse_partition_spec(meta.partition_by)}:
                raise ValueError(f"Cannot rename partition column '{old}'")
            names = [f.name for f in meta.schema.fields]
            if old not in names:
                raise ValueError(f"Column '{old}' does not exist in '{name}'")
            if new in names:
                raise ValueError(f"Column '{new}' already exists in '{name}'")
            fields = [
                T.StructField(new, f.dataType, f.nullable) if f.name == old else f
                for f in meta.schema.fields
            ]
            meta.renames.append([old, new])
            # identifier fields follow the rename (Iceberg keys them by
            # field ID, so a rename follows automatically; this name-
            # based mirror must rewrite) — otherwise a MoR table whose
            # key column is renamed breaks its own delete-apply scan
            id_cols = json.loads(meta.properties.get("identifier_fields", "[]"))
            if old in id_cols:
                meta.properties["identifier_fields"] = json.dumps(
                    [new if c == old else c for c in id_cols]
                )
            self._write_schema(meta, fields)

    # ------------------------------------------------------------- refs
    # Iceberg named refs: a tag pins a snapshot permanently (until
    # dropped); a branch is a movable pointer (fast_forward advances it
    # to the current head). Both are readable via read_table(ref=…) and
    # SQL's VERSION AS OF 'name'; expire_snapshots never reclaims a
    # snapshot a ref can still reach.

    def create_tag(self, name: str, tag: str, snapshot_id: int | None = None) -> None:
        name = self._resolve_dml_target(name).name
        self._set_ref(name, tag, "tag", snapshot_id)

    def create_branch(
        self, name: str, branch: str, snapshot_id: int | None = None
    ) -> None:
        name = self._resolve_dml_target(name).name
        self._set_ref(name, branch, "branch", snapshot_id)

    def _set_ref(
        self, name: str, ref: str, kind: str, snapshot_id: int | None
    ) -> None:
        with self._table_lock(name):
            meta = self._read_meta(name)
            if ref in meta.refs:
                raise ValueError(f"Ref '{ref}' already exists on '{name}'")
            if snapshot_id is None:
                snapshot_id = self.current_snapshot_id(name)
            if snapshot_id not in {s["snapshot_id"] for s in meta.snapshots}:
                raise SnapshotNotFoundError(f"Table '{name}' has no snapshot {snapshot_id}")
            meta.refs[ref] = {"snapshot_id": int(snapshot_id), "type": kind}
            self._write_meta(meta)

    def fast_forward(self, name: str, branch: str) -> None:
        """Advance a branch to the current head (Iceberg's
        fast_forward procedure). Tags are immutable and refuse."""
        name = self._resolve_dml_target(name).name
        with self._table_lock(name):
            meta = self._read_meta(name)
            if branch not in meta.refs:
                raise ValueError(f"Unknown ref '{branch}' on '{name}'")
            if meta.refs[branch]["type"] != "branch":
                raise ValueError(f"Ref '{branch}' is a tag; tags are immutable")
            meta.refs[branch]["snapshot_id"] = self.current_snapshot_id(name)
            self._write_meta(meta)

    def drop_ref(
        self,
        name: str,
        ref: str,
        kind: str | None = None,
        if_exists: bool = True,
    ) -> None:
        """Remove a named ref. ``kind`` ('tag'|'branch') makes the drop
        kind-checked (DROP TAG on a branch refuses, as in Iceberg's
        SQL); ``if_exists=False`` raises on a missing ref (the bare
        DROP semantics — the default stays the historical silent pop
        for API callers)."""
        name = self._resolve_dml_target(name).name
        with self._table_lock(name):
            meta = self._read_meta(name)
            entry = meta.refs.get(ref)
            if entry is None:
                if if_exists:
                    return
                raise ValueError(f"Unknown ref '{ref}' on '{name}'")
            if kind is not None and entry["type"] != kind:
                raise ValueError(
                    f"Ref '{ref}' on '{name}' is a {entry['type']}, "
                    f"not a {kind}"
                )
            meta.refs.pop(ref, None)
            self._write_meta(meta)

    def resolve_ref(self, name: str, ref: str) -> int:
        name = self._resolve_dml_target(name).name
        meta = self._read_meta(name)
        if meta.link_to is not None:
            return self.resolve_ref(meta.link_to, ref)
        if ref not in meta.refs:
            raise SnapshotNotFoundError(f"Table '{name}' has no ref '{ref}'")
        return meta.refs[ref]["snapshot_id"]

    # ------------------------------------------------- metadata tables
    # Iceberg's queryable introspection surface (SELECT * FROM
    # t.snapshots / t.files / t.history / t.partitions). All are
    # manifest/footer-only — row counts come from parquet footers, not
    # data scans, exactly as Iceberg serves them from manifests.

    def snapshots_df(self, name: str) -> DataFrame:
        meta = self._read_meta(name)
        rows = [
            (
                s["snapshot_id"],
                s["sequence_number"],
                s["timestamp_ms"],
                s["operation"],
                len(s["added_files"]),
                len(s.get("removed_files", ())),
                s.get("added_records"),
                s.get("source_id"),
                s.get("batch_id"),
            )
            for s in meta.snapshots
        ]
        df = self.spark.createDataFrame(
            rows,
            "snapshot_id bigint, sequence_number bigint, committed_at_ms bigint, "
            "operation string, added_files_count int, removed_files_count int, "
            "added_records bigint, source_id string, batch_id bigint",
        )
        return df.withColumn(
            "committed_at", F.timestamp_millis(F.col("committed_at_ms"))
        )

    def history_df(self, name: str) -> DataFrame:
        meta = self._read_meta(name)
        cur = meta.snapshots[-1]["snapshot_id"] if meta.snapshots else None
        rows = [
            (s["timestamp_ms"], s["snapshot_id"], s["snapshot_id"] <= (cur or 0))
            for s in meta.snapshots
        ]
        return self.spark.createDataFrame(
            rows,
            "made_current_at_ms bigint, snapshot_id bigint, is_current_ancestor boolean",
        ).withColumn("made_current_at", F.timestamp_millis(F.col("made_current_at_ms")))

    def files_df(self, name: str) -> DataFrame:
        """One row per live data file: path, partition dir, footer row
        count, size. Footers are read driver-side — bounded by file
        count (manifest-scale), no data I/O."""
        import pyarrow.parquet as pq

        meta = self._read_meta(name)
        data = self.data_dir(name)
        rows = []
        for f in sorted(self._live_files(meta)):
            full = os.path.join(data, f)
            rows.append(
                (
                    "data",
                    f,
                    os.path.dirname(f) or None,
                    pq.ParquetFile(full).metadata.num_rows,
                    os.path.getsize(full),
                )
            )
        ddir = self.delete_dir(name)
        kinds = self._delete_kinds_from_meta(meta)
        for f in sorted(self._live_delete_files(meta)):
            full = os.path.join(ddir, f)
            pf = pq.ParquetFile(full)
            k = self._delete_kind(
                name, kinds, f, cols=set(pf.schema_arrow.names)
            )
            kind = "position-deletes" if k == "positional" else "equality-deletes"
            rows.append((kind, f, None, pf.metadata.num_rows, os.path.getsize(full)))
        return self.spark.createDataFrame(
            rows,
            "content string, file_path string, partition string, "
            "record_count bigint, file_size_in_bytes bigint",
        )

    def partitions_df(self, name: str) -> DataFrame:
        """Per-partition record/file counts aggregated from footers."""
        return (
            self.files_df(name)
            .filter(F.col("content") == "data")
            .groupBy("partition")
            .agg(
                F.sum("record_count").alias("record_count"),
                F.count(F.lit(1)).alias("file_count"),
                F.sum("file_size_in_bytes").alias("total_size_in_bytes"),
            )
        )

    def refs_df(self, name: str) -> DataFrame:
        """Iceberg's ``t.refs``: one row per named ref (plus main)."""
        meta = self._read_meta(name)
        rows = [
            (r, v["type"].upper(), v["snapshot_id"]) for r, v in sorted(meta.refs.items())
        ]
        if meta.snapshots:
            rows.insert(0, ("main", "BRANCH", meta.snapshots[-1]["snapshot_id"]))
        return self.spark.createDataFrame(
            rows, "name string, type string, snapshot_id bigint"
        )

    def metadata_log_entries_df(self, name: str) -> DataFrame:
        """Iceberg's ``t.metadata_log_entries``: one row per emitted
        table-metadata file in the v2 mirror chain
        (sources/iceberg_metadata.py), oldest first — the queryable
        audit trail of metadata versions the reference's tables carry
        on disk (producer_cleanup_logs.txt:33-51)."""
        meta = self._resolve_dml_target(name)
        mdir = os.path.join(self.root, meta.name, "metadata")
        rows = []
        if os.path.isdir(mdir):
            versions = sorted(
                int(f[1:].split(".")[0])
                for f in os.listdir(mdir)
                if f.startswith("v") and f.endswith(".metadata.json")
            )
            for v in versions:
                path = os.path.join(mdir, f"v{v}.metadata.json")
                with open(path) as fh:
                    doc = json.load(fh)
                rows.append(
                    (
                        doc.get("last-updated-ms"),
                        path,
                        doc.get("current-snapshot-id"),
                        doc.get("current-schema-id"),
                        doc.get("last-sequence-number"),
                    )
                )
        return self.spark.createDataFrame(
            rows,
            "timestamp_ms bigint, file string, latest_snapshot_id bigint, "
            "latest_schema_id int, latest_sequence_number bigint",
        )

    def manifests_df(self, name: str) -> DataFrame:
        """Iceberg's ``t.manifests`` analog: one row per commit's file
        diff (the engine's manifest = the snapshot entry). Counts only
        — no data I/O."""
        meta = self._read_meta(name)
        rows = [
            (
                s["snapshot_id"],
                s["sequence_number"],
                s["operation"],
                len(s["added_files"]),
                len(s.get("removed_files", ())),
                len(s.get("added_delete_files", ())),
                len(s.get("removed_delete_files", ())),
                s.get("added_records"),
            )
            for s in meta.snapshots
        ]
        return self.spark.createDataFrame(
            rows,
            "snapshot_id bigint, sequence_number bigint, operation string, "
            "added_data_files_count int, removed_data_files_count int, "
            "added_delete_files_count int, removed_delete_files_count int, "
            "added_records bigint",
        )

    def entries_df(self, name: str) -> DataFrame:
        """Iceberg's ``t.entries``: one manifest entry per (snapshot,
        file) transition — status 1 = ADDED, 2 = DELETED — for data AND
        delete files, oldest snapshot first. Pure snapshot-log replay:
        metadata-scale, zero data I/O (Iceberg reads the avro
        manifests; this engine's snapshot log carries the same
        diffs — see sources/iceberg_manifests.py for the spec-route
        mirror external readers use)."""
        meta = self._read_meta(name)
        kinds = self._delete_kinds_from_meta(meta)

        def _content(f: str) -> str:
            # footer-sniff fallback for pre-round-9 collapsed manifests,
            # matching what files()/the scan path actually do with them
            k = self._delete_kind(name, kinds, f)
            return "position-deletes" if k == "positional" else "equality-deletes"

        rows = []
        for s in meta.snapshots:
            sid, seq = s["snapshot_id"], s["sequence_number"]
            for f in sorted(s["added_files"]):
                rows.append((1, sid, seq, "data", f))
            for f in sorted(s.get("removed_files", ())):
                rows.append((2, sid, seq, "data", f))
            for f in sorted(s.get("added_delete_files", ())):
                rows.append((1, sid, seq, _content(f), f))
            for f in sorted(s.get("removed_delete_files", ())):
                rows.append((2, sid, seq, _content(f), f))
        return self.spark.createDataFrame(
            rows,
            "status int, snapshot_id bigint, sequence_number bigint, "
            "content string, file_path string",
        )

    def all_files_df(self, name: str) -> DataFrame:
        """Iceberg's ``t.all_files``: every data/delete file referenced
        by ANY snapshot still reachable (time travel reads them), with
        footer stats and whether the CURRENT snapshot references it.
        Footer reads are bounded by historical file count
        (manifest-scale); files already vacuumed by expire_snapshots
        are skipped."""
        import pyarrow.parquet as pq

        meta = self._read_meta(name)
        live = set(self._live_files(meta))
        live_del = set(self._live_delete_files(meta))
        kinds = self._delete_kinds_from_meta(meta)
        seen_data: set[str] = set()
        seen_del: set[str] = set()
        for s in meta.snapshots:
            seen_data.update(s["added_files"])
            seen_del.update(s.get("added_delete_files", ()))
        rows = []
        data = self.data_dir(name)
        for f in sorted(seen_data):
            full = os.path.join(data, f)
            if not os.path.exists(full):
                continue  # expired + vacuumed
            rows.append(
                (
                    "data",
                    f,
                    os.path.dirname(f) or None,
                    pq.ParquetFile(full).metadata.num_rows,
                    os.path.getsize(full),
                    f in live,
                )
            )
        ddir = self.delete_dir(name)
        for f in sorted(seen_del):
            full = os.path.join(ddir, f)
            if not os.path.exists(full):
                continue
            pf = pq.ParquetFile(full)
            kind = (
                "position-deletes"
                if self._delete_kind(
                    name, kinds, f, cols=set(pf.schema_arrow.names)
                )
                == "positional"
                else "equality-deletes"
            )
            rows.append(
                (
                    kind,
                    f,
                    None,
                    pf.metadata.num_rows,
                    os.path.getsize(full),
                    f in live_del,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "content string, file_path string, partition string, "
            "record_count bigint, file_size_in_bytes bigint, is_live boolean",
        )

    def position_deletes_df(self, name: str) -> DataFrame:
        """Iceberg's ``t.position_deletes``: the live positional-delete
        ROWS — (referenced data file, row ordinal, owning delete file).
        The tuples are read DISTRIBUTED (spark.read over the delete
        parquet files, delete-file provenance from the reserved
        ``_metadata`` column), so the view scales with delete volume,
        not driver memory."""
        meta = self._read_meta(name)
        del_map = self._live_delete_files(meta)
        _, pos = self._split_delete_kinds(meta, del_map)
        if not pos:
            return self.spark.createDataFrame(
                [], "file_path string, pos bigint, delete_file_path string"
            )
        raw = self._read_position_deletes(self.delete_dir(meta.name), sorted(pos))
        return raw.select(
            "file_path",
            "pos",
            F.col("_metadata.file_path").alias("delete_file_path"),
        )

    def alter_write_order(self, name: str, order_by: list[str]) -> None:
        """Iceberg's WRITE ORDERED BY: every subsequent write (append,
        DML rewrite, bin-pack compaction; z-order compaction sorts by
        its z-key instead) sorts rows by these columns within each
        output file, so parquet min/max stats become selective and
        scans with predicates on the order columns skip row groups.
        Metadata-only; no existing file is rewritten (compaction
        migrates old files lazily)."""
        name = self._resolve_dml_target(name).name
        with self._table_lock(name):
            meta = self._read_meta(name)
            names = {f.name for f in meta.schema.fields}
            for col in order_by:
                if col not in names:
                    raise ValueError(f"Order column '{col}' not in schema")
            meta.properties["write_order"] = json.dumps(list(order_by))
            self._write_meta(meta)

    def _write_order(self, meta: TableMeta) -> list[str]:
        return json.loads(meta.properties.get("write_order", "[]"))

    def alter_partition_spec(self, name: str, partition_by: list[str]) -> None:
        """Partition evolution (Iceberg spec evolution): future writes
        use the new identity spec; existing files keep their layout and
        are never rewritten — reads group files by the spec they were
        written under. DML rewrites and compaction migrate rewritten
        rows to the current spec as a side effect, exactly as Iceberg
        does."""
        name = self._resolve_dml_target(name).name
        with self._table_lock(name):
            meta = self._read_meta(name)
            names = {f.name for f in meta.schema.fields}
            for pf in parse_partition_spec(list(partition_by)):
                if pf.source not in names:
                    raise ValueError(f"Partition column '{pf.source}' not in schema")
            meta.partition_by = list(partition_by)
            self._write_meta(meta)

    # ------------------------------------------------- incremental reads
    def read_changes(
        self,
        name: str,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
        mode: str = "append",
        compute_updates: bool = False,
        identifier_columns: list[str] | None = None,
        net_changes: bool = False,
    ) -> DataFrame:
        """Incremental read between two snapshots (Iceberg's
        incremental scan / ``create_changelog_view``).

        ``mode='append'``: the rows ADDED strictly after
        ``from_snapshot_id`` up to and including ``to_snapshot_id`` —
        only the new data files, never a rescan of the table. Files
        added by delete/update/merge rewrites carry pre-existing rows;
        use mode='cdc' for row-accurate changes.

        ``mode='cdc'``: a changelog frame — the table columns plus
        ``_change_type`` ('insert' | 'delete'; an update is a
        delete+insert pair, Iceberg's changelog representation),
        ``_change_ordinal`` (0-based snapshot position within the
        range), and ``_commit_snapshot_id``. Per snapshot:

        - rows of its added data files → insert;
        - rows of its removed data files (as of the PREVIOUS snapshot,
          prior deletes applied) → delete — for copy-on-write rewrites
          the carried rows appear as delete+insert pairs, exactly as
          Iceberg's changelog emits them;
        - rows targeted by its added positional delete files → delete
          (pre-image: previous-snapshot scan restricted to the delete
          files' recorded refs, semi-joined on (file, pos));
        - rows targeted by its added equality delete files → delete
          (previous-snapshot scan semi-joined on the key columns).

        Compaction / delete-maintenance snapshots (operation
        'replace') are net-zero and skipped.

        ``compute_updates`` (Iceberg's create_changelog_view option):
        within each ordinal, a delete+insert pair sharing the
        ``identifier_columns`` (default: the table's identifier
        fields) is relabeled ``update_before`` / ``update_after``.
        ``net_changes``: collapse the range to the NET change per row
        value — a row inserted then deleted inside the range emits
        nothing. The two options are mutually exclusive, as in
        Iceberg.

        100 TB posture: cost per snapshot is the delta files plus, for
        delete pre-images, the referenced files — manifest-planned,
        never a table rescan; delete sides broadcast (keys/positions
        only)."""
        meta = self._read_meta(name)
        if meta.link_to is not None:
            return self.read_changes(
                meta.link_to,
                from_snapshot_id,
                to_snapshot_id,
                mode=mode,
                compute_updates=compute_updates,
                identifier_columns=identifier_columns,
                net_changes=net_changes,
            )
        if mode not in ("append", "cdc"):
            raise ValueError(f"read_changes mode must be append|cdc, got {mode!r}")
        if (compute_updates or net_changes) and mode != "cdc":
            raise ValueError("compute_updates/net_changes require mode='cdc'")
        if compute_updates and net_changes:
            raise ValueError(
                "compute_updates and net_changes are mutually exclusive"
            )
        known = {s["snapshot_id"] for s in meta.snapshots}
        for sid in (from_snapshot_id, to_snapshot_id):
            if sid is not None and sid not in known:
                raise SnapshotNotFoundError(
                    f"Table '{name}' has no snapshot {sid} (known: {sorted(known)})"
                )
        lo = from_snapshot_id or 0
        hi = to_snapshot_id if to_snapshot_id is not None else float("inf")
        if mode == "append":
            # "publish" makes a WAP-staged append live — its added
            # files are new rows for a changelog consumer exactly like
            # an append. A still-staged snapshot is invisible (matching
            # scan semantics) unless it is itself the explicit range
            # head (the audit read).
            files = [
                f
                for s in meta.snapshots
                if lo < s["snapshot_id"] <= hi
                and s["operation"] in ("append", "publish")
                and (not s.get("staged") or s["snapshot_id"] == to_snapshot_id)
                for f in s["added_files"]
            ]
            out = self._read_files(meta, files)
            return (
                out
                if out is not None
                else self.spark.createDataFrame([], meta.schema)
            )
        out = self._read_changes_cdc(meta, lo, hi, to_snapshot_id)
        if compute_updates:
            keys = list(
                identifier_columns
                or json.loads(meta.properties.get("identifier_fields", "[]"))
            )
            if not keys:
                raise ValueError(
                    "compute_updates needs identifier_columns (or table "
                    "identifier fields)"
                )
            # one window over the change DELTA (never the table): a
            # delete+insert pair on the same key within one ordinal is
            # an update — relabel its halves
            w = Window.partitionBy("_change_ordinal", *keys)
            is_del = (F.col("_change_type") == "delete").cast("int")
            is_ins = (F.col("_change_type") == "insert").cast("int")
            out = (
                out.withColumn("__nd", F.sum(is_del).over(w))
                .withColumn("__ni", F.sum(is_ins).over(w))
                .withColumn(
                    "_change_type",
                    F.when(
                        (F.col("_change_type") == "delete")
                        & (F.col("__ni") > 0),
                        F.lit("update_before"),
                    )
                    .when(
                        (F.col("_change_type") == "insert")
                        & (F.col("__nd") > 0),
                        F.lit("update_after"),
                    )
                    .otherwise(F.col("_change_type")),
                )
                .drop("__nd", "__ni")
            )
        if net_changes:
            # net effect per ROW VALUE across the whole range: inserts
            # count +1, deletes −1; |net| copies of the surviving kind
            # emit with the LAST contributing ordinal/snapshot
            data = [f.name for f in meta.schema.fields]
            net = (
                out.groupBy(*data)
                .agg(
                    F.sum(
                        F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
                    ).alias("__net"),
                    F.max("_change_ordinal").alias("_change_ordinal"),
                    F.max("_commit_snapshot_id").alias("_commit_snapshot_id"),
                )
                .filter(F.col("__net") != 0)
            )
            out = net.select(
                *data,
                F.when(F.col("__net") > 0, F.lit("insert"))
                .otherwise(F.lit("delete"))
                .alias("_change_type"),
                F.col("_change_ordinal"),
                F.col("_commit_snapshot_id"),
                F.explode(
                    F.sequence(F.lit(1), F.abs(F.col("__net")))
                ).alias("__copy"),
            ).drop("__copy")
        return out

    def _cdc_schema(self, meta: TableMeta) -> T.StructType:
        return T.StructType(
            list(meta.schema.fields)
            + [
                T.StructField("_change_type", T.StringType(), False),
                T.StructField("_change_ordinal", T.IntegerType(), False),
                T.StructField("_commit_snapshot_id", T.LongType(), False),
            ]
        )

    def _read_changes_cdc(
        self, meta: TableMeta, lo: int, hi, to_snapshot_id: int | None
    ) -> DataFrame:
        """The mode='cdc' body of read_changes — see there."""
        refs_map = self._delete_refs_from_meta(meta)
        parts: list[DataFrame] = []

        def tag(df: DataFrame, ct: str, ordinal: int, sid: int) -> None:
            parts.append(
                df.select(
                    *[F.col(f.name) for f in meta.schema.fields],
                    F.lit(ct).alias("_change_type"),
                    F.lit(int(ordinal)).cast("int").alias("_change_ordinal"),
                    F.lit(int(sid)).cast("bigint").alias("_commit_snapshot_id"),
                )
            )

        prev_sid: int | None = None
        ordinal = 0
        for s in meta.snapshots:
            sid = s["snapshot_id"]
            if sid > (hi if hi != float("inf") else sid):
                break
            in_range = (
                lo < sid <= hi
                and s["operation"] != "replace"
                and (not s.get("staged") or sid == to_snapshot_id)
            )
            if not in_range:
                if not s.get("staged"):
                    prev_sid = sid
                continue

            # inserts: rows of the snapshot's added data files
            ins = self._read_files(meta, s.get("added_files", ()))
            if ins is not None:
                tag(ins, "insert", ordinal, sid)

            # deletes 1: rows of removed data files, as of prev
            removed = set(s.get("removed_files", ()))
            if removed and prev_sid is not None:
                pre = self._scan_live(
                    meta, snapshot_id=prev_sid, restrict_files=removed
                )
                if pre is not None:
                    tag(pre, "delete", ordinal, sid)

            # deletes 2/3: pre-images of the snapshot's added delete files
            added_dels = list(s.get("added_delete_files", ()))
            if added_dels and prev_sid is not None:
                eqm, posm = self._split_delete_kinds(
                    meta, {f: 0 for f in added_dels}
                )
                pos_files, eq_files = sorted(posm), sorted(eqm)
                ddir = self.delete_dir(meta.name)
                if pos_files:
                    restrict = None
                    if all(f in refs_map for f in pos_files):
                        restrict = set().union(*(refs_map[f] for f in pos_files))
                    pre = self._scan_live(
                        meta,
                        snapshot_id=prev_sid,
                        with_pos=True,
                        restrict_files=restrict,
                    )
                    if pre is not None:
                        dels = self._read_position_deletes(ddir, pos_files).select(
                            F.expr(self._rel_sql("file_path")).alias("__d_rel"),
                            F.col("pos").alias("__d_pos"),
                        )
                        img = pre.join(
                            F.broadcast(dels),
                            (
                                F.expr(self._rel_sql("__file_path"))
                                == F.col("__d_rel")
                            )
                            & (F.col("__pos") == F.col("__d_pos")),
                            "left_semi",
                        )
                        tag(img, "delete", ordinal, sid)
                if eq_files:
                    keys = list(s.get("equality_ids") or ())
                    # key names stored at commit time resolve through
                    # the rename log, like the delete files themselves
                    raw = self.spark.read.parquet(
                        *(os.path.join(ddir, f) for f in eq_files)
                    )
                    for old, new in meta.renames:
                        if old in raw.columns and new not in raw.columns:
                            raw = raw.withColumnRenamed(old, new)
                        keys = [new if k == old else k for k in keys]
                    # restrict the pre-image scan to the data files the
                    # delete commit recorded (round 10: equality-delete
                    # refs, symmetric with the positional branch above)
                    # — the pre-image read costs the referenced files,
                    # never a previous-snapshot table rescan
                    restrict = None
                    if all(f in refs_map for f in eq_files):
                        restrict = set().union(
                            *(refs_map[f] for f in eq_files)
                        )
                    pre = self._scan_live(
                        meta, snapshot_id=prev_sid, restrict_files=restrict
                    )
                    if pre is not None and keys:
                        cond = F.lit(True)
                        for k in keys:
                            cond = cond & F.col(f"__pre.{k}").eqNullSafe(
                                F.col(f"__dk.{k}")
                            )
                        img = (
                            pre.alias("__pre")
                            .join(
                                F.broadcast(
                                    raw.select(*keys).dropDuplicates(keys)
                                ).alias("__dk"),
                                cond,
                                "left_semi",
                            )
                        )
                        tag(img, "delete", ordinal, sid)

            ordinal += 1
            if not s.get("staged"):
                prev_sid = sid

        if not parts:
            return self.spark.createDataFrame([], self._cdc_schema(meta))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def rollback_to_snapshot(self, name: str, snapshot_id: int) -> None:
        """Iceberg's rollback_to_snapshot: commit a new snapshot whose
        live set equals the old one — history is preserved (the rolled-
        back snapshots stay readable until expired), no data is moved."""
        name = self._resolve_dml_target(name).name
        with self._table_lock(name):
            meta = self._read_meta(name)
            if snapshot_id not in {s["snapshot_id"] for s in meta.snapshots}:
                raise SnapshotNotFoundError(
                    f"Table '{name}' has no snapshot {snapshot_id}"
                )
            target = self._live_files(meta, snapshot_id)
            current = self._live_files(meta)
            target_dels = set(self._live_delete_files(meta, snapshot_id))
            current_dels = set(self._live_delete_files(meta))
            readded = target_dels - current_dels
            kinds = self._delete_kinds_from_meta(meta)
            refs = self._delete_refs_from_meta(meta)
            self._commit_snapshot(
                meta,
                "rollback",
                added=target - current,
                removed=current - target,
                added_deletes=readded,
                removed_deletes=current_dels - target_dels,
                delete_kinds={f: kinds[f] for f in readded if f in kinds},
                delete_refs={f: sorted(refs[f]) for f in readded if f in refs},
            )

    def publish_snapshot(self, name: str, snapshot_id: int) -> int:
        """Write-audit-publish, step 3 (Iceberg's cherrypick_snapshot):
        make a staged snapshot's files live by committing a new head
        snapshot that adds them. The staged snapshot stays in history
        (audit trail); its files get their sequence number at publish
        time, so equality deletes committed while the data sat in
        staging do not swallow it. Returns the published snapshot id."""
        name = self._resolve_dml_target(name).name
        with self._table_lock(name):
            meta = self._read_meta(name)
            target = next(
                (s for s in meta.snapshots if s["snapshot_id"] == snapshot_id), None
            )
            if target is None:
                raise SnapshotNotFoundError(
                    f"Table '{name}' has no snapshot {snapshot_id}"
                )
            if not target.get("staged"):
                raise ValueError(f"Snapshot {snapshot_id} is not staged")
            if target.get("published_as"):
                raise ValueError(
                    f"Snapshot {snapshot_id} was already published as "
                    f"{target['published_as']}"
                )
            self._commit_snapshot(meta, "publish", set(target["added_files"]))
            meta = self._read_meta(name)
            new_id = meta.snapshots[-1]["snapshot_id"]
            for s in meta.snapshots:
                if s["snapshot_id"] == snapshot_id:
                    s["published_as"] = new_id
            self._write_meta(meta)
        return new_id

    def rollback_to_timestamp(self, name: str, ts_ms: int) -> int:
        """Iceberg's rollback_to_timestamp: roll the head back to the
        last snapshot committed at or before ``ts_ms`` (same resolution
        rule as ``TIMESTAMP AS OF`` reads). Returns the snapshot id
        rolled back to; raises if nothing was committed by then."""
        name = self._resolve_dml_target(name).name
        meta = self._read_meta(name)
        eligible = [
            s["snapshot_id"]
            for s in meta.snapshots
            if not s.get("staged") and s["timestamp_ms"] <= ts_ms
        ]
        if not eligible:
            raise SnapshotNotFoundError(
                f"Table '{name}' has no snapshot at or before {ts_ms}"
            )
        self.rollback_to_snapshot(name, eligible[-1])
        return eligible[-1]

    def set_current_snapshot(self, name: str, snapshot_id: int) -> None:
        """Iceberg's set_current_snapshot: point the head at ANY known
        snapshot — backward (a rollback) or FORWARD again after one
        (roll-forward). The mechanics are identical either way: commit
        a snapshot whose live data/delete sets equal the target's, so
        history is preserved and nothing moves on disk."""
        self.rollback_to_snapshot(name, snapshot_id)

    def publish_changes(self, name: str, wap_id: str) -> int:
        """Write-audit-publish by wap id (Iceberg's publish_changes):
        find the staged snapshot tagged ``wap_id`` and publish it.
        Iceberg's flow is the same — writers stamp spark.wap.id into
        the staged snapshot's summary; the audit pipeline publishes by
        id without ever learning snapshot numbers."""
        name = self._resolve_dml_target(name).name
        matches = [
            s
            for s in self._read_meta(name).snapshots
            if s.get("staged") and s.get("wap_id") == wap_id
        ]
        if not matches:
            raise SnapshotNotFoundError(
                f"Table '{name}' has no staged snapshot with wap_id "
                f"'{wap_id}'"
            )
        unpublished = [s for s in matches if not s.get("published_as")]
        if not unpublished:
            raise ValueError(
                f"wap_id '{wap_id}' was already published as "
                f"{matches[-1]['published_as']}"
            )
        if len(unpublished) > 1:
            raise ValueError(
                f"wap_id '{wap_id}' is ambiguous: staged snapshots "
                f"{sorted(s['snapshot_id'] for s in unpublished)}"
            )
        return self.publish_snapshot(name, unpublished[0]["snapshot_id"])

    def ancestors_of(
        self, name: str, snapshot_id: int | None = None
    ) -> list[tuple[int, int]]:
        """Iceberg's ancestors_of: the (snapshot_id, timestamp_ms)
        lineage from the given head (default: current) back to the
        root. The engine's main lineage is linear over non-staged
        snapshots, so ancestors are every published commit at or
        before the head — newest first, like the procedure's output."""
        meta = self._read_meta(name)
        if meta.link_to is not None:
            return self.ancestors_of(meta.link_to, snapshot_id)
        head = (
            snapshot_id
            if snapshot_id is not None
            else self.current_snapshot_id(name)
        )
        if head is None:
            return []
        known = {s["snapshot_id"] for s in meta.snapshots}
        if head not in known:
            raise SnapshotNotFoundError(
                f"Table '{name}' has no snapshot {head}"
            )
        return [
            (s["snapshot_id"], s["timestamp_ms"])
            for s in reversed(meta.snapshots)
            if not s.get("staged") and s["snapshot_id"] <= head
        ]

    # --------------------------------------------------------- statistics
    def analyze_table(self, name: str, columns: list[str] | None = None) -> dict:
        """ANALYZE TABLE … COMPUTE STATISTICS [FOR COLUMNS …]: one
        distributed aggregation pass over the live set; results land in
        table properties (`stats.*`) so DESCRIBE EXTENDED and planners
        can read them without touching data. Column stats: null count,
        approx NDV (HLL), and min/max for orderable primitives. The
        collect is a single stats row — metadata-sized, never data."""
        meta = self._resolve_dml_target(name)
        df = self.read_table(name)
        cols = list(columns or [])
        for c in cols:
            if c not in df.columns:
                raise ValueError(f"ANALYZE: column '{c}' not in {name}")
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for i, c in enumerate(cols):
            aggs += [
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__n{i}"),
                F.approx_count_distinct(c).alias(f"__d{i}"),
                F.min(c).cast("string").alias(f"__mn{i}"),
                F.max(c).cast("string").alias(f"__mx{i}"),
            ]
        row = df.agg(*aggs).collect()[0]  # scale-ok: 1-row column-stats aggregate
        data = self.data_dir(meta.name)
        live = self._live_files(meta)
        size = sum(os.path.getsize(os.path.join(data, f)) for f in live)
        stats: dict[str, str] = {
            "stats.row_count": str(row["__rows"]),
            "stats.size_bytes": str(size),
            "stats.file_count": str(len(live)),
        }
        for i, c in enumerate(cols):
            stats[f"stats.col.{c}.null_count"] = str(row[f"__n{i}"])
            stats[f"stats.col.{c}.ndv"] = str(row[f"__d{i}"])
            if row[f"__mn{i}"] is not None:
                stats[f"stats.col.{c}.min"] = row[f"__mn{i}"]
                stats[f"stats.col.{c}.max"] = row[f"__mx{i}"]
        with self._table_lock(meta.name):
            m = self._read_meta(meta.name)
            # drop stale stats keys, then install the fresh snapshot
            m.properties = {
                k: v for k, v in m.properties.items() if not k.startswith("stats.")
            }
            m.properties.update(stats)
            self._write_meta(m)
        return stats

    # ------------------------------------------------- table maintenance
    def expire_snapshots(
        self,
        name: str,
        *,
        keep_last: int | None = None,
        older_than_ms: int | None = None,
    ) -> dict:
        """Iceberg's expire_snapshots: drop history older than the
        horizon and physically delete data files no retained snapshot
        references. The current snapshot is always retained. The oldest
        retained snapshot is collapsed into a base manifest (its
        added_files become the full live set at that point) so the log
        still replays."""
        meta = self._resolve_dml_target(name)
        name = meta.name
        snaps = meta.snapshots
        if not snaps:
            return {"expired_snapshots": 0, "deleted_files": 0}
        if keep_last is not None:
            retained = snaps[-max(1, keep_last):]
        elif older_than_ms is not None:
            retained = [s for s in snaps if s["timestamp_ms"] > older_than_ms] or snaps[-1:]
        else:
            raise ValueError("pass keep_last or older_than_ms")
        # a snapshot a named ref can still reach is never expired
        # (Iceberg: expire_snapshots skips tagged/branched snapshots)
        if meta.refs:
            floor = min(r["snapshot_id"] for r in meta.refs.values())
            first = retained[0]["snapshot_id"] if retained else floor
            if floor < first:
                retained = [s for s in snaps if s["snapshot_id"] >= floor]
        n_expired = len(snaps) - len(retained)
        if n_expired == 0:
            return {"expired_snapshots": 0, "deleted_files": 0}
        base_sid = retained[0]["snapshot_id"]
        base_live = self._live_files(meta, base_sid)
        base_dels = self._live_delete_files(meta, base_sid)
        all_seqs = self._file_seqs(meta)
        # the collapsed base must keep each delete file's kind and refs
        # explicitly — the committing snapshots (whose equality_ids /
        # delete_kinds carried them) are being expired
        all_kinds = self._delete_kinds_from_meta(meta)
        all_refs = self._delete_refs_from_meta(meta)
        base = dict(
            retained[0],
            added_files=sorted(base_live),
            removed_files=[],
            # preserve pre-collapse commit sequences so the equality-
            # delete rule (del_seq > data_seq) survives expiry
            file_seqs={f: all_seqs[f] for f in base_live if f in all_seqs},
            added_delete_files=sorted(base_dels),
            removed_delete_files=[],
            delete_file_seqs=dict(base_dels),
            delete_kinds={f: all_kinds[f] for f in base_dels if f in all_kinds},
            delete_refs={f: sorted(all_refs[f]) for f in base_dels if f in all_refs},
        )
        referenced: set[str] = set()
        referenced_dels: set[str] = set()
        for s in retained:
            referenced |= self._live_files(meta, s["snapshot_id"])
            referenced_dels |= set(self._live_delete_files(meta, s["snapshot_id"]))
        meta.snapshots = [base] + retained[1:]
        self._write_meta(meta)
        data = self.data_dir(name)
        dropped = self._data_files(name) - referenced
        for f in dropped:
            os.remove(os.path.join(data, f))
        ddir = self.delete_dir(name)
        dropped_dels = self._delete_files_on_disk(name) - referenced_dels
        for f in dropped_dels:
            os.remove(os.path.join(ddir, f))
        self._prune_claims(name, retained[0]["sequence_number"])
        return {
            "expired_snapshots": n_expired,
            "deleted_files": len(dropped) + len(dropped_dels),
        }

    def _prune_claims(self, name: str, base_seq: int) -> None:
        """Drop version-claim dotfiles for sequences at or below the
        collapsed base (ADVICE r9: a long-lived streaming table leaves
        one claim per commit, degrading every os.listdir of the shared
        metadata dir). Safe: a committer always computes its target
        sequence as last+1 from a fresh metadata read, so a claim ≤ the
        base sequence can only be contended by a process whose
        read→claim window opened before that commit landed — the mtime
        staleness guard keeps claims younger than _CLAIM_STALE_S."""
        prefix = f".{name}.commit-"
        now = time.time()
        for f in os.listdir(self._meta_dir):
            if not f.startswith(prefix):
                continue
            try:
                seq = int(f[len(prefix):])
            except ValueError:
                continue
            path = os.path.join(self._meta_dir, f)
            try:
                if seq <= base_seq and now - os.stat(path).st_mtime > self._CLAIM_STALE_S:
                    os.unlink(path)
            except FileNotFoundError:
                pass

    def remove_orphan_files(self, name: str) -> dict:
        """Iceberg's remove_orphan_files: physically delete data files
        on disk that no snapshot (live or historical) references —
        debris from failed/interrupted writes that committed nothing.
        Never touches referenced files, so every snapshot stays
        readable."""
        name = self._resolve_dml_target(name).name
        meta = self._read_meta(name)
        referenced = {f for s in meta.snapshots for f in s["added_files"]}
        data = self.data_dir(name)
        orphans = self._data_files(name) - referenced
        for f in orphans:
            os.remove(os.path.join(data, f))
        referenced_dels = {
            f for s in meta.snapshots for f in s.get("added_delete_files", ())
        }
        ddir = self.delete_dir(name)
        del_orphans = self._delete_files_on_disk(name) - referenced_dels
        for f in del_orphans:
            os.remove(os.path.join(ddir, f))
        return {"deleted_files": len(orphans) + len(del_orphans)}

    def rewrite_manifests(self, name: str) -> dict:
        """Iceberg's ``rewrite_manifests`` maintenance: compact the
        accumulated per-commit avro manifest pairs into ONE manifest per
        content kind for the current snapshot. A one-commit-per-micro-
        batch streaming table otherwise grows `snap-<sid>.avro` +
        `<sid>-m0.avro` pairs without bound (the reference tables show
        exactly this layout, producer_cleanup_logs.txt:33-51) and every
        interop reader must list them all.

        One metadata-only snapshot (operation='rewrite-manifests', no
        data files touched): the interop emitter force-merges the whole
        chain regardless of the auto-merge threshold, every carried
        entry keeping its original snapshot/sequence with EXISTING
        status. Afterwards, manifest files referenced by NO surviving
        snapshot's manifest list — and manifest lists of snapshots no
        longer in the log (expired) — are deleted, so the metadata
        directory physically shrinks while time travel over retained
        snapshots keeps working (their lists and manifests stay)."""
        meta = self._resolve_dml_target(name)
        name = meta.name
        with self._table_lock(name):
            meta = self._read_meta(name)
            if not meta.snapshots:
                return {
                    "rewritten_manifests_count": 0,
                    "added_manifests_count": 0,
                    "pruned_metadata_files": 0,
                }
            before = set(
                self._manifest_list_entries(
                    name, meta.snapshots[-1]["snapshot_id"]
                )
            )
            self._commit_snapshot(meta, "rewrite-manifests", set())
            meta = self._read_meta(name)
            after = set(
                self._manifest_list_entries(
                    name, meta.snapshots[-1]["snapshot_id"]
                )
            )
            pruned = self._prune_orphan_manifests(name)
        return {
            "rewritten_manifests_count": len(before - after),
            "added_manifests_count": len(after - before),
            "pruned_metadata_files": pruned,
        }

    def _manifest_list_entries(self, name: str, sid: int) -> list[str]:
        """Basenames of the manifests a snapshot's avro manifest list
        references (empty when the list is missing/unreadable)."""
        from sample_emr_on_eks_fgac_iceberg_spark.sources.avro_io import (
            read_container,
        )

        path = os.path.join(self.root, name, "metadata", f"snap-{sid}.avro")
        if not os.path.exists(path):
            return []
        try:
            _, _, recs = read_container(path)
        except Exception:
            return []
        return [os.path.basename(r["manifest_path"]) for r in recs]

    def _prune_orphan_manifests(self, name: str) -> int:
        """Delete avro metadata files no surviving snapshot can reach:
        manifest lists of snapshots absent from the log, then manifests
        referenced by no remaining list. Immutable digest-named files
        regenerate on demand if a healed replay ever needs one again."""
        mdir = os.path.join(self.root, name, "metadata")
        if not os.path.isdir(mdir):
            return 0
        live = {int(s["snapshot_id"]) for s in self._read_meta(name).snapshots}
        referenced: set[str] = set()
        removed = 0
        for f in sorted(os.listdir(mdir)):
            if not (f.startswith("snap-") and f.endswith(".avro")):
                continue
            try:
                sid = int(f[5:-5])
            except ValueError:
                continue
            if sid in live:
                referenced.update(self._manifest_list_entries(name, sid))
            else:
                os.remove(os.path.join(mdir, f))
                removed += 1
        for f in sorted(os.listdir(mdir)):
            if (
                f.endswith(".avro")
                and not f.startswith("snap-")
                and f not in referenced
            ):
                os.remove(os.path.join(mdir, f))
                removed += 1
        return removed

    def rewrite_position_delete_files(self, name: str) -> dict:
        """Iceberg's ``rewrite_position_delete_files`` maintenance:
        drop positional delete files that are DANGLING (every data file
        they reference has been compacted/rewritten out of the live
        set — their rows can never subtract anything again) and compact
        the surviving positional-delete rows into a fresh file set.
        Under round 8's streaming CDC-upsert sink each micro-batch adds
        one positional delete file; without this procedure the per-scan
        delete application grows with delete history instead of with
        the files actually referenced.

        One snapshot, operation='replace': old positional delete files
        leave the live set (history still reads them), surviving rows
        commit as new files with fresh refs metadata. DANGLING equality
        delete files — those whose recorded matched-key refs no longer
        intersect the live data-file set (every file they could subtract
        from was rewritten/expired) — are dropped in the same commit;
        surviving equality files are NOT compacted (their application
        is scoped per commit sequence, so merging across sequences
        would change the seq guard). Cost: one scan of the positional
        delete rows (delete files are keys-only, metadata-scale
        relative to data) joined against the live-file list — never a
        data-file read; the equality side is pure metadata."""
        meta = self._resolve_dml_target(name)
        name = meta.name
        with self._table_lock(name):
            meta = self._read_meta(name)
            del_map = self._live_delete_files(meta)
            eq_map, pos_map = (
                self._split_delete_kinds(meta, del_map) if del_map else ({}, {})
            )
            live = self._live_files(meta)
            refs_map = self._delete_refs_from_meta(meta)
            dangling_eq = {
                f
                for f in eq_map
                if f in refs_map and refs_map[f].isdisjoint(live)
            }
            if not pos_map:
                if dangling_eq:
                    self._commit_snapshot(
                        meta,
                        "replace",
                        added=set(),
                        removed_deletes=dangling_eq,
                    )
                return {"removed_delete_files": len(dangling_eq),
                        "added_delete_files": 0,
                        "remaining_rows": 0}
            ddir = self.delete_dir(name)
            raw = self._read_position_deletes(ddir, pos_map)
            live_df = self.spark.createDataFrame(
                [(f,) for f in sorted(live)], "__live_rel string"
            )
            kept = (
                raw.withColumn("__rel", F.expr(self._rel_sql("file_path")))
                .join(
                    F.broadcast(live_df),
                    F.col("__rel") == F.col("__live_rel"),
                    "left_semi",
                )
                .localCheckpoint(eager=False)
            )
            row = kept.agg(
                F.count_distinct("file_path", "pos").alias("n"),
                F.collect_set("__rel").alias("refs"),
            ).collect()[0]  # scale-ok: 1-row schema-probe aggregate
            n = int(row["n"])
            deletes = (
                self._write_position_deletes(meta, kept.drop("__rel"), row["refs"])
                if n
                else {}
            )
            self._commit_snapshot(
                meta,
                "replace",
                added=set(),
                removed_deletes=set(pos_map) | dangling_eq,
                **deletes,
            )
        return {
            "removed_delete_files": len(pos_map) + len(dangling_eq),
            "added_delete_files": len(deletes.get("added_deletes", ())),
            "remaining_rows": n,
        }

    def _zorder_column(self, df: DataFrame, cols: list[str]) -> F.Column:
        """Morton (z-curve) key over ``cols``: each column is min/max
        normalized to a fixed-width integer grid from one tiny stats
        aggregate, then the grid coordinates' bits are interleaved with
        pure JVM shift/mask expressions. Everything after the
        (bounded, 2·n_cols-value) stats row stays inside codegen."""
        numeric_ok = (
            T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType,
            T.DateType, T.TimestampType, T.TimestampNTZType,
        )
        bad = [
            f.name
            for f in df.schema.fields
            if f.name in cols and not isinstance(f.dataType, numeric_ok)
        ]
        if bad:
            raise ValueError(
                f"zorder_by supports numeric/date/timestamp columns; "
                f"got non-orderable-on-grid columns {bad}"
            )
        bits = max(1, min(16, 32 // max(1, len(cols))))
        grid = (1 << bits) - 1
        stats = df.agg(
            *[F.min(c).alias(f"mn_{i}") for i, c in enumerate(cols)],
            *[F.max(c).alias(f"mx_{i}") for i, c in enumerate(cols)],
        ).collect()[0]  # scale-ok: 1-row schema-probe aggregate

        def _as_num(c: F.Column, dtype: T.DataType) -> F.Column:
            if isinstance(dtype, T.DateType):
                return F.datediff(c, F.lit("1970-01-01")).cast("double")
            if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
                return c.cast("timestamp").cast("long").cast("double")
            return c.cast("double")

        dtypes = {f.name: f.dataType for f in df.schema.fields}
        coords = []
        for i, c in enumerate(cols):
            mn, mx = stats[f"mn_{i}"], stats[f"mx_{i}"]
            col = _as_num(F.col(c), dtypes[c])
            lo = _as_num(F.lit(mn), dtypes[c])
            hi = _as_num(F.lit(mx), dtypes[c])
            if mn is None or mx is None or mn == mx:
                coords.append(F.lit(0).cast("long"))
                continue
            coords.append(
                F.floor((col - lo) * grid / (hi - lo)).cast("long")
            )
        n = len(coords)
        z = F.lit(0).cast("long")
        for b in range(bits):
            for i, nv in enumerate(coords):
                bit = F.shiftright(nv, b).bitwiseAND(F.lit(1))
                z = z + F.shiftleft(bit, b * n + i)
        return z

    def compact_table(
        self,
        name: str,
        target_file_bytes: int | None = None,
        zorder_by: list[str] | None = None,
        filters: list[tuple] | None = None,
    ) -> dict:
        """Iceberg's rewrite_data_files: rewrite the live file set into
        ~target-size files and commit a replace snapshot. History is
        preserved — pre-compaction snapshots still read the old files
        until expired.

        ``zorder_by`` switches bin-pack for the z-order strategy
        (OPTIMIZE ... ZORDER BY): rows are range-partitioned and sorted
        by a Morton key over the given columns, so each output file
        covers a small hyper-rectangle of the key space and min/max
        file pruning becomes effective on EVERY z-ordered column, not
        just the leading sort key. At 100 TB this is the difference
        between pruning on one predicate column and pruning on all
        common filter columns.

        ``filters`` ([(col, op, literal)], the read_table grammar —
        Iceberg's ``rewrite_data_files(where => …)``) scopes the
        rewrite to the files the predicate can touch, planned at the
        manifest level: a streaming table compacts its hot partition
        without rewriting the cold 99%. Scoped rewrites keep every
        live delete file — deletes must still apply to the untouched
        files; for the rewritten rows they were materialized by the
        scan, the new files' higher sequence exempts them from old
        equality deletes, and positional refs to the removed files
        become no-ops under ref scoping."""
        meta = self._resolve_dml_target(name)
        name = meta.name
        if target_file_bytes is None:
            # Iceberg's sizing knob for rewrites; 128 MiB default
            target_file_bytes = int(
                meta.properties.get(
                    "write.target-file-size-bytes", 128 * 1024 * 1024
                )
            )
        live = self._live_files(meta)
        live_dels = self._live_delete_files(meta)
        if filters:
            live = self._prune_files(meta, live, filters)
            # deletes stay live: they still subtract from files outside
            # the rewrite scope
            live_dels = {}
            if not live:
                return {"rewritten_files": 0, "added_files": 0}
        if len(live) <= 1 and not live_dels:
            return {"rewritten_files": 0, "added_files": 0}
        data = self.data_dir(name)
        total = sum(os.path.getsize(os.path.join(data, f)) for f in live)
        n_out = max(1, -(-total // target_file_bytes))  # ceil
        # equality deletes already subtracted; under a filter scope the
        # scan is restricted to exactly the files being rewritten
        df = self._scan_live(
            meta, restrict_files=live if filters else None
        )
        if zorder_by:
            missing = [c for c in zorder_by if c not in df.columns]
            if missing:
                raise ValueError(f"zorder_by columns not in schema: {missing}")
            # the z-key replaces the table's write order as the sort
            # within each output file (after the directory columns)
            order = [self._zorder_column(df, list(zorder_by))]
            packed = df.repartitionByRange(int(n_out), order[0])
        else:
            order = None
            cluster = [
                F.col(pf.source) for pf in parse_partition_spec(meta.partition_by)
            ]
            packed = (
                df.repartition(int(n_out), *cluster)
                if cluster
                else df.repartition(int(n_out))
            )
        added, _ = self._rewrite_files(
            meta, packed, "replace", live, removed_deletes=set(live_dels),
            order=order, distribute=False,
        )
        return {
            "rewritten_files": len(live),
            "added_files": len(added),
            "materialized_delete_files": len(live_dels),
        }

    # --------------------------------------------- zero-copy onboarding
    def add_files(self, name: str, source_dir: str) -> dict:
        """Iceberg's ``system.add_files``: register EXISTING parquet
        files into the table WITHOUT rewriting them — the onboarding
        path for data that already lives in the lake. Files are
        hard-linked into the table's data directory (zero-copy on one
        filesystem; cross-device falls back to copy) preserving their
        relative layout (``col=value`` partition dirs land as
        partitions), then ONE append snapshot commits them.

        At 100 TB this is the entire point: a pre-existing parquet lake
        onboards with footer reads + metadata writes — no Spark job
        touches the data bytes (the reference onboards its warehouse
        the same way: Iceberg tables registered over data already in
        object storage, consumer_emr_on_eks_setup.sh:261-287).

        Schema safety (fail-closed, per footer): every imported column
        must exist in the table schema with the same type or one the
        table's type legally WIDENS from (int→bigint, float→double —
        the reader already merges narrow files, see
        _merged_group_schema); unknown or non-widenable columns
        refuse. Missing columns read as NULL."""
        import shutil

        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_type

        meta = self._resolve_dml_target(name)
        src = os.path.abspath(source_dir)
        if not os.path.isdir(src):
            raise ValueError(f"add_files source is not a directory: {src}")
        rels = sorted(
            os.path.relpath(os.path.join(dp, fn), src)
            for dp, _, fns in os.walk(src)
            for fn in fns
            if fn.endswith(".parquet")
        )
        if not rels:
            raise ValueError(f"add_files found no parquet files under {src}")
        tbl = {f.name: f.dataType for f in meta.schema.fields}
        n_records = 0
        for rel in rels:
            pf = pq.ParquetFile(os.path.join(src, rel))
            n_records += pf.metadata.num_rows
            for fld in pf.schema_arrow:
                if fld.name not in tbl:
                    raise ValueError(
                        f"add_files: column '{fld.name}' of {rel} not in "
                        f"table '{meta.name}' schema"
                    )
                ftype = from_arrow_type(fld.type)
                ttype = tbl[fld.name]
                if ftype != ttype and self._widen_pair(ftype, ttype) != ttype:
                    raise ValueError(
                        f"add_files: column '{fld.name}' type "
                        f"{ftype.simpleString()} incompatible with table "
                        f"type {ttype.simpleString()}"
                    )
        data = self.data_dir(meta.name)
        with self._table_lock(meta.name):
            cur = self._read_meta(meta.name)
            existing = self._live_files(cur) | {
                f for s in cur.snapshots for f in s["added_files"]
            }
            added: set[str] = set()
            for rel in rels:
                # name-dedup probes the DISK too, not just metadata-known
                # names: an orphan from a crashed write may occupy the
                # name without any snapshot referencing it (ADVICE r9 —
                # os.link would EEXIST and a blanket copy2 fallback
                # would silently overwrite it)
                dst_rel, i = rel, 0
                while (
                    dst_rel in existing
                    or dst_rel in added
                    or os.path.exists(os.path.join(data, dst_rel))
                ):
                    i += 1
                    base, ext = os.path.splitext(rel)
                    dst_rel = f"{base}-import{i}{ext}"
                dst = os.path.join(data, dst_rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                try:
                    os.link(os.path.join(src, rel), dst)
                except OSError as e:
                    if e.errno == errno.EXDEV:
                        # cross-device import: zero-copy impossible
                        shutil.copy2(os.path.join(src, rel), dst)
                    elif e.errno == errno.EEXIST:
                        # raced onto a name that appeared after the
                        # probe — extremely narrow, but never overwrite
                        raise ValueError(
                            f"add_files: destination {dst_rel} appeared "
                            "concurrently; retry the import"
                        ) from e
                    else:
                        raise  # EPERM/ENOSPC/…: surface, don't mask as a copy
                added.add(dst_rel)
            self._commit_snapshot(cur, "append", added=added)
        return {"added_files": len(added), "added_records": n_records}

    def snapshot_table(self, source_dir: str, name: str) -> dict:
        """Iceberg's ``system.snapshot``: create a NEW table over an
        existing parquet directory without copying data — schema
        inferred from the files (one metadata-only Spark read), then
        ``add_files``. The created table is a regular table: subsequent
        DML rewrites only the files it touches."""
        df = self.spark.read.parquet(source_dir)
        if self.table_exists(name):
            raise ValueError(f"snapshot target table '{name}' already exists")
        self.create_table(name, df.schema)
        stats = self.add_files(name, source_dir)
        return {"imported_files": stats["added_files"],
                "imported_records": stats["added_records"]}
