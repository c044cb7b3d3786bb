"""Filesystem catalog: named namespaces of lake tables + one SQL door.

The reference's users address tables by name through one database handle
(``/root/reference/app/database/connection.py`` + the repositories layer);
this is the lake-native equivalent — an Iceberg *HadoopCatalog* analogue:
a catalog IS a directory, a namespace IS a subdirectory, a table IS a
`LakeTable` root inside it (detected by its version-hint file). No service,
no registry database — listing is a directory walk, creation/commits are
the table's own atomic metadata protocol, so everything the engine
guarantees per table (flock'd commits, snapshots, time travel) is already
catalog-safe.

``Catalog.sql`` resolves every table name under the catalog into a fresh
snapshot-isolated view (see `lake/sql.py`) and runs the statement — the
"switch your SQL over" on-ramp.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from etl_documentos_spark.lake import sql as lake_sql
from etl_documentos_spark.lake.table import _HINT, LakeTable


class Catalog:
    def __init__(self, root: str):
        self.root = root
        #: temp-view names this catalog has itself registered (snapshot
        #: views of catalog tables, per statement) and not dropped since.
        #: CTAS may freely replace/drop these; a session view NOT in this
        #: set belongs to the caller and must never be clobbered.
        self._managed_views: set[str] = set()
        os.makedirs(root, exist_ok=True)

    def _path(self, name: str) -> str:
        ns, _, tbl = name.rpartition(".")
        parts = [p for p in (*ns.split("."), tbl) if p]
        if not parts or any(
            p in ("", ".", "..") or "/" in p for p in parts
        ):
            raise ValueError(f"invalid table name {name!r}")
        return os.path.join(self.root, *parts)

    def create_table(
        self,
        name: str,
        schema: T.StructType,
        num_buckets: int = 16,
        **kwargs,
    ) -> LakeTable:
        """Create ``ns.table`` (namespace dirs made on demand)."""
        path = self._path(name)
        if LakeTable.exists(path):
            raise FileExistsError(f"table {name!r} already exists")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return LakeTable.create(path, schema, num_buckets=num_buckets, **kwargs)

    def load_table(self, name: str) -> LakeTable:
        path = self._path(name)
        if not LakeTable.exists(path):
            raise KeyError(f"no such table {name!r}")
        return LakeTable.load(path)

    def table_exists(self, name: str) -> bool:
        return LakeTable.exists(self._path(name))

    def list_tables(self) -> list[str]:
        """All table names (dotted), found by walking for version hints."""
        out = []
        for dirpath, dirnames, filenames in os.walk(self.root):
            if _HINT in filenames:
                if ".dropped" not in os.path.basename(dirpath):
                    rel = os.path.relpath(dirpath, self.root)
                    out.append(rel.replace(os.sep, "."))
                dirnames.clear()  # tables do not nest
        return sorted(out)

    def drop_table(self, name: str, purge: bool = False) -> None:
        """Forget a table; ``purge=True`` also deletes its files (the
        Iceberg DROP TABLE ... PURGE distinction). Without purge the data
        stays on disk and the name simply stops resolving here — this
        catalog has no state besides the directory tree, so non-purge drop
        moves the table aside rather than deleting bytes."""
        path = self._path(name)
        if not LakeTable.exists(path):
            raise KeyError(f"no such table {name!r}")
        if purge:
            shutil.rmtree(path)
        else:
            # unique aside name: drop/recreate/drop must not collide with
            # the remains of an earlier non-purge drop of the same name
            import uuid

            os.rename(path, f"{path}.dropped-{uuid.uuid4().hex[:8]}")

    def sql(self, spark: SparkSession, query: str) -> DataFrame:
        """Run SQL over every table in the catalog (names with dots are
        registered with underscores: ``raw.transcripts`` ->
        ``raw_transcripts`` — Spark temp views cannot hold dots).

        DML statements (``DELETE FROM t WHERE ...`` / ``UPDATE t SET ...``
        / ``INSERT INTO t ...`` / ``MERGE INTO t USING ...``) are
        dispatched onto the version-checked DML (`operators.dml`) against
        the named table — see `lake.sql.sql`. DDL (``CREATE TABLE`` /
        ``DROP TABLE`` / ``SHOW TABLES`` / ``DESCRIBE``) and maintenance
        (``OPTIMIZE`` / ``VACUUM``) statements route to the catalog's own
        procedures — see `run_ddl` / `lake.sql._run_maintenance`."""
        if _DDL_HEAD.match(query):
            return run_ddl(self, spark, query)
        tables: dict[str, LakeTable] = {}
        for name in self.list_tables():
            view = name.replace(".", "_")
            if view in tables:
                raise ValueError(
                    f"view name collision: two catalog tables map to "
                    f"{view!r} after dot->underscore folding (rename one)"
                )
            tables[view] = self.load_table(name)
        self._managed_views.update(tables)
        return lake_sql.sql(spark, tables, query)


_DDL_HEAD = re.compile(
    r"^\s*(create|drop|show|describe|desc)\b", re.IGNORECASE
)


def _parse_tblproperties(text: str) -> dict[str, str]:
    """``'k'='v', 'k2'='v2'`` -> dict (quoted keys/values, SQL style)."""
    import re

    props: dict[str, str] = {}
    for m in re.finditer(r"'([^']*)'\s*=\s*'([^']*)'", text):
        props[m.group(1)] = m.group(2)
    return props


def run_ddl(
    catalog: "Catalog", spark: SparkSession, query: str
) -> DataFrame:
    """DDL at the catalog door.

    Grammar (Iceberg SQL shapes)::

        CREATE TABLE [IF NOT EXISTS] ns.name (col type, ...)
            [PARTITIONED BY (bucket(N, col))]
            [TBLPROPERTIES ('k'='v', ...)]
        CREATE TABLE [IF NOT EXISTS] ns.name
            [PARTITIONED BY (bucket(N, col))] [TBLPROPERTIES (...)]
            AS SELECT ...                      -- CTAS (schema from SELECT)
        DROP TABLE [IF EXISTS] ns.name [PURGE]
        SHOW TABLES
        SHOW CREATE TABLE ns.name
        SHOW PARTITIONS ns.name
        SHOW TBLPROPERTIES ns.name [('key')]
        DESCRIBE [TABLE] ns.name

    The column list is the LOGICAL schema; the engine appends its managed
    system columns (``_lsn``, ``_deleted`` — the row version and the
    tombstone marker) exactly as `operators.merge.physical_schema` does,
    and DESCRIBE reports the logical columns plus the partition spec.
    Default partitioning is ``bucket(16, conv_id)`` when no PARTITIONED BY
    is given and the schema carries ``conv_id`` (the transcript shape);
    otherwise the first column is the bucket source.
    """
    import re

    from etl_documentos_spark.operators.merge import (
        SYSTEM_COL_NAMES,
        physical_schema,
    )

    q = query.strip().rstrip(";")

    if re.match(r"^\s*SHOW\s+TABLES\s*$", q, re.I):
        names = catalog.list_tables()
        return spark.createDataFrame(
            [(n,) for n in sorted(names)] or [], "table string"
        )

    m = re.match(r"^\s*SHOW\s+PARTITIONS\s+([\w.]+)\s*$", q, re.I)
    if m:
        return lake_sql.partitions_df(spark, catalog.load_table(m.group(1)))

    m = re.match(
        r"^\s*SHOW\s+TBLPROPERTIES\s+([\w.]+)"
        r"(?:\s*\(\s*'([^']+)'\s*\))?\s*$",
        q,
        re.I,
    )
    if m:
        props = catalog.load_table(m.group(1)).properties
        key = m.group(2)
        if key is not None:
            if key not in props:
                raise KeyError(
                    f"table {m.group(1)!r} has no property {key!r}"
                )
            props = {key: props[key]}
        return spark.createDataFrame(
            [(k, str(v)) for k, v in sorted(props.items())],
            "key string, value string",
        )

    m = re.match(r"^\s*SHOW\s+CREATE\s+TABLE\s+([\w.]+)\s*$", q, re.I)
    if m:
        name = m.group(1)
        t = catalog.load_table(name)
        spec = t._meta["partition_spec"]
        cols = ",\n  ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in t.schema.fields
            if f.name not in SYSTEM_COL_NAMES
        )
        props = t._meta.get("properties") or {}
        prop_sql = (
            "\nTBLPROPERTIES ("
            + ", ".join(f"'{k}'='{v}'" for k, v in sorted(props.items()))
            + ")"
            if props
            else ""
        )
        ddl = (
            f"CREATE TABLE {name} (\n  {cols})\n"
            f"PARTITIONED BY (bucket({spec['num_buckets']}, "
            f"{spec['source_col']})){prop_sql}"
        )
        return spark.createDataFrame(
            [(name, ddl)], "table string, create_statement string"
        )

    m = re.match(r"^\s*(?:DESCRIBE|DESC)\s+(?:TABLE\s+)?([\w.]+)\s*$", q, re.I)
    if m:
        t = catalog.load_table(m.group(1))
        spec = t._meta["partition_spec"]
        rows = [
            (f.name, f.dataType.simpleString(), "")
            for f in t.schema.fields
            if f.name not in SYSTEM_COL_NAMES
        ]
        rows.append(("# partition", "", ""))
        rows.append(
            (
                "bucket",
                f"bucket({spec['num_buckets']}, {spec['source_col']})",
                "",
            )
        )
        return spark.createDataFrame(
            rows, "col_name string, data_type string, comment string"
        )

    m = re.match(
        r"^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.]+)\s*(PURGE)?\s*$",
        q,
        re.I,
    )
    if m:
        if_exists, name, purge = m.group(1), m.group(2), bool(m.group(3))
        if not catalog.table_exists(name):
            if if_exists:
                return spark.createDataFrame(
                    [(name, "drop", False)],
                    "table string, operation string, dropped boolean",
                )
            raise KeyError(f"no such table {name!r}")
        catalog.drop_table(name, purge=purge)
        return spark.createDataFrame(
            [(name, "drop", True)],
            "table string, operation string, dropped boolean",
        )

    m = re.match(
        r"^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*\(", q, re.I
    )
    if m:
        if_not_exists, name = bool(m.group(1)), m.group(2)
        open_i = q.index("(", m.end() - 1)
        close_i = lake_sql._match_paren(q, open_i)
        cols_ddl = q[open_i + 1 : close_i - 1]
        rest = q[close_i:].strip()
        schema = T.StructType.fromDDL(cols_ddl)

        num_buckets, bucket_col = 16, None
        pm = re.match(
            r"^PARTITIONED\s+BY\s*\(\s*bucket\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)"
            r"\s*\)\s*",
            rest,
            re.I,
        )
        if pm:
            num_buckets, bucket_col = int(pm.group(1)), pm.group(2)
            rest = rest[pm.end():].strip()
        props: dict[str, str] = {}
        tm = re.match(r"^TBLPROPERTIES\s*\(", rest, re.I)
        if tm:
            end = lake_sql._match_paren(rest, tm.end() - 1)
            props = _parse_tblproperties(rest[tm.end() : end - 1])
            rest = rest[end:].strip()
        if rest:
            raise ValueError(f"unsupported CREATE TABLE trailer: {rest!r}")
        if bucket_col is None:
            names = [f.name for f in schema.fields]
            bucket_col = "conv_id" if "conv_id" in names else names[0]
        elif bucket_col not in {f.name for f in schema.fields}:
            raise ValueError(
                f"PARTITIONED BY bucket column {bucket_col!r} not in schema"
            )
        if catalog.table_exists(name):
            if if_not_exists:
                return spark.createDataFrame(
                    [(name, "create", False)],
                    "table string, operation string, created boolean",
                )
            raise FileExistsError(f"table {name!r} already exists")
        catalog.create_table(
            name,
            physical_schema(schema),
            num_buckets=num_buckets,
            bucket_col=bucket_col,
            properties=props or None,
        )
        return spark.createDataFrame(
            [(name, "create", True)],
            "table string, operation string, created boolean",
        )

    m = re.match(
        r"^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s+(.*)$",
        q,
        re.I | re.S,
    )
    if m:  # CTAS: schema comes from the SELECT
        from etl_documentos_spark.operators import dml
        from etl_documentos_spark.schemas import KEY_COLS

        if_not_exists, name, rest = (
            bool(m.group(1)), m.group(2), m.group(3).strip()
        )
        num_buckets, bucket_col = 16, None
        pm = re.match(
            r"^PARTITIONED\s+BY\s*\(\s*bucket\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)"
            r"\s*\)\s*",
            rest,
            re.I,
        )
        if pm:
            num_buckets, bucket_col = int(pm.group(1)), pm.group(2)
            rest = rest[pm.end():].strip()
        props: dict[str, str] = {}
        tm = re.match(r"^TBLPROPERTIES\s*\(", rest, re.I)
        if tm:
            end = lake_sql._match_paren(rest, tm.end() - 1)
            props = _parse_tblproperties(rest[tm.end() : end - 1])
            rest = rest[end:].strip()
        am = re.match(r"^AS\s+(.*)$", rest, re.I | re.S)
        if not am:
            raise ValueError(f"unsupported CREATE TABLE statement: {query!r}")
        select = am.group(1).strip()
        if catalog.table_exists(name):
            if if_not_exists:
                return spark.createDataFrame(
                    [(name, "create", False, 0)],
                    "table string, operation string, created boolean,"
                    " rows long",
                )
            raise FileExistsError(f"table {name!r} already exists")
        # the SELECT sees every catalog table (snapshot-isolated views),
        # plus any session temp views the caller registered. Same
        # collision rule as Catalog.sql (two catalog names folding to one
        # view is an error); the views registered here are dropped once
        # the statement has executed, so the session is not left holding
        # stale snapshot views (the read path re-registers per statement).
        registered: list[str] = []
        # a CALLER'S pre-existing session temp view with a colliding name
        # would be createOrReplace'd AND then dropped by the finally —
        # destroying it as a side effect of running a CTAS. Ambiguity is
        # an error, not a silent clobber. Views the catalog itself
        # registered on earlier statements (tracked in _managed_views)
        # are ours to replace.
        session_views = {
            t.name for t in spark.catalog.listTables() if t.isTemporary
        } - getattr(catalog, "_managed_views", set())
        try:
            for n in catalog.list_tables():
                view = n.replace(".", "_")
                if view in registered:
                    raise ValueError(
                        f"view name collision: two catalog tables map to "
                        f"{view!r} after dot->underscore folding "
                        "(rename one)"
                    )
                if view in session_views:
                    raise ValueError(
                        f"session temp view {view!r} shadows catalog "
                        f"table {n!r} in CTAS — drop or rename it first"
                    )
                lake_sql.current_view(spark, catalog.load_table(n), view)
                registered.append(view)
            rows = spark.sql(select)
            names = {f.name for f in rows.schema.fields}
            missing = {*KEY_COLS, "ts"} - names
            if missing:
                raise ValueError(
                    f"CTAS SELECT must produce the key columns + ts "
                    f"(missing {sorted(missing)}) — every catalog table "
                    "is a keyed, versioned lake table"
                )
            if bucket_col is None:
                bucket_col = KEY_COLS[0]
            table = catalog.create_table(
                name,
                physical_schema(rows.schema),
                num_buckets=num_buckets,
                bucket_col=bucket_col,
                properties=props or None,
            )
            n_rows = dml.insert_into(spark, table, rows)
        finally:
            for v in registered:
                spark.catalog.dropTempView(v)
            # dropped views are no longer ours: a caller's later view of
            # the same name must count as the caller's
            getattr(catalog, "_managed_views", set()).difference_update(
                registered
            )
        return spark.createDataFrame(
            [(name, "create", True, n_rows)],
            "table string, operation string, created boolean, rows long",
        )

    raise ValueError(f"unsupported DDL statement: {query!r}")
