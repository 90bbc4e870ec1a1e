"""Parquet fixture source: treats a directory of parquet files as a "source
database" whose catalog we scan from the parquet footers.

This is the test stand-in for a JDBC source (TESTDATA.md tables), and also a
real adapter: at 100 TB the "source" is usually a data-lake directory tree,
and its catalog is exactly the file metadata. Schema discovery touches only
footers (pyarrow, driver-side), never data.

Nanosecond timestamps: parquet TIMESTAMP(NANOS) is not readable by Spark's
vectorized reader (Spark is microsecond — SURVEY.md §1.2 / §7.5 "timestamp
precision >6"). The reference would emit TIMESTAMP(9) and lose sub-µs; we do
one better, per the survey's recommendation: read the raw int64 nanos via
``spark.sql.legacy.parquet.nanosAsLong`` and expose BOTH a µs-truncated
timestamp column (same name) and a ``<name>_ns`` LongType sidecar carrying
the exact value. Truncation (not rounding) matches how engines cast
timestamp_ns → timestamp, so external oracles agree.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from database_migration_spark.catalog import Catalog, ColumnMeta, TableMeta
from database_migration_spark.sources.base import SourceAdapter

# pyarrow type string prefix → the "source type" string our typemap
# understands, so the fixture round-trips through the same mapping path a
# JDBC source would.
_ARROW_TO_SOURCE = {
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "bigint",
    "float": "real",
    "double": "double",
    "bool": "boolean",
    "date32": "date",
    "date64": "date",
    "string": "varchar",
    "large_string": "varchar",
    "binary": "varbinary",
    "large_binary": "varbinary",
}


def arrow_type_to_source(atype) -> str:
    import pyarrow as pa

    s = str(atype)
    if s.startswith("timestamp"):
        # timestamp[ns] → datetime(9) etc., so typemap flags precision loss
        unit = atype.unit  # 's' | 'ms' | 'us' | 'ns'
        prec = {"s": 0, "ms": 3, "us": 6, "ns": 9}[unit]
        return f"timestamp({prec})" if atype.tz else f"datetime({prec})"
    if pa.types.is_decimal(atype):
        return f"decimal({atype.precision},{atype.scale})"
    if pa.types.is_list(atype) or pa.types.is_large_list(atype):
        return "array"
    if pa.types.is_map(atype):
        return "map"
    if pa.types.is_struct(atype):
        return "nested"
    return _ARROW_TO_SOURCE.get(s, s)


def nanos_timestamp_columns(path: str) -> list[str]:
    """Column names stored as parquet INT64 TIMESTAMP(NANOS) — footer-only.

    Checks the PARQUET schema, not the Arrow view of it: legacy INT96
    timestamps (Spark's historical default writer output) surface as
    timestamp[ns] in Arrow but Spark reads them natively as TIMESTAMP, so
    flagging them would push a TIMESTAMP column through the long-sidecar
    rebuild and fail analysis. Only true INT64 nanos columns qualify."""
    import pyarrow.parquet as pq

    return _nanos_columns(pq.ParquetFile(path).schema)


def _nanos_columns(sch) -> list[str]:
    out = []
    for i in range(len(sch)):
        c = sch.column(i)
        if c.physical_type != "INT64":
            continue
        lt = c.logical_type
        if (
            getattr(lt, "type", None) == "TIMESTAMP"
            and "timeUnit=nanoseconds" in str(lt)
        ):
            out.append(c.name)
    return out


# the footer key under which Spark's parquet writer stores the row schema
_SPARK_ROW_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"


def read_parquet_portable(spark: SparkSession, path: str, nanos_sidecar: bool = True) -> DataFrame:
    """Read parquet that may contain TIMESTAMP(NANOS) columns.

    Plain read when none; otherwise reads nanos as long (runtime conf) and
    rebuilds: ``col`` = µs-truncated timestamp, ``col_ns`` = exact int64 nanos.

    A plain read of files Spark wrote takes its schema from the first
    footer's Spark row schema: the schema inference would pick, without
    the inference job a bare ``spark.read.parquet`` runs. The file source
    makes every field of a given schema nullable, as it does an inferred
    one, and still discovers partition columns from the directory names.
    Other writers' files are inferred.
    """
    import pyarrow.parquet as pq

    footer = pq.read_metadata(_first_parquet_file(path))
    ns_cols = _nanos_columns(footer.schema)
    if not ns_cols:
        stored = (footer.metadata or {}).get(_SPARK_ROW_SCHEMA)
        if stored is None:
            return spark.read.parquet(path)
        schema = T.StructType.fromJson(json.loads(stored))
        return spark.read.schema(schema).parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        if nanos_sidecar:
            df = df.withColumn(f"{c}_ns", F.col(c))
        # integer division: `col / 1000` would go through double, which
        # cannot represent epoch-nanos (~1.7e18 > 2^53) and rounds the µs
        df = df.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` div 1000").cast("long"))
        )
    # restore original column order (sidecars appended at the end)
    return df


def _first_parquet_file(path: str) -> str:
    """The first data file Spark's listing would read under ``path``:
    names starting with ``.`` or ``_`` are hidden from it (swap aside
    copies, ``_temporary``, ``_SUCCESS``), except ``_col=value`` partition
    directories."""
    if os.path.isfile(path):
        return path
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not _hidden(d))
        for f in sorted(files):
            if f.endswith(".parquet") and not _hidden(f):
                return os.path.join(root, f)
    return path


def _hidden(name: str) -> bool:
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


# The testdata "source database" ships no constraint metadata in its parquet
# footers, so the fixture carries a hand-fed key catalog in the same
# normalized row shapes the DialectSpec pk_sql/fk_sql queries return
# (sources/dialects.py) — the stand-in for a JDBC constraint scan. TPC-H-ish
# relationships per TESTDATA.md.
TESTDATA_PK_ROWS: list[dict] = [
    {"schema_name": "MAIN", "table_name": t, "constraint_name": f"{t.upper()}_PK",
     "column_name": c, "column_position": i + 1}
    for t, cols in [
        ("region", ["r_regionkey"]),
        ("nation", ["n_nationkey"]),
        ("customer", ["c_custkey"]),
        ("supplier", ["s_suppkey"]),
        ("part", ["p_partkey"]),
        ("orders", ["o_orderkey"]),
        ("lineitem", ["l_orderkey", "l_linenumber"]),
        ("events", ["event_id"]),
        ("documents", ["doc_id"]),
        ("embeddings", ["vec_id"]),
    ]
    for i, c in enumerate(cols)
]

TESTDATA_FK_ROWS: list[dict] = [
    {"schema_name": "MAIN", "table_name": t,
     "fk_name": f"{t.upper()}_FK_{rt.upper()}", "fk_column": c,
     "ref_schema": "MAIN", "ref_table": rt, "ref_column": rc,
     "col_position": 1}
    for t, c, rt, rc in [
        ("nation", "n_regionkey", "region", "r_regionkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ]
]

# table/column comments (DialectSpec.comment_sql row shape)
TESTDATA_COMMENT_ROWS: list[dict] = [
    {"schema_name": "MAIN", "table_name": "documents", "sub": 0,
     "column_name": None, "comment_text": "raw text corpus for the pipeline operators"},
    {"schema_name": "MAIN", "table_name": "events", "sub": 2,
     "column_name": "ts", "comment_text": "event time, nanosecond precision at source"},
    {"schema_name": "MAIN", "table_name": "embeddings", "sub": 2,
     "column_name": "embedding", "comment_text": "64-dim float vector"},
]

# distribution keys (DialectSpec.dist_sql row shape): the fact tables
# distribute on their join keys so fact⋈dim co-locates
TESTDATA_DIST_ROWS: list[dict] = [
    {"schema_name": "MAIN", "table_name": "lineitem",
     "column_name": "l_orderkey", "column_position": 1},
    {"schema_name": "MAIN", "table_name": "orders",
     "column_name": "o_custkey", "column_position": 1},
]


class ParquetSource(SourceAdapter):
    DIALECT = "parquet"

    def __init__(self, spark: SparkSession, root: str, schema_name: str = "MAIN", policy=None):
        super().__init__(policy)
        self.spark = spark
        self.root = root
        self.schema_name = schema_name

    def table_path(self, table: str) -> str:
        p = os.path.join(self.root, f"{table}.parquet")
        # suffix-less dataset directory — the standard lake layout and
        # MigrationRunner's own output shape (<dest>/<table>/part-*.parquet)
        return p if os.path.exists(p) else os.path.join(self.root, table)

    def list_tables(self) -> list[str]:
        out = set()
        for f in os.listdir(self.root):
            full = os.path.join(self.root, f)
            if f.endswith(".parquet"):
                out.add(f[: -len(".parquet")])
            elif (
                os.path.isdir(full)
                and not f.startswith(("_", "."))
                and any(n.endswith(".parquet") for n in os.listdir(full))
            ):
                out.add(f)
        return sorted(out)

    def read(self, table: str, nanos_sidecar: bool = True) -> DataFrame:
        return read_parquet_portable(self.spark, self.table_path(table), nanos_sidecar)

    def scan_catalog(
        self,
        schema_filter: str = "%",
        table_filter: str = "%",
        include_keys: bool = False,
    ) -> Catalog:
        import pyarrow.parquet as pq

        from database_migration_spark.catalog import (
            attach_comments,
            attach_distribution,
            attach_keys,
        )

        tables = []
        for t in self.list_tables():
            schema = pq.read_schema(_first_parquet_file(self.table_path(t)))
            cols = tuple(
                ColumnMeta(
                    schema=self.schema_name,
                    table=t,
                    name=f.name,
                    ordinal=i + 1,
                    source_type=arrow_type_to_source(f.type),
                    nullable=f.nullable,
                )
                for i, f in enumerate(schema)
            )
            tables.append(TableMeta(schema=self.schema_name, table=t, columns=cols))
        cat = Catalog(tables=tables).filter(schema_filter, table_filter)
        if include_keys:
            cat = attach_keys(cat, TESTDATA_PK_ROWS, TESTDATA_FK_ROWS)
            cat = attach_comments(cat, TESTDATA_COMMENT_ROWS)
            cat = attach_distribution(cat, TESTDATA_DIST_ROWS)
        return cat
