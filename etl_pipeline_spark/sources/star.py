"""Star-schema table catalog over the driver-generated parquet testdata.

The reference stages everything through a per-run staging store keyed by
source name (reference: etl/loaders/filegdb.py:65-96), and its Stage phase
reads each staged dataset against a known schema. Our analog is a catalog
of named parquet tables, each read against the schema its own parquet
footer declares: ``footer_schema`` reads the footer with pyarrow (a
fraction of a millisecond, no Spark job) and maps it to the schema
``spark.read.parquet`` would infer, so a load never runs Spark's
schema-inference job. Scans stay columnar with pushdown.

The expected columns below are a *frozen contract*, checked against the
footer on every load: SURVEY.md §1.3 calls out schema-on-write bypass
(`schema_type="NO_TEST"`, reference: etl/pipeline.py:692-695) as the
reference's biggest correctness hole, so a table missing a column fails
at load instead of reading the column as NULL.

`events.ts` has shipped both as INT64 TIMESTAMP(NANOS), which Spark cannot
read as a timestamp, and as TIMESTAMP(MICROS). Either way it is exposed
as nanosecond epoch (bigint); a NANOS column is read as its physical int64
through the supplied schema, with no session conf changed. Query code uses
pure epoch arithmetic on it — timezone-proof and identical in any session.
"""

from __future__ import annotations

import json
import os
from threading import Lock

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from etl_pipeline_spark.utils.session_cache import register_cache, session_key

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Columns we rely on, per table (subset contract — extra columns are fine).
EXPECTED_COLUMNS: dict[str, set[str]] = {
    "region": {"r_regionkey", "r_name"},
    "nation": {"n_nationkey", "n_name", "n_regionkey"},
    "customer": {"c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"},
    "supplier": {"s_suppkey", "s_name", "s_nationkey", "s_acctbal"},
    "part": {"p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"},
    "orders": {
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    },
    "lineitem": {
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    },
    "events": {"event_id", "ts", "user_id", "event_type", "value", "props"},
    "documents": {"doc_id", "text", "lang", "source", "n_chars"},
    "embeddings": {"vec_id", "embedding", "label"},
}


# Per-(session, sf_dir, table) memo of the ANALYZED relation. A cold load
# runs no Spark job, but it still lists the path and analyzes the scan;
# the memo skips both on every later load in the session, as a catalog
# table's cached metadata does, and hands every plan of the session the
# same relation object for a table.
# NO persist() anywhere: the memo holds a lazy plan, so every action
# still recomputes from the parquet input — plan reuse, not result
# caching. Cleared with the other session memos via clear_caches().
_TABLE_MEMO: dict = register_cache({})
_TABLE_LOCK = Lock()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one star-schema table from ``{sf_dir}/{name}.parquet`` against
    the schema of its parquet footer (see ``footer_schema``)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    key = (session_key(spark), sf_dir, name)
    with _TABLE_LOCK:
        df = _TABLE_MEMO.get(key)
    if df is None:
        path = f"{sf_dir}/{name}.parquet"
        df = spark.read.schema(footer_schema(spark, path, name)).parquet(path)
        if name == "events":
            df = _events_ts_to_epoch_ns(df)
        with _TABLE_LOCK:
            df = _TABLE_MEMO.setdefault(key, df)
    return df


# Spark-written parquet carries the writer's Spark schema in the footer;
# Spark's own inference returns it as is.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

# Footer types whose Spark reading depends on no session conf.
_PLAIN_TYPES = {
    pa.bool_(): T.BooleanType(),
    pa.int8(): T.ByteType(),
    pa.int16(): T.ShortType(),
    pa.int32(): T.IntegerType(),
    pa.int64(): T.LongType(),
    pa.uint8(): T.ShortType(),
    pa.uint16(): T.IntegerType(),
    pa.uint32(): T.LongType(),
    pa.uint64(): T.DecimalType(20, 0),
    pa.float32(): T.FloatType(),
    pa.float64(): T.DoubleType(),
    pa.string(): T.StringType(),
    pa.large_string(): T.StringType(),
    pa.date32(): T.DateType(),
}


def footer_schema(spark: SparkSession, path: str, table: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` infers for star table
    ``table``, read from the parquet footer with pyarrow and no Spark job. For a directory (a Spark writer's output) the first data file in
    name order stands for all, as in Spark's own inference.

    A Spark-written footer carries Spark's schema, used as is. Any other
    footer is mapped type by type, honouring the two session confs Spark's
    mapping reads. A NANOS ``events.ts`` maps to bigint, the type
    ``spark.sql.legacy.parquet.nanosAsLong`` would infer; the reader needs
    no conf once the schema is supplied. Any other nanosecond or INT96
    timestamp raises rather than guess a reading. A table missing one of
    its ``EXPECTED_COLUMNS`` raises too."""
    md = pq.read_metadata(_first_data_file(path))
    spark_json = (md.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_json is not None:
        schema = T.StructType.fromJson(json.loads(spark_json))
    else:
        physical = {md.schema.column(i).path: md.schema.column(i).physical_type
                    for i in range(md.num_columns)}

        def field(f: pa.Field) -> T.StructField:
            nanos = pa.types.is_timestamp(f.type) and f.type.unit == "ns"
            if nanos and (table, f.name) == ("events", "ts") and physical["ts"] == "INT64":
                return T.StructField("ts", T.LongType())
            return T.StructField(f.name, _spark_type(spark, f.type, f"{path}: {f.name}"))

        schema = T.StructType([field(f) for f in md.schema.to_arrow_schema()])
    missing = EXPECTED_COLUMNS[table] - set(schema.fieldNames())
    if missing:
        raise ValueError(f"table {table!r} at {path} missing expected columns: {sorted(missing)}")
    return schema


def _spark_type(spark: SparkSession, t: pa.DataType, where: str) -> T.DataType:
    """Spark's reading of one pyarrow-mapped footer type (Spark's
    ParquetToSparkSchemaConverter, for the types written here)."""
    if pa.types.is_dictionary(t):
        t = t.value_type
    if t in _PLAIN_TYPES:
        return _PLAIN_TYPES[t]
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        as_string = _conf_on(spark, "spark.sql.parquet.binaryAsString", "false")
        return T.StringType() if as_string else T.BinaryType()
    if pa.types.is_decimal(t):
        return T.DecimalType(t.precision, t.scale)
    if pa.types.is_timestamp(t):
        if t.unit == "ns":
            raise ValueError(
                f"{where} is a nanosecond (INT64 NANOS or INT96) timestamp; only"
                " events.ts has a defined reading (epoch-ns bigint)"
            )
        if t.tz is None and _conf_on(spark, "spark.sql.parquet.inferTimestampNTZ.enabled", "true"):
            return T.TimestampNTZType()
        return T.TimestampType()
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return T.ArrayType(_spark_type(spark, t.value_type, where))
    if pa.types.is_map(t):
        return T.MapType(_spark_type(spark, t.key_type, where), _spark_type(spark, t.item_type, where))
    if pa.types.is_struct(t):
        return T.StructType(
            [T.StructField(f.name, _spark_type(spark, f.type, f"{where}.{f.name}")) for f in t]
        )
    raise TypeError(f"{where}: parquet type {t} has no Spark reading defined here")


def _conf_on(spark: SparkSession, key: str, default: str) -> bool:
    return spark.conf.get(key, default).lower() == "true"


def _first_data_file(path: str) -> str:
    """``path`` for a file; under a directory, the first entry in name order
    that Spark does not skip (``_SUCCESS``, ``_metadata``, ``.crc`` files
    start with ``_`` or ``.``), descending through partition directories."""
    while os.path.isdir(path):
        names = sorted(n for n in os.listdir(path) if not n.startswith(("_", ".")))
        if not names:
            raise FileNotFoundError(f"no parquet data file under {path}")
        path = os.path.join(path, names[0])
    return path


def _events_ts_to_epoch_ns(df: DataFrame) -> DataFrame:
    """Normalize `events.ts` to epoch-nanoseconds BIGINT whatever the
    parquet physical type is (the generator has shipped both INT64
    TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across rounds). All query code
    downstream does pure integer epoch arithmetic on `ts`; the session
    timezone is pinned UTC so the timestamp branch is deterministic, and
    DuckDB oracles use epoch_ns(ts), which is physical-type-agnostic too."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "timestamp_ntz":
        from pyspark.sql import functions as F

        # NTZ wall clock == DuckDB's epoch_ns reading: pure NTZ arithmetic,
        # never a cast through the session timezone (the driver's session
        # tz is unknown — verified hostile-tz in scripts/drive_contract.py)
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
            )
            * F.lit(1000),
        )
    elif ts_type == "timestamp":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.unix_micros(F.col("ts")) * F.lit(1000))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several tables at once: ``t = load_tables(spark, d, 'orders', 'lineitem')``."""
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}
