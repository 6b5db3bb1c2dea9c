"""Source registry — explicit-schema loaders for the driver testdata and
generic batch/stream sources.

The reference's sources are Kafka topics with serde-implied schemas
(builder.stream/table, ConfigHelper.scala:26-29). Our engine declares
explicit schemas per source (SURVEY §1): strict StructTypes, never inferred,
so a scan at 100 TB never pays schema inference and pushdown always has
typed columns to push into.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Explicit schemas for every driver table (TESTDATA.md). Kept strict: a
# mismatch fails loudly at read, not silently mid-query.
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType()
    .add("r_regionkey", T.IntegerType())
    .add("r_name", T.StringType()),
    "nation": T.StructType()
    .add("n_nationkey", T.IntegerType())
    .add("n_name", T.StringType())
    .add("n_regionkey", T.IntegerType()),
    "customer": T.StructType()
    .add("c_custkey", T.LongType())
    .add("c_name", T.StringType())
    .add("c_nationkey", T.IntegerType())
    .add("c_acctbal", T.DoubleType())
    .add("c_mktsegment", T.StringType()),
    "supplier": T.StructType()
    .add("s_suppkey", T.LongType())
    .add("s_name", T.StringType())
    .add("s_nationkey", T.IntegerType())
    .add("s_acctbal", T.DoubleType()),
    "part": T.StructType()
    .add("p_partkey", T.LongType())
    .add("p_name", T.StringType())
    .add("p_brand", T.StringType())
    .add("p_type", T.StringType())
    .add("p_size", T.IntegerType())
    .add("p_retailprice", T.DoubleType()),
    "orders": T.StructType()
    .add("o_orderkey", T.LongType())
    .add("o_custkey", T.LongType())
    .add("o_orderstatus", T.StringType())
    .add("o_totalprice", T.DoubleType())
    .add("o_orderdate", T.TimestampType())
    .add("o_orderpriority", T.StringType()),
    "lineitem": T.StructType()
    .add("l_orderkey", T.LongType())
    .add("l_partkey", T.LongType())
    .add("l_suppkey", T.LongType())
    .add("l_linenumber", T.IntegerType())
    .add("l_quantity", T.DoubleType())
    .add("l_extendedprice", T.DoubleType())
    .add("l_discount", T.DoubleType())
    .add("l_tax", T.DoubleType())
    .add("l_returnflag", T.StringType())
    .add("l_linestatus", T.StringType())
    .add("l_shipdate", T.TimestampType()),
    # ts is physically INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false); with
    # the session timezone pinned to UTC (session.py) Spark reads the same
    # wall-clock instants DuckDB does.
    "events": T.StructType()
    .add("event_id", T.LongType())
    .add("ts", T.TimestampType())
    .add("user_id", T.LongType())
    .add("event_type", T.StringType())
    .add("value", T.DoubleType())
    .add("props", T.StringType()),
    "documents": T.StructType()
    .add("doc_id", T.LongType())
    .add("text", T.StringType())
    .add("lang", T.StringType())
    .add("source", T.StringType())
    .add("n_chars", T.LongType()),
    "embeddings": T.StructType()
    .add("vec_id", T.LongType())
    .add("embedding", T.ArrayType(T.FloatType()))
    .add("label", T.IntegerType()),
}

TABLE_NAMES = tuple(SCHEMAS)


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Read one driver parquet table with its declared schema."""
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    return spark.read.schema(SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


class Tables:
    """Convenience handle: ``Tables(spark, sf_dir).lineitem`` etc."""

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self._spark = spark
        self._sf_dir = sf_dir

    def __getattr__(self, name: str) -> DataFrame:
        if name in SCHEMAS:
            return load_table(self._spark, name, self._sf_dir)
        raise AttributeError(name)


def read_stream_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Streaming read of a driver table (file source — the test-harness
    stand-in for a Kafka topic; SURVEY §3 EP3: availableNow + file source is
    PySpark's TopologyTestDriver equivalent).

    The file stream source only accepts directories/globs, so the single
    per-table file is selected via pathGlobFilter over the sf dir."""
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    return (
        spark.readStream.schema(SCHEMAS[name])
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = False,
    permissive: bool = True,
) -> DataFrame:
    """CSV scan source (the reference's orphaned fixture
    src/test/resources/song_source.csv — SURVEY §2a). PERMISSIVE mode +
    ``_corrupt_record`` is the batch equivalent of Kafka Streams'
    LogAndContinueExceptionHandler (DSLStatefulTransformation.scala:21,30):
    undeserializable rows don't kill the query, they surface for
    dead-lettering (SURVEY §2i)."""
    if not permissive:
        return (
            spark.read.option("header", str(header).lower())
            .option("mode", "FAILFAST")
            .schema(schema)
            .csv(path)
        )
    # Permissive path parses via from_csv over a text scan instead of the
    # native CSV reader: filtering on the reader's _corrupt_record column is
    # disallowed (QUERY_ONLY_CORRUPT_RECORD_COLUMN — column pruning would
    # break corruption detection), while expression-level parsing has no
    # pruning hazard and keeps the raw line for the dead-letter sink. One
    # scan, JVM-side parse, any scale. (Trade-off: no multiline-quoted rows.)
    full = T.StructType(list(schema.fields)).add("_corrupt_record", T.StringType())
    raw = spark.read.text(path)
    if header:
        first = raw.limit(1).collect()[0][0]
        raw = raw.filter(F.col("value") != F.lit(first))
    parsed = raw.select(
        F.from_csv(
            F.col("value"),
            full.simpleString(),
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("_r")
    )
    return parsed.select("_r.*")


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    permissive: bool = True,
) -> DataFrame:
    """JSON-lines scan source with the same dead-letter contract as
    read_csv: PERMISSIVE ``from_json`` over a text scan keeps the raw line
    in ``_corrupt_record`` for rows that fail to parse (the
    LogAndContinueExceptionHandler analogue for JSON payloads — the
    reference's props column is JSON, SURVEY §2i), while FAILFAST is the
    fail-on-first-error mode. Expression-level parsing avoids the native
    reader's QUERY_ONLY_CORRUPT_RECORD_COLUMN pruning hazard; one scan,
    JVM-side parse."""
    if not permissive:
        return (
            spark.read.option("mode", "FAILFAST").schema(schema).json(path)
        )
    full = T.StructType(list(schema.fields)).add("_corrupt_record", T.StringType())
    raw = spark.read.text(path)
    parsed = raw.select(
        F.from_json(
            F.col("value"),
            full,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("_r"),
        F.col("value").alias("_raw"),
    )
    # from_json yields a NULL struct (not a populated _corrupt_record) for
    # undecodable lines — normalize both shapes to the read_csv contract
    out = parsed.select(
        *[F.col(f"_r.{f.name}").alias(f.name) for f in schema.fields],
        F.when(F.col("_r").isNull(), F.col("_raw"))
        .otherwise(F.col("_r._corrupt_record"))
        .alias("_corrupt_record"),
    )
    return out


def dead_letter_split(df: DataFrame, corrupt_col: str = "_corrupt_record") -> tuple[DataFrame, DataFrame]:
    """(good, dead) split of a permissively-parsed frame: good rows with the
    corrupt column dropped; dead rows as the raw corrupt payload, ready for
    a dead-letter sink. Both are narrow filters over one scan."""
    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    # Spark disallows scans that reference ONLY the corrupt column
    # (QUERY_ONLY_CORRUPT_RECORD_COLUMN), so the dead side keeps the parsed
    # columns alongside the raw payload — useful in the dead-letter sink
    # anyway (partial parses aid triage).
    dead = df.filter(F.col(corrupt_col).isNotNull()).withColumnRenamed(corrupt_col, "raw")
    return good, dead


def rate_stream(spark: SparkSession, rows_per_second: int = 100, num_keys: int = 8) -> DataFrame:
    """Synthetic load generator (Spark's rate source) in the canonical
    record shape (key/value/timestamp/offset) — the no-files-no-broker
    streaming source for smoke and throughput runs; keys round-robin over
    ``num_keys``. Parallelism scales with numPartitions on a cluster."""
    df = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )
    return df.select(
        F.pmod(F.col("value"), F.lit(num_keys)).cast("string").alias("key"),
        F.col("value"),
        F.col("timestamp"),
        F.col("value").alias("offset"),
    )
