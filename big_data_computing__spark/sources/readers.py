"""Batch sources with explicit schemas.

The reference reads `"x,y"` CSV text lines (big_data_computing_1.py:152,
big_data_computing_2.py:149-150) with implicit schema-on-parse. The engine
declares StructType schemas at every source (never ``inferSchema``) and
treats Parquet as the canonical format (the harness fixtures in
/root/testdata/sf*/).

The ten fixture tables carry their schemas in :data:`FIXTURE_SCHEMAS`
(column lists in FIXTURES.md §4). Each equals what Spark infers from the
Parquet footer, nullability included: every column nullable, the
``timestamp[us]`` columns as ``timestamp_ntz``, ``embedding`` as
``array<float>``. Declaring them spares every :func:`read_table` call the
footer-reading job that schema inference runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _nullable(**cols: T.DataType) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in cols.items()])


_I, _L, _D, _S = T.IntegerType(), T.LongType(), T.DoubleType(), T.StringType()
_TS = T.TimestampNTZType()

FIXTURE_SCHEMAS = {
    "region": _nullable(r_regionkey=_I, r_name=_S),
    "nation": _nullable(n_nationkey=_I, n_name=_S, n_regionkey=_I),
    "customer": _nullable(
        c_custkey=_L, c_name=_S, c_nationkey=_I, c_acctbal=_D, c_mktsegment=_S
    ),
    "supplier": _nullable(s_suppkey=_L, s_name=_S, s_nationkey=_I, s_acctbal=_D),
    "part": _nullable(
        p_partkey=_L, p_name=_S, p_brand=_S, p_type=_S, p_size=_I,
        p_retailprice=_D,
    ),
    "orders": _nullable(
        o_orderkey=_L, o_custkey=_L, o_orderstatus=_S, o_totalprice=_D,
        o_orderdate=_TS, o_orderpriority=_S,
    ),
    "lineitem": _nullable(
        l_orderkey=_L, l_partkey=_L, l_suppkey=_L, l_linenumber=_I,
        l_quantity=_D, l_extendedprice=_D, l_discount=_D, l_tax=_D,
        l_returnflag=_S, l_linestatus=_S, l_shipdate=_TS,
    ),
    "events": _nullable(
        event_id=_L, ts=_TS, user_id=_L, event_type=_S, value=_D, props=_S
    ),
    "documents": _nullable(doc_id=_L, text=_S, lang=_S, source=_S, n_chars=_L),
    "embeddings": _nullable(
        vec_id=_L, embedding=T.ArrayType(T.FloatType(), True), label=_I
    ),
}

TABLES = tuple(FIXTURE_SCHEMAS)

POINTS_2D_SCHEMA = T.StructType(
    [
        T.StructField("x", T.DoubleType(), False),
        T.StructField("y", T.DoubleType(), False),
    ]
)

POINTS_ND_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("features", T.ArrayType(T.DoubleType(), False), False),
    ]
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one harness fixture table from a scale-factor directory."""
    return spark.read.schema(FIXTURE_SCHEMAS[name]).parquet(
        f"{sf_dir}/{name}.parquet"
    )


def read_points_csv(spark: SparkSession, path: str) -> DataFrame:
    """`"x,y"` text file → DataFrame[x double, y double].

    Spark-first replacement for the reference's textFile+split parse
    (big_data_computing_2.py:10-12): schema-on-read, parse errors surface
    as nulls under PERMISSIVE mode instead of executor ValueErrors.
    """
    return spark.read.csv(path, schema=POINTS_2D_SCHEMA)


def customer_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 2-D point set derived from `customer`.

    x = account balance; y = a multiplicative-hash spread of the customer
    key into [0, 10000). Gives a continuous-ish 2-D cloud with natural
    density variation — the engine's stand-in for the reference's point
    files. The same derivation exists as SQL in the oracles
    (CUSTOMER_POINTS_SQL).
    """
    return read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("id"),
        F.col("c_acctbal").cast("double").alias("x"),
        ((F.col("c_custkey") * F.lit(2654435761)) % F.lit(10000))
        .cast("double")
        .alias("y"),
    )


CUSTOMER_POINTS_SQL = (
    "SELECT CAST(c_custkey AS BIGINT) AS id, "
    "CAST(c_acctbal AS DOUBLE) AS x, "
    "CAST((c_custkey * 2654435761) % 10000 AS DOUBLE) AS y "
    "FROM customer"
)


def embedding_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`embeddings` as DataFrame[id long, features array<double>] — the
    d-dimensional point set for FFT/k-center (FIXTURES.md §2)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return emb.select(
        F.col("vec_id").cast("long").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("features"),
    )


def event_stream_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`events` as an ordered item stream: seq (arrival order, 1-based) +
    item (user_id). event_id is dense 0..N-1 in the fixtures, so
    seq = event_id + 1 — no global sort needed (FIXTURES.md §3)."""
    return read_table(spark, sf_dir, "events").select(
        (F.col("event_id") + F.lit(1)).cast("long").alias("seq"),
        F.col("user_id").cast("long").alias("item"),
    )


EVENT_STREAM_SQL = (
    "SELECT CAST(event_id + 1 AS BIGINT) AS seq, "
    "CAST(user_id AS BIGINT) AS item FROM events"
)
