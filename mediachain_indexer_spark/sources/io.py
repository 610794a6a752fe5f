"""Sources: explicit-schema parquet readers (Iceberg in prod).

Parity: the reference streams JSON dataset dumps through per-dataset
normalizer iterators (``mediachain/indexer/mc_datasets.py``) and bulk-indexes
into Elasticsearch (``mc_ingest.py``).  Spark-first replacement: columnar
scans with declared schemas — never inferred, so DuckDB-oracle comparisons
and column pruning are exact.  In production the same call sites use
``spark.read.format("iceberg")`` / ``df.writeTo(...)``; the sandbox has no
Iceberg jar, so a single ``storage_format`` switch keeps that behind one
interface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# The north-rule input shape (BASELINE.json input_hint):
#   documents(doc_id string, spans array<struct<kind,text,media_ref,offset>>)
# ---------------------------------------------------------------------------
SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), True),
    ]
)
SPANS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), True),
    ]
)

# Driver-generated TPC-H-ish tables (schemas verified against the parquet
# files; FIXTURES.md §A). Explicit so the scan never falls back to inference.
DRIVER_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}
DRIVER_TABLES = tuple(DRIVER_SCHEMAS)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver table with its declared schema.

    Filters/projections placed on the result push down to the parquet scan
    (verified via ``PushedFilters`` / ``ReadSchema`` in ``.explain``).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    return spark.read.schema(DRIVER_SCHEMAS[name]).parquet(path)


def read_documents(
    spark: SparkSession,
    path: str,
    spans_fields: tuple[str, ...] | None = None,
) -> DataFrame:
    """Scan a spans-shaped documents table (the pipeline input).

    ``spans_fields`` narrows the span struct AT THE SOURCE — Catalyst's
    nested-schema pruning cannot see through higher-order-function lambdas
    (measured: a text-only consumer still scanned media_ref), so a consumer
    that needs only e.g. ``("kind", "text", "offset")`` passes them here and
    the parquet reader physically skips the other leaves.

    Prod: ``spark.read.format("iceberg").load(table)`` — hidden partitioning
    on ``bucket(N, doc_id)`` so MERGE-back of entity ids is partition-local.
    """
    schema = SPANS_SCHEMA
    if spans_fields is not None:
        span_struct = T.StructType(
            [f for f in SPAN_STRUCT.fields if f.name in spans_fields]
        )
        schema = T.StructType(
            [
                T.StructField("doc_id", T.StringType(), False),
                T.StructField("spans", T.ArrayType(span_struct), True),
            ]
        )
    return spark.read.schema(schema).parquet(path)

