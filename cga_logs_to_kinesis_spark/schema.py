"""Fixture-table schemas and contracts.

The reference's row type, the Cloud Foundry ``events.Envelope``
protobuf (reference ``src/logs-to-kinesis/vendor/github.com/
cloudfoundry/sonde-go/events/envelope.pb.go:99-118``), is built by
``streaming/envelope.py``'s projection, which populates only
``LogMessage`` as the daemon does (reference
``src/logs-to-kinesis/main.go:330-347``).  This module holds what the
queries and their fixture tables share.
"""

from __future__ import annotations

from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

# ---------------------------------------------------------------------------
# Fixture tables (driver-generated; FIXTURES.md at the repo root)
# ---------------------------------------------------------------------------

FIXTURE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# The embeddings fixture contract: 64-dim float vectors.  The validity
# gate (sources/tables.py::embedding_valid) quarantines rows that
# violate it before any similarity/clustering math.
EMBEDDING_DIM = 64
# Magnitude bound for the gate: |x| beyond this is corrupt data, and
# squared products would overflow the exact-decimal aggregation paths
# (DECIMAL(38,6) holds ~1e32; 1e15² = 1e30 stays inside).
EMBEDDING_MAX_ABS = 1.0e15

DOCUMENTS = StructType([
    StructField("doc_id", LongType(), True),
    StructField("text", StringType(), True),
    StructField("lang", StringType(), True),
    StructField("source", StringType(), True),
    StructField("n_chars", LongType(), True),
])

# Explicit lineitem schema for the streaming table-profile twin: a
# readStream needs a declared schema (no inference scan — the same
# contract as DOCUMENTS/JSONL ingest).  Matches the driver-generated
# parquet fixture (FIXTURES.md); `l_shipdate` is TIMESTAMP(us), i.e.
# TimestampNTZType in Spark 4's parquet reader.
LINEITEM = StructType([
    StructField("l_orderkey", LongType(), True),
    StructField("l_partkey", LongType(), True),
    StructField("l_suppkey", LongType(), True),
    StructField("l_linenumber", IntegerType(), True),
    StructField("l_quantity", DoubleType(), True),
    StructField("l_extendedprice", DoubleType(), True),
    StructField("l_discount", DoubleType(), True),
    StructField("l_tax", DoubleType(), True),
    StructField("l_returnflag", StringType(), True),
    StructField("l_linestatus", StringType(), True),
    StructField("l_shipdate", TimestampNTZType(), True),
])
