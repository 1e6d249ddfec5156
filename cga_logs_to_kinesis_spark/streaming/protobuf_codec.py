"""Protobuf wire codec (T3), gated on spark-protobuf availability.

The reference marshals each record as an ``events.Envelope`` protobuf
(reference main.go:332-342 via ``Envelope.Marshal()``).  Spark ≥3.4
ships ``pyspark.sql.protobuf.functions.to_protobuf/from_protobuf``,
which need a compiled descriptor set for ``events.proto``.  A
descriptor for the engine's Envelope subset ships with the package
(``events.desc``, generated by ``tools/gen_descriptor.py`` — field
numbers copied from the reference's generated code,
``events/envelope.pb.go:100-116`` / ``events/log.pb.go:58-63``), so:

- with spark-protobuf on the classpath: real protobuf bytes on the
  wire, byte-compatible with the reference's consumers
  (``descriptor_path`` defaults to the packaged file);
- without the connector jar: ``to_protobuf`` fails at plan time —
  callers fall back to the JSON codec (streaming/envelope.py), which
  the reference ecosystem treats as an equivalent interchange encoding
  (easyjson codecs generated for the same schema,
  ``events_easyjson.go``).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MESSAGE_NAME = "events.Envelope"


def default_descriptor_path() -> str | None:
    """The packaged compiled descriptor set, if present."""
    p = os.path.join(os.path.dirname(__file__), "events.desc")
    return p if os.path.exists(p) else None


def _protobuf_fns():
    try:
        from pyspark.sql.protobuf import functions as pb
        return pb
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError(
            "spark-protobuf not on the classpath; add "
            "--packages org.apache.spark:spark-protobuf_2.13:<spark-"
            "version> (see README 'Protobuf wire format')") from e


_PROBE_CACHE: dict[str, bool] = {}


def protobuf_available(descriptor_path: str) -> bool:
    """True when the connector jar can actually serialize.

    The Python wrapper ships with pyspark even when the connector jar
    (org.apache.spark:spark-protobuf) is absent, and the failure
    (PROTOBUF_NOT_LOADED) only surfaces when a plan is *analyzed* —
    so probe by analyzing a one-row plan.  Cached per session."""
    from pyspark.sql import SparkSession
    spark = SparkSession.getActiveSession()
    if spark is None:
        return False
    key = spark.sparkContext.applicationId
    if key not in _PROBE_CACHE:
        pb = _protobuf_fns()
        try:
            probe = spark.range(1).select(
                F.struct(F.lit("o").alias("origin"),
                         F.lit(5).alias("eventType")).alias("s"))
            probe.select(pb.to_protobuf(
                probe["s"], MESSAGE_NAME,
                descFilePath=descriptor_path)).schema
            _PROBE_CACHE[key] = True
        except Exception as e:
            if "PROTOBUF_NOT_LOADED" not in str(e):
                raise
            _PROBE_CACHE[key] = False
    return _PROBE_CACHE[key]


def _gate(descriptor_path: str) -> None:
    if not protobuf_available(descriptor_path):
        raise NotImplementedError(
            "spark-protobuf connector jar not on the classpath; "
            "use the JSON wire codec (streaming/envelope.py)")


def envelope_to_protobuf(env_struct: Column,
                         descriptor_path: str | None = None) -> Column:
    """struct column → protobuf bytes.  Needs a descriptor set file."""
    descriptor_path = descriptor_path or default_descriptor_path()
    if descriptor_path is None:
        raise NotImplementedError(
            "no compiled events.proto descriptor available in this "
            "environment; use envelope_to_json (JSON wire format)")
    _gate(descriptor_path)
    pb = _protobuf_fns()
    return pb.to_protobuf(env_struct, MESSAGE_NAME,
                          descFilePath=descriptor_path)


def envelope_from_protobuf(data: Column,
                           descriptor_path: str | None = None) -> Column:
    """protobuf bytes → Envelope struct column."""
    descriptor_path = descriptor_path or default_descriptor_path()
    if descriptor_path is None:
        raise NotImplementedError(
            "no compiled events.proto descriptor available in this "
            "environment; use the JSON wire format (envelope_to_json)")
    _gate(descriptor_path)
    pb = _protobuf_fns()
    return pb.from_protobuf(data, MESSAGE_NAME,
                            descFilePath=descriptor_path)


def wire_encode(env: DataFrame,
                descriptor_path: str | None = None) -> DataFrame:
    """Serialize Envelope rows for the sink: protobuf when a
    descriptor is supplied, JSON otherwise."""
    from cga_logs_to_kinesis_spark.streaming.envelope import envelope_to_json
    if descriptor_path is None:
        return envelope_to_json(env)
    payload = envelope_to_protobuf(
        F.struct(*[F.col(c) for c in env.columns if c != "partition_key"]),
        descriptor_path).alias("data")
    return env.select(payload, F.col("partition_key"))
