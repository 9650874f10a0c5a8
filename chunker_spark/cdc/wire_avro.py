"""Confluent-Avro wire seam: binary Kafka values -> EVENT_SCHEMA.

Production Debezium deployments overwhelmingly ship Avro via the
Confluent Schema Registry, not JSON: each Kafka ``value`` is a 5-byte
frame header (magic ``0x00`` + big-endian ``int32`` schema id) followed
by the Avro-encoded envelope.  This module mirrors the Kafka/Iceberg
seam pattern (``source_kafka.py`` / ``lake_iceberg.py``): everything
exercisable without the ``spark-avro`` jar IS —

* ``confluent_split``: the frame splitter, pure JVM column exprs over a
  ``binary`` column (no Python, no shuffle, pipelined into the scan);
  malformed frames (wrong magic, short frame) are flagged, not thrown,
  so the DLQ split stays a cheap filter on the same pass.
* ``DEBEZIUM_AVRO_VALUE_SCHEMA``: the pinned Avro reader schema whose
  decoded struct is field-compatible with the JSON path's
  ``_DEBEZIUM_SCHEMA`` — both funnels land in the SAME downstream
  (``normalize_events`` -> ``apply_batch``), keeping the engine
  wire-agnostic.
* the construction guard (``avro_available`` / ``decode_confluent``),
  which raises with the spark-submit recipe unless the jar is present
  (see docs/deploy_seams.md).

Registry semantics honored by construction: the schema id is carried
per-row (``schema_id`` column) rather than assumed constant, because a
topic's id changes mid-stream on producer schema evolution; this engine
re-resolves row payloads against its own ``schema_ver`` registry in
``normalize_events`` (cdc/schema.py), so a reader schema that is a
superset of every writer version (all-nullable fields — Avro's standard
forward-compat reader shape) is sufficient and pinned here.

Scale notes: header split + decode are map-only projections; nothing
here shuffles or leaves the JVM.  At 10^10 events the extra cost over
the JSON path is NEGATIVE — Avro values are ~3-5x smaller on the wire
and decode without string tokenization.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, functions as F

#: Confluent wire-format constants (public framing spec).
CONFLUENT_MAGIC = 0
_HEADER_LEN = 5

#: Pinned Avro reader schema for the (unwrapped) Debezium envelope,
#: field-for-field the shape _DEBEZIUM_SCHEMA parses from JSON: row
#: images as map<string,string> (row payloads are schema-evolving by
#: design — typed casting happens downstream in normalize_events), the
#: source block as map<string,string> for lsn/file/pos/table.  All
#: fields nullable => this reader resolves against any writer version
#: that only ever ADDED fields (Avro forward compatibility).
DEBEZIUM_AVRO_VALUE_SCHEMA: str = json.dumps(
    {
        "type": "record",
        "name": "Envelope",
        "namespace": "chunker_spark.cdc",
        "fields": [
            {"name": "op", "type": ["null", "string"], "default": None},
            {"name": "ts_ms", "type": ["null", "long"], "default": None},
            {
                "name": "before",
                "type": ["null", {"type": "map", "values": ["null", "string"]}],
                "default": None,
            },
            {
                "name": "after",
                "type": ["null", {"type": "map", "values": ["null", "string"]}],
                "default": None,
            },
            {
                "name": "source",
                "type": ["null", {"type": "map", "values": ["null", "string"]}],
                "default": None,
            },
        ],
    }
)


def confluent_split(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Split Confluent-framed binary values into
    ``(schema_id int, payload binary, frame_ok boolean)`` + the
    original columns.

    Pure JVM exprs: magic-byte check via a 1-byte substring compare,
    schema id via hex->base-10 ``conv`` on bytes 2-5 (big-endian, as
    the spec writes it), payload as the remaining bytes.  A frame with
    no payload bytes after the 5-byte header (the pinned all-nullable
    reader schema needs >= 5 union-index bytes, so an empty payload can
    never decode) or with the wrong magic gets
    ``frame_ok=false`` and null id/payload — the caller routes those
    rows to the DLQ with their bytes intact instead of throwing mid-
    batch (same contract as the JSON parsers' ``_corrupt`` rows).
    """
    if value_col not in df.columns:
        raise ValueError(f"expected a {value_col!r} column, got {df.columns}")
    v = F.col(value_col)
    ok = (F.length(v) > _HEADER_LEN) & (
        F.substring(v, 1, 1) == F.lit(bytes([CONFLUENT_MAGIC]))
    )
    schema_id = F.conv(F.hex(F.substring(v, 2, 4)), 16, 10).try_cast("int")
    payload = F.expr(f"substring({value_col}, {_HEADER_LEN + 1}, length({value_col}) - {_HEADER_LEN})")
    return df.select(
        "*",
        ok.alias("frame_ok"),
        F.when(ok, schema_id).alias("schema_id"),
        F.when(ok, payload).alias("payload"),
    )


def confluent_frame(payload_col, schema_id: int):
    """The inverse of ``confluent_split`` (binary payload -> framed
    value), used by tests and by the replay-to-topic tooling: magic
    byte ++ int32-BE schema id ++ payload.  ``unhex(lpad(hex(id)))``
    builds the 4 BE bytes JVM-side."""
    header = F.concat(
        F.lit(bytes([CONFLUENT_MAGIC])),
        F.unhex(F.lpad(F.hex(F.lit(int(schema_id))), 8, "0")),
    )
    return F.concat(header, payload_col)


def avro_available(spark: SparkSession) -> bool:
    """True iff the spark-avro module is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.avro.AvroDataToCatalyst"
        )
        return True
    except Exception:
        return False


def decode_confluent(
    spark: SparkSession,
    df: DataFrame,
    value_col: str = "value",
    avro_schema: str = DEBEZIUM_AVRO_VALUE_SCHEMA,
) -> DataFrame:
    """Framed binary values -> EVENT_SCHEMA rows (+ ``frame_ok`` /
    ``schema_id`` for DLQ routing and registry audit).

    Guarded construction: raises with the submit recipe unless the
    spark-avro jar is present.  With the jar, the plan is
    split (map-only) -> ``from_avro`` (JVM deserializer, mode
    PERMISSIVE so undecodable payloads null out rather than kill the
    batch) -> the same ``_debezium_fields`` and ``_project_event``
    projection the JSON path uses, so both wire formats are
    bit-identical downstream.
    """
    if not avro_available(spark):
        raise RuntimeError(
            "spark-avro not on the classpath; use the JSON envelope parsers "
            "or submit with --packages org.apache.spark:spark-avro_2.13:<spark-version>"
        )
    from pyspark.sql.avro.functions import from_avro

    from .envelopes import _debezium_fields, _project_event

    framed = confluent_split(df, value_col)
    parsed = framed.withColumn(
        "_env", from_avro(F.col("payload"), avro_schema, {"mode": "PERMISSIVE"})
    )
    env = F.col("_env")
    op, img, seq, ts = _debezium_fields(env)
    extra = [
        F.col("frame_ok"),
        F.col("schema_id"),
        F.element_at(env["source"], "table").alias("src_table"),
    ]
    return _project_event(parsed, op, seq, ts, img, extra)
