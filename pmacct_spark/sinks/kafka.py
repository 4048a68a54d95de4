"""Kafka sink shaping: JSON/Avro payload composition, dynamic topic and
partition key columns (reference src/kafka_plugin.c:384,455-466;
kafka_topic tokens; kafka_partition_key).

This module builds the (key, value, topic) frame the Kafka plugin
(``sinks.plugins.KafkaBus``) produces, and that frame IS the testable
surface: payload composition, key choice, topic routing, round-robin
topic balancing. The broker write is
``sources.kafka_wire.produce_frames``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def compose_json_value(df: DataFrame, exclude: tuple[str, ...] = ()) -> Column:
    """Record -> JSON object, like compose_json (reference
    src/plugin_cmn_json.c:41): every output column, null fields
    dropped."""
    cols = [c for c in df.columns if c not in exclude]
    return F.to_json(F.struct(*[F.col(c) for c in cols]))


def pack_multi_values(
    df: DataFrame,
    budget: int,
    value_col: str = "value",
    group_cols: tuple[str, ...] = ("topic",),
    binary: bool = False,
    max_records: int | None = None,
) -> DataFrame:
    """[kafka|amqp]_multi_values (CONFIG-KEYS:1519): newline-separated
    JSON objects packed into messages of ~``budget`` bytes ("preferred
    to JSON arrays for performance") — many records per bus message
    instead of one. The budget is the reference's buffer size: a
    message flushes when the next record would overflow it, so a
    single record larger than the budget still ships (alone). Packing
    is JVM-side: a per-partition running byte sum assigns chunk ids,
    one aggregation concatenates — no Python, no driver collect. Keys
    are dropped (a multi-record message has no single record key, as
    in the reference's buffered send).

    ``binary=True`` packs Avro datums instead (kafka_output: avro
    with avro_buffer_size as the budget, CONFIG-KEYS:1866): datums
    concatenate with NO separator — Avro binary is self-delimiting
    under the schema, so a consumer reads them back sequentially.
    ``max_records`` additionally caps records per message — the Avro
    docs' "number of records defined by [amqp|kafka]_multi_values"
    flush rule, on top of the byte bound."""
    from pyspark.sql import Window

    gcols = [c for c in group_cols if c in df.columns]
    work = (
        df.withColumn("__pid", F.spark_partition_id())
        .withColumn("__mid", F.monotonically_increasing_id())
        .withColumn(
            "__len", F.length(value_col) + (0 if binary else 1)
        )
    )
    w = Window.partitionBy("__pid", *gcols).orderBy("__mid")
    chunked = work.withColumn(
        "__chunk",
        F.floor(
            (F.sum("__len").over(w) - F.col("__len"))
            / F.lit(max(int(budget), 1))
        ),
    )
    if max_records:
        # secondary flush rule: at most N records per message
        chunked = chunked.withColumn(
            "__chunk",
            F.concat_ws(
                "/",
                F.col("__chunk"),
                F.floor(
                    (F.row_number().over(w) - 1)
                    / F.lit(max(int(max_records), 1))
                ),
            ),
        )
    # collect_list order is not guaranteed post-shuffle: carry the
    # row id and sort inside the aggregate
    ordered = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("__mid").alias("i"),
                    F.col(value_col).alias("v"),
                )
            )
        ),
        lambda s: s["v"],
    )
    if binary:
        packed = F.aggregate(
            ordered,
            F.lit(b""),
            lambda acc, v: F.concat(acc, v),
        )
    else:
        packed = F.array_join(ordered, "\n")
    return (
        chunked.groupBy("__pid", "__chunk", *gcols)
        .agg(packed.alias(value_col))
        .drop("__pid", "__chunk")
    )


def purge_marker_json(
    event: str,
    writer_name: str,
    writer_pid: int,
    purged: int | None = None,
    total: int | None = None,
    duration: int | None = None,
) -> str:
    """kafka_markers / amqp_markers (CONFIG-KEYS:1791): the purge_init /
    purge_close delimiter messages framing every purge batch on the bus
    (compose_purge_init_json / compose_purge_close_json, reference
    src/plugin_cmn_json.c:1458-1486; emission kafka_plugin.c:544,868).
    purge_close carries purged/total entry counts and wall duration so
    consumers can validate batch completeness; with partitioned topics
    it can arrive out of order — correlate by writer_id (the docs'
    caveat)."""
    import json

    obj: dict = {
        "event_type": event,
        "writer_id": f"{writer_name}/{writer_pid}",
    }
    if event == "purge_close":
        obj["purged_entries"] = int(purged or 0)
        obj["total_entries"] = int(total or 0)
        obj["duration"] = int(duration or 0)
    return json.dumps(obj, separators=(", ", ": "))


def purge_marker_avro(
    event: str,
    writer_name: str,
    writer_pid: int,
    purged: int | None = None,
    total: int | None = None,
    duration: int | None = None,
) -> bytes:
    """The Avro twins of the JSON purge markers — the acct_init /
    acct_close record schemas (p_avro_schema_build_acct_init/_close,
    reference src/plugin_cmn_avro.c; emission kafka_plugin.c:558-586):
    plain (non-union) string/long fields, encoded as a single binary
    datum. Avro int and long share the zigzag-varint encoding, so the
    close record's 'duration: int' field is byte-identical through
    the long encoder."""
    from pmacct_spark.sinks.avro import encode_datum

    row = {
        "event_type": event,
        "writer_id": f"{writer_name}/{writer_pid}",
    }
    types = [("event_type", "string", False), ("writer_id", "string", False)]
    if event == "purge_close":
        row.update(
            purged_entries=int(purged or 0),
            total_entries=int(total or 0),
            duration=int(duration or 0),
        )
        types += [
            ("purged_entries", "long", False),
            ("total_entries", "long", False),
            ("duration", "long", False),
        ]
    return encode_datum(row, types)


#: the schemas consumers decode the Avro markers with
ACCT_INIT_SCHEMA = {
    "type": "record", "name": "acct_init",
    "fields": [
        {"name": "event_type", "type": "string"},
        {"name": "writer_id", "type": "string"},
    ],
}
ACCT_CLOSE_SCHEMA = {
    "type": "record", "name": "acct_close",
    "fields": [
        {"name": "event_type", "type": "string"},
        {"name": "writer_id", "type": "string"},
        {"name": "purged_entries", "type": "long"},
        {"name": "total_entries", "type": "long"},
        {"name": "duration", "type": "int"},
    ],
}


def kafka_frame(
    df: DataFrame,
    topic: str,
    key_cols: list[str] | None = None,
    topic_col: str | None = None,
    rr_topics: int | None = None,
) -> DataFrame:
    """Shape aggregates into the Kafka writer contract:

    - ``value``: JSON payload of the full record;
    - ``key``: concat of ``key_cols`` (kafka_partition_key) — keyed
      partitioning for per-key ordering downstream;
    - ``topic``: literal, a routing column (dynamic topics), or
      round-robin over ``rr_topics`` suffixes (kafka_topic_rr,
      reference src/kafka_common.c) via a deterministic row hash.
    """
    value = compose_json_value(df)
    key = (
        F.concat_ws("-", *[F.col(c).cast("string") for c in key_cols])
        if key_cols
        else F.lit(None).cast("string")
    )
    if topic_col is not None:
        topic_expr = F.col(topic_col)
    elif rr_topics:
        topic_expr = F.concat(
            F.lit(topic + "_"),
            (F.abs(F.xxhash64(*[F.col(c) for c in df.columns])) % rr_topics).cast(
                "string"
            ),
        )
    else:
        topic_expr = F.lit(topic)
    return df.select(
        key.alias("key"), value.alias("value"), topic_expr.alias("topic")
    )


def kafka_avro_frame(
    df: DataFrame,
    topic: str,
    registry,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """``kafka_output: avro`` with ``kafka_avro_schema_registry``
    (reference src/kafka_plugin.c + src/plugin_cmn_avro.c:47): the
    Kafka writer contract where every value is a Confluent-framed Avro
    datum — schema registered once driver-side under
    ``<topic>-value``, the 5-byte [magic 0][schema id] header
    prepended executor-side."""
    from pmacct_spark.sinks.avro import avro_registry_frames

    framed = avro_registry_frames(df, registry, topic, key_cols=key_cols)
    return framed.select("key", "value", F.lit(topic).alias("topic"))
