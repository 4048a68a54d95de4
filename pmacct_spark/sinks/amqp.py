"""RabbitMQ/AMQP sink shaping (reference src/amqp_plugin.c — the same
cache→purge pattern as the Kafka plugin, publishing JSON blobs to an
exchange with a routing key; config surface amqp_exchange,
amqp_exchange_type, amqp_routing_key, amqp_routing_key_rr,
amqp_persistent_msg in CONFIG-KEYS).

Like sinks/kafka.py, this module builds the frame the AMQP plugin
(``sinks.plugins.AmqpBus``) publishes, and that frame IS the testable
surface: payload composition, exchange/routing-key choice, round-robin
routing-key balancing, persistent-delivery properties. The publish is
``sinks.amqp_wire.publish_frames``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pmacct_spark.sinks.kafka import compose_json_value


def amqp_frame(
    df: DataFrame,
    exchange: str,
    routing_key: str,
    routing_key_col: str | None = None,
    rr: int | None = None,
    exchange_type: str = "direct",
    persistent: bool = False,
) -> DataFrame:
    """Shape aggregates into the AMQP publish contract:

    - ``body``: JSON payload of the full record (compose_json,
      reference src/plugin_cmn_json.c:41 — shared with the Kafka twin);
    - ``exchange`` / ``exchange_type``: publish target
      (amqp_exchange / amqp_exchange_type);
    - ``routing_key``: literal, a per-record routing column (dynamic
      $-token routing keys), or round-robin over ``rr`` numeric
      suffixes via a deterministic row hash (amqp_routing_key_rr,
      reference src/amqp_plugin.c);
    - ``delivery_mode``: 2 (persistent) when ``persistent`` else 1 —
      amqp_persistent_msg.
    """
    body = compose_json_value(df)
    if routing_key_col is not None:
        rk = F.col(routing_key_col).cast("string")
    elif rr:
        rk = F.concat(
            F.lit(routing_key + "_"),
            (F.abs(F.xxhash64(*[F.col(c) for c in df.columns])) % rr).cast(
                "string"
            ),
        )
    else:
        rk = F.lit(routing_key)
    return df.select(
        F.lit(exchange).alias("exchange"),
        F.lit(exchange_type).alias("exchange_type"),
        rk.alias("routing_key"),
        body.alias("body"),
        F.lit(2 if persistent else 1).alias("delivery_mode"),
        F.lit("application/json").alias("content_type"),
    )


def amqp_body_frame(
    bodies: DataFrame,
    exchange: str,
    routing_key: str,
    rr: int | None = None,
    exchange_type: str = "direct",
    persistent: bool = False,
    content_type: str = "application/octet-stream",
) -> DataFrame:
    """The publish contract over an ALREADY-ENCODED ``body`` column
    (``amqp_output: avro / avro_json``, CONFIG-KEYS:1854 — binary Avro
    datums or Avro-JSON strings instead of compose_json). Routing-key
    round-robin hashes the body (the record identity at this stage)."""
    if rr:
        rk = F.concat(
            F.lit(routing_key + "_"),
            (F.abs(F.xxhash64(F.col("body"))) % rr).cast("string"),
        )
    else:
        rk = F.lit(routing_key)
    return bodies.select(
        F.lit(exchange).alias("exchange"),
        F.lit(exchange_type).alias("exchange_type"),
        rk.alias("routing_key"),
        F.col("body"),
        F.lit(2 if persistent else 1).alias("delivery_mode"),
        F.lit(content_type).alias("content_type"),
    )
