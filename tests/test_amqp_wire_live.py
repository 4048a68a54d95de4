"""LIVE AMQP 0-9-1 wire tests: an in-process broker speaking the
public protocol (handshake, channels, exchange/queue/bind,
Basic.Publish three-frame sequence, Basic.Get) over a REAL loopback
TCP socket, driven by the engine's `amqp_frame` shaper — the broker
half of the reference's RabbitMQ plugin (src/amqp_plugin.c:880,
src/amqp_common.c) exercised as far as the sandbox allows (see the
honest-scope note in sinks/amqp_wire.py).
"""

from __future__ import annotations

import json

import pytest

from pmacct_spark.sinks.amqp import amqp_frame
from pmacct_spark.sinks.amqp_wire import (
    AmqpWireClient,
    MiniAmqpBroker,
    publish_frames,
)


@pytest.fixture()
def broker():
    b = MiniAmqpBroker().start()
    yield b
    b.stop()


def test_handshake_publish_get_roundtrip(broker):
    """Full 0-9-1 conversation on one socket: declare + bind +
    three-frame publish + Basic.Get returns the message with its
    persistent delivery-mode and content-type properties intact."""
    cli = AmqpWireClient(broker.host, broker.port)
    try:
        cli.exchange_declare("acct", "direct")
        cli.queue_declare("q1")
        cli.queue_bind("q1", "acct", "flows")
        cli.publish(
            "acct", "flows", b'{"bytes": 1}', delivery_mode=2,
            content_type="application/json",
        )
        msg = cli.get("q1")
        assert msg is not None
        assert msg["body"] == b'{"bytes": 1}'
        assert msg["delivery_mode"] == 2  # amqp_persistent_msg
        assert msg["content_type"] == "application/json"
        assert (msg["exchange"], msg["routing_key"]) == ("acct", "flows")
        assert cli.get("q1") is None  # drained
    finally:
        cli.close()


def test_direct_exchange_routing(broker):
    """Direct-exchange semantics: exact routing-key match only;
    unbound keys drop (the reference publishes non-mandatory)."""
    cli = AmqpWireClient(broker.host, broker.port)
    try:
        cli.exchange_declare("acct", "direct")
        cli.queue_declare("qa")
        cli.queue_bind("qa", "acct", "a")
        cli.publish("acct", "a", b"for-a")
        cli.publish("acct", "nobody-bound", b"dropped")
        got = cli.get("qa")
        assert got["body"] == b"for-a"
        assert cli.get("qa") is None
    finally:
        cli.close()


def test_distributed_publish_of_amqp_frames(spark, broker):
    """The engine's amqp_frame output (round-robin routing keys,
    persistent delivery) published DISTRIBUTED through the socket:
    every record arrives on the queue bound to its rr routing key,
    bodies byte-exact, delivery_mode 2 everywhere."""
    agg = spark.createDataFrame(
        [(i, f"peer{i % 5}", i * 10) for i in range(40)],
        "rec_id long, peer string, bytes long",
    )
    frames = amqp_frame(
        agg, exchange="pmacct", routing_key="acct", rr=3, persistent=True
    )
    # bind one queue per rr suffix BEFORE publishing (direct exchange
    # drops unrouted messages, like the reference's non-mandatory
    # publish)
    setup = AmqpWireClient(broker.host, broker.port)
    try:
        setup.exchange_declare("pmacct", "direct")
        for i in range(3):
            setup.queue_declare(f"q{i}")
            setup.queue_bind(f"q{i}", "pmacct", f"acct_{i}")
    finally:
        setup.close()

    publish_frames(frames, broker.host, broker.port)

    cli = AmqpWireClient(broker.host, broker.port)
    try:
        got = []
        for i in range(3):
            while True:
                msg = cli.get(f"q{i}")
                if msg is None:
                    break
                assert msg["delivery_mode"] == 2
                assert msg["routing_key"] == f"acct_{i}"
                got.append(msg["body"].decode())
    finally:
        cli.close()
    sent = [r["body"] for r in frames.collect()]
    assert sorted(got) == sorted(sent)
    assert len(got) == 40
    # payloads are the compose_json records
    rec = json.loads(got[0])
    assert set(rec) == {"rec_id", "peer", "bytes"}


def test_plain_auth_vhost_and_frame_max():
    """Connection-level keys (amqp_user / amqp_passwd / amqp_vhost /
    amqp_frame_max, CONFIG-KEYS): PLAIN credentials are enforced by a
    credentialed broker (403 ACCESS_REFUSED on mismatch), the vhost
    rides Connection.Open (530 NOT_ALLOWED when unknown), and a body
    larger than the negotiated frame_max splits across FRAME_BODY
    frames and reassembles byte-identical."""
    import pytest as _pytest

    from pmacct_spark.sinks.amqp_wire import AmqpWireClient, MiniAmqpBroker

    b = MiniAmqpBroker(
        user="daisy", passwd="s3cret", vhosts=("/pmacct",)
    ).start()
    try:
        # wrong password: refused during the handshake
        with _pytest.raises((ConnectionError, ValueError, OSError)):
            AmqpWireClient(
                "127.0.0.1", b.port, user="daisy", passwd="wrong",
                vhost="/pmacct",
            )
        # wrong vhost: refused at Connection.Open
        with _pytest.raises((ConnectionError, ValueError, OSError)):
            AmqpWireClient(
                "127.0.0.1", b.port, user="daisy", passwd="s3cret",
                vhost="/other",
            )
        # right credentials + vhost; tiny frame_max (clamped to the
        # 4096 spec minimum) forces body splitting
        cli = AmqpWireClient(
            "127.0.0.1", b.port, user="daisy", passwd="s3cret",
            vhost="/pmacct", frame_max=4096,
        )
        assert cli.frame_max == 4096
        cli.exchange_declare("pmacct", "direct")
        cli.queue_declare("q")
        cli.queue_bind("q", "pmacct", "rk")
        body = bytes(range(256)) * 64  # 16 KiB > 4096-8 per frame
        cli.publish("pmacct", "rk", body,
                    content_type="application/octet-stream")
        got = cli.get("q")
        assert got is not None and got["body"] == body
        cli.close()
    finally:
        b.stop()


def test_amqp_avro_datums_pack_under_multi_values(spark, broker):
    """``amqp_output: avro`` with ``amqp_multi_values`` batches datums
    the way the Kafka transport does (CONFIG-KEYS:1866): concatenated
    under avro_buffer_size, at most N per message. Every record is
    read back, in sequence, from the bodies published through the
    live wire."""
    import io
    from types import SimpleNamespace

    from pmacct_spark import conffile
    from pmacct_spark.sinks import avro as A
    from pmacct_spark.sinks.plugins import AmqpBus

    agg = spark.createDataFrame(
        [(i, f"peer{i % 5}", i * 10) for i in range(10)],
        "rec_id long, peer string, bytes long",
    ).coalesce(1)
    d = SimpleNamespace(conf=conffile.parse_conf(f"""
amqp_multi_values[b]: 3
avro_buffer_size[b]: 65536
amqp_port[b]: {broker.port}
"""))
    bus = AmqpBus(d, "b", "acct")
    setup = AmqpWireClient(broker.host, broker.port)
    try:
        setup.exchange_declare("pmacct", "direct")
        setup.queue_declare("qa")
        setup.queue_bind("qa", "pmacct", "acct")
    finally:
        setup.close()
    bus.send(bus.frames(agg, "avro", "application/octet-stream"))

    schema = A.avro_schema_of(agg.schema)
    cli = AmqpWireClient(broker.host, broker.port)
    bodies = []
    try:
        while (msg := cli.get("qa")) is not None:
            bodies.append(bytes(msg["body"]))
    finally:
        cli.close()
    recs = []
    for body in bodies:
        buf = io.BytesIO(body)
        n = 0
        while buf.tell() < len(body):
            recs.append(A.read_datum(buf, schema))
            n += 1
        assert n <= 3  # at most amqp_multi_values datums per message
    assert len(bodies) == 4  # 10 records, 3 per message
    assert sorted(r["rec_id"] for r in recs) == list(range(10))
    assert {r["rec_id"]: r["bytes"] for r in recs} == {i: i * 10 for i in range(10)}
