"""Transport adapters: the UDP socket spool (live loopback
integration — the one transport the sandbox CAN run) and the Kafka
source contract (pure mapping, broker-free).

Reference analogues: the nfacctd recvfrom loop (src/nfacctd.c:1525)
and the Kafka consumer transport (src/kafka_common.c).
"""

from __future__ import annotations

import struct
import time

from pyspark.sql import functions as F

from pmacct_spark.sources.udp import UdpSpool, send_datagrams


def _wait_until(pred, timeout=15.0, step=0.05):
    t0 = time.monotonic()
    while time.monotonic() - t0 < timeout:
        if pred():
            return True
        time.sleep(step)
    return pred()


def _v5_payloads(n_datagrams: int, recs_per: int = 5) -> list[bytes]:
    from pmacct_spark.streaming.decode import V5_HEADER, V5_RECORD

    out = []
    for d in range(n_datagrams):
        hdr = V5_HEADER.pack(
            5, recs_per, 1_000_000, 1_700_000_000, 0, d, 0, 0, 1
        )
        body = b"".join(
            V5_RECORD.pack(
                0x0A000000 + d * recs_per + i, 0x0B000000, 0, 1, 2,
                i + 1, 100 * (i + 1), 995_000, 999_000, 1234, 443, 0,
                16, 6, 0, 64500, 64501, 24, 24, 0,
            )
            for i in range(recs_per)
        )
        out.append(hdr + body)
    return out


def test_udp_spool_batch_decode(spark, tmp_path):
    """Live loopback: datagrams fired at the socket land in the spool
    and decode to the exact record set (bytes/packets preserved,
    exporter = the datagram's source address)."""
    from pmacct_spark.streaming.decode import decode_v5

    payloads = _v5_payloads(40, recs_per=5)
    with UdpSpool(spool_dir=str(tmp_path / "spool"), flush_secs=0.2) as sp:
        sent = send_datagrams(payloads, "127.0.0.1", sp.port)
        assert sent == 40
        assert _wait_until(lambda: sp.datagrams_received == 40), (
            f"received {sp.datagrams_received}/40"
        )
    # stop() flushed the tail; read back and decode
    dg = sp.batch(spark)
    assert dg.count() == 40
    got = decode_v5(dg.select("exporter_ip", "payload"))
    assert got.count() == 200
    agg = got.agg(
        F.sum("bytes").alias("b"), F.sum("packets").alias("p")
    ).first()
    # per datagram: bytes 100+..+500=1500, packets 1+..+5=15
    assert agg["b"] == 1500 * 40 and agg["p"] == 15 * 40
    assert got.select("exporter_ip").distinct().first()[0] == "127.0.0.1"


def test_udp_spool_streaming_tail(spark, tmp_path):
    """The spool is a valid Structured Streaming source: files written
    while datagrams arrive are picked up by a readStream over the same
    directory (availableNow replay after the fact)."""
    from pmacct_spark.streaming.decode import decode_v5

    payloads = _v5_payloads(12, recs_per=3)
    with UdpSpool(
        spool_dir=str(tmp_path / "spool2"), flush_datagrams=5,
        flush_secs=0.2,
    ) as sp:
        send_datagrams(payloads, "127.0.0.1", sp.port)
        assert _wait_until(lambda: sp.datagrams_received == 12)
        stream = sp.stream(spark, max_files_per_trigger=1)
    assert stream.isStreaming
    q = (
        decode_v5(stream.select("exporter_ip", "payload"))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("q_udp_tail")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.table("q_udp_tail").count() == 36


def test_udp_seqno_is_arrival_order(spark, tmp_path):
    """seqno stamps arrival order 0..n-1 across flush boundaries — the
    ordering contract prepare_datagrams/two-phase decode rely on."""
    payloads = [struct.pack("!HH", 0, i) for i in range(25)]
    with UdpSpool(
        spool_dir=str(tmp_path / "spool3"), flush_datagrams=7,
        flush_secs=0.2,
    ) as sp:
        send_datagrams(payloads, "127.0.0.1", sp.port)
        assert _wait_until(lambda: sp.datagrams_received == 25)
    rows = sp.batch(spark).orderBy("seqno").collect()
    assert [r["seqno"] for r in rows] == list(range(25))
    # loopback UDP on one socket preserves send order
    assert [bytes(r["payload"]) for r in rows] == payloads


def test_kafka_frames_map_to_datagram_contract(spark):
    """frames_to_datagrams: key -> exporter_ip (synth from topic/
    partition when keyless), offset -> seqno, value -> payload; the
    result feeds decode_v5 exactly like a UDP spool."""
    from pmacct_spark.sources.kafka import frames_to_datagrams
    from pmacct_spark.streaming.decode import decode_v5

    payload = _v5_payloads(1, recs_per=2)[0]
    kafka_shaped = spark.createDataFrame(
        [
            (bytearray(b"198.51.100.7"), bytearray(payload), "nf", 0, 11),
            (None, bytearray(payload), "nf", 3, 12),
        ],
        "key binary, value binary, topic string, partition int, offset long",
    )
    dg = frames_to_datagrams(kafka_shaped)
    assert dg.columns == ["exporter_ip", "seqno", "payload"]
    rows = {r["seqno"]: r for r in dg.collect()}
    assert rows[11]["exporter_ip"] == "198.51.100.7"
    assert rows[12]["exporter_ip"] == "kafka:nf/3"  # keyless fallback
    decoded = decode_v5(dg.select("exporter_ip", "payload"))
    assert decoded.count() == 4
    assert (
        decoded.filter("exporter_ip = '198.51.100.7'").count() == 2
    )


def test_kafka_live_source_is_feature_flagged(spark, monkeypatch):
    """Without PMACCT_SPARK_KAFKA=1 the live wiring refuses with an
    actionable message instead of failing on a missing connector."""
    import pytest

    from pmacct_spark.sources.kafka import KAFKA_FLAG, kafka_datagrams

    monkeypatch.delenv(KAFKA_FLAG, raising=False)
    with pytest.raises(RuntimeError, match="feature-flagged"):
        kafka_datagrams(spark, "broker:9092", "nf")


def test_tcp_peer_batching_throttles_accepts():
    """bgp_daemon_batch / _batch_interval (CONFIG-KEYS:2796): at most
    N new peers per interval — the first peer of a batch sets its
    base time, over-batch connections are accepted-then-dropped, and
    a new batch opens once the interval expires."""
    import socket
    import time

    from pmacct_spark.sources.tcp import TcpSpool

    sp = TcpSpool(
        framing="bmp", host="127.0.0.1", port=0,
        batch=2, batch_interval=1,
    ).start()
    try:
        def try_conn() -> bool:
            c = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
            c.settimeout(3)
            c.connect(("127.0.0.1", sp.port))
            try:
                # a throttled connection is closed by the listener;
                # an admitted one stays open (no server data for BMP)
                c.sendall(b"\x03")  # any byte
                time.sleep(0.3)
                c.setblocking(False)
                try:
                    data = c.recv(1)
                    return data != b""  # b"" = orderly close
                except BlockingIOError:
                    return True  # still open: admitted
                except ConnectionResetError:
                    return False  # dropped by the throttle
            finally:
                c.close()

        assert try_conn() is True
        assert try_conn() is True
        assert try_conn() is False  # batch of 2 exhausted
        t0 = time.monotonic()
        while sp.sessions_throttled < 1 and time.monotonic() - t0 < 5:
            time.sleep(0.05)
        assert sp.sessions_throttled == 1
        time.sleep(1.1)  # interval expires: a new batch opens
        assert try_conn() is True
    finally:
        sp.stop()


def test_tcp_peer_batching_requires_both_keys():
    """batch without batch_interval (or vice versa) disables the
    feature with a warning, like the reference (src/bgp/bgp.c:442)."""
    from pmacct_spark.sources.tcp import TcpSpool

    sp = TcpSpool(framing="bmp", host="127.0.0.1", port=0, batch=5)
    assert sp.peer_batch == 0 and sp.peer_batch_interval == 0


def test_a_message_sent_just_before_a_drain_is_in_it(spark, tmp_path):
    """A flow datagram and a BGP UPDATE on a live session, each sent
    straight before a drain, are counted in that drain: the drain's
    spool flush wakes the listeners instead of waiting out their poll
    timeouts, so with nothing pending it returns at once."""
    import socket
    import statistics

    from pmacct_spark.daemon import Daemon
    from pmacct_spark.streaming.bmp import encode_bgp_open, encode_bgp_update
    from tests.test_streaming import _v5_datagram

    conf = """
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
bgp_daemon: true
bgp_daemon_ip: 127.0.0.1
bgp_daemon_port: 0
plugins: memory[paths]
aggregate[paths]: as_path
"""

    def datagram(nbytes: int) -> bytes:
        rec = {"src": 0x0A000001, "dst": 0x0B000001, "pkts": 1, "bytes": nbytes,
               "sport": 1, "dport": 2}
        return _v5_datagram(1, [rec])

    def paths(d) -> dict:
        res = d.run_available(streaming=False)["paths"].collect()
        return {r["as_path"]: r["bytes"] for r in res}

    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool"))
    peer = socket.create_connection(("127.0.0.1", d.bgp_port))
    try:
        peer.sendall(
            encode_bgp_open(asn=65000) + encode_bgp_update(0x0B000000, 8, "65000 65100")
        )
        send_datagrams([datagram(300)], "127.0.0.1", d.port)
        assert paths(d) == {"65000 65100": 300}
        peer.sendall(encode_bgp_update(0x0B000000, 8, "65000 65200"))
        send_datagrams([datagram(400)], "127.0.0.1", d.port)
        assert paths(d) == {"65000 65200": 700}
        took = []
        for _ in range(5):
            t0 = time.monotonic()
            d._flush_spools()
            took.append(time.monotonic() - t0)
        assert statistics.median(took) < 0.05, took
    finally:
        peer.close()
        d.stop()
