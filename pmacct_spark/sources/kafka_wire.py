"""Kafka WIRE protocol (legacy v0) over real loopback sockets: the
broker half the sandbox lacks, implemented from the public protocol
spec so the engine's Kafka framing is exercised end-to-end through a
genuine TCP byte stream instead of only as DataFrame contracts.

Reference mapping: the reference daemons speak Kafka through
librdkafka — producer setup/produce loop ``src/kafka_common.c``
(p_kafka_init_host, p_kafka_produce_data) and the kafka plugin purge
``src/kafka_plugin.c:384``; consumers for nfacctd_kafka/telemetry ride
the same library. This module implements the OTHER side of those
conversations — Metadata (api 3 v0), Produce (api 0 v0) and Fetch
(api 1 v0) with v0 MessageSets (CRC32-checked) — plus a minimal
producer/consumer client pair, so tests drive the exact frames a real
broker would see:

- :class:`MiniKafkaBroker` — threaded TCP server, per-(topic,
  partition) in-memory logs, offset assignment, CRC verification.
- :func:`produce_frames` — DISTRIBUTED producer: each partition of a
  (key, value, topic) frame DataFrame (sinks/kafka.kafka_frame) opens
  its own socket and produces, exactly how per-executor librdkafka
  instances behave on a cluster. No driver-side collect.
- :func:`fetch_records` — consumer half: Metadata discovery + Fetch
  loop -> rows shaped like Spark's Kafka source (key, value, topic,
  partition, offset), ready for sources/kafka.frames_to_datagrams.

Honest scope note: this is OUR broker speaking the public wire format,
not Apache Kafka — broker-internal behavior (replication, consumer
groups, idempotence) is out of scope. What it proves that the frame
contracts alone could not: length-prefixed framing, request/response
correlation, v0 MessageSet layout and CRC, key-hash partition routing
and per-partition offset ordering all survive a real socket.
"""

from __future__ import annotations

import logging
import socket
import struct
import threading
import zlib
from dataclasses import dataclass, field

from pmacct_spark.sources.sockio import recv_exact

log = logging.getLogger("pmacct_spark")

# --- primitive codecs (big-endian, per the Kafka protocol guide) -----


def _i8(v: int) -> bytes:
    return struct.pack(">b", v)


def _i16(v: int) -> bytes:
    return struct.pack(">h", v)


def _i32(v: int) -> bytes:
    return struct.pack(">i", v)


def _i64(v: int) -> bytes:
    return struct.pack(">q", v)


def _string(s: str | None) -> bytes:
    if s is None:
        return _i16(-1)
    b = s.encode()
    return _i16(len(b)) + b


def _bytes(b: bytes | None) -> bytes:
    if b is None:
        return _i32(-1)
    return _i32(len(b)) + b


class _Reader:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.off = 0

    def i8(self) -> int:
        (v,) = struct.unpack_from(">b", self.buf, self.off)
        self.off += 1
        return v

    def i16(self) -> int:
        (v,) = struct.unpack_from(">h", self.buf, self.off)
        self.off += 2
        return v

    def i32(self) -> int:
        (v,) = struct.unpack_from(">i", self.buf, self.off)
        self.off += 4
        return v

    def i64(self) -> int:
        (v,) = struct.unpack_from(">q", self.buf, self.off)
        self.off += 8
        return v

    def string(self) -> str | None:
        n = self.i16()
        if n < 0:
            return None
        v = self.buf[self.off : self.off + n].decode()
        self.off += n
        return v

    def nbytes(self) -> bytes | None:
        n = self.i32()
        if n < 0:
            return None
        v = self.buf[self.off : self.off + n]
        self.off += n
        return v

    def raw(self, n: int) -> bytes:
        v = self.buf[self.off : self.off + n]
        self.off += n
        return v


# --- v0 message / message-set codec ----------------------------------


def encode_message(key: bytes | None, value: bytes | None) -> bytes:
    """Kafka v0 Message: crc32(magic..value) + magic(0) + attrs(0) +
    key BYTES + value BYTES. The CRC is the full unsigned CRC-32
    stored in the int32 slot (two's complement on the wire), exactly
    as the spec and librdkafka produce it."""
    body = _i8(0) + _i8(0) + _bytes(key) + _bytes(value)
    return struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF) + body


def encode_message_set(msgs: list[tuple[int, bytes]]) -> bytes:
    """[(offset, encoded_message)] -> ON-WIRE message set."""
    out = b""
    for off, m in msgs:
        out += _i64(off) + _i32(len(m)) + m
    return out


def decode_message_set(
    buf: bytes, strict: bool = True
) -> list[tuple[int, bytes | None, bytes | None]]:
    """ON-WIRE message set -> [(offset, key, value)]; CRC verified
    (full unsigned CRC-32 read back from the int32 slot). With
    ``strict=False`` a corrupt message is skipped instead of raising —
    the poisoned-record resilience the long-running spool needs."""
    out = []
    r = _Reader(buf)
    while r.off + 12 <= len(buf):
        off = r.i64()
        sz = r.i32()
        if r.off + sz > len(buf):  # truncated trailing message
            break
        m = _Reader(r.raw(sz))
        crc = m.i32() & 0xFFFFFFFF
        body = m.buf[m.off :]
        if (zlib.crc32(body) & 0xFFFFFFFF) != crc:
            if strict:
                raise ValueError(f"message CRC mismatch at offset {off}")
            continue
        m.i8()  # magic
        m.i8()  # attributes
        key = m.nbytes()
        value = m.nbytes()
        out.append((off, key, value))
    return out


# --- the broker ------------------------------------------------------


@dataclass
class MiniKafkaBroker:
    """In-process threaded Kafka broker (v0 APIs) on a loopback port.

    Topics auto-create on first produce/metadata with ``npartitions``
    partitions. Logs are per-(topic, partition) lists of (key, value);
    offsets are assignment order — the per-partition total order the
    stateful decoders key their ``seqno`` on.
    """

    npartitions: int = 2
    host: str = "127.0.0.1"
    port: int = 0
    logs: dict = field(default_factory=dict)  # (topic, part) -> [(k, v)]
    _srv: socket.socket | None = None
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _conns: list = field(default_factory=list)  # live accepted sockets
    _stopping: threading.Event = field(default_factory=threading.Event)
    _accept_thread: threading.Thread | None = None

    def start(self) -> "MiniKafkaBroker":
        self._srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._srv.bind((self.host, self.port))
        self.port = self._srv.getsockname()[1]
        self._srv.listen(16)
        # polling accept: a thread BLOCKED in accept() pins the kernel
        # listener open past close() (the in-flight syscall holds the
        # open file description), which kept the port LISTENing after
        # stop() and broke same-port restarts
        self._srv.settimeout(0.1)
        self._stopping.clear()
        self._accept_thread = threading.Thread(
            target=self._accept_loop, daemon=True
        )
        self._accept_thread.start()
        return self

    def stop(self) -> None:
        self._stopping.set()
        if self._accept_thread is not None:
            self._accept_thread.join(timeout=5)
            self._accept_thread = None
        try:
            if self._srv:
                self._srv.close()
        except OSError:
            pass
        # a dead broker kills its SESSIONS too, not just the listener —
        # connected consumers must see the loss (and the port must free
        # for a same-port restart in the connection-loss tests)
        with self._lock:
            conns, self._conns = self._conns, []
        for c in conns:
            try:
                # SO_LINGER(0): close sends RST and destroys the socket
                # immediately — no FIN_WAIT_2 half-closed remnant holds
                # the port against a same-port restart (accepted sockets
                # do not inherit the listener's SO_REUSEADDR)
                c.setsockopt(
                    socket.SOL_SOCKET, socket.SO_LINGER,
                    struct.pack("ii", 1, 0),
                )
            except OSError:
                pass
            try:
                c.close()
            except OSError:
                pass

    def _topic(self, topic: str) -> None:
        with self._lock:
            for p in range(self.npartitions):
                self.logs.setdefault((topic, p), [])

    def _accept_loop(self) -> None:
        while not self._stopping.is_set():
            try:
                conn, _ = self._srv.accept()
            except socket.timeout:
                continue
            except OSError:
                return
            # accepted sockets inherit the listener's poll timeout:
            # restore blocking mode (stop() closes them with RST, which
            # wakes any blocked recv)
            conn.settimeout(None)
            with self._lock:
                self._conns = [
                    c for c in self._conns if c.fileno() >= 0
                ] + [conn]
            threading.Thread(
                target=self._serve, args=(conn,), daemon=True
            ).start()

    def _serve(self, conn: socket.socket) -> None:
        with conn:
            while True:
                try:
                    hdr = recv_exact(conn, 4)
                    (size,) = struct.unpack(">i", hdr)
                    body = recv_exact(conn, size)
                except (ConnectionError, OSError):
                    return
                # malformed-peer hardening (same discipline as the
                # ZMTP servers): a request body that fails to parse —
                # bad string length, CRC-failing message set, truncated
                # struct — closes THIS session cleanly instead of
                # raising uncaught in the connection thread
                try:
                    r = _Reader(body)
                    api_key, api_version = r.i16(), r.i16()
                    corr = r.i32()
                    r.string()  # client_id
                    if api_version != 0:
                        return  # v0-only broker: drop the session
                    if api_key == 3:
                        resp = self._metadata(r)
                    elif api_key == 0:
                        resp = self._produce(r)
                    elif api_key == 1:
                        resp = self._fetch(r)
                    else:
                        return
                    if resp is None:  # acks=0 produce: no response
                        continue
                    out = _i32(corr) + resp
                    conn.sendall(_i32(len(out)) + out)
                except (
                    ValueError,
                    struct.error,
                    IndexError,
                    KeyError,
                    OSError,
                ):
                    return

    def _metadata(self, r: _Reader) -> bytes:
        n = r.i32()
        topics = [r.string() for _ in range(n)]
        with self._lock:
            known = sorted({t for (t, _p) in self.logs})
        if topics:
            for t in topics:
                self._topic(t)
            known = topics
        out = _i32(1) + _i32(0) + _string(self.host) + _i32(self.port)
        out += _i32(len(known))
        for t in known:
            parts = b"".join(
                _i16(0) + _i32(p) + _i32(0) + _i32(1) + _i32(0) + _i32(1) + _i32(0)
                for p in range(self.npartitions)
            )
            out += _i16(0) + _string(t) + _i32(self.npartitions) + parts
        return out

    def _produce(self, r: _Reader) -> bytes | None:
        acks = r.i16()
        r.i32()  # timeout
        ntopics = r.i32()
        out_topics = b""
        for _ in range(ntopics):
            topic = r.string()
            self._topic(topic)
            nparts = r.i32()
            out_parts = b""
            for _ in range(nparts):
                part = r.i32()
                msgset = r.raw(r.i32())
                msgs = decode_message_set(msgset)
                with self._lock:
                    log = self.logs[(topic, part)]
                    base = len(log)
                    log.extend((k, v) for (_o, k, v) in msgs)
                out_parts += _i32(part) + _i16(0) + _i64(base)
            out_topics += _string(topic) + _i32(nparts) + out_parts
        if acks == 0:
            # RequiredAcks=0: fire-and-forget, the broker MUST NOT
            # respond (Kafka protocol v0 produce semantics)
            return None
        return _i32(ntopics) + out_topics

    def _fetch(self, r: _Reader) -> bytes:
        r.i32()  # replica_id
        r.i32()  # max_wait
        r.i32()  # min_bytes
        ntopics = r.i32()
        out_topics = b""
        for _ in range(ntopics):
            topic = r.string()
            nparts = r.i32()
            out_parts = b""
            for _ in range(nparts):
                part = r.i32()
                offset = r.i64()
                r.i32()  # max_bytes
                with self._lock:
                    # copy only the tail: a 100 ms poller must be
                    # O(new records), not O(everything ever produced)
                    log = self.logs.get((topic, part), [])
                    hw = len(log)
                    tail = log[offset:]
                msgs = [
                    (offset + i, encode_message(k, v))
                    for i, (k, v) in enumerate(tail)
                ]
                ms = encode_message_set(msgs)
                out_parts += (
                    _i32(part) + _i16(0) + _i64(hw) + _i32(len(ms)) + ms
                )
            out_topics += _string(topic) + _i32(nparts) + out_parts
        return _i32(ntopics) + out_topics


# --- client half -----------------------------------------------------


class KafkaWireClient:
    """Minimal v0 client: one socket, correlated request/response."""

    def __init__(
        self,
        host: str,
        port: int,
        client_id: str = "pmacct-spark",
        acks: int = 1,
        timeout_ms: int = 10_000,
    ):
        self.sock = socket.create_connection((host, port), timeout=10)
        self.client_id = client_id
        self.acks = int(acks)
        self.timeout_ms = int(timeout_ms)
        self._corr = 0

    def close(self) -> None:
        self.sock.close()

    def _roundtrip(self, api_key: int, body: bytes) -> _Reader:
        self._corr += 1
        req = (
            _i16(api_key) + _i16(0) + _i32(self._corr)
            + _string(self.client_id) + body
        )
        self.sock.sendall(_i32(len(req)) + req)
        hdr = self._recv_exact(4)
        (size,) = struct.unpack(">i", hdr)
        resp = _Reader(self._recv_exact(size))
        corr = resp.i32()
        if corr != self._corr:
            raise ValueError(f"correlation mismatch {corr} != {self._corr}")
        return resp

    def _recv_exact(self, n: int) -> bytes:
        return recv_exact(self.sock, n)

    def metadata(self, topics: list[str]) -> dict[str, list[int]]:
        body = _i32(len(topics)) + b"".join(_string(t) for t in topics)
        r = self._roundtrip(3, body)
        nb = r.i32()
        for _ in range(nb):
            r.i32(), r.string(), r.i32()
        out: dict[str, list[int]] = {}
        nt = r.i32()
        for _ in range(nt):
            r.i16()
            t = r.string()
            nparts = r.i32()
            parts = []
            for _ in range(nparts):
                r.i16()
                parts.append(r.i32())
                r.i32()  # leader
                for _ in range(r.i32()):
                    r.i32()  # replicas
                for _ in range(r.i32()):
                    r.i32()  # isr
            out[t] = parts
        return out

    def produce(
        self, topic: str, part: int, msgs: list[tuple[bytes | None, bytes]]
    ) -> int:
        ms = encode_message_set(
            [(0, encode_message(k, v)) for (k, v) in msgs]
        )
        body = (
            _i16(self.acks) + _i32(self.timeout_ms) + _i32(1)
            + _string(topic) + _i32(1)
            + _i32(part) + _i32(len(ms)) + ms
        )
        if self.acks == 0:
            # fire-and-forget: the broker does not respond (protocol
            # v0 RequiredAcks=0) — send the framed request directly
            self._corr += 1
            req = (
                _i16(0) + _i16(0) + _i32(self._corr)
                + _string(self.client_id) + body
            )
            self.sock.sendall(_i32(len(req)) + req)
            return -1
        r = self._roundtrip(0, body)
        r.i32(), r.string(), r.i32(), r.i32()  # 1 topic/1 part echoes
        err = r.i16()
        if err:
            raise ValueError(f"produce error {err}")
        return r.i64()

    def fetch(
        self,
        topic: str,
        part: int,
        offset: int = 0,
        strict: bool = True,
        with_hwm: bool = False,
    ):
        body = (
            _i32(-1) + _i32(100) + _i32(1) + _i32(1) + _string(topic)
            + _i32(1) + _i32(part) + _i64(offset) + _i32(1 << 24)
        )
        r = self._roundtrip(1, body)
        r.i32(), r.string(), r.i32(), r.i32()  # 1 topic/1 part echoes
        err = r.i16()
        if err:
            raise ValueError(f"fetch error {err}")
        hwm = r.i64()  # high watermark
        recs = decode_message_set(r.raw(r.i32()), strict=strict)
        return (hwm, recs) if with_hwm else recs


def _partition_for(key: str | None, nparts: int) -> int:
    """Deterministic key-hash routing (murmur-free stand-in: the
    engine's portable polynomial hash keeps tests engine-checkable;
    librdkafka's default is similarly hash(key) % nparts)."""
    if key is None or nparts <= 1:
        return 0
    h = 0
    for ch in key:
        h = (h * 131 + ord(ch)) % 1_000_000_007
    return h % nparts


#: librdkafka properties the wire producer honors (kafka_config_file,
#: CONFIG-KEYS:851). Everything else is accepted-but-inert with a
#: warning — validation is intentionally NOT performed on key/value,
#: matching the reference's pass-through contract.
_WIRE_PROPS = {
    ("global", "request.required.acks"): "acks",
    ("global", "request.timeout.ms"): "timeout_ms",
    ("global", "batch.num.messages"): "batch_messages",
    ("topic", "request.required.acks"): "acks",
}


def wire_producer_options(cfg: dict[str, dict[str, str]]) -> dict:
    """Map a parsed kafka_config_file ({'global': {...}, 'topic':
    {...}}, conffile.parse_kafka_config_file) onto the wire producer's
    parameters. Properties without a wire equivalent (compression,
    TLS, SASL, ...) warn and no-op — the reference likewise hands
    unknown keys to librdkafka unvalidated."""
    out: dict = {}
    for scope, props in cfg.items():
        for key, value in props.items():
            param = _WIRE_PROPS.get((scope, key))
            if param is None:
                log.warning(
                    "kafka_config_file: %s property %r has no wire-"
                    "producer equivalent here; ignored", scope, key
                )
                continue
            out[param] = int(value)
    return out


def produce_frames(
    frames,
    host: str,
    port: int,
    nparts: int = 2,
    acks: int = 1,
    timeout_ms: int = 10_000,
    batch_messages: int = 1,
    partition: int | None = None,
) -> None:
    """DISTRIBUTED producer: ship a (key, value, topic) frame DataFrame
    (sinks/kafka.kafka_frame output) through the wire protocol. Each
    DataFrame partition opens its own client — the per-executor
    connection pattern of librdkafka — so no rows ever pass through
    the driver. ``acks`` / ``timeout_ms`` / ``batch_messages`` carry
    the kafka_config_file properties the wire honors
    (:func:`wire_producer_options`); batching groups consecutive
    same-(topic, partition) messages into one produce request.
    ``partition`` pins every message to one partition id
    (kafka_partition, CONFIG-KEYS: the fixed-partition fast path;
    unset = key-hash routing, the kafka_partition_dynamic shape)."""

    def _send(rows) -> None:
        cli = None
        pend_tp: tuple[str, int] | None = None
        pend: list[tuple[bytes | None, bytes]] = []

        def _flush() -> None:
            if cli is not None and pend_tp is not None and pend:
                cli.produce(pend_tp[0], pend_tp[1], list(pend))
                pend.clear()

        try:
            for row in rows:
                if cli is None:
                    cli = KafkaWireClient(
                        host, port, acks=acks, timeout_ms=timeout_ms
                    )
                key = row["key"]
                tp = (
                    row["topic"],
                    partition
                    if partition is not None
                    else _partition_for(key, nparts),
                )
                if tp != pend_tp:
                    _flush()
                    pend_tp = tp
                pend.append((
                    key.encode() if key is not None else None,
                    row["value"].encode()
                    if isinstance(row["value"], str)
                    else bytes(row["value"]),
                ))
                if len(pend) >= max(1, batch_messages):
                    _flush()
        finally:
            _flush()
            if cli is not None:
                cli.close()

    frames.select("key", "value", "topic").foreachPartition(_send)


def fetch_records(
    spark, host: str, port: int, topics: list[str]
):
    """Consumer half: Metadata discovery + Fetch from offset 0 on every
    partition -> a DataFrame shaped like Spark's Kafka source (key,
    value, topic, partition, offset), ready for
    :func:`pmacct_spark.sources.kafka.frames_to_datagrams`."""
    cli = KafkaWireClient(host, port)
    try:
        meta = cli.metadata(topics)
        rows = []
        for t, parts in meta.items():
            for p in parts:
                for off, key, value in cli.fetch(t, p, 0):
                    rows.append(
                        (
                            key.decode() if key is not None else None,
                            bytearray(value if value is not None else b""),
                            t,
                            p,
                            off,
                        )
                    )
    finally:
        cli.close()
    return spark.createDataFrame(
        rows, "key string, value binary, topic string, partition int, offset long"
    )


class KafkaSpool:
    """UdpSpool twin over the Kafka wire protocol: the reference's
    Kafka collector transport (``nfacctd_kafka_broker_host`` /
    ``nfacctd_kafka_topic``, consumer setup src/kafka_common.c) with
    the identical downstream contract — a background poller Fetches
    from the last consumed offset per partition and spools
    (exporter_ip, seqno, payload) parquet batches that ``batch()`` /
    ``stream()`` serve exactly like the UDP socket spool. exporter_ip
    comes from the record key (falling back to a stable synthetic
    ``kafka:<topic>/<partition>`` identity), so template scoping and
    stateful decode work unchanged."""

    def __init__(
        self,
        host: str,
        port: int,
        topic: str,
        spool_dir: str | None = None,
        poll_secs: float = 0.1,
    ):
        import tempfile

        self.host, self.port, self.topic = host, port, topic
        self.spool_dir = spool_dir or tempfile.mkdtemp(prefix="kafka_spool_")
        self.poll_secs = poll_secs
        self.datagrams_received = 0
        self.datagrams_dropped = 0  # rows lost to failed writes
        self.reconnects = 0  # successful re-dials after broker loss
        self.rewinds = 0  # partitions reset after log truncation
        self.last_error: Exception | None = None
        self._cli: KafkaWireClient | None = None
        self._offsets: dict[int, int] = {}
        self._seq = 0
        self._nfile = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._lock = threading.Lock()  # one socket: serialize all use

    def start(self) -> "KafkaSpool":
        import os

        os.makedirs(self.spool_dir, exist_ok=True)
        self._cli = KafkaWireClient(self.host, self.port)
        self._offsets = {
            p: 0 for p in self._cli.metadata([self.topic])[self.topic]
        }
        self._stop.clear()
        self._thread = threading.Thread(
            target=self._loop, name=f"kafka-spool-{self.topic}", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
            self._thread = None
        if self._cli is not None:
            self._cli.close()
            self._cli = None

    def _loop(self) -> None:
        import time

        while not self._stop.is_set():
            try:
                self._poll_once()
            except (ConnectionError, OSError) as exc:
                # broker went away (reference test 900-kafka-
                # connection-loss, librdkafka's automatic recovery):
                # keep the spool intact, RE-DIAL with backoff, resume
                # from the committed offsets
                self.last_error = exc
                if not self._reconnect():
                    return  # stop() arrived during backoff
            time.sleep(self.poll_secs)

    def _reconnect(self) -> bool:
        import time

        backoff = 0.1
        while not self._stop.is_set():
            try:
                with self._lock:
                    if self._cli is not None:
                        try:
                            self._cli.close()
                        except OSError:
                            pass
                        self._cli = None
                # dial + metadata OUTSIDE the lock: while the broker is
                # down the connect can block up to its 10s timeout, and
                # reader-side flush()/_poll_once callers only need the
                # already-spooled data — they must not wait on the dial
                cli = KafkaWireClient(self.host, self.port)
                try:
                    parts = cli.metadata([self.topic])[self.topic]
                except BaseException:
                    cli.close()
                    raise
                with self._lock:
                    # keep committed positions for surviving
                    # partitions; new partitions start at 0
                    self._offsets = {
                        p: self._offsets.get(p, 0) for p in parts
                    }
                    self._cli = cli
                self.reconnects += 1
                return True
            except (ConnectionError, OSError) as exc:
                self.last_error = exc
                time.sleep(backoff)
                backoff = min(backoff * 2, 1.0)
        return False

    def _poll_once(self) -> None:
        with self._lock:
            if self._cli is None:
                return
            rows: list[tuple[str, int, bytes]] = []
            # tentative per-partition positions: offsets COMMIT only
            # after the spool write lands, so a failed write re-fetches
            # the same records next tick instead of losing them
            # (corrupt records are skipped by the non-strict decode —
            # the UDP twin's poison resilience)
            new_offsets = dict(self._offsets)
            seq = self._seq
            for p in sorted(self._offsets):
                hwm, recs = self._cli.fetch(
                    self.topic, p, self._offsets[p], strict=False,
                    with_hwm=True,
                )
                if hwm < self._offsets[p]:
                    # the log is SHORTER than our position: the broker
                    # restarted with truncated state — rewind to the
                    # earliest available offset or every record
                    # produced after the restart would be skipped
                    # (the auto.offset.reset=earliest analogue)
                    new_offsets[p] = 0
                    self.rewinds += 1
                    continue
                for off, key, value in recs:
                    new_offsets[p] = off + 1
                    rows.append(
                        (
                            key.decode()
                            if key is not None
                            else f"kafka:{self.topic}/{p}",
                            seq,
                            value if value is not None else b"",
                        )
                    )
                    seq += 1
            if rows:
                try:
                    self._write(rows)
                except Exception as exc:  # disk full, dir removed, ...
                    self.last_error = exc
                    return  # offsets NOT committed: re-fetched next tick
            self._offsets = new_offsets
            self._seq = seq
            self.datagrams_received += len(rows)

    def flush(self, timeout: float = 5.0) -> None:
        """Synchronously drain the broker up to its current high
        watermark into the spool — readers call this before draining,
        mirroring UdpSpool.flush (and like it, NEVER raises: a dead
        broker must not crash a drain of already-spooled data)."""
        try:
            self._poll_once()
        except (ConnectionError, OSError, ValueError) as exc:
            self.last_error = exc

    def _write(self, rows: list[tuple[str, int, bytes]]) -> None:
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.table(
            {
                "exporter_ip": [r[0] for r in rows],
                "seqno": pa.array([r[1] for r in rows], pa.int64()),
                "payload": pa.array([r[2] for r in rows], pa.binary()),
            }
        )
        path = os.path.join(self.spool_dir, f"batch-{self._nfile:08d}.parquet")
        pq.write_table(table, path + ".tmp")
        os.rename(path + ".tmp", path)
        self._nfile += 1

    def batch(self, spark):
        """Everything spooled so far, as a batch DataFrame."""
        from pmacct_spark.sources.udp import DATAGRAM_DDL

        return spark.read.schema(DATAGRAM_DDL).parquet(self.spool_dir)

    def stream(self, spark, max_files_per_trigger: int | None = None):
        """A Structured Streaming DataFrame tailing the spool."""
        from pmacct_spark.sources.udp import DATAGRAM_DDL

        r = spark.readStream.schema(DATAGRAM_DDL)
        if max_files_per_trigger is not None:
            r = r.option("maxFilesPerTrigger", max_files_per_trigger)
        return r.parquet(self.spool_dir)
