"""RPKI-RTR client (RFC 6810/8210): the live ROA feed.

The reference's rpki daemon speaks the RTR protocol to a validator
cache as a CLIENT (reference src/rpki/rpki_msg.c:225-279 PDU dispatch,
:357 connect loop; PDU structs src/rpki/rpki.h:43-122): connect, send
a Reset Query, receive Cache Response + IPv4/IPv6 Prefix PDUs + End
of Data, then keep the session open — a Serial Notify from the cache
triggers a Serial Query for the delta, a Cache Reset forces a fresh
Reset Query.

Spark shape mirrors the BGP/BMP TcpSpool sources: the socket thread
does NO table maintenance — every received prefix PDU is appended to
a parquet spool as a (seq, epoch, afi, flags, prefix, prefix6,
masklen, maxlen, asn) row and :func:`roa_state` compacts the announce/withdraw
stream into the current ROA table with one window (latest flag per
ROA key wins), exactly the rib_state shape. The daemon re-reads the
compaction per drain/tick, so a route's validation status flips as
soon as the cache pushes the delta — live-reload semantics like the
BGP RIB.
"""

from __future__ import annotations

import glob
import os
import socket
import tempfile
import threading
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# PDU types (RFC 6810 §5; reference src/rpki/rpki.h:43-52)
PDU_SERIAL_NOTIFY = 0
PDU_SERIAL_QUERY = 1
PDU_RESET_QUERY = 2
PDU_CACHE_RESPONSE = 3
PDU_IPV4_PREFIX = 4
PDU_IPV6_PREFIX = 6
PDU_END_OF_DATA = 7
PDU_CACHE_RESET = 8
PDU_ERROR_REPORT = 10

FLAG_WITHDRAW = 0
FLAG_ANNOUNCE = 1

ROA_EVENT_DDL = (
    "seq long, epoch long, afi int, flags int, prefix long, "
    "prefix6 string, masklen int, maxlen int, asn long"
)


def encode_pdu(pdu_type: int, body: bytes = b"", session_id: int = 0,
               version: int = 1) -> bytes:
    """One RTR PDU: [version][type][session/zero 2][length 4][body]."""
    return (
        bytes([version, pdu_type])
        + session_id.to_bytes(2, "big")
        + (8 + len(body)).to_bytes(4, "big")
        + body
    )


def encode_ipv4_prefix(prefix: int, masklen: int, maxlen: int, asn: int,
                       flags: int = FLAG_ANNOUNCE, version: int = 1) -> bytes:
    body = (
        bytes([flags, masklen, maxlen, 0])
        + int(prefix).to_bytes(4, "big")
        + int(asn).to_bytes(4, "big")
    )
    return encode_pdu(PDU_IPV4_PREFIX, body, version=version)


def encode_ipv6_prefix(prefix16: bytes, masklen: int, maxlen: int, asn: int,
                       flags: int = FLAG_ANNOUNCE, version: int = 1) -> bytes:
    body = (
        bytes([flags, masklen, maxlen, 0])
        + bytes(prefix16)
        + int(asn).to_bytes(4, "big")
    )
    return encode_pdu(PDU_IPV6_PREFIX, body, version=version)


def _v6_str(b: bytes) -> str:
    h = bytes(b).hex()
    return ":".join(h[i : i + 4] for i in range(0, 32, 4))


class RtrClient:
    """Background RTR session: connects to ``host:port``, runs the
    query exchange, spools every prefix PDU to parquet."""

    def __init__(self, host: str, port: int, spool_dir: str | None = None,
                 version: int = 1, reconnect_secs: float = 1.0):
        self.host = host
        self.port = port
        self.version = version
        self.reconnect_secs = reconnect_secs
        self.spool_dir = spool_dir or tempfile.mkdtemp(prefix="rtr_spool_")
        self.session_id = 0
        self.serial = 0
        self.eods_received = 0
        self.pdus_received = 0
        self.reconnects = 0
        self.last_error: Exception | None = None
        self._sock: socket.socket | None = None
        self._thread: threading.Thread | None = None
        self._stop = threading.Event()
        self._seq = 0
        self._epoch = 1
        self._nfile = 0
        self._buf: list[tuple] = []

    # -- lifecycle ----------------------------------------------------
    def start(self) -> "RtrClient":
        os.makedirs(self.spool_dir, exist_ok=True)
        self._sock = socket.create_connection((self.host, self.port), timeout=10)
        self._sock.settimeout(0.2)
        # session bootstrap: ask for the full current set (reference
        # sends a Reset Query on a fresh session, rpki_rtr_send_reset_q)
        self._sock.sendall(encode_pdu(PDU_RESET_QUERY, version=self.version))
        self._stop.clear()
        self._thread = threading.Thread(
            target=self._loop, name=f"rtr-{self.port}", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
            self._thread = None
        if self._sock is not None:
            self._sock.close()
            self._sock = None

    def __enter__(self) -> "RtrClient":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()

    # -- socket thread ------------------------------------------------
    def _loop(self) -> None:
        """Receive loop with the reference's reconnect behavior
        (rpki_rtr_connect retry, src/rpki/rpki_msg.c:357): a dropped
        cache session reconnects after ``reconnect_secs`` and starts
        over with a Reset Query — the full set replays and the
        latest-wins compaction in :func:`roa_state` absorbs it."""
        buf = b""
        while not self._stop.is_set():
            try:
                chunk = self._sock.recv(65536)
                if not chunk:
                    raise ConnectionResetError("cache closed the session")
                buf += chunk
            except socket.timeout:
                continue
            except OSError as exc:
                self.last_error = exc
                # RFC 6810: changes apply only at End of Data. Rows
                # buffered since the last EoD belong to an INCOMPLETE
                # delta/replay — discard them (the reconnect's fresh
                # Reset Query replays the full set under a new epoch);
                # flushing them would serve a half-applied ROA table.
                self._buf.clear()
                buf = b""
                if not self._reconnect():
                    break
                continue
            out = self._consume(buf)
            if out is None:  # framing corruption: drop the session
                self.last_error = RuntimeError("RTR framing desync")
                self._buf.clear()
                buf = b""
                try:
                    self._sock.close()
                except OSError:
                    pass
                if not self._reconnect():
                    break
                continue
            buf = out
        self._buf.clear()  # never expose a partial (un-EoD'd) delta

    def _reconnect(self) -> bool:
        while not self._stop.is_set():
            self._stop.wait(self.reconnect_secs)
            if self._stop.is_set():
                return False
            try:
                old, self._sock = self._sock, socket.create_connection(
                    (self.host, self.port), timeout=10
                )
                try:
                    old.close()
                except OSError:
                    pass
                self._sock.settimeout(0.2)
                self._epoch += 1  # full replay: see PDU_CACHE_RESET
                self._sock.sendall(
                    encode_pdu(PDU_RESET_QUERY, version=self.version)
                )
                self.reconnects += 1
                return True
            except OSError as exc:
                self.last_error = exc
        return False

    def _consume(self, buf: bytes) -> bytes | None:
        """Returns the unconsumed tail, or None on framing corruption
        (the caller drops the SESSION — parsing on from an arbitrary
        byte offset would emit garbage ROAs; the reference closes the
        session on framing errors too, rpki_rtr_parse_msg default
        arm)."""
        while len(buf) >= 8:
            _ver, ptype = buf[0], buf[1]
            sess = int.from_bytes(buf[2:4], "big")
            plen = int.from_bytes(buf[4:8], "big")
            if plen < 8 or plen > 1 << 20:
                return None
            if len(buf) < plen:
                break
            body = buf[8:plen]
            buf = buf[plen:]
            self.pdus_received += 1
            if ptype == PDU_CACHE_RESPONSE:
                self.session_id = sess
            elif ptype == PDU_IPV4_PREFIX and len(body) >= 12:
                flags, ml, mx = body[0], body[1], body[2]
                pfx = int.from_bytes(body[4:8], "big")
                asn = int.from_bytes(body[8:12], "big")
                self._emit(
                    (self._seq, self._epoch, 1, flags, pfx, None, ml, mx, asn)
                )
            elif ptype == PDU_IPV6_PREFIX and len(body) >= 24:
                flags, ml, mx = body[0], body[1], body[2]
                p6 = _v6_str(body[4:20])
                asn = int.from_bytes(body[20:24], "big")
                self._emit(
                    (self._seq, self._epoch, 2, flags, None, p6, ml, mx, asn)
                )
            elif ptype == PDU_END_OF_DATA and len(body) >= 4:
                self.serial = int.from_bytes(body[0:4], "big")
                self._flush()  # the delta is complete: make it readable
                self.eods_received += 1  # counted once it is listable
            elif ptype == PDU_SERIAL_NOTIFY:
                # cache has news: ask for the delta since our serial
                self._send(
                    encode_pdu(
                        PDU_SERIAL_QUERY,
                        self.serial.to_bytes(4, "big"),
                        session_id=self.session_id,
                        version=self.version,
                    )
                )
            elif ptype == PDU_CACHE_RESET:
                # cache can't serve the delta: full replay under a NEW
                # epoch, so entries removed during the gap cannot
                # survive as stale spool rows
                self._epoch += 1
                self._send(encode_pdu(PDU_RESET_QUERY, version=self.version))
            elif ptype == PDU_ERROR_REPORT:
                self.last_error = RuntimeError(f"RTR error report: {body[:64]!r}")
        return buf

    def _send(self, pdu: bytes) -> None:
        try:
            self._sock.sendall(pdu)
        except OSError as exc:  # pragma: no cover - environmental
            self.last_error = exc

    def _emit(self, row: tuple) -> None:
        self._buf.append(row)
        self._seq += 1

    def _flush(self) -> None:
        if not self._buf:
            return
        import pyarrow as pa

        from pmacct_spark.sources.spoolio import write_spool_file

        rows = self._buf
        self._buf = []
        table = pa.table(
            {
                "seq": pa.array([r[0] for r in rows], pa.int64()),
                "epoch": pa.array([r[1] for r in rows], pa.int64()),
                "afi": pa.array([r[2] for r in rows], pa.int32()),
                "flags": pa.array([r[3] for r in rows], pa.int32()),
                "prefix": pa.array([r[4] for r in rows], pa.int64()),
                "prefix6": pa.array([r[5] for r in rows], pa.string()),
                "masklen": pa.array([r[6] for r in rows], pa.int32()),
                "maxlen": pa.array([r[7] for r in rows], pa.int32()),
                "asn": pa.array([r[8] for r in rows], pa.int64()),
            }
        )
        write_spool_file(self.spool_dir, f"r{self._nfile:08d}.parquet", table)
        self._nfile += 1

    def wait_eod(self, n: int = 1, timeout: float = 15.0) -> bool:
        t0 = time.monotonic()
        while self.eods_received < n and time.monotonic() - t0 < timeout:
            time.sleep(0.05)
        return self.eods_received >= n

    # -- Spark surfaces -----------------------------------------------
    def files(self) -> list[str]:
        """The spool files written so far, oldest first. A file is
        listed only once it is renamed in (``write_spool_file``), so
        the list and the rows a read of it returns always agree."""
        return sorted(glob.glob(os.path.join(self.spool_dir, "*.parquet")))

    def batch(self, spark, files: list[str] | None = None) -> DataFrame:
        """The ROA events of exactly ``files`` (default: :meth:`files`
        now)."""
        files = self.files() if files is None else list(files)
        if not files:
            return spark.createDataFrame([], ROA_EVENT_DDL)
        return spark.read.schema(ROA_EVENT_DDL).parquet(*files)


def roa_state(events: DataFrame) -> DataFrame:
    """Compact the announce/withdraw stream into the current ROA
    table: only the LATEST EPOCH counts (each session reset replays
    the full set under a new epoch, so entries removed while the
    session was down cannot survive as stale rows), then the latest
    flag per (afi, prefix, prefix6, masklen, maxlen, asn) wins and
    withdrawals tombstone — the rib_state shape. Output columns match
    the ``roa`` dim contract of operators/rpki (net_int, masklen,
    maxlen, asn) for v4; v6 rows keep prefix6."""
    events = events.withColumn(
        "__emax", F.max("epoch").over(Window.partitionBy())
    ).filter(F.col("epoch") == F.col("__emax")).drop("__emax")
    w = Window.partitionBy(
        "afi", "prefix", "prefix6", "masklen", "maxlen", "asn"
    ).orderBy(F.desc("seq"))
    return (
        events.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .filter(F.col("flags") == FLAG_ANNOUNCE)
        .drop("__rn", "flags", "seq", "epoch")
    )
