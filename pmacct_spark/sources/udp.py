"""UDP datagram ingest: the nfacctd/sfacctd socket half.

The reference collects NetFlow/sFlow/BMP over a blocking recvfrom loop
(reference src/nfacctd.c:1525) and hands each datagram to the decode
dispatch. Spark's unit of streaming ingest is a source, not a socket,
so the adapter is a spool: a background thread owns the socket,
accumulates datagrams, and flushes them as parquet files of the
engine's universal datagram contract

    (exporter_ip string, seqno long, payload binary)

into a spool directory that both ``spark.read.parquet`` (batch replay)
and ``spark.readStream.parquet`` (live tailing with
``maxFilesPerTrigger``) consume. Every decode surface in
``streaming/decode.py`` accepts exactly this row shape, so
UdpSpool.stream() -> decode_any -> aggregation is the full nfacctd
pipeline.

Scale shape: one listener per collector edge node (the reference is
identical — one socket per nfacctd process), each spooling to shared
storage (set ``spool_dir`` to an HDFS/S3-mounted path); the Spark
streaming job unions per-listener spools and fans decode out across
the cluster. The socket thread does NO decoding — the two-phase /
stateful decoders keep parallelism decoupled from exporter count.
"""

from __future__ import annotations

import os
import socket
import tempfile
import threading
import time

from pmacct_spark.sources.spoolio import Waker

DATAGRAM_DDL = "exporter_ip string, seqno long, payload binary"


class UdpSpool:
    """Background UDP listener spooling datagrams to parquet files.

    Parameters
    ----------
    host, port : bind address; ``port=0`` picks an ephemeral port
        (read it back from ``self.port`` after :meth:`start`).
    spool_dir : directory the parquet batch files land in (created if
        missing); pass a shared-filesystem path on a cluster.
    flush_datagrams / flush_secs : a batch file is cut when either
        bound is reached — the latency/file-size trade the reference
        expresses as plugin_pipe buffering (docs/INTERNALS:96-125).
    """

    def __init__(
        self,
        host: str = "127.0.0.1",
        port: int = 0,
        spool_dir: str | None = None,
        flush_datagrams: int = 1000,
        flush_secs: float = 1.0,
        mcast_groups: list[str] | None = None,
    ):
        self.host = host
        self.port = port
        # [ns]facctd_mcast_groups (CONFIG-KEYS:2190): multicast groups
        # to join, max 20 per daemon instance like the reference
        if mcast_groups and len(mcast_groups) > 20:
            raise ValueError(
                "a maximum of 20 multicast groups may be joined"
            )
        self.mcast_groups = list(mcast_groups or [])
        self.spool_dir = spool_dir or tempfile.mkdtemp(prefix="udp_spool_")
        self.flush_datagrams = flush_datagrams
        self.flush_secs = flush_secs
        self._sock: socket.socket | None = None
        self._thread: threading.Thread | None = None
        self._stop = threading.Event()
        self._seq = 0
        self._nfile = 0
        self.datagrams_received = 0
        self.datagrams_dropped = 0  # rows lost to failed flushes
        self.last_error: Exception | None = None
        # flush handshake: flush() bumps _flush_want and wakes the
        # listener, which spools what it received and records the
        # generation it honored in _flush_done
        self._flush_cv = threading.Condition()
        self._flush_want = 0
        self._flush_done = 0
        self._waker: Waker | None = None
        # non-UDP transports (e.g. the gRPC dial-out server) hand
        # payloads in here; the socket thread drains them into the
        # same spool batches so every transport rides one decode path
        self._injected: list[tuple[str, bytes]] = []
        self._inject_lock = threading.Lock()

    # -- lifecycle ----------------------------------------------------
    def start(self) -> "UdpSpool":
        os.makedirs(self.spool_dir, exist_ok=True)
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        if self.mcast_groups:
            # group-destined datagrams don't match a unicast bind:
            # bind the wildcard and join each group on the configured
            # interface (nfacctd_ip supplies it, CONFIG-KEYS:2193)
            import struct as _struct

            self._sock.setsockopt(
                socket.SOL_SOCKET, socket.SO_REUSEADDR, 1
            )
            self._sock.bind(("0.0.0.0", self.port))
            for grp in self.mcast_groups:
                mreq = _struct.pack(
                    "4s4s",
                    socket.inet_aton(grp),
                    socket.inet_aton(self.host or "0.0.0.0"),
                )
                self._sock.setsockopt(
                    socket.IPPROTO_IP, socket.IP_ADD_MEMBERSHIP, mreq
                )
        else:
            self._sock.bind((self.host, self.port))
        self.port = self._sock.getsockname()[1]
        # the listener waits in select(), on the socket and the waker
        self._sock.setblocking(False)
        self._waker = Waker()
        self._stop.clear()
        self._thread = threading.Thread(
            target=self._loop, name=f"udp-spool-{self.port}", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._waker is not None:
            self._waker.wake()
        if self._thread is not None:
            self._thread.join(timeout=10)
            self._thread = None
        if self._sock is not None:
            self._sock.close()
            self._sock = None
        if self._waker is not None:
            self._waker.close()
            self._waker = None

    def __enter__(self) -> "UdpSpool":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()

    # -- non-socket ingest --------------------------------------------
    def inject(self, addr: str, payload: bytes) -> None:
        """Thread-safe enqueue from another transport's thread (gRPC
        dial-out delivers here); spooled on the next loop iteration."""
        with self._inject_lock:
            self._injected.append((addr, bytes(payload)))

    # -- socket thread ------------------------------------------------
    def _loop(self) -> None:
        buf: list[tuple[str, int, bytes]] = []
        last_flush = time.monotonic()
        # the poll timeout bounds the flush cadence
        poll = min(self.flush_secs, 0.2)
        while not self._stop.is_set():
            readable = self._waker.wait(self._sock, poll)
            # the flush() calls made so far: what each expects is in
            # the kernel queue (or injected) by now
            want = self._flush_want
            flushing = want > self._flush_done
            if flushing:
                # drain the KERNEL queue before honoring the flush: a
                # caller who just sent a burst expects every datagram
                # the socket already delivered to be in the spool
                self._recv(buf, None)
            elif readable:
                self._recv(buf, self.flush_datagrams)
            if self._injected:
                with self._inject_lock:
                    injected, self._injected = self._injected, []
                for addr, payload in injected:
                    buf.append((addr, self._seq, payload))
                    self._seq += 1
                    self.datagrams_received += 1
            now = time.monotonic()
            if buf and (
                len(buf) >= self.flush_datagrams
                or now - last_flush >= self.flush_secs
                or flushing
            ):
                self._try_flush(buf)
                buf = []
                last_flush = now
            if flushing:
                self._honored(want)
        if buf:
            self._try_flush(buf)
        self._honored(self._flush_want)

    def _recv(self, buf: list, limit: int | None) -> None:
        """Append the datagrams queued on the socket to ``buf``: all of
        them, or at most ``limit``."""
        n = 0
        while limit is None or n < limit:
            try:
                payload, (addr, _port) = self._sock.recvfrom(65535)
            except (BlockingIOError, InterruptedError):
                return
            buf.append((addr, self._seq, payload))
            self._seq += 1
            self.datagrams_received += 1
            n += 1

    def _honored(self, want: int) -> None:
        with self._flush_cv:
            self._flush_done = max(self._flush_done, want)
            self._flush_cv.notify_all()

    def flush(self, timeout: float = 5.0) -> None:
        """Force buffered datagrams out to a spool file and wait until
        they are readable — readers call this before draining so a
        just-received datagram is never missed by the batch/stream
        listing (the race is otherwise bounded by ``flush_secs``). The
        listener is woken, so this returns as soon as it has spooled
        everything received before the call."""
        if self._thread is None or not self._thread.is_alive():
            return
        with self._flush_cv:
            self._flush_want += 1
            want = self._flush_want
        waker = self._waker
        if waker is not None:  # None: stopped meanwhile
            waker.wake()
        with self._flush_cv:
            self._flush_cv.wait_for(lambda: self._flush_done >= want, timeout)

    def _try_flush(self, rows: list[tuple[str, int, bytes]]) -> None:
        """A failed flush (disk full, spool dir removed) must not kill
        the listener thread — the reference daemon logs and keeps
        collecting. The batch is dropped and counted."""
        try:
            self._flush(rows)
        except Exception as exc:  # pragma: no cover - environmental
            self.datagrams_dropped += len(rows)
            self.last_error = exc

    def _flush(self, rows: list[tuple[str, int, bytes]]) -> None:
        import pyarrow as pa

        table = pa.table(
            {
                "exporter_ip": [r[0] for r in rows],
                "seqno": pa.array([r[1] for r in rows], pa.int64()),
                "payload": pa.array([r[2] for r in rows], pa.binary()),
            }
        )
        from pmacct_spark.sources.spoolio import write_spool_file

        write_spool_file(self.spool_dir, f"b{self._nfile:08d}.parquet", table)
        self._nfile += 1

    # -- Spark surfaces -----------------------------------------------
    def batch(self, spark):
        """Everything spooled so far, as a batch DataFrame."""
        return spark.read.schema(DATAGRAM_DDL).parquet(self.spool_dir)

    def stream(self, spark, max_files_per_trigger: int | None = None):
        """A Structured Streaming DataFrame tailing the spool — feed it
        to any decoder (``decode_any``, ``decode_v9_stream``, ...)."""
        r = spark.readStream.schema(DATAGRAM_DDL)
        if max_files_per_trigger is not None:
            r = r.option("maxFilesPerTrigger", max_files_per_trigger)
        return r.parquet(self.spool_dir)


def send_datagrams(
    rows, host: str, port: int, pace_every: int = 500, pace_secs: float = 0.01
) -> int:
    """Test/replay helper: fire (exporter_ip, seqno, payload)-shaped
    rows (or bare payload bytes) at a collector socket, pacing every
    ``pace_every`` packets so a local burst does not overflow the
    receive buffer. Returns the number of datagrams sent."""
    tx = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    n = 0
    try:
        for r in rows:
            payload = r if isinstance(r, (bytes, bytearray)) else r.payload
            tx.sendto(bytes(payload), (host, port))
            n += 1
            if pace_every and n % pace_every == 0:
                time.sleep(pace_secs)
    finally:
        tx.close()
    return n
