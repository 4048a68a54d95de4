"""TCP session ingest: the BGP/BMP socket half (pmbgpd/pmbmpd —
reference src/bgp/bgp.c:99 session accept loop, src/bmp/bmp.c:67).

Unlike UDP, BGP and BMP ride message STREAMS: a read boundary can fall
mid-message, so the spool must only ever emit byte ranges that end on
a message boundary — ``decode_bgp``/``decode_bmp`` walk
[16-byte marker][length] / [version][4-byte length] frames and would
silently drop a split tail otherwise. Each connection accumulates
bytes; on every flush the longest complete-message prefix is written
as one datagram row ``(exporter_ip=peer address, seqno, payload)`` and
the remainder stays buffered. The output feeds the same decoders and
``rib_state`` compaction the fixture-driven paths use.
"""

from __future__ import annotations

import logging
import os
import socket
import tempfile
import threading
import time

from pmacct_spark.sources.spoolio import Waker

log = logging.getLogger("pmacct_spark")

_BGP_MARKER = b"\xff" * 16
SPOOL_DDL = "exporter_ip string, seqno long, epoch long, payload binary"

# PROXY protocol (haproxy.org spec) — bmp_daemon_parse_proxy_header
# (reference CONFIG-KEYS, parser src/network.c:33 parse_proxy_header):
# when a TCP load balancer fronts the collector, the first bytes of
# the connection carry the REAL client address; it replaces the peer
# identity obtained from the socket.
PROXY_V2_SIG = b"\x0d\x0a\x0d\x0a\x00\x0d\x0a\x51\x55\x49\x54\x0a"


def parse_proxy_header(buf: bytes) -> tuple[int, str | None, bool]:
    """``(consumed, src_ip, need_more)`` for the PROXY v1/v2 header at
    the start of ``buf``. ``src_ip`` is None when the header is absent
    (keep the socket address — reference "Not Proxy Protocol" branch),
    malformed, for the v2 LOCAL command (health check) and unsupported
    families (header consumed, address kept — src/network.c:126-133).
    ``need_more=True`` means the split point fell inside the header:
    read more bytes and retry."""
    import ipaddress

    if buf[: min(len(buf), 12)] == PROXY_V2_SIG[: min(len(buf), 12)]:
        if len(buf) < 16:
            return 0, None, True
        ver_cmd, fam = buf[12], buf[13]
        size = 16 + int.from_bytes(buf[14:16], "big")
        if len(buf) < size:
            return 0, None, True
        if (ver_cmd & 0xF0) == 0x20 and (ver_cmd & 0x0F) == 0x01:
            if fam == 0x11 and size >= 16 + 12:  # TCP over IPv4
                return size, str(ipaddress.IPv4Address(buf[16:20])), False
            if fam == 0x21 and size >= 16 + 36:  # TCP over IPv6
                return size, str(ipaddress.IPv6Address(buf[16:32])), False
        # LOCAL command / unsupported family: consume, keep socket addr
        return size, None, False
    if buf[: min(len(buf), 5)] == b"PROXY"[: min(len(buf), 5)]:
        end = buf.find(b"\r\n")
        if end < 0:
            # v1 header is at most 107 bytes; anything longer without
            # CRLF is not a header
            return (0, None, True) if len(buf) < 108 else (0, None, False)
        parts = buf[:end].decode("ascii", "replace").split(" ")
        # PROXY TCP4|TCP6 <src> <dst> <sport> <dport> ; "PROXY UNKNOWN"
        # keeps the socket address
        if len(parts) >= 6 and parts[1] in ("TCP4", "TCP6"):
            return end + 2, parts[2], False
        return end + 2, None, False
    return 0, None, False


# TCP-MD5 (RFC 2385) via the kernel's TCP_MD5SIG socket option —
# reference bgp_daemon_md5_file (CONFIG-KEYS:3079): the kernel signs /
# verifies every segment of the session; a peer with the wrong (or no)
# key never completes the handshake and the application sees nothing,
# exactly as the reference documents ("logs will be empty of any
# errors"). Linux-specific, like the reference's implementation
# (src/bgp/bgp.c my_md5sig setsockopt path).
TCP_MD5SIG = 14
TCP_MD5SIG_MAXKEYLEN = 80


def set_tcp_md5(sock: socket.socket, peer_ip: str, key: bytes) -> None:
    """Register ``key`` for segments to/from ``peer_ip`` on ``sock``
    (a listener registers one key per configured peer; connected
    sockets register their remote). struct tcp_md5sig layout per
    linux/tcp.h: sockaddr_storage(128) + flags u8 + prefixlen u8 +
    keylen u16 + pad u32 + key[80]."""
    import ipaddress
    import struct

    if len(key) > TCP_MD5SIG_MAXKEYLEN:
        raise ValueError("TCP-MD5 key exceeds 80 bytes")
    addr = ipaddress.ip_address(peer_ip)
    if addr.version == 4:
        sa = (
            struct.pack("H", socket.AF_INET)
            + struct.pack("!H", 0)
            + addr.packed
        )
    else:
        sa = (
            struct.pack("H", socket.AF_INET6)
            + struct.pack("!HI", 0, 0)
            + addr.packed
            + struct.pack("I", 0)
        )
    sa = sa.ljust(128, b"\x00")
    val = sa + struct.pack("BBHI", 0, 0, len(key), 0) + key.ljust(
        TCP_MD5SIG_MAXKEYLEN, b"\x00"
    )
    sock.setsockopt(socket.IPPROTO_TCP, TCP_MD5SIG, val)


def complete_prefix_bgp(buf: bytes) -> int:
    """Length of the longest prefix of ``buf`` holding only complete
    BGP messages ([marker 16][len 2][type 1] framing)."""
    off = 0
    while off + 19 <= len(buf):
        if buf[off : off + 16] != _BGP_MARKER:
            break  # desynced: emit what we had, drop nothing silently
        mlen = int.from_bytes(buf[off + 16 : off + 18], "big")
        if mlen < 19 or off + mlen > len(buf):
            break
        off += mlen
    return off


def complete_prefix_bmp(buf: bytes) -> int:
    """Same for BMP: [version 1][total length 4][msg type 1]."""
    off = 0
    while off + 6 <= len(buf):
        if buf[off] != 3:
            break
        mlen = int.from_bytes(buf[off + 1 : off + 5], "big")
        if mlen < 6 or off + mlen > len(buf):
            break
        off += mlen
    return off


def complete_prefix_jsonl(buf: bytes) -> int:
    """Newline-delimited JSON (streaming telemetry over TCP, the
    reference's tests/801 tcp-json path, src/telemetry/telemetry.c
    line decoder): everything up to and including the last '\\n' is
    complete; a split trailing line stays buffered."""
    i = buf.rfind(b"\n")
    return i + 1 if i >= 0 else 0


def complete_prefix_cisco(buf: bytes) -> int:
    """Cisco MDT dial-out framing, v0 AND v1: both headers are 12
    bytes with the payload length as a u32 at offset 8 (reference
    telemetry_cisco_hdr_v0/_v1 src/telemetry/telemetry.h:99-111,
    length reads src/telemetry/telemetry_util.c:71-99), so one walker
    serves both framings — only the leading type/encap fields differ,
    which the decoder (not the framer) interprets."""
    off = 0
    while off + 12 <= len(buf):
        plen = int.from_bytes(buf[off + 8 : off + 12], "big")
        if off + 12 + plen > len(buf):
            break
        off += 12 + plen
    return off


_BGP_MARKER = b"\xff" * 16
_BGP_KEEPALIVE = _BGP_MARKER + (19).to_bytes(2, "big") + b"\x04"


class BgpSpeaker:
    """The collector's passive BGP speaker side (reference
    src/bgp/bgp_msg.c bgp_parse_msg: OPEN -> OPEN reply + KEEPALIVE,
    KEEPALIVE -> KEEPALIVE reply; CONFIG-KEYS bgp_daemon_as /
    bgp_daemon_id):

    - the OPEN reply mirrors the peer's AS (iBGP) unless ``local_as``
      (bgp_daemon_as) pins an explicit Local AS (eBGP);
    - Router-ID is ``router_id`` (bgp_daemon_id) when a valid IPv4,
      else the listener address, else the reference's "1.2.3.4";
    - capabilities are the SAME-OR-SUBSET echo: MP-BGP (1) and
      ADD-PATH (69) copied from the peer, 4-byte-AS (65) rewritten to
      carry OUR AS, anything else dropped;
    - holdtime echoes the peer's.

    Stateless per-connection scanner: ``feed(chunk)`` returns the
    reply frames to send. It never consumes the session buffer the
    spool walks — it keeps its own."""

    def __init__(self, local_as: int | None = None,
                 router_id: str | None = None, fallback_ip: str = "",
                 add_path_ignore: bool = False,
                 route_refresh: bool = False,
                 on_open=None):
        import ipaddress as _ip

        self.local_as = int(local_as) if local_as else None
        rid = None
        for cand in (router_id, fallback_ip, "1.2.3.4"):
            try:
                a = _ip.ip_address(str(cand))
                if a.version == 4 and int(a):
                    rid = a
                    break
            except ValueError:
                continue
        self.router_id = rid.packed
        # bgp_daemon_add_path_ignore (CONFIG-KEYS:2858): do not echo
        # the ADD-PATH capability, so the peer never add-path-encodes
        self.add_path_ignore = bool(add_path_ignore)
        # tmp_bgp_daemon_route_refresh (CONFIG-KEYS:3734): present a
        # Route Refresh capability back IF the peer set it; received
        # ROUTE-REFRESH messages (type 5) are simply ignored
        self.route_refresh = bool(route_refresh)
        # OPEN-time hook (router-id duplicate check,
        # bgp_router_id_check src/bgp/bgp_util.c:1685): called with
        # the peer's 4-byte Router-ID; returning False refuses the
        # session like the reference's "Refusing new connection from
        # existing Router-ID"
        self.on_open = on_open
        self.refuse = False
        self.sent_open = False
        self._buf = b""

    def feed(self, chunk: bytes) -> list[bytes]:
        self._buf += chunk
        out: list[bytes] = []
        while len(self._buf) >= 19:
            if self._buf[:16] != _BGP_MARKER:
                self._buf = b""  # desynced: stop replying, keep spooling
                break
            ln = int.from_bytes(self._buf[16:18], "big")
            if ln < 19 or len(self._buf) < ln:
                break
            mtype = self._buf[18]
            body = self._buf[19:ln]
            if mtype == 1 and not self.sent_open:
                if self.on_open is not None and len(body) >= 9:
                    if not self.on_open(body[5:9]):
                        self.refuse = True
                        self._buf = b""
                        break
                out.append(self._open_reply(body))
                out.append(_BGP_KEEPALIVE)
                self.sent_open = True
            elif mtype == 4:
                out.append(_BGP_KEEPALIVE)
            # mtype 5 (ROUTE-REFRESH): ignored by design (:3738)
            self._buf = self._buf[ln:]
        return out

    def _open_reply(self, peer_open_body: bytes) -> bytes:
        peer_as = holdtime = 0
        caps: list[tuple[int, bytes]] = []
        if len(peer_open_body) >= 10:
            peer_as = int.from_bytes(peer_open_body[1:3], "big")
            holdtime = int.from_bytes(peer_open_body[3:5], "big")
            optlen = peer_open_body[9]
            opts = peer_open_body[10:10 + optlen]
            i = 0
            while i + 2 <= len(opts):
                ptype, plen = opts[i], opts[i + 1]
                pval = opts[i + 2:i + 2 + plen]
                i += 2 + plen
                if ptype != 2:  # capabilities only
                    continue
                j = 0
                while j + 2 <= len(pval):
                    code, clen = pval[j], pval[j + 1]
                    caps.append((code, pval[j + 2:j + 2 + clen]))
                    j += 2 + clen
            # the peer may carry AS_TRANS in the header with the real
            # AS in capability 65
            for code, val in caps:
                if code == 65 and len(val) == 4 and peer_as == 23456:
                    peer_as = int.from_bytes(val, "big")
        my_as = self.local_as if self.local_as is not None else (
            peer_as or 23456
        )
        out_caps = b""
        sent_as4 = False
        echoed = {1, 69} if not self.add_path_ignore else {1}
        if self.route_refresh:
            echoed.add(2)  # Route Refresh (RFC 2918), echo-if-offered
        for code, val in caps:
            if code == 65:
                val = my_as.to_bytes(4, "big")
                sent_as4 = True
            elif code not in echoed:  # MP-BGP / ADD-PATH echoed
                continue
            out_caps += bytes([code, len(val)]) + val
        if not sent_as4 and my_as > 65535:
            out_caps += bytes([65, 4]) + my_as.to_bytes(4, "big")
        opt = bytes([2, len(out_caps)]) + out_caps if out_caps else b""
        body = (
            bytes([4])
            + (my_as if my_as < 65536 else 23456).to_bytes(2, "big")
            + holdtime.to_bytes(2, "big")
            + self.router_id
            + bytes([len(opt)])
            + opt
        )
        ln = 19 + len(body)
        return _BGP_MARKER + ln.to_bytes(2, "big") + b"\x01" + body


# Where a message's length (offset, size) and type sit
_HEADERS = {"bgp": (16, 2, 18), "bmp": (1, 4, 5)}


def changes_rib(framing: str, payload: bytes) -> bool:
    """Whether a complete-message ``payload`` holds a message type the
    RIB reads (``streaming.bmp.RIB_MSG_TYPES``; always True for
    framings that carry no RIB)."""
    from pmacct_spark.streaming.bmp import RIB_MSG_TYPES

    if framing not in _HEADERS:
        return True
    len_at, len_size, type_at = _HEADERS[framing]
    rib = RIB_MSG_TYPES[framing]
    off = 0
    while off + type_at < len(payload):
        if payload[off + type_at] in rib:
            return True
        at = off + len_at
        mlen = int.from_bytes(payload[at : at + len_size], "big")
        if mlen <= type_at:
            return True  # not a framed message: assume it matters
        off += mlen
    return False


_FRAMERS = {
    "bgp": complete_prefix_bgp,
    "bmp": complete_prefix_bmp,
    "jsonl": complete_prefix_jsonl,
    "cisco_v0": complete_prefix_cisco,
    "cisco_v1": complete_prefix_cisco,
}


class TcpSpool:
    """Accepting TCP listener spooling per-peer session bytes to
    parquet datagram rows, message-boundary aligned.

    ``framing``: 'bgp' or 'bmp' — picks the complete-prefix walker.
    The peer's source address is the exporter identity (the session's
    remote IS the peer, reference src/bgp/bgp.c session bookkeeping).
    """

    def __init__(
        self,
        framing: str = "bgp",
        host: str = "127.0.0.1",
        port: int = 0,
        spool_dir: str | None = None,
        flush_secs: float = 0.2,
        max_buffer: int = 4 << 20,
        md5_keys: dict[str, bytes] | None = None,
        proxy_header: bool = False,
        max_peers: int | None = None,
        speaker: dict | None = None,
        neighbors_file: str | None = None,
        allow: list[str] | None = None,
        router_id_check: bool = True,
        batch: int = 0,
        batch_interval: int = 0,
    ):
        # [bgp|bmp]_daemon_batch + _batch_interval (CONFIG-KEYS:2796):
        # at most `batch` NEW peers per `batch_interval` seconds — the
        # first peer of a batch sets its base time; throttled
        # connections are accepted-then-dropped (the reference's
        # close(fd) at src/bgp/bgp.c:864); a dropped session makes no
        # room in the current batch, and ACL-denied peers never
        # consume room (the batch_rollback net effect). Both keys must
        # be set together, like the reference warns-and-disables.
        if bool(batch) != bool(batch_interval):
            log.warning(
                "batch and batch_interval must be set together; "
                "peer batching disabled"
            )
            batch = batch_interval = 0
        self.peer_batch = int(batch)
        self.peer_batch_interval = int(batch_interval)
        self._batch_left = 0
        self._batch_base = 0.0
        self.sessions_throttled = 0
        # bgp_daemon_allow_file / bmp_daemon_allow_file (CONFIG-KEYS:
        # 3073): sessions from peers not in the list are REFUSED at
        # accept. None = no file = accept everything; an EMPTY list =
        # empty file = DENY ALL (load_allow_file src/util.c:2033 sets
        # num=-1 so check_allow matches nothing). Malformed entries are
        # warned and skipped like src/util.c:2026, never fatal.
        import ipaddress as _ip

        self.allow_nets: list | None
        if allow is None:
            self.allow_nets = None
        else:
            self.allow_nets = []
            for e in allow:
                try:
                    self.allow_nets.append(
                        _ip.ip_network(e, strict=False)
                    )
                except ValueError:
                    log.warning(
                        "allow_file: Bad IP address '%s'. Ignored.", e
                    )
        self.sessions_refused_by_allow = 0
        # BGP speaker side (OPEN reply + KEEPALIVEs, bgp_daemon_as /
        # bgp_daemon_id): kwargs for a per-connection BgpSpeaker;
        # None = receive-only (BMP, tests)
        self.speaker_conf = speaker
        # duplicate-Router-ID refusal at OPEN (bgp_router_id_check
        # src/bgp/bgp_util.c:1685); bgp_disable_router_id_check
        # (CONFIG-KEYS:3059) turns it off
        self.router_id_check = router_id_check
        self._active_rids: dict[int, bytes] = {}
        self.sessions_refused_by_rid = 0
        # bgp_neighbors_file / bmp_neighbors_file (CONFIG-KEYS:3066,
        # write_neighbors_file src/bgp/bgp_util.c:1193): the live
        # peer list, one address per line, rewritten on every session
        # open/close — the SNMP auto-discovery hook
        self.neighbors_file = neighbors_file
        self._live_peers: dict[int, str] = {}
        # bgp_daemon_max_peers / bmp_daemon_max_peers (CONFIG-KEYS:
        # 2787): hard cap on CONCURRENT peer sessions; connections
        # beyond it are refused (closed on accept), like the
        # reference's full-peers-table path
        self.max_peers = max_peers
        self.peers_refused = 0
        self.framing = framing
        self._prefix = _FRAMERS[framing]
        # bmp_daemon_parse_proxy_header: strip a PROXY v1/v2 header off
        # the first bytes and take the peer identity from it
        self.proxy_header = proxy_header
        # peer ip -> TCP-MD5 key (bgp_daemon_md5_file); registered on
        # the listener at start() so the kernel drops unsigned /
        # mis-signed segments from those peers before accept()
        self.md5_keys = md5_keys or {}
        self.host = host
        self.port = port
        self.spool_dir = spool_dir or tempfile.mkdtemp(prefix="tcp_spool_")
        self.flush_secs = flush_secs
        # a desynced/garbage peer never produces a complete message, so
        # its buffer would grow without bound: past this, the session
        # is dropped (the reference closes misbehaving sessions too)
        self.max_buffer = max_buffer
        self.sessions_dropped = 0
        self._srv: socket.socket | None = None
        self._accept_thread: threading.Thread | None = None
        self._conn_threads: list[threading.Thread] = []
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._seq = 0
        self._nfile = 0
        # per-peer connection epoch: a NEW connection from the same
        # peer starts a new BGP/BMP session, and (no graceful restart)
        # the previous session's state is obsolete — readers keep only
        # the max epoch per peer (reference src/bgp/bgp.c session
        # teardown clears the peer's RIB)
        self._epochs: dict[str, int] = {}
        # spool files holding session plumbing only (keepalives, BMP
        # stats): rib_files() leaves them out. Per peer, the newest
        # epoch spooled so far: a session's first file always counts,
        # since its new epoch replaces the older session in every read
        self._plumbing: set[str] = set()
        self._rib_epochs: dict[str, int] = {}
        self.messages_spooled = 0
        # acknowledged-flush handshake: flush() bumps the generation
        # and wakes every socket thread; the accept loop records the
        # last generation whose queued connections it has registered,
        # each session thread emits its prefix then records the gen
        self._flush_gen = 0
        self._flush_acks: dict[int, int] = {}
        self._accepted_gen = 0
        self._flush_cv = threading.Condition(self._lock)
        self._accept_waker: Waker | None = None
        self._conn_wakers: dict[int, Waker] = {}  # per-connection ack key
        self._conn_seq = 0  # per-connection ack keys

    # -- lifecycle ----------------------------------------------------
    def start(self) -> "TcpSpool":
        os.makedirs(self.spool_dir, exist_ok=True)
        # v6 transport: a v6 bind address (bgp_daemon_ip: ::,
        # bmp_daemon_ip: ::1, ...) opens an AF_INET6 listener — v6
        # BGP/BMP peering is first-class in the reference
        # (bgp_daemon_ipv6_only et al.); peer identity then renders
        # in v6 presentation form
        fam = (
            socket.AF_INET6 if ":" in str(self.host) else socket.AF_INET
        )
        self._srv = socket.socket(fam, socket.SOCK_STREAM)
        self._srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._srv.bind((self.host, self.port))
        self.port = self._srv.getsockname()[1]
        for peer, key in self.md5_keys.items():
            set_tcp_md5(self._srv, peer, key)
        self._srv.listen(16)
        # the accept loop waits in select(), on the listener and the
        # waker flush() and stop() use
        self._srv.setblocking(False)
        self._accept_waker = Waker()
        self._stop.clear()
        self._accept_thread = threading.Thread(
            target=self._accept_loop, name=f"tcp-spool-{self.port}",
            daemon=True,
        )
        self._accept_thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._wake_all()
        if self._accept_thread is not None:
            self._accept_thread.join(timeout=10)
            self._accept_thread = None
        for t in self._conn_threads:
            t.join(timeout=10)
        self._conn_threads = []
        if self._srv is not None:
            self._srv.close()
            self._srv = None
        if self._accept_waker is not None:
            self._accept_waker.close()
            self._accept_waker = None

    def _wake_all(self) -> None:
        """Wake the accept loop and every session thread."""
        with self._lock:
            wakers = [self._accept_waker, *self._conn_wakers.values()]
        for w in wakers:
            if w is not None:
                w.wake()

    def __enter__(self) -> "TcpSpool":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()

    # -- socket threads -----------------------------------------------
    def _accept_loop(self) -> None:
        try:
            while not self._stop.is_set():
                self._accept_waker.wait(self._srv, 0.2)
                # the flush() calls made so far: a connection each
                # expects is queued in the listen backlog by now
                gen = self._flush_gen
                if not self._accept_queued():
                    break
                with self._lock:
                    self._accepted_gen = gen
                    self._flush_cv.notify_all()
        finally:
            with self._lock:  # flush() stops waiting on a dead loop
                self._flush_cv.notify_all()

    def _accept_queued(self) -> bool:
        """Accept every connection queued on the listener; False once
        the listener is closed."""
        while not self._stop.is_set():
            try:
                # AF_INET6 accept returns (host, port, flowinfo,
                # scopeid) — take the host either way
                conn, addr = self._srv.accept()
                peer = addr[0]
            except (BlockingIOError, InterruptedError):
                return True
            except OSError:
                return False
            if self.allow_nets is not None:
                import ipaddress as _ip

                try:
                    addr = _ip.ip_address(peer)
                except ValueError:
                    addr = None
                if addr is None or not any(
                    addr in n for n in self.allow_nets
                    if n.version == addr.version
                ):
                    # not in the allow list: refuse like the reference
                    # closes un-allowed BGP/BMP sessions
                    self.sessions_refused_by_allow += 1
                    conn.close()
                    continue
            if (
                self.max_peers is not None
                and len(self._flush_acks) >= self.max_peers
            ):
                # peers table full: refuse (ack slots track live
                # sessions 1:1 — registered at accept, popped at close)
                self.peers_refused += 1
                conn.close()
                continue
            if self.peer_batch:
                import time as _time

                now = _time.monotonic()
                if (
                    self._batch_left <= 0
                    and now > self._batch_base + self.peer_batch_interval
                ):
                    # expired: start a new batch; its first peer sets
                    # the base time (bgp_batch_reset)
                    self._batch_left = self.peer_batch
                    self._batch_base = now
                if self._batch_left <= 0:
                    # throttle: accept-then-drop
                    self.sessions_throttled += 1
                    conn.close()
                    continue
                self._batch_left -= 1
            with self._lock:
                self._epochs[peer] = self._epochs.get(peer, 0) + 1
                epoch = self._epochs[peer]
                # register the ack slot BEFORE the thread starts
                # (unacked, gen 0): a flush() racing this accept must
                # see the session as pending until it emits once —
                # in-thread registration left a window where the
                # accept-pass barrier passed but the ack map didn't
                # know the connection yet
                self._conn_seq += 1
                key = self._conn_seq
                self._flush_acks[key] = 0
                self._conn_wakers[key] = Waker()
            t = threading.Thread(
                target=self._conn_loop, args=(conn, peer, epoch, key),
                daemon=True,
            )
            t.start()
            # prune finished sessions so a long-lived daemon's thread
            # list stays bounded by its CONCURRENT peers
            self._conn_threads = [
                x for x in self._conn_threads if x.is_alive()
            ]
            self._conn_threads.append(t)
        return False

    def _conn_loop(
        self, conn: socket.socket, peer: str, epoch: int = 1, key: int = 0
    ) -> None:
        conn.settimeout(0.2)
        buf = b""

        def _claim_rid(rid: bytes, _key=key) -> bool:
            # duplicate Router-ID refusal (bgp_router_id_check,
            # src/bgp/bgp_util.c:1685) unless
            # bgp_daemon_disable_router_id_check
            with self._lock:
                if not self.router_id_check:
                    self._active_rids[_key] = rid
                    return True
                for k, other in self._active_rids.items():
                    if k != _key and other == rid:
                        self.sessions_refused_by_rid += 1
                        return False
                self._active_rids[_key] = rid
                return True

        speaker = (
            BgpSpeaker(
                fallback_ip=self.host, on_open=_claim_rid,
                **self.speaker_conf,
            )
            if self.speaker_conf is not None
            else None
        )
        # PROXY protocol: resolve the real peer identity from the
        # first bytes before anything is spooled under the LB's address
        proxy_pending = self.proxy_header
        if not proxy_pending:
            self._register_neighbor(key, peer)
        last_flush = time.monotonic()
        if key == 0:  # direct callers (tests): self-register
            with self._lock:
                self._conn_seq += 1
                key = self._conn_seq
                self._flush_acks[key] = 0
                self._conn_wakers[key] = Waker()
        waker = self._conn_wakers[key]
        try:
            while not self._stop.is_set():
                closed = False
                try:
                    # a flush() pending since before this session's
                    # waker was known: do not wait for the poll timeout
                    pending = self._flush_acks.get(key, 0) < self._flush_gen
                    if not waker.wait(conn, 0 if pending else 0.2):
                        raise socket.timeout  # nothing to read yet
                    chunk = conn.recv(65535)
                    if not chunk:
                        closed = True
                    buf += chunk
                    if speaker is not None and chunk:
                        try:
                            for reply in speaker.feed(chunk):
                                conn.sendall(reply)
                        except OSError:
                            # peer closed its read side: keep spooling
                            # what it already sent, stop replying
                            speaker = None
                        if speaker is not None and speaker.refuse:
                            # duplicate Router-ID at OPEN: refuse the
                            # session, spool NOTHING from it
                            buf = b""
                            closed = True
                            break
                except socket.timeout:
                    pass
                except OSError:
                    # abrupt peer reset (ECONNRESET): same as EOF —
                    # the session is gone; spool what already arrived
                    # and run the close path (the reference's session
                    # teardown on recv() error)
                    closed = True
                if proxy_pending and buf:
                    consumed, src, need_more = parse_proxy_header(buf)
                    if not need_more:
                        if src is not None:
                            peer = src
                        buf = buf[consumed:]
                        proxy_pending = False
                        self._register_neighbor(key, peer)
                now = time.monotonic()
                # snapshot the generation BEFORE emitting: acking a
                # re-read gen would satisfy a flush() that arrived
                # between emit and ack without emitting for it
                gen = self._flush_gen
                flush_wanted = self._flush_acks.get(key, 0) < gen
                if flush_wanted and not closed:
                    # drain the KERNEL buffer before honoring the
                    # flush: a multi-MB table dump sitting in the
                    # receive queue must be spooled, not just the one
                    # chunk this iteration's recv happened to return
                    conn.setblocking(False)
                    try:
                        # Drain to EAGAIN so flush() really covers
                        # everything the kernel delivered — but emit
                        # complete-message prefixes AS the buffer
                        # grows, so a legitimate multi-MB table dump
                        # spools incrementally while a desynced flood
                        # (no complete prefix ever) still trips the
                        # max_buffer drop below; stop() ends the
                        # drain mid-way.
                        while not self._stop.is_set():
                            try:
                                chunk = conn.recv(65535)
                            except (BlockingIOError, socket.timeout):
                                break
                            except OSError:
                                closed = True
                                break
                            if not chunk:
                                closed = True
                                break
                            buf += chunk
                            if len(buf) >= self.max_buffer:
                                n = self._prefix(buf)
                                if n:
                                    self._emit(peer, buf[:n], epoch)
                                    buf = buf[n:]
                                if len(buf) >= self.max_buffer:
                                    break  # desynced: outer drop
                    finally:
                        try:
                            conn.settimeout(0.2)
                        except OSError:
                            pass
                if buf and not proxy_pending and (
                    closed
                    or now - last_flush >= self.flush_secs
                    or flush_wanted
                ):
                    n = self._prefix(buf)
                    if n:
                        self._emit(peer, buf[:n], epoch)
                        buf = buf[n:]
                    last_flush = now
                if flush_wanted:
                    # ack AFTER any emit: flush() waiters know this
                    # session's complete prefix is on disk
                    with self._lock:
                        self._flush_acks[key] = gen
                        self._flush_cv.notify_all()
                if len(buf) > self.max_buffer:
                    self.sessions_dropped += 1
                    buf = b""
                    break
                if closed:
                    break
        finally:
            n = self._prefix(buf)
            if n:
                self._emit(peer, buf[:n], epoch)
            with self._lock:
                self._flush_acks.pop(key, None)
                self._live_peers.pop(key, None)
                self._active_rids.pop(key, None)
                self._conn_wakers.pop(key, None)
                self._flush_cv.notify_all()
            waker.close()
            if self.neighbors_file:
                self._write_neighbors()
            conn.close()

    def _register_neighbor(self, key: int, peer: str) -> None:
        with self._lock:
            self._live_peers[key] = peer
        if self.neighbors_file:
            self._write_neighbors()

    def _write_neighbors(self) -> None:
        """Rewrite the established-neighbor list (write_neighbors_file,
        reference src/bgp/bgp_util.c:1193): one address per line,
        whole-file replace on every session change."""
        # Hold the lock across snapshot + tmp write + rename: two
        # session threads sharing one '<file>.tmp' could otherwise
        # interleave writes and publish a truncated/mixed file.
        with self._lock:
            peers = sorted(set(self._live_peers.values()))
            tmp = f"{self.neighbors_file}.tmp"
            with open(tmp, "w") as fh:
                fh.writelines(f"{p}\n" for p in peers)
            os.replace(tmp, self.neighbors_file)

    def _emit(self, peer: str, payload: bytes, epoch: int = 1) -> None:
        import pyarrow as pa

        from pmacct_spark.sources.spoolio import write_spool_file

        rib = changes_rib(self.framing, payload)
        with self._lock:
            seq, nfile = self._seq, self._nfile
            self._seq += 1
            self._nfile += 1
            if epoch > self._rib_epochs.get(peer, 0):
                self._rib_epochs[peer] = epoch
            elif not rib:
                # recorded before the rename: rib_files() never lists
                # this file without knowing it is plumbing
                self._plumbing.add(f"s{nfile:08d}.parquet")
        table = pa.table(
            {
                "exporter_ip": [peer],
                "seqno": pa.array([seq], pa.int64()),
                "epoch": pa.array([epoch], pa.int64()),
                "payload": pa.array([payload], pa.binary()),
            }
        )
        write_spool_file(self.spool_dir, f"s{nfile:08d}.parquet", table)
        with self._lock:  # counted once a listing can see the file
            self.messages_spooled += 1

    def flush(self, timeout: float = 5.0) -> None:
        """Ask every live session to emit its complete-message prefix
        and WAIT until each acknowledges (readers call this before
        draining, so a just-received message — e.g. a withdrawal — is
        never missing from the RIB they build). Sessions that finish
        during the wait deregister and stop blocking it. The socket
        threads are woken, so this returns as soon as they have
        spooled what they received before the call."""
        with self._lock:
            self._flush_gen += 1
            gen = self._flush_gen
        self._wake_all()

        def done() -> bool:
            # a connection queued in the listen backlog before this
            # flush is invisible to the ack map until the accept loop
            # registers it: wait for a pass that started after the
            # call (no accept loop running: nothing will ever pass)
            alive = (
                self._accept_thread is not None
                and self._accept_thread.is_alive()
            )
            accepted = (not alive) or self._accepted_gen >= gen
            return accepted and all(a >= gen for a in self._flush_acks.values())

        with self._flush_cv:
            self._flush_cv.wait_for(done, timeout)

    # -- Spark surfaces -----------------------------------------------
    def files(self) -> list[str]:
        """The spool files written so far, oldest first. A file is
        listed only once it is renamed in, so the list and the bytes a
        read of it returns always agree (``_nfile`` is bumped before
        the rename)."""
        import glob

        return sorted(glob.glob(os.path.join(self.spool_dir, "*.parquet")))

    def rib_files(self) -> list[str]:
        """The subset of :meth:`files` that can change the RIB: files
        this spool wrote holding only session plumbing (a live peer's
        KEEPALIVEs, BMP Stats Reports) are left out, unless they open
        a new session epoch. Files it did not write all count."""
        files = self.files()  # list first: see _emit
        with self._lock:
            plumbing = set(self._plumbing)
        return [f for f in files if os.path.basename(f) not in plumbing]

    def batch(self, spark, files: list[str] | None = None):
        """The spooled messages of ``files`` (default: the whole spool
        directory)."""
        if files is None:
            return spark.read.schema(SPOOL_DDL).parquet(self.spool_dir)
        if not files:
            return spark.createDataFrame([], SPOOL_DDL)
        return spark.read.schema(SPOOL_DDL).parquet(*files)

    def stream(self, spark, max_files_per_trigger: int | None = None):
        r = spark.readStream.schema(SPOOL_DDL)
        if max_files_per_trigger is not None:
            r = r.option("maxFilesPerTrigger", max_files_per_trigger)
        return r.parquet(self.spool_dir)


def latest_session_only(datagrams):
    """Keep only each peer's newest connection epoch: a reconnecting
    BGP/BMP peer starts a fresh session, and routes spooled by its
    previous connection are obsolete (no graceful restart — the
    reference clears the peer's RIB on session teardown,
    src/bgp/bgp.c). The epoch dimension is one row per peer, so this
    is a broadcast semi-join on the raw datagram stream — applied
    BEFORE decode, it also skips decoding dead-session bytes."""
    from pyspark.sql import functions as F

    cur = datagrams.groupBy("exporter_ip").agg(F.max("epoch").alias("epoch"))
    return datagrams.join(F.broadcast(cur), ["exporter_ip", "epoch"], "inner")
