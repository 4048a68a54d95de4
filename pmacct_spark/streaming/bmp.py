"""BMP (BGP Monitoring Protocol, RFC 7854) decode + RIB compaction
(reference src/bmp/bmp.c:67, msg dissection src/bmp/bmp_msg.c; SURVEY
§2.1: "BMP msgs -> monitoring events + RIB").

Covered subset: common header v3; per-peer header; Route Monitoring
(type 0) with the embedded BGP UPDATE — withdrawals, IPv4 NLRI, and
the path attributes the engine's BGP columns need (ORIGIN, AS_PATH,
NEXT_HOP, MED, LOCAL_PREF); Peer Up (3) / Peer Down (2) as events.

Spark shape mirrors streaming.decode: Arrow-batched ``mapInPandas``
over (exporter_ip, payload) rows, exporter-sharded. The decoded update
stream compacts into RIB state (latest announcement per (peer, prefix)
with withdrawals tombstoning) via one window — the Delta-table-of-RIB
pattern, and the feed for operators.lpm/bgp lookups.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

BMP_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("exporter_ip", T.StringType()),
        T.StructField("msg_type", T.IntegerType()),  # 0 RM, 2 down, 3 up
        T.StructField("peer_ip", T.StringType()),
        T.StructField("peer_as", T.LongType()),
        # RFC 7854 §4.2 peer type: 0 global instance, 1 RD instance,
        # 2 local instance, 3 loc-RIB (RFC 9069)
        T.StructField("peer_type", T.IntegerType()),
        T.StructField("rd", T.StringType()),  # peer distinguisher
        T.StructField("ts_s", T.LongType()),
        T.StructField("prefix", T.LongType()),  # v4-as-int; null for events
        # v6 prefix in the networks6 LPM key form (uncompressed
        # lowercase, cut to ceil(masklen/4) nibbles incl. colons);
        # null for v4 routes and events
        T.StructField("prefix6", T.StringType()),
        T.StructField("masklen", T.IntegerType()),
        # RFC 7911 ADD-PATH identifier: set only when the session
        # negotiated the capability for the route's AFI/SAFI (the RIB
        # then keys per path; reference src/bgp/bgp_msg.c:1228-1231)
        T.StructField("path_id", T.LongType()),
        T.StructField("is_withdrawal", T.BooleanType()),
        T.StructField("as_path", T.StringType()),
        T.StructField("next_hop", T.LongType()),
        T.StructField("next_hop6", T.StringType()),  # RFC 8950 extNH
        T.StructField("local_pref", T.LongType()),
        T.StructField("med", T.LongType()),
        T.StructField("std_comm", T.StringType()),
        T.StructField("ext_comm", T.StringType()),
        T.StructField("lrg_comm", T.StringType()),
        T.StructField("seq", T.LongType()),  # intra-datagram order
        # Stats Report rows (msg_type 1): RFC 7854 §4.8 counter TLVs
        T.StructField("stat_type", T.IntegerType()),
        T.StructField("stat_value", T.LongType()),
        # Init/Term (4/5) information TLV strings; Peer Up TLVs
        T.StructField("info", T.StringType()),
    ]
)


def _v4_str(b: bytes) -> str:
    return ".".join(str(x) for x in b)


def _rd_str(b: bytes) -> str | None:
    """Render an 8-byte peer/route distinguisher the way the reference
    prints it (src/bgp/bgp_lookup.c bgp_rd2str: "type:admin:value" for
    RD types 0/1/2). An all-zero distinguisher (global-instance and
    loc-RIB peers) renders as NULL."""
    if not any(b):
        return None
    rdt = int.from_bytes(b[0:2], "big")
    if rdt == 0:  # 2-byte ASN admin : 4-byte assigned
        return f"0:{int.from_bytes(b[2:4], 'big')}:{int.from_bytes(b[4:8], 'big')}"
    if rdt == 1:  # IPv4 admin : 2-byte assigned
        return f"1:{_v4_str(b[2:6])}:{int.from_bytes(b[6:8], 'big')}"
    # 4-byte ASN admin : 2-byte assigned
    return f"{rdt}:{int.from_bytes(b[2:6], 'big')}:{int.from_bytes(b[6:8], 'big')}"


def _parse_update(
    pdu: bytes, addpath_v4: bool = False, addpath_v6: bool = False
) -> tuple[list, list, dict]:
    """BGP UPDATE -> (withdrawn [(prefix,masklen,path_id)], nlri,
    attrs). The addpath flags reflect the session's negotiated RFC
    7911 capability per AFI (reference keys its parse on
    peer->cap_add_paths.cap[afi][safi], src/bgp/bgp_msg.c:1225-1232);
    path_id is None when not negotiated."""
    if len(pdu) < 23 or pdu[18] != 2:  # BGP header: 16 marker + len + type
        return [], [], {}
    off = 19
    wlen = int.from_bytes(pdu[off : off + 2], "big")
    off += 2
    withdrawn = _parse_prefixes(pdu[off : off + wlen], addpath_v4)
    off += wlen
    alen = int.from_bytes(pdu[off : off + 2], "big")
    off += 2
    attrs = _parse_attrs(pdu[off : off + alen], addpath_v4, addpath_v6)
    off += alen
    nlri = _parse_prefixes(pdu[off:], addpath_v4)
    return withdrawn, nlri, attrs


def _v6_prefix_str(b: bytes, masklen: int) -> str:
    """Render a (possibly truncated) NLRI address to the engine's v6
    LPM key: the uncompressed lowercase 8-group form with a ':' after
    every complete group, cut to ``ceil(masklen/4)`` nibbles — the
    dim contract of operators/lpm.lpm6_join, which substring-matches
    the first ``masklen DIV 4`` nibbles and reads the one partial
    nibble (if masklen % 4) separately. The partial nibble's excess
    bits are masked to zero so e.g. 2001:800::/21 and 2001:c00::/21
    stay distinct canonical keys instead of both flooring to
    '2001:0'."""
    full = bytearray((b + b"\x00" * 16)[:16])
    rem = masklen % 4
    if rem:
        nib_idx = masklen // 4  # index of the partial nibble
        byte_idx, hi = nib_idx // 2, nib_idx % 2 == 0
        keep = (0xF << (4 - rem)) & 0xF
        if hi:
            full[byte_idx] &= (keep << 4) | 0x0F
        else:
            full[byte_idx] &= 0xF0 | keep
    s = "".join(
        f"{int.from_bytes(full[i : i + 2], 'big'):04x}:" for i in range(0, 16, 2)
    )
    nibbles = (masklen + 3) // 4
    return s[: (nibbles // 4) * 5 + nibbles % 4]


def _parse_prefixes6(b: bytes, addpath: bool = False) -> list[tuple[str, int, int | None]]:
    """MP NLRI walk (RFC 4760): masklen byte + ceil(masklen/8) bytes.
    With ``addpath`` (RFC 7911 negotiated for the AFI/SAFI) each entry
    is preceded by a 4-byte path identifier."""
    out = []
    p = 0
    while p < len(b):
        pid = None
        if addpath:
            if p + 5 > len(b):
                break
            pid = int.from_bytes(b[p : p + 4], "big")
            p += 4
        ml = b[p]
        p += 1
        nbytes = (ml + 7) // 8
        out.append((_v6_prefix_str(b[p : p + nbytes], ml), ml, pid))
        p += nbytes
    return out


def _parse_prefixes(b: bytes, addpath: bool = False) -> list[tuple[int, int, int | None]]:
    out = []
    p = 0
    while p < len(b):
        pid = None
        if addpath:
            if p + 5 > len(b):
                break
            pid = int.from_bytes(b[p : p + 4], "big")
            p += 4
        ml = b[p]
        p += 1
        nbytes = (ml + 7) // 8
        raw = b[p : p + nbytes] + b"\x00" * (4 - nbytes)
        p += nbytes
        out.append((int.from_bytes(raw[:4], "big"), ml, pid))
    return out


def _parse_attrs(
    b: bytes, addpath_v4: bool = False, addpath_v6: bool = False
) -> dict:
    attrs: dict = {}
    p = 0
    while p + 3 <= len(b):
        flags, code = b[p], b[p + 1]
        if flags & 0x10:  # extended length
            ln = int.from_bytes(b[p + 2 : p + 4], "big")
            p += 4
        else:
            ln = b[p + 2]
            p += 3
        val = b[p : p + ln]
        p += ln
        if code == 2 and len(val) >= 2:  # AS_PATH (assume AS4 segments)
            # segment rendering exactly as aspath_gettoken/make_str
            # (src/bgp/bgp_aspath.c:324-596): AS_SEQUENCE plain
            # space-separated, AS_SET {a,b}, AS_CONFED_SEQUENCE (a b),
            # AS_CONFED_SET [a,b]; segments joined by single spaces
            _delims = {1: ("{", "}", ","), 3: ("(", ")", " "),
                       4: ("[", "]", ",")}
            segs = []
            q = 0
            while q + 2 <= len(val):
                stype, n = val[q], val[q + 1]
                q += 2
                asns = []
                for _ in range(n):
                    if q + 4 > len(val):
                        break
                    asns.append(str(int.from_bytes(val[q : q + 4], "big")))
                    q += 4
                if stype in _delims:
                    o, c, sep = _delims[stype]
                    segs.append(o + sep.join(asns) + c)
                else:  # AS_SEQUENCE (2) and anything unknown
                    segs.append(" ".join(asns))
            attrs["as_path"] = " ".join(s for s in segs if s)
        elif code == 3 and len(val) == 4:
            attrs["next_hop"] = int.from_bytes(val, "big")
        elif code == 4 and len(val) == 4:
            attrs["med"] = int.from_bytes(val, "big")
        elif code == 5 and len(val) == 4:
            attrs["local_pref"] = int.from_bytes(val, "big")
        elif code == 8:  # COMMUNITIES (RFC 1997): 4 bytes each, "A:B"
            attrs["std_comm"] = " ".join(
                f"{int.from_bytes(val[q:q+2], 'big')}:"
                f"{int.from_bytes(val[q+2:q+4], 'big')}"
                for q in range(0, len(val) - 3, 4)
            )
        elif code == 16:  # EXTENDED COMMUNITIES (RFC 4360): 8 bytes;
            # render the route-target 2-octet-AS form (type 0x00/0x02)
            # the way the engine's ext_comm strings look
            parts = []
            for q in range(0, len(val) - 7, 8):
                t, st = val[q], val[q + 1]
                if st == 0x02 and t in (0x00, 0x40):
                    parts.append(
                        f"RT:{int.from_bytes(val[q+2:q+4], 'big')}:"
                        f"{int.from_bytes(val[q+4:q+8], 'big')}"
                    )
            if parts:
                attrs["ext_comm"] = " ".join(parts)
        elif code == 14 and len(val) >= 5:  # MP_REACH_NLRI (RFC 4760)
            afi = int.from_bytes(val[0:2], "big")
            safi = val[2]
            nhlen = val[3]
            q = 4 + nhlen + 1  # next hop + reserved byte
            if afi == 2 and safi == 1 and q <= len(val):
                attrs["__nlri6"] = _parse_prefixes6(val[q:], addpath_v6)
            elif afi == 1 and safi == 1 and q <= len(val):
                # RFC 8950 extended next hop: v4 NLRI announced with a
                # 16-byte v6 next hop (reference tests/300-extNH_enc)
                attrs["__nlri4mp"] = _parse_prefixes(val[q:], addpath_v4)
                if nhlen in (16, 32):  # optional link-local second half
                    attrs["next_hop6"] = _v6_prefix_str(
                        val[4:20], 128
                    ).rstrip(":")
        elif code == 15 and len(val) >= 3:  # MP_UNREACH_NLRI
            afi = int.from_bytes(val[0:2], "big")
            safi = val[2]
            if afi == 2 and safi == 1:
                attrs["__withdrawn6"] = _parse_prefixes6(val[3:], addpath_v6)
        elif code == 32:  # LARGE COMMUNITIES (RFC 8092): 12 bytes "a:b:c"
            attrs["lrg_comm"] = " ".join(
                f"{int.from_bytes(val[q:q+4], 'big')}:"
                f"{int.from_bytes(val[q+4:q+8], 'big')}:"
                f"{int.from_bytes(val[q+8:q+12], 'big')}"
                for q in range(0, len(val) - 11, 12)
            )
    return attrs


def _bmp_rows(
    exporter: str,
    payload: bytes,
    seq0: int,
    session_caps: dict[tuple[str, str], set] | None = None,
) -> list[dict]:
    out: list[dict] = []
    off = 0
    seq = seq0
    while off + 6 <= len(payload):
        ver, mlen, mtype = payload[off], int.from_bytes(payload[off + 1 : off + 5], "big"), payload[off + 5]
        if ver != 3 or mlen < 6:
            break
        body = payload[off + 6 : off + mlen]
        off += mlen
        if mtype in (4, 5):
            # Init/Term (RFC 7854 §4.3/4.5): information TLVs only, no
            # per-peer header. sysDescr/sysName/free-form strings join
            # into one info field; a Term reason code renders as
            # "reason:<n>" (reference src/bmp/bmp_msg.c TLV walks).
            parts = []
            q = 0
            while q + 4 <= len(body):
                t = int.from_bytes(body[q : q + 2], "big")
                ln = int.from_bytes(body[q + 2 : q + 4], "big")
                val = body[q + 4 : q + 4 + ln]
                q += 4 + ln
                if mtype == 5 and t == 1 and ln == 2:
                    parts.append(f"reason:{int.from_bytes(val, 'big')}")
                else:
                    parts.append(val.decode("utf-8", "replace"))
            out.append(
                {"exporter_ip": exporter, "msg_type": mtype,
                 "info": " | ".join(parts) or None, "seq": seq}
            )
            seq += 1
            continue
        if mtype in (0, 1, 2, 3) and len(body) >= 42:
            # per-peer header (RFC 7854 §4.2): type(1) flags(1)
            # distinguisher(8) addr(16) as(4) bgp_id(4) ts(4+4).
            # flag V (0x80) marks a v6 peer (full 16-byte address,
            # rendered uncompressed like every engine v6 string);
            # v4 peers sit right-aligned in the 16-byte field.
            peer_type = body[0]
            rd = _rd_str(body[2:10])
            if body[1] & 0x80:
                peer_ip = _v6_prefix_str(body[10:26], 128).rstrip(":")
            else:
                peer_ip = _v4_str(body[22:26])
            peer_as = int.from_bytes(body[26:30], "big")
            ts_s = int.from_bytes(body[34:38], "big")
            base = {
                "exporter_ip": exporter, "peer_ip": peer_ip,
                "peer_as": peer_as, "peer_type": peer_type, "rd": rd,
                "ts_s": ts_s, "msg_type": mtype,
            }
            caps_key = (exporter, peer_ip)
            caps = (
                session_caps.get(caps_key, set())
                if session_caps is not None
                else set()
            )
            if mtype == 3 and session_caps is not None and len(body) >= 62:
                # Peer Up carries BOTH session OPENs (local-sent +
                # remote-received) after local addr(16)+ports(4) —
                # the reference runs bgp_parse_open_msg on each
                # (src/bmp/bmp_msg.c:382-438), recording ADD-PATH for
                # the monitored session; RM NLRI then parses per-path.
                q = 42 + 16 + 4
                learned: set = set()
                for _ in range(2):
                    if q + 19 > len(body) or body[q : q + 16] != _BGP_MARKER:
                        break
                    mlen = int.from_bytes(body[q + 16 : q + 18], "big")
                    if mlen < 19 or q + mlen > len(body):
                        break
                    learned |= _parse_open_caps(body[q : q + mlen])
                    q += mlen
                session_caps[caps_key] = learned
            if mtype == 2 and session_caps is not None:
                # Peer Down ends the monitored session: its negotiated
                # capabilities die with it
                session_caps.pop(caps_key, None)
            if mtype == 0:
                withdrawn, nlri, attrs = _parse_update(
                    body[42:],
                    addpath_v4=(1, 1) in caps,
                    addpath_v6=(2, 1) in caps,
                )
                seq = _emit_update_rows(out, base, withdrawn, nlri, attrs, seq)
            elif mtype == 1 and len(body) >= 46:
                # Stats Report (RFC 7854 §4.8): count + [type len value]
                # TLVs; 32-bit counters and 64-bit gauges both fold to
                # one long (reference src/bmp/bmp_msg.c bmp_process_
                # msg_stats, counter vocabulary src/bmp/bmp.h:195-213)
                n_cnt = int.from_bytes(body[42:46], "big")
                q = 46
                for _ in range(n_cnt):
                    if q + 4 > len(body):
                        break
                    st = int.from_bytes(body[q : q + 2], "big")
                    ln = int.from_bytes(body[q + 2 : q + 4], "big")
                    if ln not in (4, 8) or q + 4 + ln > len(body):
                        q += 4 + ln
                        continue
                    val = int.from_bytes(body[q + 4 : q + 4 + ln], "big")
                    q += 4 + ln
                    out.append(
                        base | {"stat_type": st, "stat_value": val,
                                "seq": seq}
                    )
                    seq += 1
            else:
                out.append(base | {"seq": seq})
                seq += 1
    return out


def _emit_update_rows(
    out: list[dict],
    base: dict,
    withdrawn: list[tuple[int, int]],
    nlri: list[tuple[int, int]],
    attrs: dict,
    seq: int,
) -> int:
    """Append decoded route rows (v4 NLRI + MP v6 NLRI, RFC 4760)
    for one UPDATE; returns the advanced seq."""
    withdrawn6 = attrs.pop("__withdrawn6", [])
    nlri6 = attrs.pop("__nlri6", [])
    # RFC 8950: v4 routes from the MP attribute join the v4 NLRI list
    nlri = nlri + attrs.pop("__nlri4mp", [])
    for pfx, ml, pid in withdrawn:
        out.append(
            base | {"prefix": pfx, "masklen": ml, "path_id": pid,
                    "is_withdrawal": True, "seq": seq}
        )
        seq += 1
    for pfx6, ml, pid in withdrawn6:
        out.append(
            base | {"prefix6": pfx6, "masklen": ml, "path_id": pid,
                    "is_withdrawal": True, "seq": seq}
        )
        seq += 1
    attr_cols = {
        "as_path": attrs.get("as_path"),
        "next_hop": attrs.get("next_hop"),
        "next_hop6": attrs.get("next_hop6"),
        "local_pref": attrs.get("local_pref"),
        "med": attrs.get("med"),
        "std_comm": attrs.get("std_comm"),
        "ext_comm": attrs.get("ext_comm"),
        "lrg_comm": attrs.get("lrg_comm"),
    }
    for pfx, ml, pid in nlri:
        out.append(
            base | {"prefix": pfx, "masklen": ml, "path_id": pid,
                    "is_withdrawal": False, "seq": seq} | attr_cols
        )
        seq += 1
    for pfx6, ml, pid in nlri6:
        out.append(
            base | {"prefix6": pfx6, "masklen": ml, "path_id": pid,
                    "is_withdrawal": False, "seq": seq} | attr_cols
        )
        seq += 1
    return seq


def learn_bmp_caps(datagrams: DataFrame) -> dict[tuple[str, str], set]:
    """Two-phase pre-pass for BMP (mirror of :func:`learn_bgp_caps`):
    scan Peer Up messages for session OPENs and return
    {(exporter, peer_ip): {(afi, safi), ...}} ADD-PATH capabilities —
    a Peer Up chunk and its RM chunks may land in different spool
    files/partitions. Peer Down revokes within the scan order of one
    chunk; cross-chunk ordering is reconciled by the caller re-learning
    per spool generation."""
    schema = "exporter_ip string, peer_ip string, afi int, safi int"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            caps: dict[tuple[str, str], set] = {}
            for exporter, payload in zip(pdf["exporter_ip"], pdf["payload"]):
                _bmp_rows(str(exporter), bytes(payload), 0, caps)
            for (exp, peer), st in caps.items():
                for afi, safi in st:
                    out.append((exp, peer, afi, safi))
            yield pd.DataFrame(
                out, columns=["exporter_ip", "peer_ip", "afi", "safi"]
            )

    caps: dict[tuple[str, str], set] = {}
    for r in datagrams.mapInPandas(gen, schema).collect():
        caps.setdefault((r["exporter_ip"], r["peer_ip"]), set()).add(
            (r["afi"], r["safi"])
        )
    return caps


def decode_bmp(
    datagrams: DataFrame,
    session_caps: dict[tuple[str, str], set] | None = None,
) -> DataFrame:
    """Decode BMP streams (exporter-sharded like decode_v9). Pass
    ``session_caps`` from :func:`learn_bmp_caps` when a session's
    Peer Up and Route Monitoring chunks may span partitions."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in BMP_EVENT_SCHEMA.fields]
        seq = 0
        caps0 = {k: set(v) for k, v in (session_caps or {}).items()}
        for pdf in batches:
            rows: list[dict] = []
            seqnos = pdf["seqno"] if "seqno" in pdf.columns else None
            for i, (exporter, payload) in enumerate(
                zip(pdf["exporter_ip"], pdf["payload"])
            ):
                # with a datagram seqno column the ordering is GLOBAL
                # (live spools split datagrams across partitions, where
                # a per-partition counter would restart at 0 and let
                # an early partition shadow a later withdrawal);
                # without it, advance by rows actually emitted — a
                # fixed stride would overlap once a payload carries
                # more routes than the stride
                if seqnos is not None:
                    seq = int(seqnos.iloc[i]) << 24
                new = _bmp_rows(exporter, bytes(payload), seq, caps0)
                rows.extend(new)
                seq += len(new)
            yield pd.DataFrame([[r.get(c) for c in cols] for r in rows], columns=cols)

    return datagrams.mapInPandas(gen, BMP_EVENT_SCHEMA)


# ---------------------------------------------------------------------------
# Raw BGP peering-session messages (the pmbgpd source side: reference
# src/bgp/bgp.c:99, UPDATE parse src/bgp/bgp_msg.c). A session's byte
# stream is a sequence of [16-byte marker][length 2][type 1] messages;
# type 2 = UPDATE reuses the same parser the BMP path embeds. The
# session's remote peer IS the exporter, so peer_ip = exporter_ip.
# ---------------------------------------------------------------------------

_BGP_MARKER = b"\xff" * 16


def _parse_open_caps(msg: bytes) -> set[tuple[int, int]]:
    """BGP OPEN -> the set of (afi, safi) the peer negotiated ADD-PATH
    for (capability 69, RFC 7911). As a passive collector any sndrcv
    value counts — the reference accepts any when offline
    (src/bgp/bgp_msg.c:314-315 '!online && cap_data.sndrcv')."""
    caps: set[tuple[int, int]] = set()
    if len(msg) < 29 or msg[18] != 1:  # not an OPEN
        return caps
    optlen = msg[28]
    p, end = 29, min(29 + optlen, len(msg))
    while p + 2 <= end:
        ptype, plen = msg[p], msg[p + 1]
        pval = msg[p + 2 : p + 2 + plen]
        p += 2 + plen
        if ptype != 2:  # not a capability parameter
            continue
        q = 0
        while q + 2 <= len(pval):
            code, clen = pval[q], pval[q + 1]
            cval = pval[q + 2 : q + 2 + clen]
            q += 2 + clen
            if code != 69:
                continue
            for r in range(0, len(cval) - 3, 4):
                afi = int.from_bytes(cval[r : r + 2], "big")
                safi = cval[r + 2]
                if cval[r + 3]:  # sndrcv 1/2/3
                    caps.add((afi, safi))
    return caps


def _bgp_stream_rows(
    exporter: str,
    payload: bytes,
    seq0: int,
    session_caps: dict[str, set[tuple[int, int]]] | None = None,
) -> list[dict]:
    out: list[dict] = []
    off, seq = 0, seq0
    caps = (
        session_caps.get(exporter, set())
        if session_caps is not None
        else set()
    )
    while off + 19 <= len(payload):
        if payload[off : off + 16] != _BGP_MARKER:
            break
        mlen = int.from_bytes(payload[off + 16 : off + 18], "big")
        mtype = payload[off + 18]
        if mlen < 19:
            break
        msg = payload[off : off + mlen]  # _parse_update wants the full
        off += mlen                      # message incl. the BGP header
        if mtype == 1:
            if session_caps is not None:
                # OPEN: learn the session's ADD-PATH AFI/SAFI set (a
                # re-OPEN after session reset replaces it)
                caps = _parse_open_caps(msg)
                session_caps[exporter] = caps
            # session established: surface a peer-up event (msg_type 3,
            # the BMP event model) — the reference calls
            # bgp_peer_log_init here (src/bgp/bgp_packet.c OPEN path),
            # so the msglog sink sees BGP sessions too
            out.append(
                {
                    "exporter_ip": exporter, "peer_ip": exporter,
                    "peer_as": 0, "ts_s": 0, "msg_type": 3, "seq": seq,
                }
            )
            seq += 1
            continue
        if mtype == 3:
            # NOTIFICATION terminates the session: peer-down event
            # (msg_type 2) — reference bgp_peer_log_close; rib_state's
            # peer_down purge then clears the Adj-RIB-In exactly as the
            # reference's session close does
            out.append(
                {
                    "exporter_ip": exporter, "peer_ip": exporter,
                    "peer_as": 0, "ts_s": 0, "msg_type": 2, "seq": seq,
                }
            )
            seq += 1
            continue
        if mtype != 2:  # KEEPALIVE/other: session plumbing
            continue
        withdrawn, nlri, attrs = _parse_update(
            msg, addpath_v4=(1, 1) in caps, addpath_v6=(2, 1) in caps
        )
        base = {
            "exporter_ip": exporter, "peer_ip": exporter,
            "peer_as": 0, "ts_s": 0, "msg_type": 0,
        }
        seq = _emit_update_rows(out, base, withdrawn, nlri, attrs, seq)
    return out


def learn_bgp_caps(datagrams: DataFrame) -> dict[str, set[tuple[int, int]]]:
    """Capability-learning pass (the two-phase shape the v9 template
    decoder uses): scan every session chunk for OPEN messages and
    return {exporter: {(afi, safi), ...}} for ADD-PATH. The result is
    bounded by session count (tiny), so collecting it driver-side and
    shipping it into :func:`decode_bgp` keeps decode parallelism
    decoupled from where each session's OPEN chunk landed."""
    schema = "exporter_ip string, afi int, safi int"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for exporter, payload in zip(pdf["exporter_ip"], pdf["payload"]):
                b, off = bytes(payload), 0
                while off + 19 <= len(b):
                    if b[off : off + 16] != _BGP_MARKER:
                        break
                    mlen = int.from_bytes(b[off + 16 : off + 18], "big")
                    if mlen < 19:
                        break
                    if b[off + 18] == 1:
                        for afi, safi in _parse_open_caps(b[off : off + mlen]):
                            out.append((str(exporter), afi, safi))
                    off += mlen
            yield pd.DataFrame(out, columns=["exporter_ip", "afi", "safi"])

    caps: dict[str, set[tuple[int, int]]] = {}
    for r in datagrams.mapInPandas(gen, schema).collect():
        caps.setdefault(r["exporter_ip"], set()).add((r["afi"], r["safi"]))
    return caps


def decode_bgp(
    datagrams: DataFrame,
    session_caps: dict[str, set[tuple[int, int]]] | None = None,
) -> DataFrame:
    """Decode raw BGP session streams (exporter-sharded like
    decode_bmp); output feeds the same :func:`rib_state` compaction.
    Per-session OPEN capabilities (ADD-PATH) persist across payload
    chunks within a partition the way v9 templates do; when a
    session's chunks may span partitions (a live spool), pass
    ``session_caps`` from :func:`learn_bgp_caps` — in-partition OPENs
    still override (a re-OPEN after session reset replaces them)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in BMP_EVENT_SCHEMA.fields]
        seq = 0
        caps0 = {k: set(v) for k, v in (session_caps or {}).items()}
        for pdf in batches:
            rows: list[dict] = []
            seqnos = pdf["seqno"] if "seqno" in pdf.columns else None
            for i, (exporter, payload) in enumerate(
                zip(pdf["exporter_ip"], pdf["payload"])
            ):
                if seqnos is not None:  # global order, see decode_bmp
                    seq = int(seqnos.iloc[i]) << 24
                new = _bgp_stream_rows(
                    exporter, bytes(payload), seq, caps0
                )
                rows.extend(new)
                seq += len(new)  # exact stride, see decode_bmp
            yield pd.DataFrame(
                [[r.get(c) for c in cols] for r in rows], columns=cols
            )

    return datagrams.mapInPandas(gen, BMP_EVENT_SCHEMA)


def _encode_attr(flags: int, code: int, val: bytes) -> bytes:
    if len(val) > 255:
        return bytes([flags | 0x10, code]) + len(val).to_bytes(2, "big") + val
    return bytes([flags, code, len(val)]) + val


def encode_bgp_open(
    asn: int = 64512,
    bgp_id: int = 0x0A000001,
    addpath: list[tuple[int, int, int]] | None = None,
    hold_time: int = 180,
) -> bytes:
    """One BGP OPEN message. ``addpath`` lists (afi, safi, sndrcv)
    tuples to advertise as the RFC 7911 capability (code 69) —
    the shape the reference parses in src/bgp/bgp_msg.c:296-346."""
    caps = b""
    if addpath:
        val = b"".join(
            afi.to_bytes(2, "big") + bytes([safi, sndrcv])
            for afi, safi, sndrcv in addpath
        )
        caps += bytes([69, len(val)]) + val
    opt = bytes([2, len(caps)]) + caps if caps else b""
    body = (
        bytes([4])  # version
        + min(asn, 0xFFFF).to_bytes(2, "big")
        + hold_time.to_bytes(2, "big")
        + bgp_id.to_bytes(4, "big")
        + bytes([len(opt)])
        + opt
    )
    return _BGP_MARKER + (19 + len(body)).to_bytes(2, "big") + b"\x01" + body


def encode_bgp_update(
    prefix: int,
    masklen: int,
    as_path: str,
    next_hop: int = 0,
    local_pref: int | None = None,
    med: int | None = None,
    std_comm: str = "",
    ext_comm: str = "",
    lrg_comm: str = "",
    path_id: int | None = None,
) -> bytes:
    """One BGP UPDATE message announcing ``prefix/masklen`` with the
    engine's attribute vocabulary (AS4 AS_PATH, communities in all
    three families). ``path_id`` prepends the RFC 7911 4-byte path
    identifier to the NLRI — only valid on a session that advertised
    the ADD-PATH capability in its OPEN."""
    attrs = _encode_attr(0x40, 1, b"\x00")  # ORIGIN IGP
    asns = [int(a) for a in as_path.split()] if as_path else []
    seg = bytes([2, len(asns)]) + b"".join(
        a.to_bytes(4, "big") for a in asns
    )
    attrs += _encode_attr(0x40, 2, seg)
    attrs += _encode_attr(0x40, 3, int(next_hop).to_bytes(4, "big"))
    if med is not None:
        attrs += _encode_attr(0x80, 4, int(med).to_bytes(4, "big"))
    if local_pref is not None:
        attrs += _encode_attr(0x40, 5, int(local_pref).to_bytes(4, "big"))
    if std_comm:
        val = b"".join(
            int(a).to_bytes(2, "big") + int(b).to_bytes(2, "big")
            for a, b in (c.split(":") for c in std_comm.split())
        )
        attrs += _encode_attr(0xC0, 8, val)
    if ext_comm:
        val = b""
        for c in ext_comm.split():
            _rt, a, v = c.split(":")
            val += b"\x00\x02" + int(a).to_bytes(2, "big") + int(v).to_bytes(4, "big")
        attrs += _encode_attr(0xC0, 16, val)
    if lrg_comm:
        val = b"".join(
            int(a).to_bytes(4, "big")
            + int(b).to_bytes(4, "big")
            + int(c_).to_bytes(4, "big")
            for a, b, c_ in (c.split(":") for c in lrg_comm.split())
        )
        attrs += _encode_attr(0xC0, 32, val)
    nbytes = (masklen + 7) // 8
    nlri = bytes([masklen]) + int(prefix).to_bytes(4, "big")[:nbytes]
    if path_id is not None:
        nlri = int(path_id).to_bytes(4, "big") + nlri
    body = (
        (0).to_bytes(2, "big")
        + len(attrs).to_bytes(2, "big")
        + attrs
        + nlri
    )
    return _BGP_MARKER + (19 + len(body)).to_bytes(2, "big") + b"\x02" + body


def _v6_prefix_bytes(prefix6: str, masklen: int) -> bytes:
    """Inverse of :func:`_v6_prefix_str`: LPM-key string -> the
    ceil(masklen/8) NLRI bytes."""
    nib = prefix6.replace(":", "")
    full = bytes.fromhex(nib.ljust(32, "0"))
    return full[: (masklen + 7) // 8]


def encode_bgp_update6(
    prefix6: str,
    masklen: int,
    as_path: str,
    withdraw: bool = False,
    local_pref: int | None = None,
    med: int | None = None,
    std_comm: str = "",
    ext_comm: str = "",
    lrg_comm: str = "",
    path_id: int | None = None,
) -> bytes:
    """One BGP UPDATE carrying an IPv6 route as MP_REACH_NLRI (or a
    withdrawal as MP_UNREACH_NLRI), RFC 4760 — the reference's BGP
    IPv6 path (tests/300/302/501/502 families, src/bgp/bgp_msg.c
    MP attribute handling). ``path_id`` prepends the RFC 7911 4-byte
    identifier inside the MP NLRI — only valid when the session's OPEN
    advertised ADD-PATH for afi 2 / safi 1."""
    nlri = bytes([masklen]) + _v6_prefix_bytes(prefix6, masklen)
    if path_id is not None:
        nlri = int(path_id).to_bytes(4, "big") + nlri
    if withdraw:
        mp = b"\x00\x02\x01" + nlri  # afi 2, safi 1
        attrs = _encode_attr(0x80, 15, mp)
    else:
        # afi 2, safi 1, 16-byte next hop (zero), reserved, NLRI
        mp = b"\x00\x02\x01\x10" + b"\x00" * 16 + b"\x00" + nlri
        attrs = _encode_attr(0x40, 1, b"\x00")  # ORIGIN IGP
        asns = [int(a) for a in as_path.split()] if as_path else []
        seg = bytes([2, len(asns)]) + b"".join(a.to_bytes(4, "big") for a in asns)
        attrs += _encode_attr(0x40, 2, seg)
        attrs += _encode_attr(0x80, 14, mp)
        if med is not None:
            attrs += _encode_attr(0x80, 4, int(med).to_bytes(4, "big"))
        if local_pref is not None:
            attrs += _encode_attr(0x40, 5, int(local_pref).to_bytes(4, "big"))
        if std_comm:
            val = b"".join(
                int(a).to_bytes(2, "big") + int(b).to_bytes(2, "big")
                for a, b in (c.split(":") for c in std_comm.split())
            )
            attrs += _encode_attr(0xC0, 8, val)
        if lrg_comm:
            val = b"".join(
                int(a).to_bytes(4, "big") + int(b).to_bytes(4, "big")
                + int(c_).to_bytes(4, "big")
                for a, b, c_ in (c.split(":") for c in lrg_comm.split())
            )
            attrs += _encode_attr(0xC0, 32, val)
    body = (0).to_bytes(2, "big") + len(attrs).to_bytes(2, "big") + attrs
    return _BGP_MARKER + (19 + len(body)).to_bytes(2, "big") + b"\x02" + body


def encode_bgp6_streams(rib: DataFrame) -> DataFrame:
    """Pack a v6 RIB into one BGP session byte stream per peer
    (exporter_ip = peer, like decode_bgp expects): announcements in
    deterministic (prefix6, masklen) order, then MP_UNREACH
    withdrawals for rows flagged in the boolean ``__withdraw``
    column. Feeds decode_bgp -> rib_state."""
    schema = T.StructType(
        [
            T.StructField("exporter_ip", T.StringType()),
            T.StructField("seqno", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def pack(key, pdf):
        (peer,) = key
        pdf = pdf.sort_values(["prefix6", "masklen"])
        wd_flags = (
            pdf["__withdraw"].fillna(False).tolist()
            if "__withdraw" in pdf
            else [False] * len(pdf)
        )
        msgs = b""
        for r in pdf.itertuples(index=False):
            msgs += encode_bgp_update6(
                str(r.prefix6), int(r.masklen), str(r.as_path or ""),
                local_pref=int(r.local_pref), med=int(r.med),
                std_comm=str(getattr(r, "std_comm", "") or ""),
                lrg_comm=str(getattr(r, "lrg_comm", "") or ""),
            )
        for r, wd in zip(pdf.itertuples(index=False), wd_flags):
            if bool(wd):
                msgs += encode_bgp_update6(
                    str(r.prefix6), int(r.masklen), "", withdraw=True
                )
        seqno = int(peer.rsplit(".", 1)[-1])
        return pd.DataFrame([(peer, seqno, msgs)],
                            columns=["exporter_ip", "seqno", "payload"])

    return rib.groupBy("peer_ip").applyInPandas(pack, schema)


def encode_bgp_updates(rib: DataFrame) -> DataFrame:
    """Pack RIB rows into per-peer BGP UPDATE streams: one message per
    route, exporter_ip = the peer. ``rib`` needs peer_ip, net_int,
    masklen, as_path, local_pref, med, std_comm, ext_comm, lrg_comm."""

    schema = T.StructType(
        [
            T.StructField("exporter_ip", T.StringType()),
            T.StructField("seqno", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seq = 0
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                msg = encode_bgp_update(
                    int(r.net_int), int(r.masklen), str(r.as_path or ""),
                    next_hop=int(r.net_int),
                    local_pref=int(r.local_pref),
                    med=int(r.med),
                    std_comm=str(r.std_comm or ""),
                    ext_comm=str(r.ext_comm or ""),
                    lrg_comm=str(r.lrg_comm or ""),
                )
                out.append((str(r.peer_ip), seq, msg))
                seq += 1
            yield pd.DataFrame(out, columns=["exporter_ip", "seqno", "payload"])

    return rib.mapInPandas(gen, schema)


def encode_bgp_updates_addpath(rib: DataFrame) -> DataFrame:
    """ADD-PATH session streams for the same RIB rows: per peer one
    OPEN advertising the RFC 7911 capability (v4/unicast, send+recv),
    then per route TWO paths — path_id 1 is a decoy (extra leading
    hop, local_pref one lower), path_id 2 carries the true fixture
    attributes — so only a decoder that (a) learns the capability from
    the OPEN, (b) shifts NLRI parsing by the 4-byte id, and (c) keeps
    per-path RIB entries with best-path selection reproduces the
    fixture oracle. One concatenated byte stream per peer, matching
    the TcpSpool session shape."""

    schema = T.StructType(
        [
            T.StructField("exporter_ip", T.StringType()),
            T.StructField("seqno", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seq = 0
        for pdf in batches:
            out = []
            opened: set[str] = set()
            for r in pdf.itertuples(index=False):
                peer = str(r.peer_ip)
                if peer not in opened:
                    opened.add(peer)
                    out.append(
                        (peer, seq,
                         encode_bgp_open(addpath=[(1, 1, 3)]))
                    )
                    seq += 1
                common = dict(
                    next_hop=int(r.net_int),
                    med=int(r.med),
                    std_comm=str(r.std_comm or ""),
                    ext_comm=str(r.ext_comm or ""),
                    lrg_comm=str(r.lrg_comm or ""),
                )
                decoy = encode_bgp_update(
                    int(r.net_int), int(r.masklen),
                    "64999 " + str(r.as_path or ""),
                    local_pref=int(r.local_pref) - 1,
                    path_id=1, **common,
                )
                best = encode_bgp_update(
                    int(r.net_int), int(r.masklen), str(r.as_path or ""),
                    local_pref=int(r.local_pref),
                    path_id=2, **common,
                )
                # alternate emit order so a RIB that is NOT keyed per
                # path (plain latest-wins) keeps the decoy for half the
                # routes and breaks the oracle hash
                pair = (
                    (decoy, best) if int(r.net_int) % 2 == 0 else (best, decoy)
                )
                out.append((peer, seq, pair[0]))
                out.append((peer, seq + 1, pair[1]))
                seq += 2
            yield pd.DataFrame(out, columns=["exporter_ip", "seqno", "payload"])

    return rib.mapInPandas(gen, schema)


def encode_bgp_updates_addpath_nh(rib: DataFrame) -> DataFrame:
    """ADD-PATH session streams where the TWO paths of every route
    differ in NEXT_HOP — the multipath topology the reference
    disambiguates per flow with the export's BGP next-hop
    (nmct2.peer_dst_ip match, src/bgp/bgp_lookup.c:726-760):

    - path_id 1 ('A'): next_hop 172.16.<nk>.1, as_path prefixed
      64701, local_pref +5 — the BEST-path bait: pure best-path
      selection would always pick it;
    - path_id 2 ('B'): next_hop 172.32.<nk>.1 (0xAC20...), the
      fixture attributes.

    nk = the prefix's nation index ((net_int - 10.0.0.0) >> 16), so
    the flow side can derive each path's next-hop arithmetically."""
    schema = T.StructType(
        [
            T.StructField("exporter_ip", T.StringType()),
            T.StructField("seqno", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seq = 0
        for pdf in batches:
            out = []
            opened: set[str] = set()
            for r in pdf.itertuples(index=False):
                peer = str(r.peer_ip)
                if peer not in opened:
                    opened.add(peer)
                    out.append(
                        (peer, seq,
                         encode_bgp_open(addpath=[(1, 1, 3)]))
                    )
                    seq += 1
                nk = (int(r.net_int) - 167772160) >> 16
                a = encode_bgp_update(
                    int(r.net_int), int(r.masklen),
                    "64701 " + str(r.as_path or ""),
                    next_hop=0xAC100001 + (nk << 8),
                    local_pref=int(r.local_pref) + 5,
                    med=int(r.med), path_id=1,
                )
                b = encode_bgp_update(
                    int(r.net_int), int(r.masklen), str(r.as_path or ""),
                    next_hop=0xAC200001 + (nk << 8),
                    local_pref=int(r.local_pref),
                    med=int(r.med), path_id=2,
                )
                out.append((peer, seq, a))
                out.append((peer, seq + 1, b))
                seq += 2
            yield pd.DataFrame(out, columns=["exporter_ip", "seqno", "payload"])

    return rib.mapInPandas(gen, schema)


def _bmp_frame(
    mtype: int,
    peer_ip: str,
    peer_as: int,
    pdu: bytes = b"",
    ptype: int = 0,
    rd: bytes = b"\x00" * 8,
    ts_s: int = 1_700_000_000,
) -> bytes:
    """One BMP v3 message: common header + RFC 7854 §4.2 per-peer
    header (v4 peer address right-aligned in the 16-byte field)."""
    addr = bytes(int(x) for x in peer_ip.split("."))
    peer_hdr = (
        bytes([ptype, 0]) + rd + b"\x00" * 12 + addr
        + peer_as.to_bytes(4, "big") + b"\x00" * 4
        + ts_s.to_bytes(4, "big") + b"\x00" * 4
    )
    body = peer_hdr + pdu
    return bytes([3]) + (6 + len(body)).to_bytes(4, "big") + bytes([mtype]) + body


def encode_bmp_peer_up(
    peer_ip: str,
    peer_as: int = 64500,
    addpath: list[tuple[int, int, int]] | None = None,
) -> bytes:
    """A BMP Peer Up message CARRYING THE SESSION OPENs (RFC 7854
    §4.10: local address 16 + local/remote ports 4 + sent OPEN +
    received OPEN) — the frames the reference walks for capabilities
    (src/bmp/bmp_msg.c:382-438). ``addpath`` goes into both OPENs, as
    a session that negotiated RFC 7911 would show."""
    opens = encode_bgp_open(addpath=addpath) + encode_bgp_open(
        addpath=addpath
    )
    body = b"\x00" * 16 + (179).to_bytes(2, "big") * 2 + opens
    return _bmp_frame(3, peer_ip, peer_as, body)


def encode_bmp_streams(rib: DataFrame, peer_as: int = 64500) -> DataFrame:
    """Pack RIB rows into one BMP byte stream per peer: Peer Up, one
    Route Monitoring message per route (deterministic net/masklen
    order), then — for peers flagged in the boolean ``__down`` column
    — a Peer Down Notification followed by re-announcements of the
    rows flagged ``__reannounce``. The monitored router doubles as
    the exporter (exporter_ip = peer_ip), one datagram per peer.

    Feeds decode_bmp -> rib_state so the peer-down purge semantics
    (reference tests/204-205) are value-checked from the wire."""
    schema = T.StructType(
        [
            T.StructField("exporter_ip", T.StringType()),
            T.StructField("seqno", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def pack(key, pdf):
        (peer,) = key
        pdf = pdf.sort_values(["net_int", "masklen"])
        down = bool(pdf["__down"].iloc[0]) if "__down" in pdf else False

        def rm(r) -> bytes:
            upd = encode_bgp_update(
                int(r.net_int), int(r.masklen), str(r.as_path or ""),
                next_hop=int(r.net_int),
                local_pref=int(r.local_pref), med=int(r.med),
                std_comm=str(r.std_comm or ""),
                ext_comm=str(r.ext_comm or ""),
                lrg_comm=str(r.lrg_comm or ""),
            )
            return _bmp_frame(0, peer, peer_as, upd)

        # itertuples mangles leading-underscore names — read the flag
        # column positionally instead
        re_flags = (
            pdf["__reannounce"].fillna(False).tolist()
            if "__reannounce" in pdf
            else [False] * len(pdf)
        )
        msgs = _bmp_frame(3, peer, peer_as)  # peer up
        for r in pdf.itertuples(index=False):
            msgs += rm(r)
        if down:
            msgs += _bmp_frame(2, peer, peer_as)  # peer down purges
            for r, rf in zip(pdf.itertuples(index=False), re_flags):
                if bool(rf):
                    msgs += rm(r)
        seqno = int(peer.rsplit(".", 1)[-1])
        return pd.DataFrame([(peer, seqno, msgs)],
                            columns=["exporter_ip", "seqno", "payload"])

    return rib.groupBy("peer_ip").applyInPandas(pack, schema)


# The message types the RIB is built from, per session framing: BGP
# OPEN (ADD-PATH capabilities), UPDATE and NOTIFICATION (the peer-down
# purge); BMP Route Monitoring, Peer Down and Peer Up (capabilities).
# Neither rib_state nor the capability passes read the rest (BGP
# KEEPALIVE and ROUTE-REFRESH, BMP Stats Report, Initiation,
# Termination and Route Mirroring), so TcpSpool.rib_files leaves out
# spool files holding only those.
RIB_MSG_TYPES = {"bgp": (1, 2, 3), "bmp": (0, 2, 3)}


def rib_state(updates: DataFrame, peer_down: bool = True) -> DataFrame:
    """Compact a decoded update stream into current RIB state: the
    latest message per (exporter, peer, rd, prefix) wins; withdrawals
    tombstone; a Peer Down (msg_type 2) purges every route that peer
    instance announced before it (reference src/bmp/bmp_msg.c peer
    down handling / tests/204-205 — routes re-announced after the
    peer comes back survive). Window shuffles only — the streaming
    form is the same plan per microbatch merged into a keyed store.

    ``peer_down=False`` skips the purge window — its partitioning is
    one partition PER PEER (skewed: a 5-peer stream collapses onto 5
    tasks however many rows there are), so sources that cannot emit
    Peer Down rows (decode_bgp session streams only yield UPDATEs)
    should opt out and keep the single fine-grained window."""
    # path_id in the key: an ADD-PATH session's RIB holds one entry
    # per (prefix, path) — reference keys route_info the same way
    # (src/bgp/bgp_msg.c:1514-1516); non-ADD-PATH rows carry NULL and
    # collapse to the classic one-entry-per-prefix behavior.
    w = Window.partitionBy(
        "exporter_ip", "peer_ip", "rd", "prefix", "prefix6", "masklen",
        "path_id",
    ).orderBy(F.desc("seq"))
    if peer_down:
        w_peer = Window.partitionBy("exporter_ip", "peer_ip", "rd")
        updates = (
            updates.filter("msg_type IN (0, 2)")
            .withColumn(
                "__down_seq",
                F.max(F.when(F.col("msg_type") == 2, F.col("seq"))).over(w_peer),
            )
            .filter("msg_type = 0 AND (__down_seq IS NULL OR seq > __down_seq)")
            .drop("__down_seq")
        )
    else:
        updates = updates.filter("msg_type = 0")
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1 AND NOT is_withdrawal")
        .drop("__rn", "msg_type", "is_withdrawal")
    )


def best_path(rib: DataFrame) -> DataFrame:
    """Collapse a (possibly multi-path) RIB to ONE row per
    (peer, prefix) for enrichment joins: highest local_pref wins, then
    latest seq (the reference's bgp_best_path local-pref step,
    src/bgp/bgp_aux.c). An ADD-PATH session's per-path entries stay
    intact in :func:`rib_state` (the table the dump sink writes);
    lookup paths collapse here so the flow join never fans out."""
    w = Window.partitionBy("peer_ip", "prefix", "prefix6", "masklen").orderBy(
        F.desc_nulls_last("local_pref"), F.desc("seq")
    )
    return (
        rib.withColumn("__bp", F.row_number().over(w))
        .filter("__bp = 1")
        .drop("__bp")
    )
