"""Binary NetFlow decoders: v5 fixed-record and v9 template-driven,
as Arrow-batched ``mapInPandas`` transforms over a DataFrame of raw
datagrams ``(exporter_ip: string, payload: binary)``.

Reference: version dispatch (src/nfacctd.c:1649-1654), v5
``process_v5_packet`` (src/nfacctd.c:1705), v9/IPFIX
``process_v9_packet`` (src/nfacctd.c:1806) with the per-(exporter,
source-id, template-id) template cache (src/nfv9_template.c:1179;
struct template_cache_entry src/nfv9_template.h:311-325). Records that
arrive before their template are dropped, as the reference drops them.

Spark-first shape: datagrams are repartitioned by exporter and sorted
by sequence number within partitions, so the template cache is plain
per-partition Python state inside the mapInPandas generator — the
decoder never shuffles decoded rows, and decode parallelism scales with
the number of exporters (the same sharding a multi-process nfacctd
deployment uses).
"""

from __future__ import annotations

import socket
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# NetFlow v5
# ---------------------------------------------------------------------------

V5_HEADER_FMT = "!HHIIIIBBH"  # 24 bytes
V5_RECORD_FMT = "!IIIHHIIIIHHBBBBHHBBH"  # 48 bytes
V5_HEADER = struct.Struct(V5_HEADER_FMT)
V5_RECORD = struct.Struct(V5_RECORD_FMT)

FLOW_SCHEMA = T.StructType(
    [
        T.StructField("exporter_ip", T.StringType()),
        T.StructField("seqno", T.LongType()),
        T.StructField("ip_src_i", T.LongType()),
        T.StructField("ip_dst_i", T.LongType()),
        T.StructField("iface_in", T.LongType()),
        T.StructField("iface_out", T.LongType()),
        T.StructField("packets", T.LongType()),
        T.StructField("bytes", T.LongType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("end_ts_ms", T.LongType()),
        T.StructField("port_src", T.IntegerType()),
        T.StructField("port_dst", T.IntegerType()),
        T.StructField("tcp_flags", T.IntegerType()),
        T.StructField("ip_proto", T.IntegerType()),
        T.StructField("tos", T.IntegerType()),
        T.StructField("as_src", T.LongType()),
        T.StructField("as_dst", T.LongType()),
    ]
)


# numpy structured dtype mirroring V5_RECORD_FMT — 48 bytes, no padding
# (vectorized decode: one frombuffer per datagram instead of 30
# struct.unpack calls; ~20x on the wire-loop path)
def _v5_rec_dtype():
    import numpy as np

    dt = np.dtype(
        [
            ("src", ">u4"), ("dst", ">u4"), ("nh", ">u4"),
            ("inp", ">u2"), ("outp", ">u2"),
            ("pkts", ">u4"), ("octets", ">u4"),
            ("first", ">u4"), ("last", ">u4"),
            ("sport", ">u2"), ("dport", ">u2"),
            ("pad1", "u1"), ("flags", "u1"),
            ("proto", "u1"), ("tos", "u1"),
            ("sas", ">u2"), ("das", ">u2"),
            ("smask", "u1"), ("dmask", "u1"), ("pad2", ">u2"),
        ]
    )
    assert dt.itemsize == 48
    return dt


def _v5_rows(exporter: str, payload: bytes) -> list[tuple]:
    hdr = struct.Struct(V5_HEADER_FMT)
    rec = struct.Struct(V5_RECORD_FMT)
    if len(payload) < hdr.size:
        return []
    (ver, count, sysuptime, unix_secs, unix_nsecs, seqno, _et, _eid, _smp) = (
        hdr.unpack_from(payload, 0)
    )
    if ver != 5:
        return []
    out = []
    off = hdr.size
    base_ms = unix_secs * 1000 + unix_nsecs // 1_000_000 - sysuptime
    for _ in range(count):
        if off + rec.size > len(payload):
            break  # truncated datagram: keep what parsed (reference logs+skips)
        (
            src, dst, _nh, inp, outp, pkts, octets, first, last,
            sport, dport, _pad, flags, proto, tos, sas, das,
            _smask, _dmask, _pad2,
        ) = rec.unpack_from(payload, off)
        off += rec.size
        out.append(
            (
                exporter, seqno, src, dst, inp, outp, pkts, octets,
                base_ms + first, base_ms + last, sport, dport,
                flags, proto, tos, sas, das,
            )
        )
    return out


class _V5Acc:
    """Per-batch accumulator for vectorized v5 decode (shared by
    decode_v5 and the decode_any dispatch path). ``time_secs`` is
    nfacctd_time_secs (CONFIG-KEYS:2190): the v5 header's SysUptime
    and the records' First/Last are in SECONDS instead of msecs
    (non-standard exporters)."""

    def __init__(self, time_secs: bool = False):
        import numpy as np

        self.np = np
        self.dt = _v5_rec_dtype()
        self.hdr = struct.Struct(V5_HEADER_FMT)
        self.time_secs = time_secs
        self.parts = []
        self.exps: list[str] = []
        self.seqs: list[int] = []
        self.bases: list[int] = []

    def scan(self, exporter: str, payload: bytes) -> bool:
        np, hdr, dt = self.np, self.hdr, self.dt
        if len(payload) < hdr.size:
            return False
        ver, count, sysup, secs, nsecs, seqno, _t, _i, _s = hdr.unpack_from(
            payload, 0
        )
        if ver != 5:
            return False
        n = min(count, (len(payload) - hdr.size) // dt.itemsize)
        if n <= 0:
            return True
        self.parts.append(
            np.frombuffer(payload, dtype=dt, count=n, offset=hdr.size)
        )
        self.exps.append(exporter)
        self.seqs.append(seqno)
        self.bases.append(
            secs * 1000 + nsecs // 1_000_000
            - (sysup * 1000 if self.time_secs else sysup)
        )
        return True

    def frame(self, cols: list[str]) -> "pd.DataFrame | None":
        np = self.np
        if not self.parts:
            return None
        lens = [len(a) for a in self.parts]
        rec = np.concatenate(self.parts)
        base = np.repeat(np.asarray(self.bases, dtype=np.int64), lens)
        return pd.DataFrame(
            {
                "exporter_ip": np.repeat(
                    np.asarray(self.exps, dtype=object), lens
                ),
                "seqno": np.repeat(np.asarray(self.seqs, dtype=np.int64), lens),
                "ip_src_i": rec["src"].astype(np.int64),
                "ip_dst_i": rec["dst"].astype(np.int64),
                "iface_in": rec["inp"].astype(np.int64),
                "iface_out": rec["outp"].astype(np.int64),
                "packets": rec["pkts"].astype(np.int64),
                "bytes": rec["octets"].astype(np.int64),
                "ts_ms": base
                + rec["first"].astype(np.int64)
                * (1000 if self.time_secs else 1),
                "end_ts_ms": base
                + rec["last"].astype(np.int64)
                * (1000 if self.time_secs else 1),
                "port_src": rec["sport"].astype(np.int32),
                "port_dst": rec["dport"].astype(np.int32),
                "tcp_flags": rec["flags"].astype(np.int32),
                "ip_proto": rec["proto"].astype(np.int32),
                "tos": rec["tos"].astype(np.int32),
                "as_src": rec["sas"].astype(np.int64),
                "as_dst": rec["das"].astype(np.int64),
            },
            columns=cols,
        )


def decode_v5(
    datagrams: DataFrame, time_secs: bool = False
) -> DataFrame:
    """Decode NetFlow v5 datagrams into flow rows (vectorized: one
    ``np.frombuffer`` per datagram, column assembly in numpy)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in FLOW_SCHEMA.fields]
        for pdf in batches:
            acc = _V5Acc(time_secs=time_secs)
            for exporter, payload in zip(pdf["exporter_ip"], pdf["payload"]):
                acc.scan(exporter, bytes(payload))
            frame = acc.frame(cols)
            yield frame if frame is not None else pd.DataFrame(
                {c: [] for c in cols}
            )

    return datagrams.mapInPandas(gen, FLOW_SCHEMA)


# ---------------------------------------------------------------------------
# NetFlow v9 (template-driven)
# ---------------------------------------------------------------------------

# IE id -> (flow column, width handling). Unknown IEs are skipped by
# their template-declared length (the reference keeps them for custom
# primitives; we decode the core set).
V9_IE_COLUMNS = {
    1: "bytes",
    2: "packets",
    4: "ip_proto",
    5: "tos",
    6: "tcp_flags",
    7: "port_src",
    8: "ip_src_i",
    10: "iface_in",
    11: "port_dst",
    12: "ip_dst_i",
    14: "iface_out",
    16: "as_src",
    17: "as_dst",
    21: "end_ts_ms",
    22: "ts_ms",
}

V9_HEADER_FMT = "!HHIIII"  # 20 bytes
V9_HEADER = struct.Struct(V9_HEADER_FMT)

# --- extended IE families (reference IE tables src/nfv9_template.c:1179
# and the vlen resolution hook resolve_vlen_template,
# src/nfv9_template.h:333):
#   - IPv6 address IEs 27/28/62 (16-byte, dual-stack day-one surface)
#   - IPv6 prefix lengths 29/30 and flowLabelIPv6 31 (fixed-width uints)
#   - variable-length IEs (template length 65535; RFC 7011 §7: 1-byte
#     record length, 255 escape -> 2-byte length), e.g. vrfName 236
V6_ADDR_IES = {27: "ip6_src", 28: "ip6_dst", 62: "ip6_nexthop"}
EXT_UINT_IES = {
    15: "ip_nexthop_i",  # ipNextHopIPv4Address (use_ip_next_hop source)
    # DIRECTION (0 ingress / 1 egress) — emitted when nfprobe_direction
    # is configured (CONFIG-KEYS:2575, NF9_DIRECTION
    # src/nfv9_template.h)
    61: "direction",
    18: "bgp_nexthop_i",  # bgpNextHopIPv4Address (NF9_BGP_IPV4_NEXT_HOP
    #    src/nfv9_template.h — the ADD-PATH per-flow disambiguator,
    #    nmct2.peer_dst_ip in src/bgp/bgp_lookup.c:726)
    29: "mask6_src",
    30: "mask6_dst",
    31: "flow_label",
    # NAT event block (reference NF9_POST_NAT_* / NF9_NAT_EVENT,
    # src/nfv9_template.h:149-154; struct pkt_nat_primitives
    # src/network.h:620-632)
    225: "post_nat_ip_src_i",
    226: "post_nat_ip_dst_i",
    227: "post_nat_port_src",
    228: "post_nat_port_dst",
    230: "nat_event",
}
VLEN_STR_IES = {236: "vrf_name"}
# srhSegmentIPv6ListSection (reference NF9_srhSegmentIPv6ListSection
# 497, src/nfv9_template.h:188): a vlen blob of concatenated 16-byte
# segment addresses, rendered as the engine's csv form
SRV6_SEG_LIST_IE = 497
VLEN_SENTINEL = 65535
# MPLS label IEs 70-79 (reference NF9_MPLS_LABEL_1..10,
# src/nfv9_template.h:99-108): 3 bytes on the wire, 20-bit label in
# the top bits (value = raw >> 4; exp/bos in the low nibble)
MPLS_LABEL_IES = {70: "mpls_label_top", 71: "mpls_label_bottom"}
# L2 block: MAC IEs render colon-hex (reference NF9_IN_SRC_MAC 56 /
# NF9_OUT_DST_MAC 57, src/nfv9_template.h:90-91); VLAN 58, etype 256
MAC_IES = {56: "mac_src", 57: "mac_dst"}
L2_UINT_IES = {58: "vlan", 256: "etype"}

# nfprobe_tstamp_usec wire form (CONFIG-KEYS:2613; encode
# src/nfprobe_plugin/netflow9.c:1723-1736): flowStartMicroseconds /
# flowEndMicroseconds at LENGTH 16 — two 8-byte values, seconds then
# microseconds. Decoded to epoch-microsecond columns.
USEC_TS_IES = {154: "ts_us", 155: "end_ts_us"}


# --- custom primitives decoded from the wire (aggregate_primitives
# map: reference struct custom_primitive_entry src/cfg.h:45-63, typed
# semantics src/pmacct-defines.h:488-495). Enterprise IEs are keyed
# (pen << 16) | ie inside learned templates, so a vendor IE can never
# alias a standard column.
from dataclasses import dataclass


@dataclass(frozen=True)
class CustomIE:
    """One aggregate_primitives map entry: extract the (pen, ie) field
    as a typed output column. semantics: u_int | hex | string | ip |
    mac | raw."""

    name: str
    ie: int
    pen: int = 0
    semantics: str = "u_int"
    length: int = 4  # on-wire width (encoder side; decode reads the template)

    @property
    def key(self) -> int:
        return (self.pen << 16) | self.ie


def _decode_custom_value(raw: bytes, semantics: str):
    if semantics == "u_int":
        return _uint(raw)
    if semantics == "string":
        return raw.rstrip(b"\x00").decode("utf-8", "replace")
    if semantics == "ip":
        if len(raw) == 4:
            return ".".join(str(b) for b in raw)
        if len(raw) == 16:
            return _fmt_v6(raw)
        return raw.hex()
    if semantics == "mac":
        return ":".join(f"{b:02x}" for b in raw)
    # hex / raw
    return raw.hex()
# layer2SegmentId (IE 351, 8 bytes): high byte discriminates the
# tunnel type, low 3 bytes carry the segment id (reference
# NF9_LAYER2_SEGMENT_ID src/nfv9_template.h:180, type constants
# NF9_L2_SID_VXLAN/NVGRE :242, handler src/pkt_handlers.c:4624-4662;
# tunnel_id in struct pkt_tunnel_primitives src/network.h:654)
L2_SEGMENT_IE = 351
_L2_SID_VXLAN = 0x01
_L2_SID_NVGRE = 0x02


def _fmt_v6(b: bytes) -> str:
    """16 bytes -> uncompressed 8-group lowercase form (the canonical
    host_addr rendering used across the engine; SURVEY §1.4)."""
    h = b.hex()
    return ":".join(h[i : i + 4] for i in range(0, 32, 4))


def _tmpl_is_ext(tmpl: list[tuple[int, int]]) -> bool:
    return any(
        ln == VLEN_SENTINEL
        or (ie in V6_ADDR_IES and ln == 16)
        or (ie in USEC_TS_IES and ln == 16)
        or ie in EXT_UINT_IES
        or ie in VLEN_STR_IES
        or ie in MPLS_LABEL_IES
        or ie in MAC_IES
        or ie in L2_UINT_IES
        or ie == L2_SEGMENT_IE
        for ie, ln in tmpl
    )


def _compile_ext_tmpl(tmpl: list[tuple[int, int]], customs: dict | None):
    """Compile an extended template to a numpy fast path when every
    field is fixed-width and integer- or fixed-string-decodable: the
    whole flowset decodes with one frombuffer + vectorized byte folds
    (odd widths like 3-byte MPLS labels fold from raw bytes). Returns
    (raw_dtype, [(field, out_col, kind, width)]) with kind in
    {uint, mpls, str, mac, l2sid}; None -> scalar walk (vlen / IPv6
    strings). layer2SegmentId compiles to the ``l2sid`` kind — the
    value-dependent type-byte discrimination into the vxlan/nvgre
    columns runs as a vectorized mask (r4 routed it through the scalar
    walk, the one materially regressed bench query of that round)."""
    import numpy as np

    fields, convs = [], []
    for i, (ie, ln) in enumerate(tmpl):
        if ln == VLEN_SENTINEL or ln > 8 and ie != L2_SEGMENT_IE:
            # vlen or wide unknown: only 16-byte v6 handled, as strings
            return None
        if ie in V6_ADDR_IES:
            return None
        fn = f"f{i}"
        fields.append((fn, f"S{ln}"))
        cu = customs.get(ie) if customs else None
        if cu is not None:
            if cu.semantics == "u_int":
                convs.append((fn, cu.name, "uint", ln))
            elif cu.semantics == "string":
                convs.append((fn, cu.name, "str", ln))
            else:
                return None  # hex/ip/mac renderings: scalar walk
        elif ie == L2_SEGMENT_IE:
            if ln != 8:
                return None
            convs.append((fn, None, "l2sid", ln))
        elif ie in MPLS_LABEL_IES and ln == 3:
            convs.append((fn, MPLS_LABEL_IES[ie], "mpls", ln))
        elif ie in MAC_IES and ln == 6:
            convs.append((fn, MAC_IES[ie], "mac", ln))
        else:
            col = (
                EXT_UINT_IES.get(ie)
                or L2_UINT_IES.get(ie)
                or V9_IE_COLUMNS.get(ie)
            )
            if col is not None:
                if ln > 8:
                    return None
                convs.append((fn, col, "uint", ln))
    if not convs:
        return None
    return (np.dtype(fields), tuple(convs))


def _run_ext_compiled(comp, body: bytes):
    """Decode one flowset with a compiled ext template: byte-fold each
    needed column (vectorized), shift MPLS labels, strip fixed-width
    strings. Returns (out_struct_array, colmap) or None if empty."""
    import numpy as np

    dt, convs = comp
    n = len(body) // dt.itemsize
    if n == 0:
        return None
    raw = np.frombuffer(body, dtype=dt, count=n)
    out_dt = []
    for fn, _col, kind, _ln in convs:
        if kind == "l2sid":
            # two nullable outputs per field: rows are vxlan OR nvgre
            out_dt += [(fn + "__vx", "O"), (fn + "__nv", "O")]
        elif kind in ("str", "mac"):
            out_dt.append((fn, "O"))
        else:
            out_dt.append((fn, "<i8"))
    out = np.zeros(n, dtype=out_dt)
    for fn, _col, kind, ln in convs:
        if kind == "str":
            u = np.char.decode(raw[fn], "utf-8", "replace")
            out[fn] = np.char.rstrip(u, "\x00").astype(object)
            continue
        if kind == "mac":
            b = np.ascontiguousarray(raw[fn]).view(np.uint8).reshape(n, ln)
            lut = np.array([f"{i:02x}" for i in range(256)])
            parts = lut[b[:, 0]]
            for j in range(1, ln):
                parts = np.char.add(np.char.add(parts, ":"), lut[b[:, j]])
            out[fn] = parts.astype(object)
            continue
        # field views of a structured array are strided: copy to a
        # contiguous buffer before the byte-level view
        b = np.ascontiguousarray(raw[fn]).view(np.uint8).reshape(n, ln)
        v = np.zeros(n, dtype=np.int64)
        for j in range(ln):
            v = (v << 8) | b[:, j].astype(np.int64)
        if kind == "mpls":
            v >>= 4
        if kind == "l2sid":
            # type byte -> column routing, vectorized (reference
            # src/pkt_handlers.c:4624-4662): sid goes to vxlan when the
            # high byte is 0x01, nvgre when 0x02; the other column (and
            # unknown types) stay NULL.
            sid_type, sid = v >> 56, v & 0xFFFFFF
            vx = np.full(n, None, dtype=object)
            nv = np.full(n, None, dtype=object)
            m = sid_type == _L2_SID_VXLAN
            vx[m] = sid[m]
            m = sid_type == _L2_SID_NVGRE
            nv[m] = sid[m]
            out[fn + "__vx"] = vx
            out[fn + "__nv"] = nv
            continue
        out[fn] = v
    colmap = []
    for fn, col, kind, _ln in convs:
        if kind == "l2sid":
            colmap.append((fn + "__vx", "vxlan", "onull"))
            colmap.append((fn + "__nv", "nvgre", "onull"))
        else:
            colmap.append((fn, col, kind))
    return out, tuple(colmap)


def _decode_ext_records(
    body: bytes,
    tmpl: list[tuple[int, int]],
    exporter: str,
    seqno: int,
    customs: dict | None = None,
    compiled: dict | None = None,
    tmpl_key=None,
) -> list:
    """Decode for templates carrying IPv6 / vlen / string / custom
    IEs. Fixed-width integer/string-only templates take the COMPILED
    numpy path (one frombuffer + vectorized byte folds per flowset,
    cached in ``compiled`` under ("ext", tmpl_key)); everything else
    takes the scalar walk. Variable-length fields make the record size
    dynamic, so the walk guards on the MINIMUM record length (>= 4, so
    trailing set padding of <= 3 zero bytes is never misread as a
    record). ``customs`` maps the pen-shifted IE key to a
    :class:`CustomIE`."""
    if compiled is not None and tmpl_key is not None:
        ck = ("ext", tmpl_key)
        comp = compiled.get(ck, "absent")
        if comp == "absent":
            comp = _compile_ext_tmpl(tmpl, customs)
            compiled[ck] = comp
        if comp is not None:
            res = _run_ext_compiled(comp, body)
            if res is None:
                return []
            arr, colmap = res
            return [("__arr__", exporter, seqno, (ck, colmap), colmap, arr)]
    min_len = sum(1 if ln == VLEN_SENTINEL else ln for _, ln in tmpl)
    if min_len == 0:
        return []
    # Enforce the >=4 floor ONLY for templates carrying vlen fields:
    # a vlen-only template has min_len == 1 and would otherwise parse
    # trailing set padding (<= 3 zero bytes, RFC 7011 §3.3.1) as
    # records. Fixed-width templates keep their exact record size — a
    # short (1-3 byte) fixed record in an unpadded set is valid and
    # must still decode.
    if any(ln == VLEN_SENTINEL for _, ln in tmpl):
        min_len = max(min_len, 4)
    out: list[dict] = []
    p, n_body = 0, len(body)
    truncated = False
    while p + min_len <= n_body and not truncated:
        rec = {"exporter_ip": exporter, "seqno": seqno}
        for ie, ln in tmpl:
            if ln == VLEN_SENTINEL:
                # A malformed/truncated data set can exhaust the body
                # mid-record: every vlen read is bounds-checked so a
                # poison datagram drops the record instead of raising
                # (reference clamps the same way, src/nfacctd.c tpl
                # walk).
                if p >= n_body:
                    truncated = True
                    break
                l0 = body[p]
                p += 1
                if l0 == 255:  # escape: real length in next 2 bytes
                    if p + 2 > n_body:
                        truncated = True
                        break
                    l0 = int.from_bytes(body[p : p + 2], "big")
                    p += 2
                if p + l0 > n_body:
                    truncated = True
                    break
                val = body[p : p + l0]
                p += l0
                cu = customs.get(ie) if customs else None
                if cu is not None:
                    rec[cu.name] = _decode_custom_value(val, cu.semantics)
                    continue
                if ie == SRV6_SEG_LIST_IE:
                    rec["srv6_seg_ipv6_list"] = ",".join(
                        _fmt_v6(val[q : q + 16])
                        for q in range(0, len(val) - 15, 16)
                    )
                    continue
                col = VLEN_STR_IES.get(ie)
                if col is not None:
                    rec[col] = val.decode("utf-8", "replace")
            else:
                raw = body[p : p + ln]
                p += ln
                cu = customs.get(ie) if customs else None
                if cu is not None:
                    rec[cu.name] = _decode_custom_value(raw, cu.semantics)
                elif ie in V6_ADDR_IES and ln == 16:
                    rec[V6_ADDR_IES[ie]] = _fmt_v6(raw)
                elif ie in USEC_TS_IES and ln == 16:
                    us = _uint(raw[:8]) * 1_000_000 + _uint(raw[8:])
                    rec[USEC_TS_IES[ie]] = us
                    # collector-side: the ms columns every downstream
                    # consumer (canonical_flows ts/end_ts) reads stay
                    # populated at reduced resolution
                    rec["ts_ms" if ie == 154 else "end_ts_ms"] = (
                        us // 1000
                    )
                elif ie == L2_SEGMENT_IE and ln == 8:
                    val = _uint(raw)
                    sid_type, sid = val >> 56, val & 0xFFFFFF
                    if sid_type == _L2_SID_VXLAN:
                        rec["vxlan"] = sid
                    elif sid_type == _L2_SID_NVGRE:
                        rec["nvgre"] = sid
                elif ie in MPLS_LABEL_IES and ln == 3:
                    rec[MPLS_LABEL_IES[ie]] = _uint(raw) >> 4
                elif ie in MAC_IES and ln == 6:
                    rec[MAC_IES[ie]] = ":".join(f"{b:02x}" for b in raw)
                else:
                    col = (
                        EXT_UINT_IES.get(ie)
                        or L2_UINT_IES.get(ie)
                        or V9_IE_COLUMNS.get(ie)
                    )
                    if col is not None:
                        rec[col] = _uint(raw)
        if truncated or p > n_body:
            break  # truncated final record: drop it (reference skips)
        out.append(rec)
    return out


# Options-data IEs (sampling exposition, the reference's tests/104-*
# sampling-options path; template structs src/nfv9_template.h): NetFlow
# FLOW_SAMPLER_* (48-50), SAMPLING_* (34-35), IPFIX selectorId /
# samplingPacketInterval (302, 305).
OPT_IE_COLUMNS = {
    # exporterIPv4Address (IE 130): 'some IPFIX implementations do
    # send IE #130 via Options packets ... and that is used by
    # default' as the exporter identity (CONFIG-KEYS:2213,
    # nfacctd_ignore_exporter_address)
    130: "exporter_v4",
    48: "sampler_id",
    49: "sampler_mode",
    50: "sampling_rate",
    34: "sampling_interval",
    35: "sampling_algorithm",
    302: "sampler_id",
    305: "sampling_interval",
}

# Name/RD exposition options (the reference's vrf_name_map /
# iface_name_map / rd maps fed by Cisco options records — tests/112,
# tests/500; IEs: interfaceName 82, mplsVpnRouteDistinguisher 90,
# vrfName 236). Strings are fixed-width null-padded in options
# records; the RD renders as 16 hex chars (the form the reference's
# output-flow JSON carries).
OPT_STR_IES = {82: "iface_name", 236: "vrf_name"}
OPT_HEX_IES = {90: "mpls_vpn_rd"}

OPTIONS_SCHEMA = T.StructType(
    [
        T.StructField("exporter_ip", T.StringType()),
        T.StructField("seqno", T.LongType()),
        T.StructField("exporter_v4", T.LongType()),
        T.StructField("scope_type", T.IntegerType()),
        T.StructField("scope_value", T.LongType()),
        T.StructField("sampler_id", T.LongType()),
        T.StructField("sampler_mode", T.IntegerType()),
        T.StructField("sampling_rate", T.LongType()),
        T.StructField("sampling_interval", T.LongType()),
        T.StructField("sampling_algorithm", T.IntegerType()),
        T.StructField("iface_name", T.StringType()),
        T.StructField("vrf_name", T.StringType()),
        T.StructField("mpls_vpn_rd", T.StringType()),
    ]
)


def _uint(b: bytes) -> int:
    return int.from_bytes(b, "big")


def _malformed_padding(body: bytes, rec_len: int) -> bool:
    """True when the bytes left after the last whole record are not
    all zero — RFC 7011 §3.3.1 padding must be zeroes; anything else
    means the template doesn't match the data."""
    tail = len(body) % rec_len
    return bool(tail) and any(body[-tail:])


def _decode_option_records(
    body: bytes,
    scope_fields: list[tuple[int, int]],
    option_fields: list[tuple[int, int]],
    exporter: str,
    seqno: int,
) -> list[dict]:
    """Options-data records: scope (who the options describe) + values
    (sampling exposition). Reference handles these in the same
    process_v9_packet loop (src/nfacctd.c:1806)."""
    rec_len = sum(ln for _, ln in scope_fields) + sum(ln for _, ln in option_fields)
    if rec_len == 0:
        return []
    out: list[dict] = []
    p = 0
    while p + rec_len <= len(body):
        rec = {"exporter_ip": exporter, "seqno": seqno}
        for st, ln in scope_fields:
            # keep the first scope (System/Interface/...) as the row's
            # scope; multi-scope templates are rare
            if "scope_type" not in rec or rec["scope_type"] is None:
                rec["scope_type"] = st
                rec["scope_value"] = _uint(body[p : p + ln])
            p += ln
        for ie, ln in option_fields:
            col = OPT_IE_COLUMNS.get(ie)
            if col is not None:
                rec[col] = _uint(body[p : p + ln])
            elif ie in OPT_STR_IES:
                rec[OPT_STR_IES[ie]] = (
                    body[p : p + ln].rstrip(b"\x00").decode("utf-8", "replace")
                )
            elif ie in OPT_HEX_IES:
                rec[OPT_HEX_IES[ie]] = body[p : p + ln].hex()
            p += ln
        out.append(rec)
    return out


def _decode_option_records_custom(
    body: bytes,
    scope_fields: list[tuple[int, int]],
    option_fields: list[tuple[int, int]],
    exporter: str,
    seqno: int,
    customs: dict | None,
) -> list[dict]:
    """nfacctd_account_options record walk: option records decoded as
    ACCOUNTED DATA ROWS (reference exec_plugins on option records,
    src/nfacctd.c:2443-2450), with every scope and option field mapped
    through the aggregate_primitives customs table — the CONFIG-KEYS
    workflow (CONFIG-KEYS:2083-2102: vrf_id/vrf_name, if_id/if_name
    exposition logged by a dedicated plugin). Rows carry
    flow_type=NF9_FTYPE_OPTION so pre_tag_map ``sample_type=option``
    can route them (pretag_sample_type_handler,
    src/pretag_handlers.c:2327)."""
    rec_len = sum(ln for _, ln in scope_fields) + sum(
        ln for _, ln in option_fields
    )
    if rec_len == 0 or not customs:
        return []
    out: list[dict] = []
    p = 0
    while p + rec_len <= len(body):
        rec = {
            "exporter_ip": exporter,
            "seqno": seqno,
            "flow_type": NF9_FTYPE_OPTION,
        }
        for ie, ln in scope_fields + option_fields:
            cu = customs.get(ie)
            if cu is not None:
                rec[cu.name] = _decode_custom_value(
                    body[p : p + ln], cu.semantics
                )
            p += ln
        out.append(rec)
    return out


def decode_options_data(
    datagrams: DataFrame,
    customs: list["CustomIE"],
    seed_templates: dict | None = None,
    by: str | None = None,
) -> DataFrame:
    """nfacctd_account_options (CONFIG-KEYS:2083): decode option
    records from v9/IPFIX datagrams as accounted DATA rows, one typed
    column per aggregate_primitives entry (field_type matched against
    both scope and option template fields). Output: exporter_ip,
    seqno, flow_type (= 200, NF9_FTYPE_OPTION) + the custom columns.
    Flow/data records in the same datagrams are skipped — they keep
    flowing through decode_any/decode_any_ext; the daemon unions the
    two row streams into one plugin channel and pre_tag_map
    ``sample_type`` splits them (reference src/nfacctd.c:2443).

    ``seed_templates`` pre-populates every partition's template cache
    and ``by`` is carried along, as in :func:`decode_any`."""
    cmap = {c.key: c for c in customs}
    fields = [
        T.StructField("exporter_ip", T.StringType()),
        T.StructField("seqno", T.LongType()),
        T.StructField("flow_type", T.IntegerType()),
    ]
    str_cols = set()
    for c in customs:
        if c.semantics == "u_int":
            fields.append(T.StructField(c.name, T.LongType()))
        else:
            fields.append(T.StructField(c.name, T.StringType()))
            str_cols.add(c.name)
    schema = T.StructType(fields)
    frozen_str = frozenset(str_cols)
    seeded = _seeded(datagrams, seed_templates)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        templates = seeded()
        cols = [f.name for f in schema.fields]

        def options(pdf: pd.DataFrame) -> pd.DataFrame:
            rows = _v9_v10_records(pdf, templates, want="opt_data", customs=cmap)
            return _flow_frame(rows, cols, str_cols=frozen_str)

        yield from _per_tag(batches, by, options)

    return datagrams.mapInPandas(gen, _tagged_schema(schema, datagrams, by))


def flow_type_column(df: DataFrame) -> Column:
    """NF_evaluate_flow_type (reference src/nfacctd.c:3692) as one JVM
    column expression over DECODED flow rows: template-IE presence maps
    to column nullity post-decode, so the classification runs fully
    Catalyst-side. Event (100) when the record carried no byte
    counter; else IPv4 (2) / IPv6 (3) base, +10 when an MPLS label was
    present, +5 when the VLAN field is present AND non-zero (the
    reference checks the value, not just template presence). Option
    rows come pre-stamped 200 by decode_options_data."""
    cols = set(df.columns)

    def have(c: str) -> bool:
        return c in cols

    is_event = (
        F.col("bytes").isNull() if have("bytes") else F.lit(True)
    )
    v6 = (
        (F.col("ip6_src").isNotNull() & (F.col("ip6_src") != ""))
        if have("ip6_src")
        else F.lit(False)
    )
    base = F.when(v6, F.lit(3)).otherwise(F.lit(2))
    mpls = (
        F.when(F.col("mpls_label_top").isNotNull(), F.lit(10)).otherwise(
            F.lit(0)
        )
        if have("mpls_label_top")
        else F.lit(0)
    )
    vlan = (
        F.when(F.col("vlan") > 0, F.lit(5)).otherwise(F.lit(0))
        if have("vlan")
        else F.lit(0)
    )
    return (
        F.when(is_event, F.lit(NF9_FTYPE_EVENT))
        .otherwise(base + mpls + vlan)
        .cast("int")
    )


# Flow-type code points (reference src/pmacct-defines.h:588-609):
# traffic types occupy 1..99 (base IPv4=2 / IPv6=3, +5 VLAN, +10 MPLS),
# events are 100, option records 200.
PM_FTYPE_TRAFFIC = 1
PM_FTYPE_TRAFFIC_MAX = 99
NF9_FTYPE_EVENT = 100
NF9_FTYPE_OPTION = 200

# Sampling-exposition IEs subject to the options scope check
# (reference src/nfacctd.c:2088-2102: FLOW_SAMPLER_ID / SAMPLING_*
# and their IPFIX selector twins).
_SAMPLING_OPT_IES = frozenset({34, 35, 48, 49, 50, 302, 305})
_IPFIX_SCOPE_TEMPLATE_ID = 145


def _sampling_scope_ok(
    scope_fields: list[tuple[int, int]],
    option_fields: list[tuple[int, int]],
    version: int,
    scope_check: bool = True,
) -> bool:
    """The options scope check (reference src/nfacctd.c:2098): a
    sampling-exposition record is accepted when scoped to the System
    level (v9 scope type 1 — which IPFIX scope IE 1 also satisfies,
    as the reference checks the same fld[1] slot for both) or, on
    IPFIX, per-selector via a templateId scope (IE 145). Non-sampling
    options (e.g. VRF/ifname exposition) are not gated — the reference
    applies the check only on its sampler/class consumption paths.
    ``scope_check=False`` is nfacctd_disable_opt_scope_check
    (CONFIG-KEYS:2206): options are then considered scoped to the
    system level regardless of what the template says."""
    if not scope_check:
        return True
    if not any(ie in _SAMPLING_OPT_IES for ie, _ in option_fields):
        return True
    if any(st == 1 for st, _ in scope_fields):
        return True
    if version == 10 and any(
        st == _IPFIX_SCOPE_TEMPLATE_ID for st, _ in scope_fields
    ):
        return True
    return False


def options_map(options: DataFrame) -> DataFrame:
    """Compact decoded options records into the live exposition map:
    the LATEST record per (exporter, scope_type, scope_value) wins.

    This is the semantics the reference's vrf_name_map / in_rd_map /
    out_rd_map / iface_name_map must have on ID reassignment — a
    router re-sending options for an existing scope key REPLACES the
    stale entry (the cdada_map_insert silent-EEXISTS bug the tests/112
    scenario pins down). One window shuffle over the tiny options
    stream; the result broadcasts into flow enrichment joins."""
    w = Window.partitionBy(
        "exporter_ip", "scope_type", "scope_value"
    ).orderBy(F.desc("seqno"))
    return (
        options.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .drop("__rn")
    )


# Template -> numpy dtype compilation (the reference compiles a
# handler vector per template, evaluate_packet_handlers
# src/pkt_handlers.c:99; we compile a structured dtype once per learned
# template and decode whole flowsets with a single frombuffer).
_IE_WIDTHS = {1: "u1", 2: ">u2", 4: ">u4", 8: ">u8"}


def _compile_tmpl(fields: list[tuple[int, int]]):
    """(dtype, ((field_name, column), ...)) or None if any IE width
    isn't a plain big-endian integer (falls back to the scalar walk)."""
    import numpy as np

    if not fields or any(ln not in _IE_WIDTHS for _, ln in fields):
        return None
    dt = []
    colmap = []
    for i, (ie, ln) in enumerate(fields):
        fn = f"f{i}"
        dt.append((fn, _IE_WIDTHS[ln]))
        col = V9_IE_COLUMNS.get(ie)
        if col is not None:
            colmap.append((fn, col))
    return (np.dtype(dt), tuple(colmap))


def null_int64(n: int) -> pd.arrays.IntegerArray:
    """An all-NULL nullable Int64 column of length ``n``. Built from
    two numpy buffers (values, mask) instead of a list of ``n``
    ``pd.NA`` objects, which costs ~1000x more per row; the Arrow
    array it converts to is the same."""
    import numpy as np

    return pd.arrays.IntegerArray(np.zeros(n, np.int64), np.ones(n, bool))


def _flow_frame(
    items: list, cols: list[str], str_cols: frozenset[str] = frozenset()
) -> pd.DataFrame:
    """Assemble decoder output — a mix of per-record dicts (scalar
    fallback paths) and ('__arr__', exporter, seqno, group_key, colmap,
    structured-array) items — into one DataFrame with ``cols``.
    ``str_cols`` names the string-typed output columns (filled with
    None, not Int64 NA, when absent)."""
    import numpy as np

    dicts: list[dict] = []
    groups: dict = {}
    for it in items:
        if isinstance(it, dict):
            dicts.append(it)
            continue
        _tag, exp, seq, gkey, colmap, arr = it
        g = groups.setdefault(
            gkey, {"colmap": colmap, "arrs": [], "exps": [], "seqs": [], "lens": []}
        )
        g["arrs"].append(arr)
        g["exps"].append(exp)
        g["seqs"].append(seq)
        g["lens"].append(len(arr))
    frames = []
    for g in groups.values():
        rec = np.concatenate(g["arrs"])
        data = {
            "exporter_ip": np.repeat(
                np.asarray(g["exps"], dtype=object), g["lens"]
            ),
            "seqno": np.repeat(np.asarray(g["seqs"], dtype=np.int64), g["lens"]),
        }
        for entry in g["colmap"]:
            fn, col, kind = entry if len(entry) == 3 else (*entry, "uint")
            if kind in ("str", "mac", "onull"):
                data[col] = pd.Series(rec[fn], dtype=object)
            else:
                data[col] = rec[fn].astype(np.int64)
        frames.append(pd.DataFrame(data))
    if dicts:
        frames.append(
            pd.DataFrame([[r.get(c) for c in cols] for r in dicts], columns=cols)
        )
    if not frames:
        return pd.DataFrame({c: [] for c in cols})
    df = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
    for c in cols:
        if c not in df.columns:
            if c in str_cols:
                df[c] = pd.Series([None] * len(df), dtype=object)
            else:
                df[c] = null_int64(len(df))
        elif df[c].dtype == np.float64:
            # NaN introduced by concat over missing columns
            if c in str_cols:
                df[c] = df[c].astype(object).where(df[c].notna(), None)
            else:
                df[c] = df[c].astype("Int64")
    return df[cols]


def _v9_packet(
    exporter: str,
    payload: bytes,
    templates: dict[tuple[str, int, int], tuple],
    want: str = "flows",
    compiled: dict | None = None,
    customs: dict | None = None,
    opt_scope_check: bool = True,
    pre_checks: bool = False,
) -> list[dict]:
    if len(payload) < 20:
        return []
    ver, _count, _uptime, _secs, seqno, source_id = struct.unpack_from(
        V9_HEADER_FMT, payload, 0
    )
    if ver != 9:
        return []
    out: list[dict] = []
    off = 20
    while off + 4 <= len(payload):
        set_id, set_len = struct.unpack_from("!HH", payload, off)
        if set_len < 4:
            break
        body = payload[off + 4 : off + set_len]
        off += set_len
        if set_id == 0:  # template flowset
            p = 0
            while p + 4 <= len(body):
                tid, nfields = struct.unpack_from("!HH", body, p)
                p += 4
                if tid < 256:  # padding / malformed
                    break
                fields = []
                for _ in range(nfields):
                    if p + 4 > len(body):
                        break
                    ie, ln = struct.unpack_from("!HH", body, p)
                    p += 4
                    fields.append((ie, ln))
                templates[(exporter, source_id, tid)] = ("data", fields)
                if compiled is not None:  # template (re)assignment
                    compiled.pop((exporter, source_id, tid), None)
                    compiled.pop(("ext", (exporter, source_id, tid)), None)
        elif set_id == 1:  # options template flowset (v9 layout:
            # tid, scope bytes, option bytes, then (type,len) pairs)
            p = 0
            while p + 6 <= len(body):
                tid, scope_bytes, option_bytes = struct.unpack_from(
                    "!HHH", body, p
                )
                p += 6
                if tid < 256:
                    break
                scope_fields, option_fields = [], []
                taken = 0
                while taken < scope_bytes and p + 4 <= len(body):
                    st, ln = struct.unpack_from("!HH", body, p)
                    p += 4
                    taken += 4
                    scope_fields.append((st, ln))
                taken = 0
                while taken < option_bytes and p + 4 <= len(body):
                    ie, ln = struct.unpack_from("!HH", body, p)
                    p += 4
                    taken += 4
                    option_fields.append((ie, ln))
                templates[(exporter, source_id, tid)] = (
                    "options", scope_fields, option_fields,
                )
        elif set_id >= 256:  # data flowset
            entry = templates.get((exporter, source_id, set_id))
            if entry is None:
                continue  # template not yet seen: drop (reference behavior)
            if entry[0] == "options":
                if want == "options":
                    if _sampling_scope_ok(
                        entry[1], entry[2], 9, opt_scope_check
                    ):
                        out.extend(
                            _decode_option_records(
                                body, entry[1], entry[2], exporter, seqno
                            )
                        )
                elif want == "opt_data":
                    out.extend(
                        _decode_option_records_custom(
                            body, entry[1], entry[2], exporter, seqno,
                            customs,
                        )
                    )
                continue
            if want != "flows":
                continue
            tmpl = entry[1]
            if _tmpl_is_ext(tmpl) or (
                customs and any(k in customs for k, _ in tmpl)
            ):
                out.extend(
                    _decode_ext_records(
                        body, tmpl, exporter, seqno, customs=customs,
                        compiled=compiled,
                        tmpl_key=(exporter, source_id, set_id),
                    )
                )
                continue
            rec_len = sum(ln for _, ln in tmpl)
            if rec_len == 0:
                continue
            if pre_checks and _malformed_padding(body, rec_len):
                # nfacctd_pre_processing_checks (CONFIG-KEYS:2221;
                # dry-run at src/nfacctd.c:2478-2520): a data flowset
                # whose trailing padding holds non-zero bytes is
                # garbage (wrong template / buggy router) — discard
                # the WHOLE flowset rather than misparse it
                continue
            if compiled is not None:
                k3 = (exporter, source_id, set_id)
                comp = compiled.get(k3, "absent")
                if comp == "absent":
                    comp = _compile_tmpl(tmpl)
                    compiled[k3] = comp
                if comp is not None:
                    import numpy as np

                    dt, colmap = comp
                    n = len(body) // dt.itemsize
                    if n:
                        out.append(
                            (
                                "__arr__", exporter, seqno,
                                (k3, dt, colmap),
                                colmap,
                                np.frombuffer(body, dtype=dt, count=n),
                            )
                        )
                    continue
            p = 0
            while p + rec_len <= len(body):
                rec = {"exporter_ip": exporter, "seqno": seqno}
                for ie, ln in tmpl:
                    col = V9_IE_COLUMNS.get(ie)
                    if col is not None:
                        rec[col] = _uint(body[p : p + ln])
                    p += ln
                out.append(rec)
    return out


def decode_v9(datagrams: DataFrame) -> DataFrame:
    """Decode NetFlow v9 with per-(exporter, source-id, template-id)
    template state held inside each partition's decoder generator.

    Callers must co-locate an exporter's datagrams in one partition in
    arrival order — ``repartition("exporter_ip")`` +
    ``sortWithinPartitions("arrival_seq")`` — mirroring the per-socket
    ordering the reference relies on.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        templates: dict[tuple[str, int, int], list[tuple[int, int]]] = {}
        compiled: dict = {}
        cols = [f.name for f in FLOW_SCHEMA.fields]
        for pdf in batches:
            items: list = []
            for exporter, payload in zip(pdf["exporter_ip"], pdf["payload"]):
                items.extend(
                    _v9_packet(
                        exporter, bytes(payload), templates, compiled=compiled
                    )
                )
            yield _flow_frame(items, cols)

    return datagrams.mapInPandas(gen, FLOW_SCHEMA)


def prepare_datagrams(df: DataFrame, order_col: str = "arrival_seq") -> DataFrame:
    """Shard by exporter and order within shard — the STATEFUL decode
    contract (decode_v9 / decode_any). Decode parallelism is then
    bounded by the exporter count; for batch/replay inputs prefer
    :func:`decode_any_twophase`, which has no partitioning contract."""
    return df.repartition(F.col("exporter_ip")).sortWithinPartitions(order_col)


# ---------------------------------------------------------------------------
# Two-phase decode: template learning pass -> broadcast cache -> data
# decode under ARBITRARY partitioning.
#
# The stateful decoders above mirror the reference's per-socket decode
# (one nfacctd process per exporter stream): parallelism == number of
# exporters, so one big exporter = one task = a straggler factory at
# 100 TB. For bounded inputs (pcap replay, object-store captures) the
# template set is learnable in a cheap first pass over the template
# flowsets only; the learned cache broadcasts (templates are ~KB) and
# the data pass then decodes under any partitioning the caller likes —
# decode parallelism scales with the cluster, not the exporter count.
#
# Semantic note: the reference drops data records that precede their
# template on the live socket (src/nfv9_template.c:1179 learn-then-
# decode). A closed batch has no "before" — the two-phase decoder
# decodes every record whose template appears anywhere in the capture,
# which is the right replay semantics. Template REASSIGNMENT (same id,
# different layout over time inside one capture) is detected in the
# learning pass and rejected — those captures need the ordered
# stateful path.
# ---------------------------------------------------------------------------

_TMPL_DEF_SCHEMA = T.StructType(
    [
        T.StructField("exporter_ip", T.StringType()),
        T.StructField("source_id", T.LongType()),
        T.StructField("template_id", T.IntegerType()),
        T.StructField("spec", T.StringType()),
    ]
)


class _RecordingTemplates(dict):
    """Template dict that records every (re)definition, so the learning
    pass can detect same-id conflicting layouts."""

    def __init__(self):
        super().__init__()
        self.defs: list[tuple] = []

    def __setitem__(self, key, value):
        self.defs.append((key, value))
        super().__setitem__(key, value)


def _seeded(datagrams: DataFrame, seed_templates: dict | None):
    """A zero-argument function returning a fresh template cache
    holding ``seed_templates`` (broadcast once), for each partition."""
    bc = (
        datagrams.sparkSession.sparkContext.broadcast(seed_templates)
        if seed_templates
        else None
    )
    return lambda: {tuple(k): v for k, v in bc.value.items()} if bc else {}


def _v9_v10_records(pdf: pd.DataFrame, templates: dict, **kw) -> list:
    """The records of the v9 and IPFIX datagrams in ``pdf``, in order,
    each datagram decoded by ``_v9_packet`` / ``_v10_packet`` against
    ``templates`` with ``kw``; other versions are skipped."""
    out: list = []
    for exporter, payload in zip(pdf["exporter_ip"], pdf["payload"]):
        b = bytes(payload)
        ver = int.from_bytes(b[:2], "big") if len(b) >= 2 else 0
        if ver in (9, 10):
            packet = _v9_packet if ver == 9 else _v10_packet
            out.extend(packet(exporter, b, templates, **kw))
    return out


def _tagged_schema(
    schema: T.StructType, datagrams: DataFrame, by: str | None
) -> T.StructType:
    """A decoder's output schema, plus the ``by`` column it carries."""
    if by is None:
        return schema
    return T.StructType(schema.fields + [datagrams.schema[by]])


def _per_tag(
    batches: Iterator[pd.DataFrame],
    by: str | None,
    decode_batch,
) -> Iterator[pd.DataFrame]:
    """Run ``decode_batch`` (datagram batch -> decoded frame) on each
    batch; with ``by``, on each run of datagrams sharing a ``by`` value
    instead, stamping that value on every row it decodes — so one pass
    over many inputs (e.g. spool files) keeps each input's rows
    apart."""
    for pdf in batches:
        if by is None:
            yield decode_batch(pdf)
            continue
        for tag, part in pdf.groupby(by, sort=False):
            yield decode_batch(part).assign(**{by: tag})


def extract_template_defs(
    datagrams: DataFrame, by: str | None = None
) -> DataFrame:
    """Phase 1: every template definition seen in the capture, one row
    per (exporter, source_id, template_id, json-spec) occurrence. With
    ``by``, each row also carries that column of the datagrams that
    defined it."""
    import json

    def defs(pdf: pd.DataFrame) -> pd.DataFrame:
        tmpls = _RecordingTemplates()
        _v9_v10_records(pdf, tmpls, want="templates")
        rows = [
            (exp, sid, tid, json.dumps(spec))
            for (exp, sid, tid), spec in tmpls.defs
        ]
        return pd.DataFrame(
            rows, columns=["exporter_ip", "source_id", "template_id", "spec"]
        )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yield from _per_tag(batches, by, defs)

    return datagrams.mapInPandas(
        gen, _tagged_schema(_TMPL_DEF_SCHEMA, datagrams, by)
    )


def learn_template_cache(datagrams: DataFrame, by: str | None = None) -> dict:
    """Collect the (small) template cache to the driver; raise on
    conflicting redefinitions.

    With ``by``, learn one cache per value of that datagram column
    instead, in one pass: ``{value: cache}``. A value whose own
    datagrams redefine a template with a different layout maps to
    ``None`` rather than raising, so the caller can tell which inputs
    need the ordered path."""
    import json

    caches: dict = {}
    for r in extract_template_defs(datagrams, by).collect():
        tag = r[by] if by is not None else None
        cache = caches.setdefault(tag, {})
        if cache is None:
            continue
        key = (r.exporter_ip, r.source_id, r.template_id)
        spec = json.loads(r.spec)
        if cache.get(key, spec) == spec:
            cache[key] = spec
        elif by is not None:
            caches[tag] = None
        else:
            raise ValueError(
                f"template {key} redefined with a different layout; "
                "use the ordered stateful path (prepare_datagrams + "
                "decode_v9/decode_any)"
            )
    return caches if by is not None else caches.get(None, {})


def save_templates_file(cache: dict, path: str) -> None:
    """Persist a template cache as JSON — the reference's
    nfacctd_templates_file steady-state side (CONFIG-KEYS:2040;
    save_template / update_template_in_file src/nfv9_template.c:255,
    1230-1235). Keys flatten to "exporter|source_id|template_id".
    Atomic replace, so a crashed write can't truncate the cache a
    restarting collector depends on."""
    import json
    import os
    import tempfile

    data = {"|".join(map(str, k)): v for k, v in cache.items()}
    d = os.path.dirname(os.path.abspath(path)) or "."
    fd, tmp = tempfile.mkstemp(dir=d, prefix=".tmpl.")
    try:
        with os.fdopen(fd, "w") as fh:
            json.dump(data, fh)
        os.replace(tmp, path)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise


def load_templates_file(path: str) -> dict:
    """Load a template cache saved by :func:`save_templates_file`; a
    missing or unreadable file yields {} (the reference logs and
    skips, src/nfv9_template.c:1334-1344)."""
    import json
    import os

    if not os.path.exists(path):
        return {}
    try:
        with open(path) as fh:
            data = json.load(fh)
    except (OSError, ValueError):
        return {}
    out = {}
    for k, spec in data.items():
        exporter, sid, tid = k.rsplit("|", 2)
        out[(exporter, int(sid), int(tid))] = spec
    return out


def decode_any_twophase(
    datagrams: DataFrame,
    parallelism: int | None = None,
    seed_templates: dict | None = None,
    templates_file: str | None = None,
    pre_checks: bool = False,
) -> DataFrame:
    """Version-dispatch decode with a pre-learned broadcast template
    cache: no partitioning contract, parallelism = input partitions
    (or ``parallelism`` round-robin if given). v5 needs no templates
    and rides along unchanged.

    ``seed_templates`` merges under the capture's own definitions
    (in-capture wins); ``templates_file`` persists the merged cache
    after learning — together the nfacctd_templates_file cycle."""
    cache = {**(seed_templates or {}), **learn_template_cache(datagrams)}
    if templates_file:
        save_templates_file(cache, templates_file)
    if parallelism:
        datagrams = datagrams.repartition(parallelism)
    return decode_any(datagrams, seed_templates=cache, pre_checks=pre_checks)


# ---------------------------------------------------------------------------
# IPFIX (NetFlow v10)
# ---------------------------------------------------------------------------

V10_HEADER_FMT = "!HHIII"  # 16 bytes: ver, length, export_time, seqno, domain


def _v10_packet(
    exporter: str,
    payload: bytes,
    templates: dict[tuple[str, int, int], list[tuple[int, int]]],
    compiled: dict | None = None,
    want: str = "flows",
    customs: dict | None = None,
    opt_scope_check: bool = True,
    pre_checks: bool = False,
) -> list[dict]:
    """IPFIX decode (process_v9_packet handles v10 too, reference
    src/nfacctd.c:1806): 16-byte header, template set id 2, enterprise
    IEs (high bit) carry a 4-byte PEN after the length."""
    if len(payload) < 16:
        return []
    ver, _length, _etime, seqno, domain = struct.unpack_from(
        V10_HEADER_FMT, payload, 0
    )
    if ver != 10:
        return []
    out: list[dict] = []
    off = 16
    while off + 4 <= len(payload):
        set_id, set_len = struct.unpack_from("!HH", payload, off)
        if set_len < 4:
            break
        body = payload[off + 4 : off + set_len]
        off += set_len
        if set_id == 2:  # template set
            p = 0
            while p + 4 <= len(body):
                tid, nfields = struct.unpack_from("!HH", body, p)
                p += 4
                fields = []
                for _ in range(nfields):
                    if p + 4 > len(body):
                        break
                    ie, ln = struct.unpack_from("!HH", body, p)
                    p += 4
                    if ie & 0x8000:  # enterprise IE: 4-byte PEN
                        # follows; key as (pen << 16) | ie so vendor
                        # IEs can never alias standard columns
                        if p + 4 > len(body):
                            break  # truncated PEN: drop, don't raise
                        pen = struct.unpack_from("!I", body, p)[0]
                        p += 4
                        ie = (pen << 16) | (ie & 0x7FFF)
                    fields.append((ie, ln))
                templates[(exporter, domain, tid)] = ("data", fields)
                if compiled is not None:
                    compiled.pop((exporter, domain, tid), None)
                    compiled.pop(("ext", (exporter, domain, tid)), None)
        elif set_id == 3:  # options template set (RFC 7011 §3.4.2.2;
            # reference dispatch fid==3, src/nfacctd.c:1965): tid,
            # total field count, SCOPE field count; scope field specs
            # first, then option field specs
            p = 0
            while p + 6 <= len(body):
                tid, nfields, nscope = struct.unpack_from("!HHH", body, p)
                p += 6
                if tid < 256:
                    break
                scope_fields, option_fields = [], []
                for k in range(nfields):
                    if p + 4 > len(body):
                        break
                    ie, ln = struct.unpack_from("!HH", body, p)
                    p += 4
                    if ie & 0x8000:
                        # key enterprise options IEs exactly like
                        # data-template fields: (pen << 16) | ie, so a
                        # vendor IE (e.g. pen X, ie 48) can never
                        # alias a standard OPT_IE_COLUMNS entry
                        if p + 4 > len(body):
                            break  # truncated PEN: drop, don't raise
                        pen = struct.unpack_from("!I", body, p)[0]
                        p += 4
                        ie = (pen << 16) | (ie & 0x7FFF)
                    (scope_fields if k < nscope else option_fields).append(
                        (ie, ln)
                    )
                templates[(exporter, domain, tid)] = (
                    "options", scope_fields, option_fields,
                )
        elif set_id >= 256:
            entry = templates.get((exporter, domain, set_id))
            if entry is None:
                continue
            # legacy plain-list entries (pre-tagged caches) decode as data
            kind = entry[0] if entry and entry[0] in ("data", "options") else "data"
            if kind == "options":
                if want == "options":
                    if _sampling_scope_ok(
                        entry[1], entry[2], 10, opt_scope_check
                    ):
                        out.extend(
                            _decode_option_records(
                                body, entry[1], entry[2], exporter, seqno
                            )
                        )
                elif want == "opt_data":
                    out.extend(
                        _decode_option_records_custom(
                            body, entry[1], entry[2], exporter, seqno,
                            customs,
                        )
                    )
                continue
            if want != "flows":
                continue
            tmpl = entry[1] if kind == "data" and entry[0] == "data" else entry
            if _tmpl_is_ext(tmpl) or (
                customs and any(k in customs for k, _ in tmpl)
            ):
                out.extend(
                    _decode_ext_records(
                        body, tmpl, exporter, seqno, customs=customs,
                        compiled=compiled,
                        tmpl_key=(exporter, domain, set_id),
                    )
                )
                continue
            rec_len = sum(ln for _, ln in tmpl)
            if rec_len == 0:
                continue
            if pre_checks and _malformed_padding(body, rec_len):
                # nfacctd_pre_processing_checks (CONFIG-KEYS:2221;
                # dry-run at src/nfacctd.c:2478-2520): a data flowset
                # whose trailing padding holds non-zero bytes is
                # garbage (wrong template / buggy router) — discard
                # the WHOLE flowset rather than misparse it
                continue
            if compiled is not None:
                k3 = (exporter, domain, set_id)
                comp = compiled.get(k3, "absent")
                if comp == "absent":
                    comp = _compile_tmpl(tmpl)
                    compiled[k3] = comp
                if comp is not None:
                    import numpy as np

                    dt, colmap = comp
                    n = len(body) // dt.itemsize
                    if n:
                        out.append(
                            (
                                "__arr__", exporter, seqno,
                                (k3, dt, colmap),
                                colmap,
                                np.frombuffer(body, dtype=dt, count=n),
                            )
                        )
                    continue
            p = 0
            while p + rec_len <= len(body):
                rec = {"exporter_ip": exporter, "seqno": seqno}
                for ie, ln in tmpl:
                    col = V9_IE_COLUMNS.get(ie)
                    if col is not None:
                        rec[col] = _uint(body[p : p + ln])
                    p += ln
                out.append(rec)
    return out


def decode_any(
    datagrams: DataFrame,
    seed_templates: dict | None = None,
    pre_checks: bool = False,
    time_secs: bool = False,
    by: str | None = None,
) -> DataFrame:
    """Version-dispatch decoder: v5 / v9 / IPFIX datagrams mixed on one
    socket (reference src/nfacctd.c:1649-1654). Same partition contract
    as decode_v9.

    ``seed_templates`` pre-populates every partition's template cache
    (broadcast) — the restart path of the reference's
    nfacctd_templates_file (CONFIG-KEYS:2040): data records whose
    templates were learned in a PREVIOUS run decode immediately
    instead of dropping until the next template refresh. In-stream
    definitions still overwrite seeds (fresher wins). ``by`` names a
    datagram column every decoded row carries along."""
    seeded = _seeded(datagrams, seed_templates)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        templates = seeded()
        compiled: dict = {}
        cols = [f.name for f in FLOW_SCHEMA.fields]

        def flows(pdf: pd.DataFrame) -> pd.DataFrame:
            items: list = []
            acc = _V5Acc(time_secs=time_secs)
            for exporter, payload in zip(pdf["exporter_ip"], pdf["payload"]):
                b = bytes(payload)
                ver = int.from_bytes(b[:2], "big") if len(b) >= 2 else 0
                if ver == 5:
                    acc.scan(exporter, b)
                elif ver == 9:
                    items.extend(
                        _v9_packet(
                            exporter, b, templates, compiled=compiled,
                            pre_checks=pre_checks,
                        )
                    )
                elif ver == 10:
                    items.extend(
                        _v10_packet(
                            exporter, b, templates, compiled=compiled,
                            pre_checks=pre_checks,
                        )
                    )
            frame = _flow_frame(items, cols)
            v5f = acc.frame(cols)
            if v5f is not None:
                frame = (
                    pd.concat([frame, v5f], ignore_index=True)
                    if len(frame)
                    else v5f
                )
                for c in cols:
                    if frame[c].dtype == "float64":
                        frame[c] = frame[c].astype("Int64")
            return frame

        yield from _per_tag(batches, by, flows)

    return datagrams.mapInPandas(
        gen, _tagged_schema(FLOW_SCHEMA, datagrams, by)
    )


# Extended flow schema: dual-stack + vlen surface. String columns are
# the canonical uncompressed v6 form / utf-8 vlen payloads.
FLOW6_SCHEMA = T.StructType(
    list(FLOW_SCHEMA.fields)
    + [
        T.StructField("ip6_src", T.StringType()),
        T.StructField("ip6_dst", T.StringType()),
        T.StructField("ip6_nexthop", T.StringType()),
        T.StructField("ip_nexthop_i", T.LongType()),
        T.StructField("bgp_nexthop_i", T.LongType()),
        T.StructField("mask6_src", T.IntegerType()),
        T.StructField("mask6_dst", T.IntegerType()),
        T.StructField("flow_label", T.LongType()),
        T.StructField("vrf_name", T.StringType()),
        T.StructField("vxlan", T.LongType()),
        T.StructField("nvgre", T.LongType()),
        T.StructField("post_nat_ip_src_i", T.LongType()),
        T.StructField("post_nat_ip_dst_i", T.LongType()),
        T.StructField("post_nat_port_src", T.IntegerType()),
        T.StructField("post_nat_port_dst", T.IntegerType()),
        T.StructField("nat_event", T.IntegerType()),
        T.StructField("mpls_label_top", T.LongType()),
        T.StructField("mpls_label_bottom", T.LongType()),
        T.StructField("mac_src", T.StringType()),
        T.StructField("mac_dst", T.StringType()),
        T.StructField("vlan", T.LongType()),
        T.StructField("etype", T.LongType()),
        T.StructField("srv6_seg_ipv6_list", T.StringType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("end_ts_us", T.LongType()),
        T.StructField("direction", T.IntegerType()),
    ]
)

_FLOW6_STR_COLS = frozenset(
    f.name for f in FLOW6_SCHEMA.fields if isinstance(f.dataType, T.StringType)
) - {"exporter_ip"}


def decode_any_custom(
    datagrams: DataFrame, customs: list[CustomIE]
) -> DataFrame:
    """Version-dispatch decode with user-declared custom primitives
    appended as typed columns (aggregate_primitives map on the wire:
    reference src/cfg.h:45-63, CONFIG-KEYS:174-181). Output schema =
    FLOW6_SCHEMA + one column per custom (u_int -> bigint, everything
    else -> string)."""
    cmap = {c.key: c for c in customs}
    fields = list(FLOW6_SCHEMA.fields)
    str_cols = set(_FLOW6_STR_COLS)
    for c in customs:
        if c.semantics == "u_int":
            fields.append(T.StructField(c.name, T.LongType()))
        else:
            fields.append(T.StructField(c.name, T.StringType()))
            str_cols.add(c.name)
    schema = T.StructType(fields)
    frozen_str = frozenset(str_cols)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        templates: dict = {}
        compiled: dict = {}
        cols = [f.name for f in schema.fields]
        for pdf in batches:
            items = _v9_v10_records(
                pdf, templates, compiled=compiled, customs=cmap
            )
            yield _flow_frame(items, cols, str_cols=frozen_str)

    return datagrams.mapInPandas(gen, schema)


def decode_options(
    datagrams: DataFrame,
    opt_scope_check: bool = True,
    seed_templates: dict | None = None,
    by: str | None = None,
) -> DataFrame:
    """Decode options-DATA records (sampling exposition: sampler id /
    rate / interval keyed by scope) from v9 datagrams (options template
    set id 1) and IPFIX (set id 3) — the reference's tests/104-*
    sampling-options path (options dispatch src/nfacctd.c:1965).
    Same partition contract as decode_v9 (stateful template cache).

    ``opt_scope_check=False`` is nfacctd_disable_opt_scope_check
    (CONFIG-KEYS:2206): sampling-exposition records from templates NOT
    scoped to the System level (buggy/non-standard exporters) are then
    accepted as if system-scoped instead of dropped.

    ``seed_templates`` pre-populates every partition's template cache
    and ``by`` is carried along, as in :func:`decode_any`."""
    seeded = _seeded(datagrams, seed_templates)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        templates = seeded()
        cols = [f.name for f in OPTIONS_SCHEMA.fields]

        def options(pdf: pd.DataFrame) -> pd.DataFrame:
            rows = _v9_v10_records(
                pdf, templates, want="options", opt_scope_check=opt_scope_check
            )
            return pd.DataFrame(
                [[r.get(c) for c in cols] for r in rows], columns=cols
            )

        yield from _per_tag(batches, by, options)

    return datagrams.mapInPandas(
        gen, _tagged_schema(OPTIONS_SCHEMA, datagrams, by)
    )


def decode_any_ext(datagrams: DataFrame) -> DataFrame:
    """Version-dispatch decoder with the EXTENDED output schema
    (FLOW6_SCHEMA): v5 / v9 / IPFIX mixed, IPv6 + vlen IEs surfaced as
    columns. Dual-stack collection is the reference's day-one reality
    (src/nfacctd.c:1649-1654 + IE tables src/nfv9_template.c:1179)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        templates: dict[tuple[str, int, int], list[tuple[int, int]]] = {}
        compiled: dict = {}
        cols = [f.name for f in FLOW6_SCHEMA.fields]
        for pdf in batches:
            items: list = []
            acc = _V5Acc()
            for exporter, payload in zip(pdf["exporter_ip"], pdf["payload"]):
                b = bytes(payload)
                ver = int.from_bytes(b[:2], "big") if len(b) >= 2 else 0
                if ver == 5:
                    acc.scan(exporter, b)
                elif ver == 9:
                    items.extend(
                        _v9_packet(exporter, b, templates, compiled=compiled)
                    )
                elif ver == 10:
                    items.extend(
                        _v10_packet(exporter, b, templates, compiled=compiled)
                    )
            frame = _flow_frame(items, cols, str_cols=_FLOW6_STR_COLS)
            v5f = acc.frame([f.name for f in FLOW_SCHEMA.fields])
            if v5f is not None:
                for c in cols:
                    if c not in v5f.columns:
                        v5f[c] = (
                            pd.Series([None] * len(v5f), dtype=object)
                            if c in _FLOW6_STR_COLS
                            else null_int64(len(v5f))
                        )
                frame = (
                    pd.concat([frame, v5f[cols]], ignore_index=True)
                    if len(frame)
                    else v5f[cols]
                )
                import numpy as np

                for c in cols:
                    if frame[c].dtype == np.float64:
                        if c in _FLOW6_STR_COLS:
                            frame[c] = frame[c].astype(object).where(
                                frame[c].notna(), None
                            )
                        else:
                            frame[c] = frame[c].astype("Int64")
            yield frame

    return datagrams.mapInPandas(gen, FLOW6_SCHEMA)


# ---------------------------------------------------------------------------
# sFlow v5 (flow samples with raw packet headers)
# ---------------------------------------------------------------------------

def _sflow_parse_raw_header(
    hdr: bytes, unknown_etype: bool = False
) -> dict | None:
    """Ethernet [+ 802.1Q] -> IPv4/IPv6 -> TCP/UDP dissection of a
    sampled header (reference sfacctd feeds the same L2 parse as
    pmacctd: eth_handler src/ll.c:29 incl. VLAN walk, ip_handler /
    ip6_handler src/nl.c). The Ethernet MACs and final EtherType are
    always surfaced (sfacctd's src_mac/dst_mac/etype primitives).
    ``unknown_etype=True`` is aggregate_unknown_etype
    (CONFIG-KEYS:205): in sfacctd it only makes ARP frames (0x0806)
    pass through, aggregable by the L2 header fields — other
    undecodable EtherTypes stay dropped, as in the reference."""
    if len(hdr) < 14:
        return None
    mac_dst = ":".join(f"{b:02x}" for b in hdr[0:6])
    mac_src = ":".join(f"{b:02x}" for b in hdr[6:12])
    ethertype = int.from_bytes(hdr[12:14], "big")
    off = 14
    vlan = 0
    while ethertype in (0x8100, 0x88A8) and len(hdr) >= off + 4:
        if vlan == 0:  # outermost tag wins (reference vlan_handler)
            vlan = int.from_bytes(hdr[off : off + 2], "big") & 0x0FFF
        ethertype = int.from_bytes(hdr[off + 2 : off + 4], "big")
        off += 4
    l2 = {
        "mac_src": mac_src,
        "mac_dst": mac_dst,
        "etype": ethertype,
        "vlan": vlan,
    }
    if unknown_etype and ethertype == 0x0806:  # ARP pass-through
        return {
            **l2,
            "tos": 0,
            "ip_proto": 0,
            "ip_src_i": 0,
            "ip_dst_i": 0,
            "port_src": 0,
            "port_dst": 0,
            "tcp_flags": 0,
        }
    if ethertype == 0x0800:
        ip = hdr[off:]
        if len(ip) < 20:
            return None
        ihl = (ip[0] & 0x0F) * 4
        proto = ip[9]
        rec = {
            **l2,
            "tos": ip[1],
            "ip_proto": proto,
            "ip_src_i": int.from_bytes(ip[12:16], "big"),
            "ip_dst_i": int.from_bytes(ip[16:20], "big"),
            "port_src": 0,
            "port_dst": 0,
            "tcp_flags": 0,
        }
        l4 = ip[ihl:]
    elif ethertype == 0x86DD:
        ip6 = hdr[off:]
        if len(ip6) < 40:
            return None
        vtc_fl = int.from_bytes(ip6[0:4], "big")
        proto = ip6[6]  # next header (no extension-header walk)
        rec = {
            **l2,
            "tos": (vtc_fl >> 20) & 0xFF,  # traffic class
            "ip_proto": proto,
            "ip_src_i": 0,
            "ip_dst_i": 0,
            "ip6_src": _fmt_v6(ip6[8:24]),
            "ip6_dst": _fmt_v6(ip6[24:40]),
            "port_src": 0,
            "port_dst": 0,
            "tcp_flags": 0,
        }
        l4 = ip6[40:]
    else:
        return None  # non-IP: out of scope
    if proto in (6, 17) and len(l4) >= 4:
        rec["port_src"] = int.from_bytes(l4[0:2], "big")
        rec["port_dst"] = int.from_bytes(l4[2:4], "big")
        if proto == 6 and len(l4) >= 14:
            rec["tcp_flags"] = l4[13]
    return rec


def _sflow_agent(payload: bytes, off: int = 4):
    """sFlow header agent address: (ip_version, agent string or None,
    offset past the address). Address type 1 = 4-byte IPv4, type 2 =
    16-byte IPv6 (rendered canonically) — the reference's getAddress
    walk (src/sfacctd.c)."""
    ipver = struct.unpack_from("!I", payload, off)[0]
    if ipver == 1:
        b = payload[off + 4 : off + 8]
        return ipver, (socket.inet_ntoa(b) if any(b) else None), off + 8
    if ipver == 2:
        b = payload[off + 4 : off + 20]
        return (
            ipver,
            (socket.inet_ntop(socket.AF_INET6, b) if any(b) else None),
            off + 20,
        )
    return ipver, None, off + 4


def _sflow_datagram(
    exporter: str,
    payload: bytes,
    use_agent: bool = True,
    unknown_etype: bool = False,
) -> list[dict]:
    if len(payload) < 28:
        return []
    ver = struct.unpack_from("!I", payload, 0)[0]
    if ver != 5:
        return []
    ipver, agent, base = _sflow_agent(payload, 4)
    if ipver not in (1, 2) or len(payload) < base + 16:
        return []
    if use_agent and agent:
        # sFlow Agent Address IS the exporter identity by default
        # (CONFIG-KEYS:2213: 'all sFlow implementations do send Agent
        # Address and that is used by default'); type 2 carries an
        # IPv6 agent; sfacctd_ignore_exporter_address keeps the
        # socket address
        exporter = agent
    _sub, seqno, _uptime, nsamples = struct.unpack_from(
        "!IIII", payload, base
    )
    out: list[dict] = []
    off = base + 16
    for _ in range(nsamples):
        if off + 8 > len(payload):
            break
        stype, slen = struct.unpack_from("!II", payload, off)
        body = payload[off + 8 : off + 8 + slen]
        off += 8 + slen
        if stype == 1 and len(body) >= 32:  # flow sample
            (_sseq, _src_id, rate, _pool, _drops, s_in, s_out, nrec) = (
                struct.unpack_from("!IIIIIIII", body, 0)
            )
            p = 32
        elif stype == 3 and len(body) >= 44:  # EXPANDED flow sample:
            # (seq, src_type, src_idx, rate, pool, drops,
            #  in_format, in_value, out_format, out_value, nrec)
            (
                _sseq, _st, _sidx, rate, _pool, _drops,
                _inf, s_in, _outf, s_out, nrec,
            ) = struct.unpack_from("!IIIIIIIIIII", body, 0)
            p = 44
        else:
            continue
        for _ in range(nrec):
            if p + 8 > len(body):
                break
            rtype, rlen = struct.unpack_from("!II", body, p)
            rbody = body[p + 8 : p + 8 + rlen]
            p += 8 + rlen
            if rtype != 1 or len(rbody) < 16:  # raw packet header record
                continue
            _hproto, frame_len, _stripped, hlen = struct.unpack_from("!IIII", rbody, 0)
            parsed = _sflow_parse_raw_header(
                rbody[16 : 16 + hlen], unknown_etype=unknown_etype
            )
            if parsed is None:
                continue
            parsed.update(
                exporter_ip=exporter,
                seqno=seqno,
                bytes=frame_len,
                packets=1,
                iface_in=s_in,
                iface_out=s_out,
                as_src=0,
                as_dst=0,
                ts_ms=None,
                end_ts_ms=None,
                sampling_rate=rate,
            )
            out.append(parsed)
    return out


# note: StructType.add mutates in place — build a fresh copy
SFLOW_SCHEMA = T.StructType(
    list(FLOW_SCHEMA.fields)
    + [
        T.StructField("sampling_rate", T.LongType()),
        T.StructField("vlan", T.IntegerType()),
        T.StructField("ip6_src", T.StringType()),
        T.StructField("ip6_dst", T.StringType()),
        T.StructField("mac_src", T.StringType()),
        T.StructField("mac_dst", T.StringType()),
        T.StructField("etype", T.LongType()),
    ]
)

# ---------------------------------------------------------------------------
# sFlow counter samples + v2/v4 dispatch (reference version dispatch and
# counter-sample processing src/sfacctd.c:1438,1578-1581; interface
# counters are half of sFlow's operational value)
# ---------------------------------------------------------------------------

SFLOW_COUNTER_SCHEMA = T.StructType(
    [
        T.StructField("exporter_ip", T.StringType()),
        T.StructField("seqno", T.LongType()),
        T.StructField("sflow_version", T.IntegerType()),
        T.StructField("source_id", T.LongType()),
        T.StructField("if_index", T.LongType()),
        T.StructField("if_type", T.LongType()),
        T.StructField("if_speed", T.LongType()),
        T.StructField("if_status", T.LongType()),
        T.StructField("if_in_octets", T.LongType()),
        T.StructField("if_in_ucast", T.LongType()),
        T.StructField("if_in_errors", T.LongType()),
        T.StructField("if_out_octets", T.LongType()),
        T.StructField("if_out_ucast", T.LongType()),
        T.StructField("if_out_errors", T.LongType()),
    ]
)

# generic interface counters block (sFlow v5 counter record enterprise
# 0 format 1; identical layout inline in v2/v4): 88 bytes
_GEN_COUNTERS = struct.Struct("!IIQIIQIIIIIIQIIIIII")
assert _GEN_COUNTERS.size == 88


def _gen_counters_row(
    blob: bytes, exporter: str, seqno: int, ver: int, source_id: int
) -> dict | None:
    if len(blob) < _GEN_COUNTERS.size:
        return None
    (
        if_index, if_type, if_speed, _if_dir, if_status,
        in_oct, in_ucast, _in_mc, _in_bc, _in_disc, in_err, _in_unk,
        out_oct, out_ucast, _out_mc, _out_bc, _out_disc, out_err,
        _promisc,
    ) = _GEN_COUNTERS.unpack_from(blob, 0)
    return {
        "exporter_ip": exporter, "seqno": seqno, "sflow_version": ver,
        "source_id": source_id, "if_index": if_index, "if_type": if_type,
        "if_speed": if_speed, "if_status": if_status,
        "if_in_octets": in_oct, "if_in_ucast": in_ucast,
        "if_in_errors": in_err, "if_out_octets": out_oct,
        "if_out_ucast": out_ucast, "if_out_errors": out_err,
    }


def _sflow_v5_counter_sample(
    body: bytes, expanded: bool, exporter: str, seqno: int
) -> list[dict]:
    """v5 counter sample (type 2) / expanded counter sample (type 4):
    sample seq + source id (+type split when expanded) + counted
    records, each (tag, len, body); generic counters = tag 1."""
    out: list[dict] = []
    if expanded:
        if len(body) < 16:
            return out
        _sseq, _st, sidx, nrec = struct.unpack_from("!IIII", body, 0)
        p, source_id = 16, sidx
    else:
        if len(body) < 12:
            return out
        _sseq, source_id, nrec = struct.unpack_from("!III", body, 0)
        p = 12
    for _ in range(nrec):
        if p + 8 > len(body):
            break
        rtag, rlen = struct.unpack_from("!II", body, p)
        rbody = body[p + 8 : p + 8 + rlen]
        p += 8 + rlen
        if rtag == 1:
            row = _gen_counters_row(rbody, exporter, seqno, 5, source_id)
            if row:
                out.append(row)
    return out


def _sflow_v2v4_samples(
    exporter: str, payload: bytes, use_agent: bool = True
) -> tuple[list[dict], list[dict]]:
    """sFlow v2/v4 datagram walk (RFC 3176 layout; reference
    readv2v4FlowSample / readv2v4CountersSample, src/sfacctd.c:1578).
    v2/v4 samples carry NO length field, so both sample kinds must be
    parsed to advance the cursor. Returns (flow_rows, counter_rows)."""
    flows: list[dict] = []
    counters: list[dict] = []
    if len(payload) < 24:
        return flows, counters
    ver = struct.unpack_from("!I", payload, 0)[0]
    if ver not in (2, 4):
        return flows, counters
    ipver, agent, base = _sflow_agent(payload, 4)
    if ipver not in (1, 2) or len(payload) < base + 12:
        return flows, counters
    if use_agent and agent:
        exporter = agent
    seqno, _uptime, nsamples = struct.unpack_from("!III", payload, base)
    off = base + 12
    for _ in range(nsamples):
        if off + 4 > len(payload):
            break
        stype = struct.unpack_from("!I", payload, off)[0]
        off += 4
        if stype == 1:  # flow sample
            if off + 32 > len(payload):
                break
            (_sseq, _src, rate, _pool, _drops, s_in, s_out, pdt) = (
                struct.unpack_from("!IIIIIIII", payload, off)
            )
            off += 32
            if pdt != 1:  # only HEADER packet data supported
                break
            if off + 12 > len(payload):
                break
            _hproto, frame_len, hlen = struct.unpack_from("!III", payload, off)
            off += 12
            hdr = payload[off : off + hlen]
            off += hlen + ((-hlen) % 4)
            if off + 4 > len(payload):
                break
            n_ext = struct.unpack_from("!I", payload, off)[0]
            off += 4
            if n_ext:  # extended records not length-framed: stop walk
                break
            parsed = _sflow_parse_raw_header(hdr)
            if parsed is not None:
                parsed.update(
                    exporter_ip=exporter, seqno=seqno, bytes=frame_len,
                    packets=1, iface_in=s_in, iface_out=s_out,
                    as_src=0, as_dst=0, ts_ms=None, end_ts_ms=None,
                    sampling_rate=rate,
                )
                flows.append(parsed)
        elif stype == 2:  # counter sample
            if off + 16 > len(payload):
                break
            _sseq, source_id, _interval, cver = struct.unpack_from(
                "!IIII", payload, off
            )
            off += 16
            if cver != 1:  # only GENERIC counters supported
                break
            row = _gen_counters_row(
                payload[off : off + _GEN_COUNTERS.size],
                exporter, seqno, ver, source_id,
            )
            off += _GEN_COUNTERS.size
            if row:
                counters.append(row)
        else:
            break
    return flows, counters


def _sflow_datagram_counters(exporter: str, payload: bytes) -> list[dict]:
    """Counter rows from a v2/v4/v5 sFlow datagram."""
    if len(payload) < 8:
        return []
    ver = struct.unpack_from("!I", payload, 0)[0]
    if ver in (2, 4):
        return _sflow_v2v4_samples(exporter, payload)[1]
    if ver != 5:
        return []
    ipver, _agent, base = _sflow_agent(payload, 4)
    if ipver not in (1, 2) or len(payload) < base + 16:
        return []
    seqno = struct.unpack_from("!I", payload, base + 4)[0]
    nsamples = struct.unpack_from("!I", payload, base + 12)[0]
    out: list[dict] = []
    off = base + 16
    for _ in range(nsamples):
        if off + 8 > len(payload):
            break
        stype, slen = struct.unpack_from("!II", payload, off)
        body = payload[off + 8 : off + 8 + slen]
        off += 8 + slen
        if stype in (2, 4):
            out.extend(
                _sflow_v5_counter_sample(body, stype == 4, exporter, seqno)
            )
    return out


def decode_sflow_counters(
    datagrams: DataFrame, by: str | None = None
) -> DataFrame:
    """Decode sFlow counter samples (generic interface counters) from
    v2/v4/v5 datagrams into per-interface counter rows. ``by`` is
    carried along, as in :func:`decode_any`."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in SFLOW_COUNTER_SCHEMA.fields]

        def counters(pdf: pd.DataFrame) -> pd.DataFrame:
            rows: list[dict] = []
            for exporter, payload in zip(pdf["exporter_ip"], pdf["payload"]):
                rows.extend(_sflow_datagram_counters(exporter, bytes(payload)))
            return pd.DataFrame(
                [[r.get(c) for c in cols] for r in rows], columns=cols
            )

        yield from _per_tag(batches, by, counters)

    return datagrams.mapInPandas(
        gen, _tagged_schema(SFLOW_COUNTER_SCHEMA, datagrams, by)
    )


def decode_sflow_any(
    datagrams: DataFrame,
    use_agent: bool = True,
    unknown_etype: bool = False,
    by: str | None = None,
) -> DataFrame:
    """Flow samples from v2/v4/v5 sFlow datagrams (version dispatch,
    reference src/sfacctd.c:1438): v5 goes through the v5 walker, v2/v4
    through the RFC 3176 walker. Same output schema as decode_sflow5.
    ``use_agent=False`` is sfacctd_ignore_exporter_address
    (CONFIG-KEYS:2213): keep the socket address instead of the sFlow
    Agent Address. ``by`` is carried along, as in :func:`decode_any`."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in SFLOW_SCHEMA.fields]

        def samples(pdf: pd.DataFrame) -> pd.DataFrame:
            rows: list[dict] = []
            for exporter, payload in zip(pdf["exporter_ip"], pdf["payload"]):
                b = bytes(payload)
                if len(b) >= 4 and struct.unpack_from("!I", b, 0)[0] in (2, 4):
                    rows.extend(
                        _sflow_v2v4_samples(exporter, b, use_agent)[0]
                    )
                else:
                    rows.extend(
                        _sflow_datagram(
                            exporter, b, use_agent,
                            unknown_etype=unknown_etype,
                        )
                    )
            return pd.DataFrame(
                [[r.get(c) for c in cols] for r in rows], columns=cols
            )

        yield from _per_tag(batches, by, samples)

    return datagrams.mapInPandas(
        gen, _tagged_schema(SFLOW_SCHEMA, datagrams, by)
    )


def decode_sflow5(
    datagrams: DataFrame, unknown_etype: bool = False
) -> DataFrame:
    """Decode sFlow v5 flow samples (raw-header records) into flow rows
    carrying the sample's sampling_rate for renormalization.
    ``unknown_etype`` is aggregate_unknown_etype (CONFIG-KEYS:205):
    ARP frames pass through as L2-only rows."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in SFLOW_SCHEMA.fields]
        for pdf in batches:
            rows: list[dict] = []
            for exporter, payload in zip(pdf["exporter_ip"], pdf["payload"]):
                rows.extend(
                    _sflow_datagram(
                        exporter, bytes(payload),
                        unknown_etype=unknown_etype,
                    )
                )
            yield pd.DataFrame(
                [[r.get(c) for c in cols] for r in rows], columns=cols
            )

    return datagrams.mapInPandas(gen, SFLOW_SCHEMA)


def has_template_set(b: bytes) -> bool:
    """True when a v9/IPFIX datagram carries at least one template or
    options-template set (v9 set ids 0/1, IPFIX 2/3) — the datagrams
    nfacctd_templates_receiver forwards to a replicator (reference
    CONFIG-KEYS nfacctd_templates_receiver). Bounded set walk; v5 and
    malformed datagrams are False."""
    if len(b) < 4:
        return False
    ver = int.from_bytes(b[:2], "big")
    if ver == 9:
        off, tmpl_ids = 20, (0, 1)
    elif ver == 10:
        off, tmpl_ids = 16, (2, 3)
    else:
        return False
    n = len(b)
    while off + 4 <= n:
        set_id = int.from_bytes(b[off : off + 2], "big")
        set_len = int.from_bytes(b[off + 2 : off + 4], "big")
        if set_len < 4:
            return False
        if set_id in tmpl_ids:
            return True
        off += set_len
    return False
