"""Seeded inputs and golden aggregates for the collector benchmark.

Everything here is plain numpy/pandas: the program under test receives
only the bytes written to its spool or sent to its sockets, and the
golden aggregates are computed independently from the same arrays.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd

# NetFlow v9 template shared by every replay exporter:
# srcaddr dstaddr bytes packets proto l4_src_port l4_dst_port input_snmp
V9_FIELDS = [(8, 4), (12, 4), (1, 4), (2, 4), (4, 1), (7, 2), (11, 2), (10, 2)]
V9_REC = np.dtype(
    [("src", ">u4"), ("dst", ">u4"), ("bytes", ">u4"), ("pkts", ">u4"),
     ("proto", "u1"), ("sport", ">u2"), ("dport", ">u2"), ("iface", ">u2")]
)
V9_TID = 300
UNIX_SECS = 1_700_000_000
SYSUPTIME = 1_000_000
PORTS = np.array([80, 443, 53, 123, 22, 25, 8080, 3306, 5432, 6379,
                  179, 161, 514, 993, 995, 1194, 5060, 8443, 9092, 27017])
PROTO_NAME = {6: "tcp", 17: "udp", 1: "icmp"}


def ntoa(a: np.ndarray) -> np.ndarray:
    a = np.asarray(a, dtype=np.uint64)
    parts = [(a >> s) & 255 for s in (24, 16, 8, 0)]
    return np.char.add(
        np.char.add(np.char.add(parts[0].astype(str), "."),
                    np.char.add(parts[1].astype(str), ".")),
        np.char.add(np.char.add(parts[2].astype(str), "."),
                    parts[3].astype(str)),
    ).astype(object)


def flows(rng: np.random.Generator, n: int, exporters: list[str],
          pairs: int = 20_000, hosts: int = 4_000,
          dst_base: int = 0x0A000000, dst_span: int = 1 << 24) -> pd.DataFrame:
    """``n`` flow records whose (src, dst) host pairs follow a Zipf(1.1)
    rank distribution over ``pairs`` distinct pairs."""
    src_pool = 0xC0A80000 + rng.choice(1 << 16, hosts, replace=False)
    dst_pool = dst_base + rng.choice(dst_span, hosts, replace=False)
    pair_src = rng.integers(0, hosts, pairs)
    pair_dst = rng.integers(0, hosts, pairs)
    w = 1.0 / np.arange(1, pairs + 1) ** 1.1
    pick = rng.choice(pairs, n, p=w / w.sum())
    pkts = rng.integers(1, 64, n)
    return pd.DataFrame({
        "exporter": np.array(exporters, dtype=object)[
            rng.integers(0, len(exporters), n)],
        "src": src_pool[pair_src[pick]].astype(np.uint32),
        "dst": dst_pool[pair_dst[pick]].astype(np.uint32),
        "bytes": (pkts * rng.integers(40, 1500, n)).astype(np.uint32),
        "pkts": pkts.astype(np.uint32),
        "proto": rng.choice([6, 17, 1], n, p=[0.7, 0.25, 0.05]).astype(np.uint8),
        "sport": rng.integers(1024, 65535, n).astype(np.uint16),
        "dport": PORTS[rng.integers(0, len(PORTS), n)].astype(np.uint16),
        "iface": rng.integers(1, 9, n).astype(np.uint16),
    })


def _v9_template() -> bytes:
    body = struct.pack("!HH", V9_TID, len(V9_FIELDS)) + b"".join(
        struct.pack("!HH", ie, ln) for ie, ln in V9_FIELDS)
    return struct.pack("!HH", 0, 4 + len(body)) + body


def v9_datagrams(fl: pd.DataFrame, per_dgram: int = 30) -> list[tuple[str, bytes]]:
    """Per exporter: one template datagram, then data datagrams of
    ``per_dgram`` records; exporters interleave round-robin."""
    tmpl = _v9_template()
    streams = []
    for exp, g in fl.groupby("exporter", sort=True):
        recs = np.empty(len(g), V9_REC)
        for f in ("src", "dst", "bytes", "pkts", "proto", "sport", "dport", "iface"):
            recs[f] = g[f].to_numpy()
        raw = recs.tobytes()
        out = [(exp, struct.pack("!HHIIII", 9, 1, SYSUPTIME, UNIX_SECS, 0, 1) + tmpl)]
        for k, i in enumerate(range(0, len(g), per_dgram)):
            m = min(per_dgram, len(g) - i)
            body = raw[i * V9_REC.itemsize:(i + m) * V9_REC.itemsize]
            fs = struct.pack("!HH", V9_TID, 4 + len(body)) + body
            out.append((exp, struct.pack(
                "!HHIIII", 9, m, SYSUPTIME, UNIX_SECS, k + 1, 1) + fs))
        streams.append(out)
    merged = []
    for i in range(max(len(s) for s in streams)):
        merged.extend(s[i] for s in streams if i < len(s))
    return merged


def write_spool(spool_dir: str, dgrams: list[tuple[str, bytes]], per_file: int = 1000) -> int:
    """Cut datagrams into parquet files of the UdpSpool contract
    (exporter_ip, seqno, payload), ``per_file`` datagrams each."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(spool_dir, exist_ok=True)
    nfile = 0
    for i in range(0, len(dgrams), per_file):
        chunk = dgrams[i:i + per_file]
        pq.write_table(pa.table({
            "exporter_ip": [d[0] for d in chunk],
            "seqno": pa.array(range(i, i + len(chunk)), pa.int64()),
            "payload": pa.array([d[1] for d in chunk], pa.binary()),
        }), os.path.join(spool_dir, f"b{nfile:08d}.parquet"))
        nfile += 1
    return nfile


def group_sums(df: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    """Golden channel: per-key bytes/packets/flows."""
    return (df.groupby(keys, sort=False)
              .agg(bytes=("bytes", "sum"), packets=("pkts", "sum"),
                   flows=("bytes", "size"))
              .reset_index())


# -- BGP ----------------------------------------------------------------

def rib(rng: np.random.Generator, peers: list[str], routes: int) -> pd.DataFrame:
    """Per peer ``routes`` IPv4 prefixes inside 10.0.0.0/8: sixteen /12
    covers, then /16, /20 and /24 more-specifics, so longest-prefix
    match matters.
    Attributes are drawn per route."""
    rows = []
    for pi, peer in enumerate(peers):
        lens = rng.choice([16, 20, 24], routes, p=[0.2, 0.3, 0.5])
        addr = 0x0A000000 + rng.integers(0, 1 << 24, routes)
        net = (addr >> (32 - lens)) << (32 - lens)
        covers = np.arange(16, dtype=np.int64) << 20 | 0x0A000000
        df = pd.DataFrame({
            "net": np.concatenate([covers, net]).astype(np.int64),
            "len": np.concatenate([np.full(16, 12), lens]).astype(np.int64),
        }).drop_duplicates(["net", "len"], keep="first")
        k = len(df)
        df["peer"] = peer
        df["as_path"] = [
            f"{65000 + pi} {a} {b}" for a, b in zip(
                rng.integers(64512, 64612, k), rng.integers(1, 400, k))]
        df["std_comm"] = [f"{65000 + pi}:{c}" for c in rng.integers(1, 50, k)]
        df["local_pref"] = rng.choice([80, 100, 120, 200], k)
        rows.append(df)
    return pd.concat(rows, ignore_index=True)


def bgp_session(r: pd.DataFrame) -> bytes:
    """One peer's session bytes: an UPDATE per route."""
    from pmacct_spark.streaming.bmp import encode_bgp_update

    return b"".join(
        encode_bgp_update(int(n), int(ln), ap, local_pref=int(lp), std_comm=sc)
        for n, ln, ap, lp, sc in zip(r["net"], r["len"], r["as_path"],
                                     r["local_pref"], r["std_comm"]))


def lpm(dst: np.ndarray, nets: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Index into (nets, lens) of each address's longest matching
    prefix, -1 where none matches."""
    hit = np.full(len(dst), -1, np.int64)
    dst = dst.astype(np.int64)
    for ln in sorted(set(lens.tolist()), reverse=True):
        sel = np.flatnonzero(lens == ln)
        order = np.argsort(nets[sel])
        keys = nets[sel][order]
        want = (dst >> (32 - ln)) << (32 - ln)
        pos = np.clip(np.searchsorted(keys, want), 0, len(keys) - 1)
        found = (keys[pos] == want) & (hit < 0)
        hit[found] = sel[order[pos[found]]]
    return hit
