"""BGP Looking Glass — the reference's pmbgpd LG service
(src/bgp/bgp_lg.c: ``bgp_lg_daemon``, config keys bgp_daemon_lg /
bgp_daemon_lg_ip / bgp_daemon_lg_port; client examples/lg/pmbgp.py).

Protocol (reference bgp_lg_daemon_worker_json): a ZMQ REQ client
sends a JSON query header ``{"query_type": t, "queries": n}`` plus,
for ip_lookup, a data part ``{"ip_prefix": ..., "rd": ...}``; the
daemon replies with a results header ``{"results": N, "query_type":
t}`` (plus ``"text"`` on errors) followed by one JSON part per
matching route or peer. Routes are rendered with the same field
vocabulary as the msglog/dump events (the reference routes all three
through bgp_peer_log_msg, event_type "lglass").

Spark-side shape: the LG serves the daemon's live RIB — a bounded
dimension table (the same table every enrichment broadcast-joins), so
collecting it at the serving edge is the IMT-server pattern, not a
distributed-operator violation. Lookups walk the collected RIB with
plain longest-prefix matching per peer.

Transport: the ZMTP 3.0 ROUTER/REQ conversation over a real TCP
socket (sources/zmtp.py) — greeting, NULL READY handshake with
Socket-Type compatibility, empty-delimiter request/reply envelopes.
"""

from __future__ import annotations

import json

BGP_LG_QT_UNKNOWN = 0
BGP_LG_QT_IP_LOOKUP = 1
BGP_LG_QT_GET_PEERS = 2


def _v4_int(s: str) -> int:
    a, b, c, d = (int(x) for x in s.split("."))
    return (a << 24) | (b << 16) | (c << 8) | d


def _v6_int(s: str) -> int:
    """128-bit int of a v6 literal (compressed or full), for
    user-supplied query addresses."""
    import socket as _s

    return int.from_bytes(_s.inet_pton(_s.AF_INET6, s), "big")


def _v6_net_int(s: str) -> int:
    """128-bit int of the RIB's prefix6 rendering: masked hex nibbles
    grouped by 4 with ':' separators, possibly ending in a partial
    group or trailing ':' (the decoder renders only the masklen-covered
    nibbles). Remaining low bits are zero by construction."""
    nib = s.replace(":", "")
    if not nib:
        return 0
    return int(nib, 16) << (4 * (32 - len(nib)))


def _v4_str(i: int) -> str:
    return f"{(i >> 24) & 255}.{(i >> 16) & 255}.{(i >> 8) & 255}.{i & 255}"


def _route_json(row) -> bytes:
    """Render one RIB row with the msglog field vocabulary
    (event_type lglass, reference bgp_logdump.c:64)."""
    obj: dict = {"event_type": "lglass"}
    if row["prefix"] is not None:
        obj["ip_prefix"] = f"{_v4_str(int(row['prefix']))}/{row['masklen']}"
    elif row["prefix6"] is not None:
        obj["ip_prefix"] = f"{row['prefix6']}/{row['masklen']}"
    obj["peer_ip_src"] = row["peer_ip"]
    for src, dst in (
        ("as_path", "as_path"),
        ("std_comm", "comms"),
        ("ext_comm", "ecomms"),
        ("lrg_comm", "lcomms"),
        ("local_pref", "local_pref"),
        ("med", "med"),
        ("rd", "rd"),
        ("path_id", "as_path_id"),
    ):
        if src in row.__fields__ and row[src] is not None:
            obj[dst] = row[src]
    if row["next_hop"] is not None:
        obj["bgp_nexthop"] = _v4_str(int(row["next_hop"]))
    elif "next_hop6" in row.__fields__ and row["next_hop6"] is not None:
        obj["bgp_nexthop"] = row["next_hop6"]
    return json.dumps(obj).encode()


class LookingGlass:
    """ROUTER-bound LG service over a live RIB provider (a callable
    returning the daemon's RIB DataFrame, per-path entries kept)."""

    def __init__(
        self,
        rib_provider,
        host: str = "127.0.0.1",
        port: int = 0,
        credentials: tuple[str, str] | None = None,
        version_provider=None,
    ):
        from pmacct_spark.sources.zmtp import ZmtpRouterServer

        self._provider = rib_provider
        # flat-cost serving: the RIB recompute+collect runs once per
        # DATA GENERATION (version_provider, e.g. the spool's file
        # list), not once per request — a busy LG otherwise re-decodes
        # the session history for every query
        self._version_provider = version_provider
        self._cache: tuple[object, list] | None = None
        # bgp_lg_user / bgp_lg_passwd: the ZMTP PLAIN credential check
        # (reference ZAP flow, src/zmq_common.c p_zmq_set_username)
        verify = (
            (lambda u, p: (u, p) == credentials) if credentials else None
        )
        self._srv = ZmtpRouterServer(
            self._handle, host=host, port=port, verify=verify
        )

    def start(self) -> "LookingGlass":
        self._srv.start()
        self.port = self._srv.port
        return self

    def stop(self) -> None:
        self._srv.stop()

    # --- request handling ------------------------------------------
    def _handle(self, parts: list[bytes]) -> list[bytes]:
        try:
            hdr = json.loads(parts[0])
            qt = int(hdr.get("query_type", BGP_LG_QT_UNKNOWN))
        except (ValueError, IndexError, TypeError):
            qt = BGP_LG_QT_UNKNOWN
        if qt == BGP_LG_QT_IP_LOOKUP and len(parts) >= 2:
            return self._ip_lookup(parts[1])
        if qt == BGP_LG_QT_GET_PEERS:
            return self._get_peers()
        return [
            json.dumps(
                {"results": 0, "query_type": qt, "text": "unsupported"}
            ).encode()
        ]

    def _rows(self):
        if self._version_provider is None:
            return self._provider().collect()
        ver = self._version_provider()
        if self._cache is None or self._cache[0] != ver:
            self._cache = (ver, self._provider().collect())
        return self._cache[1]

    def _ip_lookup(self, data: bytes) -> list[bytes]:
        """Both address families, like the reference's str_to_addr
        dispatch (bgp_lg.c -> bgp_node_match per family): a v6 query
        walks the prefix6 rows, a v4 query the v4 rows."""
        try:
            q = json.loads(data)
            addr_s = str(q["ip_prefix"]).split("/")[0]
            v6 = ":" in addr_s
            addr = _v6_int(addr_s) if v6 else _v4_int(addr_s)
        except (ValueError, KeyError, TypeError, OSError):
            return [
                json.dumps(
                    {
                        "results": 0,
                        "query_type": BGP_LG_QT_IP_LOOKUP,
                        "text": "lookup error",
                    }
                ).encode()
            ]
        rd = q.get("rd")
        # the reference requires peer_ip_src (bgp_lg.c:240); without
        # it this LG answers across all peers (documented superset)
        peer = q.get("peer_ip_src")
        bits = 128 if v6 else 32
        best: dict[str, object] = {}  # peer -> row, longest masklen wins
        for r in self._rows():
            if v6:
                if r["prefix6"] is None:
                    continue  # v6 lookup walks the v6 table
                try:
                    net = _v6_net_int(str(r["prefix6"]))
                except ValueError:
                    continue  # unparseable row must not kill the reply
            else:
                if r["prefix"] is None:
                    continue  # v4 lookup walks the v4 table
                net = int(r["prefix"])
            if rd is not None and r["rd"] != rd:
                continue
            if peer is not None and r["peer_ip"] != peer:
                continue
            ml = int(r["masklen"])
            if (addr >> (bits - ml)) != (net >> (bits - ml)):
                continue
            cur = best.get(r["peer_ip"])
            if cur is None or ml > int(cur["masklen"]):
                best[r["peer_ip"]] = r
        if not best:
            return [
                json.dumps(
                    {
                        "results": 0,
                        "query_type": BGP_LG_QT_IP_LOOKUP,
                        "text": "prefix not found",
                    }
                ).encode()
            ]
        routes = [
            _route_json(best[p]) for p in sorted(best)
        ]
        head = json.dumps(
            {"results": len(routes), "query_type": BGP_LG_QT_IP_LOOKUP}
        ).encode()
        return [head] + routes

    def _get_peers(self) -> list[bytes]:
        peers = sorted(
            {
                (r["peer_ip"], int(r["peer_as"] or 0))
                for r in self._rows()
            }
        )
        head = json.dumps(
            {"results": len(peers), "query_type": BGP_LG_QT_GET_PEERS}
        ).encode()
        return [head] + [
            json.dumps(
                {"peer_ip_src": ip, "peer_id": ip, "peer_as": asn}
            ).encode()
            for ip, asn in peers
        ]


class LookingGlassClient:
    """The reference LG client's conversation (examples/lg/pmbgp.py):
    REQ over ZMTP, header + optional data part, header + N results
    back."""

    def __init__(
        self,
        host: str,
        port: int,
        username: str | None = None,
        password: str | None = None,
    ):
        from pmacct_spark.sources.zmtp import ZmtpReqClient

        self._req = ZmtpReqClient(
            host,
            port,
            credentials=(
                (username, password or "") if username is not None else None
            ),
        )

    def ip_lookup(
        self,
        ip_prefix: str,
        rd: str | None = None,
        peer_ip_src: str | None = None,
    ):
        data: dict = {"ip_prefix": ip_prefix}
        if rd is not None:
            data["rd"] = rd
        if peer_ip_src is not None:
            data["peer_ip_src"] = peer_ip_src
        parts = self._req.request(
            [
                json.dumps(
                    {"query_type": BGP_LG_QT_IP_LOOKUP, "queries": 1}
                ).encode(),
                json.dumps(data).encode(),
            ]
        )
        return [json.loads(p) for p in parts]

    def get_peers(self):
        parts = self._req.request(
            [
                json.dumps(
                    {"query_type": BGP_LG_QT_GET_PEERS, "queries": 1}
                ).encode()
            ]
        )
        return [json.loads(p) for p in parts]

    def close(self) -> None:
        self._req.close()


def main(argv: list[str]) -> int:
    """The reference LG client's CLI surface (examples/lg/pmbgp.py):
    ``python -m pmacct_spark.client.lg -a 10.0.0.1/32 [-r peer]
    [-d rd] [-z host] [-Z port]`` or ``-g`` for get-peers. Prints one
    JSON document per reply part."""
    import getopt

    try:
        opts, _args = getopt.getopt(
            argv,
            "ha:d:r:z:Z:u:p:g",
            ["help", "prefix=", "rd=", "peer=", "zmq-host=",
             "zmq-port=", "zmq-user=", "zmq-passwd=", "get-peers"],
        )
    except getopt.GetoptError as err:
        print(str(err))
        return 2
    host, port = "127.0.0.1", 17900
    prefix = rd = peer = user = passwd = None
    get_peers = False
    for o, a in opts:
        if o in ("-h", "--help"):
            print(main.__doc__)
            return 0
        elif o in ("-a", "--prefix"):
            prefix = a
        elif o in ("-d", "--rd"):
            rd = a
        elif o in ("-r", "--peer"):
            peer = a
        elif o in ("-z", "--zmq-host"):
            host = a
        elif o in ("-Z", "--zmq-port"):
            port = int(a)
        elif o in ("-u", "--zmq-user"):
            user = a
        elif o in ("-p", "--zmq-passwd"):
            passwd = a
        elif o in ("-g", "--get-peers"):
            get_peers = True
    if not get_peers and prefix is None:
        print("one of --prefix or --get-peers is required")
        return 2
    cli = LookingGlassClient(host, port, username=user, password=passwd)
    try:
        parts = (
            cli.get_peers()
            if get_peers
            else cli.ip_lookup(prefix, rd=rd, peer_ip_src=peer)
        )
    finally:
        cli.close()
    for p in parts:
        print(json.dumps(p))
    return 0


if __name__ == "__main__":  # pragma: no cover - thin argv shim
    import sys

    raise SystemExit(main(sys.argv[1:]))
