"""The collector daemon, assembled: reference config file -> UDP
socket -> wire decode -> per-plugin channels -> sinks.

This is the nfacctd top loop (reference src/nfacctd.c: socket setup
:1525, version dispatch :1649, plugin fan-out src/plugin_hooks.c)
re-expressed over the engine's own pieces:

    conffile.parse_conf()  ->  channels (PluginConfig each)
    UdpSpool(port)         ->  datagram spool (the recvfrom loop)
    DecodedStore           ->  each spool file decoded (v5/v9/IPFIX/
                               sFlow) and enriched once
    build_aggregation      ->  one aggregation per plugin, stored per
                               drain input (AggregateStore)
    sinks                  ->  memory (IMT) / print / sql / bus / ...

``run_available`` drains everything received so far through every
channel, from the stores, and stops (the pcap-replay harness shape);
``run_continuous`` serves the same channels live. One daemon == one
collector edge node; scale-out is N daemons spooling to shared storage
with the cluster running the same channel plans over the union.
"""

from __future__ import annotations

import functools
import logging
import threading
from dataclasses import dataclass, field
from dataclasses import replace as _replace
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pmacct_spark import conffile
from pmacct_spark.functions.addr import ipv4_ntoa
from pmacct_spark.sources.udp import UdpSpool
from pmacct_spark.streaming.store import (
    Aggregate,
    AggregateStore,
    FID,
    DecodedStore,
    Lease,
    Retention,
    RibSnapshot,
    RibStore,
    Snapshot,
    empty_frame,
)

log = logging.getLogger("pmacct_spark")


def canonical_flows(decoded: DataFrame) -> DataFrame:
    """Map decoded wire records (FLOW_SCHEMA) to the registry's column
    vocabulary, exactly as the reference's handler chain renders
    primitives from the raw record (src/pkt_handlers.c)."""
    # one withColumns, not a withColumn chain: each call re-analyzes
    # the plan, and every batch drain builds this frame afresh
    return decoded.withColumns(
        {
            "ip_src": ipv4_ntoa("ip_src_i"),
            "ip_dst": ipv4_ntoa("ip_dst_i"),
            "peer_ip_src": F.col("exporter_ip"),
            # the presentation-name twin: pretag 'ip=' rules and
            # clients address the exporter as peer_src_ip
            "peer_src_ip": F.col("exporter_ip"),
            "ts": F.timestamp_millis(F.col("ts_ms")).cast("timestamp_ntz"),
            "end_ts": F.timestamp_millis(F.col("end_ts_ms")).cast(
                "timestamp_ntz"
            ),
            "flows": F.lit(1).cast("long"),
        }
    )


class _PretagMap(NamedTuple):
    """A loaded pre_tag_map."""

    columns: dict  # tag, tag2 and label expressions, compiled once
    sample_type: bool  # the map mentions sample_type


def _has_options_template(templates: dict) -> bool:
    """Whether a template set holds an options template: without one,
    no options record can decode."""
    return any(
        next(iter(spec), None) == "options" for spec in templates.values()
    )


# the map files enrichment re-reads on every drain, so their bytes key
# the stored enriched rows; every other map is parsed once per load
_REREAD_MAPS = (
    "sampling_map",
    "bgp_peer_src_as_map",
    "bgp_src_local_pref_map",
    "bgp_src_med_map",
)


@dataclass
class Daemon:
    """A running collector: the socket spool, the decoded, enriched,
    RIB and aggregate stores every batch drain reads, and one
    aggregation per configured plugin."""

    spark: SparkSession
    conf: conffile.Conf
    spool: UdpSpool
    channels: dict = field(default_factory=dict)  # name -> PluginConfig

    flavor: str = "netflow"  # or "sflow" (sfacctd_port configured)
    bgp_spool: object | None = None  # TcpSpool when bgp_daemon is on
    bmp_spool: object | None = None  # TcpSpool when bmp_daemon is on
    rtr_client: object | None = None  # RtrClient when rpki_rtr_cache is set
    tmpl_spool: object | None = None  # UdpSpool on nfacctd_templates_port
    lg: object | None = None  # LookingGlass when bgp_daemon_lg is on
    grpc: object | None = None  # GrpcDialoutServer (telemetry dial-out)
    grpc_dialin: object | None = None  # GrpcDialinCollector
    # BgpXconnectProxy when bgp_daemon_xconnect_map is set (BGP
    # proxying — no local RIB; sessions forward 1:1 to collectors)
    bgp_xconnect: object | None = None
    # RedisPresence when redis_host is set (cluster membership keys,
    # reference src/redis_common.c)
    redis: object | None = None
    # BmpBgpHa when bgp_daemon_ha / bmp_daemon_ha is set (active/
    # standby election over redis, reference src/ha.c)
    ha: object | None = None
    # created eagerly: N replan threads share it — a lazily-created
    # lock is itself a race (two threads can each mint their own)
    _compact_lock: threading.Lock = field(
        default_factory=threading.Lock, repr=False
    )
    # the replan loops' spool-flush debounce, checked and set under
    # its own lock by the N channel threads
    _flush_lock: threading.Lock = field(
        default_factory=threading.Lock, repr=False
    )
    _last_spool_flush: float = field(default=float("-inf"), repr=False)
    # the one owner of the batch path's staged scratch: every drain,
    # replan tick and compaction reads it under a lease
    _scratch: Retention = field(default_factory=Retention, repr=False)
    # compacted side table -> its scratch dir, made by the first append
    _compacted: dict = field(default_factory=dict, repr=False)
    # compacted side table -> appends so far
    _appends: dict = field(default_factory=dict, repr=False)
    # bumped by reload_maps(): part of the enriched rows' key
    _maps_gen: int = field(default=0, repr=False)
    # each live spool file's decoded rows, decoded once, and its
    # enriched rows, enriched once per RIB and maps generation (batch
    # drains and replan ticks read it; the streaming path does not)
    _store: DecodedStore = field(init=False, repr=False)
    # the batch path's lookup RIB, staged once per BGP/BMP spool
    # generation
    _ribs: RibStore = field(init=False, repr=False)
    # each batch channel's aggregate, staged once per drain input
    # (batch drains and replan ticks read it)
    _aggregates: AggregateStore = field(init=False, repr=False)
    # channel -> the aggregate its imt_<name> view last got from a
    # drain: registering a view costs a Spark command, so a warm drain
    # serving the same aggregate skips it
    _views: dict = field(default_factory=dict, repr=False)

    def __post_init__(self):
        self._store = DecodedStore(self._scratch)
        self._ribs = RibStore(self._scratch)
        self._aggregates = AggregateStore(self._scratch)

    @classmethod
    def from_conf(
        cls,
        spark: SparkSession,
        conf_text: str,
        host: str = "127.0.0.1",
        spool_dir: str | None = None,
    ) -> "Daemon":
        conf = conffile.parse_conf(conf_text)
        if (
            conf.get("telemetry_daemon_port_udp") is not None
            or conf.get("telemetry_daemon_port_tcp") is not None
            or conf.get("telemetry_daemon_grpc_port") is not None
            or conf.get("telemetry_daemon_grpc_dialin") is not None
            or conf.get("telemetry_daemon_udp_notif_port") is not None
        ):
            # the pmtelemetryd flavor: collect + log/dump, no
            # accounting channels (reference src/pmtelemetryd.c)
            flavor = "telemetry"
            # telemetry_daemon_udp_notif_port (CONFIG-KEYS:3522, the
            # reference's unyte-udp-notif library integration): the
            # UDP-Notif transport (draft-ietf-netconf-udp-notif) on
            # its own socket; datagrams then pass the segmentation-
            # aware decode_udp_notif instead of being taken as whole
            # JSON messages
            port = int(
                conf.get("telemetry_daemon_port_udp")
                or conf.get("telemetry_daemon_udp_notif_port")
                or 0
            )
        elif conf.get("sfacctd_port") is not None:
            flavor, port = "sflow", int(conf.get("sfacctd_port") or 0)
        else:
            flavor, port = "netflow", int(conf.get("nfacctd_port", default=0) or 0)
        kafka_topic = conf.get(f"{'sfacctd' if flavor == 'sflow' else 'nfacctd'}_kafka_topic")
        if kafka_topic:
            # Kafka collector transport (reference nfacctd_kafka_broker_*
            # keys, consumer src/kafka_common.c): same spool contract as
            # the UDP socket, fed by the wire-protocol consumer.
            from pmacct_spark.sources.kafka_wire import KafkaSpool

            prefix = "sfacctd" if flavor == "sflow" else "nfacctd"
            spool = KafkaSpool(
                host=str(
                    conf.get(f"{prefix}_kafka_broker_host", default="127.0.0.1")
                    or "127.0.0.1"
                ),
                # the reference's kafka_broker_port defaults to 9092 —
                # a topic+host config with no port is valid
                port=int(
                    conf.get(f"{prefix}_kafka_broker_port", default=9092)
                    or 9092
                ),
                topic=str(kafka_topic),
                spool_dir=spool_dir,
            ).start()
        else:
            # nfacctd_ip / sfacctd_ip / telemetry_daemon_ip (reference
            # CONFIG-KEYS): the address to bind the listening socket to
            ip_key = {
                "sflow": "sfacctd_ip", "telemetry": "telemetry_daemon_ip",
            }.get(flavor, "nfacctd_ip")
            if (
                flavor == "telemetry"
                and conf.get("telemetry_daemon_port_udp") is None
                and conf.get("telemetry_daemon_udp_notif_port")
                is not None
                and conf.get("telemetry_daemon_udp_notif_ip") is not None
            ):
                # telemetry_daemon_udp_notif_ip: bind address for the
                # UDP-Notif socket
                ip_key = "telemetry_daemon_udp_notif_ip"
            tport = conf.get("telemetry_daemon_port_tcp")
            if flavor == "telemetry" and tport is not None and (
                conf.get("telemetry_daemon_port_udp") is None
            ):
                # telemetry_daemon_port_tcp (CONFIG-KEYS:3501): the
                # Streaming Telemetry daemon over TCP sessions. The
                # stream splits on the telemetry_daemon_decoder's
                # framing (:3552): 'json' = newline-delimited
                # documents, cisco_v0/v1 = the proprietary 12-byte
                # headers the reference's decoders handle
                from pmacct_spark.sources.tcp import TcpSpool

                dec = str(
                    conf.get("telemetry_daemon_decoder", default="json")
                    or "json"
                ).lower()
                framing = {
                    "json": "jsonl", "gpb": "jsonl",
                    "cisco_v0": "cisco_v0", "cisco_v1": "cisco_v1",
                }.get(dec, "jsonl")
                spool = TcpSpool(
                    framing=framing,
                    host=str(conf.get(ip_key, default=host) or host),
                    port=int(tport or 0), spool_dir=spool_dir,
                    flush_secs=0.2,
                ).start()
            else:
                mg = conf.get(
                    "sfacctd_mcast_groups"
                    if flavor == "sflow"
                    else "nfacctd_mcast_groups"
                )
                spool = UdpSpool(
                    host=str(conf.get(ip_key, default=host) or host),
                    port=port, spool_dir=spool_dir, flush_secs=0.2,
                    # [ns]facctd_mcast_groups (CONFIG-KEYS:2190)
                    mcast_groups=(
                        [g.strip() for g in str(mg).split(",")
                         if g.strip()]
                        if mg
                        else None
                    ),
                ).start()
        tmpl_spool = None
        if flavor == "netflow" and conf.get("nfacctd_templates_port") is not None:
            # nfacctd_templates_port (reference CONFIG-KEYS): a second
            # UDP bind receiving REPLICATED templates (from a peer's
            # nfacctd_templates_receiver); datagrams here feed only
            # the template cache and are never re-forwarded (the
            # receiver watermark covers only the main spool), which is
            # the reference's infinite-loop guard.
            tmpl_spool = UdpSpool(
                host=host,
                port=int(conf.get("nfacctd_templates_port") or 0),
                spool_dir=(spool_dir + "_tmpl") if spool_dir else None,
                flush_secs=0.2,
            ).start()
        bgp_spool = bmp_spool = bgp_xconnect = None
        xcs_path = conf.get("bgp_daemon_xconnect_map")
        if xcs_path:
            # BGP proxying (CONFIG-KEYS:3265): the daemon cross-connects
            # inbound edge-router sessions 1:1 to collectors and never
            # decodes locally — mutually exclusive with any BGP msglog /
            # dump method (reference src/bgp/bgp.c:298)
            for k in ("bgp_daemon_msglog_file", "bgp_daemon_msglog_kafka_topic",
                      "bgp_daemon_msglog_amqp_routing_key", "bgp_table_dump_file",
                      "bgp_table_dump_kafka_topic"):
                if conf.get(k):
                    raise ValueError(
                        "bgp_daemon_xconnect_map is mutually exclusive with "
                        f"any BGP msglog and dump method (got {k})"
                    )
            from pmacct_spark.sources.xconnect import BgpXconnectProxy

            with open(str(xcs_path)) as f:
                xcs_entries = conffile.parse_bgp_xconnect_map(f.read())
            xcs_md5 = None
            md5_path = conf.get("bgp_daemon_md5_file")
            if md5_path:
                # TCP-MD5 applies to the proxy's INBOUND sessions only
                # (CONFIG-KEYS:3272) — outbound legs stay unsigned
                with open(str(md5_path)) as f:
                    xcs_md5 = conffile.parse_bgp_md5_file(f.read())
            bgp_xconnect = BgpXconnectProxy(
                xcs_entries,
                # same bind-address key the plain bgp_daemon branch
                # honors (CONFIG-KEYS bgp_daemon_ip)
                host=str(conf.get("bgp_daemon_ip", default=host) or host),
                port=int(conf.get("bgp_daemon_port", default=0) or 0),
                md5_keys=xcs_md5,
            ).start()
        elif conf.getbool("bgp_daemon"):
            from pmacct_spark.sources.tcp import TcpSpool

            md5_keys = None
            md5_path = conf.get("bgp_daemon_md5_file")
            if md5_path:
                # TCP-MD5 (RFC 2385, CONFIG-KEYS:3079): keys register on
                # the listener; the kernel drops unsigned segments from
                # listed peers before the daemon ever sees the session
                with open(str(md5_path)) as f:
                    md5_keys = conffile.parse_bgp_md5_file(f.read())
            mp = conf.get("bgp_daemon_max_peers")
            las = conf.get("bgp_daemon_as")
            bgp_spool = TcpSpool(
                framing="bgp",
                host=str(conf.get("bgp_daemon_ip", default=host) or host),
                port=int(conf.get("bgp_daemon_port", default=0) or 0),
                md5_keys=md5_keys,
                max_peers=int(mp) if mp else None,
                batch=int(conf.get("bgp_daemon_batch", default=0) or 0),
                batch_interval=int(
                    conf.get("bgp_daemon_batch_interval", default=0)
                    or 0
                ),
                # passive speaker side (reference src/bgp/bgp_msg.c):
                # OPEN reply mirrors the peer's AS unless bgp_daemon_as
                # pins one; Router-ID from bgp_daemon_id, else
                # bgp_daemon_ip, else 1.2.3.4
                speaker={
                    "local_as": int(las) if las else None,
                    "router_id": conf.get(
                        "bgp_daemon_id",
                        default=conf.get("bgp_daemon_ip"),
                    ),
                    # bgp_daemon_add_path_ignore (CONFIG-KEYS:2858):
                    # don't echo ADD-PATH, peers keep classic encoding
                    "add_path_ignore": conf.getbool(
                        "bgp_daemon_add_path_ignore"
                    ),
                    # tmp_bgp_daemon_route_refresh (CONFIG-KEYS:3734)
                    "route_refresh": conf.getbool(
                        "tmp_bgp_daemon_route_refresh"
                    ),
                },
                router_id_check=not conf.getbool(
                    "bgp_disable_router_id_check"
                ),
                # bgp_neighbors_file (CONFIG-KEYS:3066): live peer
                # list, one per line — SNMP auto-discovery hook
                neighbors_file=conf.get("bgp_neighbors_file"),
                allow=cls._tcp_allow(conf, "bgp"),
            ).start()
        if conf.getbool("bmp_daemon"):  # the pmbmpd flavor
            from pmacct_spark.sources.tcp import TcpSpool

            mp = conf.get("bmp_daemon_max_peers")
            bmp_spool = TcpSpool(
                framing="bmp",
                host=str(conf.get("bmp_daemon_ip", default=host) or host),
                port=int(conf.get("bmp_daemon_port", default=0) or 0),
                max_peers=int(mp) if mp else None,
                batch=int(conf.get("bmp_daemon_batch", default=0) or 0),
                batch_interval=int(
                    conf.get("bmp_daemon_batch_interval", default=0)
                    or 0
                ),
                # bmp_daemon_parse_proxy_header: behind a TCP load
                # balancer the PROXY v1/v2 header carries the router's
                # real address — it becomes the peer identity
                proxy_header=conf.getbool("bmp_daemon_parse_proxy_header"),
                allow=cls._tcp_allow(conf, "bmp"),
            ).start()
        rtr_client = None
        cache = conf.get("rpki_rtr_cache")
        if cache:  # live ROA feed from a validator cache (RFC 6810)
            from pmacct_spark.sources.rtr import RtrClient

            chost, cport = conffile.split_host_port(
                str(cache), 323  # RFC 6810 rpki-rtr well-known port
            )
            rtr_client = RtrClient(
                host=chost or "127.0.0.1", port=cport,
                version=int(
                    conf.get("rpki_rtr_cache_version", default=1) or 1
                ),
            ).start()
        d = cls(
            spark=spark, conf=conf, spool=spool,
            # pmtelemetryd collects + logs/dumps; it runs no
            # accounting channels (reference src/pmtelemetryd.c has no
            # plugin loop)
            channels={} if flavor == "telemetry" else conffile.channels(conf),
            flavor=flavor,
            bgp_spool=bgp_spool, bmp_spool=bmp_spool,
            rtr_client=rtr_client, tmpl_spool=tmpl_spool,
            bgp_xconnect=bgp_xconnect,
        )
        if conf.get("telemetry_daemon_grpc_port") is not None:
            # gRPC dial-out collection (reference bridges an external
            # mdt-dialout-collector over ZMQ PULL,
            # src/telemetry/telemetry.c:120-134 +
            # telemetry_grpc_collector_conf src/cfg_handlers.c:8203;
            # here the in-process HTTP/2 server IS the collector):
            # received MdtDialoutArgs payloads are injected into the
            # same spool the UDP telemetry socket feeds, so gRPC rides
            # the identical decode/msglog/metrics path
            from pmacct_spark.sources.grpc_wire import GrpcDialoutServer

            d.grpc = GrpcDialoutServer(
                deliver=lambda peer, data, _rid: d.spool.inject(peer, data),
                host=host,
                port=int(conf.get("telemetry_daemon_grpc_port") or 0),
            ).start()
        if conf.get("telemetry_daemon_grpc_dialin") is not None:
            # gRPC dial-in collection: the collector CALLS the router's
            # CreateSubs rpc (reference bridges this via the same
            # external helper as dial-out, src/telemetry/telemetry.c:
            # 120-134); received CreateSubsReply payloads ride the
            # identical spool -> decode -> msglog/metrics path.
            # Key format: "host:port,subidstr"
            from pmacct_spark.sources.grpc_wire import GrpcDialinCollector

            spec = str(conf.get("telemetry_daemon_grpc_dialin"))
            hostport, _, subid = spec.partition(",")
            h, prt = conffile.split_host_port(hostport, 57400)
            d.grpc_dialin = GrpcDialinCollector(
                h or "127.0.0.1",
                prt,
                subid.strip(),
                deliver=lambda peer, data, _rid: d.spool.inject(peer, data),
            ).start()
        if conf.getbool("bgp_daemon_lg") and bgp_spool is not None:
            # the Looking Glass service (reference src/bgp/bgp_lg.c,
            # keys bgp_daemon_lg / _ip / _port): ZMTP ROUTER answering
            # ip_lookup / get_peers against the live RIB
            from pmacct_spark.client.lg import LookingGlass

            lg_user = conf.get("bgp_daemon_lg_user")
            d.lg = LookingGlass(
                lambda: d.rib(for_lookup=False),
                version_provider=lambda: tuple(bgp_spool.rib_files()),
                host=str(conf.get("bgp_daemon_lg_ip", default=host) or host),
                port=int(conf.get("bgp_daemon_lg_port", default=0) or 0),
                credentials=(
                    (
                        str(lg_user),
                        str(conf.get("bgp_daemon_lg_passwd", default="") or ""),
                    )
                    if lg_user
                    else None
                ),
            ).start()
        redis_host = conf.get("redis_host")
        if redis_host:
            # redis cluster-membership presence (reference
            # src/redis_common.c; keys redis_host / redis_db /
            # redis_passwd / cluster_name / cluster_id). The reference
            # exits when cluster_name is missing (p_redis_init,
            # src/redis_common.c:66-84) — same contract here.
            cluster = conf.get("cluster_name")
            if not cluster:
                raise ValueError(
                    "redis_host requires cluster_name to be specified"
                )
            from pmacct_spark.sources.redis_wire import (
                PM_REDIS_DEFAULT_PORT,
                RedisPresence,
            )

            rhost, rport = conffile.split_host_port(
                str(redis_host), PM_REDIS_DEFAULT_PORT
            )
            daemon_type = {
                "netflow": "nfacctd", "sflow": "sfacctd",
                "telemetry": "pmtelemetryd",
            }.get(flavor, "nfacctd")
            extras = []
            if conf.getbool("bgp_daemon") or conf.get(
                "bgp_daemon_xconnect_map"
            ):
                extras.append("bgp")
            if conf.getbool("bmp_daemon"):
                extras.append("bmp")
            if flavor == "telemetry":
                extras.append("telemetry")
            d.redis = RedisPresence(
                host=rhost,
                port=rport,
                cluster_name=str(cluster),
                cluster_id=int(conf.get("cluster_id", default=0) or 0),
                name=str(conf.get("core_proc_name", default="default")
                         or "default"),
                ptype="core",
                daemon_type=daemon_type,
                extras=tuple(extras),
                db=int(conf.get("redis_db", default=0) or 0),
                passwd=conf.get("redis_passwd"),
            ).start()
        if conf.getbool("bmp_daemon_ha") or conf.getbool("bgp_daemon_ha"):
            # BMP/BGP high availability (reference src/ha.c +
            # docs/README_BGP_BMP_HA.md, tests 206/303/402): collectors
            # sharing <ha_cluster_name, ha_cluster_id> elect the
            # OLDEST-started one active via redis startup-timestamp
            # keys; standbys collect but hold their msglog/dump
            # emission, and on takeover replay the session history
            # (write_msglog_if_configured gates on ha.forwarding).
            from pmacct_spark.sources.redis_wire import (
                PM_REDIS_DEFAULT_PORT,
                BmpBgpHa,
            )

            fam = "bmp" if conf.getbool("bmp_daemon_ha") else "bgp"
            cluster = conf.get(f"{fam}_daemon_ha_cluster_name")
            if not cluster:
                raise ValueError(
                    f"{fam}_daemon_ha requires "
                    f"{fam}_daemon_ha_cluster_name (reference src/ha.c "
                    "exits without it)"
                )
            rh = conf.get("redis_host")
            if not rh:
                raise ValueError(
                    f"{fam}_daemon_ha runs its election over redis_host "
                    "— set it"
                )
            hhost, hport = conffile.split_host_port(
                str(rh), PM_REDIS_DEFAULT_PORT
            )
            d.ha = BmpBgpHa(
                host=hhost,
                port=hport,
                cluster_name=str(cluster),
                cluster_id=int(
                    conf.get(f"{fam}_daemon_ha_cluster_id", default=0) or 0
                ),
                name=str(conf.get("core_proc_name", default="default")
                         or "default"),
                passwd=conf.get("redis_passwd"),
            ).start()
        if conf.getbool("maps_refresh", default=True):
            # maps_refresh (CONFIG-KEYS:2270, default TRUE): SIGUSR2
            # reloads every MAP-flagged file without a restart; only
            # an explicit false discards the signal (reference
            # semantics)
            import signal as _signal

            try:
                _signal.signal(
                    _signal.SIGUSR2, lambda *_: d.reload_maps()
                )
            except ValueError:
                # not the main thread: signals undeliverable here —
                # embedders call reload_maps() directly
                pass
        return d

    def reload_maps(self) -> None:
        """The SIGUSR2 reload (load_networks/load_ports/map reload
        dispatch in the reference's signal handler; CONFIG-KEYS:2270
        maps_refresh): drop every parse-once map cache, so the next
        drain re-reads the files — the allow, ports, networks, agent,
        pre_tag, protos/tos and ROA files — and bump the maps
        generation, which retires every stored enriched row, so the
        next drain enriches the live spool again under the reloaded
        maps. An edit to one of those files takes effect only after
        this reload. The files enrichment re-reads on every drain
        (sampling_map, bgp_peer_src_as_map, bgp_src_local_pref_map,
        bgp_src_med_map) need none: their bytes are part of the
        enriched rows' key. Neither do the RIB and the live ROA feed:
        the RIB snapshot is rebuilt whenever a RIB-changing BGP/BMP
        spool file arrives, the ROA feed is re-read from the RTR spool
        files, and both are part of that key too."""
        for attr in (
            "_allow_cache",
            "_ports_cache",
            "_networks_cache",
            "_agent_map_cache",
            "_pretag_cache",
            "_bucket_cache",
            "_roa_df",
        ):
            if hasattr(self, attr):
                delattr(self, attr)
        self._maps_gen += 1

    @staticmethod
    def _tcp_allow(conf, fam: str) -> list[str] | None:
        """bgp_daemon_allow_file / bmp_daemon_allow_file
        (CONFIG-KEYS:3073): parse-once allow list for the TCP
        listener. An allow file that parses to ZERO entries means
        DENY ALL — load_allow_file sets num=-1 for an empty file
        (src/util.c:2033, 'distinguish between no map and empty map')
        so check_allow matches nothing; only a MISSING key accepts
        everything. Returning [] (not None) carries that through."""
        path = conf.get(f"{fam}_daemon_allow_file")
        if not path:
            return None
        with open(str(path)) as fh:
            return conffile.parse_allow_file(fh.read())

    @property
    def port(self) -> int:
        return self.spool.port

    @property
    def bgp_port(self) -> int:
        if self.bgp_xconnect is not None:
            return self.bgp_xconnect.port
        return self.bgp_spool.port if self.bgp_spool else 0

    @property
    def bmp_port(self) -> int:
        return self.bmp_spool.port if self.bmp_spool else 0

    def stop(self) -> None:
        self.spool.stop()
        for sp in (
            self.bgp_spool, self.bmp_spool, self.rtr_client, self.lg,
            self.grpc, self.grpc_dialin, self.tmpl_spool,
            self.bgp_xconnect, self.redis, self.ha,
        ):
            if sp is not None:
                sp.stop()
        self._store.close()
        self._ribs.close()
        self._aggregates.close()
        self._scratch.close()
        import shutil as _sh

        for d in self._compacted.values():
            _sh.rmtree(d, ignore_errors=True)

    def _ptype_by_name(self) -> dict:
        return dict(
            (name, ptype) for ptype, name in self.conf.plugins
        ) or {"default": "memory"}

    def _session_events(
        self, fam: str, files: list[str] | None = None
    ) -> DataFrame:
        """Decoded live BGP (``fam="bgp"``, BMP_EVENT_SCHEMA rows) or
        BMP (``"bmp"``) session events of the spool ``files`` (default:
        every file spooled now). Two-phase: a session's OPEN chunk and
        its UPDATE chunks may land in different spool files, so the
        ADD-PATH capability set (BGP OPENs, BMP Peer Up OPENs) is
        learned in a pre-pass, cached per file list (OPEN caps are
        static per session; re-walking every session byte on every
        replan tick would double the per-tick decode work for
        nothing). The key is the list the events are read from, so a
        cached caps set always covers every OPEN those files hold."""
        from pmacct_spark.sources.tcp import latest_session_only
        from pmacct_spark.streaming import bmp

        spool, learn, decode = {
            "bgp": (self.bgp_spool, bmp.learn_bgp_caps, bmp.decode_bgp),
            "bmp": (self.bmp_spool, bmp.learn_bmp_caps, bmp.decode_bmp),
        }[fam]
        files = spool.files() if files is None else list(files)
        sess = latest_session_only(
            spool.batch(self.spark, files)
        ).select("exporter_ip", "seqno", "payload")
        caps = getattr(self, "_session_caps", {})
        if caps.get(fam, (None,))[0] != tuple(files):
            caps[fam] = (tuple(files), learn(sess))
            self._session_caps = caps
        return decode(sess, session_caps=caps[fam][1])

    def rib(
        self, for_lookup: bool = True, files: tuple | None = None
    ) -> DataFrame:
        """Current RIB state from the live BGP and/or BMP sessions
        (latest-wins compaction — the in-memory table the reference
        daemon holds). With ``for_lookup`` (enrichment joins) the
        result is collapsed to ONE row per (peer, prefix): best-path
        across ADD-PATH entries AND across sources (a router feeding
        both bgp_daemon and bmp_daemon from one source IP must not
        double-count flows through the join). ``for_lookup=False``
        (table dumps) keeps per-path entries, as the reference dump
        does (src/bgp/bgp_logdump.c path_id handling). ``files`` are
        the spool files to read, ``(bgp files, bmp files)`` as
        :meth:`_rib_files` lists them; default: every file spooled
        now."""
        from pmacct_spark.streaming.bmp import rib_state

        bgp_files, bmp_files = files or (None, None)
        parts = []
        if self.bgp_spool is not None:
            parts.append(
                rib_state(
                    self._session_events("bgp", bgp_files),
                    # NOTIFICATION surfaces as a peer-down event; the
                    # purge clears the Adj-RIB-In exactly as the
                    # reference's session close does
                    peer_down=True,
                )
            )
        if self.bmp_spool is not None:
            from pyspark.sql import Window

            bmp_rib = rib_state(  # BMP streams carry Peer Down purges
                self._session_events("bmp", bmp_files)
            )
            # Flow correlation keys on the MONITORED ROUTER (the BMP
            # sender), not the remote BGP neighbor: the flow's exporter
            # is the router whose Adj-RIB-In BMP mirrors (reference
            # nfacctd+bmp tests/4xx correlation). Collapsing neighbors
            # onto the router needs BEST-PATH selection first, or two
            # neighbors announcing the same prefix would duplicate the
            # broadcast-join key and double-count every matching flow:
            # highest local_pref wins, then latest (reference
            # bgp_best_path local-pref step, src/bgp/bgp_aux.c).
            w_best = Window.partitionBy(
                "exporter_ip", "prefix", "prefix6", "masklen"
            ).orderBy(
                F.desc_nulls_last("local_pref"), F.desc("seq")
            )
            parts.append(
                bmp_rib.withColumn("__best", F.row_number().over(w_best))
                .filter("__best = 1")
                .drop("__best")
                .withColumn("peer_ip", F.col("exporter_ip"))
            )
        if not parts:
            raise ValueError("rib(): neither bgp_daemon nor bmp_daemon is on")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if for_lookup:
            from pmacct_spark.streaming.bmp import best_path

            out = best_path(out)
        return out

    def _rib_files(self) -> tuple:
        """The live spool files of both session spools that can change
        the RIB (``TcpSpool.rib_files``: a live peer's keepalive-only
        files do not), ``(bgp, bmp)``, each sorted: the RIB snapshot's
        key."""
        return tuple(
            tuple(sp.rib_files()) if sp is not None else ()
            for sp in (self.bgp_spool, self.bmp_spool)
        )

    def _rib_snapshot(self, lease: Lease) -> RibSnapshot | None:
        """The batch path's lookup RIB (drains, replan ticks,
        compaction), read under ``lease``: ``rib()`` of exactly the live
        session spool files, staged with its mask lengths and rebuilt
        only when that file list changes (``streaming/store.RibStore``).
        None without a BGP/BMP daemon."""
        if self.bgp_spool is None and self.bmp_spool is None:
            return None
        return self._ribs.sync(
            self._rib_files, lambda files: self.rib(files=files), lease
        )

    def _live_rib(self) -> RibSnapshot:
        """The RIB read live, unstaged: the default of enrichment calls
        made outside the daemon's batch path. The LPM joins discover
        the mask lengths themselves."""
        return RibSnapshot(self.rib(), None)

    # ---- spool compaction (bounded-replay serving, VERDICT r4 #4) ----
    #
    # Each live spool file is decoded once, by the first drain or tick
    # that sees it, into the store's decoded layer (streaming/store.py).
    # When maps and enrichment put a join above those rows, the file's
    # enriched rows are stored too, once per enrichment key (the RIB
    # snapshot, the maps, the ROA feed, see _enrich_key): a drain with
    # no new file and no key change reads the stored rows and builds no
    # enrichment plan; a key change re-enriches every live file once.
    # Compaction adds two things on top. It takes the retired files'
    # enriched rows (stored, or enriched on demand) and appends them to
    # a columnar side table: enrichment state (RIB, learned sampling
    # rates) is captured as of compaction time — enrich-at-arrival,
    # exactly the reference's semantics. And it bounds the live file
    # count, so a re-enrichment and the union over stored segments stay
    # flat with uptime. Spool files are retired logically (never
    # deleted), so streaming channels that tail the spool directory are
    # unaffected.

    def _spool_files(self, spool=None) -> list[str]:
        """The files of ``spool`` (default: the flow spool), in order."""
        import glob as _glob
        import os as _os

        spool_dir = (spool or self.spool).spool_dir
        return sorted(_glob.glob(_os.path.join(spool_dir, "*.parquet")))

    def _live_spool_files(self) -> list[str]:
        retired = getattr(self, "_retired_files", set())
        return [f for f in self._spool_files() if f not in retired]

    def _spool_batch(self) -> DataFrame:
        return self._datagrams(self._live_spool_files())

    def _datagrams(self, files: list[str]) -> DataFrame:
        from pmacct_spark.sources.udp import DATAGRAM_DDL

        if not files:
            return self.spark.createDataFrame([], DATAGRAM_DDL)
        return self.spark.read.schema(DATAGRAM_DDL).parquet(*files)

    def _compact_append(self, table: str, df: DataFrame) -> None:
        """Append ``df`` to the compacted side table ``table`` ("flows",
        "options" or "counters"), a scratch dir stop() removes."""
        if table not in self._compacted:
            import tempfile as _tmp

            self._compacted[table] = _tmp.mkdtemp(prefix=f"pmacct_compact_{table}_")
        df.write.mode("append").parquet(self._compacted[table])
        self._appends[table] = self._appends.get(table, 0) + 1

    def _compacted_table(self, table: str) -> DataFrame | None:
        """The compacted side table ``table``; None before the first
        compaction wrote it."""
        d = self._compacted.get(table)
        return None if d is None else self.spark.read.parquet(d)

    def compact_spool(self, keep_files: int = 4) -> int:
        """Retire all but the newest ``keep_files`` live spool files:
        append their enriched flow rows (:meth:`_enriched_flows`) and
        their stored rows of the other kinds later passes still read
        (options rows for the renormalize passes, sFlow counter
        samples for the counter log) to the compacted side tables.
        Returns files retired."""
        with self._compact_lock:
            live = self._live_spool_files()
            victims = live[:-keep_files] if keep_files else live
            if not victims:
                return 0
            with self._scratch.lease(pin=True) as lease:
                snap = self._store_sync(live, lease)
                rib = self._rib_snapshot(lease)
                enriched, _key = self._enriched_flows(snap, rib, lease, victims)
                self._compact_append("flows", enriched())
                for kind in ("options", "counters"):
                    rows = snap.rows(kind, victims)
                    if rows is not None:
                        self._compact_append(kind, rows)
            retired = getattr(self, "_retired_files", set())
            retired.update(victims)
            self._retired_files = retired
            return len(victims)

    def maybe_compact_spool(self, max_live_files: int | None = None) -> int:
        """Compact when the live spool exceeds the configured bound
        (conf key ``spool_compact_files``, default 32) — called on the
        replan/purge cadence so tick cost stays flat with uptime."""
        if max_live_files is None:
            max_live_files = int(
                self.conf.get("spool_compact_files", default=32) or 32
            )
        if len(self._live_spool_files()) <= max_live_files:
            return 0
        return self.compact_spool()

    def _sflow_counters(self, lease: Lease) -> DataFrame:
        """Full counter-sample history, read under ``lease``: the
        store's counter rows of the live spool, unioned with those
        compaction preserved. Both are read under the compact lock so a
        concurrent compaction can't retire-and-append the same file
        between the two reads."""
        with self._compact_lock:
            snap = self._store_sync(self._live_spool_files(), lease)
            comp = self._compacted_table("counters")
        ctrs = snap.rows("counters")
        if comp is not None:
            ctrs = ctrs.unionByName(comp, allowMissingColumns=True)
        return ctrs

    def _templates_seed(self) -> dict | None:
        """nfacctd_templates_file startup side (reference
        CONFIG-KEYS:2040, load_templates_from_file
        src/nfv9_template.c:1334): templates persisted by a previous
        run seed every decode, so data records arriving before the
        exporters' next template refresh decode instead of dropping."""
        if not hasattr(self, "_tmpl_seed"):
            path = (
                self.conf.get("nfacctd_templates_file")
                if self.flavor != "sflow"
                else None
            )
            from pmacct_spark.streaming.decode import load_templates_file

            self._tmpl_path = str(path) if path else None
            self._tmpl_seed = (
                load_templates_file(self._tmpl_path) if path else None
            )
        return self._tmpl_seed

    def _persist_templates(self, learned: dict) -> None:
        """Steady-state side: fold the templates the store learned from
        the live spool into the file (save_template /
        update_template_in_file src/nfv9_template.c:255,1230-1235).
        Rewrites only when a new or changed definition appeared; atomic
        replace in the saver."""
        import json

        self._templates_seed()
        if not self._tmpl_path:
            return
        from pmacct_spark.streaming.decode import save_templates_file

        # JSON-normalize so tuple-vs-list shape can't force rewrites
        learned = {
            k: json.loads(json.dumps(v)) for k, v in learned.items()
        }
        merged = {**(self._tmpl_seed or {}), **learned}
        if merged != (self._tmpl_seed or {}):
            save_templates_file(merged, self._tmpl_path)
            self._tmpl_seed = merged

    def _ingest_replicated_templates(self) -> None:
        """nfacctd_templates_port drain side: templates received on
        the dedicated replication socket merge into the decode seed
        (and ONLY the seed — these datagrams carry no data sets worth
        accounting and are never re-forwarded, the reference's
        infinite-loop guard). Each templates-spool file is learned
        once, each datagram's definitions apart, in arrival order. A
        key the templates spool already seeded keeps its first layout
        (a redefinition is logged once); every other key seeds, over
        the templates file's."""
        if self.tmpl_spool is None:
            return
        from pmacct_spark.streaming.decode import learn_template_cache

        seen = self.__dict__.setdefault("_tmpl_learned", set())
        new = [f for f in self._spool_files(self.tmpl_spool) if f not in seen]
        if not new:
            return
        seed = dict(self._templates_seed() or {})
        first = self.__dict__.setdefault("_tmpl_replicated", {})
        by_dg = learn_template_cache(
            self._tagged_datagrams(
                {f: i for i, f in enumerate(new)}, by_datagram=True
            ),
            by=FID,
        )
        for _, defs in sorted(by_dg.items()):
            for k, spec in (defs or {}).items():
                if first.setdefault(k, spec) == spec:
                    seed[k] = spec
                else:
                    self._store.note(
                        f"replicated template {k} redefined with a "
                        "different layout: its first layout is kept",
                        logging.WARNING,
                        once=("replicated", k),
                    )
        self._tmpl_seed = seed
        seen.update(new)

    def _allow_entries(self) -> list[str] | None:
        """The exporter allow list, parsed once per daemon; None when no
        allow file is configured."""
        key = {
            "sflow": "sfacctd_allow_file",
            "telemetry": "telemetry_daemon_allow_file",
        }.get(self.flavor, "nfacctd_allow_file")
        if not hasattr(self, "_allow_cache"):
            path = self.conf.get(key)
            if not path:
                self._allow_cache = None
            else:
                with open(path) as fh:
                    self._allow_cache = conffile.parse_allow_file(
                        fh.read()
                    )
        return self._allow_cache

    def _exporter_allow_filter(self, dg: DataFrame) -> DataFrame:
        """nfacctd_allow_file / sfacctd_allow_file (reference
        CONFIG-KEYS, src/nfacctd.c check_allow): datagrams whose
        source address is not in the allow list are DROPPED before
        decode. Entries are plain addresses or v4 CIDR prefixes;
        SIGUSR2-reload class (parsed once per daemon like ports_file)."""
        entries = self._allow_entries()
        if entries is None:  # no allow file configured: accept all
            return dg
        # An allow file that parses to ZERO entries DENIES everything:
        # load_allow_file sets num=-1 for an empty file
        # (src/util.c:2033) which is truthy at src/nfacctd.c:1582
        # `if (allow.num) allowed = check_allow`, and check_allow's
        # 0-iteration loop returns FALSE for every source.
        if not entries:
            return dg.filter(F.lit(False))
        from pmacct_spark.functions.addr import ipv4_aton

        exact = [e for e in entries if "/" not in e]
        conds = None
        if exact:
            conds = F.col("exporter_ip").isin(exact)
        for e in entries:
            if "/" not in e:
                continue
            net, _, ln = e.partition("/")
            ln = int(ln)
            div = 1 << (32 - ln) if ln < 32 else 1
            net_i = sum(
                int(o) << (8 * (3 - i))
                for i, o in enumerate(net.split("."))
            )
            c = (ipv4_aton("exporter_ip") / div).cast("bigint") == (
                net_i // div
            )
            conds = c if conds is None else (conds | c)
        return dg.filter(conds) if conds is not None else dg.filter(F.lit(False))

    def _forward_templates(self, live: DataFrame) -> None:
        """nfacctd_templates_receiver (reference CONFIG-KEYS): forward
        every datagram carrying a template/options-template set to the
        configured replicator — the clustered-SO_REUSEPORT helper. A
        per-exporter seqno watermark keeps each datagram forwarded
        once across drains; the send itself is the tee plugin's
        distributed per-partition UDP path (sinks/tee.emit_udp)."""
        dest = (
            self.conf.get("nfacctd_templates_receiver")
            if self.flavor != "sflow"
            else None
        )
        if not dest:
            return
        import pandas as pd

        from pmacct_spark.sinks.tee import emit_udp
        from pmacct_spark.streaming.decode import has_template_set

        wm: dict[str, int] = getattr(self, "_tmpl_fwd_wm", {})
        spark = live.sparkSession
        if wm:
            wm_df = spark.createDataFrame(
                list(wm.items()), "exporter_ip string, __wm long"
            )
            fresh = (
                live.join(F.broadcast(wm_df), "exporter_ip", "left")
                .filter(F.expr("seqno > coalesce(__wm, -1)"))
                .select("exporter_ip", "seqno", "payload")
            )
        else:
            fresh = live.select("exporter_ip", "seqno", "payload")

        def keep_templates(batches):
            for pdf in batches:
                mask = pdf["payload"].map(
                    lambda p: has_template_set(bytes(p))
                )
                yield pdf[mask]

        tmpl = fresh.mapInPandas(
            keep_templates, "exporter_ip string, seqno long, payload binary"
        )
        emit_udp(tmpl, default_endpoint=str(dest))
        new_wm = {
            r["exporter_ip"]: int(r["mx"])
            for r in fresh.groupBy("exporter_ip")
            .agg(F.max("seqno").alias("mx"))
            .collect()
        }
        wm.update(new_wm)
        self._tmpl_fwd_wm = wm

    def _enrich_datagrams(self, dg: DataFrame) -> DataFrame:
        """The streaming plans' frame: decode the spool stream ``dg`` in
        stream order and enrich the flows (no live dimension: see
        :meth:`run_continuous`)."""
        from pmacct_spark.streaming.decode import (
            decode_any,
            decode_options_data,
            decode_sflow_any,
        )

        dg = self._exporter_allow_filter(dg).select("exporter_ip", "payload")
        if self.flavor == "sflow":
            df = canonical_flows(decode_sflow_any(dg, **self._sflow_decode_opts()))
        else:
            df = canonical_flows(
                decode_any(
                    dg,
                    seed_templates=self._templates_seed(),
                    **self._netflow_decode_opts(),
                )
            )
            customs = self._account_customs()
            df = self._account_options_union(
                df, decode_options_data(dg, customs) if customs else None
            )
        return self._enrich(df)

    def _enrich(
        self,
        df: DataFrame,
        options: DataFrame | None = None,
        rib: RibSnapshot | None = None,
    ) -> DataFrame:
        """Maps, then BGP/BMP and peer-AS enrichment of canonical flows.
        ``options`` are the decoded options rows the sampling rates are
        learned from (read only when rates are learned). ``rib`` is the
        RIB snapshot batch callers read (:meth:`_rib_snapshot`). The
        streaming plans pass neither: they run only without a live
        dimension (no BGP/BMP/RTR, no learned rates)."""
        df = self._maps(df, options)
        if self.bgp_spool is not None or self.bmp_spool is not None:
            df = self._bgp_enrich(df, rib=rib)
        df = self._peer_as_enrich(df, rib=rib)
        return df

    def _netflow_decode_opts(self) -> dict:
        return {
            # nfacctd_pre_processing_checks (CONFIG-KEYS:2221):
            # discard data flowsets with malformed (non-zero)
            # trailing padding instead of best-effort decoding
            "pre_checks": self.conf.getbool("nfacctd_pre_processing_checks"),
            # nfacctd_time_secs (CONFIG-KEYS:2190): v5 header
            # times in seconds rather than msecs
            "time_secs": self.conf.getbool("nfacctd_time_secs"),
        }

    def _sflow_decode_opts(self) -> dict:
        return {
            # sfacctd_ignore_exporter_address (CONFIG-KEYS:2213):
            # Agent Address is the exporter identity by default;
            # true keeps the socket address
            "use_agent": not self.conf.getbool(
                "sfacctd_ignore_exporter_address"
            ),
            # aggregate_unknown_etype (CONFIG-KEYS:205): in
            # sfacctd, ARP frames pass through as L2-only rows
            "unknown_etype": self.conf.getbool("aggregate_unknown_etype"),
        }

    def _join_exporter_ids(
        self, decoded: DataFrame, options: DataFrame
    ) -> DataFrame:
        """exporterIPv4Address (IE 130) exposed via Options packets IS
        the exporter identity by default (CONFIG-KEYS:2213) — the IPFIX
        twin of the sFlow Agent Address; nfacctd_ignore_exporter_address
        keeps the socket address. Latest exposition per socket wins;
        tiny dim, broadcast. Batch path only: the latest-wins pick is
        a row_number window over the options stream, which a
        continuously-running streaming plan cannot express (it would
        freeze the dim at .start()) — the streaming path keeps the
        socket address, matching
        nfacctd_ignore_exporter_address=true behavior."""
        from pyspark.sql import Window as _W

        w_last = _W.partitionBy("exporter_ip").orderBy(F.desc("seqno"))
        ids = (
            options.filter(
                F.col("exporter_v4").isNotNull() & (F.col("exporter_v4") > 0)
            )
            .withColumn("__rn", F.row_number().over(w_last))
            .filter("__rn = 1")
            .select(
                F.col("exporter_ip").alias("__sock"),
                ipv4_ntoa("exporter_v4").alias("__exp_id"),
            )
        )
        return (
            decoded.join(
                F.broadcast(ids),
                decoded["exporter_ip"] == ids["__sock"],
                "left",
            )
            .withColumn(
                "exporter_ip",
                F.coalesce(F.col("__exp_id"), F.col("exporter_ip")),
            )
            .drop("__sock", "__exp_id")
        )

    def _store_sync(self, files: list[str], lease: Lease) -> Snapshot:
        """Sync the decoded-flow store with ``files`` (the live spool)
        under ``lease`` and return its snapshot: the batch path's one
        decode route. Callers hold ``_compact_lock``."""
        allow = self._allow_entries()
        sflow = self.flavor == "sflow"
        opts = (
            self._sflow_decode_opts() if sflow else self._netflow_decode_opts()
        )
        conf_key = (
            self.flavor,
            None if allow is None else tuple(allow),
            tuple(sorted(opts.items())),
            tuple(self._account_customs()),
        )
        return self._store.sync(
            files,
            conf_key,
            None if sflow else self._templates_seed(),
            None if sflow else self._learn_spool_files,
            self._decode_spool_files,
            lease,
        )

    def _tagged_datagrams(self, tags: dict, by_datagram: bool = False) -> DataFrame:
        """One scan of the spool files in ``tags`` (``{file: tag}``),
        each datagram carrying its file's tag as column ``FID`` (with
        ``by_datagram``, ``tag << 32 | seqno``: each datagram tagged
        apart, in spool order). Files are told apart by name: one spool
        directory holds them all. No file: an empty frame."""
        import os as _os

        tag = F.create_map(
            *[
                v
                for f, t in tags.items()
                for v in (F.lit(_os.path.basename(f)), F.lit(t))
            ]
        )[F.col("_metadata.file_name")] if tags else F.lit(None).cast("int")
        if by_datagram:
            tag = tag.cast("long") * (1 << 32) + F.col("seqno")
        return self._datagrams(list(tags)).select(
            "exporter_ip", "payload", tag.alias(FID)
        )

    def _learn_spool_files(self, files: list[str]) -> dict:
        """Template definitions of each spool file, in one pass over
        all of them: ``{file: defs}`` (None for a file that redefines a
        template with a different layout)."""
        from pmacct_spark.streaming.decode import learn_template_cache

        by_file = learn_template_cache(
            self._tagged_datagrams({f: i for i, f in enumerate(files)}),
            by=FID,
        )
        return {files[i]: defs for i, defs in by_file.items()}

    def _decode_spool_files(self, fids: dict, templates: dict):
        """The store's rows for the spool files in ``fids``, decoded in
        one pass under ``templates``: their flows (allow-listed
        exporters only) and the other row kinds. NetFlow/IPFIX has
        options records and, under nfacctd_account_options, option
        records accounted as data rows (allow-listed); sFlow has
        counter samples (allow-listed). Every row carries its file's
        id."""
        from pmacct_spark.streaming.decode import (
            OPTIONS_SCHEMA,
            decode_any,
            decode_options,
            decode_options_data,
            decode_sflow_any,
            decode_sflow_counters,
        )

        dg = self._tagged_datagrams(fids)
        allowed = self._exporter_allow_filter(dg)
        if self.flavor == "sflow":
            return (
                decode_sflow_any(allowed, by=FID, **self._sflow_decode_opts()),
                {"counters": decode_sflow_counters(allowed, by=FID)},
            )
        seed = templates or None
        flows = decode_any(
            allowed, seed_templates=seed, by=FID, **self._netflow_decode_opts()
        )
        # no options template to decode options records with: no pass
        other = {
            "options": decode_options(dg, seed_templates=seed, by=FID)
            if _has_options_template(templates)
            else empty_frame(self.spark, OPTIONS_SCHEMA)
        }
        customs = self._account_customs()
        if customs:
            other["account"] = decode_options_data(
                allowed, customs, seed_templates=seed, by=FID
            )
        return flows, other

    def _enriched_flows(
        self,
        snap: Snapshot,
        rib: RibSnapshot | None,
        lease: Lease,
        files: list[str] | None = None,
    ) -> tuple[Callable[[], DataFrame], tuple]:
        """Enriched flows of ``files`` (default: the whole snapshot),
        read under ``lease``: a function returning them, and the
        :meth:`_enrich_key` they were read under. When maps and
        enrichment put a join above the decoded rows, these come from
        the store's enriched layer, synced here: each file is enriched
        once per key, so a drain with no new file and no key change
        builds no enrichment plan. Otherwise the function builds the
        frame lazily (:meth:`_enrich_snapshot`)."""
        if rib is not None:
            rib = _replace(
                rib,
                roa_files=None if self.rtr_client is None
                else self.rtr_client.files(),
            )
        key = self._enrich_key(snap, rib)
        df = self._store.enriched(
            snap,
            key,
            lambda todo, tmp: self._enrich_snapshot(
                snap, todo, None if rib is None else _replace(rib, lease=tmp),
                fid=True,
            ),
            lease,
            files,
        )
        if df is None:
            return (lambda: self._enrich_snapshot(snap, files, rib)), key
        return (lambda: df), key

    def _enrich_key(self, snap, rib: RibSnapshot | None) -> tuple:
        """What a stored file's enriched rows depend on besides its
        decoded rows (the store adds the decode key), computed without
        building a plan, as ``(part, value)`` pairs: the RIB snapshot's
        spool files; the maps generation (:meth:`reload_maps`); the
        bytes of the map files enrichment re-reads on every drain; the
        RTR spool files the ROA table is read from; and, when the
        exporter-id join or the learned sampling rates apply, which
        read options rows across files, the whole snapshot and the
        compacted options appends."""
        reread = []
        for k in _REREAD_MAPS:
            path = self.conf.get(k)
            if not path:
                reread.append(None)
                continue
            try:
                with open(str(path), "rb") as fh:
                    reread.append(fh.read())
            except OSError:  # enrichment raises, if it reads the file
                reread.append(None)
        cross = None
        if self._learns_rates() or (
            self.flavor == "netflow"
            and not self.conf.getbool("nfacctd_ignore_exporter_address")
            and self._has_exporter_ids(snap, None)
        ):
            cross = (snap.key(), self._appends.get("options", 0))
        return (
            ("RIB snapshot", None if rib is None else rib.files),
            ("maps generation", self._maps_gen),
            ("re-read maps", tuple(reread)),
            ("RTR ROA files", None if rib is None else rib.roa_files),
            ("options rows across files", cross),
        )

    def _enrich_snapshot(
        self,
        snap: Snapshot,
        files: list[str] | None = None,
        rib: RibSnapshot | None = None,
        fid: bool = False,
    ) -> DataFrame:
        """Enriched flows of ``files`` (default: the whole snapshot)
        from the store's decoded rows, built lazily. The exporter-id
        join reads the same files' options rows; the sampling rates
        read every live file's. ``rib``: the RIB snapshot (see
        :meth:`_enrich`). With ``fid``, each row keeps its file's id in
        column ``FID``."""
        decoded = snap.flows(files, fid)
        if self.flavor == "sflow":
            return self._enrich(canonical_flows(decoded), rib=rib)
        if not self.conf.getbool(
            "nfacctd_ignore_exporter_address"
        ) and self._has_exporter_ids(snap, files):
            decoded = self._join_exporter_ids(decoded, snap.options(files))
        df = self._account_options_union(
            canonical_flows(decoded), snap.rows("account", files, fid)
        )
        return self._enrich(
            df,
            options=snap.options() if self._learns_rates() else None,
            rib=rib,
        )

    def _has_exporter_ids(self, snap, files: list[str] | None) -> bool:
        """Whether any options row of ``files`` exposes an exporter id
        (IE 130); a drain whose spool exposes none skips the join. With
        no options template in the decode's template set there are no
        options rows to look at; otherwise the answer is memoized on
        the stored rows it reads (the last few: a drain asks for the
        whole snapshot, then for the files it enriches)."""
        if not _has_options_template(
            {**(self._templates_seed() or {}), **snap.templates}
        ):
            return False
        key = snap.key(files)
        memo = self.__dict__.setdefault("_exporter_ids_memo", {})
        if key not in memo:
            opts = snap.options(files)
            if len(memo) >= 4:
                memo.clear()
            memo[key] = bool(
                opts.filter(F.col("exporter_v4") > 0).limit(1).collect()
            )
        return memo[key]

    def _streamed(self) -> DataFrame:
        """The flow frame :meth:`run_continuous`' streaming channels
        aggregate: the spool tailed, decoded and enriched per
        micro-batch."""
        return self._enrich_datagrams(self.spool.stream(self.spark))

    def _decoded(self, lease: Lease) -> tuple[Callable[[], DataFrame], tuple]:
        """The flow frame every batch channel aggregates, read from the
        stores, with the scratch its enrichment stages, under
        ``lease``: a function building it on first use (a drain whose
        channels all read stored aggregates plans none), and its key,
        computed without building a plan: ``((part name, value),
        ...)``, everything the frame's rows depend on (the snapshot's
        file ids, which change when a file is re-decoded; the
        enrichment key; the compacted flows' appends). Equal keys,
        equal rows."""
        # snapshot the live file list, the stores and the compacted side
        # table under one lock: a concurrent tick's maybe_compact_spool
        # could otherwise retire a file after it was listed and append
        # its compacted copy before the union runs — double-counting
        # that file's flows for one drain. Syncing the RIB and the
        # enriched rows under it too keeps concurrent drains and ticks
        # in one order, so none brings back files or a RIB that a
        # newer one already retired; the replicated templates are
        # learned under it, so each templates-spool file once.
        with self._compact_lock:
            self._ingest_replicated_templates()
            files = self._live_spool_files()
            comp = self._compacted_table("flows")
            snap = self._store_sync(files, lease)
            enriched, enrich_key = self._enriched_flows(
                snap, self._rib_snapshot(lease), lease
            )
            key = (
                ("spool files", snap.key()),
                *enrich_key,
                ("compacted flows", self._appends.get("flows", 0)),
            )
        if self.flavor == "netflow":
            if self.conf.get("nfacctd_templates_receiver"):
                self._forward_templates(self._datagrams(files))
            self._persist_templates(snap.templates)

        @functools.cache
        def flows() -> DataFrame:
            df = enriched()
            if comp is not None:
                df = df.unionByName(comp, allowMissingColumns=True)
            return df

        return flows, key

    def _aggregate(
        self, name: str, cfg, flows: Callable, key: tuple, lease: Lease
    ) -> Aggregate:
        """Batch channel ``name``'s aggregate of the drain input ``key``
        names (:meth:`_decoded`), read under ``lease``: the stored one
        (``streaming/store.AggregateStore``), rebuilt, once, over
        ``flows()`` only when the channel's conf or that key changed
        since it was built."""
        from pmacct_spark.pipeline import build_aggregation

        return self._aggregates.sync(
            name,
            (("channel conf", cfg), *key),
            lambda: build_aggregation(flows(), cfg),
            lease,
        )

    def _ports_allowlist(self) -> list[int] | None:
        """Parse ports_file once per daemon (SIGUSR2-reload class,
        like _roa_table)."""
        if not hasattr(self, "_ports_cache"):
            pf = self.conf.get("ports_file")
            if not pf:
                self._ports_cache = None
            else:
                with open(pf) as fh:
                    self._ports_cache = conffile.parse_ports_file(fh.read())
        return self._ports_cache

    def _acct_mode(self, kind: str) -> str:
        """The daemon's ``<flavor>_as`` / ``<flavor>_net`` mode key.
        Prefer the key matching this daemon's flavor (the reference
        daemon reads only its own key): a shared conf setting
        nfacctd_as alongside sfacctd_as must not have the netflow key
        decide for an sflow daemon."""
        own = "sfacctd" if self.flavor == "sflow" else "nfacctd"
        daemons = [own] + [
            d for d in ("nfacctd", "sfacctd", "pmacctd", "uacctd")
            if d != own
        ]
        return next(
            (
                str(v).lower()
                for v in (self.conf.get(f"{d}_{kind}") for d in daemons)
                if v is not None
            ),
            "netflow",
        )

    def _net_funcs(self, df: DataFrame, nets) -> DataFrame:
        """Derive net_src/net_dst + mask_src/mask_dst — the reference's
        net_funcs chain (set_net_funcs, src/net_aggr.c:552-700):

        - networks_mask N (static mode): mask = N applied
          systematically (src/net_aggr.c:558);
        - networks_file: mask = the matched prefix's length (the
          decoded records carry no export mask, so the file match IS
          the mask — the reference's 'file' net mode);
        - networks_no_mask_if_zero: zero-mask records keep the host
          address instead of collapsing to net 0 (CONFIG-KEYS:1087).

        Pure map-side column derivations; Catalyst prunes them when no
        channel aggregates on net/mask primitives."""
        static_mask = self.conf.get("networks_mask")
        net_file = (
            nets is not None
            and self._acct_mode("net") in ("file", "longest")
        )
        # networks_mask alone implies static net mode (the reference
        # sets NF_NET_STATIC when the key is present, src/nfacctd.c:588)
        if static_mask is None and not net_file:
            return df
        from pmacct_spark.operators.lpm import lpm_join, net_addr_sql

        nmiz = self.conf.getbool("networks_no_mask_if_zero")
        for ip_col, net_col, mask_col in (
            ("ip_src_i", "net_src", "mask_src"),
            ("ip_dst_i", "net_dst", "mask_dst"),
        ):
            if ip_col not in df.columns:
                continue
            if static_mask is not None:
                df = df.withColumn(
                    mask_col, F.lit(int(static_mask)).cast("int")
                )
            else:
                nets_df, masklens = nets
                df = lpm_join(
                    df, nets_df, ip_col, {"masklen": "__nf_mask"},
                    masklens=masklens,
                )
                df = df.withColumn(
                    mask_col, F.coalesce("__nf_mask", F.lit(0)).cast("int")
                ).drop("__nf_mask")
            net_i = net_addr_sql(
                ip_col, mask_col, no_mask_if_zero=nmiz, div_op="DIV"
            )
            df = df.withColumn(net_col, ipv4_ntoa(F.expr(net_i)))
        return df

    def _bucket_dict(self, key: str) -> list[int] | None:
        """Parse protos_file / tos_file once per daemon (the
        SIGUSR2-reload class, like _ports_allowlist)."""
        cache = getattr(self, "_bucket_cache", None)
        if cache is None:
            cache = self._bucket_cache = {}
        if key not in cache:
            path = self.conf.get(key)
            if not path:
                cache[key] = None
            else:
                with open(path) as fh:
                    cache[key] = conffile.parse_protos_file(fh.read())
        return cache[key]

    def _networks_table(self):
        """Parse networks_file once per daemon; returns (DataFrame,
        masklens) or None. The masklen list rides along so the per-call
        lpm_join needs no driver-side distinct().collect() per tick.
        Active only when the daemon's *_as or *_net key asks for
        file/longest (reference default is 'netflow': trust the
        export) — the AS-override and net-derivation call sites gate
        on their own key via :meth:`_acct_mode`."""
        if not hasattr(self, "_networks_cache"):
            cache = None
            nets_path = self.conf.get("networks_file")
            if nets_path and (
                self._acct_mode("as") in ("file", "longest")
                or self._acct_mode("net") in ("file", "longest")
            ):
                with open(nets_path) as fh:
                    rows = [
                        r for r in conffile.parse_networks_file(fh.read())
                        if not r["v6"] and r["asn"] is not None
                    ]
                if rows:
                    df = self.spark.createDataFrame(
                        [(r["net_int"], r["masklen"], r["asn"]) for r in rows],
                        "net_int long, masklen int, asn long",
                    )
                    cache = (
                        df, sorted({r["masklen"] for r in rows}, reverse=True)
                    )
            # assign only after a successful parse: a transient read
            # failure raises (and retries next drain) instead of
            # silently disabling the enrichment for the daemon's life
            self._networks_cache = cache
        return self._networks_cache

    def _roa_table(self) -> DataFrame | None:
        """The ROA dim of rpki_roas_file: parsed once per daemon (the
        reference reloads it only on SIGUSR2 too); None without the
        key. A live RTR session's ROAs join it (:meth:`_rtr_roas`)."""
        if not hasattr(self, "_roa_df"):
            roas_path = self.conf.get("rpki_roas_file")
            if not roas_path:
                self._roa_df = None
            else:
                with open(roas_path) as fh:
                    rows = conffile.parse_roas_file(fh.read())
                self._roa_df = self.spark.createDataFrame(
                    [(r["net_int"], r["masklen"], r["maxlen"], r["asn"])
                     for r in rows],
                    "net_int long, masklen int, maxlen int, asn long",
                )
        return self._roa_df

    def _rtr_roas(self, files: list[str] | None) -> DataFrame:
        """The ROA dim of the live RTR session (rpki_rtr_cache):
        re-compacted from the RTR spool ``files`` (None: those spooled
        now) on EVERY call, so a delta the cache pushed between drains
        flips validation statuses at the next drain — the live-reload
        semantics of the BGP RIB."""
        from pmacct_spark.sources.rtr import roa_state

        return roa_state(self.rtr_client.batch(self.spark, files)).filter(
            "afi = 1"
        ).selectExpr("prefix AS net_int", "masklen", "maxlen", "asn")

    def _pretag_map(self) -> _PretagMap | None:
        """pre_tag_map, parsed and compiled once per load (the
        SIGUSR2-reload class, like networks_file): None without the
        key."""
        if not hasattr(self, "_pretag_cache"):
            path = self.conf.get("pre_tag_map")
            if not path:
                self._pretag_cache = None
            else:
                from pmacct_spark.operators.pretag import compile_rules

                with open(path) as fh:
                    text = fh.read()
                self._pretag_cache = _PretagMap(
                    compile_rules(
                        conffile.parse_pretag_map(text), label_out="label"
                    ),
                    "sample_type" in text,
                )
        return self._pretag_cache

    def _agent_map_entries(self) -> list[dict]:
        """Parse-once cache of bgp_agent_map / bmp_agent_map (the
        SIGUSR2-reload class, like allow/ports files)."""
        if not hasattr(self, "_agent_map_cache"):
            path = self.conf.get("bgp_agent_map") or self.conf.get(
                "bmp_agent_map"
            )
            if not path:
                self._agent_map_cache = []
            else:
                with open(path) as fh:
                    self._agent_map_cache = conffile.parse_bgp_agent_map(
                        fh.read()
                    )
        return self._agent_map_cache

    def _bgp_enrich(
        self, df: DataFrame, rib: RibSnapshot | None = None
    ) -> DataFrame:
        """Peer-then-LPM flow correlation against the RIB
        (bgp_srcdst_lookup, reference src/bgp/bgp_lookup.c:33-210):
        dst attributes from the longest matching announced prefix of
        the flow's OWN peer; broadcast joins, the flow side never
        shuffles.

        ``rib`` is the lookup RIB: the batch path passes its RIB
        snapshot (:meth:`_rib_snapshot`); None reads the live RIB
        (:meth:`_live_rib`). Every LPM join
        probes exactly ``rib.masklens``, so with a snapshot no lookup
        runs its own masklen discovery collect."""
        from pmacct_spark.operators.lpm import lpm_join

        amap = self._agent_map_entries()
        if amap:
            # bgp_agent_map / bmp_agent_map (CONFIG-KEYS:2986): the
            # correlation peer is the MAPPED session address, not the
            # exporter address — loopback-peered / RR / NAT-traversal
            # topologies. One map-side CASE, first match wins;
            # unmatched exporters get NULL = no RIB association.
            from pmacct_spark.operators.agentmap import apply_bgp_agent_map

            df = apply_bgp_agent_map(df, amap)
        snap = rib if rib is not None else self._live_rib()
        rib = snap.df.withColumnRenamed("prefix", "net_int")
        masklens = snap.masklens
        attrs = {
            "as_path": "as_path", "local_pref": "local_pref",
            "med": "med", "std_comm": "std_comm",
        }
        defaults = {
            "as_path": "", "local_pref": 0, "med": 0, "std_comm": "",
        }
        roa_df = self._roa_table()
        if self.rtr_client is not None:  # both configured: union
            live = self._rtr_roas(snap.roa_files)
            roa_df = live if roa_df is None else live.unionByName(roa_df)
        if roa_df is not None:
            # validate each RIB route against the ROA table BEFORE the
            # flow join, so flows inherit the looked-up route's status
            # (reference attaches dst ROA the same way, rpki_lookup.c)
            from pmacct_spark.operators.rpki import rpki_validate

            rib = rpki_validate(
                rib.withColumn(
                    "origin_as",
                    F.expr(
                        "CAST(element_at(split(as_path, ' '), -1) AS BIGINT)"
                    ),
                ),
                roa_df,
            ).drop("origin_as")
            attrs["roa_status"] = "dst_roa"  # the registry primitive
            defaults["dst_roa"] = "u"  # off-RIB traffic: unknown
        fdef = int(self.conf.get("bgp_follow_default") or 0)
        lookup_peer = "peer_ip_src"
        if fdef:
            # bgp_follow_default (CONFIG-KEYS; bgp_lookup.c:403-476):
            # default-only/partial-view peerings — when the exporter's
            # RIB answer is its default route, the default gateway's
            # RIB answers instead, recursively up to the budget.
            from pmacct_spark.functions.addr import ipv4_ntoa
            from pmacct_spark.operators.lpm import follow_default_join

            fd_rib = rib.select(
                "peer_ip", "net_int", "masklen",
                F.when(
                    F.col("next_hop").isNotNull()
                    & (F.col("next_hop") > 0),
                    ipv4_ntoa("next_hop"),
                ).alias("nexthop"),
            )
            df = follow_default_join(
                df, fd_rib, "ip_dst_i", "peer_ip_src", fdef,
                masklens=masklens,
            )
            if snap.lease is not None:
                snap.lease.hold(df.lpm_stage_dirs)
            lookup_peer = "__fd_peer"
        out = lpm_join(
            df, rib, "ip_dst_i", attrs, default=defaults,
            extra_keys={lookup_peer: "peer_ip"}, masklens=masklens,
        )
        if lookup_peer == "__fd_peer":
            out = out.drop("__fd_peer")
        fnh = self.conf.get("bgp_follow_nexthop")
        if fnh:
            # bgp_follow_nexthop (+_external) — recursive next-hop
            # resolution for peer_dst_ip, into the registry's column
            # peer_ip_dst (bgp_follow_nexthop_lookup
            # src/bgp/bgp_lookup.c:480; CONFIG-KEYS:3040-3055)
            from pmacct_spark.functions.addr import ipv4_ntoa
            from pmacct_spark.operators.lpm import follow_nexthop_join

            nh_rib = rib.filter(
                F.col("next_hop").isNotNull() & (F.col("next_hop") > 0)
            ).select(
                "peer_ip", "net_int", "masklen",
                ipv4_ntoa("next_hop").alias("nexthop"),
            )
            prefixes = [
                p.strip() for p in str(fnh).split(",") if p.strip()
            ]
            out = follow_nexthop_join(
                out, nh_rib, "ip_dst_i", "peer_ip_src", prefixes,
                out_col="__fnh_follow", external_col="__fnh_ext",
            )
            if snap.lease is not None:
                snap.lease.hold(out.lpm_stage_dirs)
            ext = self.conf.getbool("bgp_follow_nexthop_external")
            out = out.withColumn(
                "peer_ip_dst",
                F.col("__fnh_ext" if ext else "__fnh_follow"),
            ).drop("__fnh_follow", "__fnh_ext")
        radius = self.conf.get("bgp_aspath_radius")
        if radius:
            # bgp_aspath_radius (reference CONFIG-KEYS, bgp_util.c):
            # cut the rendered AS-path after N hops — aggregation-key
            # cardinality control for as_path channels
            out = out.withColumn(
                "as_path",
                F.expr(
                    "array_join(slice(split(as_path, ' '), 1, "
                    f"{int(radius)}), ' ')"
                ),
            )
        # bgp_stdcomm_pattern / bgp_extcomm_pattern /
        # bgp_lrgcomm_pattern (CONFIG-KEYS:2872): substring matching
        # with '.' single-character wildcards, multiple occurrences,
        # comma-separated patterns — the reference's
        # evaluate_comm_patterns (src/bgp/bgp_util.c:1014) reproduced
        # as a JVM-side token fold (operators/comms.py).
        from pmacct_spark.operators.comms import (
            comm_pattern_sql,
            comm_to_asn_cols,
            split_patterns,
        )

        # *_pattern_to_asn must see the PRISTINE community string
        # (the reference evaluates it against info->attr->community->
        # str, src/pkt_handlers.c:5592, not the display-filtered
        # copy) — snapshot before the display-filter loop below
        # rewrites std_comm/lrg_comm in place.
        to_asn_std = self.conf.get("bgp_stdcomm_pattern_to_asn")
        to_asn_lrg = self.conf.get("bgp_lrgcomm_pattern_to_asn")
        if to_asn_std and to_asn_lrg:
            raise ValueError(
                "bgp_stdcomm_pattern_to_asn and bgp_lrgcomm_pattern_"
                "to_asn are mutually exclusive (src/nfacctd.c:1041)"
            )
        to_asn_col = "std_comm" if to_asn_std else "lrg_comm"
        if to_asn_std or to_asn_lrg:
            if to_asn_col not in out.columns:
                out = lpm_join(
                    out, rib, "ip_dst_i", {to_asn_col: to_asn_col},
                    default={to_asn_col: ""},
                    extra_keys={"peer_ip_src": "peer_ip"},
                    masklens=masklens,
                )
            out = out.withColumn("__to_asn_src", F.col(to_asn_col))
        for key, col in (
            ("bgp_stdcomm_pattern", "std_comm"),
            ("bgp_extcomm_pattern", "ext_comm"),
            ("bgp_lrgcomm_pattern", "lrg_comm"),
        ):
            pat = self.conf.get(key)
            if not pat:
                continue
            if col not in out.columns:
                # std_comm is always enriched; ext/lrg only matter
                # when their pattern asks for them
                out = lpm_join(
                    out, rib, "ip_dst_i", {col: col}, default={col: ""},
                    extra_keys={"peer_ip_src": "peer_ip"},
                    masklens=masklens,
                )
            out = out.withColumn(
                col,
                F.expr(comm_pattern_sql(col, split_patterns(str(pat)))),
            )
        # bgp_stdcomm_pattern_to_asn / bgp_lrgcomm_pattern_to_asn
        # (CONFIG-KEYS:2884, mutually exclusive per src/nfacctd.c:1041):
        # when the AS-path yields no ASN (statics/connected
        # redistributed in BGP), the first community matching the
        # pattern maps Peer-AS:Origin-AS onto peer_dst_as / dst_as
        # (copy_stdcomm_to_asn, src/pkt_handlers.c:5586-5615).
        if to_asn_std or to_asn_lrg:
            filt = comm_pattern_sql(
                "__to_asn_src",
                split_patterns(str(to_asn_std or to_asn_lrg)),
            )
            peer_c, origin_c = comm_to_asn_cols(filt)
            # dst_as falls back from the path's LAST hop
            # (evaluate_last_asn), peer_dst_as from its FIRST
            # (evaluate_first_asn) — src/pkt_handlers.c:5586, :5607;
            # bgp_peer_as_skip_subas skips confed sub-AS segments
            from pmacct_spark.operators.comms import (
                first_asn_sql,
                last_asn_sql,
            )

            skip_subas = self.conf.getbool("bgp_peer_as_skip_subas")
            last_asn = F.expr(last_asn_sql("as_path"))
            first_asn = F.expr(
                first_asn_sql("as_path", skip_subas=skip_subas)
            )
            out = out.withColumn(
                "dst_as",
                F.when(last_asn > 0, last_asn).otherwise(origin_c),
            ).withColumn(
                "peer_dst_as",
                F.when(first_asn > 0, first_asn).otherwise(peer_c),
            ).drop("__to_asn_src")
        return out

    def _peer_as_enrich(
        self, df: DataFrame, rib: RibSnapshot | None = None
    ) -> DataFrame:
        """The source-peer-ASN method selectors + the [ns]facctd
        peer-AS flip:

        - ``nfacctd_peer_as`` / ``sfacctd_peer_as``
          (CONFIG-KEYS:2561): the export's src_as/dst_as values
          populate peer_src_as / peer_dst_as;
        - ``bgp_peer_src_as_type: map`` (CONFIG-KEYS:2902) +
          ``bgp_peer_src_as_map``: first-match-wins over ip (exporter
          prefix), in (ifIndex), src_mac, vlan; ``id=bgp`` entries
          fall through to the RIB lookup
          (BPAS_map src/pretag_handlers.c:2851);
        - ``bgp_peer_src_as_type: bgp``: native RIB lookup of the
          flow's SOURCE address — peer_src_as = the first AS hop of
          the src route's path (evaluate_first_asn,
          src/pkt_handlers.c:5341);
        - ``bgp_src_local_pref_type`` / ``bgp_src_med_type`` /
          ``bgp_src_std|ext|lrg_comm_type`` / ``bgp_src_as_path_type``
          = 'bgp' (CONFIG-KEYS:2921-2960): the src-side route
          attributes from the same reverse lookup.

        ``rib`` is the lookup RIB, as for :meth:`_bgp_enrich`."""
        own = "sfacctd" if self.flavor == "sflow" else "nfacctd"
        if self.conf.getbool(f"{own}_peer_as"):
            if "as_src" in df.columns:
                df = df.withColumn(
                    "peer_src_as", F.col("as_src").cast("bigint")
                )
            if "as_dst" in df.columns:
                df = df.withColumn(
                    "peer_dst_as", F.col("as_dst").cast("bigint")
                )
        psa_type = str(
            self.conf.get("bgp_peer_src_as_type") or ""
        ).lower()
        src_attr_types = {
            "as_path": "bgp_src_as_path_type",
            "local_pref": "bgp_src_local_pref_type",
            "med": "bgp_src_med_type",
            "std_comm": "bgp_src_std_comm_type",
            "ext_comm": "bgp_src_ext_comm_type",
            "lrg_comm": "bgp_src_lrg_comm_type",
        }
        want_src_attrs = {
            col: f"src_{col}"
            for col, key in src_attr_types.items()
            if str(self.conf.get(key) or "").lower() == "bgp"
        }
        # bgp_src_local_pref_map / bgp_src_med_map (CONFIG-KEYS;
        # examples/lpref.map.example, med.map.example): hard-coded
        # values matched on exporter ip / ifIndex / src_mac / vlan /
        # bgp_nexthop, with id=bgp falling through to the reverse RIB
        # lookup — the bgp_peer_src_as_map grammar applied to the
        # src_local_pref / src_med primitives
        src_map_rules: dict[str, list] = {}
        for col, tkey, mkey in (
            ("local_pref", "bgp_src_local_pref_type",
             "bgp_src_local_pref_map"),
            ("med", "bgp_src_med_type", "bgp_src_med_map"),
        ):
            if str(self.conf.get(tkey) or "").lower() != "map":
                continue
            mpath = self.conf.get(mkey)
            if not mpath:
                # the reference exits: "set to 'map' but no map
                # defined" (src/nfacctd.c:1068)
                raise ValueError(
                    f"{tkey} set to 'map' but no {mkey} defined"
                )
            with open(str(mpath)) as fh:
                src_map_rules[col] = conffile.parse_bgp_peer_src_as_map(
                    fh.read()
                )
        has_rib = (
            self.bgp_spool is not None or self.bmp_spool is not None
        )
        needs_lookup = has_rib and (
            psa_type in ("map", "bgp") or want_src_attrs
            or src_map_rules
        )
        if not needs_lookup:
            return df
        from pmacct_spark.operators.lpm import lpm_join

        snap = rib if rib is not None else self._live_rib()
        rib = snap.df.withColumnRenamed("prefix", "net_int")
        attrs = dict(want_src_attrs)
        if psa_type in ("map", "bgp"):
            attrs["as_path"] = attrs.get("as_path", "__src_as_path")
        map_rules = []
        if psa_type == "map":
            mpath = self.conf.get("bgp_peer_src_as_map")
            if mpath:
                with open(str(mpath)) as fh:
                    map_rules = conffile.parse_bgp_peer_src_as_map(
                        fh.read()
                    )
        for col in src_map_rules:
            # the id=bgp fallback needs the RIB's own value
            attrs.setdefault(col, f"__src_{col}_bgp")
        if any(
            r.get("bgp_nexthop")
            for rules in ([map_rules] + list(src_map_rules.values()))
            for r in rules
        ):
            attrs["next_hop"] = "__src_next_hop"
        df = lpm_join(
            df, rib, "ip_src_i", attrs,
            extra_keys={"peer_ip_src": "peer_ip"},
            masklens=snap.masklens,
        )
        ap_col = want_src_attrs.get("as_path", "__src_as_path")
        from pmacct_spark.operators.comms import first_asn_sql

        bgp_val = F.expr(
            first_asn_sql(
                ap_col,
                skip_subas=self.conf.getbool("bgp_peer_as_skip_subas"),
            )
        )
        from pmacct_spark.functions.addr import ipv4_aton, ipv4_ntoa

        def _rule_case(rules, bgp_fallback):
            """First-match-wins CASE over the shared map grammar
            (BPAS_map and friends, src/pretag_handlers.c:2851):
            exporter ip prefix / ifIndex / vlan / src_mac /
            bgp_nexthop matches; id=bgp falls through to the RIB."""
            expr = F.lit(None).cast("bigint")
            for r in reversed(rules):  # earlier rule wins
                cond = F.lit(True)
                if "ip" in r and r["ip"].version == 4:
                    div = 1 << (32 - r["ip"].prefixlen)
                    a = ipv4_aton(F.col("peer_ip_src"))
                    cond = cond & (
                        (a - (a % div))
                        == int(r["ip"].network_address)
                    )
                if "in" in r and "iface_in" in df.columns:
                    cond = cond & (F.col("iface_in") == r["in"])
                if "vlan" in r and "vlan" in df.columns:
                    cond = cond & (F.col("vlan") == r["vlan"])
                if "src_mac" in r and "mac_src" in df.columns:
                    cond = cond & (
                        F.lower(F.col("mac_src")) == r["src_mac"]
                    )
                if "bgp_nexthop" in r:
                    cond = cond & (
                        ipv4_ntoa(F.col("__src_next_hop"))
                        == r["bgp_nexthop"]
                    )
                val = (
                    bgp_fallback
                    if r["id"] == "bgp"
                    else F.lit(int(r["id"])).cast("bigint")
                )
                expr = F.when(cond, val).otherwise(expr)
            return expr

        if psa_type == "bgp":
            df = df.withColumn("peer_src_as", bgp_val)
        elif psa_type == "map":
            df = df.withColumn(
                "peer_src_as",
                F.coalesce(_rule_case(map_rules, bgp_val), F.lit(0)),
            )
        for col, rules in src_map_rules.items():
            rib_val = F.col(f"__src_{col}_bgp").cast("bigint")
            df = df.withColumn(
                f"src_{col}",
                F.coalesce(_rule_case(rules, rib_val), F.lit(0)),
            )
        return df.drop(
            "__src_as_path", "__src_next_hop",
            *[f"__src_{c}_bgp" for c in src_map_rules],
        )

    def _custom_primitives(self) -> list:
        """aggregate_primitives map (CONFIG-KEYS:174, reference struct
        custom_primitive_entry src/cfg.h:45-63) -> CustomIE list."""
        path = self.conf.get("aggregate_primitives")
        if not path:
            return []
        with open(path) as fh:
            customs = conffile.parse_custom_primitives(fh.read())
        from pmacct_spark.registry import register_custom

        for c in customs:
            # make each map entry addressable from aggregate[...] —
            # the reference registers them into the primitives vector
            # the same way (custom_primitives_reconcile, src/cfg.c)
            register_custom(
                c.name,
                c.name,
                "bigint" if c.semantics == "u_int" else "string",
            )
        return customs

    def _account_customs(self) -> list:
        """The aggregate_primitives entries option records are accounted
        with under nfacctd_account_options; [] when it is off."""
        if self.flavor != "netflow" or not self.conf.getbool(
            "nfacctd_account_options"
        ):
            return []
        return self._custom_primitives()

    def _account_options_union(
        self, df: DataFrame, opts: DataFrame | None
    ) -> DataFrame:
        """nfacctd_account_options (CONFIG-KEYS:2083-2102): option
        records enter the accounting channel as DATA rows (reference
        exec_plugins on option records, src/nfacctd.c:2443), with
        aggregate_primitives supplying their columns: ``opts``, the
        decoded option rows (None: none are accounted). Every row gains
        ``flow_type`` (flows via NF_evaluate_flow_type semantics,
        option rows pre-stamped 200) so pre_tag_map
        ``sample_type=flow|option`` + per-plugin pre_tag_filter split
        the channels — the CONFIG-KEYS VRF-name / ifname logging
        workflow. ``flow_type`` is also computed (without the union)
        when the pre_tag_map carries sample_type rules but
        account_options is off, matching the reference where the
        pretag handler works on any record type."""
        ptm = self._pretag_map()
        if not self.conf.getbool("nfacctd_account_options") and (
            ptm is None or not ptm.sample_type
        ):
            return df
        from pmacct_spark.streaming.decode import flow_type_column

        df = df.withColumn("flow_type", flow_type_column(df))
        if opts is None:
            return df
        opts = opts.withColumn(
            "peer_ip_src", F.col("exporter_ip")
        ).withColumn("peer_src_ip", F.col("exporter_ip"))
        return df.unionByName(opts, allowMissingColumns=True)

    def _learns_rates(self) -> bool:
        """nfacctd_renormalize with no sampling_map: sampling rates are
        learned from the exporters' options records."""
        return bool(
            not self.conf.get("sampling_map")
            and self.conf.getbool("nfacctd_renormalize")
            and self.flavor == "netflow"
        )

    def _maps(
        self, df: DataFrame, options: DataFrame | None = None
    ) -> DataFrame:
        """Apply the configured maps, exactly as the reference's
        find_id / sampling-map passes tag and renormalize records
        before plugin fan-out (src/pretag.c:1117). ``options`` are the
        live spool's decoded options rows, for the learned sampling
        rates (read only when rates are learned)."""
        ptm = self._pretag_map()
        if ptm is not None:
            df = df.withColumns(ptm.columns)
        allowed = self._ports_allowlist()
        if allowed is not None:
            from pmacct_spark.operators.dicts import apply_allowlist

            for c in ("port_src", "port_dst"):
                if c in df.columns:
                    df = apply_allowlist(df, c, allowed)
        if self.conf.getbool("tos_encode_as_dscp") and "tos" in df.columns:
            # tos_encode_as_dscp (CONFIG-KEYS): carry the 6 DSCP bits
            # as the tos primitive — tos_file then lists DSCP values
            # (its documented interplay)
            df = df.withColumn("tos", F.expr("tos DIV 4"))
        for key, col in (("protos_file", "ip_proto"), ("tos_file", "tos")):
            # protos_file / tos_file bucket unlisted values as 255
            # 'others' (load_protos/load_tos,
            # src/plugin_common.c:1328,1481) — aggregators, not filters
            vals = self._bucket_dict(key)
            if vals is not None and col in df.columns:
                from pmacct_spark.operators.dicts import apply_bucket_others

                df = apply_bucket_others(df, col, vals)
        nets = self._networks_table()
        if nets is not None and self._acct_mode("as") in ("file", "longest"):
            # networks_file overrides the export's AS numbers with the
            # operator's own table (<daemon>_as: file / longest,
            # reference src/net_aggr.c) — LPM per address, asn wins
            # over whatever the exporter put in the record. With
            # networks_file_no_lpm (CONFIG-KEYS:1062) the override
            # applies ONLY where the file matched: unmatched records
            # keep the export's AS instead of being zeroed
            # (search_src_as, src/net_aggr.c:1070-1078 `if (mask)`)
            from pmacct_spark.operators.lpm import lpm_join

            no_lpm = self.conf.getbool("networks_file_no_lpm")
            nets_df, masklens = nets
            for ip_col, as_col in (
                ("ip_src_i", "as_src"), ("ip_dst_i", "as_dst")
            ):
                df = lpm_join(
                    df, nets_df, ip_col, {"asn": "__nf_as"},
                    masklens=masklens,
                )
                keep = F.col(as_col) if no_lpm else F.lit(0)
                df = df.withColumn(
                    as_col, F.coalesce(F.col("__nf_as"), keep)
                ).drop("__nf_as")
        df = self._net_funcs(df, nets)
        smap = self.conf.get("sampling_map")
        if self._learns_rates():
            # no sampling_map: learn sampler rates from options-data
            # records arriving ON THE SAME SOCKET (the reference's
            # tests/104 sampling-option path — nfacctd_renormalize
            # picks up the exporter's own exposition,
            # src/nfacctd.c:1965 options dispatch). Latest exposition
            # per exporter wins; tiny dim, broadcast.
            from pyspark.sql import Window as _W

            comp_opts = self._compacted_table("options")
            if comp_opts is not None:
                # expositions whose datagrams were compacted away must
                # still rate new flows (latest per exporter wins below)
                options = options.unionByName(
                    comp_opts, allowMissingColumns=True
                )
            w_last = _W.partitionBy("exporter_ip").orderBy(F.desc("seqno"))
            rates = (
                options.filter("sampling_rate IS NOT NULL")
                .withColumn("__rn", F.row_number().over(w_last))
                .filter("__rn = 1")
                .select(
                    F.col("exporter_ip").alias("__exp"),
                    F.col("sampling_rate").alias("__rate"),
                )
            )
            df = (
                df.join(
                    F.broadcast(rates),
                    df["peer_ip_src"] == rates["__exp"],
                    "left",
                )
                .withColumn(
                    "sampling_rate",
                    F.coalesce(F.col("__rate"), F.lit(1)).cast("long"),
                )
                .drop("__exp", "__rate")
            )
        if smap:
            with open(smap) as fh:
                rows = conffile.parse_sampling_map(fh.read())
            # first-match-wins when/otherwise chain (tiny rule list,
            # broadcast-free codegen; reference sampling_map semantics)
            rate = F.lit(1).cast("long")
            for r in reversed(rows):
                cond = F.col("peer_ip_src") == F.lit(r["exporter_ip"])
                for ic in ("iface_in", "iface_out"):
                    if ic in r:
                        cond = cond & (F.col(ic) == F.lit(r[ic]))
                rate = F.when(cond, F.lit(r["rate"]).cast("long")).otherwise(rate)
            df = df.withColumn("sampling_rate", rate)
        ext_rate = next(
            (
                self.conf.get(f"{d}_ext_sampling_rate")
                for d in ("nfacctd", "sfacctd", "pmacctd", "uacctd")
                if self.conf.get(f"{d}_ext_sampling_rate")
            ),
            None,
        )
        if ext_rate:
            # [ns]facctd_ext_sampling_rate (CONFIG-KEYS:2422): flag a
            # fixed external sampling rate — overrides agent-reported
            # or map rates (sampling_rate_handler,
            # src/pkt_handlers.c:2046: ext wins), feeding the same
            # renormalize / sampling_rate primitives
            df = df.withColumn(
                "sampling_rate", F.lit(int(ext_rate)).cast("long")
            )
        # guarantee the columns the channel configs reference even when
        # the producing map is absent (tag=0 untagged, rate=1 unsampled)
        # — otherwise pipeline.route's pre_tag_filter and renormalize
        # steps raise on the missing column
        if "tag" not in df.columns:
            df = df.withColumn("tag", F.lit(0).cast("bigint"))
        if "sampling_rate" not in df.columns:
            df = df.withColumn("sampling_rate", F.lit(1).cast("long"))
        return df

    def _flush_spools(self) -> None:
        """Make everything received so far readable before planning:
        the flow, replicated-templates and BGP/BMP session spools."""
        for sp in (self.spool, self.tmpl_spool, self.bgp_spool, self.bmp_spool):
            if sp is not None:
                sp.flush()

    def run_available(self, streaming: bool = True) -> dict[str, DataFrame]:
        """Process everything received so far through EVERY configured
        plugin channel (availableNow semantics), deliver to each
        plugin's sink (the ``sinks.plugins`` table) and register each
        channel's aggregate as the temp view ``imt_<name>``. Returns
        {plugin_name: result DataFrame}. ``streaming`` selects nothing:
        every channel is served from the stores."""
        from pmacct_spark.sinks.plugins import plugin, run_trigger

        self._flush_spools()
        results: dict[str, DataFrame] = {}
        ptype_by_name = self._ptype_by_name()
        # Each spool file is decoded ONCE, into the decoded-flow store
        # (the reference decodes once and fans out to plugins,
        # src/plugin_hooks.c), and each channel's aggregate is kept,
        # like the reference's plugin cache: a channel whose input key
        # did not change reads its stored table, and the drain's flow
        # frame is built only when a channel rebuilds or a probe reads
        # it. One drain: what it reads stays readable for the caller's
        # lazy results until two more drains start.
        lease = self._scratch.lease()
        flows, key = self._decoded(lease)
        for name, cfg in self.channels.items():
            agg = self._aggregate(name, cfg, flows, key, lease)
            if self._views.get(name) is not agg:
                agg.df.createOrReplaceTempView(f"imt_{name}")
                self._views[name] = agg
            out = agg.df
            ptype = ptype_by_name.get(name, "memory")
            wid = self.conf.get("writer_id_string", name)
            if wid:
                # writer_id_string (reference CONFIG-KEYS): stamp every
                # emitted record with the writer's identity —
                # $proc_name renders as plugin/type, $writer_pid as
                # this process id, matching the reference's tokens
                import os as _os

                rendered = (
                    str(wid)
                    .replace("$proc_name", f"{name}/{ptype}")
                    .replace("$writer_pid", str(_os.getpid()))
                )
                out = out.withColumn("writer_id", F.lit(rendered))
            row = plugin(ptype)
            if row.emit is not None:
                row.emit(self, name, out, flows)
            if row.prefix:
                run_trigger(self, name, row.prefix)
            results[name] = out
        self.dump_rib_if_configured()
        self.write_msglog_if_configured()
        return results

    def dump_rib_if_configured(self) -> str | None:
        """Write a periodic RIB table dump when bgp_table_dump_file is
        configured (reference src/bgp/bgp_logdump.c timer path, config
        keys bgp_table_dump_file / _refresh_time / CONFIG-KEYS
        dump-spreading time slots). Returns the dump path, or None."""
        path = self.conf.get("bgp_table_dump_file")
        prefix = "bgp_table_dump"  # key family matching the path key
        if not path:
            path, prefix = self.conf.get("bmp_dump_file"), "bmp_dump"
        topic = None
        if not path:
            for p in ("bgp_table_dump", "bmp_dump"):
                t = self.conf.get(f"{p}_kafka_topic")
                if t:
                    topic, prefix = str(t), p
                    break
        if (path is None and topic is None) or (
            self.bgp_spool is None and self.bmp_spool is None
        ):
            return None
        import time as _time

        from pmacct_spark.sinks.dump import rib_dump_events, write_rib_dump

        refresh = int(
            self.conf.get(f"{prefix}_refresh_time", default=60) or 60
        )
        slots = int(self.conf.get(f"{prefix}_time_slots", default=1) or 1)
        ts_now = int(_time.time())
        # bmp_dump_exclude_stats (CONFIG-KEYS:3217): Type-1 Stats
        # Reports are cached for the dump by default; true = msglog
        # only (src/bmp/bmp_msg.c:1124)
        dump_stats = (
            prefix == "bmp_dump"
            and self.bmp_spool is not None
            and not self.conf.getbool("bmp_dump_exclude_stats")
        )
        rib = self.rib(for_lookup=False)
        if (
            prefix == "bmp_dump"
            and self.conf.getbool("bmp_daemon_set_pd")
            and "rd" in rib.columns
        ):
            # bmp_daemon_set_pd on the dump side (same field-name
            # switch as msglog, src/bmp/bmp_logdump.c:557)
            rib = rib.withColumnRenamed("rd", "pd")
        if path:
            write_rib_dump(
                rib, path, dump_ts=ts_now,
                refresh_secs=refresh, time_slots=slots,
            )
            if dump_stats:
                from pmacct_spark.sinks.dump import write_bmp_stats_dump

                write_bmp_stats_dump(
                    self._session_events("bmp"), path, dump_ts=ts_now,
                    refresh_secs=refresh, time_slots=slots,
                )
            latest = self.conf.get(f"{prefix}_latest_file")
            if latest:
                # bgp_table_dump_latest_file / bmp_dump_latest_file
                # (CONFIG-KEYS:3223): pointer to the newest dump leaf,
                # updated by modification time like print_latest_file
                from pmacct_spark.sinks.files import (
                    _update_latest_pointer,
                )

                _update_latest_pointer(path, str(latest))
            return path
        # bgp_table_dump_kafka_topic / bmp_dump_kafka_topic
        # (src/bgp/bgp_logdump.c kafka branches): the same dump event
        # stream shipped through the live wire producer, keyed by peer
        # so per-peer event order holds within a partition
        from pmacct_spark.sources.kafka_wire import produce_frames

        khost = self.conf.get(
            f"{prefix}_kafka_broker_host", default="127.0.0.1"
        )
        kport = int(
            self.conf.get(f"{prefix}_kafka_broker_port", default=9092)
            or 9092
        )
        events = rib_dump_events(rib, ts_now, refresh, slots)
        frames = events.select(
            F.col("peer_ip").alias("key"),
            F.to_json(F.struct(*[c for c in events.columns])).alias("value"),
            F.lit(topic).alias("topic"),
        )
        if dump_stats:
            from pmacct_spark.sinks.dump import bmp_stats_dump_events

            sev = bmp_stats_dump_events(
                self._session_events("bmp"), ts_now, refresh, slots
            )
            frames = frames.unionByName(
                sev.select(
                    F.col("peer_ip").alias("key"),
                    F.to_json(
                        F.struct(*[c for c in sev.columns])
                    ).alias("value"),
                    F.lit(topic).alias("topic"),
                )
            )
        produce_frames(
            frames, str(khost), kport,
            **self._kafka_wire_opts(prefix),
        )
        return f"kafka://{khost}:{kport}/{topic}"

    def _kafka_wire_opts(self, prefix: str, plugin: str | None = None) -> dict:
        """``{prefix}_kafka_config_file`` (librdkafka property
        passthrough, CONFIG-KEYS:851 family) and
        ``{prefix}_kafka_partition`` (fixed partition id) resolved to
        wire-producer options — shared by the msglog/dump/counter
        Kafka emitters and, with ``prefix=""``, the Kafka plugin's
        ``kafka_config_file[plugin]`` / ``kafka_partition[plugin]``."""
        pfx = f"{prefix}_" if prefix else ""
        opts: dict = {}
        kcf = self.conf.get(f"{pfx}kafka_config_file", plugin)
        if kcf:
            from pmacct_spark.sources.kafka_wire import (
                wire_producer_options,
            )

            with open(str(kcf)) as fh:
                opts = wire_producer_options(
                    conffile.parse_kafka_config_file(fh.read())
                )
        kpart = self.conf.get(f"{pfx}kafka_partition", plugin)
        if kpart is not None and int(kpart) >= 0:
            opts["partition"] = int(kpart)
        return opts

    def _ha_replay_cutoff(self, spool, prefix: str) -> int | None:
        """First spool chunk seqno the HA takeover replay may emit,
        per the standby-queue bounds ({prefix}_ha_queue_message_timeout
        seconds / {prefix}_ha_queue_max_size chunks, CONFIG-KEYS).
        Chunk age comes from the spool FILE mtimes (file s<n>.parquet
        holds chunk seqno n — seq and nfile advance in lockstep);
        both bounds are loose in the reference too (1s cleanup
        cadence). None = no bound configured."""
        import os
        import re
        import time

        timeout = self.conf.get(f"{prefix}_ha_queue_message_timeout")
        max_size = self.conf.get(f"{prefix}_ha_queue_max_size")
        if timeout is None and max_size is None:
            return None
        files: list[tuple[int, float]] = []
        try:
            for f in os.listdir(spool.spool_dir):
                m = re.match(r"s(\d+)\.parquet$", f)
                if m:
                    files.append((
                        int(m.group(1)),
                        os.path.getmtime(
                            os.path.join(spool.spool_dir, f)
                        ),
                    ))
        except OSError:
            return None
        if not files:
            return None
        cut = 0
        if timeout is not None and float(timeout) >= 0:
            cutoff_t = time.time() - float(timeout)
            expired = [n for n, mt in files if mt < cutoff_t]
            if expired:
                cut = max(cut, max(expired) + 1)
        if max_size is not None and int(max_size) > 0:
            top = max(n for n, _mt in files)
            cut = max(cut, top - int(max_size) + 1)
        return cut or None

    def write_msglog_if_configured(self) -> list[str]:
        """Per-event BGP/BMP message log (reference bgp_daemon_msglog_*
        / bmp_daemon_msglog_*, src/bgp/bgp_logdump.c): when
        ``bgp_daemon_msglog_file`` / ``bmp_daemon_msglog_file`` is
        set, render the session's full event log (log_init / log /
        log_close, per-peer seq) as JSON lines under the path; when
        ``*_msglog_kafka_topic`` is set (with
        ``*_msglog_kafka_broker_host``/``_port``), ship the same
        frames through the live Kafka wire producer; when
        ``*_msglog_amqp_routing_key`` is set, publish them on the
        AMQP exchange over the live 0-9-1 wire. Returns the sinks
        written."""
        wrote: list[str] = []
        if self.ha is not None and not self.ha.forwarding:
            # HA STANDBY (reference src/ha.c bmp_bgp_forwarding): hold
            # all msglog emission. The per-family generation marker is
            # NOT advanced, so the first call after takeover replays
            # the session's FULL history from the spool — the queue
            # dump of src/ha.c:222-266 with unlimited retention
            # (test 206 scenario-01), the consumer misses nothing.
            self._ha_held = True
            return wrote
        takeover = self.ha is not None and getattr(
            self, "_ha_held", False
        )
        if takeover:
            self._ha_held = False
        for family, spool, fam in (
            ("bgp_daemon_msglog", self.bgp_spool, "bgp"),
            ("bmp_daemon_msglog", self.bmp_spool, "bmp"),
        ):
            if spool is None:
                continue
            path = self.conf.get(f"{family}_file")
            topic = self.conf.get(f"{family}_kafka_topic")
            amqp_key = self.conf.get(f"{family}_amqp_routing_key")
            if not path and not topic and not amqp_key:
                continue
            # flat tick cost: the log render replays the SESSION
            # HISTORY (per-peer seq needs the full stream), so only
            # rewrite when new data arrived — the serve loop's cadence
            # must not multiply an O(history) render per tick. The
            # generation is the file list the render reads.
            files = spool.files()
            gen = tuple(files)
            seen = getattr(self, "_msglog_gen", {})
            if seen.get(family) == gen:
                continue
            ev = self._session_events(fam, files)
            if (
                family == "bmp_daemon_msglog"
                and self.conf.getbool("bmp_daemon_set_pd")
                and "rd" in ev.columns
            ):
                # bmp_daemon_set_pd (CONFIG-KEYS:3331; pd_target in
                # src/bmp/bmp_logdump.c:423): the BMP per-peer-header
                # Peer Distinguisher encodes in a separate "pd" field
                # instead of "rd". All-zero distinguishers are NULL
                # and to_json omits them — the reference's
                # is_empty_256b skip.
                ev = ev.withColumnRenamed("rd", "pd")
            if takeover:
                # [bgp|bmp]_daemon_ha_queue_message_timeout /
                # _ha_queue_max_size (CONFIG-KEYS; the standby queue
                # cleanup thread, src/ha.c): bound what the takeover
                # replays — messages older than the timeout or beyond
                # the newest max_size chunks are discarded, exactly
                # what the reference's 1s-interval pruner would have
                # dropped. Unset keys keep the full-history replay
                # (the scenario-01 unlimited-retention shape).
                cut = self._ha_replay_cutoff(
                    spool, family.replace("_msglog", "")
                )
                if cut:
                    ev = ev.filter(F.expr(f"(seq >> 24) >= {cut}"))
            # bgp_daemon_tag_map / bmp_daemon_tag_map (CONFIG-KEYS:
            # the pre_tag_map equivalent for the BGP/BMP threads —
            # only ip MATCH + set_tag/set_label SET): tag each event
            # by its peer address before logging
            tag_map = self.conf.get(family.replace("_msglog", "_tag_map"))
            if tag_map:
                from pmacct_spark.operators.pretag import apply_pretag

                with open(tag_map) as fh:
                    tag_rules = conffile.parse_pretag_map(fh.read())
                # ip= matches the SESSION peer (the router whose
                # BGP/BMP connection this is — exporter_ip in the
                # event schema), like the reference's per-thread
                # find_id against the peer's address
                ev = apply_pretag(
                    ev.withColumn("peer_src_ip", F.col("exporter_ip")),
                    tag_rules,
                    label_out="label",
                ).drop("peer_src_ip", "tag2")
            lf = self.conf.get(f"{family}_label_filter")
            if lf:
                # *_msglog_label_filter: log only events whose label
                # matches one of the comma-separated values (OR)
                labels = [x.strip() for x in str(lf).split(",") if x.strip()]
                if "label" in ev.columns:
                    ev = ev.filter(F.col("label").isin(labels))
                else:  # no tag map -> nothing carries a label
                    ev = ev.filter(F.lit(False))
            if path:
                from pmacct_spark.sinks.msglog import write_msglog

                write_msglog(ev, path)
                wrote.append(path)
            if topic:
                from pmacct_spark.sinks.msglog import msglog_kafka_frames
                from pmacct_spark.sources.kafka_wire import produce_frames

                host = self.conf.get(
                    f"{family}_kafka_broker_host", default="127.0.0.1"
                )
                port = int(
                    self.conf.get(f"{family}_kafka_broker_port", default=9092)
                    or 9092
                )
                out_fmt = str(
                    self.conf.get(f"{family}_output", default="json")
                    or "json"
                ).lower()
                if out_fmt == "avro":
                    # bgp/bmp_daemon_msglog_output: avro (+ optional
                    # *_kafka_avro_schema_registry Confluent framing and
                    # *_avro_schema_file dump) — the reference test
                    # 203's serdes combo, over the live wire encoders
                    from pmacct_spark.sinks.msglog import (
                        msglog_avro_kafka_frames,
                    )

                    reg = None
                    reg_url = self.conf.get(
                        f"{family}_kafka_avro_schema_registry"
                    )
                    if reg_url:
                        from pmacct_spark.sinks.registry import (
                            HttpSchemaRegistryClient,
                        )

                        hp = str(reg_url).split("//", 1)[-1].rstrip("/")
                        reg = HttpSchemaRegistryClient(
                            *conffile.split_host_port(hp, 8081)
                        )
                    frames = msglog_avro_kafka_frames(
                        ev,
                        str(topic),
                        registry=reg,
                        schema_file=self.conf.get(
                            f"{family}_avro_schema_file"
                        ),
                    )
                else:
                    frames = msglog_kafka_frames(ev, topic)
                rr = self.conf.get(f"{family}_kafka_topic_rr")
                if rr:
                    from pmacct_spark.sinks.msglog import apply_rr_suffix

                    frames = apply_rr_suffix(
                        frames, "topic", str(topic), int(rr)
                    )
                produce_frames(
                    frames, host, port,
                    **self._kafka_wire_opts(family),
                )
                wrote.append(f"kafka://{host}:{port}/{topic}")
            rkey = self.conf.get(f"{family}_amqp_routing_key")
            if rkey:
                from pmacct_spark.sinks.amqp_wire import publish_frames
                from pmacct_spark.sinks.msglog import msglog_amqp_frames

                ahost = str(
                    self.conf.get(f"{family}_amqp_host", default="127.0.0.1")
                    or "127.0.0.1"
                )
                aport = int(
                    self.conf.get(f"{family}_amqp_port", default=5672) or 5672
                )
                exch = str(
                    self.conf.get(f"{family}_amqp_exchange", default="pmacct")
                    or "pmacct"
                )
                aframes = msglog_amqp_frames(ev, str(rkey), exchange=exch)
                rkr = self.conf.get(f"{family}_amqp_routing_key_rr")
                if rkr:
                    from pmacct_spark.sinks.msglog import apply_rr_suffix

                    aframes = apply_rr_suffix(
                        aframes, "routing_key", str(rkey), int(rkr)
                    )
                publish_frames(aframes, ahost, aport)
                wrote.append(f"amqp://{ahost}:{aport}/{exch}/{rkey}")
            # record the generation only once every configured sink
            # for the family succeeded: a failed publish (broker down,
            # disk full) must retry on the next call, not be skipped
            # until new spool data bumps the generation
            seen[family] = gen
            self._msglog_gen = seen
        # sFlow counter log (sfacctd_counter_file, src/sfacctd.c:2366):
        # counter samples ride the same UDP spool as the flow samples.
        # The stored rows are read under one pinned lease, held until
        # every counter sink is written.
        cpath = self.conf.get("sfacctd_counter_file")
        ctopic = self.conf.get("sfacctd_counter_kafka_topic")
        if self.flavor == "sflow" and (cpath or ctopic):
            with self._scratch.lease(pin=True) as lease:
                ctrs = self._sflow_counters(lease)
                if cpath:
                    # sfacctd_counter_output (CONFIG-KEYS:2196): json is the
                    # only format the reference supports too — reject typos
                    # instead of silently writing json under a wrong label
                    cfmt = str(
                        self.conf.get("sfacctd_counter_output", default="json")
                        or "json"
                    ).lower()
                    if cfmt != "json":
                        raise ValueError(
                            f"sfacctd_counter_output {cfmt!r} unsupported "
                            "(json only, as in the reference)"
                        )
                    from pmacct_spark.sinks.msglog import write_counter_log

                    write_counter_log(ctrs, cpath)
                    wrote.append(cpath)
                if ctopic:
                    from pmacct_spark.sinks.msglog import counter_log_kafka_frames
                    from pmacct_spark.sources.kafka_wire import produce_frames

                    khost = str(
                        self.conf.get(
                            "sfacctd_counter_kafka_broker_host", default="127.0.0.1"
                        )
                        or "127.0.0.1"
                    )
                    kport = int(
                        self.conf.get("sfacctd_counter_kafka_broker_port", default=9092)
                        or 9092
                    )
                    produce_frames(
                        counter_log_kafka_frames(ctrs, str(ctopic)),
                        khost,
                        kport,
                        **self._kafka_wire_opts("sfacctd_counter"),
                    )
                    wrote.append(f"kafka://{khost}:{kport}/{ctopic}")
        # telemetry msglog (telemetry_daemon_msglog_file,
        # src/telemetry/telemetry_logdump.c): the pmtelemetryd flavor
        # wraps each received message in the ietf-telemetry-message
        # envelope
        if self.flavor == "telemetry":
            wrote += self._telemetry_logdump()
        return wrote

    def _telemetry_msgs(self) -> DataFrame:
        """Per-MESSAGE telemetry rows. Over UDP each datagram is one
        message; over TCP (telemetry_daemon_port_tcp + the 'json'
        decoder) a spooled chunk is a complete-prefix run of
        newline-delimited documents — split it, keeping per-exporter
        order (chunk seqno major, line position minor).

        telemetry_daemon_allow_file (CONFIG-KEYS:3572) drops messages
        from unlisted exporters first — empty file = deny all, like
        every allow file (src/util.c:2033)."""
        msgs = self._exporter_allow_filter(self._spool_batch())
        if (
            self.conf.get("telemetry_daemon_port_udp") is None
            and self.conf.get("telemetry_daemon_udp_notif_port")
            is not None
        ):
            # UDP-Notif transport (telemetry_daemon_udp_notif_port):
            # datagrams carry the draft-ietf-netconf-udp-notif header
            # (+ optional segmentation) around each message — decode
            # and reassemble, keyed (exporter, obs domain, message id)
            from pmacct_spark.streaming.telemetry import (
                decode_udp_notif,
            )

            return decode_udp_notif(
                msgs.select("exporter_ip", "payload")
            ).select(
                "exporter_ip",
                F.col("message_id").cast("bigint").alias("seqno"),
                F.col("payload_json").cast("binary").alias("payload"),
            )
        if getattr(self.spool, "framing", None) == "jsonl":
            msgs = (
                msgs.select(
                    "exporter_ip",
                    "seqno",
                    F.posexplode(
                        F.split(F.col("payload").cast("string"), "\n")
                    ).alias("pos", "line"),
                )
                .filter("line <> ''")
                .select(
                    "exporter_ip",
                    # seqno << 32 | pos: a 64-bit major/minor split so
                    # a chunk with any realistic number of jsonl docs
                    # can never overflow into the next chunk's range
                    (
                        F.shiftleft(F.col("seqno").cast("bigint"), 32)
                        + F.col("pos")
                    ).alias("seqno"),
                    F.col("line").cast("binary").alias("payload"),
                )
            )
        return msgs

    def _telemetry_logdump(self) -> list[str]:
        """telemetry_daemon_msglog_file/_kafka_topic and
        telemetry_dump_file/_kafka_topic (reference
        src/telemetry/telemetry_logdump.c): the ietf-envelope records
        over file or Kafka, as JSON (telemetry_daemon_msglog_output /
        telemetry_dump_output default) or Avro with optional Confluent
        registry framing + schema-file dump — the BGP/BMP serdes combo
        extended to the telemetry family. Dump records carry
        notification-event "dump" (telemetry_logdump.c:86-94)."""
        wrote: list[str] = []
        ttag = self.conf.get("telemetry_daemon_tag_map")
        tag_rules = None
        if ttag:
            with open(ttag) as fh:
                tag_rules = conffile.parse_pretag_map(fh.read())
        proc = str(
            self.conf.get("core_proc_name", default="default") or "default"
        )
        tpath = self.conf.get("telemetry_daemon_msglog_file")
        if tpath:
            from pmacct_spark.sinks.msglog import write_telemetry_log

            write_telemetry_log(
                self._telemetry_msgs(),
                tpath,
                proc_name=proc,
                export_port=self.port,
                tag_rules=tag_rules,
            )
            wrote.append(tpath)
        for fam, etype in (
            ("telemetry_daemon_msglog", "log"),
            ("telemetry_dump", "dump"),
        ):
            topic = self.conf.get(f"{fam}_kafka_topic")
            if fam == "telemetry_dump":
                dpath = self.conf.get("telemetry_dump_file")
                if dpath:
                    from pmacct_spark.sinks.msglog import (
                        write_telemetry_log,
                    )

                    write_telemetry_log(
                        self._telemetry_msgs(),
                        dpath,
                        proc_name=proc,
                        export_port=self.port,
                        tag_rules=tag_rules,
                        event_type="dump",
                    )
                    wrote.append(dpath)
            if not topic:
                continue
            host = str(
                self.conf.get(f"{fam}_kafka_broker_host", default="127.0.0.1")
                or "127.0.0.1"
            )
            port = int(
                self.conf.get(f"{fam}_kafka_broker_port", default=9092)
                or 9092
            )
            out_key = (
                "telemetry_daemon_msglog_output"
                if fam == "telemetry_daemon_msglog"
                else "telemetry_dump_output"
            )
            out_fmt = str(
                self.conf.get(out_key, default="json") or "json"
            ).lower()
            kw = dict(
                proc_name=proc,
                export_port=self.port,
                tag_rules=tag_rules,
                event_type=etype,
            )
            if out_fmt == "avro":
                from pmacct_spark.sinks.msglog import (
                    telemetry_msglog_avro_kafka_frames,
                )

                reg = None
                reg_url = self.conf.get(
                    f"{fam}_kafka_avro_schema_registry"
                )
                if reg_url:
                    from pmacct_spark.sinks.registry import (
                        HttpSchemaRegistryClient,
                    )

                    hp = str(reg_url).split("//", 1)[-1].rstrip("/")
                    reg = HttpSchemaRegistryClient(
                        *conffile.split_host_port(hp, 8081)
                    )
                frames = telemetry_msglog_avro_kafka_frames(
                    self._telemetry_msgs(),
                    str(topic),
                    registry=reg,
                    schema_file=self.conf.get(f"{fam}_avro_schema_file"),
                    **kw,
                )
            else:
                from pmacct_spark.sinks.msglog import (
                    telemetry_msglog_kafka_frames,
                )

                frames = telemetry_msglog_kafka_frames(
                    self._telemetry_msgs(), str(topic), **kw
                )
            from pmacct_spark.sources.kafka_wire import produce_frames

            produce_frames(
                frames, host, port, **self._kafka_wire_opts(fam)
            )
            wrote.append(f"kafka://{host}:{port}/{topic}")
        return wrote

    def run_continuous(self, trigger_secs: float = 1.0) -> "ContinuousRun":
        """Start every windowed channel LIVE, serving its aggregate
        into the memory table ``imt_<name>`` — the daemon's
        steady-state mode; the spool keeps feeding as datagrams
        arrive. Returns a handle; results are readable at any time
        via ``spark.table``.

        Channels enriched from a live dimension (BGP/BMP RIB, RTR
        ROAs, learned sampling rates) run a replan loop over the
        stores, as ``run_available`` does: a Structured Streaming plan
        pins the static side's FILE LISTING at .start() time, so
        routes spooled after startup would be invisible for the
        lifetime of the query — re-planning per tick reads the RIB as
        of each tick, matching the reference's enrich-at-arrival
        semantics. Without a live dimension, channels run as
        Structured Streaming queries (processing-time trigger) over
        :meth:`_streamed`, the only caller of the streaming plans;
        those neither persist nor forward templates."""
        from pmacct_spark.sinks.plugins import plugin
        from pmacct_spark.streaming.jobs import stream_aggregation

        # Channels are live-dimension channels when enrichment reads
        # state that changes while the query runs: a live RIB
        # (bgp/bmp), or options-learned sampling rates — a streaming
        # plan would pin the learned-rates dim's file listing at
        # .start() time, so expositions arriving later would silently
        # never renormalize (the rates dim is typically EMPTY at
        # startup: renormalize would multiply by 1 forever).
        live_dims = (
            self.bgp_spool is not None
            or self.bmp_spool is not None
            or self.rtr_client is not None
            or self._learns_rates()
        )
        # VALIDATE every channel's plan before starting ANY query — a
        # later channel raising (unsupported counters, bad aggregate)
        # must not leave earlier queries running with no handle
        plans: dict[str, object] = {}
        triggers: dict[str, float] = {}
        ptype_by_name = self._ptype_by_name()
        for name, cfg in self.channels.items():
            if not cfg.history or cfg.history_spec().calendar:
                continue
            # the reference's per-channel purge cadence
            # (sql_refresh_time / print_refresh_time ...) overrides
            # the default trigger — but only for plugin TYPES that
            # have a refresh concept (a conf prefix in the plugin
            # table); the memory plugin serves live and must not
            # inherit a global sql_refresh_time
            prefix = plugin(ptype_by_name.get(name)).prefix
            rt = (
                conffile._typed(self.conf, name, "refresh_time", prefix)
                if prefix
                else None
            )
            triggers[name] = float(rt) if rt else trigger_secs
            if live_dims:
                # build the batch plan ONCE synchronously so a
                # misconfigured channel (bad aggregate, unsupported
                # counters) raises HERE to the caller — the tick
                # thread's exception guard would otherwise swallow it
                # and readers would see TABLE_NOT_FOUND instead of the
                # config error
                from pmacct_spark.pipeline import build_aggregation

                # a pinned lease: the checked plan is never collected
                with self._scratch.lease(pin=True) as lease:
                    build_aggregation(self._decoded(lease)[0](), cfg)
                plans[name] = _ReplanLoop(self, name, cfg, triggers[name])
            else:
                plans[name] = stream_aggregation(self._streamed(), cfg)
        queries = {}
        for name, plan in plans.items():
            if isinstance(plan, _ReplanLoop):
                queries[name] = plan.start()
            else:
                queries[name] = (
                    plan.writeStream.outputMode("complete")
                    .format("memory")
                    .queryName(f"imt_{name}")
                    .trigger(processingTime=f"{triggers[name]} seconds")
                    .start()
                )
        return ContinuousRun(queries)



class _ReplanLoop:
    """Steady-state serving for a channel whose enrichment reads live
    dimensions: every tick syncs the batch input (fresh file listings
    -> current RIB) and, when the channel's stored aggregate changed,
    materializes it into the ``imt_<name>`` temp view. The
    materialized table IS the product — the reference's IMT is exactly
    an in-memory aggregate table, so collecting the
    (group-cardinality-bounded) result to refresh the served view
    mirrors its memory plugin, not a scale liability.

    Duck-typed to the StreamingQuery surface ContinuousRun handles:
    ``stop()`` and ``lastProgress``."""

    def __init__(self, daemon: "Daemon", name: str, cfg, trigger_secs: float):
        self.daemon = daemon
        self.name = name
        self.cfg = cfg
        self.trigger_secs = trigger_secs
        self.lastProgress = None
        self.last_error: Exception | None = None
        self._served: Aggregate | None = None  # the aggregate the view holds
        self._stop = None
        self._thread = None

    def start(self) -> "_ReplanLoop":
        import threading as _th

        self._stop = _th.Event()
        self._thread = _th.Thread(
            target=self._loop, name=f"replan-{self.name}", daemon=True
        )
        self._thread.start()
        return self

    def _tick(self) -> None:
        import time as _t

        d = self.daemon
        # N channel loops share the spools: debounce so one tick's
        # flush serves every loop in the same interval instead of
        # 3 x N flush round-trips per trigger
        now = _t.monotonic()
        with d._flush_lock:
            due = now - d._last_spool_flush >= self.trigger_secs / 2
            if due:
                d._last_spool_flush = now
        if due:
            d._flush_spools()
            # rotate on the purge cadence: retired spool files' stored
            # rows are enriched once into a columnar side table, so the
            # live file count — and with it the per-tick enrichment
            # and store union — stays flat with uptime (the reference
            # rotates its memory tables the same way)
            d.maybe_compact_spool()
        with d._scratch.lease(pin=True) as lease:
            agg = d._aggregate(self.name, self.cfg, *d._decoded(lease), lease)
            if agg is self._served:  # the view already holds it
                return
            rows = agg.df.collect()
        d.spark.createDataFrame(rows, agg.df.schema).createOrReplaceTempView(
            f"imt_{self.name}"
        )
        self._served = agg
        self.lastProgress = {"numRows": len(rows)}

    def _loop(self) -> None:
        import time as _t

        while not self._stop.is_set():
            try:
                self._tick()
            except Exception as exc:  # keep serving the last good view
                if type(exc) is not type(self.last_error) or str(exc) != str(
                    self.last_error
                ):  # log each DISTINCT failure once, not once per tick
                    log.warning(
                        "replan[%s]: %s: %s", self.name,
                        type(exc).__name__, exc, exc_info=exc,
                    )
                self.last_error = exc
            self._stop.wait(self.trigger_secs)

    def stop(self) -> None:
        if self._stop is not None:
            self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=30)
            self._thread = None


class ContinuousRun:
    """Handle for live daemon queries started by
    :meth:`Daemon.run_continuous` — stop() terminates them."""

    def __init__(self, queries):
        self.queries = queries

    def stop(self) -> None:
        for q in self.queries.values():
            q.stop()

    def await_any_progress(self, timeout: float = 30.0) -> bool:
        import time as _t

        t0 = _t.monotonic()
        while _t.monotonic() - t0 < timeout:
            if all(
                q.lastProgress is not None for q in self.queries.values()
            ):
                return True
            _t.sleep(0.1)
        return False


def main(argv: list[str] | None = None) -> int:
    """``python -m pmacct_spark.daemon -f nfacctd.conf`` — collect for
    ``--collect-secs`` then drain every channel to its sink (the
    bounded-replay harness; a service deployment would start the same
    queries with a processing-time trigger instead)."""
    import argparse
    import time as _t

    ap = argparse.ArgumentParser(prog="pmacct_spark.daemon")
    ap.add_argument("-f", "--conf", required=True, help="config file path")
    ap.add_argument("--collect-secs", type=float, default=10.0)
    ap.add_argument("--host", default="127.0.0.1")
    args = ap.parse_args(argv)

    from pmacct_spark.session import get_spark

    spark = get_spark()
    with open(args.conf) as fh:
        d = Daemon.from_conf(spark, fh.read(), host=args.host)
    print(f"listening on {args.host}:{d.port}", flush=True)
    try:
        _t.sleep(args.collect_secs)
        results = d.run_available()
        for name, df in results.items():
            print(f"[{name}] {df.count()} aggregate rows", flush=True)
    finally:
        d.stop()
    return 0


if __name__ == "__main__":  # pragma: no cover - CLI shim
    raise SystemExit(main())

