"""Plugin type -> emitter: the daemon's per-purge fan-out as one table
(the reference's per-plugin hook table, src/plugin_hooks.c).

Every emitter is a plain function ``(daemon, name, out, flows)``:
``out`` is the channel's aggregate, ``flows`` the drain's decoded flow
frame (the probes re-export flows, not aggregates; None when no batch
channel ran). An emitter reads its own conf keys and never rebinds a
frame another channel reads. ``prefix`` names the type's conf prefix —
``<prefix>_refresh_time`` and ``<prefix>_trigger_exec`` exist only for
types that have one.

Kafka and AMQP are one emitter (:func:`emit_bus`) over two transports,
as in the reference, where kafka_plugin.c and amqp_plugin.c run the
same cache -> purge cycle.
"""

from __future__ import annotations

import datetime as _dt
import logging
import os
import time
from collections.abc import Callable
from functools import partial
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pmacct_spark import conffile

log = logging.getLogger("pmacct_spark")


def present(conf, name: str, out: DataFrame, prefix: str,
            encode: bool = True) -> DataFrame:
    """``<prefix>_num_protos`` (CONFIG-KEYS:1899): protocol NAMES
    (tcp/udp) by default, numbers only when true; then, for JSON/Avro
    output, the encode-as toggles."""
    if "proto" in out.columns and not conf.getbool(f"{prefix}_num_protos", name):
        from pmacct_spark.functions.presentation import proto_name

        out = out.withColumn("proto", proto_name("proto"))
    return encode_toggles(conf, name, out) if encode else out


def encode_toggles(conf, name: str, df: DataFrame) -> DataFrame:
    """The encode-as output toggles (CONFIG-KEYS; JSON handlers
    src/plugin_cmn_json.c:365-392), for JSON/Avro sinks only ("no
    effects for other encodings"). Pure per-row expressions from
    functions/presentation — the same dual-rendered builders the gated
    presentation queries hash. (tos_encode_as_dscp applies at the
    PRIMITIVE level in Daemon._maps, before aggregation.)"""
    from pmacct_spark.functions import presentation as P

    num = conf.get("bgp_comms_num", name)
    num = int(num) if num else None
    exprs: dict[str, str] = {}
    for key, cols in (
        ("tcpflags_encode_as_array", {"tcp_flags": P.tcp_flags_array_sql}),
        ("fwd_status_encode_as_string", {"fwd_status": P.fwd_status_str_sql}),
        ("mpls_label_stack_encode_as_array",
         {"mpls_label_stack": P.mpls_stack_array_sql}),
        ("bgp_comms_encode_as_array", {
            c: partial(P.comms_array_sql, num=num)
            for c in ("std_comm", "ext_comm", "lrg_comm")
        }),
        ("as_path_encode_as_array", {"as_path": P.comms_array_sql}),
    ):
        if conf.getbool(key, name):
            exprs.update({c: build(c) for c, build in cols.items()})
    if conf.getbool("pre_tag_label_encode_as_map"):
        # pre_tag_label_encode_as_map (CONFIG-KEYS:2339): the label
        # "k1%v1,k2%v2" encodes as a map {"k1": "v1", "k2": "v2"}
        exprs["label"] = "str_to_map(label, ',', '%')"
    return df.withColumns(
        {c: F.expr(sql) for c, sql in exprs.items() if c in df.columns}
    )


def _dump_schema(path, df: DataFrame) -> None:
    """avro_schema_file / avro_schema_output_file (CONFIG-KEYS): dump
    the record schema so consumers decode without a registry
    (build_avro_schema, src/plugin_cmn_avro.c:47)."""
    if path:
        import json

        from pmacct_spark.sinks.avro import avro_schema_of

        with open(str(path), "w") as fh:
            json.dump(avro_schema_of(df.schema), fh)


# --- print -------------------------------------------------------------------

def emit_print(d, name: str, out: DataFrame, flows) -> None:
    """The print plugin (src/print_plugin.c): purge the aggregate to
    print_output_file as csv / json / avro / formatted / event_*."""
    conf = d.conf
    path = conf.get("print_output_file", name)
    if not path:
        return
    from pmacct_spark.sinks.files import write_print

    fmt = conf.get("print_output", name, "csv")
    emit = present(conf, name, out, "print", encode=fmt in ("json", "avro"))
    if conf.getbool("timestamps_rfc9557", name):
        # timestamps_rfc9557 (+ timestamps_utc implied for naive-UTC
        # timestamps, CONFIG-KEYS:1698): 'T'-separated with the numeric
        # zone offset (compose_timestamp, src/util.c:2550)
        from pmacct_spark.functions.presentation import timestamp_render_sql

        emit = emit.withColumns({
            f.name: F.expr(timestamp_render_sql(f.name, rfc9557=True))
            for f in emit.schema.fields
            if str(f.dataType).startswith("Timestamp")
        })
    if fmt == "avro":
        _dump_schema(conf.get("avro_schema_output_file", name), emit)
    write_print(
        emit, path, fmt=fmt,
        # print_output_file_append: purges accumulate, not replace
        mode=(
            "append" if conf.getbool("print_output_file_append", name)
            else "overwrite"
        ),
        latest_file=conf.get("print_latest_file", name),
        markers=conf.getbool("print_markers", name),
        separator=conf.get("print_output_separator", name),
        write_empty=conf.getbool("print_write_empty_file", name),
    )


# --- SQL ---------------------------------------------------------------------

_HOST_COLS = (
    "src_host", "dst_host", "src_net", "dst_net", "peer_src_ip",
    "peer_dst_ip", "post_nat_src_host", "post_nat_dst_host",
    "tunnel_src_host", "tunnel_dst_host",
)


def emit_sql(d, name: str, out: DataFrame, flows,
             num_hosts: bool = False) -> None:
    """The SQL plugins (src/sql_common.c statement cycle): every purge
    runs UPDATE-counters-then-INSERT against an embedded SQL engine
    (DuckDB standing in for the sqlite3 backend; the PG/MySQL wire
    conversations are sinks/pgwire + mysql_wire). sql_table + sql_db
    name the target, sql_dont_try_update flips append-only, stamps ride
    stamp_updated. ``num_hosts``: the type honors sql_num_hosts."""
    conf = d.conf
    table, dbp = conf.get("sql_table", name), conf.get("sql_db", name)
    if not (table and dbp):
        return
    from pmacct_spark.sinks.upsert import DuckDBSqlTable

    # dynamic table names: strftime variables rendered at purge time
    # (the reference's per-period tables, e.g. acct_%Y%m%d)
    table = _dt.datetime.utcnow().strftime(str(table))
    out = present(conf, name, out, "sql", encode=False)
    if num_hosts and conf.getbool("sql_num_hosts", name):
        # sql_num_hosts (CONFIG-KEYS:1911, MySQL/SQLite only): host/net
        # columns stored as network-byte-order binary, the value the
        # reference's INET6_ATON() wrapping stores (count_*_aton_handler
        # src/sql_handlers.c:1241), computed JVM-side
        from pmacct_spark.functions.addr import inet6_aton

        out = out.withColumns(
            {c: inet6_aton(F.col(c)) for c in _HOST_COLS if c in out.columns}
        )
    counters = [c for c in ("bytes", "packets", "flows") if c in out.columns]
    keys = [c for c in out.columns if c not in counters and c != "writer_id"]
    cache = d.__dict__.setdefault("_sql_tables", {})
    db = cache.get((name, table))
    if db is None:
        db = cache[(name, table)] = DuckDBSqlTable(
            str(dbp), str(table), keys, counters
        )
    mv = conf.get("sql_multi_values", name)
    db.purge(
        out.select(*keys, *counters),
        stamp_updated=_dt.datetime.utcnow().strftime("%Y-%m-%d %H:%M:%S"),
        append_only=conf.getbool("sql_dont_try_update", name),
        multi_values=int(mv) if mv else 0,
        use_copy=conf.getbool("sql_use_copy", name),
        delimiter=str(conf.get("sql_delimiter", name) or ","),
    )


# --- Kafka / AMQP --------------------------------------------------------------

def _unkeyed(frames: DataFrame) -> DataFrame:
    # a multi-record message has no single record key
    return frames.select(
        F.lit(None).cast("string").alias("key"), "value", "topic"
    )


class KafkaBus:
    """The Kafka transport (src/kafka_plugin.c): kafka_topic (+_rr),
    kafka_partition_key, kafka_broker_*, and alone the schema registry,
    kafka_partition and kafka_config_file."""

    prefix, target_key = "kafka", "kafka_topic"

    def __init__(self, d, name: str, topic: str):
        conf = d.conf
        self.d, self.name, self.topic = d, name, topic
        self.host = str(conf.get("kafka_broker_host", name) or "127.0.0.1")
        self.port = int(conf.get("kafka_broker_port", name) or 9092)

    def frames(self, emit: DataFrame, fmt: str, ctype: str) -> DataFrame:
        """``kafka_output`` (CONFIG-KEYS:1854): json is compose_json of
        the record; avro_json the same over the union-branch-wrapped
        record; avro one binary datum, Confluent-framed under
        kafka_avro_schema_registry. ``kafka_multi_values`` (:1519)
        packs newline-separated JSON records into ~N-byte messages;
        plain Avro datums batch under avro_buffer_size, at most N per
        message (:1866)."""
        from pmacct_spark.sinks import avro as A
        from pmacct_spark.sinks import kafka as K
        from pmacct_spark.sinks.msglog import apply_rr_suffix

        conf, name, topic = self.d.conf, self.name, self.topic
        pk = conf.get("kafka_partition_key", name)
        key_cols = (
            [c.strip() for c in str(pk).split(",") if c.strip()] if pk else None
        )
        rr = int(conf.get("kafka_topic_rr", name) or 0) or None
        mv = int(conf.get("kafka_multi_values", name) or 0)
        reg = conf.get("kafka_avro_schema_registry", name)
        if fmt == "json":
            frames = K.kafka_frame(emit, topic, key_cols=key_cols, rr_topics=rr)
            return _unkeyed(K.pack_multi_values(frames, mv)) if mv > 0 else frames
        if fmt == "avro_json":
            frames = K.kafka_frame(A.avro_json_wrap(emit), topic, key_cols=key_cols)
        elif reg:  # Confluent-framed datums, one per message
            from pmacct_spark.sinks.registry import HttpSchemaRegistryClient

            hp = str(reg).split("//", 1)[-1].rstrip("/")
            frames = K.kafka_avro_frame(
                emit, topic,
                HttpSchemaRegistryClient(*conffile.split_host_port(hp, 8081)),
                key_cols=key_cols,
            )
        else:
            frames = A.avro_frames(emit, key_cols=key_cols).withColumn(
                "topic", F.lit(topic)
            )
            if mv > 0:
                buf = int(conf.get("avro_buffer_size", name) or 8192)
                frames = _unkeyed(K.pack_multi_values(
                    frames, buf, binary=True, max_records=mv
                ))
        return apply_rr_suffix(frames, "topic", topic, rr)

    def send(self, frames: DataFrame) -> None:
        from pmacct_spark.sources.kafka_wire import produce_frames

        produce_frames(
            frames, self.host, self.port,
            **self.d._kafka_wire_opts("", self.name),
        )

    def marker(self, body: bytes, ctype: str) -> None:
        from pmacct_spark.sources.kafka_wire import KafkaWireClient

        cli = KafkaWireClient(self.host, self.port)
        try:
            cli.produce(self.topic, 0, [(None, body)])
        finally:
            cli.close()


class AmqpBus:
    """The AMQP transport (src/amqp_plugin.c): amqp_routing_key (+_rr),
    amqp_exchange(_type), amqp_persistent_msg and the connection keys,
    over the live 0-9-1 wire."""

    prefix, target_key = "amqp", "amqp_routing_key"

    def __init__(self, d, name: str, rkey: str):
        conf = d.conf
        self.d, self.name, self.rkey = d, name, rkey
        self.exchange = str(conf.get("amqp_exchange", name) or "pmacct")
        self.etype = str(conf.get("amqp_exchange_type", name) or "direct")
        self.host = str(conf.get("amqp_host", name) or "127.0.0.1")
        self.port = int(conf.get("amqp_port", name) or 5672)
        self.conn_kw = dict(
            user=str(conf.get("amqp_user", name) or "guest"),
            passwd=str(conf.get("amqp_passwd", name) or "guest"),
            vhost=str(conf.get("amqp_vhost", name) or "/"),
            frame_max=int(conf.get("amqp_frame_max", name) or 131072),
            heartbeat=int(conf.get("amqp_heartbeat_interval", name) or 0),
        )

    def frames(self, emit: DataFrame, fmt: str, ctype: str) -> DataFrame:
        """``amqp_output`` (CONFIG-KEYS:1854): json bodies are
        compose_json of the record, packed newline-separated into
        ~N-byte bodies under ``amqp_multi_values`` (mind amqp_frame_max);
        avro_json the union-branch-wrapped record; avro one binary
        datum per message (the registry is Kafka-only)."""
        from pmacct_spark.sinks import amqp as Q
        from pmacct_spark.sinks import avro as A
        from pmacct_spark.sinks import kafka as K

        conf, name = self.d.conf, self.name
        kw = dict(
            exchange=self.exchange, routing_key=self.rkey,
            rr=int(conf.get("amqp_routing_key_rr", name) or 0) or None,
            exchange_type=self.etype,
            persistent=conf.getbool("amqp_persistent_msg", name),
        )
        if fmt == "json":
            frames = Q.amqp_frame(emit, **kw)
            mv = int(conf.get("amqp_multi_values", name) or 0)
            if mv > 0:
                frames = K.pack_multi_values(
                    frames, mv, value_col="body", group_cols=(
                        "exchange", "exchange_type", "routing_key",
                        "delivery_mode", "content_type",
                    ),
                )
            return frames
        if fmt == "avro_json":
            rec = A.avro_json_wrap(emit)
            bodies = rec.select(K.compose_json_value(rec).alias("body"))
        else:
            bodies = A.avro_frames(emit).select(F.col("value").alias("body"))
        return Q.amqp_body_frame(bodies, content_type=ctype, **kw)

    def send(self, frames: DataFrame) -> None:
        from pmacct_spark.sinks.amqp_wire import publish_frames

        publish_frames(frames, self.host, self.port, **self.conn_kw)

    def marker(self, body: bytes, ctype: str) -> None:
        from pmacct_spark.sinks.amqp_wire import AmqpWireClient

        cli = AmqpWireClient(self.host, self.port, **self.conn_kw)
        try:
            cli.exchange_declare(self.exchange, self.etype)
            cli.publish(self.exchange, self.rkey, body, content_type=ctype)
        finally:
            cli.close()


def emit_bus(d, name: str, out: DataFrame, flows, transport) -> None:
    """The Kafka and AMQP accounting plugins: every purge ships the
    aggregate through ``transport`` (:class:`KafkaBus` / :class:`AmqpBus`).
    ``<prefix>_markers`` (CONFIG-KEYS:1791) frames the batch with
    purge_init / purge_close messages (kafka_plugin.c:544,868,
    amqp_plugin.c:517) — the acct_init/acct_close Avro records for avro
    output (src/plugin_cmn_avro.c), the jansson objects otherwise."""
    conf, p = d.conf, transport.prefix
    target = conf.get(transport.target_key, name)
    if not target:
        return
    bus = transport(d, name, str(target))
    emit = present(conf, name, out, p)
    fmt = str(conf.get(f"{p}_output", name) or "json").lower()
    if fmt in ("avro", "avro_json"):
        _dump_schema(conf.get("avro_schema_file", name), emit)
    ctype = "application/octet-stream" if fmt == "avro" else "application/json"
    markers = conf.getbool(f"{p}_markers", name)
    if markers:
        from pmacct_spark.operators import staging
        from pmacct_spark.sinks.kafka import purge_marker_avro, purge_marker_json

        # stage once: the close marker's entry count and the frames
        # read one materialized aggregate, and the count stays a RECORD
        # count when multi_values packs records into fewer messages
        emit = staging.stage(emit)

        def mark(*a, **kw) -> bytes:
            if fmt == "avro":
                return purge_marker_avro(*a, **kw)
            return purge_marker_json(*a, **kw).encode()
    try:
        frames = bus.frames(emit, fmt, ctype)
        if markers:
            wpid, t0, n = os.getpid(), time.time(), emit.count()
            bus.marker(mark("purge_init", name, wpid), ctype)
        bus.send(frames)
        if markers:
            bus.marker(mark(
                "purge_close", name, wpid, purged=n, total=n,
                duration=int(time.time() - t0),
            ), ctype)
    finally:
        if markers:  # a failed publish must not leak the staged copy
            staging.release(emit)


# --- tee -----------------------------------------------------------------------

def emit_tee(d, name: str, out: DataFrame, flows) -> None:
    """The tee replicator (src/tee_plugin/tee_plugin.c): RAW datagrams,
    not decoded flows, fan out to the tee_receivers pools, tag-filtered
    via pre_tag_map and balanced rr/hash within a pool, over UDP, ZMQ
    or Kafka."""
    conf = d.conf
    rmap = conf.get("tee_receivers", name)
    if not rmap:
        return
    from pmacct_spark.sinks import tee

    with open(str(rmap)) as fh:
        entries = conffile.parse_tee_receivers(
            fh.read(),
            max_pools=int(conf.get("tee_max_receiver_pools", name) or 128),
            max_receivers=int(conf.get("tee_max_receivers", name) or 32),
        )
    dgrams = d._spool_batch().withColumn("export_proto_seqno", F.col("seqno"))
    ptm = d._pretag_map()
    if ptm is not None:
        tags = {c: e for c, e in ptm.columns.items() if c != "label"}
        dgrams = (
            dgrams.withColumn("peer_src_ip", F.col("exporter_ip"))
            .withColumns(tags)
            .drop("peer_src_ip")
        )
    else:
        dgrams = dgrams.withColumn("tag", F.lit(0).cast("bigint"))
    receivers = [
        tee.TeeReceiver(
            e["id"], tags=e.get("tags"), pool=e.get("pool", []),
            balance=e.get("balance", "rr"), hash_cols=("exporter_ip",),
        )
        for e in entries
    ]
    by_id = {r.receiver_id: r for r in receivers}
    by_entry = {e["id"]: e for e in entries}
    kopts = None
    kcf = conf.get("tee_kafka_config_file", name)
    if kcf:
        # tee_kafka_config_file (CONFIG-KEYS:3463): producer tuning for
        # the Kafka-routed pools
        from pmacct_spark.sources.kafka_wire import wire_producer_options

        with open(str(kcf)) as fh:
            kopts = wire_producer_options(
                conffile.parse_kafka_config_file(fh.read())
            )
    for rid, part in tee.route(dgrams, receivers).items():
        e = by_entry[rid]
        if e.get("zmq_address"):  # raw datagrams over ZMTP PUSH
            tee.emit_zmq(part.select("payload"), e["zmq_address"])
        elif e.get("kafka_broker"):  # raw datagrams ride the bus as-is
            tee.emit_kafka(
                part.select("exporter_ip", "payload"), e["kafka_broker"],
                e["kafka_topic"], producer_opts=kopts,
            )
        else:
            if "endpoint" not in part.columns:  # single-receiver pool
                part = part.withColumn("endpoint", F.lit(by_id[rid].pool[0]))
            tee.emit_udp(
                part.select("payload", "endpoint"),
                # tee_source_ip (CONFIG-KEYS:3495): the local address
                source_ip=conf.get("tee_source_ip", name),
            )


# --- nfprobe / sfprobe ---------------------------------------------------------

def _nfprobe_datagrams(conf, name: str, flows: DataFrame, src_ip: str):
    """nfprobe_version (5 | 9 | 10, CONFIG-KEYS:2585) export datagrams
    of a frame derived from ``flows`` (never the caller's frame)."""
    from pmacct_spark.sinks import nfprobe as NP

    ver = int(conf.get("nfprobe_version", name) or 5)
    enc = {5: NP.encode_v5, 9: NP.encode_v9, 10: NP.encode_ipfix}.get(ver)
    if enc is None:
        raise ValueError(f"nfprobe_version {ver} unsupported (5, 9, 10)")
    kw: dict = {}
    # nfprobe_engine (CONFIG-KEYS:2550): v5 takes 'type:id' (header
    # bytes 20-21); v9/IPFIX one 32-bit Source ID / Obs Domain ID
    eng = conf.get("nfprobe_engine", name)
    if eng is not None:
        if ver == 5:
            et, _, ei = str(eng).partition(":")
            kw["engine"] = (int(et or 0), int(ei or 0))
        else:
            kw["source_id" if ver == 9 else "domain"] = int(eng)
    # nfprobe_direction (CONFIG-KEYS:2575): in/out static, or tag/tag2
    # derived (1 -> ingress, 2 -> egress); DIRECTION IE 61 on v9/IPFIX
    dirn = str(conf.get("nfprobe_direction", name) or "").strip().lower()
    if ver in (9, 10):
        dcol = {"in": F.lit(0), "out": F.lit(1)}.get(dirn)
        if dirn in ("tag", "tag2"):
            dcol = F.when(F.col(dirn) == 1, 0).when(F.col(dirn) == 2, 1).otherwise(0)
        if dcol is not None:
            kw["with_direction"] = True
            flows = flows.withColumn("direction", dcol.cast("int"))
    # nfprobe_ifindex (:2586) + _override (:2597): a static or
    # tag-derived ifIndex on the record direction's interface — only
    # where it carries none (0), or replacing any value under override
    ifx = conf.get("nfprobe_ifindex", name)
    if ifx is not None:
        ifx = str(ifx).strip().lower()
        icol = (
            F.col(ifx) if ifx in ("tag", "tag2") else F.lit(int(ifx))
        ).cast("long")
        override = conf.getbool("nfprobe_ifindex_override", name)

        def place(cur):
            if override:
                return F.when(icol > 0, icol).otherwise(cur)
            return F.when(F.coalesce(cur, F.lit(0)) == 0, icol).otherwise(cur)

        if "direction" in flows.columns:  # per record
            flows = flows.withColumns({
                c: F.when(F.col("direction") == i, place(F.col(c)))
                .otherwise(F.col(c))
                for i, c in enumerate(("iface_in", "iface_out"))
            })
        else:
            tgt = "iface_out" if dirn == "out" else "iface_in"
            flows = flows.withColumn(tgt, place(F.col(tgt)))
    # nfprobe_tstamp_usec (CONFIG-KEYS:2613): v9/IPFIX IEs 154/155
    # (sec+usec) instead of epoch-ms
    if ver in (9, 10) and conf.getbool("nfprobe_tstamp_usec", name):
        kw["tstamp_usec"] = True
        flows = flows.withColumns({
            f"{c}_us": F.expr(f"unix_micros(CAST({c} AS TIMESTAMP))")
            for c in ("ts", "end_ts")
        })
    return enc(flows, exporter_ip=src_ip, **kw)


def _sfprobe_datagrams(conf, name: str, flows: DataFrame, src_ip: str):
    """sFlow v5 flow samples of ``flows``, plus per-interface counter
    samples under sfprobe_ifspeed."""
    from pmacct_spark.sinks.sfprobe import (
        _agent_field,
        encode_sflow5,
        encode_sflow_counters,
    )

    # sfprobe_agentip (CONFIG-KEYS:2624): the header's agentIp, distinct
    # from the transport source address it defaults to;
    # sfprobe_agentsubid (:2631): agentSubId, reference default 1402
    agent_ip = str(conf.get("sfprobe_agentip", name) or src_ip)
    subid = int(conf.get("sfprobe_agentsubid", name) or 1402)
    try:  # config-time check, names the key
        _agent_field(agent_ip)
    except ValueError:
        bad_key = (
            "sfprobe_agentip" if agent_ip != src_ip else "sfprobe_source_ip"
        )
        raise ValueError(
            f"{bad_key} must be a valid IPv4/IPv6 address (got {agent_ip!r})"
        ) from None
    dgrams = encode_sflow5(flows, agent_ip=agent_ip, agent_subid=subid)
    ifspeed = conf.get("sfprobe_ifspeed", name)
    if ifspeed:
        # sfprobe_ifspeed (CONFIG-KEYS:2635): the static speed rides the
        # generic-counters block; the octet/packet counters are what
        # the agent accounted per input interface
        ctrs = flows.groupBy(F.col("iface_in").alias("if_index")).agg(
            F.sum("bytes").alias("if_in_octets"),
            F.sum("packets").alias("if_in_ucast"),
        ).selectExpr(
            "if_index", "CAST(6 AS BIGINT) AS if_type",
            f"CAST({int(ifspeed)} AS BIGINT) AS if_speed",
            "CAST(3 AS BIGINT) AS if_status", "if_in_octets", "if_in_ucast",
            *[f"CAST(0 AS BIGINT) AS {c}" for c in (
                "if_in_errors", "if_out_octets", "if_out_ucast",
                "if_out_errors",
            )],
        )
        dgrams = dgrams.unionByName(
            encode_sflow_counters(ctrs, agent_ip=agent_ip, agent_subid=subid)
        )
    return dgrams


def emit_probe(d, name: str, out: DataFrame, flows, ptype: str,
               port: int, datagrams: Callable) -> None:
    """The probe plugins (src/nfprobe_plugin, src/sfprobe_plugin):
    re-export the drain's flows over UDP to ``<ptype>_receiver``."""
    conf = d.conf
    recv = conf.get(f"{ptype}_receiver", name)
    if not recv or flows is None:
        return
    from pmacct_spark.sinks.tee import emit_udp

    rhost, rport = conffile.split_host_port(str(recv), port)
    src_ip = conf.get(f"{ptype}_source_ip", name)
    dgrams = datagrams(conf, name, flows, str(src_ip or "127.0.0.1"))
    hop = conf.get(f"{ptype}_hoplimit", name)
    emit_udp(
        dgrams, default_endpoint=f"{rhost}:{rport}",
        # bind the local address only when set (reference default: the
        # OS selects it)
        source_ip=src_ip, ttl=int(hop) if hop else None,
    )


# --- the table -------------------------------------------------------------------

class Plugin(NamedTuple):
    emit: Callable | None  # (daemon, name, out, flows); None: memory only
    prefix: str | None  # <prefix>_refresh_time / _trigger_exec


# sql_num_hosts is a MySQL / SQLite key
_sql_num_hosts = partial(emit_sql, num_hosts=True)

_EMITTERS: dict[str, Callable | None] = {
    "memory": None,
    "print": emit_print,
    "sql": emit_sql,
    "mysql": _sql_num_hosts,
    "pgsql": emit_sql,
    "sqlite3": _sql_num_hosts,
    "kafka": partial(emit_bus, transport=KafkaBus),
    "amqp": partial(emit_bus, transport=AmqpBus),
    "nfprobe": partial(
        emit_probe, ptype="nfprobe", port=2100, datagrams=_nfprobe_datagrams
    ),
    "sfprobe": partial(
        emit_probe, ptype="sfprobe", port=6343, datagrams=_sfprobe_datagrams
    ),
    "tee": emit_tee,
}
# the conf prefixes are conffile's, the one place they are kept
PLUGINS: dict[str, Plugin] = {
    t: Plugin(emit, conffile.PLUGIN_PREFIXES[t]) for t, emit in _EMITTERS.items()
}


def plugin(ptype: str | None) -> Plugin:
    """The table row of a plugin type; unknown types serve memory only."""
    return PLUGINS.get(ptype, PLUGINS["memory"])


def run_trigger(d, name: str, prefix: str) -> None:
    """[sql|print|amqp|kafka]_trigger_exec (CONFIG-KEYS:1955;
    P_trigger_exec src/plugin_common.c): spawn the executable after the
    channel's purge. SQL plugins export the docs/TRIGGER_VARS
    environment; other triggers run bare ("no environment variables are
    set"). ``*_trigger_exec_async`` runs detached."""
    import shlex
    import subprocess

    conf = d.conf
    trig = conffile._typed(conf, name, "trigger_exec", prefix)
    if not trig:
        return
    env = dict(os.environ)
    if prefix == "sql":
        tbl = conf.get("sql_table", name)
        if tbl:
            env["SQL_TABLE"] = str(tbl)
            eff = _dt.datetime.utcnow().strftime(str(tbl))
            if eff != str(tbl):
                env["EFFECTIVE_SQL_TABLE"] = eff
        if conf.get("sql_db", name):
            env["SQL_DB"] = str(conf.get("sql_db", name))
        rt = conffile._typed(conf, name, "refresh_time", prefix)
        if rt:
            env["SQL_REFRESH_TIME"] = str(rt)
    cmd = shlex.split(str(trig))
    t_async = str(
        conffile._typed(conf, name, "trigger_exec_async", prefix) or ""
    ).lower() in ("true", "1", "yes")
    try:
        if t_async:
            subprocess.Popen(cmd, env=env)
        else:
            subprocess.run(cmd, env=env, check=False, timeout=60)
    except (OSError, subprocess.TimeoutExpired) as exc:
        log.warning(
            "%s_trigger_exec %r failed: %s", prefix, trig, exc, exc_info=True
        )
