"""Streaming semantics: batch/stream parity for the windowed channel
aggregation, watermark (sql_startup_delay) eviction, session windows,
and the NetFlow v5/v9 binary decoders (template learning + pre-template
drop)."""

from __future__ import annotations

import struct

from pyspark.sql import functions as F

from pmacct_spark.config import PluginConfig
from pmacct_spark.driver_queries import flows
from pmacct_spark.pipeline import build_aggregation
from pmacct_spark.streaming.decode import (
    V5_HEADER,
    V5_RECORD,
    decode_v5,
    decode_v9,
    prepare_datagrams,
)
from pmacct_spark.streaming.jobs import (
    flows_stream,
    run_to_memory,
    session_flows_stream,
    stream_aggregation,
)
from tests.conftest import SF_DIR


def test_stream_batch_parity(spark):
    """Same input, same channel config -> identical aggregates whether
    run as a batch plan or a streaming query."""
    cfg = PluginConfig(aggregate=["proto"], history="5m")
    stream = stream_aggregation(flows_stream(spark, SF_DIR), cfg)
    got = run_to_memory(stream, "t_parity").orderBy("stamp_inserted", "proto")
    want = (
        build_aggregation(flows(spark, SF_DIR), cfg)
        .select("stamp_inserted", "proto", "bytes", "packets", "flows")
        .orderBy("stamp_inserted", "proto")
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]


def test_stream_batch_parity_prorate_stitching(spark):
    """pro_rating and stitching behave identically in the streaming
    path (regression: stream_aggregation whole-inserted counters and
    dropped the stitch stamps, diverging from build_aggregation for
    the same conf)."""
    cfg = PluginConfig(
        aggregate=["proto"], history="5m", pro_rating=True, stitching=True
    )
    stream = stream_aggregation(flows_stream(spark, SF_DIR), cfg)
    got = run_to_memory(stream, "t_parity_ps").orderBy(
        "stamp_inserted", "proto"
    )
    want = (
        build_aggregation(flows(spark, SF_DIR), cfg)
        .select(
            "stamp_inserted", "proto", "bytes", "packets", "flows",
            "timestamp_min", "timestamp_max",
        )
        .orderBy("stamp_inserted", "proto")
    )
    gs = [tuple(r) for r in got.select(*want.columns).collect()]
    ws = [tuple(r) for r in want.collect()]
    assert gs == ws and len(gs) > 0


def test_watermark_appends_only_closed_windows(spark):
    """Append mode + watermark: only windows the watermark has passed
    are emitted (sql_startup_delay pending semantics)."""
    cfg = PluginConfig(aggregate=["proto"], history="1h")
    delay_s = 7200
    stream = stream_aggregation(
        flows_stream(spark, SF_DIR), cfg, watermark_delay=f"{delay_s} seconds"
    )
    got = run_to_memory(stream, "t_wm", mode="append")
    batch = build_aggregation(flows(spark, SF_DIR), cfg)
    max_ts = flows(spark, SF_DIR).agg(F.max("ts")).first()[0]
    import datetime

    horizon = max_ts - datetime.timedelta(seconds=delay_s)
    # emitted set == batch windows whose END <= watermark horizon
    want = batch.filter(
        F.col("stamp_inserted") + F.expr("INTERVAL 1 HOUR") <= F.lit(horizon)
    )
    assert got.count() == want.count() > 0
    assert got.count() < batch.count()  # the pending tail was withheld


def test_session_window_stream(spark):
    """Streaming session_window matches the batch sessionizer's session
    count for gap-based (no tcp-close) sessions."""
    from pmacct_spark.operators.sessionize import sessionize

    gap = 4 * 3600
    stream = session_flows_stream(
        flows_stream(spark, SF_DIR).withColumn(
            "user_key", F.col("as_src")
        ),
        ["user_key"],
        gap,
    )
    got = run_to_memory(stream, "t_sess")
    fl = flows(spark, SF_DIR).withColumn("user_key", F.col("as_src"))
    batch = sessionize(fl, ["user_key"], "ts", gap, order_tiebreak=["event_id"])
    n_batch = batch.select("user_key", "session_id").distinct().count()
    assert got.count() == n_batch


def _v5_datagram(seqno: int, recs: list[dict]) -> bytes:
    sysuptime = 1_000_000
    unix_secs = 1_700_000_000
    hdr = V5_HEADER.pack(5, len(recs), sysuptime, unix_secs, 0, seqno, 0, 0, 1)
    body = b""
    for r in recs:
        body += V5_RECORD.pack(
            r["src"], r["dst"], 0, 1, 2, r["pkts"], r["bytes"],
            sysuptime - 5000, sysuptime - 1000,
            r["sport"], r["dport"], 0, r.get("flags", 16), r.get("proto", 6),
            r.get("tos", 0), 64500, 64501, 24, 24, 0,
        )
    return hdr + body


def test_decode_v5_roundtrip(spark):
    recs = [
        {"src": 0x0A000001, "dst": 0x0A000002, "pkts": 10, "bytes": 1400,
         "sport": 1234, "dport": 443},
        {"src": 0x0A000003, "dst": 0x0A000004, "pkts": 5, "bytes": 300,
         "sport": 53, "dport": 53, "proto": 17},
    ]
    dg = spark.createDataFrame(
        [("198.51.100.1", bytearray(_v5_datagram(7, recs)))],
        "exporter_ip string, payload binary",
    )
    out = decode_v5(dg).orderBy("ip_src_i").collect()
    assert len(out) == 2
    assert out[0]["ip_src_i"] == 0x0A000001 and out[0]["bytes"] == 1400
    assert out[0]["seqno"] == 7 and out[0]["ip_proto"] == 6
    assert out[1]["ip_proto"] == 17
    # timestamps: base_ms + first where base = secs*1000 - uptime
    assert out[0]["ts_ms"] == 1_700_000_000 * 1000 - 1_000_000 + 995_000


def _v9_template(tid: int) -> bytes:
    # fields: srcaddr(8,4) dstaddr(12,4) bytes(1,4) pkts(2,4) proto(4,1)
    fields = [(8, 4), (12, 4), (1, 4), (2, 4), (4, 1)]
    body = struct.pack("!HH", tid, len(fields))
    for ie, ln in fields:
        body += struct.pack("!HH", ie, ln)
    return struct.pack("!HH", 0, 4 + len(body)) + body


def _v9_data(tid: int, recs: list[tuple]) -> bytes:
    body = b""
    for src, dst, byt, pk, proto in recs:
        body += struct.pack("!IIIIB", src, dst, byt, pk, proto)
    return struct.pack("!HH", tid, 4 + len(body)) + body


def _v9_packet(seqno: int, source_id: int, sets: list[bytes]) -> bytes:
    hdr = struct.pack("!HHIIII", 9, len(sets), 0, 1_700_000_000, seqno, source_id)
    return hdr + b"".join(sets)


def test_decode_v9_template_state(spark):
    """Data before its template is dropped; after the template arrives
    (even in an earlier datagram of the same partition) records decode.
    Templates are scoped per (exporter, source_id, template_id)."""
    tid = 260
    early = _v9_packet(1, 1, [_v9_data(tid, [(1, 2, 100, 1, 6)])])  # pre-template
    tmpl = _v9_packet(2, 1, [_v9_template(tid)])
    data = _v9_packet(
        3, 1, [_v9_data(tid, [(0x0A000001, 0x0A000002, 1500, 3, 6),
                              (0x0A000005, 0x0A000006, 900, 2, 17)])]
    )
    other_scope = _v9_packet(4, 2, [_v9_data(tid, [(9, 9, 9, 9, 9)])])  # source_id 2: no tmpl
    rows = [
        ("198.51.100.9", 1, bytearray(early)),
        ("198.51.100.9", 2, bytearray(tmpl)),
        ("198.51.100.9", 3, bytearray(data)),
        ("198.51.100.9", 4, bytearray(other_scope)),
    ]
    dg = prepare_datagrams(
        spark.createDataFrame(
            rows, "exporter_ip string, arrival_seq int, payload binary"
        )
    )
    out = decode_v9(dg).orderBy("ip_src_i").collect()
    assert len(out) == 2  # early + wrong-scope dropped
    assert out[0]["ip_src_i"] == 0x0A000001 and out[0]["bytes"] == 1500
    assert out[1]["ip_proto"] == 17 and out[1]["packets"] == 2


def _v10_template(tid: int) -> bytes:
    # srcaddr(8,4) dstaddr(12,4) bytes(1,4) pkts(2,4) proto(4,1) + one
    # enterprise IE (0x8000|99, len 2, PEN 4242) that must be skipped
    body = struct.pack("!HH", tid, 6)
    for ie, ln in [(8, 4), (12, 4), (1, 4), (2, 4), (4, 1)]:
        body += struct.pack("!HH", ie, ln)
    body += struct.pack("!HHI", 0x8000 | 99, 2, 4242)
    return struct.pack("!HH", 2, 4 + len(body)) + body


def _v10_data(tid: int, recs: list[tuple]) -> bytes:
    body = b""
    for src, dst, byt, pk, proto, ent in recs:
        body += struct.pack("!IIIIBH", src, dst, byt, pk, proto, ent)
    return struct.pack("!HH", tid, 4 + len(body)) + body


def _v10_packet_bytes(seqno: int, domain: int, sets: list[bytes]) -> bytes:
    length = 16 + sum(len(s) for s in sets)
    return struct.pack("!HHIII", 10, length, 1_700_000_000, seqno, domain) + b"".join(sets)


def test_decode_ipfix_and_mixed_dispatch(spark):
    """IPFIX templates (set id 2, enterprise IEs skipped) decode; a v5
    datagram on the same 'socket' dispatches by version."""
    from pmacct_spark.streaming.decode import decode_any

    tid = 300
    pkts = [
        ("203.0.113.1", 1, _v10_packet_bytes(1, 7, [_v10_template(tid)])),
        ("203.0.113.1", 2, _v10_packet_bytes(2, 7, [_v10_data(tid, [
            (0x0A000001, 0x0A000002, 777, 3, 6, 1),
        ])])),
        ("203.0.113.1", 3, _v5_datagram(9, [
            {"src": 0x0A000003, "dst": 0x0A000004, "pkts": 2, "bytes": 99,
             "sport": 80, "dport": 8080},
        ])),
    ]
    dg = prepare_datagrams(
        spark.createDataFrame(
            [(e, s, bytearray(p)) for e, s, p in pkts],
            "exporter_ip string, arrival_seq int, payload binary",
        )
    )
    out = {r["bytes"]: r for r in decode_any(dg).collect()}
    assert set(out) == {777, 99}
    assert out[777]["ip_src_i"] == 0x0A000001 and out[777]["packets"] == 3
    assert out[99]["port_dst"] == 8080


def _eth_ipv4_tcp(src: int, dst: int, sport: int, dport: int, flags: int = 0x18) -> bytes:
    eth = b"\x02" * 6 + b"\x04" * 6 + b"\x08\x00"
    ip = bytes([0x45, 0]) + (40).to_bytes(2, "big") + b"\x00" * 4 + bytes(
        [64, 6]
    ) + b"\x00\x00" + src.to_bytes(4, "big") + dst.to_bytes(4, "big")
    tcp = sport.to_bytes(2, "big") + dport.to_bytes(2, "big") + b"\x00" * 9 + bytes(
        [flags]
    ) + b"\x00" * 6
    return eth + ip + tcp


def test_decode_sflow5(spark):
    from pmacct_spark.streaming.decode import decode_sflow5

    hdr = _eth_ipv4_tcp(0x0A000001, 0x0A000002, 443, 55555)
    raw_rec = struct.pack("!IIII", 1, 1400, 4, len(hdr)) + hdr
    flow_sample = struct.pack(
        "!IIIIIIII", 10, 1, 2048, 99999, 0, 3, 4, 1
    ) + struct.pack("!II", 1, len(raw_rec)) + raw_rec
    dgram = struct.pack(
        "!IIIIIII", 5, 1, 0xC0000201, 0, 77, 123456, 1
    ) + struct.pack("!II", 1, len(flow_sample)) + flow_sample
    dg = spark.createDataFrame(
        [("192.0.2.10", bytearray(dgram))], "exporter_ip string, payload binary"
    )
    out = decode_sflow5(dg).collect()
    assert len(out) == 1
    r = out[0]
    assert r["ip_src_i"] == 0x0A000001 and r["port_src"] == 443
    assert r["bytes"] == 1400 and r["sampling_rate"] == 2048
    assert r["tcp_flags"] == 0x18 and r["iface_in"] == 3


def test_flow_cache_stateful(spark, tmp_path):
    """applyInPandasWithState flow cache: every session CLOSED by a
    later record (gap > idle) is emitted; the final open session per key
    stays in state — matching the batch sessionizer minus open tails."""
    from pmacct_spark.operators.sessionize import sessionize
    from pmacct_spark.sources.tables import load_table
    from pmacct_spark.streaming.stateful import flow_cache

    idle = 4 * 3600
    ev = load_table(spark, SF_DIR, "events").selectExpr(
        "user_id % 5 AS grp", "ts", "CAST(1 AS BIGINT) AS bytes",
        "CAST(1 AS BIGINT) AS packets", "event_id",
    )
    # two time-ordered files -> two microbatches (cross-batch state)
    mid = ev.selectExpr("percentile_approx(ts, 0.5) AS m").first()["m"]
    src = str(tmp_path / "stream_src")
    # deterministic file order: the file source lists by path, so name
    # the two batches explicitly
    import glob
    import os
    import shutil

    os.makedirs(src)
    for i, part in enumerate(
        (ev.filter(F.col("ts") <= mid), ev.filter(F.col("ts") > mid))
    ):
        d = str(tmp_path / f"half{i}")
        part.coalesce(1).write.parquet(d)
        shutil.move(glob.glob(f"{d}/part-*.parquet")[0], f"{src}/{i:02d}.parquet")

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withColumn("__evt", F.col("ts").cast("timestamp"))
        .withWatermark("__evt", "1 hour")
    )
    q = (
        flow_cache(stream, ["grp"], idle)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_cache")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_cache")

    batch = sessionize(ev, ["grp"], "ts", idle, order_tiebreak=["event_id"])
    sessions = batch.groupBy("grp", "session_id").agg(
        F.count(F.lit(1)).alias("n_records"), F.max("ts").alias("s_end")
    )
    total = sessions.count()
    # expected emissions: every gap-closed session, PLUS tail sessions
    # whose idle timeout precedes the final watermark (max ts - delay)
    max_ts = ev.agg(F.max("ts")).first()[0]
    import datetime

    wm_final = max_ts - datetime.timedelta(hours=1)
    tails = sessions.withColumn(
        "is_tail",
        F.col("session_id")
        == F.max("session_id").over(
            __import__("pyspark").sql.Window.partitionBy("grp")
        ),
    )
    surviving_tails = tails.filter(
        F.col("is_tail")
        & (
            F.col("s_end") + F.expr(f"INTERVAL {idle} SECOND")
            >= F.lit(wm_final)
        )
    ).count()
    assert got.count() == total - surviving_tails > 0
    # closed sessions carry correct record counts
    j = got.join(
        sessions.withColumnRenamed("n_records", "want_n"),
        (got.grp == sessions.grp)
        & (F.expr("session_end_ms") == F.expr("unix_micros(CAST(s_end AS TIMESTAMP)) DIV 1000")),
    )
    assert j.filter("n_records <> want_n").count() == 0


def test_multi_plugin_fanout(spark):
    """The reference fans one stream out to N plugin channels
    (exec_plugins, src/plugin_hooks.c:376); here: N concurrent
    streaming queries over ONE source DataFrame, each with its own
    aggregate set and filter, each matching its batch twin."""
    src = flows_stream(spark, SF_DIR)
    cfgs = {
        "chan_proto": PluginConfig(aggregate=["proto"], history="1h"),
        "chan_tcp_port": PluginConfig(
            aggregate=["dst_port"], history="1h", aggregate_filter="ip_proto = 6"
        ),
    }
    queries = {
        name: stream_aggregation(src, cfg)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
        for name, cfg in cfgs.items()
    }
    for q in queries.values():
        q.awaitTermination()
    for name, cfg in cfgs.items():
        got = spark.table(name)
        want = build_aggregation(flows(spark, SF_DIR), cfg)
        assert got.count() == want.count()
        assert (
            got.agg(F.sum("bytes")).first()[0]
            == want.agg(F.sum("bytes")).first()[0]
        ), name


def _bgp_update(withdrawn, nlri, as_path=(64496, 65001), nh=0x0A0000FE,
                lp=150, med=20):
    def prefixes(lst):
        b = b""
        for pfx, ml in lst:
            nb = (ml + 7) // 8
            b += bytes([ml]) + pfx.to_bytes(4, "big")[:nb]
        return b
    attrs = b""
    if nlri:
        path = bytes([2, len(as_path)]) + b"".join(a.to_bytes(4, "big") for a in as_path)
        attrs += bytes([0x40, 2, len(path)]) + path
        attrs += bytes([0x40, 3, 4]) + nh.to_bytes(4, "big")
        attrs += bytes([0x80, 4, 4]) + med.to_bytes(4, "big")
        attrs += bytes([0x40, 5, 4]) + lp.to_bytes(4, "big")
    w = prefixes(withdrawn)
    n = prefixes(nlri)
    body = len(w).to_bytes(2, "big") + w + len(attrs).to_bytes(2, "big") + attrs + n
    pdu = b"\xff" * 16 + (19 + len(body)).to_bytes(2, "big") + bytes([2]) + body
    return pdu


def _bmp_msg(mtype, peer_ip, peer_as, pdu=b"", ptype=0, rd=b"\x00" * 8):
    if isinstance(peer_ip, bytes):  # 16-byte v6 peer, V flag set
        flags, addr = 0x80, peer_ip
    else:
        flags, addr = 0, b"\x00" * 12 + peer_ip.to_bytes(4, "big")
    peer_hdr = (
        bytes([ptype, flags]) + rd + addr
        + peer_as.to_bytes(4, "big") + b"\x00" * 4
        + (1_700_000_000).to_bytes(4, "big") + b"\x00" * 4
    )
    body = peer_hdr + pdu
    return bytes([3]) + (6 + len(body)).to_bytes(4, "big") + bytes([mtype]) + body


def test_bmp_decode_and_rib_compaction(spark):
    """BMP route monitoring decodes announcements/withdrawals with BGP
    attributes; rib_state keeps the latest per (peer, prefix) and
    tombstones withdrawn routes (reference src/bmp/bmp_msg.c)."""
    from pmacct_spark.streaming.bmp import decode_bmp, rib_state

    peer = 0xC0000205  # 192.0.2.5
    msgs = (
        _bmp_msg(3, peer, 64500)  # peer up
        + _bmp_msg(0, peer, 64500, _bgp_update([], [(0x0A010000, 16)], lp=100))
        + _bmp_msg(0, peer, 64500, _bgp_update([], [(0x0A020000, 16)], lp=200))
        # re-announce first prefix with new local_pref (must win) ...
        + _bmp_msg(0, peer, 64500, _bgp_update([], [(0x0A010000, 16)], lp=300))
        # ... then withdraw the second (must vanish)
        + _bmp_msg(0, peer, 64500, _bgp_update([(0x0A020000, 16)], []))
    )
    dg = spark.createDataFrame(
        [("203.0.113.9", bytearray(msgs))], "exporter_ip string, payload binary"
    )
    events = decode_bmp(dg).localCheckpoint(eager=True)
    assert events.filter("msg_type = 3").count() == 1  # peer up event
    rm = events.filter("msg_type = 0")
    assert rm.count() == 4
    assert rm.filter("is_withdrawal").count() == 1
    assert rm.filter("as_path = '64496 65001'").count() == 3
    rib = rib_state(events).collect()
    assert len(rib) == 1
    r = rib[0]
    assert r["prefix"] == 0x0A010000 and r["masklen"] == 16
    assert r["local_pref"] == 300 and r["peer_ip"] == "192.0.2.5"
    assert r["next_hop"] == 0x0A0000FE and r["med"] == 20


def test_sliding_window_stream_matches_batch(spark):
    """sliding_buckets is stateless (explode + bucket arithmetic), so
    the same operator runs unchanged on a stream; the streamed
    (window, key) aggregate must equal the batch plan's."""
    from pmacct_spark.operators.windows import sliding_buckets

    src = flows_stream(spark, SF_DIR).select("ts", "ip_proto", "bytes")
    stream = (
        sliding_buckets(src, 7200, 3600)
        .groupBy("window_start", "ip_proto")
        .agg(F.sum("bytes").alias("bytes"))
    )
    got = run_to_memory(stream, "t_slide").orderBy("window_start", "ip_proto")
    batch = (
        sliding_buckets(
            flows(spark, SF_DIR).select("ts", "ip_proto", "bytes"), 7200, 3600
        )
        .groupBy("window_start", "ip_proto")
        .agg(F.sum("bytes").alias("bytes"))
        .orderBy("window_start", "ip_proto")
    )
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in batch.collect()
    ]


def test_streaming_dedup_within_watermark(spark):
    """Streaming exact dedup: dropDuplicatesWithinWatermark keeps one
    row per key — the streaming tier of the dedup family (state
    bounded by the watermark, unlike unbounded dropDuplicates)."""
    ev = flows_stream(spark, SF_DIR).select(
        F.col("ts").cast("timestamp").alias("evt"), "as_src"
    )
    stream = ev.withWatermark("evt", "1 hour").dropDuplicatesWithinWatermark(
        ["as_src"]
    )
    got = run_to_memory(stream, "t_sdedup", mode="append")
    n_keys = flows(spark, SF_DIR).select("as_src").distinct().count()
    # every key appears at least once and no more than once per
    # watermark horizon; with this dataset's time span the result is
    # bounded well below the raw row count
    raw = flows(spark, SF_DIR).count()
    assert n_keys <= got.count() < raw


# ---------------------------------------------------------------------------
# two-phase decode (template learn -> broadcast -> parallel data pass)
# ---------------------------------------------------------------------------

def _mk_flows(spark, n=100):
    return spark.range(n).selectExpr(
        "167772160 + id AS ip_src_i", "167772161 + id AS ip_dst_i",
        "id % 8 AS iface_in", "(id + 3) % 8 AS iface_out",
        "1 + id % 100 AS packets", "100 + id AS bytes",
        "1700000000000 + id AS ts_ms", "1700000001000 + id AS end_ts_ms",
        "CAST(1000 + id AS INT) AS port_src", "CAST(443 AS INT) AS port_dst",
        "CAST(16 AS INT) AS tcp_flags",
        "CAST(CASE WHEN id % 2 = 0 THEN 6 ELSE 17 END AS INT) AS ip_proto",
        "CAST(0 AS INT) AS tos", "64500 + id % 20 AS as_src",
        "64501 + id % 20 AS as_dst",
    )


def test_twophase_matches_stateful_single_exporter(spark):
    from pmacct_spark.sinks.nfprobe import encode_v9
    from pmacct_spark.streaming.decode import decode_any_twophase, decode_v9

    dg = encode_v9(_mk_flows(spark).coalesce(1)).select(
        "exporter_ip", "payload"
    )
    a = sorted(map(tuple, decode_v9(dg).collect()))
    b = sorted(map(tuple, decode_any_twophase(dg, parallelism=7).collect()))
    assert a == b and len(a) == 100


def test_twophase_decodes_data_before_template(spark):
    """Closed-batch semantics: a data datagram ordered before its
    template still decodes (the stateful path would drop it)."""
    from pmacct_spark.sinks.nfprobe import encode_v9
    from pmacct_spark.streaming.decode import decode_any_twophase

    rows = encode_v9(_mk_flows(spark, 40).coalesce(1)).collect()
    flipped = list(reversed(rows))  # template datagram now LAST
    dg = spark.createDataFrame(flipped, "exporter_ip string, seqno long, payload binary")
    out = decode_any_twophase(dg.select("exporter_ip", "payload")).collect()
    assert len(out) == 40


def test_twophase_rejects_template_reassignment(spark):
    import pytest as _pytest
    import struct

    from pmacct_spark.streaming.decode import learn_template_cache

    def tmpl_dgram(fields):
        body = struct.pack("!HH", 256, len(fields)) + b"".join(
            struct.pack("!HH", ie, ln) for ie, ln in fields
        )
        fs = struct.pack("!HH", 0, 4 + len(body)) + body
        return struct.pack("!HHIIII", 9, 1, 0, 0, 0, 1) + fs

    dg = spark.createDataFrame(
        [
            ("198.51.100.7", 0, bytearray(tmpl_dgram([(8, 4), (12, 4)]))),
            ("198.51.100.7", 1, bytearray(tmpl_dgram([(8, 4), (7, 2)]))),
        ],
        "exporter_ip string, seqno long, payload binary",
    )
    with _pytest.raises(ValueError, match="redefined"):
        learn_template_cache(dg.select("exporter_ip", "payload").coalesce(1))


def test_decode_v9_stream_state_survives_batches(spark, tmp_path):
    """The template learned in micro-batch 1 must decode data-only
    datagrams arriving in micro-batch 2 (maxFilesPerTrigger=1 forces
    two batches; a stateless per-batch decoder would drop batch 2)."""
    from pmacct_spark.sinks.nfprobe import encode_v9
    from pmacct_spark.streaming.stateful import decode_v9_stream

    rows = encode_v9(_mk_flows(spark, 60).coalesce(1)).collect()
    tmpl_row = rows[0]          # template datagram
    data_rows = rows[1:]        # 2 data datagrams (30 recs each)
    src = tmp_path / "dgrams"
    src.mkdir()
    import pandas as pd_
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(path, rws):
        pq.write_table(
            pa.Table.from_pandas(
                pd_.DataFrame(
                    {
                        "exporter_ip": [r.exporter_ip for r in rws],
                        "seqno": [r.seqno for r in rws],
                        "payload": [bytes(r.payload) for r in rws],
                    }
                )
            ),
            path,
        )

    write(str(src / "b1.parquet"), [tmpl_row, data_rows[0]])
    write(str(src / "b2.parquet"), data_rows[1:])  # data ONLY

    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    decoded = decode_v9_stream(stream)
    q = (
        decoded.writeStream.outputMode("append")
        .format("memory")
        .queryName("q_v9_state")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("q_v9_state")
    assert got.count() == 60  # both data datagrams decoded


def test_decoders_survive_malformed_input(spark):
    """Garbage, truncated, and wrong-version datagrams must decode to
    zero rows — never raise (the reference logs and skips; a poison
    datagram must not kill a 100 TB job)."""
    import struct

    from pmacct_spark.streaming.decode import (
        decode_any,
        decode_any_ext,
        decode_options,
        decode_sflow5,
        decode_sflow_any,
        decode_sflow_counters,
        decode_v5,
        decode_v9,
    )

    garbage = [
        b"",
        b"\x00",
        b"\xff" * 7,
        b"garbage-not-a-datagram",
        struct.pack("!HH", 5, 9999),                    # truncated v5
        struct.pack("!HHIIII", 9, 5, 0, 0, 0, 1),       # v9 header only
        struct.pack("!HHIII", 10, 16, 0, 0, 1),         # bare IPFIX header
        struct.pack("!HHIII", 10, 9999, 0, 0, 1) + b"\x00" * 8,
        struct.pack("!I", 5) + b"\x00" * 10,            # truncated sflow
        struct.pack("!II", 5, 1) + b"\x00" * 30,        # sflow, 0 samples... lies
        struct.pack("!HH", 9, 0) + b"\x01" * 40,        # v9, zero count
        # v9 with a template flowset whose body lies about its length
        struct.pack("!HHIIII", 9, 1, 0, 0, 0, 1)
        + struct.pack("!HH", 0, 60) + b"\x02" * 8,
    ]
    dg = spark.createDataFrame(
        [("203.0.113.9", i, bytearray(b)) for i, b in enumerate(garbage)],
        "exporter_ip string, seqno long, payload binary",
    ).coalesce(1)
    sel = dg.select("exporter_ip", "payload")
    for dec in (
        decode_v5, decode_v9, decode_any, decode_any_ext,
        decode_options, decode_sflow5, decode_sflow_any,
        decode_sflow_counters,
    ):
        assert dec(sel).count() == 0, dec.__name__


def test_vlen_decoder_survives_poison_datagrams(spark):
    """A malformed data set under a template with >=2 variable-length
    IEs must drop the truncated record, not raise IndexError (ADVICE
    r3 high: a poison datagram from an untrusted exporter must never
    kill the job). Exercises the vlen scalar walk the generic
    malformed-input test never reaches."""
    from pmacct_spark.streaming.decode import (
        VLEN_SENTINEL,
        _decode_ext_records,
        decode_any_ext,
    )

    tmpl = [(236, VLEN_SENTINEL), (497, VLEN_SENTINEL)]
    # declared length pushes p past the body -> next field's length
    # byte used to raise IndexError
    assert _decode_ext_records(b"\x05AB", tmpl, "x", 1) == []
    # 255-escape with a truncated 2-byte length
    assert _decode_ext_records(b"\xffA", tmpl, "x", 1) == []
    # declared escape length overrunning the body
    assert _decode_ext_records(b"\xff\xff\xff" + b"A" * 10, tmpl, "x", 1) == []
    # vlen-only template: <=3 trailing zero bytes are set padding, not
    # a record (RFC 7011 s3.3.1; docstring min_len>=4 floor)
    got = _decode_ext_records(
        b"\x02hi\x01X\x00\x00\x00", [(236, VLEN_SENTINEL)], "x", 1
    )
    assert [r.get("vrf_name") for r in got] == ["hi", "X"]

    # end-to-end: full IPFIX datagrams (template set + poison data
    # set) through the Spark decode path -> zero rows, no task failure
    def msg(body_sets: bytes) -> bytes:
        return struct.pack("!HHIII", 10, 16 + len(body_sets), 0, 1, 0) + body_sets

    tset = struct.pack("!HH", 2, 4 + 4 + 8) + struct.pack(
        "!HHHHHH", 256, 2, 236, VLEN_SENTINEL, 497, VLEN_SENTINEL
    )
    poison = [
        msg(tset + struct.pack("!HH", 256, 4 + 3) + b"\x05AB"),
        msg(tset + struct.pack("!HH", 256, 4 + 2) + b"\xffA"),
        msg(tset + struct.pack("!HH", 256, 4 + 13) + b"\xff\xff\xff" + b"A" * 10),
    ]
    dg = spark.createDataFrame(
        [("203.0.113.66", i, bytearray(b)) for i, b in enumerate(poison)],
        "exporter_ip string, seqno long, payload binary",
    ).coalesce(1)
    assert decode_any_ext(dg.select("exporter_ip", "payload")).count() == 0


def test_srv6_segment_list_255_escape_roundtrip(spark):
    """A 16-segment SRv6 list is 256 bytes: the encoder must use the
    RFC 7011 s7 255-escape long form (the 1-byte short form would
    raise ValueError), and the decoder must round-trip all 16
    segments (ADVICE r3 medium)."""
    import ipaddress

    from pmacct_spark.sinks.nfprobe import encode_ipfix6
    from pmacct_spark.streaming.decode import decode_any_ext

    def full(s: str) -> str:
        return ipaddress.IPv6Address(s).exploded

    segs = ",".join(full(f"2001:db8::{i:x}") for i in range(1, 17))
    fl = spark.createDataFrame(
        [
            (
                full("2001:db8::1"), full("2001:db8::2"), full("2001:db8::3"),
                64, 48, 5, 1000, 10, 80, 443, 6, "vrf-a", segs,
            )
        ],
        "ip6_src string, ip6_dst string, ip6_nexthop string, "
        "mask6_src int, mask6_dst int, flow_label int, bytes long, "
        "packets long, port_src int, port_dst int, ip_proto int, "
        "vrf_name string, srv6_segs string",
    )
    back = decode_any_ext(
        encode_ipfix6(fl, with_srv6=True).select("exporter_ip", "payload")
    ).collect()
    assert len(back) == 1
    got_segs = back[0]["srv6_seg_ipv6_list"].split(",")
    assert len(got_segs) == 16
    assert got_segs[0] == full("2001:db8::1")
    assert got_segs[15] == full("2001:db8::10")


def test_enterprise_options_ie_does_not_alias_standard(spark):
    """An enterprise options-template IE with the same low bits as a
    standard sampling IE (ie 48 = sampler_id) must be keyed
    (pen<<16)|ie and therefore NOT populate the standard column
    (ADVICE r3 low: options templates used to strip the PEN)."""
    from pmacct_spark.streaming.decode import decode_options

    def otmpl_msg(ie_spec: bytes, nfields: int, datum: bytes) -> bytes:
        ot = struct.pack("!HH", 3, 4 + 6 + len(ie_spec)) + struct.pack(
            "!HHH", 300, nfields, 1
        ) + ie_spec
        ds = struct.pack("!HH", 300, 4 + len(datum)) + datum
        body = ot + ds
        return struct.pack("!HHIII", 10, 16 + len(body), 0, 1, 0) + body

    # scope: System(1) len 4; option: enterprise ie 48 (high bit set,
    # PEN 9999) len 4 -> must NOT become sampler_id
    ent = otmpl_msg(
        struct.pack("!HH", 1, 4)
        + struct.pack("!HH", 0x8000 | 48, 4)
        + struct.pack("!I", 9999),
        2,
        struct.pack("!II", 7, 1024),
    )
    # same template shape without the enterprise bit -> sampler_id
    std = otmpl_msg(
        struct.pack("!HH", 1, 4) + struct.pack("!HH", 48, 4),
        2,
        struct.pack("!II", 7, 1024),
    )
    dg = spark.createDataFrame(
        [("198.51.100.1", 0, bytearray(ent)), ("198.51.100.2", 1, bytearray(std))],
        "exporter_ip string, seqno long, payload binary",
    ).coalesce(1)
    rows = {
        r["exporter_ip"]: r
        for r in decode_options(dg.select("exporter_ip", "payload")).collect()
    }
    assert rows["198.51.100.2"]["sampler_id"] == 1024
    assert rows["198.51.100.1"]["sampler_id"] is None


def test_bgp_seq_stride_survives_large_datagram(spark):
    """A session chunk carrying >1000 routes must not overlap the next
    datagram's seq range: a later withdrawal has to beat every
    announcement from the earlier chunk in rib_state's latest-wins
    compaction (ADVICE r3 low: fixed seq stride of 1000)."""
    from pmacct_spark.streaming.bmp import (
        decode_bgp,
        encode_bgp_update,
        rib_state,
    )

    n = 1005
    chunk = b"".join(
        encode_bgp_update(0x0A000000 + (i << 8), 24, "65000")
        for i in range(n)
    )
    # hand-built withdrawal UPDATE for the LAST announced prefix
    # (seq n-1 in datagram 0): withdrawn routes, zero path attributes
    last = 0x0A000000 + ((n - 1) << 8)
    wd_nlri = bytes([24]) + last.to_bytes(4, "big")[:3]
    wd_body = (
        len(wd_nlri).to_bytes(2, "big") + wd_nlri + (0).to_bytes(2, "big")
    )
    withdraw = (
        b"\xff" * 16 + (19 + len(wd_body)).to_bytes(2, "big") + b"\x02" + wd_body
    )
    dg = spark.createDataFrame(
        [("10.9.9.9", 0, bytearray(chunk)), ("10.9.9.9", 1, bytearray(withdraw))],
        "exporter_ip string, seqno long, payload binary",
    ).coalesce(1)
    rib = rib_state(decode_bgp(dg.select("exporter_ip", "payload")))
    prefixes = {r["prefix"] for r in rib.collect()}
    assert rib.count() == n - 1
    import ipaddress as _ip

    assert str(_ip.IPv4Address(last)) not in prefixes


def test_custom_fixed_width_templates_take_compiled_path():
    """Fixed-width custom/enterprise templates (u_int + string
    semantics) must compile to the numpy frombuffer fast path — the
    scalar walk on the slowest wire loop was VERDICT r3's top
    constant-factor item. The compiled path signals itself with the
    __arr__ marker row."""
    from pmacct_spark.streaming.decode import (
        CustomIE,
        _compile_ext_tmpl,
        _decode_ext_records,
    )

    customs = {
        c.key: c
        for c in (
            CustomIE("app_tag", ie=1, pen=42, semantics="u_int", length=2),
            CustomIE("app_name", ie=2, pen=42, semantics="string", length=8),
        )
    }
    tmpl = [((42 << 16) | 1, 2), ((42 << 16) | 2, 8), (1, 4), (2, 4), (4, 1)]
    assert _compile_ext_tmpl(tmpl, customs) is not None
    body = (
        (7).to_bytes(2, "big") + b"app-3\x00\x00\x00"
        + (1000).to_bytes(4, "big") + (10).to_bytes(4, "big") + b"\x06"
    )
    compiled: dict = {}
    out = _decode_ext_records(
        body, tmpl, "x", 1, customs=customs, compiled=compiled,
        tmpl_key=("x", 0, 256),
    )
    assert len(out) == 1 and out[0][0] == "__arr__"
    arr, colmap = out[0][5], out[0][4]
    cols = {c[1]: arr[c[0]][0] for c in colmap}
    assert cols["app_tag"] == 7
    assert cols["app_name"] == "app-3"
    assert cols["bytes"] == 1000 and cols["ip_proto"] == 6
    # hex/ip/mac semantics still (correctly) fall back to the walk
    customs2 = {c.key: c for c in (CustomIE("h", ie=3, pen=42, semantics="hex", length=4),)}
    assert _compile_ext_tmpl([((42 << 16) | 3, 4)], customs2) is None


def test_truncated_enterprise_pen_does_not_raise(spark):
    """A template/options-template set that ends right after an
    enterprise ie/len pair (the 4-byte PEN truncated away) must drop
    the parse, not raise struct.error (code-review r4: the PEN reads
    were the one unguarded decode in the attacker-reachable path)."""
    from pmacct_spark.streaming.decode import decode_any_ext, decode_options

    # data template: tid 256, 1 field, enterprise ie 0x8001, len 4 —
    # and the body ends before the PEN
    tset = struct.pack("!HH", 2, 4 + 4 + 4) + struct.pack(
        "!HHHH", 256, 1, 0x8001, 4
    )
    msg1 = struct.pack("!HHIII", 10, 16 + len(tset), 0, 1, 0) + tset
    # options template: tid 300, 1 field (scope 0), enterprise, no PEN
    oset = struct.pack("!HH", 3, 4 + 6 + 4) + struct.pack(
        "!HHHHH", 300, 1, 0, 0x8001, 4
    )
    msg2 = struct.pack("!HHIII", 10, 16 + len(oset), 0, 2, 0) + oset
    dg = spark.createDataFrame(
        [("203.0.113.77", 0, bytearray(msg1)), ("203.0.113.77", 1, bytearray(msg2))],
        "exporter_ip string, seqno long, payload binary",
    ).coalesce(1)
    assert decode_any_ext(dg.select("exporter_ip", "payload")).count() == 0
    assert decode_options(dg.select("exporter_ip", "payload")).count() == 0


def test_short_fixed_record_still_decodes():
    """The >=4 min-record floor applies ONLY to vlen templates: a
    2-byte fixed record in an unpadded data set must decode
    (code-review r4: the unconditional floor silently dropped it)."""
    from pmacct_spark.streaming.decode import (
        VLEN_SENTINEL,
        _decode_ext_records,
    )

    # vlan IE 58 is an ext uint: 2-byte record, body exactly 2 bytes
    got = _decode_ext_records((4095).to_bytes(2, "big"), [(58, 2)], "x", 1)
    assert len(got) == 1 and got[0]["vlan"] == 4095
    # vlen-only template keeps the floor: 3 zero bytes = set padding
    assert (
        _decode_ext_records(b"\x00\x00\x00", [(236, VLEN_SENTINEL)], "x", 1)
        == []
    )


def test_stream_batch_parity_preprocess(spark):
    """preprocess (HAVING + usrf/adjb) applies post-aggregation in the
    streaming path exactly like the batch path."""
    from pmacct_spark.config import Preprocess

    cfg = PluginConfig(
        aggregate=["proto"], history="1h",
        preprocess=Preprocess(minb=50_000, usrf=2, adjb=7),
    )
    stream = stream_aggregation(flows_stream(spark, SF_DIR), cfg)
    got = run_to_memory(stream, "t_parity_pp").orderBy(
        "stamp_inserted", "proto"
    )
    want = (
        build_aggregation(flows(spark, SF_DIR), cfg)
        .select("stamp_inserted", "proto", "bytes", "packets", "flows")
        .orderBy("stamp_inserted", "proto")
    )
    gs = [tuple(r) for r in got.select(*want.columns).collect()]
    ws = [tuple(r) for r in want.collect()]
    assert gs == ws and len(gs) > 0


def test_stream_batch_parity_multiwindow(spark):
    """multi_window (whole-counter insert per spanned bucket) streams
    identically to the batch path."""
    cfg = PluginConfig(aggregate=["proto"], history="5m", multi_window=True)
    stream = stream_aggregation(flows_stream(spark, SF_DIR), cfg)
    got = run_to_memory(stream, "t_parity_mw").orderBy(
        "stamp_inserted", "proto"
    )
    want = (
        build_aggregation(flows(spark, SF_DIR), cfg)
        .select("stamp_inserted", "proto", "bytes", "packets", "flows")
        .orderBy("stamp_inserted", "proto")
    )
    gs = [tuple(r) for r in got.select(*want.columns).collect()]
    ws = [tuple(r) for r in want.collect()]
    assert gs == ws and len(gs) > 0


def test_templates_file_restart_cycle(spark, tmp_path):
    """nfacctd_templates_file (reference CONFIG-KEYS:2040,
    src/nfv9_template.c:255,1334): run 1 learns templates from a
    template+data capture and persists them; run 2 — a fresh decoder
    fed DATA-ONLY datagrams, the post-restart reality before the
    exporter's next template refresh — decodes every record via the
    seeded cache where an unseeded decoder drops them all."""
    from pmacct_spark.sinks.nfprobe import encode_v9
    from pmacct_spark.streaming.decode import (
        decode_any,
        decode_any_twophase,
        load_templates_file,
    )

    path = str(tmp_path / "templates.json")
    rows = encode_v9(_mk_flows(spark, 40).coalesce(1)).collect()
    dg = spark.createDataFrame(
        rows, "exporter_ip string, seqno long, payload binary"
    ).select("exporter_ip", "payload")

    # run 1: decode + persist
    out1 = decode_any_twophase(dg, templates_file=path).collect()
    assert len(out1) == 40

    # run 2: data-only datagrams (drop the template datagram — it is
    # the first one encode_v9 emits)
    data_only = spark.createDataFrame(
        rows[1:], "exporter_ip string, seqno long, payload binary"
    ).select("exporter_ip", "payload")
    assert decode_any(data_only).count() == 0  # unseeded: all dropped
    seed = load_templates_file(path)
    assert seed  # templates survived the "restart"
    out2 = decode_any(data_only, seed_templates=seed).collect()
    assert sorted(map(tuple, out2)) == sorted(map(tuple, out1))

    # in-capture definitions overwrite stale seeds (fresher wins)
    out3 = decode_any_twophase(dg, seed_templates=seed).collect()
    assert len(out3) == 40

    # missing file loads empty, not an error
    assert load_templates_file(str(tmp_path / "nope.json")) == {}


def test_daemon_templates_file_seeds_restart(spark, tmp_path):
    """Daemon-level cycle: a first daemon drains a capture and writes
    nfacctd_templates_file; a SECOND daemon (fresh process state) fed
    only data datagrams decodes them from the seeded file."""
    from pmacct_spark.daemon import Daemon
    from pmacct_spark.sinks.nfprobe import encode_v9

    path = str(tmp_path / "tpl.json")
    rows = encode_v9(_mk_flows(spark, 30).coalesce(1)).collect()

    # exercise the daemon's seed/persist methods directly on a
    # Daemon-shaped conf (the socket/spool machinery is orthogonal and
    # has its own live tests)
    import types

    from pmacct_spark.streaming.decode import (
        learn_template_cache,
        load_templates_file,
    )

    d = Daemon.__new__(Daemon)
    d.conf = types.SimpleNamespace(
        get=lambda k, default=None: {
            "nfacctd_templates_file": path
        }.get(k, default)
    )
    d.flavor = "netflow"
    live = spark.createDataFrame(
        rows, "exporter_ip string, seqno long, payload binary"
    ).select("exporter_ip", "payload")
    d._persist_templates(learn_template_cache(live))
    assert load_templates_file(path)

    d2 = Daemon.__new__(Daemon)
    d2.conf = d.conf
    d2.flavor = "netflow"
    from pmacct_spark.streaming.decode import decode_any

    data_only = spark.createDataFrame(
        rows[1:], "exporter_ip string, seqno long, payload binary"
    ).select("exporter_ip", "payload")
    out = decode_any(data_only, seed_templates=d2._templates_seed())
    assert out.count() == 30


def test_templates_receiver_forwards_template_datagrams_once(spark):
    """nfacctd_templates_receiver: template-set datagrams (and ONLY
    those) forward to the replicator over live UDP; the per-exporter
    seqno watermark keeps re-drains from re-sending."""
    import socket
    import time as _t
    import types

    from pmacct_spark.daemon import Daemon
    from pmacct_spark.sinks.nfprobe import encode_v9
    from pmacct_spark.streaming.decode import has_template_set

    rx = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    rx.bind(("127.0.0.1", 0))
    rx.settimeout(5)
    port = rx.getsockname()[1]

    rows = encode_v9(_mk_flows(spark, 30).coalesce(1)).collect()
    # exactly one datagram in this capture carries the template set
    assert sum(has_template_set(bytes(r["payload"])) for r in rows) == 1
    live = spark.createDataFrame(
        rows, "exporter_ip string, seqno long, payload binary"
    )

    d = Daemon.__new__(Daemon)
    d.conf = types.SimpleNamespace(
        get=lambda k, default=None: {
            "nfacctd_templates_receiver": f"127.0.0.1:{port}"
        }.get(k, default)
    )
    d.flavor = "netflow"
    d._forward_templates(live)

    got = rx.recv(65535)
    assert has_template_set(got)
    # data datagrams must NOT arrive, and a re-drain sends nothing new
    d._forward_templates(live)
    rx.settimeout(0.8)
    try:
        extra = rx.recv(65535)
        raise AssertionError(f"unexpected datagram: {extra[:20]!r}")
    except socket.timeout:
        pass
    finally:
        rx.close()


def test_stream_dedup_minhash_suppresses_later_batch(spark):
    """Near-duplicates arriving in the SECOND micro-batch are
    suppressed by the (band, bucket) -> min(doc_id) STATE built from
    the first — every batch-2 variant must be flagged, which a
    stateless per-batch dedup cannot do (its batch-2 buckets would be
    owned by the variants themselves)."""
    from pmacct_spark.driver_queries import queries

    out = {
        r["b"]: r
        for r in queries()["stream_dedup_minhash"](spark, SF_DIR).collect()
    }
    assert out[2]["dups"] == out[2]["docs"] > 0
    assert out[2]["survivors"] == 0
    # originals: only genuine intra-corpus near-dups flagged
    assert 0 < out[1]["survivors"] <= out[1]["docs"]


def test_stream_batch_parity_history_offset(spark):
    """sql_history_offset (CONFIG-KEYS:1413): boundaries shift to
    k*timeslot - offset on BOTH the batch path (bucket_expr) and the
    streaming path (F.window startTime), and every bucket lands at
    minute 45 of the previous hour instead of :00."""
    cfg = PluginConfig(
        aggregate=["proto"], history="1h", history_offset=900
    )
    stream = stream_aggregation(flows_stream(spark, SF_DIR), cfg)
    got = run_to_memory(stream, "t_offs").orderBy("stamp_inserted", "proto")
    want = (
        build_aggregation(flows(spark, SF_DIR), cfg)
        .select("stamp_inserted", "proto", "bytes", "packets", "flows")
        .orderBy("stamp_inserted", "proto")
    )
    got_rows = [tuple(r) for r in got.collect()]
    assert got_rows == [tuple(r) for r in want.collect()]
    assert got_rows, "fixture produced no buckets"
    assert all(r[0].minute == 45 for r in got_rows)


def test_history_offset_validation(spark):
    """Offset >= timeslot is the reference's startup error
    (src/plugin_common.c:960); calendar months have no timeslot to
    offset within."""
    import pytest

    from pmacct_spark.config import History
    from pmacct_spark.operators.windows import bucket_expr

    with pytest.raises(ValueError):
        bucket_expr("ts", History.parse("5m"), offset=300)
    with pytest.raises(ValueError):
        bucket_expr("ts", History.parse("1M"), offset=60)


def test_stream_ann_ivf_ingest_recall_matches_batch(spark):
    """Drift guard for the incremental ANN index: the availableNow
    replay's final posting table must serve the SAME top-k as the
    batch-built index (set equality), hence identical recall@k against
    the brute-force truth — an index drifting under incremental
    ingest (lost batch, duplicate posting, stale compaction) shows up
    here before it shows up in production recall."""
    from pmacct_spark.operators import similarity
    from pmacct_spark.queries_streaming import stream_ann_ivf_ingest
    from pmacct_spark.sources.tables import load_table

    inc = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in stream_ann_ivf_ingest(spark, SF_DIR).collect()
    }
    emb = load_table(spark, SF_DIR, "embeddings")
    bat = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.ivf_pq_topk(
            emb, k=3, refine=3, nprobe=2
        ).collect()
    }
    assert inc == bat and inc
    # recall@3 vs brute truth — equal by construction given the set
    # equality above; computed through the r10 recall harness shape so
    # a future divergence reports the recall delta, not just a diff
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(
            emb, emb.filter("vec_id < 10"), k=3
        ).collect()
    }
    inc_pairs = {(q, n) for q, n, _ in inc}
    bat_pairs = {(q, n) for q, n, _ in bat}
    assert len(inc_pairs & truth) == len(bat_pairs & truth)


def test_stream_ann_ivf_delete_tombstones_drop_vectors(spark):
    """Posting-table deletions (the MERGE-with-deletes shape): the
    tombstone batch removes its vec_ids from the compacted state, so
    deleted vectors NEVER surface in top-k, and the surviving index
    serves exactly what a batch index built without those rows would
    — ranks re-close over the survivors (FAISS remove_ids
    semantics)."""
    from pmacct_spark.queries_streaming import (
        _ANN_DELETE_PRED,
        stream_ann_ivf_delete,
        stream_ann_ivf_ingest,
    )

    dele = {
        (r.query_id, r.rank): r.neighbor_id
        for r in stream_ann_ivf_delete(spark, SF_DIR).collect()
    }
    assert dele  # the serving half returned rows
    # the deleted ids never surface
    assert not [
        n for n in dele.values() if n >= 10 and n % 7 == 3
    ], _ANN_DELETE_PRED
    # and the deletion is OBSERVABLE: the undeleted index ranked at
    # least one to-be-deleted vector in its top-k (otherwise this
    # test would pass vacuously)
    ing = {
        (r.query_id, r.rank): r.neighbor_id
        for r in stream_ann_ivf_ingest(spark, SF_DIR).collect()
    }
    assert any(n >= 10 and n % 7 == 3 for n in ing.values())


def test_stream_dedup_phash_suppresses_later_batch(spark):
    """Perceptually identical media re-ingested in the SECOND
    micro-batch is suppressed by the (band, bucket) -> min(content_id)
    owner STATE built from the first — the multimodal twin of the
    minhash suppression property."""
    from pmacct_spark.driver_queries import queries

    out = {
        r["b"]: r
        for r in queries()["stream_dedup_phash"](spark, SF_DIR).collect()
    }
    assert out[2]["dups"] == out[2]["docs"] > 0
    assert out[2]["survivors"] == 0
    assert 0 < out[1]["survivors"] <= out[1]["docs"]


def test_options_scope_check_gate(spark):
    """nfacctd_disable_opt_scope_check (CONFIG-KEYS:2206; gate at
    src/nfacctd.c:2098): a sampling-exposition options record whose
    template is NOT scoped to the System level (here: scope-less, and
    Line-Card-scoped) is dropped by default and accepted — as if
    system-scoped — only when the check is disabled. System-scoped
    records pass either way; non-sampling options (VRF/ifname
    exposition) are never gated."""
    import struct

    from pmacct_spark.streaming.decode import decode_options

    def v9_options(tid, scope_fields, option_fields, data):
        tmpl_body = struct.pack(
            "!HHH", tid, 4 * len(scope_fields), 4 * len(option_fields)
        )
        for ie, ln in scope_fields + option_fields:
            tmpl_body += struct.pack("!HH", ie, ln)
        pad_t = (-len(tmpl_body)) % 4
        tmpl_set = (
            struct.pack("!HH", 1, 4 + len(tmpl_body) + pad_t)
            + tmpl_body + b"\x00" * pad_t
        )
        pad_d = (-len(data)) % 4
        data_set = (
            struct.pack("!HH", tid, 4 + len(data) + pad_d)
            + data + b"\x00" * pad_d
        )
        return (
            struct.pack("!HHIIII", 9, 2, 0, 0, 7, 0) + tmpl_set + data_set
        )

    scopeless = v9_options(
        400, [], [(48, 2), (50, 4)], struct.pack("!HI", 10, 64)
    )
    linecard = v9_options(
        401, [(3, 4)], [(48, 2), (50, 4)],
        struct.pack("!IHI", 1, 11, 128),
    )
    system = v9_options(
        402, [(1, 4)], [(48, 2), (50, 4)],
        struct.pack("!IHI", 2, 12, 256),
    )
    dg = spark.createDataFrame(
        [("127.0.0.1", i, bytes(p))
         for i, p in enumerate([scopeless, linecard, system])],
        "exporter_ip string, seqno long, payload binary",
    )

    checked = decode_options(dg.select("exporter_ip", "payload"))
    assert [
        (r["sampler_id"], r["sampling_rate"])
        for r in checked.collect()
    ] == [(12, 256)]

    relaxed = decode_options(
        dg.select("exporter_ip", "payload"), opt_scope_check=False
    )
    got = sorted(
        (r["sampler_id"], r["sampling_rate"]) for r in relaxed.collect()
    )
    assert got == [(10, 64), (11, 128), (12, 256)]


def test_sflow_arp_passthrough_unknown_etype(spark):
    """aggregate_unknown_etype (CONFIG-KEYS:205): sfacctd-side it only
    makes ARP frames pass through, aggregable by the Ethernet L2
    fields (src_mac, dst_mac, vlan, etype); off (the default) drops
    them. IP samples always carry the L2 columns now (sfacctd's
    src_mac/dst_mac/etype primitives)."""
    from pmacct_spark.streaming.decode import decode_sflow5

    def sample_of(hdr: bytes, seq: int) -> bytes:
        raw_rec = struct.pack("!IIII", 1, 64, 4, len(hdr)) + hdr
        return struct.pack(
            "!IIIIIIII", seq, 1, 512, 9999, 0, 3, 4, 1
        ) + struct.pack("!II", 1, len(raw_rec)) + raw_rec

    # ARP who-has inside an 802.1Q tag (vlan 7)
    arp_hdr = (
        b"\xff" * 6 + b"\x0a" * 6 + b"\x81\x00"
        + (7).to_bytes(2, "big") + b"\x08\x06"
        + b"\x00\x01\x08\x00\x06\x04\x00\x01" + b"\x00" * 20
    )
    # an unknown (vendor) EtherType: dropped even with the knob on
    unk_hdr = b"\xff" * 6 + b"\x0b" * 6 + b"\x88\xb5" + b"\x00" * 20
    ip_hdr = _eth_ipv4_tcp(0x0A000001, 0x0A000002, 443, 55555)

    body = (
        struct.pack("!II", 1, len(sample_of(arp_hdr, 1)))
        + sample_of(arp_hdr, 1)
        + struct.pack("!II", 1, len(sample_of(unk_hdr, 2)))
        + sample_of(unk_hdr, 2)
        + struct.pack("!II", 1, len(sample_of(ip_hdr, 3)))
        + sample_of(ip_hdr, 3)
    )
    dgram = struct.pack("!IIIIIII", 5, 1, 0xC0000201, 0, 77, 1000, 3) + body
    dg = spark.createDataFrame(
        [("192.0.2.10", bytearray(dgram))],
        "exporter_ip string, payload binary",
    )

    off = decode_sflow5(dg).collect()
    assert len(off) == 1  # IP sample only
    assert off[0]["mac_dst"] == "02:02:02:02:02:02"
    assert off[0]["mac_src"] == "04:04:04:04:04:04"
    assert off[0]["etype"] == 0x0800

    on = decode_sflow5(dg, unknown_etype=True).collect()
    assert len(on) == 2  # ARP passes, vendor etype still dropped
    arp = [r for r in on if r["etype"] == 0x0806]
    assert len(arp) == 1
    r = arp[0]
    assert r["mac_src"] == "0a:0a:0a:0a:0a:0a"
    assert r["mac_dst"] == "ff:ff:ff:ff:ff:ff"
    assert r["vlan"] == 7 and r["ip_proto"] == 0 and r["bytes"] == 64


def test_nfprobe_engine_and_tstamp_usec(spark):
    """nfprobe_engine (CONFIG-KEYS:2550): v5 engine_type:engine_id in
    header bytes 20-21; nfprobe_tstamp_usec (:2613): v9/IPFIX export
    IEs 154/155 as 16-byte (seconds, microseconds) pairs — the
    reference's exact record layout
    (src/nfprobe_plugin/netflow9.c:1723-1736) — and the decoder
    surfaces them as epoch-microsecond columns."""
    from pmacct_spark.sinks.nfprobe import encode_ipfix, encode_v5
    from pmacct_spark.streaming.decode import decode_any_ext

    fl = spark.createDataFrame(
        [
            (0x0A000001, 0x0A000002, 1, 2, 3, 400,
             1_700_000_000_123, 1_700_000_001_456,
             1_700_000_000_123_456, 1_700_000_001_456_789,
             10, 20, 16, 6, 0, 64500, 64501),
        ],
        "ip_src_i long, ip_dst_i long, iface_in long, iface_out long,"
        " packets long, bytes long, ts_ms long, end_ts_ms long,"
        " ts_us long, end_ts_us long, port_src int, port_dst int,"
        " tcp_flags int, ip_proto int, tos int, as_src long, as_dst long",
    )
    # v5: engine fields land in header bytes 20-21
    dg5 = encode_v5(fl, engine=(7, 9)).collect()
    hdr = bytes(dg5[0]["payload"])
    assert hdr[20] == 7 and hdr[21] == 9

    # IPFIX with usec timestamps round-trips exactly
    back = decode_any_ext(
        encode_ipfix(fl, tstamp_usec=True).select("exporter_ip", "payload")
    ).collect()
    assert len(back) == 1
    assert back[0]["ts_us"] == 1_700_000_000_123_456
    assert back[0]["end_ts_us"] == 1_700_000_001_456_789
    assert back[0]["bytes"] == 400 and back[0]["ip_proto"] == 6


def test_pre_processing_checks_discard_malformed_padding(spark):
    """nfacctd_pre_processing_checks (CONFIG-KEYS:2221; the dry-run at
    src/nfacctd.c:2478): a v9 data flowset whose trailing padding
    bytes are non-zero (wrong template / garbage) is discarded WHOLE
    when the knob is on; default keeps the best-effort decode of the
    whole records."""
    from pmacct_spark.streaming.decode import decode_any

    tid = 300
    tmpl = _v9_packet(1, 1, [_v9_template(tid)])
    # one good 17-byte record + 3 bytes of NON-ZERO "padding"
    rec = struct.pack("!IIIIB", 0x0A000001, 0x0A000002, 500, 2, 6)
    bad_fs = struct.pack("!HH", tid, 4 + len(rec) + 3) + rec + b"\xde\xad\x01"
    bad = struct.pack("!HHIIII", 9, 1, 0, 1_700_000_000, 2, 1) + bad_fs
    good = _v9_packet(
        3, 1, [_v9_data(tid, [(0x0A000003, 0x0A000004, 700, 3, 17)])]
    )
    dg = spark.createDataFrame(
        [("198.51.100.7", bytearray(p)) for p in (tmpl, bad, good)],
        "exporter_ip string, payload binary",
    ).coalesce(1)

    default = decode_any(dg).orderBy("ip_src_i").collect()
    assert [(r["bytes"]) for r in default] == [500, 700]

    checked = decode_any(dg, pre_checks=True).collect()
    # the malformed flowset is discarded whole; the clean one decodes
    assert [(r["ip_src_i"], r["bytes"]) for r in checked] == [
        (0x0A000003, 700)
    ]


def test_v5_time_secs_header(spark):
    """nfacctd_time_secs (CONFIG-KEYS:2190): the v5 header's SysUptime
    and record First/Last interpreted as SECONDS — the same datagram
    decodes to second-scaled timestamps only when the knob is set."""
    from pmacct_spark.streaming.decode import decode_v5

    # uptime 1000 s, first = 995 s after boot
    hdr = V5_HEADER.pack(5, 1, 1000, 1_700_000_000, 0, 3, 0, 0, 1)
    rec = V5_RECORD.pack(1, 2, 0, 1, 2, 3, 400, 995, 999, 1, 2, 0, 16,
                         6, 0, 64500, 64501, 24, 24, 0)
    dg = spark.createDataFrame(
        [("198.51.100.1", bytearray(hdr + rec))],
        "exporter_ip string, payload binary",
    )
    default = decode_v5(dg).collect()[0]
    secs = decode_v5(dg, time_secs=True).collect()[0]
    # default: ms math — base = secs*1000 - 1000, ts = base + 995
    assert default["ts_ms"] == 1_700_000_000 * 1000 - 1000 + 995
    # secs: base = secs*1000 - 1000*1000, ts = base + 995*1000
    assert secs["ts_ms"] == 1_700_000_000 * 1000 - 1_000_000 + 995_000
    assert secs["end_ts_ms"] - secs["ts_ms"] == 4000


def test_stream_shuffle_partitions_scale_adaptive(spark):
    """Guide §2: the streaming harness derives its shuffle/state
    partition count from the replay's source bytes (streaming plans
    ignore AQE coalescing), parameterised by conf with the derivation
    clamped so production volumes ask for MORE than the local core
    count, never a local-mode constant."""
    from pmacct_spark.streaming import jobs as J

    par = spark.sparkContext.defaultParallelism
    # tiny replay -> 1 partition; huge replay -> clamped to 4x cores
    assert J.stream_shuffle_partitions(spark, 3 << 20) == 1
    assert J.stream_shuffle_partitions(spark, 10 << 40) == 4 * par
    # linear in between at the 64 MB default target
    assert J.stream_shuffle_partitions(spark, 640 << 20) == min(10, 4 * par)
    # no hint (e.g. the daemon's spool stream) -> no override
    assert J.stream_shuffle_partitions(spark, None) is None
    # conf pin and kill-switch
    spark.conf.set("spark.pmacct.stream.shufflePartitions", "7")
    try:
        assert J.stream_shuffle_partitions(spark, 3 << 20) == 7
        spark.conf.set("spark.pmacct.stream.shufflePartitions", "off")
        assert J.stream_shuffle_partitions(spark, 3 << 20) is None
    finally:
        spark.conf.unset("spark.pmacct.stream.shufflePartitions")
    # the one-shot hint is consumed by the scope and the session value
    # restored afterwards
    old = spark.conf.get("spark.sql.shuffle.partitions")
    J.note_stream_source_bytes(3 << 20)
    with J.scoped_stream_partitions(spark):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
    assert spark.conf.get("spark.sql.shuffle.partitions") == old
    assert not J._STREAM_SOURCE_BYTES
    # consumed: a second scope without a fresh hint is a no-op
    with J.scoped_stream_partitions(spark):
        assert spark.conf.get("spark.sql.shuffle.partitions") == old
