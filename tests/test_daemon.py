"""End-to-end daemon scenario: a reference-format config drives the
whole collector — live UDP socket -> v5 wire decode -> two plugin
channels (memory + print) -> sinks — and the emitted aggregates match
a hand-computed golden. This is the nfacctd top loop as one test.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from pmacct_spark.daemon import Daemon
from pmacct_spark.sources.udp import send_datagrams
from tests.test_streaming import _v5_datagram

CONF = """
! collector
nfacctd_ip: 127.0.0.1
nfacctd_port: 0            ! ephemeral for the test
plugins: memory[imt], print[files]
aggregate[imt]: src_host, dst_host
sql_history[imt]: 5m
aggregate[files]: proto
print_history[files]: 5m
print_output[files]: csv
"""


def _fire(port: int) -> dict:
    """Send two v5 datagrams; return the expected per-proto golden."""
    recs1 = [
        {"src": 0x0A000001, "dst": 0x0B000001, "pkts": 10, "bytes": 1000,
         "sport": 1234, "dport": 443, "proto": 6},
        {"src": 0x0A000002, "dst": 0x0B000001, "pkts": 2, "bytes": 200,
         "sport": 53, "dport": 53, "proto": 17},
    ]
    recs2 = [
        {"src": 0x0A000001, "dst": 0x0B000001, "pkts": 5, "bytes": 500,
         "sport": 1235, "dport": 443, "proto": 6},
    ]
    sent = send_datagrams(
        [_v5_datagram(1, recs1), _v5_datagram(2, recs2)], "127.0.0.1", port
    )
    assert sent == 2
    return {6: (1500, 15, 2), 17: (200, 2, 1)}


def test_daemon_conf_to_sinks(spark, tmp_path):
    conf = CONF + f"print_output_file[files]: {tmp_path / 'out_csv'}\n"
    d = Daemon.from_conf(
        spark, conf, spool_dir=str(tmp_path / "spool")
    )
    try:
        golden = _fire(d.port)
        t0 = time.monotonic()
        while d.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        assert d.spool.datagrams_received == 2
        results = d.run_available()
    finally:
        d.stop()

    # memory plugin: src/dst host keys, IMT table registered
    imt = results["imt"]
    assert spark.table("imt_imt").count() == imt.count()
    rows = {
        (r["src_host"], r["dst_host"]): (r["bytes"], r["packets"], r["flows"])
        for r in imt.collect()
    }
    assert rows == {
        ("10.0.0.1", "11.0.0.1"): (1500, 15, 2),
        ("10.0.0.2", "11.0.0.1"): (200, 2, 1),
    }

    # print plugin: per-proto channel, CSV on disk with header; known
    # protocols render as NAMES by default (print_num_protos false,
    # CONFIG-KEYS:1899 'The default is to look protocol names up')
    names = {6: "tcp", 17: "udp"}
    got = {
        r["proto"]: (int(r["bytes"]), int(r["packets"]), int(r["flows"]))
        for r in spark.read.option("header", "true")
        .csv(str(tmp_path / "out_csv"))
        .collect()
    }
    assert got == {names[k]: v for k, v in golden.items()}


def test_daemon_batch_replay_equals_streaming(spark, tmp_path):
    """The same spool replayed as a BATCH plan (pcap-savefile shape)
    produces the identical channel result as the streaming plan
    ``run_continuous`` serves it with."""
    from pmacct_spark.streaming.jobs import run_to_memory, stream_aggregation

    d = Daemon.from_conf(
        spark, CONF, spool_dir=str(tmp_path / "spool2")
    )
    try:
        _fire(d.port)
        t0 = time.monotonic()
        while d.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        replay = {
            tuple(r) for r in results_select(d.run_available()["files"])
        }
        streamed = stream_aggregation(d._streamed(), d.channels["files"])
        live = {
            tuple(r)
            for r in results_select(run_to_memory(streamed, "parity_files"))
        }
    finally:
        d.stop()
    assert live == replay and live


def results_select(df):
    return df.select(
        "stamp_inserted", "proto", "bytes", "packets", "flows"
    ).collect()


def test_daemon_maps_tagging_and_renormalize(spark, tmp_path):
    """pre_tag_map + sampling_map from files referenced in the conf:
    flows are tagged before plugin fan-out, the channel's
    pre_tag_filter routes only its tag, and nfacctd_renormalize
    multiplies counters by the exporter's mapped rate."""
    (tmp_path / "pretag.map").write_text(
        "set_tag=100 ip=127.0.0.1 in=1\n"
        "set_tag=200 ip=127.0.0.1\n"
    )
    (tmp_path / "sampling.map").write_text("id=64 ip=127.0.0.1/32\n")
    conf = f"""
nfacctd_port: 0
nfacctd_renormalize: true
pre_tag_map: {tmp_path / 'pretag.map'}
sampling_map: {tmp_path / 'sampling.map'}
plugins: memory[tagged]
aggregate[tagged]: tag
sql_history[tagged]: 5m
pre_tag_filter[tagged]: 100
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool3"))
    try:
        # iface_in=1 -> tag 100 (kept); iface_in=2 -> tag 200 (dropped)
        recs_in1 = [{"src": 1, "dst": 2, "pkts": 3, "bytes": 400,
                     "sport": 1, "dport": 2}]
        recs_in2 = [{"src": 5, "dst": 6, "pkts": 7, "bytes": 800,
                     "sport": 3, "dport": 4}]
        import struct as _s

        from pmacct_spark.streaming.decode import V5_HEADER, V5_RECORD

        def dg(recs, iface):
            hdr = V5_HEADER.pack(5, len(recs), 1_000_000, 1_700_000_000,
                                 0, 0, 0, 0, 1)
            body = b"".join(
                V5_RECORD.pack(r["src"], r["dst"], 0, iface, 2, r["pkts"],
                               r["bytes"], 995_000, 999_000, r["sport"],
                               r["dport"], 0, 16, 6, 0, 64500, 64501, 24,
                               24, 0)
                for r in recs
            )
            return hdr + body

        send_datagrams([dg(recs_in1, 1), dg(recs_in2, 2)], "127.0.0.1", d.port)
        t0 = time.monotonic()
        while d.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        out = d.run_available()["tagged"]
    finally:
        d.stop()
    rows = out.collect()
    # only tag 100 routed; counters renormalized by rate 64
    assert len(rows) == 1
    assert rows[0]["tag"] == 100
    assert rows[0]["bytes"] == 400 * 64 and rows[0]["packets"] == 3 * 64


def test_daemon_imt_queryable_via_client(spark, tmp_path):
    """The daemon's memory channel serves the pmacct client surface:
    the collected aggregate answers -s (full table), -M match and -T
    top-N requests — the full collector + client query loop."""
    from pmacct_spark.client.imt import ImtTable

    d = Daemon.from_conf(spark, CONF, spool_dir=str(tmp_path / "spool4"))
    try:
        _fire(d.port)
        t0 = time.monotonic()
        while d.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        imt_df = d.run_available()["imt"]
    finally:
        d.stop()
    table = ImtTable(
        imt_df, keys=["src_host", "dst_host"],
        counters=["bytes", "packets", "flows"],
    )
    # -s full table
    assert table.stats().count() == 2
    # -M exact match on the hot talker (wildcard dst)
    m = table.match("10.0.0.1,*").collect()
    assert len(m) == 1 and m[0]["bytes"] == 1500
    # -T bytes,1 top-N
    top = table.topn("bytes", 1).collect()
    assert top[0]["src_host"] == "10.0.0.1" and top[0]["bytes"] == 1500


def test_daemon_live_flow_bgp_correlation(spark, tmp_path):
    """Both sockets live: a BGP peer streams its table over TCP, flow
    datagrams arrive over UDP, and the channel aggregates by as_path —
    the reference's nfacctd+bgp_daemon correlation (tests/5xx), fully
    live end-to-end."""
    import socket as _sock

    from pmacct_spark.streaming.bmp import encode_bgp_update

    conf = """
nfacctd_port: 0
bgp_daemon: true
bgp_daemon_port: 0
plugins: memory[routes]
aggregate[routes]: as_path
sql_history[routes]: 5m
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool5"))
    try:
        # the peer announces two prefixes with distinct paths
        session = encode_bgp_update(
            0x0A000000, 8, "65000 65100"
        ) + encode_bgp_update(0x0B000000, 8, "65000 65200")
        c = _sock.socket(_sock.AF_INET, _sock.SOCK_STREAM)
        c.connect(("127.0.0.1", d.bgp_port))
        c.sendall(session)
        c.close()
        t0 = time.monotonic()
        while d.bgp_spool.messages_spooled < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)

        recs_a = [{"src": 1, "dst": 0x0A010101, "pkts": 2, "bytes": 300,
                   "sport": 1, "dport": 2}]
        recs_b = [{"src": 2, "dst": 0x0B020202, "pkts": 4, "bytes": 700,
                   "sport": 3, "dport": 4}]
        recs_off = [{"src": 3, "dst": 0x0C030303, "pkts": 1, "bytes": 50,
                     "sport": 5, "dport": 6}]
        send_datagrams(
            [_v5_datagram(1, recs_a), _v5_datagram(2, recs_b),
             _v5_datagram(3, recs_off)],
            "127.0.0.1", d.port,
        )
        t0 = time.monotonic()
        while d.spool.datagrams_received < 3 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        out = d.run_available()["routes"]
    finally:
        d.stop()
    got = {
        r["as_path"]: (r["bytes"], r["packets"]) for r in out.collect()
    }
    assert got == {
        "65000 65100": (300, 2),
        "65000 65200": (700, 4),
        "": (50, 1),  # off-RIB traffic gets the empty-path default
    }


def test_daemon_continuous_live_updates(spark, tmp_path):
    """Steady-state mode: channels run with a processing-time trigger
    and the served aggregate ADVANCES while the daemon stays up —
    datagrams sent after the queries started appear without a restart."""
    d = Daemon.from_conf(spark, CONF, spool_dir=str(tmp_path / "spool6"))
    run = None
    try:
        _fire(d.port)
        t0 = time.monotonic()
        while d.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        d.spool.flush()
        run = d.run_continuous(trigger_secs=0.5)
        assert run.await_any_progress()

        def served_bytes():
            try:
                rows = spark.table("imt_files").collect()
            except Exception:
                return -1
            return sum(r["bytes"] for r in rows)

        t0 = time.monotonic()
        while served_bytes() < 1700 and time.monotonic() - t0 < 30:
            time.sleep(0.2)
        assert served_bytes() == 1700  # first two datagrams

        # live update: a third datagram lands while queries run
        send_datagrams(
            [_v5_datagram(3, [{"src": 9, "dst": 9, "pkts": 1, "bytes": 99,
                               "sport": 1, "dport": 2}])],
            "127.0.0.1", d.port,
        )
        t0 = time.monotonic()
        while served_bytes() < 1799 and time.monotonic() - t0 < 30:
            time.sleep(0.2)
        assert served_bytes() == 1799
    finally:
        if run is not None:
            run.stop()
        d.stop()


def test_daemon_bgp_table_dump(spark, tmp_path):
    """bgp_table_dump_file: the serve cycle writes a RIB snapshot in
    the reference's dump event form (dump_init/dump/dump_close per
    peer; src/bgp/bgp_logdump.c, tests/203+304 dump families)."""
    import glob as _glob
    import json as _json
    import socket as _sock

    from pmacct_spark.streaming.bmp import encode_bgp_update

    dump_dir = str(tmp_path / "ribdump")
    conf = f"""
nfacctd_port: 0
bgp_daemon: true
bgp_daemon_port: 0
bgp_table_dump_file: {dump_dir}
bgp_table_dump_refresh_time: 120
bgp_table_dump_time_slots: 3
plugins: memory[routes]
aggregate[routes]: as_path
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool6"))
    try:
        session = encode_bgp_update(
            0x0A000000, 8, "65000 65100"
        ) + encode_bgp_update(0x0B000000, 8, "65000 65200")
        c = _sock.socket(_sock.AF_INET, _sock.SOCK_STREAM)
        c.connect(("127.0.0.1", d.bgp_port))
        c.sendall(session)
        c.close()
        t0 = time.monotonic()
        while d.bgp_spool.messages_spooled < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        assert d.dump_rib_if_configured() == dump_dir
    finally:
        d.stop()
    rows = []
    for f in _glob.glob(f"{dump_dir}/**/*.json", recursive=True):
        with open(f) as fh:
            rows += [_json.loads(line) for line in fh if line.strip()]
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    assert len(by_type["dump_init"]) == 1  # one peer session
    assert len(by_type["dump"]) == 2
    assert by_type["dump_close"][0]["entries"] == 2
    assert {r["as_path"] for r in by_type["dump"]} == {
        "65000 65100", "65000 65200"}


def test_daemon_live_bmp_correlation_with_peer_down(spark, tmp_path):
    """bmp_daemon (the pmbmpd flavor): BMP messages stream over TCP,
    flows over UDP; the channel enriches from the BMP-fed RIB and a
    Peer Down purges that peer's routes before correlation (the
    reference's nfacctd+bmp tests/4xx shape, live end-to-end)."""
    import socket as _sock

    from tests.test_streaming import _bgp_update, _bmp_msg

    conf = """
nfacctd_port: 0
bmp_daemon: true
bmp_daemon_port: 0
plugins: memory[routes]
aggregate[routes]: as_path
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool7"))
    try:
        peer_a, peer_b = 0xC0000205, 0xC0000206  # 192.0.2.5 / .6
        stream = (
            _bmp_msg(3, peer_a, 64500)
            + _bmp_msg(0, peer_a, 64500,
                       _bgp_update([], [(0x0A000000, 8)], as_path=(65000, 65100)))
            + _bmp_msg(3, peer_b, 64510)
            + _bmp_msg(0, peer_b, 64510,
                       _bgp_update([], [(0x0B000000, 8)], as_path=(65000, 65200)))
            + _bmp_msg(2, peer_b, 64510)  # B down: its route must purge
        )
        c = _sock.socket(_sock.AF_INET, _sock.SOCK_STREAM)
        c.connect(("127.0.0.1", d.bmp_port))
        c.sendall(stream)
        c.close()
        t0 = time.monotonic()
        while d.bmp_spool.messages_spooled < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)

        recs_a = [{"src": 1, "dst": 0x0A010101, "pkts": 2, "bytes": 300,
                   "sport": 1, "dport": 2}]
        recs_b = [{"src": 2, "dst": 0x0B020202, "pkts": 4, "bytes": 700,
                   "sport": 3, "dport": 4}]
        send_datagrams(
            [_v5_datagram(1, recs_a), _v5_datagram(2, recs_b)],
            "127.0.0.1", d.port,
        )
        t0 = time.monotonic()
        while d.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        out = d.run_available()["routes"]
    finally:
        d.stop()
    got = {r["as_path"]: (r["bytes"], r["packets"]) for r in out.collect()}
    assert got == {
        "65000 65100": (300, 2),  # A's /8 still enriches
        "": (700, 4),             # B's route purged by Peer Down
    }


def test_daemon_rpki_roas_file(spark, tmp_path):
    """rpki_roas_file: flows inherit the looked-up route's ROA status
    (dst_roa primitive) computed live against the loaded ROA table —
    valid origin, wrong origin, and off-table routes."""
    import socket as _sock

    from pmacct_spark.streaming.bmp import encode_bgp_update

    roas = tmp_path / "roas.json"
    roas.write_text(
        '{"roas": ['
        '{"prefix": "10.0.0.0/8", "asn": "AS65100", "maxLength": 8},'
        '{"prefix": "11.0.0.0/8", "asn": "AS64000", "maxLength": 8}]}'
    )
    conf = f"""
nfacctd_port: 0
bgp_daemon: true
bgp_daemon_port: 0
rpki_roas_file: {roas}
plugins: memory[routes]
aggregate[routes]: dst_roa
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool8"))
    try:
        session = encode_bgp_update(
            0x0A000000, 8, "65000 65100"   # origin matches ROA -> v
        ) + encode_bgp_update(0x0B000000, 8, "65000 65200")  # covered, wrong origin -> i
        c = _sock.socket(_sock.AF_INET, _sock.SOCK_STREAM)
        c.connect(("127.0.0.1", d.bgp_port))
        c.sendall(session)
        c.close()
        t0 = time.monotonic()
        while d.bgp_spool.messages_spooled < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        send_datagrams(
            [_v5_datagram(1, [{"src": 1, "dst": 0x0A010101, "pkts": 2,
                               "bytes": 300, "sport": 1, "dport": 2}]),
             _v5_datagram(2, [{"src": 2, "dst": 0x0B020202, "pkts": 4,
                               "bytes": 700, "sport": 3, "dport": 4}]),
             _v5_datagram(3, [{"src": 3, "dst": 0x0C030303, "pkts": 1,
                               "bytes": 50, "sport": 5, "dport": 6}])],
            "127.0.0.1", d.port,
        )
        t0 = time.monotonic()
        while d.spool.datagrams_received < 3 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        out = d.run_available()["routes"]
    finally:
        d.stop()
    got = {r["dst_roa"]: (r["bytes"], r["packets"]) for r in out.collect()}
    assert got == {"v": (300, 2), "i": (700, 4), "u": (50, 1)}


def test_daemon_bmp_best_path_no_fanout(spark, tmp_path):
    """Two BGP neighbors of one monitored router announcing the SAME
    prefix must collapse to one best-path RIB row (highest local_pref)
    before flow correlation — not double-count every matching flow."""
    import socket as _sock

    from tests.test_streaming import _bgp_update, _bmp_msg

    conf = """
nfacctd_port: 0
bmp_daemon: true
bmp_daemon_port: 0
plugins: memory[routes]
aggregate[routes]: as_path
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool9"))
    try:
        stream = (
            _bmp_msg(3, 0xC0000205, 64500)
            + _bmp_msg(0, 0xC0000205, 64500,
                       _bgp_update([], [(0x0A000000, 8)],
                                   as_path=(65000, 65100), lp=100))
            + _bmp_msg(3, 0xC0000206, 64510)
            + _bmp_msg(0, 0xC0000206, 64510,
                       _bgp_update([], [(0x0A000000, 8)],
                                   as_path=(65000, 65200), lp=300))
        )
        c = _sock.socket(_sock.AF_INET, _sock.SOCK_STREAM)
        c.connect(("127.0.0.1", d.bmp_port))
        c.sendall(stream)
        c.close()
        t0 = time.monotonic()
        while d.bmp_spool.messages_spooled < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        send_datagrams(
            [_v5_datagram(1, [{"src": 1, "dst": 0x0A010101, "pkts": 2,
                               "bytes": 300, "sport": 1, "dport": 2}])],
            "127.0.0.1", d.port,
        )
        t0 = time.monotonic()
        while d.spool.datagrams_received < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        out = d.run_available()["routes"]
    finally:
        d.stop()
    got = {r["as_path"]: (r["bytes"], r["packets"]) for r in out.collect()}
    # exactly once, via the higher-local-pref neighbor
    assert got == {"65000 65200": (300, 2)}


def test_daemon_wire_options_renormalization(spark, tmp_path):
    """nfacctd_renormalize with NO sampling_map learns the sampler
    rate from options-data records arriving on the same socket (the
    reference's tests/104 sampling-option path): counters multiply by
    the exporter's own exposed rate."""
    conf = """
nfacctd_port: 0
nfacctd_renormalize: true
plugins: memory[renorm]
aggregate[renorm]: proto
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spoolA"))
    try:
        from pmacct_spark.sinks.nfprobe import encode_options

        rates_src = spark.createDataFrame(
            [("127.0.0.1", 0, 10, 64)],
            "exporter_ip string, sysid int, sampler_id int, sampling_rate long",
        )
        opt_payload = bytes(
            encode_options(rates_src, version=9).select("payload").collect()[0][0]
        )
        send_datagrams(
            [opt_payload,
             _v5_datagram(1, [{"src": 1, "dst": 2, "pkts": 3, "bytes": 500,
                               "sport": 1, "dport": 2}])],
            "127.0.0.1", d.port,
        )
        t0 = time.monotonic()
        while d.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        out = d.run_available()["renorm"]
        rows = out.collect()
    finally:
        d.stop()
    # 500 bytes * learned rate 64
    assert [(r["bytes"], r["packets"]) for r in rows] == [(32000, 192)]


def test_daemon_continuous_bgp_routes_after_start(spark, tmp_path):
    """Routes announced AFTER run_continuous() started must still
    enrich flows (regression: lpm_join froze the RIB's masklen set at
    query-plan time, so a late-announced prefix length was never
    joined for the lifetime of the stream)."""
    import socket as _sock

    from pmacct_spark.streaming.bmp import encode_bgp_update

    conf = """
nfacctd_port: 0
bgp_daemon: true
bgp_daemon_port: 0
plugins: memory[live]
aggregate[live]: as_path
sql_history[live]: 5m
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spoolB"))
    run = None
    try:
        # start the streaming queries with an EMPTY RIB
        run = d.run_continuous(trigger_secs=0.5)

        # only now does the peer announce (a /8 — no /8 existed at
        # plan time, nothing did)
        c = _sock.socket(_sock.AF_INET, _sock.SOCK_STREAM)
        c.connect(("127.0.0.1", d.bgp_port))
        c.sendall(encode_bgp_update(0x0A000000, 8, "65000 65400"))
        c.close()
        t0 = time.monotonic()
        while d.bgp_spool.messages_spooled < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)

        send_datagrams(
            [_v5_datagram(1, [{"src": 1, "dst": 0x0A010101, "pkts": 2,
                               "bytes": 300, "sport": 1, "dport": 2}])],
            "127.0.0.1", d.port,
        )

        def served():
            try:
                return {
                    r["as_path"]: r["bytes"]
                    for r in spark.table("imt_live").collect()
                }
            except Exception:
                return {}

        t0 = time.monotonic()
        while served().get("65000 65400") != 300 and time.monotonic() - t0 < 45:
            time.sleep(0.3)
        assert served() == {"65000 65400": 300}
    finally:
        if run is not None:
            run.stop()
        d.stop()


def test_daemon_map_reload_between_drains(spark, tmp_path):
    """Editing sampling_map on disk takes effect on the next drain
    without a daemon restart — the reference's SIGUSR2 map reload
    (src/plugin_common.c:56); plans re-read the file per build."""
    smap = tmp_path / "sampling.map"
    smap.write_text("id=64 ip=127.0.0.1\n")
    conf = f"""
nfacctd_port: 0
nfacctd_renormalize: true
sampling_map: {smap}
plugins: memory[m]
aggregate[m]: proto
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spoolC"))
    try:
        send_datagrams(
            [_v5_datagram(1, [{"src": 1, "dst": 2, "pkts": 3, "bytes": 100,
                               "sport": 1, "dport": 2}])],
            "127.0.0.1", d.port,
        )
        t0 = time.monotonic()
        while d.spool.datagrams_received < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        first = d.run_available()["m"].collect()
        assert [(r["bytes"]) for r in first] == [6400]  # rate 64

        smap.write_text("id=8 ip=127.0.0.1\n")  # operator edits the map
        second = d.run_available()["m"].collect()
        assert [(r["bytes"]) for r in second] == [800]  # rate 8, no restart
    finally:
        d.stop()


def test_daemon_networks_file_and_ports_file(spark, tmp_path):
    """networks_file with nfacctd_as: file overrides the export's AS
    numbers via LPM (unmatched -> 0); ports_file zeroes ports not in
    the allowlist — both live through the UDP socket."""
    nets = tmp_path / "networks.lst"
    nets.write_text("65100,10.0.0.0/8\n65200,11.0.0.0/8\n")
    ports = tmp_path / "ports.lst"
    ports.write_text("443\n")
    conf = f"""
nfacctd_port: 0
nfacctd_as: file
networks_file: {nets}
ports_file: {ports}
plugins: memory[m]
aggregate[m]: src_as, dst_as, dst_port
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spoolD"))
    try:
        send_datagrams(
            [_v5_datagram(1, [
                # 10.x -> 11.x, dport 443 (in allowlist)
                {"src": 0x0A010101, "dst": 0x0B020202, "pkts": 1,
                 "bytes": 100, "sport": 5, "dport": 443},
                # 12.x (off-table -> AS 0), dport 8080 (not listed -> 0)
                {"src": 0x0C010101, "dst": 0x0A090909, "pkts": 1,
                 "bytes": 50, "sport": 5, "dport": 8080},
            ])],
            "127.0.0.1", d.port,
        )
        t0 = time.monotonic()
        while d.spool.datagrams_received < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        out = d.run_available()["m"].collect()
    finally:
        d.stop()
    got = {(r["src_as"], r["dst_as"], r["dst_port"]): r["bytes"] for r in out}
    assert got == {
        (65100, 65200, 443): 100,  # both matched, port kept
        (0, 65100, 0): 50,         # src off-table, port zeroed
    }


def test_daemon_networks_knobs(spark, tmp_path):
    """networks_file_no_lpm keeps the export's AS where the file did
    NOT match (instead of zeroing); nfacctd_net: file derives
    src_net/src_mask from the file LPM with networks_no_mask_if_zero
    keeping host addresses on zero-mask rows; networks_mask applies a
    static mask (second daemon). Reference CONFIG-KEYS:1062-1103,
    src/net_aggr.c:558,762,1070."""
    nets = tmp_path / "networks.lst"
    nets.write_text("65100,10.1.1.0/24\n")
    conf = f"""
nfacctd_port: 0
nfacctd_as: file
nfacctd_net: file
networks_file: {nets}
networks_file_no_lpm: true
networks_no_mask_if_zero: true
plugins: memory[a], memory[n]
aggregate[a]: src_as
aggregate[n]: src_net, src_mask
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spoolK1"))
    try:
        send_datagrams(
            [_v5_datagram(1, [
                {"src": 0x0A010105, "dst": 0x0B020202, "pkts": 1,
                 "bytes": 100, "sport": 5, "dport": 443},
                {"src": 0x0C000001, "dst": 0x0B020202, "pkts": 1,
                 "bytes": 50, "sport": 5, "dport": 443},
            ])],
            "127.0.0.1", d.port,
        )
        t0 = time.monotonic()
        while d.spool.datagrams_received < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        outs = d.run_available()
        as_rows = {r["src_as"]: r["bytes"] for r in outs["a"].collect()}
        net_rows = {
            (r["src_net"], r["src_mask"]): r["bytes"]
            for r in outs["n"].collect()
        }
    finally:
        d.stop()
    # no_lpm: matched -> file AS; unmatched KEEPS export AS (64500),
    # where the default path would have zeroed it
    assert as_rows == {65100: 100, 64500: 50}
    # net: matched -> the /24's net; unmatched mask 0 + no_mask_if_zero
    # -> host address kept instead of net 0.0.0.0
    assert net_rows == {("10.1.1.0", 24): 100, ("12.0.0.1", 0): 50}

    conf2 = f"""
nfacctd_port: 0
networks_mask: 16
plugins: memory[s]
aggregate[s]: src_net, src_mask
"""
    d2 = Daemon.from_conf(spark, conf2, spool_dir=str(tmp_path / "spoolK2"))
    try:
        send_datagrams(
            [_v5_datagram(1, [
                {"src": 0x0A010105, "dst": 0x0B020202, "pkts": 1,
                 "bytes": 100, "sport": 5, "dport": 443},
                {"src": 0x0C000001, "dst": 0x0B020202, "pkts": 1,
                 "bytes": 50, "sport": 5, "dport": 443},
            ])],
            "127.0.0.1", d2.port,
        )
        t0 = time.monotonic()
        while d2.spool.datagrams_received < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        static_rows = {
            (r["src_net"], r["src_mask"]): r["bytes"]
            for r in d2.run_available()["s"].collect()
        }
    finally:
        d2.stop()
    assert static_rows == {("10.1.0.0", 16): 100, ("12.0.0.0", 16): 50}


def test_daemon_protos_file_and_tos_file(spark, tmp_path):
    """protos_file buckets unlisted IP protocols as 255 'others'
    (names AND numbers accepted); tos_file does the same for ToS —
    both live through the UDP socket (load_protos/load_tos,
    reference src/plugin_common.c:1328,1481)."""
    protos = tmp_path / "protos.lst"
    protos.write_text("! keep tcp by name, icmp by number\ntcp\n1\n")
    tosf = tmp_path / "tos.lst"
    # tos_encode_as_dscp: the list holds DSCP values (CONFIG-KEYS
    # interplay) — 46 = EF keeps wire tos 184; wire tos 0 -> others
    tosf.write_text("46\n")
    conf = f"""
nfacctd_port: 0
protos_file: {protos}
tos_file: {tosf}
tos_encode_as_dscp: true
plugins: memory[m]
aggregate[m]: proto, tos
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spoolPT"))
    try:
        send_datagrams(
            [_v5_datagram(1, [
                {"src": 0x0A010101, "dst": 0x0B020202, "pkts": 1,
                 "bytes": 100, "sport": 5, "dport": 443, "proto": 6,
                 "tos": 184},  # EF: DSCP 46, listed -> kept as 46
                {"src": 0x0A010102, "dst": 0x0B020203, "pkts": 1,
                 "bytes": 50, "sport": 53, "dport": 53, "proto": 17},
            ])],
            "127.0.0.1", d.port,
        )
        t0 = time.monotonic()
        while d.spool.datagrams_received < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        out = d.run_available()["m"].collect()
    finally:
        d.stop()
    got = {(r["proto"], r["tos"]): r["bytes"] for r in out}
    assert got == {
        (6, 46): 100,     # tcp listed by name; DSCP 46 listed -> kept
        (255, 255): 50,   # udp unlisted -> others; DSCP 0 -> others
    }


def test_daemon_continuous_options_renorm_after_start(spark, tmp_path):
    """ADVICE r4: options-learned sampling rates are a LIVE dimension.
    A streaming plan pins the rates dim's file listing at .start()
    (typically empty), so expositions arriving later would never
    renormalize. run_continuous must route renormalize-learning
    channels through the replan loop instead."""
    from pmacct_spark.sinks.nfprobe import encode_options

    conf = """
nfacctd_port: 0
nfacctd_renormalize: true
plugins: memory[renorm]
aggregate[renorm]: proto
sql_history[renorm]: 5m
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spoolR"))
    run = None
    try:
        run = d.run_continuous(trigger_secs=0.5)
        # exposition + flow arrive only AFTER the queries started
        rates_src = spark.createDataFrame(
            [("127.0.0.1", 0, 10, 64)],
            "exporter_ip string, sysid int, sampler_id int, sampling_rate long",
        )
        opt_payload = bytes(
            encode_options(rates_src, version=9).select("payload").collect()[0][0]
        )
        send_datagrams(
            [opt_payload,
             _v5_datagram(1, [{"src": 1, "dst": 2, "pkts": 3, "bytes": 500,
                               "sport": 1, "dport": 2}])],
            "127.0.0.1", d.port,
        )
        t0 = time.monotonic()
        rows = []
        while time.monotonic() - t0 < 30:
            try:
                rows = spark.table("imt_renorm").collect()
            except Exception:
                rows = []
            if rows and rows[0]["bytes"] == 32000:
                break
            time.sleep(0.2)
    finally:
        if run is not None:
            run.stop()
        d.stop()
    assert [(r["bytes"], r["packets"]) for r in rows] == [(32000, 192)]


def test_daemon_spool_compaction_bounded_and_exact(spark, tmp_path):
    """VERDICT r4 #4: spool rotation keeps the per-tick decode bounded.
    Retired files fold through decode+enrich ONCE into a columnar side
    table; drains after compaction must return byte-identical
    aggregates, learned rates surviving the rotation, and the live
    file set staying under the bound however much history accrues."""
    from pmacct_spark.sinks.nfprobe import encode_options

    conf = """
nfacctd_port: 0
nfacctd_renormalize: true
spool_compact_files: 4
plugins: memory[m]
aggregate[m]: proto
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spoolC"))
    try:
        rates_src = spark.createDataFrame(
            [("127.0.0.1", 0, 10, 8)],
            "exporter_ip string, sysid int, sampler_id int, sampling_rate long",
        )
        opt_payload = bytes(
            encode_options(rates_src, version=9).select("payload").collect()[0][0]
        )
        # burst 1 carries the exposition; one file per flush
        for i in range(6):
            payloads = [opt_payload] if i == 0 else []
            payloads.append(
                _v5_datagram(i + 1, [{"src": i, "dst": 2, "pkts": 1,
                                      "bytes": 100, "sport": 1, "dport": 2}])
            )
            send_datagrams(payloads, "127.0.0.1", d.port)
            d.spool.flush()
        t0 = time.monotonic()
        while d.spool.datagrams_received < 7 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        d.spool.flush()
        n_files_before = len(d._live_spool_files())
        assert n_files_before >= 2
        golden = {(r["proto"], r["bytes"], r["packets"])
                  for r in d.run_available(streaming=False)["m"].collect()}
        # force rotation: everything but the newest file retires
        retired = d.compact_spool(keep_files=1)
        assert retired == n_files_before - 1
        assert len(d._live_spool_files()) == 1
        after = {(r["proto"], r["bytes"], r["packets"])
                 for r in d.run_available(streaming=False)["m"].collect()}
        assert after == golden, "compaction changed the aggregate"
        # a flow arriving AFTER rotation must still pick up the learned
        # rate whose exposition datagram was compacted away
        send_datagrams(
            [_v5_datagram(99, [{"src": 7, "dst": 2, "pkts": 1, "bytes": 100,
                                "sport": 1, "dport": 2}])],
            "127.0.0.1", d.port,
        )
        t0 = time.monotonic()
        while d.spool.datagrams_received < 8 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        d.spool.flush()
        final = {(r["proto"], r["bytes"], r["packets"])
                 for r in d.run_available(streaming=False)["m"].collect()}
        # 7 flows x 100 bytes x rate 8 (all proto 0 in _v5_datagram)
        total = sum(b for _, b, _ in final)
        assert total == sum(b for _, b, _ in golden) + 800
        # the maybe_ path: under the bound -> no-op
        assert d.maybe_compact_spool() == 0
    finally:
        d.stop()


def test_daemon_rtr_live_roa_flip(spark, tmp_path):
    """RPKI RTR (RFC 6810) LIVE: the daemon's RtrClient connects to a
    validator cache, loads ROAs via Reset Query -> Cache Response ->
    Prefix PDUs -> End of Data, and a mid-run Serial Notify + delta
    (withdraw + re-announce with a different origin) flips the looked
    up route's validation status between drains."""
    import socket as _sock
    import threading as _th

    from pmacct_spark.sources import rtr as R
    from pmacct_spark.streaming.bmp import encode_bgp_update

    srv = _sock.socket(_sock.AF_INET, _sock.SOCK_STREAM)
    srv.setsockopt(_sock.SOL_SOCKET, _sock.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    cache_port = srv.getsockname()[1]
    state = {"conn": None, "ready": _th.Event(), "flipped": _th.Event()}

    def cache():
        conn, _ = srv.accept()
        state["conn"] = conn
        conn.settimeout(20)
        buf = b""
        serial = 1
        while True:
            try:
                chunk = conn.recv(4096)
            except OSError:
                break
            if not chunk:
                break
            buf += chunk
            while len(buf) >= 8:
                plen = int.from_bytes(buf[4:8], "big")
                if len(buf) < plen:
                    break
                ptype = buf[1]
                buf = buf[plen:]
                if ptype == R.PDU_RESET_QUERY:
                    conn.sendall(
                        R.encode_pdu(R.PDU_CACHE_RESPONSE, session_id=7)
                        + R.encode_ipv4_prefix(0x0A000000, 8, 8, 65100)
                        + R.encode_pdu(
                            R.PDU_END_OF_DATA, serial.to_bytes(4, "big"),
                            session_id=7,
                        )
                    )
                    state["ready"].set()
                elif ptype == R.PDU_SERIAL_QUERY:
                    serial += 1
                    conn.sendall(
                        R.encode_pdu(R.PDU_CACHE_RESPONSE, session_id=7)
                        + R.encode_ipv4_prefix(
                            0x0A000000, 8, 8, 65100, flags=R.FLAG_WITHDRAW
                        )
                        + R.encode_ipv4_prefix(0x0A000000, 8, 8, 64999)
                        + R.encode_pdu(
                            R.PDU_END_OF_DATA, serial.to_bytes(4, "big"),
                            session_id=7,
                        )
                    )
                    state["flipped"].set()

    t = _th.Thread(target=cache, daemon=True)
    t.start()

    conf = f"""
nfacctd_port: 0
bgp_daemon: true
bgp_daemon_port: 0
rpki_rtr_cache: 127.0.0.1:{cache_port}
plugins: memory[routes]
aggregate[routes]: dst_roa
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spoolRTR"))
    try:
        assert state["ready"].wait(15)
        assert d.rtr_client.wait_eod(1)
        # one route whose origin matches the initial ROA
        c = _sock.socket(_sock.AF_INET, _sock.SOCK_STREAM)
        c.connect(("127.0.0.1", d.bgp_port))
        c.sendall(encode_bgp_update(0x0A000000, 8, "65000 65100"))
        c.close()
        t0 = time.monotonic()
        while d.bgp_spool.messages_spooled < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        send_datagrams(
            [_v5_datagram(1, [{"src": 1, "dst": 0x0A010101, "pkts": 2,
                               "bytes": 300, "sport": 1, "dport": 2}])],
            "127.0.0.1", d.port,
        )
        t0 = time.monotonic()
        while d.spool.datagrams_received < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        first = {r["dst_roa"]: r["bytes"]
                 for r in d.run_available()["routes"].collect()}
        assert first == {"v": 300}
        # the cache pushes a delta mid-run: same prefix, different
        # origin -> the SAME flow aggregates as invalid on re-drain
        state["conn"].sendall(
            R.encode_pdu(R.PDU_SERIAL_NOTIFY,
                         (2).to_bytes(4, "big"), session_id=7)
        )
        assert state["flipped"].wait(15)
        assert d.rtr_client.wait_eod(2)
        second = {r["dst_roa"]: r["bytes"]
                  for r in d.run_available()["routes"].collect()}
        assert second == {"i": 300}
    finally:
        d.stop()
        srv.close()


def test_rtr_pdu_consume_and_state(spark):
    """RTR PDU walk unit: v4+v6 announce/withdraw sequences compact to
    the current ROA set; split PDU framing survives."""
    from pmacct_spark.sources import rtr as R

    cl = R.RtrClient.__new__(R.RtrClient)
    cl.session_id = 0
    cl.serial = 0
    cl.eods_received = 0
    cl.pdus_received = 0
    cl._seq = 0
    cl._epoch = 1
    cl._buf = []
    cl._nfile = 0
    cl.last_error = None
    stream = (
        R.encode_pdu(R.PDU_CACHE_RESPONSE, session_id=9)
        + R.encode_ipv4_prefix(0x0A000000, 8, 24, 65001)
        + R.encode_ipv6_prefix(bytes([0x20, 0x01]) + b"\x00" * 14, 32, 48, 65002)
        + R.encode_ipv4_prefix(0x0B000000, 8, 8, 65003)
        + R.encode_ipv4_prefix(0x0B000000, 8, 8, 65003, flags=R.FLAG_WITHDRAW)
    )
    # feed with an awkward split mid-PDU
    rest = cl._consume(stream[:30])
    rest = cl._consume(rest + stream[30:])
    assert rest == b""
    assert cl.session_id == 9 and cl.pdus_received == 5
    ev = spark.createDataFrame(
        [tuple(r) for r in cl._buf], R.ROA_EVENT_DDL
    )
    state = {(r["afi"], r["prefix"], r["prefix6"], r["asn"])
             for r in R.roa_state(ev).collect()}
    assert state == {
        (1, 0x0A000000, None, 65001),
        (2, None, "2001:0000:0000:0000:0000:0000:0000:0000", 65002),
    }


def test_rtr_reconnect_replays_under_new_epoch(spark, tmp_path):
    """A dropped RTR session reconnects (reference rpki_rtr_connect
    retry) and the full-set replay lands under a NEW epoch — an entry
    the cache removed during the outage cannot survive as a stale
    spool row."""
    import socket as _sock
    import threading as _th

    from pmacct_spark.sources import rtr as R

    srv = _sock.socket(_sock.AF_INET, _sock.SOCK_STREAM)
    srv.setsockopt(_sock.SOL_SOCKET, _sock.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(2)
    port = srv.getsockname()[1]
    sessions = {"n": 0}

    def cache():
        # two sequential sessions: the first serves {A, B} then dies;
        # the second serves only {A} (B was removed during the outage)
        for n in (1, 2):
            conn, _ = srv.accept()
            conn.settimeout(20)
            sessions["n"] = n
            buf = b""
            try:
                while True:
                    chunk = conn.recv(4096)
                    if not chunk:
                        break
                    buf += chunk
                    if len(buf) >= 8 and buf[1] == R.PDU_RESET_QUERY:
                        buf = b""
                        pdus = R.encode_pdu(R.PDU_CACHE_RESPONSE, session_id=n)
                        pdus += R.encode_ipv4_prefix(0x0A000000, 8, 8, 65001)
                        if n == 1:
                            pdus += R.encode_ipv4_prefix(
                                0x0B000000, 8, 8, 65002
                            )
                        pdus += R.encode_pdu(
                            R.PDU_END_OF_DATA, n.to_bytes(4, "big"),
                            session_id=n,
                        )
                        conn.sendall(pdus)
                        if n == 1:
                            conn.close()  # simulate the cache dying
                            break
            except OSError:
                pass
        # keep the second session open until the test ends
        import time as _t

        _t.sleep(5)

    t = _th.Thread(target=cache, daemon=True)
    t.start()
    cl = R.RtrClient("127.0.0.1", port, reconnect_secs=0.2,
                     spool_dir=str(tmp_path / "rtrspool"))
    try:
        cl.start()
        assert cl.wait_eod(2, timeout=20), (
            f"eods={cl.eods_received} reconnects={cl.reconnects} "
            f"err={cl.last_error}"
        )
        assert cl.reconnects == 1
        state = {r["prefix"] for r in R.roa_state(cl.batch(spark)).collect()}
    finally:
        cl.stop()
        srv.close()
    # B (0x0B...) was only in the dead session's epoch: gone
    assert state == {0x0A000000}


def test_nfprobe_reexport_chains_into_second_daemon(spark, tmp_path):
    """The pmacct-to-pmacct chain over a REAL socket: flows encoded by
    the nfprobe exporter (v5 datagrams) transmit through emit_udp to a
    SECOND collector daemon's UDP socket; that daemon's channel
    aggregate equals the direct aggregation of the same flows — the
    reference's nfacctd -> nfprobe -> nfacctd deployment as one test."""
    from pmacct_spark.driver_queries import flows as flows_view_fn
    from pmacct_spark.sinks.nfprobe import encode_v5
    from pmacct_spark.sinks.tee import emit_udp
    from pmacct_spark.operators.staging import stage

    conf = """
nfacctd_port: 0
plugins: print[files]
aggregate[files]: proto
print_history[files]: 5m
print_output[files]: csv
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "chain"))
    try:
        fl = stage(
            flows_view_fn(spark, "/root/testdata/sf0.001").limit(300).selectExpr(
                "ip_src_i", "ip_dst_i", "iface_in", "iface_out", "packets",
                "bytes", "unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000 AS ts_ms",
                "unix_micros(CAST(end_ts AS TIMESTAMP)) DIV 1000 AS end_ts_ms",
                "port_src", "port_dst", "tcp_flags", "ip_proto", "tos",
                "as_src", "as_dst",
            )
        )
        dgrams = encode_v5(fl)
        n_dgrams = dgrams.count()
        emit_udp(dgrams, default_endpoint=f"127.0.0.1:{d.port}")
        t0 = time.monotonic()
        while d.spool.datagrams_received < n_dgrams and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        assert d.spool.datagrams_received == n_dgrams
        out = d.run_available()["files"]
        # the channel emits one row per (5m bucket, proto): fold the
        # buckets back together before comparing totals
        got: dict[int, tuple[int, int]] = {}
        for r in out.collect():
            p = int(r["proto"])
            b, k = got.get(p, (0, 0))
            got[p] = (b + int(r["bytes"]), k + int(r["packets"]))
    finally:
        d.stop()
    want = {
        r["proto"]: (r["bytes"], r["packets"])
        for r in fl.groupBy(F.col("ip_proto").cast("int").alias("proto"))
        .agg(F.sum("bytes").alias("bytes"), F.sum("packets").alias("packets"))
        .collect()
    }
    assert got == want and got


def test_daemon_bgp_msglog_file(spark, tmp_path):
    """bgp_daemon_msglog_file: the serve cycle writes the per-event
    session log (log_init / log / log_close with per-peer seq;
    reference src/bgp/bgp_logdump.c msglog path) — live end-to-end:
    OPEN + UPDATEs + NOTIFICATION over a real socket."""
    import glob as _glob
    import json as _json
    import socket as _sock

    from pmacct_spark.streaming.bmp import encode_bgp_open, encode_bgp_update

    log_dir = str(tmp_path / "msglog")
    conf = f"""
nfacctd_port: 0
bgp_daemon: true
bgp_daemon_port: 0
bgp_daemon_msglog_file: {log_dir}
plugins: memory[routes]
aggregate[routes]: as_path
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool_ml"))
    try:
        notification = (
            b"\xff" * 16 + (21).to_bytes(2, "big") + bytes([3, 6, 2])
        )
        session = (
            encode_bgp_open()
            + encode_bgp_update(0x0A000000, 8, "65000 65100")
            + encode_bgp_update(0x0B000000, 8, "65000 65200")
            + notification
        )
        c = _sock.socket(_sock.AF_INET, _sock.SOCK_STREAM)
        c.connect(("127.0.0.1", d.bgp_port))
        c.sendall(session)
        c.close()
        t0 = time.monotonic()
        while d.bgp_spool.messages_spooled < 4 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        time.sleep(0.3)
        assert d.write_msglog_if_configured() == [log_dir]
    finally:
        d.stop()
    lines = []
    for f in _glob.glob(f"{log_dir}/**/*.txt", recursive=True):
        with open(f) as fh:
            lines += [_json.loads(ln) for ln in fh if ln.strip()]
    lines.sort(key=lambda r: r["seq"])
    assert [r["event_type"] for r in lines] == [
        "log_init", "log", "log", "log_close",
    ]
    assert lines[1]["ip_prefix"] == "10.0.0.0/8"
    assert lines[2]["as_path"] == "65000 65200"
    # the peer's address keys the log — the $peer_src_ip analog
    assert all(r["peer_ip_src"] == "127.0.0.1" for r in lines)


def test_daemon_allow_file_drops_unlisted_exporters(spark, tmp_path):
    """nfacctd_allow_file: only datagrams from listed sources (exact
    address or v4 CIDR) are accounted; everything else drops BEFORE
    decode. The live socket always reports 127.0.0.1, so the check
    exercises both branches by allowing/excluding that address."""
    allow = tmp_path / "allow.lst"
    allow.write_text("! test allow list\n192.0.2.0/24\n127.0.0.1\n")
    conf = (
        CONF + f"nfacctd_allow_file: {allow}\n"
    ).replace("plugins: memory[imt], print[files]", "plugins: memory[imt]")
    conf = "\n".join(
        ln for ln in conf.splitlines() if "[files]" not in ln
    )
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool_af"))
    try:
        _fire(d.port)
        t0 = time.monotonic()
        while d.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        assert d.run_available()["imt"].count() == 2  # 127.0.0.1 allowed
    finally:
        d.stop()

    deny = tmp_path / "deny.lst"
    deny.write_text("192.0.2.0/24\n10.9.9.9\n")  # 127.0.0.1 NOT listed
    conf2 = conf.replace(str(allow), str(deny))
    d2 = Daemon.from_conf(spark, conf2, spool_dir=str(tmp_path / "spool_af2"))
    try:
        _fire(d2.port)
        t0 = time.monotonic()
        while d2.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        assert d2.run_available()["imt"].count() == 0  # all dropped
    finally:
        d2.stop()


def test_daemon_templates_port_seeds_decode(spark, tmp_path):
    """nfacctd_templates_port: a v9 template replicated to the
    dedicated socket decodes data-only datagrams arriving on the MAIN
    socket (the clustered-SO_REUSEPORT shape the key exists for)."""
    from pmacct_spark.sinks.nfprobe import encode_v9
    from pmacct_spark.sources.udp import send_datagrams
    from tests.test_streaming import _mk_flows

    rows = encode_v9(_mk_flows(spark, 20).coalesce(1)).collect()
    tmpl_dg = bytes(rows[0]["payload"])  # template datagram
    data_dgs = [bytes(r["payload"]) for r in rows[1:]]

    conf = """
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
nfacctd_templates_port: 0
plugins: memory[imt]
aggregate[imt]: proto
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool_tp"))
    try:
        assert d.tmpl_spool is not None
        send_datagrams([tmpl_dg], "127.0.0.1", d.tmpl_spool.port)
        send_datagrams(data_dgs, "127.0.0.1", d.port)
        t0 = time.monotonic()
        while (
            d.spool.datagrams_received < len(data_dgs)
            or d.tmpl_spool.datagrams_received < 1
        ) and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        out = d.run_available()["imt"]
        assert out.agg(F.sum("flows")).first()[0] == 20
    finally:
        d.stop()


def test_bgp_aspath_radius_and_stdcomm_pattern(spark):
    """bgp_aspath_radius trims the rendered AS-path to N hops;
    bgp_stdcomm_pattern keeps only communities matching the pattern —
    SUBSTRING semantics with '.' single-char wildcards, the
    reference's evaluate_comm_patterns (src/bgp/bgp_util.c:1014;
    CONFIG-KEYS:2872 documents no '*' syntax) — both applied after
    the RIB lookup, like the reference's render-side filters."""
    import types

    from pmacct_spark.daemon import Daemon

    d = Daemon.__new__(Daemon)
    d.conf = types.SimpleNamespace(
        get=lambda k, default=None: {
            "bgp_aspath_radius": "2",
            "bgp_stdcomm_pattern": "65000:",
        }.get(k, default)
    )
    d.flavor = "netflow"
    d.rib = lambda: spark.createDataFrame(
        [
            ("127.0.0.1", 0x0B000000, 24,
             "65001 65002 65003 65004", 100, 0,
             "65000:1 64999:7 65000:22"),
        ],
        "peer_ip string, prefix long, masklen int, as_path string, "
        "local_pref long, med long, std_comm string",
    )
    d._roa_table = lambda: None
    flows_df = spark.createDataFrame(
        [("127.0.0.1", 0x0B000001, 100)],
        "peer_ip_src string, ip_dst_i long, bytes long",
    )
    out = d._bgp_enrich(flows_df).collect()
    assert len(out) == 1
    assert out[0]["as_path"] == "65001 65002"
    assert out[0]["std_comm"] == "65000:1 65000:22"


def test_bgp_comm_pattern_families_and_to_asn(spark):
    """bgp_extcomm_pattern / bgp_lrgcomm_pattern filter their own
    community families; bgp_stdcomm_pattern_to_asn maps the first
    matching community XXXXX:YYYYY onto Peer-AS / Origin-AS when the
    AS-path yields none (CONFIG-KEYS:2884; copy_stdcomm_to_asn
    src/bgp/bgp_util.c:1156, handlers src/pkt_handlers.c:5586/5607)."""
    import types

    from pmacct_spark.daemon import Daemon

    def make(conf_map):
        d = Daemon.__new__(Daemon)
        d.conf = types.SimpleNamespace(
            get=lambda k, default=None: conf_map.get(k, default),
            getbool=lambda k, default=False: str(
                conf_map.get(k, default)
            ).lower() in ("true", "1", "yes"),
        )
        d.flavor = "netflow"
        d.rib = lambda: spark.createDataFrame(
            [
                # empty as_path: an iBGP/static redistribution
                ("127.0.0.1", 0x0B000000, 24, "", 100, 0,
                 "64999:7 65000:12",
                 "RT:65010:1 RT:64999:9",
                 "65020:1:7 64999:1:9"),
            ],
            "peer_ip string, prefix long, masklen int, as_path string,"
            " local_pref long, med long, std_comm string,"
            " ext_comm string, lrg_comm string",
        )
        d._roa_table = lambda: None
        return d

    flows_df = spark.createDataFrame(
        [("127.0.0.1", 0x0B000001, 100)],
        "peer_ip_src string, ip_dst_i long, bytes long",
    )
    d = make({
        "bgp_extcomm_pattern": "RT:65010:",
        "bgp_lrgcomm_pattern": "65020:",
    })
    row = d._bgp_enrich(flows_df).collect()[0]
    assert row["ext_comm"] == "RT:65010:1"
    assert row["lrg_comm"] == "65020:1:7"

    d = make({"bgp_stdcomm_pattern_to_asn": "65000:"})
    row = d._bgp_enrich(flows_df).collect()[0]
    assert row["peer_dst_as"] == 65000 and row["dst_as"] == 12

    # display filter + to_asn together: to_asn evaluates against the
    # PRISTINE community string (info->attr->community->str,
    # src/pkt_handlers.c:5592), not the filtered display copy
    d = make({
        "bgp_stdcomm_pattern": "64999:",
        "bgp_stdcomm_pattern_to_asn": "65000:",
    })
    row = d._bgp_enrich(flows_df).collect()[0]
    assert row["std_comm"] == "64999:7"  # display filtered
    assert row["peer_dst_as"] == 65000 and row["dst_as"] == 12
    assert "__to_asn_src" not in row.asDict()

    # large variant: third field ignored (copy_lrgcomm_to_asn)
    d = make({"bgp_lrgcomm_pattern_to_asn": "65020:"})
    row = d._bgp_enrich(flows_df).collect()[0]
    assert row["peer_dst_as"] == 65020 and row["dst_as"] == 1

    # non-empty AS-path wins over the community mapping
    d = make({"bgp_stdcomm_pattern_to_asn": "65000:"})
    d.rib = lambda: spark.createDataFrame(
        [("127.0.0.1", 0x0B000000, 24, "65001 65002", 100, 0,
          "65000:12", "", "")],
        "peer_ip string, prefix long, masklen int, as_path string,"
        " local_pref long, med long, std_comm string,"
        " ext_comm string, lrg_comm string",
    )
    row = d._bgp_enrich(flows_df).collect()[0]
    assert row["peer_dst_as"] == 65001 and row["dst_as"] == 65002

    # both to_asn keys together: config error (src/nfacctd.c:1041)
    import pytest as _pytest

    d = make({
        "bgp_stdcomm_pattern_to_asn": "65000:",
        "bgp_lrgcomm_pattern_to_asn": "65020:",
    })
    with _pytest.raises(ValueError):
        d._bgp_enrich(flows_df)


def test_writer_id_string_stamps_output(spark, tmp_path):
    """writer_id_string: every emitted record carries the rendered
    writer identity ($proc_name -> plugin/type, $writer_pid -> pid)."""
    import os

    conf = """
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
plugins: memory[imt]
aggregate[imt]: proto
writer_id_string[imt]: w-$proc_name-$writer_pid
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool_wid"))
    try:
        _fire(d.port)
        t0 = time.monotonic()
        while d.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        out = d.run_available()["imt"]
        vals = {r["writer_id"] for r in out.collect()}
        assert vals == {f"w-imt/memory-{os.getpid()}"}
    finally:
        d.stop()


def test_allow_file_zero_entries_denies_all(spark):
    """An allow file that parses to ZERO entries (empty or
    comments-only) DENIES every exporter: load_allow_file sets
    num=-1 for an empty file (src/util.c:2033, 'distinguish between
    no map and empty map'), which is truthy at src/nfacctd.c:1582 so
    check_allow runs — and its 0-iteration loop returns FALSE.
    CONFIG-KEYS:2007: 'if an allow file is specified but its content
    is empty, that means deny all'. Only a MISSING key accepts all.
    (ADVICE r10 — the r8 version of this test asserted fail-open.)"""
    from pmacct_spark import conffile

    assert conffile.parse_allow_file("! nothing here\n\n") == []
    dg = spark.createDataFrame([("10.0.0.1",), ("127.0.0.1",)],
                               "exporter_ip string")
    d = Daemon.__new__(Daemon)
    d.flavor = "netflow"
    d._allow_cache = []  # empty file -> deny all
    assert d._exporter_allow_filter(dg).count() == 0
    d2 = Daemon.__new__(Daemon)
    d2.flavor = "netflow"
    d2._allow_cache = None  # no file -> accept all
    assert d2._exporter_allow_filter(dg).count() == 2


def test_allow_file_malformed_line_skipped():
    """A malformed allow-file line is warned and skipped, never fatal
    (src/util.c:2026 'Bad IP address ... Ignored.'); valid entries on
    other lines still load."""
    from pmacct_spark import conffile

    got = conffile.parse_allow_file(
        "10.0.0.1\nnot-an-address\n192.0.2.0/24\n"
    )
    assert got == ["10.0.0.1", "192.0.2.0/24"]


def test_split_host_port_v6_and_bare():
    """split_host_port must not misparse bare IPv6 ('::1' is a host,
    not host '::' + port 1); bracket syntax carries an explicit port;
    a bare hostname takes the default (ADVICE r10)."""
    from pmacct_spark.conffile import split_host_port

    assert split_host_port("::1", 6379) == ("::1", 6379)
    assert split_host_port("[::1]:7000", 6379) == ("::1", 7000)
    assert split_host_port("[fe80::2]", 6379) == ("fe80::2", 6379)
    assert split_host_port("myhost", 6379) == ("myhost", 6379)
    assert split_host_port("myhost:7000", 6379) == ("myhost", 7000)
    assert split_host_port("127.0.0.1:1234", 6379) == (
        "127.0.0.1", 1234)


def test_print_markers_false_string_disables_markers(spark, tmp_path):
    """`print_markers: false` in the conf DISABLES markers — config
    values are strings, so a bare bool('false') would wrongly enable
    them (ADVICE r8); the key must go through getbool."""
    import glob as _glob

    out_dir = tmp_path / "pm_out"
    conf = f"""
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
plugins: print[files]
aggregate[files]: proto
print_output[files]: formatted
print_output_file[files]: {out_dir}
print_markers[files]: false
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool_pmf"))
    try:
        _fire(d.port)
        t0 = time.monotonic()
        while d.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        d.run_available()
        text = "".join(
            open(p).read()
            for p in _glob.glob(str(out_dir) + "/part-*.txt")
        )
        assert text.strip()
        assert "--START" not in text and "--END" not in text
    finally:
        d.stop()


def test_stdcomm_pattern_literal_metachars_not_wildcards(spark):
    """Only '*' wildcards in bgp_stdcomm_pattern; a literal '_' (or
    '%') in the config value must match itself, not any character
    (ADVICE r8: unescaped interpolation into SQL LIKE)."""
    import types

    d = Daemon.__new__(Daemon)
    d.conf = types.SimpleNamespace(
        get=lambda k, default=None: {
            "bgp_stdcomm_pattern": "6_000:*",
        }.get(k, default)
    )
    d.flavor = "netflow"
    d.rib = lambda: spark.createDataFrame(
        [
            ("127.0.0.1", 0x0B000000, 24, "65001", 100, 0,
             "65000:1 64999:7"),
        ],
        "peer_ip string, prefix long, masklen int, as_path string, "
        "local_pref long, med long, std_comm string",
    )
    d._roa_table = lambda: None
    flows_df = spark.createDataFrame(
        [("127.0.0.1", 0x0B000001, 100)],
        "peer_ip_src string, ip_dst_i long, bytes long",
    )
    out = d._bgp_enrich(flows_df).collect()
    # pre-fix, '_' acted as LIKE any-char and matched 65000:1
    assert out[0]["std_comm"] == ""


def test_daemon_live_bgp_agent_map_loopback_peering(spark, tmp_path):
    """bgp_agent_map (reference CONFIG-KEYS:2986): the BGP session
    arrives from 127.0.0.2 (a loopback alias — the RR / loopback-
    peering shape) while flow datagrams come from 127.0.0.1, so the
    default exporter==peer correlation finds NOTHING; the map entry
    redirects the exporter onto the 127.0.0.2 session and the flows
    enrich. Fully live: both sockets, real map file."""
    import socket as _sock

    from pmacct_spark.streaming.bmp import encode_bgp_update

    amap = tmp_path / "agent.map"
    amap.write_text(
        "! loopback-peered exporter\n"
        "bgp_ip=127.0.0.2  ip=127.0.0.1/32\n"
    )
    conf = f"""
nfacctd_port: 0
bgp_daemon: true
bgp_daemon_port: 0
bgp_agent_map: {amap}
plugins: memory[routes]
aggregate[routes]: as_path
sql_history[routes]: 5m
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool_am"))
    try:
        session = encode_bgp_update(0x0A000000, 8, "65000 65100")
        c = _sock.socket(_sock.AF_INET, _sock.SOCK_STREAM)
        c.bind(("127.0.0.2", 0))  # peer_ip = 127.0.0.2 != exporter
        c.connect(("127.0.0.1", d.bgp_port))
        c.sendall(session)
        c.close()
        t0 = time.monotonic()
        while d.bgp_spool.messages_spooled < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)

        recs = [{"src": 1, "dst": 0x0A010101, "pkts": 2, "bytes": 300,
                 "sport": 1, "dport": 2}]
        send_datagrams([_v5_datagram(1, recs)], "127.0.0.1", d.port)
        t0 = time.monotonic()
        while d.spool.datagrams_received < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        out = d.run_available()["routes"]
        got = {r["as_path"]: r["bytes"] for r in out.collect()}
    finally:
        d.stop()
    # without the map this is {"": 300} (no peer named 127.0.0.1)
    assert got == {"65000 65100": 300}


def test_daemon_live_bgp_xconnect_chain(spark, tmp_path):
    """bgp_daemon_xconnect_map end-to-end (VERDICT r8 #5): the edge
    router peers with the PROXY daemon; its session cross-connects to
    the far COLLECTOR daemon, whose RIB must learn the routes and
    enrich its own flows — the reference's BGP-proxying deployment
    (CONFIG-KEYS:3265), fully live over two daemons."""
    import socket as _sock

    from pmacct_spark.streaming.bmp import encode_bgp_update

    far = Daemon.from_conf(
        spark,
        """
nfacctd_port: 0
bgp_daemon: true
bgp_daemon_port: 0
plugins: memory[routes]
aggregate[routes]: as_path
sql_history[routes]: 5m
""",
        spool_dir=str(tmp_path / "spool_far"),
    )
    xmap = tmp_path / "xconnects.map"
    xmap.write_text(
        f"bgp_dst=127.0.0.1:{far.bgp_port}  bgp_src=127.0.0.0/24\n"
    )
    proxy = Daemon.from_conf(
        spark,
        f"""
nfacctd_port: 0
bgp_daemon: true
bgp_daemon_port: 0
bgp_daemon_xconnect_map: {xmap}
""",
        spool_dir=str(tmp_path / "spool_proxy"),
    )
    try:
        assert proxy.bgp_xconnect is not None and proxy.bgp_spool is None
        c = _sock.socket(_sock.AF_INET, _sock.SOCK_STREAM)
        c.connect(("127.0.0.1", proxy.bgp_port))
        c.sendall(encode_bgp_update(0x0A000000, 8, "65000 6577"))
        c.close()
        t0 = time.monotonic()
        while far.bgp_spool.messages_spooled < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        assert far.bgp_spool.messages_spooled >= 1

        recs = [{"src": 1, "dst": 0x0A010101, "pkts": 2, "bytes": 420,
                 "sport": 1, "dport": 2}]
        send_datagrams([_v5_datagram(1, recs)], "127.0.0.1", far.port)
        t0 = time.monotonic()
        while far.spool.datagrams_received < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        out = far.run_available()["routes"]
        got = {r["as_path"]: r["bytes"] for r in out.collect()}
    finally:
        proxy.stop()
        far.stop()
    assert got == {"65000 6577": 420}


def test_daemon_xconnect_mutually_exclusive_with_msglog(spark, tmp_path):
    """src/bgp/bgp.c:298: bgp_daemon_xconnect_map with any BGP msglog
    or dump method is a configuration error."""
    import pytest

    xmap = tmp_path / "x.map"
    xmap.write_text("bgp_dst=127.0.0.1:179 bgp_src=0.0.0.0/0\n")
    with pytest.raises(ValueError, match="mutually exclusive"):
        Daemon.from_conf(
            spark,
            f"""
nfacctd_port: 0
bgp_daemon: true
bgp_daemon_xconnect_map: {xmap}
bgp_daemon_msglog_file: {tmp_path / "msglog.json"}
""",
            spool_dir=str(tmp_path / "spool_x"),
        )


def test_daemon_live_bgp_md5_session(spark, tmp_path):
    """bgp_daemon_md5_file through the daemon conf: the keyed peer's
    session builds the RIB and enriches flows; the kernel blocks the
    unkeyed impostor."""
    import socket as _sock

    from pmacct_spark.sources.tcp import set_tcp_md5
    from pmacct_spark.streaming.bmp import encode_bgp_update

    md5f = tmp_path / "bgp_md5.lst"
    md5f.write_text("! keyed peers\n127.0.0.1, arealsmartpwd\n")
    d = Daemon.from_conf(
        spark,
        f"""
nfacctd_port: 0
bgp_daemon: true
bgp_daemon_port: 0
bgp_daemon_md5_file: {md5f}
plugins: memory[routes]
aggregate[routes]: as_path
sql_history[routes]: 5m
""",
        spool_dir=str(tmp_path / "spool_md5"),
    )
    try:
        bad = _sock.socket(_sock.AF_INET, _sock.SOCK_STREAM)
        bad.settimeout(1.0)
        refused = False
        try:
            bad.connect(("127.0.0.1", d.bgp_port))
        except OSError:
            refused = True
        bad.close()
        assert refused

        good = _sock.socket(_sock.AF_INET, _sock.SOCK_STREAM)
        set_tcp_md5(good, "127.0.0.1", b"arealsmartpwd")
        good.connect(("127.0.0.1", d.bgp_port))
        good.sendall(encode_bgp_update(0x0A000000, 8, "65000 65088"))
        good.close()
        t0 = time.monotonic()
        while d.bgp_spool.messages_spooled < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)

        recs = [{"src": 1, "dst": 0x0A010101, "pkts": 1, "bytes": 111,
                 "sport": 1, "dport": 2}]
        send_datagrams([_v5_datagram(1, recs)], "127.0.0.1", d.port)
        t0 = time.monotonic()
        while d.spool.datagrams_received < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        out = d.run_available()["routes"]
        got = {r["as_path"]: r["bytes"] for r in out.collect()}
    finally:
        d.stop()
    assert got == {"65000 65088": 111}


def test_daemon_print_timestamps_rfc9557(spark, tmp_path):
    """timestamps_rfc9557 (CONFIG-KEYS:1698): print-plugin timestamp
    columns render 'T'-separated with the numeric zone offset
    (compose_timestamp, reference src/util.c:2550-2583)."""
    import csv as _csv
    import pathlib
    import re

    out_dir = tmp_path / "rfc9557_csv"
    conf = f"""
nfacctd_port: 0
timestamps_rfc9557: true
plugins: print[p]
aggregate[p]: proto
print_history[p]: 5m
print_output[p]: csv
print_output_file[p]: {out_dir}
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool9557"))
    try:
        send_datagrams(
            [_v5_datagram(1, [
                {"src": 0x0A010101, "dst": 0x0B020202, "pkts": 1,
                 "bytes": 100, "sport": 5, "dport": 443, "proto": 6},
            ])],
            "127.0.0.1", d.port,
        )
        t0 = time.monotonic()
        while d.spool.datagrams_received < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        d.run_available()
    finally:
        d.stop()
    rows = []
    for f in pathlib.Path(out_dir).glob("*.csv"):
        with open(f) as fh:
            rows += list(_csv.DictReader(fh))
    assert rows, "print csv missing"
    stamp = rows[0]["stamp_inserted"]
    assert re.fullmatch(
        r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\+00:00", stamp
    ), stamp


def test_daemon_print_json_encode_toggles(spark, tmp_path):
    """tcpflags_encode_as_array on the print JSON path (CONFIG-KEYS:
    1727 — array for JSON/Avro encodings only; golden example
    tests/100 'tcp_flags': []): the aggregated bit-OR renders as the
    URG..FIN-ordered name array; print_output_file_append accumulates
    across purges instead of replacing."""
    import json as _json
    import pathlib

    out_dir = tmp_path / "enc_json"
    conf = f"""
nfacctd_port: 0
tcpflags_encode_as_array: true
plugins: print[p]
aggregate[p]: proto, tcpflags
print_history[p]: 5m
print_output[p]: json
print_output_file[p]: {out_dir}
print_output_file_append[p]: true
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spoolENC"))
    try:
        send_datagrams(
            [_v5_datagram(1, [
                {"src": 0x0A010101, "dst": 0x0B020202, "pkts": 1,
                 "bytes": 100, "sport": 5, "dport": 443, "proto": 6,
                 "flags": 18},  # SYN+ACK
            ])],
            "127.0.0.1", d.port,
        )
        t0 = time.monotonic()
        while d.spool.datagrams_received < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        d.run_available()
        d.run_available()  # append mode: second purge accumulates
    finally:
        d.stop()
    rows = []
    for f in pathlib.Path(out_dir).glob("*.json"):
        rows += [_json.loads(ln) for ln in f.read_text().splitlines()]
    assert len(rows) == 2  # append kept both purges
    assert all(r["tcp_flags"] == ["ACK", "SYN"] for r in rows)


def test_bgp_follow_nexthop_config_resolves_peer_dst_ip(spark):
    """bgp_follow_nexthop / bgp_follow_nexthop_external (CONFIG-KEYS:
    3040-3055, bgp_follow_nexthop_lookup src/bgp/bgp_lookup.c:480):
    with the key set, peer_dst_ip resolves recursively through the
    live RIB's NEXT_HOP chain; the _external toggle returns the first
    next-hop OUTSIDE the supplied prefixes instead of the last one
    inside them."""
    from pmacct_spark import conffile

    rib = spark.createDataFrame(
        [
            # edge peer's route -> reflector; reflector -> exit router;
            # exit router's next-hop leaves 172.16/16
            ("192.0.2.1", 0x0A010000, 16, "65000 65100", 100, 0, "",
             0xAC100101),   # 172.16.1.1
            ("172.16.1.1", 0x0A010000, 16, "65000 65100", 100, 0, "",
             0xAC100201),   # 172.16.2.1
            ("172.16.2.1", 0x0A010000, 16, "65000 65100", 100, 0, "",
             0xC6336409),   # 198.51.100.9
        ],
        "peer_ip string, net_int long, masklen int, as_path string, "
        "local_pref long, med long, std_comm string, next_hop long",
    )
    fl = spark.createDataFrame(
        [("192.0.2.1", 0x0A010005, 100)],
        "peer_ip_src string, ip_dst_i long, bytes long",
    )

    def make(conf_text):
        d = Daemon.__new__(Daemon)
        d.spark = spark
        d.conf = conffile.parse_conf(conf_text)
        d.rtr_client = None
        d.rib = lambda: rib.withColumnRenamed("net_int", "prefix")
        return d

    d = make("bgp_daemon: true\nbgp_follow_nexthop: 172.16.0.0/16\n")
    row = d._bgp_enrich(fl).collect()[0]
    assert row["peer_ip_dst"] == "172.16.2.1"  # last in-set next-hop

    d = make(
        "bgp_daemon: true\nbgp_follow_nexthop: 172.16.0.0/16\n"
        "bgp_follow_nexthop_external: true\n"
    )
    row = d._bgp_enrich(fl).collect()[0]
    assert row["peer_ip_dst"] == "198.51.100.9"  # first out-of-set


def test_pre_tag_label_encode_as_map(spark, tmp_path):
    """pre_tag_label_encode_as_map (CONFIG-KEYS:2339): a set_label
    composed with the '%' delimiter ("k1%v1,k2%v2") encodes as a JSON
    object — "label": {"k1": "v1", "k2": "v2"} — on JSON/Avro sinks;
    the default keeps the comma-separated string."""
    import glob as _glob
    import json as _json

    def run_one(tag, encode):
        ptm = tmp_path / f"ptm_{tag}.map"
        ptm.write_text(
            "set_tag=5 set_label=nkey%abc,pkey%def ip=0.0.0.0/0\n"
        )
        out_dir = tmp_path / f"lblmap_{tag}"
        conf = f"""
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
pre_tag_map: {ptm}
pre_tag_label_encode_as_map: {'true' if encode else 'false'}
plugins: print[files]
aggregate[files]: label
print_output[files]: json
print_output_file[files]: {out_dir}
"""
        d = Daemon.from_conf(
            spark, conf, spool_dir=str(tmp_path / f"spoolLM{tag}")
        )
        try:
            _fire(d.port)
            t0 = time.monotonic()
            while (
                d.spool.datagrams_received < 2
                and time.monotonic() - t0 < 15
            ):
                time.sleep(0.05)
            d.run_available()
        finally:
            d.stop()
        lines = []
        for f in _glob.glob(str(out_dir / "*.json")):
            with open(f) as fh:
                lines += [_json.loads(ln) for ln in fh if ln.strip()]
        assert len(lines) == 1
        return lines[0]["label"]

    assert run_one("map", True) == {"nkey": "abc", "pkey": "def"}
    assert run_one("str", False) == "nkey%abc,pkey%def"


def test_peer_src_as_type_bgp_map_and_peer_as_flip(spark, tmp_path):
    """The source-peer-ASN method family: bgp_peer_src_as_type 'bgp'
    (RIB reverse lookup, first AS hop — evaluate_first_asn
    src/pkt_handlers.c:5341) and 'map' (bgp_peer_src_as_map with
    first-match-wins ip/in keys and the id=bgp fall-through,
    examples/peers.map.example); nfacctd_peer_as populates
    peer_src_as/peer_dst_as from the export's AS fields
    (CONFIG-KEYS:2561); bgp_src_local_pref_type/bgp_src_med_type
    'bgp' pull src-side route attributes (CONFIG-KEYS:2921)."""
    import types

    from pmacct_spark import conffile
    from pmacct_spark.daemon import Daemon

    rib = spark.createDataFrame(
        [
            ("127.0.0.1", 0x0A000000, 8, "65100 65200", 77, 12, "",
             0xC0000299),
        ],
        "peer_ip string, net_int long, masklen int, as_path string, "
        "local_pref long, med long, std_comm string, next_hop long",
    )
    fl = spark.createDataFrame(
        [("127.0.0.1", 0x0A010005, 0x0B000001, 3, 64501, 64502, 100)],
        "peer_ip_src string, ip_src_i long, ip_dst_i long, "
        "iface_in long, as_src long, as_dst long, bytes long",
    )

    def make(conf_map):
        d = Daemon.__new__(Daemon)
        d.conf = types.SimpleNamespace(
            get=lambda k, *a, **kw: conf_map.get(k, kw.get("default")),
            getbool=lambda k, *a: str(conf_map.get(k, "")).lower()
            in ("true", "1"),
        )
        d.flavor = "netflow"
        d.bgp_spool = object()
        d.bmp_spool = None
        d.rib = lambda: rib.withColumnRenamed("net_int", "prefix")
        return d

    # native RIB reverse lookup: first hop of the src route's path
    d = make({"bgp_peer_src_as_type": "bgp"})
    row = d._peer_as_enrich(fl).collect()[0]
    assert row["peer_src_as"] == 65100

    # map method: ip+in match wins; id=bgp falls through to the RIB
    mp = tmp_path / "peers.map"
    mp.write_text(
        "id=64999 ip=127.0.0.1/32 in=3\n"
        "id=bgp ip=127.0.0.1/32\n"
        "bogus line !\n"
    )
    d = make({
        "bgp_peer_src_as_type": "map",
        "bgp_peer_src_as_map": str(mp),
    })
    row = d._peer_as_enrich(fl).collect()[0]
    assert row["peer_src_as"] == 64999
    row = d._peer_as_enrich(
        fl.withColumn("iface_in", F.lit(9))
    ).collect()[0]
    assert row["peer_src_as"] == 65100  # id=bgp fall-through

    # [ns]facctd peer_as flip: export AS fields populate peer_*_as
    d = make({"nfacctd_peer_as": "true"})
    row = d._peer_as_enrich(fl).collect()[0]
    assert (row["peer_src_as"], row["peer_dst_as"]) == (64501, 64502)

    # src-side attribute selectors
    d = make({
        "bgp_src_local_pref_type": "bgp",
        "bgp_src_med_type": "bgp",
    })
    row = d._peer_as_enrich(fl).collect()[0]
    assert (row["src_local_pref"], row["src_med"]) == (77, 12)

    # bgp_src_local_pref_map / bgp_src_med_map (lpref.map.example /
    # med.map.example): 'map' method — hard-coded values matched on
    # exporter ip / ifIndex / bgp_nexthop, id=bgp falling through to
    # the reverse RIB value
    lp = tmp_path / "lpref.map"
    lp.write_text(
        "id=250 ip=127.0.0.1/32 in=3\n"
        "id=bgp ip=127.0.0.1/32\n"
    )
    md = tmp_path / "med.map"
    md.write_text("id=90 ip=127.0.0.1/32 bgp_nexthop=192.0.2.153\n")
    d = make({
        "bgp_src_local_pref_type": "map",
        "bgp_src_local_pref_map": str(lp),
        "bgp_src_med_type": "map",
        "bgp_src_med_map": str(md),
    })
    row = d._peer_as_enrich(fl).collect()[0]
    # iface 3 matches rule 1; next_hop 0xC0000299 = 192.0.2.153
    assert (row["src_local_pref"], row["src_med"]) == (250, 90)
    row = d._peer_as_enrich(
        fl.withColumn("iface_in", F.lit(9))
    ).collect()[0]
    assert row["src_local_pref"] == 77  # id=bgp -> RIB local_pref
    # 'map' without a map file: the reference's startup error
    import pytest as _pytest

    d = make({"bgp_src_local_pref_type": "map"})
    with _pytest.raises(ValueError, match="no bgp_src_local_pref_map"):
        d._peer_as_enrich(fl)


def test_maps_refresh_sigusr2_reloads_map_files(spark, tmp_path):
    """maps_refresh (CONFIG-KEYS:2270): SIGUSR2 reloads every
    MAP-flagged file without a restart — the networks_file edit takes
    effect on the next drain after the signal; the parse-once caches
    hold without it. ext_sampling_rate rides the same conf to prove
    the fixed external rate override (CONFIG-KEYS:2422,
    sampling_rate_handler src/pkt_handlers.c:2046)."""
    import os
    import signal

    nets = tmp_path / "networks.lst"
    nets.write_text("65100,10.0.0.0/8\n")
    conf = f"""
nfacctd_port: 0
nfacctd_as: file
networks_file: {nets}
maps_refresh: true
nfacctd_ext_sampling_rate: 64
plugins: memory[m]
aggregate[m]: src_as, sampling_rate
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spoolMR"))
    try:
        send_datagrams(
            [_v5_datagram(1, [
                {"src": 0x0A010101, "dst": 0x0B020202, "pkts": 1,
                 "bytes": 100, "sport": 5, "dport": 443},
            ])],
            "127.0.0.1", d.port,
        )
        t0 = time.monotonic()
        while d.spool.datagrams_received < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        out = d.run_available()["m"].collect()
        got = {(r["src_as"], r["sampling_rate"]) for r in out}
        assert got == {(65100, 64)}

        # edit the map; WITHOUT the signal the cache must hold
        nets.write_text("64999,10.0.0.0/8\n")
        out = d.run_available()["m"].collect()
        assert {r["src_as"] for r in out} == {65100}

        # SIGUSR2 -> next drain re-reads the file
        os.kill(os.getpid(), signal.SIGUSR2)
        time.sleep(0.2)
        out = d.run_available()["m"].collect()
        assert {r["src_as"] for r in out} == {64999}
    finally:
        d.stop()


def test_print_num_protos_separator_and_empty_file(spark, tmp_path):
    """print_num_protos: true keeps protocol numbers
    (CONFIG-KEYS:1899); print_output_separator swaps the CSV delimiter
    (:1830, \\t and \\s spellings allowed); print_write_empty_file
    default false writes NO file on an empty purge, true restores the
    pre-1.5.0 zero-length behavior (:1272)."""
    import glob as _glob

    out_dir = tmp_path / "numsep"
    conf = f"""
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
plugins: print[p]
aggregate[p]: proto
print_output[p]: csv
print_output_file[p]: {out_dir}
print_num_protos[p]: true
print_output_separator[p]: \\t
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spoolNS"))
    try:
        # FIRST purge with zero datagrams: no csv may appear
        d.run_available()
        assert not _glob.glob(str(out_dir / "*.csv"))
        _fire(d.port)
        t0 = time.monotonic()
        while d.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        d.run_available()
    finally:
        d.stop()
    got = {}
    for f in _glob.glob(str(out_dir / "*.csv")):
        with open(f) as fh:
            header = fh.readline().rstrip("\n").split("\t")
            for ln in fh:
                row = dict(zip(header, ln.rstrip("\n").split("\t")))
                got[row["proto"]] = int(row["bytes"])
    # numeric protos survive, tab-separated
    assert got == {"6": 1500, "17": 200}


def test_daemon_nfprobe_plugin_v9_chain(spark, tmp_path):
    """plugins: nfprobe — the probe plugin wired by config: collector A
    receives v5 flows, its nfprobe channel re-exports them as
    NetFlow v9 (nfprobe_version: 9, CONFIG-KEYS:2585) over a real UDP
    socket to collector B (nfprobe_receiver), whose per-proto channel
    equals A's — the reference's nfacctd -> nfprobe -> nfacctd chain
    driven purely from the conf."""
    conf_b = """
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
plugins: memory[m]
aggregate[m]: proto
"""
    db = Daemon.from_conf(spark, conf_b, spool_dir=str(tmp_path / "chainB"))
    da = None
    try:
        conf_a = f"""
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
plugins: memory[m], nfprobe[x]
aggregate[m]: proto
nfprobe_receiver[x]: 127.0.0.1:{db.port}
nfprobe_version[x]: 9
"""
        da = Daemon.from_conf(
            spark, conf_a, spool_dir=str(tmp_path / "chainA")
        )
        golden = _fire(da.port)
        t0 = time.monotonic()
        while da.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        a_out = da.run_available()["m"].collect()
        assert {
            r["proto"]: (r["bytes"], r["packets"]) for r in a_out
        } == {k: v[:2] for k, v in golden.items()}
        # B received the v9 re-export (template + data datagrams)
        t0 = time.monotonic()
        while db.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        b_out = db.run_available()["m"].collect()
    finally:
        if da is not None:
            da.stop()
        db.stop()
    got = {r["proto"]: (r["bytes"], r["packets"]) for r in b_out}
    assert got == {k: v[:2] for k, v in golden.items()}


def test_daemon_kafka_and_amqp_accounting_plugins_live(spark, tmp_path):
    """plugins: kafka / amqp — the accounting sinks wired by config:
    every purge ships the channel aggregate as JSON through the LIVE
    wire broker (kafka_topic + kafka_partition_key keying, reference
    src/kafka_plugin.c) and publishes on the live AMQP exchange
    (amqp_routing_key, src/amqp_plugin.c)."""
    import json as _json

    from pmacct_spark.sinks.amqp_wire import AmqpWireClient, MiniAmqpBroker
    from pmacct_spark.sources.kafka_wire import (
        KafkaWireClient,
        MiniKafkaBroker,
    )

    kb = MiniKafkaBroker(npartitions=2).start()
    ab = MiniAmqpBroker().start()
    d = None
    try:
        conf = f"""
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
plugins: kafka[k], amqp[a]
aggregate[k]: proto
kafka_topic[k]: daisy.acct
kafka_partition_key[k]: proto
kafka_broker_port[k]: {kb.port}
aggregate[a]: proto
amqp_routing_key[a]: acct
amqp_exchange[a]: pmacct
amqp_port[a]: {ab.port}
"""
        d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "ksink"))
        # bind a queue before the purge: a direct exchange drops
        # unrouted messages (the reference publishes non-mandatory)
        setup = AmqpWireClient("127.0.0.1", ab.port)
        setup.exchange_declare("pmacct", "direct")
        setup.queue_declare("qa")
        setup.queue_bind("qa", "pmacct", "acct")
        setup.close()
        golden = _fire(d.port)
        t0 = time.monotonic()
        while d.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        d.run_available()
        cli = KafkaWireClient("127.0.0.1", kb.port)
        recs = []
        for p in (0, 1):  # keyed partitioning spreads the protos
            _, rp = cli.fetch("daisy.acct", p, 0, with_hwm=True)
            recs += rp
        cli.close()
        got = {}
        keys = set()
        for _off, k, v in recs:
            ev = _json.loads(bytes(v))
            got[ev["proto"]] = (ev["bytes"], ev["packets"])
            keys.add(bytes(k).decode())
        assert got == {"tcp": (1500, 15), "udp": (200, 2)}
        assert keys == {"tcp", "udp"}  # kafka_partition_key: proto
        cli2 = AmqpWireClient("127.0.0.1", ab.port)
        a_got = {}
        while True:
            msg = cli2.get("qa")
            if msg is None:
                break
            ev = _json.loads(msg["body"])
            a_got[ev["proto"]] = ev["bytes"]
        cli2.close()
        assert a_got == {"tcp": 1500, "udp": 200}
    finally:
        if d is not None:
            d.stop()
        ab.stop()
        kb.stop()


def test_daemon_kafka_amqp_avro_outputs_live(spark, tmp_path):
    """kafka_output / amqp_output: avro + avro_json
    (CONFIG-KEYS:1854) on the ACCOUNTING plugins, wired by config:
    Kafka values are Confluent-framed Avro datums resolvable through
    the LIVE registry (kafka_avro_schema_registry) with the record
    schema dumped to avro_schema_file; the AMQP twin publishes plain
    binary datums (the registry key is Kafka-only) decodable with that
    schema; avro_json wraps nullable unions in branch-naming objects
    (write_avro_json_record_to_file src/print_plugin.c:1410)."""
    import json as _json

    from pmacct_spark.sinks import avro as A
    from pmacct_spark.sinks.amqp_wire import AmqpWireClient, MiniAmqpBroker
    from pmacct_spark.sinks.registry import (
        HttpSchemaRegistryClient,
        SchemaRegistryServer,
    )
    from pmacct_spark.sources.kafka_wire import (
        KafkaWireClient,
        MiniKafkaBroker,
    )

    kb = MiniKafkaBroker(npartitions=2).start()
    ab = MiniAmqpBroker().start()
    reg_srv = SchemaRegistryServer().start()
    d = None
    try:
        schema_file = tmp_path / "acct.avsc"
        schema_file_a = tmp_path / "acct_amqp.avsc"
        conf = f"""
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
plugins: kafka[k], kafka[kj], amqp[a]
aggregate[k]: proto
kafka_topic[k]: acct.avro
kafka_output[k]: avro
kafka_markers[k]: true
kafka_avro_schema_registry[k]: http://127.0.0.1:{reg_srv.port}
avro_schema_file[k]: {schema_file}
kafka_broker_port[k]: {kb.port}
aggregate[kj]: proto
kafka_topic[kj]: acct.avroj
kafka_output[kj]: avro_json
kafka_broker_port[kj]: {kb.port}
aggregate[a]: proto
amqp_routing_key[a]: acct
amqp_output[a]: avro
avro_schema_file[a]: {schema_file_a}
amqp_port[a]: {ab.port}
"""
        d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "kavro"))
        setup = AmqpWireClient("127.0.0.1", ab.port)
        setup.exchange_declare("pmacct", "direct")
        setup.queue_declare("qa")
        setup.queue_bind("qa", "pmacct", "acct")
        setup.close()
        _fire(d.port)
        t0 = time.monotonic()
        while d.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        d.run_available()
        # Kafka avro: Confluent-framed, registry-resolvable
        reg = HttpSchemaRegistryClient("127.0.0.1", reg_srv.port)
        cli = KafkaWireClient("127.0.0.1", kb.port)
        got = {}
        got_j = {}
        marker_evs = []
        import io as _io2

        from pmacct_spark.sinks.kafka import (
            ACCT_CLOSE_SCHEMA,
            ACCT_INIT_SCHEMA,
        )

        for p in (0, 1):
            _, rp = cli.fetch("acct.avro", p, 0, with_hwm=True)
            for _off, _k, v in rp:
                raw = bytes(v)
                if raw[:1] != b"\x00":  # not Confluent-framed: an
                    # Avro MARKER datum (acct_init/acct_close records,
                    # compose_avro_acct_init/_close)
                    ev = A.read_datum(_io2.BytesIO(raw), ACCT_INIT_SCHEMA)
                    if ev["event_type"] == "purge_close":
                        ev = A.read_datum(
                            _io2.BytesIO(raw), ACCT_CLOSE_SCHEMA
                        )
                    marker_evs.append(ev)
                    continue
                _sid, rec = A.read_registry_frame(raw, reg)
                got[rec["proto"]] = rec["bytes"]
            _, rj = cli.fetch("acct.avroj", p, 0, with_hwm=True)
            for _off, _k, v in rj:
                got_j[len(got_j)] = _json.loads(bytes(v))
        cli.close()
        assert got == {"tcp": 1500, "udp": 200}
        # avro markers: acct_init + acct_close Avro records frame the
        # batch; purged_entries counts RECORDS
        assert [e["event_type"] for e in marker_evs] == [
            "purge_init", "purge_close",
        ]
        assert marker_evs[1]["purged_entries"] == 2
        assert marker_evs[1]["total_entries"] == 2
        # avro_json: nullable fields ride union-branch objects
        by_proto = {
            e["proto"]["string"]: e["bytes"]["long"]
            for e in got_j.values()
        }
        assert by_proto == {"tcp": 1500, "udp": 200}
        # each channel dumps ITS OWN record schema — the amqp dump
        # decodes the amqp datums (both channels render proto names
        # by default per CONFIG-KEYS:1899)
        schema = _json.loads(schema_file_a.read_text())
        cli2 = AmqpWireClient("127.0.0.1", ab.port)
        a_got = {}
        while True:
            m = cli2.get("qa")
            if m is None:
                break
            import io as _io

            rec = A.read_datum(_io.BytesIO(m["body"]), schema)
            a_got[rec["proto"]] = rec["bytes"]
        cli2.close()
        assert a_got == {"tcp": 1500, "udp": 200}
    finally:
        if d is not None:
            d.stop()
        reg_srv.stop()
        ab.stop()
        kb.stop()


def test_daemon_multi_values_packs_bus_messages(spark, tmp_path):
    """kafka_multi_values / amqp_multi_values (CONFIG-KEYS:1519): with
    a budget large enough for the whole purge, ALL records ride ONE
    bus message as newline-separated JSON objects."""
    import json as _json

    from pmacct_spark.sinks.amqp_wire import AmqpWireClient, MiniAmqpBroker
    from pmacct_spark.sources.kafka_wire import (
        KafkaWireClient,
        MiniKafkaBroker,
    )

    kb = MiniKafkaBroker(npartitions=2).start()
    ab = MiniAmqpBroker().start()
    d = None
    try:
        conf = f"""
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
plugins: kafka[k], amqp[a]
aggregate[k]: proto
kafka_topic[k]: acct.mv
kafka_multi_values[k]: 65536
kafka_broker_port[k]: {kb.port}
aggregate[a]: proto
amqp_routing_key[a]: acct
amqp_multi_values[a]: 65536
amqp_port[a]: {ab.port}
"""
        d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "kmv"))
        setup = AmqpWireClient("127.0.0.1", ab.port)
        setup.exchange_declare("pmacct", "direct")
        setup.queue_declare("qa")
        setup.queue_bind("qa", "pmacct", "acct")
        setup.close()
        _fire(d.port)
        t0 = time.monotonic()
        while d.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        d.run_available()
        cli = KafkaWireClient("127.0.0.1", kb.port)
        msgs = []
        for p in (0, 1):
            _, rp = cli.fetch("acct.mv", p, 0, with_hwm=True)
            msgs += [bytes(v).decode() for _o, _k, v in rp]
        cli.close()
        assert len(msgs) == 1  # everything packed into one message
        recs = [_json.loads(line) for line in msgs[0].split("\n")]
        assert {r["proto"]: r["bytes"] for r in recs} == {
            "tcp": 1500, "udp": 200,
        }
        cli2 = AmqpWireClient("127.0.0.1", ab.port)
        bodies = []
        while True:
            m = cli2.get("qa")
            if m is None:
                break
            bodies.append(m["body"].decode())
        cli2.close()
        assert len(bodies) == 1
        recs = [_json.loads(line) for line in bodies[0].split("\n")]
        assert {r["proto"]: r["bytes"] for r in recs} == {
            "tcp": 1500, "udp": 200,
        }
    finally:
        if d is not None:
            d.stop()
        ab.stop()
        kb.stop()


def test_daemon_kafka_amqp_markers_live(spark, tmp_path):
    """kafka_markers / amqp_markers (CONFIG-KEYS:1791): purge_init /
    purge_close delimiter messages frame every purge batch on the bus
    (compose_purge_init/close_json src/plugin_cmn_json.c:1458;
    emission src/kafka_plugin.c:544,868, src/amqp_plugin.c:517).
    purge_close carries purged/total entry counts + duration."""
    import json as _json
    import os as _os

    from pmacct_spark.sinks.amqp_wire import AmqpWireClient, MiniAmqpBroker
    from pmacct_spark.sources.kafka_wire import (
        KafkaWireClient,
        MiniKafkaBroker,
    )

    kb = MiniKafkaBroker(npartitions=2).start()
    # credentialed broker: the daemon's amqp_user/amqp_passwd/
    # amqp_vhost connection keys must carry the handshake
    ab = MiniAmqpBroker(
        user="pm", passwd="pw", vhosts=("/acct",)
    ).start()
    d = None
    try:
        conf = f"""
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
plugins: kafka[k], amqp[a]
aggregate[k]: proto
kafka_topic[k]: daisy.acct
kafka_markers[k]: true
kafka_broker_port[k]: {kb.port}
aggregate[a]: proto
amqp_routing_key[a]: acct
amqp_markers[a]: true
amqp_user[a]: pm
amqp_passwd[a]: pw
amqp_vhost[a]: /acct
amqp_port[a]: {ab.port}
"""
        d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "kmrk"))
        setup = AmqpWireClient(
            "127.0.0.1", ab.port, user="pm", passwd="pw", vhost="/acct"
        )
        setup.exchange_declare("pmacct", "direct")
        setup.queue_declare("qa")
        setup.queue_bind("qa", "pmacct", "acct")
        setup.close()
        _fire(d.port)
        t0 = time.monotonic()
        while d.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        d.run_available()
        # markers ride partition 0 of the base topic; data records
        # spread by key — collect everything, check the framing
        cli = KafkaWireClient("127.0.0.1", kb.port)
        _, p0 = cli.fetch("daisy.acct", 0, 0, with_hwm=True)
        _, p1 = cli.fetch("daisy.acct", 1, 0, with_hwm=True)
        cli.close()
        evs0 = [_json.loads(bytes(v)) for _o, _k, v in p0]
        evs1 = [_json.loads(bytes(v)) for _o, _k, v in p1]
        wid = f"k/{_os.getpid()}"
        assert evs0[0] == {"event_type": "purge_init", "writer_id": wid}
        close = evs0[-1]
        assert close["event_type"] == "purge_close"
        assert close["writer_id"] == wid
        n_data = len(evs0) + len(evs1) - 2
        assert close["purged_entries"] == n_data == 2
        assert close["total_entries"] == 2 and close["duration"] >= 0
        # AMQP: one routing key, strict init -> data -> close ordering
        cli2 = AmqpWireClient(
            "127.0.0.1", ab.port, user="pm", passwd="pw", vhost="/acct"
        )
        msgs = []
        while True:
            m = cli2.get("qa")
            if m is None:
                break
            msgs.append(_json.loads(m["body"]))
        cli2.close()
        assert msgs[0]["event_type"] == "purge_init"
        assert msgs[0]["writer_id"] == f"a/{_os.getpid()}"
        assert msgs[-1]["event_type"] == "purge_close"
        assert msgs[-1]["purged_entries"] == 2
        assert {m["proto"] for m in msgs[1:-1]} == {"tcp", "udp"}
    finally:
        if d is not None:
            d.stop()
        ab.stop()
        kb.stop()


def test_daemon_sql_plugin_upsert_live(spark, tmp_path):
    """plugins: sqlite3 — the SQL accounting plugin wired by config:
    each purge runs the reference's UPDATE-then-INSERT statement cycle
    (src/sql_common.c:680-765) against the embedded SQL engine; a
    second purge of the same keys UPDATES counters in place (no
    duplicate rows) and advances stamp_updated."""
    db_path = tmp_path / "acct.duckdb"
    conf = f"""
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
plugins: sqlite3[s]
aggregate[s]: proto
sql_table[s]: acct_%Y
sql_db[s]: {db_path}
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spoolSQL"))
    try:
        golden = _fire(d.port)
        t0 = time.monotonic()
        while d.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        d.run_available()
        d.run_available()  # same keys again: UPDATE path, no dup rows
    finally:
        d.stop()
    import duckdb

    con = duckdb.connect(str(db_path))
    import datetime as _dt

    # dynamic sql_table: strftime tokens render at purge time
    tbl = _dt.datetime.utcnow().strftime("acct_%Y")
    rows = con.execute(
        f"SELECT proto, bytes, packets FROM {tbl} ORDER BY proto"
    ).fetchall()
    con.close()
    # second purge re-accumulated the same aggregate: counters doubled
    # through the UPDATE branch, keys unique; protocol NAMES by
    # default (sql_num_protos, CONFIG-KEYS:1899)
    names = {6: "tcp", 17: "udp"}
    assert rows == sorted(
        (names[p], b * 2, k * 2)
        for p, (b, k, _f) in golden.items()
    )


def test_daemon_trigger_exec_runs_per_purge(spark, tmp_path):
    """[sql|print]_trigger_exec (+_async) CONFIG-KEYS:1955 /
    docs/TRIGGER_VARS: the executable spawns after each channel's
    purge — SQL channels export SQL_DB/SQL_TABLE/EFFECTIVE_SQL_TABLE/
    SQL_REFRESH_TIME, non-SQL triggers run with no trigger-specific
    environment (the docs' 'simpler implementation')."""
    import os
    import stat

    sql_log = tmp_path / "sql_trig.log"
    prt_log = tmp_path / "prt_trig.log"
    script = tmp_path / "trig.sh"
    script.write_text(
        "#!/bin/sh\n"
        'echo "$1 db=$SQL_DB table=$SQL_TABLE eff=$EFFECTIVE_SQL_TABLE'
        ' rt=$SQL_REFRESH_TIME" >> "$2"\n'
    )
    script.chmod(script.stat().st_mode | stat.S_IEXEC)
    db_path = tmp_path / "t.duckdb"
    conf = f"""
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
plugins: sqlite3[s], print[p]
aggregate[s]: proto
sql_table[s]: acct_%Y
sql_db[s]: {db_path}
sql_refresh_time[s]: 60
sql_trigger_exec[s]: {script} sqlpurge {sql_log}
aggregate[p]: proto
print_output_file[p]: {tmp_path / 'out_csv'}
print_trigger_exec[p]: {script} prtpurge {prt_log}
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "trg"))
    try:
        _fire(d.port)
        t0 = time.monotonic()
        while d.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        d.run_available()
        d.run_available()  # a second purge fires the trigger again
    finally:
        d.stop()
    import datetime as _dt

    eff = _dt.datetime.utcnow().strftime("acct_%Y")
    sql_lines = sql_log.read_text().splitlines()
    assert len(sql_lines) == 2  # one spawn per purge
    assert sql_lines[0] == (
        f"sqlpurge db={db_path} table=acct_%Y eff={eff} rt=60"
    )
    prt_lines = prt_log.read_text().splitlines()
    assert len(prt_lines) == 2
    # non-SQL: no TRIGGER_VARS environment
    assert prt_lines[0] == "prtpurge db= table= eff= rt="


def test_daemon_sql_num_hosts_numeric_ip_columns(spark, tmp_path):
    """sql_num_hosts (CONFIG-KEYS:1911, MySQL/SQLite plugins only):
    host columns land NUMERICAL in network byte order — the
    INET6_ATON form (4-byte binary for v4; the reference's aton
    handlers call INET6_ATON unconditionally,
    src/sql_handlers.c:1241). The upsert cycle keys on the binary
    value: a second purge UPDATES in place."""
    import socket as _s

    import duckdb

    db_path = tmp_path / "acctn.duckdb"
    conf = f"""
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
plugins: sqlite3[s]
aggregate[s]: src_host
sql_table[s]: acct_num
sql_db[s]: {db_path}
sql_num_hosts[s]: true
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spoolN"))
    try:
        _fire(d.port)
        t0 = time.monotonic()
        while d.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        d.run_available()
        d.run_available()  # second purge: UPDATE branch on binary keys
    finally:
        d.stop()
    con = duckdb.connect(str(db_path))
    rows = con.execute(
        "SELECT src_host, bytes FROM acct_num ORDER BY src_host"
    ).fetchall()
    typ = con.execute(
        "SELECT data_type FROM information_schema.columns "
        "WHERE table_name = 'acct_num' AND column_name = 'src_host'"
    ).fetchone()[0]
    con.close()
    assert typ == "BLOB"
    got = {bytes(ip): b for ip, b in rows}
    assert got == {
        _s.inet_aton("10.0.0.1"): 3000,  # 1500 x 2 purges, updated
        _s.inet_aton("10.0.0.2"): 400,
    }


def test_daemon_tee_plugin_replicates_datagrams_live(spark, tmp_path):
    """plugins: tee — the replicator wired by config: RAW datagrams
    fan out to the tee_receivers pools over real UDP sockets
    (src/tee_plugin/tee_plugin.c); a pre_tag_map tag filter selects
    which exporters reach a tag-filtered pool
    (examples/tee_receivers.lst.example 'tag' key)."""
    from pmacct_spark.sources.udp import UdpSpool

    ra = UdpSpool(spool_dir=str(tmp_path / "recvA"), flush_secs=0.2).start()
    rb = UdpSpool(spool_dir=str(tmp_path / "recvB"), flush_secs=0.2).start()
    d = None
    try:
        ptm = tmp_path / "tee_ptm.map"
        ptm.write_text("set_tag=7 ip=127.0.0.1/32\n")
        rmap = tmp_path / "tee_receivers.lst"
        rmap.write_text(
            f"id=1 ip=127.0.0.1:{ra.port}\n"
            f"id=2 ip=127.0.0.1:{rb.port} tag=9\n"  # tag 9 never set
            "bogus-line without mandatory keys\n"
        )
        conf = f"""
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
pre_tag_map: {ptm}
plugins: tee[t]
tee_receivers[t]: {rmap}
"""
        d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "teeD"))
        _fire(d.port)
        t0 = time.monotonic()
        while d.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        d.run_available()
        t0 = time.monotonic()
        while ra.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        time.sleep(0.3)
    finally:
        if d is not None:
            d.stop()
    # pool 1 (no tag filter) got byte-exact replicas of both datagrams
    got = {bytes(r.payload) for r in ra.batch(spark).collect()}
    want = {bytes(r.payload) for r in d._spool_batch().collect()}
    ra.stop()
    assert got == want and len(got) == 2
    # pool 2 filters on tag 9, which nothing carries: empty
    assert rb.datagrams_received == 0
    rb.stop()


def test_daemon_tee_kafka_receiver_live(spark, tmp_path):
    """tee_receivers kafka_broker/kafka_topic entries route replicated
    datagrams to a LIVE Kafka broker byte-identical (tee-to-Kafka,
    examples/tee_receivers.lst.example), with tee_kafka_config_file
    (CONFIG-KEYS:3463) tuning the producer — batch.num.messages maps
    to wire batching, unknown properties warn inert. UDP pools in the
    same map keep working alongside."""
    from pmacct_spark.sources.kafka_wire import (
        KafkaWireClient,
        MiniKafkaBroker,
    )
    from pmacct_spark.sources.udp import UdpSpool

    kb = MiniKafkaBroker(npartitions=2).start()
    ru = UdpSpool(spool_dir=str(tmp_path / "recvU"), flush_secs=0.2).start()
    d = None
    try:
        kcf = tmp_path / "tee_kafka.cfg"
        kcf.write_text(
            "global, batch.num.messages, 8\n"
            "topic, compression.codec, snappy\n"  # inert, warns
        )
        rmap = tmp_path / "tee_receivers.lst"
        rmap.write_text(
            f"id=1 kafka_broker=127.0.0.1:{kb.port} kafka_topic=tee.rx\n"
            f"id=2 ip=127.0.0.1:{ru.port}\n"
        )
        conf = f"""
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
plugins: tee[t]
tee_receivers[t]: {rmap}
tee_kafka_config_file[t]: {kcf}
"""
        d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "teeK"))
        _fire(d.port)
        t0 = time.monotonic()
        while d.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        d.run_available()
        t0 = time.monotonic()
        while ru.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        time.sleep(0.3)  # let the receiver spool flush to parquet
        want = {bytes(r.payload) for r in d._spool_batch().collect()}
        cli = KafkaWireClient("127.0.0.1", kb.port)
        got = set()
        keys = set()
        for p in (0, 1):
            _, rp = cli.fetch("tee.rx", p, 0, with_hwm=True)
            for _off, k, v in rp:
                got.add(bytes(v))
                keys.add(bytes(k).decode())
        cli.close()
        # byte-identical replication onto the bus, keyed by exporter
        assert got == want and len(got) == 2
        assert keys == {"127.0.0.1"}
        # the UDP pool alongside got the same replicas
        u_got = {bytes(r.payload) for r in ru.batch(spark).collect()}
        assert u_got == want
    finally:
        if d is not None:
            d.stop()
        ru.stop()
        kb.stop()


def test_daemon_tee_zmq_receiver_live(spark, tmp_path):
    """tee_receivers zmq_address entries route replicated datagrams
    over LIVE ZMTP PUSH byte-identical
    (examples/tee_receivers.lst.example; Tee_init_zmq_host
    src/tee_plugin/tee_plugin.c:686) — a PULL-bound consumer (the
    shape of another daemon's ZMQ ingest seam) receives them exactly
    as exported."""
    from pmacct_spark.sources.zmtp import ZmtpPullServer

    pull = ZmtpPullServer().start()
    d = None
    try:
        rmap = tmp_path / "tee_receivers.lst"
        rmap.write_text(
            f"id=1 zmq_address=127.0.0.1:{pull.port}\n"
        )
        conf = f"""
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
plugins: tee[t]
tee_receivers[t]: {rmap}
"""
        d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "teeZ"))
        _fire(d.port)
        t0 = time.monotonic()
        while d.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        d.run_available()
        t0 = time.monotonic()
        got: list[bytes] = []
        while len(got) < 2 and time.monotonic() - t0 < 10:
            got += pull.drain()
            time.sleep(0.05)
        want = {bytes(r.payload) for r in d._spool_batch().collect()}
        assert set(got) == want and len(got) == 2
    finally:
        if d is not None:
            d.stop()
        pull.stop()


def test_kafka_config_file_acks_and_batching_live(spark, tmp_path):
    """kafka_config_file on the accounting Kafka plugin: mapped
    properties take effect on the wire — acks=0 produce is
    fire-and-forget (the broker sends NO response, protocol v0) and
    batched produce requests deliver every record."""
    import json as _json

    from pmacct_spark.sources.kafka_wire import (
        KafkaWireClient,
        MiniKafkaBroker,
    )

    kb = MiniKafkaBroker(npartitions=2).start()
    d = None
    try:
        kcf = tmp_path / "kafka.cfg"
        kcf.write_text(
            "global, request.required.acks, 0\n"
            "global, batch.num.messages, 16\n"
        )
        conf = f"""
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
plugins: kafka[k]
aggregate[k]: proto
kafka_topic[k]: acct.cfg
kafka_config_file[k]: {kcf}
kafka_broker_port[k]: {kb.port}
"""
        d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "kcfg"))
        _fire(d.port)
        t0 = time.monotonic()
        while d.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        d.run_available()
        # acks=0 means no broker confirmation — poll for arrival
        got = {}
        t0 = time.monotonic()
        while len(got) < 2 and time.monotonic() - t0 < 10:
            cli = KafkaWireClient("127.0.0.1", kb.port)
            for p in (0, 1):
                _, rp = cli.fetch("acct.cfg", p, 0, with_hwm=True)
                for _off, _k, v in rp:
                    ev = _json.loads(bytes(v))
                    got[ev["proto"]] = ev["bytes"]
            cli.close()
            time.sleep(0.1)
        assert got == {"tcp": 1500, "udp": 200}
    finally:
        if d is not None:
            d.stop()
        kb.stop()


def test_sfacctd_agent_address_is_exporter_identity(spark, tmp_path):
    """sFlow exporter identity: the datagram's Agent Address is used by
    default — 'all sFlow implementations do send Agent Address and
    that is used by default' (CONFIG-KEYS:2213) — so agents behind a
    relay/NAT attribute correctly; sfacctd_ignore_exporter_address
    keeps the socket address instead."""
    from pmacct_spark.driver_queries import flows as flows_view_fn
    from pmacct_spark.operators.staging import stage
    from pmacct_spark.sinks.sfprobe import encode_sflow5
    from pmacct_spark.sinks.tee import emit_udp

    fl = stage(
        flows_view_fn(spark, "/root/testdata/sf0.001").limit(40).selectExpr(
            "ip_src_i", "ip_dst_i", "iface_in", "iface_out", "bytes",
            "port_src", "port_dst", "tcp_flags", "ip_proto", "tos",
        )
    )
    dgrams = encode_sflow5(fl, agent_ip="198.51.100.77")

    def run_one(tag, ignore):
        conf = f"""
sfacctd_ip: 127.0.0.1
sfacctd_port: 0
sfacctd_ignore_exporter_address: {'true' if ignore else 'false'}
plugins: memory[m]
aggregate[m]: peer_src_ip
"""
        d = Daemon.from_conf(
            spark, conf, spool_dir=str(tmp_path / f"sfa_{tag}")
        )
        try:
            emit_udp(dgrams, default_endpoint=f"127.0.0.1:{d.port}")
            t0 = time.monotonic()
            while (
                d.spool.datagrams_received < 1
                and time.monotonic() - t0 < 15
            ):
                time.sleep(0.05)
            out = d.run_available()["m"].collect()
        finally:
            d.stop()
        return {r["peer_src_ip"] for r in out}

    assert run_one("agent", ignore=False) == {"198.51.100.77"}
    assert run_one("sock", ignore=True) == {"127.0.0.1"}


def test_nfacctd_exporter_identity_from_ie130_options(spark, tmp_path):
    """IPFIX/v9 exporterIPv4Address (IE 130) sent via Options packets
    is the exporter identity by default (CONFIG-KEYS:2213) — flows
    from that socket re-key to the advertised address;
    nfacctd_ignore_exporter_address keeps the socket address."""
    import struct as _struct

    def options_dgram(exporter_v4: int) -> bytes:
        # v9 options template (set 1): scope System(1,4B) +
        # exporterIPv4Address(130, 4B), then one data record
        tmpl_body = _struct.pack("!HHH", 500, 4, 4)
        tmpl_body += _struct.pack("!HH", 1, 4)    # scope: System
        tmpl_body += _struct.pack("!HH", 130, 4)  # exporterIPv4Address
        tmpl_set = _struct.pack("!HH", 1, 4 + len(tmpl_body)) + tmpl_body
        data_body = _struct.pack("!II", 1, exporter_v4)
        data_set = _struct.pack("!HH", 500, 4 + len(data_body)) + data_body
        hdr = _struct.pack("!HHIIII", 9, 2, 0, 0, 1, 1)
        return hdr + tmpl_set + data_set

    def run_one(tag, ignore):
        conf = f"""
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
nfacctd_ignore_exporter_address: {'true' if ignore else 'false'}
plugins: memory[m]
aggregate[m]: peer_src_ip
"""
        d = Daemon.from_conf(
            spark, conf, spool_dir=str(tmp_path / f"ie130_{tag}")
        )
        try:
            send_datagrams(
                [options_dgram(0xC6336407),  # 198.51.100.7
                 _v5_datagram(1, [
                     {"src": 0x0A010101, "dst": 0x0B020202, "pkts": 1,
                      "bytes": 100, "sport": 5, "dport": 443},
                 ])],
                "127.0.0.1", d.port,
            )
            t0 = time.monotonic()
            while (
                d.spool.datagrams_received < 2
                and time.monotonic() - t0 < 15
            ):
                time.sleep(0.05)
            out = d.run_available()["m"].collect()
        finally:
            d.stop()
        return {r["peer_src_ip"] for r in out}

    assert run_one("id", ignore=False) == {"198.51.100.7"}
    assert run_one("sock", ignore=True) == {"127.0.0.1"}


def test_nfacctd_mcast_groups_receive(spark, tmp_path):
    """nfacctd_mcast_groups (CONFIG-KEYS:2190): the daemon joins the
    supplied multicast groups and accounts flow datagrams sent to the
    GROUP address, not to the collector's unicast address."""
    import socket as _sock

    conf = """
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
nfacctd_mcast_groups: 224.0.0.251
plugins: memory[m]
aggregate[m]: proto
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "mcast"))
    try:
        s = _sock.socket(_sock.AF_INET, _sock.SOCK_DGRAM)
        s.setsockopt(
            _sock.IPPROTO_IP, _sock.IP_MULTICAST_IF,
            _sock.inet_aton("127.0.0.1"),
        )
        s.setsockopt(_sock.IPPROTO_IP, _sock.IP_MULTICAST_LOOP, 1)
        s.sendto(
            _v5_datagram(1, [
                {"src": 0x0A010101, "dst": 0x0B020202, "pkts": 3,
                 "bytes": 333, "sport": 5, "dport": 443, "proto": 6},
            ]),
            ("224.0.0.251", d.port),
        )
        s.close()
        t0 = time.monotonic()
        while d.spool.datagrams_received < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        out = d.run_available()["m"].collect()
    finally:
        d.stop()
    assert {(r["proto"], r["bytes"]) for r in out} == {(6, 333)}


def test_daemon_account_options_split(spark, tmp_path):
    """nfacctd_account_options e2e (CONFIG-KEYS:2083-2102, option
    exec_plugins src/nfacctd.c:2443): option records and flow records
    arrive on ONE socket; pre_tag_map sample_type=option|flow tags
    them, and two plugins with pre_tag_filter split the channels — the
    option plugin aggregates the aggregate_primitives columns
    (vrf_id/vrf_name), the data plugin sees only the flows."""
    (tmp_path / "primitives.lst").write_text(
        "name=vrf_id   field_type=234 len=4  semantics=u_int\n"
        "name=vrf_name field_type=236 len=16 semantics=str\n"
    )
    (tmp_path / "pretag.map").write_text(
        "set_tag=100 sample_type=option\n"
        "set_tag=200 sample_type=flow\n"
    )
    conf = f"""
nfacctd_port: 0
nfacctd_account_options: true
aggregate_primitives: {tmp_path / 'primitives.lst'}
pre_tag_map: {tmp_path / 'pretag.map'}
plugins: memory[data], memory[option_vrf]
aggregate[data]: proto
pre_tag_filter[data]: 200
aggregate[option_vrf]: vrf_id, vrf_name
pre_tag_filter[option_vrf]: 100
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spoolAO"))
    try:
        from pmacct_spark.sinks.nfprobe import encode_options_names

        maps = spark.createDataFrame(
            [("127.0.0.1", 1, 42, "vrf-blue", 7, "eth0"),
             ("127.0.0.1", 2, 43, "vrf-red", 8, "eth1")],
            "exporter_ip string, seq long, vrf_id long, vrf_name string,"
            " rd_int long, iface_name string",
        )
        opt_payloads = [
            bytes(r[0])
            for r in encode_options_names(maps).select("payload").collect()
        ]
        send_datagrams(
            opt_payloads
            + [_v5_datagram(1, [{"src": 1, "dst": 2, "pkts": 3,
                                 "bytes": 500, "sport": 1, "dport": 2}])],
            "127.0.0.1", d.port,
        )
        t0 = time.monotonic()
        while d.spool.datagrams_received < 3 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        out = d.run_available()
        data_rows = out["data"].collect()
        opt_rows = out["option_vrf"].collect()
    finally:
        d.stop()
    # the data plugin sees ONLY the flow (proto 6, untouched counters)
    assert [(r["proto"], r["bytes"], r["packets"]) for r in data_rows] == [
        (6, 500, 3)
    ]
    # the option plugin sees ONLY the two exposition records
    assert sorted((r["vrf_id"], r["vrf_name"]) for r in opt_rows) == [
        (42, "vrf-blue"), (43, "vrf-red"),
    ]


def test_daemon_pre_tag_label_filter_routing(spark, tmp_path):
    """pre_tag_label_filter (CONFIG-KEYS:2327): per-plugin routing on
    pre_tag_map labels — one channel takes 'edge'-labelled records,
    one takes unlabelled via the 'null' keyword, batch and streaming
    paths alike."""
    (tmp_path / "pretag.map").write_text(
        "set_label=edge ip=127.0.0.1 src_port=1\n"
    )
    conf = f"""
nfacctd_port: 0
pre_tag_map: {tmp_path / 'pretag.map'}
plugins: memory[edge], memory[rest]
aggregate[edge]: proto
pre_tag_label_filter[edge]: edge
aggregate[rest]: proto
pre_tag_label_filter[rest]: null
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spoolLF"))
    try:
        send_datagrams(
            [_v5_datagram(1, [{"src": 1, "dst": 2, "pkts": 3,
                               "bytes": 100, "sport": 1, "dport": 2}]),
             _v5_datagram(2, [{"src": 3, "dst": 4, "pkts": 5,
                               "bytes": 200, "sport": 3, "dport": 4}])],
            "127.0.0.1", d.port,
        )
        t0 = time.monotonic()
        while d.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        out = d.run_available()
        edge = out["edge"].collect()
        rest = out["rest"].collect()
    finally:
        d.stop()
    # sport 1 -> labelled 'edge'; sport 3 -> unlabelled -> 'null'
    assert [(r["proto"], r["bytes"]) for r in edge] == [(6, 100)]
    assert [(r["proto"], r["bytes"]) for r in rest] == [(6, 200)]


def test_daemon_sfprobe_agentip_subid_ifspeed_chain(spark, tmp_path):
    """sfprobe_agentip / sfprobe_agentsubid / sfprobe_ifspeed
    (CONFIG-KEYS:2624-2636): the re-export chain carries the
    configured agentIp in the sFlow header (collector B accounts the
    flows under THAT identity, not the transport source), the
    agentSubId rides the header verbatim, and the agent also exports
    per-interface counter samples whose ifSpeed is the static
    configured value with octet counters equal to what it accounted."""
    log_dir = str(tmp_path / "sfc_log")
    conf_b = f"""
sfacctd_port: 0
sfacctd_counter_file: {log_dir}
plugins: memory[m]
aggregate[m]: peer_src_ip, proto
"""
    db = Daemon.from_conf(spark, conf_b, spool_dir=str(tmp_path / "sfB"))
    da = None
    try:
        conf_a = f"""
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
plugins: sfprobe[x]
sfprobe_receiver[x]: 127.0.0.1:{db.port}
sfprobe_agentip[x]: 192.0.2.77
sfprobe_agentsubid[x]: 7
sfprobe_ifspeed[x]: 1000000000
"""
        da = Daemon.from_conf(spark, conf_a, spool_dir=str(tmp_path / "sfA"))
        send_datagrams(
            [_v5_datagram(1, [{"src": 1, "dst": 2, "pkts": 3,
                               "bytes": 500, "sport": 1, "dport": 2}])],
            "127.0.0.1", da.port,
        )
        t0 = time.monotonic()
        while da.spool.datagrams_received < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        da.run_available()
        # B: flow sample (1 datagram) + counter sample (1 datagram)
        t0 = time.monotonic()
        while db.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        b_out = db.run_available()["m"].collect()
        # raw wire check: agentSubId field is the configured 7
        import pathlib as _pl

        subids = set()
        for f in _pl.Path(db.spool.spool_dir).glob("*.parquet"):
            for r in spark.read.parquet(str(f)).collect():
                p = bytes(r["payload"])
                # v5 header: ver(4) agent_type(4) agent_v4(4) subid(4)
                subids.add(int.from_bytes(p[12:16], "big"))
        db.spool.flush()
        assert db.write_msglog_if_configured() == [log_dir]
    finally:
        if da is not None:
            da.stop()
        db.stop()
    # flows accounted under the configured agentIp identity
    assert [(r["peer_src_ip"], r["proto"], r["bytes"]) for r in b_out] == [
        ("192.0.2.77", 6, 500)
    ]
    assert subids == {7}
    # counter log carries the static ifSpeed + accounted octets
    import json
    import pathlib

    lines = []
    for f in pathlib.Path(log_dir).rglob("*.txt"):
        lines += [
            json.loads(ln)
            for ln in f.read_text().splitlines()
            if ln.strip()
        ]
    assert lines and all(ln["ifSpeed"] == 1000000000 for ln in lines)
    assert any(ln.get("ifInOctets") == 500 for ln in lines)


def test_daemon_nfprobe_engine_tstamp_usec_chain(spark, tmp_path):
    """nfprobe_engine + nfprobe_tstamp_usec (CONFIG-KEYS:2550,2613)
    wired from conf: collector A re-exports IPFIX with a configured
    Observation Domain ID and usec-resolution timestamps (IEs 154/155,
    16-byte sec+usec pairs); collector B accounts the flows with
    timestamps intact, and the obs domain rides the message header."""
    conf_b = """
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
plugins: memory[m]
aggregate[m]: proto
"""
    db = Daemon.from_conf(spark, conf_b, spool_dir=str(tmp_path / "engB"))
    da = None
    try:
        conf_a = f"""
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
plugins: nfprobe[x]
nfprobe_receiver[x]: 127.0.0.1:{db.port}
nfprobe_version[x]: 10
nfprobe_engine[x]: 77
nfprobe_tstamp_usec[x]: true
"""
        da = Daemon.from_conf(spark, conf_a, spool_dir=str(tmp_path / "engA"))
        send_datagrams(
            [_v5_datagram(1, [{"src": 1, "dst": 2, "pkts": 3,
                               "bytes": 600, "sport": 1, "dport": 2}])],
            "127.0.0.1", da.port,
        )
        t0 = time.monotonic()
        while da.spool.datagrams_received < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        da.run_available()
        t0 = time.monotonic()
        while db.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        b_out = db.run_available()["m"].collect()
        # raw wire: IPFIX header obs domain = the configured engine
        import pathlib as _pl

        domains = set()
        for f in _pl.Path(db.spool.spool_dir).glob("*.parquet"):
            for r in spark.read.parquet(str(f)).collect():
                p = bytes(r["payload"])
                if p[:2] == b"\x00\x0a":  # version 10
                    domains.add(int.from_bytes(p[12:16], "big"))
    finally:
        if da is not None:
            da.stop()
        db.stop()
    assert [(r["proto"], r["bytes"]) for r in b_out] == [(6, 600)]
    assert domains == {77}


def test_daemon_tee_source_ip_binds_sender(spark, tmp_path):
    """tee_source_ip (CONFIG-KEYS:3495): replicated datagrams leave
    from the configured local address — the receiver records the
    replica under that exporter identity (the non-transparent mode's
    only identity signal)."""
    from pmacct_spark.sources.udp import UdpSpool

    rx = UdpSpool(spool_dir=str(tmp_path / "recvS"), flush_secs=0.2).start()
    d = None
    try:
        rmap = tmp_path / "tee_src.lst"
        rmap.write_text(f"id=1 ip=127.0.0.1:{rx.port}\n")
        conf = f"""
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
plugins: tee[t]
tee_receivers[t]: {rmap}
tee_source_ip[t]: 127.0.0.2
"""
        d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "teeS"))
        send_datagrams(
            [_v5_datagram(1, [{"src": 1, "dst": 2, "pkts": 3,
                               "bytes": 100, "sport": 1, "dport": 2}])],
            "127.0.0.1", d.port,
        )
        t0 = time.monotonic()
        while d.spool.datagrams_received < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        d.run_available()
        t0 = time.monotonic()
        while rx.datagrams_received < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        time.sleep(0.3)
    finally:
        if d is not None:
            d.stop()
    rows = rx.batch(spark).collect()
    rx.stop()
    assert rows and all(r["exporter_ip"] == "127.0.0.2" for r in rows)


def test_daemon_nfprobe_direction_ifindex(spark, tmp_path):
    """nfprobe_direction / nfprobe_ifindex / nfprobe_ifindex_override
    (CONFIG-KEYS:2575-2608): tag-derived direction rides the export as
    DIRECTION (IE 61), and the configured ifIndex lands on the
    direction's interface — replacing it only under _override, else
    only where the record carried none."""
    conf_b = """
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
plugins: memory[m]
aggregate[m]: proto
"""
    db = Daemon.from_conf(spark, conf_b, spool_dir=str(tmp_path / "dirB"))
    da = None
    try:
        ptm = tmp_path / "dir_ptm.map"
        # everything from 127.0.0.1 tags 2 -> direction 'out'
        ptm.write_text("set_tag=2 ip=127.0.0.1\n")
        conf_a = f"""
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
pre_tag_map: {ptm}
plugins: nfprobe[x]
nfprobe_receiver[x]: 127.0.0.1:{db.port}
nfprobe_version[x]: 10
nfprobe_direction[x]: tag
nfprobe_ifindex[x]: 4242
nfprobe_ifindex_override[x]: true
"""
        da = Daemon.from_conf(spark, conf_a, spool_dir=str(tmp_path / "dirA"))
        send_datagrams(
            [_v5_datagram(1, [{"src": 1, "dst": 2, "pkts": 3,
                               "bytes": 900, "sport": 1, "dport": 2}])],
            "127.0.0.1", da.port,
        )
        t0 = time.monotonic()
        while da.spool.datagrams_received < 1 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        da.run_available()
        t0 = time.monotonic()
        while db.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        # decode B's raw spool through the EXTENDED decoder so the
        # DIRECTION column is visible
        db.spool.flush()
        from pmacct_spark.streaming.decode import (
            decode_any_ext,
            prepare_datagrams,
        )

        rows = decode_any_ext(
            prepare_datagrams(
                db.spool.batch(spark), order_col="seqno"
            ).select("exporter_ip", "payload")
        ).collect()
    finally:
        if da is not None:
            da.stop()
        db.stop()
    assert len(rows) == 1
    r = rows[0]
    # tag 2 -> egress (1); override places 4242 on the OUT interface
    assert r["direction"] == 1
    assert r["iface_out"] == 4242
    assert r["bytes"] == 900
