"""The plugin-type table (sinks/plugins.py) and the daemon behaviors
that ride on it: every plugin type has one row, a probe channel leaves
later channels' rows alone, a failed bus publish releases its staged
copy, the refresh and trigger gates read the table's conf prefixes,
and the replan loop logs each distinct failure once."""

from __future__ import annotations

import logging
import socket
import threading
import time

import pytest

from pmacct_spark import conffile
from pmacct_spark.daemon import Daemon, _ReplanLoop
from pmacct_spark.sinks.plugins import PLUGINS, emit_bus, emit_sql
from tests.test_daemon import _fire


def _free_port() -> int:
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    return port


def test_plugin_table_covers_every_plugin_type():
    assert set(PLUGINS) == set(conffile._PLUGIN_TYPES)
    assert PLUGINS["memory"].emit is None
    sql = {t for t, row in PLUGINS.items() if row.prefix == "sql"}
    assert sql == {"sql", "mysql", "pgsql", "sqlite3"}
    for t in sql:  # one SQL emitter
        assert getattr(PLUGINS[t].emit, "func", PLUGINS[t].emit) is emit_sql
    for t in ("kafka", "amqp"):  # one bus emitter
        assert PLUGINS[t].emit.func is emit_bus


def _memory_rows(spark, spool_dir, plugins: str, sink_port: int) -> list:
    conf = f"""
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
plugins: {plugins}
aggregate[m]: out_iface
nfprobe_receiver[x]: 127.0.0.1:{sink_port}
nfprobe_direction[x]: out
nfprobe_ifindex[x]: 4242
nfprobe_ifindex_override[x]: true
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(spool_dir))
    try:
        _fire(d.port)
        t0 = time.monotonic()
        while d.spool.datagrams_received < 2 and time.monotonic() - t0 < 15:
            time.sleep(0.05)
        return sorted(tuple(r) for r in d.run_available()["m"].collect())
    finally:
        d.stop()


def test_probe_channel_leaves_later_channels_rows_alone(spark, tmp_path):
    """nfprobe_ifindex places 4242 on the PROBE's export only: a memory
    channel listed after the probe aggregates the same flows as one
    listed before it."""
    sink = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    sink.bind(("127.0.0.1", 0))
    try:
        port = sink.getsockname()[1]
        first = _memory_rows(spark, tmp_path / "a", "memory[m], nfprobe[x]", port)
        after = _memory_rows(spark, tmp_path / "b", "nfprobe[x], memory[m]", port)
    finally:
        sink.close()
    assert first == [(2, 1700, 17, 3)]  # out_iface, bytes, packets, flows
    assert after == first


@pytest.mark.parametrize(
    "ptype, keys",
    [
        ("kafka", "kafka_topic[b]: t\nkafka_broker_port[b]: {port}"),
        ("amqp", "amqp_routing_key[b]: k\namqp_port[b]: {port}"),
    ],
)
def test_failed_bus_publish_releases_marker_stage(spark, tmp_path, ptype, keys):
    """<type>_markers stages the purge once; a broker that is down
    raises out of the purge and leaves no staged copy behind."""
    from pmacct_spark.operators import staging

    conf = f"""
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
plugins: {ptype}[b]
{ptype}_markers[b]: true
""" + keys.format(port=_free_port())
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / ptype))
    try:
        out = spark.createDataFrame([(6, 1500), (17, 200)], "proto int, bytes long")
        before = list(staging._STAGE_DIRS)
        with pytest.raises(OSError):
            PLUGINS[ptype].emit(d, "b", out, None)
        assert staging._STAGE_DIRS == before
    finally:
        d.stop()


def test_bus_transports_send_the_sink_module_frames(spark):
    """The Kafka and AMQP transports ship the frames sinks/kafka and
    sinks/amqp shape: same key, payload and round-robin target."""
    from types import SimpleNamespace

    from pmacct_spark.sinks.amqp import amqp_frame
    from pmacct_spark.sinks.kafka import kafka_frame
    from pmacct_spark.sinks.plugins import AmqpBus, KafkaBus

    d = SimpleNamespace(conf=conffile.parse_conf("""
kafka_partition_key[b]: src_as
kafka_topic_rr[b]: 3
amqp_routing_key_rr[b]: 4
amqp_persistent_msg[b]: true
"""))
    out = spark.createDataFrame(
        [(i, i % 5, 100 * i) for i in range(40)], "src_as int, dst_as int, bytes long"
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(KafkaBus(d, "b", "t").frames(out, "json", "")) == rows(
        kafka_frame(out, "t", key_cols=["src_as"], rr_topics=3)
    )
    assert rows(AmqpBus(d, "b", "k").frames(out, "json", "")) == rows(
        amqp_frame(out, "pmacct", "k", rr=4, persistent=True)
    )


def test_sql_family_refresh_time_sets_serving_trigger(spark, tmp_path):
    """sql_refresh_time applies to every SQL-family type, not only the
    generic ``sql`` one: a sqlite3 channel serves on a 60 s trigger."""
    conf = """
nfacctd_ip: 127.0.0.1
nfacctd_port: 0
nfacctd_renormalize: true
plugins: sqlite3[s], memory[m]
aggregate[s]: proto
sql_history[s]: 5m
sql_refresh_time[s]: 60
aggregate[m]: proto
sql_history[m]: 5m
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "rt"))
    run = None
    try:
        # learned sampling rates make both channels replan loops
        run = d.run_continuous(trigger_secs=0.5)
        assert run.queries["s"].trigger_secs == 60
        assert run.queries["m"].trigger_secs == 0.5  # memory: no refresh
    finally:
        if run is not None:
            run.stop()
        d.stop()


def test_replan_failures_log_once_per_distinct_failure(caplog):
    loop = _ReplanLoop(None, "c", None, 0.0)
    loop._stop = threading.Event()
    ticks = []

    def failing_tick():
        ticks.append(1)
        if len(ticks) == 2:
            loop._stop.set()
        raise RuntimeError("rib unavailable")

    loop._tick = failing_tick
    with caplog.at_level(logging.WARNING, logger="pmacct_spark"):
        loop._loop()
    logged = [r for r in caplog.records if r.getMessage().startswith("replan[c]")]
    assert len(ticks) == 2
    assert len(logged) == 1
    assert logged[0].exc_info is not None
    assert isinstance(loop.last_error, RuntimeError)
