"""The daemon's one scratch owner (``streaming/store.Retention``): every
batch drain, replan tick and compaction reads staged data under a
lease, and a staged frame is released only once no lease keeps it.
Also the staging module's logged fallbacks and exit ledger."""

from __future__ import annotations

import glob
import logging
import os
import threading
import time

import pyarrow as pa

from pmacct_spark.daemon import Daemon, _ReplanLoop
from pmacct_spark.operators import staging
from pmacct_spark.sources.spoolio import write_spool_file
from pmacct_spark.streaming.bmp import encode_bgp_update
from tests.test_rib_snapshot import _bgp, _flows

NH = 0xAC100101  # 172.16.1.1: every route's next hop, not a peer
MASKLENS = (8, 12, 16, 20, 24)  # five lengths: the follow chains stage dims

FOLLOW = """
nfacctd_port: 0
bgp_daemon: true
bgp_daemon_ip: 127.0.0.1
bgp_daemon_port: 0
bgp_follow_default: 1
bgp_follow_nexthop: 172.16.0.0/16
"""


def _routes(tag: int) -> list[bytes]:
    """Routes to 11.0.0.0 at every length in MASKLENS; the longest
    carries AS path ``str(tag)``."""
    return [
        encode_bgp_update(0x0B000000, m, str(tag if m == 24 else 64999), next_hop=NH)
        for m in MASKLENS
    ]


def _stage_paths(monkeypatch) -> list:
    """Records the directory of every ``staging.stage`` call."""
    paths: list = []
    orig = staging.stage

    def recording(df):
        out = orig(df)
        paths.append(out.stage_path)
        return out

    monkeypatch.setattr(staging, "stage", recording)
    return paths


def test_follow_chains_keep_a_drains_results_for_two_more_drains(
    spark, tmp_path, monkeypatch
):
    """Both follow chains stage dims in one drain. Drain 1's lazy
    result stays collectable after drain 2, and its dims are released
    once two more drains have started."""
    conf = FOLLOW + "plugins: memory[paths]\naggregate[paths]: as_path\n"
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool"))
    staged = _stage_paths(monkeypatch)
    try:
        _bgp(d, "r1", *_routes(65001))
        _flows(d, "f1")
        first = d.run_available(streaming=False)["paths"]
        drain1 = list(staged)
        _flows(d, "f2", (400,))
        second = d.run_available(streaming=False)["paths"]
        assert {r["as_path"]: r["bytes"] for r in second.collect()} == {"65001": 700}
        assert {r["as_path"]: r["bytes"] for r in first.collect()} == {"65001": 300}
        d.run_available(streaming=False)
        dims = [p for p in drain1 if p not in {s.df.stage_path for s in d._store._segments}]
        dims.remove(d._ribs._rib.df.stage_path)
        assert len(dims) == 2 * len(MASKLENS)  # one dim per length per chain
        assert not any(os.path.exists(p) for p in dims)
    finally:
        d.stop()


def test_follow_nexthop_fills_the_peer_dst_ip_primitive(spark, tmp_path):
    """``aggregate: peer_dst_ip`` reads the column bgp_follow_nexthop
    resolves: the last next hop inside the follow set."""
    conf = FOLLOW + "plugins: memory[nh]\naggregate[nh]: peer_dst_ip\n"
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool"))
    try:
        _bgp(d, "r1", *_routes(65001))
        _flows(d, "f1")
        rows = d.run_available(streaming=False)["nh"].collect()
    finally:
        d.stop()
    assert {r["peer_dst_ip"]: r["bytes"] for r in rows} == {"172.16.1.1": 300}


def test_replan_channels_share_follow_chain_scratch(spark, tmp_path):
    """Two replan channels on both follow chains tick while routes
    change: both serve the final route, no tick fails on a released
    dim, and the staged dirs on disk stay bounded."""
    conf = FOLLOW + """
plugins: memory[fa], memory[fb]
aggregate[fa]: as_path
aggregate[fb]: as_path, proto
sql_history[fa]: 5m
sql_history[fb]: 5m
"""
    root = tmp_path / "stage"
    root.mkdir()
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool"))
    stop = threading.Event()
    peak = [0]

    def sample():
        while not stop.is_set():
            n = len(glob.glob(str(root / "pmacct_stage_*")))
            peak[0] = max(peak[0], n)
            time.sleep(0.01)

    sampler = threading.Thread(target=sample)
    run = None
    staging.set_staging_root(str(root))
    try:
        _bgp(d, "r00", *_routes(65000))
        _flows(d, "f1")
        sampler.start()
        run = d.run_continuous(trigger_secs=0.2)
        last = 65000
        for i in range(1, 6):
            time.sleep(0.6)
            last = 65000 + i
            _bgp(d, f"r{i:02d}", *_routes(last))

        def served(name):
            try:
                return {r["as_path"] for r in spark.table(f"imt_{name}").collect()}
            except Exception:  # not served yet
                return None

        t0 = time.monotonic()
        while time.monotonic() - t0 < 60 and not (
            served("fa") == served("fb") == {str(last)}
        ):
            time.sleep(0.2)
        time.sleep(1.0)  # more ticks over the same routes
        assert served("fa") == served("fb") == {str(last)}
        errors = {n: q.last_error for n, q in run.queries.items()}
    finally:
        if run is not None:
            run.stop()
        stop.set()
        if sampler.is_alive():
            sampler.join()
        staging.set_staging_root(None)
        d.stop()
    assert errors == {"fa": None, "fb": None}
    # per channel, one tick in flight: 2 chains x 5 dims and the RIB
    # it pins; plus the current RIB and the flow store's one segment
    assert 0 < peak[0] <= 2 * (2 * len(MASKLENS) + 1) + 2, peak[0]


def test_concurrent_ticks_flush_the_spools_once(spark, tmp_path):
    """Two channels' ticks that start in one trigger interval share a
    single spool flush."""
    conf = """
nfacctd_port: 0
plugins: memory[a], memory[b]
aggregate[a]: proto
aggregate[b]: src_host
sql_history[a]: 5m
sql_history[b]: 5m
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool"))
    flushes: list = []
    orig = d.spool.flush

    def counting():
        flushes.append(threading.current_thread().name)
        time.sleep(0.05)
        return orig()

    d.spool.flush = counting
    gate = threading.Barrier(2)
    errors: list = []

    def tick(name):
        loop = _ReplanLoop(d, name, d.channels[name], 60.0)
        gate.wait()
        try:
            loop._tick()
        except Exception as exc:  # surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=tick, args=(n,)) for n in ("a", "b")]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        d.stop()
    assert errors == []
    assert len(flushes) == 1


def test_stop_removes_every_compacted_table(spark, tmp_path):
    """An sFlow daemon that compacted leaves none of its compacted
    side tables (flows, options, counters) behind after stop()."""
    from pmacct_spark.sinks.sfprobe import encode_sflow_counters

    conf = "sfacctd_port: 0\nplugins: memory[p]\naggregate[p]: proto\n"
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool"))
    try:
        for i, ifaces in enumerate(([5, 7], [9])):
            rows = spark.createDataFrame(
                [(n, 6, 10**9, 1, 100 * n, 10, 0, 200 * n, 20, 1) for n in ifaces],
                "if_index LONG, if_type LONG, if_speed LONG, if_status LONG, "
                "if_in_octets LONG, if_in_ucast LONG, if_in_errors LONG, "
                "if_out_octets LONG, if_out_ucast LONG, if_out_errors LONG",
            )
            pdf = encode_sflow_counters(rows).toPandas()
            write_spool_file(
                d.spool.spool_dir,
                f"s{i}.parquet",
                pa.table(
                    {
                        "exporter_ip": pa.array(pdf["exporter_ip"], pa.string()),
                        "seqno": pa.array(range(len(pdf)), pa.int64()),
                        "payload": pa.array(list(pdf["payload"]), pa.binary()),
                    }
                ),
            )
        assert d.compact_spool(keep_files=1) == 1
        dirs = list(d._compacted.values())
        assert sorted(d._compacted) == ["counters", "flows"]  # no sFlow options
        assert all(os.path.isdir(p) for p in dirs)
    finally:
        d.stop()
    assert not any(os.path.exists(p) for p in dirs)


def test_rm_logs_a_swallowed_delete_error_once(spark, monkeypatch, caplog):
    monkeypatch.setattr(staging, "_LOGGED", set())
    with caplog.at_level(logging.WARNING, logger="pmacct_spark"):
        staging._rm("nosuchscheme://host/pmacct_stage_a")
        staging._rm("nosuchscheme://host/pmacct_stage_b")
    notes = [r.getMessage() for r in caplog.records if "could not delete" in r.getMessage()]
    assert len(notes) == 1 and "pmacct_stage_a" in notes[0]


def test_stage_if_heavy_logs_the_stats_fallback_once(spark, monkeypatch, caplog):
    def no_stats(df):
        raise RuntimeError("no statistics")

    monkeypatch.setattr(staging, "_LOGGED", set())
    monkeypatch.setattr(staging, "plan_size_bytes", no_stats)
    df = spark.range(3)
    with caplog.at_level(logging.WARNING, logger="pmacct_spark"):
        outs = [staging.stage_if_heavy(df, df) for _ in range(2)]
    try:
        assert all(hasattr(o, "stage_path") for o in outs)  # staged: be safe
        assert sorted(r["id"] for r in outs[0].collect()) == [0, 1, 2]
    finally:
        for o in outs:
            staging.release(o)
    notes = [r.getMessage() for r in caplog.records if "no size estimate" in r.getMessage()]
    assert len(notes) == 1 and "no statistics" in notes[0]


def test_retained_scratch_goes_with_the_exit_hook(tmp_path):
    """Scratch dirs kept for returned DataFrames share the staged
    dirs' ledger and exit cleanup."""
    d = tmp_path / "scratch"
    d.mkdir()
    staging.retain(str(d))
    try:
        assert str(d) in staging._STAGE_DIRS
        staging.release(str(d))
        assert not d.exists()
    finally:
        if str(d) in staging._STAGE_DIRS:
            staging._STAGE_DIRS.remove(str(d))
