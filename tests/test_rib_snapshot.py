"""The daemon's RIB snapshot: batch drains, replan ticks and compaction
read one lookup RIB, built once per BGP spool generation, and the
pre_tag_map is compiled once per load. BGP and flow spool files are
written straight into the daemon's spool directories, so each test
controls exactly which routes and flows a drain sees."""

from __future__ import annotations

import functools
import itertools
import logging
import os
import socket
import sys
import threading
import time

import pyarrow as pa
import pytest

from pmacct_spark.daemon import Daemon, _ReplanLoop
from pmacct_spark.sources.spoolio import write_spool_file
from pmacct_spark.sources.tcp import TcpSpool
from pmacct_spark.streaming.bmp import (
    _bmp_frame,
    encode_bgp_open,
    encode_bgp_update,
    encode_bmp_peer_up,
)
from pmacct_spark.streaming.store import Retention, RibStore
from tests.test_streaming import _v5_datagram

EXPORTER = "198.51.100.9"  # flow exporter and BGP peer
DST = 0x0B000001  # 11.0.0.1

CONF = """
nfacctd_port: 0
bgp_daemon: true
bgp_daemon_ip: 127.0.0.1
bgp_daemon_port: 0
plugins: memory[paths], memory[comms]
aggregate[paths]: as_path
aggregate[comms]: std_comm
"""

_seq = itertools.count(1)


def _withdraw(prefix: int, masklen: int) -> bytes:
    """One BGP UPDATE withdrawing ``prefix/masklen``."""
    nbytes = (masklen + 7) // 8
    wd = bytes([masklen]) + (prefix >> (32 - 8 * nbytes)).to_bytes(nbytes, "big")
    body = len(wd).to_bytes(2, "big") + wd + (0).to_bytes(2, "big")
    return b"\xff" * 16 + (19 + len(body)).to_bytes(2, "big") + b"\x02" + body


def _bgp(d: Daemon, name: str, *msgs: bytes) -> None:
    """One BGP spool file holding ``msgs`` from the EXPORTER session."""
    write_spool_file(
        d.bgp_spool.spool_dir,
        f"{name}.parquet",
        pa.table(
            {
                "exporter_ip": [EXPORTER],
                "seqno": pa.array([next(_seq)], pa.int64()),
                "epoch": pa.array([1], pa.int64()),
                "payload": pa.array([b"".join(msgs)], pa.binary()),
            }
        ),
    )


def _flows(
    d: Daemon, name: str, nbytes: tuple = (100, 200), exporter: str = EXPORTER
) -> None:
    """One flow spool file: a v5 datagram from ``exporter``, every
    record towards DST."""
    recs = [
        {"src": 0x0A000001 + i, "dst": DST, "pkts": 1, "bytes": b,
         "sport": 1, "dport": 2}
        for i, b in enumerate(nbytes)
    ]
    write_spool_file(
        d.spool.spool_dir,
        f"{name}.parquet",
        pa.table(
            {
                "exporter_ip": pa.array([exporter], pa.string()),
                "seqno": pa.array([1], pa.int64()),
                "payload": pa.array([_v5_datagram(1, recs)], pa.binary()),
            }
        ),
    )


def _paths(d: Daemon) -> dict:
    res = d.run_available(streaming=False)
    return {r["as_path"]: r["bytes"] for r in res["paths"].collect()}


def _daemon(spark, tmp_path, conf: str = CONF) -> Daemon:
    return Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool"))


class _Calls:
    """Counts calls to module functions the daemon looks up at call
    time (the decode-once pattern of tests/test_flow_store.py)."""

    def __init__(self, monkeypatch, module, names):
        self.n = dict.fromkeys(names, 0)
        for name in names:
            monkeypatch.setattr(
                module, name, self._counting(name, getattr(module, name))
            )

    def _counting(self, name, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            self.n[name] += 1
            return fn(*a, **kw)

        return wrapper

    def take(self) -> dict:
        out, self.n = self.n, dict.fromkeys(self.n, 0)
        return out


def test_warm_drains_do_not_rebuild_the_rib(spark, tmp_path, monkeypatch, caplog):
    """The first drain builds the RIB snapshot; warm drains over
    unchanged BGP spools decode no BGP byte and learn no capability,
    and the rebuild is logged once, with its reason and sizes."""
    import pmacct_spark.streaming.bmp as bmp

    calls = _Calls(monkeypatch, bmp, ("decode_bgp", "learn_bgp_caps"))
    d = _daemon(spark, tmp_path)
    try:
        _bgp(d, "r1", encode_bgp_update(0x0B000000, 8, "65000 65100"),
             encode_bgp_update(0x0C000000, 16, "65000 65200"))
        _flows(d, "f1")
        with caplog.at_level(logging.INFO, logger="pmacct_spark"):
            assert _paths(d) == {"65000 65100": 300}
            assert calls.take() == {"decode_bgp": 1, "learn_bgp_caps": 1}
            for _ in range(2):
                assert _paths(d) == {"65000 65100": 300}
                assert calls.take() == {"decode_bgp": 0, "learn_bgp_caps": 0}
    finally:
        d.stop()
    rebuilt = [r.getMessage() for r in caplog.records if "RIB snapshot" in r.getMessage()]
    assert rebuilt == ["RIB snapshot rebuilt (first build): 2 rows, 2 masklens"]


def test_batch_lpm_joins_get_explicit_masklens(spark, tmp_path, monkeypatch):
    """Every LPM join the batch path's BGP and peer-AS enrichment makes
    (follow_default's chain and the community-pattern lookups
    included) probes the snapshot's mask lengths: none runs a masklen
    discovery collect."""
    import pmacct_spark.operators.lpm as lpm

    seen: list = []
    for name in ("lpm_join", "follow_default_join"):
        orig = getattr(lpm, name)

        def wrapper(*a, _orig=orig, _name=name, **kw):
            caller = sys._getframe(1).f_code.co_name
            if caller in ("_bgp_enrich", "_peer_as_enrich"):
                seen.append((_name, caller, kw.get("masklens")))
            return _orig(*a, **kw)

        monkeypatch.setattr(lpm, name, wrapper)
    conf = CONF + """
bgp_follow_default: 1
bgp_extcomm_pattern: RT:
bgp_peer_src_as_type: bgp
"""
    d = _daemon(spark, tmp_path, conf)
    try:
        _bgp(d, "r1", encode_bgp_update(0x0B000000, 8, "65000 65100"),
             encode_bgp_update(0x0A000000, 24, "65000 65300"))
        _flows(d, "f1")
        assert _paths(d) == {"65000 65100": 300}
        masklens = d._ribs._rib.masklens
    finally:
        d.stop()
    assert masklens == [24, 8]
    assert sorted((n, c) for n, c, _ in seen) == [
        ("follow_default_join", "_bgp_enrich"),
        ("lpm_join", "_bgp_enrich"),
        ("lpm_join", "_bgp_enrich"),
        ("lpm_join", "_peer_as_enrich"),
    ]
    assert all(m == masklens for _, _, m in seen), seen


def test_route_changes_show_up_in_the_next_drain(spark, tmp_path):
    """Announcements and withdrawals spooled after a drain reach the
    next drain's lookups, a new mask length included."""
    d = _daemon(spark, tmp_path)
    try:
        _bgp(d, "r1", encode_bgp_update(0x0B000000, 8, "65001"))
        _flows(d, "f1")
        assert _paths(d) == {"65001": 300}
        _bgp(d, "r2", encode_bgp_update(0x0B000000, 24, "65002"))
        assert _paths(d) == {"65002": 300}
        assert d._ribs._rib.masklens == [24, 8]
        _bgp(d, "r3", _withdraw(0x0B000000, 24))
        assert _paths(d) == {"65001": 300}
        _bgp(d, "r4", _withdraw(0x0B000000, 8))
        assert _paths(d) == {"": 300}
    finally:
        d.stop()


KEEPALIVE = b"\xff" * 16 + (19).to_bytes(2, "big") + b"\x04"


def _spooled(spool: TcpSpool, n: int) -> None:
    """Wait until ``spool`` has written ``n`` files."""
    t0 = time.monotonic()
    while spool.messages_spooled < n and time.monotonic() - t0 < 15:
        time.sleep(0.05)
    assert spool.messages_spooled == n


def test_live_peer_keepalives_reuse_the_rib(spark, tmp_path, monkeypatch):
    """An established peer keeps its session open and sends KEEPALIVEs,
    each spooled as its own file. Drains between them reuse the RIB
    snapshot; the next UPDATE rebuilds it."""
    import pmacct_spark.streaming.bmp as bmp

    calls = _Calls(monkeypatch, bmp, ("decode_bgp", "learn_bgp_caps"))
    d = _daemon(spark, tmp_path)
    peer = socket.create_connection(("127.0.0.1", d.bgp_port))
    try:
        peer.sendall(
            encode_bgp_open(asn=65000)
            + encode_bgp_update(0x0B000000, 8, "65000 65100")
        )
        _spooled(d.bgp_spool, 1)
        _flows(d, "f1", exporter="127.0.0.1")
        assert _paths(d) == {"65000 65100": 300}
        assert calls.take() == {"decode_bgp": 1, "learn_bgp_caps": 1}
        for n in range(2, 5):
            peer.sendall(KEEPALIVE)
            _spooled(d.bgp_spool, n)
            assert _paths(d) == {"65000 65100": 300}
            assert calls.take() == {"decode_bgp": 0, "learn_bgp_caps": 0}
        assert len(d.bgp_spool.files()) == 4
        assert len(d.bgp_spool.rib_files()) == 1
        peer.sendall(KEEPALIVE + encode_bgp_update(0x0B000000, 8, "65000 65200"))
        _spooled(d.bgp_spool, 5)
        assert _paths(d) == {"65000 65200": 300}
        assert calls.take() == {"decode_bgp": 1, "learn_bgp_caps": 1}
    finally:
        peer.close()
        d.stop()


def test_rib_files_leave_out_session_plumbing(tmp_path):
    """A spool file counts for the RIB when it holds a message the RIB
    reads (BGP OPEN/UPDATE/NOTIFICATION, BMP Route Monitoring/Peer
    Up/Peer Down) or opens a new session epoch, whose first file
    replaces the peer's older session even when it holds no route."""
    notification = b"\xff" * 16 + (21).to_bytes(2, "big") + b"\x03\x06\x02"
    spools = {
        "bgp": [
            (1, encode_bgp_open() + KEEPALIVE, True),
            (1, KEEPALIVE + KEEPALIVE, False),
            (1, KEEPALIVE + encode_bgp_update(0x0B000000, 8, "65001"), True),
            (1, KEEPALIVE + notification, True),
            (2, KEEPALIVE, True),  # a reconnect
            (2, KEEPALIVE, False),
        ],
        "bmp": [
            (1, _bmp_frame(4, "10.0.0.1", 65000), True),  # Initiation
            (1, _bmp_frame(1, "10.0.0.1", 65000), False),  # Stats Report
            (1, encode_bmp_peer_up("10.0.0.1"), True),
            (1, _bmp_frame(0, "10.0.0.1", 65000), True),  # Route Monitoring
            (1, _bmp_frame(2, "10.0.0.1", 65000), True),  # Peer Down
            (1, _bmp_frame(5, "10.0.0.1", 65000), False),  # Termination
        ],
    }
    for framing, emits in spools.items():
        sp = TcpSpool(framing, spool_dir=str(tmp_path / framing))
        os.makedirs(sp.spool_dir)
        for epoch, payload, _ in emits:
            sp._emit("192.0.2.1", payload, epoch)
        names = [os.path.basename(f) for f in sp.rib_files()]
        want = [f"s{i:08d}.parquet" for i, (*_, rib) in enumerate(emits) if rib]
        assert names == want, framing
        assert len(sp.files()) == len(emits)


def _pins(d: Daemon) -> int:
    """Pins held on the daemon's stored flow segments and RIBs."""
    return sum(h.pins for h in d._scratch._held.values())


def test_failed_rib_build_leaves_no_pins(spark, tmp_path, monkeypatch):
    """A replan tick or a compaction whose RIB build raises (a corrupt
    session spool file, a Spark or disk error) drops the flow-store
    pin it took before, so the stored segments stay releasable."""
    fail: list = []
    orig = RibStore._build

    def flaky(self, files, build, old):
        if fail:
            raise fail.pop()
        return orig(self, files, build, old)

    monkeypatch.setattr(RibStore, "_build", flaky)
    d = _daemon(spark, tmp_path)
    tick = _ReplanLoop(d, "paths", d.channels["paths"], 0.2)._tick
    try:
        _bgp(d, "r1", encode_bgp_update(0x0B000000, 8, "65001"))
        _flows(d, "f1")
        for _ in range(2):
            fail.append(OSError("corrupt spool file"))
            with pytest.raises(OSError):
                tick()
            assert _pins(d) == 0
        tick()
        rows = spark.table("imt_paths").collect()
        assert {r["as_path"]: r["bytes"] for r in rows} == {"65001": 300}
        assert _pins(d) == 0
        _bgp(d, "r2", encode_bgp_update(0x0B000000, 8, "65002"))
        fail.append(OSError("corrupt spool file"))
        with pytest.raises(OSError):
            d.compact_spool(keep_files=0)
        assert _pins(d) == 0
    finally:
        d.stop()


def test_replan_channels_share_bounded_rib_snapshots(spark, tmp_path, monkeypatch):
    """Two replan channels with BGP enrichment tick while routes
    change: both serve the final route, no tick fails (a released
    snapshot would surface as a missing-file error), every spool
    generation is built once between them, and superseded snapshot
    directories stay bounded on disk."""
    conf = CONF + """
sql_history[paths]: 5m
sql_history[comms]: 5m
"""
    lock = threading.Lock()
    built: list = []  # (spool files, stage dir) per rebuild
    orig = RibStore._build

    def recording(self, files, build, old):
        rib = orig(self, files, build, old)
        with lock:
            built.append((files, rib.df.stage_path))
        return rib

    monkeypatch.setattr(RibStore, "_build", recording)
    d = _daemon(spark, tmp_path, conf)
    peak = 0
    run = None
    try:
        _bgp(d, "r00", encode_bgp_update(0x0B000000, 8, "65000"))
        _flows(d, "f1")
        run = d.run_continuous(trigger_secs=0.2)
        last = None
        for i in range(1, 7):
            time.sleep(0.6)
            last = f"65000 {65000 + i}"
            _bgp(d, f"r{i:02d}", encode_bgp_update(0x0B000000, 8, last))
            with lock:
                peak = max(peak, sum(os.path.isdir(p) for _, p in built))

        def served(name):
            try:
                rows = spark.table(f"imt_{name}").collect()
            except Exception:
                return None
            return {r["as_path"]: r["bytes"] for r in rows}

        t0 = time.monotonic()
        while time.monotonic() - t0 < 60 and served("paths") != {last: 300}:
            time.sleep(0.2)
            with lock:
                peak = max(peak, sum(os.path.isdir(p) for _, p in built))
        time.sleep(1.0)  # more ticks over the same generation
        assert served("paths") == {last: 300}
        errors = {n: q.last_error for n, q in run.queries.items()}
    finally:
        if run is not None:
            run.stop()
        d.stop()
    assert errors == {"paths": None, "comms": None}
    keys = [files for files, _ in built]
    assert len(keys) == len(set(keys))  # single-flight: one build each
    assert 2 <= len(built) <= 7
    # the current snapshot, two drains' window and the ticks' pins
    assert peak <= 4, peak


def test_pre_tag_map_edit_waits_for_reload_maps(spark, tmp_path, monkeypatch):
    """The pre_tag_map is parsed and compiled once per load: an edit
    changes nothing until reload_maps() (the SIGUSR2 handler), and
    warm drains compile no rules."""
    import pmacct_spark.operators.pretag as pretag

    ptm = tmp_path / "pretag.map"
    ptm.write_text(f"set_tag=1 ip={EXPORTER}\n")
    conf = f"""
nfacctd_port: 0
pre_tag_map: {ptm}
plugins: memory[tags]
aggregate[tags]: tag
"""
    calls = _Calls(monkeypatch, pretag, ("compile_rules",))
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool"))

    def tags():
        res = d.run_available(streaming=False)
        return {r["tag"]: r["bytes"] for r in res["tags"].collect()}

    try:
        _flows(d, "f1")
        assert tags() == {1: 300}
        ptm.write_text(f"set_tag=2 ip={EXPORTER}\n")
        assert tags() == {1: 300}
        assert calls.take() == {"compile_rules": 1}
        d.reload_maps()
        assert tags() == {2: 300}
        assert tags() == {2: 300}
        assert calls.take() == {"compile_rules": 1}
    finally:
        d.stop()


def test_rib_store_stress_pins_and_single_flight(spark, monkeypatch):
    """More reader threads than cores pin, read and release RIB
    snapshots while the spool grows: each file list is built exactly
    once, no reader goes back to an older snapshot, and
    no snapshot is released while a pinned reader or the last two
    unpinned drains still read it. Staging is faked, so each snapshot
    is an unexecuted plan."""
    from pyspark.sql import functions as F

    from pmacct_spark.operators import staging

    lock = threading.Lock()
    ids = itertools.count()
    active: dict[str, int] = {}  # stage path -> pinned readers
    drains: dict[int, str] = {}  # unpinned drain number -> path it read
    released: list[str] = []
    violations: list[str] = []
    built: dict[tuple, int] = {}
    started, done = [0], [0]

    def fake_stage(df):
        df.stage_path = f"rib-{next(ids)}"
        return df

    def fake_release(df):
        p = df.stage_path
        with lock:
            n = started[0]
            if active.get(p) or p in (drains.get(n), drains.get(n - 1)):
                violations.append(p)
            released.append(p)

    def build(files):
        with lock:
            built[files] = built.get(files, 0) + 1
        return spark.range(1).select(F.lit(len(files[0])).alias("masklen"))

    monkeypatch.setattr(staging, "stage", fake_stage)
    monkeypatch.setattr(staging, "release", fake_release)
    owner = Retention()
    store = RibStore(owner)
    files = [("s0",)]
    stop = threading.Event()
    mismatched: list = []

    def listing():
        return (files[-1], ())

    def reader():
        last = 0
        while not stop.is_set():
            lease = owner.lease(pin=True)
            snap = store.sync(listing, build, lease)
            # each list is one file longer: its masklen is its length
            if snap.masklens[0] < last:
                mismatched.append((last, snap.masklens))
            last = snap.masklens[0]
            p = snap.df.stage_path
            with lock:
                active[p] = active.get(p, 0) + 1
                k0 = started[0]
            # a slow tick: hold the snapshot until two more drains synced
            t0 = time.monotonic()
            while done[0] < k0 + 2 and not stop.is_set() and time.monotonic() - t0 < 5:
                time.sleep(0.002)
            with lock:
                active[p] -= 1
            lease.release()

    def writer():
        for i in range(1, 25):
            time.sleep(0.02)
            files.append(files[-1] + (f"s{i}",))
            with lock:
                started[0] += 1
                k = started[0]
            # a drain: its lazy results hold no pin
            snap = store.sync(listing, build, owner.lease())
            with lock:
                drains[k] = snap.df.stage_path
                done[0] = k

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    threads = [threading.Thread(target=reader) for _ in range(8)]
    try:
        for t in threads:
            t.start()
        w = threading.Thread(target=writer)
        w.start()
        w.join(timeout=120)
        assert not w.is_alive()
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=30)
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert violations == [] and mismatched == []
    assert released  # superseded snapshots do get released
    assert set(built.values()) == {1}, built
    store.close()
    owner.close()
