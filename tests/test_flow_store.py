"""The daemon's decoded-flow store: every spool file is decoded once,
by the first batch drain or replan tick that sees it, and later drains
read the stored rows. Spool files are written straight into the
daemon's spool directory, so each test controls exactly which
datagrams share a file and in which order the files sort."""

from __future__ import annotations

import functools
import logging
import os
import threading
import time

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from pmacct_spark.daemon import Daemon
from pmacct_spark.sources.spoolio import write_spool_file
from tests.test_streaming import (
    _v5_datagram,
    _v9_data,
    _v9_packet,
    _v9_template,
)

EXPORTER = "198.51.100.9"
TID = 300

CONF = """
nfacctd_port: 0
plugins: memory[protos], memory[hosts]
aggregate[protos]: proto
aggregate[hosts]: src_host
"""


def _spool(d: Daemon, name: str, payloads: list[bytes]) -> None:
    """One spool file holding ``payloads`` (in order) from EXPORTER."""
    n = len(payloads)
    write_spool_file(
        d.spool.spool_dir,
        f"{name}.parquet",
        pa.table(
            {
                "exporter_ip": pa.array([EXPORTER] * n, pa.string()),
                "seqno": pa.array(range(n), pa.int64()),
                "payload": pa.array(payloads, pa.binary()),
            }
        ),
    )


def _v9(seqno: int, recs: list[tuple], template: bool = True) -> bytes:
    sets = [_v9_template(TID)] if template else []
    return _v9_packet(seqno, 1, sets + [_v9_data(TID, recs)])


def _rec(i: int) -> tuple:
    # src, dst, bytes, packets, proto
    return (0x0A000000 + i, 0x0B000001, 100 * (i + 1), i + 1, 6)


def _total_bytes(d: Daemon, channel: str = "protos") -> int:
    res = d.run_available(streaming=False)
    return sum(r["bytes"] for r in res[channel].collect())


def _bytes(recs) -> int:
    return sum(r[2] for r in recs)


class _Calls:
    """Counts calls to decode-module functions (the daemon imports them
    inside its methods, so patching the module attribute sees every
    call)."""

    NAMES = ("decode_any", "decode_options", "learn_template_cache")

    def __init__(self, monkeypatch):
        import pmacct_spark.streaming.decode as dec

        self.n = dict.fromkeys(self.NAMES, 0)
        for name in self.NAMES:
            monkeypatch.setattr(dec, name, self._counting(name, getattr(dec, name)))

    def _counting(self, name, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            self.n[name] += 1
            return fn(*a, **kw)

        return wrapper

    def take(self) -> dict:
        out, self.n = self.n, dict.fromkeys(self.NAMES, 0)
        return out


def test_store_late_template_counts_earlier_records(spark, tmp_path, caplog):
    """A data file that sorts before its template's file: the first
    drain cannot decode it, and the drain after the template file
    arrives counts those records, as the two-phase whole-spool decode
    does. The template-set change is logged once, with its reason; the
    replaced segment outlives the drain that replaced it (the first
    drain's results stay readable) and is released one drain later."""
    d = Daemon.from_conf(spark, CONF, spool_dir=str(tmp_path / "spool"))
    early = [_rec(0), _rec(1)]
    late = [_rec(2)]
    try:
        _spool(d, "b1", [_v9(1, early, template=False)])
        assert _total_bytes(d) == 0
        (old,) = [s.df.stage_path for s in d._store._segments]
        _spool(d, "b2", [_v9(2, late)])
        with caplog.at_level(logging.INFO, logger="pmacct_spark"):
            assert _total_bytes(d) == _bytes(early + late)
            assert os.path.isdir(old)
            assert _total_bytes(d) == _bytes(early + late)
            assert not os.path.exists(old)
    finally:
        d.stop()
    notes = [
        r.getMessage() for r in caplog.records
        if "decoded-flow store" in r.getMessage()
    ]
    assert len(notes) == 1 and "template set changed: added" in notes[0]


def test_store_decodes_each_file_once(spark, tmp_path, monkeypatch):
    """A drain with no new spool file runs no decode or template pass;
    a drain after one new file decodes only that file. Two batch
    channels read the bare store, so no per-drain stage is written."""
    calls = _Calls(monkeypatch)
    d = Daemon.from_conf(spark, CONF, spool_dir=str(tmp_path / "spool"))
    files: list[set] = []
    orig = d._decode_spool_files

    def recording(fids, templates):
        files.append({os.path.basename(f) for f in fids})
        return orig(fids, templates)

    d._decode_spool_files = recording
    recs = [[_rec(i)] for i in range(3)]
    one_pass = {"decode_any": 1, "decode_options": 0, "learn_template_cache": 1}
    try:
        _spool(d, "b1", [_v9(1, recs[0])])
        _spool(d, "b2", [_v9(2, recs[1], template=False)])
        assert _total_bytes(d) == _bytes(recs[0] + recs[1])
        assert calls.take() == one_pass
        assert files == [{"b1.parquet", "b2.parquet"}]

        assert _total_bytes(d) == _bytes(recs[0] + recs[1])
        assert calls.take() == dict.fromkeys(_Calls.NAMES, 0)
        assert len(files) == 1

        _spool(d, "b3", [_v9(3, recs[2], template=False)])
        assert _total_bytes(d) == _bytes(recs[0] + recs[1] + recs[2])
        assert calls.take() == one_pass
        assert files[1:] == [{"b3.parquet"}]
        assert not getattr(d, "_drain_stages", [])
    finally:
        d.stop()


def test_store_compaction_neither_double_counts_nor_loses(spark, tmp_path):
    """compact_spool after two drains: the retired files' flows move
    from the store to the compacted table exactly once. A segment the
    last drain read outlives stop(), so its results stay collectable,
    and is left to the staging module's exit cleanup."""
    from pmacct_spark.operators import staging

    d = Daemon.from_conf(spark, CONF, spool_dir=str(tmp_path / "spool"))
    recs = [[_rec(2 * i), _rec(2 * i + 1)] for i in range(4)]
    try:
        for i in range(3):
            _spool(d, f"b{i}", [_v9(i, recs[i])])
        golden = _bytes(recs[0] + recs[1] + recs[2])
        assert _total_bytes(d) == golden
        assert _total_bytes(d) == golden
        assert d.compact_spool(keep_files=1) == 2
        for _ in range(3):  # through the segments' release window
            assert _total_bytes(d) == golden
            hosts = d.run_available(streaming=False)["hosts"].collect()
            assert len(hosts) == 6
        _spool(d, "b3", [_v9(3, recs[3])])
        assert _total_bytes(d) == golden + _bytes(recs[3])
        segments = [s.df.stage_path for s in d._store._segments]
        assert len(segments) == 2
    finally:
        d.stop()
    assert all(
        os.path.isdir(p) and p in staging._STAGE_DIRS for p in segments
    )


def test_store_template_conflict_takes_whole_spool_path(spark, tmp_path, caplog):
    """Two live files define one template id with different layouts:
    the store steps aside, the drain decodes the whole spool in order
    as before, and the fallback is logged once, with its reason."""
    import struct

    def tmpl(fields):
        body = struct.pack("!HH", TID, len(fields)) + b"".join(
            struct.pack("!HH", ie, ln) for ie, ln in fields
        )
        return struct.pack("!HH", 0, 4 + len(body)) + body

    d = Daemon.from_conf(spark, CONF, spool_dir=str(tmp_path / "spool"))
    try:
        _spool(d, "b1", [_v9(1, [_rec(0)])])
        # same id, new layout: src, dst, bytes, packets (no proto)
        other = struct.pack("!IIII", 0x0A0000FF, 0x0B000001, 7000, 7)
        _spool(d, "b2", [_v9_packet(2, 1, [
            tmpl([(8, 4), (12, 4), (1, 4), (2, 4)]),
            struct.pack("!HH", TID, 4 + len(other)) + other,
        ])])
        with caplog.at_level(logging.INFO, logger="pmacct_spark"):
            first = _total_bytes(d)
            assert _total_bytes(d) == first
    finally:
        d.stop()
    assert first == _bytes([_rec(0)]) + 7000
    notes = [r for r in caplog.records if "decoded-flow store" in r.getMessage()]
    assert len(notes) == 1 and notes[0].levelno == logging.WARNING
    assert "different layouts" in notes[0].getMessage()


def test_store_replan_channels_decode_each_file_once(spark, tmp_path):
    """Two replan channels over one spool: files arriving while they
    tick are each decoded once between them, both served tables reach
    the golden totals, and no tick fails on a released segment."""
    conf = """
nfacctd_port: 0
nfacctd_renormalize: true
plugins: memory[a], memory[b]
aggregate[a]: proto
aggregate[b]: src_host
sql_history[a]: 5m
sql_history[b]: 5m
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool"))
    lock = threading.Lock()
    decoded: dict[str, int] = {}
    orig = d._decode_spool_files

    def counting(fids, templates):
        with lock:
            for path in fids:
                decoded[path] = decoded.get(path, 0) + 1
        return orig(fids, templates)

    d._decode_spool_files = counting
    v5 = [
        {"src": i + 1, "dst": 2, "pkts": 1, "bytes": 100 * (i + 1),
         "sport": 1, "dport": 2}
        for i in range(4)
    ]
    run = None
    try:
        _spool(d, "b0", [_v5_datagram(1, v5[:1])])
        run = d.run_continuous(trigger_secs=0.3)
        for i in range(1, 4):
            time.sleep(0.8)
            _spool(d, f"b{i}", [_v5_datagram(i + 1, v5[i:i + 1])])
        golden = sum(r["bytes"] for r in v5)

        def served(name):
            try:
                return sum(r["bytes"] for r in spark.table(f"imt_{name}").collect())
            except Exception:
                return None

        t0 = time.monotonic()
        while time.monotonic() - t0 < 60 and not (
            served("a") == golden and served("b") == golden
        ):
            time.sleep(0.3)
        time.sleep(1.0)  # a few more ticks over the same files
        assert served("a") == golden and served("b") == golden
        errors = {n: q.last_error for n, q in run.queries.items()}
    finally:
        if run is not None:
            run.stop()
        d.stop()
    assert errors == {"a": None, "b": None}
    assert sorted(os.path.basename(p) for p in decoded) == [
        f"b{i}.parquet" for i in range(4)
    ]
    assert set(decoded.values()) == {1}, decoded


@pytest.mark.parametrize("enriched", [False, True])
def test_store_drain_stage_only_above_a_join(spark, tmp_path, enriched):
    """With several batch channels the drain stages its frame only
    when enrichment puts a join above the store (here: a
    networks_file LPM)."""
    nets = tmp_path / "networks.lst"
    nets.write_text("65100,10.0.0.0/8\n")
    conf = CONF + (f"nfacctd_as: file\nnetworks_file: {nets}\n" if enriched else "")
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool"))
    try:
        _spool(d, "b1", [_v9(1, [_rec(0), _rec(1)])])
        assert _total_bytes(d) == _bytes([_rec(0), _rec(1)])
        assert bool(getattr(d, "_drain_stages", [])) is enriched
    finally:
        d.stop()


def test_store_sync_stress_pins_and_single_flight(spark, monkeypatch):
    """More reader threads than cores pin, read and release snapshots
    while the spool grows and old files retire: every file is decoded
    exactly once, and no segment is released while a pinned snapshot
    or the last two unpinned drains still read it. Staging is faked,
    so the segments are unexecuted plans. As in the daemon, listing
    the files and syncing happen under one lock."""
    import itertools
    import sys

    from pmacct_spark.operators import staging
    from pmacct_spark.streaming.store import DecodedStore

    lock = threading.Lock()
    ids = itertools.count()
    active: dict[str, int] = {}  # stage path -> pinned readers
    released: list[str] = []
    violations: list[str] = []
    decoded: dict[str, int] = {}

    def fake_stage(df):
        df.stage_path = f"seg-{next(ids)}"
        return df

    drains: dict[int, set] = {}  # unpinned drain number -> paths it read
    started, done = [0], [0]

    def fake_release(df):
        p = df.stage_path
        with lock:
            n = started[0]
            if active.get(p) or any(p in drains.get(k, ()) for k in (n, n - 1)):
                violations.append(p)
            released.append(p)

    def decode(fids, templates):
        with lock:
            for path in fids:
                decoded[path] = decoded.get(path, 0) + 1
        return spark.range(1).withColumn("__fid", F.lit(0)), None

    monkeypatch.setattr(staging, "stage", fake_stage)
    monkeypatch.setattr(staging, "release", fake_release)
    store = DecodedStore()
    listing = threading.Lock()  # the daemon's _compact_lock
    files = ["f000"]
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            with listing:
                snap = store.sync(list(files), "k", None, None, decode, pin=True)
            paths = [s.df.stage_path for s in snap._segments]
            with lock:
                for p in paths:
                    active[p] = active.get(p, 0) + 1
                k0 = started[0]
            # a slow tick: hold the snapshot until two more drains synced
            t0 = time.monotonic()
            while done[0] < k0 + 2 and not stop.is_set() and time.monotonic() - t0 < 5:
                time.sleep(0.002)
            with lock:
                for p in paths:
                    active[p] -= 1
            snap.release()

    def writer():
        for i in range(1, 40):
            time.sleep(0.02)
            with listing:
                files.append(f"f{i:03d}")
                if i % 5 == 0:  # compaction retires the oldest files
                    del files[:3]
                with lock:
                    started[0] += 1
                    k = started[0]
                # a drain: its lazy results hold no pin
                snap = store.sync(list(files), "k", None, None, decode)
            with lock:
                drains[k] = {s.df.stage_path for s in snap._segments}
                done[0] = k

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    threads = [threading.Thread(target=reader) for _ in range(8)]
    try:
        for t in threads:
            t.start()
        w = threading.Thread(target=writer)
        w.start()
        w.join(timeout=60)
        assert not w.is_alive()
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=30)
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert violations == []
    assert released  # retired segments do get released
    assert set(decoded.values()) == {1}, decoded
    store.close()
