"""The daemon's decoded-flow store: every spool file is decoded once,
by the first batch drain or replan tick that sees it, and later drains
read the stored rows. Spool files are written straight into the
daemon's spool directory, so each test controls exactly which
datagrams share a file and in which order the files sort."""

from __future__ import annotations

import functools
import logging
import os
import struct
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
    call): ``names``, default NAMES; ALL is every decode and learn
    pass the daemon runs."""

    NAMES = ("decode_any", "learn_template_cache", "decode_options")
    ALL = NAMES + ("decode_sflow_any", "decode_options_data", "decode_sflow_counters")

    def __init__(self, monkeypatch, names=NAMES):
        import pmacct_spark.streaming.decode as dec

        self.names = names
        self.n = dict.fromkeys(names, 0)
        for name in names:
            monkeypatch.setattr(dec, name, self._counting(name, getattr(dec, name)))

    def _counting(self, name, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            self.n[name] += 1
            return fn(*a, **kw)

        return wrapper

    def take(self) -> dict:
        out, self.n = self.n, dict.fromkeys(self.names, 0)
        return out

    def none(self) -> bool:
        """No call since the last take(); takes."""
        return not any(self.take().values())


def _recording(d: Daemon) -> list:
    """Records the files of every ``_decode_spool_files`` call (by
    name)."""
    files: list = []
    orig = d._decode_spool_files

    def recording(fids, templates):
        files.append({os.path.basename(f) for f in fids})
        return orig(fids, templates)

    d._decode_spool_files = recording
    return files


def _count_stages(monkeypatch) -> list:
    """Records every ``staging.stage`` call (the daemon and the store
    look it up at call time)."""
    from pmacct_spark.operators import staging

    calls: list = []
    orig = staging.stage

    def counting(df):
        calls.append(df)
        return orig(df)

    monkeypatch.setattr(staging, "stage", counting)
    return calls


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
    stages = _count_stages(monkeypatch)
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
        assert len(stages) == 2  # the two segments, no drain stage
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


def _tmpl(tid: int, fields) -> bytes:
    """A v9 template flowset defining ``tid`` with ``fields``."""
    body = struct.pack("!HH", tid, len(fields)) + b"".join(
        struct.pack("!HH", ie, ln) for ie, ln in fields
    )
    return struct.pack("!HH", 0, 4 + len(body)) + body


# another layout for TID: src, dst, bytes, packets (no proto)
OTHER = [(8, 4), (12, 4), (1, 4), (2, 4)]


def _other(seqno: int, nbytes: int, template: bool = True) -> bytes:
    """A v9 datagram with one OTHER-layout record of ``nbytes``."""
    rec = struct.pack("!IIII", 0x0A0000FF, 0x0B000001, nbytes, 7)
    data = struct.pack("!HH", TID, 4 + len(rec)) + rec
    return _v9_packet(seqno, 1, ([_tmpl(TID, OTHER)] if template else []) + [data])


def test_store_template_conflict_decodes_each_file_under_its_set(
    spark, tmp_path, monkeypatch, caplog
):
    """Two live files define one template id with different layouts:
    each file decodes under the definition in force for it, the
    conflict is logged once, and a drain with no new file decodes
    nothing. A new data-only file decodes alone, under the latest
    definition before it. A compaction then moves each file's rows
    exactly once."""
    calls = _Calls(monkeypatch, _Calls.ALL)
    d = Daemon.from_conf(spark, CONF, spool_dir=str(tmp_path / "spool"))
    files = _recording(d)
    try:
        _spool(d, "b1", [_v9(1, [_rec(0)])])
        _spool(d, "b2", [_other(2, 7000)])
        with caplog.at_level(logging.INFO, logger="pmacct_spark"):
            first = _total_bytes(d)
            assert files == [{"b1.parquet"}, {"b2.parquet"}]
            calls.take()
            assert _total_bytes(d) == first
            assert calls.none()
            _spool(d, "b3", [_other(3, 500, template=False)])
            assert _total_bytes(d) == first + 500
            assert files[2:] == [{"b3.parquet"}]
            assert calls.take()["decode_any"] == 1
            assert d.compact_spool(keep_files=1) == 2
            assert d._compacted_table("flows").count() == 2
            for _ in range(3):
                assert _total_bytes(d) == first + 500
            assert len(files) == 3 and calls.none()
    finally:
        d.stop()
    assert first == _bytes([_rec(0)]) + 7000
    notes = [r for r in caplog.records if "decoded-flow store" in r.getMessage()]
    assert len(notes) == 1 and notes[0].levelno == logging.WARNING
    assert "different layouts" in notes[0].getMessage()


def test_store_keeps_a_retired_files_templates(spark, tmp_path, monkeypatch):
    """A template whose only definition sat in a file compaction
    retired still decodes the live files that use it: nothing is
    decoded again and no record is lost."""
    calls = _Calls(monkeypatch, _Calls.ALL)
    d = Daemon.from_conf(spark, CONF, spool_dir=str(tmp_path / "spool"))
    recs = [[_rec(0)], [_rec(1)], [_rec(2)]]
    try:
        _spool(d, "b1", [_v9(1, recs[0])])
        _spool(d, "b2", [_v9(2, recs[1], template=False)])
        golden = _bytes(recs[0] + recs[1])
        assert _total_bytes(d) == golden
        assert d.compact_spool(keep_files=1) == 1
        calls.take()
        assert _total_bytes(d) == golden
        assert calls.none()
        _spool(d, "b3", [_v9(3, recs[2], template=False)])
        assert _total_bytes(d) == golden + _bytes(recs[2])
    finally:
        d.stop()


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
def test_store_drain_stage_only_above_a_join(
    spark, tmp_path, monkeypatch, enriched
):
    """With several batch channels the drain stages its frame only
    when enrichment puts a join above the store (here: a
    networks_file LPM)."""
    nets = tmp_path / "networks.lst"
    nets.write_text("65100,10.0.0.0/8\n")
    conf = CONF + (f"nfacctd_as: file\nnetworks_file: {nets}\n" if enriched else "")
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool"))
    stages = _count_stages(monkeypatch)
    try:
        _spool(d, "b1", [_v9(1, [_rec(0), _rec(1)])])
        assert _total_bytes(d) == _bytes([_rec(0), _rec(1)])
        assert len(stages) == 1 + enriched  # the segment, then the enriched rows
        del stages[:]
        assert _total_bytes(d) == _bytes([_rec(0), _rec(1)])
        assert len(stages) == 0  # a warm drain stages nothing
    finally:
        d.stop()


def test_store_sync_stress_pins_and_single_flight(spark, monkeypatch):
    """More reader threads than cores pin, read and release snapshots
    while the spool grows and old files retire: every file is decoded
    exactly once, and no segment is released while a pinned snapshot
    or the last two unpinned drains still read it. Each tick and
    drain also holds scratch of its own (the follow_* dims), released
    by the same rule. Staging is faked, so the segments are unexecuted
    plans. As in the daemon, listing the files and syncing happen
    under one lock."""
    import itertools
    import sys
    import types

    from pmacct_spark.operators import staging
    from pmacct_spark.streaming.store import DecodedStore, Retention

    lock = threading.Lock()
    ids = itertools.count()
    active: dict[str, int] = {}  # stage path -> pinned readers
    released: list[str] = []
    violations: list[str] = []
    decoded: dict[str, int] = {}
    held: dict[int, list] = {}  # drain number (0: ticks) -> scratch held

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
    owner = Retention()
    store = DecodedStore(owner)
    listing = threading.Lock()  # the daemon's _compact_lock
    files = ["f000"]
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            lease = owner.lease(pin=True)
            with listing:
                snap = store.sync(list(files), "k", None, None, decode, lease)
            dim = fake_stage(types.SimpleNamespace())
            lease.hold([dim])
            paths = [s.df.stage_path for s in snap._segments] + [dim.stage_path]
            with lock:
                held.setdefault(0, []).append(dim.stage_path)
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
            lease.release()

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
                lease = owner.lease()
                snap = store.sync(list(files), "k", None, None, decode, lease)
                dim = fake_stage(types.SimpleNamespace())
                lease.hold([dim])
            with lock:
                drains[k] = {s.df.stage_path for s in snap._segments}
                drains[k].add(dim.stage_path)
                held[k] = [dim.stage_path]
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
    # a tick's scratch goes with its lease, a drain's two drains later
    last = max(drains)
    assert all(
        p in released
        for k, paths in held.items() if k < last - 1
        for p in paths
    )
    assert set(decoded.values()) == {1}, decoded
    store.close()
    owner.close()


# -- row kinds beside the flows ---------------------------------------


def _ipfix(seq: int, *sets: bytes) -> bytes:
    return struct.pack("!HHIII", 10, 16 + sum(map(len, sets)), 0, seq, 0) + b"".join(
        sets
    )


def _vrf_sets(spark, vrfs) -> list[tuple[bytes, bytes]]:
    """(options template set, options data set) of one VRF exposition
    datagram per ``(vrf_id, vrf_name)``."""
    from pmacct_spark.sinks.nfprobe import encode_options_names

    maps = spark.createDataFrame(
        [(EXPORTER, i + 1, v, name, 7, "eth0") for i, (v, name) in enumerate(vrfs)],
        "exporter_ip string, seq long, vrf_id long, vrf_name string,"
        " rd_int long, iface_name string",
    )
    out = []
    for r in encode_options_names(maps).select("payload").collect():
        sets = bytes(r[0])[16:]
        n = struct.unpack_from("!H", sets, 2)[0]
        out.append((sets[:n], sets[n:]))
    return out


def test_account_options_rows_across_files(spark, tmp_path, monkeypatch):
    """nfacctd_account_options: option records whose options template
    arrived in an earlier spool file are accounted; the option channel
    counts every exposition row. A drain with no new file decodes
    nothing, and one new file is decoded alone."""
    (tmp_path / "primitives.lst").write_text(
        "name=vrf_id   field_type=234 len=4  semantics=u_int\n"
        "name=vrf_name field_type=236 len=16 semantics=str\n"
    )
    (tmp_path / "pretag.map").write_text(
        "set_tag=100 sample_type=option\nset_tag=200 sample_type=flow\n"
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
    (t42, d42), (_, d43), (_, d44), (_, d45) = _vrf_sets(
        spark, [(42, "vrf-blue"), (43, "vrf-red"), (44, "vrf-green"), (45, "vrf-x")]
    )
    calls = _Calls(monkeypatch, _Calls.ALL)
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool"))
    files = _recording(d)

    def vrfs():
        res = d.run_available(streaming=False)
        assert [r["bytes"] for r in res["data"].collect()] == [_bytes([_rec(0)])]
        return sorted((r["vrf_id"], r["vrf_name"]) for r in res["option_vrf"].collect())

    try:
        _spool(d, "b1", [_ipfix(1, t42, d42), _v9(2, [_rec(0)])])
        _spool(d, "b2", [_ipfix(3, d43), _ipfix(4, d44)])
        want = [(42, "vrf-blue"), (43, "vrf-red"), (44, "vrf-green")]
        assert vrfs() == want
        calls.take()
        assert vrfs() == want
        assert calls.none()
        _spool(d, "b3", [_ipfix(5, d45)])
        assert vrfs() == want + [(45, "vrf-x")]
        assert files == [{"b1.parquet", "b2.parquet"}, {"b3.parquet"}]
    finally:
        d.stop()


def _counter_spool(spark, d: Daemon, name: str, agent: str, ifaces) -> None:
    """One sFlow spool file of counter samples for ``ifaces``, received
    from ``agent``."""
    from pmacct_spark.sinks.sfprobe import encode_sflow_counters
    from pmacct_spark.sources.spoolio import write_spool_file

    rows = spark.createDataFrame(
        [(n, 6, 10**9, 1, 100 * n, 10, 0, 200 * n, 20, 1) for n in ifaces],
        "if_index LONG, if_type LONG, if_speed LONG, if_status LONG, "
        "if_in_octets LONG, if_in_ucast LONG, if_in_errors LONG, "
        "if_out_octets LONG, if_out_ucast LONG, if_out_errors LONG",
    )
    pdf = encode_sflow_counters(rows, agent_ip=agent).toPandas()
    write_spool_file(
        d.spool.spool_dir,
        f"{name}.parquet",
        pa.table(
            {
                "exporter_ip": pa.array([agent] * len(pdf), pa.string()),
                "seqno": pa.array(range(len(pdf)), pa.int64()),
                "payload": pa.array(list(pdf["payload"]), pa.binary()),
            }
        ),
    )


def _logged_ifaces(log_dir) -> list:
    import json
    import pathlib

    return sorted(
        json.loads(ln)["ifIndex"]
        for f in pathlib.Path(log_dir).rglob("*.txt")
        for ln in f.read_text().splitlines()
        if ln.strip()
    )


def test_sflow_counter_log_reads_the_store(spark, tmp_path, monkeypatch):
    """sfacctd_counter_file: the counter log reads the store's counter
    rows. With sfacctd_allow_file set, a disallowed agent's counters
    are not logged. A log write with no new file decodes nothing, one
    new file is decoded alone, and a compaction keeps every counter."""
    allow = tmp_path / "allow.lst"
    allow.write_text("192.0.2.1\n")
    log_dir = str(tmp_path / "ctrlog")
    conf = f"""
sfacctd_port: 0
sfacctd_allow_file: {allow}
sfacctd_counter_file: {log_dir}
plugins: memory[p]
aggregate[p]: proto
"""
    calls = _Calls(monkeypatch, _Calls.ALL)
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool"))
    files = _recording(d)
    try:
        _counter_spool(spark, d, "s1", "192.0.2.1", [5, 7])
        _counter_spool(spark, d, "s2", "192.0.2.2", [8])
        assert d.write_msglog_if_configured() == [log_dir]
        assert _logged_ifaces(log_dir) == [5, 7]
        calls.take()
        d.run_available(streaming=False)
        assert d.write_msglog_if_configured() == [log_dir]
        assert calls.none()
        _counter_spool(spark, d, "s3", "192.0.2.1", [9])
        assert d.write_msglog_if_configured() == [log_dir]
        assert _logged_ifaces(log_dir) == [5, 7, 9]
        assert files == [{"s1.parquet", "s2.parquet"}, {"s3.parquet"}]
        n = calls.take()
        assert n["decode_sflow_any"] == n["decode_sflow_counters"] == 1
        assert d.compact_spool(keep_files=1) == 2
        assert d.write_msglog_if_configured() == [log_dir]
        assert _logged_ifaces(log_dir) == [5, 7, 9]
        assert len(files) == 2 and calls.none()
    finally:
        d.stop()


def test_templates_port_redefinition_keeps_seeding(spark, tmp_path, caplog):
    """nfacctd_templates_port: a layout change for a replicated
    template keeps its first layout and is logged once; a template
    replicated after it still seeds, so its data decodes. Each
    templates-spool file is learned once."""
    conf = """
nfacctd_port: 0
nfacctd_templates_port: 0
plugins: memory[protos]
aggregate[protos]: proto
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool"))
    learned: list = []
    orig = d._tagged_datagrams

    def recording(tags, by_datagram=False):
        if not by_datagram:
            return orig(tags)
        learned.append(sorted(os.path.basename(f) for f in tags))
        return orig(tags, by_datagram=True)

    d._tagged_datagrams = recording

    def tmpl(name: str, tid: int, fields) -> None:
        write_spool_file(
            d.tmpl_spool.spool_dir,
            f"{name}.parquet",
            pa.table(
                {
                    "exporter_ip": pa.array([EXPORTER], pa.string()),
                    "seqno": pa.array([0], pa.int64()),
                    "payload": pa.array(
                        [_v9_packet(0, 1, [_tmpl(tid, fields)])], pa.binary()
                    ),
                }
            ),
        )

    fields = [(8, 4), (12, 4), (1, 4), (2, 4), (4, 1)]
    try:
        tmpl("t1", TID, fields)
        _spool(d, "b1", [_v9(1, [_rec(0)], template=False)])
        assert _total_bytes(d) == _bytes([_rec(0)])
        tmpl("t2", TID, OTHER)
        with caplog.at_level(logging.WARNING, logger="pmacct_spark"):
            assert _total_bytes(d) == _bytes([_rec(0)])
            tmpl("t3", 301, fields)
            _spool(d, "b2", [_v9_packet(2, 1, [_v9_data(301, [_rec(1)])])])
            assert _total_bytes(d) == _bytes([_rec(0), _rec(1)])
            assert _total_bytes(d) == _bytes([_rec(0), _rec(1)])
    finally:
        d.stop()
    assert learned == [["t1.parquet"], ["t2.parquet"], ["t3.parquet"]]
    notes = [r for r in caplog.records if "replicated template" in r.getMessage()]
    assert len(notes) == 1


def test_store_answers_an_empty_spool(spark, tmp_path):
    """A drain over an empty spool reads the store's empty snapshot,
    whose frames have the decoders' schemas."""
    d = Daemon.from_conf(spark, CONF, spool_dir=str(tmp_path / "spool"))
    try:
        assert _total_bytes(d) == 0
        with d._scratch.lease(pin=True) as lease:
            snap = d._store_sync([], lease)
            assert snap.flows().count() == 0
            assert "ip_src_i" in snap.flows().columns
            assert snap.options().count() == 0
    finally:
        d.stop()
