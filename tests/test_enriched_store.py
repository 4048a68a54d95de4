"""The store's enriched layer: when maps and enrichment put a join
above the decoded rows, each live spool file is enriched once per
enrichment key (RIB snapshot, maps generation, re-read map files, RTR
feed) and staged, so a drain with no new file and no key change builds
no enrichment plan. Flow and BGP spool files are written straight into
the daemon's spool directories, as in tests/test_rib_snapshot.py."""

from __future__ import annotations

import functools
import itertools
import socket
import sys
import threading
import time

from pyspark.sql import functions as F

from pmacct_spark.daemon import Daemon
from pmacct_spark.operators import lpm, staging
from pmacct_spark.streaming.bmp import encode_bgp_open, encode_bgp_update
from pmacct_spark.streaming.store import FID, DecodedStore, Retention
from tests.test_rib_snapshot import (
    CONF,
    KEEPALIVE,
    _bgp,
    _daemon,
    _flows,
    _paths,
    _spooled,
)


class _Counts:
    """Counts ``lpm_join`` and ``staging.stage`` calls (the daemon and
    the store look both up at call time) and the daemon's enrichment
    plans; keeps each ``lpm_join`` input frame."""

    def __init__(self, monkeypatch, d: Daemon):
        self.inputs: list = []
        self.n = {"lpm_join": 0, "stage": 0, "enrich": 0}
        monkeypatch.setattr(lpm, "lpm_join", self._wrap("lpm_join", lpm.lpm_join))
        monkeypatch.setattr(staging, "stage", self._wrap("stage", staging.stage))
        d._enrich_snapshot = self._wrap("enrich", d._enrich_snapshot)

    def _wrap(self, name, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            self.n[name] += 1
            if name == "lpm_join":
                self.inputs.append(a[0])
            return fn(*a, **kw)

        return wrapper

    def take(self) -> dict:
        out, self.n = self.n, dict.fromkeys(self.n, 0)
        return out


def test_keepalive_drains_reuse_the_enriched_rows(spark, tmp_path, monkeypatch):
    """An open BGP session sends KEEPALIVEs between drains: those drains
    read the stored enriched rows (no LPM join, nothing staged). The
    next UPDATE re-enriches the stored flows once, against the new
    route."""
    d = _daemon(spark, tmp_path)
    counts = _Counts(monkeypatch, d)
    peer = socket.create_connection(("127.0.0.1", d.bgp_port))
    try:
        peer.sendall(
            encode_bgp_open(asn=65000)
            + encode_bgp_update(0x0B000000, 8, "65000 65100")
        )
        _spooled(d.bgp_spool, 1)
        _flows(d, "f1", exporter="127.0.0.1")
        assert _paths(d) == {"65000 65100": 300}
        # the decoded segment, the RIB, the enriched segment
        assert counts.take() == {"lpm_join": 1, "stage": 3, "enrich": 1}
        for n in range(2, 5):
            peer.sendall(KEEPALIVE)
            _spooled(d.bgp_spool, n)
            assert _paths(d) == {"65000 65100": 300}
            assert counts.take() == {"lpm_join": 0, "stage": 0, "enrich": 0}
        peer.sendall(KEEPALIVE + encode_bgp_update(0x0B000000, 8, "65000 65200"))
        _spooled(d.bgp_spool, 5)
        assert _paths(d) == {"65000 65200": 300}
        # the new RIB and the re-enriched segment
        assert counts.take() == {"lpm_join": 1, "stage": 2, "enrich": 1}
        assert _paths(d) == {"65000 65200": 300}
        assert counts.take() == {"lpm_join": 0, "stage": 0, "enrich": 0}
    finally:
        peer.close()
        d.stop()


def test_a_new_flow_file_enriches_only_its_own_rows(spark, tmp_path, monkeypatch):
    """A drain after one new flow file enriches that file's rows alone:
    the LPM join's input holds only its file id. Compaction then takes
    the retired file's stored rows, and no drain counts a flow twice."""
    d = _daemon(spark, tmp_path)
    counts = _Counts(monkeypatch, d)
    try:
        _bgp(d, "r1", encode_bgp_update(0x0B000000, 8, "65000 65100"))
        _flows(d, "f1")
        assert _paths(d) == {"65000 65100": 300}
        counts.take()
        _flows(d, "f2", (400,))
        assert _paths(d) == {"65000 65100": 700}
        assert counts.take() == {"lpm_join": 1, "stage": 2, "enrich": 1}
        (new,) = [
            fid for s in d._store._decoded.segments
            for f, fid in s.fids.items() if f.endswith("f2.parquet")
        ]
        ids = {r[0] for r in counts.inputs[-1].select(FID).distinct().collect()}
        assert ids == {new}
        counts.inputs.clear()
        assert d.compact_spool(keep_files=1) == 1
        assert counts.take() == {"lpm_join": 0, "stage": 0, "enrich": 0}
        for _ in range(3):
            assert _paths(d) == {"65000 65100": 700}
        _flows(d, "f3", (50,))
        assert _paths(d) == {"65000 65100": 750}
    finally:
        d.stop()


def test_sampling_map_edit_changes_the_key(spark, tmp_path, monkeypatch, caplog):
    """sampling_map is re-read on every drain, so its bytes are part of
    the key: an edit re-enriches the stored rows at the next drain, with
    no reload_maps(). The re-enrichment is logged once, with its
    reason."""
    import logging

    smap = tmp_path / "sampling.map"
    smap.write_text("id=64 ip=198.51.100.9\n")
    conf = CONF + f"nfacctd_renormalize: true\nsampling_map: {smap}\n"
    d = _daemon(spark, tmp_path, conf)
    counts = _Counts(monkeypatch, d)
    try:
        _bgp(d, "r1", encode_bgp_update(0x0B000000, 8, "65000 65100"))
        _flows(d, "f1")
        assert _paths(d) == {"65000 65100": 300 * 64}
        assert _paths(d) == {"65000 65100": 300 * 64}
        assert counts.take()["enrich"] == 1
        smap.write_text("id=8 ip=198.51.100.9\n")
        with caplog.at_level(logging.INFO, logger="pmacct_spark"):
            assert _paths(d) == {"65000 65100": 300 * 8}
        assert counts.take()["enrich"] == 1
        notes = [r.getMessage() for r in caplog.records if "re-enriching" in r.getMessage()]
        assert notes == [
            "decoded-flow store: re-enriching every stored spool file: "
            "re-read maps changed"
        ]
    finally:
        d.stop()


def test_reload_maps_drops_the_protos_file(spark, tmp_path):
    """protos_file is parsed once per load: an edit takes effect at the
    first drain after reload_maps(), which also retires the stored
    enriched rows."""
    protos = tmp_path / "protos.lst"
    protos.write_text("tcp\n")
    conf = f"""
nfacctd_port: 0
bgp_daemon: true
bgp_daemon_ip: 127.0.0.1
bgp_daemon_port: 0
protos_file: {protos}
plugins: memory[paths], memory[p]
aggregate[paths]: as_path
aggregate[p]: proto
"""
    d = _daemon(spark, tmp_path, conf)

    def protos_seen():
        res = d.run_available(streaming=False)
        return {r["proto"] for r in res["p"].collect()}

    try:
        _bgp(d, "r1", encode_bgp_update(0x0B000000, 8, "65000 65100"))
        _flows(d, "f1")  # every record is tcp (6)
        assert protos_seen() == {6}
        protos.write_text("udp\n")
        assert protos_seen() == {6}  # parsed once per load
        d.reload_maps()
        assert protos_seen() == {255}  # unlisted: 'others'
    finally:
        d.stop()


def test_account_options_rows_are_stored(spark, tmp_path, monkeypatch):
    """Under nfacctd_account_options the enriched rows are stored too:
    a warm drain decodes and enriches nothing."""
    from tests.test_flow_store import _Calls

    conf = CONF + "nfacctd_account_options: true\n"
    d = _daemon(spark, tmp_path, conf)
    counts = _Counts(monkeypatch, d)
    calls = _Calls(monkeypatch, _Calls.ALL)
    try:
        _bgp(d, "r1", encode_bgp_update(0x0B000000, 8, "65000 65100"))
        _flows(d, "f1")
        assert _paths(d) == {"65000 65100": 300}
        assert d._store._enriched.segments != []
        counts.take(), calls.take()
        assert _paths(d) == {"65000 65100": 300}
        assert counts.take() == {"lpm_join": 0, "stage": 0, "enrich": 0}
        assert calls.none()
    finally:
        d.stop()


def test_enriched_layer_stress_pins_and_single_flight(spark, monkeypatch):
    """More reader threads than cores sync the decoded layer, read the
    enriched rows and release their leases while the spool grows, old
    files retire and the enrichment key changes. Each file is enriched
    once per key, the scratch an enrichment stages goes as soon as its
    segment is written, no segment is released while a pinned lease or
    the last two unpinned drains read it, and every pin is back to 0.
    Staging is faked, so segments are unexecuted plans. As in the
    daemon, listing the files, the key and both syncs happen under one
    lock."""
    lock = threading.Lock()
    ids = itertools.count()
    active: dict[str, int] = {}  # stage path -> pinned readers
    drains: dict[int, set] = {}  # unpinned drain number -> paths it read
    released: list[str] = []
    violations: list[str] = []
    enriched: list[tuple] = []  # (key, files) per enrichment
    dims: list[str] = []  # scratch each enrichment staged
    started, done = [0], [0]

    def fake_stage(df):
        df.stage_path = f"seg-{next(ids)}"
        return df

    def fake_release(df):
        p = df.stage_path
        with lock:
            n = started[0]
            if active.get(p) or any(p in drains.get(k, ()) for k in (n, n - 1)):
                violations.append(p)
            released.append(p)

    def decode(fids, templates):
        return spark.range(1).withColumn(FID, F.lit(0)), None

    monkeypatch.setattr(staging, "stage", fake_stage)
    monkeypatch.setattr(staging, "release", fake_release)
    owner = Retention()
    reads: dict = {}  # lease -> paths it read
    orig_read = owner._read

    def recording_read(lease, staged):
        with lock:
            reads.setdefault(lease, set()).update(x.stage_path for x in staged)
        orig_read(lease, staged)

    owner._read = recording_read
    store = DecodedStore(owner)
    listing = threading.Lock()  # the daemon's _compact_lock
    files = ["f000"]
    key = [0]
    stop = threading.Event()

    def enrich_with(k):
        def enrich(todo, tmp):
            dim = fake_stage(spark.range(1))
            tmp.hold([dim])
            with lock:
                enriched.append((k, tuple(todo)))
                dims.append(dim.stage_path)
            base = spark.range(1).withColumn(FID, F.lit(0))
            return base.join(spark.range(1), "id")  # a join: stored

        return enrich

    def read(lease):
        with listing:
            snap = store.sync(list(files), "k", None, None, decode, lease)
            k = key[0]
            df = store.enriched(snap, (("gen", k),), enrich_with(k), lease)
        assert df is not None
        return reads.get(lease, set())

    def reader():
        while not stop.is_set():
            lease = owner.lease(pin=True)
            paths = read(lease)
            with lock:
                for p in paths:
                    active[p] = active.get(p, 0) + 1
                k0 = started[0]
            # a slow tick: hold the rows until two more drains read
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
                if i % 8 == 0:  # a route change
                    key[0] += 1
            with lock:
                started[0] += 1
                k = started[0]
            paths = read(owner.lease())  # a drain: no pin
            with lock:
                drains[k] = paths
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
    assert violations == []
    assert released  # retired segments do get released
    assert set(dims) <= set(released)  # with the enrichment's own lease
    once = [(k, f) for k, todo in enriched for f in todo]
    assert len(once) == len(set(once)), enriched
    assert sum(h.pins for h in owner._held.values()) == 0
    store.close()
    owner.close()


def test_rtr_batch_reads_exactly_the_listed_files(spark, tmp_path):
    """The ROA feed is read from a file list, as the enrichment key
    names it: ``batch(spark, files)`` reads those files and no file
    spooled after the listing."""
    from pmacct_spark.sources import rtr as R

    cl = R.RtrClient.__new__(R.RtrClient)
    cl.spool_dir = str(tmp_path)
    cl._seq, cl._epoch, cl._buf, cl._nfile = 0, 1, [], 0
    cl._emit((0, 1, 1, R.FLAG_ANNOUNCE, 0x0A000000, None, 8, 8, 65001))
    cl._flush()
    listed = cl.files()
    cl._emit((1, 1, 1, R.FLAG_ANNOUNCE, 0x0B000000, None, 8, 8, 65002))
    cl._flush()
    assert len(listed) == 1 and len(cl.files()) == 2
    assert {r["asn"] for r in cl.batch(spark, listed).collect()} == {65001}
    assert {r["asn"] for r in cl.batch(spark).collect()} == {65001, 65002}
    assert cl.batch(spark, []).count() == 0
