"""The store's aggregate layer: each batch channel's aggregate is staged
once per drain input, and a drain or replan tick whose input key did
not change reads the stored table instead of aggregating every flow
again. Flow and BGP spool files are written straight into the daemon's
spool directories, as in tests/test_rib_snapshot.py."""

from __future__ import annotations

import functools
import logging
import os
import sys
import threading
import uuid
from dataclasses import replace

from pyspark.sql import functions as F

from pmacct_spark import conffile, pipeline
from pmacct_spark.daemon import Daemon, _ReplanLoop
from pmacct_spark.operators import staging
from pmacct_spark.pipeline import build_aggregation
from pmacct_spark.sinks.files import write_print
from pmacct_spark.streaming.bmp import encode_bgp_update
from tests.test_flow_store import _bytes, _rec, _spool, _total_bytes, _v9
from tests.test_rib_snapshot import _bgp, _daemon, _flows, _paths, _withdraw

CHANNELS = """
nfacctd_port: 0
plugins: memory[having], memory[top], memory[hist], memory[fold], memory[wid]
aggregate[having]: src_host
aggregate[top]: src_host, dst_host
aggregate[hist]: proto
sql_history[hist]: 5m
aggregate[fold]: sum_host
aggregate[wid]: proto
writer_id_string[wid]: $proc_name
"""


class _Builds:
    """Counts aggregation plans (``pipeline.build_aggregation``: the
    daemon imports it at call time) and staged frames, barriers
    (``staging.stage``) and result tables (``staging.stage_result``)
    apart; keeps the directory of every result table."""

    NAMES = ("build_aggregation", "stage", "stage_result")

    def __init__(self, monkeypatch):
        self.n = dict.fromkeys(self.NAMES, 0)
        self.paths: list = []
        self._lock = threading.Lock()
        monkeypatch.setattr(
            pipeline, "build_aggregation", self._wrap("build_aggregation", build_aggregation)
        )
        for name in ("stage", "stage_result"):
            monkeypatch.setattr(staging, name, self._wrap(name, getattr(staging, name)))

    def _wrap(self, name, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            out = fn(*a, **kw)
            with self._lock:
                self.n[name] += 1
                if name == "stage_result":
                    self.paths.append(out.stage_path)
            return out

        return wrapper

    def take(self) -> dict:
        with self._lock:
            out, self.n = self.n, dict.fromkeys(self.NAMES, 0)
        return out


NONE = dict.fromkeys(_Builds.NAMES, 0)


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def test_warm_drain_reads_the_stored_aggregates(spark, tmp_path, monkeypatch):
    """A warm drain over unchanged inputs plans and stages nothing, and
    every channel's rows (and schema) equal a fresh aggregation of the
    same frame: a preprocess HAVING, top-N, history buckets, a
    sum_host fold and writer_id_string."""
    d = Daemon.from_conf(spark, CHANNELS, spool_dir=str(tmp_path / "spool"))
    d.channels["having"] = replace(
        d.channels["having"], preprocess=conffile._parse_preprocess("minb=250")
    )
    d.channels["top"] = replace(d.channels["top"], topn=("bytes", 2))
    builds = _Builds(monkeypatch)
    try:
        _spool(d, "b1", [_v9(1, [_rec(i) for i in range(4)])])
        first = d.run_available(streaming=False)
        assert builds.take()["build_aggregation"] == len(d.channels)
        warm = d.run_available(streaming=False)
        assert builds.take() == NONE
        with d._scratch.lease(pin=True) as lease:
            frame = d._decoded(lease)[0]()
            for name, cfg in d.channels.items():
                want = build_aggregation(frame, cfg)
                if name == "wid":
                    want = want.withColumn("writer_id", F.lit("wid/memory"))
                got = warm[name]
                assert got.schema == want.schema, name
                if name == "top":  # ordered by bytes
                    assert got.collect() == want.collect()
                else:
                    assert _rows(got) == _rows(want), name
                assert _rows(first[name]) == _rows(got), name
        assert [r["src_host"] for r in warm["top"].collect()] == ["10.0.0.3", "10.0.0.2"]
        assert len(warm["having"].collect()) == 2  # bytes 300, 400 only
        assert builds.take() == NONE
    finally:
        d.stop()


def _store_lines(caplog) -> list[str]:
    return [r.getMessage() for r in caplog.records if "aggregate store" in r.getMessage()]


def test_each_key_part_forces_one_rebuild(spark, tmp_path, monkeypatch, caplog):
    """A new spool file, reload_maps(), a BGP announce, a withdraw and a
    compaction each rebuild every channel's aggregate exactly once, and
    the rebuild's log line names the changed key part; later drains
    plan nothing, and once the stored one is staged they read it."""
    d = _daemon(spark, tmp_path)  # two channels: paths, comms
    builds = _Builds(monkeypatch)
    changes = [
        ("spool files", lambda: _flows(d, "f2", (400,)), {"65000 65100": 700}),
        ("maps generation", d.reload_maps, {"65000 65100": 700}),
        (
            "RIB snapshot",
            lambda: _bgp(d, "r2", encode_bgp_update(0x0B000000, 8, "65000 65200")),
            {"65000 65200": 700},
        ),
        ("RIB snapshot", lambda: _bgp(d, "r3", _withdraw(0x0B000000, 8)), {"": 700}),
        ("compacted flows", lambda: d.compact_spool(keep_files=1), {"": 700}),
    ]
    try:
        _bgp(d, "r1", encode_bgp_update(0x0B000000, 8, "65000 65100"))
        _flows(d, "f1")
        assert _paths(d) == {"65000 65100": 300}
        builds.take()
        for part, change, want in changes:
            change()
            caplog.clear()
            with caplog.at_level(logging.INFO, logger="pmacct_spark"):
                assert _paths(d) == want, part
            assert builds.take()["build_aggregation"] == 2, part
            lines = _store_lines(caplog)
            assert len(lines) == 2 and all(part in ln for ln in lines), lines
            assert _paths(d) == want
            assert builds.take()["build_aggregation"] == 0, part
            assert _paths(d) == want
            assert builds.take() == NONE, part
    finally:
        d.stop()


def test_template_redecode_rebuilds_once(spark, tmp_path, monkeypatch, caplog):
    """A file decoded before its template arrived is re-decoded when it
    does: its rows get a new id, so each channel rebuilds once and
    counts the earlier records."""
    from tests.test_flow_store import CONF

    d = Daemon.from_conf(spark, CONF, spool_dir=str(tmp_path / "spool"))
    builds = _Builds(monkeypatch)
    early, late = [_rec(0), _rec(1)], [_rec(2)]
    try:
        _spool(d, "b1", [_v9(1, early, template=False)])
        assert _total_bytes(d) == 0
        builds.take()
        _spool(d, "b2", [_v9(2, late)])
        with caplog.at_level(logging.INFO, logger="pmacct_spark"):
            assert _total_bytes(d) == _bytes(early + late)
        assert builds.take()["build_aggregation"] == 2
        assert any("re-decoding" in r.getMessage() for r in caplog.records)
        assert all("spool files" in ln for ln in _store_lines(caplog))
        assert _total_bytes(d) == _bytes(early + late)
        assert builds.take()["build_aggregation"] == 0
    finally:
        d.stop()


def test_an_input_changing_every_drain_is_served_unstaged(spark, tmp_path, monkeypatch):
    """While every drain brings a new spool file, no stored aggregate is
    read again, so each rebuild serves its plan without staging it;
    the first drain that finds the key current stages it once, and
    later drains neither plan nor stage."""
    from tests.test_flow_store import CONF

    d = Daemon.from_conf(spark, CONF, spool_dir=str(tmp_path / "spool"))
    builds = _Builds(monkeypatch)
    recs = [[_rec(i)] for i in range(3)]
    try:
        _spool(d, "b0", [_v9(0, recs[0])])
        assert _total_bytes(d) == _bytes(recs[0])
        assert builds.take()["stage_result"] == 2  # no input seen before
        for i in (1, 2):
            _spool(d, f"b{i}", [_v9(i, recs[i])])
            assert _total_bytes(d) == _bytes(sum(recs[: i + 1], []))
            got = builds.take()
            assert (got["build_aggregation"], got["stage_result"]) == (2, 0)
        assert _total_bytes(d) == _bytes(sum(recs, []))
        got = builds.take()
        assert (got["build_aggregation"], got["stage_result"]) == (0, 2)
        assert _total_bytes(d) == _bytes(sum(recs, []))
        assert builds.take() == NONE
        _spool(d, "b3", [_v9(3, recs[0])])  # read again: staged at once
        assert _total_bytes(d) == _bytes(sum(recs, []) + recs[0])
        got = builds.take()
        assert (got["build_aggregation"], got["stage_result"]) == (2, 2)
    finally:
        d.stop()


def test_a_drains_result_outlives_two_more_drains(spark, tmp_path, monkeypatch):
    """Drain 1's result is still collectable after a warm drain 2 and a
    drain 3 that rebuilt the aggregate; the retired table is released
    once drain 4 starts."""
    from tests.test_flow_store import CONF

    d = Daemon.from_conf(spark, CONF, spool_dir=str(tmp_path / "spool"))
    builds = _Builds(monkeypatch)
    try:
        _spool(d, "b1", [_v9(1, [_rec(0)])])
        first = d.run_available(streaming=False)["protos"]
        old = d._aggregates._slots["protos"].staged.stage_path
        assert old in builds.paths
        d.run_available(streaming=False)
        _spool(d, "b2", [_v9(2, [_rec(1)])])
        d.run_available(streaming=False)
        assert old != d._aggregates._slots["protos"].staged.stage_path
        assert os.path.isdir(old)
        assert [r["bytes"] for r in first.collect()] == [_bytes([_rec(0)])]
        d.run_available(streaming=False)
        assert not os.path.exists(old)
    finally:
        d.stop()


def test_replan_channels_and_a_drain_build_each_key_once(spark, tmp_path, monkeypatch):
    """Two replan channels' ticks and drains run on 8 threads, over
    one input and then over a new one: each channel's aggregate is
    built once per key, no lease keeps a pin, and after stop() no
    aggregate's staged table is left on disk."""
    conf = """
nfacctd_port: 0
plugins: memory[a], memory[b]
aggregate[a]: proto
aggregate[b]: src_host
sql_history[a]: 5m
sql_history[b]: 5m
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool"))
    builds = _Builds(monkeypatch)
    loops = {n: _ReplanLoop(d, n, d.channels[n], 60.0) for n in ("a", "b")}
    errors: list = []

    def run(job):
        gate.wait()
        try:
            job()
        except Exception as exc:  # surfaced below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for i in range(2):
            _spool(d, f"b{i}", [_v9(i, [_rec(i)])])
            jobs = [loops["a"]._tick, loops["b"]._tick] * 3 + [
                lambda: d.run_available(streaming=False)
            ] * 2
            gate = threading.Barrier(len(jobs))
            threads = [threading.Thread(target=run, args=(j,)) for j in jobs]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=300)
            assert not any(t.is_alive() for t in threads)
            assert errors == []
            assert builds.take()["build_aggregation"] == 2  # a and b, once each
            served = {r["proto"] for r in spark.table("imt_a").collect()}
            assert served == {6}
        assert all(h.pins == 0 for h in d._scratch._held.values())
        # the drains' lazy results are no longer read once two more
        # drains have started
        d._scratch.lease()
        d._scratch.lease()
    finally:
        sys.setswitchinterval(interval)
        d.stop()
    assert len(builds.paths) == 4
    assert not any(os.path.exists(p) for p in builds.paths)


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` runs, counted under its own job group."""
    sc = spark.sparkContext
    gid = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "counted")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def test_print_purge_runs_one_job(spark, tmp_path, caplog):
    """write_print runs one Spark job per purge, with output and
    without: an empty purge under print_write_empty_file false leaves
    no file (and the previous purge's output in place) and logs the
    "ET: X" line."""
    agg = staging.stage_result(
        spark.createDataFrame([("tcp", 100), ("udp", 20)], "proto string, bytes long")
    )
    path = str(tmp_path / "out")
    try:
        assert _jobs(spark, lambda: write_print(agg, path, write_empty=False)) == 1
        parts = sorted(p for p in os.listdir(path) if p.endswith(".csv"))
        assert parts
        with caplog.at_level(logging.INFO, logger="pmacct_spark"):
            empty = agg.filter("bytes < 0")
            assert _jobs(spark, lambda: write_print(empty, path, write_empty=False)) == 1
        assert sorted(p for p in os.listdir(path) if p.endswith(".csv")) == parts
        assert any("ET: X" in r.getMessage() for r in caplog.records)
        fresh = str(tmp_path / "fresh")
        assert _jobs(spark, lambda: write_print(empty, fresh, write_empty=False)) == 1
        assert sorted(os.listdir(tmp_path)) == ["out"]  # no purge dir left
    finally:
        staging.release(agg)


def test_warm_print_drain_runs_one_job(spark, tmp_path):
    """A warm drain of a print channel over unchanged inputs runs one
    Spark job in all: the purge's write."""
    out = tmp_path / "csv"
    conf = f"""
nfacctd_port: 0
plugins: print[p]
aggregate[p]: proto
print_output[p]: csv
print_output_file[p]: {out}
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool"))
    try:
        _spool(d, "b1", [_v9(1, [_rec(0), _rec(1)])])
        d.run_available(streaming=False)
        assert _jobs(spark, lambda: d.run_available(streaming=False)) == 1
        rows = [
            dict(zip(lines[0].split(","), ln.split(",")))
            for f in out.glob("*.csv")
            for lines in [f.read_text().splitlines()]
            for ln in lines[1:]
        ]
        assert [(r["proto"], int(r["bytes"])) for r in rows] == [
            ("tcp", _bytes([_rec(0), _rec(1)]))
        ]
    finally:
        d.stop()
