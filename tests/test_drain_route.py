"""One drain route: ``Daemon.run_available()`` serves every channel,
history channels included, from the decoded, enriched, RIB and
aggregate stores. Spool files are written straight into the daemon's
spool directories, as in tests/test_flow_store.py and
tests/test_rib_snapshot.py."""

from __future__ import annotations

from pyspark.sql.streaming import DataStreamWriter

from pmacct_spark.daemon import Daemon
from pmacct_spark.streaming.bmp import encode_bgp_update
from pmacct_spark.streaming.decode import load_templates_file
from tests.test_aggregate_store import NONE, _Builds
from tests.test_daemon import CONF
from tests.test_flow_store import _Calls, _rec, _spool, _v9
from tests.test_rib_snapshot import _bgp, _daemon, _flows


def test_history_channels_persist_the_templates_file(spark, tmp_path):
    """nfacctd_templates_file is written by a drain whose channels all
    have a (non-calendar) history."""
    path = tmp_path / "templates.json"
    conf = f"""
nfacctd_port: 0
nfacctd_templates_file: {path}
plugins: memory[hist]
aggregate[hist]: proto
sql_history[hist]: 5m
"""
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool"))
    try:
        _spool(d, "b1", [_v9(1, [_rec(0), _rec(1)])])
        rows = d.run_available()["hist"].collect()
        assert load_templates_file(str(path))
        assert sum(r["bytes"] for r in rows) == 300
    finally:
        d.stop()


def test_warm_default_drain_reads_the_stores(spark, tmp_path, monkeypatch):
    """A warm default drain of two history channels decodes, learns and
    aggregates nothing and starts no streaming query; each channel's
    result is served as ``imt_<name>``."""
    conf = CONF + f"print_output_file[files]: {tmp_path / 'out_csv'}\n"
    d = Daemon.from_conf(spark, conf, spool_dir=str(tmp_path / "spool"))
    calls = _Calls(monkeypatch, _Calls.ALL)
    builds = _Builds(monkeypatch)
    starts = []
    start = DataStreamWriter.start

    def counting_start(self, *a, **kw):
        starts.append(self)
        return start(self, *a, **kw)

    monkeypatch.setattr(DataStreamWriter, "start", counting_start)
    try:
        _spool(d, "b1", [_v9(1, [_rec(0), _rec(1), _rec(2)])])
        cold = d.run_available()
        assert builds.take()["build_aggregation"] == 2
        calls.take()
        warm = d.run_available()
        assert calls.none()
        assert builds.take() == NONE
        assert starts == []
        for name in ("imt", "files"):
            assert sorted(warm[name].collect()) == sorted(cold[name].collect())
            assert spark.table(f"imt_{name}").count() == warm[name].count()
        assert warm["imt"].columns == [
            "src_host", "dst_host", "stamp_inserted", "bytes", "packets", "flows"
        ]
    finally:
        d.stop()


def test_compacted_flows_keep_their_attribution(spark, tmp_path):
    """A BGP history channel: flows compacted before a route change keep
    the AS path they were enriched with; only live flows see the new
    route (enrich-at-arrival)."""
    conf = """
nfacctd_port: 0
bgp_daemon: true
bgp_daemon_ip: 127.0.0.1
bgp_daemon_port: 0
plugins: memory[paths]
aggregate[paths]: as_path
sql_history[paths]: 5m
"""

    def paths() -> dict:
        out: dict = {}
        for r in d.run_available()["paths"].collect():
            out[r["as_path"]] = out.get(r["as_path"], 0) + r["bytes"]
        return out

    d = _daemon(spark, tmp_path, conf)
    try:
        _bgp(d, "r1", encode_bgp_update(0x0B000000, 8, "65001"))
        _flows(d, "f1")
        assert paths() == {"65001": 300}
        assert d.compact_spool(keep_files=0) == 1
        _bgp(d, "r2", encode_bgp_update(0x0B000000, 8, "65002"))
        _flows(d, "f2", (50,))
        assert paths() == {"65001": 300, "65002": 50}
    finally:
        d.stop()
