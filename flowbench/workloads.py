"""The benchmark's workloads. Each one generates its inputs from the
seed, sets the daemon up through ``Daemon.from_conf``, runs it through
its public API and checks every output against golden aggregates."""

from __future__ import annotations

import contextlib
import glob
import os
import socket
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import gen

SETUP_REPEATS = 3
COUNTERS = ["bytes", "packets", "flows"]


@dataclass
class Result:
    setup_s: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    lost_flows: int = 0
    notes: list = field(default_factory=list)

    @property
    def correct(self) -> bool:
        return self.failed == 0 and self.lost_flows == 0


def _span(rec, layer, name):
    return rec.span(layer, name) if rec is not None else contextlib.nullcontext()


def plan_ms(df) -> float:
    """Catalyst analysis + optimization + planning time of the
    DataFrame's last action, from its QueryPlanningTracker."""
    it = df._jdf.queryExecution().tracker().phases().valuesIterator()
    total = 0.0
    while it.hasNext():
        total += it.next().durationMs()
    return total


def compare(got: pd.DataFrame, want: pd.DataFrame, keys: list[str],
            top: int | None = None) -> tuple[bool, int]:
    """(ok, lost flows) for one channel. ``top`` compares only the
    group count, the grand totals and the ``top`` largest groups by
    bytes; otherwise every group is compared."""
    lost = abs(int(want["flows"].sum()) - int(got["flows"].sum()))
    ok = lost == 0 and len(got) == len(want)
    ok = ok and all(int(got[c].sum()) == int(want[c].sum()) for c in COUNTERS)
    if not ok:
        return False, lost
    order = ["bytes"] + keys
    asc = [False] + [True] * len(keys)
    g = got[keys + COUNTERS].sort_values(order, ascending=asc).reset_index(drop=True)
    w = want[keys + COUNTERS].sort_values(order, ascending=asc).reset_index(drop=True)
    if top is not None:
        g, w = g.head(top), w.head(top)
    for c in keys:
        if g[c].dtype != object:
            g[c] = g[c].astype(np.int64)
            w[c] = w[c].astype(np.int64)
    for c in COUNTERS:
        g[c] = g[c].astype(np.int64)
        w[c] = w[c].astype(np.int64)
    return bool(g.equals(w)), lost


class Replay:
    """Batch replay of a pre-written spool: set-up, one cold drain, then
    warm drains for the measured seconds."""

    exporters: list[str] = []
    n_flows = 0
    memory: dict[str, list[str]] = {}  # channel -> keys
    printed: dict[str, list[str]] = {}
    top: dict[str, int] = {}
    min_warm = 3  # warm drains per run, however long they take

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.spool = os.path.join(work, "spool")
        self.daemons: list = []
        self.golden: dict[str, pd.DataFrame] = {}

    # -- set-up -------------------------------------------------------
    def conf(self) -> str:
        raise NotImplementedError

    def make_daemon(self, spark):
        from pmacct_spark.daemon import Daemon

        return Daemon.from_conf(spark, self.conf(), spool_dir=self.spool)

    def close(self) -> None:
        for d in self.daemons:
            d.stop()
        self.daemons = []

    # -- one drain ----------------------------------------------------
    def drain(self, d, rec) -> tuple[float, dict, dict]:
        """run_available + materialise every memory channel. Returns
        (seconds, outputs, per-drain layer counters)."""
        info = {"plan_ms": 0.0, "groups": 0}
        t = time.perf_counter()
        with _span(rec, "drain", "drain"):
            res = d.run_available(streaming=False)
            out = {}
            for name in self.memory:
                with _span(rec, "aggregate", f"exec:{name}"):
                    out[name] = res[name].toPandas()
                if rec is not None:
                    info["plan_ms"] += plan_ms(res[name])
        dt = time.perf_counter() - t
        for name in self.printed:
            path = os.path.join(self.work, f"print_{name}")
            parts = sorted(glob.glob(os.path.join(path, "part-*.csv")))
            out[name] = pd.concat([pd.read_csv(p) for p in parts], ignore_index=True)
            info["sink_bytes"] = sum(os.path.getsize(p) for p in parts)
            info["sink_rows"] = len(out[name])
        info["groups"] = sum(len(v) for v in out.values())
        info["records_out"] = int(out[next(iter(self.memory))]["flows"].sum())
        return dt, out, info

    def check(self, out: dict) -> tuple[bool, int]:
        ok, lost = True, 0
        for name, keys in {**self.memory, **self.printed}.items():
            got = out[name]
            if name in self.printed and "proto" in keys:
                got = got.assign(proto=got["proto"].astype(str))
            c_ok, c_lost = compare(got, self.golden[name], keys, self.top.get(name))
            ok, lost = ok and c_ok, max(lost, c_lost)
        return ok, lost

    def run(self, spark, seconds: float, rec) -> Result:
        r = Result()
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            d = self.make_daemon(spark)
            r.setup_s.append(time.perf_counter() - t)
            self.daemons.append(d)
        for d in self.daemons[:-1]:
            d.stop()
        self.daemons = self.daemons[-1:]
        d = self.daemons[0]

        drains = []
        k = 0
        t_end = None
        while t_end is None or time.perf_counter() < t_end or len(drains) < self.min_warm + 1:
            if rec is not None:
                rec.root_id = k
            dt, out, info = self.drain(d, rec)
            ok, lost = self.check(out)
            r.attempted += 1
            r.failed += 0 if ok else 1
            r.lost_flows = max(r.lost_flows, lost)
            drains.append((dt, info))
            k += 1
            if t_end is None:
                t_end = time.perf_counter() + seconds
        warm = [dt for dt, _ in drains[1:]]
        r.notes.append(f"drains={len(drains)} first_s={drains[0][0]:.3f} "
                       f"warm_s={[round(x, 3) for x in warm]} lost_flows={r.lost_flows}")
        r.e2e = {
            "first_drain_s": (drains[0][0], "s"),
            "flows_per_s": (self.n_flows / statistics.median(warm), "flows/s"),
        }
        if rec is not None:
            rec.finish()
            r.layers = layer_metrics(rec, drains, self.n_flows)
        return r


class ReplayV9(Replay):
    """100k NetFlow v9 records from 8 exporters, Zipf host pairs."""

    exporters = [f"10.255.0.{i}" for i in range(1, 9)]
    n_flows = 100_000
    memory = {"hosts": ["src_host", "dst_host"],
              "ports": ["proto", "dst_port", "in_iface"]}
    printed = {"csv": ["proto", "peer_src_ip"]}
    top = {"hosts": 10}

    def generate(self) -> None:
        rng = np.random.default_rng(self.seed)
        fl = gen.flows(rng, self.n_flows, self.exporters)
        gen.write_spool(self.spool, gen.v9_datagrams(fl))
        h = gen.group_sums(fl, ["src", "dst"])
        h["src_host"], h["dst_host"] = gen.ntoa(h["src"]), gen.ntoa(h["dst"])
        p = gen.group_sums(fl, ["proto", "dport", "iface"]).rename(
            columns={"dport": "dst_port", "iface": "in_iface"})
        c = gen.group_sums(fl, ["proto", "exporter"]).rename(
            columns={"exporter": "peer_src_ip"})
        c["proto"] = c["proto"].map(gen.PROTO_NAME)
        self.golden = {"hosts": h, "ports": p, "csv": c}

    def conf(self) -> str:
        return f"""
nfacctd_port: 0
plugins: memory[hosts], memory[ports], print[csv]
aggregate[hosts]: src_host, dst_host
aggregate[ports]: proto, dst_port, in_iface
aggregate[csv]: proto, peer_src_ip
print_output[csv]: csv
print_output_file[csv]: {os.path.join(self.work, 'print_csv')}
"""


class ReplayBgp(Replay):
    """Flows from 4 exporters enriched from 4 live BGP sessions (one per
    exporter address), a networks_file and a pre_tag_map."""

    exporters = [f"127.0.0.{i}" for i in range(1, 5)]
    n_flows = 50_000
    routes = 2_000
    min_warm = 2  # a warm drain takes ~12 s here
    memory = {"paths": ["as_path", "dst_host"],
              "comms": ["std_comm", "local_pref"],
              "nets": ["tag", "dst_net"]}
    top = {"paths": 10}

    def generate(self) -> None:
        rng = np.random.default_rng(self.seed)
        self.rib = gen.rib(rng, self.exporters, self.routes)
        fl = gen.flows(rng, self.n_flows, self.exporters)
        gen.write_spool(self.spool, gen.v9_datagrams(fl))
        self.sessions = {
            p: gen.bgp_session(g) for p, g in self.rib.groupby("peer", sort=True)}
        # enrichment goldens: per-exporter LPM over that peer's routes
        attrs = np.empty(len(fl), np.int64)
        for p, g in self.rib.groupby("peer", sort=True):
            sel = np.flatnonzero(fl["exporter"].to_numpy() == p)
            hit = gen.lpm(fl["dst"].to_numpy()[sel], g["net"].to_numpy(), g["len"].to_numpy())
            assert (hit >= 0).all()
            attrs[sel] = g.index.to_numpy()[hit]
        route = self.rib.loc[attrs].reset_index(drop=True)
        fl = fl.assign(as_path=route["as_path"].to_numpy(),
                       std_comm=route["std_comm"].to_numpy(),
                       local_pref=route["local_pref"].to_numpy())
        # networks_file: /8 cover plus /16s; pre_tag_map: tag per exporter+iface
        nets16 = np.unique(rng.integers(0, 256, 64)) << 16 | 0x0A000000
        self.nets = pd.DataFrame({"net": np.concatenate([[0x0A000000], nets16]),
                                  "len": np.concatenate([[8], np.full(len(nets16), 16)])})
        nhit = gen.lpm(fl["dst"].to_numpy(), self.nets["net"].to_numpy(),
                       self.nets["len"].to_numpy())
        fl["dst_net"] = gen.ntoa(self.nets["net"].to_numpy()[nhit])
        tag = {(e, i): 100 * (ei + 1) + (i if i <= 2 else 0)
               for ei, e in enumerate(self.exporters) for i in range(1, 9)}
        fl["tag"] = [tag[(e, i)] for e, i in zip(fl["exporter"], fl["iface"])]
        with open(os.path.join(self.work, "networks.lst"), "w") as fh:
            for n, ln in zip(self.nets["net"], self.nets["len"]):
                fh.write(f"65500,{gen.ntoa(np.array([n]))[0]}/{ln}\n")
        with open(os.path.join(self.work, "pretag.map"), "w") as fh:
            for ei, e in enumerate(self.exporters):
                for i in (1, 2):
                    fh.write(f"set_tag={100 * (ei + 1) + i} ip={e} in={i}\n")
                fh.write(f"set_tag={100 * (ei + 1)} ip={e}\n")
        fl["dst_host"] = gen.ntoa(fl["dst"])
        self.golden = {
            "paths": gen.group_sums(fl, ["as_path", "dst_host"]),
            "comms": gen.group_sums(fl, ["std_comm", "local_pref"]),
            "nets": gen.group_sums(fl, ["tag", "dst_net"]),
        }

    def conf(self) -> str:
        return f"""
nfacctd_port: 0
nfacctd_net: file
bgp_daemon: true
bgp_daemon_ip: 127.0.0.1
bgp_daemon_port: 0
networks_file: {os.path.join(self.work, 'networks.lst')}
pre_tag_map: {os.path.join(self.work, 'pretag.map')}
plugins: memory[paths], memory[comms], memory[nets]
aggregate[paths]: as_path, dst_host
aggregate[comms]: std_comm, local_pref
aggregate[nets]: tag, dst_net
"""

    def make_daemon(self, spark):
        """Daemon plus its BGP sessions: each peer connects from its own
        loopback address and announces its routes; ready once every
        UPDATE is spooled."""
        import pyarrow.parquet as pq

        d = super().make_daemon(spark)
        expected = sum(len(b) for b in self.sessions.values())
        for peer, data in self.sessions.items():
            s = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
            s.bind((peer, 0))
            s.connect(("127.0.0.1", d.bgp_port))
            s.sendall(data)
            s.close()
        t0 = time.monotonic()
        spooled = 0
        while spooled < expected:
            if time.monotonic() - t0 > 60:
                raise RuntimeError(f"BGP sessions not spooled: {spooled}/{expected} bytes")
            time.sleep(0.02)
            files = glob.glob(os.path.join(d.bgp_spool.spool_dir, "s*.parquet"))
            spooled = sum(
                sum(len(p) for p in pq.read_table(f, columns=["payload"])["payload"].to_pylist())
                for f in files)
        return d


def layer_metrics(rec, drains, n_flows) -> dict:
    """Per-layer metrics from the spans of the warm drains: medians per
    drain of each layer's self time, jobs and stages."""
    warm_ids = range(1, len(drains))
    by = {k: {} for k in warm_ids}
    for s in rec.spans:
        if s["root"] in by:
            agg = by[s["root"]].setdefault(s["layer"], {"self_s": 0.0, "jobs": 0, "stages": 0, "calls": 0})
            agg["self_s"] += s["self_s"]
            agg["jobs"] += s["jobs"]
            agg["stages"] += s["stages"]
            agg["calls"] += 1
    build = {k: 0.0 for k in warm_ids}
    for s in rec.spans:
        if s["root"] in build and s["layer"] == "aggregate" and not s["name"].startswith("exec:"):
            build[s["root"]] += s["end"] - s["start"]

    def med(layer, key):
        return statistics.median(by[k].get(layer, {}).get(key, 0) for k in warm_ids)

    drain_s = statistics.median(drains[k][0] for k in warm_ids)
    share = {layer: 100.0 * med(layer, "self_s") / drain_s
             for layer in ("sources", "decode", "staging", "enrich", "aggregate", "sink", "drain")}
    exec_s = statistics.median(
        sum(s["end"] - s["start"] for s in rec.spans
            if s["root"] == k and s["name"].startswith("exec:")) for k in warm_ids)
    m = {
        "trace.flows_per_s": (n_flows / drain_s, "flows/s"),
        "sources.flush_s": (med("sources", "self_s"), "s"),
        "decode.calls": (med("decode", "calls"), "count"),
        "decode.build_s": (med("decode", "self_s"), "s"),
        "decode.jobs": (med("decode", "jobs"), "count"),
        "decode.records_out": (drains[-1][1]["records_out"], "count"),
        "staging.calls": (med("staging", "calls"), "count"),
        "staging.stage_s": (med("staging", "self_s"), "s"),
        "enrich.calls": (med("enrich", "calls"), "count"),
        "enrich.jobs": (med("enrich", "jobs"), "count"),
        "aggregate.build_s": (statistics.median(build.values()), "s"),
        "aggregate.plan_ms": (statistics.median(drains[k][1]["plan_ms"] for k in warm_ids), "ms"),
        "aggregate.exec_s": (exec_s, "s"),
        "aggregate.jobs": (med("aggregate", "jobs"), "count"),
        "aggregate.stages": (med("aggregate", "stages"), "count"),
        "aggregate.groups_out": (drains[-1][1]["groups"], "count"),
        "sink.rows_out": (drains[-1][1].get("sink_rows", 0), "count"),
        "sink.bytes_out": (drains[-1][1].get("sink_bytes", 0), "count"),
        "drain.other_s": (med("drain", "self_s"), "s"),
    }
    for layer, v in share.items():
        m[f"share.{'other' if layer == 'drain' else layer}_pct"] = (v, "%")
    return m


WORKLOADS = {"replay_v9": ReplayV9, "replay_bgp": ReplayBgp}
