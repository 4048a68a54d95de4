"""Span recorder for the traced run.

Wraps public functions of the program's layers by replacing module
(or class) attributes. The daemon imports its layer functions inside
its own methods, so a replaced module attribute sees every call. Each
span runs under its own Spark job group, so the jobs and stages it
launched are counted from the status tracker.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import time

# (layer, module, attribute or Class.method)
TARGETS = [
    ("sources", "pmacct_spark.sources.udp", "UdpSpool.flush"),
    ("sources", "pmacct_spark.sources.tcp", "TcpSpool.flush"),
    ("decode", "pmacct_spark.streaming.decode", "decode_any"),
    ("decode", "pmacct_spark.streaming.decode", "learn_template_cache"),
    ("decode", "pmacct_spark.streaming.decode", "decode_options"),
    ("staging", "pmacct_spark.operators.staging", "stage"),
    ("staging", "pmacct_spark.operators.staging", "release"),
    ("enrich", "pmacct_spark.daemon", "Daemon.rib"),
    ("enrich", "pmacct_spark.operators.lpm", "lpm_join"),
    ("enrich", "pmacct_spark.operators.pretag", "compile_rules"),
    ("enrich", "pmacct_spark.operators.pretag", "apply_pretag"),
    ("aggregate", "pmacct_spark.pipeline", "build_aggregation"),
    ("sink", "pmacct_spark.sinks.files", "write_print"),
]


class Recorder:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list = []  # open spans; every wrapped call runs on the main thread
        self._undo: list = []
        self.root_id = 0  # the drain the spans belong to

    def span(self, layer: str, name: str):
        return _Span(self, layer, name)

    def install(self) -> None:
        for layer, mod_name, attr in TARGETS:
            mod = importlib.import_module(mod_name)
            owner, _, fn_name = attr.rpartition(".")
            holder = getattr(mod, owner) if owner else mod
            orig = holder.__dict__[fn_name]
            setattr(holder, fn_name, self._wrap(layer, attr, orig))
            self._undo.append((holder, fn_name, orig))

    def uninstall(self) -> None:
        for holder, fn_name, orig in reversed(self._undo):
            setattr(holder, fn_name, orig)
        self._undo = []

    def _wrap(self, layer, name, fn):
        rec = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with rec.span(layer, name):
                return fn(*a, **kw)

        return wrapper

    def jobs_and_stages(self, gid: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        stages = 0
        for j in jobs:
            info = st.getJobInfo(j)
            stages += len(info.stageIds) if info else 0
        return len(jobs), stages

    def finish(self) -> None:
        """Resolve job/stage counts and self time of every span."""
        kids: dict[int, float] = {}
        for s in self.spans:
            if s["parent"]:
                kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["end"] - s["start"]
        for s in self.spans:
            s["jobs"], s["stages"] = self.jobs_and_stages(s["gid"])
            s["self_s"] = s["end"] - s["start"] - kids.get(s["id"], 0.0)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class _Span:
    def __init__(self, rec: Recorder, layer: str, name: str):
        self.rec, self.layer, self.name = rec, layer, name

    def __enter__(self):
        rec = self.rec
        stack = rec._stack
        self.id = next(rec._ids)
        self.parent = stack[-1] if stack else None
        self.gid = f"flowbench-span-{self.id}"
        rec.sc.setJobGroup(self.gid, self.name)
        stack.append(self)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        rec = self.rec
        rec._stack.pop()
        if self.parent is not None:
            rec.sc.setJobGroup(self.parent.gid, self.parent.name)
        else:
            rec.sc.setLocalProperty("spark.jobGroup.id", None)
        rec.spans.append({
            "id": self.id, "parent": self.parent.id if self.parent else None,
            "layer": self.layer, "name": self.name, "root": rec.root_id,
            "start": self.start, "end": end, "gid": self.gid,
        })
        return False
