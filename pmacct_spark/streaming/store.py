"""The daemon's batch-path stores: each flow spool file is decoded
once, and the lookup RIB is built once per BGP/BMP spool generation.

A batch drain or replan tick syncs the store with the live spool
files. Files the store has not seen are decoded once, together in one
pass, into one ``stage()``d parquet segment. A segment holds each of
its files' flow rows and options rows, stamped with a per-file id,
and the store keeps each file's template definitions on the driver.
Later drains union the stored segments and run no Python decode pass
unless new files arrived.

A segment depends only on its files' bytes, the merged template set
and the daemon conf (the decode key). Work that crosses files stays
with the caller and reads the snapshot: the merged template set, the
exporter-id join and the learned sampling rates.

- When the decode key changes (a new or changed template definition
  anywhere in the live spool, a new seed, a new allow list), every
  segment is decoded again under the new key.
- When two live files define one template with different layouts,
  :meth:`DecodedStore.sync` returns None and the caller takes the
  ordered whole-spool path.

:class:`RibStore` holds the lookup RIB (``Daemon.rib()``'s rows)
``stage()``d, with its sorted mask lengths, and rebuilds it only when
the list of live BGP/BMP spool files that can change the RIB changes
(``TcpSpool.rib_files``: files holding only a live peer's keepalives
or BMP stats reports do not).

Both stores release what they ``stage()`` by one rule (:class:`_Retention`):
through ``operators.staging.release``, never while a pinned snapshot
reads it, and never before two more unpinned drains have started since
the last unpinned drain that read it (the window that keeps a drain's
lazy results readable). Daemon stop releases the rest, except what is
still inside that window: that goes with the staging module's exit
cleanup.
"""

from __future__ import annotations

import functools
import itertools
import json
import logging
import threading
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger("pmacct_spark")

FID = "__fid"  # spool-file id stamped on every stored row
KIND = "__kind"  # 0: flow row, 1: options row


@dataclass(eq=False)
class _Segment:
    df: DataFrame  # staged rows of every file in ``fids``
    fids: dict  # spool file -> id on its rows
    flow_cols: list
    opt_cols: list | None  # None: the flavor has no options rows
    pins: int = 0  # pinned snapshots reading it
    last_drain: int | None = None  # last unpinned drain that read it


class Snapshot:
    """The store as one drain, tick or compaction reads it: the stored
    rows of exactly the spool files it was synced with. A pinned
    snapshot keeps its segments until :meth:`release`."""

    def __init__(self, store, segments, fids, templates, pinned):
        self._store = store
        self._segments = segments
        self.fids = fids  # spool file -> id, the snapshot's files
        self.templates = templates  # merged template defs of those files
        self._pinned = pinned

    def _rows(self, kind: int, files) -> DataFrame | None:
        want = {self.fids[f] for f in (self.fids if files is None else files)}
        parts = []
        for seg in self._segments:
            cols = seg.flow_cols if kind == 0 else seg.opt_cols
            have = set(seg.fids.values())
            ids = have & want
            if cols is None or not ids:
                continue
            df = seg.df.filter(F.col(KIND) == kind)
            if ids != have:
                df = df.filter(F.col(FID).isin(sorted(ids)))
            parts.append(df.select(*cols))
        if not parts:
            return None
        return functools.reduce(DataFrame.unionByName, parts)

    def flows(self, files=None) -> DataFrame:
        """Decoded flow rows of ``files`` (default: every file)."""
        return self._rows(0, files)

    def options(self, files=None) -> DataFrame | None:
        """Decoded options rows of ``files``; None for a flavor without
        options records."""
        return self._rows(1, files)

    def key(self, files=None) -> tuple:
        """Identifies the stored rows of ``files``: equal keys, equal
        rows. Callers memoize per-drain work on it."""
        return tuple(
            sorted(self.fids[f] for f in (self.fids if files is None else files))
        )

    def release(self) -> None:
        if self._pinned:
            self._pinned = False
            self._store._unpin(self._segments)


class _Retention:
    """The release rule both stores share. An entry (anything with
    ``df``, ``pins`` and ``last_drain``) a sync reads is either pinned
    (replan ticks, compaction: until the snapshot's release) or marked
    with the unpinned drain that read it. A retired entry is released
    once it has no pins and two more unpinned drains have started."""

    def __init__(self):
        self._lock = threading.Lock()
        self._retired: list = []
        self._drains = 0  # unpinned syncs so far

    def _read(self, entries, pin: bool) -> None:
        """Mark ``entries`` as read by the current sync. Callers hold
        the lock and counted the sync (``_drains``) first."""
        for s in entries:
            if pin:
                s.pins += 1
            else:
                s.last_drain = self._drains

    def _unpin(self, entries) -> None:
        with self._lock:
            for s in entries:
                s.pins -= 1
            self._collect()

    def _collect(self) -> None:
        from pmacct_spark.operators.staging import release

        keep = []
        for s in self._retired:
            if s.pins or (
                s.last_drain is not None and self._drains < s.last_drain + 2
            ):
                keep.append(s)
            else:
                release(s.df)
        self._retired = keep


class DecodedStore(_Retention):
    """Per-spool-file decoded rows for one daemon. Thread-safe: the
    update in :meth:`sync` is single-flight under one lock, so N replan
    channels decode each file once between them."""

    def __init__(self):
        super().__init__()
        self._defs: dict = {}  # live spool file -> template defs (None: conflicting)
        self._segments: list[_Segment] = []
        self._key = None  # decode key the live segments were built under
        self._ids = itertools.count()
        self._logged: set = set()

    def sync(
        self,
        files: list,
        conf_key,
        seed: dict | None,
        learn: Callable | None,
        decode: Callable,
        pin: bool = False,
    ) -> Snapshot | None:
        """Bring the store up to ``files`` (the live spool files, oldest
        first) and return a snapshot of them.

        ``learn(files)`` returns ``{file: template defs}`` for new files
        (None for a file that redefines a template with another
        layout); flavors without templates pass None.
        ``decode(fids, templates)`` decodes the new files, given as
        ``{file: id}``, under ``templates`` in one pass and returns
        ``(flows, options or None)`` DataFrames whose rows carry their
        file's id in column ``FID``. Returns None when the files'
        template definitions conflict: the caller then takes the
        whole-spool path."""
        with self._lock:
            if not pin:
                self._drains += 1
            live = set(files)
            self._defs = {f: d for f, d in self._defs.items() if f in live}
            new = [f for f in files if f not in self._defs]
            if new:
                learned = learn(new) if learn is not None else {}
                for f in new:
                    self._defs[f] = learned.get(f, {})
            templates = self._merged(files)
            if templates is None:
                self._collect()
                return None
            seeded = {**(seed or {}), **templates}
            key = (conf_key, _canon(seeded))
            if key != self._key:
                if self._segments:
                    self._note(
                        "re-decoding every stored spool file: "
                        + _change(self._key, key),
                        logging.INFO,
                    )
                    self._retired.extend(self._segments)
                    self._segments = []
                self._key = key
            covered = {f for s in self._segments for f in s.fids}
            todo = [f for f in files if f not in covered]
            if todo:
                self._segments.append(self._decode(todo, decode, seeded))
            reading = [s for s in self._segments if live & s.fids.keys()]
            self._retired.extend(s for s in self._segments if s not in reading)
            self._segments = reading
            self._read(reading, pin)
            self._collect()
            return Snapshot(
                self, list(reading),  # later syncs append to _segments
                {f: fid for s in reading for f, fid in s.fids.items() if f in live},
                templates, pin,
            )

    def close(self) -> None:
        """Daemon stop: release every segment but those still read — by
        a pinned snapshot, or by the lazy results of the last two
        drains, which callers may collect after stop(). The staging
        module removes those at interpreter exit."""
        with self._lock:
            self._retired.extend(self._segments)
            self._segments = []
            self._collect()
            self._retired = []
            self._defs, self._key = {}, None

    # -- internals ----------------------------------------------------
    def _merged(self, files) -> dict | None:
        merged: dict = {}
        where: dict = {}
        for f in files:
            defs = self._defs[f]
            if defs is None:
                self._note(
                    f"whole-spool decode: {f} redefines a template with "
                    "a different layout",
                    logging.WARNING,
                )
                return None
            for k, spec in defs.items():
                if k in merged and merged[k] != spec:
                    self._note(
                        f"whole-spool decode: template {k} has different "
                        f"layouts in {where[k]} and {f}",
                        logging.WARNING,
                    )
                    return None
                merged[k] = spec
                where.setdefault(k, f)
        return merged

    def _decode(self, files, decode, templates) -> _Segment:
        from pmacct_spark.operators.staging import stage

        fids = {f: next(self._ids) for f in files}
        flows, opts = decode(fids, templates)
        parts = [flows.withColumn(KIND, F.lit(0))]
        if opts is not None:
            parts.append(opts.withColumn(KIND, F.lit(1)))
        df = functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
        )
        return _Segment(
            stage(df),
            fids,
            [c for c in flows.columns if c != FID],
            None if opts is None else [c for c in opts.columns if c != FID],
        )

    def _note(self, msg: str, level: int) -> None:
        """Log each distinct store event once."""
        if msg not in self._logged:
            self._logged.add(msg)
            log.log(level, "decoded-flow store: %s", msg)


@dataclass(eq=False)
class _Rib:
    df: DataFrame  # staged lookup RIB
    files: tuple  # the spool files it was built from
    masklens: list  # its distinct mask lengths, longest first
    pins: int = 0
    last_drain: int | None = None


class RibSnapshot:
    """A lookup RIB as enrichment reads it: ``df`` (one row per peer
    and prefix) and ``masklens``, the mask lengths every LPM join over
    it probes, longest first (None: each join discovers them). A
    pinned snapshot keeps its staged rows until :meth:`release`; a
    snapshot built without a store (the streaming plans' live RIB) has
    nothing to release."""

    def __init__(self, df: DataFrame, masklens: list, store=None, entry=None):
        self.df = df
        self.masklens = masklens
        self._store = store
        self._entry = entry

    def release(self) -> None:
        if self._store is not None:
            store, self._store = self._store, None
            store._unpin([self._entry])


class RibStore(_Retention):
    """The daemon's lookup RIB, built once per BGP/BMP spool
    generation. Thread-safe: a rebuild is single-flight under the lock,
    so N replan channels rebuild once between them."""

    def __init__(self):
        super().__init__()
        self._rib: _Rib | None = None

    def sync(
        self, listing: Callable, build: Callable, pin: bool = False
    ) -> RibSnapshot:
        """The lookup RIB of the live spool files. ``listing()`` returns
        them, one sorted tuple per session spool; it runs under the
        lock, so a sync never goes back to an older list than another
        sync already built. ``build(files)`` returns the RIB rows of
        exactly those files; it runs only when they differ from the
        current snapshot's."""
        with self._lock:
            if not pin:
                self._drains += 1
            files = listing()
            old = self._rib
            if old is None or old.files != files:
                self._rib = self._build(files, build, old)
                if old is not None:
                    self._retired.append(old)
            rib = self._rib
            self._read([rib], pin)
            self._collect()
            return RibSnapshot(
                rib.df, rib.masklens, self if pin else None, rib
            )

    def close(self) -> None:
        """Daemon stop: release the RIB unless something still reads it
        (see :meth:`DecodedStore.close`)."""
        with self._lock:
            if self._rib is not None:
                self._retired.append(self._rib)
                self._rib = None
            self._collect()
            self._retired = []

    def _build(self, files, build, old) -> _Rib:
        from pmacct_spark.operators.staging import stage

        df = stage(build(files))
        counts = df.groupBy("masklen").count().collect()
        masklens = sorted(
            (r[0] for r in counts if r[0] is not None), reverse=True
        )
        log.info(
            "RIB snapshot rebuilt (%s): %d rows, %d masklens",
            _rib_change(old, files), sum(r[1] for r in counts), len(masklens),
        )
        return _Rib(df, files, masklens)


def _rib_change(old: _Rib | None, files: tuple) -> str:
    """Why the RIB snapshot was rebuilt, for the log line."""
    if old is None:
        return "first build"
    new = sum(len(set(n) - set(o)) for o, n in zip(old.files, files))
    if not new:
        return "spool files changed"
    return f"{new} new RIB-changing spool files"


def _canon(templates: dict) -> tuple:
    """Order- and shape-insensitive form of a template set (JSON specs
    compare equal whether they hold tuples or lists)."""
    return tuple(sorted((k, json.dumps(v)) for k, v in templates.items()))


def _change(old, new) -> str:
    """Why the decode key changed, for the log line."""
    if old[0] != new[0]:
        return "the daemon's decode conf changed"
    was, now = dict(old[1]), dict(new[1])
    added = sorted(now.keys() - was.keys())
    removed = sorted(was.keys() - now.keys())
    changed = sorted(k for k in now.keys() & was.keys() if now[k] != was[k])
    parts = [
        f"{label} {keys[0]}" + (f" and {len(keys) - 1} more" if len(keys) > 1 else "")
        for label, keys in (
            ("added", added), ("removed", removed), ("changed", changed)
        )
        if keys
    ]
    return "template set changed: " + ", ".join(parts)
