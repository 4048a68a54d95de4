"""The daemon's scratch owner and its batch-path stores: each flow
spool file is decoded once, and enriched once per RIB and maps
generation, and the lookup RIB is built once per BGP/BMP spool
generation.

One :class:`Retention` per daemon owns every ``stage()``d frame the
batch path leaves behind: the stores' segments and RIBs, a drain's
``stage()`` barrier and the staged dims of the ``follow_*`` LPM
chains. Every consumer takes a :class:`Lease` from it and registers
what it reads:

- a batch drain takes an unpinned lease, and counts as one drain;
- a replan tick or a compaction takes a pinned lease and releases it
  once, when its action completes.

A frame is released, through ``operators.staging.release``, once its
producer has retired it, no pinned lease reads it, and two more
drains have started since the last unpinned drain that read it (the
window that keeps a drain's lazy results readable). Daemon stop
releases the rest, except what is still inside that window: that goes
with the staging module's exit cleanup.

:class:`DecodedStore` keeps two staged layers of per-spool-file
segments, each built under one key; a segment holds the rows of every
file one update covered, stamped with a per-file id (``FID``), and a
key change retires every segment of its layer.

- The decoded layer. A batch drain or replan tick syncs it with the
  live spool files: files it has not seen are decoded once, together
  in one pass, into one segment of their flow rows and options rows,
  and the store keeps each file's template definitions on the driver.
  Its key is the decode key: the merged template set, the seed and
  the daemon's decode conf. When two live files define one template
  with different layouts, :meth:`DecodedStore.sync` returns None and
  the caller takes the ordered whole-spool path.
- The enriched layer, above it (:meth:`DecodedStore.enriched`): the
  rows maps and enrichment make of the decoded ones, ``FID`` kept.
  Files no segment covers are enriched together, in one call and one
  ``stage()``. Its key is the decode key plus what the caller's
  enrichment reads (the daemon's ``_enrich_key``: the RIB snapshot,
  the maps generation, re-read map files, the RTR feed, options rows
  read across files), so a drain with no new file and no key change
  builds no enrichment plan. Rows are stored only when their plan
  would recompute a join or a Python node; otherwise the caller keeps
  its lazy frame.

Work that crosses files (the exporter-id join, the learned sampling
rates) is the caller's: it reads the snapshot, and the enriched layer
tracks it only through its key.

:class:`RibStore` holds the lookup RIB (``Daemon.rib()``'s rows)
``stage()``d, with its sorted mask lengths, and rebuilds it only when
the list of live BGP/BMP spool files that can change the RIB changes
(``TcpSpool.rib_files``: files holding only a live peer's keepalives
or BMP stats reports do not).
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


class Lease:
    """One consumer's claim on staged frames (see :class:`Retention`):
    a batch drain (unpinned) or a replan tick or compaction (pinned,
    until :meth:`release`; also on leaving a ``with`` block)."""

    def __init__(self, owner: "Retention", drain: int | None):
        self._owner = owner
        self.drain = drain  # the unpinned drain's number; None: pinned
        self._pinned: list = []  # ledger entries this lease pins

    def read(self, staged) -> None:
        """Register staged frames (DataFrames from ``stage()``, or
        their paths) the consumer reads."""
        self._owner._read(self, staged)

    def hold(self, staged) -> None:
        """Register scratch staged for this consumer alone: it is
        released as soon as the lease no longer keeps it."""
        self.read(staged)
        self._owner.retire(staged)

    def release(self) -> None:
        """Drop the lease's pins: the consuming action has completed."""
        self._owner._unpin(self)

    def __enter__(self) -> "Lease":
        return self

    def __exit__(self, *exc) -> bool:
        self.release()
        return False


@dataclass(eq=False)
class _Held:
    staged: object  # what ``release()`` gets: the staged frame or its path
    pins: int = 0  # pinned leases reading it
    last_drain: int | None = None  # last unpinned drain that read it
    retired: bool = False  # its producer serves it to no new lease


class Retention:
    """The daemon's one scratch owner: a ledger of staged frames, the
    drain counter and the lock both are read under. Thread-safe: N
    replan channels, a compaction and a drain may lease at once."""

    def __init__(self):
        self._lock = threading.Lock()
        self._held: dict = {}  # stage path -> _Held
        self._drains = 0  # unpinned leases so far

    def lease(self, pin: bool = False) -> Lease:
        """A lease for one drain (``pin=False``: counts a drain) or one
        tick or compaction (``pin=True``)."""
        with self._lock:
            if pin:
                return Lease(self, None)
            self._drains += 1
            self._collect()
            return Lease(self, self._drains)

    def retire(self, staged) -> None:
        """Their producer serves ``staged`` frames to no new lease:
        release each once no lease keeps it."""
        with self._lock:
            for x in staged:
                self._entry(x).retired = True
            self._collect()

    def close(self) -> None:
        """Daemon stop: release every frame but those still read — by a
        pinned lease, or by the lazy results of the last two drains,
        which callers may collect after stop(). The staging module
        removes those at interpreter exit."""
        with self._lock:
            for h in self._held.values():
                h.retired = True
            self._collect()
            self._held = {}

    def _read(self, lease: Lease, staged) -> None:
        with self._lock:
            for x in staged:
                h = self._entry(x)
                if lease.drain is None:
                    h.pins += 1
                    lease._pinned.append(h)
                else:
                    h.last_drain = lease.drain

    def _unpin(self, lease: Lease) -> None:
        with self._lock:
            for h in lease._pinned:
                h.pins -= 1
            lease._pinned = []
            self._collect()

    def _entry(self, staged) -> _Held:
        return self._held.setdefault(
            getattr(staged, "stage_path", staged), _Held(staged)
        )

    def _collect(self) -> None:
        from pmacct_spark.operators.staging import release

        for path, h in list(self._held.items()):
            if h.retired and not h.pins and (
                h.last_drain is None or self._drains >= h.last_drain + 2
            ):
                del self._held[path]
                release(h.staged)


@dataclass(eq=False)
class _Segment:
    df: DataFrame  # staged rows of every file in ``fids``
    fids: dict  # spool file -> id on its rows (column ``FID``)
    flow_cols: list  # the flow rows' columns, ``FID`` left out
    # the options rows' columns; None: a flavor without options
    # records, or an enriched segment
    opt_cols: list | None = None


class _Layer:
    """Staged per-spool-file segments built under one key: what the
    decoded and the enriched layers of :class:`DecodedStore` share.
    The store's lock is held around every call."""

    def __init__(self, owner: Retention):
        self._owner = owner
        self.segments: list[_Segment] = []
        self.key = None  # the key the segments were built under

    def rekey(self, key) -> None:
        """Adopt ``key``; a change retires every segment."""
        if key != self.key:
            self.retire()
            self.key = key

    def todo(self, files) -> list:
        """The ``files`` no segment covers, in order."""
        covered = {f for s in self.segments for f in s.fids}
        return [f for f in files if f not in covered]

    def read(self, files, lease: Lease) -> list[_Segment]:
        """The segments holding any of ``files`` (the live spool), read
        under ``lease``; the others are retired."""
        live = set(files)
        reading = [s for s in self.segments if live & s.fids.keys()]
        gone = [s.df for s in self.segments if s not in reading]
        self.segments = reading
        lease.read([s.df for s in reading])
        if gone:
            self._owner.retire(gone)
        return list(reading)  # later updates append to self.segments

    def retire(self) -> None:
        self._owner.retire([s.df for s in self.segments])
        self.segments = []


def _union(segments, ids: set, rows: Callable) -> DataFrame | None:
    """The rows of the files whose ids are in ``ids``: ``rows(segment,
    df)`` of each segment holding any of them (None: it has none of
    that kind), ``df`` filtered by ``FID`` where the segment also
    holds other files."""
    parts = []
    for seg in segments:
        have = set(seg.fids.values())
        keep = have & ids
        if not keep:
            continue
        df = seg.df
        if keep != have:
            df = df.filter(F.col(FID).isin(sorted(keep)))
        df = rows(seg, df)
        if df is not None:
            parts.append(df)
    if not parts:
        return None
    return functools.reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
    )


class Snapshot:
    """The store as one drain, tick or compaction reads it: the stored
    rows of exactly the spool files it was synced with, kept readable
    by the lease it was synced under."""

    def __init__(self, segments, fids, templates, decode_key):
        self._segments = segments
        self.fids = fids  # spool file -> id, the snapshot's files
        self.templates = templates  # merged template defs of those files
        self.decode_key = decode_key  # the key its segments were decoded under

    def _rows(self, kind: int, files, fid: bool = False) -> DataFrame | None:
        want = {self.fids[f] for f in (self.fids if files is None else files)}

        def rows(seg, df):
            cols = seg.flow_cols if kind == 0 else seg.opt_cols
            if cols is None:
                return None
            return df.filter(F.col(KIND) == kind).select(
                *cols, *([FID] if fid else [])
            )

        return _union(self._segments, want, rows)

    def flows(self, files=None, fid: bool = False) -> DataFrame:
        """Decoded flow rows of ``files`` (default: every file); with
        ``fid``, each row keeps its file's id in column ``FID``."""
        return self._rows(0, files, fid)

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


class DecodedStore:
    """Per-spool-file rows for one daemon, in two staged layers: the
    decoded rows, and above them the enriched rows (:meth:`enriched`).
    ``owner`` releases the segments it retires. Thread-safe: every
    update is single-flight under one lock, so N replan channels decode
    and enrich each file once between them."""

    def __init__(self, owner: Retention):
        self._owner = owner
        self._lock = threading.Lock()
        self._defs: dict = {}  # live spool file -> template defs (None: conflicting)
        self._decoded = _Layer(owner)  # keyed on the decode key
        self._enriched = _Layer(owner)  # keyed on the enrichment key
        # whether enriched rows are stored under the enrichment key
        # (None: not decided yet)
        self._stored: bool | None = None
        self._ids = itertools.count()
        self._logged: set = set()

    @property
    def _segments(self) -> list[_Segment]:
        """Every segment the store holds, both layers."""
        return self._decoded.segments + self._enriched.segments

    def sync(
        self,
        files: list,
        conf_key,
        seed: dict | None,
        learn: Callable | None,
        decode: Callable,
        lease: Lease,
    ) -> Snapshot | None:
        """Bring the store up to ``files`` (the live spool files, oldest
        first) and return a snapshot of them, read under ``lease``.

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
            live = set(files)
            self._defs = {f: d for f, d in self._defs.items() if f in live}
            new = [f for f in files if f not in self._defs]
            if new:
                learned = learn(new) if learn is not None else {}
                for f in new:
                    self._defs[f] = learned.get(f, {})
            templates = self._merged(files)
            if templates is None:
                return None
            seeded = {**(seed or {}), **templates}
            key = (conf_key, _canon(seeded))
            layer = self._decoded
            if key != layer.key and layer.segments:
                self.note(
                    "re-decoding every stored spool file: "
                    + _change(layer.key, key),
                    logging.INFO,
                )
            layer.rekey(key)
            todo = layer.todo(files)
            if todo:
                layer.segments.append(self._decode(todo, decode, seeded))
            reading = layer.read(files, lease)
            return Snapshot(
                reading,
                {f: fid for s in reading for f, fid in s.fids.items() if f in live},
                templates,
                key,
            )

    def enriched(
        self,
        snap: Snapshot,
        key,
        enrich: Callable,
        lease: Lease,
        files=None,
    ) -> DataFrame | None:
        """The enriched flow rows of ``files`` (default: every file of
        ``snap``), read under ``lease``, or None when this key's
        enrichment is left lazy and the caller builds the frame.

        ``key`` is what enrichment reads besides the decoded rows (the
        snapshot's decode key is added here); a change retires every
        enriched segment. The snapshot's files that no segment covers
        are enriched together, ``enrich(todo, tmp)``, which returns
        their enriched rows with ``FID`` kept and registers any scratch
        it stages with the pinned lease ``tmp``, and stored as one
        ``stage()``d segment; ``tmp`` is released once it is written.
        Enriched rows are stored only when their plan recomputes
        (``staging.plan_recomputes``: a join or a Python node above the
        decoded rows). That is decided once per key, on the first
        plan: when it does not, that plan is returned lazily, and
        later calls under the key return None."""
        from pmacct_spark.operators.staging import plan_recomputes, stage

        want = {snap.fids[f] for f in (snap.fids if files is None else files)}
        with self._lock:
            layer = self._enriched
            key = (snap.decode_key, key)
            if key != layer.key:
                if layer.segments:
                    self.note(
                        "re-enriching every stored spool file: "
                        + _enrich_change(layer.key, key),
                        logging.INFO,
                    )
                layer.rekey(key)
                self._stored = None
            if self._stored is False:
                return None
            todo = layer.todo(snap.fids)
            if todo:
                with self._owner.lease(pin=True) as tmp:
                    df = enrich(todo, tmp)
                    if self._stored is None:
                        self._stored = plan_recomputes(df)
                    if not self._stored:
                        # the key's first plan covers every file; the
                        # caller's lease keeps what it staged
                        lease.read([h.staged for h in tmp._pinned])
                        if files is not None:
                            df = df.filter(F.col(FID).isin(sorted(want)))
                        return df.drop(FID)
                    layer.segments.append(
                        _Segment(
                            stage(df),
                            {f: snap.fids[f] for f in todo},
                            [c for c in df.columns if c != FID],
                        )
                    )
            reading = layer.read(snap.fids, lease)
        return _union(reading, want, lambda seg, df: df.select(*seg.flow_cols))

    def close(self) -> None:
        """Daemon stop: retire every segment (see :meth:`Retention.close`)."""
        with self._lock:
            self._decoded.rekey(None)
            self._enriched.rekey(None)
            self._defs, self._stored = {}, None

    def note(self, msg: str, level: int) -> None:
        """Log each distinct store event once."""
        if msg not in self._logged:
            self._logged.add(msg)
            log.log(level, "decoded-flow store: %s", msg)

    # -- internals ----------------------------------------------------
    def _merged(self, files) -> dict | None:
        merged: dict = {}
        where: dict = {}
        for f in files:
            defs = self._defs[f]
            if defs is None:
                self.note(
                    f"whole-spool decode: {f} redefines a template with "
                    "a different layout",
                    logging.WARNING,
                )
                return None
            for k, spec in defs.items():
                if k in merged and merged[k] != spec:
                    self.note(
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


@dataclass(eq=False)
class _Rib:
    df: DataFrame  # staged lookup RIB
    files: tuple  # the spool files it was built from
    masklens: list  # its distinct mask lengths, longest first


@dataclass
class RibSnapshot:
    """A lookup RIB as enrichment reads it: ``df`` (one row per peer
    and prefix) and ``masklens``, the mask lengths every LPM join over
    it probes, longest first (None: each join discovers them).
    ``lease`` is the lease the daemon's batch path read it under; the
    ``follow_*`` chains register their staged dims with it. The live
    RIB (streaming plans, direct enrichment calls) has none, and no
    ``files``."""

    df: DataFrame
    masklens: list | None
    lease: Lease | None = None
    files: tuple = ()  # the session spool files it was built from
    # the RTR spool files enrichment reads the ROA table from (None:
    # those spooled at read time)
    roa_files: list | None = None


class RibStore:
    """The daemon's lookup RIB, built once per BGP/BMP spool
    generation; ``owner`` releases the RIBs it retires. Thread-safe: a
    rebuild is single-flight under one lock, so N replan channels
    rebuild once between them."""

    def __init__(self, owner: Retention):
        self._owner = owner
        self._lock = threading.Lock()
        self._rib: _Rib | None = None

    def sync(self, listing: Callable, build: Callable, lease: Lease) -> RibSnapshot:
        """The lookup RIB of the live spool files, read under ``lease``.
        ``listing()`` returns them, one sorted tuple per session spool;
        it runs under the lock, so a sync never goes back to an older
        list than another sync already built. ``build(files)`` returns
        the RIB rows of exactly those files; it runs only when they
        differ from the current snapshot's."""
        with self._lock:
            files = listing()
            old = self._rib
            if old is None or old.files != files:
                self._rib = self._build(files, build, old)
                if old is not None:
                    self._owner.retire([old.df])
            rib = self._rib
            lease.read([rib.df])
            return RibSnapshot(rib.df, rib.masklens, lease, rib.files)

    def close(self) -> None:
        """Daemon stop: retire the RIB (see :meth:`Retention.close`)."""
        with self._lock:
            if self._rib is not None:
                self._owner.retire([self._rib.df])
                self._rib = None

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


def _enrich_change(old, new) -> str:
    """Why the enrichment key changed, for the log line: the key is
    ``(decode key, ((part name, value), ...))``."""
    if old[0] != new[0]:
        return "the decode key changed"
    was = dict(old[1])
    return ", ".join(k for k, v in new[1] if was.get(k) != v) + " changed"


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
