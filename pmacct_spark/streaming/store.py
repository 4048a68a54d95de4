"""The daemon's scratch owner and its batch-path stores: each flow
spool file is decoded once, and enriched once per RIB and maps
generation, each batch channel is aggregated once per drain input,
and the lookup RIB is built once per BGP/BMP spool generation.

One :class:`Retention` per daemon owns every ``stage()``d frame the
batch path leaves behind: the stores' segments, aggregates and RIBs
and the staged dims of the ``follow_*`` LPM chains. Every consumer
takes a :class:`Lease` from it and registers what it reads:

- a batch drain takes an unpinned lease, and counts as one drain;
- a replan tick, a compaction or a counter-log write takes a pinned
  lease and releases it once, when its action completes.

A frame is released, through ``operators.staging.release``, once its
producer has retired it, no pinned lease reads it, and two more
drains have started since the last unpinned drain that read it (the
window that keeps a drain's lazy results readable). Daemon stop
releases the rest, except what is still inside that window: that goes
with the staging module's exit cleanup.

:class:`DecodedStore` keeps two staged layers of per-spool-file
segments; a segment holds the rows of every file one update covered,
stamped with a per-file id (``FID``).

- The decoded layer. A batch drain, replan tick, compaction or counter
  log write syncs it with the live spool files, and it always answers:
  files it has not seen are decoded once, into segments of their rows
  of every kind (flows, options records, option records accounted as
  data rows, sFlow counter samples; :data:`KINDS`), and the store keeps
  each file's template definitions on the driver. Each file decodes
  under the template set in force for it: a key every live file
  agrees on has that layout, and where two files define one key with
  different layouts, each file takes the latest definition at or
  before it, in file order, like the reference's per-(exporter,
  domain, id) template cache. Files sharing one set are decoded in
  one pass, into one segment keyed on the set, the seed and the
  daemon's decode conf; a segment is retired when its files' key
  changes. Definitions of retired files stay in force. A spool with
  no file gives empty frames of every kind.
- The enriched layer, above it (:meth:`DecodedStore.enriched`): the
  rows maps and enrichment make of the decoded ones, ``FID`` kept.
  Files no segment covers are enriched together, in one call and one
  ``stage()``. Its key is the decode conf plus what the caller's
  enrichment reads (the daemon's ``_enrich_key``: the RIB snapshot,
  the maps generation, re-read map files, the RTR feed, options rows
  read across files), and a re-decoded file's rows carry a new id, so
  a drain with no new file and no key change builds no enrichment
  plan. Rows are stored only when their plan would recompute a join
  or a Python node; otherwise the caller keeps its lazy frame.

Work that crosses files (the exporter-id join, the learned sampling
rates) is the caller's: it reads the snapshot, and the enriched layer
tracks it only through its key.

:class:`AggregateStore` is the third layer, above the enriched one:
one staged aggregate per batch channel, the rows of its plan over the
drain's flow frame. Its key is everything that frame reads, computed
without building a plan: the channel's conf, the snapshot's file ids
(:meth:`Snapshot.key`: a new, retired or re-decoded file changes
them), the enrichment key and the compacted flows' append count. A
drain or replan tick under an unchanged key reads the stored table
and plans no aggregation; a key change rebuilds the channel's table
once and retires the old one. A rebuild is staged at once unless the
table it replaces was never read again (an input that changes on
every drain); then its plan is served, and the first sync that finds
its key current stages it. Nothing is merged into an old table.

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
KIND = "__kind"  # a stored decoded row's kind, its index in KINDS
# the row kinds of the decoded layer: flows, options-data records
# (sampling expositions, exporter ids), option records accounted as
# data rows (nfacctd_account_options), sFlow counter samples
KINDS = ("flows", "options", "account", "counters")


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
    cols: dict  # row kind -> that kind's columns, ``FID`` left out
    key: object = None  # a decoded segment's decode key


class _Layer:
    """Staged per-spool-file segments, each built under one key: what
    the decoded and the enriched layers of :class:`DecodedStore` share.
    The store's lock is held around every call."""

    def __init__(self, owner: Retention):
        self._owner = owner
        self.segments: list[_Segment] = []

    def covered(self) -> dict:
        """Spool file -> the id its stored rows carry."""
        return {f: i for s in self.segments for f, i in s.fids.items()}

    def keep(self, valid: Callable) -> list[_Segment]:
        """Retire the segments ``valid(segment)`` rejects; returns them."""
        kept = [s for s in self.segments if valid(s)]
        gone = [s for s in self.segments if s not in kept]
        self.segments = kept
        if gone:
            self._owner.retire([s.df for s in gone])
        return gone

    def read(self, fids: dict, lease: Lease) -> list[_Segment]:
        """The segments holding any of ``fids`` (``{file: id}``, the
        live spool), read under ``lease``; the others are retired."""
        live = set(fids.items())
        self.keep(lambda s: live & s.fids.items())
        lease.read([s.df for s in self.segments])
        return list(self.segments)  # later updates append to self.segments


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

    def __init__(self, segments, fids, templates, conf_key, empty):
        self._segments = segments
        self.fids = fids  # spool file -> id, the snapshot's files
        self.templates = templates  # latest template defs, in file order
        self.conf_key = conf_key  # the decode conf its rows were decoded under
        self._empty = empty  # row kind -> empty frame (FID kept), no files

    def rows(self, kind: str, files=None, fid: bool = False) -> DataFrame | None:
        """Decoded rows of kind ``kind`` (see :data:`KINDS`) of
        ``files`` (default: every file); with ``fid``, each row keeps
        its file's id in column ``FID``. None: the kind is not
        decoded."""
        want = {self.fids[f] for f in (self.fids if files is None else files)}
        tail = [FID] if fid else []

        def rows(seg, df):
            cols = seg.cols.get(kind)
            if cols is None:
                return None
            return df.filter(F.col(KIND) == KINDS.index(kind)).select(*cols, *tail)

        out = _union(self._segments, want, rows)
        if out is None and kind in self._empty:
            out = self._empty[kind]
            out = out if fid else out.drop(FID)
        return out

    def flows(self, files=None, fid: bool = False) -> DataFrame:
        """Decoded flow rows of ``files`` (see :meth:`rows`)."""
        return self.rows("flows", files, fid)

    def options(self, files=None) -> DataFrame | None:
        """Decoded options rows of ``files``; None for a flavor without
        options records."""
        return self.rows("options", files)

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
        self._retired: dict = {}  # latest template defs of retired files
        self._decoded = _Layer(owner)  # each segment under its files' decode key
        self._enriched = _Layer(owner)  # every segment under the enrichment key
        self._enrich_key = None
        # whether enriched rows are stored under the enrichment key
        # (None: not decided yet)
        self._stored: bool | None = None
        self._empty: tuple = (None, {})  # (decode conf, empty frames), no files
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
    ) -> Snapshot:
        """Bring the store up to ``files`` (the live spool files, oldest
        first) and return a snapshot of them, read under ``lease``.

        ``learn(files)`` returns ``{file: template defs}`` for new files
        (None for a file that redefines a template with another
        layout); flavors without templates pass None. Each file decodes
        under the template set in force for it (:meth:`_sets`) over
        ``seed``. ``decode(fids, templates)`` decodes files sharing one
        set, given as ``{file: id}``, in one pass and returns ``(flows,
        other)``: DataFrames whose rows carry their file's id in column
        ``FID``, ``other`` None or ``{row kind: DataFrame}`` for the
        other kinds of :data:`KINDS`. For a spool with no file,
        ``decode({}, seed)`` is planned once per ``conf_key`` for the
        schemas of its empty frames."""
        with self._lock:
            live = set(files)
            for f in [f for f in self._defs if f not in live]:
                self._retired.update(self._defs.pop(f) or {})
            new = [f for f in files if f not in self._defs]
            if new:
                learned = learn(new) if learn is not None else {}
                for f in new:
                    self._defs[f] = learned.get(f, {})
            seed = seed or {}
            sets = dict(zip(files, self._sets(files)))
            keys, canon = {}, {}  # files sharing one set share its key
            for f, t in sets.items():
                if id(t) not in canon:
                    canon[id(t)] = (conf_key, _canon({**seed, **t}))
                keys[f] = canon[id(t)]
            layer = self._decoded

            def stale(seg) -> str | None:
                return next(
                    (f for f in seg.fids if keys.get(f, seg.key) != seg.key), None
                )

            for seg in layer.keep(lambda s: stale(s) is None):
                f = stale(seg)
                self.note(
                    "re-decoding stored spool files: " + _change(seg.key, keys[f]),
                    logging.INFO,
                )
            covered = layer.covered()
            groups: dict = {}
            for f in files:
                if f not in covered:
                    groups.setdefault(keys[f], []).append(f)
            for key, todo in groups.items():
                seg = self._decode(todo, decode, {**seed, **sets[todo[0]]})
                seg.key = key
                layer.segments.append(seg)
            covered = layer.covered()
            fids = {f: covered[f] for f in files}
            reading = layer.read(fids, lease)
            empty = {}
            if not files:
                if self._empty[0] != conf_key:
                    # the decoders' schemas; their Python is never run
                    flows, other = decode({}, seed)
                    self._empty = (conf_key, {
                        k: empty_frame(d.sparkSession, d.schema)
                        for k, d in {"flows": flows, **(other or {})}.items()
                    })
                empty = self._empty[1]
            templates = dict(self._retired)
            for f in files:
                templates.update(self._defs[f] or {})
            return Snapshot(reading, fids, templates, conf_key, empty)

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
        enrichment is left lazy, or ``snap`` holds no file, and the
        caller builds the frame.

        ``key`` is what enrichment reads besides the decoded rows (the
        snapshot's decode conf is added here); a change retires every
        enriched segment, and so does a re-decode, which gives a file's
        rows a new id. The snapshot's files that no segment covers are
        enriched together, ``enrich(todo, tmp)``, which returns their
        enriched rows with ``FID`` kept and registers any scratch it
        stages with the pinned lease ``tmp``, and stored as one
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
            key = (snap.conf_key, key)
            if key != self._enrich_key:
                if layer.segments:
                    self.note(
                        "re-enriching every stored spool file: "
                        + _enrich_change(self._enrich_key, key),
                        logging.INFO,
                    )
                layer.keep(lambda s: False)
                self._enrich_key, self._stored = key, None
            if self._stored is False:
                return None
            covered = layer.covered()
            todo = [f for f, i in snap.fids.items() if covered.get(f) != i]
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
                            {"flows": [c for c in df.columns if c != FID]},
                        )
                    )
            reading = layer.read(snap.fids, lease)
        return _union(reading, want, lambda seg, df: df.select(*seg.cols["flows"]))

    def close(self) -> None:
        """Daemon stop: retire every segment (see :meth:`Retention.close`)."""
        with self._lock:
            self._decoded.keep(lambda s: False)
            self._enriched.keep(lambda s: False)
            self._defs, self._retired, self._stored = {}, {}, None
            self._enrich_key, self._empty = None, (None, {})

    def note(self, msg: str, level: int, once=None) -> None:
        """Log each distinct store event once (``once``: what makes it
        distinct, default the message)."""
        once = msg if once is None else once
        if once not in self._logged:
            self._logged.add(once)
            log.log(level, "decoded-flow store: %s", msg)

    # -- internals ----------------------------------------------------
    def _sets(self, files) -> list[dict]:
        """The template set each of ``files`` decodes under, in order.
        A key on whose layout the retired and live files agree has that
        layout in every set. For a key whose layout differs between
        them, each file takes the latest definition at or before it, in
        file order (retired files first), and files before any takes
        the first, as a late template decodes earlier records when
        they agree. A file that redefines a template itself decodes
        under the set before it, and its in-stream definitions win."""
        layouts: dict = {k: [v] for k, v in self._retired.items()}
        where = dict.fromkeys(self._retired, "a retired spool file")
        for f in files:
            defs = self._defs[f]
            if defs is None:
                self.note(
                    f"{f} redefines a template with a different layout: "
                    "its own definitions decode it in stream order",
                    logging.WARNING,
                )
            for k, spec in (defs or {}).items():
                seen = layouts.setdefault(k, [])
                if spec in seen:
                    continue
                seen.append(spec)
                where.setdefault(k, f)
                if len(seen) == 2:
                    self.note(
                        f"template {k} has different layouts in {where[k]} "
                        f"and {f}: each spool file decodes under the latest "
                        "definition at or before it",
                        logging.WARNING,
                        once=("conflict", k),
                    )
        agreed = {k: v[0] for k, v in layouts.items() if len(v) == 1}
        current = {k: v[0] for k, v in layouts.items() if len(v) > 1}
        if not current:
            return [agreed] * len(files)
        out = []
        for f in files:
            current.update(
                (k, v) for k, v in (self._defs[f] or {}).items() if k in current
            )
            out.append({**agreed, **current})
        return out

    def _decode(self, files, decode, templates) -> _Segment:
        from pmacct_spark.operators.staging import stage

        fids = {f: next(self._ids) for f in files}
        flows, other = decode(fids, templates)
        frames = {"flows": flows, **(other or {})}
        df = functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            [d.withColumn(KIND, F.lit(KINDS.index(k))) for k, d in frames.items()],
        )
        return _Segment(
            stage(df),
            fids,
            {k: [c for c in d.columns if c != FID] for k, d in frames.items()},
        )


def empty_frame(spark, schema) -> DataFrame:
    """An empty frame of ``schema``, planned in the JVM
    (``createDataFrame([])`` would run a Python task per partition)."""
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
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


@dataclass(eq=False)
class Aggregate:
    """One batch channel's stored aggregate: ``df``, the rows of its
    plan over the drain input ``key`` names, staged (``staged`` set)
    or, until the store stages it, the plan itself."""

    key: tuple  # ((part name, value), ...)
    df: DataFrame  # the staged rows read with the plan's schema, or the plan
    staged: DataFrame | None = None  # what the scratch owner releases
    reads: int = 0  # syncs that found it current after the one that built it


class AggregateStore:
    """One stored aggregate per batch channel, rebuilt only when its
    key changes; ``owner`` releases the aggregates it retires.
    Thread-safe: a channel's rebuild is single-flight under its own
    lock, so a drain and that channel's replan tick build it once
    between them, and channels build in parallel."""

    def __init__(self, owner: Retention):
        self._owner = owner
        self._lock = threading.Lock()  # guards the two dicts
        self._slots: dict = {}  # channel -> Aggregate
        self._locks: dict = {}  # channel -> its build lock

    def sync(self, name: str, key: tuple, build: Callable, lease: Lease) -> Aggregate:
        """Channel ``name``'s aggregate over the input ``key`` names,
        read under ``lease``. ``build()`` returns its plan; it runs only
        when ``key`` differs from the stored aggregate's (``((part
        name, value), ...)``, every part the plan reads), and the old
        aggregate is retired. The new plan's rows are staged at once,
        unless the old aggregate was never read again: an input that
        changes on every drain is served its plan, as before, and the
        rows are staged by the first sync that finds the key current."""
        with self._lock:
            lock = self._locks.setdefault(name, threading.Lock())
        with lock:
            agg = self._slots.get(name)
            if agg is None or agg.key != key:
                old = agg
                agg = Aggregate(key, build())
                lazy = old is not None and not old.reads
                if not lazy:
                    _stage(agg)
                with self._lock:
                    self._slots[name] = agg
                log.info(
                    "aggregate store: %s rebuilt (%s)%s", name,
                    _key_change(old, key), ", served unstaged" if lazy else "",
                )
                if old is not None and old.staged is not None:
                    self._owner.retire([old.staged])
            else:
                agg.reads += 1
                if agg.staged is None:
                    _stage(agg)
            if agg.staged is not None:
                # registered before another sync of this channel can
                # retire it
                lease.read([agg.staged])
            return agg

    def close(self) -> None:
        """Daemon stop: retire every aggregate (see :meth:`Retention.close`)."""
        with self._lock:
            slots, self._slots = self._slots, {}
        self._owner.retire([a.staged for a in slots.values() if a.staged is not None])


def _stage(agg: Aggregate) -> None:
    """Stage an aggregate's plan; it is read back from then on."""
    from pmacct_spark.operators.staging import stage_result

    agg.staged = stage_result(agg.df)
    agg.df = _with_schema(agg.staged, agg.df.schema)


def _with_schema(df: DataFrame, schema) -> DataFrame:
    """``df``, staged rows of a frame of ``schema``, read with that
    schema: a parquet read makes every column nullable, and the sinks
    derive their record schemas (Avro unions) from nullability."""
    if df.schema == schema:
        return df
    spark = df.sparkSession
    jss = spark._jsparkSession
    return DataFrame(
        jss.createDataFrame(df._jdf.rdd(), jss.parseDataType(schema.json())), spark
    )


def _key_change(old: Aggregate | None, key: tuple) -> str:
    """Why a channel's aggregate was rebuilt, for the log line."""
    if old is None:
        return "first build"
    was = dict(old.key)
    return ", ".join(k for k, v in key if was.get(k) != v) + " changed"


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
    ``(decode conf, ((part name, value), ...))``."""
    if old[0] != new[0]:
        return "the daemon's decode conf changed"
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
