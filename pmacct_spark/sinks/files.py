"""Print-plugin sink: formatted/CSV/JSON/Avro files with dynamic
names (reference src/print_plugin.c:383 P_cache_purge; formats
src/pmacct-defines.h:465-471; dynamic-name tokens
src/util.c:874-1240 handle_dynname_internal_strings).

The reference renders one file per purge with strftime tokens and
record variables ($peer_src_ip, $tag, ...) in the path. Spark-first:
those tokens become partition columns — `partitionBy` writes one
directory per token value, which is the cluster-scalable form of
"dynamic filenames" (no driver-side loop over files).
"""

from __future__ import annotations

import logging
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger("pmacct_spark")

# pmacct dynamic-name tokens -> (partition column name, column expr builder)
# strftime tokens derive from the window start (stamp_inserted).
_TIME_TOKENS = {
    "%Y": ("y", "date_format(stamp_inserted, 'yyyy')"),
    "%m": ("m", "date_format(stamp_inserted, 'MM')"),
    "%d": ("d", "date_format(stamp_inserted, 'dd')"),
    "%H": ("H", "date_format(stamp_inserted, 'HH')"),
    "%M": ("Mi", "date_format(stamp_inserted, 'mm')"),
}
_VAR_RE = re.compile(r"\$(\w+)")


def dynamic_partitions(df: DataFrame, name_spec: str) -> tuple[DataFrame, list[str]]:
    """Translate a pmacct dynamic-name spec (e.g.
    ``'flows-%Y%m%d-$peer_src_ip'``) into partition columns on ``df``.
    Returns (df with partition cols, partition col names)."""
    cols: list[str] = []
    for tok, (name, expr) in _TIME_TOKENS.items():
        if tok in name_spec:
            df = df.withColumn(name, F.expr(expr))
            cols.append(name)
    for var in _VAR_RE.findall(name_spec):
        if var not in df.columns:
            raise ValueError(f"dynamic-name variable ${var} not in schema")
        cols.append(var)
    return df, cols


def write_print(
    df: DataFrame,
    path: str,
    fmt: str = "csv",
    name_spec: str | None = None,
    mode: str = "overwrite",
    latest_file: str | None = None,
    markers: bool = False,
    separator: str | None = None,
    write_empty: bool = True,
) -> None:
    """Write aggregates the way the print plugin purges its cache.

    fmt: 'csv' (with header, like print_output: csv + print_header),
    'json' (JSON lines, like print_output: json), 'avro' (Object
    Container Files via the spark-avro datasource when on the
    classpath, else the built-in pure-Python encoder in sinks/avro.py
    — format-conformant either way).

    A purge runs one Spark job: on a local path it is written to a
    hidden sibling directory, counting its rows as it goes, and moved
    into ``path`` only when it holds rows or ``write_empty`` is set.
    """
    out = df
    if fmt in ("event_csv", "event_formatted"):
        # the 'event' variants strip the bytes/packets counter fields
        # (CONFIG-KEYS:1806) — the shape for event data (NAT logging,
        # fw events) where volume counters carry no meaning
        out = out.drop("bytes", "packets")
        fmt = fmt[len("event_"):]
    partition_cols: list[str] = []
    if name_spec:
        out, partition_cols = dynamic_partitions(out, name_spec)
    if "://" in path:
        # no local directory to move a finished purge from: look first
        if not write_empty and out.isEmpty():
            _no_data()
            return
        _write(out, path, fmt, mode, partition_cols, markers, separator)
    else:
        parent, base = os.path.split(os.path.abspath(path))
        tmp = os.path.join(parent, f".{base}.purge-{uuid.uuid4().hex}")
        try:
            rows = _write(
                out, tmp, fmt, "overwrite", partition_cols, markers, separator
            )
            if not rows and not write_empty:
                _no_data()
                return
            _move_in(tmp, path, mode)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    if latest_file:
        _update_latest_pointer(path, latest_file)


def _no_data() -> None:
    # print_write_empty_file default false (CONFIG-KEYS:1272): an empty
    # purge produces no file at all, only the reference's "ET: X" log
    # line
    log.info(
        "write_print: no data to output (print_write_empty_file "
        "false) — ET: X"
    )


def _write(
    out: DataFrame,
    path: str,
    fmt: str,
    mode: str,
    partition_cols: list[str],
    markers: bool,
    separator: str | None,
) -> int:
    """One purge of ``out`` to ``path`` in one job; returns its rows."""
    from pyspark.sql import Observation

    obs = Observation()
    observed = out.observe(obs, F.count(F.lit(1)).alias("rows"))
    writer = observed.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    if fmt == "csv":
        # print_output_separator (CONFIG-KEYS:1830): single char, with
        # \t and \s spellings for tab and space
        sep = {"\\t": "\t", "\\s": " "}.get(
            separator, separator
        ) if separator else ","
        writer.option("header", "true").option("sep", sep).csv(path)
    elif fmt == "json":
        writer.json(path)
    elif fmt == "formatted":
        # the reference's DEFAULT print_output: fixed-width aligned
        # columns (src/print_plugin.c P_write_stats_header). Width
        # discovery needs the whole (small, post-aggregation) result;
        # reuse the client renderer — the print plugin and the client
        # share presentation in the reference too.
        from pmacct_spark.client.cli import render_rows

        if partition_cols:
            raise ValueError(
                "formatted output does not support dynamic names "
                "(name_spec) — use csv/json for partitioned prints"
            )
        rows = out.collect()
        if mode == "overwrite" and os.path.isdir(path):
            shutil.rmtree(path)  # match the writer's overwrite
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "part-00000.txt"), "w") as fh:
            if markers:
                # print_markers (reference src/print_plugin.c:525,1437):
                # purge delimiters for stream-parsing consumers
                fh.write(f"--START ({os.getpid()})--\n")
            fh.write(render_rows(rows, out.columns, "formatted"))
            fh.write("\n")
            if markers:
                fh.write(f"--END ({os.getpid()})--\n")
        return len(rows)
    elif fmt == "avro_json":
        # JSON-encoded Avro objects (CONFIG-KEYS:1813,
        # write_avro_json_record_to_file src/print_plugin.c:1410):
        # union-branch wrapping shared with the bus sinks
        # (sinks/avro.avro_json_wrap)
        from pmacct_spark.sinks.avro import avro_json_wrap

        writer = avro_json_wrap(observed).write.mode(mode)
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.json(path)
    elif fmt == "avro":
        try:
            writer.format("avro").save(path)
        except Exception:
            from pmacct_spark.sinks.avro import write_container_rows

            # no spark-avro datasource here: per-partition container
            # files from the pure-Python encoder (dynamic-name
            # partition columns stay as record fields)
            return write_container_rows(out, path)[1]
    else:
        raise ValueError(f"unknown print format {fmt!r}")
    return obs.get["rows"]


def _move_in(tmp: str, path: str, mode: str) -> None:
    """Put a purge written to ``tmp`` at ``path``: in place of what is
    there (overwrite), or beside it (append; part files carry unique
    names)."""
    if mode == "overwrite" or not os.path.isdir(path):
        if os.path.isdir(path):
            shutil.rmtree(path)
        elif os.path.lexists(path):
            os.unlink(path)
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        os.replace(tmp, path)
        return
    for root, _dirs, files in os.walk(tmp):
        dest = os.path.join(path, os.path.relpath(root, tmp))
        os.makedirs(dest, exist_ok=True)
        for f in files:
            os.replace(os.path.join(root, f), os.path.join(dest, f))


def _update_latest_pointer(path: str, latest_file: str) -> None:
    """print_latest_file (reference src/print_plugin.c link_latest_file,
    CONFIG-KEYS:1244): keep a pointer to the latest purged output. The
    partitioned-write analog: a symlink to the most recently modified
    leaf under ``path`` (the newest dynamic-name partition directory,
    or the write root itself when the print is unpartitioned),
    replaced atomically on every purge."""
    import os

    target = path
    newest, newest_m = None, -1.0
    for root, dirs, _files in os.walk(path):
        for d in dirs:
            full = os.path.join(root, d)
            if "=" not in d:  # only dynamic-name partition dirs
                continue
            m = os.path.getmtime(full)
            if m > newest_m:
                newest, newest_m = full, m
    if newest is not None:
        target = newest
    os.makedirs(os.path.dirname(latest_file) or ".", exist_ok=True)
    tmp = f"{latest_file}.tmp.{os.getpid()}"
    try:
        os.symlink(os.path.abspath(target), tmp)
        os.replace(tmp, latest_file)
    except OSError:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise
