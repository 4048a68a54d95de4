"""pmacct-client flag adapter: the reference client's command surface
(reference src/pmacct.c usage :89-121) mapped onto :class:`ImtTable`.

    pmacct -s                          -> query(table, show_all=True)
    pmacct -c src_as,dst_as -M <spec>  -> query(table, match=spec)
    pmacct -c ... -N <spec>            -> counters_only=True
    pmacct ... -S                      -> sum_matches=True
    pmacct -T bytes,10                 -> topn=("bytes", 10)
    pmacct ... -r                      -> reset_after=True
    pmacct -e                          -> erase=True
    pmacct -O csv|json|formatted       -> output format
    pmacct -u                          -> print proto NUMBERS (disable
                                          presentation rename)

A user of the reference client can express the same request here with
the same vocabulary; output renders via the presentation functions
(proto names, tcp-flag strings) unless ``-u``.
"""

from __future__ import annotations

import json as _json
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pmacct_spark.client.imt import ImtTable
from pmacct_spark.functions.presentation import proto_name


@dataclass
class ClientRequest:
    """One client invocation (flags already parsed)."""

    show_all: bool = False  # -s
    match: str | None = None  # -M / -N spec
    counters_only: bool = False  # -N
    sum_matches: bool = False  # -S
    topn: tuple[str, int] | None = None  # -T counter,N
    reset_after: bool = False  # -r
    erase: bool = False  # -e
    status: bool = False  # -t
    list_primitives: bool = False  # -a
    output: str = "formatted"  # -O
    numeric_protos: bool = False  # -u


def list_primitives() -> list[str]:
    """-a: the available aggregation primitives (the reference prints
    the per-daemon list, src/pmacct.c usage; ours is the registry
    vocabulary plus the special forms)."""
    from pmacct_spark.registry import PRIMITIVES, SUM_FOLDS

    return sorted(set(PRIMITIVES) | set(SUM_FOLDS) | {"none"})


def run_client(table: ImtTable, req: ClientRequest) -> DataFrame | None:
    """Execute one client request against the served table."""
    if req.list_primitives:
        spark = table.df.sparkSession
        return spark.createDataFrame(
            [(p,) for p in list_primitives()], "primitive string"
        )
    if req.erase:
        table.erase()
        return None
    if req.status:
        return table.status()
    if req.topn:
        df = table.topn(*req.topn)
    elif req.match is not None:
        df = table.match(
            req.match,
            counters_only=req.counters_only,
            sum_matches=req.sum_matches,
            reset_after=req.reset_after,
        )
    elif req.show_all:
        df = table.stats()
    else:
        raise ValueError("one of -s / -M / -N / -T / -e required")
    if not req.numeric_protos and "proto" in df.columns:
        df = df.withColumn("proto", proto_name("proto"))
    return df


def render(df: DataFrame, output: str = "formatted") -> str:
    """Render a client result the way -O does (driver-side, for the
    interactive path — NOT a data-plane operation)."""
    return render_rows(df.collect(), df.columns, output)


def render_rows(rows, cols: list[str], output: str = "formatted") -> str:
    """:func:`render` of collected ``rows`` with columns ``cols``."""
    if output == "csv":
        lines = [",".join(cols)]
        lines += [",".join("" if r[c] is None else str(r[c]) for c in cols) for r in rows]
        return "\n".join(lines)
    if output == "json":
        return "\n".join(_json.dumps({c: r[c] for c in cols}, default=str) for r in rows)
    if output == "formatted":
        widths = {
            c: max(len(c), *(len(str(r[c])) for r in rows)) if rows else len(c)
            for c in cols
        }
        head = "  ".join(c.upper().ljust(widths[c]) for c in cols)
        body = [
            "  ".join(str(r[c]).ljust(widths[c]) for c in cols) for r in rows
        ]
        return "\n".join([head] + body)
    raise ValueError(f"unknown output {output!r}")


# ---------------------------------------------------------------------------
# argv adapter: `python -m pmacct_spark.client <pmacct flags>`
# ---------------------------------------------------------------------------

def parse_argv(argv: list[str]) -> tuple[ClientRequest, list[str], str]:
    """Parse the reference client's flag vocabulary (src/pmacct.c:89-121).

    Returns (request, aggregate keys from -c, sf_dir from -D).
    """
    req = ClientRequest()
    keys: list[str] = []
    sf_dir = ""
    it = iter(range(len(argv)))
    i = 0
    def take() -> str:
        nonlocal i
        i += 1
        if i >= len(argv):
            raise ValueError(f"flag {argv[i-1]} needs an argument")
        return argv[i]
    while i < len(argv):
        a = argv[i]
        if a == "-s":
            req.show_all = True
        elif a == "-c":
            keys = [k.strip() for k in take().split(",") if k.strip()]
        elif a == "-M":
            req.match = take()
        elif a == "-N":
            req.match = take()
            req.counters_only = True
        elif a == "-S":
            req.sum_matches = True
        elif a == "-T":
            spec = take().split(",")
            req.topn = (spec[0], int(spec[1]) if len(spec) > 1 else 10)
        elif a == "-r":
            req.reset_after = True
        elif a == "-e":
            req.erase = True
        elif a == "-t":
            req.status = True
        elif a == "-a":
            req.list_primitives = True
        elif a == "-O":
            req.output = take()
        elif a == "-u":
            req.numeric_protos = True
        elif a == "-D":
            sf_dir = take()
        else:
            raise ValueError(f"unknown flag {a!r}")
        i += 1
    return req, keys, sf_dir


def main(argv: list[str] | None = None, spark=None) -> str:
    """The pmacct client binary: build the channel aggregation for the
    requested -c key set over the flow table and serve the query.

    The reference client asks a running daemon's in-memory table; here
    the "daemon table" is the aggregate DataFrame the same -c set
    defines (computed over $SPARK_GRAFT_SF_DIR unless -D overrides)."""
    import os
    import sys

    from pmacct_spark.config import PluginConfig
    from pmacct_spark.driver_queries import build_aggregation, flows

    argv = list(sys.argv[1:] if argv is None else argv)
    req, keys, sf_dir = parse_argv(argv)
    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"
    )
    if spark is None:
        from pmacct_spark.session import get_spark

        spark = get_spark("pmacct-client")
    if req.list_primitives:
        return "\n".join(list_primitives())
    cfg = PluginConfig(aggregate=keys or ["src_host", "dst_host"])
    agg = build_aggregation(flows(spark, sf_dir), cfg)
    table = ImtTable(
        agg,
        keys=[c for c in agg.columns if c not in ("bytes", "packets", "flows")],
        counters=[c for c in ("bytes", "packets", "flows") if c in agg.columns],
    )
    df = run_client(table, req)
    if df is None:
        return ""
    return render(df, req.output)
