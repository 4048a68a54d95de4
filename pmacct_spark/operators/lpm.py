"""Longest-prefix-match (LPM) enrichment joins.

The reference resolves src/dst IPs against prefix tables in two places:
the networks_file sorted-array binary search (reference
src/net_aggr.c:455-490) and the BGP RIB radix trie walk (reference
src/bgp/bgp_table.c:247-352). Both are per-record longest-match
lookups against a small-to-medium dimension.

Spark-first strategies (no Catalyst LPM primitive exists):

1. :func:`lpm_join` — *chained broadcast joins*: one broadcast hash
   join per distinct mask length, longest first, results coalesced.
   Zero shuffles of the fact table; the dimension is broadcast once per
   mask length. This mirrors the radix walk (bounded prefix probes) and
   is the right plan when the dimension fits in memory (networks_file,
   GeoIP, RIB snapshots all do: 1e4-1e6 rows). At 100 TB the fact
   table never moves — the only cost is ~K map-side probes.

2. :func:`lpm_join_range` — *range join + max_by*: join on
   ``net_start <= ip <= net_end`` then keep the longest mask per record
   via ``max_by`` over a unique record key. One shuffle; use when the
   dimension is too large to broadcast K times.

Dimensions carry integer prefixes: ``net_int`` (prefix as uint32-in-
bigint), ``masklen``, plus attribute columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _mask_div(masklen: int) -> int:
    """Divisor implementing ip >> (32 - masklen) via integer division."""
    return 1 << (32 - masklen)


def lpm_join(
    flows: DataFrame,
    networks: DataFrame,
    ip_col: str,
    attrs: dict[str, str],
    default: dict[str, object] | None = None,
    extra_keys: dict[str, str] | None = None,
    masklens: list[int] | None = None,
    dim_cache: dict | None = None,
) -> DataFrame:
    """Chained-broadcast LPM: enrich ``flows`` with ``attrs`` (dim column
    -> output column) from the longest matching prefix in ``networks``.

    ``networks`` must have ``net_int`` + ``masklen`` + attr columns; it
    is collected once (driver-side) only to learn the distinct mask
    lengths — the data itself moves as broadcast hash joins.

    ``extra_keys`` (flow column -> dim column) adds equi conditions to
    every per-masklen join — the BGP two-stage lookup (pick the RIB by
    exporter, then LPM within it; reference src/bgp/bgp_lookup.c:89).

    ``masklens`` overrides the driver-side discovery of distinct mask
    lengths. Pass it when the set is already known (the daemon's RIB
    snapshot carries its own), and for STREAMING plans over a live
    dimension: the collect() freezes the set at plan-build time, so a
    dim that is empty (or missing a length) at startup would never
    match routes arriving later — a fixed range keeps every
    per-masklen join in the plan and the stream-static dim
    re-evaluates per micro-batch.

    ``dim_cache``: a caller-owned dict for CHAINED lookups over the
    same ``networks``/``attrs``/``extra_keys`` (follow_nexthop /
    follow_default / ADD-PATH unrolls). Freshly-built per-masklen dim
    subtrees carry new expression ids each call, and Spark's exchange
    reuse did not canonicalize them together at runtime — measured on
    bgp_follow_nexthop_lookup: 16 broadcast-build jobs for 2 masklens
    x 8 chained lookups. Passing one cache across the chain reuses the
    same dim DataFrame objects, so every lookup after the first hits
    the already-materialized broadcast (16 jobs -> 4, ~3.1 s ->
    ~0.7 s warm). The cache must not be shared across different
    networks/attrs/extra_keys combinations.
    """
    if masklens is None:
        masklens = sorted(
            (r[0] for r in networks.select("masklen").distinct().collect()),
            reverse=True,
        )
    else:
        masklens = sorted(masklens, reverse=True)
    extra = extra_keys or {}
    out = flows
    for m in masklens:
        div = _mask_div(m)
        dim = dim_cache.get(m) if dim_cache is not None else None
        if dim is None:
            dim = networks.filter(F.col("masklen") == m).select(
                F.expr(f"net_int DIV {div}").alias(f"__net_{m}"),
                *[
                    F.col(d).alias(f"__ek_{d}_{m}")
                    for d in extra.values()
                ],
                *[
                    F.col(src).alias(f"__{dst}_{m}")
                    for src, dst in attrs.items()
                ],
            )
            if dim_cache is not None:
                # staged-parquet barrier: identical file scans are the
                # one build-side shape Spark's runtime exchange reuse
                # reliably canonicalizes together — reusing the bare
                # Project(Filter(...)) subtree object still rebuilt
                # the broadcast per join (measured: 16 jobs either
                # way; staged dims: 4)
                from pmacct_spark.operators.staging import stage

                dim = stage(dim)
                # surface the scratch dirs so chain owners (follow_*)
                # can hand them to a long-running caller for release —
                # a daemon replanning every tick would otherwise leak
                # one staged dir per masklen per tick (ADVICE r13)
                dim_cache.setdefault("__stage_paths", []).append(
                    dim.stage_path
                )
                dim_cache[m] = dim
        cond = F.expr(f"{ip_col} DIV {div}") == F.col(f"__net_{m}")
        for fcol, dcol in extra.items():
            cond = cond & (F.col(fcol) == F.col(f"__ek_{dcol}_{m}"))
        out = out.join(F.broadcast(dim), cond, "left").drop(
            f"__net_{m}", *[f"__ek_{d}_{m}" for d in extra.values()]
        )
    for src, dst in attrs.items():
        cols = [F.col(f"__{dst}_{m}") for m in masklens]
        expr = F.coalesce(*cols, F.lit(default.get(dst)) if default and dst in default else F.lit(None))
        out = out.withColumn(dst, expr)
        out = out.drop(*[f"__{dst}_{m}" for m in masklens])
    return out


def follow_nexthop_join(
    flows: DataFrame,
    rib: DataFrame,
    ip_col: str,
    peer_col: str,
    follow: list[str],
    out_col: str = "peer_dst_ip",
    external_col: str | None = None,
    max_hops: int = 20,
    max_self: int = 1,
) -> DataFrame:
    """bgp_follow_nexthop / bgp_follow_nexthop_external (reference
    bgp_follow_nexthop_lookup src/bgp/bgp_lookup.c:480-666;
    CONFIG-KEYS:3040-3055): recursive BGP next-hop resolution. The
    flow's destination is LPM-looked-up in the RIB of the exporter
    peer; while the resulting NEXT_HOP matches one of the ``follow``
    prefixes, that next-hop becomes the peer for the next lookup —
    "using each next-hop as BGP source-address for the next BGP RIB
    lookup". ``out_col`` gets the LAST next-hop inside the follow set
    (the routing-domain exit point); ``external_col``, if given, gets
    the _external variant — the next-hop from the routing table OF the
    last in-set node (the first hop OUTSIDE the set). When the FIRST
    lookup's next-hop is already outside the set, both collapse to it
    (bgp_nexthop_info stays NULL and peer_dst_ip falls back to
    bgp_dst_info's next-hop, src/pkt_handlers.c:1463-1466).

    Loop protection mirrors the reference exactly: at most
    ``max_hops`` recursions (MAX_HOPS_FOLLOW_NH=20, src/bgp/bgp.h:89)
    and ``max_self`` self-references — a next-hop equal to the peer
    just looked up decrements the budget, and once it is exhausted NO
    further following happens at all (the `self > 0` guard,
    src/bgp/bgp_lookup.c:592) (MAX_NH_SELF_REFERENCES=1).

    Physical shape: the recursion depth is bounded DIM-side — a
    driver-walk of the peer->nexthop graph (RIB-sized, the same class
    of driver probe as lpm_join's masklen discovery) caps the number
    of unrolled lookups, and each lookup is a chained-broadcast
    :func:`lpm_join`, so the fact table NEVER shuffles: the whole
    resolution is K_masklens x depth map-side broadcast probes.

    ``rib`` columns: ``peer_ip`` (string), ``net_int``, ``masklen``,
    ``nexthop`` (string). ``peer_col``/``ip_col`` name the flow-side
    exporter address (string) and dst (uint32-in-bigint) columns.
    """
    import ipaddress

    from pmacct_spark.functions.addr import ipv4_aton

    follow_nets = [
        ipaddress.ip_network(p, strict=False) for p in follow
    ]

    def _in_follow_col(nh):
        conds = None
        nh_int = ipv4_aton(nh)
        for net in follow_nets:
            div = 1 << (32 - net.prefixlen)
            c = (nh_int - (nh_int % div)) == int(net.network_address)
            conds = c if conds is None else (conds | c)
        return conds if conds is not None else F.lit(False)

    # dim-side depth bound: longest simple path in the follow graph
    # (edges peer -> nexthop where nexthop is in the follow set and is
    # itself a peer) + the self-reference budget + the terminal lookup.
    # ONE driver probe serves both the graph walk and the masklen
    # discovery (two separate collects was a job apiece per query).
    edges_rows = (
        rib.select("peer_ip", "nexthop", "masklen").distinct().collect()
    )
    peers = {r["peer_ip"] for r in edges_rows}

    def _in_follow_py(addr: str) -> bool:
        try:
            a = ipaddress.ip_address(addr)
        except ValueError:
            return False
        return any(a in n for n in follow_nets)

    adj: dict[str, set[str]] = {}
    for r in edges_rows:
        nh = r["nexthop"]
        if nh and nh != r["peer_ip"] and nh in peers and _in_follow_py(nh):
            adj.setdefault(r["peer_ip"], set()).add(nh)

    def _depth(p: str, seen: frozenset) -> int:
        best = 0
        for q in adj.get(p, ()):  # cycles cut by the visited set;
            if q in seen:         # real routing loops are bounded by
                continue          # max_hops anyway
            best = max(best, 1 + _depth(q, seen | {q}))
        return best

    longest = max((_depth(p, frozenset({p})) for p in peers), default=0)
    lookups = min(max_hops, longest + max_self) + 1

    masklens = sorted(
        {r["masklen"] for r in edges_rows},
        reverse=True,
    )

    out = (
        flows.withColumn("__fnh_sa", F.col(peer_col))
        .withColumn("__fnh_saved", F.lit(None).cast("string"))
        .withColumn("__fnh_saved_ext", F.lit(None).cast("string"))
        .withColumn("__fnh_first", F.lit(None).cast("string"))
        .withColumn("__fnh_self", F.lit(max_self))
    )
    # one broadcast build per masklen, chain-wide — but ONLY when the
    # chain is long enough to amortize the staging write each cached
    # dim costs: staging a 2-masklen dim for follow_default's 3-lookup
    # chain regressed it ~30% (VERDICT r13 #1) while follow_nexthop's
    # 16-join unroll gains 16 jobs -> 4. Below the threshold the dims
    # build inline per join, the pre-cache shape.
    dim_cache: dict | None = (
        {} if lookups * len(masklens) >= 8 else None
    )
    for i in range(lookups):
        out = lpm_join(
            out,
            rib,
            ip_col,
            {"nexthop": "__fnh_nh"},
            extra_keys={"__fnh_sa": "peer_ip"},
            masklens=masklens,
            dim_cache=dim_cache,
        )
        nh = F.col("__fnh_nh")
        sa = F.col("__fnh_sa")
        saved = F.col("__fnh_saved")
        saved_ext = F.col("__fnh_saved_ext")
        selfb = F.col("__fnh_self")
        active = sa.isNotNull()
        # matched && self > 0 && ttl > 0: after the self budget is
        # spent following stops entirely; a follow at lookup i is the
        # (i+1)-th recursion, so ttl>0 means i < max_hops
        can_follow = (
            active
            & nh.isNotNull()
            & _in_follow_col(nh)
            & (selfb > 0)
            & F.lit(i < max_hops)
        )
        stop_with_info = active & nh.isNotNull() & ~can_follow
        out = (
            out.withColumn(
                "__fnh_first",
                F.col("__fnh_first") if i else nh,
            )
            .withColumn(
                "__fnh_saved", F.when(can_follow, nh).otherwise(saved)
            )
            .withColumn(
                "__fnh_saved_ext",
                F.when(can_follow | stop_with_info, nh).otherwise(
                    saved_ext
                ),
            )
            .withColumn(
                "__fnh_self",
                F.when(can_follow & (nh == sa), selfb - 1).otherwise(
                    selfb
                ),
            )
            .withColumn(
                "__fnh_sa", F.when(can_follow, nh).otherwise(F.lit(None))
            )
            .drop("__fnh_nh")
        )
    out = out.withColumn(
        out_col, F.coalesce(F.col("__fnh_saved"), F.col("__fnh_first"))
    )
    if external_col is not None:
        out = out.withColumn(
            external_col,
            F.coalesce(F.col("__fnh_saved_ext"), F.col("__fnh_first")),
        )
    out = out.drop(
        "__fnh_sa", "__fnh_saved", "__fnh_saved_ext", "__fnh_first",
        "__fnh_self",
    )
    # scratch dirs the returned plan still reads — the caller owns
    # their release once the result is drained (ADVICE r13)
    out.lpm_stage_dirs = (
        dim_cache.get("__stage_paths", []) if dim_cache else []
    )
    return out


def follow_default_join(
    flows: DataFrame,
    rib: DataFrame,
    ip_col: str,
    peer_col: str,
    follow_default: int,
    out_col: str = "__fd_peer",
    masklens: list[int] | None = None,
) -> DataFrame:
    """bgp_follow_default (CONFIG-KEYS; the start_again_follow_default
    recursion, reference src/bgp/bgp_lookup.c:87,403-476): when the
    exporter's own RIB resolves the flow only through its DEFAULT
    route (masklen 0), the default route's gateway (its NEXT_HOP)
    becomes the agent for a whole new lookup, up to ``follow_default``
    times — partial-view / default-only peerings resolve through the
    router that actually holds the specific routes. When the budget
    runs out the default-route match itself stands (the reference only
    clears bgp_dst while ``follow_default`` is still positive).

    This pre-pass resolves the EFFECTIVE lookup peer into ``out_col``;
    the caller's attribute lpm_join then keys on it, so the whole
    feature costs (follow_default + 1) chained broadcast probes and
    the fact table never shuffles (the follow_nexthop_join shape).

    ``rib`` columns: ``peer_ip``, ``net_int``, ``masklen``,
    ``nexthop`` (string). ``masklens``: the RIB's mask lengths, when
    the caller knows them (default: one discovery collect, as
    :func:`lpm_join` does)."""
    if masklens is None:
        masklens = [
            r[0] for r in rib.select("masklen").distinct().collect()
        ]
    masklens = sorted(masklens, reverse=True)
    lookups = max(int(follow_default), 0) + 1
    out = flows.withColumn("__fd_sa", F.col(peer_col)).withColumn(
        "__fd_final", F.lit(None).cast("string")
    )
    # cache (and stage) the per-masklen dims only when the chain is
    # long enough to amortize the staging writes — the fixture's
    # 3-lookup x 2-masklen chain measured FASTER rebuilding the tiny
    # broadcasts inline than paying 2 parquet write+reads (VERDICT r13
    # #1: 1.67 -> 2.25 s staged); follow_nexthop-depth chains keep the
    # cache (see follow_nexthop_join)
    dim_cache: dict | None = (
        {} if lookups * len(masklens) >= 8 else None
    )
    for i in range(lookups):
        out = lpm_join(
            out,
            rib,
            ip_col,
            {"masklen": "__fd_ml", "nexthop": "__fd_nh"},
            extra_keys={"__fd_sa": "peer_ip"},
            masklens=masklens,
            dim_cache=dim_cache,
        )
        sa = F.col("__fd_sa")
        active = sa.isNotNull()
        is_default = F.col("__fd_ml").isNotNull() & (
            F.col("__fd_ml") == 0
        )
        follow = (
            active
            & is_default
            & F.col("__fd_nh").isNotNull()
            & (F.col("__fd_nh") != sa)  # self-gateway: stop
            & F.lit(i < lookups - 1)  # budget left
        )
        stop = active & ~follow
        out = (
            out.withColumn(
                "__fd_final",
                F.coalesce(
                    F.col("__fd_final"), F.when(stop, sa)
                ),
            )
            .withColumn(
                "__fd_sa",
                F.when(follow, F.col("__fd_nh")).otherwise(
                    F.lit(None)
                ),
            )
            .drop("__fd_ml", "__fd_nh")
        )
    out = out.withColumn(
        out_col, F.coalesce(F.col("__fd_final"), F.col(peer_col))
    ).drop("__fd_sa", "__fd_final")
    out.lpm_stage_dirs = (
        dim_cache.get("__stage_paths", []) if dim_cache else []
    )
    return out


def addpath_nexthop_join(
    flows: DataFrame,
    rib_paths: DataFrame,
    ip_col: str,
    peer_col: str,
    nh_col: str,
    attrs: dict[str, str],
    default: dict | None = None,
    bpdi: list[dict] | None = None,
    masklens: list[int] | None = None,
) -> DataFrame:
    """ADD-PATH per-flow path disambiguation (the nmct2.peer_dst_ip
    match, reference src/bgp/bgp_lookup.c:726-760): when the session
    negotiated RFC 7911, a prefix carries MULTIPLE paths and the
    flow's EXPORTED BGP next-hop (NF9_BGP_IPV4_NEXT_HOP / IE 18,
    ``nh_col``) selects among them — path.next_hop must equal the
    reported address for the path to match at that prefix.

    ``bpdi`` replays bgp_peer_dst_ip_map (CONFIG-KEYS:3011;
    BPDI_find_id src/util.c:2105): entries
    ``{"id": <mapped-ip>, "bgp_nexthop": <rib-next-hop>}`` — for
    RSVP-TE topologies where flows report the tunnel TAIL-END, a path
    whose RIB next-hop maps to the reported address also matches.

    Physical shape: each path contributes ONE candidate row keyed by
    its own next-hop plus one per matching map entry (the map is a
    bounded dim: a broadcast equi-join, no OR predicate); candidates
    dedup per (peer, prefix, key) keeping the best local_pref (the
    reference walks a node's info list and takes the first match);
    then one chained-broadcast :func:`lpm_join` with the next-hop as
    an extra equality key — the fact table never shuffles.

    ``rib_paths`` columns: ``peer_ip``, ``net_int``, ``masklen``,
    ``next_hop`` (bigint) + the attr columns."""
    from pyspark.sql import Window

    cand = rib_paths.withColumn("__nh_key", F.col("next_hop"))
    if bpdi:
        spark = rib_paths.sparkSession
        mdf = spark.createDataFrame(
            [
                (
                    int(ipaddress_v4(e["bgp_nexthop"])),
                    int(ipaddress_v4(e["id"])),
                )
                for e in bpdi
            ],
            "__bpdi_nh long, __bpdi_id long",
        )
        mapped = (
            rib_paths.join(
                F.broadcast(mdf),
                rib_paths["next_hop"] == mdf["__bpdi_nh"],
            )
            .withColumn("__nh_key", F.col("__bpdi_id"))
            .drop("__bpdi_nh", "__bpdi_id")
        )
        cand = cand.unionByName(mapped)
    w = Window.partitionBy(
        "peer_ip", "net_int", "masklen", "__nh_key"
    ).orderBy(F.desc_nulls_last("local_pref"))
    cand = (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .drop("__rn")
    )
    return lpm_join(
        flows,
        cand,
        ip_col,
        attrs,
        default=default,
        extra_keys={peer_col: "peer_ip", nh_col: "__nh_key"},
        masklens=masklens,
    )


def ipaddress_v4(s: str) -> int:
    """Dotted quad -> int (driver-side map parsing)."""
    import ipaddress

    return int(ipaddress.ip_address(s))


def net_mask_merge_sql(
    export_mask: str, file_mask: str, *, no_lpm: bool = False
) -> str:
    """The nmask merge of the reference's fallback ('longest') mode
    (search_src_nmask / search_dst_nmask, src/net_aggr.c:975-1035):

    - default: the networks_file match wins only if LONGER than the
      mask already known from the export (``mask > nmask``);
    - ``networks_file_no_lpm=true`` (CONFIG-KEYS:1062): a file match
      wins whenever it matched at all (``if (mask)``) — even if not
      the longest. A masklen-0 match (default route) counts as no
      match, exactly like the reference's ``if (mask)`` test.

    Returns a dialect-neutral SQL expression (pure CASE — renders
    identically in Spark and DuckDB)."""
    if no_lpm:
        return (
            f"(CASE WHEN ({file_mask}) > 0 THEN ({file_mask}) "
            f"ELSE ({export_mask}) END)"
        )
    return (
        f"(CASE WHEN ({file_mask}) > ({export_mask}) THEN ({file_mask}) "
        f"ELSE ({export_mask}) END)"
    )


def net_addr_sql(
    ip: str, mask: str, *, no_mask_if_zero: bool = False, div_op: str = "{DIV}"
) -> str:
    """The v4 net-address masking step (mask_src_ipaddr,
    src/net_aggr.c:755-815): net = ip & maskbits(mask), as exact
    integer arithmetic. ``networks_no_mask_if_zero=true``
    (CONFIG-KEYS:1087) treats a zero mask as full length — unknown
    prefixes keep the host address instead of collapsing to 0.

    pow(2, n) is IEEE-exact for n in 0..32, so the expression renders
    bit-identically in Spark and DuckDB; integer division is the only
    dialect split (`` DIV `` vs ``//``), exposed via ``div_op``."""
    eff = (
        f"(CASE WHEN ({mask}) = 0 THEN 32 ELSE ({mask}) END)"
        if no_mask_if_zero
        else f"({mask})"
    )
    pw = f"CAST(pow(2, 32 - {eff}) AS BIGINT)"
    return f"((({ip}) {div_op} {pw}) * {pw})"


def lpm_join_range(
    flows: DataFrame,
    networks: DataFrame,
    ip_col: str,
    attrs: dict[str, str],
    record_key: str,
) -> DataFrame:
    """Range-join LPM: match ``net_start <= ip <= net_end``, keep the
    longest mask per record via max_by. ``record_key`` must uniquely
    identify a flow row (used to regroup after the 1-to-many match)."""
    dim = networks.select(
        F.col("net_int").alias("__net_start"),
        (
            F.col("net_int")
            + F.pow(F.lit(2), 32 - F.col("masklen")).cast("bigint")
            - 1
        ).alias("__net_end"),
        F.col("masklen").alias("__masklen"),
        *[F.col(src).alias(f"__attr_{dst}") for src, dst in attrs.items()],
    )
    matched = flows.join(
        F.broadcast(dim),
        (F.col(ip_col) >= F.col("__net_start"))
        & (F.col(ip_col) <= F.col("__net_end")),
        "left",
    )
    group_cols = [c for c in flows.columns]
    aggs = [
        F.max_by(F.col(f"__attr_{dst}"), F.col("__masklen")).alias(dst)
        for dst in attrs.values()
    ]
    return matched.groupBy(*group_cols).agg(*aggs)


def range_join(
    flows: DataFrame,
    ranges: DataFrame,
    ip_col: str,
    attrs: dict[str, str],
    start_col: str = "range_start",
    end_col: str = "range_end",
    bucket_bits: int = 16,
) -> DataFrame:
    """Non-overlapping range enrichment (GeoIP: reference
    src/pkt_handlers.c:749-772 — ip -> country/pocode/coords).

    Physical shape: each range is exploded into the fixed-width buckets
    it covers (``start >> bucket_bits`` .. ``end >> bucket_bits``), then
    the fact side equi-joins on ``ip >> bucket_bits`` with the
    [start, end] containment as a join filter. That makes the join a
    BroadcastHashJoin probing ~1 dim row per fact row — NOT a
    BroadcastNestedLoopJoin scanning all ranges per row, which is the
    difference between O(rows) and O(rows x ranges) at MaxMind scale
    (~3M ranges). Explosion cost per range is
    ``width / 2^bucket_bits + 1`` rows; for /16 buckets a MaxMind-style
    table (mostly sub-/16 ranges) roughly doubles, still broadcastable.
    Because an IP lives in exactly one bucket, a fact row can match at
    most one exploded copy of a range — no dedup needed."""
    width = 1 << bucket_bits
    dim = ranges.select(
        F.col(start_col).alias("__r_start"),
        F.col(end_col).alias("__r_end"),
        *[F.col(src).alias(dst) for src, dst in attrs.items()],
    ).withColumn(
        "__r_bucket",
        F.explode(
            F.sequence(
                F.expr(f"__r_start DIV {width}"), F.expr(f"__r_end DIV {width}")
            )
        ),
    )
    cond = (
        (F.expr(f"{ip_col} DIV {width}") == F.col("__r_bucket"))
        & (F.col(ip_col) >= F.col("__r_start"))
        & (F.col(ip_col) <= F.col("__r_end"))
    )
    return flows.join(F.broadcast(dim), cond, "left").drop(
        "__r_start", "__r_end", "__r_bucket"
    )


def _v6_prefix_len_chars(masklen: int) -> int:
    """Length in characters of an uncompressed-form IPv6 prefix of
    ``masklen`` bits rounded DOWN to whole hex nibbles: every 4 nibbles
    (one group) is followed by a ':' separator."""
    nibbles = masklen // 4
    return (nibbles // 4) * 5 + nibbles % 4


def _v6_nibble_int(col_sql: str, pos: int) -> str:
    """SQL expr: integer value 0-15 of the hex nibble at 1-based char
    position ``pos`` (cross-engine: instr works in Spark, strpos-like
    behavior via instr is fine because addresses are lowercase)."""
    return f"instr('0123456789abcdef', substr({col_sql}, {pos}, 1)) - 1"


def lpm6_join(
    flows: DataFrame,
    networks6: DataFrame,
    ip6_col: str,
    attrs: dict[str, str],
    default: dict[str, object] | None = None,
    extra_keys: dict[str, str] | None = None,
) -> DataFrame:
    """Chained-broadcast LPM for IPv6 with ARBITRARY mask lengths
    (reference handles both families and any masklen in the same
    binsearch, src/net_aggr.c:455-490).

    Addresses are uncompressed 8-group lowercase strings. For masklen
    ``m``: the first ``m DIV 4`` hex nibbles are a fixed-width
    substring equality (colon positions included), and a non-nibble
    remainder (``m % 4`` bits) is an equality on the next nibble's
    value shifted right by ``4 - m%4`` bits. Both conditions are
    EQUI-conditions, so every per-masklen join stays a
    BroadcastHashJoin — the fact table never shuffles, exactly the
    :func:`lpm_join` plan shape. The dim stores ``prefix6`` rendered to
    ``ceil(m/4)`` nibbles (aligned prefixes keep the trailing colon)
    + ``masklen``. (A 128-bit integer mask doesn't fit Spark's BIGINT;
    the string form keeps the key exact and pushdown-friendly.)
    """
    masklens = sorted(
        (r[0] for r in networks6.select("masklen").distinct().collect()),
        reverse=True,
    )
    extra = extra_keys or {}
    out = flows
    for m in masklens:
        plen = _v6_prefix_len_chars(m)
        rem_bits = m % 4
        dim_cols = [
            F.expr(f"substr(prefix6, 1, {plen})").alias(f"__pfx_{m}"),
            *[F.col(d).alias(f"__ek_{d}_{m}") for d in extra.values()],
            *[F.col(src).alias(f"__{dst}_{m}") for src, dst in attrs.items()],
        ]
        if rem_bits:
            shift = 1 << (4 - rem_bits)
            dim_cols.append(
                F.expr(
                    f"({_v6_nibble_int('prefix6', plen + 1)}) DIV {shift}"
                ).alias(f"__nib_{m}")
            )
        dim = networks6.filter(F.col("masklen") == m).select(*dim_cols)
        cond = F.expr(f"substr({ip6_col}, 1, {plen})") == F.col(f"__pfx_{m}")
        for fcol, dcol in extra.items():
            cond = cond & (F.col(fcol) == F.col(f"__ek_{dcol}_{m}"))
        drop = [f"__pfx_{m}", *[f"__ek_{d}_{m}" for d in extra.values()]]
        if rem_bits:
            shift = 1 << (4 - rem_bits)
            cond = cond & (
                F.expr(f"({_v6_nibble_int(ip6_col, plen + 1)}) DIV {shift}")
                == F.col(f"__nib_{m}")
            )
            drop.append(f"__nib_{m}")
        out = out.join(F.broadcast(dim), cond, "left").drop(*drop)
    for src, dst in attrs.items():
        cols = [F.col(f"__{dst}_{m}") for m in masklens]
        fallback = (
            F.lit(default.get(dst)) if default and dst in default else F.lit(None)
        )
        out = out.withColumn(dst, F.coalesce(*cols, fallback))
        out = out.drop(*[f"__{dst}_{m}" for m in masklens])
    return out
