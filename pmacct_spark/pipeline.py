"""The channel compiler: PluginConfig -> declarative DataFrame plan.

This is the Spark-first re-expression of one pmacct plugin channel
(reference src/plugin_hooks.c:376-460 routing + src/plugin_common.c
cache/purge):

    filter (aggregate_filter / pre_tag_filter)        -> df.filter
    renormalize (counters *= sampling_rate)           -> withColumn
    window assign / pro-rating explosion              -> operators.windows
    hash group-by over selected primitives + counters -> groupBy().agg()
    preprocess checks (HAVING)                        -> post-agg filter
    top-N (client -T)                                 -> orderBy().limit

Every stage is built-in-expression only, so the whole plan stays in
whole-stage codegen and Catalyst pushes filters/pruning into the scan.
At scale the single shuffle is the groupBy on (bucket, keys) — partial
aggregation (map-side combine) happens automatically; AQE coalesces and
splits skewed partitions (configured in session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pmacct_spark.config import PluginConfig
from pmacct_spark.operators.windows import assign_bucket, explode_prorate
from pmacct_spark.registry import DEFAULT_COUNTERS, PRIMITIVES, SUM_FOLDS, resolve

RENORM_COUNTERS = ("bytes", "packets")  # reference src/pkt_handlers.c:1175-1213


def route(flows: DataFrame, cfg: PluginConfig) -> DataFrame:
    """Route ``flows`` into channel ``cfg``: its filters, post-tagging,
    timestamp truncation and renormalization, in that order (the
    filters see RAW columns). The batch and the streaming aggregation
    both start here."""
    df = flows

    # --- route records into the channel (exec_plugins filters,
    #     reference src/plugin_hooks.c:440-460)
    if cfg.aggregate_filter:
        df = df.filter(cfg.aggregate_filter)
    if cfg.pre_tag_filter is not None:
        df = df.filter(F.col("tag").isin(list(cfg.pre_tag_filter)))
    if cfg.pre_tag_label_filter:
        # pre_tag_label_filter (CONFIG-KEYS:2327): label-value routing
        # into the channel, evaluate_labels_v2 semantics. Without a
        # pre_tag_map nothing carries a label: every record is
        # unlabelled ('null'), exactly as the reference evaluates a
        # NULL pt_label
        from pmacct_spark.operators.pretag import label_filter_keep

        if "label" not in df.columns:
            df = df.withColumn("label", F.lit(None).cast("string"))
        df = df.filter(label_filter_keep(cfg.pre_tag_label_filter))

    # --- post-tagging: constant tag/tag2 evaluated in the plugin,
    #     overriding any pre_tag_map value (CONFIG-KEYS:2350-2356)
    if cfg.post_tag is not None:
        df = df.withColumn("tag", F.lit(cfg.post_tag).cast("bigint"))
    if cfg.post_tag2 is not None:
        df = df.withColumn("tag2", F.lit(cfg.post_tag2).cast("bigint"))

    # --- second-resolution timestamps (timestamps_secs,
    #     CONFIG-KEYS:1690): truncate before windowing/stitching
    if cfg.timestamps_secs:
        for c in ("ts", "end_ts", "timestamp_arrival", "timestamp_export"):
            if c in df.columns:
                df = df.withColumn(
                    c, F.expr(f"CAST(date_trunc('second', {c}) AS TIMESTAMP_NTZ)")
                )

    # --- counter renormalization by sampling rate, pre-aggregation
    #     (reference src/pkt_handlers.c:1175-1213; rate 0 = unknown)
    if cfg.renormalize:
        for c in RENORM_COUNTERS:
            if c in df.columns:
                df = df.withColumn(
                    c,
                    F.expr(
                        f"CASE WHEN sampling_rate > 1 THEN {c} * sampling_rate "
                        f"ELSE {c} END"
                    ),
                )
    return df


def post_agg(out: DataFrame, cfg: PluginConfig) -> DataFrame:
    """Channel ``cfg``'s post-aggregation steps over its aggregate
    ``out``: plain filters and column maps, so the streaming
    aggregation applies them unchanged."""
    # --- preprocess = HAVING + actions (reference src/preprocess.c)
    if cfg.preprocess:
        having = cfg.preprocess.having_sql()
        if having:
            out = out.filter(having)
        if cfg.preprocess.usrf:
            for c in ("bytes", "packets"):
                if c in out.columns:
                    out = out.withColumn(c, F.col(c) * F.lit(cfg.preprocess.usrf))
        if cfg.preprocess.adjb and "bytes" in out.columns:
            out = out.withColumn("bytes", F.col("bytes") + F.lit(cfg.preprocess.adjb))
    return out


def build_aggregation(flows: DataFrame, cfg: PluginConfig) -> DataFrame:
    """Compile one plugin channel into a DataFrame plan over ``flows``."""
    df = route(flows, cfg)

    # --- sum_* folds: one record contributes to both its src-keyed and
    #     dst-keyed group (reference src/plugin_common.c:710-760)
    group_cols: list[str] = []
    folds = [a for a in cfg.aggregate if a in SUM_FOLDS]
    plain = [a for a in cfg.aggregate if a not in SUM_FOLDS]
    if folds:
        passthrough = [PRIMITIVES[a].column for a in plain]
        ctr_cols = [PRIMITIVES[c].column for c in _counter_names(cfg)]
        ts_cols = [c for c in ("ts", "end_ts") if c in df.columns]
        keep = list(dict.fromkeys(passthrough + ctr_cols + ts_cols + ["sampling_rate"]))
        branches = []
        for fold in folds:
            src_p, dst_p, out = SUM_FOLDS[fold]
            src_c, dst_c = PRIMITIVES[src_p].column, PRIMITIVES[dst_p].column
            branches.append(
                df.select(F.col(src_c).alias(out), *[F.col(k) for k in keep])
            )
            branches.append(
                df.select(F.col(dst_c).alias(out), *[F.col(k) for k in keep])
            )
            group_cols.append(out)
        folded = branches[0]
        for b in branches[1:]:
            folded = folded.unionByName(b)
        df = folded

    for prim in resolve(plain):
        if prim.column != prim.name:
            df = df.withColumn(prim.name, F.col(prim.column))
        group_cols.append(prim.name)

    # --- time buckets
    hist = cfg.history_spec()
    counters = _counter_names(cfg)
    if hist is not None:
        if cfg.pro_rating:
            df = explode_prorate(
                df,
                hist,
                [PRIMITIVES[c].column for c in counters if PRIMITIVES[c].agg == "sum"],
                roundoff=cfg.history_roundoff,
                offset=cfg.history_offset,
            )
        elif cfg.multi_window:
            # reference src/plugin_common.c:460-463 without pro-rating:
            # the flow lands WHOLE in every bucket it spans
            df = explode_prorate(
                df, hist, [], roundoff=cfg.history_roundoff,
                offset=cfg.history_offset,
            )
        else:
            df = assign_bucket(
                df, hist, roundoff=cfg.history_roundoff,
                offset=cfg.history_offset,
            )
        group_cols.append("stamp_inserted")

    # --- hash aggregation (reference src/acct.c:29-120 crc32-hash table
    #     == Tungsten hash aggregate; partial agg is the map-side combine
    #     the reference's plugin cache provides)
    aggs = [PRIMITIVES[c].agg_expr() for c in counters]
    if cfg.stitching:
        aggs.append(PRIMITIVES["timestamp_min"].agg_expr())
        aggs.append(PRIMITIVES["timestamp_max"].agg_expr())
    out = df.groupBy(*group_cols).agg(*aggs) if group_cols else df.agg(*aggs)

    out = post_agg(out, cfg)

    # --- client -T top-N (reference src/pmacct.c:3152 merge sort);
    #     tie-broken on the full key so LIMIT is deterministic
    if cfg.topn:
        counter, n = cfg.topn
        order = [F.desc(counter)] + [F.asc(c) for c in group_cols]
        out = out.orderBy(*order).limit(n)

    return out


def _counter_names(cfg: PluginConfig) -> list[str]:
    names = []
    for c in cfg.counters:
        if PRIMITIVES[c].kind != "counter":
            raise ValueError(f"{c!r} is not a counter primitive")
        names.append(c)
    return names or list(DEFAULT_COUNTERS)
