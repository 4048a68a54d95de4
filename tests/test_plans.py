"""Physical-plan quality gates: the properties that make these queries
survive a 100x scale-up. Each assertion reads the formatted explain
output of a real gated query:

  - scans are column-pruned (ReadSchema carries only needed fields);
  - filters reach the parquet scan (PushedFilters non-empty);
  - dimension joins broadcast (BroadcastHashJoin, no shuffle of facts);
  - aggregations partial-aggregate before the exchange (map-side
    combine);
  - hot relational paths contain no Python UDF (stay in codegen).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pmacct_spark.config import PluginConfig
from pmacct_spark.driver_queries import flows
from pmacct_spark.pipeline import build_aggregation
from tests.conftest import SF_DIR

import __spark_entry__ as entrymod


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_column_pruning_reaches_scan(spark):
    """aggregate: proto only -> the events scan must not read props/
    event_type (only the columns the derivations need)."""
    cfg = PluginConfig(aggregate=["proto"])
    plan = _plan(build_aggregation(flows(spark, SF_DIR), cfg))
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "props" not in scan and "event_type" not in scan
    assert "user_id" in scan  # proto derives from user_id


def test_filter_pushdown_reaches_scan(spark):
    """A filter on a physical column must appear in PushedFilters."""
    df = flows(spark, SF_DIR).filter(F.col("event_id") < 100).select("bytes")
    plan = _plan(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "LessThan(event_id,100)" in pushed


def test_dimension_joins_broadcast(spark):
    """LPM / GeoIP / BGP enrichments must be broadcast joins — the fact
    table never shuffles for a map lookup."""
    q = entrymod.queries()
    for name in ("lpm_networks_src_as", "geoip_country", "bgp_lookup_attrs",
                 "rpki_roa_validation"):
        plan = _plan(q[name](spark, SF_DIR))
        # equi LPM and the bucketed GeoIP range join are both
        # BroadcastHashJoin: ~1 probe per fact row. A BNLJ (scan every
        # range per row) is a scale-killer at MaxMind's ~3M ranges.
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast hash join"
        assert "SortMergeJoin" not in plan, f"{name}: fact-side shuffle join"
        assert "ShuffledHashJoin" not in plan, f"{name}: fact-side shuffle join"
        if name not in ("bgp_lookup_attrs", "rpki_roa_validation"):
            # the synthetic RIB/ROA fixtures build their dims with a
            # tiny region x nation cross join; FACT-side joins are BHJ.
            assert "BroadcastNestedLoopJoin" not in plan, f"{name}: BNLJ range scan"


def test_partial_aggregation_before_exchange(spark):
    """groupBy sums must map-side combine (HashAggregate partial_sum
    upstream of the Exchange)."""
    cfg = PluginConfig(aggregate=["src_host", "dst_host"])
    plan = _plan(build_aggregation(flows(spark, SF_DIR), cfg))
    assert "partial_sum" in plan  # map-side combine present
    # exactly ONE exchange: the (keys) hash shuffle between the two
    # HashAggregate stages — nothing else moves data
    assert plan.count("+- Exchange") == 1


def test_no_python_udf_in_relational_paths(spark):
    """Every oracle-gated relational/aggregate/enrichment query stays
    JVM-side (no BatchEvalPython / ArrowEvalPython / mapInPandas)."""
    q = entrymod.queries()
    for name, fn in q.items():
        if name.startswith(
            ("dedup", "ann_", "text_", "multimodal", "sflow_",
             "account_options_")
        ) or "wire" in name:
            continue  # pipeline/wire-format ops use Arrow kernels by
            # design (account_options_* is an encode->decode wire loop
            # like the *_wire_loop family)
        plan = _plan(fn(spark, SF_DIR))
        assert "EvalPython" not in plan and "MapInPandas" not in plan, (
            f"{name}: Python UDF in hot path"
        )


def test_pipeline_ops_also_jvm_side(spark):
    """The dedup/similarity/text pipelines are pure column expressions —
    no Python in gated queries, EXCEPT the ops explicitly declared as
    Arrow-vectorized (per-block numpy kernels where N² folds can't
    compete; each is paired with a pure-JVM strategy sharing its
    oracle)."""
    arrow_vectorized = {
        "dedup_embedding_cosine",
        "multimodal_decode_features",
        # IVF-PQ cell+code assignment is an Arrow-batched numpy kernel
        # (guide §4.2: the literal-fold HOF chain re-parsed a ~30 KB
        # expression per action and evaluated interpreted folds per
        # row); ivf_topk / pq_adc_topk keep the pure-JVM literal-fold
        # strategy (ivf_pq_assign_expr) as the plan-diversity twins.
        # Only ann_ivf_pq_topk shows the node in its FINAL plan — the
        # recall/streaming users run the kernel behind a staging
        # barrier or inside foreachBatch.
        "ann_ivf_pq_topk",
        # NB: dedup_multimodal_phash is NOT exempted — its decode
        # kernel runs once behind the staging barrier, so the final
        # plan must be pure JVM (staged parquet scan + banded join)
        # and the default no-Python assertion below is exactly right
        # pair stage rides the same per-block BLAS kernel as
        # dedup_embedding_cosine (the declared 100 TB path; the
        # HOF strategy shares its oracle family)
        "dedup_semdedup_prune",
    }
    # scale-adaptive barrier consumers (staging.stage_if_heavy): below
    # the input-size threshold the Arrow polyhash fold stays inline in
    # the final plan; above it the fold runs behind a staged-parquet
    # barrier and the plan is a pure-JVM staged scan. Tests run at
    # sf0.001 (below), so either node set is legitimate here — what
    # stays FORBIDDEN is row-at-a-time Python (EvalPython/MapInPandas),
    # asserted for these too.
    arrow_adaptive = {
        "decontaminate_benchmark_overlap",
        "corpus_curation_pipeline",
        "dedup_cross_corpus",
        "dedup_exact_substring",
        "dedup_exact_substring_removal",
        "dedup_minhash_lsh",
        "dedup_minhash_recall_curve",
        "dedup_survivor_selection",
        "dedup_cc_clusters",
        "retrieval_hard_negatives",
        "hybrid_bm25_vector_rrf",
    }
    q = {
        n: f
        for n, f in entrymod.queries().items()
        if "wire" not in n
        and not n.startswith(("sflow_", "account_options_"))
    }
    for name, fn in q.items():
        plan = _plan(fn(spark, SF_DIR))
        if name in arrow_vectorized:
            assert "InPandas" in plan or "MapInArrow" in plan, (
                f"{name}: expected Arrow kernel"
            )
            continue
        if name in arrow_adaptive:
            assert (
                "EvalPython" not in plan and "MapInPandas" not in plan
            ), f"{name}: row-at-a-time Python stage"
            continue
        assert (
            "EvalPython" not in plan
            and "MapInPandas" not in plan
            and "MapInArrow" not in plan
        ), f"{name}: unexpected Python stage"
        assert "FlatMapGroupsInPandas" not in plan, (
            f"{name}: unexpected Python stage"
        )


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Pre-bucketing both sides of a recurring join on the join key
    makes it exchange-free — the co-location strategy for repeated
    big-big joins at scale (bucketed tables replace the per-query
    shuffle with a one-time layout cost)."""
    from pmacct_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderdate", "o_custkey"
    )
    spark.sql("DROP TABLE IF EXISTS b_li")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    warehouse = str(tmp_path / "wh")
    (
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", f"{warehouse}/b_li").saveAsTable("b_li")
    )
    (
        orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", f"{warehouse}/b_orders").saveAsTable("b_orders")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # at sf0.001 everything broadcasts; force the big-big shape the
        # bucketing strategy exists for
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_li").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange" not in plan, "bucketed join still shuffles"
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_li")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_lpm6_and_ivf_keep_fact_side_broadcast(spark):
    """The v6 LPM and the IVF candidate join must enrich via broadcast
    joins only — at 100 TB the item/fact table never shuffles for a
    lookup; the sole hash exchanges allowed are the tiny per-query
    ranking windows (IVF) or the final aggregation (LPM)."""
    q = entrymod.queries()
    # (ann_pq_adc_topk is absent by design: its candidate join is a
    # deliberate BroadcastNestedLoop — items x |queries| with no equi
    # key; the composed ann_ivf_pq_topk adds the cell equi key and so
    # must hash-join)
    for name in ("lpm6_networks_src_as", "ann_ivf_topk",
                 "ann_ivf_pq_topk", "bgp6_wire_rib_lookup"):
        plan = _plan(q[name](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join"
        assert "SortMergeJoin" not in plan, f"{name}: fact-side shuffle join"
        assert "ShuffledHashJoin" not in plan, f"{name}: fact-side shuffle join"


def test_ivf_assignment_is_map_side(spark):
    """Centroid assignment happens in a Project over the scan (the
    literal fold) — no join, no exchange, before the probe join."""
    from pmacct_spark.operators import similarity
    from pmacct_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    base = similarity.quantize(emb.select("vec_id", "embedding"), "embedding", "qv")
    base = base.withColumn("nrm", F.expr(similarity._norm_sq("qv"))).drop("embedding")
    cents_df = base.filter(
        F.expr(similarity.IVF_CENTROID_PRED.format(id="vec_id"))
    ).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("qc"),
        F.col("nrm").alias("nc"),
    )
    cents = [(r["cid"], list(r["qc"]), r["nc"]) for r in cents_df.collect()]
    assigned = base.withColumn(
        "cell", F.expr(similarity._ivf_assign_expr(cents, "qv", "nrm"))
    )
    plan = _plan(assigned)
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_no_collect_in_timed_query_paths():
    """No timed query path may materialize a DataFrame on the driver:
    ``.collect()`` / ``.toPandas()`` in queries_*.py is a scale
    liability (VERDICT r3 what's-wrong #1). Driver-side SCALARS
    (``.first()`` on an aggregate) are fine and not matched here."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "pmacct_spark"
    offenders = []
    for f in sorted(root.glob("queries_*.py")):
        for i, line in enumerate(f.read_text().splitlines(), 1):
            # .first()/.head() are the same driver roundtrip spelled
            # differently (scalar subqueries belong in the plan as a
            # 1-row cross join, as q15/q22 do)
            if re.search(
                r"\.collect\(\)|\.toPandas\(\)|\.first\(\)|\.head\(", line
            ):
                offenders.append(f"{f.name}:{i}: {line.strip()}")
    assert not offenders, "\n".join(offenders)


def test_no_logging_import_inside_a_function():
    """Every module logs through its module-level ``pmacct_spark``
    logger: none imports ``logging`` inside a function."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "pmacct_spark"
    offenders = []
    for f in sorted(root.rglob("*.py")):
        tree = ast.parse(f.read_text(), str(f))
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                names = (
                    [a.name for a in node.names]
                    if isinstance(node, ast.Import)
                    else [node.module]
                    if isinstance(node, ast.ImportFrom)
                    else []
                )
                if any(n and n.split(".")[0] == "logging" for n in names):
                    offenders.append(
                        f"{f.relative_to(root)}:{node.lineno} in {fn.name}()"
                    )
    assert not offenders, "\n".join(sorted(set(offenders)))


def _daemon_calls_outside(allowed: dict) -> list[str]:
    """Calls in ``daemon.py`` (module functions and class methods) of a
    name in ``allowed`` made from a function not in its allow set."""
    import ast
    import pathlib

    path = pathlib.Path(__file__).resolve().parent.parent / "pmacct_spark" / "daemon.py"
    tree = ast.parse(path.read_text(), str(path))
    funcs = [n for n in tree.body if isinstance(n, ast.FunctionDef)] + [
        m
        for c in tree.body
        if isinstance(c, ast.ClassDef)
        for m in c.body
        if isinstance(m, ast.FunctionDef)
    ]
    offenders = []
    for fn in funcs:
        for node in ast.walk(fn):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name in allowed and fn.name not in allowed[name]:
                offenders.append(f"daemon.py:{node.lineno} {name}() in {fn.name}()")
    return offenders


def test_one_batch_decode_route():
    """The daemon's batch path decodes and learns only through the
    decoded-flow store. In ``daemon.py``, the whole-spool decode and
    learn passes are called only from the store's learn/decode
    callbacks, the replicated-templates learn and the streaming path,
    and only ``_telemetry_msgs`` reads ``_spool_batch()``."""
    allowed = {
        "learn_template_cache": {"_learn_spool_files", "_ingest_replicated_templates"},
        "decode_options": {"_decode_spool_files"},
        "decode_options_data": {"_decode_spool_files", "_enrich_datagrams"},
        "decode_sflow_counters": {"_decode_spool_files"},
        "_spool_batch": {"_telemetry_msgs"},
    }
    offenders = _daemon_calls_outside(allowed)
    assert not offenders, "\n".join(offenders)


def test_one_batch_aggregation_route():
    """Batch channels read their aggregate through the store's
    aggregate layer. In ``daemon.py``, ``build_aggregation`` is called
    only from the store's build callback (``Daemon._aggregate``) and
    from ``run_continuous``' synchronous plan check; a batch drain or
    replan tick never plans a channel itself. The streaming plans
    (``stream_aggregation``, ``run_to_memory``) are built only by
    ``run_continuous``: a drain serves every channel from the stores."""
    allowed = {
        "build_aggregation": {"_aggregate", "run_continuous"},
        "stream_aggregation": {"run_continuous"},
        "run_to_memory": {"run_continuous"},
    }
    offenders = _daemon_calls_outside(allowed)
    assert not offenders, "\n".join(offenders)


# --- VERDICT r4 what's-wrong #1: forced broadcast of SF-linear tables ---

# Tables whose row count grows with scale factor; a forced F.broadcast
# on any of these is fast at sf0.1 and OOMs every executor at 100 TB.
_SF_LINEAR_MARKERS = {
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_linenumber",
    "events": "event_id",
    "documents": "doc_id",
}


def _broadcast_hint_subtrees(analyzed: str) -> list[str]:
    """Extract the subtree under each broadcast ResolvedHint node from a
    logical-plan string (tree lines are indented with ':- ' / '+- '
    prefixes; a node's subtree is the run of deeper-indented lines)."""
    lines = analyzed.splitlines()

    def indent(s: str) -> int:
        return len(s) - len(s.lstrip(":+- "))

    out = []
    for i, ln in enumerate(lines):
        if "ResolvedHint" in ln and "broadcast" in ln.lower():
            d = indent(ln)
            sub = []
            for nxt in lines[i + 1 :]:
                if nxt.strip() and indent(nxt) <= d:
                    break
                sub.append(nxt)
            out.append("\n".join(sub))
    return out


def test_no_forced_broadcast_of_sf_linear_tables(spark):
    """Two-level gate. Source level: every ``F.broadcast(<var>)`` in
    queries_relational.py must name a fixed-cardinality dim (nation ``n``
    / region ``r``). Plan level: in the analyzed plan of every
    relational query, each broadcast-hint subtree may reference only
    fixed-size dims — never a column unique to an SF-linear table."""
    import pathlib
    import re

    src = (
        pathlib.Path(__file__).resolve().parent.parent
        / "pmacct_spark"
        / "queries_relational.py"
    )
    # allowlist: nation/region and their aliased slices (sn/cn are the
    # supplier-/customer-side nation copies in Q7/Q8), plus the 1-row
    # scalar aggregates cross-joined in q15/q22/q11 (mx/stats/tot) —
    # all fixed-size at any SF
    bad = [
        v
        for v in re.findall(r"F\.broadcast\((\w+)\)", src.read_text())
        if v not in ("n", "r", "sn", "cn", "mx", "stats", "tot")
    ]
    assert not bad, f"forced broadcast of SF-linear var(s): {bad}"

    q = entrymod.queries()
    rel = [
        k
        for k, fn in q.items()
        if getattr(fn, "__module__", "").endswith("queries_relational")
    ]
    assert rel, "no relational queries registered?"
    for name in rel:
        analyzed = q[name](spark, SF_DIR)._jdf.queryExecution().analyzed().toString()
        for sub in _broadcast_hint_subtrees(analyzed):
            # a GLOBAL (ungrouped) aggregate emits exactly one row —
            # broadcasting it is bounded at any SF even though its
            # subtree scans an SF-linear table (q15's max, q22's
            # sum/count). A GROUPED aggregate's cardinality can scale
            # with SF and stays forbidden (Q18's qualifier set).
            head = next(
                (ln.lstrip(":+- ") for ln in sub.splitlines() if ln.strip()),
                "",
            )
            if head.startswith("Aggregate [") and "], [" not in head:
                continue
            for table, marker in _SF_LINEAR_MARKERS.items():
                assert marker not in sub, (
                    f"{name}: broadcast hint covers SF-linear table "
                    f"'{table}' (marker column {marker})"
                )


def test_countmin_topk_avoids_global_window_sort(spark):
    """heavy_hitters_countmin's top-k must plan TakeOrderedAndProject
    (per-partition bounded heap + k-row driver merge), not a global
    single-partition Window sort over the SF-linear per-key estimate
    table. The rank Window is allowed only ABOVE the k-row limit."""
    df = entrymod.queries()["heavy_hitters_countmin"](spark, SF_DIR)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    # any Window node must sit above the bounded top-k, i.e. the plan
    # orders as ...Window... -> ...TakeOrderedAndProject... (formatted
    # explain lists operators top-down, consumer first)
    tree = plan.split("\n\n")[0]  # tree only; drop per-operator details
    lines = tree.splitlines()
    win_idx = [i for i, ln in enumerate(lines) if " Window" in ln]
    top_idx = [i for i, ln in enumerate(lines) if "TakeOrderedAndProject" in ln]
    assert all(w < min(top_idx) for w in win_idx), plan


def test_bpe_apply_is_mapside_jvm(spark):
    """bpe_apply_token_counts' apply pass must be pure-JVM map work:
    no Python stage anywhere, and exactly TWO exchanges in the whole
    train+apply plan tree returned to the driver (the vocabulary
    histogram feeds training; the final per-lang agg) — the chained
    merge replaces themselves must not shuffle."""
    df = entrymod.queries()["bpe_apply_token_counts"](spark, SF_DIR)
    plan = _plan(df)
    assert "EvalPython" not in plan and "InPandas" not in plan
    tree = plan.split("\n\n")[0]
    assert sum("Exchange" in ln for ln in tree.splitlines()) <= 2, tree


def test_hdr_quantiles_single_pass(spark):
    """hdr_quantiles computes ALL requested quantiles in one pass
    (VERDICT r8 #7): one parquet scan, one Exchange for the (grp,code)
    hist aggregation and one for the per-grp window — however many
    quantiles are asked. The old shape unioned a filter+groupBy branch
    per quantile."""
    import re

    from pmacct_spark.operators.sketch import hdr_quantiles

    fl = flows(spark, SF_DIR)
    for qs_tuple in ((500,), (250, 500, 750, 900, 950, 990, 999)):
        # tree section only: the detail section repeats operator names
        tree = _plan(hdr_quantiles(fl, qs=qs_tuple)).split("\n\n")[0]
        assert tree.count("Scan parquet") == 1, f"qs={qs_tuple}"
        real = len(re.findall(r"\bExchange\b", tree)) - tree.count(
            "ReusedExchange"
        )
        assert real == 2, f"qs={qs_tuple}: {real} exchanges"
        assert "Union" not in tree
