"""Property-based tests (hypothesis): randomized inputs against
independent Python reference implementations. The reference repo has no
property tests (SURVEY.md §5); these cover the algebraically subtle
operators where a worked example can miss edge cases.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from pmacct_spark.functions.hashing import MUL, P
from pmacct_spark.operators.fss import fss_sample
from pmacct_spark.operators.lpm import lpm_join
from pmacct_spark.operators.sessionize import sessionize
from pmacct_spark.streaming.decode import FLOW_SCHEMA

SET = settings(max_examples=8, deadline=None)


# ---------------------------------------------------------------------------
# LPM vs brute-force longest-prefix match
# ---------------------------------------------------------------------------

prefix_st = st.tuples(
    st.integers(min_value=0, max_value=(1 << 32) - 1),  # base ip
    st.integers(min_value=0, max_value=32),  # masklen
    st.integers(min_value=1, max_value=99),  # attr
)


def _ref_lpm(ip: int, prefixes: list[tuple[int, int, int]]):
    """Python reference: longest matching prefix wins (first by attr on
    exact (net, mask) duplicates is irrelevant — we dedupe)."""
    best = None
    for net, mask, attr in prefixes:
        shift = 32 - mask
        if (ip >> shift) == (net >> shift):
            if best is None or mask > best[0]:
                best = (mask, attr)
    return best[1] if best else None


@SET
@given(
    st.lists(prefix_st, min_size=1, max_size=12, unique_by=lambda p: (p[0] >> (32 - p[1]) if p[1] else 0, p[1])),
    st.lists(st.integers(min_value=0, max_value=(1 << 32) - 1), min_size=1, max_size=20),
)
def test_lpm_join_matches_reference(spark, prefixes, ips):
    nets = spark.createDataFrame(
        [
            ((net >> (32 - m)) << (32 - m) if m else 0, m, a)
            for net, m, a in prefixes
        ],
        "net_int long, masklen int, attr long",
    )
    fl = spark.createDataFrame([(i, ip) for i, ip in enumerate(ips)], "rid long, ip long")
    got = {
        r["rid"]: r["out_attr"]
        for r in lpm_join(fl, nets, "ip", {"attr": "out_attr"}).collect()
    }
    canon = [
        (((net >> (32 - m)) << (32 - m)) if m else 0, m, a) for net, m, a in prefixes
    ]
    for i, ip in enumerate(ips):
        assert got[i] == _ref_lpm(ip, canon), f"ip={ip}"


# ---------------------------------------------------------------------------
# fss invariants
# ---------------------------------------------------------------------------

@SET
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=2_000_000),  # bytes
            st.integers(min_value=1, max_value=1000),  # packets
        ),
        min_size=1,
        max_size=30,
    ),
    st.integers(min_value=10, max_value=1_000_000),
)
def test_fss_invariants(spark, rows, t):
    rows = [(i, b, max(1, min(p, b))) for i, (b, p) in enumerate(rows)]
    df = spark.createDataFrame(rows, "k long, bytes long, packets long")
    out = fss_sample(df, t, ["k"]).collect()
    by_k = {r["k"]: r for r in out}
    total_small = 0
    for k, b, p in rows:
        if b >= t:
            # big flows always survive, unchanged
            assert by_k[k]["bytes"] == b and by_k[k]["packets"] == p
        else:
            total_small += b
            if k in by_k:  # surviving small flows renormalize to t
                assert by_k[k]["bytes"] == t
                assert by_k[k]["packets"] == t // (b // p)
    # exactly floor(sum_small/t) small flows survive (each small flow
    # advances the accumulator by < t, so every crossing keeps one):
    # the estimator's total-byte preservation property
    n_small_kept = sum(1 for k, b, p in rows if b < t and k in by_k)
    assert n_small_kept == total_small // t


# ---------------------------------------------------------------------------
# sessionize invariants
# ---------------------------------------------------------------------------

@SET
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # key
            st.integers(min_value=0, max_value=100_000),  # ts offset seconds
        ),
        min_size=1,
        max_size=40,
    ),
    st.integers(min_value=1, max_value=5000),
)
def test_sessionize_invariants(spark, rows, gap):
    data = [
        (i, k, f"2024-01-01 00:00:00", s) for i, (k, s) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "rid long, k long, base string, off long"
    ).selectExpr(
        "rid", "k",
        "CAST(CAST(base AS TIMESTAMP_NTZ) + make_interval(0,0,0,0,0,0,off) AS TIMESTAMP_NTZ) AS ts",
    )
    out = sessionize(df, ["k"], "ts", gap, order_tiebreak=["rid"]).collect()
    assert len(out) == len(rows)  # no records lost
    # within a key: same session <=> consecutive gaps all <= gap
    per_key: dict = {}
    for r in out:
        per_key.setdefault(r["k"], []).append((r["ts"], r["rid"], r["session_id"]))
    for k, lst in per_key.items():
        lst.sort()
        for (t1, _, s1), (t2, _, s2) in zip(lst, lst[1:]):
            d = (t2 - t1).total_seconds()
            if d > gap:
                assert s2 == s1 + 1
            else:
                assert s2 == s1
        assert lst[0][2] == 0  # first session is 0


# ---------------------------------------------------------------------------
# token-state shingle hash == direct polynomial hash of the string
# ---------------------------------------------------------------------------

def _poly(s: str) -> int:
    acc = 0
    for ch in s:
        acc = (acc * MUL + ord(ch)) % P
    return acc


@SET
@given(
    st.lists(
        st.text(alphabet=st.characters(min_codepoint=33, max_codepoint=126), min_size=1, max_size=8),
        min_size=3,
        max_size=12,
    )
)
def test_shingle_hash_equals_string_hash(spark, tokens):
    from pmacct_spark.operators.dedup import shingle_hash_sets

    text = " ".join(tokens)
    got = shingle_hash_sets(
        spark.createDataFrame([(1, text)], "doc_id long, text string"),
        "doc_id",
        "text",
    ).collect()[0]["hvs"]
    toks = [t.lower() for t in tokens]
    want = sorted(
        {
            _poly(" ".join(toks[i : i + 3]))
            for i in range(len(toks) - 2)
        }
    )
    assert sorted(got) == want


# ---------------------------------------------------------------------------
# connected components vs union-find reference
# ---------------------------------------------------------------------------

edge_st = st.tuples(
    st.integers(min_value=0, max_value=15),
    st.integers(min_value=0, max_value=15),
)


def _ref_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min node of each component as the label
    out: dict[int, int] = {}
    roots: dict[int, int] = {}
    for n in parent:
        r = find(n)
        roots[r] = min(roots.get(r, n), n)
    for n in parent:
        out[n] = roots[find(n)]
    return out


@SET
@given(st.lists(edge_st, min_size=1, max_size=24))
def test_connected_components_matches_union_find(spark, edges):
    from pmacct_spark.operators.curation import connected_components

    # drop self-loops the same way the operator's input contract does
    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r.node: r.cluster_id for r in connected_components(df).collect()
    }
    assert got == _ref_components(edges)


# ---------------------------------------------------------------------------
# quota sampling vs Python replay of the LCG rank
# ---------------------------------------------------------------------------

@SET
@given(
    st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=40, unique=True),
    st.integers(min_value=1, max_value=6),
)
def test_quota_sample_matches_reference(spark, ids, k):
    from pmacct_spark.operators.curation import quota_sample

    rows = [(i, f"g{i % 3}") for i in ids]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = sorted((r.source, r.doc_id) for r in quota_sample(df, "source", "doc_id", k).collect())

    by_group: dict[str, list[int]] = {}
    for i, g in rows:
        by_group.setdefault(g, []).append(i)
    want = sorted(
        (g, i)
        for g, members in by_group.items()
        for i in sorted(members, key=lambda x: ((x * 1103515245 + 12345) % 2147483647, x))[:k]
    )
    assert got == want


# ---------------------------------------------------------------------------
# Extended wire round trip: IPv6 + dual-vlen records survive
# encode -> decode bit-for-bit for arbitrary values
# ---------------------------------------------------------------------------

v6_group_st = st.integers(min_value=0, max_value=0xFFFF)


def _mk_addr(groups):
    return ":".join(f"{g:04x}" for g in groups)


ext_row_st = st.tuples(
    st.lists(v6_group_st, min_size=8, max_size=8),   # ip6_src
    st.lists(v6_group_st, min_size=8, max_size=8),   # ip6_dst
    st.integers(min_value=0, max_value=128),         # mask6_src
    st.integers(min_value=0, max_value=0xFFFFF),     # flow_label
    st.integers(min_value=0, max_value=0xFFFFFFFF),  # bytes
    st.text(
        alphabet=st.characters(min_codepoint=33, max_codepoint=126),
        min_size=0, max_size=300,                    # vrf: forces 255-escape
    ),
)


@SET
@given(st.lists(ext_row_st, min_size=1, max_size=12))
def test_ext_wire_roundtrip(spark, rows):
    from pmacct_spark.sinks.nfprobe import encode_ipfix6
    from pmacct_spark.streaming.decode import decode_any_ext

    data = [
        (
            _mk_addr(s), _mk_addr(d), _mk_addr(d), m, 48, fl,
            b, 1, 80, 443, 6, vrf,
        )
        for s, d, m, fl, b, vrf in rows
    ]
    df = spark.createDataFrame(
        data,
        "ip6_src string, ip6_dst string, ip6_nexthop string, "
        "mask6_src int, mask6_dst int, flow_label long, bytes long, "
        "packets long, port_src int, port_dst int, ip_proto int, "
        "vrf_name string",
    ).coalesce(1)
    back = decode_any_ext(
        encode_ipfix6(df).select("exporter_ip", "payload")
    )
    want = sorted(
        (r[0], r[1], r[3], r[5], r[6], r[11]) for r in data
    )
    got = sorted(
        (r.ip6_src, r.ip6_dst, r.mask6_src, r.flow_label, r.bytes,
         r.vrf_name)
        for r in back.collect()
    )
    assert got == want


# ---------------------------------------------------------------------------
# priority sampling (check_fsrc twin) invariants
# ---------------------------------------------------------------------------

@SET
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5_000_000),  # bytes
            st.integers(min_value=1, max_value=1000),  # packets
        ),
        min_size=1,
        max_size=40,
        ),
    st.integers(min_value=1, max_value=12),  # m
)
def test_priority_sample_invariants(spark, rows, m):
    """Against a direct Python replay: survivors are EXACTLY the top-m
    by z = bytes*P/h (deterministic hash uniform), each renormalized to
    max(bytes, floor(tau)); fewer rows than m -> all kept untouched."""
    from pmacct_spark.operators.fss import (
        PRIO_A,
        PRIO_B,
        PRIO_P,
        priority_sample,
    )

    df = spark.createDataFrame(
        [(i, b, p) for i, (b, p) in enumerate(rows)],
        "event_id long, bytes long, packets long",
    )
    got = {
        r["event_id"]: (r["bytes"], r["packets"])
        for r in priority_sample(df, m, "event_id").collect()
    }

    def z(i, b):
        return (float(b) * PRIO_P) / (1 + (i * PRIO_A + PRIO_B) % PRIO_P)

    order = sorted(
        ((z(i, b), i, b, p) for i, (b, p) in enumerate(rows)),
        key=lambda t: (-t[0], t[1]),
    )
    want = {}
    if len(order) <= m:
        want = {i: (b, p) for _, i, b, p in order}
    else:
        tau = int(order[m][0] // 1)  # floor of the (m+1)-th priority
        for _, i, b, p in order[:m]:
            if b < tau:
                bpr = b // p
                want[i] = (tau, tau // bpr if bpr >= 1 else p)
            else:
                want[i] = (b, p)
    assert got == want


# --- BGP MP v6 codec: encode_bgp_update6 -> _bgp_stream_rows must
#     round-trip ANY prefix at ANY masklen 1..127, including
#     sub-nibble lengths, with the canonical-key invariant: the
#     rendered prefix6 carries ceil(m/4) nibbles and no bits beyond
#     masklen (pure-Python walk, no Spark session needed).
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=(1 << 128) - 1),
            st.integers(min_value=1, max_value=127),
        ),
        min_size=1,
        max_size=12,
    ),
    st.integers(min_value=0, max_value=1),
)
@settings(max_examples=40, deadline=None)
def test_bgp6_mp_roundtrip(routes, withdraw_last):
    from pmacct_spark.streaming.bmp import (
        _bgp_stream_rows,
        _v6_prefix_str,
        encode_bgp_update6,
    )

    keys = [
        _v6_prefix_str(addr.to_bytes(16, "big"), ml) for addr, ml in routes
    ]
    payload = b""
    for (addr, ml), key in zip(routes, keys):
        payload += encode_bgp_update6(key, ml, "64496 65001", local_pref=7)
    if withdraw_last:
        payload += encode_bgp_update6(keys[-1], routes[-1][1], "", withdraw=True)
    rows = _bgp_stream_rows("192.0.2.9", payload, 0)
    assert len(rows) == len(routes) + withdraw_last
    for (addr, ml), key, row in zip(routes, keys, rows):
        assert row["masklen"] == ml
        assert row["prefix6"] == key  # canonical key round-trips
        # canonical: re-rendering the decoded key changes nothing
        from pmacct_spark.streaming.bmp import _v6_prefix_bytes
        assert _v6_prefix_str(_v6_prefix_bytes(key, ml), ml) == key
        nibbles = (ml + 3) // 4
        assert len(key.replace(":", "")) == nibbles
    if withdraw_last:
        wd = rows[-1]
        assert wd["is_withdrawal"] and wd["prefix6"] == keys[-1]


# --- RPKI ROA validation vs an independent Python model of the
#     reference's rule (src/rpki/rpki_lookup.c): VALID iff any
#     covering ROA has maxlen >= plen AND matching origin; INVALID if
#     covered without a match; UNKNOWN if uncovered.
roa_st = st.tuples(
    st.integers(min_value=0, max_value=(1 << 32) - 1),  # net
    st.integers(min_value=8, max_value=28),             # masklen
    st.integers(min_value=0, max_value=8),              # maxlen - masklen
    st.sampled_from([65001, 65002, 65003]),             # asn
)
route_st = st.tuples(
    st.integers(min_value=0, max_value=(1 << 32) - 1),
    st.integers(min_value=8, max_value=32),
    st.sampled_from([65001, 65002, 65003, 65999]),
)


@given(
    st.lists(roa_st, min_size=1, max_size=8),
    st.lists(route_st, min_size=1, max_size=12),
)
@settings(max_examples=15, deadline=None)
def test_rpki_validate_matches_model(spark, roas, routes):
    from pmacct_spark.operators.rpki import rpki_validate

    def mask(net, ml):
        return net >> (32 - ml) if ml else 0

    roa_rows = [
        (mask(net, ml) << (32 - ml), ml, min(ml + extra, 32), asn)
        for net, ml, extra, asn in roas
    ]
    route_rows = [
        (i, mask(net, ml) << (32 - ml) if ml < 32 else net, ml, asn)
        for i, (net, ml, asn) in enumerate(routes)
    ]

    def model(net, plen, origin):
        covered = valid = False
        for rnet, rml, rmax, rasn in roa_rows:
            if rml <= plen and (net >> (32 - rml)) == (rnet >> (32 - rml)):
                covered = True
                if rmax >= plen and rasn == origin:
                    valid = True
        return "v" if valid else ("i" if covered else "u")

    roa_df = spark.createDataFrame(
        roa_rows, "net_int long, masklen int, maxlen int, asn long"
    )
    routes_df = spark.createDataFrame(
        route_rows, "rid long, net_int long, masklen int, origin_as long"
    )
    got = {
        r.rid: r.roa_status
        for r in rpki_validate(routes_df, roa_df).collect()
    }
    want = {rid: model(net, ml, asn) for rid, net, ml, asn in route_rows}
    assert got == want


# ---------------------------------------------------------------------------
# Document chunking: coverage + overlap invariants vs a Python reference
# ---------------------------------------------------------------------------

words_st = st.lists(
    st.text(alphabet="abcdef", min_size=1, max_size=4),
    min_size=0, max_size=200,
)


def _ref_chunks(tokens: list[str], size: int = 64, stride: int = 48):
    n = len(tokens)
    nc = 1 if n <= size else (n - size + stride - 1) // stride + 1
    return [tokens[i * stride : i * stride + size] for i in range(nc)]


@SET
@given(st.lists(words_st, min_size=1, max_size=6))
def test_doc_chunking_invariants(spark, docs):
    """Every token position is covered; consecutive chunks overlap by
    exactly size-stride (except a short tail); chunk contents equal the
    Python reference slices."""
    from pmacct_spark.queries_pipeline import _CHUNK, _STRIDE, chunk_documents

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df).collect()  # the PRODUCT transform, not a copy
    got: dict[int, dict[int, list[str]]] = {}
    for r in out:
        got.setdefault(r["doc_id"], {})[r["chunk_id"]] = list(r["ch"])
    for i, ws in enumerate(docs):
        toks = [w.lower() for w in " ".join(ws).split()]
        ref = _ref_chunks(toks, _CHUNK, _STRIDE)
        mine = [got[i][c] for c in sorted(got[i])]
        assert mine == ref
        covered = sum((len(c) for c in ref))
        # every position covered at least once (chunks tile with overlap)
        assert covered >= len(toks)


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion: dominance invariant vs a Python reference
# ---------------------------------------------------------------------------

ranklist_st = st.lists(
    st.integers(min_value=100, max_value=120), min_size=1, max_size=10,
    unique=True,
)


@SET
@given(ranklist_st, ranklist_st)
def test_rrf_fusion_matches_reference(spark, la, lb):
    """Fused ordering equals the Python RRF reference (integer scores,
    ties by neighbor id); an item ranked better in BOTH lists never
    fuses below one ranked worse in both."""
    import itertools

    from pyspark.sql.window import Window

    a = spark.createDataFrame(
        [(1, n, r + 1) for r, n in enumerate(la)], "query_id long, neighbor_id long, rank long"
    )
    b = spark.createDataFrame(
        [(1, n, r + 1) for r, n in enumerate(lb)], "query_id long, neighbor_id long, rank long"
    )
    aa = a.select(F.col("neighbor_id").alias("an"), F.col("rank").alias("ar"))
    bb = b.select(F.col("neighbor_id").alias("bn"), F.col("rank").alias("br"))
    sc = (
        aa.join(bb, F.col("an") == F.col("bn"), "full_outer")
        .select(
            F.coalesce("an", "bn").alias("n"),
            (
                F.coalesce(F.expr("1000000 DIV (60 + ar)"), F.lit(0))
                + F.coalesce(F.expr("1000000 DIV (60 + br)"), F.lit(0))
            ).alias("score"),
        )
    )
    w = Window.orderBy(F.desc("score"), F.asc("n"))
    got = [
        (r["n"], r["score"])
        for r in sc.withColumn("fr", F.row_number().over(w)).orderBy("fr").collect()
    ]
    # Python reference
    scores: dict[int, int] = {}
    for lst in (la, lb):
        for r, n in enumerate(lst):
            scores[n] = scores.get(n, 0) + 1000000 // (60 + r + 1)
    ref = sorted(scores.items(), key=lambda t: (-t[1], t[0]))
    assert got == ref
    # dominance: better in both -> never below
    pos = {n: i for i, (n, _) in enumerate(got)}
    for x, y in itertools.combinations(scores, 2):
        rx_a = la.index(x) if x in la else len(la) + 100
        ry_a = la.index(y) if y in la else len(la) + 100
        rx_b = lb.index(x) if x in lb else len(lb) + 100
        ry_b = lb.index(y) if y in lb else len(lb) + 100
        if rx_a < ry_a and rx_b < ry_b:
            assert pos[x] < pos[y]


# ---------------------------------------------------------------------------
# BM25 vs a direct Python reference (exact-rational fixed point)
# ---------------------------------------------------------------------------

doc_st = st.lists(
    st.sampled_from(["cat", "dog", "fish", "bird", "ant"]),
    min_size=1,
    max_size=6,
)


def _ref_bm25(docs: list[list[str]], terms: list[str], fp=1_000_000):
    n = len(docs)
    avgdl = sum(len(d) for d in docs) // n
    df = {t: sum(1 for d in docs if t in d) for t in terms}
    out = {}
    for i, d in enumerate(docs):
        dl = len(d)
        s = 0
        for t in terms:
            tf = d.count(t)
            if not tf:
                continue
            num = (2 * n - 2 * df[t] + 1) * 44 * tf * avgdl * fp
            den = (2 * df[t] + 1) * (20 * tf * avgdl + 6 * avgdl + 18 * dl)
            s += num // den
        if s:
            out[i] = s
    return out


@SET
@given(st.lists(doc_st, min_size=1, max_size=10))
def test_bm25_matches_python_reference(spark, docs):
    """The fixed-point rational BM25 equals a direct per-doc Python
    evaluation for arbitrary tiny corpora — corpus-level stats (df,
    avgdl), saturation and length normalization all agree, and the
    result is independent of row order (exact integer arithmetic, no
    float summation-order hazard)."""
    from pmacct_spark.operators.text import bm25_topk

    terms = ["cat", "dog"]
    rows = [(i, " ".join(d)) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_topk(
            df, queries=[(0, terms)], k=len(docs)
        ).collect()
    }
    assert got == _ref_bm25(docs, terms)


# ---------------------------------------------------------------------------
# msglog seq contiguity per peer for arbitrary event interleavings
# ---------------------------------------------------------------------------

ev_st = st.tuples(
    st.sampled_from(["p1", "p2", "p3"]),  # peer
    st.sampled_from([0, 2, 3]),  # msg_type: route / down / up
)


@SET
@given(st.lists(ev_st, min_size=1, max_size=20))
def test_msglog_seq_contiguous_per_peer(spark, events):
    """For ANY interleaving of route/up/down events across peers, the
    per-peer msglog seq is exactly 1..n in stream order (the property
    the reference's bms->log_seq counter provides per logging
    stream)."""
    from pmacct_spark.sinks.msglog import msglog_events
    from pmacct_spark.streaming.bmp import BMP_EVENT_SCHEMA

    cols = [f.name for f in BMP_EVENT_SCHEMA.fields]
    rows = []
    for i, (peer, mtype) in enumerate(events):
        r = {
            "exporter_ip": "x", "peer_ip": peer, "peer_as": 1,
            "msg_type": mtype, "seq": i, "ts_s": 0,
        }
        if mtype == 0:
            r.update(
                prefix=0x0A000000 + i, masklen=24, is_withdrawal=False
            )
        rows.append(tuple(r.get(c) for c in cols))
    df = spark.createDataFrame(rows, BMP_EVENT_SCHEMA).repartition(4)
    got = (
        msglog_events(df)
        .select("peer_ip", "msglog_seq", "seq")
        .collect()
    )
    by_peer: dict = {}
    for r in sorted(got, key=lambda r: r["seq"]):
        by_peer.setdefault(r["peer_ip"], []).append(r["msglog_seq"])
    want = {}
    for i, (peer, _t) in enumerate(events):
        want.setdefault(peer, []).append(None)
    for peer, seqs in by_peer.items():
        assert seqs == list(range(1, len(seqs) + 1)), (peer, seqs)
    assert {p: len(v) for p, v in by_peer.items()} == {
        p: len(v) for p, v in want.items()
    }


# ---------------------------------------------------------------------------
# IPv6 LPM vs bit-level brute force (VERDICT r5 #6: sub-nibble masklens)
# ---------------------------------------------------------------------------


def _v6_str(v: int) -> str:
    """Uncompressed 8-group lowercase rendering of a 128-bit int."""
    return ":".join(f"{(v >> (112 - 16 * i)) & 0xFFFF:04x}" for i in range(8))


def _ref_lpm6(ip: int, prefixes: list[tuple[int, int, int]]):
    best = None
    for net, mask, attr in prefixes:
        shift = 128 - mask
        if (ip >> shift) == (net >> shift):
            if best is None or mask > best[0]:
                best = (mask, attr)
    return best[1] if best else None


@st.composite
def _v6_case(draw):
    prefixes = draw(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=(1 << 128) - 1),
                st.integers(min_value=1, max_value=128),  # incl. sub-nibble
                st.integers(min_value=1, max_value=99),
            ),
            min_size=1,
            max_size=10,
            unique_by=lambda p: (p[0] >> (128 - p[1]), p[1]),
        )
    )
    # random 128-bit ips virtually never hit a random prefix — seed one
    # ip INSIDE each prefix so the positive paths (incl. the sub-nibble
    # remainder compare) are exercised every example
    ips = []
    for net, m, _a in prefixes:
        low = draw(st.integers(min_value=0, max_value=(1 << (128 - m)) - 1)) if m < 128 else 0
        ips.append(((net >> (128 - m)) << (128 - m)) | low)
    ips += draw(
        st.lists(st.integers(min_value=0, max_value=(1 << 128) - 1), max_size=4)
    )
    return prefixes, ips


@SET
@given(_v6_case())
def test_lpm6_join_matches_bit_reference(spark, case):
    from pmacct_spark.operators.lpm import lpm6_join

    prefixes, ips = case
    canon = [
        (((net >> (128 - m)) << (128 - m)), m, a) for net, m, a in prefixes
    ]
    nets = spark.createDataFrame(
        [(_v6_str(net), m, a) for net, m, a in canon],
        "prefix6 string, masklen int, attr long",
    )
    fl = spark.createDataFrame(
        [(i, _v6_str(ip)) for i, ip in enumerate(ips)], "rid long, ip6 string"
    )
    got = {
        r["rid"]: r["out_attr"]
        for r in lpm6_join(fl, nets, "ip6", {"attr": "out_attr"}).collect()
    }
    for i, ip in enumerate(ips):
        assert got[i] == _ref_lpm6(ip, canon), (
            f"ip={_v6_str(ip)} want={_ref_lpm6(ip, canon)} got={got[i]}"
        )


# ---------------------------------------------------------------------------
# exact-substring window stats vs a direct string-multiset reference
# ---------------------------------------------------------------------------

_doc_st = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=33, max_codepoint=126),
        min_size=1,
        max_size=5,
    ),
    min_size=1,
    max_size=10,
)


@SET
@given(st.lists(_doc_st, min_size=1, max_size=8))
def test_exact_substring_matches_reference(spark, docs):
    """The rolling-hash window pipeline must agree with a direct
    count-the-window-strings model (collision-free at these sizes)."""
    from collections import Counter

    from pmacct_spark.operators.dedup import exact_substring_stats

    w = 3
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    got = {
        r[0]: (r[1], r[2], r[3])
        for r in exact_substring_stats(
            spark.createDataFrame(rows, "doc_id long, text string"),
            "doc_id",
            "text",
            w=w,
        ).collect()
    }
    all_windows: Counter = Counter()
    per_doc: dict[int, list[str]] = {}
    for i, toks in enumerate(docs):
        toks = [t.lower() for t in toks]
        wins = [
            " ".join(toks[j : j + w]) for j in range(len(toks) - w + 1)
        ]
        per_doc[i] = wins
        all_windows.update(wins)
    for i, wins in per_doc.items():
        if not wins:
            assert i not in got  # <w tokens -> no windows -> no row
            continue
        ndup = sum(1 for s in wins if all_windows[s] >= 2)
        assert got[i] == (
            len(wins),
            ndup,
            1000 * ndup // len(wins),
        )


# ---------------------------------------------------------------------------
# DSIR fixed-point score vs a direct integer reference
# ---------------------------------------------------------------------------


@SET
@given(
    st.lists(
        st.tuples(_doc_st, st.booleans()),  # (tokens, is_target)
        min_size=2,
        max_size=8,
    )
)
def test_dsir_matches_reference(spark, corpus):
    """The staged/broadcast DSIR plan must reproduce the exact integer
    arithmetic of a direct Python model (same add-1 smoothing, same
    fixed-point DIV, same bucket hashing)."""
    from collections import Counter

    from pmacct_spark.operators.curation import dsir_importance

    nb, fp = 16, 1_000_000
    rows = [
        (i, " ".join(toks), "en" if tgt else "de")
        for i, (toks, tgt) in enumerate(corpus)
    ]
    got = {
        r[0]: (r[1], r[2], r[3])
        for r in dsir_importance(
            spark.createDataFrame(
                rows, "doc_id long, text string, lang string"
            ),
            n_buckets=nb,
            fp=fp,
        ).collect()
    }
    # reference: bigram bucket counts per doc, global target/raw stats
    buckets: dict[int, Counter] = {}
    for i, (toks, _tgt) in enumerate(corpus):
        toks = [t.lower() for t in toks]
        c: Counter = Counter()
        for j in range(len(toks) - 1):
            c[_poly(" ".join(toks[j : j + 2])) % nb] += 1
        buckets[i] = c
    tb: Counter = Counter()
    rb: Counter = Counter()
    for i, (_toks, tgt) in enumerate(corpus):
        for b, c in buckets[i].items():
            rb[b] += c
            if tgt:
                tb[b] += c
    tt, rr = sum(tb.values()), sum(rb.values())
    for i, (_toks, _tgt) in enumerate(corpus):
        if not buckets[i]:
            assert i not in got  # <2 tokens -> no bigrams -> no row
            continue
        score = 0
        for b, c in buckets[i].items():
            lam = min(
                ((tb[b] + 1) * (rr + nb) * fp)
                // ((rb[b] + 1) * (tt + nb)),
                fp * 1000,
            ) - fp
            score += c * lam
        assert got[i] == (
            sum(buckets[i].values()),
            score,
            1 if score > 0 else 0,
        )


# ---------------------------------------------------------------------------
# SemDeDup prune choice vs a direct integer reference
# ---------------------------------------------------------------------------

_vec_st = st.lists(
    st.integers(min_value=-100, max_value=100).map(lambda v: v / 100.0),
    min_size=4,
    max_size=4,
)


@SET
@given(
    st.lists(
        st.tuples(_vec_st, st.integers(min_value=0, max_value=1)),
        min_size=2,
        max_size=10,
    )
)
def test_semdedup_matches_reference(spark, items):
    """semdedup_prune must reproduce a direct Python model: quantize,
    per-cluster integer centroid sum, near-dup pairs at cos >= 0.4,
    prune the member with higher cos-to-centroid (exact sign dispatch +
    cross-multiplied squares, ties -> greater id)."""
    import math

    from pmacct_spark.operators.similarity import QUANT, semdedup_prune

    rows = [(i, vec, blk) for i, (vec, blk) in enumerate(items)]
    got = {
        (r.label, r.pruned_id)
        for r in semdedup_prune(
            spark.createDataFrame(
                rows, "vec_id long, embedding array<float>, label long"
            )
        ).collect()
    }

    def q(vec):
        # float32 column: quantize after the same float cast the engine
        # applies (DOUBLE of a float32 value)
        import struct as _struct

        f32 = [_struct.unpack("f", _struct.pack("f", v))[0] for v in vec]
        return [math.floor(v * QUANT) for v in f32]

    qs = {i: q(vec) for i, (vec, _b) in enumerate(items)}
    nrm = {i: sum(x * x for x in v) for i, v in qs.items()}
    cent: dict[int, list[int]] = {}
    for i, (_v, blk) in enumerate(items):
        c = cent.setdefault(blk, [0, 0, 0, 0])
        for k, x in enumerate(qs[i]):
            c[k] += x
    dotc = {
        i: sum(x * c for x, c in zip(qs[i], cent[blk]))
        for i, (_v, blk) in enumerate(items)
    }

    def higher(a, b):  # cos(a, cent) > cos(b, cent), exact
        ca, cb, sna, snb = dotc[a], dotc[b], nrm[a], nrm[b]
        if ca >= 0 and cb < 0:
            return True
        if ca >= 0 and cb >= 0:
            return float(ca) * ca * snb > float(cb) * cb * sna
        if ca < 0 and cb < 0:
            return float(ca) * ca * snb < float(cb) * cb * sna
        return False

    want = set()
    t2 = 400 * 400
    for a in range(len(items)):
        for b in range(a + 1, len(items)):
            if items[a][1] != items[b][1]:
                continue
            dot = sum(x * y for x, y in zip(qs[a], qs[b]))
            if dot < 0 or float(dot) * dot * 1_000_000 < float(t2) * nrm[a] * nrm[b]:
                continue
            if higher(a, b):
                pruned = a
            elif higher(b, a):
                pruned = b
            else:
                pruned = max(a, b)
            want.add((items[a][1], pruned))
    assert got == want


# ---------------------------------------------------------------------------
# UniMax allocation vs a sequential water-filling reference
# ---------------------------------------------------------------------------


def _ref_unimax(counts: dict[str, int], budget: int, epochs: int):
    """Direct sequential water-filling: ascending caps; a language
    whose cap fits an equal share of the remaining budget is capped,
    the rest split the remainder (DIV; +1 to the first R%m)."""
    order = sorted(counts, key=lambda g: (counts[g] * epochs, g))
    alloc: dict[str, int] = {}
    rem, left = budget, len(order)
    for idx, g in enumerate(order):
        cap = counts[g] * epochs
        if cap * left <= rem:
            alloc[g] = cap
            rem -= cap
            left -= 1
        else:
            base, extra = rem // left, rem % left
            for j, h in enumerate(order[idx:]):
                alloc[h] = base + (1 if j < extra else 0)
            break
    return alloc


@SET
@given(
    st.dictionaries(
        st.sampled_from(["en", "de", "fr", "es", "zh", "ja"]),
        st.integers(min_value=1, max_value=500),
        min_size=1,
        max_size=6,
    ),
    st.integers(min_value=1, max_value=4000),
    st.integers(min_value=1, max_value=3),
)
def test_unimax_matches_reference(spark, counts, budget, epochs):
    from pmacct_spark.operators.curation import unimax_allocate

    rows = [(g,) for g, n in counts.items() for _ in range(n)]
    got = {
        r.lang: (r.n_docs, r.cap, r.allocated, r.full_epochs, r.partial_docs)
        for r in unimax_allocate(
            spark.createDataFrame(rows, "lang string"),
            total_budget_expr=str(budget),
            epochs=epochs,
        ).collect()
    }
    want = _ref_unimax(counts, budget, epochs)
    assert set(got) == set(counts)
    for g, n in counts.items():
        a = want[g]
        assert got[g] == (n, n * epochs, a, a // n, a % n)
    # invariants: never above cap; fully spent unless caps bind first
    total_alloc = sum(a for _n, _c, a, _f, _p in got.values())
    caps = sum(n * epochs for n in counts.values())
    assert all(a <= c for _n, c, a, _f, _p in got.values())
    assert total_alloc == min(budget, caps)


# ---------------------------------------------------------------------------
# pre_tag_label_filter vs a literal port of evaluate_labels_v2
# ---------------------------------------------------------------------------

label_tok = st.sampled_from(["edge", "core", "null", "x", "edgy"])
label_val = st.one_of(
    st.none(),
    st.lists(label_tok, min_size=1, max_size=3).map(",".join),
)
filter_entry = st.tuples(st.booleans(), label_tok).map(
    lambda t: ("-" if t[0] else "") + t[1]
)


def _ref_labels_v2(entries: list[str], label: str | None) -> bool:
    """Literal Python port of the reference walk (evaluate_labels_v2,
    src/util.c:2289; caller gate src/plugin_hooks.c:452). Returns
    True = DELIVER. The C function returns TRUE meaning 'filter out'
    through its inverted caller; this port returns the delivery
    decision directly."""
    if not entries:
        return True  # filter disabled
    tokens = (label if label else "null").split(",")
    for raw in entries:
        neg = raw.startswith("-")
        val = raw[1:] if neg else raw
        matched = val in tokens
        if matched:
            return not neg
        if neg:  # non-matching negated entry: deliver immediately
            return True
    return False


@SET
@given(
    st.lists(filter_entry, min_size=0, max_size=4),
    st.lists(label_val, min_size=1, max_size=8),
)
def test_label_filter_matches_reference(spark, entries, labels):
    from pmacct_spark.operators.pretag import label_filter_keep

    df = spark.createDataFrame(
        [(i, lv) for i, lv in enumerate(labels)],
        "row_id int, label string",
    )
    kept = {
        r["row_id"]
        for r in df.filter(label_filter_keep(entries)).collect()
    }
    want = {
        i for i, lv in enumerate(labels) if _ref_labels_v2(entries, lv)
    }
    assert kept == want


# ---------------------------------------------------------------------------
# Decoder frames: the O(n) all-NULL Int64 fill vs the list-of-pd.NA build
# ---------------------------------------------------------------------------

# every FLOW_SCHEMA column after exporter_ip and seqno
_FLOW_COLS = [f.name for f in FLOW_SCHEMA.fields][2:]


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=0, max_value=400),
    st.lists(
        st.booleans(), min_size=len(_FLOW_COLS), max_size=len(_FLOW_COLS)
    ),
)
def test_flow_frame_null_fill_matches_pd_na(n, present):
    """_flow_frame fills every column a template leaves absent with
    null_int64; its Arrow output equals the old fill's
    (``pd.array([pd.NA] * n, dtype="Int64")``) for any row count and
    any mix of present and absent columns."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from pmacct_spark.streaming.decode import _flow_frame, null_int64

    assert pa.array(null_int64(n)).equals(
        pa.array(pd.array([pd.NA] * n, dtype="Int64"))
    )
    cols = [f.name for f in FLOW_SCHEMA.fields]
    have = [c for c, p in zip(_FLOW_COLS, present) if p]
    dt = np.dtype([(f"f{i}", ">u4") for i in range(len(have))])
    arr = np.zeros(n, dtype=dt)
    for i in range(len(have)):
        arr[f"f{i}"] = np.arange(n, dtype=np.uint32) * (i + 3)
    colmap = tuple((f"f{i}", c) for i, c in enumerate(have))
    item = ("__arr__", "192.0.2.1", 7, ("k", dt, colmap), colmap, arr)
    got = _flow_frame([item], cols)

    want = pd.DataFrame(
        {"exporter_ip": np.repeat(np.asarray(["192.0.2.1"], dtype=object), n),
         "seqno": np.full(n, 7, np.int64)}
    )
    for c in _FLOW_COLS:
        want[c] = (
            arr[f"f{have.index(c)}"].astype(np.int64)
            if c in have
            else pd.array([pd.NA] * n, dtype="Int64")
        )
    assert pa.Table.from_pandas(got, preserve_index=False).equals(
        pa.Table.from_pandas(want[cols], preserve_index=False)
    )
