"""Reference-format configuration and map-file loaders.

A pmacct deployment is driven by a ``key: value`` daemon config
(CONFIG-KEYS; ``!`` comments, per-plugin scoping via ``key[name]:``)
plus map files (pre_tag_map, networks_file, ports_file, sampling_map,
aggregate_primitives). This module parses THOSE exact formats into
the engine's native objects — :class:`PluginConfig` channels,
:class:`~pmacct_spark.operators.pretag.Rule` lists, network/ports
rows, :class:`~pmacct_spark.streaming.decode.CustomIE` declarations —
so a reference user's existing files configure this engine unchanged.

Reference parsers mirrored: config read ``src/cfg.c`` (key file
syntax, per-plugin brackets), map grammar ``src/pretag.c:126`` /
``map examples in examples/``, networks list ``src/net_aggr.c``,
ports list ``src/plugin_common.c:1419``, custom primitives
``src/cfg.h:45-63``.
"""

from __future__ import annotations

import ipaddress
import logging
import re
from dataclasses import dataclass, field

from pmacct_spark.config import PluginConfig, Preprocess
from pmacct_spark.operators.pretag import Rule

log = logging.getLogger("pmacct_spark")

# plugin type -> its conf-key prefix (<prefix>_refresh_time,
# <prefix>_trigger_exec, ...; "sql" for the whole SQL family), None for
# types without one. The prefixes' first-seen order is _typed's lookup
# order after the channel's own type.
PLUGIN_PREFIXES = {
    "memory": None, "sql": "sql", "mysql": "sql", "pgsql": "sql",
    "sqlite3": "sql", "print": "print", "kafka": "kafka", "amqp": "amqp",
    "nfprobe": None, "sfprobe": None, "tee": None,
}
# plugin types whose per-type keys map onto a channel
_PLUGIN_TYPES = tuple(PLUGIN_PREFIXES)
# key prefixes that all mean "this channel's history/refresh/..."
_TYPE_PREFIXES = tuple(dict.fromkeys(p for p in PLUGIN_PREFIXES.values() if p))


@dataclass
class Conf:
    """Parsed daemon config: global keys + per-plugin overrides."""

    globals: dict[str, str] = field(default_factory=dict)
    scoped: dict[str, dict[str, str]] = field(default_factory=dict)
    plugins: list[tuple[str, str]] = field(default_factory=list)  # (type, name)

    def get(self, key: str, plugin: str | None = None, default=None):
        if plugin is not None:
            v = self.scoped.get(plugin, {}).get(key)
            if v is not None:
                return v
        return self.globals.get(key, default)

    def getbool(self, key: str, plugin: str | None = None, default=False):
        v = self.get(key, plugin)
        if v is None:
            return default
        return str(v).strip().lower() in ("true", "1", "yes")


_KEY_RE = re.compile(r"^([A-Za-z0-9_]+)(?:\[([^\]]+)\])?\s*:\s*(.*)$")


def parse_conf(text: str) -> Conf:
    """Parse ``key: value`` / ``key[plugin]: value`` lines; ``!``
    starts a comment (whole line or trailing)."""
    conf = Conf()
    for raw in text.splitlines():
        line = raw.split("!", 1)[0].strip()
        if not line:
            continue
        m = _KEY_RE.match(line)
        if not m:
            continue  # reference warns and skips malformed lines
        key, plugin, value = m.group(1), m.group(2), m.group(3).strip()
        if key == "plugins":
            for spec in value.split(","):
                spec = spec.strip()
                pm = re.match(r"^(\w+)(?:\[([^\]]+)\])?$", spec)
                if pm:
                    ptype, pname = pm.group(1), pm.group(2) or pm.group(1)
                    conf.plugins.append((ptype, pname))
            continue
        if plugin:
            conf.scoped.setdefault(plugin, {})[key] = value
        else:
            conf.globals[key] = value
    return conf


def _typed(conf: Conf, plugin: str, suffix: str, ptype: str | None = None):
    """Resolve ``<type>_<suffix>`` for a channel (sql_history /
    print_history / kafka_history ...). The plugin's OWN type prefix
    is consulted first — otherwise a global sql_history would shadow
    a scoped print_history[p] for a print channel."""
    order = list(_TYPE_PREFIXES)
    if ptype in order:
        order.remove(ptype)
        order.insert(0, ptype)
    for pfx in order:
        v = conf.get(f"{pfx}_{suffix}", plugin)
        if v is not None:
            return v
    return None


def _parse_preprocess(spec: str) -> Preprocess:
    """``sql_preprocess: minb=100,maxbpp=1500,usrf=64`` (reference
    src/preprocess.c key grammar)."""
    p = Preprocess()
    for part in spec.split(","):
        part = part.strip()
        if not part or "=" not in part:
            continue
        k, v = part.split("=", 1)
        if hasattr(p, k):
            setattr(p, k, int(v))
    return p


def channels(conf: Conf) -> dict[str, PluginConfig]:
    """Build one :class:`PluginConfig` per declared plugin."""

    def _daemon_bool(key: str, name: str) -> bool:
        # the reference prefixes behavior keys per daemon flavor
        # (nfacctd_renormalize / sfacctd_renormalize / ...): accept
        # any of them so an sfacctd conf renormalizes too
        return any(
            conf.getbool(f"{d}_{key}", name)
            for d in ("nfacctd", "sfacctd", "pmacctd", "uacctd")
        )

    out: dict[str, PluginConfig] = {}
    for _ptype, name in conf.plugins or [("memory", "default")]:
        agg = conf.get("aggregate", name, "")
        cfg = PluginConfig(
            # the reference's `aggregate` token for the TCP-flags
            # primitive is `tcpflags`; the registry (like the JSON
            # output vocabulary) uses tcp_flags — translate here so
            # reference configs work verbatim
            aggregate=[
                {"tcpflags": "tcp_flags",
                 "tunnel_tcpflags": "tunnel_tcpflags"}.get(
                    a.strip(), a.strip()
                )
                for a in agg.split(",")
                if a.strip()
            ],
            history=_typed(conf, name, "history", _ptype),
            history_roundoff=_typed(conf, name, "history_roundoff", _ptype),
            history_offset=int(
                _typed(conf, name, "history_offset", _ptype) or 0
            ),
            pro_rating=_daemon_bool("pro_rating", name),
            stitching=_daemon_bool("stitching", name),
            renormalize=_daemon_bool("renormalize", name),
            aggregate_filter=conf.get("aggregate_filter", name),
            timestamps_secs=conf.getbool("timestamps_secs", name),
        )
        ptf = conf.get("pre_tag_filter", name)
        if ptf:
            cfg.pre_tag_filter = [int(x) for x in ptf.split(",")]
        ptlf = conf.get("pre_tag_label_filter", name)
        if ptlf:
            # comma-OR label list; '-' negates, 'null' = unlabelled
            # (CONFIG-KEYS:2327, NO_GLOBAL — per plugin)
            cfg.pre_tag_label_filter = [
                x.strip() for x in str(ptlf).split(",") if x.strip()
            ]
        pt = conf.get("post_tag", name)
        if pt is not None:
            cfg.post_tag = int(pt)
        pre = _typed(conf, name, "preprocess", _ptype)
        if pre:
            cfg.preprocess = _parse_preprocess(pre)
        out[name] = cfg
    return out


# --- map files --------------------------------------------------------------

# pretag MATCH keys -> flow-schema columns (subset: the keys the engine
# carries as columns; reference full list src/pretag.h:37-108)
_PRETAG_KEY_COLS = {
    "ip": "peer_src_ip",
    "in": "iface_in",
    "out": "iface_out",
    "ip_proto": "ip_proto",
    "src_port": "port_src",
    "dst_port": "port_dst",
    "vlan": "vlan",
    "source_id": "source_id",
    "engine_id": "engine_id",
    "engine_type": "engine_type",
}
_PRETAG_INT_KEYS = {k for k in _PRETAG_KEY_COLS if k != "ip"}

# pre_tag_map sample_type vocabulary (NetFlow/IPFIX side;
# PT_map_sample_type_handler src/pretag_handlers.c:718-744, code
# points src/pmacct-defines.h:588-609). 'flow' collapses the whole
# traffic range at match time (pretag_sample_type_handler
# src/pretag_handlers.c:2327-2340); the sFlow 'enterprise:format'
# form needs a sample-type column the sFlow decode does not carry —
# such rules are skipped like any unsupported key.
_SAMPLE_TYPE_NF: dict[str, object] = {
    "flow": ("range", (1, 99)),  # PM_FTYPE_TRAFFIC..TRAFFIC_MAX
    "flow-ipv4": 2,
    "flow-ipv6": 3,
    "flow-mpls-ipv4": 12,
    "flow-mpls-ipv6": 13,
    "event": 100,  # NF9_FTYPE_EVENT
    "option": 200,  # NF9_FTYPE_OPTION
}
_SAMPLE_TYPE_NF_NEG: dict[str, object] = {
    "flow": ("not range", (1, 99)),
    **{
        k: ("!=", v)
        for k, v in _SAMPLE_TYPE_NF.items()
        if isinstance(v, int)
    },
}


def _strip_host_cidr(v: str) -> str:
    """``ip=`` takes the exporter address, optionally /32 or /128."""
    if v.endswith("/32") or v.endswith("/128"):
        return v.rsplit("/", 1)[0]
    return v


def parse_pretag_map(text: str) -> list[Rule]:
    """pre_tag_map rules: ``set_tag=N key=v ...`` per line, first full
    match wins, ``label=``/``jeq=``/``stack=`` alter evaluation flow,
    negative match values negate (``in=-2``)."""
    rules: list[Rule] = []
    int_sets = {"set_tag", "set_tag2"}
    str_sets = {"set_label", "label", "jeq", "stack"}
    for raw in text.splitlines():
        line = raw.split("!", 1)[0].strip()
        if not line:
            continue
        match: dict[str, object] = {}
        kwargs: dict[str, object] = {}
        unsupported = False
        for token in line.split():
            if "=" not in token:
                continue
            k, v = token.split("=", 1)
            if k in int_sets:
                kwargs[k] = int(v)
            elif k in str_sets:
                kwargs[k] = v
            elif k == "sample_type":
                # negation via the reference's pt_check_neg '-' prefix
                neg = v.startswith("-")
                vocab = _SAMPLE_TYPE_NF_NEG if neg else _SAMPLE_TYPE_NF
                spec = vocab.get(v[1:] if neg else v)
                if spec is None:  # sFlow N:M form or a typo: skip rule
                    unsupported = True
                    continue
                match["flow_type"] = spec
            elif k in _PRETAG_KEY_COLS:
                col = _PRETAG_KEY_COLS[k]
                if k in _PRETAG_INT_KEYS:
                    iv = int(v)
                    match[col] = ("!=", -iv) if iv < 0 else iv
                elif k == "ip" and "/" in v:
                    # the reference prefix-matches the exporter
                    # address for non-host CIDRs (src/pretag.c ip
                    # handler); a string-equality rule would silently
                    # never fire. "Host" is family-specific: /32 is a
                    # host for v4 but a huge PREFIX for v6.
                    try:
                        net = ipaddress.ip_network(v, strict=False)
                    except ValueError:
                        unsupported = True
                        continue
                    host_len = 32 if net.version == 4 else 128
                    if net.prefixlen == host_len:
                        match[col] = v.rsplit("/", 1)[0]
                    elif net.version != 4:
                        unsupported = True  # v6 prefixes not columned
                        continue
                    else:
                        match[col] = (
                            "cidr", (int(net.network_address), net.prefixlen)
                        )
                else:
                    match[col] = v
            else:
                # a MATCH key this engine doesn't carry as a column
                # (e.g. 'filter='): dropping just the key would turn
                # the rule into an overbroad/match-all one — skip the
                # whole line, like the reference skips unparsable rows
                unsupported = True
        if unsupported or (not match and not kwargs):
            continue
        rules.append(Rule(match=match, **kwargs))
    return rules


def parse_networks_file(text: str) -> list[dict]:
    """networks_file rows -> LPM dimension rows. Formats (reference
    examples/networks.lst.example):

        <net>/<mask>
        <origin_as>,<net>/<mask>
        <peer_as>_<origin_as>,<net>/<mask>
        <next-hop>,<origin_as>,<net>/<mask>
    """
    out: list[dict] = []
    for raw in text.splitlines():
        line = raw.split("!", 1)[0].strip()
        if not line:
            continue
        parts = line.split(",")
        nexthop = asn = peer_as = None
        cidr = parts[-1]
        if len(parts) == 3:
            nexthop, asfield = parts[0], parts[1]
        elif len(parts) == 2:
            asfield = parts[0]
        elif len(parts) == 1:
            asfield = None
        else:  # >3 fields: not a known row form — skip, don't misparse
            continue
        # a malformed AS or CIDR skips THAT row (the reference warns
        # and continues); it must not discard the rest of the file
        try:
            if asfield:
                if "_" in asfield:
                    pa, oa = asfield.split("_", 1)
                    peer_as, asn = int(pa), int(oa)
                else:
                    asn = int(asfield)
            net = ipaddress.ip_network(cidr, strict=False)
        except ValueError:
            continue
        out.append(
            {
                "net_int": int(net.network_address),
                "masklen": net.prefixlen,
                "v6": net.version == 6,
                "asn": asn,
                "peer_as": peer_as,
                "nexthop": nexthop,
            }
        )
    return out


# IANA assigned-internet-protocol-numbers names the reference accepts
# in protos_file (its name table mirrors the registry,
# src/pmacct-data.h:152 `_protocols[]`); numbers are always accepted.
IP_PROTOCOL_NAMES: dict[str, int] = {
    "icmp": 1, "igmp": 2, "ggp": 3, "ipencap": 4, "tcp": 6, "egp": 8,
    "igp": 9, "udp": 17, "mux": 18, "ipv6": 41, "ipv6-route": 43,
    "ipv6-frag": 44, "rsvp": 46, "gre": 47, "esp": 50, "ah": 51,
    "mobile": 55, "tlsp": 56, "ipv6-icmp": 58, "ipv6-nonxt": 59,
    "ipv6-opts": 60, "iso-ip": 80, "vines": 83, "eigrp": 88,
    "ospf": 89, "larp": 91, "ax.25": 93, "ipip": 94, "encap": 98,
    "pnni": 102, "pim": 103, "ipcomp": 108, "ipx-in-ip": 111,
    "vrrp": 112, "l2tp": 115, "isis": 124, "sctp": 132, "fc": 133,
    "ethernet": 143,
}


def parse_protos_file(text: str) -> list[int]:
    """protos_file / tos_file: one protocol (name or number) or ToS
    value per line (``load_protos`` / ``load_tos``, reference
    src/plugin_common.c:1328,1481). Valid range is 0..254 — 255 is the
    reserved 'others' bucket and is excluded; invalid rows warn and
    skip (the reference logs 'invalid protocol specified')."""
    out = []
    for raw in text.splitlines():
        line = raw.split("!", 1)[0].strip()
        if not line:
            continue
        if line.isdigit():
            v = int(line)
        else:
            v = IP_PROTOCOL_NAMES.get(line.lower(), -1)
        if 0 <= v < 255:
            out.append(v)
        else:
            import sys as _sys

            print(
                f"protos_file: skipping invalid entry {line!r}",
                file=_sys.stderr,
            )
    return sorted(set(out))


def parse_ports_file(text: str) -> list[int]:
    """ports_file: one port per line (``load_ports``,
    reference src/plugin_common.c:1419)."""
    out = []
    for raw in text.splitlines():
        line = raw.split("!", 1)[0].strip()
        if not line:
            continue
        try:
            out.append(int(line))
        except ValueError:
            import sys as _sys

            print(
                f"ports_file: skipping malformed line {line!r}",
                file=_sys.stderr,
            )
            continue  # warn-and-skip like the reference, not daemon-fatal
    return sorted(set(out))


def parse_sampling_map(text: str) -> list[dict]:
    """sampling_map rules: ``id=<rate> ip=<exporter> [in= out=]``."""
    out: list[dict] = []
    for raw in text.splitlines():
        line = raw.split("!", 1)[0].strip()
        if not line:
            continue
        row: dict = {}
        for token in line.split():
            if "=" not in token:
                continue
            k, v = token.split("=", 1)
            if k == "id":
                row["rate"] = int(v)
            elif k == "ip":
                row["exporter_ip"] = _strip_host_cidr(v)
            elif k in ("in", "out"):
                row[f"iface_{k}"] = int(v)
        if row:
            out.append(row)
    return out


def parse_custom_primitives(text: str) -> list:
    """aggregate_primitives map: ``name= field_type=[pen:]ie len=
    semantics=`` per line (reference src/cfg.h:45-63) ->
    :class:`CustomIE` declarations."""
    from pmacct_spark.streaming.decode import CustomIE

    out = []
    for raw in text.splitlines():
        line = raw.split("!", 1)[0].strip()
        if not line:
            continue
        kv = dict(
            t.split("=", 1) for t in line.split() if "=" in t
        )
        if "name" not in kv or "field_type" not in kv:
            continue
        ft = kv["field_type"]
        pen, ie = (ft.split(":", 1) if ":" in ft else ("0", ft))
        ln = kv.get("len", "4")
        sem = kv.get("semantics", "u_int")
        out.append(
            CustomIE(
                name=kv["name"],
                ie=int(ie),
                pen=int(pen),
                # the reference map spells it 'str' (CONFIG-KEYS:2090)
                semantics="string" if sem == "str" else sem,
                # len=vlen (CONFIG-KEYS:2090 primitives.lst example):
                # variable-length IE — the decoder reads the actual
                # width from the template / vlen escape
                length=65535 if ln == "vlen" else int(ln),
            )
        )
    return out


def parse_roas_file(text: str) -> list[dict]:
    """rpki_roas_file: the RIPE-validator JSON export the reference
    loads (src/rpki/rpki_msg.c:29 rpki_roas_file_load) —
    {"roas": [{"prefix": "a.b.c.d/m", "asn": "AS65001"|65001,
    "maxLength": n}, ...]}. Rows with a malformed prefix/asn or a
    maxLength below the prefix length are skipped with the same
    tolerance as the reference's per-ROA warnings. v4 only (the
    engine's ROA lookup keys on net_int)."""
    import json as _json

    out: list[dict] = []
    doc = _json.loads(text)
    roas = doc.get("roas", []) if isinstance(doc, dict) else []
    for roa in roas:
        try:
            net = ipaddress.ip_network(str(roa["prefix"]), strict=False)
            asn_raw = roa["asn"]
            asn = int(str(asn_raw).upper().removeprefix("AS"))
            maxlen = int(roa.get("maxLength", net.prefixlen))
        except (KeyError, TypeError, ValueError):
            continue
        # a v4 maxLength beyond 32 (v6-style value on a mixed-export
        # row) would validate EVERY more-specific announcement — skip
        if net.version != 4 or maxlen < net.prefixlen or maxlen > 32:
            continue
        out.append(
            {
                "net_int": int(net.network_address),
                "masklen": net.prefixlen,
                "maxlen": maxlen,
                "asn": asn,
            }
        )
    return out


def parse_allow_file(text: str) -> list[str]:
    """[ns]facctd_allow_file / bgp|bmp_daemon_allow_file: one allowed
    exporter per line — a plain address or a CIDR prefix (reference
    CONFIG-KEYS; the check is src/util.c check_allow on the datagram /
    session source). Comments (!, #) and blanks skipped; malformed
    addresses are warned and skipped like the reference's "Bad IP
    address ... Ignored." path (src/util.c:2026). NOTE: an empty (or
    comments-only) file means DENY ALL — load_allow_file sets num=-1
    (src/util.c:2033) so check_allow's loop matches nothing; callers
    must distinguish [] (deny all) from no-file (accept all)."""
    import ipaddress

    out: list[str] = []
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith(("!", "#")):
            continue
        try:
            ipaddress.ip_network(line, strict=False)
        except ValueError:
            log.warning(
                "allow_file: Bad IP address '%s'. Ignored.", line
            )
            continue
        out.append(line)
    return out


def split_host_port(
    spec: str, default_port: int
) -> tuple[str, int]:
    """Split a ``host[:port]`` config value without misparsing bare
    IPv6 addresses ('::1' is a HOST, not host ':' + port 1). Rules:
    ``[v6]:port`` / ``[v6]`` bracket syntax; otherwise split on the
    last ':' only when the tail is all digits and the head contains
    no further ':'; anything else is a plain host."""
    s = str(spec).strip()
    if s.startswith("["):
        host, _, rest = s[1:].partition("]")
        rest = rest.lstrip(":")
        return host, int(rest) if rest.isdigit() else default_port
    head, sep, tail = s.rpartition(":")
    if sep and tail.isdigit() and ":" not in head:
        return head, int(tail)
    return s, default_port


def parse_tee_receivers(
    text: str, max_pools: int = 128, max_receivers: int = 32
) -> list[dict]:
    """tee_receivers map (CONFIG-KEYS:3415,
    examples/tee_receivers.lst.example): ``id=<pool>`` +
    ``ip=<host:port>[,<host:port>...]`` receivers, optional
    ``tag=<t1>[,<t2>...]`` filter and ``balance-alg=rr|hash``.
    Malformed lines are warned and skipped like every reference map.

    ``max_pools`` / ``max_receivers`` are tee_max_receiver_pools /
    tee_max_receivers (CONFIG-KEYS:3486,3492, reference defaults 128 /
    32): pools beyond the cap and receivers beyond the per-pool cap
    are warned and dropped — the reference's fixed allocation made
    them hard limits, so honoring them keeps conf portability."""
    out: list[dict] = []
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith(("!", "#")):
            continue
        entry: dict = {}
        try:
            for tok in line.split():
                k, _, v = tok.partition("=")
                if k == "id":
                    entry["id"] = str(int(v))
                elif k == "ip":
                    entry["pool"] = [
                        e.strip() for e in v.split(",") if e.strip()
                    ]
                elif k == "tag":
                    entry["tags"] = [int(t) for t in v.split(",") if t]
                elif k == "balance-alg":
                    if v not in ("rr", "hash"):
                        raise ValueError(f"balance-alg {v}")
                    entry["balance"] = v
                elif k == "src_port":
                    entry["src_port"] = int(v)
                elif k == "kafka_broker":
                    # examples/tee_receivers.lst.example: route this
                    # pool's replicated datagrams to a Kafka broker
                    # ('host:port') instead of UDP receivers
                    entry["kafka_broker"] = v
                elif k == "kafka_topic":
                    entry["kafka_topic"] = v
                elif k == "zmq_address":
                    # tee_receivers.lst.example: route the pool's
                    # replicated datagrams over ZeroMQ instead of UDP
                    entry["zmq_address"] = v
                else:
                    raise ValueError(f"unsupported key {k}")
            if "id" not in entry:
                raise ValueError("id is mandatory")
            if entry.get("kafka_broker"):
                if not entry.get("kafka_topic"):
                    # "Mandatory to specify when a kafka_broker is
                    # defined" (tee_receivers.lst.example)
                    raise ValueError("kafka_topic required with kafka_broker")
            elif not entry.get("pool") and not entry.get("zmq_address"):
                raise ValueError("id and ip are mandatory")
        except ValueError as e:
            log.warning(
                "tee_receivers: bad line %r (%s). Ignored.", line, e
            )
            continue
        pool = entry.get("pool")
        if pool and len(pool) > max_receivers:
            log.warning(
                "tee_receivers: pool %s exceeds tee_max_receivers=%d;"
                " extra receivers dropped.", entry.get("id"), max_receivers,
            )
            entry["pool"] = pool[:max_receivers]
        if len(out) >= max_pools:
            log.warning(
                "tee_receivers: more than tee_max_receiver_pools=%d"
                " pools; line %r dropped.", max_pools, line,
            )
            continue
        out.append(entry)
    return out


def parse_kafka_config_file(text: str) -> dict[str, dict[str, str]]:
    """kafka_config_file (CONFIG-KEYS:851): CSV lines
    ``<type>, <key>, <value>`` with type 'global' or 'topic'; the
    value is passed through unparsed (it may itself contain commas),
    so split on the FIRST TWO commas only. Comment/blank lines and
    lines with an unknown type are warned and skipped."""
    out: dict[str, dict[str, str]] = {"global": {}, "topic": {}}
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith(("!", "#")):
            continue
        parts = line.split(",", 2)
        if len(parts) != 3 or parts[0].strip() not in ("global", "topic"):
            log.warning(
                "kafka_config_file: bad line %r. Ignored.", line
            )
            continue
        scope, key, value = (p.strip() for p in parts)
        out[scope][key] = value
    return out


def parse_bgp_peer_src_as_map(text: str) -> list[dict]:
    """bgp_peer_src_as_map (CONFIG-KEYS:2910,
    examples/peers.map.example): ``id=<ASN|bgp>`` SET + MATCH keys
    ip (address/prefix of the exporter), in (input ifIndex),
    src_mac, vlan, bgp_nexthop. First match wins; ``id=bgp`` falls
    through to the native RIB lookup (the exception-handling hook).
    Malformed lines are warned and skipped like every reference map."""
    import ipaddress

    out: list[dict] = []
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith(("!", "#")):
            continue
        entry: dict = {}
        try:
            for tok in line.split():
                k, _, v = tok.partition("=")
                if k == "id":
                    entry["id"] = "bgp" if v == "bgp" else int(v)
                elif k == "ip":
                    entry["ip"] = ipaddress.ip_network(v, strict=False)
                elif k in ("in", "vlan"):
                    entry[k] = int(v)
                elif k in ("src_mac", "bgp_nexthop"):
                    entry[k] = v.lower()
                else:
                    raise ValueError(f"unsupported key {k}")
            if "id" not in entry:
                raise ValueError("missing id")
        except ValueError as e:
            log.warning(
                "bgp_peer_src_as_map: bad line %r (%s). Ignored.",
                line, e,
            )
            continue
        out.append(entry)
    return out


def parse_bgp_xconnect_map(text: str) -> list[dict]:
    """bgp_daemon_xconnect_map (reference CONFIG-KEYS:3265,
    examples/bgp_xconnects.map.example): ``bgp_dst=<ip:port>`` SET (the
    collector to cross-connect to; v6 as ``[addr]:port``) +
    ``bgp_src=<addr|prefix>`` MATCH (the edge router's session source
    address — NOT its Router ID). First match wins."""
    import ipaddress

    entries: list[dict] = []
    for raw in text.splitlines():
        line = raw.split("!", 1)[0].split("#", 1)[0].strip()
        if not line:
            continue
        dst = src = None
        for token in line.split():
            if "=" not in token:
                continue
            k, v = token.split("=", 1)
            if k == "bgp_dst":
                dst = v
            elif k == "bgp_src":
                src = v
        if not dst or not src:
            continue
        if dst.startswith("["):  # [v6]:port
            h, _, p = dst.rpartition("]:")
            host = h.lstrip("[")
        else:
            host, _, p = dst.rpartition(":")
        # a malformed line (missing/non-integer port, bad src prefix)
        # skips THAT entry, consistent with the skip-on-missing-keys
        # behavior above — it must not crash daemon startup
        try:
            entries.append(
                {
                    "src": ipaddress.ip_network(src, strict=False),
                    "dst_host": host,
                    "dst_port": int(p),
                }
            )
        except ValueError:
            continue
    return entries


def parse_bgp_md5_file(text: str) -> dict[str, bytes]:
    """bgp_daemon_md5_file (reference CONFIG-KEYS:3079,
    examples/bgp_md5.lst.example): CSV lines ``<peer ip>, <md5 key>``;
    peers not listed use no key."""
    keys: dict[str, bytes] = {}
    for raw in text.splitlines():
        line = raw.split("!", 1)[0].strip()
        if not line or "," not in line:
            continue
        peer, _, key = line.partition(",")
        peer, key = peer.strip(), key.strip()
        if peer and key:
            keys[peer] = key.encode()
    return keys


def parse_bgp_agent_map(text: str) -> list[dict]:
    """bgp_agent_map / bmp_agent_map (reference CONFIG-KEYS:2986,
    examples/bgp_agent.map.example): map a flow exporter to the BGP/BMP
    peer whose RIB should enrich its flows. Per line: ``bgp_ip=<peer>``
    (SET; ``bmp_ip`` is an alias) plus MATCH keys ``ip=<addr|prefix>``,
    ``in=<ifindex>``, ``out=<ifindex>``, optional ``bgp_port=<n>`` and
    ``filter='ip|ip6'`` (family discrimination only — the reference
    accepts arbitrary libpcap here but documents the v4/v6 split as
    the use case). First full match wins, like the reference's linear
    map walk (src/pretag.c find_id loop)."""
    entries: list[dict] = []
    for raw in text.splitlines():
        line = raw.split("!", 1)[0].split("#", 1)[0].strip()
        if not line:
            continue
        e: dict = {"bgp_ip": None, "bgp_port": None, "ip": "0.0.0.0/0",
                   "in": None, "out": None, "family": None}
        # filter values are quoted and may contain spaces: cut them
        # out before the whitespace token split
        import re as _re

        m = _re.search(r"filter='([^']*)'", line)
        if m:
            e["family"] = 6 if "ip6" in m.group(1) else 4
            line = line[: m.start()] + line[m.end():]
        for token in line.split():
            if "=" not in token:
                continue
            k, v = token.split("=", 1)
            if k in ("bgp_ip", "bmp_ip"):
                # must parse as an address: the value is interpolated
                # into SQL downstream, and the reference rejects
                # non-address bgp_ip values at map load too
                try:
                    ipaddress.ip_address(v)
                except ValueError:
                    e["bgp_ip"] = None
                    break
                e["bgp_ip"] = v
            elif k == "ip":
                e["ip"] = v
            elif k == "bgp_port":
                e["bgp_port"] = int(v)
            elif k in ("in", "out"):
                e[k] = int(v)
        if e["bgp_ip"]:
            entries.append(e)
    return entries


def parse_bgp_peer_dst_ip_map(text: str) -> list[dict]:
    """bgp_peer_dst_ip_map (CONFIG-KEYS:3011; bpdi_map_dictionary
    src/pretag-data.h:243): map RIB next-hops to other addresses —
    RSVP-TE topologies where flows report the tunnel TAIL-END instead
    of a BGP next-hop. Keys: ``id`` (the mapped address) +
    ``bgp_nexthop`` (the RIB next-hop to remap); ``ip`` (exporter)
    accepted and currently unrestricted. Malformed lines are warned
    and skipped like every reference map."""
    import ipaddress

    out: list[dict] = []
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith(("!", "#")):
            continue
        entry: dict = {}
        try:
            for tok in line.split():
                k, _, v = tok.partition("=")
                if k == "id":
                    ipaddress.ip_address(v)  # validate
                    entry["id"] = v
                elif k == "bgp_nexthop":
                    ipaddress.ip_address(v)
                    entry["bgp_nexthop"] = v
                elif k == "ip":
                    entry["ip"] = v
                else:
                    raise ValueError(f"unsupported key {k}")
            if "id" not in entry or "bgp_nexthop" not in entry:
                raise ValueError("id and bgp_nexthop are mandatory")
        except ValueError as e:
            log.warning(
                "bgp_peer_dst_ip_map: bad line %r (%s). Ignored.",
                line, e,
            )
            continue
        out.append(entry)
    return out
