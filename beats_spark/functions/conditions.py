"""Condition expression compiler: beats-style condition config → Column.

Re-expresses the reference conditions engine (libbeat/conditions/) as
native Spark boolean columns. Supported (reference file — semantics):

- ``equals``      typed equality on scalars; missing field → false
                  (conditions/equals.go:64-71)
- ``contains``    substring match (conditions/matcher.go:71-105)
- ``regexp``      RE2-ish regex match via ``rlike``. The reference
                  demotes literal/prefix patterns to substring matchers
                  (common/match/compile.go:36-56); Catalyst's
                  LikeSimplification plays the same role for LIKE, and
                  rlike literals stay cheap in codegen.
- ``range``       gt/gte/lt/lte numeric bounds (conditions/range.go:29-80)
- ``has_fields``  all listed columns non-null (conditions/has_fields.go)
- ``network``     IPv4/CIDR containment incl. named ranges
                  (conditions/network.go) — pure column bit math, no UDF
- ``or``/``and``/``not`` combinators (conditions/{or,and,not}.go)

Beats evaluates a missing field as a FALSE leaf (not NULL), and
``not`` of that is TRUE — so every leaf is coalesced to false before
combinators apply; plain SQL three-valued logic would differ.
"""

from __future__ import annotations

from typing import Any, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .memo import memo

_RANGE_OPS = {"gt": "__gt__", "gte": "__ge__", "lt": "__lt__", "lte": "__le__"}


class ConditionError(ValueError):
    pass


def _leaf(c: Column) -> Column:
    # missing/NULL field → false, matching the reference's extractors
    return F.coalesce(c, F.lit(False))


def _field(df: DataFrame | None, name: str) -> Column:
    # A FLAT column whose name contains dots (the flat-key document
    # model: enrichers emit e.g. `container.name`) wins over the
    # struct-path reading of the same string — the same precedence
    # ingest._read_field applies. Without the df check, a condition
    # on an enricher output resolves `container`.`name` and fails.
    if df is not None and name in df.columns:
        return F.col(f"`{name}`")
    # dotted paths address struct fields natively; map overflow columns
    # are addressed as attrs['key']
    return F.col(name)


def compile_condition(config: Mapping[str, Any], df: DataFrame | None = None) -> Column:
    """Compile a beats-style condition dict into one boolean Column.

    Pass ``df`` so schema-aware forms activate (flat dotted columns,
    array-element ``contains``). The Column is built once per config,
    schema and JVM (:func:`~beats_spark.functions.memo.memo`)."""
    schema = None if df is None else df.schema
    return memo(("condition", repr(config), schema), lambda: _compile(config, df))


def _compile(config: Mapping[str, Any], df: DataFrame | None) -> Column:
    if not isinstance(config, Mapping) or len(config) == 0:
        raise ConditionError(f"invalid condition: {config!r}")
    if len(config) > 1:
        # implicit AND of multiple clauses in one mapping
        return _compile({"and": [{k: v} for k, v in config.items()]}, df)
    (kind, body), = config.items()

    if kind == "and":
        out = _compile(body[0], df)
        for sub in body[1:]:
            out = out & _compile(sub, df)
        return out
    if kind == "or":
        out = _compile(body[0], df)
        for sub in body[1:]:
            out = out | _compile(sub, df)
        return out
    if kind == "not":
        return ~_compile(body, df)

    if kind == "equals":
        parts = []
        for fld, val in body.items():
            c = _field(df, fld)
            if isinstance(val, bool):
                parts.append(_leaf(c.cast("boolean") == F.lit(val)))
            elif isinstance(val, int):
                parts.append(_leaf(c.cast("long") == F.lit(val)))
            elif isinstance(val, str):
                parts.append(_leaf(c.cast("string") == F.lit(val)))
            else:
                raise ConditionError(
                    f"equals supports bool/int/string only (got {type(val).__name__})"
                )
        return _all(parts)

    if kind == "contains":
        # strings: substring match; arrays of strings: ANY element
        # containing the substring matches (matcher.go:71-105). Array
        # detection needs the DataFrame's schema — without it (df=None)
        # the string form compiles, which is correct for our flat
        # transcript columns.
        parts = []
        for fld, val in body.items():
            c = _field(df, fld)
            if df is not None and _is_string_array(df, fld):
                parts.append(_leaf(F.exists(c, _elem_contains(val))))
            else:
                parts.append(_leaf(F.contains(c.cast("string"), F.lit(val))))
        return _all(parts)

    if kind == "regexp":
        return _all(
            [_leaf(_field(df, fld).cast("string").rlike(val)) for fld, val in body.items()]
        )

    if kind == "range":
        # accept both {"field": {"gte": 1}} and beats' dotted {"field.gte": 1}
        parts = []
        for fld, val in body.items():
            if isinstance(val, Mapping):
                for op, bound in val.items():
                    parts.append(_range_leaf(df, fld, op, bound))
            else:
                base, _, op = fld.rpartition(".")
                if op not in _RANGE_OPS:
                    raise ConditionError(f"bad range op in {fld!r}")
                parts.append(_range_leaf(df, base, op, val))
        return _all(parts)

    if kind == "network":
        # {"network": {"ip_field": "10.0.0.0/8"}} or a named range /
        # list of ranges; ANY range matching satisfies the field
        # (reference network.go: multiple networks OR together).
        parts = []
        for fld, ranges in body.items():
            if isinstance(ranges, str):
                ranges = [ranges]
            if not ranges:
                raise ConditionError(
                    f"network condition for {fld!r} needs at least one range"
                )
            ip_s = _field(df, fld).cast("string")
            # ONE shared Column object per parsed form: every CIDR
            # alternative references the same expression tree, which
            # whole-stage codegen's subexpression elimination computes
            # once per row (measured: the ~40-CIDR 'public' composite
            # filters at 1.9x a single-CIDR check, not 40x)
            ip_long = _ipv4_to_long(ip_s)
            ip_hex = _ipv6_to_hex(ip_s)
            alts = None
            for r in ranges:
                m = _range_match(ip_long, ip_hex, r)
                alts = m if alts is None else (alts | m)
            parts.append(_leaf(alts))
        return _all(parts)

    if kind == "has_fields":
        fields = body if isinstance(body, (list, tuple)) else [body]
        return _all([_field(df, f).isNotNull() for f in fields])

    raise ConditionError(f"unknown condition type: {kind!r}")


#: named ranges from the reference's network condition
#: (libbeat/conditions/network.go:30-56) — both families (r5: IPv6
#: added; Go's Is* predicates expressed as CIDR lists). The
#: interface/link-local multicast predicates test the second byte's
#: LOW nibble only (ip[1]&0x0f), so each expands to 16 ffX?::/16
#: blocks.
_NAMED_NETWORKS = {
    "private": ["10.0.0.0/8", "172.16.0.0/12", "192.168.0.0/16",
                # RFC 4193 as the reference masks it (ff00::… over
                # fd00 → fd00::/8, network.go:40-43)
                "fd00::/8"],
    "loopback": ["127.0.0.0/8", "::1/128"],
    "link_local_unicast": ["169.254.0.0/16", "fe80::/10"],
    "link_local_multicast": ["224.0.0.0/24"] + [
        f"ff{h:x}2::/16" for h in range(16)
    ],
    "interface_local_multicast": [f"ff{h:x}1::/16" for h in range(16)],
    "multicast": ["224.0.0.0/4", "ff00::/8"],
    "unspecified": ["0.0.0.0/32", "::/128"],
}

#: composite predicates (network.go:46-55,225-232): boolean combos of
#: the primitive sets, Go net.IP semantics (broadcast excluded from
#: global unicast; public = NOT local-or-private)
_COMPOSITE_NETWORKS = {
    "global_unicast": (
        [], ["unspecified", "loopback", "multicast",
             "link_local_unicast"], ["255.255.255.255/32"]
    ),
    "unicast": (
        [], ["unspecified", "loopback", "multicast",
             "link_local_unicast"], ["255.255.255.255/32"]
    ),
    "public": (
        [], ["private", "loopback", "unspecified",
             "link_local_unicast", "link_local_multicast",
             "interface_local_multicast"], ["255.255.255.255/32"]
    ),
}


def _range_match(ip_long: Column, ip_hex: Column, r: str) -> Column:
    """One range name / CIDR → boolean Column over the pre-parsed
    v4-long and v6-hex forms of the field."""
    if r in _COMPOSITE_NETWORKS:
        includes, excludes, extra_excludes = _COMPOSITE_NETWORKS[r]
        # a parseable IP of either family...
        base = ip_long.isNotNull() | ip_hex.isNotNull()
        out = base
        for name in includes:
            out = out & _range_match(ip_long, ip_hex, name)
        for name in excludes + extra_excludes:
            out = out & ~F.coalesce(
                _range_match(ip_long, ip_hex, name), F.lit(False)
            )
        return out
    cidrs = _NAMED_NETWORKS.get(r, [r])
    alts = None
    for cidr in cidrs:
        m = (
            _cidr6_match(ip_hex, cidr)
            if ":" in cidr
            else _cidr_match(ip_long, cidr)
        )
        alts = m if alts is None else (alts | m)
    return alts


def _ipv4_to_long(c: Column) -> Column:
    """Dotted-quad string → long, NULL for non-IPv4 — all JVM-side."""
    ok = c.rlike(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$")
    p = F.split(c, r"\.")
    octs = [F.element_at(p, i).cast("long") for i in (1, 2, 3, 4)]
    in_range = _all([(o <= 255) for o in octs])
    val = octs[0] * 16777216 + octs[1] * 65536 + octs[2] * 256 + octs[3]
    return F.when(ok & in_range, val)


def _ipv6_to_hex(c: Column) -> Column:
    """IPv6 text → the address's 16 bytes as 32 lowercase hex chars,
    NULL for non-IPv6 — handles the full 8-hextet form, ``::``
    compression, and a trailing dotted-quad (v4-mapped) tail. Fixed
    width means string comparison == bytewise comparison (the same
    packing as actions.community_id_spec)."""
    ok = c.rlike(r"^[0-9A-Fa-f:]*(:[0-9]{1,3}(\.[0-9]{1,3}){3})?$") & (
        c.contains(":")
    )
    # v4-mapped tail: convert the dotted quad into its 8 hex chars
    tail4 = F.regexp_extract(c, r"(\d{1,3}(?:\.\d{1,3}){3})$", 1)
    has4 = tail4 != ""
    tail_hex = F.lpad(F.lower(F.hex(_ipv4_to_long(tail4))), 8, "0")
    head = F.when(has4, F.regexp_replace(c, r"\d{1,3}(?:\.\d{1,3}){3}$", "")).otherwise(c)
    halves = F.split(head, "::", -1)
    nonempty = lambda x: x != F.lit("")  # noqa: E731
    lraw = F.split(F.get(halves, 0), ":")
    rraw = F.when(
        F.size(halves) > 1, F.split(F.get(halves, 1), ":")
    ).otherwise(F.array().cast("array<string>"))
    lseg = F.filter(lraw, nonempty)
    rseg = F.filter(rraw, nonempty)
    # an empty segment INSIDE a half means a stray colon beyond the
    # one '::' marker (":::" splits to a half containing ':') — Go
    # rejects it. A half may be empty only as the side of the '::'
    # marker itself ("fe80::", "::1") or, on the right, before a
    # v4-mapped tail whose dot-quad was stripped off ("::ffff:1.2.3.4"
    # leaves "ffff:" → one trailing empty).
    lhalf, rhalf = F.get(halves, 0), F.get(halves, 1)
    l_clean = (
        (lhalf == "")
        | (F.size(lraw) == F.size(lseg))
        # uncompressed v4-mapped form "0:0:0:0:0:ffff:1.2.3.4": the
        # stripped dot-quad leaves one trailing empty in the left half
        | (
            has4
            & (F.size(halves) <= 1)
            & (F.size(lraw) == F.size(lseg) + 1)
        )
    )
    r_clean = (
        (F.size(halves) <= 1)
        | (rhalf == "")
        | (F.size(rraw) == F.size(rseg))
        | (has4 & (F.size(rraw) == F.size(rseg) + 1))
    )
    pad4 = lambda seg: F.lpad(F.lower(seg), 4, "0")  # noqa: E731
    n_named = F.size(lseg) + F.size(rseg) + F.when(has4, 2).otherwise(0)
    mid = F.lit(8) - n_named
    hexet = lambda x: (F.length(x) <= 4) & (F.length(x) >= 1)  # noqa: E731
    # Go ParseIP rejects: more than one '::' (3+ split halves), a
    # hextet wider than 4 digits (lpad would silently TRUNCATE it),
    # a '::'-less address with the wrong segment count, and a
    # negative gap
    valid = ok & l_clean & r_clean & (F.size(halves) <= 2) & (
        F.forall(lseg, hexet) & F.forall(rseg, hexet)
    ) & (
        F.when(F.size(halves) > 1, mid >= 0).otherwise(mid == 0)
    ) & F.when(has4, tail_hex.isNotNull()).otherwise(F.lit(True))
    zeros = F.lit("0" * 32).substr(F.lit(1), mid * 4)
    hx = F.concat(
        F.array_join(F.transform(lseg, pad4), ""),
        zeros,
        F.array_join(F.transform(rseg, pad4), ""),
        F.when(has4, tail_hex).otherwise(F.lit("")),
    )
    return F.when(valid & (F.length(hx) == 32), hx)


def _cidr6_match(ip_hex: Column, cidr: str) -> Column:
    """IPv6 CIDR containment over the 32-hex form: whole-nibble
    prefix compare plus one masked nibble for prefix lengths that
    aren't a multiple of 4. The CIDR itself parses driver-side via
    the stdlib (bounded — condition config, not data)."""
    import ipaddress

    try:
        net = ipaddress.IPv6Network(cidr, strict=False)
    except ValueError as e:
        raise ConditionError(f"bad CIDR network: {cidr!r}") from e
    net_hex = format(int(net.network_address), "032x")
    plen = net.prefixlen
    nchars, rem = divmod(plen, 4)
    out = ip_hex.isNotNull()
    if nchars:
        out = out & (
            F.substring(ip_hex, 1, nchars) == net_hex[:nchars]
        )
    if rem:
        nib = F.conv(F.substring(ip_hex, nchars + 1, 1), 16, 10).cast(
            "int"
        )
        want = int(net_hex[nchars], 16) >> (4 - rem)
        out = out & (
            F.shiftright(nib, 4 - rem) == F.lit(want)
        )
    return out


def _cidr_match(ip_long: Column, cidr: str) -> Column:
    net_s, _, plen_s = cidr.partition("/")
    plen = int(plen_s) if plen_s else 32
    if not 0 <= plen <= 32:
        raise ConditionError(f"bad CIDR prefix length: {cidr!r}")
    o = [int(x) for x in net_s.split(".")]
    if len(o) != 4 or any(not 0 <= x <= 255 for x in o):
        raise ConditionError(f"bad CIDR network: {cidr!r}")
    net = (o[0] << 24) | (o[1] << 16) | (o[2] << 8) | o[3]
    mask = 0xFFFFFFFF ^ ((1 << (32 - plen)) - 1)
    return ip_long.bitwiseAND(F.lit(mask)) == F.lit(net & mask)


def _elem_contains(val: str):
    # unary on purpose — exists() dispatches on lambda arity
    return lambda x: x.contains(F.lit(val))


def _is_string_array(df: DataFrame, fld: str) -> bool:
    from pyspark.sql import types as T

    dtype: T.DataType = T.StructType(df.schema.fields)
    for part in fld.split("."):
        if not isinstance(dtype, T.StructType):
            return False
        match = next((f for f in dtype.fields if f.name == part), None)
        if match is None:
            return False
        dtype = match.dataType
    return isinstance(dtype, T.ArrayType)


def _range_leaf(df, fld: str, op: str, bound) -> Column:
    if op not in _RANGE_OPS:
        raise ConditionError(f"unknown range operator {op!r}")
    c = _field(df, fld).cast("double")  # reference compares as float64
    return _leaf(getattr(c, _RANGE_OPS[op])(F.lit(float(bound))))


def _all(parts: list[Column]) -> Column:
    out = parts[0]
    for p in parts[1:]:
        out = out & p
    return out
