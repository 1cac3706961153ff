"""Field-manipulation processors ("actions") and the chain compiler.

Re-expresses the reference's processor chain
(libbeat/processors/processor.go:129-142 — sequential, short-circuit
on drop) and the actions in libbeat/processors/actions/ as DataFrame
transforms. Each processor implements ``apply(df, guard)`` where
``guard`` is an optional boolean Column (the ``when:`` wrapper,
libbeat/processors/conditionals.go:59-91): guarded processors leave
non-matching rows untouched via ``F.when(guard, new).otherwise(old)``.

The chain stays *sequential at compile time* (a later processor sees
earlier outputs) but compiles to pure column expressions, so Catalyst
is free to collapse the projections (CollapseProject) and reorder
filters — legal because the expressions are side-effect free, unlike
the reference's imperative chain which must run in order.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any, Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.conditions import compile_condition
from ..functions.dissect import FLAG_PARSING_ERROR, compile_tokenizer, dissect_frame
from ..functions.memo import memo
from ..schema import FLAGS_FIELD


def _fref(df: DataFrame, name: str) -> str:
    """Flat-column-first field reference: a FLAT column whose name
    contains dots (the flat-key document model — enricher outputs like
    ``container.name``, ECS fields like ``source.ip``) wins over the
    struct-path reading of the same string; names not present as flat
    columns keep native struct-path addressing. Same precedence as
    conditions._field and ingest._read_field."""
    return f"`{name}`" if name in df.columns else name


def _fcol(df: DataFrame, name: str) -> Column:
    """:func:`_fref` as a Column."""
    return F.col(_fref(df, name))


def _flag_union(has_flags: bool, hit: Column, flag: str) -> Column:
    """``log_flags`` with ``flag`` added where the NULL-safe ``hit``
    holds (the reference's ``log.flags`` tags, beat.FlagField);
    ``has_flags`` says whether the frame already has the column. The
    result is always a set union, so repeated entries already in
    ``log_flags`` collapse to one."""
    empty = F.array().cast("array<string>")
    base = F.coalesce(F.col(FLAGS_FIELD), empty) if has_flags else empty
    err = F.when(hit, F.array(F.lit(flag))).otherwise(empty)
    return F.array_union(base, err)


def guard_added_columns(
    orig: DataFrame, out: DataFrame, guard: Column | None
) -> DataFrame:
    """Post-hoc ``when:`` guard for an enricher that only ADDS columns
    (the broadcast-join family): columns the transform added read NULL
    on guarded-out rows; pre-existing columns pass through untouched
    (a left join never modifies them). One projection, no union
    (conditionals.go:59-91 semantics for lookup processors)."""
    if guard is None:
        return out
    orig_cols = set(orig.columns)
    sel = [
        F.when(guard, F.col(f"`{c}`")).alias(c)
        if c not in orig_cols
        else F.col(f"`{c}`")
        for c in out.columns
    ]
    return out.select(*sel)


class Processor:
    """Base: one pipeline step. apply() must be side-effect free."""

    def apply(self, df: DataFrame, guard: Column | None = None) -> DataFrame:
        raise NotImplementedError

    def _guarded(self, df: DataFrame, guard: Column | None, col: str, new: Column) -> Column:
        if guard is None:
            return new
        old = F.col(f"`{col}`") if col in df.columns else F.lit(None)
        return F.when(guard, new).otherwise(old)

    def _add_flag(
        self, df: DataFrame, guard: Column | None, hit: Column, flag: str
    ) -> DataFrame:
        """Add ``flag`` to the row's ``log_flags`` where ``hit`` holds
        (:func:`_flag_union`)."""
        flags = _flag_union(FLAGS_FIELD in df.columns, hit, flag)
        return df.withColumn(
            FLAGS_FIELD, self._guarded(df, guard, FLAGS_FIELD, flags)
        )


@dataclass
class AddFields(Processor):
    """add_fields (actions/add_fields.go:69-77): constant columns."""

    fields: Mapping[str, Any]

    def apply(self, df, guard=None):
        for k, v in self.fields.items():
            df = df.withColumn(k, self._guarded(df, guard, k, F.lit(v)))
        return df


@dataclass
class AddTags(Processor):
    """add_tags (actions/add_tags.go, mapstr.go:314-345): dedup'd append."""

    tags: Sequence[str]
    target: str = "tags"

    def apply(self, df, guard=None):
        base = (
            F.coalesce(F.col(self.target), F.array().cast("array<string>"))
            if self.target in df.columns
            else F.array().cast("array<string>")
        )
        new = F.array_union(base, F.array(*[F.lit(t) for t in self.tags]))
        return df.withColumn(self.target, self._guarded(df, guard, self.target, new))


@dataclass
class AddLabels(Processor):
    """add_labels (actions/add_labels.go:31-59): add_fields specialized —
    nested label maps flatten to dotted keys under a ``labels.`` prefix
    (MapStr nesting becomes flat columns in our fixed schema)."""

    labels: Mapping[str, Any]
    prefix: str = "labels."

    def apply(self, df, guard=None):
        flat: dict[str, Any] = {}

        def _walk(prefix: str, m: Mapping[str, Any]) -> None:
            for k, v in m.items():
                if isinstance(v, Mapping):
                    _walk(f"{prefix}{k}.", v)
                elif isinstance(v, (list, tuple)):
                    # arrays flatten to indexed keys (add_labels.go)
                    for i, x in enumerate(v):
                        flat[f"{prefix}{k}.{i}"] = x
                else:
                    flat[f"{prefix}{k}"] = v

        _walk(self.prefix, self.labels)
        for k, v in flat.items():
            df = df.withColumn(k, self._guarded(df, guard, k, F.lit(v)))
        return df


#: IANA protocol numbers the community-id spec hashes (the beats
#: processor's protos table, libbeat/processors/communityid)
_CID_PROTO = {
    "icmp": 1, "igmp": 2, "tcp": 6, "udp": 17, "gre": 47,
    "icmp6": 58, "icmpv6": 58, "ipv6-icmp": 58, "eigrp": 88,
    "ospf": 89, "pim": 103, "sctp": 132,
}


def _cid_ip_hex(ip: Column) -> Column:
    """Dotted-quad or IPv6 text → the address's big-endian bytes as
    fixed-width lowercase hex (so string comparison == bytewise
    comparison). Delegates to the VALIDATED dual parsers the network
    condition uses (malformed text → NULL, never a wrong hash), and
    applies Go's ``ip.To4()`` rule (flowhash/communityid.go:95): a
    v4-mapped v6 address hashes as its FOUR v4 bytes."""
    from ..functions.conditions import _ipv4_to_long, _ipv6_to_hex

    v4 = F.lpad(F.lower(F.hex(_ipv4_to_long(ip))), 8, "0")
    hx = _ipv6_to_hex(ip)
    mapped = hx.startswith("00000000000000000000ffff")
    v6 = F.when(mapped, F.substring(hx, 25, 8)).otherwise(hx)
    return F.when(ip.contains(":"), v6).otherwise(
        F.when(_ipv4_to_long(ip).isNotNull(), v4)
    )


def community_id_spec(
    src_ip: Column,
    src_port: Column,
    dst_ip: Column,
    dst_port: Column,
    proto: Column,
    seed: int = 0,
) -> Column:
    """The PUBLISHED community-id v1 flow hash (Corelight spec; the
    beats processor's exact bytes): ``"1:" + base64(sha1(seed_2B +
    saddr + daddr + proto_1B + 0x00 + sport_2B + dport_2B))`` with the
    endpoint pair byte-ordered (smaller (addr, port) first). All
    Column work: hex-packed fields → unhex → sha1 → base64; verified
    byte-for-byte against the suricata module goldens
    (x-pack/.../eve-small.log-expected.json)."""
    sa, da = _cid_ip_hex(src_ip), _cid_ip_hex(dst_ip)
    pname = F.lower(proto.cast("string"))
    pnum = F.coalesce(
        *[F.when(pname == k, F.lit(v)) for k, v in _CID_PROTO.items()],
        proto.try_cast("int"),
    )
    # ICMP: the "ports" are (type, code); a type with a defined
    # counterpart hashes as the orderable pair (type, counterpart),
    # any other type hashes one-way (no endpoint flip) — the beats
    # flowhash ICMPv4/v6 equivalence tables
    eq4 = {0: 8, 8: 0, 9: 10, 10: 9, 13: 14, 14: 13, 15: 16,
           16: 15, 17: 18, 18: 17}
    eq6 = {128: 129, 129: 128, 133: 134, 134: 133, 135: 136,
           136: 135, 139: 140, 140: 139}
    # Go packs ports as uint16 — an out-of-range port TRUNCATES
    # (zeek test data carries port 383341; the golden hashes its low
    # 16 bits)
    sp_l = src_port.cast("long").bitwiseAND(F.lit(0xFFFF))
    equiv = F.coalesce(
        *[
            F.when((pnum == 1) & (sp_l == k), F.lit(v))
            for k, v in eq4.items()
        ],
        *[
            F.when((pnum == 58) & (sp_l == k), F.lit(v))
            for k, v in eq6.items()
        ],
    )
    is_icmp = pnum.isin(1, 58)
    eff_dp = F.when(is_icmp & equiv.isNotNull(), equiv).otherwise(
        dst_port.cast("long").bitwiseAND(F.lit(0xFFFF))
    )
    oneway = is_icmp & equiv.isNull()
    sp = F.lpad(F.lower(F.hex(sp_l)), 4, "0")
    dp = F.lpad(F.lower(F.hex(eff_dp)), 4, "0")
    fwd = oneway | (sa < da) | ((sa == da) & (sp <= dp))
    lo_a, hi_a = F.when(fwd, sa).otherwise(da), F.when(fwd, da).otherwise(sa)
    lo_p, hi_p = F.when(fwd, sp).otherwise(dp), F.when(fwd, dp).otherwise(sp)
    data_hex = F.concat(
        F.lit(f"{seed:04x}"),
        lo_a,
        hi_a,
        F.lpad(F.lower(F.hex(pnum)), 2, "0"),
        F.lit("00"),
        lo_p,
        hi_p,
    )
    return F.concat(
        F.lit("1:"), F.base64(F.unhex(F.sha1(F.unhex(data_hex))))
    )


@dataclass
class CommunityID(Processor):
    """community_id (libbeat/processors/communityid/communityid.go:39,93):
    deterministic flow hash ``"1:" + base64(hash(seed + tuple))`` over
    the normalized (smaller endpoint first) 5-tuple. All JVM-side:
    concat_ws → sha1/md5 → unhex → base64. The reference hashes packed
    binary fields with SHA1; we hash the canonical text form — equally
    deterministic per flow, which is the invariant the processor exists
    for. ``hash_fn="md5"`` is offered because common SQL oracles
    (DuckDB) lack sha1."""

    src_ip: str = "source_ip"
    src_port: str = "source_port"
    dst_ip: str = "dest_ip"
    dst_port: str = "dest_port"
    proto: str = "proto"
    seed: int = 0
    target: str = "community_id"
    hash_fn: str = "sha1"
    #: beats YAML config shape (communityid config.go): ``fields:``
    #: overrides the source field names, keys source_ip / source_port
    #: / destination_ip / destination_port / transport, plus
    #: icmp_type / icmp_code which replace the ports on ICMP flows
    #: (the iptables/zeek module configs use exactly this)
    fields: Mapping[str, str] | None = None
    #: spec=True computes the PUBLISHED byte-exact community-id v1
    #: (:func:`community_id_spec`, golden-verified); the default
    #: canonical-text form stays for DuckDB-oracle twins (no sha1
    #: there) and pre-r5 rows
    spec: bool = False

    def apply(self, df, guard=None):
        f = dict(self.fields or {})
        src_ip = f.get("source_ip", self.src_ip)
        src_port = f.get("source_port", self.src_port)
        dst_ip = f.get("destination_ip", self.dst_ip)
        dst_port = f.get("destination_port", self.dst_port)
        proto = f.get("transport", self.proto)
        if self.spec:
            proto_c = _fcol(df, proto)
            sp, dp = _fcol(df, src_port), _fcol(df, dst_port)
            if "icmp_type" in f or "icmp_code" in f:
                is_icmp = F.lower(proto_c.cast("string")).isin(
                    "icmp", "icmpv6", "ipv6-icmp", "icmp6"
                )
                if "icmp_type" in f:
                    sp = F.when(is_icmp, _fcol(df, f["icmp_type"])).otherwise(sp)
                if "icmp_code" in f:
                    dp = F.when(is_icmp, _fcol(df, f["icmp_code"])).otherwise(dp)
            cid = community_id_spec(
                _fcol(df, src_ip).cast("string"),
                sp,
                _fcol(df, dst_ip).cast("string"),
                dp,
                proto_c,
                seed=self.seed,
            )
            return df.withColumn(
                self.target, self._guarded(df, guard, self.target, cid)
            )
        s_ip, d_ip = _fcol(df, src_ip).cast("string"), _fcol(df, dst_ip).cast("string")
        s_pt, d_pt = _fcol(df, src_port).cast("long"), _fcol(df, dst_port).cast("long")
        # normalize flow direction: order endpoints so both directions
        # of a flow hash identically (communityid.go flow ordering)
        fwd = (s_ip < d_ip) | ((s_ip == d_ip) & (s_pt <= d_pt))
        lo_ip, hi_ip = F.when(fwd, s_ip).otherwise(d_ip), F.when(fwd, d_ip).otherwise(s_ip)
        lo_pt = F.when(fwd, s_pt).otherwise(d_pt)
        hi_pt = F.when(fwd, d_pt).otherwise(s_pt)
        canon = F.concat_ws(
            ":", F.lit(self.seed), lo_ip, hi_ip, lo_pt, hi_pt,
            _fcol(df, proto).cast("string"),
        )
        digest = F.sha1(canon) if self.hash_fn == "sha1" else F.md5(canon)
        cid = F.concat(F.lit("1:"), F.base64(F.unhex(digest)))
        return df.withColumn(self.target, self._guarded(df, guard, self.target, cid))


@dataclass
class AddLocale(Processor):
    """add_locale (libbeat/processors/add_locale/add_locale.go): set
    ``event.timezone`` to the host zone (abbreviation or offset
    format). A distributed replay must not depend on executor wall
    clocks — the zone is explicit config here, defaulting to the
    session's pinned UTC."""

    format: str = "offset"
    timezone: str = "UTC"
    #: the instant the offset is evaluated at — DST makes a zone's
    #: offset time-dependent, and a replay must not read the driver
    #: wall clock (Europe/Berlin is +01:00 in January, +02:00 in
    #: July); pin it in config
    at: str = "2020-01-01T00:00:00+00:00"

    def apply(self, df, guard=None):
        import datetime
        import zoneinfo

        if self.format == "abbreviation":
            val = self.timezone
        else:
            ref = datetime.datetime.fromisoformat(self.at)
            if ref.tzinfo is None:
                ref = ref.replace(tzinfo=datetime.timezone.utc)
            off = ref.astimezone(
                zoneinfo.ZoneInfo(self.timezone)
            ).utcoffset() or datetime.timedelta(0)
            mins = int(off.total_seconds() // 60)
            sign = "-" if mins < 0 else "+"
            mins = abs(mins)
            val = f"{sign}{mins // 60:02d}:{mins % 60:02d}"
        return df.withColumn(
            "event.timezone",
            self._guarded(df, guard, "event.timezone", F.lit(val)),
        )


@dataclass
class Rename(Processor):
    """rename (actions/rename.go:69-101): fails at compile time if the
    target column exists (the reference fails at run time per event)."""

    fields: Sequence[Mapping[str, str]]
    ignore_missing: bool = False

    def apply(self, df, guard=None):
        for spec in self.fields:
            src, dst = spec["from"], spec["to"]
            if dst in df.columns:
                raise ValueError(f"rename: target column exists: {dst!r}")
            if src not in df.columns:
                if self.ignore_missing:
                    continue
                raise ValueError(f"rename: missing source column: {src!r}")
            if guard is None:
                df = df.withColumnRenamed(src, dst)
            else:
                # guarded move (conditionals.go:59-91): matching rows
                # carry the value under dst and lose src; others keep
                # src and read dst as NULL. dst is materialized FIRST
                # (it reads src, which the next withColumn rewrites —
                # the lazy-name-resolution gotcha).
                df = df.withColumn(
                    dst, F.when(guard, F.col(f"`{src}`"))
                ).withColumn(
                    src,
                    F.when(~F.coalesce(guard, F.lit(False)), F.col(f"`{src}`")),
                )
        return df


@dataclass
class CopyFields(Processor):
    """copy_fields (actions/copy_fields.go)."""

    fields: Sequence[Mapping[str, str]]

    def apply(self, df, guard=None):
        for spec in self.fields:
            src, dst = spec["from"], spec["to"]
            df = df.withColumn(dst, self._guarded(df, guard, dst, _fcol(df, src)))
        return df


@dataclass
class DropFields(Processor):
    """drop_fields (actions/drop_fields.go): non-fatal on missing."""

    fields: Sequence[str]

    def apply(self, df, guard=None):
        if guard is None:
            return df.drop(*[f for f in self.fields if f in df.columns])
        # guarded delete: the column must survive for non-matching
        # rows, so matching rows read NULL (absent in the flat-column
        # document model) instead of the column vanishing.
        for f in self.fields:
            if f in df.columns:
                df = df.withColumn(
                    f,
                    F.when(~F.coalesce(guard, F.lit(False)), F.col(f"`{f}`")),
                )
        return df


def _field_trie(specs: Sequence[str]) -> dict:
    """Dotted field specs → nested dict; a leaf ``{}`` keeps the whole
    subtree (a broader spec subsumes a narrower one, as the
    reference's ``filtered.Put`` naturally does)."""
    trie: dict = {}
    for spec in specs:
        node = trie
        parts = spec.split(".")
        for i, part in enumerate(parts):
            if part in node and node[part] == {} and i < len(parts) - 1:
                break  # whole subtree already kept
            node = node.setdefault(part, {})
        else:
            node.clear()  # exact spec keeps the whole subtree
    return trie


def _project_struct(col: Column, dtype, node: dict) -> Column | None:
    """Rebuild a struct keeping only whitelisted subtrees (the Spark
    form of the reference's GetValue/Put rebuild,
    include_fields.go:68-89). Missing subfields are ignored
    (ErrKeyNotFound is non-fatal there); a deeper spec through a
    non-struct value is likewise skipped."""
    from pyspark.sql import types as T

    names = {f.name: f.dataType for f in dtype.fields}
    out = []
    for name, sub in node.items():
        if name not in names:
            continue
        child, ctype = col[name], names[name]
        if not sub:
            out.append(child.alias(name))
        elif isinstance(ctype, T.StructType):
            nested = _project_struct(child, ctype, sub)
            if nested is not None:
                out.append(nested.alias(name))
    if not out:
        return None
    return F.struct(*out)


def _mask_struct(col: Column, dtype, node: dict) -> Column:
    """Schema-preserving variant of :func:`_project_struct` for the
    guarded include_fields path: every subfield keeps its slot, but
    non-whitelisted subtrees read NULL (the guard needs matching and
    non-matching rows to share ONE struct type)."""
    from pyspark.sql import types as T

    out = []
    for f in dtype.fields:
        child = col[f.name]
        if f.name in node:
            sub = node[f.name]
            if not sub:
                out.append(child.alias(f.name))
            elif isinstance(f.dataType, T.StructType):
                out.append(
                    _mask_struct(child, f.dataType, sub).alias(f.name)
                )
            else:
                # deeper path through a non-struct: not kept
                out.append(F.lit(None).cast(f.dataType).alias(f.name))
        else:
            out.append(F.lit(None).cast(f.dataType).alias(f.name))
    return F.struct(*out)


@dataclass
class IncludeFields(Processor):
    """include_fields (actions/include_fields.go:68-89): whitelist
    projection with nested-struct rebuild — ``a.b`` keeps only
    subfield ``b`` inside struct column ``a`` (the reference resolves
    dotted paths with GetValue and re-Puts them into a fresh map).
    The reference always keeps @timestamp and type — we always keep
    the ordering keys and ts. A literal flat column named ``a.b``
    wins over path interpretation (the @metadata.* convention)."""

    fields: Sequence[str]
    always_keep: Sequence[str] = ("conv_id", "turn_idx", "ts")

    def apply(self, df, guard=None):
        from pyspark.sql import types as T

        flat = [s for s in self.fields if s in df.columns or "." not in s]
        nested = [s for s in self.fields if s not in flat]
        trie = _field_trie(nested)
        keep_whole = set(flat) | set(self.always_keep)
        schema = {f.name: f.dataType for f in df.schema.fields}
        if guard is not None:
            # guarded whitelist: the schema must not change per row,
            # so non-whitelisted columns read NULL on matching rows
            # (the flat-column form of "absent") and struct columns
            # keep their slots through a schema-preserving mask.
            g = F.coalesce(guard, F.lit(False))
            out = []
            for c in df.columns:
                src = F.col("`" + c + "`")
                if c in keep_whole:
                    out.append(src)
                elif c in trie:
                    node = trie[c]
                    if not node:
                        out.append(src)
                    elif isinstance(schema[c], T.StructType):
                        out.append(
                            F.when(g, _mask_struct(src, schema[c], node))
                            .otherwise(src)
                            .alias(c)
                        )
                    else:
                        out.append(F.when(~g, src).alias(c))
                else:
                    out.append(F.when(~g, src).alias(c))
            return df.select(*out)
        out = []
        for c in df.columns:
            if c in keep_whole:
                out.append(F.col("`" + c + "`"))
            elif c in trie:
                node = trie[c]
                if not node:
                    out.append(F.col("`" + c + "`"))
                elif isinstance(schema[c], T.StructType):
                    proj = _project_struct(F.col("`" + c + "`"), schema[c], node)
                    if proj is not None:
                        out.append(proj.alias(c))
                # deeper path through a non-struct: skipped (non-fatal)
        return df.select(*out)


@dataclass
class TruncateFields(Processor):
    """truncate_fields (actions/truncate_fields.go:79-110). When a
    value was actually truncated the row is tagged ``truncated`` in
    ``log_flags`` (the reference sets `log.flags: truncated`,
    truncate_fields.go:153-168)."""

    fields: Sequence[str]
    max_characters: int

    def apply(self, df, guard=None):
        # column refs resolve lazily by name — capture the pre-truncate
        # "was anything longer than the limit" bit BEFORE overwriting
        changed = F.lit(False)
        for f in self.fields:
            changed = changed | (F.length(_fcol(df, f)) > self.max_characters)
        tmp = "_trunc_changed"
        df = df.withColumn(tmp, changed)
        changed = F.col(tmp)
        for f in self.fields:
            new = F.substring(_fcol(df, f), 1, self.max_characters)
            df = df.withColumn(f, self._guarded(df, guard, f, new))
        df = self._add_flag(
            df, guard, F.coalesce(changed, F.lit(False)), "truncated"
        )
        return df.drop(tmp)


@dataclass
class DropEvent(Processor):
    """drop_event (actions/drop_event.go): requires a when: in practice;
    unguarded drops everything, matching the reference."""

    def apply(self, df, guard=None):
        if guard is None:
            return df.filter(F.lit(False))
        return df.filter(~guard)


@dataclass
class DecodeJsonFields(Processor):
    """decode_json_fields (actions/decode_json_fields.go:82-130):
    parse a string column as JSON into a typed struct/map column.
    With ``add_error_key`` (the JSON reader's AddErrorKey,
    readjson/json.go:54-55), a non-null input that fails to decode
    tags the row ``json_decode_error`` in ``log_flags``."""

    fields: Sequence[str]
    schema: str = "map<string,string>"
    target: str | None = None  # default: <field>_json
    add_error_key: bool = False

    def apply(self, df, guard=None):
        failed = F.lit(False)
        for f in self.fields:
            tgt = self.target or f"{f}_json"
            if tgt == f:
                # the error expression reads the source column lazily;
                # overwriting it in place would poison that read
                raise ValueError("decode_json_fields: target == source")
            new = F.from_json(_fcol(df, f), self.schema)
            # from_json returns NULL for a failed MAP parse but an
            # all-NULL STRUCT for a failed struct parse — probe raw
            # JSON validity too so both schema kinds tag failures.
            # The literal document `null` is LEGAL JSON that decodes to
            # NULL — both probes yield NULL for it, so exempt it
            # explicitly rather than tagging a valid document.
            probe = F.get_json_object(_fcol(df, f), "$")
            # rlike, not trim(): trim strips only spaces, but JSON
            # whitespace includes tab/newline/CR
            is_null_doc = _fcol(df, f).rlike(r"^[ \t\r\n]*null[ \t\r\n]*$")
            failed = failed | (
                _fcol(df, f).isNotNull()
                & ~is_null_doc
                & (new.isNull() | probe.isNull())
            )
            df = df.withColumn(tgt, self._guarded(df, guard, tgt, new))
        if self.add_error_key:
            df = self._add_flag(df, guard, failed, "json_decode_error")
        return df


@dataclass
class ExtractField(Processor):
    """extract_field (actions/extract_field.go:75-95): split by
    separator, take the Nth token COUNTING NON-EMPTY TOKENS ONLY —
    the reference runs ``deleteEmpty(parts)`` before indexing
    (extract_field.go:86-87), so a leading/doubled separator does not
    shift the index. An out-of-range index leaves the event unchanged
    in the reference (error return, extract_field.go:88-90); the
    flat-column analog is a NULL target, which is why this uses
    null-safe ``F.get`` — ``element_at`` would ABORT the whole job
    under Spark 4 ANSI mode on the first short string."""

    field: str
    separator: str
    index: int
    target: str

    def apply(self, df, guard=None):
        parts = F.split(_fcol(df, self.field), F.lit(self.separator).cast("string"), -1)
        tok = F.filter(parts, lambda p: p != F.lit(""))
        new = F.get(tok, self.index)
        return df.withColumn(self.target, self._guarded(df, guard, self.target, new))


@dataclass
class Dissect(Processor):
    """dissect (libbeat/processors/dissect/processor.go:53-83).

    Every tokenizer, modifiers included, runs on one JVM-side kernel
    (:func:`~beats_spark.functions.dissect.dissect_frame`: delimiter
    offsets, then a fold for append/indirect). Parse failure tags the
    row with ``dissect_parsing_error`` in ``log_flags`` and produces
    NULL fields; a NULL source gets NULL fields and no flag. Existing
    columns are never overwritten (processor.go:85-108 refuses) — we
    fail at compile time instead.
    """

    tokenizer: str
    field: str = "text"
    target_prefix: str = ""
    #: ES ingest-node dissect OVERWRITES existing fields (the x-pack
    #: cisco/asa pipeline runs ~46 per-message-id guarded dissects all
    #: writing the same ECS columns); the beats-side default stays
    #: strict and raises on a clash (processor.go:85-108)
    overwrite: bool = False

    def _out(self, key: str) -> str:
        return f"{self.target_prefix}{key}"

    def apply(self, df, guard=None):
        """Two DataFrame operations: the kernel's ``withColumns``, then
        one projection that adds the outputs and leaves the kernel's
        columns out (unguarded, its Column list is built once per input
        schema)."""
        kdf, out, _, _ = self._kernel(df, guard)
        if guard is not None:
            return kdf.select(*_project(df.columns, out))
        key = ("dissect_apply", self.tokenizer, self.field, self.target_prefix)
        cols = memo(key + tuple(df.columns), lambda: _project(df.columns, out))
        return kdf.select(*cols)

    def parse(self, df, guard=None):
        """:meth:`apply` without dropping the kernel's columns: returns
        ``(df, failed, tmp_cols)``. ``failed`` reads the kernel's
        materialized match gate, so it stays the per-row parse failure
        of THIS step (whatever ``log_flags`` held before) until
        ``tmp_cols`` are dropped."""
        kdf, out, failed, tmp_cols = self._kernel(df, guard)
        return kdf.withColumns(out), failed, tmp_cols

    def _kernel(self, df, guard):
        """``(df + kernel columns, outputs by name, failed, tmp_cols)``.
        Unguarded, every Column here is built once per JVM (the kernel
        by :func:`dissect_frame`, the flag append below)."""
        d = compile_tokenizer(self.tokenizer)
        outs = [self._out(k) for k in d.output_keys]
        clash = [c for c in outs if c in df.columns and not self.overwrite]
        if FLAGS_FIELD in outs:
            clash.append(FLAGS_FIELD)
        if clash:
            raise ValueError(f"dissect would overwrite existing columns: {clash}")
        has_flags = FLAGS_FIELD in df.columns
        kdf, cols, failed, tmp_cols = dissect_frame(
            df, _fref(df, self.field), self.tokenizer
        )
        # ``failed`` is one expression for every tokenizer
        flags = memo(
            ("dissect_flags", has_flags),
            lambda: _flag_union(has_flags, failed, FLAG_PARSING_ERROR),
        )
        out = {self._out(k): c for k, c in cols.items()}
        out[FLAGS_FIELD] = flags
        if guard is not None:
            out = {k: self._guarded(df, guard, k, c) for k, c in out.items()}
        return kdf, out, failed, tmp_cols


def _project(columns: Sequence[str], out: Mapping[str, Column]) -> list[Column]:
    """The ``select`` list of ``withColumns(out)`` over a frame with
    ``columns``, names matched the way Spark's default resolver does
    (case-insensitively): a replaced column keeps its place and takes
    its new name, new ones follow."""
    named = {k.lower(): k for k in out}
    kept = [
        out[named[c.lower()]].alias(named[c.lower()]) if c.lower() in named
        else F.col(f"`{c}`")
        for c in columns
    ]
    have = {c.lower() for c in columns}
    return kept + [c.alias(k) for k, c in out.items() if k.lower() not in have]


@dataclass
class Grok(Processor):
    """grok parse (module ingest pipelines, e.g.
    filebeat/module/apache/access/ingest/default.json:3-27): one or
    more named-pattern expressions, first match wins, ``:int``/
    ``:float`` convert types. Failure tags ``grok_parsing_error``."""

    patterns: Sequence[str]
    field: str = "text"
    target_prefix: str = ""
    #: ES ingest grok ``pattern_definitions`` — custom names merged
    #: over the library, may redefine library names and capture fields
    pattern_definitions: Mapping[str, str] | None = None
    #: ingest-node grok OVERWRITES existing fields (31/42 module
    #: pipelines re-grok into fields earlier steps created); the
    #: beats-side default stays strict and raises on a clash
    overwrite: bool = False

    def apply(self, df, guard=None):
        df, _, tmp_cols = self.parse(df, guard)
        return df.drop(*tmp_cols)

    def parse(self, df, guard=None):
        """:meth:`apply` without dropping the kernel's columns: returns
        ``(df, failed, tmp_cols)``. ``failed`` reads the kernel's
        materialized per-pattern match columns, so it still tests the
        PRE-grok source after a capture overwrote it, until
        ``tmp_cols`` are dropped."""
        from ..functions.grok import grok_single_pass

        # backtick-quote: module pipelines grok dotted ECS fields
        # (apache default.json groks `source.address` in step 3);
        # single-pass: ~2 regex runs per pattern per row instead of
        # one per FIELD — the 100-TB parse path
        df, cols, masks, ok, tmp_cols = grok_single_pass(
            df,
            self.field,
            list(self.patterns),
            dict(self.pattern_definitions or {}),
        )
        clash = [
            f"{self.target_prefix}{k}" for k in cols
            if f"{self.target_prefix}{k}" in df.columns
        ]
        if clash and not self.overwrite:
            raise ValueError(f"grok would overwrite existing columns: {clash}")
        # ingest-node set semantics: only the matching pattern's
        # fields are written; non-matching / null-source rows keep
        # their existing values (mask otherwise existing)
        assigns: dict[str, Column] = {}
        for k, c in cols.items():
            out = f"{self.target_prefix}{k}"
            if out in df.columns:
                prev = F.col("`" + out + "`")
                new_t = df.select(c.alias("_t")).schema[0].dataType
                old_t = df.schema[out].dataType
                from pyspark.sql.types import NullType

                if new_t != old_t and not isinstance(
                    old_t, NullType
                ) and not isinstance(new_t, NullType):
                    # a typed capture (:long/:float) overwriting a
                    # string column: the column takes the capture's
                    # type; unmatched rows carry their old value
                    # converted (per-doc heterogeneous types don't
                    # exist in a Spark column)
                    prev = prev.try_cast(new_t)
                # a null extract is a NON-PARTICIPATING optional/
                # alternation group (grok_single_pass nullifies its ''
                # — see CompiledGrok.conditional) or a failed typed
                # cast: ES sets nothing, the prior value survives.
                # postgresql's `(duration: …%{GREEDYDATA:…query}|
                # %{GREEDYDATA:message})` keeps the original message on
                # the duration branch; es/slowlog's sure `stats`
                # capture still writes its genuine ''.
                c = F.when(masks[k], F.coalesce(c, prev)).otherwise(prev)
            assigns[out] = self._guarded(df, guard, out, c)
        # ONE atomic projection: every extract reads the PRE-step
        # frame, so a capture landing in the source field itself
        # (elasticsearch/gc GC_YOUNG re-captures `message` FROM
        # `message`) can't poison the later extracts (CLAUDE.md
        # lazy-column-resolution gotcha)
        df = df.withColumns(assigns)
        failed = ~F.coalesce(ok, F.lit(True))
        return self._add_flag(df, guard, failed, "grok_parsing_error"), failed, tmp_cols


@dataclass
class Script(Processor):
    """script (libbeat/processors/script/processor.go:34-52): the
    reference embeds ECMAScript with a per-event ``process(event)``
    hook; our sanctioned escape hatch is an arbitrary
    DataFrame→DataFrame callable (expected to use pandas UDFs /
    mapInPandas internally, never row-at-a-time Python).

    Migrating a ``process(event)`` script: the event's fields are the
    row's columns, and the whole-DataFrame callable replaces the
    per-event mutation with a VECTORIZED one. A JS processor like::

        function process(event) {
            var msg = event.Get("message");
            event.Put("msg_len", msg.length);
            if (msg.indexOf("beta") !== -1) event.Tag("beta");
        }

    becomes either pure Column work (always preferred — JVM-side)::

        Script(fn=lambda df: df
            .withColumn("msg_len", F.length("message"))
            .withColumn("tags", F.when(
                F.col("message").contains("beta"),
                F.array_union(F.coalesce("tags", F.array()),
                              F.array(F.lit("beta"))),
            ).otherwise(F.col("tags"))))

    or — only when Column expressions genuinely can't express it — an
    Arrow-batched pandas transform over the same columns::

        def fn(df):
            def batches(it):
                for pdf in it:                 # pandas DataFrame
                    pdf["msg_len"] = pdf["message"].str.len()
                    yield pdf
            return df.mapInPandas(batches, df.schema.simpleString()
                                  + ", msg_len int")

        Script(fn=fn)

    For a LITERAL day-one port of an existing ``process(event)``
    program — same Get/Put/Delete/Rename/Tag/Cancel API, same
    semantics, ``register(params)`` included — wrap it with
    :func:`beats_spark.operators.jsevent.process_event_script`::

        def process(event):
            if event.Get("event.code") == 1102:
                event.Put("event.action", "cleared")

        Script(fn=process_event_script(
            process, added={"event.action": "string"}))
    """

    fn: Callable[[DataFrame], DataFrame]

    def apply(self, df, guard=None):
        if guard is None:
            return self.fn(df)
        # fn is an arbitrary whole-frame transform, so the guard is a
        # split-union (the only exact restatement of "run this
        # processor on matching events only", conditionals.go:59-91):
        # matching rows flow through fn, the rest pass by, and
        # unionByName(allowMissingColumns) NULLs fn-added columns on
        # the pass-by branch. Both branches push complementary
        # filters to the same scan.
        g = F.coalesce(guard, F.lit(False))
        return self.fn(df.where(g)).unionByName(
            df.where(~g), allowMissingColumns=True
        )


@dataclass
class When(Processor):
    """when: guard wrapper (processors/conditionals.go:59-91)."""

    condition: Mapping[str, Any]
    then: Processor

    def apply(self, df, guard=None):
        # pass df so schema-aware condition forms activate (the
        # array-element 'contains' needs the column's type)
        cond = compile_condition(self.condition, df)
        if guard is not None:
            cond = cond & guard
        return self.then.apply(df, guard=cond)


@dataclass
class IfThenElse(Processor):
    """if/then/else (processors/conditionals.go:113-174)."""

    condition: Mapping[str, Any]
    then: Sequence[Processor]
    otherwise: Sequence[Processor] = dc_field(default_factory=tuple)

    def apply(self, df, guard=None):
        cond = compile_condition(self.condition, df)
        if guard is not None:
            cond = cond & guard
        for p in self.then:
            df = p.apply(df, guard=cond)
        for p in self.otherwise:
            df = p.apply(df, guard=~cond)
        return df


def apply_chain(df: DataFrame, processors: Sequence[Processor]) -> DataFrame:
    """Sequential chain execution (processor.go:129-142). Drops
    short-circuit naturally: a filter removes the rows from every
    later step."""
    for p in processors:
        df = p.apply(df)
    return df
