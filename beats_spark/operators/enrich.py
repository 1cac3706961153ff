"""Enrichment: broadcast-join lookup processors.

The reference's enrichers are all row → small-dimension cached lookups
(add_process_metadata/add_docker_metadata/add_kubernetes_metadata —
SURVEY.md §2.5); none is a relational join of two event streams. The
Spark-native form is an explicit ``F.broadcast`` left join: the dim
table ships to every executor once (the reference refreshes a
process-local cache), the fact side never shuffles.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from .actions import Processor, guard_added_columns


@dataclass
class BroadcastLookup(Processor):
    """Left-join a small dimension table, broadcast to all executors.

    Mirrors add_*_metadata processors (e.g.
    libbeat/processors/add_process_metadata/add_process_metadata.go:107
    — pid → cached process info). A missing dim row leaves the new
    columns NULL, like a cache miss leaves the event unenriched.

    The join never shuffles the fact side, but each action that plans
    it (every run, every micro-batch) builds and ships the broadcast.
    Build ``dim`` with ``session.local_frame`` or from a table scan: a
    list-backed ``createDataFrame`` dim makes that broadcast a
    Python-worker job (≈0.3–0.55 s on a 4-vCPU VM); a LocalRelation
    is collected on the driver in milliseconds.
    """

    dim: DataFrame
    on: Sequence[str]
    prefix: str = ""

    @cached_property
    def _hinted_dim(self) -> DataFrame:
        """``dim`` renamed and hinted, once per instance: every run and
        micro-batch joins the same DataFrame."""
        dim = self.dim
        if self.prefix:
            dim = dim.withColumnsRenamed(
                {c: f"{self.prefix}{c}" for c in dim.columns if c not in self.on}
            )
        return F.broadcast(dim)

    def apply(self, df, guard=None):
        out = df.join(self._hinted_dim, on=list(self.on), how="left")
        return guard_added_columns(df, out, guard)


@dataclass
class DnsEnrich(Processor):
    """dns processor analog (libbeat/processors/dns/dns.go:42,79).

    The reference reverse-looks-up a field through a TTL-bounded cache
    (~500 eps uncached — libbeat/docs/processors-using.asciidoc:1257).
    The 100 TB-safe restatement is the same shape as every other
    enricher: resolve the DISTINCT values once into a dimension table,
    broadcast-join it back — the network cost scales with cardinality,
    not row count. ``resolver`` maps a batch of names to addresses; the
    default is a deterministic stub (this sandbox has no DNS), swap in
    a real resolver callable in production. ``action`` mirrors the
    reference: "replace" overwrites the field, "append" fills a new
    column.
    """

    field: str
    target: str = "dns_resolved"
    action: str = "append"
    resolver: object = None  # Callable[[list[str]], list[str | None]]
    #: driver-side dim build is only safe for bounded name cardinality
    #: (the reference's cache makes the same assumption); exceeding it
    #: raises instead of silently OOMing the driver
    max_names: int = 100_000

    @staticmethod
    def _stub_resolver(names: list) -> list:
        # deterministic fake: hash-derived 10.x.y.z per name
        import hashlib

        out = []
        for n in names:
            h = hashlib.md5(str(n).encode()).digest()
            out.append(f"10.{h[0]}.{h[1]}.{h[2]}")
        return out

    def apply(self, df, guard=None):
        resolver = self.resolver or self._stub_resolver
        spark = df.sparkSession
        names = [
            r[0]
            for r in df.select(self.field).where(
                F.col(self.field).isNotNull()
            ).distinct().limit(self.max_names + 1).collect()
        ]
        if len(names) > self.max_names:
            raise ValueError(
                f"dns: > {self.max_names} distinct values in {self.field!r};"
                " resolve via a precomputed dim table instead"
            )
        addrs = resolver(names)
        dim = local_frame(
            spark,
            zip(names, addrs),
            f"`{self.field}` string, `{self.target}` string",
        )
        out = df.join(F.broadcast(dim), on=self.field, how="left")
        if self.action == "replace":
            if guard is not None:
                # matching rows take the resolved value (NULL on a
                # miss, like the unguarded path); others keep the
                # original field
                resolved = F.col(f"`{self.target}`")
                return out.withColumn(
                    self.field, self._guarded(out, guard, self.field, resolved)
                ).drop(self.target)
            return out.drop(self.field).withColumnRenamed(
                self.target, self.field
            )
        return guard_added_columns(df, out, guard)


@dataclass
class AsofLookup(Processor):
    """Point-in-time (as-of) broadcast enrich: each row gets the
    LATEST dim version whose ``version_col`` ≤ the row's ``ts_col`` —
    the temporal form of BroadcastLookup for versioned dimensions
    (config snapshot history, geoip DB releases, rotated lookup
    tables). The reference's enrichers always read the CURRENT cache
    state (e.g. add_process_metadata's process cache,
    libbeat/processors/add_process_metadata/add_process_metadata.go:107);
    replaying history at 100 TB needs the version that was live at
    event time instead.

    Spark has no ASOF JOIN; the naive restatement (equi-join on key +
    per-row window/groupBy for the max eligible version) shuffles the
    whole corpus. This one never shuffles the fact side: the dim
    collapses to ONE row per key carrying its version history as a
    ts-sorted ``array<struct>`` (bounded — version histories are
    config-sized), broadcast-joins on the key, and each row picks its
    version map-side with ``F.get(filter(hist, v ≤ ts), size-1)``
    (``F.get``, never element_at: ANSI mode aborts on out-of-range,
    and an empty filter result must read as NULL = "no version live
    yet"). (key, version) pairs must be unique — array_sort on the
    struct is version-major so ties would be payload-order-defined.
    DuckDB's native ``ASOF LEFT JOIN`` is the oracle twin
    (tests/test_heavyhitters.py is the sketch precedent; this one is
    pinned in tests/test_sinks_enrich.py)."""

    dim: DataFrame
    on: Sequence[str]
    ts_col: str = "ts"
    version_col: str = "version_ts"
    prefix: str = ""

    def apply(self, df, guard=None):
        on = list(self.on)
        payload = [
            c
            for c in self.dim.columns
            if c not in on and c != self.version_col
        ]
        hist = self.dim.groupBy(*on).agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(self.version_col).alias("_v"), *payload
                    )
                )
            ).alias("_hist")
        )
        joined = df.join(F.broadcast(hist), on=on, how="left")
        ts = F.col(self.ts_col)
        eligible = F.filter("_hist", lambda e: e["_v"] <= ts)
        # materialize the picked struct ONCE (expression-reuse gotcha:
        # reading it per payload column would re-filter per column)
        picked = joined.select(
            "*", F.get(eligible, F.size(eligible) - 1).alias("_asof")
        )
        out = picked
        for c in payload:
            # matching rows take the as-of value; others keep a
            # pre-existing target column (or NULL if it's new)
            tgt = f"{self.prefix}{c}"
            new = F.col("_asof").getField(c)
            out = out.withColumn(tgt, self._guarded(df, guard, tgt, new))
        return out.drop("_hist", "_asof")


#: DuckDB twin of ``functions.conditions._ipv4_to_long`` (dotted-quad
#: IPv4 → long) for the oracle's GeoIP lookup; only valid IPv4 reaches it
IP_TO_LONG_SQL = (
    "(split_part({c}, '.', 1)::BIGINT * 16777216"
    " + split_part({c}, '.', 2)::BIGINT * 65536"
    " + split_part({c}, '.', 3)::BIGINT * 256"
    " + split_part({c}, '.', 4)::BIGINT)"
)


#: bounded uap-core-style ordered regex tables (ua-parser/uap-core
#: regexes.yaml semantics: FIRST matching pattern wins; the shipped
#: subset covers the major engine families — swap in the full
#: compiled regexes.yaml for production parity). Shared verbatim by
#: the Spark chain and the DuckDB twin, so patterns must stay in the
#: java.util.regex ∩ RE2 common dialect (no lookaround).
UA_FAMILY_ROWS = [
    ("Edg(e|A|iOS)?/", "Edge"),
    ("CriOS/", "Chrome Mobile iOS"),
    ("Chrome/.*Mobile", "Chrome Mobile"),
    ("Chrome/", "Chrome"),
    ("Firefox/.*Mobile|Mobile.*Firefox/", "Firefox Mobile"),
    ("Firefox/", "Firefox"),
    ("MSIE |Trident/", "IE"),
    ("OPR/|Opera", "Opera"),
    ("Version/.*Safari/|Safari/", "Safari"),
    ("curl/", "curl"),
    ("python-requests/", "Python Requests"),
    ("(?i)wget", "Wget"),
    ("(?i)bot|crawler|spider", "Spider"),
]
UA_OS_ROWS = [
    ("Windows", "Windows"),
    ("Android", "Android"),
    ("iPhone|iPad|iOS", "iOS"),
    ("Mac OS X|Macintosh", "macOS"),
    ("CrOS", "Chrome OS"),
    ("Linux|X11", "Linux"),
]
UA_DEVICE_ROWS = [
    ("(?i)bot|crawler|spider", "spider"),
    ("Mobile|Android|iPhone", "mobile"),
    ("iPad|Tablet", "tablet"),
    ("Windows|Macintosh|X11|CrOS|Linux", "desktop"),
]
#: generic product-token fallback for the family tier (uap-core's
#: trailing catch-all): 'name/version' → name
UA_FALLBACK_RE = "^([A-Za-z0-9._-]+)/"


def ua_regex_columns(ua: Column) -> dict[str, Column]:
    """First-match UA parse over the bounded regex tables — one
    rlike per pattern (the table is dimension metadata, ~20 rows;
    per-row cost is bounded by table size, and the broadcast dim in
    :class:`UserAgentEnrich` stays the cache tier for hot strings)."""
    fam = F.coalesce(
        *[F.when(ua.rlike(p), F.lit(v)) for p, v in UA_FAMILY_ROWS],
        F.nullif(F.regexp_extract(ua, UA_FALLBACK_RE, 1), F.lit("")),
    )
    os_c = F.coalesce(
        *[F.when(ua.rlike(p), F.lit(v)) for p, v in UA_OS_ROWS],
        F.when(ua.isNotNull(), F.lit("Other")),
    )
    dev = F.coalesce(
        *[F.when(ua.rlike(p), F.lit(v)) for p, v in UA_DEVICE_ROWS],
        F.when(ua.isNotNull(), F.lit("other")),
    )
    return {"name": fam, "os": os_c, "device": dev}


def ua_regex_sql(expr: str) -> dict[str, str]:
    """DuckDB twin of :func:`ua_regex_columns` — generated from the
    same tables, so both engines share one pattern set."""

    def chain(rows, fallback):
        whens = "\n    ".join(
            f"WHEN regexp_matches({expr}, '{p}') THEN '{v}'"
            for p, v in rows
        )
        return f"(CASE\n    {whens}\n    ELSE {fallback} END)"

    fam_fb = (
        f"nullif(regexp_extract({expr}, '{UA_FALLBACK_RE}', 1), '')"
    )
    notnull = f"CASE WHEN {expr} IS NOT NULL THEN {{v}} END"
    return {
        "name": chain(UA_FAMILY_ROWS, fam_fb),
        "os": chain(UA_OS_ROWS, notnull.format(v="'Other'")),
        "device": chain(UA_DEVICE_ROWS, notnull.format(v="'other'")),
    }


@dataclass
class UserAgentEnrich(Processor):
    """user_agent processor as a broadcast-dimension enrich.

    The ingest node parses UA strings against a shipped regexes.yaml
    database (module pipelines' ``user_agent`` step, e.g.
    /root/reference/filebeat/module/apache/access/ingest/default.json:47-51);
    the 100-TB-native restatement is the standard enrich shape: a
    (ua → name/os/device) dimension table broadcast-joined on the
    exact UA string. Attribute columns land as flat dotted ECS names
    ``<target_prefix>.<attr>``; unknown UAs stay NULL (the ingest
    processor's "Other" family can be a dim default row)."""

    dim: DataFrame  # first column = UA string key, rest = attributes
    field: str = "user_agent"
    target_prefix: str = "user_agent"
    #: resolve dim MISSES through the bounded uap-core-style regex
    #: tables (r4 verdict #6): the broadcast dim stays the exact-match
    #: cache tier, unseen-but-parseable UA strings fall through to
    #: :func:`ua_regex_columns` per attribute
    regex_fallback: bool = False

    def apply(self, df, guard=None):
        dim = self.dim
        key = dim.columns[0]
        for c in dim.columns[1:]:
            dim = dim.withColumnRenamed(c, f"{self.target_prefix}.{c}")
        dim = dim.withColumnRenamed(key, self.field)
        out = df.join(F.broadcast(dim), on=self.field, how="left")
        if self.regex_fallback:
            rx = ua_regex_columns(F.col(f"`{self.field}`"))
            for attr, col in rx.items():
                tgt = f"{self.target_prefix}.{attr}"
                if tgt in out.columns:
                    out = out.withColumn(
                        tgt, F.coalesce(F.col(f"`{tgt}`"), col)
                    )
        return guard_added_columns(df, out, guard)


@dataclass
class GeoIPEnrich(Processor):
    """geoip processor as a broadcast CIDR-dimension enrich with
    LONGEST-PREFIX matching.

    The ingest node looks IPs up in a bundled GeoLite2 database
    (module pipelines' ``geoip`` step); here a (cidr → geo attrs)
    dimension drives one broadcast equi-join PER DISTINCT PREFIX
    LENGTH in the dim (fact key = ``ip >> (32 - plen)``), longest
    prefix coalesced first. The fact side never shuffles and never
    explodes: the join count is bounded by the dim's prefix-length
    set (GeoLite2 city has ~2 dozen lengths; a curated routing dim a
    handful) — NOT a nested-loop range join, which would scan every
    dim row per fact row and defeat hash co-location at scale."""

    dim: DataFrame  # columns: cidr ("a.b.c.d/len" or v6) + attributes
    field: str = "ip"
    target_prefix: str = "geoip"

    @staticmethod
    def _v6_key(hex_col: Column, plen: int) -> Column:
        """First ``plen`` bits of a 32-hex v6 address as an equi-join
        key: whole nibbles verbatim plus one bit-shifted partial
        nibble for non-nibble-aligned prefixes."""
        chars, rem = divmod(plen, 4)
        key = F.substring(hex_col, 1, chars)
        if rem:
            nib = F.conv(F.substring(hex_col, chars + 1, 1), 16, 10).cast(
                "int"
            )
            key = F.concat(
                key, F.lit("|"),
                F.shiftright(nib, 4 - rem).cast("string"),
            )
        return F.when(hex_col.isNotNull(), key)

    def apply(self, df, guard=None):
        # the SAFE parsers (NULL for the other family / dirty text,
        # never an ANSI cast abort) — conditions.py shares them
        from ..functions.conditions import _ipv4_to_long, _ipv6_to_hex

        attrs = self.dim.columns[1:]
        cidr = self.dim.columns[0]
        is6 = F.col(cidr).contains(":")
        net = F.split(F.col(cidr), "/")
        dim2 = self.dim.select(
            is6.alias("_is6"),
            net[1].cast("int").alias("_plen"),
            F.when(~is6, _ipv4_to_long(net[0])).alias("_net"),
            F.when(is6, _ipv6_to_hex(net[0])).alias("_net6"),
            *attrs,
        )
        # ≤ 32 + 128 values even adversarially — dimension metadata,
        # not data (GeoLite2 uses a few dozen lengths per family)
        fams = dim2.select("_is6", "_plen").distinct().collect()
        plens4 = sorted((r[1] for r in fams if not r[0]), reverse=True)
        plens6 = sorted((r[1] for r in fams if r[0]), reverse=True)
        ip_s = F.col("`" + self.field + "`").cast("string")
        out = df.withColumn("_ip_long", _ipv4_to_long(ip_s))
        if plens6:
            out = out.withColumn("_ip_hex", _ipv6_to_hex(ip_s))
        val_cols = []
        for plen in plens6:
            d = dim2.where(F.col("_is6") & (F.col("_plen") == plen)).select(
                self._v6_key(F.col("_net6"), plen).alias(f"_k6_{plen}"),
                *[F.col(a).alias(f"_{a}_6_{plen}") for a in attrs],
            )
            out = out.withColumn(
                f"_k6_{plen}", self._v6_key(F.col("_ip_hex"), plen)
            ).join(F.broadcast(d), on=f"_k6_{plen}", how="left")
        for plen in plens4:
            shift = 32 - plen
            d = dim2.where(
                ~F.col("_is6") & (F.col("_plen") == plen)
            ).select(
                F.shiftright("_net", shift).alias(f"_k{plen}"),
                *[F.col(a).alias(f"_{a}_{plen}") for a in attrs],
            )
            out = out.withColumn(
                f"_k{plen}", F.shiftright("_ip_long", shift)
            ).join(F.broadcast(d), on=f"_k{plen}", how="left")
        for a in attrs:
            # longest prefix first WITHIN each family; an address only
            # ever hits its own family's joins
            srcs = [F.col(f"_{a}_6_{p}") for p in plens6] + [
                F.col(f"_{a}_{p}") for p in plens4
            ]
            out = out.withColumn(
                f"{self.target_prefix}.{a}",
                srcs[0] if len(srcs) == 1 else F.coalesce(*srcs),
            )
        drop = (
            ["_ip_long"]
            + (["_ip_hex"] if plens6 else [])
            + [f"_k{p}" for p in plens4]
            + [f"_k6_{p}" for p in plens6]
            + [f"_{a}_{p}" for a in attrs for p in plens4]
            + [f"_{a}_6_{p}" for a in attrs for p in plens6]
        )
        return guard_added_columns(df, out.drop(*drop), guard)


#: demo UA→family rows, shared verbatim with the oracle SQL
UA_DIM_ROWS = [
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) Chrome/120.0",
     "Chrome", "Windows", "desktop"),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 13_5) Safari/605.1.15",
     "Safari", "macOS", "desktop"),
    ("Mozilla/5.0 (Linux; Android 14) Chrome/119.0 Mobile",
     "Chrome Mobile", "Android", "mobile"),
    ("curl/8.4.0", "curl", "Other", "other"),
    ("python-requests/2.31", "Python Requests", "Other", "other"),
]


def dim_user_agents(spark) -> DataFrame:
    """Demo UA-family dimension (FIXTURES.md §2 shape): exact UA
    string → browser/os/device, the worked example the user_agent
    ingest step joins against."""
    return local_frame(
        spark, UA_DIM_ROWS, "ua string, name string, os string, device string"
    )


#: demo CIDR→geo rows, shared verbatim with the oracle SQL
GEO_DIM_ROWS = [
    ("8.8.8.0/24", "US", "Mountain View"),
    ("8.0.0.0/8", "US", "Level3"),
    ("192.168.0.0/16", "ZZ", "rfc1918"),
    ("10.0.0.0/8", "ZZ", "rfc1918"),
    ("203.0.113.0/24", "AU", "doc-net"),
]


def dim_geoip(spark) -> DataFrame:
    """Demo CIDR→geo dimension: overlapping prefixes (8.8.8.0/24
    inside 8.0.0.0/8) so longest-prefix selection is observable."""
    return local_frame(spark, GEO_DIM_ROWS, "cidr string, country string, city string")


#: built-in role and tool dims (FIXTURES.md §2): DDL + rows
ROLE_DIM_SCHEMA = "role string, role_group string, priority int"
ROLE_DIM_ROWS = [
    ("user", "human", 1),
    ("assistant", "agent", 2),
    ("system", "control", 3),
    ("tool", "agent", 2),
]
TOOL_DIM_SCHEMA = "tool string, tool_family string, risk_level string, owner string"
TOOL_DIM_ROWS = [
    ("bash", "shell", "high", "infra"),
    ("search", "retrieval", "low", "platform"),
    ("edit", "fs", "medium", "infra"),
    ("none", "none", "none", "none"),
]


def dim_roles(spark) -> DataFrame:
    """Built-in role metadata dim (FIXTURES.md §2)."""
    return local_frame(spark, ROLE_DIM_ROWS, ROLE_DIM_SCHEMA)


def dim_tools(spark) -> DataFrame:
    """Built-in tool metadata dim (FIXTURES.md §2)."""
    return local_frame(spark, TOOL_DIM_ROWS, TOOL_DIM_SCHEMA)
