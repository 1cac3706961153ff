"""Grok: named-pattern regex parse compiled to JVM-side extracts.

The reference doesn't execute grok itself — filebeat modules ship grok
programs for the ES ingest node (e.g.
``filebeat/module/apache/access/ingest/default.json:3-27``: patterns +
``convert`` types + multi-pattern fallback). This module re-expresses
that surface natively: a ``%{PATTERN:field:type}`` expression expands
to a single Java regex (:func:`compile_grok`), and
:func:`grok_single_pass` extracts every field of a pattern from one
``regexp_replace`` + ``split`` per row (whole-stage codegen, no
Python); multi-pattern programs become per-field ``coalesce`` over
the alternatives — the ingest node's first-match-wins.

The pattern library is a from-scratch subset of the public grok
pattern names (the names are an ecosystem convention; the regexes
below are written fresh and kept RE2/Java-compatible, with no
capturing groups so group numbering stays ours).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F

# Library patterns MUST NOT contain capturing groups — only (?:...).
PATTERNS: dict[str, str] = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"(?:[+-]?\d+)",
    "NONNEGINT": r"\d+",
    "BASE10NUM": r"(?:[+-]?(?:\d+(?:\.\d+)?|\.\d+))",
    "NUMBER": r"(?:[+-]?(?:\d+(?:\.\d+)?|\.\d+))",
    "POSINT": r"[1-9]\d*",
    "YEAR": r"(?:\d{4})",
    "MONTHNUM": r"(?:0?[1-9]|1[0-2])",
    "MONTHDAY": r"(?:0?[1-9]|[12]\d|3[01])",
    "HOUR": r"(?:[01]?\d|2[0-3])",
    "MINUTE": r"[0-5]\d",
    # upstream grok allows :, . or , before the fraction (logstash
    # emits 09:57:58,243)
    "SECOND": r"(?:[0-5]\d(?:[:.,]\d+)?|60)",
    "TIME": r"(?:%{HOUR}:%{MINUTE}:%{SECOND})",
    "TIMESTAMP_ISO8601": (
        r"(?:%{YEAR}-%{MONTHNUM}-%{MONTHDAY}[T ]%{HOUR}:%{MINUTE}"
        r"(?::%{SECOND})?(?:Z|[+-]%{HOUR}(?::?%{MINUTE})?)?)"
    ),
    "MONTH": (
        r"(?:Jan(?:uary)?|Feb(?:ruary)?|Mar(?:ch)?|Apr(?:il)?|May|"
        r"Jun(?:e)?|Jul(?:y)?|Aug(?:ust)?|Sep(?:tember)?|Oct(?:ober)?|"
        r"Nov(?:ember)?|Dec(?:ember)?)"
    ),
    "HTTPDATE": r"(?:%{MONTHDAY}/%{MONTH}/%{YEAR}:%{TIME} [+-]\d{4})",
    "IPV4": (
        r"(?:(?:25[0-5]|2[0-4]\d|[01]?\d{1,2})\.){3}"
        r"(?:25[0-5]|2[0-4]\d|[01]?\d{1,2})"
    ),
    # full, compressed (::), and v4-suffixed forms; module fixtures
    # carry ::1 and 2a03:… client addresses. The ecosystem pattern
    # allows a trailing zone id (`(%.+)?`) — iis logs `::1%0`; we
    # bound the zone to non-space so a greedy tail can't swallow the
    # rest of the line
    "IPV6": (
        r"(?:(?:"
        r"(?:[0-9A-Fa-f]{1,4}:){6}(?:[0-9A-Fa-f]{1,4}:[0-9A-Fa-f]{1,4}|%{IPV4})"
        r"|::(?:[0-9A-Fa-f]{1,4}:){0,5}(?:[0-9A-Fa-f]{1,4}(?::[0-9A-Fa-f]{1,4})?|%{IPV4})?"
        r"|(?:[0-9A-Fa-f]{1,4}:){1,6}:(?:(?:[0-9A-Fa-f]{1,4}:){0,4}(?:[0-9A-Fa-f]{1,4}|%{IPV4}))?"
        r"|(?:[0-9A-Fa-f]{1,4}:){1,7}:"
        r")(?:%\S+)?)"
    ),
    "IP": r"(?:%{IPV6}|%{IPV4})",
    "HOSTNAME": r"(?:[A-Za-z0-9][A-Za-z0-9\-]*(?:\.[A-Za-z0-9][A-Za-z0-9\-]*)*)",
    "IPORHOST": r"(?:%{IP}|%{HOSTNAME})",
    "USERNAME": r"[A-Za-z0-9._-]+",
    "USER": r"%{USERNAME}",
    "LOGLEVEL": (
        r"(?:[Tt]race|TRACE|[Dd]ebug|DEBUG|[Ii]nfo|INFO|[Nn]otice|NOTICE|"
        r"[Ww]arn(?:ing)?|WARN(?:ING)?|[Ee]rr(?:or)?|ERR(?:OR)?|"
        r"[Cc]rit(?:ical)?|CRIT(?:ICAL)?|[Ff]atal|FATAL)"
    ),
    "QS": r'(?:"(?:[^"\\]|\\.)*")',
    "UUID": r"[0-9a-fA-F]{8}-(?:[0-9a-fA-F]{4}-){3}[0-9a-fA-F]{12}",
    # composites used by the reference's module ingest pipelines
    # (filebeat/module/system/syslog/ingest/pipeline.json,
    # filebeat/module/apache/access/ingest/default.json)
    "SYSLOGTIMESTAMP": r"(?:%{MONTH} +%{MONTHDAY} %{TIME})",
    "PROG": r"[\x21-\x5a\x5c\x5e-\x7e]+",
    "SYSLOGPROG": r"(?:%{PROG}(?:\[\d+\])?)",
    "HTTPVERSION": r"(?:HTTP/\d+\.\d+)",
    "PATH": r"(?:/[^\s?#]*)",
    "URIPARAM": r"(?:\?[^\s#]*)",
    # names the module ingest corpus references beyond the r2 set
    # (apache/error, icinga, kafka, iis, postgresql, system/* module
    # ingest JSONs); regexes written fresh, non-capturing
    # timezone abbreviations (upstream grok-patterns TZ)
    "TZ": r"(?:[APMCE][SD]T|UTC|GMT)",
    # MAC addresses (upstream grok-patterns; iptables NETFILTERMAC
    # builds on MAC)
    "CISCOMAC": r"(?:(?:[A-Fa-f0-9]{2}){2}(?:\.(?:[A-Fa-f0-9]{2}){2}){2})",
    "WINDOWSMAC": r"(?:[A-Fa-f0-9]{2}(?:-[A-Fa-f0-9]{2}){5})",
    "COMMONMAC": r"(?:[A-Fa-f0-9]{2}(?::[A-Fa-f0-9]{2}){5})",
    "MAC": r"(?:%{CISCOMAC}|%{WINDOWSMAC}|%{COMMONMAC})",
    # hex number with optional sign/0x (upstream BASE16NUM, sans the
    # lookbehind guard — anchored use in the iptables patterns)
    "BASE16NUM": r"(?:[+-]?(?:0x)?[0-9A-Fa-f]+)",
    "DAY": (
        r"(?:Mon(?:day)?|Tue(?:sday)?|Wed(?:nesday)?|Thu(?:rsday)?|"
        r"Fri(?:day)?|Sat(?:urday)?|Sun(?:day)?)"
    ),
    "ISO8601_TIMEZONE": r"(?:Z|[+-]%{HOUR}(?::?%{MINUTE})?)",
    # the 0x prefix is OPTIONAL in the ecosystem pattern — postgresql
    # captures its plain-decimal core_id ("835-1") as BASE16FLOAT
    "BASE16FLOAT": (
        r"(?:\b(?<![0-9A-Fa-f.])[+-]?(?:0x)?"
        r"(?:[0-9A-Fa-f]+(?:\.[0-9A-Fa-f]*)?|\.[0-9A-Fa-f]+)\b)"
    ),
    "JAVACLASS": r"(?:[A-Za-z$_][A-Za-z$_0-9]*(?:\.[A-Za-z$_][A-Za-z$_0-9]*)*)",
    "JAVALOGMESSAGE": r".*",
    "SYSLOGHOST": r"%{IPORHOST}",
    "URIPATH": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%&_\-]*)+",
    "URIPATHPARAM": r"(?:%{URIPATH}(?:%{URIPARAM})?)",
}

_REF_RE = re.compile(r"%\{(\w+)(?::([\w.\[\]@]+))?(?::(\w+))?\}")

#: ES grok ``:float`` converts to a Java Float — true 32-bit storage
#: matters: painless promotes it to double for arithmetic, and the
#: float32 quantization is visible in golden outputs (postgresql's
#: "26.082" ms → 26.082000732… → round(×1e6) = 26082001, not 26082000)
_TYPES = {"int": "long", "long": "long", "float": "float", "double": "double"}


class GrokError(ValueError):
    pass


@dataclass
class CompiledGrok:
    pattern: str
    #: (field_name, group_index, spark_cast_type|None) per named capture
    fields: list[tuple[str, int, str | None]]
    #: group indexes that may legally NOT PARTICIPATE in a successful
    #: match (inside a ?/*-quantified group or an alternation branch).
    #: joni reports non-participation as begin=-1 and ES sets nothing;
    #: java regexp_extract returns '' for it — indistinguishable from a
    #: PARTICIPATING empty capture at extract time. A group outside
    #: every optional construct must participate whenever the pattern
    #: matches, so its genuine '' capture is written.
    conditional: frozenset[int] = frozenset()
    #: conditional group → enclosing ANCHOR group whose extract decides
    #: participation at runtime: the nearest optional-quantified
    #: CAPTURING ancestor that cannot match empty (contains a required
    #: literal). es/slowlog's `(types\[%{DATA:...types}\],)?` anchors
    #: the DATA capture on the raw wrapper — `types[],` in the text
    #: means the wrapper participated, so the field's '' is a REAL
    #: empty capture and ES writes it; a missing `types[` extracts the
    #: wrapper as '', so the field stays unset. Groups with no such
    #: anchor (alternation branches, wrappers that can match empty)
    #: fall back to treating '' as unset.
    anchors: dict[int, int] = field(default_factory=dict)

    @property
    def search(self) -> str:
        """The pattern as a FIND regex: ES/logstash grok searches for a
        substring, never a full-line match (es/audit greps
        ``^%{CHAR:first_char}`` against whole JSON lines);
        ``rlike``/``regexp_extract`` are find()-based already."""
        return f"(?s:{self.pattern})"

    def matches(self, col: Column) -> Column:
        """The per-row match flag (NULL for a NULL input)."""
        return col.rlike(self.search)


def _expand(
    pat: str,
    defs: dict[str, str],
    group: int,
    depth: int,
) -> tuple[str, list[tuple[str, int, str | None]], int]:
    """Recursively expand a grok expression, assigning Java group
    numbers left-to-right across the WHOLE expansion.

    Custom ``pattern_definitions`` (ES ingest grok) force this to be a
    single group-counting walk rather than a pre-expansion: the module
    corpus's definitions capture fields themselves
    (``AUDIT_PREFIX = '%{AUDIT_TYPE} msg=audit\\(%{NUMBER:auditd.log.epoch}...'``,
    auditd/log/ingest/pipeline.json), embed RAW capturing parens
    (``GREEDYMULTILINE = '(.|\\n)*'``), redefine library names
    (elasticsearch/gc redefines ``GREEDYDATA``), and reference one
    another (``NATSCONNECTION``) — every one of those shifts the
    numbering of later captures."""
    if depth > 20:
        raise GrokError("grok pattern recursion too deep")
    out: list[str] = []
    fields: list[tuple[str, int, str | None]] = []
    pos = 0
    for m in _REF_RE.finditer(pat):
        seg, seg_fields, group = _scan_segment(
            _esc_bare_ref(pat[pos : m.start()]), group
        )
        fields.extend(seg_fields)
        out.append(seg)
        pname, fname, ftype = m.group(1), m.group(2), m.group(3)
        body = defs.get(pname, PATTERNS.get(pname))
        if body is None:
            raise GrokError(f"unknown grok pattern: %{{{pname}}}")
        if fname:
            group += 1
            fields.append((fname, group, _TYPES.get(ftype) if ftype else None))
            inner, inner_fields, group = _expand(body, defs, group, depth + 1)
            out.append(f"({inner})")
        else:
            inner, inner_fields, group = _expand(body, defs, group, depth + 1)
            out.append(f"(?:{inner})")
        fields.extend(inner_fields)
        pos = m.end()
    seg, seg_fields, group = _scan_segment(_esc_bare_ref(pat[pos:]), group)
    fields.extend(seg_fields)
    out.append(seg)
    return "".join(out), fields, group


def _esc_bare_ref(seg: str) -> str:
    """A ``%{`` that never closed (the nats module ships
    ``%{GREEDYDATA:nats.log.msg.error\\]`` — missing ``}``,
    filebeat/module/nats/log/ingest/pipeline.json) stays LITERAL text
    in ES's ruby-style regex and simply never matches; Java regex
    instead rejects the bare ``{`` — escape it to keep the ES
    behavior."""
    return seg.replace("%{", "%\\{")


#: Oniguruma inline named capture: ``(?<name>`` (not lookbehind) or
#: ``(?'name'`` — both are FIELD captures in ES grok
_NAMED_OPEN = re.compile(r"\(\?(?:<([^<>=!][^<>]*)>|'([^']*)')")


def _scan_segment(
    segment: str, group: int
) -> tuple[str, list[tuple[str, int, str | None]], int]:
    """Walk a passthrough (non-%{}) regex segment: count the CAPTURING
    groups it opens, and rewrite Oniguruma inline named captures into
    plain numbered groups registered as grok fields.

    Module grok programs embed raw-regex groups in the non-%{} text —
    apache access pattern 1 wraps its optional referrer/user_agent
    tails in plain ``( \"...\")?`` (default.json:8) — and every such
    ``(`` shifts Java's group numbering past the numbers we assign to
    named fields. They also capture fields inline: kafka/log grabs the
    stack trace with ``(?'kafka.log.trace.full'.*)``
    (filebeat/module/kafka/log/ingest/pipeline.json:10). Java regex
    rejects both the quoted-name syntax and dots in group names, so
    named captures are rewritten to ``(`` and surfaced as (name,
    group_no, None) fields — the ES grok semantics, where a named
    capture is exactly a field. Skips escapes, character classes, and
    non-capturing ``(?`` constructs (lookbehind stays untouched)."""
    out: list[str] = []
    fields: list[tuple[str, int, str | None]] = []
    i, n = 0, len(segment)
    in_class = False
    while i < n:
        c = segment[i]
        if c == "\\" and i + 1 < n:
            out.append(segment[i : i + 2])
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
            out.append(c)
            i += 1
            continue
        if c == "[":
            in_class = True
            out.append(c)
            i += 1
            continue
        if c == "(":
            m = _NAMED_OPEN.match(segment, i)
            if m:
                group += 1
                fields.append((m.group(1) or m.group(2), group, None))
                out.append("(")
                i = m.end()
                continue
            if not segment.startswith("(?", i):
                group += 1
        out.append(c)
        i += 1
    return "".join(out), fields, group


#: ``(.|\n)*``-style single-char alternation loops: joni runs these
#: fine, but java.util.regex recurses one stack frame per character
#: through the Branch node — a multiline-joined stack trace of a few
#: thousand chars throws StackOverflowError and kills the executor.
#: 13 module pipelines define ``GREEDYMULTILINE = (.|\n)*``.
#: each alternative is one char — a 2-char escape, a real control
#: char (JSON ``"\n"``/``"\t"`` decode to actual 0x0A/0x09), or a
#: plain literal; postgresql defines ``GREEDYDATA = (.|\n|\t)*``
_CHAR_ALT_LOOP = re.compile(r"\(\.((?:\|(?:\\.|[^()|\\]))+)\)([*+])")


def _linearize(pat: str) -> str:
    """Rewrite ``(.|\\n)*`` → ``((?s:.*))``: same language, same
    capturing-group count (the raw paren still claims a number), but
    the quantifier runs in java.util.regex's iterative Curly loop
    instead of per-char Branch recursion. The group's captured TEXT
    changes (whole run vs last char) — safe, because raw unnamed
    groups are only ever counted for numbering, never extracted.
    Applies only when a newline is among the alternatives (every other
    single-char alternative is already subsumed by ``.``, so the union
    is "any char" exactly when ``\\n`` is present)."""

    def sub(m: "re.Match[str]") -> str:
        alts = m.group(1)
        if "\\n" in alts or "\n" in alts:
            return f"((?s:.{m.group(2)}))"
        return m.group(0)

    return _CHAR_ALT_LOOP.sub(sub, pat)


def _analyze_participation(
    pattern: str,
) -> tuple[frozenset[int], dict[int, int]]:
    """Scan the FINAL compiled pattern (group numbers line up with the
    extract indexes) and return ``(conditional, anchors)`` — see
    :class:`CompiledGrok`. A group is conditional when any
    ancestor-or-self frame is ``?``/``*``/``{0,…}``-quantified, or any
    PROPER ancestor frame has a top-level ``|`` (the group lies in one
    branch). Its anchor is the nearest optional-quantified CAPTURING
    ancestor reachable without crossing an alternation, provided that
    ancestor cannot match empty text."""

    class _Frame:
        __slots__ = (
            "parent", "cap", "pipe", "optional", "lazy_opt", "start",
            "end",
        )

        def __init__(self, parent: int, cap: int | None, start: int):
            self.parent = parent
            self.cap = cap
            self.pipe = False
            self.optional = False
            self.lazy_opt = False
            self.start = start
            self.end = -1

    frames = [_Frame(-1, None, 0)]
    stack = [0]
    group = 0
    group_frame: dict[int, int] = {}
    i, n = 0, len(pattern)
    in_class = False
    while i < n:
        c = pattern[i]
        if c == "\\" and i + 1 < n:
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
        elif c == "[":
            in_class = True
        elif c == "|":
            frames[stack[-1]].pipe = True
        elif c == "(":
            cap: int | None = None
            if not pattern.startswith("(?", i):
                group += 1
                cap = group
            frames.append(_Frame(stack[-1], cap, i + 1))
            stack.append(len(frames) - 1)
            if cap is not None:
                group_frame[cap] = stack[-1]
        elif c == ")" and len(stack) > 1:
            fr = frames[stack.pop()]
            fr.end = i
            nxt = pattern[i + 1 : i + 3]
            fr.optional = bool(nxt[:1] in ("?", "*") or nxt == "{0")
            fr.lazy_opt = nxt == "??"
        i += 1

    def cannot_match_empty(fr: _Frame) -> bool:
        """True when the frame's subpattern REQUIRES at least one char:
        a top-level literal/class/escape with no ?/*/{0 quantifier and
        no top-level alternation. Conservative — False means unknown."""
        if fr.pipe:
            return False
        j, depth, cls = fr.start, 0, False
        while j < min(fr.end, n):
            ch = pattern[j]
            if ch == "\\" and j + 1 < n:
                unit_end = j + 2
            elif cls:
                if ch == "]":
                    cls = False
                j += 1
                continue
            elif ch == "[":
                cls = True
                j += 1
                continue
            elif ch == "(":
                depth += 1
                j += 1
                continue
            elif ch == ")":
                depth -= 1
                j += 1
                continue
            else:
                unit_end = j + 1
            if depth == 0 and ch not in "?*+{}":
                quant = pattern[unit_end : unit_end + 2]
                if quant[:1] not in ("?", "*") and quant != "{0":
                    return True
            j = unit_end
        return False

    def surely_matches_empty(fr: _Frame) -> bool:
        """True when the frame's body is exactly ``.*`` / ``.*?`` (the
        DATA/GREEDYDATA expansions) — it matches '' wherever tried."""
        return bool(
            re.fullmatch(r"\.\*\??", pattern[fr.start : fr.end])
        )

    conditional: set[int] = set()
    anchors: dict[int, int] = {}
    for g, fi in group_frame.items():
        # is g conditional? own-or-ancestor optional, or container
        # pipe. Exception: a SELF-optional GREEDY group whose body
        # surely matches empty always participates — java tries the
        # group first and ``.*?`` takes '' (iptables
        # ``OUT=%{DATA:...}?`` captures '' per the ES golden), so it
        # is conditional only through its ancestors.
        cond = False
        p = fi
        first = True
        while p >= 0:
            fr = frames[p]
            if first and fr.optional and not fr.lazy_opt and (
                surely_matches_empty(fr)
            ):
                first = False
                p = fr.parent
                continue
            if fr.optional or (not first and fr.pipe):
                cond = True
                break
            first = False
            p = fr.parent
        if not cond:
            continue
        conditional.add(g)
        # anchor: walk outward; stop at the first optional frame; give
        # up on any alternation crossed on the way (branch identity is
        # not recoverable from one extract)
        p = fi
        first = True
        while p >= 0:
            fr = frames[p]
            if not first and fr.pipe:
                break
            if fr.optional:
                if (
                    p != fi
                    and fr.cap is not None
                    and cannot_match_empty(fr)
                ):
                    anchors[g] = fr.cap
                break
            first = False
            p = fr.parent
    return frozenset(conditional), anchors


def compile_grok(
    expr: str, definitions: dict[str, str] | None = None
) -> CompiledGrok:
    """Expand a grok expression into one Java regex with numbered
    capture groups for the named fields. ``definitions`` are ES ingest
    grok ``pattern_definitions`` — custom names merged OVER the
    library (they may redefine library names), expanded recursively.
    Non-%{} text is regex, not literal (grok convention: programs
    embed regex like ``\\[`` directly) — passed through verbatim, but
    any capturing group it opens claims the next group number(s)."""
    defs = {k: _linearize(v) for k, v in (definitions or {}).items()}
    pattern, fields, _ = _expand(_linearize(expr), defs, 0, 0)
    pattern = _escape_bare_braces(pattern)
    conditional, anchors = _analyze_participation(pattern)
    return CompiledGrok(
        pattern=pattern,
        fields=fields,
        conditional=conditional,
        anchors=anchors,
    )


_BRACE_QUANT = re.compile(r"\{\d+(,\d*)?\}")


def _escape_bare_braces(pattern: str) -> str:
    """Joni (the ES grok engine) treats a ``{`` that doesn't open a
    quantifier as a literal; java.util.regex raises
    PatternSyntaxException (logstash slowlog embeds
    ``{:plugin_params=>``). Escape every unescaped ``{`` that doesn't
    start a valid ``{n[,m]}`` quantifier."""
    out: list[str] = []
    i, n = 0, len(pattern)
    while i < n:
        ch = pattern[i]
        if ch == "\\" and i + 1 < n:
            out.append(pattern[i:i + 2])
            i += 2
            continue
        if ch == "{":
            m = _BRACE_QUANT.match(pattern, i)
            if m:
                out.append(m.group(0))
                i = m.end()
                continue
            out.append("\\{")
            i += 1
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def _mixed_type_fields(
    fields: list[tuple[str, int, str | None]]
) -> set[str]:
    """Duplicate-named captures whose branches DISAGREE on cast type
    (mysql/slowlog captures mysql.thread_id as ``Id: %{NUMBER:...:long}``
    in one optional group and ``Thread_id: %{NUMBER:...}`` untyped in
    another — ES emits a long or a string per document depending on
    which branch matched). One static Spark column can't be both:
    such fields keep the lexical STRING for every branch (documented
    divergence; homogeneous typed duplicates still cast)."""
    types: dict[str, set] = {}
    for name, _, cast in fields:
        types.setdefault(name, set()).add(cast)
    return {n for n, ts in types.items() if len(ts) > 1}


#: 2-char field separator for single-pass extraction (RS + ETB —
#: vanishingly unlikely in log text; a colliding row falls back to
#: per-row ``regexp_extract``, see grok_single_pass)
_SEP = "\x1e\x17"


def grok_single_pass(
    df,
    source: str,
    exprs: list[str],
    definitions: dict[str, str] | None = None,
) -> tuple:
    """Grok extraction: the program's patterns over ``source``, first
    match wins per row (ES ingest grok).

    Each pattern runs ~twice per row, whatever its field count: one
    ``rlike`` for the match flag and one ``regexp_replace`` that
    rewrites the line to ``$g1\\x1e\\x17$g2…``, split into an array
    (one ``regexp_extract`` per field would run a heavyweight pattern
    k+1 times for a k-field program — the apache access pattern has
    10+ fields). Flags and arrays are MATERIALIZED as temp columns in
    one projection (a Column reused k× is recomputed k× — CLAUDE.md
    gotcha), and field columns are cheap ``F.get`` reads. A row whose
    text contains the separator (array size mismatch) falls back, per
    row and lazily via ``coalesce``, to ``regexp_extract``.

    Returns ``(df2, cols, masks, any_ok, tmp_cols)`` — apply the
    returned frame, assign ``cols``, then drop ``tmp_cols``. A field
    is NULL where its pattern did not win. ``masks[name]`` is its SET
    mask: true exactly where the winning pattern defines the field.
    The ingest node sets only the matching pattern's fields and
    touches nothing on a non-match or null input — a later grok over
    another source must not null-overwrite fields an earlier step set
    (the nats module re-groks ``nats.log.msg.info``, whose fallback
    rows are null, after ``nats.log.msg.data`` is already captured —
    filebeat/module/nats/log/ingest/pipeline.json).
    """
    col = F.col("`" + source + "`")
    compiled = [compile_grok(e, definitions) for e in exprs]
    tmp: dict[str, Column] = {}
    oks: list[Column] = []
    for i, g in enumerate(compiled):
        # the REPLACEMENT regex must consume the whole string so the
        # rewritten line is exactly the joined groups — lazy prefix
        # picks the same leftmost match the find() flag does
        full = f"^(?s:.*?){g.search}(?s:.*)$"
        ok = g.matches(col)
        oks.append(F.col(f"_g_ok_{i}"))
        tmp[f"_g_ok_{i}"] = ok
        if g.fields:
            # field groups first, then the participation ANCHOR groups
            # (CompiledGrok.anchors) — same rewrite extracts both
            anchor_idxs = sorted(set(g.anchors.values()))
            all_idxs = [idx for _, idx, _ in g.fields] + anchor_idxs
            repl = _SEP.join(f"${idx}" for idx in all_idxs)
            tmp[f"_g_arr_{i}"] = F.when(
                ok, F.split(F.regexp_replace(col, full, repl), _SEP, -1)
            )
    df = df.withColumns(tmp)

    any_ok = oks[0]
    for ok in oks[1:]:
        any_ok = any_ok | ok
    all_fields: list[str] = []
    for g in compiled:
        for name, _, _ in g.fields:
            if name not in all_fields:
                all_fields.append(name)
    out: dict[str, Column] = {}
    masks: dict[str, Column] = {}
    prev_not: Column | None = None
    for i, g in enumerate(compiled):
        ok = oks[i]
        gate = ok if prev_not is None else prev_not & ok
        arr = F.col(f"_g_arr_{i}") if g.fields else None
        anchor_idxs = sorted(set(g.anchors.values()))
        k = len(g.fields) + len(anchor_idxs)
        dup = {n for n, _, _ in g.fields
               if sum(1 for m, _, _ in g.fields if m == n) > 1}
        mixed = _mixed_type_fields(g.fields)

        def _grp(pos: int, idx: int) -> Column:
            fast = F.when(F.size(arr) == k, F.get(arr, pos))
            slow = F.when(ok, F.regexp_extract(col, g.search, idx))
            return F.coalesce(fast, slow)

        pat_cols: dict[str, Column] = {}
        for j, (name, idx, cast) in enumerate(g.fields):
            if name in mixed:
                cast = None
            c = _grp(j, idx)
            anchor = g.anchors.get(idx)
            if anchor is not None:
                # runtime participation: the anchor wrapper extracted
                # '' ⇔ its optional group didn't participate — the
                # field stays unset; a participating wrapper keeps the
                # field's genuine (possibly empty) capture
                apos = len(g.fields) + anchor_idxs.index(anchor)
                c = F.when(_grp(apos, anchor) != "", c)
            if cast:
                # try_cast: a typed capture that fails to convert fails
                # only that document (ingest grok), never the job (ANSI
                # cast of a non-participating optional group's '' would)
                c = c.try_cast(cast)
            elif anchor is None and idx in g.conditional:
                # no anchor (alternation branch / empty-matching
                # wrapper): '' is treated as unset — see
                # CompiledGrok.conditional
                c = F.nullif(c, F.lit(""))
            if name in dup:
                # first branch that captured (non-null) wins
                pat_cols[name] = (
                    F.coalesce(pat_cols[name], c) if name in pat_cols else c
                )
            else:
                pat_cols[name] = c
        for name in all_fields:
            if name in pat_cols:
                c = F.when(gate, pat_cols[name])
                out[name] = c if name not in out else F.coalesce(out[name], c)
                gg = F.coalesce(gate, F.lit(False))
                masks[name] = gg if name not in masks else (masks[name] | gg)
        prev_not = ~ok if prev_not is None else prev_not & ~ok
    return df, out, masks, any_ok, list(tmp)
