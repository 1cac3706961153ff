"""ES ingest-pipeline step executor for module pipelines.

The reference's filebeat modules do their parsing in Elasticsearch
ingest-node programs that beats uploads at setup
(``/root/reference/filebeat/fileset/pipelines.go:60-120``); the
canonical example is the apache access pipeline
(``/root/reference/filebeat/module/apache/access/ingest/default.json:1-60``):
grok → remove → grok → rename → date → remove → user_agent → geoip.

Here the step list compiles to DataFrame transforms, all JVM-side:

- ``grok``      → :class:`~beats_spark.operators.actions.Grok`
                  (first-match-wins, ``:type`` suffix casts)
- ``date``      → per-format ``try_to_timestamp`` coalesced in order
                  (ingest's first-parseable-format-wins), joda-style
                  format strings translated to Spark/java.time
- ``convert``   → ``cast`` (integer/long/float/double/string/boolean)
- ``remove`` / ``rename`` / ``set`` / ``lowercase`` / ``uppercase``
                  → projections
- ``split`` / ``kv`` / ``json`` / ``append`` / ``dot_expander``
                  → pure Column array/map/projection work
- ``drop``      → filter over the module-pipeline painless subset
- ``user_agent`` / ``geoip``
                  → broadcast-dimension enriches (operators/enrich.py
                  UserAgentEnrich / GeoIPEnrich) when the caller
                  provides ``ua_dim`` / ``geo_dim`` — the ingest node
                  ships regexes.yaml / GeoLite2 databases; here the
                  database IS a dimension table
- ``on_failure`` → per-row error routing, per processor and pipeline
                  level: handler steps run on exactly the failed rows

Field names keep the reference's dotted ECS spelling
(``source.address``) as FLAT column names; every internal reference is
backtick-quoted so Spark never treats the dot as a struct accessor.
"""

from __future__ import annotations

import re as _re
from dataclasses import dataclass
from typing import Any, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class IngestError(ValueError):
    pass


def load_ingest_pipeline(
    source: str | Mapping[str, Any],
    ignore_processors: Sequence[str] = ("user_agent", "geoip"),
    ua_dim: Any = None,
    geo_dim: Any = None,
) -> "IngestPipeline":
    """Build an :class:`IngestPipeline` from an ES ingest-pipeline
    document — the JSON format filebeat modules ship and upload at
    setup (``/root/reference/filebeat/fileset/pipelines.go:60-120``):
    ``{"description": ..., "processors": [...], "on_failure": [...]}``.

    Accepts a JSON string or an already-parsed mapping. The
    ``on_failure`` block is EXECUTED as per-row error routing (see
    :class:`IngestPipeline`): rows where a failable step fails carry
    the first failure message, and the handler steps (the modules'
    ``set error.message`` shape) run on exactly those rows."""
    import json

    if isinstance(source, str):
        try:
            doc = json.loads(source)
        except json.JSONDecodeError as e:
            raise IngestError(f"invalid pipeline JSON: {e}") from e
    else:
        doc = source
    if not isinstance(doc, Mapping) or "processors" not in doc:
        raise IngestError("ingest pipeline document has no 'processors'")
    if not isinstance(doc["processors"], list):
        raise IngestError("'processors' must be a list of steps")
    on_failure = doc.get("on_failure", [])
    if not isinstance(on_failure, list):
        raise IngestError("'on_failure' must be a list of steps")
    return IngestPipeline(
        steps=list(doc["processors"]),
        ignore_processors=ignore_processors,
        on_failure=tuple(on_failure),
        ua_dim=ua_dim,
        geo_dim=geo_dim,
    )


def _fcol(name: str) -> Column:
    return F.col("`" + name + "`")


def _map_parent(df: DataFrame, field: str) -> tuple[str, str, str] | None:
    """Longest map-typed column prefix of a dotted field name →
    ``(map_column, key, residual_path)``. ``kv`` and schemaless
    ``json`` steps produce ``map<string,string>`` columns whose KEYS
    later steps address by dotted name (auditd renames
    ``auditd.log.src`` out of the ``auditd.log`` kv map; logstash
    renames ``logstash.log.logEvent.message`` out of the json map —
    module ingest JSONs). The residual path (segments past the first
    key) addresses INTO a nested-object value, which a
    ``map<string,string>`` parse keeps as its JSON text."""
    from pyspark.sql.types import MapType

    parts = field.split(".")
    for i in range(len(parts) - 1, 0, -1):
        prefix = ".".join(parts[:i])
        if prefix in df.columns and isinstance(
            df.schema[prefix].dataType, MapType
        ):
            return prefix, parts[i], ".".join(parts[i + 1 :])
    return None


def _read_field(df: DataFrame, field: str) -> Column | None:
    """Field read with map fallback: a flat column wins; else the
    longest map-column prefix supplies the value. The remaining path
    may be (a) ONE literally-dotted key — ES audit events carry keys
    like ``"event.action"`` verbatim, which the module's
    ``dot_expander`` steps expand — or (b) a first-segment key whose
    nested-object value a ``map<string,string>`` parse kept as JSON
    text; both are tried (coalesce). None = statically absent."""
    flat = _fcol(field) if field in df.columns else None
    mp = _map_parent(df, field)
    if mp is None:
        return flat
    parent, key, residual = mp
    if not residual:
        mapped = _fcol(parent)[key]
    else:
        whole = _fcol(parent)[key + "." + residual]
        nested = F.get_json_object(_fcol(parent)[key], "$." + residual)
        mapped = F.coalesce(whole, nested)
    # a field can have TWO homes after a routed `pipeline` union: the
    # plaintext branch groks `elasticsearch.audit.@timestamp` as a flat
    # column (NULL on json rows) while the json branch keeps it a map
    # entry — ES has one document field, so read per-row whichever is
    # set (es/audit)
    return mapped if flat is None else F.coalesce(flat, mapped)


def _object_homes(
    df: DataFrame, field: str
) -> tuple[list[str], tuple[str, Column] | None]:
    """Where ``field`` lives as an ES object, for ``remove``: its flat
    column and every ``field.*`` child column (cisco asa's ``_temp_``
    scratch object is flat ``_temp_.a``, ``_temp_.b``), and, when a
    kv/json map backs it, ``(map_column, map without the key and its
    dotted children)`` — the two-homes rule: a field in a map leaves
    the map too. Nothing in either home means the field is absent."""
    flat = [c for c in df.columns if c == field or c.startswith(field + ".")]
    mp = _map_parent(df, field)
    if mp is None:
        return flat, None
    parent, key, residual = mp
    full = key + "." + residual if residual else key
    return flat, (
        parent,
        F.map_filter(
            _fcol(parent), lambda k, _: (k != full) & ~k.startswith(full + ".")
        ),
    )


def _has_field(df: DataFrame, field: str) -> bool:
    flat, mp = _object_homes(df, field)
    return bool(flat) or mp is not None


#: joda-time pattern fragments whose java.time spelling differs.
#: Module pipelines use a narrow dialect (dd/MMM/yyyy:H:m:s Z,
#: ISO8601, UNIX, TAI64N); the overlap with java.time is exact except
#: for the offset spellings below.
_JODA_TO_JAVA = {
    "ZZ": "XXX",  # +07:00 (joda extended offset)
}


def translate_joda(fmt: str) -> str:
    """Translate a joda-time date format (what ingest ``date`` takes:
    org.elasticsearch ingest common DateFormat) to a Spark/java.time
    pattern. Identity for the shared subset; named formats map to
    their java.time equivalents."""
    named = {
        "ISO8601": "iso8601",  # handled in _date_parse (two alternatives)
        "UNIX": "epoch-seconds",  # handled in _date_parse
        "UNIX_MS": "epoch-millis",
    }
    if fmt in named:
        return named[fmt]
    out = fmt
    for joda, java in _JODA_TO_JAVA.items():
        out = out.replace(joda, java)
    return out


def _date_parse(
    col: Column, formats: Sequence[str], tz_col: Column | None = None,
    default_year: int | None = None,
) -> Column:
    """First-parseable-format-wins (ingest date processor semantics):
    per-format try-parse, coalesced in declaration order. Epoch forms
    use try_cast (ANSI cast would abort the JOB on one dirty value,
    where ingest fails only the document) and timestamp_seconds/
    timestamp_millis (exact — no string round-trip truncating
    millisecond precision). ISO8601 tries the offset-carrying spelling
    first, then the zone-less one interpreted in the session timezone
    (pinned UTC) — the ES date processor accepts both and defaults
    zone-less input to UTC; r2's offset-only pattern silently parsed
    legal zone-less strings to NULL.

    ``tz_col`` is the ingest ``timezone`` option (possibly per-row —
    modules template it as ``{{ event.timezone }}`` behind the
    ``convert_timezone`` fileset var): ES applies it only to formats
    carrying NO zone of their own, so zone-less alternatives reparse
    the wall-clock in that zone (``to_utc_timestamp``; a NULL/absent
    per-row zone falls back to the UTC read) while offset-carrying and
    epoch forms ignore it."""
    alts = []

    def zoneless(parsed: Column) -> Column:
        if tz_col is None:
            return parsed
        return F.coalesce(F.to_utc_timestamp(parsed, tz_col), parsed)

    for f in formats:
        j = translate_joda(f)
        if j == "epoch-seconds":
            # ES UNIX accepts fractional seconds (auditd epochs:
            # "1489519256.192"); decimal keeps sub-second digits exact
            alts.append(F.timestamp_seconds(col.try_cast("decimal(20,6)")))
        elif j == "epoch-millis":
            alts.append(F.timestamp_millis(col.try_cast("long")))
        elif j == "iso8601":
            # [.SSSSSS] is lenient: 1-6 fraction digits all parse
            # (mysql logs carry micros, most modules millis). ISO 8601
            # also allows a COMMA fraction separator — elasticsearch
            # audit/server logs emit `2018-10-31T09:34:25,109`.
            for sep in (".", ","):
                # offset spellings: +07:00 (XXX) and +0700 (xx) — ES
                # ISO8601 accepts both (elasticsearch gc logs stamp
                # `2018-03-03T19:37:06.157+0500`)
                for off in ("XXX", "xx"):
                    alts.append(
                        F.try_to_timestamp(
                            col,
                            F.lit(f"yyyy-MM-dd'T'HH:mm:ss[{sep}SSSSSS]{off}"),
                        )
                    )
                alts.append(
                    zoneless(
                        F.try_to_timestamp(
                            col, F.lit(f"yyyy-MM-dd'T'HH:mm:ss[{sep}SSSSSS]")
                        )
                    )
                )
        else:
            src = col
            if j.startswith("EEE "):
                # Spark's parser rejects day-of-week in patterns
                # (DATETIME_PATTERN_RECOGNITION); the weekday carries
                # no information — strip it from pattern AND value
                # (apache/error: "EEE MMM dd H:m:s yyyy")
                src = F.regexp_replace(col, r"^[A-Za-z]{3} ", "")
                j = j[4:]
            if "EEE" in j:
                raise IngestError(
                    f"date format with embedded day-of-week unsupported: {j!r}"
                )
            if default_year is not None and "y" not in j.replace(
                "''", ""
            ):
                # a YEAR-LESS pattern (syslog "MMM  d HH:mm:ss")
                # parses to 1970 in java.time; the ingest node
                # defaults the year to the ingest-time year — pin it
                # to the pipeline's reference year instead so replays
                # are deterministic (iptables/cisco goldens were
                # generated in 2019)
                src = F.concat(src, F.lit(f" {default_year}"))
                j = j + " yyyy"
            parsed = F.try_to_timestamp(src, F.lit(j))
            # joda zone tokens: Z/ZZ (offset) or z (zone name); the
            # translated java pattern keeps X/x/z/Z spellings. Only
            # zone-LESS patterns take the configured timezone.
            if not _re.search(r"(?<!')[XxzZ]", j.replace("''", "")):
                parsed = zoneless(parsed)
            alts.append(parsed)
            if "XXX" in j:
                # joda ZZ parses BOTH +01:00 and +0100 (lenient colon);
                # java.time XXX takes only the colon form — try the
                # colon-less spelling too (mongodb logs use +0100)
                alts.append(F.try_to_timestamp(col, F.lit(j.replace("XXX", "xx"))))
    return F.coalesce(*alts) if len(alts) > 1 else alts[0]


_CONVERT_TYPES = {
    "integer": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "boolean": "boolean",
}

#: hidden per-row column carrying the FIRST failure message while an
#: ``on_failure`` block is in effect (dropped before returning)
_ERR_COL = "_ingest_error"
#: hidden per-row "this step failed" column while a step's failure is
#: routed (materialized before the step writes its outputs)
_FAIL_COL = "_ingest_step_failed"
#: hidden per-row "this ``on_failure`` handler list still runs on the
#: row" column, one per nesting level while handler steps run
_LIVE_COL = "_ingest_handlers_live"

def painless_condition(expr: str, df: DataFrame) -> Column:
    """Compile a painless step-level ``if`` guard to a Column via the
    painless-subset compiler (functions/painless.py — recursive-descent
    parse + symbolic execution; equality is Objects.equals-null-safe,
    ``containsKey`` is a non-null presence test, ``?.`` paths
    normalize). Anything outside the subset raises rather than
    mis-evaluating."""
    from ..functions.painless import PainlessError, compile_expression

    try:
        return compile_expression(
            expr, df.columns, resolver=lambda f: _read_field(df, f)
        )
    except PainlessError as e:
        raise IngestError(
            f"unsupported painless condition: {expr!r} ({e})"
        ) from e


def compile_painless_script(
    source: str, params: Mapping[str, Any], df: DataFrame
) -> "dict[str, Column]":
    """Compile a module ``script`` step body to its net effect — a
    mapping of assigned field → Column. Tries the three recognized
    loop/function translations first (mysql field-remap loop, nginx
    first-public-IP, auditd kv-normalize), then the generic painless
    statement subset (functions/painless.py). Raises
    :class:`IngestError` for anything neither path covers — a script
    must never silently mis-execute; route those through the pandas
    escape hatch (operators/actions.py ``PandasMap``) or list
    ``script`` in ``ignore_processors``."""
    from ..functions.painless import (
        PainlessError,
        compile_recognized_script,
        compile_statements,
    )

    from pyspark.sql.types import ArrayType, FloatType, StringType

    strings = [
        f.name for f in df.schema.fields if isinstance(f.dataType, StringType)
    ]
    floats = [
        f.name for f in df.schema.fields if isinstance(f.dataType, FloatType)
    ]
    arrays = [
        f.name for f in df.schema.fields if isinstance(f.dataType, ArrayType)
    ]
    try:
        recognized = compile_recognized_script(
            source, params, df.columns, string_columns=strings,
            resolver=lambda f: _read_field(df, f),
        )
        if recognized is not None:
            return recognized
        def _mp(field):
            mp = _map_parent(df, field)
            if mp is None:
                return None
            parent, key, residual = mp
            return parent, (key + "." + residual if residual else key)

        return compile_statements(
            source, df.columns, params,
            resolver=lambda f: _read_field(df, f),
            float_columns=floats,
            map_parent=_mp,
            array_columns=arrays,
            string_columns=strings,
        )
    except PainlessError as e:
        raise IngestError(
            f"unsupported painless script: {source[:120]!r} ({e})"
        ) from e


@dataclass
class IngestPipeline:
    """Compile an ES ingest processor list (parsed pipeline JSON) to a
    DataFrame transform. Steps are applied in order; unknown processor
    names raise (never silently skipped) unless listed in
    ``ignore_processors`` (for module programs carrying user_agent /
    geoip steps without dimension tables — pass ``ua_dim`` /
    ``geo_dim`` to execute those too, see operators/enrich.py).

    ``on_failure`` is EXECUTED, at both levels ES has it. Each failable
    step (grok, dissect, date, convert, urldecode, json, rename) hands
    its per-row failure to one route (:meth:`_route_failure`): a row
    its ``if`` guard skips never fails; a per-processor ``on_failure``
    runs its handler steps on the failed rows and the pipeline-level
    block never sees that failure; otherwise ``ignore_failure`` drops
    it, or the row records the step's message (first failure wins).
    Pipeline-level handler steps (the apache module's ``set
    error.message = {{ _ingest.on_failure_message }}`` —
    filebeat/module/apache/access/ingest/default.json)
    then run through the same executor (:meth:`_run_handlers`) on the
    rows that recorded a failure, reading that first message.
    Documented divergence from the ingest node: subsequent steps are
    not per-row SKIPPED after a failure — they operate on the NULLs
    the failed step produced (for module programs the downstream steps
    chain on the failed step's outputs, so the observable result
    matches)."""

    steps: Sequence[Mapping[str, Mapping[str, Any]]]
    ignore_processors: Sequence[str] = ("user_agent", "geoip")
    on_failure: Sequence[Mapping[str, Mapping[str, Any]]] = ()
    ua_dim: Any = None
    geo_dim: Any = None
    #: sub-pipelines addressable by ``pipeline`` steps (the
    #: elasticsearch module routes each document to a plaintext or
    #: json parser this way — see _step_pipeline)
    sub_pipelines: Mapping[str, "IngestPipeline"] | None = None
    #: year assumed by YEAR-LESS date formats (syslog timestamps).
    #: None keeps java.time's 1970 default; the ES ingest node uses
    #: the wall-clock year at ingest — pass that explicitly for
    #: deterministic replays
    default_year: int | None = None

    #: steps that accept a per-document ``if`` guard: these compile to
    #: column assignments, so the guard folds into one
    #: when(cond, new).otherwise(old) projection — no branch, no union
    _GUARDABLE = frozenset(
        {"set", "convert", "script", "split", "remove", "date",
         "urldecode", "lowercase", "uppercase", "append",
         "dissect", "grok", "geoip", "user_agent"}
    )

    def apply(self, df: DataFrame) -> DataFrame:
        # shield an outer pipeline's error column: a sub-pipeline run
        # through _step_pipeline must not reset or drop the parent's
        shadowed = self.on_failure and _ERR_COL in df.columns
        if shadowed:
            df = df.withColumnRenamed(_ERR_COL, _ERR_COL + "_outer")
        if self.on_failure:
            df = df.withColumn(_ERR_COL, F.lit(None).cast("string"))
        for step in self.steps:
            if len(step) != 1:
                raise IngestError(f"each step must have one processor: {step}")
            (name, conf), = step.items()
            # the skip list wins even over supported processors, so a
            # caller can run a module program minus steps they can't
            # or won't support
            if name in self.ignore_processors:
                continue
            handler = getattr(self, f"_step_{name}", None)
            if handler is None:
                raise IngestError(f"unsupported ingest processor: {name}")
            cond_src = conf.get("if")
            if cond_src is None or name in ("drop", "pipeline"):
                # drop/pipeline consume their own `if` (row-set steps)
                df = handler(df, conf)
            elif name in self._GUARDABLE:
                df = handler(df, conf, painless_condition(cond_src, df))
            else:
                raise IngestError(f"'if' guard not supported on {name}")
        if self.on_failure:
            err = F.col(_ERR_COL)
            df = self._run_handlers(
                df, self.on_failure, err.isNotNull(), err
            ).drop(_ERR_COL)
        if shadowed:
            df = df.withColumnRenamed(_ERR_COL + "_outer", _ERR_COL)
        return df

    def _put(
        self, df: DataFrame, field: str, val: Column, cond: Column | None
    ) -> DataFrame:
        """Assign ``field`` = ``val``, under an optional per-document
        guard (unguarded rows keep their previous value, NULL when the
        column is new). Writes always land as FLAT columns; a
        map-backed field (kv/json target key) is migrated out of its
        map so the value has one home. A guarded TYPE-CHANGING write
        (es/slowlog's ``split`` guarded by ``stats != ''`` turns a
        string into an array on SOME rows) keeps the column STRING and
        stores the new complex value as its JSON text — ES's per-row
        dynamic typing can't live in one static column, and JSON text
        is the same representation the kv/json map model already uses
        for nested values. A guarded scalar→scalar type change still
        nulls the unguarded rows (documented divergence)."""
        # consult the map even when a flat column exists: after a
        # routed-pipeline union a field can have two homes (see
        # _read_field) and a write must leave exactly one
        mp = _map_parent(df, field)
        if cond is None:
            out = df.withColumn(field, val)
        else:
            if field in df.columns:
                prev: Column = _fcol(field)
                from pyspark.sql.types import (
                    ArrayType,
                    MapType,
                    NullType,
                    StringType,
                    StructType,
                )

                new_t = df.select(val.alias("_t")).schema[0].dataType
                old_t = df.schema[field].dataType
                if (
                    new_t != old_t
                    and not isinstance(new_t, NullType)
                    and not isinstance(old_t, NullType)
                ):
                    if isinstance(old_t, StringType) and isinstance(
                        new_t, (ArrayType, MapType, StructType)
                    ):
                        # per-row dynamic type: complex value as JSON
                        # text, unguarded rows keep their string
                        val = F.to_json(val)
                    else:
                        prev = F.lit(None).cast(new_t)
            elif mp is not None:
                prev = _read_field(df, field)  # type: ignore[assignment]
            else:
                prev = F.lit(None)
            out = df.withColumn(field, F.when(cond, val).otherwise(prev))
        if mp is not None and not mp[2]:
            parent, key, _ = mp
            out = out.withColumn(
                parent, F.map_filter(_fcol(parent), lambda k, _: k != key)
            )
        return out

    # -- failure routing ------------------------------------------------

    def _route_failure(
        self,
        df: DataFrame,
        conf: Mapping[str, Any],
        cond: Column | None,
        failed: Column,
        msg: str,
        write=lambda d: d,
    ) -> DataFrame:
        """The one failure route of every failable step. ``failed`` is
        the step's per-row failure read on ``df``; ``write`` assigns the
        step's outputs. The failure is materialized BEFORE ``write``
        runs, because a step may overwrite its own source (convert in
        place, json into its own field, kafka's grok re-capturing
        ``message``). A row the ``if`` guard skips never fails. A
        per-processor ``on_failure`` catches the failure: its handler
        steps run on the failed rows and the pipeline-level block never
        sees it (ES ingest semantics). Otherwise ``ignore_failure``
        drops it, or the row records ``msg`` (first failure wins) and,
        when the step is itself a handler step, every handler list it
        runs in stops on that row."""
        handlers = conf.get("on_failure")
        chains = [c for c in df.columns if c.startswith(_LIVE_COL)]
        if not handlers and (
            conf.get("ignore_failure") or not (self.on_failure or chains)
        ):
            return write(df)
        if cond is not None:
            failed = failed & F.coalesce(cond, F.lit(False))
        flag = _FAIL_COL
        while flag in df.columns:  # a failable handler step routes too
            flag += "_"
        df = write(df.withColumn(flag, F.coalesce(failed, F.lit(False))))
        if handlers:
            df = self._run_handlers(df, handlers, F.col(flag), F.lit(msg))
        else:
            if self.on_failure:
                df = self._record_failure(df, F.col(flag), msg)
            for live in chains:
                df = df.withColumn(live, F.col(live) & ~F.col(flag))
        return df.drop(flag)

    @staticmethod
    def _record_failure(df: DataFrame, fail: Column, msg: str) -> DataFrame:
        return df.withColumn(
            _ERR_COL, F.coalesce(F.col(_ERR_COL), F.when(fail, F.lit(msg)))
        )

    def _run_handlers(
        self,
        df: DataFrame,
        handlers: Sequence[Mapping[str, Mapping[str, Any]]],
        fail: Column,
        msg: Column,
    ) -> DataFrame:
        """Run ``on_failure`` handler steps, each guarded to the
        ``fail`` rows a failing handler step has not stopped yet (ES
        aborts the list there and hands that step's own failure to the
        pipeline-level block); a ``value`` naming
        ``_ingest.on_failure_message`` takes the ``msg`` column whole.
        The one handler executor, for per-processor blocks (kafka/log
        sets ``kafka.log.component = "unknown"`` when its component
        grok misses — filebeat/module/kafka/log/ingest/pipeline.json:
        22-47) and the pipeline-level block alike."""
        live = _LIVE_COL
        while live in df.columns:  # a handler step's own handler list
            live += "_"
        df = df.withColumn(live, fail)
        for step in handlers:
            if len(step) != 1:
                raise IngestError(
                    f"on_failure step must have one processor: {step}"
                )
            (name, conf), = step.items()
            if name not in self._GUARDABLE:
                raise IngestError(f"unsupported on_failure processor: {name}")
            val = conf.get("value")
            if isinstance(val, str) and "_ingest.on_failure_message" in val:
                conf = {**conf, "value": msg}  # F.lit passes a Column through
            df = getattr(self, f"_step_{name}")(df, conf, F.col(live))
        return df.drop(live)

    # -- steps ----------------------------------------------------------

    def _step_grok(
        self, df: DataFrame, conf: Mapping[str, Any], cond: Column | None = None
    ) -> DataFrame:
        from .actions import Grok

        field = conf["field"]
        tmp = None
        if field not in df.columns:
            src = _read_field(df, field)
            if src is None:
                if conf.get("ignore_missing") or conf.get("ignore_failure"):
                    return df
                raise IngestError(f"grok field missing: {field}")
            # map-backed source (json/kv key, e.g. the elasticsearch
            # module groks elasticsearch.server.message out of the
            # json map): materialize once, grok, drop
            tmp = "_grok_src"
            df = df.withColumn(tmp, src)
            field = tmp
        out, failed, tmp_cols = Grok(
            patterns=list(conf["patterns"]),
            field=field,
            pattern_definitions=dict(conf.get("pattern_definitions") or {}),
            # ingest-node grok overwrites existing fields (31/42
            # module pipelines re-grok fields earlier steps created)
            overwrite=True,
        ).parse(df, guard=cond)
        # `failed` reads the kernel's materialized match columns, so it
        # still tests the PRE-grok value: grok may overwrite its own
        # source (kafka grok 2 re-captures `message` out of `message`),
        # and a test re-run on the rewritten value would fail every row
        # that matched. Route it before those columns are dropped.
        out = self._route_failure(
            out, conf, cond, failed,
            f"Provided Grok expressions do not match field [{conf['field']}]",
        )
        return out.drop(*tmp_cols, *([tmp] if tmp else []))

    def _step_remove(
        self, df: DataFrame, conf: Mapping[str, Any], cond: Column | None = None
    ) -> DataFrame:
        fields = conf["field"]
        if isinstance(fields, str):
            fields = [fields]
        if cond is None:
            missing = [f for f in fields if not _has_field(df, f)]
            if missing and not (
                conf.get("ignore_missing") or conf.get("ignore_failure")
            ):
                raise IngestError(f"remove field missing: {missing}")
        for f in fields:
            flat, mp = _object_homes(df, f)
            if cond is None:
                df = df.drop(*flat)
                if mp is not None:
                    df = df.withColumn(*mp)
                continue
            # guarded remove: NULL is our per-row "absent"
            cleared = {
                c: F.when(cond, F.lit(None)).otherwise(_fcol(c)) for c in flat
            }
            if mp is not None:
                parent, kept = mp
                cleared[parent] = F.when(cond, kept).otherwise(_fcol(parent))
            df = df.withColumns(cleared)
        return df

    def _step_rename(self, df: DataFrame, conf: Mapping[str, Any]) -> DataFrame:
        src, dst = conf["field"], conf["target_field"]
        val = _read_field(df, src)
        if val is None:
            if conf.get("ignore_missing") or conf.get("ignore_failure"):
                return df
            raise IngestError(f"rename field missing: {src}")
        if dst not in df.columns:
            if src in df.columns:
                return df.withColumnRenamed(src, dst)
            mp = _map_parent(df, src)
            if mp is not None and not mp[2]:
                parent, key, _ = mp
                children = self._declared_children(parent, key)
                if children:
                    # ES renames the whole OBJECT (es/audit moves
                    # `elasticsearch.audit.node` carrying node.id +
                    # node.name). Our map model keeps the object's
                    # leaves as the literally-dotted keys the module
                    # dot_expanded earlier — move each declared leaf
                    # to a flat dst.<suffix> column, prune the subtree
                    # from the map.
                    m = _fcol(parent)
                    moved = {
                        f"{dst}.{child[len(key) + 1:]}": m[child]
                        for child in children
                    }
                    moved[parent] = F.map_filter(
                        m,
                        lambda k, _: (k != key)
                        & ~k.startswith(key + "."),
                    )
                    return df.withColumns(moved)
            # map-backed source: materialize the value as a flat
            # column, then delete the key from the map
            parent, key, residual = mp
            full = key + "." + residual if residual else key
            return df.withColumn(dst, val).withColumn(
                parent, F.map_filter(_fcol(parent), lambda k, _: k != full)
            )
        # target column already in the schema. ES rename is per-DOC:
        # it fails only for docs where the target field is non-null
        # (multiple branch-guarded renames share one target in the
        # elasticsearch/logstash module subs — per doc at most one
        # fires). Merge: null targets take the source value and the
        # source clears; non-null targets are per-row failures.
        existing = _fcol(dst)
        fail = val.isNotNull() & existing.isNotNull()
        moved = {dst: F.coalesce(existing, val)}
        if src in df.columns:
            moved[src] = F.when(fail, _fcol(src))
        else:
            mp = _map_parent(df, src)
            assert mp is not None
            parent, key, residual = mp
            full = key + "." + residual if residual else key
            cleared = F.map_filter(_fcol(parent), lambda k, _: k != full)
            moved[parent] = F.when(fail, _fcol(parent)).otherwise(cleared)
        return self._route_failure(
            df, conf, None, fail, f"field [{dst}] already exists",
            lambda d: d.withColumns(moved),
        )

    def _declared_children(self, parent: str, key: str) -> list[str]:
        """Dotted leaf keys under ``key`` in map column ``parent``, as
        declared by this pipeline's own ``dot_expander`` steps. Static:
        the schema of an object rename is derived from the pipeline
        JSON, never from row data."""
        out = set()
        for step in self.steps:
            (name, conf), = step.items()
            if name != "dot_expander":
                continue
            if conf.get("path") != parent:
                continue
            f = conf.get("field", "")
            if f.startswith(key + "."):
                out.add(f)
        return sorted(out)

    def _step_set(
        self, df: DataFrame, conf: Mapping[str, Any], cond: Column | None = None
    ) -> DataFrame:
        val = self._template_value(df, conf["value"])
        if conf.get("override") is False and conf["field"] in df.columns:
            # override:false only fills absent (NULL) values
            val = F.coalesce(_fcol(conf["field"]), val)
        return self._put(df, conf["field"], val, cond)

    @staticmethod
    def _template_value(df: DataFrame, val: Any) -> Column:
        """``set``/``append`` values may be mustache templates reading
        other fields (``{{system.auth.ssh.dropped_ip}}``,
        ``{{elasticsearch.audit.url.path}}?{{...query}}`` — module
        JSONs). Compile to the column (or a concat for mixed text);
        a referenced field with no column reads as NULL."""
        if not isinstance(val, str) or "{{" not in val:
            return F.lit(val)
        parts: list[Column] = []
        pos = 0
        for m in _re.finditer(r"\{\{\s*([\w.@]+)\s*\}\}", val):
            if m.start() > pos:
                parts.append(F.lit(val[pos:m.start()]))
            ref = m.group(1)
            val_col = _read_field(df, ref)
            parts.append(
                val_col if val_col is not None
                else F.lit(None).cast("string")
            )
            pos = m.end()
        if pos < len(val):
            parts.append(F.lit(val[pos:]))
        return parts[0] if len(parts) == 1 else F.concat(*parts)

    def _step_date(
        self, df: DataFrame, conf: Mapping[str, Any], cond: Column | None = None
    ) -> DataFrame:
        field = conf["field"]
        src = _read_field(df, field)
        if src is None:
            if conf.get("ignore_missing") or conf.get("ignore_failure"):
                return df
            raise IngestError(f"date field missing: {field}")
        target = conf.get("target_field", "@timestamp")
        formats = conf["formats"]
        if isinstance(formats, str):
            formats = [formats]
        tz = conf.get("timezone")
        tz_col = (
            None
            if tz in (None, "UTC")
            else self._template_value(df, tz)
        )
        ts = _date_parse(src, formats, tz_col, self.default_year)
        fail = src.isNotNull() & ts.isNull()
        prior = _read_field(df, target)
        if prior is not None:
            # a failed (or missing-source) row leaves the document
            # unchanged in ES — whether swallowed by ignore_failure or
            # routed through on_failure, the processor wrote nothing
            # (santa: 2nd date over the disk-pattern-only `timestamp`
            # must not null-overwrite @timestamp set from process.start)
            ts = F.coalesce(ts, prior.try_cast("timestamp"))
        return self._route_failure(
            df, conf, cond, fail, f"unable to parse date [{field}]",
            lambda d: self._put(d, target, ts, cond),
        )

    def _step_convert(
        self, df: DataFrame, conf: Mapping[str, Any], cond: Column | None = None
    ) -> DataFrame:
        field = conf["field"]
        src = _read_field(df, field)
        if src is None:
            if conf.get("ignore_missing") or conf.get("ignore_failure") or cond is not None:
                return df
            raise IngestError(f"convert field missing: {field}")
        typ = conf["type"]
        if typ not in _CONVERT_TYPES:
            raise IngestError(f"convert: unsupported type {typ}")
        target = conf.get("target_field", field)
        # try_cast: ANSI cast aborts the whole job on one malformed
        # value; ES convert fails only the single document (NULL here)
        cast = src.try_cast(_CONVERT_TYPES[typ])
        return self._route_failure(
            df, conf, cond, src.isNotNull() & cast.isNull(),
            f"unable to convert [{field}] to {typ}",
            lambda d: self._put(d, target, cast, cond),
        )

    def _step_lowercase(
        self, df: DataFrame, conf: Mapping[str, Any], cond: Column | None = None
    ) -> DataFrame:
        return self._case(df, conf, F.lower, cond)

    def _step_uppercase(
        self, df: DataFrame, conf: Mapping[str, Any], cond: Column | None = None
    ) -> DataFrame:
        return self._case(df, conf, F.upper, cond)

    def _case(self, df, conf, fn, cond=None) -> DataFrame:
        field = conf["field"]
        src = _read_field(df, field)
        if src is None:
            if conf.get("ignore_missing") or conf.get("ignore_failure"):
                return df
            raise IngestError(f"case field missing: {field}")
        # ES writes to target_field when given, leaving the source
        # (suricata lowercases suricata.eve.proto INTO
        # network.transport)
        target = conf.get("target_field", field)
        return self._put(df, target, fn(src), cond)

    def _step_urldecode(
        self, df: DataFrame, conf: Mapping[str, Any], cond: Column | None = None
    ) -> DataFrame:
        """``urldecode`` (ingest-common URLDecodeProcessor — java
        URLDecoder semantics, ``+`` → space; used by
        /root/reference/filebeat/module/iis/error/ingest/pipeline.json).
        ``try_url_decode``: a malformed escape fails only that
        document (NULL + failure record), not the job."""
        field = conf["field"]
        col = _read_field(df, field)
        if col is None:
            if conf.get("ignore_missing") or conf.get("ignore_failure"):
                return df
            raise IngestError(f"urldecode field missing: {field}")
        target = conf.get("target_field", field)
        dec = F.try_url_decode(col)
        return self._route_failure(
            df, conf, cond, col.isNotNull() & dec.isNull(),
            f"unable to URL-decode [{field}]",
            lambda d: self._put(d, target, dec, cond),
        )

    def _step_dissect(
        self, df: DataFrame, conf: Mapping[str, Any], cond: Column | None = None
    ) -> DataFrame:
        """``dissect`` ingest step — the same tokenizer engine as the
        beats processor (functions/dissect.py), extracted keys landing
        as root-level flat columns (the ingest node's behavior; the
        beats processor defaults to a ``dissect.`` prefix instead).
        Used by /root/reference/filebeat/module/traefik/access/ingest/pipeline.json
        and, heavily guarded (one dissect per message id), by
        x-pack/filebeat/module/cisco/asa/ingest/pipeline.yml."""
        from .actions import Dissect

        field = conf["field"]
        if field not in df.columns:
            # map-backed source (json/kv key — coredns dissects
            # json.message out of the json map): materialize the flat
            # column, then proceed
            src = _read_field(df, field)
            if src is None:
                if conf.get("ignore_missing") or conf.get("ignore_failure"):
                    return df
                raise IngestError(f"dissect field missing: {field}")
            df = df.withColumn(field, src)
        # `failed` is the kernel's own match gate for THIS step: the
        # `log_flags` array accumulates across a pipeline's dissects
        # (cisco asa runs ~46), so it cannot tell which one failed
        out, failed, tmp_cols = Dissect(
            tokenizer=conf["pattern"], field=field, target_prefix="",
            overwrite=True,
        ).parse(df, guard=cond)
        out = self._route_failure(
            out, conf, cond, failed,
            f"Unable to find match for dissect pattern on [{field}]",
        )
        return out.drop(*tmp_cols)

    def _step_dot_expander(
        self, df: DataFrame, conf: Mapping[str, Any]
    ) -> DataFrame:
        """``dot_expander`` turns a literal dotted KEY into the nested
        object path (the most-used absent step in r2 — 22 uses across
        module ingest JSONs, e.g.
        /root/reference/filebeat/module/elasticsearch/audit/ingest/pipeline.json).
        Our execution model keeps ECS fields as FLAT dotted column
        names, where the literal-dotted-key and nested spellings are
        the SAME column — so the step validates addressability and is
        the identity transform. ``path`` scopes the field under a
        parent object, i.e. the flat name ``path + '.' + field``."""
        field = conf["field"]
        if field == "*":
            return df
        path = conf.get("path")
        flat = f"{path}.{field}" if path else field
        if flat not in df.columns:
            # ES dot_expander is a no-op when the field is absent
            return df
        return df

    def _step_split(
        self, df: DataFrame, conf: Mapping[str, Any], cond: Column | None = None
    ) -> DataFrame:
        """``split`` divides a string field into an array on a regex
        separator (ingest-common SplitProcessor — Java ``String.split``
        semantics: trailing empty strings dropped unless
        ``preserve_trailing``; an empty input yields ``[""]``)."""
        field = conf["field"]
        col = _read_field(df, field)
        if col is None:
            if conf.get("ignore_missing") or conf.get("ignore_failure") or cond is not None:
                return df
            raise IngestError(f"split field missing: {field}")
        target = conf.get("target_field", field)
        arr = F.split(col, conf["separator"], -1)
        if not conf.get("preserve_trailing"):
            # index of the last non-empty element; slice keeps [1..n]
            n = F.array_max(
                F.zip_with(
                    arr,
                    F.sequence(F.lit(1), F.greatest(F.size(arr), F.lit(1))),
                    lambda x, i: F.when(x != "", i).otherwise(F.lit(0)),
                )
            )
            arr = F.when(col == "", F.array(F.lit(""))).otherwise(
                F.slice(arr, 1, F.greatest(n, F.lit(0)))
            )
        return self._put(df, target, arr, cond)

    def _step_json(self, df: DataFrame, conf: Mapping[str, Any]) -> DataFrame:
        """``json`` parses a JSON-string field. With a ``schema``
        (Spark DDL struct string — our documented extension, since the
        ingest node discovers keys per document and a Spark plan needs
        the schema up front) the parsed top-level keys become FLAT
        dotted columns ``<target>.<key>``; without one the target
        becomes a ``map<string,string>`` column (scalar values only).
        A non-parseable non-null document records a failure for
        ``on_failure``."""
        field = conf["field"]
        col = _read_field(df, field)
        if col is None:
            if conf.get("ignore_missing") or conf.get("ignore_failure"):
                return df
            raise IngestError(f"json field missing: {field}")
        if conf.get("add_to_root"):
            raise IngestError("json: add_to_root needs a schema'd target; "
                              "use target_field + schema")
        target = conf.get("target_field", field)
        schema = conf.get("schema")
        parsed = F.from_json(
            col, schema if schema else "map<string,string>"
        )

        def write(df: DataFrame) -> DataFrame:
            if not schema:
                return df.withColumn(target, parsed)
            df = df.withColumn("_json_tmp", parsed)
            for sub in df.schema["_json_tmp"].dataType.fieldNames():
                df = df.withColumn(f"{target}.{sub}", F.col("_json_tmp")[sub])
            return df.drop("_json_tmp")

        # from_json returns an all-NULL struct (not NULL) for malformed
        # input under a struct schema — probe validity separately
        return self._route_failure(
            df, conf, None, col.isNotNull() & F.try_parse_json(col).isNull(),
            f"unable to parse JSON [{field}]", write,
        )

    def _step_kv(self, df: DataFrame, conf: Mapping[str, Any]) -> DataFrame:
        """``kv`` splits key=value text (ingest-common KeyValueProcessor,
        e.g. /root/reference/filebeat/module/auditd/log/ingest/pipeline.json:
        field_split \\s+, value_split =). With ``include_keys`` each
        listed key becomes a FLAT dotted column ``<target>.<key>``
        (plan-time schema); without it the target holds the full
        ``map<string,string>``."""
        field = conf["field"]
        src = _read_field(df, field)
        if src is None:
            if conf.get("ignore_missing") or conf.get("ignore_failure"):
                return df
            raise IngestError(f"kv field missing: {field}")
        target = conf.get("target_field", field)
        m = F.str_to_map(
            src, F.lit(conf["field_split"]), F.lit(conf["value_split"])
        )
        include = conf.get("include_keys")
        if not include:
            from pyspark.sql.types import MapType

            if target in df.columns and isinstance(
                df.schema[target].dataType, MapType
            ):
                # ES kv MERGES into an existing object (auditd's
                # second kv re-targets auditd.log): new keys win; old
                # keys filtered first because map_concat's default
                # dedup policy is EXCEPTION
                old = F.map_filter(
                    _fcol(target),
                    lambda k, _: ~F.coalesce(
                        F.map_contains_key(m, k), F.lit(False)
                    ),
                )
                m = F.map_concat(
                    old,
                    F.coalesce(m, F.create_map().cast("map<string,string>")),
                )
            return df.withColumn(target, m)
        df = df.withColumn("_kv_tmp", m)
        for key in include:
            df = df.withColumn(f"{target}.{key}", F.col("_kv_tmp")[key])
        return df.drop("_kv_tmp")

    def _step_drop(self, df: DataFrame, conf: Mapping[str, Any]) -> DataFrame:
        """``drop`` discards documents matching the painless ``if``
        condition (module usage shape:
        ``ctx.elasticsearch.server.type != 'server'``)."""
        cond = painless_condition(conf["if"], df)
        return df.where(~cond)

    def _step_append(
        self, df: DataFrame, conf: Mapping[str, Any], cond: Column | None = None
    ) -> DataFrame:
        """``append`` adds value(s) to a field, promoting a scalar to
        an array and creating the field when absent (ES semantics);
        mustache values compile to column reads (_template_value)."""
        field = conf["field"]
        val = conf["value"]
        vals = val if isinstance(val, list) else [val]
        add = F.array(*[self._template_value(df, v) for v in vals])
        if field not in df.columns:
            return self._put(df, field, add, cond)
        existing = _fcol(field)
        from pyspark.sql.types import ArrayType

        if isinstance(df.schema[field].dataType, ArrayType):
            combined = F.concat(existing, add)
        else:
            combined = F.concat(F.array(existing), add)
        return self._put(df, field, combined, cond)

    def _step_script(
        self, df: DataFrame, conf: Mapping[str, Any], cond: Column | None = None
    ) -> DataFrame:
        """``script`` (painless) compiled to Column assignments by the
        painless-subset compiler — see :func:`compile_painless_script`.
        All assignments apply in ONE projection against the pre-step
        frame (``withColumns``), preserving the script's read-before-
        write ordering which the compiler already folded in.
        Unsupported scripts raise."""
        lang = conf.get("lang", "painless")
        if lang != "painless":
            raise IngestError(f"script: unsupported lang {lang!r}")
        source = conf.get("source") or conf.get("inline")
        if not source:
            raise IngestError("script: missing source")
        assigns = compile_painless_script(source, conf.get("params", {}), df)
        drops = [c for c, v in assigns.items() if v is None]
        assigns = {c: v for c, v in assigns.items() if v is not None}
        if cond is not None:
            assigns = {
                c: F.when(cond, v).otherwise(
                    _fcol(c) if c in df.columns else F.lit(None)
                )
                for c, v in assigns.items()
            }
            # a guarded remove can't drop the column (other rows keep
            # their values) — NULL the matching rows instead (flat
            # NULL = absent; coredns's source-split script removes
            # `temp` under its step `if`)
            for c in drops:
                if c in df.columns:
                    assigns[c] = F.when(
                        ~F.coalesce(cond, F.lit(False)), _fcol(c)
                    )
            df = df.withColumns(dict(assigns))
            return df
        df = df.withColumns(dict(assigns))
        return df.drop(*drops) if drops else df

    def _step_pipeline(self, df: DataFrame, conf: Mapping[str, Any]) -> DataFrame:
        """``pipeline`` routes each document through a named
        sub-pipeline, usually behind an ``if`` guard — the
        elasticsearch module sends JSON-looking lines to a json parser
        and everything else to a plaintext parser
        (/root/reference/filebeat/module/elasticsearch/server/ingest/pipeline.json).
        Spark shape: filter → apply sub-pipeline → unionByName with the
        untouched complement (missing columns NULL-filled); guarded
        sub-pipeline outputs and pass-through rows reconverge in one
        union, and an unguarded pipeline step is a plain composition."""
        pname = conf["name"]
        sub = (self.sub_pipelines or {}).get(pname)
        if sub is None:
            raise IngestError(
                f"pipeline step: unknown sub-pipeline {pname!r} "
                "(pass sub_pipelines= to IngestPipeline)"
            )
        cond_src = conf.get("if")
        if cond_src is None:
            return sub.apply(df)
        cond = F.coalesce(painless_condition(cond_src, df), F.lit(False))
        routed = sub.apply(df.where(cond))
        passed = df.where(~cond)
        routed, passed = self._reconcile_types(routed, passed)
        return routed.unionByName(passed, allowMissingColumns=True)

    @staticmethod
    def _reconcile_types(a: DataFrame, b: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Branches of a routed ``pipeline`` step can give one field
        different types (the slowlog plaintext sub SPLITS
        ``elasticsearch.slowlog.stats`` to an array; the json sub
        leaves it a string). ES fields hold scalar-or-array
        transparently; the Spark-honest union type is the array —
        lift the scalar branch to a one-element array (NULL stays
        NULL). Any other type divergence raises loudly."""
        from pyspark.sql.types import ArrayType

        ta = {f.name: f.dataType for f in a.schema.fields}
        tb = {f.name: f.dataType for f in b.schema.fields}
        for name in set(ta) & set(tb):
            da, db = ta[name], tb[name]
            if da == db:
                continue
            if isinstance(da, ArrayType) and da.elementType == db:
                b = b.withColumn(
                    name,
                    F.when(_fcol(name).isNotNull(), F.array(_fcol(name))),
                )
            elif isinstance(db, ArrayType) and db.elementType == da:
                a = a.withColumn(
                    name,
                    F.when(_fcol(name).isNotNull(), F.array(_fcol(name))),
                )
            else:
                raise IngestError(
                    f"pipeline branches disagree on type of {name!r}: "
                    f"{da.simpleString()} vs {db.simpleString()}"
                )
        return a, b

    def _step_user_agent(
        self, df: DataFrame, conf: Mapping[str, Any], cond: Column | None = None
    ) -> DataFrame:
        """``user_agent`` as a broadcast-dimension enrich: the ingest
        node ships a regexes.yaml database; here the parsed fields come
        from a caller-provided dimension table (``ua_dim``) joined
        broadcast on the exact UA string (operators/enrich.py
        UserAgentEnrich). Without a dim the step raises — add
        'user_agent' to ignore_processors to skip instead."""
        if self.ua_dim is None:
            raise IngestError(
                "user_agent step needs ua_dim (or list it in "
                "ignore_processors)"
            )
        from .enrich import UserAgentEnrich

        return UserAgentEnrich(
            dim=self.ua_dim,
            field=conf.get("field", "user_agent"),
            target_prefix=conf.get("target_field", "user_agent"),
        ).apply(df, guard=cond)

    def _step_geoip(
        self, df: DataFrame, conf: Mapping[str, Any], cond: Column | None = None
    ) -> DataFrame:
        """``geoip`` as a broadcast CIDR-dimension enrich: longest-
        prefix match against a caller-provided (cidr → geo) table
        (operators/enrich.py GeoIPEnrich — per-prefix-length equi-join,
        never a nested-loop range join). Without a dim the step raises —
        add 'geoip' to ignore_processors to skip instead."""
        if self.geo_dim is None:
            raise IngestError(
                "geoip step needs geo_dim (or list it in ignore_processors)"
            )
        from .enrich import GeoIPEnrich

        return GeoIPEnrich(
            dim=self.geo_dim,
            field=conf["field"],
            target_prefix=conf.get("target_field", "geoip"),
        ).apply(df, guard=cond)


class IngestProcessor:
    """Processor-chain adapter so a module ingest program slots into a
    YAML pipeline config (``- ingest_pipeline: {steps: [...]}`` or
    ``{document: <pipeline JSON mapping>}``). Whole-frame transform —
    a ``when:`` guard is rejected (ES runs ingest per index request,
    not per-event-conditionally)."""

    def __init__(
        self,
        steps: Sequence[Mapping[str, Any]] | None = None,
        document: Mapping[str, Any] | str | None = None,
    ) -> None:
        if (steps is None) == (document is None):
            raise IngestError(
                "ingest_pipeline needs exactly one of steps/document"
            )
        self._pipeline = (
            IngestPipeline(steps=list(steps))
            if steps is not None
            else load_ingest_pipeline(document)
        )

    def apply(self, df: DataFrame, guard=None) -> DataFrame:
        if guard is not None:
            raise NotImplementedError(
                "ingest_pipeline under a when: guard is not supported"
            )
        return self._pipeline.apply(df)
