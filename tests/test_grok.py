"""Grok compiler + processor tests (reference surface:
filebeat/module/apache/access/ingest/default.json grok program)."""

from __future__ import annotations

import re

import pytest

from beats_spark.functions.grok import GrokError, compile_grok, grok_single_pass
from beats_spark.operators.actions import Grok, apply_chain

APACHE = (
    '%{IPV4:ip} - %{USER:user} \\[%{HTTPDATE:ts}\\] "%{WORD:method} '
    '%{NOTSPACE:url} HTTP/%{NUMBER:ver}" %{INT:status:int} %{INT:bytes:long}'
)
LINE = '10.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET /x.gif HTTP/1.0" 200 2326'


def _grok_rows(df, exprs):
    """Rows of every field column plus the program's ``ok`` flag."""
    df2, cols, _, ok, _ = grok_single_pass(df, "text", exprs)
    return df2.select(
        *[c.alias(k) for k, c in cols.items()], ok.alias("ok")
    ).collect()


class TestCompile:
    def test_compile_groups(self):
        g = compile_grok(APACHE)
        assert [f[0] for f in g.fields] == [
            "ip", "user", "ts", "method", "url", "ver", "status", "bytes",
        ]
        m = re.match(f"^(?s:{g.pattern})$", LINE)
        assert m
        assert m.group(1) == "10.0.0.1"
        assert m.group(7) == "200"

    def test_types(self):
        g = compile_grok(APACHE)
        typed = {f[0]: f[2] for f in g.fields}
        assert typed["status"] == "long" and typed["bytes"] == "long"
        assert typed["ip"] is None

    def test_unknown_pattern(self):
        with pytest.raises(GrokError):
            compile_grok("%{NOPE:x}")

    def test_literal_capturing_groups_shift_numbering(self):
        # apache access pattern 1 wraps optional tails in PLAIN parens
        # (default.json:8): ( "%{DATA:referrer}")?( "%{DATA:ua}")? —
        # each literal '(' claims a Java group number ahead of the
        # named fields; extraction must account for them
        g = compile_grok(
            r'%{INT:code:int}( "%{DATA:referrer}")?( "%{DATA:ua}")?'
        )
        by_name = {f[0]: f[1] for f in g.fields}
        assert by_name == {"code": 1, "referrer": 3, "ua": 5}
        m = re.match(f"^(?s:{g.pattern})$", '200 "-" "curl/8.4.0"')
        assert m
        assert m.group(by_name["referrer"]) == "-"
        assert m.group(by_name["ua"]) == "curl/8.4.0"
        # escapes, classes, and (?: groups do NOT shift numbering
        g2 = compile_grok(r"\((?:x|y)[()]%{WORD:w}")
        assert g2.fields == [("w", 1, None)]

    def test_module_pipeline_composites(self, spark):
        # system/syslog module grok line shape
        # (filebeat/module/system/syslog/ingest/pipeline.json)
        df = spark.createDataFrame(
            [("Oct 11 22:14:15 web-1 sshd[4123]: Accepted publickey",)],
            "text string",
        )
        (row,) = _grok_rows(
            df,
            [
                "%{SYSLOGTIMESTAMP:ts} %{HOSTNAME:host} "
                "%{SYSLOGPROG:prog}: %{GREEDYDATA:msg}"
            ],
        )
        assert row["ok"] is True
        assert row["ts"] == "Oct 11 22:14:15"
        assert row["host"] == "web-1"
        assert row["prog"] == "sshd[4123]"
        assert row["msg"] == "Accepted publickey"

    def test_nested_library_expansion(self):
        g = compile_grok("%{TIMESTAMP_ISO8601:t}")
        assert re.match(f"^(?s:{g.pattern})$", "2024-01-01T10:30:00Z")
        assert not re.match(f"^(?s:{g.pattern})$", "not a date")


class TestSparkGrok:
    def test_single_pattern_fields(self, spark):
        df = spark.createDataFrame([(LINE,), ("garbage",)], "text string")
        good, bad = _grok_rows(df, [APACHE])
        assert good["ok"] and good["ip"] == "10.0.0.1" and good["status"] == 200
        assert good["bytes"] == 2326 and good["method"] == "GET"
        assert not bad["ok"] and bad["ip"] is None

    def test_first_match_wins(self, spark):
        df = spark.createDataFrame(
            [("level=info x", ), ("INFO something",), ("zzz",)], "text string"
        )
        exprs = [
            "level=%{WORD:level} %{GREEDYDATA:rest}",
            "%{LOGLEVEL:level} %{GREEDYDATA:rest}",
        ]
        rows = _grok_rows(df, exprs)
        assert rows[0]["level"] == "info" and rows[0]["rest"] == "x"
        assert rows[1]["level"] == "INFO"
        assert not rows[2]["ok"] and rows[2]["level"] is None

    def test_grok_processor_tags_failures(self, spark):
        df = spark.createDataFrame(
            [(0, LINE), (1, "nope")], "id long, text string"
        )
        out = apply_chain(df, [Grok(patterns=[APACHE])])
        rows = {r["id"]: r for r in out.collect()}
        assert rows[0]["status"] == 200
        assert "grok_parsing_error" in rows[1]["log_flags"]
        assert "grok_parsing_error" not in rows[0]["log_flags"]


def _re_oracle(exprs, line):
    """The expected ``_grok_rows`` row of ``line``, from Python ``re``."""
    compiled = [compile_grok(e) for e in exprs]
    row = {}
    for g in compiled:
        for name, _, _ in g.fields:
            row.setdefault(name, None)
    if line is None:
        return {**row, "ok": None}
    for g in compiled:
        m = re.search(f"(?s:{g.pattern})", line)
        if not m:
            continue
        types = {}
        for name, _, cast in g.fields:
            types.setdefault(name, set()).add(cast)
        for name, idx, cast in g.fields:
            v = m.group(idx)
            if len(types[name]) > 1:
                cast = None
            if cast and v is not None:
                v = int(v) if re.fullmatch(r"[+-]?\d+", v) else None
            elif v == "" and idx in g.conditional and idx not in g.anchors:
                v = None
            if row[name] is None:
                row[name] = v
        return {**row, "ok": True}
    return {**row, "ok": False}


class TestSinglePass:
    """grok_single_pass: one regexp_replace+split per pattern instead
    of one regexp_extract per FIELD (~3x on the 8-field apache
    pattern), with a per-row fallback when the field text contains
    the \\x1e\\x17 separator."""

    def test_matches_python_re_search(self, spark):
        """Differential: every field and match flag equals Python
        ``re.search`` over the compiled pattern, with the module's
        documented per-field rules applied to the match groups — a
        non-participating group is unset, '' of a conditional group
        without an anchor is unset, typed captures convert (or read
        NULL), mixed-type duplicates stay strings, the first branch
        that captured wins, and the first matching pattern wins."""
        programs = [
            [APACHE],
            [r'%{INT:code:int}( "%{DATA:referrer}")?( "%{DATA:ua}")?'],
            [
                r"(?:Id: %{NUMBER:tid:long}|Thread_id: %{NUMBER:tid}|"
                r"Conn: %{INT:conn:int}) %{WORD:op}"
            ],
            [
                "level=%{WORD:level} %{INT:n:int}",
                "%{LOGLEVEL:level} %{GREEDYDATA:rest}",
            ],
        ]
        lines = [
            None, "", LINE, "garbage", "200", '200 "-" "curl/8.4.0"',
            '200 "" "x"', '404 "ref"', '500 "a\x1e\x17b" "c"',
            "Id: 12 select", "Thread_id: 7 update", "Conn: 9 quit",
            "Conn: x9 quit", "level=info 5", "level=info x",
            "INFO something", "zzz",
        ]
        df = spark.createDataFrame([(t,) for t in lines], "text string")
        for exprs in programs:
            got = [r.asDict() for r in _grok_rows(df, exprs)]
            want = [_re_oracle(exprs, t) for t in lines]
            assert got == want, exprs

    def test_separator_collision_falls_back(self, spark):
        evil = "x\x1e\x17y"  # captured text contains the separator
        df = spark.createDataFrame(
            [(f"v={evil} n=7",), ("v=ok n=8",)], "text string"
        )
        df2, cols, masks, ok, tmps = grok_single_pass(
            df, "text", ["v=%{NOTSPACE:v} n=%{INT:n:int}"]
        )
        rows = df2.select(
            cols["v"].alias("v"), cols["n"].alias("n")
        ).collect()
        assert (rows[0]["v"], rows[0]["n"]) == (evil, 7)
        assert (rows[1]["v"], rows[1]["n"]) == ("ok", 8)
