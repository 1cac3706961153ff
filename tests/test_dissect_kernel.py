"""Dissect conformance: the pure-Python kernel against the corpus, and
``Dissect.apply`` on Spark against the pure-Python kernel.

Corpus: tests/data/dissect_corpus.json, vendored from the reference's
shared logstash-filter-dissect conformance suite
(libbeat/processors/dissect/testdata/dissect_tests.json; harness at
libbeat/processors/dissect/dissect_test.go:36-91).
"""

from __future__ import annotations

import json
import pathlib
import time

import pytest

from beats_spark.functions.dissect import (
    FLAG_PARSING_ERROR,
    DissectError,
    Dissector,
    compile_tokenizer,
)
from beats_spark.operators.actions import Dissect
from beats_spark.schema import FLAGS_FIELD
from beats_spark.session import local_frame
from beats_spark.synth import TOK_LOGFMT, TOK_TOOL

CORPUS = json.loads(
    (pathlib.Path(__file__).parent / "data" / "dissect_corpus.json").read_text()
)


@pytest.mark.parametrize("case", CORPUS, ids=[c["name"] for c in CORPUS])
def test_corpus_kernel(case):
    if case.get("skip"):
        pytest.skip("skipped in reference corpus")
    d = Dissector(case["tok"])
    got = d.dissect(case["msg"])
    if case["fail"]:
        assert got is None
    else:
        assert got == case["expected"]


ADVERSARIAL = [
    # (tok, msg, expected or None)
    ("%{a} %{b}", "x ", {"a": "x", "b": ""}),           # last key empty via default position
    ("%{a} %{b}", "x", None),                            # delimiter missing → fail
    ("%{a}|%{b}-%{c}", "x-y|z", None),                  # first-occurrence commit: no backtrack
    ("%{a}%{b}", "xyz", {"a": "", "b": "xyz"}),         # zero-width mid delimiter
    ("%{a} %{b}", "", None),                             # empty input fails
    ("a-%{x}-b", "a-mid-b tail", {"x": "mid"}),         # trailing content ignored
    ("%{a->} %{b}", "x      y", {"a": "x", "b": "y"}),  # left-run consume
    ("%{a} %{b->} ", "x y    ", {"a": "x", "b": "y"}),  # padded last key with trailing delim
    ("[%{ts}] %{msg}", "[t1] hello [x]", {"ts": "t1", "msg": "hello [x]"}),
    ("%{+k} %{+k}", "p q", {"k": "p q"}),
    # append join uses the field's own preceding delimiter: %{+k/2} is
    # preceded by the zero-width start delimiter → default " " join
    ("%{+k/2},%{+k/1}", "b,a", {"k": "a b"}),
    ("%{*k} %{&k}", "color blue", {"color": "blue"}),
    # control chars in field text extract like any other text
    ("%{a} %{b}=%{c}", "a\x1e\x17b k=v", {"a": "a\x1e\x17b", "b": "k", "c": "v"}),
    # a NULL source: no fields and, on Spark, no parse-error flag
    ("%{a} %{b}", None, None),
    ("%{+k} %{+k}", None, None),
]


@pytest.mark.parametrize("tok,msg,expected", ADVERSARIAL)
def test_adversarial_kernel(tok, msg, expected):
    d = compile_tokenizer(tok)
    assert d.dissect(msg) == expected


def test_append_ordinal_ordering():
    d = Dissector("%{+key/3} %{+key/1} %{+key/2}")
    assert d.dissect("1 2 3") == {"key": "2 3 1"}


def test_invalid_tokenizer():
    with pytest.raises(DissectError):
        Dissector("no references at all")
    with pytest.raises(DissectError):
        Dissector("%{+&bad}")


def spark_vs_kernel(spark, tok: str, msgs: list) -> list[str]:
    """Run ``Dissect.apply`` over ``msgs`` as ONE DataFrame and return
    a description of every row that differs from ``Dissector.dissect``.

    Spark emits only :attr:`Dissector.output_keys`, so the oracle's dict
    is projected onto them (an indirect value lands only under a static
    key name). A failed parse must carry the flag and NULL fields; a
    NULL source carries neither flag nor fields.
    """
    d = compile_tokenizer(tok)
    rows = [(i, m) for i, m in enumerate(msgs)]
    df = local_frame(spark, rows, "i int, text string")
    out = Dissect(tokenizer=tok, field="text", target_prefix="o_").apply(df)
    keys = d.output_keys
    got_rows = out.select(
        "i", FLAGS_FIELD, *[out["`o_" + k + "`"] for k in keys]
    ).orderBy("i").collect()
    bad = []
    for m, r in zip(msgs, got_rows):
        want = d.dissect(m) if m is not None else None
        flagged = FLAG_PARSING_ERROR in (r[FLAGS_FIELD] or [])
        got = dict(zip(keys, list(r)[2:]))
        if want is None:
            ok = flagged == (m is not None) and set(got.values()) <= {None}
        else:
            ok = not flagged and got == {k: want.get(k) for k in keys}
        if not ok:
            bad.append(f"{tok!r} on {m!r}: spark {got} flagged={flagged}, kernel {want}")
    return bad


def _adversarial_id(i: int, tok: str, msg: str, expected) -> str:
    return f"{tok}-{msg}-{'None' if expected is None else f'expected{i}'}"


SPARK_CASES = [
    pytest.param(c["tok"], c["msg"], id=c["name"])
    for c in CORPUS
    if not c.get("skip")
] + [
    pytest.param(tok, msg, id=_adversarial_id(i, tok, msg, exp))
    for i, (tok, msg, exp) in enumerate(ADVERSARIAL)
]


@pytest.mark.parametrize("tok,msg", SPARK_CASES)
def test_dissect_apply_matches_kernel(spark, tok, msg):
    assert spark_vs_kernel(spark, tok, [msg]) == []


@pytest.mark.parametrize(
    "tok",
    [TOK_LOGFMT, TOK_TOOL, "%{+pair/2} %{+pair/1}"],
    ids=["logfmt", "tool", "append"],
)
def test_no_python_worker_in_plan(spark, tok):
    """Every tokenizer, modifiers included, plans JVM-side only."""
    df = spark.createDataFrame([("x",)], "text string")
    out = Dissect(tokenizer=tok, target_prefix="o_").apply(df)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_expression_stays_linear_in_key_count(spark):
    """20 greedy keys plan and run in seconds: no offset is nested
    inside its own run-length, which would double the expression per
    key."""
    n = 20
    tok = " ".join(f"%{{k{i}->}}" for i in range(n)) + " "
    line = "   ".join(f"v{i}" for i in range(n)) + "  "
    t0 = time.monotonic()
    assert spark_vs_kernel(spark, tok, [line, line.replace("v7   ", "v7"), None]) == []
    assert time.monotonic() - t0 < 30
