"""Property-based conformance for the dissect engine.

Two invariants, both stronger than the fixed corpus:

1. round-trip (hypothesis): for any delimiter/value alphabet where
   values cannot contain delimiters, rendering a message from a
   tokenizer and dissecting it back returns the original values;
2. differential (seeded): on random tokenizers using every modifier,
   ``Dissect.apply`` on Spark agrees with the pure-Python kernel on
   every line — same match/fail, same emitted values.
"""

from __future__ import annotations

import random

from hypothesis import given, settings, strategies as st

from beats_spark.functions.dissect import DissectError, Dissector

from tests.test_dissect_kernel import spark_vs_kernel

# delimiters: punctuation runs (incl. regex metachars to exercise the
# cross-engine quoting); values: alnum only (can't collide with delims)
_DELIM = st.text(alphabet="|,;:= []().*+?^$\\{}-", min_size=1, max_size=3)
_VALUE = st.text(alphabet="abcXYZ019", min_size=0, max_size=6)
_NKEYS = st.integers(min_value=1, max_value=5)


@st.composite
def tokenizer_and_values(draw):
    n = draw(_NKEYS)
    delims = [draw(_DELIM) for _ in range(n + 1)]
    # mid delimiters must be non-empty and distinct from value chars;
    # allow empty leading/trailing delimiter
    if draw(st.booleans()):
        delims[0] = ""
    if draw(st.booleans()):
        delims[-1] = ""
    values = [draw(_VALUE) for _ in range(n)]
    tok = delims[0]
    for i in range(n):
        tok += "%{k" + str(i) + "}" + delims[i + 1]
    msg = delims[0]
    for i in range(n):
        msg += values[i] + delims[i + 1]
    return tok, dict((f"k{i}", v) for i, v in enumerate(values)), msg


@settings(max_examples=200, deadline=None)
@given(tokenizer_and_values())
def test_roundtrip_extracts_rendered_values(tv):
    tok, expected, msg = tv
    d = Dissector(tok)
    got = d.dissect(msg)
    if got is None:
        # legal only when the message is empty (empty input fails)
        assert msg == ""
        return
    # first-occurrence commit: a value that CONTAINS the next delimiter
    # as a prefix-substring can legally split earlier than rendered —
    # only assert equality when re-rendering got reproduces msg
    rendered = d.delims[0]
    for i, k in enumerate(d.keys):
        rendered += got.get(k.name, "") + d.delims[i + 1]
    assert rendered == msg


# single-char, repeated-char and multi-char delimiters: a greedy key
# consumes a run only before a repeated-char one
_RANDOM_DELIMS = [" ", ",", "|", "=", "  ", "--", "::", ", ", "=>", "] ["]
_RANDOM_NAMES = ["a", "b", "c"]
_RANDOM_VALUES = ["a", "b", "c", "", "xy", "a b", "1,2", "=", "-", "::x"]


def _random_key(rng: random.Random) -> str:
    kind = rng.choice(["", "", "?", "*", "&", "+", "+", "skip"])
    if kind == "skip":
        return "%{}"
    body = kind + rng.choice(_RANDOM_NAMES)
    if kind == "+" and rng.random() < 0.6:
        body += f"/{rng.randint(1, 3)}"
    if rng.random() < 0.3:
        body += "->"
    return "%{" + body + "}"


def _random_tokenizer(rng: random.Random) -> Dissector:
    while True:
        n = rng.randint(1, 5)
        parts = [rng.choice(["", "", "["] + _RANDOM_DELIMS)]
        for i in range(n):
            parts.append(_random_key(rng))
            last = i == n - 1
            parts.append(
                rng.choice(["", ""] + _RANDOM_DELIMS) if last
                else rng.choice([""] + _RANDOM_DELIMS * 3)
            )
        try:
            return Dissector("".join(parts))
        except DissectError:
            continue  # an indirect key without a source reference


def _random_lines(rng: random.Random, d: Dissector, n: int) -> list:
    """Mostly lines rendered from the tokenizer, with values that may
    hold delimiter text and padded delimiter runs; then noise."""
    lines: list = [None, ""]
    for _ in range(n):
        line = d.delims[0]
        for delim in d.delims[1:]:
            line += rng.choice(_RANDOM_VALUES)
            line += delim * rng.choice([1, 1, 2, 3]) if delim else ""
        if rng.random() < 0.2:
            cut = rng.randrange(len(line) + 1)
            line = line[:cut]
        lines.append(line)
    noise = "ab =,|:-]>["
    lines += ["".join(rng.choice(noise) for _ in range(rng.randint(1, 12))) for _ in range(n // 4)]
    return lines


def test_spark_agrees_with_kernel_on_random_tokenizers(spark):
    rng = random.Random(20261017)
    bad: list[str] = []
    for _ in range(100):
        d = _random_tokenizer(rng)
        bad += spark_vs_kernel(spark, d.raw, _random_lines(rng, d, 40))
    assert bad == []
