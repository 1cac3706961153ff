"""Pipeline expressions are built once per config, input schema and
JVM (``functions/memo.py``), and a warm ``Pipeline.transform`` issues
only its DataFrame calls.

Each test fails on a memo done wrong: a warm transform that still
rebuilds its Columns (py4j count) or returns other rows than a cold
build, a data-dependent step served from the memo (``DnsEnrich``), a
key without the input schema, and an entry served under another py4j
gateway. The last one runs the memoized expressions through the
micro-batches of a triggered stream.
"""

from __future__ import annotations

import gc
import glob
import os
import random
import sys
import threading
from collections import OrderedDict

import duckdb
import pytest
from py4j.clientserver import ClientServerConnection
from pyspark import SparkContext
from pyspark.sql import functions as F

from beats_spark.functions import memo as memo_mod
from beats_spark.operators.actions import Dissect
from beats_spark.operators.enrich import DnsEnrich
from beats_spark.operators.selector import Rule
from beats_spark.plans.headline import headline_pipeline
from beats_spark.plans.pipeline import Pipeline
from beats_spark.session import local_frame
from beats_spark.streaming.job import run_stream
from beats_spark.synth import TOK_LOGFMT, synth_transcripts

#: py4j calls a warm transform of the headline chain may issue (≈ 710–740
#: when every Column was rebuilt per call)
WARM_CALLS = 100


@pytest.fixture(scope="module")
def input_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("memo") / "in")
    synth_transcripts(spark, 3000, seed=5).write.parquet(path)
    return path


def _count_calls(monkeypatch, fn):
    """``fn()`` and the py4j commands this thread sent meanwhile (py4j's
    finalizer thread sends the deletes of dead objects whenever it
    runs; those are not the call's)."""
    sent = []
    send = ClientServerConnection.send_command
    me = threading.get_ident()

    def counting(self, command):
        if threading.get_ident() == me:
            sent.append(command)
        return send(self, command)

    gc.collect()
    gc.disable()
    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    try:
        out = fn()
    finally:
        monkeypatch.setattr(ClientServerConnection, "send_command", send)
        gc.enable()
    return out, len(sent)


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


def test_warm_transform_issues_few_py4j_calls(spark, input_path, monkeypatch):
    """A warm transform issues few py4j calls and no ``drop``
    (``Dissect`` leaves its kernel columns out of its output projection)
    or ``hint`` (``BroadcastLookup`` hints its dim once per instance):
    each would be one more DataFrame operation for the JVM to analyse
    per micro-batch."""
    pipe = headline_pipeline(spark, n_buckets=16)
    pipe.transform(spark.read.parquet(input_path))  # cold: builds
    fresh = spark.read.parquet(input_path)
    called = []
    frame = type(fresh)
    for owner, name in ((frame, "drop"), (frame, "hint"), (F, "broadcast")):
        real = getattr(owner, name)

        def spy(*args, _real=real, _name=name, **kwargs):
            called.append(_name)
            return _real(*args, **kwargs)

        monkeypatch.setattr(owner, name, spy)
    warm, calls = _count_calls(monkeypatch, lambda: pipe.transform(fresh))
    assert calls <= WARM_CALLS, calls
    assert called == []
    # a cold build (empty memo) of a fresh Pipeline collects the same rows
    monkeypatch.setattr(memo_mod, "_entries", OrderedDict())
    cold = headline_pipeline(spark, n_buckets=16).transform(
        spark.read.parquet(input_path)
    )
    assert warm.columns == cold.columns
    assert _rows(warm) == _rows(cold)


def test_dns_enrich_resolves_each_inputs_own_names(spark):
    asked = []

    def resolver(names):
        asked.append(sorted(names))
        return [f"ip-{n}" for n in names]

    pipe = Pipeline(
        processors=[DnsEnrich(field="host", resolver=resolver)],
        routes=[Rule(value="%{[dns_resolved]}")],
    )
    schema = "conv_id long, host string"
    a = local_frame(spark, [(1, "a1"), (2, "a2")], schema)
    b = local_frame(spark, [(3, "b1"), (4, "b2")], schema)
    got_a = {r["host"]: r["sink"] for r in pipe.transform(a).collect()}
    got_b = {r["host"]: r["sink"] for r in pipe.transform(b).collect()}
    assert got_a == {"a1": "ip-a1", "a2": "ip-a2"}
    assert got_b == {"b1": "ip-b1", "b2": "ip-b2"}
    assert asked == [["a1", "a2"], ["b1", "b2"]]


def test_same_config_other_schema_builds_again(spark):
    """A dotted name reads a flat column in one schema and a struct
    field in the other: a key without the schema would serve the
    flat-column reference to the struct input and fail to resolve."""
    pipe = Pipeline(routes=[Rule(value="c-%{[container.name]}")])
    flat = local_frame(spark, [(1, "x")], "conv_id long, `container.name` string")
    nested = local_frame(
        spark, [(2, ("y",))], "conv_id long, container struct<name: string>"
    )
    for df, want in ((flat, "c-x"), (nested, "c-y"), (flat, "c-x")):
        assert [r["sink"] for r in pipe.transform(df).collect()] == [want]


def test_entry_is_never_served_under_another_gateway(monkeypatch):
    built = []

    def build():
        built.append(SparkContext._gateway)
        return len(built)

    key = ("test-gateway", object())
    assert memo_mod.memo(key, build) == 1
    assert memo_mod.memo(key, build) == 1  # served
    live = SparkContext._gateway
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert memo_mod.memo(key, build) == 2  # another JVM builds its own
    monkeypatch.setattr(SparkContext, "_gateway", live)
    assert memo_mod.memo(key, build) == 3  # and never hands it back
    assert memo_mod.memo(key, build) == 3
    assert built[0] is built[2] is live and built[1] is not live


def test_memo_under_concurrent_threads(monkeypatch):
    """foreachBatch callbacks of concurrent streams share the memo:
    every call still gets its own key's value, and eviction keeps the
    bound, while threads interleave every few bytecodes."""
    # a small memo and a few more keys than it holds: hits, with the
    # key just found often evicted by another thread
    monkeypatch.setattr(memo_mod, "_entries", OrderedDict())
    monkeypatch.setattr(memo_mod, "MAX_ENTRIES", 8)
    keys = [("test-threads", i) for i in range(12)]
    wrong, errors = [], []

    def worker(seed: int) -> None:
        rng = random.Random(seed)
        try:
            for _ in range(20000):
                key = rng.choice(keys)
                if memo_mod.memo(key, lambda key=key: key[1] * 2) != key[1] * 2:
                    wrong.append(key)
        except Exception as e:  # a lost update surfaces as KeyError
            errors.append(e)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not wrong and not errors
    assert len(memo_mod._entries) <= memo_mod.MAX_ENTRIES


def _land(spark, seed: int, rows: int, stage: str, in_dir: str) -> None:
    """One parquet file, renamed into the watched directory whole."""
    synth_transcripts(spark, rows, seed=seed).coalesce(1).write.parquet(stage)
    (part,) = glob.glob(f"{stage}/part-*.parquet")
    os.rename(part, f"{in_dir}/batch-{seed}.parquet")


def test_three_micro_batch_stream_matches_duckdb(spark, tmp_path):
    """A triggered (not availableNow) stream over three files, one per
    micro-batch, reuses the memoized expressions in every batch and
    writes the per-sink counts DuckDB derives from the input alone."""
    in_dir, out = str(tmp_path / "in"), str(tmp_path / "out")
    os.makedirs(in_dir)
    pipe = Pipeline(
        processors=[Dissect(tokenizer=TOK_LOGFMT, field="text")],
        routes=[Rule(value="errors", when={"equals": {"level": "error"}})],
        default_sink="misc",
        n_buckets=4,
    )
    _land(spark, 31, 300, str(tmp_path / "s1"), in_dir)
    q = run_stream(
        spark, pipe, in_dir, out, str(tmp_path / "ckpt"), available_now=False
    )
    try:
        q.processAllAvailable()
        for seed in (32, 33):
            _land(spark, seed, 300, str(tmp_path / f"s{seed}"), in_dir)
            q.processAllAvailable()
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
    assert len(batches) == 3

    logfmt = r'^level=(.*?) ts=(.*?) caller=(.*?) msg="(.*?)"'
    con = duckdb.connect()
    want = dict(
        con.execute(
            f"""
            SELECT CASE WHEN coalesce(regexp_matches(text, '{logfmt}')
                        AND regexp_extract(text, '{logfmt}', 1) = 'error', FALSE)
                   THEN 'errors' ELSE 'misc' END AS sink, count(*)
            FROM parquet_scan('{in_dir}/*.parquet') GROUP BY 1
            """
        ).fetchall()
    )
    got = dict(
        con.execute(
            f"SELECT sink, count(*) FROM parquet_scan('{out}/data/*/*/*.parquet',"
            " hive_partitioning=1) GROUP BY 1"
        ).fetchall()
    )
    assert got == want
    assert sum(got.values()) == 900 and set(got) == {"errors", "misc"}
