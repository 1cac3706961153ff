"""``BroadcastLookup`` over a small driver-side dim is a literal-map
lookup inside the plan; every other dim is a broadcast hash join.

The join is the reference: each in-plan case below runs the same
lookup once more with its literal map switched off, so on the join
path, and needs the same schema (names, order, types, nullability)
and the same rows. The selection tests pin which dims keep the join.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from beats_spark.operators.actions import When, apply_chain
from beats_spark.operators.enrich import IN_PLAN_MAX_ROWS, BroadcastLookup
from beats_spark.session import local_frame

FACTS_SCHEMA = "id long, host string, kind string"
FACTS = [
    (1, "h1", "log"),
    (2, "h2", "log"),
    (3, "h1", "raw"),
    (4, "h9", "log"),  # no dim row
    (5, None, "log"),  # NULL key
    (6, "h3", "raw"),
]
DIM_SCHEMA = (
    "host string, region string, rack int, up boolean, load double,"
    " cost decimal(10,2), since date, tag binary"
)
DIM = [
    ("h1", "us-east", 7, True, 0.25, Decimal("1.50"), dt.date(2024, 1, 2), b"\x01"),
    ("h2", None, None, None, None, None, None, None),  # NULL payload
    ("h3", "eu-west", 9, False, -1.5, Decimal("-3.00"), dt.date(1999, 12, 31), b""),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _joined(lookup: BroadcastLookup) -> BroadcastLookup:
    """The same lookup on the join path."""
    ref = BroadcastLookup(dim=lookup.dim, on=lookup.on, prefix=lookup.prefix)
    ref.__dict__["_literal_map"] = None  # what the cached_property reads
    return ref


def _rows(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.collect())


def _assert_same(in_plan, joined) -> None:
    assert "Join" not in _plan(in_plan) and "BroadcastExchange" not in _plan(in_plan)
    assert "BroadcastHashJoin" in _plan(joined)
    assert in_plan.schema == joined.schema
    assert _rows(in_plan) == _rows(joined)


@pytest.fixture(scope="module")
def facts(spark):
    return local_frame(spark, FACTS, FACTS_SCHEMA)


@pytest.fixture(scope="module")
def dim(spark):
    return local_frame(spark, DIM, DIM_SCHEMA)


@pytest.mark.parametrize("prefix", ["", "dim."])
def test_in_plan_matches_join(spark, facts, dim, prefix):
    # missing key, NULL key and NULL payload values, over every payload
    # type the literal map holds; a dotted prefix makes flat columns
    lookup = BroadcastLookup(dim=dim, on=["host"], prefix=prefix)
    out = lookup.apply(facts)
    _assert_same(out, _joined(lookup).apply(facts))
    got = {r["id"]: r for r in out.collect()}
    assert got[1][f"{prefix}region"] == "us-east" and got[1][f"{prefix}rack"] == 7
    assert got[1][f"{prefix}tag"] == bytearray(b"\x01")
    assert got[2][f"{prefix}region"] is None  # a dim row of NULLs
    assert got[4][f"{prefix}region"] is None and got[5][f"{prefix}region"] is None
    assert out.columns[:3] == ["host", "id", "kind"]  # the join's order


def test_in_plan_matches_join_under_when_guard(spark, facts, dim):
    # the guarded test in test_guarded_processors, on a local_frame dim
    lookup = BroadcastLookup(dim=dim, on=["host"])

    def guarded(p):
        return apply_chain(
            facts, [When(condition={"equals": {"kind": "log"}}, then=p)]
        )

    out = guarded(lookup)
    _assert_same(out, guarded(_joined(lookup)))
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["region"] == "us-east"
    assert rows[3]["region"] is None  # dim hit suppressed by guard
    assert rows[6]["region"] is None and rows[6]["host"] == "h3"


def test_repeat_apply_reuses_the_literal_map(spark, facts, dim):
    # the map is read once per instance; a second input of the same
    # schema gets the same rows as a fresh instance
    lookup = BroadcastLookup(dim=dim, on=["host"])
    first = lookup.apply(facts)
    built = lookup.__dict__["_literal_map"]
    again = lookup.apply(local_frame(spark, FACTS, FACTS_SCHEMA))
    assert lookup.__dict__["_literal_map"] is built
    assert _rows(again) == _rows(first)


def _hosts(n: int) -> list[tuple]:
    return [(f"h{i}", f"r{i}") for i in range(n)]


def _uses_join(lookup: BroadcastLookup, facts) -> bool:
    plan = _plan(lookup.apply(facts))
    if "BroadcastHashJoin" in plan:
        return True
    assert "Join" not in plan
    return False


def test_largest_in_plan_dim(spark, facts):
    dim = local_frame(spark, _hosts(IN_PLAN_MAX_ROWS), "host string, region string")
    lookup = BroadcastLookup(dim=dim, on=["host"])
    assert not _uses_join(lookup, facts)
    _assert_same(lookup.apply(facts), _joined(lookup).apply(facts))


def test_dims_that_keep_the_join(spark, facts, tmp_path):
    schema = "host string, region string"
    table = str(tmp_path / "dim")
    local_frame(spark, _hosts(4), schema).write.parquet(table)
    keep_join = {
        "65 rows": (
            local_frame(spark, _hosts(IN_PLAN_MAX_ROWS + 1), schema),
            ["host"],
        ),
        "duplicate key": (
            local_frame(spark, [("h1", "a"), ("h1", "b")], schema),
            ["host"],
        ),
        "NULL key": (
            local_frame(spark, [("h1", "a"), (None, "b")], schema),
            ["host"],
        ),
        "two on columns": (
            local_frame(spark, [("h1", "log", "a")], "host string, kind string, region string"),
            ["host", "kind"],
        ),
        "key type": (
            local_frame(spark, [(1, "a")], "host int, region string"),
            ["host"],
        ),
        "timestamp payload": (
            local_frame(
                spark, [("h1", dt.datetime(2024, 1, 2))], "host string, seen timestamp"
            ),
            ["host"],
        ),
        "list-backed": (spark.createDataFrame(_hosts(4), schema), ["host"]),
        "parquet scan": (spark.read.parquet(table), ["host"]),
    }
    for name, (dim, on) in keep_join.items():
        assert _uses_join(BroadcastLookup(dim=dim, on=on), facts), name
    assert not _uses_join(
        BroadcastLookup(dim=local_frame(spark, _hosts(4), schema), on=["host"]),
        facts,
    )


def test_key_type_mismatch_keeps_the_join(spark):
    # an input key of another type than the dim's keeps the join (and
    # its implicit cast), even for a dim the lookup reads into a map
    lookup = BroadcastLookup(
        dim=local_frame(spark, [(1, "a"), (2, "b")], "host int, region string"),
        on=["host"],
    )
    ints = local_frame(spark, [(1, 1), (2, 3)], "id long, host int")
    longs = local_frame(spark, [(1, 1), (2, 3)], "id long, host long")
    assert not _uses_join(lookup, ints)
    assert _uses_join(lookup, longs)
    for df in (ints, longs):
        got = {r["id"]: r["region"] for r in lookup.apply(df).collect()}
        assert got == {1: "a", 2: None}


def test_collated_key_keeps_the_join(spark):
    # 'A' and 'a' are one key under UTF8_LCASE: a literal map of both
    # fails at run time on its duplicate key
    schema = "host string collate UTF8_LCASE, region string"
    dim = local_frame(spark, [("A", "x"), ("a", "y")], schema)
    lookup = BroadcastLookup(dim=dim, on=["host"])
    assert _uses_join(lookup, dim.select("host"))
    assert lookup.apply(dim.select("host")).count() == 4
