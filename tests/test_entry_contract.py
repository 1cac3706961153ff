"""Driver-contract invariants for __spark_entry__.py, inside pytest.

The driver hashes each query's rows against its DuckDB oracle with
columns SORTED BY NAME — so a single alias mismatch between the Spark
side and the SQL side fails the round even when every value is
identical. tools/check_correctness.py catches that by executing both
sides; this file catches it in seconds without executing anything:
the Spark side is resolved to a plan schema (lazy — except operators
that train/materialize eagerly, all tiny at sf0.001) and the oracle
side through DuckDB's binder (DESCRIBE).
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

#: the driver's correctness check covers only the first 50
#: registrations (measured in round 2: 54 registered, exactly 50
#: checked) — a 51st entry would silently never be verified
DRIVER_WINDOW = 50


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


class TestRegistry:
    def test_same_keys_and_window(self):
        q = entry.queries()
        o = entry.oracle_sql()
        assert set(q) == set(o)
        # exactly full: a registry that shrank (say, an import error
        # dropping the dataops rows) fails here instead of passing
        assert len(q) == DRIVER_WINDOW

    def test_every_query_column_set_matches_oracle(self, spark, oracle_con):
        q = entry.queries()
        o = entry.oracle_sql()
        bad = {}
        for name, fn in q.items():
            spark_cols = sorted(fn(spark, SF_DIR).columns)
            duck_cols = sorted(
                r[0] for r in oracle_con.sql(f"DESCRIBE {o[name]}").fetchall()
            )
            if spark_cols != duck_cols:
                bad[name] = (spark_cols, duck_cols)
        assert not bad, f"column-name mismatches (spark vs oracle): {bad}"
