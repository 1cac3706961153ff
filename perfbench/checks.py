"""Output checks, computed with DuckDB independently of Spark.

The expectation comes from the input parquet alone: per-sink row counts
and per-sink digests of the ``(conv_id, turn_idx)``-ordered turn text,
with the canonicalization of ``tools/verify_sinks.sink_digests`` (each
field md5-ed separately, NULL text marked, the row hash as tie-break).
A written output root passes when its ``data/`` has the same digests and,
for batch runs, ``_metrics.events_published`` per sink and the
``_manifest`` row totals equal the recount.
"""

from __future__ import annotations

import os

from .workloads import sink_sql

Digests = dict[str, tuple[int, str]]


def _digest_sql(relation: str) -> str:
    # `relation` yields (sink, conv_id, turn_idx, text)
    return f"""
        WITH r AS (
          SELECT sink, conv_id, turn_idx,
                 md5(conv_id) || md5(CAST(turn_idx AS VARCHAR)) ||
                 CASE WHEN text IS NULL THEN 'N' ELSE md5(text) END AS row_h
          FROM ({relation})
        )
        SELECT sink, count(*) AS n,
               md5(string_agg(row_h, '' ORDER BY conv_id, turn_idx, row_h))
        FROM r GROUP BY sink
    """


def _list(files: list[str]) -> str:
    return "[" + ", ".join(f"'{f}'" for f in files) + "]"


def _scan(files: list[str]) -> str:
    return f"parquet_scan({_list(files)})"


def parquet_files(root: str) -> list[str]:
    out = []
    for d, _, names in os.walk(root):
        out += [os.path.join(d, n) for n in names if n.endswith(".parquet")]
    return sorted(out)


def expected_digests(con, input_files: list[str], parse: str) -> Digests:
    rel = (
        f"SELECT {sink_sql(parse)} AS sink, conv_id, turn_idx, text "
        f"FROM {_scan(input_files)}"
    )
    return {r[0]: (r[1], r[2]) for r in con.execute(_digest_sql(rel)).fetchall()}


def written_digests(con, root: str) -> Digests:
    files = parquet_files(f"{root}/data")
    if not files:
        return {}
    rel = (
        "SELECT sink, conv_id, turn_idx, text "
        f"FROM parquet_scan({_list(files)}, hive_partitioning = 1)"
    )
    return {r[0]: (r[1], r[2]) for r in con.execute(_digest_sql(rel)).fetchall()}


def diff_digests(want: Digests, got: Digests) -> list[str]:
    errs = []
    for sink in sorted(set(want) | set(got)):
        if sink not in got:
            errs.append(f"sink {sink} missing")
        elif sink not in want:
            errs.append(f"sink {sink} unexpected ({got[sink][0]} rows)")
        elif want[sink][0] != got[sink][0]:
            errs.append(f"sink {sink}: {got[sink][0]} rows, want {want[sink][0]}")
        elif want[sink][1] != got[sink][1]:
            errs.append(f"sink {sink}: text digest differs")
    return errs


def check_batch_root(con, root: str, want: Digests, rows: int) -> list[str]:
    """Every way a committed batch root can disagree with the expectation."""
    got = written_digests(con, root)
    errs = diff_digests(want, got)
    published = {
        s: (p, t)
        for s, p, t in con.execute(
            f"SELECT sink, sum(events_published), max(events_total) "
            f"FROM parquet_scan('{root}/_metrics/*.parquet') GROUP BY sink"
        ).fetchall()
    }
    for sink, (n, _) in sorted(got.items()):
        if sink not in published:
            errs.append(f"_metrics has no row for sink {sink}")
        elif published[sink][0] != n:
            errs.append(f"_metrics published {published[sink][0]} to {sink}, data has {n}")
    if any(t != rows for _, t in published.values()):
        errs.append(f"_metrics events_total differs from the {rows} input rows")
    (routed,) = con.execute(
        f"SELECT sum(rows_routed) "
        f"FROM parquet_scan('{root}/_manifest/*.parquet')"
    ).fetchone()
    total = sum(n for n, _ in got.values())
    if routed != total:
        errs.append(f"_manifest totals {routed} rows, data has {total}")
    if total != rows:
        errs.append(f"{total} rows written, {rows} input rows")
    return errs


def parse_ok_ratio(con, root: str, parse: str) -> float:
    """Unflagged rows ÷ rows in a written root (1.0 when nothing parses)."""
    if parse == "none":
        return 1.0
    files = parquet_files(f"{root}/data")
    n, ok = con.execute(
        "SELECT count(*), count_if(len(coalesce(log_flags, [])) = 0) "
        f"FROM {_scan(files)}"
    ).fetchone()
    return ok / n


def unmatched_rows(con, root: str) -> int:
    """Rows that missed a broadcast lookup (NULL dimension attribute)."""
    files = parquet_files(f"{root}/data")
    return con.execute(
        "SELECT count_if(role_group IS NULL OR tool_family IS NULL) "
        f"FROM {_scan(files)}"
    ).fetchone()[0]


def file_rows(con, root: str) -> list[int]:
    """Rows in each written data file, from the parquet footers."""
    files = parquet_files(f"{root}/data")
    return [
        r[0]
        for r in con.execute(
            "SELECT sum(n) FROM (SELECT DISTINCT file_name, row_group_id, "
            f"row_group_num_rows AS n FROM parquet_metadata({_list(files)})) "
            "GROUP BY file_name"
        ).fetchall()
    ]
