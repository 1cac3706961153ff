"""Seeded workload inputs.

``beats_spark.synth.synth_transcripts`` writes one pool table, once per
checkout, in a JVM that stops before any run is timed, so generation
never warms a measured JVM. A workload seed picks whole conversations
of the pool in a seeded random order until the input holds exactly
``rows`` rows (the last conversation picked is cut at a turn), so each
seed gets its own conversations, skew and malformed rows, with no JVM.
The stream workload lands small slices of the same input in
conversation order. Both are written here with pyarrow, and kept with
the DuckDB expectation of each parse stage for the ``KEEP_SEEDS`` most
recently derived seeds.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from pathlib import Path

from . import checks

#: rows of the pool the seeded inputs are drawn from
POOL_ROWS = 1_600_000
#: files of an input table; fixed, so the inputs do not depend on the host
TABLE_FILES = 8
#: the stream lands slices of this many rows, taken in conversation order
STREAM_SLICE_ROWS = 200
#: enough slices for the warm-up and a 60 s window
STREAM_SLICES = 160
#: seeds kept in the cache; deriving one more drops the oldest
KEEP_SEEDS = 32


@dataclass
class Inputs:
    root: Path

    @property
    def table(self) -> str:
        return str(self.root / "table")

    @property
    def table_files(self) -> list[str]:
        return checks.parquet_files(self.table)

    @property
    def slices(self) -> list[Path]:
        return sorted((self.root / "slices").glob("slice-*.parquet"))

    @property
    def rows(self) -> int:
        return self._meta()["rows"]

    @property
    def input_bytes(self) -> int:
        return sum(os.path.getsize(f) for f in self.table_files)

    def _meta(self) -> dict:
        return json.loads((self.root / "meta.json").read_text())

    def expected(self, con, parse: str) -> checks.Digests:
        path = self.root / f"expect-{parse}.json"
        if not path.exists():
            want = checks.expected_digests(con, self.table_files, parse)
            path.write_text(json.dumps(want))
        return {k: tuple(v) for k, v in json.loads(path.read_text()).items()}


def _pool(work: Path) -> Path:
    return work / "inputs" / f"pool-rows{POOL_ROWS}"


def pool_ready(work: Path) -> bool:
    return (_pool(work) / "_DONE").exists()


def make_pool(spark, work: Path) -> None:
    """Write the pool with ``spark``, unless it is there already."""
    if pool_ready(work):
        return
    from beats_spark.synth import synth_transcripts

    pool = _pool(work)
    shutil.rmtree(pool, ignore_errors=True)
    synth_transcripts(spark, POOL_ROWS).write.parquet(str(pool / "table"))
    (pool / "_DONE").touch()


def prepare(work: Path, seed: int, rows: int) -> Inputs:
    """The inputs of ``seed``, drawn from the pool unless cached."""
    root = work / "inputs" / (
        f"seed{seed}-rows{rows}-files{TABLE_FILES}-slices{STREAM_SLICE_ROWS}"
    )
    if (root / "_DONE").exists():
        return Inputs(root)
    if not pool_ready(work):
        raise RuntimeError(f"no input pool under {work}")
    shutil.rmtree(root, ignore_errors=True)
    root.mkdir(parents=True)
    older = sorted(
        (p for p in root.parent.glob("seed*") if p != root),
        key=lambda p: p.stat().st_mtime,
    )
    for p in older[: max(0, len(older) + 1 - KEEP_SEEDS)]:
        shutil.rmtree(p, ignore_errors=True)

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pool = pa.concat_tables(
        pq.read_table(f) for f in checks.parquet_files(str(_pool(work) / "table"))
    )
    if rows > pool.num_rows:
        raise ValueError(f"{rows} rows asked of a {pool.num_rows}-row pool")
    counts = pc.value_counts(pool.column("conv_id")).flatten()
    convs = counts[0].to_numpy(zero_copy_only=False)
    order = np.argsort(convs)  # a fixed order before the seeded shuffle
    convs = convs[order]
    n = counts[1].to_numpy()[order]
    rng = np.random.default_rng(seed)
    perm = rng.permutation(len(convs))
    cum = np.cumsum(n[perm])
    k = int(np.searchsorted(cum, rows))  # conversations perm[:k + 1]
    last, keep_turns = convs[perm[k]], rows - (int(cum[k - 1]) if k else 0)
    picked = pc.is_in(pool.column("conv_id"), value_set=pa.array(convs[perm[:k]]))
    cut = pc.and_(
        pc.equal(pool.column("conv_id"), last),
        pc.less(pool.column("turn_idx"), keep_turns),
    )
    table = pool.filter(pc.or_(picked, cut))
    # Spark writes INT96 timestamps; the inputs carry UTC-adjusted micros
    # so that Spark reads them as TIMESTAMP, not TIMESTAMP_NTZ
    i = table.schema.get_field_index("ts")
    table = table.set_column(
        i, "ts", table.column("ts").cast(pa.timestamp("us", tz="UTC"))
    )

    # the table: rows in seeded random order, as files of equal size
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    (root / "table").mkdir()
    per = -(-table.num_rows // TABLE_FILES)
    for f in range(TABLE_FILES):
        pq.write_table(
            table.slice(f * per, per), root / "table" / f"part-{f:02d}.parquet"
        )
    # a shipper's trickle carries a few conversations per file; slices
    # of interleaved rows would each write a file per sink × bucket
    table = table.sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])
    (root / "slices").mkdir()
    for s in range(STREAM_SLICES):
        pq.write_table(
            table.slice(s * STREAM_SLICE_ROWS, STREAM_SLICE_ROWS),
            root / "slices" / f"slice-{s:03d}.parquet",
        )
    (root / "meta.json").write_text(json.dumps({"rows": table.num_rows, "seed": seed}))
    (root / "_DONE").touch()
    return Inputs(root)
