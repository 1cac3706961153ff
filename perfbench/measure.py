"""Measurement procedures: timed batch runs, layer prefix passes and the
closed-loop stream.

Every timed pass builds a fresh DataFrame and writes to a fresh output
root, and its time counts only after its output passed the check.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import shutil
import time
from pathlib import Path

from . import checks, stats
from .workloads import N_BUCKETS, build_stages

now = time.perf_counter
#: rounds of the noop prefix passes
NOOP_ROUNDS = 2
#: the first warm run is still slower than the rest (the JIT is not done),
#: and the median of three or more never takes the slowest
MIN_WARM_RUNS = 3


class Runs:
    """Fresh output roots under one directory, removed after each check."""

    def __init__(self, base: Path):
        self.base = base
        self.n = 0

    def fresh(self) -> Path:
        self.n += 1
        return self.base / f"out{self.n:03d}"


def timed_setup(engine, cores: int, wl, stream_dir: Path | None = None):
    """Session plus pipeline construction, timed; for a stream workload
    also the start of its query on ``stream_dir``. Returns
    ``(seconds, spark, stages, query or None)``."""
    t = now()
    spark = engine.session(cores)
    stages = build_stages(spark, wl.parse)
    query = start_stream(spark, stages[2], stream_dir) if wl.kind == "stream" else None
    return now() - t, spark, stages, query


def batch_run(spark, pipeline, inputs, want, con, runs, ledger, tracer, tag):
    """One checked ``Pipeline.run``; returns its wall time, or None when
    it raised or its output failed the check."""
    root = runs.fresh()
    try:
        with tracer.span(f"pipeline.run:{tag}"):
            df = spark.read.parquet(inputs.table)
            t = now()
            pipeline.run(spark, df, str(root), run_id=f"{tag}{runs.n}")
            dt = now() - t
        with tracer.span("check"):
            errs = checks.check_batch_root(con, str(root), want, inputs.rows)
    except Exception as e:  # a raising run is a failed operation
        errs = [f"{type(e).__name__}: {e}"]
    shutil.rmtree(root, ignore_errors=True)
    if not ledger.record(not errs, f"{tag}: {errs[:3]}"):
        return None
    return dt


def batch_window(run, spark, pipeline, seconds: float) -> list[float]:
    """Closed loop of warm ``run`` calls until ``seconds`` have passed and
    at least ``MIN_WARM_RUNS`` ran; the wall times of the runs that
    passed their check."""
    times = []
    t0 = now()
    for k in itertools.count(1):
        dt = run(spark, pipeline, tag="warm")
        if dt is not None:
            times.append(dt)
        if k >= MIN_WARM_RUNS and now() - t0 >= seconds:
            return times


def prefix_passes(spark, stages, inputs, want, con, runs, ledger, tracer, keep: Path):
    """Layer prefix passes on fresh DataFrames, each in its own job group:
    scan, +parse, +enrich, +route (forced by a noop write), then
    ``write_fanout`` and the whole ``Pipeline.run``. An extra pass parses
    with the Arrow-UDF dissect tier. The noop passes run in
    ``NOOP_ROUNDS`` rounds and keep their fastest, so that a pass is not
    charged for JIT warm-up that the passes after it are spared. Returns
    cumulative seconds per layer and the seconds of the UDF pass; leaves
    the committed root at ``keep``."""
    from beats_spark.operators.actions import Dissect, apply_chain
    from beats_spark.operators.router import with_partition_id, with_row_hash, write_fanout
    from beats_spark.synth import TOK_TOOL

    parse_procs, enrich_procs, pipeline = stages
    sc = spark.sparkContext

    def scan():
        return with_partition_id(spark.read.parquet(inputs.table), N_BUCKETS)

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    write_root = runs.fresh()

    def write():
        write_fanout(with_row_hash(pipeline.transform(scan())), str(write_root / "data"))

    noop_passes = [
        ("scan", lambda: noop(scan())),
        ("parse", lambda: noop(apply_chain(scan(), parse_procs))),
        ("enrich", lambda: noop(apply_chain(scan(), parse_procs + enrich_procs))),
        ("route", lambda: noop(with_row_hash(pipeline.transform(scan())))),
        ("udf_parse", lambda: noop(apply_chain(
            scan(), [Dissect(tokenizer=TOK_TOOL, field="text", target_prefix="t_")]
        ))),
    ]
    write_passes = [
        ("write", write),
        ("commit", lambda: pipeline.run(spark, spark.read.parquet(inputs.table), str(keep))),
    ]
    totals: dict[str, float] = {}
    for name, fn in noop_passes * NOOP_ROUNDS + write_passes:
        sc.setJobGroup(name, name)
        with tracer.span(f"layer:{name}"):
            t = now()
            fn()
            totals[name] = min(totals.get(name, math.inf), now() - t)
    sc.setJobGroup("other", "other")
    errs = checks.diff_digests(want, checks.written_digests(con, str(write_root)))
    ledger.record(not errs, f"write pass: {errs[:3]}")
    shutil.rmtree(write_root, ignore_errors=True)
    errs = checks.check_batch_root(con, str(keep), want, inputs.rows)
    ledger.record(not errs, f"commit pass: {errs[:3]}")
    return totals


# -- stream ------------------------------------------------------------------

#: batches run, one landed file each, before the timed window
WARMUP_BATCHES = 2


def _checkpoint_log(ckpt: Path, sub: str) -> list[Path]:
    d = ckpt / sub
    if not d.is_dir():
        return []
    return [p for p in d.iterdir() if not p.name.startswith(".") and not p.name.endswith(".crc")]


def _source_entries(ckpt: Path) -> list[dict]:
    out = []
    for p in _checkpoint_log(ckpt, "sources/0"):
        for line in p.read_text().splitlines()[1:]:  # first line is the version
            if line.strip():
                out.append(json.loads(line))
    return out


def _commit_times(ckpt: Path) -> dict[int, float]:
    return {int(p.name): p.stat().st_mtime for p in _checkpoint_log(ckpt, "commits")}


def _committed(ckpt: Path) -> set[str]:
    batch_of = stats.file_batches(_source_entries(ckpt))
    done = _commit_times(ckpt)
    return {f for f, b in batch_of.items() if b in done}


def _wait_committed(ckpt: Path, names: set[str], deadline: float) -> bool:
    while now() < deadline:
        if names <= _committed(ckpt):
            return True
        time.sleep(0.05)
    return names <= _committed(ckpt)


def start_stream(spark, pipeline, run_dir: Path):
    """Start the query on an empty ``run_dir/in`` and return it once its
    first trigger has found nothing, so that the first file lands on a
    started query."""
    from beats_spark.streaming.job import run_stream

    (run_dir / "in").mkdir(parents=True, exist_ok=True)
    query = run_stream(
        spark, pipeline, str(run_dir / "in"), str(run_dir / "out"),
        str(run_dir / "ckpt"), available_now=False,
    )
    query.processAllAvailable()
    return query


def stage_slices(inputs, run_dir: Path) -> list[Path]:
    staged = run_dir / "staged"
    staged.mkdir(parents=True, exist_ok=True)
    out = []
    for src in inputs.slices:
        dst = staged / src.name
        shutil.copyfile(src, dst)
        out.append(dst)
    return out


def _land(src: Path, in_dir: Path) -> float:
    os.utime(src)
    os.rename(src, in_dir / src.name)
    return time.time()


def feed_stream(
    query, staged: list[Path], run_dir: Path, seconds: float, deadline: float, tracer,
    warmup: int = WARMUP_BATCHES,
):
    """Closed loop: land one file, wait until the batch that read it has
    committed, then land the next, so every micro-batch reads one file.
    The first ``warmup`` files warm the query; files then land until
    ``seconds`` have passed. Returns the raw observations."""
    in_dir, ckpt = run_dir / "in", run_dir / "ckpt"
    landed: dict[str, float] = {}
    t0 = None
    for k, src in enumerate(staged):
        if k == warmup:
            t0 = now()
        elif t0 is not None and now() - t0 >= seconds:
            break
        with tracer.span("stream:warmup" if t0 is None else "stream:file"):
            landed[src.name] = _land(src, in_dir)
            if not _wait_committed(ckpt, {src.name}, deadline):
                break
    progress = [json.loads(p.json) for p in query.recentProgress]
    run_id = str(query.runId)  # the job group of the query's batches
    query.stop()
    batch_of = stats.file_batches(_source_entries(ckpt))
    committed_at = _commit_times(ckpt)
    lat, missing = stats.file_latencies(landed, batch_of, committed_at)
    names = list(landed)
    return {
        "run_id": run_id,
        "warmup": names[:warmup],
        "landed": landed,
        "batch_of": batch_of,
        "committed_at": committed_at,
        "latency": {f: lat[f] for f in names[warmup:] if f in lat},
        "missing": missing,
        "progress": progress,
        "landed_files": [str(in_dir / n) for n in names],
    }


def stream_figures(obs: dict) -> dict[str, float]:
    """End-to-end and streaming-layer figures from one fed stream; NaN
    where the stream committed no batch to take them from."""
    nan = math.nan
    warm_batches = [obs["batch_of"][w] for w in obs["warmup"] if w in obs["batch_of"]]
    prog = {p["batchId"]: p for p in obs["progress"] if p.get("numInputRows", 0) > 0}
    timed = [p for b, p in sorted(prog.items()) if b > max(warm_batches, default=-1)]
    lat = list(obs["latency"].values())

    def p50(key):
        vals = [p["durationMs"].get(key, 0) for p in timed]
        return stats.median(vals) if vals else nan

    rates = [
        p["numInputRows"] / (p["durationMs"]["triggerExecution"] / 1000.0) for p in timed
    ]
    first = prog.get(min(warm_batches)) if warm_batches else None
    # how long the generator took to land the next file after a commit
    order = sorted(obs["landed"].items(), key=lambda kv: kv[1])
    lags = [
        t - obs["committed_at"][obs["batch_of"][prev]]
        for (prev, _), (_, t) in zip(order, order[1:])
        if obs["batch_of"].get(prev) in obs["committed_at"]
    ]
    return {
        "turns_per_s": stats.median(rates) if rates else nan,
        "first_run_s": first["durationMs"]["triggerExecution"] / 1000.0 if first else nan,
        "latency_p50_s": stats.median(lat) if lat else nan,
        "latency_tail_s": stats.tail(lat)[0] if lat else nan,
        "latency_samples": len(lat),
        "streaming.batches": len(timed),
        "streaming.trigger_ms_p50": p50("triggerExecution"),
        "streaming.add_batch_ms_p50": p50("addBatch"),
        "streaming.plan_ms_p50": p50("queryPlanning"),
        "streaming.offset_ms_p50": p50("latestOffset"),
        "streaming.wal_ms_p50": p50("walCommit"),
        "generator.lag_s": max(lags, default=nan),
    }


def account_stream(con, parse: str, obs: dict, run_dir: Path, ledger) -> None:
    """One operation per landed file: it fails if it never committed, or
    if the stream's sinks differ from the expectation over the landed
    files (a mismatch cannot be pinned on one file, so it fails all)."""
    want = checks.expected_digests(con, obs["landed_files"], parse)
    errs = checks.diff_digests(want, checks.written_digests(con, str(run_dir / "out")))
    for path in obs["landed_files"]:
        name = Path(path).name
        if name in obs["missing"]:
            ledger.record(False, f"{name} not committed")
        else:
            ledger.record(not errs, f"stream output: {errs[:3]}")
