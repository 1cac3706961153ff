#!/usr/bin/env python3
"""perfbench: end-to-end and per-layer benchmark of beats_spark.

Run from the repository root:

    python3 perfbench/run.py --workload logfmt_batch --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics (a separate, slower invocation with the Spark event log on).
Every metric is printed as ``name value unit``; the last line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. See
``perfbench/README.md`` for the workloads and the metric definitions.
"""

from __future__ import annotations

import argparse
import functools
import json
import math
import os
import shutil
import sys
import time
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_work"
#: every wait in one invocation ends by then (seconds after start)
BUDGET_S = 150
#: the prefix passes, in order; each runs every earlier layer too
LAYER_ORDER = ["scan", "parse", "enrich", "route", "write", "commit"]
#: stream window of a traced batch invocation, as a share of ``--seconds``
TRACED_STREAM_SHARE = 0.5

#: printed next to the metrics when a run has them, never gated
DIAGNOSTIC_UNITS = {
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "ops_failed_frac": "ratio",
    "latency_samples": "count",
    "scaling_eff_1to4": "ratio",
    "first_run_s": "s",
    "jvm_peak_rss_mb": "MB",
}


def gated_units(kind: str) -> dict[str, str]:
    """``{name: unit}`` of the ``end_to_end`` or ``per_layer`` metrics
    that ``BENCHMARK.json`` gates."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def program_present() -> bool:
    return (ROOT / "beats_spark" / "plans" / "pipeline.py").is_file() and (
        ROOT / "jobs" / "parse_route_job.py"
    ).is_file()


def zip_program(dest: Path) -> Path:
    """The ``--py-files`` archive Python workers import beats_spark from."""
    out = dest / "beats_spark.zip"
    with zipfile.ZipFile(out, "w") as zf:
        for p in sorted((ROOT / "beats_spark").rglob("*.py")):
            zf.write(p, p.relative_to(ROOT))
    return out


def output_figures(con, root: str, parse: str) -> dict[str, float]:
    """Per-layer counts read back from a written output root."""
    from perfbench import checks

    rows = checks.file_rows(con, root)
    files = checks.parquet_files(f"{root}/data")
    return {
        "actions.parse_ok_ratio": checks.parse_ok_ratio(con, root, parse),
        "enrich.unmatched_rows": checks.unmatched_rows(con, root),
        "selector.sinks": len(checks.written_digests(con, root)),
        "router.files": len(files),
        "router.bytes_written": sum(os.path.getsize(f) for f in files),
        "router.file_rows_max_over_mean": max(rows) / (sum(rows) / len(rows)),
    }


def engine_figures(ev: dict, run_group: str, write_group: str) -> dict[str, float]:
    zero = {"task_busy_s": 0.0, "gc_s": 0.0, "stages": 0, "tasks": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "task_s_max_over_median": 0.0}
    run, write = ev.get(run_group, zero), ev.get(write_group, zero)
    return {
        "spark.task_busy_s": run["task_busy_s"],
        "spark.gc_s": run["gc_s"],
        "spark.stages": run["stages"],
        "spark.tasks": run["tasks"],
        "router.shuffle_write_bytes": write["shuffle_write_bytes"],
        "router.spill_bytes": write["spill_bytes"],
        "router.task_s_max_over_median": write["task_s_max_over_median"],
    }


def runner(ctx):
    """``measure.batch_run`` bound to this invocation's inputs and checks."""
    from perfbench import measure

    return functools.partial(
        measure.batch_run, inputs=ctx["inputs"], want=ctx["want"], con=ctx["con"],
        runs=ctx["runs"], ledger=ctx["ledger"], tracer=ctx["tracer"],
    )


def stream(ctx, spark, pipeline, tag: str, seconds: float, warmup: int, query=None) -> dict:
    """Feed one closed-loop stream of ``pipeline`` and account every landed
    file; ``query`` is an already started query on ``run_dir/tag``."""
    from perfbench import measure

    d = ctx["run_dir"] / tag
    staged = measure.stage_slices(ctx["inputs"], d)
    if query is None:
        query = measure.start_stream(spark, pipeline, d)
    obs = measure.feed_stream(
        query, staged, d, seconds, ctx["deadline"], ctx["tracer"], warmup=warmup
    )
    measure.account_stream(ctx["con"], ctx["parse"], obs, d, ctx["ledger"])
    obs["out"] = str(d / "out")
    return obs


def layer_passes(ctx, spark, stages) -> dict[str, float]:
    """The prefix passes (event log on) and the figures read back from
    the committed root of the last one."""
    from perfbench import measure, stats
    from beats_spark.operators.manifest import read_done_parts

    keep = ctx["runs"].fresh()
    totals = measure.prefix_passes(
        spark, stages, ctx["inputs"], ctx["want"], ctx["con"], ctx["runs"],
        ctx["ledger"], ctx["tracer"], keep,
    )
    t = time.perf_counter()
    read_done_parts(spark, str(keep))
    read_done_s = time.perf_counter() - t
    manifest_rows = ctx["con"].execute(
        f"SELECT count(*) FROM parquet_scan('{keep}/_manifest/*.parquet')"
    ).fetchone()[0]
    self_t = stats.prefix_self_times([(k, totals[k]) for k in LAYER_ORDER])
    return {
        "sources.scan_s": self_t["scan"],
        "actions.parse_s": self_t["parse"],
        "actions.udf_parse_s": totals["udf_parse"] - totals["scan"],
        "enrich.lookup_s": self_t["enrich"],
        "selector.route_s": self_t["route"],
        "router.write_s": self_t["write"],
        "manifest.commit_s": self_t["commit"],
        "manifest.read_done_s": read_done_s,
        "manifest.rows": manifest_rows,
        "sources.rows": ctx["inputs"].rows,
        "sources.input_bytes": ctx["inputs"].input_bytes,
        "layers_total_s": totals["commit"],
        "keep": str(keep),
    }


def run_batch(ctx, wl, seconds: float) -> dict[str, float]:
    """End-to-end figures of a batch workload: set-up, the first run,
    then warm runs for ``seconds``."""
    from perfbench import measure, stats

    engine = ctx["engine"]
    setup, spark, stages, _ = measure.timed_setup(engine, ctx["cores"], wl)
    ctx["setups"].append(setup)
    run = runner(ctx)
    first = run(spark, stages[2], tag="first")
    warm = measure.batch_window(run, spark, stages[2], seconds)
    run_s = stats.median(warm) if warm else math.inf
    rss = engine.peak_rss_mb()
    engine.stop()
    return {
        "turns_per_s": ctx["inputs"].rows / run_s,
        "first_run_s": first or math.inf,
        "jvm_peak_rss_mb": rss,
        "latency_p50_s": run_s,
        "latency_tail_s": stats.tail(warm)[0] if warm else math.inf,
        "latency_samples": len(warm),
    }


def run_stream(ctx, wl, seconds: float) -> dict[str, float]:
    """End-to-end figures of the stream workload: set-up with query
    start, the warm-up batches, then ``seconds`` of closed-loop landings."""
    from perfbench import measure

    engine = ctx["engine"]
    setup, spark, stages, query = measure.timed_setup(
        engine, ctx["cores"], wl, ctx["run_dir"] / "s1"
    )
    ctx["setups"].append(setup)
    obs = stream(ctx, spark, stages[2], "s1", seconds, measure.WARMUP_BATCHES, query)
    fig = measure.stream_figures(obs)
    fig["jvm_peak_rss_mb"] = engine.peak_rss_mb()
    engine.stop()
    return fig


def run_traced(ctx, wl, seed: int, seconds: float) -> dict[str, float]:
    """Per-layer figures from one JVM running several SparkContexts in
    turn: an untraced warm-up run; with the event log on, the prefix
    passes and a stream; an untraced warm run, the wall time the layers
    must account for; on batch workloads, the single-threaded baseline."""
    from perfbench import inputs, measure
    from perfbench.engine import read_event_log
    from perfbench.workloads import BATCH_ROWS, build_stages

    engine, tracer, cores = ctx["engine"], ctx["tracer"], ctx["cores"]
    with tracer.span("setup"):
        spark = engine.session(cores)
    # nothing here is timed from a cold JVM, so this JVM makes the inputs
    with tracer.span("inputs"):
        inputs.make_pool(spark, WORK)
        inp = ctx["inputs"] = inputs.prepare(WORK, seed, BATCH_ROWS)
    ctx["want"] = inp.expected(ctx["con"], wl.parse)
    run = runner(ctx)
    run(spark, build_stages(spark, wl.parse)[2], tag="first")

    ev_dir = ctx["run_dir"] / "eventlog"
    spark = engine.session(cores, ev_dir)
    stages = build_stages(spark, wl.parse)
    layers = layer_passes(ctx, spark, stages)
    share = 1.0 if wl.kind == "stream" else TRACED_STREAM_SHARE
    with tracer.span("stream:traced"):
        obs = stream(ctx, spark, stages[2], "traced", seconds * share, warmup=1)
    sfig = measure.stream_figures(obs)

    # after the passes, so that both see the same JIT state
    spark = engine.session(cores)
    run_s = run(spark, build_stages(spark, wl.parse)[2], tag="warm") or math.inf
    traced_tps = inp.rows / layers["layers_total_s"]
    figures = {
        **{k: v for k, v in layers.items() if "." in k},
        **{k: v for k, v in sfig.items() if k.startswith(("streaming.", "generator."))},
        "trace.turns_per_s": traced_tps,
        "trace.overhead_turns_per_s": traced_tps - inp.rows / run_s,
        "trace.residual_s": run_s - layers["layers_total_s"],
    }
    # the diagnostic baseline runs only while it fits in the time budget
    cores_lo = max(1, cores // 4)
    if wl.kind == "batch" and time.perf_counter() + 3 * run_s < ctx["deadline"]:
        with tracer.span("single_thread"):
            spark = engine.session(cores_lo)
            lo = run(spark, build_stages(spark, wl.parse)[2], tag="single")
        if lo:
            figures["scaling_eff_1to4"] = (lo / run_s) / (cores / cores_lo)
    engine.stop()

    # the workload's own write: the whole-run pass, or the traced stream
    ev = read_event_log(ev_dir)
    if wl.kind == "stream":
        figures.update(output_figures(ctx["con"], obs["out"], wl.parse))
        figures.update(engine_figures(ev, obs["run_id"], obs["run_id"]))
    else:
        figures.update(output_figures(ctx["con"], layers["keep"], wl.parse))
        figures.update(engine_figures(ev, "commit", "write"))
    return figures


def make_pool(ctx, wl) -> None:
    """The JVM that writes the input pool, on the first run in a
    checkout: it takes one cold set-up sample first, and stops before
    any run."""
    from perfbench import inputs, measure

    setup, spark, _, query = measure.timed_setup(
        ctx["engine"], ctx["cores"], wl, ctx["run_dir"] / "pool"
    )
    ctx["setups"].append(setup)
    if query is not None:
        query.stop()
    inputs.make_pool(spark, WORK)
    ctx["engine"].stop()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not program_present():
        print(
            f"perfbench: the program (beats_spark/, jobs/) is not under {ROOT}",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, str(ROOT))
    import duckdb

    from perfbench import inputs, stats
    from perfbench.engine import Engine
    from perfbench.measure import Runs
    from perfbench.trace import Tracer
    from perfbench.workloads import BATCH_ROWS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    t_start = time.perf_counter()
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    engine = Engine(run_dir, zip_program(run_dir))
    tracer = Tracer(bool(args.trace))
    ledger = stats.Ledger()
    con = duckdb.connect()
    cores = len(os.sched_getaffinity(0))
    ctx = {
        "engine": engine, "con": con, "ledger": ledger, "tracer": tracer,
        "runs": Runs(run_dir), "cores": cores, "run_dir": run_dir,
        "deadline": t_start + BUDGET_S, "parse": wl.parse, "setups": [],
    }
    try:
        if args.trace:
            figures = run_traced(ctx, wl, args.seed, args.seconds)
        else:
            if not inputs.pool_ready(WORK):
                make_pool(ctx, wl)
            inp = ctx["inputs"] = inputs.prepare(WORK, args.seed, BATCH_ROWS)
            ctx["want"] = inp.expected(con, wl.parse)
            run = run_batch if wl.kind == "batch" else run_stream
            figures = run(ctx, wl, args.seconds)
            figures["setup_s"] = stats.median(ctx["setups"])
    finally:
        engine.stop()
        con.close()
        tracer.dump(WORK / "traces" / f"{wl.name}-seed{args.seed}.json")
        shutil.rmtree(run_dir, ignore_errors=True)

    units = gated_units("per_layer" if args.trace else "end_to_end")
    host = {
        "host.nproc": os.cpu_count(),
        "cores_used": cores,
        "spark": _version("pyspark"),
        "pyarrow": _version("pyarrow"),
        "duckdb": _version("duckdb"),
        "input_rows": ctx["inputs"].rows,
        "input_bytes": ctx["inputs"].input_bytes,
        "seed": args.seed,
        "workload": wl.name,
        "setup_samples": len(ctx["setups"]),
        "wall_s": round(time.perf_counter() - t_start, 1),
    }
    print(json.dumps(host))
    values = {k: float(figures[k]) for k in units}
    for name, unit in units.items():
        print(f"{name:34s} {values[name]:>16.6g} {unit}")
    figures["ops_failed_frac"] = ledger.failed_frac
    for name, unit in DIAGNOSTIC_UNITS.items():
        if name in figures:
            print(f"{name:34s} {figures[name]:>16.6g} {unit}")
    for reason in ledger.reasons[:10]:
        print(f"FAILED: {reason}", file=sys.stderr)
    finite = all(math.isfinite(v) for v in values.values())
    print(
        json.dumps(
            {
                "correct": ledger.failed == 0 and finite,
                # a run that attempted nothing reads as one failed operation
                "attempted": max(ledger.attempted, 1),
                "failed": ledger.failed if ledger.attempted else 1,
                # a metric of a failed operation is not finite; JSON gets 0
                "metrics": {
                    k: {"value": v if math.isfinite(v) else 0.0, "unit": units[k]}
                    for k, v in values.items()
                },
            }
        )
    )
    return 0


def _version(mod: str) -> str:
    return __import__(mod).__version__


if __name__ == "__main__":
    sys.exit(main())
