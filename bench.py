"""Benchmark harness.

Main mode runs three phases, the gate-critical ones first, so a run
cut short by SIGTERM/SIGINT still prints what it has as the one JSON
line (marked ``"partial": true``):
  1. headline: the parse→route throughput (turns/s, the BASELINE.json
     metric) of ``beats_spark.plans.headline`` over a
     ``$BENCH_ROWS``-row synthetic transcripts parquet, on
     ``local[$SPARK_GRAFT_CPUS]`` (default: every core this process
     may use); one warm pass, then the best of three timed passes,
     each on a fresh DataFrame (``BENCH_HEADLINE=0`` skips);
  2. scaling: the same job at ``local[1]`` and ``local[4]`` in fresh
     subprocesses, three interleaved pairs that alternate which level
     runs first; the line reports the median-efficiency pair
     (``BENCH_SCALING=0`` skips);
  3. queries: each ``__spark_entry__.queries()`` entry at
     ``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1 test data), best of
     two passes, then each merged row's variants once
     (``BENCH_QUERIES=0`` skips).

Prints ONE COMPACT JSON line of at most ``LINE_BUDGET`` bytes, because
the harness keeps only the last ~2,000 characters of output (the r3
artifact's verbose line outgrew that and recorded ``"parsed": null``):
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {...}, "sf": ..., "throughput_turns_per_sec": ...,
   "scaling": {"cores_lo": 1, "cores_hi": 4, "efficiency": ...}}
If the per-query map would overflow the budget, the line carries
``queries_total_sec`` and ``n_queries`` instead. The full record
(every scaling pair, the headline's per-sink tally, per-variant
timings) goes to ``BENCH_DETAIL.json`` at the repo root.

Worker mode (used internally): ``python bench.py --one <cores> <path>``
runs the headline job over the parquet at <path> and prints one
``BENCH_ONE`` JSON line with the best pass's seconds.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from beats_spark.session import DEFAULT_CPUS  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = DEFAULT_CPUS
BENCH_ROWS = int(os.environ.get("BENCH_ROWS", "32000000"))
#: N and 4N for the scaling evidence, over a fixed 4M-row input: the
#: ratio is what is measured, and 4M rows amortize the fixed costs
CORES_LO, CORES_HI = 1, 4
SCALING_ROWS = 4_000_000
SCALING_PAIRS = 3
#: a warm + 3-pass 1-core run over 4M rows takes ~1-2 min
RUN_TIMEOUT_S = 300

DETAIL_PATH = os.path.join(REPO, "BENCH_DETAIL.json")
LINE_BUDGET = 1800

#: scaling keys carried on the compact line; every pair is in the
#: detail file
_SCALING_COMPACT_KEYS = (
    "cores_lo", "cores_hi", "sec_lo", "sec_hi",
    "turns_per_sec_lo", "turns_per_sec_hi", "efficiency", "n_pairs",
)


def emit(out: dict) -> None:
    """Write the full record to BENCH_DETAIL.json and print the compact
    gate line. If the per-query map alone would blow the budget, the
    line carries the suite total and count instead."""
    try:
        with open(DETAIL_PATH, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError:
        pass  # never let the side file cost the gate line
    compact = {
        k: out[k]
        for k in (
            "metric", "value", "unit", "sf", "bench_rows",
            "throughput_turns_per_sec", "cpus", "partial",
        )
        if k in out
    }
    compact["queries"] = {
        k: round(v, 2) for k, v in out.get("queries", {}).items()
    }
    sc = out.get("scaling")
    if sc:
        compact["scaling"] = {
            k: sc[k] for k in _SCALING_COMPACT_KEYS if k in sc
        }
    if out.get("query_errors"):
        compact["n_query_errors"] = len(out["query_errors"])
    compact["detail"] = "BENCH_DETAIL.json"
    line = json.dumps(compact)
    if len(line) > LINE_BUDGET:
        q = compact.pop("queries")
        compact["queries_total_sec"] = round(sum(q.values()), 2)
        compact["n_queries"] = len(q)
        line = json.dumps(compact)
    print(line, flush=True)


#: the local synth input is a few hundred small parquet files; these
#: make the scan split per-file instead of bin-packing everything into
#: ~2 tasks (at 100 TB the table has thousands of natural splits and
#: the defaults are right — this is purely a small-input fix)
SPLIT_CONF = {
    "spark.sql.files.maxPartitionBytes": "4m",
    "spark.sql.files.openCostInBytes": "0",
}


def _headline_tally(spark, input_path: str):
    """The headline pipeline's ``transform`` plus a per-sink tally.

    The checksum folds every parsed and enriched column into the
    result, so Catalyst cannot prune the parse work away.
    """
    from pyspark.sql import functions as F

    from beats_spark.plans.headline import headline_pipeline

    routed = headline_pipeline(spark).transform(spark.read.parquet(input_path))
    return routed.groupBy("sink").agg(
        F.count("*").alias("n"),
        F.expr(
            "bit_xor(xxhash64(conv_id, turn_idx, level, caller, message,"
            " role_group, tool_family))"
        ).alias("chk"),
    )


def run_one(cores: int, input_path: str) -> dict:
    from beats_spark.session import build_session

    spark = build_session(f"bench-{cores}", cores=cores, extra_conf=SPLIT_CONF)
    # steady state: an untimed pass warms JIT, codegen and parquet
    # footers; each timed pass builds a fresh DataFrame, because a
    # second collect() of the same one is served from cache
    _headline_tally(spark, input_path).collect()
    elapsed = float("inf")
    for _ in range(3):
        t0 = time.monotonic()
        rows = _headline_tally(spark, input_path).collect()
        elapsed = min(elapsed, time.monotonic() - t0)
    spark.stop()
    return {
        "cores": cores,
        "sec": elapsed,
        "rows": sum(r["n"] for r in rows),
        "sinks": {r["sink"]: [r["n"], r["chk"]] for r in rows},
    }


def _ensure_synth_input(path: str, rows: int, partitions: int = 256) -> None:
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    from beats_spark.session import build_session
    from beats_spark.synth import synth_transcripts

    spark = build_session("bench-synth", cores=CPUS)
    synth_transcripts(spark, rows, seed=42, partitions=partitions).write.mode(
        "overwrite"
    ).parquet(path)
    spark.stop()


#: the running ``--one`` worker: a run cut short must stop it, or it
#: and its JVM keep loading whatever runs next
_worker: subprocess.Popen | None = None


def _run_worker(argv: list[str]) -> str | None:
    """Run ``argv`` in its own session, so one ``killpg`` stops it and
    everything it started; its stdout, or None on timeout."""
    global _worker
    _worker = subprocess.Popen(
        argv, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        cwd=REPO, start_new_session=True,
    )
    try:
        return _worker.communicate(timeout=RUN_TIMEOUT_S)[0]
    except subprocess.TimeoutExpired:
        _stop_worker()
        _worker.wait()
        return None
    finally:
        _worker = None


def _stop_worker() -> None:
    if _worker is not None and _worker.poll() is None:
        try:
            os.killpg(_worker.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _scaling_run(cores: int, path: str) -> dict | None:
    """One ``--one`` worker in a fresh JVM; None if it failed or timed
    out."""
    stdout = _run_worker([sys.executable, __file__, "--one", str(cores), path])
    for line in (stdout or "").splitlines():
        if line.startswith("BENCH_ONE "):
            return json.loads(line[len("BENCH_ONE "):])
    return None


def _scaling(out: dict, path: str) -> None:
    """Interleaved lo/hi pairs, alternating which level runs first so
    a drift in machine speed cannot favour one level. ``out`` is
    updated after every pair, for the partial emit."""
    lo, hi = CORES_LO, CORES_HI
    pairs: list[dict] = []
    for i in range(SCALING_PAIRS):
        order = (lo, hi) if i % 2 == 0 else (hi, lo)
        runs = {c: _scaling_run(c, path) for c in order}
        if not (runs[lo] and runs[hi]):
            failed = [c for c in order if not runs[c]]
            pairs.append({"order": list(order), "failed": failed})
        else:
            tp = {c: runs[c]["rows"] / runs[c]["sec"] for c in (lo, hi)}
            pairs.append({
                "cores_lo": lo,
                "cores_hi": hi,
                "order": list(order),
                "sec_lo": round(runs[lo]["sec"], 3),
                "sec_hi": round(runs[hi]["sec"], 3),
                "turns_per_sec_lo": round(tp[lo], 1),
                "turns_per_sec_hi": round(tp[hi], 1),
                "efficiency": round((tp[hi] / tp[lo]) / (hi / lo), 3),
            })
        done = sorted(
            (p for p in pairs if "efficiency" in p),
            key=lambda p: p["efficiency"],
        )
        median = done[(len(done) - 1) // 2] if done else {}
        out["scaling"] = {**median, "n_pairs": len(done), "pairs": list(pairs)}


def _queries(out: dict) -> None:
    from beats_spark.entry_dataops import variant_queries
    from beats_spark.session import build_session

    import __spark_entry__ as entry_mod

    spark = build_session("bench", cores=CPUS)
    qtimes = out["queries"]
    for name, fn in entry_mod.queries().items():
        best = float("inf")
        try:
            for _ in range(2):  # 1st pass warms codegen/JIT; best wins
                t0 = time.monotonic()
                fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
                best = min(best, time.monotonic() - t0)
        except Exception as exc:  # noqa: BLE001 - one bad query must
            # not cost the artifact its headline/scaling sections
            out.setdefault("query_errors", {})[name] = (
                f"{type(exc).__name__}: {exc}"[:300]
            )
            continue
        qtimes[name] = round(best, 3)
        out["value"] = round(sum(qtimes.values()) + out["headline_sec"], 3)

    # per-VARIANT timings for the merged registry rows (dedup_exact
    # carries doc+para+span+bloom, quantize_embeddings int8+pq+adc, …)
    # so a regression inside one variant stays visible without
    # un-merging registry rows — detail file only, never the gate line
    vtimes = out["query_variants"] = {}
    for name, fn in variant_queries().items():
        try:
            t0 = time.monotonic()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            vtimes[name] = round(time.monotonic() - t0, 3)
        except Exception as exc:  # noqa: BLE001
            vtimes[name] = f"{type(exc).__name__}: {exc}"[:120]
    spark.stop()


def _emit_on_signal(out: dict) -> None:
    """On SIGTERM/SIGINT, stop the scaling worker, print what ``out``
    holds so far as the one JSON line (``"partial": true``) and exit:
    an outer harness timeout still gets a line instead of nothing."""

    def _emit_and_exit(signum, frame):  # noqa: ARG001
        _stop_worker()
        out.setdefault("partial", True)
        emit(out)
        os._exit(0)

    signal.signal(signal.SIGTERM, _emit_and_exit)
    signal.signal(signal.SIGINT, _emit_and_exit)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--one":
        cores, path = int(sys.argv[2]), sys.argv[3]
        print("BENCH_ONE " + json.dumps(run_one(cores, path)))
        return

    def synth(rows: int, partitions: int) -> str:
        path = os.path.join(tempfile.gettempdir(), f"beats_spark_bench_{rows}")
        _ensure_synth_input(path, rows, partitions)
        return path

    out = {
        "metric": "parse_route_turns_per_sec",
        "value": 0.0,  # headline secs below; query suite adds to it
        "unit": "sec",
        "queries": {},
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "bench_rows": 0,
        "throughput_turns_per_sec": 0.0,
        "cpus": CPUS,
        "headline_sec": 0.0,
    }

    _emit_on_signal(out)

    if os.environ.get("BENCH_HEADLINE", "1") != "0":
        one = run_one(CPUS, synth(BENCH_ROWS, 256))
        out["headline_sec"] = out["value"] = round(one["sec"], 3)
        out["bench_rows"] = one["rows"]
        out["throughput_turns_per_sec"] = round(one["rows"] / one["sec"], 1)
        out["headline_sinks"] = one["sinks"]

    if os.environ.get("BENCH_SCALING", "1") != "0":
        _scaling(out, synth(SCALING_ROWS, 128))

    if os.environ.get("BENCH_QUERIES", "1") != "0":
        _queries(out)
    emit(out)


if __name__ == "__main__":
    main()
