"""Workload definitions: the pipeline each workload runs, split into the
layers the traced run times, and the routing each workload's expected
output is derived from.

Pipelines are built from the program's public API at set-up time. The
expectation side (``sink_sql``) is written independently in DuckDB SQL
from the input columns alone, so a routing or parse bug in the program
cannot also bend the expectation.
"""

from __future__ import annotations

from dataclasses import dataclass

#: input rows of every batch workload
BATCH_ROWS = 400_000
#: the production job's ``--buckets``, scaled to the input: 16 buckets
#: write about 110 files of 3,600 rows where 64 write 430 of 900, and
#: the 64-bucket fan-out made every run cost about 15 s on a 4-vCPU VM
N_BUCKETS = 16


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "batch" or "stream"
    parse: str  # "logfmt", "tool" or "none"


#: why each was chosen: perfbench/README.md
WORKLOADS = {
    w.name: w
    for w in (
        Workload("logfmt_batch", "batch", "logfmt"),
        Workload("stream_trickle", "stream", "logfmt"),
        Workload("tool_udf_batch", "batch", "tool"),
        Workload("passthrough_batch", "batch", "none"),
    )
}


def build_stages(spark, parse: str) -> tuple[list, list, object]:
    """Return ``(parse_processors, enrich_processors, pipeline)``.

    ``logfmt`` is ``jobs.parse_route_job._default_pipeline`` itself,
    with ``N_BUCKETS`` buckets.
    ``tool`` swaps in the tool tokenizer under a ``t_`` prefix (its
    ``tool`` key would clash with the input column) and routes errors on
    the parsed return code. ``none`` drops the dissect and the rule that
    needs its output.
    """
    from beats_spark.operators.actions import Dissect
    from beats_spark.operators.selector import Rule
    from beats_spark.plans.pipeline import Pipeline
    from beats_spark.synth import TOK_TOOL
    from jobs.parse_route_job import _default_pipeline

    base = _default_pipeline(spark, N_BUCKETS)
    procs = list(base.processors)
    parse_procs, enrich_procs = procs[:1], procs[1:]
    routes = list(base.routes)
    if parse == "tool":
        parse_procs = [Dissect(tokenizer=TOK_TOOL, field="text", target_prefix="t_")]
        # the kernel keeps rc's right padding ("2   ")
        routes[0] = Rule(value="errors", when={"regexp": {"t_rc": "^2 *$"}})
    elif parse == "none":
        parse_procs = []
        routes = routes[1:]
    elif parse != "logfmt":
        raise ValueError(f"unknown parse stage {parse!r}")
    pipeline = Pipeline(
        processors=parse_procs + enrich_procs,
        routes=routes,
        default_sink=base.default_sink,
        n_buckets=base.n_buckets,
    )
    return parse_procs, enrich_procs, pipeline


_TOOL_OR_ROLE = (
    "CASE WHEN tool IS NOT NULL AND tool <> 'none' THEN 'tool-' || tool "
    "WHEN role IS NOT NULL THEN 'conv-' || role ELSE 'default' END"
)

# dissect of 'level=%{level} ts=%{timestamp} caller=%{caller} msg="%{message}"':
# each key ends at the first occurrence of its delimiter
_LOGFMT_RE = r'^level=(.*?) ts=(.*?) caller=(.*?) msg="(.*?)"'
# 'TOOL %{tool} args=%{args} rc=%{rc->} dur_ms=%{dur}': rc ends at the
# first space of its right padding
_TOOL_RE = r"^TOOL (.*?) args=(.*?) rc=(.*?) +dur_ms=(.*)"


def sink_sql(parse: str) -> str:
    """DuckDB expression of the expected sink of an input row."""
    if parse == "logfmt":
        err = (
            f"regexp_matches(text, '{_LOGFMT_RE}') "
            f"AND regexp_extract(text, '{_LOGFMT_RE}', 1) = 'error'"
        )
    elif parse == "tool":
        err = (
            f"regexp_matches(text, '{_TOOL_RE}') "
            f"AND regexp_extract(text, '{_TOOL_RE}', 3) = '2'"
        )
    else:
        return _TOOL_OR_ROLE
    return f"CASE WHEN coalesce({err}, FALSE) THEN 'errors' ELSE {_TOOL_OR_ROLE} END"
