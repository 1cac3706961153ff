"""The headline job: PAPER.md's shipper chain over synthetic transcripts.

  harvester   ← the transcripts scan (the caller's DataFrame)
  processors  ← dissect on ``synth.TOK_LOGFMT``, then the role and
                tool lookups
  selector    ← three ordered routes, then the ``default`` sink
  outputs     ← ``Pipeline.run``'s fan-out write
  registrar   ← ``Pipeline.run``'s manifest and metrics commit

This is the one definition: ``jobs/parse_route_job.py`` runs it,
``bench.py`` times its ``transform``, and ``__spark_entry__.entry``
tallies it.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..operators.actions import Dissect
from ..operators.enrich import BroadcastLookup, dim_roles, dim_tools
from ..operators.selector import Rule
from ..synth import TOK_LOGFMT
from .pipeline import Pipeline

#: the parse step; it emits level, timestamp, caller and message
PARSE = Dissect(tokenizer=TOK_LOGFMT, field="text")

#: routing rules (outil.Selector semantics: ordered, first non-empty wins)
ROUTES = (
    Rule(value="errors", when={"equals": {"level": "error"}}),
    Rule(value="tool-%{[tool]}", when={"not": {"equals": {"tool": "none"}}}),
    Rule(value="conv-%{[role]}"),
)


def headline_pipeline(spark: SparkSession, n_buckets: int = 64) -> Pipeline:
    """The headline pipeline; the dims are built fresh on ``spark``."""
    return Pipeline(
        processors=[
            PARSE,
            BroadcastLookup(dim=dim_roles(spark), on=["role"]),
            BroadcastLookup(dim=dim_tools(spark), on=["tool"]),
        ],
        routes=ROUTES,
        default_sink="default",
        n_buckets=n_buckets,
    )
