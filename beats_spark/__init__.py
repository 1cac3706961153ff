"""beats_spark — a PySpark-native log/telemetry pipeline engine.

A from-scratch rebuild of the semantics of the beats shipper pipeline
(reference: gaxuhongyu/beats, a libbeat/filebeat-era fork) expressed as
idiomatic Spark: parse (dissect/grok) → enrich (broadcast lookups) →
route (selector → sink column) → aggregate (pipeline metrics), over
tables of multi-turn conversation transcripts.

Design principles (see SURVEY.md):
- DataFrame/SQL first; Catalyst does pushdown/pruning/reordering.
- Vectorized pandas/Arrow UDFs only where built-ins can't express the
  semantics; dissect, modifiers included, lowers to JVM-side
  ``position``/``substr`` expressions — no Python in the hot loop.
- Fan-out writes are a single ``partitionBy("sink")`` pass, not N
  filtered scans.
- Checkpoint/resume via a manifest table (registrar semantics).
"""

__version__ = "0.1.0"
