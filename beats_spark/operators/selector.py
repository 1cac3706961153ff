"""Output selector: ordered first-match-wins routing rules → sink Column.

Re-implements the semantics of the reference's ``outil.Selector``
(libbeat/outputs/outil/select.go): expression kinds const, fmtstr,
conditional (``when:`` guard, select.go:344-349), mapping table with
default fallback (select.go:369-387), and rule list where the first
non-empty result wins (select.go:329-342). The compiled form is a
single ``coalesce(nullif(rule1,''), nullif(rule2,''), ..., default)``
column — pure Catalyst expressions, constant rules fold at plan time
(the reference does this by hand at select.go:159-169).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Mapping

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.conditions import compile_condition
from ..functions.fmtstr import compile_fmtstr
from ..functions.memo import memo


@dataclass
class Rule:
    """One selector rule.

    value: fmtstr (or constant) producing the candidate sink key
    when: optional condition config gating the rule
    mappings: optional value→sink table applied to the fmtstr result
    default: mapping fallback when the result has no table entry
    """

    value: str
    when: Mapping[str, Any] | None = None
    mappings: Mapping[str, str] | None = None
    default: str | None = None


def compile_rule(rule: Rule, ts_col: str = "ts", df=None) -> Column:
    """Reference semantics (select_test.go table): an empty/NULL key
    result never selects; a mapping miss OR an empty mapping result
    falls through; a rule-level ``default`` catches all of those —
    with or without a mapping table. Pass ``df`` so schema-aware
    condition forms (array-element 'contains') activate in ``when:``
    guards."""
    expr = compile_fmtstr(rule.value, ts_col=ts_col, df=df)
    if rule.mappings:
        kv = []
        for k, v in rule.mappings.items():
            kv.extend([F.lit(k), F.lit(v)])
        expr = F.element_at(F.create_map(*kv), expr)
    expr = F.nullif(expr, F.lit(""))
    if rule.default is not None:
        expr = F.coalesce(expr, F.lit(rule.default))
    if rule.when is not None:
        expr = F.when(compile_condition(rule.when, df), expr)
    return expr


def compile_selector(
    rules: list[Rule | Mapping[str, Any]],
    default: str | None = None,
    ts_col: str = "ts",
    df=None,
) -> Column:
    """Ordered rule list → sink key Column (first non-empty wins),
    built once per rules, schema and JVM
    (:func:`~beats_spark.functions.memo.memo`): a warm
    ``Pipeline.transform`` or micro-batch reuses it."""
    schema = None if df is None else df.schema
    return memo(
        ("selector", repr(list(rules)), default, ts_col, schema),
        lambda: _selector(rules, default, ts_col, df),
    )


def _selector(rules, default, ts_col, df) -> Column:
    exprs: list[Column] = []
    for r in rules:
        if isinstance(r, Mapping):
            r = Rule(**r)
        # empty-string guarding happens inside compile_rule (so a
        # rule-level default survives); rule order = priority
        exprs.append(compile_rule(r, ts_col=ts_col, df=df))
    if default is not None:
        exprs.append(F.lit(default))
    return F.coalesce(*exprs).alias("sink")
