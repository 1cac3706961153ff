"""YAML pipeline config → compiled Pipeline.

The reference is configured in YAML: an ordered ``processors`` list
(each entry ``{name: {params...}}`` with an optional ``when`` guard —
libbeat/processors/processor.go + conditionals.go) and an output
selector (``key``/``keys`` rule list with ``when``/``mappings``/
``default`` — outil.BuildSelectorFromConfig, select.go:111-184). This
module accepts the same shape and compiles it to a
:class:`~beats_spark.plans.pipeline.Pipeline`, so a filebeat-style
config ports with renames only (es `index:` / kafka `topic:` →
``key:``).

Example::

    processors:
      - dissect:
          tokenizer: 'level=%{level} msg="%{message}"'
          field: text
      - drop_event:
          when:
            equals: {level: debug}
      - add_tags:
          tags: [shipped]
    output:
      default: misc
      n_buckets: 64
      keys:
        - key: errors
          when:
            equals: {level: error}
        - key: '%{[role]}'
          mappings: {user: humans}
          default: rest

Config errors raise :class:`ConfigError` at compile time — the
reference validates at startup (actions/checks.go), never per event.
"""

from __future__ import annotations

from typing import Any, Mapping, Sequence

from .operators import actions as A
from .operators import metadata as _Meta
from .operators.enrich import DnsEnrich
from .operators.ingest import IngestProcessor
from .operators.selector import Rule
from .plans.pipeline import Pipeline


class ConfigError(ValueError):
    pass


#: processor name (the reference's registry name, registry.go:54) →
#: constructor. Params pass through by keyword.
_PROCESSORS: dict[str, type] = {
    "add_fields": A.AddFields,
    "add_labels": A.AddLabels,
    "add_tags": A.AddTags,
    "add_locale": A.AddLocale,
    "community_id": A.CommunityID,
    "copy_fields": A.CopyFields,
    "decode_json_fields": A.DecodeJsonFields,
    "dissect": A.Dissect,
    "drop_event": A.DropEvent,
    "drop_fields": A.DropFields,
    "extract_field": A.ExtractField,
    "grok": A.Grok,
    "include_fields": A.IncludeFields,
    "rename": A.Rename,
    "truncate_fields": A.TruncateFields,
    "dns": DnsEnrich,
    "ingest_pipeline": IngestProcessor,
    # metadata enrichers: config carries the inventory rows inline
    # (containers:/pods:/processes:), materialized as broadcast dims
    "add_docker_metadata": _Meta.AddDockerMetadata,
    "add_kubernetes_metadata": _Meta.AddKubernetesMetadata,
    "add_process_metadata": _Meta.AddProcessMetadata,
}


def compile_processor(entry: Mapping[str, Any]) -> A.Processor:
    """One ``{name: {params...}}`` entry → Processor; a ``when`` param
    wraps it in the conditional guard (conditionals.go:59-91)."""
    if not isinstance(entry, Mapping) or len(entry) != 1:
        raise ConfigError(f"processor entry must be one {{name: params}}: {entry!r}")
    ((name, params),) = entry.items()
    params = dict(params or {})
    when = params.pop("when", None)

    if name == "if":
        cond = params.pop("condition", None) or when
        then = [compile_processor(p) for p in params.pop("then", [])]
        otherwise = [compile_processor(p) for p in params.pop("else", [])]
        if cond is None:
            raise ConfigError("if processor needs a condition")
        if params:
            raise ConfigError(f"unknown if-processor params: {sorted(params)}")
        return A.IfThenElse(condition=cond, then=then, otherwise=otherwise)

    cls = _PROCESSORS.get(name)
    if cls is None:
        raise ConfigError(
            f"unknown processor {name!r} (known: {sorted(_PROCESSORS)})"
        )
    try:
        proc = cls(**params)
    except TypeError as e:
        raise ConfigError(f"bad params for processor {name!r}: {e}") from e
    if when is not None:
        return A.When(condition=when, then=proc)
    return proc


def compile_rules(output: Mapping[str, Any]) -> list[Rule]:
    """outil-style selector config: single ``key`` and/or ordered
    ``keys`` list (select.go:111-184; first non-empty wins)."""
    rules: list[Rule] = []
    entries: list[Mapping[str, Any]] = []
    if output.get("keys"):
        entries.extend(output["keys"])
        # the reference appends a lone `key:` AFTER the keys table as
        # the fallback rule (select.go:111-184)
        if "key" in output:
            entries.append({"key": output["key"]})
    elif "key" in output:
        entries.append({"key": output["key"]})
    for e in entries:
        e = dict(e)
        try:
            value = e.pop("key")
        except KeyError:
            raise ConfigError(f"selector rule needs a key: {e!r}") from None
        rules.append(
            Rule(
                value=str(value),
                when=e.pop("when", None),
                mappings=e.pop("mappings", None),
                default=e.pop("default", None),
            )
        )
        if e:
            raise ConfigError(f"unknown selector rule params: {sorted(e)}")
    return rules


_TOP_KEYS = {"processors", "output"}
_OUTPUT_KEYS = {"key", "keys", "default", "n_buckets"}


def compile_pipeline(config: Mapping[str, Any]) -> Pipeline:
    unknown = set(config) - _TOP_KEYS
    if unknown:
        raise ConfigError(f"unknown top-level config keys: {sorted(unknown)}")
    processors = [compile_processor(p) for p in config.get("processors", [])]
    output = config.get("output", {}) or {}
    unknown = set(output) - _OUTPUT_KEYS
    if unknown:
        raise ConfigError(f"unknown output config keys: {sorted(unknown)}")
    return Pipeline(
        processors=processors,
        routes=compile_rules(output),
        default_sink=output.get("default", "default"),
        n_buckets=int(output.get("n_buckets", 64)),
    )


def load_pipeline(yaml_text: str) -> Pipeline:
    """YAML string → Pipeline (the startup-config surface)."""
    import yaml

    config = yaml.safe_load(yaml_text)
    if not isinstance(config, Mapping):
        raise ConfigError("pipeline config must be a mapping")
    return compile_pipeline(config)
