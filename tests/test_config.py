"""YAML config compiler (beats_spark/config.py): a filebeat-style
config produces the same results as the hand-built Pipeline."""

from __future__ import annotations

import pytest

from beats_spark.config import ConfigError, load_pipeline
from beats_spark.operators.actions import Dissect, DropEvent, When
from beats_spark.operators.selector import Rule
from beats_spark.plans.pipeline import Pipeline
from beats_spark.synth import TOK_LOGFMT, synth_transcripts

YAML = """
processors:
  - dissect:
      tokenizer: 'level=%{level} ts=%{timestamp} caller=%{caller} msg="%{message}"'
      field: text
  - drop_event:
      when:
        equals: {level: warn}
  - add_tags:
      tags: [shipped]
output:
  default: misc
  n_buckets: 16
  keys:
    - key: errors
      when:
        equals: {level: error}
    - key: '%{[role]}'
      mappings: {user: humans}
      default: rest
"""


def test_yaml_matches_hand_built(spark):
    df = synth_transcripts(spark, 5_000, seed=11)
    from_yaml = load_pipeline(YAML)
    by_hand = Pipeline(
        processors=[
            Dissect(tokenizer=TOK_LOGFMT, field="text"),
            When(condition={"equals": {"level": "warn"}}, then=DropEvent()),
        ],
        routes=[
            Rule(value="errors", when={"equals": {"level": "error"}}),
            Rule(value="%{[role]}", mappings={"user": "humans"}, default="rest"),
        ],
        default_sink="misc",
        n_buckets=16,
    )

    def counts(p):
        out = p.transform(df)
        return {
            r["sink"]: r["n"]
            for r in out.groupBy("sink").count().withColumnRenamed("count", "n").collect()
        }

    got, want = counts(from_yaml), counts(by_hand)
    assert got == want
    assert set(got) <= {"errors", "humans", "rest", "misc"}
    # the add_tags processor survived compilation
    assert "tags" in from_yaml.transform(df).columns


def test_if_then_else_and_single_key():
    p = load_pipeline(
        """
processors:
  - if:
      condition:
        equals: {role: user}
      then:
        - add_fields: {fields: {src: human}}
      else:
        - add_fields: {fields: {src: machine}}
output:
  key: only-sink
"""
    )
    assert len(p.processors) == 1
    assert [r.value for r in p.routes] == ["only-sink"]


def test_single_key_is_fallback_after_keys():
    # reference semantics: a lone `key:` appends AFTER the keys table
    # as the final fallback (select.go:111-184)
    p = load_pipeline(
        """
output:
  key: catchall
  keys:
    - key: errors
      when:
        equals: {level: error}
"""
    )
    assert [r.value for r in p.routes] == ["errors", "catchall"]


@pytest.mark.parametrize(
    "yaml_text,match",
    [
        ("processors: [{nope: {}}]", "unknown processor"),
        ("processors: [{dissect: {bogus_param: 1}}]", "bad params"),
        (
            "processors: [{truncate_fields: {fields: [text], "
            "max_characters: 3, tag_truncated: false}}]",
            "bad params",
        ),
        ("output: {keys: [{when: {equals: {a: b}}}]}", "needs a key"),
        ("output: {keys: [{key: k, typo: 1}]}", "unknown selector rule"),
        (
            "processors: [{if: {condition: {equals: {a: b}}, esle: []}}]",
            "unknown if-processor",
        ),
        ("3", "must be a mapping"),
        ("output: {salt: 4}", "unknown output config keys"),
    ],
)
def test_config_errors_at_compile_time(yaml_text, match):
    with pytest.raises(ConfigError, match=match):
        load_pipeline(yaml_text)


def test_ingest_pipeline_processor_in_config(spark):
    from beats_spark.config import load_pipeline

    p = load_pipeline(
        """
processors:
  - ingest_pipeline:
      steps:
        - set: {field: source, value: cfg}
        - uppercase: {field: source}
output:
  default: misc
"""
    )
    df = spark.createDataFrame(
        [("c1", 0, "hello", None)],
        "conv_id string, turn_idx int, text string, ts timestamp",
    )
    out = p.transform(df)
    assert out.first()["source"] == "CFG"


def test_ingest_pipeline_config_validation():
    import pytest as _pytest

    from beats_spark.operators.ingest import IngestError, IngestProcessor

    with _pytest.raises(IngestError):
        IngestProcessor()  # neither steps nor document
    with _pytest.raises(IngestError):
        IngestProcessor(steps=[], document={"processors": []})  # both


def test_community_id_config_fields_and_add_locale(spark):
    """Beats YAML shapes: community_id with a `fields:` override (the
    iptables/zeek module configs' form, icmp_type/icmp_code replacing
    ports on ICMP flows) and add_locale → event.timezone."""
    from beats_spark.config import compile_processor

    df = spark.createDataFrame(
        [
            (1, "192.0.2.205", "198.51.100.249", None, None, 3, 3, "icmp"),
            (2, "10.0.0.1", "10.0.0.2", 1000, 80, None, None, "tcp"),
        ],
        "id long, `source.ip` string, `destination.ip` string, "
        "`source.port` long, `destination.port` long, "
        "`icmp.type` long, `icmp.code` long, `network.transport` string",
    )
    proc = compile_processor(
        {
            "community_id": {
                "spec": True,
                "fields": {
                    "source_ip": "source.ip",
                    "destination_ip": "destination.ip",
                    "source_port": "source.port",
                    "destination_port": "destination.port",
                    "transport": "network.transport",
                    "icmp_type": "icmp.type",
                    "icmp_code": "icmp.code",
                },
            }
        }
    )
    rows = {r["id"]: r["community_id"] for r in proc.apply(df).collect()}
    # the zeek connection golden's icmp flow (same tuple)
    assert rows[1] == "1:gzTID87+KHoT4RFDSqb5aInTPeg="
    assert rows[2].startswith("1:")

    loc = compile_processor({"add_locale": {}})
    out = loc.apply(df).collect()[0]
    assert out["event.timezone"] == "+00:00"
