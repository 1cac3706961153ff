"""Deterministic, fully-distributed transcript synthesizer.

Generates the input table (conv_id, turn_idx, role, text, tool, ts)
at any scale with ``spark.range`` + column expressions only — no
driver-side loops, no RNG state, so the same (n_rows, seed) always
yields identical bytes on any cluster size. ``text`` is rendered from
dissect-friendly templates (FIXTURES.md §4; template 1 mirrors the
reference conformance corpus case 1), with ~5% deliberately malformed
rows to exercise the parse-failure tagging path
(libbeat/processors/dissect/processor.go:64-75).

conv_id frequency is Zipf-ish skewed (quadratic transform of a hash
uniform) so a few conversations are hot — exercising the fan-out
write's AQE rebalance, which splits an oversized bucket, at bench
scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

KNUTH = 2654435761  # multiplicative hash constant

ROLES = ["user", "assistant", "system", "tool"]
TOOLS = ["bash", "search", "edit", "none"]

# Template ids: 0 logfmt, 1 apache-access-ish, 2 tool-invocation, 3 malformed
TOK_LOGFMT = 'level=%{level} ts=%{timestamp} caller=%{caller} msg="%{message}"'
TOK_APACHE = '%{ip} - %{user} [%{httpdate}] "%{method} %{url} HTTP/%{ver}" %{status} %{bytes}'
TOK_TOOL = "TOOL %{tool} args=%{args} rc=%{rc->} dur_ms=%{dur}"


def _u(col, seed: int):
    """Deterministic uniform [0,1) from a long column."""
    h = F.pmod((col + F.lit(seed)) * F.lit(KNUTH), F.lit(2**32))
    return h / F.lit(float(2**32))


def synth_transcripts(
    spark: SparkSession,
    n_rows: int,
    n_convs: int | None = None,
    seed: int = 42,
    malformed_frac: float = 0.05,
    partitions: int | None = None,
) -> DataFrame:
    n_convs = n_convs or max(n_rows // 200, 1)
    df = spark.range(0, n_rows, 1, partitions or spark.sparkContext.defaultParallelism)

    u_conv = _u(F.col("id"), seed)
    # quadratic transform → conversation 0..k are hot (Zipf-ish skew)
    conv_n = F.floor(u_conv * u_conv * n_convs).cast("int")
    df = df.withColumn("conv_n", conv_n)

    w = Window.partitionBy("conv_n").orderBy("id")
    df = df.withColumn("turn_idx", (F.row_number().over(w) - 1).cast("int"))

    role_i = F.pmod((F.col("id") * 31 + F.lit(seed)), F.lit(4)).cast("int")
    role = F.element_at(F.array(*[F.lit(r) for r in ROLES]), role_i + 1)

    # template: tool turns get TOOL lines; others mostly logfmt/apache;
    # ~malformed_frac of rows get a non-parsing payload
    u_bad = _u(F.col("id"), seed + 7)
    tmpl = (
        F.when(u_bad < malformed_frac, F.lit(3))
        .when(role == "tool", F.lit(2))
        .otherwise(F.pmod(F.col("id"), F.lit(2)).cast("int"))
    )

    tool_i = F.pmod((F.col("id") * 17 + F.lit(seed)), F.lit(3)).cast("int")
    tool = F.when(role == "tool", F.element_at(F.array(*[F.lit(t) for t in TOOLS[:3]]), tool_i + 1)).otherwise(F.lit("none"))

    ts = F.timestamp_seconds(
        F.lit(1704067200)  # 2024-01-01T00:00:00Z
        + F.col("conv_n").cast("long") * 3600
        + F.col("turn_idx").cast("long") * 7
    )

    level = F.element_at(
        F.array(F.lit("info"), F.lit("warn"), F.lit("error"), F.lit("debug")),
        F.pmod(F.col("id") * 13, F.lit(4)).cast("int") + 1,
    )
    ts_str = F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")
    kv = F.pmod(F.col("id") * 7, F.lit(1000))

    text_logfmt = F.format_string(
        'level=%s ts=%s caller=main.go:%d msg="processing step %d of run"',
        level, ts_str, F.pmod(F.col("id"), F.lit(400)) + 1, kv,
    )
    text_apache = F.format_string(
        '10.0.%d.%d - user%d [%s] "GET /api/v1/item/%d HTTP/1.1" %d %d',
        F.pmod(F.col("id"), F.lit(256)),
        F.pmod(F.col("id") * 3, F.lit(256)),
        F.pmod(F.col("id"), F.lit(500)),
        ts_str,
        kv,
        F.element_at(
            F.array(F.lit(200), F.lit(200), F.lit(200), F.lit(404), F.lit(500)),
            F.pmod(F.col("id") * 11, F.lit(5)).cast("int") + 1,
        ),
        F.pmod(F.col("id") * 29, F.lit(65536)),
    )
    # rc right-padded → exercises the greedy `->` modifier
    text_tool = F.format_string(
        "TOOL %s args=--target=item-%d rc=%-4d dur_ms=%d",
        tool, kv, F.pmod(F.col("id"), F.lit(3)).cast("int"), F.pmod(F.col("id") * 37, F.lit(9000)) + 10,
    )
    text_bad = F.format_string(
        "freeform note %d without any structure at all", F.col("id")
    )

    text = (
        F.when(tmpl == 0, text_logfmt)
        .when(tmpl == 1, text_apache)
        .when(tmpl == 2, text_tool)
        .otherwise(text_bad)
    )

    return df.select(
        F.format_string("conv-%06d", F.col("conv_n")).alias("conv_id"),
        F.col("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )


def write_synth(
    spark: SparkSession, path: str, n_rows: int, seed: int = 42, **kw
) -> None:
    synth_transcripts(spark, n_rows, seed=seed, **kw).write.mode("overwrite").parquet(path)


def transcripts_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a deterministic transcripts table from the driver's
    ``events`` parquet — used for oracle-checked correctness queries
    (the DuckDB side derives the identical table in SQL).

    conv_id = user bucket; turn order = (ts, event_id); text is a
    logfmt rendering with only integer/string fields so Spark and
    DuckDB produce byte-identical strings.
    """
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    level = (
        F.when(F.col("event_type") == "error", F.lit("error"))
        .when(F.col("event_type") == "signup", F.lit("warn"))
        .otherwise(F.lit("info"))
    )
    tool = (
        F.when(F.col("event_type") == "click", F.lit("bash"))
        .when(F.col("event_type") == "view", F.lit("search"))
        .when(F.col("event_type") == "purchase", F.lit("edit"))
        .otherwise(F.lit("none"))
    )
    role = (
        F.when(F.col("event_type") == "error", F.lit("system"))
        .when(F.col("event_type").isin("click", "view", "purchase"), F.lit("tool"))
        .otherwise(F.lit("user"))
    )
    text = F.format_string(
        'level=%s ts=%d caller=main.go:%d msg="%s event %d"',
        level,
        F.unix_timestamp("ts"),
        F.pmod(F.col("event_id"), F.lit(400)) + 1,
        F.col("event_type"),
        F.col("event_id"),
    )
    return ev.select(
        F.format_string("conv-%06d", F.col("user_id")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        F.col("ts"),
    )


# DuckDB SQL producing the identical transcripts derivation — keep in
# lock-step with transcripts_from_events. Used as a CTE by oracle_sql().
TRANSCRIPTS_FROM_EVENTS_SQL = """
SELECT
  printf('conv-%06d', user_id) AS conv_id,
  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
  CASE WHEN event_type = 'error' THEN 'system'
       WHEN event_type IN ('click','view','purchase') THEN 'tool'
       ELSE 'user' END AS role,
  printf('level=%s ts=%d caller=main.go:%d msg="%s event %d"',
         CASE WHEN event_type = 'error' THEN 'error'
              WHEN event_type = 'signup' THEN 'warn'
              ELSE 'info' END,
         CAST(floor(epoch(ts)) AS BIGINT),
         (event_id % 400) + 1,
         event_type,
         event_id) AS text,
  CASE WHEN event_type = 'click' THEN 'bash'
       WHEN event_type = 'view' THEN 'search'
       WHEN event_type = 'purchase' THEN 'edit'
       ELSE 'none' END AS tool,
  ts
FROM events
"""
