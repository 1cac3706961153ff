"""Content-based multiline combine — the reference's multiline reader
as a custom stateful operator.

The session-window variant (job.sessionized_multiline) models only the
TIMEOUT flush; the real multiline reader
(libbeat/reader/multiline/multiline.go:42-167) groups by a CONTENT
predicate: with ``match: after``, a line where ``pattern XOR negate``
matches is appended to the current event; a non-matching line closes
the event and starts a new one. ``match: before`` buffers matching
lines and closes the event on the first non-matching line (which
joins the event as its last line). ``max_lines`` (default 500) caps an
event; the 5 s timeout flushes a dangling buffer.

Spark-native forms:

- batch:  ``groupBy(conv_id).applyInPandas`` — everything flushes at
  group end (the harvester's EOF flush).
- stream: ``groupBy(conv_id).applyInPandasWithState`` — complete
  events emit per micro-batch, the dangling tail lives in group state
  until more lines arrive or the processing-time timeout fires
  (multiline.go:107-117). This is the sanctioned stateful escape
  hatch: Arrow-batched, one state row per conversation.
"""

from __future__ import annotations

import re
from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import types as T

OUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("first_turn_idx", T.IntegerType()),
        T.StructField("doc", T.StringType()),
        T.StructField("n_lines", T.IntegerType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("first_turn_idx", T.IntegerType()),
        T.StructField("lines", T.ArrayType(T.StringType())),
    ]
)


def combine_lines(
    lines: list[tuple],
    pattern: str,
    match: str = "after",
    negate: bool = False,
    max_lines: int = 500,
    flush_pattern: str | None = None,
    timeout: float | None = None,
) -> tuple[list[tuple[int, str, int]], tuple[int, list[str]] | None]:
    """Run the multiline state machine over ordered (turn_idx, line)
    or (turn_idx, line, ts_seconds) tuples.

    Returns (events, tail): events are CLOSED (first_idx, joined_doc,
    n_lines) tuples; tail is the still-open buffer (None if empty).
    Join separator is newline (the reference joins raw content).

    ``flush_pattern`` (multiline.go:218-231): checked BEFORE the
    match predicate while an event is open — a matching line joins
    the event as its final line and closes it; the first line of an
    event is never flush-checked (it enters via readFirst, which
    loads without the check).

    ``timeout`` (multiline.go:107-117 via the timeout reader): the
    batch replay of the 5 s idle flush — if the gap between
    consecutive line timestamps exceeds ``timeout`` seconds, the open
    buffer flushes before the new line is processed (the new line then
    starts a fresh event, exactly as after a live timeout fire)."""
    if match not in ("after", "before"):
        raise ValueError(f"multiline match must be after/before: {match!r}")
    rx = re.compile(pattern)
    frx = re.compile(flush_pattern) if flush_pattern is not None else None

    def continues(line: str) -> bool:
        return bool(rx.search(line)) != negate

    events: list[tuple[int, str, int]] = []
    buf: list[str] = []
    first = 0
    prev_ts: float | None = None

    def flush() -> None:
        nonlocal buf
        if buf:
            events.append((first, "\n".join(buf), len(buf)))
            buf = []

    def buffer(line: str) -> None:
        # cap at append time (multiline.go skips past max_lines while
        # READING) — this also bounds the tail a streaming caller
        # persists in group state, so one hot conversation can't grow
        # state without limit
        if len(buf) < max_lines:
            buf.append(line)

    for item in lines:
        idx, line = item[0], item[1]
        ts = item[2] if len(item) > 2 else None
        if (
            timeout is not None
            and buf
            and ts is not None
            and prev_ts is not None
            and ts - prev_ts > timeout
        ):
            flush()
        prev_ts = ts
        if frx is not None and buf and frx.search(line):
            buffer(line)
            flush()
            continue
        if match == "after":
            # matching lines continue the current event
            if continues(line) and buf:
                buffer(line)
            else:
                flush()
                first = idx
                buf = [line]
        else:  # before
            # matching lines buffer; the first non-matching line closes
            # the event as its final line
            if not buf:
                first = idx
            buffer(line)
            if not continues(line):
                flush()
    return events, ((first, buf) if buf else None)


def _mk_machine(
    pattern: str,
    match: str,
    negate: bool,
    max_lines: int,
    flush_pattern: str | None = None,
    timeout: float | None = None,
    ts_col: str | None = None,
):
    def run(conv_id, rows_sorted):
        if ts_col is not None:
            lines = list(
                zip(
                    rows_sorted["turn_idx"],
                    rows_sorted["text"],
                    rows_sorted[ts_col],
                )
            )
        else:
            lines = list(zip(rows_sorted["turn_idx"], rows_sorted["text"]))
        return combine_lines(
            lines, pattern, match, negate, max_lines, flush_pattern, timeout
        )

    return run


def _events_frame(conv, events: list[tuple[int, str, int]]):
    """``OUT_SCHEMA`` rows of one conversation's closed events."""
    import pandas as pd

    return pd.DataFrame(
        [(conv, f, d, n) for f, d, n in events],
        columns=["conv_id", "first_turn_idx", "doc", "n_lines"],
    )


def multiline_batch(
    df: DataFrame,
    pattern: str,
    match: str = "after",
    negate: bool = False,
    max_lines: int = 500,
    flush_pattern: str | None = None,
    timeout: float | None = None,
    ts_col: str | None = None,
) -> DataFrame:
    """Batch combine: per conversation in stable turn order; the tail
    flushes at group end (harvester EOF). ``flush_pattern`` closes an
    event on a matching line; ``timeout`` + ``ts_col`` (epoch seconds)
    replay the idle flush on recorded timestamps."""
    if timeout is not None and ts_col is None:
        raise ValueError("batch timeout flush needs ts_col")
    machine = _mk_machine(
        pattern, match, negate, max_lines, flush_pattern, timeout, ts_col
    )

    def fn(pdf):
        pdf = pdf.sort_values("turn_idx")
        conv = pdf["conv_id"].iloc[0]
        events, tail = machine(conv, pdf)
        if tail is not None:
            first, buf = tail
            events.append((first, "\n".join(buf), len(buf)))
        return _events_frame(conv, events)

    cols = ["conv_id", "turn_idx", "text"] + ([ts_col] if ts_col else [])
    return df.select(*cols).groupBy("conv_id").applyInPandas(fn, OUT_SCHEMA)


def _stream_fn(machine, arm_timeout, ts_col: str | None = None):
    """The one ``applyInPandasWithState`` body of both streaming
    forms: a timed-out tail flushes as one event; otherwise the
    buffered lines re-enter the machine ahead of the new rows, closed
    events emit, and the open tail goes back to state (or the state
    goes). With ``ts_col`` (event time) the state carries the tail's
    last-seen ts in ms as its last field, and the buffered lines
    re-enter with it, so the stored-tail → first-new gap is what the
    machine evaluates. ``arm_timeout(state, *last_ts)`` sets the
    flush after each update."""

    def fn(key, pdfs: Iterable, state):
        import pandas as pd

        (conv,) = key
        if state.hasTimedOut:
            first, lines = state.get[:2]
            state.remove()
            yield _events_frame(conv, [(first, "\n".join(lines), len(lines))])
            return

        pdf = pd.concat(list(pdfs)).sort_values("turn_idx")
        if ts_col is None:
            pdf = pdf[["turn_idx", "text"]]
        else:
            pdf = pdf.assign(_ts_sec=pdf[ts_col].astype("int64") / 1e9)[
                ["turn_idx", "text", "_ts_sec"]
            ]
        if state.exists:
            first, lines, *last_ts = state.get
            prefix = {"turn_idx": [first] * len(lines), "text": lines}
            if last_ts:
                prefix["_ts_sec"] = [last_ts[0] / 1000.0] * len(lines)
            pdf = pd.concat([pd.DataFrame(prefix), pdf])
        events, tail = machine(conv, pdf)
        if tail is not None:
            last_ts = [] if ts_col is None else [
                int(pdf["_ts_sec"].max() * 1000)
            ]
            # native python types — numpy int64 won't serialize to the
            # state schema
            state.update((int(tail[0]), [str(x) for x in tail[1]], *last_ts))
            arm_timeout(state, *last_ts)
        elif state.exists:
            state.remove()
        yield _events_frame(conv, events)

    return fn


def multiline_stream(
    stream: DataFrame,
    pattern: str,
    match: str = "after",
    negate: bool = False,
    max_lines: int = 500,
    timeout_ms: int = 5000,
    flush_pattern: str | None = None,
) -> DataFrame:
    """Streaming combine with per-conversation state: closed events
    emit immediately; the open tail stays in state until continued or
    the processing-time timeout flushes it (multiline.go:107-117).

    Deployment note: under ``trigger(availableNow=True)`` a query with
    processing-time timeouts does NOT self-terminate — pending
    timeouts keep scheduling batches. Run it with a continuous
    trigger, or stop() it once the input is drained.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    fn = _stream_fn(
        _mk_machine(pattern, match, negate, max_lines, flush_pattern),
        lambda state: state.setTimeoutDuration(timeout_ms),
    )
    return (
        stream.select("conv_id", "turn_idx", "text")
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn,
            OUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


EVENT_STATE_SCHEMA = T.StructType(
    [
        T.StructField("first_turn_idx", T.IntegerType()),
        T.StructField("lines", T.ArrayType(T.StringType())),
        T.StructField("last_ts_ms", T.LongType()),
    ]
)


def multiline_stream_eventtime(
    stream: DataFrame,
    pattern: str,
    match: str = "after",
    negate: bool = False,
    max_lines: int = 500,
    timeout_s: float = 5.0,
    flush_pattern: str | None = None,
    ts_col: str = "ts",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Streaming combine whose idle flush keys on EVENT time: a tail
    flushes once the watermark passes last-seen-ts + ``timeout_s`` —
    the batch path's gap semantics (multiline.go:107-117's 5 s idle
    flush, measured on the recorded clock instead of the wall clock).

    Unlike the processing-time variant, a query built on this DOES
    terminate under ``trigger(availableNow=True)``: due timeouts fire
    in the trailing no-data micro-batch (``noDataMicroBatches`` is on
    by default) and nothing reschedules afterwards — the r2 verdict's
    prescription for testable timeout flush (CLAUDE.md gotcha). The
    same ``timeout_s`` also gap-flushes WITHIN a batch via the state
    machine's ts-gap replay, so a gap recorded inside one micro-batch
    and a gap spanning micro-batches flush identically."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    timeout_ms = int(timeout_s * 1000)

    def arm_timeout(state, last_ms: int) -> None:
        # must stay ahead of the current watermark or Spark rejects
        # the timestamp; a tail already older than the watermark
        # flushes at the next batch boundary
        state.setTimeoutTimestamp(
            max(last_ms + timeout_ms, state.getCurrentWatermarkMs() + 1)
        )

    fn = _stream_fn(
        _mk_machine(
            pattern, match, negate, max_lines, flush_pattern, timeout_s, "_ts_sec"
        ),
        arm_timeout,
        ts_col,
    )
    return (
        stream.select("conv_id", "turn_idx", "text", ts_col)
        .withWatermark(ts_col, watermark_delay)
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn,
            OUT_SCHEMA,
            EVENT_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
