"""Dissect tokenizer: delimiter-based field extraction.

Re-implements, from scratch, the semantics of the dissect processor in
the reference (``libbeat/processors/dissect/{dissect,field,parser,
delimiter}.go``; conformance corpus shared with logstash-filter-dissect
at ``libbeat/processors/dissect/testdata/dissect_tests.json``).

Tokenizer syntax: literal delimiters interleaved with ``%{key}``
references. Key modifiers (reference ``field.go:72-285``,
``const.go:31-42``):

- ``%{key}``        normal capture
- ``%{}``           skip (unnamed)
- ``%{?key}``       named skip — captured for indirection, not emitted
- ``%{*key}``       pointer — same as named skip (newer syntax)
- ``%{&key}``       indirect — stores value under the value previously
                    captured for ``key``
- ``%{+key}``       append to ``key``, joined by the delimiter
                    immediately preceding THIS reference (default " ")
- ``%{+key/N}``     append with explicit ordinal ordering
- ``%{key->}``      greedy: consume a run of the trailing delimiter
                    (right/left padding), reference ``dissect.go:102-113``

Matching algorithm (reference ``dissect.go:71-126``):
1. the first delimiter must match at offset 0 (hard match);
2. each key's value ends at the FIRST occurrence of the next delimiter
   (no backtracking — a later failure is a parse failure, not a retry);
3. a greedy key consumes adjacent re-occurrences of the next delimiter
   (overlap-stepped by one char, matching the reference loop);
4. the last key takes the remaining string when there is no trailing
   delimiter; trailing content after the final delimiter is ignored;
5. on failure the row is tagged (``dissect_parsing_error``) and no
   fields are produced.

Execution tiers:
- :func:`Dissector.dissect` — pure-Python kernel. Used as the test
  oracle and as the body of the pandas-UDF slow path.
- :func:`Dissector.to_regex` — lowers eligible tokenizers to a single
  anchored regex with ATOMIC groups ``(?>...)``, which reproduces the
  no-backtracking first-occurrence commit exactly. Valid in both
  Python ``re`` (3.11+) and Java ``java.util.regex`` — so the hot path
  runs entirely JVM-side via ``regexp_extract`` (no Python).
- :func:`dissect_columns` — Spark Column expressions (native tier).
- :func:`dissect_pandas_udf` — Arrow-batched fallback for tokenizers
  using append/indirect/pointer modifiers.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field
from functools import lru_cache

# ---------------------------------------------------------------------------
# Tokenizer parsing

_TOKEN_RE = re.compile(r"(?s)(.*?)%\{([^}]*?)\}")
# key body: name, optional /NN ordinal, optional -> greedy suffix
_SUFFIX_RE = re.compile(r"(.+?)(?:/(\d{1,2}))?(->)?$")

NORMAL, SKIP, NAMED_SKIP, POINTER, APPEND, INDIRECT = range(6)

FLAG_PARSING_ERROR = "dissect_parsing_error"


class DissectError(ValueError):
    """Invalid tokenizer definition."""


@dataclass
class _Key:
    idx: int                 # position among keys (= index into extracted positions)
    name: str
    kind: int
    ordinal: int = 0
    greedy: bool = False
    prev_delim: str = ""     # delimiter immediately before this key (join string)

    @property
    def saveable(self) -> bool:
        return self.kind in (NORMAL, APPEND, INDIRECT)


def _parse_key(idx: int, raw: str, prev_delim: str) -> _Key:
    if raw == "":
        return _Key(idx, "", SKIP, prev_delim=prev_delim)
    m = _SUFFIX_RE.match(raw)
    if not m:
        raise DissectError(f"empty key in tokenizer reference: %{{{raw}}}")
    name, ordinal_s, greedy_s = m.group(1), m.group(2), m.group(3)
    ordinal = int(ordinal_s) if ordinal_s else 0
    greedy = greedy_s == "->"
    if name.startswith("+&") or name.startswith("&+"):
        raise DissectError(f"mixed append/indirect prefix in %{{{raw}}}")
    if name.startswith("?"):
        return _Key(idx, name[1:], NAMED_SKIP, ordinal, greedy, prev_delim)
    if name.startswith("*"):
        return _Key(idx, name[1:], POINTER, ordinal, greedy, prev_delim)
    if name.startswith("+"):
        return _Key(idx, name[1:], APPEND, ordinal, greedy, prev_delim)
    if name.startswith("&"):
        return _Key(idx, name[1:], INDIRECT, ordinal, greedy, prev_delim)
    return _Key(idx, name, NORMAL, ordinal, greedy, prev_delim)


class Dissector:
    """Compiled dissect tokenizer.

    ``delims`` has len(keys)+1 entries: delims[i] precedes keys[i];
    delims[-1] is the trailing delimiter ("" if the tokenizer ends on a
    key reference).
    """

    def __init__(self, tokenizer: str):
        self.raw = tokenizer
        matches = list(_TOKEN_RE.finditer(tokenizer))
        if not matches:
            raise DissectError(f"invalid dissect tokenizer: {tokenizer!r}")
        delims: list[str] = []
        keys: list[_Key] = []
        for i, m in enumerate(matches):
            delims.append(m.group(1))
            keys.append(_parse_key(i, m.group(2), m.group(1)))
        trailing = tokenizer[matches[-1].end():]
        delims.append(trailing)
        self.delims = delims
        self.keys = keys
        # emission order: stable sort by ordinal (append /N ordering)
        self.apply_order = sorted(keys, key=lambda k: k.ordinal)
        # greedy is a property of the key's PRECEDING delimiter slot
        self.greedy_at = [k.greedy for k in keys]
        self._validate()

    def _validate(self) -> None:
        names_by_kind: dict[int, set[str]] = {}
        for k in self.keys:
            names_by_kind.setdefault(k.kind, set()).add(k.name)
        # an indirect reference needs a pointer/named-skip source
        for name in names_by_kind.get(INDIRECT, ()):
            sources = names_by_kind.get(NAMED_SKIP, set()) | names_by_kind.get(
                POINTER, set()
            ) | names_by_kind.get(NORMAL, set())
            if name not in sources:
                raise DissectError(
                    f"indirect key %{{&{name}}} has no matching source reference"
                )

    # -- pure-Python kernel (oracle + pandas fallback body) -----------------

    def extract(self, s: str) -> list[tuple[int, int]] | None:
        """Return per-key (start, end) spans, or None on parse failure."""
        n = len(self.keys)
        positions: list[tuple[int, int]] = [(0, 0)] * n
        first = self.delims[0]
        if first and not s.startswith(first):
            return None
        offset = len(first)
        i = 0
        # Every key except the last-without-trailing-delimiter is bounded
        # by the next delimiter. An empty MID delimiter is a zero-width
        # match at the current offset (reference zeroByte delimiter); only
        # a trailing "" means "rest of string goes to the final key".
        while i < n and not (i == n - 1 and self.delims[n] == ""):
            nxt = self.delims[i + 1]
            if nxt == "":
                positions[i] = (offset, offset)
                i += 1
                continue
            end = s.find(nxt, offset)
            if end == -1:
                return None
            start = offset
            offset = end
            if self.greedy_at[i]:
                # consume adjacent re-occurrences of the next delimiter,
                # stepping by one char (reference dissect.go:104-113)
                while s.find(nxt, offset + 1) == offset + 1:
                    offset += 1
            positions[i] = (start, end)
            offset += len(nxt)
            i += 1
        if i < n and offset < len(s):
            positions[i] = (offset, len(s))
            i += 1
        # any keys never reached keep (0, 0) → empty string, matching the
        # reference's zero-valued positions array
        return positions

    def dissect(self, s: str) -> dict[str, str] | None:
        """Extract + resolve. None on failure (incl. empty input)."""
        if not s:
            return None
        positions = self.extract(s)
        if positions is None:
            return None
        m: dict[str, str] = {}
        for k in self.apply_order:
            start, end = positions[k.idx]
            v = s[start:end]
            if k.kind in (NORMAL, NAMED_SKIP, POINTER):
                m[k.name] = v
            elif k.kind == APPEND:
                if k.name in m:
                    join = k.prev_delim if k.prev_delim else " "
                    m[k.name] = m[k.name] + join + v
                else:
                    m[k.name] = v
            elif k.kind == INDIRECT:
                ref = m.get(k.name)
                if ref is not None:
                    m[ref] = v
            # SKIP: nothing
        for k in self.keys:
            if not k.saveable and k.name in m:
                del m[k.name]
        return m

    # -- regex lowering (JVM-native tier) ------------------------------------

    @property
    def output_keys(self) -> list[str]:
        """Keys the dissect emits (normal + append targets), first-seen order."""
        seen: list[str] = []
        for k in self.apply_order:
            if k.kind in (NORMAL, APPEND) and k.name not in seen:
                seen.append(k.name)
        return seen

    def lowerable(self) -> bool:
        """True if semantics are expressible as one atomic-group regex:
        only normal/skip keys, and greedy only before 1-char delimiters
        (multi-char greedy uses overlap-by-one stepping regex can't say)."""
        for k in self.keys:
            if k.kind in (NAMED_SKIP, POINTER, APPEND, INDIRECT):
                return False
            if k.greedy and len(self.delims[k.idx + 1]) != 1:
                return False
        return True

    def to_regex(self) -> tuple[str, list[str | None]]:
        """Lower to an anchored atomic-group regex.

        Returns (pattern, group_names) where group_names[i] is the key
        captured by group i+1 (None for skip groups). The pattern is
        valid in both Python ``re`` and Java ``java.util.regex`` —
        atomic groups reproduce the first-occurrence commit without
        backtracking, so match/fail behavior is byte-identical to the
        kernel.
        """
        if not self.lowerable():
            raise DissectError(f"tokenizer not lowerable to regex: {self.raw!r}")
        parts: list[str] = ["^", _rx_quote(self.delims[0])]
        names: list[str | None] = []
        n = len(self.keys)
        for i, k in enumerate(self.keys):
            nxt = self.delims[i + 1]
            names.append(k.name if k.kind == NORMAL else None)
            if nxt == "":
                if i == n - 1:
                    # last key, no trailing delimiter: rest of string
                    parts.append("((?s:.*))")
                else:
                    # zero-width mid delimiter: key always captures ""
                    parts.append("()")
            else:
                q = _rx_quote(nxt)
                if self.greedy_at[i]:
                    # value up to first occurrence, then consume the run
                    parts.append(f"(?>((?s:.*?)){q}+)")
                else:
                    parts.append(f"(?>((?s:.*?)){q})")
        # trailing delimiter already consumed inside the last atomic group;
        # remaining content after it is ignored (no $ anchor).
        return "".join(parts), names


def _rx_quote(s: str) -> str:
    """Quote a literal for a regex valid in BOTH Python and Java.

    Escapes every non-alphanumeric char with a backslash — both engines
    treat ``\\<punct>`` as the literal char; alnums are never special.
    """
    return "".join(c if c.isalnum() else "\\" + c for c in s)


@lru_cache(maxsize=256)
def compile_tokenizer(tokenizer: str) -> Dissector:
    return Dissector(tokenizer)


# ---------------------------------------------------------------------------
# Spark bindings


def dissect_columns(col, tokenizer: str):
    """Native tier: dict of key -> Column plus an ``_ok`` match Column.

    Uses one ``rlike`` for match detection and ``regexp_extract`` per
    output key — all JVM-side, whole-stage-codegen friendly, no Python.
    Non-matching rows yield NULL for every key (the reference emits no
    fields and tags the row instead).
    """
    from pyspark.sql import functions as F

    d = compile_tokenizer(tokenizer)
    pattern, names = d.to_regex()
    ok = col.rlike(pattern) & (col != F.lit(""))
    out: dict[str, object] = {}
    for gi, name in enumerate(names, start=1):
        if name is None:
            continue
        out[name] = F.when(ok, F.regexp_extract(col, pattern, gi))
    return out, ok


#: 2-char field separator for single-pass extraction (RS + ETB; a
#: colliding row falls back per-row to regexp_extract)
_SEP = "\x1e\x17"


def dissect_single_pass(df, source: str, tokenizer: str):
    """Hot-path native tier: ~2 regex runs per row TOTAL instead of
    one per key (``dissect_columns`` costs k+1 ``regexp_extract``
    executions for a k-key tokenizer — the headline logfmt tokenizer
    has 7). One ``rlike`` for the match flag; one ``regexp_replace``
    rewriting the line to a separator-joined group list, split once
    into a MATERIALIZED array (a Column reused k× is recomputed k× —
    CLAUDE.md gotcha) that key columns read with ``F.get``. Rows whose
    field text contains the separator (size mismatch) fall back lazily
    to per-key extraction.

    Returns ``(df2, cols, ok, tmp_cols)`` — assign ``cols`` on the
    returned frame, then drop ``tmp_cols``.
    """
    from pyspark.sql import functions as F

    d = compile_tokenizer(tokenizer)
    pattern, names = d.to_regex()
    col = F.col("`" + source + "`")
    ok = col.rlike(pattern) & (col != F.lit(""))
    named = [(gi, nm) for gi, nm in enumerate(names, start=1) if nm]
    if not named:
        return df.withColumn("_d_ok", ok), {}, F.col("_d_ok"), ["_d_ok"]
    # the dissect regex deliberately carries no trailing $ (content
    # after the last delimiter is ignored) — consume the tail so the
    # replacement covers the WHOLE string
    full = pattern + "(?s:.*)$"
    repl = _SEP.join(f"${gi}" for gi, _ in named)
    df = df.withColumns(
        {
            "_d_ok": ok,
            "_d_arr": F.when(
                ok, F.split(F.regexp_replace(col, full, repl), _SEP, -1)
            ),
        }
    )
    okc, arr = F.col("_d_ok"), F.col("_d_arr")
    k = len(named)
    out: dict[str, object] = {}
    for j, (gi, name) in enumerate(named):
        fast = F.when(F.size(arr) == k, F.get(arr, j))
        slow = F.when(okc, F.regexp_extract(col, pattern, gi))
        out[name] = F.coalesce(fast, slow)
    return df, out, okc, ["_d_ok", "_d_arr"]


def dissect_pandas_udf(tokenizer: str):
    """Arrow-batched fallback for modifier-heavy tokenizers.

    Returns a pandas UDF producing ``map<string,string>`` (NULL on
    parse failure). The Dissector compiles once per executor (closure),
    not per batch; the loop is per-row *inside* an Arrow batch, which is
    the sanctioned slow path for semantics regex can't express
    (append-with-ordinal joins, indirection).
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    d = compile_tokenizer(tokenizer)

    def _dissect(s):
        kernel = d.dissect
        return s.map(lambda x: kernel(x) if isinstance(x, str) else None)

    # real-object annotations: the module's postponed (string) hints
    # can't be resolved by pyspark because pandas is imported locally
    _dissect.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return F.pandas_udf(_dissect, T.MapType(T.StringType(), T.StringType()))
