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
- :meth:`Dissector.dissect` — pure-Python kernel, the test oracle.
- :func:`dissect_frame` — the same algorithm as built-in Spark Column
  expressions (``position``/``substr`` offsets, a fold for the
  modifiers), for every tokenizer; no regex and no Python worker.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import lru_cache

from .memo import memo

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

    # -- pure-Python kernel (test oracle) -----------------------------------

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

    @property
    def output_keys(self) -> list[str]:
        """Keys the dissect emits (normal + append targets), first-seen order."""
        seen: list[str] = []
        for k in self.apply_order:
            if k.kind in (NORMAL, APPEND) and k.name not in seen:
                seen.append(k.name)
        return seen


@lru_cache(maxsize=256)
def compile_tokenizer(tokenizer: str) -> Dissector:
    return Dissector(tokenizer)


# ---------------------------------------------------------------------------
# Spark binding


def dissect_frame(df, text: str, tokenizer: str):
    """The Spark kernel: :meth:`Dissector.dissect` as built-in Column
    expressions, for every tokenizer — no regex, no Python worker.
    ``text`` names the source column as ``F.col`` reads it (backticks
    around a flat dotted name).

    Offsets follow :meth:`Dissector.extract` (1-based): each value ends
    at ``position(delim, text, start)``. A greedy key before a
    delimiter made of one repeated char skips the whole run of that
    char, which is what the reference's step-by-one loop does; before
    any other delimiter that loop is a no-op. The match gate is
    ``text <> ''``, ``startswith(delims[0])`` and every delimiter found;
    a NULL source gives a NULL gate (no failure flag, NULL fields).

    One projection materialises the gate and the (start, end) offset
    array, NULL on a failed match. Each offset is built once from the
    one before it, and values are ``substr`` reads of array elements,
    so the expression stays linear in the key count and a key nobody
    reads costs no ``substr``. Values then resolve like
    :meth:`Dissector.dissect`, folding ``apply_order`` over the static
    key names with NULL for "absent".

    The expressions depend on ``(text, tokenizer)`` only and are built
    once per JVM (:func:`~beats_spark.functions.memo.memo`); a call
    costs one ``withColumns``.

    Returns ``(df2, cols, failed, tmp_cols)``: ``cols`` maps each of
    :attr:`Dissector.output_keys` to a Column over ``df2``, and
    ``failed`` is the per-row parse failure, read off the materialized
    gate (false for a NULL source); drop ``tmp_cols`` once ``cols`` and
    ``failed`` are assigned.
    """
    from pyspark.sql import functions as F

    kernel, cols = memo(
        ("dissect", text, tokenizer), lambda: _dissect_exprs(text, tokenizer)
    )
    failed = memo(
        "dissect_failed", lambda: ~F.coalesce(F.col("_dissect_ok"), F.lit(True))
    )
    return df.withColumns(kernel), dict(cols), failed, list(kernel)


def _dissect_exprs(text_ref: str, tokenizer: str):
    """``(kernel, cols)`` of :func:`dissect_frame`: the two columns it
    materializes, and each output key's value over them."""
    from pyspark.sql import functions as F

    d = compile_tokenizer(tokenizer)
    text = F.col(text_ref)
    n = len(d.keys)
    start = F.lit(len(d.delims[0]) + 1)
    ends, offsets = [], []
    for i, k in enumerate(d.keys):
        nxt = d.delims[i + 1]
        if nxt == "":
            # zero-width mid delimiter: ""; last key: rest of the line
            end = start if i < n - 1 else F.length(text) + 1
        else:
            end = F.position(F.lit(nxt), text, start)
            ends.append(end)
        offsets += [start, end]
        if k.greedy and len(set(nxt)) == 1:
            start = F.length(text) + 1 - F.length(F.ltrim(F.substr(text, end), F.lit(nxt[0])))
        else:
            start = end + len(nxt)
    # least() leads the gate: it evaluates every offset unconditionally,
    # so the offset array below reuses them (And/CaseWhen branches are
    # lazy, which would stop subexpression elimination)
    ok = text != F.lit("")
    if ends:
        ok = (F.least(*ends) > 0 if len(ends) > 1 else ends[0] > 0) & ok
    if d.delims[0]:
        ok = ok & text.startswith(d.delims[0])
    # position() reads a NULL start as 0, so a NULL source fails the
    # gate like a non-matching line; OR-ing in NULL for it keeps its ok
    # NULL (no failure flag) and the gate unconditional
    null_src = F.when(text.isNotNull(), F.lit(False))
    kernel = {"_dissect_ok": ok | null_src, "_dissect_o": F.when(ok, F.array(*offsets))}
    o = F.col("_dissect_o")

    def value(i: int):
        start = F.get(o, 2 * i)
        return F.substr(text, start, F.get(o, 2 * i + 1) - start)

    absent = F.lit(None).cast("string")
    state = {k.name: absent for k in d.keys if k.kind != SKIP}
    for k in d.apply_order:
        v = value(k.idx)
        if k.kind in (NORMAL, NAMED_SKIP, POINTER):
            state[k.name] = v
        elif k.kind == APPEND:
            join = F.lit(k.prev_delim or " ")
            state[k.name] = F.coalesce(F.concat(state[k.name], join, v), v)
        elif k.kind == INDIRECT:
            ref = state[k.name]
            for name in state:
                state[name] = F.when(ref == F.lit(name), v).otherwise(state[name])
    dropped = {k.name for k in d.keys if not k.saveable}
    cols = {
        name: absent if name in dropped else state[name] for name in d.output_keys
    }
    return kernel, cols
