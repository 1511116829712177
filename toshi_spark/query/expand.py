"""Fuzzy and regex expansion over the term dictionary held on the driver.

Toshi runs fuzzy and regex queries as automata over a segment's term
dictionary, inside the reader.  A catalog handle holds the committed
dictionary on the driver (``FullTextIndex.term_dict``), so the same
expansion runs here with no Spark job: :class:`FieldTerms` keeps one
field's terms sorted (for the regex literal-prefix range) and grouped
by length as code-point matrices (for a numpy Levenshtein or
restricted Damerau DP over the fuzzy length band).

A regex expands on the driver only when :func:`python_regex` can
translate it to a Python pattern that provably matches the same terms
as Spark's ``rlike`` (``java.util.regex``) over ``^(?:pattern)$``;
every other pattern keeps the Spark expansion.
"""

from __future__ import annotations

import bisect
import re

import numpy as np


class FieldTerms:
    """One field's dictionary terms: ``terms`` sorted in code-point
    order (UTF-8 byte order, which is Spark's string order), and per
    term length L the terms of that length with their code points as an
    (L, n) uint32 matrix, one row per character position."""

    def __init__(self, terms: list[str]):
        self.terms = sorted(terms)
        by_len: dict[int, list[str]] = {}
        for t in self.terms:
            by_len.setdefault(len(t), []).append(t)
        self.by_len = {
            n: (ts, np.ascontiguousarray(np.frombuffer(
                "".join(ts).encode("utf-32-le"),
                dtype=np.uint32).reshape(len(ts), n).T))
            for n, ts in by_len.items()
        }

    def has(self, term: str) -> bool:
        i = bisect.bisect_left(self.terms, term)
        return i < len(self.terms) and self.terms[i] == term

    def prefixed(self, prefix: str) -> list[str]:
        """The terms that start with ``prefix``."""
        if not prefix:
            return self.terms
        lo = bisect.bisect_left(self.terms, prefix)
        last = prefix[-1]
        if ord(last) == 0x10FFFF:
            hi = len(self.terms)
        else:
            hi = bisect.bisect_left(self.terms,
                                    prefix[:-1] + chr(ord(last) + 1))
        return self.terms[lo:hi]


def field_terms(term_dict: dict[tuple[str, str], int]) -> dict[str, FieldTerms]:
    """Per-field :class:`FieldTerms` of a ``{(field, term): df}``
    dictionary."""
    grouped: dict[str, list[str]] = {}
    for f, t in term_dict:
        grouped.setdefault(f, []).append(t)
    return {f: FieldTerms(ts) for f, ts in grouped.items()}


def _edit_distance(cols: np.ndarray, value: str, bound: int,
                   transposition: bool) -> np.ndarray:
    """Levenshtein distance, capped at ``bound + 1``, of each of n terms
    of one length L to ``value``; with ``transposition`` the restricted
    Damerau (optimal string alignment) distance, which also counts a
    swap of two adjacent characters as one edit.  ``cols`` is the (L, n)
    code-point matrix, one contiguous row per character position.  The
    DP is vectorized over the n terms and only fills the diagonal band
    ``|i - j| ≤ bound`` (Ukkonen): a cell off the band exceeds it, as no
    edit, a swap included, changes the length difference by more than
    one."""
    width = cols.shape[0]
    # no distance exceeds width + len(value), so the cap fits an int32
    bound = min(bound, width + len(value))
    cap = np.int32(bound + 1)
    # prev[j] = D[i-1][j] and prev2[j] = D[i-2][j] on the band (scalars
    # until a term column enters); cells outside the band read as the cap
    prev2 = {}
    prev = {j: np.int32(j) for j in range(min(width, bound) + 1)}
    for i, ch in enumerate(value, 1):
        code = np.uint32(ord(ch))
        cur = {}
        if i <= bound:
            cur[0] = np.int32(i)
        for j in range(max(1, i - bound), min(width, i + bound) + 1):
            cost = cols[j - 1] != code
            d = np.minimum(prev.get(j - 1, cap) + cost,
                           prev.get(j, cap) + 1)
            d = np.minimum(d, cur.get(j - 1, cap) + 1)
            if transposition and i > 1 and j > 1:
                swap = ((cols[j - 2] == code)
                        & (cols[j - 1] == np.uint32(ord(value[i - 2]))))
                d = np.minimum(d, np.where(swap, prev2.get(j - 2, cap) + cost,
                                           cap))
            cur[j] = np.minimum(d, cap)
        prev2, prev = prev, cur
    out = prev.get(width, cap)
    n = cols.shape[1]
    return np.broadcast_to(out, (n,)) if np.ndim(out) == 0 else out


def fuzzy_terms(ft: FieldTerms, value: str, distance: int,
                transposition: bool) -> list[str]:
    """The field's terms within ``distance`` edits of ``value``:
    Levenshtein, or with ``transposition`` restricted Damerau-
    Levenshtein, the same sets the Spark expansion selects."""
    if distance == 0:
        return [value] if ft.has(value) else []
    out = []
    for n, (ts, cols) in ft.by_len.items():
        # a term within distance d of value differs from it in length
        # by at most d
        if abs(n - len(value)) > distance:
            continue
        dist = _edit_distance(cols, value, distance, transposition)
        out.extend(ts[k] for k in np.flatnonzero(dist <= distance))
    return sorted(out)


# --------------------------------------------------------------- regex

# Java's line terminators: ``.`` matches none of them (no DOTALL), and
# the ``$`` of ``^(?:p)$`` also matches just before one at the end
_JAVA_EOL = "\n\r\x85\u2028\u2029"
_JAVA_DOT = "[^\\n\\r\\x85\\u2028\\u2029]"
_META = set(".^$*+?{}[]|()\\")
# ASCII punctuation: a backslash before one is that literal character
# in both dialects
_PUNCT = set("!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~")
_QUANT = re.compile(r"\{(\d+)(,(\d*))?\}")


class _Unsupported(Exception):
    pass


def python_regex(pattern: str) -> re.Pattern | None:
    """A Python pattern that fully matches exactly the strings ``p``
    matches in ``java.util.regex``, or None when ``pattern`` leaves the
    syntax both dialects read alike: literals, ``.``, escaped ASCII
    punctuation, bracket classes of literals and ranges (optionally
    negated), groups ``(…)``/``(?:…)``, ``|``, and the greedy
    quantifiers ``* + ? {n} {n,} {n,m}``.  Shorthand classes (``\\w``,
    ``\\d``, ``\\s`` are ASCII-only in Java), anchors, flags,
    lookaround, backreferences, lazy and possessive quantifiers and
    Java's class unions/intersections are all refused.  ``.`` becomes a
    class that excludes Java's line terminators."""
    try:
        out, i = _alt(pattern, 0)
    except _Unsupported:
        return None
    if i != len(pattern):
        return None
    try:
        return re.compile(out)
    except re.error:
        return None


def _alt(p: str, i: int) -> tuple[str, int]:
    parts = []
    while True:
        seq, i = _seq(p, i)
        parts.append(seq)
        if i < len(p) and p[i] == "|":
            i += 1
            continue
        return "|".join(parts), i


def _seq(p: str, i: int) -> tuple[str, int]:
    out = []
    while i < len(p) and p[i] not in "|)":
        atom, i = _atom(p, i)
        if i < len(p) and p[i] in "*+?{":
            if p[i] == "{":
                m = _QUANT.match(p, i)
                if m is None or (m.group(3) and
                                 int(m.group(3)) < int(m.group(1))):
                    raise _Unsupported
                atom += m.group(0)
                i = m.end()
            else:
                atom += p[i]
                i += 1
            if i < len(p) and p[i] in "*+?{":
                raise _Unsupported  # lazy, possessive or stacked
        out.append(atom)
    return "".join(out), i


def _atom(p: str, i: int) -> tuple[str, int]:
    c = p[i]
    if c == ".":
        return _JAVA_DOT, i + 1
    if c == "\\":
        if i + 1 < len(p) and p[i + 1] in _PUNCT:
            return re.escape(p[i + 1]), i + 2
        raise _Unsupported
    if c == "[":
        return _klass(p, i + 1)
    if c == "(":
        i += 1
        if p.startswith("?:", i):
            i += 2
        elif i < len(p) and p[i] == "?":
            raise _Unsupported
        inner, i = _alt(p, i)
        if i >= len(p) or p[i] != ")":
            raise _Unsupported
        return f"(?:{inner})", i + 1
    if c in _META:
        raise _Unsupported
    return re.escape(c), i + 1


def _klass(p: str, i: int) -> tuple[str, int]:
    neg = i < len(p) and p[i] == "^"
    if neg:
        i += 1
    items = []
    while True:
        if i >= len(p):
            raise _Unsupported
        if p[i] == "]":
            if not items:
                raise _Unsupported  # Java and Python read "[]" apart
            break
        lo, i = _class_char(p, i)
        if i + 1 < len(p) and p[i] == "-" and p[i + 1] != "]":
            hi, i = _class_char(p, i + 1)
            if hi < lo:
                raise _Unsupported
            items.append(re.escape(lo) + "-" + re.escape(hi))
        else:
            items.append(re.escape(lo))
    return "[" + ("^" if neg else "") + "".join(items) + "]", i + 1


def _class_char(p: str, i: int) -> tuple[str, int]:
    c = p[i]
    if c == "\\":
        if i + 1 < len(p) and p[i + 1] in _PUNCT:
            return p[i + 1], i + 2
        raise _Unsupported
    if c in "[]&^-":
        raise _Unsupported  # Java unions, intersections; stray - or ^
    return c, i + 1


def rlike_full(rx: re.Pattern, term: str) -> bool:
    """Whether Java finds ``^(?:p)$`` in ``term``, for ``rx`` from
    :func:`python_regex`.  Java's ``$`` matches at the end of the input
    and also before a final line terminator (``\\r\\n``, or one of
    ``\\n \\r \\u0085 \\u2028 \\u2029``), but not between ``\\r`` and
    ``\\n``."""
    if rx.fullmatch(term):
        return True
    if term.endswith("\r\n"):
        return rx.fullmatch(term, 0, len(term) - 2) is not None
    if term and term[-1] in _JAVA_EOL:
        return rx.fullmatch(term, 0, len(term) - 1) is not None
    return False


def regex_terms(ft: FieldTerms, rx: re.Pattern, prefix: str) -> list[str]:
    """The field's terms that ``rx`` (from :func:`python_regex`)
    matches as Spark's ``rlike`` of ``^(?:p)$`` does, searched among
    the terms that start with the pattern's literal ``prefix``."""
    return [t for t in ft.prefixed(prefix) if rlike_full(rx, t)]


def regex_literal_prefix(pattern: str) -> str:
    """Longest literal prefix of a regex (chars before any metachar).

    Conservative: stops at the first metacharacter and drops the last
    literal char if the NEXT token could make it optional/repeated
    (e.g. "ab?" must not assume 'b').  A pattern containing '|'
    anywhere gets NO prefix: a top-level alternation means the scanned
    literal only prefixes the FIRST branch ("w1|w2|w3" must still
    match w2), and distinguishing top-level from grouped pipes isn't
    worth the parse — the prefix is an optimization, never a filter.
    """
    if "|" in pattern:
        return ""
    out: list[str] = []
    i = 0
    n = len(pattern)
    while i < n and pattern[i] not in _META:
        out.append(pattern[i])
        i += 1
    if i < n and pattern[i] in "?*{" and out:
        out.pop()  # the preceding literal may repeat zero times
    return "".join(out)


def _damerau(a: str, b: str, cap: int) -> int:
    """Restricted Damerau-Levenshtein with early exit above ``cap``."""
    if abs(len(a) - len(b)) > cap:
        return cap + 1
    prev2: list[int] = []
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i] + [0] * len(b)
        for j, cb in enumerate(b, 1):
            cost = 0 if ca == cb else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if i > 1 and j > 1 and ca == b[j - 2] and a[i - 2] == cb:
                cur[j] = min(cur[j], prev2[j - 2] + cost)
        prev2, prev = prev, cur
        if min(prev) > cap:
            return cap + 1
    return prev[len(b)]
