"""Text analysis: the Tantivy ``default`` analyzer chain, vectorized.

Semantics (reference evidence)
------------------------------
Toshi schemas select ``tokenizer: "default"`` (reference:
``requests.http:15``, ``toshi-server/src/handlers/index.rs:86``); Toshi
registers tokenizers at ``toshi-server/src/lib.rs:57-77`` and otherwise
delegates analysis to Tantivy 0.19, whose public documentation defines
the ``default`` chain as:

1. **SimpleTokenizer** — split the text into maximal runs of Unicode
   alphanumeric characters (``char::is_alphanumeric``: Alphabetic or
   Nd/Nl/No).  Underscore and punctuation are separators.  Each raw
   token gets a position = its 0-based index in the raw token stream.
2. **RemoveLongFilter(limit=40)** — drop tokens whose UTF-8 byte length
   is >= 40 (kept iff ``len_bytes < 40``).  Dropped tokens still consume
   a position (the filter does not renumber).
3. **LowerCaser** — Unicode lowercase.

Python mapping: ``str.isalnum()`` mirrors Rust ``char::is_alphanumeric``
(both are Alphabetic|Nd|Nl|No up to minor Unicode-category edge cases);
``str.lower()`` mirrors ``char::to_lowercase``.  The fast path uses
``\\w+`` regex runs and falls back to an exact per-char regroup whenever
a run contains characters Rust would treat as separators (underscore,
combining marks).  Golden-file tests pin byte-identical output.

Everything here is Arrow-batched (pandas UDF / mapInPandas) — no
per-row Python UDFs in the Spark plan.
"""

from __future__ import annotations

import itertools
import re
from collections.abc import Iterator

import numpy as _np

TOKEN_BYTE_LIMIT = 40  # Tantivy RemoveLongFilter::limit(40)
# max token bytes one vectorized-kernel call may compact (int32 Arrow
# offsets cap a single call at 2 GiB; stay well under)
FAST_CHUNK_BYTES = 1 << 30

_WORD_RE = re.compile(r"\w+", re.UNICODE)
_ASCII_SAFE = re.compile(r"[0-9A-Za-z]+\Z")


def raw_tokens(text: str) -> Iterator[str]:
    """Maximal runs of Unicode-alphanumeric chars, in order (pre-filter)."""
    for m in _WORD_RE.finditer(text):
        tok = m.group()
        if _ASCII_SAFE.match(tok) or tok.isalnum():
            yield tok
        else:
            # \w matched chars Rust's is_alphanumeric would not
            # (underscore, combining marks): regroup exactly.
            for is_alnum, grp in itertools.groupby(tok, key=str.isalnum):
                if is_alnum:
                    yield "".join(grp)


def tokenize(text: str) -> list[tuple[str, int]]:
    """Full analyzer chain → list of (term, position)."""
    out: list[tuple[str, int]] = []
    for pos, tok in enumerate(raw_tokens(text)):
        if len(tok.encode("utf-8")) < TOKEN_BYTE_LIMIT:
            out.append((tok.lower(), pos))
    return out


def terms_only(text: str) -> list[str]:
    return [t for t, _ in tokenize(text)]


def analyze_doc(text: str) -> tuple[dict[str, list[int]], int]:
    """One doc → (term → positions, doc_len).  Single-pass, no tuples.

    doc_len counts KEPT tokens (post RemoveLongFilter) — the fieldnorm
    semantics pinned by the rank-identity oracle; positions still index
    the raw stream (dropped tokens leave gaps).
    """
    agg: dict[str, list[int]] = {}
    kept = 0
    limit = TOKEN_BYTE_LIMIT
    for pos, tok in enumerate(raw_tokens(text)):
        if len(tok.encode("utf-8")) < limit:
            agg.setdefault(tok.lower(), []).append(pos)
            kept += 1
    return agg, kept


# ------------------------------------------------------- tokenizer registry
#
# Toshi registers extra tokenizers by the schema's tokenizer NAME — the
# feature-gated CJK tokenizer goes in under ``cang_jie::CANG_JIE``
# (``toshi-server/src/lib.rs:57-72``, ``Cargo.toml:18,49``).  The
# registry mirrors that: the schema's ``tokenizer`` option selects the
# analyze function.  ``cang_jie`` here is a CJK BIGRAM tokenizer (the
# Lucene-CJKAnalyzer approach) — jieba's dictionary segmentation (what
# the cang-jie crate wraps) is not reproducible without its dictionary,
# and bigrams are the standard dictionary-free CJK indexing scheme.

# Han (incl. ext A + compatibility), Hiragana, Katakana, Hangul
_CJK_RANGES = (
    "぀-ヿ"  # Hiragana + Katakana
    "㐀-䶿"  # CJK ext A
    "一-鿿"  # CJK unified
    "가-힯"  # Hangul syllables
    "豈-﫿"  # CJK compatibility
)
_CJK_SPLIT_RE = re.compile(rf"([{_CJK_RANGES}]+)", re.UNICODE)
_CJK_CHAR_RE = re.compile(rf"[{_CJK_RANGES}]\Z", re.UNICODE)


def raw_tokens_cjk(text: str) -> Iterator[str]:
    """CJK runs → overlapping character bigrams (single char if the run
    is length 1); non-CJK segments tokenize like the default chain."""
    for part in _CJK_SPLIT_RE.split(text):
        if not part:
            continue
        if _CJK_CHAR_RE.match(part[0]):
            if len(part) == 1:
                yield part
            else:
                for i in range(len(part) - 1):
                    yield part[i : i + 2]
        else:
            yield from raw_tokens(part)


def _make_raw_tokens_cjk_dict(dictionary: dict, stats) -> "callable":
    """Build a CJK dictionary tokenizer CLOSURE over a snapshot of the
    dictionary + its precomputed stats.  The snapshot must ride the
    closure: Spark ships closures by VALUE but module-level functions
    by REFERENCE, and an executor's fresh import of cjk.py would see
    the demo dictionary, silently segmenting indexed text differently
    from query-side analysis."""
    from .cjk import segment_with

    def raw_tokens_cjk_dict(text: str) -> Iterator[str]:
        for part in _CJK_SPLIT_RE.split(text):
            if not part:
                continue
            if _CJK_CHAR_RE.match(part[0]):
                yield from segment_with(part, dictionary, stats)
            else:
                yield from raw_tokens(part)

    return raw_tokens_cjk_dict


def _analyze_doc_with(tokens_fn) -> "callable":
    def analyze(text: str) -> tuple[dict[str, list[int]], int]:
        agg: dict[str, list[int]] = {}
        kept = 0
        limit = TOKEN_BYTE_LIMIT
        for pos, tok in enumerate(tokens_fn(text)):
            if len(tok.encode("utf-8")) < limit:
                agg.setdefault(tok.lower(), []).append(pos)
                kept += 1
        return agg, kept

    return analyze


def _analyze_doc_raw(text: str) -> tuple[dict[str, list[int]], int]:
    """Tantivy's ``raw`` tokenizer: the whole value is ONE verbatim
    token (no lowercasing, no splitting), position 0."""
    if text == "":
        return {}, 0
    return {text: [0]}, 1


# bump when an analyzer's OUTPUT changes for the same input (indexed
# terms are derived data — an index built under another version would
# silently stop matching query-side analysis).  The catalog stamps
# this per index at create time and open() refuses a stemmed-field
# index stamped differently.  History: 1 = Porter-1980 en_stem;
# 2 = Snowball/Porter2 en_stem (round 4).
ANALYZER_VERSIONS: dict[str, int] = {
    "default": 1,
    "raw": 1,
    "en_stem": 2,
    "cang_jie": 1,
    "cjk": 1,
    "cang_jie_dict": 1,
}


def _analyze_doc_en_stem(text: str) -> tuple[dict[str, list[int]], int]:
    """Tantivy's ``en_stem`` chain: simple tokenizer → remove-long →
    lowercase → Snowball English stemmer (porter.py)."""
    from .porter import stem

    agg: dict[str, list[int]] = {}
    kept = 0
    for pos, tok in enumerate(raw_tokens(text)):
        if len(tok.encode("utf-8")) < TOKEN_BYTE_LIMIT:
            agg.setdefault(stem(tok.lower()), []).append(pos)
            kept += 1
    return agg, kept


ANALYZERS: dict[str, "callable"] = {
    "default": analyze_doc,
    "raw": _analyze_doc_raw,
    "en_stem": _analyze_doc_en_stem,
    "cang_jie": _analyze_doc_with(raw_tokens_cjk),
    "cjk": _analyze_doc_with(raw_tokens_cjk),  # convenience alias
    # opt-in jieba-style dictionary segmentation (cjk.py): the actual
    # cang-jie/jieba ALGORITHM with a pluggable {word: freq} dictionary.
    # Sentinel: get_analyzer builds a fresh closure over the ACTIVE
    # dictionary snapshot (see _make_raw_tokens_cjk_dict)
    "cang_jie_dict": None,
}


def get_analyzer(name: str):
    # case-insensitive: reference schemas spell the CJK tokenizer
    # 'CANG_JIE' (the cang_jie::CANG_JIE constant,
    # toshi-server/src/handlers/index.rs:105, lib.rs:63-69)
    key = str(name).lower()
    try:
        fn = ANALYZERS[key]
    except KeyError:
        raise ValueError(
            f"Unknown tokenizer: {name!r} (registered: "
            f"{sorted(ANALYZERS)})"
        ) from None
    if fn is None:  # cang_jie_dict: snapshot the active dictionary
        from .cjk import active_dict, dict_stats

        d = active_dict()
        return _analyze_doc_with(_make_raw_tokens_cjk_dict(
            d, dict_stats(d)))
    return fn


def analyzer_version(name: str):
    """Version identity for one tokenizer's OUTPUT.  For dictionary
    tokenizers the identity includes the active dictionary's
    fingerprint — a dictionary swap changes indexed terms exactly like
    an algorithm change would."""
    key = str(name).lower()
    base = ANALYZER_VERSIONS.get(key, 1)
    if key == "cang_jie_dict":
        from .cjk import dictionary_fingerprint

        return f"{base}:{dictionary_fingerprint()}"
    return base


# every registered analyzer must carry a version (a new entry without
# one would KeyError at index create, outside the API error contract)
assert set(ANALYZER_VERSIONS) == set(ANALYZERS), (
    "ANALYZER_VERSIONS out of sync with ANALYZERS"
)


def terms_for(text: str, tokenizer: str = "default") -> list[str]:
    """Analyzed terms in raw-stream order (query-side analysis)."""
    agg, _ = get_analyzer(tokenizer)(text)
    flat = [(p, t) for t, ps in agg.items() for p in ps]
    return [t for _, t in sorted(flat)]


def analyze_multi(analyze, value) -> tuple[dict[str, list[int]], int]:
    """Analyze a (possibly multi-valued) field value.

    Tantivy documents may carry several values per field
    (``FlatNamedDocument``, toshi-types/src/query/mod.rs:322-338);
    each value is analyzed separately and positions continue across
    values with Tantivy's POSITION_GAP = 2 scheme (tantivy
    ``src/indexer/segment_writer.rs``): value k+1's first token sits at
    ``last_position(value k) + 2``, leaving exactly one empty position
    between values, so an adjacent-position phrase can never match
    across a value boundary.  doc_len is the total kept-token count.
    """
    if isinstance(value, str) or value is None:
        return analyze(value if isinstance(value, str) else "")
    agg: dict[str, list[int]] = {}
    kept_total = 0
    base = 0
    for v in value:
        sub, kept = analyze(v if isinstance(v, str) else "")
        max_pos = -1
        for term, ps in sub.items():
            out = agg.setdefault(term, [])
            for p in ps:
                out.append(p + base)
                if p > max_pos:
                    max_pos = p
        kept_total += kept
        base += max_pos + 2  # +1 position gap between values
    for ps in agg.values():
        ps.sort()
    return agg, kept_total


# ------------------------------------------------ vectorized ASCII kernel
#
# Byte-level lookup tables for the default chain over ASCII text.  For
# ASCII, Rust char::is_alphanumeric == [0-9A-Za-z], UTF-8 byte length
# == char count, and char::to_lowercase == the +32 table — so the whole
# analyzer chain collapses to numpy array passes with ZERO per-token
# Python.  Non-ASCII docs (and multi-valued fields / non-default
# tokenizers) take the exact scalar path; golden tests pin both paths
# byte-identical.
_ALNUM_ASCII = _np.zeros(256, dtype=bool)
for _c in range(128):
    _ALNUM_ASCII[_c] = chr(_c).isalnum()
_LOWER_ASCII = _np.arange(256, dtype=_np.uint8)
_LOWER_ASCII[ord("A"): ord("Z") + 1] += 32
del _c


def _analyze_ascii_batch(ids, texts, field, out_schema):
    """Vectorized default-chain analysis of ASCII docs → one RecordBatch.

    Same output contract as the scalar loop in analyze_arrow_batches
    (per-(doc, term) rows with tf / raw-stream positions / kept-token
    doc_len; tf=0 sentinel for docs with no kept tokens), computed as
    whole-batch numpy passes:

      alnum-run find (boundary diff of a byte-class table) →
      per-run doc index (searchsorted on separator offsets) →
      RemoveLongFilter mask (run byte length, == char length in ASCII) →
      lowercase (uint8 table gather) → token strings as ONE compacted
      Arrow buffer → dictionary-encode (C hash) → stable argsort on the
      combined (doc, term) key → group-boundary diff for tf + the flat
      positions buffer.

    Positions index the raw run stream (dropped long tokens leave
    gaps), exactly like the scalar chain.  Underscore is non-alnum in
    the table, so Rust-vs-``\\w`` regrouping is inherent — no fallback
    needed for ``_``.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    np = _np
    n_docs = len(texts)
    char_lens = np.fromiter((len(t) for t in texts), np.int64, n_docs)
    buf = np.frombuffer("\x00".join(texts).encode("ascii"), np.uint8)
    # separator offsets from the KNOWN doc lengths — an embedded NUL
    # inside a doc is just another non-alnum byte, never a doc boundary
    sep_pos = np.cumsum(char_lens + 1)[:-1] - 1

    alnum = _ALNUM_ASCII[buf]
    shifted = np.empty(len(buf), dtype=bool)
    if len(buf):
        shifted[0] = False
        shifted[1:] = alnum[:-1]
    starts = np.nonzero(alnum & ~shifted)[0]
    if len(buf):
        shifted[-1] = False
        shifted[:-1] = alnum[1:]
    ends = np.nonzero(alnum & ~shifted)[0] + 1
    lens = ends - starts

    doc_of = np.searchsorted(sep_pos, starts)
    runs_per_doc = np.bincount(doc_of, minlength=n_docs)
    run_start = np.zeros(n_docs + 1, np.int64)
    np.cumsum(runs_per_doc, out=run_start[1:])
    # raw-stream position = run ordinal within its doc
    pos = np.arange(len(starts), dtype=np.int64) - np.repeat(
        run_start[:-1], runs_per_doc
    )

    kept = lens < TOKEN_BYTE_LIMIT
    sk, lk = starts[kept], lens[kept]
    out_off = np.zeros(len(lk) + 1, np.int64)
    np.cumsum(lk, out=out_off[1:])
    tot = int(out_off[-1])
    # vectorized variable-length slice compaction: for output byte j of
    # token i, gather index = token_start[i] + (j - out_start[i])
    gather = np.repeat(sk - out_off[:-1], lk) + np.arange(tot, dtype=np.int64)
    token_values = _LOWER_ASCII[buf[gather]]
    tokens = pa.StringArray.from_buffers(
        len(lk),
        pa.py_buffer(out_off.astype(np.int32).tobytes()),
        pa.py_buffer(token_values.tobytes()),
    )
    return _group_and_emit(
        ids, tokens, doc_of[kept], pos[kept], n_docs, field, out_schema
    )


def _group_and_emit(ids, tokens, di, pi, n_docs, field, out_schema):
    """Shared kernel tail: kept-token stream → per-(doc, term) rows.

    ``tokens`` is an Arrow StringArray of kept (already-lowercased)
    tokens, ``di``/``pi`` the parallel doc-index / raw-stream-position
    arrays.  Dictionary-encode (C hash) → stable argsort on the fused
    (doc, term) key → group-boundary diff for tf + the flat positions
    buffer; docs with zero kept tokens emit the tf=0 sentinel row."""
    import pyarrow as pa
    import pyarrow.compute as pc

    np = _np
    encoded = pc.dictionary_encode(tokens)
    tid = encoded.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    dictionary = encoded.dictionary

    # stable sort on the fused key ≡ lexsort by (doc, term); stability
    # keeps each group's positions in raw-stream (ascending) order
    order = np.argsort(di * np.int64(max(len(dictionary), 1)) + tid,
                       kind="stable")
    dio, tio, pio = di[order], tid[order], pi[order]
    if len(dio):
        chg = np.empty(len(dio), dtype=bool)
        chg[0] = True
        np.logical_or(dio[1:] != dio[:-1], tio[1:] != tio[:-1], out=chg[1:])
        gs = np.nonzero(chg)[0]
        tf = np.diff(np.append(gs, len(dio))).astype(np.int32)
    else:
        gs = np.empty(0, np.int64)
        tf = np.empty(0, np.int32)
    doclen = np.bincount(di, minlength=n_docs)

    ids_np = np.asarray(ids, dtype=np.int64)
    g_doc = dio[gs]
    sentinel_docs = np.nonzero(doclen == 0)[0]
    n_sent = len(sentinel_docs)

    doc_id_col = pa.array(
        np.concatenate([ids_np[g_doc], ids_np[sentinel_docs]]),
        type=pa.int64(),
    )
    term_col = pa.concat_arrays(
        [pc.take(dictionary, pa.array(tio[gs])).cast(pa.string()),
         pa.array([""] * n_sent, type=pa.string())]
    )
    tf_col = pa.array(np.concatenate([tf, np.zeros(n_sent, np.int32)]),
                      type=pa.int32())
    pos_offsets = np.concatenate(
        [gs, np.full(n_sent + 1, len(pio), dtype=np.int64)]
    ).astype(np.int32)
    pos_col = pa.ListArray.from_arrays(
        pa.array(pos_offsets, type=pa.int32()),
        pa.array(pio.astype(np.int32), type=pa.int32()),
    )
    doclen_col = pa.array(
        np.concatenate([doclen[g_doc], np.zeros(n_sent, np.int64)]),
        type=pa.int32(),
    )
    n_rows = len(g_doc) + n_sent
    return pa.RecordBatch.from_arrays(
        [
            doc_id_col,
            pa.array([field] * n_rows, type=pa.string()),
            term_col,
            tf_col,
            pos_col,
            doclen_col,
        ],
        schema=out_schema,
    )


# -------------------------------------------- vectorized Unicode kernel
#
# The default chain for NON-ASCII text, vectorized at codepoint level:
# one C pass decodes the batch to a uint32 codepoint buffer (UTF-32LE),
# then the same boundary-diff/run machinery as the ASCII kernel runs
# over 64 KiB BMP lookup tables (alnum class, simple lowercase, UTF-8
# byte width).  Docs that need semantics the tables can't express are
# returned as LEFTOVERS for the exact scalar path:
#   - astral codepoints (≥ U+10000) — outside the BMP tables;
#   - one-to-many lowercase (İ → i + U+0307) — changes char count;
#   - Σ (U+03A3) — Python str.lower() applies the Final_Sigma context
#     rule, which a per-codepoint table cannot.
# Everything else (Latin-1, Cyrillic, Greek, Arabic, CJK, Hangul — the
# scripts that dominate a multilingual crawl) stays vectorized.  The
# golden + hypothesis suites pin both paths byte-identical.

_BMP = 0x10000
_U_TABLES: tuple | None = None


def _unicode_tables():
    """Lazily-built BMP tables (one ~50 ms pass per process):
    (alnum bool, simple-lower uint32, case-unsafe bool, utf8-bytes int64).
    """
    global _U_TABLES
    if _U_TABLES is None:
        np = _np
        alnum = np.zeros(_BMP, dtype=bool)
        lower = np.arange(_BMP, dtype=np.uint32)
        unsafe = np.zeros(_BMP, dtype=bool)
        for c in range(_BMP):
            ch = chr(c)
            alnum[c] = ch.isalnum()
            lo = ch.lower()
            # one-to-one AND BMP-to-BMP only: a lowercase mapping out
            # of the BMP (none exists in Unicode today, but the width
            # table only covers the BMP) would corrupt byte offsets
            if len(lo) == 1 and ord(lo) < _BMP:
                lower[c] = ord(lo)
            else:
                unsafe[c] = True
        unsafe[0x03A3] = True  # Σ: Final_Sigma is context-sensitive
        u8len = np.ones(_BMP, dtype=np.int64)
        u8len[0x80:] = 2
        u8len[0x800:] = 3
        _U_TABLES = (alnum, lower, unsafe, u8len)
    return _U_TABLES


def _analyze_unicode_batch(ids, texts, field, out_schema):
    """Vectorized default-chain analysis of non-ASCII (BMP, case-safe)
    docs → (RecordBatch | None, leftover (id, text) pairs).

    Mirrors `_analyze_ascii_batch` with codepoint units instead of
    bytes: alnum runs by boundary diff over the BMP class table,
    RemoveLongFilter on the RAW token's UTF-8 byte length (cumsum of
    per-char widths — the filter runs before LowerCaser, exactly like
    the scalar chain), lowercase as a uint32 table gather, then one
    UTF-32→str→UTF-8 C round-trip materializes the compacted token
    buffer whose per-token byte offsets come from the LOWERCASED
    widths (lowercase can change byte width: Ɫ 3B → ɫ 2B).
    """
    import pyarrow as pa

    np = _np
    alnum_t, lower_t, unsafe_t, u8len_t = _unicode_tables()
    n_docs = len(texts)
    char_lens = np.fromiter((len(t) for t in texts), np.int64, n_docs)
    buf = np.frombuffer(
        "\x00".join(texts).encode("utf-32-le"), dtype=np.uint32
    )
    sep_pos = np.cumsum(char_lens + 1)[:-1] - 1

    # route docs the tables can't express to the scalar path
    astral = buf >= _BMP
    bad_chars = unsafe_t[np.where(astral, 0, buf)] | astral
    if bad_chars.any():
        bad_docs = np.unique(
            np.searchsorted(sep_pos, np.nonzero(bad_chars)[0])
        )
        leftovers = [(ids[d], texts[d]) for d in bad_docs]
        good = np.ones(n_docs, dtype=bool)
        good[bad_docs] = False
        ids = [i for i, g in zip(ids, good) if g]
        texts = [t for t, g in zip(texts, good) if g]
        if not texts:
            return None, leftovers
        n_docs = len(texts)
        char_lens = np.fromiter((len(t) for t in texts), np.int64, n_docs)
        buf = np.frombuffer(
            "\x00".join(texts).encode("utf-32-le"), dtype=np.uint32
        )
        sep_pos = np.cumsum(char_lens + 1)[:-1] - 1
    else:
        leftovers = []

    alnum = alnum_t[np.minimum(buf, _BMP - 1)]
    shifted = np.empty(len(buf), dtype=bool)
    if len(buf):
        shifted[0] = False
        shifted[1:] = alnum[:-1]
    starts = np.nonzero(alnum & ~shifted)[0]
    if len(buf):
        shifted[-1] = False
        shifted[:-1] = alnum[1:]
    ends = np.nonzero(alnum & ~shifted)[0] + 1
    lens = ends - starts

    doc_of = np.searchsorted(sep_pos, starts)
    runs_per_doc = np.bincount(doc_of, minlength=n_docs)
    run_start = np.zeros(n_docs + 1, np.int64)
    np.cumsum(runs_per_doc, out=run_start[1:])
    pos = np.arange(len(starts), dtype=np.int64) - np.repeat(
        run_start[:-1], runs_per_doc
    )

    # RemoveLongFilter on RAW UTF-8 byte length (exclusive prefix sum
    # of per-char widths → per-run byte totals)
    wcs = np.zeros(len(buf) + 1, np.int64)
    np.cumsum(u8len_t[np.minimum(buf, _BMP - 1)], out=wcs[1:])
    raw_bytes = wcs[ends] - wcs[starts]
    kept = raw_bytes < TOKEN_BYTE_LIMIT
    sk, lk = starts[kept], lens[kept]
    out_off = np.zeros(len(lk) + 1, np.int64)
    np.cumsum(lk, out=out_off[1:])
    tot = int(out_off[-1])
    gather = np.repeat(sk - out_off[:-1], lk) + np.arange(tot, dtype=np.int64)
    lo_chars = lower_t[buf[gather]]
    # token BYTE offsets from the lowercased widths, then one C
    # round-trip to a UTF-8 buffer
    bcs = np.zeros(tot + 1, np.int64)
    np.cumsum(u8len_t[lo_chars], out=bcs[1:])
    byte_off = bcs[out_off]
    data = lo_chars.tobytes().decode("utf-32-le").encode("utf-8")
    tokens = pa.StringArray.from_buffers(
        len(lk),
        pa.py_buffer(byte_off.astype(np.int32).tobytes()),
        pa.py_buffer(data),
    )
    batch = _group_and_emit(
        ids, tokens, doc_of[kept], pos[kept], n_docs, field, out_schema
    )
    return batch, leftovers


def analyze_arrow_batches(
    batches,
    id_col: str = "doc_id",
    text_col: str = "text",
    field: str = "text",
    tokenizer: str = "default",
    analyze=None,
):
    """mapInArrow kernel: (id, text) RecordBatches → per-(doc, term) rows.

    Emits one output row per distinct term per document — the map-side
    partial aggregation of the inverted index.  Doing the doc-local
    (term → tf, positions) aggregation here (instead of exploding one
    row per token and shuffling) shrinks shuffle volume by the average
    term frequency — at 100 TB that is the difference between shuffling
    ~#tokens rows and ~#distinct-(doc,term) rows.

    Arrow-native output: positions are built as ONE flat int32 buffer +
    offsets (pa.ListArray.from_arrays), not per-row Python lists — this
    is what keeps the Python→JVM hop at memcpy speed instead of
    object-conversion speed.

    Docs that are single ASCII strings under the ``default`` tokenizer
    take the fully-vectorized `_analyze_ascii_batch` kernel (~3.5× the
    scalar loop, measured); non-ASCII / multi-valued / non-default rows
    take the exact scalar path in the same pass — both paths are pinned
    identical by tests/test_analyzer_fast.py.

    Output schema: doc_id long, field string, term string, tf int,
    positions array<int>, doc_len int (doc_len repeated per row so
    doclens reduces without a second corpus scan; empty docs emit one
    tf=0 sentinel row).
    """
    import pyarrow as pa

    # callers that run this on EXECUTORS must resolve the analyzer
    # driver-side and pass it in (`analyze=`): dictionary tokenizers
    # capture their dictionary in the closure, which only reaches the
    # workers by value — a by-name lookup here would resolve against
    # the worker's fresh module state instead
    if analyze is None:
        analyze = get_analyzer(tokenizer)
    # identity (not name) gate: a caller-supplied custom analyze under
    # the name "default" must not silently hit the vectorized chain
    use_fast = analyze is ANALYZERS["default"]
    out_schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("field", pa.string()),
            ("term", pa.string()),
            ("tf", pa.int32()),
            ("positions", pa.list_(pa.int32())),
            ("doc_len", pa.int32()),
        ]
    )
    for batch in batches:
        ids_in = batch.column(batch.schema.get_field_index(id_col)).to_pylist()
        texts = batch.column(batch.schema.get_field_index(text_col)).to_pylist()
        pairs = zip(ids_in, texts)
        if use_fast:
            fast_ids: list[int] = []
            fast_texts: list[str] = []
            uni_ids: list[int] = []
            uni_texts: list[str] = []
            slow: list[tuple] = []
            # unicode kernel buffers are 4 B/char (UTF-32) and UTF-8
            # output ≤ 3 B/char for BMP — budget in chars accordingly
            uni_budget = FAST_CHUNK_BYTES // 4
            for doc_id, text in pairs:
                if text is None:
                    # scalar path analyzes None as "" — same sentinel
                    fast_ids.append(doc_id)
                    fast_texts.append("")
                elif not isinstance(text, str):
                    slow.append((doc_id, text))
                elif text.isascii():
                    if len(text) <= FAST_CHUNK_BYTES:
                        fast_ids.append(doc_id)
                        fast_texts.append(text)
                    else:
                        # a single doc larger than the chunk budget
                        # could overflow the kernel's int32 Arrow
                        # offsets on its own — exact scalar path
                        slow.append((doc_id, text))
                elif len(text) <= uni_budget:
                    uni_ids.append(doc_id)
                    uni_texts.append(text)
                else:
                    slow.append((doc_id, text))
            if fast_ids:
                # Arrow string offsets in the kernel are int32: chunk so
                # one kernel call never compacts >1 GiB of token bytes
                # (only reachable with ~100 KiB+ docs at Arrow's 10k-row
                # default batch size, but overflow would be silent)
                # cut BEFORE the doc that would overflow, so a chunk's
                # token bytes (≤ its text bytes) never exceed the
                # budget — int32 offsets hold because
                # FAST_CHUNK_BYTES < 2**31 and oversized single docs
                # were routed to the scalar path above
                cut = [0]
                acc = 0
                for i, t in enumerate(fast_texts):
                    if acc + len(t) > FAST_CHUNK_BYTES and acc:
                        cut.append(i)
                        acc = 0
                    acc += len(t)
                cut.append(len(fast_texts))
                for lo, hi in zip(cut[:-1], cut[1:]):
                    if lo < hi:
                        yield _analyze_ascii_batch(
                            fast_ids[lo:hi], fast_texts[lo:hi],
                            field, out_schema,
                        )
            if uni_ids:
                # same pre-overflow chunk cut, in CHAR units
                cut = [0]
                acc = 0
                for i, t in enumerate(uni_texts):
                    if acc + len(t) > uni_budget and acc:
                        cut.append(i)
                        acc = 0
                    acc += len(t)
                cut.append(len(uni_texts))
                for lo, hi in zip(cut[:-1], cut[1:]):
                    if lo < hi:
                        rb, leftovers = _analyze_unicode_batch(
                            uni_ids[lo:hi], uni_texts[lo:hi],
                            field, out_schema,
                        )
                        if rb is not None:
                            yield rb
                        slow.extend(leftovers)
            if not slow:
                continue
            pairs = iter(slow)
        ids: list[int] = []
        terms: list[str] = []
        tfs: list[int] = []
        lens: list[int] = []
        offsets: list[int] = [0]
        flat_pos: list[int] = []
        for doc_id, text in pairs:
            agg, n = analyze_multi(analyze, text)
            if not agg:
                ids.append(doc_id)
                terms.append("")
                tfs.append(0)
                lens.append(0)
                offsets.append(len(flat_pos))
                continue
            for term, plist in agg.items():
                ids.append(doc_id)
                terms.append(term)
                tfs.append(len(plist))
                lens.append(n)
                flat_pos.extend(plist)
                offsets.append(len(flat_pos))
        n_rows = len(ids)
        arr_pos = pa.ListArray.from_arrays(
            pa.array(offsets, type=pa.int32()),
            pa.array(flat_pos, type=pa.int32()),
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ids, type=pa.int64()),
                pa.array([field] * n_rows, type=pa.string()),
                pa.array(terms, type=pa.string()),
                pa.array(tfs, type=pa.int32()),
                arr_pos,
                pa.array(lens, type=pa.int32()),
            ],
            schema=out_schema,
        )


ANALYZE_SCHEMA = (
    "doc_id long, field string, term string, tf int, "
    "positions array<int>, doc_len int"
)
