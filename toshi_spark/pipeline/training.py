"""Training-data assembly operators: decontamination, sequence
packing, and n-gram LM quality scoring.

These are the stages that sit BETWEEN a deduplicated web corpus and an
actual LLM training run (the reference engine stops at search-serving;
a crawl-scale corpus feeding a training job additionally needs these
— they are first-class pipeline citizens alongside dedup/quality in
toshi_spark.pipeline):

* ``contamination`` — GPT-3-appendix-C-style benchmark decontamination:
  flag every training document sharing an n-gram with the evaluation
  set.  The eval set is tiny (1e5-1e6 n-grams even for a large
  benchmark suite) so the join is a broadcast hash join against the
  data-scale n-gram stream — map-side, no shuffle of the corpus.
* ``pack_sequences`` — concat-and-chunk packing: lay every document's
  tokens end-to-end in doc_id order and cut fixed-length training
  sequences.  Needs a GLOBAL exclusive prefix sum of token counts; a
  bare ``Window.orderBy`` computes it on ONE partition (the classic
  single-reducer scale killer), so this implements the textbook
  two-phase distributed prefix sum instead: range-partition by key,
  per-partition local cumsum (parallel windows), tiny per-partition
  totals to the driver for the exclusive prefix, broadcast the P
  offsets back.  P rows cross the driver — never data.
* ``lm_score`` — CCNet-style quality scoring by corpus-trained n-gram
  LM: train a bigram model over the corpus (two groupBys — map-side
  partial aggs collapse repeated bigrams before the shuffle), then
  score each document by average bigram negative-log-likelihood with
  add-one smoothing.  The model join is a shuffle hash join keyed on
  the bigram — both sides data-scale, co-partitioned by the join.
* ``blocklist_filter`` — canonical-host blocklist: broadcast anti-join
  of pages against a blocked-host list (spam/SEO/adult domain lists in
  real crawls), after URL canonicalization so aliases of a blocked
  host cannot slip through.

Tokenization matches text_profile's ``n_tokens`` definition
(lowercased alnum runs) so counts agree across the pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"


def tokens_col(text: Column) -> Column:
    """Lowercased alnum-run tokens (empty strings filtered)."""
    return F.filter(
        F.split(F.lower(text), TOKEN_SPLIT_RE), lambda t: t != ""
    )


def ngrams_col(toks: Column, n: int) -> Column:
    """Sliding word n-grams (stride 1, space-joined); [] when the doc
    has fewer than n tokens.

    ``toks`` MUST be a bound attribute sitting behind a Generate
    barrier (use :func:`tokens_barrier`), never an inline expression:
    higher-order lambdas evaluate interpreted with no CSE across the
    lambda boundary, and CollapseProject happily substitutes a named
    projection into the lambda body when the plan has more than one
    consumer — so an inlined tokenizer split re-executes PER WINDOW,
    O(len²) per doc.  Full-query A/B at sf0.1 (contamination, n=8,
    236k grams, warm): tokenizer nested directly 11.0 s; named
    projection with no barrier 8.8 s (CollapseProject still inlines);
    an n-1 zip_with chain over shifted slices 5.2 s (inlining-proof
    but n-1 full array copies); transform behind the Generate barrier
    2.1 s — the design used here.

    The when-guard matters: sequence(1, len-n+1) with len < n would
    produce a DESCENDING sequence (Spark infers step -1), silently
    emitting garbage windows."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _bigram_pairs_col(toks: Column) -> Column:
    """Array of (w1, w2) structs — one per sliding bigram window; []
    when the doc has fewer than 2 tokens.  Pair identity ≡ gram-string
    identity (tokens are alnum runs, never containing the joiner), but
    built with TWO whole-array slices + one zip instead of a per-window
    slice + array_join — measured 4× cheaper per corpus pass at 50k
    docs (0.12 vs 0.51 s): the per-window form allocates a 2-element
    array and joins it into a fresh string for every window."""
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))


def _bigram_grams_col(toks: Column) -> Column:
    """Array of bigram gram STRINGS (``w1 w2``) — same values as
    ``ngrams_col(toks, 2)`` (array_join of a 2-slice ≡ direct concat),
    via the cheap two-slice zip of :func:`_bigram_pairs_col`.  For
    consumers whose downstream hash is pinned to the gram string
    (DSIR's md5 bucket)."""
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _gram_fp_col(h_arr: Column, n: int) -> Column:
    """Sliding-window fingerprints over a token-hash array:
    key(i) = xxhash64(h[i], …, h[i+n-1]); [] when fewer than n
    elements (mirrors :func:`ngrams_col`'s when-guard).  Hash-combine
    rather than polynomial arithmetic: ANSI mode forbids wrapping long
    multiplication, and xxhash64 over n fixed-width longs mixes
    better anyway.  A fingerprint, not a checksum — callers pair two
    keys built from independent token-hash arrays for 128-bit-grade
    equality."""
    return F.when(
        F.size(h_arr) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(h_arr) - n),
            lambda i: F.xxhash64(
                *[F.get(h_arr, i + F.lit(t)) for t in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))


def tokens_barrier(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    toks_col: str | None = None,
) -> DataFrame:
    """(doc_id, _t) with the token array materialized behind a
    Generate node.

    ``explode(array(x))`` emits exactly one row per input row (even
    for null/empty ``x`` — the outer array always has one element),
    and Generate is a barrier CollapseProject cannot merge through:
    every downstream higher-order lambda sees ``_t`` as a bound
    attribute, so the tokenizer split evaluates once per ROW no
    matter how many consumers the plan has.  See :func:`ngrams_col`
    for the measured cost of losing that guarantee.

    ``toks_col`` — name of an ALREADY-MATERIALIZED token-array column
    on ``docs`` (the shared analyzed-corpus artifact,
    ``pipeline.corpus``): no split runs and no barrier is needed — a
    column read from a checkpoint/parquet scan is a bound attribute
    with no projection expression for CollapseProject to inline."""
    if toks_col is not None:
        return docs.select(
            F.col(id_col).alias("doc_id"), F.col(toks_col).alias("_t")
        )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        tokens_col(F.col(text_col)).alias("_t0"),
    ).select("doc_id", F.explode(F.array("_t0")).alias("_t"))


# --- benchmark decontamination ------------------------------------------


def contamination(
    docs: DataFrame,
    eval_ngrams: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    toks_col: str | None = None,
) -> DataFrame:
    """Flag training docs sharing any n-gram with the eval set.

    ``eval_ngrams`` is a DataFrame with one ``gram`` string column (the
    benchmark suite's sliding n-grams).  Returns one row per doc:
    (doc_id, n_grams, n_hits, contaminated).

    Scale shape: the doc-side n-gram key stream is exploded map-side
    and joined to the (broadcast) eval key set — two 8-byte keys per
    gram, no gram strings ever built, no corpus shuffle; the per-doc
    rollup is a map-side-combinable groupBy on doc_id.  Docs with zero
    matching grams are restored by the left join at the end (count
    aggregation only sees hits).

    ``toks_col`` — pre-tokenized column on ``docs`` (the shared
    analyzed-corpus artifact): skips the scan-side re-tokenize.
    """
    base = tokens_barrier(docs, id_col, text_col, toks_col)
    # Gram keys WITHOUT building gram strings: two independent
    # xxhash64-combine fingerprints over per-token xxhash64s.
    # Key equality ⇔ token-window equality
    # up to a ~2⁻¹²⁸ collision per (train gram, eval gram) — the same
    # injective-fingerprint convention as the hashed-shingle verify —
    # and the old form paid an O(n)-char array_join + md5 PER WINDOW
    # (every token copied n times), the dominant per-doc cost.  The
    # token-hash arrays sit behind a second Generate barrier so
    # CollapseProject cannot inline the xxhash64 maps into the
    # per-window lambdas (see ngrams_col).
    hashed = base.select(
        "doc_id",
        F.explode(F.array(F.struct(
            F.transform("_t", lambda t: F.xxhash64(t)).alias("h1"),
            F.transform("_t", lambda t: F.xxhash64(t, F.lit(1)))
            .alias("h2"),
        ))).alias("_h"),
    )
    # eval grams key the same way, gated to EXACTLY n tokens (an
    # other-length gram string can never equal an n-token window under
    # the old string-equality semantics, so it must emit no key here
    # either); the eval set is tiny — no barrier games needed
    eval_keys = (
        eval_ngrams.select(F.split("gram", " ", -1).alias("_t"))
        .filter(F.size("_t") == n)
        .select(
            F.transform("_t", lambda t: F.xxhash64(t)).alias("h1"),
            F.transform("_t", lambda t: F.xxhash64(t, F.lit(1)))
            .alias("h2"),
        )
        .select(
            F.get(_gram_fp_col(F.col("h1"), n), 0).alias("_g1"),
            F.get(_gram_fp_col(F.col("h2"), n), 0).alias("_g2"),
        )
        .distinct()
    )
    # only HIT rows reach the groupBy (the broadcast semi-join runs
    # map-side over the exploded stream) — the per-doc n_grams count
    # is a map-only projection, never shuffled
    hits = (
        hashed.select(
            "doc_id",
            F.explode(F.zip_with(
                _gram_fp_col(F.col("_h.h1"), n),
                _gram_fp_col(F.col("_h.h2"), n),
                lambda a, b: F.struct(a.alias("_g1"), b.alias("_g2")),
            )).alias("_g"),
        )
        .select("doc_id", F.col("_g._g1").alias("_g1"),
                F.col("_g._g2").alias("_g2"))
        .join(F.broadcast(eval_keys), ["_g1", "_g2"])
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    # gram COUNT arithmetically (max(len - n + 1, 0)): size(transform(…))
    # would build every gram string a second time just to count them —
    # a full O(len·n) string pass per doc that the count never reads
    n_toks = F.size(F.col("_t"))
    per_doc = base.select(
        "doc_id",
        F.when(n_toks >= n, n_toks - (n - 1)).otherwise(F.lit(0))
        .cast("long").alias("n_grams"),
    )
    return (
        per_doc.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def eval_contamination_artifact(
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    n_bands: int = 4,
    shingle_k: int = 3,
    max_eval_bucket: int = 1000,
) -> tuple[DataFrame, DataFrame]:
    """Precompute the eval-side LSH artifact for
    :func:`fuzzy_contamination`: ``(bands, shingles)`` where ``bands``
    is the skew-capped (eval_id, band, bucket) table and ``shingles``
    the (eval_id, _shb) distinct-shingle arrays.

    A benchmark suite is STATIC across a decontamination campaign —
    one artifact serves every corpus shard and every re-run, so
    callers should ``persist()`` (or write out) both frames once
    instead of re-tokenizing/shingling the eval side per call.  Same
    role as ``ivf_cluster``'s inverted-list artifact for ANN.
    """
    from .dedup import (
        _signatures_from_tokens,
        band_buckets,
        hashed_shingle_sets,
        tokens_col as dd_tokens_col,
    )

    ev_toks = eval_docs.select(
        F.col(id_col).alias("doc_id"),
        dd_tokens_col(text_col).alias("_toks"),
    )
    bands = band_buckets(
        _signatures_from_tokens(ev_toks, n_hashes, shingle_k),
        n_hashes, n_bands,
    ).withColumnRenamed("doc_id", "eval_id")
    bands = bands.withColumn(
        "_bn", F.count("*").over(Window.partitionBy("band", "bucket"))
    ).filter(F.col("_bn") <= max_eval_bucket).drop("_bn")
    # hashed-shingle SETS from per-token hashes (hashed_shingle_sets —
    # the verify convention; both sides of every pair use the same
    # map): set sizes and intersections are hash-invariant, the
    # broadcast eval artifact shrinks ~2.5×, and no shingle string is
    # ever built
    shingles = hashed_shingle_sets(
        ev_toks, "_toks", shingle_k, out_col="_shb"
    ).withColumnRenamed("doc_id", "eval_id")
    return bands, shingles


def fuzzy_contamination(
    docs: DataFrame,
    eval_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    n_bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_eval_bucket: int = 1000,
    eval_artifact: tuple[DataFrame, DataFrame] | None = None,
    train_tokens: DataFrame | None = None,
) -> DataFrame:
    """Doc-level fuzzy decontamination: training docs whose shingle-set
    Jaccard against ANY eval doc reaches ``threshold``, found by
    cross-corpus MinHash-LSH banding.  Catches the paraphrased /
    re-wrapped benchmark copies that exact n-gram overlap
    (:func:`contamination`) misses.

    Returns (doc_id, eval_id, jaccard) — one row per flagged
    (train, eval) pair, jaccard exact (not estimated) and rounded to
    4 dp.  Identity rows appear when the corpora share ids AND
    content; callers screening a training corpus against a held-out
    suite filter them out if the eval set was carved from the corpus.

    Scale shape: the EVAL side (benchmark suites — 1e4-1e6 docs) is
    the broadcast side of every join, so the corpus never shuffles:
    train band hashes are map-only, the band match is a broadcast
    hash join, and the verify stage joins broadcast eval shingle
    arrays onto the (semi-join-restricted) candidate train docs.
    Boilerplate eval buckets above ``max_eval_bucket`` are dropped —
    the analogue of lsh_candidate_pairs' skew cap, computed on the
    tiny side only.

    Pass ``eval_artifact`` (from :func:`eval_contamination_artifact`,
    persisted by the caller) to skip re-deriving the eval side —
    benchmark suites are static, so a decontamination campaign builds
    the artifact once and reuses it across corpus shards and re-runs;
    ``eval_docs`` is then ignored.

    ``train_tokens`` — ALREADY-MATERIALIZED (doc_id, _toks) table for
    the train side (the shared analyzed-corpus artifact): skips this
    function's own scan + tokenize + persist of the corpus; ``docs``
    is then ignored.  The caller owns the artifact's lifecycle.
    """
    from .dedup import (
        _cut_lineage,
        _signatures_from_tokens,
        band_buckets,
        hashed_shingle_sets,
        tokens_col as dd_tokens_col,
    )

    if eval_artifact is None:
        if eval_docs is None:
            raise ValueError("need eval_docs or eval_artifact")
        eval_b, ev_sh = eval_contamination_artifact(
            eval_docs, id_col=id_col, text_col=text_col,
            n_hashes=n_hashes, n_bands=n_bands, shingle_k=shingle_k,
            max_eval_bucket=max_eval_bucket,
        )
    else:
        eval_b, ev_sh = eval_artifact

    # the train corpus is scanned + tokenized ONCE into a persisted
    # token table feeding both its signature kernel and its shingle
    # stage (the minhash_dedup fusion; the unfused form re-ran the
    # dominant scan+tokenize per stage — measured there as the bulk of
    # the slowest bench query).  MEMORY_AND_DISK: spills, never OOMs.
    # With train_tokens the caller's artifact is already materialized:
    # no persist here, and no unpersist of a frame we don't own.
    own_toks = train_tokens is None
    if own_toks:
        tr_toks = docs.select(
            F.col(id_col).alias("doc_id"),
            dd_tokens_col(text_col).alias("_toks"),
        ).persist()
    else:
        tr_toks = train_tokens.select("doc_id", "_toks")
    train_b = band_buckets(
        _signatures_from_tokens(tr_toks, n_hashes, shingle_k),
        n_hashes, n_bands,
    )
    # NOT persisted: both consumers (the doc-restriction semi-join
    # and the verify join) hang off the distinct's exchange, which
    # ReuseExchange shares — an explicit persist was measured SLOWER
    # (cache build + columnar write for rows the exchange already
    # holds)
    cand = (
        train_b.join(F.broadcast(eval_b), ["band", "bucket"])
        .select("doc_id", "eval_id")
        .distinct()
    )
    # exact-Jaccard verify: train shingle arrays restricted to
    # candidate docs; eval shingle arrays broadcast whole
    tr_sh = hashed_shingle_sets(
        tr_toks.join(cand.select("doc_id").distinct(), "doc_id",
                     "left_semi"),
        "_toks", shingle_k, out_col="_sha",
    )
    # Generate barrier around the intersect — same reason as
    # ngram_jaccard_pairs: without it the jaccard filter is pushed
    # into the verify join's condition and array_intersect runs twice
    # per candidate pair
    out = (
        cand.join(tr_sh, "doc_id")
        .join(F.broadcast(ev_sh), "eval_id")
        .select(
            "doc_id", "eval_id",
            F.size("_sha").alias("_sa"), F.size("_shb").alias("_sb"),
            F.explode(
                F.array(F.size(F.array_intersect("_sha", "_shb")))
            ).alias("n_inter"),
        )
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.col("_sa") + F.col("_sb") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id", "eval_id", F.round("jaccard", 4).alias("jaccard"))
    )
    # eager materialization so the token cache can be released
    # (returning the lazy plan would pin it for the caller's
    # lifetime — the ngram_jaccard_pairs lesson)
    out = _cut_lineage(out)
    if own_toks:
        tr_toks.unpersist()
    return out


# --- concat-and-chunk sequence packing ----------------------------------


def pack_sequences(
    docs: DataFrame,
    seq_len: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_partitions: int | None = None,
    toks_col: str | None = None,
) -> DataFrame:
    """Assign every doc its token span in the packed training stream.

    Documents are laid end-to-end in ``doc_id`` order and cut into
    ``seq_len``-token sequences (GPT-style concat-and-chunk — no
    padding, docs may straddle sequence boundaries).  Returns
    (doc_id, n_tokens, tok_offset, seq_first, seq_last, n_seqs) where
    ``tok_offset`` is the exclusive prefix sum of token counts and
    ``seq_first``/``seq_last`` the sequence ids covering the doc
    (equal when n_tokens == 0: the doc occupies no sequence,
    n_seqs = 0, but keeps a well-defined position).

    The prefix sum is the two-phase distributed form (see module
    docstring); the driver only ever holds one row per partition.
    Empty partitions (possible when range boundaries collide on small
    inputs) contribute 0 to the running prefix and are skipped
    naturally by the groupBy.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(
            F.col(toks_col) if toks_col is not None
            else tokens_col(F.col(text_col))
        ).cast("long").alias("n_tokens"),
    )
    if num_partitions is None:
        num_partitions = toks.sparkSession.sparkContext.defaultParallelism
    ranged = toks.repartitionByRange(num_partitions, "doc_id").withColumn(
        "_pid", F.spark_partition_id()
    )
    # parallel per-partition EXCLUSIVE cumsum: window within _pid only
    w = (
        Window.partitionBy("_pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = ranged.withColumn(
        "_local_off", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    # P partition totals -> driver -> exclusive prefix per pid.
    # repartitionByRange guarantees pid p's keys all precede pid p+1's,
    # so prefix-by-ascending-pid IS prefix-by-key-order.
    totals = (
        local.groupBy("_pid").agg(F.sum("n_tokens").alias("_tot"))
        .collect()
    )
    prefix: dict[int, int] = {}
    running = 0
    for r in sorted(totals, key=lambda r: r["_pid"]):
        prefix[r["_pid"]] = running
        running += int(r["_tot"])
    if not prefix:  # empty input: keep create_map well-formed
        prefix = {0: 0}
    pmap = F.create_map(
        *[F.lit(x) for kv in prefix.items() for x in kv]
    )
    packed = local.withColumn(
        "tok_offset",
        (F.col("_local_off") + pmap[F.col("_pid")]).cast("long"),
    )
    L = F.lit(int(seq_len))
    return packed.select(
        "doc_id",
        "n_tokens",
        "tok_offset",
        F.floor(F.col("tok_offset") / L).cast("long").alias("seq_first"),
        F.floor(
            (F.col("tok_offset")
             + F.greatest(F.col("n_tokens") - 1, F.lit(0))) / L
        ).cast("long").alias("seq_last"),
        F.when(F.col("n_tokens") == 0, F.lit(0)).otherwise(
            F.floor(
                (F.col("tok_offset") + F.col("n_tokens") - 1) / L
            ) - F.floor(F.col("tok_offset") / L) + 1
        ).cast("long").alias("n_seqs"),
    )


def oracle_pack_sql(seq_len: int, source: str = "documents") -> str:
    """DuckDB oracle: the same packing via a plain window prefix sum
    (fine at oracle scale; the Spark path exists precisely because
    this shape single-reducers at crawl scale)."""
    return f"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(list_filter(
           regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
           t -> t <> '')) AS BIGINT) AS n_tokens
  FROM {source}
),
off AS (
  SELECT doc_id, n_tokens,
         CAST(coalesce(SUM(n_tokens) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
           AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
  FROM toks
)
SELECT doc_id, n_tokens, tok_offset,
       CAST(tok_offset // {seq_len} AS BIGINT) AS seq_first,
       CAST((tok_offset + greatest(n_tokens - 1, 0)) // {seq_len}
            AS BIGINT) AS seq_last,
       CAST(CASE WHEN n_tokens = 0 THEN 0
            ELSE (tok_offset + n_tokens - 1) // {seq_len}
                 - tok_offset // {seq_len} + 1 END AS BIGINT)
         AS n_seqs
FROM off
"""


# --- corpus-trained bigram-LM quality score -----------------------------

# bigram-model rows that still fit a broadcast: ~50 B/row keeps 1M rows
# well under the session's 64 MB autoBroadcast threshold.  A web-scale
# corpus's bigram table exceeds this and takes the co-partitioned join.
_BROADCAST_MODEL_ROWS = 1_000_000


def lm_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    toks_col: str | None = None,
) -> DataFrame:
    """Per-doc average bigram negative log-likelihood under a bigram
    LM trained on the corpus itself (CCNet's quality signal, with the
    external Wikipedia LM replaced by the corpus — self-perplexity:
    boilerplate-ish, repetitive docs score LOW, rare/garbled docs
    HIGH).  Add-one smoothing over the observed vocabulary:

        P(w2 | w1) = (C(w1 w2) + 1) / (C(w1) + V)

    Returns (doc_id, n_bigrams, lm_nll) with lm_nll rounded to 4
    decimals (sum order across engines differs in the last ulps);
    docs with < 2 tokens get lm_nll = 0.0.

    Scale shape: bigram/unigram models are groupBy counts (map-side
    partial agg collapses the head — "of the" arrives at the shuffle
    once per map task, not once per occurrence); scoring joins the
    exploded doc-bigram stream to the model on the bigram key — a
    co-partitioned shuffle hash join, no broadcast assumption since a
    web-scale bigram table is NOT small.  V is a 1-row agg broadcast
    into the smoothing expression.

    ``toks_col`` — pre-tokenized column on ``docs`` (the shared
    analyzed-corpus artifact): skips the scan-side re-tokenize.
    """
    toks = tokens_barrier(docs, id_col, text_col, toks_col)
    # (w1, w2) pairs directly — the gram-string form built "w1 w2"
    # strings per window only to substring_index them apart again;
    # pair identity is gram identity and the oracle itself keys on
    # (t[i], t[i+1]).  The zip-struct stream measured 4× cheaper per
    # pass, and this plan pays the featurize THREE times (score
    # stream + bigram model + nothing shares subtrees across the
    # broadcast boundaries).
    bigrams = toks.select(
        "doc_id",
        F.explode(_bigram_pairs_col(F.col("_t"))).alias("_bg"),
    ).select(
        "doc_id",
        F.col("_bg.w1").alias("w1"),
        F.col("_bg.w2").alias("w2"),
    )
    big_counts = bigrams.groupBy("w1", "w2").agg(
        F.count("*").cast("double").alias("c12")
    )
    uni_counts = (
        toks.select(F.explode("_t").alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").cast("double").alias("c1"))
    )
    # Fold smoothing into ONE per-bigram model table BEFORE touching
    # the corpus stream: bc ⋈ unig ⋈ vocab are all model-scale joins
    # (bigram-table-sized — far below the stream at any scale), and
    # _nll is a function of the model row alone.  The stream then
    # joins the model exactly once — the previous three-way
    # stream ⋈ bc ⋈ unig chain left the optimizer free to pick the
    # STREAM as a broadcast build side when size estimates flipped
    # (measured: the whole 2.7M-row stream collected and broadcast),
    # and paid two stream-side joins where one suffices.  AQE picks
    # broadcast vs shuffled join for the single stream join from the
    # model's ACTUAL size — tiny here, data-scale on a web corpus.
    from .dedup import _cut_lineage

    # materialize the unigram model once: V (the observed-vocabulary
    # size, an exact integer) is then a driver-side literal — the old
    # form re-ran the whole unigram aggregation subtree a SECOND time
    # just to count its rows (no subtree reuse across a broadcast
    # boundary), a full corpus pass for one scalar
    uni = _cut_lineage(uni_counts)
    v = float(uni.count())
    model = _cut_lineage(
        big_counts.join(uni, "w1")
        .select(
            "w1", "w2",
            (-F.log(
                (F.col("c12") + 1.0) / (F.col("c1") + F.lit(v))
            )).alias("_nll"),
        )
    )
    # Deliberate build side (guide §3), decided from the MEASURED model
    # size (the count reads the just-materialized blocks, not a
    # re-execution): broadcast the model when it genuinely fits, else
    # a plain co-partitioned join.  Left to size ESTIMATES, the
    # planner was observed picking the corpus STREAM as the broadcast
    # build side — the artifact's origin stats put the exploded
    # stream just under the threshold — which collects the whole
    # bigram stream onto the driver; at crawl scale that is fatal.
    if model.count() <= _BROADCAST_MODEL_ROWS:
        model = F.broadcast(model)
    # explode_outer keeps a null-pair row for <2-token docs, so ONE
    # left join + ONE aggregation covers every doc — count(_bg)/avg
    # skip the null rows, giving exactly the old spine-left-join
    # semantics (n_bigrams 0, lm_nll 0.0) without a second corpus-
    # spine exchange+sort
    stream = toks.select(
        "doc_id",
        F.explode_outer(_bigram_pairs_col(F.col("_t"))).alias("_bg"),
    ).select(
        "doc_id",
        F.col("_bg.w1").alias("w1"),
        F.col("_bg.w2").alias("w2"),
    )
    return (
        stream.join(model, ["w1", "w2"], "left")
        .groupBy("doc_id")
        .agg(
            F.count("w1").cast("long").alias("n_bigrams"),
            F.coalesce(
                F.round(F.avg("_nll"), 4), F.lit(0.0)
            ).alias("lm_nll"),
        )
    )


def oracle_lm_sql(source: str = "documents") -> str:
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(
           regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
           t -> t <> '') AS t
  FROM {source}
),
bigrams AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2
),
bc AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c12
       FROM bigrams GROUP BY w1, w2),
unig AS (
  SELECT w1, CAST(count(*) AS DOUBLE) AS c1 FROM (
    SELECT doc_id, unnest(t) AS w1 FROM toks
  ) GROUP BY w1
),
v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM unig),
scored AS (
  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         round(avg(-ln((c12 + 1.0) / (c1 + v.v))), 4) AS lm_nll
  FROM bigrams b JOIN bc USING (w1, w2) JOIN unig USING (w1), v
  GROUP BY b.doc_id
)
SELECT toks.doc_id,
       coalesce(n_bigrams, 0) AS n_bigrams,
       coalesce(lm_nll, 0.0) AS lm_nll
FROM toks LEFT JOIN scored ON toks.doc_id = scored.doc_id
"""


# --- canonical-host blocklist filter ------------------------------------


def blocklist_filter(
    pages: DataFrame,
    blocked_hosts: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Drop pages whose CANONICAL host is on the blocklist.

    ``blocked_hosts`` has one ``host`` column (already-canonical
    lowercase hostnames, no port).  Canonicalization runs first so
    casing/www/default-port aliases of a blocked host cannot slip
    through, and the match key strips any EXPLICIT port too —
    ``evil.com:8080`` is still ``evil.com`` for blocking purposes
    (ports are routing, not identity, for reputation lists).  The
    blocklist (1e4-1e6 hosts in real crawls) broadcasts; the
    anti-join is map-side — the corpus never shuffles.
    """
    from .webtext import canonicalize_urls

    canon = canonicalize_urls(pages, url_col=url_col).withColumn(
        "_hostname", F.substring_index(F.col("host"), ":", 1)
    )
    blocked = blocked_hosts.select(
        F.col("host").alias("_hostname")
    ).distinct()
    return canon.join(
        F.broadcast(blocked), "_hostname", "left_anti"
    ).drop("_hostname")


def _bucket_col(gram: Column, n_buckets: int) -> Column:
    """Bigram → bucket: first 28 bits of md5 mod ``n_buckets`` (the
    engine-portable hash used throughout — DuckDB reproduces it with
    ``('0x' || substr(md5(g),1,7))::BIGINT``, so oracle parity holds
    bit-for-bit, unlike murmur3 ``F.hash``)."""
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.encode(gram, "utf-8")), 1, 7), 16, 10
        ).cast("long"),
        F.lit(int(n_buckets)),
    )


def _bigram_buckets(docs: DataFrame, n_buckets: int,
                    id_col: str, text_col: str,
                    toks_col: str | None = None) -> DataFrame:
    """(doc_id, bucket) stream: one row per word bigram."""
    return (
        tokens_barrier(docs, id_col, text_col, toks_col)
        .select("doc_id", F.explode(_bigram_grams_col(F.col("_t")))
                .alias("_g"))
        .select("doc_id", _bucket_col(F.col("_g"), n_buckets)
                .alias("bucket"))
    )


def _bigram_bucket_arrays(docs: DataFrame, n_buckets: int,
                          id_col: str, text_col: str,
                          toks_col: str | None = None) -> DataFrame:
    """(doc_id, _bkts): ONE row per doc carrying its bucket stream as
    an array — same values and order as :func:`_bigram_buckets`, held
    per-row so a map-only consumer never needs the explode back."""
    return tokens_barrier(docs, id_col, text_col, toks_col).select(
        "doc_id",
        F.transform(
            _bigram_grams_col(F.col("_t")),
            lambda g: _bucket_col(g, n_buckets),
        ).alias("_bkts"),
    )


def dsir_weights(
    docs: DataFrame,
    target: DataFrame | None = None,
    n_buckets: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
    toks_col: str | None = None,
    target_filter: Column | None = None,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw doc
    by how target-like its hashed bag-of-bigrams is.

    Both corpora are featurized as bigram counts hashed into
    ``n_buckets``; bucket unigram models get add-one smoothing over
    the hashed vocabulary:

        p(f) = (c_f + 1) / (C + n_buckets)
        log_weight(doc) = Σ_f c_f(doc) · [ln p_tgt(f) − ln p_raw(f)]

    Returns (doc_id, n_feats, log_weight), log_weight rounded to 4 dp
    (summation order differs across engines in the last ulps); docs
    with < 2 tokens have no features and weight 0.0.

    Scale shape: both bucket models are map-side-combinable groupBys
    whose OUTPUT is n_buckets rows — tiny regardless of corpus size —
    so the per-bucket log-ratio table broadcasts.  Scoring is the
    exploded bigram stream map-side-joined to that broadcast, then a
    groupBy(doc_id) whose partial agg collapses each doc to one row
    before the exchange (explode preserves partitioning, so every
    bucket row of a doc is partition-local): the only corpus-scale
    shuffle moves one row per doc.  The resampling step itself is
    :func:`dsir_resample`.

    ``target_filter`` — when the curated slice IS a filter over
    ``docs`` (a doc-id predicate, a label column), pass the predicate
    instead of a separate ``target`` frame: the (doc_id, bucket)
    stream is then featurized ONCE and checkpointed, and the raw
    model, the target model and the scoring pass all scan the
    materialized blocks — the two-frame form re-evaluates the
    map-only explode+hash chain per consumer, three full corpus
    passes of the dominant per-token work.  ``target`` is ignored
    when set.
    """
    if target_filter is not None:
        from .dedup import _cut_lineage

        # featurize ONCE, as one row per doc: the bucket stream
        # materializes as per-doc ARRAYS (same values/order as the
        # exploded form, ~grams-many longs but docs-many rows), so the
        # scoring pass below is map-only over the same materialized
        # frame — no second featurize, no explode on the scoring side
        arrs = _cut_lineage(
            _bigram_bucket_arrays(docs, n_buckets, id_col, text_col,
                                  toks_col)
        )
        # BOTH bucket models from ONE scan of the materialized arrays:
        # the target count is a conditional sum in the same aggregate
        # (count over a filtered stream ≡ sum of the predicate), so
        # the rawc ⋈ tgtc join disappears too
        merged = (
            arrs.select("doc_id", F.explode("_bkts").alias("bucket"))
            .groupBy("bucket")
            .agg(
                F.count("*").cast("double").alias("_cr"),
                F.sum(
                    F.when(target_filter, F.lit(1)).otherwise(F.lit(0))
                ).cast("double").alias("_ct"),
            )
        )
    else:
        if target is None:
            raise ValueError("need target or target_filter")
        raw_b = _bigram_buckets(docs, n_buckets, id_col, text_col,
                                toks_col)
        tgt_b = _bigram_buckets(target, n_buckets, id_col, text_col,
                                toks_col)
        rawc = raw_b.groupBy("bucket").agg(
            F.count("*").cast("double").alias("_cr")
        )
        tgtc = tgt_b.groupBy("bucket").agg(
            F.count("*").cast("double").alias("_ct")
        )
        # ratio over the RAW corpus's observed buckets (buckets absent
        # from raw never appear in the scoring stream)
        merged = rawc.join(tgtc, "bucket", "left")
    if target_filter is not None:
        # The model is PARAMETER-bounded (≤ n_buckets rows — a hashed
        # feature space, corpus-independent), so it lands on the
        # driver like fieldstats does — collected ONCE as raw counts:
        # the lazy ratio tail (merged + two total aggs + crossJoins)
        # re-evaluated the whole model aggregation per subtree, three
        # corpus-scale passes for two scalars.  Totals and per-bucket
        # log-ratios are a 4096-element Python loop; scoring is then a
        # MAP-ONLY array fold over the materialized bucket arrays:
        # no broadcast-join of the exploded stream, no groupBy(doc_id)
        # exchange, and no spine left-join (every doc has a row; empty
        # arrays fold to 0.0 exactly like the old left-join coalesce).
        # Per-doc sum order is unchanged — the old hash aggregate
        # accumulated a doc's co-located rows in stream order, which
        # IS the array order.  (math.log vs the JVM's log differs by
        # ≤ 1 ulp on some libms — the same cross-engine tolerance the
        # 4-dp round already absorbs against DuckDB's ln.)
        import math

        rows = merged.collect()
        cr_tot = 0.0
        ct_tot = 0.0
        for r in rows:
            cr_tot += r["_cr"]
            ct_tot += r["_ct"] or 0.0
        lut = [0.0] * int(n_buckets)
        for r in rows:
            lut[int(r["bucket"])] = (
                math.log(((r["_ct"] or 0.0) + 1.0)
                         / (ct_tot + float(n_buckets)))
                - math.log((r["_cr"] + 1.0) / (cr_tot + float(n_buckets)))
            )
        # ONE parsed array literal, never F.lit(list): PySpark expands
        # a list literal into one py4j `lit` call PER ELEMENT — ~2 s of
        # pure DRIVER time for 4096 doubles, paid on every invocation
        # (it dominated the whole query).  repr() emits the shortest
        # exact decimal for a double and both engines' parsers are
        # correctly rounded, so the round-trip is bit-exact; the values
        # are finite by construction (smoothed log-ratios).
        lut_arr = F.expr(
            "array(" + ",".join(f"{x!r}D" for x in lut) + ")"
        )
        return arrs.select(
            "doc_id",
            F.size("_bkts").cast("long").alias("n_feats"),
            F.round(
                F.aggregate(
                    "_bkts",
                    F.lit(0.0),
                    lambda acc, b: acc
                    + F.element_at(lut_arr, b.cast("int") + 1),
                ),
                4,
            ).alias("log_weight"),
        )
    tot_r = merged.agg(F.sum("_cr").alias("_cr_tot"))
    # F.sum skips nulls, so the merged form's total equals the old
    # tgtc-side total in both branches
    tot_t = merged.agg(
        F.coalesce(F.sum("_ct"), F.lit(0.0)).alias("_ct_tot")
    )
    B = F.lit(float(n_buckets))
    ratio = (
        merged
        .crossJoin(F.broadcast(tot_r))
        .crossJoin(F.broadcast(tot_t))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce("_ct", F.lit(0.0)) + 1.0)
                    / (F.col("_ct_tot") + B)
                )
                - F.log((F.col("_cr") + 1.0) / (F.col("_cr_tot") + B))
            ).alias("_r"),
        )
    )
    scored = (
        raw_b.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_feats"),
            F.round(F.sum("_r"), 4).alias("log_weight"),
        )
    )
    spine = docs.select(F.col(id_col).alias("doc_id"))
    return spine.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
        F.coalesce("log_weight", F.lit(0.0)).alias("log_weight"),
    )


def dsir_resample(
    weights: DataFrame,
    k: int,
    seed: int = 0,
) -> DataFrame:
    """Gumbel-top-k resampling over DSIR log weights: sampling k docs
    WITHOUT replacement with probability ∝ exp(log_weight) is exactly
    taking the k largest ``log_weight + Gumbel(0,1)`` keys (the
    Gumbel-max trick), which Spark executes as a TakeOrdered — no
    global sort materializes.

    The Gumbel noise derives deterministically from md5(doc_id, seed)
    (28-bit uniform, +0.5 to dodge u=0), so the sample is reproducible
    across runs and cluster sizes — rand(seed) is partition-dependent
    and would not be.

    Returns the k selected rows (doc_id, log_weight, gumbel_key),
    highest key first.
    """
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws("|", F.col("doc_id").cast("string"),
                                F.lit(str(int(seed))))
                ),
                1, 7,
            ),
            16, 10,
        ).cast("double")
        + 0.5
    ) / F.lit(float(1 << 28))
    key = F.col("log_weight") + (-F.log(-F.log(u)))
    return (
        weights.select(
            "doc_id", "log_weight",
            F.round(key, 4).alias("gumbel_key"),
        )
        .orderBy(F.desc("gumbel_key"), "doc_id")
        .limit(int(k))
    )


def score_thresholds(
    scored: DataFrame,
    keep_rate: float,
    score_col: str = "quality",
    group_col: str = "lang",
    keep: str = "upper",
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group score cutoff retaining ~``keep_rate`` of docs —
    CCNet's calibration step: quality filters don't ship absolute
    thresholds, they pick the cutoff per language so a target head
    fraction survives (absolute cutoffs would gut low-resource
    languages whose score distributions sit elsewhere).

    ``keep="upper"`` keeps the TOP keep_rate fraction (threshold =
    the (1−keep_rate)-quantile; filter score ≥ threshold — the
    convention for goodness scores); ``keep="lower"`` keeps the
    bottom fraction (CCNet perplexity: low = good).  Ties at the
    cutoff are kept, so retention is ≥ keep_rate, never below.

    Scale: ``exact=True`` uses Spark's exact ``percentile`` — it
    buffers each group's value multiset on one reducer, fine up to
    ~1e8 distinct values per group and required for oracle parity.
    At crawl scale set ``exact=False`` for ``percentile_approx``
    (bounded-memory Greenwald-Khanna sketch, mergeable map-side;
    rank error ≤ 1/accuracy).  Either way the output is one row per
    GROUP — broadcastable to the filter regardless of corpus size.

    Returns (group_col, n_docs, threshold), threshold rounded to 4 dp.
    """
    if keep not in ("upper", "lower"):
        raise ValueError(f"keep must be 'upper'|'lower', got {keep!r}")
    p = F.lit(1.0 - keep_rate if keep == "upper" else keep_rate)
    th = (
        F.percentile(score_col, p)
        if exact
        else F.percentile_approx(score_col, p, F.lit(int(accuracy)))
    )
    return scored.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(th, 4).alias("threshold"),
    )


def apply_thresholds(
    scored: DataFrame,
    thresholds: DataFrame,
    score_col: str = "quality",
    group_col: str = "lang",
    keep: str = "upper",
) -> DataFrame:
    """Filter ``scored`` by the per-group cutoffs from
    :func:`score_thresholds` — a broadcast join (groups-sized table)
    plus a map-side filter; the corpus never shuffles."""
    if keep not in ("upper", "lower"):
        raise ValueError(f"keep must be 'upper'|'lower', got {keep!r}")
    cond = (
        F.col(score_col) >= F.col("threshold")
        if keep == "upper"
        else F.col(score_col) <= F.col("threshold")
    )
    return (
        scored.join(
            F.broadcast(thresholds.select(group_col, "threshold")),
            group_col,
        )
        .filter(cond)
        .drop("threshold")
    )


def mix_weights(
    docs: DataFrame,
    group_col: str = "lang",
    alpha: float = 0.3,
) -> DataFrame:
    """Temperature-scaled training-mix weights per corpus slice (the
    exponent-smoothing scheme multilingual LMs sample with, e.g.
    XLM-R's alpha=0.3: q_g ∝ p_g^alpha re-balances head languages
    toward the tail without flattening the mix entirely).

    For each group g with share p_g = n_g / N:

        q_g = p_g^alpha / Σ_h p_h^alpha       (target mix)
        sample_weight_g = q_g / p_g           (per-doc up/down factor)

    Scale shape: ONE map-side-combinable groupBy(group) produces a
    groups-sized table (languages/sources — tiny), and the
    normalizing constant folds in via a single-row cross join the
    optimizer broadcasts; nothing doc-scale shuffles twice.  Values
    round to 6 dp so engine/oracle parity cannot flip in the last
    ulp.

    Returns (group_col, n_docs, p, q, sample_weight) — apply with a
    broadcast join + Bernoulli/repeat sampling keyed on
    sample_weight.
    """
    counts = docs.groupBy(F.col(group_col)).agg(
        F.count("*").alias("n_docs")
    )
    tot = counts.agg(
        F.sum("n_docs").alias("_n"),
    )
    scored = counts.crossJoin(F.broadcast(tot)).withColumn(
        "p", F.col("n_docs").cast("double") / F.col("_n")
    ).withColumn("_pa", F.pow(F.col("p"), F.lit(float(alpha))))
    z = scored.agg(F.sum("_pa").alias("_z"))
    return (
        scored.crossJoin(F.broadcast(z))
        .select(
            group_col,
            F.col("n_docs").cast("long").alias("n_docs"),
            F.round("p", 6).alias("p"),
            F.round(F.col("_pa") / F.col("_z"), 6).alias("q"),
            F.round(
                (F.col("_pa") / F.col("_z")) / F.col("p"), 6
            ).alias("sample_weight"),
        )
    )
