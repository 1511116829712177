"""Metadata-pruned block-max top-k over the compressed block table.

Spark rendition of Tantivy 0.19's BlockWAND (engaged by the plain
``TopDocs`` collector the reference uses, ``handle.rs:94`` — SURVEY.md
§4 pins this as an explicit requirement).  Sequential WAND does not
map to a distributed engine; the distributed equivalent is a
metadata-pruned scan.  Since block format v4 the pruning threshold τ
comes from block METADATA alone (no seed decode), so the plan is:

  job 1    per-term bound aggregation over the metadata columns of the
           query terms' blocks — a column-pruned, term-filter-pushed
           scan (payload bytes are never read), window cumsum, ≤ one
           output row per query term, collected to the driver.  This
           is a METADATA-scale collect, like fieldstats: at 10^12 docs
           it reduces ~df/128 skip entries per term to len(terms) rows.
  job 1.5  exact θ from the SEED blocks: decode only the τ-defining
           hi-desc prefix (≈⌈k/16⌉ blocks per term, metadata-chosen),
           score exactly, keep the k-th best partial sum.  τ alone is a
           single-term certificate and prunes nothing on multi-term
           unions; θ captures cross-term sums (the DAAT accumulator's
           trick, distributed) and is sound because a partial over any
           posting subset lower-bounds the true score.  ≤ k rows back.
  job 2    survivor filter with the bounds inlined as LITERALS (no
           broadcast subplans, no extra exchanges), Arrow-decode the
           surviving payloads, exact BM25 against the broadcast query-
           term stats (doc_len rides inline in the payload — zero
           doclens join), distributed top-k.

Bound construction:

  each block stores its EXACT impact stats at the avgdl it was encoded
  with (ref_avgdl): max_tfn (BlockWAND's per-block max score sans idf)
  and hi_tfn (the HI_RANK-th largest tf_norm — the block certifies
  min(count, HI_RANK) postings ≥ hi_tfn; a doc_id-ordered block's MIN
  is near the corpus floor and would prune nothing).  When query-time
  avgdl differs from ref_avgdl, the per-posting ratio
  tfn_q/tfn_ref = (tf+A+C_r·dl)/(tf+A+C_q·dl) is monotone in tf and
  dl, so its extremes lie at the corners of
  [min_tf,max_tf]×[min_dl,max_dl]:

      ub(block) = idf · max_tfn · max(corner ratios)
      hi(block) = idf · hi_tfn  · min(corner ratios)

  τ_t = the crossing block's hi when Σ min(count, HI_RANK) in hi-desc
  order first reaches k — sound because a term's postings are distinct
  docs (salts split by doc_id) and total score only adds over terms.
  τ = max_t τ_t.  A block survives iff

      ub(block) + Σ_{t'≠t} max_ub(t') ≥ τ.

Soundness: the threshold is θ = max(τ, k-th exact seed partial), and
both parts lower-bound the true k-th score.  A doc only in pruned
blocks has, for each query term t it matches, block ub below the
survivor line, so its total score < θ ≤ kth exact score — it cannot
enter the top-k.  Ties survive because the filter is ``>=``, and a doc
scoring exactly θ cannot be fully pruned (its bound ≥ its score = θ).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from .. import B, K1
from ..index.blocks import HI_RANK, decode_blocks_df
from ..scoring import idf_col, tf_norm_dyn, topk

# max candidate-block metadata rows collected driver-side by job 1;
# past this the distributed window plan takes over (10^9+ doc terms).
# Enforced exactly via limit(), not estimated — see _block_bounds.
COLLECT_BOUND = 1_000_000

# max seed blocks per query term for the exact-θ pass
_SEED_CAP = 8

# conjunction-pair seeding (balanced-df unions): per-term candidate
# cap for the pairwise overlap ranking, and how many top pairs join
# the seed set — bounds the extra decode at 2·_PAIR_SEEDS blocks
_PAIR_TOP = 64
_PAIR_SEEDS = 16

# per-term slack in the a-priori block-count ceiling for one partial
# block per salt run — see the overflow probe in _block_bounds (far
# past the 16 salts any block producer uses)
_RUN_SLACK = 4096

# minimum estimated prunable-posting fraction for the seed-θ job to
# run — below it the decode can't pay for its own job launch (the
# adaptive gate in _block_bounds; measured: flat corpora estimate 0.0,
# every skewed shape where seed pays estimates ≥ 0.13)
_GATE_MIN_PRUNE = 0.05

# threshold guard subtracted from θ before the survivor comparison.
# Block upper bounds and exact scores come from DIFFERENT float
# provenances (impact stats are computed in the numpy build kernel
# with literal 2.2, exact scoring in Spark SQL with K1+1.0 — one ulp
# apart), so at exact equality (k-th doc's own block, k=1 worst case)
# a bound can sit an ulp below θ and prune the very doc that defines
# it — found by the property fuzzer as an EMPTY top-1.  BM25 scores
# here are O(1..500) with ulp ≤ 6e-14, so 1e-9 is four orders above
# any accumulated rounding while costing no measurable pruning power.
_BOUND_GUARD = 1e-9


def _sparse_max_tables(vals):
    """Sparse table for O(1) range-max over a numpy array."""
    import numpy as np

    tables = [np.asarray(vals, dtype=np.float64)]
    j = 1
    while (1 << j) <= len(vals):
        prev = tables[-1]
        half = 1 << (j - 1)
        tables.append(np.maximum(prev[: len(prev) - half], prev[half:]))
        j += 1
    return tables


def _range_max(tables, lo, hi):
    """Vectorized inclusive range-max lookups (requires lo <= hi)."""
    import numpy as np

    span = hi - lo + 1
    j = np.floor(np.log2(span)).astype(np.int64)
    out = np.empty(len(lo), dtype=np.float64)
    for jj in np.unique(j):
        m = j == jj
        t = tables[jj]
        out[m] = np.maximum(t[lo[m]], t[hi[m] - (1 << int(jj)) + 1])
    return out


def _overlap_rest(rows, val_arrays=None):
    """Per-block rest-of-query bounds from DOC-RANGE OVERLAP.

    The global form Σ_{t'≠t} max_ub(t') is sound but hopeless for
    unions: any term whose best block alone reaches θ keeps every
    other term's blocks alive (measured: 0% pruned on every union
    shape).  The tight, still-sound form uses the fact that a doc in
    block b of term t sits, for each other matched term t', in a t'
    block that OVERLAPS b's doc range:

        score(d) ≤ ub(b) + Σ_{t'≠t} max{ub(b') : b' of t', b'∩b ≠ ∅}

    Per term, a salt run's blocks are disjoint sorted doc-id
    intervals, so each overlap query is two binary searches +
    an O(1) sparse-table range-max — vectorized with numpy over all
    collected blocks at once.

    ``val_arrays`` is a list of per-block value arrays to bound with
    (default: one array, the rows' ``ub``) — callers needing several
    rest variants (ub for the sound survivor bound, hi for the seed
    gate's optimistic estimate) share the run grouping and binary
    searches.  Returns one rest array per value array, aligned with
    ``rows``; a single array when ``val_arrays`` is None.
    """
    import numpy as np

    n = len(rows)
    single = val_arrays is None
    if single:
        val_arrays = [np.array([r["ub"] for r in rows],
                               dtype=np.float64)]
    nv = len(val_arrays)
    f = np.array([r["first_doc"] for r in rows], dtype=np.int64)
    l = np.array([r["last_doc"] for r in rows], dtype=np.int64)
    term_arr = np.array([r["term"] for r in rows])
    total = [np.zeros(n, dtype=np.float64) for _ in range(nv)]
    own = [np.zeros(n, dtype=np.float64) for _ in range(nv)]
    by_term_runs: dict[str, dict] = {}
    for i, r in enumerate(rows):
        runs = by_term_runs.setdefault(r["term"], {})
        runs.setdefault(r["salt"], []).append(i)
    for t, runs in by_term_runs.items():
        contrib = [np.zeros(n, dtype=np.float64) for _ in range(nv)]
        for idxs in runs.values():
            idx = np.array(idxs, dtype=np.int64)
            order = np.argsort(f[idx], kind="stable")
            idx = idx[order]
            firsts = f[idx]
            lasts = l[idx]
            lo = np.searchsorted(lasts, f, side="left")
            hi = np.searchsorted(firsts, l, side="right") - 1
            valid = lo <= hi
            if not valid.any():
                continue
            for v in range(nv):
                tables = _sparse_max_tables(val_arrays[v][idx])
                vals = _range_max(tables, lo[valid], hi[valid])
                contrib[v][valid] = np.maximum(contrib[v][valid], vals)
        m = term_arr == t
        for v in range(nv):
            total[v] += contrib[v]
            own[v][m] = contrib[v][m]
    rests = [total[v] - own[v] for v in range(nv)]
    return rests[0] if single else rests


def _idf_map(dfs: dict[str, int], n_docs: int) -> Column:
    if not dfs:
        # no query term matched the dictionary: a zero-arg create_map
        # types as map<void,void> and fails analysis when indexed by a
        # string — the caller's decoded postings are empty anyway, so
        # any typed scalar works
        return F.create_map(F.lit(""), F.lit(0.0))
    return F.create_map(
        *[
            x
            for t, df_t in dfs.items()
            for x in (
                F.lit(t),
                F.lit(
                    math.log(
                        1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5)
                    )
                ),
            )
        ]
    )


def _partial_scores(
    decoded: DataFrame,
    dfs: dict[str, int],
    n_docs: int,
    avgdl: float,
    tf_mode: str,
) -> DataFrame:
    """Exact per-doc BM25 partial sums over a set of decoded postings
    (df/idf inlined as ≤ len(terms) literals — no dictionary join)."""
    tf = F.lit(1.0) if tf_mode == "basic" else F.col("tf").cast("double")
    return (
        decoded.withColumn(
            "part_score",
            _idf_map(dfs, n_docs)[F.col("term")]
            * tf_norm_dyn(tf, F.col("doc_len").cast("double"),
                          F.lit(avgdl)),
        )
        .groupBy("doc_id")
        .agg(F.sum("part_score").alias("score"))
    )


def _seed_theta(
    meta: DataFrame,
    seed_keys: list[str] | None,
    dfs: dict[str, int],
    n_docs: int,
    avgdl: float,
    k: int,
    tau: float,
    tf_mode: str,
) -> float:
    """Tighten the pruning threshold with the real BlockWAND θ.

    τ certifies k docs from SINGLE-term impact ranks only, so for
    multi-term unions it sits below every block's rest-of-query upper
    bound and prunes nothing (measured: 0%% on every union shape).
    The fix is the DAAT accumulator's trick, distributed: decode the
    τ-defining seed blocks (~⌈k/16⌉ per term — metadata-chosen, a
    handful), score them EXACTLY, and take the k-th best partial sum.
    A doc's partial over any posting subset lower-bounds its true
    score, so θ = k-th partial ≤ k-th true score — a sound, and much
    tighter, threshold: seed blocks of different terms overlap in docs
    (topical pages use several query terms), so θ captures the
    cross-term sums τ structurally cannot.
    """
    if not seed_keys:
        return tau - _BOUND_GUARD
    # OR-of-conjunctions over STORED columns (not the derived _bkey):
    # parquet pushes these to row-group stats, so at 10^12-doc scale
    # the seed job reads ~|seed| blocks' payloads, not the whole
    # candidate term's
    cond = None
    for r in seed_keys:
        c = (
            (F.col("term") == r["term"])
            & (F.col("salt") == r["salt"])
            & (F.col("block_id") == r["block_id"])
        )
        cond = c if cond is None else (cond | c)
    # ONE narrow pushed-filter collect of the ≤ |seed| payload rows,
    # scored DRIVER-SIDE in numpy: the seed set is a metadata-chosen
    # handful of blocks (≤ _SEED_CAP·|terms| + joint ≈ a few thousand
    # postings), so the previous decode → groupBy → orderBy → collect
    # Spark job was pure scheduling overhead per query.  Per-posting
    # arithmetic mirrors tf_norm_dyn exactly; accumulation-order ulp
    # drift vs the SQL plan is absorbed by _BOUND_GUARD, the same
    # cross-provenance guard the survivor filter already needs.
    rows = meta.filter(cond).select(
        "term", "first_doc", "doc_deltas", "tfs", "dls"
    ).collect()
    if not rows:
        return tau - _BOUND_GUARD
    import numpy as np

    from ..index.blocks import varint_decode

    idf = {
        t: math.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
        for t, df_t in dfs.items()
    }
    a = K1 * (1.0 - B)
    c_q = K1 * B / max(avgdl, 1e-300)
    acc: dict[int, float] = {}
    for r in rows:
        deltas = varint_decode(bytes(r["doc_deltas"])).astype(np.int64)
        docs = np.cumsum(deltas) + r["first_doc"]
        dls = varint_decode(bytes(r["dls"])).astype(np.float64)
        if tf_mode == "basic":
            tf = np.ones_like(dls)
        else:
            tf = varint_decode(bytes(r["tfs"])).astype(np.float64)
        scores = idf[r["term"]] * (
            tf * (K1 + 1.0) / (tf + a + c_q * dls)
        )
        for d, s in zip(docs.tolist(), scores.tolist()):
            acc[d] = acc.get(d, 0.0) + s
    if len(acc) < k:
        return tau - _BOUND_GUARD
    kth = sorted(acc.values(), reverse=True)[k - 1]
    return max(tau, kth) - _BOUND_GUARD


# surviving-key lists up to this size inline as an isin literal; above
# it they ship as a broadcast local relation instead (a py4j transfer
# of thousands of literals costs seconds per job; the Arrow-backed
# local relation does not)
_KEYS_INLINE_BOUND = 1_000


def _survival_mask(meta_rows, rest_arr, theta: float):
    """Driver-side per-block survival: ub + overlap-rest ≥ θ."""
    import numpy as np

    ub = np.array([r["ub"] for r in meta_rows], dtype=np.float64)
    return ub + rest_arr >= theta


def _filter_survivors(meta: DataFrame, meta_rows, rest_arr,
                      theta: float, ub_others: dict) -> DataFrame:
    """Survivor selection for job 2.

    Collect path (block metadata driver-side): per-block OVERLAP rest
    bounds — the tight form; surviving block keys inline as literals
    (or a broadcast relation past _KEYS_INLINE_BOUND).  Window path
    (10^9+-doc terms): the global Σ max_ub rest bound as a plain
    column filter — looser but fully distributed.
    """
    if meta_rows is None:
        others_map = F.create_map(
            *[x for t, v in ub_others.items()
              for x in (F.lit(t), F.lit(v))]
        )
        return meta.filter(
            F.col("ub")
            + F.coalesce(others_map[F.col("term")], F.lit(0.0))
            >= F.lit(theta)
        )
    import numpy as np

    keep = _survival_mask(meta_rows, rest_arr, theta)
    if keep.all():
        # nothing pruned (flat corpora) — skip the key filter entirely
        # rather than paying a no-op membership test over every block
        return meta
    # dedupe: _bkey is a '|'-joined string, so a term containing '|'
    # (possible with the raw tokenizer) can alias two blocks to one
    # key.  On the isin path a collision only over-includes (sound),
    # but duplicate keys on the join path would multiply matching
    # meta rows and double-count those blocks' partial scores.
    keys = list(
        dict.fromkeys(meta_rows[i]["_bkey"] for i in np.nonzero(keep)[0])
    )
    if len(keys) <= _KEYS_INLINE_BOUND:
        return meta.filter(F.col("_bkey").isin(keys))
    import pandas as pd

    kdf = meta.sparkSession.createDataFrame(
        pd.DataFrame({"_bkey": keys})
    )
    return meta.join(F.broadcast(kdf), "_bkey")


def _avgdl_for(fieldstats: DataFrame | float, field: str) -> float:
    """Query-time avgdl as a scalar (fieldstats is literal metadata —
    built indexes materialize it as a local relation, segment opens
    stitch it from stats.json).  Collected UNFILTERED: a bare collect
    on a local relation is a driver-side LocalTableScan (no job); a
    filter on top would fall back to a full task launch."""
    if isinstance(fieldstats, (int, float)):
        return float(fieldstats)
    seen = []
    for r in fieldstats.collect():
        if r["field"] == field:
            return float(r["avgdl"])
        seen.append(r["field"])
    # a 0.0 default would divide doc lengths by zero downstream and
    # return k arbitrary docs all scored 0.0 — fail loudly instead
    raise KeyError(
        f"field {field!r} has no avgdl in fieldstats (known: {seen}); "
        "was it indexed as a text field?"
    )


def _block_bounds(
    blocks: DataFrame,
    termstats: DataFrame,
    n_docs: int,
    field: str,
    terms: list[str],
    k: int,
    avgdl: float,
    tf_mode: str = "full",
):
    """Shared metadata pass: candidate block metadata with (ub, hi,
    hi_n) columns, the pruning threshold tau, per-term rest-of-query
    upper bounds and dfs.  Used by blockmax_topk (job 1) and by
    blockmax_prune_stats (observability)."""
    cand = blocks.filter(
        (F.col("field") == field) & F.col("term").isin(list(terms))
    )
    # query-term dictionary slice: tiny (≤ len(terms) rows), broadcast
    # everywhere — the scoring join after the opaque Arrow decode gets
    # no inferred constraints, so pre-filtering is what keeps the full
    # dictionary out of the plan
    ts_q = termstats.filter(
        (F.col("field") == field) & F.col("term").isin(list(terms))
    ).select("field", "term", "df")
    meta = cand.join(F.broadcast(ts_q), ["field", "term"])
    idf = idf_col(n_docs, F.col("df").cast("double"))

    a_const = F.lit(K1 * (1.0 - B))
    c_ref = F.lit(K1 * B) / F.col("ref_avgdl")
    c_q = F.lit(K1 * B / max(avgdl, 1e-300))

    def ratio(tf: Column, dl: Column) -> Column:
        return (tf + a_const + c_ref * dl) / (tf + a_const + c_q * dl)

    corners = [
        ratio(F.col(tf).cast("double"), F.col(dl).cast("double"))
        for tf in ("min_tf", "max_tf")
        for dl in ("min_dl", "max_dl")
    ]
    if tf_mode == "basic":
        # tf pinned to 1: impact stats (built on real tf) don't apply;
        # bound the tf=1 norm directly from the dl corner stats
        def tfn1(dl: Column) -> Column:
            return F.lit(K1 + 1.0) / (F.lit(1.0) + a_const + c_q * dl)

        ub = idf * tfn1(F.col("min_dl").cast("double"))
        # EVERY posting scores ≥ the tf=1 norm at max_dl, so the block
        # certifies its full count at hi
        hi = idf * tfn1(F.col("max_dl").cast("double"))
        hi_n = F.col("count").cast("long")
    else:
        ub = idf * F.col("max_tfn") * F.greatest(*corners)
        hi = idf * F.col("hi_tfn") * F.least(*corners)
        hi_n = F.least(F.col("count"), F.lit(HI_RANK)).cast("long")
    meta = (
        meta.withColumn("ub", ub)
        .withColumn("hi", hi)
        .withColumn("hi_n", hi_n)
        .withColumn("_bkey", F.concat_ws("|", "term", "salt", "block_id"))
    )

    # job 1: per-term (τ_t, max_ub) off metadata columns only.  When the
    # candidate metadata is collectable, a plain scan+collect (no
    # exchanges) beats the window plan's two shuffles; past the bound
    # (10^9+ doc terms) the distributed window is the scale shape.
    # The bound is enforced EXACTLY via limit(bound+1) — an a-priori
    # estimate under-counts partial blocks (each (term, salt) run ends
    # in one), so the real row count can exceed len(terms)·n_docs/128
    # and pressure driver memory.  limit() collects incrementally, so
    # the overflow probe costs at most one extra partition scan before
    # falling back to the distributed plan.
    dfs: dict[str, int] = {}
    seed_keys: list[str] | None = None
    meta_rows = None
    sel = ["term", "df", "hi", "hi_n", "ub", "_bkey", "salt",
           "block_id", "first_doc", "last_doc", "count"]
    # overflow probe gate: blocks per term ≤ ⌈n_docs/BLOCK_SIZE⌉ plus
    # one partial block per salt run, so when the a-priori ceiling is
    # comfortably under COLLECT_BOUND the wide collect
    # cannot overflow and runs directly (the common case, one job).
    # Only when the ceiling says overflow is POSSIBLE (10^9+-doc
    # terms) does a narrow single-column count probe run first, so the
    # overflow path never materializes COLLECT_BOUND wide rows (~100s
    # of MB) on the driver just to discard them.  _RUN_SLACK covers
    # the partial-block term; a salt count beyond it merely pays the
    # probe.
    est_ceiling = len(terms) * (-(-n_docs // 128) + _RUN_SLACK)
    overflowed = False
    if est_ceiling > COLLECT_BOUND:
        probe = (
            meta.select("block_id").limit(COLLECT_BOUND + 1).count()
        )
        overflowed = probe > COLLECT_BOUND
    rows = (
        []
        if overflowed
        else meta.select(*sel).limit(COLLECT_BOUND + 1).collect()
    )
    rest_arr = None
    if not overflowed and len(rows) <= COLLECT_BOUND:
        import numpy as np

        meta_rows = rows
        by_term: dict[str, list] = {}
        for r in rows:
            by_term.setdefault(r["term"], []).append(r)
            dfs[r["term"]] = int(r["df"])
        taus, max_ubs = [], {}
        seed_idx: set[int] = set()
        order_of = {id(r): i for i, r in enumerate(rows)}
        for t, rs in by_term.items():
            rs.sort(key=lambda r: -r["hi"])
            max_ubs[t] = max(r["ub"] for r in rs)
            cum = 0
            term_seeds = 0
            for r in rs:
                # τ_t's defining hi-desc prefix joins the SEED set for
                # the exact-θ pass (the prefix is ~⌈k/16⌉ blocks; a
                # rare term that never certifies k contributes its few
                # blocks whole).  Cap PER TERM — a global budget could
                # be eaten whole by the first term iterated, starving
                # the others and collapsing θ to a single-term bound.
                if term_seeds < _SEED_CAP:
                    seed_idx.add(order_of[id(r)])
                    term_seeds += 1
                cum += r["hi_n"]
                if cum >= k:
                    taus.append(r["hi"])
                    break
        sum_ub = sum(max_ubs.values())
        tau = max(taus) if taus else float("-inf")
        ub_others = {t: sum_ub - v for t, v in max_ubs.items()}

        # overlap-rest bounds (see _overlap_rest) — the ub variant
        # feeds the survivor filter; the hi variant feeds the seed
        # gate below.  One pass shares the run grouping + searches.
        ub_arr = np.array([r["ub"] for r in rows], dtype=np.float64)
        hi_arr = np.array([r["hi"] for r in rows], dtype=np.float64)
        hi_n_arr = np.array([r["hi_n"] for r in rows], dtype=np.int64)
        cnt_arr = np.array([r["count"] for r in rows],
                           dtype=np.float64)
        rest_arr, rest_hi = _overlap_rest(rows, [ub_arr, hi_arr])

        # ---- adaptive seed gate ----------------------------------
        # The seed-θ job (1.5) decodes ~8·|terms| payload blocks; on
        # flat corpora (near-uniform impact bounds) no achievable θ
        # can prune, so the job is pure overhead on every query
        # (measured: +0.6 s at sf0.1, +2 s on the 53M-posting durable
        # index).  Estimate the best θ the seed pass could plausibly
        # find WITHOUT decoding: each block certifies hi_n postings
        # scoring ≥ hi on its own term, and the best cross-term
        # partial a seed doc could add is the hi of the overlapping
        # partner blocks (rest_hi).  τ_joint = the k-th certified
        # optimistic score (the τ construction run on hi + rest_hi
        # instead of hi) ≥ any θ the decode would realistically
        # produce on flat shapes, and tracks it closely on skewed
        # ones (measured: predicts 0% on flat vs actual 0%; ≥13% on
        # every skewed shape where seed pays, actual 11-94%).  When
        # pruning at τ_joint would drop < _GATE_MIN_PRUNE of the
        # postings, skip the seed job and prune with τ alone — the
        # pre-seed single-phase plan.  The gate is an ESTIMATE used
        # only to skip work; the pruning bound actually applied
        # (ub + rest vs θ) stays sound either way.
        o_arr = hi_arr + rest_hi
        bound = ub_arr + rest_arr
        total_cnt = float(cnt_arr.sum())
        prune_frac_est = 0.0
        if o_arr.size and total_cnt:
            order = np.argsort(-o_arr)
            cum_n = np.cumsum(hi_n_arr[order])
            pos = int(np.searchsorted(cum_n, k))
            tau_joint = float(o_arr[order[min(pos, len(o_arr) - 1)]])
            prune_frac_est = (
                float(cnt_arr[bound < tau_joint].sum()) / total_cnt
            )
        if prune_frac_est < _GATE_MIN_PRUNE:
            seed_keys = None
        else:
            f_arr = np.array([r["first_doc"] for r in rows],
                             dtype=np.int64)
            l_arr = np.array([r["last_doc"] for r in rows],
                             dtype=np.int64)
            term_arr = np.array([r["term"] for r in rows])
            # per-term seeds alone miss multi-term docs (each term's
            # best block usually covers a different doc region),
            # leaving θ a single-term number that prunes nothing on
            # unions.  Add the blocks with the best JOINT bound
            # (ub + overlap-rest) plus, for each, the argmax partner
            # block per other term — decoding those materializes the
            # cross-term sums θ needs.
            n_joint = max(2, -(-k // HI_RANK) + 1)
            for i in np.argsort(-bound)[:n_joint]:
                i = int(i)
                seed_idx.add(i)
                for t2 in by_term:
                    if t2 == rows[i]["term"]:
                        continue
                    m = (
                        (term_arr == t2)
                        & (f_arr <= l_arr[i])
                        & (l_arr >= f_arr[i])
                    )
                    if m.any():
                        cand_idx = np.nonzero(m)[0]
                        seed_idx.add(
                            int(cand_idx[np.argmax(ub_arr[m])])
                        )
            # pairwise conjunction seeds (round-4 VERDICT #9): on
            # balanced-df unions (mid+mid) the top-k is docs matching
            # BOTH terms, and neither the per-term hi prefixes nor the
            # few joint blocks above reliably cover them — measured θ
            # 3.33 vs true-kth 5.39 on the skewed 20k corpus, leaving
            # 36.5% certifiably prunable postings undecoded
            # (scripts_blockmax_ceiling.py).  Only block PAIRS whose
            # doc ranges intersect can contain two-term docs, so rank
            # overlapping pairs by overlap-weighted joint hi — the
            # certified co-occurrence optimism — and decode the top
            # pairs.  Candidates cap at _PAIR_TOP blocks/term and one
            # best partner per (left block, term pair), so the extra
            # seed decode is ≤ 2·_PAIR_SEEDS blocks (≤ ~4k postings)
            # regardless of term df — at 10^12 docs this is the same
            # constant-size pushed-filter scan.  θ stays the k-th
            # EXACT partial sum: pair seeding changes which blocks
            # feed it, never its soundness.  Measured: mid+mid 0% →
            # 36.5% pruned (= the θ* ceiling), stop+stop 42.5% →
            # toward its 60.9% ceiling, flat corpora untouched (the
            # adaptive gate above already skips them).
            terms_present = list(by_term)
            if len(terms_present) >= 2:
                pair_scores: list[tuple[float, int, int]] = []
                cand_of: dict[str, "np.ndarray"] = {}
                for t in terms_present:
                    ti = np.nonzero(term_arr == t)[0]
                    if len(ti) > _PAIR_TOP:
                        ti = ti[np.argsort(-hi_arr[ti])[:_PAIR_TOP]]
                    cand_of[t] = ti
                for x in range(len(terms_present)):
                    for y in range(x + 1, len(terms_present)):
                        js = cand_of[terms_present[y]]
                        if not len(js):
                            continue
                        for i in cand_of[terms_present[x]]:
                            i = int(i)
                            lo = np.maximum(f_arr[js], f_arr[i])
                            hi_e = np.minimum(l_arr[js], l_arr[i])
                            m = lo <= hi_e
                            if not m.any():
                                continue
                            js_m = js[m]
                            width = np.minimum(
                                l_arr[js_m] - f_arr[js_m],
                                l_arr[i] - f_arr[i],
                            ) + 1
                            ov = (hi_e[m] - lo[m] + 1) / np.maximum(
                                width, 1
                            )
                            sc = (hi_arr[i] + hi_arr[js_m]) * ov
                            b = int(np.argmax(sc))
                            pair_scores.append(
                                (float(sc[b]), i, int(js_m[b]))
                            )
                pair_scores.sort(reverse=True)
                for _, i, j in pair_scores[:_PAIR_SEEDS]:
                    seed_idx.add(i)
                    seed_idx.add(j)
            seed_keys = [rows[i] for i in sorted(seed_idx)]
    else:
        w = Window.partitionBy("term").orderBy(
            F.col("hi").desc()
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        per_term = (
            meta.select("term", "df", "hi", "hi_n", "ub")
            .withColumn("cum", F.sum("hi_n").over(w))
            .groupBy("term")
            .agg(
                F.max(
                    F.when(F.col("cum") >= F.lit(k), F.col("hi"))
                ).alias("tau_t"),
                F.max("ub").alias("max_ub"),
                F.max("df").alias("df"),
            )
            .collect()
        )
        taus = [r["tau_t"] for r in per_term if r["tau_t"] is not None]
        tau = max(taus) if taus else float("-inf")
        sum_ub = sum(r["max_ub"] for r in per_term)
        ub_others = {r["term"]: sum_ub - r["max_ub"] for r in per_term}
        dfs = {r["term"]: int(r["df"]) for r in per_term}

    return meta, tau, ub_others, dfs, seed_keys, meta_rows, rest_arr


def blockmax_topk(
    blocks: DataFrame,
    termstats: DataFrame,
    doclens: DataFrame,
    fieldstats: DataFrame,
    n_docs: int,
    field: str,
    terms: list[str],
    k: int,
    tf_mode: str = "full",
) -> DataFrame:
    """Top-k BM25 over a union-of-terms query using block-max pruning.

    ``doclens`` is accepted for API compatibility but unused: block
    payloads carry doc_len inline (format v4), so scoring the decoded
    survivors needs no doclens join.
    """
    avgdl = _avgdl_for(fieldstats, field)
    meta, tau, ub_others, dfs, seed_keys, meta_rows, rest_arr = (
        _block_bounds(
            blocks, termstats, n_docs, field, terms, k, avgdl, tf_mode
        )
    )
    # job 1.5: exact θ from the seed blocks (see _seed_theta) — a
    # metadata-chosen handful of payloads, collected as ≤ k rows
    theta = _seed_theta(meta, seed_keys, dfs, n_docs, avgdl, k, tau,
                        tf_mode)
    # job 2: survivor filter (overlap-rest bounds, _filter_survivors)
    # → decode → exact BM25 → top-k.  df came back with job 1, so idf
    # inlines as ≤ len(terms) literals: the scoring pass is decode →
    # column arithmetic → one groupBy(doc) — no dictionary join at all.
    survivors = _filter_survivors(meta, meta_rows, rest_arr, theta,
                                  ub_others)
    decoded = decode_blocks_df(
        survivors.select("field", "term", "first_doc", "doc_deltas",
                         "tfs", "dls")
    )
    scored = _partial_scores(decoded, dfs, n_docs, avgdl, tf_mode)
    return topk(scored, k)


def blockmax_prune_stats(
    blocks: DataFrame,
    termstats: DataFrame,
    fieldstats: DataFrame | float,
    n_docs: int,
    field: str,
    terms: list[str],
    k: int,
    tf_mode: str = "full",
) -> dict:
    """Observability: per-term pruning effectiveness for a query.

    Returns {"tau": τ, "terms": {t: {"blocks", "survivors", "postings",
    "surviving_postings"}}} using the exact bounds blockmax_topk plans
    with.  Pruning power is CORPUS-SHAPED, not just an implementation
    property: on flat synthetic corpora (tf≈1 everywhere, uniform doc
    lengths) block impact bounds are nearly uniform and τ — set by the
    rarest term's k-th certified score — sits below every block's
    rest-of-query upper bound, so unions of disparate-df terms decode
    ~everything (measured: 0% pruned on the 53M-posting synthetic
    index for a stopword+mid+rare union).  On real webtext the tf and
    doc-length skew concentrates impact in few blocks and the same
    bounds prune.  This helper is how an operator measures that on
    THEIR corpus before trusting the pruned path's cost model.
    """
    avgdl = _avgdl_for(fieldstats, field)
    meta, tau, ub_others, dfs, seed_keys, meta_rows, rest_arr = (
        _block_bounds(
            blocks, termstats, n_docs, field, terms, k, avgdl, tf_mode
        )
    )
    theta = _seed_theta(meta, seed_keys, dfs, n_docs, avgdl, k, tau,
                        tf_mode)
    per_term: dict[str, dict] = {}
    if meta_rows is not None:
        keep = _survival_mask(meta_rows, rest_arr, theta)
        for i, r in enumerate(meta_rows):
            d = per_term.setdefault(
                r["term"],
                {"blocks": 0, "survivors": 0, "postings": 0,
                 "surviving_postings": 0},
            )
            d["blocks"] += 1
            d["postings"] += int(r["count"])
            if keep[i]:
                d["survivors"] += 1
                d["surviving_postings"] += int(r["count"])
    else:
        others_map = F.create_map(
            *[x for t, v in ub_others.items()
              for x in (F.lit(t), F.lit(v))]
        )
        agg = (
            meta.withColumn(
                "survives",
                (
                    F.col("ub")
                    + F.coalesce(others_map[F.col("term")], F.lit(0.0))
                    >= F.lit(theta)
                ).cast("int"),
            )
            .groupBy("term")
            .agg(
                F.count("*").alias("blocks"),
                F.sum("survives").alias("survivors"),
                F.sum("count").alias("postings"),
                F.sum(F.col("count") * F.col("survives")).alias(
                    "surviving_postings"
                ),
            )
            .collect()
        )
        per_term = {
            r["term"]: {
                "blocks": int(r["blocks"]),
                "survivors": int(r["survivors"]),
                "postings": int(r["postings"]),
                "surviving_postings": int(r["surviving_postings"]),
            }
            for r in agg
        }
    return {"tau": tau, "theta": theta, "terms": per_term}
