"""Posting-block codec: delta + varint encoding with per-block maxes.

The reference's segment format (Tantivy, selected by Toshi at
``toshi-types/src/query/term.rs:38`` / ``requests.http:15``) stores
postings as delta-encoded doc-id runs in bitpacked/varint blocks with
per-block skip data.  This module is our equivalent physical format,
expressed as a parquet table of binary block payloads:

    (field, term, salt, block_id, first_doc, last_doc, count,
     max_tf, min_tf, min_dl, max_dl, max_tfn, hi_tfn, ref_avgdl,
     doc_deltas: binary, tfs: binary, dls: binary)

- doc ids within a (field, term, salt) run are sorted and
  delta-encoded (first delta is relative to first_doc).
- deltas, tfs and dls (per-posting doc lengths — the fieldnorm rides
  inline, like Lucene impact-ordered postings) are LEB128 varints,
  encoded/decoded with fully vectorized numpy (no per-value Python in
  the hot path).
- skip/bound data for the block-max top-k path (SURVEY.md §4 —
  block-max WAND):

  * ``max_tfn`` — the block's EXACT best tf_norm (Tantivy's per-block
    max score sans idf), computed at the encode-time ``ref_avgdl``.
  * ``hi_tfn`` — the HI_RANK-th largest tf_norm in the block (the min
    when count < HI_RANK): the block certifies min(count, HI_RANK)
    postings scoring ≥ hi_tfn, which is what makes a METADATA-ONLY
    kth-score lower bound τ tight (the per-block MIN of a doc_id-
    ordered block is near the corpus floor and prunes nothing).
  * ``max_tf``/``min_tf``/``min_dl``/``max_dl`` — corner stats.
    tf_norm at avgdl_q = tf_norm at ref_avgdl × a per-posting ratio
    that is monotone in tf and dl, so its extremes over the block lie
    at the corners of [min_tf,max_tf]×[min_dl,max_dl] — the query-time
    correction when the query avgdl differs from ref_avgdl.  Same-avgdl
    queries get ratio ≡ 1, i.e. exact block impacts.

Block size 128 mirrors the classic posting-block layout.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from .. import B, K1

BLOCK_SIZE = 128
# τ-bound quantile: each block certifies min(count, HI_RANK) postings
# with tf_norm ≥ hi_tfn
HI_RANK = 16

BLOCKS_SCHEMA = (
    "field string, term string, salt int, block_id int, first_doc long, "
    "last_doc long, count int, max_tf int, min_tf int, min_dl long, "
    "max_dl long, max_tfn double, hi_tfn double, ref_avgdl double, "
    "doc_deltas binary, tfs binary, dls binary"
)

DECODED_SCHEMA = "field string, term string, doc_id long, tf int, doc_len long"


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array, fully vectorized."""
    v = values.astype(np.uint64, copy=True)
    if v.size == 0:
        return b""
    # bytes needed per value: ceil(bit_length / 7), min 1
    nbytes = np.ones(v.shape, dtype=np.int64)
    thresh = np.uint64(1 << 7)
    tmp = v.copy()
    while True:
        mask = tmp >= thresh
        if not mask.any():
            break
        nbytes[mask] += 1
        tmp = tmp >> np.uint64(7)
    total = int(nbytes.sum())
    out = np.zeros(total, dtype=np.uint8)
    starts = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    max_b = int(nbytes.max())
    for k in range(max_b):
        mask = nbytes > k
        chunk = (v[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)
        cont = (nbytes[mask] > k + 1).astype(np.uint8) << 7
        out[starts[mask] + k] = chunk.astype(np.uint8) | cont
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes → uint64 array, fully vectorized."""
    if not buf:
        return np.empty(0, dtype=np.uint64)
    b = np.frombuffer(buf, dtype=np.uint8)
    is_terminal = (b & 0x80) == 0
    # value id of each byte: number of terminals strictly before it
    value_id = np.concatenate(([0], np.cumsum(is_terminal)[:-1]))
    n_values = int(is_terminal.sum())
    # byte position within its value
    starts_mask = np.concatenate(([True], is_terminal[:-1]))
    idx = np.arange(b.size, dtype=np.int64)
    start_idx = idx[starts_mask]
    pos_in_value = idx - start_idx[value_id]
    acc = np.zeros(n_values, dtype=np.uint64)
    np.add.at(
        acc,
        value_id,
        (b & 0x7F).astype(np.uint64) << (7 * pos_in_value).astype(np.uint64),
    )
    return acc


def encode_run(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    doc_lens: np.ndarray,
    ref_avgdl: float,
    assume_sorted: bool = False,
) -> list[tuple]:
    """One (field, term, salt) posting run → block rows.

    Returns [(block_id, first_doc, last_doc, count, max_tf, min_tf,
              min_dl, max_dl, max_tfn, hi_tfn,
              doc_deltas, tfs_bytes, dls_bytes)].
    """
    if assume_sorted:
        d = np.asarray(doc_ids, dtype=np.int64)
        t = np.asarray(tfs, dtype=np.int64)
        dl = np.asarray(doc_lens, dtype=np.int64)
    else:
        order = np.argsort(doc_ids, kind="mergesort")
        d = doc_ids[order].astype(np.int64)
        t = tfs[order].astype(np.int64)
        dl = np.asarray(doc_lens)[order].astype(np.int64)
    # per-posting tf_norm at the build-time reference avgdl
    avgdl = max(float(ref_avgdl), 1e-300)
    tfd = t.astype(np.float64)
    tfn = tfd * (K1 + 1.0) / (
        tfd + K1 * (1.0 - B) + (K1 * B / avgdl) * dl.astype(np.float64)
    )
    blocks = []
    for bi, off in enumerate(range(0, d.size, BLOCK_SIZE)):
        dd = d[off : off + BLOCK_SIZE]
        tt = t[off : off + BLOCK_SIZE]
        ll = dl[off : off + BLOCK_SIZE]
        nn = tfn[off : off + BLOCK_SIZE]
        deltas = np.empty(dd.size, dtype=np.uint64)
        deltas[0] = 0
        if dd.size > 1:
            deltas[1:] = np.diff(dd).astype(np.uint64)
        hi = (
            float(np.partition(nn, nn.size - HI_RANK)[nn.size - HI_RANK])
            if nn.size >= HI_RANK
            else float(nn.min())
        )
        blocks.append(
            (
                bi,
                int(dd[0]),
                int(dd[-1]),
                int(dd.size),
                int(tt.max()),
                int(tt.min()),
                int(ll.min()),
                int(ll.max()),
                float(nn.max()),
                hi,
                varint_encode(deltas),
                varint_encode(tt.astype(np.uint64)),
                varint_encode(ll.astype(np.uint64)),
            )
        )
    return blocks


def decode_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: block rows → (field, term, doc_id, tf,
    doc_len) rows — the inline fieldnorm means scoring decoded blocks
    needs NO doclens join."""
    for pdf in batches:
        fields, terms, doc_ids, tfs, dls = [], [], [], [], []
        for row in pdf.itertuples(index=False):
            deltas = varint_decode(bytes(row.doc_deltas)).astype(np.int64)
            docs = np.cumsum(deltas) + row.first_doc
            t = varint_decode(bytes(row.tfs)).astype(np.int32)
            ll = varint_decode(bytes(row.dls)).astype(np.int64)
            fields.append(np.full(docs.size, row.field, dtype=object))
            terms.append(np.full(docs.size, row.term, dtype=object))
            doc_ids.append(docs)
            tfs.append(t)
            dls.append(ll)
        if not fields:
            continue
        yield pd.DataFrame(
            {
                "field": np.concatenate(fields),
                "term": np.concatenate(terms),
                "doc_id": np.concatenate(doc_ids),
                "tf": np.concatenate(tfs),
                "doc_len": np.concatenate(dls),
            }
        )


def make_encode_kernel(avgdl_by_field: dict[str, float]):
    """mapInArrow kernel factory over partitions pre-sorted by
    (field, term, salt, doc_id): detect run boundaries vectorized and
    encode each run with numpy — no per-group pandas overhead.

    This matters because real dictionaries are dominated by singleton
    terms (unique ids, typos): groupBy().applyInPandas() pays ~ms of
    pandas machinery per GROUP, which at millions of one-posting runs
    turns encoding into a straggler stage.  Here a run costs one slice.

    ``avgdl_by_field`` is the reference avgdl the block impact stats
    (max_tfn/hi_tfn) are computed against; it is stored in every block
    row so query time can correct for avgdl drift.
    """
    import pyarrow as pa

    out_schema = pa.schema(
        [
            ("field", pa.string()),
            ("term", pa.string()),
            ("salt", pa.int32()),
            ("block_id", pa.int32()),
            ("first_doc", pa.int64()),
            ("last_doc", pa.int64()),
            ("count", pa.int32()),
            ("max_tf", pa.int32()),
            ("min_tf", pa.int32()),
            ("min_dl", pa.int64()),
            ("max_dl", pa.int64()),
            ("max_tfn", pa.float64()),
            ("hi_tfn", pa.float64()),
            ("ref_avgdl", pa.float64()),
            ("doc_deltas", pa.binary()),
            ("tfs", pa.binary()),
            ("dls", pa.binary()),
        ]
    )

    def encode_sorted_partitions(batches):
        batch_list = list(batches)
        if not batch_list:
            return
        tbl = pa.Table.from_batches(batch_list).combine_chunks()
        n = tbl.num_rows
        if n == 0:
            return
        fields = np.asarray(tbl.column("field").to_pylist(), dtype=object)
        terms = np.asarray(tbl.column("term").to_pylist(), dtype=object)
        salts = tbl.column("salt").to_numpy()
        doc_ids = tbl.column("doc_id").to_numpy()
        tfs = tbl.column("tf").to_numpy()
        doc_lens = tbl.column("doc_len").to_numpy()
        if n == 1:
            change = np.empty(0, dtype=bool)
        else:
            change = (
                (terms[1:] != terms[:-1])
                | (salts[1:] != salts[:-1])
                | (fields[1:] != fields[:-1])
            )
        starts = np.concatenate(
            ([0], np.nonzero(change)[0] + 1, [n])
        ).astype(np.int64)
        o_field, o_term, o_salt = [], [], []
        o_bid, o_first, o_last, o_count = [], [], [], []
        o_maxtf, o_mintf, o_mindl, o_maxdl = [], [], [], []
        o_maxtfn, o_hitfn, o_ref = [], [], []
        o_deltas, o_tfs, o_dls = [], [], []
        for i in range(len(starts) - 1):
            s, e = starts[i], starts[i + 1]
            if fields[s] not in avgdl_by_field:
                # a 0.0 ref_avgdl poisons every query-time corner ratio
                # (division by zero → NaN bounds) — fail at build time
                raise KeyError(
                    f"no avgdl for field {fields[s]!r} in "
                    f"avgdl_by_field {sorted(avgdl_by_field)}"
                )
            ref = float(avgdl_by_field[fields[s]])
            run = encode_run(
                doc_ids[s:e], tfs[s:e], doc_lens[s:e], ref,
                assume_sorted=True,
            )
            for (bid, first, last, cnt, mtf, ntf, ndl, xdl, mtfn, hitfn,
                 dd, tt, ll) in run:
                o_field.append(fields[s])
                o_term.append(terms[s])
                o_salt.append(int(salts[s]))
                o_bid.append(bid)
                o_first.append(first)
                o_last.append(last)
                o_count.append(cnt)
                o_maxtf.append(mtf)
                o_mintf.append(ntf)
                o_mindl.append(ndl)
                o_maxdl.append(xdl)
                o_maxtfn.append(mtfn)
                o_hitfn.append(hitfn)
                o_ref.append(ref)
                o_deltas.append(dd)
                o_tfs.append(tt)
                o_dls.append(ll)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(o_field, type=pa.string()),
                pa.array(o_term, type=pa.string()),
                pa.array(o_salt, type=pa.int32()),
                pa.array(o_bid, type=pa.int32()),
                pa.array(o_first, type=pa.int64()),
                pa.array(o_last, type=pa.int64()),
                pa.array(o_count, type=pa.int32()),
                pa.array(o_maxtf, type=pa.int32()),
                pa.array(o_mintf, type=pa.int32()),
                pa.array(o_mindl, type=pa.int64()),
                pa.array(o_maxdl, type=pa.int64()),
                pa.array(o_maxtfn, type=pa.float64()),
                pa.array(o_hitfn, type=pa.float64()),
                pa.array(o_ref, type=pa.float64()),
                pa.array(o_deltas, type=pa.binary()),
                pa.array(o_tfs, type=pa.binary()),
                pa.array(o_dls, type=pa.binary()),
            ],
            schema=out_schema,
        )

    return encode_sorted_partitions


def encode_blocks_df(postings_salted, avgdl_by_field: dict[str, float]):
    """postings (field, term, doc_id, tf, doc_len, salt) → blocks.

    Arranges (hash-partition on the run key + partition-local sort,
    one shuffle) then encodes with the vectorized partition kernel.
    """
    spark = postings_salted.sparkSession
    n_part = spark.sparkContext.defaultParallelism * 2
    return (
        postings_salted.select(
            "field", "term", "salt", "doc_id", "tf", "doc_len"
        )
        .repartition(n_part, "field", "term", "salt")
        .sortWithinPartitions("field", "term", "salt", "doc_id")
        .mapInArrow(make_encode_kernel(avgdl_by_field), BLOCKS_SCHEMA)
    )


def decode_blocks_df(blocks):
    """blocks DataFrame → postings (field, term, doc_id, tf)."""
    return blocks.mapInPandas(decode_partition, DECODED_SCHEMA)
