"""Packed posting-block format + numpy pack/unpack kernels.

Posting lists are doc-ordered and chunked into blocks of
``constants.BLOCK_SIZE`` postings (north_rule: delta-gap + varint
compression; block-max metadata for WAND-style pruning):

    term_id    : long
    salt       : int      doc-range shard for skewed terms (B4) —
                          salt = doc_id // SALT_DOC_RANGE for terms with
                          df > SALT_DF_THRESHOLD, else 0; (salt,
                          block_ord) preserves global doc order because
                          salt is monotone in doc_id
    block_ord  : int      block ordinal within (term_id, salt)
    n_docs     : int
    first_doc  : long     min doc id (data-skipping lower bound)
    last_doc   : long     max doc id
    max_score  : double   block-max BM25 upper bound (pruning metadata)
    doc_bytes  : binary   delta-gap + LEB128 varint doc ids
    tf_bytes   : binary   varint term frequencies
    dl_bytes   : binary   varint field lengths (norms inlined for scoring)
    w_bytes    : binary   float64 LE payload-weight SUMS (wsum; avg =
                          wsum/tf at score time, bit-identical to the
                          DataFrame scorer and the oracle)
    pos_bytes  : binary   term positions, delta-gap + varint: per doc
                          the first position is absolute and the rest
                          are gaps (>= 0 — M-term variants share
                          positions); per-doc counts are the tfs, so no
                          extra length prefix is stored. The Lucene
                          .pos-file analog, packed beside the doc data
                          so phrase queries run on the block surface
                          (round-3 VERDICT #1)

Weights themselves were 16-bit-quantized at token emission (codec.py);
wsum is their exact float64 sum, so no further precision is lost.

Blocks are the index's ONE posting surface (the Lucene .doc/.pos
analog): no exploded posting-row or token table is persisted. Every
consumer that needs posting rows — the df reference plan, explain,
compaction's repack, the tests — reads them through ``decode_postings``
(``posting_rows`` as a mapInPandas fn), which is lossless for (term_id,
doc_id, tf, wsum, dl) and for positions wherever pos_bytes is packed.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from mias_spec import codec
from mias_spec.constants import BLOCK_SIZE, BM25_B, BM25_K1

BLOCKS_SCHEMA = (
    "term_id long, salt int, block_ord int, n_docs int, first_doc long, "
    "last_doc long, max_score double, idf0 double, avgdl0 double, "
    "doc_bytes binary, tf_bytes binary, dl_bytes binary, w_bytes binary, "
    "pos_bytes binary"
)


def _bm25_vec(tf: np.ndarray, dl: np.ndarray, idf, avgdl) -> np.ndarray:
    """idf/avgdl may be scalars or per-row arrays."""
    return idf * tf * (BM25_K1 + 1.0) / (
        tf + BM25_K1 * (1.0 - BM25_B
                        + BM25_B * dl / np.maximum(avgdl, 1e-9)))


_COLS = ["term_id", "salt", "block_ord", "n_docs", "first_doc",
         "last_doc", "max_score", "idf0", "avgdl0", "doc_bytes",
         "tf_bytes", "dl_bytes", "w_bytes", "pos_bytes"]


def _pack_frame(g: pd.DataFrame, with_positions: bool = True
                ) -> pd.DataFrame:
    """Pack a (term_id, salt, doc_id)-sorted frame into block rows —
    fully vectorized: group/block boundaries via numpy masks, block-max
    via maximum.reduceat, ONE varint encode per column per frame with
    byte-offset slicing (codec.encode_varints_split). No per-group
    Python loop — the per-block cost is what bounds pack throughput at
    10^9-term scale."""
    term = g["term_id"].to_numpy(np.int64)
    salt = g["salt"].to_numpy(np.int64)
    docs = g["doc_id"].to_numpy(np.int64)
    tfs = g["tf"].to_numpy(np.int64)
    pos_flat = (np.concatenate(
        [np.asarray(p, dtype=np.int64) for p in g["positions"]])
        if with_positions else None)
    dls = g["dl"].to_numpy(np.int64)
    ws = g["wsum"].to_numpy(np.float64)
    idf = g["idf"].to_numpy(np.float64)
    avgdl = g["avgdl"].to_numpy(np.float64)
    n = len(term)

    newgrp = np.empty(n, dtype=bool)
    newgrp[0] = True
    newgrp[1:] = (term[1:] != term[:-1]) | (salt[1:] != salt[:-1])
    gstart = np.flatnonzero(newgrp)
    glen = np.diff(np.append(gstart, n))
    gidx = np.arange(n) - np.repeat(gstart, glen)   # index within group
    bmask = (gidx % BLOCK_SIZE) == 0
    bstart = np.flatnonzero(bmask)
    bend = np.append(bstart[1:], n)
    bpg = -(-glen // BLOCK_SIZE)                    # blocks per group
    first_block = np.cumsum(bpg) - bpg
    block_ord = np.arange(len(bstart)) - np.repeat(first_block, bpg)

    tf_f = tfs.astype(np.float64)
    scores = _bm25_vec(tf_f, dls.astype(np.float64), idf, avgdl) * (ws / tf_f)
    max_score = np.maximum.reduceat(scores, bstart)

    gaps = np.empty(n, dtype=np.int64)
    gaps[0] = docs[0]
    gaps[1:] = docs[1:] - docs[:-1]
    gaps[bstart] = docs[bstart]     # absolute doc id at each block start
    inner = np.ones(n, dtype=bool)
    inner[bstart] = False
    assert (gaps[inner] > 0).all(), "doc ids must increase within block"

    doc_bytes = codec.encode_varints_split(gaps.astype(np.uint64), bstart)
    tf_bytes = codec.encode_varints_split(tfs.astype(np.uint64), bstart)
    dl_bytes = codec.encode_varints_split(dls.astype(np.uint64), bstart)
    w_all = ws.astype("<f8").tobytes()
    w_bytes = [w_all[8 * s:8 * e] for s, e in zip(bstart, bend)]

    # per-doc delta-gap positions: absolute at every doc start (no
    # cross-block or cross-doc dependency), gaps within a doc (>= 0:
    # unified M-term variants share positions). len(positions) == tf,
    # so the decoder recovers per-doc runs from tf_bytes alone.
    # ``with_positions=False`` (non-positional fields, see
    # _pack_frame_split) skips the encode and leaves pos_bytes null.
    if with_positions:
        pstarts = np.cumsum(tfs) - tfs        # row -> first flat pos
        pgaps = np.empty(len(pos_flat), dtype=np.int64)
        pgaps[0] = pos_flat[0]
        pgaps[1:] = pos_flat[1:] - pos_flat[:-1]
        pgaps[pstarts] = pos_flat[pstarts]
        assert (pgaps >= 0).all(), \
            "positions must be non-decreasing per doc"
        pos_bytes = codec.encode_varints_split(pgaps.astype(np.uint64),
                                               pstarts[bstart])
    else:
        pos_bytes = None

    out = pd.DataFrame({
        "term_id": term[bstart], "salt": salt[bstart].astype(np.int32),
        "block_ord": block_ord.astype(np.int32),
        "n_docs": (bend - bstart).astype(np.int32),
        "first_doc": docs[bstart], "last_doc": docs[bend - 1],
        "max_score": max_score,
        # stats snapshot at pack time: score is LINEAR in idf, so
        # query-time pruning rescales max_score by idf_fresh/idf0
        # exactly; it is NOT linear in avgdl, so avgdl drift is bounded
        # conservatively instead — upper bounds × max(1, avgdl_f/avgdl0),
        # theta floor × min(1, avgdl_f/avgdl0) (score(avgdl_f)/score(
        # avgdl0) lies between those ratios for every tf, dl — the
        # denominators (A + C/a) shift toward 1 as the constant part A
        # grows). See search._topk_blocks.
        "idf0": idf[bstart],
        "avgdl0": avgdl[bstart],
        "doc_bytes": doc_bytes,
        "tf_bytes": tf_bytes, "dl_bytes": dl_bytes, "w_bytes": w_bytes,
        "pos_bytes": pos_bytes,
    }, columns=_COLS)
    return out


#: fields whose positions serve query-time adjacency. Math M-term
#: positions are NEVER read at query time (phrases exist only on
#: content/title; prohibited terms decode doc_bytes alone; variant
#: overlap is counted at tokenize time), so pmath/cmath blocks pack
#: pos_bytes as null — in a math-dense corpus that is the bulk of the
#: position volume, for a column no query would ever decode.
POSITIONAL_FIELDS = ("content", "title")


def _pack_frame_split(g: pd.DataFrame) -> pd.DataFrame:
    """Positions packed only for POSITIONAL_FIELDS; a term belongs to
    exactly one field, so the split never cuts a (term, salt) group."""
    if "field" not in g.columns:
        return _pack_frame(g, True)
    m = g["field"].isin(POSITIONAL_FIELDS).to_numpy()
    if m.all():
        return _pack_frame(g, True)
    if not m.any():
        return _pack_frame(g, False)
    return pd.concat([_pack_frame(g[m], True),
                      _pack_frame(g[~m], False)], ignore_index=True)


def _pack_iter(batches: Iterator[pd.DataFrame], pack1
               ) -> Iterator[pd.DataFrame]:
    carry: pd.DataFrame | None = None
    for pdf in batches:
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
        if pdf.empty:
            carry = None
            continue
        last_tid = pdf["term_id"].iloc[-1]
        last_salt = pdf["salt"].iloc[-1]
        tail = (pdf["term_id"] == last_tid) & (pdf["salt"] == last_salt)
        carry = pdf[tail]
        head = pdf[~tail]
        if len(head):
            yield pack1(head)
    if carry is not None and not carry.empty:
        yield pack1(carry)


def pack_sorted_partition(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: input rows sorted by (term_id, salt, doc_id)
    within the partition, carrying precomputed ``idf`` and ``avgdl``
    columns (joined from dictionary + field stats — keeps the kernel
    stateless and the stage fully distributed; no driver-side term dicts
    at 10^12 scale). Emits packed blocks. Arrow batches may split a
    term's run, so runs are carried across batch boundaries."""
    yield from _pack_iter(batches, _pack_frame_split)


def unpack_block(row) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(doc_ids, tfs, dls, wsums) from one packed block row."""
    n = int(row.n_docs)
    docs = codec.decode_doc_ids(row.doc_bytes, n)
    tfs = codec.decode_varints(row.tf_bytes, n).astype(np.int64)
    dls = codec.decode_varints(row.dl_bytes, n).astype(np.int64)
    ws = np.frombuffer(row.w_bytes, dtype="<f8")
    return docs, tfs, dls, ws


def unpack_positions(row, tfs: np.ndarray | None = None) -> np.ndarray:
    """Flat per-doc-run positions of one block (run lengths = the tfs;
    pass them if already decoded to skip a second tf_bytes pass)."""
    if tfs is None:
        tfs = codec.decode_varints(row.tf_bytes, int(row.n_docs)) \
            .astype(np.int64)
    return _decode_positions(row.pos_bytes, tfs)


def _decode_positions(pos_bytes: bytes, tfs: np.ndarray) -> np.ndarray:
    npos = int(tfs.sum())
    gaps = codec.decode_varints(pos_bytes, npos).astype(np.int64)
    cs = np.cumsum(gaps)
    starts = np.cumsum(tfs) - tfs
    base = np.repeat(cs[starts] - gaps[starts], tfs)
    return cs - base


# ------------------------------------------------------ posting decoder

#: decodable posting-row columns -> (block column they need, Spark type)
POSTING_COLS = {"tf": ("tf_bytes", "long"), "wsum": ("w_bytes", "double"),
                "dl": ("dl_bytes", "long"),
                "positions": ("pos_bytes", "array<int>")}
ALL_POSTING_COLS = tuple(POSTING_COLS)


def posting_rows_schema(cols: tuple = ALL_POSTING_COLS) -> str:
    return ", ".join(["term_id long", "doc_id long"]
                     + [f"{c} {POSTING_COLS[c][1]}" for c in cols])


def _cat(parts: list, dtype) -> np.ndarray:
    return np.concatenate(parts) if parts else np.empty(0, dtype)


def decode_postings(pdf: pd.DataFrame,
                    cols: tuple = ALL_POSTING_COLS) -> pd.DataFrame:
    """Block rows -> one row per posting: (term_id, doc_id, *cols).
    Only the byte columns ``cols`` need are decoded (and need be
    present in ``pdf``: term_id, n_docs and doc_bytes always, tf_bytes
    for tf or positions, w_bytes for wsum, dl_bytes for dl, pos_bytes
    for positions). ``positions`` is an int32 array per posting where
    the block packs pos_bytes and None where it does not (math
    fields)."""
    n = pdf["n_docs"].to_numpy(np.int64)
    out = {"term_id": np.repeat(pdf["term_id"].to_numpy(np.int64), n),
           "doc_id": _cat([codec.decode_doc_ids(b, k) for b, k in
                           zip(pdf["doc_bytes"], n)], np.int64)}
    if "tf" in cols or "positions" in cols:
        tfs = [codec.decode_varints(b, k).astype(np.int64)
               for b, k in zip(pdf["tf_bytes"], n)]
        if "tf" in cols:
            out["tf"] = _cat(tfs, np.int64)
    if "wsum" in cols:
        out["wsum"] = _cat([np.frombuffer(b, dtype="<f8")
                            for b in pdf["w_bytes"]], np.float64)
    if "dl" in cols:
        out["dl"] = _cat([codec.decode_varints(b, k).astype(np.int64)
                          for b, k in zip(pdf["dl_bytes"], n)], np.int64)
    if "positions" in cols:
        pos: list = []
        for pb, t in zip(pdf["pos_bytes"], tfs):
            if isinstance(pb, (bytes, bytearray)):
                flat = _decode_positions(pb, t).astype(np.int32)
                pos.extend(np.split(flat, np.cumsum(t)[:-1]))
            else:
                pos.extend([None] * len(t))
        out["positions"] = pos
    return pd.DataFrame(out, columns=["term_id", "doc_id", *cols])


def posting_rows(cols: tuple = ALL_POSTING_COLS):
    """mapInPandas fn: block rows -> decode_postings rows (output
    schema ``posting_rows_schema(cols)``)."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield decode_postings(pdf, cols)
    return fn


def decoded_postings(bdf, cols: tuple = ALL_POSTING_COLS):
    """Spark frame of posting rows decoded from a (pruned) blocks
    frame; only the block columns ``cols`` need are scanned."""
    need = ["term_id", "n_docs", "doc_bytes"] + [
        POSTING_COLS[c][0] for c in cols]
    if "positions" in cols and "tf" not in cols:
        need.append("tf_bytes")
    return bdf.select(*need).mapInPandas(posting_rows(cols),
                                         posting_rows_schema(cols))
