"""Query execution — the Searching.java analog (SURVEY.md §2.4, §3.2).

Driver-side query compile (pure Python, the SAME mias_spec tokenizer as
index time) -> tiny broadcast clause table -> bucket- and term-pruned
scan of the packed posting blocks -> BM25 scoring by a vectorized numpy
block kernel (or native Catalyst expressions) -> MUST-group
conjunction -> TakeOrderedAndProject top-k -> doc_store join for display
fields.

Two physical plans, rank-identical by construction:

  mode="blocks" : the serving plan and the default. Packed delta-gap
                  varint blocks decoded by a numpy kernel; block-max
                  metadata skips blocks that cannot reach the running
                  top-k floor (block-max pruning; conservative
                  OR-upper-bound threshold). A query whose postings fit
                  one shard runs driver-side in ONE job, tombstones
                  included (a small dead set is read once per snapshot
                  and masked in the kernel, the Lucene liveDocs filter).
  mode="df"     : posting rows decoded from the same blocks
                  (blocks.decoded_postings), scored, conjoined and
                  ranked in Catalyst. The reference plan behind the
                  ``ir_engine_topk`` DuckDB oracle row.
"""

from __future__ import annotations

import itertools
import sys
from collections import OrderedDict
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mias_spark import blocks as blk
from mias_spark.catalog import Catalog
from mias_spec.constants import BM25_B, BM25_K1
from mias_spec.queries import compile_query
from mias_spec.scoring import idf as idf_fn

#: target decoded postings per kernel shard — small enough that one
#: task stays in-cache (<10 ms of numpy decode), large enough that task
#: dispatch + Arrow transfer never dominate; the shard count scales
#: linearly with query posting volume up to defaultParallelism
_SHARD_POSTINGS = 1 << 18

#: byte budget of a cached Engine's row memo (_RowMemo): the block rows
#: and display rows its fast path read driver-side, kept for the pinned
#: snapshot — a popular term's blocks and the popular hits' docs stay
#: resident the way a warm searcher's page cache and document cache do
_MEMO_BYTES = 64 << 20

CLAUSE_SCHEMA = ("term_id long, grp int, boost double, idf double, "
                 "avgdl double, bucket int")

#: monotonically increasing per-process sequence for job-group nonces
_search_seq = itertools.count()

#: display fields a with-fields search attaches to its hits
DISPLAY_COLS = ["doc_id", "id", "repo", "path", "title"]


@dataclass
class SearchResult:
    """Searching.java SearchResult analog: hits + totals + timing."""
    hits: pd.DataFrame        # rank, doc_id, score (+ display fields)
    total_groups: int
    query_terms: int
    processed_query: str
    # Q10 total-hit count (Searching.java:206 docs.totalHits). Exact in
    # the df plan; in the blocks plan it is the sum of per-shard match
    # counts — exact ("eq") unless block-max pruning skipped blocks, in
    # which case it is a lower bound ("gte", the Lucene
    # GREATER_THAN_OR_EQUAL_TO relation under early termination).
    total_hits: int = 0
    total_hits_relation: str = "eq"   # "eq" | "gte"
    #: blocks-mode stats for THIS query — skipped_blocks, lossy_blocks,
    #: theta, n_shards, meta_rows (metadata rows the driver pulled for
    #: this call; 0 on a memo hit), path (the plan that ran: "fast" =
    #: the block rows are fetched once and the whole pipeline runs
    #: driver-side, "driver" = single-shard kernel run driver-side
    #: after the metadata job, "distributed" = sharded Spark kernel),
    #: dead_ids (size of the driver-side tombstone set the kernel
    #: masked; -1 when tombstones/exclusions rode the co-grouped
    #: channel instead) and read (how the block rows were fetched:
    #: "arrow" = read driver-side with pyarrow, zero Spark jobs, the
    #: fast path on the parquet binding; "spark" = a Spark job),
    #: memo_terms (how many of the query's terms had their block rows
    #: served from a cached Engine's row memo of the pinned snapshot
    #: instead of that read; 0 on a cold call and with cache=False). None
    #: for df-mode. Per-call value: concurrent searches on one Engine
    #: each get their own.
    blocks_stats: dict | None = None


class _RowMemo:
    """Least-recently-used map of rows read driver-side, bounded by
    the summed byte size of its entries (``cap``): an entry that
    pushes the total past the cap evicts the oldest ones, itself last.
    Holds no lock: the owning Engine holds its own around every call."""

    def __init__(self, cap: int):
        self.cap = cap
        self.nbytes = 0
        self._d: OrderedDict = OrderedDict()

    def get(self, key):
        hit = self._d.get(key)
        if hit is None:
            return None
        self._d.move_to_end(key)
        return hit[0]

    def put(self, key, value, nbytes: int) -> None:
        old = self._d.pop(key, None)
        if old is not None:
            self.nbytes -= old[1]
        self._d[key] = (value, nbytes)
        self.nbytes += nbytes
        while self.nbytes > self.cap:
            self.nbytes -= self._d.popitem(last=False)[1][1]


def _merge_partials(acc_docs, acc_grps, acc_scores, gm):
    """(sorted docs, partial sums, group bitmasks) over everything
    accumulated so far — the cursor state for the conjunctive dynamic
    floor (partial sums are valid lower bounds of final scores)."""
    docs_a = np.concatenate(acc_docs)
    grps_a = np.concatenate(acc_grps)
    sc_a = np.concatenate(acc_scores)
    key = docs_a * gm + grps_a
    uk, inv = np.unique(key, return_inverse=True)
    gsum = np.zeros(len(uk))
    np.add.at(gsum, inv, sc_a)
    pdocs, dinv = np.unique(uk // gm, return_inverse=True)
    psum = np.zeros(len(pdocs))
    np.add.at(psum, dinv, gsum)
    pmask = np.zeros(len(pdocs), np.int64)
    np.bitwise_or.at(pmask, dinv, np.int64(1) << (uk % gm))
    return pdocs, psum, pmask


def _phrase_prepass(pdf: pd.DataFrame, phr: dict, dead_l,
                    lo_l: int, span_l: int, ns: int, gm: int):
    """Fused phrase/ban pre-pass (VERDICT r4 #2): decode the phrase and
    banned TERM blocks that ride the scoring kernel's own shard —
    positions, adjacency, MUST_NOT exclusion and the per-group phrase
    scores all happen inside the one applyInPandas, replacing the two
    extra Python stages (a positions decode + the allowlist agg) the
    round-4 plan paid per phrase query. Returns (dead_all,
    allow_docs, allow_ps): dead_all unions tombstones, banned-term
    docs and MUST_NOT-phrase matches (sorted unique); allow_* carry
    the docs matching EVERY MUST phrase group with their summed
    phrase scores (PhraseClause spec, mias_spec.queries)."""
    from mias_spec import codec as C
    ptids, banned = phr["ptids"], phr["banned_set"]
    store: dict[int, list] = {}
    dead_parts = ([dead_l] if dead_l is not None and len(dead_l)
                  else [])
    for row in pdf.itertuples():
        t = int(row.term_id)
        in_p, in_b = t in ptids, t in banned
        if not (in_p or in_b):
            continue
        n = int(row.n_docs)
        docs = C.decode_doc_ids(row.doc_bytes, n)
        mask = ((docs - lo_l) * ns // span_l) == row.shard
        if in_b and mask.any():
            dead_parts.append(docs[mask])
        if in_p:
            tfs = C.decode_varints(row.tf_bytes, n).astype(np.int64)
            flat = blk.unpack_positions(row, tfs)
            dls = C.decode_varints(row.dl_bytes, n).astype(np.int64)
            if not mask.all():
                flat = flat[np.repeat(mask, tfs)]
                docs, tfs, dls = docs[mask], tfs[mask], dls[mask]
            if len(docs):
                store.setdefault(t, []).append((docs, tfs, dls, flat))
    # per term: concatenate blocks + sort by doc (a live doc appears in
    # exactly one block per term — segments have disjoint doc ranges)
    cat: dict[int, tuple] = {}
    for t, parts in store.items():
        docs = np.concatenate([p[0] for p in parts])
        tfs = np.concatenate([p[1] for p in parts])
        dls = np.concatenate([p[2] for p in parts])
        flat = np.concatenate([p[3] for p in parts])
        starts = np.cumsum(tfs) - tfs
        order = np.argsort(docs, kind="stable")
        lens = tfs[order]
        offs = np.repeat(starts[order], lens)
        within = (np.arange(int(lens.sum()), dtype=np.int64)
                  - np.repeat(np.cumsum(lens) - lens, lens))
        cat[t] = (docs[order], lens, dls[order], flat[offs + within],
                  np.cumsum(lens) - lens)

    _E = (np.empty(0, np.int64), np.empty(0, np.int64),
          np.empty(0, np.int64))

    def match(tids):
        """(docs, ptf, dl) of shard docs where the terms occur at
        consecutive positions — the same chained position-intersect
        the df plan runs, fully vectorized: docs compact to ranks in
        the candidate set and (rank, position) packs into one int64
        key per occurrence, so each chain step is a single sorted
        searchsorted intersect over the whole shard (no per-doc
        Python loop — a phrase matching 10^5 docs in a shard costs
        the same few numpy passes as one matching 10)."""
        es = []
        for t in tids:
            e = cat.get(int(t))
            if e is None:
                return _E
            es.append(e)
        cand = es[0][0]
        for e in es[1:]:
            d = e[0]
            if not len(d) or not len(cand):
                return _E
            ix = np.searchsorted(d, cand)
            ix[ix == len(d)] = 0
            cand = cand[d[ix] == cand]
        if not len(cand):
            return _E
        # content/title analyzer positions are strictly increasing
        # within a doc, so (doc-rank, pos) keys are strictly
        # increasing across each term's flat run — searchsorted
        # membership is exact. KM clears the +1 shifts of the chain.
        km = max(int(e[3].max()) for e in es) + len(es) + 2

        def keys(e):
            docs, lens, _dls, flat, _starts = e
            sel = np.searchsorted(cand, docs)
            sel[sel == len(cand)] = 0
            dm = cand[sel] == docs
            rep = np.repeat(dm, lens)
            rk = np.repeat(sel, lens)[rep]
            return rk * km + flat[rep]

        P = keys(es[0])
        for e in es[1:]:
            K = keys(e)
            if not len(P) or not len(K):
                return _E
            P = P + 1
            ix = np.searchsorted(K, P)
            ix[ix == len(K)] = 0
            P = P[K[ix] == P]
        if not len(P):
            return _E
        urk, kptf = np.unique(P // km, return_counts=True)
        kdocs = cand[urk]
        d0, _tf0, dl0, _fl0, _st0 = es[0]
        return (kdocs, kptf.astype(np.int64),
                dl0[np.searchsorted(d0, kdocs)])

    for tids in phr["mustnot"]:
        d, _ptf, _dl = match(tids)
        if len(d):
            dead_parts.append(d)
    dead_all = (np.unique(np.concatenate(dead_parts))
                if dead_parts else None)
    adoc, agrp, asc = [], [], []
    for grp, tids, idf_p, avgdl_p, w, boost in phr["must"]:
        d, ptf, dl = match(tids)
        if not len(d):
            continue
        ptf_f = ptf.astype(np.float64)
        s = ((boost * w * idf_p) * ptf_f * (BM25_K1 + 1.0)
             / (ptf_f + BM25_K1 * (1.0 - BM25_B
                                   + BM25_B * dl / avgdl_p)))
        adoc.append(d)
        agrp.append(np.full(len(d), grp, np.int64))
        asc.append(s)
    allow_docs = np.empty(0, np.int64)
    allow_ps = np.empty(0, np.float64)
    n_pg = phr["n_pg"]
    if adoc and n_pg:
        docs_a = np.concatenate(adoc)
        grps_a = np.concatenate(agrp)
        sc_a = np.concatenate(asc)
        uk, inv = np.unique(docs_a * gm + grps_a, return_inverse=True)
        gsum = np.zeros(len(uk))
        np.add.at(gsum, inv, sc_a)
        pdocs, dinv = np.unique(uk // gm, return_inverse=True)
        psum = np.zeros(len(pdocs))
        np.add.at(psum, dinv, gsum)
        gcnt = np.zeros(len(pdocs), np.int64)
        np.add.at(gcnt, dinv, 1)
        ok = gcnt == n_pg
        allow_docs, allow_ps = pdocs[ok], psum[ok]
        if dead_all is not None and len(allow_docs):
            ix = np.searchsorted(dead_all, allow_docs)
            ix[ix == len(dead_all)] = 0
            m = dead_all[ix] != allow_docs
            allow_docs, allow_ps = allow_docs[m], allow_ps[m]
    return dead_all, allow_docs, allow_ps


def kernel_core(pdf: pd.DataFrame, params: tuple, dead_l
                ) -> pd.DataFrame:
    """The per-shard block kernel (module-level so unit tests can
    drive it directly on synthetic block frames; see
    Engine._topk_blocks for the plan that feeds it). ``params`` is the
    8-tuple (cmap, n_groups, n_top, lo, span, n_shards, group
    multiplier, essential group), optionally followed by the fused
    phrase/ban plan consumed by ``_phrase_prepass`` (None: no
    phrases or bans)."""
    cmap_l, ngroups, n_top, lo_l, span_l, ns, gm, eg_l = params[:8]
    phr = params[8] if len(params) > 8 else None
    allow_docs = allow_ps = None
    h_allow = False
    if phr is not None:
        dead_l, allow_docs, allow_ps = _phrase_prepass(
            pdf, phr, dead_l, lo_l, span_l, ns, gm)
        h_allow = phr["n_pg"] > 0
        if ngroups == 0:
            # phrase-only query: the hits ARE the allow set (every
            # group is a phrase group); no scoring terms to decode
            sent0 = pd.DataFrame(
                {"doc_id": [-1], "score": [0.0],
                 "n_hits": [int(len(allow_docs))],
                 "n_skipped": [0], "n_lossy": [0]})
            ddocs0, tot0 = allow_docs.astype(np.int64), allow_ps
            if len(ddocs0) > n_top:
                part = np.lexsort((ddocs0,
                                   -np.round(tot0 * 1e9)))[:n_top]
                ddocs0, tot0 = ddocs0[part], tot0[part]
            if not len(ddocs0):
                return sent0
            return pd.concat([pd.DataFrame({
                "doc_id": ddocs0, "score": tot0,
                "n_hits": np.zeros(len(ddocs0), np.int64),
                "n_skipped": np.zeros(len(ddocs0), np.int64),
                "n_lossy": np.zeros(len(ddocs0), np.int64),
            }), sent0], ignore_index=True)
    acc_docs, acc_grps, acc_scores, order = [], [], [], []
    n_skipped = 0
    n_lossy = 0

    def decode(row):
        docs, tfs, dls, ws = blk.unpack_block(row)
        mask = ((docs - lo_l) * ns // span_l) == row.shard
        if dead_l is not None and len(dead_l):
            # liveDocs filter: drop tombstoned/banned docs
            idx = np.searchsorted(dead_l, docs)
            idx[idx == len(dead_l)] = 0
            mask &= dead_l[idx] != docs
        if h_allow:
            # phrase-group allowlist: only docs matching every
            # MUST phrase can satisfy the full conjunction
            if not len(allow_docs):
                mask &= False
            else:
                idx = np.searchsorted(allow_docs, docs)
                idx[idx == len(allow_docs)] = 0
                mask &= allow_docs[idx] == docs
        return docs[mask], tfs[mask], dls[mask], ws[mask]

    def accumulate(row, entries, docs, tfs, dls, ws):
        tf = tfs.astype(np.float64)
        base = (ws / tf) * row.idf * tf * (BM25_K1 + 1.0) / (
            tf + BM25_K1 * (1.0 - BM25_B
                            + BM25_B * dls / row.avgdl))
        for grp, boost in entries:
            acc_docs.append(docs)
            acc_grps.append(np.full(len(docs), grp, np.int64))
            acc_scores.append(boost * base)
            # first_doc disambiguates (term, salt, block_ord) ties
            # across base/delta segments (block_ord restarts per
            # segment; segment doc ranges are disjoint) — the sort
            # key must be UNIQUE for fully deterministic accumulation
            order.append((int(row.term_id), int(row.salt),
                          int(row.block_ord), int(row.first_doc), grp))

    if ngroups > 1:
        # essential-group pruning with PROGRESSIVE candidate
        # refinement: decode the cheapest group first; every later
        # group masks to the current candidates AND, once fully
        # processed, intersects the candidate set down to the docs it
        # actually matched — each group can only shrink what the next
        # one must decode (sound: a doc absent from any group fails
        # the conjunction; the final group-count check stays the
        # authority)
        eg_rows, other_by_grp = [], {}
        for row in pdf.itertuples():
            entries = cmap_l.get(int(row.term_id))
            if not entries:
                continue
            if any(g == eg_l for g, _ in entries):
                eg_rows.append((row, entries))
            else:
                # a term may sit in several groups; file it under its
                # smallest group id (processing order key only)
                other_by_grp.setdefault(
                    min(g for g, _ in entries), []).append((row, entries))
        cand_parts = []
        for row, entries in eg_rows:
            docs, tfs, dls, ws = decode(row)
            if not len(docs):
                continue
            accumulate(row, entries, docs, tfs, dls, ws)
            cand_parts.append(docs)
        cand = (np.unique(np.concatenate(cand_parts))
                if cand_parts else np.empty(0, np.int64))
        # refinement is sound for group g only if every term carrying
        # g that has blocks IN THIS SHARD was filed under g (a term
        # shared with the essential group or a smaller group
        # contributes to g elsewhere, so g's local 'seen' would be
        # incomplete; terms with no blocks here contribute nothing)
        grp_terms: dict[int, set] = {}
        for t, es in cmap_l.items():
            for g, _ in es:
                grp_terms.setdefault(g, set()).add(t)
        filed_under: dict[int, object] = {}
        for row, _e in eg_rows:
            filed_under[int(row.term_id)] = "eg"
        for g, rows_g in other_by_grp.items():
            for row, _e in rows_g:
                filed_under[int(row.term_id)] = g
        # smaller groups first: they shrink the candidate set fastest.
        # The LAST (largest) group additionally runs under a DYNAMIC
        # floor: its blocks decode in upper-bound order while theta_c
        # tracks the n_top-th best total among docs that already
        # COMPLETED the conjunction — a block is skipped when even the
        # best prior partial sum in its doc range plus its own bound
        # cannot reach that floor (the doc-at-a-time cursor-WAND analog
        # for a batch kernel). Such skips drop docs that DO match the
        # conjunction but provably miss the top-n, so they are counted
        # separately (n_lossy) and totals degrade to a lower bound.
        grp_order = sorted(
            other_by_grp,
            key=lambda g: (sum(int(r.n_docs) for r, _ in other_by_grp[g]),
                           g))
        full_mask = 0
        for es in cmap_l.values():
            for g2, _ in es:
                full_mask |= 1 << g2
        # the completion bitmask shifts int64 by the GROUP ID, so the
        # floor is only sound while every id stays below the sign bit
        # (gm alone does not bound the ids: grp=63 passes gm<=2^62 but
        # 1<<63 overflows and full_mask can never match — the floor
        # would silently never engage)
        max_grp = max((g2 for es in cmap_l.values() for g2, _ in es),
                      default=0)
        for gi, g in enumerate(grp_order):
            is_last = gi == len(grp_order) - 1
            rows_g = other_by_grp[g]
            theta_c = 0.0
            pdocs = psum = pmask = None
            if (is_last and not h_allow and max_grp < 63
                    and acc_docs and len(cand)):
                pdocs, psum, pmask = _merge_partials(
                    acc_docs, acc_grps, acc_scores, gm)
                # UB-descending decode order fills the floor fastest
                def _ub(pair):
                    row = pair[0]
                    i0 = row.idf0 if row.idf0 == row.idf0 else None
                    a0 = row.avgdl0 if row.avgdl0 == row.avgdl0 else None
                    scale = row.idf / max(i0 if i0 is not None
                                          else row.idf, 1e-12)
                    ratio = row.avgdl / max(a0 if a0 is not None
                                            else row.avgdl, 1e-12)
                    return (row.max_score * scale * max(ratio, 1.0)
                            * sum(b for _, b in pair[1]))
                # ties broken on the unique block key: pruning (and
                # the totals) must not depend on the input row order,
                # which differs between the driver and Spark paths
                rows_g = sorted(rows_g, key=lambda p: (
                    -_ub(p), int(p[0].term_id), int(p[0].salt),
                    int(p[0].block_ord), int(p[0].first_doc)))
                ubs = [_ub(p) for p in rows_g]
                # per-term slack: a doc in one block can ALSO receive
                # contributions from the group's OTHER terms (each doc
                # appears in at most one block per term, so its own
                # term adds only this block's bound). Skipping on
                # maxp + block_ub alone dropped true top-n docs when
                # the last group had several terms — every bare text
                # term expands to content+title ids in one group, so
                # multi-term groups are the norm, not the edge.
                ubmax_g: dict[int, float] = {}
                for (row_u, _e), u in zip(rows_g, ubs):
                    t_u = int(row_u.term_id)
                    ubmax_g[t_u] = max(ubmax_g.get(t_u, 0.0), u)
                tot_g = sum(ubmax_g.values())
                comp_tot = np.empty(0)
            seen_parts = []
            for ri, (row, entries) in enumerate(rows_g):
                if (len(cand) == 0
                        or np.searchsorted(cand, row.first_doc)
                        >= np.searchsorted(cand, row.last_doc, "right")):
                    n_skipped += 1   # no candidate in range: no decode
                    continue
                if pdocs is not None and theta_c > 0.0:
                    li = np.searchsorted(pdocs, row.first_doc)
                    hi = np.searchsorted(pdocs, row.last_doc, "right")
                    maxp = psum[li:hi].max() if hi > li else 0.0
                    slack = tot_g - ubmax_g[int(row.term_id)]
                    if maxp + ubs[ri] + slack < theta_c:
                        n_skipped += 1
                        n_lossy += 1   # may drop true matches: gte
                        continue
                docs, tfs, dls, ws = decode(row)
                idx = np.searchsorted(cand, docs)
                idx[idx == len(cand)] = 0
                m = cand[idx] == docs
                if not m.any():
                    n_skipped += 1
                    continue
                accumulate(row, entries, docs[m], tfs[m], dls[m], ws[m])
                seen_parts.append(docs[m])
                if pdocs is not None:
                    contrib = acc_scores[-1] if len(entries) == 1 else \
                        np.sum(acc_scores[-len(entries):], axis=0)
                    # cand ⊆ accumulated docs, so every masked doc is
                    # present in pdocs
                    ii = np.searchsorted(pdocs, docs[m])
                    psum[ii] += contrib
                    gbits = 0
                    for g2, _ in entries:
                        gbits |= 1 << g2
                    old = pmask[ii]
                    new = old | np.int64(gbits)
                    pmask[ii] = new
                    newly = (new == full_mask) & (old != full_mask)
                    if newly.any():
                        comp_tot = np.concatenate(
                            [comp_tot, psum[ii][newly]])
                        if len(comp_tot) > 4 * n_top:
                            comp_tot = comp_tot[np.argpartition(
                                comp_tot, -4 * n_top)[-4 * n_top:]]
                        if len(comp_tot) >= n_top:
                            theta_c = float(np.partition(
                                comp_tot, -n_top)[-n_top])
            # docs this group never matched can't pass the conjunction
            if all(filed_under.get(t, g) == g
                   for t in grp_terms.get(g, ())):
                seen = (np.unique(np.concatenate(seen_parts))
                        if seen_parts else np.empty(0, np.int64))
                cand = seen if len(seen) < len(cand) else cand
    else:
        # single group: dynamic block-max pruning INSIDE the
        # shard (the cursor-WAND analog for a batch kernel).
        # Blocks decode in upper-bound-descending order while a
        # running floor theta_dyn tracks the n_top-th largest
        # PARTIAL doc score — partial sums are valid lower
        # bounds of final scores (contributions are
        # nonnegative), so a block whose bound + the OTHER
        # terms' shard-local bounds can't reach theta_dyn can
        # never place a doc in the top-n. Disabled under a
        # phrase allowlist (skipped docs could still gain
        # pscore, breaking the bound).
        rows2 = []
        for row in pdf.itertuples():
            entries = cmap_l.get(int(row.term_id))
            if not entries:
                continue
            i0 = row.idf0 if row.idf0 == row.idf0 else None
            a0 = row.avgdl0 if row.avgdl0 == row.avgdl0 else None
            scale = row.idf / max(i0 if i0 is not None
                                  else row.idf, 1e-12)
            ratio = row.avgdl / max(a0 if a0 is not None
                                    else row.avgdl, 1e-12)
            ub = (row.max_score * scale * max(ratio, 1.0)
                  * max(b for _, b in entries))
            rows2.append((ub, row, entries))
        # unique block key breaks ub ties (see the conjunctive branch)
        rows2.sort(key=lambda x: (-x[0], int(x[1].term_id),
                                  int(x[1].salt), int(x[1].block_ord),
                                  int(x[1].first_doc)))
        ubmax: dict[int, float] = {}
        for ub, row, _e in rows2:
            t = int(row.term_id)
            ubmax[t] = max(ubmax.get(t, 0.0), ub)
        total_ub = sum(ubmax.values())
        # the running floor's accumulator is BOUNDED: after each merge
        # only the top 4*n_top partial sums are kept (a truncated doc's
        # history underestimates its partial sum, which only LOWERS
        # theta — still a sound floor) — per-block cost stays
        # O((n_top + block) log), never quadratic in blocks-per-shard
        run_docs = np.empty(0, np.int64)
        run_sums = np.empty(0, np.float64)
        cap = 4 * n_top
        theta_dyn = 0.0
        for ub, row, entries in rows2:
            rest = total_ub - ubmax[int(row.term_id)]
            if not h_allow and ub + rest < theta_dyn:
                n_skipped += 1
                continue
            docs, tfs, dls, ws = decode(row)
            if not len(docs):
                continue
            accumulate(row, entries, docs, tfs, dls, ws)
            contrib = acc_scores[-1] if len(entries) == 1 else \
                np.sum(acc_scores[-len(entries):], axis=0)
            md, inv = np.unique(np.concatenate([run_docs, docs]),
                                return_inverse=True)
            msum = np.zeros(len(md))
            np.add.at(msum, inv, np.concatenate([run_sums, contrib]))
            if len(msum) >= n_top:
                theta_dyn = float(np.partition(msum, -n_top)[-n_top])
            if len(msum) > cap:
                keep = np.argpartition(msum, -cap)[-cap:]
                md, msum = md[keep], msum[keep]
            run_docs, run_sums = md, msum

    sentinel = pd.DataFrame(
        {"doc_id": [-1], "score": [0.0], "n_hits": [0],
         "n_skipped": [n_skipped], "n_lossy": [n_lossy]})
    if not acc_docs:
        return sentinel
    # deterministic accumulation: concatenate in (term, salt,
    # block, grp) order so float sums match across plans/runs
    perm = sorted(range(len(order)), key=lambda i: order[i])
    docs = np.concatenate([acc_docs[i] for i in perm])
    grps = np.concatenate([acc_grps[i] for i in perm])
    scores = np.concatenate([acc_scores[i] for i in perm])
    key = docs * gm + grps
    uk, inv = np.unique(key, return_inverse=True)
    gsum = np.zeros(len(uk))
    np.add.at(gsum, inv, scores)
    udoc = uk // gm
    ddocs, dinv = np.unique(udoc, return_inverse=True)
    tot = np.zeros(len(ddocs))
    np.add.at(tot, dinv, gsum)
    gcnt = np.zeros(len(ddocs), np.int64)
    np.add.at(gcnt, dinv, 1)
    ok = gcnt == ngroups
    ddocs, tot = ddocs[ok], tot[ok]
    if h_allow and len(ddocs):
        # every surviving doc is in the allowlist (decode masked
        # to it) — add its precomputed phrase-group score
        ai = np.searchsorted(allow_docs, ddocs)
        tot = tot + allow_ps[ai]
    sentinel.loc[0, "n_hits"] = int(len(ddocs))
    if len(ddocs) > n_top:
        # shard-local cut on the SAME quantized order key the final
        # merge and the df plan use (1e-9 ties -> doc_id tiebreak)
        part = np.lexsort((ddocs, -np.round(tot * 1e9)))[:n_top]
        ddocs, tot = ddocs[part], tot[part]
    return pd.concat([pd.DataFrame({
        "doc_id": ddocs.astype(np.int64), "score": tot,
        "n_hits": np.zeros(len(ddocs), np.int64),
        "n_skipped": np.zeros(len(ddocs), np.int64),
        "n_lossy": np.zeros(len(ddocs), np.int64),
    }), sentinel], ignore_index=True)



def fresh_stats_df(spark, clauses: pd.DataFrame) -> DataFrame:
    """Tiny broadcast frame of query-fresh per-term stats."""
    return spark.createDataFrame(
        clauses[["term_id", "idf", "avgdl"]]
        .drop_duplicates("term_id")
        .rename(columns={"idf": "fidf", "avgdl": "favgdl"}),
        "term_id long, fidf double, favgdl double")


def rescaled_bounds():
    """(adj_ub, adj_lb) column expressions: pack-time block bounds
    rescaled to CURRENT stats — exact for idf (score linear in idf),
    conservative for avgdl (ratio clamped toward 1 on the safe side
    for each bound)."""
    idf_scale = (F.col("fidf")
                 / F.greatest(F.coalesce("idf0", "fidf"), F.lit(1e-12)))
    avgdl_ratio = (F.col("favgdl")
                   / F.greatest(F.coalesce("avgdl0", "favgdl"),
                                F.lit(1e-12)))
    adj_ub = (F.col("max_score") * idf_scale
              * F.greatest(avgdl_ratio, F.lit(1.0)))
    adj_lb = (F.col("max_score") * idf_scale
              * F.least(avgdl_ratio, F.lit(1.0)))
    return adj_ub, adj_lb


def block_meta_reduction(src_bdf: DataFrame, fresh: DataFrame,
                         topn: int, need_theta: bool) -> DataFrame:
    """The bounded per-term metadata reduction: ONE row per term back
    to the driver regardless of block count (window rank for the
    topn-th lower bound, hash agg for the rest). Module-level and
    shared with tools/plan_dump so the dumped plan evidence can never
    drift from what the engine executes."""
    adj_ub, adj_lb = rescaled_bounds()
    src = (src_bdf.join(F.broadcast(fresh), "term_id")
           .select("term_id", "n_docs", "first_doc", "last_doc",
                   adj_ub.alias("adj_ub"), adj_lb.alias("adj_lb")))
    if need_theta:
        from pyspark.sql import Window
        w = Window.partitionBy("term_id").orderBy(F.desc("adj_lb"))
        src = src.withColumn("rn", F.row_number().over(w))
        # null iff the term has < topn blocks (theta ineligible)
        lbn_agg = F.max(F.when(F.col("rn") == topn, F.col("adj_lb")))
    else:
        lbn_agg = F.first(F.lit(None).cast("double"))
    return src.groupBy("term_id").agg(
        F.max("adj_ub").alias("ubm"),
        F.count(F.lit(1)).alias("nb"),
        F.sum("n_docs").alias("npost"),
        F.min("first_doc").alias("blo"),
        F.max("last_doc").alias("bhi"),
        lbn_agg.alias("lbn"))


class Engine:
    """One Engine pins one index snapshot. ``cache=True`` arms the
    interactive-latency path: dictionary lookups memoize driver-side
    (a repeated term costs ZERO Spark jobs to compile) and the
    blocks/dictionary tables persist PER BUCKET on first
    touch (``_pruned``) — a query only ever materializes the buckets
    it scans, so at 100 TB the cold buckets genuinely stay on disk
    (persisting the whole table would materialize everything on the
    first query, because a filter above an InMemoryRelation cannot
    prune the underlying file scan). On the parquet binding the
    point reads (dictionary terms, tombstones, the block rows of a
    query that fits one kernel shard, the k display docs) run
    driver-side with pyarrow over dataset handles opened once per
    snapshot, so a small query runs zero Spark jobs and doc_store is
    never persisted. With cache=True those block rows and display
    rows stay in a byte-bounded memo of the snapshot (``_rows``), so
    a repeat query reads only what it has not read before. On the
    Iceberg binding the display fetch is a Spark point read over a
    doc_store persisted whole. A commit on
    the index (upsert/delete/compaction) is detected by snapshot
    version at the next compile and drops every cache — the Lucene
    reopen-on-new-commit-point semantics, automated
    (``_refresh_if_stale``)."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 cache: bool = False, doc_kv=None):
        """``doc_kv``: optional duck-typed document store binding for
        display fetches — any object with ``get_many(doc_ids:
        list[int]) -> pandas.DataFrame`` returning (doc_id, id, repo,
        path, title[, content, lang]) rows. At 10^12 docs the k-row
        display fetch belongs in a point-lookup store (RocksDB /
        Cassandra / a REST doc service), not a columnar scan. Without
        a binding the index's own doc_store serves the fetch: a
        driver-side pyarrow read of the dseg partitions holding the k
        ids on the parquet binding (zero Spark jobs), a Spark point
        read on the Iceberg binding. Either way snippets for the k hit
        docs are extracted driver-side from the returned content — k
        rows, the same budgeted extractor.

        Raises ValueError on an index written in an older on-disk
        format (Catalog.require_format): rebuild it."""
        self.spark = spark
        self.doc_kv = doc_kv
        self.cat = Catalog(spark, index_dir)
        self.cat.require_format()
        self._pin_props()
        self._cache = cache
        self._tables: dict[str, DataFrame] = {}
        self._slices: dict[tuple, DataFrame] = {}
        #: lazy un-persisted base frames — ONE file listing per table
        #: per Engine (a fresh spark.read per bucket slice would re-list
        #: the table's files every time: 30-term math queries paid ~10 s
        #: of driver-side listing before this cache)
        self._bases: dict[str, DataFrame] = {}
        #: pyarrow dataset handles (Catalog.arrow_dataset) for the
        #: driver-side reads — ONE file listing per table per snapshot,
        #: the arrow twin of _bases; None marks a table arrow cannot
        #: serve (Iceberg binding, missing dir)
        self._dsets: dict[str, object] = {}
        self._term_cache: dict[tuple[str, str], tuple | None] = {}
        #: (term_id, topn|None) -> reduced pruning metadata (ubm, nb,
        #: npost, blo, bhi, lbn) — O(1) per entry, never per-block
        self._block_meta: dict[tuple, tuple] = {}
        #: prepared blocks-mode plans keyed by (clause set, topn):
        #: the constructed DataFrame is re-EXECUTED on every hit (this
        #: is a prepared statement, not a result cache) but the ~0.3 s
        #: of driver-side plan construction + analysis is paid once per
        #: query shape. Valid because an Engine pins one snapshot:
        #: clauses, stats, tombstones are all constants for its
        #: lifetime. LRU-capped so an adversarial stream of distinct
        #: query shapes cannot grow driver memory; freed in close()
        self._plans: dict[tuple, tuple] = {}
        self._plans_cap = 256
        #: persisted bucket-set slices are far heavier than plans —
        #: LRU-capped in _pruned (eviction unpersists; a memoized plan
        #: over an evicted slice stays correct, it just re-reads files)
        self._slices_cap = 64
        #: (dead ids,) for the pinned snapshot once read — see _dead_ids
        self._dead: tuple | None = None
        #: cache=True: the snapshot's block rows per (term, columns) and
        #: display rows per (doc, with content) read driver-side — see
        #: _blocks_arrow and _fetch_docs
        self._rows = _RowMemo(_MEMO_BYTES)
        #: guards the driver-side caches (plans/slices/tables/term/meta)
        #: under concurrent searches — held only around dict mutation,
        #: never across a Spark job
        import threading
        self._lock = threading.RLock()   # _table -> _base nests
        #: manifest snapshot every cache entry was built against
        self._snap = self.cat.manifest().get("snapshot", 0)

    def _refresh_if_stale(self) -> None:
        """Every memo (prepared plans, persisted slices, term lookups,
        block metadata, block and display rows) pins the snapshot it
        was built against; a commit on the index (upsert, delete,
        compaction) would otherwise be silently ignored by memo hits —
        a deleted doc could resurrect from a cached plan (ADVICE r4).
        One local manifest read per compile detects a newer snapshot
        and drops every cache + refreshes the pinned stats:
        fresh-Engine semantics, automated. (On the Iceberg binding
        this becomes a snapshot-id check against the catalog.)"""
        with self._lock:
            # whole check under the lock: reading `cur` outside could
            # let a stalled thread move _snap backwards
            cur = self.cat.manifest().get("snapshot", 0)
            if cur == self._snap:
                return
            # REPLACE the cache dicts instead of clearing in place: a
            # thread mid-search holds local references to the old
            # dicts/frames and finishes consistently against the
            # snapshot it started on; clearing under its feet would
            # KeyError its compile or silently drop its terms
            for df in self._tables.values():
                df.unpersist()
            for df in self._slices.values():
                df.unpersist()
            self._tables = {}
            self._slices = {}
            self._term_cache = {}
            self._block_meta = {}
            self._plans = {}
            self._bases = {}
            self._dsets = {}
            self._dead = None
            self._rows = _RowMemo(_MEMO_BYTES)
            self._pin_props()
            self._snap = cur

    def _pin_props(self) -> None:
        """Index properties the pinned snapshot's searches read."""
        props = self.cat.props()
        self.field_stats = props["field_stats"]
        self.n_buckets = props["n_buckets"]
        self.doc_seg_shift = int(props.get("doc_seg_shift", 20))

    def _dset(self, name: str):
        """Memoized pyarrow dataset handle of a table (see _dsets)."""
        with self._lock:
            dsets = self._dsets
            if name not in dsets:
                dsets[name] = self.cat.arrow_dataset(name)
            return dsets[name]

    def _table(self, name: str) -> DataFrame:
        if not self._cache:
            return self._base(name)
        with self._lock:
            if name not in self._tables:
                df = self._base(name)
                # interactive-latency trade: fewer, larger cached
                # partitions cut per-job scheduling overhead (the
                # warm-path cost is task dispatch, not compute);
                # throughput scans use cache=False, full scan width
                par = self.spark.sparkContext.defaultParallelism
                df = df.coalesce(max(8, par // 4))
                df.persist()
                self._tables[name] = df
            return self._tables[name]

    def _base(self, name: str) -> DataFrame:
        with self._lock:
            if name not in self._bases:
                self._bases[name] = self.cat.read(name)
            return self._bases[name]

    def _plan_get(self, key):
        with self._lock:
            v = self._plans.get(key)
            if v is not None:          # refresh LRU recency
                self._plans.pop(key, None)
                self._plans[key] = v
            return v

    def _plan_put(self, key, value) -> None:
        with self._lock:
            self._plans.pop(key, None)
            self._plans[key] = value   # dict preserves insertion order
            while len(self._plans) > self._plans_cap:
                self._plans.pop(next(iter(self._plans)))

    def _pruned(self, name: str, part_col: str,
                values: list[int]) -> DataFrame:
        """Partition-pruned read of a bucketed table. With cache=True
        the pruned slice persists keyed by its BUCKET SET on first
        touch — the hot-bucket model: a repeat query hits one cached
        relation (no union overhead), and buckets no query scans are
        never materialized at all (persisting the whole table would
        read everything on the first query — indefensible at 10^12
        docs). Overlapping bucket sets may cache a bucket twice; memory
        cost is bounded by distinct query shapes, the interactive
        engine's working set."""
        vals = tuple(sorted({int(v) for v in values}))
        pruned = self._base(name).where(F.col(part_col).isin(list(vals)))
        if not self._cache:
            return pruned
        key = (name, vals)
        with self._lock:
            hit = self._slices.pop(key, None)
            if hit is None:
                par = self.spark.sparkContext.defaultParallelism
                hit = pruned.coalesce(max(4, par // 8))
                hit.persist()
            self._slices[key] = hit     # (re)insert = LRU refresh
            # cap the persisted working set: distinct bucket sets are
            # query-shaped and unbounded under an adversarial stream
            # (the same reason _plans is capped) — evict + unpersist
            # the least-recently-used slice beyond the cap
            while len(self._slices) > self._slices_cap:
                self._slices.pop(next(iter(self._slices))).unpersist()
            return hit

    def close(self) -> None:
        with self._lock:
            for df in self._tables.values():
                df.unpersist()
            for df in self._slices.values():
                df.unpersist()
            self._tables.clear()
            self._slices.clear()
            self._term_cache.clear()
            self._block_meta.clear()
            self._plans.clear()
            self._bases = {}
            self._dsets = {}
            self._dead = None
            self._rows = _RowMemo(_MEMO_BYTES)

    def _dead_ids(self):
        """Sorted int64 tombstone ids of the pinned snapshot, read once
        driver-side (Catalog.tombstone_ids) and memoized until the next
        commit. Empty on a clean index; None when the set is larger
        than one kernel shard's worth or lives behind the Iceberg
        binding — the distributed co-grouped channel handles those."""
        with self._lock:
            if self._dead is None:
                self._dead = (self.cat.tombstone_ids(_SHARD_POSTINGS),)
            return self._dead[0]

    # ------------------------------------------------------------- compile
    def compile(self, query_text: str, variant: str = "BOTH",
                extract_subformulae: bool = True,
                reduce_weighting: bool = True):
        """Clause table joined with dictionary: one row per query clause
        present in the index. Returns (clauses_df, phrase_plan,
        n_groups, processed_query_string, compiled_query)."""
        self._refresh_if_stale()
        q = compile_query(query_text, variant, extract_subformulae,
                          reduce_weighting)
        pplan = {"must": [], "must_not": [], "banned_tids": [],
                 "impossible": False, "extra_df_total": 0}
        if not q.clauses and not q.phrases and not q.prohibited:
            return pd.DataFrame(columns=[
                "term_id", "grp", "boost", "idf", "avgdl", "bucket",
                "df"]), pplan, 0, "", q
        pairs = sorted({(c.fld, c.term) for c in q.clauses}
                       | {(p.fld, t) for p in q.phrases for t in p.terms}
                       | {(c.fld, c.term) for c in q.prohibited})
        # partition-pruned dictionary lookup: compute each pair's
        # dbucket (tiny local job, no table scan) and read only those
        # partitions — |query terms| buckets instead of the full
        # dictionary (build.py _dbucket; 10^9 terms at target scale).
        # With cache=True, previously-seen terms (hits AND misses)
        # resolve driver-side — a repeated query compiles with zero jobs
        # local ref: a concurrent snapshot refresh REPLACES the cache
        # dict, so this call keeps one consistent view throughout
        tc = self._term_cache if self._cache else None
        todo = [p for p in pairs if p not in tc] \
            if tc is not None else pairs
        if todo:
            got = self._lookup_terms(todo)
            if tc is not None:
                with self._lock:
                    for p in todo:
                        tc[p] = got.get(p)
        else:
            got = {}
        if tc is not None:
            found = {p: v for p in pairs
                     if (v := tc.get(p)) is not None}
        else:
            found = got
        rows = []
        for c in sorted(q.clauses, key=lambda c: (c.fld, c.term, c.group)):
            hit = found.get((c.fld, c.term))
            if hit is None:
                continue
            tid, df = hit
            st = self.field_stats[c.fld]
            rows.append((int(tid), c.group, float(c.boost),
                         idf_fn(int(st["n_docs"]), int(df)),
                         float(st["avgdl"]), int(tid % self.n_buckets),
                         int(df)))
        clauses = pd.DataFrame(rows, columns=[
            "term_id", "grp", "boost", "idf", "avgdl", "bucket", "df"])
        # ---- phrase plan: term_ids + driver-computed scoring constants
        # (idf_p = sum of constituent idfs, w = the field weight the
        # index carries on every text posting — PhraseClause spec)
        from mias_spec.codec import quantize_weight
        from mias_spec.constants import TEXT_WEIGHT, TITLE_BOOST
        must_groups: set[int] = set()
        viable_groups: set[int] = set()
        for p in q.phrases:
            if not p.must_not:
                must_groups.add(p.group)
            hits = [found.get((p.fld, t)) for t in p.terms]
            if any(h is None for h in hits):
                # this FIELD VARIANT can't match; the group is only
                # impossible if no variant of it survives (checked below)
                continue
            if not p.must_not:
                viable_groups.add(p.group)
            st = self.field_stats[p.fld]
            pplan["must_not" if p.must_not else "must"].append({
                "grp": p.group, "fld": p.fld, "terms": list(p.terms),
                "tids": [int(h[0]) for h in hits],
                "idf_p": sum(idf_fn(int(st["n_docs"]), int(h[1]))
                             for h in hits),
                "avgdl": float(st["avgdl"]),
                "w": quantize_weight(
                    TITLE_BOOST if p.fld == "title" else TEXT_WEIGHT),
                "boost": float(p.boost),
            })
        # a MUST phrase group with no viable field variant matches nothing
        pplan["impossible"] = bool(must_groups - viable_groups)
        pplan["banned_tids"] = sorted({
            int(found[(c.fld, c.term)][0]) for c in q.prohibited
            if (c.fld, c.term) in found})
        # posting volume of the phrase/banned terms (known from the
        # dictionary df): sizes the fused blocks-kernel shard count
        # and its driver fast-path eligibility without any extra job
        extra_pairs = ({(p.fld, t) for p in q.phrases for t in p.terms}
                       | {(c.fld, c.term) for c in q.prohibited})
        pplan["extra_df_total"] = sum(
            int(found[pr][1]) for pr in extra_pairs if pr in found)
        processed = " ".join(
            [f"g{c.group}:{c.fld}:{c.term}^{c.boost:.3g}"
             for c in q.clauses]
            + [("-" if p.must_not else f"g{p.group}:")
               + f"{p.fld}:\"{' '.join(p.terms)}\"" for p in q.phrases]
            + [f"-{c.fld}:{c.term}" for c in q.prohibited])
        return clauses, pplan, q.n_groups, processed, q

    def _lookup_terms(self, todo: list[tuple[str, str]]
                      ) -> dict[tuple[str, str], tuple]:
        """(field, term) -> (term_id, df) for the pairs present in the
        dictionary. Point lookups: the dictionary is dbucket-hash
        partitioned, so only |query terms| buckets are touched. On the
        parquet binding the pruned buckets are read DRIVER-SIDE with
        pyarrow — a term lookup is a point query and launching a Spark
        job for it is pure scheduling overhead (Lucene reads its term
        dictionary locally for the same reason; ~0.3 s saved per cold
        query). The Spark fallback covers the Iceberg binding and any
        arrow failure, with identical segment-merge semantics."""
        res = self._lookup_terms_arrow(todo)
        if res is not None:
            return res
        from mias_spark.build import N_DICT_BUCKETS
        from mias_spark.hashing import dbucket_py
        dic = self._base("dictionary")
        if "dbucket" in dic.columns:
            # pure-Python xxh64 == F.xxhash64 bit-for-bit: the bucket
            # keys cost zero Spark jobs
            dbuckets = sorted({dbucket_py(f, t, N_DICT_BUCKETS)
                               for f, t in todo})
            dic = self._pruned("dictionary", "dbucket", dbuckets)
        cond = F.concat_ws("\x00", "field", "term").isin(
            ["\x00".join(p) for p in todo])
        if int(self.cat.props().get("dict_segments", 0) or 0) == 0:
            # clean dictionary (fresh build / post-fold): one row per
            # key — the segment-merge agg would be a whole extra
            # shuffle stage for nothing
            return {(r["field"], r["term"]): (r["term_id"], r["df"])
                    for r in dic.where(cond).collect()}
        # merge the base + delta dictionary segments for the
        # looked-up terms only: df is additive across segments
        return {(r["field"], r["term"]): (r["term_id"], r["df"])
                for r in dic.where(cond)
                .groupBy("field", "term", "term_id")
                .agg(F.sum("df").alias("df")).collect()}

    def _lookup_terms_arrow(self, todo):
        """Driver-side pyarrow read of the pruned dictionary buckets
        (parquet binding only). Returns None to fall back to Spark.
        Segment semantics identical to read_dictionary: df summed per
        (field, term, term_id) across base + delta rows."""
        dset = self._dset("dictionary")
        if dset is None:
            return None
        from mias_spark.build import N_DICT_BUCKETS
        from mias_spark.hashing import dbucket_py
        where = {"term": sorted({t for _f, t in todo})}
        if "dbucket" in dset.schema.names:
            where["dbucket"] = sorted({dbucket_py(f, t, N_DICT_BUCKETS)
                                       for f, t in todo})
        pdf = self.cat.read_local(
            "dictionary", ["field", "term", "term_id", "df"], where, dset)
        if pdf is None:
            return None
        want = set(todo)
        pdf = pdf[[p in want for p in zip(pdf["field"], pdf["term"])]]
        if len(pdf):
            pdf = (pdf.groupby(["field", "term", "term_id"],
                               as_index=False)["df"].sum())
        return {(r.field, r.term): (int(r.term_id), int(r.df))
                for r in pdf.itertuples()}

    # -------------------------------------------------------------- search
    def search(self, query_text: str, k: int = 10, offset: int = 0,
               variant: str = "BOTH", extract_subformulae: bool = True,
               reduce_weighting: bool = True, mode: str = "blocks",
               with_fields: bool = True, snippets: bool = False,
               debug: bool = False,
               timeout_s: float | None = None) -> SearchResult:
        """``mode``: ``"blocks"`` (default) is the serving plan — the
        packed-block kernel, driver-side in one job when the query's
        postings fit one shard; ``"df"`` is the Catalyst reference plan
        over posting rows decoded from the blocks (the
        ``ir_engine_topk`` oracle row).

        ``timeout_s``: Q9 time-limited search (the reference's 30 s
        TimeLimitingCollector, Searching.java:169-200) — cancels the
        Spark job group at the deadline. With a deadline armed, BOTH
        plans run distributed and stream per-task results (shard
        kernels in blocks mode, per-partition local top-n in df mode)
        through a local iterator into a partial sink as they complete,
        so the deadline returns the hits gathered so far with the GTE
        relation (the reference returns whatever the collector
        gathered; our granularity is the task). The one-shot driver
        paths are skipped while a deadline is armed: their single
        collect would make the search all-or-nothing."""
        if timeout_s is not None:
            import threading
            sc = self.spark.sparkContext
            # per-call nonce: a timer callback that fires in the gap
            # between a search finishing and timer.cancel() must not
            # cancel the NEXT search's identically-named group
            group = (f"mias-search-{id(self)}-{threading.get_ident()}"
                     f"-{next(_search_seq)}")
            sc.setJobGroup(group, query_text[:80], interruptOnCancel=True)
            fired = threading.Event()
            sink: dict = {"rows": [], "ctx": None}

            def _cancel():
                fired.set()
                sc.cancelJobGroup(group)

            timer = threading.Timer(timeout_s, _cancel)
            timer.start()
            try:
                return self._search_body(
                    query_text, k, offset, variant, extract_subformulae,
                    reduce_weighting, mode, with_fields, snippets, debug,
                    partial_sink=sink)
            except Exception as e:
                # only the DEADLINE maps to the partial-result sentinel
                # (Searching.java returns what the collector gathered);
                # real errors (analysis, missing table, kernel bug)
                # propagate instead of masquerading as timeouts. The
                # fired flag alone races (a genuine failure raising just
                # as the timer fires would be swallowed), so the
                # exception must ALSO come from the Spark/py4j layer —
                # a cancelled collect can surface as a job-cancelled
                # SparkException OR as an Arrow/socket teardown error,
                # so match the layer, not the message; pure-Python
                # errors (parser, kernel bugs) always propagate
                from py4j.protocol import Py4JError
                from pyspark.errors import PySparkException
                spark_layer = isinstance(
                    e, (Py4JError, PySparkException, ConnectionError,
                        EOFError, OSError))
                if not (fired.is_set() and spark_layer):
                    raise
                if sink["rows"] and sink["ctx"] is not None:
                    # shards that completed before the deadline: merge
                    # them like any kernel output — totals and top-k
                    # over what arrived, relation GTE (the reference's
                    # partial-collector semantics, Searching.java:186)
                    allpdf = pd.DataFrame(
                        sink["rows"], columns=[
                            "doc_id", "score", "n_hits", "n_skipped",
                            "n_lossy"])
                    pdf4, total, _rel, stats = self._finish_blocks(
                        allpdf, *sink["ctx"])
                    hits = pdf4.iloc[offset:offset + k] \
                        .reset_index(drop=True)
                    hits.insert(0, "rank", np.arange(
                        offset + 1, offset + 1 + len(hits)))
                    return SearchResult(
                        hits, 0, 0, "(timed out; partial)", total,
                        "gte", stats)
                # 0 is only a LOWER bound on the true hit count
                # (Lucene's partial-result relation under timeout)
                return SearchResult(
                    pd.DataFrame(columns=["rank", "doc_id", "score"]),
                    0, 0, "(timed out)", 0, "gte")
            finally:
                timer.cancel()
                sc.setJobGroup("", "")
        return self._search_body(
            query_text, k, offset, variant, extract_subformulae,
            reduce_weighting, mode, with_fields, snippets, debug)

    def _search_body(self, query_text, k, offset, variant,
                     extract_subformulae, reduce_weighting, mode,
                     with_fields, snippets, debug,
                     partial_sink: dict | None = None) -> SearchResult:
        clauses, pplan, n_groups, processed, q = self.compile(
            query_text, variant, extract_subformulae, reduce_weighting)
        empty = pd.DataFrame(columns=["rank", "doc_id", "score"])
        if pplan["impossible"] or (clauses.empty and not pplan["must"]):
            return SearchResult(empty, n_groups, len(clauses), processed)
        n_pg = len({p["grp"] for p in pplan["must"]})
        if mode == "blocks":
            # FUSED blocks path (VERDICT r4 #2): term scoring, phrase
            # position decode + adjacency, and MUST_NOT exclusion all
            # run inside the one sharded kernel over the packed-block
            # surface — no separate Python stages, and phrase-ONLY
            # queries ride the same kernel
            pdf, total_hits, rel, bstats = self._topk_blocks(
                clauses, k + offset, n_groups - n_pg, n_pg, partial_sink,
                pplan=pplan)
            hits = pdf.iloc[offset:offset + k].reset_index(drop=True)
            hits.insert(0, "rank",
                        np.arange(offset + 1, offset + 1 + len(hits)))
            return self._assemble(hits, clauses, pplan, n_groups,
                                  processed, q, total_hits, rel,
                                  bstats, with_fields, snippets, debug)
        # df mode: the Catalyst reference plan over posting rows
        # decoded from the blocks (phrases and bans included)
        must_df, banned = self._phrase_frames(pplan)
        # The aggregated scoring plan is memoized per EXACT query
        # fingerprint — full-precision clause boosts + phrase and
        # prohibited structure (the human-readable `processed`
        # string rounds boosts to 3 significant digits, which
        # could collide two different weightings onto one cached
        # plan). Per-term idf/avgdl derive from the pinned
        # snapshot, so they need no keying; each hit still runs a
        # fresh job.
        dkey = None
        if self._cache:
            cfp = tuple(sorted(
                (int(r.term_id), int(r.grp), float(r.boost))
                for r in clauses.itertuples()))
            pfp = tuple(sorted(
                (int(p["grp"]), p["fld"], tuple(p["terms"]),
                 float(p["boost"])) for p in pplan["must"]))
            nfp = tuple(sorted((p["fld"], tuple(p["terms"]))
                               for p in pplan["must_not"]))
            dkey = ("df", cfp, pfp, nfp,
                    tuple(pplan["banned_tids"]), n_groups)
        agg = self._plan_get(dkey) if dkey else None
        if agg is None:
            parts = []
            if not clauses.empty:
                parts.append(self._score_dataframe(clauses))
            if must_df is not None:
                parts.append(must_df)
            scored = parts[0]
            for p in parts[1:]:
                scored = scored.unionByName(p)
            if n_groups == 1:
                # single MUST group: every matching doc satisfies
                # the conjunction — the countDistinct (an Expand +
                # second agg phase) is pure overhead
                agg = scored.groupBy("doc_id").agg(
                    F.sum("score").alias("score"))
            elif n_groups <= 62:
                # conjunction via a GROUP BITMASK folded in the
                # SAME hash agg as the score sum: one partial+final
                # aggregate, no Expand (countDistinct doubles every
                # input row into a second agg phase — the round-3
                # search_conj_df regression). Group ids are dense
                # in [0, n_groups); a group whose terms are absent
                # from the index never sets its bit, so no doc
                # reaches the full mask — same semantics
                full = (1 << n_groups) - 1
                agg = (
                    scored.groupBy("doc_id")
                    .agg(F.sum("score").alias("score"),
                         F.bit_or(F.expr("shiftleft(1L, grp)"))
                         .alias("_gm"))
                    .where(F.col("_gm") == full).drop("_gm")
                )
            else:
                agg = (
                    scored.groupBy("doc_id")
                    .agg(F.sum("score").alias("score"),
                         F.countDistinct("grp").alias("_ng"))
                    .where(F.col("_ng") == n_groups).drop("_ng")
                )
            if banned is not None:
                agg = agg.join(banned, "doc_id", "leftanti")
            # tombstones must also gate PHRASE matches: term scores
            # are filtered inside _score_dataframe, but phrase
            # frames decode blocks raw (delete is metadata-only —
            # dead postings remain), so a phrase-only query would
            # resurrect deleted docs here
            tomb = self.cat.tombstones()
            if tomb is not None:
                # no broadcast hint: at 10^10 tombstones a forced
                # broadcast OOMs the driver — AQE picks the
                # strategy (blocks mode co-groups for same reason)
                agg = agg.join(tomb, "doc_id", "leftanti")
            if dkey:
                self._plan_put(dkey, agg)
        # Q10 total hits in the SAME job as the top-k: an
        # Observation (CollectMetrics node) counts the rows flowing
        # out of the conjunction filter while TakeOrderedAndProject
        # consumes them — exact count, zero extra jobs or scans.
        # (Round 2 ran a concurrent count() job instead; the two
        # jobs raced for the same cores and nearly doubled latency.
        # Lucene gets the total for free inside one collector pass
        # — this is the Spark analog.)
        if partial_sink is not None:
            # Q9 partial results for the DF PLAN (VERDICT r4 #5):
            # the single TakeOrderedAndProject job is all-or-
            # nothing under a cancel, so with a deadline armed the
            # top-k runs as per-partition local top-n rows (+ one
            # exact-count sentinel each, the kernel's output
            # contract) streamed through the same toLocalIterator
            # sink — a timeout merges whatever partitions landed,
            # every query shape included (Searching.java:169-200).
            # np.round is HALF_EVEN like the bround below, so the
            # partition cut is rank-identical to the one-job path.
            nn = offset + k

            def ptopk(batches):
                frames = [b for b in batches if len(b)]
                if not frames:
                    return
                b = pd.concat(frames, ignore_index=True)
                ok = np.round(
                    b["score"].to_numpy(np.float64) * 1e9)
                sel = np.lexsort(
                    (b["doc_id"].to_numpy(), -ok))[:nn]
                out = b.iloc[sel][["doc_id", "score"]].copy()
                out["n_hits"] = 0
                out["n_skipped"] = 0
                out["n_lossy"] = 0
                sent = pd.DataFrame(
                    {"doc_id": [-1], "score": [0.0],
                     "n_hits": [int(len(b))], "n_skipped": [0],
                     "n_lossy": [0]})
                yield pd.concat([out, sent], ignore_index=True)

            local = agg.mapInPandas(
                ptopk, "doc_id long, score double, n_hits long, "
                       "n_skipped long, n_lossy long")
            allpdf = self._collect_kernel(
                local, partial_sink, (nn, 0.0, 0, 0, 0))
            pdf, total_hits, rel, _st = self._finish_blocks(
                allpdf, nn, 0.0, 0, 0, 0)
            bstats = None
        else:
            from pyspark.sql import Observation
            obs = Observation()
            observed = agg.observe(obs,
                                   F.count(F.lit(1)).alias("n"))
            # the ORDER key (not the score) is quantized to 1e-9
            # in BOTH physical plans: the df plan's float-sum
            # order can differ from the kernel's deterministic
            # term-sorted accumulation by one ULP, which would
            # swap exactly-tied neighbors between plans —
            # quantized, ties collapse onto the doc_id tiebreak
            # identically everywhere. bround = HALF_EVEN, the same
            # rounding mode as the kernel's np.round (F.round is
            # HALF_UP and would disagree at exact half-quanta)
            okey = F.bround(F.col("score") * F.lit(1e9))
            pdf = (observed.orderBy(okey.desc(), F.asc("doc_id"))
                   .limit(offset + k).toPandas())
            total_hits, rel = int(obs.get["n"]), "eq"
            bstats = None
        hits = pdf.iloc[offset:offset + k].reset_index(drop=True)
        hits.insert(0, "rank", np.arange(offset + 1, offset + 1 + len(hits)))
        return self._assemble(hits, clauses, pplan, n_groups, processed,
                              q, total_hits, rel, bstats, with_fields,
                              snippets, debug)

    def _assemble(self, hits, clauses, pplan, n_groups, processed, q,
                  total_hits, rel, bstats, with_fields, snippets,
                  debug) -> SearchResult:
        """Shared Q10-Q12 result assembly: display-field fetch for the
        k hits (the doc_kv binding, else _fetch_docs), driver-side
        snippets over the k fetched docs, optional explain."""
        if (with_fields or snippets) and len(hits):
            ids = [int(d) for d in hits["doc_id"]]
            if self.doc_kv is not None:
                docs = self.doc_kv.get_many(ids)
            else:
                docs = self._fetch_docs(ids, content=snippets)
            cols = list(DISPLAY_COLS)
            if snippets:
                # Q11 over the k hit docs only, the reference's snippet
                # pass over the result page (Searching.java:314-399).
                # Phrase clauses highlight their contiguous occurrence
                # as ONE span (they live in q.phrases, not q.clauses)
                from mias_spec.snippets import make_snippet
                phrase_lists = [tuple(p.terms) for p in q.phrases
                                if not p.must_not]
                text_terms = sorted(
                    {c.term for c in q.clauses
                     if c.fld in ("content", "title")})
                mterms = {c.term for c in q.clauses
                          if c.fld in ("pmath", "cmath")}
                docs = docs.assign(snippet=[
                    make_snippet(ct, lg, text_terms, mterms, phrase_lists)
                    for ct, lg in zip(docs["content"], docs["lang"])])
                cols.append("snippet")
            hits = hits.merge(docs[cols], on="doc_id", how="left")
        if debug and len(hits):
            hits["explain"] = self._explain(clauses, hits, n_groups, pplan)
        return SearchResult(hits, n_groups, len(clauses), processed,
                            total_hits, rel, bstats)

    def _fetch_docs(self, ids: list[int], content: bool) -> pd.DataFrame:
        """The default doc_kv: display rows (DISPLAY_COLS, plus content
        and lang when ``content``) of the k hit docs from the index's
        own doc_store. On the parquet binding a driver-side pyarrow
        point read — the dseg partitions holding the ids, row groups
        pruned by the doc_id filter — costs zero Spark jobs, and a
        cached Engine keeps the rows it read per (doc_id, content) in
        its row memo, reading only the ids it has not seen; the Spark
        point read (_display_frame) serves the Iceberg binding and any
        store arrow cannot read."""
        cols = DISPLAY_COLS + (["content", "lang"] if content else [])
        with self._lock:       # memo and handle of one snapshot
            memo = self._rows if self._cache else None
            dset = self._dset("doc_store")
        if dset is None:
            return self._display_frame(ids).select(*cols).toPandas()
        seen, todo = [], ids
        if memo is not None:
            with self._lock:
                got = [memo.get(("doc", d, content)) for d in ids]
            seen = [g for g in got if g is not None]
            todo = [d for d, g in zip(ids, got) if g is None]
        pdf = None
        if todo:
            where = {"doc_id": todo}
            if "dseg" in dset.schema.names:
                where["dseg"] = sorted({d >> self.doc_seg_shift
                                        for d in todo})
            pdf = self.cat.read_local("doc_store", cols, where, dset)
            if pdf is None:
                return self._display_frame(ids).select(*cols).toPandas()
            if memo is not None:
                recs = list(pdf.itertuples(index=False, name=None))
                with self._lock:
                    for rec in recs:
                        memo.put(("doc", rec[0], content), rec,
                                 sum(map(sys.getsizeof, rec)))
        if not seen:
            return pdf
        known = pd.DataFrame.from_records(seen, columns=cols)
        return known if pdf is None else pd.concat([pdf, known],
                                                   ignore_index=True)

    def _display_frame(self, ids: list[int]) -> DataFrame:
        """doc_store slice for the k hit docs as a Spark frame. On a
        dseg-partitioned store (build.py DOC_SEG_SHIFT) the fetch
        prunes to the <= k doc-range partitions actually holding the
        ids — a k-row point lookup must never list/scan the whole
        store (at 10^12 docs that is the difference between
        milliseconds and a full metadata pass; the documented KV seam
        remains the endgame). Pre-dseg indexes fall back to the id
        filter alone."""
        store = self._table("doc_store")
        if "dseg" in store.columns:
            segs = sorted({d >> self.doc_seg_shift for d in ids})
            store = store.where(F.col("dseg").isin(segs))
        return store.where(F.col("doc_id").isin(ids))

    # -------------------------------------------------------------- explain
    def _explain(self, clauses: pd.DataFrame, hits: pd.DataFrame,
                 n_groups: int, pplan: dict | None = None) -> list[str]:
        """Q12 per-hit score breakdown (Searching.java:328-330): one
        line per matched clause — term AND phrase — with the BM25
        components, recomputed from the blocks for the k hit docs only
        (only blocks whose doc range holds a hit are decoded)."""
        ids = [int(d) for d in hits["doc_id"]]
        # phrase-clause lines: ptf/dl per hit doc from the decoded
        # positions (same chain the scorer used, restricted to k docs)
        phrase_lines: dict[int, list[str]] = {}
        for p in (pplan or {}).get("must", []):
            m = (self._phrase_match(p, ids)
                 .where(F.col("doc_id").isin(ids)).collect())
            for r in m:
                ptf, dl = float(r["ptf"]), float(r["dl"])
                s = (p["boost"] * p["w"] * p["idf_p"] * ptf * (BM25_K1 + 1.0)
                     / (ptf + BM25_K1 * (1.0 - BM25_B
                                         + BM25_B * dl / p["avgdl"])))
                phrase_lines.setdefault(int(r["doc_id"]), []).append(
                    f"g{p['grp']}:{p['fld']}:\"{' '.join(p['terms'])}\" "
                    f"idf_p={p['idf_p']:.4g} ptf={ptf:.0f} dl={dl:.0f} "
                    f"score={s:.6g}")
        posts = (self._decoded(
                     sorted({int(t) for t in clauses["term_id"]}),
                     ("tf", "wsum", "dl"), ids)
                 .where(F.col("doc_id").isin(ids)).toPandas())
        dic = {int(r["term_id"]): (r["field"], r["term"]) for r in
               self.cat.read("dictionary")
               .where(F.col("term_id").isin([int(t) for t in
                                             set(clauses["term_id"])]))
               .collect()}
        out = []
        for d in ids:
            sub = posts[posts["doc_id"] == d]
            lines = []
            for c in clauses.itertuples():
                p = sub[sub["term_id"] == c.term_id]
                if p.empty:
                    continue
                tf, wsum, dl = (float(p["tf"].iloc[0]),
                                float(p["wsum"].iloc[0]),
                                float(p["dl"].iloc[0]))
                fld, term = dic[int(c.term_id)]
                s = (c.boost * (wsum / tf) * c.idf * tf * (BM25_K1 + 1.0)
                     / (tf + BM25_K1 * (1.0 - BM25_B
                                        + BM25_B * dl / c.avgdl)))
                lines.append(
                    f"g{c.grp}:{fld}:{term} boost={c.boost:.4g} "
                    f"idf={c.idf:.4g} tf={tf:.0f} dl={dl:.0f} "
                    f"avg_w={wsum / tf:.4g} score={s:.6g}")
            lines.extend(phrase_lines.get(d, []))
            out.append("; ".join(lines))
        return out

    # ------------------------------------------------------ phrase frames
    def _decoded(self, tids: list[int], cols: tuple,
                 ids: list[int] | None = None) -> DataFrame:
        """Posting rows (term_id, doc_id, *cols) of the given terms,
        decoded from a bucket- and term-pruned blocks scan (only the
        byte columns ``cols`` need are read). ``ids`` restricts the
        decode to blocks whose doc range holds one of those docs."""
        bdf = (self._pruned("blocks", "bucket",
                            sorted({t % self.n_buckets for t in tids}))
               .where(F.col("term_id").isin([int(t) for t in tids])))
        if ids:
            bdf = bdf.where((F.col("last_doc") >= min(ids))
                            & (F.col("first_doc") <= max(ids)))
        return blk.decoded_postings(bdf, cols)

    def _phrase_match(self, p: dict, ids: list[int] | None = None
                      ) -> DataFrame:
        """Docs matching one phrase clause, with the phrase tf:
        chained equi-joins on doc_id over the phrase terms' decoded
        positional postings (bucket- and term-pruned block scans — each
        side is ONE term's posting list, the Lucene positions-file
        analog), adjacency verified with native array functions.
        ``ids``: see _decoded. Returns (doc_id, ptf, dl)."""
        posts = self._decoded(p["tids"], ("dl", "positions"), ids)
        cur = (posts.where(F.col("term_id") == int(p["tids"][0]))
               .select("doc_id", F.col("positions").alias("P"), "dl"))
        for t in p["tids"][1:]:
            nxt = (posts.where(F.col("term_id") == int(t))
                   .select("doc_id", F.col("positions").alias("Pn")))
            cur = (cur.join(nxt, "doc_id")
                   .withColumn("P", F.expr(
                       "array_intersect(transform(P, x -> x + 1), Pn)"))
                   .where(F.size("P") > 0)
                   .drop("Pn"))
        return cur.select("doc_id",
                          F.size("P").cast("double").alias("ptf"), "dl")

    def _phrase_frames(self, pplan
                       ) -> tuple[DataFrame | None, DataFrame | None]:
        """(must_scores, banned_docs): must_scores has one row per
        (doc, phrase clause) with columns (doc_id, grp, score) — the
        PhraseClause scoring spec, all native expressions; banned_docs
        is the MUST_NOT doc set (prohibited terms + prohibited
        phrases), produced as a DataFrame so exclusion is a join, never
        a driver-side collect."""
        must = None
        for p in pplan["must"]:
            m = self._phrase_match(p)
            score = (
                F.lit(p["boost"] * p["w"] * p["idf_p"])
                * F.col("ptf") * (BM25_K1 + 1.0)
                / (F.col("ptf") + BM25_K1 * (1.0 - BM25_B + BM25_B
                                             * F.col("dl") / p["avgdl"]))
            )
            f = m.select("doc_id", F.lit(int(p["grp"])).alias("grp"),
                         score.alias("score"))
            must = f if must is None else must.unionByName(f)
        banned = None
        parts = []
        if pplan["banned_tids"]:
            # prohibited terms need only their DOC SETS: decode
            # doc_bytes alone (positions/tf/dl stay unread)
            parts.append(self._decoded(pplan["banned_tids"], ())
                         .select("doc_id"))
        for p in pplan["must_not"]:
            parts.append(self._phrase_match(p).select("doc_id"))
        if parts:
            banned = parts[0]
            for x in parts[1:]:
                banned = banned.unionByName(x)
            banned = banned.distinct()
        return must, banned

    # ---------------------------------------------------- DataFrame scorer
    def _score_dataframe(self, clauses: pd.DataFrame) -> DataFrame:
        cdf = self.spark.createDataFrame(
            clauses[["term_id", "grp", "boost", "idf", "avgdl",
                     "bucket"]], CLAUSE_SCHEMA)
        posts = self._decoded(sorted({int(t) for t in clauses["term_id"]}),
                              ("tf", "wsum", "dl"))
        tomb = self.cat.tombstones()
        if tomb is not None:
            # no broadcast hint (AQE decides): see _search_body
            posts = posts.join(tomb, "doc_id", "leftanti")
        j = posts.join(F.broadcast(cdf.drop("bucket")), "term_id")
        tfd = F.col("tf").cast("double")
        score = (
            F.col("boost") * (F.col("wsum") / tfd) * F.col("idf")
            * tfd * (BM25_K1 + 1.0)
            / (tfd + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl")
                                / F.col("avgdl")))
        )
        return j.select("doc_id", "grp", score.alias("score"))

    # ---------------------------------------------- block-max top-k scorer
    def _topk_blocks(self, clauses: pd.DataFrame, topn: int,
                     n_groups: int, n_pgroups: int = 0,
                     partial_sink: dict | None = None,
                     pplan: dict | None = None,
                     ) -> tuple[pd.DataFrame, int, str, dict]:
        """Doc-sharded block-max top-k over the packed posting blocks.
        Returns (hits pandas frame, total_hits, total_hits_relation,
        per-call blocks stats) — stats are per-CALL values so
        concurrent searches on one Engine never cross-talk.

        ``n_groups`` here counts TERM groups only (``n_pgroups`` the
        phrase groups). Phrases and MUST_NOT terms are FUSED
        (``pplan``): the phrase/banned terms' blocks join the same
        sharded scan — pos_bytes kept only for phrase terms, doc_bytes
        alone for banned-only terms — and the kernel's
        `_phrase_prepass` decodes positions, verifies adjacency and
        builds the allow/dead sets in-task. No extra Python stages, no
        allowlist aggregation job.

        Physical plan (the WAND-style scale path, SURVEY.md §2.4 Q8):

        1. partition-pruned scan of the query terms' blocks (bucket
           predicate + term_id min/max skipping on parquet),
        2. driver-side pruning metadata from one TINY agg job over
           block stats (<= n_terms rows back): a safe score floor
           ``theta`` — the topn-th largest block-max LOWER bound of a
           single term is achieved by topn distinct docs (blocks of one
           term are doc-disjoint), so the topn-th best total is at
           least it — and per-term upper bounds; a block of term t is
           skipped when ``boost_t*UB(block) + sum_{u!=t} UB_u < theta``
           (pushed down as a Catalyst filter on block metadata, so
           skipped blocks' binary columns are never even read),
        3. stale-segment safety: pack-time bounds are rescaled to
           CURRENT stats — exactly for idf (score is linear in idf:
           × fidf/idf0) and conservatively for avgdl (score is NOT
           linear in avgdl; score(af)/score(a0) always lies between
           af/a0 and 1, so upper bounds × max(1, af/a0) and the theta
           floor × min(1, af/a0) stay valid under append-only upserts
           that move field avgdl),
        4. conjunctions (n_groups > 1): per-term doc-range filter on
           metadata (a block must overlap every OTHER group's doc
           extent) + in-kernel essential-group pruning — the group with
           the fewest postings is decoded first; any other block whose
           doc range contains none of those candidate docs is skipped
           WITHOUT decoding, and decoded rows are masked to candidates
           (sound: a doc absent from one group cannot satisfy the
           conjunction). Skip counts are reported per shard,
        5. blocks exploded to the doc-range shards they overlap and
           hash-partitioned by shard — every doc's complete postings
           land in exactly one task (ONE narrow shuffle of compressed
           blocks; no exploded-posting shuffle, no global groupBy);
           when tombstones exist they are CO-GROUPED by the same shard
           key (no driver-side collect of deletes — scale-safe at 10^10
           tombstones, each task sees only its shard's dead ids),
        6. a vectorized numpy kernel per shard: decode, mask to own
           shard, accumulate (doc, grp) partial sums in sorted term
           order (deterministic float accumulation), enforce the
           MUST-group conjunction, emit the shard-local top-n plus ONE
           sentinel row (doc_id=-1) carrying the shard's exact matched
           count and skipped-block count,
        7. driver merge of <= n_shards * (topn+1) rows: totals from the
           sentinels (exact unless theta skipped blocks — then a lower
           bound, Lucene's GTE relation), top-n by (score desc, doc).

        theta > 0 only for single-group queries: a block-max achieving
        doc may fail a multi-group conjunction, so its score is not a
        valid floor there (conjunctions prune via step 4 instead).
        """
        empty = pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                              "score": pd.Series(dtype="float64")})
        # fused phrase/ban plan for the kernel pre-pass: exact term
        # ids + driver-computed scoring constants, all snapshot-pinned
        fused = None
        if pplan is not None and (pplan["must"] or pplan["must_not"]
                                  or pplan["banned_tids"]):
            fused = {
                "must": [(int(p["grp"]),
                          tuple(int(t) for t in p["tids"]),
                          float(p["idf_p"]), float(p["avgdl"]),
                          float(p["w"]), float(p["boost"]))
                         for p in pplan["must"]],
                "mustnot": [tuple(int(t) for t in p["tids"])
                            for p in pplan["must_not"]],
                "banned_set": frozenset(
                    int(t) for t in pplan["banned_tids"]),
                "ptids": frozenset(
                    int(t) for p in pplan["must"] + pplan["must_not"]
                    for t in p["tids"]),
                "n_pg": int(n_pgroups),
            }
        # prepared-plan hit: re-execute the stored plan (fresh job, no
        # plan construction). The fused phrase/ban structure is part of
        # the key. An armed deadline keys its own (always distributed)
        # plans, so it never hits a driver-side one
        streaming = partial_sink is not None
        pkey = None
        if self._cache:
            ffp = None
            if fused:
                ffp = (tuple(fused["must"]), tuple(fused["mustnot"]),
                       tuple(sorted(fused["banned_set"])))
            pkey = (tuple(sorted(
                (int(r.term_id), int(r.grp), float(r.boost))
                for r in clauses.itertuples())), topn, n_groups, ffp,
                streaming)
            hit = self._plan_get(pkey)
            if hit is not None:
                if hit[-1] == "fast":
                    # the plan holds the read spec; the rows come from
                    # the byte-bounded row memo (_blocks_arrow) or are
                    # read again; metadata came from the memo, so
                    # meta_rows is 0
                    spec_m, cl_m, cmap_m, mb_m, fu_m, dead_m, _ = hit
                    return self._topk_blocks_local(
                        self._fast_rows(*spec_m, fu_m, cmap_m), cl_m,
                        cmap_m, mb_m, topn, n_groups, dead_m,
                        memo_hit=True, fused=fu_m)
                # pdead: the dead-id array (driver) or the dead_ids
                # stat (dist) the plan was built with
                plan, pparams, ptheta, pshards, pdead, kind = hit
                if kind == "driver":
                    allpdf = kernel_core(plan.toPandas(), pparams, pdead)
                    return self._finish_blocks(
                        allpdf, topn, ptheta, n_groups, pshards, 0,
                        "driver", len(pdead))
                # memo hits honor an armed deadline exactly like the
                # cold path: completed shards land in the sink
                ctx = (topn, ptheta, n_groups, pshards, 0,
                       "distributed", pdead)
                allpdf = self._collect_kernel(plan, partial_sink, ctx)
                return self._finish_blocks(allpdf, *ctx)
        terms = sorted({int(t) for t in clauses["term_id"]})
        buckets = sorted({int(b) for b in clauses["bucket"]})
        cmap: dict[int, list[tuple[int, float]]] = {}
        for r in clauses.itertuples():
            cmap.setdefault(int(r.term_id), []).append(
                (int(r.grp), float(r.boost)))
        max_boost = {t: max(b for _, b in es) for t, es in cmap.items()}

        # liveDocs: the snapshot's tombstone ids as a driver-side array
        # when small (None: too many, or Iceberg — co-grouped below)
        dead = self._dead_ids()
        clean = dead is not None and not len(dead)
        # the one-shot driver paths need the dead set in hand and no
        # deadline (their single collect cannot return partial hits)
        local_ok = dead is not None and not streaming
        # ---- small-query fast path: the dictionary df already bounds
        # the posting volume (scoring AND phrase/banned terms — their
        # dfs ride pplan.extra_df_total), so when the whole query fits
        # one shard the block rows are fetched once — driver-side with
        # pyarrow on the parquet binding (zero Spark jobs), one Spark
        # collect otherwise — and metadata reduction, theta, range
        # filters, the fused phrase pre-pass and the kernel (masking
        # the dead ids) all run driver-side on that frame. The check
        # needs no Spark frame, so none is built for a fast query.
        extra_df = int(pplan.get("extra_df_total", 0)) if fused else 0
        df_total = (int(clauses.drop_duplicates("term_id")["df"].sum())
                    if "df" in clauses.columns and len(clauses) else
                    (0 if fused else None))
        if (local_ok and df_total is not None
                and df_total + extra_df <= _SHARD_POSTINGS):
            if pkey is not None:
                self._plan_put(pkey, ((terms, buckets), clauses, cmap,
                                      max_boost, fused, dead, "fast"))
            return self._topk_blocks_local(
                self._fast_rows(terms, buckets, fused, cmap), clauses,
                cmap, max_boost, topn, n_groups, dead, fused=fused)
        # column-prune the scoring scan: the kernel never reads
        # pos_bytes for SCORING (positions serve phrase adjacency
        # only) and the partition column is spent after pruning.
        # Phrase terms' blocks arrive through _fused_extras with
        # pos_bytes attached; a phrase-only query has no scoring scan
        bdf = self._scoring_frame(terms, buckets) if terms else None
        tomb = None if clean else self.cat.tombstones()
        # a tombstoned/banned doc may be the block-max achiever, so the
        # Spark-side floor is only a valid lower bound on a CLEAN
        # unfiltered single-term-group query (the fast path filters
        # dead-holding blocks out of its floor instead); `optimize`
        # restores pruning after deletes
        need_theta = n_groups == 1 and tomb is None and fused is None
        # ---- driver metadata: ONE bounded row per term, never O(df).
        # The rescaled (query-fresh idf/avgdl) bounds are computed as
        # Catalyst expressions and reduced Spark-side: a window rank
        # picks the topn-th largest block LOWER bound (the only order
        # statistic theta ever uses) and a hash agg folds the max upper
        # bound + extents — so the driver receives O(1) per term even
        # for a term with df ~ n_docs (round-2's collect_list shipped
        # df/BLOCK_SIZE structs through the driver; at 10^10 docs that
        # was ~78 M structs for one unified M-term). The window sort is
        # distributed and spillable; it only runs when theta is usable.
        # With cache=True the reduced tuple memoizes per (term, topn) —
        # fresh idf/avgdl are pinned for the Engine's snapshot, so the
        # adjusted bounds are constants and a repeat term costs ZERO
        # Spark jobs.
        fresh_df = fresh_stats_df(self.spark, clauses)
        adj_ub, _adj_lb = rescaled_bounds()
        ckey = topn if need_theta else None
        # local ref (same reason as compile's term cache): one
        # consistent view even if a snapshot refresh replaces the dict
        bm = self._block_meta if self._cache else None
        todo = ([t for t in terms if (t, ckey) not in bm]
                if bm is not None else terms)
        raw: dict[int, tuple] = {}
        meta_rows = 0
        if todo:
            src = bdf if set(todo) == set(terms) else bdf.where(
                F.col("term_id").isin(todo))
            rows = block_meta_reduction(src, fresh_df, topn,
                                        need_theta).collect()
            # driver-received metadata rows this query (test hook:
            # bounded at one per term regardless of block count)
            meta_rows = len(rows)
            for r in rows:
                raw[int(r["term_id"])] = (
                    float(r["ubm"]), int(r["nb"]), int(r["npost"]),
                    int(r["blo"]), int(r["bhi"]),
                    None if r["lbn"] is None else float(r["lbn"]))
            if bm is not None:
                with self._lock:
                    for t, v in raw.items():
                        bm[(t, ckey)] = v
        if bm is not None:
            raw = {t: bm[(t, ckey)] for t in terms
                   if (t, ckey) in bm}
        mrows = [{"term_id": t, "ubm": ubm, "nb": nb, "npost": npost,
                  "blo": blo, "bhi": bhi, "lbn": lbn}
                 for t, (ubm, nb, npost, blo, bhi, lbn) in raw.items()]
        if not mrows and fused is None:
            return empty, 0, "eq", {
                "skipped_blocks": 0, "lossy_blocks": 0, "theta": 0.0,
                "n_shards": 0, "meta_rows": meta_rows,
                "path": "distributed", "dead_ids": 0, "read": "spark",
                "memo_terms": 0}
        if mrows:
            lo = min(int(r["blo"]) for r in mrows)
            hi = max(int(r["bhi"]) for r in mrows)
        else:
            # phrase-only fused query: no scoring metadata — shard
            # over the whole dense doc-id space (next_doc_id is the
            # manifest high-water mark, maintained by build + upsert)
            lo = 0
            hi = max(int(self.cat.props().get("next_doc_id", 1)) - 1, 0)
        theta = 0.0
        if need_theta:
            for r in mrows:
                if int(r["nb"]) >= topn and r["lbn"] is not None:
                    theta = max(theta, r["lbn"]
                                * max_boost[int(r["term_id"])])
        ub = {int(r["term_id"]): r["ubm"] * max_boost[int(r["term_id"])]
              for r in mrows}
        sum_ub = sum(ub.values())

        # ---- block-skip filter pushed into the scan (metadata columns)
        if theta > 0.0:
            rest = {t: sum_ub - u for t, u in ub.items()}
            rest_df = self.spark.createDataFrame(
                [(t, float(rest[t]), float(max_boost[t])) for t in rest],
                "term_id long, rest double, mboost double")
            bdf = (bdf.join(F.broadcast(rest_df), "term_id")
                   .join(F.broadcast(fresh_df), "term_id")
                   .where(F.col("mboost") * adj_ub + F.col("rest") >= theta)
                   .drop("rest", "mboost", "fidf", "favgdl"))

        # ---- conjunction: per-group doc extents -> per-term range filter
        eg = -1
        if n_groups > 1:
            glo: dict[int, int] = {}
            ghi: dict[int, int] = {}
            gpost: dict[int, int] = {}
            for r in mrows:
                for g, _ in cmap[int(r["term_id"])]:
                    glo[g] = min(glo.get(g, int(r["blo"])), int(r["blo"]))
                    ghi[g] = max(ghi.get(g, int(r["bhi"])), int(r["bhi"]))
                    gpost[g] = gpost.get(g, 0) + int(r["npost"])
            eg = min(gpost, key=lambda g: (gpost[g], g))
            rng = []
            for r in mrows:
                t = int(r["term_id"])
                gs = {g for g, _ in cmap[t]}
                others = [g for g in glo if g not in gs]
                rlo = max((glo[g] for g in others), default=lo)
                rhi = min((ghi[g] for g in others), default=hi)
                rng.append((t, int(rlo), int(rhi)))
            rng_df = self.spark.createDataFrame(
                rng, "term_id long, rlo long, rhi long")
            bdf = (bdf.join(F.broadcast(rng_df), "term_id")
                   .where((F.col("last_doc") >= F.col("rlo"))
                          & (F.col("first_doc") <= F.col("rhi")))
                   .drop("rlo", "rhi"))

        # ---- doc-range sharding: each block joins every shard it spans.
        # Shard count adapts to the actual posting volume (known driver-
        # side from the per-term metadata): a few-thousand-posting query
        # runs 1-2 tasks instead of paying 32 Python-worker round-trips,
        # while a hot term at 10^10 postings saturates the cluster
        # (capped at defaultParallelism). Any shard count is correct —
        # shards emit local top-n + an exact-count sentinel and the
        # driver merges.
        span = max(hi - lo + 1, 1)
        total_npost = sum(int(r["npost"]) for r in mrows) + extra_df
        par = max(self.spark.sparkContext.defaultParallelism, 1)
        n_shards = max(1, min(par, -(-total_npost // _SHARD_POSTINGS)))
        # fused: phrase/banned term blocks join the SAME sharded scan
        # (pos_bytes only where adjacency needs it), prefiltered to the
        # scoring doc extent when one exists — a doc outside every
        # scoring term's range can neither satisfy the term conjunction
        # nor matter for exclusion
        allb = bdf
        if fused:
            parts = []
            if bdf is not None:
                d = bdf
                overlap = sorted(set(cmap) & fused["ptids"])
                if overlap:
                    # these terms' blocks arrive via the extras scan
                    # WITH positions; scanning them here too would
                    # score their postings twice
                    d = d.where(~F.col("term_id").isin(overlap))
                parts.append(d.withColumn(
                    "pos_bytes", F.lit(None).cast("binary")))
            ext = self._fused_extras(fused, cmap,
                                     lo if mrows else None,
                                     hi if mrows else None)
            if ext is not None:
                parts.append(ext)
            allb = parts[0]
            for p in parts[1:]:
                allb = allb.unionByName(p)
        # integer DIV on both sides (Catalyst + numpy) — double floor()
        # drifts at 10^12-doc scale
        s_of = lambda c: F.expr(  # noqa: E731
            f"({c} - {lo}L) * {n_shards}L div {span}L")
        sharded = allb.withColumn("shard", F.explode(F.sequence(
            F.greatest(s_of("first_doc"), F.lit(0)),
            F.least(s_of("last_doc"), F.lit(n_shards - 1)))))

        cpd = (clauses[["term_id", "idf", "avgdl"]]
               .drop_duplicates("term_id"))
        if fused:
            xtids = sorted((fused["ptids"] | fused["banned_set"])
                           - set(cmap))
            if xtids:
                # placeholder stats keep the broadcast join inner;
                # phrase scoring uses pplan's idf_p/avgdl constants
                xpd = pd.DataFrame(
                    {"term_id": np.asarray(xtids, dtype=np.int64),
                     "idf": 0.0, "avgdl": 1.0})
                cpd = (xpd if cpd.empty else
                       pd.concat([cpd, xpd], ignore_index=True))
        cdf = self.spark.createDataFrame(
            cpd, "term_id long, idf double, avgdl double")
        withmeta = sharded.join(F.broadcast(cdf), "term_id")
        # group ids need not be contiguous (phrase groups interleave):
        # the doc<<k | grp packing must clear the MAX id over BOTH term
        # and phrase groups (the fused pre-pass packs phrase grps too)
        gvals = [int(g) for g in clauses["grp"]] + \
            [g for g, *_ in (fused["must"] if fused else [])]
        gmax = max(gvals, default=0) + 1
        gmult = 1 << max(gmax.bit_length(), 1)
        params = (cmap, n_groups, topn, lo, span, n_shards, gmult, eg,
                  fused)
        out_schema = ("doc_id long, score double, n_hits long, "
                      "n_skipped long, n_lossy long")

        if n_shards == 1 and local_ok:
            # single-shard short-circuit: the whole query fits one
            # kernel invocation (≤ _SHARD_POSTINGS postings, known
            # BEFORE launching anything), so collect the few compressed
            # block rows and run the SAME kernel in the driver process
            # — one Arrow collect, no exchange, no Python-runner stage.
            # This is Lucene's single-node execution path verbatim; the
            # distributed plan below engages exactly when the posting
            # volume would not fit one task.
            if pkey is not None:
                self._plan_put(pkey, (withmeta, params, theta,
                                      n_shards, dead, "driver"))
            pdf_blocks = withmeta.toPandas()
            allpdf = kernel_core(pdf_blocks, params, dead)
            return self._finish_blocks(allpdf, topn, theta, n_groups,
                                       n_shards, meta_rows, "driver",
                                       len(dead))

        bc = self.spark.sparkContext.broadcast(params)

        def core(pdf, dead_l):
            return kernel_core(pdf, bc.value, dead_l)

        right_side = tomb is not None
        if right_side:
            # tombstones co-grouped by the SAME shard key: each task
            # receives its shard's slice — nothing through the driver,
            # scale-safe at 10^10 tombstones
            rshard = tomb.select("doc_id").withColumn("shard",
                                                      s_of("doc_id"))

            def cokernel(left: pd.DataFrame, rpdf: pd.DataFrame
                         ) -> pd.DataFrame:
                return core(left, np.sort(rpdf["doc_id"].to_numpy(
                    np.int64)))

            local = (withmeta.groupBy("shard")
                     .cogroup(rshard.groupBy("shard"))
                     .applyInPandas(cokernel, out_schema))
        else:
            def kernel(batches):
                # ONE core call per partition: Arrow may split a
                # partition into several batches, and a doc's blocks
                # must all be accumulated together
                frames = [p for p in batches if len(p)]
                if frames:
                    yield core(pd.concat(frames, ignore_index=True), None)

            local = (withmeta.repartition(n_shards, "shard")
                     .mapInPandas(kernel, out_schema))

        # dead_ids stat: -1 when the co-grouped channel carried them
        n_dead = -1 if right_side else 0
        if pkey is not None:
            self._plan_put(pkey, (local, None, theta, n_shards, n_dead,
                                  "dist"))
        ctx = (topn, theta, n_groups, n_shards, meta_rows,
               "distributed", n_dead)
        allpdf = self._collect_kernel(local, partial_sink, ctx)
        return self._finish_blocks(allpdf, *ctx)

    def _fused_extras(self, fused: dict, cmap: dict,
                      lo: int | None = None, hi: int | None = None
                      ) -> DataFrame | None:
        """Block rows of the phrase/banned terms for the fused kernel.
        pos_bytes is kept ONLY for phrase terms; banned-only terms read
        doc_bytes alone (tf/dl/w/pos projected to null — those columns
        are never scanned for them). When the scoring doc extent is
        known the rows are prefiltered to it: a doc outside every
        scoring term's range can't satisfy the term conjunction, and
        excluding an unreachable doc is a no-op."""
        nb = self.n_buckets
        ptl = sorted(fused["ptids"])
        btl = sorted(fused["banned_set"] - fused["ptids"] - set(cmap))
        parts = []
        if ptl:
            parts.append(
                self._pruned("blocks", "bucket",
                             sorted({t % nb for t in ptl}))
                .where(F.col("term_id").isin(ptl)).drop("bucket"))
        if btl:
            nullb = F.lit(None).cast("binary")
            parts.append(
                self._pruned("blocks", "bucket",
                             sorted({t % nb for t in btl}))
                .where(F.col("term_id").isin(btl))
                .select("term_id", "salt", "block_ord", "n_docs",
                        "first_doc", "last_doc", "max_score", "idf0",
                        "avgdl0", "doc_bytes",
                        nullb.alias("tf_bytes"),
                        nullb.alias("dl_bytes"),
                        nullb.alias("w_bytes"),
                        nullb.alias("pos_bytes")))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if lo is not None:
            out = out.where((F.col("last_doc") >= lo)
                            & (F.col("first_doc") <= hi))
        return out

    def _scoring_frame(self, terms: list[int], buckets: list[int]
                       ) -> DataFrame:
        """Bucket- and term-pruned Spark scan of the scoring terms'
        blocks, pos_bytes and the spent partition column dropped (the
        biggest per-posting payload stays out of the scan, the shard
        shuffle, the Arrow transfer and the cached slices)."""
        return (self._pruned("blocks", "bucket", buckets)
                .where(F.col("term_id").isin(terms))
                .drop("pos_bytes", "bucket"))

    def _fast_rows(self, terms: list[int], buckets: list[int],
                   fused: dict | None, cmap: dict
                   ) -> tuple[pd.DataFrame, str, int]:
        """(block rows, how they were read, memo_terms) for a fast-path
        query: the pyarrow read when it can serve them ("arrow", zero
        Spark jobs), else one Spark collect of the same rows
        ("spark")."""
        got = self._blocks_arrow(terms, fused, cmap)
        if got is not None:
            return got[0], "arrow", got[1]
        bdf = self._scoring_frame(terms, buckets) if terms else None
        if fused:
            bdf = self._fused_union(bdf, fused, cmap)
        return bdf.toPandas(), "spark", 0

    def _blocks_arrow(self, terms: list[int], fused: dict | None,
                      cmap: dict) -> tuple[pd.DataFrame, int] | None:
        """The fast path's block rows read driver-side with pyarrow:
        the frame ``_fused_union(...).toPandas()`` (or the scoring
        scan's, unfused) would collect — same columns, dtypes and
        nulls; row order is irrelevant to the kernel. Scoring terms
        read every column but pos_bytes (null when fused), phrase
        terms keep pos_bytes, banned-only terms read doc_bytes alone
        with null tf/dl/w/pos bytes. A cached Engine keeps each term's
        rows (an empty frame for a term with none) per column set in
        its row memo and reads only the terms it has not seen. Returns
        (rows, how many terms the memo served), or None when arrow
        cannot serve the read: Iceberg binding or unreadable files."""
        with self._lock:       # memo and handle of one snapshot
            memo = self._rows if self._cache else None
            dset = self._dset("blocks")
        if dset is None:
            return None
        nb = self.n_buckets
        n_memo = 0

        def read(tids, cols):
            nonlocal n_memo
            parts, todo = [], tids
            if memo is not None:
                with self._lock:
                    got = [memo.get(("blocks", t, tuple(cols)))
                           for t in tids]
                parts = [g for g in got if g is not None]
                todo = [t for t, g in zip(tids, got) if g is None]
                n_memo += len(parts)
            if todo:
                pdf = self.cat.read_local(
                    "blocks", cols,
                    {"bucket": sorted({t % nb for t in todo}),
                     "term_id": todo}, dset)
                if pdf is None:
                    return None
                parts.append(pdf)
                if memo is not None:
                    by_t = dict(iter(pdf.groupby("term_id", sort=False)))
                    with self._lock:
                        for t in todo:
                            g = by_t.get(t, pdf.iloc[:0])
                            memo.put(("blocks", t, tuple(cols)), g, int(
                                g.memory_usage(deep=True).sum()))
            return (parts[0] if len(parts) == 1
                    else pd.concat(parts, ignore_index=True))

        score_cols = [c for c in blk._COLS if c != "pos_bytes"]
        ptids = fused["ptids"] if fused else frozenset()
        # (tids, columns read, columns nulled)
        reads = [([t for t in terms if t not in ptids], score_cols,
                  ["pos_bytes"] if fused else [])]
        if fused:
            banned = sorted(fused["banned_set"] - ptids - set(cmap))
            unread = ["tf_bytes", "dl_bytes", "w_bytes", "pos_bytes"]
            reads += [(sorted(ptids), blk._COLS, []),
                      (banned, [c for c in blk._COLS if c not in unread],
                       unread)]
        parts = []
        for tids, cols, nulls in reads:
            if not tids:
                continue
            pdf = read(tids, cols)
            if pdf is None:
                return None
            parts.append(pdf.assign(**dict.fromkeys(nulls)))
        return pd.concat(parts, ignore_index=True)[
            blk._COLS if fused else score_cols], n_memo

    def _fused_union(self, bdf: DataFrame | None, fused: dict,
                     cmap: dict) -> DataFrame:
        """Scoring scan (pos nulled, phrase-overlap terms removed) +
        fused extras — the driver fast path's Spark read when arrow
        cannot serve it."""
        parts = []
        if bdf is not None:
            overlap = sorted(set(cmap) & fused["ptids"])
            d = bdf
            if overlap:
                d = d.where(~F.col("term_id").isin(overlap))
            parts.append(d.withColumn(
                "pos_bytes", F.lit(None).cast("binary")))
        ext = self._fused_extras(fused, cmap)
        if ext is not None:
            parts.append(ext)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _collect_kernel(self, local: DataFrame, partial_sink,
                        ctx: tuple) -> pd.DataFrame:
        """Collect kernel output rows. With a deadline armed
        (``partial_sink``), shard outputs stream into the sink as
        their partitions land, so a job-group cancel still leaves
        every completed shard's top-n + sentinel for the
        partial-result merge in search(). Slightly more scheduling
        overhead than one collect — only paid when a timeout is
        armed."""
        if partial_sink is None:
            return local.toPandas()
        partial_sink["ctx"] = ctx
        rows = partial_sink["rows"]
        for row in local.toLocalIterator(prefetchPartitions=True):
            rows.append((row["doc_id"], row["score"], row["n_hits"],
                         row["n_skipped"], row["n_lossy"]))
        return pd.DataFrame(rows, columns=[
            "doc_id", "score", "n_hits", "n_skipped", "n_lossy"])

    def _topk_blocks_local(self, rows: tuple[pd.DataFrame, str, int],
                           clauses: pd.DataFrame, cmap: dict,
                           max_boost: dict, topn: int, n_groups: int,
                           dead: np.ndarray, memo_hit: bool = False,
                           fused: dict | None = None,
                           ) -> tuple[pd.DataFrame, int, str, dict]:
        """Driver-side mirror of the _topk_blocks pruning pipeline for
        queries whose dictionary df already bounds the posting volume
        to one shard's worth: on the few compressed block rows
        (``rows`` = _fast_rows' (frame, read, memo_terms), reported in
        the stats), metadata reduction, the theta floor, conjunctive
        range filters, the fused phrase pre-pass and the kernel all run
        on the local frame, the per-block arithmetic in numpy over the
        terms' ``np.unique`` inverse. ``dead`` (sorted tombstone ids)
        is masked in the kernel, and blocks whose doc range holds a
        dead id are left out of the theta floor. Semantics are
        identical to the distributed path — pinned by the
        forced-distributed comparisons in
        test_driver_kernel_short_circuit_and_prepared_plans and
        test_tombstoned_fast_path_matches_oracle_and_distributed."""
        pdfb, read, memo_terms = rows
        empty = pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                              "score": pd.Series(dtype="float64")})
        if not len(pdfb):
            return empty, 0, "eq", {
                "skipped_blocks": 0, "lossy_blocks": 0, "theta": 0.0,
                "n_shards": 0, "meta_rows": 0, "path": "fast",
                "dead_ids": int(len(dead)), "read": read,
                "memo_terms": memo_terms}
        imap = {int(r.term_id): (float(r.idf), float(r.avgdl))
                for r in clauses.drop_duplicates("term_id").itertuples()}
        # fused extras (phrase/banned-term blocks) skip the scoring
        # metadata/pruning — the kernel pre-pass consumes them whole
        sc_m = np.isin(pdfb["term_id"].to_numpy(np.int64), list(imap))
        ex = None
        if not sc_m.all():
            ex, pdfb = pdfb[~sc_m], pdfb[sc_m]
        meta: dict[int, tuple] = {}
        theta, keep = 0.0, np.ones(len(pdfb), bool)
        eg = -1
        if len(pdfb):
            ut, inv = np.unique(pdfb["term_id"].to_numpy(np.int64),
                                return_inverse=True)
            terms = ut.tolist()
            fidf = np.array([imap[t][0] for t in terms])[inv]
            favg = np.array([imap[t][1] for t in terms])[inv]
            i0 = pdfb["idf0"].to_numpy(np.float64, na_value=np.nan)
            a0 = pdfb["avgdl0"].to_numpy(np.float64, na_value=np.nan)
            scale = fidf / np.maximum(np.where(np.isnan(i0), fidf, i0),
                                      1e-12)
            ratio = favg / np.maximum(np.where(np.isnan(a0), favg, a0),
                                      1e-12)
            ms = pdfb["max_score"].to_numpy(np.float64)
            ub_b = ms * scale * np.maximum(ratio, 1.0)
            lb = ms * scale * np.minimum(ratio, 1.0)
            lo_b = pdfb["first_doc"].to_numpy(np.int64)
            hi_b = pdfb["last_doc"].to_numpy(np.int64)
            if len(dead):
                # a block holding a dead id may owe its max_score to
                # that doc: it cannot vouch for a live doc, so it is
                # left out of the floor (lbn over dead-free blocks)
                holds = (np.searchsorted(dead, hi_b, "right")
                         > np.searchsorted(dead, lo_b))
                lb = np.where(holds, np.nan, lb)
            pdfb = pdfb.assign(idf=fidf, avgdl=favg)
            # per-term reduced metadata — the same (ubm, nb, npost,
            # blo, bhi, lbn) tuple the distributed agg returns. Rows
            # ordered by term, then lower bound descending (NaN last),
            # so each term's topn-th row holds its topn-th largest
            # lower bound when it has that many
            o = np.lexsort((-lb, inv))
            nb = np.bincount(inv)
            st = np.cumsum(nb) - nb
            ubm = np.maximum.reduceat(ub_b[o], st)
            npost = np.add.reduceat(
                pdfb["n_docs"].to_numpy(np.int64)[o], st)
            blo = np.minimum.reduceat(lo_b[o], st)
            bhi = np.maximum.reduceat(hi_b[o], st)
            nlb = np.bincount(inv[~np.isnan(lb)], minlength=len(ut))
            lb_o = lb[o]
            for j, t in enumerate(terms):
                meta[t] = (float(ubm[j]), int(nb[j]), int(npost[j]),
                           int(blo[j]), int(bhi[j]),
                           float(lb_o[st[j] + topn - 1])
                           if nlb[j] >= topn else None)
            if self._cache:
                ckey = topn if n_groups == 1 else None
                with self._lock:
                    for t, v in meta.items():
                        self._block_meta[(t, ckey)] = v
            # theta is only a valid floor on a clean single-group
            # query — fused bans/phrases may remove the floor achiever
            if n_groups == 1 and fused is None:
                for t, v in meta.items():
                    if v[1] >= topn and v[5] is not None:
                        theta = max(theta, v[5] * max_boost[t])
            ub = {t: v[0] * max_boost[t] for t, v in meta.items()}
            sum_ub = sum(ub.values())
            if theta > 0.0:
                rest = np.array([sum_ub - ub[t] for t in terms])[inv]
                mb = np.array([max_boost[t] for t in terms])[inv]
                keep &= mb * ub_b + rest >= theta
            if n_groups > 1:
                glo: dict[int, int] = {}
                ghi: dict[int, int] = {}
                gpost: dict[int, int] = {}
                for t, v in meta.items():
                    for g2, _ in cmap[t]:
                        glo[g2] = min(glo.get(g2, v[3]), v[3])
                        ghi[g2] = max(ghi.get(g2, v[4]), v[4])
                        gpost[g2] = gpost.get(g2, 0) + v[2]
                eg = min(gpost, key=lambda g2: (gpost[g2], g2))
                lo_s = min(v[3] for v in meta.values())
                hi_s = max(v[4] for v in meta.values())
                rlo, rhi = [], []
                for t in terms:
                    gs = {g2 for g2, _ in cmap[t]}
                    others = [g2 for g2 in glo if g2 not in gs]
                    rlo.append(max((glo[g2] for g2 in others),
                                   default=lo_s))
                    rhi.append(min((ghi[g2] for g2 in others),
                                   default=hi_s))
                keep &= ((hi_b >= np.array(rlo, np.int64)[inv])
                         & (lo_b <= np.array(rhi, np.int64)[inv]))
        meta_rows = 0 if memo_hit else len(meta)
        if meta:
            lo = min(v[3] for v in meta.values())
            hi = max(v[4] for v in meta.values())
            span = max(hi - lo + 1, 1)
        else:
            # phrase-only: one shard covers the whole doc-id space
            lo, span = 0, 1 << 62
        if not keep.all():
            pdfb = pdfb[keep]
        if fused is not None and ex is not None:
            pdfb = pd.concat([pdfb, ex], ignore_index=True)
        pdfb = pdfb.assign(shard=0)
        gvals = [int(g) for g in clauses["grp"]] + \
            [g for g, *_ in (fused["must"] if fused else [])]
        gmax = max(gvals, default=0) + 1
        gmult = 1 << max(gmax.bit_length(), 1)
        params = (cmap, n_groups, topn, lo, span, 1, gmult, eg,
                  fused)
        allpdf = kernel_core(pdfb, params, dead)
        res = self._finish_blocks(allpdf, topn, theta, n_groups, 1,
                                  meta_rows, "fast", len(dead), read)
        res[3]["memo_terms"] = memo_terms
        return res

    def _finish_blocks(self, allpdf: pd.DataFrame, topn: int,
                       theta: float, n_groups: int, n_shards: int,
                       meta_rows: int, path: str = "distributed",
                       dead_ids: int = 0, read: str = "spark"
                       ) -> tuple[pd.DataFrame, int, str, dict]:
        """Merge kernel output rows (shard-local top-n + sentinels)
        into (hits, total_hits, relation, per-call stats): the top-n
        by the kernel's own key, (score rounded to 1e-9) descending
        then doc_id, in one np.lexsort."""
        doc = allpdf["doc_id"].to_numpy(np.int64)
        score = allpdf["score"].to_numpy(np.float64)
        live = doc >= 0
        doc, score = doc[live], score[live]
        top = np.lexsort((doc, -np.round(score * 1e9)))[:topn]
        hits = pd.DataFrame({"doc_id": doc[top], "score": score[top]})

        def sent(col):
            return int(allpdf[col].to_numpy(np.int64)[~live].sum())

        total = sent("n_hits")
        stats = {
            "skipped_blocks": sent("n_skipped"),
            "lossy_blocks": sent("n_lossy"),
            "theta": theta, "n_shards": int(n_shards),
            "meta_rows": int(meta_rows), "path": path,
            "dead_ids": int(dead_ids), "read": read, "memo_terms": 0}
        # totals are a lower bound whenever score-based pruning was
        # active: the driver-side theta filter, the in-kernel dynamic
        # theta (single-group), or the conjunctive dynamic floor
        # (n_lossy sentinels — range skips alone stay exact, they only
        # drop provably non-matching docs)
        lossy = (theta > 0.0
                 or (n_groups == 1 and stats["skipped_blocks"] > 0)
                 or stats["lossy_blocks"] > 0)
        return hits, total, ("gte" if lossy else "eq"), stats
