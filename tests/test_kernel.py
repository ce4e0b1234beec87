"""Unit tests for the block kernel (kernel_core) on synthetic packed
blocks — in particular the DYNAMIC theta refinement: blocks decode in
upper-bound order and later blocks are skipped once the running
partial-sum floor proves they cannot reach the top-n."""

import numpy as np
import pandas as pd

from mias_spark import blocks as blk
from mias_spark.search import kernel_core
from mias_spec.constants import BM25_B, BM25_K1


def _mk_blocks(doc_tf: dict[int, int], tid=7, idf=2.0, avgdl=10.0, dl=10):
    docs = np.array(sorted(doc_tf), dtype=np.int64)
    n = len(docs)
    g = pd.DataFrame({
        "term_id": np.full(n, tid, np.int64),
        "salt": np.zeros(n, np.int64),
        "doc_id": docs,
        "tf": np.array([doc_tf[d] for d in docs], np.int64),
        "dl": np.full(n, dl, np.int64),
        "wsum": np.array([float(doc_tf[d]) for d in docs]),  # avg_w = 1
        "idf": np.full(n, idf),
        "avgdl": np.full(n, avgdl),
        "positions": [list(range(doc_tf[d])) for d in docs],
    })
    out = blk._pack_frame(g)
    out["shard"] = 0
    out["idf"] = idf       # query-fresh stats == pack stats
    out["avgdl"] = avgdl
    return out


def _bm25(tf, idf=2.0, avgdl=10.0, dl=10):
    return idf * tf * (BM25_K1 + 1.0) / (
        tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl))


def _params(n_top, ngroups=1, gm=2, span=10_000):
    cmap = {7: [(0, 1.0)]}
    return (cmap, ngroups, n_top, 0, span, 1, gm, -1)


def test_dynamic_theta_skips_low_blocks():
    """4 blocks of one term; the first (high-tf) block fills the top-3
    floor, so the other three blocks are skipped WITHOUT decoding and
    the result is still exact."""
    doc_tf = {d: 20 for d in range(128)}
    doc_tf.update({d: 1 for d in range(128, 512)})
    pdf = _mk_blocks(doc_tf)
    assert len(pdf) == 4
    out = kernel_core(pdf, _params(n_top=3), None)
    sent = out[out["doc_id"] < 0]
    hits = out[out["doc_id"] >= 0]
    assert int(sent["n_skipped"].iloc[0]) == 3
    assert [int(d) for d in hits["doc_id"]] == [0, 1, 2]
    assert np.allclose(hits["score"], _bm25(20))
    # n_hits reflects only what was decoded (lower bound) — the engine
    # reports the GTE relation whenever pruning was active


def test_dynamic_theta_exactness_under_variation():
    """Random tf profile: kernel output (top-10) must equal a
    brute-force BM25 ranking regardless of which blocks got skipped."""
    rng = np.random.default_rng(7)
    doc_tf = {int(d): int(t) for d, t in enumerate(
        rng.integers(1, 30, size=1000))}
    pdf = _mk_blocks(doc_tf)
    out = kernel_core(pdf, _params(n_top=10), None)
    hits = out[out["doc_id"] >= 0]
    exp = sorted(doc_tf, key=lambda d: (-_bm25(doc_tf[d]), d))[:10]
    assert [int(d) for d in hits["doc_id"]] == exp
    assert np.allclose(hits["score"],
                       [_bm25(doc_tf[d]) for d in exp], atol=1e-12)


def test_dead_mask_in_kernel():
    """Tombstoned docs never surface, and the floor stays correct."""
    doc_tf = {d: 20 for d in range(128)}
    doc_tf.update({d: 1 for d in range(128, 300)})
    pdf = _mk_blocks(doc_tf)
    dead = np.arange(0, 128, dtype=np.int64)   # kill every high-tf doc
    out = kernel_core(pdf, _params(n_top=3), dead)
    hits = out[out["doc_id"] >= 0]
    assert [int(d) for d in hits["doc_id"]] == [128, 129, 130]
    assert np.allclose(hits["score"], _bm25(1))


def _mk_term_blocks(tid, doc_tf, idf=2.0, avgdl=10.0, dl=10):
    docs = np.array(sorted(doc_tf), dtype=np.int64)
    n = len(docs)
    g = pd.DataFrame({
        "term_id": np.full(n, tid, np.int64),
        "salt": np.zeros(n, np.int64),
        "doc_id": docs,
        "tf": np.array([doc_tf[d] for d in docs], np.int64),
        "dl": np.full(n, dl, np.int64),
        "wsum": np.array([float(doc_tf[d]) for d in docs]),
        "idf": np.full(n, idf),
        "avgdl": np.full(n, avgdl),
        "positions": [list(range(doc_tf[d])) for d in docs],
    })
    out = blk._pack_frame(g)
    out["shard"] = 0
    out["idf"] = idf
    out["avgdl"] = avgdl
    return out


def test_conjunction_progressive_refinement():
    """3-group AND: the essential group leaves 2 candidates; the next
    group narrows them to 1; the last (largest) group then decodes a
    single block — everything else skips without decoding, and the
    one surviving doc scores exactly."""
    t1 = _mk_term_blocks(1, {100: 1, 700: 1})            # eg, group 0
    t2 = _mk_term_blocks(3, {d: 1 for d in range(600, 1000)})  # group 2
    t3 = _mk_term_blocks(2, {d: 1 for d in range(0, 1000)})    # group 1
    pdf = pd.concat([t1, t2, t3], ignore_index=True)
    cmap = {1: [(0, 1.0)], 2: [(1, 1.0)], 3: [(2, 1.0)]}
    params = (cmap, 3, 5, 0, 10_000, 1, 4, 0)
    out = kernel_core(pdf, params, None)
    sent = out[out["doc_id"] < 0]
    hits = out[out["doc_id"] >= 0]
    assert [int(d) for d in hits["doc_id"]] == [700]
    assert np.allclose(hits["score"], 3 * _bm25(1))
    # group 2 (4 blocks): 1 decoded, 3 range-skipped; group 1
    # (8 blocks): refinement leaves only doc 700 -> 1 decoded,
    # 7 skipped (without refinement the block holding doc 100 would
    # decode too)
    assert int(sent["n_skipped"].iloc[0]) == 10
    # conjunction skips drop only provably non-matching docs: exact
    assert int(sent["n_hits"].sum()) == 1


def test_conjunctive_dynamic_theta_skips_and_rank_identity():
    """Cursor-style dynamic floor for conjunctions (VERDICT r2 #9): the
    LAST group's blocks decode in upper-bound order; once n_top docs
    have completed the conjunction, blocks whose best prior partial +
    own bound cannot reach the floor are skipped WITHOUT decoding —
    and the top-n stays exactly the brute-force conjunctive ranking."""
    # essential group: 10 docs spread across the last group's 10 blocks
    eg_docs = {d: 5 for d in range(0, 1280, 128)}
    t1 = _mk_term_blocks(1, eg_docs)
    # last group: 1280 docs; doc 0 high-tf (dominant block), rest tf=1
    big = {d: 1 for d in range(1280)}
    big[0] = 50
    t2 = _mk_term_blocks(2, big)
    pdf = pd.concat([t1, t2], ignore_index=True)
    assert (pdf["term_id"] == 2).sum() == 10
    cmap = {1: [(0, 1.0)], 2: [(1, 1.0)]}
    params = (cmap, 2, 1, 0, 10_000, 1, 4, 0)
    out = kernel_core(pdf, params, None)
    sent = out[out["doc_id"] < 0]
    hits = out[out["doc_id"] >= 0]
    # doc 0 dominates; after its block completes it, the other 9 blocks
    # of term 2 (every one containing a live candidate, so range
    # pruning alone cannot skip them) are theta-skipped
    assert [int(d) for d in hits["doc_id"]] == [0]
    assert np.allclose(hits["score"], _bm25(5) + _bm25(50))
    assert int(sent["n_skipped"].iloc[0]) == 9
    assert int(sent["n_lossy"].iloc[0]) == 9   # totals now a lower bound

    # exactness under a random profile: top-3 must equal brute force
    rng = np.random.default_rng(11)
    eg2 = {int(d): int(t) for d, t in zip(
        range(0, 1280, 16), rng.integers(1, 20, size=80))}
    t1b = _mk_term_blocks(1, eg2)
    big2 = {int(d): int(t) for d, t in enumerate(
        rng.integers(1, 20, size=1280))}
    t2b = _mk_term_blocks(2, big2)
    out2 = kernel_core(pd.concat([t1b, t2b], ignore_index=True),
                       (cmap, 2, 3, 0, 10_000, 1, 4, 0), None)
    hits2 = out2[out2["doc_id"] >= 0]
    both = sorted(eg2, key=lambda d: (-(_bm25(eg2[d]) + _bm25(big2[d])), d))
    exp = both[:3]
    assert [int(d) for d in hits2["doc_id"]] == exp
    assert np.allclose(
        hits2["score"],
        [_bm25(eg2[d]) + _bm25(big2[d]) for d in exp], atol=1e-12)


def test_kernel_property_random_vs_bruteforce():
    """Property test over the WHOLE kernel surface: random group
    structures, tf profiles, top-n sizes and tombstone sets — the
    kernel (range pruning + progressive refinement + single-group AND
    conjunctive dynamic theta + dead mask) must always equal brute-force
    BM25 with conjunction semantics."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    doc_tf_s = st.dictionaries(st.integers(0, 1500), st.integers(1, 30),
                               min_size=1, max_size=250)

    @settings(max_examples=30, deadline=None)
    @given(st.data())
    def run(data):
        ngroups = data.draw(st.integers(1, 3))
        n_top = data.draw(st.integers(1, 8))
        groups = [data.draw(doc_tf_s) for _ in range(ngroups)]
        dead = data.draw(st.sets(st.integers(0, 1500), max_size=40))
        frames, cmap = [], {}
        for g, doc_tf in enumerate(groups):
            frames.append(_mk_term_blocks(g + 1, doc_tf))
            cmap[g + 1] = [(g, 1.0)]
        # engine-side parameter derivation (search._topk_blocks)
        gpost = {g: len(groups[g]) for g in range(ngroups)}
        eg = min(gpost, key=lambda g: (gpost[g], g))
        gm = 1 << max(ngroups.bit_length(), 1)
        params = (cmap, ngroups, n_top, 0, 10_000, 1, gm, eg)
        dead_l = np.array(sorted(dead), dtype=np.int64)
        out = kernel_core(pd.concat(frames, ignore_index=True), params,
                          dead_l if len(dead_l) else None)
        # the kernel emits the shard-local top-n UNSORTED; the driver
        # merge applies the (score desc, doc asc) order — do the same
        hits = (out[out["doc_id"] >= 0]
                .sort_values(["score", "doc_id"],
                             ascending=[False, True]))
        # brute force: conjunction over live docs
        common = set(groups[0])
        for g in groups[1:]:
            common &= set(g)
        common -= dead
        exp = sorted(common,
                     key=lambda d: (-sum(_bm25(g[d]) for g in groups), d))
        exp = exp[:n_top]
        assert [int(d) for d in hits["doc_id"]] == exp
        assert np.allclose(
            hits["score"],
            [sum(_bm25(g[d]) for g in groups) for d in exp], atol=1e-9)

    run()


def test_conjunctive_floor_multi_term_last_group_exact():
    """Regression (round-3 review): the conjunctive dynamic floor must
    allow for contributions a doc can still receive from the last
    group's OTHER terms. With the old one-block bound, doc 200 — the
    true conjunctive top-1 (t1:tf4 + t2:tf1 + t3:tf49) — was skipped
    as provably-missing after t2's high block filled the floor, and
    the kernel returned doc 0 instead."""
    t1 = {d: 5 for d in range(5)}
    t1[200] = 4
    t2 = {d: 50 for d in range(128)}
    t2.update({d: 1 for d in range(128, 300)})
    t3 = {200: 49}
    pdf = pd.concat([_mk_blocks(t1, tid=1), _mk_blocks(t2, tid=2),
                     _mk_blocks(t3, tid=3)], ignore_index=True)
    cmap = {1: [(0, 1.0)], 2: [(1, 1.0)], 3: [(1, 1.0)]}
    params = (cmap, 2, 1, 0, 10_000, 1, 4, 0)
    out = kernel_core(pdf, params, None)
    hits = out[out["doc_id"] >= 0]
    assert [int(d) for d in hits["doc_id"]] == [200]
    assert np.allclose(hits["score"].iloc[0],
                       _bm25(4) + _bm25(1) + _bm25(49), atol=1e-9)
