"""The fused phrase kernel (VERDICT r4 #2): phrase adjacency, MUST_NOT
exclusion and banned-term doc sets all decode INSIDE the sharded block
kernel — no separate Python stages, no allowlist aggregation job, no
postings-row scan. Rank identity itself is pinned by
tests/test_engine.py; these tests pin (a) that the kernel path really
executes for phrase queries in blocks mode (the df-agg fallback would
return blocks_stats=None), (b) the prepass semantics on synthetic
blocks, and (c) the forced-distributed fused path."""

import numpy as np
import pandas as pd

from mias_spark import blocks as blk
from mias_spark.search import Engine, _phrase_prepass, kernel_core
from mias_spec import oracle as O


def _mk(tid, doc_pos: dict[int, list[int]], dl=10, salt=0):
    """One term's packed blocks from {doc: positions} (tf=len(pos))."""
    docs = np.array(sorted(doc_pos), dtype=np.int64)
    g = pd.DataFrame({
        "term_id": np.full(len(docs), tid, np.int64),
        "salt": np.full(len(docs), salt, np.int64),
        "doc_id": docs,
        "tf": np.array([len(doc_pos[d]) for d in docs], np.int64),
        "dl": np.full(len(docs), dl, np.int64),
        "wsum": np.array([float(len(doc_pos[d])) for d in docs]),
        "idf": np.full(len(docs), 2.0),
        "avgdl": np.full(len(docs), 10.0),
        "positions": [sorted(doc_pos[d]) for d in docs],
    })
    out = blk._pack_frame(g)
    out["shard"] = 0
    return out


def test_prepass_adjacency_and_bans():
    # term 1 at pos p, term 2 must appear at p+1
    t1 = _mk(1, {5: [3, 9], 6: [1], 7: [4]})
    t2 = _mk(2, {5: [4, 20], 6: [5], 7: [5], 8: [0]})
    t9 = _mk(9, {7: [0], 50: [2]})           # banned term
    pdf = pd.concat([t1, t2, t9], ignore_index=True)
    phr = {
        "must": [(0, (1, 2), 3.0, 10.0, 1.0, 1.0)],
        "mustnot": [],
        "banned_set": frozenset({9}),
        "ptids": frozenset({1, 2}),
        "n_pg": 1,
    }
    dead, allow, aps = _phrase_prepass(pdf, phr, None, 0, 10_000, 1, 4)
    # doc 5: 3->4 adjacent (ptf 1); doc 7: 4->5 adjacent but BANNED;
    # doc 6: 1 then 5 — not adjacent
    assert sorted(dead.tolist()) == [7, 50]
    assert allow.tolist() == [5]
    ptf = 1.0
    exp = 3.0 * ptf * 2.2 / (ptf + 1.2 * (0.25 + 0.75 * 10.0 / 10.0))
    assert np.allclose(aps, [exp])


def test_prepass_mustnot_phrase_and_multigroup():
    t1 = _mk(1, {5: [3], 6: [1]})
    t2 = _mk(2, {5: [4], 6: [2]})
    t3 = _mk(3, {5: [7], 6: [9]})     # second phrase group, single term
    pdf = pd.concat([t1, t2, t3], ignore_index=True)
    phr = {
        "must": [(0, (3,), 1.0, 10.0, 1.0, 1.0)],
        "mustnot": [(1, 2)],          # "t1 t2" adjacency bans the doc
        "banned_set": frozenset(),
        "ptids": frozenset({1, 2, 3}),
        "n_pg": 1,
    }
    dead, allow, aps = _phrase_prepass(pdf, phr, None, 0, 10_000, 1, 4)
    assert dead.tolist() == [5, 6]    # both docs match "t1 t2"
    assert allow.tolist() == []       # all group-0 matches are dead


def test_prepass_shard_mask():
    """A block spanning two shards contributes each doc exactly once."""
    t1 = _mk(1, {d: [1] for d in range(0, 100)})
    t2 = _mk(2, {d: [2] for d in range(0, 100)})
    phr = {
        "must": [(0, (1, 2), 1.0, 10.0, 1.0, 1.0)],
        "mustnot": [], "banned_set": frozenset(),
        "ptids": frozenset({1, 2}), "n_pg": 1,
    }
    lo, span, ns = 0, 100, 2
    pdf = pd.concat([t1, t2], ignore_index=True)
    got = []
    for shard in (0, 1):
        p = pdf.copy()
        p["shard"] = shard
        _d, allow, _s = _phrase_prepass(p, phr, None, lo, span, ns, 4)
        got.extend(allow.tolist())
    assert sorted(got) == list(range(100))


def test_phrase_only_runs_block_kernel(spark, tiny_build):
    """Phrase-only + mixed queries in blocks mode execute the KERNEL
    (blocks_stats is per-call kernel evidence; the round-4 df-agg
    fallback returned None), and stay rank-identical to the oracle."""
    c, cat, oidx, ix = tiny_build
    eng = Engine(spark, ix)
    for q in ['"items total"', 'partition "items total"',
              '"items total" -"partition weight"', 'energy -momentum',
              '"weight return total"']:
        got = eng.search(q, k=10, mode="blocks", with_fields=False)
        assert got.blocks_stats is not None, q
        exp = O.search(oidx, q, "BOTH", 10)
        assert [int(d) for d in got.hits["doc_id"]] == \
            [int(d) for d in exp["doc_id"]], q
        assert np.allclose(got.hits["score"].astype(float),
                           exp["score"].astype(float), atol=1e-6), q
        assert got.total_hits_relation == "eq", q


def test_fused_distributed_matches_local(spark, tiny_build, monkeypatch):
    """Force the distributed fused path (shard explode + mapInPandas)
    and compare against the driver fast path on the same queries."""
    c, cat, oidx, ix = tiny_build
    import mias_spark.search as S
    queries = ['partition "items total"', '"items total" -momentum',
               'energy -momentum']
    base = {}
    eng = Engine(spark, ix)
    for q in queries:
        base[q] = eng.search(q, k=10, mode="blocks", with_fields=False)
    monkeypatch.setattr(S, "_SHARD_POSTINGS", 8)  # force many shards
    eng2 = Engine(spark, ix)
    for q in queries:
        got = eng2.search(q, k=10, mode="blocks", with_fields=False)
        assert got.blocks_stats["n_shards"] > 1, q
        assert [int(d) for d in got.hits["doc_id"]] == \
            [int(d) for d in base[q].hits["doc_id"]], q
        assert np.allclose(got.hits["score"].astype(float),
                           base[q].hits["score"].astype(float),
                           atol=1e-9), q
        assert got.total_hits == base[q].total_hits, q


def test_fused_kernel_empty_phrase_group():
    """A MUST phrase whose terms never co-occur yields zero hits (and
    the sentinel still reports the shard cleanly)."""
    t1 = _mk(1, {5: [3]})
    t2 = _mk(2, {6: [4]})
    pdf = pd.concat([t1, t2], ignore_index=True)
    phr = {
        "must": [(0, (1, 2), 1.0, 10.0, 1.0, 1.0)],
        "mustnot": [], "banned_set": frozenset(),
        "ptids": frozenset({1, 2}), "n_pg": 1,
    }
    params = ({}, 0, 10, 0, 10_000, 1, 4, -1, phr)
    out = kernel_core(pdf, params, None)
    assert len(out) == 1 and int(out["doc_id"].iloc[0]) == -1
    assert int(out["n_hits"].iloc[0]) == 0


def test_prepass_salted_multiblock_term():
    """A skewed phrase term arrives as MULTIPLE blocks (several salt
    groups, each spanning >BLOCK_SIZE docs, delivered out of doc
    order like a base+delta segment mix): the prepass must stitch the
    per-block position runs back into doc order before adjacency.
    Every doc holds 'A B' adjacent except the probes."""
    n = 300  # > 2 * BLOCK_SIZE(128) per salt group
    a_lo = {d: [7] for d in range(0, n)}
    a_hi = {d: [7] for d in range(2_000_000, 2_000_000 + n)}
    b_lo = {d: [8] for d in range(0, n)}
    b_hi = {d: [8] for d in range(2_000_000, 2_000_000 + n)}
    # probes: doc 5 loses adjacency, doc 2_000_001 loses term B
    a_lo[5] = [7]
    b_lo[5] = [9]
    del b_hi[2_000_001]
    # deliver high-salt blocks FIRST (unsorted across parts)
    pdf = pd.concat([_mk(1, a_hi, salt=1), _mk(1, a_lo, salt=0),
                     _mk(2, b_hi, salt=1), _mk(2, b_lo, salt=0)],
                    ignore_index=True)
    phr = {
        "must": [(0, (1, 2), 1.0, 10.0, 1.0, 1.0)],
        "mustnot": [], "banned_set": frozenset(),
        "ptids": frozenset({1, 2}), "n_pg": 1,
    }
    _d, allow, _s = _phrase_prepass(pdf, phr, None, 0, 3_000_000, 1, 4)
    exp = sorted(set(range(0, n)) - {5}
                 | (set(range(2_000_000, 2_000_000 + n))
                    - {2_000_001}))
    assert allow.tolist() == exp


def test_phrase_after_upsert_rank_identity(spark, tmp_path):
    """Phrase positions spread across base + delta segments after an
    upsert (replaced docs tombstoned, new docs in fresh pos_bytes
    blocks): the fused blocks kernel must stay rank-identical to the
    df plan's postings-row surface, and the replaced doc's OLD
    positions must not resurrect it."""
    from mias_spark.build import build_index
    from mias_spark.ops import upsert
    from mias_spec import corpus

    c = corpus.make_corpus(80)
    ix = str(tmp_path / "ixphup")
    build_index(spark, spark.createDataFrame(c), ix, n_buckets=2)
    eng0 = Engine(spark, ix)
    before = eng0.search('"items total"', k=50, mode="blocks",
                         with_fields=True)
    assert len(before.hits), "fixture should match the phrase"
    # replace the top phrase hit with content that BREAKS the phrase
    # (both words present, never adjacent), and add two new docs with
    # strong phrase matches that must outrank everything
    top_path = before.hits["path"].iloc[0]
    changed = c[c["path"] == top_path].copy()
    changed["content"] = ["<html><body><p>items alpha total items "
                          "beta total</p></body></html>"]
    extra = corpus.make_corpus(82).iloc[80:82].copy()
    extra["content"] = [
        "<html><body><p>items total items total items total"
        "</p></body></html>",
        "<html><body><p>items total items total</p></body></html>"]
    delta = pd.concat([changed, extra], ignore_index=True)
    upsert(spark, ix, spark.createDataFrame(delta))

    eng = Engine(spark, ix)
    got_b = eng.search('"items total"', k=50, mode="blocks",
                       with_fields=True)
    got_d = eng.search('"items total"', k=50, mode="df",
                       with_fields=True)
    assert [int(x) for x in got_b.hits["doc_id"]] == \
        [int(x) for x in got_d.hits["doc_id"]]
    assert np.allclose(got_b.hits["score"].astype(float),
                       got_d.hits["score"].astype(float), atol=1e-9)
    assert got_b.total_hits == got_d.total_hits
    # the replaced doc no longer matches; the new docs lead
    assert top_path not in set(got_b.hits["path"])
    new_paths = set(extra["path"])
    assert set(got_b.hits["path"].iloc[:2]) == new_paths
