"""Round-5 seams: the duck-typed doc_store KV binding (display fetches
as point lookups, zero Spark jobs), the driver-side pyarrow reads that
keep a small query off Spark, and the staleness-based dictionary fold
(VERDICT r4 #7/#8)."""

import time

import pandas as pd
import pytest

from mias_spark.search import DISPLAY_COLS, Engine
from mias_spec import corpus


class DictKV:
    """Dict-backed doc-store binding — the unit-test stand-in for a
    RocksDB/Cassandra point-lookup store."""

    def __init__(self, pdf: pd.DataFrame):
        self.pdf = pdf
        self.calls: list[list[int]] = []

    def get_many(self, ids):
        self.calls.append([int(i) for i in ids])
        return self.pdf[self.pdf["doc_id"].isin(ids)].copy()


def test_doc_kv_display_fetch_zero_spark(spark, tiny_build, monkeypatch):
    """With a KV binding, the display fetch never touches Spark (the
    Spark point read would call _display_frame) and produces the same
    fields + snippets as the default binding, the pyarrow point read
    of the doc_store's dseg partitions."""
    c, cat, oidx, ix = tiny_build
    store = (cat.read("doc_store")
             .select("doc_id", "id", "repo", "path", "title",
                     "content", "lang").toPandas())
    kv = DictKV(store)
    eng = Engine(spark, ix, doc_kv=kv)

    def boom(self, ids):
        raise AssertionError("display fetch touched the Spark path")

    monkeypatch.setattr(Engine, "_display_frame", boom)
    r = eng.search("energy", k=5, snippets=True)
    assert kv.calls, "KV binding was never consulted"
    assert sorted(kv.calls[0]) == sorted(int(d) for d in r.hits["doc_id"])
    assert r.hits["path"].notna().all()
    # some hits legitimately snippet to "" (title-only matches); the
    # parity check below pins byte-equality with the parquet path
    assert r.hits["snippet"].notna().all()
    assert (r.hits["snippet"].str.len() > 0).any()
    monkeypatch.undo()
    r2 = Engine(spark, ix).search("energy", k=5, snippets=True)
    for col in DISPLAY_COLS + ["snippet"]:
        assert list(r.hits[col]) == list(r2.hits[col]), col


_SHAPES = ["energy", "electron quantum", '"items total"',
           "energy -momentum", corpus.render_math(corpus.EXACT_AST)]
_OUTPUTS = {"hits": {"with_fields": False}, "fields": {},
            "snippets": {"snippets": True}}


def _store(spark, ix):
    from mias_spark.catalog import Catalog
    return (Catalog(spark, ix).read("doc_store")
            .select(*DISPLAY_COLS, "content", "lang").toPandas())


def _same(a, b, what):
    pd.testing.assert_frame_equal(a.hits, b.hits, check_exact=True,
                                  obj=str(what))
    assert (a.total_hits, a.total_hits_relation) == \
        (b.total_hits, b.total_hits_relation), what


@pytest.mark.parametrize("which", ["clean", "tombstoned"])
def test_fast_path_zero_spark_jobs_and_parity(spark, tiny_build, tomb_ix,
                                              jobs_of, which, monkeypatch):
    """On the parquet binding a query that fits one kernel shard runs
    ZERO Spark jobs: dictionary terms, tombstones, block rows and the
    display docs are all read driver-side with pyarrow, and snippets
    are made driver-side. Cold and warm (cache=True, including its
    prepared-plan hits), for hits only, fields and snippets, on a clean
    and a tombstoned index. The warm Engine's second pass serves block
    rows from its row memo (memo_terms > 0; a cold Engine reports 0)
    with the cold Engine's exact output. The output equals column for
    column the DictKV seam's and the Spark fallback's (every arrow
    dataset handle refused: the same rows collected by Spark jobs)."""
    ix = tiny_build[3] if which == "clean" else tomb_ix[0]
    cold = Engine(spark, ix)
    warm = Engine(spark, ix, cache=True)
    got = {}
    try:
        for eng, runs in ((cold, 1), (warm, 2)):
            for q in _SHAPES:
                for out, kw in _OUTPUTS.items():
                    for i in range(runs):
                        r, n_jobs = jobs_of(
                            lambda: eng.search(q, k=10, **kw))
                        assert n_jobs == 0, (q, out)
                        assert r.blocks_stats["path"] == "fast", (q, out)
                        assert r.blocks_stats["read"] == "arrow", (q, out)
                        memo = r.blocks_stats["memo_terms"]
                        if eng is cold:
                            assert memo == 0, (q, out)
                        elif i:
                            assert memo > 0, (q, out)
                        assert len(r.hits), (q, out)
                        if (q, out) in got:
                            _same(r, got[(q, out)], (q, out))
                        got[(q, out)] = r
    finally:
        warm.close()
    snip = got[(_SHAPES[0], "snippets")].hits["snippet"]
    assert (snip.str.len() > 0).any()
    kv = Engine(spark, ix, doc_kv=DictKV(_store(spark, ix)))
    for q in _SHAPES:
        for out in ("fields", "snippets"):
            _same(kv.search(q, k=10, **_OUTPUTS[out]), got[(q, out)],
                  ("kv", q, out))
    monkeypatch.setattr(Engine, "_dset", lambda self, name: None)
    fallback = Engine(spark, ix)
    for q in _SHAPES:
        for out, kw in _OUTPUTS.items():
            r = fallback.search(q, k=10, **kw)
            assert r.blocks_stats["path"] == "fast", (q, out)
            assert r.blocks_stats["read"] == "spark", (q, out)
            _same(r, got[(q, out)], ("spark", q, out))


def test_row_memo_lru_under_cap(spark, tiny_build, monkeypatch):
    """The row memo is one least-recently-used map bounded by its byte
    total: an entry that passes the cap evicts the oldest entries first
    (an entry larger than the cap is not kept). A cached Engine whose
    memo holds exactly one query's rows serves that query from it, has
    it evicted by other queries' rows, never holds more than the cap,
    and returns a cold Engine's exact output throughout."""
    import mias_spark.search as S
    m = S._RowMemo(10)
    m.put("a", 1, 4)
    m.put("b", 2, 4)
    assert m.get("a") == 1                 # a is now the most recent
    m.put("c", 3, 4)                       # 12 > 10: b goes, not a
    assert (m.get("b"), m.get("a"), m.get("c"), m.nbytes) == \
        (None, 1, 3, 8)
    m.put("d", 4, 11)                      # larger than the cap
    assert (m.get("a"), m.get("d"), m.nbytes) == (None, None, 0)

    ix = tiny_build[3]
    cold = Engine(spark, ix)
    want = {q: cold.search(q, k=10) for q in _SHAPES}
    probe = Engine(spark, ix, cache=True)
    probe.search(_SHAPES[0], k=10)
    cap = probe._rows.nbytes               # the first shape's rows
    probe.close()
    monkeypatch.setattr(S, "_MEMO_BYTES", cap)
    eng = Engine(spark, ix, cache=True)
    try:
        seen = []
        for q in [_SHAPES[0], _SHAPES[0]] + _SHAPES[1:] + [_SHAPES[0]]:
            r = eng.search(q, k=10)
            _same(r, want[q], q)
            assert 0 < eng._rows.nbytes <= cap, q
            seen.append(r.blocks_stats["memo_terms"])
        assert seen[0] == 0 and seen[1] > 0
        assert seen[-1] == 0               # evicted by the other shapes
    finally:
        eng.close()


def test_dictionary_fold_on_staleness(spark, tmp_path):
    """A dictionary hovering below the segment-count threshold folds
    once its oldest delta is stale — after which lookups take the
    one-stage (dict_segments == 0) path and the merged df values are
    preserved."""
    from pyspark.sql import functions as F

    from mias_spark.build import build_index
    from mias_spark.ops import maybe_fold_dictionary, upsert
    from mias_spec.corpus import make_corpus

    ix = str(tmp_path / "ix_fold")
    c = make_corpus(40)
    build_index(spark, spark.createDataFrame(c.iloc[:35]), ix,
                n_buckets=2)
    upsert(spark, ix, spark.createDataFrame(c.iloc[35:]))
    from mias_spark.catalog import Catalog
    cat = Catalog(spark, ix)
    assert int(cat.props()["dict_segments"]) == 1
    before = {(r["field"], r["term"]): int(r["df"])
              for r in cat.read_dictionary().where(F.col("df") > 0)
              .collect()}
    # fresh delta: neither count nor staleness triggers
    assert maybe_fold_dictionary(cat) is False
    assert int(cat.props()["dict_segments"]) == 1
    # age the clock past the window -> fold despite 1 segment
    cat.set_props(dict_first_delta_ts=time.time() - 100_000)
    assert maybe_fold_dictionary(cat) is True
    assert int(cat.props()["dict_segments"]) == 0
    assert cat.props().get("dict_first_delta_ts") is None
    dic = cat.read("dictionary").toPandas()
    assert not dic.duplicated(["field", "term"]).any()
    after = {(r.field, r.term): int(r.df) for r in dic.itertuples()}
    assert after == before
    # post-fold lookups (one-stage path) still resolve every term
    eng = Engine(spark, ix)
    res = eng.search("energy", k=5, with_fields=False)
    assert len(res.hits) > 0


def test_dictionary_fold_noop_when_clean(spark, tiny_build):
    from mias_spark.ops import maybe_fold_dictionary
    c, cat, oidx, ix = tiny_build
    assert int(cat.props().get("dict_segments", 0)) == 0
    assert maybe_fold_dictionary(cat, staleness_s=0) is False
