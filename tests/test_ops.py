"""Index maintenance: upsert (B6), delete (S6), annotate (S10) — checked
by rebuilding the oracle over the logically-equivalent corpus."""

import numpy as np
import pandas as pd
import pytest

from mias_spark.build import build_index, index_stats
from mias_spark.ops import annotate_mterms, delete_by_path, upsert
from mias_spark.search import Engine
from mias_spec import corpus, oracle


@pytest.fixture(scope="module")
def small_ix(spark, tmp_path_factory):
    c = corpus.make_corpus(80)
    ix = str(tmp_path_factory.mktemp("ops") / "ix80")
    build_index(spark, spark.createDataFrame(c), ix, n_buckets=2)
    return c, ix


def _check_query(spark, ix, c_expected, query="energy", k=10):
    """Engine over the maintained index == oracle over the equivalent
    fresh corpus (doc identity via doc_key since ids diverge)."""
    eng = Engine(spark, ix)
    got = eng.search(query, k=k, with_fields=True).hits
    oidx = oracle.build_index(c_expected)
    exp = oracle.search(oidx, query, k=k)
    exp_keys = oidx.docs.set_index("doc_id").loc[exp.doc_id, "doc_key"].tolist()
    got_keys = (got["id"].where(got["id"].str.len() == 64)).tolist() \
        if len(got) else []
    # ids may be arXiv-overridden; join via doc_store instead
    store = eng.cat.read("doc_store").select("doc_id", "doc_key").toPandas()
    got_keys = got.merge(store, on="doc_id")["doc_key"].tolist()
    assert got_keys == exp_keys
    assert np.allclose(got["score"].astype(float),
                       exp["score"].astype(float), atol=1e-6)


def test_upsert_replaces_and_adds(spark, small_ix, tmp_path):
    c, ix = small_ix
    # modified version of doc 0 (same repo/path/commit => same doc_key)
    changed = c.iloc[[0]].copy()
    changed["content"] = ["<html><body><p>energy energy energy data</p>"
                          "</body></html>"]
    extra = corpus.make_corpus(90).iloc[80:90]  # 10 brand-new docs
    delta = pd.concat([changed, extra], ignore_index=True)
    res = upsert(spark, ix, spark.createDataFrame(delta))
    assert res == {"added": 11, "replaced": 1}
    expected = pd.concat([c.iloc[1:], delta], ignore_index=True)
    _check_query(spark, ix, expected)


def test_delete_by_path(spark, small_ix):
    c, ix = small_ix
    eng = Engine(spark, ix)
    store = eng.cat.read("doc_store").toPandas()
    victim_prefix = "src/dir3/"
    n = delete_by_path(spark, ix, victim_prefix)
    assert n == (store["path"].str.startswith(victim_prefix)).sum() > 0
    # NOTE: runs after upsert test (module-scoped ix): expected corpus =
    # upserted corpus minus deleted paths
    changed = c.iloc[[0]].copy()
    changed["content"] = ["<html><body><p>energy energy energy data</p>"
                          "</body></html>"]
    extra = corpus.make_corpus(90).iloc[80:90]
    expected = pd.concat([c.iloc[1:], changed, extra], ignore_index=True)
    expected = expected[~expected["path"].str.startswith(victim_prefix)]
    _check_query(spark, ix, expected)


def test_annotate(spark):
    from pyspark.sql import functions as F
    c = corpus.make_corpus(20)
    docs = spark.createDataFrame(c).withColumn(
        "doc_id", F.monotonically_increasing_id())
    ann = annotate_mterms(docs).toPandas()
    assert len(ann) > 0
    assert {"doc_id", "math_idx", "mterm", "weight"} == set(ann.columns)
    assert (ann["weight"] > 0).all()
    # every xhtml doc with formulae got annotations
    n_math_docs = (c["lang"] == "xhtml").sum()
    assert ann["doc_id"].nunique() == n_math_docs


def test_formula_documents(spark, tiny_build):
    """P7 FORMULA_DOCUMENTS granularity: one corpus row per <math>
    element, id = path#fN, content wraps exactly that formula."""
    from mias_spark.ops import explode_formula_docs
    from mias_spec import corpus as C
    c = spark.createDataFrame(C.make_corpus(60))
    fd = explode_formula_docs(c).toPandas()
    # every xhtml doc contributed each of its <math> elements
    import re
    exp = sum(len(re.findall(r"<math\b", r.content))
              for r in C.make_corpus(60).itertuples())
    assert len(fd) == exp
    assert all("#f" in p for p in fd["path"])
    assert all(r.count("<math") == 1 for r in fd["content"])


def test_formula_doc_index_and_search(spark, tmp_path):
    """A formula-granularity index finds the exact-formula doc as the
    top hit for the exact math query."""
    from mias_spark.build import build_index
    from mias_spark.ops import explode_formula_docs
    from mias_spark.search import Engine
    from mias_spec.corpus import EXACT_AST, make_corpus, render_math
    c = spark.createDataFrame(make_corpus(80))
    fd = explode_formula_docs(c)
    ix = str(tmp_path / "ixf")
    build_index(spark, fd, ix, n_buckets=2)
    eng = Engine(spark, ix)
    res = eng.search(render_math(EXACT_AST), k=5, with_fields=True)
    assert len(res.hits) > 0
    # top hit is a formula-doc from an exact-family parent (i % 37 == 0)
    top_path = res.hits["path"].iloc[0]
    base = top_path.split("#f")[0]
    parents = {r.path: i for i, r in enumerate(make_corpus(80).itertuples())}
    assert parents[base] % 37 == 0


def test_search_snippets_and_explain(spark, tiny_build):
    """Q11 snippets (math fragment highlighted, text terms bolded) and
    Q12 explain (per-clause BM25 breakdown)."""
    from mias_spark.search import Engine
    from mias_spec.corpus import EXACT_AST, render_math
    c, cat, oidx, ix = tiny_build
    eng = Engine(spark, ix)
    q = "einstein " + render_math(EXACT_AST)
    res = eng.search(q, k=5, snippets=True, debug=True)
    assert len(res.hits) > 0
    snips = list(res.hits["snippet"])
    # every hit matched a math term -> a highlighted math fragment
    assert any("math-hit" in s for s in snips)
    # at least one hit matched einstein in the BODY (title-only matches
    # legitimately yield no text fragment)
    assert any("<b>einstein</b>" in s for s in snips)
    exps = list(res.hits["explain"])
    assert all("idf=" in e and "tf=" in e for e in exps)
    # explain covers both the text group and a math group clause
    assert any("einstein" in e for e in exps)
    assert any("pmath:" in e or "cmath:" in e for e in exps)


def _file_set(path):
    import os
    out = set()
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                out.add(os.path.join(root, f))
    return out


def _posting_doc_ids(cat) -> set:
    """Doc ids holding at least one posting, decoded from the blocks."""
    from mias_spark import blocks as blk
    return {r[0] for r in blk.decoded_postings(cat.read("blocks"), ())
            .select("doc_id").distinct().collect()}


def _assert_stats_match_fresh(cat, live: pd.DataFrame) -> None:
    """The maintained merged dictionary df and per-field stats equal
    those of a fresh oracle index over the live corpus."""
    from pyspark.sql import functions as F
    oidx = oracle.build_index(live.reset_index(drop=True))
    truth = {(r.field, r.term): int(r.df)
             for r in oidx.dictionary.itertuples()}
    merged = {(r["field"], r["term"]): int(r["df"]) for r in
              cat.read_dictionary().where(F.col("df") != 0).collect()}
    assert merged == truth
    fs = cat.props()["field_stats"]
    assert set(fs) == set(oidx.field_stats)
    for f, st in oidx.field_stats.items():
        assert fs[f]["n_docs"] == st["n_docs"], f
        assert abs(fs[f]["avgdl"] - st["avgdl"]) < 1e-9, f


def test_delete_is_metadata_only_and_optimize_purges(spark, tmp_path):
    """Segment model: delete moves NO posting data (tombstone +
    stats refresh only); optimize purges tombstoned docs and restores a
    clean single-segment layout — results stay oracle-identical
    throughout."""
    from mias_spark.ops import delete_by_path, optimize
    c = corpus.make_corpus(70)
    ix = str(tmp_path / "ixseg")
    build_index(spark, spark.createDataFrame(c), ix, n_buckets=2)
    eng = Engine(spark, ix)
    before_blocks = _file_set(eng.cat.path("blocks"))
    n = delete_by_path(spark, ix, "src/dir2/")
    assert n > 0
    # no block files rewritten or removed
    assert _file_set(eng.cat.path("blocks")) == before_blocks
    expected = c[~c["path"].str.startswith("src/dir2/")]
    _check_query(spark, ix, expected)
    _check_query(spark, ix, expected,
                 query=corpus.render_math(corpus.EXACT_AST))
    # blocks mode honors tombstones too
    eng2 = Engine(spark, ix)
    got = eng2.search("energy", k=10, mode="blocks", with_fields=False).hits
    oidx = oracle.build_index(expected.reset_index(drop=True))
    exp = oracle.search(oidx, "energy", k=10)
    assert np.allclose(got["score"].astype(float),
                       exp["score"].astype(float), atol=1e-6)
    # optimize: purge + compact; tombstones gone, results identical
    out = optimize(spark, ix)
    assert out["purged_docs"] == n
    eng3 = Engine(spark, ix)
    assert eng3.cat.tombstones() is None
    store_ids = {r["doc_id"] for r in
                 eng3.cat.read("doc_store").select("doc_id").collect()}
    post_ids = _posting_doc_ids(eng3.cat)
    assert post_ids <= store_ids
    _check_query(spark, ix, expected)


def test_upsert_appends_segments(spark, tmp_path):
    """Upsert never rewrites existing posting segments — it appends."""
    c = corpus.make_corpus(60)
    ix = str(tmp_path / "ixapp")
    build_index(spark, spark.createDataFrame(c), ix, n_buckets=2)
    eng = Engine(spark, ix)
    before = _file_set(eng.cat.path("blocks"))
    extra = corpus.make_corpus(70).iloc[60:70]
    upsert(spark, ix, spark.createDataFrame(extra))
    after = _file_set(eng.cat.path("blocks"))
    assert before <= after and len(after) > len(before)
    expected = pd.concat([c, extra], ignore_index=True)
    _check_query(spark, ix, expected)


def test_auto_compaction_trigger(spark, tmp_path):
    """Merge-policy: a delete pushing tombstones past the ratio starts
    a BOUNDED compaction epoch — every step rewrites at most a bucket
    slice (never the whole postings table), repeated triggers converge
    to one clean segment per bucket with tombstones retired, and
    results stay oracle-identical throughout. Small deletes stay
    metadata-only."""
    from mias_spark.ops import compact_step, delete_by_path
    c = corpus.make_corpus(60)
    ix = str(tmp_path / "ixauto")
    build_index(spark, spark.createDataFrame(c), ix, n_buckets=2)
    eng = Engine(spark, ix)
    # src/dir0..dir10 each hold ~5-6 of 60 docs (~9%) -> no compaction
    n1 = delete_by_path(spark, ix, "src/dir5/")
    assert n1 > 0
    assert Engine(spark, ix).cat.tombstones() is not None
    # delete several more prefixes to cross the 25% ratio
    for p in ("src/dir1/", "src/dir2/", "src/dir3/"):
        delete_by_path(spark, ix, p)
    cat2 = Engine(spark, ix).cat
    steps = [x for x in cat2.manifest()["metrics"]
             if x["stage"] == "compact_step"]
    # bounded steps fired; the full synchronous optimize never did
    assert steps
    assert not any(x["stage"] == "optimize"
                   for x in cat2.manifest()["metrics"])
    n_buckets = cat2.props()["n_buckets"]
    assert all(len(x["buckets"]) <= max(1, n_buckets // 4)
               for x in steps)
    # drive the epoch to convergence out-of-band (the maintenance-job
    # API a deployment schedules off the write path)
    from mias_spark.ops import compact_until_clean
    assert compact_until_clean(spark, ix)["state"] == "clean"
    cat3 = Engine(spark, ix).cat
    assert cat3.tombstones() is None           # converged: floor re-armed
    assert not cat3.props().get("compact_pending")
    # one clean segment per bucket: (term, salt, block_ord) unique and
    # no dead doc left anywhere
    from pyspark.sql import functions as F
    dup = (cat3.read("blocks")
           .groupBy("term_id", "salt", "block_ord")
           .count().where(F.col("count") > 1).count())
    assert dup == 0
    expected = c[~c["path"].str.contains("src/dir[1235]/", regex=True)]
    store_ids = {r[0] for r in
                 cat3.read("doc_store").select("doc_id").collect()}
    post_ids = _posting_doc_ids(cat3)
    assert post_ids <= store_ids and len(store_ids) == len(expected)
    _check_query(spark, ix, expected)
    # blocks plan agrees and theta pruning is active again
    eng3 = Engine(spark, ix)
    # k=1: theta needs a term with >= topn blocks, and the compacted
    # 40-doc index packs one block per term
    got = eng3.search("energy", k=1, mode="blocks", with_fields=False)
    ref = eng3.search("energy", k=1, mode="df", with_fields=False)
    assert [int(d) for d in got.hits["doc_id"]] == \
        [int(d) for d in ref.hits["doc_id"]]
    assert got.blocks_stats["theta"] > 0


def test_upsert_is_delta_only(spark, tmp_path):
    """Incremental maintenance: upsert/delete append dictionary delta
    segments and never rewrite the base (wall time scales with the
    delta, not the index) — and field stats update arithmetically."""
    c = corpus.make_corpus(60)
    ix = str(tmp_path / "ixdelta")
    cat = build_index(spark, spark.createDataFrame(c), ix, n_buckets=2)
    eng0 = Engine(spark, ix)
    dict_files = _file_set(eng0.cat.path("dictionary"))
    norms_files = _file_set(eng0.cat.path("doc_norms"))
    # replace one doc + add two new ones
    changed = c.iloc[[3]].copy()
    changed["content"] = ["<html><body><p>quantum data novelterm</p>"
                          "</body></html>"]
    extra = corpus.make_corpus(62).iloc[60:62]
    import pandas as pd
    upsert(spark, ix, spark.createDataFrame(
        pd.concat([changed, extra], ignore_index=True)))
    eng = Engine(spark, ix)
    # base files untouched; only NEW files appended
    assert dict_files <= _file_set(eng.cat.path("dictionary"))
    assert len(_file_set(eng.cat.path("dictionary"))) > len(dict_files)
    assert norms_files <= _file_set(eng.cat.path("doc_norms"))
    # merged df view + arithmetic stats agree with a full recount (the
    # oracle's fresh index over the equivalent live corpus)
    from pyspark.sql import functions as F
    expected = pd.concat([c.drop(index=3), changed, extra],
                         ignore_index=True)
    _assert_stats_match_fresh(eng.cat, expected)
    # new term got a fresh id above the high-water mark
    nt = eng.cat.read_dictionary().where(F.col("term") == "novelterm")
    assert nt.count() == 1
    # search correctness after the delta (oracle over equivalent corpus)
    _check_query(spark, ix, expected, query="quantum")


def test_dictionary_fold_policy(spark, tmp_path, monkeypatch):
    """After DICT_FOLD_SEGMENTS delta appends the dictionary folds into
    one clean base (term_ids preserved, signed df summed, dead terms
    dropped) without touching postings/blocks; queries stay correct."""
    import mias_spark.ops as OPS
    monkeypatch.setattr(OPS, "DICT_FOLD_SEGMENTS", 2)
    c = corpus.make_corpus(40)
    ix = str(tmp_path / "ixfold")
    cat = build_index(spark, spark.createDataFrame(c), ix, n_buckets=2)
    ids_before = {(r["field"], r["term"]): r["term_id"]
                  for r in cat.read_dictionary().collect()}
    blocks_before = _file_set(cat.path("blocks"))
    b1 = corpus.make_corpus(44).iloc[40:44]
    b2 = corpus.make_corpus(48).iloc[44:48]
    upsert(spark, ix, spark.createDataFrame(b1))   # segment 1
    upsert(spark, ix, spark.createDataFrame(b2))   # segment 2 -> fold
    eng = Engine(spark, ix)
    assert eng.cat.props()["dict_segments"] == 0
    # folded: every (field, term) appears exactly once, old ids kept
    import pandas as pd
    rows = eng.cat.read("dictionary").toPandas()
    assert not rows.duplicated(["field", "term"]).any()
    after = {(r.field, r.term): r.term_id for r in rows.itertuples()}
    for k, v in ids_before.items():
        assert after[k] == v
    assert (rows["df"] > 0).all()
    # postings/blocks untouched by the fold (delta appends only)
    assert blocks_before <= _file_set(eng.cat.path("blocks"))
    expected = pd.concat([c, b1, b2], ignore_index=True)
    _check_query(spark, ix, expected)


def test_duplicate_upsert_batch_rejected_before_mutation(spark, tmp_path):
    """MERGE validation must fire BEFORE the first index mutation: a
    rejected duplicate batch leaves no tombstones and no appended
    segments behind."""
    import pandas as pd
    c = corpus.make_corpus(30)
    ix = str(tmp_path / "ixdupup")
    cat = build_index(spark, spark.createDataFrame(c), ix, n_buckets=2)
    n_store = cat.read("doc_store").count()
    dup = pd.concat([c.iloc[[0]], c.iloc[[0]]], ignore_index=True)
    with pytest.raises(Exception, match="duplicate key"):
        upsert(spark, ix, spark.createDataFrame(dup))
    from mias_spark.search import Engine
    eng = Engine(spark, ix)
    assert eng.cat.tombstones() is None          # nothing tombstoned
    assert eng.cat.read("doc_store").count() == n_store
    # the replaced doc is still searchable
    _check_query(spark, ix, c)


def test_phrase_snippets_highlight(spark, tiny_build):
    """Phrase-query snippets wrap the CONTIGUOUS phrase occurrence as
    one span (NiceSnippetExtractor highlights the span, not each
    constituent)."""
    import re
    from mias_spark.search import Engine
    c, cat, oidx, ix = tiny_build
    eng = Engine(spark, ix)
    res = eng.search('"items total"', k=3, snippets=True)
    assert len(res.hits) > 0
    one_span = re.compile(r"<b>items\W+total</b>", re.IGNORECASE)
    assert any(one_span.search(s) for s in res.hits["snippet"])
    # constituents are NOT separately bolded when only the phrase
    # mentions them
    assert not any("<b>items</b>" in s for s in res.hits["snippet"])


def test_delete_all_compact_no_resurrection(spark, tmp_path):
    """Round-3 review (severe): a bucket whose every posting belongs
    to snapshot-dead docs has NO rows in the compacted slice, so the
    dynamic partition overwrite left its stale files in place — once
    the epoch retired the tombstones the deleted docs came back from
    the dead. Partitions emptied by compaction must be dropped, and a
    fully-emptied index must stay readable and re-usable."""
    import shutil as _sh
    from mias_spec import corpus as C

    from mias_spark.build import build_index
    from mias_spark.catalog import Catalog
    from mias_spark.ops import compact_until_clean, delete_by_path, upsert
    from mias_spark.search import Engine
    ix = str(tmp_path / "ixall")
    _sh.rmtree(ix, ignore_errors=True)
    build_index(spark, spark.createDataFrame(C.make_corpus(40)), ix,
                n_buckets=2)
    assert delete_by_path(spark, ix, "") == 40     # tombstone all
    out = compact_until_clean(spark, ix)
    assert out["state"] == "clean"
    cat = Catalog(spark, ix)
    assert cat.read("blocks").count() == 0
    assert cat.read("doc_store").count() == 0
    assert cat.tombstones() is None
    eng = Engine(spark, ix)
    for mode in ("df", "blocks"):
        r = eng.search("energy", k=5, mode=mode, with_fields=False)
        assert len(r.hits) == 0 and r.total_hits == 0, mode
    # staging slice reclaimed
    import os
    assert not os.path.exists(os.path.join(ix, "_staging_compact_posts"))
    # the emptied index accepts new docs and serves them
    res = upsert(spark, ix, spark.createDataFrame(C.make_corpus(20)))
    assert res == {"added": 20, "replaced": 0}
    eng2 = Engine(spark, ix)
    r = eng2.search("relativity", k=5, mode="df", with_fields=False)
    assert len(r.hits) > 0


def test_catalog_read_masks_only_truly_empty_tables(spark, tmp_path):
    """ADVICE r4 (medium): the remembered-schema empty-frame fallback
    must serve ONLY the one legal empty state (all partitions dropped).
    A genuine read failure over a table that still has data files —
    e.g. a corrupt footer — must propagate, or compaction's anti-joins
    would see an empty frame and the following overwrite would wipe
    the table."""
    import os

    from mias_spark.catalog import Catalog
    cat = Catalog(spark, str(tmp_path / "cx"))
    df = spark.range(5).withColumnRenamed("id", "doc_id")
    cat.write(df, "t")
    # legal empty state: files gone, schema remembered -> empty frame
    for d, _s, files in os.walk(cat.path("t")):
        for f in files:
            os.remove(os.path.join(d, f))
    assert cat.read("t").count() == 0
    assert cat.read("t").schema == df.schema
    # corrupt footer with data files present -> must raise, never an
    # empty frame
    cat.write(df, "u")
    for d, _s, files in os.walk(cat.path("u")):
        for f in files:
            if f.endswith(".parquet"):
                with open(os.path.join(d, f), "wb") as fh:
                    fh.write(b"not parquet at all")
    import pytest as _pt
    with _pt.raises(Exception):
        cat.read("u").count()


def test_doc_store_dseg_pruning_and_doc_id_high_water(spark, tmp_path):
    """Round-3 VERDICT #6/#7: the display fetch prunes doc_store to the
    doc-range partitions holding the k ids (plan-level assertion via
    the files actually read), and upsert takes fresh doc ids from the
    manifest next_doc_id high-water mark instead of a max() scan."""
    from mias_spec import corpus as C

    from mias_spark.build import build_index
    from mias_spark.catalog import Catalog
    from mias_spark.ops import upsert
    from mias_spark.search import Engine
    ix = str(tmp_path / "ixdseg")
    c = C.make_corpus(40)
    build_index(spark, spark.createDataFrame(c), ix, n_buckets=2,
                doc_seg_shift=3)                  # 8 docs per segment
    cat = Catalog(spark, ix)
    assert cat.props()["next_doc_id"] == 40
    assert cat.props()["doc_seg_shift"] == 3
    eng = Engine(spark, ix)
    from pyspark.sql import functions as F
    disp = eng._display_frame([1, 2, 35])
    # files ACTUALLY read (input_file_name reflects partition pruning;
    # DataFrame.inputFiles() lists the relation pre-pruning)
    files = [r[0] for r in
             disp.select(F.input_file_name()).distinct().collect()]
    assert files
    segs = {f.split("dseg=")[1].split("/")[0] for f in files}
    assert segs == {"0", "4"}                     # 1,2 -> seg0; 35 -> seg4
    plan = disp._jdf.queryExecution().executedPlan().toString()
    assert "dseg" in plan.split("PartitionFilters")[1][:160]
    got = {int(r["doc_id"]) for r in disp.select("doc_id").collect()}
    assert got == {1, 2, 35}
    # search round-trip with display fields still works on the
    # partitioned store
    r = eng.search("energy", k=3, with_fields=True)
    assert r.hits["path"].notna().all()
    # upsert: ids continue from the high-water mark, mark advances
    res = upsert(spark, ix, spark.createDataFrame(C.make_corpus(45)))
    assert res["added"] == 45 and res["replaced"] == 40
    cat2 = Catalog(spark, ix)
    assert cat2.props()["next_doc_id"] == 85
    ids = sorted(int(r[0]) for r in
                 cat2.read("doc_store").select("doc_id").collect())
    assert len(ids) == len(set(ids)) == 85        # no id collisions


def test_cached_engine_detects_new_snapshot(spark, tmp_path):
    """ADVICE r4: prepared-plan memos must not resurrect deleted docs.
    A cached Engine that already memoized a query's plan detects the
    index's new snapshot after a delete and drops its caches — the
    deleted doc disappears from BOTH physical plans without building a
    new Engine."""
    from mias_spec import corpus as C

    from mias_spark.build import build_index
    from mias_spark.ops import delete_by_path
    from mias_spark.search import Engine
    ix = str(tmp_path / "ixsnap")
    build_index(spark, spark.createDataFrame(C.make_corpus(60)), ix,
                n_buckets=2)
    eng = Engine(spark, ix, cache=True)
    try:
        victims = {}
        for mode in ("df", "blocks"):
            r = eng.search("energy", k=5, mode=mode)
            assert len(r.hits)
            victims[mode] = r.hits.iloc[0]
            eng.search("energy", k=5, mode=mode)   # memoize the plan
        path = victims["df"]["path"]
        assert delete_by_path(spark, ix, path) >= 1
        for mode in ("df", "blocks"):
            r2 = eng.search("energy", k=5, mode=mode)
            assert path not in set(r2.hits.get("path", [])), mode
    finally:
        eng.close()


def test_older_format_refused(spark, tmp_path):
    """An index whose manifest lacks the current ``format_version``
    (written before blocks became the only posting surface; its blocks
    may lack pos_bytes) is refused with one clear error by every
    reader and writer, before anything is touched; build_index over it
    starts over and yields a current index."""
    import os

    from mias_spark.catalog import FORMAT_VERSION, Catalog
    from mias_spark.ops import compact_step, optimize
    from mias_spec import corpus as C
    ix = str(tmp_path / "ixold")
    c = C.make_corpus(30)
    build_index(spark, spark.createDataFrame(c), ix, n_buckets=2)
    cat = Catalog(spark, ix)
    assert cat.props()["format_version"] == FORMAT_VERSION
    m = cat.manifest()
    del m["props"]["format_version"]
    cat._save(m)
    snap = cat.manifest()["snapshot"]
    calls = {
        "Engine": lambda: Engine(spark, ix),
        "upsert": lambda: upsert(spark, ix, spark.createDataFrame(
            C.make_corpus(32).iloc[30:])),
        "delete_by_path": lambda: delete_by_path(spark, ix, "src/"),
        "compact_step": lambda: compact_step(spark, ix),
        "optimize": lambda: optimize(spark, ix),
    }
    for name, fn in calls.items():
        with pytest.raises(ValueError, match="rebuild the index"):
            fn()
    assert cat.manifest()["snapshot"] == snap, "a refused call mutated"
    assert not os.path.exists(cat.path("tombstones"))
    build_index(spark, spark.createDataFrame(c), ix, n_buckets=2)
    assert cat.props()["format_version"] == FORMAT_VERSION
    _check_query(spark, ix, c, query='"items total"')


def test_no_row_surfaces_through_lifecycle(spark, tmp_path):
    """Packed blocks are the only posting surface through the whole
    lifecycle: after build, a MERGE upsert with redeliveries, a
    delete, a compaction epoch and optimize, no postings or tokens
    table (nor any staging segment) exists, the dictionary df and
    field stats equal a fresh index over the live corpus, and both
    plans return the oracle's complete hit sets for a term, a phrase
    and a -NOT query."""
    import os

    from mias_spark.catalog import Catalog
    from mias_spark.ops import compact_until_clean, optimize
    queries = ["energy", '"items total"', "energy -momentum"]
    c = corpus.make_corpus(60)
    ix = str(tmp_path / "ixlife")

    def check(step, live):
        cat = Catalog(spark, ix)
        dirs = set(os.listdir(ix))
        assert not dirs & {"postings", "tokens"}, (step, dirs)
        assert not [d for d in dirs if d.startswith("_staging")], \
            (step, dirs)
        _assert_stats_match_fresh(cat, live)
        oidx = oracle.build_index(live.reset_index(drop=True))
        okeys = oidx.docs.set_index("doc_id")["doc_key"]
        keys = (cat.read("doc_store").select("doc_id", "doc_key")
                .toPandas().set_index("doc_id")["doc_key"])
        eng = Engine(spark, ix)
        for q in queries:
            exp = oracle.search(oidx, q, k=1000)
            assert len(exp), (step, q)
            want = _ranked_keys(exp, okeys)
            for mode in ("blocks", "df"):
                got = eng.search(q, k=1000, mode=mode, with_fields=False)
                assert _ranked_keys(got.hits, keys) == want, \
                    (step, q, mode)

    build_index(spark, spark.createDataFrame(c), ix, n_buckets=2)
    check("build", c)
    changed = c.iloc[[2, 7, 11]].copy()
    changed["content"] = [
        "<html><body><p>items total energy momentum</p></body></html>",
        "<html><body><p>energy electron items total</p></body></html>",
        "<html><body><p>quantum data lattice</p></body></html>"]
    extra = corpus.make_corpus(66).iloc[60:66]
    assert upsert(spark, ix, spark.createDataFrame(
        pd.concat([changed, extra], ignore_index=True))) == \
        {"added": 9, "replaced": 3}
    live = pd.concat([c.drop(index=changed.index), changed, extra],
                     ignore_index=True)
    check("upsert", live)
    assert delete_by_path(spark, ix, "src/dir4/") > 0
    live = live[~live["path"].str.startswith("src/dir4/")]
    check("delete", live)
    assert compact_until_clean(spark, ix)["state"] == "clean"
    assert Catalog(spark, ix).tombstones() is None
    check("compact", live)
    optimize(spark, ix)
    check("optimize", live)


def test_staging_reclaimed_and_overwrite_mode_restored(spark, tmp_path):
    """Review r4: upsert/delete drop their staging segments when done,
    and dynamic partition overwrite stays SCOPED to the catalog write
    (a session-global leftover would turn later whole-table overwrites
    into partial ones)."""
    import os

    from mias_spec import corpus as C

    from mias_spark.build import build_index
    from mias_spark.ops import delete_by_path, upsert
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    ix = str(tmp_path / "ixstage")
    build_index(spark, spark.createDataFrame(C.make_corpus(30)), ix,
                n_buckets=2)
    upsert(spark, ix, spark.createDataFrame(C.make_corpus(40).iloc[30:]))
    delete_by_path(spark, ix, "src/dir1/")
    for t in ("_staging_replaced", "_staging_delta_store",
              "_staging_delta_toks", "_staging_dead_toks",
              "_staging_doomed", "_staging_build_tokens"):
        assert not os.path.exists(os.path.join(ix, t)), t
    # the chunked blocks build + compaction both use dynamic partition
    # overwrite internally; the session conf must come back unchanged
    assert spark.conf.get(key) == "static"


def test_upsert_pruned_dictionary_join(spark, tmp_path, monkeypatch):
    """At scale, the delta posting-row build prunes the dictionary
    merge to the delta's own terms (dbucket partitions + broadcast
    semi-join BEFORE the segment-merge agg). Force the size gate to 0
    so the pruned plan executes on a toy index, and pin that the
    upserted index answers identically to the plain-path twin."""
    import mias_spark.ops as OPS
    from mias_spec.corpus import make_corpus

    c = make_corpus(50)
    changed = c.iloc[[2]].copy()
    changed["content"] = ["<html><body><p>energy pruned dictionary "
                          "joins</p></body></html>"]
    extra = make_corpus(52).iloc[50:52]
    delta = pd.concat([changed, extra], ignore_index=True)

    hits = {}
    for tag, thresh in (("pruned", 0), ("plain", 10**12)):
        ix = str(tmp_path / f"ix_{tag}")
        build_index(spark, spark.createDataFrame(c), ix, n_buckets=2)
        monkeypatch.setattr(OPS, "_DICT_PRUNE_MIN_TERMS", thresh)
        upsert(spark, ix, spark.createDataFrame(delta))
        eng = Engine(spark, ix)
        r = eng.search("energy", k=20, with_fields=True)
        hits[tag] = r.hits[["path", "score"]].reset_index(drop=True)
        # posting parity: both paths pack the same number of postings
        hits[tag + "_n"] = index_stats(eng.cat)["n_postings"]
    assert hits["pruned_n"] == hits["plain_n"]
    assert list(hits["pruned"]["path"]) == list(hits["plain"]["path"])
    assert np.allclose(hits["pruned"]["score"].astype(float),
                       hits["plain"]["score"].astype(float), atol=1e-9)


# ------------------------------------------ tombstone-aware fast path

_TOMB_QUERIES = ["energy", "electron quantum", '"items total"',
                 "energy -momentum", corpus.render_math(corpus.EXACT_AST)]
def _ranked_keys(hits, keys):
    """(score, doc_key) pairs in (score desc, doc_key) order: doc ids
    differ between a maintained index and a fresh oracle build, so
    exactly tied docs are compared by key, not by id."""
    sc = np.round(hits["score"].to_numpy(np.float64), 6)
    ks = list(keys.loc[[int(d) for d in hits["doc_id"]]])
    return sorted(zip(-sc, ks))


def test_tombstoned_fast_path_matches_oracle_and_distributed(
        spark, tomb_ix, jobs_of, monkeypatch):
    """With tombstones on the index, a cold hits-only default search
    stays on the zero-job driver fast path (the dead ids are masked in
    the kernel, Lucene liveDocs style; the block rows are read with
    pyarrow) and is rank-identical to the
    oracle over the equivalent live corpus AND to the distributed plan
    with its co-grouped tombstone channel (forced by shrinking
    _SHARD_POSTINGS)."""
    import mias_spark.search as S
    ix, expected = tomb_ix
    oidx = oracle.build_index(expected)
    okeys = oidx.docs.set_index("doc_id")["doc_key"]
    eng = Engine(spark, ix)
    # opening the tables reads parquet footers (jobs of their own)
    eng.search("data", k=1, with_fields=False)
    store = (eng.cat.read("doc_store").select("doc_id", "doc_key")
             .toPandas().set_index("doc_id")["doc_key"])
    n_dead = eng.cat.tombstones().count()
    fast = {}
    for q in _TOMB_QUERIES:
        r, n_jobs = jobs_of(
            lambda: eng.search(q, k=10, with_fields=False))
        assert r.blocks_stats["path"] == "fast", q
        assert r.blocks_stats["read"] == "arrow", q
        assert r.blocks_stats["dead_ids"] == n_dead, q
        assert n_jobs == 0, q
        assert len(r.hits), q
        fast[q] = r
        # complete hit sets: tie order at the k boundary is id-dependent
        got = eng.search(q, k=10**6, with_fields=False).hits
        exp = oracle.search(oidx, q, k=10**6)
        assert _ranked_keys(got, store) == _ranked_keys(exp, okeys), q
        assert np.allclose(np.sort(got["score"].astype(float)),
                           np.sort(exp["score"].astype(float)),
                           atol=1e-6), q
    monkeypatch.setattr(S, "_SHARD_POSTINGS", 8)
    dist = Engine(spark, ix)
    for q in _TOMB_QUERIES:
        r = dist.search(q, k=10, with_fields=False)
        assert r.blocks_stats["path"] == "distributed", q
        assert r.blocks_stats["dead_ids"] == -1, q
        assert [int(d) for d in r.hits["doc_id"]] == \
            [int(d) for d in fast[q].hits["doc_id"]], q
        assert np.allclose(r.hits["score"].astype(float),
                           fast[q].hits["score"].astype(float),
                           atol=1e-9), q


def test_cached_engine_fast_path_drops_deleted_doc(spark, tmp_path,
                                                  jobs_of):
    """A cached Engine memoizes the fast plan together with the dead
    set of its snapshot. Deleting one of the hits commits a new
    snapshot: the next search re-reads the dead set and reopens its
    arrow dataset handles, stays on the zero-job fast path, and the
    deleted doc never comes back through a memo. A later upsert's new
    doc is found through the reopened handles, also under a term whose
    block rows the row memo held before the commit."""
    c = corpus.make_corpus(60)
    ix = str(tmp_path / "ixmemo")
    build_index(spark, spark.createDataFrame(c), ix, n_buckets=2)
    redeliver = c.iloc[[2, 4]].copy()
    redeliver["content"] = ["<html><body><p>energy data</p></body></html>"
                            ] * 2
    upsert(spark, ix, spark.createDataFrame(redeliver))
    eng = Engine(spark, ix, cache=True)
    try:
        r1 = eng.search("energy", k=5)
        r2 = eng.search("energy", k=5)          # prepared-plan hit
        assert r2.blocks_stats["meta_rows"] == 0
        for r in (r1, r2):
            assert r.blocks_stats["path"] == "fast"
            assert r.blocks_stats["dead_ids"] == 2
        assert list(r2.hits["path"]) == list(r1.hits["path"])
        victim = r1.hits["path"].iloc[0]
        assert delete_by_path(spark, ix, victim) == 1
        for _ in range(2):                       # cold, then memo hit
            r, n_jobs = jobs_of(lambda: eng.search("energy", k=5))
            assert victim not in set(r.hits["path"])
            assert r.hits["path"].notna().all()
            assert r.blocks_stats["path"] == "fast"
            assert r.blocks_stats["read"] == "arrow"
            assert r.blocks_stats["dead_ids"] == 3
            assert n_jobs == 0
        # an upsert appends dictionary, block and doc_store files: a
        # search on the cached Engine must list them, not serve the
        # file listing of the snapshot it opened on
        assert not len(eng.search("quasarion", k=5).hits)
        r = eng.search("energy", k=10**6)
        assert r.blocks_stats["memo_terms"] > 0
        new = corpus.make_corpus(61).iloc[60:].copy()
        new["content"] = ["<html><body><p>quasarion energy</p>"
                          "</body></html>"]
        assert not set(new["path"]) & set(r.hits["path"])
        upsert(spark, ix, spark.createDataFrame(new))
        r, n_jobs = jobs_of(lambda: eng.search("quasarion", k=5))
        assert list(r.hits["path"]) == list(new["path"])
        assert r.blocks_stats["read"] == "arrow"
        assert n_jobs == 0
        # the commit dropped the memoized energy rows: a complete hit
        # set now holds the new doc
        r, n_jobs = jobs_of(lambda: eng.search("energy", k=10**6))
        assert set(new["path"]) <= set(r.hits["path"])
        assert r.blocks_stats["path"] == "fast"
        assert n_jobs == 0
    finally:
        eng.close()


def test_theta_floor_skips_blocks_holding_dead_docs(spark, tmp_path):
    """k=1 single-term query whose block-max achiever is tombstoned:
    the fast path's theta floor may only come from blocks whose doc
    range holds no dead id. A floor taken from the dead doc's block
    would exceed the best live score and prune the block holding the
    true top hit."""
    import hashlib
    n = 400                                      # 4 blocks of <= 128

    def key(i):
        return hashlib.sha256(
            f"org/theta|d/f{i:05d}.md|{'0' * 40}".encode()).hexdigest()

    # doc ids are dense in doc_key order: the first and last keys land
    # in the first and last block of the term
    order = sorted(range(n), key=key)
    dead_i, top_i = order[0], order[-1]
    rows = []
    for i in range(n):
        body = "zeta " + " ".join(f"w{i}x{j}" for j in range(2 + i % 5))
        if i == dead_i:
            body = "zeta " * 12                  # the block-max achiever
        elif i == top_i:
            body = "zeta zeta"                   # the best live doc
        rows.append(("org/theta", f"d/f{i:05d}.md", "0" * 40, "markdown",
                     body))
    c = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang",
                                    "content"])
    ix = str(tmp_path / "ixtheta")
    build_index(spark, spark.createDataFrame(c), ix, n_buckets=2)
    dead_path = f"d/f{dead_i:05d}.md"
    before = oracle.search(oracle.build_index(c), "zeta", k=2)
    assert delete_by_path(spark, ix, dead_path) == 1
    live = c[c["path"] != dead_path].reset_index(drop=True)
    lidx = oracle.build_index(live)
    exp = oracle.search(lidx, "zeta", k=1)
    top_score = float(exp["score"].iloc[0])
    # the deleted doc really was the achiever and outscores every live
    # doc, so a floor taken from its block would prune the others
    assert list(lidx.docs.set_index("doc_id")["path"]
                .loc[exp["doc_id"]]) == [f"d/f{top_i:05d}.md"]
    assert float(before["score"].iloc[0]) > \
        float(before["score"].iloc[1]) > 0
    eng = Engine(spark, ix)
    r = eng.search("zeta", k=1)
    assert r.blocks_stats["path"] == "fast"
    assert r.blocks_stats["dead_ids"] == 1
    # the floor stays armed (from the dead-free blocks) and sound
    assert 0.0 < r.blocks_stats["theta"] <= top_score + 1e-9
    assert list(r.hits["path"]) == [f"d/f{top_i:05d}.md"]
    assert np.allclose(r.hits["score"].astype(float), [top_score],
                       atol=1e-6)
