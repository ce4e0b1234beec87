"""Spark engine end-to-end: golden rank identity vs the oracle +
structural invariants (SURVEY.md §5.2 items 2-3)."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from mias_spark import blocks as blk
from mias_spark.search import Engine
from mias_spec import queries as Q
from mias_spec import oracle as O


# ------------------------------------------------------------ rank identity

@pytest.mark.parametrize("mode", ["df", "blocks"])
def test_rank_identity_all_queries(spark, tiny_build, mode):
    """Engine top-k must be rank-identical to the pandas oracle on the
    full frozen query set; scores within 1e-6 (FIXTURES.md §3)."""
    c, cat, oidx, ix = tiny_build
    eng = Engine(spark, ix)
    for q in Q.reference_queries():
        exp = O.search(oidx, q.query_text, q.variant, q.k, q.offset)
        got = eng.search(q.query_text, q.k, q.offset, q.variant,
                         mode=mode, with_fields=False).hits
        assert [int(d) for d in got["doc_id"]] == \
            [int(d) for d in exp["doc_id"]], f"q{q.query_id} ({mode}) doc order"
        assert np.allclose(got["score"].astype(float),
                           exp["score"].astype(float), atol=1e-6), \
            f"q{q.query_id} ({mode}) scores"


# ---------------------------------------------------------------- invariants

def test_content_sha256_invariant(spark, tiny_build):
    """Per-row content sha256 equality vs the raw corpus (input_hint)."""
    c, cat, oidx, ix = tiny_build
    expected = {
        hashlib.sha256(f"{r.repo}|{r.path}|{r.commit}".encode()).hexdigest():
        hashlib.sha256(r.content.encode()).hexdigest()
        for r in c.itertuples()
    }
    store = cat.read("doc_store").select("doc_key", "content_sha256").collect()
    assert len(store) == len(expected)
    for r in store:
        assert expected[r["doc_key"]] == r["content_sha256"]


def test_doc_ids_dense_and_oracle_aligned(spark, tiny_build):
    c, cat, oidx, ix = tiny_build
    ids = sorted(r["doc_id"] for r in
                 cat.read("doc_store").select("doc_id").collect())
    assert ids == list(range(len(c)))
    eng_map = {r["doc_key"]: r["doc_id"] for r in
               cat.read("doc_store").select("doc_key", "doc_id").collect()}
    ora_map = dict(zip(oidx.docs["doc_key"], oidx.docs["doc_id"]))
    assert eng_map == {k: int(v) for k, v in ora_map.items()}


def test_postings_match_oracle_counts(spark, tiny_build):
    """Posting rows decoded from the packed blocks (the one posting
    surface) are exactly the oracle's postings: same (doc, field,
    term) keys with the same tf, dl and mean weight."""
    c, cat, oidx, ix = tiny_build
    posts = (blk.decoded_postings(cat.read("blocks"), ("tf", "wsum", "dl"))
             .join(cat.read_dictionary().select("term_id", "field", "term"),
                   "term_id"))
    got = posts.toPandas()
    assert len(got) == len(oidx.postings)
    keys = ["doc_id", "field", "term"]
    m = got.merge(oidx.postings, on=keys, suffixes=("", "_o"))
    assert len(m) == len(oidx.postings)
    assert (m["tf"] == m["tf_o"]).all() and (m["dl"] == m["dl_o"]).all()
    assert np.allclose(m["wsum"] / m["tf"], m["avg_w"], atol=1e-9)
    # sum(tf) per (doc, field) == doc_norms.dl
    chk = (posts
        .groupBy("doc_id", "field").agg(F.sum("tf").alias("s"))
        .join(cat.read("doc_norms"), ["doc_id", "field"])
        .where(F.col("s") != F.col("dl")).count())
    assert chk == 0


def test_block_monotonicity_and_coverage(spark, tiny_build):
    """Doc ids strictly increasing inside each block; blocks cover
    exactly the exploded postings."""
    c, cat, oidx, ix = tiny_build
    rows = spark.read.parquet(cat.path("blocks")).collect()
    total = 0
    for r in rows:
        docs, tfs, dls, ws = blk.unpack_block(r)
        assert (np.diff(docs) > 0).all()
        assert r["first_doc"] == docs[0] and r["last_doc"] == docs[-1]
        assert r["max_score"] >= 0
        total += len(docs)
    assert total == len(oidx.postings)


def test_resume_from_checkpoint(spark, tiny_build, tmp_path):
    """Kill-after-partial-build resume: drop one bucket checkpoint +
    stage outputs; rebuild must reuse finished stages and reproduce an
    identical index (resume-equivalence, SURVEY.md §5.2)."""
    from mias_spark.build import build_index
    from mias_spec import corpus
    c = corpus.make_corpus(120)
    ix = str(tmp_path / "ix_resume")
    cdf = spark.createDataFrame(c)
    cat = build_index(spark, cdf, ix, n_buckets=4)
    before = {(r["term_id"], r["salt"], r["block_ord"]):
              (bytes(r["doc_bytes"]), bytes(r["w_bytes"]))
              for r in spark.read.parquet(cat.path("blocks")).collect()}
    # simulate a crash mid-blocks-stage: forget bucket 2 + the table mark
    m = cat.manifest()
    del m["checkpoints"]["blocks/bucket=2"]
    m["tables"].pop("blocks", None)
    cat._save(m)
    import shutil
    shutil.rmtree(cat.path("blocks/bucket=2"), ignore_errors=True)
    n_tables_before = m["tables"].copy()
    cat2 = build_index(spark, cdf, ix, n_buckets=4)  # resume
    after = {(r["term_id"], r["salt"], r["block_ord"]):
             (bytes(r["doc_bytes"]), bytes(r["w_bytes"]))
             for r in spark.read.parquet(cat2.path("blocks")).collect()}
    assert before == after
    # finished stages were not rebuilt (snapshot ids unchanged)
    m2 = cat2.manifest()
    for t in ("doc_store", "doc_norms", "dictionary"):
        assert m2["tables"][t]["snapshot"] == n_tables_before[t]["snapshot"]


def test_doc_limit(spark, tmp_path):
    from mias_spark.build import build_index
    from mias_spec import corpus
    c = corpus.make_corpus(50)
    cat = build_index(spark, spark.createDataFrame(c),
                      str(tmp_path / "ixlim"), n_buckets=2, doc_limit=10)
    assert cat.read("doc_store").count() == 10


def test_search_result_fields(spark, tiny_build):
    c, cat, oidx, ix = tiny_build
    eng = Engine(spark, ix)
    r = eng.search("energy", k=3)
    assert {"rank", "doc_id", "score", "id", "repo", "path", "title"} \
        <= set(r.hits.columns)
    assert r.processed_query.startswith("g0:content:energy")
    # arXiv id override: docs with citation meta expose it as `id`
    ids = cat.read("doc_store").where(F.col("arxiv_id").isNotNull()) \
        .select("id", "arxiv_id").limit(5).collect()
    for row in ids:
        assert row["id"] == row["arxiv_id"]


@pytest.mark.parametrize("k", [1, 2, 5])
def test_blockmax_pruning_active(spark, tiny_build, k):
    """Small-k single-group queries activate the theta floor (every term
    has >= k blocks), so the block-skip filter actually prunes — results
    must stay rank-identical to the oracle and the df plan."""
    c, cat, oidx, ix = tiny_build
    eng = Engine(spark, ix)
    for qt in ("energy", "theorem", "matrix"):
        exp = O.search(oidx, qt, "BOTH", k)
        got = eng.search(qt, k=k, mode="blocks", with_fields=False).hits
        ref = eng.search(qt, k=k, mode="df", with_fields=False).hits
        assert [int(d) for d in got["doc_id"]] == \
            [int(d) for d in exp["doc_id"]] == \
            [int(d) for d in ref["doc_id"]], qt
        assert np.allclose(got["score"].astype(float),
                           exp["score"].astype(float), atol=1e-6)


def test_blocks_mode_offset_and_conjunction(spark, tiny_build):
    """Multi-group (conjunctive) queries through the doc-sharded kernel:
    pagination slices the same global order as the df plan."""
    c, cat, oidx, ix = tiny_build
    eng = Engine(spark, ix)
    q = "energy equivalence"
    full = eng.search(q, k=10, mode="blocks", with_fields=False).hits
    page2 = eng.search(q, k=5, offset=5, mode="blocks",
                      with_fields=False).hits
    dfref = eng.search(q, k=10, mode="df", with_fields=False).hits
    assert [int(d) for d in full["doc_id"]] == \
        [int(d) for d in dfref["doc_id"]]
    assert [int(d) for d in page2["doc_id"]] == \
        [int(d) for d in full["doc_id"][5:10]]


def test_catalog_read_uses_recorded_schema(spark, tiny_build, jobs_of):
    """Opening a table on the parquet binding runs no schema-inference
    job: the manifest's recorded schema is handed to the reader, and
    the partition columns come back with their recorded types.
    merge_schema keeps inference. The 64-partition dictionary is listed
    driver-side too (session.get_spark raises Spark's parallel
    partition discovery threshold above its partition count)."""
    from pyspark.sql.types import StructType
    c, cat, oidx, ix = tiny_build
    for table, part in (("blocks", "bucket"), ("doc_store", "dseg"),
                        ("dictionary", "dbucket")):
        df, n_jobs = jobs_of(lambda: cat.read(table))
        assert n_jobs == 0, table
        rec = StructType.fromJson(cat.manifest()["tables"][table]["schema"])
        assert df.schema[part].dataType == rec[part].dataType, table
        assert set(df.columns) == set(rec.names), table
    assert cat.read("blocks").count() == \
        cat.read("blocks", merge_schema=True).count()


def test_meta_tables_queryable(spark, tiny_build):
    """North rule: lineage + metrics + per-partition checkpoints exist
    as queryable tables, not just manifest JSON."""
    c, cat, oidx, ix = tiny_build
    lin = cat.meta_table("lineage").toPandas()
    assert {"snapshot", "table", "rows"} <= set(lin.columns)
    assert set(lin["table"]) >= {"doc_store", "doc_norms", "dictionary",
                                 "blocks"}
    met = cat.meta_table("metrics").toPandas()
    assert "build_total" in set(met["stage"])
    cps = cat.meta_table("checkpoints").toPandas()
    assert all(k.startswith("blocks/bucket=") for k in cps["key"])
    assert (cps["status"] == "done").all()


def test_skew_salting_rank_identical(spark, tmp_path, monkeypatch):
    """B4 skew salting: with thresholds lowered so hot terms REALLY get
    doc-range salted into multiple sub-lists, the packed blocks carry
    salt > 0 and both physical plans stay rank-identical to the
    oracle."""
    import mias_spark.build as B
    monkeypatch.setattr(B, "SALT_DF_THRESHOLD", 10)
    monkeypatch.setattr(B, "SALT_DOC_RANGE", 40)
    from mias_spark.build import build_index
    from mias_spec import corpus as C
    from mias_spec import oracle as O
    c = C.make_corpus(200)
    ix = str(tmp_path / "ix_salt")
    cat = build_index(spark, spark.createDataFrame(c), ix, n_buckets=2)
    blocks = spark.read.parquet(cat.path("blocks"))
    n_salted = blocks.where(F.col("salt") > 0).count()
    assert n_salted > 0, "salting never triggered — test setup broken"
    # salted sub-lists keep doc order globally: salt monotone in doc_id
    rows = (blocks.where(F.col("salt") > 0)
            .select("term_id", "salt", "first_doc", "last_doc").collect())
    for r in rows:
        assert r["first_doc"] // 40 == r["salt"]
        assert r["last_doc"] // 40 == r["salt"]
    oidx = O.build_index(c)
    eng = Engine(spark, ix)
    for q in ["energy", "electron quantum",
              C.render_math(C.EXACT_AST)]:
        exp = O.search(oidx, q, "BOTH", 10)
        for mode in ("df", "blocks"):
            got = eng.search(q, k=10, mode=mode, with_fields=False).hits
            assert [int(d) for d in got["doc_id"]] == \
                [int(d) for d in exp["doc_id"]], (q, mode)
            assert np.allclose(got["score"].astype(float),
                               exp["score"].astype(float), atol=1e-6)


def test_randomized_query_fuzz_rank_identity(spark, tiny_build):
    """Deterministic fuzz: random 1-3 term text queries (drawn from the
    corpus vocabulary) + random math formulae — df plan, blocks plan and
    the oracle must agree on every one."""
    import numpy as np
    from mias_spec import corpus as C
    from mias_spec import queries as Q
    c, cat, oidx, ix = tiny_build
    eng = Engine(spark, ix)
    rng = np.random.default_rng(1234)
    vocab = C.VOCAB
    queries = []
    for i in range(12):
        k = 1 + int(rng.integers(0, 3))
        terms = [vocab[int(rng.integers(0, len(vocab)))] for _ in range(k)]
        queries.append(" ".join(terms))
    for i in range(4):
        queries.append(C.render_math(C.random_ast(int(rng.integers(0, 500)),
                                                  1)))
    for q in queries:
        exp = O.search(oidx, q, "BOTH", 10)
        for mode in ("df", "blocks"):
            got = eng.search(q, k=10, mode=mode, with_fields=False).hits
            assert [int(d) for d in got["doc_id"]] == \
                [int(d) for d in exp["doc_id"]], (q[:60], mode)
            assert np.allclose(got["score"].astype(float),
                               exp["score"].astype(float), atol=1e-6), \
                (q[:60], mode)


def test_randomized_query_fuzz_distributed_blocks(spark, tiny_build,
                                                  monkeypatch):
    """Same deterministic fuzz, blocks mode FORCED onto the distributed
    sharded path (on the tiny fixture every query would otherwise take
    the single-shard fast path, leaving the sharded kernel + theta
    pushdown + range filters fuzz-untested)."""
    import numpy as np
    import mias_spark.search as S
    from mias_spec import corpus as C
    monkeypatch.setattr(S, "_SHARD_POSTINGS", 8)
    c, cat, oidx, ix = tiny_build
    eng = Engine(spark, ix)
    rng = np.random.default_rng(99)
    vocab = C.VOCAB
    queries = [" ".join(vocab[int(rng.integers(0, len(vocab)))]
                        for _ in range(1 + int(rng.integers(0, 3))))
               for _ in range(8)]
    queries.append(C.render_math(C.random_ast(7, 1)))
    for q in queries:
        exp = O.search(oidx, q, "BOTH", 10)
        got = eng.search(q, k=10, mode="blocks", with_fields=False)
        assert got.blocks_stats["n_shards"] >= 1
        assert [int(d) for d in got.hits["doc_id"]] == \
            [int(d) for d in exp["doc_id"]], q[:60]
        assert np.allclose(got.hits["score"].astype(float),
                           exp["score"].astype(float), atol=1e-6), q[:60]


def test_python_xxh64_matches_spark(spark):
    """hashing.dbucket_py must agree with the build-side F.xxhash64
    expression for every dictionary partition decision."""
    from pyspark.sql import functions as F

    from mias_spark.build import N_DICT_BUCKETS, _dbucket
    from mias_spark.hashing import dbucket_py, spark_xxhash64_strings
    pairs = [("content", "energy"), ("title", ""), ("pmath", "r(i:§v)"),
             ("cmath", "x" * 100), ("content", "日本語"),
             ("f", "0123456789abcdef" * 3)]
    rows = (spark.createDataFrame(pairs, "field string, term string")
            .withColumn("h", F.xxhash64("field", "term"))
            .withColumn("b", _dbucket()).collect())
    for r in rows:
        assert spark_xxhash64_strings([r["field"], r["term"]]) == r["h"]
        assert dbucket_py(r["field"], r["term"], N_DICT_BUCKETS) == r["b"]


# -------------------------------------------------- round-2 query features

def test_total_hits_vs_oracle(spark, tiny_build):
    """Q10 totalHits (Searching.java:206): df plan exact; blocks plan
    exact when no theta pruning, lower bound (gte) otherwise."""
    c, cat, oidx, ix = tiny_build
    eng = Engine(spark, ix)
    for qt in ("energy", "electron quantum", "data", '"items total"'):
        full = O.search(oidx, qt, "BOTH", 10**6)
        r_df = eng.search(qt, k=5, mode="df", with_fields=False)
        assert r_df.total_hits == len(full), qt
        assert r_df.total_hits_relation == "eq"
        r_bl = eng.search(qt, k=5, mode="blocks", with_fields=False)
        if r_bl.total_hits_relation == "eq":
            assert r_bl.total_hits == len(full), qt
        else:
            assert len(r_bl.hits) <= r_bl.total_hits <= len(full), qt


def test_conjunctive_kernel_pruning(spark, tiny_build, monkeypatch):
    """Conjunctions prune inside the kernel (essential-group candidate
    ranges): blocks are skipped WITHOUT decoding, results stay
    rank-identical to the df plan and the oracle. Forces the
    distributed sharded path (the tiny corpus would otherwise take the
    single-shard short-circuit, where one shard spans every candidate
    range and nothing can be range-skipped)."""
    import mias_spark.search as S
    monkeypatch.setattr(S, "_SHARD_POSTINGS", 8)
    c, cat, oidx, ix = tiny_build
    eng = Engine(spark, ix)
    q = "energy einstein"
    exp = O.search(oidx, q, "BOTH", 10)
    got = eng.search(q, k=10, mode="blocks", with_fields=False)
    assert got.blocks_stats["skipped_blocks"] > 0
    assert [int(d) for d in got.hits["doc_id"]] == \
        [int(d) for d in exp["doc_id"]]
    assert np.allclose(got.hits["score"].astype(float),
                       exp["score"].astype(float), atol=1e-6)
    assert got.total_hits == len(O.search(oidx, q, "BOTH", 10**6))
    assert got.total_hits_relation == "eq"


def test_timeout_partial_and_error_passthrough(spark, tiny_build):
    """Q9 time-limited search: the deadline returns the partial-result
    sentinel; REAL errors propagate instead of masquerading as
    timeouts (they used to be swallowed)."""
    c, cat, oidx, ix = tiny_build
    eng = Engine(spark, ix)

    def slow(*a, **kw):
        # a genuinely slow Spark job (no overflow — ANSI mode would
        # fail it with a REAL error before the cancel landed); must be
        # cancelled by the timer
        spark.range(500_000_000_000).selectExpr("sum(id % 97)").collect()
        raise AssertionError("job was not cancelled")

    eng._search_body = slow
    r = eng.search("energy", k=3, timeout_s=0.5)
    assert r.processed_query == "(timed out)"
    assert len(r.hits) == 0

    def boom(*a, **kw):
        raise ValueError("real failure")

    eng._search_body = boom
    with pytest.raises(ValueError, match="real failure"):
        eng.search("energy", k=3, timeout_s=30)


def test_avgdl_drift_append_upsert_blocks_identical(spark, tmp_path):
    """ADVICE: after a pure-append upsert moves field avgdl, stale
    segments' pack-time bounds must stay conservative (avgdl0
    correction) — theta pruning stays ACTIVE (no tombstones written for
    pure appends) and blocks-mode results stay rank-identical."""
    from mias_spark.ops import upsert
    from mias_spec import corpus as C
    import pandas as pd
    c_all = C.make_corpus(300)
    base, delta = c_all.iloc[:150], c_all.iloc[150:]
    ix = str(tmp_path / "ixdrift")
    from mias_spark.build import build_index
    cat = build_index(spark, spark.createDataFrame(base), ix, n_buckets=2)
    st0 = cat.props()["field_stats"]["content"]["avgdl"]
    res = upsert(spark, ix, spark.createDataFrame(delta))
    assert res["replaced"] == 0
    eng = Engine(spark, ix)
    # pure append: NO tombstones materialized (pruning floor stays armed)
    assert eng.cat.tombstones() is None
    st1 = eng.field_stats["content"]["avgdl"]
    oidx = O.build_index(c_all.reset_index(drop=True))
    for qt, k in (("data", 1), ("data", 3), ("energy", 2)):
        exp = O.search(oidx, qt, "BOTH", k)
        got = eng.search(qt, k=k, mode="blocks", with_fields=False)
        ref = eng.search(qt, k=k, mode="df", with_fields=False)
        # doc ids diverge between engine and fresh oracle (append order);
        # compare via doc_key like ops tests: but scores match exactly
        assert np.allclose(sorted(got.hits["score"].astype(float)),
                           sorted(ref.hits["score"].astype(float)),
                           atol=1e-9), (qt, k)
        assert [int(d) for d in got.hits["doc_id"]] == \
            [int(d) for d in ref.hits["doc_id"]], (qt, k)


def test_duplicate_doc_keys_rejected(spark, tmp_path):
    """MERGE semantics: duplicate (repo, path, commit) rows in one
    batch fail fast instead of corrupting the id mapping."""
    from mias_spec import corpus as C
    import pandas as pd
    c = C.make_corpus(20)
    dup = pd.concat([c, c.iloc[[0]]], ignore_index=True)
    from mias_spark.build import build_index
    with pytest.raises(Exception, match="duplicate key"):
        build_index(spark, spark.createDataFrame(dup),
                    str(tmp_path / "ixdup"), n_buckets=2)


def test_engine_cache_parity(spark, tiny_build):
    """Engine(cache=True) must return byte-identical results to the
    uncached engine on repeated queries (memoized dictionary lookups,
    cached block metadata, persisted tables)."""
    c, cat, oidx, ix = tiny_build
    cold = Engine(spark, ix)
    warm = Engine(spark, ix, cache=True)
    try:
        for qt in ("energy", "energy einstein", '"items total"', "data"):
            for mode in ("df", "blocks"):
                a = cold.search(qt, k=8, mode=mode, with_fields=False)
                b1 = warm.search(qt, k=8, mode=mode, with_fields=False)
                b2 = warm.search(qt, k=8, mode=mode, with_fields=False)
                for b in (b1, b2):
                    assert [int(d) for d in b.hits["doc_id"]] == \
                        [int(d) for d in a.hits["doc_id"]], (qt, mode)
                    assert np.allclose(b.hits["score"].astype(float),
                                       a.hits["score"].astype(float),
                                       atol=0), (qt, mode)
                    assert b.total_hits == a.total_hits
    finally:
        warm.close()


def test_block_meta_driver_rows_bounded(spark, tmp_path):
    """VERDICT r2 #1: the per-term pruning metadata the driver receives
    is O(1) per term — one reduced row — even when a term spans many
    blocks (round 2 collected one struct PER BLOCK, i.e. O(df/128) for
    hot terms; at 10^10 docs that was driver-hostile)."""
    import pandas as pd
    n = 1300                       # ceil(1300/128) = 11 blocks >= 10*topn
    c = pd.DataFrame({
        "repo": ["org/wide"] * n,
        "path": [f"d/f{i:05d}.md" for i in range(n)],
        "commit": ["0" * 40] * n,
        "lang": ["markdown"] * n,
        "content": [f"zebraqq filler{i:05d} word{i % 7}"
                    for i in range(n)],
    })
    from mias_spark.build import build_index
    ix = str(tmp_path / "ixwide")
    build_index(spark, spark.createDataFrame(c), ix, n_buckets=2)
    eng = Engine(spark, ix)
    tid = int(eng.cat.read("dictionary")
              .where((F.col("field") == "content")
                     & (F.col("term") == "zebraqq"))
              .select("term_id").collect()[0][0])
    nb = eng.cat.read("blocks").where(F.col("term_id") == tid).count()
    topn = 1
    assert nb >= 10 * topn
    r = eng.search("zebraqq", k=topn, mode="blocks", with_fields=False)
    assert r.blocks_stats["meta_rows"] == 1   # one row per term, not per block
    r_df = eng.search("zebraqq", k=topn, mode="df", with_fields=False)
    assert [int(d) for d in r.hits["doc_id"]] == \
        [int(d) for d in r_df.hits["doc_id"]]
    assert np.allclose(r.hits["score"].astype(float),
                       r_df.hits["score"].astype(float), atol=1e-12)
    # theta filled from one term's 11 blocks: pruning active, totals gte
    assert r.blocks_stats["theta"] > 0
    assert r.total_hits <= r_df.total_hits == n
    # warm engine memoizes the reduced tuple, not per-block arrays
    warm = Engine(spark, ix, cache=True)
    try:
        warm.search("zebraqq", k=topn, mode="blocks", with_fields=False)
        (meta,) = warm._block_meta.values()
        assert len(meta) == 6               # scalars only
        rw = warm.search("zebraqq", k=topn, mode="blocks",
                         with_fields=False)
        assert rw.blocks_stats["meta_rows"] == 0   # repeat term: zero jobs
    finally:
        warm.close()


def test_driver_kernel_short_circuit_and_prepared_plans(
        spark, tiny_build, monkeypatch):
    """Small queries (total postings <= one shard's worth, no
    tombstones/phrase frames) run the SAME block kernel driver-side on
    the collected block rows — n_shards == 1 — and must be
    rank-identical to the distributed path (forced here by shrinking
    _SHARD_POSTINGS). With cache=True the constructed plan memoizes per
    (clause set, topn): a repeat query re-executes the job without
    rebuilding the plan."""
    import mias_spark.search as S
    c, cat, oidx, ix = tiny_build
    qt = "energy einstein"

    eng = Engine(spark, ix)
    r_small = eng.search(qt, k=8, mode="blocks", with_fields=False)
    assert r_small.blocks_stats["n_shards"] == 1   # short-circuit

    monkeypatch.setattr(S, "_SHARD_POSTINGS", 8)    # force distributed
    eng2 = Engine(spark, ix)
    r_dist = eng2.search(qt, k=8, mode="blocks", with_fields=False)
    assert r_dist.blocks_stats["n_shards"] > 1
    assert [int(d) for d in r_dist.hits["doc_id"]] == \
        [int(d) for d in r_small.hits["doc_id"]]
    assert np.allclose(r_dist.hits["score"].astype(float),
                       r_small.hits["score"].astype(float), atol=1e-9)
    assert r_dist.total_hits == r_small.total_hits
    monkeypatch.undo()

    warm = Engine(spark, ix, cache=True)
    try:
        a = warm.search(qt, k=8, mode="blocks", with_fields=False)
        assert len(warm._plans) == 1                # plan memoized
        b = warm.search(qt, k=8, mode="blocks", with_fields=False)
        assert len(warm._plans) == 1                # hit, not a new entry
        assert [int(d) for d in b.hits["doc_id"]] == \
            [int(d) for d in a.hits["doc_id"]]
        assert b.total_hits == a.total_hits
        # df-mode plans memoize under a distinct key
        warm.search(qt, k=8, mode="df", with_fields=False)
        warm.search(qt, k=8, mode="df", with_fields=False)
        assert len(warm._plans) == 2
    finally:
        warm.close()


def test_concurrent_searches_isolated_stats(spark, tiny_build):
    """8 threads hammer ONE cached Engine with distinct queries in both
    modes: every thread's hits must match the serial result and every
    SearchResult must carry its own per-call blocks_stats (the round-3
    engine-level mutable mirror fields are gone — nothing to race on)."""
    from concurrent.futures import ThreadPoolExecutor
    c, cat, oidx, ix = tiny_build
    eng = Engine(spark, ix, cache=True)
    jobs = [("energy", "blocks"), ("electron quantum", "blocks"),
            ("data", "blocks"), ("relativity", "df"),
            ("momentum conservation", "df"), ("energy", "df"),
            ("partition weight", "blocks"), ("electron", "blocks")]
    expected = {}
    for q, mode in jobs:
        r = eng.search(q, k=10, mode=mode, with_fields=False)
        expected[(q, mode)] = ([int(d) for d in r.hits["doc_id"]],
                               r.total_hits)

    def one(job):
        q, mode = job
        r = eng.search(q, k=10, mode=mode, with_fields=False)
        return job, [int(d) for d in r.hits["doc_id"]], r.total_hits, \
            r.blocks_stats

    try:
        with ThreadPoolExecutor(max_workers=8) as ex:
            for _ in range(3):   # several rounds to shake out races
                for job, docs, total, bs in ex.map(one, jobs):
                    assert (docs, total) == expected[job], job
                    if job[1] == "blocks":
                        assert bs is not None and bs["n_shards"] >= 1, job
                    else:
                        assert bs is None, job
    finally:
        eng.close()


def test_cross_plan_tie_determinism(spark, tmp_path):
    """Engineered exact score ties + ULP-divergent float-sum orders:
    three-term docs whose per-term contributions are the same multiset
    summed in different orders give analytically-equal scores that can
    differ by 1 ULP between the df plan's hash-agg order and the
    kernel's term-sorted accumulation. The ORDER key is quantized to
    1e-9 in both plans, so tied neighbors must sort identically
    (doc_id tiebreak) — the round-3 cross-plan blemish."""
    import pandas as pd

    from mias_spark.build import build_index
    patterns = ["aterm aterm bterm cterm", "bterm bterm cterm aterm",
                "cterm cterm aterm bterm"]
    rows = []
    for i in range(48):
        rows.append(("org/tie", f"docs/t{i:03d}.txt", "0" * 40, "text",
                     patterns[i % 3]))
    c = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang",
                                    "content"])
    ix = str(tmp_path / "ixtie")
    build_index(spark, spark.createDataFrame(c), ix, n_buckets=2)
    eng = Engine(spark, ix)
    for q in ("aterm bterm cterm", "aterm", "aterm bterm"):
        r_df = eng.search(q, k=48, mode="df", with_fields=False)
        r_bl = eng.search(q, k=48, mode="blocks", with_fields=False)
        assert [int(d) for d in r_df.hits["doc_id"]] == \
            [int(d) for d in r_bl.hits["doc_id"]], q
        assert np.allclose(r_df.hits["score"], r_bl.hits["score"],
                           atol=1e-9)
        # exact ties (identical pattern docs) must sort by doc_id
        sc = r_df.hits["score"].to_numpy()
        ids = r_df.hits["doc_id"].to_numpy()
        qk = np.round(sc * 1e9)
        for v in np.unique(qk):
            grp = ids[qk == v]
            assert list(grp) == sorted(grp), (q, v)


def test_timeout_partial_results(spark, tiny_build, monkeypatch):
    """Round-3 VERDICT #5: a deadline mid-search returns the hits
    gathered from shards that completed BEFORE the cancel, relation
    gte — not an empty frame. Also: with a timeout armed but never
    firing, the streaming (toLocalIterator) collect path must produce
    exactly the all-at-once result."""
    import mias_spark.search as S
    c, cat, oidx, ix = tiny_build

    # 1. streaming collect path == one-shot collect (forced distributed)
    monkeypatch.setattr(S, "_SHARD_POSTINGS", 8)
    eng = Engine(spark, ix)
    base = eng.search("energy", k=10, mode="blocks", with_fields=False)
    assert base.blocks_stats["n_shards"] > 1
    timed = eng.search("energy", k=10, mode="blocks", with_fields=False,
                       timeout_s=300)
    assert [int(d) for d in timed.hits["doc_id"]] == \
        [int(d) for d in base.hits["doc_id"]]
    assert timed.total_hits == base.total_hits
    monkeypatch.undo()

    # 2. deadline fires with two shards' output already in the sink:
    # the handler merges them into ranked partial hits
    def partial_then_hang(*a, partial_sink=None, **kw):
        assert partial_sink is not None
        partial_sink["ctx"] = (3, 0.0, 1, 4, 2)
        partial_sink["rows"].extend([
            (5, 2.5, 0, 0, 0), (9, 1.5, 0, 0, 0),
            (-1, 0.0, 2, 1, 0)])
        spark.range(500_000_000_000).selectExpr("sum(id % 97)").collect()
        raise AssertionError("job was not cancelled")

    eng2 = Engine(spark, ix)
    eng2._search_body = partial_then_hang
    r = eng2.search("energy", k=3, timeout_s=0.5)
    assert r.processed_query == "(timed out; partial)"
    assert [int(d) for d in r.hits["doc_id"]] == [5, 9]
    assert list(r.hits["rank"]) == [1, 2]
    assert r.total_hits == 2 and r.total_hits_relation == "gte"


def test_timeout_partial_results_df_plan(spark, tiny_build):
    """Round-4 VERDICT #5: the df plan under an armed deadline runs
    per-partition local top-n streamed into the partial sink — an
    armed-but-never-firing timeout must reproduce the one-job
    TakeOrderedAndProject result exactly (hits, order, totals), for
    every query shape including phrases and MUST_NOT."""
    c, cat, oidx, ix = tiny_build
    eng = Engine(spark, ix)
    for q in ["energy", "electron quantum", '"items total" -momentum',
              'partition "items total"', "energy -momentum"]:
        base = eng.search(q, k=10, mode="df", with_fields=False)
        timed = eng.search(q, k=10, mode="df", with_fields=False,
                           timeout_s=300)
        assert [int(d) for d in timed.hits["doc_id"]] == \
            [int(d) for d in base.hits["doc_id"]], q
        import numpy as np
        assert np.allclose(timed.hits["score"].astype(float),
                           base.hits["score"].astype(float)), q
        assert timed.total_hits == base.total_hits, q
        assert timed.total_hits_relation == "eq", q


def test_timeout_partial_results_default_plan(spark, tiny_build):
    """The default (blocks) plan under an armed deadline skips the
    one-shot driver fast path and streams the distributed kernel into
    the partial sink, so a timeout still returns partial hits. An
    armed-but-never-firing timeout must reproduce the untimed result
    exactly (hits, order, totals) — the mirror of
    test_timeout_partial_results_df_plan."""
    c, cat, oidx, ix = tiny_build
    eng = Engine(spark, ix)
    for q in ["energy", '"items total" -momentum', "energy -momentum"]:
        base = eng.search(q, k=10, with_fields=False)
        timed = eng.search(q, k=10, with_fields=False, timeout_s=300)
        assert base.blocks_stats["path"] == "fast", q
        assert timed.blocks_stats["path"] == "distributed", q
        assert [int(d) for d in timed.hits["doc_id"]] == \
            [int(d) for d in base.hits["doc_id"]], q
        assert np.allclose(timed.hits["score"].astype(float),
                           base.hits["score"].astype(float)), q
        assert timed.total_hits == base.total_hits, q
        assert timed.total_hits_relation == base.total_hits_relation, q
