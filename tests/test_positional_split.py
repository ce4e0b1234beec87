"""POSITIONAL_FIELDS split (round 5, VERDICT r4 #3): ``pos_bytes``
packs only for content/title — the fields phrase adjacency can ever
read — so pmath/cmath M-term positions (the bulk of the position
volume in a math-dense corpus) are never encoded at build, and the
property survives compaction."""

from pyspark.sql import functions as F

from mias_spark.build import build_index
from mias_spark.search import Engine
from mias_spec import corpus


def _pos_null_by_field(spark, ix):
    """{field-ish: n_null, n_set} from blocks joined back to the
    dictionary (term_id -> field)."""
    eng = Engine(spark, ix)
    dic = eng.cat.read_dictionary().select("field", "term_id")
    b = eng.cat.read("blocks").select(
        "term_id", F.col("pos_bytes").isNull().alias("isnull"))
    out = (b.join(dic, "term_id")
           .groupBy("field").agg(
               F.sum(F.col("isnull").cast("int")).alias("n_null"),
               F.count("*").alias("n")))
    return {r["field"]: (int(r["n_null"]), int(r["n"]))
            for r in out.collect()}


def test_math_fields_pack_no_positions(spark, tiny_build):
    c, cat, oidx, ix = tiny_build
    stats = _pos_null_by_field(spark, ix)
    for f in ("pmath", "cmath"):
        n_null, n = stats[f]
        assert n > 0 and n_null == n, (f, stats[f])
    for f in ("content", "title"):
        n_null, n = stats[f]
        assert n > 0 and n_null == 0, (f, stats[f])


def test_split_survives_compaction(spark, tmp_path):
    from mias_spark.ops import delete_by_path, optimize
    c = corpus.make_corpus(60)
    ix = str(tmp_path / "ix_split")
    build_index(spark, spark.createDataFrame(c), ix, n_buckets=2)
    delete_by_path(spark, ix, "src/dir1/")
    optimize(spark, ix)
    stats = _pos_null_by_field(spark, ix)
    for f in ("pmath", "cmath"):
        n_null, n = stats[f]
        assert n > 0 and n_null == n, (f, stats[f])
    n_null, n = stats["content"]
    assert n > 0 and n_null == 0
    # and the phrase surface still serves from the compacted blocks
    eng = Engine(spark, ix)
    r = eng.search('"items total"', k=10, mode="blocks",
                   with_fields=False)
    assert r.blocks_stats is not None and len(r.hits)
