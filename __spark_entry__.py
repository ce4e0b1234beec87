"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: ingest the sf0.001 ``documents`` table as a
corpus, build the full inverted index (doc_ids, M-term/text tokenize,
packed posting blocks) and run a BM25 top-k search through the engine.

``queries()`` / ``oracle_sql()`` — the oracle-checked operator suite
(mias_spark/pipelines/suite.py): IR core (tf/df/norms/BM25 top-k incl.
conjunction + phrase), dedup family (exact / MinHash-LSH / SimHash /
n-gram Jaccard / embedding-cosine), ANN (brute-force cosine, 24-table
sign-LSH bucketed, IVF-flat with sampled centroids, Lloyd-refined IVF
with an inlined two-round CTE oracle — recall additionally
pytest-gated on a clustered fixture), text analysis
(lang-id / quality / token stats / fingerprinting), multimodal binary
columns (metadata parse, Arrow feature extraction, frame sampling) and
relational coverage (TPC-H q1/q3ish, windowed event rollups).

The engine product path itself is oracle-gated end-to-end
(ir_engine_topk / ir_engine_topk_blocks / ir_engine_phrase run a real
build_index + Engine.search per physical plan, the fused phrase
kernel included) and so is the Structured Streaming MERGE ingest
(stream_ingest). Non-SQL-expressible entries (math M-term
pipelines over the synthesized MathML corpus — custom Arrow UDF
pipelines) have no oracle_sql and get the driver's rows-only check;
their real gate is tests/ (rank identity vs the pandas oracle).
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mias_spark.pipelines.suite import REGISTRY


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from pyspark.sql import functions as F

    from mias_spark.build import build_index
    from mias_spark.search import Engine

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.select(
        F.concat(F.lit("corpus/"), "source").alias("repo"),
        F.concat(F.lit("docs/doc_"), F.col("doc_id").cast("string"),
                 F.lit(".txt")).alias("path"),
        F.lit("0" * 40).alias("commit"),
        F.lit("text").alias("lang"),
        F.col("text").alias("content"),
    )
    ix = os.path.join(tempfile.gettempdir(), "mias_flagship_ix")
    build_index(spark, corpus, ix, n_buckets=4)
    eng = Engine(spark, ix)
    res = eng.search("spark join merge", k=20, with_fields=True)
    return spark.createDataFrame(res.hits)


def _math_mterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: weighted M-term extraction over a deterministic MathML
    corpus (the custom Arrow-UDF math pipeline; oracle = pytest golden)."""
    from pyspark.sql import functions as F

    from mias_spark.ops import annotate_mterms
    from mias_spec.corpus import make_corpus

    c = spark.createDataFrame(make_corpus(200))
    docs = c.withColumn("doc_id", F.monotonically_increasing_id())
    return annotate_mterms(docs)


def _math_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: full engine build + math query over the synthetic
    MathML corpus (rank identity vs the pandas oracle is enforced in
    tests/test_engine.py)."""
    from mias_spark.build import build_index
    from mias_spark.search import Engine
    from mias_spec.corpus import EXACT_AST, make_corpus, render_math

    ix = os.path.join(tempfile.gettempdir(), "mias_mathsearch_ix")
    build_index(spark, spark.createDataFrame(make_corpus(120)), ix,
                n_buckets=2)
    eng = Engine(spark, ix)
    res = eng.search(render_math(EXACT_AST), k=10, with_fields=False)
    return spark.createDataFrame(res.hits)


def _math_formula_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: FORMULA_DOCUMENTS granularity (P7) — one row per
    <math> element over the synthesized corpus."""
    from mias_spark.ops import explode_formula_docs
    from mias_spec.corpus import make_corpus

    return explode_formula_docs(spark.createDataFrame(make_corpus(200)))


def _stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming micro-batch ingest, DuckDB-oracled: the
    documents table maps to a corpus; docs 100..299 bootstrap the index
    (batch build_index), then readStream over a drop-dir feeds ONE
    delta through foreachBatch -> the delta-only MERGE upsert: docs
    >= 300 and < 100 are NEW keys, and docs 100..199 REARRIVE with
    modified content under the same (repo, path, commit) key — the
    MERGE must replace them, not duplicate them. Returns the live
    doc_store keys + the per-row content sha256 ingest invariant;
    STREAM_INGEST_SQL states the expected union-distinct-by-key
    directly over the documents table (stream-vs-batch RANK identity
    on a math corpus stays pytest-gated, tests/test_streaming.py)."""
    import shutil

    from pyspark.sql import functions as F

    from mias_spark.build import build_index
    from mias_spark.ops import live_store
    from mias_spark.search import Engine
    from mias_spark.streaming import stream_upsert

    root = os.path.join(tempfile.gettempdir(), "mias_stream_entry")
    shutil.rmtree(root, ignore_errors=True)
    ix, src = os.path.join(root, "ix"), os.path.join(root, "incoming")
    os.makedirs(src)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def corpus_of(df, content_col):
        return df.select(
            F.concat(F.lit("corpus/"), "source").alias("repo"),
            F.concat(F.lit("docs/doc_"), F.col("doc_id").cast("string"),
                     F.lit(".txt")).alias("path"),
            F.lit("0" * 40).alias("commit"),
            F.lit("text").alias("lang"),
            content_col.alias("content"))

    base = corpus_of(
        docs.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 300)),
        F.col("text"))
    delta = corpus_of(
        docs.where((F.col("doc_id") >= 300) | (F.col("doc_id") < 200)),
        F.when(F.col("doc_id").between(100, 199),
               F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")))
    build_index(spark, base, ix, n_buckets=2)
    delta.coalesce(1).write.mode("append").parquet(src)
    stream_upsert(spark, ix, src, trigger_available_now=True)
    eng = Engine(spark, ix)
    return (live_store(eng.cat)
            .select("doc_key", "path", "content_sha256")
            .orderBy(F.asc("doc_key")))


STREAM_INGEST_SQL = """
    WITH c AS (
      SELECT sha256(concat('corpus/', source, '|docs/doc_', doc_id,
                           '.txt|', repeat('0', 40))) AS doc_key,
             concat('docs/doc_', doc_id, '.txt') AS path,
             sha256(CASE WHEN doc_id BETWEEN 100 AND 199
                         THEN text || ' v2' ELSE text END)
               AS content_sha256
      FROM documents)
    SELECT doc_key, path, content_sha256 FROM c ORDER BY doc_key
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable] = {
        name: fn for name, (fn, _sql) in REGISTRY.items()
    }
    out["math_mterm_annotate"] = _math_mterms
    out["math_search_topk"] = _math_search_topk
    out["math_formula_docs"] = _math_formula_docs
    out["stream_ingest"] = _stream_ingest
    return out


def oracle_sql() -> dict[str, str]:
    out = {name: sql for name, (_fn, sql) in REGISTRY.items()
           if sql is not None}
    out["stream_ingest"] = STREAM_INGEST_SQL
    return out
