"""Headline benchmark — one JSON line for the driver.

Measures the engine's two headline paths at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]:

  build_index        full inverted-index build (ingest -> Arrow tokenize
                     -> norms/dictionary -> packed delta-gap
                     varint blocks) over the documents table plus a
                     deterministic synthesized MathML corpus — the
                     BASELINE.json metric is docs/sec, reported in the
                     extras
  search_*           BM25 top-k through both physical plans (Catalyst
                     DataFrame scorer and packed-block numpy kernel),
                     text / conjunctive / math queries
  suite ops          representative heavy operators from the oracle
                     suite (MinHash dedup, cosine ANN, TPC-H q1)

Every timed item runs twice and the MINIMUM is reported: this VM's
multi-core wall clock swings 30-60% run-to-run with host frequency
scaling (see BENCH_SCALING.md), and the first execution of any plan
shape additionally absorbs one-off JVM C2-compilation — min-of-2 with
the first build doubling as JIT warmup measures steady-state
throughput, which is what a long-lived cluster sees.

Output: {"metric": ..., "value": <total sec>, "unit": "sec",
         "queries": {name: sec, ...}, "sf": ..., ...extras}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def run(sf_dir: str, cpus: str, keep_stderr: bool = False) -> dict:
    from pyspark.sql import functions as F

    from mias_spark.build import build_index
    from mias_spark.pipelines.suite import REGISTRY
    from mias_spark.search import Engine
    from mias_spark.session import get_spark
    from mias_spec.corpus import EXACT_AST, make_corpus, render_math

    spark = get_spark("mias_bench", cpus=cpus)
    timings: dict[str, float] = {}

    def timed(name, fn, repeats=2, pre=None):
        """``pre`` runs before each repeat OUTSIDE the timed region
        (e.g. deleting the previous build's index dir — filesystem
        teardown must not pollute build timings, ADVICE r3)."""
        best = None
        for _ in range(repeats):
            if pre is not None:
                pre()
            t = time.time()
            fn()
            dt = time.time() - t
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)

    # corpus = driver documents table mapped to (repo,path,commit,lang,
    # content) + synthesized MathML docs so the math pipeline is on the
    # measured path
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    text_corpus = docs.select(
        F.concat(F.lit("corpus/"), "source").alias("repo"),
        F.concat(F.lit("docs/doc_"), F.col("doc_id").cast("string"),
                 F.lit(".txt")).alias("path"),
        F.lit("0" * 40).alias("commit"),
        F.lit("text").alias("lang"),
        F.col("text").alias("content"))
    n_text = text_corpus.count()
    n_math = max(int(n_text * 0.1), 50)
    math_corpus = spark.createDataFrame(make_corpus(n_math))
    corpus = text_corpus.unionByName(math_corpus.select(*text_corpus.columns))
    n_docs = n_text + n_math

    ix = os.path.join(tempfile.gettempdir(), f"mias_bench_ix_{cpus}")

    def do_build():
        build_index(spark, corpus, ix, n_buckets=8, resume=False)

    # run 1 doubles as JIT warmup; prior index deleted outside the timer
    timed("build_index", do_build,
          pre=lambda: shutil.rmtree(ix, ignore_errors=True))

    math_q = render_math(EXACT_AST)
    searches = [
        ("search_text_df", "spark join merge", "df"),
        ("search_text_blocks", "spark join merge", "blocks"),
        ("search_conj_df", "spark AND join", "df"),
        ("search_math_df", math_q, "df"),
        ("search_math_blocks", math_q, "blocks"),
        ("search_phrase_df", '"items total" -momentum', "df"),
        ("search_phrase_blocks", '"items total" -momentum', "blocks"),
    ]
    # cold latency: fresh Engine per repeat (no memoized dictionary
    # lookups / persisted partitions carried between timings)
    for name, q, mode in searches:
        def do_cold(q=q, mode=mode):
            eng = Engine(spark, ix, cache=False)
            eng.search(q, k=20, mode=mode, with_fields=False)
        timed(name, do_cold)
    # warm-path latency: cached Engine primed with one unmeasured run
    # (memoized dictionary lookups + persisted hot partitions)
    eng = Engine(spark, ix, cache=True)
    for name, q, mode in searches[:2] + searches[3:4] + searches[6:7]:
        eng.search(q, k=20, mode=mode, with_fields=False)
        timed(name + "_warm",
              lambda q=q, mode=mode: eng.search(q, k=20, mode=mode,
                                                with_fields=False))
    eng.close()   # release persisted tables before the pipeline ops

    # incremental maintenance on the measured path (round-5): one MERGE
    # upsert re-delivering 250 docs with changed content (tombstone +
    # delta segments, cost scales with the delta), then one bounded
    # compaction step over the resulting tombstones
    from mias_spark.ops import compact_step, upsert
    delta = text_corpus.limit(250).withColumn(
        "content", F.concat("content", F.lit(" upserted")))
    timed("upsert", lambda: upsert(spark, ix, delta))
    # each step does different (bounded) work — a single timed call
    timed("compact_step", lambda: compact_step(spark, ix), repeats=1)

    for op in ("dedup_minhash", "ann_cosine_topk", "ann_bucketed_topk",
               "tpch_q1"):
        fn, _sql = REGISTRY[op]
        timed(op, lambda fn=fn: fn(spark, sf_dir).count())

    total = round(sum(timings.values()), 3)
    build_s = timings["build_index"]
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0
    spark.stop()
    return {
        "metric": "index_build_plus_query_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_docs": n_docs,
        "docs_per_sec": round(n_docs / build_s, 2) if build_s else None,
        "cpus": int(cpus),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    result = run(sf_dir, cpus)
    print(json.dumps(result))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
