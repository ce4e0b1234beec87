"""Distributed index build — the IndexWriter analog (SURVEY.md §2.3,
reference lifecycle at indexing/Indexing.java:66-162).

Stages (each checkpointed in the catalog manifest; a killed build
resumes by skipping completed stages / buckets — the analog of the
reference's commit-every-10k-docs + KeepOnlyLastCommitDeletionPolicy,
Indexing.java:82,139-145):

  doc_store   ingest: dense doc_id by sorted sha256 doc_key; stored
              fields + content sha256 ingest invariant (input_hint)
  tokens      Arrow tokenize, pre-aggregated per (doc, field, term)
              (B1), staged ONCE as the transient _staging_build_tokens
              segment its three consumers read; dropped when blocks
              commit (a killed build resumes without re-tokenizing)
  doc_norms   per (doc, field) length counting every unified variant (B5)
  dictionary  dense term_id over (field, term) + document frequency (B2)
  blocks      per-bucket-chunk loop over tokens ⋈ dictionary ⋈ field
              stats (B3): salt skewed terms (B4), local sort, numpy pack
              into delta-gap varint blocks with block-max scores and
              positions; one checkpoint per bucket (B7 / north rule)

The persisted index is doc_store, doc_norms, dictionary and blocks —
the Lucene stored fields, norms, term dictionary and doc/pos files.
Packed blocks are the only posting surface: posting rows are decoded
from them on demand (blocks.decode_postings).

Shuffle budget per build: 1 range-partition (doc ids) + 1 hash agg
(dictionary) + 2 joins per bucket chunk (dictionary, field stats — both
shuffle-free when broadcastable, AQE decides) + 1 repartition per chunk
for packing. Everything else is mapInPandas.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mias_spark import blocks as blk
from mias_spark.catalog import FORMAT_VERSION, Catalog
from mias_spark.ids import assign_ids_hashed, assign_ids_hex
from mias_spark.parallel import ensure_udf_parallelism
from mias_spark.tokenize import tokenize_docs, with_meta
from mias_spec.constants import SALT_DF_THRESHOLD, SALT_DOC_RANGE


#: doc_store partition granularity: dseg = doc_id >> DOC_SEG_SHIFT.
#: Display fetches are k-row point lookups — partitioned by doc range
#: they prune to the <=k segments holding the ids instead of scanning
#: the whole store (at 10^12 docs an unpartitioned k-row lookup reads
#: every footer). Recorded in props so query side uses the same shift.
DOC_SEG_SHIFT = 20


#: the build's transient token segment (see module docstring)
BUILD_TOKENS = "_staging_build_tokens"


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    n_buckets: int = 16,
    doc_limit: int | None = None,
    resume: bool = True,
    doc_seg_shift: int = DOC_SEG_SHIFT,
) -> Catalog:
    """Build a full index from a corpus(repo, path, commit, lang,
    content) DataFrame. Idempotent and resumable when ``resume`` (a
    resumed build keeps the bucket count it started with); a manifest
    of an older on-disk format is never resumed — the build starts
    over."""
    cat = Catalog(spark, index_dir)
    m = cat.manifest()
    if not resume or m["props"].get("format_version") != FORMAT_VERSION:
        # start over: every table of a previous build goes (an older
        # format's postings/tokens, another bucket count's partitions,
        # its tombstones), or it would be read beside the new one
        for t in set(m["tables"]) | {"tombstones"}:
            cat.drop(t)
        m = cat.manifest()
        m["tables"], m["checkpoints"] = {}, {}
        m["props"] = {"format_version": FORMAT_VERSION,
                      "n_buckets": n_buckets}
        cat._save(m)
    n_buckets = int(cat.props()["n_buckets"])
    t0 = time.time()

    # ------------------------------------------------------------ doc_store
    if not cat.table_done("doc_store"):
        ts = time.time()
        src = corpus
        if doc_limit and doc_limit > 0:   # DOCLIMIT analog (Settings.java:158)
            src = src.limit(doc_limit)
        keyed = src.withColumn(
            "doc_key", F.sha2(F.concat_ws("|", "repo", "path", "commit"), 256))
        # rescue width on the scan side BEFORE the id join (.rdd on the
        # join plan would eagerly run its AQE stages)
        keyed = ensure_udf_parallelism(keyed)
        docs, n = assign_ids_hex(keyed, "doc_key", "doc_id")
        if n == 0:
            # empty partitioned parquet tables can't be re-read (no
            # footer to infer from); an index needs >= 1 doc — the
            # streaming path bootstraps from its first batch instead
            raise ValueError(
                "build_index: corpus is empty; index an initial batch "
                "(streaming.stream_upsert bootstraps automatically)")
        # meta computed inline in the same pass as the store write;
        # arXiv id override (HtmlDocument.java:31-36)
        store = with_meta(docs).withColumn(
            "id", F.coalesce("arxiv_id", "doc_key"))
        store = store.withColumn(
            "dseg", F.shiftright("doc_id", doc_seg_shift))
        cat.write(store, "doc_store", partition_by=["dseg"])
        # next_doc_id high-water mark: upsert assigns fresh ids from
        # here instead of running a max(doc_id) scan per call
        cat.set_props(next_doc_id=int(n), doc_seg_shift=int(doc_seg_shift))
        cat.commit_table("doc_store", rows=n)
        cat.metric("doc_store", rows=n, secs=time.time() - ts)

    # -------------------------------------------------------------- tokens
    if (not cat.table_done("blocks")
            and not cat.table_done(BUILD_TOKENS)):
        ts = time.time()
        docs = cat.read("doc_store").select("doc_id", "content", "lang")
        # Arrow-UDF stage: byte-aware 4x oversubscription (parallel.py)
        toks = tokenize_docs(ensure_udf_parallelism(docs))
        cat.write(toks, BUILD_TOKENS)
        cat.commit_table(BUILD_TOKENS)
        cat.metric("tokens", secs=time.time() - ts)

    # ----------------------------------------------------------- doc_norms
    # dl (field length counting every unified variant, B5) is computed in
    # the tokenize pass and carried ON each token row, so blocks never
    # join norms — this stage materializes the narrow norms table and
    # the per-field stats
    if not cat.table_done("doc_norms"):
        ts = time.time()
        norms = (cat.read(BUILD_TOKENS)
                 .groupBy("doc_id", "field")
                 .agg(F.first("dl").alias("dl")))
        cat.write(norms, "doc_norms")
        stats = (cat.read("doc_norms").groupBy("field")
                 .agg(F.count("*").alias("n_docs"),
                      F.avg("dl").alias("avgdl"),
                      F.sum("dl").alias("sum_dl")).collect())
        cat.set_props(field_stats={
            r["field"]: {"n_docs": r["n_docs"], "avgdl": r["avgdl"],
                         "sum_dl": float(r["sum_dl"])}
            for r in stats})
        cat.commit_table("doc_norms")
        cat.metric("doc_norms", secs=time.time() - ts)

    # ---------------------------------------------------------- dictionary
    if not cat.table_done("dictionary"):
        ts = time.time()
        dic = (cat.read(BUILD_TOKENS)
               .groupBy("field", "term")
               .agg(F.count("*").alias("df")))  # one token row per doc
        dic, n = assign_ids_hashed(dic, ["field", "term"], "term_id")
        # partition by term-hash bucket: query compile prunes its term
        # lookups to |query terms| buckets instead of scanning the whole
        # dictionary (10^9 terms at target scale)
        dic = dic.withColumn("dbucket", _dbucket())
        cat.write(dic, "dictionary", partition_by=["dbucket"])
        cat.set_props(next_term_id=int(n))   # delta-append high-water mark
        cat.commit_table("dictionary", rows=n)
        cat.metric("dictionary", rows=n, secs=time.time() - ts)

    # -------------------------------------------------------------- blocks
    if not cat.table_done("blocks"):
        build_blocks(spark, cat, n_buckets, cat.read(BUILD_TOKENS))
        cat.commit_table("blocks")
    cat.drop(BUILD_TOKENS)

    # -------------------------------------------------------------- metrics
    n_docs = cat.manifest()["tables"]["doc_store"]["rows"]
    wall = time.time() - t0
    cat.metric("build_total", docs=n_docs, secs=wall,
               docs_per_sec=(n_docs / wall if wall > 0 else None))
    cat.flush_meta()   # lineage/metrics/checkpoints as queryable tables
    return cat


N_DICT_BUCKETS = 64


def _salted(posts: DataFrame) -> DataFrame:
    """B4 skew handling: doc-range salt for terms above the df
    threshold (salt is monotone in doc_id, so (salt, block_ord) keeps
    global doc order per term)."""
    return (posts.withColumn("salt", F.when(
        F.col("df") > SALT_DF_THRESHOLD,
        (F.col("doc_id") / SALT_DOC_RANGE).cast("int")).otherwise(0))
        .select("term_id", "field", "salt", "doc_id", "tf", "dl",
                "wsum", "idf", "avgdl", "positions"))


def _dbucket():
    """Dictionary partition key — MUST match search.py's query-side
    computation exactly (same hash, same modulus)."""
    return F.pmod(F.xxhash64("field", "term"),
                  F.lit(N_DICT_BUCKETS)).cast("int")


def packed_blocks(posts: DataFrame, n_buckets: int,
                  width: int) -> DataFrame:
    """Posting rows (the ops._posting_rows shape) -> packed block rows
    with their bucket column, over ``width`` pack tasks."""
    return (_salted(posts)
            .repartition(width, "term_id", "salt")
            .sortWithinPartitions("term_id", "salt", "doc_id")
            .mapInPandas(blk.pack_sorted_partition, blk.BLOCKS_SCHEMA)
            .withColumn("bucket",
                        F.pmod("term_id", F.lit(n_buckets)).cast("int")))


def build_blocks(spark: SparkSession, cat: Catalog, n_buckets: int,
                 toks: DataFrame, chunk: int | None = None) -> None:
    """Pack the token rows ``toks`` (joined to the dictionary and the
    field stats) into compressed blocks, a chunk of term buckets per
    Spark job. Checkpoints stay PER BUCKET (the north-rule per-partition
    resume unit — a killed build redoes only unfinished buckets), but
    several buckets ride one job + one dynamic-partition-overwrite commit
    so driver job-scheduling latency doesn't serialize the stage."""
    from mias_spark.ops import _posting_rows
    ts0 = time.time()
    posts = _posting_rows(spark, cat, toks, n_buckets)
    chunk = chunk or max(1, n_buckets // 2)
    n_chunks = -(-n_buckets // chunk)
    from mias_spark.parallel import BYTES_PER_TASK, plan_size_bytes
    par = spark.sparkContext.defaultParallelism
    # sized from the token scan: a join plan's size estimate is the
    # product of its sides
    psize = plan_size_bytes(toks) or 0
    pack_width = int(max(par, min(
        4 * par, psize // n_chunks // BYTES_PER_TASK + 1)))
    # dynamic partition overwrite is scoped inside
    # Catalog.overwrite_partitions (set + restore per write)
    for c0 in range(0, n_buckets, chunk):
        todo = [b for b in range(c0, min(c0 + chunk, n_buckets))
                if not cat.checkpoint_done("blocks", f"bucket={b}")]
        if not todo:
            continue
        ts = time.time()
        packed = packed_blocks(posts.where(F.col("bucket").isin(todo)),
                               n_buckets, pack_width)
        cat.overwrite_partitions(packed, "blocks", ["bucket"])
        for b in todo:
            cat.checkpoint("blocks", f"bucket={b}", rows=-1,
                           t_start=ts, t_end=time.time())
    cat.metric("blocks", secs=time.time() - ts0)


def index_stats(cat: Catalog) -> dict:
    """S9 stats analog (Indexing.java:246-272) — live docs only."""
    m = cat.manifest()
    store = cat.read("doc_store")
    tomb = cat.tombstones()
    if tomb is not None:
        store = store.join(tomb, "doc_id", "leftanti")
    agg = store.agg(
        F.count("*").alias("n_docs"),
        F.sum("filesize").alias("total_bytes"),
        F.sum("n_formulae").alias("n_formulae")).collect()[0]
    return {
        "n_docs": agg["n_docs"],
        "total_input_bytes": agg["total_bytes"],
        "n_formulae": agg["n_formulae"],
        "n_terms": m["tables"].get("dictionary", {}).get("rows"),
        # packed postings (block n_docs summed — tombstoned docs count
        # until compaction drops them)
        "n_postings": int(cat.read("blocks")
                          .agg(F.sum("n_docs")).collect()[0][0] or 0),
        "snapshot": m["snapshot"],
    }
