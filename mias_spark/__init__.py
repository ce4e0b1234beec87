"""mias_spark — PySpark-native math-aware full-text index + BM25 engine.

Architecture (SURVEY.md §7, BASELINE.json north_rule):

    corpus (repo, path, commit, lang, content)      # Iceberg/parquet
      -> ingest.py      dense doc_id assignment + sha256 invariant
      -> tokenize.py    Arrow mapInPandas over mias_spec (text + M-terms)
      -> build.py       doc_norms / dictionary (dense term_id) /
                        delta-gap+varint packed posting blocks,
                        per-stage + per-bucket checkpoints (resumable)
      -> search.py      BM25 top-k: Catalyst DataFrame scorer (fallback)
                        + vectorized block scorer with block-max metadata

Everything expensive is either stock Catalyst (aggregations, joins,
partition pruning, top-k TakeOrderedAndProject) or an Arrow-batched
numpy kernel — no per-row Python UDFs anywhere.
"""
