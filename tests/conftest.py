import itertools
import shutil

import pytest


@pytest.fixture(scope="session")
def spark():
    from mias_spark.session import get_spark
    s = get_spark(cpus="8", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def tiny_build(spark, tmp_path_factory):
    """300-doc corpus indexed once per test session."""
    from mias_spark.build import build_index
    from mias_spec import corpus, oracle
    c = corpus.make_corpus(300)
    ix = str(tmp_path_factory.mktemp("ix") / "ix300")
    cat = build_index(spark, spark.createDataFrame(c), ix, n_buckets=4)
    oidx = oracle.build_index(c)
    yield c, cat, oidx, ix
    shutil.rmtree(ix, ignore_errors=True)


@pytest.fixture(scope="session")
def tomb_ix(spark, tmp_path_factory):
    """A 120-doc index after a delete and a MERGE upsert that
    redelivers three live docs with changed content and adds ten new
    ones: tombstones plus delta segments. Returns (index dir, the
    equivalent live corpus). Read-only for its users."""
    import pandas as pd

    from mias_spark.build import build_index
    from mias_spark.ops import delete_by_path, upsert
    from mias_spec import corpus
    c = corpus.make_corpus(120)
    ix = str(tmp_path_factory.mktemp("tomb") / "ix120")
    build_index(spark, spark.createDataFrame(c), ix, n_buckets=2)
    assert delete_by_path(spark, ix, "src/dir3/") > 0
    live = c[~c["path"].str.startswith("src/dir3/")]
    changed = live.iloc[[1, 5, 8]].copy()
    changed["content"] = [
        "<html><body><p>energy energy items total electron</p>"
        "</body></html>",
        "<html><body><p>quantum electron momentum energy</p>"
        "</body></html>",
        "<html><body><p>items total items total data</p></body></html>"]
    extra = corpus.make_corpus(130).iloc[120:130]
    delta = pd.concat([changed, extra], ignore_index=True)
    assert upsert(spark, ix, spark.createDataFrame(delta)) == \
        {"added": 13, "replaced": 3}
    expected = pd.concat([live.drop(index=changed.index), delta],
                         ignore_index=True)
    return ix, expected


@pytest.fixture(scope="session")
def jobs_of(spark):
    """fn -> (fn(), number of Spark jobs it ran), counted via a job
    group of the calling thread."""
    sc = spark.sparkContext
    seq = itertools.count()

    def run(fn):
        group = f"count-jobs-{next(seq)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setJobGroup("", "")
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
