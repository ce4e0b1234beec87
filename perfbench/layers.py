"""Per-layer measurement, all of it from outside the program: timers
around public entry points, Spark's own job records, and the files the
index leaves on disk."""

from __future__ import annotations

import os
import re
import time
from collections import defaultdict

#: a job name is "<action> at <call site>"; PySpark actions carry the
#: Python frame that called them
_SITE_RE = re.compile(r"(mias_spark|mias_spec|perfbench)/(\w+)\.py")


class SparkJobs:
    """Reads finished jobs from the status store. The store keeps only
    the last 1,000 jobs, so ``take`` runs after every layer call."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.seen = -1
        self.job_s: dict[str, float] = defaultdict(float)

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def take(self) -> list[dict]:
        """Jobs finished since the last call: group, tasks, seconds and
        the program module named by the call site (else the group)."""
        self.sc.setJobGroup("", "")
        jobs = self.store.jobsList(None)    # newest job first
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self.seen:
                break
            g = j.jobGroup()
            group = g.get() if g.isDefined() else ""
            sub, end = j.submissionTime(), j.completionTime()
            secs = ((end.get().getTime() - sub.get().getTime()) / 1e3
                    if sub.isDefined() and end.isDefined() else 0.0)
            m = _SITE_RE.search(j.name())
            mod = (m.group(2) if m and m.group(1) == "mias_spark"
                   else (m.group(1) if m else group.split(".")[0]))
            out.append({"id": j.jobId(), "group": group, "module": mod,
                        "tasks": j.numTasks(), "secs": secs})
        if out:
            self.seen = max(x["id"] for x in out)
        for x in out:
            self.job_s[x["module"]] += x["secs"]
        return out


def timed_call(jobs: SparkJobs | None, group: str, fn, *a, **kw):
    """(result, seconds, jobs) of one layer call under its job group."""
    if jobs is not None:
        jobs.take()
        jobs.group(group)
    t0 = time.perf_counter()
    try:
        out = fn(*a, **kw)
    finally:
        dt = time.perf_counter() - t0
        taken = jobs.take() if jobs is not None else []
    return out, dt, taken


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    n = size = 0
    for dp, _dirs, files in os.walk(path):
        for f in files:
            size += os.path.getsize(os.path.join(dp, f))
            n += 1
    return size, n


def file_stamps(path: str) -> dict[str, tuple[int, float]]:
    stamps = {}
    for dp, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(dp, f)
            st = os.stat(p)
            stamps[p] = (st.st_size, st.st_mtime)
    return stamps


def written_bytes(before: dict, after: dict) -> int:
    """Bytes of files that are new or rewritten between two stamps."""
    return sum(s for p, (s, m) in after.items() if before.get(p) != (s, m))


def table_bytes(index_dir: str, tables) -> dict[str, float]:
    return {f"catalog.table_bytes.{t}":
            float(tree_bytes(os.path.join(index_dir, t))[0])
            for t in tables}


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cache_bytes(spark) -> float:
    """Storage memory and disk of every persisted RDD."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return float(sum(i.memSize() + i.diskSize() for i in infos))


def build_stage_s(cat) -> dict[str, float]:
    """Stage seconds from the rows build_index writes to _meta/metrics;
    ``unrecorded`` is the build's wall time the stages leave out."""
    rows = cat.meta_table("metrics").toPandas()
    secs = {r.stage: float(r.secs) for r in rows.itertuples()
            if r.secs is not None}
    stages = ["doc_store", "tokens", "doc_norms", "dictionary", "postings"]
    out = {f"build.stage_s.{s}": secs.get(s, 0.0) for s in stages}
    out["build.stage_s.unrecorded"] = (
        secs.get("build_total", 0.0) - sum(secs.get(s, 0.0) for s in stages))
    return out


def tokenize_docs_per_s(spark, corpus_pdf) -> float:
    """``tokenize_docs`` over the corpus into Spark's no-op sink."""
    from pyspark.sql import functions as F

    from mias_spark.tokenize import tokenize_docs
    df = (spark.createDataFrame(corpus_pdf[["lang", "content"]])
          .withColumn("doc_id", F.monotonically_increasing_id()))
    df = df.select("doc_id", "content", "lang").cache()
    df.count()
    t0 = time.perf_counter()
    tokenize_docs(df).write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    df.unpersist()
    return len(corpus_pdf) / dt


def spec_metrics(sample_pdf, queries) -> dict[str, float]:
    """Single-process spec library: tokenize a corpus sample, compile
    every query of the mix."""
    from mias_spec.document import tokenize_document
    from mias_spec.queries import compile_query
    t0 = time.perf_counter()
    for c, lang in zip(sample_pdf["content"], sample_pdf["lang"]):
        tokenize_document(c, lang)
    tok = len(sample_pdf) / (time.perf_counter() - t0)
    reps = 20
    t0 = time.perf_counter()
    for _ in range(reps):
        for r in queries:
            compile_query(r.text, r.variant)
    us = (time.perf_counter() - t0) / (reps * len(queries)) * 1e6
    return {"spec.tokenize_docs_per_s": tok, "spec.compile_query_us": us}


def blocks_metrics(cat):
    """(decode postings/s over every block, blocks per term_id)."""
    from mias_spark.blocks import unpack_block
    pdf = cat.read("blocks").toPandas()
    t0 = time.perf_counter()
    n = 0
    for row in pdf.itertuples():
        n += len(unpack_block(row)[0])
    dt = time.perf_counter() - t0
    return n / dt, pdf.groupby("term_id").size().to_dict()
