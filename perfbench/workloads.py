"""The two workloads. Each returns (end-to-end metrics, per-layer
metrics); per-layer ones are only gathered when ``ctx.jobs`` is set,
which is the traced run."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import checks
import inputs
import layers
from inputs import Req

INDEX_TABLES = ("doc_store", "tokens", "doc_norms", "dictionary",
                "postings", "blocks", "_meta")
#: Spark job time is reported for these modules; jobs of any other
#: module are summed under "other"
JOB_MODULES = ("build", "ids", "tokenize", "search", "ops", "perfbench",
               "other")


@dataclass
class Sizes:
    """Input sizes; ``tiny`` is the quick self-test."""
    text_scale: str = "sf0.1"
    n_math: int = 500
    math_density: int = 4
    q_buckets: int = 4
    complete_k: int = 1000
    n_base: int = 600
    n_new: int = 10
    n_redeliver: int = 5
    c_buckets: int = 2

    @classmethod
    def tiny(cls) -> "Sizes":
        return cls(text_scale="sf0.001", n_math=20, math_density=2,
                   n_base=60, n_new=4, n_redeliver=2)


@dataclass
class Ctx:
    spark: object
    session_s: float
    seed: int
    seconds: float
    work: str
    sizes: Sizes
    jobs: layers.SparkJobs | None
    ops: checks.Ops = field(default_factory=checks.Ops)
    rng: np.random.Generator = field(init=False)
    #: wall seconds per phase of the run, and (kind, ms) of every
    #: search, printed to stderr
    phases: dict = field(default_factory=dict)
    searches: list = field(default_factory=list)
    _t: float = field(default_factory=time.perf_counter)

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng(self.seed)

    def mark(self, phase: str) -> None:
        """Close the running phase under the name ``phase``."""
        now = time.perf_counter()
        self.phases[phase] = round(now - self._t, 2)
        self._t = now


# ------------------------------------------------------------- helpers

def content_bytes(pdf: pd.DataFrame) -> int:
    return int(pdf["content"].str.encode("utf-8").str.len().sum())


def build(ctx: Ctx, corpus: pd.DataFrame, ix: str, n_buckets: int):
    """Stage the corpus and build; returns (setup_s, build_s, jobs)."""
    from mias_spark.build import build_index
    t0 = time.perf_counter()
    sdf = ctx.spark.createDataFrame(corpus)
    stage_s = time.perf_counter() - t0
    _, build_s, jobs = layers.timed_call(
        ctx.jobs, "build", build_index, ctx.spark, sdf, ix,
        n_buckets=n_buckets, resume=False)
    return ctx.session_s + stage_s + build_s, build_s, jobs


def search(ctx: Ctx, eng, req: Req, group: str = "search"):
    """(result or None, seconds, jobs) of one request on the engine's
    default plan; a raised error counts as a failed search."""
    try:
        res, dt, jobs = layers.timed_call(
            ctx.jobs, group, eng.search, req.text, k=req.k,
            offset=req.offset, variant=req.variant,
            with_fields=req.with_fields, snippets=req.snippets)
    except Exception as e:   # noqa: BLE001 - counted, reported
        ctx.ops.error("search", req.kind, e)
        return None, 0.0, []
    ctx.ops.count("search")
    ctx.searches.append((req.kind, round(dt * 1e3)))
    return res, dt, jobs


def doc_keys(eng) -> tuple[pd.DataFrame, dict]:
    """The doc store's (doc_id, doc_key) rows and doc_id -> doc_key."""
    store = eng.cat.read("doc_store").select("doc_id", "doc_key").toPandas()
    return store, dict(zip(store["doc_id"], store["doc_key"]))


def check_against_oracle(ctx: Ctx, ranking: list, key_of: dict, req: Req,
                         res, what: str) -> None:
    got = checks.scored_keys(res.hits, key_of)
    ctx.ops.check(checks.matches_oracle(got, ranking, req.k, req.offset),
                  f"{what}: {req.kind} differs from the oracle")
    if res.total_hits_relation == "eq":
        ctx.ops.check(res.total_hits == len(ranking),
                      f"{what}: {req.kind} total_hits {res.total_hits} "
                      f"!= oracle {len(ranking)}")


def same_hits(a, b) -> bool:
    return (list(a.hits["doc_id"]) == list(b.hits["doc_id"])
            and np.allclose(a.hits["score"].astype(float),
                            b.hits["score"].astype(float), atol=1e-6))


def pct(values, q) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


def index_layer_metrics(ctx: Ctx, ix: str) -> dict:
    from mias_spark.catalog import Catalog
    out = layers.table_bytes(ix, INDEX_TABLES)
    out["catalog.files"] = float(layers.tree_bytes(ix)[1])
    out["catalog.manifest_bytes"] = float(
        os.path.getsize(Catalog(ctx.spark, ix)._mpath()))
    return out


def job_layer_metrics(ctx: Ctx) -> dict:
    out = {f"spark.job_s.{m}": 0.0 for m in JOB_MODULES}
    for m, s in ctx.jobs.job_s.items():
        key = f"spark.job_s.{m if m in JOB_MODULES else 'other'}"
        out[key] += s
    out["spark.jvm_peak_rss_mb"] = layers.jvm_peak_rss_mb(ctx.spark)
    return out


def search_layer_metrics(ctx: Ctx, eng, reqs: list[Req],
                         block_counts: dict) -> dict:
    """Warm per-phase costs over ``reqs``: compile, hits only, display
    fields, snippets, and each physical plan forced while it exists.
    ``block_counts``: blocks per term_id, for the skipped share."""
    out: dict[str, float] = {}
    comp = []
    for r in reqs:
        for _ in range(2):
            comp.append(layers.timed_call(
                ctx.jobs, "search.compile", eng.compile, r.text,
                r.variant)[1])
    out["search.compile_ms"] = pct(comp, 50) * 1e3
    phase: dict[str, list] = {"hits": [], "fields": [], "snippets": []}
    for r in reqs:
        for name, wf, sn in (("hits", False, False),
                             ("fields", True, False),
                             ("snippets", True, True)):
            v = Req(r.kind, r.text, variant=r.variant, with_fields=wf,
                    snippets=sn)
            for _ in range(2):
                phase[name].append(search(ctx, eng, v, "search.phase")[1])
    hits, fields = pct(phase["hits"], 50), pct(phase["fields"], 50)
    out["search.hits_only_ms"] = hits * 1e3
    out["search.display_ms"] = (fields - hits) * 1e3
    out["search.snippets_ms"] = (pct(phase["snippets"], 50) - fields) * 1e3
    skipped = considered = 0
    for mode in ("df", "blocks"):
        lat = []
        try:
            for r in reqs:
                v = Req(r.kind, r.text, variant=r.variant)
                for i in range(3):
                    res, dt, _ = layers.timed_call(
                        ctx.jobs, f"search.{mode}", eng.search, v.text,
                        k=v.k, variant=v.variant, with_fields=False,
                        mode=mode)
                    if i:
                        lat.append(dt)
                    if mode == "blocks" and i == 1 and res.blocks_stats:
                        clauses = eng.compile(v.text, v.variant)[0]
                        considered += sum(block_counts.get(int(t), 0)
                                          for t in clauses["term_id"])
                        skipped += res.blocks_stats["skipped_blocks"]
            out[f"search.plan_ms.{mode}"] = pct(lat, 50) * 1e3
        except (ValueError, TypeError):   # the plan no longer exists
            out[f"search.plan_ms.{mode}"] = 0.0
    out["search.blocks_skipped_share"] = skipped / max(considered, 1)
    return out


# ------------------------------------------------------- query_serving

def query_serving(ctx: Ctx) -> tuple[dict, dict]:
    sz, rng = ctx.sizes, ctx.rng
    corpus = pd.concat(
        [inputs.text_docs(sz.text_scale),
         inputs.math_docs(rng, sz.n_math, sz.math_density)],
        ignore_index=True)
    ix = os.path.join(ctx.work, "ix_query_serving")
    ctx.mark("inputs")
    setup_s, build_s, bjobs = build(ctx, corpus, ix, sz.q_buckets)
    ctx.mark("build")

    # the oracle is built, and ranks the popular shapes, beside the
    # untimed warm-up pass; both are done before the timed phase starts
    orc = checks.OracleProcess(corpus)
    try:
        return serve(ctx, corpus, ix, orc, setup_s, build_s, bjobs)
    finally:
        orc.close()


def serve(ctx: Ctx, corpus, ix, orc, setup_s, build_s, bjobs):
    from mias_spark.search import Engine
    sz, rng = ctx.sizes, ctx.rng
    eng = Engine(ctx.spark, ix, cache=True)
    pool = inputs.popular_pool(sz.complete_k)
    ranked = orc.prefetch([r for r, _ in pool])
    first: dict[tuple, tuple] = {}
    touch = []
    for r, _ in pool:
        res, dt, _ = search(ctx, eng, r, "search.first_touch")
        touch.append(dt)
        if res is not None:
            first[r.key] = (r, res)
    ctx.mark("warm_up")
    ranking = dict(zip([r.key for r, _ in pool], orc.result(ranked)))
    ctx.mark("oracle_wait")

    # timed phase: whole cycles of 16 repeats + 4 never-seen shapes; the
    # never-seen fifth is the slow population, so p50 falls well inside
    # the repeats
    cycles = inputs.query_cycles(rng, pool, fresh=4)
    lat, njobs, ntasks, served = [], [], [], []
    t0 = time.perf_counter()
    while True:
        for r in next(cycles):
            res, dt, jobs = search(ctx, eng, r)
            if res is None:
                continue
            lat.append(dt)
            njobs.append(len(jobs))
            ntasks.append(sum(j["tasks"] for j in jobs))
            served.append((r, res))
        wall = time.perf_counter() - t0
        if wall >= ctx.seconds:
            break
    cache_b = layers.cache_bytes(ctx.spark) if ctx.jobs else 0.0
    ctx.mark("timed")

    # ---- checks
    key_of = doc_keys(eng)[1]
    for r, res in served + list(first.values()):
        checks.properties(ctx.ops, res, r, "query_serving")
        if r.key in first:
            ctx.ops.check(same_hits(res, first[r.key][1]),
                          f"repeat of {r.kind} changed its hits")
        else:
            first[r.key] = (r, res)
    new = [r for r, _ in first.values() if r.key not in ranking]
    ranking.update(zip([r.key for r in new],
                       orc.result(orc.prefetch(new))))
    for r, res in first.values():
        check_against_oracle(ctx, ranking[r.key], key_of, r, res,
                             "query_serving")
    complete = [(r, res) for r, res in first.values()
                if r.k == sz.complete_k]
    for r, res in complete:
        ctx.ops.check(len(res.hits) < r.k,
                      f"{r.kind}: k={r.k} does not hold every hit")
    paged = next(v for v in first.values() if v[0].kind == "paging")
    r = paged[0]
    whole, _, _ = search(ctx, eng, Req("unpaged", r.text, r.k + r.offset))
    if whole is not None:
        tail = whole.hits.iloc[r.offset:].reset_index(drop=True)
        ctx.ops.check(
            list(tail["doc_id"]) == list(paged[1].hits["doc_id"])
            and np.allclose(tail["score"].astype(float),
                            paged[1].hits["score"].astype(float)),
            "paged query differs from the unpaged slice")

    e2e = {
        "setup_s": (setup_s, "s"),
        "index_bytes_per_input_byte": (
            layers.tree_bytes(ix)[0] / content_bytes(corpus), "B/B"),
        "search_p50_ms": (pct(lat, 50) * 1e3, "ms"),
    }
    ctx.mark("checks")
    if ctx.jobs is None:
        eng.close()
        return e2e, {}

    from mias_spark.catalog import Catalog
    cat = Catalog(ctx.spark, ix)
    pl = {
        "session.start_s": ctx.session_s,
        "build.wall_s": build_s,
        "build.docs_per_s": len(corpus) / build_s,
        "build.spark_jobs": float(len(bjobs)),
        "build.spark_tasks": float(sum(j["tasks"] for j in bjobs)),
        **layers.build_stage_s(cat),
        "search.first_touch_ms": pct(touch, 50) * 1e3,
        "search.spark_jobs_per_query": float(np.mean(njobs)),
        "search.spark_tasks_per_query": float(np.mean(ntasks)),
        "search.spark_jobs_per_query_after_commit": 0.0,
        "search.qps": len(lat) / wall,
        "search.cache_bytes": cache_b,
        **no_ops(),
        **index_layer_metrics(ctx, ix),
    }
    reqs = [r for r, _ in pool]
    common, block_counts = common_trace(ctx, corpus, reqs, cat)
    pl.update(common)
    pl.update(search_layer_metrics(ctx, eng, probe_reqs(reqs), block_counts))
    eng.close()
    pl.update(job_layer_metrics(ctx))
    return e2e, pl


def probe_reqs(pool: list[Req]) -> list[Req]:
    """One text, one phrase and one formula shape of the pool."""
    kinds = ("text", "phrase", "math_mixed")
    return [r for r in pool if r.kind in kinds]


def common_trace(ctx: Ctx, corpus, pool, cat) -> tuple[dict, dict]:
    """Spec, tokenize and blocks layer metrics, and blocks per term_id."""
    sample = corpus.iloc[ctx.rng.permutation(len(corpus))[:300]]
    out = layers.spec_metrics(sample, pool)
    out["tokenize.docs_per_s"] = layers.timed_call(
        ctx.jobs, "tokenize", layers.tokenize_docs_per_s, ctx.spark,
        corpus)[0]
    (rate, counts), _, _ = layers.timed_call(
        ctx.jobs, "blocks", layers.blocks_metrics, cat)
    out["blocks.decode_postings_per_s"] = rate
    return out, counts


def no_ops() -> dict:
    return {k: 0.0 for k in (
        "ops.upsert_s", "ops.upsert_docs_per_s", "ops.visible_ms",
        "ops.upsert_spark_jobs", "ops.compact_s", "ops.compact_spark_jobs",
        "ops.compact_bytes_rewritten", "ops.tombstones",
        "ops.dict_segments")}


# -------------------------------------------------------- stream_churn

def mark(content: str, lang: str, term: str) -> str:
    """``content`` with ``term`` added where the format indexes it."""
    if lang == "xhtml":
        return content.replace("</body>", f"<p>{term}</p></body>")
    return f"{content}\n{term}\n"


def stream_churn(ctx: Ctx) -> tuple[dict, dict]:
    from mias_spark.catalog import Catalog
    from mias_spark.ops import compact_step, upsert
    from mias_spark.search import Engine
    from mias_spec import oracle
    from mias_spec.document import doc_key

    sz, rng = ctx.sizes, ctx.rng
    docs = inputs.mixed_docs(rng, sz.n_base + sz.n_new)
    live = docs.iloc[:sz.n_base].reset_index(drop=True)
    ix = os.path.join(ctx.work, "ix_stream_churn")
    ctx.mark("inputs")
    setup_s, build_s, bjobs = build(ctx, live, ix, sz.c_buckets)
    ctx.mark("build")
    base_n = len(live)
    eng = Engine(ctx.spark, ix, cache=True)
    cat = Catalog(ctx.spark, ix)
    term = f"churn_s{ctx.seed}"
    timed_req = Req("text", "energy")
    batch_req = Req("batch_term", term, k=sz.complete_k, with_fields=False)
    check_reqs = [batch_req, Req(
        "math_exact", inputs.render_math(inputs.EXACT_AST),
        k=sz.complete_k, with_fields=False)]

    # one MERGE micro-batch: new docs plus redeliveries of live docs with
    # changed content, all carrying the batch's unique term
    redo = live.iloc[rng.choice(len(live), size=sz.n_redeliver,
                                replace=False)]
    delta = pd.concat([docs.iloc[sz.n_base:], redo], ignore_index=True)
    delta["content"] = [mark(c, lg, term) for c, lg in
                        zip(delta["content"], delta["lang"])]
    sdf = ctx.spark.createDataFrame(delta)
    t0 = time.perf_counter()
    _, up_s, up_jobs = layers.timed_call(ctx.jobs, "ops.upsert", upsert,
                                         ctx.spark, ix, sdf)
    ctx.ops.count("upsert")
    vis, _, _ = search(ctx, eng, batch_req)
    visible_s = time.perf_counter() - t0
    ctx.mark("upsert")
    gone = set(zip(redo["repo"], redo["path"], redo["commit"]))
    keep = [k not in gone for k in
            zip(live["repo"], live["path"], live["commit"])]
    live = pd.concat([live[keep], delta], ignore_index=True)

    # timed searches on the churned index (tombstones, delta segments, a
    # signed-df dictionary delta). The commit dropped the engine's
    # caches, so the first search (2-4x a repeat) stays out of the
    # samples; then at least ten repeats of one popular request, so the
    # median is not cut between two request shapes
    rows = [("commit", batch_req, vis)] if vis is not None else []
    lat, first_touch, njobs, ntasks = [], [], [], []
    wall, tries = 0.0, 0
    while (len(lat) < 10 or wall < ctx.seconds / 2) and tries < 100:
        tries += 1
        res, dt, jobs = search(ctx, eng, timed_req)
        if res is None:
            continue
        rows.append(("commit", timed_req, res))
        if not first_touch:
            first_touch.append(dt)
            continue
        lat.append(dt)
        wall += dt
        njobs.append(len(jobs))
        ntasks.append(sum(j["tasks"] for j in jobs))
    ctx.mark("search")
    for r in check_reqs[1:]:
        res, _, _ = search(ctx, eng, r)
        if res is not None:
            rows.append(("commit", r, res))

    # ---- checks after the commit
    oidx = oracle.build_index(live)
    ranking = {r.key: checks.oracle_ranking(oidx, r)
               for r in [timed_req] + check_reqs}
    store, key_of = doc_keys(eng)
    newest = store.groupby("doc_key")["doc_id"].transform("max")
    dead = set(store.loc[store["doc_id"] != newest, "doc_id"])
    if vis is not None:
        got = {key_of[int(d)] for d in vis.hits["doc_id"]}
        want = {doc_key(*k) for k in zip(
            delta["repo"], delta["path"], delta["commit"])}
        ctx.ops.check(got == want,
                      "the batch term does not return exactly the batch")

    def verify(rows: list, key_of: dict) -> None:
        for state, r, res in rows:
            checks.properties(ctx.ops, res, r, state)
            ctx.ops.check(not dead & set(res.hits["doc_id"].astype(int)),
                          f"{state}: a replaced version was returned")
            if r.k == sz.complete_k:
                ctx.ops.check(len(res.hits) < r.k,
                              f"{r.kind}: k={r.k} does not hold every hit")
        for state, r, res in {r.key: (s, r, x) for s, r, x in rows}.values():
            check_against_oracle(ctx, ranking[r.key], key_of, r, res, state)

    verify(rows, key_of)
    index_b = layers.tree_bytes(ix)[0]
    ctx.mark("checks")
    e2e = {
        "setup_s": (setup_s, "s"),
        "index_bytes_per_input_byte": (index_b / content_bytes(live), "B/B"),
        "search_p50_ms": (pct(lat, 50) * 1e3, "ms"),
    }
    if ctx.jobs is None:
        eng.close()
        return e2e, {}

    # ---- traced run only: one out-of-band compact_step (the default
    # bounded step), then every request again, unchanged
    before = {r.key: res for _, r, res in rows}
    tomb = cat.tombstones()
    n_tomb = float(tomb.count()) if tomb is not None else 0.0
    stamps = layers.file_stamps(ix)
    _, compact_s, cjobs = layers.timed_call(
        ctx.jobs, "ops.compact", compact_step, ctx.spark, ix)
    ctx.ops.count("compact")
    rewritten = layers.written_bytes(stamps, layers.file_stamps(ix))
    after = []
    for r in [timed_req] + check_reqs:
        res, dt, _ = search(ctx, eng, r)
        if res is not None:
            after.append(("compacted", r, res))
            first_touch.append(dt)
    key_of = doc_keys(eng)[1]
    verify(after, key_of)
    for _, r, res in after:
        ctx.ops.check(
            sorted(checks.scored_keys(res.hits, key_of))
            == sorted(checks.scored_keys(before[r.key].hits, key_of)),
            f"{r.kind}: results changed across compact_step")
    ctx.mark("compact")

    props = cat.props()
    pl = {
        "session.start_s": ctx.session_s,
        "build.wall_s": build_s,
        "build.docs_per_s": base_n / build_s,
        "build.spark_jobs": float(len(bjobs)),
        "build.spark_tasks": float(sum(j["tasks"] for j in bjobs)),
        **layers.build_stage_s(cat),
        "search.first_touch_ms": pct(first_touch, 50) * 1e3,
        "search.spark_jobs_per_query": float(np.mean(njobs)),
        "search.spark_tasks_per_query": float(np.mean(ntasks)),
        "search.spark_jobs_per_query_after_commit": float(np.mean(njobs)),
        "search.qps": len(lat) / wall,
        "search.cache_bytes": layers.cache_bytes(ctx.spark),
        "ops.upsert_s": up_s,
        "ops.upsert_docs_per_s": len(delta) / up_s,
        "ops.visible_ms": visible_s * 1e3,
        "ops.upsert_spark_jobs": float(len(up_jobs)),
        "ops.compact_s": compact_s,
        "ops.compact_spark_jobs": float(len(cjobs)),
        "ops.compact_bytes_rewritten": float(rewritten),
        "ops.tombstones": n_tomb,
        "ops.dict_segments": float(props.get("dict_segments", 0)),
        **index_layer_metrics(ctx, ix),
    }
    common, block_counts = common_trace(ctx, live,
                                        [timed_req] + check_reqs, cat)
    pl.update(common)
    pl.update(search_layer_metrics(ctx, eng, [timed_req, check_reqs[1]],
                                   block_counts))
    eng.close()
    pl.update(job_layer_metrics(ctx))
    return e2e, pl


WORKLOADS = {"query_serving": query_serving, "stream_churn": stream_churn}
