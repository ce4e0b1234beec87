"""Correctness checks made apart from the engine.

Expected results come from ``mias_spec.oracle``, a single-process
pandas index over the same generated inputs; nothing here is a saved
copy of earlier output. Results are compared on the id-independent key
(score rounded to 1e-6, ``doc_key``), because a MERGE-upserted index
numbers its docs differently than a fresh build and ties may legally
come back in another order.
"""

from __future__ import annotations

import multiprocessing
from collections import Counter
from concurrent.futures import ProcessPoolExecutor

import numpy as np
import pandas as pd

from mias_spec import oracle

KINDS = ("search", "upsert", "compact", "check")


class Ops:
    """Attempted / failed operation counts per kind, the errors of
    failed operations, and the failed checks (``problems``)."""

    def __init__(self) -> None:
        self.attempted: Counter = Counter()
        self.failed: Counter = Counter()
        self.errors: list[str] = []
        self.problems: list[str] = []

    def count(self, kind: str, ok: bool = True) -> None:
        self.attempted[kind] += 1
        if not ok:
            self.failed[kind] += 1

    def error(self, kind: str, what: str, e: Exception) -> None:
        self.count(kind, False)
        self.errors.append(f"{kind} {what}: {e!r}"[:300])

    def check(self, ok: bool, what: str) -> bool:
        self.count("check", ok)
        if not ok:
            self.problems.append(what)
        return ok

    def summary(self) -> dict:
        return {k: {"attempted": self.attempted[k],
                    "failed": self.failed[k]} for k in KINDS}


def scored_keys(hits: pd.DataFrame, key_of: dict) -> list[tuple]:
    """[(score rounded to 1e-6, doc_key)] in result order."""
    return [(round(float(s), 6), key_of[int(d)])
            for d, s in zip(hits["doc_id"], hits["score"])]


def oracle_ranking(oidx, req) -> list[tuple]:
    """Every oracle hit of ``req`` as (score, doc_key), best first."""
    exp = oracle.search(oidx, req.text, req.variant, k=10 ** 9)
    keys = oidx.docs.set_index("doc_id").loc[exp["doc_id"], "doc_key"]
    return sorted(zip(np.round(exp["score"].astype(float), 6), keys),
                  key=lambda p: (-p[0], p[1]))


_OIDX = None


def _build(corpus: pd.DataFrame) -> None:
    global _OIDX
    _OIDX = oracle.build_index(corpus)


def _rankings(reqs: list) -> list[list[tuple]]:
    return [oracle_ranking(_OIDX, r) for r in reqs]


class OracleProcess:
    """The oracle built in a process of its own, so that building it
    does not take the interpreter lock from the driver thread while the
    engine serves untimed warm-up searches."""

    def __init__(self, corpus: pd.DataFrame) -> None:
        self.pool = ProcessPoolExecutor(
            1, mp_context=multiprocessing.get_context("spawn"))
        self.built = self.pool.submit(_build, corpus)

    def prefetch(self, reqs: list):
        """A future of the oracle rankings of ``reqs``, computed once
        the oracle is built; read it with ``result``."""
        return self.pool.submit(_rankings, reqs)

    def result(self, fut) -> list[list[tuple]]:
        self.built.result()       # raises if the build failed
        return fut.result()

    def close(self) -> None:
        self.pool.shutdown(wait=True, cancel_futures=True)


def matches_oracle(got: list[tuple], ranking: list[tuple], k: int,
                   offset: int) -> bool:
    """``got`` is a correct page [offset, offset + k) of ``ranking``:
    the same scores position by position, and the same docs except
    that docs tied on a score cut by the page edge may be any of the
    tied ones."""
    want = ranking[offset:offset + k]
    if [s for s, _ in got] != [s for s, _ in want]:
        return False
    edge = {want[0][0], want[-1][0]} if want else set()
    for s in {s for s, _ in want}:
        g = {d for gs, d in got if gs == s}
        w = {d for ws, d in want if ws == s}
        if s in edge:
            if not g <= {d for rs, d in ranking if rs == s}:
                return False
        elif g != w:
            return False
    return True


def properties(ops: Ops, res, req, what: str) -> None:
    """Properties every result must have, whatever the index state."""
    scores = res.hits["score"].astype(float).to_numpy()
    ops.check(bool(np.all(np.diff(scores) <= 1e-9)),
              f"{what}: scores increase")
    ops.check(len(res.hits) <= req.k, f"{what}: more than k hits")
    ops.check(res.total_hits >= len(res.hits) + (
        req.offset if len(res.hits) else 0),
              f"{what}: total_hits below the hits returned")
