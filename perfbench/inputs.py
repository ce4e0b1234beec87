"""Seeded benchmark inputs: corpora and query mixes.

Every generator takes a ``numpy.random.Generator`` made from ``--seed``,
so the same seed gives byte-identical inputs. The program only ever
sees the generated corpus rows and query strings.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

from mias_spec import corpus as spec_corpus
from mias_spec.corpus import EXACT_AST, random_ast, render_math
from mias_spec.queries import FUZZY_QUERY_AST

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
COLS = ["repo", "path", "commit", "lang", "content"]

#: vocabulary of the sf documents table (its generator's word list)
#: (the stopwords "a" and "the" left out)
SF_VOCAB = """agg batch big column customer data fast filter group hash join
key line merge order part query row scan slow small sort spark stream table
value vector window""".split()


@dataclass(frozen=True)
class Req:
    """One search request as a caller issues it."""
    kind: str
    text: str
    k: int = 10
    offset: int = 0
    variant: str = "BOTH"
    with_fields: bool = True
    snippets: bool = False

    @property
    def key(self) -> tuple:
        return (self.text, self.k, self.offset, self.variant,
                self.with_fields, self.snippets)


def text_docs(scale: str) -> pd.DataFrame:
    """The ``documents`` table at ``scale`` (sf0.1 / sf0.001) mapped to
    the corpus shape (repo, path, commit, lang, content)."""
    d = pd.read_parquet(os.path.join(DATA, f"{scale}_documents.parquet"))
    return pd.DataFrame({
        "repo": "corpus/" + d["source"],
        "path": "docs/doc_" + d["doc_id"].astype(str) + ".txt",
        "commit": "0" * 40, "lang": "text", "content": d["text"]})


def math_docs(rng: np.random.Generator, n: int,
              density: int) -> pd.DataFrame:
    """``n`` math-dense xhtml docs drawn from twice as many candidates."""
    pool = spec_corpus.make_corpus(4 * n, density)
    pool = pool[pool["lang"] == "xhtml"].reset_index(drop=True)
    pick = np.sort(rng.choice(len(pool), size=n, replace=False))
    return pool.iloc[pick][COLS].reset_index(drop=True)


def mixed_docs(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """``n`` mixed-format docs (xhtml / markdown / python) in seeded
    order, drawn from twice as many candidates."""
    pool = spec_corpus.make_corpus(2 * n)
    pick = rng.choice(len(pool), size=n, replace=False)
    return pool.iloc[pick][COLS].reset_index(drop=True)


def popular_pool(complete_k: int) -> list[tuple[Req, int]]:
    """Repeat-traffic shapes covering every kind in
    ``mias_spec.queries.reference_queries()``, most popular first, each
    with its number of requests in a cycle of 16 (a Zipf-like skew)."""
    exact = render_math(EXACT_AST)
    return [
        (Req("text", "energy"), 4),
        (Req("conjunctive", "spark join merge"), 2),
        (Req("math_exact", exact, k=complete_k, with_fields=False), 2),
        (Req("phrase", '"hash join"', snippets=True), 1),
        (Req("not", "energy -momentum"), 1),
        (Req("title", "title:relativity", snippets=True), 1),
        (Req("math_fuzzy", render_math(FUZZY_QUERY_AST)), 1),
        (Req("math_mixed", f"einstein {exact}"), 1),
        (Req("variant_c", exact, variant="C"), 1),
        (Req("variant_p", exact, variant="P", with_fields=False), 1),
        (Req("paging", "energy", offset=10), 1),
    ]


def never_seen(rng: np.random.Generator, j: int) -> Req:
    """The ``j``-th never-seen shape: alternately a three-word text
    query over the sf vocabulary and a formula query."""
    if j % 2 == 0:
        words = sorted(rng.choice(len(SF_VOCAB), size=3, replace=False))
        return Req("new_text", " ".join(SF_VOCAB[w] for w in words))
    i = int(rng.integers(1, 10 ** 6))
    return Req("new_math", render_math(random_ast(i, 1 + j % 4)))


def query_cycles(rng: np.random.Generator, pool: list[tuple[Req, int]],
                 fresh: int):
    """Endless cycles: every popular shape its fixed number of times
    plus ``fresh`` never-seen shapes, in seeded order. Whole cycles keep
    the mix the same in every run, whatever the seed. A drawn shape
    that was already issued is drawn again, so "never seen" holds."""
    seen = {r.text for r, _ in pool}
    j = 0
    while True:
        reqs = [r for r, n in pool for _ in range(n)]
        for _ in range(fresh):
            r = never_seen(rng, j)
            while r.text in seen:
                r = never_seen(rng, j)
            seen.add(r.text)
            reqs.append(r)
            j += 1
        yield [reqs[i] for i in rng.permutation(len(reqs))]
