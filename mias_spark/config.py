"""Configuration surface — the mias.properties analog (SURVEY.md §1.3;
reference Settings.java:96-175, README.md:39-58).

| properties key    | reference meaning                    | here            |
|-------------------|--------------------------------------|-----------------|
| INDEXDIR          | index location                       | index_dir       |
| UPDATE            | upsert vs add-only (Settings.java:   | update          |
|                   | 110-117; unused by Indexing — always |                 |
|                   | upserts, Indexing.java:145)          |                 |
| MAXRESULTS        | top-k cap, default 1000              | max_results     |
| DOCLIMIT          | max docs per run, -1 unlimited       | doc_limit       |
| THREADS           | parallelism, default = #cores        | threads ->      |
|                   |                                      | local[N] / cores|
| FORMULA_DOCUMENTS | one document per formula             | formula_docs    |

Extra engine knobs (no reference analog): n_buckets (term_id hash
buckets of the blocks layout).
"""

from __future__ import annotations

import os
from dataclasses import dataclass


@dataclass
class MiasConfig:
    index_dir: str = "index"
    update: bool = True
    max_results: int = 1000          # Settings.java:140-148 default
    doc_limit: int | None = None     # -1/None = unlimited
    threads: int | None = None       # None = all cores
    formula_docs: bool = False
    n_buckets: int = 16

    @classmethod
    def load(cls, path: str) -> "MiasConfig":
        """Parse a java-style .properties file (KEY=value, # comments)."""
        vals: dict[str, str] = {}
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line or line.startswith(("#", "!")):
                    continue
                if "=" in line:
                    k, v = line.split("=", 1)
                    vals[k.strip().upper()] = v.strip()
        limit = int(vals.get("DOCLIMIT", "-1"))
        threads = vals.get("THREADS")
        return cls(
            index_dir=vals.get("INDEXDIR", "index"),
            update=vals.get("UPDATE", "true").lower() == "true",
            max_results=int(vals.get("MAXRESULTS", "1000")),
            doc_limit=None if limit < 0 else limit,
            threads=int(threads) if threads else None,
            formula_docs=vals.get(
                "FORMULA_DOCUMENTS", "false").lower() == "true",
            n_buckets=int(vals.get("BUCKETS", "16")),
        )

    def spark_cpus(self) -> str:
        return str(self.threads or os.environ.get("SPARK_GRAFT_CPUS", "32"))
