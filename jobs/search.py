"""spark-submit entry: BM25 top-k search against a built index.

    spark-submit --py-files /tmp/mias.zip jobs/search.py \
        --index <index-root> --query "<text and/or MathML>" \
        [--k 10] [--offset 0] [--mode blocks|df] [--variant BOTH|P|C]

``--mode blocks`` (default) is the serving plan; ``df`` is the Catalyst
reference plan.

Local smoke:

    python jobs/search.py --index /tmp/ix --query "energy"
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--query", required=True)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--offset", type=int, default=0)
    ap.add_argument("--mode", default="blocks", choices=["blocks", "df"])
    ap.add_argument("--variant", default="BOTH", choices=["BOTH", "P", "C"])
    ap.add_argument("--cpus", default=None)
    args = ap.parse_args()

    from mias_spark.search import Engine
    from mias_spark.session import get_spark

    spark = get_spark("mias_search", cpus=args.cpus)
    eng = Engine(spark, args.index)
    t0 = time.time()
    res = eng.search(args.query, k=args.k, offset=args.offset,
                     mode=args.mode, variant=args.variant, with_fields=True)
    out = {
        "query_terms": res.query_terms,
        "total_groups": res.total_groups,
        "processed_query": res.processed_query,
        "total_hits": res.total_hits,
        "total_hits_relation": res.total_hits_relation,
        "secs": round(time.time() - t0, 3),
        "hits": res.hits.to_dict(orient="records"),
    }
    print(json.dumps(out, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
