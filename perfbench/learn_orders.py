#!/usr/bin/env python3
"""Learn a join order for every queries_sql/ file and write them as the
benchmark's fixed order file.

    python3 perfbench/learn_orders.py [OUT]      # default perfbench/orders.json

Each file goes through ``adaptive_reorder`` with the settings the benchmark
serves with, on the same pinned session, with persistence off; the in-process
cache is then written through the public ``save_order_cache``. Scan paths in
the cache keys name the warehouse directory; they are stored with it
replaced by ``{sf}`` so the file is independent of where the warehouse
lives, and ``run.py`` substitutes it back before loading.

The learned orders come from a wall-clock duel of sampled episodes, so two
learning passes can disagree where two orders run about as fast; the
benchmark therefore serves this committed file instead of learning during
set-up. Run this only to refresh the file, and commit the result.
"""

from __future__ import annotations

import json
import os
import sys

import run as bench


def main(out: str) -> int:
    bench.pin_environment()
    sys.path.insert(0, bench.ROOT)
    from skinnerdb_spark.catalog import DEFAULT_SF_DIR, register_views
    from skinnerdb_spark.plans.graph import adaptive_reorder, save_order_cache
    from skinnerdb_spark.session import get_spark

    spark = get_spark(app_name="perfbench-learn", extra_conf=bench.spark_conf())
    try:
        register_views(spark, DEFAULT_SF_DIR)
        learned = 0
        for files in bench.corpus_by_template().values():
            for name in files:
                with open(os.path.join(bench.CORPUS, name)) as f:
                    res = adaptive_reorder(spark.sql(f.read()), **bench.ADAPTIVE_KW)
                learned += bool(res.best_order)
        tmp = os.path.join(bench.WORK, "orders.learned.json")
        save_order_cache(tmp)
    finally:
        bench.stop(spark)
    scope = "file:" + os.path.abspath(DEFAULT_SF_DIR).rstrip("/")
    with open(tmp) as f:
        items = json.loads(f.read().replace(scope, bench.SF_TOKEN))
    with open(out, "w") as f:
        f.write("[\n" + ",\n".join(json.dumps(it) for it in items) + "\n]\n")
    print(f"{learned} eligible queries, {len(items)} cache entries -> {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else bench.ORDERS))
