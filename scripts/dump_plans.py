"""Dump the formatted physical plan of named suite queries.

Usage: python scripts/dump_plans.py OUT_DIR QUERY [QUERY ...]

Writes ``OUT_DIR/<query>.txt`` for each query: the ``explain("formatted")``
text captured by :func:`selium_spark.plans.inspect.summarize`. Queries
are built on the bench's data dir (``$SPARK_GRAFT_SF_DIR``, see
bench.py). For a before/after pair, run the same command on both
commits into two directories and diff them.

The SQL cache is cleared BEFORE each query is built: an earlier
query's ``persist()`` otherwise substitutes its InMemoryRelation into
later plans (the cache manager matches subtrees across queries), so a
dump could show a pin its own query never makes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR  # noqa: E402
from selium_spark import get_spark  # noqa: E402
from selium_spark.plans.inspect import summarize  # noqa: E402
from selium_spark.suite import QUERIES  # noqa: E402


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    out_dir, names = sys.argv[1], sys.argv[2:]
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown suite queries: {unknown}", file=sys.stderr)
        return 2
    spark = get_spark(app_name="dump_plans", cpus=8, shuffle_partitions=8)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        spark.catalog.clearCache()
        text = summarize(QUERIES[name](spark, SF_DIR)).text
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(text)
        print("wrote", path, len(text), "bytes")
    return 0


if __name__ == "__main__":
    sys.exit(main())
