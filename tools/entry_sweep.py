#!/usr/bin/env python3
"""Per-entry timing sweep over the catalog (optimization-round tooling).

Times each named catalog entry in ONE warm session with the noop sink
(guide §1.4), labeled via setJobDescription (§1.5), with two consecutive
calls per entry so first-call floors (plan analysis, memo fills) are
visible separately from steady-state cost.  Prints one JSON line per
entry and a total.

Usage:
    python3 tools/entry_sweep.py [entry ...]     # default: all entries
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python3 tools/entry_sweep.py knn_graph_nnd
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CALLS = int(os.environ.get("SPARK_GRAFT_SWEEP_CALLS", "2"))


def main() -> None:
    if CALLS < 1:
        raise SystemExit(f"SPARK_GRAFT_SWEEP_CALLS must be >= 1 (got {CALLS})")
    from beyond_vector_search_spark.plans.entry_queries import all_queries
    from beyond_vector_search_spark.session import get_spark

    spark = get_spark(
        "bvs-entry-sweep",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_BENCH_SHUFFLE", "8")),
    )
    spark.range(1).count()
    queries = all_queries()
    names = sys.argv[1:] or list(queries)
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"unknown entries: {unknown}")

    total = 0.0
    for name in names:
        fn = queries[name]
        times = []
        for call in range(CALLS):
            spark.sparkContext.setJobDescription(f"sweep:{name}:{call}")
            t0 = time.time()
            try:
                fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001
                print(json.dumps({"entry": name, "err": str(e)[:200]}))
                times = None
                break
            times.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        if times is None:
            continue
        total += times[0]
        print(json.dumps({"entry": name, "calls": times}), flush=True)
    print(json.dumps({"total_first_calls": round(total, 3), "sf_dir": SF_DIR}))


if __name__ == "__main__":
    main()
