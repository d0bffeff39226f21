#!/usr/bin/env python
"""Profile DRIVER-SIDE plan-construction time of selected queries.

The bench times `fn(spark, sf_dir)` + noop write per run, so py4j
chatter and bounded seed collects during construction are part of every
bench second. This tool isolates construction wall time (no action) per
query, min-of-N, with the py4j round trips of the first construction in
the process and of each warm one, and can dump a cProfile for one query.

Usage:
  python tools/profile_construction.py [name ...]          # min-of-3 walls
  python tools/profile_construction.py --profile <name>    # cProfile top-40
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

DEFAULT = [
    "dedup_semantic_clusters",
    "similarity_pq_adc_topk",
    "similarity_lsh_topk",
    "similarity_ivf_topk",
    "dedup_ngram_jaccard",
    "graph_pagerank_iterations",
    "q1_pricing_summary",
]


def main() -> None:
    from py4j.clientserver import ClientServerConnection

    from cioos_siooc_data_transform_spark.plans import all_queries
    from cioos_siooc_data_transform_spark.session import get_spark

    args = [a for a in sys.argv[1:] if a != "--profile"]
    do_profile = "--profile" in sys.argv
    names = args or DEFAULT

    spark = get_spark("construction-profile")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    # Every py4j call from any thread is one round trip to the JVM.
    send = ClientServerConnection.send_command
    trips = [0]

    def counting(self, command, *args, **kwargs):
        trips[0] += 1
        return send(self, command, *args, **kwargs)

    ClientServerConnection.send_command = counting

    def construct(name: str) -> tuple[float, int]:
        trips[0] = 0
        t0 = time.time()
        queries[name](spark, SF_DIR)
        return round(time.time() - t0, 3), trips[0]

    # Warm the JVM + schema memo once so the numbers reflect the steady
    # state the bench's 2nd..Nth constructions see. A name's "first"
    # count follows the names before it in the same process.
    first = {name: construct(name)[1] for name in names}

    if do_profile:
        import cProfile
        import pstats

        name = names[0]
        pr = cProfile.Profile()
        pr.enable()
        queries[name](spark, SF_DIR)
        pr.disable()
        pstats.Stats(pr).sort_stats("cumulative").print_stats(40)
        return

    for name in names:
        walls, warm = zip(*(construct(name) for _ in range(3)))
        print(
            f"{name}: min {min(walls):.3f}s  runs {list(walls)}"
            f"  round trips first {first[name]} warm {list(warm)}"
        )


if __name__ == "__main__":
    main()
