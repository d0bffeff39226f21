"""Strict-harness sweep over a PARKED (not registered) slate module's
local registry — the same compare the driver runs on live queries.
Usage:

    python tools/staged_sim.py [module] [sf_dir] [name ...]

module defaults to staged_r14; sf_dir to /root/testdata/sf0.01.
"""

from __future__ import annotations

import importlib
import os
import sys
import time


def main() -> int:
    mod_name = sys.argv[1] if len(sys.argv) > 1 else "staged_r14"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    only = set(sys.argv[3:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    os.environ.setdefault("SPARK_GRAFT_CPUS", "16")
    from cioos_siooc_data_transform_spark.session import get_spark

    mod = importlib.import_module(
        f"cioos_siooc_data_transform_spark.plans.{mod_name}"
    )
    spark = get_spark("staged-sim", shuffle_partitions=16)
    from tests.oracle_harness import compare_query

    entries = mod.STAGED_QUERIES
    oracles = mod.STAGED_ORACLES

    n_fail = 0
    n_run = 0
    for name, fn in entries.items():
        if only and name not in only:
            continue
        n_run += 1
        t0 = time.time()
        try:
            ok, msg = compare_query(spark, sf_dir, fn, oracles[name])
        except Exception as exc:  # noqa: BLE001
            ok, msg = False, f"error: {exc!r}"
        dt = time.time() - t0
        if not ok:
            n_fail += 1
        print(
            f"{'PASS' if ok else 'FAIL'} {name} ({dt:.1f}s) "
            f"{'' if ok else msg[:300]}",
            flush=True,
        )
    print(f"\n{n_run - n_fail}/{n_run} pass ({mod_name} @ {sf_dir})")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
