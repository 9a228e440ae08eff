"""Bridge from ``bench.py``'s ``count()`` series to the noop-sink timing.

    python3 perfbench/bridge.py --sf-dir DIR

Follows ``bench.py``'s protocol (warm-up, ``prebuild_fixtures``, every
registered query once, in sorted order) but forces each query twice, with
``count()`` and with a ``noop`` write, alternating which goes first, and
sums both per query workload (perfbench/workloads.py). ``count()`` lets
Catalyst prune the plan; the noop write materializes the full result, as
the benchmark's ops do. Prints one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from harness import ROOT, Context, log, pin_host  # noqa: E402


def _warm_python(batches):
    yield from batches


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf-dir", required=True)
    args = ap.parse_args()
    os.chdir(ROOT)
    work = HERE / ".work" / f"bridge-{os.getpid()}"
    host = pin_host(work)
    sys.path.insert(0, str(ROOT))
    ctx = Context(0, 0, work)
    try:
        spark = ctx.start_session()
        from purldb_spark.plans.fixture_runtime import build_seconds_total
        from purldb_spark.plans.fixture_warmup import prebuild_fixtures
        from purldb_spark.plans.registry import QUERIES, load_inventory
        from workloads import partition

        load_inventory()
        QUERIES["q1_pricing_summary"](spark, args.sf_dir).count()
        spark.range(0, 32, 1, 32).mapInPandas(_warm_python, "id long").count()
        prebuild_s = prebuild_fixtures(spark, args.sf_dir)
        workload_of = {
            n: w for w, names in partition(QUERIES).items() for n in names
        }
        totals = {w: {"count_s": 0.0, "noop_s": 0.0, "queries": 0}
                  for w in set(workload_of.values())}
        lazy_s = 0.0
        for i, name in enumerate(sorted(QUERIES)):
            t = {}
            for action in (("count", "noop") if i % 2 == 0 else ("noop", "count")):
                lazy0 = build_seconds_total()
                t0 = time.perf_counter()
                df = QUERIES[name](spark, args.sf_dir)
                if action == "count":
                    df.count()
                else:
                    df.write.format("noop").mode("overwrite").save()
                lazy = build_seconds_total() - lazy0
                lazy_s += lazy
                t[action] = time.perf_counter() - t0 - lazy
            row = totals[workload_of[name]]
            row["count_s"] += t["count"]
            row["noop_s"] += t["noop"]
            row["queries"] += 1
            log(f"{name}: count {t['count']:.3f} s, noop {t['noop']:.3f} s")
    finally:
        ctx.close()
    out = {
        "sf_dir": args.sf_dir,
        "host": host,
        "prebuild_s": prebuild_s,
        "lazy_fixture_s": lazy_s,
        "workloads": {
            w: {k: round(v, 2) for k, v in r.items()}
            for w, r in sorted(totals.items())
        },
    }
    print(json.dumps(out, indent=2))
    return 0


if __name__ == "__main__":
    sys.exit(main())
