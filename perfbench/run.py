"""purldb-spark benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload corpus_curate --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The last line of standard output is one
JSON object (``correct``, ``attempted``, ``failed``, ``metrics``): with
``--trace 0`` the end-to-end metrics of ``BENCHMARK.json``, with
``--trace 1`` its per-layer metrics. A human-readable report, with sample
counts, goes to standard error. See perfbench/README.md.
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

WORKLOADS = ("catalog_api", "collect_match", "corpus_curate", "stream_ingest")


def declared_metrics() -> tuple[dict, dict]:
    """(end_to_end, per_layer) name -> unit, from BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def self_test() -> int:
    """Every registered query belongs to exactly one query workload, and
    the corpus_curate sample is one registered query of each family."""
    sys.path.insert(0, str(ROOT))
    from purldb_spark.plans.registry import QUERIES, load_inventory
    from query_ops import op_list
    from workloads import CURATE_FAMILIES, family, partition

    load_inventory()
    try:
        parts = partition(QUERIES)
        sample = op_list("corpus_curate", parts["corpus_curate"])
    except ValueError as exc:
        log(str(exc))
        return 1
    if sorted(map(family, sample)) != sorted(CURATE_FAMILIES):
        log(f"the corpus_curate sample is not one query per family: {sample}")
        return 1
    sizes = {w: len(v) for w, v in parts.items()}
    log(f"self-test passed: {sum(sizes.values())} queries -> {sizes}")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args(argv)
    if not (ROOT / "purldb_spark" / "__init__.py").is_file():
        log(f"no purldb_spark package under {ROOT}; run from a checkout")
        return 2
    os.chdir(ROOT)
    if args.self_test:
        return self_test()
    if args.workload is None:
        ap.error("--workload is required")
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    e2e_units, layer_units = declared_metrics()

    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    host = pin_host(work)
    sys.path.insert(0, str(ROOT))
    log(f"host {json.dumps(host, sort_keys=True)}")
    if self_test() != 0:
        return 3

    if args.workload == "stream_ingest":
        import stream_ops as ops
    else:
        import query_ops as ops
    ctx = Context(args.seed, args.seconds, work)
    t_run = time.perf_counter()
    try:
        result = ops.run(ctx, args.workload, bool(args.trace))
        peak_rss = ctx.peak_rss_mb()
        session_s = ctx.phase_seconds("session.start")
        result["phases"] = ctx.setup_phases
    finally:
        ctx.close()
    p = result["pass"]
    e2e = {
        "setup_s": result["setup_s"],
        "latency_p50_ms": p.p50_ms(),
        "throughput_ops_s": p.ops_per_s(),
        "peak_rss_mb": peak_rss,
    }
    if set(e2e) != set(e2e_units):
        raise RuntimeError(f"end-to-end metrics {sorted(e2e)} != {sorted(e2e_units)}")
    report(args, result, e2e, e2e_units, time.perf_counter() - t_run)
    attempted, failed = p.attempted, p.failed

    if args.trace:
        metrics = dict.fromkeys(layer_units, 0.0)
        layer_values = ops.layers(result)
        layer_values["session.start_s"] = session_s
        t = result["traced"]
        attempted += t.attempted
        failed += t.failed
        # the traced ops are interleaved with the untraced ones, so both
        # loops saw the same JVM warm-up and host
        layer_values["trace.overhead_latency_p50_ms"] = t.p50_ms() - p.p50_ms()
        layer_values["trace.overhead_throughput_ops_s"] = (
            t.ops_per_s() - p.ops_per_s()
        )
        layer_values["host.steal_share"] = p.steal_share()
        unknown = set(layer_values) - set(layer_units)
        if unknown:
            raise RuntimeError(f"undeclared per-layer metrics {sorted(unknown)}")
        metrics.update(layer_values)
        units = layer_units
        spans_path = work.parent / f"spans-{args.workload}-{args.seed}.json"
        result["tracer"].write(str(spans_path))
        log(f"spans written to {spans_path}")
        for name in sorted(metrics):
            log(f"  {name:36s} {metrics[name]:16.4f} {units[name]}")
    else:
        metrics, units = e2e, e2e_units
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in metrics.items()
                },
            }
        )
    )
    return 0


def report(args, result, e2e, units, wall) -> None:
    p = result["pass"]
    log(
        f"{args.workload} seed {args.seed}: {p.attempted} ops "
        f"({p.attempted // result['ops_per_pass']} x {result['ops_per_pass']}), "
        f"{p.seconds:.2f} s of op time, run wall {wall:.1f} s"
    )
    phases = ", ".join(f"{n} {e - s:.2f} s" for n, s, e in result["phases"])
    log(f"  set-up phases: {phases}")
    for name, value in e2e.items():
        n = p.attempted if name.startswith(("latency", "throughput")) else 1
        log(f"  {name:18s} {value:12.4f} {units[name]}  (n={n})")
    log(f"  wall latency_p50  {p.wall_p50_ms():12.4f} ms  (n={p.attempted}, "
        f"before the steal adjustment; mean stolen share "
        f"{p.steal_share():.4f})")
    tail = p.tail()
    if tail is None:
        log(f"  latency_tail_ms    not reported: {p.attempted} ops cannot "
            "support a percentile of p75 or above with ten samples beyond it")
    else:
        log(f"  latency_tail_ms    {tail[1]:12.4f} ms  (p{tail[0]:.1f}, n={p.attempted})")
    log(f"  failed_frac        {p.failed / p.attempted:12.4f}  "
        f"({p.failed} of {p.attempted} ops)")
    if args.workload == "stream_ingest":
        log(f"  docs_per_s         {p.items / p.seconds:12.4f} 1/s  (n={p.items} docs)")


if __name__ == "__main__":
    sys.exit(main())
