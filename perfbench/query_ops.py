"""The query workloads: one op builds one registered query through
``plans.registry.QUERIES`` and writes its full result to a ``noop`` sink,
so the timed plan is the one the oracle verifies (a ``count()`` would let
Catalyst prune it).

Set-up (``setup_s``): session start, inventory import, one checked
execution of every query of the op list, then untimed noop passes. The
checked execution collects the result for the oracle check, starts the
Python workers and builds every fixture the queries touch on first use.
Fixtures are not prebuilt with ``prebuild_fixtures``: it builds every
fixture of the registry, most of which a workload's op list never reads.
The oracle comparisons themselves are neither set-up nor timed.
"""

from __future__ import annotations

import random

from harness import DATA, Pass, describe, interval, log
from tracing import NullTracer, Tracer

# Ops per pass: a fixed sample of the workload, because a whole workload
# cannot be set up, checked and timed within one run. The sample does not
# depend on the seed, so every run times the same queries.
# corpus_curate: one query per family (workloads.CURATE_FAMILIES), the
# family's median by noop time at sf0.01, the lower one of an even family
# (perfbench/README.md, "Sample").
SAMPLE = {
    "corpus_curate": (
        "bpe_encode_stats",  # training
        "corpus_funnel_report",  # pipeline
        "dedup_minhash_lsh",  # dedup
        "embed_projected_blocked",  # embed
        "knn_ivfpq",  # knn
        "mix_weights",  # assembly
        "mm_png_roundtrip",  # mm
        "select_unimax_budget",  # select
        "sketch_histogram_quantiles",  # sketch
        "text_pii_scrub",  # text
    ),
}
# the other query workloads: every k-th name in sorted order
STRIDE = {"catalog_api": 2, "collect_match": 6}
# untimed noop passes after the checked execution: the first executions
# after a cold start are still being compiled, and the JIT settles later
# than the fixtures do
WARM_PASSES = 1
# whole passes timed in every run, at least: one pass of a short op list
# gives too few samples for a steady median
MIN_PASSES = 2


def op_list(workload: str, names: list[str]) -> list[str]:
    """The timed queries of ``workload``, whose queries are ``names``;
    raises ValueError when a sampled query is not one of them."""
    if workload not in SAMPLE:
        return names[:: STRIDE[workload]]
    picked = sorted(SAMPLE[workload])
    stray = set(picked) - set(names)
    if stray:
        raise ValueError(f"sampled queries not in {workload}: {sorted(stray)}")
    return picked


def _timed_loop(ctx, names, failed_checks, tracers) -> list[Pass]:
    """Run whole passes, each in its own seeded order, until the first
    tracer's ops add up to at least ``ctx.seconds``. Each op runs once
    under every tracer, the order of the tracers turning from op to op, so
    an untraced and a traced loop share the JVM's warm-up; returns one
    Pass per tracer."""
    from purldb_spark.plans.fixture_runtime import build_seconds_total
    from purldb_spark.plans.registry import QUERIES

    spark = ctx.spark
    outs = [Pass() for _ in tracers]
    n_pass = n_op = 0
    while n_pass < MIN_PASSES or outs[0].seconds < ctx.seconds:
        rng = random.Random(f"{ctx.seed}/{n_pass}")
        for name in rng.sample(names, len(names)):
            order = list(zip(tracers, outs))
            k = n_op % len(order)
            for tracer, out in order[k:] + order[:k]:
                lazy0 = build_seconds_total()
                tracer.begin_op(f"{name}#{n_pass}")
                ok = name not in failed_checks
                with interval() as iv:
                    try:
                        with tracer.span("op"):
                            with tracer.span("plans.build"):
                                df = QUERIES[name](spark, str(DATA))
                            with tracer.span("exec"):
                                df.write.format("noop").mode("overwrite").save()
                    except Exception as exc:  # the op failed; keep going
                        log(f"{name}: op failed: {describe(exc)}")
                        ok = False
                counters = tracer.end_op() if tracer.enabled else None
                # a fixture built lazily inside the op is set-up, not op time
                out.add(iv, ok, counters=counters,
                        lazy=build_seconds_total() - lazy0)
                log(
                    f"op {name}{' traced' if tracer.enabled else ''}: "
                    f"{1000.0 * out.latencies[-1]:.1f} ms "
                    f"(wall {1000.0 * iv.wall:.1f}, stolen {iv.share:.3f})"
                )
            n_op += 1
        n_pass += 1
    return outs


def run(ctx, workload: str, trace: bool) -> dict:
    with interval() as setup_iv:
        spark = ctx.start_session()
        with ctx.phase("inventory"):
            from purldb_spark.catalog.tables import TABLES
            from purldb_spark.plans.fixture_runtime import (
                build_seconds_by_key,
                build_seconds_total,
            )
            from purldb_spark.plans.registry import ORACLES, QUERIES, load_inventory
            from workloads import partition

            load_inventory()
            names = op_list(workload, partition(QUERIES)[workload])
        from oracle import Oracle

        oracle = Oracle(str(DATA), TABLES, str(ctx.work / "tmp"))
        failed_checks: dict[str, str] = {}
        check_s = 0.0
        with ctx.phase("checked_execution"):
            for name in names:
                try:
                    pdf = QUERIES[name](spark, str(DATA)).toPandas()
                except Exception as exc:
                    failed_checks[name] = (
                        f"checked execution failed: {describe(exc)}"
                    )
                    continue
                with interval() as check_iv:
                    reason = oracle.mismatch(spark, name, pdf, ORACLES)
                check_s += check_iv.seconds
                if reason is not None:
                    failed_checks[name] = reason
        oracle.close()
        for name, reason in sorted(failed_checks.items()):
            log(f"{name}: output check failed: {reason}")
        with ctx.phase("warm_passes"):
            for name in names * WARM_PASSES:
                if name in failed_checks:
                    continue
                try:
                    QUERIES[name](spark, str(DATA)).write.format("noop").mode(
                        "overwrite"
                    ).save()
                except Exception as exc:
                    failed_checks[name] = (
                        f"warm-up execution failed: {describe(exc)}"
                    )
                    log(f"{name}: {failed_checks[name]}")

    tracers = [NullTracer()]
    if trace:
        tracers.append(Tracer(spark))
        for name, start, end in ctx.setup_phases:
            tracers[1].record(name, start, end)
    outs = _timed_loop(ctx, names, failed_checks, tracers)
    result = {
        "setup_s": setup_iv.seconds - check_s + outs[0].lazy_s,
        "pass": outs[0],
        "ops_per_pass": len(names),
    }
    if trace:
        result["traced"] = outs[1]
        result["tracer"] = tracers[1]
        result["fixtures"] = {
            "fixtures.lazy_build_s": build_seconds_total(),
            "fixtures.lazy_builds": float(len(build_seconds_by_key())),
        }
    return result


def layers(result: dict) -> dict[str, float]:
    """Per-op means of the traced pass, by layer."""
    from tracing import self_times

    p: Pass = result["traced"]
    n = p.attempted
    spans = result["tracer"].spans
    st = self_times(spans)
    build_s = sum(s["end"] - s["start"] for s in spans if s["name"] == "plans.build")
    out = {
        # the builder call whole, eager actions inside it included
        "plans.build_ms": 1000.0 * build_s / n,
        "plans.eager_jobs": p.mean("plans.build:jobs"),
        "catalyst.plan_ms": p.mean("exec:plan_ms"),
        "catalyst.plan_chars": p.mean("exec:plan_chars"),
        # the noop write without the Catalyst phases it ran
        "exec.ms": 1000.0 * st.get("exec", 0.0) / n,
        "exec.jobs": p.mean("exec:jobs"),
        "exec.stages": p.mean("exec:stages"),
        "exec.tasks": p.mean("exec:tasks"),
        "exec.shuffle_read_bytes": p.mean("exec:shuffle_read_bytes"),
        "exec.shuffle_write_bytes": p.mean("exec:shuffle_write_bytes"),
        "exec.spill_bytes": p.mean("exec:spill_bytes"),
        "exec.scan_bytes": p.mean("exec:scan_bytes"),
        "exec.output_rows": p.mean("exec:output_rows"),
        "python.init_ms": p.mean("exec:python_init_ms"),
        "python.total_ms": p.mean("exec:python_total_ms"),
        "python.bytes_sent": p.mean("exec:python_bytes_sent"),
        "python.bytes_received": p.mean("exec:python_bytes_received"),
        # the op loop's own time, mostly the tracer reading counters
        "trace.op_self_ms": 1000.0 * st.get("op", 0.0) / n,
    }
    out.update(result["fixtures"])
    return out
