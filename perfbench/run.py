"""Benchmark of the KG engine: one workload per run, run from the root
of a checkout.

    python3 perfbench/run.py --workload build --seed 1 --seconds 20 --trace 0

Prints the pinned environment, a table of every end-to-end metric (and,
with ``--trace 1``, every per-layer metric), then as its last line one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
``--self-test`` corrupts every expected value and exits 0 only if the
checks then report failures. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)

# end-to-end metrics in the result line, and the ones only printed
E2E = [("setup_s", "s"), ("throughput_per_s", "1/s"), ("read_p50_ms", "ms"),
       ("write_mean_ms", "ms"), ("store_bytes_per_quad", "B"),
       ("peak_rss_mb", "MB")]
TABLE_ONLY = [("op_p50_ms", "ms"), ("op_p90_ms", "ms"), ("read_p90_ms", "ms"),
              ("write_p50_ms", "ms"), ("error_rate", "ratio")]
STAGES = ("extract", "link", "resolve", "dictionaries", "dict_write", "index_write")
UNITS = {"build": "resolved triples", "mixed": "operations"}


def _median(xs):
    return statistics.median(xs) if xs else None


def _p90(xs):
    """Reported only when at least ten samples lie beyond it."""
    if len(xs) < 100:
        return None
    return sorted(xs)[math.ceil(0.9 * len(xs)) - 1]


def end_to_end(run, setup_s: float, rss_mb: float, error_rate: float) -> dict:
    """Builds count as writes. Throughput counts only ``run.unit_kinds``
    (the builds on ``build``, whose reads are checks of the build)."""
    ok = [o for o in run.ops if o.ok]
    ms = [o.ms for o in ok]
    reads = [o.ms for o in ok if o.kind == "read"]
    writes = [o.ms for o in ok if o.kind != "read"]
    counted = [o for o in run.ops if o.kind in run.unit_kinds]
    busy_s = sum(o.ms for o in counted) / 1e3
    units = sum(o.units for o in counted if o.ok)
    return {
        "setup_s": setup_s,
        "throughput_per_s": units / busy_s if busy_s else 0.0,
        "op_p50_ms": _median(ms),
        "op_p90_ms": _p90(ms),
        "read_p50_ms": _median(reads),
        "read_p90_ms": _p90(reads),
        "write_p50_ms": _median(writes),
        "write_mean_ms": statistics.fmean(writes) if writes else None,
        "store_bytes_per_quad": run.store_bytes / max(run.store_quads, 1),
        "peak_rss_mb": rss_mb,
        "error_rate": error_rate,
    }


def _spans(ops, name: str, scale: float = 1.0) -> float | None:
    """Median over the traced ops containing ``name`` of its total time."""
    xs = [o.trace.total_ms(name) * scale for o in ops
          if o.trace and any(s.name == name for s in o.trace.spans)]
    return _median(xs)


def per_layer(run, workload: str, host, nproc: int,
              overhead: list[float]) -> tuple[dict, dict]:
    """→ (metrics for the result line, further layer facts for the table)."""
    traced = [o for o in run.ops if o.trace]
    reads = [o for o in traced if o.kind == "read"]
    writes = [o for o in traced if o.kind != "read"]
    if workload == "build":
        timings = {k: _median([t[k] for t in run.info["build_timings"]])
                   for k in STAGES}
        build_ms = _median([o.ms for o in writes])
    else:  # mixed runs no build in its measured phase: the set-up prebuild
        timings = {k: run.info["prebuild_timings"][k] for k in STAGES}
        build_ms = None

    def read_split(rs):
        parse = [o.trace.total_ms("plans.parse") for o in rs]
        plan = [o.trace.total_ms("plans.plan") for o in rs]
        exe = [o.trace.total_ms("plans.exec") for o in rs]
        http = [o.ms - a - b - c for o, a, b, c in zip(rs, parse, plan, exe)]
        return {"parse_ms": _median(parse), "plan_ms": _median(plan),
                "exec_ms": _median(exe), "http_ms": _median(http),
                "py4j_calls": _median([o.trace.py4j_calls for o in rs]),
                "spark_jobs": _median([o.trace.spark_jobs for o in rs])}

    rs = read_split(reads)
    m = {f"pipeline.{k}_s": v for k, v in timings.items()}
    m.update({
        "operators.link_s": _spans(traced, "operators.link", 1e-3),
        "operators.write_indexes_s": _spans(traced, "operators.write_indexes", 1e-3),
        "operators.files_per_index": run.files_per_index,
        "plans.parse_ms": rs["parse_ms"], "plans.plan_ms": rs["plan_ms"],
        "plans.exec_ms": rs["exec_ms"], "service.http_ms": rs["http_ms"],
        "plans.py4j_calls": rs["py4j_calls"], "plans.spark_jobs": rs["spark_jobs"],
        "op.py4j_calls": _median([o.trace.py4j_calls for o in writes]),
        "op.spark_jobs": _median([o.trace.spark_jobs for o in writes]),
        "op.spark_tasks": _median([o.trace.spark_tasks for o in writes]),
        "host.cpu_s": host.cpu_s,
        "host.steal_pct": 100.0 * host.steal_s / (run.measured_s * nproc),
        "trace.overhead_pct": 100.0 * _median(overhead) if overhead else None,
    })

    extra = {
        "operators.write_dictionaries_s":
            _spans(traced, "operators.write_dictionaries", 1e-3),
        "operators.link_methods": run.info.get("link_methods"),
        "streaming.append_ms": _spans(traced, "streaming.append_batch"),
        "streaming.appended_quads": sum(run.info.get("appended_quads", [])),
        "plans.update_ms": _spans(traced, "plans.update"),
        "sources.scan_ms (LOAD validation scan)": _spans(traced, "sources.scan"),
        "sources.scan_share_of_load": _median(
            [o.trace.total_ms("sources.scan") / o.ms for o in writes
             if o.name == "load"]),
        "host.steal_s": host.steal_s,
        "store.quads": run.store_quads,
    }
    if build_ms:  # share of the median build spent in each stage
        extra.update({f"pipeline.{k}_share": timings[k] * 1e3 / build_ms
                      for k in STAGES})
    by_name: dict[str, list] = {}
    for o in reads:
        by_name.setdefault(o.name, []).append(o)
    plan_heavy, exec_heavy = [], []
    for name, rs_n in sorted(by_name.items()):
        split = read_split(rs_n)
        extra.update({f"plans[{name}].{k}": v for k, v in split.items()})
        ms = _median([o.ms for o in rs_n])
        extra[f"plans[{name}].plan/exec_share"] = (
            round(split["plan_ms"] / ms, 3), round(split["exec_ms"] / ms, 3))
        if split["plan_ms"] > ms / 2:
            plan_heavy.append(name)
        if split["exec_ms"] > ms / 2:
            exec_heavy.append(name)
    extra["plans.templates_over_half_in_plan"] = plan_heavy
    extra["plans.templates_over_half_in_exec"] = exec_heavy
    for kind in sorted({o.name for o in writes}):
        ws = [o for o in writes if o.name == kind]
        extra[f"op[{kind}].py4j_calls/spark_jobs/spark_tasks"] = (
            [o.trace.py4j_calls for o in ws], [o.trace.spark_jobs for o in ws],
            [o.trace.spark_tasks for o in ws])
    return m, extra


PER_LAYER_UNITS = {"_s": "s", "_ms": "ms", "_pct": "%"}


def _unit(name: str) -> str:
    for suffix, unit in PER_LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["build", "mixed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="corrupt every expectation; succeed only if caught")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(CHECKOUT, "hbase_rdf_spark", "__init__.py")):
        print(f"perfbench: no hbase_rdf_spark package under {CHECKOUT}",
              file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    sys.path.insert(0, CHECKOUT)
    import hostenv

    work = os.path.join(CHECKOUT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    hostenv.remove_work(work)
    pinned = hostenv.pin(CHECKOUT, work)
    print("# env " + " ".join(f"{k}={v}" for k, v in pinned.items()))
    print(f"# env workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds} trace={args.trace}")
    spark = None
    try:
        spark = hostenv.start_spark(pinned, work)
        startup_s = time.perf_counter() - t_start
        import workloads
        from spans import Tracer

        tracer = Tracer(spark) if args.trace else None
        ctx = workloads.Context(spark, work, args.seed, args.seconds, tracer,
                                args.self_test)
        run = workloads.WORKLOADS[args.workload](ctx)
        host = ctx.host
        heap_mb = hostenv.jvm_heap_live_mb(spark)
        rss = hostenv.peak_rss_mb(heap_mb)
    finally:
        if spark is not None:
            hostenv.stop_spark(spark)
        hostenv.remove_work(work)

    attempted = len(run.ops) + run.setup_checks
    failed = sum(not o.ok for o in run.ops) + len(run.setup_problems)
    e2e = end_to_end(run, startup_s + run.setup_s, rss, failed / attempted)
    if "build_precision" in run.info:
        print(f"# check precision={run.info['build_precision']:.4f} "
              f"recall={run.info['build_recall']:.4f} (oracle, warm-up build)")
    print(f"# setup spark_start={startup_s:.2f} " + " ".join(
        f"{k}={v:.2f}" for k, v in run.setup_split.items()))
    for p in run.setup_problems:
        print(f"# set-up check failed: {p}")
    n_r = sum(o.kind == "read" for o in run.ops)
    print(f"# ops={len(run.ops)} reads={n_r} writes_or_builds={len(run.ops) - n_r} "
          f"measured_s={run.measured_s:.3f} unit={UNITS[args.workload]} "
          f"host.cpu_s={host.cpu_s:.2f} host.steal_s={host.steal_s:.2f}")
    print(f"# memory peak_rss_mb={rss:.1f} of which jvm_heap_live_mb={heap_mb:.1f}")
    print("# op_ms " + " ".join(f"{o.name}={o.ms:.0f}" for o in run.ops))
    for name, unit in E2E + TABLE_ONLY:
        v = e2e[name]
        print(f"# e2e {name:22s} {'n/a' if v is None else f'{v:.4f}'} {unit}")
    if args.trace:
        layer, extra = per_layer(run, args.workload, host, os.cpu_count() or 1,
                                 ctx.overhead)
        for k, v in layer.items():
            print(f"# layer {k:28s} {v} {_unit(k)}")
        for k, v in extra.items():
            print(f"# layer {k} {v}")
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E}
    correct = failed == 0 and all(
        m["value"] is not None for m in metrics.values())
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    if args.self_test:
        caught = e2e["error_rate"] > 0
        print(f"# self-test: corrupted expectations {'were' if caught else 'were NOT'}"
              f" caught (error_rate={e2e['error_rate']:.3f})")
        return 0 if caught else 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
