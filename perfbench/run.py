"""perfbench entry point.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 20 --trace 0

Runs one workload against the engine's public API and prints, as the last
line of stdout, one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``. ``--trace 0`` reports the end-to-end metrics (tracing
off); ``--trace 1`` wraps the engine's layers and reports the per-layer
metrics instead. ``--smoke`` shrinks every input for a quick end-to-end
check. See perfbench/README.md.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("bulk_replay", "tail_fanout2")

END_TO_END = {
    "setup_s": "s",
    "events_per_s": "events/s",
    "freshness_ms_p50": "ms",
    "freshness_ms_p90": "ms",
    "ok_frac": "ratio",
    "peak_rss_mb": "MB",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs: an end-to-end check, not a measurement")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import tiflow_spark  # noqa: F401  (fails fast outside a full checkout)

    from perfbench import common

    ctx = common.Context(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), smoke=args.smoke, t_process=T_PROCESS,
    )
    ctx.work = os.path.join(os.getcwd(), ".perfbench_work", args.workload)
    shutil.rmtree(ctx.work, ignore_errors=True)
    os.makedirs(ctx.work)
    ctx.info.update({
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "smoke": args.smoke,
        "nproc": common.nproc(), "load1_before": common.load1(),
        "cpu_times_before": common.cpu_times(),
        "git_commit": common.git_commit(),
        "source_sha256": common.source_digest(),
    })
    try:
        result = measure(ctx)
    finally:
        if ctx.spark is not None:
            common.stop_session(ctx)
        shutil.rmtree(ctx.work, ignore_errors=True)
    ctx.info["load1_after"] = common.load1()
    (s0, t0), (s1, t1) = ctx.info.pop("cpu_times_before"), common.cpu_times()
    ctx.info["cpu_steal_frac"] = (s1 - s0) / max(t1 - t0, 1)
    record = common.write_record(ctx, result)
    print(json.dumps({"host": {k: ctx.info[k] for k in (
        "nproc", "load1_before", "load1_after", "cpu_steal_frac", "seed",
        "git_commit", "source_sha256")}, "record": os.path.relpath(record)}))
    for name, m in result["metrics"].items():
        n = ctx.info.get("samples", {}).get(name)
        print(f"# {name:<40} {m['value']:>14.4f} {m['unit']}"
              + (f"  (n={n})" if n is not None else ""))
    print(json.dumps(result))
    return 0


def measure(ctx) -> dict:
    from perfbench import common

    common.start_session(ctx)
    if ctx.trace:
        from perfbench.trace import Tracer, install_engine_wrappers

        ctx.tracer = Tracer(ctx.spark, ctx.workload)
        install_engine_wrappers(ctx.tracer)
    try:
        workload_module(ctx.workload).run(ctx)
    finally:
        if ctx.tracer is not None:
            ctx.tracer.uninstall()
    ctx.e2e["peak_rss_mb"] = common.peak_rss_mb(ctx)
    ctx.e2e["ok_frac"] = ctx.ok / ctx.attempted if ctx.attempted else 0.0
    samples = ctx.info.setdefault("samples", {})
    samples["ok_frac"] = ctx.attempted
    if "freshness_ms_p50" not in ctx.e2e:
        # per-mark samples: nearest-rank percentiles, each with at least 10
        # samples ranked beyond it, or the run fails its check
        p50 = common.percentile_supported(ctx.freshness_ms, 0.5)
        p90 = common.percentile_supported(ctx.freshness_ms, 0.9)
        samples["freshness_ms_p50"] = samples["freshness_ms_p90"] = len(
            ctx.freshness_ms)
        ctx.check("freshness percentiles supported",
                  p50 is not None and p90 is not None,
                  f"{len(ctx.freshness_ms)} samples")
        ctx.info["freshness_ms"] = [round(x, 1) for x in ctx.freshness_ms]
        ctx.e2e["freshness_ms_p50"] = p50 or 0.0
        ctx.e2e["freshness_ms_p90"] = p90 or 0.0

    if ctx.trace:
        from perfbench.layers import PER_LAYER, layer_metrics

        recon = ctx.tracer.collect()
        ctx.info["stage_totals"] = recon
        ctx.check("stage metrics reconcile with executor totals",
                  recon["stages"] == recon["executors"], str(recon))
        per_op, rows = layer_metrics(ctx.tracer, ctx.cores, ctx.layer_roots)
        if ctx.mq_roots:
            mq_op, mq_rows = layer_metrics(ctx.tracer, ctx.cores, ctx.mq_roots)
            per_op.update({k: v for k, v in mq_op.items() if k.startswith("mq.")})
            rows += mq_rows
        layers = {**per_op, **ctx.layers}
        ctx.info["per_op"] = rows
        ctx.info["spans"] = len(ctx.tracer.spans)
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
        ctx.info["end_to_end_traced"] = ctx.e2e
    else:
        metrics = {k: {"value": float(ctx.e2e[k]), "unit": u}
                   for k, u in END_TO_END.items()}
        ctx.info["layers_untraced"] = ctx.layers
    correct = all(c["ok"] for c in ctx.checks) and ctx.ok == ctx.attempted > 0
    return {
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": ctx.attempted - ctx.ok,
        "metrics": metrics,
    }


def workload_module(name: str):
    import importlib

    return importlib.import_module(f"perfbench.{name}")


if __name__ == "__main__":
    sys.exit(main())
