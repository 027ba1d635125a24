"""Benchmark entry point.

    python3 e2e_bench/run.py --workload ingest_refresh_serve|curate \
        --seed N --seconds S --trace 0|1

Runs from the root of a checkout that holds the program
(``amazon_textract_enhancer_spark/``). A run:

1. starts a local Spark session on the usable cores;
2. sets the workload up ``SETUPS`` times from ``--seed`` and reports the
   median as ``setup_s``;
3. runs ops until ``--seconds`` have passed (at least one), checking
   each op's output outside its timed region;
4. with ``--trace 1``, restarts the session twice and runs ops for
   ``--seconds`` in each: first with the event log on and the spans of
   ``trace.py`` installed, then untraced. It reports the per-layer
   metrics of the traced phase, and its op wall against the untraced
   one's as the tracing overhead.

The second-to-last stdout line is an audit record (cores, CPU steal,
input sizes, versions, the workload's own figures with sample counts);
the last line is the JSON result, with the metric names and units that
``BENCHMARK.json`` declares.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from statistics import median

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from e2e_bench import env  # noqa: E402
from e2e_bench.trace import EventLog, NullTracer, Profile, Tracer  # noqa: E402

SETUPS = 3


def declared() -> tuple[dict, dict]:
    """({end-to-end name: unit}, {per-layer name: unit}) from BENCHMARK.json."""
    with open(os.path.join(env.CHECKOUT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def workloads() -> dict:
    from e2e_bench.curate import Curate
    from e2e_bench.ingest_refresh_serve import IngestRefreshServe

    return {w.name: w for w in (IngestRefreshServe, Curate)}


def run_ops(w, tracer, seconds: float, tally: dict) -> list:
    results = []
    t_end = time.monotonic() + seconds
    while not results or time.monotonic() < t_end:
        res = w.op(tally["ops"], tracer)
        with tracer.span("bench.check"):
            errs = w.check(res)
        tally["ops"] += 1
        tally["attempted"] += res.units
        tally["failed"] += len(errs)
        for e in errs:
            print(f"[{w.name}] check failed: {e}", file=sys.stderr)
        results.append(res)
    return results


def measure(name: str, seed: int, seconds: float, trace: bool, run: env.RunDir,
            per_layer: dict) -> tuple[dict, dict]:
    cores = env.usable_cores()
    audit = env.Audit()
    tally = {"ops": 0, "attempted": 0, "failed": 0}
    spark = env.start_spark(run, cores)
    w = workloads()[name](spark, seed, run, cores)
    setup_times = []
    for _ in range(SETUPS):
        t0 = time.monotonic()
        w.setup()
        setup_times.append(time.monotonic() - t0)
    results = run_ops(w, NullTracer(), seconds, tally)
    op_walls = [r.wall for r in results]
    metrics = {"setup_s": median(setup_times), "op_s": median(op_walls)}
    summary = w.summary(results)
    audit.info.update(
        workload=name, seed=seed, inputs=w.input_sizes(),
        setup_s={"values": setup_times, "n": len(setup_times)},
        op_s={"values": op_walls, "n": len(op_walls)},
        figures=summary,
    )
    if trace:
        # traced, then untraced again as the overhead baseline, each in
        # a restarted session of the same already warm JVM; the
        # baseline runs warmer still, so the overhead reads high
        # rather than low
        spark.stop()
        log_dir = run.sub("eventlog")
        w.spark = spark = env.start_spark(run, cores, event_log_dir=log_dir)
        tracer = Tracer(spark)
        tracer.install(env.PACKAGE)
        try:
            traced = run_ops(w, tracer, seconds, tally)
        finally:
            tracer.uninstall()
            spark.stop()
        w.spark = spark = env.start_spark(run, cores)
        base = run_ops(w, NullTracer(), seconds, tally)
        prof = Profile(tracer, EventLog.from_dir(log_dir))
        # the layers of the other workload read 0
        metrics = {k: 0.0 for k in per_layer}
        metrics.update({f"workload.{k}": v for k, v in summary.items()})
        metrics.update(w.layers(prof, traced))
        metrics["trace.overhead_frac"] = (
            median([r.wall for r in traced]) / median([r.wall for r in base]) - 1.0
        )
        unknown = set(metrics) - set(per_layer)
        if unknown:
            raise RuntimeError(f"per-layer metrics not declared: {sorted(unknown)}")
    audit.info["ops"] = tally["ops"]
    return metrics, {**tally, "audit": audit.finish()}


def main(argv: list[str] | None = None) -> int:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # first, so that every temporary file of this process and the JVM it
    # starts lands inside the checkout
    run = env.RunDir()
    try:
        end_to_end, per_layer = declared()
        env.require_program()
        if args.workload not in workloads():
            ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads())}")
        metrics, tally = measure(args.workload, args.seed, args.seconds, bool(args.trace), run,
                                 per_layer)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if "pyspark" in sys.modules:
            env.stop_processes()
        run.close()
    wanted = per_layer if args.trace else end_to_end
    print(json.dumps({"audit": tally["audit"]}))
    result = {
        "correct": tally["failed"] == 0,
        "attempted": tally["attempted"],
        "failed": tally["failed"],
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in wanted.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
