"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload filewriter --seed 1 --seconds 25 --trace 0

Run from the repository root (the engine package must sit beside
``perfbench/``). The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it carries the run's environment, setup split and workload details. The
exit code is 0 only when every output check passed. See README.md.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path[0] = str(ROOT)  # import perfbench as a package, engine beside it

from perfbench import envpin, metrics, tracing, workloads  # noqa: E402

GENERATIONS = 3  # set-up repeats the input generation; setup_s counts the median


def parse(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _spark_layers(dirs, tracer, out, window_ms, measure_s) -> dict:
    totals, by_span = tracing.fold_event_log(
        tracing.read_event_log(dirs.path("eventlog")), window_ms)
    layers = {f"spark.{k}": v for k, v in totals.items()}
    layers["spark.slot_utilization"] = totals["executor_run_s"] / (measure_s * envpin.slots())
    for key, name in (("_process_batch_spans", "streaming.job.spark_jobs_per_batch"),
                      ("_fold_spans", "streaming.stateful.spark_jobs_per_batch")):
        roots = out.layers.pop(key, [])
        if roots:
            layers[name] = statistics.mean(
                workloads.descendant_jobs(tracer, by_span, s) for s in roots)
    return layers, by_span


def main(argv=None) -> int:
    t_process = envpin.process_start()
    args = parse(argv)
    envpin.require_package()
    dirs = envpin.RunDirs(f"{args.workload}-{args.seed}-t{args.trace}")
    spark = None
    try:
        envpin.pin_process_env(dirs)
        gens, expectations = [], []
        for i in range(GENERATIONS):
            t0 = time.perf_counter()
            wl = workloads.WORKLOADS[args.workload](None, dirs, args.seed)
            wl.generate(f"inputs{i}")
            gens.append(time.perf_counter() - t0)
            expectations.append(wl.fingerprint())
        spark, session_s = envpin.start_session(dirs, event_log=bool(args.trace),
                                                jvm_opts=wl.jvm_opts)
        wl.spark = spark
        tracer = None
        if args.trace:
            tracer = tracing.Tracer(spark)
            workloads.instrument(tracer)
        t0 = time.perf_counter()
        wl.warm_up(tracer)
        warmup_s = time.perf_counter() - t0
        setup_s = time.time() - t_process - (sum(gens) - statistics.median(gens))

        window_start = time.time() * 1e3
        t0 = time.perf_counter()
        with envpin.RssSampler() as rss:
            out = wl.measure(args.seconds, tracer)
        measure_s = time.perf_counter() - t0
        window_ms = (window_start, time.time() * 1e3)
        if len(set(expectations)) != 1:
            out.failures.append("generator: the same seed gave different inputs")

        if tracer is not None:
            if hasattr(wl, "extra_passes"):
                extra = wl.extra_passes(tracer)
                out.failures.extend(extra.pop("_checks"))
                out.layers.update(extra)
            tracer.restore()
        env = envpin.record(spark)
        envpin.stop_session(spark)
        spark = None

        out.e2e.update({"setup_s": setup_s, "peak_rss_mb": rss.peak_mb})
        info = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "env": env,
            "setup": {"session_s": session_s, "generate_s": gens, "warmup_s": warmup_s},
            "measure_s": measure_s, "detail": out.detail, "failures": out.failures,
        }
        if tracer is not None:
            spark_layers, by_span = _spark_layers(dirs, tracer, out, window_ms, measure_s)
            out.layers.update(spark_layers)
            spans_file = ROOT / ".perfbench_out" / f"spans-{args.workload}-seed{args.seed}.json"
            tracer.write(spans_file, by_span, {"workload": args.workload, "seed": args.seed})
            info["spans_file"] = str(spans_file.relative_to(ROOT))
            shown = metrics.render(out.layers, metrics.PER_LAYER)
        else:
            shown = metrics.render(out.e2e, metrics.END_TO_END)
        correct = not out.failures and out.failed == 0
        print(json.dumps(info, default=str))
        print(json.dumps({"correct": correct, "attempted": out.attempted,
                          "failed": out.failed, "metrics": shown}))
        return 0 if correct else 1
    finally:
        if spark is not None:
            envpin.stop_session(spark)
        dirs.close()


if __name__ == "__main__":
    sys.exit(main())
