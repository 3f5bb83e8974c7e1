"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of ``BENCHMARK.json``. The line before it carries the run's
details (input shape, tail percentile and sample count, latency per
operation kind, problems found). Everything the run writes stays under
``.bench_work/`` in the repository root: inputs and warehouse in a
per-run directory removed at the end, results and traces kept.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _metric_names() -> tuple[list[tuple[str, str]], list[tuple[str, str]]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return (
        [(m["name"], m["unit"]) for m in spec["end_to_end"]],
        [(m["name"], m["unit"]) for m in spec["per_layer"]],
    )


def _isolate(work: str) -> None:
    """Keep every file the engine writes inside the checkout: Spark's
    local dirs, Python and JVM temp files. No engine setting changes."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"


def _stop(spark) -> None:
    """Stop the session, then end the JVM it runs in and wait for it: the
    JVM exits when its stdin closes."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=120)


def _check_layer(layer: dict, expected, listed: set[str]) -> None:
    """A traced run must measure exactly its workload's per-layer metrics,
    each listed in BENCHMARK.json: a missing or misspelt one is an error,
    never a silent 0."""
    missing = set(expected) - set(layer)
    extra = set(layer) - set(expected)
    unlisted = set(expected) - listed
    if missing or extra or unlisted:
        raise RuntimeError(
            f"per-layer metrics: missing {sorted(missing)}, unexpected {sorted(extra)}, "
            f"not in BENCHMARK.json {sorted(unlisted)}"
        )


def main(argv: list[str] | None = None) -> int:
    started = time.perf_counter()
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "simple_map_reduce_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {list(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    e2e_names, layer_names = _metric_names()

    bench = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(bench, "results")
    os.makedirs(results, exist_ok=True)
    _isolate(work)
    cores = len(os.sched_getaffinity(0))
    run = workloads.Run(args.seed, args.seconds, bool(args.trace), work, cores)
    try:
        workloads.WORKLOADS[args.workload](run)
        e2e = run.end_to_end()
        layer = dict(run.layer)
        if args.trace:
            layer["session.start_s"] = run.span_median("session.start")
            layer.update(run.spark_layer())
            run.tracer.write(os.path.join(results, f"{args.workload}-seed{args.seed}-spans.json"))
            _check_layer(layer, workloads.LAYER_METRICS[args.workload], {n for n, _ in layer_names})
    finally:
        stopping = time.perf_counter()
        if run.spark is not None:
            _stop(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    run.info.setdefault("phases_s", {}).update(stop=time.perf_counter() - stopping, total=time.perf_counter() - started)

    outcomes = run.outcomes()
    attempted, failed = len(outcomes), outcomes.count(False)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "clients": 1,
        "loop": "closed",
        "end_to_end": e2e,
        **run.info,
        "problems": run.problems[:20],
    }
    if args.trace:
        untraced = os.path.join(results, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["end_to_end"]
            record["tracing_overhead"] = {k: v - base[k] for k, v in record["end_to_end"].items() if k in base}
        else:
            record["tracing_overhead"] = None  # no untraced run of this seed here
        # per-layer metrics of layers this workload does not use read 0
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in layer_names}
        record["not_applicable"] = sorted(n for n, _ in layer_names if n not in layer)
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in e2e_names}
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=float)
    print(json.dumps(record, default=float))
    print(
        json.dumps(
            {
                "correct": failed == 0 and not run.problems,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
