"""Benchmark of identity_matching_spark, driven through its public API.

Run from the root of a checkout:

    python3 perfbench/run.py --workload resolve_sim --seed 1 --seconds 1 --trace 0

One run starts one Spark driver at ``local[<cores>]`` with the package's
``session.get_spark`` defaults and prepares the workload (``workloads.py``).
It then runs timed operations in a closed loop (one caller; the next
operation starts when the previous one returns) until ``--seconds`` have
passed, at least one, with no warm-up: an operation costs tens of seconds,
and a batch job pays the cold JVM too. It then checks the outputs and
prints a report line, a summary line and, last, the result object.

If the inputs every workload caches (corpora, the bootstrapped fold store,
the fold's reference) are missing, the run first builds them all in a child
process with a Spark driver of its own, so the timed operations still run
in a fresh JVM; that time is reported as ``harness_s`` and left out of
``setup_s``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on Spark's
event log, records a span around every layer call, and reports the per-layer
metrics instead; it writes the spans to ``.perfbench_work/traces/``.
Everything the run writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

LAYERS = ("signatures", "stats", "people", "hashing", "scoring", "cluster", "outputs", "incremental")
ROOTS = ("pipeline", "streaming")
LAYER_COUNTERS = (
    "wall_s", "self_s", "jobs", "short_jobs", "tasks", "run_s", "cpu_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "rows_out", "gap_s",
)
# how far a traced operation's spans may fall short of its wall time
SPAN_TOLERANCE_S = 0.05
ROOT_COUNTERS = ("wall_s", "self_s", "jobs", "gap_s")
UNITS = {
    "wall_s": "s", "self_s": "s", "run_s": "core-s", "cpu_s": "s", "gc_s": "s", "gap_s": "s",
    "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "state_mb": "MB", "bytes_written": "B",
    "keep_ratio": "ratio",
}


def _isolate_environment() -> None:
    """Point every scratch location of Spark, the JVM and Python at the work
    directory, and make the package importable by the Python workers."""
    for sub in ("tmp", "spark-local", "traces", "runs"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _layer_metrics(spans, log, tracer, workload, n_ops) -> dict:
    from eventlog import span_stats

    stats = span_stats(spans, log)
    totals: dict[str, dict] = {}
    for s in spans:
        agg = totals.setdefault(s["name"], {})
        for k, v in stats[s["id"]].items():
            agg[k] = agg.get(k, 0) + v
        rows = tracer.rows.get(s["id"])
        if s["name"] == "incremental":
            rows = stats[s["id"]]["records_written"]
        agg["rows_out"] = agg.get("rows_out", 0) + (rows or 0)

    metrics = {}
    for layer, counters in [(n, LAYER_COUNTERS) for n in LAYERS] + [(n, ROOT_COUNTERS) for n in ROOTS]:
        agg = totals.get(layer, {})
        for c in counters:
            unit = UNITS.get(c, "count")
            metrics[f"{layer}.{c}"] = _metric(agg.get(c, 0) / n_ops, unit)
    candidates = totals.get("hashing", {}).get("rows_out", 0) / n_ops
    kept = totals.get("scoring", {}).get("rows_out", 0) / n_ops
    metrics["hashing.candidates"] = _metric(candidates, "count")
    metrics["scoring.pairs_kept"] = _metric(kept, "count")
    metrics["scoring.keep_ratio"] = _metric(kept / candidates if candidates else 0.0, "ratio")
    from workloads import FOLD_COUNTERS

    extras = {"cluster.edges": 0.0, **{f"incremental.{k}": 0.0 for k in FOLD_COUNTERS}}
    extras.update(workload.layer_extras())
    for k, v in extras.items():
        metrics[k] = _metric(v, UNITS.get(k.split(".", 1)[1], "count"))
    return metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-caches", action="store_true",
                    help="only build every workload's cached inputs, then exit")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "identity_matching_spark", "__init__.py")):
        print(f"perfbench: no identity_matching_spark package under {ROOT}", file=sys.stderr)
        return 2
    _isolate_environment()
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    import procfs

    proc_start = procfs.process_start_time()

    from identity_matching_spark.session import get_spark
    from tracing import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    cores = _cores()
    if args.build_caches:
        spark = get_spark(app_name="perfbench-caches", master=f"local[{cores}]")
        spark.sparkContext.setLogLevel("ERROR")
        for w in WORKLOADS.values():
            w.build_caches(spark, WORK)
        _stop(spark)
        return 0
    harness_s = 0.0
    if any(w.caches_missing(WORK) for w in WORKLOADS.values()):
        harness_start = time.time()
        subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", args.workload,
                        "--seed", str(args.seed), "--seconds", "0", "--build-caches"],
                       stdout=sys.stderr, check=True)
        harness_s = time.time() - harness_start
    tag = f"{workload.name}-seed{args.seed}-pid{os.getpid()}"
    extra_conf = None
    if args.trace:
        log_dir = os.path.join(WORK, "traces", f"{tag}-eventlog")
        os.makedirs(log_dir)
        # the traced run only: timings come from untraced runs
        extra_conf = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                      "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"}
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    jvm = procfs.jvm_pid()

    workload.prepare(spark, WORK, args.seed)
    tracer = Tracer(spark) if args.trace else None
    failures: list[str] = []

    def run_op(index: int) -> bool:
        try:
            if tracer is None:
                workload.op(index)
            else:
                with tracer.span(workload.root_span, op=index), tracer.patch_pipeline():
                    workload.op(index, tracer)
        except Exception:  # a failed operation is counted, the run goes on
            traceback.print_exc()
            failures.append(f"operation {index} raised")
            return False
        return True

    setup_s = time.time() - proc_start - harness_s
    op_s, op_cpu_s = [], []
    started = time.time()
    while not op_s or time.time() - started < args.seconds:
        cpu0, wall0 = procfs.tree_cpu_s(), time.perf_counter()
        run_op(len(op_s))
        op_s.append(time.perf_counter() - wall0)
        op_cpu_s.append(procfs.tree_cpu_s() - cpu0)
    peak_rss_mb = procfs.peak_rss_mb(jvm)

    quality: dict = {}
    check_start = time.time()
    try:
        failed_checks, quality = workload.check()
        failures.extend(failed_checks)
    except Exception:
        traceback.print_exc()
        failures.append("output check raised")
    check_s = time.time() - check_start
    conf = dict(spark.sparkContext.getConf().getAll())
    layers = None
    if tracer is not None:
        layers = _layer_metrics_after_stop(spark, tracer, workload, log_dir, tag, op_s, failures)
    else:
        _stop(spark)

    report = {
        "workload": workload.name, "seed": args.seed, "trace": args.trace, "cores": cores,
        "spark_conf": conf, "op_s": op_s, "op_cpu_s": op_cpu_s, "op_s_tail": _tail(op_s),
        "peak_rss_mb": peak_rss_mb, "harness_s": harness_s, "check_s": check_s, "wall_s": time.time() - proc_start,
        "quality": quality, "failures": failures,
        "error_rate": len(failures) / len(op_s),
    }
    # the BENCHMARK.json end-to-end metrics. Peak RSS is reported, not
    # gated: the JVM grows its heap at varying times, and over ten runs of
    # fold_micro it spread 0.31-0.61 (interquartile range over median),
    # more than any bound may be (README.md)
    end_to_end = {
        "op_s.p50": _metric(statistics.median(op_s), "s"),
        "cpu_s_per_op": _metric(sum(op_cpu_s) / len(op_cpu_s), "s"),
        "setup_s": _metric(setup_s, "s"),
    }
    if "f1" in quality:
        end_to_end["pairwise_f1"] = _metric(quality["f1"], "ratio")
    print(json.dumps({"report": report}, sort_keys=True, default=str))
    tail = report["op_s_tail"]
    print(
        f"{workload.name} seed={args.seed}{' traced' if tracer else ''}: "
        + "  ".join(f"{k}={v['value']:.4g} {v['unit']}" for k, v in end_to_end.items())
        + (f"  op_s.p{tail['percentile']:.3g}={tail['value']:.4g} s" if tail
           else f"  op_s.tail=n/a ({len(op_s)} op(s); a tail needs 11)")
        + f"  peak_rss_mb={peak_rss_mb:.0f} MB"
        + f"  error_rate={report['error_rate']:.3g} ({len(failures)}/{len(op_s)})"
    )
    metrics = layers if layers is not None else end_to_end
    print(json.dumps({
        "correct": not failures,
        "attempted": len(op_s),
        "failed": min(len(failures), len(op_s)),
        "metrics": metrics,
    }))
    return 0


def _tail(samples: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(samples)
    if n <= 10:
        return None
    pct = 100.0 * (n - 10) / n
    rank = n - 10
    return {"percentile": pct, "value": sorted(samples)[rank - 1], "samples": n}


def _stop(spark) -> None:
    """Stop Spark, its JVM and the Python workers, and wait for them."""
    import procfs
    from pyspark import SparkContext

    children = procfs.descendants()[1:]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    alive = procfs.wait_gone(children, 60)
    if alive:
        raise RuntimeError(f"processes still running after Spark stopped: {alive}")


def _layer_metrics_after_stop(spark, tracer, workload, log_dir, tag, op_s, failures) -> dict:
    """Stop Spark (which closes the event log), then attribute it to spans."""
    from eventlog import read_event_log

    _stop(spark)
    logs = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    log = read_event_log(os.path.join(log_dir, logs[0]))
    spans = tracer.spans
    tracer.write(os.path.join(WORK, "traces", f"{tag}.spans.json"))
    # each operation's root self time plus its children's wall time must
    # account for the operation's wall time, timed apart from the spans
    by_parent: dict = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    from eventlog import self_time

    roots = sorted(by_parent.get(None, []), key=lambda s: s["start"])
    if len(roots) != len(op_s):
        failures.append(f"{len(roots)} root spans for {len(op_s)} operations")
    for root, wall in zip(roots, op_s):
        kids = by_parent.get(root["id"], [])
        accounted = self_time(root, kids) + sum(k["end"] - k["start"] for k in kids)
        if abs(accounted - wall) > SPAN_TOLERANCE_S + 0.01 * wall:
            failures.append(f"span {root['id']}: self + children {accounted:.3f}s, "
                            f"operation {wall:.3f}s")
    metrics = _layer_metrics(spans, log, tracer, workload, len(op_s))
    metrics["trace.op_s.p50"] = _metric(statistics.median(op_s), "s")
    return metrics


if __name__ == "__main__":
    sys.exit(main())
