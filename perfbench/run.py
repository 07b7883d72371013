"""Repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The benchmark generates its seeded
inputs, drives the package through its public entry points on a
``local[nproc]`` Spark session, checks every output, and prints as its
last stdout line one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (tracing off);
with ``--trace 1`` they are the per-layer ones from a traced run, whose
table is printed above the JSON line and whose spans are written under
``.perfbench/traces/``. The metric names and units are those that
``BENCHMARK.json`` declares. See ``perfbench/README.md`` for the
workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "distributed_gpu_lsh_using_sycl_spark"

#: session starts per untraced run; their median is part of setup_s
SETUPS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="length of the warm measurement phase")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=None,
                    help="override the workload's input size (smoke tests)")
    return ap.parse_args(argv)


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


def catalogue(trace: int) -> dict[str, str]:
    """Metric name -> unit, in ``BENCHMARK.json``'s order: its per-layer
    metrics for a traced run, its end-to-end metrics otherwise."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def checked(wl, spark, op, failures: list):
    """Run the workload's output check on ``op``; a failed check counts as
    a failed operation."""
    wl.check(spark, op)
    if op.problems:
        failures.append(op.problems)
        for p in op.problems:
            log(f"check failed: {p}")
    return op


def start_with_inputs(wl, host):
    """Launch the JVM and its first session while one thread of this
    process generates the workload's inputs (pure Python and numpy; the
    launch mostly waits on the JVM)."""
    with ThreadPoolExecutor(max_workers=1) as pool:
        ready = pool.submit(wl.prepare)
        spark = host.start()
        ready.result()
    log("session up, inputs ready")
    return spark


def run_untraced(wl, host, seconds: float) -> dict:
    from harness import PeakRss

    failures: list = []
    spark = start_with_inputs(wl, host)
    # set-up = session start and input read (repeated, median) + the first,
    # cold operation (once: only the JVM's first one is fully cold)
    starts, warm = [], []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        spark = host.start()
        wl.read_input(spark)
        starts.append(time.perf_counter() - t0)
    cold = wl.first_op(spark)
    setup = statistics.median(starts) + cold.seconds
    log(f"set-up: sessions {[round(x, 2) for x in starts]}s, "
        f"cold op {cold.seconds:.2f}s")
    checked(wl, spark, cold, failures)
    # JIT compilation and Python-worker warm-up go on past the cold
    # operation: one more, untimed, before the measured ones. Memory is
    # sampled during it too (so that streaming's two measured waves do not
    # decide the median alone), but not during output checks.
    with PeakRss() as rss:
        warmup = wl.next_op(spark)
    peaks = [rss.peak_mb]
    log(f"warm-up op: {warmup.seconds:.2f}s, {rss.peak_mb:.0f} MB")
    checked(wl, spark, warmup, failures)
    t0 = time.perf_counter()
    while wl.more(len(warm), time.perf_counter() - t0, seconds):
        with PeakRss() as rss:
            op = wl.next_op(spark)
        warm.append(op.seconds)
        peaks.append(rss.peak_mb)
        log(f"warm op {len(warm)}: {op.seconds:.2f}s, {rss.peak_mb:.0f} MB")
        checked(wl, spark, op, failures)
    wl.close(spark)
    wall = statistics.median(warm)
    values = {
        "setup_s": setup,
        "wall_s": wall,
        "rows_per_s": wl.rows_per_op / wall,
        # every operation's recall is recorded; the last one's covers the
        # whole input (for streaming, all waves)
        "recall": wl.recalls[-1],
        # the median warm operation's peak: single operations spike by
        # 1-2 GB when Spark forks extra Python workers, at random (every
        # peak, the warm-up's first, is kept in the results file)
        "peak_rss_mb": statistics.median(peaks),
    }
    return {"values": values, "attempted": 2 + len(warm),
            "failed": len(failures),
            "samples": {"session_start_s": starts, "cold_op_s": cold.seconds,
                        "warmup_op_s": warmup.seconds, "warm_s": warm,
                        "peak_rss_mb": peaks,
                        "recall": wl.recalls}}


def _layer_of_sink(sink: str) -> str | None:
    if "cand_pairs" in sink:
        return "streaming.stateful"
    if "signatures" in sink:
        return "streaming.ingest"
    return None


def _await_progress(progress, quiet_s: float = 1.0, limit_s: float = 10.0):
    """Progress events reach the listener asynchronously; wait until none
    has arrived for ``quiet_s``."""
    deadline = time.time() + limit_s
    seen = len(progress.snapshot())
    quiet_since = time.time()
    while time.time() < deadline:
        time.sleep(0.2)
        n = len(progress.snapshot())
        if n != seen:
            seen, quiet_since = n, time.time()
        elif time.time() - quiet_since >= quiet_s:
            break
    return progress.snapshot()


def run_traced(wl, host, names) -> dict:
    from spans import EVENT_LOG_METRICS, StreamProgress, Tracer, event_log_groups
    from workloads import digest

    failures: list = []
    spark = start_with_inputs(wl, host)
    progress = StreamProgress()
    spark.streams.addListener(progress)
    # cold and warm-up operations, untimed, as in the untraced run
    checked(wl, spark, wl.first_op(spark), failures)
    checked(wl, spark, wl.next_op(spark), failures)
    untraced = checked(wl, spark, wl.untraced_pass(spark), failures)

    tracer = Tracer(spark.sparkContext)
    with tracer.span("op"):
        traced = wl.traced_pass(spark, tracer)
    root = tracer.spans[0]
    if digest(traced.output, wl.key) != digest(untraced.output, wl.key):
        traced.problems.append("traced result digest differs from untraced")
    checked(wl, spark, traced, failures)

    spark.sparkContext.setJobGroup("trace.counts", "trace.counts")
    counts = wl.layer_counts(spark)
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    # streaming micro-batches inside the traced pass become child spans
    stream: dict[str, dict] = {}
    run_layer: dict[str, str] = {}
    for b in _await_progress(progress):
        layer = _layer_of_sink(b["sink"])
        if layer is None or not root.start <= b["start"] <= root.end:
            continue
        run_layer[b["run_id"]] = layer
        tracer.add(layer, b["start"], b["start"] + b["duration_s"])
        acc = stream.setdefault(layer, {"input_rows": 0, "batches": 0,
                                        "state_rows": 0, "state_mb": 0.0,
                                        "commit_s": 0.0})
        acc["input_rows"] += b["input_rows"]
        acc["batches"] += 1
        acc["commit_s"] += b["commit_s"]
        # state size is a level, not a flow: keep the latest batch's
        acc["state_rows"], acc["state_mb"] = b["state_rows"], b["state_mb"]
    wl.close(spark)
    host.stop_session()
    groups = event_log_groups(host.event_log())
    # a streaming query's jobs run under its run id as their job group
    for run_id, layer in run_layer.items():
        acc = groups.setdefault(layer, {})
        for k, v in groups.get(run_id, {}).items():
            acc[k] = acc.get(k, 0) + v

    busy = tracer.self_times()
    trace = {
        "wall_s": root.end - root.start,
        "untraced_wall_s": untraced.seconds,
        # both passes do the same work, timed the same way by the workload
        "overhead_s": traced.seconds - untraced.seconds,
    }

    def value(name: str) -> float:
        layer, metric = name.rsplit(".", 1)
        if layer == "trace":
            return trace[metric]
        if metric == "busy_s":
            # the root span's self time is what no layer span covers
            return busy.get("op" if layer == "other" else layer, 0.0)
        if metric in EVENT_LOG_METRICS:
            return groups.get(layer, {}).get(metric, 0)
        if name in counts:
            return counts[name]
        # a layer the workload does not run reports 0
        return stream.get(layer, {}).get(metric, 0)

    tracer.dump(host.work / "traces" / f"{wl.name}-seed{wl.seed}.json",
                workload=wl.name, seed=wl.seed, groups=groups)
    return {"values": {n: value(n) for n in names}, "attempted": 4,
            "failed": len(failures)}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        log(f"no {PACKAGE} package under {ROOT}: run from a checkout of "
            "the repository")
        return 2
    sys.path.insert(0, str(ROOT))
    from harness import Host
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    units = catalogue(args.trace)
    host = Host(ROOT, f"{args.workload}-s{args.seed}-t{args.trace}",
                event_log=bool(args.trace))
    wl = WORKLOADS[args.workload](host, args.seed, args.rows)
    try:
        if args.trace:
            res = run_traced(wl, host, units)
        else:
            res = run_untraced(wl, host, args.seconds)
    finally:
        host.shutdown()
    log("shut down")

    import pyspark
    info = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
            "nproc": host.cpus, "spark": pyspark.__version__,
            "rows": wl.rows, "seconds": args.seconds, **res}
    out = host.work / "results"
    out.mkdir(parents=True, exist_ok=True)
    (out / f"{wl.name}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(info, indent=1))
    values = res["values"]
    print(f"nproc={host.cpus} spark={pyspark.__version__} rows={wl.rows} "
          f"seed={args.seed} attempted={res['attempted']} "
          f"failed={res['failed']}")
    print(f"== {wl.name}")
    for name, unit in units.items():
        print(f"  {name:44s} {values[name]:14.4f} {unit}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
