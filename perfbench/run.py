"""Benchmark of the funding engine: tick latency of the live funding
path, and a warm mix of registry queries.

    python3 perfbench/run.py --workload stream_tick --seed 1 --seconds 15 \
        --trace 0

One process, one SparkSession on ``local[<cores>]``, one client in a
closed loop. The inputs are generated from ``--seed`` inside a scratch
directory under ``.perfbench_work/`` that is removed on exit. ``--seconds``
sets the number of timed operations (ticks, or whole passes of the query
mix) to what takes that long on the machine the benchmark was tuned on.
Outputs are checked against DuckDB oracles outside the timed spans.

The last stdout line is the result: ``correct``, ``attempted``,
``failed`` and ``metrics``, the end-to-end metrics of BENCHMARK.json
with ``--trace 0`` and its per-layer metrics with ``--trace 1``. The
end-to-end times leave out the time the hypervisor held the machine's
vCPUs back (see README.md). The line before the result stamps the run's
context (cores, load average, that held-back share, the raw latencies,
a fixed single-threaded calibration probe) and flags a contended
machine.
See README.md in this directory for what each metric means.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

from tracing import held_back, host_ticks  # noqa: E402

HOST_AT_START = host_ticks()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

#: The program's default heap (8 GB) does not fit the reference's
#: deployment floor of 4 GB RAM, and under it the JVM's resident size
#: follows the collector's growth decisions: one seed's peak read 2.9 GB
#: on one run and 4.8 GB on the next.
HEAP = "1g"
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SELF_LAYERS = ("sources.load", "pipeline.stats", "sinks.merge", "sinks.swap",
               "streaming.pipelines")
EVENT_LOG_SUMS = (
    "jobs", "stages", "tasks", "driver_gap_s", "executor_run_s",
    "executor_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
    "spill_mb",
)
STREAM_DURATIONS = {
    "add_batch_s": "addBatch", "wal_commit_s": "walCommit",
    "commit_offsets_s": "commitOffsets", "query_planning_s": "queryPlanning",
    "latest_offset_s": "latestOffset",
}


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("stream_tick", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs, for the self-check")
    return ap.parse_args()


def calibrate(rounds: int = 3) -> dict[str, float]:
    """Fixed single-threaded CPU probe: a constant pure-Python loop.
    On an idle machine the rounds agree within a few percent."""
    samples = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        x = 0
        for i in range(5_000_000):
            x += i
        samples.append(time.perf_counter() - t0)
    lo, hi = min(samples), max(samples)
    return {"calib_min_s": lo, "calib_spread_pct": 100.0 * (hi - lo) / lo}


def rss_mb(pids: list[int], field: str = "VmRSS") -> float:
    """Resident memory of the processes, now (VmRSS) or at its peak
    (VmHWM)."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(f"{field}:"):
                    total += int(line.split()[1])
    return total / 1024.0


def retained_rss_mb(spark, pids: dict[str, int]) -> dict[str, float]:
    """Resident memory of the processes after a full collection in the
    driver's Python and in the JVM, once the JVM has stopped giving back
    the heap it shrank: what the program keeps, without the slack that
    the collector's growth decisions leave. The JVM gives the heap back
    on a thread of its own some tenths of a second after the collection,
    so this waits at least 2 s, until a second of samples agrees, or 5 s
    at most."""
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()
    seen: list[dict[str, float]] = []
    while len(seen) < 20:
        time.sleep(0.25)
        seen.append({name: rss_mb([pid]) for name, pid in pids.items()})
        last = [sum(x.values()) for x in seen[-4:]]
        if len(seen) >= 8 and max(last) - min(last) < 2.0:
            break
    return seen[-1]


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it started, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def per_pass(ops: list[dict], values: dict[int, float]) -> float:
    """Sum over operation kinds of the mean per operation of that kind:
    per tick for the stream, per pass for the query mix. Means, unlike
    medians, keep the layers' sum equal to the traced wall, so the
    tracing overhead compares this with the untraced runs' mean."""
    by_kind: dict[str, list[float]] = defaultdict(list)
    for op in ops:
        by_kind[op["kind"]].append(values.get(op["id"], 0.0))
    return sum(statistics.fmean(v) for v in by_kind.values())


def layer_metrics(tracer, progress, events, nproc) -> dict[str, float]:
    from tracing import HARNESS, STREAM_PHASES
    from workloads import FAMILIES

    ops = tracer.ops

    def each(source: dict[int, dict], key: str) -> float:
        return per_pass(ops, {i: m.get(key, 0.0) for i, m in source.items()})

    selfs = tracer.self_times()
    out = {f"{layer}_s": each(selfs, layer)
           for layer in SELF_LAYERS + tuple(f"ops.{f}" for f in FAMILIES)}
    out["trace.harness_s"] = each(selfs, HARNESS)
    out["sinks.bytes_written"] = per_pass(ops, tracer.bytes_written)

    stream = {i: {k: sum(p.get(k, 0) for p in prog) / 1e3
                  for k in STREAM_PHASES} for i, prog in progress.items()}
    calls = tracer.span_durations("streaming.pipelines")
    out["stream.query_start_s"] = per_pass(ops, {
        i: t - stream[i]["triggerExecution"] for i, t in calls.items()
        if i in stream})
    for name, key in STREAM_DURATIONS.items():
        out[f"stream.{name}"] = each(stream, key)
    out["stream.batches"] = per_pass(
        ops, {i: float(len(p)) for i, p in progress.items()})

    for key in EVENT_LOG_SUMS:
        out[f"spark.{key}"] = each(events, key)
    out["python.worker_s"] = each(events, "python_worker_s")
    out["python.arrow_mb"] = each(events, "python_arrow_mb")
    total = {k: sum(m.get(k, 0.0) for m in events.values())
             for k in ("tasks", "empty_tasks", "executor_run_s")}
    walls = {op["id"]: op["wall"] for op in ops}
    out["spark.empty_task_frac"] = (
        total["empty_tasks"] / total["tasks"] if total["tasks"] else 0.0)
    out["spark.busy_frac"] = total["executor_run_s"] / (
        sum(walls.values()) * nproc)
    out["trace.pass_s"] = per_pass(ops, walls)
    return out


def unshared(seconds: float, share_held_back: float) -> float:
    """The part of a wall-clock interval in which the hypervisor let the
    machine's vCPUs run: what the interval would have taken on a host
    that shares no core with another guest."""
    return seconds * (1.0 - share_held_back)


def timed_loop(wl, seconds: float, tracer, listener):
    """Run the workload's operations back to back. Returns the wall
    latencies by kind, the same with the held-back time left out, the
    streaming progress by traced operation, and the counts attempted and
    failed."""
    latencies: dict[str, list[float]] = defaultdict(list)
    own: dict[str, list[float]] = defaultdict(list)
    progress: dict[int, list[dict]] = {}
    attempted = wl.operations(seconds)
    failed = 0
    with (tracer.instrument(wl.instrumentation(tracer)) if tracer
          else contextlib.nullcontext()):
        for _ in range(attempted):
            ended = listener.terminated if listener else 0
            try:
                kind = wl.op(tracer)
                latencies[kind].append(wl.latency)
                own[kind].append(unshared(wl.latency, wl.held_back))
                ok = True
            except Exception:  # noqa: BLE001 — counted, the run goes on
                traceback.print_exc(file=sys.stderr)
                failed += 1
                ok = False
            if listener:
                progress[len(tracer.ops) - 1] = listener.take(
                    ended + 1, timeout=10.0 if ok else 0.0)
    return latencies, own, progress, attempted, failed


def bench(args, work: str, nproc: int) -> tuple[dict, dict]:
    from funding_monitoring_spark.session import get_spark
    from tracing import Tracer, fold_event_log, progress_listener
    from workloads import WORKLOADS

    conf = {
        # the heap's ceiling; without an initial size, the JVM commits
        # only what the program's allocations make it grow to
        "spark.driver.memory": HEAP,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
    }
    event_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    load_at_start = os.getloadavg()
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench_{args.workload}",
                      master=f"local[{nproc}]", extra_conf=conf)
    session_start = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    data = os.path.join(work, "data")
    try:
        wl = WORKLOADS[args.workload](spark, data, args.seed, args.scale)
        t1 = time.perf_counter()
        wl.setup()
        warm = time.perf_counter() - t1
        setup_wall = time.perf_counter() - T_START
        setup_s = unshared(setup_wall, held_back(HOST_AT_START, host_ticks()))

        tracer = Tracer() if args.trace else None
        listener = None
        if args.trace and args.workload == "stream_tick":
            listener = progress_listener()
            spark.streams.addListener(listener)
        latencies, own, progress, attempted, failed = timed_loop(
            wl, args.seconds, tracer, listener)
        disk_mb = wl.disk_mb()
        pids = {"python": os.getpid(), "jvm": jvm_pid}
        peak_mb = {name: rss_mb([pid], "VmHWM") for name, pid in pids.items()}
        retained_mb = retained_rss_mb(spark, pids)
        mismatches = wl.check()
    finally:
        stop_spark(spark)
    context = {"nproc": nproc, "loadavg_at_start": load_at_start,
               "loadavg_at_end": os.getloadavg(),
               "held_back": held_back(HOST_AT_START, host_ticks()),
               **calibrate()}
    context["contended"] = (context["calib_spread_pct"] > 25.0
                            or context["held_back"] > 0.1)
    context["setup_wall_s"] = setup_wall
    context["peak_rss_mb"] = peak_mb
    context["retained_rss_mb"] = retained_mb
    context["latencies"] = {k: [round(x, 3) for x in v]
                            for k, v in latencies.items()}
    context["unshared_latencies"] = {k: [round(x, 3) for x in v]
                                     for k, v in own.items()}
    failed += mismatches
    medians = [statistics.median(v) for v in own.values() if v]
    if not medians:
        raise RuntimeError("no operation succeeded")
    if args.trace:
        logs = os.listdir(event_dir)
        events = fold_event_log(os.path.join(event_dir, logs[0]), tracer.ops)
        metrics = layer_metrics(tracer, progress, events, nproc)
        metrics["session.start_s"] = session_start
        metrics["session.warm_s"] = warm
        tracer.dump(os.path.join(os.path.dirname(work),
                                 f"trace-{args.workload}.json"))
    else:
        metrics = {
            "setup_s": setup_s,
            "mix_wall_s": sum(medians),
            "query_geomean_s": math.exp(statistics.fmean(
                math.log(m) for m in medians)),
            "retained_rss_mb": sum(retained_mb.values()),
            "disk_mb": disk_mb,
        }
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return context, result


def main() -> int:
    args = parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # everything the run writes stays inside the checkout, and Spark's
    # Python workers import the package from it whatever the cwd is
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]
    try:
        context, result = bench(args, work, nproc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    computed = result["metrics"]
    result["metrics"] = {
        m["name"]: {"value": computed[m["name"]], "unit": m["unit"]}
        for m in wanted
    }
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
