"""Benchmark runner: one closed-loop client on ``local[nproc]``.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  The run starts Spark, builds the
workload's corpus and index, sends untimed warm-up work (one batch; a
whole runbook pass on stream-churn), then sends units back to back for
S seconds, rounded up to a whole cycle of units, checks every
answer against the numpy ground truth and prints one JSON object as its
last stdout line, after an ``info`` line with the host, the raw batch
latencies and the error rate.
With ``--trace 0`` it reports the end-to-end metrics.  With ``--trace 1``
it measures for 2S seconds, alternating traced and untraced cycles of
units, reports the per-layer metrics and the tracing overhead, and
writes the spans under ``.perfbench_run/``.
Exit status is 1 when any answer was wrong or any unit failed, 2 when
the library is missing.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_run")

END_TO_END = {
    "setup_s": "s",
    "qps": "1/s",
    "batch_p50_s": "s",
    "recall_at_10": "ratio",
    "peak_rss_mb": "MB",
}

#: span layers whose self time is reported
SELF_LAYERS = ("client", "index.filteridx", "streaming.runbook", "operators.knn", "operators.sparse")

PER_LAYER = {
    "session.start_s": "s",
    "sources.corpus_gen_s": "s",
    "index.filteridx.build_s": "s",
    "index.filteridx.bytes_ratio": "ratio",
    "index.filteridx.plan_s": "s",
    "index.filteridx.exec_s": "s",
    "spark.jobs_per_call": "count",
    "spark.stages_per_call": "count",
    "spark.tasks_per_call": "count",
    "streaming.runbook.insert_s": "s",
    "streaming.runbook.delete_s": "s",
    "streaming.runbook.search_plan_s": "s",
    "streaming.runbook.search_exec_s": "s",
    "streaming.runbook.consolidations": "count",
    "streaming.runbook.replay_s": "s",
    "operators.knn.scan_rows_per_s": "1/s",
    "operators.sparse.plan_s": "s",
    "operators.sparse.exec_s": "s",
    "operators.sparse.postings_per_s": "1/s",
    "client.upload_s": "s",
    **{f"self.{layer}_s": "s" for layer in SELF_LAYERS},
    "trace.overhead_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_info() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "ram_gb": round(mem_kb / 2**20, 1)}


def pin_host(host: dict, work: str) -> None:
    """Size Spark to this host and keep every file it writes in ``work``.

    session.py defaults to local[32] and a 48g driver heap; the heap is
    set to a sixth of RAM (at most 2g) so the run fits beside others,
    and committed and touched at start, so peak memory does not swing
    with when the JVM happens to grow its heap."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap_gb = max(1, min(2, int(host["ram_gb"] // 6)))
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(host["nproc"]),
            "SPARK_DRIVER_MEMORY": f"{heap_gb}g",
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
            ),
            # the launcher JVM that assembles the spark-submit command
            "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYSPARK_SUBMIT_ARGS": (
                f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData '
                f'-Xms{heap_gb}g -XX:+AlwaysPreTouch" '
                "--conf spark.ui.showConsoleProgress=false "
                f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
                "pyspark-shell"
            ),
        }
    )
    host["driver_heap"] = os.environ["SPARK_DRIVER_MEMORY"]


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it.  Below 21 samples that percentile would not lie
    above the median, so the maximum is reported, at 100."""
    n = len(values)
    s = sorted(values)
    if n <= 20:
        return s[-1], 100.0
    idx = n - 11  # exactly ten samples above s[idx]
    return s[idx], round(100.0 * (idx + 1) / n, 2)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM and the
    Python workers below it have exited."""
    from pyspark import SparkContext

    from perfbench.tracing import descendants

    children = [p for p in descendants(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def per_cycle(units, key: str) -> float:
    """One cycle's worth of ``key``: the median at each position of the
    workload's cycle, summed over positions (a batch for one-unit
    cycles, a whole runbook pass on stream-churn)."""
    by_pos: dict[int, list[float]] = {}
    for u in units:
        if key in u.layer_s:
            by_pos.setdefault(u.pos, []).append(u.layer_s[key])
    return float(sum(median(v) for v in by_pos.values()))


def tracing_overhead(units) -> float:
    """Traced minus untraced median batch latency, per cycle position,
    averaged over the positions that have both."""
    diffs = []
    for pos in {u.pos for u in units}:
        lat = {
            t: [u.latency_s for u in units if u.pos == pos and u.traced == t]
            for t in (True, False)
        }
        if lat[True] and lat[False]:
            diffs.append(median(lat[True]) - median(lat[False]))
    return sum(diffs) / len(diffs) if diffs else 0.0


def layer_metrics(wl, units, setup_layer_s, tracer) -> dict:
    """Per-layer values from the traced units; 0 for a layer the
    workload does not exercise."""
    from perfbench.tracing import self_times

    traced = [u for u in units if u.traced]
    m = {name: 0.0 for name in PER_LAYER}
    for key in ("session.start", "sources.corpus_gen", "index.filteridx.build"):
        m[f"{key}_s"] = setup_layer_s.get(key, 0.0)
    m["index.filteridx.bytes_ratio"] = getattr(wl, "bytes_ratio", 0.0)
    for key in (
        "index.filteridx.plan", "index.filteridx.exec", "client.upload",
        "operators.sparse.plan", "operators.sparse.exec",
        "streaming.runbook.insert", "streaming.runbook.delete",
        "streaming.runbook.search_plan", "streaming.runbook.search_exec",
    ):
        m[f"{key}_s"] = per_cycle(traced, key)
    for attr in ("jobs", "stages", "tasks"):
        m[f"spark.{attr}_per_call"] = median(getattr(u.counts, attr) for u in traced)
    if any("streaming.runbook.insert" in u.layer_s for u in traced):
        m["streaming.runbook.consolidations"] = max(u.payload[1] for u in traced)
        by_pos: dict[int, list[float]] = {}
        for u in traced:
            by_pos.setdefault(u.pos, []).append(u.wall_s)
        m["streaming.runbook.replay_s"] = sum(median(v) for v in by_pos.values())
    rates: dict[str, list[float]] = {}
    for u in traced:
        for key, vals in wl.rates(u).items():
            rates.setdefault(key, []).extend(vals)
    for key, vals in rates.items():
        m[key] = median(vals)
    own = self_times([s for s in tracer.spans if s.request > 0])
    cycles = max(1.0, len(traced) / wl.cycle)
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = own.get(layer, 0.0) / cycles
    m["trace.overhead_s"] = tracing_overhead(units)
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "filter_vectordb_spark")):
        print(f"perfbench: the library is missing under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import tracing, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    host = host_info()
    pin_host(host, work)

    import numpy as np
    import pyspark

    from filter_vectordb_spark import get_spark

    host.update(spark=pyspark.__version__, numpy=np.__version__)
    wl = workloads.WORKLOADS[args.workload]()
    tracer = tracing.Tracer(enabled=bool(args.trace))
    units, failed = [], 0
    spark = None
    try:
        with tracing.RssSampler() as rss:
            with tracer.span("setup"):
                t = time.perf_counter()
                with tracer.span("session.start"):
                    spark = get_spark("perfbench")
                ctx = workloads.Context(spark, args.seed, work, tracer, tracing.SparkCounters(spark.sparkContext))
                ctx.setup_layer_s["session.start"] = time.perf_counter() - t
                wl.setup(ctx)
                warm = wl.warmup(ctx)
            tracer.enabled = False
            setup_s = time.perf_counter() - T0
            # a traced run measures twice as long: its untraced cycles are
            # the baseline the tracing overhead is taken against
            window = args.seconds * (2 if args.trace else 1)
            start = time.perf_counter()
            n = 0
            # whole cycles only, so every position of a cycle is measured
            # equally often: stop at the first cycle boundary past the window
            while n % wl.cycle or time.perf_counter() - start < window:
                # traced and untraced cycles alternate, so both see every position
                traced = bool(args.trace) and (n // wl.cycle) % 2 == 0
                tracer.enabled = traced
                tracer.request += 1
                n += 1
                try:
                    units.append(wl.unit(ctx, traced))
                except Exception:
                    traceback.print_exc()
                    failed += 1
            measured_s = time.perf_counter() - start
            tracer.enabled = False
            rss.sample()
            verdicts = wl.check(warm + units)
    finally:
        if spark is not None:
            stop_spark(spark)

    per_batch = [all(v.ok for v in vs) for vs in verdicts]
    wrong = per_batch.count(False)
    attempted = len(per_batch) + failed
    hits = sum(v.hits for vs in verdicts for v in vs)
    expected = sum(v.expected for vs in verdicts for v in vs)
    latencies = [u.latency_s for u in units if not u.traced]
    tail_s, tail_pct = tail(latencies or [float("nan")])
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "host": host,
        "units": len(units),
        "batches": len(latencies),
        "batch_latencies_s": [round(x, 4) for x in latencies],
        # not a bounded metric: runs hold too few batches for a steady tail
        "batch_tail_s": tail_s,
        "tail_percentile": tail_pct,
        "error_rate": (wrong + failed) / attempted,
        "queries_checked": expected,
    }
    if args.trace:
        metrics = layer_metrics(wl, units, ctx.setup_layer_s, tracer)
        path = os.path.join(work, f"spans-seed{args.seed}.json")
        tracer.dump(path)
        info["spans"] = os.path.relpath(path, ROOT)
        units_of = PER_LAYER
    else:
        metrics = {
            "setup_s": setup_s,
            "qps": sum(u.nq for u in units) / measured_s,
            "batch_p50_s": median(latencies),
            "recall_at_10": hits / expected if expected else 0.0,
            "peak_rss_mb": rss.peak_mb,
        }
        units_of = END_TO_END
    if set(metrics) != set(units_of):
        raise RuntimeError(f"metric names drifted from BENCHMARK.json: {sorted(set(metrics) ^ set(units_of))}")
    print(json.dumps({"info": info}))
    print(
        json.dumps(
            {
                "correct": wrong == 0 and failed == 0,
                "attempted": attempted,
                "failed": wrong + failed,
                "metrics": {k: {"value": v, "unit": units_of[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0 if wrong == 0 and failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
