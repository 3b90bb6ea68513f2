"""Benchmark entry point.

    python3 perfbench/run.py --workload {pipeline,evaluate} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. It starts one Spark session at
local[<all CPUs>], writes the workload's inputs (generated from the seed)
as parquet files and runs one warm-up pass: that is set-up. Then:

* ``--trace 0``: runs passes until ``--seconds`` have passed (at least
  two) and reports the end-to-end metrics;
* ``--trace 1``: runs one untraced and one traced pass with the Spark
  event log on, and reports the per-layer metrics.

After the measured passes it verifies the first one against independent
DuckDB/Python computations, and every later one against the first.

The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it,
prefixed ``perfbench-detail``, holds the breakdown (set-up parts, every
pass, verification, per-seed input and output counts, host weather).
Everything the run writes goes under ``.bench_build/`` in the
repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
# ROADMAP.md's baseline: jobs / stages of one warm bench.py q1 (22 / 39)
# plus one q4 (16 / 26) at sf0.1, local[4]
ROADMAP_COUNTS = {"pipeline": (22 + 16, 39 + 26)}
# a run measures passes until --seconds have passed, and at least this
# many, so its medians never rest on one pass
MIN_PASSES = 2


def _percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q`` quantile, 0 <= q <= 1."""
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def _isolate(work: str) -> dict[str, str]:
    """Point every scratch location of Spark, the JVM, Python workers
    and the native-kernel build cache inside ``work``; return the Spark
    confs that do the same."""
    for sub in ("tmp", "local", "eventlog", "warehouse", "inputs"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cache = os.path.join(BUILD, "native-cache")
    os.makedirs(cache, mode=0o700, exist_ok=True)
    os.environ.update(
        {
            "TMPDIR": os.path.join(work, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "XDG_CACHE_HOME": cache,
            # the launcher JVM spark-submit starts first: no hsperfdata
            # file in /tmp (the driver JVM gets the flag below)
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    # a bounded heap on a shared host. It fits in free memory, so the
    # package's session policy pre-touches it at JVM start, which also
    # makes peak memory repeat from run to run (unlike a heap that grows
    # as the collector decides)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    return {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file, which the JVM puts in /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }


def _stop(spark) -> None:
    """Stop the session, the JVM it launched, and wait for every child
    process (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    from perfbench.observe import children

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while (kids := children(os.getpid())) and time.time() < deadline:
        time.sleep(0.2)
    for pid in kids:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    while children(os.getpid()):
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            break


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["pipeline", "evaluate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "entityframe_spark", "__init__.py")):
        print(
            "perfbench: entityframe_spark/ not found; run from the repository root",
            file=sys.stderr,
        )
        return 2
    work = os.path.join(BUILD, "perfbench-run")
    shutil.rmtree(work, ignore_errors=True)
    conf = _isolate(work)
    sys.path.insert(0, ROOT)

    import entityframe_spark

    if not os.path.abspath(entityframe_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: imported {entityframe_spark.__file__}, not {ROOT}", file=sys.stderr)
        return 2

    from entityframe_spark.functions import jw_native, uf_native
    from entityframe_spark.session import get_spark

    from perfbench import observe
    from perfbench.workloads import make

    cores = os.cpu_count() or 1
    if args.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    detail: dict = {"workload": args.workload, "seed": args.seed, "cores": cores}

    with observe.PeakRss() as rss:
        # -- set-up: session, kernels, inputs, warm-up pass ---------------
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            cores=cores,
            shuffle_partitions=cores,
            extra_conf=conf,
        )
        t1 = time.perf_counter()
        try:
            if not (jw_native.native_available() and uf_native.native_available()):
                raise RuntimeError("native kernels failed to build")
            t2 = time.perf_counter()
            sc = spark.sparkContext
            sc.setJobGroup("bench.setup", "bench.setup")
            wl = make(args.workload, spark, args.seed, os.path.join(work, "inputs"))
            t3 = time.perf_counter()
            untraced = observe.Tracer(spark, traced=False)
            wl.run(untraced)
            t4 = time.perf_counter()
            setup = {
                "session_s": t1 - t0,
                "kernels_s": t2 - t1,
                "inputs_s": t3 - t2,
                "warmup_s": t4 - t3,
            }
            setup_s = t4 - t0

            steal0 = observe.cpu_times()
            passes, cpu = [], []

            def measure(tracer) -> None:
                c0 = observe.tree_cpu_s()
                passes.append(wl.run(tracer))
                cpu.append(observe.tree_cpu_s() - c0)

            if args.trace:
                sc.setJobGroup("bench.untraced", "bench.untraced")
                measure(untraced)
                sc.setJobGroup(observe.GLUE, observe.GLUE)
                tracer = observe.Tracer(spark, traced=True)
                measure(tracer)
            else:
                sc.setJobGroup("bench.pass", "bench.pass")
                t_end = time.perf_counter() + args.seconds
                while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
                    measure(untraced)
            steal = observe.steal_share(steal0, observe.cpu_times())

            # -- verification, outside every timed region: the first pass
            # against independent computations, every other pass against it
            sc.setJobGroup("bench.verify", "bench.verify")
            tv = time.perf_counter()
            bad, counts = wl.verify(passes[0], args.seed)
            verify_s = time.perf_counter() - tv
            failed = bool(bad) + sum(p.summary != passes[0].summary for p in passes[1:])
            attempted = sum(1 + len(p.query_s) for p in passes)
            if failed > bool(bad):
                bad.append("a pass's outputs differ from the verified first pass")
            detail.update(setup=setup, verify_s=verify_s, verify_failures=bad, counts=counts)
            if args.trace:
                sc.setJobGroup("bench.extras", "bench.extras")
                extras = wl.layer_extras(passes[1], counts)
            rss.sample()
        finally:
            _stop(spark)
    peak_rss_mb = rss.peak_mb

    walls = [p.wall_s for p in passes]
    throughput = [p.items / p.items_s for p in passes]
    queries = [q for p in passes for q in p.query_s]
    ops = queries or walls
    detail.update(
        passes_wall_s=walls,
        passes_cpu_s=cpu,
        items_per_pass=passes[0].items,
        query_s=queries,
        host={"steal_share": steal, **observe.weather_probes()},
        failed_ratio=failed / attempted,
    )
    for name in passes[0].rates:
        detail[name] = statistics.median(p.rates[name] for p in passes)
    if queries:
        detail["query_p50_ms"] = 1000 * _percentile(queries, 0.5)
        detail["query_p90_ms"] = 1000 * _percentile(queries, 0.9)

    if args.trace:
        counters = observe.event_log_counters(os.path.join(work, "eventlog"))
        untraced_c = counters.get("bench.untraced", {})
        metrics = observe.layer_metrics(tracer, counters, cores)
        for name in observe.EXTRAS:
            metrics[name] = extras.get(name, 0.0)
        metrics.update(
            {
                "bench.trace_overhead_s": walls[1] - walls[0],
                "bench.untraced_jobs": untraced_c.get("jobs", 0),
                "bench.untraced_stages": untraced_c.get("stages", 0),
            }
        )
        detail["spark_counters"] = counters
        if args.workload in ROADMAP_COUNTS:
            detail["roadmap_jobs_stages"] = ROADMAP_COUNTS[args.workload]
    else:
        metrics = {
            "setup_s": setup_s,
            "wall_s": statistics.median(walls),
            "cpu_s": statistics.median(cpu),
            "items_per_s": statistics.median(throughput),
            "op_p50_ms": 1000 * _percentile(ops, 0.5),
            "op_p90_ms": 1000 * _percentile(ops, 0.9),
            "peak_rss_mb": peak_rss_mb,
        }
    detail["peak_rss_mb"] = peak_rss_mb
    detail["peak_rss_by_process_mb"] = rss.by_process()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    if set(metrics) != set(units):
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}"
        )
    print("perfbench-detail " + json.dumps(detail, default=str), flush=True)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()
                },
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
