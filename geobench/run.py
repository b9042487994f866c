"""Benchmark entry point: one workload, one seed, one result line.

    python3 geobench/run.py --workload jvm_analytics --seed 42 --seconds 20 --trace 0

Run from the root of a checkout.  The engine is imported from that root;
inputs, Spark scratch space and traces go under ``.geobench/`` there.  The
last line of stdout is the result JSON; the line before it records the run
environment and every operation's count, expected count, wall and CPU time.
See geobench/README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
import zipfile
from contextlib import contextmanager


def _process_start() -> float:
    """perf_counter() value at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rfind(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.perf_counter() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_PROCESS = _process_start()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("jvm_analytics", "udf_joins", "index_ingest_query")
HEAP = "3g"
#: a run that has not finished by then stops its processes and fails
DEADLINE_S = 170


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.1, choices=(0.1, 0.001))
    p.add_argument("--expect", action="append", default=[], metavar="KEY=COUNT",
                   help="override one expected count (the self-test plants a wrong one)")
    return p.parse_args(argv)


def configure_env(run_dir: str, cores: int) -> None:
    """Keep every file Spark, the JVM and the engine write inside the run
    directory.  Must run before pyspark is imported."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CACHE"] = os.path.join(run_dir, "engine_cache")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # a fixed, pre-touched driver heap: resident memory then no longer
    # depends on when the collector chose to grow the heap, so
    # peak_rss_mb moves with off-heap, Python driver and worker memory
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP} "
                 "-XX:+AlwaysPreTouch")
    # the launcher JVM spark-submit starts first takes only these
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(java_opts),
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.local.dir={tmp}"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"),
        "pyspark-shell",
    ])


class Context:
    """Run-wide state handed to the workloads: session, paths, tracer and
    the operation runner."""

    def __init__(self, args, run_dir: str, cores: int):
        from geobench.layers import Tracer

        self.sf = args.sf
        self.seed = args.seed
        self.cores = cores
        self.run_dir = run_dir
        self.cache_dir = os.path.join(ROOT, ".geobench", "cache")
        self.layout_dir = os.path.join(run_dir, "layout")
        self.tracer = Tracer(enabled=bool(args.trace))
        self.phases: dict[str, float] = {}
        self.spark = None
        self.first_op_at = None
        #: native id of the memory sampler thread, whose CPU is not counted
        self.sampler_tid = None
        self._n = 0

    def cpu_s(self) -> float:
        from geobench.layers import tree_cpu_s

        return tree_cpu_s(self.sampler_tid)

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        with self.tracer.span(name):
            yield
        self.phases[name + "_s"] = self.phases.get(name + "_s", 0.0) + time.perf_counter() - t0

    def run_op(self, op, expected=None, value=None, query=False, sample=True) -> dict:
        """Time one operation — process-tree CPU and wall clock — over the
        lazy engine call and forcing its result as ``groupBy().count()``
        collected (the same plan the traced run reads metrics from).
        Exceptions are recorded, never raised."""
        from pyspark.sql import DataFrame

        from geobench.layers import read_plan, sched_counts

        if self.first_op_at is None:
            self.first_op_at = time.perf_counter()
        self._n += 1
        group = f"geobench-{self._n}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, op.key)
        rec = {"key": op.key, "layer": op.layer, "expected": expected, "count": None,
               "sample": sample, "checked": value is None}
        forced = None
        c0 = self.cpu_s()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(op.key, layer=op.layer):
                with self.tracer.span(f"{op.layer}.call"):
                    out = op.build()
                if query:
                    out, rec["strategy_ms"] = out
                t1 = time.perf_counter()
                with self.tracer.span(f"{op.layer}.exec"):
                    if value is not None:
                        n = value
                    elif isinstance(out, DataFrame):
                        forced = out.groupBy().count()
                        n = forced.collect()[0][0]
                    else:
                        n = len(out)
                t2 = time.perf_counter()
                rec.update(count=int(n), call_ms=(t1 - t0) * 1e3, exec_s=t2 - t1, wall_s=t2 - t0,
                           cpu_s=self.cpu_s() - c0)
                if self.tracer.enabled:
                    with self.tracer.span("trace.read_metrics"):
                        if forced is not None:
                            rec["plan"] = read_plan(forced)
                        rec["sched"] = sched_counts(sc, group)
                        rec["persisted_rdds"] = len(sc._jsc.getPersistentRDDs())
        except Exception as e:  # an operation failure is a counted result
            traceback.print_exc(file=sys.stderr)
            rec.update(error=repr(e)[:300], wall_s=time.perf_counter() - t0,
                       cpu_s=self.cpu_s() - c0)
        return rec


def ship_package(spark, run_dir: str) -> None:
    """Zip the engine package into the run directory and add it to the
    session, as ``spark-submit --py-files`` would on a cluster
    (``__spark_entry__._ship_package`` does the same but writes to /tmp)."""
    zpath = os.path.join(run_dir, "geomesa_spark.zip")
    src = os.path.join(ROOT, "geomesa_spark")
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _, files in os.walk(src):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, ROOT))
    spark.sparkContext.addPyFile(zpath)


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for every process the run
    started (JVM, Python worker daemon and workers) to end."""
    from pyspark import SparkContext

    from geobench.layers import descendants

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 30
    while pids and time.time() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[int(q * 100) - 1]


def end_to_end(passes, setup_s, peak_mb) -> tuple[dict, dict]:
    """The end-to-end metrics, and their wall-clock counterparts for the
    env line.  Pass and operation times are process-tree CPU time: on a
    shared host the wall time of the same work moves with the neighbours'
    load, its CPU time much less (README, "Why CPU time")."""
    recs = [r for p in passes for r in p["ops"]]
    ok = [r for r in recs if r.get("sample") and "error" not in r] or recs
    cpu = [r["cpu_s"] * 1e3 for r in ok]
    wall = [r["wall_s"] * 1e3 for r in ok]
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
        "query_cpu_p50_ms": (statistics.median(cpu), "ms"),
        "query_cpu_p90_ms": (quantile(cpu, 0.9), "ms"),
        "peak_rss_mb": (peak_mb, "MB"),
    }
    info = {"latency_samples": len(ok), "passes": len(passes), **wall_times(passes, wall)}
    return metrics, info


def wall_times(passes, wall_ms) -> dict:
    return {
        "wall.pass_s": statistics.median(p["wall_s"] for p in passes),
        "wall.query_p50_ms": statistics.median(wall_ms),
        "wall.query_p90_ms": quantile(wall_ms, 0.9),
    }


def per_layer(passes, setup_phases, overhead_pct, probes, steal) -> dict:
    """Workload-level per-layer metrics from the last pass: sums
    over its operations, ratios with their bases summed first."""
    from geobench.layers import PLAN_KEYS

    recs = [r for r in passes[-1]["ops"] if "error" not in r]
    plan = {k: sum(r.get("plan", {}).get(k, 0.0) for r in recs) for k in PLAN_KEYS}
    sched = {}
    for r in recs:
        for k, v in r.get("sched", {}).items():
            sched[k] = sched.get(k, 0) + v

    def by_layer(layer):
        return [r for r in recs if r["layer"] == layer]

    def total(rs, field):
        return sum(r.get(field) or 0.0 for r in rs)

    def ratio(num, den):
        return num / den if den else 0.0

    def prow(rs, k):
        return sum(r.get("plan", {}).get(k, 0) for r in rs)

    sj, xz, pp = by_layer("spatial_join"), by_layer("xz2"), by_layer("pointpattern")
    queries = [r for r in recs if r.get("sample") and r["layer"] == "planner"]
    ingests = [r for r in by_layer("planner") if not r.get("sample")]
    out = {
        "session.start_s": setup_phases.get("session.start_s", 0.0),
        "session.ship_s": setup_phases.get("session.ship_s", 0.0),
        "session.warm_s": setup_phases.get("session.warm_s", 0.0),
        "sources.synth_s": setup_phases.get("sources.synth_s", 0.0),
        "sources.load_s": setup_phases.get("sources.load_s", 0.0),
        "spatial_join.call_ms": total(sj, "call_ms"),
        "spatial_join.exec_s": total(sj, "exec_s"),
        "spatial_join.candidates": prow(sj, "join_rows"),
        "spatial_join.keep_ratio": ratio(total(sj, "count"), prow(sj, "join_rows")),
        "spatial_join.ring_fanout": ratio(prow(sj, "gen_out"), prow(sj, "gen_in")),
        "tiling.exec_s": total(by_layer("tiling"), "exec_s"),
        "autocorr.exec_s": total(by_layer("autocorr"), "exec_s"),
        "pointpattern.exec_s": total(pp, "exec_s"),
        "pointpattern.pairs_enumerated": prow(pp, "join_rows"),
        "knn.exec_s": total(by_layer("knn"), "wall_s"),
        "knn.jobs": sum(r.get("sched", {}).get("sched.jobs", 0) for r in by_layer("knn")),
        "xz2.exec_s": total(xz, "exec_s"),
        "xz2.keep_ratio": ratio(total(xz, "count"), prow(xz, "join_rows")),
        "cache.persisted_rdds": max((r.get("persisted_rdds", 0) for r in recs), default=0),
        "cache.reused": prow(recs, "cache_scans"),
        "planner.write_s": total(ingests, "wall_s"),
        "planner.files_written": sum(r.get("files_written", 0) for r in ingests),
        "planner.bytes_written": sum(r.get("bytes_written", 0) for r in ingests),
        "planner.ingest_rows_per_s": ratio(total(ingests, "count"), total(ingests, "wall_s")),
        "planner.plan_ms": statistics.median([r["call_ms"] for r in queries]) if queries else 0.0,
        "planner.exec_ms": statistics.median([r["exec_s"] * 1e3 for r in queries]) if queries else 0.0,
        "planner.strategy_ms": statistics.median(
            [r["strategy_ms"] for r in queries if r.get("strategy_ms") is not None] or [0.0]),
        "planner.partitions_read_ratio": ratio(prow(queries, "scan.partitions"),
                                               sum(r.get("partitions_total", 0) for r in queries)),
        "planner.rows_scanned_per_result": ratio(prow(queries, "scan.rows"), total(queries, "count")),
        **plan,
        **{k: sched.get(k, 0) for k in ("sched.jobs", "sched.stages", "sched.tasks",
                                        "sched.tasks_failed")},
        **wall_times(passes, [r["wall_s"] * 1e3 for r in
                              [r for r in recs if r.get("sample")] or recs]),
        "host.probe_s": max(probes),
        "host.steal_s": steal,
        "trace.overhead_pct": overhead_pct,
    }
    return out


def trace_overhead(ctx, passes, results: str) -> float:
    """Tracing cost in percent: the traced pass CPU time against the median
    untraced ``pass_cpu_s`` of earlier runs of this workload in this
    checkout; with no earlier untraced run, the share of the traced
    passes' wall time spent reading metrics."""
    traced = statistics.median(p["cpu_s"] for p in passes)
    if os.path.exists(results):
        with open(results) as f:
            base = [json.loads(line)["pass_cpu_s"] for line in f if line.strip()]
        if base:
            return 100.0 * (traced / statistics.median(base) - 1.0)
    reading = sum(s["end"] - s["start"] for s in ctx.tracer.spans
                  if s["name"] == "trace.read_metrics")
    total = sum(p["wall_s"] for p in passes)
    return 100.0 * reading / max(total - reading, 1e-9)


def per_key(passes) -> dict:
    """Per-operation breakdown of the last pass (written to the
    trace file; ``key#i`` when a key repeats within the pass)."""
    out, seen = {}, {}
    for r in passes[-1]["ops"]:
        i = seen[r["key"]] = seen.get(r["key"], -1) + 1
        name = r["key"] if i == 0 else f"{r['key']}#{i}"
        out[name] = {k: v for k, v in r.items() if k not in ("key",)}
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "geomesa_spark")):
        print(f"geobench: no geomesa_spark package under {ROOT}; run from a checkout root",
              file=sys.stderr)
        return 2
    overrides = {}
    for item in args.expect:
        key, _, count = item.partition("=")
        overrides[key] = int(count)

    sys.path.insert(0, ROOT)
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".geobench", f"run-{os.getpid()}")
    os.makedirs(run_dir)
    configure_env(run_dir, cores)

    from geobench import layers, workloads

    ctx = Context(args, run_dir, cores)
    wl = (workloads.IndexWorkload() if args.workload == "index_ingest_query"
          else workloads.BatchWorkload(args.workload))
    probes = [layers.host_probe_s()]
    passes = []
    spark = None
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    try:
        with layers.RssSampler() as rss:
            ctx.sampler_tid = rss.tid
            with ctx.phase("session.start"):
                from geomesa_spark.session import get_spark

                spark = ctx.spark = get_spark("geobench", cores=cores, shuffle_partitions=cores)
                spark.sparkContext.setLogLevel("ERROR")
                spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 20))
                spark.conf.set("spark.sql.files.openCostInBytes", "0")
            with ctx.phase("session.ship"):
                ship_package(spark, run_dir)
            wl.setup(ctx)
            setup_phases = dict(ctx.phases)

            # closed loop: one driver thread, next op only after the last
            # completes; passes repeat while another fits in the window
            t_measure = time.perf_counter()
            steal0 = layers.steal_s()
            while True:
                c0 = ctx.cpu_s()
                t0 = time.perf_counter()
                ops = wl.run_pass(ctx)
                passes.append({"wall_s": time.perf_counter() - t0, "cpu_s": ctx.cpu_s() - c0,
                               "ops": ops})
                elapsed = time.perf_counter() - t_measure
                if elapsed + statistics.median(p["wall_s"] for p in passes) > args.seconds:
                    break
            steal = layers.steal_s() - steal0
            setup_s = ctx.first_op_at - T_PROCESS
            if hasattr(wl, "finish"):
                wl.finish(ctx)
            t_stop = time.perf_counter()
            stop_spark(spark)
            spark = None
            teardown_s = time.perf_counter() - t_stop
        probes.append(layers.host_probe_s())
    finally:
        signal.alarm(0)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    # correctness gate: every query must match its expected count (ingest
    # operations only have to complete)
    attempted = failed = 0
    for p in passes:
        for r in p["ops"]:
            if r["key"] in overrides:
                r["expected"] = overrides[r["key"]]
            elif r["expected"] is None:
                r["expected"] = getattr(wl, "expected", {}).get(r["key"])
            ok = "error" not in r and (not r["checked"] or r["count"] == r["expected"])
            attempted += 1
            failed += not ok

    results = os.path.join(ROOT, ".geobench", "results", f"{args.workload}.jsonl")
    env = {
        "workload": args.workload, "seed": args.seed, "sf": args.sf, "nproc": cores,
        "spark_version": _spark_version(), "host.probe_s": probes, "host.steal_s": steal,
        "setup_s": setup_s, "peak_rss_mb": rss.peak_mb,
        "error_rate": failed / max(attempted, 1),
        "setup_phases": setup_phases, "teardown_s": teardown_s,
        "ops": [[r["key"], r["count"], r["expected"], round(r["wall_s"], 3),
                 round(r["cpu_s"], 2)]
                for r in passes[0]["ops"]],
    }
    if args.trace:
        values = per_layer(passes, setup_phases, trace_overhead(ctx, passes, results),
                           probes, steal)
        units = _layer_units()
        metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
        trace_dir = os.path.join(ROOT, ".geobench", "trace")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"env": env, "per_key": per_key(passes),
                       "spans": ctx.tracer.with_self_time()}, f, indent=1, default=str)
        env["trace_file"] = os.path.relpath(trace_path, ROOT)
        env["per_key"] = {k: {m: v for m, v in r.items() if m != "plan"} | r.get("plan", {})
                          for k, r in per_key(passes).items()}
    else:
        values, info = end_to_end(passes, setup_s, rss.peak_mb)
        env.update(info)
        os.makedirs(os.path.dirname(results), exist_ok=True)
        with open(results, "a") as f:
            f.write(json.dumps({"seed": args.seed, "pass_cpu_s": values["pass_cpu_s"][0]}) + "\n")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
    print(json.dumps({"env": env}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def _spark_version() -> str:
    import pyspark

    return pyspark.__version__


def _layer_units() -> dict:
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                           "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
