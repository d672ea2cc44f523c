"""Pipeline benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process drives ``local[nproc]``; units
run back to back with no extra threads. Inputs are generated from
``--seed`` (cached under ``perfbench/.work``); the measured process only
reads them.

``--trace 0`` prints the end-to-end metrics of the workload: set-up time,
the cold first unit, the median warm unit and the rates derived from it.
``--trace 1`` is a separate run with Spark's event log on. It traces every
workload, so each traced run reports every per-layer metric: spans named
``<module>.<function>`` attribute time, CPU, shuffle, spill and
Python-worker traffic to the package's layers.

Every unit's output is checked against an independent computation outside
the timed region. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the exit code is 1 when
a check failed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import host  # noqa: E402
import inputs  # noqa: E402

WORK = os.path.join(HERE, ".work")
WORKLOAD_NAMES = ("flagship_single_pass", "llmops_dedup_ann")
MIN_WARM_UNITS = 3
# span self times must sum to the traced unit's wall time within this share
SELF_SUM_TOLERANCE = 0.25


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def session_env(cpus: int) -> dict:
    """The package's session env vars, with defaults sized to this host,
    and temporary files kept inside the benchmark's work directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ.setdefault("SPARK_LOCAL_DIRS", os.path.join(WORK, "spark-local"))
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {k: os.environ[k] for k in
            ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS",
             "TMPDIR", "JAVA_TOOL_OPTIONS")}


def ensure_inputs(names, seed: int, cpus: int) -> float:
    spent = 0.0
    if "flagship_single_pass" in names:
        spent += inputs.ensure_corpus(WORK, seed, cpus)
    if "llmops_dedup_ann" in names:
        spent += inputs.ensure_llmops(WORK, seed, cpus)
    return spent


def timed_unit(wl, jvm: int) -> tuple[float, float, list[str]]:
    """One unit: wall time and CPU time of the JVM and its Python workers,
    then its output check outside the timing."""
    c0 = host.tree_cpu_s(jvm)
    t0 = time.perf_counter()
    try:
        observed = wl.unit()
    except Exception as exc:  # a unit that raises counts as failed
        return time.perf_counter() - t0, 0.0, [f"unit raised {exc!r}"]
    dt = time.perf_counter() - t0
    cpu = host.tree_cpu_s(jvm) - c0
    return dt, cpu, wl.check(observed)


class Tracer:
    """Runs one traced pass: each span's actions under a job group named
    after the span, with a row-count observation on the span's output."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.wall: dict[str, float] = {}
        self.parent: dict[str, str | None] = {}
        self.observed: dict[str, dict] = {}
        self.out_dir: dict[str, str] = {}

    def span(self, name: str, action, parent: str | None = None,
             out_dir: str | None = None) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs: list = []

        def observe(df, *extra):
            obs.append(Observation(f"perfbench_{name.replace('.', '_')}"))
            return df.observe(obs[-1], F.count(F.lit(1)).alias("rows"), *extra)

        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        action(observe)
        self.wall[name] = time.perf_counter() - t0
        sc.setJobGroup("perfbench.untraced", "untraced")
        self.parent[name] = parent
        self.observed[name] = obs[0].get if obs else {}
        if out_dir:
            self.out_dir[name] = out_dir


SPAN_KINDS = {
    "sources.scan": (),
    "operators.parse": (),
    "operators.enrich": (),
    "routing.route_multicast_exploded": (),
    "monitor.observe": (),
    "sinks.write_routed": ("sink",),
    "aggregators.metrics_from_snapshot": ("exchange",),
    "functions.minhash_lsh_candidates": ("exchange",),
    "functions.dedup_clusters": ("exchange",),
    "functions.brute_force_topk": ("exchange", "python"),
    "functions.quantized_topk": ("exchange", "python"),
}


def span_metrics(tracer: Tracer, spans: dict) -> dict[str, float]:
    """Per-layer metrics of one workload's traced pass."""
    from workloads import dir_bytes

    def stat(name, key):
        return spans[name].sums.get(key, 0.0) if name in spans else 0.0

    def own(name, value):
        """Prefix spans report what they add to their parent prefix."""
        p = tracer.parent[name]
        return value(name) - (value(p) if p else 0.0)

    def cpu_s(n):
        return stat(n, "cpu_ns") / 1e9

    def jobs(n):
        return float(spans[n].jobs) if n in spans else 0.0

    out: dict[str, float] = {}
    for name in tracer.wall:
        kinds = SPAN_KINDS[name]
        out[f"{name}.self_s"] = own(name, tracer.wall.get)
        out[f"{name}.cpu_s"] = own(name, cpu_s)
        out[f"{name}.rows_out"] = float(tracer.observed[name].get("rows", 0))
        if "exchange" in kinds:
            out[f"{name}.shuffle_write_bytes"] = stat(name, "shuffle_write_bytes")
            out[f"{name}.spill_bytes"] = (stat(name, "spill_disk_bytes")
                                          + stat(name, "spill_mem_bytes"))
            out[f"{name}.task_skew"] = spans[name].task_skew() if name in spans else 1.0
        if "python" in kinds:
            out[f"{name}.python_sent_bytes"] = stat(name, "python_sent_bytes")
            out[f"{name}.python_recv_bytes"] = stat(name, "python_recv_bytes")
            out[f"{name}.python_total_s"] = stat(name, "python_run_ms") / 1e3
            out[f"{name}.python_boot_s"] = (stat(name, "python_start_ms")
                                            + stat(name, "python_init_ms")) / 1e3
        if "sink" in kinds:
            b, f = dir_bytes(tracer.out_dir[name])
            out[f"{name}.bytes_written"] = float(b)
            out[f"{name}.files_written"] = float(f)
    if "operators.parse" in tracer.wall:
        parsed = tracer.observed["operators.parse"]
        out["operators.parse.unparsed_frac"] = parsed["unparsed"] / max(parsed["rows"], 1)
        out["routing.route_multicast_exploded.amplification"] = (
            out["routing.route_multicast_exploded.rows_out"]
            / max(out["operators.enrich.rows_out"], 1.0))
        out["monitor.observe.extra_jobs"] = own("monitor.observe", jobs)
    return out


def run_plain(wl, seconds: float, jvm: int, record: dict) -> dict:
    """End-to-end run of one workload (tracing off)."""
    attempted = failed = 0
    failures: list[str] = []

    def unit():
        nonlocal attempted, failed
        dt, cpu, bad = timed_unit(wl, jvm)
        attempted += 1
        if bad:
            failed += 1
            failures.extend(bad)
        return dt, cpu

    first, _ = unit()
    # the JIT keeps compiling the unit's hot paths for several units after
    # the cold one. A fixed count of settling units puts the timed units at
    # the same point of that curve in every run.
    record["settle_units_s"] = [round(unit()[0], 4) for _ in range(wl.settle_units)]
    warm: list[float] = []
    cpus: list[float] = []
    while len(warm) < MIN_WARM_UNITS or sum(warm) < seconds:
        dt, cpu = unit()
        warm.append(dt)
        cpus.append(cpu)
    run_s = statistics.median(warm)
    record["warm_units_s"] = [round(x, 4) for x in warm]
    record["warm_units_cpu_s"] = [round(x, 3) for x in cpus]
    record["failures"] = failures
    return {
        "attempted": attempted,
        "failed": failed,
        "samples": {"first_run_s": 1, "run_s": len(warm), "run_cpu_s": len(warm),
                    "rows_per_s": len(warm)},
        "metrics": {
            "first_run_s": (first, "s"),
            "run_s": (run_s, "s"),
            "run_cpu_s": (statistics.median(cpus), "s"),
            "rows_per_s": (wl.in_rows / run_s, "rows/s"),
            "out_bytes_per_in_byte": (wl.out_bytes() / wl.in_bytes, "ratio"),
        },
    }


def run_traced(spark, wls, jvm: int, log_dir: str, record: dict) -> dict:
    """Traced run of every workload: the cold and settling units, a plain
    unit, then one traced pass; per-layer metrics from the event log."""
    import eventlog

    attempted = failed = 0
    failures: list[str] = []
    tracers: dict[str, Tracer] = {}
    unit_s: dict[str, float] = {}
    sc = spark.sparkContext
    for wl in wls:
        # the cold and settling units, as in the untraced run, then the plain
        # unit whose wall time the span self times are compared with
        sc.setJobGroup(f"perfbench.unit.{wl.name}", "plain unit")
        for _ in range(2 + wl.settle_units):
            unit_s[wl.name], _, bad = timed_unit(wl, jvm)
            attempted += 1
            if bad:
                failed += 1
                failures.extend(bad)
        tracers[wl.name] = Tracer(spark)
        wl.trace(tracers[wl.name])
    metrics: dict[str, float] = {
        "session.gc_s": host.jvm_gc_s(spark),
        "session.jvm_peak_rss_mb": host.jvm_peak_rss_mb(spark),
    }
    spark.stop()
    spans = eventlog.read_spans(log_dir)
    for wl in wls:
        tracer = tracers[wl.name]
        layer = span_metrics(tracer, spans)
        metrics.update(layer)
        self_sum = sum(v for k, v in layer.items() if k.endswith(".self_s"))
        traced_unit = sum(tracer.wall.values())
        metrics[f"trace.{wl.name}.overhead_frac"] = traced_unit / unit_s[wl.name] - 1
        metrics[f"trace.{wl.name}.self_sum_frac"] = self_sum / unit_s[wl.name] - 1
        if abs(self_sum / unit_s[wl.name] - 1) > SELF_SUM_TOLERANCE:
            print(f"warning: {wl.name} span self times sum to {self_sum:.3f} s, "
                  f"unit wall {unit_s[wl.name]:.3f} s (tolerance {SELF_SUM_TOLERANCE:.0%})",
                  file=sys.stderr)
        record.setdefault("trace_unit_s", {})[wl.name] = unit_s[wl.name]
    record["failures"] = failures
    return {"attempted": attempted, "failed": failed, "metrics": metrics}


def stop_jvm() -> None:
    """End the Spark JVM and wait for it: it exits when its stdin closes,
    and its Python workers exit with it."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "loongcollector_spark")):
        print("perfbench: run from the repository root (loongcollector_spark/ not found)",
              file=sys.stderr)
        return 2
    # every process a run starts, the JVM's Python workers included, has
    # ended when it exits, on every path out of it
    host.adopt_orphans()
    try:
        return measure(args, root)
    finally:
        if "pyspark" in sys.modules:
            stop_jvm()
        killed = host.reap_all(timeout=30)
        if killed:
            print(f"perfbench: killed {killed} processes still running at exit",
                  file=sys.stderr)


def measure(args, root: str) -> int:
    cpus = nproc()
    settings = session_env(cpus)
    names = [args.workload]
    if args.trace:
        names += [n for n in WORKLOAD_NAMES if n != args.workload]
    pre_s = time.perf_counter() - T_START
    input_gen_s = ensure_inputs(names, args.seed, cpus)
    canary = host.canary(cpus)

    t0 = time.perf_counter()
    sys.path.insert(0, root)
    from loongcollector_spark.session import get_spark

    import workloads

    extra_conf = {}
    log_dir = os.path.join(WORK, "eventlog", str(os.getpid()))
    if args.trace:
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        extra_conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        }
    spark = get_spark(app_name="perfbench", extra_conf=extra_conf)
    try:
        wls = [workloads.WORKLOADS[n](spark, WORK, args.seed, cpus) for n in names]
        setup_s = pre_s + time.perf_counter() - t0

        settings = dict(settings, master=spark.sparkContext.master, extra_conf=extra_conf)
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "held_out_seed": inputs.HELD_OUT_SEED,
            "input_gen_s": round(input_gen_s, 4), "host": host.record(spark, settings),
            "canary": canary,
        }
        workloads.reset_out(WORK)
        ticks = host.cpu_ticks()
        if args.trace:
            res = run_traced(spark, wls, host.jvm_pid(spark), log_dir, record)
        else:
            res = run_plain(wls[0], args.seconds, host.jvm_pid(spark), record)
            res["metrics"]["setup_s"] = (setup_s, "s")
            res["samples"]["setup_s"] = 1
    finally:
        spark.stop()
        stop_jvm()
        shutil.rmtree(log_dir, ignore_errors=True)

    record["steal_frac"] = host.steal_frac(ticks)
    metrics = res["metrics"]
    if args.trace:
        units = per_layer_units()
        metrics = {k: (v, units.get(k, "")) for k, v in metrics.items()}
    for k, (v, unit) in sorted(metrics.items()):
        n = res.get("samples", {}).get(k)
        print(f"{args.workload} {k} = {v:.6g} {unit}" + (f" (n={n})" if n else ""))
    for f in record["failures"]:
        print(f"check failed: {f}", file=sys.stderr)
    print(json.dumps({"record": record}))
    result = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
