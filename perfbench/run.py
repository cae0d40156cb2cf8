"""Catalog benchmark: one workload of pygr_spark catalog entries, run as
a closed loop by one client thread, end to end or traced per layer.

    python3 perfbench/run.py --workload scan --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One run, in order:

1. set-up 1: ``get_spark(cpus=nproc)`` in a fresh JVM, then a count of
   every ``session.DRIVER_TABLES`` parquet (the warm-up);
2. the cold pass: every entry once, timed by ``bench.run_query`` (build,
   xxhash64/bit_xor force, persist purge), so the timed region is the
   one ``bench.py`` times;
3. set-ups 2 and 3: the session is stopped and built again in the same
   JVM, warm-up included; ``setup_s`` is the median of the three;
4. the oracle pass, untimed: every entry's output collected and digested
   in the ``scripts/sweep.py`` ``digest`` form and compared with the
   stored digest of its DuckDB oracle (``oracle_digests.json``);
5. one untimed warm-up pass, then warm passes until ``--seconds`` have
   passed, at least two.

The seed shuffles the entry order of every pass; the tables are the
fixed seed-42 testdata copied under ``perfbench/data``. With
``--trace 1`` the warm passes alternate untraced and traced; traced
passes record spans around every entry, its build and force, and every
public operator function that takes or returns a DataFrame, and write
Spark's event log. The last stdout line is one JSON object with the
run's metrics; the exit code is 0 only if every output matched.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Catalog entries per workload; the reason for each is in BENCHMARK.json.
WORKLOADS = {
    "scan": (
        "q21_laggard_suppliers",
        "overlap_join",
        "two_hop_align",
        "seed_extend",
    ),
    "builder": (
        "pagerank",
        "jdbc_roundtrip",
        "catalog_restart",
        "stream_gap_merge",
    ),
}

DRIVER_MEM = "1g"
SETUPS = 3
#: query_tail_s reads only the first passes, so that its percentile does
#: not move with how many passes a run completes: with four entries of
#: which one is slow, a percentile over 44 samples or more lands in the
#: slow entry and one over fewer lands below it
TAIL_PASSES = 8
TRACE_OUT = os.path.join(ROOT, ".perfbench_out")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="sf0.01", help="table set under perfbench/data")
    return ap.parse_args(argv)


def isolate(run_dir: str) -> dict[str, str]:
    """Point every temp, local and log directory of the run at
    ``run_dir``; return the paths. Must run before the JVM starts."""
    paths = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "events", "conf")}
    for p in paths.values():
        os.makedirs(p)
    os.environ["TMPDIR"] = paths["tmp"]
    tempfile.tempdir = paths["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = paths["local"]
    os.environ["SPARK_CONF_DIR"] = paths["conf"]
    os.environ["PYGR_SPARK_DRIVER_MEM"] = DRIVER_MEM
    # spark-submit first runs a launcher JVM, which has its own options
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={paths['tmp']}"
    with open(os.path.join(paths["conf"], "spark-defaults.conf"), "w") as fh:
        fh.write(
            f"spark.driver.extraJavaOptions -Djava.io.tmpdir={paths['tmp']} "
            f"-Dderby.system.home={paths['tmp']} -XX:-UsePerfData\n"
            f"spark.sql.warehouse.dir {paths['tmp']}/warehouse\n"
            f"spark.eventLog.dir file://{paths['events']}\n"
            "spark.eventLog.compress false\n"
            "spark.eventLog.rolling.enabled false\n"
            "spark.ui.showConsoleProgress false\n"
        )
    with open(os.path.join(paths["conf"], "log4j2.properties"), "w") as fh:
        fh.write(
            "rootLogger.level = error\n"
            "rootLogger.appenderRef.stderr.ref = console\n"
            "appender.console.type = Console\n"
            "appender.console.name = console\n"
            "appender.console.target = SYSTEM_ERR\n"
            "appender.console.layout.type = PatternLayout\n"
            "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n"
        )
    return paths


def load_program():
    """Import the checkout's program; None if it is not there."""
    sys.path.insert(0, ROOT)
    try:
        import bench
        import pygr_spark
        import scripts.sweep  # noqa: F401  (the oracle digest form)
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return None
    if not os.path.abspath(pygr_spark.__file__).startswith(ROOT + os.sep):
        print("perfbench: pygr_spark is not the checkout's", file=sys.stderr)
        return None
    return bench


def setup(data_dir: str, cpus: int):
    """One set-up: session start, then a count of every driver table."""
    from pygr_spark.session import DRIVER_TABLES, get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus)
    t1 = time.perf_counter()
    for name in DRIVER_TABLES:
        path = os.path.join(data_dir, f"{name}.parquet")
        if os.path.exists(path):
            spark.read.parquet(path).count()
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def stop_jvm() -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def percentile_tail(samples: list[float]) -> tuple[float, float]:
    """Highest percentile with at least ten samples beyond it, as
    (value, percentile). With ten or fewer samples: the maximum."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


class Failures:
    def __init__(self):
        self.attempted = 0
        self.failed: list[str] = []

    def run(self, what: str, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - one entry failing must not end the run
            self.failed.append(f"{what}: {type(e).__name__}: {str(e).splitlines()[0][:200]}")
            return None


def run(args, paths: dict[str, str], bench) -> tuple[dict, dict, Failures, dict]:
    from pyspark import SparkContext

    from pygr_spark.queries import QUERIES
    from scripts.sweep import digest

    data_dir = os.path.join(HERE, "data", args.scale)
    with open(os.path.join(HERE, "oracle_digests.json")) as fh:
        oracles = json.load(fh)[args.scale]
    names = list(WORKLOADS[args.workload])
    rng = random.Random(args.seed)
    cpus = os.cpu_count() or 1
    fails = Failures()
    info = {"cpus": cpus, "driver_memory": DRIVER_MEM, "seed": args.seed,
            "workload": args.workload, "scale": args.scale, "entries": names}

    def order() -> list[str]:
        out = names[:]
        rng.shuffle(out)
        return out

    def timed_pass(spark, pass_id: int, tracer=None) -> dict[str, float]:
        out = {}
        for name in order():
            if tracer is None:
                dt = fails.run(f"p{pass_id}:{name}", lambda: bench.run_query(spark, name, data_dir))
            else:
                dt = fails.run(f"p{pass_id}:{name}",
                               lambda: tracer.run_entry(bench.run_query, name, pass_id, data_dir))
            if dt is not None:
                out[name] = dt
        return out

    t0 = time.perf_counter()
    phases: dict[str, float] = {}

    def mark(phase: str) -> None:
        phases[phase] = round(time.perf_counter() - t0 - sum(phases.values()), 3)
        print(f"perfbench: {phase} done at {time.perf_counter() - t0:.1f}s", file=sys.stderr)

    setups = []
    spark, start_s, warm_s = setup(data_dir, cpus)
    setups.append((start_s, warm_s))
    mark("setup")
    cold = timed_pass(spark, 0)
    mark("cold_pass")

    for i in range(1, SETUPS):
        spark.stop()
        if args.trace and i == SETUPS - 1:
            SparkContext._jvm.java.lang.System.setProperty("spark.eventLog.enabled", "true")
        spark, start_s, warm_s = setup(data_dir, cpus)
        setups.append((start_s, warm_s))
    mark("setups")

    def check(name: str) -> None:
        out = QUERIES[name](spark, data_dir).toPandas()
        n, total = digest(out)
        want = oracles.get(name)
        if want is None:
            raise LookupError("no stored oracle digest")
        if sorted(out.columns) != want["columns"] or (n, total) != (want["rows"], want["sum"]):
            raise AssertionError(f"oracle mismatch: {n} rows vs {want['rows']}")

    for name in order():
        fails.run(f"oracle:{name}", lambda: check(name))
    mark("oracle_pass")
    # the first forced pass of a session still runs 20-50% slow
    timed_pass(spark, 0)
    mark("warmup_pass")

    tracer = counter = None
    if args.trace:
        from layers import StreamCounter, Tracer, dir_bytes

        tracer = Tracer(spark, QUERIES)
        counter = StreamCounter(tracer)
        spark.streams.addListener(counter.listener)
        bytes_before = dir_bytes(paths["tmp"])

    warm: list[dict[str, float]] = []
    traced: list[int] = []
    t_end = time.perf_counter() + args.seconds
    pass_id = 1
    while time.perf_counter() < t_end or len(warm) < 2:
        use = tracer is not None and pass_id % 2 == 0
        if use:
            tracer.install()
            traced.append(len(warm))
        try:
            warm.append(timed_pass(spark, pass_id, tracer if use else None))
        finally:
            if use:
                tracer.uninstall()
        pass_id += 1
    mark("warm_passes")

    info["phases_s"] = phases
    info["setups"] = [round(a + b, 4) for a, b in setups]
    info["cold_s"] = {k: round(v, 3) for k, v in cold.items()}
    info["warm_median_s"] = {
        k: round(statistics.median(p[k] for p in warm if k in p), 3)
        for k in names if any(k in p for p in warm)
    }
    info["warm_passes"] = [round(sum(p.values()), 3) for p in warm]
    info["jvm_peak_rss_mb"] = jvm_peak_rss_mb()
    untraced = [p for i, p in enumerate(warm) if i not in traced]
    samples = [dt for p in untraced for dt in p.values()]
    tail_samples = [dt for p in untraced[:TAIL_PASSES] for dt in p.values()]
    tail, pct = percentile_tail(tail_samples)
    info["query_tail"] = f"p{pct:.1f} of {len(tail_samples)} entry samples"
    e2e = {
        "setup_s": statistics.median(a + b for a, b in setups),
        "cold_pass_s": sum(cold.values()),
        "pass_s": statistics.median(sum(p.values()) for p in untraced),
        "query_p50_s": statistics.median(samples),
        "query_tail_s": tail,
    }
    layers = {}
    if tracer is not None:
        spark.stop()  # flushes the event log and drains the listener bus
        layers = per_layer(args, paths, tracer, counter, setups, warm, traced, bytes_before)
        layers["jvm.peak_rss_mb"] = info["jvm_peak_rss_mb"]
    return e2e, layers, fails, info


def per_layer(args, paths, tracer, counter, setups, warm, traced, bytes_before) -> dict:
    from layers import MODULES, dir_bytes, event_log_metrics

    n = len(traced)
    traced_ids = {i + 1 for i in traced}
    entries = {f"p{p}:{name}" for p in traced_ids for name in WORKLOADS[args.workload]}
    phases = tracer.phase_seconds(entries)
    spark_m = event_log_metrics(paths["events"], entries, counter.job_groups(entries))
    mods = tracer.layer_totals(entries)
    out = {
        "session.start_s": statistics.median(a for a, _ in setups),
        "session.warm_s": statistics.median(b for _, b in setups),
        "queries.build_s": phases["build"] / n,
        "queries.build_jobs": spark_m.get("jobs.phase.build", 0) / n,
        "force.s": phases["force"] / n,
        "force.jobs": spark_m.get("jobs.phase.force", 0) / n,
    }
    for key in ("stages", "tasks", "task_s", "cpu_s", "gc_s", "job_floor_s",
                "single_task_stages", "shuffle_write_bytes", "spill_bytes",
                "failed_tasks", "output_bytes"):
        out[f"spark.{key}"] = spark_m.get(f"spark.{key}", 0) / n
    traced_wall = sum(sum(warm[i].values()) for i in traced)
    out["spark.utilisation"] = spark_m.get("spark.task_s", 0) / ((os.cpu_count() or 1) * traced_wall)
    for layer in MODULES:
        out[f"{layer}.calls"] = mods.get(layer, {}).get("calls", 0) / n
        out[f"{layer}.call_s"] = mods.get(layer, {}).get("call_s", 0.0) / n
        out[f"{layer}.jobs"] = spark_m.get(f"jobs.module.{layer}", 0) / n
    out.update({k: v / n for k, v in counter.totals(entries).items()})
    out["ingest.bytes_written"] = (dir_bytes(paths["tmp"]) - bytes_before) / len(warm)
    untraced = [sum(p.values()) for i, p in enumerate(warm) if i not in traced]
    out["trace.untraced_pass_s"] = statistics.median(untraced)
    out["trace.traced_pass_s"] = statistics.median(sum(warm[i].values()) for i in traced)
    os.makedirs(TRACE_OUT, exist_ok=True)
    tracer.write(os.path.join(TRACE_OUT, f"spans-{args.workload}-{args.seed}.jsonl"))
    with open(os.path.join(TRACE_OUT, f"self-{args.workload}-{args.seed}.json"), "w") as fh:
        json.dump(tracer.self_times(), fh, indent=1, sort_keys=True)
    return out


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(HERE, "data", args.scale)):
        print(f"perfbench: no table set {args.scale}", file=sys.stderr)
        return 2
    run_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(run_root, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=run_root)
    try:
        paths = isolate(run_dir)
        bench = load_program()
        if bench is None:
            return 2
        sys.path.insert(0, HERE)
        try:
            e2e, layers, fails, info = run(args, paths, bench)
        finally:
            stop_jvm()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(run_root)
        except OSError:
            pass
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(json.dumps(info))
    for k, v in {**e2e, **layers}.items():
        print(f"{k} {v:.6g} {units[k]}")
    print(f"failed_frac {len(fails.failed) / fails.attempted:.6g} ratio "
          f"({len(fails.failed)} of {fails.attempted} entry runs)")
    for line in fails.failed:
        print(f"FAILED {line}")
    values = layers if args.trace else e2e
    listed = spec["per_layer"] if args.trace else spec["end_to_end"]
    result = {
        "correct": not fails.failed,
        "attempted": fails.attempted,
        "failed": len(fails.failed),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed},
    }
    print(json.dumps(result))
    return 0 if not fails.failed else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
