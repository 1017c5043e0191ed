"""Benchmark of the modelardb_spark engine: ingest and driver_queries.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are the end-to-end metrics of BENCHMARK.json; with `--trace 1`
they are its per-layer metrics. The line before it is a JSON record of
the run: host facts, pinned settings, data shape and per-workload
figures. Everything the run writes goes under `.perfbench_work/` in the
checkout and is removed at exit. See perfbench/NOTES.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
END_TO_END = {"setup_s": "s", "op_cpu_s": "cpu_s", "items_per_cpu_s": "1/cpu_s"}
#: input builds per run; setup_s counts their median
INPUT_BUILDS = 3


def task_threads(cores: int) -> int:
    """Spark task threads: half the cores. The rest is left to the Python
    workers, the JVM's JIT and GC threads and the host; with a task
    thread per core, one stalled core stalls every stage (see NOTES.md)."""
    return max(1, cores // 2)


def pin_environment(work: str, threads: int, heap_mb: int) -> dict:
    """Host-fit settings the benchmark sets itself, whatever the engine's
    defaults (32 cores, a 24g heap, scratch on /dev/shm)."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ.update({
        "TMPDIR": f"{work}/tmp",
        "SPARK_LOCAL_DIRS": f"{work}/spark-local",
        "SPARK_GRAFT_LOCAL_DIR": f"{work}/spark-local",
        "SPARK_GRAFT_CPUS": str(threads),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    import tempfile

    tempfile.tempdir = f"{work}/tmp"
    return {
        "master": f"local[{threads}]",
        "spark.driver.memory": f"{heap_mb}m",
        "spark.sql.shuffle.partitions": str(threads),
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # C1 only: the JIT settles after one call instead of four or more
        # and a warm call is as fast (see NOTES.md)
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
                                         " -XX:TieredStopAtLevel=1",
        "spark.driver.host": "localhost",
        "spark.driver.bindAddress": "127.0.0.1",
    }


def start_spark(settings: dict, trace: bool):
    from modelardb_spark.session import get_spark

    conf = {k: v for k, v in settings.items() if k.startswith("spark.")}
    conf["spark.ui.enabled"] = "true" if trace else "false"
    if trace:
        conf["spark.ui.port"] = "0"  # any free port
    spark = get_spark(master=settings["master"], app_name="perfbench",
                      shuffle_partitions=int(settings["spark.sql.shuffle.partitions"]),
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    import subprocess

    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    spark.stop()
    try:
        gateway.shutdown()
    except Py4JError:  # the JVM is already gone
        pass
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def first_python_job(spark) -> None:
    """A trivial job through Python workers (spawns and imports them)."""
    spark.range(4 * spark.sparkContext.defaultParallelism).mapInPandas(
        lambda it: it, "id long").write.format("noop").mode("overwrite").save()


def summarize(rounds: list, k: int) -> tuple[float, float]:
    """Each operation's median over the rounds of field `k` (0 wall
    seconds, 1 CPU seconds): their geometric mean, and the items of one
    round over their sum."""
    medians = [statistics.median(r[i][k] for r in rounds) for i in range(len(rounds[0]))]
    return statistics.geometric_mean(medians), sum(op[2] for op in rounds[0]) / sum(medians)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="alter every checked output (the checks must fail)")
    args = ap.parse_args()

    if not (os.path.isfile(f"{ROOT}/__spark_entry__.py")
            and os.path.isdir(f"{ROOT}/modelardb_spark")):
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from spans import RssSampler, Tracer, cpu_counts, host_facts
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    host = host_facts()
    cpu0 = cpu_counts()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    heap_mb = min(1024, host["ram_mib"] // 4)
    settings = pin_environment(work, task_threads(host["cores"]), heap_mb)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(settings, bool(args.trace))
        session_start = time.perf_counter() - t0
        with RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
            t0 = time.perf_counter()
            first_python_job(spark)
            first_job = time.perf_counter() - t0
            wl = WORKLOADS[args.workload](spark, work, args.seed, bool(args.trace), args.corrupt)
            builds = []
            for _ in range(INPUT_BUILDS):
                t0 = time.perf_counter()
                wl.build_inputs()
                builds.append(time.perf_counter() - t0)
            wl.setup()
            t_ready = time.perf_counter()
            setup_s = t_ready - T_START - sum(builds) + statistics.median(builds)

            # every run on a host does the same rounds: as many as fit
            # --seconds at the nominal round time
            layers, trace_ok, rounds = {}, True, []
            if args.trace:
                layers, trace_ok = wl.trace(Tracer(spark))
            else:
                rounds = [wl.run_round() for _ in
                          range(max(wl.min_rounds, round(args.seconds / wl.round_s)))]
        samples = [s for r in rounds for s in r]
        failed = sum(1 for s in samples if not s[3]) + (0 if wl.warm_ok else 1)
        failed += 0 if trace_ok else 1
        attempted = len(samples) + 1 + bool(args.trace)
        cpu1 = cpu_counts()
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "host": host, "host_end": host_facts(),
            "steal_share": (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0]),
            "settings": {k: v.replace(work, ".perfbench_work/<run>") for k, v in settings.items()},
            "session.start_s": session_start, "session.first_job_s": first_job,
            "input_builds_s": builds, "ops": len(samples),
            "op_s": [s[0] for s in samples], "op_cpu_s": [s[1] for s in samples],
            "item": wl.item,
            "error_rate": failed / attempted,
            "peak_rss_mb": rss.peak / 2**20, "jvm_peak_rss_mb": rss.peak_root / 2**20,
            **wl.record,
        }
        if args.trace:
            metrics = per_layer_metrics(layers, session_start, first_job)
        else:
            op_s, record["items_per_s"] = summarize(rounds, 0)
            record["op_ms"] = op_s * 1e3
            op_cpu_s, items_per_cpu_s = summarize(rounds, 1)
            e2e = {"setup_s": setup_s, "op_cpu_s": op_cpu_s, "items_per_cpu_s": items_per_cpu_s}
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        print(json.dumps({"record": record}, sort_keys=True))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def per_layer_metrics(layers: dict, session_start: float, first_job: float) -> dict:
    """Every per-layer metric, 0 where the workload does not run that layer."""
    from workloads import per_layer_names

    values = dict(layers)
    values["session.start_s"] = session_start
    values["session.first_job_s"] = first_job
    return {name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit in per_layer_names()}


if __name__ == "__main__":
    sys.exit(main())
