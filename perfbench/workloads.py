"""The benchmark's workloads: ingest and driver_queries.

Each workload builds its inputs from the seed, warms up, then runs
rounds of its operation in a closed loop with one client, checking
every output. A traced run instead makes one traced pass and returns
per-layer metrics; the tracing overhead is the wall time of traced
minus untraced runs of the same operation.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import duckdb
import numpy as np

from check import corrupt, digest, duck_digest, raw_rollup_sql, series_sql, spark_rows
from inputs import write_driver_tables, write_transcripts
from spans import plan_counts, tree_cpu_seconds

MINUTE_MS, HOUR_MS, DAY_MS = 60_000, 3_600_000, 86_400_000
#: end of the inputs' 30-day span, 2024-01-31 00:00 UTC
NOW_MS = 1_706_659_200_000
TIERS = {"rollup_1m": MINUTE_MS, "rollup_1h": HOUR_MS, "rollup_1d": DAY_MS}
STORED = ("segments", "rollup_1m", "rollup_1h", "rollup_1d")

#: fixture-shaped base events and how many shifted copies ingest gets
BASE_EVENTS, COPIES = 5_000, 3
#: driver tables scale factor (the fixture's sf0.001 row counts)
DRIVER_SF = 0.001
#: the timed driver_queries set: one query per engine module family,
#: sized so a run stays within the benchmark's time budget (see NOTES.md)
DRIVER_SET = (
    "rollup_1h", "sql_surface_agg", "adaptive_rollup_1h", "dedup_clusters", "lsh_topk",
)

#: the heavy leaves whose Python gap and shuffle bytes are traced
LEAVES = (
    "adaptive_rollup_1h", "dim_group_rollup_1h", "dynamic_group_rollup_1h",
    "ann_recall", "dedup_clusters", "lossy_bound_violations",
    "dedup_ngram_jaccard", "lsh_topk",
)
#: the traced pass: the timed queries and the heavy leaves. All 50 run
#: cold take ~65 s on 4 cores, too close to a run's time limit under CPU
#: steal (see NOTES.md).
TRACED_SET = DRIVER_SET + tuple(n for n in LEAVES if n not in DRIVER_SET)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default)."""
    return float(np.quantile(np.asarray(values, dtype=float), q))


class Workload:
    """Base: subclasses set `name`, `item`, `round_s` and `min_rounds`
    and implement build_inputs, setup, run_round and trace."""

    name = ""
    item = ""
    round_s = 1.0
    min_rounds = 1

    def __init__(self, spark, work: str, seed: int, traced: bool = False,
                 corrupt_outputs: bool = False):
        self.spark, self.work, self.seed, self.traced = spark, work, seed, traced
        self.corrupt_outputs = corrupt_outputs
        self.record: dict = {}
        self.jvm = spark.sparkContext._gateway.proc.pid

    def cpu(self) -> float:
        """CPU seconds used so far by the driver JVM and its Python workers."""
        return tree_cpu_seconds(self.jvm)

    def check(self, rows, cols, expected) -> bool:
        if self.corrupt_outputs:
            rows = corrupt(rows)
        return digest(rows, cols) == expected

    def run_round(self) -> list[tuple[float, float, int, bool]]:
        """One pass of the operation set: [(seconds, cpu_seconds, items, ok)]."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
class Ingest(Workload):
    """One `jobs.ingest.ingest()` call per operation into a fresh catalog."""

    name, item = "ingest", "turns"
    #: seconds one warm operation takes on a 4-core host
    round_s = 8.0
    min_rounds = 2

    def build_inputs(self) -> None:
        self.inputs = f"{self.work}/in"
        self.sizes = write_transcripts(self.seed, BASE_EVENTS, COPIES, self.inputs)

    def setup(self) -> None:
        from modelardb_spark.jobs.ingest import ingest

        self.ingest = ingest
        self.con = duckdb.connect()
        for src in ("transcripts", "base"):
            self.con.execute(f"CREATE VIEW {src} AS SELECT * FROM '{self.inputs}/{src}.parquet'")
            self.con.execute(f"CREATE TABLE {src}_series AS WITH " + series_sql(src)
                             + " SELECT * FROM series")
            for tier, w in TIERS.items():
                self.con.execute(f"CREATE TABLE {src}_{tier} AS"
                                 f" {raw_rollup_sql(w, f'{src}_series')}")
        # warm-up: the unreplicated base, which is also the shape reference
        base_cat = f"{self.work}/cat-base"
        self.ingest(self.spark, self.spark.read.parquet(f"{self.inputs}/base.parquet"),
                    base_cat)
        self.warm_ok = self.verify(base_cat, "base")
        self.record["shape_base"] = self.shape(f"{self.inputs}/base.parquet", base_cat)
        shutil.rmtree(base_cat)
        self.n_ops, self.times = 0, []

    def shape(self, parquet: str, cat: str) -> dict:
        """Data-shape facts of an ingest input and its stored segments."""
        con = duckdb.connect()
        con.execute(f"CREATE VIEW t AS SELECT * FROM '{parquet}'")
        turns, convs, days = con.execute(
            "SELECT COUNT(*), COUNT(DISTINCT conv_id),"
            " COUNT(DISTINCT epoch_ms(ts) // 86400000) FROM t").fetchone()
        per_conv = [r[0] for r in con.execute(
            "SELECT COUNT(*) FROM t GROUP BY conv_id").fetchall()]
        bins = con.execute(
            "SELECT COUNT(*) FROM (SELECT 1 FROM t GROUP BY conv_id,"
            " epoch_ms(ts) // 60000)").fetchone()[0]
        mtid = dict(con.execute(
            f"SELECT mtid, COUNT(*) FROM read_parquet('{cat}/segments/**/*.parquet',"
            " hive_partitioning=true) GROUP BY 1 ORDER BY 1").fetchall())
        con.close()
        segs = sum(mtid.values())
        return {
            "turns": turns, "conversations": convs, "day_partitions": days,
            "turns_per_conv_p50": quantile(per_conv, 0.5),
            "turns_per_conv_p90": quantile(per_conv, 0.9),
            "turns_per_conv_max": max(per_conv),
            "turns_per_active_bin": round(turns / bins, 4),
            "segments_by_mtid": {str(k): v for k, v in mtid.items()},
            "segments_per_turn": round(segs / turns, 4),
        }

    def verify(self, cat: str, src: str = "transcripts") -> bool:
        """Each tier equals the raw-points rollup of input `src` row for
        row (bound 0), and each tier's turn_rate sum equals the turns in."""
        turns_in = self.sizes["turns" if src == "transcripts" else "base_turns"]
        ok = True
        for tier in TIERS:
            stored = (
                "SELECT conv_id, metric, CAST(window_ms AS BIGINT) AS window_ms,"
                " CAST(cnt AS BIGINT) AS cnt, CAST(vmin AS DOUBLE) AS vmin,"
                " CAST(vmax AS DOUBLE) AS vmax, CAST(vsum AS DOUBLE) AS vsum,"
                " CAST(mean AS DOUBLE) AS mean"
                f" FROM read_parquet('{cat}/{tier}/**/*.parquet', hive_partitioning=true)"
            )
            if self.corrupt_outputs:
                stored += " WHERE cnt > 1"
            diff = self.con.execute(
                f"SELECT (SELECT COUNT(*) FROM ({stored} EXCEPT ALL"
                f" SELECT * FROM {src}_{tier})) + (SELECT COUNT(*) FROM"
                f" (SELECT * FROM {src}_{tier} EXCEPT ALL {stored}))").fetchone()[0]
            turns = self.con.execute(
                f"SELECT SUM(vsum) FROM ({stored}) WHERE metric = 'turn_rate'").fetchone()[0]
            ok = ok and diff == 0 and turns == turns_in
        return ok

    def run_round(self):
        cat = f"{self.work}/cat-{self.n_ops}"
        self.n_ops += 1
        c0, t0 = self.cpu(), time.perf_counter()
        self.ingest(self.spark, self.spark.read.parquet(f"{self.inputs}/transcripts.parquet"),
                    cat)
        dt = time.perf_counter() - t0
        cpu = self.cpu() - c0
        ok = self.verify(cat)
        if "shape" not in self.record:
            self.record["shape"] = self.shape(f"{self.inputs}/transcripts.parquet", cat)
            stored = {t: dir_bytes(f"{cat}/{t}") for t in STORED}
            self.record["stored_bytes"] = stored
            self.record["stored_bytes_per_turn"] = sum(stored.values()) / self.sizes["turns"]
        shutil.rmtree(cat)
        self.times.append(dt)
        return [(dt, cpu, self.sizes["turns"], ok)]

    def trace(self, tracer) -> tuple[dict, bool]:
        import modelardb_spark.jobs.ingest as ingmod
        import modelardb_spark.operators.fit as fitmod
        from modelardb_spark.io.tables import TableCatalog

        untraced_ok = self.run_round()[0][3]
        saved = (fitmod.fit_segments_from_transcripts, ingmod.rollup_from_segments,
                 ingmod.rollup_cascade, TableCatalog.overwrite,
                 TableCatalog.overwrite_partitions)
        out: dict = {}

        def materialize(group, df):
            counts = plan_counts(df)
            with tracer.span(group):
                df = df.persist()
                rows = df.count()
            return df, rows, counts

        def fit(*a, **k):
            df, rows, (ex, py) = materialize("ingest.fit", saved[0](*a, **k))
            with tracer.span("trace.extra"):
                mtid = dict(df.groupBy("mtid").count().collect())
            out.update({"fit.segments_out": rows, "fit.exchanges": ex,
                        "fit.python_nodes": py})
            for m in range(1, 5):
                out[f"fit.segments_mtid_{m}"] = mtid.get(m, 0)
            return df

        def rollup(segments, window_ms, *a, **k):
            tier = {MINUTE_MS: "rollup_1m", HOUR_MS: "rollup_1h"}[window_ms]
            df, rows, _ = materialize(f"ingest.{tier}", saved[1](segments, window_ms, *a, **k))
            out[f"{tier}.rows_out"] = rows
            return df

        def cascade(finer, window_ms, *a, **k):
            df, rows, _ = materialize("ingest.rollup_1d", saved[2](finer, window_ms, *a, **k))
            out["rollup_1d.rows_out"] = rows
            return df

        def writer(method):
            def wrapped(cat, df, name, *a, **k):
                group = "ingest.staging" if name == "staged_transcripts" else f"ingest.catalog.{name}"
                with tracer.span(group):
                    return method(cat, df, name, *a, **k)
            return wrapped

        fitmod.fit_segments_from_transcripts = fit
        ingmod.rollup_from_segments, ingmod.rollup_cascade = rollup, cascade
        TableCatalog.overwrite = writer(saved[3])
        TableCatalog.overwrite_partitions = writer(saved[4])
        cat = f"{self.work}/cat-traced"
        try:
            with tracer.span("ingest"):
                self.ingest(self.spark,
                            self.spark.read.parquet(f"{self.inputs}/transcripts.parquet"), cat)
        finally:
            (fitmod.fit_segments_from_transcripts, ingmod.rollup_from_segments,
             ingmod.rollup_cascade, TableCatalog.overwrite,
             TableCatalog.overwrite_partitions) = saved
            self.spark.catalog.clearCache()
        traced_ok = self.verify(cat) and untraced_ok
        out["trace.overhead_s"] = tracer.wall("ingest") - statistics.median(self.times)
        out["ingest.staging_s"] = tracer.wall("ingest.staging")
        out["ingest.bookkeeping_s"] = tracer.job_seconds("ingest")
        out["ingest.spark_jobs"] = len(tracer.jobs("ingest"))
        fit_m = tracer.stage_metrics("ingest.fit")
        out.update({
            "fit.wall_s": tracer.wall("ingest.fit"),
            "fit.py_gap_s": fit_m["py_gap_s"],
            "fit.shuffle_write_bytes": fit_m["shuffle_write_bytes"],
            "fit.spill_bytes": fit_m["spill_bytes"],
            "fit.task_skew": fit_m["task_skew"],
            "fit.segments_per_turn": out["fit.segments_out"] / self.sizes["turns"],
        })
        for tier in TIERS:
            m = tracer.stage_metrics(f"ingest.{tier}")
            out[f"{tier}.wall_s"] = tracer.wall(f"ingest.{tier}")
            out[f"{tier}.py_gap_s"] = m["py_gap_s"]
            out[f"{tier}.shuffle_write_bytes"] = m["shuffle_write_bytes"]
        for t in STORED:
            out[f"catalog.{t}.write_s"] = tracer.wall(f"ingest.catalog.{t}")
            # bytes of the untraced output: caching changes the traced file layout
            out[f"catalog.{t}.bytes"] = self.record["stored_bytes"][t]
        shutil.rmtree(cat)
        return out, traced_ok


# ---------------------------------------------------------------------------
class DriverQueries(Workload):
    """`__spark_entry__.queries()` at the fixture's sf0.001 shape."""

    name, item = "driver_queries", "queries"
    #: seconds one warm pass over DRIVER_SET takes on a 4-core host
    round_s = 10.0

    def build_inputs(self) -> None:
        self.sf_dir = f"{self.work}/sf"
        write_driver_tables(self.seed, DRIVER_SF, self.sf_dir)

    def setup(self) -> None:
        import __spark_entry__ as em

        self.em, self.queries, self.expected = em, em.queries(), {}
        self.add_oracles(TRACED_SET if self.traced else DRIVER_SET)
        self.warm_ok = True
        if self.traced:  # the traced pass runs each TRACED_SET query cold
            return
        # warm-up: every timed query, checked; the very first is cold
        t0 = time.perf_counter()
        first = self.query(DRIVER_SET[0])
        self.record["cold_first_s"] = time.perf_counter() - t0
        self.warm_ok = first[3] and all(self.query(n)[3] for n in DRIVER_SET[1:])

    def add_oracles(self, names) -> None:
        """Expected digests of `names` from their DuckDB oracles over this
        run's own tables."""
        # the reference-replay oracles read the fixture directory named
        # in __spark_entry__, which is outside the checkout; none of
        # `names` needs them
        self.em._replay_sql_entries = lambda: {}
        oracles = self.em.oracle_sql()
        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        self.expected.update({n: duck_digest(con, oracles[n]) for n in names if n in oracles})
        con.close()

    def query(self, name):
        c0, t0 = self.cpu(), time.perf_counter()
        rows, cols = spark_rows(self.queries[name](self.spark, self.sf_dir))
        dt = time.perf_counter() - t0
        cpu = self.cpu() - c0
        return dt, cpu, 1, name in self.expected and self.check(rows, cols, self.expected[name])

    def run_round(self):
        return [self.query(n) for n in DRIVER_SET]

    def trace(self, tracer) -> tuple[dict, bool]:
        out, ok, ex_total, py_total = {}, True, 0, 0
        for name in TRACED_SET:
            t0 = time.perf_counter()
            with tracer.span(f"q.{name}.construct"):
                df = self.queries[name](self.spark, self.sf_dir)
                ex, py = plan_counts(df)
            with tracer.span(f"q.{name}"):
                rows, cols = spark_rows(df)
            out[f"q.{name}.wall_s"] = time.perf_counter() - t0
            out.setdefault("driver_queries.cold_first_s", out[f"q.{name}.wall_s"])
            ex_total, py_total = ex_total + ex, py_total + py
            ok = ok and name in self.expected and self.check(rows, cols, self.expected[name])
        for leaf in LEAVES:
            m = tracer.stage_metrics(f"q.{leaf}")
            out[f"q.{leaf}.py_gap_s"] = m["py_gap_s"]
            out[f"q.{leaf}.shuffle_bytes"] = m["shuffle_write_bytes"]
        out["driver_queries.construction_jobs"] = sum(
            len(tracer.jobs(f"q.{n}.construct")) for n in TRACED_SET)
        out["driver_queries.exchanges"] = ex_total
        out["driver_queries.python_nodes"] = py_total
        # overhead: the two lightest timed queries, now warm, untraced
        # then traced
        overhead = 0.0
        for name in DRIVER_SET[:2]:
            untraced, _, _, good = self.query(name)
            t0 = time.perf_counter()
            with tracer.span(f"overhead.{name}"):
                rows, cols = spark_rows(self.queries[name](self.spark, self.sf_dir))
            overhead += time.perf_counter() - t0 - untraced
            ok = ok and good and self.check(rows, cols, self.expected[name])
        out["trace.overhead_s"] = overhead
        return out, ok


WORKLOADS = {w.name: w for w in (Ingest, DriverQueries)}


def per_layer_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, grouped by engine module."""
    names = [("session.start_s", "s"), ("session.first_job_s", "s"),
             ("driver_queries.cold_first_s", "s"),
             ("ingest.staging_s", "s"), ("ingest.bookkeeping_s", "s"),
             ("ingest.spark_jobs", "count"),
             ("fit.wall_s", "s"), ("fit.py_gap_s", "s"), ("fit.shuffle_write_bytes", "B"),
             ("fit.spill_bytes", "B"), ("fit.task_skew", "ratio"),
             ("fit.segments_out", "count"), ("fit.segments_per_turn", "ratio")]
    names += [(f"fit.segments_mtid_{m}", "count") for m in range(1, 5)]
    names += [("fit.exchanges", "count"), ("fit.python_nodes", "count")]
    for tier in TIERS:
        names += [(f"{tier}.wall_s", "s"), (f"{tier}.py_gap_s", "s"),
                  (f"{tier}.shuffle_write_bytes", "B"), (f"{tier}.rows_out", "count")]
    for t in STORED:
        names += [(f"catalog.{t}.write_s", "s"), (f"catalog.{t}.bytes", "B")]
    names += [(f"q.{n}.wall_s", "s") for n in TRACED_SET]
    for leaf in LEAVES:
        names += [(f"q.{leaf}.py_gap_s", "s"), (f"q.{leaf}.shuffle_bytes", "B")]
    names += [("driver_queries.construction_jobs", "count"),
              ("driver_queries.exchanges", "count"), ("driver_queries.python_nodes", "count"),
              ("trace.overhead_s", "s")]
    return names
