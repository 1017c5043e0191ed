"""Declarative configuration: one TOML file drives the engine, the
reference's `modelardb.conf` + `Main.scala:39-111` operational surface
(engine knobs, sources, derived series, grouping clauses, interface)
re-expressed for the Spark jobs:

    [engine]
    error_bound = 0.0          # modelardb.error_bound
    length_bound = 50          # modelardb.length_bound
    interval_ms = 60000        # sampling interval (SI)
    metrics = ["turn_rate", "tool_usage"]
    max_fill_bins = 0
    salt_days = 1
    conv_buckets = 32
    models = ["pmc_mean", "swing", "gorilla", "uncompressed"]

    [ingest]                   # modelardb.source + ingestion settings
    events = "/data/events.parquet"
    out = "/data/mdb"
    snapshot_id = "snap-0"
    chunk_days = 64
    grouped = false            # multi-series group compression
    dynamic_split_fraction = 0.10   # ratio-feedback split/join
    format = "parquet"         # or "orc" (ORCStorage parity)

    [derived.turn_rate_x10]    # modelardb.source.derived clauses
    source = "turn_rate"
    expr = "cast(value as double) * 10.0"

    [query_server]             # modelardb.interface
    segments_dir = "/data/mdb" # or: events = ".../events.parquet"
    mode = "repl"              # repl | socket | http | sql | file
    host = "127.0.0.1"
    port = 9999
    sql = "SELECT COUNT_S(#) FROM segments"   # for mode = "sql"
    file = "queries.sql"                      # for mode = "file"
    limit = 1000

    [transfer]                 # modelardb.transfer
    src = "/data/edge"
    dst = "/data/cloud"

`jobs/ingest.py --config engine.toml` and
`jobs/query_server.py --config engine.toml` run from the file alone —
an operator deploys the engine without writing Python, the reference's
`java -jar ModelarDB.jar modelardb.conf` experience.
"""

from __future__ import annotations

import os
import tomllib

from modelardb_spark.config import EngineConfig
from modelardb_spark.operators.series import METRICS

#: the models of the reference cascade, in fit order
#: (ModelTypeFactory.java:23-26; mtid 1 = fallback). The cascade order
#: is part of the storage contract (FIXTURES.md §3), so a config may
#: restate it but not reorder or drop members.
SUPPORTED_MODELS = ("pmc_mean", "swing", "gorilla", "uncompressed")


def load_config(path: str) -> dict:
    with open(path, "rb") as f:
        return tomllib.load(f)


def engine_config(conf: dict) -> EngineConfig:
    """[engine] -> EngineConfig; unknown keys raise (a typoed knob must
    not silently fall back to a default)."""
    eng = dict(conf.get("engine", {}))
    models = eng.pop("models", None)
    if models is not None:
        if tuple(models) != SUPPORTED_MODELS:
            raise ValueError(
                f"engine.models must be {list(SUPPORTED_MODELS)} (the "
                "cascade order is part of the storage contract, "
                "FIXTURES.md §3); got "
                f"{models}"
            )
    metrics = eng.pop("metrics", None)
    if metrics is not None and tuple(metrics) != METRICS:
        raise ValueError(
            f"engine.metrics must be {list(METRICS)} (every fit derives "
            "exactly these series; add others as [derived] clauses); "
            f"got {metrics}"
        )
    allowed = {
        "error_bound", "length_bound", "interval_ms", "max_fill_bins",
        "salt_days", "shuffle_partitions", "conv_buckets",
    }
    unknown = set(eng) - allowed
    if unknown:
        raise ValueError(f"unknown [engine] keys: {sorted(unknown)}")
    return EngineConfig(**eng)


def derived_clauses(conf: dict) -> dict[str, tuple[str, str]]:
    """[derived.<name>] sections -> {name: (source_metric, sql_expr)}
    (the reference's `modelardb.source.derived` clauses,
    Main.scala:104-111)."""
    out = {}
    for name, spec in conf.get("derived", {}).items():
        out[name] = (spec["source"], spec["expr"])
    return out


def run_ingest(spark, conf: dict) -> dict:
    """Run the ingest job from [engine]+[ingest] (Main.scala's
    ingestion path driven by modelardb.conf)."""
    from modelardb_spark.jobs.ingest import ingest
    from modelardb_spark.operators.transcripts import transcripts_from_events

    ing = conf.get("ingest", {})
    if "events" not in ing or "out" not in ing:
        raise ValueError("[ingest] requires `events` and `out`")
    if ing.get("dynamic_split_fraction") is not None and not ing.get("grouped"):
        raise ValueError(
            "[ingest] dynamic_split_fraction only applies with "
            "grouped = true (the ratio-feedback split/join runs inside "
            "the group fit) — set grouped or drop the knob"
        )
    sf_dir = ing["events"].rsplit("/", 1)[0]
    return ingest(
        spark,
        transcripts_from_events(spark, sf_dir),
        ing["out"],
        engine_config(conf),
        snapshot_id=str(ing.get("snapshot_id", "snap-0")),
        chunk_days=int(ing.get("chunk_days", 64)),
        grouped=bool(ing.get("grouped", False)),
        dynamic_split_fraction=ing.get("dynamic_split_fraction"),
        fmt=str(ing.get("format", "parquet")),
    )


def run_transfer(spark, conf: dict) -> dict:
    """[transfer] -> the edge->cloud shipment job (modelardb.transfer)."""
    from modelardb_spark.jobs.transfer import transfer_segments

    tr = conf.get("transfer", {})
    if "src" not in tr or "dst" not in tr:
        raise ValueError("[transfer] requires `src` and `dst`")
    # a transfer whose src is this config's own [ingest] output
    # inherits its format — one declaration, no redundant restating
    ingest_fmt = str(conf.get("ingest", {}).get("format", "parquet"))
    src_default = (
        ingest_fmt
        if tr["src"] == conf.get("ingest", {}).get("out")
        else "parquet"
    )
    return transfer_segments(
        spark,
        tr["src"],
        tr["dst"],
        table=str(tr.get("table", "segments")),
        chunk_days=int(tr.get("chunk_days", 64)),
        src_fmt=str(tr.get("src_format", src_default)),
        dst_fmt=str(tr.get("dst_format", "parquet")),
    )


def prepare_query_session(spark, conf: dict):
    """Register the query surface from [engine]+[query_server]+
    [derived]: segments (stored or fitted on the fly), views + SQL
    functions. Returns the segments frame.

    With [derived] clauses the session fits from `events`: the wide
    series are derived once, each clause adds one value column bound to
    its source column, and one fit covers the base and derived series
    (the reference fits derived series off the same source stream,
    Main.scala:104-111)."""
    from modelardb_spark.jobs.query_server import prepare_session

    qs = conf.get("query_server", {})
    # full cfg forwarded: every [engine] knob (interval_ms,
    # length_bound, ...) governs the base fit, not just the error
    # bound; a stored segments_dir inherits [ingest]'s format
    cfg = engine_config(conf)
    derived = derived_clauses(conf)
    if not derived:
        return prepare_session(
            spark,
            events=qs.get("events"),
            segments_dir=qs.get("segments_dir"),
            cfg=cfg,
            fmt=str(
                qs.get("format", conf.get("ingest", {}).get("format", "parquet"))
            ),
        )
    if qs.get("events") is None or qs.get("segments_dir") is not None:
        raise ValueError(
            "[derived] clauses need `events` and no `segments_dir` "
            "(series are derived at fit time; a stored segments table "
            "is already fitted)"
        )
    from modelardb_spark.operators.fit import fit_segments_wide
    from modelardb_spark.operators.series import derive_series_wide
    from modelardb_spark.operators.sqlfunctions import register_sql_functions
    from modelardb_spark.operators.transcripts import transcripts_from_events
    from modelardb_spark.operators.transform import with_derived_columns
    from modelardb_spark.operators.views import register_views

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    sf_dir = os.path.dirname(os.path.abspath(qs["events"]))
    wide = derive_series_wide(transcripts_from_events(spark, sf_dir), cfg)
    seg = fit_segments_wide(
        with_derived_columns(wide, derived), cfg, METRICS + tuple(sorted(derived))
    )
    register_views(spark, seg)
    register_sql_functions(spark)
    return seg
