"""Driver contract for the spark-graft builder (PySpark target).

Each `queries()` entry runs the engine on a transcripts table derived
deterministically from the driver's `events` parquet (conv_id =
user_id, turn order by (ts, event_id)); the matching `oracle_sql()`
computes the same result in ANSI SQL on DuckDB. The headline checks are
the rollup tiers: the Spark side goes through the FULL engine —
derive series -> fit (PMC/Swing/Gorilla/raw cascade in sorted
mapInPandas batches)
-> segments -> closed-form rollup — while the oracle is a plain SQL
GROUP BY over the raw points; at error bound 0 the two must be
identical, which validates the whole compression/reconstruction path.

All timestamps are exposed as epoch-millis BIGINTs and floats widened
to DOUBLE so value hashes are engine-independent.

Coverage (round 6): 50 queries, every one with an exact DuckDB oracle.
The former rows-only trio (rollup_1h_lossy / compression_stats /
group_compression_stats) is hash-oracled via reference-replay literal
SQL since round 5, so the round-4 "slice twin" queries that oracled
their COUNT/points columns (rollup_1h_lossy_counts, compression_points,
group_compression_points) became redundant and were retired in round 6
— the roster is exactly 50 so the driver's 50-entry correctness window
covers every registered query, including the round-4 time-series joins
(asof_last_purchase, session_stats, session_lookup).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modelardb_spark.config import EngineConfig
from modelardb_spark.jobs.ingest import fit_turns
from modelardb_spark.operators.grid import grid
from modelardb_spark.operators.rollup import (
    DAY_MS,
    HOUR_MS,
    MINUTE_MS,
    rollup_cascade,
    rollup_from_segments,
    segment_aggregates,
)
from modelardb_spark.operators.series import derive_series, gap_fill
from modelardb_spark.operators.transcripts import transcripts_from_events

CFG = EngineConfig(error_bound=0.0)

# ---------------------------------------------------------------------------
# Shared SQL building blocks for the DuckDB oracle (must stay in sync with
# operators/transcripts.py::transcripts_from_events and
# operators/series.py::derive_series)
# ---------------------------------------------------------------------------

_SQL_TRANSCRIPTS = """
transcripts AS (
  SELECT CAST(user_id AS VARCHAR) AS conv_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
              AS INTEGER) AS turn_idx,
         event_type AS role,
         props AS text,
         CASE WHEN event_type IN ('click', 'purchase') THEN event_type END AS tool,
         ts
  FROM events
)
"""

_SQL_SERIES = (
    _SQL_TRANSCRIPTS
    + """,
binned AS (
  SELECT conv_id,
         (epoch_ms(ts) // 60000) * 60000 AS bin_ms,
         COUNT(*) AS turn_rate,
         COUNT(tool) AS tool_usage
  FROM transcripts
  GROUP BY 1, 2
),
series AS (
  SELECT conv_id, 'turn_rate' AS metric, bin_ms, CAST(turn_rate AS FLOAT) AS value
  FROM binned
  UNION ALL
  SELECT conv_id, 'tool_usage' AS metric, bin_ms, CAST(tool_usage AS FLOAT) AS value
  FROM binned
)
"""
)


def _sql_tier_select(window_ms: int, tier: str, cutoff_day: int | None) -> str:
    """One retention tier of the tiered_rollup oracle: the raw-points
    rollup at `window_ms`, labeled, keeping only windows whose day is
    >= the policy cutoff (None = keep all)."""
    pred = (
        f"WHERE (window_ms // 86400000) >= {cutoff_day}"
        if cutoff_day is not None
        else ""
    )
    return f"""
SELECT '{tier}' AS tier, conv_id, metric, window_ms, cnt, vmin, vmax, vsum, mean
FROM (
  SELECT conv_id, metric,
         (bin_ms // {window_ms}) * {window_ms} AS window_ms,
         COUNT(*) AS cnt,
         CAST(MIN(value) AS DOUBLE) AS vmin,
         CAST(MAX(value) AS DOUBLE) AS vmax,
         SUM(CAST(value AS DOUBLE)) AS vsum,
         SUM(CAST(value AS DOUBLE)) / COUNT(*) AS mean
  FROM series
  GROUP BY 1, 2, 3
) {pred}
"""


def _sql_raw_rollup(window_ms: int) -> str:
    return (
        "WITH "
        + _SQL_SERIES
        + f"""
SELECT conv_id,
       metric,
       (bin_ms // {window_ms}) * {window_ms} AS window_ms,
       COUNT(*) AS cnt,
       CAST(MIN(value) AS DOUBLE) AS vmin,
       CAST(MAX(value) AS DOUBLE) AS vmax,
       SUM(CAST(value AS DOUBLE)) AS vsum,
       SUM(CAST(value AS DOUBLE)) / COUNT(*) AS mean
FROM series
GROUP BY 1, 2, 3
"""
    )


# ---------------------------------------------------------------------------
# Spark-side helpers
# ---------------------------------------------------------------------------


def _series(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive_series(transcripts_from_events(spark, sf_dir), CFG)


def _segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the ingest job's FUSED derive+fit; identical segment rows to the
    # two-step and narrow paths (tests/test_fit_wide.py)
    return fit_turns(transcripts_from_events(spark, sf_dir), CFG)


def _std_rollup(df: DataFrame) -> DataFrame:
    """Normalize a rollup result for hashing: floats -> double."""
    return df.select(
        "conv_id",
        "metric",
        F.col("window_ms").cast("long").alias("window_ms"),
        F.col("cnt").cast("long").alias("cnt"),
        F.col("vmin").cast("double").alias("vmin"),
        F.col("vmax").cast("double").alias("vmax"),
        F.col("vsum").cast("double").alias("vsum"),
        F.col("mean").cast("double").alias("mean"),
    )


def _q_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    return t.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )


def _q_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _series(spark, sf_dir)


def _q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gap_fill(_series(spark, sf_dir), CFG, max_fill_bins=5)


def _q_rollup_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    seg = _segments(spark, sf_dir)
    return _std_rollup(rollup_from_segments(seg, MINUTE_MS, CFG.interval_ms))


def _q_rollup_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    seg = _segments(spark, sf_dir)
    return _std_rollup(rollup_from_segments(seg, HOUR_MS, CFG.interval_ms))


def _q_rollup_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exercises the cascading maintenance path (1h tier -> 1d tier)
    r1h = rollup_from_segments(_segments(spark, sf_dir), HOUR_MS, CFG.interval_ms)
    return _std_rollup(rollup_cascade(r1h, DAY_MS))


def _q_data_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    # full compression round trip: series -> segments -> grid
    return grid(_segments(spark, sf_dir)).select(
        "conv_id", "metric", "bin_ms", "value"
    )


def _q_segment_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = segment_aggregates(_segments(spark, sf_dir))
    return agg.select(
        "conv_id",
        "metric",
        F.col("cnt").cast("long").alias("cnt"),
        F.col("vmin").cast("double").alias("vmin"),
        F.col("vmax").cast("double").alias("vmax"),
        F.col("vsum").cast("double").alias("vsum"),
        F.col("mean").cast("double").alias("mean"),
    )


# ---------------------------------------------------------------------------
# Training-data pipeline operators (documents / embeddings tables)
# ---------------------------------------------------------------------------


def _q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary over lineitem — plain Spark SQL
    delegation (the reference implements no agg/sort itself, SURVEY
    §2.5); demonstrates the engine coexists with classic warehouse
    queries on the same session."""
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView(
        "lineitem_v"
    )
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               COUNT(*) AS count_order
        FROM lineitem_v
        WHERE l_shipdate <= DATE '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """
    )


def _q_top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style join+sort+limit over customer/orders/lineitem —
    broadcast-joined small dimensions, delegation evidence."""
    for t in ("customer", "orders", "lineitem"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(f"{t}_v")
    return spark.sql(
        """
        SELECT o.o_orderkey,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
               CAST(CAST(o.o_orderdate AS DATE) AS STRING) AS orderdate
        FROM customer_v c
        JOIN orders_v o ON c.c_custkey = o.o_custkey
        JOIN lineitem_v l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < DATE '1995-03-15'
          AND l.l_shipdate > DATE '1995-03-15'
        GROUP BY o.o_orderkey, o.o_orderdate
        ORDER BY revenue DESC, o.o_orderkey
        LIMIT 10
        """
    )


def _q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from modelardb_spark.operators.textstats import load_documents, token_count

    return token_count(load_documents(spark, sf_dir))


def _q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from modelardb_spark.operators.textstats import load_documents, quality_score

    return quality_score(load_documents(spark, sf_dir))


def _q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from modelardb_spark.operators.textstats import language_id, load_documents

    return language_id(load_documents(spark, sf_dir))


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from modelardb_spark.operators.textstats import fingerprint, load_documents

    return fingerprint(load_documents(spark, sf_dir))


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from modelardb_spark.operators.dedup import exact_duplicates
    from modelardb_spark.operators.textstats import load_documents

    return exact_duplicates(load_documents(spark, sf_dir))


def _q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from modelardb_spark.operators.dedup import ngram_jaccard_pairs
    from modelardb_spark.operators.textstats import load_documents

    return ngram_jaccard_pairs(load_documents(spark, sf_dir), threshold=0.35)


def _q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from modelardb_spark.operators.dedup import minhash_lsh_pairs
    from modelardb_spark.operators.textstats import load_documents

    return minhash_lsh_pairs(load_documents(spark, sf_dir), jaccard_threshold=0.35)


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from modelardb_spark.operators.dedup import simhash_signatures
    from modelardb_spark.operators.textstats import load_documents

    return simhash_signatures(load_documents(spark, sf_dir))


def _q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from modelardb_spark.operators.similarity import cosine_topk, load_embeddings

    emb = load_embeddings(spark, sf_dir)
    queries_df = emb.where(F.col("vec_id") < 20)
    return cosine_topk(emb, queries_df, k=5)


#: LSH parameters shared by the Spark queries and their SQL oracles
_ND_BITS, _ND_TABLES, _ND_THRESH = 8, 8, 0.3
_TOPK_BITS, _TOPK_K = 6, 5
_LSH_SEED = 42


def _assert_oracle_dim(emb) -> None:
    """The LSH/IVF oracle SQL inlines dimension 64
    (generate_series(0, 63)); a different fixture dim would make
    DuckDB's list_zip NULL-pad and silently diverge — fail loudly
    instead."""
    dim = len(emb.select("embedding").first()[0])
    if dim != 64:
        raise ValueError(
            f"embeddings dim {dim} != 64: regenerate the LSH oracle SQL"
        )


def _q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed near-dup (the scale path): candidates = pairs
    sharing >= 1 bucket across _ND_TABLES tables, verified with exact
    cosine >= _ND_THRESH. No driver collect of the vector table."""
    from modelardb_spark.operators.similarity import embedding_near_dup, load_embeddings

    emb = load_embeddings(spark, sf_dir)
    _assert_oracle_dim(emb)
    return embedding_near_dup(
        emb,
        threshold=_ND_THRESH,
        bits=_ND_BITS,
        tables=_ND_TABLES,
        seed=_LSH_SEED,
        dim=64,
    )


def _q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from modelardb_spark.operators.similarity import load_embeddings, lsh_topk

    emb = load_embeddings(spark, sf_dir)
    _assert_oracle_dim(emb)
    return lsh_topk(emb, k=_TOPK_K, bits=_TOPK_BITS, seed=_LSH_SEED, dim=64)


#: IVF parameters shared by the Spark query and its SQL oracle
_IVF_CELLS, _IVF_PROBE, _IVF_ITERS = 16, 4, 2
#: multi-table LSH top-k (the recall lever) table count
_MULTI_TABLES = 16


def _q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-search QUALITY in the hard driver signal, measured
    against exact brute force — one row per method:

    - `lsh` / `ivf`: recall@5 over the 20 query vectors vs the exact
      top-5 (same arithmetic as the lsh_topk / ivf_topk oracles).
    - `lsh_multi`: recall@5 of the multi-table top-k (the recall
      lever, similarity.lsh_topk_multi at 16 tables) — 0.56 vs the
      single-table 0.04 at sf0.01, while scoring only ~5% of the
      corpus per query.
    - `lsh_near_dup`: pair recall of the multi-table LSH near-dup path
      at its operating threshold vs the brute-force pair set.

    Context for the absolute numbers: the fixture embeddings are
    ISOTROPIC (no planted high-similarity clusters), the adversarial
    regime for LSH. Sign-LSH theory predicts per-pair collision
    (1 - theta/pi)^bits per table at angle theta — at the near-dup
    threshold 0.3 (theta ~ 72.5 deg) that is ~1.6%/table, ~12% over 8
    tables, and the measured recall lands exactly there (~0.12): the
    measurement certifies the implementation IS the textbook LSH, and
    the recall levers (bits down / tables up) behave as derived.
    hits/total is an exact integer division -> engine-independent
    hash."""
    from modelardb_spark.operators.similarity import (
        cosine_topk,
        embedding_near_dup,
        embedding_near_dup_bruteforce,
        ivf_topk,
        load_embeddings,
        lsh_topk,
        lsh_topk_multi,
    )

    emb = load_embeddings(spark, sf_dir)
    _assert_oracle_dim(emb)
    queries_df = emb.where(F.col("vec_id") < 20)
    # materialized once (k x 20 = 100 rows): the exact top-k feeds BOTH
    # the per-method hits join and the total count — without this the
    # whole brute-force ranking ran twice
    exact = (
        cosine_topk(emb, queries_df, k=5)
        .select("query_id", "neighbor_id")
        .localCheckpoint()
    )
    # query_pred restricts the QUERY role to the 20 measured vectors
    # inside the per-bucket ranking (identical rows for those queries,
    # ~1000x less in-bucket compare work than ranking the whole corpus
    # and filtering afterwards)
    lsh = (
        lsh_topk(
            emb, k=_TOPK_K, bits=_TOPK_BITS, seed=_LSH_SEED, dim=64,
            query_pred=F.col("vec_id") < 20,
        )
        .where(F.col("query_id") < 20)
        .select("query_id", "neighbor_id")
    )
    ivf = ivf_topk(
        emb, queries_df, k=5,
        n_cells=_IVF_CELLS, n_probe=_IVF_PROBE, train_iters=_IVF_ITERS,
    ).select("query_id", "neighbor_id")
    multi = lsh_topk_multi(
        emb, queries_df, k=5, bits=_TOPK_BITS, tables=_MULTI_TABLES,
        seed=_LSH_SEED, dim=64,
    ).select("query_id", "neighbor_id")
    approx = (
        lsh.withColumn("method", F.lit("lsh"))
        .unionByName(ivf.withColumn("method", F.lit("ivf")))
        .unionByName(multi.withColumn("method", F.lit("lsh_multi")))
    )
    topk_hits = (
        approx.join(exact, ["query_id", "neighbor_id"])
        .groupBy("method")
        .agg(F.count("*").alias("hits"))
    )
    topk_total = exact.agg(F.count("*").alias("total"))
    topk = (
        spark.createDataFrame(
            [("lsh",), ("ivf",), ("lsh_multi",)], "method string"
        )
        .join(topk_hits, "method", "left")
        .na.fill(0, ["hits"])
        .crossJoin(F.broadcast(topk_total))
    )

    bf_pairs = embedding_near_dup_bruteforce(emb, threshold=_ND_THRESH).select(
        "vec_a", "vec_b"
    )
    nd_pairs = embedding_near_dup(
        emb, threshold=_ND_THRESH, bits=_ND_BITS, tables=_ND_TABLES,
        seed=_LSH_SEED, dim=64,
    ).select("vec_a", "vec_b")
    # ONE pass over the brute-force pair set: hits and total from the
    # same left join (both sides emit each pair exactly once, so the
    # marker count equals the old inner-join count) — the O(n^2)
    # brute-force kernel used to be evaluated twice, once for the
    # intersection and once for the denominator
    nd = (
        bf_pairs.join(
            nd_pairs.withColumn("m", F.lit(1)), ["vec_a", "vec_b"], "left"
        )
        .agg(F.count("m").alias("hits"), F.count("*").alias("total"))
        .select(F.lit("lsh_near_dup").alias("method"), "hits", "total")
    )

    return topk.unionByName(nd).select(
        "method",
        F.col("hits").cast("long").alias("hits"),
        F.col("total").cast("long").alias("total"),
        (F.col("hits") / F.col("total")).alias("recall"),
    )


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors with TRAINED centroids:
    deterministic md5 seed refined by 2 distributed Lloyd iterations
    (fixed-point per-cell means keep the oracle bit-reproducible),
    cell-keyed candidate join, exact ranking within probed cells."""
    from modelardb_spark.operators.similarity import ivf_topk, load_embeddings

    emb = load_embeddings(spark, sf_dir)
    return ivf_topk(
        emb, emb.where(F.col("vec_id") < 20), k=5,
        n_cells=_IVF_CELLS, n_probe=_IVF_PROBE, train_iters=_IVF_ITERS,
    )


def _q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from modelardb_spark.operators.multimodal import extract_features, synthetic_media
    from modelardb_spark.operators.textstats import load_documents

    feats = extract_features(synthetic_media(spark, load_documents(spark, sf_dir)))
    return feats.select("media_id", "kind", "n_bytes", "sha_prefix")


def _q_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (kdb aj / DuckDB ASOF JOIN): every event picks the
    user's most recent purchase at or before it — the union-tag +
    single-window formulation (operators/asof.py), one shuffle, no
    join explosion; the oracle is DuckDB's NATIVE ASOF LEFT JOIN."""
    from modelardb_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        F.col("user_id").cast("string").alias("conv_id"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        "event_type",
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "conv_id", F.col("ts_ms").alias("p_ms")
    )
    j = asof_join(ev, purchases, ["conv_id"], "ts_ms", "p_ms", [])
    return j.select(
        F.col("event_id").cast("long").alias("event_id"),
        "conv_id",
        "ts_ms",
        F.coalesce(F.col("p_ms_asof"), F.lit(-1)).alias("last_purchase_ms"),
    )


def _events_ms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        F.col("user_id").cast("string").alias("conv_id"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )


_SESSION_GAP_MS = 1_800_000  # 30 min


def _q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (operators/timeops.py): one window pass
    splits each conversation at >30-min idle gaps; per-session
    count/start/end. Duplicate-timestamp ties share a session, so the
    result is engine-order independent."""
    from modelardb_spark.operators.timeops import session_intervals

    s = session_intervals(
        _events_ms(spark, sf_dir).drop("event_id"),
        ["conv_id"], "ts_ms", _SESSION_GAP_MS,
    )
    return s.select(
        "conv_id",
        F.col("session_idx").cast("long").alias("session_idx"),
        "start_ms",
        "end_ms",
        F.col("n_rows").cast("long").alias("n_rows"),
    )


def _q_session_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized interval join (operators/timeops.py): every event
    joins back into its enclosing session interval via an equi-join on
    (conv_id, day bucket) + exact BETWEEN — no cross product, each
    point matches exactly once even when a session spans buckets."""
    from modelardb_spark.operators.timeops import (
        interval_join,
        session_intervals,
    )

    ev = _events_ms(spark, sf_dir)
    ivs = session_intervals(
        ev.drop("event_id"), ["conv_id"], "ts_ms", _SESSION_GAP_MS
    ).select("conv_id", "session_idx", "start_ms", "end_ms")
    j = interval_join(ev, ivs, ["conv_id"], "ts_ms", "start_ms", "end_ms")
    return j.select(
        F.col("event_id").cast("long").alias("event_id"),
        "conv_id",
        "ts_ms",
        F.col("session_idx").cast("long").alias("session_idx"),
        "start_ms",
        "end_ms",
    )


def _q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal decode: documents are encoded into valid
    containers (grayscale PNG / PCM-16 WAV, pure-stdlib codecs) and
    decoded back in a map-only distributed stage; the oracle recomputes
    the container geometry arithmetically. Pixel/sample content checks
    live in tests/test_traindata_ops.py (byte-level math is not
    SQL-expressible); video stays NULL — the honest externally-coded
    boundary."""
    from modelardb_spark.operators.multimodal import (
        media_decode,
        synthetic_media_encoded,
    )
    from modelardb_spark.operators.textstats import load_documents

    m = synthetic_media_encoded(spark, load_documents(spark, sf_dir))
    d = media_decode(m)
    # -1 sentinels instead of NULL: mixed-type NULL columns are
    # hash-compare hazards in the driver's value check
    def _s(c):
        return F.coalesce(F.col(c).cast("long"), F.lit(-1)).alias(c)

    return d.select(
        "media_id",
        "kind",
        _s("width"),
        _s("height"),
        _s("sample_rate"),
        _s("n_samples"),
        _s("n_frames"),
        _s("duration_ms"),
    )


def _q_hour_of_day_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-cube aggregate (the reference's *_HOUR_OF_DAY UDAF
    family) computed from the 1h rollup tier."""
    from modelardb_spark.operators.rollup import calendar_rollup

    r1h = rollup_from_segments(_segments(spark, sf_dir), HOUR_MS, CFG.interval_ms)
    cube = calendar_rollup(r1h, "hour_of_day")
    return cube.select(
        "conv_id",
        "metric",
        F.col("field").cast("int").alias("field"),
        F.col("cnt").cast("long").alias("cnt"),
        F.col("vmin").cast("double").alias("vmin"),
        F.col("vmax").cast("double").alias("vmax"),
        F.col("vsum").cast("double").alias("vsum"),
        F.col("mean").cast("double").alias("mean"),
    )


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup canonicalization: connected components over
    the MinHash+LSH verified pairs. One row per document with the
    component minimum as cluster_rep — "keep cluster_rep, drop the
    rest" is the exact transitive-dedup step of a training-data
    pipeline, and cluster_size the dedup-aware sampling weight.
    (hour_12_cube retired r6 to keep the roster at 50: the 12-hour
    field — and every other calendar field — is unit-tested against a
    brute-force oracle in test_calendar_rollup_all_fields.)"""
    from modelardb_spark.operators.dedup import (
        duplicate_clusters,
        minhash_lsh_pairs,
    )
    from modelardb_spark.operators.textstats import load_documents

    docs = load_documents(spark, sf_dir)
    # direct path, not near_dup_clusters: the exact-collapse prepass
    # wins on large exact-dup-heavy corpora (the curate job uses it)
    # but at this table's size its extra materialization barriers cost
    # more than the LSH work they save (measured 9.5 s vs 5.5 s)
    pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.35)
    return duplicate_clusters(pairs, docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_rep").cast("long").alias("cluster_rep"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
    )


def _q_lossy_bound_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard invariant for the lossy (5%% error bound) pipeline: grid the
    lossy segments, join every reconstructed point back to its raw
    point, and emit any point whose percentage error
    (Static.java:106-119 semantics: approx==real -> 0, real==0 -> inf)
    exceeds the bound. MUST be empty — the oracle is the empty set."""
    lossy = EngineConfig(error_bound=5.0)
    seg = fit_turns(transcripts_from_events(spark, sf_dir), lossy)
    approx = grid(seg).select(
        "conv_id", "metric", "bin_ms", F.col("value").alias("approx_f")
    )
    raw = _series(spark, sf_dir).select(
        "conv_id", "metric", "bin_ms", F.col("value").alias("real_f")
    )
    j = approx.join(raw, ["conv_id", "metric", "bin_ms"])
    real_d = F.col("real_f").cast("double")
    approx_d = F.col("approx_f").cast("double")
    pct_err = (
        F.when(approx_d == real_d, F.lit(0.0))
        .when(real_d == 0.0, F.lit(float("inf")))
        .otherwise(F.abs((real_d - approx_d) / real_d) * 100.0)
    )
    return (
        j.select(
            "conv_id",
            "metric",
            "bin_ms",
            real_d.alias("real_value"),
            approx_d.alias("approx_value"),
            pct_err.alias("pct_err"),
        )
        .where(F.col("pct_err") > 5.0)
    )


def _q_compression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference Logger-style compression accounting. Fully oracled:
    segments/stored_bytes/ratio come from the pure-Python reference
    replay inlined as literals (_replay_literal_sqls), points from an
    independent SQL count."""
    from modelardb_spark.operators.rollup import compression_stats

    return compression_stats(_segments(spark, sf_dir))


def _q_windowed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-restricted rollup: the point-time predicate is applied as a
    segment-overlap predicate before any reconstruction (the
    reference's ViewDataPoint timestamp rewrite + START/END
    restriction)."""
    from modelardb_spark.operators.grid import restrict

    lo = 1_704_672_000_000  # 2024-01-08T00:00Z
    hi = 1_705_276_799_999  # 2024-01-14T23:59:59.999Z
    seg = restrict(_segments(spark, sf_dir), lo, hi)
    r = rollup_from_segments(seg, HOUR_MS, CFG.interval_ms)
    return _std_rollup(r.where((F.col("window_ms") >= lo) & (F.col("window_ms") <= hi)))


def _q_derived_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived value series (the reference's config-compiled
    ValueFunctions) as plain column expressions, fitted and rolled up
    like base metrics."""
    from modelardb_spark.operators.transform import derive_value_series

    s = derive_value_series(
        _series(spark, sf_dir),
        {"turn_rate_x10": ("turn_rate", "cast(value as double) * 10.0")},
    )
    return s.select("conv_id", "metric", "bin_ms", "value")


def _q_derived_rollup_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived series sharing the SOURCE's segments (the reference's
    groupDerivedCache / explode fan-out, SegmentGroup.java:113-124):
    the x10 tier is an algebraic transform of the base rollup — zero
    extra fit, zero reconstruction, zero storage."""
    from modelardb_spark.operators.transform import derived_rollup

    r1h = rollup_from_segments(_segments(spark, sf_dir), HOUR_MS, CFG.interval_ms)
    d = derived_rollup(r1h, {"turn_rate_x10": ("turn_rate", 10.0)})
    return _std_rollup(d)


def _q_scaled_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series scaling metadata applied at read time (the
    reference's time_series table + scaling-factor cache,
    TimeSeriesCSV.java:194, JDBCStorage.scala:47-52): a broadcast-
    joined metadata row per series supplies the factor."""
    from modelardb_spark.operators.transform import (
        scale_series_per_tid,
        time_series_metadata,
    )

    s = _series(spark, sf_dir)
    return scale_series_per_tid(s, time_series_metadata(s))


def _q_rollup_1h_lossy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossy pipeline (5% error bound). Fully oracled: the reference
    replay refits at the bound and reconstructs per-bin values, and the
    expected rollup rows are inlined as literals — exact because every
    term is exactly representable (no Swing at this scale, asserted by
    the generator). The within-bound guarantee is separately asserted
    by lossy_bound_violations and test_pipeline.py."""
    lossy = EngineConfig(error_bound=5.0)
    seg = fit_turns(transcripts_from_events(spark, sf_dir), lossy)
    return _std_rollup(rollup_from_segments(seg, HOUR_MS, lossy.interval_ms))


def _gsegments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-series GROUP compression path: the two metrics of a
    conversation (identical bin grid) fitted as ONE group — one model
    row covers N series with the reference's gaps-as-absent-tids
    protocol and query-time explode (TimeSeriesGroup.java:153-176,
    SegmentGroup.java:51-111)."""
    return fit_turns(transcripts_from_events(spark, sf_dir), CFG, grouped=True)


def _q_group_rollup_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1h rollup computed entirely from GROUP segments (explode ->
    stride decode / closed-form partials); at bound 0 it must equal the
    raw-points rollup exactly — the hash check validates the whole
    group compress -> explode -> reconstruct path."""
    from modelardb_spark.operators.groupfit import explode_group_segments

    g = explode_group_segments(_gsegments(spark, sf_dir))
    return _std_rollup(rollup_from_segments(g, HOUR_MS, CFG.interval_ms))


def _q_group_data_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full group-compression round trip: wide series -> group segments
    -> explode -> stride-decoded points."""
    from modelardb_spark.operators.groupfit import grid_group

    return grid_group(_gsegments(spark, sf_dir)).select(
        "conv_id", "metric", "bin_ms", "value"
    )


def _q_adaptive_rollup_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation-routed fit (Partitioner.java:95-124 group formation,
    Correlation.java clauses): correlated conversations compress as
    groups, uncorrelated ones per series; the 1h tier unions both
    paths and must still equal the raw rollup exactly at bound 0."""
    from modelardb_spark.operators.groupfit import (
        fit_segments_adaptive,
        rollup_adaptive,
    )
    from modelardb_spark.operators.series import derive_series_wide

    wide = derive_series_wide(transcripts_from_events(spark, sf_dir), CFG)
    g, p = fit_segments_adaptive(wide, CFG)
    return _std_rollup(rollup_adaptive(g, p, HOUR_MS))


def _q_dynamic_group_rollup_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic group split/join (SegmentGenerator.java:296-351): the
    group/per-series decision is re-made per conversation-DAY, so a
    conversation joins the group on days its metrics correlate and
    splits on days they don't; the 1h tier over the union must still
    equal the raw rollup exactly at bound 0."""
    from modelardb_spark.operators.groupfit import (
        fit_segments_adaptive,
        rollup_adaptive,
    )
    from modelardb_spark.operators.series import derive_series_wide

    wide = derive_series_wide(transcripts_from_events(spark, sf_dir), CFG)
    g, p = fit_segments_adaptive(wide, CFG, per_day=True)
    return _std_rollup(rollup_adaptive(g, p, HOUR_MS))


def _q_ratio_routed_rollup_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-FEEDBACK dynamic split/join (SegmentGenerator.java:296-351,
    :403-455): the group fit tracks its running compression-ratio
    average, splits into subsets mutually within 2x the bound when a
    segment compresses below dynamic_split_fraction x that average, and
    rejoins with exponential back-off. At bound 0 the 1h tier must
    still equal the raw rollup exactly — the trigger only moves stored
    bytes (asserted in tests/test_groupfit.py), never correctness."""
    from modelardb_spark.operators.groupfit import (
        DYNAMIC_SPLIT_FRACTION,
        explode_group_segments,
    )

    t = transcripts_from_events(spark, sf_dir)
    g = fit_turns(t, CFG, grouped=True, dynamic_split_fraction=DYNAMIC_SPLIT_FRACTION)
    return _std_rollup(
        rollup_from_segments(explode_group_segments(g), HOUR_MS, CFG.interval_ms)
    )


def _q_dim_group_rollup_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-driven CROSS-ENTITY grouping (Correlation.java:40-45
    dimension-member clauses, Partitioner.java:95-124): every series of
    conversations sharing a channel joins one group (sub-bucketed at 8
    members), fitted with the shared group cascade and mapped back to
    real (conv_id, metric) through the member registry at query time.
    At bound 0 the 1h tier must equal the raw rollup exactly."""
    from modelardb_spark.operators.dimensions import conversation_dimensions
    from modelardb_spark.operators.dimgroup import (
        dim_group_members,
        explode_dim_group_segments,
        fit_segments_dim_grouped,
        materialize_members,
    )

    s = _series(spark, sf_dir)
    dims = conversation_dimensions(s)
    # materialized once: the registry is O(#series) metadata but its
    # lineage is a full series scan that BOTH consumers (fit join,
    # explode broadcast) would otherwise replay
    members = materialize_members(
        dim_group_members(s, dims, by="channel", max_group_size=8)
    )
    g = explode_dim_group_segments(fit_segments_dim_grouped(s, members, CFG), members)
    return _std_rollup(rollup_from_segments(g, HOUR_MS, CFG.interval_ms))


def _q_group_compression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression accounting for the group path. Fully oracled via the
    sequential group-cascade replay (tests/reference_oracle.py::
    oracle_fit_group_run) inlined as literals; the group-vs-per-series
    win is asserted in test_groupfit.py."""
    from modelardb_spark.operators.groupfit import group_compression_stats

    return group_compression_stats(_gsegments(spark, sf_dir))


#: fixed "now" for the retention-tier query: 2024-02-01T00:00Z, just
#: after the test data's Jan-2024 range so every cutoff is deterministic
_RET_NOW_MS = 1_706_745_600_000
_RET_HOT_DAYS, _RET_WARM_DAYS = 7, 14


def _q_tiered_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-tier union view (the north rule's downsample-cold-tiers
    capability): each tier keeps only the windows the policy retains at
    the fixed `now` — 1m and 1h keep the warm 14 days, 1d keeps all —
    so any window is answerable from the finest tier still retained at
    its age. At bound 0 every tier must equal its raw-points rollup
    exactly, which the 3-tier union oracle checks per tier."""
    from modelardb_spark.operators.retention import (
        RetentionPolicy,
        tiered_rollup_view,
    )

    seg = _segments(spark, sf_dir).persist()
    r1m = rollup_from_segments(seg, MINUTE_MS, CFG.interval_ms)
    r1h = rollup_from_segments(seg, HOUR_MS, CFG.interval_ms)
    r1d = rollup_cascade(r1h, DAY_MS)
    out = tiered_rollup_view(
        r1m,
        r1h,
        r1d,
        RetentionPolicy(hot_days=_RET_HOT_DAYS, warm_days=_RET_WARM_DAYS),
        _RET_NOW_MS,
    )
    return out.select(
        "tier",
        "conv_id",
        "metric",
        F.col("window_ms").cast("long").alias("window_ms"),
        F.col("cnt").cast("long").alias("cnt"),
        F.col("vmin").cast("double").alias("vmin"),
        F.col("vmax").cast("double").alias("vmax"),
        F.col("vsum").cast("double").alias("vsum"),
        F.col("mean").cast("double").alias("mean"),
    )


#: minute-aligned restriction window for the SQL-surface queries
_SQL_LO, _SQL_HI = 1_704_672_000_000, 1_705_276_740_000


def _q_sql_surface_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-style SQL runs VERBATIM: the *_S aggregate functions
    (SparkUDAF.scala:346-352) registered on the session, computing from
    the model column over the `segments` view. Routed through
    segment_sql, which decomposes the aggregates partial/final (map-
    side SEG_AGG partials, built-in merge) like the reference's
    Aggregators — only (key, partial) rows cross the shuffle."""
    from modelardb_spark.operators.sqlfunctions import (
        register_sql_functions,
        segment_sql,
    )
    from modelardb_spark.operators.views import register_views

    register_views(spark, _segments(spark, sf_dir))
    register_sql_functions(spark)
    return segment_sql(
        spark,
        """
        SELECT conv_id, metric,
               COUNT_S(start_ms, end_ms, interval_ms) AS cnt,
               MIN_S(mtid, model, start_ms, end_ms, interval_ms) AS vmin,
               MAX_S(mtid, model, start_ms, end_ms, interval_ms) AS vmax,
               SUM_S(mtid, model, start_ms, end_ms, interval_ms) AS vsum,
               AVG_S(mtid, model, start_ms, end_ms, interval_ms) AS mean
        FROM segments
        GROUP BY conv_id, metric
        """,
    )


def _q_sql_surface_restrict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """START_END restriction + COUNT_S as verbatim SQL
    (SparkUDAF.scala:396-426, Segment.java:73-95): segment bounds are
    tightened to the window by a registered pure-SQL function, then
    COUNT_S counts grid points in the restricted bounds. Routed through
    segment_sql: COUNT_S decomposes to pure-SQL SUM arithmetic — the
    whole query stays inside whole-stage codegen, zero Python."""
    from modelardb_spark.operators.sqlfunctions import (
        register_sql_functions,
        segment_sql,
    )
    from modelardb_spark.operators.views import register_views

    register_views(spark, _segments(spark, sf_dir))
    register_sql_functions(spark)
    return segment_sql(
        spark,
        f"""
        SELECT conv_id, metric, COUNT_S(se.s, se.e, interval_ms) AS cnt
        FROM (
          SELECT conv_id, metric, interval_ms,
                 START_END(start_ms, end_ms, interval_ms,
                           {_SQL_LO}, {_SQL_HI}) AS se
          FROM segments
          WHERE end_ms >= {_SQL_LO} AND start_ms <= {_SQL_HI}
        )
        GROUP BY conv_id, metric
        """,
    )


def _q_data_points_restricted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ViewDataPoint timestamp-predicate rewrite as a
    registered SQL TABLE function (ViewDataPoint.scala:47-78): the
    point-time window prunes SEGMENTS before any reconstruction, grid
    indexes are clamped to the window, and dense models decode with
    original-stream offsets. At bound 0 the result must equal the raw
    series filtered to the window."""
    from modelardb_spark.operators.sqlfunctions import register_sql_functions
    from modelardb_spark.operators.views import register_views

    register_views(spark, _segments(spark, sf_dir))
    register_sql_functions(spark)
    return spark.sql(
        f"SELECT conv_id, metric, bin_ms, value"
        f" FROM DATA_POINTS({_SQL_LO}, {_SQL_HI})"
    )


def _q_dim_filtered_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-routed rollup (the reference's Dimensions +
    ViewSegment dim->gid rewrite): the channel predicate prunes
    SEGMENTS via a broadcast join before any reconstruction, and the
    dimension member is projected onto the result view."""
    from modelardb_spark.operators.dimensions import (
        conversation_dimensions,
        dim_restrict,
        with_dimensions,
    )

    seg = _segments(spark, sf_dir)
    dims = conversation_dimensions(seg)
    kept = dim_restrict(seg, dims, channel="web")
    r = _std_rollup(rollup_from_segments(kept, HOUR_MS, CFG.interval_ms))
    return with_dimensions(r, dims).select(
        "conv_id", "metric", "window_ms", "cnt", "vmin", "vmax", "vsum",
        "mean", "channel",
    )


def _q_busiest_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain Spark SQL over the engine's rollup view — the reference
    delegates all joins/sorts/limits to the host engine (SURVEY.md
    §2.5); this query demonstrates the same delegation here."""
    rollup_from_segments(
        _segments(spark, sf_dir), HOUR_MS, CFG.interval_ms
    ).createOrReplaceTempView("rollup_1h_v")
    return spark.sql(
        """
        SELECT window_ms, CAST(SUM(vsum) AS BIGINT) AS turns,
               COUNT(DISTINCT conv_id) AS convs
        FROM rollup_1h_v
        WHERE metric = 'turn_rate'
        GROUP BY window_ms
        ORDER BY turns DESC, window_ms
        LIMIT 20
        """
    )


# ---------------------------------------------------------------------------
# Oracle SQL builders for the training-data operators (generated from the
# same constants as the Spark implementations to stay in sync)
# ---------------------------------------------------------------------------

_SQL_NORM = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"


def _sql_marker_hits(words: list[str]) -> str:
    terms = [
        f"((length(padded) - length(replace(padded, ' {w} ', ''))) / {len(w) + 2})"
        for w in words
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def _sql_language_id() -> str:
    from modelardb_spark.operators.textstats import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    scores = ",\n         ".join(
        f"{_sql_marker_hits(LANG_MARKERS[l])} AS score_{l}" for l in langs
    )
    best = "GREATEST(" + ", ".join(f"score_{l}" for l in langs) + ")"
    case = " ".join(f"WHEN score_{l} = best THEN '{l}'" for l in langs)
    return f"""
WITH padded_docs AS (
  SELECT doc_id, lang, ' ' || lower(text) || ' ' AS padded FROM documents
), scored AS (
  SELECT doc_id, lang,
         {scores}
  FROM padded_docs
), with_best AS (
  SELECT *, {best} AS best FROM scored
)
SELECT doc_id, lang AS labeled_lang,
       CASE WHEN best = 0 THEN 'und' {case} END AS predicted_lang,
       best AS marker_hits
FROM with_best
"""


def _sql_quality() -> str:
    from modelardb_spark.operators.textstats import _STOPWORDS

    return f"""
WITH q AS (
  SELECT doc_id, text, ' ' || lower(text) || ' ' AS padded,
         CAST(length(text) AS DOUBLE) AS n_chars,
         length(text) - length(replace(text, ' ', '')) AS spaces
  FROM documents
), s AS (
  SELECT doc_id, n_chars, spaces,
         CAST(spaces + 1 AS DOUBLE) AS n_tokens,
         CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
              AS DOUBLE) AS punct,
         CAST({_sql_marker_hits(_STOPWORDS)} AS DOUBLE) AS stop_hits
  FROM q
), m AS (
  SELECT doc_id,
         (n_chars - spaces) / n_tokens AS avg_word_len,
         punct / n_chars AS punct_ratio,
         stop_hits / n_tokens AS stop_ratio,
         LEAST(n_tokens / 100.0, 1.0) AS length_factor
  FROM s
)
SELECT doc_id,
       round(avg_word_len, 6) AS avg_word_len,
       round(punct_ratio, 6) AS punct_ratio,
       round(stop_ratio, 6) AS stop_ratio,
       round(0.4 * length_factor
             + 0.3 * (CASE WHEN avg_word_len >= 2.0 AND avg_word_len <= 12.0
                           THEN 1.0 ELSE 0.5 END)
             + 0.2 * LEAST(stop_ratio * 5.0, 1.0)
             + 0.1 * (1.0 - LEAST(punct_ratio * 10.0, 1.0)), 6) AS quality
FROM m
"""


_SQL_SHINGLES = f"""
norm_docs AS (
  SELECT doc_id, {_SQL_NORM} AS norm FROM documents
), toks AS (
  SELECT doc_id, string_split(norm, ' ') AS toks FROM norm_docs
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(toks[g.i + 1 : g.i + 3], ' ') AS shingle
  FROM toks, LATERAL (
    SELECT unnest(generate_series(0, len(toks) - 3)) AS i
  ) g
  WHERE len(toks) >= 3
)
"""


def _sql_jaccard_tail(threshold: float, candidates: str, as_cte: bool = False) -> str:
    select = f"""SELECT * FROM (
  SELECT doc_a, doc_b,
         round(n_inter / CAST(za.n_sh + zb.n_sh - n_inter AS DOUBLE), 6) AS jaccard
  FROM inter
  JOIN sizes za ON doc_a = za.doc_id
  JOIN sizes zb ON doc_b = zb.doc_id
)
WHERE jaccard >= {threshold}"""
    ctes = f"""
sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  {candidates}
  GROUP BY 1, 2
)"""
    if as_cte:
        return ctes + ", pairs AS (\n" + select + "\n)"
    return ctes + "\n" + select + "\n"


def _sql_minhash(as_cte: bool = False) -> str:
    from modelardb_spark.operators.dedup import BANDS, ROWS_PER_BAND

    k = BANDS * ROWS_PER_BAND
    mins = ", ".join(
        f"MIN(md5(shingle || '#{i}')) AS mh{i}" for i in range(k)
    )
    bands = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, md5(concat_ws('|', {cols})) AS band_hash FROM mins".format(
            b=b,
            cols=", ".join(f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)),
        )
        for b in range(BANDS)
    )
    return (
        "WITH "
        + _SQL_SHINGLES
        + f""",
mins AS (
  SELECT doc_id, {mins} FROM sh GROUP BY doc_id
), bands AS (
{bands}
), cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id
),
"""
        + _sql_jaccard_tail(
            0.35,
            "JOIN cand ON cand.doc_a = a.doc_id AND cand.doc_b = b.doc_id",
            as_cte=as_cte,
        )
    )


def _sql_dedup_clusters() -> str:
    """Connected components over the minhash-LSH pairs: a recursive
    CTE propagates every reachable label, MIN per node is the
    component minimum (the same fixed point duplicate_clusters reaches
    via pointer-jumped min-label propagation)."""
    return (
        _sql_minhash(as_cte=True).replace("WITH ", "WITH RECURSIVE ", 1)
        + """,
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
), reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
), cc AS (
  SELECT node AS doc_id, MIN(label) AS cluster_rep FROM reach GROUP BY node
), cs AS (
  SELECT cluster_rep, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM cc GROUP BY 1
)
SELECT cc.doc_id, cc.cluster_rep, cs.cluster_size
FROM cc JOIN cs USING (cluster_rep)
"""
    )


_SQL_SIMHASH = (
    "WITH "
    + f"""
norm_docs AS (
  SELECT doc_id, {_SQL_NORM} AS norm FROM documents
),
tok AS (
  SELECT doc_id, unnest(string_split(norm, ' ')) AS tok FROM norm_docs
), h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 25, 8))::BIGINT AS h FROM tok
), votes AS (
  SELECT doc_id, g.bit,
         SUM(CASE WHEN (h >> g.bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM h, LATERAL (SELECT unnest(generate_series(0, 31)) AS bit) g
  GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(CASE WHEN vote > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT)
         AS simhash
FROM votes GROUP BY 1
"""
)

_SQL_EMB_BASE = """
base AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
  FROM embeddings
)
"""

_SQL_COSINE = (
    "round(list_sum(list_transform(list_zip(q.embedding, n.embedding),"
    " t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE))) / (q.norm * n.norm), 6)"
)


#: shared sessionization CTE (timeops.sessionize semantics: 1-based
#: running sum of >gap breaks per conversation; duplicate-ts ties are
#: gap 0, so the assignment is engine-order independent)
_SQL_SESSIONS = """
WITH ev_s AS (
  SELECT CAST(user_id AS VARCHAR) AS conv_id, epoch_ms(ts) AS ts_ms FROM events
), g AS (
  SELECT conv_id, ts_ms,
         CASE WHEN LAG(ts_ms) OVER w IS NULL
                   OR ts_ms - LAG(ts_ms) OVER w > 1800000
              THEN 1 ELSE 0 END AS brk
  FROM ev_s WINDOW w AS (PARTITION BY conv_id ORDER BY ts_ms)
), sessions AS (
  SELECT conv_id, ts_ms,
         CAST(SUM(brk) OVER (PARTITION BY conv_id ORDER BY ts_ms
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM g
)
"""


def _sql_ivf_trained_cents(n_cells: int, iters: int, quant: int = 1000) -> str:
    """CTE chain reproducing `similarity.ivf_train` in DuckDB: md5
    seeds as iteration 0, then `iters` unrolled Lloyd rounds of
    (round-6 cosine argmin assignment -> per-cell FIXED-POINT mean).
    The fixed-point sums (floor(x*quant + 0.5) as BIGINT) are exact
    integers, so both engines compute identical centroids regardless
    of aggregation order; empty cells keep their previous centroid.
    Emits the final `cents(cell, cemb, cnorm)`."""
    parts = [
        f"""
cents0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cell,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cemb
  FROM (SELECT * FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_cells})
)"""
    ]
    for c in range(1, iters + 1):
        p = c - 1
        parts.append(
            f"""
centsn{p} AS (
  SELECT cell, cemb,
         sqrt(list_sum(list_transform(cemb, x -> x * x))) AS cnorm
  FROM cents{p}
), sc{c} AS (
  SELECT b.vec_id, c.cell,
         round(list_sum(list_transform(list_zip(b.embedding, c.cemb),
               t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))
               / (b.norm * c.cnorm), 6) AS csim
  FROM base b CROSS JOIN centsn{p} c
), as{c} AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
    FROM sc{c}
  ) WHERE rn = 1
), sums{c} AS (
  SELECT a.cell, d.idx,
         SUM(CAST(floor(CAST(e.embedding[d.idx] AS DOUBLE) * {quant} + 0.5)
                  AS BIGINT)) AS s,
         COUNT(*) AS cnt
  FROM as{c} a
  JOIN embeddings e USING (vec_id),
  LATERAL (SELECT UNNEST(generate_series(1, len(e.embedding))) AS idx) d
  GROUP BY 1, 2
), cents{c} AS (
  SELECT p.cell, COALESCE(n.cemb, p.cemb) AS cemb
  FROM cents{p} p LEFT JOIN (
    SELECT cell, list((CAST(s AS DOUBLE) / {quant}.0) / cnt ORDER BY idx) AS cemb
    FROM sums{c} GROUP BY cell
  ) n USING (cell)
)"""
        )
    parts.append(
        f"""
cents AS (
  SELECT cell, cemb,
         sqrt(list_sum(list_transform(cemb, x -> x * x))) AS cnorm
  FROM cents{iters}
)"""
    )
    return ",".join(parts)


def _sql_lsh_sigs(bits: int, tables: int, seed: int) -> str:
    """DuckDB CTEs reproducing `similarity.hyperplanes` +
    `similarity.lsh_buckets_multi`: plane component (i, j) of table t
    is md5(f"{seed + 7919*t}:{i}:{j}")[:8] as a signed unit double;
    the projection here is a strict left-to-right fold (list_reduce)
    while Spark computes a BLAS matmul — the summation ORDERS differ,
    but the sign (i.e. the bucket) agrees because every projection's
    magnitude is >= ~1e-5 on the fixtures versus ~1e-13 cross-order
    float error (pinned by
    tests/test_traindata_ops.py::test_lsh_projection_sign_margin, and
    the Spark queries assert the fixture dim matches this SQL)."""
    return f"""
planes AS (
  SELECT t.tbl, i.i,
         list_transform(generate_series(0, 63),
           j -> ('0x' || substr(md5(CAST({seed} + 7919 * t.tbl AS VARCHAR)
                                    || ':' || CAST(i.i AS VARCHAR)
                                    || ':' || CAST(j AS VARCHAR)), 1, 8))::BIGINT
                / 4294967295.0 - 0.5) AS plane
  FROM (SELECT unnest(generate_series(0, {tables - 1})) AS tbl) t,
       (SELECT unnest(generate_series(0, {bits - 1})) AS i) i
), sigs AS (
  SELECT e.vec_id, p.tbl,
         CAST(SUM(CASE WHEN list_reduce(
                list_transform(list_zip(e.embedding, p.plane),
                               t -> CAST(t[1] AS DOUBLE) * t[2]),
                (a, b) -> a + b) > 0
              THEN (1::BIGINT << p.i) ELSE 0 END) AS BIGINT) AS bucket
  FROM embeddings e CROSS JOIN planes p
  GROUP BY e.vec_id, p.tbl
)
"""


_SHIPPED_SESSIONS: set[int] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make modelardb_spark importable on executor Python workers even
    when the caller's session was built without this repo on
    PYTHONPATH / cwd: zip the package once and addPyFile it."""
    key = id(spark.sparkContext)
    if key in _SHIPPED_SESSIONS:
        return
    import os
    import shutil
    import tempfile

    pkg_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "modelardb_spark")
    if os.path.isdir(pkg_dir):
        base = os.path.join(tempfile.gettempdir(), "modelardb_spark_pkg")
        zip_path = shutil.make_archive(base, "zip", os.path.dirname(pkg_dir), "modelardb_spark")
        spark.sparkContext.addPyFile(zip_path)
    _SHIPPED_SESSIONS.add(key)


def _utc(fn: Callable[[SparkSession, str], DataFrame]):
    """The engine's epoch-millis arithmetic is timezone-independent,
    but TIMESTAMP_NTZ -> TIMESTAMP casts interpret naive values in the
    session time zone — pin it to UTC regardless of how the caller's
    session was built (runtime-settable conf). Also ships the package
    to executors (addPyFile) for cwd-independent imports."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        _ship_package(spark)
        return fn(spark, sf_dir)

    return wrapped


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: full pipeline to the
    1h rollup tier."""
    return _utc(_q_rollup_1h)(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        name: _utc(fn)
        for name, fn in _RAW_QUERIES.items()
    }


_RAW_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "transcripts": _q_transcripts,
        "series_points": _q_series,
        "gap_fill": _q_gap_fill,
        "rollup_1m": _q_rollup_1m,
        "rollup_1h": _q_rollup_1h,
        "rollup_1d": _q_rollup_1d,
        "data_points_grid": _q_data_points,
        "segment_aggregates": _q_segment_aggregates,
        "busiest_hours": _q_busiest_hours,
        "pricing_summary": _q_pricing_summary,
        "top_unshipped_orders": _q_top_unshipped_orders,
        "hour_of_day_cube": _q_hour_of_day_cube,
        "dedup_clusters": _q_dedup_clusters,
        "lossy_bound_violations": _q_lossy_bound_violations,
        "windowed_rollup": _q_windowed_rollup,
        "tiered_rollup": _q_tiered_rollup,
        "derived_series": _q_derived_series,
        "derived_rollup_1h": _q_derived_rollup_1h,
        "scaled_series": _q_scaled_series,
        "rollup_1h_lossy": _q_rollup_1h_lossy,
        "compression_stats": _q_compression_stats,
        "dim_filtered_rollup": _q_dim_filtered_rollup,
        "sql_surface_agg": _q_sql_surface_agg,
        "sql_surface_restrict": _q_sql_surface_restrict,
        "data_points_restricted": _q_data_points_restricted,
        # multi-series group compression
        "group_rollup_1h": _q_group_rollup_1h,
        "group_data_points": _q_group_data_points,
        "adaptive_rollup_1h": _q_adaptive_rollup_1h,
        "dynamic_group_rollup_1h": _q_dynamic_group_rollup_1h,
        "ratio_routed_rollup_1h": _q_ratio_routed_rollup_1h,
        "dim_group_rollup_1h": _q_dim_group_rollup_1h,
        "group_compression_stats": _q_group_compression_stats,
        # training-data pipeline operators
        "token_count": _q_token_count,
        "text_quality": _q_text_quality,
        "language_id": _q_language_id,
        "doc_fingerprint": _q_fingerprint,
        "dedup_exact": _q_dedup_exact,
        "dedup_ngram_jaccard": _q_dedup_ngram,
        "dedup_minhash_lsh": _q_dedup_minhash,
        "simhash_signatures": _q_simhash,
        "embedding_topk": _q_embedding_topk,
        "embedding_near_dup": _q_embedding_near_dup,
        "lsh_topk": _q_lsh_topk,
        "ivf_topk": _q_ivf_topk,
        "ann_recall": _q_ann_recall,
        "multimodal_features": _q_multimodal_features,
        "media_decode": _q_media_decode,
        "asof_last_purchase": _q_asof_last_purchase,
        "session_stats": _q_session_stats,
        "session_lookup": _q_session_lookup,
    }


# ---------------------------------------------------------------------------
# Reference-replay literal oracles — closes the rows-only trio
# (compression_stats / group_compression_stats / rollup_1h_lossy).
#
# The pure-Python replay (tests/reference_oracle.py, faithful to the
# reference's online loop: SegmentGenerator.java:154-268, model sizes
# ModelType.java:49-54) recomputes the engine-defined quantities — model
# byte lengths and lossy reconstructions — independently of Spark, and the
# results are inlined as literals in the DuckDB oracle SQL. All inlined
# floats are EXACT cross-engine: stored_bytes/segments/cnt are integers,
# vmin/vmax are float32 values, vsum sums are exact in float64 (Gorilla is
# lossless on the integer count series; PMC partials are short-mantissa
# products), and compression_ratio mirrors Spark's HALF_UP ROUND via
# decimal arithmetic. Swing segments would break vsum exactness (trapezoid
# doubles), so the generator asserts none appear at the oracle scale.
# ---------------------------------------------------------------------------

#: scale the driver's side-by-side correctness gate runs at; the literal
#: oracles are generated for exactly this input
_ORACLE_SF_DIR = "/root/testdata/sf0.01"

_replay_sql_cache: dict[str, dict[str, str]] = {}


def _spark_round6(x: float) -> float:
    """Spark's ROUND(double, 6): exact decimal HALF_UP on the shortest
    round-trip representation (BigDecimal.valueOf semantics)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _replay_decode(mtid: int, model: bytes, n: int):
    """Per-bin reconstruction of one replayed segment (float32)."""
    import numpy as np

    from modelardb_spark.models.gorilla import gorilla_decompress
    from modelardb_spark.models.pmc_mean import pmc_value
    from modelardb_spark.models.uncompressed import raw_decode

    if mtid == 2:
        return np.full(n, np.float32(pmc_value(model)), dtype=np.float32)
    if mtid == 4:
        return gorilla_decompress(model, n)
    if mtid == 1:
        return raw_decode(model)[:n]
    raise AssertionError(
        f"mtid {mtid} at the oracle scale: Swing trapezoid sums are not "
        "exactly mirrorable — regenerate the literal oracle design"
    )


def _replay_literal_sqls(sf_dir: str = _ORACLE_SF_DIR) -> dict[str, str]:
    """DuckDB derives the series, the pure-Python replay fits them, and
    the engine-defined outputs come back as literal-backed oracle SQL."""
    if sf_dir in _replay_sql_cache:
        return _replay_sql_cache[sf_dir]
    import os
    import sys

    import duckdb
    import numpy as np

    try:
        from tests.reference_oracle import oracle_fit_group_run, oracle_fit_run
    except ImportError:  # driver cwd may differ from the repo root
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from tests.reference_oracle import oracle_fit_group_run, oracle_fit_run

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    rows = con.execute(
        "WITH "
        + _SQL_TRANSCRIPTS
        + """
SELECT conv_id, (epoch_ms(ts) // 60000) * 60000 AS bin_ms,
       COUNT(*) AS turn_rate, COUNT(tool) AS tool_usage
FROM transcripts GROUP BY 1, 2 ORDER BY conv_id, bin_ms
"""
    ).fetchall()
    con.close()

    day_ms, interval_ms, hour_ms = 86_400_000, 60_000, 3_600_000
    per_conv: dict[str, list] = {}
    for conv, bin_ms, tr, tu in rows:
        per_conv.setdefault(conv, []).append((int(bin_ms), float(tr), float(tu)))

    comp: dict[tuple, list] = {}          # (conv, metric) -> [segments, stored]
    grp: dict[str, list] = {}             # conv -> [segments, points, stored]
    lossy: dict[tuple, list] = {}         # (conv, metric, win) -> [cnt,min,max,sum]

    for conv, triples in per_conv.items():
        bins = np.array([t[0] for t in triples], dtype=np.int64)
        vals = {
            "turn_rate": np.array([t[1] for t in triples], dtype=np.float32),
            "tool_usage": np.array([t[2] for t in triples], dtype=np.float32),
        }
        # fit-unit split: salt-day boundary or bin gap (> one interval) —
        # the same run protocol as operators/fit.py::_fit_sorted_block
        brk = np.zeros(bins.size, dtype=bool)
        brk[1:] = ((bins[1:] // day_ms) != (bins[:-1] // day_ms)) | (
            (bins[1:] - bins[:-1]) > interval_ms
        )
        bounds = [0, *np.flatnonzero(brk).tolist(), bins.size]
        for s, e in zip(bounds[:-1], bounds[1:]):
            if s == e:
                continue
            run_t = bins[s:e]
            for metric in ("turn_rate", "tool_usage"):
                run_v = vals[metric][s:e]
                # lossless per-series fit -> compression accounting
                c = comp.setdefault((conv, metric), [0, 0])
                for _s, _e, _m, model, _n in oracle_fit_run(run_t, run_v, 0.0, 50):
                    c[0] += 1
                    c[1] += 24 + len(model)
                # 5%-bound per-series fit -> lossy 1h rollup
                for st, _en, m, model, n in oracle_fit_run(run_t, run_v, 5.0, 50):
                    dec = _replay_decode(m, model, n)
                    for i in range(n):
                        b = st + i * interval_ms
                        w = (b // hour_ms) * hour_ms
                        v = float(dec[i])
                        cell = lossy.setdefault(
                            (conv, metric, w), [0, v, v, 0.0]
                        )
                        cell[0] += 1
                        cell[1] = min(cell[1], v)
                        cell[2] = max(cell[2], v)
                        cell[3] += v
            # lossless GROUP fit (interleave order = metrics order)
            v2d = np.column_stack([vals["turn_rate"][s:e], vals["tool_usage"][s:e]])
            g = grp.setdefault(conv, [0, 0, 0])
            for _s, _e, _m, model, n in oracle_fit_group_run(run_t, v2d, 0.0, 50):
                g[0] += 1
                g[1] += n
                g[2] += 24 + len(model)

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    # points per (conv, metric) == that conversation's bin count (both
    # metrics are defined on every bin)
    comp_vals = ",\n".join(
        f"({q(c)},{q(m)},{v[0]},{v[1]},"
        f"{_spark_round6(16.0 * len(per_conv[c]) / v[1])!r})"
        for (c, m), v in sorted(comp.items())
    )
    grp_vals = ",\n".join(
        f"({q(c)},{v[0]},{v[1]},{v[2]},{_spark_round6(16.0 * v[1] / v[2])!r})"
        for c, v in sorted(grp.items())
    )
    lossy_vals = ",\n".join(
        f"({q(c)},{q(m)},{w},{cell[0]},{cell[1]!r},{cell[2]!r},"
        f"{cell[3]!r},{cell[3] / cell[0]!r})"
        for (c, m, w), cell in sorted(lossy.items())
    )

    sqls = {
        # points comes from SQL (independent count over the derived
        # series); segments / stored_bytes / ratio are replay literals
        "compression_stats": (
            "WITH "
            + _SQL_SERIES
            + f""",
replay(conv_id, metric, segments, stored_bytes, compression_ratio) AS (
  VALUES {comp_vals}
),
pts AS (SELECT conv_id, metric, COUNT(*) AS points FROM series GROUP BY 1, 2)
SELECT r.conv_id, r.metric,
       CAST(r.segments AS BIGINT) AS segments,
       CAST(p.points AS BIGINT) AS points,
       CAST(r.stored_bytes AS BIGINT) AS stored_bytes,
       CAST(r.compression_ratio AS DOUBLE) AS compression_ratio
FROM replay r JOIN pts p ON r.conv_id = p.conv_id AND r.metric = p.metric
"""
        ),
        "group_compression_stats": (
            "WITH "
            + _SQL_SERIES
            + f""",
replay(conv_id, segments, points, stored_bytes, compression_ratio) AS (
  VALUES {grp_vals}
),
pts AS (SELECT conv_id, COUNT(*) AS sql_points FROM series GROUP BY 1)
SELECT r.conv_id,
       CAST(r.segments AS BIGINT) AS segments,
       CAST(r.points AS BIGINT) AS points,
       CAST(r.stored_bytes AS BIGINT) AS stored_bytes,
       CAST(r.compression_ratio AS DOUBLE) AS compression_ratio
FROM replay r JOIN pts p ON r.conv_id = p.conv_id AND r.points = p.sql_points
"""
        ),
        "rollup_1h_lossy": (
            f"""
SELECT CAST(conv_id AS VARCHAR) AS conv_id,
       CAST(metric AS VARCHAR) AS metric,
       CAST(window_ms AS BIGINT) AS window_ms,
       CAST(cnt AS BIGINT) AS cnt,
       CAST(vmin AS DOUBLE) AS vmin,
       CAST(vmax AS DOUBLE) AS vmax,
       CAST(vsum AS DOUBLE) AS vsum,
       CAST(mean AS DOUBLE) AS mean
FROM (VALUES {lossy_vals})
  AS t(conv_id, metric, window_ms, cnt, vmin, vmax, vsum, mean)
"""
        ),
    }
    _replay_sql_cache[sf_dir] = sqls
    return sqls


def oracle_sql() -> dict[str, str]:
    return {
        "transcripts": (
            "WITH "
            + _SQL_TRANSCRIPTS
            + "SELECT conv_id, turn_idx, role, text, tool, epoch_ms(ts) AS ts_ms"
            " FROM transcripts"
        ),
        "series_points": (
            "WITH " + _SQL_SERIES + "SELECT conv_id, metric, bin_ms, value FROM series"
        ),
        "gap_fill": (
            "WITH "
            + _SQL_SERIES
            + """,
nxt AS (
  SELECT conv_id, metric, bin_ms, value,
         LEAD(bin_ms) OVER (PARTITION BY conv_id, metric ORDER BY bin_ms) AS next_ms
  FROM series
)
SELECT conv_id, metric, bin_ms, value FROM series
UNION ALL
SELECT n.conv_id, n.metric, g.bin_ms, CAST(0.0 AS FLOAT) AS value
FROM nxt n, LATERAL (
  SELECT UNNEST(generate_series(n.bin_ms + 60000, n.next_ms - 60000, 60000)) AS bin_ms
) g
WHERE n.next_ms IS NOT NULL
  AND n.next_ms - n.bin_ms > 60000
  AND n.next_ms - n.bin_ms <= 6 * 60000
"""
        ),
        "rollup_1m": _sql_raw_rollup(MINUTE_MS),
        "rollup_1h": _sql_raw_rollup(HOUR_MS),
        "rollup_1d": _sql_raw_rollup(DAY_MS),
        "group_rollup_1h": _sql_raw_rollup(HOUR_MS),
        "adaptive_rollup_1h": _sql_raw_rollup(HOUR_MS),
        "dynamic_group_rollup_1h": _sql_raw_rollup(HOUR_MS),
        "ratio_routed_rollup_1h": _sql_raw_rollup(HOUR_MS),
        "dim_group_rollup_1h": _sql_raw_rollup(HOUR_MS),
        "sql_surface_agg": (
            "WITH "
            + _SQL_SERIES
            + """
SELECT conv_id, metric,
       COUNT(*) AS cnt,
       CAST(MIN(value) AS DOUBLE) AS vmin,
       CAST(MAX(value) AS DOUBLE) AS vmax,
       SUM(CAST(value AS DOUBLE)) AS vsum,
       SUM(CAST(value AS DOUBLE)) / COUNT(*) AS mean
FROM series
GROUP BY 1, 2
"""
        ),
        "sql_surface_restrict": (
            "WITH "
            + _SQL_SERIES
            + f"""
SELECT conv_id, metric, COUNT(*) AS cnt
FROM series
WHERE bin_ms >= {_SQL_LO} AND bin_ms <= {_SQL_HI}
GROUP BY 1, 2
"""
        ),
        "dim_filtered_rollup": (
            "WITH "
            + _SQL_SERIES
            + """,
dims AS (
  SELECT conv_id,
         CASE (('0x' || substr(md5(conv_id), 1, 1))::BIGINT % 4)
           WHEN 0 THEN 'web' WHEN 1 THEN 'mobile'
           WHEN 2 THEN 'api' ELSE 'sdk' END AS channel
  FROM (SELECT DISTINCT conv_id FROM series)
)
SELECT s.conv_id, s.metric,
       (s.bin_ms // 3600000) * 3600000 AS window_ms,
       COUNT(*) AS cnt,
       CAST(MIN(s.value) AS DOUBLE) AS vmin,
       CAST(MAX(s.value) AS DOUBLE) AS vmax,
       SUM(CAST(s.value AS DOUBLE)) AS vsum,
       SUM(CAST(s.value AS DOUBLE)) / COUNT(*) AS mean,
       d.channel
FROM series s JOIN dims d USING (conv_id)
WHERE d.channel = 'web'
GROUP BY s.conv_id, s.metric, 3, d.channel
"""
        ),
        "group_data_points": (
            "WITH " + _SQL_SERIES + "SELECT conv_id, metric, bin_ms, value FROM series"
        ),
        "data_points_grid": (
            "WITH " + _SQL_SERIES + "SELECT conv_id, metric, bin_ms, value FROM series"
        ),
        "data_points_restricted": (
            "WITH "
            + _SQL_SERIES
            + f"""
SELECT conv_id, metric, bin_ms, value FROM series
WHERE bin_ms >= {_SQL_LO} AND bin_ms <= {_SQL_HI}
"""
        ),
        "segment_aggregates": (
            "WITH "
            + _SQL_SERIES
            + """
SELECT conv_id, metric,
       COUNT(*) AS cnt,
       CAST(MIN(value) AS DOUBLE) AS vmin,
       CAST(MAX(value) AS DOUBLE) AS vmax,
       SUM(CAST(value AS DOUBLE)) AS vsum,
       SUM(CAST(value AS DOUBLE)) / COUNT(*) AS mean
FROM series
GROUP BY 1, 2
"""
        ),
        "busiest_hours": (
            "WITH "
            + _SQL_SERIES
            + """
SELECT (bin_ms // 3600000) * 3600000 AS window_ms,
       CAST(SUM(CAST(value AS BIGINT)) AS BIGINT) AS turns,
       COUNT(DISTINCT conv_id) AS convs
FROM series
WHERE metric = 'turn_rate'
GROUP BY 1
ORDER BY turns DESC, window_ms
LIMIT 20
"""
        ),
        "hour_of_day_cube": (
            "WITH "
            + _SQL_SERIES
            + """
SELECT conv_id, metric,
       CAST(hour(to_timestamp(((bin_ms // 3600000) * 3600000) / 1000)) AS INTEGER)
         AS field,
       COUNT(*) AS cnt,
       CAST(MIN(value) AS DOUBLE) AS vmin,
       CAST(MAX(value) AS DOUBLE) AS vmax,
       SUM(CAST(value AS DOUBLE)) AS vsum,
       SUM(CAST(value AS DOUBLE)) / COUNT(*) AS mean
FROM series
GROUP BY 1, 2, 3
"""
        ),
        "dedup_clusters": _sql_dedup_clusters(),
        "tiered_rollup": (
            "WITH "
            + _SQL_SERIES
            + _sql_tier_select(
                MINUTE_MS, "rollup_1m", _RET_NOW_MS // DAY_MS - _RET_WARM_DAYS
            )
            + "UNION ALL"
            + _sql_tier_select(
                HOUR_MS, "rollup_1h", _RET_NOW_MS // DAY_MS - _RET_WARM_DAYS
            )
            + "UNION ALL"
            + _sql_tier_select(DAY_MS, "rollup_1d", None)
        ),
        "lossy_bound_violations": """
SELECT CAST(NULL AS VARCHAR) AS conv_id,
       CAST(NULL AS VARCHAR) AS metric,
       CAST(NULL AS BIGINT) AS bin_ms,
       CAST(NULL AS DOUBLE) AS real_value,
       CAST(NULL AS DOUBLE) AS approx_value,
       CAST(NULL AS DOUBLE) AS pct_err
WHERE 1 = 0
""",
        "windowed_rollup": (
            "WITH "
            + _SQL_SERIES
            + """
SELECT conv_id, metric,
       (bin_ms // 3600000) * 3600000 AS window_ms,
       COUNT(*) AS cnt,
       CAST(MIN(value) AS DOUBLE) AS vmin,
       CAST(MAX(value) AS DOUBLE) AS vmax,
       SUM(CAST(value AS DOUBLE)) AS vsum,
       SUM(CAST(value AS DOUBLE)) / COUNT(*) AS mean
FROM series
WHERE bin_ms >= 1704672000000 AND bin_ms <= 1705276799999
GROUP BY 1, 2, 3
"""
        ),
        "pricing_summary": """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
        "top_unshipped_orders": """
SELECT o.o_orderkey,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < DATE '1995-03-15'
  AND l.l_shipdate > DATE '1995-03-15'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o.o_orderkey
LIMIT 10
""",
        "derived_series": (
            "WITH "
            + _SQL_SERIES
            + """
SELECT conv_id, metric, bin_ms, value FROM series
UNION ALL
SELECT conv_id, 'turn_rate_x10' AS metric, bin_ms,
       CAST(CAST(value AS DOUBLE) * 10.0 AS FLOAT) AS value
FROM series WHERE metric = 'turn_rate'
"""
        ),
        "derived_rollup_1h": (
            "WITH "
            + _SQL_SERIES
            + """
SELECT conv_id, 'turn_rate_x10' AS metric,
       (bin_ms // 3600000) * 3600000 AS window_ms,
       COUNT(*) AS cnt,
       CAST(MIN(value) AS DOUBLE) * 10.0 AS vmin,
       CAST(MAX(value) AS DOUBLE) * 10.0 AS vmax,
       SUM(CAST(value AS DOUBLE)) * 10.0 AS vsum,
       (SUM(CAST(value AS DOUBLE)) / COUNT(*)) * 10.0 AS mean
FROM series
WHERE metric = 'turn_rate'
GROUP BY 1, 2, 3
"""
        ),
        "scaled_series": (
            "WITH "
            + _SQL_SERIES
            + """
SELECT ('0x' || substr(md5(conv_id || ':' || metric), 1, 15))::BIGINT AS tid,
       conv_id, metric, bin_ms,
       CAST(CAST(value AS DOUBLE)
            * (1.0 + (('0x' || substr(md5(conv_id || ':' || metric), 16, 1))::BIGINT
                      % 3) * 0.25) AS FLOAT) AS value
FROM series
"""
        ),
        "token_count": """
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE length(text) - length(replace(text, ' ', '')) + 1 END AS n_tokens,
       CAST(ceil(length(replace(text, ' ', '')) / 4.0) AS BIGINT) AS n_subword_est,
       length(text) AS n_chars
FROM documents
""",
        "text_quality": _sql_quality(),
        "language_id": _sql_language_id(),
        "doc_fingerprint": f"""
SELECT doc_id, md5(norm) AS fingerprint, length(norm) AS norm_len
FROM (SELECT doc_id, {_SQL_NORM} AS norm FROM documents)
""",
        "dedup_exact": f"""
WITH fp AS (
  SELECT doc_id, md5({_SQL_NORM}) AS fingerprint FROM documents
), g AS (
  SELECT fingerprint, MIN(doc_id) AS canonical_doc_id, COUNT(*) AS group_size
  FROM fp GROUP BY 1
)
SELECT f.doc_id, g.canonical_doc_id, g.group_size
FROM fp f JOIN g USING (fingerprint)
""",
        "dedup_ngram_jaccard": (
            "WITH " + _SQL_SHINGLES + "," + _sql_jaccard_tail(0.35, "")
        ),
        "dedup_minhash_lsh": _sql_minhash(),
        "simhash_signatures": _SQL_SIMHASH,
        "embedding_topk": (
            "WITH "
            + _SQL_EMB_BASE
            + f""",
pairs AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         {_SQL_COSINE} AS cosine
  FROM base q JOIN base n ON n.vec_id != q.vec_id
  WHERE q.vec_id < 20
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM pairs
) WHERE rank <= 5
"""
        ),
        "embedding_near_dup": (
            "WITH "
            + _SQL_EMB_BASE
            + ", "
            + _sql_lsh_sigs(_ND_BITS, _ND_TABLES, _LSH_SEED)
            + f""",
cand AS (
  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
  FROM sigs x JOIN sigs y
    ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id
)
SELECT * FROM (
  SELECT c.vec_a, c.vec_b, {_SQL_COSINE} AS cosine
  FROM cand c
  JOIN base q ON q.vec_id = c.vec_a
  JOIN base n ON n.vec_id = c.vec_b
) WHERE cosine >= {_ND_THRESH}
"""
        ),
        "lsh_topk": (
            "WITH "
            + _SQL_EMB_BASE
            + ", "
            + _sql_lsh_sigs(_TOPK_BITS, 1, _LSH_SEED)
            + f""",
pairs AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, {_SQL_COSINE} AS cosine
  FROM base q
  JOIN sigs sq ON sq.vec_id = q.vec_id
  JOIN sigs sn ON sn.bucket = sq.bucket AND sn.tbl = sq.tbl
  JOIN base n ON n.vec_id = sn.vec_id AND n.vec_id != q.vec_id
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM pairs
) WHERE rank <= {_TOPK_K}
"""
        ),
        "ivf_topk": (
            "WITH "
            + _SQL_EMB_BASE
            + ","
            + _sql_ivf_trained_cents(_IVF_CELLS, _IVF_ITERS)
            + f""", scored_cells AS (
  SELECT b.vec_id, c.cell,
         round(list_sum(list_transform(list_zip(b.embedding, c.cemb),
               t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))
               / (b.norm * c.cnorm), 6) AS csim
  FROM base b CROSS JOIN cents c
), assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
    FROM scored_cells
  ) WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
    FROM scored_cells WHERE vec_id < 20
  ) WHERE rn <= {_IVF_PROBE}
), cand AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assign a USING (cell)
  WHERE a.vec_id != p.query_id
), pairs AS (
  SELECT c.query_id, c.neighbor_id, {_SQL_COSINE} AS cosine
  FROM cand c
  JOIN base q ON q.vec_id = c.query_id
  JOIN base n ON n.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM pairs
) WHERE rank <= 5
"""
        ),
        "ann_recall": (
            "WITH "
            + _SQL_EMB_BASE
            + ", "
            + _sql_lsh_sigs(_TOPK_BITS, 1, _LSH_SEED)
            + ","
            # second signature family for the near-dup method (its own
            # bits/tables); CTE names uniquified
            + _sql_lsh_sigs(_ND_BITS, _ND_TABLES, _LSH_SEED)
            .replace("planes", "nd_planes")
            .replace("sigs", "nd_sigs")
            + ","
            # third family: the multi-table top-k (recall lever)
            + _sql_lsh_sigs(_TOPK_BITS, _MULTI_TABLES, _LSH_SEED)
            .replace("planes", "lm_planes")
            .replace("sigs", "lm_sigs")
            + ","
            + _sql_ivf_trained_cents(_IVF_CELLS, _IVF_ITERS)
            + f""", exact_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.*, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             {_SQL_COSINE} AS cosine
      FROM base q JOIN base n ON n.vec_id != q.vec_id
      WHERE q.vec_id < 20
    ) p
  ) WHERE rank <= 5
), lsh_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.*, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             {_SQL_COSINE} AS cosine
      FROM base q
      JOIN sigs sq ON sq.vec_id = q.vec_id
      JOIN sigs sn ON sn.bucket = sq.bucket AND sn.tbl = sq.tbl
      JOIN base n ON n.vec_id = sn.vec_id AND n.vec_id != q.vec_id
    ) p
  ) WHERE rank <= {_TOPK_K}
), ivf_sc AS (
  SELECT b.vec_id, c.cell,
         round(list_sum(list_transform(list_zip(b.embedding, c.cemb),
               t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))
               / (b.norm * c.cnorm), 6) AS csim
  FROM base b CROSS JOIN cents c
), ivf_assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
    FROM ivf_sc
  ) WHERE rn = 1
), ivf_probes AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
    FROM ivf_sc WHERE vec_id < 20
  ) WHERE rn <= {_IVF_PROBE}
), ivf_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.*, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM (
      SELECT c.query_id, c.neighbor_id, {_SQL_COSINE} AS cosine
      FROM (
        SELECT DISTINCT pr.query_id, a.vec_id AS neighbor_id
        FROM ivf_probes pr JOIN ivf_assign a USING (cell)
        WHERE a.vec_id != pr.query_id
      ) c
      JOIN base q ON q.vec_id = c.query_id
      JOIN base n ON n.vec_id = c.neighbor_id
    ) p
  ) WHERE rank <= 5
), lm_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.*, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM (
      SELECT c.query_id, c.neighbor_id, {_SQL_COSINE} AS cosine
      FROM (
        SELECT DISTINCT sq.vec_id AS query_id, sn.vec_id AS neighbor_id
        FROM lm_sigs sq
        JOIN lm_sigs sn ON sn.bucket = sq.bucket AND sn.tbl = sq.tbl
        WHERE sq.vec_id < 20 AND sn.vec_id != sq.vec_id
      ) c
      JOIN base q ON q.vec_id = c.query_id
      JOIN base n ON n.vec_id = c.neighbor_id
    ) p
  ) WHERE rank <= 5
), approx AS (
  SELECT 'lsh' AS method, query_id, neighbor_id FROM lsh_top WHERE query_id < 20
  UNION ALL
  SELECT 'ivf' AS method, query_id, neighbor_id FROM ivf_top
  UNION ALL
  SELECT 'lsh_multi' AS method, query_id, neighbor_id FROM lm_top
), tot AS (SELECT COUNT(*) AS total FROM exact_top
), nd AS (
  SELECT DISTINCT q.vec_id AS vec_a, n.vec_id AS vec_b
  FROM base q
  JOIN nd_sigs sq ON sq.vec_id = q.vec_id
  JOIN nd_sigs sn ON sn.bucket = sq.bucket AND sn.tbl = sq.tbl
  JOIN base n ON n.vec_id = sn.vec_id AND q.vec_id < n.vec_id
  WHERE {_SQL_COSINE} >= {_ND_THRESH}
), bf AS (
  SELECT q.vec_id AS vec_a, n.vec_id AS vec_b
  FROM base q JOIN base n ON q.vec_id < n.vec_id
  WHERE {_SQL_COSINE} >= {_ND_THRESH}
), res AS (
  SELECT m.method,
         CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
         CAST(t.total AS BIGINT) AS total
  FROM (VALUES ('lsh'), ('ivf'), ('lsh_multi')) m(method)
  LEFT JOIN (
    SELECT method, COUNT(*) AS hits
    FROM approx a JOIN exact_top e USING (query_id, neighbor_id)
    GROUP BY 1
  ) h USING (method)
  CROSS JOIN tot t
  UNION ALL
  SELECT 'lsh_near_dup',
         (SELECT COUNT(*) FROM nd),
         (SELECT COUNT(*) FROM bf)
)
SELECT method, hits, total, CAST(hits AS DOUBLE) / total AS recall FROM res
"""
        ),
        "multimodal_features": """
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       octet_length(encode(text)) AS n_bytes,
       substr(sha256(text), 1, 16) AS sha_prefix
FROM documents
""",
        "media_decode": """
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(CASE doc_id % 3 WHEN 0 THEN doc_id % 48 + 8
                            WHEN 2 THEN doc_id % 8 + 4 ELSE -1 END AS BIGINT) AS width,
       CAST(CASE doc_id % 3 WHEN 0 THEN doc_id % 32 + 8
                            WHEN 2 THEN doc_id % 6 + 4 ELSE -1 END AS BIGINT) AS height,
       CAST(CASE WHEN doc_id % 3 = 1 THEN 8000 ELSE -1 END AS BIGINT) AS sample_rate,
       CAST(CASE WHEN doc_id % 3 = 1 THEN octet_length(encode(text)) ELSE -1 END AS BIGINT) AS n_samples,
       CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 5 + 1 ELSE -1 END AS BIGINT) AS n_frames,
       CAST(CASE doc_id % 3
            WHEN 1 THEN (octet_length(encode(text)) * 1000) // 8000
            WHEN 2 THEN ((doc_id % 5 + 1) * 1000) // 4
            ELSE -1 END AS BIGINT) AS duration_ms
FROM documents
""",
        "asof_last_purchase": """
WITH ev AS (
  SELECT event_id, CAST(user_id AS VARCHAR) AS conv_id,
         epoch_ms(ts) AS ts_ms, event_type
  FROM events
), p AS (SELECT conv_id, ts_ms AS p_ms FROM ev WHERE event_type = 'purchase')
SELECT CAST(e.event_id AS BIGINT) AS event_id, e.conv_id, e.ts_ms,
       COALESCE(p.p_ms, -1) AS last_purchase_ms
FROM ev e ASOF LEFT JOIN p ON e.conv_id = p.conv_id AND e.ts_ms >= p.p_ms
""",
        "session_stats": _SQL_SESSIONS
        + """
SELECT conv_id, session_idx, MIN(ts_ms) AS start_ms, MAX(ts_ms) AS end_ms,
       COUNT(*) AS n_rows
FROM sessions GROUP BY 1, 2
""",
        "session_lookup": _SQL_SESSIONS
        + """,
ivs AS (
  SELECT conv_id, session_idx, MIN(ts_ms) AS start_ms, MAX(ts_ms) AS end_ms
  FROM sessions GROUP BY 1, 2
)
SELECT CAST(e.event_id AS BIGINT) AS event_id, e.conv_id, e.ts_ms,
       i.session_idx, i.start_ms, i.end_ms
FROM (SELECT event_id, CAST(user_id AS VARCHAR) AS conv_id,
             epoch_ms(ts) AS ts_ms FROM events) e
JOIN ivs i
  ON e.conv_id = i.conv_id AND e.ts_ms BETWEEN i.start_ms AND i.end_ms
""",
    } | _replay_sql_entries()


def _replay_sql_entries() -> dict[str, str]:
    """The reference-replay literal oracles, generated for the driver's
    sf0.01 gate input. Falls back to rows-only checks (empty dict) ONLY
    when the oracle-scale testdata is unavailable in this environment —
    any genuine replay bug (import error, numpy regression, a replay
    assertion, a SQL typo) must propagate, not silently downgrade the
    three replay-oracled queries to rows-only checks."""
    import sys

    import duckdb

    try:
        return _replay_literal_sqls()
    except (FileNotFoundError, duckdb.IOException, duckdb.CatalogException) as e:
        print(
            "__spark_entry__: replay oracles unavailable (missing "
            f"testdata at {_ORACLE_SF_DIR}): {e!r} — "
            "compression_stats/group_compression_stats/rollup_1h_lossy "
            "fall back to rows-only checks",
            file=sys.stderr,
        )
        return {}
