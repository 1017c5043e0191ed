"""Training-data curation job: dedup -> decontaminate -> sample ->
pack, documents parquet in, curated corpus + packing manifest out.

This is the end-to-end surface for the training-data operators — the
job a 100 TB corpus actually runs nightly, submitted like the other
jobs (spark-submit --py-files modelardb_spark.zip -m
modelardb_spark.jobs.curate ...):

0. **Repetition quality gate** (optional `--max-dup-line-frac` /
   `--max-top-word-frac`): Gopher-style degenerate docs are dropped
   by a map-side filter before any dedup compute is spent on them.
1. **Near-dup pairs** (MinHash+LSH, verified Jaccard) and their
   transitive closure (`duplicate_clusters`) give one canonical
   cluster per duplicate family.
2. **Decontamination** (optional `--benchmark`): docs sharing >=
   `--min-shared` k-word shingles with the eval set are dropped —
   the eval-set side broadcasts, the corpus never shuffles for this.
3. **Dedup-aware sampling**: exactly one uniformly-chosen member per
   cluster survives (`--seed` deterministic), carrying cluster_size
   as the loss upweight factor.
4. **Sequence packing**: survivors are packed into `--budget`-token
   training sequences (hash-partitioned best-fit-decreasing).

Output layout:
    <out>/curated/   one row per KEPT doc: doc_id, cluster_rep,
                     cluster_size, n_tokens, seq_id, seq_bin, part,
                     truncated
    <out>/scrubbed/  (with --scrub) kept docs with PII-redacted text
                     plus per-category redaction counts
    <out>/stats.json docs_in, quality_dropped, clusters, contaminated,
                     kept, sequences, fill_ratio, pii_redactions

Every step is deterministic (hash-seeded), so re-running on the same
input reproduces the same curated set bit-for-bit — the property that
makes the job safely re-runnable after a crash (plain overwrite, no
checkpoint needed: unlike ingest there is no per-partition
incremental state, the job is one pure function of its input).
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def curate(
    spark: SparkSession,
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    jaccard_threshold: float = 0.5,
    min_shared: int = 2,
    seed: int = 0,
    budget: int = 2048,
    pack_parts: int | None = None,
    max_dup_line_frac: float | None = None,
    max_top_word_frac: float | None = None,
) -> tuple[DataFrame, dict]:
    """Returns (curated frame, stats dict). The curated frame has one
    row per kept document with its cluster and packing assignment."""
    from modelardb_spark.operators.dedup import (
        decontaminate,
        near_dup_clusters,
        sample_one_per_cluster,
    )
    from modelardb_spark.operators.packing import pack_sequences
    from modelardb_spark.operators.textstats import repetition_filter

    # quality gate FIRST: repetitive/degenerate docs are dropped by a
    # map-side filter before any dedup compute is spent on them (the
    # pre-gate count is only taken when a gate is active — ungated
    # runs keep their single docs scan)
    n_raw = None
    docs0 = docs  # pre-gate frame: consumers that join on keys derived
    # from the gated frame (decontaminate via clusters, the packer via
    # kept) read docs0 so the gate expressions are not re-evaluated in
    # their scans — the join keys already encode the gate
    gated = None
    if max_dup_line_frac is not None or max_top_word_frac is not None:
        n_raw = docs.count()
        # persist the gated frame: near_dup_clusters scans its input
        # several times (eligibility, exact groups, shingles) and the
        # gate expressions are the priciest per-row predicates in the
        # job — evaluate them once, not per scan (MEMORY_AND_DISK by
        # default, so a corpus bigger than RAM spills instead of OOM)
        gated = docs = repetition_filter(
            docs, max_dup_line_frac, max_top_word_frac
        ).persist()

    # exact dups collapse before the LSH (semantics-preserving, see
    # near_dup_clusters), whose shingle/signature frames materialize
    # once (minhash_lsh_pairs)
    clusters = near_dup_clusters(
        docs, jaccard_threshold=jaccard_threshold
    ).localCheckpoint()
    # one row per gated doc, already materialized — the gated-corpus
    # count is free here, where a docs.count() would re-run the gate
    # expressions over the full corpus a second time
    n_in = clusters.count()
    if gated is not None:
        gated.unpersist()  # nothing downstream reads the gated frame

    if benchmark is not None:
        verdicts = decontaminate(docs0, benchmark, min_shared=min_shared)
        clusters = clusters.join(
            verdicts.select("doc_id", "contaminated"), "doc_id"
        ).where(~F.col("contaminated")).drop("contaminated")
        # materialize the survivors once: consumed by the sampler, the
        # packer's semi-join and the stats counts below (the join's
        # decontaminate side scans the corpus — once, not per consumer)
        clusters = clusters.localCheckpoint()
    # sample AFTER decontamination so a cluster whose sampled member
    # was contaminated still survives through another member
    kept = sample_one_per_cluster(clusters, seed=seed)

    packed = pack_sequences(
        docs0.join(kept.select("doc_id"), "doc_id"),
        budget=budget,
        parts=pack_parts,
    )
    curated = kept.join(packed, "doc_id").select(
        "doc_id",
        "cluster_rep",
        "cluster_size",
        "n_tokens",
        "seq_id",
        "seq_bin",
        "part",
        "truncated",
    )
    curated = curated.localCheckpoint()  # one computation for stats + write
    n_clean = clusters.count()  # docs surviving decontamination
    n_kept = curated.count()
    seq = curated.groupBy("seq_id").agg(
        F.sum(F.least(F.col("n_tokens"), F.lit(budget))).alias("t")
    )
    n_seq = seq.count()
    fill = (seq.agg(F.sum("t")).first()[0] or 0) / max(n_seq * budget, 1)
    stats = {
        "docs_in": n_in if n_raw is None else n_raw,
        "quality_dropped": 0 if n_raw is None else n_raw - n_in,
        "contaminated_dropped": n_in - n_clean,
        "duplicates_dropped": n_clean - n_kept,
        # distinct reps on the PRE-sampling frame: the number of
        # duplicate clusters among surviving docs (counting on
        # `curated` — one row per sampled member — was tautologically
        # equal to `kept`)
        "clusters": clusters.select("cluster_rep").distinct().count(),
        "kept": n_kept,
        "sequences": n_seq,
        "fill_ratio": round(fill, 4),
        "budget": budget,
        "seed": seed,
    }
    return curated, stats


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--docs", required=True, help="documents parquet")
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--benchmark", help="eval-set parquet to decontaminate against")
    ap.add_argument("--jaccard", type=float, default=0.5,
                    help="near-dup Jaccard threshold")
    ap.add_argument("--min-shared", type=int, default=2,
                    help="shared shingles to count as contaminated")
    ap.add_argument("--seed", type=int, default=0,
                    help="deterministic per-cluster sampling seed")
    ap.add_argument("--budget", type=int, default=2048,
                    help="tokens per packed training sequence")
    ap.add_argument("--max-dup-line-frac", type=float, default=None,
                    help="drop docs whose duplicate-line fraction exceeds this")
    ap.add_argument("--max-top-word-frac", type=float, default=None,
                    help="drop docs whose most-common-word fraction exceeds this")
    ap.add_argument("--scrub", action="store_true",
                    help="also write <out>/scrubbed/ with PII-redacted text "
                         "for the kept docs")
    args = ap.parse_args()

    from modelardb_spark.session import get_spark

    spark = get_spark(app_name="modelardb-curate")
    spark.sparkContext.setLogLevel("WARN")
    docs = spark.read.parquet(args.docs)
    bench = spark.read.parquet(args.benchmark) if args.benchmark else None
    curated, stats = curate(
        spark,
        docs,
        bench,
        jaccard_threshold=args.jaccard,
        min_shared=args.min_shared,
        seed=args.seed,
        budget=args.budget,
        max_dup_line_frac=args.max_dup_line_frac,
        max_top_word_frac=args.max_top_word_frac,
    )
    curated.write.mode("overwrite").parquet(
        os.path.join(args.out, "curated")
    )
    if args.scrub:
        from modelardb_spark.operators.textstats import pii_scrub

        # redact the kept docs only; the semi-join keys are the tiny
        # curated frame, the scrub itself is the map-only chain
        scrubbed = pii_scrub(
            docs.join(curated.select("doc_id"), "doc_id")
        ).localCheckpoint()  # one computation for the write + the count
        scrubbed.write.mode("overwrite").parquet(
            os.path.join(args.out, "scrubbed")
        )
        stats["pii_redactions"] = int(
            scrubbed.agg(F.sum("pii_total")).first()[0] or 0
        )
    os.makedirs(args.out, exist_ok=True)
    with open(os.path.join(args.out, "stats.json"), "w") as f:
        json.dump(stats, f, indent=1)
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
