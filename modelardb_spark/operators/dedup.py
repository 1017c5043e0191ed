"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, and n-gram Jaccard — over the `documents` table.

Scale design notes (the part that matters at 100 TB):
- exact dedup is a single hash-aggregate on a fingerprint column —
  no text comparison ever crosses the shuffle, only 16-byte digests;
- MinHash+LSH is the real sublinear path: shingle -> K minhashes ->
  B bands -> self-join on (band, band_hash). The candidate join key is
  the band hash, so the shuffle volume is O(docs x B), not O(docs^2);
  skew on hot bands is handled by AQE skew-join. The final Jaccard
  verification runs only on candidate pairs;
- SimHash reduces each doc to one 32-bit signature; near-dup pairs are
  found by banding the signature (two 16-bit halves: Hamming distance
  <= 1 guarantees one identical half — pigeonhole), again a key join;
- brute-force n-gram Jaccard is kept as the small-data oracle path.

Everything uses md5-based hashing (engine-portable) so the DuckDB
oracle computes bit-identical results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modelardb_spark.operators.scanpar import fan_out

#: MinHash parameters: K = BANDS * ROWS_PER_BAND hash functions
BANDS = 4
ROWS_PER_BAND = 4
SHINGLE_WORDS = 3

#: task-side memory budget for the ngram pair expansion (elements per
#: inner chunk); module-level so tests can force the multi-chunk path
NGRAM_MAX_EXPAND = 8_000_000


def normalized(docs: DataFrame) -> DataFrame:
    # fan the (often single-split) documents scan out to the session's
    # parallelism BEFORE the regex normalization: everything downstream
    # of this projection (shingling, minhash, simhash votes) is
    # CPU-heavy map work that would otherwise run in however few tasks
    # the file layout produced (guide §2.5 input skew)
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return fan_out(docs.select("doc_id", "text"), "doc_id").select(
        "doc_id", norm.alias("norm")
    )


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Exact dedup by content fingerprint: every doc mapped to the
    canonical (minimum) doc_id of its group, plus the group size."""
    fp = normalized(docs).select("doc_id", F.md5("norm").alias("fingerprint"))
    groups = fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count("*").alias("group_size"),
    )
    return (
        fp.join(groups, "fingerprint")
        .select("doc_id", "canonical_doc_id", "group_size")
    )


def shingle_arrays(docs: DataFrame, k: int = SHINGLE_WORDS) -> DataFrame:
    """(doc_id, sh): the distinct k-word shingles of each document as
    ONE array column — a pure map-only projection (positional slide
    over the token array + array_distinct). Docs with fewer than k
    tokens are dropped (they have no shingles), matching the SQL
    generate_series guard.

    This replaces the explode + global DISTINCT the round-6 shape paid
    for: per-doc dedup needs no exchange at all, so every consumer
    (minhash, Jaccard verify, decontamination) starts from a shuffle-
    free frame (guide §2.4 remove shuffles outright)."""
    toks = normalized(docs).select(
        "doc_id", F.split("norm", " ").alias("toks")
    )
    toks = toks.where(F.size("toks") >= k)
    arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - k),
            lambda i: F.concat_ws(" ", F.slice("toks", i + 1, k)),
        )
    )
    return toks.select("doc_id", arr.alias("sh"))


def shingles(docs: DataFrame, k: int = SHINGLE_WORDS) -> DataFrame:
    """Distinct k-word shingles per document, one row per shingle
    (explode of `shingle_arrays` — already distinct per doc, so no
    DISTINCT exchange)."""
    return shingle_arrays(docs, k).select(
        "doc_id", F.explode("sh").alias("shingle")
    )


def _minhash_from_arrays(
    arr: DataFrame, bands: int = BANDS, rows: int = ROWS_PER_BAND
) -> DataFrame:
    """(doc_id, band, band_hash) from a `shingle_arrays` frame: the
    k-th minhash is array_min over md5(shingle || '#k') — the same
    lexicographic minimum the exploded groupBy computed, but as a
    map-only array expression (zero exchanges before the LSH join)."""
    k = bands * rows

    def _mh(i: int):
        # NOTE: the lambda must stay single-argument — PySpark treats a
        # two-argument transform lambda as (element, index)
        suffix = F.lit(f"#{i}")
        return F.array_min(
            F.transform(F.col("sh"), lambda s: F.md5(F.concat(s, suffix)))
        ).alias(f"mh{i}")

    mins = arr.select("doc_id", *[_mh(i) for i in range(k)])
    band_rows = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows + r}") for r in range(rows)]
        band_rows.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *cols)).alias("band_hash"),
            )
        )
    return mins.select(
        "doc_id", F.explode(F.array(*band_rows)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash"))


def minhash_lsh_pairs(docs: DataFrame, jaccard_threshold: float = 0.5) -> DataFrame:
    """Candidate pairs from LSH banding, verified with exact Jaccard
    over the shingle sets. Returns (doc_a, doc_b, jaccard) with
    doc_a < doc_b and jaccard >= threshold, rounded for portability.

    Physical shape (round 7): signatures AND the per-doc shingle sets
    are map-only array projections (`shingle_arrays`), so the only
    exchanges left are the banded self-join + DISTINCT over candidate
    pairs and the two candidate-keyed verify joins. The verify is a
    per-pair `array_intersect` of the two docs' shingle arrays —
    equivalent to the former shingle-equality join + COUNT (both count
    the distinct shared shingles) but it ships each candidate doc's
    array once instead of shuffling every (doc, shingle) row, and a
    hot shingle no longer fans out into a hot join key (guide §2.3
    shuffle fewer bytes).

    The shingle arrays and the signatures are eagerly
    localCheckpointed while the frame is built (computed exactly
    once). Without this the plan re-derived them per consumer — the
    self-join's stream AND broadcast sides each re-ran the full
    16-minhash map (16 md5s per shingle per doc), and the two verify
    joins each re-ran normalize+shingle: four full passes over the
    corpus text for one logical pass of work. At any scale, storing one
    (doc_id, shingles) array frame (disk-backed past memory) is cheaper
    than hashing the corpus text four times. The blocks are RDD-scoped:
    the ContextCleaner frees them once the returned frame is garbage."""
    arr = shingle_arrays(docs).localCheckpoint(eager=True)
    sig = _minhash_from_arrays(arr).localCheckpoint(eager=True)
    cand = (
        sig.alias("x")
        .join(sig.alias("y"), ["band", "band_hash"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sh_a = arr.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = arr.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    scored = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_inter"),
            F.size("sh_a").alias("na"),
            F.size("sh_b").alias("nb"),
        )
    )
    return scored.select(
        "doc_a",
        "doc_b",
        F.round(
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
            6,
        ).alias("jaccard"),
    ).where(F.col("jaccard") >= jaccard_threshold)


def _expand_ranges(starts, lens):
    """Vectorized concatenation of integer ranges: the flat array
    [starts[0]..starts[0]+lens[0]-1, starts[1].., ...]."""
    import numpy as np

    lens = np.asarray(lens, dtype=np.int64)
    starts = np.asarray(starts, dtype=np.int64)
    nz = lens > 0  # zero-length ranges would collide in the scatter
    if not nz.all():
        starts, lens = starts[nz], lens[nz]
    n = int(lens.sum())
    if n == 0:
        return np.empty(0, dtype=np.int64)
    out = np.ones(n, dtype=np.int64)
    firsts = np.cumsum(lens) - lens
    out[firsts[0]] = starts[0]
    if starts.size > 1:
        out[firsts[1:]] = starts[1:] - (starts[:-1] + lens[:-1] - 1)
    return np.cumsum(out)


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Brute-force pairwise Jaccard over shingle sets (the exact
    baseline the LSH path approximates; quadratic compute BY
    DEFINITION — small inputs or verification only, like
    `embedding_near_dup_bruteforce`).

    Round-7 physical shape: the O(sum over shingles of m^2) pair
    stream never enters a shuffle. The round-6 plan generated every
    co-shingle pair as a JOIN output row and hash-aggregated it
    (measured 114M distinct pair rows through the exchange at the 50k-
    doc fixture — the whole cost of the query). Now the inverted
    shingle -> doc-list index (the same O(shingle incidences) data
    every formulation scans) is built once and broadcast, each
    doc-block task counts its pairs with one vectorized np.unique over
    dense pair keys (guide §4.2 native batch code), and only
    near-threshold survivors — with their exact integer intersection
    counts — re-enter Spark, where the SAME round-6 jaccard expression
    and threshold re-apply exactly (a 2e-6 prefilter margin provably
    covers any numpy-vs-BigDecimal rounding divergence, so the output
    is bit-identical to the join formulation). Driver memory is
    O(shingle incidences) — the documented small-data posture of this
    baseline; the scale path is `minhash_lsh_pairs`."""
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    spark = docs.sparkSession
    # ONE evaluation of the shingle pipeline: Arrow-transfer the per-doc
    # arrays (map-only lineage, no shuffle) and build the inverted
    # index driver-side entirely inside Arrow/NumPy — the list offsets
    # ARE the per-doc lengths and `dictionary_encode` produces dense
    # exact-string shingle ids without materializing a single Python
    # string (a row-by-row .collect() measured 40 s at the 50k-doc
    # fixture; the earlier toPandas + factorize path spent ~2 s just
    # converting 2.6M strings to Python objects)
    import pyarrow as pa

    tbl = shingle_arrays(docs).toArrow()
    doc_ids = tbl["doc_id"].combine_chunks().to_numpy().astype(np.int64)
    # large offsets BEFORE combining: a corpus whose flattened shingle
    # text exceeds 2 GB arrives as multiple chunks that int32 offsets
    # cannot concatenate (ArrowInvalid offset overflow)
    sh_col = (
        tbl["sh"]
        .cast(pa.large_list(pa.large_string()))
        .combine_chunks()
    )
    sh_lens = np.diff(sh_col.offsets.to_numpy()).astype(np.int64)
    codes = (
        sh_col.flatten().dictionary_encode().indices.to_numpy().astype(np.int64)
        if tbl.num_rows
        else np.empty(0, dtype=np.int64)
    )
    doc_rep = np.repeat(doc_ids, sh_lens)
    n_inc = codes.size
    # CSR by shingle id with docs SORTED within each segment, so the
    # SUFFIX after a doc's own slot is exactly "co-occurring docs
    # greater than it" — each unordered pair is generated ONCE, from
    # its smaller endpoint, halving the expansion stream and removing
    # the a<b filter (the kernel is memory-bandwidth bound under a
    # full complement of concurrent workers, so bytes are the cost)
    s_lens = np.bincount(codes, minlength=int(codes.max()) + 1 if n_inc else 0)
    offs = np.zeros(s_lens.size + 1, dtype=np.int64)
    np.cumsum(s_lens, out=offs[1:])
    so = np.lexsort((doc_rep, codes)) if n_inc else np.empty(0, np.int64)
    flat_docs = doc_rep[so]
    # each incidence's rank within its (doc-sorted) shingle segment
    rank_by_inc = np.empty(n_inc, dtype=np.int64)
    rank_by_inc[so] = np.arange(n_inc, dtype=np.int64) - offs[codes[so]]
    # CSR by doc id (sorted): each doc's incidences as suffix slices
    d_order = np.argsort(doc_rep, kind="stable")
    srow_sorted = codes[d_order]
    doc_sorted = doc_rep[d_order]
    udocs, dstart = (
        np.unique(doc_sorted, return_index=True)
        if doc_sorted.size
        else (np.empty(0, np.int64), np.empty(0, np.int64))
    )
    dcounts = np.diff(np.append(dstart, doc_sorted.size))
    n_docs = int(udocs.size)
    suf_start = offs[srow_sorted] + rank_by_inc[d_order] + 1
    suf_len = offs[srow_sorted + 1] - suf_start
    # dense doc INDEXES (int32 while they fit) instead of raw ids: the
    # kernel then needs no searchsorted over the expansion at all, and
    # the sort keys move half the bytes
    fidx = np.searchsorted(udocs, flat_docs)
    if n_docs <= np.iinfo(np.int32).max:
        fidx = fidx.astype(np.int32)
    # prefix sum of each incidence's expansion COST = suffix length
    # + 1 (doc order): the +1 keeps the chunker bounding the incidence
    # arrays themselves too — suffix lengths alone can be all zero
    # (segment-last incidences) and would let one chunk swallow an
    # unbounded number of incidences
    ll_prefix = np.zeros(n_inc + 1, dtype=np.int64)
    if n_inc:
        np.cumsum(suf_len + 1, out=ll_prefix[1:])
    bq = spark.sparkContext.broadcast(
        (fidx, suf_start, suf_len, udocs, dstart, dcounts, ll_prefix)
    )
    margin = threshold - 2e-6
    schema = StructType(
        [
            StructField("doc_a", LongType(), False),
            StructField("doc_b", LongType(), False),
            StructField("n_inter", LongType(), False),
            StructField("na", LongType(), False),
            StructField("nb", LongType(), False),
        ]
    )

    def count_pairs(batches):
        fidx_b, sufs_b, sufl_b, udocs_b, dstart_b, dcounts_b, llp_b = bq.value
        # bound the per-iteration pair expansion (sum over the chunk's
        # shingles of their doc-list lengths) so task memory stays flat
        # no matter how large the Arrow batch or the corpus gets
        max_expand = NGRAM_MAX_EXPAND
        for pdf in batches:
            all_ids = pdf["doc_id"].to_numpy().astype(np.int64)
            if all_ids.size == 0 or udocs_b.size == 0:
                continue
            apos = np.searchsorted(udocs_b, all_ids)
            ok = (apos < udocs_b.size) & (
                udocs_b[np.minimum(apos, udocs_b.size - 1)] == all_ids
            )
            all_ids, apos = all_ids[ok], apos[ok]
            if all_ids.size == 0:
                continue
            # per-doc expansion cost (one subtraction off the prefix
            # sum), then greedy fixed-budget chunk boundaries
            start_i = dstart_b[apos]
            exp_cost = llp_b[start_i + dcounts_b[apos]] - llp_b[start_i]
            csum = np.cumsum(exp_cost)
            cuts = [0]
            base = 0
            while cuts[-1] < all_ids.size:
                nxt = int(
                    np.searchsorted(csum, base + max_expand, side="left") + 1
                )
                nxt = max(nxt, cuts[-1] + 1)
                cuts.append(min(nxt, all_ids.size))
                base = csum[cuts[-1] - 1]
            yield from _count_chunks(
                all_ids, apos, cuts,
                fidx_b, sufs_b, sufl_b, udocs_b, dstart_b, dcounts_b,
            )

    def _count_chunks(
        all_ids, apos, cuts, fidx_b, sufs_b, sufl_b, udocs_b, dstart_b, dcounts_b
    ):
        import pandas as pd

        for c0, c1 in zip(cuts[:-1], cuts[1:]):
            if c0 == c1:
                continue
            a_ids, pos = all_ids[c0:c1], apos[c0:c1]
            m = a_ids.size
            ca = dcounts_b[pos]
            # all (a, shingle) incidences of the chunk ...
            inc = _expand_ranges(dstart_b[pos], ca)
            ss, sl = sufs_b[inc], sufl_b[inc]
            # ... expanded to every co-occurring doc AFTER a in its
            # segment: each unordered pair appears exactly once, its
            # multiplicity = the shared-shingle count, and b's value
            # is already a dense doc index (no searchsorted here)
            b = fidx_b[_expand_ranges(ss, sl)]
            owner2 = np.repeat(
                np.repeat(np.arange(m, dtype=np.int64), ca), sl
            )
            if m * n_docs <= np.iinfo(np.int32).max:
                key = owner2.astype(np.int32) * np.int32(n_docs) + b.astype(
                    np.int32
                )
            else:
                key = owner2 * n_docs + b.astype(np.int64)
            uk, cnt = np.unique(key, return_counts=True)
            ai = uk // n_docs
            bpos = uk % n_docs
            doc_a = a_ids[ai]
            doc_b = udocs_b[bpos]
            na = ca[ai]
            nb = dcounts_b[bpos]
            jac = cnt / (na + nb - cnt)
            near = jac >= margin
            yield pd.DataFrame(
                {
                    "doc_a": doc_a[near],
                    "doc_b": doc_b[near],
                    "n_inter": cnt[near].astype(np.int64),
                    "na": na[near],
                    "nb": nb[near],
                }
            )

    # the map input only fans out doc ids — non-shingleable docs are
    # dropped by the membership guard, so the raw scan suffices and the
    # shingle pipeline is never re-evaluated
    prelim = fan_out(docs.select("doc_id"), "doc_id").mapInPandas(
        count_pairs, schema
    )
    # the exact round-6 jaccard + threshold re-apply on the survivors:
    # na/nb are the same distinct-shingle counts F.size produced before,
    # so the output is bit-identical to the join formulation
    return (
        prelim.select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def simhash_signatures(docs: DataFrame, bits: int = 32) -> DataFrame:
    """32-bit SimHash from token md5s: bit j of the signature is the
    sign of the sum over tokens of (+1 if bit j of md5(token) else -1).

    Shuffle shape: ONE hash-aggregate keyed on doc_id with `bits`
    vote columns. The token explode is map-only and collapsed by the
    partial (map-side) aggregation, so the shuffle carries one row per
    (doc, partition) — not tokens x bits rows as a (doc, bit)-keyed
    groupBy would."""
    toks = normalized(docs).select(
        "doc_id", F.explode(F.split("norm", " ")).alias("tok")
    )
    # low 8 hex chars of md5 -> 32-bit integer
    h = F.conv(F.substring(F.md5("tok"), 25, 8), 16, 10).cast("long")
    votes = toks.select("doc_id", h.alias("h")).groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h >> {j}) & 1") == 1, 1).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(bits)
        ]
    )
    sig = None
    for j in range(bits):
        term = F.when(F.col(f"v{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return votes.select("doc_id", sig.alias("simhash"))


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 1) -> DataFrame:
    """Near-dup pairs with Hamming distance <= max_hamming, found by
    half-signature banding (pigeonhole: d<=1 implies one equal half)."""
    sig = simhash_signatures(docs)
    halves = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("part"), (F.col("simhash") % 65536).alias("key")),
                F.struct(
                    F.lit(1).alias("part"),
                    F.shiftright("simhash", 16).alias("key"),
                ),
            )
        ).alias("hb"),
    ).select("doc_id", "simhash", F.col("hb.part").alias("part"), F.col("hb.key").alias("key"))
    cand = (
        halves.alias("a")
        .join(halves.alias("b"), ["part", "key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.select("doc_a", "doc_b", ham.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def _local_min_labels(src, dst, uniq):
    """Vectorized connected components over dense node indexes:
    min-label propagation + full pointer jumping per round, all NumPy
    (O(E) per pass, O(log n) rounds). `uniq` must be SORTED so the
    minimum dense index IS the minimum node value."""
    import numpy as np

    a = np.searchsorted(uniq, src)
    b = np.searchsorted(uniq, dst)
    label = np.arange(uniq.size, dtype=np.int64)
    while True:
        new = label.copy()
        np.minimum.at(new, a, label[b])
        while True:
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, label):
            return label
        label = new


def duplicate_clusters(
    pairs: DataFrame,
    docs: DataFrame,
    doc_col: str = "doc_id",
    max_iter: int = 25,
    max_local_edges: int = 5_000_000,
) -> DataFrame:
    """Connected components over near-duplicate pairs: the transitive
    closure that turns pair lists (from `minhash_lsh_pairs`,
    `simhash_near_pairs`, ...) into canonical clusters. Returns one
    row per document: (doc_id, cluster_rep, cluster_size) where
    cluster_rep is the minimum doc_id of the component — docs with no
    duplicate are their own singleton cluster. This is the step a
    training-data pipeline actually keeps: "keep cluster_rep, drop the
    rest" is exact transitive dedup, and cluster_size is the upweight
    factor for dedup-aware sampling.

    Algorithm: iterative min-label propagation with pointer jumping —
    each round every node takes the smallest label among itself and
    its neighbors (one hash-shuffle groupBy with a map-side-combinable
    MIN, no neighbor lists are ever collected, so a boilerplate doc
    duplicated a million times produces a hot *key*, not a hot task),
    then compresses one hop (label <- label(label)), which cuts the
    round count from O(diameter) to O(log diameter) — the same
    doubling idea as the alternating star algorithms for MapReduce
    connected components. Each round ends in localCheckpoint: iterative
    DataFrame algorithms otherwise stack O(rounds) of plan lineage and
    re-fire the whole history every action.

    At 100 TB the iteration runs over the PAIR GRAPH only — endpoints
    of verified near-dup pairs, a tiny fraction of the corpus — so the
    per-round shuffles move component labels for dup docs, never the
    corpus. Singletons (the overwhelming majority) join in exactly
    once at the end, as a single left join against the doc ids.

    Round 7: when the (already-materialized) pair graph is provably
    small — at most `max_local_edges` edges, counted on the
    checkpointed frame before anything is collected — the component
    labels are computed on the driver with one vectorized NumPy
    min-label/pointer-jump pass instead of the iterative Spark loop:
    the symmetrized frame holds both directions, so the collect is
    ~32 B/edge of raw data (320 MB at the 5M-edge default cap, Arrow
    transfer, plus transient conversion copies — sized for the 24g
    driver this engine configures; shrink the cap for small drivers),
    while each Spark round costs two joins + a groupBy + a checkpoint
    + a convergence action. The distributed
    loop below is UNCHANGED and takes over past the cap, so the
    100 TB posture is identical — this is the standard small-graph
    fast path of connected-components implementations, gated by an
    exact edge count, never by an assumption.
    """
    sym = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    # materialize once: the edge frame joins into EVERY round (or is
    # collected once by the local path), and its lineage is typically
    # the whole LSH pipeline — without this the shingle/minhash/verify
    # work would replay per iteration
    sym = sym.localCheckpoint()
    n_edges = sym.count() // 2
    if n_edges <= max_local_edges:
        import numpy as np
        import pandas as pd

        spark = pairs.sparkSession
        pdf = sym.toPandas()
        src = pdf["src"].to_numpy()
        dst = pdf["dst"].to_numpy()
        uniq = np.unique(src)  # sym is symmetric: src covers all nodes
        if uniq.size:
            label = _local_min_labels(src, dst, uniq)
            sizes = np.bincount(label, minlength=uniq.size)
            clustered_pdf = pd.DataFrame(
                {
                    "node": uniq,
                    "cluster_rep": uniq[label],
                    "cluster_size": sizes[label].astype(np.int64),
                }
            )
        else:
            clustered_pdf = pd.DataFrame(
                {"node": [], "cluster_rep": [], "cluster_size": []}
            )
        node_t = dict(sym.dtypes)["src"]
        clustered = spark.createDataFrame(
            clustered_pdf,
            schema=(
                f"node {node_t}, cluster_rep {node_t}, cluster_size long"
            ),
        )
        return (
            docs.select(F.col(doc_col))
            .join(
                F.broadcast(clustered),
                F.col(doc_col) == F.col("node"),
                "left",
            )
            .select(
                F.col(doc_col),
                F.coalesce("cluster_rep", F.col(doc_col)).alias(
                    "cluster_rep"
                ),
                F.coalesce("cluster_size", F.lit(1)).cast("long").alias(
                    "cluster_size"
                ),
            )
        )
    nodes = sym.select(F.col("src").alias("node")).distinct()
    cur = nodes.select("node", F.col("node").alias("label")).localCheckpoint()
    for _ in range(max_iter):
        nbr_min = (
            sym.join(cur, sym["dst"] == cur["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        prop = (
            cur.join(nbr_min, cur["node"] == nbr_min["src"], "left")
            .select(
                cur["node"].alias("node"),
                cur["label"].alias("old_label"),
                F.least(
                    cur["label"], F.coalesce("nbr_label", cur["label"])
                ).alias("label"),
            )
        )
        hop = prop.select(
            F.col("node").alias("jnode"), F.col("label").alias("jlabel")
        )
        # carry the pre-round label through the jump so convergence is
        # a column comparison on the checkpointed frame, not an extra
        # shuffle-join of new-vs-old labels every round
        new = (
            prop.join(hop, prop["label"] == hop["jnode"], "left")
            .select(
                prop["node"].alias("node"),
                F.least(
                    prop["label"], F.coalesce("jlabel", prop["label"])
                ).alias("label"),
                prop["old_label"].alias("old_label"),
            )
            .localCheckpoint()
        )
        changed = (
            new.where(F.col("label") != F.col("old_label")).limit(1).count()
        )
        cur = new.select("node", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iter} rounds"
        )
    sizes = cur.groupBy("label").agg(F.count("*").alias("cluster_size"))
    clustered = cur.join(sizes, "label").select(
        "node",
        F.col("label").alias("cluster_rep"),
        "cluster_size",
    )
    return (
        docs.select(F.col(doc_col))
        .join(clustered, F.col(doc_col) == F.col("node"), "left")
        .select(
            F.col(doc_col),
            F.coalesce("cluster_rep", F.col(doc_col)).alias("cluster_rep"),
            F.coalesce("cluster_size", F.lit(1)).cast("long").alias(
                "cluster_size"
            ),
        )
    )


def near_dup_clusters(docs: DataFrame, jaccard_threshold: float = 0.5) -> DataFrame:
    """`duplicate_clusters(minhash_lsh_pairs(docs), docs)` with exact
    duplicates COLLAPSED FIRST — same output, much less work on the
    corpora that need dedup most.

    Web-scale corpora are exact-duplicate heavy, and identical
    (normalized) texts have identical shingle sets, so collapsing each
    exact group to its canonical member before the LSH is
    semantics-preserving by construction: every member's candidate
    pairs and Jaccard scores are its canonical's, collapsing identical
    nodes preserves component connectivity, and because the canonical
    is its group's MINIMUM doc_id the component minimum — the cluster
    rep — is unchanged. What it buys at scale: the shingle/minhash
    pass runs over unique texts only, and exact families stop
    contributing their O(members^2) complete subgraphs to the pair
    graph the label propagation iterates over.

    One cheap hash-agg (`exact_duplicates`) funds all of that; the
    expansion back to member docs is a single join keyed by the
    canonical id, with cluster sizes re-counted over member docs so
    the output is row-for-row identical to the uncollapsed path
    (asserted in tests/test_traindata_ops.py).

    Docs too short to shingle (< SHINGLE_WORDS normalized tokens,
    including empty text) are NOT collapsed: the uncollapsed path can
    never pair them (no shingles -> no candidates), so equivalence
    requires they stay singletons here too, even when their texts are
    byte-identical."""
    n_toks = F.size(F.split(F.col("norm"), " "))
    eligible = normalized(docs).select(
        "doc_id", (n_toks >= SHINGLE_WORDS).alias("_sh_ok")
    )
    short = eligible.where(~F.col("_sh_ok")).select(
        "doc_id",
        F.col("doc_id").alias("cluster_rep"),
        F.lit(1).cast("long").alias("cluster_size"),
    )
    docs = docs.join(
        eligible.where(F.col("_sh_ok")).select("doc_id"), "doc_id"
    )
    fp = exact_duplicates(docs).localCheckpoint()  # consumed twice
    reps = docs.join(
        fp.where(F.col("doc_id") == F.col("canonical_doc_id")).select(
            "doc_id"
        ),
        "doc_id",
    )
    pairs = minhash_lsh_pairs(reps, jaccard_threshold=jaccard_threshold)
    rep_clusters = duplicate_clusters(pairs, reps).select(
        F.col("doc_id").alias("canonical_doc_id"),
        "cluster_rep",
    )
    expanded = fp.select("doc_id", "canonical_doc_id").join(
        rep_clusters, "canonical_doc_id"
    )
    sizes = expanded.groupBy("cluster_rep").agg(
        F.count("*").alias("cluster_size")
    )
    return (
        expanded.join(sizes, "cluster_rep")
        .select("doc_id", "cluster_rep", "cluster_size")
        .unionByName(short)
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = SHINGLE_WORDS,
    min_shared: int = 2,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    k-word shingles with an evaluation set — the standard guard
    against test-set leakage into training data. Returns every doc
    with (doc_id, shared_shingles, contaminated); filter on
    ``NOT contaminated`` to clean the corpus.

    Scale shape: the benchmark side is an EVAL SET — thousands of
    documents, not billions — so its distinct shingles broadcast and
    the corpus-side check is a map-only broadcast join: the 100 TB
    corpus is scanned once, nothing about it shuffles. `min_shared`
    guards against chance collisions of common phrases (a single
    shared shingle like "according to the" is noise; two or more
    distinct shared shingles is quotation)."""
    corpus_sh = shingles(docs, k)
    bench_sh = shingles(benchmark, k).select("shingle").distinct()
    hits = (
        corpus_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("shared_shingles"))
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .na.fill({"shared_shingles": 0})
        .select(
            "doc_id",
            F.col("shared_shingles").cast("long").alias("shared_shingles"),
            (F.col("shared_shingles") >= min_shared).alias("contaminated"),
        )
    )


def sample_one_per_cluster(
    clusters: DataFrame, seed: int = 0, doc_col: str = "doc_id"
) -> DataFrame:
    """Dedup-aware sampling: keep exactly ONE member per duplicate
    cluster, chosen uniformly (not always the minimum id, which would
    bias toward earlier-crawled copies) but deterministically — the
    member with the smallest xxhash64(doc_id, seed). Input is
    `duplicate_clusters` output; returns the kept rows with their
    cluster_size as the upweight factor for loss re-weighting.

    One hash-aggregate on cluster_rep (map-side-combinable MIN over a
    (hash, doc) struct — a million-copy cluster is a hot key, never a
    hot task), then the winners come back as a struct field: no second
    join against the corpus."""
    pick = F.min(
        F.struct(
            F.xxhash64(F.col(doc_col), F.lit(seed)).alias("h"),
            F.col(doc_col).alias("d"),
        )
    )
    return (
        clusters.groupBy("cluster_rep")
        .agg(pick.alias("w"), F.count("*").alias("cluster_size"))
        .select(
            F.col("w.d").alias(doc_col),
            "cluster_rep",
            F.col("cluster_size").cast("long").alias("cluster_size"),
        )
    )
