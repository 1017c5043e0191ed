"""Training-data operator tests: dedup family, similarity search,
text stats, multimodal plumbing."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from modelardb_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    simhash_signatures,
)
from modelardb_spark.operators.multimodal import (
    decode_stub,
    extract_features,
    frame_sample_plan,
    synthetic_media,
)
from modelardb_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dup,
    embedding_near_dup_bruteforce,
    load_embeddings,
    lsh_topk,
    lsh_topk_multi,
)
from modelardb_spark.operators.textstats import (
    language_id,
    load_documents,
    token_count,
)


@pytest.fixture(scope="module")
def docs(spark, sf_small):
    d = load_documents(spark, sf_small).cache()
    d.count()
    return d


def test_exact_dedup_finds_planted_duplicates(spark, docs):
    # plant exact duplicates by unioning shifted copies
    dup = docs.limit(10).withColumn("doc_id", F.col("doc_id") + 100000)
    both = docs.unionByName(dup)
    out = exact_duplicates(both)
    groups = out.where("group_size > 1")
    assert groups.count() == 20  # 10 pairs, both members reported
    assert out.count() == docs.count() + 10
    # canonical id is the original (minimum) doc_id
    assert groups.where("canonical_doc_id >= 100000").count() == 0


def test_minhash_lsh_recall_vs_brute_force(spark, docs):
    brute = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    }
    # LSH never invents pairs above threshold (it verifies exactly) and
    # at j>=0.5 with 4x4 banding recall should be high
    assert lsh <= brute
    if brute:
        assert len(lsh) / len(brute) >= 0.6


def test_simhash_near_duplicates(spark, docs):
    dup = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    both = docs.unionByName(dup)
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_signatures(both).collect()}
    # identical text -> identical signature
    for i in range(5):
        assert sigs[i] == sigs[i + 100000]
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_pairs(both, max_hamming=0).collect()
    }
    for i in range(5):
        assert (i, i + 100000) in pairs


def test_cosine_topk_self_consistency(spark, sf_small):
    emb = load_embeddings(spark, sf_small)
    out = cosine_topk(emb, emb.where("vec_id < 5"), k=3).collect()
    assert len(out) == 15
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        cos = [r["cosine"] for r in rows]
        assert cos == sorted(cos, reverse=True)
        assert all(r["neighbor_id"] != q for r in rows)
    # an empty query side is an empty result, not a failed task
    assert cosine_topk(emb, emb.where("vec_id < 0"), k=3).collect() == []


def _oracle_topk(qids, qvecs, nids, nvecs, k):
    """Plain-Python top-k per query, self excluded: (q, n, cosine)
    sorted by cosine desc, then neighbor id."""
    out = []
    for q, qv in zip(qids, qvecs):
        cands = []
        for n, nv in zip(nids, nvecs):
            if n != q:
                dot = sum(a * b for a, b in zip(qv, nv))
                norm = math.sqrt(sum(a * a for a in qv)) * math.sqrt(
                    sum(b * b for b in nv)
                )
                cands.append((-float(np.round(dot / norm, 6)), n))
        out += [(q, n, -c) for c, n in sorted(cands)[:k]]
    return out


def test_local_topk_matches_python_oracle():
    """The shared top-k kernel against a plain-Python oracle. Integer
    vectors keep every dot product and squared norm exact, so both
    sides round the same cosine."""
    from modelardb_spark.operators.similarity import (
        _QUERY_BLOCK,
        _local_topk,
        _matrix,
        _norms,
    )

    def run(qids, qv, nids, nv, k):
        qids, nids = np.asarray(qids, np.int64), np.asarray(nids, np.int64)
        m_q, m_n = _matrix(qv), _matrix(nv)
        pdf = _local_topk(qids, m_q, _norms(m_q), nids, m_n, _norms(m_n), k)
        assert list(pdf.columns) == ["query_id", "neighbor_id", "cosine"]
        return list(
            zip(pdf["query_id"].tolist(), pdf["neighbor_id"].tolist(),
                pdf["cosine"].tolist())
        )

    # tie broken by neighbor id: 7 and 3 are the same vector
    nids, nv = [7, 3, 5, 1], [[1, 0], [1, 0], [0, 1], [1, 1]]
    got = run([1, 9], [[1, 1], [2, 0]], nids, nv, 2)
    assert got == _oracle_topk([1, 9], [[1, 1], [2, 0]], nids, nv, 2)
    assert got[2:] == [(9, 3, 1.0), (9, 7, 1.0)]
    # self excluded: query 1 never lists itself
    assert all(n != q for q, n, _ in got)
    # k above the neighbor count returns every other neighbor
    got = run([1], [[1, 1]], nids, nv, 10)
    assert got == _oracle_topk([1], [[1, 1]], nids, nv, 10)
    assert len(got) == 3
    # empty query side, empty neighbor side
    assert run([], [], nids, nv, 3) == []
    assert run([1], [[1, 1]], [], [], 3) == []
    # more queries than one block, so the blocking runs
    rng = np.random.default_rng(3)
    n_q = _QUERY_BLOCK + 37
    qv = rng.integers(-5, 6, size=(n_q, 4))
    qv[(qv == 0).all(axis=1), 0] = 1  # no zero vectors
    nids = np.arange(0, 2 * n_q, 97)
    nv = qv[np.arange(nids.size) % n_q]
    qids = np.arange(n_q)
    got = run(qids, qv, nids, nv, 3)
    assert got == _oracle_topk(
        qids.tolist(), qv.tolist(), nids.tolist(), nv.tolist(), 3
    )


def test_lsh_topk_approximates_brute_force(spark, sf_small):
    emb = load_embeddings(spark, sf_small).cache()
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, emb, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_topk(emb, k=3, bits=3).collect()
    }
    # bucket-local search: whatever it returns for rank 1..k must be a
    # plausible neighbor set; measure overlap as a sanity floor
    overlap = len(brute & approx) / len(brute)
    assert overlap > 0.15


def test_lsh_topk_bounded_hot_bucket(spark):
    """Plant ONE oversized bucket (collinear positive scalings share
    every projection sign, hence the signature) and run with a tiny
    per-task cap: `enforce_cap=True` raises inside any task whose group
    exceeds the sliced bound, so a green run proves no task ever
    materialized the whole bucket — and the sliced plan's output must
    equal the single-task plan's output exactly (same round-6 cosine,
    same neighbor-id tie rule)."""
    base = np.linspace(0.1, 1.0, 64)
    rows = [
        (i, ((1.0 + 0.001 * i) * base).astype(np.float32).tolist())
        for i in range(600)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    bounded = lsh_topk(
        emb, k=3, bits=4, max_task_rows=64, enforce_cap=True
    ).collect()
    assert len(bounded) == 600 * 3
    unbounded = lsh_topk(emb, k=3, bits=4, max_task_rows=1 << 20).collect()
    as_set = lambda rs: {
        (r["query_id"], r["neighbor_id"], r["rank"], r["cosine"]) for r in rs
    }
    assert as_set(bounded) == as_set(unbounded)
    emb.unpersist()


def test_lsh_topk_multi_bounded_hot_bucket(spark):
    """The multi-table candidate join carries the same slice-grid cap
    as `lsh_topk`: plant one oversized bucket (collinear positive
    scalings collide in EVERY table) and verify (a) after slicing, no
    (tbl, bucket, slice) join group holds more than ~max_task_rows
    neighbor rows — the quantity that bounds the join task — and (b)
    the capped output equals the effectively-uncapped output exactly
    (slicing repartitions the candidate pairs, it never changes the
    candidate set)."""
    from pyspark.sql import functions as F

    from modelardb_spark.operators.similarity import _slices, lsh_buckets_multi

    base = np.linspace(0.1, 1.0, 64)
    rows = [
        (i, ((1.0 + 0.001 * i) * base).astype(np.float32).tolist())
        for i in range(600)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    cap = 64
    # (a) run the operator's slicing and measure the worst group
    sigs = lsh_buckets_multi(emb, bits=4, tables=4, seed=42)
    sliced = _slices(sigs, ["tbl", "bucket"], cap)
    hot = sliced.agg(F.max("bsize")).first()[0]
    assert hot == 600  # the plant really made every table one hot bucket
    worst = (
        sliced.groupBy("tbl", "bucket", "slc")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert worst <= 2 * cap  # hash split holds; no task sees the full bucket
    # (b) identical results, capped vs uncapped
    as_set = lambda rs: {
        (r["query_id"], r["neighbor_id"], r["rank"], r["cosine"]) for r in rs
    }
    capped = lsh_topk_multi(
        emb, k=3, bits=4, tables=4, max_task_rows=cap
    ).collect()
    uncapped = lsh_topk_multi(
        emb, k=3, bits=4, tables=4, max_task_rows=1 << 20
    ).collect()
    assert len(capped) == 600 * 3
    assert as_set(capped) == as_set(uncapped)
    emb.unpersist()


def test_lsh_near_dup_recall(spark, sf_small):
    """Plant true near-duplicates (copies with the sign of one
    component flipped -> cosine ~0.97) and require the LSH path to (a)
    never invent a pair the brute-force baseline lacks and (b) find
    essentially all planted near-dups at a realistic threshold."""
    emb = load_embeddings(spark, sf_small).select("vec_id", "embedding")
    planted = (
        emb.where("vec_id < 40")
        .withColumn("vec_id", F.col("vec_id") + 1_000_000)
        .withColumn(
            "embedding",
            F.concat(
                F.array(-F.col("embedding")[0]), F.slice("embedding", 2, 63)
            ),
        )
    )
    both = emb.unionByName(planted).cache()
    lsh = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dup(both, threshold=0.9, bits=8, tables=8).collect()
    }
    brute = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dup_bruteforce(both, threshold=0.9).collect()
    }
    assert lsh <= brute  # verification is exact: no false positives
    planted_pairs = {(i, i + 1_000_000) for i in range(40)} & brute
    assert planted_pairs  # the plant produced true near-dups
    found = len(lsh & planted_pairs) / len(planted_pairs)
    assert found >= 0.9
    both.unpersist()


def test_near_dup_plan_has_no_driver_collect(spark, sf_small):
    """The LSH near-dup plan must be a pure DataFrame plan — signature
    projection + key joins — with no collect of the vector table (the
    round-1 scale-killer). Guarded by construction: embedding_near_dup
    never calls .collect(); this asserts the plan builds lazily."""
    emb = load_embeddings(spark, sf_small)
    df = embedding_near_dup(emb, threshold=0.9, bits=8, tables=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan  # bucket-keyed join, not a broadcast matrix
    assert df.columns == ["vec_a", "vec_b", "cosine"]


def test_token_count_semantics(spark, docs):
    row = token_count(docs).where("doc_id = 0").first()
    text = docs.where("doc_id = 0").first()["text"]
    assert row["n_tokens"] == len(text.split(" "))
    assert row["n_chars"] == len(text)


def test_language_id_deterministic(spark, docs):
    a = {r["doc_id"]: r["predicted_lang"] for r in language_id(docs).collect()}
    b = {r["doc_id"]: r["predicted_lang"] for r in language_id(docs).collect()}
    assert a == b
    assert set(a.values()) <= {"en", "de", "fr", "es", "zh", "und"}


def test_multimodal_stub_contract(spark, docs):
    media = synthetic_media(spark, docs.limit(50))
    feats = extract_features(media, dim=8)
    rows = feats.collect()
    assert len(rows) == 50
    for r in rows:
        assert len(r["feature"]) == 8
        assert r["n_bytes"] > 0
    # strict mode raises like a missing codec
    with pytest.raises(NotImplementedError):
        decode_stub(b"xx", "image", strict=True)
    # deterministic features
    f1 = decode_stub(b"payload", "image")
    f2 = decode_stub(b"payload", "image")
    np.testing.assert_array_equal(f1, f2)


def test_jpeg_header_codec_roundtrip():
    """parse_jpeg_header is a real JFIF marker walk: it recovers the
    SOF0 geometry from the shell encoder's output, skips arbitrary
    preceding APPn/COM segments and fill bytes, tolerates FF-stuffed
    entropy data (by never scanning past SOS), and rejects non-JPEG
    and frame-header-less streams."""
    from modelardb_spark.operators.multimodal import (
        encode_jpeg_shell,
        parse_jpeg_header,
    )

    px = (np.arange(13 * 37, dtype=np.int64) % 256).astype(np.uint8).reshape(13, 37)
    px[0, :4] = 255  # forces FF-stuffing in the entropy segment
    data = encode_jpeg_shell(px)
    assert parse_jpeg_header(data) == (37, 13)

    # extra APPn/COM segments and fill bytes before SOF (real files
    # carry EXIF/ICC blocks there) must be skipped, not tripped over
    import struct

    app1 = struct.pack(">BBH", 0xFF, 0xE1, 9) + b"Exif\x00\x00\x00"
    com = struct.pack(">BBH", 0xFF, 0xFE, 7) + b"hello"
    padded = data[:2] + b"\xff" + app1 + com + data[2:]
    assert parse_jpeg_header(padded) == (37, 13)

    with pytest.raises(ValueError, match="not a JPEG"):
        parse_jpeg_header(b"\x89PNG\r\n\x1a\n")
    # SOI followed directly by SOS: no frame header to report
    with pytest.raises(ValueError, match="SOF"):
        parse_jpeg_header(
            b"\xff\xd8" + struct.pack(">BBH", 0xFF, 0xDA, 8) + b"\x01\x01\x00\x00\x3f\x00"
        )


def test_frame_sample_plan(spark, docs):
    media = synthetic_media(spark, docs.limit(30))
    plan = frame_sample_plan(media, every_ms=1000)
    vids = media.where("kind = 'video'").collect()
    got = plan.groupBy("media_id").count().collect()
    want = {v["media_id"]: v["duration_ms"] // 1000 + 1 for v in vids}
    assert {r["media_id"]: r["count"] for r in got} == want


def test_ivf_topk_approximates_brute_force(spark, sf_small):
    from modelardb_spark.operators.similarity import ivf_topk

    emb = load_embeddings(spark, sf_small).cache()
    queries = emb.where("vec_id < 20")
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    approx_rows = ivf_topk(emb, queries, k=5, n_cells=16, n_probe=4).collect()
    approx = {(r["query_id"], r["neighbor_id"]) for r in approx_rows}
    # every query must get k results (probed cells are never empty:
    # each query's own cell is among its probes)
    assert len(approx_rows) == 20 * 5
    # probing 4/16 cells should recover a solid share of true neighbors
    overlap = len(brute & approx) / len(brute)
    assert overlap >= 0.3


def test_ivf_topk_collects_centroids_once(spark, sf_small):
    """Building an `ivf_topk` frame with the training cache warm
    collects the K-row centroid matrix once, shared by the corpus and
    the probe assignment, instead of once per side."""
    from modelardb_spark.operators.similarity import ivf_topk

    emb = load_embeddings(spark, sf_small)
    queries = emb.where("vec_id < 20")
    ivf_topk(emb, queries, k=5)  # trains; fills the training cache
    sc = spark.sparkContext
    group = "ivf_topk_construction"
    sc.setJobGroup(group, "build an ivf_topk frame")
    try:
        df = ivf_topk(emb, queries, k=5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # one job: the centroid collect both assignment sides share
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert df.count() == 20 * 5


def test_lsh_projection_sign_margin(spark, sf_small):
    """Cross-engine bucket parity (NumPy matmul vs DuckDB's
    left-to-right list_reduce) relies on every |projection| being far
    above the summation-order error (~1e-13). Assert the margin on the
    fixture for every hyperplane table the driver queries use."""
    from modelardb_spark.operators.similarity import hyperplanes, table_seed

    emb = load_embeddings(spark, sf_small)
    m = np.array(
        [r["embedding"] for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    dim = m.shape[1]
    planes = [hyperplanes(dim, 6, 42)]  # lsh_topk single table
    planes += [hyperplanes(dim, 8, table_seed(42, t)) for t in range(8)]
    p = np.array([row for tbl in planes for row in tbl])
    margin = np.abs(m @ p.T).min()
    assert margin > 1e-9, margin


def test_ivf_training_improves_recall_on_clustered_fixture(spark):
    """Lloyd training must beat the raw md5 seeds where it matters: a
    corpus of well-separated clusters whose md5 seed draw is
    cluster-blind. With n_probe=1 the untrained index fractures
    clusters across seed cells; two Lloyd rounds pull one centroid
    onto each cluster, so every query's true neighbors share its
    probed cell."""
    import numpy as np

    from modelardb_spark.operators.similarity import cosine_topk, ivf_topk

    rng = np.random.default_rng(7)
    n_clusters, per, dim = 4, 40, 16
    centers = rng.normal(size=(n_clusters, dim)) * 10.0
    rows = []
    vid = 0
    for c in range(n_clusters):
        for _ in range(per):
            v = centers[c] + rng.normal(size=dim) * 0.5
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    ).cache()
    queries = emb.where("vec_id % 40 = 0")  # one query per cluster
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }

    def recall(train_iters):
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(
                emb, queries, k=5, n_cells=n_clusters, n_probe=1,
                train_iters=train_iters,
            ).collect()
        }
        return len(brute & approx) / len(brute)

    untrained, trained = recall(0), recall(2)
    # measured on this fixture: seeds 0.90 -> trained 0.95 (one cluster
    # stays split across two seed cells — a classic k-means local
    # minimum; the other three converge to pure cells)
    assert trained > untrained, (trained, untrained)
    assert trained >= 0.95, trained


def test_media_codecs_round_trip_distributed(spark, sf_small):
    """The multimodal path is REAL for PNG/WAV: documents encode into
    valid containers, the distributed decode recovers geometry AND
    content (pixel/sample means match a local reference decode)."""
    import numpy as np

    from modelardb_spark.operators.multimodal import (
        decode_png_gray,
        decode_wav_pcm16,
        media_decode,
        synthetic_media_encoded,
    )
    from modelardb_spark.operators.textstats import load_documents

    docs = load_documents(spark, sf_small).limit(60).cache()
    media = synthetic_media_encoded(spark, docs).cache()
    got = {r["media_id"]: r for r in media_decode(media).collect()}

    # local reference decode of every payload
    for r in media.collect():
        g = got[r["media_id"]]
        data = bytes(r["payload"])
        if r["kind"] == "image":
            if r["mime"] == "image/jpeg":
                from modelardb_spark.operators.multimodal import parse_jpeg_header

                assert data[:2] == b"\xff\xd8"
                assert (g["width"], g["height"]) == parse_jpeg_header(data)
                # same geometry formulas as the PNG rows
                assert g["width"] == r["media_id"] % 48 + 8
                assert g["height"] == r["media_id"] % 32 + 8
                assert g["content_mean"] is None  # external-codec boundary
            else:
                px = decode_png_gray(data)
                assert (g["height"], g["width"]) == px.shape
                assert abs(g["content_mean"] - px.astype(float).mean()) < 1e-3
        elif r["kind"] == "audio":
            rate, samples = decode_wav_pcm16(data)
            assert g["sample_rate"] == rate == 8000
            assert g["n_samples"] == samples.size
            if samples.size:
                assert abs(g["content_mean"] - samples.astype(float).mean()) < 1e-2
        else:
            from modelardb_spark.operators.multimodal import (
                decode_video_frame,
                parse_video_header,
            )

            n, fps, _ = parse_video_header(data)
            assert g["n_frames"] == n and g["duration_ms"] == n * 1000 // fps
            f0 = decode_video_frame(data, 0)
            assert (g["height"], g["width"]) == f0.shape
            assert abs(g["content_mean"] - f0.astype(float).mean()) < 1e-3
            assert g["sample_rate"] is None


def test_video_frame_sampling_decodes_real_frames(spark, sf_small):
    """frame_sample_decode demuxes and decodes exactly the sampled
    frames; the per-frame pixel means match a local decode of the same
    indexes."""
    import numpy as np

    from modelardb_spark.operators.multimodal import (
        decode_video_frame,
        frame_sample_decode,
        parse_video_header,
        synthetic_media_encoded,
    )
    from modelardb_spark.operators.textstats import load_documents

    docs = load_documents(spark, sf_small).limit(30)
    media = synthetic_media_encoded(spark, docs).cache()
    got = frame_sample_decode(media, every_ms=250).collect()
    assert got
    payloads = {
        r["media_id"]: bytes(r["payload"])
        for r in media.where("kind = 'video'").collect()
    }
    for r in got:
        data = payloads[r["media_id"]]
        n, fps, dur = parse_video_header(data)
        idx = min(n - 1, int(r["frame_ms"] * fps / 1000))
        assert r["frame_index"] == idx
        px = decode_video_frame(data, idx)
        assert abs(r["px_mean"] - px.astype(float).mean()) < 1e-3


# ---------------------------------------------------------------------------
# duplicate_clusters: connected components over near-dup pairs


def _brute_components(n_nodes, pairs):
    """Union-find oracle: node -> min doc_id of its component."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            # always hang the larger root under the smaller, so every
            # component's root IS its minimum doc_id
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in range(n_nodes)}


def test_duplicate_clusters_matches_union_find(spark):
    from modelardb_spark.operators.dedup import duplicate_clusters

    rng = np.random.RandomState(7)
    n = 200
    raw = [
        (int(a), int(b))
        for a, b in rng.randint(0, n, size=(120, 2))
        if a != b
    ]
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in raw], "doc_a long, doc_b long"
    ).distinct()
    docs = spark.range(n).withColumnRenamed("id", "doc_id")
    out = duplicate_clusters(pairs, docs)
    got = {r["doc_id"]: r["cluster_rep"] for r in out.collect()}
    want = _brute_components(n, raw)
    assert got == want
    # cluster_size agrees with the component population
    sizes = {r["doc_id"]: r["cluster_size"] for r in out.collect()}
    from collections import Counter

    pop = Counter(want.values())
    assert all(sizes[x] == pop[want[x]] for x in range(n))


def test_duplicate_clusters_local_and_distributed_paths_agree(spark):
    # the size-gated driver fast path (vectorized min-label /
    # pointer-jump) must be row-identical to the distributed
    # propagation loop it short-circuits — forced both ways via
    # max_local_edges on a graph mixing chains, a star, cycles and
    # singletons
    from modelardb_spark.operators.dedup import duplicate_clusters

    rng = np.random.RandomState(11)
    n = 300
    raw = [
        (int(a), int(b))
        for a, b in rng.randint(0, n, size=(180, 2))
        if a != b
    ]
    raw += [(i, i + 1) for i in range(200, 230)]  # a path component
    raw += [(250, i) for i in range(251, 280)]  # a star component
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in raw], "doc_a long, doc_b long"
    ).distinct()
    docs = spark.range(n + 20).withColumnRenamed("id", "doc_id")
    local = sorted(
        map(tuple, duplicate_clusters(pairs, docs).collect())
    )
    dist = sorted(
        map(
            tuple,
            duplicate_clusters(
                pairs, docs, max_local_edges=0
            ).collect(),
        )
    )
    assert local == dist
    want = _brute_components(n + 20, raw)
    assert {t[0]: t[1] for t in local} == want


def test_duplicate_clusters_chain_worst_case_converges(spark):
    # a 64-node path is the worst diameter for label propagation;
    # pointer jumping must close it in O(log n) rounds (cap 25)
    from modelardb_spark.operators.dedup import duplicate_clusters

    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    docs = spark.range(n).withColumnRenamed("id", "doc_id")
    out = duplicate_clusters(pairs, docs).collect()
    assert all(r["cluster_rep"] == 0 and r["cluster_size"] == n for r in out)


def test_duplicate_clusters_singletons_and_empty(spark):
    from modelardb_spark.operators.dedup import duplicate_clusters

    docs = spark.range(5).withColumnRenamed("id", "doc_id")
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    out = duplicate_clusters(empty, docs).collect()
    assert len(out) == 5
    assert all(
        r["cluster_rep"] == r["doc_id"] and r["cluster_size"] == 1
        for r in out
    )


def test_duplicate_clusters_hub_star_graph(spark):
    # a boilerplate doc duplicated n times yields a hub: node 0
    # connected to every other. MIN-aggregation keeps this a hot KEY
    # (map-side combinable), never a hot task, and one propagation
    # round must settle it.
    from modelardb_spark.operators.dedup import duplicate_clusters

    n = 500
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, n)], "doc_a long, doc_b long"
    )
    docs = spark.range(n + 50).withColumnRenamed("id", "doc_id")  # +50 singletons
    out = duplicate_clusters(pairs, docs).collect()
    assert len(out) == n + 50
    for r in out:
        if r["doc_id"] < n:
            assert r["cluster_rep"] == 0 and r["cluster_size"] == n
        else:
            assert r["cluster_rep"] == r["doc_id"] and r["cluster_size"] == 1


def test_decontaminate_flags_quoted_benchmark_docs(spark, docs):
    from modelardb_spark.operators.dedup import decontaminate

    # "benchmark" = 5 corpus docs verbatim (worst-case leakage) plus
    # one unseen doc; contaminated must include exactly those 5 (and
    # any true shingle-sharers), never docs with < min_shared overlap
    bench = docs.limit(5).unionByName(
        spark.createDataFrame(
            [(999999, "entirely novel benchmark question nothing shares", "en", "t", 48)],
            docs.schema,
        )
    )
    out = decontaminate(docs, bench, min_shared=2)
    flagged = {r["doc_id"] for r in out.where("contaminated").collect()}
    assert {r["doc_id"] for r in docs.limit(5).collect()} <= flagged
    total = out.count()
    assert total == docs.count()  # every doc gets a verdict row
    by_id = {r["doc_id"]: r for r in out.collect()}
    # verdict is exactly the threshold on shared_shingles
    assert all(
        (r["shared_shingles"] >= 2) == r["contaminated"]
        for r in by_id.values()
    )


def test_decontaminate_is_broadcast_map_only(spark, docs):
    from modelardb_spark.operators.dedup import decontaminate

    plan = (
        decontaminate(docs, docs.limit(3))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan  # eval-set side broadcast
    assert "CartesianProduct" not in plan


def test_sample_one_per_cluster_deterministic_unbiased(spark):
    from modelardb_spark.operators.dedup import (
        duplicate_clusters,
        sample_one_per_cluster,
    )

    # 3 clusters of 4 + 3 singletons
    pairs = spark.createDataFrame(
        [(base, base + j) for base in (0, 10, 20) for j in (1, 2, 3)],
        "doc_a long, doc_b long",
    )
    docs = spark.createDataFrame(
        [(i,) for i in (0, 1, 2, 3, 10, 11, 12, 13, 20, 21, 22, 23, 90, 91, 92)],
        "doc_id long",
    )
    clusters = duplicate_clusters(pairs, docs).cache()
    kept = sample_one_per_cluster(clusters, seed=1).collect()
    assert len(kept) == 6  # 3 clusters + 3 singletons
    by_rep = {r["cluster_rep"]: r for r in kept}
    assert by_rep[0]["cluster_size"] == 4
    assert by_rep[90]["doc_id"] == 90 and by_rep[90]["cluster_size"] == 1
    # deterministic: same seed -> same picks
    again = {r["cluster_rep"]: r["doc_id"]
             for r in sample_one_per_cluster(clusters, seed=1).collect()}
    assert again == {k: v["doc_id"] for k, v in by_rep.items()}
    # unbiased: across seeds, a 4-member cluster's pick must vary
    picks = {
        sample_one_per_cluster(clusters, seed=s)
        .where("cluster_rep = 0").first()["doc_id"]
        for s in range(8)
    }
    assert len(picks) > 1
    clusters.unpersist()


# ---------------------------------------------------------------------------
# sequence packing


def test_pack_sequences_budget_and_coverage(spark, docs):
    from modelardb_spark.operators.packing import pack_sequences

    budget = 200
    out = pack_sequences(docs, budget=budget, parts=4).cache()
    # every doc packed exactly once
    assert out.count() == docs.count()
    assert out.select("doc_id").distinct().count() == docs.count()
    # no sequence exceeds the budget (counting truncated docs at budget)
    seq = out.withColumn(
        "eff", F.least(F.col("n_tokens"), F.lit(budget))
    ).groupBy("seq_id").agg(F.sum("eff").alias("seq_tokens"))
    assert seq.where(F.col("seq_tokens") > budget).count() == 0
    # truncated iff longer than budget
    assert (
        out.where(
            (F.col("n_tokens") > budget) != F.col("truncated")
        ).count()
        == 0
    )
    # deterministic across runs
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, pack_sequences(docs, budget=budget, parts=4).collect()))
    assert a == b
    out.unpersist()


def test_pack_sequences_fill_ratio_uniform_docs(spark):
    from modelardb_spark.operators.packing import pack_sequences

    # 400 docs of exactly 10 tokens, budget 100 -> perfect packing is
    # 40 sequences; per-group BFD must land within one extra open
    # sequence per group (4 groups)
    rows = [(i, " ".join(["tok"] * 10)) for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_sequences(docs, budget=100, parts=4)
    n_seq = out.select("seq_id").distinct().count()
    assert n_seq <= 40 + 4
    # fill ratio of full sequences
    seq = out.groupBy("seq_id").agg(F.sum("n_tokens").alias("t"))
    assert seq.where("t = 100").count() >= 36


def test_pii_scrub_redacts_and_counts(spark):
    from modelardb_spark.operators.textstats import pii_scrub

    rows = [
        (1, "mail me at alice.b+spam@example.co.uk or bob@x.io today"),
        (2, "ssn 123-45-6789 and phone +1 (555) 123-4567 on file"),
        (3, "server at 192.168.0.1 answered"),
        (4, "no pii here at all"),
        (5, ""),
    ]
    out = {
        r["doc_id"]: r
        for r in pii_scrub(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    assert out[1]["n_email"] == 2 and out[1]["pii_total"] == 2
    assert "<EMAIL>" in out[1]["text"] and "@" not in out[1]["text"]
    assert out[2]["n_ssn"] == 1 and "<SSN>" in out[2]["text"]
    assert "<PHONE>" in out[2]["text"]
    # the SSN also matches the looser phone pattern on raw text — the
    # ordered chain must NOT double-redact, and pii_total counts the
    # replacements actually made (2), not the overlapping raw hits
    assert out[2]["n_phone"] >= 2  # raw-text hits include the SSN
    assert out[2]["pii_total"] == 2
    assert out[3]["n_ipv4"] == 1 and "<IP>" in out[3]["text"]
    assert "192.168.0.1" not in out[3]["text"]
    assert out[4]["pii_total"] == 0 and out[4]["text"] == rows[3][1]
    assert out[5]["pii_total"] == 0 and out[5]["text"] == ""


def test_pii_scrub_matches_duckdb_oracle(spark, docs):
    """The identical regexes run in DuckDB (RE2): scrubbed text and
    per-category counts must agree engine-for-engine on real docs."""
    import duckdb

    from modelardb_spark.operators.textstats import PII_PATTERNS, pii_scrub

    pdf = docs.select("doc_id", "text").toPandas()
    con = duckdb.connect()
    con.register("docs", pdf)
    scrub_expr = "text"
    for _, pat, token in PII_PATTERNS:
        scrub_expr = f"regexp_replace({scrub_expr}, '{pat}', '{token}', 'g')"
    counts = ", ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    oracle = {
        r[0]: r[1:]
        for r in con.execute(
            f"SELECT doc_id, {scrub_expr} AS text, {counts} FROM docs"
        ).fetchall()
    }
    got = pii_scrub(docs).collect()
    assert len(got) == len(oracle)
    for r in got:
        o_text, o_email, o_ssn, o_ipv4, o_phone = oracle[r["doc_id"]]
        assert r["text"] == o_text, r["doc_id"]
        assert (r["n_email"], r["n_ssn"], r["n_ipv4"], r["n_phone"]) == (
            o_email, o_ssn, o_ipv4, o_phone,
        ), r["doc_id"]


def test_repetition_stats_fixture(spark):
    from modelardb_spark.operators.textstats import repetition_stats

    rows = [
        (1, "same line\nsame line\nsame line\nother"),
        (2, "a a a a b"),
        (3, "all unique words here\nsecond line"),
        (4, ""),
        (5, "   \n \n  "),  # whitespace-only lines/words
    ]
    out = {
        r["doc_id"]: r
        for r in repetition_stats(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    # 4 non-empty lines, 2 distinct -> 1 - 2/4
    assert out[1]["n_lines"] == 4 and out[1]["dup_line_frac"] == 0.5
    assert out[2]["top_word_frac"] == 0.8 and out[2]["n_words"] == 5
    assert out[3]["dup_line_frac"] == 0.0
    assert out[3]["top_word_frac"] == pytest.approx(1 / 6, abs=1e-6)
    assert out[4]["n_lines"] == 0 and out[4]["dup_line_frac"] == 0.0
    assert out[5]["n_words"] == 0 and out[5]["top_word_frac"] == 0.0


def test_pii_and_repetition_are_map_only(spark, docs):
    """Scrub + repetition must stay shuffle-free single-projection
    plans (no Exchange, no Python workers) — the 100 TB requirement."""
    from modelardb_spark.operators.textstats import (
        pii_scrub,
        repetition_stats,
    )

    for op in (pii_scrub, repetition_stats):
        plan = op(docs)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Python" not in plan, plan


def test_synthetic_documents_planted_structure(spark):
    from modelardb_spark.operators.dedup import exact_duplicates
    from modelardb_spark.operators.textstats import synthetic_documents

    docs = synthetic_documents(spark, n_docs=1000, words_per_doc=20)
    assert docs.count() == 1000
    # deterministic across invocations and partitionings
    a = docs.orderBy("doc_id").limit(5).collect()
    b = (
        synthetic_documents(spark, n_docs=1000, words_per_doc=20)
        .repartition(7)
        .orderBy("doc_id")
        .limit(5)
        .collect()
    )
    assert a == b
    # exact dups: id%10==8 copies base id-(id%100) -> 100 exact-dup
    # docs, each equal to its family base's text
    rows = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert rows[108] == rows[100]
    assert rows[9].startswith(rows[0]) and rows[9].endswith(" near9")
    # exact families at n=1000: 10 bases (0,100,...,900), each with 10
    # %10==8 members -> 110 docs sit in a group_size-11 family;
    # near-dups (%10==9) append a suffix so they are NOT exact members
    dup_rows = exact_duplicates(docs).where("group_size > 1")
    assert dup_rows.count() == 110
    assert dup_rows.select("group_size").distinct().collect()[0][0] == 11


def test_near_dup_clusters_equivalent_to_uncollapsed(spark):
    """Pre-collapsing exact dups must be invisible in the output:
    row-for-row identical clusters on a corpus with planted exact
    families, near-dup members, and singletons."""
    from modelardb_spark.operators.dedup import (
        duplicate_clusters,
        minhash_lsh_pairs,
        near_dup_clusters,
    )
    from modelardb_spark.operators.textstats import synthetic_documents

    docs = synthetic_documents(spark, 2000, words_per_doc=20).persist()
    base = duplicate_clusters(
        minhash_lsh_pairs(docs, jaccard_threshold=0.5), docs
    )
    fast = near_dup_clusters(docs, jaccard_threshold=0.5)
    a = sorted(map(tuple, base.collect()))
    b = sorted(map(tuple, fast.collect()))
    assert a == b
    docs.unpersist()


def test_near_dup_clusters_short_docs_stay_singletons(spark):
    """Docs below the shingle floor (< 3 tokens, or empty) can never be
    paired by the LSH path, so the exact-collapse prepass must leave
    them as singletons too — even byte-identical ones."""
    from modelardb_spark.operators.dedup import (
        duplicate_clusters,
        minhash_lsh_pairs,
        near_dup_clusters,
    )

    rows = [(i, "ok") for i in range(5)]  # identical 1-token docs
    rows += [(10, ""), (11, ""), (12, "  ")]  # empty/whitespace
    rows += [(20, "a b"), (21, "a b")]  # identical 2-token docs
    rows += [
        (30, "w1 w2 w3 w4 w5 w6 w7 w8"),
        (31, "w1 w2 w3 w4 w5 w6 w7 w8"),  # identical shingled docs
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = duplicate_clusters(
        minhash_lsh_pairs(docs, jaccard_threshold=0.5), docs
    )
    fast = near_dup_clusters(docs, jaccard_threshold=0.5)
    a = sorted(map(tuple, base.collect()))
    b = sorted(map(tuple, fast.collect()))
    assert a == b
    by_id = dict((r[0], r) for r in b)
    assert by_id[1] == (1, 1, 1)  # short identical doc: singleton
    assert by_id[31] == (31, 30, 2)  # shingled identical doc: clustered


def test_synthetic_documents_degenerate_plant_gated(spark):
    from modelardb_spark.operators.textstats import (
        repetition_filter,
        repetition_stats,
        synthetic_documents,
    )

    docs = synthetic_documents(spark, 1000, words_per_doc=20)
    stats = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    degs = [i for i in range(1000) if i % 100 == 7]
    assert len(degs) == 10
    for i in degs:
        assert stats[i]["top_word_frac"] == 1.0
    kept = repetition_filter(docs, max_top_word_frac=0.9)
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert kept_ids == set(range(1000)) - set(degs)


def test_pack_sequences_string_doc_ids(spark):
    """The packer's output schema must follow the corpus id type —
    string/UUID doc ids are a common corpus shape (ADVICE r6)."""
    from pyspark.sql import functions as F

    from modelardb_spark.operators.packing import pack_sequences
    from modelardb_spark.operators.textstats import synthetic_documents

    docs = synthetic_documents(spark, 200, words_per_doc=10).select(
        F.concat(F.lit("doc-"), F.col("doc_id")).alias("doc_id"), "text", "lang"
    )
    out = pack_sequences(docs, budget=64, parts=2)
    rows = out.collect()
    assert len(rows) == 200
    assert all(isinstance(r["doc_id"], str) for r in rows[:5])
    per_seq = {}
    for r in rows:
        per_seq.setdefault(r["seq_id"], 0)
        per_seq[r["seq_id"]] += min(r["n_tokens"], 64)
    assert all(v <= 64 for v in per_seq.values())


def test_ngram_pairs_identical_across_chunk_budgets(spark, docs):
    """The task-side memory-budget chunking of the ngram pair counter
    must never change the result: force many tiny chunks and compare
    with the single-chunk run."""
    from modelardb_spark.operators import dedup

    full = sorted(map(tuple, dedup.ngram_jaccard_pairs(docs, 0.3).collect()))
    assert len(full) > 0
    old = dedup.NGRAM_MAX_EXPAND
    dedup.NGRAM_MAX_EXPAND = 50  # a few docs per chunk
    try:
        tiny = sorted(
            map(tuple, dedup.ngram_jaccard_pairs(docs, 0.3).collect())
        )
    finally:
        dedup.NGRAM_MAX_EXPAND = old
    assert tiny == full
