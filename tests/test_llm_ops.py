"""Operator-level tests for the LLM data-pipeline layer."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from flink_tank_spark.functions.numeric import davg
from flink_tank_spark.io.tables import load_table
from flink_tank_spark.operators import dedup, multimodal, similarity


def test_multimodal_encode_decode_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "x" * 700)], ["media_id", "payload"]
    )
    media = multimodal.encode_fake(df, "media_id", "payload", kind="video")
    decoded = multimodal.decode_stub(media)
    rows = {r.media_id: r for r in decoded.collect()}
    assert rows[1].width == 11 % 640 + 16
    assert rows[1].height == 11 % 480 + 16
    assert rows[1].n_frames == 11 % 30 + 1
    assert rows[1].n_payload_bytes == 11
    assert rows[2].width == 700 % 640 + 16  # width wraps past 640
    assert rows[2].n_payload_bytes == 700
    assert rows[2].kind == "video"


def test_multimodal_frame_sample(spark):
    df = spark.createDataFrame([(1, "a" * 25)], ["media_id", "payload"])  # 26 frames
    media = multimodal.encode_fake(df, "media_id", "payload")
    frames = multimodal.frame_sample(media, every_nth=10).collect()
    assert [f.frame_idx for f in frames] == [0, 10, 20]


def test_wav_roundtrip_through_real_codec(spark):
    """encode_wav builds genuine RIFF/WAVE files and decode_real parses
    them with the stdlib wave codec: 'abc' -> 4 padded PCM bytes -> 2
    frames at 8000 + 4%8*1000 = 12000 Hz."""
    df = spark.createDataFrame([(1, "abc"), (2, "abcd")], ["doc_id", "text"])
    media = multimodal.encode_wav(df)
    raw = {r.media_id: bytes(r.content) for r in media.collect()}
    assert raw[1][:4] == b"RIFF" and raw[1][8:12] == b"WAVE"
    rows = {r.media_id: r for r in multimodal.decode_real(media).collect()}
    assert rows[1].format == "wav"
    assert (rows[1].n_channels, rows[1].sample_width) == (1, 2)
    assert rows[1].n_frames == 2 and rows[1].frame_rate == 12000
    assert rows[2].n_frames == 2 and rows[2].frame_rate == 12000


def test_decode_real_parses_png_and_rejects_unknown(spark):
    """decode_real handles a genuine PNG (IHDR parse + CRC check) and
    raises for formats that truly need PIL/ffmpeg."""
    import struct
    import zlib

    ihdr_data = struct.pack(">IIBBBBB", 320, 200, 8, 2, 0, 0, 0)
    ihdr = (
        struct.pack(">I", 13) + b"IHDR" + ihdr_data
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr_data) & 0xFFFFFFFF)
    )
    png = b"\x89PNG\r\n\x1a\n" + ihdr
    df = spark.createDataFrame([(1, "image", bytearray(png))], ["media_id", "kind", "content"])
    row = multimodal.decode_real(df).collect()[0]
    assert (row.format, row.width, row.height) == ("png", 320, 200)

    bad = spark.createDataFrame(
        [(2, "image", bytearray(b"\xff\xd8\xff\xe0JFIF-ish"))],
        ["media_id", "kind", "content"],
    )
    with pytest.raises(Exception, match="PIL/ffmpeg"):
        multimodal.decode_real(bad).collect()


def test_lsh_recalls_known_near_dups(spark, sf_dir):
    """The synthetic corpus contains ~0.99-Jaccard pairs; MinHash-LSH
    blocking must recover them (2 bands x 2 rows at j=0.99 misses with
    probability ~(1-0.98)^2 ~ 4e-4)."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, n_perms=4)
    cands = dedup.lsh_candidate_pairs(sigs, rows_per_band=2)
    cand_pairs = {(r.id_a, r.id_b) for r in cands.collect()}
    # ground truth: top pairs by exact jaccard
    pairs = dedup.jaccard_pairs(dedup.shingle_sets(docs))
    top = pairs.filter(F.col("jaccard") > 0.9).collect()
    assert len(top) > 0
    missed = [(r.id_a, r.id_b) for r in top if (r.id_a, r.id_b) not in cand_pairs]
    assert missed == []


def test_simhash_close_for_near_dups(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(dedup.shingle_sets(docs))
    top = pairs.orderBy(F.desc("jaccard")).limit(1).collect()[0]
    sh = {r.doc_id: r.simhash for r in dedup.simhash_bits(
        docs.filter(F.col("doc_id").isin(top.id_a, top.id_b))).collect()}
    hamming = sum(a != b for a, b in zip(sh[top.id_a], sh[top.id_b]))
    assert hamming <= 8  # near-dups agree on almost all simhash bits


def test_ivf_topk_recall_vs_exact(spark, sf_dir):
    """IVF searches one cell, so recall < 1 by design — but the top-1
    neighbor of each query should usually share the query's cell."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(emb, queries, k=1).collect()
    from flink_tank_spark.plans.llm import emb_ivf_topk

    ivf = emb_ivf_topk(spark, sf_dir)
    ivf_top1 = {r.query_id: r.neighbor_id for r in ivf.collect() if r.rk == 1}
    agree = sum(1 for r in exact if ivf_top1.get(r.query_id) == r.neighbor_id)
    assert agree >= 3  # partial recall is expected; zero would be a bug


def test_two_stage_topk_exhaustive_coarse_equals_exact(spark, sf_dir):
    """With coarse_k >= corpus size every vector survives the coarse
    stage, so the two-stage result must be BIT-identical to single-stage
    exact cosine top-k (same fixed-point scorer, same tie-breaks) —
    pinning that staging alone never changes values. At a small
    coarse_k the result stays a subset-rerank: full-dim scores of its
    rows must equal the exact scores for those pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    n = emb.count()
    exact = similarity.cosine_topk(emb, queries, k=5)
    exhaustive = similarity.two_stage_topk(
        emb, queries, k=5, coarse_dims=16, coarse_k=n
    )
    assert sorted(map(tuple, exact.collect())) == sorted(
        map(tuple, exhaustive.collect())
    )
    narrow = similarity.two_stage_topk(
        emb, queries, k=5, coarse_dims=16, coarse_k=10
    ).collect()
    exact_scores = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in similarity.cosine_topk(emb, queries, k=n).collect()
    }
    assert narrow
    for r in narrow:
        assert exact_scores[(r.query_id, r.neighbor_id)] == r.cos_sim


def test_jaccard_df_prune_rescores_exactly(spark):
    """df-pruned candidate generation must (a) drop pairs connected only
    through hot shingles and (b) return EXACT jaccard for survivors."""
    rows = [
        # docs 1,2: near-identical (share rare shingles)
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),
        # docs 3,4: share ONLY the ubiquitous 'common common common' shingle
        (3, "common common common three x1 y1"),
        (4, "common common common four x2 y2"),
        (5, "common common common five x3 y3"),
        (6, "common common common six x4 y4"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    shingled = dedup.shingle_sets(docs)
    exact = {(r.id_a, r.id_b): (r.n_common, r.jaccard)
             for r in dedup.jaccard_pairs(shingled).collect()}
    pruned = {(r.id_a, r.id_b): (r.n_common, r.jaccard)
              for r in dedup.jaccard_pairs(shingled, max_df=3).collect()}
    # 'common common common' appears in 4 docs > max_df=3: pairs among
    # docs 3..6 are connected only through it and must be pruned
    assert (3, 4) in exact and (3, 4) not in pruned
    # the rare-shingle pair survives with UNCHANGED exact values
    assert (1, 2) in pruned
    assert pruned[(1, 2)] == exact[(1, 2)]


def test_lsh_bucket_cap_drops_degenerate_bucket(spark):
    """A bucket holding more docs than max_bucket_size must not generate
    candidate pairs (degenerate-bucket guardrail)."""
    # 10 identical docs -> identical signatures -> one bucket of size 10
    docs = spark.createDataFrame(
        [(i, "same words every time here") for i in range(10)]
        + [(100, "alpha beta gamma delta epsilon"), (101, "alpha beta gamma delta epsilon")],
        ["doc_id", "text"],
    )
    sigs = dedup.minhash_signatures(docs, n_perms=4)
    uncapped = dedup.lsh_candidate_pairs(sigs, rows_per_band=2).count()
    capped = dedup.lsh_candidate_pairs(sigs, rows_per_band=2, max_bucket_size=5)
    capped_pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    assert uncapped == 45 + 1  # C(10,2) degenerate + the real pair
    assert capped_pairs == {(100, 101)}  # degenerate bucket dropped entirely


def test_ivf_multiprobe_supersets_single_probe(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < 8)
    one = {(r.vec_id, r.centroid_id)
           for r in similarity.ivf_assign(emb, cent, probes=1).collect()}
    two = {(r.vec_id, r.centroid_id)
           for r in similarity.ivf_assign(emb, cent, probes=2).collect()}
    assert one < two and len(two) == 2 * len(one)


def test_kmeans_seeds_from_k_smallest_ids_on_sparse_ids(spark):
    """Seed init must take the k SMALLEST ids, not filter(id < k): on a
    corpus whose ids are sparse/offset (here 1000, 1007, ...), the old
    filter silently produced 0 seeds. k-means must still return k
    centroids, keyed by the actual smallest ids."""
    import random

    rng = random.Random(7)
    rows = [(1000 + 7 * i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(20)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cent = similarity.kmeans_centroids(emb, k=4, iters=1)
    got = sorted(r.centroid_id for r in cent.select("centroid_id").collect())
    assert got == [1000, 1007, 1014, 1021]


def kmeans_centroids_plan(vectors, k: int, iters: int):
    """Plan-based REFERENCE for :func:`similarity.kmeans_centroids`: the
    same deterministic Lloyd k-means in pure DataFrame ops (smallest-id
    seeds, fixed-point cosine assignment, davg means recomposed with
    array_sort), the shape the DuckDB oracle SQL mirrors. Its physical
    plan re-nests per iteration, which is why the engine trains with one
    fused Arrow crossing per iteration instead."""
    cent = (
        vectors.orderBy("vec_id")
        .limit(k)
        .select(
            F.col("vec_id").alias("centroid_id"),
            similarity.as_double_array(F.col("embedding")).alias("cv"),
        )
    )
    for _ in range(iters):
        assigned = similarity.ivf_assign(
            vectors,
            cent.select(F.col("centroid_id").alias("vec_id"), F.col("cv").alias("embedding")),
        )
        means = (
            assigned.select("centroid_id", F.posexplode("v").alias("dim", "val"))
            .groupBy("centroid_id", "dim")
            .agg(davg("val", "mval"))
        )
        cent = means.groupBy("centroid_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mval"))),
                lambda s: s["mval"],
            ).alias("cv")
        )
    return cent


def kmeans_centroids_l2_plan(vectors, k: int, iters: int):
    """Plan-based REFERENCE for :func:`similarity.kmeans_centroids_l2`:
    :func:`kmeans_centroids_plan` with the assignment metric swapped to
    exact fixed-point squared L2, means over the assignment joined back
    to ``vectors``."""
    cent = (
        vectors.orderBy("vec_id")
        .limit(k)
        .select(
            F.col("vec_id").alias("centroid_id"),
            similarity.as_double_array(F.col("embedding")).alias("cv"),
        )
    )
    for _ in range(iters):
        assigned = similarity.l2_assign(vectors, cent)
        joined = assigned.join(vectors, "vec_id").select(
            "centroid_id",
            F.posexplode(similarity.as_double_array(F.col("embedding"))).alias("dim", "val"),
        )
        means = joined.groupBy("centroid_id", "dim").agg(davg("val", "mval"))
        cent = means.groupBy("centroid_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mval"))),
                lambda s: s["mval"],
            ).alias("cv")
        )
    return cent


def test_kmeans_fused_matches_plan_reference(spark, sf_dir):
    """The driver-coordinated fused Lloyd trainers (one Arrow crossing
    per iteration) must be BIT-EQUAL to the plan-based reference
    constructions — same seeds, same fixed-point assignment tie-breaks,
    same davg means — for both metrics, across k/iters shapes, and when
    a zero-norm vector lands in the cosine seed set (it must drop out
    identically)."""
    emb = load_table(spark, sf_dir, "embeddings")

    def rows(df):
        return sorted((r.centroid_id, list(r.cv)) for r in df.collect())

    for k, iters in [(8, 2), (3, 1)]:
        assert rows(similarity.kmeans_centroids(emb, k=k, iters=iters)) == rows(
            kmeans_centroids_plan(emb, k=k, iters=iters)
        ), ("cosine", k, iters)
    sub = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    assert rows(similarity.kmeans_centroids_l2(sub, k=16, iters=2)) == rows(
        kmeans_centroids_l2_plan(sub, k=16, iters=2)
    ), "l2"
    # zero-norm seed edge: smallest id is a zero vector -> excluded from
    # every assignment pass, so its cell starves and drops out of cent_1.
    dim = len(emb.first()["embedding"])
    zero = spark.createDataFrame([(-1, [0.0] * dim)], "vec_id long, embedding array<double>")
    embz = zero.unionByName(
        emb.select("vec_id", similarity.as_double_array(F.col("embedding")).alias("embedding"))
    )
    a = rows(similarity.kmeans_centroids(embz, k=4, iters=2))
    assert a == rows(kmeans_centroids_plan(embz, k=4, iters=2))
    assert -1 not in [c for c, _ in a]


def test_pq_codebooks_match_per_subspace_trainer(spark, sf_dir):
    """The fused multi-subspace PQ trainer (one corpus pass per Lloyd
    iteration covering every subspace) must be BIT-EQUAL, per subspace,
    to the reference per-slice L2 trainer."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.pq_train_codebooks(emb, m_sub=4, sub_dim=16, codes=16, iters=2)
    for m in range(4):
        sub = emb.select("vec_id", F.slice("embedding", m * 16 + 1, 16).alias("embedding"))
        ref = kmeans_centroids_l2_plan(sub, k=16, iters=2)
        a = sorted((r.centroid_id, list(r.cv)) for r in books[m].collect())
        b = sorted((r.centroid_id, list(r.cv)) for r in ref.collect())
        assert a == b, f"subspace {m}"


def test_similarity_layer_has_no_nested_loop_join(spark, sf_dir):
    """Blocking means equi joins everywhere: no BroadcastNestedLoopJoin
    may appear in the near-dup or top-k plans."""
    import io
    import contextlib

    from flink_tank_spark.plans.llm import emb_near_dup_pairs, emb_ivf_topk

    for q in (emb_near_dup_pairs, emb_ivf_topk):
        df = q(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        assert "BroadcastNestedLoopJoin" not in buf.getvalue(), q.__name__


def test_connected_components_resolves_chained_groups(spark):
    """A~B and B~C must land in ONE group even though (A,C) was never a
    detected pair — the reason dedup resolves components, not pairs."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 9), (20, 21)], ["id_a", "id_b"]
    )
    got = {r.doc_id: r.canon_id for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 9: 1, 20: 20, 21: 20}


def test_connected_components_converges_on_long_chain(spark):
    """A 12-node path graph needs 11 propagation hops — far beyond any
    fixed small iteration count. The fixpoint loop (stop when no label
    changes, iters only a safety cap) must label the whole chain with
    the single min id."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], ["id_a", "id_b"]
    )
    got = {r.doc_id: r.canon_id for r in dedup.connected_components(pairs).collect()}
    assert got == {i: 1 for i in range(1, 13)}


def test_connected_components_reliable_checkpoint(spark, cluster_mode):
    """Cluster mode swaps localCheckpoint for reliable checkpoint()
    (survives executor loss); results are identical."""
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], ["id_a", "id_b"])
    got = {r.doc_id: r.canon_id for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
    assert any(files for _, _, files in os.walk(cluster_mode)), "no reliable checkpoint written"


def test_lsh_pairs_reliable_checkpoint(spark, cluster_mode, monkeypatch):
    """Cluster mode swaps the candidate stage's localCheckpoint for
    reliable checkpoint() (the r14 bucket-rows materialization must
    survive executor loss); pairs are identical to the local path."""
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # exact duplicate: J=1.0, guaranteed LSH pair
            (3, "a completely different document about spark joins"),
        ],
        ["doc_id", "text"],
    )
    reliable = {(r.id_a, r.id_b) for r in dedup.lsh_near_dup_pairs(docs).collect()}
    assert any(files for _, _, files in os.walk(cluster_mode)), "no reliable checkpoint written"
    monkeypatch.undo()  # back to local mode for the reference run
    local = {(r.id_a, r.id_b) for r in dedup.lsh_near_dup_pairs(docs).collect()}
    assert reliable == local and (1, 2) in reliable


def test_repetition_stats_on_constructed_docs(spark):
    """Known repetition values: 'a a a a' is 75% duplicate words and
    2/3 duplicate 2-grams; a fully distinct doc scores 0.0 everywhere."""
    from flink_tank_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "w x y z"), (3, "ab")], ["doc_id", "text"]
    ).select("doc_id", "text", F.split("text", " ").alias("_w"))
    stats = repetition_stats(F.col("_w"), F.col("text"))
    rows = {
        r.doc_id: r
        for r in df.select(
            "doc_id", *[v.alias(k) for k, v in stats.items()]
        ).collect()
    }
    assert rows[1].dup_word_frac == 0.75
    assert abs(rows[1].dup_2gram_frac - 2 / 3) < 1e-15
    assert rows[2].dup_word_frac == 0.0 and rows[2].dup_3gram_frac == 0.0
    assert rows[3].dup_word_frac == 0.0  # short-doc [text] fallback


def test_contamination_flags_known_duplicate(spark):
    """A corpus doc sharing its text with a benchmark doc scores 1.0;
    an unrelated doc produces no row (inner join on hits)."""
    from flink_tank_spark.plans.llm import doc_contamination
    import flink_tank_spark.io.tables as tables

    text = " ".join(f"w{i}" for i in range(20))
    other = " ".join(f"v{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(0, text, "en", "s", len(text)),      # benchmark (0 % 11 == 0)
         (1, text, "en", "s", len(text)),      # exact copy -> 1.0
         (2, other, "en", "s", len(other))],   # clean -> no row
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    orig = tables.load_table
    try:
        tables.load_table = lambda s, d, n: docs
        import flink_tank_spark.plans.llm as llm_mod
        llm_orig = llm_mod.load_table
        llm_mod.load_table = tables.load_table
        try:
            out = {r.doc_id: r for r in doc_contamination(spark, "unused").collect()}
        finally:
            llm_mod.load_table = llm_orig
    finally:
        tables.load_table = orig
    assert set(out) == {1}
    assert out[1].contamination == 1.0


def test_dedup_corpus_counts_are_consistent(spark, sf_dir):
    """kept + dropped == total per source, and the global dropped count
    equals the number of non-canonical docs in the component table."""
    from flink_tank_spark.plans.llm import doc_dedup_corpus, doc_dedup_groups

    rows = doc_dedup_corpus(spark, sf_dir).collect()
    assert all(r.n_kept + r.n_dropped == r.n_docs for r in rows)
    n_dropped_total = sum(r.n_dropped for r in rows)
    canon = doc_dedup_groups(spark, sf_dir).collect()
    assert n_dropped_total == sum(1 for r in canon if r.canon_id < r.doc_id)


def test_dot_vectorized_bit_equals_hof(spark):
    """The Arrow-vectorized fixed-point dot must be BIT-identical to the
    interpreted HOF fold on adversarial values (denormal-ish, huge-ish,
    negative) — the invariant that makes the fast path safe to swap in."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(64)], [rng.uniform(-1, 1) for _ in range(64)])
        for i in range(200)
    ]
    rows += [(900, [1e-7] * 64, [1e-7] * 64), (901, [0.999999] * 64, [-0.999999] * 64)]
    df = spark.createDataFrame(rows, ["i", "a", "b"])
    got = (
        df.select(
            "i",
            similarity.dot(F.col("a"), F.col("b")).alias("hof"),
            similarity.dot_vectorized(F.col("a"), F.col("b")).alias("vec"),
        )
        .collect()
    )
    for r in got:
        assert r.hof == r.vec, (r.i, r.hof, r.vec)


def test_bm25_ranks_exact_term_overlap_first(spark):
    """A doc sharing the query's rare terms outranks one sharing only a
    corpus-wide common term, and the query doc never matches itself."""
    from flink_tank_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [
            (0, "zebra quark common"),
            (1, "zebra quark common filler filler"),  # both rare terms
            (2, "common filler filler filler"),       # only the common term
            (3, "common zebra filler filler"),        # one rare term
        ],
        ["doc_id", "text"],
    )
    out = bm25_topk(docs, query_ids=[0], k=3).collect()
    assert all(r.query_id == 0 and r.match_id != 0 for r in out)
    ranked = [r.match_id for r in sorted(out, key=lambda r: r.rk)]
    assert ranked[0] == 1 and ranked[1] == 3 and ranked[2] == 2


def test_resize_fake_halves_dims_and_subsamples_payload(spark):
    """resize_fake: dims halved, payload keeps every 2nd byte — checked
    against a locally computed md5 of the expected subsample."""
    import hashlib

    df = spark.createDataFrame([(1, "abcdefg")], ["media_id", "payload"])
    media = multimodal.encode_fake(df, "media_id", "payload")
    row = multimodal.resize_fake(media, scale=2).collect()[0]
    assert (row.width, row.height) == ((7 % 640 + 16) // 2, (7 % 480 + 16) // 2)
    assert row.n_payload_bytes == 4  # 'aceg'
    # checksum contract: md5 of the lowercase hex of the subsampled
    # bytes (byte-accurate + expressible in DuckDB, whose md5 is
    # VARCHAR-only)
    assert row.payload_md5 == hashlib.md5(b"aceg".hex().encode()).hexdigest()


def test_connected_components_raises_on_cap_without_convergence(spark):
    """Hitting the iteration cap unconverged must raise, never silently
    return split labels (they would under-deduplicate downstream)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="iteration cap"):
        dedup.connected_components(pairs, iters=3)


def test_zero_norm_exclusion_matches_oracle(spark, tmp_path):
    """Zero-norm vectors (cosine undefined) must be dropped IDENTICALLY
    by the engine and the DuckDB oracle mirror. Regression for the
    round-5 advice: the engine filtered ``norm > 0`` but the oracle SQL
    scored them — DuckDB sorts NaN FIRST under ORDER BY DESC, so a
    zero-norm fixture row would have hash-diverged the gate."""
    import duckdb
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(7)
    vecs = [rng.randn(8).astype("float32") for _ in range(30)]
    vecs[3] = np.zeros(8, dtype="float32")   # inside the query id range
    vecs[20] = np.zeros(8, dtype="float32")  # corpus side
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(30, dtype="int64"),
            "embedding": [v.tolist() for v in vecs],
            "label": np.zeros(30, dtype="int32"),
        }
    )
    pdf.to_parquet(tmp_path / "embeddings.parquet")

    from flink_tank_spark.plans.llm import EMB_COSINE_TOPK_SQL, emb_cosine_topk

    sp = emb_cosine_topk(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet'"
    )
    od = con.execute(EMB_COSINE_TOPK_SQL).fetchdf()

    # the zero-norm ids appear on NEITHER side, in NEITHER role
    for frame in (sp, od):
        assert not set(frame["query_id"]) & {3, 20}
        assert not set(frame["neighbor_id"]) & {3, 20}
    # full value parity (same comparison the gate applies)
    sp_s = sp.sort_values(["query_id", "rk"]).reset_index(drop=True)
    od_s = od.sort_values(["query_id", "rk"]).reset_index(drop=True)
    assert len(sp_s) == len(od_s)
    assert (sp_s["neighbor_id"].to_numpy() == od_s["neighbor_id"].to_numpy()).all()
    assert np.allclose(sp_s["cos_sim"].to_numpy(), od_s["cos_sim"].to_numpy(), atol=0)


def test_pii_scrub_redacts_everything_and_ordering_is_safe(spark):
    """The scrubbed text must contain zero residual pattern matches,
    and email-before-phone replacement order must hold (an email whose
    local part contains digits-dash-digits must NOT leave a phone-shaped
    hole that then double-redacts)."""
    from flink_tank_spark.operators import text as T

    rows = [
        (1, "plain text no pii at all"),
        (2, "reach me at a.b-c_d%e@sub.domain.example.io today"),
        (3, "call 555-1234 or 800-0001."),
        (4, "mixed user123-456@ex.org and 123-4567 end"),
        (5, "boundary x555-1234 5551-234 555-12345"),  # no \b matches
        (6, "write 555-1234@x.com please"),  # phone-shaped INSIDE email
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    out = df.select(
        "id",
        T.pii_scrub(F.col("t")).alias("s"),
        *[v.alias(k) for k, v in T.pii_counts(F.col("t")).items()],
    ).orderBy("id").collect()
    by_id = {r.id: r for r in out}
    assert by_id[1].s == rows[0][1] and by_id[1].n_emails == 0
    assert by_id[2].s == "reach me at <EMAIL> today"
    assert by_id[3].s == "call <PHONE> or <PHONE>."
    # email local part '123-456' is swallowed by the email pass; the
    # standalone 123-4567 is a phone
    assert by_id[4].s == "mixed <EMAIL> and <PHONE> end"
    assert (by_id[4].n_emails, by_id[4].n_phones) == (1, 1)
    # \b guards: digit runs glued to letters/extra digits don't match
    assert by_id[5].s == rows[4][1] and by_id[5].n_phones == 0
    # staged counts = actual redactions: the phone-shaped substring the
    # email pass consumes is NOT also counted as a phone
    assert by_id[6].s == "write <EMAIL> please"
    assert (by_id[6].n_emails, by_id[6].n_phones) == (1, 0)
    # residual audit: re-counting on scrubbed text finds nothing
    resid = df.select(
        sum(T.pii_counts(T.pii_scrub(F.col("t"))).values()).alias("r")
    ).agg(F.sum("r").alias("total")).collect()[0].total
    assert resid == 0


def test_split_assign_is_stable_and_partitions_the_corpus(spark, sf_dir):
    """Every doc gets exactly one split; assignment is a pure function
    of doc_id (re-running on a shuffled frame gives identical rows);
    observed shares land near the 204/26/26-of-256 design."""
    from flink_tank_spark.plans.llm import _split_col

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    a = docs.select("doc_id", _split_col(F.col("doc_id")).alias("s"))
    b = docs.repartition(7).select("doc_id", _split_col(F.col("doc_id")).alias("s"))
    assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0
    shares = {r.s: r.n for r in a.groupBy("s").agg(F.count("*").alias("n")).collect()}
    n = sum(shares.values())
    assert set(shares) == {"train", "val", "test"}
    assert 0.70 <= shares["train"] / n <= 0.90
    assert 0.04 <= shares["val"] / n <= 0.17
    assert 0.04 <= shares["test"] / n <= 0.17


def _write_docs(tmp_path, rows):
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf["text"].str.len().astype("int64")
    pdf.to_parquet(str(tmp_path / "documents.parquet"), index=False)
    return str(tmp_path)


def test_span_dedup_flags_shared_passage_only(spark, tmp_path):
    """A 10-token passage shared by two docs marks exactly one span in
    each; a fully unique doc and a too-short doc report zero."""
    from flink_tank_spark.plans.llm import doc_span_dedup

    a_words = [f"a{i}" for i in range(20)]
    shared = a_words[5:15]
    b_words = shared + [f"b{i}" for i in range(5)]
    sf = _write_docs(tmp_path, [
        (1, " ".join(a_words), "en", "s"),
        (2, " ".join(b_words), "en", "s"),
        (3, " ".join(f"c{i}" for i in range(12)), "en", "s"),
        (4, "too short", "en", "s"),
    ])
    rows = {r.doc_id: r for r in doc_span_dedup(spark, sf).collect()}
    assert rows[1].n_spans == 11 and rows[1].n_dup_spans == 1
    assert rows[2].n_spans == 6 and rows[2].n_dup_spans == 1
    assert rows[3].n_spans == 3 and rows[3].n_dup_spans == 0
    assert rows[4].n_spans == 0 and rows[4].dup_frac == 0.0


def test_span_dedup_exact_duplicates_are_fully_covered(spark, tmp_path):
    """Exact-duplicate docs must have dup_frac == 1.0 — every span is
    shared with the twin — and within-doc repeats don't inflate counts
    (spans are per-doc DISTINCT)."""
    from flink_tank_spark.plans.llm import doc_span_dedup

    body = " ".join(f"d{i}" for i in range(25))
    rep = " ".join(["x"] * 30)  # one distinct span, repeated internally
    sf = _write_docs(tmp_path, [
        (1, body, "en", "s"),
        (2, body, "en", "s"),
        (3, rep, "en", "s"),
    ])
    res = {r.doc_id: r for r in doc_span_dedup(spark, sf).collect()}
    assert res[1].n_spans == 16 and res[1].dup_frac == 1.0
    assert res[2].dup_frac == 1.0
    assert res[3].n_spans == 1 and res[3].n_dup_spans == 0


def test_mix_reweight_balances_token_shares(spark, tmp_path):
    """30/10 token split across two langs -> weights 2/3 and 2.0, both
    expected-token outputs equal (the uniform target), cap respected."""
    from flink_tank_spark.plans.llm import doc_mix_reweight

    sf = _write_docs(tmp_path, [
        (1, " ".join(["w"] * 30), "en", "s"),
        (2, " ".join(["w"] * 10), "de", "s"),
    ])
    rows = {r.lang: r for r in doc_mix_reweight(spark, sf).collect()}
    assert rows["en"].n_tokens == 30 and rows["de"].n_tokens == 10
    assert abs(rows["en"].weight - (0.5 / 0.75)) < 1e-12
    assert abs(rows["de"].weight - 2.0) < 1e-12
    assert abs(rows["en"].expected_tokens - rows["de"].expected_tokens) < 1e-9

    lopsided = _write_docs(tmp_path, [
        (1, " ".join(["w"] * 99), "en", "s"),
        (2, "w", "de", "s"),
    ])
    w = {r.lang: r for r in doc_mix_reweight(spark, lopsided).collect()}
    assert w["de"].weight == 3.0  # cap binds


# --------------------------------------------------------------------------
# ppjoin_pairs — exact prefix-filtered set-similarity join
# --------------------------------------------------------------------------

def test_ppjoin_equals_brute_force_on_corpus(spark, sf_dir):
    """Completeness: prefix filtering finds EXACTLY the pairs the
    all-pairs inverted-index join finds at the same threshold — on the
    real corpus, values included."""
    from flink_tank_spark.io.tables import load_table
    from flink_tank_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    shingled = dedup.shingle_sets(docs)
    pp = {
        (r["id_a"], r["id_b"], r["n_common"], r["jaccard"])
        for r in dedup.ppjoin_pairs(shingled).collect()
    }
    brute = {
        (r["id_a"], r["id_b"], r["n_common"], r["jaccard"])
        for r in dedup.jaccard_pairs(shingled).filter("jaccard >= 0.8").collect()
    }
    assert pp == brute
    assert brute, "corpus has no qualifying pairs — vacuous check"


def test_ppjoin_prefix_blocks_hot_tokens(spark):
    """A stop-shingle shared by every doc never enters a prefix: two
    docs related ONLY through it produce no candidate pair, while a
    true near-dup pair (sharing rare shingles) is found with exact
    jaccard."""
    from flink_tank_spark.operators import dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base + " one two three"),
        (2, base + " one two four"),      # near-dup of 1
        (3, "completely different words here but common tail " + base[:11]),
        (4, "another unrelated document sharing nothing at all xyzzy"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    shingled = dedup.shingle_sets(docs)
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.ppjoin_pairs(shingled, t_num=1, t_den=2).collect()}
    assert (1, 2) in got
    brute = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in dedup.jaccard_pairs(shingled)
             .filter("jaccard >= 0.5").collect()}
    assert got == brute


def test_split_ks_matches_scipy_convention(spark, tmp_path):
    """KS ppm equals the classic two-sample D = max|F_a - F_b| computed
    in plain Python on the same values (scipy-free reference), and an
    identical pair of distributions lands at 0."""
    from flink_tank_spark.operators.text import split_col
    from flink_tank_spark.plans.llm import doc_split_ks
    from pyspark.sql import functions as F

    # synthesize docs whose split is doc_id-determined; lengths differ
    # systematically between splits for lang 'xx'
    rows = [(i, "t" * (10 + i % 7), "xx", "s", 10 + i % 7) for i in range(400)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {r["lang"]: r for r in doc_split_ks(spark, str(tmp_path)).collect()}
    r = got["xx"]

    # reference: replicate the split assignment, compute D directly
    assigned = df.select(
        split_col(F.col("doc_id")).alias("split"), "n_chars"
    ).collect()
    a = sorted(x["n_chars"] for x in assigned if x["split"] == "train")
    b = sorted(x["n_chars"] for x in assigned if x["split"] == "test")
    assert (r["n_train"], r["n_test"]) == (len(a), len(b))
    import bisect

    xs = sorted(set(a) | set(b))
    d = max(
        abs(bisect.bisect_right(a, x) / len(a) - bisect.bisect_right(b, x) / len(b))
        for x in xs
    )
    assert r["ks_ppm"] == int(d * 1_000_000)  # exact: d is a ratio of ints


def test_source_overlap_exact_on_constructed_corpus(spark, tmp_path):
    """doc_source_overlap on a hand-computable corpus: s1 = {a b c,
    b c d, x y z}, s2 = {a b c, b c e} share exactly one 3-shingle
    (J = 1/4); s3 shares nothing and must emit NO row (pair
    enumeration is anchored on the shingle equi-join)."""
    from flink_tank_spark.plans.llm import doc_source_overlap

    rows = [
        (1, "a b c d", "xx", "s1", 7),
        (2, "x y z", "xx", "s1", 5),
        (3, "a b c e", "xx", "s2", 7),
        (4, "p q r", "xx", "s3", 5),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = [
        (r.source_a, r.source_b, r.n_a, r.n_b, r.n_common, r.jaccard_ppm)
        for r in doc_source_overlap(spark, str(tmp_path)).collect()
    ]
    assert got == [("s1", "s2", 3, 2, 1, 250_000)]
