"""Pipeline operator tests: hash-based dedup/similarity operators are pinned
against exact ground truth here (they have no SQL oracle — see
supersonic_spark.queries_pipeline docstring).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from supersonic_spark.operators import core
from supersonic_spark.pipeline import dedup, multimodal, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base + " extra tail words here"),  # near dup of 1
        (4, "completely different content about spark engines and columnar data"),
        (5, "tiny"),
    ]
    return core.scan_view(spark, rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    out = dedup.exact_dedup(docs, ["text"], keep_order="doc_id")
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [1, 3, 4, 5]  # doc 2 collapsed into 1


def test_duplicate_groups(spark, docs):
    out = dedup.duplicate_groups(docs, ["text"], "doc_id")
    groups = {r["rep_id"]: r["dup_count"] for r in out.collect()}
    assert groups[1] == 2 and groups[3] == 1


def test_word_shingles_short_text_empty(spark):
    df = core.scan_view(spark, [("a b",)], "text string")
    out = df.select(dedup.word_shingles("text", 3).alias("sh")).collect()
    assert out[0]["sh"] == []


def test_ngram_jaccard_vs_minhash_agreement(spark, docs):
    """MinHash-LSH candidates (verified at the same threshold) must equal the
    exact Jaccard pairs — LSH may only lose pairs below the band-recall
    curve, and at J≥0.5 with 16 bands × 4 rows recall ≈ 1."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5
        ).collect()
    }
    assert (1, 2) in exact
    assert lsh == exact


def test_minhash_jaccard_values_match_exact(spark, docs):
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.1).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.1).collect()
    }
    for pair, j in lsh.items():
        assert math.isclose(j, exact[pair])


def test_minhash_estimate_mode(spark, docs):
    """verify="estimate" scores pairs by matching-signature fraction: exact
    dups estimate 1.0, near dups land within the 64-hash estimator error of
    exact Jaccard, and candidate generation (banding) is unchanged."""
    est = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.1, verify="estimate"
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.0).collect()
    }
    assert est[(1, 2)] == 1.0
    for pair, j in est.items():
        # 3 sigma of the binomial estimator sd at J≈exact[pair], 64 hashes
        sd = math.sqrt(max(exact[pair] * (1 - exact[pair]), 1e-9) / 64)
        assert abs(j - exact[pair]) <= max(3 * sd, 1 / 64)
    with pytest.raises(ValueError):
        dedup.minhash_lsh_pairs(docs, "doc_id", "text", verify="bogus")


def test_minhash_index_roundtrip_incremental(spark, docs, tmp_path):
    """A minhash_band_index written to parquet and read back by a probe
    finds the planted near-dups: exact-dup probes estimate 1.0, banding
    candidates agree with in-memory probing (xxhash64 determinism across
    the write/read boundary), and self-matches are excluded."""
    corpus = docs.filter(F.col("doc_id").isin(1, 3, 4))
    batch = docs.filter(F.col("doc_id").isin(2, 5))
    path = str(tmp_path / "idx")
    dedup.minhash_band_index(corpus, "doc_id", "text").write.partitionBy(
        "band"
    ).parquet(path)
    index = spark.read.parquet(path)
    got = {
        (r["new_id"], r["index_id"]): r["jaccard"]
        for r in dedup.dedup_against_index(
            batch, index, "doc_id", "text", threshold=0.1
        ).collect()
    }
    # doc 2 is an exact dup of corpus doc 1 (and near-dup of 3); doc 5 has
    # no shingles at all (too short) and must match nothing
    assert got[(2, 1)] == 1.0
    assert all(nid != 5 for nid, _ in got)
    # determinism: probing an in-memory index yields identical pairs/scores
    mem = {
        (r["new_id"], r["index_id"]): r["jaccard"]
        for r in dedup.dedup_against_index(
            batch,
            dedup.minhash_band_index(corpus, "doc_id", "text"),
            "doc_id",
            "text",
            threshold=0.1,
        ).collect()
    }
    assert got == mem
    # self-match exclusion: probing the corpus against its own index never
    # pairs a doc with itself
    self_pairs = dedup.dedup_against_index(
        corpus, index, "doc_id", "text", threshold=None
    ).collect()
    assert all(r["new_id"] != r["index_id"] for r in self_pairs)


def test_digest_index_incremental_exact(spark, docs, tmp_path):
    """Exact incremental dedup: a digest index written to parquet flags
    new-batch rows whose content the corpus has seen; growing the index
    with the batch's own digests (append-only union) flags a replay of
    the same batch completely."""
    corpus = docs.filter(F.col("doc_id").isin(1, 4))
    batch = docs.filter(F.col("doc_id").isin(2, 3, 5))  # 2 dups text of 1
    path = str(tmp_path / "digests")
    dedup.digest_index(corpus, ["text"]).write.parquet(path)
    index = spark.read.parquet(path)
    got = {
        r["doc_id"]: r["seen_before"]
        for r in dedup.dedup_exact_against_index(batch, index, ["text"]).collect()
    }
    assert got == {2: True, 3: False, 5: False}
    # append-only growth: union the batch digests, replay the batch
    grown = index.unionByName(dedup.digest_index(batch, ["text"]))
    replay = dedup.dedup_exact_against_index(batch, grown, ["text"])
    assert all(r["seen_before"] for r in replay.collect())


def test_ngram_jaccard_df_cap_kills_hub_shingle(spark):
    """A shingle planted in EVERY document creates k² candidate pairs; the
    df-cap drops it before the self-join, leaving only the genuine near-dup
    pair — whose score is unchanged because real near-dups share many
    non-hub shingles."""
    hub = "common boilerplate header"
    rows = [(i, f"{hub} unique{i} filler{i} words{i} tail{i}") for i in range(1, 9)]
    rows += [(100, hub + " alpha beta gamma delta epsilon zeta"),
             (101, hub + " alpha beta gamma delta epsilon eta")]
    docs = core.scan_view(spark, rows, "doc_id long, text string")

    uncapped = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", 3, threshold=0.01)
    capped = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", 3, threshold=0.01, df_cap=5)
    # uncapped: every pair shares the hub 3-gram → k² pairs materialize
    assert uncapped.count() == 45  # C(10,2)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    # capped: only the real near-dup pair survives, with a high score
    assert set(got) == {(100, 101)} and got[(100, 101)] > 0.5


def test_ngram_overlap_df_cap(spark):
    hub = "a b c d e f g h"  # an 8-gram present in every corpus doc
    corpus = core.scan_view(
        spark,
        [(i, f"{hub} x{i} y{i} z{i} w{i} v{i} u{i} t{i} s{i}") for i in range(1, 7)],
        "doc_id long, text string",
    )
    bench = core.scan_view(
        spark,
        [(1, hub + " unrelated tail"), (2, "x3 y3 z3 w3 v3 u3 t3 s3 extra")],
        "bid long, text string",
    )
    uncapped = dedup.ngram_overlap(corpus, bench, "doc_id", "text", "bid", "text", n=8)
    assert uncapped.count() == 6  # the hub gram contaminates every corpus doc
    capped = dedup.ngram_overlap(
        corpus, bench, "doc_id", "text", "bid", "text", n=8, df_cap=3
    )
    got = {r["doc_id"]: r["n_bench_docs"] for r in capped.collect()}
    assert got == {3: 1}  # only the genuine doc3↔bench2 overlap remains


def test_simhash_exact_dup_zero_hamming(spark, docs):
    out = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_dedup(docs, "doc_id", "text", max_hamming=10).collect()
    }
    assert out[(1, 2)] == 0  # identical text ⇒ identical simhash


def test_simhash64_agg_matches_fold(spark, docs):
    """The explode→codegen-aggregate SimHash must equal the per-row HOF fold
    bit for bit (same hash family, same sign rule) on every doc that has
    shingles."""
    sh = dedup.with_word_shingles(docs, "doc_id", "text", 3)
    fold = {
        r["__id"]: r["h"]
        for r in sh.select("__id", dedup.simhash64(F.col("__sh")).alias("h")).collect()
    }
    agg = {r["__id"]: r["__h"] for r in dedup.simhash64_agg(sh).collect()}
    assert agg == fold and len(agg) == 4  # doc 5 ("tiny") has no 3-gram


def test_simhash64_deterministic(spark, docs):
    a = docs.select(dedup.simhash64(dedup.word_shingles("text", 3)).alias("h")).collect()
    b = docs.select(dedup.simhash64(dedup.word_shingles("text", 3)).alias("h")).collect()
    assert [r["h"] for r in a] == [r["h"] for r in b]


# --- similarity ---

@pytest.fixture(scope="module")
def vecs(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(20, 8).astype("float32")
    base[5] = base[0] * 2.0  # cosine-identical to vec 0
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    return core.scan_view(spark, rows, "vec_id long, embedding array<float>")


def test_cosine_topk_exact(spark, vecs):
    q = vecs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    c = vecs.filter(F.col("vec_id") > 0).select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("corpus_vec")
    )
    out = similarity.cosine_topk(q, c, k=3).collect()
    best = next(r for r in out if r["rank"] == 1)
    assert best["corpus_id"] == 5  # the scaled copy
    assert math.isclose(best["similarity"], 1.0, abs_tol=1e-6)


def test_lsh_topk_finds_identical(spark, vecs):
    q = vecs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    c = vecs.filter(F.col("vec_id") > 0).select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("corpus_vec")
    )
    out = similarity.lsh_topk(q, c, k=3, dim=8, planes=4, tables=4).collect()
    # a cosine-identical vector always shares every bucket with the query
    assert any(r["corpus_id"] == 5 and r["rank"] == 1 for r in out)


# --- text stats ---

def test_token_and_quality(spark, docs):
    out = textstats.quality_features(docs, "text", "doc_id").collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["n_words"] == 12
    assert by_id[1]["stopword_ratio_en"] == pytest.approx(3 / 12)  # the, over, the
    assert by_id[5]["n_words"] == 1


def test_quality_classifier(spark):
    """Logistic quality filter: clean stopword-rich prose scores above the
    digit/punct-spam doc, keep follows the rounded score vs threshold, a
    custom single-feature model applies its own weights/bias, and unknown
    feature names fail fast."""
    import math

    import pytest as _pt

    from supersonic_spark.pipeline.textstats import (
        DEFAULT_QUALITY_WEIGHTS,
        quality_classifier,
        quality_features,
    )

    rows = [
        (1, "the cat sat on the mat and it is a happy cat today"),
        (2, "9379 4711 0000 1234 !!!! ???? ;;;; 5550 9999 8888"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in quality_classifier(df, "text", "doc_id").collect()}
    assert got[1]["quality_score"] > got[2]["quality_score"]
    assert got[1]["keep"] and not got[2]["keep"]

    # the score IS the advertised model: replay it feature-by-feature
    f1 = {r["doc_id"]: r for r in quality_features(df, "text", "doc_id").collect()}[1]
    z = -4.5 + sum(w * f1[k] for k, w in DEFAULT_QUALITY_WEIGHTS.items())
    assert got[1]["quality_score"] == _pt.approx(
        round(1.0 / (1.0 + math.exp(-z)), 6), abs=1e-6
    )

    # custom model: one feature, bias shifts the decision
    custom = quality_classifier(
        df, "text", "doc_id", weights={"digit_ratio": -20.0}, bias=5.0
    ).collect()
    assert all(r["quality_score"] <= 1.0 for r in custom)

    with _pt.raises(ValueError):
        quality_classifier(df, "text", "doc_id", weights={"no_such_feature": 1.0})


def test_lang_id(spark):
    rows = [
        (1, "the cat sat on the mat and it is happy"),
        (2, "el perro es grande y la casa es bonita"),
        (3, "qqq www eee rrr"),
    ]
    df = core.scan_view(spark, rows, "doc_id long, text string")
    out = {r["doc_id"]: r["lg"] for r in df.select("doc_id", textstats.lang_id("text").alias("lg")).collect()}
    assert out == {1: "en", 2: "es", 3: "und"}


def test_doc_fingerprint_normalization(spark):
    df = core.scan_view(spark, [(1, "Hello  World"), (2, "hello world ")], "id long, text string")
    out = [r["f"] for r in df.select(textstats.doc_fingerprint("text").alias("f")).collect()]
    assert out[0] == out[1]


def test_pq_topk_clustered_recall(spark):
    """PQ/ADC on clustered vectors: every retrieved neighbor must come from
    the query's own cluster (clusters are far apart, subspace codebooks
    learn them), and codebooks/encoding are deterministic."""
    import numpy as np

    rng = np.random.RandomState(3)
    centers = rng.randn(8, 16) * 3
    rows = [
        (i, [float(x) for x in centers[i % 8] + rng.randn(16) * 0.3])
        for i in range(400)
    ]
    df = core.scan_view(spark, rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    c = df.select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("corpus_vec")
    )
    out = similarity.pq_topk(
        q, c, "query_id", "query_vec", "corpus_id", "corpus_vec", k=10, m=4, ksub=16
    )
    got = out.collect()
    assert len(got) == 8 * 10
    for r in got:
        assert r["corpus_id"] % 8 == r["query_id"] % 8

    books1 = similarity.pq_train_codebooks(c, "corpus_id", "corpus_vec", m=4, ksub=16)
    books2 = similarity.pq_train_codebooks(c, "corpus_id", "corpus_vec", m=4, ksub=16)
    assert books1 == books2
    with pytest.raises(ValueError, match="not divisible"):
        similarity.pq_train_codebooks(c, "corpus_id", "corpus_vec", m=5)


def test_ivfpq_topk_clustered_recall(spark):
    """IVF-PQ on clustered vectors: probed cells + residual codes must
    retrieve only same-cluster neighbors; training is deterministic."""
    import numpy as np

    rng = np.random.RandomState(3)
    centers = rng.randn(8, 16) * 3
    rows = [
        (i, [float(x) for x in centers[i % 8] + rng.randn(16) * 0.3])
        for i in range(400)
    ]
    df = core.scan_view(spark, rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    c = df.select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("corpus_vec")
    )
    out = similarity.ivfpq_topk(
        q, c, "query_id", "query_vec", "corpus_id", "corpus_vec",
        k=10, n_cells=8, nprobe=2, m=4, ksub=16,
    )
    got = out.collect()
    assert len(got) == 80
    for r in got:
        assert r["corpus_id"] % 8 == r["query_id"] % 8
    i1 = similarity.ivfpq_train(c, "corpus_id", "corpus_vec", n_cells=8, m=4, ksub=16)
    i2 = similarity.ivfpq_train(c, "corpus_id", "corpus_vec", n_cells=8, m=4, ksub=16)
    assert i1 == i2


# --- multimodal ---

def test_multimodal_stub_plumbing(spark, docs):
    blobs = docs.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("blob"))
    media = multimodal.attach_media(blobs, "blob", media_type="image", fmt="fake")
    decoded = multimodal.decode_image_meta(media, "blob", fake=True)
    out = decoded.select("doc_id", "media_meta", "image_features").collect()
    assert len(out) == 5
    for r in out:
        assert r["media_meta"]["media_type"] == "image"
        assert r["image_features"]["ok"]
        assert r["image_features"]["n_bytes"] > 0
        assert 64 <= r["image_features"]["width"] < 64 + 1920


def test_multimodal_real_decode_non_image_ok_false(spark, docs):
    """The real decode path treats undecodable bytes as data (ok=False),
    never as a stage-killing error."""
    blobs = docs.limit(1).select("doc_id", F.encode(F.col("text"), "UTF-8").alias("blob"))
    decoded = multimodal.decode_image_meta(blobs, "blob", fake=False)
    row = decoded.collect()[0]["image_features"]
    assert row["ok"] is False and row["width"] is None and row["n_bytes"] > 0


def test_multimodal_real_png_roundtrip(spark):
    """Synthesize real PNG bytes per row, decode them with the real kernel,
    and recover exact dimensions + pixel checksum."""
    dims = spark.createDataFrame(
        [(1, 5, 3, 7), (2, 16, 9, 200), (3, 1, 1, 255)], "id long, w int, h int, v int"
    )
    blobs = multimodal.synthesize_png(dims, "w", "h", "v")
    out = {
        r["id"]: r["image_features"]
        for r in multimodal.decode_image_meta(blobs, "blob", fake=False).collect()
    }
    for _id, w, h, v in [(1, 5, 3, 7), (2, 16, 9, 200), (3, 1, 1, 255)]:
        f = out[_id]
        assert f["ok"] and f["width"] == w and f["height"] == h
        assert f["channels"] == 3 and f["pix_sum"] == w * h * 3 * v


def test_multimodal_real_wav_roundtrip(spark):
    dims = spark.createDataFrame([(1, 100, 1000), (2, 7, 32767)], "id long, n int, lvl int")
    blobs = multimodal.synthesize_wav(dims, "n", "lvl", rate=8000)
    out = {
        r["id"]: r["audio_features"]
        for r in multimodal.audio_features(blobs, "blob", fake=False).collect()
    }
    for _id, n, lvl in [(1, 100, 1000), (2, 7, 32767)]:
        f = out[_id]
        assert f["ok"] and f["n_frames"] == n and f["channels"] == 1
        assert f["sample_rate"] == 8000 and f["zero_crossings"] == n - 1
        assert abs(f["rms"] - lvl / 32768.0) < 1e-12


def test_frame_sample_plan(spark):
    df = core.scan_view(spark, [(1, b"x" * 5125)], "vid long, blob binary")
    out = multimodal.frame_sample_plan(df, "blob", every_n=2).collect()
    assert [r["frame_index"] for r in out] == [0, 2, 4]  # 5 stub frames, step 2


def test_ivf_index_append_atomic_replay(spark, tables, tmp_path):
    """Exactly-once append under batch replay: re-running the SAME tag
    (the crash-between-parquet-commit-and-manifest-write case) must not
    duplicate rows; a new tag appends normally; and a half-staged batch
    (crash before publish) is invisible to readers."""
    emb = tables["embeddings"]
    base = emb.filter(F.col("vec_id") % 3 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    b1 = emb.filter(F.col("vec_id") % 3 == 1).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    b2 = emb.filter(F.col("vec_id") % 3 == 2).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    path = str(tmp_path / "ivf_atomic")
    similarity.ivf_index_build(base, "cid", "cv", path, n_cells=4, train=True)
    n0 = base.count()

    similarity.ivf_index_append_atomic(b1, "cid", "cv", path, tag="batch0")
    n1 = spark.read.parquet(path).count()
    assert n1 == n0 + b1.count()
    # replay of the same tag (lost manifest write): sweep + republish, no dup
    similarity.ivf_index_append_atomic(b1, "cid", "cv", path, tag="batch0")
    assert spark.read.parquet(path).count() == n1
    ids = [r["id"] for r in spark.read.parquet(path).collect()]
    assert len(ids) == len(set(ids))
    # a different tag is a genuine new batch
    similarity.ivf_index_append_atomic(b2, "cid", "cv", path, tag="batch1")
    assert spark.read.parquet(path).count() == n1 + b2.count()
    # crash-before-publish: a hidden staging dir never leaks into reads
    from supersonic_spark.pipeline.similarity import _ivf_assign_batch

    _ivf_assign_batch(b1, "cid", "cv", path).write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(path + "/_staging-batchX")
    assert spark.read.parquet(path).count() == n1 + b2.count()


def test_ann_index_compact(spark, tables, tmp_path):
    """Compaction changes LAYOUT only: after a build plus several
    appends (one file per cell per append), compacting to 1 file/cell
    preserves exact row membership and probe results while cutting the
    file count; an uncommitted batch's leftover files are excluded."""
    import json
    import os

    emb = tables["embeddings"]
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    parts = [
        emb.filter((F.col("vec_id") >= 5) & (F.col("vec_id") % 4 == r)).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
        )
        for r in range(4)
    ]
    path = str(tmp_path / "ivf_compact")
    similarity.ivf_index_build(parts[0], "cid", "cv", path, n_cells=4, train=True)
    for i, batch in enumerate(parts[1:3]):
        similarity.ivf_index_append_atomic(batch, "cid", "cv", path, tag=f"batch{i}")
    similarity._fs_write_text(
        spark, os.path.join(path, "_ivf_appended_batches.json"), json.dumps([0, 1])
    )
    # an uncommitted (crash-leftover) append: present on disk, not in manifest
    similarity.ivf_index_append_atomic(parts[3], "cid", "cv", path, tag="batch9")

    before = similarity.ivf_index_probe(spark, path, qs, "qid", "qv", k=3, nprobe=4)
    want = sorted(
        (r["query_id"], r["corpus_id"], round(r["cos"], 9)) for r in before.collect()
    )
    n_rows = spark.read.parquet(path).count()

    stats = similarity.ann_index_compact(spark, path, target_files_per_cell=1)
    assert stats["cells_compacted"] >= 1
    assert stats["files_after"] < stats["files_before"]
    assert spark.read.parquet(path).count() == n_rows
    after = similarity.ivf_index_probe(spark, path, qs, "qid", "qv", k=3, nprobe=4)
    got = sorted(
        (r["query_id"], r["corpus_id"], round(r["cos"], 9)) for r in after.collect()
    )
    assert got == want
    # the uncommitted batch9 files were left for the replay sweep to own:
    # replaying batch9 must still converge to one copy of its rows
    similarity.ivf_index_append_atomic(parts[3], "cid", "cv", path, tag="batch9")
    ids = [r["id"] for r in spark.read.parquet(path).collect()]
    assert len(ids) == len(set(ids)) == n_rows


def test_index_probe_visibility_during_publish(spark, tables, tmp_path):
    """Concurrent reader/writer contract, pinned at every interleave point
    of the publish protocol:

    - APPEND is additive (stage hidden → per-file rename): a reader that
      listed BEFORE the publish keeps reading the old index (old-visibility,
      never an error); a reader listing MID-publish sees old + a prefix of
      complete batch files (rename is atomic per file — never a torn file);
      after, old+new.
    - COMPACT deletes old files after publishing their replacement, so a
      listing taken before compaction can fail at read time — the contract
      is that probes RE-LIST (each ivf_index_probe call reads fresh); a
      fresh read after compaction is membership-identical."""
    import pytest as _pytest

    from supersonic_spark.pipeline.similarity import _ivf_assign_batch

    emb = tables["embeddings"]
    base = emb.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    b1 = emb.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    path = str(tmp_path / "ivf_vis")
    similarity.ivf_index_build(base, "cid", "cv", path, n_cells=4, train=True)
    n0, n1 = base.count(), b1.count()
    base_ids = {r["cid"] for r in base.collect()}
    b1_ids = {r["cid"] for r in b1.collect()}

    # reader listing BEFORE the append: pinned to the old index
    pre = spark.read.parquet(path)

    # stage (hidden dir): invisible to any reader
    staging = path + "/_staging-batchZ"
    _ivf_assign_batch(b1, "cid", "cv", path).write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(staging)
    assert spark.read.parquet(path).count() == n0

    # publish ONE staged file (the mid-publish crash/race point)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    staged = list(fs.globStatus(hpath(f"{staging}/cell=*/part-*")) or [])
    assert len(staged) >= 2  # need a genuine partial state
    first, rest = staged[0], staged[1:]

    def publish(st):
        src = st.getPath()
        cell = src.getParent().getName()
        fs.mkdirs(hpath(f"{path}/{cell}"))
        assert fs.rename(src, hpath(f"{path}/{cell}/batchZ-{src.getName()}"))

    publish(first)
    mid = spark.read.parquet(path).collect()  # fresh listing mid-publish
    mid_ids = [r["id"] for r in mid]
    assert n0 <= len(mid) < n0 + n1          # old + a strict prefix of new
    assert len(mid_ids) == len(set(mid_ids))  # no duplicates
    assert set(mid_ids) <= base_ids | b1_ids  # only real rows — no torn file
    assert base_ids <= set(mid_ids)           # old rows all present

    for st in rest:
        publish(st)
    fs.delete(hpath(staging), True)
    assert spark.read.parquet(path).count() == n0 + n1
    # the pre-append listing STILL reads the old index — old-or-new, no error
    assert pre.count() == n0

    # --- compaction: stale listings are invalidated, fresh reads identical
    want = sorted((r["id"], r["cell"]) for r in spark.read.parquet(path).collect())
    stale = spark.read.parquet(path)  # listing taken before compact
    stats = similarity.ann_index_compact(spark, path, target_files_per_cell=1)
    assert stats["cells_compacted"] >= 1
    got = sorted((r["id"], r["cell"]) for r in spark.read.parquet(path).collect())
    assert got == want                        # membership unchanged
    with _pytest.raises(Exception):           # deleted files → reader must re-list
        stale.count()


def test_ivf_rebalance_excludes_uncommitted_and_copies_manifest(
    spark, tables, tmp_path
):
    """Rebalance reads COMMITTED files only (the ann_index_compact filter):
    an uncommitted batch{id}-* crash leftover is left to the stream's
    replay, never folded into the new index (that would duplicate the
    batch after the replay re-appends it).  The append manifest sidecar is
    copied to out_path so a repointed stream keeps its replay-skip set."""
    import json

    emb = tables["embeddings"]
    base = emb.filter(F.col("vec_id") % 3 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    b1 = emb.filter(F.col("vec_id") % 3 == 1).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    b2 = emb.filter(F.col("vec_id") % 3 == 2).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    path = str(tmp_path / "ivf_rebal")
    similarity.ivf_index_build(base, "cid", "cv", path, n_cells=4, train=True)
    # committed append (tag in manifest) + uncommitted crash leftover
    similarity.ivf_index_append_atomic(b1, "cid", "cv", path, tag="batch0")
    similarity._fs_write_text(
        spark, path + "/_ivf_appended_batches.json", json.dumps([0])
    )
    similarity.ivf_index_append_atomic(b2, "cid", "cv", path, tag="batch7")
    n_committed = base.count() + b1.count()

    out = str(tmp_path / "ivf_rebal_out")
    similarity.ivf_index_rebalance(spark, path, out, n_cells=4)
    new_ids = [r["id"] for r in spark.read.parquet(out).select("id").collect()]
    assert len(new_ids) == len(set(new_ids)) == n_committed
    committed_ids = {r["cid"] for r in base.collect()} | {
        r["cid"] for r in b1.collect()
    }
    assert set(new_ids) == committed_ids  # batch7 rows excluded
    # manifest travels with the index: the repointed stream skips batch 0
    assert json.loads(
        similarity._fs_read_text(spark, out + "/_ivf_appended_batches.json")
    ) == [0]
    # replaying the uncommitted batch into the NEW index converges to one copy
    similarity.ivf_index_append_atomic(b2, "cid", "cv", out, tag="batch7")
    ids2 = [r["id"] for r in spark.read.parquet(out).select("id").collect()]
    assert len(ids2) == len(set(ids2)) == n_committed + b2.count()


def test_ann_index_compact_recovery(spark, tables, tmp_path):
    """Crash-recovery intent protocol: with staged files + intent on
    disk but nothing published (crash right after the intent write),
    recovery rolls the cell FORWARD; with staging gone and a partial
    publish, it rolls BACK — both converge to exact probe equality."""
    import json

    emb = tables["embeddings"]
    cs = emb.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    path = str(tmp_path / "ivf_recover")
    similarity.ivf_index_build(cs, "cid", "cv", path, n_cells=2, train=True)
    n_rows = spark.read.parquet(path).count()
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())

    cell_st = (fs.globStatus(hpath(path + "/cell=*")) or [])[0]
    cell = cell_st.getPath().getName()
    names = [
        st.getPath().getName()
        for st in fs.listStatus(cell_st.getPath())
        if not st.getPath().getName().startswith(("_", "."))
    ]
    # crash point: staged + intent written, zero renames done
    cell_staging = f"{path}/_staging-compact/{cell}"
    spark.read.parquet(*[f"{path}/{cell}/{n}" for n in names]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(cell_staging)
    staged = [
        st.getPath().getName()
        for st in fs.globStatus(hpath(f"{cell_staging}/part-*")) or []
    ]
    new = [f"compact-{n}" for n in staged]
    similarity._fs_write_text(
        spark,
        f"{path}/_compact_intent.json",
        json.dumps({"cell": cell, "old": names, "staged": staged, "new": new}),
    )
    similarity._index_compact_recover(spark, path)
    assert spark.read.parquet(path).count() == n_rows
    left = [
        st.getPath().getName()
        for st in fs.listStatus(hpath(f"{path}/{cell}"))
        if not st.getPath().getName().startswith(("_", "."))
    ]
    assert left == new  # rolled forward: old gone, compacted file live

    # crash point: partial publish, staging lost -> must roll BACK
    fake_new = ["compact-doesnotexist.parquet"]
    similarity._fs_write_text(
        spark,
        f"{path}/_compact_intent.json",
        json.dumps({"cell": cell, "old": left, "staged": ["gone"], "new": fake_new}),
    )
    similarity._index_compact_recover(spark, path)
    assert spark.read.parquet(path).count() == n_rows  # old set intact


def test_ivf_index_build_probe(spark, tables, tmp_path):
    """Persisted IVF index: probing every cell (nprobe = n_cells) returns
    the exact cosine top-k, and a narrow probe's scan is partition-pruned
    to the probed cells only."""
    import io
    from contextlib import redirect_stdout

    emb = tables["embeddings"]
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    cs = emb.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    path = str(tmp_path / "ivf")
    similarity.ivf_index_build(cs, "cid", "cv", path, n_cells=4, train=True)
    probe = similarity.ivf_index_probe(spark, path, qs, "qid", "qv", k=3, nprobe=4)
    got = {
        (r["query_id"], r["corpus_id"]): round(r["cos"], 9) for r in probe.collect()
    }
    exact = similarity.cosine_topk(
        qs, cs, 3, query_id="qid", corpus_id="cid", query_vec="qv", corpus_vec="cv"
    )
    want = {
        (r["qid"], r["cid"]): round(r["similarity"], 9) for r in exact.collect()
    }
    assert got == want
    # narrow probe: JOIN-DRIVEN pruning — a dynamicpruning partition
    # filter on cell reaches the index scan (no driver-side cell collect)
    narrow = similarity.ivf_index_probe(spark, path, qs, "qid", "qv", k=3, nprobe=1)
    buf = io.StringIO()
    with redirect_stdout(buf):
        narrow.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200]
    assert "dynamicpruning" in plan.lower()


def test_ivf_corpus_index_builds_once_under_concurrent_queries(
    spark, sf_dir, monkeypatch, tmp_path
):
    """The catalog's shared corpus IVF index is built once per session
    even when the queries that read it start from many threads at once
    (the build is replaced by a slow fake that only counts calls)."""
    import sys
    import threading
    import time

    import supersonic_spark.queries_pipeline as qp

    builds, paths = [], []

    def fake_build(*args, **kwargs):
        builds.append(1)
        time.sleep(0.05)

    monkeypatch.setattr(qp, "_IVF_CORPUS_INDEXES", {})
    monkeypatch.setattr(qp, "_scratch", lambda prefix, _: str(tmp_path / prefix))
    monkeypatch.setattr(qp.similarity, "ivf_index_build", fake_build)
    workers = [
        threading.Thread(target=lambda: paths.append(qp._ivf_corpus_index(spark, sf_dir)))
        for _ in range(16)
    ]
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for w in workers:
            w.start()
        for w in workers:
            w.join(60)
    finally:
        sys.setswitchinterval(prev)
    assert not any(w.is_alive() for w in workers)
    assert len(builds) == 1
    assert paths == [str(tmp_path / "ss_ivf_index")] * 16


def test_mmr_rerank_diversifies(spark):
    """MMR: rank 1 is the exact cosine top-1; a near-copy of the top hit
    cannot take slot 2 even though it out-scores every other candidate on
    pure relevance — the redundancy penalty pushes the orthogonal result
    up instead."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),           # query
        (10, [0.99, 0.14, 0.0, 0.0]),        # best hit
        (11, [0.99, 0.141, 0.0, 0.0]),       # near-copy of 10
        (12, [0.6, 0.0, 0.8, 0.0]),          # decent, orthogonal-ish
        (13, [0.5, 0.0, 0.0, 0.87]),         # decent, another direction
    ]
    df = core.scan_view(
        spark, [(i, [float(x) for x in v]) for i, v in rows],
        "vid long, vec array<double>",
    )
    q = df.filter(F.col("vid") == 0).select(
        F.col("vid").alias("qid"), F.col("vec").alias("qv")
    )
    c = df.filter(F.col("vid") > 0).select(
        F.col("vid").alias("cid"), F.col("vec").alias("cv")
    )
    short = similarity.cosine_topk(
        q, c, 4, query_id="qid", corpus_id="cid", query_vec="qv", corpus_vec="cv"
    )
    out = similarity.mmr_topk(
        short, q, c, "qid", "qv", "cid", "cv", k=3, lam=0.5
    ).orderBy("rank").collect()
    picked = [r["corpus_id"] for r in out]
    assert picked[0] == 10          # pure relevance at rank 1
    assert 11 not in picked[:2]     # near-copy blocked from slot 2
    assert set(picked) == {10, 12, 13}
    # plain relevance rerank WOULD have put the near-copy second
    plain = similarity.rerank_topk(short, q, c, "qid", "qv", "cid", "cv", k=2)
    assert [r["corpus_id"] for r in plain.orderBy("rank").collect()] == [10, 11]


def test_mmr_string_ids_and_zero_vector(spark):
    """MMR id columns follow the input types (string ids here, not long),
    and an all-zero corpus vector scores 0 instead of poisoning the greedy
    argmax with NaN."""
    rows = [
        ("q1", [1.0, 0.0, 0.0, 0.0]),
        ("a", [0.9, 0.1, 0.0, 0.0]),
        ("b", [0.0, 0.0, 0.0, 0.0]),   # zero vector: similarity must be 0
        ("c", [0.5, 0.0, 0.8, 0.0]),
    ]
    df = core.scan_view(spark, rows, "vid string, vec array<double>")
    q = df.filter(F.col("vid") == "q1").select(
        F.col("vid").alias("qid"), F.col("vec").alias("qv")
    )
    c = df.filter(F.col("vid") != "q1").select(
        F.col("vid").alias("cid"), F.col("vec").alias("cv")
    )
    short = c.select(F.lit("q1").alias("qid"), F.col("cid"))
    out = similarity.mmr_topk(
        short, q, c, "qid", "qv", "cid", "cv", k=3, lam=0.5
    ).orderBy("rank").collect()
    assert out[0]["query_id"] == "q1" and out[0]["corpus_id"] == "a"
    sims = {r["corpus_id"]: r["similarity"] for r in out}
    assert sims["b"] == 0.0            # zero-norm guard, not NaN
    assert all(not math.isnan(r["mmr_score"]) for r in out)


def test_mmr_field_quota(spark):
    """max_per_field=1: once a field holds a selected result, its other
    candidates are skipped even when they out-score everything else; when
    every surviving candidate is quota-blocked the result truncates."""
    rows = [
        (0, "q", [1.0, 0.0, 0.0, 0.0]),
        (10, "news", [0.99, 0.14, 0.0, 0.0]),    # best, field news
        (11, "news", [0.6, 0.0, 0.8, 0.0]),      # orthogonal but SAME field
        (12, "blog", [0.9, 0.1, 0.2, 0.0]),      # second field
        (13, "blog", [0.5, 0.0, 0.0, 0.87]),     # second field again
    ]
    df = core.scan_view(
        spark, [(i, f, [float(x) for x in v]) for i, f, v in rows],
        "vid long, src string, vec array<double>",
    )
    q = df.filter(F.col("vid") == 0).select(
        F.col("vid").alias("qid"), F.col("vec").alias("qv")
    )
    c = df.filter(F.col("vid") > 0).select(
        F.col("vid").alias("cid"), F.col("src"), F.col("vec").alias("cv")
    )
    short = c.select(F.lit(0).alias("qid"), F.col("cid"))
    out = similarity.mmr_topk(
        short, q, c, "qid", "qv", "cid", "cv", k=4, lam=0.7,
        field_col="src", max_per_field=1,
    ).orderBy("rank").collect()
    picked = [r["corpus_id"] for r in out]
    # one per field: 2 fields -> exactly 2 rows despite k=4
    assert len(picked) == 2
    assert picked[0] == 10                       # pure relevance rank 1
    assert picked[1] in (12, 13)                 # second slot forced to blog
    # unconstrained returns all four
    free = similarity.mmr_topk(short, q, c, "qid", "qv", "cid", "cv", k=4)
    assert free.count() == 4


def test_mmr_null_field_quota(spark):
    """NULL field values share ONE quota bucket.  With a NUMERIC field_col,
    pandas turns nulls into NaN and NaN != NaN, so without normalization
    every null-field candidate would bypass max_per_field (each dict probe
    misses).  Three null-field candidates + max_per_field=1 must yield
    exactly one null-field pick."""
    rows = [
        (0, 1, [1.0, 0.0, 0.0, 0.0]),
        (10, None, [0.99, 0.1, 0.0, 0.0]),   # null field, best
        (11, None, [0.95, 0.0, 0.3, 0.0]),   # null field
        (12, None, [0.9, 0.0, 0.0, 0.4]),    # null field
        (13, 7, [0.5, 0.0, 0.8, 0.0]),       # real int field
    ]
    df = core.scan_view(
        spark, [(i, f, [float(x) for x in v]) for i, f, v in rows],
        "vid long, grp int, vec array<double>",
    )
    q = df.filter(F.col("vid") == 0).select(
        F.col("vid").alias("qid"), F.col("vec").alias("qv")
    )
    c = df.filter(F.col("vid") > 0).select(
        F.col("vid").alias("cid"), F.col("grp"), F.col("vec").alias("cv")
    )
    short = c.select(F.lit(0).alias("qid"), F.col("cid"))
    out = similarity.mmr_topk(
        short, q, c, "qid", "qv", "cid", "cv", k=4, lam=0.9,
        field_col="grp", max_per_field=1,
    ).collect()
    picked = [r["corpus_id"] for r in out]
    # 2 fields total (NULL-class, 7): quota of 1 each -> exactly 2 rows
    assert len(picked) == 2
    assert sum(1 for p in picked if p in (10, 11, 12)) == 1
    assert 13 in picked


def test_minhash_band_validation(spark, docs):
    """bands must divide num_hashes and be >= 1 — bands > num_hashes would
    hash empty signature slices (everything collides everywhere)."""
    for bad in (24, 128, 0):
        with pytest.raises(ValueError):
            dedup.minhash_lsh_pairs(
                docs, "doc_id", "text", num_hashes=64, bands=bad
            ).collect()
    with pytest.raises(ValueError):
        dedup.minhash_band_index(docs, "doc_id", "text", num_hashes=64, bands=24)


def test_embedding_cosine_pairs_exact(spark, vecs):
    out = dedup.embedding_cosine_pairs(vecs, "vec_id", "embedding", threshold=0.999)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (0, 5) in pairs  # the scaled copy is cosine-identical
    for a, b in pairs:
        assert a < b


def test_embedding_lsh_pairs_finds_identical(spark, vecs):
    out = dedup.embedding_lsh_pairs(
        vecs, "vec_id", "embedding", dim=8, threshold=0.999, planes=4, tables=4
    )
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    # identical-direction vectors share every bucket → always candidates
    assert (0, 5) in pairs
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_cosine_pairs(
            vecs, "vec_id", "embedding", threshold=0.999
        ).collect()
    }
    assert pairs <= exact  # no false positives after exact rescoring


def test_ivf_topk_recall(spark, vecs):
    q = vecs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    c = vecs.filter(F.col("vec_id") > 0).select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("corpus_vec")
    )
    out = similarity.ivf_topk(
        q, c, "query_id", "query_vec", "corpus_id", "corpus_vec",
        k=3, n_cells=4, nprobe=4,
    ).collect()
    # nprobe == n_cells probes every cell → exact: the scaled copy wins
    assert any(r["corpus_id"] == 5 and math.isclose(r["cos"], 1.0, abs_tol=1e-6) for r in out)


def test_ivf_centroids_deterministic(spark, vecs):
    c1 = similarity.ivf_centroids(vecs, "vec_id", "embedding", 4)
    c2 = similarity.ivf_centroids(vecs, "vec_id", "embedding", 4)
    assert c1 == c2 and len(c1) == 4


def test_ivf_trained_centroids_recall(spark, tables):
    """Spherical-k-means-trained IVF beats sampled-vector centroids at the
    same nprobe on the real embeddings table, reaches ≥0.75 recall@5 at
    nprobe = n_cells/2, and training is deterministic.  (The synthetic
    embeddings are near-uniform on the sphere — the hardest case for any
    partitioned ANN index — so absolute recall at small nprobe is
    intrinsically modest; the trained-vs-sampled ordering is the contract.)
    """
    emb = tables["embeddings"]
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    c = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("corpus_vec")
    )
    exact = {
        (r["query_id"], r["corpus_id"])
        for r in similarity.cosine_topk(q, c, k=5).collect()
    }
    cents = similarity.ivf_train_centroids(c, "corpus_id", "corpus_vec", 16)
    assert cents == similarity.ivf_train_centroids(c, "corpus_id", "corpus_vec", 16)

    def recall(centroids, nprobe):
        got = {
            (r["query_id"], r["corpus_id"])
            for r in similarity.ivf_topk(
                q, c, "query_id", "query_vec", "corpus_id", "corpus_vec",
                k=5, n_cells=16, nprobe=nprobe, centroids=centroids,
            ).collect()
        }
        return len(got & exact) / len(exact)

    sampled = similarity.ivf_centroids(c, "corpus_id", "corpus_vec", 16)
    assert recall(cents, 4) > recall(sampled, 4)  # 0.50 vs 0.34, deterministic
    assert recall(cents, 8) >= 0.75


def test_minhash_char_shingles_mode(spark, docs):
    out = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=32, bands=8, shingle_words=5,
        threshold=0.3, shingle="char",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (1, 2) in pairs  # exact dup caught in char mode too


# --- sampling / splitting / packing ---

def test_split_by_hash_disjoint_exhaustive_deterministic(spark, tables):
    from supersonic_spark.pipeline import sampling

    docs = tables["documents"]
    n = docs.count()
    out = sampling.split_by_hash(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == n                    # exhaustive, disjoint
    assert 0.6 * n < counts["train"] < 0.95 * n         # proportions roughly hold
    again = sampling.split_by_hash(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    a = {r["doc_id"]: r["split"] for r in out.select("doc_id", "split").collect()}
    b = {r["doc_id"]: r["split"] for r in again.select("doc_id", "split").collect()}
    assert a == b                                       # deterministic membership
    # different salt → different assignment (not constant)
    c = {r["doc_id"]: r["split"] for r in sampling.split_by_hash(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="other"
    ).select("doc_id", "split").collect()}
    assert a != c


def test_sample_by_hash_is_subset_and_stable_across_partitioning(spark, tables):
    from supersonic_spark.pipeline import sampling

    docs = tables["documents"]
    s1 = {r["doc_id"] for r in sampling.sample_by_hash(docs, "doc_id", 0.3).collect()}
    s2 = {r["doc_id"] for r in sampling.sample_by_hash(
        docs.repartition(13), "doc_id", 0.3).collect()}
    assert s1 == s2 and 0 < len(s1) < docs.count()      # partitioning-invariant
    bigger = {r["doc_id"] for r in sampling.sample_by_hash(docs, "doc_id", 0.6).collect()}
    assert s1 <= bigger                                 # nested: fraction grows monotonically


def test_stratified_sample_by_hash(spark):
    from supersonic_spark.pipeline import sampling

    df = core.scan_view(
        spark, [(i, "en" if i % 2 else "de") for i in range(200)], "id long, lang string"
    )
    out = sampling.stratified_sample_by_hash(df, "lang", {"en": 1.0, "de": 0.2}, "id")
    got = out.groupBy("lang").count().collect()
    counts = {r["lang"]: r["count"] for r in got}
    assert counts["en"] == 100                          # fraction 1.0 keeps all
    assert 5 <= counts.get("de", 0) <= 40               # ~20 of 100


def test_deterministic_shuffle_stable(spark, tables):
    from supersonic_spark.pipeline import sampling

    docs = tables["documents"].select("doc_id")
    o1 = [r["doc_id"] for r in sampling.deterministic_shuffle(docs, "doc_id").collect()]
    o2 = [r["doc_id"] for r in sampling.deterministic_shuffle(
        docs.repartition(7), "doc_id").collect()]
    assert o1 == o2 and o1 != sorted(o1)                # same order, actually shuffled


def test_pack_sequences_budget_and_determinism(spark, tables):
    from supersonic_spark.pipeline import sampling, textstats

    docs = tables["documents"].select(
        "doc_id", textstats.token_count("text").alias("n_tok")
    )
    packed = sampling.pack_sequences(docs, "doc_id", "n_tok", budget=500)
    pdf = packed.toPandas()
    assert len(pdf) == docs.count()                     # every doc assigned
    sums = pdf.groupby("batch_id")["n_tokens"].agg(["sum", "count"])
    # multi-doc batches respect the budget; singletons may exceed it only
    # when the single document itself is longer than the budget
    multi = sums[sums["count"] > 1]
    assert (multi["sum"] <= 500).all()
    single_over = pdf.merge(sums[sums["count"] == 1], on="batch_id")
    over = single_over[single_over["sum"] > 500]
    assert (over["n_tokens"] > 500).all()
    again = sampling.pack_sequences(docs, "doc_id", "n_tok", budget=500).toPandas()
    m1 = dict(zip(pdf["id"], pdf["batch_id"]))
    m2 = dict(zip(again["id"], again["batch_id"]))
    assert m1 == m2                                     # deterministic


def test_pack_sequences_state_across_arrow_batches(spark):
    """The mapInPandas fill carries (batch, tokens) state ACROSS Arrow
    batches within a partition (round-8 rewrite of the applyInPandas
    shape): with maxRecordsPerBatch forced tiny, a partition spans many
    batches and the packing must equal the single-batch answer."""
    from supersonic_spark.pipeline import sampling

    df = spark.createDataFrame(
        [(i, 100) for i in range(200)], ["doc_id", "n_tok"]
    ).repartition(2)
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        small = sampling.pack_sequences(df, "doc_id", "n_tok", budget=500).toPandas()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    big = sampling.pack_sequences(df, "doc_id", "n_tok", budget=500).toPandas()
    assert dict(zip(small["id"], small["batch_id"])) == dict(
        zip(big["id"], big["batch_id"])
    )
    # 5 × 100-token docs per 500-budget batch, resetting per partition
    sums = small.groupby("batch_id")["n_tokens"].agg(["sum", "count"])
    assert (sums["sum"] <= 500).all()
    assert (sums["count"] == 5).sum() >= 38  # 200/5 full batches, ±partition tails


def test_vocab_topk_counts_and_tiebreak(spark):
    from supersonic_spark.pipeline.textstats import vocab_topk

    df = spark.createDataFrame(
        [(1, "the cat and the hat"), (2, "The CAT! sat."), (3, "zz zz aa")],
        ["doc_id", "text"],
    )
    out = vocab_topk(df, "text", k=4).collect()
    # counts: the=3, cat=2, zz=2, aa/and/hat/sat=1 -> top4 ties broken by token
    assert [(r["token"], r["n"]) for r in out] == [
        ("the", 3), ("cat", 2), ("zz", 2), ("aa", 1)
    ]


def test_tfidf_scores_and_topk(spark):
    import math

    from supersonic_spark.pipeline.textstats import tfidf, tfidf_topk

    df = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "durian")],
        ["doc_id", "text"],
    )
    rows = {(r["doc_id"], r["token"]): r for r in tfidf(df, "doc_id", "text").collect()}
    # apple: tf=2 in doc1, doc_freq=1, N=3 -> 2*(ln(4/2)+1)
    r = rows[(1, "apple")]
    assert r["tf"] == 2 and r["doc_freq"] == 1
    assert abs(r["tfidf"] - round(2 * (math.log(4 / 2) + 1), 6)) < 1e-9
    # banana appears in 2 docs -> lower idf than cherry (1 doc)
    assert rows[(2, "banana")]["tfidf"] < rows[(2, "cherry")]["tfidf"]
    top1 = {r["doc_id"]: r["token"]
            for r in tfidf_topk(df, "doc_id", "text", k=1).collect()}
    assert top1 == {1: "apple", 2: "cherry", 3: "durian"}


def test_connected_components_chain_cycle_isolated(spark):
    from supersonic_spark.pipeline.dedup import cluster_dedup, connected_components

    # chain 1-2-3-4-5-6 (diameter > 2 forces several propagation rounds),
    # cycle 10-11-12-10, pair 20-21; 30 isolated (no pairs at all)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
         (10, 11), (11, 12), (12, 10), (20, 21)],
        ["id_a", "id_b"],
    )
    cc = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1,
                  10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    docs = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 6, 10, 11, 12, 20, 21, 30]], ["id"]
    )
    out = cluster_dedup(docs, pairs, "id").collect()
    comp = {r["id"]: (r["component"], r["is_canonical"]) for r in out}
    assert comp[30] == (30, True)  # isolated row = its own singleton
    assert comp[1] == (1, True) and comp[6] == (1, False)
    canonical = [r["id"] for r in out if r["is_canonical"]]
    assert sorted(canonical) == [1, 10, 20, 30]


def test_two_phase_cc_matches_min_label_random_graphs(spark):
    """Property: large-star/small-star labels equal min-label propagation on
    random graphs (both = min reachable node id)."""
    import random

    from supersonic_spark.pipeline.dedup import (
        connected_components,
        connected_components_two_phase,
    )

    rng = random.Random(13)
    for trial in range(3):
        n = 40
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(30 + 10 * trial)]
        edges = [(a, b) for a, b in edges if a != b]
        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        base = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
        star = {
            r["id"]: r["component"]
            for r in connected_components_two_phase(pairs).collect()
        }
        assert star == base


def test_two_phase_cc_long_chain_log_rounds(spark):
    """A 300-node chain has diameter 299 — min-label would need ~300 rounds;
    the star algorithm must finish within O(log n) (max_iter=12 ⇒ if it
    hadn't converged the labels would be wrong)."""
    from supersonic_spark.pipeline.dedup import connected_components_two_phase

    pairs = spark.createDataFrame([(i, i + 1) for i in range(300)], ["id_a", "id_b"])
    out = connected_components_two_phase(pairs, max_iter=12).collect()
    assert len(out) == 301 and all(r["component"] == 0 for r in out)


def test_two_phase_cc_checkpoint_dir(spark, tmp_path):
    from supersonic_spark.pipeline.dedup import connected_components_two_phase

    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], ["id_a", "id_b"])
    out = {
        r["id"]: r["component"]
        for r in connected_components_two_phase(
            pairs, checkpoint_dir=str(tmp_path / "ckpt")
        ).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_repetition_signals_golden(spark):
    from supersonic_spark.pipeline.textstats import repetition_signals

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y"), (3, "solo")], ["id", "text"]
    )
    out = {r["id"]: r for r in repetition_signals(df, "id", "text").collect()}
    assert out[1]["n_words"] == 4
    assert out[1]["top_word_frac"] == 0.75
    assert out[1]["distinct_word_ratio"] == 0.5
    # 2-grams of doc 1: "a a", "a a", "a b" -> 3 total, 2 distinct
    assert out[1]["dup_2gram_frac"] == 0.333333
    assert out[2]["dup_2gram_frac"] == 0.0 and out[2]["distinct_word_ratio"] == 1.0
    # single-word doc has no 2-grams: coalesced to 0, not NULL
    assert out[3]["dup_2gram_frac"] == 0.0


def test_pii_counts_and_redact(spark):
    from pyspark.sql import functions as F

    from supersonic_spark.pipeline.textstats import pii_counts, pii_redact

    df = spark.createDataFrame(
        [(1, "mail a@b.org or c.d@e.co.uk, call 555-123-4567, host 10.0.0.1"),
         (2, "clean text, version 1.2 is not an ip")],
        ["id", "text"],
    )
    out = {
        r["id"]: r
        for r in df.select(
            "id", *pii_counts("text"), pii_redact("text").alias("red")
        ).collect()
    }
    assert (out[1]["n_email"], out[1]["n_phone"], out[1]["n_ipv4"]) == (2, 1, 1)
    assert out[1]["red"] == "mail [PII] or [PII], call [PII], host [PII]"
    assert (out[2]["n_email"], out[2]["n_phone"], out[2]["n_ipv4"]) == (0, 0, 0)
    assert out[2]["red"] == "clean text, version 1.2 is not an ip"


def test_fuzzy_pairs_blocking_and_threshold(spark):
    from supersonic_spark.pipeline.dedup import fuzzy_pairs

    df = spark.createDataFrame(
        [(1, "red widget"), (2, "red widgets"), (3, "red gadget"),
         (4, "blue widget"), (5, "red")],
        ["id", "name"],
    )
    out = {(r["id_a"], r["id_b"]): r["dist"]
           for r in fuzzy_pairs(df, "id", "name", max_dist=2).collect()}
    # widget~widgets dist 1; widget~gadget dist 2; widgets~gadget dist 3
    # (cut); blue blocked out (prefix differs); "red" length-banded away
    assert out == {(1, 2): 1, (1, 3): 2}


def test_ngram_overlap_golden_and_hash_invariance(spark):
    from supersonic_spark.pipeline.dedup import ngram_overlap

    corpus = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y z w")], ["id", "text"]
    )
    bench = spark.createDataFrame(
        [(10, "b c d e f"), (11, "q r s t")], ["bid", "btext"]
    )
    for hashed in (True, False):
        out = ngram_overlap(
            corpus, bench, "id", "text", "bid", "btext", n=3, hash_grams=hashed
        ).collect()
        # doc 1 shares "b c d" and "c d e" with bench doc 10; doc 2 is clean
        assert [(r["id"], r["n_shared_grams"], r["n_bench_docs"]) for r in out] == [
            (1, 2, 1)
        ]


def test_unigram_logprob_golden(spark):
    import math

    from supersonic_spark.pipeline.textstats import unigram_logprob

    df = spark.createDataFrame([(1, "a a b"), (2, "b c")], ["id", "text"])
    out = {r["id"]: r for r in unigram_logprob(df, "id", "text").collect()}
    # corpus: a=2 b=2 c=1, total=5, V=3; p(a)=p(b)=3/8, p(c)=2/8
    assert out[1]["n_tokens"] == 3 and out[2]["n_tokens"] == 2
    assert out[1]["avg_logprob"] == round(math.log(3 / 8), 6)
    assert out[2]["avg_logprob"] == round((math.log(3 / 8) + math.log(1 / 4)) / 2, 6)


def test_chunk_documents_overlap_and_short_docs(spark):
    from supersonic_spark.pipeline.textstats import chunk_documents

    df = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"), (2, "a b")], ["id", "text"]
    )
    out = chunk_documents(df, "id", "text", chunk_tokens=4, overlap=1)
    got = [(r["id"], r["chunk_id"], r["chunk_text"], r["n_chunk_tokens"])
           for r in out.orderBy("id", "chunk_id").collect()]
    # step 3: starts 1,4,7 — consecutive chunks share exactly one token
    assert got == [
        (1, 0, "w1 w2 w3 w4", 4),
        (1, 1, "w4 w5 w6 w7", 4),
        (1, 2, "w7 w8 w9 w10", 4),
        (2, 0, "a b", 2),
    ]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(df, "id", "text", chunk_tokens=4, overlap=4)


def test_weighted_sample_by_hash_deterministic_monotone(spark):
    from supersonic_spark.pipeline.sampling import weighted_sample_by_hash

    df = spark.range(10000).select(F.col("id"), (F.col("id") % 2).alias("grp"))
    w = F.when(F.col("grp") == 0, F.lit(0.5)).otherwise(F.lit(0.0))
    kept = weighted_sample_by_hash(df, "id", w)
    ids = {r["id"] for r in kept.collect()}
    assert all(i % 2 == 0 for i in ids)            # weight-0 rows never kept
    assert 0.4 < len(ids) / 5000 < 0.6             # ≈ half the weight-0.5 rows
    again = {r["id"] for r in weighted_sample_by_hash(df, "id", w).collect()}
    assert again == ids                             # pure function of identity
    # same salt, higher weight ⇒ superset (threshold is monotone in weight)
    bigger = {r["id"] for r in weighted_sample_by_hash(df, "id", F.lit(0.75)).collect()}
    smaller = {r["id"] for r in weighted_sample_by_hash(df, "id", F.lit(0.25)).collect()}
    assert smaller <= bigger


def test_mixture_weights_temperature_and_target(spark):
    from supersonic_spark.pipeline.sampling import mixture_weights

    rows = [("big",)] * 900 + [("mid",)] * 90 + [("small",)] * 10
    df = spark.createDataFrame(rows, ["src"])
    # temperature 0: expected kept rows (n * weight) equal across groups
    w0 = {r["src"]: (r["n"], r["weight"]) for r in mixture_weights(df, "src", 0.0).collect()}
    assert w0["small"][1] == 1.0
    expected = {s: n * w for s, (n, w) in w0.items()}
    assert max(expected.values()) - min(expected.values()) < 1e-9
    # temperature 1: natural proportions — every weight 1.0
    w1 = {r["src"]: r["weight"] for r in mixture_weights(df, "src", 1.0).collect()}
    assert set(w1.values()) == {1.0}
    # target_rows rescales the expected total (uncapped when target is
    # below the natural expectation; above it, per-group weights cap at 1)
    wt = mixture_weights(df, "src", 0.0, target_rows=15)
    total = sum(r["n"] * r["weight"] for r in wt.collect())
    assert abs(total - 15) < 1e-6
    capped = {r["src"]: r["weight"] for r in
              mixture_weights(df, "src", 0.0, target_rows=150).collect()}
    assert capped["small"] == 1.0


def test_new_ops_partition_invariance(spark):
    """repetition_signals / chunk_documents / upsert_latest results must not
    depend on the physical partitioning of their input."""
    from supersonic_spark.operators.setops import upsert_latest
    from supersonic_spark.pipeline.textstats import chunk_documents, repetition_signals

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} a b tok{i % 3} c a b " * (1 + i % 5)) for i in range(40)],
        ["id", "text"],
    )
    for op in (
        lambda d: repetition_signals(d, "id", "text"),
        lambda d: chunk_documents(d, "id", "text", chunk_tokens=6, overlap=2),
    ):
        a = sorted(map(tuple, op(docs.repartition(1)).collect()))
        b = sorted(map(tuple, op(docs.repartition(7)).collect()))
        assert a == b
    ex = docs.selectExpr("id % 11 AS k", "text AS v", "id AS ver")
    up = docs.selectExpr("id % 11 AS k", "concat(text,'u') AS v", "id + 100 AS ver")
    a = sorted(map(tuple, upsert_latest(ex.repartition(1), up.repartition(1), ["k"], "ver").collect()))
    b = sorted(map(tuple, upsert_latest(ex.repartition(5), up.repartition(3), ["k"], "ver").collect()))
    assert a == b


def test_mean_embedding_golden(spark):
    from supersonic_spark.pipeline.similarity import mean_embedding

    df = spark.createDataFrame(
        [("a", [1.0, 2.0]), ("a", [3.0, 4.0]), ("b", [10.0, 20.0])],
        "grp string, vec array<double>",
    )
    out = {r["grp"]: (r["centroid"], r["n"])
           for r in mean_embedding(df, "grp", "vec").collect()}
    assert out == {"a": ([2.0, 3.0], 2), "b": ([10.0, 20.0], 1)}


def test_quantize_int8_roundtrip_and_zero_vector(spark):
    from supersonic_spark.pipeline.similarity import (
        dequantize_embedding_int8,
        quantize_embedding_int8,
    )

    df = spark.createDataFrame(
        [(1, [0.5, -1.27, 0.01]), (2, [0.0, 0.0, 0.0])],
        "id long, embedding array<double>",
    )
    q = quantize_embedding_int8(df, "embedding")
    rows = {r["id"]: r for r in q.collect()}
    assert rows[1]["qscale"] == pytest.approx(1.27 / 127)
    assert max(abs(c) for c in rows[1]["qvec"]) == 127
    assert rows[2]["qscale"] == 1.0 and list(rows[2]["qvec"]) == [0, 0, 0]
    back = dequantize_embedding_int8(q, out_col="deq")
    for r in back.collect():
        orig = {1: [0.5, -1.27, 0.01], 2: [0.0, 0.0, 0.0]}[r["id"]]
        for o, d in zip(orig, r["deq"]):
            assert abs(o - d) <= r["qscale"] / 2 + 1e-12


def test_clean_text_golden(spark):
    from supersonic_spark.pipeline.textstats import clean_text

    df = spark.createDataFrame([(1, "  A\x01B\tC  D ")], ["id", "raw"])
    out = df.select(clean_text("raw").alias("c")).collect()[0]["c"]
    assert out == "ab c d"
    kept = df.select(clean_text("raw", lower=False).alias("c")).collect()[0]["c"]
    assert kept == "AB C D"


def test_bigram_logprob_hand_computed(spark):
    import math

    from supersonic_spark.pipeline.textstats import bigram_logprob

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b a"), (3, "x")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in bigram_logprob(df, "doc_id", "text").collect()}
    # unigrams: a:3 b:2 x:1 -> V=3; bigrams: "a b":1, "b a":2
    p_ab = (1 + 1.0) / (3 + 3)  # p(b|a)
    p_ba = (2 + 1.0) / (2 + 3)  # p(a|b)
    assert out[1]["n_bigrams"] == 2
    assert abs(out[1]["avg_bigram_logprob"] - round((math.log(p_ab) + math.log(p_ba)) / 2, 6)) < 1e-9
    assert out[2]["n_bigrams"] == 1
    assert abs(out[2]["avg_bigram_logprob"] - round(math.log(p_ba), 6)) < 1e-9
    assert 3 not in out  # single-token doc has no bigrams


def test_cap_per_key_quota_and_partition_invariance(spark):
    from supersonic_spark.pipeline.sampling import cap_per_key

    rows = [(i, f"k{i % 3}") for i in range(100)]
    df = spark.createDataFrame(rows, "id long, k string")
    out = cap_per_key(df, "k", "id", 7)
    counts = {r["k"]: r["n"] for r in out.groupBy("k").count().withColumnRenamed("count", "n").collect()}
    assert counts == {"k0": 7, "k1": 7, "k2": 7}
    # survivor set is a pure function of identity: invariant to partitioning
    a = sorted(r["id"] for r in out.collect())
    b = sorted(r["id"] for r in cap_per_key(df.repartition(13), "k", "id", 7).collect())
    assert a == b
    # keys under quota keep everything
    small = spark.createDataFrame([(1, "x"), (2, "x")], "id long, k string")
    assert cap_per_key(small, "k", "id", 7).count() == 2
    # keep_rank exposes 1..n dense ranks per key
    ranked = cap_per_key(df, "k", "id", 3, keep_rank=True)
    per_key = {}
    for r in ranked.collect():
        per_key.setdefault(r["k"], []).append(r["cap_rank"])
    assert all(sorted(v) == [1, 2, 3] for v in per_key.values())


def test_rerank_topk_matches_exact_on_recalled_set(spark, vecs):
    """Two-stage retrieval: reranking an ANN shortlist with exact cosine
    must order candidates exactly as cosine_topk does wherever the
    shortlist contains them, and never invent candidates."""
    q = vecs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    c = vecs.select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("corpus_vec")
    )
    ann = similarity.pq_topk(
        q, c, "query_id", "query_vec", "corpus_id", "corpus_vec", k=10, m=4, ksub=8
    )
    rr = similarity.rerank_topk(
        ann, q, c, "query_id", "query_vec", "corpus_id", "corpus_vec", k=3
    )
    shortlist = {}
    for r in ann.collect():
        shortlist.setdefault(r["query_id"], set()).add(r["corpus_id"])
    exact = similarity.cosine_topk(q, c, k=20)
    exact_order = {}
    for r in sorted(exact.collect(), key=lambda r: (r["query_id"], r["rank"])):
        exact_order.setdefault(r["query_id"], []).append(r["corpus_id"])
    got = {}
    for r in sorted(rr.collect(), key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append(r["corpus_id"])
    for qid, ids in got.items():
        assert set(ids) <= shortlist[qid]  # rerank never invents candidates
        want = [cid for cid in exact_order[qid] if cid in shortlist[qid]][:3]
        assert ids == want  # exact order restored on the recalled set


def test_gif_frame_features_kernel(spark):
    """GIF frame extraction: stride sampling, exact lossless pixel sums,
    and single ok=False row for undecodable blobs."""
    import numpy as np

    from supersonic_spark.pipeline import codecs_gif

    frames = [np.full((4, 6, 3), 10 * (f + 1), dtype=np.uint8) for f in range(5)]
    good = codecs_gif.encode_gif(frames)
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"junk bytes"))], "id long, blob binary"
    )
    out = multimodal.gif_frame_features(df, "blob", every_n=2).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["id"], []).append(r["frame"])
    assert [f["frame_index"] for f in by_id[1]] == [0, 2, 4]
    for f in by_id[1]:
        assert f["n_frames"] == 5 and f["width"] == 6 and f["height"] == 4
        assert f["pix_sum"] == 4 * 6 * 3 * 10 * (f["frame_index"] + 1)
    assert len(by_id[2]) == 1 and by_id[2][0]["ok"] is False


def test_fixed_size_sample_deterministic_partition_invariant(spark):
    from supersonic_spark.pipeline import sampling

    df = spark.range(0, 1000).select(F.col("id").alias("k"))
    a = {r["k"] for r in sampling.fixed_size_sample(df, 37, "k").collect()}
    b = {r["k"] for r in sampling.fixed_size_sample(df.repartition(13), 37, "k").collect()}
    assert len(a) == 37 and a == b  # exactly k, partitioning-invariant
    # fewer rows than k → all rows
    assert sampling.fixed_size_sample(df.limit(5), 37, "k").count() == 5
    # top-k plan, not a global sort
    plan = (sampling.fixed_size_sample(df, 37, "k")
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan


def test_weighted_reservoir_sample_exact_and_invariant(spark):
    """The A-Res selection replays exactly against a pure-Python md5
    computation of the same keys, is partitioning-invariant, and excludes
    non-positive/NULL weights."""
    import hashlib
    import math

    from supersonic_spark.pipeline import sampling

    rows = [(i, float((i * 7) % 23 + 1)) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, w double")

    def key(i, w):
        h = hashlib.md5(f"ss-wres{i}".encode()).hexdigest()
        u = (int(h[:8], 16) + 0.5) / 4294967296.0
        return -math.log(u) / w

    expect = {i for i, _ in sorted(rows, key=lambda r: (key(*r), r[0]))[:25]}
    got = {r["id"] for r in sampling.weighted_reservoir_sample(df, 25, "id", "w").collect()}
    assert got == expect
    got2 = {r["id"] for r in sampling.weighted_reservoir_sample(
        df.repartition(13), 25, "id", "w").collect()}
    assert got2 == expect
    # k > n → everything with positive weight; zero/NULL weights excluded
    small = spark.createDataFrame(
        [(1, 2.0), (2, 0.0), (3, None), (4, 1.0)], "id long, w double"
    )
    assert {r["id"] for r in sampling.weighted_reservoir_sample(
        small, 10, "id", "w").collect()} == {1, 4}
    # top-k plan, not a global sort
    plan = (sampling.weighted_reservoir_sample(df, 25, "id", "w")
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan


def test_token_budget_sample_exact_prefix(spark):
    """Budget prefix is exact (integer cumsum), boundary-inclusive, ordered
    by the caller's priority, and partitioning-invariant."""
    from supersonic_spark.pipeline import sampling

    rows = [(i, (i * 13) % 40 + 1, float((i * 7) % 11)) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, tok long, q double")
    order = [F.col("q").desc(), F.col("id")]

    ordered = sorted(rows, key=lambda r: (-r[2], r[0]))
    cum, expect = 0, {}
    for i, tok, _ in ordered:
        if cum + tok > 500:
            break
        cum += tok
        expect[i] = cum

    out = {r["id"]: r["cum_tokens"] for r in sampling.token_budget_sample(
        df, "tok", 500, order).collect()}
    assert out == expect
    out2 = {r["id"]: r["cum_tokens"] for r in sampling.token_budget_sample(
        df.repartition(17), "tok", 500, order, num_partitions=5).collect()}
    assert out2 == expect
    # budget bigger than the corpus → all rows, cum == total
    total = sum(t for _, t, _ in rows)
    allrows = sampling.token_budget_sample(df, "tok", total, order)
    assert allrows.count() == 200
    assert allrows.agg(F.max("cum_tokens")).collect()[0][0] == total
    # zero budget → empty, schema intact
    empty = sampling.token_budget_sample(df, "tok", 0, order)
    assert empty.count() == 0 and empty.columns == ["id", "tok", "q", "cum_tokens"]


# ---------------------------------------------------------------- line dedup

def test_line_dedup_drops_boilerplate(spark):
    from supersonic_spark.pipeline import dedup

    df = spark.createDataFrame(
        [
            (1, "alpha one\nSHARED BANNER\nunique tail 1"),
            (2, "beta two\nSHARED BANNER\nunique tail 2"),
            (3, "gamma three\nSHARED BANNER\nunique tail 3"),
            (4, "SHARED BANNER"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in dedup.line_dedup(df, "doc_id", "text", max_doc_count=3).collect()
    }
    assert out[1]["text"] == "alpha one\nunique tail 1"
    assert out[1]["n_lines"] == 3 and out[1]["n_dropped"] == 1
    # a doc that was ONLY boilerplate survives as an empty text, not a lost row
    assert out[4]["text"] == "" and out[4]["n_dropped"] == 1
    # under the cap nothing is dropped
    kept = {
        r["doc_id"]: r
        for r in dedup.line_dedup(df, "doc_id", "text", max_doc_count=4).collect()
    }
    assert kept[2]["text"] == "beta two\nSHARED BANNER\nunique tail 2"
    assert kept[2]["n_dropped"] == 0


def test_line_dedup_trim_normalization_and_frac(spark):
    from supersonic_spark.pipeline import dedup

    # banner matches across leading/trailing whitespace variants (trim key),
    # but the KEPT lines keep their original raw spelling
    df = spark.createDataFrame(
        [
            (1, "  banner  \nkeep me 1"),
            (2, "banner\nkeep me 2"),
            (3, "banner \nkeep me 3"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in dedup.line_dedup(df, "doc_id", "text", max_doc_frac=0.5).collect()
    }
    assert all(out[i]["n_dropped"] == 1 for i in (1, 2, 3))
    assert out[1]["text"] == "keep me 1"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dedup.line_dedup(df, "doc_id", "text")
    with _pytest.raises(ValueError):
        dedup.line_dedup(df, "doc_id", "text", max_doc_frac=0.5, max_doc_count=1)


# ---------------------------------------------------------------- semdedup

def test_semdedup_drops_exact_copies_keeps_rest(spark):
    import numpy as np

    from supersonic_spark.pipeline import dedup

    rng = np.random.default_rng(11)
    base = rng.normal(size=(40, 16)).astype("float32")
    rows_ = [(i, [float(x) for x in base[i]]) for i in range(40)]
    # exact copies of vectors 0..4 under higher ids
    rows_ += [(100 + i, [float(x) for x in base[i]]) for i in range(5)]
    df = spark.createDataFrame(rows_, ["vec_id", "embedding"])
    res = dedup.semdedup(df, "vec_id", "embedding", n_cells=4, threshold=0.99,
                         sample_size=64)
    got = {r["vec_id"]: r["dropped"] for r in res.collect()}
    assert len(got) == 45
    for i in range(5):
        assert got[100 + i] is True          # copy dropped
        assert got[i] is False               # original kept
    assert sum(got.values()) == 5            # nothing else dropped


def test_semdedup_chain_uses_lower_id_neighbors_not_kept_set(spark):
    import numpy as np

    from supersonic_spark.pipeline import dedup

    # a -> b cos ~0.997, b -> c cos ~0.997, a -> c cos ~0.99: with
    # threshold between, BOTH b and c drop (b justifies c even though b
    # itself was dropped) — the documented per-pair greedy
    a = np.ones(8)
    def tilt(v, i, eps):
        w = v.copy(); w[i] += eps; return w / np.linalg.norm(w)
    an = a / np.linalg.norm(a)
    b = tilt(a, 0, 0.6)
    c = tilt(b * np.linalg.norm(a), 1, 0.6)
    cos_ab = float(an @ b); cos_bc = float(b @ c); cos_ac = float(an @ c)
    assert cos_ab > 0.97 and cos_bc > 0.97 and cos_ac < cos_ab
    thr = (max(cos_ac, 0.9) + min(cos_ab, cos_bc)) / 2
    df = spark.createDataFrame(
        [(1, [float(x) for x in an]), (2, [float(x) for x in b]),
         (3, [float(x) for x in c])],
        ["vec_id", "embedding"],
    )
    res = dedup.semdedup(df, "vec_id", "embedding", n_cells=1, threshold=thr,
                         sample_size=8)
    got = {r["vec_id"]: r["dropped"] for r in res.collect()}
    assert got == {1: False, 2: True, 3: True}


def test_semdedup_hierarchical_assignment_same_contract(spark):
    """n_cells >= 512 switches to the two-level quantizer; the operator
    contract must be unchanged: exact copies always drop (identical vectors
    share a cell under the deterministic argmax chain), kept+dropped
    partitions the corpus, cell ids stay within the fine-cell id space, and
    every drop is justified by a lower-id SAME-CELL neighbor — the exact
    invariants the oracle query re-verifies."""
    import numpy as np

    from supersonic_spark.pipeline import dedup

    rng = np.random.default_rng(23)
    base = rng.normal(size=(600, 16)).astype("float64")
    rows_ = [(i, [float(x) for x in base[i]]) for i in range(600)]
    rows_ += [(1000 + i, [float(x) for x in base[i]]) for i in range(10)]
    df = spark.createDataFrame(rows_, ["vec_id", "embedding"])
    res = dedup.semdedup(df, "vec_id", "embedding", n_cells=512,
                         threshold=0.99, sample_size=256)
    got = res.collect()
    assert len(got) == 610
    by_id = {r["vec_id"]: r for r in got}
    for i in range(10):
        assert by_id[1000 + i]["dropped"] is True     # exact copy dropped
        # identical vector ⇒ identical (coarse, fine) cell
        assert by_id[1000 + i]["cell"] == by_id[i]["cell"]
    # every drop justified: a lower-id same-cell neighbor at cos >= thr
    vecs = {r["vec_id"]: np.asarray(base[r["vec_id"]] if r["vec_id"] < 600
                                    else base[r["vec_id"] - 1000])
            for r in got}
    cells = {r["vec_id"]: r["cell"] for r in got}
    for r in got:
        if not r["dropped"]:
            continue
        v = vecs[r["vec_id"]] / np.linalg.norm(vecs[r["vec_id"]])
        ok = any(
            cells[o] == r["cell"] and o < r["vec_id"]
            and float(v @ (vecs[o] / np.linalg.norm(vecs[o]))) >= 0.99
            for o in vecs
        )
        assert ok, f"unjustified drop: {r['vec_id']}"


def test_hier_centroids_cover_requested_cells(spark):
    """The two-level trainer must produce a fine-cell id space close to the
    requested n_cells (within the sample's ability to populate it) and the
    assignment UDF must emit ids inside [0, total_fine)."""
    import numpy as np

    from supersonic_spark.pipeline.similarity import (
        _assign_cells_hier_udf,
        ivf_train_centroids_hier,
    )

    rng = np.random.default_rng(7)
    X = rng.normal(size=(2000, 8)).astype("float64")
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(2000)],
        ["vec_id", "embedding"],
    )
    coarse, fine = ivf_train_centroids_hier(
        df, "vec_id", "embedding", n_cells=600, sample_size=256
    )
    total = sum(len(f) for f in fine)
    assert len(coarse) == len(fine)
    # 8 rows/cell sampling floor: the trainer saw min(8*600, 2000) rows,
    # so it can only materialize ≈2000 distinct members — but never more
    # cells than requested + coarse rounding, and never trivially few
    assert 100 <= total <= 600 + len(coarse)
    assigned = df.withColumn(
        "cell", _assign_cells_hier_udf(coarse, fine)("embedding")[0]
    )
    mm = assigned.agg(
        F.min("cell").alias("lo"), F.max("cell").alias("hi"),
        F.countDistinct("cell").alias("nd"),
    ).collect()[0]
    assert mm["lo"] >= 0 and mm["hi"] < total
    assert mm["nd"] > len(coarse)  # genuinely using the fine level


def test_hier_centroids_byte_cap_and_distributed_coarse(spark):
    """The trainer's driver collect is BYTE-capped (rows × dim × 8 ≤
    max_train_bytes), not row-capped: a big-dim corpus must shrink the
    sample instead of collecting ~0.5 GB to the driver, and when the cap
    cuts below 8 rows/cell the coarse level trains DISTRIBUTED
    (kmeans_lloyd) while keeping the same return contract — identical
    vectors still share a (coarse, fine) cell."""
    import numpy as np

    from supersonic_spark.pipeline.similarity import (
        _assign_cells_hier_udf,
        ivf_train_centroids_hier,
    )

    rng = np.random.default_rng(11)
    dim = 32
    X = rng.normal(size=(400, dim)).astype("float64")
    rows_ = [(i, [float(x) for x in X[i]]) for i in range(400)]
    rows_ += [(1000 + i, [float(x) for x in X[i]]) for i in range(5)]  # copies
    df = spark.createDataFrame(rows_, ["vec_id", "embedding"])

    # cap allows only 64 sample rows (64*32*8 = 16 KiB) while 8 rows/cell
    # for n_cells=100 wants 800 → the distributed-coarse path must engage
    coarse, fine = ivf_train_centroids_hier(
        df, "vec_id", "embedding", n_cells=100, sample_size=4096,
        max_train_bytes=64 * dim * 8,
    )
    assert len(coarse) == len(fine)
    # coarse level is corpus-trained, NOT bounded by the 64-row sample:
    # k1 = ceil(sqrt(100)) = 10 distinct coarse centroids
    assert len(coarse) == 10
    total = sum(len(f) for f in fine)
    assert 10 <= total <= 100 + len(coarse)
    assigned = df.withColumn(
        "cell", _assign_cells_hier_udf(coarse, fine)("embedding")[0]
    )
    got = {r["vec_id"]: r["cell"] for r in assigned.collect()}
    for i in range(5):
        assert got[1000 + i] == got[i]  # copy-shares-cell invariant
    assert all(0 <= c < total for c in got.values())

    # small-ratio sampling (ADVICE fix): n_total barely above the target
    # must not undershoot — the trainer collects everything below 1.5×
    coarse2, fine2 = ivf_train_centroids_hier(
        df.limit(80), "vec_id", "embedding", n_cells=8, sample_size=64
    )
    assert sum(len(f) for f in fine2) >= 8  # full quality at tiny ratios


def test_substring_dup_spans(spark):
    """Exact duplicated-substring spans: a k-token gram shared by >=min_df
    docs marks its token range in EVERY doc containing it; overlapping and
    adjacent ranges merge into one island; unique text, too-short docs and
    NULL text emit nothing; within-doc repeats alone don't qualify
    (document frequency counts DISTINCT docs)."""
    from supersonic_spark.pipeline.dedup import substring_dup_spans

    shared = "alpha beta gamma delta"          # 4 tokens, in docs 1 and 2
    rows = [
        # doc 1: shared gram at tokens 3-6 of 8
        (1, f"one two {shared} seven eight"),
        # doc 2: shared gram at 1-4, PLUS an overlapping extension: tokens
        # 2-5 ("beta gamma delta epsilon") also appear in doc 3 -> the two
        # spans [1,4] and [2,5] merge into one island [1,5]
        (2, f"{shared} epsilon zzz2"),
        (3, "beta gamma delta epsilon unrelated filler words here"),
        (4, "totally unique text with no shared grams at all"),
        (5, "short doc"),                       # < k tokens: no grams
        (6, None),                              # NULL text: dropped
        # docs 7+8: a second shared gram, ADJACENT repeats inside doc 7 —
        # "p q r s p q r s": gram [1,4] and [5,8] both match doc 8's text,
        # adjacent islands merge to [1,8]
        (7, "p q r s p q r s"),
        (8, "p q r s tail filler"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_id"], r["start_tok"], r["end_tok"], r["n_tokens"])
        for r in substring_dup_spans(df, "doc_id", "text", k=4, min_df=2).collect()
    }
    assert (1, 3, 6, 4) in got
    assert (2, 1, 5, 5) in got                  # overlap-merged island
    assert (3, 1, 4, 4) in got
    assert (7, 1, 8, 8) in got                  # adjacent islands merged
    assert (8, 1, 4, 4) in got
    assert not any(d in (4, 5, 6) for d, *_ in got)

    # within-doc repetition alone is NOT cross-doc duplication
    solo = spark.createDataFrame(
        [(1, "x y z w x y z w"), (2, "nothing in common here at all")],
        ["doc_id", "text"],
    )
    assert substring_dup_spans(solo, "doc_id", "text", k=4, min_df=2).count() == 0

    import pytest

    with pytest.raises(ValueError):
        substring_dup_spans(df, "doc_id", "text", k=0)


def test_substring_dup_spans_null_id_df_stance(spark):
    """Document frequency counts DISTINCT NON-NULL doc ids (the
    count_distinct stance, preserved across the round-8 window-based
    restructure): a gram shared only between a NULL-id document and one
    real document has df=1 and emits nothing at min_df=2; once two real
    docs share it, spans appear for every containing document — including
    a NULL-id one, whose span row carries the NULL id through."""
    from supersonic_spark.pipeline.dedup import substring_dup_spans

    shared = "alpha beta gamma delta"
    only_null = spark.createDataFrame(
        [(None, shared), (1, shared), (2, "totally unrelated words here")],
        "doc_id int, text string",
    )
    assert substring_dup_spans(only_null, "doc_id", "text", k=4, min_df=2).count() == 0

    two_real = spark.createDataFrame(
        [(None, shared), (1, shared), (2, f"prefix {shared}")],
        "doc_id int, text string",
    )
    got = {
        (r["doc_id"], r["start_tok"], r["end_tok"])
        for r in substring_dup_spans(two_real, "doc_id", "text", k=4, min_df=2).collect()
    }
    assert got == {(None, 1, 4), (1, 1, 4), (2, 2, 5)}


def test_substring_gram_index_and_probe(spark, tmp_path):
    """Incremental substring decontamination: the gram index persists to
    parquet and a NEW batch probes it without touching corpus text; spans
    match the batch-mode operator run over corpus+batch restricted to
    grams the corpus contains; two indexes append-merge by summed
    doc_freq."""
    from supersonic_spark.pipeline.dedup import (
        substring_dup_spans,
        substring_gram_index,
        substring_spans_against_index,
    )

    corpus = spark.createDataFrame(
        [(0, "alpha beta gamma delta tail one"),
         (2, "alpha beta gamma delta other text"),
         (4, "completely different corpus content here")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(1, "lead alpha beta gamma delta trail"),   # corpus gram at 2-5
         (3, "no shared grams in this new doc"),
         (5, "alpha beta gamma delta")],              # whole doc duplicated
        ["doc_id", "text"],
    )
    idx_path = str(tmp_path / "gram_idx")
    substring_gram_index(corpus, "doc_id", "text", k=4).write.parquet(idx_path)
    index = spark.read.parquet(idx_path)
    # doc_freq is per-distinct-doc: the shared gram sits in corpus docs 0+2
    assert {r["doc_freq"] for r in index.collect()} <= {1, 2}
    got = {
        (r["doc_id"], r["start_tok"], r["end_tok"])
        for r in substring_spans_against_index(
            batch, index, "doc_id", "text", k=4
        ).collect()
    }
    assert got == {(1, 2, 5), (5, 1, 4)}

    # min_df raises the bar: grams must be in >=2 corpus docs
    got2 = {
        (r["doc_id"], r["start_tok"], r["end_tok"])
        for r in substring_spans_against_index(
            batch, index, "doc_id", "text", k=4, min_df=2
        ).collect()
    }
    assert got2 == {(1, 2, 5), (5, 1, 4)}  # the shared gram has df=2

    # append-merge discipline: union + groupBy(g).sum == index of the union
    import pyspark.sql.functions as SF

    half_a = substring_gram_index(corpus.filter("doc_id <= 2"), "doc_id", "text", k=4)
    half_b = substring_gram_index(corpus.filter("doc_id > 2"), "doc_id", "text", k=4)
    merged = (
        half_a.unionByName(half_b).groupBy("g")
        .agg(SF.sum("doc_freq").alias("doc_freq"))
    )
    full = substring_gram_index(corpus, "doc_id", "text", k=4)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, full.collect()))

    # parity with the batch-mode operator: probing the index equals
    # running substring_dup_spans over corpus+batch and keeping batch-side
    # spans whose grams the corpus holds (min_df=2 across the union finds
    # the same cross-side duplicates here, since batch docs share grams
    # only with the corpus)
    both = substring_dup_spans(
        corpus.unionByName(batch), "doc_id", "text", k=4, min_df=2
    )
    batch_side = {
        (r["doc_id"], r["start_tok"], r["end_tok"])
        for r in both.collect() if r["doc_id"] % 2 == 1
    }
    assert batch_side == got


def test_line_dedup_regex_special_separator(spark):
    from supersonic_spark.pipeline import dedup

    # '|' is a regex alternation metachar — the separator must be treated
    # literally in both the split and the reassembly
    df = spark.createDataFrame(
        [(1, "a|BOILER|x"), (2, "b|BOILER|y"), (3, "c|BOILER|z")],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in dedup.line_dedup(
            df, "doc_id", "text", max_doc_count=2, sep="|"
        ).collect()
    }
    assert out[1]["text"] == "a|x" and out[1]["n_dropped"] == 1
    assert out[3]["text"] == "c|z" and out[3]["n_lines"] == 3


# ---------------------------------------------------------------- kill drill


class _DrillCrash(Exception):
    """Simulated crash injected at a publish-rename boundary."""


def _drill_frames(tables):
    emb = tables["embeddings"]
    mk = lambda r: emb.filter(F.col("vec_id") % 3 == r).select(  # noqa: E731
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    return mk(0), mk(1), mk(2)


def _drill_steps(spark, root: str, b1, b2):
    """The post-build index lifecycle as replayable steps: append →
    commit manifest → append → commit manifest → compact → rebalance.
    Each step is idempotent by the DURABILITY.md contracts, so replaying
    from the crashed step converges."""
    import json

    return [
        lambda: similarity.ivf_index_append_atomic(b1, "cid", "cv", root, tag="batch0"),
        lambda: similarity._fs_write_text_atomic(
            spark, root + "/_ivf_appended_batches.json", json.dumps([0])
        ),
        lambda: similarity.ivf_index_append_atomic(b2, "cid", "cv", root, tag="batch1"),
        lambda: similarity._fs_write_text_atomic(
            spark, root + "/_ivf_appended_batches.json", json.dumps([0, 1])
        ),
        lambda: similarity.ann_index_compact(spark, root, target_files_per_cell=1),
        lambda: similarity.ivf_index_rebalance(spark, root, root + "_out", n_cells=4),
    ]


@pytest.fixture(scope="module")
def ivf_drill_truth(spark, tables, tmp_path_factory):
    """Run the whole lifecycle once fault-free with a counting hook to
    learn how many publish-rename boundaries it crosses, and pin the
    fault-free end state the drill runs must converge to."""
    base, b1, b2 = _drill_frames(tables)
    root = str(tmp_path_factory.mktemp("ivf_drill") / "gt")
    counter = [0]
    similarity.ivf_index_build(base, "cid", "cv", root, n_cells=4, train=True)
    similarity._RENAME_HOOK = lambda s, d: counter.__setitem__(0, counter[0] + 1)
    try:
        for step in _drill_steps(spark, root, b1, b2):
            step()
    finally:
        similarity._RENAME_HOOK = None
    all_ids = {r["cid"] for r in base.collect()} | {r["cid"] for r in b1.collect()} | {
        r["cid"] for r in b2.collect()
    }
    final_root = sorted(r["id"] for r in spark.read.parquet(root).collect())
    final_out = sorted(r["id"] for r in spark.read.parquet(root + "_out").collect())
    assert counter[0] >= 6, f"drill needs >=6 rename boundaries, saw {counter[0]}"
    assert set(final_root) == set(final_out) == all_ids
    return {
        "n_renames": counter[0],
        "base_ids": {r["cid"] for r in base.collect()},
        "all_ids": all_ids,
        "final_root": final_root,
        "final_out": final_out,
    }


@pytest.mark.parametrize("frac", [0.0, 0.15, 0.3, 0.5, 0.65, 0.8, 0.99])
def test_ivf_lifecycle_kill_point_drill(spark, tables, tmp_path, ivf_drill_truth, frac):
    """DURABILITY.md exercised as a FAMILY, not per-case: crash the
    append → manifest-commit → append → commit → compact → rebalance
    lifecycle at a publish-rename boundary (7 points spread over every
    boundary the fault-free run crosses), then assert

    1. post-crash + recovery, the index is whole: readable, no duplicate
       ids, old rows all present, nothing that isn't a real row (the
       old-or-new contract), and
    2. replaying from the crashed step converges to EXACTLY the
       fault-free end state (replay idempotence).
    """
    import json

    base, b1, b2 = _drill_frames(tables)
    n = ivf_drill_truth["n_renames"]
    k = round(frac * (n - 1))
    root = str(tmp_path / f"drill_k{k}")
    similarity.ivf_index_build(base, "cid", "cv", root, n_cells=4, train=True)
    steps = _drill_steps(spark, root, b1, b2)

    seen = [0]

    def kill_at_k(src, dst):
        if seen[0] == k:
            raise _DrillCrash(f"boundary {k}: {dst}")
        seen[0] += 1

    crashed_at = None
    similarity._RENAME_HOOK = kill_at_k
    try:
        for i, step in enumerate(steps):
            try:
                step()
            except _DrillCrash:
                crashed_at = i
                break
    finally:
        similarity._RENAME_HOOK = None
    assert crashed_at is not None, (
        f"boundary {k} of {n} never reached — lifecycle rename count changed"
    )

    # --- recovery: the compact intent protocol converges; append/manifest
    # crashes need no recovery pass (sweep-on-replay owns their leftovers)
    similarity._index_compact_recover(spark, root)

    # old-or-new at the crash point: readable, duplicate-free, complete old
    ids = [r["id"] for r in spark.read.parquet(root).collect()]
    assert len(ids) == len(set(ids)), f"duplicate rows after crash at {k} (step {crashed_at})"
    assert ivf_drill_truth["base_ids"] <= set(ids)
    assert set(ids) <= ivf_drill_truth["all_ids"]

    # --- replay from the crashed step: must converge to the fault-free state
    for step in steps[crashed_at:]:
        step()
    got_root = sorted(r["id"] for r in spark.read.parquet(root).collect())
    got_out = sorted(r["id"] for r in spark.read.parquet(root + "_out").collect())
    assert got_root == ivf_drill_truth["final_root"]
    assert got_out == ivf_drill_truth["final_out"]
    assert json.loads(
        similarity._fs_read_text(spark, root + "_out/_ivf_appended_batches.json")
    ) == [0, 1]
