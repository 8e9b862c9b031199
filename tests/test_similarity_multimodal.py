"""Similarity search + multimodal plumbing tests."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from paragrapher_spark.operators.multimodal import (
    decode_audio_features,
    decode_image_features,
    media_stats,
    resize_image,
    sample_frames,
    synth_media,
)
from paragrapher_spark.operators.similarity import knn_bruteforce, knn_lsh


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(60, 16)).astype(np.float32)
    # plant a near-duplicate cluster: 50..52 close to 0
    for i in (50, 51, 52):
        vecs[i] = vecs[0] + rng.normal(scale=0.01, size=16).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<float>").persist(),
        vecs,
    )


def _numpy_topk(vecs, k=5):
    v = vecs.astype(np.float64)
    n = v / np.linalg.norm(v, axis=1, keepdims=True)
    sims = n @ n.T
    np.fill_diagonal(sims, -np.inf)
    out = {}
    for i in range(len(v)):
        order = sorted(range(len(v)), key=lambda j: (-sims[i, j], j))[:k]
        out[i] = [(j, sims[i, j]) for j in order]
    return out


def test_knn_bruteforce_exact(emb):
    df, vecs = emb
    got = {}
    for r in knn_bruteforce(df, k=5).collect():
        got.setdefault(r.query_id, []).append((r.neighbor_id, r.score))
    want = _numpy_topk(vecs, k=5)
    assert got.keys() == want.keys()
    for q in want:
        got_ids = [n for n, _ in got[q]]
        want_ids = [n for n, _ in want[q]]
        assert got_ids == want_ids, (q, got_ids, want_ids)
        for (gn, gs), (wn, ws) in zip(got[q], want[q]):
            assert gs == pytest.approx(ws, abs=1e-5)


def test_knn_lsh_finds_planted_cluster(emb):
    df, _ = emb
    got = {}
    for r in knn_lsh(df, k=5, n_bits=16, bands=8).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    # the planted near-identical vectors must find each other
    assert {50, 51, 52} <= got[0] | {0}
    for i in (50, 51, 52):
        assert 0 in got[i] or (got[i] & {50, 51, 52})


def test_knn_deterministic(emb):
    df, _ = emb
    a = sorted(map(str, knn_bruteforce(df, k=3).collect()))
    b = sorted(map(str, knn_bruteforce(df, k=3).collect()))
    assert a == b


def test_media_pipeline(spark):
    media = synth_media(spark, n=60).persist()
    feats = decode_image_features(media).collect()
    n_img = media.where(F.col("kind") == "image").count()
    assert len(feats) == n_img
    for r in feats:
        assert len(r.features) == 8
        assert abs(sum(r.features) - 1.0) < 1e-5
        assert 0 <= r.mean_luma <= 255
    # determinism of the fake decode
    feats2 = decode_image_features(media).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats2))

    rs = resize_image(media, 32, 32).collect()
    assert len(rs) == n_img and all(len(bytes(r.payload)) == 32 for r in rs)

    frames = sample_frames(media, every_ms=5000).collect()
    n_vid = media.where(F.col("kind") == "video").count()
    assert len(frames) >= n_vid  # at least one frame per video
    assert all(f.ts_ms == f.frame_idx * 5000 for f in frames)


def test_media_stats_prunes_payload(spark):
    media = synth_media(spark, n=30)
    plan = media_stats(media)._jdf.queryExecution().executedPlan().toString()
    assert "payload" not in plan  # column pruning reached the scan


def test_real_codec_raises(spark):
    media = synth_media(spark, n=6)
    with pytest.raises(Exception, match="NotImplementedError|not in"):
        decode_image_features(media, codec="real").collect()


def test_embedding_dup_pairs_exact(emb):
    from paragrapher_spark.operators.dedup import embedding_dup_pairs

    df, vecs = emb
    got = {
        (r.id_a, r.id_b): r.score
        for r in embedding_dup_pairs(df, threshold=0.95, method="exact").collect()
    }
    v = vecs.astype(np.float64)
    n = v / np.linalg.norm(v, axis=1, keepdims=True)
    sims = n @ n.T
    want = {
        (i, j): round(sims[i, j], 6)
        for i in range(len(v))
        for j in range(i + 1, len(v))
        if round(sims[i, j], 6) >= 0.95
    }
    assert got.keys() == want.keys()
    # the planted cluster 0/50/51/52 must be fully paired
    for pair in [(0, 50), (0, 51), (0, 52), (50, 51), (50, 52), (51, 52)]:
        assert pair in got
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-5)


def test_embedding_dup_pairs_lsh_recalls_cluster(emb):
    from paragrapher_spark.operators.dedup import embedding_dup_pairs

    df, _ = emb
    got = {
        (r.id_a, r.id_b)
        for r in embedding_dup_pairs(
            df, threshold=0.95, method="lsh", n_bits=16, bands=8
        ).collect()
    }
    # near-identical vectors agree on every hyperplane bit => every band
    # collides => all cluster pairs are recalled
    for pair in [(0, 50), (0, 51), (0, 52), (50, 51), (50, 52), (51, 52)]:
        assert pair in got


def test_knn_ivf_recalls_cluster_and_is_deterministic(emb):
    from paragrapher_spark.operators.similarity import knn_ivf

    df, _ = emb
    out1 = knn_ivf(df, k=5, n_centroids=8, n_probe=3).collect()
    got = {}
    for r in out1:
        got.setdefault(r.query_id, []).append(r.neighbor_id)
    # near-identical vectors land in the same centroid bucket: the planted
    # cluster must be mutual top neighbors
    for q, others in [(0, {50, 51, 52}), (50, {0, 51, 52}), (51, {0, 50, 52})]:
        assert others <= set(got[q]), (q, got[q])
    out2 = knn_ivf(df, k=5, n_centroids=8, n_probe=3).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))


def test_train_ivf_centroids_matches_pure_python_bit_exact(emb):
    """The fixed-point Lloyd trainer must be BIT-identical to an
    independent scalar reference (same portable md5 seed hash, same
    left-fold dots, same floor(x*2^24) int64 sums) — the contract that
    makes the trained knn_ivf pipeline DuckDB-oracle-expressible."""
    import hashlib
    import math

    from paragrapher_spark.operators.similarity import (
        _IVF_SCALE,
        train_ivf_centroids,
    )

    df, vecs = emb
    got = train_ivf_centroids(df, n_centroids=8, lloyd_iters=3, seed=42)

    pts = {i: [float(x) for x in vecs[i]] for i in range(len(vecs))}

    def lfold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def l2(v):
        return math.sqrt(lfold_dot(v, v)) or 1.0

    def h60(i):
        return int(hashlib.md5(f"ivf:42:{i}".encode()).hexdigest()[:15], 16)

    seed_ids = sorted(pts, key=lambda i: (h60(i), i))[:8]
    cents = [(c, list(pts[i])) for c, i in enumerate(seed_ids)]
    for _ in range(3):
        groups: dict[int, list[int]] = {}
        for i, v in pts.items():
            best = min(
                (( -lfold_dot(v, c) / l2(c), cid) for cid, c in cents)
            )[1]
            groups.setdefault(best, []).append(i)
        cents = [
            (
                cid,
                [
                    float(sum(math.floor(pts[i][p] * _IVF_SCALE) for i in members))
                    / float(len(members) * _IVF_SCALE)
                    for p in range(len(vecs[0]))
                ],
            )
            for cid, members in sorted(groups.items())
        ]
    assert got == cents


def test_knn_ivf_overlaps_bruteforce(emb):
    from paragrapher_spark.operators.similarity import knn_bruteforce, knn_ivf

    df, _ = emb
    bf = {}
    for r in knn_bruteforce(df, k=5).collect():
        bf.setdefault(r.query_id, set()).add(r.neighbor_id)
    ivf = {}
    for r in knn_ivf(df, k=5, n_centroids=8, n_probe=4).collect():
        ivf.setdefault(r.query_id, set()).add(r.neighbor_id)
    # probing half the centroids on 60 random vectors: expect solid recall
    recalls = [len(bf[q] & ivf.get(q, set())) / len(bf[q]) for q in bf]
    assert sum(recalls) / len(recalls) >= 0.6, sum(recalls) / len(recalls)


def test_knn_ivf_rejects_empty_centroids(spark, emb):
    """An empty supplied quantizer must not silently train, and training
    that yields no centroid (k=0, or no input rows) must fail clearly."""
    from paragrapher_spark.operators.similarity import knn_ivf

    df, _ = emb
    with pytest.raises(ValueError, match="at least one centroid"):
        knn_ivf(df, k=3, centroids=[])
    with pytest.raises(ValueError, match="n_centroids"):
        knn_ivf(df, k=3, n_centroids=0)
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="non-empty input"):
        knn_ivf(empty, k=3, n_centroids=4)


def test_topk_plan_is_bounded(emb):
    """The per-query top-k must compile to WindowGroupLimit nodes (partial
    below the shuffle AND final above it) — the bounded-buffer guarantee:
    no task holds more than k candidate rows per query."""
    df, _ = emb
    plan = (
        knn_bruteforce(df, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_real_ppm_decode_end_to_end(spark):
    """codec='real' PPM path: generate real P6 payloads, decode through the
    mapInPandas pipeline, features must match a direct numpy computation."""
    from paragrapher_spark.operators.multimodal import (
        decode_ppm,
        synth_real_media,
    )

    media = synth_real_media(spark, n=12).persist()
    got = {
        r.media_id: (r.mean_luma, list(r.features))
        for r in decode_image_features(media, codec="real").collect()
    }
    payloads = {
        r.media_id: bytes(r.payload)
        for r in media.where(F.col("kind") == "image").collect()
    }
    assert set(got) == set(payloads) and len(got) == 6
    for mid, payload in payloads.items():
        px = decode_ppm(payload)
        want_luma = float(
            (0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2]).mean()
        )
        assert got[mid][0] == pytest.approx(want_luma, abs=1e-9)
        hist = np.histogram(px[..., 0], bins=8, range=(0, 256))[0]
        assert got[mid][1] == pytest.approx(
            (hist / hist.sum()).astype(np.float32).tolist(), abs=1e-6
        )
    media.unpersist()


def test_real_ppm_resize_roundtrip(spark):
    from paragrapher_spark.operators.multimodal import (
        decode_ppm,
        synth_real_media,
    )

    media = synth_real_media(spark, n=6)
    out = resize_image(media, out_w=8, out_h=5, codec="real").collect()
    assert len(out) == 3
    for r in out:
        px = decode_ppm(bytes(r.payload))
        assert px.shape == (5, 8, 3)
        assert r.width == 8 and r.height == 5


def test_real_wav_decode_features(spark):
    """codec='real' WAV path: sine-tone clips decode to the expected RMS
    (A/sqrt(2)) and sample counts."""
    from paragrapher_spark.operators.multimodal import synth_real_media

    media = synth_real_media(spark, n=12)
    got = {r.media_id: r for r in decode_audio_features(media, codec="real").collect()}
    assert len(got) == 6
    for mid, r in got.items():
        dur_ms = 40 + (mid % 5) * 20
        assert r.sample_rate == 16000
        assert r.n_samples == 16000 * dur_ms // 1000
        assert r.rms == pytest.approx(12000 / np.sqrt(2), rel=0.02)
        assert r.peak <= 12000.0


def test_ppm_wav_codec_unit_roundtrip():
    """Pure codec round-trips, no Spark: encode->decode identity, plus
    netpbm comment tolerance and RIFF extra-chunk tolerance."""
    from paragrapher_spark.operators.multimodal import (
        decode_ppm,
        decode_wav,
        encode_ppm,
        encode_wav,
    )

    px = np.arange(4 * 3 * 3, dtype=np.uint8).reshape(3, 4, 3)
    assert np.array_equal(decode_ppm(encode_ppm(px)), px)
    commented = b"P6\n# a comment\n4 3\n255\n" + px.tobytes()
    assert np.array_equal(decode_ppm(commented), px)

    samp = (np.sin(np.arange(800) / 10.0) * 1000).astype(np.int16)
    back, rate = decode_wav(encode_wav(samp, 8000))
    assert rate == 8000 and np.array_equal(back, samp)


def test_knn_lsh_dropped_bucket_metrics(spark):
    """Planted degenerate LSH bucket (many identical vectors) is counted
    when dropped (same observability contract as minhash_candidates)."""
    from paragrapher_spark.operators.similarity import knn_lsh

    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(20)]
    rows += [(100 + i, [float(i + 1), -1.0, 0.5, 2.0]) for i in range(4)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    metrics: dict = {}
    knn_lsh(
        emb, k=3, n_bits=8, bands=4, max_bucket_size=8, metrics=metrics
    ).collect()
    assert metrics["n_dropped_buckets"] > 0
    assert metrics["n_dropped_rows"] >= 20
