"""Datapipe extension tests: approximate operators verified against
their exact counterparts, and multimodal plumbing shape checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pedsnetdcc_spark.datapipe.dedup import (
    exact_dedup_groups,
    hamming64,
    lsh_candidate_pairs,
    minhash_dedup_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash64,
)
from pedsnetdcc_spark.datapipe.multimodal import (
    extract_media_features,
    sample_frames,
    with_binary_payload,
)
from pedsnetdcc_spark.datapipe.similarity import cosine_topk, lsh_bucketed_topk
from pedsnetdcc_spark.sources.io import read_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return read_table(spark, sf_dir, "documents").select("doc_id", "text").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return read_table(spark, sf_dir, "embeddings").cache()


def test_minhash_lsh_recall_vs_exact(spark, docs):
    """LSH candidates must recover the high-similarity pairs: every
    exact pair with jaccard ≥ 0.5 should survive the banded filter
    (16 hashes / 4 bands ⇒ ~(j^4 per band) — j=0.5 gives ≥23% per band,
    ~65% per pair; the planted near-dups in the corpus are ≥0.8 where
    recall is ≈ 1)."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in minhash_dedup_pairs(
            docs, "doc_id", "text", num_hashes=16, num_bands=4, threshold=0.8
        ).collect()
    }
    assert approx <= exact  # verification step removes false positives
    if exact:
        recall = len(approx & exact) / len(exact)
        assert recall >= 0.9, (recall, len(exact))


def test_minhash_similarity_estimate(spark):
    """Signature agreement rate estimates Jaccard for near-identical docs."""
    a = "the quick brown fox jumps over the lazy dog again and again today"
    b = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    sigs = {r["doc_id"]: r["sig"] for r in minhash_signatures(df, "doc_id", "text", num_hashes=32).collect()}
    agree = sum(x == y for x, y in zip(sigs[1], sigs[2])) / 32
    assert agree > 0.5  # true jaccard ≈ 10/14


def test_simhash_identical_and_different(spark, docs):
    df = docs.limit(0).sparkSession.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "totally unrelated words appear here now"),
        ],
        "doc_id long, text string",
    )
    sigs = {r["doc_id"]: r["simhash"] for r in simhash64(df, "doc_id", "text").collect()}
    assert sigs[1] == sigs[2]
    d = df.sparkSession.createDataFrame(
        [(sigs[1], sigs[3])], "a long, b long"
    ).select(hamming64(F.col("a"), F.col("b")).alias("h"))
    assert d.collect()[0]["h"] > 10


def test_exact_dedup_no_dups_in_corpus(spark, docs):
    out = exact_dedup_groups(docs, "doc_id", "text")
    assert out.count() == docs.count()  # corpus has no exact dups
    assert out.agg(F.sum("dup_count")).collect()[0][0] == docs.count()


def test_lsh_topk_recall_at_rank1(spark, emb):
    """Multi-table bucketed ANN recall on NEAR-RANDOM vectors (the
    synthetic embeddings' rank-1 cosine averages only ~0.36, θ≈69°, so
    per-bit agreement p≈0.62): expected recall with 8 tables × 4 bits +
    Hamming-1 probing is ~0.7-0.8; assert a floor of 0.5.  Clustered
    real-world embeddings sit far above this."""
    q = emb.filter(F.col("vec_id") < 20)
    exact = {
        r["query_id"]: r["neighbor_id"]
        for r in cosine_topk(emb, q, k=1).collect()
    }
    approx = {
        r["query_id"]: r["neighbor_id"]
        for r in lsh_bucketed_topk(emb, q, k=1, bits=4, tables=8, dim=64).collect()
    }
    hits = sum(approx.get(k) == v for k, v in exact.items())
    assert hits / len(exact) >= 0.5, (hits, len(exact))


def test_ivf_topk_recall(spark, emb):
    """IVF probing (16 k-means cells, nprobe=4) must place the true
    nearest neighbor at rank 1 for a reasonable share of queries even on
    near-random vectors (≈ nprobe/n_centroids baseline 25% for random
    probing; trained-cell probing should beat it comfortably)."""
    from pedsnetdcc_spark.datapipe.similarity import ivf_topk

    q = emb.filter(F.col("vec_id") < 20)
    exact = {r["query_id"]: r["neighbor_id"] for r in cosine_topk(emb, q, k=1).collect()}
    approx = {
        r["query_id"]: r["neighbor_id"]
        for r in ivf_topk(emb, q, k=1, n_centroids=16, nprobe=4).collect()
    }
    hits = sum(approx.get(k) == v for k, v in exact.items())
    assert hits / len(exact) >= 0.4, (hits, len(exact))


def test_kmeans_centroids_deterministic_and_unit_norm(spark, emb):
    """Same seed ⇒ bit-identical codebook regardless of invocation;
    centroids come back unit-normalized (spherical k-means)."""
    import numpy as np

    from pedsnetdcc_spark.datapipe.similarity import train_kmeans_centroids

    c1 = train_kmeans_centroids(emb, k=8, sample_size=256, iters=5, seed=7)
    c2 = train_kmeans_centroids(
        emb.repartition(13), k=8, sample_size=256, iters=5, seed=7
    )
    assert c1.shape == (8, 64)
    assert np.array_equal(c1, c2)  # partition-layout independent
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


def test_kmeans_recovers_clusters(spark):
    """On CLUSTERED vectors (the regime IVF exists for) the trained
    codebook must recover the clusters: nprobe=2 of 8 cells — scanning
    ~25% of the corpus — should find virtually every true rank-1
    neighbor, because k-means cells align with the real clusters.
    (On uniform-random vectors cell quality is unmeasurable: any
    partition is as arbitrary as any other.)"""
    import numpy as np

    from pedsnetdcc_spark.datapipe.similarity import ivf_topk

    rng = np.random.RandomState(42)
    centers = rng.randn(8, 16) * 4.0
    rows = []
    for i in range(320):
        c = i % 8
        rows.append((i, (centers[c] + rng.randn(16) * 0.3).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 24)
    exact = {r["query_id"]: r["neighbor_id"] for r in cosine_topk(df, q, k=1).collect()}
    approx = {
        r["query_id"]: r["neighbor_id"]
        for r in ivf_topk(
            df, q, k=1, n_centroids=8, nprobe=2, sample_size=320, seed=1
        ).collect()
    }
    hits = sum(approx.get(k) == v for k, v in exact.items())
    assert hits / len(exact) >= 0.9, (hits, len(exact))


def test_ivf_hierarchical_assignment(spark):
    """`assign="hierarchical"` (the uncapped-codebook big-corpus path):
    on clustered vectors with a 64-cell codebook the two-stage
    coarse→fine assignment must (a) keep recall — virtually every true
    rank-1 neighbor found at nprobe=6, (b) be deterministic, and (c)
    agree with the flat assignment for most queries (the coarse detour
    is a boundary effect, not a different search)."""
    import numpy as np

    from pedsnetdcc_spark.datapipe.similarity import ivf_topk

    rng = np.random.RandomState(7)
    centers = rng.randn(64, 16) * 4.0
    rows = []
    for i in range(1280):
        c = i % 64
        rows.append((i, (centers[c] + rng.randn(16) * 0.3).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 24)
    exact = {r["query_id"]: r["neighbor_id"] for r in cosine_topk(df, q, k=1).collect()}

    def top1(**kw):
        return {
            r["query_id"]: r["neighbor_id"]
            for r in ivf_topk(
                df, q, k=1, n_centroids=64, nprobe=6, sample_size=1280,
                seed=1, **kw,
            ).collect()
        }

    hier = top1(assign="hierarchical")
    hits = sum(hier.get(k) == v for k, v in exact.items())
    assert hits / len(exact) >= 0.85, (hits, len(exact))
    assert hier == top1(assign="hierarchical")  # deterministic
    flat = top1()
    agree = sum(hier.get(k) == v for k, v in flat.items())
    assert agree / len(flat) >= 0.8, (agree, len(flat))


def test_ivf_hierarchical_auto_uncaps(spark):
    """Auto sizing under `assign="hierarchical"` lifts the 1024-cell
    cap (the measured 4×-cell growth at 2M vectors) and raises the
    training sample to ≥ 4·cells; flat auto keeps the cap."""
    import numpy as np

    from pedsnetdcc_spark.datapipe.similarity import ivf_topk

    rng = np.random.RandomState(3)
    centers = rng.randn(80, 8) * 4.0
    rows = [
        (i, (centers[i % 80] + rng.randn(8) * 0.2).tolist())
        for i in range(800)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 10)
    exact = {r["query_id"]: r["neighbor_id"] for r in cosine_topk(df, q, k=1).collect()}
    # target_cell=10 → auto total = 80 ≥ 64: exercises the hier path
    got = {
        r["query_id"]: r["neighbor_id"]
        for r in ivf_topk(
            df, q, k=1, nprobe=6, target_cell=10, seed=1,
            assign="hierarchical",
        ).collect()
    }
    hits = sum(got.get(k) == v for k, v in exact.items())
    assert hits / len(exact) >= 0.8, (hits, len(exact))


def test_hier_trainer_deterministic_partition_independent(spark):
    """train_kmeans_centroids_hier (the distributed big-k trainer) must
    be bit-deterministic and partition-layout independent — the sample
    is a hash rule, group rows are sorted before Lloyd, and output
    order is (group, local idx) — and return exactly k unit-normalized
    centroids when the sample can support them."""
    import numpy as np

    from pedsnetdcc_spark.datapipe.similarity import train_kmeans_centroids_hier

    rng = np.random.RandomState(11)
    centers = rng.randn(32, 16) * 4.0
    rows = [
        (i, (centers[i % 32] + rng.randn(16) * 0.3).tolist())
        for i in range(1600)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    c1 = train_kmeans_centroids_hier(df, k=32, sample_size=512, iters=5, seed=7)
    c2 = train_kmeans_centroids_hier(
        df.repartition(13), k=32, sample_size=512, iters=5, seed=7
    )
    assert c1.shape == (32, 16)
    assert np.array_equal(c1, c2)  # partition-layout independent
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


def test_hier_trainer_codebook_recall(spark):
    """A hier-trained codebook must be a GOOD codebook: on clustered
    vectors (the regime IVF exists for), probing nprobe=6 of 64 cells
    through the standard hierarchical assignment finds virtually every
    true rank-1 neighbor — same bar as the driver-trained codebook in
    test_ivf_hierarchical_assignment."""
    import numpy as np

    from pedsnetdcc_spark.datapipe.similarity import (
        ivf_topk, train_kmeans_centroids_hier,
    )

    rng = np.random.RandomState(7)
    centers = rng.randn(64, 16) * 4.0
    rows = [
        (i, (centers[i % 64] + rng.randn(16) * 0.3).tolist())
        for i in range(1280)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 24)
    exact = {r["query_id"]: r["neighbor_id"] for r in cosine_topk(df, q, k=1).collect()}
    C = train_kmeans_centroids_hier(df, k=64, sample_size=1280, iters=5, seed=1)
    hier = {
        r["query_id"]: r["neighbor_id"]
        for r in ivf_topk(
            df, q, k=1, nprobe=6, seed=1, assign="hierarchical", centroids=C,
        ).collect()
    }
    hits = sum(hier.get(k) == v for k, v in exact.items())
    assert hits / len(exact) >= 0.85, (hits, len(exact))


def test_hier_trainer_gate(spark, monkeypatch):
    """ivf_topk routes codebook training through the distributed
    trainer ONLY past _HIER_TRAIN_MIN_K cells — below the gate every
    existing codebook (registry queries, units, the x100/x1000 probe
    decades) must keep using the driver trainer bit-identically."""
    import numpy as np

    from pedsnetdcc_spark.datapipe import similarity as sim

    rng = np.random.RandomState(5)
    rows = [(i, rng.randn(8).tolist()) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 4)
    calls = []
    real_hier = sim.train_kmeans_centroids_hier
    monkeypatch.setattr(
        sim, "train_kmeans_centroids_hier",
        lambda *a, **kw: calls.append("hier") or real_hier(*a, **kw),
    )
    real_flat = sim.train_kmeans_centroids
    monkeypatch.setattr(
        sim, "train_kmeans_centroids",
        lambda *a, **kw: calls.append("flat") or real_flat(*a, **kw),
    )
    sim.ivf_topk(df, q, k=1, n_centroids=64, nprobe=2, seed=1,
                 assign="hierarchical").count()
    assert calls == ["flat"]  # below the gate: driver trainer only
    calls.clear()
    sim.ivf_topk(df, q, k=1, n_centroids=sim._HIER_TRAIN_MIN_K, nprobe=2,
                 seed=1, assign="hierarchical").count()
    # past the gate: the distributed trainer (whose own coarse stage
    # uses the driver trainer on a bounded sqrt-scale subsample)
    assert calls[0] == "hier" and "flat" in calls
    # k_eff caps at the sample when the table is smaller than k
    assert len(real_hier(df, k=sim._HIER_TRAIN_MIN_K, iters=2, seed=1)) == 400


def test_simhash_near_dup_matches_bruteforce(spark):
    """The block-and-band candidate join must return EXACTLY the n²
    all-pairs Hamming result (pigeonhole completeness + exact verify)."""
    from pedsnetdcc_spark.datapipe.dedup import simhash64, simhash_near_dup_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),
        (2, base + " extra"),
        (3, base.replace("gamma", "gamme")),
        (4, "totally different words in this one document here now"),
        (5, base.replace("alpha", "omega").replace("zeta", "zetb")),
        (6, "totally different words in this one document here later"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    banded = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(df, "doc_id", "text", max_hamming=8).collect()
    }
    sigs = simhash64(df, "doc_id", "text")
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("ha"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("hb"))
    brute = {
        (r["id_a"], r["id_b"]): r["h"]
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming64(F.col("ha"), F.col("hb")).alias("h"))
        .where(F.col("h") <= 8)
        .collect()
    }
    assert banded == brute and (1, 2) in banded


def test_simhash_near_dup_band_validation(spark):
    from pedsnetdcc_spark.datapipe.dedup import simhash_near_dup_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_dup_pairs(df, "doc_id", "text", max_hamming=3, num_bands=2)


def test_embedding_near_dup_lsh_recall_and_precision(spark, emb):
    """The bucketed scale path must return a SUBSET of the exact
    all-pairs result (verification is exact, so no false positives) at
    high recall.  Hyperplanes are seeded, so recall on this fixed corpus
    is deterministic — 13/14 at (bits=3, tables=10)."""
    from pedsnetdcc_spark.datapipe.similarity import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_lsh,
    )

    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(emb, threshold=0.45).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs_lsh(
            emb, threshold=0.45, bits=3, tables=10
        ).collect()
    }
    assert approx <= exact
    assert len(approx & exact) / len(exact) >= 0.85


def test_embedding_near_dup_symmetric_and_thresholded(spark, emb):
    from pedsnetdcc_spark.datapipe.similarity import embedding_near_dup_pairs

    pairs = embedding_near_dup_pairs(emb, threshold=0.45).collect()
    for r in pairs:
        assert r["id_a"] < r["id_b"]
        assert r["cosine"] >= 0.45


def test_cosine_topk_values(spark):
    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 0.0]),
        (3, [0.0, 1.0]),
        (4, [0.7071067811865476, 0.7071067811865476]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cosine_topk(df, df.filter(F.col("vec_id") == 1), k=3)
    got = [(r["rank"], r["neighbor_id"], round(r["cosine"], 6)) for r in out.collect()]
    assert got == [(1, 2, 1.0), (2, 4, 0.707107), (3, 3, 0.0)]


def test_multimodal_plumbing(spark, docs):
    media = with_binary_payload(docs.limit(20), "text")
    assert dict(media.dtypes)["payload"] == "binary"
    feats = extract_media_features(media, "doc_id")
    rows = feats.collect()
    assert len(rows) == 20
    for r in rows:
        assert len(r["features"]) == 16
        assert abs(sum(r["features"]) - 1.0) < 1e-9
        assert r["width"] >= 1 and r["height"] >= 1


def test_multimodal_decode_stub_raises():
    from pedsnetdcc_spark.datapipe.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"xx", fake=False)


def test_frame_sampling(spark, docs):
    media = with_binary_payload(docs.limit(5), "text")
    frames = sample_frames(media, "doc_id", every_n_bytes=64)
    per_doc = {r["doc_id"]: r["cnt"] for r in frames.groupBy("doc_id").agg(F.count("*").alias("cnt")).collect()}
    lens = {r["doc_id"]: r["n_bytes"] for r in media.collect()}
    for d, n in lens.items():
        assert per_doc[d] == max(1, n // 64)


# ---------------------------------------------------------------------------
# Real PNG/BMP/GIF codec (pure-Python) — round-trip + filter coverage.
# ---------------------------------------------------------------------------


def _png_filter_line(ftype, line, prev, bpp):
    """Reference PNG filter (encoder side) straight from the spec."""
    out = bytearray()
    for x in range(len(line)):
        a = line[x - bpp] if x >= bpp else 0
        b = prev[x]
        c = prev[x - bpp] if x >= bpp else 0
        if ftype == 0:
            pred = 0
        elif ftype == 1:
            pred = a
        elif ftype == 2:
            pred = b
        elif ftype == 3:
            pred = (a + b) // 2
        else:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
        out.append((line[x] - pred) & 0xFF)
    return bytes(out)


def test_png_roundtrip_all_channel_counts():
    import numpy as np

    from pedsnetdcc_spark.datapipe.multimodal import decode_png, encode_png

    rng = np.random.default_rng(7)
    for channels in (1, 3, 4):
        w, h = 13, 9
        pixels = bytes(rng.integers(0, 256, size=w * h * channels, dtype=np.uint8))
        png = encode_png(w, h, pixels, channels=channels)
        meta, decoded = decode_png(png)
        assert (meta["width"], meta["height"], meta["channels"]) == (w, h, channels)
        assert decoded.reshape(-1).tobytes() == pixels


def test_png_unfilter_every_filter_type():
    import struct
    import zlib

    import numpy as np

    from pedsnetdcc_spark.datapipe.multimodal import (
        PNG_SIG,
        _png_chunk,
        decode_png,
    )

    rng = np.random.default_rng(11)
    w, h, channels = 7, 5, 3
    stride, bpp = w * channels, channels
    pixels = rng.integers(0, 256, size=(h, stride), dtype=np.uint8)
    raw = bytearray()
    prev = bytes(stride)
    for y in range(h):
        ftype = y % 5  # exercise filters 0,1,2,3,4
        line = pixels[y].tobytes()
        raw.append(ftype)
        raw += _png_filter_line(ftype, line, prev, bpp)
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )
    _, decoded = decode_png(png)
    assert decoded.tobytes() == pixels.tobytes()


def test_parse_bmp_gif_headers():
    import struct

    from pedsnetdcc_spark.datapipe.multimodal import parse_image_header

    bmp = (
        b"BM" + struct.pack("<IHHI", 70, 0, 0, 54)
        + struct.pack("<IiiHH", 40, 17, -23, 1, 24) + b"\x00" * 40
    )
    got = parse_image_header(bmp)
    assert (got["format"], got["width"], got["height"], got["channels"]) == (
        "bmp", 17, 23, 3,
    )
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 10
    got = parse_image_header(gif)
    assert (got["format"], got["width"], got["height"]) == ("gif", 320, 200)
    assert parse_image_header(b"\xff\xd8\xff\xe0 jpeg-ish") is None


def test_real_png_pipeline_on_spark(spark, docs):
    from pedsnetdcc_spark.datapipe.multimodal import (
        extract_media_features,
        with_png_payload,
    )

    media = with_png_payload(docs.limit(20), "doc_id", "text")
    assert dict(media.dtypes)["payload"] == "binary"
    feats = extract_media_features(media, "doc_id", fake_decode=False).collect()
    texts = {r["doc_id"]: r["text"] for r in docs.limit(20).collect()}
    assert len(feats) == 20
    for r in feats:
        n = len(texts[r["doc_id"]].encode("utf-8"))
        width = 1 + n % 61
        assert r["fmt"] == "png"
        assert r["width"] == width
        assert r["height"] == max(1, -(-n // width))
        assert r["bit_depth"] == 8
        assert abs(sum(r["features"]) - 1.0) < 1e-9


def test_ngram_df_cap_drops_ubiquitous_shingle(spark):
    from pedsnetdcc_spark.datapipe.dedup import ngram_jaccard_pairs

    # 60 docs that all share one ubiquitous trigram but are otherwise
    # unique; 2 genuine near-duplicates.  Uncapped, the hot shingle
    # makes every doc pair a candidate (C(60,2) = 1770 pair rows);
    # capped, only the true near-dup pair survives shingle joins.
    rows = [(i, f"common shingle here unique{i} word{i} tail{i}") for i in range(60)]
    rows.append((100, "alpha beta gamma delta epsilon zeta"))
    rows.append((101, "alpha beta gamma delta epsilon eta"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.3, max_df=50)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    assert set(got) == {(100, 101)}
    # 4 shingles each, 3 shared (all df==2, under cap): j = 3/(4+4-3)
    assert abs(got[(100, 101)] - 3 / 5) < 1e-12

    # uncapped, the ubiquitous shingle links every pair of the 60 docs
    # (jaccard tiny, filtered by threshold) — result identical here, but
    # the pair stream is quadratic; cap keeps it linear.
    uncapped = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.3, max_df=None)
    assert {(r["id_a"], r["id_b"]) for r in uncapped.collect()} == {(100, 101)}


def test_wav_roundtrip_8_and_16_bit():
    import numpy as np

    from pedsnetdcc_spark.datapipe.multimodal import decode_wav, encode_wav

    data8 = bytes(range(200))
    meta = decode_wav(encode_wav(data8, sample_rate=8000, channels=1, bits=8))
    assert (meta["channels"], meta["sample_rate"], meta["bit_depth"]) == (1, 8000, 8)
    assert meta["n_samples"] == 200
    assert bytes(meta["samples"].tobytes()) == data8

    s16 = np.arange(-300, 300, dtype=np.int16)
    meta = decode_wav(encode_wav(s16.tobytes(), sample_rate=16000, channels=2, bits=16))
    assert (meta["channels"], meta["sample_rate"], meta["bit_depth"]) == (2, 16000, 16)
    assert meta["n_samples"] == 300  # 600 samples / 2 channels
    assert np.array_equal(meta["samples"], s16)


def test_audio_features_pipeline(spark, docs):
    import numpy as np

    from pedsnetdcc_spark.datapipe.multimodal import (
        extract_audio_features,
        with_wav_payload,
    )

    sample = docs.limit(20)
    media = with_wav_payload(sample, "doc_id", "text")
    feats = {r["doc_id"]: r for r in extract_audio_features(media, "doc_id").collect()}
    texts = {r["doc_id"]: r["text"] for r in sample.collect()}
    assert feats.keys() == texts.keys()
    for did, row in feats.items():
        raw = texts[did].encode("utf-8") or b"\x00"
        s = np.frombuffer(raw, dtype=np.uint8).astype(float) - 128.0
        assert row["n_samples"] == len(s)
        assert row["peak"] == int(np.max(np.abs(s)))
        assert abs(row["rms"] - float(np.sqrt(np.mean(s * s)))) < 1e-9


def test_resize_images_real_resample(spark):
    from pedsnetdcc_spark.datapipe.multimodal import (
        decode_png,
        encode_png,
        resize_images,
    )

    # 8x4 gradient image: pixel value = x*16 + y
    w, h = 8, 4
    pixels = bytes((x * 16 + y) & 0xFF for y in range(h) for x in range(w))
    df = spark.createDataFrame(
        [(1, encode_png(w, h, pixels, channels=1)), (2, b"not an image")],
        "media_id long, payload binary",
    )
    out = {r["media_id"]: r for r in resize_images(df, "media_id", out_width=4, out_height=2).collect()}
    assert out[1]["resized"] and (out[1]["width"], out[1]["height"]) == (4, 2)
    meta, pix = decode_png(bytes(out[1]["payload"]))
    assert (meta["width"], meta["height"]) == (4, 2)
    # nearest-neighbor grid: ys = [0, 2], xs = [0, 2, 4, 6]
    expected = [[(x * 16 + y) & 0xFF for x in (0, 2, 4, 6)] for y in (0, 2)]
    assert pix.tolist() == expected
    assert not out[2]["resized"] and bytes(out[2]["payload"]) == b"not an image"


def test_bpe_regex_java_matches_python(spark):
    """The BPE-ish pre-tokenizer pattern must segment identically under
    Java regex (Spark), RE2 (DuckDB oracle), and Python re — 300 seeded
    random strings over the corpus alphabet, compared in one pass."""
    import random
    import re

    from pedsnetdcc_spark.datapipe.text import BPE_SPLIT_RE, token_counts

    rng = random.Random(7)
    alphabet = "abcdefgh xyz 0123456789.,!?'-\"();:"
    rows = [
        (i, "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 80))))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["bpe_tokens"]
        for r in token_counts(df).select("doc_id", "bpe_tokens").collect()
    }
    pat = re.compile(BPE_SPLIT_RE)
    for i, text in rows:
        assert got[i] == len(pat.findall(text)), (i, text)


def test_resize_passes_through_undecodable_png_variant(spark):
    """A 16-bit PNG has a parseable header but no pure-Python pixel
    path — resize must pass it through, not fail the task."""
    import struct
    import zlib

    from pedsnetdcc_spark.datapipe.multimodal import PNG_SIG, _png_chunk, resize_images

    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)  # 16-bit greyscale
    raw = b"\x00" + b"\x00" * 8  # not actually decoded — header only
    png16 = (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    df = spark.createDataFrame([(1, png16)], "media_id long, payload binary")
    out = resize_images(df, "media_id", out_width=4, out_height=4).collect()
    assert len(out) == 1 and not out[0]["resized"]
    assert bytes(out[0]["payload"]) == png16


def test_simhash_near_dup_matches_bruteforce_random_corpus(spark):
    """Banded == brute-force on a seeded random corpus dense enough to
    force collisions at several Hamming distances (40 docs over a tiny
    vocabulary), across two different max_hamming settings."""
    import random

    from pedsnetdcc_spark.datapipe.dedup import simhash64, simhash_near_dup_pairs

    rng = random.Random(11)
    vocab = ["red", "blue", "green", "fish", "bird", "tree", "rock", "wind"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 12))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = simhash64(df, "doc_id", "text")
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("ha"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("hb"))
    for max_h in (4, 12):
        brute = {
            (r["id_a"], r["id_b"]): r["h"]
            for r in a.crossJoin(b)
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", hamming64(F.col("ha"), F.col("hb")).alias("h"))
            .where(F.col("h") <= max_h)
            .collect()
        }
        banded = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in simhash_near_dup_pairs(
                df, "doc_id", "text", max_hamming=max_h
            ).collect()
        }
        assert banded == brute, (max_h, len(banded), len(brute))


def test_ngram_dedup_scales_linearly_on_cloned_corpus(spark, docs):
    """16× scale probe with exact expected output: every clone prefixes
    its tokens with a clone tag, so clone-internal similarities are
    preserved verbatim (isomorphic shingle sets) and cross-clone
    similarity is zero.  The capped inverted-index design must therefore
    return EXACTLY 16× the baseline pair count — any super-linear
    candidate blowup or cap misfire shows up as extra/missing pairs."""
    base_pairs = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).count()
    copies = spark.range(16).withColumnRenamed("id", "copy")
    cloned = (
        docs.crossJoin(copies)
        .select(
            (F.col("doc_id") * 16 + F.col("copy")).alias("doc_id"),
            F.array_join(
                F.transform(
                    F.split("text", " "),
                    lambda t: F.concat(
                        F.lit("c"), F.col("copy").cast("string"), F.lit("_"), t
                    ),
                ),
                " ",
            ).alias("text"),
        )
    )
    cloned_pairs = ngram_jaccard_pairs(cloned, "doc_id", "text", threshold=0.5).count()
    assert cloned_pairs == 16 * base_pairs, (cloned_pairs, base_pairs)


def test_passage_dedup_keep_first_and_unique(spark):
    from pedsnetdcc_spark.datapipe.dedup import passage_dedup

    # 4-token windows; docs 1 and 2 share an exact window, doc 3 is
    # unique, doc 4 IS the shared window alone (a later third copy).
    rows = [
        (1, "a b c d x y z w"),          # chunks: "a b c d", "x y z w"
        (2, "a b c d q r s t"),          # first chunk duplicates doc 1's
        (3, "unique text only here"),
        (4, "a b c d"),                  # whole doc duplicated
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    first = {
        r["doc_id"]: r
        for r in passage_dedup(df, "doc_id", "text", chunk_tokens=4).collect()
    }
    assert first[1]["text_deduped"] == "a b c d x y z w"   # first copy kept
    assert first[2]["text_deduped"] == "q r s t"           # later copy dropped
    assert first[2]["n_chunks_dropped"] == 1
    assert first[3]["text_deduped"] == "unique text only here"
    assert first[4]["text_deduped"] == ""                  # fully dropped
    assert first[4]["n_chunks"] == 1 and first[4]["n_chunks_dropped"] == 1

    uniq = {
        r["doc_id"]: r
        for r in passage_dedup(
            df, "doc_id", "text", chunk_tokens=4, keep="unique"
        ).collect()
    }
    assert uniq[1]["text_deduped"] == "x y z w"            # every copy dropped
    assert uniq[2]["text_deduped"] == "q r s t"
    assert uniq[3]["text_deduped"] == "unique text only here"

    with pytest.raises(ValueError):
        passage_dedup(df, "doc_id", "text", keep="bogus")


def test_semantic_dedup_cells_and_canonicals(spark, emb):
    from pedsnetdcc_spark.datapipe.similarity import (
        embedding_near_dup_pairs,
        semantic_dedup,
    )

    out = semantic_dedup(emb, "vec_id", "embedding", k=8, threshold=0.45)
    rows = out.collect()
    assert len(rows) == emb.count()                      # every vector labeled
    assert len({r["cell"] for r in rows}) <= 8
    by_id = {r["vec_id"]: r for r in rows}
    for r in rows:
        assert r["keep"] == (r["dup_group"] == r["vec_id"])
        # the group representative is a real vector in the same group
        rep = by_id[r["dup_group"]]
        assert rep["dup_group"] == r["dup_group"]
        assert r["dup_group"] <= r["vec_id"]             # min-id canonical

    # within-cell duplicate pairs are a SUBSET of the exact all-pairs
    # near-dups (the deliberate cross-cell miss), and any two vectors
    # grouped together share a cell chain — same cell for direct pairs
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            emb, "vec_id", "embedding", threshold=0.45
        ).collect()
    }
    groups: dict[int, list] = {}
    for r in rows:
        groups.setdefault(r["dup_group"], []).append(r)
    for members in groups.values():
        if len(members) > 1:
            # every multi-member group arises from ≥1 true near-dup pair
            ids = sorted(m["vec_id"] for m in members)
            assert any(
                (a, b) in exact for a in ids for b in ids if a < b
            )


def test_gopher_rules_edges(spark):
    from pedsnetdcc_spark.datapipe.text import gopher_rules

    rows = [
        (1, ""),                                    # empty doc
        (2, "the of and to in is it a " * 8),       # short repeated stopwords
        (3, " ".join(["wordish"] * 40) + " the a"), # 42 words, 2 stop hits
        (4, " ".join(["#"] * 40)),                  # symbols, no alpha
    ]
    out = {
        r["doc_id"]: r
        for r in gopher_rules(
            spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
                "text", F.rtrim("text")
            ),
            "text",
        ).collect()
    }
    assert out[1]["n_words"] == 1 and not out[1]["passes_gopher"]  # split('') -> ['']
    assert out[2]["stopword_hits"] == 64
    assert not out[2]["passes_gopher"]              # mean word len < 3
    assert out[3]["passes_gopher"]
    assert out[4]["alpha_word_ratio"] == 0.0 and not out[4]["passes_gopher"]


def test_fused_minhash_matches_aggregate_formulation(spark, docs):
    from pedsnetdcc_spark.datapipe.dedup import (
        fused_minhash_signatures,
        minhash_signatures,
    )

    for family, k in (("xxhash64", 16), ("portable", 4)):
        agg = minhash_signatures(
            docs, "doc_id", "text", num_hashes=k, hash_family=family
        )
        fused = fused_minhash_signatures(
            docs, "doc_id", "text", num_hashes=k, hash_family=family
        )
        assert agg.count() == fused.count()
        diffs = (
            agg.alias("a")
            .join(fused.alias("b"), "doc_id")
            .where(F.col("a.sig") != F.col("b.sig"))
            .count()
        )
        assert diffs == 0

    # no-shuffle claim: the fused formulation plans zero exchanges
    plan = fused_minhash_signatures(
        docs, "doc_id", "text"
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_passage_dedup_reassembly_is_lossless_without_duplicates(spark):
    """With all-unique windows, keep-first must reproduce every
    document verbatim (chunk → reassemble is the identity)."""
    import random

    from pedsnetdcc_spark.datapipe.dedup import passage_dedup

    rng = random.Random(5)
    rows = [
        (i, " ".join(f"w{i}_{rng.randrange(1_000_000)}" for _ in range(rng.randrange(1, 90))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in passage_dedup(df, "doc_id", "text", chunk_tokens=7).collect()
    }
    for doc_id, text in rows:
        assert out[doc_id]["text_deduped"] == text
        assert out[doc_id]["n_chunks_dropped"] == 0


def test_lm_score_hand_computed(spark):
    """Add-one bigram LM on a 2-doc corpus, checked against hand-derived
    probabilities: unigrams a:3 b:2 (T=5, V=2), bigram counts
    (a,b):2 (b,a):1."""
    import math

    from pedsnetdcc_spark.datapipe.text import lm_score

    df = spark.createDataFrame([(1, "a b a"), (2, "a b")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in lm_score(df, "doc_id").collect()}
    lp = lambda num, den: round(math.log(num / den), 6)
    d1 = lp(4, 7) + lp(3, 5) + lp(2, 4)  # P(a), P(b|a), P(a|b)
    d2 = lp(4, 7) + lp(3, 5)
    assert out[1]["n_tokens"] == 3 and out[2]["n_tokens"] == 2
    assert abs(out[1]["sum_logp"] - d1) < 1e-9
    assert abs(out[2]["sum_logp"] - d2) < 1e-9
    assert abs(out[1]["avg_logp"] - round(out[1]["sum_logp"] / 3, 6)) < 1e-12


def test_lm_score_foreign_model_drops_oov(spark):
    """Scoring against a model corpus that lacks a token drops that
    token's terms from the stream (documented OOV behavior)."""
    from pedsnetdcc_spark.datapipe.text import lm_score

    model = spark.createDataFrame([(1, "a b a b")], ["doc_id", "text"])
    scored = spark.createDataFrame([(9, "a b z a")], ["doc_id", "text"])
    row = lm_score(scored, "doc_id", model_df=model).collect()[0]
    # terms kept: first token 'a', bigram (a,b); (b,z) and (z,a) have no
    # model bigram count and drop out of the inner join
    assert row["n_tokens"] == 2


def test_contamination_overlap_hand_case(spark):
    from pedsnetdcc_spark.datapipe.dedup import contamination_overlap

    train = spark.createDataFrame(
        [(1, "a b c d"), (2, "x y z w"), (3, "a b")], ["doc_id", "text"]
    )
    ev = spark.createDataFrame([(9, "a b c q")], ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in contamination_overlap(train, ev, "doc_id", "text", n=3).collect()
    }
    # doc1 shingles {a b c, b c d}: 'a b c' hits -> 1/2
    assert out[1]["n_shingles"] == 2 and out[1]["n_hit"] == 1
    assert out[1]["overlap_frac"] == 0.5
    # doc2 shares nothing -> 0/2
    assert out[2]["n_hit"] == 0 and out[2]["overlap_frac"] == 0.0
    # doc3 is shorter than n=3 tokens -> no shingles, drops out
    assert 3 not in out


def test_key_skew_profile_ranks_and_shares(spark):
    from pedsnetdcc_spark.operators.profile import key_skew_profile

    df = spark.createDataFrame(
        [(k,) for k in ["a"] * 5 + ["b"] * 3 + ["c"] * 3 + ["d"]], ["k"]
    )
    rows = key_skew_profile(df, "k", k=3).orderBy("rank").collect()
    assert [(r["key"], r["n"], r["rank"]) for r in rows] == [
        ("a", 5, 1),
        ("b", 3, 2),  # tie with c broken by key string
        ("c", 3, 3),
    ]
    assert rows[0]["share"] == 5 / 12


def test_heavy_hitters_matches_exact_profile(spark):
    """The bounded-state sketch path returns the SAME top-k as the
    exact groupBy profile (ranks, counts, shares) on a skewed column
    whose k-th count clears the n/capacity guarantee — at several
    partitionings and a small MG capacity that forces real decrements
    (400 distinct cold keys vs capacity 32) while keeping the k-th
    count (60) above every partition's n_p/capacity threshold, so the
    pigeonhole survival guarantee — not order luck — carries the
    test."""
    import random

    from pedsnetdcc_spark.operators.profile import (
        heavy_hitters,
        key_skew_profile,
    )

    rng = random.Random(5)
    keys = (
        ["hot"] * 400 + ["warm"] * 150 + ["mild"] * 60
        + [f"cold{i}" for i in range(400)]
    )
    rng.shuffle(keys)
    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    exact = [
        (r["key"], r["n"], r["rank"], r["share"])
        for r in key_skew_profile(df, "k", k=3).orderBy("rank").collect()
    ]
    assert [e[0] for e in exact] == ["hot", "warm", "mild"]
    for parts in (1, 7, 64):
        got = [
            (r["key"], r["n"], r["rank"], r["share"])
            for r in heavy_hitters(df.repartition(parts), "k", k=3, capacity=32)
            .orderBy("rank")
            .collect()
        ]
        assert got == exact, (parts, got)


def test_heavy_hitters_property_guarantee(spark):
    """Property: for ANY key multiset and ANY partitioning, every
    exact-top-k rank whose count clears the n/capacity pigeonhole
    threshold appears in heavy_hitters with the same exact count —
    the MG survival guarantee, not a tuned example."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pedsnetdcc_spark.operators.profile import (
        heavy_hitters,
        key_skew_profile,
    )

    keys = st.lists(
        st.sampled_from([f"k{i}" for i in range(12)]),
        min_size=1,
        max_size=300,
    )

    @settings(max_examples=15, deadline=None)
    @given(keys, st.integers(1, 9), st.integers(4, 8))
    def check(ks, parts, capacity):
        df = spark.createDataFrame([(k,) for k in ks], ["k"]).repartition(parts)
        exact = {
            r["key"]: r["n"]
            for r in key_skew_profile(df, "k", k=5).collect()
        }
        got = {
            r["key"]: r["n"] for r in heavy_hitters(df, "k", k=5, capacity=capacity).collect()
        }
        n = len(ks)
        for key, cnt in exact.items():
            if cnt > n / capacity:  # inside the pigeonhole guarantee
                assert got.get(key) == cnt, (ks, parts, capacity, key)

    check()


def test_heavy_hitters_counts_null_keys(spark):
    from pedsnetdcc_spark.operators.profile import heavy_hitters

    df = spark.createDataFrame(
        [(None,)] * 5 + [("a",)] * 3 + [("b",)], "k string"
    )
    rows = heavy_hitters(df, "k", k=2, capacity=8).orderBy("rank").collect()
    assert rows[0]["key"] is None and rows[0]["n"] == 5
    assert rows[1]["key"] == "a" and rows[1]["n"] == 3


def test_hashed_bow_dense_feeds_cosine_topk(spark):
    """hashed_bow -> hashed_bow_dense must produce unit-norm vectors
    the similarity operators accept: a doc's nearest neighbor by cosine
    over the hashed features is its exact duplicate."""
    from pedsnetdcc_spark.datapipe.similarity import cosine_topk
    from pedsnetdcc_spark.datapipe.text import hashed_bow, hashed_bow_dense

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, "epsilon zeta eta theta iota kappa"),
        ],
        ["doc_id", "text"],
    )
    bow = hashed_bow(docs, "doc_id", "text", dim=32, seed=0)
    dense = hashed_bow_dense(bow, "doc_id", dim=32)
    # L2 norm must be 1 for every doc
    norms = dense.select(
        "doc_id",
        F.aggregate(
            "embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double") * x
        ).alias("ss"),
    ).collect()
    for r in norms:
        assert abs(r["ss"] - 1.0) < 1e-6
    top = cosine_topk(dense, dense.where(F.col("doc_id") == 1), "doc_id", "embedding", k=2)
    neighbors = {r["neighbor_id"] for r in top.collect()}
    assert 2 in neighbors


def test_quantize_embeddings_bounds_and_error(spark, sf_dir):
    from pedsnetdcc_spark.datapipe.similarity import quantize_embeddings

    emb = read_table(spark, sf_dir, "embeddings").limit(100)
    q = quantize_embeddings(emb, "vec_id", "embedding").join(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    rows = q.collect()
    assert len(rows) == 100
    for r in rows:
        assert all(-127 <= x <= 127 for x in r["qvec"])
        assert max(abs(v) for v in r["embedding"]) > 0
        # dequantization error bound: |v - q*scale/127| <= scale/254
        s = r["qscale"]
        for v, qi in zip(r["embedding"], r["qvec"]):
            assert abs(v - qi * s / 127.0) <= s / 254.0 + 1e-9


def test_quantized_topk_recall_vs_exact(spark, sf_dir):
    """int8 coarse + re-rank must recover nearly all exact neighbors
    (SQ8 keeps ~7 significant bits; with a 4x shortlist the top-5
    should be essentially exact on this corpus)."""
    from pedsnetdcc_spark.datapipe.similarity import cosine_topk, quantized_topk

    emb = read_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    exact = cosine_topk(emb, queries_df, "vec_id", "embedding", k=5)
    quant = quantized_topk(emb, queries_df, "vec_id", "embedding", k=5, rerank_factor=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    qs = {(r["query_id"], r["neighbor_id"]) for r in quant.collect()}
    assert len(qs) == len(e)
    recall = len(e & qs) / len(e)
    assert recall >= 0.9, recall


def _lev(a, b):
    """Reference Levenshtein for brute-force comparison in tests."""
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
    return dp[-1]


def test_edit_distance_pairs_matches_bruteforce_random(spark):
    """Randomized strings incl. SHORT ones (<= 2*tau, routed to the
    brute bucket) must match a pure-Python Levenshtein brute force —
    the pigeonhole candidates may over-generate but can never miss."""
    import random

    from pedsnetdcc_spark.datapipe.dedup import edit_distance_pairs

    lev = _lev
    rng = random.Random(3)
    words = list({
        "".join(rng.choice("abc") for _ in range(rng.randrange(1, 12)))
        for _ in range(60)
    })
    df = spark.createDataFrame([(w,) for w in words], ["name"])
    for tau in (1, 2):
        got = sorted(
            (r["id_a"], r["id_b"], r["distance"])
            for r in edit_distance_pairs(df, "name", "name", max_dist=tau).collect()
        )
        want = sorted(
            (min(a, b), max(a, b), lev(a, b))
            for i, a in enumerate(words)
            for b in words[i + 1:]
            if lev(a, b) <= tau
        )
        assert got == want, (tau, len(got), len(want))


def test_edit_distance_pairs_hot_bucket_recursion_exact(spark):
    """The hot-bucket remainder recursion must stay EXACT: a shared
    fixed vocabulary packs whole name families into the same segment
    bucket, and with a tiny hot_threshold every family routes through
    the level-2 splice path — which emits NO direct pairs, so any
    soundness bug in the splice/routing silently DROPS true pairs.
    Compare against brute force at several thresholds (None = flat
    path, 4 = everything hot, 64 = adaptive probe finds nothing hot)."""
    import random

    from pedsnetdcc_spark.datapipe.dedup import edit_distance_pairs

    lev = _lev
    rng = random.Random(11)
    vocab = ["hot", "cold", "big"]
    names = set()
    while len(names) < 80:
        base = (
            f"{rng.choice(vocab)} {rng.choice(vocab)} "
            f"{''.join(rng.choice('xyz') for _ in range(rng.randrange(1, 5)))}"
        )
        names.add(base)
    names = sorted(names)
    df = spark.createDataFrame([(w,) for w in names], ["name"])
    want = sorted(
        (a, b, lev(a, b))
        for i, a in enumerate(names)
        for b in names[i + 1:]
        if lev(a, b) <= 2
    )
    assert want, "fixture must contain true pairs"
    for hot in (None, 4, 64):
        got = sorted(
            (r["id_a"], r["id_b"], r["distance"])
            for r in edit_distance_pairs(
                df, "name", "name", max_dist=2, hot_threshold=hot
            ).collect()
        )
        assert got == want, (hot, len(got), len(want))


def test_select_survivors_keeps_best_per_cluster(spark):
    from pyspark.sql import functions as F

    from pedsnetdcc_spark.datapipe.clusters import select_survivors

    rows = [
        # cluster 1: quality ranks c > a (tie with b broken by id)
        ("a", 1, 10), ("b", 1, 30), ("c", 1, 30),
        # singleton cluster
        ("d", 4, 5),
    ]
    df = spark.createDataFrame(rows, "id string, cluster_id int, quality int")
    out = select_survivors(
        df, "cluster_id", [F.col("quality").desc(), F.col("id")]
    )
    kept = {r["id"] for r in out.where("is_survivor").collect()}
    assert kept == {"b", "d"}
    assert out.count() == 4  # non-survivors retained, flagged false


def test_connected_components_star_fallback_on_long_chain(spark):
    """A path graph's diameter exceeds any fixed propagation budget;
    the alternating-star fallback must still produce exact components
    (min-id labels) instead of raising — with correct star orientation
    (root = component minimum)."""
    from pedsnetdcc_spark.datapipe.clusters import connected_components

    # chain 0-1-...-120 plus a disjoint triangle {500,501,502}
    pairs = [(i, i + 1) for i in range(120)] + [(500, 501), (501, 502), (500, 502)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    out = {
        r["node"]: r["component"]
        for r in connected_components(df, max_iter=5).collect()
    }
    assert len(out) == 124
    assert all(out[i] == 0 for i in range(121))
    assert all(out[i] == 500 for i in (500, 501, 502))


def test_star_components_random_equivalence(spark):
    """_star_components must agree with a Python union-find on random
    graphs (both orientations fed, as connected_components does)."""
    import random

    from pyspark.sql import functions as F

    from pedsnetdcc_spark.datapipe.clusters import _star_components

    rng = random.Random(5)
    n = 60
    pairs = {(rng.randrange(n), rng.randrange(n)) for _ in range(70)}
    pairs = [(a, b) for a, b in pairs if a != b]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for a, b in pairs:
        for x in (a, b):
            want[x] = find(x)

    df = spark.createDataFrame(pairs, "u long, v long")
    sym = df.unionByName(df.select(F.col("v").alias("u"), F.col("u").alias("v")))
    got = {
        r["node"]: r["component"] for r in _star_components(sym).collect()
    }
    assert got == want


def test_connected_components_star_fallback_preserves_self_pair_nodes(spark):
    """Nodes appearing only in self-pairs must survive the star
    fallback (star rounds drop self-loops; the fallback coalesces
    against the propagation labels), keeping the fast path's contract
    'every node in pairs is returned' path-independent."""
    from pedsnetdcc_spark.datapipe.clusters import connected_components

    pairs = [(i, i + 1) for i in range(60)] + [(900, 900)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    out = {
        r["node"]: r["component"]
        for r in connected_components(df, max_iter=3).collect()
    }
    assert out[900] == 900
    assert all(out[i] == 0 for i in range(61))


def test_cdc_passage_dedup_is_shift_robust(spark):
    """A long passage repeated at DIFFERENT token offsets must be
    caught by content-defined chunking and MISSED by fixed windows —
    the reason cdc chunking exists.  Also pin the chunker's lossless
    reassembly: concatenating each doc's chunks in order restores the
    document."""
    import random

    from pedsnetdcc_spark.datapipe.dedup import passage_dedup
    from pedsnetdcc_spark.datapipe.text import cdc_chunk_documents

    rng = random.Random(9)
    words = [f"w{idx}" for idx in range(400)]
    passage = " ".join(rng.choice(words) for _ in range(160))
    prefix_a = " ".join(rng.choice(words) for _ in range(40))
    # offset differs by 7 tokens — misaligns every fixed 16-token window
    prefix_b = " ".join(rng.choice(words) for _ in range(47))
    docs = spark.createDataFrame(
        [(1, f"{prefix_a} {passage}"), (2, f"{prefix_b} {passage}")],
        "doc_id long, text string",
    )

    fixed = {
        r["doc_id"]: r["n_chunks_dropped"]
        for r in passage_dedup(
            docs, "doc_id", "text", chunk_tokens=16, keep="first"
        ).collect()
    }
    cdc = {
        r["doc_id"]: r["n_chunks_dropped"]
        for r in passage_dedup(
            docs, "doc_id", "text", chunk_tokens=16, keep="first", chunking="cdc"
        ).collect()
    }
    assert sum(fixed.values()) == 0, fixed  # fixed windows: repeat invisible
    assert cdc[1] == 0 and cdc[2] >= 3, cdc  # cdc: interior chunks dedup

    # lossless reassembly of the chunker itself
    chunks = cdc_chunk_documents(docs, "doc_id", "text", target_tokens=16)
    rebuilt = {
        did: " ".join(t for _, t in sorted(rows))
        for did, rows in (
            (d, [(r["chunk_id"], r["chunk_text"]) for r in g])
            for d, g in __import__("itertools").groupby(
                sorted(chunks.collect(), key=lambda r: (r["doc_id"], r["chunk_id"])),
                key=lambda r: r["doc_id"],
            )
        )
    }
    originals = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert rebuilt == originals


def test_cdc_chunking_length_bounds(spark):
    """The LBFS length bounds must hold: no interior chunk shorter
    than min (geometric short chunks of common words collided across
    UNRELATED documents and were deleted as 'repeats' — silent
    corruption), and a low-entropy run (constant window hash) must be
    force-cut at max instead of becoming one unbounded chunk."""
    import random

    from pedsnetdcc_spark.datapipe.dedup import passage_dedup
    from pedsnetdcc_spark.datapipe.text import cdc_chunk_documents

    # low-entropy run: forced cuts at max = 4*target
    runs = spark.createDataFrame(
        [(1, " ".join(["x"] * 100) + " y")], "doc_id long, text string"
    )
    ch = cdc_chunk_documents(runs, "doc_id", "text", target_tokens=8).collect()
    assert max(r["n_chunk_tokens"] for r in ch) <= 32
    assert len(ch) >= 3

    # unrelated docs over a shared vocabulary: nothing may dedup
    rng = random.Random(21)
    words = [f"w{k}" for k in range(400)]
    docs = spark.createDataFrame(
        [(d, " ".join(rng.choice(words) for _ in range(300))) for d in range(20)],
        "doc_id long, text string",
    )
    out = passage_dedup(
        docs, "doc_id", "text", chunk_tokens=32, keep="first", chunking="cdc"
    )
    assert out.agg({"n_chunks_dropped": "sum"}).collect()[0][0] == 0
    # and interior chunks respect the min bound (only final chunks may
    # be shorter)
    ch2 = cdc_chunk_documents(docs, "doc_id", "text", target_tokens=32)
    last = ch2.groupBy("doc_id").agg({"chunk_id": "max"}).collect()
    last_ids = {(r[0], r[1]) for r in last}
    interior_short = [
        r
        for r in ch2.collect()
        if r["n_chunk_tokens"] < 8 and (r["doc_id"], r["chunk_id"]) not in last_ids
    ]
    assert not interior_short


def test_quality_classifier_matches_hand_computed_nb(spark):
    """NB training/scoring on a 4-doc corpus equals the textbook
    formula computed in Python (same rounding seams)."""
    import math

    from pedsnetdcc_spark.datapipe.classifier import (
        score_with_classifier,
        train_quality_classifier,
    )
    from pedsnetdcc_spark.datapipe.text import hashed_bow

    rows = [
        (1, "good good text", True),
        (2, "good text", True),
        (3, "bad bad spam", False),
        (4, "spam text", False),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, label boolean")
    dim = 8
    bow = hashed_bow(docs, "doc_id", "text", dim=dim, seed=0, norm="none")
    model = train_quality_classifier(
        bow, docs.select("doc_id", "label"), "doc_id", "label", dim=dim
    )
    got = {r["bucket"]: (r["llr"], r["log_prior"]) for r in model.collect()}
    assert set(got) == set(range(dim))

    # hand model
    from collections import Counter

    bow_rows = bow.collect()
    lab = {r[0]: r[2] for r in rows}
    c1, c0 = Counter(), Counter()
    for r in bow_rows:
        (c1 if lab[r["doc_id"]] else c0)[r["bucket"]] += r["tf"]
    t1, t0 = sum(c1.values()), sum(c0.values())
    for b in range(dim):
        llr = round(
            math.log((c1[b] + 1) / (t1 + dim)) - math.log((c0[b] + 1) / (t0 + dim)),
            6,
        )
        assert got[b][0] == llr, b
        assert got[b][1] == round(math.log(2 / 2), 6)

    scored = {r["doc_id"]: r for r in
              score_with_classifier(bow, model, "doc_id").collect()}
    for d, _, y in rows:
        exp = sum(
            r["tf"] * got[r["bucket"]][0] for r in bow_rows if r["doc_id"] == d
        )
        # decimal accumulation of 6-digit-rounded terms is exact
        assert abs(scored[d]["score"] - round(exp, 6)) < 1e-9
        assert scored[d]["predicted"] == (scored[d]["score"] > 0)
        assert scored[d]["predicted"] == y  # separable toy corpus


def test_quality_classifier_composes_with_corpus_pipeline(spark, sf_dir):
    """The classifier filter slots into the corpus curation chain:
    train on rule labels, keep predicted-pass docs, run the standard
    prepare_corpus step on the survivors — counts are consistent."""
    from pedsnetdcc_spark.datapipe.classifier import (
        score_with_classifier,
        train_quality_classifier,
    )
    from pedsnetdcc_spark.datapipe.corpus import prepare_corpus
    from pedsnetdcc_spark.datapipe.text import gopher_rules, hashed_bow
    from pedsnetdcc_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    labels = gopher_rules(docs, "text").select(
        "doc_id", F.col("passes_gopher").alias("label")
    )
    bow = hashed_bow(docs, "doc_id", "text", dim=64, seed=0, norm="none")
    model = train_quality_classifier(bow, labels, "doc_id", "label", dim=64)
    scored = score_with_classifier(bow, model, "doc_id")
    kept = docs.join(
        scored.where(F.col("predicted")).select("doc_id"), "doc_id", "left_semi"
    )
    n_docs, n_kept = docs.count(), kept.count()
    assert 0 < n_kept <= n_docs
    # distillation sanity: the student beats the majority-class
    # baseline (the rule labels on the synthetic corpus fire mostly on
    # length, which token-identity features capture only weakly — the
    # check is that training extracted SOME signal, not classifier
    # quality on purpose-built data; see the hand-computed toy test
    # above for exactness)
    n_pos = labels.where("label").count()
    majority = max(n_pos, n_docs - n_pos) / n_docs
    agree = scored.join(labels, "doc_id").where(
        F.col("predicted") == F.col("label")
    ).count()
    assert agree / n_docs > majority
    out = prepare_corpus(kept, "doc_id", "text")
    assert out.count() <= n_kept


def test_edit_distance_pairs_short_remainder_routing_exact(spark):
    """Round-7 fallback-bound check: strings short enough that their
    level-2 splice remainders straddle the (tau, 2*tau] boundary — the
    ADVICE-flagged near-pure-segment shape.  With hot_threshold=1
    EVERY bucket recurses, so pairs must flow through the level-2
    pigeonhole (both remainders > tau) or the bounded min-side<=tau
    fallback; a routing gap loses pairs, over-broad routing only
    over-generates (verify keeps it exact either way)."""
    import random

    from pedsnetdcc_spark.datapipe.dedup import edit_distance_pairs

    rng = random.Random(11)
    words = list({
        "".join(rng.choice("ab") for _ in range(rng.randrange(4, 9)))
        for _ in range(80)
    })
    df = spark.createDataFrame([(w,) for w in words], ["name"])
    tau = 2
    want = sorted(
        (min(a, b), max(a, b), _lev(a, b))
        for i, a in enumerate(words)
        for b in words[i + 1:]
        if _lev(a, b) <= tau
    )
    for hot in (1, 3):
        got = sorted(
            (r["id_a"], r["id_b"], r["distance"])
            for r in edit_distance_pairs(
                df, "name", "name", max_dist=tau, hot_threshold=hot
            ).collect()
        )
        assert got == want, (hot, len(got), len(want))


def _ph64(x, seed: int = 0) -> int:
    import hashlib

    return int(hashlib.md5(f"{seed}:{x}".encode()).hexdigest()[:15], 16)


def test_auto_cell_grid_matches_duckdb_arithmetic():
    """The auto grid (total, k1, k2) must land on the SAME integers as
    the oracle's GREATEST/CEIL/SQRT double arithmetic for every corpus
    size — including the target-cell boundaries where ceil flips."""
    import duckdb

    from pedsnetdcc_spark.datapipe.similarity import auto_cell_grid

    for n in (1, 16, 500, 511, 512, 513, 8192, 8193, 50_000, 200_000, 10**9):
        total, k1, k2 = auto_cell_grid(n, 512)
        row = duckdb.sql(
            f"""
            SELECT CAST(total AS BIGINT),
                   CAST(CEIL(SQRT(total)) AS BIGINT),
                   CAST(CEIL(total / CEIL(SQRT(total))) AS BIGINT)
            FROM (SELECT GREATEST(16, CEIL({n} / 512.0)) AS total)
            """
        ).fetchone()
        assert (total, k1, k2) == row, (n, (total, k1, k2), row)
        assert k1 * k2 >= total  # the factoring never loses cells


def test_semantic_cells_auto_matches_pure_python_replay(spark, emb):
    """k='auto' two-level assignment replayed in pure python with
    Spark's exact fold order, hash order, and argmax tie-breaks."""
    import math

    from pedsnetdcc_spark.datapipe.similarity import (
        auto_cell_grid,
        semantic_cells,
    )

    sub = emb.where("vec_id < 120")
    raw = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in sub.collect()}
    ids = sorted(raw)
    total, k1, k2 = auto_cell_grid(len(ids), 512)

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def norm(a):
        acc = 0.0
        for x in a:
            acc = acc + x * x
        return math.sqrt(acc)

    norms = {i: norm(v) for i, v in raw.items()}

    def nearest(i, cands):
        return min(
            cands,
            key=lambda c: (-(dot(raw[i], raw[c]) / (norms[i] * norms[c])), c),
        )

    hash_order = sorted(ids, key=lambda i: (_ph64(i), i))
    c1 = hash_order[:k1]
    coarse = {i: nearest(i, c1) for i in ids}
    want = {}
    for cc in set(coarse.values()):
        members = sorted(
            (i for i in ids if coarse[i] == cc), key=lambda i: (_ph64(i), i)
        )
        fine = members[:k2]
        for i in ids:
            if coarse[i] == cc:
                want[i] = nearest(i, fine)

    got = {
        r["vec_id"]: r["cell"]
        for r in semantic_cells(sub, "vec_id", "embedding", k="auto").collect()
    }
    assert got == want

    # partitioning invariance: the grid is a pure function of the data
    got7 = {
        r["vec_id"]: r["cell"]
        for r in semantic_cells(
            sub.repartition(7), "vec_id", "embedding", k="auto"
        ).collect()
    }
    assert got7 == want


def test_embedding_lsh_auto_bits_tracks_corpus(spark, emb):
    """bits='auto' must equal the explicitly-computed grid (pure
    function of n) and stay within the production bounds."""
    import math

    from pedsnetdcc_spark.datapipe.similarity import embedding_near_dup_pairs_lsh

    n = emb.count()
    want_bits = max(2, min(24, math.ceil(math.log2(max(n / 64, 2.0)))))
    auto = sorted(
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs_lsh(emb, threshold=0.45).collect()
    )
    explicit = sorted(
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs_lsh(
            emb, threshold=0.45, bits=want_bits
        ).collect()
    )
    assert auto == explicit and len(auto) > 0
    # the grid math: bucket populations ~ target at representative sizes
    for n_, lo, hi in ((500, 3, 3), (200_000, 11, 12), (10**9, 23, 24)):
        b = max(2, min(24, math.ceil(math.log2(max(n_ / 64, 2.0)))))
        assert lo <= b <= hi, (n_, b)


def test_topk_auto_grids_match_explicit(spark, emb):
    """lsh_bucketed_topk bits='auto' and ivf_topk n_centroids='auto'
    are pure functions of the candidate count — identical output to
    the explicitly-computed grid."""
    import math

    from pedsnetdcc_spark.datapipe.similarity import ivf_topk, lsh_bucketed_topk

    n = emb.count()
    q = emb.where("vec_id < 3")
    want_bits = max(2, min(24, math.ceil(math.log2(max(n / 64, 2.0)))))
    auto = lsh_bucketed_topk(emb, q, k=2, dim=64).collect()
    explicit = lsh_bucketed_topk(emb, q, k=2, bits=want_bits, dim=64).collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, explicit)) and auto

    want_c = max(16, min(1024, math.ceil(n / 512)))
    a2 = ivf_topk(emb, q, k=2).collect()
    e2 = ivf_topk(emb, q, k=2, n_centroids=want_c).collect()
    assert sorted(map(tuple, a2)) == sorted(map(tuple, e2)) and a2


def _planted_near_dup_corpus(n_total: int, n_pairs: int, dim: int, seed: int):
    """A corpus of ``n_total`` unit vectors with ``n_pairs`` PLANTED
    near-dup pairs at controlled cosine in [0.91, 0.98] (uniform): pair
    i is (i, n_total//2 + i), companion = cos(phi)*v + sin(phi)*u with u
    orthogonalized random — exact cosine by construction.  All other
    vectors are iid Gaussian (random cosine ~ N(0, 1/dim), so accidental
    >= 0.9 pairs are ~8-sigma events: ground truth is the planted set)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    X = rng.standard_normal((n_total, dim))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    half = n_total // 2
    cosines = rng.uniform(0.91, 0.98, n_pairs)
    for i in range(n_pairs):
        v = X[i]
        g = rng.standard_normal(dim)
        u = g - (g @ v) * v
        u /= np.linalg.norm(u)
        c = cosines[i]
        X[half + i] = c * v + np.sqrt(1.0 - c * c) * u
    planted = {(i, half + i) for i in range(n_pairs)}
    return X, planted


@pytest.mark.parametrize("n_total,floor", [(5_000, 0.9), (50_000, 0.85)])
def test_embedding_lsh_auto_recall_curve(spark, n_total, floor):
    """The bits="auto" / recall trade, MEASURED at two corpus sizes
    (round-7 verdict item 8): auto-bits keeps cost linear by growing
    2^bits with n, which lowers per-pair collision probability p^bits —
    this test pins that the resulting recall on planted >= 0.91-cosine
    pairs stays high at BOTH 5k (auto bits=7, measured 0.985) and 50k
    (auto bits=10, measured 0.96) with the default tables=8, so a
    silent recall collapse at larger n cannot ship.  Hyperplanes are
    seeded, the corpus is seeded: the measured recall is deterministic.
    Precision is exact by construction (cosine verifies every
    candidate) and re-asserted here."""
    import pandas as pd

    from pedsnetdcc_spark.datapipe.similarity import embedding_near_dup_pairs_lsh

    dim = 64
    X, planted = _planted_near_dup_corpus(n_total, 200, dim, seed=n_total)
    pdf = pd.DataFrame(
        {"vec_id": range(n_total), "embedding": [r.astype("float32") for r in X]}
    )
    df = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
    got = embedding_near_dup_pairs_lsh(
        df, threshold=0.9, tables=8, dim=dim, n=n_total
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in got}
    recall = len(found & planted) / len(planted)
    assert recall >= floor, (n_total, recall)
    # exact verification => no pair below threshold ever returned
    assert all(r["cosine"] >= 0.9 for r in got)


def test_knn_label_vote_hand_computed(spark):
    """Hand-computed kNN vote: query 100 at (1,0); neighbors at
    decreasing cosine with labels arranged so the top-3 vote is split
    1/1/1 — the (count desc, label asc) tie-break must pick the LOWEST
    label among the tied — and a 2-vs-1 majority wins regardless of
    label order."""
    from pedsnetdcc_spark.datapipe.similarity import knn_label_vote

    rows = [
        (1, [1.0, 0.0], 7),      # cosine 1.0
        (2, [0.9, 0.1], 3),      # next
        (3, [0.8, 0.2], 9),      # next
        (4, [0.0, 1.0], 7),      # far
        (100, [1.0, 0.0], 7),    # the query itself (excluded as self)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = df.where(F.col("vec_id") == 100)
    # k=3: neighbors 1,2,3 -> labels {7,3,9} all 1 vote -> tie -> label 3
    got3 = knn_label_vote(df, q, k=3).collect()
    assert [(r["query_id"], r["predicted_label"], r["votes"]) for r in got3] == [
        (100, 3, 1)
    ]
    # k=4: labels {7,3,9,7} -> 7 wins with 2 votes
    got4 = knn_label_vote(df, q, k=4).collect()
    assert [(r["query_id"], r["predicted_label"], r["votes"]) for r in got4] == [
        (100, 7, 2)
    ]


def test_knn_label_vote_ann_composition_agreement(spark):
    """The documented ANN-composition path for the kNN eval, PROVED
    (round-8 verdict item 7): at corpus scale `knn_label_eval`'s
    docstring routes big query sets through `lsh_bucketed_topk` /
    `ivf_topk` feeding the same vote via ``neighbors=``.  This pins
    that the composition actually works and that the ANN-backed vote
    stays within an accuracy floor of the exact vote on a seeded
    cluster-labeled corpus — so the scale path cannot silently diverge
    from the eval it replaces.

    Corpus: 10 Gaussian clusters of unit vectors (label = cluster);
    within-cluster cosine far above cross-cluster, so the exact 5-NN
    vote recovers the label almost always.  Both ANN variants must (a)
    agree with the exact predicted label on >= 90% of queries and (b)
    land within 5 points of exact accuracy against ground truth."""
    import numpy as np
    import pandas as pd

    from pedsnetdcc_spark.datapipe.similarity import (
        ivf_topk,
        knn_label_vote,
    )

    rng = np.random.default_rng(7)
    n_clusters, per, dim = 10, 200, 32
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs, labels = [], []
    for c in range(n_clusters):
        pts = centers[c] + 0.1 * rng.standard_normal((per, dim))
        pts /= np.linalg.norm(pts, axis=1, keepdims=True)
        vecs.append(pts)
        labels.extend([c] * per)
    X = np.vstack(vecs)
    n = n_clusters * per
    pdf = pd.DataFrame(
        {
            "vec_id": range(n),
            "embedding": [r.astype("float32") for r in X],
            "label": labels,
        }
    )
    corpus = spark.createDataFrame(
        pdf, "vec_id long, embedding array<float>, label int"
    )
    queries = corpus.where(F.col("vec_id") % 20 == 0)  # 100 queries
    truth = {int(r["vec_id"]): int(r["label"]) for r in queries.collect()}

    def _pred(df):
        return {
            int(r["query_id"]): int(r["predicted_label"]) for r in df.collect()
        }

    exact = _pred(knn_label_vote(corpus, queries, k=5))
    ann_paths = {
        "lsh": lsh_bucketed_topk(corpus, queries, k=5, dim=dim, n=n),
        "ivf": ivf_topk(corpus, queries, k=5, n=n),
        # the uncapped big-corpus path (target_cell forced low so the
        # 2000-row corpus actually exercises the two-stage assignment)
        "ivf_hier": ivf_topk(
            corpus, queries, k=5, n=n, nprobe=8, target_cell=16,
            assign="hierarchical",
        ),
    }
    acc_exact = sum(exact[q] == t for q, t in truth.items()) / len(truth)
    assert acc_exact >= 0.9, acc_exact  # the eval itself is meaningful
    for name, nn in ann_paths.items():
        approx = _pred(knn_label_vote(corpus, queries, k=5, neighbors=nn))
        # ANN may drop a query entirely if no bucket/cell collides;
        # count a missing prediction as a disagreement + a miss
        agree = sum(
            approx.get(q) == exact[q] for q in exact
        ) / len(exact)
        acc = sum(approx.get(q) == t for q, t in truth.items()) / len(truth)
        assert agree >= 0.9, (name, agree)
        assert acc >= acc_exact - 0.05, (name, acc, acc_exact)


def test_ivf_index_build_query_matches_ivf_topk(spark, emb, tmp_path):
    """The persistent index (build_ivf_index layout) must return
    EXACTLY what ivf_topk computes with the same codebook and
    assignment — the on-disk cells are the same cell partition, only
    amortized across query batches."""
    import numpy as np

    from pedsnetdcc_spark.datapipe.similarity import (
        build_ivf_index,
        ivf_topk,
        query_ivf_index,
    )

    root = str(tmp_path / "ivf")
    meta = build_ivf_index(
        emb, root, n_centroids=16, assign="flat", seed=3
    )
    assert meta["n_centroids"] == 16 and meta["dim"] == 64
    q = emb.filter(F.col("vec_id") < 15)
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], round(r["cosine"], 12))
        for r in query_ivf_index(spark, root, q, k=3, nprobe=4).collect()
    }
    C = np.array(
        [
            r["centroid"]
            for r in spark.read.parquet(f"{root}/centroids.parquet")
            .orderBy("centroid_id")
            .collect()
        ]
    )
    want = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], round(r["cosine"], 12))
        for r in ivf_topk(
            emb, q, k=3, nprobe=4, centroids=C, assign="flat"
        ).collect()
    }
    assert got == want and len(got) > 0


def test_ivf_index_query_prunes_partitions(spark, emb, tmp_path):
    """The partition layout IS the index: a query must never open a
    cell directory it did not probe.  Evidence is functional, not just
    plan text: corrupting every non-probed cell's parquet files leaves
    the query untouched (pruned at plan time), while corrupting the
    probed cell breaks it."""
    import os

    from pedsnetdcc_spark.datapipe.similarity import (
        build_ivf_index,
        query_ivf_index,
    )

    root = str(tmp_path / "ivf")
    build_ivf_index(emb, root, n_centroids=8, assign="flat", seed=3)
    q = emb.filter(F.col("vec_id") == 0)

    baseline = query_ivf_index(spark, root, q, k=2, nprobe=1).collect()
    assert baseline

    # plan-level check: the scan carries a partition filter
    plan = query_ivf_index(
        spark, root, q, k=2, nprobe=1
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan

    cells = os.path.join(root, "cells")
    dirs = sorted(d for d in os.listdir(cells) if d.startswith("centroid_id="))
    # find the one probed cell by elimination: corrupt one dir at a
    # time; exactly one corruption changes/breaks the query
    probed = set()
    for d in dirs:
        full = os.path.join(cells, d)
        saved = {}
        for fn in os.listdir(full):
            if fn.endswith(".parquet"):
                p = os.path.join(full, fn)
                saved[p] = open(p, "rb").read()
                open(p, "wb").write(b"not parquet at all")
        try:
            got = query_ivf_index(spark, root, q, k=2, nprobe=1).collect()
            ok = got == baseline
        except Exception:
            ok = False
        for p, blob in saved.items():
            open(p, "wb").write(blob)
        if not ok:
            probed.add(d)
    assert len(probed) == 1, (
        f"exactly one cell should be read with nprobe=1, got {probed}"
    )


def test_ivf_index_streaming_append(spark, emb, tmp_path):
    """Index lifecycle: build on the base corpus, stream new vectors in
    as two real micro-batches (frozen codebook, epoch-atomic deltas),
    then a handle query over base+delta must equal ivf_topk over the
    FULL corpus with the same codebook.  Epoch replay must not
    duplicate."""
    import os

    import numpy as np

    from pedsnetdcc_spark.datapipe.similarity import (
        _append_ivf_epoch,
        build_ivf_index,
        ivf_topk,
        open_ivf_index,
        stream_ivf_index_append,
    )

    root = str(tmp_path / "ivf")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    build_ivf_index(base, root, n_centroids=16, assign="flat", seed=3)

    newbies = emb.filter(F.col("vec_id") % 3 == 0)
    src = str(tmp_path / "src")
    newbies.where(F.col("vec_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    newbies.where(F.col("vec_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(newbies.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream_ivf_index_append(stream, root, epoch_offset=0)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    epochs = sorted(os.listdir(os.path.join(root, "cells_delta")))
    assert len([e for e in epochs if e.startswith("epoch=")]) == 2

    h = open_ivf_index(spark, root)
    queries = emb.filter(F.col("vec_id") < 12)
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in h.query(queries, k=3, nprobe=4).collect()
    }
    C = np.array(
        [
            r["centroid"]
            for r in spark.read.parquet(f"{root}/centroids.parquet")
            .orderBy("centroid_id")
            .collect()
        ]
    )
    want = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_topk(
            emb, queries, k=3, nprobe=4, centroids=C, assign="flat"
        ).collect()
    }
    assert got == want and len(got) == 12 * 3

    # replaying an epoch replaces its delta — no duplicates, same answer
    replay = newbies.where(F.col("vec_id") % 2 == 0)
    _append_ivf_epoch(replay, 0, root)
    h2 = open_ivf_index(spark, root)
    got2 = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in h2.query(queries, k=3, nprobe=4).collect()
    }
    assert got2 == want


def test_ivf_index_compact_folds_delta(spark, emb, tmp_path):
    """Compaction folds the epoch deltas into the base layout: the
    delta directory disappears, every cell is one file again, and a
    handle query answers identically before and after."""
    import os

    from pedsnetdcc_spark.datapipe.similarity import (
        _append_ivf_epoch,
        build_ivf_index,
        compact_ivf_index,
        open_ivf_index,
    )

    root = str(tmp_path / "ivf")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    build_ivf_index(base, root, n_centroids=16, assign="flat", seed=3)
    newbies = emb.filter(F.col("vec_id") % 3 == 0)
    _append_ivf_epoch(newbies.where("vec_id % 2 = 0"), 0, root)
    _append_ivf_epoch(newbies.where("vec_id % 2 = 1"), 1, root)

    queries = emb.filter(F.col("vec_id") < 12)
    before = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in open_ivf_index(spark, root).query(queries, k=3, nprobe=4).collect()
    }

    rep = compact_ivf_index(spark, root)
    assert rep["epochs_folded"] == 2
    assert rep["rows"] == emb.count()
    assert not os.path.exists(os.path.join(root, "cells_delta"))
    cells = os.path.join(root, "cells")
    for d in os.listdir(cells):
        if d.startswith("centroid_id="):
            files = [f for f in os.listdir(os.path.join(cells, d))
                     if f.endswith(".parquet")]
            assert len(files) == 1, (d, files)

    after = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in open_ivf_index(spark, root).query(queries, k=3, nprobe=4).collect()
    }
    assert after == before

    # idempotent: compacting a delta-free index is a no-op
    assert compact_ivf_index(spark, root)["epochs_folded"] == 0


def _dup_spans_ref(docs, k, min_count):
    """Brute-force python reference for duplicate_spans."""
    from collections import Counter

    toks = {i: t.split(" ") for i, t in docs}
    cnt = Counter()
    for a in toks.values():
        for p in range(len(a) - k + 1):
            cnt[" ".join(a[p : p + k])] += 1
    out = []
    for i, a in toks.items():
        dup = [
            p
            for p in range(len(a) - k + 1)
            if cnt[" ".join(a[p : p + k])] >= min_count
        ]
        runs = []
        for p in dup:
            if runs and p - runs[-1][1] <= k:
                runs[-1][1] = p
            else:
                runs.append([p, p])
        out += [(i, s, e + k - 1, e + k - 1 - s + 1) for s, e in runs]
    return sorted(out)


def test_duplicate_spans_matches_bruteforce_examples(spark):
    from pedsnetdcc_spark.datapipe.dedup import duplicate_spans

    docs = [
        (1, "a b c d e f g h i j k l m"),
        (2, "x x c d e f g h y y z w q"),
        (3, "p q r s"),
        (4, "a b c d e f g h i j k l m"),
        (5, "u v w t1 t2 t3 t4 t5 t6 t7"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["n_tokens"])
        for r in duplicate_spans(df, "doc_id", "text", k=6).collect()
    )
    assert got == _dup_spans_ref(docs, 6, 2)
    # spans are maximal merges: doc 1/4 are full-length single spans
    assert (1, 0, 12, 13) in got and (4, 0, 12, 13) in got


def test_duplicate_spans_property_vs_bruteforce(spark):
    """Property: for ANY corpus over a tiny vocabulary (dense repeats)
    and any k/min_count, the span set equals the python reference."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pedsnetdcc_spark.datapipe.dedup import duplicate_spans

    corpus = st.lists(
        st.lists(st.sampled_from(list("abcd")), min_size=1, max_size=14).map(
            " ".join
        ),
        min_size=1,
        max_size=8,
    )

    @settings(max_examples=12, deadline=None)
    @given(corpus, st.integers(2, 4), st.integers(2, 3))
    def check(texts, k, min_count):
        docs = list(enumerate(texts))
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = sorted(
            (r["doc_id"], r["span_start"], r["span_end"], r["n_tokens"])
            for r in duplicate_spans(
                df, "doc_id", "text", k=k, min_count=min_count
            ).collect()
        )
        assert got == _dup_spans_ref(docs, k, min_count), (texts, k, min_count)

    check()


def test_drop_duplicate_spans_first_and_unique(spark):
    from pedsnetdcc_spark.datapipe.dedup import drop_duplicate_spans

    docs = [
        (1, "a b c d e f g h i j k l m"),
        (2, "x x c d e f g h y y z w q"),
        (3, "p q r s"),
        (4, "a b c d e f g h i j k l m"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    first = {
        r["doc_id"]: (r["text_deduped"], r["n_tokens"], r["n_tokens_dropped"])
        for r in drop_duplicate_spans(
            df, "doc_id", "text", k=6, keep="first"
        ).collect()
    }
    # global-first occurrence (doc 1) keeps everything; the exact copy
    # (doc 4) is cut to empty BUT KEEPS ITS ROW; doc 2 loses only the
    # shared span; the short doc passes through untouched
    assert first[1] == ("a b c d e f g h i j k l m", 13, 0)
    assert first[4] == ("", 0, 13)
    assert first[2] == ("x x y y z w q", 7, 6)
    assert first[3] == ("p q r s", 4, 0)
    unique = {
        r["doc_id"]: r["n_tokens"]
        for r in drop_duplicate_spans(
            df, "doc_id", "text", k=6, keep="unique"
        ).collect()
    }
    assert unique[1] == 0 and unique[4] == 0  # both copies cut
    import pytest as _pytest

    with _pytest.raises(ValueError):
        drop_duplicate_spans(df, "doc_id", "text", keep="bogus")


def test_passage_dedup_sep_mode_line_dedup(spark):
    """chunking='sep' is C4/RefinedWeb line dedup: repeated lines drop
    (keep='first' keeps the globally-first copy), reassembly rejoins
    with the same separator, and min_count thresholds the repetition."""
    from pedsnetdcc_spark.datapipe.dedup import passage_dedup

    docs = [
        (1, "unique line one\ncopyright boilerplate\nreal content here"),
        (2, "copyright boilerplate\nanother real line"),
        (3, "copyright boilerplate\nthird doc text\nrare repeat"),
        (4, "rare repeat\nlast doc"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    first = {
        r["doc_id"]: r["text_deduped"]
        for r in passage_dedup(
            df, "doc_id", chunking="sep", sep="\n", min_count=2, keep="first"
        ).collect()
    }
    assert first[1] == "unique line one\ncopyright boilerplate\nreal content here"
    assert first[2] == "another real line"
    assert first[3] == "third doc text\nrare repeat"
    assert first[4] == "last doc"
    # min_count=3: the 2x line survives everywhere, the 3x line drops
    thresh = {
        r["doc_id"]: r["text_deduped"]
        for r in passage_dedup(
            df, "doc_id", chunking="sep", sep="\n", min_count=3, keep="unique"
        ).collect()
    }
    assert thresh[1] == "unique line one\nreal content here"
    assert thresh[4] == "rare repeat\nlast doc"
    # separator is treated as a literal, not a regex
    rx = spark.createDataFrame(
        [(1, "a|b|a"), (2, "a|c")], ["doc_id", "text"]
    )
    lit = {
        r["doc_id"]: r["text_deduped"]
        for r in passage_dedup(
            rx, "doc_id", chunking="sep", sep="|", min_count=2, keep="unique"
        ).collect()
    }
    assert lit[1] == "b" and lit[2] == "c"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        passage_dedup(df, "doc_id", chunking="sep", min_count=1)


def test_pq_encode_shape_and_determinism(spark, emb):
    import numpy as np

    from pedsnetdcc_spark.datapipe.similarity import (
        pq_encode,
        train_pq_codebooks,
    )

    cb = train_pq_codebooks(emb, "vec_id", "embedding", m=8, codebook_size=16)
    assert cb.shape == (8, 16, 8)  # 64-dim / 8 subspaces
    # training is partition-independent: same sample, same codebooks
    cb2 = train_pq_codebooks(
        emb.repartition(7), "vec_id", "embedding", m=8, codebook_size=16
    )
    assert np.allclose(cb, cb2)
    enc = pq_encode(emb, cb, "vec_id", "embedding").select("vec_id", "pq_code")
    rows = {r["vec_id"]: r["pq_code"] for r in enc.collect()}
    assert all(len(c) == 8 for c in rows.values())
    assert all(0 <= x < 16 for c in rows.values() for x in c)
    rows2 = {
        r["vec_id"]: r["pq_code"]
        for r in pq_encode(emb.repartition(5), cb, "vec_id", "embedding")
        .select("vec_id", "pq_code")
        .collect()
    }
    assert rows == rows2


def test_pq_train_rejects_indivisible_dim(spark, emb):
    import pytest as _pytest

    from pedsnetdcc_spark.datapipe.similarity import train_pq_codebooks

    with _pytest.raises(ValueError):
        train_pq_codebooks(emb, "vec_id", "embedding", m=7)


def test_pq_topk_recall_and_shape(spark, emb):
    """PQ/ADC with exact re-rank must recover most exact neighbors and
    return exactly k full-cosine rows per query, self excluded, rank
    dense — and be identical across partitionings."""
    from pyspark.sql import functions as F

    from pedsnetdcc_spark.datapipe.similarity import cosine_topk, pq_topk

    qdf = emb.filter(F.col("vec_id") < 8)
    prod = pq_topk(
        emb, qdf, "vec_id", "embedding", k=5, m=8, codebook_size=64,
        rerank_factor=8,
    ).collect()
    assert len(prod) == 40
    by_q = {}
    for r in prod:
        assert r["neighbor_id"] != r["query_id"]
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, qdf, "vec_id", "embedding", k=5).collect()
    }
    got = {(r["query_id"], r["neighbor_id"]) for r in prod}
    per_q = {q: len({n for qq, n in got & exact if qq == q}) for q in by_q}
    assert all(v >= 3 for v in per_q.values()), per_q
    rep = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in pq_topk(
            emb.repartition(9), qdf, "vec_id", "embedding", k=5, m=8,
            codebook_size=64, rerank_factor=8,
        ).collect()
    }
    assert rep == {(r["query_id"], r["neighbor_id"], r["rank"]) for r in prod}


def test_image_dhash_scale_invariance_and_corrupt(spark, docs):
    """dHash of a pixel-repetition upscale equals the original exactly
    (integer resampling composes: ((r*f*h)//8)//f == (r*h)//8), and
    undecodable payloads keep their row with decodable=false."""
    from pedsnetdcc_spark.datapipe.multimodal import (
        image_dhash,
        upscale_images,
        with_png_payload,
    )

    imgs = with_png_payload(docs.limit(25), "doc_id", "text").select(
        "doc_id", "payload"
    )
    base = {r["doc_id"]: r["dhash"] for r in image_dhash(imgs, "doc_id").collect()}
    assert len(base) == 25 and all(v is not None for v in base.values())
    for factor in (2, 3):
        up = upscale_images(imgs, "doc_id", factor=factor)
        scaled = {
            r["doc_id"]: r["dhash"] for r in image_dhash(up, "doc_id").collect()
        }
        assert scaled == base, f"dHash not invariant under x{factor} upscale"
    corrupt = spark.createDataFrame(
        [(999, bytearray(b"not a png"))], "doc_id long, payload binary"
    )
    row = image_dhash(corrupt, "doc_id").collect()[0]
    assert row["decodable"] is False and row["dhash"] is None
    passthru = upscale_images(corrupt, "doc_id").collect()[0]
    assert passthru["resized"] is False and bytes(passthru["payload"]) == b"not a png"


def test_image_near_dup_pairs_exact_vs_bruteforce(spark, docs):
    """The banded Hamming join over dHashes is pigeonhole-complete:
    pair set == brute force, and planted 2x upscales pair at Hamming 0."""
    from pyspark.sql import functions as F

    from pedsnetdcc_spark.datapipe.multimodal import (
        image_dhash,
        image_near_dup_pairs,
        upscale_images,
        with_png_payload,
    )

    imgs = with_png_payload(docs.limit(30), "doc_id", "text").select(
        "doc_id", "payload"
    )
    variants = upscale_images(
        imgs.where(F.col("doc_id") % 10 == 0), "doc_id", factor=2
    ).select((F.col("doc_id") + 1000).alias("doc_id"), "payload")
    allimgs = imgs.unionByName(variants)
    pairs = image_near_dup_pairs(allimgs, "doc_id", max_hamming=6).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    hashes = {
        r["doc_id"]: r["dhash"]
        for r in image_dhash(allimgs, "doc_id").collect()
    }
    import itertools

    brute = {}
    for a, b in itertools.combinations(sorted(hashes), 2):
        ham = bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1")
        if ham <= 6:
            brute[(a, b)] = ham
    assert got == brute
    planted = {k for k in got if k[1] - k[0] == 1000}
    assert planted and all(got[k] == 0 for k in planted)


def test_band_join_mih_probe_mode_equals_plain(spark):
    """probe_radius=1 (multi-index hashing: half the bands, twice the
    width, 1-bit-flip probing) returns the IDENTICAL pair set as plain
    banding and as brute force, at several radii — both constructions
    are pigeonhole-complete, they differ only in bucket geometry."""
    import itertools

    import numpy as np

    from pedsnetdcc_spark.datapipe.dedup import simhash_band_pairs

    rng = np.random.RandomState(7)
    M = (1 << 64) - 1

    def signed(u):
        return u - (1 << 64) if u >= 1 << 63 else u

    base = rng.randint(-2**63, 2**63, size=200, dtype=np.int64)
    rows = [(i, int(v)) for i, v in enumerate(base)]
    for i in range(30):
        u = int(base[i]) & M
        for f in rng.choice(64, size=rng.randint(0, 8), replace=False):
            u ^= 1 << int(f)
        rows.append((1000 + i, signed(u)))
    df = spark.createDataFrame(rows, "vid long, sig long")
    sigs = dict(rows)
    # mh=1 drives MIH to ONE band spanning all 64 bits: the bit-63
    # probe mask is Long.MIN_VALUE in two's complement (1 << 63 would
    # overflow LongType — the round-11 literal fix)
    for mh in (1, 2, 3, 6):
        plain = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_band_pairs(df, "vid", "sig", max_hamming=mh).collect()
        }
        mih = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_band_pairs(
                df, "vid", "sig", max_hamming=mh, probe_radius=1
            ).collect()
        }
        brute = {
            (a, b, bin((sigs[a] ^ sigs[b]) & M).count("1"))
            for a, b in itertools.combinations(sorted(sigs), 2)
            if bin((sigs[a] ^ sigs[b]) & M).count("1") <= mh
        }
        assert plain == brute and mih == brute, mh
    import pytest as _pytest

    with _pytest.raises(ValueError):
        simhash_band_pairs(df, "vid", "sig", probe_radius=2)
    with _pytest.raises(ValueError):
        # too few bands for the probe radius
        simhash_band_pairs(df, "vid", "sig", max_hamming=6, num_bands=3,
                           probe_radius=1)


def test_audio_fingerprint_copy_locality_and_corrupt(spark, docs):
    """Exact audio copies fingerprint identically (Hamming 0); a local
    corruption moves only the bits of the frames it touches; corrupt
    containers keep their row with decodable=false."""
    from pyspark.sql import functions as F

    from pedsnetdcc_spark.datapipe.multimodal import (
        audio_fingerprint,
        audio_near_dup_pairs,
        with_wav_payload,
    )

    base = with_wav_payload(docs.limit(20), "doc_id", "text").select(
        "doc_id", "payload"
    )
    fps = {r["doc_id"]: r["afp"] for r in audio_fingerprint(base, "doc_id").collect()}
    assert len(fps) == 20 and all(v is not None for v in fps.values())
    # exact copies planted at doc_id + 1000
    copies = base.select((F.col("doc_id") + 1000).alias("doc_id"), "payload")
    allwav = base.unionByName(copies)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in audio_near_dup_pairs(allwav, "doc_id", max_hamming=6).collect()
    }
    for i in fps:
        assert pairs.get((i, i + 1000)) == 0, i
    # local corruption: flipping a handful of adjacent samples moves
    # few frame energies -> small but nonzero Hamming
    import numpy as np

    from pedsnetdcc_spark.datapipe.multimodal import decode_wav, encode_wav

    row = base.orderBy("doc_id").limit(1).collect()[0]
    buf = bytes(row["payload"])
    meta = decode_wav(buf)
    s = np.array(meta["samples"], dtype=np.uint8).copy()
    s[3:6] = 255  # one locality
    tweaked = encode_wav(s.tobytes(), sample_rate=8000, channels=1, bits=8)
    two = spark.createDataFrame(
        [(1, bytearray(buf)), (2, bytearray(tweaked))],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r["afp"] for r in audio_fingerprint(two, "doc_id").collect()}
    ham = bin((got[1] ^ got[2]) & ((1 << 64) - 1)).count("1")
    assert 1 <= ham <= 10, ham
    corrupt = spark.createDataFrame(
        [(9, bytearray(b"RIFFnope"))], "doc_id long, payload binary"
    )
    bad = audio_fingerprint(corrupt, "doc_id").collect()[0]
    assert bad["decodable"] is False and bad["afp"] is None


def test_ivf_pq_index_lifecycle(spark, emb, tmp_path):
    """IVF-PQ: PQ codes stored in the cells survive epoch append and
    compaction; the ADC serving path recalls the exact-scoring path's
    neighbors, is deterministic, finds appended vectors, and refuses
    to run on an index built without codes."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from pedsnetdcc_spark.datapipe.similarity import (
        _append_ivf_epoch,
        build_ivf_index,
        compact_ivf_index,
        open_ivf_index,
    )

    root = str(tmp_path / "ivfpq")
    base = emb.where(F.col("vec_id") % 5 != 0)
    newv = emb.select("vec_id", "embedding").where(F.col("vec_id") % 5 == 0)
    build_ivf_index(
        base, root, n_centroids=16, assign="flat", seed=0,
        pq_m=8, pq_codebook_size=64,
    )
    _append_ivf_epoch(newv, 0, root)
    rep = compact_ivf_index(spark, root)
    assert rep["epochs_folded"] == 1
    h = open_ivf_index(spark, root)
    assert h.pq_codebooks is not None and h.pq_codebooks.shape == (8, 64, 8)
    qdf = emb.where(F.col("vec_id") < 8)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in h.query(qdf, k=5, nprobe=4).collect()
    }
    pq = [
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in h.query(qdf, k=5, nprobe=4, scoring="pq", rerank_factor=8).collect()
    ]
    got = {(q, n) for q, _, n in pq}
    per_q = {q: len({n for qq, n in got & exact if qq == q}) for q in range(8)}
    assert all(v >= 3 for v in per_q.values()), per_q
    # appended (vec_id % 5 == 0) vectors are visible to the pq path
    assert any(n % 5 == 0 for _, _, n in pq)
    pq2 = [
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in h.query(qdf, k=5, nprobe=4, scoring="pq", rerank_factor=8).collect()
    ]
    assert sorted(pq) == sorted(pq2)
    # coarse stage must not read the vector column (column pruning is
    # the point of storing codes): assert on the scan's ReadSchema
    plan = h.cells.where(F.col("centroid_id").isin([0, 1])).select(
        "centroid_id", "vec_id", "pq_code"
    )._jdf.queryExecution().executedPlan().toString()
    assert "pq_code" in plan
    root2 = str(tmp_path / "plain")
    build_ivf_index(base, root2, n_centroids=16, assign="flat", seed=0)
    with _pytest.raises(ValueError):
        open_ivf_index(spark, root2).query(qdf, scoring="pq")
    with _pytest.raises(ValueError):
        h.query(qdf, scoring="bogus")


def test_media_dedup_composition_pairs_to_survivors(spark, docs):
    """The media family composes with the generic dedup machinery:
    image near-dup pairs -> connected components -> quality-ranked
    survivor per cluster.  Planted 2x upscales must cluster with their
    originals, and exactly one member per cluster survives."""
    from pyspark.sql import functions as F

    from pedsnetdcc_spark.datapipe.clusters import (
        assign_clusters,
        select_survivors,
    )
    from pedsnetdcc_spark.datapipe.multimodal import (
        image_near_dup_pairs,
        upscale_images,
        with_png_payload,
    )

    imgs = with_png_payload(docs.limit(20), "doc_id", "text").select(
        "doc_id", "payload", "n_bytes"
    )
    variants = upscale_images(imgs, "doc_id", factor=2).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        "payload",
        F.octet_length("payload").alias("n_bytes"),
    )
    allimgs = imgs.unionByName(variants)
    pairs = image_near_dup_pairs(allimgs, "doc_id", max_hamming=2)
    labeled = assign_clusters(allimgs, "doc_id", pairs)
    survivors = select_survivors(
        labeled, "cluster_id",
        [F.col("n_bytes").desc(), F.col("doc_id")],  # keep the biggest
    )
    rows = survivors.collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    # every planted pair shares a cluster, one survivor per cluster
    for base in range(20):
        cl = {r["cluster_id"] for r in rows if r["doc_id"] in (base, base + 1000)}
        assert len(cl) == 1, base
    for cl, members in by_cluster.items():
        assert sum(1 for r in members if r["is_survivor"]) == 1, cl


def test_passage_dedup_sep_mode_property_vs_reference(spark):
    """Property: for ANY corpus of short lines over a tiny alphabet and
    any (min_count, keep), sep-mode passage_dedup matches a direct
    python simulation of the C4/RefinedWeb rule."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pedsnetdcc_spark.datapipe.dedup import passage_dedup

    corpus = st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc"]), min_size=1, max_size=5
        ).map("\n".join),
        min_size=1,
        max_size=6,
    )

    @settings(max_examples=10, deadline=None)
    @given(corpus, st.integers(2, 3), st.sampled_from(["first", "unique"]))
    def check(texts, min_count, keep):
        docs = list(enumerate(texts))
        from collections import Counter

        cnt = Counter(
            line for _, t in docs for line in t.split("\n")
        )
        seen = set()
        expected = {}
        for i, t in docs:
            kept = []
            for j, line in enumerate(t.split("\n")):
                if cnt[line] < min_count:
                    kept.append(line)
                elif keep == "first" and (line not in seen or (i, j) in seen):
                    # globally-first occurrence survives; mark it
                    kept.append(line)
                    seen.add(line)
                    seen.add((i, j))
            expected[i] = "\n".join(kept)
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = {
            r["doc_id"]: r["text_deduped"]
            for r in passage_dedup(
                df, "doc_id", chunking="sep", sep="\n",
                min_count=min_count, keep=keep,
            ).collect()
        }
        assert got == expected, (texts, min_count, keep)

    check()


def test_regex_literal_separator_containing_quote_end(spark):
    """A separator that itself contains the two-character sequence \\E
    must still split as a LITERAL — the naive \\Q{sep}\\E quoting would
    terminate the quote block early and parse the remainder as regex
    (the Pattern.quote re-splitting fix, round 11)."""
    from pedsnetdcc_spark.datapipe.dedup import _regex_literal, passage_dedup

    sep = "a\\Eb"  # literally: a \ E b
    # '.' after the embedded \E would be a regex wildcard if the quote
    # block were terminated early
    sep_dot = "\\E."
    df = spark.createDataFrame(
        [(1, f"x{sep}y{sep}x"), (2, f"x{sep}y{sep}x")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r["text_deduped"]
        for r in passage_dedup(
            df, "doc_id", chunking="sep", sep=sep, keep="unique"
        ).collect()
    }
    # both docs' every segment repeats corpus-wide -> all dropped;
    # an early-terminated quote would mis-split and leave segments
    assert out == {1: "", 2: ""}
    df2 = spark.createDataFrame([(1, f"p{sep_dot}qZr")], ["doc_id", "text"])
    segs = df2.select(
        F.split(F.col("text"), _regex_literal(sep_dot)).alias("s")
    ).head()["s"]
    # literal split: the '.' must NOT match 'Z'
    assert segs == ["p", "qZr"]


def test_duplicate_spans_custom_sep_tokens_with_spaces(spark):
    """With a non-space separator, tokens may CONTAIN spaces: shingles
    must be joined with the caller's separator so distinct token
    sequences never collide ('a b'|'c' vs 'a'|'b c'), and the cleaned
    text must be reassembled with the same separator (round-11 fix —
    both paths previously hard-coded ' ')."""
    from pedsnetdcc_spark.datapipe.dedup import (
        drop_duplicate_spans,
        duplicate_spans,
    )

    # doc 1 and 2: the SAME two-token sequence, repeated -> true dup.
    # doc 3 and 4: sequences whose ' '-joined rendering collides with
    # doc 1's ('a b' + 'c' vs 'a' + 'b c') but whose token sequences
    # differ -> NOT duplicates of each other or of doc 1.
    rows = [
        (1, "a b\nc\nZ1"),
        (2, "a b\nc\nZ2"),
        (3, "a\nb c\nZ3"),
        (4, "a\nb Qc\nZ4"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicate_spans(df, "doc_id", k=2, sep="\n").collect()
    }
    assert spans == {(1, 0, 1), (2, 0, 1)}
    cleaned = {
        r["doc_id"]: r["text_deduped"]
        for r in drop_duplicate_spans(
            df, "doc_id", k=2, keep="unique", sep="\n"
        ).collect()
    }
    # the duplicated spans are cut; survivors rejoin with '\n', not ' '
    assert cleaned[1] == "Z1" and cleaned[2] == "Z2"
    assert cleaned[3] == "a\nb c\nZ3" and cleaned[4] == "a\nb Qc\nZ4"


def test_duplicate_spans_xxh64_digest_equals_md5(spark):
    """digest='xxh64' (JVM-native xxhash64 over the k-long slice of the
    token-hash array, shingle string never materialized) must find the IDENTICAL
    span sets and cleaned docs as the exact md5 digest — planted
    repeats at several offsets, phases, and separators, plus a
    random-corpus sweep."""
    import random

    from pedsnetdcc_spark.datapipe.dedup import (
        drop_duplicate_spans,
        duplicate_spans,
    )

    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(40)]
    boiler = " ".join(vocab[7:19])  # a 12-token boilerplate run
    rows = []
    for i in range(60):
        toks = [rng.choice(vocab) for _ in range(rng.randint(0, 30))]
        if i % 4 == 0:  # plant the boilerplate at a random offset
            at = rng.randint(0, len(toks))
            toks[at:at] = boiler.split(" ")
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for k in (3, 8):
        want = {
            tuple(r)
            for r in duplicate_spans(df, "doc_id", k=k).collect()
        }
        got = {
            tuple(r)
            for r in duplicate_spans(
                df, "doc_id", k=k, digest="xxh64"
            ).collect()
        }
        assert got == want, k
    want_c = {
        tuple(r)
        for r in drop_duplicate_spans(df, "doc_id", k=4, keep="unique").collect()
    }
    got_c = {
        tuple(r)
        for r in drop_duplicate_spans(
            df, "doc_id", k=4, keep="unique", digest="xxh64"
        ).collect()
    }
    assert got_c == want_c
    with pytest.raises(ValueError):
        duplicate_spans(df, "doc_id", digest="sha1")


def test_span_index_incremental_equals_full_corpus(spark, tmp_path):
    """Dedup-new-against-index must find EXACTLY the spans that a full
    duplicate_spans over (old ∪ new) finds in the new docs — the
    combined count (index + in-batch) reproduces the corpus-wide
    min_count semantics without re-scanning old text.  Lifecycle: the
    result is identical whether the index was built in one shot, or
    built + appended, or compacted."""
    import random

    from pedsnetdcc_spark.datapipe.dedup import (
        append_span_index,
        build_span_index,
        compact_span_index,
        duplicate_spans,
        duplicate_spans_against_index,
    )

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(50)]
    boiler = [f"b{i}" for i in range(10)]

    def doc(i):
        toks = [rng.choice(vocab) for _ in range(rng.randint(0, 25))]
        if i % 3 == 0:
            at = rng.randint(0, len(toks))
            toks[at:at] = boiler
        return " ".join(toks)

    old_rows = [(i, doc(i)) for i in range(40)]
    mid_rows = [(100 + i, doc(i)) for i in range(20)]
    new_rows = [(200 + i, doc(i)) for i in range(30)]
    old = spark.createDataFrame(old_rows, ["doc_id", "text"])
    mid = spark.createDataFrame(mid_rows, ["doc_id", "text"])
    new = spark.createDataFrame(new_rows, ["doc_id", "text"])
    full = spark.createDataFrame(
        old_rows + mid_rows + new_rows, ["doc_id", "text"]
    )
    want = {
        tuple(r)
        for r in duplicate_spans(full, "doc_id", k=4).collect()
        if r["doc_id"] >= 200
    }

    idx = str(tmp_path / "span_idx")
    build_span_index(old, idx, "doc_id", k=4, digest="xxh64")
    append_span_index(mid, idx)
    got_delta = {
        tuple(r)
        for r in duplicate_spans_against_index(new, idx).collect()
    }
    assert got_delta == want
    folded = compact_span_index(spark, idx)
    assert folded["generations_folded"] == 1
    got_compacted = {
        tuple(r)
        for r in duplicate_spans_against_index(new, idx).collect()
    }
    assert got_compacted == want
    # compacting an already-compacted index is a no-op
    assert compact_span_index(spark, idx)["generations_folded"] == 0


def test_span_index_drop_existing_wins(spark, tmp_path):
    """drop_duplicate_spans_against_index removes EVERY covered
    position of the new batch (the published corpus keeps the
    survivor), reassembles with the index's separator, and passes
    unaffected docs through unchanged."""
    from pedsnetdcc_spark.datapipe.dedup import (
        build_span_index,
        drop_duplicate_spans_against_index,
    )

    old = spark.createDataFrame(
        [(1, "a b c d e f")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [
            (2, "X a b c d Y"),   # 4-token repeat of the indexed doc
            (3, "p q r s t u"),   # untouched
        ],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "span_idx2")
    build_span_index(old, idx, "doc_id", k=4)
    out = {
        r["doc_id"]: (r["text_deduped"], r["n_tokens"], r["n_tokens_dropped"])
        for r in drop_duplicate_spans_against_index(new, idx).collect()
    }
    assert out[2] == ("X Y", 2, 4)
    assert out[3] == ("p q r s t u", 6, 0)


def test_span_index_crash_states_are_safe(spark, tmp_path):
    """Lifecycle crash windows must never yield quiet wrongness:
    (a) a stranded append temp (crashed first append) is invisible —
    queries still run and see only committed generations; (b) a
    compaction that died between its renames (no keys/ dir) is rolled
    FORWARD by the next reader with deltas removed exactly once; (c) a
    rebuild over an index that still has deltas replaces the index
    wholesale (stale generations cannot inflate counts)."""
    import os
    import shutil

    from pedsnetdcc_spark.datapipe.dedup import (
        append_span_index,
        build_span_index,
        duplicate_spans_against_index,
    )

    old = spark.createDataFrame([(1, "a b c d e f")], ["doc_id", "text"])
    gen = spark.createDataFrame([(2, "g h i j k l")], ["doc_id", "text"])
    new = spark.createDataFrame([(3, "a b c d X Y")], ["doc_id", "text"])
    idx = str(tmp_path / "idx")
    build_span_index(old, idx, "doc_id", k=4)

    # (a) stranded append temp: simulate a crash mid-first-append
    os.makedirs(os.path.join(idx, "keys_delta", ".tmp-gen-0"))
    spans = duplicate_spans_against_index(new, idx).collect()
    assert {(r["doc_id"], r["span_start"], r["span_end"]) for r in spans} == {
        (3, 0, 3)
    }

    # (b) crashed compaction: full tmp written, base renamed aside,
    # delta renamed aside, process died before tmp -> keys
    append_span_index(gen, idx)
    import pedsnetdcc_spark.datapipe.dedup as D

    merged = D._span_index_counts(spark, idx)
    from pedsnetdcc_spark.util import repartition_by_key

    repartition_by_key(merged, "__key").write.mode("overwrite").parquet(
        os.path.join(idx, ".keys.compact.tmp")
    )
    os.rename(os.path.join(idx, "keys"), os.path.join(idx, ".keys.old"))
    os.rename(
        os.path.join(idx, "keys_delta"), os.path.join(idx, ".keys_delta.old")
    )
    # next reader rolls the swap forward; gen's shingles are counted ONCE
    new2 = spark.createDataFrame([(4, "g h i j Z Q")], ["doc_id", "text"])
    spans2 = duplicate_spans_against_index(new2, idx).collect()
    assert {(r["doc_id"], r["span_start"], r["span_end"]) for r in spans2} == {
        (4, 0, 3)
    }
    assert os.path.isdir(os.path.join(idx, "keys"))
    assert not os.path.isdir(os.path.join(idx, "keys_delta"))
    assert not os.path.isdir(os.path.join(idx, ".keys.old"))

    # (c) rebuild-in-place with leftover deltas: stale generations die
    append_span_index(gen, idx)
    build_span_index(old, idx, "doc_id", k=4)
    assert not os.path.isdir(os.path.join(idx, "keys_delta"))
    # gen's shingles are no longer indexed -> no cross-corpus span
    spans3 = duplicate_spans_against_index(new2, idx).collect()
    assert spans3 == []
    shutil.rmtree(idx, ignore_errors=True)


def test_ivf_compaction_crash_states_roll_forward(spark, emb, tmp_path):
    """A compaction that died between its renames (complete folded temp
    written, cells/ moved aside) must be rolled FORWARD by the next
    open or compact — with the delta counted exactly once — and a
    post-swap crash (delta already renamed aside) must not double-count
    epochs (round-11 hardening, matched with the span index)."""
    import os

    from pedsnetdcc_spark.datapipe.similarity import (
        build_ivf_index,
        compact_ivf_index,
        open_ivf_index,
        stream_ivf_index_append,
    )

    root = str(tmp_path / "ivf_crash")
    base = emb.where(F.col("vec_id") % 5 != 0)
    newv = emb.select("vec_id", "embedding").where(F.col("vec_id") % 5 == 0)
    build_ivf_index(base, root, n_centroids=8, assign="flat", seed=3)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    newv.coalesce(1).write.parquet(src)
    q = (
        stream_ivf_index_append(
            spark.readStream.schema("vec_id long, embedding array<float>")
            .parquet(src),
            root,
            epoch_offset=0,
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    total = emb.count()

    # simulate the crash: fold fully to tmp, move base + delta aside,
    # die before tmp -> cells
    from pedsnetdcc_spark.util import repartition_by_key

    merged = spark.read.parquet(f"{root}/cells").unionByName(
        spark.read.parquet(f"{root}/cells_delta").drop("epoch")
    )
    repartition_by_key(merged, "centroid_id").write.mode(
        "overwrite"
    ).partitionBy("centroid_id").parquet(f"{root}/.cells.compact.tmp")
    os.rename(f"{root}/cells", f"{root}/.cells.old")
    os.rename(f"{root}/cells_delta", f"{root}/.cells_delta.old")

    # next open rolls forward; every vector exactly once
    handle = open_ivf_index(spark, root)
    assert handle.cells.count() == total
    assert handle.cells.select("vec_id").distinct().count() == total
    assert os.path.isdir(f"{root}/cells")
    assert not os.path.isdir(f"{root}/cells_delta")
    # and a compact on the recovered index is a clean no-op
    assert compact_ivf_index(spark, root)["epochs_folded"] == 0


def test_span_index_append_survives_crashed_compaction(spark, tmp_path):
    """An append scheduled AFTER a compaction crashed in its no-keys/
    window must not land a generation that the next reader's recovery
    deletes (round-11 advice): every lifecycle entry point rolls the
    crash forward first, so the post-crash generation's counts survive
    and are counted exactly once."""
    import os

    import pedsnetdcc_spark.datapipe.dedup as D
    from pedsnetdcc_spark.datapipe.dedup import (
        append_span_index,
        build_span_index,
        compact_span_index,
        duplicate_spans_against_index,
    )
    from pedsnetdcc_spark.util import repartition_by_key

    old = spark.createDataFrame([(1, "a b c d e f")], ["doc_id", "text"])
    gen1 = spark.createDataFrame([(2, "g h i j k l")], ["doc_id", "text"])
    gen2 = spark.createDataFrame([(3, "m n o p q r")], ["doc_id", "text"])
    idx = str(tmp_path / "idx")
    build_span_index(old, idx, "doc_id", k=4)
    append_span_index(gen1, idx)

    # crash a compaction in the no-keys/ window: folded temp complete,
    # base and delta renamed aside, process died before tmp -> keys
    merged = D._span_index_counts(spark, idx)
    repartition_by_key(merged, "__key").write.mode("overwrite").parquet(
        os.path.join(idx, ".keys.compact.tmp")
    )
    os.rename(os.path.join(idx, "keys"), os.path.join(idx, ".keys.old"))
    os.rename(
        os.path.join(idx, "keys_delta"), os.path.join(idx, ".keys_delta.old")
    )

    # the scheduled append arrives BEFORE any reader: it must recover
    # first, then commit gen2 as a delta the recovery will NOT delete
    rep = append_span_index(gen2, idx)
    assert os.path.isdir(os.path.join(idx, "keys"))
    assert os.path.isdir(
        os.path.join(idx, "keys_delta", f"gen={rep['generation']}")
    )

    # gen2's shingles are queryable (would have been silently lost
    # pre-fix) and gen1's are counted exactly once via the rolled-
    # forward base
    new = spark.createDataFrame(
        [(4, "m n o p X Y"), (5, "g h i j Z Q")], ["doc_id", "text"]
    )
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicate_spans_against_index(new, idx).collect()
    }
    assert spans == {(4, 0, 3), (5, 0, 3)}

    # advice item 2: compacting an index whose PREVIOUS compaction
    # crashed recovers first — clean fold, no mid-swap FileNotFoundError
    merged = D._span_index_counts(spark, idx)
    repartition_by_key(merged, "__key").write.mode("overwrite").parquet(
        os.path.join(idx, ".keys.compact.tmp")
    )
    os.rename(os.path.join(idx, "keys"), os.path.join(idx, ".keys.old"))
    rep2 = compact_span_index(spark, idx)
    assert rep2["generations_folded"] == 0  # recovery absorbed the delta
    assert os.path.isdir(os.path.join(idx, "keys"))
    assert not os.path.isdir(os.path.join(idx, "keys_delta"))
    spans2 = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicate_spans_against_index(new, idx).collect()
    }
    assert spans2 == spans


def test_span_index_readonly_recover_false_raises(spark, tmp_path):
    """recover=False (read-only mounts) must raise on a crashed index
    instead of performing recovery writes inside a read path."""
    import os

    import pedsnetdcc_spark.datapipe.dedup as D
    from pedsnetdcc_spark.datapipe.dedup import (
        build_span_index,
        duplicate_spans_against_index,
    )

    old = spark.createDataFrame([(1, "a b c d e f")], ["doc_id", "text"])
    idx = str(tmp_path / "idx_ro")
    build_span_index(old, idx, "doc_id", k=4)
    new = spark.createDataFrame([(2, "a b c d X Y")], ["doc_id", "text"])
    # healthy index: recover=False is a no-op gate
    assert duplicate_spans_against_index(new, idx, recover=False).count() == 1

    # crash it: keys/ gone, complete compact temp present
    os.rename(
        os.path.join(idx, "keys"), os.path.join(idx, ".keys.compact.tmp")
    )
    with pytest.raises(RuntimeError, match="crashed compaction"):
        duplicate_spans_against_index(new, idx, recover=False).count()
    # nothing was mutated; a recover=True read then rolls forward
    assert os.path.isdir(os.path.join(idx, ".keys.compact.tmp"))
    assert duplicate_spans_against_index(new, idx).count() == 1
    assert os.path.isdir(os.path.join(idx, "keys"))


def test_span_index_build_refuses_mispath(spark, tmp_path):
    """build_span_index replaces wholesale — so a non-empty target that
    is NOT a span index (e.g. the corpus directory itself, transposed
    arguments) must be refused, not rmtree'd (round-11 verdict task).
    force=True overrides; a real index (or crashed-build debris)
    replaces without the flag."""
    import os

    from pedsnetdcc_spark.datapipe.dedup import (
        build_span_index,
        duplicate_spans_against_index,
    )

    docs = spark.createDataFrame([(1, "a b c d e f")], ["doc_id", "text"])
    corpus_dir = str(tmp_path / "corpus")
    docs.coalesce(1).write.parquet(corpus_dir)
    with pytest.raises(ValueError, match="does not look like a span index"):
        build_span_index(docs, corpus_dir, "doc_id", k=4)
    # the mistaken target is untouched
    assert spark.read.parquet(corpus_dir).count() == 1

    # a REAL index replaces in place without force (rebuild path)
    idx = str(tmp_path / "idx_guard")
    build_span_index(docs, idx, "doc_id", k=4)
    build_span_index(docs, idx, "doc_id", k=4)
    assert os.path.exists(os.path.join(idx, "meta.json"))

    # force=True overrides the guard for a deliberate overwrite
    build_span_index(docs, corpus_dir, "doc_id", k=4, force=True)
    new = spark.createDataFrame([(2, "a b c d X Y")], ["doc_id", "text"])
    assert duplicate_spans_against_index(new, corpus_dir).count() == 1


def test_span_index_racing_appends_fail_loudly(spark, tmp_path, monkeypatch):
    """Single-writer contract: two appends that race the same generation
    number must fail LOUDLY (the loser's os.rename onto the winner's
    committed non-empty gen=N raises), never silently merge or clobber.
    Simulated by pinning the loser's generation listing to the stale
    pre-race state."""
    import pedsnetdcc_spark.datapipe.dedup as D
    from pedsnetdcc_spark.datapipe.dedup import (
        append_span_index,
        build_span_index,
    )

    old = spark.createDataFrame([(1, "a b c d e f")], ["doc_id", "text"])
    gen = spark.createDataFrame([(2, "g h i j k l")], ["doc_id", "text"])
    idx = str(tmp_path / "idx_race")
    build_span_index(old, idx, "doc_id", k=4)

    # writer A listed generations (none) ... then writer B commits gen=0
    append_span_index(gen, idx)
    # ... writer A proceeds with its stale listing and tries gen=0 too
    monkeypatch.setattr(D, "_span_index_gens", lambda _path: [])
    with pytest.raises(OSError):
        append_span_index(gen, idx)


def test_ivf_append_survives_crashed_compaction(spark, emb, tmp_path):
    """The IVF twin of the span-index advice fix: an epoch append that
    arrives after a compaction crashed in its no-cells/ window must
    recover first, so its delta is never deleted by a later open."""
    import os

    from pedsnetdcc_spark.datapipe.similarity import (
        _append_ivf_epoch,
        build_ivf_index,
        open_ivf_index,
    )
    from pedsnetdcc_spark.util import repartition_by_key

    root = str(tmp_path / "ivf_adv")
    base = emb.where(F.col("vec_id") % 5 != 0)
    newv = emb.select("vec_id", "embedding").where(F.col("vec_id") % 5 == 0)
    build_ivf_index(base, root, n_centroids=8, assign="flat", seed=3)

    # crash a compaction in the no-cells/ window (no deltas yet: the
    # folded temp is just the base)
    os.rename(f"{root}/cells", f"{root}/.cells.compact.tmp")

    # a scheduled epoch append arrives before any open: must recover,
    # then land as a delta the next open keeps
    _append_ivf_epoch(newv, 0, root)
    assert os.path.isdir(f"{root}/cells")
    assert os.path.isdir(f"{root}/cells_delta/epoch=000000")
    handle = open_ivf_index(spark, root)
    assert handle.cells.count() == emb.count()
    assert handle.cells.select("vec_id").distinct().count() == emb.count()


def test_ivf_readonly_recover_false_raises(spark, emb, tmp_path):
    """open_ivf_index(recover=False) must raise on a crashed index
    instead of performing recovery writes inside the open (read-only
    mounts) — the IVF twin of the span-index recover gate."""
    import os

    from pedsnetdcc_spark.datapipe.similarity import (
        build_ivf_index,
        open_ivf_index,
    )

    root = str(tmp_path / "ivf_ro")
    build_ivf_index(emb, root, n_centroids=8, assign="flat", seed=3)
    # healthy index: recover=False is a no-op gate
    assert open_ivf_index(spark, root, recover=False).cells.count() == emb.count()

    os.rename(f"{root}/cells", f"{root}/.cells.compact.tmp")
    with pytest.raises(RuntimeError, match="crashed compaction"):
        open_ivf_index(spark, root, recover=False)
    # nothing was mutated; a recover=True open then rolls forward
    assert os.path.isdir(f"{root}/.cells.compact.tmp")
    assert open_ivf_index(spark, root).cells.count() == emb.count()
    assert os.path.isdir(f"{root}/cells")


def test_ivf_open_ignores_delta_with_only_orphan_temp(spark, emb, tmp_path):
    """A crash inside an epoch commit can leave ``cells_delta`` holding
    only a ``.tmp-epoch-*`` directory.  Opening the index must not
    union that delta in (schema inference fails on a directory with no
    committed epoch) and must answer from the base cells."""
    import os

    from pedsnetdcc_spark.datapipe.similarity import (
        build_ivf_index,
        next_epoch_offset,
        open_ivf_index,
    )

    root = str(tmp_path / "ivf_orphan")
    build_ivf_index(emb, root, n_centroids=8, assign="flat", seed=3)
    orphan = f"{root}/cells_delta/.tmp-epoch-000000"
    os.makedirs(orphan)
    open(f"{orphan}/_SUCCESS", "w").close()
    handle = open_ivf_index(spark, root)
    assert handle.cells.count() == emb.count()
    assert next_epoch_offset(root) == 0


@pytest.mark.parametrize("crash_point", ["after_tmp", "after_keys_aside",
                                         "after_both_aside"])
@pytest.mark.parametrize("next_op", ["read", "append", "compact"])
def test_span_index_crash_matrix(spark, tmp_path, crash_point, next_op):
    """Exhaustive compaction crash matrix: for EVERY reachable crash
    point in compact_span_index's rename sequence x EVERY possible next
    lifecycle operation, the index's counts must equal the ground truth
    (a fresh build over the same committed documents) — the quantified
    form of the crash-safety contract the round-11/12 fixes enforce.

    Crash points (compact = write tmp -> keys aside -> delta aside ->
    tmp lands -> sweep): after_tmp (all originals in place; stale tmp
    must be ignored/swept, NOT rolled forward), after_keys_aside (the
    one no-keys/ window; roll forward, delta already absorbed),
    after_both_aside (same window, delta renamed aside)."""
    import os

    import pedsnetdcc_spark.datapipe.dedup as D
    from pedsnetdcc_spark.datapipe.dedup import (
        append_span_index,
        build_span_index,
        compact_span_index,
    )
    from pedsnetdcc_spark.util import repartition_by_key

    old = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d x y")], ["doc_id", "text"]
    )
    gen1 = spark.createDataFrame([(3, "g h i j k l")], ["doc_id", "text"])
    gen2 = spark.createDataFrame([(4, "m n o p q r")], ["doc_id", "text"])
    idx = str(tmp_path / "idx")
    build_span_index(old, idx, "doc_id", k=4)
    append_span_index(gen1, idx)

    # reproduce compact's exact sequence up to the crash point
    merged = D._span_index_counts(spark, idx)
    repartition_by_key(merged, "__key").write.mode("overwrite").parquet(
        os.path.join(idx, ".keys.compact.tmp")
    )
    if crash_point in ("after_keys_aside", "after_both_aside"):
        os.rename(os.path.join(idx, "keys"), os.path.join(idx, ".keys.old"))
    if crash_point == "after_both_aside":
        os.rename(
            os.path.join(idx, "keys_delta"),
            os.path.join(idx, ".keys_delta.old"),
        )

    committed = [old, gen1]
    if next_op == "append":
        append_span_index(gen2, idx)
        committed.append(gen2)
    elif next_op == "compact":
        compact_span_index(spark, idx)
    # next_op == "read": _span_index_counts below IS the read

    # ground truth: a fresh index over exactly the committed documents
    truth_idx = str(tmp_path / "truth")
    union = committed[0]
    for df in committed[1:]:
        union = union.unionByName(df)
    build_span_index(union, truth_idx, "doc_id", k=4)
    got = {
        (r["__key"], r["cnt"])
        for r in D._span_index_counts(spark, idx).collect()
    }
    want = {
        (r["__key"], r["cnt"])
        for r in D._span_index_counts(spark, truth_idx).collect()
    }
    assert got == want, (crash_point, next_op)


@pytest.mark.parametrize("crash_point", ["after_tmp", "after_cells_aside",
                                         "after_both_aside"])
@pytest.mark.parametrize("next_op", ["open", "append", "compact"])
def test_ivf_crash_matrix(spark, emb, tmp_path, crash_point, next_op):
    """The IVF twin of the span-index crash matrix: every compaction
    crash point x every next lifecycle operation must leave every
    committed vector in the index exactly once (frozen-codebook
    assignment makes multiplicity the whole contract)."""
    import os

    from pedsnetdcc_spark.datapipe.similarity import (
        _append_ivf_epoch,
        build_ivf_index,
        compact_ivf_index,
        open_ivf_index,
    )
    from pedsnetdcc_spark.util import repartition_by_key

    base = emb.where(F.col("vec_id") % 5 > 1)
    ep0 = emb.select("vec_id", "embedding").where(F.col("vec_id") % 5 == 0)
    ep1 = emb.select("vec_id", "embedding").where(F.col("vec_id") % 5 == 1)
    root = str(tmp_path / "ivf")
    build_ivf_index(base, root, n_centroids=8, assign="flat", seed=3)
    _append_ivf_epoch(ep0, 0, root)
    committed = base.count() + ep0.count()

    # compact's exact sequence up to the crash point
    merged = spark.read.parquet(f"{root}/cells").unionByName(
        spark.read.parquet(f"{root}/cells_delta").drop("epoch")
    )
    repartition_by_key(merged, "centroid_id").write.mode(
        "overwrite"
    ).partitionBy("centroid_id").parquet(f"{root}/.cells.compact.tmp")
    if crash_point in ("after_cells_aside", "after_both_aside"):
        os.rename(f"{root}/cells", f"{root}/.cells.old")
    if crash_point == "after_both_aside":
        os.rename(f"{root}/cells_delta", f"{root}/.cells_delta.old")

    if next_op == "append":
        _append_ivf_epoch(ep1, 1, root)
        committed += ep1.count()
    elif next_op == "compact":
        compact_ivf_index(spark, root)

    cells = open_ivf_index(spark, root).cells
    assert cells.count() == committed, (crash_point, next_op)
    assert cells.select("vec_id").distinct().count() == committed


def test_ivf_epoch_replay_after_compact_is_noop(spark, emb, tmp_path):
    """Exactly-once across the compaction boundary (round-12 review
    finding): a stream can crash after its epoch's delta landed but
    before the checkpoint committed; if a compaction folds the epoch
    before the stream restarts, the replay must be a NO-OP — without
    the folded_through_epoch watermark the replayed delta would sit
    next to its folded copy and every vector would count twice."""
    import json
    import os

    from pedsnetdcc_spark.datapipe.similarity import (
        _append_ivf_epoch,
        build_ivf_index,
        compact_ivf_index,
        open_ivf_index,
    )

    base = emb.where(F.col("vec_id") % 5 != 0)
    ep0 = emb.select("vec_id", "embedding").where(F.col("vec_id") % 5 == 0)
    root = str(tmp_path / "ivf_replay")
    build_ivf_index(base, root, n_centroids=8, assign="flat", seed=3)
    total = emb.count()

    _append_ivf_epoch(ep0, 0, root)          # epoch lands...
    assert compact_ivf_index(spark, root)["epochs_folded"] == 1
    with open(os.path.join(root, "meta.json")) as f:
        assert json.load(f)["folded_through_epoch"] == 0

    _append_ivf_epoch(ep0, 0, root)          # ...checkpoint replays it
    assert not os.path.isdir(f"{root}/cells_delta")  # no-op: no new delta
    cells = open_ivf_index(spark, root).cells
    assert cells.count() == total
    assert cells.select("vec_id").distinct().count() == total

    # an EMPTY batch above the watermark commits nothing (round-13
    # hardening: an all-empty delta dir is the one state parquet schema
    # inference can fail on, and there is nothing to replay-protect)
    _append_ivf_epoch(
        emb.select("vec_id", "embedding").where(F.col("vec_id") < 0), 1, root
    )
    assert not os.path.isdir(f"{root}/cells_delta/epoch=000001")
    # the index stays openable after the skipped epoch
    assert open_ivf_index(spark, root).cells.count() == total

    # a genuinely NEW non-empty epoch above the watermark still appends
    _append_ivf_epoch(ep0.limit(3), 2, root)
    assert os.path.isdir(f"{root}/cells_delta/epoch=000002")
    assert open_ivf_index(spark, root).cells.count() == total + 3


def test_ivf_sequential_streams_with_offset(spark, emb, tmp_path):
    """Two sequential append streams (fresh checkpoints, legal under
    single-writer-at-a-time) around a compaction: the second stream's
    Spark epoch ids restart at 0, which post-watermark would silently
    drop them (and pre-watermark would clobber) — next_epoch_offset
    gives the second lineage fresh identities and every vector lands
    exactly once."""
    from pedsnetdcc_spark.datapipe.similarity import (
        build_ivf_index,
        compact_ivf_index,
        next_epoch_offset,
        open_ivf_index,
        stream_ivf_index_append,
    )

    base = emb.where(F.col("vec_id") % 5 > 1)
    first = emb.select("vec_id", "embedding").where(F.col("vec_id") % 5 == 0)
    second = emb.select("vec_id", "embedding").where(F.col("vec_id") % 5 == 1)
    root = str(tmp_path / "ivf_seq")
    build_ivf_index(base, root, n_centroids=8, assign="flat", seed=3)

    def run_stream(df, src, ckpt, offset):
        df.coalesce(1).write.parquet(src)
        q = (
            stream_ivf_index_append(
                spark.readStream.schema("vec_id long, embedding array<float>")
                .parquet(src),
                root,
                epoch_offset=offset,
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    run_stream(first, str(tmp_path / "s1"), str(tmp_path / "c1"),
               next_epoch_offset(root))
    assert compact_ivf_index(spark, root)["epochs_folded"] == 1
    # the second lineage's epoch 0 would collide with the folded epoch 0
    off = next_epoch_offset(root)
    assert off >= 1
    run_stream(second, str(tmp_path / "s2"), str(tmp_path / "c2"), off)

    cells = open_ivf_index(spark, root).cells
    assert cells.count() == emb.count()
    assert cells.select("vec_id").distinct().count() == emb.count()


def test_ivf_rebuild_replaces_wholesale(spark, emb, tmp_path):
    """Rebuilding an IVF index in place must remove stale streaming
    deltas and the old watermark (round-12 fix, matching the span
    index): pre-fix, the next open unioned old-codebook epoch deltas
    with the new base — duplicate/phantom vectors, quiet wrongness.
    And a non-empty non-index target is refused without force."""
    import json
    import os

    from pedsnetdcc_spark.datapipe.similarity import (
        _append_ivf_epoch,
        build_ivf_index,
        compact_ivf_index,
        open_ivf_index,
    )

    base = emb.where(F.col("vec_id") % 5 != 0)
    extra = emb.select("vec_id", "embedding").where(F.col("vec_id") % 5 == 0)
    root = str(tmp_path / "ivf_rebuild")
    build_ivf_index(base, root, n_centroids=8, assign="flat", seed=3)
    _append_ivf_epoch(extra, 0, root)
    compact_ivf_index(spark, root)
    _append_ivf_epoch(
        emb.select("vec_id", "embedding").where(F.col("vec_id") % 7 == 0),
        1, root,
    )  # an UNFOLDED delta left behind

    # rebuild in place on just the base: deltas and watermark must die
    build_ivf_index(base, root, n_centroids=8, assign="flat", seed=3)
    assert not os.path.isdir(f"{root}/cells_delta")
    with open(os.path.join(root, "meta.json")) as f:
        assert "folded_through_epoch" not in json.load(f)
    cells = open_ivf_index(spark, root).cells
    assert cells.count() == base.count()
    # and epoch 0 is appendable again on the fresh lineage
    _append_ivf_epoch(extra, 0, root)
    assert open_ivf_index(spark, root).cells.count() == emb.count()

    # destructive-path guard: a corpus directory is refused...
    corpus_dir = str(tmp_path / "not_an_index")
    emb.limit(5).coalesce(1).write.parquet(corpus_dir)
    with pytest.raises(ValueError, match="does not look like an IVF index"):
        build_ivf_index(base, corpus_dir, n_centroids=8, assign="flat")
    assert spark.read.parquet(corpus_dir).count() == 5
    # ...unless forced
    build_ivf_index(
        base, corpus_dir, n_centroids=8, assign="flat", seed=3, force=True
    )
    assert open_ivf_index(spark, corpus_dir).cells.count() == base.count()


# ---------------------------------------------------------------------------
# round-13: single-writer lock (enforced), retry-generation appends,
# checkpoint-persisted lineage offsets
# ---------------------------------------------------------------------------


def _small_docs(spark):
    return spark.createDataFrame(
        [(i, f"tok{i} a b c d e f g h") for i in range(6)],
        ["doc_id", "text"],
    )


def test_index_writer_lock_blocks_span_writers(spark, tmp_path):
    """A held .writer.lock makes every span-index writer verb fail
    immediately with the named error — the single-writer contract is
    now a mechanism, not a convention."""
    from pedsnetdcc_spark.datapipe.dedup import (
        append_span_index,
        build_span_index,
        compact_span_index,
    )
    from pedsnetdcc_spark.util import IndexWriterLocked, index_writer_lock

    docs = _small_docs(spark)
    idx = str(tmp_path / "locked_span")
    build_span_index(docs, idx, "doc_id", k=4)
    with index_writer_lock(idx, "held-by-test"):
        with pytest.raises(IndexWriterLocked, match="another writer"):
            append_span_index(docs, idx)
        with pytest.raises(IndexWriterLocked, match="another writer"):
            compact_span_index(spark, idx)
        with pytest.raises(IndexWriterLocked, match="another writer"):
            build_span_index(docs, idx, "doc_id", k=4)
    # released in finally -> writers work again, and the lock error
    # left no partial state behind
    append_span_index(docs, idx)
    assert compact_span_index(spark, idx)["generations_folded"] == 1


def test_index_writer_lock_blocks_ivf_writers(spark, emb, tmp_path):
    """IVF twin: build / epoch-append / compact all refuse while the
    lock is held, and work after release."""
    from pedsnetdcc_spark.datapipe.similarity import (
        _append_ivf_epoch,
        build_ivf_index,
        compact_ivf_index,
        open_ivf_index,
    )
    from pedsnetdcc_spark.util import IndexWriterLocked, index_writer_lock

    root = str(tmp_path / "locked_ivf")
    base = emb.where(F.col("vec_id") % 5 != 0)
    newv = emb.select("vec_id", "embedding").where(F.col("vec_id") % 5 == 0)
    build_ivf_index(base, root, n_centroids=8, assign="flat", seed=3)
    with index_writer_lock(root, "held-by-test"):
        with pytest.raises(IndexWriterLocked, match="another writer"):
            _append_ivf_epoch(newv, 0, root)
        with pytest.raises(IndexWriterLocked, match="another writer"):
            compact_ivf_index(spark, root)
        with pytest.raises(IndexWriterLocked, match="another writer"):
            build_ivf_index(base, root, n_centroids=8, assign="flat", seed=3)
    _append_ivf_epoch(newv, 0, root)
    assert compact_ivf_index(spark, root)["epochs_folded"] == 1
    assert open_ivf_index(spark, root).cells.count() == emb.count()


def test_index_writer_lock_two_process(spark, tmp_path):
    """Cross-PROCESS enforcement: a separate OS process holds the lock
    (the O_EXCL create is a filesystem primitive, not a Python one);
    this process's real append fails with the named error and the
    holder's pid is readable from the message."""
    import json
    import os
    import subprocess
    import sys

    from pedsnetdcc_spark.datapipe.dedup import (
        append_span_index,
        build_span_index,
    )
    from pedsnetdcc_spark.util import IndexWriterLocked

    docs = _small_docs(spark)
    idx = str(tmp_path / "twoproc_span")
    build_span_index(docs, idx, "doc_id", k=4)

    holder = subprocess.Popen(
        [sys.executable, "-c",
         "import sys; sys.path.insert(0, %r)\n"
         "from pedsnetdcc_spark.util import index_writer_lock\n"
         "import sys as s\n"
         "with index_writer_lock(%r, 'other-process'):\n"
         "    print('HELD', flush=True)\n"
         "    s.stdin.readline()\n" % (os.getcwd(), idx)],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        assert holder.stdout.readline().strip() == "HELD"
        with pytest.raises(IndexWriterLocked) as ei:
            append_span_index(docs, idx)
        # the error names the live holder
        import re

        lock_payload = json.loads(
            re.search(r"\{.*?\}", str(ei.value)).group(0)
        )
        assert lock_payload["pid"] == holder.pid
        assert lock_payload["op"] == "other-process"
    finally:
        holder.stdin.write("\n")
        holder.stdin.close()
        holder.wait(30)
    # holder exited -> lock released -> append succeeds
    assert append_span_index(docs, idx)["generation"] == 0


def test_index_writer_lock_interleaved_appends(spark, tmp_path, monkeypatch):
    """ACTUAL interleaving (verdict r12 task 8): writer A is paused
    INSIDE its locked append (mid-write, before the rename) while
    writer B attempts a concurrent append on another thread — B must
    fail immediately with the named error, and A then completes
    normally.  This exercises the exact window the pre-lock rename race
    left open (the loser rmtree-ing the winner's in-progress temp)."""
    import threading

    import pedsnetdcc_spark.util as U
    from pedsnetdcc_spark.datapipe.dedup import (
        append_span_index,
        build_span_index,
    )
    from pedsnetdcc_spark.util import IndexWriterLocked

    docs = _small_docs(spark)
    idx = str(tmp_path / "interleave_span")
    build_span_index(docs, idx, "doc_id", k=4)

    inside_write = threading.Event()
    release_a = threading.Event()
    real_rbk = U.repartition_by_key
    a_err: list[BaseException] = []

    def paused_rbk(df, *cols, **kw):
        # only writer A's delta write pauses (builds already happened)
        inside_write.set()
        assert release_a.wait(120), "test deadlock: A never released"
        return real_rbk(df, *cols, **kw)

    monkeypatch.setattr(U, "repartition_by_key", paused_rbk)

    def writer_a():
        try:
            append_span_index(docs, idx)
        except BaseException as e:  # pragma: no cover - failure path
            a_err.append(e)

    ta = threading.Thread(target=writer_a)
    ta.start()
    try:
        assert inside_write.wait(120), "A never reached its write"
        # B races while A is mid-write INSIDE the lock
        monkeypatch.setattr(U, "repartition_by_key", real_rbk)
        with pytest.raises(IndexWriterLocked, match="another writer"):
            append_span_index(docs, idx)
    finally:
        release_a.set()
        ta.join(120)
    assert not a_err, f"writer A failed: {a_err}"
    # A's generation committed exactly once; B left nothing behind
    from pedsnetdcc_spark.datapipe.dedup import _span_index_gens

    assert _span_index_gens(idx) == ["gen=0"]


def test_append_span_index_retry_generation(spark, tmp_path):
    """At-least-once retry seam (ADVICE r12): an explicit generation
    tag makes a retried append REPLACE its generation instead of
    folding the same documents twice; auto-numbering keeps the old
    (non-idempotent, documented) behavior."""
    from pedsnetdcc_spark.datapipe.dedup import (
        _span_index_counts,
        append_span_index,
        build_span_index,
        duplicate_spans_against_index,
    )

    old = spark.createDataFrame([(1, "a b c d e f g h")], ["doc_id", "text"])
    gen = spark.createDataFrame([(2, "p q r s t u v w")], ["doc_id", "text"])
    idx = str(tmp_path / "retry_span")
    build_span_index(old, idx, "doc_id", k=4)

    assert append_span_index(gen, idx, generation=0) == {"generation": 0}
    # the caller's job died before recording success; blind retry with
    # the same tag replaces, never duplicates
    assert append_span_index(gen, idx, generation=0) == {"generation": 0}
    counts = {
        r["__key"]: r["cnt"]
        for r in _span_index_counts(spark, idx).collect()
    }
    assert counts and all(c == 1 for c in counts.values()), counts

    # contrast: auto-numbered retry DOES double-count (the documented
    # non-idempotence the tag exists to avoid)
    append_span_index(gen, idx)  # lands as gen=1, same docs again
    dup = duplicate_spans_against_index(
        spark.createDataFrame([(9, "p q r s")], ["doc_id", "text"]), idx
    )
    assert dup.count() == 1  # p q r s now has index count 2 -> duplicated


def test_stream_ivf_append_offset_is_required_keyword(spark, emb, tmp_path):
    """The one parameter whose omission is silent data loss no longer
    has a default: calling without epoch_offset raises TypeError at
    wiring time (VERDICT r12 task 2)."""
    from pedsnetdcc_spark.datapipe.similarity import (
        build_ivf_index,
        stream_ivf_index_append,
    )

    root = str(tmp_path / "kwonly_ivf")
    build_ivf_index(emb, root, n_centroids=8, assign="flat", seed=3)
    src = str(tmp_path / "kwonly_src")
    emb.select("vec_id", "embedding").limit(4).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).parquet(src)
    with pytest.raises(TypeError):
        stream_ivf_index_append(stream, root)
    with pytest.raises(TypeError):
        stream_ivf_index_append(stream, root, 0)  # positional refused too


def test_stream_ivf_append_lineage_offset_validation(spark, emb, tmp_path):
    """checkpoint= persists the lineage's offset and validates it: a
    colliding fresh lineage raises, a restart with a drifted offset
    raises, a restart against a different index raises, and the correct
    reuse runs (ADVICE r12: the misuse is now unrepresentable when the
    checkpoint is routed through the sink)."""
    import os

    from pedsnetdcc_spark.datapipe.similarity import (
        build_ivf_index,
        compact_ivf_index,
        next_epoch_offset,
        open_ivf_index,
        stream_ivf_index_append,
    )

    base = emb.where(F.col("vec_id") % 5 > 1)
    first = emb.select("vec_id", "embedding").where(F.col("vec_id") % 5 == 0)
    second = emb.select("vec_id", "embedding").where(F.col("vec_id") % 5 == 1)
    root = str(tmp_path / "lineage_ivf")
    build_ivf_index(base, root, n_centroids=8, assign="flat", seed=3)

    def run(df, src, ckpt, offset):
        if not os.path.isdir(src):
            df.coalesce(1).write.parquet(src)
        q = (
            stream_ivf_index_append(
                spark.readStream.schema("vec_id long, embedding array<float>")
                .parquet(src),
                root, epoch_offset=offset, checkpoint=ckpt,
            )
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    c1 = str(tmp_path / "c1")
    run(first, str(tmp_path / "s1"), c1, 0)
    assert os.path.exists(os.path.join(c1, "_ivf_epoch_offset.json"))
    assert compact_ivf_index(spark, root)["epochs_folded"] == 1

    # fresh lineage colliding with the committed frontier: raises at
    # wiring time instead of silently dropping epoch 0 as a replay
    stream2 = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).parquet(str(tmp_path / "s1"))
    with pytest.raises(ValueError, match="committed epoch frontier"):
        stream_ivf_index_append(
            stream2, root, epoch_offset=0, checkpoint=str(tmp_path / "c2")
        )

    # restarting lineage c1 with a drifted offset: raises
    with pytest.raises(ValueError, match="was started with"):
        stream_ivf_index_append(stream2, root, epoch_offset=7, checkpoint=c1)

    # reusing lineage c1's checkpoint against another index: raises
    other = str(tmp_path / "other_ivf")
    build_ivf_index(base, other, n_centroids=8, assign="flat", seed=3)
    with pytest.raises(ValueError, match="bound to one index"):
        stream_ivf_index_append(stream2, other, epoch_offset=0, checkpoint=c1)

    # the correct second lineage (offset from next_epoch_offset) lands
    # every vector exactly once
    off = next_epoch_offset(root)
    assert off >= 1
    run(second, str(tmp_path / "s2"), str(tmp_path / "c2b"), off)
    cells = open_ivf_index(spark, root).cells
    assert cells.count() == base.count() + first.count() + second.count()
    assert cells.select("vec_id").distinct().count() == cells.count()


def test_maybe_compact_span_index_policy(spark, tmp_path):
    """Auto-compact threshold (VERDICT r12 task 5): appends below the
    threshold leave the deltas; the append that crosses it triggers a
    fold, and the index's read results are identical before and after."""
    from pedsnetdcc_spark.datapipe.dedup import (
        _span_index_gens,
        build_span_index,
        append_span_index,
        duplicate_spans_against_index,
        maybe_compact_span_index,
    )

    docs = _small_docs(spark)
    idx = str(tmp_path / "auto_span")
    build_span_index(docs, idx, "doc_id", k=4)
    probe = spark.createDataFrame([(99, "a b c d e")], ["doc_id", "text"])

    for _ in range(2):
        append_span_index(docs, idx)
        rep = maybe_compact_span_index(spark, idx, max_generations=2)
        assert rep["triggered"] is False
    assert len(_span_index_gens(idx)) == 2
    before = sorted(
        map(tuple, duplicate_spans_against_index(probe, idx).collect())
    )

    append_span_index(docs, idx)  # third generation crosses gens > 2
    rep = maybe_compact_span_index(spark, idx, max_generations=2)
    assert rep["triggered"] is True and rep["generations_folded"] == 3
    assert _span_index_gens(idx) == []
    after = sorted(
        map(tuple, duplicate_spans_against_index(probe, idx).collect())
    )
    assert before == after

    # byte-fraction trigger: any delta vs a tiny fraction fires
    append_span_index(docs, idx)
    rep = maybe_compact_span_index(spark, idx, max_delta_fraction=0.001)
    assert rep["triggered"] is True and "delta bytes" in rep["reason"]


def test_maybe_compact_ivf_index_policy(spark, emb, tmp_path):
    """IVF twin: epoch count / byte-fraction thresholds gate the fold;
    cell contents identical across the triggered compaction."""
    from pedsnetdcc_spark.datapipe.similarity import (
        _append_ivf_epoch,
        build_ivf_index,
        maybe_compact_ivf_index,
        open_ivf_index,
    )

    root = str(tmp_path / "auto_ivf")
    base = emb.where(F.col("vec_id") % 4 != 0)
    newv = emb.select("vec_id", "embedding").where(F.col("vec_id") % 4 == 0)
    build_ivf_index(base, root, n_centroids=8, assign="flat", seed=3)

    _append_ivf_epoch(newv.where("vec_id % 8 = 0"), 0, root)
    rep = maybe_compact_ivf_index(spark, root, max_epochs=1)
    assert rep["triggered"] is False

    _append_ivf_epoch(newv.where("vec_id % 8 = 4"), 1, root)
    # reads WITH the deltas present (pre-fold truth)
    before = sorted(
        r["vec_id"] for r in
        open_ivf_index(spark, root).cells.select("vec_id").collect()
    )
    rep = maybe_compact_ivf_index(spark, root, max_epochs=1)
    assert rep["triggered"] is True and rep["epochs_folded"] == 2
    import os

    assert not os.path.isdir(f"{root}/cells_delta")
    after = sorted(
        r["vec_id"] for r in
        open_ivf_index(spark, root).cells.select("vec_id").collect()
    )
    assert before == after


def test_index_writer_lock_interleaved_ivf(spark, emb, tmp_path, monkeypatch):
    """IVF twin of the interleaved-append race: writer A is paused
    INSIDE its locked epoch append (mid-write, before the rename) while
    a compaction attempts to run concurrently — it must fail
    immediately with the named error, and A's epoch then commits
    exactly once.  Covers the concurrent compact+append window that was
    previously safe only by convention."""
    import threading

    import pedsnetdcc_spark.util as U
    from pedsnetdcc_spark.datapipe.similarity import (
        _append_ivf_epoch,
        build_ivf_index,
        compact_ivf_index,
        open_ivf_index,
    )
    from pedsnetdcc_spark.util import IndexWriterLocked

    root = str(tmp_path / "interleave_ivf")
    base = emb.where(F.col("vec_id") % 5 != 0)
    newv = emb.select("vec_id", "embedding").where(F.col("vec_id") % 5 == 0)
    build_ivf_index(base, root, n_centroids=8, assign="flat", seed=3)

    inside_write = threading.Event()
    release_a = threading.Event()
    real_rbk = U.repartition_by_key
    a_err: list[BaseException] = []

    def paused_rbk(df, *cols, **kw):
        inside_write.set()
        assert release_a.wait(120), "test deadlock: A never released"
        return real_rbk(df, *cols, **kw)

    monkeypatch.setattr(U, "repartition_by_key", paused_rbk)

    def writer_a():
        try:
            _append_ivf_epoch(newv, 0, root)
        except BaseException as e:  # pragma: no cover - failure path
            a_err.append(e)

    ta = threading.Thread(target=writer_a)
    ta.start()
    try:
        assert inside_write.wait(120), "A never reached its write"
        monkeypatch.setattr(U, "repartition_by_key", real_rbk)
        with pytest.raises(IndexWriterLocked, match="another writer"):
            compact_ivf_index(spark, root)
    finally:
        release_a.set()
        ta.join(120)
    assert not a_err, f"writer A failed: {a_err}"
    import os

    assert os.path.isdir(f"{root}/cells_delta/epoch=000000")
    # the refused compaction left no partial state; a clean one folds
    assert compact_ivf_index(spark, root)["epochs_folded"] == 1
    assert open_ivf_index(spark, root).cells.count() == emb.count()


def test_writer_lock_released_on_failed_build(spark, tmp_path):
    """A build that fails mid-flight (bad column) must release the
    lock on the way out — a failed job must not require the manual
    stale-lock override before the retry."""
    import os

    from pedsnetdcc_spark.datapipe.dedup import build_span_index

    docs = _small_docs(spark)
    idx = str(tmp_path / "fail_build")
    with pytest.raises(Exception):
        build_span_index(docs, idx, "no_such_column", k=4)
    assert not os.path.exists(os.path.join(idx, ".writer.lock"))
    # retry works without manual intervention
    build_span_index(docs, idx, "doc_id", k=4, force=True)
    assert os.path.exists(os.path.join(idx, "meta.json"))


def test_hash_sample_threshold_path_identical(spark, emb):
    """The pre-filtered sample (driver-result-bounded path, fires when
    n > 8x sample_size) must be BIT-IDENTICAL to the exact
    TakeOrdered sample — centroids and everything downstream of them
    depend on it.  emb has 2,000 rows, so sample_size=128 exercises
    the threshold path (2000 > 1024) and sample_size=1024 the exact
    fallback."""
    from pedsnetdcc_spark.datapipe.similarity import _hash_sample_rows

    src = emb.select("vec_id", "embedding")
    for size in (128, 1024):
        got = _hash_sample_rows(src, "vec_id", "embedding", size, seed=3)
        exact = (
            src.select(
                F.col("embedding").cast("array<double>").alias("__v"),
                F.xxhash64(F.col("vec_id"), F.lit(3)).alias("__h"),
            )
            .orderBy("__h")
            .limit(size)
            .collect()
        )
        assert [r["__h"] for r in got] == [r["__h"] for r in exact]
        assert [r["__v"] for r in got] == [r["__v"] for r in exact]


# round-13: span-index streaming sink + folded_through_generation
# watermark (IVF parity — the replay-after-compact double-count seam
# closed by mechanism on BOTH index families)


def test_span_tagged_replay_after_compact_is_noop(spark, tmp_path):
    """A tagged generation at or below meta's folded_through_generation
    is skipped: a stream that crashed between its delta commit and its
    checkpoint commit, restarted AFTER a compaction folded the
    generation, must not double-count (the old contract was the
    'record success before compacting' convention)."""
    from pedsnetdcc_spark.datapipe.dedup import (
        _span_index_counts,
        _span_index_gens,
        append_span_index,
        build_span_index,
        compact_span_index,
    )

    old = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    gen = spark.createDataFrame([(2, "p q r s t")], ["doc_id", "text"])
    idx = str(tmp_path / "wm_span")
    build_span_index(old, idx, "doc_id", k=4)
    assert append_span_index(gen, idx, generation=0) == {"generation": 0}
    assert compact_span_index(spark, idx)["generations_folded"] == 1

    rep = append_span_index(gen, idx, generation=0)
    assert rep == {"generation": 0, "skipped_folded_replay": True}
    assert _span_index_gens(idx) == []  # nothing re-committed
    counts = {
        r["__key"]: r["cnt"]
        for r in _span_index_counts(spark, idx).collect()
    }
    assert counts and all(c == 1 for c in counts.values()), counts


def test_span_auto_generation_continues_above_watermark(spark, tmp_path):
    """Auto-numbering starts above folded_through_generation, so
    generation ids are monotonic across compactions and
    next_generation_offset never goes backwards."""
    from pedsnetdcc_spark.datapipe.dedup import (
        _span_index_gens,
        append_span_index,
        build_span_index,
        compact_span_index,
        next_generation_offset,
    )

    docs = _small_docs(spark)
    idx = str(tmp_path / "mono_span")
    build_span_index(docs, idx, "doc_id", k=4)
    assert next_generation_offset(idx) == 0
    assert append_span_index(docs, idx)["generation"] == 0
    assert next_generation_offset(idx) == 1
    compact_span_index(spark, idx)
    # delta listing is empty, but the watermark keeps the frontier
    assert next_generation_offset(idx) == 1
    assert append_span_index(docs, idx)["generation"] == 1
    assert _span_index_gens(idx) == ["gen=1"]


def test_span_append_empty_batch_commits_nothing(spark, tmp_path):
    """A batch yielding zero shingle keys (every doc shorter than k)
    commits no generation directory — an empty gen=N is the one delta
    state parquet schema inference can fail on — and the index stays
    readable."""
    from pedsnetdcc_spark.datapipe.dedup import (
        _span_index_counts,
        _span_index_gens,
        append_span_index,
        build_span_index,
    )

    docs = _small_docs(spark)
    idx = str(tmp_path / "empty_span")
    build_span_index(docs, idx, "doc_id", k=4)
    short = spark.createDataFrame([(9, "a b")], ["doc_id", "text"])
    rep = append_span_index(short, idx)
    assert rep == {"generation": 0, "empty": True}
    assert _span_index_gens(idx) == []
    n = _span_index_counts(spark, idx).count()
    assert n > 0


def test_stream_span_index_append_lineage(spark, tmp_path):
    """Span twin of the IVF lineage-offset test: the streaming sink
    lands micro-batch generations exactly once across a mid-stream
    compaction; a colliding fresh lineage raises at wiring time, a
    drifted offset raises, a different index raises, and the correct
    second lineage (offset from next_generation_offset) matches a
    batch-built index over the same corpus."""
    import os

    from pedsnetdcc_spark.datapipe.dedup import (
        _span_index_counts,
        build_span_index,
        compact_span_index,
        next_generation_offset,
        stream_span_index_append,
    )

    rows = [(i, " ".join(f"w{i}x{j}" for j in range(6))) for i in range(12)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    base = docs.where("doc_id < 4")
    first = docs.where("doc_id >= 4 and doc_id < 8")
    second = docs.where("doc_id >= 8")
    idx = str(tmp_path / "lineage_span")
    build_span_index(base, idx, "doc_id", k=4)

    def run(df, src, ckpt, offset):
        if not os.path.isdir(src):
            df.coalesce(1).write.parquet(src)
        q = (
            stream_span_index_append(
                spark.readStream.schema("doc_id long, text string")
                .parquet(src),
                idx, generation_offset=offset, checkpoint=ckpt,
            )
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    c1 = str(tmp_path / "c1")
    run(first, str(tmp_path / "s1"), c1, 0)
    assert os.path.exists(os.path.join(c1, "_span_generation_offset.json"))
    assert compact_span_index(spark, idx)["generations_folded"] >= 1

    stream2 = spark.readStream.schema("doc_id long, text string").parquet(
        str(tmp_path / "s1")
    )
    with pytest.raises(ValueError, match="committed generation frontier"):
        stream_span_index_append(
            stream2, idx, generation_offset=0,
            checkpoint=str(tmp_path / "c2"),
        )
    with pytest.raises(ValueError, match="was started with"):
        stream_span_index_append(
            stream2, idx, generation_offset=7, checkpoint=c1
        )
    other = str(tmp_path / "other_span")
    build_span_index(base, other, "doc_id", k=4)
    with pytest.raises(ValueError, match="bound to one index"):
        stream_span_index_append(
            stream2, other, generation_offset=0, checkpoint=c1
        )

    off = next_generation_offset(idx)
    assert off >= 1
    run(second, str(tmp_path / "s2"), str(tmp_path / "c2b"), off)

    # ground truth: a fresh batch build over the full corpus
    truth_idx = str(tmp_path / "truth_span")
    build_span_index(docs, truth_idx, "doc_id", k=4)
    got = {
        r["__key"]: r["cnt"]
        for r in _span_index_counts(spark, idx).collect()
    }
    want = {
        r["__key"]: r["cnt"]
        for r in _span_index_counts(spark, truth_idx).collect()
    }
    assert got == want


def test_stream_span_append_offset_is_required_keyword(spark, tmp_path):
    """generation_offset has no default — omitting the one parameter
    whose omission is silent data loss is a TypeError at wiring time
    (IVF parity)."""
    from pedsnetdcc_spark.datapipe.dedup import stream_span_index_append

    src = str(tmp_path / "src")
    spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"]).coalesce(
        1
    ).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    with pytest.raises(TypeError):
        stream_span_index_append(stream, str(tmp_path / "noidx"))


def test_stream_span_append_auto_compacts(spark, tmp_path):
    """A streaming appender with auto-compact thresholds self-bounds
    the delta fan-in mid-stream (folds happen between batch locks) and
    still lands every document exactly once across the folds."""
    import os

    from pedsnetdcc_spark.datapipe.dedup import (
        _span_index_counts,
        _span_index_gens,
        build_span_index,
        next_generation_offset,
        stream_span_index_append,
    )

    rows = [(i, " ".join(f"w{i}x{j}" for j in range(6))) for i in range(16)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    base = docs.where("doc_id < 4")
    idx = str(tmp_path / "ac_span")
    build_span_index(base, idx, "doc_id", k=4)

    src = str(tmp_path / "src")
    for lo, hi in ((4, 8), (8, 12), (12, 16)):
        docs.where(f"doc_id >= {lo} and doc_id < {hi}").select(
            "doc_id", "text"
        ).coalesce(1).write.mode("append").parquet(src)
    q = (
        stream_span_index_append(
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            idx, generation_offset=0,
            checkpoint=str(tmp_path / "ck"),
            auto_compact_generations=0,  # fold after every batch
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    assert _span_index_gens(idx) == []  # every batch folded
    assert next_generation_offset(idx) >= 3

    truth_idx = str(tmp_path / "truth")
    build_span_index(docs, truth_idx, "doc_id", k=4)
    got = {
        r["__key"]: r["cnt"]
        for r in _span_index_counts(spark, idx).collect()
    }
    want = {
        r["__key"]: r["cnt"]
        for r in _span_index_counts(spark, truth_idx).collect()
    }
    assert got == want
    assert not os.path.isdir(os.path.join(idx, "keys_delta"))


def test_stream_ivf_append_auto_compacts(spark, emb, tmp_path):
    """IVF twin: the streaming sink's auto-compact folds epoch deltas
    mid-stream; every vector lands exactly once."""
    import os

    from pedsnetdcc_spark.datapipe.similarity import (
        build_ivf_index,
        next_epoch_offset,
        open_ivf_index,
        stream_ivf_index_append,
    )

    base = emb.where(F.col("vec_id") % 4 != 0)
    newv = emb.select("vec_id", "embedding").where(F.col("vec_id") % 4 == 0)
    root = str(tmp_path / "ac_ivf")
    build_ivf_index(base, root, n_centroids=8, assign="flat", seed=3)

    src = str(tmp_path / "src")
    newv.where("vec_id % 8 = 0").coalesce(1).write.mode("append").parquet(src)
    newv.where("vec_id % 8 = 4").coalesce(1).write.mode("append").parquet(src)
    q = (
        stream_ivf_index_append(
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            root, epoch_offset=0,
            checkpoint=str(tmp_path / "ck"),
            auto_compact_epochs=0,  # fold after every batch
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    assert not os.path.isdir(os.path.join(root, "cells_delta"))
    assert next_epoch_offset(root) >= 2
    cells = open_ivf_index(spark, root).cells
    assert cells.count() == base.count() + newv.count()
    assert cells.select("vec_id").distinct().count() == cells.count()


def test_span_stream_lineage_supersede_is_loud(spark, tmp_path):
    """Two concurrent fresh lineages on one span index used to be a
    silent clobber (both pass the frontier check with the same offset,
    then replace each other's gen=N): wiring now registers ONE live
    lineage, and the superseded stream's first micro-batch fails
    loudly, committing nothing."""
    import os

    from pedsnetdcc_spark.datapipe.dedup import (
        _span_index_counts,
        build_span_index,
        stream_span_index_append,
    )

    rows = [(i, " ".join(f"s{i}t{j}" for j in range(6))) for i in range(8)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    base = docs.where("doc_id < 4")
    newdocs = docs.where("doc_id >= 4")
    idx = str(tmp_path / "live_span")
    build_span_index(base, idx, "doc_id", k=4)

    src = str(tmp_path / "src")
    newdocs.select("doc_id", "text").coalesce(1).write.parquet(src)

    def rs():
        return spark.readStream.schema("doc_id long, text string").parquet(src)

    wA = stream_span_index_append(
        rs(), idx, generation_offset=0, checkpoint=str(tmp_path / "cA")
    )
    # B wires later with the SAME valid offset -> B is now the live
    # lineage (this was the silent-clobber setup)
    wB = stream_span_index_append(
        rs(), idx, generation_offset=0, checkpoint=str(tmp_path / "cB")
    )

    qA = wA.trigger(availableNow=True).start()
    with pytest.raises(Exception, match="superseded"):
        qA.awaitTermination(300)
    assert not os.path.isdir(os.path.join(idx, "keys_delta"))  # A wrote nothing

    qB = wB.trigger(availableNow=True).start()
    assert qB.awaitTermination(300)

    truth = str(tmp_path / "truth")
    build_span_index(docs, truth, "doc_id", k=4)
    got = {r["__key"]: r["cnt"]
           for r in _span_index_counts(spark, idx).collect()}
    want = {r["__key"]: r["cnt"]
            for r in _span_index_counts(spark, truth).collect()}
    assert got == want


def test_ivf_stream_lineage_supersede_is_loud(spark, emb, tmp_path):
    """IVF twin: the superseded stream's first epoch fails loudly with
    the named error; the live lineage lands every vector exactly
    once."""
    import os

    from pedsnetdcc_spark.datapipe.similarity import (
        build_ivf_index,
        open_ivf_index,
        stream_ivf_index_append,
    )

    base = emb.where(F.col("vec_id") % 4 != 0)
    newv = emb.select("vec_id", "embedding").where(F.col("vec_id") % 4 == 0)
    root = str(tmp_path / "live_ivf")
    build_ivf_index(base, root, n_centroids=8, assign="flat", seed=3)

    src = str(tmp_path / "src")
    newv.coalesce(1).write.parquet(src)

    def rs():
        return spark.readStream.schema(
            "vec_id long, embedding array<float>"
        ).parquet(src)

    wA = stream_ivf_index_append(
        rs(), root, epoch_offset=0, checkpoint=str(tmp_path / "cA")
    )
    wB = stream_ivf_index_append(
        rs(), root, epoch_offset=0, checkpoint=str(tmp_path / "cB")
    )

    qA = wA.trigger(availableNow=True).start()
    with pytest.raises(Exception, match="superseded"):
        qA.awaitTermination(300)
    assert not os.path.isdir(os.path.join(root, "cells_delta"))

    qB = wB.trigger(availableNow=True).start()
    assert qB.awaitTermination(300)

    cells = open_ivf_index(spark, root).cells
    assert cells.count() == base.count() + newv.count()
    assert cells.select("vec_id").distinct().count() == cells.count()


def test_png_dhash_pipeline_equals_composed(spark, docs):
    """The fused text→PNG→dHash pass (round-13 optimization: one
    mapInPandas, payloads never cross the Python boundary) is
    row-identical to the composed with_png_payload → upscale_images →
    image_dhash pipeline, variants included."""
    from pedsnetdcc_spark.datapipe.multimodal import (
        image_dhash,
        png_dhash_pipeline,
        upscale_images,
        with_png_payload,
    )

    sample = docs.limit(30)
    imgs = with_png_payload(sample, "doc_id", "text").select(
        "doc_id", "payload"
    )
    variants = upscale_images(
        imgs.where(F.col("doc_id") % 10 == 0), "doc_id", factor=2
    ).select((F.col("doc_id") + 10_000_000).alias("doc_id"), "payload")
    composed = {
        (r["doc_id"], r["dhash"], r["decodable"])
        for r in image_dhash(
            imgs.unionByName(variants), "doc_id"
        ).collect()
    }
    fused = {
        (r["doc_id"], r["dhash"], r["decodable"])
        for r in png_dhash_pipeline(
            sample, "doc_id", "text", variant_mod=10,
            variant_offset=10_000_000, variant_factor=2,
        ).collect()
    }
    assert fused == composed and len(fused) > 30


def test_wav_signal_pipeline_equals_composed(spark, docs):
    """The fused text→WAV→fingerprint+features pass (round-13
    optimization) matches audio_fingerprint and
    extract_audio_features run over with_wav_payload exactly."""
    from pedsnetdcc_spark.datapipe.multimodal import (
        audio_fingerprint,
        extract_audio_features,
        wav_signal_pipeline,
        with_wav_payload,
    )

    sample = docs.limit(25)
    media = with_wav_payload(sample, "doc_id", "text").select(
        "doc_id", "payload"
    )
    fps = {
        r["doc_id"]: (r["afp"], r["decodable"])
        for r in audio_fingerprint(media, "doc_id").collect()
    }
    feats = {
        r["doc_id"]: r
        for r in extract_audio_features(media, "doc_id").collect()
    }
    fused = wav_signal_pipeline(sample, "doc_id", "text").collect()
    assert len(fused) == 25
    for r in fused:
        rid = r["doc_id"]
        assert (r["afp"], r["decodable"]) == fps[rid]
        f = feats[rid]
        assert (
            r["channels"], r["sample_rate"], r["bit_depth"],
            r["n_samples"], r["zero_crossings"], r["peak"],
        ) == (
            f["channels"], f["sample_rate"], f["bit_depth"],
            f["n_samples"], f["zero_crossings"], f["peak"],
        )


def test_train_bpe_checkpoint_cadence_invariant(spark, docs):
    """The per-round localCheckpoint (round-13 optimization: each
    round's collect otherwise replays the corpus aggregate plus every
    earlier regexp pass) does not change the learned merge sequence."""
    from pedsnetdcc_spark.datapipe.bpe import train_bpe

    sample = docs.limit(40)
    m1 = train_bpe(sample, "text", num_merges=6, min_freq=1,
                   checkpoint_every=1)
    m8 = train_bpe(sample, "text", num_merges=6, min_freq=1,
                   checkpoint_every=8)
    assert m1 == m8 and len(m1) == 6


def test_index_receipts_from_footers_match_spark_counts(spark, emb, tmp_path):
    """Round-13 job-count hygiene: the compact receipts (span ``keys``
    count; IVF ``cells``/``rows``) and the span append's emptiness
    check now come from driver-side parquet footers / partition-dir
    listing instead of read-back Spark scans — the numbers must equal
    what the replaced scans computed, and the footer helper must agree
    with a Spark count on a real directory."""
    from pedsnetdcc_spark.datapipe.dedup import (
        append_span_index,
        build_span_index,
        compact_span_index,
    )
    from pedsnetdcc_spark.datapipe.similarity import (
        _append_ivf_epoch,
        build_ivf_index,
        compact_ivf_index,
    )
    from pedsnetdcc_spark.util import parquet_dir_num_rows

    docs = _small_docs(spark)
    idx = str(tmp_path / "span_receipts")
    build_span_index(docs, idx, "doc_id", k=4)
    append_span_index(docs, idx)
    rep = compact_span_index(spark, idx)
    keys_dir = f"{idx}/keys"
    assert rep["keys"] == spark.read.parquet(keys_dir).count()
    assert parquet_dir_num_rows(keys_dir) == rep["keys"]

    # an all-too-short batch still commits nothing (footer path)
    tiny = spark.createDataFrame([(7, "a b")], ["doc_id", "text"])
    assert append_span_index(tiny, idx)["empty"] is True

    ivf = str(tmp_path / "ivf_receipts")
    build_ivf_index(emb, ivf, n_centroids=8, assign="flat", seed=1)
    _append_ivf_epoch(emb.limit(20), 0, ivf)
    rep = compact_ivf_index(spark, ivf)
    cells = spark.read.parquet(f"{ivf}/cells")
    got = cells.agg(
        F.countDistinct("centroid_id").alias("c"), F.count(F.lit(1)).alias("r")
    ).first()
    assert (rep["cells"], rep["rows"]) == (got["c"], got["r"])


def test_index_metadata_io_is_filesystem_dispatched(tmp_path):
    """Round-14 verdict item 2: the driver-side index metadata I/O
    (footer row counts, codebook read/write) dispatches on the path
    scheme through ``pyarrow.fs`` instead of assuming posix-local os
    calls — a ``file://`` URI (a non-os-path filesystem object route)
    must behave identically to the bare path, and debris dirs that
    Spark's own discovery ignores (``_temporary``, dot-prefixed) must
    not leak into the counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pedsnetdcc_spark.datapipe.similarity import (
        _read_codebook_rows,
        _write_codebook_parquet,
    )
    from pedsnetdcc_spark.util import parquet_dir_num_rows, pyarrow_fs_and_path

    # footer counts: bare path == file:// URI; _temporary skipped
    d = tmp_path / "tbl"
    (d / "part=0").mkdir(parents=True)
    pq.write_table(pa.table({"x": [1, 2, 3]}), str(d / "part=0" / "a.parquet"))
    (d / "_temporary").mkdir()
    pq.write_table(pa.table({"x": [9]}), str(d / "_temporary" / "b.parquet"))
    assert parquet_dir_num_rows(str(d)) == 3
    assert parquet_dir_num_rows(f"file://{d}") == 3

    # codebook roundtrip through the URI route (write + read + replace)
    cb = str(tmp_path / "cb.parquet")
    rows = [(0, [1.0, 2.0]), (1, [3.0, 4.0])]
    _write_codebook_parquet(rows, "centroid_id int, centroid array<double>",
                            f"file://{cb}")
    got = _read_codebook_rows(f"file://{cb}", ["centroid_id"])
    assert [(r["centroid_id"], list(r["centroid"])) for r in got] == rows
    # second write REPLACES (the build contract), via the fs object
    _write_codebook_parquet(rows[:1], "centroid_id int, centroid array<double>",
                            f"file://{cb}")
    assert len(_read_codebook_rows(cb, ["centroid_id"])) == 1

    # the dispatch seam itself: bare path -> local fs; file:// -> fs+path
    fs1, p1 = pyarrow_fs_and_path(str(d))
    fs2, p2 = pyarrow_fs_and_path(f"file://{d}")
    assert p1 == str(d) and p2 == str(d)
    assert type(fs1).__name__ == type(fs2).__name__ == "LocalFileSystem"


def test_parquet_dir_num_rows_missing_dir_is_zero(tmp_path):
    """A directory that was never written holds no rows: the footer
    count reads 0 for it, bare path or URI, instead of raising."""
    from pedsnetdcc_spark.util import parquet_dir_num_rows

    missing = tmp_path / "never_written"
    assert parquet_dir_num_rows(str(missing)) == 0
    assert parquet_dir_num_rows(f"file://{missing}") == 0
