"""Unit tests for the training-data operators: dedup family, similarity
search, multimodal plumbing."""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import functions as F

from jcrawler_spark.operators import dedup, multimodal, similarity


def test_hash60_matches_python(spark):
    df = spark.createDataFrame([("abc",), ("hello world",)], ["s"])
    got = {r["s"]: r["h"] for r in df.select("s", dedup.hash60(F.col("s")).alias("h")).collect()}
    for s, h in got.items():
        assert h == int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], ["text"])
    got = [r["sh"] for r in df.select(dedup.shingles_col(F.col("text"), 3).alias("sh")).collect()]
    assert got[0] == ["a b c", "b c d"]
    assert got[1] == []  # shorter than k


def test_exact_duplicates(spark):
    rows = [(1, "same text"), (2, "same text"), (3, "unique")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.exact_duplicates(df).collect()
    assert len(out) == 1
    assert out[0]["keeper_id"] == 1 and out[0]["n_copies"] == 2


def test_lsh_finds_identical_docs(spark):
    text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, text), (2, text), (3, "completely different words entirely here now")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = dedup.minhash_signatures(df, k=3, n_perm=4)
    pairs = dedup.lsh_candidate_pairs(sigs, n_perm=4, band_size=2).collect()
    assert (1, 2) in {(r["id_a"], r["id_b"]) for r in pairs}
    j = dedup.ngram_jaccard(
        spark.createDataFrame([(1, 2)], ["id_a", "id_b"]), df, k=3
    ).collect()
    assert abs(j[0]["jaccard"] - 1.0) < 1e-12


def test_simhash_similar_texts_close(spark):
    a = "spark is a fast engine for large scale data processing today"
    b = "spark is a fast engine for large scale data processing tomorrow"
    c = "unrelated gibberish tokens zebra quantum parsnip violin eleven"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], ["doc_id", "text"])
    got = {
        r["doc_id"]: r["sh"]
        for r in df.select(
            "doc_id", dedup.simhash_col(F.col("text"), 32).alias("sh")
        ).collect()
    }
    def ham(x, y):
        return bin(x ^ y).count("1")
    assert ham(got[1], got[2]) < ham(got[1], got[3])


def test_cosine_matches_numpy(spark):
    a = [1.0, 2.0, 3.0, 4.0]
    b = [4.0, 3.0, 2.0, 1.0]
    df = spark.createDataFrame([(a, b)], ["a", "b"])
    got = df.select(similarity.cosine_col(F.col("a"), F.col("b")).alias("c")).collect()[0]["c"]
    exp = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert abs(got - exp) < 1e-12


def test_brute_force_topk_exact(spark):
    rng = np.random.default_rng(42)
    vecs = [(i, rng.normal(size=8).astype(float).tolist()) for i in range(30)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    probes = df.where(F.col("vec_id") < 2)
    out = similarity.brute_force_topk(df, probes, k=3).collect()
    by_probe = {}
    for r in out:
        by_probe.setdefault(r["probe_id"], []).append((r["rank"], r["neighbor_id"]))
    mat = {i: np.array(v) for i, v in vecs}
    for pid, neigh in by_probe.items():
        sims = sorted(
            (
                (-float(np.dot(mat[pid], mat[j]) /
                        (np.linalg.norm(mat[pid]) * np.linalg.norm(mat[j]))), j)
                for j in mat if j != pid
            )
        )
        expected = [j for _, j in sims[:3]]
        assert [n for _, n in sorted(neigh)] == expected


def test_lsh_bucket_deterministic(spark):
    rng = np.random.default_rng(1)
    vecs = [(i, rng.normal(size=16).astype(float).tolist()) for i in range(10)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    b1 = df.select("vec_id", similarity.lsh_bucket_col(F.col("embedding"), 4, 16).alias("b")).collect()
    b2 = df.select("vec_id", similarity.lsh_bucket_col(F.col("embedding"), 4, 16).alias("b")).collect()
    assert {r["vec_id"]: r["b"] for r in b1} == {r["vec_id"]: r["b"] for r in b2}
    assert all(0 <= r["b"] < 16 for r in b1)


def test_multimodal_features_and_frames(spark):
    media = multimodal.synthetic_media(spark, 30, partitions=3).cache()
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == 30
    by_id = {r["media_id"]: r for r in feats}
    # deterministic vs the pure function
    raw = {r["media_id"]: bytes(r["content"]) for r in media.collect()}
    for mid, content in raw.items():
        exp = multimodal.fake_features(content)
        assert by_id[mid]["n_bytes"] == exp["n_bytes"]
        assert abs(by_id[mid]["byte_entropy"] - exp["byte_entropy"]) < 1e-9
        assert list(by_id[mid]["histogram16"]) == exp["histogram16"]
    frames = multimodal.sample_frames(media, every_n_bytes=1024).collect()
    vids = [mid for mid, in media.where(F.col("kind") == "video").select("media_id").collect()]
    assert frames and {r["media_id"] for r in frames} == set(vids)
    for r in frames:
        assert r["offset"] == r["frame_index"] * 1024
    media.unpersist()


def test_decode_media_is_stubbed():
    import pytest
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"xx", "image/png")


def test_lsh_mega_bucket_star_collapse(spark):
    """1,000 identical docs share every band bucket; with the cap the pair
    count is linear (star), the connected component is intact, and the run
    finishes in bounded time (the uncapped clique would be ~500k pairs per
    band)."""
    text = "same boilerplate web text repeated on every single page here"
    rows = [(i, text) for i in range(1000)] + [(5000, "totally different")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = dedup.minhash_signatures(df, k=3, n_perm=4)
    pairs = dedup.lsh_candidate_pairs(
        sigs, n_perm=4, band_size=2, max_bucket=64
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # star: every duplicate pairs with the hub (min id 0) — one component
    assert got == {(0, i) for i in range(1, 1000)}
    # stats are loud about the cap
    st = dedup.lsh_bucket_stats(sigs, n_perm=4, band_size=2, max_bucket=64).collect()[0]
    assert st["n_over_cap_buckets"] == 2  # both bands, one mega bucket each
    assert st["max_bucket_sz"] == 1000


def test_lsh_cap_no_effect_below_threshold(spark):
    """With all buckets under the cap, capped and uncapped outputs are
    identical (the SQL oracle runs the uncapped form)."""
    rows = [(i, f"doc number {i} words {'x ' * (i % 5)}") for i in range(40)]
    rows += [(100, "twin text alpha beta"), (101, "twin text alpha beta")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = dedup.minhash_signatures(df, k=3, n_perm=8)
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(sigs, max_bucket=64).collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(sigs, max_bucket=None).collect()
    }
    assert capped == uncapped
    assert (100, 101) in capped


def test_cosine_near_duplicates(spark):
    """Identical vectors are near-dups (sim 1.0); orthogonal ones are not;
    the star cap keeps degenerate buckets linear with components intact."""
    dim = 8
    v = [1.0] * dim
    w = [1.0, -1.0] * (dim // 2)  # orthogonal to v
    rows = [(i, v) for i in range(10)] + [(100, w)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        (r["id_a"], r["id_b"]): r["sim_r3"]
        for r in similarity.cosine_near_duplicates(
            df, threshold=0.95, n_planes=3, dim=dim, max_bucket=None
        ).collect()
    }
    assert got == {(a, b): 1.0 for a in range(10) for b in range(a + 1, 10)}
    # star collapse: same components, linear pair count
    star = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_near_duplicates(
            df, threshold=0.95, n_planes=3, dim=dim, max_bucket=4
        ).collect()
    }
    assert star == {(0, b) for b in range(1, 10)}


def test_ivf_topk_cell_locality(spark):
    """IVF: probes only see candidates from their own cell, and within the
    cell the ranking is exact cosine order."""
    import numpy as np

    rng = np.random.RandomState(7)
    # two well-separated clusters around +e0 and +e1
    dim = 8
    rows = []
    for i in range(20):
        base = np.zeros(dim); base[0] = 10.0
        rows.append((i, (base + rng.rand(dim)).tolist()))
    for i in range(20, 40):
        base = np.zeros(dim); base[1] = 10.0
        rows.append((i, (base + rng.rand(dim)).tolist()))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = spark.createDataFrame(
        [(0, rows[0][1]), (1, rows[20][1])], ["cell_id", "centroid"]
    )
    probes = df.where(F.col("vec_id").isin([5, 25]))
    got = similarity.ivf_topk(df, probes, cents, k=3).collect()
    by_probe = {}
    for r in got:
        by_probe.setdefault(r["probe_id"], []).append(r["neighbor_id"])
    # cluster-0 probe only sees cluster-0 neighbors; same for cluster 1
    assert all(n < 20 for n in by_probe[5])
    assert all(n >= 20 for n in by_probe[25])
    assert len(by_probe[5]) == 3 and len(by_probe[25]) == 3


def test_real_decode_roundtrips():
    """BMP/PPM/WAV decode are real (stdlib+numpy): encode→decode roundtrip
    plus nearest-neighbor resize."""
    import io
    import wave

    import numpy as np
    import pytest

    px = np.arange(12 * 16 * 3, dtype=np.uint8).reshape(12, 16, 3)
    assert np.array_equal(
        multimodal._decode_bmp(multimodal._encode_bmp(px)), px
    )
    ppm = b"P6 16 12 255\n" + px.tobytes()
    assert np.array_equal(multimodal._decode_ppm(ppm), px)

    buf = io.BytesIO()
    samples = (np.sin(np.arange(400) * 0.02) * 10000).astype("<i2")
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1); wf.setsampwidth(2); wf.setframerate(8000)
        wf.writeframes(samples.tobytes())
    d = multimodal.decode_media(buf.getvalue(), "audio/wav")
    assert d["sample_rate"] == 8000 and len(d["samples"]) == 400

    small = multimodal.resize_image(px, 4, 3)
    assert small.shape == (3, 4, 3)
    assert np.array_equal(small[0, 0], px[0, 0])  # nearest-neighbor anchors

    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"\x89PNG...", "image/png")


def test_decoded_feature_pipeline(spark):
    """extract_decoded_features: decodable rows come back with real pixel/
    audio features; codec rows come back decoded=false with the stub error
    recorded — one pipeline, both paths."""
    media = multimodal.synthetic_media(spark, 40, partitions=4).cache()
    feats = {r["media_id"]: r for r in multimodal.extract_decoded_features(media).collect()}
    assert len(feats) == 40
    for i, r in feats.items():
        if i % 4 == 0:  # image/bmp
            assert r["decoded"] and r["kind"] == "image"
            assert r["width"] >= 16 and len(r["mean_rgb"]) == 3
            assert len(bytes(r["thumb64"])) == 8 * 8 * 3
        elif i % 4 == 1:  # audio/wav
            assert r["decoded"] and r["kind"] == "audio"
            assert r["sample_rate"] == 8000 and r["rms"] > 1000
        else:  # video/mp4, image/png → stub path
            assert not r["decoded"] and "no codec" in r["decode_error"]
    media.unpersist()


def test_multiprobe_recall_superset_of_single_probe(spark):
    """Multi-probe ANN (VERDICT r2 #6): flip-one-bit probing's candidate
    set is a strict superset of single-probe's, so (a) every single-probe
    result pair is reachable, and (b) recall vs the exact brute force is
    monotonically >= the single-probe recall."""
    rng = np.random.default_rng(7)
    dim, n = 16, 120
    # clustered vectors so hyperplane straddling actually happens
    centers = rng.normal(size=(6, dim))
    vecs = [
        (i, (centers[i % 6] + 0.15 * rng.normal(size=dim)).astype(float).tolist())
        for i in range(n)
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    probes = df.where(F.col("vec_id") < 10)
    k, planes = 5, 5

    exact = {
        (r["probe_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(df, probes, k=k).collect()
    }
    single = {
        (r["probe_id"], r["neighbor_id"])
        for r in similarity.lsh_topk(df, probes, n_planes=planes, dim=dim, k=k).collect()
    }
    multi = {
        (r["probe_id"], r["neighbor_id"])
        for r in similarity.multiprobe_topk(
            df, probes, n_planes=planes, dim=dim, k=k
        ).collect()
    }
    recall_single = len(single & exact) / len(exact)
    recall_multi = len(multi & exact) / len(exact)
    assert recall_multi >= recall_single
    # with clustered data the extra buckets must actually help here
    assert recall_multi > recall_single, (
        f"multi-probe found nothing beyond single-probe "
        f"(single={recall_single:.2f})"
    )
    # top-k under a SUPERSET candidate pool can only improve (never miss a
    # pair single-probe had, unless displaced by a strictly better one)
    for pid, nid in single - multi:
        better = {m for p, m in multi if p == pid}
        assert len(better) == k


def test_train_ivf_centroids_matches_local_replica(spark):
    """The Spark Lloyd trainer and its pure-Python replica are byte-equal
    (deterministic init + HALF_UP-rounded updates absorb partitioning
    noise) — the property the ivf_trained_topk oracle rests on."""
    from jcrawler_spark import corpus

    emb = corpus.build_embeddings_df(spark, 120, dim=8, n_clusters=6, partitions=7)
    got = {
        r["cell_id"]: list(r["centroid"])
        for r in similarity.train_ivf_centroids(emb, k=6, n_iters=4).collect()
    }
    vecs = [corpus.embedding_record(i, 8, 6)["embedding"] for i in range(120)]
    want = similarity.train_ivf_centroids_local(vecs, k=6, n_iters=4)
    assert len(got) == 6
    for cid in range(6):
        assert got[cid] == want[cid], f"cell {cid} diverged"


def test_trained_ivf_recall_beats_lsh_single_probe(spark):
    """VERDICT r3 #8 done-criterion: IVF with TRAINED centroids reaches
    recall >= single-probe hyperplane LSH on the synthetic embeddings."""
    from jcrawler_spark import corpus

    emb = corpus.build_embeddings_df(spark, 240, dim=8, n_clusters=6)
    probes = emb.where(F.col("vec_id") < 10)
    k = 5
    exact = {
        (r["probe_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(emb, probes, k=k).collect()
    }
    cents = similarity.train_ivf_centroids(emb, k=6, n_iters=5)
    ivf = {
        (r["probe_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(emb, probes, cents, k=k).collect()
    }
    lsh = {
        (r["probe_id"], r["neighbor_id"])
        for r in similarity.lsh_topk(emb, probes, n_planes=5, dim=8, k=k).collect()
    }
    recall_ivf = len(ivf & exact) / len(exact)
    recall_lsh = len(lsh & exact) / len(exact)
    assert recall_ivf >= recall_lsh, (recall_ivf, recall_lsh)
    # trained cells must actually capture the planted clusters well
    assert recall_ivf >= 0.8, recall_ivf


def test_connected_components_chain_and_islands(spark):
    """Min-label propagation labels every node with its component's min id,
    including a 4-node chain (worst diameter for LSH-shaped graphs) and a
    disjoint pair."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    got = {r["id"]: r["comp"] for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_frees_round_checkpoints(spark):
    """A 13-node chain takes a dozen propagation rounds, each a
    localCheckpoint; none may outlive the call except the one the result
    itself reads (unpersist() does not reach a checkpoint's blocks)."""

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["id_a", "id_b"]
    )
    before = persisted()
    out = dedup.connected_components(pairs)
    got = {r["id"]: r["comp"] for r in out.collect()}
    assert got == {i: 0 for i in range(13)}
    result_rdd = (
        out._jdf.queryExecution().logical().collectLeaves().apply(0).rdd().id()
    )
    assert persisted() - before <= {result_rdd}


def test_duplicate_groups_and_dedup_corpus(spark):
    """End-to-end clustering: planted near-dup trio + exact pair + two
    singletons -> groups keyed by min id; dedup_corpus keeps exactly the
    keepers plus every singleton."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base + " extra"),          # near-dup of 1
        (3, base.replace("dog", "cat")),  # near-dup of 1
        (7, "completely different words about spark clusters and shuffles"),
        (8, "completely different words about spark clusters and shuffles"),
        (9, "a singleton document nothing resembles in any way whatsoever"),
        (10, "another lonely text with its own unique vocabulary entirely"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    groups = dedup.duplicate_groups(docs, n_perm=8, band_size=2, threshold=0.2)
    got = {r["doc_id"]: (r["group_id"], r["is_keeper"]) for r in groups.collect()}
    assert got[1] == (1, True)
    assert got[2] == (1, False)
    assert got[3] == (1, False)
    assert got[7] == (7, True)
    assert got[8] == (7, False)
    assert 9 not in got and 10 not in got  # singletons never appear
    kept = sorted(
        r["doc_id"] for r in dedup.dedup_corpus(docs, groups).collect()
    )
    assert kept == [1, 7, 9, 10]


def test_ivf_nprobe_recall_monotone(spark):
    """IVF nprobe knob: probing 2 cells yields candidate supersets of
    nprobe=1 per probe, so recall vs exact brute force is monotone in
    nprobe — and with clustered data straddling cell boundaries it must
    strictly improve here."""
    rng = np.random.default_rng(11)
    dim, n = 16, 150
    centers = rng.normal(size=(5, dim))
    vecs = [
        (i, (centers[i % 5] + 1.1 * rng.normal(size=dim)).astype(float).tolist())
        for i in range(n)
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    probes = df.where(F.col("vec_id") < 12)
    cents = spark.createDataFrame(
        [(int(j), centers[j].astype(float).tolist()) for j in range(5)],
        ["cell_id", "centroid"],
    )
    k = 5
    exact = {
        (r["probe_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(df, probes, k=k).collect()
    }
    got = {}
    for nprobe in (1, 2, 5):
        res = {
            (r["probe_id"], r["neighbor_id"])
            for r in similarity.ivf_topk(
                df, probes, cents, k=k, nprobe=nprobe
            ).collect()
        }
        got[nprobe] = len(res & exact) / len(exact)
    assert got[1] <= got[2] <= got[5]
    # nprobe = n_cells searches everything -> exact recall
    assert got[5] == 1.0
    assert got[2] > got[1]


# ---------------------------------------------------------------------------
# round 5: CCNet-style paragraph dedup
# ---------------------------------------------------------------------------


def test_dedup_paragraphs_first_occurrence_wins(spark):
    import pyspark.sql.functions as F
    from jcrawler_spark.operators.dedup import dedup_paragraphs

    docs = spark.createDataFrame(
        [
            (1, "alpha\nshared boilerplate\nbeta"),
            (2, "shared boilerplate\ngamma\ngamma"),
            (3, "shared boilerplate\n \n"),
            (4, "delta\ndelta\ndelta"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_paragraphs(docs).collect()}
    # doc 1 is the global first owner of the boilerplate -> keeps all 3
    assert out[1]["n_paras"] == 3 and out[1]["n_kept"] == 3
    assert out[1]["clean_text"] == "alpha\nshared boilerplate\nbeta"
    # doc 2 loses the boilerplate and the in-doc repeat of gamma
    assert out[2]["n_paras"] == 3 and out[2]["n_kept"] == 1
    assert out[2]["clean_text"] == "gamma"
    # doc 3: only the (lost) boilerplate -> present with n_kept 0, empty text
    assert out[3]["n_paras"] == 1 and out[3]["n_kept"] == 0
    assert out[3]["clean_text"] == ""
    # doc 4: in-doc repeats collapse to the first
    assert out[4]["n_paras"] == 3 and out[4]["n_kept"] == 1
    assert out[4]["clean_text"] == "delta"


def test_dedup_paragraphs_keeps_empty_docs(spark):
    """Round-5 review fix: a document with NO non-empty paragraphs (empty
    text, whitespace-only lines) must still appear in the output with
    n_paras=0 — deriving totals from the exploded paragraphs silently
    dropped it, and analyze's downstream inner join lost the doc."""
    from jcrawler_spark.operators.dedup import dedup_paragraphs

    docs = spark.createDataFrame(
        [(1, "real text"), (2, ""), (3, "\n \n"), (4, "  ")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_paragraphs(docs).collect()}
    assert set(out) == {1, 2, 3, 4}, "no document may vanish"
    assert out[1]["n_paras"] == 1 and out[1]["n_kept"] == 1
    for d in (2, 3, 4):
        assert out[d]["n_paras"] == 0 and out[d]["n_kept"] == 0
        assert out[d]["clean_text"] == ""


def test_dedup_paragraphs_preserves_order_and_totals(spark):
    from jcrawler_spark.operators.dedup import dedup_paragraphs

    docs = spark.createDataFrame(
        [(10, "z\ny\nx\nw"), (11, "w\nz\nnew one")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_paragraphs(docs).collect()}
    assert out[10]["clean_text"] == "z\ny\nx\nw"  # original order, not sorted
    assert out[11]["clean_text"] == "new one"
    # global invariant: total kept == number of distinct paragraphs
    assert sum(r["n_kept"] for r in out.values()) == 5


def test_duplicate_groups_string_ids(spark):
    """Round-5 review fix: the dedup pipeline accepts STRING doc ids (the
    analyze CLI now uses the url itself — immune to 64-bit-hash birthday
    collisions at 10^10 docs). connected_components must not null them
    out via a long cast; group_id is the lexicographic min member."""
    from jcrawler_spark.operators import dedup as d

    base = "the quick brown fox jumps over the lazy dog " * 8
    docs = spark.createDataFrame(
        [
            ("https://a.example/1", base),
            ("https://b.example/2", base + "tail"),
            ("https://c.example/3", "completely different text here " * 8),
        ],
        "doc_id string, text string",
    )
    groups = d.duplicate_groups(docs, threshold=0.2)
    rows = {r["doc_id"]: r for r in groups.collect()}
    assert set(rows) == {"https://a.example/1", "https://b.example/2"}
    assert all(r["group_id"] == "https://a.example/1" for r in rows.values())
    assert rows["https://a.example/1"]["is_keeper"]
    assert not rows["https://b.example/2"]["is_keeper"]
    kept = d.dedup_corpus(docs, groups).select("doc_id").collect()
    assert sorted(r["doc_id"] for r in kept) == [
        "https://a.example/1", "https://c.example/3",
    ]
    # components directly on string pairs
    comps = d.connected_components(
        spark.createDataFrame(
            [("b", "a"), ("c", "b"), ("x", "y")], "id_a string, id_b string"
        )
    )
    got = {r["id"]: r["comp"] for r in comps.collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
