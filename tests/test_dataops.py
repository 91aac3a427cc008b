"""Training-data pipeline operators: dedup, similarity, textstats,
multimodal plumbing — small-data correctness vs pure-python oracles."""

import itertools
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from search_engine_tr_spark.operators import dedup, multimodal, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "elma armut kiraz elma", "tr"),
        (2, "elma armut kiraz elma", "tr"),          # exact dup of 1
        (3, "elma armut kiraz muz", "tr"),           # near dup of 1
        (4, "the quick brown fox jumps over the lazy dog", "en"),
        (5, "tamamen farklı bir metin ve içerik bu da", "tr"),
        (6, "", "tr"),
        (7, "elma armut kiraz elma", "tr"),          # another exact dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string").cache()


def test_exact_dedup(spark, docs):
    kept = sorted(r["doc_id"] for r in dedup.exact_dedup(docs).collect())
    assert kept == [1, 3, 4, 5, 6]
    groups = dedup.exact_dup_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_dupes"] == 3 and groups[0]["keeper"] == 1


def _py_jaccard(a: str, b: str) -> float:
    import re
    ta = {t for t in re.split(r"[^\w]+", a.lower()) if t}
    tb = {t for t in re.split(r"[^\w]+", b.lower()) if t}
    if not ta or not tb:
        return 0.0
    return len(ta & tb) / len(ta | tb)


def test_token_jaccard_pairs(spark, docs):
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.token_jaccard_pairs(docs, threshold=0.5).collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    expected = {}
    for a, b in itertools.combinations(sorted(texts), 2):
        j = _py_jaccard(texts[a], texts[b])
        if j >= 0.5 and texts[a] and texts[b]:
            expected[(a, b)] = j
    assert set(got) == set(expected)
    for k in got:
        assert got[k] == pytest.approx(expected[k])


def test_minhash_lsh_finds_exact_and_near_dups(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in dedup.minhash_lsh_pairs(
                 docs.filter(F.col("text") != ""),
                 num_hashes=32, bands=16, threshold=0.4,
                 shingle_k=2).collect()}
    # exact dups share all shingles → jaccard 1.0, must always be caught
    assert pairs[(1, 2)] == 1.0 and pairs[(1, 7)] == 1.0 and pairs[(2, 7)] == 1.0
    for (a, b), j in pairs.items():
        assert j >= 0.4 and a < b


def test_simhash_near_pairs(spark, docs):
    got = dedup.simhash_near_pairs(docs.filter(F.col("text") != ""),
                                   max_hamming=3).collect()
    ids = {(r["id_a"], r["id_b"]): r["hamming"] for r in got}
    assert ids[(1, 2)] == 0 and ids[(1, 7)] == 0 and ids[(2, 7)] == 0


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(7)
    vecs = rng.standard_normal((50, 8)).astype(np.float32)
    vecs[10] = vecs[3] * 2.0         # same direction → cosine 1 with row 3
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    return (spark.createDataFrame(rows, "vec_id long, embedding array<float>")
            .cache(), vecs)


def test_cosine_topk_matches_numpy(spark, vectors):
    df, vecs = vectors
    q = vecs[3].astype(np.float64)
    sims = (vecs.astype(np.float64) @ q) / (
        np.linalg.norm(vecs.astype(np.float64), axis=1) * np.linalg.norm(q))
    expected = sorted(enumerate(sims), key=lambda t: (-t[1], t[0]))[:5]
    got = [(r["vec_id"], r["cosine"])
           for r in similarity.cosine_topk(df, q.tolist(), k=5).collect()]
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (gd, gs), (ed, es) in zip(got, expected):
        assert gs == pytest.approx(es, rel=1e-6)


def test_lsh_topk_contains_query_direction(spark, vectors):
    df, vecs = vectors
    q = vecs[3].tolist()
    got = [r["vec_id"]
           for r in similarity.lsh_cosine_topk(df, q, k=3, n_planes=6,
                                               multiprobe=1).collect()]
    # identical-direction vectors hash to the same bucket → always found
    assert got[0] in (3, 10) and set(got[:2]) == {3, 10}


def test_pairwise_cosine_dupes(spark, vectors):
    df, _ = vectors
    pairs = similarity.pairwise_cosine_dupes(df, threshold=0.999).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(3, 10)}


def test_textstats(spark, docs):
    out = textstats.token_count(docs).collect()
    counts = {r["doc_id"]: r["n_tokens"] for r in out}
    assert counts[1] == 4 and counts[4] == 9 and counts[6] == 0
    langs = {r["doc_id"]: r["lang_pred"]
             for r in textstats.lang_id(docs).collect()}
    assert langs[4] == "en" and langs[5] == "tr"
    q = {r["doc_id"]: r["quality"]
         for r in textstats.quality_score(docs).collect()}
    assert 0 <= min(q.values()) and max(q.values()) <= 1
    assert q[4] > q[6]  # real sentence beats empty text
    fp = {r["doc_id"]: r["fingerprint"]
          for r in textstats.doc_fingerprint(docs).collect()}
    assert fp[1] == fp[2] == fp[7] and fp[1] != fp[3]


def test_lang_id_ngram(spark, docs):
    got = {r["doc_id"]: r["lang_pred"]
           for r in textstats.lang_id_ngram(docs).collect()}
    assert got[4] == "en"   # "the quick brown fox ..." — 'the'/' th'/'he '
    assert got[6] == "unknown"  # empty text
    tr_text = spark.createDataFrame(
        [(1, "bunlar ve şunlar bir arada giderler ve gelirler")],
        "doc_id long, text string")
    assert textstats.lang_id_ngram(tr_text).first()["lang_pred"] == "tr"


def test_token_jaccard_capped_is_exact(spark, docs):
    """Capped mode bounds pair GENERATION but values stay exact: every pair
    it returns must carry the identical jaccard as uncapped mode, and with a
    cap high enough to keep all candidate tokens the pair sets are equal."""
    uncapped = {(r["id_a"], r["id_b"]): r["jaccard"]
                for r in dedup.token_jaccard_pairs(docs, threshold=0.3).collect()}
    # generous cap (> n_docs): identical result
    same = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.token_jaccard_pairs(
                docs, threshold=0.3, max_token_df=100).collect()}
    assert same == uncapped
    # tight cap: subset of pairs, but every surviving value EXACT
    capped = {(r["id_a"], r["id_b"]): r["jaccard"]
              for r in dedup.token_jaccard_pairs(
                  docs, threshold=0.3, max_token_df=2).collect()}
    assert set(capped) <= set(uncapped)
    for k, v in capped.items():
        assert v == uncapped[k]


def _brute_hamming_pairs(sigs: dict[int, int], radius: int):
    out = {}
    for a, b in itertools.combinations(sorted(sigs), 2):
        h = bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")
        if h <= radius:
            out[(a, b)] = h
    return out


@pytest.mark.parametrize("kernel", ["xxh64", "md5"])
@pytest.mark.parametrize("radius", [3, 8])
def test_simhash_blocking_equals_bruteforce(spark, docs, kernel, radius):
    """Pigeonhole contract: blocked pairs == brute-force Hamming pairs for
    every radius when n_segments > max_hamming (the enforced default)."""
    d = docs.filter(F.col("text") != "")
    sigs = {r["id"]: r["simhash"]
            for r in dedup.simhash(d, hash_kernel=kernel).collect()}
    expected = _brute_hamming_pairs(sigs, radius)
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in dedup.simhash_near_pairs(
               d, max_hamming=radius, hash_kernel=kernel).collect()}
    assert got == expected


def test_simhash_segment_contract_enforced(spark, docs):
    with pytest.raises(ValueError):
        dedup.simhash_near_pairs(docs, max_hamming=8, n_segments=4).collect()


def test_md5_kernel_matches_duckdb(spark):
    """The gate hash kernel must be bit-identical across engines."""
    import duckdb

    vals = ["elma", "the quick", "çiçek örnek", "a:0", ""]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {r["s"]: r["h"] for r in df.select(
        "s", dedup._hash64(F.col("s"), kernel="md5").alias("h")).collect()}
    seeded = {r["s"]: r["h"] for r in df.select(
        "s", dedup._hash64(F.col("s"), 7, "md5").alias("h")).collect()}
    con = duckdb.connect()
    for v in vals:
        exp = con.execute(
            "SELECT ('0x' || substr(md5(?),1,15))::BIGINT", [v]).fetchone()[0]
        exp_seed = con.execute(
            "SELECT ('0x' || substr(md5(? || ':7'),1,15))::BIGINT",
            [v]).fetchone()[0]
        assert got[v] == exp
        assert seeded[v] == exp_seed


def test_minhash_md5_kernel_same_verified_pairs(spark, docs):
    """Kernel changes candidates, not truth: exact dups are caught by both
    kernels and every reported jaccard is the true shingle jaccard."""
    d = docs.filter(F.col("text") != "")
    for kernel in ("xxh64", "md5"):
        pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
                 for r in dedup.minhash_lsh_pairs(
                     d, num_hashes=32, bands=16, threshold=0.99,
                     shingle_k=2, hash_kernel=kernel).collect()}
        assert {(1, 2), (1, 7), (2, 7)} <= set(pairs)
        assert all(j == 1.0 for j in pairs.values())


def test_minhash_bucket_guard_bounds_skew(spark):
    """Adversarial constant corpus: every doc identical → one hot bucket per
    band. The guard drops them; pair output becomes empty but the job
    completes with bounded fan-out instead of an n² self-join."""
    rows = [(i, "aynı metin her yerde tekrar") for i in range(200)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    guarded = dedup.minhash_lsh_pairs(
        d, num_hashes=32, bands=8, threshold=0.5, shingle_k=2,
        max_bucket_size=10)
    assert guarded.count() == 0  # all candidates lived in dropped buckets
    # sanity: unguarded still finds them (we didn't break recall by default)
    some = dedup.minhash_lsh_pairs(
        d.filter(F.col("doc_id") < 5), num_hashes=32, bands=8,
        threshold=0.5, shingle_k=2).count()
    assert some == 10  # C(5,2) identical pairs


def test_empty_docs_not_near_dups(spark):
    """ADVICE fix: empty/whitespace-only docs must not pair as jaccard-1.0
    duplicates via the empty-string shingle."""
    rows = [(1, ""), (2, "   "), (3, "\n\t"), (4, "gerçek içerik burada var")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.minhash_lsh_pairs(d, num_hashes=16, bands=8,
                                    threshold=0.1, shingle_k=2).collect()
    assert pairs == []


def test_pairwise_cosine_bucket_guard(spark, vectors):
    df, _ = vectors
    # cap of 0 drops every bucket → empty but completes
    assert similarity.pairwise_cosine_dupes(
        df, threshold=0.5, max_bucket_size=0).count() == 0
    # generous cap keeps the known dup pair
    pairs = similarity.pairwise_cosine_dupes(
        df, threshold=0.999, max_bucket_size=1000).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(3, 10)}


def test_image_decode_real_netpbm():
    """REAL decode path (no codec lib needed): exact pixels out of binary
    PPM/PGM, comment + multi-whitespace headers, malformed/truncated →
    None (stub fallback), and a canonical encode→decode round trip."""
    # P6: 2x2 with distinct per-channel values, hand-laid raster
    raster = bytes([255, 0, 0,  0, 255, 0,
                    0, 0, 255,  10, 20, 30])
    pix = multimodal.decode_image(b"P6 2 2 255\n" + raster)
    assert pix.shape == (2, 2, 3)
    assert pix[0, 0].tolist() == [255, 0, 0]
    assert pix[1, 1].tolist() == [10, 20, 30]
    # header variants: comment line, newline-separated tokens
    assert multimodal.decode_image(
        b"P6\n# made by a camera\n2 2\n255\n" + raster)[1, 0].tolist() \
        == [0, 0, 255]
    # P5 grayscale
    g = multimodal.decode_image(b"P5 3 1 255\n" + bytes([7, 8, 9]))
    assert g.shape == (1, 3) and g.tolist() == [[7, 8, 9]]
    # rejects: wrong magic, truncated raster, bad maxval, junk header,
    # and a digit glued to the magic (P62... is not P6 + whitespace)
    assert multimodal.decode_image(b"\x89PNG\r\n\x1a\n....") is None
    assert multimodal.decode_image(b"P6 2 2 255\n" + raster[:-1]) is None
    assert multimodal.decode_image(b"P6 2 2 65535\n" + raster) is None
    assert multimodal.decode_image(b"P6 x 2 255\n" + raster) is None
    assert multimodal.decode_image(b"P62 2 255\n" + raster) is None
    assert multimodal.decode_image(None) is None
    # maxval < 255: samples are relative to maxval (netpbm spec) — a
    # maxval=1 all-ones P6 is pure WHITE, not near-black
    white = multimodal.decode_image(b"P6 2 2 1\n" + bytes([1] * 12))
    assert white.min() == white.max() == 255
    half = multimodal.decode_image(b"P5 1 1 200\n" + bytes([100]))
    assert half[0, 0] == 128  # round(100 * 255/200)
    # canonical round trip is byte-stable
    canon = multimodal.encode_ppm(pix)
    assert canon == b"P6 2 2 255\n" + raster
    assert (multimodal.decode_image(canon) == pix).all()


def test_image_resize_real_path(spark):
    """Nearest-neighbor resize on a REAL decoded image: 4x4 quadrant image
    → 2x2 picks each quadrant's top-left source pixel (floor(i*4/2))."""
    q = np.zeros((4, 4, 3), dtype=np.uint8)
    q[:2, :2] = [255, 0, 0]; q[:2, 2:] = [0, 255, 0]
    q[2:, :2] = [0, 0, 255]; q[2:, 2:] = [200, 200, 200]
    media = spark.createDataFrame(
        [(1, "image", bytearray(multimodal.encode_ppm(q)),
          (4, 4, None, "ppm"))], multimodal.MEDIA_SCHEMA)
    [row] = multimodal.resize_images(media, width=2, height=2).collect()
    out = multimodal.decode_image(bytes(row["payload"]))
    assert out.tolist() == [[[255, 0, 0], [0, 255, 0]],
                            [[0, 0, 255], [200, 200, 200]]]
    # features on a decodable payload use REAL pixel luminance: a uniform
    # mid-gray image is a one-hot histogram at gray's bin, which the
    # byte-histogram stub could never produce from these payload bytes
    # (the header bytes alone hit other bins).
    gray = np.full((5, 5, 3), 128, dtype=np.uint8)
    gm = spark.createDataFrame(
        [(2, "image", bytearray(multimodal.encode_ppm(gray)),
          (5, 5, None, "ppm"))], multimodal.MEDIA_SCHEMA)
    [feat] = multimodal.extract_features(gm).collect()
    v = np.array(feat["features"])
    bin_of_gray = (128 * 256 // 256) * multimodal.N_FEATURES // 256
    assert v[bin_of_gray] == 1.0 and v.sum() == 1.0


def test_multimodal_feature_plumbing(spark):
    media = multimodal.synth_media(spark, 30)
    feats = multimodal.extract_features(
        multimodal.size_balanced(media, 4)).collect()
    assert len(feats) == 30
    for r in feats:
        v = np.array(r["features"])
        assert v.shape == (multimodal.N_FEATURES,)
        assert abs(float(v.sum()) - 1.0) < 1e-5  # histogram normalized
    plan = multimodal.frame_sample_plan(media, every_ms=2000)
    vid = plan.groupBy("media_id").count().collect()
    assert len(vid) == 10  # a third of 30 are videos
    assert all(r["count"] >= 1 for r in vid)
    resized = multimodal.resize_images(media, width=8, height=4).collect()
    assert len(resized) == 10  # a third are images
    for r in resized:
        assert (r["width"], r["height"]) == (8, 4)
        # uniform output contract: every row is valid binary PPM
        pix = multimodal.decode_image(bytes(r["payload"]))
        assert pix is not None and pix.shape == (4, 8, 3)
    # deterministic: same input → same bytes
    again = multimodal.resize_images(media, width=8, height=4).collect()
    assert ({r["media_id"]: bytes(r["payload"]) for r in resized}
            == {r["media_id"]: bytes(r["payload"]) for r in again})


def test_char_trigram_entropy_known_values(spark):
    """Entropy against hand-computable distributions: an all-identical
    trigram stream has H=0; 'abcabc...' trigram multiset is uniform over 3
    distinct trigrams → H=log2(3) as length → ∞ (check the exact finite
    count); sub-3-char docs drop out."""
    rows = [(1, "aaaaaa"),       # trigrams all 'aaa' → H = 0
            (2, "abcabcabc"),    # 7 trigrams: abc×3, bca×2, cab×2
            (3, "xy")]           # too short → no row
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["entropy"]
           for r in textstats.char_trigram_entropy(df).collect()}
    assert set(out) == {1, 2}
    assert abs(out[1] - 0.0) < 1e-12
    exp = math.log2(7) - (3 * math.log2(3) + 2 * 2 * math.log2(2)) / 7
    assert abs(out[2] - exp) < 1e-12


def test_pcm16_roundtrip_rms(spark):
    """Real audio path: pack int16 samples → binary PCM → decode → framed
    RMS; values checked against a numpy reference, partial frame dropped,
    null payload empty."""
    import math

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    rows = [
        (1, list(range(-8, 8)) + [100] * 16 + [7] * 5),  # 2 frames + partial
        (2, [0] * 16),                                   # exactly 1 frame
        (3, [5] * 3),                                    # shorter than frame
        (4, None),                                       # null payload
    ]
    df = spark.createDataFrame(rows, T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("samples", T.ArrayType(T.IntegerType()), True)]))
    media = df.select("media_id",
                      multimodal.pcm16_pack_udf("samples").alias("payload"))
    out = {(r["media_id"], r["frame_no"]): r["rms"]
           for r in multimodal.audio_frame_rms(media, frame=16).collect()}
    exp_f0 = math.sqrt(sum(x * x for x in range(-8, 8)) / 16.0)
    assert out == {(1, 0): exp_f0, (1, 1): 100.0, (2, 0): 0.0}

    # out-of-int16-range samples refuse to encode (no silent wraparound)
    bad = spark.createDataFrame([(9, [40000])], df.schema)
    with pytest.raises(Exception, match="int16"):
        bad.select(multimodal.pcm16_pack_udf("samples")).collect()


def test_dup_components_vs_union_find(spark):
    """Connected components vs a pure-python union-find on a graph with a
    long chain (forces multiple propagation rounds), a clique, a separate
    pair, and an isolated edge."""
    from search_engine_tr_spark.operators.dedup import dup_components

    edges = ([(i, i + 1) for i in range(10, 18)]        # chain 10..18
             + [(1, 2), (2, 3), (1, 3)]                 # clique {1,2,3}
             + [(40, 41)]                               # pair
             + [(99, 7)])                               # cross edge
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {(r["id"], r["comp"])
           for r in dup_components(df, max_iter=20).collect()}

    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    want = {(x, find(x)) for x in parent}
    assert got == want
    # chain collapsed to one component rooted at its min
    assert (18, 10) in got


def test_near_dedup_keeps_component_minimum(spark):
    """near_dedup drops everything but the min-id doc per component and
    leaves unpaired docs untouched."""
    from search_engine_tr_spark.operators.dedup import near_dedup

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in (1, 2, 3, 7, 9)], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    kept = sorted(r["doc_id"] for r in near_dedup(docs, pairs).collect())
    assert kept == [1, 7, 9]


def test_dup_components_raises_on_non_convergence(spark):
    import pytest

    from search_engine_tr_spark.operators.dedup import dup_components

    # 61-node path: pointer jumping needs ~log rounds, so 2 can't converge
    chain = spark.createDataFrame([(i, i + 1) for i in range(0, 60)],
                                  "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dup_components(chain, max_iter=2)


def test_dup_components_long_chain_converges_fast(spark):
    """A 201-node path (diameter 200) must converge well within the
    default round budget — the pointer-jumping guarantee; plain
    min-label propagation would need 200 rounds."""
    from search_engine_tr_spark.operators.dedup import dup_components

    chain = spark.createDataFrame([(i, i + 1) for i in range(0, 200)],
                                  "id_a long, id_b long")
    cached = _persistent_rdds(spark)
    got = dup_components(chain, max_iter=12).collect()
    assert {r["comp"] for r in got} == {0}
    assert len(got) == 201
    # each round's checkpoint is released: the edges and the final labels
    # stay cached, not one frame per round
    assert _persistent_rdds(spark) - cached <= 2


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_dup_components_star_vs_union_find(spark):
    """Large-star/small-star contraction agrees with union-find on a mix
    of chain + clique + pair + cross edge, and on a seeded random graph
    (the adversarial-graph variant of dup_components; VERDICT r4 #2)."""
    import random

    from search_engine_tr_spark.operators.dedup import (dup_components,
                                                        dup_components_star)

    def uf(edges):
        parent = {}
        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {(x, find(x)) for x in parent}

    mixed = ([(i, i + 1) for i in range(10, 18)]
             + [(1, 2), (2, 3), (1, 3)] + [(40, 41)] + [(99, 7)])
    rng = random.Random(61)
    rand = [(rng.randrange(500), rng.randrange(500)) for _ in range(400)]
    rand = [(a, b) for a, b in rand if a != b]
    for edges in (mixed, rand):
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {(r["id"], r["comp"])
               for r in dup_components_star(df, max_iter=20).collect()}
        assert got == uf(edges)
        # both variants implement the same contract
        jump = {(r["id"], r["comp"])
                for r in dup_components(df, max_iter=30).collect()}
        assert got == jump


def test_dup_components_star_long_chain(spark):
    """201-node path (diameter 200) converges within the O(log n) round
    budget, like the pointer-jumping variant."""
    from search_engine_tr_spark.operators.dedup import dup_components_star

    chain = spark.createDataFrame([(i, i + 1) for i in range(0, 200)],
                                  "id_a long, id_b long")
    cached = _persistent_rdds(spark)
    got = dup_components_star(chain, max_iter=12).collect()
    assert {r["comp"] for r in got} == {0}
    assert len(got) == 201
    # edges, nodes and labels stay cached; no per-round edge set does
    assert _persistent_rdds(spark) - cached <= 3


def test_dup_components_star_edge_set_contracts(spark):
    """The property that motivates the variant: on a large component the
    working edge set SHRINKS round over round toward one star edge per
    non-root node, where label propagation re-joins the full edge set
    every round. A 4-regular-ish 300-node single component ends at
    exactly n-1 star edges."""
    import random

    from search_engine_tr_spark.operators.dedup import (_large_star,
                                                        _small_star)
    from pyspark.sql import functions as F

    rng = random.Random(67)
    n = 300
    edges = [(i, i + 1) for i in range(n - 1)]  # connected spine
    edges += [(rng.randrange(n), rng.randrange(n)) for _ in range(3 * n)]
    edges = [(a, b) for a, b in edges if a != b]
    df = (spark.createDataFrame(edges, "src long, dst long")
          .select(F.least("src", "dst").alias("src"),
                  F.greatest("src", "dst").alias("dst")).distinct())
    start = df.count()
    cur = df
    for _ in range(10):
        nxt = _small_star(_large_star(cur)).localCheckpoint()
        if nxt.count() == cur.count():
            sym_diff = nxt.exceptAll(cur).count() + cur.exceptAll(nxt).count()
            if sym_diff == 0:
                cur = nxt
                break
        cur = nxt
    final = cur.count()
    assert final == n - 1          # one star edge per non-root
    assert final < start           # strictly contracted
    assert cur.filter(F.col("dst") != 0).count() == 0  # all point at min


def test_image_features_batch_parity():
    """The batch-vectorized feature path must be bit-identical to the
    per-payload reference on every payload class: canonical P6/P5 of
    varied shapes, maxval!=255, comment headers, truncated rasters, and
    non-netpbm junk (stub path)."""
    import numpy as np
    import pytest

    from search_engine_tr_spark.operators import multimodal as mm

    rng = np.random.RandomState(71)
    payloads = []
    for (w, h) in [(8, 8), (8, 8), (5, 3), (1, 1), (16, 2)]:
        payloads.append(mm.encode_ppm(
            rng.randint(0, 256, (h, w, 3)).astype(np.uint8)))
    payloads.append(b"P5 4 4 255\n" + bytes(rng.randint(0, 256, 16).tolist()))
    payloads.append(b"P6 2 2 100\n" + bytes(rng.randint(0, 101, 12).tolist()))
    payloads.append(b"P6\n# comment\n2 2 255\n" + bytes(12))
    payloads.append(b"P6 4 4 255\n" + bytes(10))       # truncated raster
    payloads.append(b"\x89PNG junkjunkjunk")           # stub path
    payloads.append(b"")                               # empty stub
    got = mm._image_features_batch(payloads)
    for g, p in zip(got, payloads):
        want = mm._image_features(p)
        assert g.dtype == want.dtype == np.float32
        assert np.array_equal(g, want), p[:20]
    with pytest.raises(ValueError, match="null payload"):
        mm._image_features_batch([payloads[0], None])


def test_skew_guards_default_on(spark, caplog):
    """VERDICT r4 #4: the skew guards ship ON. An adversarial corpus where
    one token / signature bucket absorbs >DEFAULT docs gets its quadratic
    unit dropped (and logged), bounding the candidate join; uncapped mode
    is an explicit None opt-in."""
    import logging

    from search_engine_tr_spark.operators.dedup import (
        DEFAULT_MAX_BUCKET_SIZE, DEFAULT_MAX_TOKEN_DF, minhash_lsh_pairs,
        token_jaccard_pairs)
    from search_engine_tr_spark.operators.similarity import \
        pairwise_cosine_dupes

    n = DEFAULT_MAX_TOKEN_DF + 1
    docs = spark.createDataFrame(
        [(i, f"ortak kelime u{i}") for i in range(n)],
        "doc_id long, text string")
    with caplog.at_level(logging.WARNING):
        # every pair shares only the capped tokens -> zero candidates
        assert token_jaccard_pairs(docs, threshold=0.3).count() == 0
    assert any("above df cap" in r.message for r in caplog.records)
    caplog.clear()

    same = spark.createDataFrame(
        [(i, "tamamen aynı metin tekrar ediyor burada") for i in range(n)],
        "doc_id long, text string")
    with caplog.at_level(logging.WARNING):
        assert minhash_lsh_pairs(same, num_hashes=8, bands=4,
                                 threshold=0.5).count() == 0
    assert any("hot band-bucket" in r.message for r in caplog.records)
    caplog.clear()

    vecs = spark.createDataFrame(
        [(i, [1.0, 0.25]) for i in range(DEFAULT_MAX_BUCKET_SIZE + 1)],
        "vec_id long, embedding array<double>")
    with caplog.at_level(logging.WARNING):
        assert pairwise_cosine_dupes(vecs, threshold=0.5).count() == 0
    assert any("hot bucket" in r.message for r in caplog.records)

    # explicit opt-out restores the exact uncapped behavior
    small = spark.createDataFrame(
        [(1, "elma armut kiraz"), (2, "elma armut vişne")],
        "doc_id long, text string")
    assert token_jaccard_pairs(small, threshold=0.4,
                               max_token_df=None).count() == 1
    few = spark.createDataFrame([(i, [1.0, 0.25]) for i in range(3)],
                                "vec_id long, embedding array<double>")
    assert pairwise_cosine_dupes(few, threshold=0.5,
                                 max_bucket_size=None).count() == 3
