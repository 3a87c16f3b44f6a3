from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dev_clickhouse_spark.llm.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
    simhash_hex,
    simhash_signatures,
    verify_jaccard,
)
from dev_clickhouse_spark.llm.multimodal import (
    attach_media,
    extract_features,
    real_decode,
)
from dev_clickhouse_spark.llm.similarity import cosine_topk, lsh_bucket_topk


def docs_df(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy cat again and again today"
    other = "completely different content about spark query engines at scale"
    return spark.createDataFrame(
        [(0, base), (1, base), (2, near), (3, other), (4, "tiny doc")],
        "doc_id long, text string",
    )


def test_minhash_lsh_finds_near_dups(spark):
    docs = docs_df(spark)
    sigs = minhash_signatures(docs)
    rows = {r.doc_id: r for r in sigs.collect()}
    # identical docs → identical signatures and bands
    assert rows[0].minhash == rows[1].minhash
    assert rows[0].bands == rows[1].bands
    # sub-shingle-length doc → null signature, excluded from banding
    assert rows[4].minhash is None

    cands = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(sigs).collect()}
    assert (0, 1) in cands            # exact dup always collides
    assert (0, 2) in cands or (1, 2) in cands  # near dup collides w.h.p.
    verified = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in verify_jaccard(lsh_candidate_pairs(sigs), docs).collect()
    }
    assert verified[(0, 1)] == 1.0
    if (0, 2) in verified:
        assert 0.5 < verified[(0, 2)] < 1.0


def test_simhash_properties(spark):
    docs = docs_df(spark)
    sigs = {r.doc_id: r.simhash for r in simhash_signatures(docs).collect()}
    assert sigs[0] == sigs[1]                      # deterministic
    assert len(sigs[0]) == 16
    ham = lambda a, b: sum(  # noqa: E731
        bin(int(x, 16) ^ int(y, 16)).count("1") for x, y in zip(a, b)
    )
    # near-dup is closer in hamming space than an unrelated doc
    assert ham(sigs[0], sigs[2]) < ham(sigs[0], sigs[3])
    # deterministic on empty text too ("".split(" ") == [""], like DuckDB)
    assert simhash_hex("") == simhash_hex("")
    assert len(simhash_hex("")) == 16


def test_dedup_clusters_and_keep_list(spark):
    from dev_clickhouse_spark.llm.dedup import dedup_clusters, deduped_keep_list

    # chain 1-2-3 (transitive), pair 7-9, singleton 5 untouched
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "doc_a long, doc_b long"
    )
    clusters = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert clusters == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}

    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 5, 7, 9)], "doc_id long")
    kept = {r.doc_id for r in deduped_keep_list(pairs, docs).collect()}
    assert kept == {1, 5, 7}   # canonical per cluster + untouched docs


def test_cosine_topk_exact(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),   # closest to 0
            (2, [0.0, 1.0, 0.0]),
            (3, [-1.0, 0.0, 0.0]),  # antipode
        ],
        "vec_id long, embedding array<float>",
    )
    out = cosine_topk(emb, emb.filter("vec_id = 0"), k=3).collect()
    assert [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)] == [1, 2, 3]
    assert out[0].cosine <= 1.0


def test_lsh_bucket_topk_subset_of_exact(spark):
    import random

    random.seed(7)
    rows = [
        (i, [random.uniform(-1, 1) for _ in range(16)]) for i in range(100)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    approx = lsh_bucket_topk(emb, emb.filter("vec_id < 5"), dim=16, k=3)
    got = approx.collect()
    # every returned neighbor shares the query's bucket → cosine of rank-1
    # should be decent; structural checks: ranks contiguous per query
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_rolling_hash_fingerprints(spark):
    from dev_clickhouse_spark.llm.text import rolling_hash_fingerprints

    base = "the quick brown fox jumps over the lazy dog and keeps running on"
    docs = spark.createDataFrame(
        [(0, base), (1, base), (2, base.replace("dog", "cat")), (3, "short")],
        "doc_id long, text string",
    )
    fps = {r.doc_id: r.fingerprints for r in rolling_hash_fingerprints(docs).collect()}
    assert fps[0] == fps[1]                        # deterministic
    assert fps[3] == []                            # shorter than the window
    # near-dup shares most fingerprint material with the original
    shared = len(set(fps[0]) & set(fps[2]))
    assert shared >= 1
    assert fps[0] != fps[2]


def test_multimodal_resize_and_frames(spark):
    from dev_clickhouse_spark.llm.multimodal import (
        attach_media,
        resize_images,
        sample_frames,
    )

    docs = spark.createDataFrame(
        [(1, "x" * 100, "s1"), (2, "y" * 50, "s1")],
        "doc_id long, text string, source string",
    )
    media = attach_media(docs)
    resized = resize_images(media, width=32, height=32).collect()
    assert len(resized) == 2
    assert all(r.width == 32 and r.height == 32 for r in resized)
    assert all(len(bytes(r.payload)) <= 32 * 32 // 64 for r in resized)

    frames = sample_frames(media, n_frames=4).collect()
    assert len(frames) == 8                       # fan-out: 4 frames per video
    per_media = {}
    for f in frames:
        per_media.setdefault(f.media_id, []).append(f.frame_index)
    assert all(sorted(v) == [0, 1, 2, 3] for v in per_media.values())


def test_multimodal_stub(spark):
    docs = spark.createDataFrame([(1, "abc", "s1")], "doc_id long, text string, source string")
    media = attach_media(docs)
    assert dict(media.dtypes)["payload"] == "binary"
    feats = extract_features(media).collect()
    assert feats[0].features == [3.0, 97.0, 99.0, float((97 + 98 + 99) % 997)]
    with pytest.raises(NotImplementedError):
        real_decode(b"x", "image")
    # real-decode path surfaces the NotImplementedError through the engine
    with pytest.raises(Exception):
        extract_features(media, use_real_decode=True).collect()


def test_ngram_df_cap_bounds_boilerplate(spark):
    from dev_clickhouse_spark.llm.dedup import (
        ngram_candidate_pairs,
        ngram_shingles,
        ngram_verify_pairs,
    )
    import pyspark.sql.functions as F

    # 40 docs that share ONLY one boilerplate shingle ("subscribe to newsletter")
    # plus unique content; 2 genuine near-dups sharing rare shingles.
    boiler = "subscribe to newsletter"
    rows = [(i, f"{boiler} unique{i} filler{i} content{i} words{i}") for i in range(40)]
    long = "rare alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu xi"
    rows += [
        (100, long + " omicron"),   # 16 tokens, differ only in the last
        (101, long + " pi"),        # → J = 13/15 ≈ 0.867 ≥ threshold
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = ngram_shingles(docs)

    # uncapped: the boilerplate shingle alone yields 40*39/2 = 780 candidates
    uncapped = ngram_candidate_pairs(sh, df_cap=10_000).count()
    assert uncapped >= 780

    # capped at 10: boilerplate posting list (len 40) is dropped entirely;
    # only the rare-shingle pair survives candidate generation
    capped = ngram_candidate_pairs(sh, df_cap=10)
    cand = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert cand == {(100, 101)}

    # exact verify still measures the FULL shingle sets
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    verified = ngram_verify_pairs(capped, sh, sizes).collect()
    assert [(r.doc_a, r.doc_b) for r in verified] == [(100, 101)]
    assert 0.5 < verified[0].jaccard < 1.0


def test_dedup_clusters_warns_on_non_convergence(spark):
    import warnings as w

    from dev_clickhouse_spark.llm.dedup import dedup_clusters

    # path graph 0-1-2-...-8: label needs ~8 rounds to reach the far end
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "doc_a long, doc_b long"
    )
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        dedup_clusters(pairs, max_iterations=2).collect()
    assert any("did not converge" in str(c.message) for c in caught)

    # with enough rounds it converges silently to one cluster
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        labels = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert not any("did not converge" in str(c.message) for c in caught)
    assert set(labels.values()) == {0}


def test_lang_id_char_ngrams_accuracy(spark):
    """Held-out sentences (not in the seed corpora) must classify correctly."""
    from dev_clickhouse_spark.llm.text import lang_id_predict

    fixtures = [
        (0, "en", "many people enjoy reading books about distant countries and their cultures"),
        (1, "en", "this software processes large amounts of information very quickly"),
        (2, "es", "muchas personas disfrutan leyendo libros sobre países lejanos y sus culturas"),
        (3, "es", "este programa procesa grandes cantidades de información muy rápidamente"),
        (4, "de", "viele menschen lesen gerne bücher über ferne länder und ihre kulturen"),
        (5, "de", "diese software verarbeitet sehr schnell große mengen von informationen"),
        (6, "fr", "beaucoup de gens aiment lire des livres sur des pays lointains et leurs cultures"),
        (7, "fr", "ce logiciel traite très rapidement de grandes quantités de données"),
        (8, "xx", "ab"),   # too short for a trigram: deterministic fallback
    ]
    docs = spark.createDataFrame(fixtures, "doc_id long, lang string, text string")
    got = {r.doc_id: (r.lang, r.predicted_lang)
           for r in lang_id_predict(docs).collect()}
    wrong = {k: v for k, v in got.items() if k < 8 and v[0] != v[1]}
    assert not wrong, wrong
    assert got[8][1] == "de"   # fallback = first lang code, never an error


def test_hash_split_deterministic_and_stable(spark):
    from dev_clickhouse_spark.llm.sampling import hash_split

    docs = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    a = {r.doc_id: r.split for r in hash_split(docs, "doc_id").collect()}
    b = {r.doc_id: r.split for r in hash_split(docs.repartition(7), "doc_id").collect()}
    assert a == b                                   # partitioning-independent

    # fractions near 80/10/10 over the hash space
    from collections import Counter
    frac = Counter(a.values())
    assert 0.75 < frac["train"] / 2000 < 0.85
    assert 0.07 < frac["val"] / 2000 < 0.13
    assert 0.07 < frac["test"] / 2000 < 0.13

    # incremental append stability: a doc's split never changes when new
    # docs arrive (the property random() splits lack)
    subset = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    sub = {r.doc_id: r.split for r in hash_split(subset, "doc_id").collect()}
    assert all(a[k] == v for k, v in sub.items())


def test_stratified_sample_exact_n_per_group(spark):
    from dev_clickhouse_spark.llm.sampling import stratified_sample

    rows = [(i, f"s{i % 4}") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = stratified_sample(df, "source", 3, "doc_id").collect()
    from collections import Counter
    per = Counter(r.source for r in out)
    assert per == {"s0": 3, "s1": 3, "s2": 3, "s3": 3}
    again = stratified_sample(df.repartition(5), "source", 3, "doc_id").collect()
    assert sorted((r.source, r.doc_id) for r in out) == sorted(
        (r.source, r.doc_id) for r in again
    )


def test_pack_context_windows_budget(spark):
    from dev_clickhouse_spark.llm.sampling import pack_context_windows
    import pyspark.sql.functions as F

    rows = [(i, "s", "tok " * 50) for i in range(10)]           # 51 tokens each
    rows += [(100, "big", "x " * 5000)]                         # over budget alone
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = pack_context_windows(df, budget_tokens=128).collect()

    by_win = {}
    for r in out:
        by_win.setdefault((r.source, r.window_id), []).append(r)
    for (src, win), members in by_win.items():
        if len(members) > 1:        # multi-doc windows respect the budget start
            assert all(m.tokens_before < 128 * (win + 1) for m in members)
    # windows are contiguous per source starting at 0
    wins = sorted(w for s, w in by_win if s == "s")
    assert wins == list(range(wins[-1] + 1))
    # the oversized doc occupies its own window
    big = [r for r in out if r.source == "big"]
    assert len(big) == 1 and big[0].window_id == 0 and big[0].n_tokens > 128


def test_l2_normalize(spark):
    import math

    from dev_clickhouse_spark.llm.sampling import l2_normalize

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])], "id long, v array<double>"
    ).select("id", l2_normalize("v").alias("n"))
    got = {r.id: r.n for r in df.collect()}
    assert abs(math.hypot(*got[1]) - 1.0) < 1e-12
    assert got[1][0] == 0.6 and got[1][1] == 0.8
    assert got[2] == [0.0, 0.0]     # zero vector: no NaNs


def test_quality_filter_reasons_and_keep(spark):
    from dev_clickhouse_spark.llm.text import quality_filter, quality_keep

    rows = [
        (0, "a solid document with plenty of reasonable and varied words here today"),
        (1, "tiny"),                                      # too_short
        (2, "the a of and the a of and the a of and"),    # stopword_heavy
        (3, "spam " * 40),                                # repetitive
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.drop_reason for r in quality_filter(docs).collect()}
    assert got[0] is None
    assert got[1] == "too_short"
    assert got[2] == "stopword_heavy"
    assert got[3] == "repetitive"
    kept = {r.doc_id for r in quality_keep(docs).collect()}
    assert kept == {0}


def _make_bmp(pixels):
    """pixels: list of rows of (r,g,b) tuples → 24-bit BMP bytes."""
    import numpy as np

    from dev_clickhouse_spark.llm.multimodal import encode_bmp
    return encode_bmp(np.array(pixels, dtype="uint8"))


def _make_wav(samples, rate=8000):
    import struct

    import numpy as np
    data = np.asarray(samples, dtype="<i2").tobytes()
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )


def test_real_decode_bmp_wav_roundtrip():
    import numpy as np

    from dev_clickhouse_spark.llm.multimodal import (
        decode_bmp,
        decode_wav,
        real_decode,
    )

    # 2x2 image: red, green / blue, white — decode must round-trip exactly
    px = [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (255, 255, 255)]]
    bmp = _make_bmp(px)
    assert (decode_bmp(bmp) == np.array(px, dtype="uint8")).all()

    w, h, r, g, b, std = real_decode(bmp, "image")
    assert (w, h) == (2.0, 2.0)
    assert (r, g, b) == (127.5, 127.5, 127.5)   # each channel: two 255s, two 0s
    assert std > 0

    wav = _make_wav([0, 1000, -1000, 0], rate=16000)
    rate, samples = decode_wav(wav)
    assert rate == 16000 and samples.tolist() == [0, 1000, -1000, 0]
    sr, n, rms, peak = real_decode(wav, "audio")
    assert (sr, n, peak) == (16000.0, 4.0, 1000.0)
    assert abs(rms - np.sqrt((0 + 1000**2 + 1000**2 + 0) / 4)) < 1e-9

    # codecs that genuinely need external libs still raise; a JPEG magic with
    # garbage after it is now a parse error from the real decoder, not a stub
    import pytest
    with pytest.raises(ValueError):
        real_decode(b"\xff\xd8\xff\xe0jpeg...", "image")
    with pytest.raises(NotImplementedError):
        real_decode(b"ID3mp3...", "audio")


def test_real_decode_through_engine(spark):
    from dev_clickhouse_spark.llm.multimodal import extract_features, resize_images

    bmp = _make_bmp([[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (255, 255, 255)]])
    wav = _make_wav([100, -100] * 50)
    media = spark.createDataFrame(
        [(1, "image", bytearray(bmp), (len(bmp), "image/bmp", "s1")),
         (2, "audio", bytearray(wav), (len(wav), "audio/wav", "s1"))],
        "media_id long, media_type string, payload binary, "
        "meta struct<n_bytes:long, mime:string, source:string>",
    )
    feats = {r.media_id: r.features for r in
             extract_features(media, use_real_decode=True).collect()}
    assert feats[1][:2] == [2.0, 2.0]           # decoded image dims
    assert feats[2][0] == 8000.0                # decoded sample rate
    assert feats[2][3] == 100.0                 # peak amplitude

    # real resize: 2x2 → 4x4 nearest-neighbor, decodable output
    from dev_clickhouse_spark.llm.multimodal import decode_bmp
    out = resize_images(media.filter("media_id = 1"), width=4, height=4,
                        use_real_decode=True).collect()
    px = decode_bmp(bytes(out[0].payload))
    assert px.shape == (4, 4, 3)
    assert px[0][0].tolist() == [255, 0, 0]     # top-left replicated red
    assert px[3][3].tolist() == [255, 255, 255]


def _png_with_filters(rgb, filters):
    """Hand-filter rows per PNG spec §9 (the inverse of decode_png's
    unfiltering) so every filter type gets exercised on decode."""
    import struct
    import zlib

    import numpy as np

    from dev_clickhouse_spark.llm.multimodal import PNG_MAGIC

    h, w, _ = rgb.shape
    stride = w * 3
    flat = rgb.reshape(h, stride).astype(np.int32)
    prev = np.zeros(stride, dtype=np.int32)
    raw = bytearray()
    for y in range(h):
        f = filters[y % len(filters)]
        raw.append(f)
        for x in range(stride):
            a = int(flat[y, x - 3]) if x >= 3 else 0
            b = int(prev[x])
            c = int(prev[x - 3]) if x >= 3 else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            raw.append((int(flat[y, x]) - pred) & 0xFF)
        prev = flat[y]

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b""))


def test_png_decode_all_filters_and_roundtrip():
    import numpy as np

    from dev_clickhouse_spark.llm.multimodal import (
        decode_png,
        encode_png,
        real_decode,
    )

    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
    # one image per filter type, plus one cycling through all five
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        png = _png_with_filters(rgb, filters)
        assert (decode_png(png) == rgb).all(), f"filters {filters}"
    # encoder output round-trips through the decoder
    assert (decode_png(encode_png(rgb)) == rgb).all()
    # real_decode routes PNG payloads to pixel features
    w, h, r, g, b, std = real_decode(encode_png(rgb), "image")
    assert (w, h) == (5.0, 6.0)
    assert abs(r - rgb[:, :, 0].mean()) < 1e-9
    # RGBA (color type 6) decodes with alpha dropped
    import struct
    import zlib as _z

    from dev_clickhouse_spark.llm.multimodal import PNG_MAGIC
    rgba = np.dstack([rgb, np.full((6, 5), 128, np.uint8)])
    scan = np.zeros((6, 5 * 4 + 1), dtype=np.uint8)
    scan[:, 1:] = rgba.reshape(6, 20)

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", _z.crc32(typ + data) & 0xFFFFFFFF))

    png6 = (PNG_MAGIC + chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 6, 8, 6, 0, 0, 0))
            + chunk(b"IDAT", _z.compress(scan.tobytes())) + chunk(b"IEND", b""))
    assert (decode_png(png6) == rgb).all()


def test_png_through_resize_pipeline(spark):
    import numpy as np

    from dev_clickhouse_spark.llm.multimodal import (
        decode_png,
        encode_png,
        resize_images,
    )

    rng = np.random.default_rng(11)
    rgb = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    media = spark.createDataFrame(
        [(1, "image", bytearray(encode_png(rgb)), (len(encode_png(rgb)), "image/png", "t"))],
        "media_id long, media_type string, payload binary, "
        "meta struct<n_bytes:long, mime:string, source:string>",
    )
    out = resize_images(media, width=4, height=4, use_real_decode=True).collect()
    assert len(out) == 1 and (out[0].width, out[0].height) == (4, 4)
    resized = decode_png(bytes(out[0].payload))
    assert resized.shape == (4, 4, 3)
    # nearest-neighbor: every resized pixel exists at the sampled source coords
    ys = (np.arange(4) * 8 // 4).clip(0, 7)
    xs = (np.arange(4) * 8 // 4).clip(0, 7)
    assert (resized == rgb[ys][:, xs]).all()


def test_gif_decode_hand_built_spec_vector():
    """Decoder vs a byte stream packed by hand from the GIF89a spec: 2x2,
    two colors, codes [clear,0,1,1] at 3 bits then [0,end] at 4 bits
    (the table hits 2^3 entries after the second '1', so the code width
    grows mid-stream), LSB-first packed = 44 02 05."""
    import numpy as np

    from dev_clickhouse_spark.llm.multimodal import decode_gif

    gif = bytes(
        b"GIF89a"
        + bytes([2, 0, 2, 0, 0x81, 0, 0])          # LSD: 2x2, 4-entry GCT
        + bytes([255, 0, 0, 0, 0, 255, 0, 0, 0, 0, 0, 0])  # red, blue, pad x2
        + bytes([0x2C, 0, 0, 0, 0, 2, 0, 2, 0, 0]) # image descriptor
        + bytes([2, 3, 0x44, 0x02, 0x05, 0])       # min code 2, LZW, term
        + bytes([0x3B])
    )
    frames = decode_gif(gif)
    assert frames.shape == (1, 2, 2, 3)
    red, blue = [255, 0, 0], [0, 0, 255]
    assert frames[0].tolist() == [[red, blue], [blue, red]]


def test_gif_roundtrip_multiframe_and_sampling(spark):
    import numpy as np

    from dev_clickhouse_spark.llm.multimodal import (
        decode_gif,
        decode_png,
        encode_gif,
        real_decode,
        sample_frames,
    )

    rng = np.random.default_rng(5)
    palette = rng.integers(0, 256, size=(17, 3), dtype=np.uint8)
    frames = palette[rng.integers(0, 17, size=(6, 10, 12))]
    gif = encode_gif(frames)
    assert (decode_gif(gif) == frames).all()

    # 256-color single frame forces LZW code-size growth past 9 bits
    big = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)[
        rng.integers(0, 256, size=(1, 64, 64))
    ]
    assert (decode_gif(encode_gif(big)) == big).all()

    n, w, h, g_mean, g_std = real_decode(gif, "video")
    assert (n, w, h) == (6.0, 12.0, 10.0)
    assert abs(g_mean - frames.astype(np.float64).mean(axis=3).mean()) < 1e-9

    media = spark.createDataFrame(
        [(7, "video", bytearray(gif), (len(gif), "image/gif", "t"))],
        "media_id long, media_type string, payload binary, "
        "meta struct<n_bytes:long, mime:string, source:string>",
    )
    out = sorted(
        sample_frames(media, n_frames=3, use_real_decode=True).collect(),
        key=lambda r: r.frame_index,
    )
    # 3 evenly-spaced real frames (0, 2.5->2, 5) re-encoded as PNG
    assert [r.frame_index for r in out] == [0, 1, 2]
    for r, src_idx in zip(out, [0, 2, 5]):
        assert (decode_png(bytes(r.frame_payload)) == frames[src_idx]).all()


def test_png_grayscale_and_palette_color_types():
    import struct
    import zlib as _z

    import numpy as np

    from dev_clickhouse_spark.llm.multimodal import PNG_MAGIC, decode_png

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", _z.crc32(typ + data) & 0xFFFFFFFF))

    # grayscale (type 0): values replicate to all three channels
    gray = np.arange(12, dtype=np.uint8).reshape(3, 4)
    scan = np.zeros((3, 5), dtype=np.uint8)
    scan[:, 1:] = gray
    png0 = (PNG_MAGIC
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 3, 8, 0, 0, 0, 0))
            + chunk(b"IDAT", _z.compress(scan.tobytes())) + chunk(b"IEND", b""))
    out = decode_png(png0)
    assert out.shape == (3, 4, 3)
    assert (out[:, :, 0] == gray).all() and (out[:, :, 1] == gray).all()

    # palette (type 3): indices map through PLTE
    palette = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8)
    idx = np.array([[0, 1], [2, 1]], dtype=np.uint8)
    scan = np.zeros((2, 3), dtype=np.uint8)
    scan[:, 1:] = idx
    png3 = (PNG_MAGIC
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
            + chunk(b"PLTE", palette.tobytes())
            + chunk(b"IDAT", _z.compress(scan.tobytes())) + chunk(b"IEND", b""))
    assert (decode_png(png3) == palette[idx]).all()

    # out-of-range palette index must raise, not wrap
    bad = scan.copy()
    bad[0, 1] = 9
    png_bad = (PNG_MAGIC
               + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
               + chunk(b"PLTE", palette.tobytes())
               + chunk(b"IDAT", _z.compress(bad.tobytes())) + chunk(b"IEND", b""))
    import pytest
    with pytest.raises(ValueError):
        decode_png(png_bad)


def test_jpeg_codec_roundtrips():
    """Baseline JPEG codec (pure numpy): flat blocks are EXACT at quant=1
    (integer DC-only spectra — the property the driver oracle gates);
    arbitrary content round-trips within the DCT float/rounding envelope;
    4:2:0 subsampling and a coarser quant step decode sanely."""
    import numpy as np

    from dev_clickhouse_spark.llm.jpeg import decode_jpeg, encode_jpeg

    # flat 8x8 blocks: exact (DC prediction chain across 4 MCUs included)
    img = np.block([
        [np.full((8, 8), 65, np.uint8), np.full((8, 8), 200, np.uint8)],
        [np.full((8, 8), 0, np.uint8), np.full((8, 8), 255, np.uint8)],
    ])
    back = decode_jpeg(encode_jpeg(img, quant=1))
    assert back.shape == (16, 16, 3)
    for a, b in ((0, 0), (0, 8), (8, 0), (8, 8)):
        assert np.all(back[a:a + 8, b:b + 8] == img[a, b])

    rng = np.random.default_rng(42)
    # arbitrary grayscale, non-multiple-of-8 dims
    g = rng.integers(0, 256, (24, 17), dtype=np.uint8)
    back = decode_jpeg(encode_jpeg(g, quant=1))
    assert back.shape == (24, 17, 3)
    assert np.abs(back[:, :, 0].astype(int) - g.astype(int)).max() <= 2

    # color 4:4:4: adds the YCbCr conversion rounding
    c = rng.integers(0, 256, (19, 21, 3), dtype=np.uint8)
    back = decode_jpeg(encode_jpeg(c, quant=1))
    assert np.abs(back.astype(int) - c.astype(int)).max() <= 4

    # 4:2:0 with constant chroma: subsampling is lossless on the chroma
    y = rng.integers(0, 256, (32, 32), dtype=np.uint8)
    c420 = np.stack([y, y, y], axis=2)
    back = decode_jpeg(encode_jpeg(c420, quant=1, subsample=True))
    assert np.abs(back.astype(int) - c420.astype(int)).max() <= 2

    # coarser quantization still decodes (lossy but bounded)
    back = decode_jpeg(encode_jpeg(c, quant=8))
    assert np.abs(back.astype(int) - c.astype(int)).max() <= 48


def test_jpeg_real_decode_and_boundaries():
    import numpy as np
    import pytest

    from dev_clickhouse_spark.llm.jpeg import encode_jpeg
    from dev_clickhouse_spark.llm.multimodal import real_decode

    img = np.full((16, 16), 100, np.uint8)
    feats = real_decode(encode_jpeg(img, quant=1), "image")
    assert feats[0] == 16.0 and feats[1] == 16.0      # width, height
    assert feats[2] == feats[3] == feats[4] == 100.0  # channel means
    assert feats[5] == 0.0                            # flat → zero std

    # progressive JPEG (SOF2) decodes for real since round 8
    from dev_clickhouse_spark.llm.jpeg import encode_jpeg_progressive

    pfeats = real_decode(encode_jpeg_progressive(img, quant=1), "image")
    assert pfeats == feats

    # a truncated SOF is malformed data (ValueError), not a mode boundary
    with pytest.raises(ValueError, match="truncated"):
        real_decode(b"\xff\xd8\xff\xc2" + bytes(20), "image")


def test_jpeg_progressive_bit_identical_to_baseline():
    """Progressive (SOF2) decode correctness, round 8: the 10-scan
    progressive script of ``encode_jpeg_progressive`` (DC first/refine
    interleaved + per-component spectral-band AC first/refine) transmits
    every coefficient bit, so decoding it must be BIT-IDENTICAL to decoding
    the baseline encoding of the same image at the same quant — this pins
    all four Annex G scan decoders (EOB runs, correction bits,
    newly-significant inserts, successive-approximation shifts) against the
    already-oracle-gated baseline path, with no external test vectors."""
    import numpy as np

    from dev_clickhouse_spark.llm.jpeg import (
        decode_jpeg, encode_jpeg, encode_jpeg_progressive,
    )

    rng = np.random.default_rng(7)
    cases = [
        rng.integers(0, 256, (16, 16), dtype=np.uint8),      # gray, aligned
        rng.integers(0, 256, (13, 19, 3), dtype=np.uint8),   # rgb, ragged
        rng.integers(0, 256, (40, 40, 3), dtype=np.uint8),   # many blocks
        np.zeros((8, 8), dtype=np.uint8),                    # all-EOB bands
        np.full((24, 24, 3), 201, dtype=np.uint8),           # flat color
    ]
    for img in cases:
        for quant in (1, 4):
            base = decode_jpeg(encode_jpeg(img, quant=quant))
            prog = decode_jpeg(encode_jpeg_progressive(img, quant=quant))
            assert np.array_equal(base, prog), (img.shape, quant)

    # flat gray-in-RGB is EXACT end-to-end at quant=1 (integer DC spectra)
    flat = np.full((16, 16, 3), 77, np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg_progressive(flat, quant=1)), flat
    )

    # progressive DC scan with Se != 0 is rejected, not mis-decoded
    import pytest

    from dev_clickhouse_spark.llm.jpeg import ZIGZAG  # noqa: F401

    enc = encode_jpeg(np.full((8, 8), 9, np.uint8), quant=1)
    i = enc.find(b"\xff\xc0")
    fake_prog = enc[:i] + b"\xff\xc2" + enc[i + 2:]  # baseline scan under SOF2
    with pytest.raises(ValueError, match="Se=0"):
        decode_jpeg(fake_prog)


def test_jpeg_unsupported_envelope_takes_stub_fallback():
    """Valid baseline JPEGs OUTSIDE the codec envelope (Adobe CMYK
    4-component, 2-component, multi-scan non-interleaved) must surface as
    NotImplementedError — the documented stub fallback — not crash the Spark
    task with ValueError/KeyError mid-decode."""
    import struct

    import pytest

    from dev_clickhouse_spark.llm.jpeg import decode_jpeg
    from dev_clickhouse_spark.llm.multimodal import real_decode

    def sof0(nc: int) -> bytes:
        seg = struct.pack(">BHHB", 8, 8, 8, nc)
        for c in range(nc):
            seg += bytes([c + 1, 0x11, 0])
        return b"\xff\xc0" + struct.pack(">H", len(seg) + 2) + seg

    def sos(ids: list[int]) -> bytes:
        seg = bytes([len(ids)])
        for cid in ids:
            seg += bytes([cid, 0x00])
        seg += b"\x00\x3f\x00"
        return b"\xff\xda" + struct.pack(">H", len(seg) + 2) + seg

    cmyk = b"\xff\xd8" + sof0(4) + sos([1, 2, 3, 4])
    two_comp = b"\xff\xd8" + sof0(2) + sos([1, 2])
    multi_scan = b"\xff\xd8" + sof0(3) + sos([1])  # Y-only first scan
    for payload in (cmyk, two_comp, multi_scan):
        with pytest.raises(ValueError, match="not supported"):
            decode_jpeg(payload)
        with pytest.raises(NotImplementedError, match="not supported"):
            real_decode(payload, "image")


def test_jpeg_through_resize_pipeline(spark):
    import numpy as np

    from dev_clickhouse_spark.llm.jpeg import decode_jpeg, encode_jpeg
    from dev_clickhouse_spark.llm.multimodal import resize_images

    # gray-in-RGB flat image: Y=v, Cb=Cr=128 exactly → lossless through the
    # lossy codec, so the resized payload must decode to the same flat color
    rgb = np.full((16, 16, 3), 77, dtype=np.uint8)
    payload = encode_jpeg(rgb)
    media = spark.createDataFrame(
        [(1, "image", bytearray(payload), (len(payload), "image/jpeg", "t"))],
        "media_id long, media_type string, payload binary, "
        "meta struct<n_bytes:long, mime:string, source:string>",
    )
    out = resize_images(media, width=6, height=6, use_real_decode=True).collect()
    assert len(out) == 1 and (out[0].width, out[0].height) == (6, 6)
    resized = decode_jpeg(bytes(out[0].payload))
    assert resized.shape == (6, 6, 3)
    assert np.all(resized == 77)


def test_domain_mix_weights_properties(spark):
    """Shares sum to 1; weight × share = 1/k for every source (the flattening
    identity); reweighted mix is uniform."""
    from dev_clickhouse_spark.llm.sampling import domain_mix_weights

    rows = domain_mix_weights(spark, "/root/testdata/sf0.001").collect()
    k = len(rows)
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-3
    for r in rows:
        assert abs(r.token_share * r.uniform_weight - 1.0 / k) < 1e-3


def test_training_export_shards_cover_all_docs(spark):
    from dev_clickhouse_spark.io import load_table
    from dev_clickhouse_spark.llm.sampling import (
        N_EXPORT_SHARDS, training_export_shards,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    rows = training_export_shards(spark, "/root/testdata/sf0.001").collect()
    assert {r.shard_id for r in rows} <= set(range(N_EXPORT_SHARDS))
    assert sum(r.n_docs for r in rows) == docs.count()
    # md5 spreads uniformly: no shard is pathologically skewed
    sizes = [r.n_docs for r in rows]
    assert max(sizes) < 3 * (sum(sizes) / len(sizes))


def test_lang_id_arrow_twin_matches_explode_path(spark):
    """Edge shapes of the map-only language ID, pinned as literals (the
    DuckDB oracle pins the documents table): sub-trigram, empty and NULL
    texts take the first-language fallback, and a non-default id column
    comes out renamed to doc_id and first, then the other columns, then
    the prediction."""
    from dev_clickhouse_spark.llm.text import lang_id_predict

    edge = spark.createDataFrame(
        [(1, "ab"), (2, ""), (3, None), (4, "der die das und ist nicht"),
         (5, "the people and the children")],
        "vec_id long, text string",
    )
    out = lang_id_predict(edge, id_col="vec_id")
    assert out.columns == ["doc_id", "text", "predicted_lang"]
    assert {r.doc_id: r.predicted_lang for r in out.collect()} == {
        1: "de", 2: "de", 3: "de", 4: "de", 5: "en",
    }


def test_incremental_dedup_new_vs_corpus(spark):
    """A planted near-dup in the arriving batch must pair with its corpus
    original (doc_a = new id, doc_b = corpus id); unrelated batch docs must
    not.  The corpus contributes only its band index — the per-batch join
    never rescans corpus text except for the few verified collisions."""
    from dev_clickhouse_spark.llm.dedup import (
        corpus_band_index,
        incremental_lsh_pairs,
    )

    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep dark forest tonight")
    corpus_rows = [
        (1, base),
        (2, "completely different text about database engines and storage "
            "formats with columnar compression and vectorized execution"),
        (3, "yet another unrelated document mentioning streaming ingestion "
            "watermarks and exactly once sinks in big data pipelines"),
    ]
    new_rows = [
        (101, base + " extra"),   # near-dup of corpus doc 1
        (102, "totally novel content paragraph speaking of cooking recipes "
              "with tomatoes garlic basil and olive oil on fresh pasta"),
    ]
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")  # noqa: E731
    corpus, new = mk(corpus_rows), mk(new_rows)
    all_docs = corpus.unionByName(new)

    pairs = incremental_lsh_pairs(
        new, corpus_band_index(corpus), all_docs
    ).collect()
    assert [(r.doc_a, r.doc_b) for r in pairs] == [(101, 1)]
    assert pairs[0].jaccard >= 0.8


def test_lm_scores_rank_garbage_below_text(spark, tmp_path):
    """The perplexity proxy must rank an encoding-garbage doc below docs
    with ordinary character statistics — the property the pretraining
    filter actually uses."""
    from dev_clickhouse_spark.llm.text import lm_char_trigram_scores

    normal = ("the quick brown fox jumps over the lazy dog while the rain "
              "in spain falls mainly on the plain every single day") * 3
    rows = [
        (1, normal, "en", "web", len(normal)),
        (2, normal.replace("the", "a"), "en", "web", 10),
        (3, "zq9#x@!kv$7jw%p2&m8*rt^c4(bn)5hd-f6+g3=y1~u0`s", "xx", "web", 10),
    ]
    sf_dir = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(sf_dir + "/documents.parquet")
    got = {r.doc_id: r.avg_logprob
           for r in lm_char_trigram_scores(spark, sf_dir).collect()}
    assert set(got) == {1, 2, 3}
    assert got[3] < got[1] and got[3] < got[2]


def test_ngram_counted_path_identical_to_string_path(spark):
    """VERDICT r6 #3 contract: the counted-postings verify (packed 64-bit
    shingle hashes, intersection counts off the inverted index) must return
    the IDENTICAL pair set and jaccard values as the string-array path it
    replaced — on the real test corpus AND on a capped-boilerplate corpus
    where the capped-shingle correction term is exercised."""
    from dev_clickhouse_spark.llm.dedup import (
        ngram_candidate_pairs,
        ngram_jaccard_pairs_counted,
        ngram_shingles,
        ngram_verify_pairs,
    )

    def old_path(docs, df_cap, threshold):
        sh = ngram_shingles(docs)
        cand = ngram_candidate_pairs(sh, df_cap=df_cap)
        return ngram_verify_pairs(cand, sh, threshold=threshold)

    # corpus 1: the real documents table (has genuine near-dups)
    from dev_clickhouse_spark.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    for df_cap, threshold in ((20, 0.8), (3, 0.5)):
        old = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in old_path(docs, df_cap, threshold).collect()
        }
        new = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in ngram_jaccard_pairs_counted(
                docs, df_cap=df_cap, threshold=threshold
            ).collect()
        }
        assert new == old and old, (df_cap, threshold, len(old))

    # corpus 2: near-dup docs that ALSO share capped boilerplate — the
    # capped shingles must count in |A∩B| via the per-doc capped arrays
    boiler = "subscribe to our newsletter now"
    long = ("rare alpha beta gamma delta epsilon zeta eta theta iota "
            "kappa lam mu nu xi")
    rows = [(i, f"{boiler} unique{i} filler{i} content{i}") for i in range(30)]
    rows += [(100, f"{long} omicron {boiler}"), (101, f"{long} pi {boiler}")]
    docs2 = spark.createDataFrame(rows, "doc_id long, text string")
    old2 = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in old_path(docs2, 10, 0.5).collect()
    }
    new2 = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs_counted(
            docs2, df_cap=10, threshold=0.5
        ).collect()
    }
    assert new2 == old2 and (100, 101) in new2


def test_mp3_frame_header_walk():
    """r9 verdict #7: MP3 moves byte-stub → metadata-real via a frame
    header walk (version/layer/bitrate/rate/frame count/duration)."""
    from dev_clickhouse_spark.llm.multimodal import (
        encode_mp3,
        parse_mp3,
        probe_media_metadata,
    )

    raw = encode_mp3(5, fill=7, bitrate_kbps=128, sample_rate=44100)
    m = parse_mp3(raw)
    assert m["version"] == "MPEG1" and m["layer"] == 3
    assert m["bitrate_kbps"] == 128 and m["sample_rate"] == 44100
    assert m["n_frames"] == 5
    assert abs(m["duration_s"] - 5 * 1152 / 44100) < 1e-9
    # other bitrates/rates round-trip through the spec length formula
    for br in (32, 96, 320):
        for sr in (32000, 48000):
            got = parse_mp3(encode_mp3(2, bitrate_kbps=br, sample_rate=sr))
            assert (got["bitrate_kbps"], got["sample_rate"], got["n_frames"]) \
                == (br, sr, 2)
    # without ID3 tag the bare sync walk still parses
    bare = encode_mp3(3, with_id3=False)
    assert parse_mp3(bare)["n_frames"] == 3
    # the probe surface returns [rate, frames, kbps, duration]
    sr_, nf, kbps, dur = probe_media_metadata(raw, "audio")
    assert (sr_, nf, kbps) == (44100.0, 5.0, 128.0)
    assert dur > 0
    # garbage and ID3-only payloads are rejected, not misparsed
    import pytest as _pt

    with _pt.raises(ValueError):
        parse_mp3(b"ID3\x03\x00\x00\x00\x00\x00\x10" + b"\x00" * 16)
    with _pt.raises(ValueError):
        parse_mp3(b"\xffnot-a-frame")
    # truncated last frame is not counted
    assert parse_mp3(raw[: len(raw) - 10])["n_frames"] == 4


def test_mp4_container_metadata_walk():
    """r10 verdict #7: MP4 moves byte-stub → metadata-real via an
    ISO-BMFF ftyp/moov walk (brand, timescale, duration, track count,
    codec fourccs, video dimensions) — no sample decode."""
    import struct

    import pytest as _pt

    from dev_clickhouse_spark.llm.multimodal import (
        encode_mp4,
        parse_mp4,
        probe_media_metadata,
    )

    raw = encode_mp4(duration_s=2.5, timescale=600, width=320, height=240,
                     codec=b"avc1", n_tracks=2, mdat_fill=9)
    m = parse_mp4(raw)
    assert m["major_brand"] == "mp42"
    assert m["timescale"] == 600 and abs(m["duration_s"] - 2.5) < 1e-9
    assert m["n_tracks"] == 2
    assert m["codecs"] == ["avc1", "avc1"]
    assert (m["width"], m["height"]) == (320, 240)
    # the probe surface returns [duration, timescale, tracks, w, h]
    assert probe_media_metadata(raw, "video") == [2.5, 600.0, 2.0, 320.0,
                                                  240.0]
    # 64-bit largesize boxes parse: re-wrap moov with size==1 + largesize
    moov_start = raw.index(b"moov") - 4
    moov_size = struct.unpack(">I", raw[moov_start:moov_start + 4])[0]
    moov_body = raw[moov_start + 8:moov_start + moov_size]
    large = (struct.pack(">I", 1) + b"moov"
             + struct.pack(">Q", 16 + len(moov_body)) + moov_body)
    rewrapped = raw[:moov_start] + large + raw[moov_start + moov_size:]
    assert parse_mp4(rewrapped)["n_tracks"] == 2
    # version-1 mvhd (64-bit times) parses via the v1 offsets
    mvhd_start = raw.index(b"mvhd") - 4
    v1_body = (struct.pack(">Bxxx", 1) + struct.pack(">QQIQ", 0, 0, 1000,
                                                     7000)
               + raw[mvhd_start + 8 + 20 + 6:mvhd_start
                     + struct.unpack(">I", raw[mvhd_start:mvhd_start+4])[0]])
    v1 = struct.pack(">I", 8 + len(v1_body)) + b"mvhd" + v1_body
    doc = parse_mp4(raw[:mvhd_start] + v1
                    + raw[mvhd_start + 8 + 100:])
    assert doc["timescale"] == 1000 and abs(doc["duration_s"] - 7.0) < 1e-9
    # non-MP4 payloads are rejected, truncated tails tolerated
    with _pt.raises(ValueError):
        parse_mp4(b"RIFF" + b"\x00" * 32)
    with _pt.raises(ValueError):
        parse_mp4(raw[:20])  # ftyp only, no moov
    assert parse_mp4(raw[: len(raw) - 8])["n_tracks"] == 2  # mdat clipped


def test_dsir_upweights_target_domain_docs(spark):
    """DSIR (Xie et al. 2023) planted-distribution check: hashed-n-gram
    importance weights fit on a chemistry-vocabulary target sample must
    upweight chemistry docs in a mixed raw corpus and downweight the
    sports docs — and the composed resample keeps target-domain docs at
    a higher rate."""
    from dev_clickhouse_spark.llm.sampling import (
        dsir_log_weights, importance_resample,
    )

    chem = "acid base molecule reaction catalyst polymer ion bond".split()
    sport = "goal match team score league coach stadium referee".split()

    def doc(words, i, n=30):
        return " ".join(words[(i + j) % len(words)] for j in range(n))

    rows = [(i, doc(chem, i), "chem") for i in range(40)] + [
        (100 + i, doc(sport, i), "sport") for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, dom string")
    target = docs.filter("dom = 'chem'").limit(10)

    w = dsir_log_weights(docs, target).join(
        docs.select("doc_id", "dom"), "doc_id"
    )
    means = {
        r["dom"]: r["mw"]
        for r in w.groupBy("dom").agg(F.avg("log_weight").alias("mw")).collect()
    }
    assert means["chem"] > means["sport"] + 1.0  # clear separation

    mx = w.agg(F.max("log_weight").alias("mx")).collect()[0]["mx"]
    scored = w.withColumn("p", F.exp(F.col("log_weight") - F.lit(mx)))
    kept = importance_resample(scored, "p", "doc_id")
    rates = {
        r["dom"]: r["rate"]
        for r in kept.groupBy("dom")
        .agg(F.avg(F.col("keep").cast("double")).alias("rate"))
        .collect()
    }
    assert rates["chem"] > 0.75         # target domain survives
    assert rates["sport"] < 0.2         # off-domain resampled away
    assert rates["chem"] > rates["sport"] + 0.5


def test_gopher_rules_fire_individually(spark, monkeypatch):
    """Each Gopher rule (Rae et al. 2021 A1) rejects its planted
    violation while the compliant doc passes: word-count window, mean
    word length, alpha fraction, must-contain stops, lorem-ipsum."""
    import dev_clickhouse_spark.llm.text as mod
    from dev_clickhouse_spark.llm.text import gopher_quality_flags

    good = ("the data and pipeline that we have built works with care "
            * 6).strip()                       # 66 words, stops present
    rows = [
        (0, good, "en"),
        (1, "short of the and", "en"),                      # < 50 words
        (2, " ".join(["a"] * 60), "en"),                    # mwl < 3
        (3, " ".join(["12345"] * 30 + ["the", "of", "and", "that"] +
                     ["word"] * 30), "en"),                 # alpha < 0.8
        (4, " ".join(["datapoint"] * 60), "en"),            # no stop hits
        (5, good + " lorem ipsum", "en"),                   # boilerplate
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    monkeypatch.setattr(mod, "load_table", lambda s, d, t: docs)
    out = {r.doc_id: r for r in gopher_quality_flags(spark, "x").collect()}
    assert out[0].gopher_pass
    assert not out[1].gopher_pass and out[1].n_words < 50
    assert not out[2].gopher_pass and out[2].mean_word_len < 3
    assert not out[3].gopher_pass and out[3].alpha_frac < 0.8
    assert not out[4].gopher_pass and out[4].n_stop_hits == 0
    assert not out[5].gopher_pass
