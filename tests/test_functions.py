"""Training-data function tests: dedup, similarity, textstats, multimodal."""

import pytest
from pyspark.sql import functions as F

from corenlp_spark.data.synth import synth_docs
from corenlp_spark.functions.dedup import (
    exact_dup_clusters, minhash_dup_pairs, ngram_jaccard_pairs, simhash,
    simhash_dup_pairs,
)
from corenlp_spark.functions.multimodal import (
    decode_metadata, extract_features, frame_sample_plan, media_table,
)
from corenlp_spark.functions.similarity import (
    brute_force_topk, lsh_ann_pairs, pairwise_topk,
)
from corenlp_spark.functions.textstats import (
    fingerprint, lang_id, quality_score, rolling_fingerprints, token_count,
)


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),          # exact dup
        (3, "the quick brown fox jumps over the lazy dog today"),    # near dup
        (4, "der schnelle braune fuchs und die faule katze ist mit"),
        (5, "completely different words entirely unrelated content here"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    c = exact_dup_clusters(_docs(spark)).collect()
    assert len(c) == 1 and c[0].n_docs == 2 and c[0].keep_doc_id == 1


def test_minhash_and_jaccard_find_near_dup(spark):
    pairs = {(r.doc_a, r.doc_b) for r in minhash_dup_pairs(_docs(spark), threshold=0.6).collect()}
    assert (1, 2) in pairs and (1, 3) in pairs
    assert not any(5 in p for p in pairs)
    jp = {(r.doc_a, r.doc_b): r.jaccard for r in
          ngram_jaccard_pairs(_docs(spark), k=3, threshold=0.5).collect()}
    assert jp.get((1, 2)) == 1.0


def test_simhash_exact_dup_is_zero_hamming(spark):
    s = {r.doc_id: r.simhash for r in simhash(_docs(spark)).collect()}
    assert s[1] == s[2]
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in
             simhash_dup_pairs(_docs(spark), max_hamming=10).collect()}
    assert pairs.get((1, 2)) == 0


def test_brute_force_topk_self_similarity(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0]), (3, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    top = brute_force_topk(emb, [1.0, 0.0, 0.0], k=2).collect()
    assert [r.vec_id for r in top] == [1, 2]
    assert top[0].score == 1.0


def test_lsh_ann_agrees_with_exact_on_clear_pairs(spark):
    emb = spark.createDataFrame(
        [(i, [1.0 if j == i % 4 else 0.05 for j in range(16)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    exact = {(r.id_a, r.id_b) for r in
             pairwise_topk(emb, k=1).filter("score >= 0.9").collect()}
    ann = {(r.id_a, r.id_b) for r in lsh_ann_pairs(emb, dim=16, threshold=0.9).collect()}
    # every exact pair (a<b) must be found by LSH (identical direction vectors
    # always share all hyperplane signs)
    exact_lt = {(min(a, b), max(a, b)) for a, b in exact}
    assert exact_lt <= ann


def test_lsh_ann_pairs_string_ids(spark):
    """The id type comes from the input schema: string ids give the same
    pairs as the long ids they spell (zero-padded, so both sort alike)."""
    rows = [(i, [1.0 if j == i % 4 else 0.05 * (i % 3) for j in range(16)])
            for i in range(40)]
    num = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    txt = spark.createDataFrame([(f"v{i:02d}", v) for i, v in rows],
                                "vec_id string, embedding array<float>")
    want = sorted((f"v{r.id_a:02d}", f"v{r.id_b:02d}", r.score)
                  for r in lsh_ann_pairs(num, dim=16, threshold=0.5).collect())
    got = lsh_ann_pairs(txt, dim=16, threshold=0.5)
    assert [f.dataType.simpleString() for f in got.schema.fields[:2]] \
        == ["string", "string"]
    assert want and sorted(map(tuple, got.collect())) == want


def test_minhash_jaccard_rounds_like_spark_on_ties(spark):
    """|A∩B| = 323, |A∪B| = 640: Jaccard 0.5046875 is a 7th-digit tie that
    F.round(x, 6) takes HALF_UP on the decimal, to 0.504688 (the floor
    (x·1e6 + 0.5) shortcut gives 0.504687)."""
    common = [f"c{i}" for i in range(323)]
    a = " ".join(common + [f"a{i}" for i in range(158)])
    b = " ".join(common + [f"b{i}" for i in range(159)])
    docs = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    got = minhash_dup_pairs(docs, n_bands=8, k=1, threshold=0.5).collect()
    assert [tuple(r) for r in got] == [(1, 2, 0.504688)]


def test_round6_helpers_equal_spark_round(spark):
    """The scalar and array rounding helpers equal Spark's F.round(x, 6)
    bit for bit, over decimal ties, signs, zeros, non-finite and huge
    values, and a seeded sample of random doubles."""
    import math
    import random
    import struct

    import numpy as np

    from corenlp_spark.functions.textstats import (
        _round6_like_spark, _round6_like_spark_array,
    )

    rng = random.Random(7)
    xs = [k / 640 for k in range(641)] + [(i + 0.5) / 1e6 for i in range(2000)]
    xs += [rng.uniform(-1, 1) for _ in range(2000)]
    xs += [rng.uniform(-1, 1) * 10.0 ** rng.randint(-9, 12) for _ in range(2000)]
    xs += [-x for x in xs[:2641]]
    xs += [0.0, -0.0, -1e-9, 4e-7, -4e-7, 0.1234565, 1.0000005, 2.0 ** 52 + 1,
           1e300, -1e300, float("nan"), float("inf"), float("-inf")]
    df = spark.createDataFrame(list(enumerate(xs)), "i int, x double")
    want = [r.r for r in df.select("i", F.round("x", 6).alias("r"))
            .orderBy("i").collect()]

    def bits(v):
        return "nan" if math.isnan(v) else struct.pack("<d", v)

    arr = _round6_like_spark_array(np.array(xs))
    for x, w, v in zip(xs, want, arr):
        assert bits(_round6_like_spark(x)) == bits(w), x
        assert bits(float(v)) == bits(w), x


def _ivf_ann_pairs_sql(emb, dim, n_cells=16, threshold=0.7,
                       id_col="vec_id", vec_col="embedding", centroids=None):
    """Parity reference: the cell self-join form ``ivf_ann_pairs`` had
    before it moved onto ``bucket_pairs`` — an (id, cell) equi-join for
    candidates, both vectors re-joined by id, the SQL ``cosine`` fold."""
    from corenlp_spark.functions.similarity import _assign_kernel, _planes, cosine

    cents = centroids if centroids is not None else _planes(dim, n_cells)
    id_type = emb.schema[id_col].dataType.simpleString()
    ids = emb.select(id_col, vec_col).mapInPandas(
        _assign_kernel(cents, carry=(id_col,)),
        schema=f"cell int, {id_col} {id_type}",
    ).select(F.col(id_col).alias("id"), "cell")
    cand = (
        ids.select(F.col("id").alias("id_a"), "cell")
        .join(ids.select(F.col("id").alias("id_b"), "cell"), "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    vecs = emb.select(id_col, vec_col)
    return (
        cand
        .join(vecs.select(F.col(id_col).alias("id_a"),
                          F.col(vec_col).alias("v_a")), "id_a")
        .join(vecs.select(F.col(id_col).alias("id_b"),
                          F.col(vec_col).alias("v_b")), "id_b")
        .select("id_a", "id_b", F.round(cosine("v_a", "v_b"), 6).alias("score"))
        .filter(F.col("score") >= threshold)
    )


def test_ivf_equals_cell_join_reference(spark):
    """``ivf_ann_pairs`` (in-bucket verify) returns exactly the rows of
    the cell-join reference on the sf0.01 embeddings, for default and
    trained centroids, at a keep-everything and a real threshold."""
    from corenlp_spark.functions.similarity import ivf_ann_pairs, train_centroids
    from tests.test_plans import SF

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    trained = train_centroids(emb, 64, k=16)
    for cents in (None, trained):
        for thr in (-2.0, 0.2):
            got = sorted(map(tuple, ivf_ann_pairs(
                emb, dim=64, threshold=thr, centroids=cents).collect()))
            want = sorted(map(tuple, _ivf_ann_pairs_sql(
                emb, dim=64, threshold=thr, centroids=cents).collect()))
            assert got and got == want, (cents is None, thr)


def test_textstats(spark):
    d = _docs(spark).select(
        "doc_id",
        token_count(F.col("text")).alias("n"),
        lang_id(F.col("text")).alias("lang"),
        quality_score(F.col("text")).alias("q"),
        fingerprint(F.col("text")).alias("fp"),
        rolling_fingerprints(F.col("text"), window=4).alias("rfp"),
    ).collect()
    by = {r.doc_id: r for r in d}
    assert by[1].n == 9
    assert by[1].lang == "en" and by[4].lang == "de"
    assert by[1].fp == by[2].fp
    assert 0.0 <= by[1].q <= 1.0
    assert len(by[1].rfp) >= 2


def test_multimodal_plumbing(spark):
    docs = synth_docs(spark, 120)
    media = media_table(docs)
    rows = media.collect()
    assert rows and all(r.payload is not None for r in rows)
    meta = decode_metadata(media)
    m = meta.collect()
    assert all(r.meta["width"] >= 64 for r in m)
    assert {r.media_type for r in m} <= {"img", "audio", "video"}
    feats = extract_features(media, dim=8).collect()
    assert all(len(r.features) == 8 for r in feats)
    # determinism: same media_ref → same features
    by_ref = {}
    for r in feats:
        if r.media_ref in by_ref:
            assert by_ref[r.media_ref] == r.features
        by_ref[r.media_ref] = r.features
    plan = frame_sample_plan(media, every_ms=5000)
    p = plan.collect()
    if p:
        assert all(r.ts_ms % 5000 == 0 for r in p)


def test_decode_falls_back_when_pil_present_but_payload_opaque(spark, monkeypatch):
    """Regression for the inverted guard (ADVICE r1): with the codec library
    importable but payloads non-decodable, decode must fall back to the
    deterministic fake — never raise."""
    import corenlp_spark.functions.multimodal as mm

    monkeypatch.setattr(mm, "_HAVE_PIL", True)
    docs = synth_docs(spark, 60)
    m = mm.decode_metadata(mm.media_table(docs)).collect()
    assert m and all(r.meta["width"] >= 64 for r in m)
    assert all(r.meta["codec"] == "fake" for r in m if r.media_type == "img")


def test_decode_uses_real_pil_when_available(spark):
    """Real-decode path (skipped where Pillow is absent, e.g. this container):
    a genuine PNG payload must yield its true dimensions via PIL."""
    PIL_Image = __import__("pytest").importorskip("PIL.Image")
    import io

    import pandas as pd

    import corenlp_spark.functions.multimodal as mm

    buf = io.BytesIO()
    PIL_Image.new("RGB", (320, 200)).save(buf, format="PNG")
    media = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": ["d0"], "media_ref": ["img://real.png"], "offset": [0],
            "payload": [buf.getvalue()], "media_type": ["img"],
        }),
        "doc_id string, media_ref string, offset int, payload binary, media_type string",
    )
    row = mm.decode_metadata(media).collect()[0]
    assert (row.meta["width"], row.meta["height"]) == (320, 200)
    assert row.meta["codec"] == "png"


def test_gopher_quality_rules(spark):
    """Gopher rule behavior on crafted docs: short doc fails word count,
    symbol-heavy doc fails symbol ratio, bullet doc fails bullet rule,
    normal prose passes."""
    from corenlp_spark.functions.textstats import gopher_quality

    prose = ("the quick brown fox jumps over the lazy dog and runs to be "
             "with the other foxes that have come from the north " * 3)
    docs = spark.createDataFrame(
        [("short", "too short"),
         ("symbols", "# " * 60),
         ("bullets", "\n".join("• item %d word word word" % i for i in range(20))
          + "\nthe be to of and that have with " + "word " * 40),
         ("prose", prose)],
        "doc_id string, text string")
    out = {r.doc_id: r.g.asDict()
           for r in docs.select("doc_id", gopher_quality(F.col("text")).alias("g")).collect()}
    assert not out["short"]["ok_word_count"] and not out["short"]["passes"]
    assert not out["symbols"]["ok_symbol_ratio"] and not out["symbols"]["ok_alpha"]
    assert not out["bullets"]["ok_bullets"]
    assert out["prose"]["passes"], out["prose"]


def test_real_header_metadata_decode(spark):
    """Container-header metadata decode is REAL (pure-Python header parse,
    no codec lib): crafted PNG/GIF/WAV/JPEG payloads yield their true
    dimensions/duration; non-container payloads fall to the documented
    deterministic fake."""
    import struct

    from corenlp_spark.functions.multimodal import _header_decode, decode_metadata

    png = (b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR"
           + struct.pack(">II", 640, 480) + b"\x08\x02\x00\x00\x00")
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 4
    sof = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 768, 1024) + b"\x03" + b"\x00" * 6
    jpg = b"\xff\xd8" + b"\xff\xe0" + struct.pack(">H", 4) + b"\x00\x00" + sof
    pcm = b"\x00" * 32000
    wav = (b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
           + b"fmt " + struct.pack("<I", 16)
           + struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
           + b"data" + struct.pack("<I", len(pcm)) + pcm)
    assert _header_decode(png) == (640, 480, 0, "png")
    assert _header_decode(gif) == (320, 200, 0, "gif")
    assert _header_decode(jpg) == (1024, 768, 0, "jpeg")
    w, h, dur, codec = _header_decode(wav)
    assert codec == "wav" and dur == 1000
    assert _header_decode(b"not a container") is None

    media = spark.createDataFrame(
        [("d1", "img://a", 0, png, "img"),
         ("d1", "audio://b", 1, wav, "audio"),
         ("d1", "img://c", 2, b"garbagepayload", "img")],
        "doc_id string, media_ref string, offset int, payload binary, media_type string")
    out = {r.media_ref: r.meta.asDict() for r in decode_metadata(media).collect()}
    assert out["img://a"]["width"] == 640 and out["img://a"]["codec"] == "png"
    assert out["audio://b"]["duration_ms"] == 1000 and out["audio://b"]["codec"] == "wav"
    assert out["img://c"]["codec"] == "fake"  # honest fallback


def test_real_png_and_wav_feature_kernels(spark):
    """Feature extraction is REAL for decodable payloads: a zlib-built PNG
    round-trips its pixel statistics (red image → high R-mean, low G/B),
    a sine-wave WAV yields the right RMS level; undecodable payloads keep
    the deterministic fake."""
    import struct
    import zlib

    import numpy as np

    from corenlp_spark.functions.multimodal import (
        _png_pixels, extract_features,
    )

    def make_png(w, h, rgb):
        raw = b"".join(b"\x00" + bytes(rgb) * w for _ in range(h))
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        def chunk(typ, data):
            c = struct.pack(">I", len(data)) + typ + data
            return c + struct.pack(">I", zlib.crc32(typ + data))
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))

    png = make_png(8, 6, (200, 10, 10))
    px = _png_pixels(png)
    assert px.shape == (6, 8, 3) and int(px[0, 0, 0]) == 200

    sine = (np.sin(np.linspace(0, 2 * np.pi * 50, 16000))
            * 0.5 * 32767).astype("<i2").tobytes()
    wav = (b"RIFF" + struct.pack("<I", 36 + len(sine)) + b"WAVE"
           + b"fmt " + struct.pack("<I", 16)
           + struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
           + b"data" + struct.pack("<I", len(sine)) + sine)

    media = spark.createDataFrame(
        [("d1", "img://p", 0, png, "img"),
         ("d1", "audio://w", 1, wav, "audio"),
         ("d1", "img://junk", 2, b"junkbytes", "img")],
        "doc_id string, media_ref string, offset int, payload binary, media_type string")
    out = {r.media_ref: r.features for r in extract_features(media, dim=8).collect()}
    f_png = out["img://p"]
    assert abs(f_png[0] - 200 / 255) < 0.01          # R mean
    assert f_png[1] < 0.1 and f_png[2] < 0.1         # G/B means
    f_wav = out["audio://w"]
    assert all(abs(x - 0.5 / 2 ** 0.5) < 0.05 for x in f_wav)  # sine RMS
    assert any(x < 0 for x in out["img://junk"])     # fake path: in [-1,1]


def test_lang_id_scripts(spark):
    """Non-Latin script detection precedes the Latin marker argmax (kana
    before Han so Japanese-with-kanji is ja, not zh)."""
    from corenlp_spark.functions.textstats import lang_id

    df = spark.createDataFrame(
        [("zh", "这是中文文本测试，用于语言识别。"),
         ("ja", "これは日本語のテストです。漢字もあります。"),
         ("ko", "한국어 텍스트 샘플입니다"),
         ("ru", "Это русский текст для теста"),
         ("ar", "هذا نص عربي للاختبار"),
         ("el", "Αυτό είναι ελληνικό κείμενο"),
         ("en", "the cat and the dog with this hat")],
        "want string, text string")
    rows = df.select("want", lang_id(F.col("text")).alias("got")).collect()
    assert all(r.want == r.got for r in rows), [(r.want, r.got) for r in rows]


def test_dup_components(spark):
    """Min-label propagation finds connected components of the dup graph:
    chains collapse to one component, singletons absent from pairs are
    untouched, convergence is early-exit deterministic."""
    from corenlp_spark.functions.dedup import dup_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 8), (8, 9), (9, 7)],
        "doc_a long, doc_b long")
    got = {r.id: r.component for r in dup_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 7: 7, 8: 7, 9: 7}


def test_real_png_resize_roundtrip(spark):
    """resize_images really resizes PNG payloads: the output is a valid
    PNG of the target dimensions whose pixels came from the source
    (nearest neighbor); non-PNG payloads pass through untouched."""
    import struct
    import zlib

    from corenlp_spark.functions.multimodal import (
        _png_pixels, resize_images,
    )

    def make_png(w, h, rgb):
        raw = b"".join(b"\x00" + bytes(rgb) * w for _ in range(h))
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        def chunk(typ, data):
            return (struct.pack(">I", len(data)) + typ + data
                    + struct.pack(">I", zlib.crc32(typ + data)))
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))

    png = make_png(16, 12, (30, 180, 90))
    media = spark.createDataFrame(
        [("d1", "img://big", 0, png, "img"),
         ("d1", "img://junk", 1, b"junk", "img")],
        "doc_id string, media_ref string, offset int, payload binary, media_type string")
    out = {r.media_ref: r for r in resize_images(media, 4, 3).collect()}
    assert out["img://big"].resized
    px = _png_pixels(bytes(out["img://big"].resized_payload))
    assert px.shape == (3, 4, 3)
    assert tuple(int(x) for x in px[0, 0]) == (30, 180, 90)
    assert not out["img://junk"].resized
    assert bytes(out["img://junk"].resized_payload) == b"junk"


def test_dup_components_hybrid_paths_agree(spark, monkeypatch):
    """The size-gated driver union-find and the distributed min-label loop
    must produce identical (id, component) labels — the at-scale path stays
    exercised by forcing DRIVER_MAX_PAIRS to 0."""
    import pandas as pd

    from corenlp_spark.functions import dedup

    pairs = spark.createDataFrame(pd.DataFrame({
        # two chains + a clique + a singleton pair: worst shapes for
        # min-label rounds
        "doc_a": [1, 2, 3, 10, 11, 20, 20, 21, 30],
        "doc_b": [2, 3, 4, 11, 12, 21, 22, 22, 31],
    }))
    fast = sorted(tuple(r) for r in dedup.dup_components(pairs).collect())
    monkeypatch.setattr(dedup, "DRIVER_MAX_PAIRS", 0)
    dist = sorted(tuple(r) for r in dedup.dup_components(pairs).collect())
    assert fast == dist
    assert fast == [(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10),
                    (12, 10), (20, 20), (21, 20), (22, 20), (30, 30),
                    (31, 30)]


def test_dup_components_long_path_converges(spark, monkeypatch):
    """A 40-node path needs 40 min-label rounds (one hop per round, plus
    the round that sees no change). The distributed loop runs until no
    label changes, so it labels the whole path as one component, as the
    driver union-find does."""
    from corenlp_spark.functions import dedup

    monkeypatch.setattr(dedup, "DRIVER_MAX_PAIRS", 0)
    pairs = spark.createDataFrame([(i, i + 1) for i in range(39)],
                                  "doc_a long, doc_b long")
    dist = sorted(tuple(r) for r in dedup.dup_components(pairs).collect())
    assert dist == [(i, 0) for i in range(40)]


def test_simhash_multitable_finds_prefix_blind_pair(spark):
    """Guaranteed hamming-≤3 recall (Charikar multi-table bucketing): a pair
    whose differing bits ALL fall in the old single 16-bit prefix (bits
    59/58/57) collides in none of the old buckets but MUST surface from the
    4×15-bit block tables — any ≤3 differing bits leave ≥1 block equal.
    Exact duplicates (all 4 tables collide), pairs colliding in 2 or 3
    tables and a 5-member cluster must each come out exactly once: the
    output equals an all-pairs popcount(a ^ b) ≤ 3 over the same rows."""
    from corenlp_spark.functions.dedup import simhash_pairs_from_sigs

    base = 0x0ABCDEF12345678  # 60-bit signature
    flipped = base ^ (0b111 << 57)  # 3 diffs, all inside simhash >> 44
    far = base ^ 0x00000F0F0F0F0F0  # many diffs — must NOT pair
    dup = 0x0123456789ABCDE
    hub = 0x0FEDCBA98765432
    rows = [
        ("a", base), ("b", flipped), ("c", far),
        # hamming 0: collide in all 4 tables
        ("d", dup), ("e", dup),
        # 1 diff in block 0: collides with d/e in tables 1-3
        ("f", dup ^ (1 << 3)),
        # diffs in blocks 0 and 1: collides with d/e in tables 2-3
        ("g", dup ^ (1 << 5) ^ (1 << 20)),
        # a 5-member cluster: hub plus one-bit variants in different blocks
        ("h0", hub), ("h1", hub ^ (1 << 1)), ("h2", hub ^ (1 << 16)),
        ("h3", hub ^ (1 << 31)), ("h4", hub ^ (1 << 46) ^ (1 << 2)),
    ]
    sigs = spark.createDataFrame(rows, "doc_id string, simhash long")
    # old bucketing misses it:
    assert (base >> 44) != (flipped >> 44)
    got = sorted(tuple(r) for r in
                 simhash_pairs_from_sigs(sigs, max_hamming=3).collect())
    want = sorted(
        (min(x, y), max(x, y), bin(sx ^ sy).count("1"))
        for i, (x, sx) in enumerate(rows) for y, sy in rows[i + 1:]
        if bin(sx ^ sy).count("1") <= 3)
    assert ("a", "b", 3) in want and ("d", "e", 0) in want
    assert sum(p[0].startswith("h") for p in want) == 10
    assert got == want


def test_duplicated_id_never_pairs_with_itself(spark):
    """Two rows sharing an id yield no (id, id) pair — like the DuckDB
    oracles' strict ``x.id < y.id`` join — but each still pairs with the
    other ids it matches."""
    text = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(1, text), (1, text), (2, text),
         (3, "completely different words entirely unrelated content here")],
        "doc_id long, text string")
    assert sorted(tuple(r) for r in minhash_dup_pairs(docs).collect()) == \
        [(1, 2, 1.0), (1, 2, 1.0)]
    assert sorted(tuple(r) for r in simhash_dup_pairs(docs).collect()) == \
        [(1, 2, 0), (1, 2, 0)]


def test_gopher_repetition_signals(spark):
    """Gopher repetition rules (Rae et al. 2021 Table A1): top n-gram and
    duplicate n-gram character fractions with the published thresholds —
    capped product-form accounting (documented upper-bound surrogate)."""
    from corenlp_spark.functions.textstats import gopher_repetition

    df = spark.createDataFrame(
        [(1, "a b a b a b c d"),                  # heavy 2-gram repetition
         (2, "x y z w v u t s r q p o n m"),      # no repetition at all
         (3, "q w e q w e q w e q w e q w e")],   # wall-to-wall repeats
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in gopher_repetition(df).collect()}
    # doc 1: "a b" occurs 3× → 3*3 chars / 15 total = 0.6
    assert rows[1]["top2_frac"] == 0.6
    assert rows[1]["dup5_frac"] == 0.0           # no repeated 5-gram
    assert not rows[1]["passes_repetition"]      # 0.6 > 0.20 threshold
    # doc 2: every gram unique → dup fractions all 0
    assert all(rows[2][f"dup{n}_frac"] == 0.0 for n in (5, 6, 7, 8, 9, 10))
    # doc 3: overlapping repeats — capped at 1.0, never above
    assert rows[3]["dup5_frac"] == 1.0
    assert rows[3]["dup10_frac"] == 1.0
    assert not rows[3]["passes_repetition"]
    # a doc shorter than n contributes 0 for that n, not a crash/NULL
    short = spark.createDataFrame([(9, "only three words")],
                                  "doc_id long, text string")
    r9 = gopher_repetition(short).collect()[0]
    assert r9["dup5_frac"] == 0.0 and r9["top2_frac"] > 0


def test_pii_scan_and_redact(spark):
    """Structural PII cascade: per-kind counts on the original text, ordered
    redaction (SSN before the broader 3-3-4 phone shape; cards before
    both), and PII-free docs filtered out of the violation list."""
    from corenlp_spark.functions.pii import pii_scan

    df = spark.createDataFrame(
        [("a", "mail bob@corp.io or sue+x@a.b.co call 415-555-0173"),
         ("b", "ssn 078-05-1120 card 4111-1111-1111-1111 ip 10.0.42.7"),
         ("c", "clean text with plain numbers 123456789 and no shapes"),
         ("d", "dotted phone 415.555.0173 and quad 192.168.1.254"),
         ("e", None)],
        "doc_id string, text string")
    rows = {r["doc_id"]: r for r in pii_scan(df).collect()}
    assert "c" not in rows and "e" not in rows   # filtered: no PII / NULL
    assert rows["a"]["n_email"] == 2 and rows["a"]["n_phone"] == 1
    assert rows["b"]["n_ssn"] == 1 and rows["b"]["n_card"] == 1 \
        and rows["b"]["n_ip"] == 1
    # 078-05-1120 must be SSN (3-2-4), not phone (3-3-4)
    assert rows["b"]["n_phone"] == 0
    assert rows["d"]["n_phone"] == 1 and rows["d"]["n_ip"] == 1
    assert all(r["n_pii"] > 0 for r in rows.values())
    # counts: a clean doc counts 0 of each kind, a NULL text counts NULL
    from corenlp_spark.functions.pii import pii_counts, pii_redact
    from pyspark.sql import functions as F
    counts = {r["doc_id"]: r[1:] for r in
              df.select("doc_id", *pii_counts(F.col("text"))).collect()}
    assert set(counts["c"]) == {0} and set(counts["e"]) == {None}
    # redaction actually rewrites the bytes: redact a doc directly
    red = df.filter("doc_id = 'b'").select(
        pii_redact(F.col("text")).alias("t")).collect()[0]["t"]
    assert red == "ssn [SSN] card [CARD] ip [IP]"


def test_decontam_broadcast_overlap(spark):
    """8-gram benchmark decontamination: seeded overlap found, clean doc
    absent, and the corpus side joins the benchmark via BROADCAST (no
    corpus-side shuffle before the join)."""
    from corenlp_spark.functions.decontam import contaminated_docs

    bench = spark.createDataFrame(
        [("q1", "the quick brown fox jumps over the lazy dog tonight")],
        "bench_id string, text string")
    docs = spark.createDataFrame(
        [("d1", "padding before the quick brown fox jumps over the lazy "
                "dog after padding"),
         ("d2", "eight word spans that never match the benchmark text here"),
         ("d3", "too short to hold any")],
        "doc_id string, text string")
    out = contaminated_docs(docs, bench, n=8)
    rows = {(r.doc_id, r.bench_id): r.n_hits for r in out.collect()}
    # d1 contains "the quick ... lazy dog" (9 shared tokens) — exactly the
    # two bench 8-grams not involving "tonight" match
    assert rows == {("d1", "q1"): 2}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_paragraph_dup_stats(spark):
    from corenlp_spark.functions.dedup import paragraph_dup_stats

    rows = [
        ("a", "intro text\nshared cookie banner\nbody one"),
        ("b", "other intro\nshared cookie banner"),
        # same paragraph twice in ONE doc: occurrences count, but n_docs=1
        # for 'solo para' so it must NOT appear; blank runs are dropped
        ("c", "solo para\n\n  \nsolo para"),
        ("d", "  shared cookie banner  \nunique tail"),  # trims to match
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["para_hash"]: r for r in paragraph_dup_stats(df).collect()}
    assert len(out) == 1
    (r,) = out.values()
    assert r["n_docs"] == 3 and r["n_occurrences"] == 3
    assert r["para_chars"] == len("shared cookie banner")


def test_unigram_lm_scores(spark):
    import math

    from corenlp_spark.functions.textstats import unigram_lm_scores

    rows = [
        (1, "the the the"),   # 3× the most common token → highest score
        (2, "the rare"),      # one common + one singleton
        (3, ""),              # no tokens → excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in unigram_lm_scores(df).collect()}
    assert set(out) == {1, 2}
    # corpus: the×4, rare×1, total 5
    lp_the, lp_rare = math.log(4 / 5), math.log(1 / 5)
    assert abs(out[1]["avg_logprob"] - round(lp_the, 6)) < 1e-6
    assert out[1]["n_toks"] == 3
    assert abs(out[2]["avg_logprob"] - round((lp_the + lp_rare) / 2, 6)) < 1e-6
    assert out[1]["avg_logprob"] > out[2]["avg_logprob"]


def test_components_and_lm_scores_leave_no_session_state(spark):
    """dup_components on its driver path and unigram_lm_scores release
    whatever they materialize: after collecting both, the CacheManager is
    empty and no persistent RDD is left behind."""
    from corenlp_spark.functions.dedup import dup_components
    from corenlp_spark.functions.textstats import unigram_lm_scores

    spark.catalog.clearCache()
    # ids, not a count: the ContextCleaner may drop older RDDs meanwhile
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)],
                                  "doc_a long, doc_b long")
    assert len(dup_components(pairs).collect()) == 5
    docs = spark.createDataFrame([(1, "the the cat"), (2, "the dog")],
                                 "doc_id long, text string")
    assert len(unigram_lm_scores(docs).collect()) == 2
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert after <= before, after - before


def test_dup_components_releases_pairs_when_fetch_fails(spark):
    """A pair pipeline that raises during dup_components' fetch leaves no
    cache entry behind."""
    from pyspark.errors import PythonException

    from corenlp_spark.functions.dedup import dup_components

    @F.udf("long")
    def boom(x):
        raise ValueError("pair verifier failed")

    spark.catalog.clearCache()
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    with pytest.raises(PythonException, match="pair verifier failed"):
        dup_components(pairs.withColumn("doc_b", boom("doc_b")))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_kmeans_cluster_summary(spark):
    from corenlp_spark.functions.similarity import kmeans_cluster_summary

    # two antipodal blobs (±e0) — spherical k-means (argmax-dot) with the
    # seeded init must split them; orthogonal positive-orthant blobs need
    # not separate under dot-assignment, so the test uses opposite signs
    dim = 8
    rows = []
    for i in range(10):
        v = [0.0] * dim
        v[0] = 1.0 + 0.01 * i
        rows.append((i, v))
    for i in range(10, 24):
        v = [0.0] * dim
        v[0] = -(1.0 + 0.01 * i)
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_cluster_summary(df, dim=dim, k=2, iters=3).collect()
    sizes = sorted(r["n_vecs"] for r in out)
    assert sizes == [10, 14]
    # converged centroids are axis-aligned unit vectors → avg dot ≈ mean norm
    for r in out:
        assert r["avg_score"] > 0.9


def test_source_quota_sample(spark):
    """Deterministic per-source quota: ≤K per source, md5-order choice,
    stable across runs; mix report fractions sum to 1."""
    from corenlp_spark.functions.sampling import (source_mix_report,
                                                  source_quota_sample)

    rows = [(i, f"text {i}", "en" if i % 3 else "fr", f"src{i % 4}")
            for i in range(40)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")
    kept = source_quota_sample(df, per_source=5)
    got = kept.groupBy("source").count().collect()
    assert all(r["count"] == 5 for r in got) and len(got) == 4
    # deterministic: same ids both runs
    ids1 = sorted(r.doc_id for r in kept.collect())
    ids2 = sorted(r.doc_id for r in source_quota_sample(df, 5).collect())
    assert ids1 == ids2
    rep = source_mix_report(kept).collect()
    assert abs(sum(r.frac for r in rep) - 1.0) < 1e-6


def test_ivf_multi_block_bucket_equals_reference(spark):
    """One 1500-vector cell: the verifier splits the bucket into several
    row blocks and flushes candidate batches mid-bucket; the rows still
    equal the cell-join reference."""
    from corenlp_spark.functions.similarity import ivf_ann_pairs

    rows = [(i, [float((i * 7919 + j * 104729) % 1009) / 1009.0 - 0.5
                 for j in range(8)]) for i in range(1500)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = sorted(map(tuple, ivf_ann_pairs(
        emb, dim=8, n_cells=1, threshold=0.9).collect()))
    want = sorted(map(tuple, _ivf_ann_pairs_sql(
        emb, dim=8, n_cells=1, threshold=0.9).collect()))
    assert len(got) > 1000 and got == want
