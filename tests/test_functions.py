"""Unit tests for the text/dedup/similarity/multimodal function
modules (the training-data-pipeline operators)."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pystore_spark.functions import dedup as D
from pystore_spark.functions import multimodal as M
from pystore_spark.functions import similarity as S
from pystore_spark.functions import text as X


@pytest.fixture()
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the busy red "
        "hen counts seeds in the quiet barn near the old stone well and "
        "the wind moves softly through tall dry grass at dusk"
    )
    rows = [
        (0, base, "a"),
        (1, base, "a"),  # exact dup
        (2, base.replace("stone", "brick"), "a"),  # near dup (1-word diff)
        (3, "completely different text about spark engines", "b"),
        (4, "der schnelle braune fuchs und der faule hund ist", "b"),
        (5, "", "b"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "src"])


def test_token_stats(spark, docs):
    base_text = docs.filter("doc_id = 0").first()["text"]
    out = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id",
            X.token_count("text").alias("n"),
            X.unique_token_count("text").alias("u"),
            X.avg_token_length("text").alias("awl"),
        ).collect()
    }
    assert out[0]["n"] == len(base_text.split())
    assert out[0]["u"] == len(set(base_text.split()))
    assert out[5]["n"] == 0
    assert out[5]["awl"] is None
    assert math.isclose(out[3]["awl"], sum(map(len, "completely different text about spark engines".split())) / 6)


def test_bpe_token_count(spark):
    import re

    samples = [
        (0, "it's 2024, don't stop-gap 12345!"),
        (1, "hello world"),
        (2, ""),
        (3, "we've they'll I'm o'clock 007"),
    ]
    df = spark.createDataFrame(samples, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", X.bpe_token_count("text").alias("n")
        ).collect()
    }
    # reference counts from the same leftmost-first regex in Python
    pat = re.compile(X.BPE_TOKEN_RE)
    for doc_id, text in samples:
        assert got[doc_id] == len(pat.findall(text)), (doc_id, text)
    assert got[0] == 13  # hand-counted: it 's 202 4 , don 't stop - gap 123 45 !


def test_quality_and_langid(docs):
    rows = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id",
            X.quality_score("text").alias("q"),
            X.detect_language("text").alias("lang"),
        ).collect()
    }
    assert 0 < rows[0]["q"] <= 1
    assert rows[0]["lang"] == "en"
    assert rows[4]["lang"] == "de"
    assert rows[5]["lang"] == "und"


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(0, "Hello  World"), (1, "hello world "), (2, "other")],
        ["doc_id", "text"],
    )
    fps = [r["fp"] for r in df.select(X.fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1]
    assert fps[0] != fps[2]


def test_exact_dedup(docs):
    groups = D.duplicate_groups(docs, "text", "doc_id")
    dup = groups.filter(F.col("n_copies") > 1).collect()
    assert len(dup) == 1
    assert dup[0]["keep_id"] == 0
    assert dup[0]["n_copies"] == 2
    kept = D.exact_dedup(
        docs.withColumn("fp", X.fingerprint("text")), ["fp"], "doc_id"
    )
    assert kept.count() == 5  # one of the two dups dropped
    assert kept.filter(F.col("doc_id") == 1).count() == 0


def test_minhash_lsh_finds_near_dups(docs):
    pairs = D.lsh_candidate_pairs(
        docs.filter(F.col("text") != ""), "text", "doc_id",
        num_hashes=8, bands=4,
    ).collect()
    got = {(r["id_i"], r["id_j"]) for r in pairs}
    assert (0, 1) in got  # exact dup always collides
    # near-dup (0,2) shares most shingles; with 4 bands of 2 it is
    # overwhelmingly likely to collide on at least one band
    assert (0, 2) in got or (1, 2) in got
    assert (0, 3) not in got  # unrelated docs don't collide


def test_ngram_jaccard(docs):
    pairs = D.ngram_jaccard_pairs(
        docs.filter(F.col("text") != ""), "text", "doc_id",
        block_cols=["src"], threshold=0.3,
    ).collect()
    by_pair = {(r["id_i"], r["id_j"]): r["jac"] for r in pairs}
    assert by_pair[(0, 1)] == 1.0
    assert 0.3 <= by_pair[(0, 2)] < 1.0


def test_simhash_near_dup_distance(docs):
    sh = {
        r["doc_id"]: r["simhash"]
        for r in D.simhash16(docs.filter(F.col("text") != ""), "text", "doc_id").collect()
    }
    assert sh[0] == sh[1]  # identical text -> identical simhash
    d_near = bin(sh[0] ^ sh[2]).count("1")
    d_far = bin(sh[0] ^ sh[3]).count("1")
    assert d_near <= d_far


@pytest.fixture()
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0], 0),   # close to 0
        (2, [0.0, 1.0, 0.0], 1),
        (3, [0.0, 0.95, 0.05], 1),  # close to 2
        (4, [0.0, 0.0, 1.0], 2),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


def test_brute_force_topk(vectors):
    out = S.brute_force_topk(
        vectors, vectors.filter("vec_id = 0"), "embedding", "vec_id", k=2
    ).collect()
    assert [r["vec_id"] for r in out] == [1, 2]
    assert out[0]["score"] > 0.99


def test_ivf_topk_prunes_to_cell(vectors):
    out = S.ivf_topk(
        vectors, vectors.filter("vec_id = 2"), "embedding", "vec_id",
        cell_col="label", k=3,
    ).collect()
    assert [r["vec_id"] for r in out] == [3]  # only same-label candidates


def test_cosine_dedup_pairs(vectors):
    out = S.cosine_dedup_pairs(
        vectors, "embedding", "vec_id", block_col="label", threshold=0.95
    ).collect()
    got = {(r["id_i"], r["id_j"]) for r in out}
    assert got == {(0, 1), (2, 3)}


def test_signlsh_candidate_topk(vectors):
    out = S.signlsh_candidate_topk(
        vectors, "embedding", "vec_id", dim=3, n_planes=8, band_bits=2, k=3
    ).collect()
    # near-identical vectors share every sign bit -> guaranteed
    # candidates; top rescored pairs must be the two true near-dups,
    # (2,3) first (cos 0.9986 > (0,1)'s 0.9939)
    assert {(r["id_i"], r["id_j"]) for r in out[:2]} == {(0, 1), (2, 3)}
    assert (out[0]["id_i"], out[0]["id_j"]) == (2, 3)
    assert out[0]["score"] > 0.99
    # deterministic total order (score desc, id_i, id_j)
    again = S.signlsh_candidate_topk(
        vectors, "embedding", "vec_id", dim=3, n_planes=8, band_bits=2, k=3
    ).collect()
    assert out == again


def test_lsh_signs_deterministic():
    a = S.lsh_signs(4, 8, seed=7)
    assert a == S.lsh_signs(4, 8, seed=7)
    assert a != S.lsh_signs(4, 8, seed=8)
    assert all(s in (-1, 1) for row in a for s in row)


def test_multimodal_features(spark):
    rows = [
        (i, "img", M.encode_fake_media(i, "img", 64, 48, n_frames=1), None)
        for i in range(3)
    ] + [(3, "vid", M.encode_fake_media(3, "vid", 32, 32, n_frames=10), None)]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    feats = {r["media_id"]: r for r in M.extract_features(df).collect()}
    assert feats[0]["width"] == 64 and feats[0]["height"] == 48
    assert feats[3]["n_frames"] == 10
    frames = M.sample_frames(df.filter("media_id = 3"), every_nth=2).collect()
    assert [r["frame_idx"] for r in frames] == [0, 2, 4, 6, 8]


def test_multimodal_real_decoder_png_and_wav(spark):
    """DECODERS['real'] parses genuine container bytes — a PNG built
    by the stdlib-only encoder and a WAV from the wave module — end to
    end through the distributed extract_features path."""
    import io
    import wave

    png = M.write_png(40, 30)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)  # 16-bit
        w.setframerate(44100)
        w.writeframes(b"\x00\x01" * 2 * 1000)  # 1000 stereo frames
    wav = buf.getvalue()

    rows = [(0, "img", png, None), (1, "aud", wav, None)]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    feats = {
        r["media_id"]: r
        for r in M.extract_features(df, decoder="real").collect()
    }
    assert feats[0]["kind"] == "png"
    assert (feats[0]["width"], feats[0]["height"]) == (40, 30)
    assert feats[1]["kind"] == "wav"
    assert feats[1]["width"] == 44100  # sample rate
    assert feats[1]["height"] == 16  # bits per sample
    assert feats[1]["n_frames"] == 1000


def test_multimodal_real_decoder_jpeg_sof(spark):
    """The JPEG path walks the marker stream (APP0/DQT segments
    skipped by their lengths) to SOF0 and reads height/width — on a
    crafted marker-accurate JPEG, through extract_features."""
    jpg = M.write_jpeg_headers(640, 480)
    rows = [(0, "img", jpg, None)]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    (r,) = M.extract_features(df, decoder="real").collect()
    assert r["kind"] == "jpeg"
    assert (r["width"], r["height"]) == (640, 480)
    assert r["n_frames"] == 1

    # direct decoder edges: progressive SOF2 parses; SOS-before-SOF
    # and truncated streams fail loudly
    prog = jpg.replace(b"\xff\xc0", b"\xff\xc2")
    out = M.DECODERS["real"](prog)
    assert (out["width"], out["height"]) == (640, 480)
    with pytest.raises(ValueError, match="no SOF"):
        M.DECODERS["real"](b"\xff\xd8\xff\xd9")


def test_multimodal_real_decoder_flac_and_mp4(spark):
    """FLAC STREAMINFO (sample rate / bits / total samples from the
    packed u64) and ISO-BMFF (moov -> mvhd timescale+duration, first
    trak's tkhd 16.16 dims) through extract_features — the audio and
    video container probes; entropy/sample decode stays codec-lib
    territory by design."""
    rows = [
        (0, "audio", M.write_flac_headers(48000, 24, 96000), None),
        (1, "video", M.write_mp4_headers(
            1280, 720, timescale=600, duration=3000
        ), None),
        (2, "audio", M.write_mp4_headers(
            0, 0, timescale=1000, duration=2500
        ), None),
    ]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    feats = {
        r["media_id"]: r
        for r in M.extract_features(df, decoder="real").collect()
    }
    assert feats[0]["kind"] == "flac"
    assert (feats[0]["width"], feats[0]["height"]) == (48000, 24)
    assert feats[0]["n_frames"] == 96000
    assert feats[1]["kind"] == "mp4"
    assert (feats[1]["width"], feats[1]["height"]) == (1280, 720)
    assert feats[1]["n_frames"] == 5  # 3000 / 600 whole seconds
    assert (feats[2]["width"], feats[2]["height"]) == (0, 0)  # audio-only

    # malformed edges fail loudly
    with pytest.raises(ValueError, match="STREAMINFO"):
        M.DECODERS["real"](b"fLaC\x04xxxx")
    with pytest.raises(ValueError, match="no moov"):
        M.DECODERS["real"](bytes(4) + b"ftypisom")


def test_multimodal_real_decoder_rejects_unknown_container(spark):
    rows = [(0, "img", M.encode_fake_media(0, "img", 8, 8), None)]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    with pytest.raises(Exception, match="unsupported media container"):
        M.extract_features(df, decoder="real").collect()


def test_vectorized_topk_matches_fold(vectors):
    fold = S.brute_force_topk(
        vectors, vectors.filter("vec_id = 0"), "embedding", "vec_id", k=3
    ).collect()
    vec = S.brute_force_topk_vectorized(
        vectors, vectors.filter("vec_id = 0"), "embedding", "vec_id", k=3
    ).collect()
    assert [r["vec_id"] for r in fold] == [r["vec_id"] for r in vec]
    for a, b in zip(fold, vec):
        assert abs(a["score"] - b["score"]) < 1e-6


def test_ivf_kmeans_index_and_search(spark):
    import numpy as np

    rng = np.random.default_rng(0)
    centers = np.eye(4)
    rows = []
    for i in range(80):
        c = i % 4
        v = centers[c] + rng.normal(0, 0.05, 4)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    indexed = S.build_ivf_index(df, "embedding", "vec_id", n_cells=4)
    assert indexed.select("cell").distinct().count() == 4
    q = indexed.filter("vec_id = 0")
    out = S.ivf_search_with_index(indexed, q, "embedding", "vec_id", k=3)
    got = out.collect()
    assert len(got) == 3
    # neighbors come from the same ground-truth cluster (ids ≡ 0 mod 4)
    assert all(r["vec_id"] % 4 == 0 for r in got)


def test_deterministic_kmeans_clusters_and_reproduces(spark):
    import numpy as np

    rng = np.random.default_rng(1)
    centers = np.eye(4) * 3
    rows = []
    for i in range(120):
        c = i % 4
        v = centers[c] + rng.normal(0, 0.05, 4)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    a = S.build_ivf_index_deterministic(
        df, "embedding", "vec_id", n_cells=4, n_iters=2
    )
    got = {r["vec_id"]: r["cell"] for r in a.collect()}
    # well-separated ground truth: co-clustered iff same id mod 4
    for i in range(120):
        assert (got[i] == got[i % 4]) and (got[i] != got[(i + 1) % 4])
    b = S.build_ivf_index_deterministic(
        df, "embedding", "vec_id", n_cells=4, n_iters=2
    )
    assert {(r["vec_id"], r["cell"]) for r in b.collect()} == set(got.items())


def test_salted_join_matches_plain(spark):
    from pystore_spark.functions.joins import salted_join, salted_count_per_key

    big = spark.range(0, 1000).selectExpr(
        "CASE WHEN id < 900 THEN 1 ELSE id END AS k", "id AS payload"
    )  # key 1 holds 90% of rows
    dim = spark.createDataFrame(
        [(1, "hot"), (950, "cold")], ["k", "name"]
    )
    plain = big.join(dim, "k").groupBy("name").count().collect()
    salted = (
        salted_join(big, dim, ["k"]).groupBy("name").count().collect()
    )
    assert {(r["name"], r["count"]) for r in plain} == {
        (r["name"], r["count"]) for r in salted
    }
    counts = {
        r["k"]: r["n"]
        for r in salted_count_per_key(big, ["k"]).collect()
    }
    assert counts[1] == 900


def test_near_dedup_pipeline(docs):
    kept = D.near_dedup(
        docs.filter(F.col("text") != ""), "text", "doc_id", threshold=0.7
    )
    ids = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    # 1 is an exact dup of 0; 2 is a near dup (1-word diff) -> both dropped
    assert ids == [0, 3, 4]


def test_connected_components_chain(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], ["id_i", "id_j"]
    )
    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 5, 6, 9]], ["id"])
    comp = {
        r["id"]: r["component"]
        for r in D.connected_components(edges, ids, "id").collect()
    }
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[5] == comp[6] == 5
    assert comp[9] == 9


def test_hash_sampling_deterministic(spark, docs):
    from pystore_spark.functions import sampling as SA

    rate = F.lit(50)
    a = SA.stratified_sample_hash(docs, "doc_id", rate).collect()
    b = SA.stratified_sample_hash(docs, "doc_id", rate).collect()
    assert {r["doc_id"] for r in a} == {r["doc_id"] for r in b}
    assert all(0 <= r["bucket"] < 100 for r in a)
    fixed = SA.fixed_sample_per_stratum(docs, "doc_id", "src", 2)
    per = (
        fixed.groupBy("src").count().collect()
    )
    assert all(r["count"] <= 2 for r in per)
    # determinism across runs
    assert {r["doc_id"] for r in fixed.collect()} == {
        r["doc_id"] for r in SA.fixed_sample_per_stratum(
            docs, "doc_id", "src", 2
        ).collect()
    }


def test_repetition_ratio(spark):
    rows = [
        (0, "spam spam spam spam spam spam spam spam"),
        (1, "each word here is completely distinct from others always"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["rep"]
        for r in df.select(
            "doc_id", X.repetition_ratio("text").alias("rep")
        ).collect()
    }
    assert got[0] > 0.8  # six identical trigrams of eight -> high
    assert got[1] == 0.0


def test_tfidf_scores(spark):
    rows = [
        (0, "apple banana apple"),
        (1, "banana cherry"),
        (2, "durian durian durian"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        (r["doc_id"], r["term"]): r
        for r in X.tfidf_scores(df, "text", "doc_id").collect()
    }
    import math

    assert out[(0, "apple")]["tf"] == 2
    assert out[(0, "apple")]["tfidf"] == round(2 * math.log(3 / 1), 6)
    # banana appears in 2 of 3 docs
    assert out[(1, "banana")]["tfidf"] == round(1 * math.log(3 / 2), 6)


# ---------------------------------------------------------------------------
# banded interval join / time-series grid
# ---------------------------------------------------------------------------
def test_banded_interval_join_boundaries(spark):
    from datetime import datetime

    from pystore_spark.functions.joins import banded_interval_join

    t0 = datetime(2024, 1, 1, 0, 0, 0)

    def ts(sec):
        return datetime(2024, 1, 1, 0, 0, 0).replace(
            minute=sec // 60, second=sec % 60
        )

    # interval [100, 700): spans two 600s bands; [1200, 1800) aligned
    # exactly on band edges
    iv = spark.createDataFrame(
        [(1, ts(100), ts(700)), (2, ts(1200), ts(1800))],
        "iv_id int, s timestamp, e timestamp",
    )
    pr = spark.createDataFrame(
        [
            (10, ts(100)),   # == start: included
            (11, ts(699)),   # inside, second band of iv 1
            (12, ts(700)),   # == end: excluded (half-open)
            (13, ts(1200)),  # == aligned start: included, iv 2
            (14, ts(1799)),  # last second of iv 2
            (15, ts(1800)),  # == aligned end: excluded
        ],
        "p_id int, t timestamp",
    )
    got = {
        (r["iv_id"], r["p_id"])
        for r in banded_interval_join(iv, pr, "s", "e", "t", 600).collect()
    }
    assert got == {(1, 10), (1, 11), (2, 13), (2, 14)}
    # left join keeps empty intervals exactly once per band replica,
    # and count(col) collapses them to zero
    empty = spark.createDataFrame(
        [(3, ts(2000), ts(2100))], "iv_id int, s timestamp, e timestamp"
    )
    left = banded_interval_join(empty, pr, "s", "e", "t", 600, how="left")
    agg = left.groupBy("iv_id").agg(F.count("p_id").alias("n")).collect()
    assert [(r["iv_id"], r["n"]) for r in agg] == [(3, 0)]


def test_banded_interval_join_rejects_shared_columns(spark):
    from pystore_spark.functions.joins import banded_interval_join

    df = spark.range(3).selectExpr(
        "id", "timestamp'2024-01-01' as s", "timestamp'2024-01-02' as e"
    )
    pr = df.selectExpr("id", "s as t")
    with pytest.raises(ValueError, match="disjoint"):
        banded_interval_join(df, pr, "s", "e", "t", 600)


def test_locf_fills_gaps_but_not_leading_nulls(spark):
    from pystore_spark.functions.timeseries import locf

    df = spark.createDataFrame(
        [
            ("a", 1, None), ("a", 2, 5.0), ("a", 3, None), ("a", 4, 7.0),
            ("b", 1, 2.0), ("b", 2, None), ("b", 3, None),
        ],
        "k string, t int, v double",
    )
    out = {
        (r["k"], r["t"]): r["v_filled"]
        for r in locf(df, ["k"], "t", ["v"]).collect()
    }
    assert out[("a", 1)] is None          # before first observation
    assert out[("a", 3)] == 5.0           # carried forward
    assert out[("a", 4)] == 7.0           # real value wins
    assert out[("b", 2)] == 2.0 and out[("b", 3)] == 2.0


def test_time_grid_is_dense_and_inclusive(spark):
    from pystore_spark.functions.timeseries import time_grid

    keys = spark.createDataFrame([("a",), ("b",)], "k string")
    grid = time_grid(keys, "2024-01-01", "2024-01-05", "interval 1 day")
    assert grid.count() == 2 * 5
    days = sorted(
        r["grid_ts"].day for r in grid.filter(F.col("k") == "a").collect()
    )
    assert days == [1, 2, 3, 4, 5]


def test_int8_quantization_bound(spark):
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from pystore_spark.functions import similarity as S

    rng = np.random.default_rng(5)
    vecs = [rng.normal(0, 1, 32).astype(float).tolist() for _ in range(50)]
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(50), "v": vecs})
    )
    q, scale = S.quantize_int8(F.col("v"))
    out = df.withColumn("q", q).withColumn("scale", scale)
    dec = S.dequantize_int8(F.col("q"), F.col("scale"))
    err = F.array_max(F.zip_with(F.col("v"), dec, lambda a, b: F.abs(a - b)))
    bad = out.filter(err > F.col("scale") / 2.0 + 1e-12).count()
    assert bad == 0
    # codes must fit int8
    row = out.select(
        F.max(F.array_max("q")).alias("hi"),
        F.min(F.array_min("q")).alias("lo"),
    ).first()
    assert -127 <= row["lo"] and row["hi"] <= 127


def test_weighted_sample_excludes_nonpositive_weights(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from pystore_spark.functions import sampling as SA

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": list(range(8)),
                "s": ["a"] * 8,
                "w": [0.0, -1.0, 2.0, 3.0, 1.0, 4.0, 5.0, 6.0],
            }
        )
    )
    out = SA.weighted_sample_per_stratum(df, "k", "s", "w", 10).toPandas()
    # zero/negative weights are never sampled (p proportional to w) and
    # must not crash under ANSI division
    assert set(out["k"]) == {2, 3, 4, 5, 6, 7}


def test_pii_counts_and_scrub(spark):
    import pandas as pd

    from pystore_spark.functions import text as X

    rows = pd.DataFrame(
        {
            "id": [1, 2, 3, 4],
            "text": [
                "contact alice.smith+x@example.co.uk or 10.0.0.1 today",
                "card 4111 1111 1111 1111 expires soon, ssn 123-45-6789",
                "call +1 415-555-0199 or 0800 123456 now",
                "nothing sensitive here at all",
            ],
        }
    )
    df = spark.createDataFrame(rows)
    out = (
        df.select("id", *X.pii_counts("text").values())
        .orderBy("id")
        .toPandas()
    )
    assert out["n_email"].tolist() == [1, 0, 0, 0]
    assert out["n_ipv4"].tolist() == [1, 0, 0, 0]
    assert out["n_ssn"].tolist() == [0, 1, 0, 0]
    assert out["n_credit_card"].tolist()[1] == 1
    assert out["n_phone"].tolist()[2] >= 2 and out["n_phone"].tolist()[3] == 0

    scrubbed = (
        df.select("id", X.scrub_pii("text").alias("t"))
        .orderBy("id")
        .toPandas()["t"]
        .tolist()
    )
    joined = " ".join(scrubbed)
    assert "@" not in joined
    assert "4111" not in joined and "123-45-6789" not in joined
    assert "555-0199" not in joined and "10.0.0.1" not in joined
    assert scrubbed[3] == "nothing sensitive here at all"
    # scrub stays a single shuffle-free projection (no Python)
    plan = df.select(
        X.scrub_pii("text")
    )._sc._jvm.PythonSQLUtils.explainString(
        df.select(X.scrub_pii("text"))._jdf.queryExecution(), "simple"
    )
    assert "Exchange" not in plan and "Python" not in plan


def test_c4_flags_crlf_matches_duckdb(spark):
    """CRLF corpora must score identically in Spark and the DuckDB
    oracle: the terminal-punct test uses last-character membership,
    never a regex '$' anchor (Java matches before a trailing line
    terminator, RE2 does not)."""
    import duckdb
    import pandas as pd

    from pystore_spark.functions.text import c4_flags

    docs = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [
            "Good sentence.\r\nAnother one!\r\n",
            "No punct here\r\nor here\r\n",
            "Unix style.\nAlso fine?\n",
        ],
    })
    flags = c4_flags("text")
    got = {
        r["doc_id"]: (r["ratio"], r["ok"])
        for r in spark.createDataFrame(docs)
        .select(
            "doc_id",
            flags["terminal_punct_line_ratio"].alias("ratio"),
            flags["c4_pass"].alias("ok"),
        )
        .collect()
    }
    con = duckdb.connect()
    con.register("documents", docs)
    want = {
        r[0]: (r[1], r[2])
        for r in con.sql(r"""
            WITH l AS (
              SELECT doc_id,
                list_filter(string_split_regex(text, '\r?\n'),
                            x -> trim(x) != '') AS lines
              FROM documents)
            SELECT doc_id,
              ROUND(CASE WHEN len(lines) > 0 THEN
                len(list_filter(lines,
                    x -> right(trim(x), 1) IN ('.', '!', '?', '"', '''')))::DOUBLE
                / len(lines) ELSE 0.0 END, 6) AS ratio,
              CASE WHEN len(lines) > 0 THEN
                len(list_filter(lines,
                    x -> right(trim(x), 1) IN ('.', '!', '?', '"', '''')))::DOUBLE
                / len(lines) ELSE 0.0 END >= 0.5 AS ok
            FROM l
        """).fetchall()
    }
    assert got == want
    assert got[1] == (1.0, True) and got[2][0] == 0.0


def test_psi_drift_detects_shift_and_is_zeroish_on_identity(spark):
    """psi_drift: identical slices score ~0; a shifted distribution
    scores high — and the total is the sum of per-bucket terms."""
    import pandas as pd

    from pystore_spark.functions.text import psi_drift

    ref = spark.createDataFrame(pd.DataFrame(
        {"n": [100.0] * 50 + [500.0] * 50}
    ))
    same = psi_drift(ref, ref, "n").agg(
        F.sum("psi_term").alias("t")
    ).first()["t"]
    assert abs(same) < 1e-9

    shifted = spark.createDataFrame(pd.DataFrame(
        {"n": [100.0] * 95 + [500.0] * 5}
    ))
    moved = psi_drift(ref, shifted, "n").agg(
        F.sum("psi_term").alias("t")
    ).first()["t"]
    assert moved > 0.2  # the classic 'investigate' threshold


def test_kneser_ney_logprob_matches_hand_computation(spark, tmp_path):
    """Parity of the interpolated-KN registry query against a pure-
    Python reference on a tiny hand-checkable corpus (VERDICT r7
    item 4): P(w2|w1) = max(c12-D,0)/c1 + (D*N1r(w1)/c1)*(N1l(w2)/T),
    per-doc score = mean -ln P over the doc's bigram occurrences."""
    import math
    from collections import Counter

    import pandas as pd

    from pystore_spark.queries_ext import kneser_ney_logprob

    docs = {
        1: "the cat sat on the mat",
        2: "the dog sat on the log",
        3: "a cat and a dog",
        4: "single",  # <2 tokens: excluded from output
    }
    pdf = pd.DataFrame(
        {"doc_id": list(docs), "text": list(docs.values())}
    )
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)

    # pure-Python reference
    D = 0.75
    bigrams: Counter = Counter()  # corpus bigram counts
    per_doc: dict[int, list[tuple[str, str]]] = {}
    for did, text in docs.items():
        t = text.split()
        bg = list(zip(t, t[1:]))
        per_doc[did] = bg
        bigrams.update(bg)
    c1: Counter = Counter()
    n_right: Counter = Counter()
    n_left: Counter = Counter()
    for (w1, w2), c in bigrams.items():
        c1[w1] += c
        n_right[w1] += 1
        n_left[w2] += 1
    T = len(bigrams)
    expected = {}
    for did, bg in per_doc.items():
        if not bg:
            continue
        tot = 0.0
        for w1, w2 in bg:
            p = max(bigrams[(w1, w2)] - D, 0.0) / c1[w1] + (
                D * n_right[w1] / c1[w1]
            ) * (n_left[w2] / T)
            tot += round(-math.log(p), 12)
        expected[did] = round(tot / len(bg), 6)

    got = {
        r["doc_id"]: r["kn_xent"]
        for r in kneser_ney_logprob(spark, str(tmp_path)).collect()
    }
    assert set(got) == set(expected)  # doc 4 excluded both sides
    for did in expected:
        assert got[did] == pytest.approx(expected[did], abs=1e-9), did


def test_decontaminate_spans_hand_cases(spark):
    """Span-level decontamination semantics on hand-checkable cases:
    matching trigram spans are REMOVED (not flagged), overlapping
    hits merge into one span, clean docs pass through byte-identical,
    and sub-trigram docs are never touched."""
    from pystore_spark.functions.text import decontaminate_spans

    bench = spark.createDataFrame(
        pd.DataFrame({"text": ["the quick brown fox jumps"]})
    )
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                # hits 'the quick brown' at 2 and 'quick brown fox'
                # at 3 — overlapping, one merged span [2, 6)
                "say hello the quick brown fox ok then",
                "completely clean document here",
                "the quick",  # < 3 tokens of a gram: untouched
                # two disjoint hits -> two spans
                "the quick brown x y z quick brown fox end",
            ],
        }
    )
    out = (
        decontaminate_spans(spark.createDataFrame(docs), bench, n=3)
        .orderBy("doc_id")
        .collect()
    )
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["cleaned_text"] == "say hello ok then"
    assert by_id[1]["n_spans_removed"] == 1
    assert by_id[1]["n_tokens_removed"] == 4
    assert by_id[2]["cleaned_text"] == "completely clean document here"
    assert by_id[2]["n_spans_removed"] == 0
    assert by_id[2]["n_tokens_removed"] == 0
    assert by_id[3]["cleaned_text"] == "the quick"
    assert by_id[3]["n_spans_removed"] == 0
    assert by_id[4]["cleaned_text"] == "x y z end"
    assert by_id[4]["n_spans_removed"] == 2
    assert by_id[4]["n_tokens_removed"] == 6


def test_dedup_substrings_hand_cases(spark):
    """Exact substring dedup semantics: a >=k-token passage shared
    with a lower-id doc is cut from the higher-id one (overlapping
    windows merge to one maximal span); the owner keeps its copy;
    within-doc repeats are never cut."""
    from pystore_spark.functions.text import dedup_substrings

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "a b c d e f g h",
                "x y a b c d e z",  # shares 'a b c d e' with doc 1
                "p q r s p q r s",  # internal repeat only: untouched
            ],
        }
    )
    out = {
        r["doc_id"]: r
        for r in dedup_substrings(
            spark.createDataFrame(docs), k=4
        ).collect()
    }
    assert out[1]["cleaned_text"] == "a b c d e f g h"  # owner keeps
    assert out[1]["n_spans_removed"] == 0
    assert out[2]["cleaned_text"] == "x y z"
    assert out[2]["n_spans_removed"] == 1
    assert out[2]["n_tokens_removed"] == 5
    assert out[3]["cleaned_text"] == "p q r s p q r s"
    assert out[3]["n_spans_removed"] == 0


def test_dedup_repeats_hand_cases(spark):
    """In-doc repetition trimming: a repeated >=k-token span collapses
    to its first occurrence; period-1 runs collapse; distinct text
    and cross-doc duplicates are untouched."""
    from pystore_spark.functions.text import dedup_repeats

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "p q r s p q r s",  # full repeat -> first copy kept
                "a a a a a",  # period-1 run
                "u v w x y z",  # clean
                "p q r s t u v w",  # doc 1's prefix: cross-doc is NOT
            ],                      # this operator's business
        }
    )
    out = {
        r["doc_id"]: r
        for r in dedup_repeats(
            spark.createDataFrame(docs), k=4
        ).collect()
    }
    assert out[1]["cleaned_text"] == "p q r s"
    assert out[1]["n_tokens_removed"] == 4
    assert out[2]["cleaned_text"] == "a"
    assert out[3]["cleaned_text"] == "u v w x y z"
    assert out[3]["n_spans_removed"] == 0
    assert out[4]["cleaned_text"] == "p q r s t u v w"


def test_split_documents_hand_cases(spark):
    """Sliding-window chunking: exact cover with overlap, short docs
    pass through, boundaries never lose tokens."""
    from pystore_spark.functions.text import split_documents

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                " ".join(str(i) for i in range(10)),  # 10 toks
                "a b c",  # short: single chunk
                "",  # empty: one empty chunk, no vanishing row
            ],
        }
    )
    out = split_documents(
        spark.createDataFrame(docs), max_tokens=4, overlap=1
    ).collect()
    by = {}
    for r in out:
        by.setdefault(r["doc_id"], []).append(r)
    # doc 1: starts 0,3,6 cover 0-9 with the last window [6,10)
    c1 = sorted(by[1], key=lambda r: r["chunk_id"])
    assert [r["chunk_text"] for r in c1] == [
        "0 1 2 3", "3 4 5 6", "6 7 8 9",
    ]
    assert [r["n_chunk_tokens"] for r in c1] == [4, 4, 4]
    # every token appears; consecutive chunks share exactly 1 token
    assert len(by[2]) == 1 and by[2][0]["chunk_text"] == "a b c"
    assert len(by[3]) == 1 and by[3][0]["chunk_text"] == ""
    assert by[3][0]["n_chunk_tokens"] == 0
    # uneven tail: 11 tokens, max 4, overlap 1 -> starts 0,3,6,9;
    # the last chunk is the 2-token remainder [9, 11)
    docs2 = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [9], "text": [" ".join(map(str, range(11)))]}
        )
    )
    c9 = sorted(
        split_documents(docs2, max_tokens=4, overlap=1).collect(),
        key=lambda r: r["chunk_id"],
    )
    assert [r["chunk_text"] for r in c9] == [
        "0 1 2 3", "3 4 5 6", "6 7 8 9", "9 10",
    ]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        split_documents(docs2, max_tokens=4, overlap=4)


def test_dedup_substrings_hot_gram_guard(spark, monkeypatch):
    """Hot-gram skew guard: with a boilerplate k-gram present in many
    docs and the cap forced low, (a) results are identical to the
    all-cold formulation, (b) the executed plan resolves hot keys via
    BroadcastHashJoin — the hot gram never rides a gram-keyed
    exchange (the one reducer that would melt at 100 TB). The r12
    small-input window tier is disabled here so the census paths are
    actually exercised — and pinned equal to the window tier at the
    end."""
    from pystore_spark import config
    from pystore_spark.functions.text import dedup_substrings

    boiler = "all rights reserved by the original author entirely"
    rows = [(1, f"{boiler} owner body one")] + [
        (i, f"doc {i} unique words here {boiler}")
        for i in range(2, 42)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    monkeypatch.setattr(config, "SUBSTRING_WINDOW_MIN_BYTES", 0)
    guarded = dedup_substrings(docs, k=8, hot_gram_rows=5)
    plain = dedup_substrings(docs, k=8, hot_gram_rows=10_000_000)
    g = {r["doc_id"]: r for r in guarded.collect()}
    p = {r["doc_id"]: r for r in plain.collect()}
    assert set(g) == set(p)
    for i in g:
        assert g[i]["cleaned_text"] == p[i]["cleaned_text"]
        assert g[i]["n_spans_removed"] == p[i]["n_spans_removed"]
    # owner keeps the boilerplate; every later doc loses it
    assert boiler in g[1]["cleaned_text"]
    assert all(boiler not in g[i]["cleaned_text"] for i in range(2, 42))

    plan = guarded._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan

    # window tier (default gate for this tiny frame): identical rows
    monkeypatch.setattr(
        config, "SUBSTRING_WINDOW_MIN_BYTES", 64 << 20
    )
    w = {r["doc_id"]: r for r in dedup_substrings(docs, k=8).collect()}
    assert set(w) == set(p)
    for i in w:
        assert w[i]["cleaned_text"] == p[i]["cleaned_text"]
        assert w[i]["n_spans_removed"] == p[i]["n_spans_removed"]


def test_bm25_empty_corpus_returns_empty(spark):
    """Review finding (round 9): an empty corpus used to crash on
    float(None) from the stats row; it now returns an empty top-k
    with the output schema."""
    from pystore_spark.functions.text import bm25_topk

    empty = spark.createDataFrame([], "doc_id long, text string")
    out = bm25_topk(empty, ["spark"])
    assert out.columns == ["doc_id", "bm25"]
    assert out.count() == 0


def test_bm25_shared_child_matches_twoscan(spark, monkeypatch, tmp_path):
    """The r13 shared-child tier (stats and hit postings from ONE
    pinned tokenized child, gated ON above
    BM25_SHARED_SCAN_MIN_BYTES — and for stats-less sources, where
    the scale-safe tier is the right unknown-size default) must be
    bit-identical to the two-scan form — including duplicate ids
    (n_docs counts ROWS), null/empty text (sentinel still emitted;
    dl = size(null) semantics preserved), and repeated query terms in
    a doc (tf) and in the bag (dedup). The default-gate (small) tier
    is exercised too, from a parquet source that carries stats."""
    from pystore_spark import config
    from pystore_spark.functions.text import bm25_rank, bm25_topk, tokens

    rows = [
        (1, "spark window spark query engine"),
        (2, "vector search with window functions"),
        # dup id; SAME token count as doc 1's first row (dl=5) so the
        # per-(id, term) first(dl) is deterministic in VALUE — with
        # different dls Spark's first() would be plan-order-dependent
        # and the cross-tier assertion unsound (review r13)
        (1, "dup id doc query query"),
        (3, None),  # null text
        (4, ""),  # empty text
        (5, "no matching terms at all here"),
        (6, "spark spark spark window"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bag = ["spark", "query", "window", "vector", "spark"]  # dup term

    def twoscan(df):  # the pre-r13 formulation, verbatim
        toks = tokens(F.lower(F.col("text")))
        base = df.select(
            F.col("doc_id"), F.size(toks).alias("dl"), toks.alias("a")
        )
        stats = base.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("total_dl"),
        ).select(
            F.col("n_docs").cast("double").alias("_nd"),
            (
                F.col("total_dl").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("_avgdl"),
        )
        hits = (
            base.select("doc_id", "dl", F.explode("a").alias("term"))
            .filter(F.col("term").isin(list(bag)))
            .groupBy("doc_id", "term")
            .agg(
                F.count(F.lit(1)).alias("tf"),
                F.first("dl").alias("dl"),
            )
            .crossJoin(F.broadcast(stats))
        )
        return bm25_rank(
            hits, F.col("_nd"), F.col("_avgdl"), "doc_id", 1.2, 0.75, 10
        )

    want = twoscan(docs).collect()

    # shared-child tier (force the gate ON for this tiny frame)
    monkeypatch.setattr(config, "BM25_SHARED_SCAN_MIN_BYTES", 0)
    out_df = bm25_topk(docs, bag, top_k=10)
    got = out_df.collect()
    assert [(r["doc_id"], r["bm25"]) for r in got] == [
        (r["doc_id"], r["bm25"]) for r in want
    ]
    assert len(got) > 0
    # plan shape: the corpus is scanned/tokenized once — every
    # consumer reads the pinned (id, term) aggregation (inspect the
    # FINAL adaptive plan, after the collect above materialized it).
    # ≥2 cache consumers over ONE InMemoryRelation — persist
    # semantics guarantee its child (the scan+tokenize) computes once
    # per partition (the node's description reprints the cached plan,
    # so raw scan-string counts over the text are meaningless)
    plan = out_df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 2 or (
        plan.count("TableCacheQueryStage") >= 2
    )

    # default gate: a small PARQUET corpus (Catalyst stats exist)
    # takes the two-scan tier — same rows, and NO pin in the plan
    monkeypatch.setattr(config, "BM25_SHARED_SCAN_MIN_BYTES", 32 << 20)
    pq = str(tmp_path / "docs.parquet")
    docs.write.mode("overwrite").parquet(pq)
    docs_pq = spark.read.parquet(pq)
    small_df = bm25_topk(docs_pq, bag, top_k=10)
    small = small_df.collect()
    assert [(r["doc_id"], r["bm25"]) for r in small] == [
        (r["doc_id"], r["bm25"]) for r in want
    ]
    small_plan = small_df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in small_plan


def test_multimodal_truncated_v1_boxes_raise_valueerror():
    """ADVICE r10: mvhd/tkhd version-1 boxes carry 64-bit times, so a
    truncated v1 box must take the documented malformed-ValueError
    path — never struct.error from inside an executor (opaque job
    failure). filter_decodable catches Exception either way; this pins
    the error TYPE for extract_features callers."""
    import struct

    import pytest

    def box(typ, body):
        return struct.pack(">I", len(body) + 8) + typ + body

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    # mvhd v1 but only 24 body bytes (needs >= 32 to read the 64-bit
    # duration at +24..32)
    mvhd_v1_short = box(b"mvhd", bytes([1, 0, 0, 0]) + bytes(20))
    with pytest.raises(ValueError, match="truncated mvhd v1"):
        M._real_decode(ftyp + box(b"moov", mvhd_v1_short))

    # valid v0 mvhd + tkhd v1 with an 84-byte body (passes the v0
    # guard, needs >= 96 for the v1 dims at +88..96)
    mvhd_v0 = box(
        b"mvhd",
        bytes(4) + bytes(8) + struct.pack(">II", 1000, 3000)
        + bytes(80),
    )
    tkhd_v1_short = box(b"tkhd", bytes([1, 0, 0, 0]) + bytes(80))
    with pytest.raises(ValueError, match="truncated tkhd v1"):
        M._real_decode(
            ftyp
            + box(b"moov", mvhd_v0 + box(b"trak", tkhd_v1_short))
        )


def test_png_pixel_roundtrip_and_filters():
    """decode_png_pixels inverts every scanline filter: encode with
    filter 0 (our encoder), decode, and compare to the generating
    function; then a zlib/filtered PNG from encode_png with RGB."""
    import numpy as np

    px_fn = lambda x, y: (x * 7 + y * 13) % 256
    png = M.write_png(20, 12, px_fn)
    arr = M.decode_png_pixels(png)
    assert arr.shape == (12, 20, 1)
    want = np.array(
        [[px_fn(x, y) for x in range(20)] for y in range(12)],
        dtype=np.uint8,
    )
    assert (arr[:, :, 0] == want).all()

    rgb = np.stack([want, want, 255 - want], axis=-1)
    again = M.decode_png_pixels(M.encode_png(rgb))
    assert again.shape == (12, 20, 3)
    assert (again == rgb).all()

    # 16-bit / palette variants are the documented codec gate
    deep = bytearray(M.write_png(4, 4))
    deep[24] = 16  # bit depth byte inside IHDR
    with pytest.raises(NotImplementedError):
        M.decode_png_pixels(bytes(deep))


def test_image_pixel_stats_and_resize(spark):
    """Real content features + resize over binary image columns:
    entropy separates a constant image from a gradient; resize
    produces a real decodable PNG at the target dims; undecodable
    payloads keep-and-flag instead of failing the job."""
    import io
    import wave

    import numpy as np

    flat = M.write_png(16, 16, lambda x, y: 77)
    grad = M.write_png(16, 16, lambda x, y: (x * 16 + y) % 256)
    jpeg = M.write_jpeg_headers(8, 8)  # codec-bound: flagged
    rows = [
        (0, "img", flat, None),
        (1, "img", grad, None),
        (2, "img", jpeg, None),
    ]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    stats = {
        r["media_id"]: r for r in M.image_pixel_stats(df).collect()
    }
    assert stats[0]["entropy"] == 0.0 and stats[0]["std"] == 0.0
    assert stats[0]["mean"] == 77.0
    assert stats[1]["entropy"] > 7.0  # near-uniform 256 levels
    assert stats[2]["error"] and stats[2]["mean"] is None

    resized = {
        r["media_id"]: r
        for r in M.resize_images(df, 4, 6).collect()
    }
    out = M.decode_png_pixels(bytes(resized[1]["payload"]))
    assert out.shape == (6, 4, 1)
    assert resized[1]["meta"]["target_w"] == "4"
    # nearest-neighbor determinism: top-left pixel survives
    assert int(out[0, 0, 0]) == (0 * 16 + 0) % 256
    assert "resize_error" in resized[2]["meta"]
    assert bytes(resized[2]["payload"]) == jpeg  # passthrough

    # audio: PCM sample stats from a real wave-module clip
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        sig = np.arange(-500, 500, dtype="<i2")
        w.writeframes(sig.tobytes())
    adf = spark.createDataFrame(
        [(5, "aud", buf.getvalue(), None)], M.MEDIA_SCHEMA
    )
    (arow,) = M.audio_sample_stats(adf).collect()
    assert arow["sample_rate"] == 8000 and arow["n_frames"] == 1000
    assert arow["min"] == -500 and arow["max"] == 499
    assert arow["mean"] == pytest.approx(-0.5)
    assert arow["error"] is None


def test_sql_double_literal_roundtrips_exactly(spark):
    """The r12 SQL-text kernel builders inline float literals via
    repr(); Spark's parser must reproduce the exact IEEE value for
    every notation repr can emit (plain, scientific, negative, tiny,
    huge, zero) or kernels would drift from the Column-API trees."""
    import struct

    from pystore_spark.functions.similarity import _sql_double

    vals = [
        0.0, -0.0, 1.0, -1.5, 0.1, 1 / 3, 2.5e-05, -7.1e-12,
        1e16, -3.14159e100, 5e-324, 1.7976931348623157e308,
        123456.789012345678, float("nan"), float("inf"),
        float("-inf"),
    ]
    row = spark.sql(
        "SELECT " + ", ".join(
            f"{_sql_double(v)} AS c{i}" for i, v in enumerate(vals)
        )
    ).first()
    for i, v in enumerate(vals):
        got = row[f"c{i}"]
        assert struct.pack(">d", got) == struct.pack(">d", v), (
            v, got
        )


def test_pq_fused_trainer_matches_per_subspace(spark):
    """The fused PQ trainer (one init collect + one aggregation job
    per iteration across ALL subspaces — r12 optimization) must
    return codebooks bit-identical to training each subspace
    independently through train_ivf_centroids on sliced frames, on
    BOTH tiers: the SQL fold tier and the GEMM partial-agg kernel
    (same assignment arithmetic, order-independent int64 sums)."""
    from pystore_spark.functions import similarity as S
    from pystore_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")

    def per_subspace(m, n_cells):
        dim = len(emb.select("embedding").first()["embedding"])
        d_sub = dim // m
        return [
            S.train_ivf_centroids(
                emb.select(
                    "vec_id",
                    F.slice(
                        F.col("embedding"), j * d_sub + 1, d_sub
                    ).alias("_sub"),
                ),
                "_sub",
                "vec_id",
                n_cells=n_cells,
                n_iters=2,
            )
            for j in range(m)
        ]

    # fold tier (< GEMM_ASSIGN_MIN_CELLS entries per subspace)
    assert S.train_pq_codebooks(
        emb, "embedding", "vec_id", m=4, n_cells=8, n_iters=2
    ) == per_subspace(4, 8)
    # GEMM tier (>= GEMM_ASSIGN_MIN_CELLS): the in-kernel partial
    # aggregation folds to the same int64 sums
    assert S.train_pq_codebooks(
        emb, "embedding", "vec_id", m=4, n_cells=64, n_iters=2
    ) == per_subspace(4, 64)


def test_driver_local_trainer_matches_distributed(spark, monkeypatch):
    """The r13 driver-local training tier (one collect + numpy fold
    replay) must return bit-identical centroids/codebooks to the
    distributed iteration on every trainer — including n_cells="auto"
    resolution and the fused residual trainer — and must refuse
    inputs whose semantics it cannot replay exactly."""
    from pystore_spark import config
    from pystore_spark.functions import similarity as S
    from pystore_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    even = emb.filter(F.col("vec_id") % 2 == 0)

    def distributed(fn):
        monkeypatch.setattr(config, "KMEANS_DRIVER_TRAIN_MAX_BYTES", 0)
        try:
            return fn()
        finally:
            monkeypatch.setattr(
                config, "KMEANS_DRIVER_TRAIN_MAX_BYTES", 32 << 20
            )

    # local tier actually fires at this size
    assert S._collect_train_rows(even, "embedding", "vec_id")

    for kw in (
        dict(n_cells=4, n_iters=2),
        dict(n_cells="auto", n_iters=1),
    ):
        local = S.train_ivf_centroids(even, "embedding", "vec_id", **kw)
        dist = distributed(
            lambda: S.train_ivf_centroids(
                even, "embedding", "vec_id", **kw
            )
        )
        assert local == dist

    lb = S.train_pq_codebooks(
        even, "embedding", "vec_id", m=2, n_cells=4, n_iters=2
    )
    db = distributed(
        lambda: S.train_pq_codebooks(
            even, "embedding", "vec_id", m=2, n_cells=4, n_iters=2
        )
    )
    assert lb == db

    # non-default coarse quant: the books must still train with
    # train_pq_codebooks' PINNED 1e7 on BOTH tiers (review r13 —
    # the local tier previously used the caller's quant for books)
    qc_l, qb_l = S.train_residual_pq(
        even, "embedding", "vec_id", n_cells=4, m=2, pq_cells=4,
        n_iters=1, quant=1e5,
    )
    qc_d, qb_d = distributed(
        lambda: S.train_residual_pq(
            even, "embedding", "vec_id", n_cells=4, m=2, pq_cells=4,
            n_iters=1, quant=1e5,
        )
    )
    assert qc_l == qc_d and qb_l == qb_d

    # fused residual trainer == the unfused distributed sequence
    fc, fb = S.train_residual_pq(
        even, "embedding", "vec_id", n_cells=4, m=2, pq_cells=4,
        n_iters=2,
    )
    def unfused():
        cents = S.train_ivf_centroids(
            even, "embedding", "vec_id", n_cells=4, n_iters=2
        )
        res = S._assign_cells(emb, "embedding", cents).withColumn(
            "embedding",
            S.residualize(F.col("embedding"), F.col("cell"), cents),
        )
        books = S.train_pq_codebooks(
            res.filter(F.col("vec_id") % 2 == 0),
            "embedding", "vec_id", m=2, n_cells=4, n_iters=2,
        )
        return cents, books
    uc, ub = distributed(unfused)
    assert fc == uc and fb == ub

    # refusal paths: semantics the numpy replay does not reproduce
    nan_df = spark.createDataFrame(
        [(0, [1.0, float("nan")]), (1, [0.5, 0.5])],
        "vec_id int, embedding array<double>",
    )
    assert S._collect_train_rows(nan_df, "embedding", "vec_id") is None
    ragged = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [0.5])],
        "vec_id int, embedding array<double>",
    )
    assert S._collect_train_rows(ragged, "embedding", "vec_id") is None

    # null vectors occupy init-window slots on both tiers
    nulls = spark.createDataFrame(
        [(0, None), (1, [1.0, 2.0]), (2, [3.0, 1.0]), (3, [0.0, 9.0])],
        "vec_id int, embedding array<double>",
    )
    ln = S.train_ivf_centroids(
        nulls, "embedding", "vec_id", n_cells=2, n_iters=1
    )
    dn = distributed(
        lambda: S.train_ivf_centroids(
            nulls, "embedding", "vec_id", n_cells=2, n_iters=1
        )
    )
    assert ln == dn and len(ln) == 1  # null took one init slot

    # row-cap overflow: a lying size estimate cannot pull an
    # over-cap frame onto the driver — the LIMIT cap+1 collect
    # detects it and the trainer stays distributed (same centroids)
    monkeypatch.setattr(config, "KMEANS_DRIVER_TRAIN_MAX_ROWS", 3)
    assert S._collect_train_rows(even, "embedding", "vec_id") is None
    capped = S.train_ivf_centroids(
        even, "embedding", "vec_id", n_cells=4, n_iters=1
    )
    monkeypatch.setattr(
        config, "KMEANS_DRIVER_TRAIN_MAX_ROWS", 262_144
    )
    uncapped = S.train_ivf_centroids(
        even, "embedding", "vec_id", n_cells=4, n_iters=1
    )
    assert capped == uncapped


def test_driver_local_trainer_refuses_cell_sum_overflow(
    spark, monkeypatch, tmp_path
):
    """Components just under the 1e11 ceiling, 16 rows in one cell:
    the cell's sum of floor(x·1e7) passes 2^63. The driver-local tier
    must not wrap it silently in int64 — both tiers raise the
    distributed sum's ARITHMETIC_OVERFLOW."""
    from pystore_spark import config
    from pystore_spark.functions import similarity as S

    # a parquet scan, so the size estimate exists and the local tier
    # would otherwise take the frame
    spark.createDataFrame(
        [(i, [9.9e10, 9.9e10 - i]) for i in range(16)],
        "vec_id int, embedding array<double>",
    ).write.parquet(str(tmp_path / "big"))
    big = spark.read.parquet(str(tmp_path / "big"))
    assert S._collect_train_rows(big, "embedding", "vec_id") is None

    def train():
        return S.train_ivf_centroids(
            big, "embedding", "vec_id", n_cells=1, n_iters=1
        )

    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW") as local:
        train()
    monkeypatch.setattr(config, "KMEANS_DRIVER_TRAIN_MAX_BYTES", 0)
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW") as dist:
        train()
    assert type(local.value) is type(dist.value)


def test_pq_adc_inplan_lut_matches_collect(spark):
    """The r13 in-plan LUT projection (no driver collect in the ADC
    search path) must be bit-identical to the driver-side LUT build
    on both modes — plain PQ and residual IVFADC (per-(query, cell)
    LUTs)."""
    from pystore_spark.functions import similarity as S
    from pystore_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    even = emb.filter(F.col("vec_id") % 2 == 0)
    cents, books = S.train_residual_pq(
        even, "embedding", "vec_id", n_cells=4, m=2, pq_cells=4,
        n_iters=2,
    )
    qa = S.assign_probe_cells(
        emb.filter("vec_id < 5"), "embedding", cents, nprobe=2
    )
    n_cells = max(len(cb) for cb in books)
    for cn in (cents, None):
        inplan = S._pq_lut_frame_inplan(
            qa, "embedding", "vec_id", "cell", books, n_cells,
            "q_vec_id", cn,
        ).collect()
        coll = S._pq_lut_frame_collect(
            qa, "embedding", "vec_id", "cell", books, n_cells,
            "q_vec_id", cn,
        ).collect()
        canon = lambda rows: sorted(  # noqa: E731
            (r["q_vec_id"], r["_qcell"], tuple(r["_lut"])) for r in rows
        )
        assert canon(inplan) == canon(coll)  # exact doubles
    # a query SHORTER than the codebook dim contributes only its
    # available components on both tiers (Python zip truncates; the
    # in-plan fold coalesces the padded tail to 0) — review r13
    short_qa = spark.createDataFrame(
        [(7, [0.25] * 32, 1)],
        "vec_id int, embedding array<double>, cell int",
    )
    si = S._pq_lut_frame_inplan(
        short_qa, "embedding", "vec_id", "cell", books, n_cells,
        "q_vec_id", None,
    ).collect()
    sc_ = S._pq_lut_frame_collect(
        short_qa, "embedding", "vec_id", "cell", books, n_cells,
        "q_vec_id", None,
    ).collect()
    assert [tuple(r["_lut"]) for r in si] == [
        tuple(r["_lut"]) for r in sc_
    ]

    # a null query vector must be DROPPED by the in-plan frame (no
    # NULL LUT ranking first, no crash) — engine call sites filter
    # upstream; the kernel stays safe for direct callers
    nulls_qa = spark.createDataFrame(
        [(0, None, 1), (1, [0.5] * 64, 0)],
        "vec_id int, embedding array<double>, cell int",
    )
    nq = S._pq_lut_frame_inplan(
        nulls_qa, "embedding", "vec_id", "cell", books, n_cells,
        "q_vec_id", None,
    ).collect()
    assert [r["q_vec_id"] for r in nq] == [1]
    assert all(x is not None for x in nq[0]["_lut"])

    # end-to-end: the dispatched search kernel output is unchanged
    out = S.pq_adc_cell_topk(
        S.pq_encode(
            S.residualize_frame(
                S._assign_cells(emb, "embedding", cents),
                "embedding", "cell", cents,
            ),
            "embedding", books,
        ),
        qa.filter("vec_id < 3"), "embedding", "vec_id", "cell",
        books, k=5, centroids=cents,
    )
    assert out.count() > 0


def test_pq_adc_cell_topk_tiers_drop_null_probe_rows(spark):
    """A probe row with a null vector or a null cell has no LUT on
    either side of GEMM_ASSIGN_MIN_CELLS: the in-plan tier (2-entry
    codebooks) and the driver-collect tier (64 entries) drop it and
    return the same rows. The 64-entry books extend the 2-entry ones
    with entries no code uses, so the distances are identical."""
    from pystore_spark.functions import similarity as S

    small = [[[0.0], [1.0]], [[0.0], [1.0]]]
    big = [cb + [[100.0 + i] for i in range(62)] for cb in small]
    assert len(small[0]) < S.GEMM_ASSIGN_MIN_CELLS <= len(big[0])
    codes = spark.createDataFrame(
        [(10, 0, [0, 1]), (11, 0, [1, 1]), (12, 1, [0, 0])],
        "vec_id int, cell int, _pq array<smallint>",
    )
    qa = spark.createDataFrame(
        [(1, [0.5, 0.25], 0), (2, None, 0), (3, [1.0, 0.0], 1),
         (4, [0.0, 0.0], None)],
        "vec_id int, embedding array<double>, cell int",
    )

    def rows(books):
        return sorted(
            tuple(r) for r in S.pq_adc_cell_topk(
                codes, qa, "embedding", "vec_id", "cell", books, k=5,
            ).collect()
        )

    got = rows(small)
    assert {r[0] for r in got} == {1, 3}
    assert rows(big) == got


def test_pq_encode_decode_and_adc_identity(spark):
    """Product quantization: codes are m smallints; the ADC distance
    (sum of per-subspace LUT entries) must equal the exact squared L2
    between the float query and the DECODED (reconstructed) vector —
    the algebraic identity PQ search rests on — and compression is
    real (m codes vs dim floats)."""
    from pystore_spark.functions import similarity as S
    from pystore_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    books = S.train_pq_codebooks(
        emb, "embedding", "vec_id", m=8, n_cells=16, n_iters=2
    )
    assert len(books) == 8 and len(books[0]) == 16
    assert len(books[0][0]) == 8  # dim 64 / m 8

    codes = S.pq_encode(emb, "embedding", books)
    row = codes.select("_pq").first()
    assert len(row["_pq"]) == 8
    assert all(0 <= c < 16 for c in row["_pq"])

    queries = emb.filter("vec_id < 3")
    got = S.pq_adc_topk(
        codes, queries, "embedding", "vec_id", books, k=5
    ).toPandas()
    assert set(got.columns) == {"q_vec_id", "vec_id", "rank", "dist"}
    assert sorted(got["q_vec_id"].unique()) == [0, 1, 2]
    assert got.groupby("q_vec_id")["rank"].max().eq(5).all()

    # the ADC identity: dist(q, x) == ||q - decode(codes_x)||^2
    recon = codes.withColumn(
        "_dec", S.pq_decode_col(F.col("_pq"), books)
    )
    q0 = [
        float(v)
        for v in emb.filter("vec_id = 0").first()["embedding"]
    ]
    import numpy as np

    dec = {
        r["vec_id"]: np.array(r["_dec"])
        for r in recon.select("vec_id", "_dec").collect()
    }
    for _, r in got[got["q_vec_id"] == 0].iterrows():
        exact = float(((np.array(q0) - dec[r["vec_id"]]) ** 2).sum())
        assert abs(exact - r["dist"]) < 1e-9, (r["vec_id"], exact)

    with pytest.raises(ValueError, match="not divisible"):
        S.train_pq_codebooks(
            emb, "embedding", "vec_id", m=7, n_cells=4
        )


def test_pq_recall_vs_exact_l2(spark):
    """PQ is approximate — pin a measured recall floor against exact
    squared-L2 top-k so codebook or ADC regressions surface as a
    recall drop (everything deterministic: same numbers every run)."""
    from pystore_spark.functions import similarity as S
    from pystore_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    books = S.train_pq_codebooks(
        emb, "embedding", "vec_id", m=16, n_cells=16, n_iters=2
    )
    codes = S.pq_encode(emb, "embedding", books)
    queries = emb.filter("vec_id < 10")
    got = S.pq_adc_topk(
        codes, queries, "embedding", "vec_id", books, k=10
    ).toPandas()

    import numpy as np

    vecs = {
        r["vec_id"]: np.array([float(x) for x in r["embedding"]])
        for r in emb.collect()
    }
    hits = total = 0
    for qid in range(10):
        d = {
            vid: float(((vecs[qid] - v) ** 2).sum())
            for vid, v in vecs.items()
        }
        truth = {
            vid
            for vid, _ in sorted(d.items(), key=lambda kv: (kv[1], kv[0]))[:10]
        }
        approx = set(got[got["q_vec_id"] == qid]["vec_id"])
        hits += len(truth & approx)
        total += 10
    # measured 0.44 on this corpus: the synthetic embeddings are
    # near-uniform random — PQ's documented worst case (no cluster
    # structure to exploit). The floor pins regressions, not quality;
    # real embedding corpora cluster and recall rises with them.
    assert hits / total >= 0.35, hits / total


def test_pixel_stats_keep_and_flag_on_corrupt_bytes(spark):
    """Keep-and-flag must survive ARBITRARY garbage, not just the
    decoders' own ValueErrors: truncated IHDR (struct.error), corrupt
    IDAT (zlib.error), and short buffers (IndexError) all surface as
    error rows — one bad payload never kills the job."""
    good = M.write_png(8, 8)
    rows = [
        (0, "img", good, None),
        (1, "img", good[:20], None),              # truncated IHDR
        (2, "img", good[:40] + b"\x00" * 30, None),  # corrupt IDAT
        (3, "img", b"\x89PNG\r\n\x1a\n\x00\x00", None),  # tiny
    ]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    stats = {
        r["media_id"]: r for r in M.image_pixel_stats(df).collect()
    }
    assert stats[0]["error"] is None and stats[0]["width"] == 8
    for i in (1, 2, 3):
        assert stats[i]["error"], i
    out = {
        r["media_id"]: r
        for r in M.resize_images(df, 4, 4).collect()
    }
    assert "resize_error" in out[1]["meta"]
    # audio: truncated fmt chunk flags too
    bad_wav = b"RIFF\x10\x00\x00\x00WAVEfmt \x10\x00\x00\x00\x01"
    adf = spark.createDataFrame(
        [(9, "aud", bad_wav, None)], M.MEDIA_SCHEMA
    )
    (arow,) = M.audio_sample_stats(adf).collect()
    assert arow["error"]


def test_png_decompression_bomb_flags_row(spark):
    """ADVICE r11: a crafted small PNG declaring huge dimensions (or
    an IDAT inflating past them) must raise ValueError — flagged
    per-row by the stats kernels — never inflate unbounded and
    MemoryError the executor."""
    import struct as _s
    import zlib

    import numpy as np

    def chunk(typ: bytes, body: bytes) -> bytes:
        return (
            _s.pack(">I", len(body)) + typ + body
            + _s.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF)
        )

    def png_with(width, height, raw):
        ihdr = _s.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    # declared geometry over the cap: rejected BEFORE any inflate
    bomb = png_with(60_000, 60_000, b"\x00" * 10)
    assert len(bomb) < 1024  # tiny on the wire
    with pytest.raises(ValueError, match="cap"):
        M.decode_png_pixels(bomb)

    # in-cap geometry but an IDAT stream inflating past it: the
    # bounded decompressobj stops at expected+1 and flags
    over = png_with(4, 4, b"\x00" * (4 * 5 + 4096))
    with pytest.raises(ValueError, match="IDAT size mismatch"):
        M.decode_png_pixels(over)

    # an exact-size stream with trailing zlib garbage still decodes
    # (unconsumed tail ignored, like the old unbounded path)
    good = M.write_png(4, 4, lambda x, y: (x + y) % 256)
    arr = M.decode_png_pixels(good)
    assert arr.shape == (4, 4, 1)
    # and the stats kernel keeps-and-flags the bomb row
    df = spark.createDataFrame([(0, "img", bomb, None)], M.MEDIA_SCHEMA)
    row = M.image_pixel_stats(df).collect()[0]
    assert row["error"] and row["mean"] is None


def test_png_truncated_trailer_flags_row():
    """Self-review r12: a deflate stream cut just before its adler32
    trailer inflates to exactly the expected byte count — the bounded
    decompressobj must still flag it (eof unset), matching the old
    unbounded zlib.decompress behavior."""
    import struct as _s
    import zlib

    good = M.write_png(4, 4, lambda x, y: (x * 3 + y) % 256)
    # locate the IDAT chunk and truncate its zlib stream by 4 bytes
    pos = 8
    out = bytearray()
    out += good[:8]
    while pos + 8 <= len(good):
        (clen,) = _s.unpack(">I", good[pos:pos + 4])
        ctyp = good[pos + 4:pos + 8]
        body = good[pos + 8:pos + 8 + clen]
        if ctyp == b"IDAT":
            body = body[:-4]  # drop the adler32 trailer
        out += _s.pack(">I", len(body)) + ctyp + body
        out += _s.pack(">I", zlib.crc32(ctyp + body) & 0xFFFFFFFF)
        if ctyp == b"IEND":
            break
        pos += 12 + clen
    with pytest.raises(ValueError, match="IDAT size mismatch"):
        M.decode_png_pixels(bytes(out))


def test_semdedup_kept_drops_within_cluster_near_dups(spark):
    """SemDeDup keep rule: within a learned KMeans cluster, a row
    with a smaller-id neighbor above the cosine threshold drops;
    near-orthogonal rows survive; the paper's documented blind spot
    (near-dups split across cluster boundaries) is NOT compared."""
    # two tight groups on opposite axes + one lone mid vector: with
    # n_cells=2 KMeans separates the groups; each group's tight pair
    # collapses to its smallest id
    rows = [
        (0, [1.0, 0.01, 0.0, 0.0]),
        (1, [0.99, 0.02, 0.0, 0.0]),   # ~dup of 0 -> drops
        (2, [0.0, 0.0, 1.0, 0.03]),
        (3, [0.0, 0.0, 0.98, 0.01]),   # ~dup of 2 -> drops
        (4, [0.4, 0.1, 0.0, 0.9]),     # lone -> kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    kept = S.semdedup_kept(
        df, "vec", "vec_id", n_cells=2, n_iters=2, threshold=0.95
    )
    out = {r["vec_id"]: r["cell"] for r in kept.collect()}
    assert set(out) == {0, 2, 4}
    # cell column is the KMeans assignment (both dup groups landed
    # with their survivor)
    assigned = {
        r["vec_id"]: r["cell"]
        for r in S.build_ivf_index_deterministic(
            df, "vec", "vec_id", n_cells=2, n_iters=2
        ).collect()
    }
    assert out == {i: assigned[i] for i in (0, 2, 4)}


def test_semdedup_pin_cache_bounded(spark):
    """Repeated semdedup_kept calls must not accumulate persisted
    assignment frames without bound: the pin registry evicts past
    its cap, so a bench loop or pipeline retry cannot age the session
    with dead cached blocks (r12 optimization)."""
    from pystore_spark import partition as P
    from pystore_spark.functions import similarity as S
    from pystore_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    # other tests in the shared session may hold their own persisted/
    # checkpointed RDDs — assert on the DELTA this loop adds, not the
    # session-global count
    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    for _ in range(3):
        S.semdedup_kept(
            emb, "embedding", "vec_id", n_cells=4, n_iters=1,
            threshold=0.35,
        ).write.mode("overwrite").format("noop").save()
    assert len(P._PIN_CACHE) <= P._PIN_CACHE_CAP
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert after - before <= P._PIN_CACHE_CAP


def test_semdedup_keeps_everything_below_threshold(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [-1.0, 0.1]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    kept = S.semdedup_kept(
        df, "vec", "vec_id", n_cells=2, n_iters=1, threshold=0.9
    )
    assert sorted(r["vec_id"] for r in kept.collect()) == [0, 1, 2]


def test_gemm_assign_matches_fold_kernel(spark):
    """The vectorized GEMM assignment (auto above
    GEMM_ASSIGN_MIN_CELLS) must agree with the codegen fold
    expression away from sub-ulp ties: same argmin cell, same
    multi-probe cell sets in the same order, same _cdist to 1e-9."""
    import numpy as np

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(64, 16))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(64)]
    rows.append((64, None))  # null vector
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    cents = [[float(x) for x in rng.normal(size=16)] for _ in range(7)]

    fold = {
        r["vec_id"]: (r["cell"], r["_cdist"])
        for r in S._assign_cells(
            df.filter("vec is not null"), "vec", cents,
            with_dist=True, method="fold",
        ).collect()
    }
    gemm = {
        r["vec_id"]: (r["cell"], r["_cdist"])
        for r in S._assign_cells(
            df, "vec", cents, with_dist=True, method="gemm"
        ).collect()
    }
    assert gemm[64] == (None, None)  # null vec -> null assignment
    for i in range(64):
        assert gemm[i][0] == fold[i][0]
        assert abs(gemm[i][1] - fold[i][1]) < 1e-9

    probe_fold = (
        S.assign_probe_cells(
            df.filter("vec is not null"), "vec", cents,
            nprobe=3, method="fold",
        )
        .groupBy("vec_id")
        .agg(F.collect_list("cell").alias("cells"))
        .collect()
    )
    probe_gemm = {
        r["vec_id"]: r["cells"]
        for r in S.assign_probe_cells(
            df, "vec", cents, nprobe=3, method="gemm"
        )
        .groupBy("vec_id")
        .agg(F.collect_list("cell").alias("cells"))
        .collect()
    }
    assert 64 not in probe_gemm  # null rows dropped by multi-probe
    for r in probe_fold:
        assert probe_gemm[r["vec_id"]] == r["cells"]


def test_gemm_assign_exact_tie_breaks_to_lowest_cell(spark):
    """Duplicate centroids: exact-equal distances must pick the
    lowest cell id on the GEMM kernel, matching the fold kernel."""
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, vec array<double>",
    )
    cents = [[0.0, 1.0], [1.0, 0.0], [1.0, 0.0]]  # cells 1,2 identical
    got = {
        r["vec_id"]: r["cell"]
        for r in S._assign_cells(
            df, "vec", cents, method="gemm"
        ).collect()
    }
    assert got == {0: 1, 1: 0}
    probed = (
        S.assign_probe_cells(df, "vec", cents, nprobe=3, method="gemm")
        .filter("vec_id = 0")
        .select("cell")
        .collect()
    )
    assert [r["cell"] for r in probed] == [1, 2, 0]


def test_gemm_pq_encode_matches_fold_kernel(spark):
    """The GEMM PQ coder must agree with the fold expression away
    from sub-ulp ties — including ragged codebooks (fewer trained
    cells in one subspace) and null vectors — and unlock the
    standard 256-cells/subspace geometry the fold kernel's codegen
    cap disallows."""
    import numpy as np

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(40, 12))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    rows.append((40, None))
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    books = [
        [[float(x) for x in rng.normal(size=4)] for _ in range(6)],
        [[float(x) for x in rng.normal(size=4)] for _ in range(3)],
        [[float(x) for x in rng.normal(size=4)] for _ in range(6)],
    ]
    fold = {
        r["vec_id"]: r["_pq"]
        for r in S.pq_encode(
            df.filter("vec is not null"), "vec", books, method="fold"
        ).collect()
    }
    gemm = {
        r["vec_id"]: r["_pq"]
        for r in S.pq_encode(df, "vec", books, method="gemm").collect()
    }
    assert gemm[40] is None
    for i in range(40):
        assert gemm[i] == fold[i]

    # 256-cell geometry runs through the GEMM path under auto
    big_books = [
        [[float(x) for x in rng.normal(size=6)] for _ in range(256)]
        for _ in range(2)
    ]
    coded = S.pq_encode(
        df.filter("vec is not null"), "vec", big_books
    ).collect()
    assert all(len(r["_pq"]) == 2 for r in coded)
    assert all(0 <= c < 256 for r in coded for c in r["_pq"])


def test_residualize_frame_join_path_matches_literal(spark):
    """At >= GEMM_ASSIGN_MIN_CELLS coarse cells the residual
    transform switches from an inline centroid literal (n_cells x dim
    plan nodes) to a broadcast join — output must be identical, rows
    with a null cell must null the vector (not drop), and the
    round-trip must restore the input."""
    import numpy as np

    rng = np.random.default_rng(9)
    n_cells = S.GEMM_ASSIGN_MIN_CELLS
    cents = [[float(x) for x in rng.normal(size=6)] for _ in range(n_cells)]
    rows = [
        (i, [float(x) for x in rng.normal(size=6)], i % n_cells)
        for i in range(20)
    ]
    rows.append((20, [1.0] * 6, None))  # null cell
    df = spark.createDataFrame(
        rows, "vec_id long, vec array<double>, cell int"
    )

    join_out = {
        r["vec_id"]: r["vec"]
        for r in S.residualize_frame(df, "vec", "cell", cents).collect()
    }
    lit_out = {
        r["vec_id"]: r["vec"]
        for r in df.withColumn(
            "vec", S.residualize(F.col("vec"), F.col("cell"), cents)
        ).collect()
    }
    assert set(join_out) == set(lit_out) == set(range(21))
    assert join_out[20] is None and lit_out[20] is None
    for i in range(20):
        assert join_out[i] == lit_out[i]

    # round-trip restores the input (small-cell literal path too)
    back = S.unresidualize_frame(
        S.residualize_frame(df.filter("cell is not null"), "vec",
                            "cell", cents),
        "vec", "cell", cents,
    ).collect()
    orig = {r[0]: r[1] for r in rows[:20]}
    for r in back:
        assert all(
            abs(a - b) < 1e-12 for a, b in zip(r["vec"], orig[r["vec_id"]])
        )
    # the join path actually engaged (plan has a broadcast join, not
    # a giant literal)
    plan = S.residualize_frame(
        df, "vec", "cell", cents
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_numpy_pq_decode_matches_literal_decoder(spark):
    """Large-codebook PQ reconstruction (Arrow-batched gather) must
    byte-match the literal-table Column decoder, including null
    codes, and compose with the residual restore."""
    import numpy as np

    rng = np.random.default_rng(13)
    n_cells = S.GEMM_ASSIGN_MIN_CELLS
    books = [
        [[float(x) for x in rng.normal(size=4)] for _ in range(n_cells)],
        [[float(x) for x in rng.normal(size=4)] for _ in range(5)],
    ]
    rows = [
        (i, [int(rng.integers(0, n_cells)), int(rng.integers(0, 5))])
        for i in range(30)
    ]
    rows.append((30, None))
    df = spark.createDataFrame(rows, "vec_id long, _pq array<smallint>")

    meta = {"quantized": "pq", "vec_col": "vec", "pq_codebooks": books}
    got = {
        r["vec_id"]: r["vec"]
        for r in S.vq_decode_cols(df, meta).collect()
    }
    want = {
        r["vec_id"]: r["vec"]
        for r in df.filter("_pq is not null")
        .withColumn("vec", S.pq_decode_col(F.col("_pq"), books))
        .drop("_pq")
        .collect()
    }
    assert got[30] is None
    for i in range(30):
        assert got[i] == want[i]


def test_semdedup_prefer_col_keeps_best_quality(spark):
    """prefer_col: of each near-dup group the highest-quality row
    survives instead of the smallest id; null quality loses to
    non-null; ties fall back to smallest id."""
    rows = [
        (0, [1.0, 0.01, 0.0], 0.2),
        (1, [0.99, 0.02, 0.0], 0.9),    # best of group A -> kept
        (2, [0.98, 0.015, 0.0], None),  # null loses
        (3, [0.0, 0.0, 1.0], 0.5),
        (4, [0.0, 0.01, 0.99], 0.5),    # tie with 3 -> larger id drops
        (5, [0.5, -0.5, 0.5], 0.1),     # lone -> kept
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, vec array<double>, quality double"
    )
    kept = sorted(
        r["vec_id"]
        for r in S.semdedup_kept(
            df, "vec", "vec_id", n_cells=2, n_iters=2,
            threshold=0.95, prefer_col="quality",
        ).collect()
    )
    assert kept == [1, 3, 5]
    # default id rule on the same frame keeps the smallest ids
    kept_id = sorted(
        r["vec_id"]
        for r in S.semdedup_kept(
            df, "vec", "vec_id", n_cells=2, n_iters=2, threshold=0.95
        ).collect()
    )
    assert kept_id == [0, 3, 5]


def test_cosine_dedup_pairs_salted_path_matches_plain(
    spark, monkeypatch
):
    """Hot-block skew guard: forcing the salted group-pair join (tiny
    max_block_size, size gate disabled so the probe actually runs)
    must produce exactly the plain join's pair set and scores — every
    unordered pair covered once, equal-salt mirrors deduped."""
    import numpy as np

    from pystore_spark import config

    # the r12 size gate would route this tiny frame to the plain join
    # regardless of max_block_size; force the probe on so the salted
    # branch is exercised
    monkeypatch.setattr(config, "COSINE_SKEW_GATE_MIN_BYTES", 0)

    rng = np.random.default_rng(21)
    base = rng.normal(size=8)
    rows = []
    for i in range(30):  # one hot block of near-dups + noise
        v = base + rng.normal(scale=(1e-4 if i % 3 == 0 else 1.0), size=8)
        rows.append((i, "blk", [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, blk string, vec array<double>")

    plain = {
        (r["id_i"], r["id_j"]): r["score"]
        for r in S.cosine_dedup_pairs(
            df, "vec", "vec_id", "blk", threshold=0.9,
            max_block_size=1000,
        ).collect()
    }
    salted = {
        (r["id_i"], r["id_j"]): r["score"]
        for r in S.cosine_dedup_pairs(
            df, "vec", "vec_id", "blk", threshold=0.9,
            max_block_size=4,
        ).collect()
    }
    assert plain and salted == plain
    # and the gate itself: under the default threshold this tiny frame
    # must take the plain path even at max_block_size=4 — same pairs
    monkeypatch.setattr(
        config, "COSINE_SKEW_GATE_MIN_BYTES", 4 << 20
    )
    gated = {
        (r["id_i"], r["id_j"]): r["score"]
        for r in S.cosine_dedup_pairs(
            df, "vec", "vec_id", "blk", threshold=0.9,
            max_block_size=4,
        ).collect()
    }
    assert gated == plain


def test_semdedup_auto_cells(spark):
    """n_cells='auto' (default) scales clusters ~4*sqrt(N) so the
    cluster-local quadratic stays linear in N."""
    import numpy as np

    rng = np.random.default_rng(17)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)]) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    kept = S.semdedup_kept(df, "vec", "vec_id", threshold=0.999)
    assert kept.count() == 100  # random vectors: nothing near-dup
    cells = kept.select("cell").distinct().count()
    assert 1 < cells <= int(4 * 100 ** 0.5)
    with pytest.raises(ValueError, match="auto"):
        S.semdedup_kept(df, "vec", "vec_id", n_cells="sqrt")


def test_gemm_training_tolerates_null_vectors(spark):
    """Review r12: a null embedding must not crash KMeans training or
    SemDeDup when the GEMM kernel engages (>= 64 cells / auto) — the
    null row carries a null cell and is excluded from centroid
    updates and near-dup pairs."""
    import numpy as np

    rng = np.random.default_rng(23)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)]) for i in range(70)
    ]
    rows.append((70, None))
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    n_cells = S.GEMM_ASSIGN_MIN_CELLS
    cents = S.train_ivf_centroids(
        df, "vec", "vec_id", n_cells=n_cells, n_iters=2
    )
    assert len(cents) == n_cells
    kept = S.semdedup_kept(
        df, "vec", "vec_id", n_cells=n_cells, threshold=0.999
    )
    ids = {r["vec_id"] for r in kept.collect()}
    assert 70 in ids  # the null row survives (nothing to compare)
    assert len(ids) == 71
