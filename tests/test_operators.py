"""Operator unit tests: as-of join, skew helpers, multimodal plumbing."""

import datetime as dt

from pyspark.sql import functions as F


def test_asof_join_semantics(spark):
    from lakota_spark.operators.asof import asof_join

    trades = spark.createDataFrame(
        [("A", 3, 100.0), ("A", 7, 101.0), ("B", 5, 50.0)],
        "sym string, t long, px double",
    )
    quotes = spark.createDataFrame(
        [("A", 1, 99.0), ("A", 3, 99.5), ("A", 6, 100.5), ("B", 9, 49.0)],
        "sym string, t long, bid double",
    )
    out = asof_join(trades, quotes, on="sym", left_ts="t", right_ts="t",
                    right_cols=["bid"])
    got = {(r.sym, r.t): r.bid_right for r in out.collect()}
    # A@3 matches quote@3 (<=), A@7 matches quote@6, B@5 has no prior quote
    assert got == {("A", 3): 99.5, ("A", 7): 100.5}
    # strict: A@3 must take quote@1
    strict = asof_join(trades, quotes, on="sym", left_ts="t", right_ts="t",
                       right_cols=["bid"], strict=True)
    got = {(r.sym, r.t): r.bid_right for r in strict.collect()}
    assert got[("A", 3)] == 99.0
    # how='left' keeps unmatched B@5 with null
    left = asof_join(trades, quotes, on="sym", left_ts="t", right_ts="t",
                     right_cols=["bid"], how="left")
    got = {(r.sym, r.t): r.bid_right for r in left.collect()}
    assert got[("B", 5)] is None and len(got) == 3


def test_salted_join_matches_plain(spark):
    from lakota_spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [(i % 3, float(i)) for i in range(300)], "k int, v double"
    )
    dim = spark.createDataFrame([(0, "x"), (1, "y"), (2, "z")], "k int, name string")
    plain = fact.join(dim, on="k").groupBy("name").agg(F.sum("v").alias("s"))
    salted = salted_join(fact, dim, on="k").groupBy("name").agg(
        F.sum("v").alias("s")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_salted_agg_matches_plain(spark):
    from lakota_spark.operators.skew import salted_agg

    df = spark.createDataFrame(
        [(i % 2, i) for i in range(1000)], "k int, v long"
    )
    out = salted_agg(
        df,
        keys="k",
        aggs={
            "s": F.sum("v"),
            "n": F.count(F.lit(1)),
            "mn": F.min("v"),
            "mx": F.max("v"),
        },
        salt=8,
    )
    got = {r.k: (r.s, r.n, r.mn, r.mx) for r in out.collect()}
    assert got == {0: (249500, 500, 0, 998), 1: (250000, 500, 1, 999)}


def test_salted_agg_explicit_combiners(spark):
    """Spark-Connect-safe path: combiners passed explicitly, no
    expression-string inference needed (VERDICT r11 #6)."""
    from lakota_spark.operators.skew import salted_agg

    df = spark.createDataFrame([(i % 2, i) for i in range(100)], "k int, v long")
    out = salted_agg(
        df, keys="k",
        aggs={"s": F.sum("v"), "mx": F.max("v")},
        combiners={"s": "sum", "mx": "max"},
        salt=4,
    )
    got = {r.k: (r.s, r.mx) for r in out.collect()}
    assert got == {0: (2450, 98), 1: (2500, 99)}


def test_salt_bucket_no_ansi_overflow(spark):
    """ADVICE r12: abs(hash) overflows on Int32.MinValue under ANSI
    mode; the bucket must be pmod-only. Pins both the semantics
    (pmod(MinValue, s) is the non-negative residue, no crash) and the
    implementation (no F.abs in the bucket expression)."""
    from lakota_spark.operators.skew import _salt_bucket

    # semantic pin: the exact hazard value flows through pmod unharmed
    row = spark.range(1).select(
        F.pmod(F.lit(-2147483648), F.lit(16)).alias("b")
    ).collect()[0]
    assert row.b == 0
    # implementation pin: the bucket expression itself contains no abs()
    expr_text = str(_salt_bucket(["id"], 16)).lower()
    assert "abs" not in expr_text and "pmod" in expr_text
    # and it evaluates in-range over real data under the default ANSI mode
    buckets = (
        spark.range(10_000)
        .select(_salt_bucket(["id"], 16).alias("b"))
        .agg(F.min("b").alias("lo"), F.max("b").alias("hi"))
        .collect()[0]
    )
    assert 0 <= buckets.lo and buckets.hi <= 15


def test_salted_reserved_column_rejected(spark):
    """ADVICE r12: a user relation already carrying '_salt' must be
    rejected, not silently corrupted."""
    import pytest

    from lakota_spark.operators.skew import salted_agg, salted_join

    fact = spark.createDataFrame([(1, 7)], "k int, _salt int")
    dim = spark.createDataFrame([(1, "x")], "k int, name string")
    with pytest.raises(ValueError, match="_salt"):
        salted_join(fact, dim, on="k", salt=4)
    with pytest.raises(ValueError, match="_salt"):
        salted_join(dim, fact, on="k", salt=4)
    with pytest.raises(ValueError, match="_salt"):
        salted_agg(fact, keys="k", aggs={"n": F.count(F.lit(1))}, salt=4)


def test_multimodal_feature_contract(spark):
    from lakota_spark.operators.multimodal import (
        attach_binary_payload,
        extract_features,
        frame_sample,
    )

    docs = spark.createDataFrame(
        [(1, "hello world " * 50), (2, "abc")], "doc_id long, text string"
    )
    media = attach_binary_payload(docs)
    feats = extract_features(media).collect()
    assert {r.media_id for r in feats} == {1, 2}
    for r in feats:
        assert len(r.feature) == 8
        assert abs(sum(r.feature) - 1.0) < 1e-9  # L1-normalized histogram
    frames = frame_sample(media, every_n=4).collect()
    assert all(len(r.frame) <= 16 for r in frames)
    assert {r.media_id for r in frames} == {1, 2}


def test_real_image_decode_ppm_bmp(spark):
    # PPM/BMP are REAL decodes (numpy-only): features are pixel-exact
    import struct

    from pyspark.sql import functions as F

    from lakota_spark.operators.multimodal import MEDIA_SCHEMA, extract_features

    # 2x2 PPM P6: red, green / blue, white
    pix = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255])
    ppm = b"P6\n# comment\n2 2\n255\n" + pix
    # same image as bottom-up 24-bit BMP (rows: [blue, white], [red, green],
    # BGR order, rows padded to 4 bytes -> 2*3=6 -> pad to 8)
    def bgr_row(*rgb):
        row = b"".join(bytes([b_, g, r]) for r, g, b_ in rgb)
        return row + b"\x00" * ((4 - len(row) % 4) % 4)

    pixel_data = bgr_row((0, 0, 255), (255, 255, 255)) + bgr_row(
        (255, 0, 0), (0, 255, 0)
    )
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(pixel_data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(pixel_data),
                      2835, 2835, 0, 0)
    )
    bmp = header + pixel_data
    media = spark.createDataFrame(
        [
            (1, bytearray(ppm), "image/x-portable-pixmap", len(ppm), "{}"),
            (2, bytearray(bmp), "image/bmp", len(bmp), "{}"),
        ],
        MEDIA_SCHEMA,
    )
    feats = {r.media_id: r.feature for r in extract_features(media).collect()}
    for mid in (1, 2):
        f = feats[mid]
        assert len(f) == 13  # real decode, not the byte-histogram fallback
        assert f[0] == 2.0 and f[1] == 2.0  # width, height
        # mean RGB of {red, green, blue, white} = (127.5, 127.5, 127.5)
        assert f[2] == f[3] == f[4] == 127.5
    assert feats[1] == feats[2]  # same pixels -> identical descriptor


def test_real_audio_decode_wav(spark):
    # PCM WAV is a REAL decode: features are sample-exact
    import struct

    import numpy as np

    from lakota_spark.operators.multimodal import MEDIA_SCHEMA, extract_audio_features

    rate = 8000
    t = np.arange(rate)  # 1 second
    samples = (0.5 * np.sin(2 * np.pi * 440 * t / rate) * 32767).astype("<i2")
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    media = spark.createDataFrame(
        [(1, bytearray(wav), "audio/wav", len(wav), "{}")], MEDIA_SCHEMA
    )
    f = extract_audio_features(media).collect()[0].feature
    assert len(f) == 4                         # real decode path
    assert abs(f[0] - 1.0) < 1e-9              # duration: exactly 1 s
    assert abs(f[1] - 0.5 / 2**0.5) < 1e-3     # rms of a 0.5-amp sine
    assert abs(f[2] - 2 * 440 / rate) < 1e-2   # zero crossings of 440 Hz
    assert 0.49 < f[3] <= 0.5                  # peak amplitude


def test_real_video_frame_sample_y4m(spark):
    # Y4M is a REAL parse: sampled frames are the exact Y planes
    from lakota_spark.operators.multimodal import MEDIA_SCHEMA, frame_sample

    w, h = 4, 2
    frames = [bytes([v] * (w * h)) for v in (10, 20, 30, 40, 50)]
    chroma = bytes((w // 2) * (h // 2) * 2)
    y4m = b"YUV4MPEG2 W4 H2 F25:1 Ip A1:1 C420\n" + b"".join(
        b"FRAME\n" + f + chroma for f in frames
    )
    media = spark.createDataFrame(
        [(1, bytearray(y4m), "video/x-yuv4mpeg", len(y4m), "{}")], MEDIA_SCHEMA
    )
    out = {r.frame_no: bytes(r.frame) for r in frame_sample(media, every_n=2).collect()}
    assert sorted(out) == [0, 2, 4]            # every 2nd frame sampled
    assert out[0] == frames[0] and out[4] == frames[4]  # exact Y planes

    from lakota_spark.operators.multimodal import extract_video_features

    feats = {
        r.frame_no: r for r in extract_video_features(media, every_n=2).collect()
    }
    assert feats[2].mean_luma == 30.0          # constant-value frame
    assert feats[2].std_luma == 0.0
    assert feats[2].n_pixels == w * h


def test_malformed_payloads_fall_back_not_crash(spark):
    # Truncated / garbage payloads that LOOK like a known format must hit
    # the deterministic byte-histogram fallback, never raise inside the
    # Spark stage (corpus-cleaning contract: bad files are data, not bugs).
    from lakota_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_audio_features,
        extract_features,
        frame_sample,
    )

    bad = [
        # PPM with garbage header tokens (int() would raise)
        b"P6\nnot a number\n255\n",
        # PPM header claiming pixels beyond the buffer (np.frombuffer raises)
        b"P6\n100 100\n255\n" + bytes(10),
        # PPM with no whitespace/newline at all after magic
        b"P6#",
        # BMP with pixel offset/size beyond the buffer
        b"BM" + bytes(8) + (54).to_bytes(4, "little") + bytes(4)
        + (2000).to_bytes(4, "little") + (2000).to_bytes(4, "little")
        + bytes(2) + (24).to_bytes(2, "little") + bytes(30),
        # WAV fmt chunk shorter than the fields read from it
        b"RIFF" + bytes(4) + b"WAVE" + b"fmt " + (4).to_bytes(4, "little")
        + bytes(4) + b"data" + (4).to_bytes(4, "little") + bytes(4),
        # Y4M with garbage dimensions and a frame header missing its newline
        b"YUV4MPEG2 Wx Hy C420\nFRAME",
        b"YUV4MPEG2 W4 H2 C420\nFRAME",  # truncated: no frame payload
    ]
    media = spark.createDataFrame(
        [(i, bytearray(b), "application/octet-stream", len(b), "{}")
         for i, b in enumerate(bad)],
        MEDIA_SCHEMA,
    )
    img = extract_features(media).collect()
    assert len(img) == len(bad)
    assert all(len(r.feature) == 8 for r in img)  # histogram fallback
    aud = extract_audio_features(media).collect()
    assert len(aud) == len(bad)
    assert all(len(r.feature) == 8 for r in aud)
    # frame_sample: every payload lands in the byte-window fallback path
    rows = frame_sample(media, every_n=2).collect()
    assert {r.media_id for r in rows} == set(range(len(bad)))


def test_trigram_search(spark):
    # reference contrib/trigram.py: AND-intersected posting lists +
    # contains verify == exact substring search
    from lakota_spark.operators.trigram import trigram_index, trigram_search

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "quick thinking wins"),
            (3, "QUICKSILVER"),          # case-insensitive
            (4, "slow and steady"),
            (5, "qu ick"),               # has 'qui'? no — split; not a match
        ],
        "doc_id long, text string",
    )
    hits = {r.doc_id for r in trigram_search(docs, "quick").collect()}
    assert hits == {1, 2, 3}
    # trigram candidates are necessary-not-sufficient: 'abc ... cde' holds
    # all trigrams of 'abcde' minus the bridge ones — build a true case:
    tricky = spark.createDataFrame(
        [(1, "xabcy xbcdz xcdew"), (2, "abcde")], "doc_id long, text string"
    )
    # candidates for 'abcde' are docs holding abc+bcd+cde: both docs
    cand = {
        r.doc_id
        for r in trigram_search(tricky, "abcde", verify=False).collect()
    }
    assert cand == {1, 2}
    verified = {r.doc_id for r in trigram_search(tricky, "abcde").collect()}
    assert verified == {2}  # verify culls the false positive
    # short patterns (<3 chars) fall back to a plain contains scan
    assert {r.doc_id for r in trigram_search(docs, "qu").collect()} == {
        1, 2, 3, 5,
    }
    # posting table carries one row per distinct trigram per doc
    idx = trigram_index(docs).collect()
    assert len(idx) == len({(r.trigram, r.doc_id) for r in idx})
    # the materialized-index path (the 100 TB strategy) agrees with the
    # inline conjunction-scan path
    via_index = {
        r.doc_id
        for r in trigram_search(
            docs, "quick", index=trigram_index(docs)
        ).collect()
    }
    assert via_index == {1, 2, 3}


def test_trigram_accent_folding(spark, tmp_path):
    # reference contrib/trigram.py:32 unidecode (NFD + drop combining
    # marks): accented text matches unaccented patterns and vice versa;
    # non-decomposable chars (æ, ß) are NOT folded (DuckDB strip_accents
    # parity). Covers inline, index-build and materialized-index paths.
    from lakota_spark.functions import fold_accents_py
    from lakota_spark.operators.search_index import (
        search_trigram_index,
        write_trigram_index,
    )
    from lakota_spark.operators.trigram import trigram_index, trigram_search

    docs = spark.createDataFrame(
        [
            (1, "Le café est ouvert"),
            (2, "le cafe est ferme"),
            (3, "Fußball straße"),       # ß not foldable
            (4, "naïve façade émigré"),
            (5, "nothing relevant"),
            (6, "e\u0301migre\u0301 decomposed"),  # e + combining acute
        ],
        "doc_id long, text string",
    )
    # unaccented pattern finds accented docs; accented pattern finds both
    assert {r.doc_id for r in trigram_search(docs, "cafe").collect()} == {1, 2}
    assert {r.doc_id for r in trigram_search(docs, "café").collect()} == {1, 2}
    assert {r.doc_id for r in trigram_search(docs, "émigré").collect()} == {4, 6}
    assert {r.doc_id for r in trigram_search(docs, "emigre").collect()} == {4, 6}
    # ß stays ß (NFD-stable): 'fussball' must NOT match
    assert {r.doc_id for r in trigram_search(docs, "fußball").collect()} == {3}
    assert trigram_search(docs, "fussball").count() == 0
    # postings are folded: no accented trigrams in the index
    tris = {r.trigram for r in trigram_index(docs).collect()}
    assert "caf" in tris and "afe" in tris
    assert not any("é" in t or "ï" in t or "ç" in t for t in tris)
    # materialized-index path agrees
    path = str(tmp_path / "tgidx")
    write_trigram_index(docs, path)
    got = {
        r.doc_id
        for r in search_trigram_index(
            spark, path, "émigré", corpus=docs
        ).collect()
    }
    assert got == {4, 6}
    # driver-side twin folds patterns identically
    assert fold_accents_py("café à côté") == "cafe a cote"
    assert fold_accents_py("Fußball æon") == "Fußball æon"


def test_search_index_edges(spark, tmp_path):
    # regex-special chars in patterns stay LITERAL (contains, not regex);
    # query terms absent from the corpus contribute nothing; terms
    # colliding into one hash bucket still resolve per-term
    from lakota_spark.operators.search_index import (
        search_bm25_index,
        search_trigram_index,
        write_bm25_index,
        write_trigram_index,
    )
    from lakota_spark.operators.trigram import trigram_search

    docs = spark.createDataFrame(
        [
            (1, "price is $1.50 today"),
            (2, "price is $1X50 today"),
            (3, "spark streams data"),
        ],
        "doc_id long, text string",
    )
    # '.' must not act as a wildcard: only doc 1 contains "$1.50"
    assert {r.doc_id for r in trigram_search(docs, "$1.50").collect()} == {1}
    tpath = str(tmp_path / "tg")
    write_trigram_index(docs, tpath)
    got = {
        r.doc_id
        for r in search_trigram_index(spark, tpath, "$1.50", corpus=docs).collect()
    }
    assert got == {1}
    # bm25: one query term missing from the corpus entirely
    bpath = str(tmp_path / "bm")
    write_bm25_index(docs, bpath, n_buckets=2)  # forces bucket collisions
    out = search_bm25_index(
        spark, bpath, ["spark", "zzz-missing"], n_buckets=2
    ).collect()
    assert [r.doc_id for r in out] == [3]
    assert out[0].bm25 > 0


def test_trigram_index_short_texts(spark):
    # Spark's sequence(1, 0) DESCENDS: docs shorter than 3 chars must
    # contribute NO postings (not bogus ''/1-char/2-char "trigrams")
    from lakota_spark.operators.trigram import trigram_index

    docs = spark.createDataFrame(
        [(1, ""), (2, "a"), (3, "ab"), (4, "abc"), (5, "abcd")],
        "doc_id long, text string",
    )
    idx = trigram_index(docs).collect()
    assert {r.doc_id for r in idx} == {4, 5}
    assert all(len(r.trigram) == 3 for r in idx)
    assert sorted(r.trigram for r in idx if r.doc_id == 5) == ["abc", "bcd"]


def test_sketch_stats_semantics(spark):
    # round 9: sketches are engine-reproducible (KMV + hash-sample
    # median) and ORACLE-EXACT; the local semantic check asserts the
    # documented KMV accuracy (~1/sqrt(k), k=128 -> allow 3x headroom)
    # and that the sampled median sits inside the group's value range
    from pyspark.sql import functions as FF

    from lakota_spark.queries.pipeline import sketch_stats
    from lakota_spark.sources import read_parquet

    sf = "/root/testdata/sf0.001"
    rows = sketch_stats(spark, sf).collect()
    assert rows
    rng = {
        r.event_type: (r.lo, r.hi)
        for r in read_parquet(spark, f"{sf}/events.parquet")
        .groupBy("event_type")
        .agg(FF.min("value").alias("lo"), FF.max("value").alias("hi"))
        .collect()
    }
    for r in rows:
        assert r.n > 0 and r.exact_users > 0
        assert abs(r.kmv_users - r.exact_users) <= max(
            3 * r.exact_users / (128 ** 0.5), 2
        ), (r.event_type, r.kmv_users, r.exact_users)
        lo, hi = rng[r.event_type]
        assert lo <= r.sample_p50 <= hi


def test_with_global_index(spark):
    from lakota_spark.operators.index import release_index, with_global_index

    df = spark.createDataFrame(
        [(i % 7, i) for i in range(200)], "k int, v long"
    ).orderBy(F.rand(3))
    idx = with_global_index(df, ["v"])
    rows = idx.orderBy("_rn").collect()
    assert [r.v for r in rows] == list(range(200))
    assert [r._rn for r in rows] == list(range(200))
    release_index(idx)


def test_simhash_64bit_near_dup_detection(spark):
    # 64-bit signatures (VERDICT r1 #3): a one-word edit stays within
    # hamming <= 3 of the original, unrelated docs don't; random-pair
    # hamming centers at 32 so the detector is selective, not decorative.
    from lakota_spark.operators.dedup import simhash, simhash_pairs

    base = "the quick brown fox jumps over the lazy dog " * 8
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("lazy", "idle", 1)),  # near-dup
            (3, "completely different text about spark partitions " * 9),
            (4, "yet another unrelated corpus of words entirely here " * 7),
        ],
        "doc_id long, text string",
    )
    sims = simhash(docs)
    assert [c for c in sims.columns if c.startswith("sh_")] == [
        "sh_0", "sh_1", "sh_2", "sh_3"
    ]
    for r in sims.collect():
        for w in range(4):
            assert 0 <= r[f"sh_{w}"] < (1 << 16)
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_pairs(sims, 3).collect()}
    assert (1, 2) in pairs
    assert all(p == (1, 2) for p in pairs)


def test_drange_time_windows():
    import datetime as dt

    from lakota_spark.functions import drange, time_windows

    r = drange("2020-01-01", "2020-01-04", dt.timedelta(days=1))
    assert r == [dt.datetime(2020, 1, d) for d in (1, 2, 3)]
    r = drange("2020-01-01", "2020-01-03", dt.timedelta(days=1), right_closed=True)
    assert r[-1] == dt.datetime(2020, 1, 3)
    w = list(time_windows(dt.datetime(2020, 1, 1), dt.datetime(2020, 1, 10), days=4))
    assert w[0] == (dt.datetime(2020, 1, 1), dt.datetime(2020, 1, 5))
    assert w[-1][1] == dt.datetime(2020, 1, 10)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        list(time_windows(dt.datetime(2020, 1, 1), dt.datetime(2020, 1, 2), days=0))


def test_decontaminate_drop_mode(spark):
    from lakota_spark.operators.sampling import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),   # shares a 3-gram
            (2, "zeta eta theta iota kappa"),        # clean
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(9, "alpha beta gamma something else")], "doc_id long, text string"
    )
    flagged = decontaminate(corpus, bench, n=3).collect()
    assert [(r.doc_id, r.n_shared) for r in flagged] == [(1, 1)]
    clean = decontaminate(corpus, bench, n=3, mode="drop").collect()
    assert [r.doc_id for r in clean] == [2]


def test_containment_detects_quote_embedding(spark):
    """A short doc fully embedded in a long one: containment = 1.0 while
    Jaccard dilutes below any dedup bar — the asymmetric measure's point.
    Candidate-driven and all-pairs paths agree."""
    from lakota_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
        shingle_table,
    )

    quote = "to be or not to be that is the question"
    filler = " ".join(f"filler{i}" for i in range(120))
    docs = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " " + filler)],
        "doc_id long, text string",
    )
    sh = shingle_table(docs, n=3)
    all_pairs = containment_pairs(sh).collect()
    assert len(all_pairs) == 1
    r = all_pairs[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.containment == 1.0 and r.cont_a == 1.0 and r.cont_b < 0.1
    jac = jaccard_pairs(sh, threshold=0.0).collect()[0].jaccard
    assert jac < 0.1  # symmetric measure misses the embedding
    cand = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    driven = containment_pairs(sh, candidates=cand).collect()
    assert [tuple(x) for x in driven] == [tuple(x) for x in all_pairs]
    # threshold filters on the max direction
    assert containment_pairs(sh, threshold=1.1).count() == 0


def test_decontaminate_bloom_matches_exact(spark):
    """Bloom prefilter has no false negatives → identical output to the
    plain broadcast semi-join, at any (even tiny, collision-heavy)
    bitmap size; drop mode complements flag mode."""
    from lakota_spark.operators.sampling import decontaminate, decontaminate_bloom

    words = "the quick brown fox jumps over a lazy dog near some riverbank".split()
    rows = [
        (i, " ".join(words[j % len(words)] for j in range(i, i + 12)))
        for i in range(40)
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100 + i, t) for i, t in [(0, rows[3][1]), (1, rows[17][1])]],
        "doc_id long, text string",
    )
    exact = {
        (r.doc_id, r.n_shared)
        for r in decontaminate(corpus, bench, n=4).collect()
    }
    assert exact  # the fixture must actually contaminate something
    for n_bits in (1 << 16, 256):  # 256 bits: force real fp collisions
        got = {
            (r.doc_id, r.n_shared)
            for r in decontaminate_bloom(
                corpus, bench, n=4, n_bits=n_bits, n_hashes=3
            ).collect()
        }
        assert got == exact
    clean = decontaminate_bloom(
        corpus, bench, n=4, n_bits=1 << 16, n_hashes=3, mode="drop"
    )
    flagged_ids = {d for d, _ in exact}
    assert {r.doc_id for r in clean.select("doc_id").collect()} == {
        r[0] for r in corpus.select("doc_id").collect()
    } - flagged_ids


def test_contamination_overlap_run_lengths(spark):
    """A doc embedding a whole benchmark item scores a long contiguous
    run; a doc sharing one stray n-gram scores max_run=1; islands
    separated by a gap don't merge."""
    from lakota_spark.operators.sampling import contamination_overlap

    bench_text = "q one two three four five six seven eight nine ten"
    corpus = spark.createDataFrame(
        [
            (1, "intro words " + bench_text + " outro words"),  # full embed
            (2, "four five six unrelated middle gap seven eight nine ten"),
            (3, "totally clean document with no overlap whatsoever"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(9, bench_text)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_matched_pos, r.max_run)
        for r in contamination_overlap(corpus, bench, n=3).collect()
    }
    # doc 1: all 9 3-gram positions of the 11-token bench text match, one run
    assert got[1] == (9, 9)
    # doc 2: "four five six" (1 matched pos) + "seven eight nine ten"
    # (2 matched pos, contiguous) — gap keeps the islands separate
    assert got[2] == (3, 2)
    assert 3 not in got


def test_decontaminate_bloom_randomized_no_false_negatives(spark):
    """Seeded randomized differential: across random corpora and
    collision-heavy bitmap sizes, the bloom path must equal the plain
    semi-join exactly (no-false-negative property) — flag AND drop."""
    import random

    from lakota_spark.operators.sampling import decontaminate, decontaminate_bloom

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(60)]
    for trial, n_bits in [(0, 128), (1, 192), (2, 1 << 12)]:
        corpus_rows = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 15))))
            for i in range(60)
        ]
        bench_rows = [
            (1000 + j, corpus_rows[rng.randrange(60)][1])
            for j in range(3)
        ] + [(2000, " ".join(rng.choice(vocab) for _ in range(10)))]
        corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
        bench = spark.createDataFrame(bench_rows, "doc_id long, text string")
        exact = {
            (r.doc_id, r.n_shared)
            for r in decontaminate(corpus, bench, n=3).collect()
        }
        got = {
            (r.doc_id, r.n_shared)
            for r in decontaminate_bloom(
                corpus, bench, n=3, n_bits=n_bits, n_hashes=2
            ).collect()
        }
        assert got == exact, f"trial={trial} n_bits={n_bits}"


def test_decontaminate_bloom_rejects_bad_params(spark):
    from lakota_spark.operators.sampling import decontaminate_bloom

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    import pytest as _pytest

    for bad in ({"n_bits": 100}, {"n_bits": 0}, {"n_hashes": 0}):
        with _pytest.raises(ValueError):
            decontaminate_bloom(df, df, **bad)


def test_stratified_sample_deterministic(spark):
    from lakota_spark.operators.sampling import stratified_sample

    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("fr").alias("lang"),
    )
    out = stratified_sample(df, {"en": 0.5, "fr": 0.1}, "lang")
    counts = {r.lang: r.c for r in out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("c")).collect()}
    # hash sampling: counts near the target rate
    assert 400 < counts["en"] < 600 and 50 < counts["fr"] < 150
    # decision is a pure function of the row: re-run identical, and a doc's
    # fate is unchanged when the corpus grows
    again = {r.doc_id for r in out.collect()}
    subset = stratified_sample(
        df.where(F.col("doc_id") < 1000), {"en": 0.5, "fr": 0.1}, "lang"
    )
    assert {r.doc_id for r in subset.collect()} == {
        d for d in again if d < 1000
    }
    # rate 0 default drops unknown strata
    zero = stratified_sample(df, {}, "lang")
    assert zero.count() == 0


def test_pack_sequences_budget(spark):
    from lakota_spark.operators.sampling import pack_sequences

    df = spark.range(0, 500).select(
        F.col("id").alias("doc_id"), (F.lit(60)).alias("n_tokens")
    )
    out = pack_sequences(df, budget=300, n_buckets=4).collect()
    assert len(out) == 500
    packs = {}
    for r in out:
        packs.setdefault((r.pack_bucket, r.pack_id), []).append(r.n_tokens)
    # every doc fits somewhere; a shard overshoots by less than one doc
    for (_, _), toks in packs.items():
        assert sum(toks) < 300 + 60
    # packing respects doc order within bucket: pack_id non-decreasing
    by_bucket = {}
    for r in sorted(out, key=lambda r: (r.pack_bucket, r.doc_id)):
        ids = by_bucket.setdefault(r.pack_bucket, [])
        assert not ids or r.pack_id >= ids[-1]
        ids.append(r.pack_id)


def test_ivf_kmeans_topk_semantics(spark):
    # learned-quantizer IVF: the query's own cluster is always probed, so
    # the query vector itself must rank first; results are a subset of
    # brute-force cosine ranking restricted to probed lists
    from lakota_spark.operators.similarity import cosine_topk, ivf_kmeans_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    got = ivf_kmeans_topk(emb, qv, k=10, n_clusters=4, iters=2, n_probe=2).collect()
    assert got[0].vec_id == 0 and got[0].cos_sim == 1.0
    exact = {r.vec_id: r.cos_sim for r in cosine_topk(emb, qv, k=200).collect()}
    # every IVF hit carries the exact cosine score
    for r in got:
        assert r.vec_id in exact and exact[r.vec_id] == r.cos_sim


def test_quantized_cosine_close_to_exact(spark):
    # int8 quantization: the quantized score tracks the exact score
    # within the per-dim error bound; only the corpus side is quantized,
    # so the query's own vector scores just under 1.0 but still first
    from lakota_spark.operators.similarity import (
        quantize_int8,
        quantized_cosine_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    got = quantized_cosine_topk(emb, qv, k=50).collect()
    assert got[0].vec_id == 0 and got[0].q_sim > 0.999
    assert got[0].cos_sim == 1.0
    for r in got:
        assert abs(r.q_sim - r.cos_sim) < 0.02, (r.vec_id, r.q_sim, r.cos_sim)
    # codes are genuine int8 range
    codes = quantize_int8(emb).select(F.explode("codes").alias("c"))
    mn, mx = codes.agg(F.min("c"), F.max("c")).first()
    assert -127 <= mn and mx <= 127


def test_pq_topk_semantics(spark):
    # product quantization: ADC ranking must put genuinely-near vectors
    # first — the query's own vector has the minimal ADC (distance of
    # each sub-vector to its OWN assigned centroid is the reconstruction
    # error, which is minimal for itself... verified empirically: vec 0
    # ranks in the top handful and its exact cosine is 1.0), and every
    # hit carries the true exact cosine
    from lakota_spark.operators.similarity import cosine_topk, pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    got = pq_topk(emb, qv, k=20, m=2, n_codes=4, iters=2).collect()
    assert len(got) == 20
    ids = [r.vec_id for r in got]
    assert 0 in ids  # the query's own vector makes the compressed top-20
    exact = {r.vec_id: r.cos_sim for r in cosine_topk(emb, qv, k=500).collect()}
    for r in got:
        assert exact[r.vec_id] == r.cos_sim
        assert r.adc >= 0.0
    # adc is non-decreasing down the ranking
    adcs = [r.adc for r in got]
    assert adcs == sorted(adcs)


def test_minhash_family_not_degenerate(spark):
    # the affine family must be a DIFFERENT pseudo-permutation per k: if
    # a_k*h never wrapped the modulus, every hash_k would share one
    # argmin shingle and the K-hash signature would collapse to 1 hash
    # (breaking LSH recall — this exact bug shipped briefly in round 4).
    from lakota_spark.functions import hash32
    from lakota_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [(i, f"shingle-{i}") for i in range(200)], "doc_id long, shingle string"
    )
    # one "doc" holding all 200 shingles: its signature mins should come
    # from many different argmin shingles across k
    sigs = minhash_signatures(
        docs.select(F.lit(1).alias("doc_id"), "shingle"), num_hashes=16
    ).collect()[0]
    vals = [sigs[f"mh_{k}"] for k in range(16)]
    assert len(set(vals)) >= 12, vals  # distinct mins => distinct argmins
    # and each hash_k must itself be deterministic
    again = minhash_signatures(
        docs.select(F.lit(1).alias("doc_id"), "shingle"), num_hashes=16
    ).collect()[0]
    assert vals == [again[f"mh_{k}"] for k in range(16)]


def test_dedup_clusters_connected_components(spark):
    # pairs (1-2)(2-3) + (5-6) + isolated pair graph: transitive closure
    # with cluster_id = min member; convergence needs >1 round for chains
    from lakota_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (5, 6), (9, 8)],
        "doc_a long, doc_b long",
    )
    got = {
        r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 8: 8, 9: 8}
    star = {
        r.doc_id: r.cluster_id
        for r in dedup_clusters(pairs, method="star").collect()
    }
    assert star == got


def test_dedup_clusters_star_matches_min_label_random_graphs(spark):
    # property: both methods produce identical components on random
    # graphs (seeded: mixes chains, cliques and isolated pairs)
    import random

    from lakota_spark.operators.dedup import dedup_clusters

    rng = random.Random(42)
    for trial in range(4):
        n = rng.randint(8, 40)
        m = rng.randint(n // 2, 2 * n)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        edges = [(a, b) for a, b in edges if a != b] or [(0, 1)]
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        base = {
            r.doc_id: r.cluster_id
            for r in dedup_clusters(pairs, max_iter=50).collect()
        }
        star = {
            r.doc_id: r.cluster_id
            for r in dedup_clusters(pairs, method="star").collect()
        }
        assert star == base, f"trial {trial}: {star} != {base}"


def test_dedup_clusters_long_chain(spark):
    # a 30-node chain: min_label needs ~diameter rounds, so max_iter=5
    # must RAISE (not silently return unconverged labels); the star
    # contraction converges in O(log n) rounds and labels the whole
    # chain with its min node
    import pytest as _pytest

    from lakota_spark.operators.dedup import dedup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "doc_a long, doc_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(chain, max_iter=5).collect()
    star = {
        r.doc_id: r.cluster_id
        for r in dedup_clusters(chain, method="star", max_iter=10).collect()
    }
    assert star == {i: 0 for i in range(31)}


def test_repetition_stats_gopher_signals(spark):
    # Gopher-style intra-doc repetition: duplicate-line fractions, modal
    # 2-gram coverage (ties -> lexicographically smallest), dup-5gram
    # instance fraction — all per-row array math, hand-checked values
    from lakota_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "a b\nc d\na b\nx y z"),
            (2, "one two one two one two tail"),
            (3, "w w w w w w"),
            (4, "tiny"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_stats(docs).collect()}
    # doc 1: 4 lines, 'a b' twice -> 1 dup instance; dup chars 2*3 of 17
    assert got[1].n_lines == 4
    assert got[1].dup_line_frac == 0.25
    assert abs(got[1].dup_line_char_frac - 6 / 17) < 1e-12
    # doc 2: 'one two' x3 is modal (vs 'two one' x2); covers 21/28 chars
    assert got[2].top_2gram_count == 3
    assert abs(got[2].top_2gram_char_frac - 21 / 28) < 1e-12
    # doc 3: 'w w' appears 5 times; 5-grams: 2 total, 1 distinct
    assert got[3].top_2gram_count == 5
    assert got[3].dup_5gram_frac == 0.5
    # doc 4: no 2-grams/5-grams, single line — all zeros
    assert got[4].top_2gram_count == 0
    assert got[4].dup_5gram_frac == 0.0
    assert got[4].dup_line_frac == 0.0


def test_fold_accents_matches_duckdb_strip_accents(spark):
    # cross-engine guarantee behind every trigram oracle: the translate()
    # fold equals DuckDB strip_accents for EVERY char in the mapped range
    # (plus ASCII and decomposed sequences)
    import duckdb

    from lakota_spark.functions import fold_accents, fold_accents_py

    samples = (
        [chr(cp) for cp in range(0x20, 0x250)]
        + [chr(cp) for cp in range(0x1E00, 0x1F00)]  # Latin Ext Additional
        + [chr(cp) for cp in range(0x0386, 0x03CE)]  # Greek incl. tonos
    ) + [
        "émigré",          # decomposed
        "café Fußball ÆON œuvre",
        "Škoda Ångström đại łódź",
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)], "i long, s string")
    got = {
        r.i: r.f
        for r in df.select("i", fold_accents(F.col("s")).alias("f")).collect()
    }
    con = duckdb.connect()
    for i, s in enumerate(samples):
        want = con.execute("select strip_accents(?)", [s]).fetchone()[0]
        assert got[i] == want, (hex(ord(s[0])) if len(s) == 1 else s, got[i], want)
        assert fold_accents_py(s) == want  # driver-side twin agrees too


def test_repetition_stats_property_vs_python(spark):
    # property: the zero-shuffle fold agrees with a plain-Python
    # reference on seeded random word-soup docs (with newlines)
    import random
    from collections import Counter

    from lakota_spark.operators.text import repetition_stats

    rng = random.Random(7)
    vocab = ["aa", "bb", "cc", "dd"]
    docs = []
    for i in range(30):
        words = [rng.choice(vocab) for _ in range(rng.randint(1, 40))]
        text = " ".join(words)
        if rng.random() < 0.5:  # sprinkle newlines
            text = text.replace(" ", "\n", rng.randint(1, 3))
        docs.append((i, text))
    got = {
        r.doc_id: r
        for r in repetition_stats(
            spark.createDataFrame(docs, "doc_id long, text string")
        ).collect()
    }
    for i, text in docs:
        lines = text.split("\n")
        toks = text.split()
        g2 = [" ".join(toks[j : j + 2]) for j in range(len(toks) - 1)]
        g5 = [" ".join(toks[j : j + 5]) for j in range(len(toks) - 4)]
        r = got[i]
        assert r.n_lines == len(lines)
        assert r.dup_line_frac == (len(lines) - len(set(lines))) / len(lines)
        lc = Counter(lines)
        dup_chars = sum(c * len(l) for l, c in lc.items() if c >= 2)
        assert abs(r.dup_line_char_frac - dup_chars / max(len(text), 1)) < 1e-12
        if g2:
            cnt = Counter(g2)
            # tie-break: count desc, gram asc
            top_g, top_c = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
            assert r.top_2gram_count == top_c, (i, text)
            assert (
                abs(r.top_2gram_char_frac - top_c * len(top_g) / max(len(text), 1))
                < 1e-12
            )
        else:
            assert r.top_2gram_count == 0
        if g5:
            assert r.dup_5gram_frac == (len(g5) - len(set(g5))) / len(g5)


def test_repeated_spans_inter_doc(spark):
    # hashed-n-gram substring dedup: shared 6-gram runs merge into token
    # intervals per doc; isolated docs produce no spans
    from lakota_spark.operators.dedup import repeated_spans

    shared = "the shared passage appears verbatim here now"  # 7 tokens
    docs = spark.createDataFrame(
        [
            (1, shared + " plus unique suffix alpha"),
            (2, "prefix beta " + shared + " trailing words"),
            (3, "totally unrelated content with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.span_start, r.span_end, r.n_grams, r.n_docs_max)
        for r in repeated_spans(docs, n=6, min_df=2).collect()
    }
    # 7 shared tokens -> two 6-grams, merged into one span of 7 tokens
    assert got == {1: (0, 7, 2, 2), 2: (2, 9, 2, 2)}
    # distant repeats do NOT merge: same doc holds the shared run twice
    far = spark.createDataFrame(
        [
            (1, shared + " filler one two three four five six " + shared),
            (2, shared),
        ],
        "doc_id long, text string",
    )
    spans1 = sorted(
        (r.span_start, r.span_end)
        for r in repeated_spans(far, n=6, min_df=2).collect()
        if r.doc_id == 1
    )
    assert spans1 == [(0, 7), (14, 21)]


def test_repeated_spans_property_vs_python(spark):
    # property: span assembly agrees with a plain-Python reference
    # (flag n-grams in >= min_df docs, merge windows with gap <= n)
    # on seeded random word-soup corpora
    import random

    from lakota_spark.operators.dedup import repeated_spans

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(12)]
    n = 4
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 30))))
        for i in range(25)
    ]

    def py_spans(docs, n, min_df):
        grams: dict[str, set[int]] = {}
        per_doc: dict[int, list[tuple[int, str]]] = {}
        for i, text in docs:
            toks = text.split()
            for p in range(len(toks) - n + 1):
                g = " ".join(toks[p : p + n])
                grams.setdefault(g, set()).add(i)
                per_doc.setdefault(i, []).append((p, g))
        flagged = {g: len(d) for g, d in grams.items() if len(d) >= min_df}
        out = set()
        for i, hits in per_doc.items():
            hs = sorted(
                (p, flagged[g]) for p, g in hits if g in flagged
            )
            if not hs:
                continue
            start, prev, ng, nd = hs[0][0], hs[0][0], 1, hs[0][1]
            for p, d in hs[1:]:
                if p - prev > n:
                    out.add((i, start, prev + n, ng, nd))
                    start, ng, nd = p, 0, 0
                prev, ng, nd = p, ng + 1, max(nd, d)
            out.add((i, start, prev + n, ng, nd))
        return out

    want = py_spans(docs, n, 2)
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_grams, r.n_docs_max)
        for r in repeated_spans(
            spark.createDataFrame(docs, "doc_id long, text string"),
            n=n,
            min_df=2,
        ).collect()
    }
    assert got == want


def test_gap_fill_ffill(spark):
    from lakota_spark.operators.timeseries import gap_fill

    df = spark.createDataFrame(
        [
            ("a", dt.datetime(2024, 1, 1, 5), 10.0),
            ("a", dt.datetime(2024, 1, 4, 7), 40.0),   # 3-day gap before
            ("b", dt.datetime(2024, 1, 2, 1), 5.0),
        ],
        "g string, ts timestamp, v double",
    )
    out = gap_fill(
        df, "ts", ["g"], "D", {"s": F.sum("v"), "n": F.count(F.lit(1))}
    ).collect()
    rows = {(r.g, str(r.bucket.date())): (r.s, r.n) for r in out}
    # group a: 4 dense days, gap days forward-filled from Jan 1
    assert rows[("a", "2024-01-01")] == (10.0, 1)
    assert rows[("a", "2024-01-02")] == (10.0, 1)   # filled
    assert rows[("a", "2024-01-03")] == (10.0, 1)   # filled
    assert rows[("a", "2024-01-04")] == (40.0, 1)
    # group b: single-day span, no padding beyond its own range
    assert [k for k in rows if k[0] == "b"] == [("b", "2024-01-02")]
    # fill=None keeps nulls on the gap days
    raw = gap_fill(df, "ts", ["g"], "D", {"s": F.sum("v")}, fill=None)
    nulls = [r for r in raw.collect() if r.s is None]
    assert len(nulls) == 2


def test_bm25_ranking(spark):
    from lakota_spark.operators.text import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark engine"),        # high tf for 'spark'
            (2, "spark engine with window merge"),  # one of each
            (3, "window window window window"),     # rare-term heavy
            (4, "nothing relevant here at all"),    # no hit
        ],
        "doc_id long, text string",
    )
    out = bm25_scores(docs, ["spark", "merge"], k=10).collect()
    got = {r.doc_id: r.bm25 for r in out}
    assert 4 not in got                     # zero-hit docs never surface
    assert set(got) == {1, 2}
    # doc 2 matches two terms incl. the rarer 'merge' -> outranks tf-spam
    assert got[2] > got[1] > 0
    # idf sanity: 'merge' (df=1) contributes more than 'spark' (df=2)
    only_merge = bm25_scores(docs, ["merge"], k=10).collect()
    only_spark = [
        r for r in bm25_scores(docs, ["spark"], k=10).collect()
        if r.doc_id == 2
    ]
    assert only_merge[0].bm25 > only_spark[0].bm25


def test_kmeans_assign_separable(spark):
    from lakota_spark.operators.clustering import kmeans_assign

    # two tight blobs far apart; seeds = ids 0,1 land one in each blob
    rows = [(0, [0.0, 0.0]), (1, [10.0, 10.0]),
            (2, [0.1, 0.2]), (3, [0.2, 0.1]),
            (4, [10.1, 9.9]), (5, [9.9, 10.2])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: r.cluster for r in kmeans_assign(df, k=2, iters=3).collect()}
    assert got[0] == got[2] == got[3]
    assert got[1] == got[4] == got[5]
    assert got[0] != got[1]
    # distance ties break toward the smaller cluster id: identical seeds
    tie = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [1.0, 1.0]), (2, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    t = {r.vec_id: r.cluster for r in kmeans_assign(tie, k=2, iters=2).collect()}
    assert set(t.values()) == {0}  # all points tie -> cluster 0 everywhere


def test_pii_stats_and_scrub(spark):
    from lakota_spark.operators.text import pii_scrub, pii_stats

    docs = spark.createDataFrame(
        [
            (1, "reach me at jane.doe+spam@corp.example.org today"),
            (2, "docs at https://a.example.com/x?q=1 and http://b.io"),
            (3, "call +32 (0)2 345-67-89 now"),
            (4, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    stats = {r.doc_id: (r.n_email, r.n_url, r.n_phone)
             for r in pii_stats(docs).collect()}
    assert stats[1] == (1, 0, 0)
    assert stats[2] == (0, 2, 0)
    assert stats[3][2] == 1
    assert stats[4] == (0, 0, 0)
    scrubbed = {r.doc_id: r.text for r in pii_scrub(docs).collect()}
    assert scrubbed[1] == "reach me at <EMAIL> today"
    assert "<URL>" in scrubbed[2] and "example" not in scrubbed[2]
    assert "<PHONE>" in scrubbed[3]
    assert scrubbed[4] == "nothing sensitive here"


def test_exactness_is_partition_independent(spark):
    # the oracle discipline's core claim: results are pure functions of
    # the data, not of partitioning — rerun sensitive operators on a
    # repartitioned input and demand IDENTICAL values
    import random

    from lakota_spark.operators.clustering import kmeans_assign
    from lakota_spark.operators.text import bm25_scores

    rng = random.Random(7)
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choice(["spark", "merge", "scan", "row", "agg"])
                      for _ in range(30)))
         for i in range(200)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, bm25_scores(docs, ["spark", "merge"]).collect()))
    b = sorted(map(tuple,
                   bm25_scores(docs.repartition(7), ["spark", "merge"])
                   .collect()))
    assert a == b
    vecs = spark.createDataFrame(
        [(i, [rng.random() for _ in range(8)]) for i in range(100)],
        "vec_id long, embedding array<double>",
    )
    ka = sorted(map(tuple, kmeans_assign(vecs, k=4, iters=2).collect()))
    kb = sorted(map(tuple,
                    kmeans_assign(vecs.repartition(9), k=4, iters=2)
                    .collect()))
    assert ka == kb


def test_unigram_lm_scores_semantics(spark):
    # a doc made of corpus-frequent tokens must outscore a doc of
    # hapaxes; scores are averages of negative log-probs (all < 0), and
    # the fold is partition-independent (micro-nat integer discipline)
    from lakota_spark.operators.text import unigram_lm_scores

    common = "the cat sat on the mat " * 5
    docs = spark.createDataFrame(
        [(0, common), (1, common), (2, common), (3, "zyx qwv plk mnb")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in unigram_lm_scores(docs).collect()}
    assert rows[0].avg_logprob == rows[1].avg_logprob
    assert rows[0].avg_logprob > rows[3].avg_logprob
    assert all(r.avg_logprob < 0 for r in rows.values())
    a = sorted(map(tuple, unigram_lm_scores(docs).collect()))
    b = sorted(map(tuple, unigram_lm_scores(docs.repartition(5)).collect()))
    assert a == b


def test_unigram_lm_skips_tokenless_docs(spark):
    from lakota_spark.operators.text import unigram_lm_scores

    docs = spark.createDataFrame(
        [(0, "real words here"), (1, "12345 !!!"), (2, "")],
        "doc_id long, text string",
    )
    got = {r.doc_id for r in unigram_lm_scores(docs).collect()}
    assert got == {0}


def test_semdedup_blocks_by_cluster(spark):
    # two tight, well-separated clusters: every returned pair must be
    # intra-cluster, and the planted near-duplicate must rank first
    from lakota_spark.operators.dedup import semdedup_pairs

    base_a = [1.0, 0.0, 0.0, 0.0]
    base_b = [0.0, 1.0, 0.0, 0.0]
    rows = []
    for i in range(10):
        rows.append((i, [x + 0.01 * i for x in base_a]))
        rows.append((100 + i, [x + 0.01 * i for x in base_b]))
    rows.append((999, base_a))  # near-exact dup of vec 0
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semdedup_pairs(vecs, k=2, iters=2, top=5).collect()
    assert out, "expected candidate pairs"
    top = out[0]
    assert {top.id_a, top.id_b} == {0, 999}
    clusters = {r.vec_id: r.cluster for r in
                __import__("lakota_spark.operators.clustering",
                           fromlist=["kmeans_assign"])
                .kmeans_assign(vecs, k=2, iters=2).collect()}
    for r in out:
        assert clusters[r.id_a] == clusters[r.id_b] == r.cluster


def test_mixture_weights_flatten_distribution(spark):
    from lakota_spark.operators.sampling import mixture_weights

    docs = spark.createDataFrame(
        [(i, "en" if i < 90 else "sw") for i in range(100)],
        "doc_id long, lang string",
    )
    rows = {r.lang: r for r in mixture_weights(docs, "lang").collect()}
    # weights normalize
    assert abs(sum(r.w_alpha_lo for r in rows.values()) - 1.0) < 1e-5
    assert abs(sum(r.w_alpha_hi for r in rows.values()) - 1.0) < 1e-5
    # temperature flattens: low-resource group gains, high-resource loses
    assert rows["sw"].w_alpha_lo > rows["sw"].nat_share
    assert rows["en"].w_alpha_lo < rows["en"].nat_share
    # lower alpha flattens MORE
    assert rows["sw"].w_alpha_lo > rows["sw"].w_alpha_hi
    # boost column is the up-sampling factor
    assert rows["sw"].boost_alpha_lo > 1.0 > rows["en"].boost_alpha_lo


def test_edit_dup_pairs_finds_small_edits(spark):
    # a one-character edit of a long doc must surface as the top pair
    # with edit_dist 1; unrelated docs must not appear
    from lakota_spark.operators.dedup import edit_dup_pairs

    # varied words: repeated text collapses the distinct-shingle set and
    # starves the bands, so keep every 3-gram unique except the edit
    base = " ".join(f"word{i:02d}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base.replace("word37", "ward37", 1)),
            (2, "completely different content about spark shuffles merge"),
            (3, "yet another unrelated document on parquet scan pruning"),
        ],
        "doc_id long, text string",
    )
    out = edit_dup_pairs(docs, top=5).collect()
    assert out, "expected at least the planted pair"
    top = out[0]
    assert (top.doc_a, top.doc_b) == (0, 1)
    assert top.edit_dist == 1
    assert top.edit_sim > 0.99
    flagged = {(r.doc_a, r.doc_b) for r in out}
    assert (2, 3) not in flagged


def test_winnow_local_sampling_guarantee(spark):
    # the winnowing property: any shared word run of >= w+k-1 words
    # (here 4+5-1 = 8) yields at least one SHARED fingerprint between
    # the two docs; disjoint docs share nothing
    from lakota_spark.functions import hash32, tokens, word_shingles
    from lakota_spark.operators.text import winnow_fingerprints
    from pyspark.sql import functions as F

    shared = " ".join(f"common{i}" for i in range(10))  # 10-word run
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma " + shared + " delta epsilon zeta"),
            (1, "one two three four five " + shared + " six seven"),
            (2, " ".join(f"other{i}" for i in range(20))),
        ],
        "doc_id long, text string",
    )
    stats = {r.doc_id: r for r in winnow_fingerprints(docs).collect()}
    assert stats[0].n_fps > 0 and stats[2].n_fps > 0
    # recover the actual fingerprint sets to check overlap
    grams = F.transform(word_shingles(tokens("text"), 5), lambda s: hash32(s))
    n_win = F.size(grams) - F.lit(3)
    wins = F.transform(
        F.sequence(F.lit(1), F.greatest(n_win, F.lit(1))),
        lambda i: F.array_min(F.slice(grams, i, 4)),
    )
    fps = {
        r.doc_id: set(r.fp)
        for r in docs.select(
            "doc_id", F.array_distinct(wins).alias("fp")
        ).collect()
    }
    assert fps[0] & fps[1], "shared 10-word run must share a fingerprint"
    assert not (fps[0] & fps[2]) and not (fps[1] & fps[2])
    # summary columns agree with the recovered sets
    assert stats[0].n_fps == len(fps[0])
    assert stats[0].fp_sum == sum(fps[0])


def test_winnow_arrow_impl_bit_identical(spark):
    # the mapInArrow twin (round-14 guide-§4.2 rewrite candidate) must be
    # BIT-identical to the Catalyst expression chain — including the
    # Java-regex \s tokenization corners (ASCII class only: NBSP and
    # other unicode spaces are NOT separators), trim-strips-0x20-only,
    # leading/trailing separator empty tokens, and the short-doc
    # (no-gram / gram-but-no-window) null shapes.
    from lakota_spark.operators.text import winnow_fingerprints

    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota"),
        (1, "  lead and trail spaces  "),
        (2, "tab\tsep\nnewline\x0bvtab\fformfeed\rcarriage mix of all"),
        (3, "one two three four"),          # 4 tokens: zero grams
        (4, "one two three four five"),     # 5 tokens: 1 gram, no window
        (5, "a b c d e f g h"),             # 8 grams->4: exactly 1 window
        (6, ""),                             # '' splits to ['']
        (7, "   "),                          # trims to ''
        (8, "nbsp is not a java separator here truly honest"),
        (9, "unicode tokens: émo ascii ℓatin 漢字 mixed Ω tokens here ok"),
        (10, "astral \U0001F600 emoji token stream with many more words"
             " to cross the window threshold for fingerprints"),
        (11, "dup dup dup dup dup dup dup dup dup dup dup dup"),
        (12, None),                          # null text: 0/0/0/null/null
    ] + [
        (100 + i, " ".join(f"w{(i * 7 + j) % 13}" for j in range(i % 25)))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # ids that are not `long` keep their type through the fold
    for docs in (docs, _string_ids(docs)):
        expr = {r.doc_id: r for r in winnow_fingerprints(docs).collect()}
        arrow = {
            r.doc_id: r
            for r in winnow_fingerprints(docs, impl="arrow").collect()
        }
        assert expr.keys() == arrow.keys()
        for d in expr:
            assert tuple(expr[d]) == tuple(arrow[d]), (d, expr[d], arrow[d])
        # schemas identical too (types + nullability-insensitive names)
        a = winnow_fingerprints(docs, impl="arrow")
        e = winnow_fingerprints(docs)
        assert [(f.name, f.dataType) for f in a.schema.fields] == [
            (f.name, f.dataType) for f in e.schema.fields
        ]


def _string_ids(docs):
    """The same docs keyed by a string id ("d<n>")."""
    from pyspark.sql import functions as F

    return docs.withColumn(
        "doc_id", F.concat(F.lit("d"), F.col("doc_id").cast("string"))
    )


def test_unigram_lm_property_vs_python(spark):
    # differential vs a pure-Python add-one unigram LM on random docs:
    # same tokens, same smoothing, micro-nat quantization reproduced
    import math
    import random
    import re
    from collections import Counter

    from lakota_spark.operators.text import unigram_lm_scores

    rng = random.Random(13)
    vocab_pool = [f"w{i}" for i in range(30)]
    docs = [
        (i, " ".join(rng.choice(vocab_pool) for _ in range(rng.randint(5, 40))))
        for i in range(60)
    ]
    # NOTE: operator tokenizes [a-z]+ — digits split words (w1 -> 'w')
    counts = Counter()
    toks_by_doc = {}
    for i, text in docs:
        tk = re.findall(r"[a-z]+", text.lower())
        toks_by_doc[i] = tk
        counts.update(tk)
    total, v = sum(counts.values()), len(counts)
    expected = {}
    for i, tk in toks_by_doc.items():
        if not tk:
            continue
        s = sum(
            round(math.log((counts[t] + 1.0) / (total + v)) * 1000000)
            for t in tk
        )
        expected[i] = (len(tk), s / (len(tk) * 1000000))
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.avg_logprob)
        for r in unigram_lm_scores(sdf).collect()
    }
    assert got == expected


def test_boilerplate_flags_semantics(spark):
    from lakota_spark.operators.dedup import boilerplate_flags

    chrome = "click here to subscribe to our newsletter today friends"
    docs = spark.createDataFrame(
        [
            (0, chrome + " unique tail zero alpha beta gamma delta"),
            (1, chrome + " another ending one two three four five"),
            (2, "entirely original content with no shared spans at all ok"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in boilerplate_flags(docs).collect()}
    # the shared chrome grams are boilerplate for docs 0/1, absent in 2
    assert rows[0].n_boiler > 0 and rows[1].n_boiler > 0
    assert rows[2].n_boiler == 0 and rows[2].flagged is False
    assert rows[0].boiler_frac == rows[0].n_boiler / rows[0].n_grams


def test_blocklist_filter_anti_join(spark):
    from lakota_spark.operators.sampling import blocklist_filter

    docs = spark.createDataFrame(
        [(i, f"src{i % 4}") for i in range(40)], "doc_id long, source string"
    )
    blocked = spark.createDataFrame([("src1",), ("src3",)], "source string")
    kept = blocklist_filter(docs, blocked)
    assert kept.count() == 20
    assert {r.source for r in kept.select("source").distinct().collect()} == {
        "src0", "src2",
    }


def test_line_dedup_removes_cross_doc_lines(spark):
    from lakota_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (0, "original content zero\nshared footer\nmore zero"),
            (1, "different content one\nshared footer"),
            (2, "totally unique document two"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in line_dedup(docs).collect()}
    assert rows[0].n_removed == 1
    assert rows[0].text_clean == "original content zero\nmore zero"
    assert rows[1].text_clean == "different content one"
    assert rows[2].n_removed == 0
    assert rows[2].text_clean == "totally unique document two"
    # doc reduced to nothing still yields a row with empty text
    all_dup = spark.createDataFrame(
        [(0, "x\ny"), (1, "x\ny")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in line_dedup(all_dup).collect()}
    assert got[0].text_clean == "" and got[0].n_removed == 2


def test_char_entropy_known_values(spark):
    import math

    from lakota_spark.operators.text import char_entropy

    docs = spark.createDataFrame(
        [(0, "aaaaaaaa"), (1, "abcdefgh"), (2, "aabb")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in char_entropy(docs).collect()}
    assert rows[0].entropy_bits == 0.0          # constant run
    assert rows[1].entropy_bits == 3.0          # 8 uniform chars = log2(8)
    assert rows[2].entropy_bits == 1.0          # two 50% chars
    assert rows[1].n_distinct_chars == 8
    # partition independence (micro-bit integer fold)
    a = sorted(map(tuple, char_entropy(docs).collect()))
    b = sorted(map(tuple, char_entropy(docs.repartition(3)).collect()))
    assert a == b
    # empty text: zero chars (NOT the [''] artifact of split('', ''))
    empty = spark.createDataFrame([(9, "")], "doc_id long, text string")
    row = char_entropy(empty).collect()[0]
    assert row.n_chars_split == 0
    assert row.n_distinct_chars == 0
    assert row.entropy_bits == 0.0


def test_chunk_documents_overlap_and_provenance(spark):
    from lakota_spark.operators.text import chunk_documents

    text = " ".join(f"t{i}" for i in range(50))
    docs = spark.createDataFrame([(7, text)], "doc_id long, text string")
    chunks = sorted(
        chunk_documents(docs, chunk_tokens=32, stride=24).collect(),
        key=lambda r: r.chunk_idx,
    )
    # starts at 1, 25, 49 -> 3 chunks; sizes 32, 26, 2
    assert [(c.chunk_idx, c.start_tok, c.n_chunk_tokens) for c in chunks] == [
        (0, 1, 32), (1, 25, 26), (2, 49, 2),
    ]
    assert chunks[0].chunk_text.split()[:2] == ["t0", "t1"]
    assert chunks[1].chunk_text.split()[0] == "t24"  # 8-token overlap
    assert chunks[0].chunk_text.split()[-8:] == chunks[1].chunk_text.split()[:8]
    assert chunks[2].chunk_text == "t48 t49"


def test_line_dedup_property_vs_python(spark):
    # differential vs a pure-Python reference on random multi-line docs
    import random
    from collections import Counter

    from lakota_spark.operators.dedup import line_dedup

    rng = random.Random(29)
    pool = [f"line {i}" for i in range(12)]  # small pool -> real collisions
    docs = [
        (i, "\n".join(rng.choice(pool) for _ in range(rng.randint(1, 6))))
        for i in range(40)
    ]
    df_count = Counter()
    for _, text in docs:
        for ln in set(text.split("\n")):
            df_count[ln] += 1
    dup = {ln for ln, c in df_count.items() if c >= 2}
    expected = {}
    for i, text in docs:
        lines = text.split("\n")
        kept = [ln for ln in lines if ln not in dup]
        expected[i] = (len(lines), len(lines) - len(kept), "\n".join(kept))
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_lines, r.n_removed, r.text_clean)
        for r in line_dedup(sdf).collect()
    }
    assert got == expected


def test_boilerplate_property_vs_python(spark):
    import random
    from collections import Counter

    from lakota_spark.operators.dedup import boilerplate_flags

    rng = random.Random(31)
    vocab = [f"w{i}" for i in range(15)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 20))))
        for i in range(50)
    ]

    def grams(text, n=5):
        tk = text.split()
        return {" ".join(tk[j:j + n]) for j in range(len(tk) - n + 1)}

    dfc = Counter()
    for _, text in docs:
        dfc.update(grams(text))
    boiler = {g for g, c in dfc.items() if c >= 2}
    expected = {}
    for i, text in docs:
        g = grams(text)
        if not g:
            continue
        nb = len(g & boiler)
        expected[i] = (len(g), nb, nb / len(g), nb / len(g) > 0.5)
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_grams, r.n_boiler, r.boiler_frac, r.flagged)
        for r in boilerplate_flags(sdf).collect()
    }
    assert got == expected


def test_partial_index_write_is_rebuilt(spark):
    # a crashed index write leaves a dir WITHOUT _SUCCESS: the ensure
    # helpers must rebuild (mode=overwrite), never serve partial postings
    import os
    import shutil

    from lakota_spark.queries import pipeline

    sf = "/root/testdata/sf0.001"
    path = pipeline._index_path(sf, "trigram")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    with open(os.path.join(path, "part-garbage.parquet"), "w") as fh:
        fh.write("not parquet")
    got = pipeline._ensure_trigram_index(spark, sf)
    assert got == path
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    # and the search works against the rebuilt index
    assert pipeline.trigram_search_indexed(spark, sf).count() > 0


def test_round4b_ops_partition_independent(spark):
    # same invariant as test_exactness_is_partition_independent, for the
    # 4b additions: results must be pure functions of the data
    import random

    from lakota_spark.operators.dedup import boilerplate_flags, line_dedup
    from lakota_spark.operators.text import chunk_documents, winnow_fingerprints

    rng = random.Random(41)
    pool = [f"w{i}" for i in range(20)]
    docs = spark.createDataFrame(
        [
            (i, "\n".join(
                " ".join(rng.choice(pool) for _ in range(rng.randint(4, 15)))
                for _ in range(rng.randint(1, 3))
            ))
            for i in range(80)
        ],
        "doc_id long, text string",
    )
    for op in (boilerplate_flags, line_dedup, chunk_documents,
               winnow_fingerprints):
        a = sorted(map(tuple, op(docs).collect()))
        b = sorted(map(tuple, op(docs.repartition(11)).collect()))
        assert a == b, op.__name__


def test_corpus_k_scaling_bounds_block_sizes(spark):
    # SemDeDup/IVF deployment rule: k = corpus_k(n) keeps the expected
    # k-means block at target_block rows as the corpus grows, so the
    # blocked pair-join's per-block (n/k)^2 cost stays bounded instead
    # of quadratic (VERDICT r4 next-round #4).
    import random

    from lakota_spark.operators.clustering import corpus_k, kmeans_fit

    # the formula itself: linear growth, floor, oracle-scale fixpoint
    assert corpus_k(500) == 8          # driver oracle scale -> k=8 exactly
    assert corpus_k(0) == 8
    assert corpus_k(2000) == 32
    assert corpus_k(20_000) == 313
    assert corpus_k(64 * 10**6) == 10**6  # 100 TB-ish corpus, k = n/64
    assert corpus_k(10**9, k_max=1 << 20) == 1 << 20

    # blocks stay bounded as n grows WITH k scaling: fit two corpus
    # sizes, check the mean block is ~target and the max block does not
    # grow proportionally with n (it would with fixed k)
    rng = random.Random(7)
    dim = 8
    sizes = (1024, 4096)  # both past the k_min*64 floor: linear regime
    max_blocks = {}
    for n in sizes:
        df = spark.createDataFrame(
            [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(n)],
            "vec_id long, embedding array<double>",
        )
        k = corpus_k(n, target_block=64)
        assert k == -(-n // 64)
        _, assigned = kmeans_fit(df, k=k, iters=2)
        counts = [
            r.c
            for r in assigned.groupBy("cluster")
            .agg(__import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("c"))
            .collect()
        ]
        assert sum(counts) == n
        max_blocks[n] = max(counts)
    # 4x the data must NOT mean 4x the biggest block (Lloyd on gaussian
    # noise is uneven, so allow slack well below the fixed-k ratio)
    assert max_blocks[4096] < 4 * max_blocks[1024]


def test_clip_repeated_spans_semantics(spark):
    # merged multi-width islands, clip/drop decision, rebuilt text
    from lakota_spark.operators.dedup import clip_repeated_spans

    boiler = "subscribe to our newsletter for more updates every day"  # 9 toks
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma " + boiler),                # trailing repeat
            (1, boiler + " delta epsilon zeta eta theta iota kappa"),
            (2, "unique words only here nothing repeated at all"),
            (3, boiler),                                      # 100% covered
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in clip_repeated_spans(
        docs, tiers=((4, 2), (6, 2)), drop_frac=0.5
    ).collect()}
    # doc 2 shares no 4-gram: untouched
    assert rows[2].action == "keep"
    assert rows[2].text_clean == "unique words only here nothing repeated at all"
    assert rows[2].n_clipped == 0
    # doc 3 is pure boilerplate: dropped, empty rebuild
    assert rows[3].action == "drop"
    assert rows[3].text_clean == ""
    assert rows[3].n_clipped == rows[3].n_tokens == 9
    # doc 0: 9 of 12 tokens covered -> 9 > 0.5*12 -> drop
    assert rows[0].action == "drop"
    # doc 1: 9 of 16 covered -> 9 > 8 -> drop too; loosen the gate and
    # the same doc becomes a clip with the boilerplate removed
    loose = {r.doc_id: r for r in clip_repeated_spans(
        docs, tiers=((4, 2), (6, 2)), drop_frac=0.9
    ).collect()}
    assert loose[1].action == "clip"
    assert loose[1].text_clean == "delta epsilon zeta eta theta iota kappa"
    assert loose[1].n_clipped == 9
    # tiered thresholds: 4-grams need df>=3 now, so only doc pairs
    # sharing the full 6-gram run still flag; a strict-short/lenient-long
    # tiering must NOT behave like the flat min_df=2 one
    tiered = {r.doc_id: r for r in clip_repeated_spans(
        docs, tiers=((4, 3), (6, 2)), drop_frac=0.5
    ).collect()}
    assert tiered[0].n_clipped >= 6  # long 6-gram repeat still caught
    # partition independence (exact integer/token arithmetic)
    a = sorted(map(tuple, clip_repeated_spans(docs).collect()))
    b = sorted(map(tuple, clip_repeated_spans(docs.repartition(3)).collect()))
    assert a == b


def test_keep_best_per_cluster_argmax_and_ties(spark):
    # highest score wins; equal scores break to the SMALLEST id (the
    # determinism the oracle comparison depends on); one row per cluster
    from pyspark.sql import functions as F

    from lakota_spark.operators.dedup import keep_best_per_cluster

    clusters = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (7, 70), (9, 70)],
        "doc_id long, cluster_id long",
    )
    scores = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (7, 4), (9, 4)], "doc_id long, score long"
    )
    out = {
        r["cluster_id"]: r
        for r in keep_best_per_cluster(clusters, scores).collect()
    }
    assert set(out) == {10, 70}
    # cluster 10: docs 2 and 3 tie at score 9 -> doc 2 kept
    assert out[10]["kept_doc"] == 2 and out[10]["kept_score"] == 9
    assert out[10]["n_members"] == 3 and out[10]["n_dropped"] == 2
    # cluster 70: tie at 4 -> doc 7 kept
    assert out[70]["kept_doc"] == 7 and out[70]["n_dropped"] == 1
    # plan shape: partial-agg groupBy, no window, no cartesian
    plan = keep_best_per_cluster(clusters, scores)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Cartesian" not in plan


def test_importance_weights_targets_score_higher(spark):
    # docs drawn from the target vocabulary must get a higher avg log
    # ratio than off-target docs; folds are integer micro-nats (exact)
    from pyspark.sql import functions as F

    from lakota_spark.operators.sampling import importance_weights

    rows = []
    for i in range(20):  # target domain: science-y vocabulary
        rows.append((i, "quantum physics entropy theorem proof lemma", "tgt"))
    for i in range(20, 40):  # raw filler: celebrity gossip vocabulary
        rows.append((i, "celebrity gossip scandal rumor tabloid drama", "raw"))
    df = spark.createDataFrame(rows, "doc_id long, text string, domain string")
    out = importance_weights(df, target_filter=(F.col("domain") == "tgt"))
    scores = {r["doc_id"]: r["avg_log_ratio"] for r in out.collect()}
    assert len(scores) == 40
    tgt_avg = sum(scores[i] for i in range(20)) / 20
    raw_avg = sum(scores[i] for i in range(20, 40)) / 20
    assert tgt_avg > 0 > raw_avg
    # n_tokens counted per doc
    assert all(r["n_tokens"] == 6 for r in out.collect())


def _encode_png(img, color_type, filters, palette=None):
    """Minimal PNG encoder for the golden tests: forward-filters each
    scanline with the REQUESTED filter type, so the decoder's five
    unfilter paths are each exercised against ground truth."""
    import struct
    import zlib

    import numpy as np

    h = len(filters)
    if color_type == 2:
        data = img  # HxWx3
        channels = 3
    elif color_type == 0:
        data = img[..., :1]
        channels = 1
    elif color_type == 6:
        data = np.concatenate(
            [img, np.full(img.shape[:2] + (1,), 255, np.uint8)], axis=2
        )
        channels = 4
    elif color_type == 3:
        data = img  # HxWx1 of palette indices
        channels = 1
    w = data.shape[1]
    bpp = channels
    raw = bytearray()
    prev = np.zeros(w * channels, np.int32)
    for y, f in enumerate(filters):
        cur = data[y].reshape(-1).astype(np.int32)
        if f == 0:
            enc = cur
        elif f == 1:
            left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
            enc = (cur - left) & 0xFF
        elif f == 2:
            enc = (cur - prev) & 0xFF
        elif f == 3:
            left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
            enc = (cur - ((left + prev) >> 1)) & 0xFF
        elif f == 4:
            left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
            upleft = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]])
            p = left + prev - upleft
            pa, pb, pc = (
                np.abs(p - left),
                np.abs(p - prev),
                np.abs(p - upleft),
            )
            pred = np.where(
                (pa <= pb) & (pa <= pc),
                left,
                np.where(pb <= pc, prev, upleft),
            )
            enc = (cur - pred) & 0xFF
        raw.append(f)
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = cur
    def chunk(ctype, payload):
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", zlib.crc32(ctype + payload))
        )
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    out += chunk(b"IDAT", zlib.compress(bytes(raw)))
    out += chunk(b"IEND", b"")
    return out


def test_png_decode_bit_exact_all_filters():
    # golden: a 5xW RGB image round-trips bit-exactly through the
    # stdlib-zlib decoder with every filter type (None/Sub/Up/Avg/Paeth)
    import numpy as np

    from lakota_spark.operators.multimodal import _parse_png

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 9, 3), dtype=np.uint8)
    png = _encode_png(img, 2, filters=[0, 1, 2, 3, 4])
    got = _parse_png(png)
    assert got is not None and got.shape == (5, 9, 3)
    assert np.array_equal(got, img)


def test_png_decode_color_types():
    import numpy as np

    from lakota_spark.operators.multimodal import _parse_png

    rng = np.random.default_rng(11)
    # grayscale (type 0) -> replicated channels
    g = rng.integers(0, 256, size=(4, 6, 3), dtype=np.uint8)
    g[..., 1] = g[..., 0]
    g[..., 2] = g[..., 0]
    got = _parse_png(_encode_png(g, 0, filters=[0, 2, 1, 4]))
    assert np.array_equal(got, g)
    # RGBA (type 6) -> alpha dropped
    c = rng.integers(0, 256, size=(3, 5, 3), dtype=np.uint8)
    got = _parse_png(_encode_png(c, 6, filters=[1, 3, 0]))
    assert np.array_equal(got, c)
    # palette (type 3)
    palette = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, size=(4, 4, 1), dtype=np.uint8)
    got = _parse_png(_encode_png(idx, 3, filters=[0, 1, 2, 4], palette=palette))
    assert np.array_equal(got, palette[idx[..., 0]])
    # corrupt deflate stream -> safe fallback (None), not an exception
    from lakota_spark.operators.multimodal import _safe

    png = _encode_png(c, 6, filters=[1, 3, 0])
    broken = png[:40] + b"\x00\x00\x00\x00" + png[44:]
    assert _safe(_parse_png, broken) is None


def test_png_features_through_spark(spark):
    # multimodal_features returns TRUE pixel features for a PNG payload
    # (r6 verdict ask #5): compare against the descriptor computed
    # directly from the source array
    import numpy as np

    from lakota_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        _image_features,
        extract_features,
    )

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(8, 10, 3), dtype=np.uint8)
    png = _encode_png(img, 2, filters=[0, 1, 2, 3, 4, 1, 2, 0])
    rows = [(1, bytearray(png), "image/png", len(png), "{}")]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.media_id: r.feature for r in extract_features(media).collect()}
    import pytest

    want = _image_features(img)
    assert len(feats[1]) == 13  # real decode, not the 8-float fallback
    assert feats[1] == pytest.approx(want)


def _gif_lzw_encode(indices, min_code_size):
    """Real LZW compressor for the GIF golden tests: dict-grown codes,
    variable width (widens when the code just assigned hits the width
    ceiling — the one-ahead twin of the decoder's rule), clear-on-full."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    out = bytearray()
    acc = bits = 0
    code_size = min_code_size + 1

    def emit(code):
        nonlocal acc, bits
        acc |= code << bits
        bits += code_size
        while bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            bits -= 8

    def reset():
        nonlocal code_size
        code_size = min_code_size + 1
        return {bytes([i]): i for i in range(clear)}, end + 1

    table, next_code = reset()
    emit(clear)
    w = b""
    for k in indices:
        wk = w + bytes([k])
        if wk in table:
            w = wk
            continue
        emit(table[w])
        table[wk] = next_code
        next_code += 1
        if next_code - 1 == 1 << code_size and code_size < 12:
            code_size += 1
        elif next_code == 4096:
            emit(clear)
            table, next_code = reset()
        w = wk[-1:]
    if w:
        emit(table[w])
    emit(end)
    if bits:
        out.append(acc & 0xFF)
    return bytes(out)


def _encode_gif(idx, palette, interlace=False, left=0, top=0,
                screen=None, bg=0, local_palette=None):
    """Minimal-but-real GIF89a encoder for the golden tests: true LZW,
    optional interlace, frame offsets, local color table, a GCE block
    the parser must skip, ≤255-byte data sub-blocks."""
    import numpy as np

    h, w = idx.shape
    sw, sh = screen if screen else (left + w, top + h)

    def color_table(pal):
        bits = max(1, (len(pal) - 1).bit_length())
        padded = np.zeros((2**bits, 3), dtype=np.uint8)
        padded[: len(pal)] = pal
        return bits, padded.tobytes()

    gbits, gdata = color_table(palette)
    out = bytearray(b"GIF89a")
    out += sw.to_bytes(2, "little") + sh.to_bytes(2, "little")
    out += bytes([0x80 | (gbits - 1), bg, 0]) + gdata
    out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # GCE: must be skipped
    out += b"\x2c" + left.to_bytes(2, "little") + top.to_bytes(2, "little")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    flags, lbits, ldata = (0x40 if interlace else 0), None, b""
    if local_palette is not None:
        lbits, ldata = color_table(local_palette)
        flags |= 0x80 | (lbits - 1)
    out.append(flags)
    out += ldata
    rows = idx
    if interlace:
        order = np.concatenate(
            [np.arange(s, h, step)
             for s, step in ((0, 8), (4, 8), (2, 4), (1, 2))]
        )
        rows = idx[order]
    mcs = max(2, lbits if lbits is not None else gbits)
    out.append(mcs)
    data = _gif_lzw_encode(rows.reshape(-1).tolist(), mcs)
    for i in range(0, len(data), 255):
        block = data[i : i + 255]
        out += bytes([len(block)]) + block
    out += b"\x00\x3b"
    return bytes(out)


def test_gif_decode_bit_exact():
    # 40x40 random 16-color frame: enough emitted codes to widen the LZW
    # width several steps past min_code_size+1, decoded bit-exactly
    import numpy as np

    from lakota_spark.operators.multimodal import _parse_gif

    rng = np.random.default_rng(17)
    palette = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, size=(40, 40), dtype=np.uint8)
    got = _parse_gif(_encode_gif(idx, palette))
    assert got is not None and got.shape == (40, 40, 3)
    assert np.array_equal(got, palette[idx])


def test_gif_decode_interlace_offsets_local_table():
    import numpy as np

    from lakota_spark.operators.multimodal import _parse_gif, _safe

    rng = np.random.default_rng(23)
    decoy = rng.integers(0, 256, size=(4, 3), dtype=np.uint8)
    local = rng.integers(0, 256, size=(8, 3), dtype=np.uint8)
    idx = rng.integers(0, 8, size=(13, 7), dtype=np.uint8)
    # interlaced frame at (3,2) inside a 12x20 screen, bg color 1 from
    # the GLOBAL table, pixels through the LOCAL table
    gif = _encode_gif(
        idx, decoy, interlace=True, left=3, top=2, screen=(12, 20),
        bg=1, local_palette=local,
    )
    got = _parse_gif(gif)
    assert got is not None and got.shape == (20, 12, 3)
    want = np.zeros((20, 12, 3), dtype=np.uint8)
    want[:] = decoy[1]
    want[2:15, 3:10] = local[idx]
    assert np.array_equal(got, want)
    # truncated payload -> safe fallback (None), not an exception
    assert _safe(_parse_gif, gif[: len(gif) // 2]) is None
    # a stream whose codes run ahead of the table is rejected (the 0x0
    # screen now trips the _check_dims guard, so go through _safe like
    # every production call site does)
    assert _safe(_parse_gif, b"GIF89a" + b"\x00" * 20) is None


def test_gif_features_through_spark(spark):
    import numpy as np
    import pytest

    from lakota_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        _image_features,
        extract_features,
    )

    rng = np.random.default_rng(29)
    palette = rng.integers(0, 256, size=(32, 3), dtype=np.uint8)
    idx = rng.integers(0, 32, size=(9, 11), dtype=np.uint8)
    gif = _encode_gif(idx, palette)
    rows = [(1, bytearray(gif), "image/gif", len(gif), "{}")]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.media_id: r.feature for r in extract_features(media).collect()}
    want = _image_features(palette[idx])
    assert len(feats[1]) == 13  # real decode, not the 8-float fallback
    assert feats[1] == pytest.approx(want)


def test_keep_best_per_cluster_string_ids(spark):
    # the argmax folds as min(struct(-score, id)) so the smallest-id
    # tie-break works for STRING doc ids too (ADVICE r6: the old
    # max(struct(score, -id)) form failed on unary minus over strings)
    from lakota_spark.operators.dedup import keep_best_per_cluster

    clusters = spark.createDataFrame(
        [("docA", 1), ("docB", 1), ("docC", 1), ("docZ", 2)],
        "doc_id string, cluster_id int",
    )
    scores = spark.createDataFrame(
        [("docA", 0.5), ("docB", 0.9), ("docC", 0.9), ("docZ", 0.1)],
        "doc_id string, score double",
    )
    got = {
        r.cluster_id: r
        for r in keep_best_per_cluster(clusters, scores).collect()
    }
    assert got[1].kept_doc == "docB"  # max score, tie -> smallest id
    assert got[1].kept_score == 0.9
    assert got[1].n_members == 3 and got[1].n_dropped == 2
    assert got[2].kept_doc == "docZ"


def test_keep_best_per_cluster_null_scores_lose(spark):
    # struct comparison sorts a null field FIRST, so a naive
    # min(struct(-score, id)) would let the one UNSCORED member win its
    # cluster; the leading score-is-null flag must make it lose to any
    # scored member, and an all-null cluster reports kept_score NULL
    # with the min-id member
    from lakota_spark.operators.dedup import keep_best_per_cluster

    clusters = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 2), ("d", 2)],
        "doc_id string, cluster_id int",
    )
    scores = spark.createDataFrame(
        [("a", None), ("b", 0.2), ("c", None), ("d", None)],
        "doc_id string, score double",
    )
    got = {
        r.cluster_id: r
        for r in keep_best_per_cluster(clusters, scores).collect()
    }
    assert got[1].kept_doc == "b" and got[1].kept_score == 0.2
    assert got[2].kept_doc == "c" and got[2].kept_score is None


def test_span_flag_tracker_publish_race_retries(spark, tmp_path):
    # a lost publish race must RE-MERGE this batch's counts against the
    # newly-landed head, not drop them (ADVICE r6): simulate the race by
    # pre-landing a competing version between _batch_counts and publish
    from lakota_spark.operators.dedup import SpanFlagTracker

    t = SpanFlagTracker(spark, str(tmp_path / "flags"), tiers=((2, 3),))
    d1 = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d")], "doc_id long, text string"
    )
    t.fold(d1)
    # competing writer lands the NEXT version directly (same engine)
    racer = SpanFlagTracker(spark, str(tmp_path / "flags"), tiers=((2, 3),))
    orig_versions = t._versions

    raced = {"done": False}

    def versions_with_race():
        vs = orig_versions()
        if not raced["done"] and vs:
            raced["done"] = True
            racer.fold(
                spark.createDataFrame(
                    [(3, "a b e")], "doc_id long, text string"
                )
            )
        return vs

    t._versions = versions_with_race
    t.fold(
        spark.createDataFrame([(4, "a b f")], "doc_id long, text string")
    )
    t._versions = orig_versions
    # all four docs' "a b" shingles must be counted: 4 >= min_df=3
    counts = {
        (r.shingle, r.width): r.n_docs for r in t.counts().collect()
    }
    assert counts[("a b", 2)] == 4
    flags = {(r.shingle, r.width) for r in t.flags().collect()}
    assert ("a b", 2) in flags


def test_tracker_touched_bucket_only_rewrite(spark, tmp_path):
    # a fold rewrites ONLY the buckets its batch touches: an untouched
    # bucket's data dir is carried forward BY REFERENCE (same relative
    # path in the next manifest), never copied — the Delta-style layout
    # that bounds per-fold cost by the batch, not the relation
    from lakota_spark.operators.tracker import VersionedCountsTracker

    class T(VersionedCountsTracker):
        key_cols = ("k",)
        agg_col = "n"

        def _batch_counts(self, df):
            return df

    t = T(spark, str(tmp_path / "c"))
    rows = [(f"key-{i}", 1) for i in range(40)]
    t.fold(spark.createDataFrame(rows, "k string, n long"))
    man1 = t._manifest(t._versions()[-1])
    assert len(man1) > 1  # 40 keys spread over >1 of the 16 buckets
    # one-key batch touches exactly one bucket
    t.fold(spark.createDataFrame([("key-0", 5)], "k string, n long"))
    man2 = t._manifest(t._versions()[-1])
    changed = {b for b in man1 if man2[b] != man1[b]}
    assert len(changed) == 1, changed
    carried = {b for b in man1 if man2[b] == man1[b]}
    assert carried  # untouched buckets reference the SAME dirs
    got = {r.k: r.n for r in t.counts().collect()}
    assert got["key-0"] == 6 and got["key-1"] == 1 and len(got) == 40


def test_tracker_gc_bounds_versions_and_dirs(spark, tmp_path):
    # old manifests and the bucket dirs only they reference are GC'd
    # after each publish: file count is bounded by n_buckets x
    # keep_versions, not by fold count
    import os

    from lakota_spark.operators.tracker import VersionedCountsTracker

    class T(VersionedCountsTracker):
        key_cols = ("k",)
        agg_col = "n"

        def _batch_counts(self, df):
            return df

    t = T(spark, str(tmp_path / "c"))
    for i in range(6):
        t.fold(
            spark.createDataFrame([(f"key-{i}", 1)], "k string, n long")
        )
    vs = t._versions()
    assert vs == [5, 6], vs  # keep_versions=2
    # every bucket dir on disk is referenced by a kept manifest
    refs = set(t._manifest(5).values()) | set(t._manifest(6).values())
    on_disk = {
        f"{d}/{tag}"
        for d in os.listdir(t.path)
        if d.startswith("b")
        for tag in os.listdir(f"{t.path}/{d}")
    }
    assert on_disk == refs, (on_disk, refs)
    got = {r.k: r.n for r in t.counts().collect()}
    assert len(got) == 6 and all(v == 1 for v in got.values())


def _jpeg_q_tables():
    """Annex-K luma/chroma quantization tables — ONE copy shared by the
    sequential and progressive test encoders so their quantized
    coefficients (and the bit-exact cross-encoder tests) can't drift."""
    import numpy as np

    QL = np.array([
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ]).reshape(8, 8)
    QC = np.array([
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ]).reshape(8, 8)
    return QL, QC


def _jpeg_canonical(bits, vals):
    """symbol → (code, length) canonical huffman assignment (encoder
    side of the decoder's DHT walk)."""
    table, code, si = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[vals[si]] = (code, length)
            code += 1
            si += 1
        code <<= 1
    return table


def _jpeg_ycbcr_planes(img, subsample):
    """BT.601 RGB → (Y, Cb, Cr) float planes, optional 4:2:0 chroma."""
    import numpy as np

    h, w = img.shape[:2]
    f = img.astype(np.float64)
    y = 0.299 * f[..., 0] + 0.587 * f[..., 1] + 0.114 * f[..., 2]
    cb = (128.0 - 0.168736 * f[..., 0] - 0.331264 * f[..., 1]
          + 0.5 * f[..., 2])
    cr = (128.0 + 0.5 * f[..., 0] - 0.418688 * f[..., 1]
          - 0.081312 * f[..., 2])
    if subsample:
        cb = cb.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
        cr = cr.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
    return y, cb, cr


def _encode_jpeg(img, subsample=False):
    """Minimal baseline JPEG encoder for the golden tests: forward DCT +
    Annex-K tables + canonical huffman, independent of the decoder
    (shares only the spec constants), so decode(encode(x)) pins the
    decoder within quantization tolerance. ``subsample=True`` emits
    4:2:0 (dims must be multiples of 16)."""
    import numpy as np

    from lakota_spark.operators.multimodal import _JPEG_ZZ, _jpeg_idct_mat

    QL, QC = _jpeg_q_tables()
    DC_L = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
            list(range(12)))
    DC_C = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
            list(range(12)))
    AC_L = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ])
    AC_C = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ])

    enc_dc = {0: _jpeg_canonical(*DC_L), 1: _jpeg_canonical(*DC_C)}
    enc_ac = {0: _jpeg_canonical(*AC_L), 1: _jpeg_canonical(*AC_C)}
    T = _jpeg_idct_mat()  # DCT-II forward: T @ block @ T.T

    out = bytearray(b"\xff\xd8")

    def seg(marker, payload):
        out.extend(bytes([0xFF, marker]))
        out.extend((len(payload) + 2).to_bytes(2, "big"))
        out.extend(payload)

    for tq, q in ((0, QL), (1, QC)):
        zz = bytes(int(q.reshape(-1)[_JPEG_ZZ[k]]) for k in range(64))
        seg(0xDB, bytes([tq]) + zz)
    h, w = img.shape[:2]
    samp = (2, 2) if subsample else (1, 1)
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof += bytes([3])
    sof += bytes([1, (samp[0] << 4) | samp[1], 0])
    sof += bytes([2, 0x11, 1])
    sof += bytes([3, 0x11, 1])
    seg(0xC0, sof)
    for (tc, th), (bits, vals) in (
        ((0, 0), DC_L), ((0, 1), DC_C), ((1, 0), AC_L), ((1, 1), AC_C)
    ):
        seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))
    seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))

    # color convert + plane split
    y, cb, cr = _jpeg_ycbcr_planes(img, subsample)

    bitbuf = []

    def put(code, length):
        for i in range(length - 1, -1, -1):
            bitbuf.append((code >> i) & 1)

    def put_val(v):
        # DC/AC magnitude encode: size category + offset bits
        s = 0 if v == 0 else max(v, -v).bit_length()
        if v < 0:
            v = v + (1 << s) - 1
        return s, v

    def encode_block(block, q, dc_t, ac_t, pred):
        coef = np.round((T @ (block - 128.0) @ T.T) / q).astype(int)
        zz = [int(coef.reshape(-1)[_JPEG_ZZ[k]]) for k in range(64)]
        s, v = put_val(zz[0] - pred)
        c, ln = enc_dc[dc_t][s]
        put(c, ln)
        put(v, s)
        run = 0
        last_nz = max((k for k in range(1, 64) if zz[k]), default=0)
        for k in range(1, last_nz + 1):
            if zz[k] == 0:
                run += 1
                continue
            while run > 15:
                c, ln = enc_ac[ac_t][0xF0]
                put(c, ln)
                run -= 16
            s, v = put_val(zz[k])
            c, ln = enc_ac[ac_t][(run << 4) | s]
            put(c, ln)
            put(v, s)
            run = 0
        if last_nz < 63:
            c, ln = enc_ac[ac_t][0x00]
            put(c, ln)
        return zz[0]

    mh, mw = 8 * samp[1], 8 * samp[0]
    preds = [0, 0, 0]
    for my in range(h // mh):
        for mx in range(w // mw):
            for by in range(samp[1]):
                for bx in range(samp[0]):
                    y0, x0 = my * mh + by * 8, mx * mw + bx * 8
                    preds[0] = encode_block(
                        y[y0 : y0 + 8, x0 : x0 + 8], QL, 0, 0, preds[0]
                    )
            cy, cx = my * 8, mx * 8
            preds[1] = encode_block(
                cb[cy : cy + 8, cx : cx + 8], QC, 1, 1, preds[1]
            )
            preds[2] = encode_block(
                cr[cy : cy + 8, cx : cx + 8], QC, 1, 1, preds[2]
            )
    while len(bitbuf) % 8:
        bitbuf.append(1)  # pad with 1s
    for i in range(0, len(bitbuf), 8):
        byte = 0
        for bit in bitbuf[i : i + 8]:
            byte = (byte << 1) | bit
        out.append(byte)
        if byte == 0xFF:
            out.append(0x00)  # stuffing
    out.extend(b"\xff\xd9")
    return bytes(out)


def test_jpeg_decode_444_roundtrip():
    # smooth gradient content quantizes gently: decode(encode(x)) must
    # track the source within a tight tolerance
    import numpy as np

    from lakota_spark.operators.multimodal import _parse_jpeg

    h, w = 24, 32
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [
            (xx * 255 / (w - 1)),
            (yy * 255 / (h - 1)),
            ((xx + yy) * 255 / (w + h - 2)),
        ],
        axis=2,
    ).astype(np.uint8)
    got = _parse_jpeg(_encode_jpeg(img))
    assert got is not None and got.shape == img.shape
    err = np.abs(got.astype(int) - img.astype(int)).mean()
    assert err < 6.0, f"mean abs err {err}"


def test_jpeg_decode_420_and_textured():
    import numpy as np

    from lakota_spark.operators.multimodal import _parse_jpeg

    rng = np.random.default_rng(13)
    # blocky random content (16px tiles -> survives quantization)
    tiles = rng.integers(0, 256, size=(2, 3, 3), dtype=np.uint8)
    img = np.repeat(np.repeat(tiles, 16, axis=0), 16, axis=1)
    got = _parse_jpeg(_encode_jpeg(img, subsample=True))
    assert got is not None and got.shape == img.shape
    err = np.abs(got.astype(int) - img.astype(int)).mean()
    assert err < 8.0, f"mean abs err {err}"
    # truncated payload: safe fallback, no exception
    from lakota_spark.operators.multimodal import _safe

    full = _encode_jpeg(img)
    truncated = full[: len(full) // 2]
    # may decode partially (garbage pixels) or fail; must never raise
    _safe(_parse_jpeg, truncated)


def test_decoders_survive_hostile_headers():
    """Crafted/corrupt payloads must degrade to None through _safe — a
    corpus cleaner over crawled data cannot let one file kill a stage or
    OOM an executor via header-declared allocations."""
    import zlib

    import numpy as np

    from lakota_spark.operators.multimodal import (
        _parse_gif,
        _parse_jpeg,
        _parse_png,
        _safe,
    )

    # JPEG referencing a quant table never defined in any DQT: the
    # qt[tq] lookup raises KeyError, which _safe must swallow.
    def seg(marker, payload):
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(
            2, "big"
        ) + payload

    dqt0 = seg(0xDB, b"\x00" + bytes(range(1, 65)))
    sof_bad_tq = seg(0xC0, b"\x08\x00\x08\x00\x08\x01" + b"\x01\x11\x05")
    dht = seg(0xC4, b"\x00" + b"\x01" + b"\x00" * 15 + b"\x00")
    sos = seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")
    bad_jpeg = b"\xff\xd8" + dqt0 + sof_bad_tq + dht + sos + b"\x00\xff\xd9"
    assert _safe(_parse_jpeg, bad_jpeg) is None

    # SOS naming a component id absent from SOF: dc_h[cid] KeyError.
    sof_ok = seg(0xC0, b"\x08\x00\x08\x00\x08\x01" + b"\x01\x11\x00")
    sos_bad_cid = seg(0xDA, b"\x01\x07\x00\x00\x3f\x00")
    bad_jpeg2 = (
        b"\xff\xd8" + dqt0 + sof_ok + dht + sos_bad_cid + b"\x00\xff\xd9"
    )
    assert _safe(_parse_jpeg, bad_jpeg2) is None

    # 13-byte GIF claiming a 65535x65535 screen: must NOT allocate the
    # 12.9 GB canvas.
    huge_gif = b"GIF89a" + b"\xff\xff\xff\xff" + b"\x00\x00\x00"
    assert _safe(_parse_gif, huge_gif) is None

    # JPEG claiming 65535x65535: must NOT allocate ~34 GB of planes.
    sof_huge = seg(0xC0, b"\x08\xff\xff\xff\xff\x01" + b"\x01\x11\x00")
    huge_jpeg = b"\xff\xd8" + dqt0 + sof_huge + dht + sos + b"\x00\xff\xd9"
    assert _safe(_parse_jpeg, huge_jpeg) is None

    # PNG zlib bomb: tiny IDAT inflating to ~1 GB with a huge declared
    # height; bounded decompress caps the inflate at the canvas size,
    # and the canvas itself is capped by _check_dims.
    def chunk(ctype, data):
        c = ctype + data
        return (
            len(data).to_bytes(4, "big")
            + c
            + zlib.crc32(c).to_bytes(4, "big")
        )

    ihdr = chunk(
        b"IHDR",
        (1 << 16).to_bytes(4, "big")  # width 65536
        + (1 << 16).to_bytes(4, "big")  # height 65536
        + bytes([8, 2, 0, 0, 0]),
    )
    bomb = chunk(b"IDAT", zlib.compress(bytes(10_000_000), 9))
    png_bomb = (
        b"\x89PNG\r\n\x1a\n" + ihdr + bomb + chunk(b"IEND", b"")
    )
    assert _safe(_parse_png, png_bomb) is None

    # sanity: the caps must not reject a real (small) image — regression
    # guard that _check_dims sits on the hostile path only.
    img = np.full((4, 4, 3), 128, dtype=np.uint8)
    assert _safe(_parse_png, _encode_png(img, 2, filters=[0, 0, 0, 0])) is not None


def test_ccnet_buckets_scalable_close_to_exact_and_windowless(spark):
    # the two-pass percentile form must (a) carry NO window in its plan
    # (that is its whole point - the exact ntile funnels each lang
    # through one task) and (b) land within a couple of docs per bucket
    # of the exact split on real data
    from lakota_spark.operators.text import (
        ccnet_buckets_scalable,
        unigram_lm_scores,
    )
    from lakota_spark.sources import read_parquet
    from pyspark.sql import Window

    docs = read_parquet(
        spark, "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text", "lang")
    scored = unigram_lm_scores(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    ).localCheckpoint(eager=False)

    approx = ccnet_buckets_scalable(scored)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan

    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logprob").desc(), "doc_id"
    )
    exact = (
        scored.withColumn("bucket", F.ntile(3).over(w).cast("long"))
        .groupBy("lang", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    got = {(r.lang, r.bucket): r.n_docs for r in approx.collect()}
    want = {(r.lang, r.bucket): r.n_docs for r in exact.collect()}
    assert set(got) == set(want)
    # same totals per lang; per-bucket within +-2 of the exact thirds
    for k in want:
        assert abs(got[k] - want[k]) <= 2, (k, got[k], want[k])


class _FlacWriter:
    """Minimal FLAC encoder for the golden tests — independent of the
    decoder (shares only spec constants): STREAMINFO + frames with
    CONSTANT/VERBATIM/FIXED subframes, single-partition Rice residuals,
    optional mid/side stereo, real CRC-8/16."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def w(self, v, n):
        self.acc = (self.acc << n) | (v & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def align(self):
        if self.nbits:
            self.w(0, 8 - self.nbits)


def _crc8(data):
    c = 0
    for byte in data:
        c ^= byte
        for _ in range(8):
            c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
    return c


def _crc16(data):
    c = 0
    for byte in data:
        c ^= byte << 8
        for _ in range(8):
            c = (
                ((c << 1) ^ 0x8005) & 0xFFFF
                if c & 0x8000
                else (c << 1) & 0xFFFF
            )
    return c


def _flac_write_subframe(bw, samples, bps, kind):
    bw.w(0, 1)
    if kind == "verbatim":
        bw.w(1, 6)
        bw.w(0, 1)
        for s in samples:
            bw.w(s, bps)
        return
    if kind == "constant":
        bw.w(0, 6)
        bw.w(0, 1)
        bw.w(samples[0], bps)
        return
    order = int(kind[-1])  # "fixed0".."fixed2"
    bw.w(8 + order, 6)
    bw.w(0, 1)
    for s in samples[:order]:
        bw.w(s, bps)
    coefs = {0: [], 1: [1], 2: [2, -1]}[order]
    resid = [
        samples[i] - sum(c * samples[i - j - 1] for j, c in enumerate(coefs))
        for i in range(order, len(samples))
    ]
    bw.w(0, 2)  # 4-bit rice method
    bw.w(0, 4)  # partition order 0
    param = 6
    bw.w(param, 4)
    for r in resid:
        u = (r << 1) ^ (r >> 63) if r >= 0 else ((-r) << 1) - 1
        q = u >> param
        for _ in range(q):
            bw.w(0, 1)
        bw.w(1, 1)
        bw.w(u, param)


def _encode_flac(channels, rate=8000, bps=16, frame_plan=None):
    """channels: list of equal-length int sample lists. frame_plan:
    list of (n_samples, subframe_kind, channel_mode)."""
    import numpy as np

    n_total = len(channels[0])
    out = bytearray(b"fLaC")
    si = bytearray()
    si += (192).to_bytes(2, "big") * 2          # min/max block size
    si += (0).to_bytes(3, "big") * 2            # min/max frame size
    si.append((rate >> 12) & 0xFF)
    si.append((rate >> 4) & 0xFF)
    si.append(
        ((rate & 0xF) << 4)
        | ((len(channels) - 1) << 1)
        | ((bps - 1) >> 4)
    )
    si.append((((bps - 1) & 0xF) << 4) | ((n_total >> 32) & 0xF))
    si += (n_total & 0xFFFFFFFF).to_bytes(4, "big")
    si += bytes(16)  # md5 unset
    out.append(0x80)  # last metadata block, STREAMINFO
    out += len(si).to_bytes(3, "big")
    out += si

    pos = 0
    for fi, (n, kind, mode) in enumerate(frame_plan):
        bw = _FlacWriter()
        bw.w(0b11111111111110, 14)
        bw.w(0, 1)  # reserved
        bw.w(0, 1)  # fixed blocksize strategy
        bw.w(6, 4)  # blocksize: 8-bit value follows
        bw.w(0, 4)  # sample rate: from streaminfo
        ch_code = {
            "independent": len(channels) - 1,
            "left_side": 8,
            "mid_side": 10,
        }[mode]
        bw.w(ch_code, 4)
        bw.w(0, 3)  # sample size: from streaminfo
        bw.w(0, 1)
        assert fi < 128
        bw.w(fi, 8)  # utf8 frame number (single byte)
        bw.w(n - 1, 8)  # 8-bit blocksize-1
        bw.w(_crc8(bytes(bw.out)), 8)
        sl = [ch[pos : pos + n] for ch in channels]
        if mode == "independent":
            for ch in sl:
                _flac_write_subframe(bw, ch, bps, kind)
        elif mode == "left_side":
            side = [l - r for l, r in zip(sl[0], sl[1])]
            _flac_write_subframe(bw, sl[0], bps, kind)
            _flac_write_subframe(bw, side, bps + 1, kind)
        else:  # mid_side
            mid = [(l + r) >> 1 for l, r in zip(sl[0], sl[1])]
            side = [l - r for l, r in zip(sl[0], sl[1])]
            _flac_write_subframe(bw, mid, bps, kind)
            _flac_write_subframe(bw, side, bps + 1, kind)
        bw.align()
        bw.w(_crc16(bytes(bw.out)), 16)
        out += bw.out
        pos += n
    return bytes(out)


def test_flac_decode_bit_exact_mono():
    import numpy as np

    from lakota_spark.operators.multimodal import _parse_flac

    rng = np.random.default_rng(5)
    t = np.arange(192 * 3)
    sig = (
        3000 * np.sin(2 * np.pi * 440 * t / 8000)
        + rng.integers(-50, 50, len(t))
    ).astype(np.int64)
    samples = [int(v) for v in sig]
    blob = _encode_flac(
        [samples],
        frame_plan=[
            (192, "fixed2", "independent"),
            (192, "verbatim", "independent"),
            (192, "fixed1", "independent"),
        ],
    )
    got = _parse_flac(blob)
    assert got is not None
    x, rate = got
    assert rate == 8000
    want = sig.astype(np.float64) / 32768.0
    assert len(x) == len(want)
    assert np.array_equal(x, want)  # lossless: bit-exact


def test_flac_decode_stereo_decorrelation():
    import numpy as np

    from lakota_spark.operators.multimodal import _parse_flac

    rng = np.random.default_rng(9)
    n = 192 * 3
    left = rng.integers(-4000, 4000, n).astype(np.int64)
    right = (left // 2 + rng.integers(-100, 100, n)).astype(np.int64)
    blob = _encode_flac(
        [[int(v) for v in left], [int(v) for v in right]],
        frame_plan=[
            (192, "verbatim", "independent"),
            (192, "verbatim", "left_side"),
            (192, "verbatim", "mid_side"),
        ],
    )
    got = _parse_flac(blob)
    assert got is not None
    x, rate = got
    want = (left + right).astype(np.float64) / 2.0 / 32768.0
    assert np.array_equal(x, want)


def test_flac_features_through_spark(spark):
    import numpy as np

    from lakota_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        _audio_features,
        _parse_flac,
        extract_audio_features,
    )

    t = np.arange(192 * 2)
    sig = (2000 * np.sin(2 * np.pi * 220 * t / 8000)).astype(np.int64)
    blob = _encode_flac(
        [[int(v) for v in sig]],
        frame_plan=[
            (192, "fixed2", "independent"),
            (192, "fixed2", "independent"),
        ],
    )
    rows = [(1, bytearray(blob), "audio/flac", len(blob), "{}")]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {
        r.media_id: r.feature
        for r in extract_audio_features(media).collect()
    }
    import pytest

    want = _audio_features(*_parse_flac(blob))
    assert len(feats[1]) == 4  # real decode, not the 8-float fallback
    assert feats[1] == pytest.approx(want)


def _mk_mp3(frames_kbps, rate=44100, mode=0, id3=False):
    """Synthesize a framed MPEG-1 Layer III byte stream: valid 4-byte
    headers + zeroed payloads, one frame per requested bitrate (CBR =
    same kbps repeated; VBR = mixed). mode 0=stereo, 3=mono."""
    kbps_table = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]
    rate_idx = {44100: 0, 48000: 1, 32000: 2}[rate]
    out = bytearray()
    if id3:
        body = b"\x00" * 17
        out += b"ID3\x04\x00\x00" + bytes(
            [(len(body) >> 21) & 0x7F, (len(body) >> 14) & 0x7F,
             (len(body) >> 7) & 0x7F, len(body) & 0x7F]
        ) + body
    for kbps in frames_kbps:
        br_idx = kbps_table.index(kbps)
        h = (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16)
        h |= (br_idx << 12) | (rate_idx << 10) | (mode << 6)
        flen = 144 * kbps * 1000 // rate
        out += h.to_bytes(4, "big") + b"\x00" * (flen - 4)
    return bytes(out)


def test_mp3_frame_header_features_golden():
    # r7 ask #8: exact duration/bitrate/rate/channels from the frame
    # headers alone — 3 CBR frames at 128 kbps / 44.1 kHz stereo are
    # 3*1152 samples = 78.367ms
    from lakota_spark.operators.multimodal import _parse_mp3_headers

    cbr = _mk_mp3([128, 128, 128])
    dur, kbps, rate, ch, n, vbr = _parse_mp3_headers(cbr)
    assert n == 3 and rate == 44100.0 and ch == 2.0 and vbr == 0.0
    assert kbps == 128.0
    assert abs(dur - 3 * 1152 / 44100.0) < 1e-9
    # VBR + ID3v2 prefix + mono
    vbr_blob = _mk_mp3([64, 128, 192, 128], rate=32000, mode=3, id3=True)
    dur2, kbps2, rate2, ch2, n2, vbr2 = _parse_mp3_headers(vbr_blob)
    assert (n2, rate2, ch2, vbr2) == (4.0, 32000.0, 1.0, 1.0)
    assert kbps2 == 128.0
    assert abs(dur2 - 4 * 1152 / 32000.0) < 1e-9
    # non-MPEG bytes fall through (None -> byte-histogram fallback)
    assert _parse_mp3_headers(b"\x00" * 64) is None
    assert _parse_mp3_headers(b"\xff\xfb" + b"\x00" * 16) is None  # 1 frame


def test_mp3_features_through_spark(spark):
    from lakota_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_audio_features,
    )

    blob = _mk_mp3([128] * 5)
    rows = [
        (1, bytearray(blob), "audio/mpeg", len(blob), "{}"),
        (2, bytearray(b"\x01\x02" * 100), "audio/aac", 200, "{}"),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {
        r.media_id: r.feature
        for r in extract_audio_features(media).collect()
    }
    assert len(feats[1]) == 6  # header walk, not the 8-float fallback
    assert feats[1][2] == 44100.0 and feats[1][4] == 5.0
    assert len(feats[2]) == 8  # non-framed bytes keep the fallback


def _mk_adts(frame_lens, sr_idx=4, ch_cfg=2, crc=False, id3=False,
             n_blocks=1):
    """Synthesize an AAC ADTS stream: one valid 7/9-byte header per
    requested frame length (length INCLUDES the header) + zeroed
    payload — an independent test-side encoder for the header walk."""
    out = bytearray()
    if id3:
        body = b"\x00" * 9
        out += b"ID3\x04\x00\x00" + bytes(
            [(len(body) >> 21) & 0x7F, (len(body) >> 14) & 0x7F,
             (len(body) >> 7) & 0x7F, len(body) & 0x7F]
        ) + body
    for flen in frame_lens:
        hdr_len = 9 if crc else 7
        assert flen >= hdr_len
        b1 = 0xF0 | (0 << 3) | (0 << 1) | (0 if crc else 1)
        b2 = (1 << 6) | (sr_idx << 2) | ((ch_cfg >> 2) & 1)  # profile=LC
        b3 = ((ch_cfg & 3) << 6) | ((flen >> 11) & 3)
        b4 = (flen >> 3) & 0xFF
        b5 = ((flen & 7) << 5) | 0x1F
        b6 = (0x3F << 2) | (n_blocks - 1)
        frame = bytes([0xFF, b1, b2, b3, b4, b5, b6])
        if crc:
            frame += b"\x00\x00"
        out += frame + b"\x00" * (flen - len(frame))
    return bytes(out)


def test_adts_frame_header_features_golden():
    # 3 CBR frames at 44.1 kHz stereo: 3*1024 samples; per-frame kbps =
    # flen*8*rate/(1024*1000)
    from lakota_spark.operators.multimodal import _parse_adts_headers

    cbr = _mk_adts([384, 384, 384])
    dur, kbps, rate, ch, n, vbr = _parse_adts_headers(cbr)
    assert (n, rate, ch, vbr) == (3.0, 44100.0, 2.0, 0.0)
    assert abs(dur - 3 * 1024 / 44100.0) < 1e-9
    assert abs(kbps - 384 * 8 * 44100 / (1024 * 1000.0)) < 1e-9
    # VBR + ID3 prefix + CRC headers + mono + 16 kHz + 2 blocks/frame
    vbr_blob = _mk_adts([200, 300, 400], sr_idx=8, ch_cfg=1, crc=True,
                        id3=True, n_blocks=2)
    dur2, kbps2, rate2, ch2, n2, vbr2 = _parse_adts_headers(vbr_blob)
    assert (n2, rate2, ch2, vbr2) == (3.0, 16000.0, 1.0, 1.0)
    assert abs(dur2 - 6 * 1024 / 16000.0) < 1e-9
    # 7.1 channel_configuration=7 reports 8 channels
    eight = _mk_adts([256, 256], ch_cfg=7)
    assert _parse_adts_headers(eight)[3] == 8.0
    # rejections: random bytes; 1 frame; sync inside padding (<90% walk)
    assert _parse_adts_headers(b"\x00" * 64) is None
    assert _parse_adts_headers(_mk_adts([256])) is None
    assert _parse_adts_headers(_mk_adts([64, 64]) + b"\x00" * 4096) is None


def test_adts_features_through_spark(spark):
    from lakota_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_audio_features,
    )

    blob = _mk_adts([384] * 4)
    media = spark.createDataFrame(
        [(1, bytearray(blob), "audio/aac", len(blob), "{}")], MEDIA_SCHEMA
    )
    feat = extract_audio_features(media).collect()[0].feature
    assert len(feat) == 6 and feat[2] == 44100.0 and feat[4] == 4.0


class _BitWriter:
    """Independent MSB-first bit writer for hand-encoding SPS fixtures
    (test-side twin of the parser's bit reader)."""

    def __init__(self):
        self.bits = []

    def u(self, val, n):
        self.bits += [(val >> (n - 1 - i)) & 1 for i in range(n)]

    def ue(self, val):
        k = val + 1
        nbits = k.bit_length()
        self.u(0, nbits - 1)
        self.u(k, nbits)

    def se(self, val):
        self.ue(2 * val - 1 if val > 0 else -2 * val)

    def rbsp(self):
        bits = self.bits + [1]  # rbsp_stop_one_bit
        while len(bits) % 8:
            bits.append(0)
        out = bytearray()
        for i in range(0, len(bits), 8):
            byte = 0
            for bit in bits[i : i + 8]:
                byte = (byte << 1) | bit
            out.append(byte)
        return bytes(out)


def _mk_sps(profile=66, level=31, w_mbs=80, h_units=45, crop=None,
            poc_type=0, chroma=None):
    """Hand-encode a seq_parameter_set RBSP (baseline or high profile)."""
    bw = _BitWriter()
    bw.u(profile, 8)
    bw.u(0, 8)  # constraint flags
    bw.u(level, 8)
    bw.ue(0)  # sps id
    if profile in (100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139,
                   134, 135):
        bw.ue(1 if chroma is None else chroma)
        bw.ue(0)  # bit_depth_luma_minus8
        bw.ue(0)  # bit_depth_chroma_minus8
        bw.u(0, 1)  # qpprime
        bw.u(0, 1)  # no scaling matrix
    bw.ue(0)  # log2_max_frame_num_minus4
    bw.ue(poc_type)
    if poc_type == 0:
        bw.ue(0)
    elif poc_type == 1:
        bw.u(0, 1)
        bw.se(0)
        bw.se(0)
        bw.ue(2)
        bw.se(1)
        bw.se(-1)
    bw.ue(1)  # max_num_ref_frames
    bw.u(0, 1)  # gaps allowed
    bw.ue(w_mbs - 1)
    bw.ue(h_units - 1)
    bw.u(1, 1)  # frame_mbs_only
    bw.u(1, 1)  # direct_8x8
    if crop:
        bw.u(1, 1)
        for c in crop:
            bw.ue(c)
    else:
        bw.u(0, 1)
    return bw.rbsp()


def _ep_escape(raw: bytes) -> bytes:
    """Spec-required emulation-prevention escape (00 00 [0-3] -> insert
    03) — test-side twin of the parser's _h264_rbsp unescape."""
    esc = bytearray()
    zeros = 0
    for byte in raw:
        if zeros >= 2 and byte <= 3:
            esc.append(3)
            zeros = 0
        esc.append(byte)
        zeros = zeros + 1 if byte == 0 else 0
    return bytes(esc)


def _annexb(*nals):
    """Join NAL units with alternating 4-/3-byte start codes."""
    out = bytearray()
    for i, nal in enumerate(nals):
        out += (b"\x00\x00\x00\x01" if i % 2 == 0 else b"\x00\x00\x01")
        out += nal
    return bytes(out)


def test_h264_sps_header_walk_golden():
    from lakota_spark.operators.multimodal import _parse_h264_headers

    # Baseline 1280x720 (80x45 MBs), level 3.1; 2 IDR-start + 3 P-slice
    # pictures; 0x88 slice byte = first_mb_in_slice==0
    sps = bytes([0x67]) + _mk_sps()
    idr = bytes([0x65, 0x88, 0x84, 0x21])
    p = bytes([0x41, 0x9A, 0x22, 0x11])
    blob = _annexb(sps, idr, p, p, bytes([0x65, 0x88]), p)
    w, h, prof, lvl, n_pics, n_idr = _parse_h264_headers(blob)
    assert (w, h, prof, lvl) == (1280.0, 720.0, 66.0, 3.1)
    assert (n_pics, n_idr) == (5.0, 2.0)
    # continuation slices (first_mb_in_slice>0: leading ue bit 0) are
    # NOT counted as pictures
    cont = bytes([0x41, 0x40, 0x22])
    w2, h2, _, _, n2, _ = _parse_h264_headers(_annexb(sps, idr, cont))
    assert (w2, h2, n2) == (1280.0, 720.0, 1.0)
    # High profile + 4:2:0 cropping: 1920x1080 = 120x68 MBs cropped by
    # 8 luma rows at the bottom (crop_bottom=4 in 2-sample chroma units)
    sps_high = bytes([0x67]) + _mk_sps(profile=100, level=40, w_mbs=120,
                                       h_units=68, crop=(0, 0, 0, 4))
    wh, hh, profh, lvlh, _, _ = _parse_h264_headers(
        _annexb(sps_high, idr)
    )
    assert (wh, hh, profh, lvlh) == (1920.0, 1080.0, 100.0, 4.0)
    # poc_type=1 branch parses through
    sps_poc1 = bytes([0x67]) + _mk_sps(poc_type=1)
    assert _parse_h264_headers(_annexb(sps_poc1, idr))[0] == 1280.0
    # emulation prevention: a crafted SPS containing 00 00 03 is
    # unescaped before bit parsing — build one by re-escaping
    raw = _mk_sps(w_mbs=4, h_units=4)
    assert _parse_h264_headers(
        _annexb(bytes([0x67]) + _ep_escape(raw), idr)
    )[0] == 64.0
    # rejections: random bytes; no SPS; forbidden bit set
    assert _parse_h264_headers(b"\x01\x02" * 100) is None
    assert _parse_h264_headers(_annexb(idr, p)) is None
    assert _parse_h264_headers(_annexb(bytes([0xE7]) + _mk_sps(), idr)) is None


def test_video_headers_through_spark(spark):
    from lakota_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_video_headers,
    )

    sps = bytes([0x67]) + _mk_sps()
    h264 = _annexb(sps, bytes([0x65, 0x88, 0x84]), bytes([0x41, 0x9A]))
    # 2-frame 4x4 Y4M: header walk reports dims + frame count
    y4m = b"YUV4MPEG2 W4 H4 F25:1 Ip A1:1 C420\n" + (
        b"FRAME\n" + b"\x80" * (16 + 2 * 4)
    ) * 2
    rows = [
        (1, bytearray(h264), "video/h264", len(h264), "{}"),
        (2, bytearray(y4m), "video/y4m", len(y4m), "{}"),
        (3, bytearray(b"\x07\x09" * 128), "video/mp4", 256, "{}"),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {
        r.media_id: r.feature
        for r in extract_video_headers(media).collect()
    }
    assert feats[1][:2] == [1280.0, 720.0] and feats[1][4] == 2.0
    assert feats[2] == [4.0, 4.0, 0.0, 0.0, 2.0, 2.0]
    assert len(feats[3]) == 8  # mp4 keeps the byte-histogram fallback


def test_adts_walk_differential_property():
    # differential property vs the independent test-side encoder: any
    # coherent (rate, channels, crc, blocks, frame-length list) stream
    # must parse back its exact duration/rate/channel/frame-count math
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from lakota_spark.operators.multimodal import (
        _ADTS_RATES,
        _parse_adts_headers,
    )

    @settings(max_examples=200, deadline=None)
    @given(
        sr_idx=st.integers(0, len(_ADTS_RATES) - 1),
        ch_cfg=st.integers(1, 7),
        crc=st.booleans(),
        id3=st.booleans(),
        n_blocks=st.integers(1, 4),
        flens=st.lists(st.integers(16, 600), min_size=2, max_size=12),
    )
    def check(sr_idx, ch_cfg, crc, id3, n_blocks, flens):
        blob = _mk_adts(flens, sr_idx=sr_idx, ch_cfg=ch_cfg, crc=crc,
                        id3=id3, n_blocks=n_blocks)
        dur, kbps, rate, ch, n, vbr = _parse_adts_headers(blob)
        rate_exp = _ADTS_RATES[sr_idx]
        spf = 1024 * n_blocks
        assert n == len(flens)
        assert rate == float(rate_exp)
        assert ch == (8.0 if ch_cfg == 7 else float(ch_cfg))
        assert abs(dur - len(flens) * spf / rate_exp) < 1e-9
        kbps_exp = [f * 8.0 * rate_exp / (spf * 1000.0) for f in flens]
        assert abs(kbps - sum(kbps_exp) / len(kbps_exp)) < 1e-9
        assert vbr == (1.0 if len(set(flens)) > 1 else 0.0)

    check()


def test_h264_sps_differential_property():
    # any SPS the test-side bit writer can express (profile class, crop,
    # poc branch, chroma format) must parse back the spec's exact
    # width/height arithmetic — including the chroma-dependent crop units
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from lakota_spark.operators.multimodal import _parse_h264_headers

    @settings(max_examples=200, deadline=None)
    @given(
        profile=st.sampled_from([66, 77, 100, 244]),
        level=st.sampled_from([10, 21, 31, 40, 51]),
        w_mbs=st.integers(1, 260),
        h_units=st.integers(1, 130),
        crop=st.one_of(
            st.none(),
            st.tuples(st.integers(0, 2), st.integers(0, 2),
                      st.integers(0, 2), st.integers(0, 2)),
        ),
        poc_type=st.sampled_from([0, 1, 2]),
        n_p_slices=st.integers(0, 4),
    )
    def check(profile, level, w_mbs, h_units, crop, poc_type, n_p_slices):
        # keep crop strictly inside the coded size
        if crop and (crop[0] + crop[1]) * 2 >= w_mbs * 16:
            crop = None
        if crop and (crop[2] + crop[3]) * 2 >= h_units * 16:
            crop = None
        sps = bytes([0x67]) + _ep_escape(
            _mk_sps(
                profile=profile, level=level, w_mbs=w_mbs,
                h_units=h_units, crop=crop, poc_type=poc_type,
            )
        )
        idr = bytes([0x65, 0x88, 0x13])
        p = bytes([0x41, 0x9A, 0x77])
        blob = _annexb(sps, idr, *([p] * n_p_slices))
        w, h, prof, lvl, n_pics, n_idr = _parse_h264_headers(blob)
        exp_w = w_mbs * 16 - (crop[0] + crop[1]) * 2 if crop else w_mbs * 16
        exp_h = (
            h_units * 16 - (crop[2] + crop[3]) * 2 if crop else h_units * 16
        )
        assert (w, h) == (float(exp_w), float(exp_h))
        assert (prof, lvl) == (float(profile), level / 10.0)
        assert (n_pics, n_idr) == (float(1 + n_p_slices), 1.0)

    check()


def test_header_walk_parsers_hostile_input_fuzz():
    # the decode stage must survive ANY payload: random bytes, truncated
    # real streams, and sync-word-prefixed garbage either parse or fall
    # through as None via _safe — nothing may raise an exception class
    # _safe doesn't catch (that would escape the Spark stage)
    import random

    import numpy as np

    from lakota_spark.operators.multimodal import (
        _parse_adts_headers,
        _parse_h264_headers,
        _parse_mp3_headers,
        _parse_mp4_headers,
        _parse_ogg_headers,
        _parse_tiff,
        _safe,
    )

    rng = random.Random(8)
    payloads = [b"", b"\x00", b"\xff" * 7]
    for _ in range(300):
        n = rng.randrange(0, 200)
        payloads.append(bytes(rng.randrange(256) for _ in range(n)))
    # adversarial prefixes: valid sync/start patterns + garbage tails
    for pre in (b"\xff\xf1", b"\xff\xfb", b"\x00\x00\x01\x67",
                b"\x00\x00\x01", b"ID3\x04\x00\x00\x7f\x7f\x7f\x7f",
                b"OggS\x00\x02", b"\x00\x00\x00\x18ftypisom",
                b"\x00\x00\x00\x01ftyp", b"\x00\x00\x00\x00moov",
                b"II*\x00\x08\x00\x00\x00", b"MM\x00*\x00\x00\x00\x08"):
        for _ in range(50):
            n = rng.randrange(0, 64)
            payloads.append(pre + bytes(rng.randrange(256) for _ in range(n)))
    # hand-built hostile TIFF: IFD0 whose width tag (256) has count=0 —
    # a naive walk stores an empty tuple and raises IndexError on
    # tags.get(256, (0,))[0]; the parser must skip zero-count tags
    payloads.append(
        b"II*\x00\x08\x00\x00\x00"          # header, IFD at 8
        + b"\x02\x00"                        # 2 tags
        + b"\x00\x01\x03\x00\x00\x00\x00\x00\x00\x00\x00\x00"  # 256 cnt=0
        + b"\x01\x01\x03\x00\x01\x00\x00\x00\x05\x00\x00\x00"  # 257 = 5
        + b"\x00\x00\x00\x00"                # next-IFD = 0
    )
    for b in payloads:
        for parser in (_parse_adts_headers, _parse_h264_headers,
                       _parse_mp3_headers, _parse_ogg_headers):
            out = _safe(parser, b)
            assert out is None or (
                isinstance(out, tuple) and len(out) == 6
            ), (parser.__name__, b[:16])
        out = _safe(_parse_mp4_headers, b)
        assert out is None or isinstance(out, dict), b[:16]
        tout = _safe(_parse_tiff, b)
        assert tout is None or isinstance(tout, np.ndarray), b[:16]
    # the zero-count-tag payload must be rejected by the IFD walk itself,
    # not rescued by _safe's IndexError net (raw call, no wrapper)
    assert _parse_tiff(payloads[-1]) is None


def test_leakage_safe_split_cluster_atomicity(spark):
    # the split unit is the CLUSTER: every member of a cluster lands on
    # the same side; docs absent from the cluster map are singletons
    # (cluster_id = own doc_id); assignment is deterministic and stable
    # under corpus growth (hash of cluster id, no RNG)
    from lakota_spark.operators.sampling import leakage_safe_split

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(1, 31)], "doc_id long, text string"
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id long, cluster_id long",
    )
    out = leakage_safe_split(docs, clusters, val_pct=30).collect()
    by_doc = {r.doc_id: r for r in out}
    assert len(by_doc) == 30
    # cluster members agree
    assert len({by_doc[i].split for i in (1, 2, 3)}) == 1
    assert len({by_doc[i].split for i in (10, 11)}) == 1
    assert {by_doc[i].cluster_id for i in (1, 2, 3)} == {1}
    # singletons carry their own id
    assert by_doc[20].cluster_id == 20
    # both sides populated at val_pct=30 over 27 effective clusters
    sides = {r.split for r in out}
    assert sides == {"train", "val"}
    # stability: the same clusters decide the same way on a grown corpus
    docs2 = spark.createDataFrame(
        [(i, f"text {i}") for i in range(1, 61)], "doc_id long, text string"
    )
    out2 = {
        r.doc_id: r.split
        for r in leakage_safe_split(docs2, clusters, val_pct=30).collect()
    }
    assert all(out2[d] == r.split for d, r in by_doc.items())
    import pytest as _pytest

    with _pytest.raises(ValueError):
        leakage_safe_split(docs, clusters, val_pct=0)


def test_contrastive_buckets_oracle_lockstep():
    # ADVICE r9: the oracle SQL derives n_buckets as
    # greatest(64, (count(*)+99999)//100000) — pin the python rule to the
    # exact SQL arithmetic so the two can never drift (the class of bug
    # _CORPUS_K_LIMIT fixed for kmeans). Sweep across the 6.4M boundary
    # where a fixed %64 used to silently diverge.
    import duckdb

    from lakota_spark.operators.sampling import contrastive_buckets

    con = duckdb.connect()
    for n in (0, 1, 63, 64, 6_399_999, 6_400_000, 6_400_001,
              10_000_000, 123_456_789):
        sql = con.execute(
            "SELECT greatest(64, (? + 99999) // 100000)", [n]
        ).fetchone()[0]
        assert contrastive_buckets(n) == sql, n


def test_contrastive_pairs_mining(spark):
    # positives pass through labeled 1; negatives are same-lang
    # hash-neighbors labeled 0, normalized (doc_a < doc_b), and NEVER
    # overlap the positive set even when the hash neighbor happens to
    # be a verified near-dup; deterministic across calls
    from lakota_spark.operators.sampling import contrastive_pairs

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 else "fr") for i in range(1, 21)],
        "doc_id long, lang string",
    )
    pairs = spark.createDataFrame(
        [(3, 7), (5, 11)], "doc_a long, doc_b long"
    )
    out = contrastive_pairs(docs, pairs, n_buckets=2).collect()
    pos = {(r.doc_a, r.doc_b) for r in out if r.label == 1}
    neg = {(r.doc_a, r.doc_b) for r in out if r.label == 0}
    assert pos == {(3, 7), (5, 11)}
    assert neg and not (pos & neg)
    lang = {r.doc_id: r.lang for r in docs.collect()}
    for a, b in neg:
        assert a < b and lang[a] == lang[b]
    out2 = contrastive_pairs(docs, pairs, n_buckets=2).collect()
    assert {(r.doc_a, r.doc_b, r.label) for r in out2} == {
        (r.doc_a, r.doc_b, r.label) for r in out
    }
    # the raw hash-neighbor set includes (3,7) — proven by re-mining
    # with run 1's negatives as the positive set: every old negative is
    # anti-joined away and the ex-positive resurfaces as the ONLY
    # remaining neighbor pair. So run 1 excluding (3,7) from its
    # negatives was the anti-join doing its job, not hash luck.
    all_neg = spark.createDataFrame(
        [(a, b) for a, b in neg], "doc_a long, doc_b long"
    )
    out3 = contrastive_pairs(docs, all_neg, n_buckets=2).collect()
    assert {(r.doc_a, r.doc_b) for r in out3 if r.label == 0} == {(3, 7)}


def test_ccnet_buckets_scalable_null_lang_and_score(spark):
    # lang=NULL docs (langid failures) must form their own stratum —
    # a plain equi-join on lang would silently drop them; NULL-score
    # docs land in bucket 3 (tail) rather than poisoning comparisons
    from lakota_spark.operators.text import ccnet_buckets_scalable

    scored = spark.createDataFrame(
        [
            ("a", "en", -1.0),
            ("b", "en", -2.0),
            ("c", "en", -3.0),
            ("d", None, -1.5),
            ("e", None, -2.5),
            ("f", "fr", None),  # lang with NO non-null scores
        ],
        "doc_id string, lang string, avg_logprob double",
    )
    rows = ccnet_buckets_scalable(scored).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, 0)
        by_lang[r.lang] += r.n_docs
    assert by_lang.get("en") == 3
    assert by_lang.get(None) == 2  # null-lang stratum retained
    assert by_lang.get("fr") == 1
    fr = [r for r in rows if r.lang == "fr"]
    assert fr[0].bucket == 3  # unscorable -> tail


def _wav_container(fmt: bytes, data: bytes) -> bytes:
    import struct

    return (
        b"RIFF"
        + struct.pack("<I", 20 + len(fmt) + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def test_wav_g711_and_float_decode():
    # µ-law / A-law companded WAV and IEEE-float WAV are REAL decodes:
    # round-trip through test-side G.711 encoders within companding
    # quantization error; float is exact
    import struct

    import numpy as np

    from lakota_spark.operators.multimodal import _parse_wav

    rate = 8000
    t = np.arange(rate // 4)
    x = (0.5 * np.sin(2 * np.pi * 440 * t / rate) * 32767).astype(np.int64)

    def ulaw_encode(pcm):
        out = bytearray()
        for s in pcm:
            sign = 0x80 if s < 0 else 0
            m = min(abs(int(s)), 32635) + 0x84
            exp = m.bit_length() - 8
            mant = (m >> (exp + 3)) & 0x0F
            out.append(~(sign | (exp << 4) | mant) & 0xFF)
        return bytes(out)

    def alaw_encode(pcm):
        out = bytearray()
        for s in pcm:
            sign = 0x80 if s >= 0 else 0  # A-law: bit7 set = positive
            m = min(abs(int(s)), 32767)
            if m >= 256:
                exp = m.bit_length() - 8
                mant = (m >> (exp + 3)) & 0x0F
            else:
                exp, mant = 0, m >> 4
            out.append((sign | (exp << 4) | mant) ^ 0x55)
        return bytes(out)

    for code, enc in ((7, ulaw_encode), (6, alaw_encode)):
        fmt = struct.pack("<HHIIHH", code, 1, rate, rate, 1, 8)
        got = _parse_wav(_wav_container(fmt, enc(x)))
        assert got is not None
        samples, r = got
        assert r == rate and len(samples) == len(x)
        err = np.abs(samples - x / 32768.0)
        assert err.max() < 0.04 and err.mean() < 0.004, (code, err.max())

    # G.711 silence bytes: µ-law 0xFF -> 0, A-law 0xD5 -> +8/32768
    fmt_u = struct.pack("<HHIIHH", 7, 1, rate, rate, 1, 8)
    s_u, _ = _parse_wav(_wav_container(fmt_u, b"\xff" * 8))
    assert np.all(s_u == 0.0)
    fmt_a = struct.pack("<HHIIHH", 6, 1, rate, rate, 1, 8)
    s_a, _ = _parse_wav(_wav_container(fmt_a, b"\xd5" * 8))
    assert np.all(s_a == 8.0 / 32768.0)

    # IEEE float32 stereo: exact, channel-averaged
    xf = (np.sin(2 * np.pi * 440 * t / rate) * 0.25).astype(np.float32)
    inter = np.empty(2 * len(xf), dtype=np.float32)
    inter[0::2] = xf
    inter[1::2] = -xf  # cancels to exactly zero on average
    fmt = struct.pack("<HHIIHH", 3, 2, rate, rate * 8, 8, 32)
    samples, r = _parse_wav(_wav_container(fmt, inter.tobytes()))
    assert r == rate and np.all(samples == 0.0)


def test_wav_ima_adpcm_bit_exact():
    # IMA ADPCM (format 0x11) — real COMPRESSED audio decode: the
    # decoder must reproduce the encoder's own reconstruction exactly
    # (both sides track the same predictor/step state)
    import struct

    import numpy as np

    from lakota_spark.operators.multimodal import (
        _IMA_INDEX,
        _IMA_STEPS,
        _parse_wav,
    )

    rate = 8000
    t = np.arange(1997)  # deliberately not a multiple of the block size
    x = (0.6 * np.sin(2 * np.pi * 233 * t / rate) * 32767).astype(np.int64)

    block_align = 256  # mono: 4-byte header + 252 bytes = 505 samples
    spb = (block_align - 4) * 2 + 1

    def encode(pcm):
        blocks, recon = [], []
        pred, idx = 0, 0
        for off in range(0, len(pcm), spb):
            chunk = pcm[off : off + spb]
            if len(chunk) < spb:  # pad the tail block like encoders do
                chunk = np.concatenate(
                    [chunk, np.full(spb - len(chunk), chunk[-1])]
                )
            pred = int(chunk[0])
            recon.append(pred)
            body = bytearray(struct.pack("<hBB", pred, idx, 0))
            nibbles = []
            for s in chunk[1:]:
                step = _IMA_STEPS[idx]
                diff = int(s) - pred
                n = 8 if diff < 0 else 0
                diff = abs(diff)
                d = step >> 3
                if diff >= step:
                    n |= 4
                    diff -= step
                    d += step
                if diff >= step >> 1:
                    n |= 2
                    diff -= step >> 1
                    d += step >> 1
                if diff >= step >> 2:
                    n |= 1
                    d += step >> 2
                pred = (
                    max(pred - d, -32768) if n & 8 else min(pred + d, 32767)
                )
                idx = min(max(idx + _IMA_INDEX[n], 0), 88)
                recon.append(pred)
                nibbles.append(n)
            for lo, hi in zip(nibbles[0::2], nibbles[1::2]):
                body.append(lo | (hi << 4))
            blocks.append(bytes(body))
        return b"".join(blocks), np.array(recon, dtype=np.float64)

    data, recon = encode(x)
    fmt = struct.pack("<HHIIHH", 0x11, 1, rate, rate // 2, block_align, 4)
    got = _parse_wav(_wav_container(fmt, data))
    assert got is not None
    samples, r = got
    assert r == rate
    assert np.array_equal(samples, recon / 32768.0)  # bit-exact
    # and the reconstruction is actually CLOSE to the source signal
    err = np.abs(recon[: len(x)] - x)
    assert err.mean() < 600  # ~4.6 bits of SNR headroom on a sine


def test_mjpeg_avi_frame_sample(spark):
    # Motion-JPEG AVI is a REAL compressed-video parse: sampled frames
    # are JPEG-decoded to BT.601 luma planes; only sampled frames pay a
    # decode, and the byte-window fallback never triggers
    import struct

    import numpy as np

    from lakota_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_video_features,
        frame_sample,
    )

    def chunk(cid, body):
        pad = b"\x00" if len(body) & 1 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    h, w = 16, 16
    frames = []
    for v in (16, 64, 128, 200, 240):
        img = np.full((h, w, 3), v, dtype=np.uint8)
        frames.append(_encode_jpeg(img))
    movi = b"movi" + b"".join(chunk(b"00dc", f) for f in frames)
    hdrl = b"hdrl" + chunk(b"avih", bytes(56))
    body = (
        b"AVI "
        + chunk(b"LIST", hdrl)
        + chunk(b"LIST", movi)
    )
    avi = b"RIFF" + struct.pack("<I", len(body)) + body

    media = spark.createDataFrame(
        [(1, bytearray(avi), "video/x-msvideo", len(avi), "{}")],
        MEDIA_SCHEMA,
    )
    out = {
        r.frame_no: bytes(r.frame)
        for r in frame_sample(media, every_n=2).collect()
    }
    assert sorted(out) == [0, 2, 4]  # every 2nd frame, real parse
    assert all(len(f) == h * w for f in out.values())  # luma planes
    feats = {
        r.frame_no: r
        for r in extract_video_features(media, every_n=2).collect()
    }
    # constant-gray frames: luma ~= the gray value, flat
    for no, v in ((0, 16), (2, 128), (4, 240)):
        assert abs(feats[no].mean_luma - v) < 4.0, (no, feats[no].mean_luma)
        assert feats[no].std_luma < 2.0
        assert feats[no].n_pixels == h * w

    # 'rec '-grouped layout (standard VfW interleaved capture): every
    # frame wrapped in a rec LIST must still yield IN FILE ORDER
    movi_rec = b"movi" + b"".join(
        chunk(b"LIST", b"rec " + chunk(b"00dc", f)) for f in frames
    )
    body2 = b"AVI " + chunk(b"LIST", hdrl) + chunk(b"LIST", movi_rec)
    avi2 = b"RIFF" + struct.pack("<I", len(body2)) + body2
    from lakota_spark.operators.multimodal import _iter_avi_mjpeg_frames

    got = list(_iter_avi_mjpeg_frames(avi2))
    assert [no for no, _ in got] == [0, 1, 2, 3, 4]
    assert [f for _, f in got] == frames

    # hostile: a deep nested-LIST chain must terminate, not
    # RecursionError out of the stage
    deep = chunk(b"00dc", frames[0])
    for _ in range(5000):
        deep = chunk(b"LIST", b"rec " + deep)
    bomb_body = b"AVI " + chunk(b"LIST", b"movi" + deep)
    bomb = b"RIFF" + struct.pack("<I", len(bomb_body)) + bomb_body
    assert list(_iter_avi_mjpeg_frames(bomb)) == []  # capped, no crash


def test_gif_frame_dims_capped_independently_of_screen():
    # a 1x1 SCREEN with a 65535x65535 FRAME descriptor must not drive a
    # multi-GB LZW decode target — frame dims get their own cap
    from lakota_spark.operators.multimodal import _parse_gif, _safe

    gif = (
        b"GIF89a"
        + (1).to_bytes(2, "little") * 2  # screen 1x1, no GCT
        + b"\x00\x00\x00"
        + b"\x2c"  # image descriptor at (0,0), 65535x65535
        + bytes(4)
        + b"\xff\xff\xff\xff"
        + b"\x00"  # no local table
        + b"\x02"  # min code size
        + b"\x01\x00"  # one data sub-block
        + b"\x00\x3b"
    )
    assert _safe(_parse_gif, gif) is None


def test_wav_ima_adpcm_stereo_interleave():
    # stereo ADPCM interleaves 4-byte (8-nibble) groups per channel;
    # decode two constant-drift channels and check the mono average
    # tracks both predictors (bit-exact per-channel state tracking)
    import struct

    import numpy as np

    from lakota_spark.operators.multimodal import _ima_adpcm_decode

    block_align = 16  # stereo: 2x4-byte headers + 8 bytes = 2 groups
    # channel 0 starts at 1000 idx 10, channel 1 at -2000 idx 20;
    # all-zero nibbles decay each predictor by step>>3 per sample
    block = (
        struct.pack("<hBB", 1000, 10, 0)
        + struct.pack("<hBB", -2000, 20, 0)
        + bytes(8)
    )
    out = _ima_adpcm_decode(block, 2, block_align)
    # header predictors are the first samples of each channel
    assert out[0] == (1000 + -2000) / 2 / 32768.0
    # 8 nibbles decoded per channel after the header sample
    assert len(out) == 9
    # nibble 0 = +step>>3 with index decaying by 1 each sample: track it
    from lakota_spark.operators.multimodal import _IMA_STEPS

    p0, i0 = 1000, 10
    p1, i1 = -2000, 20
    expect = [(p0 + p1) / 2]
    for _ in range(8):
        p0 = min(p0 + (_IMA_STEPS[i0] >> 3), 32767)
        i0 = max(i0 - 1, 0)
        p1 = min(p1 + (_IMA_STEPS[i1] >> 3), 32767)
        i1 = max(i1 - 1, 0)
        expect.append((p0 + p1) / 2)
    assert np.allclose(out * 32768.0, expect)


def _encode_jpeg_progressive(img, script=None, subsample=False):
    """Minimal PROGRESSIVE JPEG encoder (SOF2) for the golden tests —
    independent transcription of spec G.1.2 / libjpeg's AC first +
    refine emission (EOB-run buffering, correction bits), sharing only
    the spec constants with the decoder. Grayscale (2-D input) or
    color; ``script`` is a list of scans
    ``(comp_sel, Ss, Se, Ah, Al)`` where comp_sel is None for an
    interleaved DC scan or a component index. Default script exercises
    DC successive approximation + spectral AC bands + AC refinements.
    """
    import numpy as np

    from lakota_spark.operators.multimodal import _JPEG_ZZ, _jpeg_idct_mat

    gray = img.ndim == 2
    h, w = img.shape[:2]
    QL, QC = _jpeg_q_tables()
    T = _jpeg_idct_mat()

    # --- planes + per-component quantized coefficients (zigzag order)
    if gray:
        planes = [img.astype(np.float64)]
        samp = [(1, 1)]
        qts = [QL]
    else:
        y, cb, cr = _jpeg_ycbcr_planes(img, subsample)
        samp = (
            [(2, 2), (1, 1), (1, 1)] if subsample
            else [(1, 1), (1, 1), (1, 1)]
        )
        planes = [y, cb, cr]
        qts = [QL, QC, QC]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    # quantize into PADDED per-component grids (edge-replicated), but
    # remember each component's UNPADDED grid for AC scans
    coefzz, grids = [], []
    for ci, p in enumerate(planes):
        sh, sv = samp[ci]
        pw, ph = mcux * sh * 8, mcuy * sv * 8
        pad = np.pad(
            p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge"
        )
        bh, bw = ph // 8, pw // 8
        cz = np.zeros((bh, bw, 64), dtype=int)
        for by in range(bh):
            for bx in range(bw):
                blk = pad[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                cf = np.round(
                    (T @ (blk - 128.0) @ T.T) / qts[ci]
                ).astype(int)
                cz[by, bx] = [
                    int(cf.reshape(-1)[_JPEG_ZZ[k]]) for k in range(64)
                ]
        coefzz.append(cz)
    # unpadded grids for the non-interleaved AC scans
    grids = []
    for ci in range(len(planes)):
        sh, sv = samp[ci]
        comp_w = -(-(w * sh) // hmax)
        comp_h = -(-(h * sv) // vmax)
        grids.append((-(-comp_h // 8), -(-comp_w // 8)))

    if script is None:
        n = len(planes)
        script = [(None, 0, 0, 0, 1)]
        for ci in range(n):
            script += [(ci, 1, 5, 0, 2), (ci, 6, 63, 0, 2)]
        for ci in range(n):
            script += [(ci, 1, 63, 2, 1), (ci, 1, 63, 1, 0)]
        script += [(None, 0, 0, 1, 0)]

    # --- header
    out = bytearray(b"\xff\xd8")

    def seg(marker, payload):
        out.extend(bytes([0xFF, marker]))
        out.extend((len(payload) + 2).to_bytes(2, "big"))
        out.extend(payload)

    for tq, q in ((0, QL),) + ((() if gray else ((1, QC),))):
        zz = bytes(int(q.reshape(-1)[_JPEG_ZZ[k]]) for k in range(64))
        seg(0xDB, bytes([tq]) + zz)
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof += bytes([len(planes)])
    for ci in range(len(planes)):
        sh, sv = samp[ci]
        sof += bytes([ci + 1, (sh << 4) | sv, 0 if ci == 0 else 1])
    seg(0xC2, sof)

    # Huffman tables: the Annex-K baseline AC table lacks the EOBn
    # symbols (0x10..0xE0) progressive streams need, so carry a simple
    # FULL-coverage canonical AC table: 255 symbols at length 8 + one at
    # length 9 (keeps the all-ones max-length code unassigned, as the
    # spec's table construction does)
    DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    DC_VALS = list(range(12))
    AC_BITS = [0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0, 0]
    AC_VALS = list(range(256))

    enc_dc = _jpeg_canonical(DC_BITS, DC_VALS)
    enc_ac = _jpeg_canonical(AC_BITS, AC_VALS)
    seg(0xC4, bytes([0x00]) + bytes(DC_BITS) + bytes(DC_VALS))
    seg(0xC4, bytes([0x10]) + bytes(AC_BITS) + bytes(AC_VALS))

    # --- per-scan emission
    for comp_sel, Ss, Se, Ah, Al in script:
        bitbuf = []

        def put(code, length):
            for i in range(length - 1, -1, -1):
                bitbuf.append((code >> i) & 1)

        def put_val(v):
            s = 0 if v == 0 else max(v, -v).bit_length()
            if v < 0:
                v = v + (1 << s) - 1
            return s, v

        eob_state = {"run": 0, "bits": []}

        def emit_eobrun():
            if eob_state["run"] > 0:
                nbits = eob_state["run"].bit_length() - 1
                c, ln = enc_ac[nbits << 4]
                put(c, ln)
                if nbits:
                    put(eob_state["run"] & ((1 << nbits) - 1), nbits)
                bitbuf.extend(eob_state["bits"])
                eob_state["run"] = 0
                eob_state["bits"] = []

        def ac_first_block(zz):
            r = 0
            for k in range(Ss, Se + 1):
                c0 = zz[k]
                t = (c0 >> Al) if c0 >= 0 else -((-c0) >> Al)
                if t == 0:
                    r += 1
                    continue
                emit_eobrun()
                while r > 15:
                    c, ln = enc_ac[0xF0]
                    put(c, ln)
                    r -= 16
                s, v = put_val(t)
                c, ln = enc_ac[(r << 4) | s]
                put(c, ln)
                put(v, s)
                r = 0
            if r > 0:
                eob_state["run"] += 1
                if eob_state["run"] == 0x7FFF:
                    emit_eobrun()

        def ac_refine_block(zz):
            absv = [0] * 64
            eob_k = Ss - 1
            for k in range(Ss, Se + 1):
                absv[k] = abs(zz[k]) >> Al
                if absv[k] == 1:
                    eob_k = k
            r = 0
            br = []
            for k in range(Ss, Se + 1):
                t = absv[k]
                if t == 0:
                    r += 1
                    continue
                while r > 15 and k <= eob_k:
                    emit_eobrun()
                    c, ln = enc_ac[0xF0]
                    put(c, ln)
                    r -= 16
                    bitbuf.extend(br)
                    br = []
                if t > 1:  # already significant: correction bit
                    br.append(t & 1)
                    continue
                emit_eobrun()
                c, ln = enc_ac[(r << 4) | 1]
                put(c, ln)
                put(1 if zz[k] >= 0 else 0, 1)
                bitbuf.extend(br)
                br = []
                r = 0
            if r > 0 or br:
                eob_state["run"] += 1
                eob_state["bits"].extend(br)
                if eob_state["run"] == 0x7FFF:
                    emit_eobrun()

        if comp_sel is None:  # DC scan: interleaved over all comps
            ns = len(planes)
            hdr = bytes([ns])
            for ci in range(ns):
                hdr += bytes([ci + 1, 0x00])
            hdr += bytes([Ss, Se, (Ah << 4) | Al])
            seg(0xDA, hdr)
            preds = [0] * ns
            for m in range(mcux * mcuy):
                my, mx = divmod(m, mcux)
                for ci in range(ns):
                    sh, sv = samp[ci]
                    for by in range(sv):
                        for bx in range(sh):
                            dc = int(
                                coefzz[ci][my * sv + by, mx * sh + bx][0]
                            )
                            if Ah == 0:
                                dv = dc >> Al
                                s, v = put_val(dv - preds[ci])
                                c, ln = enc_dc[s]
                                put(c, ln)
                                put(v, s)
                                preds[ci] = dv
                            else:
                                bitbuf.append((dc >> Al) & 1)
        else:
            ci = comp_sel
            hdr = bytes([1, ci + 1, 0x00])
            hdr += bytes([Ss, Se, (Ah << 4) | Al])
            seg(0xDA, hdr)
            nbh, nbw = grids[ci]
            for m in range(nbh * nbw):
                by, bx = divmod(m, nbw)
                zz = [int(x) for x in coefzz[ci][by, bx]]
                if Ah == 0:
                    ac_first_block(zz)
                else:
                    ac_refine_block(zz)
        emit_eobrun()
        while len(bitbuf) % 8:
            bitbuf.append(1)
        for i in range(0, len(bitbuf), 8):
            byte = 0
            for bit in bitbuf[i : i + 8]:
                byte = (byte << 1) | bit
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)
    out.extend(b"\xff\xd9")
    return bytes(out)


def test_jpeg_progressive_equals_sequential_scan():
    # the multi-scan progressive script (DC successive approximation +
    # spectral AC bands + two AC refinement levels) must reconstruct
    # EXACTLY the coefficients of a single full scan of the same image -
    # decoded pixels bit-equal
    import numpy as np

    from lakota_spark.operators.multimodal import _parse_jpeg

    rng = np.random.default_rng(7)
    h, w = 24, 16
    yy, xx = np.mgrid[0:h, 0:w]
    gray = ((xx * 9 + yy * 5) % 256).astype(np.uint8)
    gray[8:16, 4:12] = rng.integers(0, 256, (8, 8))
    single = _encode_jpeg_progressive(
        gray, script=[(None, 0, 0, 0, 0), (0, 1, 63, 0, 0)]
    )
    multi = _encode_jpeg_progressive(gray)  # default SA script
    a = _parse_jpeg(single)
    bimg = _parse_jpeg(multi)
    assert a is not None and bimg is not None
    assert np.array_equal(a, bimg)
    # and both track the source within quantization error
    err = np.abs(a[:, :, 0].astype(int) - gray.astype(int)).mean()
    assert err < 16.0, err


def test_jpeg_progressive_color_matches_baseline_bitexact():
    # color 4:4:4: the progressive file and the BASELINE file built by
    # the independent sequential encoder share the exact same quantized
    # coefficients (identical DCT/round), so the decodes must be
    # bit-identical - progressive machinery vs the trusted baseline path
    import numpy as np

    from lakota_spark.operators.multimodal import _parse_jpeg

    h, w = 24, 32
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [
            (xx * 255 / (w - 1)),
            (yy * 255 / (h - 1)),
            ((xx * 3 + yy * 7) % 256),
        ],
        axis=2,
    ).astype(np.uint8)
    base = _parse_jpeg(_encode_jpeg(img))
    prog = _parse_jpeg(_encode_jpeg_progressive(img))
    assert base is not None and prog is not None
    assert np.array_equal(base, prog)


def test_jpeg_progressive_420_unpadded_ac_grid():
    # 4:2:0 with dims a multiple of 8 but NOT 16: the interleaved DC
    # scan walks the PADDED MCU grid while per-component AC scans walk
    # the component's own unpadded grid (spec A.2.2) - a decoder that
    # reuses the padded grid for AC misparses the stream
    import numpy as np

    from lakota_spark.operators.multimodal import _parse_jpeg

    rng = np.random.default_rng(11)
    h, w = 24, 40  # mcu grid 2x3 padded, luma blocks 3x5 unpadded
    tiles = rng.integers(40, 216, size=(3, 5, 3), dtype=np.uint8)
    img = np.repeat(np.repeat(tiles, 8, axis=0), 8, axis=1)
    got = _parse_jpeg(_encode_jpeg_progressive(img, subsample=True))
    assert got is not None and got.shape == img.shape
    err = np.abs(got.astype(int) - img.astype(int)).mean()
    assert err < 10.0, err


def test_jpeg_fill_bytes_between_scans_and_before_rst():
    # T.81 B.1.1.2: any marker may be preceded by 0xFF fill bytes. A
    # multi-scan file with padding before the second SOS must decode
    # identically (pre-fix: the marker loop misread FF FF as a marker
    # and silently skipped every remaining scan -> DC-only pixels)
    import numpy as np

    from lakota_spark.operators.multimodal import _parse_jpeg

    h, w = 16, 16
    yy, xx = np.mgrid[0:h, 0:w]
    gray = ((xx * 11 + yy * 3) % 256).astype(np.uint8)
    plain = _encode_jpeg_progressive(gray)
    want = _parse_jpeg(plain)
    # insert one fill byte before the SECOND SOS marker
    first = plain.index(b"\xff\xda")
    second = plain.index(b"\xff\xda", first + 2)
    padded = plain[:second] + b"\xff" + plain[second:]
    got = _parse_jpeg(padded)
    assert got is not None and np.array_equal(got, want)
    # and padding before EOI is tolerated too
    assert plain.endswith(b"\xff\xd9")
    padded_eoi = plain[:-2] + b"\xff\xff\xd9"
    got2 = _parse_jpeg(padded_eoi)
    assert got2 is not None and np.array_equal(got2, want)


def test_png_adam7_interlaced_decode_bit_exact():
    # Adam7: seven independently-filtered sub-images scattered onto the
    # canvas. Encode pass-by-pass (mixed filter types per row) and
    # require a bit-exact reconstruction, including edge passes that
    # are empty or 1 pixel wide on a non-multiple-of-8 canvas.
    import struct
    import zlib

    import numpy as np

    from lakota_spark.operators.multimodal import _parse_png

    rng = np.random.default_rng(19)
    h, w = 13, 11  # not multiples of 8: exercises ragged passes
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)

    passes = [
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    ]
    raw = bytearray()
    fsel = 0
    for x0, y0, dx, dy in passes:
        sub = img[y0::dy, x0::dx]
        ph, pw = sub.shape[:2]
        if ph == 0 or pw == 0:
            continue
        prev = np.zeros(pw * 3, np.int32)
        for y in range(ph):
            cur = sub[y].reshape(-1).astype(np.int32)
            f = (fsel := fsel + 1) % 3  # rotate None/Sub/Up filters
            if f == 0:
                enc = cur & 0xFF
            elif f == 1:
                left = np.concatenate([np.zeros(3, np.int32), cur[:-3]])
                enc = (cur - left) & 0xFF
            else:
                enc = (cur - prev) & 0xFF
            raw.append(f)
            raw.extend(enc.astype(np.uint8).tobytes())
            prev = cur

    def chunk(ctype, payload):
        c = ctype + payload
        return (
            len(payload).to_bytes(4, "big")
            + c
            + zlib.crc32(c).to_bytes(4, "big")
        )

    ihdr = chunk(
        b"IHDR",
        struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1),  # interlace=1
    )
    png = (
        b"\x89PNG\r\n\x1a\n"
        + ihdr
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    got = _parse_png(png)
    assert got is not None and got.shape == img.shape
    assert np.array_equal(got, img)


def test_png_16bit_decode():
    # 16-bit RGB PNG: big-endian samples, filter left-offset is SIX
    # bytes (channels x 2); decoder returns the high-byte rendition
    import struct
    import zlib

    import numpy as np

    from lakota_spark.operators.multimodal import _parse_png

    rng = np.random.default_rng(29)
    h, w = 6, 7
    img16 = rng.integers(0, 65536, size=(h, w, 3), dtype=np.uint16)
    raw = bytearray()
    prev = np.zeros(w * 6, np.int32)
    for y in range(h):
        cur = np.frombuffer(
            img16[y].astype(">u2").tobytes(), np.uint8
        ).astype(np.int32)
        f = y % 3  # rotate None/Sub/Up
        if f == 0:
            enc = cur & 0xFF
        elif f == 1:
            left = np.concatenate([np.zeros(6, np.int32), cur[:-6]])
            enc = (cur - left) & 0xFF
        else:
            enc = (cur - prev) & 0xFF
        raw.append(f)
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = cur

    def chunk(ctype, payload):
        c = ctype + payload
        return (
            len(payload).to_bytes(4, "big")
            + c
            + zlib.crc32(c).to_bytes(4, "big")
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    got = _parse_png(png)
    assert got is not None and got.shape == (h, w, 3)
    assert np.array_equal(got, (img16 >> 8).astype(np.uint8))


def test_sample_k_per_group_exact_and_skew_safe(spark):
    from pyspark.sql import functions as F

    from lakota_spark.functions import hash32
    from lakota_spark.operators.sampling import sample_k_per_group

    df = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 460, "en")  # skewed giant group
        .when(F.col("id") < 490, "fr")
        .otherwise("de")
        .alias("lang"),
    )
    out = sample_k_per_group(df, k=25, group_col="lang").collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    # exactly min(k, n) rows per group
    assert {g: len(v) for g, v in by_lang.items()} == {
        "en": 25, "fr": 25, "de": 10,
    }
    # ranks are 1..n in hash order; result equals the single-window form
    probe = {
        r["doc_id"]: r["h"]
        for r in df.select(
            "doc_id",
            hash32(
                F.concat_ws(":", F.lit("bal"), F.col("doc_id").cast("string"))
            ).alias("h"),
        ).collect()
    }
    langs = {r["doc_id"]: r["lang"] for r in df.collect()}
    for g, rows in by_lang.items():
        ids = sorted(d for d, l in langs.items() if l == g)
        expect = sorted(ids, key=lambda d: (probe[d], d))[: len(rows)]
        got = [r["doc_id"] for r in sorted(rows, key=lambda r: r["sample_rank"])]
        assert got == expect, g
        assert [r["sample_rank"] for r in sorted(rows, key=lambda r: r["sample_rank"])] == list(range(1, len(rows) + 1))
    # deterministic under arbitrary repartitioning
    again = sorted(
        (r["doc_id"], r["sample_rank"])
        for r in sample_k_per_group(
            df.repartition(13), k=25, group_col="lang"
        ).collect()
    )
    assert again == sorted((r["doc_id"], r["sample_rank"]) for r in out)
    # plan: both window exchanges key on hash-uniform columns, never a
    # whole-group single-task funnel at stage 1
    plan = (
        sample_k_per_group(df, k=25, group_col="lang")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in plan, plan
    assert "(_probe" in plan.split("Window")[-1] or "_probe" in plan, plan


def test_bottom_k_per_group_matches_single_window(spark):
    from pyspark.sql import functions as F

    from lakota_spark.operators.sampling import bottom_k_per_group

    # distinct-per-group integral order values (the KMV discipline):
    # h = (id*2654435761) % 2**31 visits each residue at most once here
    df = spark.range(700).select(
        F.col("id"),
        F.when(F.col("id") < 650, "hot").otherwise("cold").alias("g"),
        ((F.col("id") * 2654435761) % (2 ** 31)).alias("h"),
    )
    rows = df.collect()
    out = bottom_k_per_group(df, 8, "g", "h", n_sub=16).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["g"], []).append(r)
    for g in ("hot", "cold"):
        want = sorted(r["h"] for r in rows if r["g"] == g)[:8]
        got = [
            r["h"] for r in sorted(by_g[g], key=lambda r: r["bottom_rank"])
        ]
        assert got == want, g
        assert [r["bottom_rank"] for r in sorted(by_g[g], key=lambda r: r["bottom_rank"])] == list(range(1, 9))
    # groups smaller than k report all their rows
    small = bottom_k_per_group(
        df.where(F.col("g") == "cold").limit(3), 8, "g", "h"
    ).collect()
    assert len(small) == 3
    # stage-1 window is sub-sharded: its partition spec carries the pmod
    plan = (
        bottom_k_per_group(df, 8, "g", "h")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "pmod" in plan, plan


def test_exact_group_median_matches_row_number_form(spark):
    import random

    from pyspark.sql import functions as F

    from lakota_spark.operators.sampling import exact_group_median

    rng = random.Random(71)
    rows = []
    # skewed hot group, heavy ties, odd/even sizes, a singleton group
    for i in range(900):
        rows.append(("hot", float(rng.randrange(40))))
    for i in range(31):
        rows.append(("mid", float(rng.randrange(1000)) / 8))
    rows.append(("one", 5.25))
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r["g"]: r["median"]
        for r in exact_group_median(df, "g", "v", n_parts=7).collect()
    }
    want = {}
    for g in ("hot", "mid", "one"):
        vals = sorted(v for gg, v in rows if gg == g)
        want[g] = vals[(len(vals) + 1) // 2 - 1]  # lower median
    assert got == want
    # deterministic under arbitrary input partitioning
    again = {
        r["g"]: r["median"]
        for r in exact_group_median(
            df.repartition(13), "g", "v", n_parts=5
        ).collect()
    }
    assert again == want
    # a group collapsing to ONE weighted row (all ties) still selects it
    const = spark.createDataFrame(
        [("c", 2.0)] * 50, "g string, v double"
    )
    assert exact_group_median(const, "g", "v").collect()[0]["median"] == 2.0


def test_langid_ngram_learns_and_generalizes(spark):
    # fit on labelled docs, predict a HELD-OUT doc per language: the
    # learned trigram model must recover the label from unseen text in
    # the same language (shared character distribution), and a doc
    # shorter than n chars must take the deterministic tie-break
    # (alphabetically-first language, score 0) instead of being dropped
    from lakota_spark.operators.text import (
        langid_ngram_fit,
        langid_ngram_predict,
    )

    train = spark.createDataFrame(
        [
            (0, "the sharing of the things within the shore", "en"),
            (1, "the other hand holds another weathered feather", "en"),
            (2, "der wetter bruder wird wieder wunderbar wandern", "de"),
            (3, "die mutter und der vater wandern durch wiesen", "de"),
        ],
        "doc_id long, text string, lang string",
    )
    test = spark.createDataFrame(
        [
            (10, "the weather gathers there"),
            (11, "der wunderbare wanderer wird wieder"),
            (12, "xy"),  # shorter than n=3: zero evidence, tie-break
        ],
        "doc_id long, text string",
    )
    model, langs = langid_ngram_fit(train)
    out = {
        r.doc_id: r
        for r in langid_ngram_predict(test, model, langs).collect()
    }
    assert len(out) == 3  # no document dropped
    assert out[10].pred_lang == "en"
    assert out[11].pred_lang == "de"
    assert out[12].pred_lang == "de"  # alphabetically-first of {de, en}
    assert out[12].score_micro == 0


def test_repetition_stats_arrow_identical(spark):
    # the Arrow fold must reproduce the expression chain bit-for-bit:
    # duplicate-line fractions (incl. empty lines from consecutive
    # newlines), modal-2-gram tie-break on the smallest gram, int/int
    # IEEE divisions, null text -> all-null row
    from lakota_spark.operators.text import repetition_stats

    rows = [
        (0, "a b c d e f g h i j"),
        (1, "line one\nline two\nline one\nline two\nline three"),
        (2, "x y x y x y x y"),              # modal 2-gram ties: x y / y x
        (3, ""),                              # single empty line
        (4, "\n\n\n"),                        # 4 empty duplicate lines
        (5, None),                            # null text: null stats
        (6, "one"),                           # no 2-grams at all
        (7, "rep rep rep rep rep rep rep"),   # degenerate repetition
        (8, "tab\tsep mixed\x0bspaces here in one line ok"),
        (9, "ünï ünï code ünï points Ω Ω Ω here"),
    ] + [
        (100 + i, "\n".join(
            " ".join(f"w{(i + j + l) % 7}" for j in range(i % 13))
            for l in range(i % 5)
        ))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for docs in (docs, _string_ids(docs)):
        expr = {r.doc_id: tuple(r) for r in repetition_stats(docs).collect()}
        arrow = {
            r.doc_id: tuple(r)
            for r in repetition_stats(docs, impl="arrow").collect()
        }
        assert expr.keys() == arrow.keys()
        for d in expr:
            assert expr[d] == arrow[d], (d, expr[d], arrow[d])
        a = repetition_stats(docs, impl="arrow")
        e = repetition_stats(docs)
        assert [(f.name, f.dataType) for f in a.schema.fields] == [
            (f.name, f.dataType) for f in e.schema.fields
        ]


def test_winnow_fp_table_arrow_identical(spark):
    # the exploded (doc, fp) Arrow fold behind winnow_dup_pairs
    # (impl="arrow") must equal exploding the expr chain's distinct
    # fingerprint array — same corners as the summary twin, plus the
    # no-window docs emitting zero rows; long and string ids
    shared = " ".join(f"common{i}" for i in range(10))
    rows = [
        (0, "alpha beta gamma " + shared + " delta epsilon"),
        (1, "one two three four five " + shared + " six"),
        (2, "short doc here"),            # no grams
        (3, "exactly five tokens sit here"),  # hmm 5 tokens: 1 gram, no window
        (4, None),
        (5, "tab\tand\x0bmixed\fseparators\rwith newline\nhere ok fine"),
    ] + [
        (100 + i, " ".join(f"w{(i * 3 + j) % 9}" for j in range(i % 22)))
        for i in range(30)
    ]
    long_docs = spark.createDataFrame(rows, "doc_id long, text string")
    for docs in (long_docs, _string_ids(long_docs)):
        _check_winnow_fp_table(docs)


def _check_winnow_fp_table(docs):
    from pyspark.sql import functions as F

    from lakota_spark.functions import hash32, tokens, word_shingles
    from lakota_spark.operators.text import (
        _winnow_fp_table_arrow,
        winnow_dup_pairs,
    )

    grams = F.transform(word_shingles(tokens("text"), 5), lambda s: hash32(s))
    n_win = F.size(grams) - F.lit(3)
    wins = F.transform(
        F.sequence(F.lit(1), F.greatest(n_win, F.lit(1))),
        lambda i: F.array_min(F.slice(grams, i, 4)),
    )
    fp = F.when(n_win >= 1, F.array_distinct(wins)).otherwise(
        F.array().cast("array<long>")
    )
    expr = sorted(
        (r.doc, r.fp)
        for r in docs.select(
            F.col("doc_id").alias("doc"), F.explode(fp).alias("fp")
        ).collect()
    )
    arrow = sorted(
        (r.doc, r.fp)
        for r in _winnow_fp_table_arrow(docs, "text", "doc_id", 5, 4)
        .collect()
    )
    assert expr == arrow
    # end-to-end: both impls of winnow_dup_pairs agree
    e = sorted(tuple(r) for r in winnow_dup_pairs(docs).collect())
    a = sorted(
        tuple(r) for r in winnow_dup_pairs(docs, impl="arrow").collect()
    )
    assert e == a and e, "expected at least one shared-run pair"


def test_langid_carry_rejects_reserved_names(spark):
    # ADVICE r13: a carry column colliding with the scorer's internal
    # names (g, n_g, _lp_i/_s_i/_m_i, outputs, the id) would silently
    # corrupt the pivot scoring — must raise instead
    import pytest

    from lakota_spark.operators.text import (
        langid_ngram_fit,
        langid_ngram_predict,
    )

    train = spark.createDataFrame(
        [(0, "the sharing of the things", "en")],
        "doc_id long, text string, lang string",
    )
    model, langs = langid_ngram_fit(train)
    test = spark.createDataFrame(
        [(1, "the weather", "x")], "doc_id long, text string, g string"
    )
    for bad in ("g", "n_g", "pred_lang", "score_micro", "_lp_0",
                "_s_3", "_m_1", "doc_id"):
        with pytest.raises(ValueError, match="carry columns collide"):
            langid_ngram_predict(test, model, langs, carry=[bad])


def test_langid_ngram_min_count_prunes_model(spark):
    # grams below min_count leave the model (profile truncation): the
    # model relation shrinks but every language keeps a default, so
    # prediction still covers all docs
    from lakota_spark.operators.text import (
        langid_ngram_fit,
        langid_ngram_predict,
    )

    train = spark.createDataFrame(
        [
            (0, "aaaa aaaa aaaa zz", "en"),
            (1, "bbbb bbbb bbbb yy", "de"),
        ],
        "doc_id long, text string, lang string",
    )
    m_full, l_full = langid_ngram_fit(train)
    m_cut, l_cut = langid_ngram_fit(train, min_count=2)
    assert m_cut.count() < m_full.count()
    out = langid_ngram_predict(
        train.select("doc_id", "text"), m_cut, l_cut
    ).collect()
    assert {r.doc_id for r in out} == {0, 1}


def test_heavy_hitters_exact_vs_full_groupby(spark):
    # the sketch prunes, the verify join decides: output must equal the
    # plain exact groupBy/HAVING on a skewed corpus, including an item
    # sitting EXACTLY on the threshold (count * denom == numer * total)
    import random

    from pyspark.sql import functions as F

    from lakota_spark.operators.sampling import heavy_hitters

    rng = random.Random(7)
    # 1000 rows: 'hot' 300x, 'warm' exactly 10x (== 1% of 1000 via
    # numer=1, denom=100), the rest a hapax-heavy tail
    vals = ["hot"] * 300 + ["warm"] * 10
    vals += [f"tail{i}" for i in range(690)]
    rng.shuffle(vals)
    df = spark.createDataFrame([(v,) for v in vals], "token string")
    got = {
        (r.token, r.n)
        for r in heavy_hitters(df, "token", numer=1, denom=100).collect()
    }
    exact = {
        (r.token, r.n)
        for r in df.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .where(F.col("n") * 100 >= 1 * 1000)
        .collect()
    }
    assert got == exact
    assert ("warm", 10) in got  # the on-threshold item survives
    assert ("hot", 300) in got


def test_heavy_hitters_empty_and_tiny_threshold(spark):
    import pytest as _pytest

    from lakota_spark.operators.sampling import heavy_hitters

    empty = spark.createDataFrame([], "token string")
    assert heavy_hitters(empty, "token").count() == 0
    df = spark.createDataFrame([("a",)], "token string")
    with _pytest.raises(ValueError):
        heavy_hitters(df, "token", numer=1, denom=100000)


def test_rrf_fuse_exact_and_order_free(spark):
    from lakota_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(3, 1), (1, 2), (9, 3)], "doc_id long, rank int"
    )
    got = {
        r["doc_id"]: (r["rrf_nano"], r["n_runs"])
        for r in rrf_fuse([a, b]).collect()
    }
    c = lambda r: round(1e9 / (60 + r))  # noqa: E731
    assert got[1] == (c(1) + c(62 - 60), 2)  # ranks 1 and 2
    assert got[3] == (c(3) + c(1), 2)
    assert got[2] == (c(2), 1)
    assert got[9] == (c(3), 1)
    # run order must not change the fold (exact long addition)
    rev = {
        r["doc_id"]: (r["rrf_nano"], r["n_runs"])
        for r in rrf_fuse([b, a]).collect()
    }
    assert rev == got

    import pytest

    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([])


def test_bigram_lm_scores_order_aware(spark):
    from lakota_spark.operators.text import bigram_lm_scores

    # doc 1 repeats a fixed phrase (high bigram probability); doc 2 has
    # the SAME unigram distribution but shuffled word order (every
    # bigram unseen elsewhere). The unigram model cannot tell them
    # apart; the bigram model must rank the coherent one higher.
    phrase = "the quick brown fox jumps"
    shuffled = "quick the jumps brown fox fox brown jumps the quick"
    df = spark.createDataFrame(
        [
            (1, " ".join([phrase] * 4)),
            (2, shuffled * 2),
            (3, ""),  # no alphabetic tokens -> omitted
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in bigram_lm_scores(df).collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["avg_logprob"] > rows[2]["avg_logprob"]
    assert all(r["avg_logprob"] <= 0.0 for r in rows.values())
    assert rows[1]["n_tokens"] == 20


def test_bigram_lm_backoff_on_held_out_text(spark):
    import math

    from lakota_spark.operators.text import bigram_lm_scores

    # fit on a corpus where "fox jumps" is the only bigram involving
    # these words; score a held-out doc pairing known words in an
    # UNSEEN order -> the backoff branch (0.4 * c(w)/N) must price it
    fit = spark.createDataFrame(
        [(100, "the fox jumps"), (101, "the fox jumps")],
        "doc_id long, text string",
    )
    held = spark.createDataFrame(
        [(1, "jumps fox")], "doc_id long, text string"
    )
    rows = bigram_lm_scores(held, fit_df=fit).collect()
    assert len(rows) == 1
    # N=6, c(jumps)=2, c(fox)=2: first token ln(2/6); "fox" after
    # "jumps" is unseen -> ln(2*2/(5*6))
    want = (
        round(math.log(2.0 / 6.0) * 1e6) + round(math.log(4.0 / 30.0) * 1e6)
    ) / (2 * 1e6)
    assert abs(rows[0]["avg_logprob"] - want) < 1e-9
    assert rows[0]["n_tokens"] == 2


def test_pca_power_fit_recovers_dominant_axis(spark):
    import math

    from lakota_spark.operators.clustering import pca_power_fit, pca_project

    # synthetic 8-dim vectors with variance concentrated on axis 2
    # (sigma 10 vs 0.1 elsewhere, deterministic pseudo-noise)
    rows = []
    for i in range(200):
        base = [((i * 37 + j * 11) % 17 - 8) / 80.0 for j in range(8)]
        base[2] = (i - 100) / 10.0
        rows.append((i, [float(x) for x in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    mean, v = pca_power_fit(df, iters=3)
    assert abs(sum(x * x for x in v) - 1.0) < 1e-4  # unit length
    assert abs(abs(v[2]) - 1.0) < 0.05  # dominant axis recovered
    # projection variance ≈ data variance along axis 2
    scores = [r["pc1"] for r in pca_project(df, mean, v).collect()]
    m = sum(scores) / len(scores)
    var = sum((s - m) ** 2 for s in scores) / len(scores)
    data_var = sum(((i - 100) / 10.0 - 0.0) ** 2 for i in range(200)) / 200
    assert abs(var - data_var) / data_var < 0.05
    # determinism
    mean2, v2 = pca_power_fit(df, iters=3)
    assert (mean2, v2) == (mean, v)


def test_pca_power_fit_rejects_degenerate(spark):
    import pytest

    from lakota_spark.operators.clustering import pca_power_fit

    zero = spark.createDataFrame(
        [(i, [1.0, 2.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="zero-variance"):
        pca_power_fit(zero)


def test_pca_deflation_recovers_two_axes(spark):
    from lakota_spark.operators.clustering import pca_power_fit_components

    # variance concentrated on axes 1 (sigma ~6) and 4 (sigma ~3)
    rows = []
    for i in range(240):
        base = [((i * 29 + j * 13) % 19 - 9) / 90.0 for j in range(6)]
        base[1] = (i % 120 - 60) / 10.0
        base[4] = ((i * 7) % 120 - 60) / 20.0
        rows.append((i, [float(x) for x in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    mean, comps = pca_power_fit_components(df, n_components=2, iters=3)
    v1, v2 = comps
    assert abs(abs(v1[1]) - 1.0) < 0.05  # first component = axis 1
    assert abs(abs(v2[4]) - 1.0) < 0.05  # second = axis 4
    dot = sum(a * b for a, b in zip(v1, v2))
    assert abs(dot) < 0.02  # orthogonal up to rounding tolerance


def test_psi_drift_detects_shift(spark):
    from lakota_spark.operators.drift import histogram_counts, psi_terms

    mk = lambda vals: spark.createDataFrame(  # noqa: E731
        [(i, float(v)) for i, v in enumerate(vals)], "id long, s double"
    )
    base = [(-2.0 + (i % 40) * 0.1) for i in range(400)]
    same_a = histogram_counts(mk(base), "s", -5.0, 5.0, 16)
    same_b = histogram_counts(mk(base), "s", -5.0, 5.0, 16)
    shifted = histogram_counts(
        mk([v + 2.5 for v in base]), "s", -5.0, 5.0, 16
    )
    psi_same = sum(
        r["psi_term_micro"] for r in psi_terms(same_a, same_b, 16).collect()
    )
    psi_shift = sum(
        r["psi_term_micro"]
        for r in psi_terms(same_a, shifted, 16).collect()
    )
    assert psi_same == 0  # identical distributions -> zero PSI
    assert psi_shift > 250_000  # a 2.5-sigma shift crosses the action bar
    # out-of-range values clamp into edge bins rather than vanish
    far = histogram_counts(mk([-50.0, 50.0]), "s", -5.0, 5.0, 16)
    rows = {r["bin"]: r["c"] for r in far.collect()}
    assert rows == {0: 1, 15: 1}


def test_histogram_counts_validates(spark):
    import pytest

    from lakota_spark.operators.drift import histogram_counts

    df = spark.createDataFrame([(1, 0.5)], "id long, s double")
    with pytest.raises(ValueError, match="hi > lo"):
        histogram_counts(df, "s", 5.0, -5.0, 16)


def test_score_hist_tracker_incremental_reference(spark, tmp_path):
    from lakota_spark.operators.drift import ScoreHistTracker, histogram_counts

    mk = lambda vals, off=0: spark.createDataFrame(  # noqa: E731
        [(i + off, float(v)) for i, v in enumerate(vals)],
        "id long, pc1 double",
    )
    t = ScoreHistTracker(spark, str(tmp_path / "hist"), -5.0, 5.0, 16)
    b1 = [(-3.0 + (i % 30) * 0.2) for i in range(90)]
    b2 = [(-1.0 + (i % 20) * 0.1) for i in range(60)]
    # cold store: psi_vs still yields a finite comparison
    cold = t.psi_vs(mk(b1))
    assert cold.count() == 16
    t.fold(mk(b1))
    t.fold(mk(b2, off=1000))
    # landed counts equal a direct histogram of the union
    want = {
        r["bin"]: r["c"]
        for r in histogram_counts(
            mk(b1 + b2), "pc1", -5.0, 5.0, 16
        ).collect()
    }
    got = {r["bin"]: r["c"] for r in t._t.counts().collect()}
    assert got == want
    # scoring the landed distribution against itself -> zero PSI
    psi = sum(
        r["psi_term_micro"] for r in t.psi_vs(mk(b1 + b2)).collect()
    )
    assert psi == 0


def test_score_hist_tracker_meta_and_gate_and_fold(spark, tmp_path):
    import pytest

    from lakota_spark.operators.drift import ScoreHistTracker

    mk = lambda vals: spark.createDataFrame(  # noqa: E731
        [(i, float(v)) for i, v in enumerate(vals)], "id long, pc1 double"
    )
    path = str(tmp_path / "hist2")
    t = ScoreHistTracker(spark, path, -5.0, 5.0, 16)
    # gate_and_fold: the returned terms compare against the PRE-batch
    # reference, and the batch lands afterwards
    b1 = [(-2.0 + (i % 20) * 0.2) for i in range(40)]
    terms1 = t.gate_and_fold(mk(b1)).collect()
    assert sum(r["new_c"] for r in terms1) == 40
    assert sum(r["ref_c"] for r in terms1) == 0  # pre-batch ref was empty
    assert sum(r["ref_c"] for r in t.psi_vs(mk(b1)).collect()) == 40
    # same distribution folded -> gating it again reads zero PSI
    psi2 = sum(
        r["psi_term_micro"] for r in t.gate_and_fold(mk(b1)).collect()
    )
    assert psi2 == 0
    # reopening with the SAME parameters is fine; different ones refuse
    ScoreHistTracker(spark, path, -5.0, 5.0, 16)
    with pytest.raises(ValueError, match="incompatible bin indexes"):
        ScoreHistTracker(spark, path, -10.0, 10.0, 32)


def test_group_shingle_overlap_hand_computed(spark):
    from lakota_spark.operators.dedup import group_shingle_overlap

    df = spark.createDataFrame(
        [
            (1, "A", "a b c d"),        # shingles: abc, bcd
            (2, "A", "a b c"),          # abc (dup within group -> distinct)
            (3, "B", "a b c x"),        # abc, bcx
            (4, "C", "q r s t"),        # qrs, rst (disjoint)
        ],
        "doc_id long, source string, text string",
    )
    got = {
        (r["src_a"], r["src_b"]): (r["n_inter"], round(r["jaccard"], 6))
        for r in group_shingle_overlap(df).collect()
    }
    # A = {abc, bcd}, B = {abc, bcx}: inter 1, union 3
    assert got[("A", "B")] == (1, round(1 / 3, 6))
    # disjoint pairs produce no row (inner join semantics)
    assert ("A", "C") not in got and ("B", "C") not in got


def test_encoding_stats_counts(spark):
    from lakota_spark.operators.text import encoding_stats

    df = spark.createDataFrame(
        [
            (1, "plain ascii"),
            (2, "café naïve"),       # 2 non-ascii
            (3, "bad�byte�"),        # 2 replacement (non-ascii too)
            (4, "ctl\x01\x02\ttab"),           # 2 control; tab excluded
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in encoding_stats(df).collect()}
    assert got[1]["n_non_ascii"] == 0 and got[1]["n_control"] == 0
    assert got[2]["n_non_ascii"] == 2 and got[2]["n_replacement"] == 0
    assert got[3]["n_replacement"] == 2 and got[3]["n_non_ascii"] == 2
    assert got[4]["n_control"] == 2 and got[4]["n_non_ascii"] == 0


def test_score_hist_tracker_publish_race_retries(spark, tmp_path):
    # fold_counts under a lost publish race must RE-MERGE against the
    # newly-landed head, not drop the batch (the SpanFlagTracker race
    # contract, exercised through the gate_and_fold counts path)
    from lakota_spark.operators.drift import ScoreHistTracker

    mk = lambda vals, off=0: spark.createDataFrame(  # noqa: E731
        [(i + off, float(v)) for i, v in enumerate(vals)],
        "id long, pc1 double",
    )
    path = str(tmp_path / "hist-race")
    t = ScoreHistTracker(spark, path, -5.0, 5.0, 16)
    t.fold(mk([0.0] * 10))

    racer = ScoreHistTracker(spark, path, -5.0, 5.0, 16)
    orig_versions = t._t._versions
    raced = {"done": False}

    def versions_with_race():
        vs = orig_versions()
        if not raced["done"] and vs:
            raced["done"] = True
            racer.fold(mk([1.0] * 7, off=100))
        return vs

    t._t._versions = versions_with_race
    t.gate_and_fold(mk([2.0] * 5, off=200))
    t._t._versions = orig_versions
    got = {r["bin"]: r["c"] for r in t._t.counts().collect()}
    # all three batches' counts present: bins for 0.0 (bin 8), 1.0
    # (bin 9), 2.0 (bin 11)
    assert got == {8: 10, 9: 7, 11: 5}


# --- round-8 third session: Ogg page walk + ISO-BMFF box walk -------------


def _mk_ogg(pages, serial=7):
    """Independent test-side Ogg page writer: one page per (header_type,
    granule, body) triple — spec-faithful lacing (255-spans + terminal
    short segment); CRC left zero (the walk never verifies it)."""
    out = bytearray()
    for seq, (htype, granule, body) in enumerate(pages):
        segs = []
        n = len(body)
        while n >= 255:
            segs.append(255)
            n -= 255
        segs.append(n)
        out += b"OggS\x00" + bytes([htype])
        out += granule.to_bytes(8, "little", signed=True)
        out += serial.to_bytes(4, "little") + seq.to_bytes(4, "little")
        out += b"\x00\x00\x00\x00" + bytes([len(segs)]) + bytes(segs)
        out += body
    return bytes(out)


def _vorbis_id(channels, rate):
    return (
        b"\x01vorbis"
        + (0).to_bytes(4, "little")
        + bytes([channels])
        + rate.to_bytes(4, "little")
        + b"\x00" * 12  # bitrate max/nominal/min
        + b"\xb8"  # blocksizes
        + b"\x01"  # framing bit
    )


def _opus_head(channels, pre_skip, input_rate=44100):
    return (
        b"OpusHead\x01"
        + bytes([channels])
        + pre_skip.to_bytes(2, "little")
        + input_rate.to_bytes(4, "little")
        + b"\x00\x00"  # output gain
        + b"\x00"  # mapping family
    )


def test_ogg_page_walk_golden():
    from lakota_spark.operators.multimodal import _parse_ogg_headers

    # Vorbis: BOS + comment page (granule 0) + one audio page at
    # granule 88200 -> exactly 2 s at 44.1 kHz stereo
    blob = _mk_ogg([
        (2, 0, _vorbis_id(2, 44100)),
        (0, 0, b"\x03vorbis" + b"\x00" * 40),
        (4, 88200, b"\xaa" * 300),  # >255 bytes: spans two lacing segs
    ])
    dur, kbps, rate, ch, n, vbr = _parse_ogg_headers(blob)
    # vbr must be 0 here: the comment page (granule 0) is a HEADER page
    # and may not count toward page-size variance — with one audio page
    # there is nothing to vary (a real CBR Vorbis stream always carries
    # differently-sized comment/setup pages)
    assert (rate, ch, n, vbr) == (44100.0, 2.0, 3.0, 0.0)
    assert abs(dur - 2.0) < 1e-9
    assert abs(kbps - len(blob) * 8 / 2.0 / 1000.0) < 1e-9
    # Opus: granules are 48 kHz and pre_skip is subtracted
    blob2 = _mk_ogg([
        (2, 0, _opus_head(1, 312)),
        (0, 0, b"OpusTags" + b"\x00" * 8),
        (4, 312 + 9600, b"\xbb" * 64),
    ])
    dur2, _, rate2, ch2, n2, _ = _parse_ogg_headers(blob2)
    assert (rate2, ch2, n2) == (48000.0, 1.0, 3.0)
    assert abs(dur2 - 9600 / 48000.0) < 1e-9
    # equal-size data pages read as CBR-ish (is_vbr = 0)
    cbr = _mk_ogg([
        (2, 0, _opus_head(2, 0)),
        (0, 960, b"\xcc" * 50),
        (4, 1920, b"\xdd" * 50),
    ])
    assert _parse_ogg_headers(cbr)[5] == 0.0
    # unequal AUDIO pages still read as VBR (header pages excluded)
    vbr_blob = _mk_ogg([
        (2, 0, _opus_head(2, 0)),
        (0, 0, b"OpusTags" + b"\x00" * 8),
        (0, 960, b"\xcc" * 50),
        (4, 1920, b"\xdd" * 90),
    ])
    assert _parse_ogg_headers(vbr_blob)[5] == 1.0
    # rejections: not Ogg; single page; non-audio BOS codec; second
    # logical stream (different serial); >10% trailing garbage
    assert _parse_ogg_headers(b"\x00" * 64) is None
    assert _parse_ogg_headers(_mk_ogg([(2, 0, _vorbis_id(2, 44100))])) is None
    assert _parse_ogg_headers(
        _mk_ogg([(2, 0, b"Speex   " + b"\x00" * 20), (4, 100, b"x")])
    ) is None
    assert _parse_ogg_headers(
        _mk_ogg([(2, 0, _vorbis_id(2, 44100))])
        + _mk_ogg([(4, 100, b"x" * 30)], serial=9)
    ) is None
    assert _parse_ogg_headers(blob2 + b"\x00" * len(blob2)) is None


def _box(t, *payload):
    body = b"".join(payload)
    return (8 + len(body)).to_bytes(4, "big") + t + body


def _fullbox(t, ver, body):
    return _box(t, bytes([ver, 0, 0, 0]) + body)


def _mk_m4a(timescale=1000, duration=2500, rate=48000, channels=2,
            n_samples=117, sample_size=0, mdat=b"\x00" * 256):
    """Independent test-side BMFF writer: spec-complete mvhd/tkhd/mdhd
    field layouts (not just the offsets the parser reads)."""
    mvhd = _fullbox(b"mvhd", 0, (
        (0).to_bytes(4, "big") * 2
        + timescale.to_bytes(4, "big") + duration.to_bytes(4, "big")
        + (0x00010000).to_bytes(4, "big") + (0x0100).to_bytes(2, "big")
        + b"\x00" * 10 + _UNITY_MATRIX + b"\x00" * 24
        + (2).to_bytes(4, "big")
    ))
    entry = (
        (36).to_bytes(4, "big") + b"mp4a" + b"\x00" * 6
        + (1).to_bytes(2, "big") + b"\x00" * 8
        + channels.to_bytes(2, "big") + (16).to_bytes(2, "big")
        + b"\x00" * 4 + (rate << 16).to_bytes(4, "big")
    )
    stbl = _box(
        b"stbl",
        _fullbox(b"stsd", 0, (1).to_bytes(4, "big") + entry),
        _fullbox(b"stsz", 0, sample_size.to_bytes(4, "big")
                 + n_samples.to_bytes(4, "big")),
    )
    mdia = _box(
        b"mdia",
        _fullbox(b"mdhd", 0, (0).to_bytes(4, "big") * 2
                 + rate.to_bytes(4, "big")
                 + (duration * rate // timescale).to_bytes(4, "big")
                 + b"\x55\xc4\x00\x00"),
        _fullbox(b"hdlr", 0, b"\x00" * 4 + b"soun" + b"\x00" * 12 + b"\x00"),
        _box(b"minf", stbl),
    )
    tkhd = _fullbox(b"tkhd", 0, (
        (0).to_bytes(4, "big") * 2 + (1).to_bytes(4, "big")
        + b"\x00" * 4 + duration.to_bytes(4, "big") + b"\x00" * 8
        + b"\x00" * 6 + (0x0100).to_bytes(2, "big")
        + _UNITY_MATRIX + b"\x00" * 8
    ))
    return (
        _box(b"ftyp", b"M4A \x00\x00\x00\x00mp42")
        + _box(b"moov", mvhd, _box(b"trak", tkhd, mdia))
        + _box(b"mdat", mdat)
    )


_UNITY_MATRIX = (
    (0x00010000).to_bytes(4, "big") + b"\x00" * 12
    + (0x00010000).to_bytes(4, "big") + b"\x00" * 12
    + (0x40000000).to_bytes(4, "big")
)


def _mk_mp4_video(width=640, height=360, timescale=600, duration=1200,
                  n_samples=48, with_audio=True):
    mvhd = _fullbox(b"mvhd", 0, (
        (0).to_bytes(4, "big") * 2
        + timescale.to_bytes(4, "big") + duration.to_bytes(4, "big")
        + (0x00010000).to_bytes(4, "big") + (0x0100).to_bytes(2, "big")
        + b"\x00" * 10 + _UNITY_MATRIX + b"\x00" * 24
        + (3).to_bytes(4, "big")
    ))
    vstbl = _box(
        b"stbl",
        _fullbox(b"stsd", 0, (1).to_bytes(4, "big")
                 + (16).to_bytes(4, "big") + b"avc1" + b"\x00" * 8),
        _fullbox(b"stsz", 0, (0).to_bytes(4, "big")
                 + n_samples.to_bytes(4, "big")),
    )
    vmdia = _box(
        b"mdia",
        _fullbox(b"mdhd", 0, (0).to_bytes(4, "big") * 2
                 + (90000).to_bytes(4, "big")
                 + (duration * 90000 // timescale).to_bytes(4, "big")
                 + b"\x55\xc4\x00\x00"),
        _fullbox(b"hdlr", 0, b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"\x00"),
        _box(b"minf", vstbl),
    )
    vtkhd = _fullbox(b"tkhd", 0, (
        (0).to_bytes(4, "big") * 2 + (1).to_bytes(4, "big")
        + b"\x00" * 4 + duration.to_bytes(4, "big") + b"\x00" * 8
        + b"\x00" * 6 + b"\x00" * 2 + _UNITY_MATRIX
        + (width << 16).to_bytes(4, "big") + (height << 16).to_bytes(4, "big")
    ))
    traks = [_box(b"trak", vtkhd, vmdia)]
    if with_audio:
        m4a = _mk_m4a(timescale=timescale, duration=duration)
        # lift the audio trak out of the throwaway m4a (moov body after
        # its mvhd box)
        moov_body_at = 8 + len(_box(b"ftyp", b"M4A \x00\x00\x00\x00mp42"))
        from lakota_spark.operators.multimodal import _iter_mp4_boxes

        for t, s, e in _iter_mp4_boxes(m4a, 0, len(m4a)):
            if t == b"moov":
                for t2, s2, e2 in _iter_mp4_boxes(m4a, s, e):
                    if t2 == b"trak":
                        traks.append(m4a[s2 - 8:e2])
    return (
        _box(b"ftyp", b"isom\x00\x00\x02\x00mp42")
        + _box(b"moov", mvhd, *traks)
        + _box(b"mdat", b"\x00" * 512)
    )


def test_mp4_box_walk_golden():
    from lakota_spark.operators.multimodal import _parse_mp4_headers

    m4a = _mk_m4a()
    info = _parse_mp4_headers(m4a)
    assert info is not None and info["n_audio"] == 1 and info["n_video"] == 0
    assert abs(info["duration_s"] - 2.5) < 1e-9
    assert (info["rate"], info["channels"]) == (48000.0, 2.0)
    assert (info["n_samples"], info["vbr"]) == (117.0, 1.0)
    # fixed sample_size reads as CBR
    assert _parse_mp4_headers(_mk_m4a(sample_size=640))["vbr"] == 0.0
    vid = _mk_mp4_video()
    vinfo = _parse_mp4_headers(vid)
    assert (vinfo["n_video"], vinfo["n_audio"]) == (1, 1)
    assert (vinfo["width"], vinfo["height"]) == (640.0, 360.0)
    assert abs(vinfo["duration_s"] - 2.0) < 1e-9
    assert vinfo["v_samples"] == 48.0
    # rejections: not BMFF; ftyp not first; moov missing; trak missing
    assert _parse_mp4_headers(b"\x00" * 64) is None
    assert _parse_mp4_headers(_box(b"free", b"x") + m4a) is None
    assert _parse_mp4_headers(_box(b"ftyp", b"isom")) is None
    assert _parse_mp4_headers(
        _box(b"ftyp", b"isom") + _box(b"moov", _box(b"free", b""))
    ) is None


def test_container_walks_through_spark(spark):
    from lakota_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_audio_features,
        extract_video_headers,
    )

    ogg = _mk_ogg([
        (2, 0, _vorbis_id(2, 44100)),
        (4, 88200, b"\xaa" * 100),
    ])
    m4a = _mk_m4a()
    vid = _mk_mp4_video()
    rows = [
        (1, bytearray(ogg), "audio/ogg", len(ogg), "{}"),
        (2, bytearray(m4a), "audio/mp4", len(m4a), "{}"),
        (3, bytearray(b"\x01\x02" * 100), "audio/ogg", 200, "{}"),
    ]
    feats = {
        r.media_id: r.feature
        for r in extract_audio_features(
            spark.createDataFrame(rows, MEDIA_SCHEMA)
        ).collect()
    }
    assert len(feats[1]) == 6 and feats[1][2] == 44100.0
    assert len(feats[2]) == 6 and feats[2][2] == 48000.0
    assert abs(feats[2][1] - len(m4a) * 8 / 2.5 / 1000.0) < 1e-6
    assert len(feats[3]) == 8  # fallback intact
    vrows = [
        (1, bytearray(vid), "video/mp4", len(vid), "{}"),
        # audio-only BMFF is NOT claimed by the video walk
        (2, bytearray(m4a), "audio/mp4", len(m4a), "{}"),
    ]
    vfeats = {
        r.media_id: r.feature
        for r in extract_video_headers(
            spark.createDataFrame(vrows, MEDIA_SCHEMA)
        ).collect()
    }
    assert vfeats[1][:3] == [640.0, 360.0, 2.0]
    assert vfeats[1][3:] == [48.0, 1.0, 1.0]
    assert len(vfeats[2]) == 8


def test_cluster_topic_terms_semantics(spark):
    # distinctive per-cluster vocabulary must outrank corpus-wide
    # filler: c-TF-IDF down-weights terms whose corpus count is high
    from lakota_spark.operators.clustering import cluster_topic_terms

    docs = spark.createDataFrame(
        [
            (1, "the quantum physics of the quantum field"),
            (2, "the quantum entanglement quantum theory"),
            (3, "the banana smoothie with banana and mango"),
            (4, "the banana recipe for banana bread"),
        ],
        "doc_id long, text string",
    )
    assign = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1), (4, 1)], "doc_id long, cluster int"
    )
    out = cluster_topic_terms(docs, assign, top_k=20).collect()
    top = {r.cluster: r.term for r in out if r.rank == 1}
    assert top == {0: "quantum", 1: "banana"}
    # "the" appears in every doc -> high corpus freq -> scores strictly
    # below the distinctive terms despite equal-or-higher cluster tf
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster, {})[r.term] = r.ctfidf_micro
    assert by_cluster[0]["the"] < by_cluster[0]["quantum"]
    assert by_cluster[1]["the"] < by_cluster[1]["banana"]
    # top_k bound holds per cluster
    narrow = cluster_topic_terms(docs, assign, top_k=3).collect()
    assert all(
        sum(1 for r in narrow if r.cluster == c) <= 3 for c in (0, 1)
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        cluster_topic_terms(docs, assign, top_k=0)


def test_mmr_topk_diversifies(spark):
    # the pool's #2 hit is a near-copy of #1: pure relevance returns
    # both back-to-back, MMR at lambda=0.7 must defer the copy behind
    # the diverse vectors; lambda=1.0 degenerates to relevance order
    from lakota_spark.operators.similarity import mmr_topk

    rows = [
        (1, [0.95, 0.312, 0.0, 0.0]),   # rel ~0.95 (the top hit)
        (2, [0.94, 0.31, 0.14, 0.0]),   # near-copy of 1 (sim ~0.99)
        (3, [0.9, -0.436, 0.0, 0.0]),   # diverse (sim to 1 ~0.72)
        (4, [0.8, 0.0, 0.6, 0.0]),      # diverse, lower rel
        (5, [0.4, 0.0, 0.0, 0.9]),      # diverse, lowest rel
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    q = [1.0, 0.0, 0.0, 0.0]
    out = mmr_topk(emb, q, k=4, pool=5, lam_micro=700000).collect()
    order = [r.vec_id for r in out]
    assert order[0] == 1
    assert order[1] == 3  # the near-copy is deferred behind diverse 3
    ranks = [r["rank"] for r in out]
    assert ranks == [1, 2, 3, 4]
    # lambda = 1.0 -> pure relevance ranking of the pool
    pure = [r.vec_id for r in mmr_topk(
        emb, q, k=4, pool=5, lam_micro=1000000
    ).collect()]
    assert pure == [1, 2, 3, 4]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        mmr_topk(emb, q, k=6, pool=5)
    with _pytest.raises(ValueError):
        mmr_topk(emb, q, k=2, pool=5, lam_micro=2000000)


def test_classify_media_kinds(spark):
    # one payload per family through the triage stage; random bytes and
    # a truncated walkable stream read as unknown
    from lakota_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        classify_media,
    )

    payloads = {
        1: (b"\x89PNG\r\n\x1a\n" + b"\x00" * 16, "png"),
        2: (b"GIF89a" + b"\x00" * 16, "gif"),
        3: (b"\xff\xd8\xff\xe0" + b"\x00" * 16, "jpeg"),
        4: (b"BM" + b"\x00" * 16, "bmp"),
        5: (b"RIFF\x24\x00\x00\x00WAVE" + b"\x00" * 16, "wav"),
        6: (b"RIFF\x24\x00\x00\x00AVI " + b"\x00" * 16, "avi"),
        7: (b"fLaC" + b"\x00" * 16, "flac"),
        8: (b"YUV4MPEG2 W4 H4\n" + b"\x00" * 16, "y4m"),
        9: (_mk_ogg([(2, 0, _vorbis_id(2, 44100)), (4, 100, b"x" * 20)]),
            "ogg"),
        10: (_mk_m4a(), "mp4_audio"),
        11: (_mk_mp4_video(), "mp4_video"),
        12: (_mk_mp3([128] * 3), "mp3"),
        13: (_mk_adts([384, 384]), "aac"),
        14: (bytes(range(256)) * 4, "unknown"),
        15: (b"OggS" + b"\x00" * 8, "unknown"),  # truncated Ogg
    }
    media = spark.createDataFrame(
        [
            (mid, bytearray(b), "application/octet-stream", len(b), "{}")
            for mid, (b, _) in payloads.items()
        ],
        MEDIA_SCHEMA,
    )
    got = {r.media_id: r.kind for r in classify_media(media).collect()}
    want = {mid: kind for mid, (b, kind) in payloads.items()}
    assert got == want
    # with_payload=True keeps the bytes intact for gate pass-through
    wp = {
        r.media_id: bytes(r.payload)
        for r in classify_media(media, with_payload=True).collect()
    }
    assert wp[10] == _mk_m4a()


def _mk_tiff(pixels, endian="<", photometric=2, rows_per_strip=None,
             compression=1):
    """Independent test-side TIFF writer: header | strip data | overflow
    tag values | IFD, ascending tag ids, both byte orders — the
    spec-faithful twin of the parser's IFD walk."""
    import struct

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, spp = arr.shape
    rps = rows_per_strip or h
    strips = [arr[i:i + rps].tobytes() for i in range(0, h, rps)]
    offs = []
    cur = 8
    for s in strips:
        offs.append(cur)
        cur += len(s)
    ov_base = cur
    overflow = bytearray()
    entries = []

    def ent(tag, typ, vals, fmt):
        raw = struct.pack(endian + str(len(vals)) + fmt, *vals)
        if len(raw) <= 4:
            entries.append((tag, typ, len(vals), raw.ljust(4, b"\x00")))
        else:
            entries.append((tag, typ, len(vals), ("OV", len(overflow))))
            overflow.extend(raw)

    ent(256, 3, [w], "H")
    ent(257, 3, [h], "H")
    ent(258, 3, [8] * spp, "H")
    ent(259, 3, [compression], "H")
    ent(262, 3, [photometric], "H")
    ent(273, 4, offs, "I")
    ent(277, 3, [spp], "H")
    ent(278, 3, [rps], "H")
    ent(279, 4, [len(s) for s in strips], "I")
    ifd_off = ov_base + len(overflow)
    out = bytearray()
    out += (b"II" if endian == "<" else b"MM")
    out += struct.pack(endian + "H", 42) + struct.pack(endian + "I", ifd_off)
    for s in strips:
        out += s
    out += overflow
    out += struct.pack(endian + "H", len(entries))
    for tag, typ, cnt, v in sorted(entries, key=lambda t: t[0]):
        out += struct.pack(endian + "HHI", tag, typ, cnt)
        out += struct.pack(endian + "I", ov_base + v[1]) if isinstance(
            v, tuple
        ) else v
    out += struct.pack(endian + "I", 0)
    return bytes(out)


def test_tiff_decode_golden():
    import numpy as np

    from lakota_spark.operators.multimodal import _parse_tiff, _safe

    rgb = np.arange(4 * 2 * 3, dtype=np.uint8).reshape(2, 4, 3)
    got = _parse_tiff(_mk_tiff(rgb))
    assert got is not None and np.array_equal(got, rgb)
    # big-endian, grayscale, multi-strip, WhiteIsZero inversion
    gray = np.array([[0, 100], [200, 255]], dtype=np.uint8)
    got2 = _parse_tiff(
        _mk_tiff(gray, endian=">", photometric=0, rows_per_strip=1)
    )
    assert np.array_equal(got2[:, :, 0], 255 - gray)
    assert np.array_equal(got2[:, :, 1], got2[:, :, 0])
    # black-is-zero gray, little-endian, single strip
    got3 = _parse_tiff(_mk_tiff(gray, photometric=1))
    assert np.array_equal(got3[:, :, 2], gray)
    # rejections -> fallback: LZW-compressed, truncated strips, junk
    assert _safe(_parse_tiff, _mk_tiff(rgb, compression=5)) is None
    assert _safe(_parse_tiff, _mk_tiff(rgb)[:20]) is None
    assert _safe(_parse_tiff, b"II*\x00" + b"\xff" * 16) is None
    assert _safe(_parse_tiff, b"\x00" * 32) is None


def test_tiff_features_through_spark(spark):
    import numpy as np

    from lakota_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        classify_media,
        extract_features,
    )

    rgb = np.full((3, 5, 3), 100, dtype=np.uint8)
    blob = _mk_tiff(rgb)
    media = spark.createDataFrame(
        [(1, bytearray(blob), "image/tiff", len(blob), "{}")], MEDIA_SCHEMA
    )
    feat = extract_features(media).collect()[0].feature
    assert len(feat) == 13  # real decode, not the 8-float fallback
    assert feat[:2] == [5.0, 3.0]
    assert abs(feat[2] - 100.0) < 1e-9
    assert classify_media(media).collect()[0].kind == "tiff"


# ---- WebP VP8L golden tests (independent test-side encoder) ---------------


class _VP8LWriter:
    """Independent LSB-first bit writer + the spec's canonical-code
    emission (codes written MSB-first), so the decoder is checked
    against a second implementation, not itself."""

    def __init__(self):
        self._bits = []

    def u(self, v, n):
        for i in range(n):
            self._bits.append((v >> i) & 1)

    def code(self, code, length):  # huffman code bits, MSB-first
        for i in range(length - 1, -1, -1):
            self._bits.append((code >> i) & 1)

    def payload(self):
        out = bytearray((len(self._bits) + 7) // 8)
        for i, b in enumerate(self._bits):
            out[i >> 3] |= b << (i & 7)
        return bytes(out)


def _canon_codes(lengths):
    """Deflate-canonical codes from lengths — independent twin of the
    decoder's table builder."""
    max_len = max(lengths.values())
    bl = {}
    for l in lengths.values():
        bl[l] = bl.get(l, 0) + 1
    next_code, code = {}, 0
    for l in range(1, max_len + 1):
        code = (code + bl.get(l - 1, 0)) << 1
        next_code[l] = code
    out = {}
    for s in sorted(lengths):
        l = lengths[s]
        out[s] = (next_code[l], l)
        next_code[l] += 1
    return out


_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13,
              14, 15)


def _wr_simple(w, syms):
    w.u(1, 1)
    w.u(len(syms) - 1, 1)
    first = syms[0]
    if first > 1:
        w.u(1, 1)
        w.u(first, 8)
    else:
        w.u(0, 1)
        w.u(first, 1)
    if len(syms) == 2:
        w.u(syms[1], 8)
    # decode codes: first -> 0, second -> 1 (1 bit each)
    return {s: (i, 1) for i, s in enumerate(syms)} if len(syms) == 2 \
        else {first: (0, 0)}


def _wr_lengths(w, lengths, alphabet):
    """Emit a code-length-coded tree for {symbol: length} over the FULL
    ``alphabet`` (the decoder reads lengths to the alphabet size, so the
    trailing zero run must be emitted too); returns the symbol->(code,
    len) map for the payload emission. Zero runs compress via 17/18."""
    w.u(0, 1)  # not simple
    # RLE ops over the dense lengths array, INCLUDING trailing zeros
    ops = []
    sym = 0
    while sym < alphabet:
        if sym in lengths:
            ops.append(("len", lengths[sym]))
            sym += 1
            continue
        run = 0
        while sym < alphabet and sym not in lengths:
            run += 1
            sym += 1
        while run:
            if run < 3:
                ops.extend([("len", 0)] * run)
                run = 0
            elif run <= 10:
                ops.append((17, run - 3, 3))
                run = 0
            else:
                n = min(run, 138)
                ops.append((18, n - 11, 7))
                run -= n
    used = sorted({op[1] if op[0] == "len" else op[0] for op in ops})
    clc_bits = max((len(used) - 1).bit_length(), 1) if len(used) > 1 else 0
    clc_len = {s: (clc_bits or 1) for s in used} if len(used) > 1 else {}
    ncodes = max(_CLC_ORDER.index(s) for s in used) + 1
    ncodes = max(ncodes, 4)
    w.u(ncodes - 4, 4)
    for i in range(ncodes):
        w.u(clc_len.get(_CLC_ORDER[i], 0) if len(used) > 1 else (
            1 if _CLC_ORDER[i] == used[0] else 0), 3)
    w.u(0, 1)  # no explicit max_symbol
    clc_codes = _canon_codes(clc_len) if len(used) > 1 else {used[0]: (0, 0)}
    for op in ops:
        if op[0] == "len":
            c, l = clc_codes[op[1]]
            w.code(c, l)
        else:
            s, extra, nbits = op
            c, l = clc_codes[s]
            w.code(c, l)
            w.u(extra, nbits)
    return _canon_codes(lengths)


def _wrap_webp(payload):
    chunk = b"VP8L" + len(payload).to_bytes(4, "little") + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk


def _vp8l_head(w_, width, height, n_transform_bits=()):
    w_.u(0x2F, 8)
    w_.u(width - 1, 14)
    w_.u(height - 1, 14)
    w_.u(0, 1)  # alpha hint
    w_.u(0, 3)  # version
    for bit in n_transform_bits:
        w_.u(bit, 1)


def test_vp8l_dist_table_matches_spec_head():
    from lakota_spark.operators.multimodal import _VP8L_DIST

    assert len(_VP8L_DIST) == 120
    assert _VP8L_DIST[:10] == [
        (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
        (2, 1), (-2, 1),
    ]
    # spot pins deeper in the spec's literal table
    assert _VP8L_DIST[22] == (0, 4) and _VP8L_DIST[34] == (0, 5)
    assert _VP8L_DIST[105] == (8, 3) and _VP8L_DIST[104] == (-6, 6)
    assert _VP8L_DIST[96] == (8, 0) and _VP8L_DIST[119] == (8, 7)


def test_vp8l_simple_codes_two_color():
    import numpy as np

    from lakota_spark.operators.multimodal import _parse_webp

    w = _VP8LWriter()
    _vp8l_head(w, 4, 4)
    w.u(0, 1)  # no transforms
    w.u(0, 1)  # no color cache
    w.u(0, 1)  # no meta huffman
    g = _wr_simple(w, [40, 200])
    r = _wr_simple(w, [10, 250])
    b = _wr_simple(w, [0, 1])
    _wr_simple(w, [255])   # alpha: zero-bit
    _wr_simple(w, [0])     # distance: unused
    px = [(i + (i // 4)) % 2 for i in range(16)]  # checkerboard
    for p in px:
        c, l = g[[40, 200][p]]
        w.code(c, l)
        c, l = r[[10, 250][p]]
        w.code(c, l)
        c, l = b[[0, 1][p]]
        w.code(c, l)
        # alpha: zero bits
    got = _parse_webp(_wrap_webp(w.payload()))
    assert got is not None and got.shape == (4, 4, 3)
    exp = np.array(
        [[[250, 200, 1] if p else [10, 40, 0] for p in px[i * 4:i * 4 + 4]]
         for i in range(4)],
        dtype=np.uint8,
    )
    assert (got == exp).all()


def test_vp8l_lz77_and_color_cache():
    import numpy as np

    from lakota_spark.operators.multimodal import _parse_webp

    # pixels: A B B B B B A A (lit, lit, backref len4 dist1, 2 cache hits)
    A = (255 << 24) | (9 << 16) | (77 << 8) | 3
    cache_bits = 4
    idx_a = (0x1E35A7BD * A & 0xFFFFFFFF) >> (32 - cache_bits)
    B = (255 << 24) | (200 << 16) | (130 << 8) | 40
    idx_b = (0x1E35A7BD * B & 0xFFFFFFFF) >> (32 - cache_bits)
    assert idx_a != idx_b  # chosen to land in distinct cache slots
    w = _VP8LWriter()
    _vp8l_head(w, 8, 1)
    w.u(0, 1)              # no transforms
    w.u(1, 1)              # color cache
    w.u(cache_bits, 4)
    w.u(0, 1)              # no meta huffman
    # green alphabet: 77, 130 literals; 259 = length-4; 280+idx_a cache
    g = _wr_lengths(w, {77: 2, 130: 2, 259: 2, 280 + idx_a: 2},
                256 + 24 + (1 << cache_bits))
    r = _wr_simple(w, [9, 200])
    b = _wr_simple(w, [3, 40])
    _wr_simple(w, [255])
    d = _wr_simple(w, [13])  # dist prefix code 13 (+5 extra) -> 121
    def lit(pix, which):
        c, l = g[[77, 130][which]]
        w.code(c, l)
        c, l = r[[9, 200][which]]
        w.code(c, l)
        c, l = b[[3, 40][which]]
        w.code(c, l)
    lit(A, 0)
    lit(B, 1)
    c, l = g[259]            # backref: length code 3 -> 4 (no extra)
    w.code(c, l)
    # dist tree zero-bit -> code 13; extra 5 bits value 24 -> 121 -> dist 1
    w.u(24, 5)
    for _ in range(2):       # two cache hits for A
        c, l = g[280 + idx_a]
        w.code(c, l)
    got = _parse_webp(_wrap_webp(w.payload()))
    assert got is not None and got.shape == (1, 8, 3)
    exp_px = [(9, 77, 3), (200, 130, 40)] 
    order = [0, 1, 1, 1, 1, 1, 0, 0]
    exp = np.array([[exp_px[i] for i in order]], dtype=np.uint8)
    assert (got == exp).all()


def test_vp8l_subtract_green_and_2d_distance():
    import numpy as np

    from lakota_spark.operators.multimodal import _parse_webp

    # 4x2: row0 literal residuals, row1 = backref dist-code 1 ((0,1) ->
    # dist = width) copying row0 in residual space; subtract-green
    # inverse then adds green to red/blue
    w = _VP8LWriter()
    _vp8l_head(w, 4, 2, n_transform_bits=())
    w.u(1, 1)  # a transform follows
    w.u(2, 2)  # subtract-green
    w.u(0, 1)  # no more transforms
    w.u(0, 1)  # no cache
    w.u(0, 1)  # no meta
    greens = [10, 20, 30, 40]
    g = _wr_lengths(w, {10: 3, 20: 3, 30: 3, 40: 3, 256: 3}, 280)
    r = _wr_simple(w, [5])
    b = _wr_simple(w, [7])
    _wr_simple(w, [255])
    d = _wr_simple(w, [0])  # dist prefix code 0 -> value 1 -> table (0,1)
    for gv in greens:
        c, l = g[gv]
        w.code(c, l)
        # red/blue/alpha zero-bit
    c, l = g[256]  # length code 0 -> length 1? need length 4
    # length prefix code 0 gives length 1; emit 4 backrefs of length 1
    for _ in range(4):
        if _ > 0:
            c, l = g[256]
            w.code(c, l)
        else:
            w.code(c, l)
    got = _parse_webp(_wrap_webp(w.payload()))
    assert got is not None and got.shape == (2, 4, 3)
    row = [((5 + gv) % 256, gv, (7 + gv) % 256) for gv in greens]
    exp = np.array([row, row], dtype=np.uint8)
    assert (got == exp).all()


def test_vp8l_predictor_left():
    import numpy as np

    from lakota_spark.operators.multimodal import _parse_webp

    # 4x1 with predictor transform, mode 1 (left); pos0 predicts black
    w = _VP8LWriter()
    _vp8l_head(w, 4, 1)
    w.u(1, 1)  # transform present
    w.u(0, 2)  # predictor
    w.u(0, 3)  # size_bits = 2 -> 4-pixel blocks -> 1x1 transform image
    # sub-image (level0=False): no cache bit... cache bit IS read
    w.u(0, 1)  # no color cache (sub-image)
    g = _wr_simple(w, [1])    # predictor mode 1 in GREEN channel
    _wr_simple(w, [0])        # red
    _wr_simple(w, [0])        # blue
    _wr_simple(w, [0])        # alpha
    _wr_simple(w, [0])        # distance
    # single transform pixel: all zero-bit trees -> no payload bits
    w.u(0, 1)  # no more transforms
    # main image
    w.u(0, 1)  # no cache
    w.u(0, 1)  # no meta
    g = _wr_lengths(w, {0: 2, 10: 2, 2: 2, 3: 2}, 280)
    r = _wr_simple(w, [0, 1])
    b = _wr_simple(w, [0, 2])
    _wr_simple(w, [0, 255])
    _wr_simple(w, [0])
    # residuals: pixel0 (a=0 r=1 g=10 b=2) + black -> a=255 r=1 g=10 b=2
    seq = [
        (0, 10, 0, 255),   # wait: order per pixel is g, r, b, a reads
    ]
    # pixel0: green 10, red 1, blue 2, alpha 0 (black pred adds a=255)
    c, l = g[10]; w.code(c, l)
    c, l = r[1]; w.code(c, l)
    c, l = b[2]; w.code(c, l)
    c, l = _canon_codes({0: 1, 255: 1})[0]  # alpha simple [0,255]: 0 -> code 0
    w.u(0, 1)
    # pixels 1..3: residual +(r=0,g=2,b=0,a=0) each (pred = left)
    for _ in range(3):
        c, l = g[2]; w.code(c, l)
        c, l = r[0]; w.code(c, l)
        c, l = b[0]; w.code(c, l)
        w.u(0, 1)  # alpha symbol 0 (code 0)
    got = _parse_webp(_wrap_webp(w.payload()))
    assert got is not None and got.shape == (1, 4, 3)
    exp = np.array([[(1, 10, 2), (1, 12, 2), (1, 14, 2), (1, 16, 2)]],
                   dtype=np.uint8)
    assert (got == exp).all()


def test_vp8l_color_indexing_palette():
    import numpy as np

    from lakota_spark.operators.multimodal import _parse_webp

    # 8x1, 4-color palette -> 2 packed pixels (4 indices per green byte)
    w = _VP8LWriter()
    _vp8l_head(w, 8, 1)
    w.u(1, 1)  # transform present
    w.u(3, 2)  # color indexing
    w.u(3, 8)  # 4 colors
    # palette image 4x1 (level0=False): first color then per-channel deltas
    w.u(0, 1)  # no cache
    g = _wr_simple(w, [10, 5])
    r = _wr_simple(w, [20, 5])
    b = _wr_simple(w, [30, 5])
    a = _wr_simple(w, [255, 0])
    _wr_simple(w, [0])
    pal_syms = [(0, 0, 0, 0), (1, 1, 1, 1), (1, 1, 1, 1), (1, 1, 1, 1)]
    for gg, rr, bb, aa in pal_syms:
        c, l = g[[10, 5][gg]]; w.code(c, l)
        c, l = r[[20, 5][rr]]; w.code(c, l)
        c, l = b[[30, 5][bb]]; w.code(c, l)
        c, l = a[[255, 0][aa]]; w.code(c, l)
    w.u(0, 1)  # no more transforms
    # main packed image 2x1
    w.u(0, 1)  # no cache
    w.u(0, 1)  # no meta
    g = _wr_simple(w, [0b11100100, 0b00011011])  # [0,1,2,3], [3,2,1,0]
    _wr_simple(w, [0])
    _wr_simple(w, [0])
    _wr_simple(w, [0])
    _wr_simple(w, [0])
    c, l = g[0b11100100]; w.code(c, l)
    c, l = g[0b00011011]; w.code(c, l)
    got = _parse_webp(_wrap_webp(w.payload()))
    assert got is not None and got.shape == (1, 8, 3)
    pal = [(20, 10, 30), (25, 15, 35), (30, 20, 40), (35, 25, 45)]
    exp = np.array([[pal[i] for i in [0, 1, 2, 3, 3, 2, 1, 0]]],
                   dtype=np.uint8)
    assert (got == exp).all()


def test_vp8l_rejections_and_fuzz():
    import random

    from lakota_spark.operators.multimodal import _parse_webp, _safe

    assert _parse_webp(b"RIFF\x00\x00\x00\x00WAVE") is None
    assert _parse_webp(b"RIFF\x04\x00\x00\x00WEBPVP8 ") is None  # lossy
    # truncated VP8L chunk must not be claimed
    assert _parse_webp(_wrap_webp(b"\x2f\x00")) is None
    rng = random.Random(9)
    for _ in range(300):
        n = rng.randrange(0, 120)
        blob = _wrap_webp(
            b"\x2f" + bytes(rng.randrange(256) for _ in range(n))
        )
        out = _safe(_parse_webp, blob)
        assert out is None or out.ndim == 3


def test_vp8l_features_through_spark(spark):
    # the decode ladder claims webp payloads inside the Arrow-batched
    # extract_features stage, and triage classifies the container
    import pandas as pd

    from lakota_spark.operators.multimodal import (
        classify_media,
        extract_features,
    )

    w = _VP8LWriter()
    _vp8l_head(w, 4, 4)
    w.u(0, 1)
    w.u(0, 1)
    w.u(0, 1)
    g = _wr_simple(w, [50])
    _wr_simple(w, [100])
    _wr_simple(w, [150])
    _wr_simple(w, [255])
    _wr_simple(w, [0])
    # all trees zero-bit: 16 literal pixels cost no bits
    blob = _wrap_webp(w.payload())
    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [1],
                "payload": [blob],
                "mime": ["image/webp"],
                "n_bytes": [len(blob)],
            }
        )
    )
    row = extract_features(media).collect()[0]
    # [w, h, mean_r, mean_g, mean_b, ...] — constant color decodes exact
    assert row["feature"][:5] == [4.0, 4.0, 100.0, 50.0, 150.0]
    kind = classify_media(media).collect()[0]["kind"]
    assert kind == "webp"


def test_html_extract_semantics(spark):
    from lakota_spark.operators.text import html_extract

    rows = [
        # head (title/style/script) vanishes; blocks become newlines;
        # entities decode with &amp; LAST; whitespace collapses
        (1, "<html><head><title>T</title><style>p{}</style>"
            "<script>var a=1;</script></head><body>"
            "<div id='nav'><a href='/'>Home</a> <a href='/n'>Next</a></div>"
            "<p>Hello &amp; world</p><!-- c --><div>foot</div>"
            "</body></html>"),
        (2, "<p>plain</p>"),
        (3, "no markup at all"),
        (4, "<a>x</a><a>y</a>"),
        (5, "<p>a &amp;lt; b</p>"),           # no double-decode
        (6, "<BR/>line1<br>line2<BR />"),     # case + self-closing br
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    out = {r.doc_id: r for r in html_extract(df).collect()}
    assert out[1].text == "Home Next\nHello & world\nfoot"
    assert out[1].n_links == 2 and out[1].n_tags == 23  # <!-- --> counts
    assert abs(out[1].link_density - 8 / 28) < 1e-12
    assert out[2].text == "plain" and out[2].n_links == 0
    assert out[3].text == "no markup at all" and out[3].n_tags == 0
    assert out[4].text == "x y" and abs(out[4].link_density - 2 / 3) < 1e-12
    assert out[5].text == "a &lt; b"
    assert out[6].text == "line1\nline2"


def test_html_extract_plan_is_single_projection(spark):
    # the whole extraction chain is one codegen projection: no join, no
    # keyed (hash) shuffle.  Since r14 the guarded ensure_parallelism
    # round-robins the under-parallel single-file input first (a no-op
    # on a well-partitioned scan), so the only Exchange allowed is that
    # ONE round-robin repartition.
    import re

    from lakota_spark import plans
    from lakota_spark.queries import pipeline

    df = pipeline.html_extract_quality(spark, "/root/testdata/sf0.001")
    plan = plans.explain_str(df, "simple")
    exchanges = re.findall(r"\bExchange \w+", plan)
    assert all("RoundRobin" in e for e in exchanges), plan
    assert len(exchanges) <= 1, plan
    assert plans.join_strategies(df) == []


def test_conversation_stats_semantics(spark):
    from lakota_spark.operators.sft import conversation_stats

    rows = [
        (1, "user: hi there\nassistant: hello: how can I help\n"
            "user: bye\nassistant: later"),
        (2, "assistant: starts wrong\nuser: q"),
        (3, "user: a\nuser: b\nassistant: c"),   # broken alternation
        (4, "no roles here"),                     # role-less line
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in conversation_stats(df).collect()}
    assert (out[1].n_turns, out[1].n_user, out[1].n_assistant) == (4, 2, 2)
    assert out[1].starts_user and out[1].alternates
    # content keeps its own colons: only the FIRST anchored 'role: '
    # strips, so assistant chars include 'hello: how can I help'
    assert abs(out[1].assistant_share - 26 / 37) < 1e-12
    import hashlib

    assert out[1].prompt_digest == hashlib.md5(b"hi there").hexdigest()
    assert not out[2].starts_user
    assert not out[3].alternates
    assert (out[4].n_user, out[4].n_assistant) == (0, 0)
    # no user turn: digest of the empty prompt (stable sentinel)
    assert out[4].prompt_digest == hashlib.md5(b"").hexdigest()


def test_sft_report_plan_is_single_projection(spark):
    from lakota_spark import plans
    from lakota_spark.queries import pipeline

    df = pipeline.sft_conversation_report(spark, "/root/testdata/sf0.001")
    plan = plans.explain_str(df, "simple")
    assert "Exchange" not in plan, plan
    assert plans.join_strategies(df) == []


def test_url_stats_semantics(spark):
    from lakota_spark.operators.text import url_stats

    rows = [
        (1, "https://www.example.co.uk/a/b/c?x=1&y=2"),
        (2, "http://user:pw@blog.example.com:8080/post#frag"),
        (3, "https://example.org"),
        (4, "not a url"),
        (5, "https://deep.sub.site.ac.jp/x?only"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r.doc_id: r for r in url_stats(df).collect()}
    assert (out[1].scheme, out[1].domain, out[1].path_depth,
            out[1].n_params) == ("https", "example.co.uk", 3, 2)
    # userinfo and port stripped; registrable = last two labels
    assert (out[2].host, out[2].domain) == ("blog.example.com",
                                            "example.com")
    assert out[2].n_params == 0  # fragment is not a query
    assert (out[3].path_depth, out[3].n_params) == (0, 0)
    assert (out[4].scheme, out[4].host, out[4].domain) == ("", "", "")
    assert out[5].domain == "site.ac.jp" and out[5].n_params == 1


def test_registrable_domain_full_psl(spark):
    # VERDICT r9 #6: the bundled FULL Public Suffix List replaces the
    # _TLD2_RE approximation — co.kr-style registries the regex
    # mis-folded, wildcard rules (*.kawasaki.jp), exception rules
    # (!www.ck, !city.kawasaki.jp), public-suffix passthrough, case
    # normalization, and the icann/private section switch
    from lakota_spark.operators.text import registrable_domain, url_stats

    rows = [
        (1, "bar.foo.co.kr", "foo.co.kr"),      # regex said 'co.kr'
        (2, "foo.co.kr", "foo.co.kr"),
        (3, "a.b.kawasaki.jp", "a.b.kawasaki.jp"),   # *.kawasaki.jp
        (4, "www.city.kawasaki.jp", "city.kawasaki.jp"),  # exception
        (5, "www.ck", "www.ck"),                 # !www.ck
        (6, "x.bd", "x.bd"),                     # host IS a suffix
        (7, "EXAMPLE.Org", "example.org"),       # case-normalized
        (8, "single", "single"),
        (9, "sub.example.com", "example.com"),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, h, _ in rows], "doc_id long, host string"
    )
    got = {
        r.doc_id: r.domain for r in registrable_domain(df).collect()
    }
    assert got == {i: d for i, _, d in rows}
    # private section: hosted subdomains become independent sites
    gh = spark.createDataFrame(
        [(1, "alice.github.io"), (2, "deep.alice.github.io"),
         (3, "s3.amazonaws.com")],
        "doc_id long, host string",
    )
    icann = {r.doc_id: r.domain for r in registrable_domain(gh).collect()}
    both = {
        r.doc_id: r.domain
        for r in registrable_domain(
            gh, sections=("icann", "private")
        ).collect()
    }
    assert icann == {1: "github.io", 2: "github.io", 3: "amazonaws.com"}
    assert both[1] == "alice.github.io" and both[2] == "alice.github.io"
    # unicode rules match both spellings (punycode doubled at load)
    uni = spark.createDataFrame(
        [(1, "foo.xn--55qx5d.cn")], "doc_id long, host string"
    )  # 公司.cn
    assert registrable_domain(uni).collect()[0].domain == (
        "foo.xn--55qx5d.cn"
    )
    # url_stats(psl=False) keeps the legacy join-free approximation
    legacy = url_stats(
        spark.createDataFrame(
            [(1, "https://bar.foo.co.kr/")], "doc_id long, url string"
        ),
        psl=False,
    ).collect()[0]
    assert legacy.domain == "co.kr"  # the documented old behavior


def test_vp8_lossy_dims_header_walk():
    from lakota_spark.operators.multimodal import _parse_vp8_dims, _safe

    def mk_vp8(w, h, keyframe=True, start=b"\x9d\x01\x2a"):
        tag = (0 if keyframe else 1).to_bytes(3, "little")
        body = tag + start + w.to_bytes(2, "little") + h.to_bytes(
            2, "little") + b"\x00" * 16
        chunk = b"VP8 " + len(body).to_bytes(4, "little") + body
        return (b"RIFF" + (4 + len(chunk)).to_bytes(4, "little")
                + b"WEBP" + chunk)

    assert _parse_vp8_dims(mk_vp8(640, 480)) == (640, 480)
    # scale bits in the top 2 bits are masked out of the dimension
    assert _parse_vp8_dims(mk_vp8(640 | 0x4000, 480)) == (640, 480)
    assert _parse_vp8_dims(mk_vp8(640, 480, keyframe=False)) is None
    assert _parse_vp8_dims(mk_vp8(640, 480, start=b"\x00\x01\x2a")) is None
    assert _parse_vp8_dims(b"RIFF\x04\x00\x00\x00WAVE") is None
    import random

    rng = random.Random(11)
    for _ in range(200):
        blob = b"RIFF" + bytes(rng.randrange(256) for _ in range(
            rng.randrange(0, 60)))
        out = _safe(_parse_vp8_dims, blob)
        assert out is None or len(out) == 2


def test_vp8l_meta_huffman_groups():
    import numpy as np

    from lakota_spark.operators.multimodal import _parse_webp

    # 8x1, huffman_bits=2 -> 4-pixel blocks -> meta image 2x1 selecting
    # group 0 for the left half and group 1 for the right: the two
    # groups carry DIFFERENT literal trees, so a group-selection bug
    # cannot decode to the expected pixels
    w = _VP8LWriter()
    _vp8l_head(w, 8, 1)
    w.u(0, 1)  # no transforms
    w.u(0, 1)  # no color cache
    w.u(1, 1)  # meta huffman present
    w.u(0, 3)  # huffman_bits = 2
    # meta image 2x1 (level0=False): pixels' (red<<8)|green = group idx
    w.u(0, 1)  # no cache (meta image)
    mg = _wr_simple(w, [0, 1])   # green channel: 0 then 1
    _wr_simple(w, [0])           # red 0 (groups 0 and 1)
    _wr_simple(w, [0])           # blue
    _wr_simple(w, [0])           # alpha
    _wr_simple(w, [0])           # distance
    c, l = mg[0]; w.code(c, l)   # meta pixel 0 -> group 0
    c, l = mg[1]; w.code(c, l)   # meta pixel 1 -> group 1
    # two tree groups: group 0 emits green 11, group 1 green 222
    g0 = _wr_simple(w, [11]); _wr_simple(w, [1]); _wr_simple(w, [2])
    _wr_simple(w, [255]); _wr_simple(w, [0])
    g1 = _wr_simple(w, [222]); _wr_simple(w, [3]); _wr_simple(w, [4])
    _wr_simple(w, [255]); _wr_simple(w, [0])
    # 8 literal pixels: all trees zero-bit -> no payload bits at all
    got = _parse_webp(_wrap_webp(w.payload()))
    assert got is not None and got.shape == (1, 8, 3)
    exp = np.array(
        [[(1, 11, 2)] * 4 + [(3, 222, 4)] * 4], dtype=np.uint8
    )
    assert (got == exp).all()


def test_conversation_stats_differential(spark):
    # 200 random conversations vs an independent pure-python reference
    # computing the same stats from the raw text
    import hashlib
    import random

    from lakota_spark.operators.sft import conversation_stats

    rng = random.Random(0)
    roles = ["user", "assistant", "tool", "system", ""]
    words = ["alpha", "beta:", "gamma", "x", "longer content here"]
    rows = []
    for i in range(200):
        lines = []
        for _ in range(rng.randrange(1, 7)):
            role = rng.choice(roles)
            content = " ".join(
                rng.choice(words) for _ in range(rng.randrange(0, 4))
            )
            lines.append(f"{role}: {content}" if role else content)
        rows.append((i, "\n".join(lines)))

    def ref(text):
        import re

        turns = text.split("\n")
        parsed = []
        for t in turns:
            m = re.match(r"^([A-Za-z]+): ", t)
            role = m.group(1) if m else ""
            content = t[m.end():] if m else t
            parsed.append((role, content))
        n_user = sum(1 for r, _ in parsed if r == "user")
        n_asst = sum(1 for r, _ in parsed if r == "assistant")
        alt = all(
            parsed[i][0] != parsed[i + 1][0] for i in range(len(parsed) - 1)
        )
        uc = sum(len(c) for r, c in parsed if r == "user")
        ac = sum(len(c) for r, c in parsed if r == "assistant")
        first = next((c for r, c in parsed if r == "user"), "")
        return (
            len(parsed), n_user, n_asst, parsed[0][0] == "user", alt,
            ac / max(uc + ac, 1),
            hashlib.md5(first.encode()).hexdigest(),
        )

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in conversation_stats(df).collect()}
    for i, text in rows:
        r = got[i]
        exp = ref(text)
        assert (
            r.n_turns, r.n_user, r.n_assistant, r.starts_user,
            r.alternates, r.assistant_share, r.prompt_digest,
        ) == exp, (i, text)


def test_url_stats_differential(spark):
    # 200 constructed URLs vs urllib.parse for the standard fields
    import random
    from urllib.parse import urlparse

    from lakota_spark.operators.text import url_stats

    rng = random.Random(1)
    rows = []
    for i in range(200):
        scheme = rng.choice(["http", "https", "ftp"])
        host = ".".join(
            rng.choice(["www", "a", "blog", "x9"])
            for _ in range(rng.randrange(1, 4))
        ) + rng.choice([".com", ".org", ".co.uk", ".io"])
        port = rng.choice(["", ":8080"])
        user = rng.choice(["", "u:p@"])
        path = "".join(f"/p{j}" for j in range(rng.randrange(0, 4)))
        q = rng.choice(["", "?a=1", "?a=1&b=2&c=3"])
        frag = rng.choice(["", "#frag"])
        rows.append((i, f"{scheme}://{user}{host}{port}{path}{q}{frag}"))
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r.doc_id: r for r in url_stats(df).collect()}
    for i, url in rows:
        p = urlparse(url)
        r = got[i]
        assert r.scheme == p.scheme, url
        assert r.host == (p.hostname or ""), url
        assert r.path_depth == len([s for s in p.path.split("/") if s]), url
        assert r.n_params == (len(p.query.split("&")) if p.query else 0), url


def test_vp8l_cap_lifted_and_seq_budget(monkeypatch):
    # VERDICT r9 #5: the 1 MPix python-loop cap is gone — a 1.5 MPix
    # image (over the old 1<<20 bound) decodes through the table-driven
    # loop; LZ77 backrefs copy via C-speed slices so the payload is tiny
    import numpy as np

    from lakota_spark.operators import multimodal as M
    from lakota_spark.operators.multimodal import _parse_webp

    wd, h = 1536, 1024            # 1.57 MPix > the old 1 MPix cap
    n = wd * h
    w = _VP8LWriter()
    _vp8l_head(w, wd, h)
    w.u(0, 1)  # no transforms
    w.u(0, 1)  # no color cache
    w.u(0, 1)  # no meta huffman
    g = _wr_lengths(w, {20: 1, 256 + 23: 1}, 280)  # literal g=20 + len code
    r = _wr_simple(w, [10])
    b = _wr_simple(w, [30])
    _wr_simple(w, [255])   # alpha
    _wr_simple(w, [1])     # distance symbol 1 -> dcode 2 -> map (1,0) -> dist 1
    c, l = g[20]
    w.code(c, l)           # ONE literal pixel
    left = n - 1
    while left:
        ln = min(left, 4096)
        c, l = g[256 + 23]
        w.code(c, l)                 # length prefix 23: 3072 + extra + 1
        w.u(ln - 3073, 10)
        left -= ln
    got = _parse_webp(_wrap_webp(w.payload()))
    assert got is not None and got.shape == (h, wd, 3)
    assert (got[0, 0] == (10, 20, 30)).all() and (got[-1, -1] == (10, 20, 30)).all()
    assert (got == got[0, 0]).all()
    # the remaining amplification vector is budgeted by COST: an all-L
    # predictor image trips the sequential-pixel budget and falls back
    sub = (np.full(1, 1, dtype=np.uint32) << 8)  # one mode-1 block
    res = np.zeros(16 * 16, dtype=np.uint32)
    assert M._vp8l_unpredict(res.copy(), 16, 16, 4, sub, 1) is not None
    monkeypatch.setattr(M, "_VP8L_MAX_SEQ_PIXELS", 10)
    import pytest

    with pytest.raises(ValueError, match="sequential-pixel budget"):
        M._vp8l_unpredict(res.copy(), 16, 16, 4, sub, 1)


def test_registrable_domain_differential_battery(spark):
    # independent PSL reference: the CANONICAL algorithm (find all
    # matching rules; an exception prevails as its own tail; else the
    # longest match; else the implicit '*') implemented test-side over
    # the same parsed rule rows, run against 400 seeded random hosts
    # built from real suffixes, wildcard bases, exceptions and garbage
    import random

    from lakota_spark.operators.text import _psl_rules, registrable_domain

    rules = _psl_rules(("icann",))
    exact = {s for s, _, ex, _, _ in rules if ex}
    wild = {s for s, _, _, wd, _ in rules if wd}
    exc = {s for s, _, _, _, xc in rules if xc}

    def reference(host):
        labels = host.lower().split(".")
        best = 0  # implicit '*' rule: ps = 1 label
        exc_len = None
        for k in range(1, len(labels) + 1):
            sfx = ".".join(labels[-k:])
            if sfx in exc:
                exc_len = k - 1
            if sfx in exact and k > best:
                best = k
            if sfx in wild and len(labels) > k and k + 1 > best:
                best = k + 1
        p = exc_len if exc_len is not None else max(best, 1)
        if len(labels) <= p:
            return host.lower()
        return ".".join(labels[-(p + 1):])

    rng = random.Random(17)
    pool = sorted(exact)[:4000]
    hosts = []
    for _ in range(400):
        kind = rng.randrange(6)
        extra = ["".join(rng.choices("abcxyz", k=rng.randint(1, 4)))
                 for _ in range(rng.randint(0, 3))]
        if kind == 0:
            base = rng.choice(pool)
        elif kind == 1:
            base = rng.choice(sorted(wild))
        elif kind == 2:
            base = rng.choice(sorted(exc))
        elif kind == 3:
            base = rng.choice(pool) + "." + rng.choice(pool).split(".")[-1]
        elif kind == 4:
            base = "not-a-tld"
        else:
            base = rng.choice(["Co.UK", "example.COM", "x"])
        host = ".".join(extra + [base]) if extra else base
        hosts.append(host)
    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(hosts)], "doc_id long, host string"
    )
    got = {r.doc_id: r.domain for r in registrable_domain(df).collect()}
    for i, h in enumerate(hosts):
        assert got[i] == reference(h), (h, got[i], reference(h))


def test_mips_topk_exact_with_pruning(spark):
    # exact max-inner-product under Cauchy-Schwarz block pruning: equals
    # brute force on every query; a dominant-norm block prunes the rest
    import random

    from lakota_spark.functions import dot
    from lakota_spark.operators.similarity import mips_topk
    from pyspark.sql import functions as F

    rng = random.Random(41)
    rows = []
    for i in range(300):
        blk = f"b{i % 6}"
        scale = 10.0 if blk == "b0" else 1.0  # b0 holds the big norms
        rows.append((i, blk, [rng.uniform(-1, 1) * scale for _ in range(8)]))
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )
    for trial in range(3):
        qv = [rng.uniform(-1, 1) for _ in range(8)]
        got = [
            (r.vec_id, r.ip)
            for r in mips_topk(
                df, qv, k=10, probe=2, block_col="label"
            ).collect()
        ]
        q = F.array(*[F.lit(float(x)) for x in qv])
        want = [
            (r.vec_id, r.ip)
            for r in df.select(
                "vec_id", F.round(dot(F.col("embedding"), q), 6).alias("ip")
            )
            .orderBy(F.col("ip").desc(), "vec_id")
            .limit(10)
            .collect()
        ]
        assert got == want, trial
    # prune-to-nothing: all of b0's bounds dominate; with probe covering
    # b0 the phase-2 block list is empty and the phase-1 frame returns
    sub = df.where("label in ('b0','b1')")
    out = mips_topk(sub, [1.0] * 8, k=5, probe=1, block_col="label")
    ids = {r.vec_id for r in out.collect()}
    assert ids <= {i for i, b, _ in rows if b == "b0"}


def test_pagerank_integer_exact_vs_reference(spark):
    # tiny graph replayed by a python reference with the SAME integer
    # rules; determinism under arbitrary input partitioning
    from collections import defaultdict

    from lakota_spark.operators.graph import pagerank

    edges = [(0, 1), (1, 2), (2, 0), (2, 1), (3, 1), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.rank_micro for r in pagerank(df, n_iter=5).collect()
    }

    deg = defaultdict(int)
    for s, _ in edges:
        deg[s] += 1
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    r = {n: 1_000_000 for n in nodes}
    for _ in range(5):
        s = defaultdict(int)
        for u, v in edges:
            s[v] += r[u] // deg[u]
        r = {n: 150_000 + (85 * s.get(n, 0)) // 100 for n in nodes}
    assert got == r
    # no in-links -> the base rank exactly
    assert r[3] == 150_000
    again = {
        r2.node: r2.rank_micro
        for r2 in pagerank(df.repartition(7), n_iter=5).collect()
    }
    assert again == got


def test_exact_group_quantiles_matches_row_number_form(spark):
    import random

    from lakota_spark.operators.sampling import exact_group_quantiles

    rng = random.Random(5)
    rows = [("hot", float(rng.randrange(25)) / 2) for _ in range(800)]
    rows += [("mid", float(rng.randrange(500)) / 8) for _ in range(47)]
    rows += [("one", 3.5)]
    df = spark.createDataFrame(rows, "g string, v double")
    qs = ((0, 1), (1, 4), (1, 2), (3, 4), (9, 10), (1, 1))
    got = {
        (r.g, r.q): r.value
        for r in exact_group_quantiles(
            df, "g", "v", qs, n_parts=5
        ).collect()
    }
    for g in ("hot", "mid", "one"):
        vals = sorted(v for gg, v in rows if gg == g)
        n = len(vals)
        for num, den in qs:
            m = (num * (n - 1)) // den + 1
            assert got[(g, f"{num}/{den}")] == vals[m - 1], (g, num, den)
    # extremes behave: 0/1 = min, 1/1 = max
    assert got[("one", "0/1")] == got[("one", "1/1")] == 3.5
    with __import__("pytest").raises(ValueError):
        exact_group_quantiles(df, "g", "v", ((3, 2),)).collect()


def test_temperature_resample_semantics(spark):
    """Skewed corpus: the rare group upsamples (reps>1 possible), the
    dominant group thins; expected output mass tracks the budget; the
    whole thing is a pure function of doc ids (rerun-identical)."""
    from lakota_spark.operators.sampling import temperature_resample

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_resample(df, "lang", alpha=0.5, id_col="doc_id")
    per = {
        r["lang"]: (r["n_out"], r["max_rep"])
        for r in out.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_out"),
            F.max("rep_idx").alias("max_rep"),
        )
        .collect()
    }
    # sqrt flattening: weights ~ (30, 10)/40 -> big expects
    # 1000*0.75=750 (thinned from 900), small expects 250 (boost 2.5x)
    assert 700 <= per["big"][0] <= 800
    assert 220 <= per["small"][0] <= 280
    assert per["small"][1] >= 2  # genuine upsampling by repetition
    assert per["big"][1] == 1
    # deterministic: identical output set on recompute
    a = sorted((r.doc_id, r.rep_idx) for r in out.collect())
    b = sorted(
        (r.doc_id, r.rep_idx)
        for r in temperature_resample(
            df, "lang", alpha=0.5, id_col="doc_id"
        ).collect()
    )
    assert a == b


def test_temperature_resample_budget_and_cap(spark):
    from lakota_spark.operators.sampling import temperature_resample

    rows = [(i, "big" if i < 990 else "tiny") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    # budget 3x the corpus with a severe 99:1 skew -> tiny boosts hard
    out = temperature_resample(
        df, "lang", alpha=0.5, budget=3000, id_col="doc_id", max_repeat=4
    )
    per = {
        r["lang"]: (r["n_out"], r["max_rep"])
        for r in out.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_out"),
            F.max("rep_idx").alias("max_rep"),
        )
        .collect()
    }
    # uncapped tiny boost would be 3000*(sqrt(10)/ (sqrt(990)+sqrt(10)))
    # / 10 ≈ 27x; the cap pins every tiny doc at EXACTLY max_repeat
    assert per["tiny"] == (40, 4)
    assert per["big"][1] <= 4


def test_decayed_sum_semantics(spark):
    """Hand-checked ladder: current row weighs 2^30, previous 2^29...,
    horizon truncates, keys partition, ties break on the tiebreak col."""
    from lakota_spark.operators.timeseries import decayed_sum

    rows = [
        ("u1", 1, 0, 3),
        ("u1", 2, 1, 5),
        ("u1", 3, 2, 7),
        ("u2", 4, 0, 11),
        # same ts as event 5 below: event_id orders them
        ("u2", 5, 1, 13),
        ("u2", 6, 1, 17),
    ]
    df = spark.createDataFrame(rows, "u string, eid long, t long, v long")
    out = decayed_sum(
        df, "t", "u", F.col("v"), horizon=2, shift=4, tiebreak="eid"
    )
    got = {r.eid: r.decayed for r in out.collect()}
    assert got == {
        1: 3 * 16,
        2: 5 * 16 + 3 * 8,
        3: 7 * 16 + 5 * 8,  # horizon=2 truncates event 1
        4: 11 * 16,
        5: 13 * 16 + 11 * 8,
        6: 17 * 16 + 13 * 8,
    }


def _cdc_ref(text, k=8, base=31, modulus=1 << 25, divisor=256):
    """Independent loop-based reference for cdc_chunks boundaries."""
    n = len(text)
    bounds = []
    for i in range(k, n + 1):  # 1-based end positions
        h = 0
        for j in range(k):
            h += ord(text[i - 1 - j]) * (base**j % modulus)
        if (h % modulus) % divisor == 0:
            bounds.append(i)
    if not bounds or bounds[-1] != n:
        bounds.append(n)
    out, prev = [], 0
    for ci, b in enumerate(bounds):
        out.append((ci, prev + 1, b - prev, text[prev:b]))
        prev = b
    return out


def test_cdc_chunks_differential(spark):
    import random

    from lakota_spark.operators.dedup import cdc_chunks

    rng = random.Random(99)
    rows = [
        (i, "".join(chr(rng.randrange(97, 123)) for _ in range(ln)))
        for i, ln in enumerate([0, 3, 7, 8, 9, 200, 1500, 4000])
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    out = cdc_chunks(df, keep_text=True).collect()
    for r in out:
        got.setdefault(r.doc_id, []).append(
            (r.chunk_idx, r.start, r.chunk_len, r.chunk_text)
        )
    for doc_id, text in rows:
        exp = _cdc_ref(text)
        if len(text) == 0:
            assert doc_id not in got
            continue
        assert sorted(got[doc_id]) == exp, doc_id
        # chunks reconstruct the document exactly
        assert "".join(t for *_, t in sorted(got[doc_id])) == text


def test_cdc_chunks_insertion_robust(spark):
    """THE content-defined property: an insertion near the head only
    re-chunks its neighborhood — fixed-width chunking would shift every
    downstream chunk."""
    import random

    from lakota_spark.operators.dedup import cdc_chunks

    rng = random.Random(4)
    text = "".join(chr(rng.randrange(97, 123)) for _ in range(5000))
    edited = text[:100] + "INSERTED" + text[100:]
    df = spark.createDataFrame(
        [(0, text), (1, edited)], "doc_id long, text string"
    )
    out = cdc_chunks(df).collect()
    a = {r.chunk_hash for r in out if r.doc_id == 0}
    b = {r.chunk_hash for r in out if r.doc_id == 1}
    # at least all-but-3 of the original chunks survive the edit
    assert len(a - b) <= 3 and len(a) > 10
    # fixed-width chunking shares (almost) nothing after the edit
    fixed_a = {text[i : i + 256] for i in range(0, len(text), 256)}
    fixed_b = {edited[i : i + 256] for i in range(0, len(edited), 256)}
    assert len(fixed_a & fixed_b) <= 1


def test_decayed_sum_null_keeps_slot(spark):
    """A null value contributes nothing but still occupies its time
    slot (collect_list would silently drop it and double-weight the
    older row)."""
    from lakota_spark.operators.timeseries import decayed_sum

    rows = [("u", 1, 0, 10), ("u", 2, 1, None), ("u", 3, 2, 3)]
    df = spark.createDataFrame(rows, "u string, eid long, t long, v long")
    out = decayed_sum(
        df, "t", "u", F.col("v"), horizon=3, shift=4, tiebreak="eid"
    )
    got = {r.eid: r.decayed for r in out.collect()}
    assert got == {
        1: 10 * 16,
        2: 0 * 16 + 10 * 8,
        3: 3 * 16 + 0 * 8 + 10 * 4,  # the 10 is at distance 2, not 1
    }


def test_decayed_sum_horizon_guard(spark):
    """horizon > shift + 1 would need fractional integer weights —
    explicit ValueError at plan-build time, not a bare `negative shift
    count` from `1 << (shift - j)` (ADVICE r10)."""
    from lakota_spark.operators.timeseries import decayed_sum

    import pytest

    df = spark.createDataFrame(
        [("u", 1, 0, 10)], "u string, eid long, t long, v long"
    )
    with pytest.raises(ValueError, match="horizon.*shift"):
        decayed_sum(df, "t", "u", F.col("v"), horizon=32, shift=30)
    with pytest.raises(ValueError, match="horizon"):
        decayed_sum(df, "t", "u", F.col("v"), horizon=0, shift=30)
    # boundary horizon == shift + 1 is legal (smallest weight = 2**0)
    out = decayed_sum(
        df, "t", "u", F.col("v"), horizon=3, shift=2, tiebreak="eid"
    )
    assert out.collect()[0].decayed == 10 * 4


def test_priority_sample_weighting_and_determinism(spark):
    from lakota_spark.operators.sampling import priority_sample_per_group

    rows = [(i, "g", 100 if i < 50 else 1) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, g string, w long")
    picks = []
    for salt in ("a", "b", "c", "d"):
        out = priority_sample_per_group(
            df, k=25, group_col="g",
            weight="w", id_col="doc_id", salt=salt,
        ).collect()
        assert len(out) == 25
        assert sorted(r.prio_rank for r in out) == list(range(1, 26))
        picks.append({r.doc_id for r in out})
    # heavy rows (weight 100, 10% of corpus) dominate the sample
    heavy = sum(len([d for d in p if d < 50]) for p in picks) / 4
    assert heavy > 15  # E[heavy] ~= 23 of 25; uniform would give 2.5
    # deterministic per salt
    again = priority_sample_per_group(
        df, k=25, group_col="g", weight="w", id_col="doc_id", salt="a"
    ).collect()
    assert {r.doc_id for r in again} == picks[0]
    # zero/negative weights are never sampled
    df2 = spark.createDataFrame(
        [(1, 0), (2, -5), (3, 10)], "doc_id long, w long"
    ).withColumn("g", F.lit("g"))
    out2 = priority_sample_per_group(
        df2, k=3, group_col="g", weight="w", id_col="doc_id"
    ).collect()
    assert [r.doc_id for r in out2] == [3]


# ---------------------------------------------------------------------------
# Round 12 (VERDICT r11 #4): multiplexed Ogg page walk + BMFF codec ids
# — golden-pinned against an INDEPENDENT test-side muxer, like the
# ADTS/H.264 fixtures above.
# ---------------------------------------------------------------------------


def _mk_ogg_page(serial, granule, htype, seq, segments):
    """Independent Ogg page muxer: 27-byte header + lacing + body.
    CRCs left zero (the walks never check them)."""
    body = b"".join(segments)
    lacing = []
    for seg in segments:
        n = len(seg)
        while n >= 255:
            lacing.append(255)
            n -= 255
        lacing.append(n)
    return (
        b"OggS\x00" + bytes([htype])
        + granule.to_bytes(8, "little", signed=True)
        + serial.to_bytes(4, "little") + seq.to_bytes(4, "little")
        + b"\x00" * 4 + bytes([len(lacing)]) + bytes(lacing) + body
    )


def _mk_theora_ident(picw, pich, frn, frd, kfg, ver=(3, 2, 1)):
    """Theora identification header (spec 6.2), test-side twin."""
    fmbw = (picw + 15) // 16
    fmbh = (pich + 15) // 16
    return (
        b"\x80theora" + bytes(ver)
        + fmbw.to_bytes(2, "big") + fmbh.to_bytes(2, "big")
        + picw.to_bytes(3, "big") + pich.to_bytes(3, "big")
        + bytes([0, 0])  # PICX, PICY
        + frn.to_bytes(4, "big") + frd.to_bytes(4, "big")
        + (0).to_bytes(3, "big") + (0).to_bytes(3, "big")  # PARN/PARD
        + bytes([0]) + (0).to_bytes(3, "big")  # CS, NOMBR
        + (((48 << 10) | (kfg << 5)) & 0xFFFF).to_bytes(2, "big")
    )


def _mk_vorbis_ident(channels, rate):
    return (
        b"\x01vorbis" + (0).to_bytes(4, "little") + bytes([channels])
        + rate.to_bytes(4, "little") + b"\x00" * 12 + b"\xb8" + b"\x01"
    )


def test_ogg_av_multiplexed_walk_golden():
    from lakota_spark.operators.multimodal import _parse_ogg_av_headers

    kfg = 6
    # frames = 8 all-keyframe: granule = (8-1) << kfg, base 1 for 3.2.1
    theora_data_granule = 7 << kfg
    blob = (
        _mk_ogg_page(7, 0, 2, 0, [_mk_theora_ident(320, 240, 25, 1, kfg)])
        + _mk_ogg_page(9, 0, 2, 0, [_mk_vorbis_ident(2, 44100)])
        + _mk_ogg_page(7, theora_data_granule, 4, 1, [b"\x00" * 40])
        + _mk_ogg_page(9, 44100 * 2, 4, 1, [b"\x00" * 32])
    )
    got = _parse_ogg_av_headers(blob)
    assert got is not None
    assert (got["n_streams"], got["n_video"], got["n_audio"]) == (2, 1, 1)
    assert (got["width"], got["height"], got["fps"]) == (320.0, 240.0, 25.0)
    assert (got["v_codec"], got["a_codec"]) == ("theora", "vorbis")
    assert (got["rate"], got["channels"]) == (44100.0, 2.0)
    # duration = max(8 frames / 25 fps = 0.32 s, 2 s of PCM) = 2.0
    assert abs(got["duration_s"] - 2.0) < 1e-12
    # keyframe+delta granule packing: 3 keyframes then 4 deltas = 7
    # frames + base = 8 again
    blob2 = (
        _mk_ogg_page(7, 0, 2, 0, [_mk_theora_ident(640, 480, 30000, 1001, kfg)])
        + _mk_ogg_page(7, (3 << kfg) | 4, 4, 1, [b"\x00" * 8])
    )
    got2 = _parse_ogg_av_headers(blob2)
    assert (got2["width"], got2["height"]) == (640.0, 480.0)
    assert abs(got2["duration_s"] - 8 * 1001 / 30000) < 1e-12
    # pre-3.2.1 bitstream: granule base 0
    blob3 = (
        _mk_ogg_page(7, 0, 2, 0,
                     [_mk_theora_ident(64, 48, 25, 1, kfg, ver=(3, 2, 0))])
        + _mk_ogg_page(7, 7 << kfg, 4, 1, [b"\x00" * 8])
    )
    assert abs(_parse_ogg_av_headers(blob3)["duration_s"] - 7 / 25) < 1e-12


def test_ogg_av_walk_skeleton_and_opus():
    from lakota_spark.operators.multimodal import _parse_ogg_av_headers

    fishead = b"fishead\x00" + b"\x00" * 40
    opus = b"OpusHead\x01\x02" + (312).to_bytes(2, "little") \
        + (48000).to_bytes(4, "little") + b"\x00\x00\x00"
    blob = (
        _mk_ogg_page(1, 0, 2, 0, [fishead])
        + _mk_ogg_page(5, 0, 2, 0, [opus])
        + _mk_ogg_page(5, 312 + 960 * 4, 4, 1, [b"\x00" * 16])
    )
    got = _parse_ogg_av_headers(blob)
    # skeleton counts as a stream but is neither audio nor video
    assert (got["n_streams"], got["n_video"], got["n_audio"]) == (2, 0, 1)
    assert got["a_codec"] == "opus" and got["rate"] == 48000.0
    assert abs(got["duration_s"] - 960 * 4 / 48000) < 1e-12


def test_ogg_av_walk_rejections():
    from lakota_spark.operators.multimodal import _parse_ogg_av_headers

    assert _parse_ogg_av_headers(b"\x00" * 64) is None
    # single page only
    one = _mk_ogg_page(7, 0, 2, 0, [_mk_theora_ident(64, 48, 25, 1, 6)])
    assert _parse_ogg_av_headers(one) is None
    # no identified A/V stream (unknown BOS codec)
    junk = (_mk_ogg_page(3, 0, 2, 0, [b"XJUNKHDR"])
            + _mk_ogg_page(3, 100, 4, 1, [b"\x00" * 8]))
    assert _parse_ogg_av_headers(junk) is None
    # trailing garbage >10%: the walk must not claim it
    two = (one + _mk_ogg_page(7, 7 << 6, 4, 1, [b"\x00" * 8]))
    assert _parse_ogg_av_headers(two) is not None
    assert _parse_ogg_av_headers(two + b"\xab" * len(two)) is None


def _mp4_box(t, *parts):
    body = b"".join(parts)
    return (8 + len(body)).to_bytes(4, "big") + t + body


def _mp4_full(t, body):
    return _mp4_box(t, b"\x00\x00\x00\x00" + body)


def _mk_mp4_av(width, height, dur_ms, v_samples, with_audio=True):
    """Independent BMFF muxer: one avc1 video track (+ optional mp4a
    audio track), movie timescale 1000."""
    u32 = lambda v: v.to_bytes(4, "big")  # noqa: E731
    u16 = lambda v: v.to_bytes(2, "big")  # noqa: E731
    matrix = (u32(0x10000) + b"\x00" * 12 + u32(0x10000) + b"\x00" * 12
              + u32(0x40000000))
    mvhd = _mp4_full(b"mvhd", (
        u32(0) * 2 + u32(1000) + u32(dur_ms) + u32(0x10000) + u16(0x100)
        + b"\x00" * 10 + matrix + b"\x00" * 24 + u32(3)
    ))
    avc1 = (
        u32(86) + b"avc1" + b"\x00" * 6 + u16(1)
        + u16(0) + u16(0) + u32(0) * 3          # pre_defined/reserved
        + u16(width) + u16(height)
        + u32(0x00480000) * 2 + u32(0) + u16(1)
        + b"\x00" * 32 + u16(24) + b"\xff\xff"
    )
    v_stbl = _mp4_box(
        b"stbl",
        _mp4_full(b"stsd", u32(1) + avc1),
        _mp4_full(b"stsz", u32(0) + u32(v_samples)),
    )
    v_mdia = _mp4_box(
        b"mdia",
        _mp4_full(b"mdhd", u32(0) * 2 + u32(25000) + u32(25000)
                  + b"\x55\xc4\x00\x00"),
        _mp4_full(b"hdlr", b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"\x00"),
        _mp4_box(b"minf", v_stbl),
    )
    v_tkhd = _mp4_full(b"tkhd", (
        u32(0) * 2 + u32(1) + b"\x00" * 4 + u32(dur_ms) + b"\x00" * 8
        + b"\x00" * 6 + u16(0) + matrix
        + u32(width << 16) + u32(height << 16)
    ))
    traks = [_mp4_box(b"trak", v_tkhd, v_mdia)]
    if with_audio:
        mp4a = (
            u32(36) + b"mp4a" + b"\x00" * 6 + u16(1) + b"\x00" * 8
            + u16(2) + u16(16) + b"\x00" * 4 + u32(48000 << 16)
        )
        a_stbl = _mp4_box(
            b"stbl",
            _mp4_full(b"stsd", u32(1) + mp4a),
            _mp4_full(b"stsz", u32(0) + u32(9)),
        )
        a_mdia = _mp4_box(
            b"mdia",
            _mp4_full(b"mdhd", u32(0) * 2 + u32(48000) + u32(48000)
                      + b"\x55\xc4\x00\x00"),
            _mp4_full(b"hdlr", b"\x00" * 4 + b"soun" + b"\x00" * 12
                      + b"\x00"),
            _mp4_box(b"minf", a_stbl),
        )
        a_tkhd = _mp4_full(b"tkhd", (
            u32(0) * 2 + u32(2) + b"\x00" * 4 + u32(dur_ms) + b"\x00" * 8
            + b"\x00" * 6 + u16(0x100) + matrix + b"\x00" * 8
        ))
        traks.append(_mp4_box(b"trak", a_tkhd, a_mdia))
    return (
        _mp4_box(b"ftyp", b"isom\x00\x00\x02\x00mp41")
        + _mp4_box(b"moov", mvhd, *traks)
        + _mp4_box(b"mdat", b"\x00" * 24)
    )


def test_mp4_codec_ids_and_stsd_dims_golden():
    from lakota_spark.operators.multimodal import _parse_mp4_headers

    got = _parse_mp4_headers(_mk_mp4_av(1920, 1080, 2500, 60))
    assert got is not None
    assert (got["n_video"], got["n_audio"]) == (1, 1)
    # dims come from the avc1 sample entry (coded size), not tkhd
    assert (got["width"], got["height"]) == (1920.0, 1080.0)
    assert (got["v_codec"], got["a_codec"]) == ("avc1", "mp4a")
    assert got["v_samples"] == 60.0
    assert abs(got["duration_s"] - 2.5) < 1e-12
    assert (got["rate"], got["channels"]) == (48000.0, 2.0)
    video_only = _parse_mp4_headers(_mk_mp4_av(640, 360, 1000, 25,
                                               with_audio=False))
    assert (video_only["n_video"], video_only["n_audio"]) == (1, 0)
    assert video_only["a_codec"] == "" and video_only["v_codec"] == "avc1"


def test_extract_av_headers_through_spark(spark):
    from lakota_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_av_headers,
    )

    ogg = (
        _mk_ogg_page(7, 0, 2, 0, [_mk_theora_ident(320, 240, 25, 1, 6)])
        + _mk_ogg_page(9, 0, 2, 0, [_mk_vorbis_ident(1, 8000)])
        + _mk_ogg_page(7, 7 << 6, 4, 1, [b"\x00" * 16])
        + _mk_ogg_page(9, 8000, 4, 1, [b"\x00" * 16])
    )
    mp4 = _mk_mp4_av(1280, 720, 4000, 100)
    media = spark.createDataFrame(
        [
            (1, bytearray(ogg), "video/ogg", len(ogg), "{}"),
            (2, bytearray(mp4), "video/mp4", len(mp4), "{}"),
            (3, bytearray(b"not a container"), "text/plain", 15, "{}"),
        ],
        MEDIA_SCHEMA,
    )
    rows = {r.media_id: r for r in extract_av_headers(media).collect()}
    assert rows[1].kind == "ogg" and rows[1].v_codec == "theora"
    assert (rows[1].width, rows[1].height) == (320.0, 240.0)
    assert (rows[1].n_video, rows[1].n_audio) == (1, 1)
    assert abs(rows[1].duration_s - 1.0) < 1e-12  # 8000 samples @ 8 kHz
    assert rows[2].kind == "mp4" and rows[2].v_codec == "avc1"
    assert (rows[2].width, rows[2].height) == (1280.0, 720.0)
    assert abs(rows[2].duration_s - 4.0) < 1e-12
    assert rows[3].kind == "unknown" and rows[3].duration_s is None


# --- round 12b: Matroska/WebM EBML walk, independent test-side muxer ---


def _ebml_size(n):
    """Encode an EBML size vint (marker bit in the first byte)."""
    for width in range(1, 9):
        if n < (1 << (7 * width)) - 1:
            out = n | (1 << (7 * width))
            return out.to_bytes(width, "big")
    raise ValueError(n)


def _ebml_el(eid_bytes, body):
    return eid_bytes + _ebml_size(len(body)) + body


def _mk_webm(width, height, dur_ms, channels, doctype=b"webm",
             scale=None, unknown_segment=False, v_codec=b"V_VP9",
             rate=48000.0):
    """Independent EBML muxer: head + Segment(Info, Tracks)."""
    import struct

    head = _ebml_el(
        b"\x1a\x45\xdf\xa3",
        _ebml_el(b"\x42\x82", doctype)
        + _ebml_el(b"\x42\x87", b"\x04"),  # DocTypeVersion (ignored)
    )
    info_body = _ebml_el(b"\x44\x89", struct.pack(">d", float(dur_ms)))
    if scale is not None:
        info_body = _ebml_el(
            b"\x2a\xd7\xb1", scale.to_bytes(4, "big")
        ) + info_body
    info = _ebml_el(b"\x15\x49\xa9\x66", info_body)
    vtrack = _ebml_el(b"\xae", (
        _ebml_el(b"\x83", b"\x01")
        + _ebml_el(b"\x86", v_codec)
        + _ebml_el(b"\xe0",
                   _ebml_el(b"\xb0", width.to_bytes(2, "big"))
                   + _ebml_el(b"\xba", height.to_bytes(2, "big")))
    ))
    atrack = _ebml_el(b"\xae", (
        _ebml_el(b"\x83", b"\x02")
        + _ebml_el(b"\x86", b"A_OPUS")
        + _ebml_el(b"\xe1",
                   _ebml_el(b"\xb5", struct.pack(">f", rate))
                   + _ebml_el(b"\x9f", bytes([channels])))
    ))
    tracks = _ebml_el(b"\x16\x54\xae\x6b", vtrack + atrack)
    seg_body = info + tracks
    if unknown_segment:
        # unknown-size Segment (live-muxer shape): size vint all-ones
        return head + b"\x18\x53\x80\x67" + b"\xff" + seg_body
    return head + _ebml_el(b"\x18\x53\x80\x67", seg_body)


def test_mkv_ebml_walk_golden():
    from lakota_spark.operators.multimodal import _parse_mkv_headers

    got = _parse_mkv_headers(_mk_webm(1920, 1080, 2500, 2))
    assert got is not None and got["doctype"] == "webm"
    assert (got["n_video"], got["n_audio"]) == (1, 1)
    assert (got["width"], got["height"]) == (1920.0, 1080.0)
    assert (got["v_codec"], got["a_codec"]) == ("V_VP9", "A_OPUS")
    assert (got["rate"], got["channels"]) == (48000.0, 2.0)
    # default TimestampScale 1e6 ns: ticks are ms
    assert abs(got["duration_s"] - 2.5) < 1e-12
    # explicit scale (100 us ticks) and matroska doctype
    got2 = _parse_mkv_headers(
        _mk_webm(640, 360, 50000, 1, doctype=b"matroska", scale=100_000)
    )
    assert got2["doctype"] == "matroska"
    assert abs(got2["duration_s"] - 5.0) < 1e-12
    # unknown-size Segment (live stream shape) parses to the same values
    got3 = _parse_mkv_headers(_mk_webm(320, 240, 1000, 1,
                                       unknown_segment=True))
    assert (got3["width"], got3["height"]) == (320.0, 240.0)
    assert abs(got3["duration_s"] - 1.0) < 1e-12


def test_mkv_ebml_walk_rejections():
    from lakota_spark.operators.multimodal import _parse_mkv_headers

    assert _parse_mkv_headers(b"\x00" * 64) is None
    # EBML head with a non-AV doctype falls through
    bad = _mk_webm(64, 48, 100, 1, doctype=b"notmedia")
    assert _parse_mkv_headers(bad) is None
    # truncated segment: the walk stops without claiming tracks
    good = _mk_webm(64, 48, 100, 1)
    assert _parse_mkv_headers(good[: len(good) // 3]) is None


def test_extract_av_headers_webm_through_spark(spark):
    from lakota_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_av_headers,
    )

    blob = _mk_webm(1280, 720, 4000, 2)
    media = spark.createDataFrame(
        [(1, bytearray(blob), "video/webm", len(blob), "{}")],
        MEDIA_SCHEMA,
    )
    r = extract_av_headers(media).collect()[0]
    assert r.kind == "webm" and r.v_codec == "V_VP9"
    assert (r.width, r.height, r.channels) == (1280.0, 720.0, 2.0)
    assert abs(r.duration_s - 4.0) < 1e-12


def _mp4_fullbox(t, body, ver=0):
    return _mp4_box(t, bytes([ver]) + b"\x00\x00\x00" + body)


def _mk_fmp4(v_frames_per_frag, a_frames_per_frag, frag_durs_ticks,
             timescale=25, sidx_ver=0):
    """Independent fragmented-BMFF muxer: moov (mvhd duration 0, empty
    stsz) + one sidx per track + moof/mdat pairs with tfhd/trun."""
    u32 = lambda v: v.to_bytes(4, "big")  # noqa: E731
    u16 = lambda v: v.to_bytes(2, "big")  # noqa: E731
    head = _mk_mp4_av(640, 360, 0, 0)  # dur 0, stsz count 0: fMP4 shape
    head = head[: head.rindex((8 + 24).to_bytes(4, "big") + b"mdat")]
    # true fMP4 moov: the audio stsz count must be 0 too (samples live
    # in the fragments)
    stsz9 = _mp4_fullbox(b"stsz", u32(0) + u32(9))
    head = head.replace(stsz9, _mp4_fullbox(b"stsz", u32(0) + u32(0)))

    def sidx(ref_id):
        ept_off = (u32(0) * 2) if sidx_ver == 0 else (
            (0).to_bytes(8, "big") * 2
        )
        refs = b"".join(
            u32(1000) + u32(d) + u32(0) for d in frag_durs_ticks
        )
        return _mp4_fullbox(
            b"sidx",
            u32(ref_id) + u32(timescale) + ept_off
            + u16(0) + u16(len(frag_durs_ticks)) + refs,
            ver=sidx_ver,
        )

    frags = b""
    for _ in frag_durs_ticks:
        traf_v = _mp4_box(
            b"traf",
            _mp4_fullbox(b"tfhd", u32(1) + u32(0)),
            _mp4_fullbox(b"trun", u32(v_frames_per_frag)),
        )
        traf_a = _mp4_box(
            b"traf",
            _mp4_fullbox(b"tfhd", u32(2) + u32(0)),
            _mp4_fullbox(b"trun", u32(a_frames_per_frag)),
        )
        frags += _mp4_box(b"moof", _mp4_fullbox(b"mfhd", u32(1)),
                          traf_v, traf_a)
        frags += _mp4_box(b"mdat", b"\x00" * 32)
    return head + sidx(1) + sidx(2) + frags


def test_fragmented_mp4_sidx_trun_golden():
    from lakota_spark.operators.multimodal import _parse_mp4_headers

    # 3 fragments of 25 ticks @ timescale 25 = 3 s total; 30 video and
    # 48 audio samples per fragment
    got = _parse_mp4_headers(_mk_fmp4(30, 48, [25, 25, 25]))
    assert got is not None
    assert (got["n_video"], got["n_audio"]) == (1, 1)
    assert got["n_fragments"] == 3.0
    assert abs(got["duration_s"] - 3.0) < 1e-12
    assert got["v_samples"] == 90.0 and got["n_samples"] == 144.0
    assert (got["v_codec"], got["a_codec"]) == ("avc1", "mp4a")
    # version-1 sidx (64-bit earliest/offset fields) parses identically
    got1 = _parse_mp4_headers(_mk_fmp4(10, 10, [50], sidx_ver=1))
    assert abs(got1["duration_s"] - 2.0) < 1e-12
    assert got1["n_fragments"] == 1.0
    # a PLAIN mp4 is unchanged: no fragments, mvhd duration wins
    plain = _parse_mp4_headers(_mk_mp4_av(1280, 720, 4000, 100))
    assert plain["n_fragments"] == 0.0
    assert abs(plain["duration_s"] - 4.0) < 1e-12
    assert plain["v_samples"] == 100.0


# --- round 12c: media tag extraction, independent test-side muxers ---


def _mk_id3v2(frames, ver=4, pad=16):
    """ID3v2 tag + a fake MPEG byte tail: frames = {b'TIT2': 'text'}."""
    body = b""
    for fid, text in frames.items():
        payload = b"\x03" + text.encode("utf-8")
        size = (
            bytes([(len(payload) >> s) & 0x7F for s in (21, 14, 7, 0)])
            if ver >= 4
            else len(payload).to_bytes(4, "big")
        )
        body += fid + size + b"\x00\x00" + payload
    body += b"\x00" * pad
    size_ss = bytes([(len(body) >> s) & 0x7F for s in (21, 14, 7, 0)])
    return b"ID3" + bytes([ver, 0, 0]) + size_ss + body + b"\xff\xfb" * 8


def _mk_vorbis_comments(marker, tags, vendor=b"lavf"):
    body = len(vendor).to_bytes(4, "little") + vendor
    body += len(tags).to_bytes(4, "little")
    for k, v in tags.items():
        item = f"{k}={v}".encode()
        body += len(item).to_bytes(4, "little") + item
    return marker + body


def test_media_tags_id3v2_golden():
    from lakota_spark.operators.multimodal import _parse_id3v2_tags

    got = _parse_id3v2_tags(_mk_id3v2({
        b"TIT2": "My Title", b"TPE1": "Artist X", b"TALB": "Album Y",
        b"TXXX": "ignored",
    }))
    assert got == {"title": "My Title", "artist": "Artist X",
                   "album": "Album Y"}
    # v2.3 (plain big-endian frame sizes) and utf-16 bodies
    v23 = _mk_id3v2({b"TIT2": "Käse"}, ver=3)
    assert _parse_id3v2_tags(v23)["title"] == "Käse"
    assert _parse_id3v2_tags(b"\xff\xfb" * 8) is None
    assert _parse_id3v2_tags(b"ID3") is None


def test_media_tags_ogg_and_mp4_and_mkv_golden():
    from lakota_spark.operators.multimodal import (
        _parse_mkv_tags,
        _parse_mp4_tags,
        _parse_ogg_tags,
    )

    # Vorbis: BOS ident page + comment-header page
    blob = (
        _mk_ogg_page(9, 0, 2, 0, [_mk_vorbis_ident(2, 44100)])
        + _mk_ogg_page(9, 0, 0, 1, [_mk_vorbis_comments(
            b"\x03vorbis", {"TITLE": "Song A", "ARTIST": "B", "ALBUM": "C"}
        )])
        + _mk_ogg_page(9, 44100, 4, 2, [b"\x00" * 8])
    )
    assert _parse_ogg_tags(blob) == {
        "title": "Song A", "artist": "B", "album": "C"
    }
    # OpusTags variant
    opus_hdr = (b"OpusHead\x01\x02" + (312).to_bytes(2, "little")
                + (48000).to_bytes(4, "little") + b"\x00\x00\x00")
    blob2 = (
        _mk_ogg_page(5, 0, 2, 0, [opus_hdr])
        + _mk_ogg_page(5, 0, 0, 1, [_mk_vorbis_comments(
            b"OpusTags", {"title": "Lower", "artist": "Case"}
        )])
    )
    got2 = _parse_ogg_tags(blob2)
    assert (got2["title"], got2["artist"], got2["album"]) == (
        "Lower", "Case", ""
    )
    # mp4 ilst: splice a udta/meta/ilst into the muxer's moov
    u32 = lambda v: v.to_bytes(4, "big")  # noqa: E731
    data = lambda s: _mp4_fullbox(b"data", u32(0) + s.encode())  # noqa: E731
    ilst = _mp4_box(
        b"ilst",
        _mp4_box(b"\xa9nam", data("Clip Title")),
        _mp4_box(b"\xa9ART", data("Clip Artist")),
    )
    udta = _mp4_box(b"udta", _mp4_fullbox(b"meta", ilst))
    base = _mk_mp4_av(64, 48, 100, 1)
    moov_at = base.index(b"moov") - 4
    moov_size = int.from_bytes(base[moov_at : moov_at + 4], "big")
    patched = (
        base[:moov_at]
        + (moov_size + len(udta)).to_bytes(4, "big")
        + base[moov_at + 4 : moov_at + moov_size]
        + udta
        + base[moov_at + moov_size:]
    )
    got3 = _parse_mp4_tags(patched)
    assert got3 == {"title": "Clip Title", "artist": "Clip Artist"}
    # mkv: Title element inside Info
    webm = _mk_webm(64, 48, 100, 1)
    title_el = b"\x7b\xa9" + bytes([0x80 | 5]) + b"MKVT!"
    info_at = webm.index(b"\x15\x49\xa9\x66")
    isz = webm[info_at + 4] & 0x7F
    patched2 = (
        webm[:info_at + 4]
        + bytes([0x80 | (isz + len(title_el))])
        + webm[info_at + 5 : info_at + 5 + isz]
        + title_el
        + webm[info_at + 5 + isz:]
    )
    # the Segment size vint must also grow; rebuild via the muxer's
    # unknown-size form instead (simpler and spec-legal)
    seg_at = patched2.index(b"\x18\x53\x80\x67")
    patched2 = (
        patched2[:seg_at + 4] + b"\xff"
        + patched2[seg_at + 4 + (8 - 7):]
    )
    got4 = _parse_mkv_tags(patched2)
    assert got4 == {"title": "MKVT!"}


def test_extract_media_tags_through_spark(spark):
    from lakota_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_media_tags,
    )

    id3 = _mk_id3v2({b"TIT2": "T1"})
    ogg = (
        _mk_ogg_page(9, 0, 2, 0, [_mk_vorbis_ident(2, 44100)])
        + _mk_ogg_page(9, 0, 0, 1, [_mk_vorbis_comments(
            b"\x03vorbis", {"TITLE": "T2"}
        )])
    )
    media = spark.createDataFrame(
        [
            (1, bytearray(id3), "audio/mpeg", len(id3), "{}"),
            (2, bytearray(ogg), "audio/ogg", len(ogg), "{}"),
            (3, bytearray(b"plain bytes"), "text/plain", 11, "{}"),
        ],
        MEDIA_SCHEMA,
    )
    rows = {r.media_id: r for r in extract_media_tags(media).collect()}
    assert (rows[1].tag_kind, rows[1].title) == ("id3", "T1")
    assert (rows[2].tag_kind, rows[2].title) == ("vorbis", "T2")
    assert (rows[3].tag_kind, rows[3].title) == ("none", "")


def test_media_from_binary_files(spark, tmp_path):
    from lakota_spark.operators.multimodal import (
        extract_av_headers,
        extract_media_tags,
        media_from_binary_files,
    )

    (tmp_path / "a.mp4").write_bytes(_mk_mp4_av(320, 240, 1500, 10))
    (tmp_path / "b.mp3").write_bytes(_mk_id3v2({b"TIT2": "From Disk"}))
    (tmp_path / "notes.txt").write_bytes(b"not media")
    media = media_from_binary_files(spark, str(tmp_path))
    rows = {r.mime: r for r in media.collect()}
    assert set(rows) == {"video/mp4", "audio/mpeg",
                         "application/octet-stream"}
    assert all(r.media_id >= 0 and r.n_bytes > 0 for r in rows.values())
    # ids are deterministic across re-scans
    again = {r.mime: r.media_id
             for r in media_from_binary_files(spark, str(tmp_path)).collect()}
    assert again == {m: r.media_id for m, r in rows.items()}
    # and the table feeds the extractors directly
    hdr = {r.kind for r in extract_av_headers(media).collect()}
    assert "mp4" in hdr
    tags = {r.tag_kind: r.title
            for r in extract_media_tags(media).collect()}
    assert tags.get("id3") == "From Disk"
    # glob filter narrows the scan
    only_mp4 = media_from_binary_files(spark, str(tmp_path), glob="*.mp4")
    assert only_mp4.count() == 1


def _mk_avi(width, height, uspf, total, v_handler=b"MJPG",
            with_audio=True):
    """Independent RIFF/AVI muxer: hdrl(avih + strl(strh)...) + movi."""
    u32 = lambda v: v.to_bytes(4, "little")  # noqa: E731

    def chunk(cid, body):
        return cid + u32(len(body)) + body + (b"\x00" if len(body) & 1
                                              else b"")

    def lst(kind, *parts):
        body = kind + b"".join(parts)
        return b"LIST" + u32(len(body)) + body

    avih = chunk(b"avih", (
        u32(uspf) + u32(0) * 3 + u32(total) + u32(0)
        + u32(2 if with_audio else 1) + u32(0)
        + u32(width) + u32(height) + u32(0) * 4
    ))
    strh_v = chunk(b"strh", (
        b"vids" + v_handler + u32(0) * 3 + u32(1) + u32(25)
        + u32(0) + u32(total) + u32(0) * 5
    ))
    parts = [avih, lst(b"strl", strh_v)]
    if with_audio:
        strh_a = chunk(b"strh", (
            b"auds" + b"\x00" * 4 + u32(0) * 3 + u32(1) + u32(48000)
            + u32(0) + u32(48000) + u32(0) * 5
        ))
        parts.append(lst(b"strl", strh_a))
    movi = lst(b"movi", chunk(b"00dc", b"\xff\xd8\xff\xd9"))
    body = b"AVI " + lst(b"hdrl", *parts) + movi
    return b"RIFF" + u32(len(body)) + body


def test_avi_header_walk_golden():
    from lakota_spark.operators.multimodal import _parse_avi_headers

    got = _parse_avi_headers(_mk_avi(720, 480, 40000, 250))
    assert got is not None
    assert (got["n_video"], got["n_audio"]) == (1, 1)
    assert (got["width"], got["height"]) == (720.0, 480.0)
    assert got["v_codec"] == "MJPG" and got["a_codec"] == "pcm"
    assert got["rate"] == 48000.0
    # 250 frames * 40000 us = 10 s exactly
    assert got["duration_s"] == 250 * 40000 / 1e6
    video_only = _parse_avi_headers(
        _mk_avi(64, 48, 33333, 30, with_audio=False)
    )
    assert (video_only["n_video"], video_only["n_audio"]) == (1, 0)
    assert video_only["a_codec"] == ""
    # rejections: non-AVI RIFF (WAV), random bytes, truncated hdrl
    assert _parse_avi_headers(b"RIFF\x10\x00\x00\x00WAVEfmt ") is None
    assert _parse_avi_headers(b"\x00" * 64) is None


def test_extract_av_headers_avi_through_spark(spark):
    from lakota_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_av_headers,
    )

    blob = _mk_avi(1280, 720, 20000, 500)
    media = spark.createDataFrame(
        [(1, bytearray(blob), "video/x-msvideo", len(blob), "{}")],
        MEDIA_SCHEMA,
    )
    r = extract_av_headers(media).collect()[0]
    assert r.kind == "avi" and r.v_codec == "MJPG"
    assert (r.width, r.height) == (1280.0, 720.0)
    assert r.duration_s == 10.0


def test_credit_card_flags_luhn(spark):
    """Luhn verification separates card numbers from other digit runs:
    industry test vectors verify, one-digit corruptions fail, 20+-digit
    ids produce NO candidate (boundary lookarounds), separators
    normalize."""
    from lakota_spark.operators.text import credit_card_flags

    rows = [
        (1, "pay with 4539 1488 0343 6467 thanks"),   # Visa test vector
        (2, "pay with 4539 1488 0343 6468 thanks"),   # corrupted digit
        (3, "order 12345 on 2024-01-01, call +1 555 123 4567"),
        (4, "4111-1111-1111-1111 and 5500 0000 0000 0004"),  # both valid
        (5, "no digits at all"),
        (6, "long id 12345678901234567890123 is not a card"),
        (7, "amex 378282246310005 verifies at 15 digits"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_card_candidates, r.n_luhn_valid)
           for r in credit_card_flags(df).collect()}
    assert got == {1: (1, 1), 2: (1, 0), 3: (0, 0), 4: (2, 2),
                   5: (0, 0), 6: (0, 0), 7: (1, 1)}


def test_iban_flags_mod97(spark):
    """mod-97 verification on real test vectors incl. letters in the
    BBAN; corruption fails; short/boundary shapes never candidate."""
    from lakota_spark.operators.text import iban_flags

    rows = [
        (1, "send to DE89370400440532013000 please"),
        (2, "send to DE89370400440532013001 please"),   # corrupted
        (3, "send to GB29NWBK60161331926819 thanks"),   # BBAN letters
        (4, "FR1420041010050500013M02606 crosses too"), # letters mid-BBAN
        (5, "ids ABC123 and ticket XY1234567890 here"),
        (6, "run DE893704004405320130001234567890123456789 too long"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_iban_candidates, r.n_mod97_valid)
           for r in iban_flags(df).collect()}
    # doc 6's 43-char run exceeds the 34-char IBAN maximum: the
    # boundary lookaheads reject it outright (no prefix candidate)
    assert got == {1: (1, 1), 2: (1, 0), 3: (1, 1), 4: (1, 1),
                   5: (0, 0), 6: (0, 0)}


def test_media_tags_flac_golden():
    """FLAC VORBIS_COMMENT metadata block (type 4) parses with the
    shared comment-block layout; streams without one fall through."""
    from lakota_spark.operators.multimodal import _parse_flac_tags

    def block(btype, body, last=False):
        return bytes([btype | (0x80 if last else 0)]) + len(body).to_bytes(
            3, "big"
        ) + body

    si = block(0, b"\x00" * 34)  # STREAMINFO stub
    vc = _mk_vorbis_comments(b"", {"TITLE": "Flac Song", "ARTIST": "Z"})
    blob = b"fLaC" + si + block(4, vc, last=True) + b"\x00" * 16
    got = _parse_flac_tags(blob)
    assert got == {"title": "Flac Song", "artist": "Z", "album": ""}
    # no comment block -> None; non-FLAC -> None
    assert _parse_flac_tags(b"fLaC" + block(0, b"\x00" * 34, last=True)) \
        is None
    assert _parse_flac_tags(b"OggS" + b"\x00" * 32) is None


def test_luhn_iban_randomized_differential(spark):
    """400 seeded-random numbers checked against INDEPENDENT pure-python
    Luhn / ISO-13616 implementations in one batch: generated valid
    check digits must verify, single-digit corruptions must fail (both
    checksums detect all single-digit errors)."""
    import random

    from lakota_spark.operators.text import credit_card_flags, iban_flags

    rng = random.Random(42)

    def luhn_check_digit(digits):
        total = 0
        for i, d in enumerate(reversed(digits)):
            # positions counted with the check digit appended at the end
            dd = d * 2 if i % 2 == 0 else d
            total += dd - 9 if dd > 9 else dd
        return (10 - total % 10) % 10

    def iban_fix_check(cc, bban):
        rearranged = bban + cc + "00"
        num = "".join(
            str(ord(ch) - 55) if ch.isalpha() else ch for ch in rearranged
        )
        check = 98 - int(num) % 97
        return f"{cc}{check:02d}{bban}"

    card_rows, card_expect = [], {}
    for i in range(200):
        body = [rng.randrange(10) for _ in range(rng.choice([12, 14, 15]))]
        card = "".join(map(str, body)) + str(luhn_check_digit(body))
        corrupt = rng.random() < 0.5
        if corrupt:
            j = rng.randrange(len(card))
            card = card[:j] + str((int(card[j]) + rng.randrange(1, 10))
                                  % 10) + card[j + 1:]
        card_rows.append((i, f"n {card} end"))
        card_expect[i] = (1, 0 if corrupt else 1)
    got = {
        r.doc_id: (r.n_card_candidates, r.n_luhn_valid)
        for r in credit_card_flags(
            spark.createDataFrame(card_rows, "doc_id long, text string")
        ).collect()
    }
    assert got == card_expect

    iban_rows, iban_expect = [], {}
    alpha = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    for i in range(200):
        cc = rng.choice(["DE", "GB", "FR", "NL"])
        bban = "".join(
            rng.choice(alpha + "0123456789") if rng.random() < 0.3
            else str(rng.randrange(10))
            for _ in range(rng.choice([12, 16, 18]))
        )
        iban = iban_fix_check(cc, bban)
        corrupt = rng.random() < 0.5
        if corrupt:
            j = rng.randrange(4, len(iban))
            ch = iban[j]
            repl = (str((int(ch) + 3) % 10) if ch.isdigit()
                    else rng.choice(alpha.replace(ch, "")))
            iban = iban[:j] + repl + iban[j + 1:]
        iban_rows.append((i, f"acct {iban} end"))
        iban_expect[i] = (1, 0 if corrupt else 1)
    got2 = {
        r.doc_id: (r.n_iban_candidates, r.n_mod97_valid)
        for r in iban_flags(
            spark.createDataFrame(iban_rows, "doc_id long, text string")
        ).collect()
    }
    assert got2 == iban_expect


def test_pii_scrub_verified(spark):
    """Checksum-gated redaction: verified cards/IBANs are replaced,
    look-alike digit runs and corrupted numbers survive untouched."""
    from lakota_spark.operators.text import pii_scrub_verified

    rows = [
        (1, "pay 4539 1488 0343 6467 or DE89370400440532013000 now"),
        (2, "order 4539 1488 0343 6468 ref DE89370400440532013001 ok"),
        (3, "ticket 1234567890123 and note XY12 here"),
        # a verified card that ALSO appears as a strict substring of a
        # longer digit run: only the standalone occurrence is redacted
        # (the r12 substring-replace bug corrupted the 21-digit id)
        (4, "card 4539148803436467 ref id 945391488034364671234"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.text for r in pii_scrub_verified(df).collect()}
    assert got[1] == "pay <CARD> or <IBAN> now"
    # corrupted numbers fail their checksums and are NOT redacted
    assert got[2] == "order 4539 1488 0343 6468 ref DE89370400440532013001 ok"
    assert got[3] == "ticket 1234567890123 and note XY12 here"
    assert got[4] == "card <CARD> ref id 945391488034364671234"
