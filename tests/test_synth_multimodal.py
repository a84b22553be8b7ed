"""Synthetic image-caption table + multimodal decode checks
(FIXTURES.md §1, BASELINE.json image invariants)."""

import numpy as np
import pytest

from jsonschema_validator_spark.sources import synth
from jsonschema_validator_spark.sources.codecs import (
    decode_fdct,
    decode_image,
    decode_png,
    encode_fdct,
    encode_png,
    psnr,
)

N = 4000  # covers every injection schedule at exact counts


def test_png_roundtrip_lossless():
    px = synth._pixels(42, 1, 24, 17)
    assert np.array_equal(decode_png(encode_png(px)), px)


def test_fdct_lossy_psnr_above_40():
    """The DCT-quantization codec (the corpus lossy path) must clear the
    40 dB gate on corpus patterns AND on pure noise (DCT-hostile)."""
    for i in range(20):
        w, h = synth.true_dims(42, i)
        px = synth._pixels(42, i, w, h)
        dec = decode_fdct(encode_fdct(px))
        assert dec.shape == px.shape
        assert psnr(px, dec) >= 40.0
    rng = np.random.default_rng(0)
    noise = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    assert psnr(noise, decode_fdct(encode_fdct(noise))) >= 40.0
    # genuinely lossy + genuinely compressed
    assert not np.array_equal(decode_fdct(encode_fdct(noise)), noise)
    assert len(encode_fdct(px)) < px.size // 2


def test_corrupt_payload_raises():
    with pytest.raises(ValueError):
        decode_image(b"garbage bytes here")
    good = encode_png(synth._pixels(42, 3, 16, 16))
    with pytest.raises(ValueError):
        decode_image(good[: len(good) // 3])


def test_generator_determinism_and_rates():
    df1 = synth.generate_pandas(N, seed=42)
    df2 = synth.generate_pandas(N, seed=42)
    assert df1.equals(df2)
    # exact injected violation counts (schedules in synth.py)
    assert (df1["fmt"] == "bmp").sum() == N // 200
    assert df1["caption"].isna().sum() == N // 1000
    assert df1["w"].isna().sum() == N // 1000
    n_dup_ids = N - df1["image_id"].nunique()
    assert n_dup_ids == N // 200  # 0.5 % duplicated
    hot = df1["phash"].isin(synth.HOT_PHASHES).sum()
    assert hot == N // 20  # 5 % hot phash


def test_spark_generator_matches_pandas(spark):
    sdf = synth.generate_spark(spark, 500, seed=42, partitions=4)
    pdf = synth.generate_pandas(500, seed=42)
    got = sdf.orderBy("image_id").toPandas()
    want = pdf.sort_values("image_id").reset_index(drop=True)
    assert list(got["image_id"]) == list(want["image_id"])
    assert list(got["phash"]) == list(want["phash"])
    assert [bytes(b) for b in got["bytes"]] == [bytes(b) for b in want["bytes"]]


def test_decode_profile_flags_exact_violations(spark):
    from jsonschema_validator_spark.operators.multimodal import decode_profile

    sdf = synth.generate_spark(spark, N, seed=42, partitions=8)
    prof = decode_profile(sdf).toPandas()
    assert len(prof) == N
    # truncated payloads fail decode, exactly N/500 of them
    assert (~prof["decode_ok"]).sum() == N // 500


def test_image_invariant_violations(spark):
    from jsonschema_validator_spark.operators.multimodal import (
        image_invariant_violations,
    )

    sdf = synth.generate_spark(spark, N, seed=42, partitions=8)
    viol = image_invariant_violations(sdf).toPandas()
    by_tag = viol.groupby("tag").size().to_dict()
    assert by_tag.get("decode", 0) == N // 500
    # dims violations: payload-dim-mismatch schedule (500, 211) PLUS the
    # w-out-of-range rows (declared w=0/20000 never equals decoded w),
    # minus null-dims rows (check skipped) and truncated rows (no decode)
    expected_dims = len(
        [
            i
            for i in range(N)
            if (i % 500 == 211 or i % 1000 in (17, 18, 19))
            and i % 1000 != 23
            and i % 500 != 11
        ]
    )
    assert by_tag.get("dims", 0) == expected_dims


def test_psnr_vs_reference_invariant(spark):
    from pyspark.sql import functions as F

    from jsonschema_validator_spark.operators.multimodal import psnr_vs_reference

    n = 300
    sdf = synth.generate_spark(spark, n, seed=42, partitions=4).withColumn(
        "idx", F.regexp_extract("image_id", r"(\d+)", 1).cast("int")
    )
    # exclude malformed ids and duplicated-id pairs (a dup row carries its
    # neighbor's id, so the extracted index would point at the wrong pixels)
    from pyspark.sql import Window

    cnt = F.count(F.lit(1)).over(Window.partitionBy("image_id"))
    clean = (
        sdf.filter(~F.col("image_id").startswith("BAD"))
        .withColumn("_cnt", cnt)
        .filter(F.col("_cnt") == 1)
        .drop("_cnt")
    )

    def ref_pixels(i: int) -> np.ndarray:
        w, h = synth.true_dims(42, i)
        if i % 500 == 211:  # dim-mismatch rows encode shifted dims
            w, h = w + 3, h + 2
        return synth._pixels(42, i, w, h)

    res = psnr_vs_reference(clean, ref_pixels, index_col="idx").toPandas()
    ok = res[~res["psnr"].isna()]
    # every decodable image meets the >=40 dB invariant (png lossless -> 1e9)
    assert (ok["psnr"] >= 40.0).all()
    # truncated payloads are the NaNs
    assert res["psnr"].isna().sum() == len(res[res["psnr"].isna()])


def test_psnr_missing_or_undecodable_is_null_not_nan(spark):
    """A missing or undecodable payload scores SQL NULL, never NaN (a NaN
    would pass ``isNotNull`` and poison ``min``/``avg``)."""
    from pyspark.sql import functions as F

    from jsonschema_validator_spark.operators.multimodal import psnr_vs_reference

    px = np.full((8, 8, 3), 77, np.uint8)
    df = spark.createDataFrame(
        [
            ("ok", bytearray(encode_png(px)), 0),
            ("gone", None, 1),
            ("broken", bytearray(b"\x89PNG garbage bytes"), 2),
        ],
        "image_id string, bytes binary, idx int",
    )
    out = psnr_vs_reference(df, lambda i: px, index_col="idx")
    got = {
        r["image_id"]: (r["is_null"], r["is_nan"])
        for r in out.select(
            "image_id",
            F.col("psnr").isNull().alias("is_null"),
            F.isnan("psnr").alias("is_nan"),
        ).collect()
    }
    assert got == {"ok": (False, False), "gone": (True, False), "broken": (True, False)}
    assert out.where("psnr IS NULL").count() == 2


def test_validation_spec_on_synth_table(spark):
    """The full image-caption spec from FIXTURES.md over the synth table —
    row-level engine + synthetic violations at exact rates."""
    from jsonschema_validator_spark import Validator

    sdf = synth.generate_spark(spark, N, seed=42, partitions=8)
    spec = {
        "required": ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"],
        "properties": {
            "image_id": {"pattern": r"^img-[0-9]{12}$"},
            "w": {"type": "integer", "minimum": 1, "maximum": 16384},
            "h": {"type": "integer", "minimum": 1, "maximum": 16384},
            "fmt": {"enum": ["png", "jpeg", "webp"]},
            "caption": {"minLength": 1, "maxLength": 200},
        },
    }
    res = Validator(spec).validate(sdf)
    v = {r["rule_id"]: r for r in res.verdicts().collect()}
    assert v["enum:$.fmt"]["n_failed"] == N // 200
    assert v["pattern:$.image_id"]["n_failed"] == N // 1000
    assert v["required:$.caption"]["n_failed"] == N // 1000
    assert v["required:$.w"]["n_failed"] == N // 1000
    # caption too long: schedule (250,5) minus overlap with empty/null
    exp_long = len([i for i in range(N) if i % 250 == 5 and i % 500 != 9 and i % 1000 != 21])
    assert v["maxLength:$.caption"]["n_failed"] == exp_long
    exp_empty = len([i for i in range(N) if i % 500 == 9 and i % 1000 != 21])
    assert v["minLength:$.caption"]["n_failed"] == exp_empty


def test_skewed_phash_duplicate_counts_match_pandas(spark):
    """duplicate_keys on the skewed phash column equals an independent
    pandas ``value_counts()`` of the same synth rows."""
    from jsonschema_validator_spark.operators.uniqueness import duplicate_keys

    sdf = synth.generate_spark(spark, N, seed=42, partitions=8).select("phash")
    got = {(r["phash"], r["n_dup"]) for r in duplicate_keys(sdf, "phash").collect()}
    vc = synth.generate_pandas(N, seed=42)["phash"].value_counts()
    assert got == {(int(k), int(n)) for k, n in vc[vc > 1].items()}
    # the 8 hot values must be present with ~N/20/8 rows each
    hot_counts = {k: n for k, n in got if k in synth.HOT_PHASHES}
    assert len(hot_counts) == 8
    assert sum(hot_counts.values()) == N // 20


def test_png_all_color_types_and_filters_roundtrip():
    """Full 8-bit PNG matrix: color types 0/2/4/6 x filters 0-4 roundtrip
    through encode_png/decode_png; decoded output is always RGB (h,w,3)
    with grayscale replicated and alpha dropped (PNG spec SS9, SS11.2.2)."""
    import numpy as np

    from jsonschema_validator_spark.sources.codecs import (
        _CTYPE_CHANNELS,
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(7)
    h, w = 13, 17  # odd sizes catch stride bugs
    for ctype, ch in _CTYPE_CHANNELS.items():
        px = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
        if ctype == 0:
            expected = np.repeat(px, 3, axis=2)
        elif ctype == 2:
            expected = px
        elif ctype == 4:
            expected = np.repeat(px[:, :, :1], 3, axis=2)
        else:
            expected = px[:, :, :3]
        for f in range(5):
            data = encode_png(px, color_type=ctype, filter_type=f)
            got = decode_png(data)
            assert got.shape == (h, w, 3), (ctype, f)
            assert np.array_equal(got, expected), (ctype, f)


def test_png_gradient_filters_exact():
    """Filters 3/4 on smooth gradients (their motivating case) — catches
    off-by-one in the sequential left/up-left reconstruction."""
    import numpy as np

    from jsonschema_validator_spark.sources.codecs import decode_png, encode_png

    y, x = np.mgrid[0:32, 0:48]
    px = np.stack(
        [(x * 3) % 256, (y * 5) % 256, (x + y) % 256], axis=2
    ).astype(np.uint8)
    for f in (3, 4):
        assert np.array_equal(decode_png(encode_png(px, filter_type=f)), px)


def test_png_unsupported_variants_raise():
    import struct

    import numpy as np
    import pytest

    from jsonschema_validator_spark.sources.codecs import (
        PNG_MAGIC,
        decode_png,
        encode_png,
    )

    px = np.zeros((4, 4, 3), dtype=np.uint8)
    data = bytearray(encode_png(px))
    # IHDR payload starts at byte 16; depth at +8, ctype +9, interlace +12
    for off, val in ((16 + 8, 16), (16 + 9, 3), (16 + 12, 1)):
        bad = bytearray(data)
        bad[off] = val
        with pytest.raises(ValueError, match="unsupported PNG variant"):
            decode_png(bytes(bad))
    assert data[:8] == PNG_MAGIC


def test_image_features_flat_and_gradient(spark):
    """image_features: a flat-color image has mean == the color, zero std
    and zero edge energy; a gradient image has positive edge energy."""
    import numpy as np

    from jsonschema_validator_spark.operators.multimodal import image_features
    from jsonschema_validator_spark.sources.codecs import encode_png

    flat = np.full((10, 12, 3), (40, 90, 200), np.uint8)
    yy, xx = np.mgrid[0:10, 0:12]
    grad = np.stack([xx * 20, yy * 25, xx + yy], axis=-1).astype(np.uint8)
    df = spark.createDataFrame(
        [("flat", bytearray(encode_png(flat))), ("grad", bytearray(encode_png(grad))),
         ("broken", bytearray(b"\x00" * 16))],
        "image_id string, bytes binary",
    )
    out = {r["image_id"]: r.asDict() for r in image_features(df).collect()}
    assert set(out) == {"flat", "grad"}  # undecodable dropped
    f = out["flat"]
    assert (f["f_w"], f["f_h"]) == (12, 10)
    assert (f["mean_r"], f["mean_g"], f["mean_b"]) == (40.0, 90.0, 200.0)
    assert f["std_gray"] == 0.0 and f["edge_energy"] == 0.0
    assert f["brightness"] == round(110 / 255, 6)
    assert out["grad"]["edge_energy"] > 1.0


def test_resize_images_nearest(spark):
    import numpy as np

    from jsonschema_validator_spark.operators.multimodal import resize_images
    from jsonschema_validator_spark.sources.codecs import decode_image, encode_png

    yy, xx = np.mgrid[0:20, 0:30]
    img = np.stack([xx * 8, yy * 12, (xx + yy)], axis=-1).astype(np.uint8)
    df = spark.createDataFrame(
        [("a", bytearray(encode_png(img)))], "image_id string, bytes binary"
    )
    rows = resize_images(df, out_w=10, out_h=5).collect()
    assert len(rows) == 1 and (rows[0]["w"], rows[0]["h"]) == (10, 5)
    small = decode_image(bytes(rows[0]["bytes"]))
    assert small.shape == (5, 10, 3)
    # nearest-neighbor: output pixel (y, x) == source pixel (y*h//oh, x*w//ow)
    ys = (np.arange(5) * 20) // 5
    xs = (np.arange(10) * 30) // 10
    assert (small == img[ys][:, xs]).all()


def test_sample_video_frames_corpus_in_one_batch(spark):
    """Several real MJPEG AVIs in ONE Arrow batch: videos x max_frames
    rows at the true stream indices, each frame at its video's dims, and
    the same output on a second collect."""
    from jsonschema_validator_spark.operators.multimodal import sample_video_frames
    from jsonschema_validator_spark.sources.codecs import decode_image

    vids = synth.make_video_corpus(n_videos=3, n_frames=9, seed=42)
    df = spark.createDataFrame(
        [(v, bytearray(d)) for v, d in vids], "video_id string, bytes binary"
    ).coalesce(1)
    out = sample_video_frames(df, every_n=4, max_frames=2)

    def collect():
        return sorted(
            (r["video_id"], r["frame_idx"], r["w"], r["h"], bytes(r["frame_png"]))
            for r in out.collect()
        )

    rows = collect()
    assert len(rows) == 3 * 2
    assert {(v, k) for v, k, *_ in rows} == {(v, k) for v, _ in vids for k in (0, 4)}
    for v, _k, w, h, png in rows:
        assert (w, h) == synth.true_dims(42, int(v))
        assert decode_image(png).shape == (h, w, 3)
    assert collect() == rows


def test_sample_video_frames_real_mjpeg_avi(spark):
    """sample_video_frames decodes REAL MJPEG AVI bytes end-to-end (container
    walk + T.81 JPEG decode on executors): frame_idx is the true stream
    index, sampled frames round-trip at >= 40 dB vs the originals."""
    import numpy as _np

    from jsonschema_validator_spark.operators.multimodal import sample_video_frames
    from jsonschema_validator_spark.sources.avi import encode_mjpeg_avi
    from jsonschema_validator_spark.sources.codecs import decode_image

    def frame(k):
        yy, xx = _np.mgrid[0:24, 0:32]
        return ((xx * 5 + yy * 3 + 37 * k) % 256).astype(_np.uint8)[..., None].repeat(3, axis=2)

    originals = [frame(k) for k in range(7)]
    df = spark.createDataFrame(
        [("v1", bytearray(encode_mjpeg_avi(originals, fps=5, quality=98)))],
        "video_id string, bytes binary",
    )
    rows = sample_video_frames(df, every_n=3, max_frames=2).collect()
    assert {(r["frame_idx"], r["w"], r["h"]) for r in rows} == {(0, 32, 24), (3, 32, 24)}
    for r in rows:
        px = decode_image(bytes(r["frame_png"]))
        ref = originals[r["frame_idx"]]
        mse = _np.mean((px.astype(float) - ref.astype(float)) ** 2)
        assert 10 * _np.log10(255**2 / max(mse, 1e-12)) >= 40.0
    # non-AVI bytes through the real path fail loudly inside the task
    bad = spark.createDataFrame(
        [("x", bytearray(b"not-a-container"))], "video_id string, bytes binary"
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="RIFF/AVI"):
        sample_video_frames(bad).collect()


def test_audio_features_corpus_in_one_batch(spark):
    """Several real WAV clips (rates, sample formats, a stereo mixdown) in
    ONE Arrow batch match the independent WAV reader's features exactly,
    and a second collect gives the same rows."""
    from jsonschema_validator_spark.operators.multimodal import audio_features
    from jsonschema_validator_spark.oracle import audio_feature_rows

    clips = synth.make_audio_corpus(6, 42)
    df = spark.createDataFrame(
        [(c, bytearray(d)) for c, d in clips], "audio_id string, bytes binary"
    ).coalesce(1)
    out = audio_features(df)
    rows = sorted(tuple(r) for r in out.collect())
    assert rows == sorted(audio_feature_rows(6, 42))
    assert sorted(tuple(r) for r in out.collect()) == rows


def test_audio_features_real_wav(spark):
    """audio_features parses REAL RIFF/WAVE bytes end-to-end: a 440 Hz
    sine at 8 kHz / 16-bit PCM yields the analytic rms (amp/sqrt(2)),
    peak and zero-crossing rate (2*f0/rate); stereo mixes to mono."""
    import numpy as _np

    from jsonschema_validator_spark.operators.multimodal import audio_features
    from jsonschema_validator_spark.sources.wav import encode_wav

    t = _np.arange(8000) / 8000.0
    sine = 0.5 * _np.sin(2 * _np.pi * 440 * t)
    stereo = _np.stack([sine, sine], axis=1)
    df = spark.createDataFrame(
        [
            ("mono16", bytearray(encode_wav(sine, 8000, bits=16))),
            ("stereo24", bytearray(encode_wav(stereo, 8000, bits=24))),
            ("float32", bytearray(encode_wav(sine, 8000, bits=32, fmt="float"))),
        ],
        "audio_id string, bytes binary",
    )
    rows = {r["audio_id"]: r.asDict() for r in audio_features(df).collect()}
    assert set(rows) == {"mono16", "stereo24", "float32"}
    for r in rows.values():
        assert r["sample_rate"] == 8000 and r["n_samples"] == 8000
        assert r["duration_sec"] == 1.0
        assert abs(r["rms"] - 0.5 / _np.sqrt(2)) < 1e-3
        assert abs(r["peak"] - 0.5) < 1e-3
        assert abs(r["zero_crossing_rate"] - 2 * 440 / 8000) < 2e-3
    import pytest as _pytest

    bad = spark.createDataFrame(
        [("x", bytearray(b"mp3-ish-bytes"))], "audio_id string, bytes binary"
    )
    with _pytest.raises(Exception, match="RIFF/WAVE"):
        audio_features(bad).collect()


def test_null_payloads_dropped_not_crash(spark):
    """Review fix: bytes(None) raises TypeError, which the ValueError
    handlers did not catch — a single NULL payload killed the task in
    image_features / resize_images / image_quality_metrics, and
    sample_video_frames / audio_features. NULL rows are dropped like
    undecodable ones."""
    from jsonschema_validator_spark.operators.multimodal import (
        audio_features,
        image_features,
        image_quality_metrics,
        resize_images,
        sample_video_frames,
    )
    from jsonschema_validator_spark.sources.codecs import encode_png

    px = np.full((8, 8, 3), 128, np.uint8)
    rows = [("ok", bytearray(encode_png(px))), ("gone", None)]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    assert [r["image_id"] for r in image_features(df).collect()] == ["ok"]
    assert [r["image_id"] for r in image_quality_metrics(df).collect()] == ["ok"]
    assert [r["image_id"] for r in resize_images(df, 4, 4).collect()] == ["ok"]
    ((vid, avi),) = synth.make_video_corpus(n_videos=1, n_frames=2, seed=42)
    vdf = spark.createDataFrame(
        [(vid, bytearray(avi)), ("gone", None)], "video_id string, bytes binary"
    )
    assert {r["video_id"] for r in sample_video_frames(vdf).collect()} == {vid}
    ((aid, wav),) = synth.make_audio_corpus(1, 42)
    adf = spark.createDataFrame(
        [(aid, bytearray(wav)), ("gone", None)], "audio_id string, bytes binary"
    )
    assert [r["audio_id"] for r in audio_features(adf).collect()] == [aid]


def test_pixel_checksum_exact_integer_math(spark):
    """Review fix: np.uint64 * python-int promotes to float64 on NumPy 1.x,
    quantizing the checksum (and diverging from NumPy 2). The checksum must
    equal the exact integer formula."""
    from jsonschema_validator_spark.operators.multimodal import decode_profile
    from jsonschema_validator_spark.sources.codecs import decode_image, encode_png

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    blob = encode_png(px)
    df = spark.createDataFrame(
        [("a", bytearray(blob))], "image_id string, bytes binary"
    )
    got = decode_profile(df).collect()[0]["pixel_checksum"]
    want = int(decode_image(blob).astype(np.uint64).sum()) * 2654435761 % (1 << 63)
    assert got == int(want)
