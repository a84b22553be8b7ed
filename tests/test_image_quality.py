"""Image quality metrics + gate (operators/multimodal.py): blur/entropy/
clipping/colorfulness signals over decoded pixels, pinned against
constructed images with known-by-math values and an independent numpy
recomputation.

Image-axis training-pipeline extension (SURVEY.md §2.5 scope): the
curation-gating twin of text.quality_struct.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from jsonschema_validator_spark.operators.multimodal import (
    image_quality_gate,
    image_quality_metrics,
)
from jsonschema_validator_spark.sources.codecs import encode_png
from tests.test_plan_shapes import _PYTHON_NODE


def _df(spark, images):
    """images: {image_id: uint8 (h,w,3) array} → Spark frame of PNG bytes."""
    rows = [(iid, bytearray(encode_png(px))) for iid, px in images.items()]
    return spark.createDataFrame(rows, "image_id string, bytes binary")


def _flat(v, h=16, w=16):
    return np.full((h, w, 3), v, dtype=np.uint8)


class TestKnownImages:
    def test_flat_gray_is_degenerate_everywhere(self, spark):
        out = image_quality_metrics(_df(spark, {"flat": _flat(128)})).collect()
        (r,) = out
        assert r["sharpness"] == 0.0
        assert r["entropy"] == 0.0  # single histogram bin
        assert r["clip_low_frac"] == 0.0 and r["clip_high_frac"] == 0.0
        assert r["colorfulness"] == 0.0  # r==g==b -> both opponent axes 0
        assert r["dynamic_range"] == 0.0

    def test_black_and_white_halves_clip_and_range(self, spark):
        px = np.zeros((16, 16, 3), dtype=np.uint8)
        px[:, 8:, :] = 255
        (r,) = image_quality_metrics(_df(spark, {"bw": px})).collect()
        assert r["clip_low_frac"] == 0.5 and r["clip_high_frac"] == 0.5
        assert r["dynamic_range"] == 255.0
        assert r["entropy"] == 1.0  # two equal-mass bins
        assert r["sharpness"] > 0.0  # the edge has Laplacian response

    def test_noise_has_high_entropy_and_sharpness(self, spark):
        rng = np.random.default_rng(3)
        px = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8).astype(np.uint8)
        (r,) = image_quality_metrics(_df(spark, {"noise": px})).collect()
        assert r["entropy"] > 6.0
        assert r["sharpness"] > 100.0

    def test_colorfulness_zero_iff_grayscale_content(self, spark):
        rng = np.random.default_rng(5)
        g = rng.integers(0, 256, size=(16, 16, 1), dtype=np.uint8)
        gray_rgb = np.repeat(g, 3, axis=2).astype(np.uint8)
        colorful = np.zeros((16, 16, 3), dtype=np.uint8)
        colorful[:, :, 0] = 255  # pure red
        out = {
            r["image_id"]: r
            for r in image_quality_metrics(
                _df(spark, {"gray": gray_rgb, "red": colorful})
            ).collect()
        }
        assert out["gray"]["colorfulness"] == 0.0
        assert out["red"]["colorfulness"] > 50.0

    def test_matches_independent_numpy(self, spark):
        rng = np.random.default_rng(11)
        px = rng.integers(0, 256, size=(24, 20, 3), dtype=np.uint8)
        (r,) = image_quality_metrics(_df(spark, {"x": px})).collect()

        f = px.astype(np.float64)
        gray = f.mean(axis=2)
        lap = (
            -4 * gray[1:-1, 1:-1]
            + gray[:-2, 1:-1] + gray[2:, 1:-1]
            + gray[1:-1, :-2] + gray[1:-1, 2:]
        )
        hist, _ = np.histogram(gray, bins=256, range=(0.0, 256.0))
        p = hist[hist > 0] / gray.size
        rg = f[:, :, 0] - f[:, :, 1]
        yb = 0.5 * (f[:, :, 0] + f[:, :, 1]) - f[:, :, 2]
        assert r["sharpness"] == pytest.approx(lap.var(), abs=1e-6)
        assert r["entropy"] == pytest.approx(-(p * np.log2(p)).sum(), abs=1e-6)
        assert r["colorfulness"] == pytest.approx(
            np.sqrt(rg.std() ** 2 + yb.std() ** 2)
            + 0.3 * np.sqrt(rg.mean() ** 2 + yb.mean() ** 2),
            abs=1e-6,
        )

    def test_undecodable_rows_dropped(self, spark):
        df = spark.createDataFrame(
            [("ok", bytearray(encode_png(_flat(10)))), ("bad", bytearray(b"nope-not-an-image"))],
            "image_id string, bytes binary",
        )
        out = image_quality_metrics(df).collect()
        assert [r["image_id"] for r in out] == ["ok"]

    def test_tiny_image_sharpness_defined(self, spark):
        # 2x2: no interior pixel for the 3x3 Laplacian -> sharpness 0, no crash
        (r,) = image_quality_metrics(
            _df(spark, {"tiny": _flat(9, h=2, w=2)})
        ).collect()
        assert r["sharpness"] == 0.0


class TestGate:
    def test_flags_and_keep(self, spark):
        rng = np.random.default_rng(7)
        good = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
        flat = _flat(200)
        out = {
            r["image_id"]: r
            for r in image_quality_gate(
                _df(spark, {"good": good, "flat": flat})
            ).collect()
        }
        assert out["good"]["keep"] is True
        bad = out["flat"]
        assert bad["keep"] is False
        assert bad["flag_blurry"] and bad["flag_low_entropy"] and bad["flag_flat"]

    def test_gate_is_single_decode_pass(self, spark):
        df = _df(spark, {"a": _flat(1)})
        plan = image_quality_gate(df)._jdf.queryExecution().optimizedPlan().toString()
        # flags are Column algebra over ONE metrics projection: exactly one
        # Python node (the shared payload map), no join
        assert _PYTHON_NODE.findall(plan) == ["MapInArrow"], plan
        assert "Join" not in plan
