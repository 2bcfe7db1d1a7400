"""Multimodal plumbing gates: schema, Arrow batch shape, deterministic
fake decode, dedup, strict-mode stub behavior."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tapes_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    return mm.make_fake_media(spark, n=32, seed=42)


def test_feature_extraction_shape(spark, media):
    feats = mm.extract_features(media, fake_decode=True)
    rows = feats.collect()
    assert len(rows) == 32
    for r in rows:
        assert len(r["feature"]) == mm.FEATURE_DIM
        assert r["payload_bytes"] > 0
        assert len(r["payload_sha256"]) == 64


def test_features_deterministic(spark, media):
    a = mm.extract_features(media, fake_decode=True).orderBy("media_id").collect()
    b = mm.extract_features(media, fake_decode=True).orderBy("media_id").collect()
    assert [r["feature"] for r in a] == [r["feature"] for r in b]


def test_strict_mode_raises(spark, media):
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception) as exc:
        mm.extract_features(media, fake_decode=False).collect()
    assert "NotImplementedError" in str(exc.value) or "media codecs" in str(
        exc.value
    )


class TestRealCodecs:
    """The real pure-numpy decode paths (BMP/PPM/WAV) — end to end
    through the strict-mode pipeline, no codec libraries, no fake."""

    def test_bmp_roundtrip_luminance(self):
        import numpy as np

        # left half black, right half white -> pooled grid splits 0 / 1
        rgb = np.zeros((16, 16, 3), dtype=np.uint8)
        rgb[:, 8:, :] = 255
        plane = mm._decode_media(mm.encode_bmp(rgb), fake=False)
        assert plane.shape == (mm.GRID, mm.GRID)
        assert np.allclose(plane[:, :4], 0.0)
        assert np.allclose(plane[:, 4:], 1.0)

    def test_bmp_row_order_and_stride(self):
        import numpy as np

        # non-multiple-of-4 width exercises stride padding; a single red
        # TOP-left pixel must stay top-left through bottom-up storage
        rgb = np.zeros((5, 5, 3), dtype=np.uint8)
        rgb[0, 0, 0] = 255  # red
        plane = mm._pool_to_grid(mm._decode_bmp(mm.encode_bmp(rgb)), 5)
        assert plane[0, 0] > 0.2
        assert np.allclose(plane[4, 4], 0.0)

    def test_ppm_roundtrip(self):
        import numpy as np

        rgb = np.full((6, 9, 3), 128, dtype=np.uint8)
        plane = mm._decode_media(mm.encode_ppm(rgb), fake=False)
        assert plane.shape == (mm.GRID, mm.GRID)
        assert np.allclose(plane, 128 / 255, atol=1e-9)

    def test_ppm_comment_header(self):
        import numpy as np

        payload = b"P6\n# a comment\n2 2\n255\n" + bytes(12)
        plane = mm._decode_ppm(payload)
        assert plane.shape == (2, 2)
        assert np.allclose(plane, 0.0)

    def test_wav_roundtrip(self):
        import numpy as np

        samp = np.zeros(256, dtype=np.int16)  # silence -> plane of 0.5
        plane = mm._decode_media(mm.encode_wav(samp), fake=False)
        assert plane.shape == (mm.GRID, mm.GRID)
        assert np.allclose(plane, 0.5, atol=1e-4)

    def test_strict_pipeline_end_to_end(self, spark):
        media = mm.make_real_media(spark, n=12, seed=42)
        feats = mm.extract_features(media, fake_decode=False).orderBy(
            "media_id"
        ).collect()
        assert len(feats) == 12
        for r in feats:
            assert len(r["feature"]) == mm.FEATURE_DIM
            assert all(f is not None for f in r["feature"])
        again = mm.extract_features(media, fake_decode=False).orderBy(
            "media_id"
        ).collect()
        assert [r["feature"] for r in feats] == [r["feature"] for r in again]

    def test_codec_backed_formats_still_raise(self):
        import pytest as _pytest

        mp3_magic = b"\xff\xfb\x90\x44" + bytes(64)  # MPEG-1 layer III sync
        with _pytest.raises(NotImplementedError):
            mm._decode_media(mp3_magic, fake=False)
        for magic in (b"\xff\xd8\xff\xe0", b"GIF89a"):  # JPEG, GIF
            with _pytest.raises(NotImplementedError):
                mm._decode_media(magic + bytes(64), fake=False)

    def test_png_roundtrip_all_filters(self):
        """Every defilter path (0=None 1=Sub 2=Up 3=Average 4=Paeth) must
        reconstruct the exact pixels it encoded."""
        import numpy as np

        rng = np.random.RandomState(7)
        rgb = rng.randint(0, 256, size=(11, 13, 3), dtype=np.uint8)
        want = (
            0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1]
            + 0.114 * rgb[:, :, 2]
        ) / 255.0
        for f in range(5):
            got = mm._decode_png(mm.encode_png(rgb, filter_type=f))
            assert np.allclose(got, want, atol=1e-9), f"filter {f}"

    def test_png_rgba_and_unsupported_variants(self):
        import numpy as np
        import pytest as _pytest

        rng = np.random.RandomState(9)
        rgba = rng.randint(0, 256, size=(6, 5, 4), dtype=np.uint8)
        got = mm._decode_png(mm.encode_png(rgba, filter_type=4))
        assert got.shape == (6, 5)  # alpha ignored, luminance plane
        # 16-bit / interlaced stay strict-mode stubs
        good = bytearray(mm.encode_png(rgba))
        bad_depth = bytes(good[:24]) + b"\x10" + bytes(good[25:])
        with _pytest.raises(NotImplementedError):
            mm._decode_png(bad_depth)

    def test_png_palette_roundtrip_every_filter(self):
        """color_type-3 (indexed) PNG: the defiltered index plane gathers
        RGB through the PLTE table — exact per-filter round-trip, same
        contract as the direct-color paths."""
        import numpy as np

        rng = np.random.RandomState(11)
        palette = rng.randint(0, 256, size=(17, 3), dtype=np.uint8)
        idx = rng.randint(0, 17, size=(9, 14), dtype=np.uint8)
        rgb = palette[idx]
        want = (
            0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1]
            + 0.114 * rgb[:, :, 2]
        ) / 255.0
        for f in range(5):
            got = mm._decode_png(
                mm.encode_png(idx, filter_type=f, palette=palette)
            )
            assert np.allclose(got, want, atol=1e-9), f"filter {f}"

    def test_png_palette_guards(self):
        import numpy as np
        import pytest as _pytest

        palette = np.array([[1, 2, 3]], dtype=np.uint8)
        idx = np.zeros((3, 3), dtype=np.uint8)
        png = bytearray(mm.encode_png(idx, palette=palette))
        # strip the PLTE chunk -> must refuse, not decode garbage
        plte_at = bytes(png).find(b"PLTE") - 4
        plte_len = int.from_bytes(png[plte_at : plte_at + 4], "big")
        no_plte = bytes(png[:plte_at]) + bytes(png[plte_at + 12 + plte_len:])
        with _pytest.raises(ValueError, match="PLTE"):
            mm._decode_png(no_plte)
        # out-of-range index -> explicit error, not a numpy wrap-around
        oob = mm.encode_png(
            np.full((2, 2), 5, dtype=np.uint8), palette=palette
        )
        with _pytest.raises(ValueError, match="index out of range"):
            mm._decode_png(oob)


class TestPoisonedEmbeds:
    """D5 completeness: recorded deterministic embed failures are skipped
    on re-runs (spanembed.go:160-192 decide(): ExistingFailHash ->
    actionPoisoned)."""

    def _with_bad(self, spark):
        good = mm.make_real_media(spark, n=6, seed=42)
        bad = spark.createDataFrame(
            [
                (100, "image", bytearray(b"\x89PNG\r\n\x1a\n" + bytes(64)),
                 "image/png", 8, 8, None),
                (101, "image", bytearray(b"\x00garbage"), "application/x-bin",
                 None, None, None),
            ],
            mm.MEDIA_SCHEMA,
        )
        return good.unionByName(bad)

    def test_failures_recorded_then_skipped(self, spark):
        media = self._with_bad(spark)
        feats, fails, plan = mm.extract_features_incremental(media)
        assert feats.count() == 6
        assert fails.count() == 2
        assert plan.filter(F.col("action") == "embed").count() == 8

        existing = feats.select(
            "payload_sha256", F.lit(mm.FEATURE_MODEL).alias("model")
        )
        feats2, fails2, plan2 = mm.extract_features_incremental(
            media, existing=existing, failures=fails
        )
        actions = {
            r["action"]: r["count"]
            for r in plan2.groupBy("action").count().collect()
        }
        assert actions == {"up_to_date": 6, "poisoned": 2}
        # nothing reaches the decoder on the second run
        assert feats2.count() == 0 and fails2.count() == 0

    def test_model_switch_retries_poisoned(self, spark):
        media = self._with_bad(spark)
        _, fails, _ = mm.extract_features_incremental(media)
        # a new model invalidates the failure record: re-attempt
        plan = mm.plan_embeds(media, failures=fails, model="pooled-luma-v2")
        assert plan.filter(F.col("action") == "poisoned").count() == 0
        assert plan.filter(F.col("action") == "embed").count() == 8

    def test_empty_payload_is_empty_action(self, spark):
        media = spark.createDataFrame(
            [(0, "image", bytearray(b""), "image/bmp", None, None, None)],
            mm.MEDIA_SCHEMA,
        )
        plan = mm.plan_embeds(media)
        assert [r["action"] for r in plan.collect()] == ["empty"]


def test_media_dedup(spark, media):
    d = mm.media_dedup(media)
    total = d.agg(F.sum("n_copies")).collect()[0][0]
    assert total == 32
    # every 8th payload seeded identically -> at least one multi-copy group
    assert d.filter(F.col("n_copies") > 1).count() >= 1


def test_byte_aware_repartition(spark, media):
    small = mm.media_repartition(media, target_partition_bytes=256)
    assert small.rdd.getNumPartitions() > 1
    big = mm.media_repartition(media, target_partition_bytes=1 << 30)
    assert big.rdd.getNumPartitions() == 1


def test_plan_embeds_does_not_force_broadcast(spark, media):
    """The already-embedded set is O(corpus), not a dim: a forced
    broadcast of `existing` OOMs at scale.  The plan must carry no
    user broadcast hint on either mark side (AQE may still CHOOSE
    broadcast at runtime when a side measures small — that is fine)."""
    existing = spark.createDataFrame(
        [("00" * 32, mm.FEATURE_MODEL)], "payload_sha256 string, model string"
    )
    fails = spark.createDataFrame(
        [("11" * 32, mm.FEATURE_MODEL)], "payload_sha256 string, model string"
    )
    plan = mm.plan_embeds(media, existing=existing, failures=fails)
    analyzed = plan._jdf.queryExecution().analyzed().toString()
    assert "broadcast" not in analyzed.lower()
    # the ladder still works without the hint
    actions = {r["action"] for r in plan.select("action").distinct().collect()}
    assert "embed" in actions
