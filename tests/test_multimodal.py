"""Multimodal plumbing tests: Arrow-batched decode/feature extraction over
binary columns, metadata-only plans (no blob reads), stubbed codec path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from modelorecomendacion_analisisspark_streaming_mas_spark.functions.multimodal import (
    _round_half_up6,
    decode_image,
    extract_image_features,
    fake_decode_image,
    frame_sample_plan,
    resize_plan,
    synth_image_table,
)
from modelorecomendacion_analisisspark_streaming_mas_spark.sources.readers import load_table


@pytest.fixture(scope="module")
def images(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    return synth_image_table(spark, docs, "doc_id", "text").cache()


def test_feature_extraction_shape_and_determinism(images):
    out = extract_image_features(images).collect()
    assert len(out) == 50
    for r in out:
        assert len(r["features"]) == 16
    # deterministic: same input -> same features on a second run
    again = {r["id"]: r["features"] for r in extract_image_features(images).collect()}
    for r in out:
        assert again[r["id"]] == r["features"]


def test_decode_non_png_raises_without_pil():
    """The honest gate that remains after the stdlib-PNG upgrade: payloads
    that are not PNG still need PIL."""
    try:
        import PIL  # noqa: F401

        pytest.skip("codec present")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff\xe0 fake jpeg payload")


def test_decode_image_is_real_for_png():
    """decode_image round-trips a genuine PNG on ANY host (PIL or the
    stdlib decoder) -- the mm02 content path is no longer a stub."""
    import numpy as np

    from modelorecomendacion_analisisspark_streaming_mas_spark.functions.codecs_stdlib import (
        encode_png,
    )

    px = np.arange(48, dtype=np.uint8).reshape(6, 8)
    assert (decode_image(encode_png(px)) == px).all()


def test_fake_decode_is_pure():
    a = fake_decode_image(b"hello world")
    b = fake_decode_image(b"hello world")
    c = fake_decode_image(b"hello worlds")
    assert (a == b).all() and not (a == c).all()


def test_resize_plan_prunes_binary(spark, sf_dir):
    # UNcached table with a lineage distinct from the cached fixture's
    # (same plan fragment would be silently swapped for the cached
    # InMemoryRelation by Spark's cache manager, defeating the assertion)
    docs = load_table(spark, sf_dir, "documents").limit(49)
    fresh = synth_image_table(spark, docs, "doc_id", "text")
    plan = resize_plan(fresh, max_side=128)
    rows = plan.collect()
    assert all(max(r["target_w"], r["target_h"]) <= 128 for r in rows)
    explained = plan._jdf.queryExecution().executedPlan().toString()
    assert "content" not in explained


def test_frame_sample_plan(spark):
    vids = spark.createDataFrame(
        [(1, bytearray(b"v"), (30.0, 10.0, "fake/mp4"))],
        "id long, content binary, meta struct<fps: double, duration_s: double, format: string>",
    )
    out = frame_sample_plan(vids, every_s=2.0).collect()[0]
    assert out["frame_indices"] == [0, 60, 120, 180, 240, 300]


def test_audio_features_match_numpy_reference(spark, sf_dir):
    """The distributed audio path must equal a driver-side numpy
    recomputation exactly (same fake decode, same rounding)."""
    import numpy as np

    from modelorecomendacion_analisisspark_streaming_mas_spark.functions.multimodal import (
        extract_audio_features,
        fake_decode_audio,
        synth_audio_table,
    )

    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = synth_audio_table(spark, docs, "doc_id", "text")
    got = {r["id"]: r for r in extract_audio_features(media).collect()}
    assert len(got) == 20

    for row in media.collect():
        sr, n = row["meta"]["sample_rate"], row["meta"]["n_samples"]
        pcm = fake_decode_audio(bytes(row["content"]), n)
        zc = int(np.sum(np.signbit(pcm[1:]) != np.signbit(pcm[:-1])))
        r = got[row["id"]]
        assert r["duration_s"] == _round_half_up6(n / sr)
        assert r["rms"] == _round_half_up6(float(np.sqrt(np.mean(pcm**2))))
        assert r["zcr"] == _round_half_up6(zc / (n - 1))


def test_real_png_pipeline_matches_numpy_roundtrip(spark, sf_dir):
    """mm02's real path: synth_png_table encodes genuine PNGs on workers,
    extract_image_features decodes them back -- PNG is lossless, so the
    distributed features must EXACTLY equal a driver-side numpy
    recomputation from the source pixels (full content parity, not just
    shape)."""
    import numpy as np

    from modelorecomendacion_analisisspark_streaming_mas_spark.functions.multimodal import (
        _text_pixels,
        decode_image,
        extract_image_features,
        image_feature_vector,
        synth_png_table,
    )

    docs = load_table(spark, sf_dir, "documents").limit(25)
    media = synth_png_table(spark, docs, "doc_id", "text")
    got = {
        r["id"]: (r["features"], r["width"])
        for r in extract_image_features(media, decode=decode_image).collect()
    }
    assert len(got) == 25

    for row in docs.select("doc_id", "text").collect():
        px = _text_pixels(row["text"])
        expect = image_feature_vector(px)
        feats, width = got[row["doc_id"]]
        assert feats == expect
        assert width == px.shape[1]
        # pin the feature semantics independently of the helper: mean/std
        # must agree with numpy's to float tolerance (the helper's exact
        # integer-sum formula is a determinism device, not a redefinition)
        f = px.astype(np.float64)
        assert abs(expect[0] - f.mean()) < 1e-6
        assert abs(expect[1] - f.std()) < 1e-6


def test_real_wav_pipeline_matches_numpy_roundtrip(spark, sf_dir):
    """mm04's real path: 16-bit WAV encode on workers, stdlib decode back.
    Driver-side recomputation goes through the SAME encode->decode pair,
    so quantization cancels and the parity is exact."""
    import numpy as np

    from modelorecomendacion_analisisspark_streaming_mas_spark.functions.codecs_stdlib import (
        decode_wav,
        encode_wav,
    )
    from modelorecomendacion_analisisspark_streaming_mas_spark.functions.multimodal import (
        decode_audio_wav,
        extract_audio_features,
        synth_wav_table,
    )
    import hashlib

    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = synth_wav_table(spark, docs, "doc_id", "text")
    got = {
        r["id"]: r
        for r in extract_audio_features(media, decode=decode_audio_wav).collect()
    }
    assert len(got) == 20

    for row in docs.select("doc_id", "text").collect():
        data = row["text"].encode("utf-8")
        h = hashlib.md5(data).digest()
        sr, n = 8000, len(data) % 1600 + 400
        freq = int.from_bytes(h[:2], "big") % 1800 + 200
        amp = (h[2] / 255.0) * 0.8 + 0.1
        t = np.arange(n, dtype=np.float64) / sr
        pcm, _ = decode_wav(encode_wav(amp * np.sin(2 * np.pi * freq * t), sr))
        zc = int(np.sum(np.signbit(pcm[1:]) != np.signbit(pcm[:-1])))
        r = got[row["doc_id"]]
        assert r["duration_s"] == _round_half_up6(n / sr)
        assert r["rms"] == _round_half_up6(float(np.sqrt(np.mean(pcm**2))))
        assert r["zcr"] == _round_half_up6(zc / (n - 1))


def test_wav_decode_rejects_metadata_mismatch():
    """decode_audio_wav must fail loudly when metadata disagrees with the
    container header instead of silently mis-sizing features."""
    import numpy as np

    from modelorecomendacion_analisisspark_streaming_mas_spark.functions.codecs_stdlib import (
        encode_wav,
    )
    from modelorecomendacion_analisisspark_streaming_mas_spark.functions.multimodal import (
        decode_audio_wav,
    )

    blob = encode_wav(np.zeros(100), 8000)
    with pytest.raises(ValueError, match="n_samples"):
        decode_audio_wav(blob, 101)


def test_video_frame_plan_prunes_binary(spark, sf_dir):
    """mm03's whole premise: the frame plan must never read the blobs."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.functions.multimodal import (
        synth_video_table,
    )

    docs = load_table(spark, sf_dir, "documents").limit(31)
    plan = frame_sample_plan(synth_video_table(spark, docs, "doc_id", "text"), every_s=2.0)
    explained = plan._jdf.queryExecution().executedPlan().toString()
    assert "content" not in explained


def test_burst_synth_gates_blocks_and_segments_found(spark):
    """synth_wav_table_bursts must produce clips whose 400-sample blocks
    are either exact digital silence or tone (post-decode), and
    audio_energy_segments must recover the gate structure: active frame
    count equals 200-sample frames inside live blocks."""
    import numpy as np

    from modelorecomendacion_analisisspark_streaming_mas_spark.functions.multimodal import (
        _BURST_BLOCK,
        audio_energy_segments,
        decode_audio_wav,
        synth_wav_table_bursts,
    )

    docs = spark.createDataFrame(
        [(i, f"burst test doc {i} " + "x" * (i * 37 % 300)) for i in range(12)],
        "doc_id long, text string",
    )
    media = synth_wav_table_bursts(spark, docs, "doc_id", "text")
    rows = media.collect()
    import hashlib

    for r in rows[:4]:
        pcm = decode_audio_wav(bytes(r["content"]), int(r["meta"]["n_samples"]))
        h = hashlib.md5(
            next(
                d["text"] for d in docs.collect() if d["doc_id"] == r["id"]
            ).encode()
        ).digest()
        n = len(pcm)
        for b in range((n + _BURST_BLOCK - 1) // _BURST_BLOCK):
            blk = pcm[b * _BURST_BLOCK : min((b + 1) * _BURST_BLOCK, n)]
            if h[3 + b] >= 86:
                assert np.max(np.abs(blk)) > 0.05  # live tone
            else:
                assert np.max(np.abs(blk)) == 0.0  # exact digital silence

    segs = {
        r["id"]: r
        for r in audio_energy_segments(media, decode=decode_audio_wav).collect()
    }
    assert len(segs) == 12
    for r in segs.values():
        assert 0 <= r["n_active"] <= r["n_frames"]
        assert r["longest_run"] <= r["n_active"]
        assert (r["n_segments"] == 0) == (r["n_active"] == 0)
