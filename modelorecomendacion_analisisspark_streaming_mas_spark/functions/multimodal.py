"""Multimodal columns (north-star surface): image/audio/video as opaque
``binary`` payloads with typed metadata structs, processed through
Arrow-batched ``mapInPandas`` -- the 100 TB shape for media pipelines.

Codec tiers (VERDICT r3 upgraded this from all-stub to real-by-default):

  * ``decode_image`` is REAL for PNG on any host: it prefers PIL when
    importable, else falls back to the stdlib-only decoder in
    codecs_stdlib.py (zlib inflate + scanline unfiltering). Non-PNG
    payloads without PIL still raise NotImplementedError -- honestly
    gated, exactly like the protobuf shim's probe.
  * ``decode_audio_wav`` is real WAV PCM decode (stdlib ``wave``).
  * ``fake_decode_image``/``fake_decode_audio`` remain as deterministic
    byte-hash stand-ins for payloads that are not genuine containers
    (synth_image_table wraps utf-8 text, not PNGs) and for differential
    tests of the Arrow plumbing itself.
  * ``synth_png_table``/``synth_wav_table`` build REAL containers
    deterministically from the documents table, so mm02/mm04 exercise
    encode -> binary column -> Arrow-batched decode -> features on
    actual image/audio bytes, with content-dependent results.

Scale notes: mapInPandas streams Arrow record batches (bounded memory per
task regardless of blob sizes); media tables should be written with
``write_parquet(..., partition_by=[...])`` so feature-extraction scans
prune; metadata-only queries (q on width/fps/duration) never touch the
binary column thanks to parquet column pruning.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.readers import PY_CHAIN_SPREAD_MIN_BYTES, spread

IMAGE_SCHEMA = (
    "id long, content binary, meta struct<width: int, height: int, format: string>"
)
AUDIO_SCHEMA = (
    "id long, content binary, "
    "meta struct<sample_rate: int, n_samples: int, channels: int, format: string>"
)
VIDEO_SCHEMA = (
    "id long, content binary, meta struct<fps: double, duration_s: double, format: string>"
)

N_FEATURES = 16


def _round_half_up6(x: float) -> float:
    """floor(x*1e6 + 0.5)/1e6 for nonnegative x: round half AWAY from
    zero at 6dp, as one fixed sequence of double ops an oracle mirrors
    verbatim. Python's round() is banker's, which disagrees with SQL on
    exactly-representable ties (e.g. k/128 pixel means end in a true
    decimal ...5 and round half-to-EVEN), so it cannot anchor a
    hash-exact contract."""
    import math

    return math.floor(x * 1000000.0 + 0.5) / 1000000.0


def _codec_available() -> bool:
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def decode_image(content: bytes) -> "np.ndarray":
    """Real decode path: PIL when importable, else the stdlib-only
    decoders (codecs_stdlib.decode_png / decode_bmp). Payloads that are
    neither PNG nor BMP on a PIL-less host raise NotImplementedError --
    the remaining honest gate (JPEG etc. genuinely need a codec lib)."""
    if _codec_available():
        import io

        import PIL.Image

        return np.asarray(PIL.Image.open(io.BytesIO(content)))
    if content[:8] == _PNG_MAGIC:
        from .codecs_stdlib import decode_png

        return decode_png(content)
    if content[:2] == b"BM":
        from .codecs_stdlib import decode_bmp

        return decode_bmp(content)
    raise NotImplementedError(
        "no codec for this payload: PIL is absent and the content is "
        "neither PNG nor BMP (the stdlib fallbacks); use "
        "fake_decode_image for non-container test payloads"
    )


def fake_decode_image(content: bytes) -> np.ndarray:
    """Deterministic stand-in decode: md5-seeded pseudo-pixels with the
    byte-histogram of the payload folded in. Stable across runs/engines."""
    h = hashlib.md5(content).digest()
    rng = np.random.default_rng(int.from_bytes(h[:8], "big"))
    base = rng.integers(0, 256, size=(8, 8), dtype=np.uint8).astype(np.float64)
    hist = np.bincount(np.frombuffer(content, dtype=np.uint8), minlength=256)
    return base + hist[:64].reshape(8, 8)


def image_feature_vector(px: np.ndarray) -> list[float]:
    """[mean, std, min, max, 12-bin histogram] of a uint8 pixel array,
    each rounded to 6dp, computed with ARITHMETIC AN ORACLE CAN REPLAY:
    mean and variance come from exact integer sums (S1, S2 fit doubles
    exactly, so summation order cannot matter), variance is the fixed
    op-order ``S2/n - (S1/n)^2``, and the histogram bins integers against
    exact dyadic boundaries (bin = floor(px * 12/512), and 12/512 is a
    power-of-two-denominator rational). np.std's pairwise-summed
    deviations formula would differ from any SQL rendering in the last
    ulps and turn 6dp rounding into a coin flip near boundaries."""
    flat = px.astype(np.int64).ravel()
    n = flat.size
    s1 = int(flat.sum())
    s2 = int((flat * flat).sum())
    mean = s1 / n
    var = s2 / n - (s1 / n) * (s1 / n)
    std = float(np.sqrt(max(var, 0.0)))
    hist = np.bincount((flat * (12.0 / 512.0)).astype(np.int64), minlength=12)[
        : N_FEATURES - 4
    ]
    v = [mean, std, float(flat.min()), float(flat.max())] + [
        float(c) for c in hist
    ]
    return [_round_half_up6(float(x)) for x in v]


def extract_image_features(df: DataFrame, decode=fake_decode_image) -> DataFrame:
    """binary content -> fixed-dim feature vector via mapInPandas.

    One Arrow batch in, one out; the UDF is pure-per-row so Spark is free
    to pipeline it inside the scan stage (no shuffle).
    """

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows = []
            # zip over columns, not iterrows: iterrows materializes a
            # pandas Series per row (~10x the per-row overhead), which
            # dominates when the decode itself is cheap.
            for rid, content, meta in zip(pdf["id"], pdf["content"], pdf["meta"]):
                px = decode(content)
                out_rows.append(
                    {
                        "id": rid,
                        "features": image_feature_vector(px),
                        "width": meta["width"] if meta is not None else None,
                    }
                )
            yield pd.DataFrame(out_rows, columns=["id", "features", "width"])

    return df.mapInPandas(feats, schema="id long, features array<double>, width int")


def resize_plan(df: DataFrame, max_side: int) -> DataFrame:
    """Metadata-only resize planning: compute target dims WITHOUT touching
    the binary column (pure column pruning -- the scan never reads blobs)."""
    scale = F.least(
        F.lit(1.0),
        F.lit(max_side)
        / F.greatest(F.col("meta.width").cast("double"), F.col("meta.height").cast("double")),
    )
    return df.select(
        "id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.round(F.col("meta.width") * scale).cast("int").alias("target_w"),
        F.round(F.col("meta.height") * scale).cast("int").alias("target_h"),
    )


def frame_sample_plan(df: DataFrame, every_s: float) -> DataFrame:
    """Video frame-sampling plan from metadata: frame indices to decode at
    ``every_s``-second intervals (sequence expr, no Python)."""
    n = (F.col("meta.duration_s") / F.lit(every_s)).cast("int")
    return df.select(
        "id",
        F.col("meta.fps").alias("fps"),
        F.transform(
            F.sequence(F.lit(0), n),
            lambda i: (i * F.lit(every_s) * F.col("meta.fps")).cast("long"),
        ).alias("frame_indices"),
    )


def fake_decode_audio(content: bytes, n_samples: int) -> np.ndarray:
    """Deterministic stand-in PCM decode (the audio twin of
    fake_decode_image): md5-seeded noise, amplitude-modulated by the
    payload's mean byte value. Stable across runs/engines."""
    h = hashlib.md5(content).digest()
    rng = np.random.default_rng(int.from_bytes(h[8:16], "big"))
    amp = (np.frombuffer(content, dtype=np.uint8).mean() / 255.0) if content else 0.5
    return amp * rng.uniform(-1.0, 1.0, size=n_samples)


def extract_audio_features(df: DataFrame, decode=fake_decode_audio) -> DataFrame:
    """binary content -> per-clip acoustic features (RMS energy, zero-
    crossing rate, duration) via mapInPandas. Same bounded-memory Arrow
    contract as extract_image_features: one batch in, one out, pure
    per-row -> Spark pipelines it inside the scan stage, no shuffle. The
    clip length comes from metadata so the decode step can size its
    buffer without sniffing the payload."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows = []
            for rid, content, meta in zip(pdf["id"], pdf["content"], pdf["meta"]):
                sr = int(meta["sample_rate"])
                n = int(meta["n_samples"])
                pcm = decode(content, n)
                zc = int(np.sum(np.signbit(pcm[1:]) != np.signbit(pcm[:-1])))
                # _round_half_up6, not round(): see the helper's docstring
                # -- zcr = zc/512-style dyadic ties exist in this data
                out_rows.append(
                    {
                        "id": rid,
                        "duration_s": _round_half_up6(n / sr),
                        "rms": _round_half_up6(float(np.sqrt(np.mean(pcm**2)))),
                        "zcr": _round_half_up6(zc / max(n - 1, 1)),
                    }
                )
            yield pd.DataFrame(out_rows, columns=["id", "duration_s", "rms", "zcr"])

    return df.mapInPandas(
        feats, schema="id long, duration_s double, rms double, zcr double"
    )


def synth_audio_table(spark, source_df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Deterministic synthetic audio table: utf-8 payloads as PCM blobs +
    metadata (sample rate, clip length) derived from the text column."""
    sr = (F.length(text_col) % 3 * 4000 + 8000).cast("int")
    return source_df.select(
        F.col(id_col).cast("long").alias("id"),
        F.encode(F.col(text_col), "utf-8").alias("content"),
        F.struct(
            sr.alias("sample_rate"),
            (sr * (F.length(text_col) % 5 + 1)).cast("int").alias("n_samples"),
            (F.col(id_col) % 2 + 1).cast("int").alias("channels"),
            F.lit("fake/pcm").alias("format"),
        ).alias("meta"),
    )


def synth_video_table(spark, source_df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Deterministic synthetic video table: payload + (fps, duration)
    metadata -- enough for metadata-only frame planning."""
    return source_df.select(
        F.col(id_col).cast("long").alias("id"),
        F.encode(F.col(text_col), "utf-8").alias("content"),
        F.struct(
            (F.length(text_col) % 2 * 6 + 24).cast("double").alias("fps"),
            (F.length(text_col) % 20 + 1).cast("double").alias("duration_s"),
            F.lit("fake/raw").alias("format"),
        ).alias("meta"),
    )


def synth_image_table(spark, source_df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Deterministic synthetic media table: utf-8 payloads masquerading as
    image blobs + plausible metadata (for tests/bench without real media)."""
    return source_df.select(
        F.col(id_col).cast("long").alias("id"),
        F.encode(F.col(text_col), "utf-8").alias("content"),
        F.struct(
            (F.length(text_col) % 640 + 32).cast("int").alias("width"),
            (F.length(text_col) % 480 + 32).cast("int").alias("height"),
            F.lit("fake/raw").alias("format"),
        ).alias("meta"),
    )


def _text_pixels(text: str) -> np.ndarray:
    """Deterministic gray pixels from a text payload: pixel k is byte
    ``k % 16`` of ``md5(text | block k//16)``, at a text-length-derived
    size.

    r5 change (was PCG64-seeded noise): md5-block pixels are reproducible
    inside ANY engine with md5() -- the same pinning move as e02's
    Rademacher planes -- which is what lets mm02's decoded-pixel features
    carry an exact DuckDB oracle instead of a rows-only check. Content
    still depends on the full text through the hash."""
    data = text.encode("utf-8")
    height = len(data) % 16 + 8
    width = len(data) % 24 + 8
    npx = height * width
    out = bytearray()
    for blk in range((npx + 15) // 16):
        out += hashlib.md5(data + b"|" + str(blk).encode()).digest()
    return np.frombuffer(bytes(out[:npx]), dtype=np.uint8).reshape(height, width)


def synth_png_table(spark, source_df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """REAL container synth table: every row's ``content`` is a valid PNG
    (stdlib encoder) of deterministic text-derived pixels, and the metadata
    carries the actual encoded dimensions. The real-decode pipeline
    (``extract_image_features(..., decode=decode_image)``) round-trips
    these end-to-end: encode on one task, decode on another, features from
    genuine pixel data."""
    from .codecs_stdlib import encode_png

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, text in zip(pdf["id"], pdf["text"]):
                px = _text_pixels(text)
                rows.append(
                    {
                        "id": int(rid),
                        "content": encode_png(px),
                        "meta": {
                            "width": int(px.shape[1]),
                            "height": int(px.shape[0]),
                            "format": "image/png",
                        },
                    }
                )
            yield pd.DataFrame(rows, columns=["id", "content", "meta"])

    # spread BEFORE the encode -- but ONLY past the chained-Python size
    # floor: a real corpus arrives as many splits (spread no-ops) or as a
    # big single split worth widening, while a replay-sized (id, text)
    # source costs more to spread than to encode serially. Downstream
    # consumers chain a SECOND mapInPandas (decode / features / hash), so
    # every spread task pays an Exchange share plus two Python-worker
    # handshakes -- fixed cost that a run-once regime pays in full (the
    # r16 driver bench measured mm02 2.67 -> 8.11 s at 32 cores from an
    # unconditional spread; the warm-regime sweep that motivated it did
    # not transfer). The shuffle, when taken, moves only the narrow
    # (id, text) rows, never blobs; cap=8 bounds the handshake count in
    # the single-big-split band (r16 sweep: 8-way beat 32-way warm).
    src = spread(
        source_df.select(
            F.col(id_col).cast("long").alias("id"), F.col(text_col).alias("text")
        ),
        cap=8,
        min_bytes=PY_CHAIN_SPREAD_MIN_BYTES,
    )
    return src.mapInPandas(build, schema=IMAGE_SCHEMA)


def synth_bmp_table(spark, source_df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """BMP twin of synth_png_table: same deterministic text-derived
    pixels, different real container (24-bit BI_RGB). Mixing the two in
    one pipeline proves content-keyed dedup across FORMATS: a re-encode
    of the same pixels as BMP must hash identically to the PNG."""
    from .codecs_stdlib import encode_bmp

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, text in zip(pdf["id"], pdf["text"]):
                px = _text_pixels(text)
                rows.append(
                    {
                        "id": int(rid),
                        "content": encode_bmp(px),
                        "meta": {
                            "width": int(px.shape[1]),
                            "height": int(px.shape[0]),
                            "format": "image/bmp",
                        },
                    }
                )
            yield pd.DataFrame(rows, columns=["id", "content", "meta"])

    # spread BEFORE the encode -- but ONLY past the chained-Python size
    # floor: a real corpus arrives as many splits (spread no-ops) or as a
    # big single split worth widening, while a replay-sized (id, text)
    # source costs more to spread than to encode serially. Downstream
    # consumers chain a SECOND mapInPandas (decode / features / hash), so
    # every spread task pays an Exchange share plus two Python-worker
    # handshakes -- fixed cost that a run-once regime pays in full (the
    # r16 driver bench measured mm02 2.67 -> 8.11 s at 32 cores from an
    # unconditional spread; the warm-regime sweep that motivated it did
    # not transfer). The shuffle, when taken, moves only the narrow
    # (id, text) rows, never blobs; cap=8 bounds the handshake count in
    # the single-big-split band (r16 sweep: 8-way beat 32-way warm).
    src = spread(
        source_df.select(
            F.col(id_col).cast("long").alias("id"), F.col(text_col).alias("text")
        ),
        cap=8,
        min_bytes=PY_CHAIN_SPREAD_MIN_BYTES,
    )
    return src.mapInPandas(build, schema=IMAGE_SCHEMA)


def decode_audio_wav(content: bytes, n_samples: int) -> np.ndarray:
    """Real WAV decode (stdlib ``wave``): returns mono float PCM in
    [-1, 1]. The metadata-declared clip length must match the container --
    a mismatch means corrupt metadata and fails loudly rather than
    silently mis-sizing downstream features."""
    from .codecs_stdlib import decode_wav

    pcm, _sr = decode_wav(content)
    if pcm.ndim > 1:  # average down to mono for feature extraction
        pcm = pcm.mean(axis=1)
    if len(pcm) != n_samples:
        raise ValueError(
            f"metadata n_samples={n_samples} != container frames={len(pcm)}"
        )
    return pcm


def synth_wav_table(spark, source_df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """REAL container synth table (audio twin of synth_png_table): each
    row's ``content`` is a valid 16-bit PCM WAV of a deterministic
    text-derived tone (frequency and amplitude seeded from the text hash),
    with container-accurate metadata."""
    from .codecs_stdlib import encode_wav

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, text in zip(pdf["id"], pdf["text"]):
                data = str(text).encode("utf-8")
                h = hashlib.md5(data).digest()
                sr = 8000
                n = len(data) % 1600 + 400
                freq = int.from_bytes(h[:2], "big") % 1800 + 200
                amp = (h[2] / 255.0) * 0.8 + 0.1
                t = np.arange(n, dtype=np.float64) / sr
                pcm = amp * np.sin(2 * np.pi * freq * t)
                rows.append(
                    {
                        "id": int(rid),
                        "content": encode_wav(pcm, sr),
                        "meta": {
                            "sample_rate": sr,
                            "n_samples": n,
                            "channels": 1,
                            "format": "audio/wav",
                        },
                    }
                )
            yield pd.DataFrame(rows, columns=["id", "content", "meta"])

    # spread BEFORE the encode -- but ONLY past the chained-Python size
    # floor: a real corpus arrives as many splits (spread no-ops) or as a
    # big single split worth widening, while a replay-sized (id, text)
    # source costs more to spread than to encode serially. Downstream
    # consumers chain a SECOND mapInPandas (decode / features / hash), so
    # every spread task pays an Exchange share plus two Python-worker
    # handshakes -- fixed cost that a run-once regime pays in full (the
    # r16 driver bench measured mm02 2.67 -> 8.11 s at 32 cores from an
    # unconditional spread; the warm-regime sweep that motivated it did
    # not transfer). The shuffle, when taken, moves only the narrow
    # (id, text) rows, never blobs; cap=8 bounds the handshake count in
    # the single-big-split band (r16 sweep: 8-way beat 32-way warm).
    src = spread(
        source_df.select(
            F.col(id_col).cast("long").alias("id"), F.col(text_col).alias("text")
        ),
        cap=8,
        min_bytes=PY_CHAIN_SPREAD_MIN_BYTES,
    )
    return src.mapInPandas(build, schema=AUDIO_SCHEMA)


_BURST_BLOCK = 400  # samples per on/off gate block (mm08)


def synth_wav_table_bursts(
    spark, source_df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Burst-gated variant of synth_wav_table (mm08's fixture): the same
    text-seeded tone, but the amplitude is gated ON/OFF per 400-sample
    block by md5 digest bytes (block b live iff h[3+b] >= 86, ~2/3 duty
    cycle), so the clip has real speech-shaped activity segments for
    energy-based segmentation to find. Same real 16-bit WAV container
    round-trip; everything md5/length-derived, so an exact SQL oracle can
    replay synthesis AND quantization (the mm04 argument)."""
    from .codecs_stdlib import encode_wav

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, text in zip(pdf["id"], pdf["text"]):
                data = str(text).encode("utf-8")
                h = hashlib.md5(data).digest()
                sr = 8000
                n = len(data) % 1600 + 400
                freq = int.from_bytes(h[:2], "big") % 1800 + 200
                amp = (h[2] / 255.0) * 0.8 + 0.1
                t = np.arange(n, dtype=np.float64) / sr
                gate = np.array(
                    [1.0 if h[3 + (i // _BURST_BLOCK)] >= 86 else 0.0 for i in range(n)]
                )
                pcm = amp * gate * np.sin(2 * np.pi * freq * t)
                rows.append(
                    {
                        "id": int(rid),
                        "content": encode_wav(pcm, sr),
                        "meta": {
                            "sample_rate": sr,
                            "n_samples": n,
                            "channels": 1,
                            "format": "audio/wav",
                        },
                    }
                )
            yield pd.DataFrame(rows, columns=["id", "content", "meta"])

    # spread BEFORE the encode -- but ONLY past the chained-Python size
    # floor: a real corpus arrives as many splits (spread no-ops) or as a
    # big single split worth widening, while a replay-sized (id, text)
    # source costs more to spread than to encode serially. Downstream
    # consumers chain a SECOND mapInPandas (decode / features / hash), so
    # every spread task pays an Exchange share plus two Python-worker
    # handshakes -- fixed cost that a run-once regime pays in full (the
    # r16 driver bench measured mm02 2.67 -> 8.11 s at 32 cores from an
    # unconditional spread; the warm-regime sweep that motivated it did
    # not transfer). The shuffle, when taken, moves only the narrow
    # (id, text) rows, never blobs; cap=8 bounds the handshake count in
    # the single-big-split band (r16 sweep: 8-way beat 32-way warm).
    src = spread(
        source_df.select(
            F.col(id_col).cast("long").alias("id"), F.col(text_col).alias("text")
        ),
        cap=8,
        min_bytes=PY_CHAIN_SPREAD_MIN_BYTES,
    )
    return src.mapInPandas(build, schema=AUDIO_SCHEMA)


def audio_energy_segments(
    df: DataFrame, decode=fake_decode_audio, frame: int = 200, threshold: float = 0.004
) -> DataFrame:
    """Energy-based activity segmentation (the VAD shape): decode ->
    frame into ``frame``-sample windows -> mean-square energy per frame
    -> frames above ``threshold`` are active -> runs of active frames
    are segments. (id, content, meta) -> (id, n_frames, n_active,
    n_segments, longest_run): ALL-INTEGER output, so the oracle contract
    has no float surface at all -- the only cross-engine float work is
    the threshold compare, whose operands are exact dyadic sums (the
    mm04 argument: squares are k^2/2^30, frame sums fit 2^53).

    Same bounded-memory Arrow mapInPandas contract as
    extract_audio_features; per-row numpy, pipelined inside the scan."""

    def segs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rid, content, meta in zip(pdf["id"], pdf["content"], pdf["meta"]):
                n = int(meta["n_samples"])
                pcm = decode(content, n)
                nf = (n + frame - 1) // frame
                active = []
                for f in range(nf):
                    fp = pcm[f * frame : min((f + 1) * frame, n)]
                    ms = float(np.sum(fp * fp)) / len(fp)
                    active.append(ms > threshold)
                n_seg, longest, cur = 0, 0, 0
                for f, a in enumerate(active):
                    if a:
                        if f == 0 or not active[f - 1]:
                            n_seg += 1
                        cur += 1
                        longest = max(longest, cur)
                    else:
                        cur = 0
                out.append(
                    {
                        "id": rid,
                        "n_frames": nf,
                        "n_active": int(sum(active)),
                        "n_segments": n_seg,
                        "longest_run": longest,
                    }
                )
            yield pd.DataFrame(
                out,
                columns=["id", "n_frames", "n_active", "n_segments", "longest_run"],
            )

    return df.mapInPandas(
        segs,
        schema="id long, n_frames long, n_active long, n_segments long, "
        "longest_run long",
    )


def image_average_hash(
    df: DataFrame, decode=fake_decode_image, hash_size: int = 8
) -> DataFrame:
    """Perceptual average-hash per image: decode -> block-mean downsample
    to hash_size x hash_size -> threshold at the mean -> 64-bit hash.
    (id, content) -> (id, phash). Arrow-batched mapInPandas; pure numpy,
    deterministic across runs/partitionings. The multimodal twin of d01:
    dedup keyed on pixel CONTENT, robust to container-level byte noise
    (re-encodes of the same pixels hash identically)."""

    def hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rid, content in zip(pdf["id"], pdf["content"]):
                px = decode(bytes(content)).astype(np.float64)
                h, w = px.shape
                rb = np.linspace(0, h, hash_size + 1).astype(int)
                cb = np.linspace(0, w, hash_size + 1).astype(int)
                # block means via two reduceat passes (r16): the former
                # 8x8 python-level slice-mean lattice was ~0.5 ms/image
                # and dominated the whole pipeline. reduceat over equal
                # consecutive indices returns the single element at that
                # index -- exactly the old max(lo+1, hi) 1-px fallback
                # for degenerate (<hash_size) dimensions.
                sums = np.add.reduceat(
                    np.add.reduceat(px, rb[:-1], axis=0), cb[:-1], axis=1
                )
                counts = np.outer(
                    np.maximum(np.diff(rb), 1), np.maximum(np.diff(cb), 1)
                )
                block = sums / counts
                bits = (block > block.mean()).flatten()
                if bits.size == 64:
                    # packbits is MSB-first per byte, '>u8' is MSB-first
                    # per word: identical bit layout to the shift loop
                    val = int(np.packbits(bits.astype(np.uint8)).view(">u8")[0])
                else:
                    val = 0
                    for b in bits:
                        val = (val << 1) | int(b)
                # fold into signed 64-bit for a Spark long column
                if val >= 1 << 63:
                    val -= 1 << 64
                out.append({"id": int(rid), "phash": val})
            yield pd.DataFrame(out, columns=["id", "phash"])

    return df.select("id", "content").mapInPandas(hashes, schema="id long, phash long")
