"""Multimodal columns: binary payloads + typed metadata, processed with
Arrow-batched Pandas UDFs.

Design (BASELINE.json north star): image/audio/video travel as opaque
``binary`` columns with a struct of typed metadata beside them. All
per-byte work happens in ``mapInPandas`` — Arrow moves whole batches
across the Python boundary (one serialization per ~10k rows, not per
row), and the iterator form streams batches so a 100 TB binary column
never materializes per-partition.

The boundary is crossed in exactly two places: ``_synth_payloads``
(id -> synthesized payload) and ``_map_payloads`` (id, payload ->
output rows). Every operator here and in operators/perceptual.py
supplies only its per-payload work; batching, schemas and the Arrow
hand-off live in those two helpers.

Decoding is REAL: six vendored pure-Python codecs (functions/) cover
PPM/PGM/BMP + PNG (imagecodec), GIF (gifcodec), baseline JPEG
(jpegcodec), WAV (audiocodec), Y4M (videocodec) and FLAC (flaccodec),
each paired with a deterministic synthesizer whose signal a SQL
oracle replays sample for sample. ``decode_image_features`` prefers
PIL when the executors have it, and raises NotImplementedError for a
format neither PIL nor the vendored codecs cover.
"""

from __future__ import annotations

import functools
import hashlib
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _synth_payloads(
    df: DataFrame,
    make,
    id_col: str = "doc_id",
    out_col: str = "payload",
    spread: bool = False,
    id_offset: int = 0,
) -> DataFrame:
    """The one id -> payload map: (id + ``id_offset``, ``make(id)``)
    for every ``id_col`` value of ``df``, an Arrow batch at a time.

    ``spread`` exchanges the ids before the map, for synthesizers
    whose pure-Python encode is too slow to run on the one or two
    tasks the documents scan yields. The partition COUNT is pinned: a
    bare repartition(col) is ~40 KB of ids here and AQE coalesces it
    straight back to ONE partition — byte-light but compute-heavy
    stages must opt out of coalescing."""

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {id_col: ids + id_offset, out_col: [make(int(i)) for i in ids]}
            )

    ids = df.select(id_col)
    if spread:
        par = df.sparkSession.sparkContext.defaultParallelism
        ids = ids.repartition(par, id_col)
    return ids.mapInPandas(
        _synth,
        schema=T.StructType(
            [
                T.StructField(id_col, T.LongType()),
                T.StructField(out_col, T.BinaryType()),
            ]
        ),
    )


def _map_payloads(
    df: DataFrame,
    rows,
    schema: T.StructType,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """The one (id, payload) -> rows map behind every decoder and
    hasher: ``rows(doc_id, payload)`` returns that payload's output
    tuples in ``schema`` order — one tuple for a decode, one per frame
    or window for a split (so a payload may also yield none)."""
    names = schema.fieldNames()

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame.from_records(
                [
                    r
                    for doc_id, payload in zip(pdf[id_col], pdf[payload_col])
                    for r in rows(int(doc_id), bytes(payload))
                ],
                columns=names,
            )

    return df.select(id_col, payload_col).mapInPandas(_map, schema=schema)


# Metadata emitted for every binary payload.
PAYLOAD_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("first_byte", T.IntegerType()),
        T.StructField("prefix_hex", T.StringType()),
        T.StructField("crc32", T.LongType()),
    ]
)


def with_binary_payload(
    df: DataFrame, text_col: str = "text", out_col: str = "payload"
) -> DataFrame:
    """Synthesize a binary column from text (UTF-8 bytes). Stands in
    for reading real media blobs; the downstream plumbing is identical."""
    return df.withColumn(out_col, F.encode(F.col(text_col), "UTF-8"))


def extract_payload_meta(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Byte-level metadata via mapInPandas (the pattern every real
    decode follows: binary in → typed columns out, batch-at-a-time)."""

    def rows(doc_id, b):
        first = b[0] if len(b) else -1
        crc = zlib.crc32(b) & 0xFFFFFFFF
        return [(doc_id, len(b), first, b[:8].hex(), crc)]

    return _map_payloads(df, rows, PAYLOAD_META_SCHEMA, id_col, payload_col)


IMAGE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("mean_intensity", T.DoubleType()),
    ]
)


@functools.cache
def _pil_image():
    """PIL's Image module, or None when the executor lacks PIL — the
    import is tried once per worker process, not once per batch."""
    try:
        from PIL import Image  # type: ignore
    except ImportError:
        return None
    return Image


def decode_image_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    fake: bool = False,
) -> DataFrame:
    """Image decode → (width, height, channels, mean intensity).

    ``fake=False`` decodes REAL images: PIL when importable on the
    executors (optional dependency — this container does not ship it),
    else the vendored pure-Python codecs for PPM/PGM/BMP/PNG
    (functions/imagecodec.py) and baseline JPEG (functions/jpegcodec.py),
    and NotImplementedError for formats neither path covers. The two real
    paths agree on the feature contract (imagecodec mirrors PIL's
    channel semantics, incl. palette-index mode for 8-bit BMP).
    ``fake=True`` derives deterministic pseudo-features from a sha256
    of the bytes — exercising the exact same Arrow batch path, schema,
    and partitioning as the real decoder either way.
    """

    def rows(doc_id, payload):
        from pyspark_scd_spark.functions import imagecodec, jpegcodec

        if fake:
            d = hashlib.sha256(payload).digest()
            mean = round(sum(d[:16]) / (16 * 255.0), 6)
            return [(doc_id, 64 + d[0], 64 + d[1], 1 + d[2] % 4, mean)]
        pil_image = _pil_image()
        if pil_image is not None:
            import io

            img = pil_image.open(io.BytesIO(payload))
            bands = img.getbands()
            px = list(img.getdata())
            if len(bands) == 1:
                total = sum(px)
            else:
                total = sum(sum(p) for p in px)
            mean = round(total / (max(len(px) * len(bands), 1) * 255.0), 6)
            return [(doc_id, img.width, img.height, len(bands), mean)]
        if imagecodec.sniff(payload):
            return [(doc_id, *imagecodec.features(payload))]
        if jpegcodec.sniff(payload):
            w, h, nc, planes = jpegcodec.decode(payload)
            total = sum(sum(p) for p in planes)
            mean = round(total / (max(w * h * nc, 1) * 255.0), 6)
            return [(doc_id, w, h, nc, mean)]
        raise NotImplementedError(
            "payload is neither PPM/PGM/BMP/PNG/baseline-"
            "JPEG (vendored codecs) nor decodable without "
            "PIL/opencv — install PIL on the cluster "
            "image or use fake=True for plumbing tests"
        )

    return _map_payloads(df, rows, IMAGE_FEATURE_SCHEMA, id_col, payload_col)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("resized", T.BinaryType()),
        T.StructField("n_bytes_in", T.LongType()),
        T.StructField("n_bytes_out", T.LongType()),
    ]
)


def resize_payload(
    df: DataFrame,
    target_bytes: int = 64,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Resize: binary in → smaller binary out (the image-thumbnail /
    audio-downsample shape — output schema identical in kind, smaller
    payload). Stride-samples every k-th byte deterministically, so the
    oracle replays it per byte position; the Arrow batch path, schema,
    and cardinality contract (1:1) are the ones a codec resample
    would use.
    """

    def rows(doc_id, payload):
        stride = max(len(payload) // target_bytes, 1)
        small = payload[::stride][:target_bytes]
        return [(doc_id, small, len(payload), len(small))]

    return _map_payloads(df, rows, RESIZED_SCHEMA, id_col, payload_col)


FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_bytes", T.BinaryType()),
    ]
)


def sample_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    n_frames: int = 4,
) -> DataFrame:
    """Frame sampling: 1 binary row in → n smaller binary rows out
    (the video/audio-chunking shape: output cardinality ≠ input).
    Deterministic byte-slicing stands in for real frame extraction."""

    def rows(doc_id, payload):
        n = max(len(payload), 1)
        step = max(n // n_frames, 1)
        return [
            (doc_id, i, payload[i * step : i * step + step])
            for i in range(min(n_frames, n))
        ]

    return _map_payloads(df, rows, FRAME_SAMPLE_SCHEMA, id_col, payload_col)


# ----------------------------------------------------------------------
# Audio modality: real WAV payloads through the same Arrow plumbing
# ----------------------------------------------------------------------

AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("bits_per_sample", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_us", T.LongType()),
        T.StructField("peak_abs", T.IntegerType()),
        T.StructField("sum_squares", T.LongType()),
    ]
)

AUDIO_ENERGY_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("win_idx", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("energy", T.LongType()),
    ]
)

# The deterministic synthetic signal: doc i gets 64 + (i % 193) mono
# PCM16 frames at 8 kHz, frame j = ((i*7919 + j*104729) % 65536) -
# 32768. Pure int64 arithmetic, so a SQL oracle replays the EXACT
# sample values and every decoded feature is hash-checkable — the
# same make-the-randomness-deterministic move as the LSH hyperplanes.
AUDIO_RATE = 8000


def _synth_samples(doc_id: int):
    n = 64 + doc_id % 193
    return [
        ((doc_id * 7919 + j * 104729) % 65536) - 32768 for j in range(n)
    ]


def with_audio_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    out_col: str = "payload",
    phase_boost: int = 0,
    id_offset: int = 0,
    min_samples: int = 64,
) -> DataFrame:
    """Synthesize a REAL WAV binary column (vendored RIFF/PCM encoder)
    from the deterministic signal above. Stands in for reading real
    audio blobs; every byte downstream is a genuine WAV container.

    ``phase_boost``/``id_offset`` synthesize "re-encoded copy" twins
    for the fingerprint dedup entries: samples j < 2 get the boost
    added INSIDE the modulo (so the int16 range is preserved by
    construction) and the emitted id is shifted — a deterministic
    near-duplicate whose window-0 energy differs while every other
    window is byte-identical. ``min_samples`` raises the clip-length
    floor (n = min_samples + id % 193) — the wide-fingerprint
    entries use 250 so every clip meets audio_fingerprint_wide's
    125-window precondition."""

    def make(i):
        from pyspark_scd_spark.functions import audiocodec

        # numpy form of the per-sample loop (r13) — all terms
        # non-negative int64 before the modulo, so the values are
        # bit-identical to the Python reference (i*7919 + j*104729 <
        # 2^63 for any testdata id)
        j = np.arange(min_samples + i % 193, dtype=np.int64)
        s = i * 7919 + j * 104729
        if phase_boost:
            s[:2] += phase_boost
        return audiocodec.encode_wav((s % 65536) - 32768, AUDIO_RATE)

    return _synth_payloads(df, make, id_col, out_col, id_offset=id_offset)


def decode_audio_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Audio decode → header meta + full-signal features. REAL parse:
    the vendored RIFF/WAVE codec walks the chunk list and unpacks the
    PCM frames (functions/audiocodec.py); soundfile/librosa would be
    preferred on a cluster image that ships them, and compressed
    codecs raise NotImplementedError inside the codec. ``peak_abs``
    and ``sum_squares`` prove the sample data was actually decoded,
    not just the header."""

    def rows(doc_id, payload):
        from pyspark_scd_spark.functions import audiocodec

        meta, samples = audiocodec.decode_wav(payload)
        return [
            (
                doc_id,
                meta["sample_rate"],
                meta["n_channels"],
                meta["bits_per_sample"],
                meta["n_frames"],
                meta["n_frames"] * 1_000_000 // meta["sample_rate"],
                max((abs(s) for s in samples), default=0),
                sum(s * s for s in samples),
            )
        ]

    return _map_payloads(df, rows, AUDIO_FEATURE_SCHEMA, id_col, payload_col)


def audio_window_energy(
    df: DataFrame,
    window: int = 16,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Windowed signal energy: decode the PCM frames and emit one row
    per ``window``-frame window with its integer sum of squares — the
    1-row-in/n-rows-out audio-chunking shape (VAD / silence trimming /
    loudness segmentation all reduce to this scan). Integer math end
    to end, so the oracle replays it exactly."""

    def rows(doc_id, payload):
        from pyspark_scd_spark.functions import audiocodec

        _, samples = audiocodec.decode_wav(payload)
        s = np.asarray(samples, dtype=np.int64)
        out = []
        for w in range(0, len(s), window):
            seg = s[w : w + window]
            out.append((doc_id, w // window, len(seg), int((seg * seg).sum())))
        return out

    return _map_payloads(df, rows, AUDIO_ENERGY_SCHEMA, id_col, payload_col)


# ----------------------------------------------------------------------
# Video modality: real Y4M payloads through the same Arrow plumbing
# ----------------------------------------------------------------------

VIDEO_FRAME_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sum_y", T.LongType()),
        T.StructField("sum_u", T.LongType()),
        T.StructField("sum_v", T.LongType()),
        T.StructField("max_y", T.IntegerType()),
    ]
)

# Deterministic synthetic video: doc i gets n = 2 + (i % 4) frames at
# W = 8 + (i % 5)*2, H = 6 + (i % 3)*2; plane values are pure integer
# functions of (i, frame, y, x) so a SQL oracle replays every decoded
# pixel (the audio/LSH determinism move applied to video).
_VID_Y = (31, 97, 13, 7)
_VID_U = (17, 53, 11, 3)
_VID_V = (29, 71, 5, 19)


def _vid_dims(doc_id: int, min_w: int = 8, min_h: int = 6):
    return (
        min_w + (doc_id % 5) * 2,
        min_h + (doc_id % 3) * 2,
        2 + doc_id % 4,
    )


def _vid_planes_np(
    doc_id: int, n: int, w: int, h: int, coef, boost: int = 0
):
    """All ``n`` frames of one plane as a (n, h*w) uint8 matrix —
    the numpy form of the pure-Python reference ``_vid_plane`` in
    tests/test_video.py, which pins it bit-for-bit (r13: the per-pixel
    Python generator was ~2.3s of every video query's wall at sf0.1; the
    closed form doc*a + f*b + y*c + x*d (+boost at (0,0,0)) % 256 is
    three broadcast adds). All terms are non-negative int64 (doc ids
    < 2^31, coefficients < 100), so the modulo matches Python's
    exactly and the cube is bit-identical to the reference form."""
    import numpy as np

    a, b, c, d = coef
    grid = (
        np.arange(h, dtype=np.int64)[:, None] * c
        + np.arange(w, dtype=np.int64)[None, :] * d
        + doc_id * a
    ).reshape(-1)
    cube = np.arange(n, dtype=np.int64)[:, None] * b + grid[None, :]
    if boost:
        cube[0, 0] += boost
    return (cube % 256).astype(np.uint8)


def with_video_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    out_col: str = "payload",
    min_w: int = 8,
    min_h: int = 6,
    pixel_boost: int = 0,
    id_offset: int = 0,
) -> DataFrame:
    """Synthesize a REAL Y4M binary column (vendored YUV4MPEG2
    encoder, C444 planes) from the deterministic signal above. Every
    byte downstream is a genuine Y4M stream ffmpeg would accept.

    ``min_w``/``min_h`` raise the frame-size floor (w = min_w +
    (id % 5)*2, h = min_h + (id % 3)*2) — the wide-fingerprint
    entries use (16, 10) so every frame meets
    video_frame_hash_wide's >= 124-pixel precondition.
    ``pixel_boost``/``id_offset`` synthesize "re-encoded copy" twins
    for the wide dedup entries, the audio family's playbook
    (with_audio_payload): frame 0's (0,0) luma gets the boost added
    INSIDE the modulo and the emitted id is shifted — frames 1..n-1
    stay byte-identical to the base clip, so every twin pair carries
    at least one guaranteed hamming-0 frame match."""

    def make(i):
        from pyspark_scd_spark.functions import videocodec

        w, h, n = _vid_dims(i, min_w, min_h)
        # one numpy cube per plane (all frames at once) —
        # bit-identical to the _vid_plane reference form
        ys = _vid_planes_np(i, n, w, h, _VID_Y, pixel_boost)
        us = _vid_planes_np(i, n, w, h, _VID_U)
        vs = _vid_planes_np(i, n, w, h, _VID_V)
        frames = [
            (ys[f].tobytes(), us[f].tobytes(), vs[f].tobytes())
            for f in range(n)
        ]
        return videocodec.encode_y4m(frames, w, h)

    return _synth_payloads(df, make, id_col, out_col, id_offset=id_offset)


def video_frame_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Per-frame plane statistics from a REAL Y4M parse: one row per
    decoded frame with integer plane sums and the luma peak — the
    1-row-in/n-frames-out video shape (scene detection, brightness
    filtering, and frame-level quality gates all reduce to this scan).
    The sums depend on every decoded pixel, so a hash check proves the
    byte-level container parse and plane split, not just plumbing."""

    def rows(doc_id, payload):
        from pyspark_scd_spark.functions import videocodec

        def plane_sum(p):
            return int(np.frombuffer(p, dtype=np.uint8).astype(np.int64).sum())

        meta, frames = videocodec.decode_y4m(payload)
        return [
            (
                doc_id,
                f,
                meta["width"],
                meta["height"],
                plane_sum(y),
                plane_sum(u),
                plane_sum(v),
                int(np.frombuffer(y, dtype=np.uint8).max()),
            )
            for f, (y, u, v) in enumerate(frames)
        ]

    return _map_payloads(
        df, rows, VIDEO_FRAME_STATS_SCHEMA, id_col, payload_col
    )


# ----------------------------------------------------------------------
# PNG modality: real compressed payloads (zlib inflate + PNG filters)
# ----------------------------------------------------------------------

PNG_PIXEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_b", T.LongType()),
        T.StructField("max_r", T.IntegerType()),
    ]
)

# Deterministic synthetic image: doc i is W x H RGB with W = 8 +
# (i % 5), H = 5 + (i % 4) — H >= 5 rows, so the row-cycling encoder
# (filter = row % 5) forces every decode through all five PNG filter
# reconstructions — and sample (y, x, c) = (i*31 + y*13 + x*7 +
# c*101) % 256, pure integer functions a SQL oracle replays pixel for
# pixel (the audio/video determinism move applied to the first
# COMPRESSED format in the vendored family).
_PNG_PX = (31, 13, 7, 101)


def _png_dims(doc_id: int):
    return 8 + doc_id % 5, 5 + doc_id % 4


def _png_pixels(doc_id: int, w: int, h: int) -> list:
    a, b, c, d = _PNG_PX
    return [
        (doc_id * a + y * b + x * c + ch * d) % 256
        for y in range(h)
        for x in range(w)
        for ch in range(3)
    ]


def with_png_payload(
    df: DataFrame, id_col: str = "doc_id", out_col: str = "payload"
) -> DataFrame:
    """Synthesize a REAL PNG binary column (vendored encoder:
    IHDR/IDAT/IEND with CRCs, zlib-compressed scanlines, all five
    filters in rotation) from the deterministic pixels above. Every
    byte downstream is a genuine PNG any viewer opens."""

    def make(i):
        from pyspark_scd_spark.functions import imagecodec

        w, h = _png_dims(i)
        return imagecodec.encode_png(w, h, 3, _png_pixels(i, w, h))

    return _synth_payloads(df, make, id_col, out_col)


def png_pixel_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Header meta + integer per-channel pixel sums from a REAL PNG
    decode (functions/imagecodec.py: chunk walk with CRC verify,
    stdlib-zlib inflate, per-row unfilter). The sums depend on every
    reconstructed sample, so a hash match proves the inflate AND the
    filter arithmetic byte for byte — decode bugs in any of the five
    filters shift sums on the very first corrupted row."""

    def rows(doc_id, payload):
        from pyspark_scd_spark.functions import imagecodec

        w, h, c, px = imagecodec.decode(payload)
        arr = np.asarray(px, dtype=np.int64).reshape(-1, c)
        return [
            (
                doc_id,
                w,
                h,
                c,
                int(arr[:, 0].sum()),
                int(arr[:, 1].sum()) if c >= 3 else 0,
                int(arr[:, 2].sum()) if c >= 3 else 0,
                int(arr[:, 0].max()),
            )
        ]

    return _map_payloads(df, rows, PNG_PIXEL_STATS_SCHEMA, id_col, payload_col)


# ----------------------------------------------------------------------
# GIF modality: real LZW-compressed payloads (entropy-coded decode)
# ----------------------------------------------------------------------

GIF_PIXEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_palette", T.IntegerType()),
        T.StructField("sum_idx", T.LongType()),
        T.StructField("max_idx", T.IntegerType()),
        T.StructField("sum_r", T.LongType()),
    ]
)

# Deterministic synthetic indexed image: doc i is W x H over a
# 64-color palette, W = 8 + (i % 5), H = 5 + (i % 4); index (y, x) =
# (i*7 + y*11 + x*3) % 64; palette entry p = ((p*37) % 256,
# (p*59 + 11) % 256, (p*83 + 29) % 256). Pure integer functions a SQL
# oracle replays — the determinism move applied to the family's first
# ENTROPY-CODED format (GIF LZW: variable code width, dictionary
# reconstruction; functions/gifcodec.py).
_GIF_N_PAL = 64


def _gif_dims(doc_id: int):
    return 8 + doc_id % 5, 5 + doc_id % 4


def _gif_palette() -> list:
    pal = []
    for p in range(_GIF_N_PAL):
        pal.extend(
            ((p * 37) % 256, (p * 59 + 11) % 256, (p * 83 + 29) % 256)
        )
    return pal


def _gif_indices(doc_id: int, w: int, h: int) -> list:
    return [
        (doc_id * 7 + y * 11 + x * 3) % _GIF_N_PAL
        for y in range(h)
        for x in range(w)
    ]


def with_gif_payload(
    df: DataFrame, id_col: str = "doc_id", out_col: str = "payload"
) -> DataFrame:
    """Synthesize a REAL GIF87a binary column (vendored encoder:
    genuine dictionary-building LZW, global color table) from the
    deterministic indexed image above."""

    pal = _gif_palette()

    def make(i):
        from pyspark_scd_spark.functions import gifcodec

        w, h = _gif_dims(i)
        return gifcodec.encode_gif87a(w, h, pal, _gif_indices(i, w, h))

    return _synth_payloads(df, make, id_col, out_col)


def gif_pixel_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Header + palette + pixel statistics from a REAL GIF decode
    (functions/gifcodec.py: block walk, LZW bit-unpack with width
    schedule and KwKwK dictionary reconstruction). sum_idx/max_idx
    depend on every decoded index and sum_r routes every index
    through the parsed color table, so a hash match proves the
    entropy decode AND the palette parse byte for byte."""

    def rows(doc_id, payload):
        from pyspark_scd_spark.functions import gifcodec

        w, h, pal, idx = gifcodec.decode(payload)
        arr = np.asarray(idx, dtype=np.int64)
        reds = np.asarray(pal[0::3], dtype=np.int64)
        return [
            (
                doc_id,
                w,
                h,
                len(pal) // 3,
                int(arr.sum()),
                int(arr.max()),
                int(reds[arr].sum()),
            )
        ]

    return _map_payloads(df, rows, GIF_PIXEL_STATS_SCHEMA, id_col, payload_col)


# ----------------------------------------------------------------------
# JPEG modality: real baseline-DCT payloads (Huffman + IDCT decode)
# ----------------------------------------------------------------------

JPEG_COMPONENT_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_components", T.IntegerType()),
        T.StructField("sum_y", T.LongType()),
        T.StructField("sum_cb", T.LongType()),
        T.StructField("sum_cr", T.LongType()),
        T.StructField("sumsq_y", T.LongType()),
        T.StructField("max_y", T.IntegerType()),
    ]
)

# Deterministic synthetic JPEG: doc i is W x H, W = 16 + 8*(i%3),
# H = 8 + 8*(i%2), 3 components at 4:4:4. Each 8x8 block of component
# c at (bx, by) carries exactly two quantized coefficients — DC
# v-128 with v = 3 + (i*31 + c*101 + bx*13 + by*7) % 250, and
# AC(4,4) k = ((i*17 + c*29 + bx*5 + by*3) % 7) - 3 — the two IDCT
# basis positions whose reconstruction is RATIONAL, so the decoded
# samples are exactly v + k*s(x)*s(y) with s = [+,-,-,+,+,-,-,+]
# (s(x) = +1 iff x%4 in {0,3}): a lossy codec with a pixel-exact SQL
# oracle. v's [3,252] range keeps v±3 inside [0,255] so the clamp
# never engages. See functions/jpegcodec.py for why this still
# exercises the full baseline machinery (4 Huffman tables, ZRL x2 to
# reach zigzag 39, EOB, DC prediction, byte unstuffing, real 2D
# float IDCT).


def _jpeg_dims(doc_id: int):
    return 16 + 8 * (doc_id % 3), 8 + 8 * (doc_id % 2)


def _jpeg_blocks(doc_id: int, c: int, bx_n: int, by_n: int, ac44_zz):
    return [
        {
            0: (3 + (doc_id * 31 + c * 101 + bx * 13 + by * 7) % 250)
            - 128,
            ac44_zz: ((doc_id * 17 + c * 29 + bx * 5 + by * 3) % 7)
            - 3,
        }
        for by in range(by_n)
        for bx in range(bx_n)
    ]


def with_jpeg_payload(
    df: DataFrame, id_col: str = "doc_id", out_col: str = "payload"
) -> DataFrame:
    """Synthesize a REAL baseline JPEG binary column (vendored
    encoder: JFIF/DQT/SOF0/DHT/SOS markers, canonical Huffman entropy
    coding with byte stuffing) from the deterministic coefficients
    above. Every byte downstream is a genuine JPEG any viewer opens."""

    def make(i):
        from pyspark_scd_spark.functions import jpegcodec

        w, h = _jpeg_dims(i)
        comp = [
            _jpeg_blocks(i, c, w // 8, h // 8, jpegcodec.AC44_ZZ)
            for c in range(3)
        ]
        return jpegcodec.encode_jpeg(w, h, comp)

    # the documents scan is 1-2 parquet files at these SFs, and
    # pure-python entropy coding at ~0.5ms/doc serializes on one task
    # without an explicit exchange; the shuffle moves ids only
    return _synth_payloads(df, make, id_col, out_col, spread=True)


def jpeg_component_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Header meta + integer per-component sample sums (plus Y
    sum-of-squares and max) from a REAL baseline JPEG decode
    (functions/jpegcodec.py: marker walk, DHT/DQT parse, Huffman
    entropy decode with unstuffing, DC prediction, dequant, float 2D
    IDCT, clamp). The plain sums are invariant to the AC(4,4) term
    (its basis sums to zero over a block), so ``sumsq_y`` is the
    statistic that proves the AC path: sum of squares per block is
    64*v^2 + 64*k^2, which shifts on the first wrong coefficient."""

    def rows(doc_id, payload):
        from pyspark_scd_spark.functions import jpegcodec

        w, h, nc, planes = jpegcodec.decode(payload)
        y = np.asarray(planes[0], dtype=np.int64)
        return [
            (
                doc_id,
                w,
                h,
                nc,
                int(y.sum()),
                int(sum(planes[1])) if nc >= 3 else 0,
                int(sum(planes[2])) if nc >= 3 else 0,
                int((y * y).sum()),
                int(y.max()),
            )
        ]

    return _map_payloads(
        df, rows, JPEG_COMPONENT_STATS_SCHEMA, id_col, payload_col
    )


# ----------------------------------------------------------------------
# FLAC modality: real rice-entropy-coded lossless audio
# ----------------------------------------------------------------------

FLAC_SAMPLE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sum_s", T.LongType()),
        T.StructField("sumsq_s", T.LongType()),
        T.StructField("min_s", T.IntegerType()),
        T.StructField("max_s", T.IntegerType()),
    ]
)

# Deterministic synthetic signal: doc i has n = 300 + (i%5)*50 mono
# 16-bit samples at rate 8000 + (i%3)*4000, s(t) = ((i*37 + t*13) %
# 4001) - 2000 — a sawtooth whose order-2 residuals are zero between
# wraps and spike at them, exactly the shape rice coding is built
# for. Pure integer function a SQL oracle replays sample for sample;
# FLAC being LOSSLESS, no rational-basis trick is needed (contrast
# the JPEG entry).


def _flac_params(doc_id: int):
    return 300 + (doc_id % 5) * 50, 8000 + (doc_id % 3) * 4000


def _flac_samples(doc_id: int, n: int) -> list:
    return [((doc_id * 37 + t * 13) % 4001) - 2000 for t in range(n)]


def with_flac_payload(
    df: DataFrame, id_col: str = "doc_id", out_col: str = "payload"
) -> DataFrame:
    """Synthesize a REAL FLAC binary column (vendored encoder:
    STREAMINFO with the PCM md5, fixed-predictor subframes, rice
    residual partitions, CRC-8 + CRC-16) from the deterministic
    signal above. Any spec-conforming player decodes the result."""

    def make(i):
        from pyspark_scd_spark.functions import flaccodec

        n, sr = _flac_params(i)
        return flaccodec.encode_flac(_flac_samples(i, n), sample_rate=sr)

    # rice coding is ~2ms/doc of pure python — exchange the ids so
    # the work spreads
    return _synth_payloads(df, make, id_col, out_col, spread=True)


def flac_sample_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Container meta + integer sample statistics from a REAL FLAC
    decode (functions/flaccodec.py: frame sync, CRC-8-verified
    headers, rice/unary entropy decode, fixed-prediction
    reconstruction, CRC-16 frame check, STREAMINFO md5 over the
    decoded PCM). FLAC is lossless, so every statistic depends on
    every reconstructed sample — a hash match proves the entropy
    layer and both prediction recurrences bit for bit."""

    def rows(doc_id, payload):
        from pyspark_scd_spark.functions import flaccodec

        sr, n, samples = flaccodec.decode(payload)
        a = np.asarray(samples, dtype=np.int64)
        if not n:
            return [(doc_id, sr, n, 0, 0, 0, 0)]
        return [
            (
                doc_id,
                sr,
                n,
                int(a.sum()),
                int((a * a).sum()),
                int(a.min()),
                int(a.max()),
            )
        ]

    return _map_payloads(
        df, rows, FLAC_SAMPLE_STATS_SCHEMA, id_col, payload_col
    )
