"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with a typed metadata
struct; decode/resize/frame-sample run as Arrow-batched pandas UDFs via
``mapInPandas``.  Real decode is available WITHOUT external codec
libraries for PNG and baseline/progressive JPEG images
(``sources.media`` / ``sources.jpeg``), WAV audio, and MJPEG-in-AVI
video (``sources.avi``); PIL is used instead when importable (broader
format support).  Formats no path covers (e.g. H.264 video, MP3)
raise ``DecodeUnavailable``.  A deterministic fake decoder remains the
default so the plumbing (schema, batch shape, partitioning) is
testable independent of payload contents.

Schema convention:

    media: struct<
        payload: binary,
        mime: string,
        width: int, height: int,          -- images/video
        sample_rate: int, channels: int,  -- audio
        duration_ms: long                 -- audio/video
    >
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from moz_datapipeline_spark.iterate import owned


class DecodeUnavailable(NotImplementedError):
    """Raised by the real decode path: codec libraries not installed."""


MEDIA_SCHEMA = (
    "payload binary, mime string, width int, height int, "
    "sample_rate int, channels int, duration_ms long"
)


def _fake_decode_image(payload: bytes, width: int, height: int) -> list[float]:
    """Deterministic fake decoder: 8 'pixel statistics' from the bytes.

    Stands in for a real (PIL/cv2) decode so the batch plumbing,
    schema, and partitioning are exercised end-to-end.
    """
    if not payload:
        return [0.0] * 8
    n = len(payload)
    s = sum(payload)
    return [
        float(n),
        float(width or 0),
        float(height or 0),
        s / n,
        float(payload[0]),
        float(payload[-1]),
        float(min(payload)),
        float(max(payload)),
    ]


def _decode_pixels(payload: bytes) -> "object":
    """Shared decode dispatch: PIL when importable (broad formats),
    else the pure PNG decoder, then the pure JPEG decoder (baseline +
    progressive, ``sources.jpeg``).  Returns a uint8 (H, W, C) array;
    raises ``DecodeUnavailable`` for payloads no path can parse, with
    the PIL failure (if any) named so data problems never masquerade
    as missing-codec capability boundaries.
    """
    import numpy as np

    from moz_datapipeline_spark.sources.media import PNG_MAGIC, decode_png

    pil_err: str | None = None
    try:
        from PIL import Image, UnidentifiedImageError
    except ImportError:
        Image = None
    if Image is not None:
        import io

        try:
            return np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))
        except (UnidentifiedImageError, OSError, ValueError) as e:
            # corrupt/unsupported payload with PIL present: record the
            # failure and fall through to the pure decoders so the
            # DecodeUnavailable contract holds instead of leaking
            # UnidentifiedImageError (anything else — MemoryError,
            # decompression bombs — propagates: those are resource
            # errors, not capability boundaries)
            pil_err = f"{type(e).__name__}: {e}"
    if payload[:8] == PNG_MAGIC:
        img = decode_png(payload)
        if img.dtype != np.uint8:
            img = (img // 257).astype("u1")  # 16-bit → 8-bit stats space
        return np.atleast_3d(img)
    if payload[:2] == b"\xff\xd8":
        from moz_datapipeline_spark.sources.jpeg import (
            JpegUnsupported,
            decode_jpeg,
        )

        try:
            return np.atleast_3d(decode_jpeg(payload))
        except JpegUnsupported as e:
            raise DecodeUnavailable(f"JPEG coding process not covered: {e}")
    raise DecodeUnavailable(
        "payload is not PNG/JPEG and no other decode path succeeded"
        + (f" (PIL tried and failed: {pil_err})" if pil_err else
           " (no image codec library installed)")
    )


def _real_decode_image(payload: bytes) -> list[float]:
    """Real decode → ``sources.media.image_features`` statistics."""
    from moz_datapipeline_spark.sources.media import image_features

    return image_features(_decode_pixels(payload))


def extract_image_features(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
    use_real_decoder: bool = False,
) -> DataFrame:
    """binary media column → fixed-width feature vector per row.

    ``mapInPandas`` streams Arrow batches; each batch is decoded in
    Python and returns (id, features array<double>). Partition count is
    preserved — at 100 TB, repartition upstream so each task holds
    ~128 MB of payloads.

    ``use_real_decoder=True`` decodes actual pixels (PIL, or the pure
    PNG decoder when PIL is absent) and emits the
    ``sources.media.image_features`` statistics contract.
    """
    out_schema = f"{id_col} long, features array<double>"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if use_real_decoder:
                feats = [
                    _real_decode_image(bytes(p))
                    for p in pdf[f"{media_col}_payload"]
                ]
            else:
                feats = [
                    _fake_decode_image(
                        row[f"{media_col}_payload"],
                        row[f"{media_col}_width"],
                        row[f"{media_col}_height"],
                    )
                    for _, row in pdf.iterrows()
                ]
            yield pd.DataFrame({id_col: pdf[id_col], "features": feats})

    flat = df.select(
        F.col(id_col),
        F.col(f"{media_col}.payload").alias(f"{media_col}_payload"),
        F.col(f"{media_col}.width").alias(f"{media_col}_width"),
        F.col(f"{media_col}.height").alias(f"{media_col}_height"),
    )
    return flat.mapInPandas(kernel, schema=out_schema)


def extract_audio_features(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """binary WAV column → 8-stat feature vector per row
    (``sources.media.audio_features``): sample_rate, channels,
    n_samples, duration_ms, rms, peak, zero-crossing rate, DC offset.

    Same Arrow-batched ``mapInPandas`` shape as the image path; WAV
    decodes with the pure stdlib parser, so this path has no codec
    gate at all.
    """
    from moz_datapipeline_spark.sources.media import (
        audio_features,
        decode_wav,
    )

    out_schema = f"{id_col} long, features array<double>"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for p in pdf[f"{media_col}_payload"]:
                x, rate = decode_wav(bytes(p))
                feats.append(audio_features(x, rate))
            yield pd.DataFrame({id_col: pdf[id_col], "features": feats})

    flat = df.select(
        F.col(id_col),
        F.col(f"{media_col}.payload").alias(f"{media_col}_payload"),
    )
    return flat.mapInPandas(kernel, schema=out_schema)


def sample_frames(
    df: DataFrame,
    every_ms: int = 1000,
    media_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """Video frame-sampling PLAN: one output row per sampled timestamp.

    Timestamps are derived columnar-side (sequence over the metadata
    ``duration_ms``), keeping the rows×frames fan-out inside Catalyst
    where AQE can rebalance it — use this when a later stage decodes.
    For decode-now sampling use ``extract_video_frames``, which fans
    out inside the kernel instead (payload shipped once per row).
    """
    ts = F.explode(
        F.sequence(
            F.lit(0),
            F.greatest(F.col(f"{media_col}.duration_ms") - 1, F.lit(0)),
            F.lit(every_ms),
        )
    ).alias("frame_ms")
    return df.select(F.col(id_col), F.col(media_col), ts)


def resize_images(
    df: DataFrame,
    out_w: int,
    out_h: int,
    media_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """Decode → bilinear-resize → re-emit each image as raw RGB bytes.

    Output: ``(id, media struct)`` with ``payload`` = row-major uint8
    RGB of the resized image, ``mime`` = ``image/raw-rgb``, and
    ``width``/``height`` = the target size, so downstream kernels
    (feature extraction, re-encode, tiling) consume it without a second
    decode.  Decode uses the real path (PIL → pure PNG → pure JPEG);
    resize is ``sources.media.resize_bilinear`` (half-pixel centers,
    platform-stable rounding).  Same Arrow-batched ``mapInPandas``
    shape as the other media kernels — partition count preserved, so
    repartition upstream for ~128 MB of payloads per task at scale.
    """
    import numpy as np

    from moz_datapipeline_spark.sources.media import resize_bilinear

    out_schema = f"{id_col} long, media struct<{MEDIA_SCHEMA}>"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for p in pdf[f"{media_col}_payload"]:
                img = _decode_pixels(bytes(p))
                if img.shape[2] == 1:
                    img = np.repeat(img, 3, axis=2)
                small = resize_bilinear(img[..., :3], out_w, out_h)
                out.append(
                    {
                        "payload": small.tobytes(),
                        "mime": "image/raw-rgb",
                        "width": out_w,
                        "height": out_h,
                        "sample_rate": None,
                        "channels": 3,
                        "duration_ms": None,
                    }
                )
            yield pd.DataFrame({id_col: pdf[id_col], "media": out})

    flat = df.select(
        F.col(id_col),
        F.col(f"{media_col}.payload").alias(f"{media_col}_payload"),
    )
    return flat.mapInPandas(kernel, schema=out_schema)


def extract_video_frames(
    df: DataFrame,
    every_ms: int = 1000,
    media_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """REAL video frame sampling: AVI/MJPEG container → per-frame
    image features, no codec library required.

    Each payload is parsed with the pure RIFF walker
    (``sources.avi.decode_avi``); sample timestamps are laid out every
    ``every_ms`` over the container's own timing header; the covering
    frame (floor sampling, the convention of ffmpeg's ``-vf fps``) is
    decoded with the pure JPEG decoder and summarized with the
    ``image_features`` contract.  Output: one row per (id, frame_ms).

    A frame needed by several timestamps is decoded once per payload
    (memoized within the row), so cost is O(distinct sampled frames),
    not O(timestamps).  The fan-out happens inside the kernel rather
    than via explode-then-decode: shipping the payload once per row
    beats duplicating multi-MB binaries across frame rows in the
    exchange — at 100 TB the explode-first plan would multiply scan
    output by the frame count.
    """
    import numpy as np

    from moz_datapipeline_spark.sources.avi import decode_avi, frame_at
    from moz_datapipeline_spark.sources.jpeg import decode_jpeg
    from moz_datapipeline_spark.sources.media import image_features

    out_schema = f"{id_col} long, frame_ms long, features array<double>"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ts_out, feats = [], [], []
            for rid, p in zip(pdf[id_col], pdf[f"{media_col}_payload"]):
                frames, meta = decode_avi(bytes(p))
                if not frames:
                    continue
                usec = int(meta["usec_per_frame"])
                dur_ms = max(1, (len(frames) * usec) // 1000)
                cache: dict[int, list[float]] = {}
                for ms in range(0, dur_ms, every_ms):
                    fi = frame_at(frames, usec, ms)
                    if fi not in cache:
                        cache[fi] = image_features(
                            np.atleast_3d(decode_jpeg(frames[fi]))
                        )
                    ids.append(rid)
                    ts_out.append(ms)
                    feats.append(cache[fi])
            yield pd.DataFrame(
                {id_col: ids, "frame_ms": ts_out, "features": feats}
            )

    flat = df.select(
        F.col(id_col),
        F.col(f"{media_col}.payload").alias(f"{media_col}_payload"),
    )
    return flat.mapInPandas(kernel, schema=out_schema)


def video_summary(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """Whole-video statistics per row: ``[n_frames, motion, mean, std]``
    (``sources.avi.video_features``) — the cheap shot-detection /
    quality-filter signal a training pipeline gates video clips on.
    Decodes EVERY frame, so it is the expensive sibling of
    ``extract_video_frames``; same kernel shape.
    """
    import numpy as np

    from moz_datapipeline_spark.sources.avi import decode_avi, video_features
    from moz_datapipeline_spark.sources.jpeg import decode_jpeg

    out_schema = f"{id_col} long, features array<double>"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, feats = [], []
            for rid, p in zip(pdf[id_col], pdf[f"{media_col}_payload"]):
                frames, _meta = decode_avi(bytes(p))
                pix = [np.atleast_3d(decode_jpeg(fr)) for fr in frames]
                ids.append(rid)
                feats.append(video_features(pix))
            yield pd.DataFrame({id_col: ids, "features": feats})

    flat = df.select(
        F.col(id_col),
        F.col(f"{media_col}.payload").alias(f"{media_col}_payload"),
    )
    return flat.mapInPandas(kernel, schema=out_schema)


def dhash64(pixels) -> int:
    """Perceptual difference hash of a decoded (H, W, C) uint8 image:
    grayscale (BT.601 luma), bilinear resize to 9×8, one bit per
    horizontally-adjacent gradient (``g[r,c] > g[r,c+1]``), packed
    row-major into a SIGNED 64-bit int (two's complement, so the value
    round-trips through a Spark ``long`` column).

    Pure and dependency-free beyond numpy — shared verbatim by the
    distributed kernel and the single-process oracle twin, the same
    split as ``sources.media.resize_bilinear``.  Near-duplicate images
    (recompression, small edits, light crops survive the 9×8 pooling)
    differ in few bits; Hamming distance is the similarity.
    """
    import numpy as np

    from ..sources.media import resize_bilinear

    px = np.atleast_3d(pixels)
    if px.shape[2] >= 3:
        gray = (
            px[:, :, 0] * 0.299
            + px[:, :, 1] * 0.587
            + px[:, :, 2] * 0.114
        )
    else:
        gray = px[:, :, 0].astype("f8")
    g8 = np.clip(np.floor(gray + 0.5), 0, 255).astype("u1")
    g = resize_bilinear(g8[:, :, None], 9, 8)[:, :, 0].astype("i4")
    v = 0
    for r in range(8):
        for c in range(8):
            if g[r, c] > g[r, c + 1]:
                v |= 1 << (r * 8 + c)
    return v - (1 << 64) if v >= (1 << 63) else v


def image_dhash(
    df: DataFrame, media_col: str = "media", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash) — perceptual dHash per image via the Arrow-batched
    decode kernel.  The output column is named ``simhash`` ON PURPOSE:
    it is a 64-bit Hamming-space signature, so the text pipeline's
    ``dedup.simhash_candidates`` (16-bit chunk bucketing, never
    all-pairs) consumes it unchanged — one candidate machinery for
    both modalities."""
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            ids, sigs = [], []
            for i, m in zip(pdf[id_col], pdf[media_col]):
                ids.append(i)
                sigs.append(dhash64(_decode_pixels(bytes(m["payload"]))))
            yield pd.DataFrame(
                {id_col: ids, "simhash": pd.array(sigs, dtype="int64")}
            )

    return df.mapInPandas(kernel, schema=f"{id_col} long, simhash long")


def image_near_dup(
    df: DataFrame,
    max_hamming: int = 6,
    media_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """Image near-duplicate pairs: dHash signatures → 16-bit-chunk
    bucket join (Hamming ≤ 3 guaranteed candidate recall, ≤ 6 high in
    practice) → exact Hamming filter.  Identical plan shape to text
    SimHash dedup — pair volume is governed by bucket widths, never
    image-count²."""
    from .dedup import simhash_candidates

    sigs = image_dhash(df, media_col=media_col, id_col=id_col)
    cands = simhash_candidates(sigs, id_col=id_col)
    return owned(cands.filter(F.col("hamming") <= max_hamming), cands)


def ahash64(samples, channels_last: bool = True) -> int:
    """Perceptual audio hash: mono mix → 65 equal time windows → RMS
    energy envelope → one bit per adjacent-window gradient, packed
    into a signed 64-bit int — ``dhash64``'s construction rotated
    into the time domain.  Robust to gain changes being monotone
    (gradient signs survive uniform scaling) and to small noise;
    recompression/resampling that preserves the envelope preserves
    the hash.  Requires ≥ 65 samples (shorter clips have no stable
    envelope to hash — raise, don't guess)."""
    import numpy as np

    x = np.asarray(samples, dtype="f8")
    mono = x.mean(axis=1) if x.ndim == 2 else x
    n = mono.shape[0]
    if n < 65:
        raise ValueError(f"ahash64 needs >= 65 samples, got {n}")
    bounds = [(i * n) // 65 for i in range(66)]
    rms = np.array(
        [
            float(np.sqrt(np.mean(mono[bounds[i]:bounds[i + 1]] ** 2)))
            for i in range(65)
        ]
    )
    v = 0
    for i in range(64):
        if rms[i] > rms[i + 1]:
            v |= 1 << i
    return v - (1 << 64) if v >= (1 << 63) else v


def audio_ahash(
    df: DataFrame, media_col: str = "media", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash) — envelope hash per WAV payload via the Arrow
    decode kernel; column named ``simhash`` so
    ``dedup.simhash_candidates`` consumes audio signatures unchanged
    (the third modality on the one candidate machinery)."""
    import pandas as pd

    from ..sources.media import decode_wav

    def kernel(batches):
        for pdf in batches:
            ids, sigs = [], []
            for i, m in zip(pdf[id_col], pdf[media_col]):
                samples, _rate = decode_wav(bytes(m["payload"]))
                ids.append(i)
                sigs.append(ahash64(samples))
            yield pd.DataFrame(
                {id_col: ids, "simhash": pd.array(sigs, dtype="int64")}
            )

    return df.mapInPandas(kernel, schema=f"{id_col} long, simhash long")


def audio_near_dup(
    df: DataFrame,
    max_hamming: int = 6,
    media_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """Audio near-duplicate pairs: envelope hashes → the text
    pipeline's 16-bit-chunk bucket join → exact Hamming filter."""
    from .dedup import simhash_candidates

    sigs = audio_ahash(df, media_col=media_col, id_col=id_col)
    cands = simhash_candidates(sigs, id_col=id_col)
    return owned(cands.filter(F.col("hamming") <= max_hamming), cands)
