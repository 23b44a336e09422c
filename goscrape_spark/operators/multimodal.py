"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with typed metadata structs —
the 100 TB-scale representation (payload stays columnar, metadata prunable).
Decode / feature-extract / resize / frame-sample run as ``mapInPandas`` over
Arrow batches.  ``decode='real'`` decodes IMAGE payloads through the
vendored PNG/JPEG codec (functions/imagecodec), AUDIO payloads through the
vendored RIFF/WAV PCM codec (functions/audiocodec), and VIDEO frames
through the vendored AVI/MJPEG walker (functions/avicodec) — real
pixel/signal statistics, pure NumPy; formats needing external codecs
(mp3/ogg audio, mp4/webm video — librosa/ffmpeg are not in this
container) fall back to deterministic hash features / one-row outputs
with an honest ``decode_status='undecodable'``.
``decode='fake'`` hash-features every kind so the Spark-side plumbing —
schema, partitioning, batch shape, UDF signatures — is testable without
any codec.

Schema:
    media(media_id string, kind string, payload binary,
          meta struct<mime:string, width:int, height:int, duration_ms:int>)
"""

from __future__ import annotations

import hashlib
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = ("media_id string, kind string, payload binary, "
                "meta struct<mime:string, width:int, height:int, "
                "duration_ms:int>")

FEATURES_SCHEMA = ("media_id string, kind string, n_bytes long, "
                   "feature array<float>, decode_status string")


def media_from_fetched(fetched: DataFrame, url_col: str = "url",
                       body_col: str = "body") -> DataFrame:
    """Lift crawled binary assets into the media table shape (metadata
    sniffed from magic bytes, F11)."""
    from ..functions.filetype import col_file_extension

    ext = col_file_extension(F.col(body_col))
    kind = (F.when(ext.isin("jpg", "png", "gif", "webp", "bmp", "tif", "ico",
                            "psd"), "image")
            .when(ext.isin("mp3", "ogg", "wav", "flac", "mid", "amr", "aiff"),
                  "audio")
            .when(ext.isin("mp4", "webm", "avi", "flv", "mpg", "wmv"), "video")
            .otherwise("binary"))
    return fetched.select(
        F.col(url_col).alias("media_id"), kind.alias("kind"),
        F.col(body_col).alias("payload"),
        F.struct(ext.alias("mime"), F.lit(None).cast("int").alias("width"),
                 F.lit(None).cast("int").alias("height"),
                 F.lit(None).cast("int").alias("duration_ms")).alias("meta"))


def _fake_feature(payload: bytes, dim: int) -> list[float]:
    """Deterministic stand-in for a real decoder: hash-chained floats."""
    out = []
    h = hashlib.blake2b(payload or b"", digest_size=8).digest()
    for i in range(dim):
        h = hashlib.blake2b(h + bytes([i & 0xFF]), digest_size=8).digest()
        out.append((int.from_bytes(h[:4], "little") % 10_000) / 10_000.0)
    return out


def _image_feature(payload: bytes, dim: int) -> list[float] | None:
    """REAL pixel features for PNG/JPEG payloads via the vendored codec
    (functions/imagecodec, pure NumPy from the public RFC 2083 / ITU T.81
    specs).  Layout: [mean RGB/255 (3), std RGB/255 (3), height, width,
    then a (dim-8)-bin normalized luminance histogram].  Returns None when
    the payload isn't decodable here (caller falls back + marks status)."""
    import numpy as np

    from ..functions.imagecodec import jpeg_decode, png_decode

    img = None
    if payload.startswith(b"\x89PNG"):
        img = png_decode(payload)
    elif payload.startswith(b"\xff\xd8"):
        img = jpeg_decode(payload)
    if img is None:
        return None
    px = img.astype(np.float64)
    h, w = img.shape[:2]
    feats = list(px.mean(axis=(0, 1)) / 255.0) + \
        list(px.std(axis=(0, 1)) / 255.0) + [float(h), float(w)]
    nbins = dim - len(feats)
    if nbins > 0:
        lum = px @ np.array([0.299, 0.587, 0.114])
        hist, _ = np.histogram(lum, bins=nbins, range=(0.0, 256.0))
        feats += list(hist / lum.size)
    return [float(x) for x in feats[:dim]]


def _audio_feature(payload: bytes, dim: int) -> list[float] | None:
    """REAL signal features for RIFF/WAV PCM payloads via the vendored
    codec (functions/audiocodec, pure struct+NumPy from the public WAVE
    spec).  Layout: [duration_sec, sample_rate_kHz, RMS, zero-crossing
    rate, spectral centroid normalized to Nyquist, then (dim-5) equal
    rfft bands' energy fractions].  kHz (not Hz) keeps every value under
    1000 so Spark's format_number rendering (no thousands separator)
    matches the oracle's %.4f replay.  Returns None for non-WAV audio
    (mp3/ogg/flac need real codecs — a deployment plugs in librosa)."""
    import numpy as np

    from ..functions.audiocodec import wav_decode

    dec = wav_decode(payload)
    if dec is None:
        return None
    s, rate = dec
    n = s.size
    if n == 0:
        return None
    feats = [n / rate, rate / 1000.0, float(np.sqrt(np.mean(s * s))),
             float(np.mean((s[1:] >= 0) != (s[:-1] >= 0))) if n > 1 else 0.0]
    mag = np.abs(np.fft.rfft(s))
    tot = mag.sum()
    feats.append(float((mag * np.arange(mag.size)).sum()
                       / (tot * max(mag.size - 1, 1))) if tot > 0 else 0.0)
    nbins = dim - len(feats)
    if nbins > 0:
        energy = mag * mag
        etot = energy.sum()
        bands = [float(b.sum() / etot) if etot > 0 else 0.0
                 for b in np.array_split(energy, nbins)]
        feats += bands
    return [float(x) for x in feats[:dim]]


def extract_media_features(media: DataFrame, dim: int = 16,
                           decode: str = "fake") -> DataFrame:
    """Arrow-batched decode + feature extraction.

    decode='real': image payloads decode through the vendored PNG/JPEG
    codec and audio payloads through the vendored RIFF/WAV PCM codec,
    yielding REAL pixel/signal statistics (status 'real', the codec
    operators/images.py recodes with); images/audio the
    vendored tiers can't decode (progressive JPEG, mp3/ogg/flac) fall
    back to the hash features with status 'undecodable'; video stays
    hash-featured with status 'stub' — ffmpeg is absent from this
    container, and that is where a real deployment plugs it in.
    decode='fake' exercises the identical dataflow with deterministic
    hash features for every kind."""
    if decode not in ("fake", "real"):
        raise ValueError(f"decode must be 'fake' or 'real', got {decode!r}")

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, kinds, sizes, feats, status = [], [], [], [], []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"],
                                          pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                ids.append(mid)
                kinds.append(kind)
                sizes.append(len(raw))
                if decode == "real" and kind in ("image", "audio"):
                    f = (_image_feature(raw, dim) if kind == "image"
                         else _audio_feature(raw, dim))
                    feats.append(f if f is not None
                                 else _fake_feature(raw, dim))
                    status.append("real" if f is not None
                                  else "undecodable")
                elif decode == "real":
                    feats.append(_fake_feature(raw, dim))
                    status.append("stub")
                else:
                    feats.append(_fake_feature(raw, dim))
                    status.append("fake")
            yield pd.DataFrame({"media_id": ids, "kind": kinds,
                                "n_bytes": sizes, "feature": feats,
                                "decode_status": status})

    # Repartition on media_id so one huge host/object doesn't serialize a
    # whole partition through a single Python worker.
    return (media.repartition("media_id")
            .mapInPandas(run, schema=FEATURES_SCHEMA))


VIDEO_FRAMES_REAL_SCHEMA = ("media_id string, ts_ms long, frame_idx int, "
                            "height int, width int, mean_lum double, "
                            "decode_status string")

# Untrusted-payload bound: the sampled-timestamp loop is driven by
# dur_ms = n_frames * avih usec_per_frame, and a crafted header
# (usec_per_frame up to 0xFFFFFFFF) can push dur_ms to ~1e11 ms from a
# few-KB payload — without a cap that is billions of loop iterations in
# one Python task.  10,800 samples = 3 h of video at the default 1 s
# sampling interval; beyond it sampling truncates deterministically.
MAX_VIDEO_SAMPLES = 10_800


def sample_video_frames(media: DataFrame, every_ms: int = 1000,
                        decode: str = "fake") -> DataFrame:
    """Frame-sampling: one output row per sampled frame timestamp.

    decode='fake': timestamps derive from meta.duration_ms; the frame
    decode is stubbed (payload hash stands in for pixels).

    decode='real': MJPEG-in-AVI payloads are walked by the vendored RIFF
    container parser (functions/avicodec) and each sampled frame is
    decoded by the vendored baseline-JPEG decoder (functions/imagecodec)
    into real pixel statistics; timestamps derive from the container's
    OWN frame count x avih frame duration, not metadata.  Videos in other
    containers (mp4/webm need ffmpeg — the remaining deployment plug-in
    point) emit one row with decode_status='undecodable'; sampled frames
    whose JPEG payload doesn't decode emit their row with
    decode_status='undecodable' and null stats."""
    if decode == "real":
        def run(batches: Iterator) -> Iterator:
            import numpy as np
            import pandas as pd

            from ..functions.avicodec import avi_mjpeg_decode
            from ..functions.imagecodec import jpeg_decode

            for pdf in batches:
                rows = []
                for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                    raw = bytes(payload) if payload is not None else b""
                    dec = avi_mjpeg_decode(raw)
                    if dec is None or dec[1] <= 0:
                        rows.append((mid, 0, None, None, None, None,
                                     "undecodable"))
                        continue
                    frames, usec = dec
                    dur_ms = min(len(frames) * usec // 1000,
                                 MAX_VIDEO_SAMPLES * every_ms)
                    for ts in range(0, max(dur_ms, 1), every_ms):
                        idx = min(ts * 1000 // usec, len(frames) - 1)
                        img = jpeg_decode(frames[idx])
                        if img is None:
                            rows.append((mid, ts, idx, None, None, None,
                                         "undecodable"))
                            continue
                        lum = img.astype(np.float64) @ \
                            np.array([0.299, 0.587, 0.114])
                        rows.append((mid, ts, idx, img.shape[0],
                                     img.shape[1], float(lum.mean()),
                                     "real"))
                yield pd.DataFrame(rows, columns=[
                    "media_id", "ts_ms", "frame_idx", "height", "width",
                    "mean_lum", "decode_status"])

        return (media.filter(F.col("kind") == "video")
                .select("media_id", "payload")
                .repartition("media_id")
                .mapInPandas(run, schema=VIDEO_FRAMES_REAL_SCHEMA))
    frames = media.filter(F.col("kind") == "video").select(
        "media_id",
        F.explode(F.sequence(
            F.lit(0),
            F.greatest(F.coalesce(F.col("meta.duration_ms"), F.lit(0)) - 1,
                       F.lit(0)),
            F.lit(every_ms))).alias("ts_ms"),
        F.md5(F.concat(F.col("media_id"), F.lit("@"),
                       F.col("meta.duration_ms").cast("string"))).alias("frame_key"))
    return frames
