"""Audio / video payload operators — Arrow-batched pandas UDFs over the
opaque binary columns (the image pipeline's siblings, SURVEY.md §2.10 /
the brief's 'decode / feature-extract / resize / frame-sample').

Scale shape mirrors operators/multimodal.py: metadata queries never read
the bytes column (payload discipline — column pruning keeps the binary
out of the scan), decode runs only where features are requested, and the
UDFs are mapInPandas batches (NO per-row Python)."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

AUDIO_FEATURES_SCHEMA = (
    "audio_id string, duration_s double, rms double, zero_cross_rate double"
)

FRAMES_SCHEMA = (
    "video_id string, frame_idx int, w int, h int, frame_phash bigint"
)


def audio_features(audio: DataFrame) -> DataFrame:
    """Decode PCM payloads -> (duration, RMS energy, zero-crossing rate).

    The classic cheap audio-quality/speech-detection features; a real
    pipeline would append spectral features the same way — the batching
    and schema don't change."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ionex_spark.core import av_codec

        for pdf in it:
            out = []
            for aid, data, codec in zip(
                pdf["audio_id"], pdf["bytes"], pdf["codec"]
            ):
                samples, rate = av_codec.decode_audio(data, codec)
                n = len(samples)
                rms = float(np.sqrt(np.mean(samples**2))) if n else 0.0
                zc = (
                    float(np.mean(np.signbit(samples[1:])
                                  != np.signbit(samples[:-1])))
                    if n > 1
                    else 0.0
                )
                out.append(
                    {
                        "audio_id": aid,
                        "duration_s": n / rate if rate else 0.0,
                        "rms": rms,
                        "zero_cross_rate": zc,
                    }
                )
            yield pd.DataFrame(out)

    return audio.select("audio_id", "bytes", "codec").mapInPandas(
        fn, AUDIO_FEATURES_SCHEMA
    )


def sample_frames(videos: DataFrame, every: int = 4) -> DataFrame:
    """Frame sampling: decode each video payload, keep every k-th frame,
    emit one row per kept frame with its perceptual hash — the rows feed
    the IMAGE pipeline (near-dup frame detection, tile assignment)
    unchanged.  One input row fans out to ceil(n_frames / every) output
    rows inside the UDF: a narrow generate, no join, no shuffle."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ionex_spark.core import av_codec, codec

        for pdf in it:
            out = []
            for vid, data, cname in zip(
                pdf["video_id"], pdf["bytes"], pdf["codec"]
            ):
                frames, _fps = av_codec.decode_video(data, cname)
                for k in range(0, frames.shape[0], every):
                    # phash64 takes an (h, w, 3) image; gray -> 3-channel
                    f = np.repeat(frames[k][:, :, None], 3, axis=2)
                    out.append(
                        {
                            "video_id": vid,
                            "frame_idx": k,
                            "w": int(f.shape[1]),
                            "h": int(f.shape[0]),
                            "frame_phash": codec.phash64(f),
                        }
                    )
            yield pd.DataFrame(out)

    return videos.select("video_id", "bytes", "codec").mapInPandas(
        fn, FRAMES_SCHEMA
    )


AUDIO_FP_SCHEMA = "audio_id string, fp64 bigint"


def audio_fingerprint64(audio: DataFrame) -> DataFrame:
    """64-bit audio FINGERPRINT — the audio analog of the image phash,
    one bigint column like it, so near-dup detection rides the one
    shared hamming kernel (dedup.hamming_pairs_from_sig).

    Four 16-bit bands, each the CRC of a STABLE quantized aggregate:
    duration (10 ms units), dominant frequency (zero-crossing
    estimate, 25 Hz bins), RMS energy (64-unit bins), and the 8-bucket
    coarse energy envelope (3-bit quantized).  HASH-SPREAD per band —
    binary-coding the bin values puts nearby bins 1-2 bits apart
    (freq bins 5 vs 21 collide at hamming 1; found the hard way), so
    each band is crc16(field) instead: equal fields match exactly,
    different fields land ~8 bits apart per band.  A re-encoded /
    lightly-noised copy therefore fingerprints IDENTICALLY unless a
    field sits on a quantization boundary (one wobbled field = ~8
    hamming: detectably distinct from both 0 and ~32).  A production
    system swaps in chromaprint behind the same 64-bit column — the
    Spark-side plumbing (batching, banding, join shape) is what this
    operator pins."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        import numpy as np

        from ionex_spark.core import av_codec

        for pdf in it:
            out = []
            for aid, data, codec in zip(
                pdf["audio_id"], pdf["bytes"], pdf["codec"]
            ):
                samples, rate = av_codec.decode_audio(data, codec)
                n = len(samples)
                dur_10ms = min(65535, (n * 100) // max(rate, 1))
                if n > 1:
                    zc = np.count_nonzero(
                        np.signbit(samples[1:]) != np.signbit(samples[:-1])
                    )
                    freq_bin = min(
                        65535, int(zc * rate / (2 * n)) // 25
                    )
                else:
                    freq_bin = 0
                rms_bin = (
                    min(65535, int(np.sqrt(np.mean(samples**2))) // 64)
                    if n
                    else 0
                )
                env = np.array_split(np.abs(samples), 8) if n >= 8 else []
                coarse = ",".join(
                    str(min(7, int(e.mean()) // 512)) for e in env
                )
                fields = (dur_10ms, freq_bin, rms_bin, coarse)
                fp = 0
                for b, field in enumerate(fields):
                    band = zlib.crc32(f"{b}:{field}".encode()) & 0xFFFF
                    fp |= band << (16 * b)
                if fp >= 1 << 63:
                    fp -= 1 << 64  # int64 two's complement
                out.append({"audio_id": aid, "fp64": np.int64(fp)})
            yield pd.DataFrame(out)

    return audio.select("audio_id", "bytes", "codec").mapInPandas(
        fn, AUDIO_FP_SCHEMA
    )


def audio_near_dup_pairs(
    audio: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Audio near-duplicate pairs by fingerprint hamming — exactly the
    phash_near_dup_pairs shape: the 64-bit fingerprint column,
    Manku-refined candidates, exact XOR-popcount verify.
    Payload bytes never cross a shuffle (fingerprints are computed in
    one narrow pass; the join sees 16 bytes per row)."""
    from ionex_spark.operators.multimodal import phash_near_dup_pairs

    return phash_near_dup_pairs(
        audio_fingerprint64(audio), max_hamming,
        id_col="audio_id", phash_col="fp64",
    )


def video_signature64(videos: DataFrame, every: int = 4) -> DataFrame:
    """64-bit video signature: bitwise MAJORITY over the sampled
    frames' phashes — stable under a few edited/corrupted frames
    (minority bits are outvoted), so trims and light overlays stay
    near-dups while different content diverges.  Computed as 64
    per-bit vote sums over the frame_phash rows sample_frames already
    produces: one narrow explode + one aggregation, no payload
    shuffle.  Output: (video_id, sig64)."""
    from pyspark.sql import functions as F

    frames = sample_frames(videos, every=every)
    bits = frames.select(
        "video_id",
        F.expr(
            "explode(transform(sequence(0, 63),"
            " b -> named_struct('b', b,"
            " 'v', cast(shiftright(frame_phash, b) & 1 as int))))"
        ).alias("p"),
    ).selectExpr("video_id", "p.b as b", "p.v as v")
    votes = bits.groupBy("video_id", "b").agg(
        F.expr("cast(sum(v) * 2 >= count(1) as int)").alias("maj")
    )
    return votes.groupBy("video_id").agg(
        F.expr(
            "cast(sum(cast(maj as bigint) * shiftleft(cast(1 as bigint),"
            " cast(b as int))) as bigint)"
        ).alias("sig64")
    )


def video_near_dup_pairs(
    videos: DataFrame, max_hamming: int = 3, every: int = 4
) -> DataFrame:
    """Video near-duplicate pairs by majority-phash signature hamming —
    same block-key kernel as image/audio/text."""
    from ionex_spark.operators.multimodal import phash_near_dup_pairs

    return phash_near_dup_pairs(
        video_signature64(videos, every=every), max_hamming,
        id_col="video_id", phash_col="sig64",
    )
