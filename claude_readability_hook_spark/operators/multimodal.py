"""Multimodal span processing: image/audio/video as opaque binary
columns with typed metadata.

The interleaved-span model carries media as `kind='media'` spans whose
`media_ref` points into a media table:

    media(media_ref: string, modality: string, payload: binary,
          width: int, height: int, duration_ms: long, mime: string)

PNG, baseline JPEG, and WAV/PCM audio decode are REAL (pure-Python
codecs: core/imagecodec.py, core/jpegcodec.py, core/wavcodec.py):
valid payloads produce decode_ok='ok' with a true feature (pixel
luminance histogram / RMS energy envelope). Remaining formats
(progressive/subsampled JPEG, compressed audio, video containers)
fall back to a deterministic fake with decode_ok='stubbed' — no codec
libs in this container. Everything Spark-side is real and tested
either way: schema, partition-size control for large binaries, Arrow
batch shape, UDF signatures, and the join back to span order.

Scale notes: payloads dominate bytes (a thumbnail ≈ 100× its metadata).
The operators therefore (a) never shuffle payloads — feature extraction
runs scan-side via mapInPandas before any join, and (b) join features
back to spans on media_ref with the FEATURES (small) side broadcast or
shuffled, never the payloads.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .._pyworker import python_stage
from ..schemas import local_frame

MEDIA = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("modality", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("mime", StringType(), True),
    ]
)

MEDIA_FEATURES = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("modality", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("sha", StringType(), False),
        StructField("feature", ArrayType(FloatType()), True),
        StructField("decode_ok", StringType(), False),  # 'ok' | 'stubbed' | error msg
    ]
)

FEATURE_DIM = 16


def _decode_media(payload: bytes) -> list[float]:
    """REAL decode ladder: PNG (chunk walk + zlib inflate + filter
    reversal) and baseline JPEG (huffman + IDCT, core/jpegcodec.py) →
    luminance histogram; WAV/PCM audio (RIFF walk, core/wavcodec.py) →
    RMS energy envelope. Same FEATURE_DIM contract for every modality.
    JPEG covers baseline AND progressive (SOF2) Huffman at any
    sampling (4:2:0/4:2:2/4:4:4 — the real-world spread); unsupported
    variants (arithmetic/lossless JPEG, compressed audio) and
    unrecognized formats (video containers — but see
    demux_video_samples for real MP4 sample metadata) raise and fall
    back to the deterministic fake with decode_ok='stubbed'."""
    from ..core.imagecodec import image_luminance_histogram
    from ..core.jpegcodec import is_jpeg
    from ..core.wavcodec import energy_envelope, is_wav

    if payload[:8] == b"\x89PNG\r\n\x1a\n" or is_jpeg(payload):
        return image_luminance_histogram(payload, FEATURE_DIM)
    if is_wav(payload):
        return energy_envelope(payload, FEATURE_DIM)
    raise NotImplementedError("unrecognized media format; no codec lib in container")


def _fake_feature(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic placeholder feature: byte-histogram folded to
    `dim` buckets, L1-normalized. Stands in for the decoder output so
    batch shape / schema / downstream joins are fully exercised."""
    if not payload:
        return [0.0] * dim
    buckets = [0] * dim
    for b in payload:
        buckets[b % dim] += 1
    total = float(len(payload))
    return [c / total for c in buckets]


def extract_media_features(media: DataFrame) -> DataFrame:
    """media table → MEDIA_FEATURES via Arrow-batched mapInPandas.

    Real plumbing, stubbed decode: tries the real decoder per row,
    falls back to the deterministic fake with decode_ok='stubbed'
    (poison-payload isolation mirrors the text extractor's)."""
    import hashlib

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            records = []
            for ref, modality, payload in zip(
                batch["media_ref"], batch["modality"], batch["payload"]
            ):
                raw = bytes(payload) if payload is not None else b""
                try:
                    feature = _decode_media(raw)
                    status = "ok"
                except NotImplementedError:
                    feature = _fake_feature(raw)
                    status = "stubbed"
                except Exception as exc:  # noqa: BLE001
                    feature = None
                    status = f"decode error: {type(exc).__name__}"
                records.append(
                    {
                        "media_ref": ref,
                        "modality": modality,
                        "n_bytes": len(raw),
                        "sha": hashlib.sha256(raw).hexdigest()[:16],
                        "feature": feature,
                        "decode_ok": status,
                    }
                )
            yield pd.DataFrame.from_records(records)

    narrow = media.select("media_ref", "modality", "payload")
    # Binary payloads are the partition-size hazard: bound rows/batch so
    # an Arrow batch of payloads stays ≈ tens of MB.
    return narrow.mapInPandas(python_stage(featurize), schema=MEDIA_FEATURES)


AUDIO_STATS = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("decode_ok", StringType(), False),
        StructField("sample_rate", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("n_samples", LongType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("peak", IntegerType(), True),  # max |int16 sample|
    ]
)


def audio_stats(media: DataFrame) -> DataFrame:
    """REAL audio metadata + signal stats from the WAV decode
    (core/wavcodec.py): sample rate, channels, length, duration, and
    peak amplitude (max |sample| on the int16 scale — an
    order-independent reduction, so it is DuckDB-oracle-able for the
    deterministic synthesized corpus). Same scan-side mapInPandas
    shape as feature extraction; non-WAV/compressed payloads report
    decode_ok='stubbed' with NULL stats."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..core.wavcodec import decode_wav, is_wav

        for batch in batches:
            records = []
            for ref, payload in zip(batch["media_ref"], batch["payload"]):
                raw = bytes(payload) if payload is not None else b""
                rec = {
                    "media_ref": ref, "decode_ok": "stubbed", "sample_rate": None,
                    "channels": None, "n_samples": None, "duration_ms": None,
                    "peak": None,
                }
                if is_wav(raw):
                    try:
                        rate, ch, samples = decode_wav(raw)
                        rec.update(
                            decode_ok="ok",
                            sample_rate=rate,
                            channels=ch,
                            n_samples=len(samples),
                            duration_ms=int(round(1000 * len(samples) / rate))
                            if rate
                            else 0,
                            # float samples are raw/32768 exactly (dyadic),
                            # so ×32768 recovers the stored int16
                            peak=int(round(max((abs(s) for s in samples), default=0.0) * 32768)),
                        )
                    except NotImplementedError:
                        pass
                    except Exception as exc:  # noqa: BLE001 — poison isolation
                        rec["decode_ok"] = f"decode error: {type(exc).__name__}"
                records.append(rec)
            yield pd.DataFrame.from_records(records)

    return media.select("media_ref", "payload").mapInPandas(
        python_stage(stats), schema=AUDIO_STATS
    )


RESIZED = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("payload", BinaryType(), True),
        StructField("resize_ok", StringType(), False),  # 'ok' | 'stubbed' | error
    ]
)


def resize_media(media: DataFrame, out_w: int = 16, out_h: int = 16) -> DataFrame:
    """Thumbnail pass: REAL for PNG payloads (pure-Python decode →
    nearest-neighbor sample → re-encode) and baseline JPEG (decoded
    with core/jpegcodec.py, thumbnail TRANSCODED to grayscale PNG —
    the standard thumbnail normalization); other formats pass through
    unchanged with resize_ok='stubbed'. Same scan-side mapInPandas
    shape as feature extraction — payloads never shuffle."""

    def do_resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..core.imagecodec import encode_png, is_png, resize_png
        from ..core.jpegcodec import decode_jpeg, is_jpeg

        def jpeg_thumb(raw: bytes) -> bytes:
            w, h, ch, px = decode_jpeg(raw)
            if ch == 3:
                gray = bytes(
                    (299 * px[3 * i] + 587 * px[3 * i + 1] + 114 * px[3 * i + 2])
                    // 1000
                    for i in range(w * h)
                )
            else:
                gray = px
            rows = [
                [
                    gray[(y * h // out_h) * w + (x * w // out_w)]
                    for x in range(out_w)
                ]
                for y in range(out_h)
            ]
            return encode_png(rows)

        for batch in batches:
            records = []
            for ref, payload in zip(batch["media_ref"], batch["payload"]):
                raw = bytes(payload) if payload is not None else b""
                try:
                    if is_png(raw):
                        records.append(
                            {"media_ref": ref, "payload": resize_png(raw, out_w, out_h), "resize_ok": "ok"}
                        )
                    elif is_jpeg(raw):
                        records.append(
                            {"media_ref": ref, "payload": jpeg_thumb(raw), "resize_ok": "ok"}
                        )
                    else:
                        records.append(
                            {"media_ref": ref, "payload": raw, "resize_ok": "stubbed"}
                        )
                except NotImplementedError:  # unsupported variant → ladder
                    records.append(
                        {"media_ref": ref, "payload": raw, "resize_ok": "stubbed"}
                    )
                except Exception as exc:  # noqa: BLE001 — poison isolation
                    records.append(
                        {
                            "media_ref": ref,
                            "payload": raw,
                            "resize_ok": f"resize error: {type(exc).__name__}",
                        }
                    )
            yield pd.DataFrame.from_records(records)

    return media.select("media_ref", "payload").mapInPandas(
        python_stage(do_resize), schema=RESIZED
    )


VIDEO_SAMPLES = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("sample_idx", LongType(), True),
        StructField("offset", LongType(), True),  # absolute byte offset
        StructField("size", LongType(), True),
        StructField("timestamp_ms", LongType(), True),  # decode time (dts)
        StructField("pts_ms", LongType(), True),  # presentation (ctts/elst)
        StructField("is_sync", BooleanType(), True),
        StructField("decode_ok", StringType(), False),  # ok | stubbed | error
    ]
)


def demux_video_samples(media: DataFrame, sync_only: bool = False) -> DataFrame:
    """REAL frame-sampling metadata for kind='video' payloads: the
    ISO-BMFF box walk (core/mp4codec.py — moov/trak/stbl: stts, stsz,
    stsc, stco, stss) resolves each video sample to its absolute byte
    offset, size, decode timestamp (dts), presentation timestamp
    (pts — ctts/trun composition offsets + elst edit-list remap; ==
    dts for B-frame-free tracks) and keyframe flag. Frame DECODE
    stays out of scope (no codec libs in this container) — but a
    downstream frame extractor seeks straight to these offsets, which
    is the part a sampling pipeline needs from the container.
    sync_only=True keeps keyframes only (the standard thumbnail /
    shot-sampling policy — decodable without reference frames).
    Same scan-side mapInPandas shape as the other media operators:
    payloads never shuffle, the output is narrow metadata. Plain AND
    fragmented (moof/trun) MP4s demux for real since r5/r6; non-MP4
    payloads and NotImplementedError layouts (complex edit lists,
    flag-less non-first trafs) degrade per-row to decode_ok='stubbed'
    (poison isolation; the duration_ms-based sample_video_frames below
    remains the metadata-only fallback)."""

    def demux(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..core.mp4codec import demux_mp4, is_mp4

        for batch in batches:
            records = []
            for ref, payload in zip(batch["media_ref"], batch["payload"]):
                raw = bytes(payload) if payload is not None else b""
                stub = {
                    "media_ref": ref, "sample_idx": None, "offset": None,
                    "size": None, "timestamp_ms": None, "pts_ms": None,
                    "is_sync": None, "decode_ok": "stubbed",
                }
                if not is_mp4(raw):
                    records.append(stub)
                    continue
                try:
                    parsed = demux_mp4(raw)
                    vid = [t for t in parsed["tracks"] if t["handler"] == "vide"]
                    if not vid:
                        records.append(stub)
                        continue
                    for i, (off, size, ts, pts, sync) in enumerate(
                        vid[0]["samples"]
                    ):
                        if sync_only and not sync:
                            continue
                        records.append(
                            {
                                "media_ref": ref, "sample_idx": i, "offset": off,
                                "size": size, "timestamp_ms": ts, "pts_ms": pts,
                                "is_sync": sync, "decode_ok": "ok",
                            }
                        )
                except NotImplementedError:
                    records.append(stub)
                except Exception as exc:  # noqa: BLE001 — poison isolation
                    records.append(
                        dict(stub, decode_ok=f"demux error: {type(exc).__name__}")
                    )
            yield pd.DataFrame.from_records(records)

    return (
        media.filter(F.col("modality") == "video")
        .select("media_ref", "payload")
        .mapInPandas(python_stage(demux), schema=VIDEO_SAMPLES)
    )


VIDEO_FRAMES = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("sample_idx", LongType(), True),
        StructField("timestamp_ms", LongType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("feature", ArrayType(FloatType()), True),
        StructField("frame_ok", StringType(), False),  # ok | stubbed | error
    ]
)


def extract_video_frames(
    media: DataFrame, sync_only: bool = True, max_frames: int = 8
) -> DataFrame:
    """REAL frame decode where the contained codec is one we carry:
    demux the MP4 sample table (core/mp4codec.py), seek to each
    (sync) sample's byte offset, and decode the frame bytes with the
    image ladder (JPEG — i.e. MJPEG-in-MP4 — or PNG-in-MP4), emitting
    per-frame dimensions + luminance-histogram features. Frames in
    codecs we don't carry (H.264/H.265 et al.) degrade per-FRAME to
    frame_ok='stubbed' — the sampling metadata stays real, only the
    pixel decode falls back. sync_only keeps keyframes (for MJPEG
    every frame is independently decodable, but the policy mirrors
    what an inter-frame codec would allow); max_frames bounds work
    per document. Scan-side mapInPandas as ever: payloads never
    shuffle, output is narrow (16 floats + metadata per frame)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..core.imagecodec import image_luminance_histogram
        from ..core.jpegcodec import decode_jpeg, is_jpeg
        from ..core.mp4codec import demux_mp4, is_mp4

        def frame_row(ref, idx, ts, raw):
            rec = {
                "media_ref": ref, "sample_idx": idx, "timestamp_ms": ts,
                "width": None, "height": None, "feature": None,
                "frame_ok": "stubbed",
            }
            try:
                if is_jpeg(raw):
                    w, h, _ch, _px = decode_jpeg(raw)
                    rec.update(
                        width=w, height=h,
                        feature=image_luminance_histogram(raw, FEATURE_DIM),
                        frame_ok="ok",
                    )
                elif raw[:8] == b"\x89PNG\r\n\x1a\n":
                    from ..core.imagecodec import decode_png

                    w, h, _ch, _px = decode_png(raw)
                    rec.update(
                        width=w, height=h,
                        feature=image_luminance_histogram(raw, FEATURE_DIM),
                        frame_ok="ok",
                    )
            except NotImplementedError:
                pass
            except Exception as exc:  # noqa: BLE001 — poison isolation
                rec["frame_ok"] = f"frame error: {type(exc).__name__}"
            return rec

        for batch in batches:
            records = []
            for ref, payload in zip(batch["media_ref"], batch["payload"]):
                raw = bytes(payload) if payload is not None else b""
                if not is_mp4(raw):
                    records.append(frame_row(ref, None, None, b""))
                    continue
                try:
                    parsed = demux_mp4(raw)
                    vid = [t for t in parsed["tracks"] if t["handler"] == "vide"]
                    if not vid:
                        records.append(frame_row(ref, None, None, b""))
                        continue
                    emitted = 0
                    for i, (off, size, _ts, pts, sync) in enumerate(
                        vid[0]["samples"]
                    ):
                        if sync_only and not sync:
                            continue
                        if emitted >= max_frames:
                            break
                        # frames carry PRESENTATION time — what a
                        # thumbnailer/shot-sampler keys on (== dts for
                        # B-frame-free tracks, so existing oracles hold)
                        records.append(frame_row(ref, i, pts, raw[off : off + size]))
                        emitted += 1
                except NotImplementedError:
                    records.append(frame_row(ref, None, None, b""))
                except Exception as exc:  # noqa: BLE001
                    records.append(
                        dict(
                            frame_row(ref, None, None, b""),
                            frame_ok=f"demux error: {type(exc).__name__}",
                        )
                    )
            yield pd.DataFrame.from_records(records)

    return (
        media.filter(F.col("modality") == "video")
        .select("media_ref", "payload")
        .mapInPandas(python_stage(decode), schema=VIDEO_FRAMES)
    )


def sample_video_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Metadata-only frame-sampling fallback for video payloads whose
    container demux_video_samples cannot walk (non-ISO-BMFF, or the
    documented NotImplementedError layouts): frame offsets derived
    from duration_ms metadata — the schema/explode shape a demuxer
    would feed, minus real byte offsets."""
    frames = F.when(
        F.col("duration_ms").isNotNull(),
        F.transform(
            F.sequence(F.lit(0), F.greatest((F.col("duration_ms") / every_ms).cast("int") - 1, F.lit(0))),
            lambda i: i * every_ms,
        ),
    ).otherwise(F.array().cast("array<long>"))
    return (
        media.filter(F.col("modality") == "video")
        .select("media_ref", F.explode(frames).alias("frame_at_ms"))
        .withColumn("decode_ok", F.lit("stubbed"))
    )


def media_spans(extracted: DataFrame) -> DataFrame:
    """Flatten media spans out of extracted docs: (doc_id, offset,
    media_ref). Narrow projection — span text never travels."""
    return (
        extracted.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select(
            "doc_id", F.col("s.offset").alias("offset"), F.col("s.media_ref").alias("media_ref")
        )
    )


def join_media_features(extracted: DataFrame, features: DataFrame) -> DataFrame:
    """Per-document media feature table, in span order:
    (doc_id, offset, media_ref, modality, feature). Payloads are long
    gone by this point — the join moves 16-float features only."""
    spans = media_spans(extracted)
    return spans.join(features, "media_ref", "left").select(
        "doc_id", "offset", "media_ref", "modality", "feature"
    ).orderBy("doc_id", "offset")


def synthesize_media_table(
    spark: SparkSession,
    refs: list[str],
    real_png: bool = False,
    real_jpeg: bool = False,
    real_wav: bool = False,
    real_jpeg_420: bool = False,
    real_mp4: bool = False,
    real_mjpeg: bool = False,
    real_jpeg_prog: bool = False,
    real_fmp4: bool = False,
    real_mp4_pts: bool = False,
    real_fmp4_pts: bool = False,
    real_png_dhash: bool = False,
    dhash_twin: bool = False,
    real_jpeg_flat: bool = False,
    real_png_pdct: bool = False,
    real_png_mp4: bool = False,
    video_twin: bool = False,
    real_wav_am: bool = False,
    wav_am_twin: bool = False,
) -> DataFrame:
    """Deterministic media rows for the given media_refs (tests/bench):
    payload bytes derived from the ref string — no external data.
    real_png/real_jpeg emit VALID images (seed-derived gradients),
    real_jpeg_420 VALID 4:2:0 chroma-subsampled COLOR JPEGs (the
    real-world majority format), and real_wav VALID PCM16 WAVs
    (seed-derived sine) so the real decode paths run; default keeps
    the opaque-bytes payloads the fallback path is tested with."""
    import math as _math

    rows = []
    for ref in refs:
        seed = sum(ref.encode())
        if real_mjpeg:
            # MJPEG-in-MP4: every sample is a real flat-gray JPEG frame
            # (flat fields survive the unit-quant DCT round trip
            # EXACTLY, so frame features are arithmetic in the seed —
            # the media_frame_decode oracle mirrors this)
            from ..core.jpegcodec import encode_jpeg_gray
            from ..core.mp4codec import encode_minimal_mp4

            n = 3 + seed % 3
            frames = [
                encode_jpeg_gray(
                    [[(seed * 7 + i * 31) % 256] * 16 for _ in range(16)],
                    quant=[1] * 64,
                )
                for i in range(n)
            ]
            rows.append(
                {
                    "media_ref": ref,
                    "modality": "video",
                    "payload": encode_minimal_mp4(sample_payloads=frames),
                    "width": 16,
                    "height": 16,
                    "duration_ms": 40 * n,
                    "mime": "video/mp4",
                }
            )
            continue
        if real_mp4_pts:
            from ..core.mp4codec import encode_minimal_mp4

            # B-frame-style pts fixture mirrored by the media_video_pts
            # DuckDB oracle: seeded sizes + ctts offsets 40·(1+(seed+31i)%3),
            # elst media_time=40 trim, empty-edit delay 20+(seed%5)·20 ms
            # (always ≥20 so the elst shape — and pts arithmetic — is
            # uniform across refs). pts = 40i + 40·((seed+31i)%3) +
            # 20+(seed%5)·20, non-negative by construction.
            n = 4 + seed % 4
            sizes = [50 + ((seed + 31 * i) % 100) for i in range(n)]
            cts = [40 * (1 + ((seed + 31 * i) % 3)) for i in range(n)]
            rows.append(
                {
                    "media_ref": ref,
                    "modality": "video",
                    "payload": encode_minimal_mp4(
                        sizes, seed=seed, ctts_offsets=cts,
                        elst_media_time=40,
                        elst_empty_ms=20 + (seed % 5) * 20,
                    ),
                    "width": None,
                    "height": None,
                    "duration_ms": 40 * n,
                    "mime": "video/mp4",
                }
            )
            continue
        if real_fmp4_pts:
            from ..core.mp4codec import encode_fragmented_mp4

            # fragmented sibling: v1 trun per-sample composition
            # offsets (same 40·(1+(seed+31gi)%3) pattern over the
            # GLOBAL sample index) + the same moov edit list
            n_frag = 2 + seed % 2
            sizes = [50 + ((seed + 31 * gi) % 100) for gi in range(3 * n_frag)]
            cts = [40 * (1 + ((seed + 31 * gi) % 3)) for gi in range(3 * n_frag)]
            rows.append(
                {
                    "media_ref": ref,
                    "modality": "video",
                    "payload": encode_fragmented_mp4(
                        [sizes[3 * f : 3 * f + 3] for f in range(n_frag)],
                        seed=seed,
                        fragment_cts=[cts[3 * f : 3 * f + 3] for f in range(n_frag)],
                        elst_media_time=40,
                        elst_empty_ms=20 + (seed % 5) * 20,
                    ),
                    "width": None,
                    "height": None,
                    "duration_ms": 40 * 3 * n_frag,
                    "mime": "video/mp4",
                }
            )
            continue
        if real_fmp4:
            from ..core.mp4codec import encode_fragmented_mp4

            # arithmetic layout mirrored by the media_fmp4_demux
            # DuckDB oracle: n_frag fragments of 3 samples each,
            # seeded sizes over the GLOBAL sample index, 40 ms
            # cadence, fragment-start samples sync
            n_frag = 2 + seed % 2
            sizes = [50 + ((seed + 31 * gi) % 100) for gi in range(3 * n_frag)]
            frags = [sizes[3 * f : 3 * f + 3] for f in range(n_frag)]
            rows.append(
                {
                    "media_ref": ref,
                    "modality": "video",
                    "payload": encode_fragmented_mp4(frags, seed=seed),
                    "width": None,
                    "height": None,
                    "duration_ms": 40 * 3 * n_frag,
                    "mime": "video/mp4",
                }
            )
            continue
        if real_mp4:
            from ..core.mp4codec import encode_minimal_mp4

            # arithmetic layout mirrored by the media_video_demux
            # DuckDB oracle: n samples of seeded sizes, 40 ms cadence,
            # keyframe every 2nd sample
            n = 4 + seed % 4
            sizes = [50 + ((seed + 31 * i) % 100) for i in range(n)]
            rows.append(
                {
                    "media_ref": ref,
                    "modality": "video",
                    "payload": encode_minimal_mp4(sizes, seed=seed),
                    "width": None,
                    "height": None,
                    "duration_ms": 40 * n,
                    "mime": "video/mp4",
                }
            )
            continue
        if real_wav_am:
            from ..core.wavcodec import encode_wav

            # Amplitude-modulated integer noise for the audio-dedup
            # oracles: 8 amplitude segments (level pattern = a pure
            # function of seed % 16, so refs sharing seed mod 16 share
            # the ENVELOPE while the per-sample noise still depends on
            # the full seed) over a seed-hashed magnitude sequence. No
            # trig anywhere — every PCM sample is exact integer
            # arithmetic in the ref string, so DuckDB replays the
            # fingerprint bit-for-bit. n is a multiple of 64 and the
            # noise index repeats per fingerprint window, so every
            # same-amplitude window carries IDENTICAL energy: each
            # envelope bit has a deterministic ≥12% margin to the
            # global-mean threshold. wav_am_twin forces window 0's
            # amplitude to the top level, which moves that threshold
            # by <3% — inside every other window's margin — flipping
            # AT MOST fingerprint bit 0: a planted near-duplicate at
            # Hamming distance ≤ 1.
            rate = 8000
            n = 1024 + (seed % 7) * 64
            pat = seed % 16
            spw = n // 64  # exact: n is a multiple of 64
            samples = []
            for i in range(n):
                w = i // spw
                if wav_am_twin and w == 0:
                    amp = 2000 + 7 * 3500
                else:
                    amp = 2000 + ((pat + w // 8) % 8) * 3500
                mag = amp * ((seed * 31 + (i % spw) * 17) % 101) // 100
                sign = 1 if (seed + i) % 2 == 0 else -1
                samples.append(sign * mag)
            rows.append(
                {
                    "media_ref": ref,
                    "modality": "audio",
                    "payload": encode_wav(samples, sample_rate=rate),
                    "width": None,
                    "height": None,
                    "duration_ms": int(round(1000 * n / rate)),
                    "mime": "audio/wav",
                }
            )
            continue
        if real_wav:
            from ..core.wavcodec import encode_wav

            rate = 8000
            n = 800 + seed % 400  # 100-150 ms
            freq = 200 + seed % 500
            samples = [
                int(12000 * _math.sin(2 * _math.pi * freq * i / rate))
                for i in range(n)
            ]
            rows.append(
                {
                    "media_ref": ref,
                    "modality": "audio",
                    "payload": encode_wav(samples, sample_rate=rate),
                    "width": None,
                    "height": None,
                    "duration_ms": int(round(1000 * n / rate)),
                    "mime": "audio/wav",
                }
            )
            continue
        if real_png_mp4:
            # PNG-frame MP4 for the temporal video-dedup oracle: every
            # sample is a LOSSLESS gradient PNG — frame pixels are
            # closed-form in (seed, frame), so per-frame dHashes are
            # arithmetic for DuckDB (the media_phash gradient fixture,
            # lifted into a container). video_twin bumps frame 0's
            # pixel (0,0) by +24 — at most dHash bit 0 of ONE frame
            # flips, a planted temporal near-duplicate (the 'va:'/'av:'
            # anagram-prefix pairing shares the ascii-sum seed).
            from ..core.imagecodec import encode_png
            from ..core.mp4codec import encode_minimal_mp4

            n = 3 + seed % 3
            w, h = 16 + seed % 16, 16
            a, b = 5 + seed % 7, 11 + seed % 5
            frames = []
            for f in range(n):
                grid = [
                    [(seed + 17 * f + a * x + b * y) % 256 for x in range(w)]
                    for y in range(h)
                ]
                if video_twin and f == 0:
                    grid[0][0] = (grid[0][0] + 24) % 256
                frames.append(encode_png(grid))
            rows.append(
                {
                    "media_ref": ref,
                    "modality": "video",
                    "payload": encode_minimal_mp4(sample_payloads=frames),
                    "width": w,
                    "height": h,
                    "duration_ms": 40 * n,
                    "mime": "video/mp4",
                }
            )
            continue
        if real_png_pdct:
            from ..core.imagecodec import encode_png

            # pDCT-sized gradient (the 32×32 hash grid needs w,h ≥ 32):
            # pixel = (seed + a·x + b·y) % 256, h = 32 exactly so the
            # grid samples row y at sy = y — the media_pdct_hash oracle
            # recomputes the integer DCT of this closed-form grid
            w, h = 33 + seed % 16, 32
            a, b = 5 + seed % 7, 11 + seed % 5
            grid = [
                [(seed + a * x + b * y) % 256 for x in range(w)] for y in range(h)
            ]
            payload = encode_png(grid)
            rows.append(
                {
                    "media_ref": ref,
                    "modality": "image",
                    "payload": payload,
                    "width": w,
                    "height": h,
                    "duration_ms": None,
                    "mime": "image/png",
                }
            )
            continue
        if real_png_dhash:
            from ..core.imagecodec import encode_png

            # varied-slope gradient for the perceptual-hash oracles:
            # pixel = (seed + a·x + b·y) % 256 with seed-dependent
            # slopes, so distinct refs get distinct wrap patterns and
            # the dHash population is diverse. dhash_twin bumps pixel
            # (0,0) — the only cell the 9×8 grid samples at (0,0) — by
            # +24, flipping AT MOST bit 0: a planted near-duplicate at
            # Hamming distance ≤ 1, still arithmetic for DuckDB.
            w, h = 16 + seed % 16, 16
            a, b = 5 + seed % 7, 11 + seed % 5
            grid = [
                [(seed + a * x + b * y) % 256 for x in range(w)] for y in range(h)
            ]
            if dhash_twin:
                grid[0][0] = (grid[0][0] + 24) % 256
            payload = encode_png(grid)
            mime = "image/png"
        elif real_jpeg_flat:
            from ..core.jpegcodec import encode_jpeg_gray

            # flat field + unit quant ⇒ the DCT round trip is EXACT
            # (the mjpeg fixture's established property): dHash = 0,
            # exercising the JPEG dispatch arm of the hash oracle
            w, h = 16, 16
            payload = encode_jpeg_gray(
                [[(seed * 7) % 256] * w for _ in range(h)], quant=[1] * 64
            )
            mime = "image/jpeg"
        elif real_png:
            from ..core.imagecodec import encode_png

            w, h = 16 + seed % 16, 16
            payload = encode_png(
                [[(seed + x * 7 + y * 13) % 256 for x in range(w)] for y in range(h)]
            )
            mime = "image/png"
        elif real_jpeg_420:
            from ..core.jpegcodec import encode_jpeg_color

            w, h = 16 + (seed % 2) * 16, 16
            payload = encode_jpeg_color(
                [
                    [
                        (
                            (seed + x * 7 + y * 13) % 256,
                            (seed * 3 + x * 11) % 256,
                            (seed * 5 + y * 17) % 256,
                        )
                        for x in range(w)
                    ]
                    for y in range(h)
                ],
                luma_sampling=(2, 2),
            )
            mime = "image/jpeg"
        elif real_jpeg:
            from ..core.jpegcodec import encode_jpeg_gray

            w, h = 16 + seed % 16, 16
            payload = encode_jpeg_gray(
                [[(seed + x * 7 + y * 13) % 256 for x in range(w)] for y in range(h)]
            )
            mime = "image/jpeg"
        elif real_jpeg_prog:
            from ..core.jpegcodec import encode_jpeg_gray_progressive

            w, h = 16 + seed % 16, 16
            payload = encode_jpeg_gray_progressive(
                [[(seed + x * 7 + y * 13) % 256 for x in range(w)] for y in range(h)]
            )
            mime = "image/jpeg"
        else:
            w, h = 64 + seed % 64, 64
            payload = bytes((seed + i * 31) % 256 for i in range(512 + seed % 256))
            mime = "image/png"
        rows.append(
            {
                "media_ref": ref,
                "modality": "image",
                "payload": payload,
                "width": w,
                "height": h,
                "duration_ms": None,
                "mime": mime,
            }
        )
    return local_frame(spark, rows, MEDIA)
