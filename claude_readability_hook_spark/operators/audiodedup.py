"""Perceptual AUDIO dedup: envelope fingerprints + banded Hamming
pairs — the audio rung of the modality ladder (text minhash, image
dHash/aHash/pDCT, video frame signatures, and now audio), catching
re-encoded / re-uploaded clips whose bytes (and content hashes)
differ but whose loudness shape is the same.

Reference scope: the reference engine has no audio pipeline (its
media handling stops at ref extraction — services/extractor lifts
`media_ref` strings; see core/medialift.py's citations). This
operator exists for the 100 TB training-data use case: crawled audio
is overwhelmingly duplicated across hosts with fresh container bytes,
so exact hashing misses almost all of it.

Fingerprint (chromaprint's shape, integer-exact): decode PCM once on
the scan side, split the clip into 64 equal windows, sum |sample| per
window (the L1 energy envelope — integer sums, so order-independent
and engine-exact), and set bit w when window w holds MORE than its
even share of the total (strict integer cross-multiply
``64·e_w > total``; ties and silence are 0). 64 bits pack into one
signed long, so the whole downstream reuses the image-dedup banding
machinery unchanged: 8×8-bit Hamming-LSH bands (complete for
distance ≤ 7), in-row xor+bit_count verification, bucket caps.

Scale shape — identical to imagededup: audio bytes are read once by
mapInPandas and NEVER shuffle; everything that moves afterwards is
(ref, long) rows. The envelope is time-normalized (64 windows
whatever the duration), so a re-encode at a different sample rate
still collides; it is NOT pitch- or trim-invariant (that needs a
spectral transform — a documented non-goal while the oracle rule
bars libm float recursion; the integer-DCT trick that unlocked pDCT
would extend here if a round demands it).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .._pyworker import python_stage
from .imagededup import image_dup_pairs

AUDIO_FP_DIM = 64  # envelope windows == fingerprint bits

AUDIO_FP = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("afp", LongType(), True),
        StructField("n_samples", LongType(), True),
        StructField("decode_ok", StringType(), False),
    ]
)


def _envelope_bits(samples: list[float]) -> int:
    """Pack the 64-window L1-envelope threshold bits into a signed
    64-bit int. PCM16 floats are k/32768 with k exactly representable,
    so round(|s|·32768) recovers the integer magnitudes losslessly —
    the envelope sums are exact integers end to end."""
    n = len(samples)
    energies = [0] * AUDIO_FP_DIM
    for i, s in enumerate(samples):
        energies[(i * AUDIO_FP_DIM) // n] += int(round(abs(s) * 32768))
    total = sum(energies)
    fp = 0
    for w, e in enumerate(energies):
        if AUDIO_FP_DIM * e > total:
            fp |= 1 << w
    if fp >= 1 << 63:
        fp -= 1 << 64
    return fp


def audio_fingerprints(media: DataFrame) -> DataFrame:
    """(media_ref, afp, n_samples, decode_ok) for modality='audio'
    payloads. One decode per clip on the scan side; non-audio and
    undecodable payloads degrade per-row to 'stubbed' (unsupported
    WAV encodings raise NotImplementedError in the codec ladder) or
    'error: <type>' — poison isolation, same contract as image_dhash."""

    def fp_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..core.wavcodec import decode_wav

        for batch in batches:
            records = []
            for ref, payload in zip(batch["media_ref"], batch["payload"]):
                raw = bytes(payload) if payload is not None else b""
                try:
                    _rate, _ch, samples = decode_wav(raw)
                    if not samples:
                        raise ValueError("empty audio stream")
                    records.append(
                        {
                            "media_ref": ref,
                            "afp": _envelope_bits(samples),
                            "n_samples": len(samples),
                            "decode_ok": "ok",
                        }
                    )
                except (NotImplementedError, ValueError):
                    records.append(
                        {
                            "media_ref": ref,
                            "afp": None,
                            "n_samples": None,
                            "decode_ok": "stubbed",
                        }
                    )
                except Exception as exc:  # noqa: BLE001 — poison isolation
                    records.append(
                        {
                            "media_ref": ref,
                            "afp": None,
                            "n_samples": None,
                            "decode_ok": f"error: {type(exc).__name__}",
                        }
                    )
            yield pd.DataFrame.from_records(records)

    return (
        media.filter(F.col("modality") == "audio")
        .select("media_ref", "payload")
        .mapInPandas(python_stage(fp_batch), schema=AUDIO_FP)
    )


def audio_dup_pairs(
    fps: DataFrame,
    max_distance: int = 3,
    n_bands: int = 8,
    max_bucket_size: int | None = 50,
) -> DataFrame:
    """(ref_a, ref_b, distance): near-duplicate audio pairs at exact
    Hamming distance ≤ max_distance over the envelope fingerprint —
    image_dup_pairs on the `afp` column, which is generic over any
    64-bit hash: the same 8-band completeness guarantee (every pair
    with distance ≤ 7 shares a band), the same blocking.bucket_pairs
    expansion and in-row xor+bit_count verify, and the same bucket
    cap (image_oversize_buckets(fps, hash_col='afp') reports the
    dropped buckets)."""
    return image_dup_pairs(
        fps,
        max_distance=max_distance,
        n_bands=n_bands,
        max_bucket_size=max_bucket_size,
        ref_col="media_ref",
        hash_col="afp",
    )
