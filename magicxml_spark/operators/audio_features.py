"""Audio feature extraction: log-mel spectrogram frames over PCM WAV —
the feature-extract step of a multimodal training pipeline, REAL on
the pure-stdlib WAV decode path (numpy FFT; no librosa/soundfile).

Standard public DSP: Hann-windowed STFT (rfft power spectrum) pooled
through an HTK-mel triangular filterbank (mel = 2595·log10(1 + f/700))
and log-compressed — the ubiquitous ASR front-end. Frames, not files,
are the output rows: downstream shard packing / similarity operators
consume (file, frame_idx, t_start_s, logmel[]) exactly like text
operators consume (doc, chunk) rows.

Spark shape: one ``mapInPandas`` pass over the binaryFile source —
each task decodes and transforms its own files, no shuffle; a 10-hour
recording becomes ~1.4M frame rows streamed out of one task.
Compressed codecs (mp3/flac/ogg) stay import-gated exactly like the
rest of the audio arm.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame

from magicxml_spark.operators.dedup import (  # noqa: E402
    DEFAULT_MAX_BUCKET_SIZE as _DEFAULT_CAP,
)


def mel_filterbank(n_mels: int, n_fft: int, rate: int) -> "np.ndarray":
    """(n_mels, n_fft//2 + 1) triangular filters on the HTK mel scale,
    from 0 Hz to Nyquist. Filters peak at 1.0 (no area normalization —
    matches the classic HTK front-end)."""

    def to_mel(f):
        return 2595.0 * np.log10(1.0 + np.asarray(f, dtype=np.float64) / 700.0)

    def from_mel(m):
        return 700.0 * (10.0 ** (np.asarray(m, dtype=np.float64) / 2595.0) - 1.0)

    mel_pts = np.linspace(0.0, to_mel(rate / 2.0), n_mels + 2)
    hz_pts = from_mel(mel_pts)
    bin_freqs = np.arange(n_fft // 2 + 1) * (rate / n_fft)
    fb = np.zeros((n_mels, n_fft // 2 + 1))
    for m in range(n_mels):
        lo, mid, hi = hz_pts[m], hz_pts[m + 1], hz_pts[m + 2]
        up = (bin_freqs - lo) / max(mid - lo, 1e-12)
        down = (hi - bin_freqs) / max(hi - mid, 1e-12)
        fb[m] = np.clip(np.minimum(up, down), 0.0, None)
    return fb


def logmel_frames(
    pcm: "np.ndarray",
    rate: int,
    n_fft: int = 512,
    hop: int = 256,
    n_mels: int = 40,
) -> "np.ndarray":
    """(n_frames, n_mels) log-mel power frames from mono float PCM in
    [-1, 1]. Hann window (periodic), rfft power, triangular mel pool,
    natural-log compression with a 1e-10 floor."""
    x = np.asarray(pcm, dtype=np.float64)
    if len(x) < n_fft:
        x = np.pad(x, (0, n_fft - len(x)))
    n_frames = 1 + (len(x) - n_fft) // hop
    win = 0.5 - 0.5 * np.cos(2 * np.pi * np.arange(n_fft) / n_fft)
    idx = np.arange(n_fft)[None, :] + hop * np.arange(n_frames)[:, None]
    frames = x[idx] * win[None, :]
    power = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    fb = mel_filterbank(n_mels, n_fft, rate)
    return np.log(np.maximum(power @ fb.T, 1e-10))


def _wav_to_mono_float(data: bytes):
    """(mono_float64, rate) from integer-PCM WAV bytes; None when the
    bytes aren't a decodable WAV (caller triages)."""
    from magicxml_spark.sources.riff_media import decode_wav

    wav = decode_wav(bytes(data))
    if wav is None:
        return None
    rate, ch, bits, n_frames, pcm = wav
    if bits == 16:
        arr = np.frombuffer(pcm, dtype="<i2").astype(np.float64) / 32768.0
    else:  # 8-bit WAV is unsigned, midpoint 128
        arr = (np.frombuffer(pcm, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    if ch > 1:
        arr = arr[: n_frames * ch].reshape(-1, ch).mean(axis=1)
    return arr, rate


# ---------------------------------------------------------------------------
# Audio near-dup: Haitsma-Kalker frame fingerprints through MinHash
# ---------------------------------------------------------------------------


def hk_fingerprint_frames(feats: "np.ndarray") -> "np.ndarray":
    """Haitsma-Kalker (2002) robust-hash bits from consecutive log-mel
    frames: bit(m, t) = 1 iff the band-energy difference
    (E[m,t] - E[m+1,t]) INCREASED since the previous frame — the
    classic sign-of-delta-of-delta fingerprint. (n_frames-1) uint64
    values from (n_frames, n_mels) features; n_mels-1 <= 64 bits used."""
    d_band = feats[:, :-1] - feats[:, 1:]  # (t, m) band deltas
    dd = d_band[1:] - d_band[:-1]  # temporal delta
    bits = (dd > 0).astype(np.uint64)
    out = np.zeros(len(bits), dtype=np.uint64)
    for m in range(bits.shape[1]):
        out |= bits[:, m] << np.uint64(m)
    return out


def audio_fingerprint_docs(
    binary_df: DataFrame,
    id_col: str = "path",
    content_col: str = "content",
    n_fft: int = 512,
    hop: int = 256,
    n_mels: int = 33,
    max_frames: int | None = 2048,
) -> DataFrame:
    """(path, text) — each decodable WAV rendered as a document whose
    tokens are its hex HK frame fingerprints, so the text dedup stack
    (MinHash-LSH, shingle_k=1 Jaccard, clustering, caps) applies
    verbatim, exactly like video_fingerprint_docs. Contract: exact
    copies and hop-aligned clips share tokens; re-encoded/noisy audio
    flips borderline bits and needs a Hamming path per frame instead
    (hamming_near_dup_pairs over the frame fingerprints)."""
    import pandas as pd

    id_dtype = dict(binary_df.dtypes)[id_col]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for path, content in zip(pdf[id_col], pdf[content_col]):
                dec = _wav_to_mono_float(content)
                if dec is None:
                    continue
                arr, rate = dec
                feats = logmel_frames(arr, rate, n_fft=n_fft, hop=hop, n_mels=n_mels)
                if max_frames is not None:
                    feats = feats[: max_frames + 1]
                if len(feats) < 2:
                    continue
                fps = hk_fingerprint_frames(feats)
                rows.append((path, " ".join(format(v, "x") for v in fps)))
            yield pd.DataFrame(rows, columns=["path", "text"])

    return binary_df.select(id_col, content_col).mapInPandas(
        batches, schema=f"path {id_dtype}, text string"
    )


def audio_near_dup_pairs(
    binary_df: DataFrame,
    id_col: str = "path",
    content_col: str = "content",
    min_jaccard: float = 0.5,
    max_bucket_size: int | None = _DEFAULT_CAP,
    **fp_kwargs,
) -> DataFrame:
    """Audio near-duplicate pairs (path_a < path_b, fingerprint-token
    jaccard >= ``min_jaccard``) — pure composition over the existing
    dedup operators, mirroring video_near_dup_pairs. ``max_bucket_size``
    follows the dedup-module convention: capped by default, ``None`` =
    explicit exact opt-out."""
    from magicxml_spark.operators.dedup import jaccard_pairs, lsh_candidate_pairs
    from pyspark.sql import functions as F

    docs = audio_fingerprint_docs(binary_df, id_col, content_col, **fp_kwargs)
    cands = lsh_candidate_pairs(
        docs, "path", "text", shingle_k=1,
        max_bucket_size=max_bucket_size,
    )
    return jaccard_pairs(
        docs, cands.select("id_a", "id_b"), "path", "text", shingle_k=1
    ).filter(F.col("jaccard") >= min_jaccard)
