"""Log-mel audio features: frequency localization (the implementation-
independent property — a pure tone's energy must land in the mel bin
containing its frequency), filterbank geometry, silence floor, and the
Spark near-duplicate pass end-to-end over real WAV bytes."""

from __future__ import annotations

import numpy as np

from magicxml_spark.operators.audio_features import logmel_frames, mel_filterbank
from magicxml_spark.sources.riff_media import encode_wav

RATE = 16_000


def _sine_pcm(freq, seconds=0.5, rate=RATE, amp=0.6):
    t = np.arange(int(seconds * rate)) / rate
    return amp * np.sin(2 * np.pi * freq * t)


def _wav_bytes(x, rate=RATE):
    pcm = (np.clip(x, -1, 1) * 32767).astype("<i2").tobytes()
    return encode_wav(rate, 1, 16, pcm)


def _tone_bin(freq, n_mels=40, n_fft=512):
    """The mel bin whose filter peaks nearest to freq."""
    fb = mel_filterbank(n_mels, n_fft, RATE)
    bin_freqs = np.arange(n_fft // 2 + 1) * (RATE / n_fft)
    return int(np.argmax([fb[m] @ (np.abs(bin_freqs - freq) < RATE / n_fft) for m in range(n_mels)]))


def test_filterbank_geometry():
    fb = mel_filterbank(40, 512, RATE)
    assert fb.shape == (40, 257)
    assert (fb >= 0).all() and fb.max() <= 1.0 + 1e-9
    # peaks strictly increase in frequency
    peaks = fb.argmax(axis=1)
    assert all(a <= b for a, b in zip(peaks, peaks[1:]))
    # every filter has support
    assert (fb.sum(axis=1) > 0).all()


def test_pure_tone_localizes_and_silence_floors():
    feats = logmel_frames(_sine_pcm(1000.0), RATE)
    assert feats.shape[1] == 40
    # every interior frame puts its argmax at the 1 kHz mel bin
    want = _tone_bin(1000.0)
    got = np.bincount(feats[1:-1].argmax(axis=1)).argmax()
    assert abs(int(got) - want) <= 1
    # a different tone moves the peak
    feats2 = logmel_frames(_sine_pcm(3000.0), RATE)
    got2 = np.bincount(feats2[1:-1].argmax(axis=1)).argmax()
    assert got2 > got
    # silence hits the log floor everywhere
    silent = logmel_frames(np.zeros(RATE // 2), RATE)
    assert np.allclose(silent, np.log(1e-10))


def test_two_tones_two_peaks():
    x = _sine_pcm(500.0) + _sine_pcm(4000.0, amp=0.4)
    feats = logmel_frames(x, RATE)
    mean = feats[1:-1].mean(axis=0)
    lo, hi = _tone_bin(500.0), _tone_bin(4000.0)
    # both tone bins must beat the valley between them by a wide margin
    valley = mean[(lo + hi) // 2]
    assert mean[lo] > valley + 3.0 and mean[hi] > valley + 3.0


def test_audio_near_dup_composition(spark, tmp_path):
    """Audio near-dup via HK fingerprints: an exact copy and a
    hop-aligned clip pair with the source; different audio doesn't.
    Token jaccard for the clip equals the exact frame-set overlap."""
    from magicxml_spark.operators.audio_features import (
        audio_near_dup_pairs,
        hk_fingerprint_frames,
        logmel_frames,
    )
    from magicxml_spark.sources.binary_docs import read_binary

    # 2 s of structured audio: tone sweeps with distinct segments
    t = np.arange(2 * RATE) / RATE
    x = 0.5 * np.sin(2 * np.pi * (400 + 300 * np.sin(t * 3.1)) * t)
    hop, n_fft = 256, 512
    # clip = the second half, starting on an exact hop boundary
    clip_start = (len(x) // 2 // hop) * hop
    clip = x[clip_start:]
    other = 0.5 * np.sin(2 * np.pi * 2500.0 * t)

    (tmp_path / "src.wav").write_bytes(_wav_bytes(x))
    (tmp_path / "copy.wav").write_bytes(_wav_bytes(x))
    (tmp_path / "clip.wav").write_bytes(_wav_bytes(clip))
    (tmp_path / "other.wav").write_bytes(_wav_bytes(other))

    pairs = audio_near_dup_pairs(
        read_binary(spark, str(tmp_path / "*.wav")), min_jaccard=0.3
    ).collect()
    names = {
        tuple(sorted((r["id_a"].rsplit("/", 1)[-1], r["id_b"].rsplit("/", 1)[-1]))): r[
            "jaccard"
        ]
        for r in pairs
    }
    assert ("copy.wav", "src.wav") in names
    assert names[("copy.wav", "src.wav")] == 1.0  # identical bytes
    assert ("clip.wav", "src.wav") in names  # hop-aligned suffix clip
    assert all("other.wav" not in p for p in names)

    # the HK bit contract itself: dd>0 per band, frame count n-1
    feats = logmel_frames(x[: RATE // 2], RATE, n_fft=n_fft, hop=hop, n_mels=33)
    fps = hk_fingerprint_frames(feats)
    assert len(fps) == len(feats) - 1
    assert all(int(v) < (1 << 32) for v in fps)  # 32 bits from 33 bands
