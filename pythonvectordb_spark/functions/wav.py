"""Pure-stdlib WAV (RIFF/PCM) codec (struct + numpy): the real audio
decode the container's missing ffmpeg would otherwise provide for
uncompressed audio.

Scope: mono 16-bit PCM — the subset a training-data pipeline's speech
fixtures and synthetic probes actually use. Encoding writes the
canonical 44-byte-header layout; decoding walks the RIFF chunk list
(word-aligned, unknown chunks skipped) so externally-produced PCM WAVs
with extra chunks (LIST/INFO, fact) decode too. Compressed audio
(MP3/AAC/opus) needs codec libraries the runtime lacks and is
de-scoped, like video (SURVEY.md §2.12).

This extends the PNG precedent (``functions/png.py``) to the audio
half of the round-1..3 "decode is a stand-in" marker:
``operators/media.py`` builds REAL WAV payloads from a closed-form
integer sample definition and ``media_audio_stats`` decodes them
end-to-end, oracle-checked — the DuckDB twin recomputes the identical
samples from their definition, so a codec regression (header math,
chunk walk, endianness) breaks the value hash.
"""

from __future__ import annotations

import struct

import numpy as np


def wav_encode(samples: np.ndarray, sample_rate: int) -> bytes:
    """int16 sample array -> canonical mono 16-bit PCM WAV bytes
    (RIFF header + fmt + data, little-endian throughout)."""
    pcm = np.asarray(samples, dtype="<i2").tobytes()
    n = len(pcm)
    return b"".join(
        (
            b"RIFF",
            struct.pack("<I", 36 + n),
            b"WAVE",
            b"fmt ",
            # PCM fmt chunk: tag=1, channels=1, rate, byte-rate,
            # block-align=2, bits=16
            struct.pack(
                "<IHHIIHH", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16
            ),
            b"data",
            struct.pack("<I", n),
            pcm,
        )
    )


def wav_decode(payload: bytes) -> tuple[int, np.ndarray]:
    """WAV bytes -> (sample_rate, int16 sample array).

    Walks the RIFF chunk list rather than assuming the canonical
    44-byte layout: chunks are word-aligned (odd lengths pad one byte)
    and unknown chunks are skipped, matching how real-world writers
    interleave LIST/fact chunks. Raises on non-PCM format tags, non-mono
    or non-16-bit streams, and missing fmt/data chunks — a pipeline
    wants loud failures on codec assumptions, not silent garbage."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    rate = bits = channels = None
    pcm: bytes | None = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            fmt_tag, channels, rate, _brate, _balign, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if fmt_tag != 1:
                raise ValueError(f"unsupported WAV format tag {fmt_tag} (PCM only)")
        elif cid == b"data":
            pcm = body
        pos += 8 + clen + (clen & 1)
    if rate is None or pcm is None:
        raise ValueError("missing fmt/data chunk")
    if bits != 16 or channels != 1:
        raise ValueError(f"expected mono 16-bit PCM, got {channels}ch {bits}-bit")
    return int(rate), np.frombuffer(pcm, dtype="<i2")
