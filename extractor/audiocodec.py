"""Real audio codec, stdlib only: RIFF/WAVE PCM decode (the fixture
encoder lives in ``tests/codec_encoders.py``).

The audio counterpart of ``extractor/imagecodec.py``: WAV is a plain
RIFF container over PCM samples — fully stdlib-decodable (``wave`` +
``struct``), so the multimodal *audio* decode step is real for the
lossless container and stubbed only for compressed codecs (MP3/AAC/Opus
need entropy decoders absent in this environment → contained error
rows, same O4 semantics as images).

Scope (honest): PCM 8-bit unsigned / 16-bit signed little-endian,
any channel count and sample rate; compressed WAV (non-PCM format tags)
and other containers raise.  Decoded samples are normalized to float32
in [-1, 1] for the feature kernel (numpy-vectorized).
"""
from __future__ import annotations

import io
import struct
import wave


def wav_decode(payload: bytes):
    """Decode a PCM WAV to ``(n_channels, sample_rate, n_frames,
    float32 numpy array in [-1, 1], interleaved)``.  Compressed WAVs
    raise ``NotImplementedError``; structural damage ``ValueError``."""
    import numpy as np

    payload = bytes(payload)
    if not (payload.startswith(b"RIFF") and payload[8:12] == b"WAVE"):
        raise ValueError("not a WAV payload")
    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            nch = w.getnchannels()
            rate = w.getframerate()
            nframes = w.getnframes()
            width = w.getsampwidth()
            comp = w.getcomptype()
            pcm = w.readframes(nframes)
    except wave.Error as exc:
        if "unknown format" in str(exc).lower():
            raise NotImplementedError(
                "compressed WAV (%s) needs a codec library absent in this "
                "environment" % exc
            ) from exc
        raise ValueError("corrupt WAV: %s" % exc) from exc
    except (struct.error, EOFError, RuntimeError) as exc:
        # stdlib wave leaks these on truncated/garbage RIFF chunk tables
        raise ValueError("corrupt WAV: %s" % exc) from exc
    if comp != "NONE":
        raise NotImplementedError("compressed WAV (%s)" % comp)
    if width == 2:
        arr = np.frombuffer(pcm, dtype="<i2").astype(np.float32) / 32768.0
    elif width == 1:
        arr = (
            np.frombuffer(pcm, dtype=np.uint8).astype(np.float32) - 128.0
        ) / 128.0
    else:
        raise NotImplementedError("PCM width %d bytes" % width)
    return nch, rate, nframes, arr


def sniff_audio(payload: bytes) -> str | None:
    """Byte-sniff the audio container: 'wav' | 'mp3' | 'ogg' | 'flac' |
    None."""
    if payload is None:
        return None
    head = bytes(payload[:12])
    if head[:4] == b"RIFF" and head[8:12] == b"WAVE":
        return "wav"
    if head[:3] == b"ID3" or head[:2] in (b"\xff\xfb", b"\xff\xf3", b"\xff\xf2"):
        return "mp3"
    if head[:4] == b"OggS":
        return "ogg"
    if head[:4] == b"fLaC":
        return "flac"
    return None
