"""Multimodal columns: images/audio/video as opaque BINARY + typed
metadata, processed with Arrow-batched pandas transforms.

Decode tiers (round-10 — the stub is closed for stdlib-decodable
formats):

- **REAL stdlib decode**: WAV (RIFF/WAVE PCM via ``wave`` +
  ``array``/``struct``), PPM (binary P6 header + raw RGB), and BMP
  (BITMAPINFOHEADER) need no codec library — ``decode_audio`` /
  ``decode_image`` parse them for real, and ``wav_metadata`` /
  ``ppm_metadata`` compute their outputs from ACTUALLY-DECODED
  samples/pixels. The synthetic fixtures (``attach_wav_binary`` /
  ``attach_ppm_binary``) build genuine WAV/PPM payloads whose
  parameters derive from an md5 of the text, so a DuckDB oracle can
  state the expected metadata in closed form — the hash-match then
  certifies the full synthesize→decode round-trip.
- **Honest stub**: formats that genuinely need a codec library
  (JPEG/PNG/MP3...) still raise NotImplementedError unless PIL is
  importable, and ``fake_decode_meta`` remains the deterministic
  stand-in for plumbing tests.

Scale notes: binary payloads ride through Arrow record batches;
``mapInPandas`` processes a partition as an iterator of batches so one
oversized image can't OOM the worker (batch size bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``). Decode is
per-row-independent → no shuffle at all; metadata extraction keeps
the binary column out of the output projection so downstream stages
never carry the payload.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from orestes_spark.plans.parallelism import ensure_min_parallelism

MEDIA_SCHEMA = (
    "media_id LONG, modality STRING, mime STRING, content BINARY"
)

META_SCHEMA = (
    "media_id LONG, modality STRING, mime STRING, n_bytes LONG, "
    "checksum STRING, width INT, height INT, duration_ms LONG"
)


def attach_fake_binary(docs: DataFrame, id_col: str, text_col: str, modality: str = "image") -> DataFrame:
    """Deterministic fake payload (utf-8 of the text) — stands in for a
    real binary column so the pipeline is drivable without codecs."""
    return docs.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit(modality).alias("modality"),
        F.lit("application/octet-stream").alias("mime"),
        F.col(text_col).cast("binary").alias("content"),
    )


def decode_image(content: bytes) -> dict:
    """REAL image decode for the stdlib-parseable formats, codec-gated
    stub for the rest (round-10, closing the round-3 environment
    stub for everything a header struct can decode):

    - **PPM (binary P6)**: full decode — header (width, height,
      maxval) plus the raw RGB pixel plane, returned as
      ``{"format": "ppm", "width", "height", "maxval", "pixels"}``.
    - **BMP (BITMAPINFOHEADER)**: header decode — ``{"format":
      "bmp", "width", "height", "bpp"}`` from the little-endian
      struct at offsets 18/22/28.
    - anything else (JPEG/PNG/...): genuinely needs a codec library;
      raises NotImplementedError unless PIL is importable (container
      audit round 3: PIL/cv2/imageio all absent)."""
    if content[:2] == b"P6":
        # header = "P6\n<w> <h>\n<maxval>\n" then w*h*3 raw bytes.
        # Whitespace handling follows the spec: tokens separated by
        # any whitespace run; no comment support (the synthesizer
        # never emits comments, and a '#' here should fail loudly).
        head, _, _ = content.partition(b"\n")
        rest = content[len(head) + 1 :]
        dims, _, rest = rest.partition(b"\n")
        maxval_b, _, pixels = rest.partition(b"\n")
        w, h = (int(x) for x in dims.split())
        maxval = int(maxval_b)
        if maxval > 255:
            # PPM spec: maxval > 255 switches to 2 bytes per sample;
            # slicing 3wh bytes would silently return half the plane
            # misread as 1-byte samples — refuse instead (review
            # round-10; mirrors the WAV path's sampwidth gate)
            raise NotImplementedError(
                f"P6 maxval {maxval} > 255 uses 2-byte samples; only"
                " 1-byte-per-sample PPM decodes natively"
            )
        if len(pixels) < 3 * w * h:
            raise ValueError(f"P6 payload truncated: {len(pixels)} < {3 * w * h}")
        return {
            "format": "ppm",
            "width": w,
            "height": h,
            "maxval": maxval,
            "pixels": pixels[: 3 * w * h],
        }
    if content[:2] == b"BM":
        import struct as _struct

        if len(content) < 30:
            raise ValueError("BMP header truncated")
        w, h = _struct.unpack_from("<ii", content, 18)
        (bpp,) = _struct.unpack_from("<H", content, 28)
        return {"format": "bmp", "width": w, "height": abs(h), "bpp": bpp}
    try:
        from PIL import Image  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "decode for this image format requires a codec library (PIL)"
            " not present in this container; WAV/PPM/BMP decode natively,"
            " fake_decode_meta covers plumbing tests for the rest"
        ) from e
    import io

    from PIL import Image

    return {"format": "pil", "image": Image.open(io.BytesIO(content))}


def decode_audio(content: bytes) -> dict:
    """REAL stdlib WAV decode (round-10): RIFF/WAVE PCM via ``wave``,
    16-bit samples unpacked with ``array`` — no codec library needed.
    Returns {"format": "wav", "channels", "sampwidth", "framerate",
    "n_frames", "duration_ms", "peak", "rms"} where peak/rms are
    computed from the ACTUAL decoded samples (integer rms:
    isqrt(Σs²/n), exact for the fixtures' square waves). Non-RIFF
    payloads raise NotImplementedError — MP3/OGG/... genuinely need a
    codec library."""
    import io
    import math
    import wave

    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise NotImplementedError(
            "audio decode without a codec library supports WAV (RIFF) only"
        )
    with wave.open(io.BytesIO(content), "rb") as w:
        channels = w.getnchannels()
        sampwidth = w.getsampwidth()
        framerate = w.getframerate()
        n_frames = w.getnframes()
        raw = w.readframes(n_frames)
    if sampwidth != 2:
        raise NotImplementedError("only 16-bit PCM WAV is decoded natively")
    import numpy as np

    samples = np.frombuffer(raw, dtype="<i2").astype(np.int64)
    n = len(samples)
    peak = int(np.abs(samples).max()) if n else 0
    # int64 sum of squares is exact: n * 32767^2 < 2^63 for any n the
    # wave header can describe at these fixture sizes
    rms = int(math.isqrt(int(np.dot(samples, samples)) // n)) if n else 0
    return {
        "format": "wav",
        "channels": channels,
        "sampwidth": sampwidth,
        "framerate": framerate,
        "n_frames": n_frames,
        "duration_ms": n_frames * 1000 // framerate,
        "peak": peak,
        "rms": rms,
    }


_WAV_RATES = (8000, 16000, 22050, 44100)


def _wav_params(text: str) -> tuple[int, int, int, int]:
    """(amplitude, framerate, n_frames, half_period) from md5('wav:'+
    text) — each field a closed-form function of the hex digest, so a
    SQL oracle can state the expected decode output without parsing
    bytes."""
    h = hashlib.md5(f"wav:{text}".encode()).hexdigest()
    amp = 1000 + int(h[:4], 16) % 20000
    rate = _WAV_RATES[int(h[4:6], 16) % 4]
    n_frames = 100 + int(h[6:10], 16) % 2000
    half_period = 2 + int(h[10:12], 16) % 30
    return amp, rate, n_frames, half_period


def synth_wav(text: str) -> bytes:
    """A GENUINE 16-bit PCM mono WAV payload: a square wave whose
    amplitude/rate/length/period derive from md5('wav:'+text) via
    ``_wav_params``. Every sample is exactly ±amp (no zero crossing
    values), so the decoded peak and integer rms BOTH equal amp — the
    closed form the oracle states."""
    import io
    import wave

    import numpy as np

    amp, rate, n_frames, half = _wav_params(text)
    i = np.arange(n_frames, dtype=np.int64)
    frames = (amp * (1 - 2 * ((i // half) % 2))).astype("<i2").tobytes()
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(frames)
    return buf.getvalue()


def attach_wav_binary(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Real WAV payload column (synth_wav of the text) — the audio
    twin of attach_fake_binary, built in Arrow batches."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["_mid"].astype("int64"),
                    "modality": "audio",
                    "mime": "audio/x-wav",
                    "content": pdf["_txt"].map(synth_wav),
                }
            )

    src = ensure_min_parallelism(docs).select(
        F.col(id_col).cast("long").alias("_mid"), F.col(text_col).alias("_txt")
    )
    return src.mapInPandas(batches, MEDIA_SCHEMA)


_WAV_META_SCHEMA = (
    "media_id LONG, n_bytes LONG, channels INT, sampwidth INT, "
    "framerate INT, n_frames LONG, duration_ms LONG, peak LONG, rms LONG"
)


def _wav_meta_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """wav_metadata's per-batch transform over (media_id, content)
    rows — shared verbatim by the attached-frame operator and the
    fused synth+decode path (round-12)."""
    metas = pdf["content"].map(decode_audio)
    return pd.DataFrame(
        {
            "media_id": pdf["media_id"].astype("int64"),
            "n_bytes": pdf["content"].map(len).astype("int64"),
            "channels": metas.map(lambda m: m["channels"]).astype("int32"),
            "sampwidth": metas.map(lambda m: m["sampwidth"]).astype("int32"),
            "framerate": metas.map(lambda m: m["framerate"]).astype("int32"),
            "n_frames": metas.map(lambda m: m["n_frames"]).astype("int64"),
            "duration_ms": metas.map(lambda m: m["duration_ms"]).astype("int64"),
            "peak": metas.map(lambda m: m["peak"]).astype("int64"),
            "rms": metas.map(lambda m: m["rms"]).astype("int64"),
        }
    )


def wav_metadata(media: DataFrame) -> DataFrame:
    """Audio metadata from REAL decode: every output column comes out
    of ``decode_audio`` running on the actual payload bytes (header
    fields AND sample-derived peak/rms). Binary column dropped from
    the output, per the module convention."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _wav_meta_pdf(pdf)

    return media.mapInPandas(batches, _WAV_META_SCHEMA)


def _fused_synth(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    synth_fn,
    consume_pdf,
    schema: str,
) -> DataFrame:
    """ONE kernel that synthesizes a payload per doc and immediately
    consumes it (round-12, guide §4 — the Python boundary): the
    attach_* → decode-operator composition shipped every synthetic
    binary Python → JVM → Python just to hand it back to the next
    kernel; fused, the payload never crosses the boundary and the
    plan holds one MapInPandas instead of two. The decode still runs
    on the REAL bytes the synth produced — only the transport is
    gone. ``consume_pdf`` is the decode operator's own per-batch
    transform, shared verbatim, so fused == composed row for row."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield consume_pdf(
                pd.DataFrame(
                    {
                        "media_id": pdf["_mid"].astype("int64"),
                        "content": pdf["_txt"].map(synth_fn),
                    }
                )
            )

    src = ensure_min_parallelism(docs).select(
        F.col(id_col).cast("long").alias("_mid"), F.col(text_col).alias("_txt")
    )
    return src.mapInPandas(batches, schema)


def wav_metadata_synth(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """wav_metadata(attach_wav_binary(docs)) fused into one kernel —
    see ``_fused_synth``."""
    return _fused_synth(
        docs, id_col, text_col, synth_wav, _wav_meta_pdf, _WAV_META_SCHEMA
    )


def _wavq_params(text: str) -> tuple[int, int, int, int, int, int]:
    """(amp, rate, active, lead, trail, half_period) from
    md5('wavq:'+text) — the audio-quality fixture's closed-form
    parameter set. amp spans 1000..31999 so a deterministic slice of
    docs clips at the default 30000 threshold; lead/trail are
    0..199-frame silence pads."""
    h = hashlib.md5(f"wavq:{text}".encode()).hexdigest()
    amp = 1000 + int(h[:4], 16) % 31000
    rate = _WAV_RATES[int(h[4:6], 16) % 4]
    active = 200 + int(h[6:10], 16) % 2000
    lead = int(h[10:12], 16) % 200
    trail = int(h[12:14], 16) % 200
    half = 2 + int(h[14:16], 16) % 30
    return amp, rate, active, lead, trail, half


def synth_wav_q(text: str) -> bytes:
    """A GENUINE 16-bit PCM mono WAV with md5-derived leading silence,
    a pure +-amp square-wave active region, and trailing silence (see
    _wavq_params) — the fixture whose clipping / loudness / silence
    metrics an oracle can state in closed form."""
    import io
    import wave

    import numpy as np

    amp, rate, active, lead, trail, half = _wavq_params(text)
    i = np.arange(active, dtype=np.int64)
    frames = (
        b"\x00\x00" * lead
        + (amp * (1 - 2 * ((i // half) % 2))).astype("<i2").tobytes()
        + b"\x00\x00" * trail
    )
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(frames)
    return buf.getvalue()


def attach_wav_quality_binary(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Real silence-padded WAV payload column (synth_wav_q of the
    text) — the audio-quality fixture attach."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["_mid"].astype("int64"),
                    "modality": "audio",
                    "mime": "audio/x-wav",
                    "content": pdf["_txt"].map(synth_wav_q),
                }
            )

    src = ensure_min_parallelism(docs).select(
        F.col(id_col).cast("long").alias("_mid"), F.col(text_col).alias("_txt")
    )
    return src.mapInPandas(batches, MEDIA_SCHEMA)


def audio_quality_metrics(
    content: bytes, clip_thresh: int = 30000, silence_thresh: int = 100
) -> dict:
    """Per-payload audio-quality gates from REAL decoded PCM — the
    audio analogues of the Gopher text rules: clipping fraction
    (|s| >= clip_thresh, reported as exact integer ppm), RMS loudness
    (integer isqrt, exact), and leading/trailing silence run lengths
    (|s| <= silence_thresh) in ms. All-integer math so a SQL oracle
    hashes the same values."""
    import io
    import math
    import wave

    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise NotImplementedError(
            "audio decode without a codec library supports WAV (RIFF) only"
        )
    with wave.open(io.BytesIO(content), "rb") as w:
        if w.getsampwidth() != 2 or w.getnchannels() != 1:
            raise NotImplementedError("audio_quality_metrics: 16-bit mono PCM only")
        rate = w.getframerate()
        n = w.getnframes()
        raw = w.readframes(n)
    import numpy as np

    samples = np.frombuffer(raw, dtype="<i2").astype(np.int64)
    mag = np.abs(samples)
    clipped = int((mag >= clip_thresh).sum())
    rms = int(math.isqrt(int(np.dot(samples, samples)) // n)) if n else 0
    loud = np.flatnonzero(mag > silence_thresh)
    if len(loud):
        lead = int(loud[0])
        trail = int(len(samples) - 1 - loud[-1])
    else:  # fully silent: one run, not two
        lead, trail = len(samples), 0
    return {
        "n_samples": n,
        "clipped": clipped,
        "clip_ppm": 1_000_000 * clipped // n if n else 0,
        "rms": rms,
        "lead_ms": lead * 1000 // rate,
        "trail_ms": trail * 1000 // rate,
    }


def audio_quality(
    media: DataFrame, clip_thresh: int = 30000, silence_thresh: int = 100
) -> DataFrame:
    """(media_id, n_samples, clipped, clip_ppm, rms, lead_ms,
    trail_ms) — audio-quality gates computed from ACTUAL decoded
    samples inside mapInPandas; per-row independent, no shuffle,
    binary column dropped from the output per the module convention."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _audio_quality_pdf(pdf, clip_thresh, silence_thresh)

    return media.mapInPandas(batches, _AUDIO_QUALITY_SCHEMA)


_AUDIO_QUALITY_SCHEMA = (
    "media_id LONG, n_samples LONG, clipped LONG, clip_ppm LONG, "
    "rms LONG, lead_ms LONG, trail_ms LONG"
)


def _audio_quality_pdf(
    pdf: pd.DataFrame, clip_thresh: int, silence_thresh: int
) -> pd.DataFrame:
    """audio_quality's per-batch transform — shared by the
    attached-frame operator and the fused synth+decode path."""
    metas = pdf["content"].map(
        lambda b: audio_quality_metrics(b, clip_thresh, silence_thresh)
    )
    out = {"media_id": pdf["media_id"].astype("int64")}
    for k in ("n_samples", "clipped", "clip_ppm", "rms", "lead_ms", "trail_ms"):
        out[k] = metas.map(lambda m, k=k: m[k]).astype("int64")
    return pd.DataFrame(out)


def audio_quality_synth(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    clip_thresh: int = 30000,
    silence_thresh: int = 100,
) -> DataFrame:
    """audio_quality(attach_wav_quality_binary(docs)) fused into one
    kernel — see ``_fused_synth``."""
    return _fused_synth(
        docs,
        id_col,
        text_col,
        synth_wav_q,
        lambda pdf: _audio_quality_pdf(pdf, clip_thresh, silence_thresh),
        _AUDIO_QUALITY_SCHEMA,
    )


def _ppm_params(text: str) -> tuple[int, int, bytes]:
    """(width, height, 16-byte pixel pattern) from md5 digests of the
    text. Width is a multiple of 16 so the RGB plane size 3·w·h is
    too — the pixel plane is the pattern tiled exactly, making the
    decoded pixel SUM the closed form pattern_sum · (3wh/16)."""
    h = hashlib.md5(f"ppm:{text}".encode()).hexdigest()
    width = 16 * (1 + int(h[:2], 16) % 8)
    height = 1 + int(h[2:4], 16) % 24
    pattern = hashlib.md5(f"px:{text}".encode()).digest()
    return width, height, pattern


def synth_ppm(text: str) -> bytes:
    """A GENUINE binary-PPM (P6) payload with md5-derived dimensions
    and a tiled 16-byte pixel pattern (see _ppm_params)."""
    w, h, pattern = _ppm_params(text)
    n = 3 * w * h
    return f"P6\n{w} {h}\n255\n".encode() + pattern * (n // 16)


def attach_ppm_binary(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Real PPM payload column (synth_ppm of the text) — the image
    twin of attach_fake_binary."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["_mid"].astype("int64"),
                    "modality": "image",
                    "mime": "image/x-portable-pixmap",
                    "content": pdf["_txt"].map(synth_ppm),
                }
            )

    src = ensure_min_parallelism(docs).select(
        F.col(id_col).cast("long").alias("_mid"), F.col(text_col).alias("_txt")
    )
    return src.mapInPandas(batches, MEDIA_SCHEMA)


_PPM_META_SCHEMA = (
    "media_id LONG, n_bytes LONG, width INT, height INT, "
    "maxval INT, pixel_sum LONG"
)


def _ppm_meta_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """ppm_metadata's per-batch transform — shared by the
    attached-frame operator and the fused synth+decode path."""
    metas = pdf["content"].map(decode_image)
    return pd.DataFrame(
        {
            "media_id": pdf["media_id"].astype("int64"),
            "n_bytes": pdf["content"].map(len).astype("int64"),
            "width": metas.map(lambda m: m["width"]).astype("int32"),
            "height": metas.map(lambda m: m["height"]).astype("int32"),
            "maxval": metas.map(lambda m: m["maxval"]).astype("int32"),
            "pixel_sum": metas.map(lambda m: sum(m["pixels"])).astype("int64"),
        }
    )


def ppm_metadata(media: DataFrame) -> DataFrame:
    """Image metadata from REAL decode: dimensions from the parsed P6
    header, pixel_sum summed over the ACTUAL decoded RGB plane."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _ppm_meta_pdf(pdf)

    return media.mapInPandas(batches, _PPM_META_SCHEMA)


def ppm_metadata_synth(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """ppm_metadata(attach_ppm_binary(docs)) fused into one kernel —
    see ``_fused_synth``."""
    return _fused_synth(
        docs, id_col, text_col, synth_ppm, _ppm_meta_pdf, _PPM_META_SCHEMA
    )


def resize_ppm(content: bytes, width: int, height: int) -> bytes:
    """REAL nearest-neighbor resize for P6 payloads: decode, sample
    source pixels at floor(i·src/dst) per axis, re-encode as P6. The
    real kernel the fake_resize stub stood in for. Vectorized
    (round-11): numpy fancy-indexing over the reshaped (h, w, 3)
    plane computes the IDENTICAL bytes the per-pixel loop did —
    integer index math is the same floor division — ~50x faster,
    which is what makes frame-level video resize viable inside the
    Arrow batches."""
    import numpy as np

    m = decode_image(content)
    if m.get("format") != "ppm":
        raise ValueError("resize_ppm requires a P6 payload")
    sw, sh, px = m["width"], m["height"], m["pixels"]
    plane = np.frombuffer(px, dtype=np.uint8).reshape(sh, sw, 3)
    sy = (np.arange(height, dtype=np.int64) * sh) // height
    sx = (np.arange(width, dtype=np.int64) * sw) // width
    out = plane[sy][:, sx]
    return f"P6\n{width} {height}\n{m['maxval']}\n".encode() + out.tobytes()


def dhash64(content: bytes) -> int:
    """64-bit difference hash (dHash) over REAL decoded pixels — the
    perceptual image fingerprint every multimodal training pipeline
    dedups on: nearest-neighbor-sample the image to a 9x8 grayscale
    grid (gray = (r+g+b)//3, integer), set bit y*8+x when
    gray(x+1,y) > gray(x,y). Robust by construction to uniform
    resizes (the sample grid composes with nearest-neighbor floors:
    floor(floor(n*a)/n) = floor(a), so a k-times upscale hashes
    IDENTICALLY) and to brightness shifts that preserve ordering.
    Returned as a signed 64-bit int (bit 63 -> sign), the same packing
    as dedup.simhash_column — so the signature drops straight into
    simhash_near_pairs' banded-Hamming candidate machinery."""
    m = decode_image(content)
    if m.get("format") != "ppm":
        raise NotImplementedError("dhash64 requires a natively-decoded P6 payload")
    w, h, px = m["width"], m["height"], m["pixels"]

    def gray(x: int, y: int) -> int:
        o = 3 * (y * w + x)
        return (px[o] + px[o + 1] + px[o + 2]) // 3

    sig = 0
    for y in range(8):
        sy = y * h // 8
        row = [gray(x * w // 9, sy) for x in range(9)]
        for x in range(8):
            if row[x + 1] > row[x]:
                sig |= 1 << (y * 8 + x)
    if sig >= 1 << 63:
        sig -= 1 << 64
    return sig


def dhash_signatures(media: DataFrame) -> DataFrame:
    """(_id, simhash) — dHash signatures for a binary media frame via
    Arrow-batched mapInPandas (decode is per-row independent: no
    shuffle). Column names match dedup.simhash_signatures' output so
    dedup.simhash_near_pairs consumes it unchanged — perceptual
    near-dup pairs are then banded-Hamming candidates + exact
    bit_count verify, never an all-pairs scan."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "_id": pdf["media_id"].astype("int64"),
                    "simhash": pdf["content"].map(dhash64).astype("int64"),
                }
            )

    return media.mapInPandas(batches, "_id LONG, simhash LONG")


def _ppm_img_params(text: str) -> tuple[int, int, bytes]:
    """(width, height, 16-byte pixel pattern) for the dHash fixtures:
    width is ODD (9..127) so the tiled pattern's byte offset
    3*(y*w+x) mod 16 varies BY ROW (3w odd => invertible mod 16) —
    the _ppm_params multiple-of-16 widths would make every row
    sample identical grays and collapse the dHash to 8 repeated
    bytes (256 effective values => spurious cross-doc collisions)."""
    h = hashlib.md5(f"ppi:{text}".encode()).hexdigest()
    width = 9 + 2 * (int(h[:2], 16) % 60)
    height = 8 + int(h[2:4], 16) % 24
    pattern = hashlib.md5(f"pxi:{text}".encode()).digest()
    return width, height, pattern


def synth_ppm_img(text: str) -> bytes:
    """A GENUINE P6 payload with md5-derived odd width and a 16-byte
    pixel pattern tiled over the plane (see _ppm_img_params) — every
    pixel value is a closed-form function of (x, y), so a SQL oracle
    can state the exact dHash."""
    w, h, pattern = _ppm_img_params(text)
    n = 3 * w * h
    plane = pattern * (n // 16 + 1)
    return f"P6\n{w} {h}\n255\n".encode() + plane[:n]


def attach_ppm_pair(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """TWO real image rows per doc: media_id 2*id = the base P6
    payload (synth_ppm_img), media_id 2*id+1 = its REAL 2x
    nearest-neighbor upscale (resize_ppm) — a planted near-identical
    image pair per document, the fixture a perceptual-dedup operator
    must surface. The variant goes through the actual resize kernel,
    so a downstream dHash match certifies the whole
    synthesize->resize->decode->hash chain, not an assumed identity."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            base = pdf["_txt"].map(synth_ppm_img)

            def upscaled(b: bytes) -> bytes:
                m = decode_image(b)
                return resize_ppm(b, 2 * m["width"], 2 * m["height"])

            out = pd.DataFrame(
                {
                    "media_id": pd.concat(
                        [2 * pdf["_mid"], 2 * pdf["_mid"] + 1], ignore_index=True
                    ).astype("int64"),
                    "modality": "image",
                    "mime": "image/x-portable-pixmap",
                    "content": pd.concat(
                        [base, base.map(upscaled)], ignore_index=True
                    ),
                }
            )
            yield out

    src = ensure_min_parallelism(docs).select(
        F.col(id_col).cast("long").alias("_mid"), F.col(text_col).alias("_txt")
    )
    return src.mapInPandas(batches, MEDIA_SCHEMA)


def _video_params(text: str) -> tuple[int, int, int]:
    """(n_frames, width, height) for the synthetic video fixtures:
    2-4 frames, constant odd width (the dHash row-variation argument
    of _ppm_img_params), md5-derived."""
    h = hashlib.md5(f"pvd:{text}".encode()).hexdigest()
    n_frames = 2 + int(h[:2], 16) % 3
    width = 9 + 2 * (int(h[2:4], 16) % 60)
    height = 8 + int(h[4:6], 16) % 24
    return n_frames, width, height


def synth_video(text: str) -> bytes:
    """A GENUINE multi-frame container: ``PV<n>\\n`` then n complete
    P6 payloads back to back (each self-sizing via its own header).
    Frame k's pixel plane tiles the 16-byte pattern
    md5('pvf:<text>:<k>'), so every frame's dHash is stateable in
    closed form by a SQL oracle."""
    n, w, h = _video_params(text)
    parts = [f"PV{n}\n".encode()]
    plane_len = 3 * w * h
    for k in range(n):
        pattern = hashlib.md5(f"pvf:{text}:{k}".encode()).digest()
        plane = (pattern * (plane_len // 16 + 1))[:plane_len]
        parts.append(f"P6\n{w} {h}\n255\n".encode() + plane)
    return b"".join(parts)


def decode_video(content: bytes) -> list[bytes]:
    """REAL container demux: parse the ``PV<n>`` header, then walk the
    concatenated P6 frames by decoding each frame's own header for its
    plane size — returns the list of standalone P6 payloads. Raises on
    anything that is not this container (real codecs need a library,
    same stance as decode_image/decode_audio)."""
    if content[:2] != b"PV":
        raise NotImplementedError(
            "video decode without a codec library supports the PV/P6"
            " concatenation container only"
        )
    head, _, rest = content.partition(b"\n")
    n = int(head[2:])
    frames: list[bytes] = []
    off = 0
    for _ in range(n):
        if rest[off : off + 2] != b"P6":
            raise ValueError(f"PV container corrupt at offset {off}")
        p1 = rest.index(b"\n", off) + 1
        p2 = rest.index(b"\n", p1) + 1
        p3 = rest.index(b"\n", p2) + 1
        w, h = (int(x) for x in rest[p1:p2].split())
        end = p3 + 3 * w * h
        frames.append(bytes(rest[off:end]))
        off = end
    if off != len(rest):
        raise ValueError("PV container has trailing bytes")
    return frames


def attach_video_pair(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """TWO real video rows per doc: media_id 2*id = the base PV
    container (synth_video), 2*id+1 = the variant with EVERY frame
    2x-upscaled through the real resize kernel — the planted
    near-identical video pair a perceptual video dedup must surface."""

    def upscaled(b: bytes) -> bytes:
        frames = decode_video(b)
        out = [f"PV{len(frames)}\n".encode()]
        for fr in frames:
            m = decode_image(fr)
            out.append(resize_ppm(fr, 2 * m["width"], 2 * m["height"]))
        return b"".join(out)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            base = pdf["_txt"].map(synth_video)
            yield pd.DataFrame(
                {
                    "media_id": pd.concat(
                        [2 * pdf["_mid"], 2 * pdf["_mid"] + 1], ignore_index=True
                    ).astype("int64"),
                    "modality": "video",
                    "mime": "video/x-pv",
                    "content": pd.concat(
                        [base, base.map(upscaled)], ignore_index=True
                    ),
                }
            )

    src = ensure_min_parallelism(docs).select(
        F.col(id_col).cast("long").alias("_mid"), F.col(text_col).alias("_txt")
    )
    return src.mapInPandas(batches, MEDIA_SCHEMA)


def video_frame_dhash(media: DataFrame) -> DataFrame:
    """(media_id, frame_idx, simhash) — demux each PV container and
    dHash every frame's ACTUAL decoded pixels inside mapInPandas (one
    exploded row per frame; per-row independent, no shuffle). The
    video twin of dhash_signatures."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            mids: list[int] = []
            idxs: list[int] = []
            sigs: list[int] = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                for k, fr in enumerate(decode_video(bytes(content))):
                    mids.append(int(mid))
                    idxs.append(k)
                    sigs.append(dhash64(fr))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(mids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "simhash": pd.Series(sigs, dtype="int64"),
                }
            )

    return media.mapInPandas(
        batches, "media_id LONG, frame_idx INT, simhash LONG"
    )


def aligned_near_pairs(
    rows: DataFrame,
    idx_col: str,
    sig_col: str,
    min_matched: int = 2,
    max_bucket: int = 10_000,
) -> DataFrame:
    """(id_a, id_b, n_matched) — media pairs whose ALIGNED units
    (video frames, audio envelope windows, ...) share >=
    ``min_matched`` identical signatures. The candidate stage is one
    equi-SELF-JOIN on (idx, signature) — signature equality IS the
    band, so there is never an all-pairs stage; ``max_bucket`` drops
    degenerate buckets (e.g. a black frame / silent window shared by
    millions of files) before the join, the simhash_near_pairs
    stop-key discipline (default never triggers at test scale, so the
    oracle twins stay exact)."""
    # One checkpoint, every reader (round-12 opt, guide §1.2/§2.4):
    # the bucket-size aggregate, its semi-join and BOTH self-join
    # sides each re-ran the upstream — for the media families that
    # upstream is the decode+dHash Python kernel, so the plan held
    # FOUR MapInPandas nodes doing identical work. The checkpointed
    # frame is three fixed-width columns per unit — batch-scale,
    # never payload-scale. The bucket cap is then a COUNT WINDOW over
    # the (idx, sig) exchange the self-join needs anyway (the
    # simhash_near_pairs discipline) instead of a groupBy +
    # broadcast semi-join — one less aggregate pass and no broadcast;
    # _bn > 1 also drops singleton buckets before the join.
    # Round-12: LAZY — the final job materializes the checkpoint once
    # (block-level locking dedupes the two self-join sides) instead of
    # paying a dedicated eager job; the decode kernel still runs
    # exactly once.
    f = rows.select("media_id", idx_col, sig_col).localCheckpoint(eager=False)
    if max_bucket is not None:
        w = Window.partitionBy(idx_col, sig_col)
        f = (
            f.withColumn("_bn", F.count(F.lit(1)).over(w))
            .where((F.col("_bn") > 1) & (F.col("_bn") <= max_bucket))
            .drop("_bn")
        )
    a, b = f.alias("a"), f.alias("b")
    return (
        a.join(b, [idx_col, sig_col])
        .where(F.col("a.media_id") < F.col("b.media_id"))
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_matched"))
        .where(F.col("n_matched") >= min_matched)
    )


def video_near_pairs(
    frames: DataFrame, min_frames: int = 2, max_bucket: int = 10_000
) -> DataFrame:
    """Video pairs sharing >= ``min_frames`` aligned frame dHashes —
    the frame-level perceptual dedup every multimodal pipeline runs
    on video (a re-encoded/upscaled copy matches frame for frame;
    unrelated videos share none). See aligned_near_pairs."""
    return aligned_near_pairs(frames, "frame_idx", "simhash", min_frames, max_bucket)


def _wav_seg_params(text: str) -> tuple[int, list[int]]:
    """(n_segments, [segment amplitudes]) for the audio near-dup
    fixtures: 3-5 segments of SEG_FRAMES frames each, per-segment
    amplitude md5-derived — the loudness ENVELOPE is the perceptual
    identity; waveform micro-structure (square-wave period) is not."""
    s = 3 + int(hashlib.md5(f"wsn:{text}".encode()).hexdigest()[:2], 16) % 3
    amps = [
        1000 + int(hashlib.md5(f"wa:{text}:{k}".encode()).hexdigest()[:4], 16) % 30000
        for k in range(s)
    ]
    return s, amps


SEG_FRAMES = 400  # envelope window = segment length, exact integer RMS


def synth_wav_segments(text: str, half_salt: str = "h1") -> bytes:
    """A GENUINE 16-bit PCM mono WAV of n_segments x SEG_FRAMES
    frames: segment k is a pure +-amp_k square wave whose HALF-PERIOD
    derives from (half_salt, text) — two renders with different
    half_salt have different sample bytes but the IDENTICAL per-window
    RMS envelope (every sample is +-amp_k), which is exactly the
    invariance an envelope fingerprint must capture."""
    import io
    import wave

    import numpy as np

    _, amps = _wav_seg_params(text)
    half = 2 + int(hashlib.md5(f"wh{half_salt}:{text}".encode()).hexdigest()[:2], 16) % 14
    i = np.arange(SEG_FRAMES, dtype=np.int64)
    sign = 1 - 2 * ((i // half) % 2)  # +1/-1 square wave, same floor math
    frames = np.concatenate(
        [(amp * sign).astype("<i2") for amp in amps]
    ).tobytes()
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(frames)
    return buf.getvalue()


def attach_wav_pair(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """TWO real audio rows per doc: media_id 2*id and 2*id+1 are the
    SAME loudness envelope rendered with different square-wave
    periods (different bytes, same perceptual profile) — the planted
    near-identical audio pair an envelope dedup must surface."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pd.concat(
                        [2 * pdf["_mid"], 2 * pdf["_mid"] + 1], ignore_index=True
                    ).astype("int64"),
                    "modality": "audio",
                    "mime": "audio/x-wav",
                    "content": pd.concat(
                        [
                            pdf["_txt"].map(lambda t: synth_wav_segments(t, "h1")),
                            pdf["_txt"].map(lambda t: synth_wav_segments(t, "h2")),
                        ],
                        ignore_index=True,
                    ),
                }
            )

    src = ensure_min_parallelism(docs).select(
        F.col(id_col).cast("long").alias("_mid"), F.col(text_col).alias("_txt")
    )
    return src.mapInPandas(batches, MEDIA_SCHEMA)


def audio_envelope(media: DataFrame, window_frames: int = SEG_FRAMES) -> DataFrame:
    """(media_id, win_idx, rms) — the loudness-envelope fingerprint
    from REAL decoded PCM: integer RMS (isqrt(sum(s^2)//len)) per
    ``window_frames`` window, one exploded row per window, computed
    inside mapInPandas (per-row independent, no shuffle). The audio
    twin of video_frame_dhash; feed aligned_near_pairs for near-dup
    detection."""
    import io
    import math
    import wave

    def env_of(content: bytes) -> list[int]:
        if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
            raise NotImplementedError(
                "audio decode without a codec library supports WAV (RIFF) only"
            )
        with wave.open(io.BytesIO(content), "rb") as w:
            if w.getsampwidth() != 2 or w.getnchannels() != 1:
                raise NotImplementedError("audio_envelope: 16-bit mono PCM only")
            raw = w.readframes(w.getnframes())
        import numpy as np

        samples = np.frombuffer(raw, dtype="<i2").astype(np.int64)
        out = []
        for off in range(0, len(samples), window_frames):
            win = samples[off : off + window_frames]
            out.append(int(math.isqrt(int(np.dot(win, win)) // len(win))))
        return out

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            mids: list[int] = []
            idxs: list[int] = []
            rms: list[int] = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                for k, r in enumerate(env_of(bytes(content))):
                    mids.append(int(mid))
                    idxs.append(k)
                    rms.append(r)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(mids, dtype="int64"),
                    "win_idx": pd.Series(idxs, dtype="int32"),
                    "rms": pd.Series(rms, dtype="int64"),
                }
            )

    return media.mapInPandas(batches, "media_id LONG, win_idx INT, rms LONG")


def audio_near_pairs(
    env: DataFrame, min_windows: int = 2, max_bucket: int = 10_000
) -> DataFrame:
    """Audio pairs sharing >= ``min_windows`` aligned envelope-window
    RMS values — near-dup detection robust to waveform micro-structure
    (re-rendered copies match window for window; unrelated audio
    shares none). See aligned_near_pairs."""
    return aligned_near_pairs(env, "win_idx", "rms", min_windows, max_bucket)


def _unit_key_hash(idx, sig) -> F.Column:
    """The aligned-unit index's bucket key: the 64-bit hash of the
    (idx, sig) composite (names or columns). xxhash64 hashes INT and
    LONG differently, so the probe hashes its keys cast to the
    index's own column types — a build and a probe that agree on the
    values then agree on the bucket."""
    return F.xxhash64(idx, sig)


def unit_bucketize(
    units: DataFrame, idx_col: str, sig_col: str, buckets: int
) -> DataFrame:
    """Bucket a persisted aligned-unit index (video frame dHashes,
    audio envelope windows) on its (idx, sig) key — dedup.bucketize's
    ``hb``/``nb`` layout. Write the index ``partitionBy("hb")`` and
    ``incremental_aligned_pairs`` partition-prunes each batch's probe
    to the buckets the batch's unit keys land in (round-13, VERDICT
    r12 #1)."""
    from orestes_spark.operators.dedup import bucketize

    return bucketize(units, _unit_key_hash(idx_col, sig_col), buckets)


def incremental_aligned_pairs(
    new_units: DataFrame,
    index: DataFrame,
    idx_col: str,
    sig_col: str,
    min_matched: int = 2,
    max_bucket: int = 10_000,
    buckets: int | None = None,
) -> DataFrame:
    """(id_new, id_corpus, n_matched) — per-ingest near-dup detection
    for aligned-unit signatures (video frame dHashes, audio envelope
    windows) against a PERSISTED unit index: the incremental shape of
    ``aligned_near_pairs``, completing the modality x streaming matrix
    (round-12, VERDICT r11 #1 — every other dedup family already had
    a persisted-index probe). ``index`` is the accepted corpus's
    (media_id, idx, sig) unit rows, typically read back from parquet;
    candidates come from ONE equi-join on (idx, sig) — signature
    equality IS the band, exactly the batch operator's key — so
    per-batch cost is batch units x per-key index fan-out, never
    corpus-sized, and a re-encoded copy of an indexed video/audio
    file surfaces without rescanning a byte of media.

    ``max_bucket`` drops the BATCH's degenerate unit buckets (a black
    frame / silent window shared by everything) before the join and
    LOGS the cut (the incremental_simhash_pairs discipline — a
    corpus-side hot bucket is the index builder's concern). The
    id_new != id_corpus guard drops exact self-pairs from re-delivered
    ids; within-batch dups are ``aligned_near_pairs(new_units)``'s
    job, the module's standard incremental split.

    ``buckets`` is the caller's expected modulus of a bucketed index
    (``unit_bucketize``): an index built with a different one raises
    before the probe reads it."""
    # Round-12 opt: the cap is a count window + a CollectMetrics
    # observation baked into the ONE checkpoint materialization (the
    # incremental_simhash_pairs shape) — the decode kernel runs once
    # and the hot-bucket log costs no extra job. No `_bn > 1` prune:
    # a singleton batch bucket still matches the index.
    f = new_units.select("media_id", idx_col, sig_col)
    obs = None
    if max_bucket is not None:
        from uuid import uuid4

        from pyspark.sql import Observation

        obs = Observation(f"inc_aligned_cap_{uuid4().hex}")
        f = (
            f.withColumn(
                "_bn", F.count(F.lit(1)).over(Window.partitionBy(idx_col, sig_col))
            )
            .observe(
                obs,
                F.max("_bn").alias("max_bucket_seen"),
                F.sum((F.col("_bn") > max_bucket).cast("long")).alias("rows_dropped"),
            )
            .where(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
    # Round-13: partition-prune a unit_bucketize'd index (written
    # partitionBy("hb")) to the batch's touched hash-range buckets,
    # collected over the checkpointed units; the checkpoint stays
    # EAGER — the cap observation only reports through the
    # checkpoint's own SQL action (a lazy checkpoint truncates the
    # plan away from the CollectMetrics node).
    from orestes_spark.operators.dedup import check_layout, touched_buckets

    f = f.localCheckpoint()
    prune_nb = check_layout(index, "aligned unit index", buckets)["nb"]
    if prune_nb:
        # try_cast: a LONG key outside INT range matches no INT row,
        # so its null-keyed bucket cannot drop a match
        key = _unit_key_hash(
            *(F.col(c).try_cast(index.schema[c].dataType) for c in (idx_col, sig_col))
        )
        index = index.where(F.col("hb").isin(touched_buckets(f, key, prune_nb)))
    if obs is not None and (obs.get.get("max_bucket_seen") or 0) > max_bucket:
        import logging

        logging.getLogger(__name__).warning(
            "incremental_aligned_pairs: dropped batch unit buckets over "
            "max_bucket=%d (largest: %d, %d unit rows cut) — matches "
            "confined to dropped buckets are missed this batch",
            max_bucket,
            obs.get["max_bucket_seen"],
            obs.get["rows_dropped"],
        )
    n, i = f.alias("n"), index.select("media_id", idx_col, sig_col).alias("i")
    return (
        n.join(i, [idx_col, sig_col])
        .where(F.col("n.media_id") != F.col("i.media_id"))
        .select(
            F.col("n.media_id").alias("id_new"),
            F.col("i.media_id").alias("id_corpus"),
        )
        .groupBy("id_new", "id_corpus")
        .agg(F.count(F.lit(1)).alias("n_matched"))
        .where(F.col("n_matched") >= min_matched)
    )


def cross_modal_pair_matches(
    sig: DataFrame,
    captions: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    threshold: float = 0.5,
    shingle_size: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    bits: int = 64,
    band_bits: int = 16,
) -> DataFrame:
    """(id_a, id_b, hamming, jaccard) — (image, caption) RECORD pairs
    that are duplicates on BOTH modalities (round-12, VERDICT r11 #3
    — the LAION-style pair-level dedup): image dHash Hamming <=
    ``max_hamming`` AND caption token-shingle Jaccard >= ``threshold``.
    The joint condition is the point: a re-encoded image with a
    paraphrased caption is the same training pair and must be caught;
    the same image under a genuinely different caption is a DISTINCT
    training pair and must be kept (and vice versa) — single-modality
    dedup gets both cases wrong.

    Candidates come from image dHash bands ∨ caption MinHash bands
    (both machineries reused verbatim: dedup.simhash_near_pairs,
    dedup.minhash_band_candidates); every candidate is then verified
    EXACTLY on both modalities (inline bit_count, exact Jaccard), so
    no quadratic stage exists and a candidate from either side that
    fails the other is dropped. At the defaults the image banding is
    already pigeonhole-complete for Hamming <= 3, which makes the
    RESULT independent of the candidate union (any pair passing both
    verifies is an image near-pair and so is always generated) — the
    property the closed-form oracle twin states; the text side buys
    recall headroom for configurations where the image bound is
    looser than the banding guarantee.

    ``sig`` is (_id, simhash) per record (dhash_signatures /
    synth_ppm_pair_dhash); ``captions`` is (id_col, text_col) per
    record. Scale shape: two banded candidate stages (each bounded by
    the module's stop-keys), one exact-Jaccard verify join, one
    broadcast-sized hamming attach — no all-pairs anywhere."""
    from orestes_spark.operators import dedup as _d

    # Round-12: LAZY checkpoints — each feeds two subtrees of the ONE
    # final job (union + verdict join; banding + verify), which
    # materializes them once via block-level locking instead of two
    # dedicated eager jobs. simhash_near_pairs' own checkpoint stays
    # eager (its drop log reads a CollectMetrics observation).
    # Round-13 (guide §2.6 — overlap independent jobs): the caption
    # tokenize is materialized by a BACKGROUND thread while the image
    # leg's eager banding checkpoint job (decode kernel + band window)
    # runs on the main thread — the two legs share nothing until the
    # candidate union, and FIFO scheduling back-fills the banding
    # job's tail with tokenize tasks. Best-effort: a warm failure just
    # leaves the final job to compute arrays itself, as before.
    arrays = _d.token_shingle_arrays(
        captions, id_col, text_col, shingle_size
    ).localCheckpoint(eager=False)
    import threading

    def _warm_arrays() -> None:
        try:
            arrays.count()
        except Exception:  # pragma: no cover - warming is best-effort
            pass

    warm = threading.Thread(target=_warm_arrays, daemon=True)
    warm.start()
    img_pairs = _d.simhash_near_pairs(
        sig, max_hamming, bits, band_bits
    ).localCheckpoint(eager=False)
    warm.join()
    txt_cands = _d.minhash_band_candidates(
        _d.minhash_signatures(arrays, num_hashes), num_hashes, rows_per_band
    )
    cands = (
        img_pairs.select("id_a", "id_b").unionByName(txt_cands).distinct()
    )
    jac = _d.verify_jaccard(arrays, cands, threshold, "shingles")
    # inner join = the joint verdict: img_pairs holds exactly the
    # pairs with verified hamming <= max_hamming
    return jac.join(img_pairs, ["id_a", "id_b"]).select(
        "id_a", "id_b", "hamming", "jaccard"
    )


def cross_modal_pair_dedup(
    sig: DataFrame,
    captions: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    threshold: float = 0.5,
    shingle_size: int = 3,
    matches: DataFrame | None = None,
) -> DataFrame:
    """Keep-list of the cross-modal pair dedup: every record id minus
    the id_b side of each joint match (greedy keep-min — the
    dedup_keep_list policy applied to (image, caption) records). One
    column (``id_col``), one row per surviving training pair.
    ``matches`` accepts a precomputed cross_modal_pair_matches frame
    (the shared-artifact shape: the match graph is built once and
    consumed by the report AND the keep-list, like the text family's
    neardup_pair_graph)."""
    if matches is None:
        matches = cross_modal_pair_matches(
            sig, captions, id_col, text_col, max_hamming, threshold, shingle_size
        )
    return (
        captions.select(F.col(id_col))
        .distinct()
        .join(
            matches.select(F.col("id_b").alias(id_col)).distinct(),
            id_col,
            "left_anti",
        )
    )


def synth_ppm_pair_dhash(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Fixture-FUSED attach_ppm_pair |> dhash_signatures: synth the
    base image, run the REAL resize kernel for the variant, decode
    and dHash both — all inside ONE mapInPandas, emitting only
    (_id, simhash). Row-identical to the composed pipeline (asserted
    in tests); exists because the composed form ships every payload
    across Arrow twice (Python→JVM→Python between the two kernels),
    which at sf0.1 is ~hundreds of MB of fixture bytes for 8 bytes of
    signal per row. Real stored binaries take the composable
    operators; synthetic fixtures take this."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            mids: list[int] = []
            sigs: list[int] = []
            for mid, txt in zip(pdf["_mid"], pdf["_txt"]):
                base = synth_ppm_img(txt)
                m = decode_image(base)
                var = resize_ppm(base, 2 * m["width"], 2 * m["height"])
                mids += [2 * int(mid), 2 * int(mid) + 1]
                sigs += [dhash64(base), dhash64(var)]
            yield pd.DataFrame(
                {
                    "_id": pd.Series(mids, dtype="int64"),
                    "simhash": pd.Series(sigs, dtype="int64"),
                }
            )

    src = ensure_min_parallelism(docs).select(
        F.col(id_col).cast("long").alias("_mid"), F.col(text_col).alias("_txt")
    )
    return src.mapInPandas(batches, "_id LONG, simhash LONG")


def synth_ppm_dhash(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    upscale: bool = False,
    id_offset: int = 0,
) -> DataFrame:
    """Fixture kernel: ONE dHash row per doc — the base synthetic
    image, or (``upscale=True``) its REAL 2x nearest-neighbor
    upscale, with ``id_offset`` added to the id (a re-encoded copy
    arriving under a NEW media id — the incremental-dedup fixture).
    Emits (_id, simhash) only; see synth_ppm_pair_dhash for why the
    payload never crosses Arrow."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            mids: list[int] = []
            sigs: list[int] = []
            for mid, txt in zip(pdf["_mid"], pdf["_txt"]):
                img = synth_ppm_img(txt)
                if upscale:
                    m = decode_image(img)
                    img = resize_ppm(img, 2 * m["width"], 2 * m["height"])
                mids.append(int(mid) + id_offset)
                sigs.append(dhash64(img))
            yield pd.DataFrame(
                {
                    "_id": pd.Series(mids, dtype="int64"),
                    "simhash": pd.Series(sigs, dtype="int64"),
                }
            )

    src = docs.select(
        F.col(id_col).cast("long").alias("_mid"), F.col(text_col).alias("_txt")
    )
    return src.mapInPandas(batches, "_id LONG, simhash LONG")


def synth_video_pair_frame_dhash(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Fixture-FUSED attach_video_pair |> video_frame_dhash — see
    synth_ppm_pair_dhash for why. Emits (media_id, frame_idx,
    simhash) for the base container and its REAL frame-by-frame 2x
    upscale without the payloads ever crossing Arrow."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            mids: list[int] = []
            idxs: list[int] = []
            sigs: list[int] = []
            for mid, txt in zip(pdf["_mid"], pdf["_txt"]):
                for k, fr in enumerate(decode_video(synth_video(txt))):
                    m = decode_image(fr)
                    up = resize_ppm(fr, 2 * m["width"], 2 * m["height"])
                    dh_base, dh_up = dhash64(fr), dhash64(up)
                    mids += [2 * int(mid), 2 * int(mid) + 1]
                    idxs += [k, k]
                    sigs += [dh_base, dh_up]
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(mids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "simhash": pd.Series(sigs, dtype="int64"),
                }
            )

    src = ensure_min_parallelism(docs).select(
        F.col(id_col).cast("long").alias("_mid"), F.col(text_col).alias("_txt")
    )
    return src.mapInPandas(batches, "media_id LONG, frame_idx INT, simhash LONG")


def synth_video_frame_dhash(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    upscale: bool = False,
    id_offset: int = 0,
) -> DataFrame:
    """Fixture kernel: per-frame dHash rows for ONE container per doc
    — the base synthetic video, or (``upscale=True``) its REAL
    frame-by-frame 2x nearest-neighbor upscale, with ``id_offset``
    added to the id (a re-encoded copy arriving under a NEW media id —
    the incremental-dedup fixture). The video twin of
    synth_ppm_dhash; emits (media_id, frame_idx, simhash) only, so
    the payload never crosses Arrow."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            mids: list[int] = []
            idxs: list[int] = []
            sigs: list[int] = []
            for mid, txt in zip(pdf["_mid"], pdf["_txt"]):
                for k, fr in enumerate(decode_video(synth_video(txt))):
                    if upscale:
                        m = decode_image(fr)
                        fr = resize_ppm(fr, 2 * m["width"], 2 * m["height"])
                    mids.append(int(mid) + id_offset)
                    idxs.append(k)
                    sigs.append(dhash64(fr))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(mids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "simhash": pd.Series(sigs, dtype="int64"),
                }
            )

    src = ensure_min_parallelism(docs).select(
        F.col(id_col).cast("long").alias("_mid"), F.col(text_col).alias("_txt")
    )
    return src.mapInPandas(batches, "media_id LONG, frame_idx INT, simhash LONG")


def synth_wav_envelope(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    half_salt: str = "h1",
    id_offset: int = 0,
) -> DataFrame:
    """Fixture kernel: envelope rows for ONE PCM render per doc —
    ``half_salt`` picks the waveform micro-structure (two renders of
    the same text share the envelope but not the bytes), and
    ``id_offset`` lands the render under a new media id (the
    incremental-dedup fixture: a re-rendered copy of indexed audio
    arriving in a later batch). The audio twin of synth_ppm_dhash;
    emits (media_id, win_idx, rms) only."""
    import io
    import math
    import wave

    import numpy as np

    def env_of(content: bytes) -> list[int]:
        with wave.open(io.BytesIO(content), "rb") as w:
            raw = w.readframes(w.getnframes())
        samples = np.frombuffer(raw, dtype="<i2").astype(np.int64)
        out = []
        for off in range(0, len(samples), SEG_FRAMES):
            win = samples[off : off + SEG_FRAMES]
            out.append(int(math.isqrt(int(np.dot(win, win)) // len(win))))
        return out

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            mids: list[int] = []
            idxs: list[int] = []
            rms: list[int] = []
            for mid, txt in zip(pdf["_mid"], pdf["_txt"]):
                for k, r in enumerate(env_of(synth_wav_segments(txt, half_salt))):
                    mids.append(int(mid) + id_offset)
                    idxs.append(k)
                    rms.append(r)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(mids, dtype="int64"),
                    "win_idx": pd.Series(idxs, dtype="int32"),
                    "rms": pd.Series(rms, dtype="int64"),
                }
            )

    src = ensure_min_parallelism(docs).select(
        F.col(id_col).cast("long").alias("_mid"), F.col(text_col).alias("_txt")
    )
    return src.mapInPandas(batches, "media_id LONG, win_idx INT, rms LONG")


def synth_wav_pair_envelope(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Fixture-FUSED attach_wav_pair |> audio_envelope — see
    synth_ppm_pair_dhash for why. Renders both PCM variants and
    computes their REAL decoded envelopes in one kernel, emitting
    (media_id, win_idx, rms) only."""
    import io
    import math
    import wave

    import numpy as np

    def env_of(content: bytes) -> list[int]:
        with wave.open(io.BytesIO(content), "rb") as w:
            raw = w.readframes(w.getnframes())
        samples = np.frombuffer(raw, dtype="<i2").astype(np.int64)
        out = []
        for off in range(0, len(samples), SEG_FRAMES):
            win = samples[off : off + SEG_FRAMES]
            out.append(int(math.isqrt(int(np.dot(win, win)) // len(win))))
        return out

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            mids: list[int] = []
            idxs: list[int] = []
            rms: list[int] = []
            for mid, txt in zip(pdf["_mid"], pdf["_txt"]):
                for salt, m in (("h1", 2 * int(mid)), ("h2", 2 * int(mid) + 1)):
                    for k, r in enumerate(env_of(synth_wav_segments(txt, salt))):
                        mids.append(m)
                        idxs.append(k)
                        rms.append(r)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(mids, dtype="int64"),
                    "win_idx": pd.Series(idxs, dtype="int32"),
                    "rms": pd.Series(rms, dtype="int64"),
                }
            )

    src = ensure_min_parallelism(docs).select(
        F.col(id_col).cast("long").alias("_mid"), F.col(text_col).alias("_txt")
    )
    return src.mapInPandas(batches, "media_id LONG, win_idx INT, rms LONG")


def fake_decode_meta(content: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for decode: md5-derived (width, height,
    duration_ms). Matches the SQL-expressible oracle."""
    h = hashlib.md5(content).hexdigest()
    width = int(h[:4], 16) % 1024
    height = int(h[4:8], 16) % 1024
    duration = int(h[8:12], 16)
    return width, height, duration


def extract_metadata(media: DataFrame) -> DataFrame:
    """(media_id, modality, mime, n_bytes, checksum, width, height,
    duration_ms) via mapInPandas — the binary column is dropped from
    the output so downstream stages don't carry payloads."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            content = pdf["content"]
            meta = content.map(fake_decode_meta)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "mime": pdf["mime"],
                    "n_bytes": content.map(len).astype("int64"),
                    "checksum": content.map(lambda b: hashlib.md5(b).hexdigest()),
                    "width": meta.map(lambda m: m[0]).astype("int32"),
                    "height": meta.map(lambda m: m[1]).astype("int32"),
                    "duration_ms": meta.map(lambda m: m[2]).astype("int64"),
                }
            )

    return media.mapInPandas(batches, META_SCHEMA)


def frame_sample(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame sampling stub: emits (media_id, frame_idx, frame_ts_ms)
    rows derived from the fake duration — the explode/partition shape of
    a real frame sampler, without codecs."""
    meta = extract_metadata(media)
    return meta.select(
        "media_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.floor(F.col("duration_ms") / every_ms).cast("int")),
                lambda i: i * every_ms,
            )
        ).alias("frame_idx", "frame_ts_ms"),
    )


def fake_resize(content: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in for a resize kernel: md5-chained pseudo
    pixels seeded by (content, target size), capped at 4 KiB so tests
    stay light. A real kernel drops in behind the same signature."""
    block = hashlib.md5(content + f":{width}x{height}".encode()).digest()
    n = min(width * height * 3, 4096)
    out = bytearray()
    while len(out) < n:
        block = hashlib.md5(block).digest()
        out.extend(block)
    return bytes(out[:n])


def resize(media: DataFrame, width: int, height: int) -> DataFrame:
    """Batch resize via mapInPandas: content is replaced by the
    resized payload, target dims become columns. P6 payloads get the
    REAL nearest-neighbor kernel (resize_ppm, round-10); formats that
    still need a codec library fall back to the deterministic
    fake_resize stand-in so the plumbing stays drivable. Per-row
    independent → no shuffle; payloads stream through bounded Arrow
    batches exactly like extract_metadata."""
    schema = (
        "media_id LONG, modality STRING, mime STRING, width INT, height INT, content BINARY"
    )

    def one(b: bytes) -> bytes:
        if b[:2] == b"P6":
            return resize_ppm(b, width, height)
        return fake_resize(b, width, height)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "mime": pdf["mime"],
                    "width": pd.Series([width] * len(pdf), dtype="int32"),
                    "height": pd.Series([height] * len(pdf), dtype="int32"),
                    "content": pdf["content"].map(one),
                }
            )

    return media.mapInPandas(batches, schema)


def fake_feature_vec(content: bytes, dims: int = 16) -> list[int]:
    """Deterministic md5-derived feature vector (one byte per dim,
    dims ≤ 16) — the oracle-expressible stand-in for an image/audio
    embedding model."""
    if not 1 <= dims <= 16:
        raise ValueError("dims must be in [1, 16]")
    h = hashlib.md5(content).hexdigest()
    return [int(h[2 * i : 2 * i + 2], 16) for i in range(dims)]


def feature_extract(media: DataFrame, dims: int = 16) -> DataFrame:
    """Feature extraction via mapInPandas: (media_id, dim, feature) —
    exploded so downstream joins/aggregates (and the driver's
    canonicalizer) never handle array cells. The model call is stubbed
    (fake_feature_vec); the Arrow batch shape, schema, and explode are
    the real pipeline."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            vecs = pdf["content"].map(lambda b: fake_feature_vec(b, dims))
            flat = pd.DataFrame(
                {
                    "media_id": pdf["media_id"].repeat(dims).reset_index(drop=True),
                    "dim": list(range(1, dims + 1)) * len(pdf),
                    "feature": [x for v in vecs for x in v],
                }
            )
            yield flat.astype({"media_id": "int64", "dim": "int32", "feature": "int32"})

    return media.mapInPandas(batches, "media_id LONG, dim INT, feature INT")
