"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata; decode / feature-extract / frame-sample as
Arrow-batched pandas UDFs over mapInPandas.

PNG + JPEG images, PCM/float WAV audio, and uncompressed-AVI video all
decode for REAL via the stdlib-only codecs in functions/codecs.py —
value-oracled by q90/q94-q98; video frame-sampling strides over ACTUAL
decoded frames for AVI payloads.  Anything else (compressed video
codecs, exotic containers/image formats) takes the FEATURE-DETECTED
accelerated seam — ``accel_image()``/``accel_video()`` import PIL /
pyav once per executor if installed (see BENCH/MEDIA.md for the
measured cost case) — else a clearly-marked deterministic fake or a
quarantined NotImplementedError.  PNG/JPEG/WAV/uncompressed-AVI are
ALWAYS decoded by the pure-Python codecs (magic checks win before the
accel hook), so the q90/q94-q98 oracle values are bit-identical with
or without the accelerated libs; the Spark-side contract is identical
either way: schemas, batch shapes, partitioning, and the UDF
signatures are exactly what a production decoder uses.

Schema contract:
  media(media_id long, kind string in {image,audio,video},
        payload binary, meta struct<width:int,height:int,duration_ms:int,
        codec:string>)
"""

from __future__ import annotations

import functools
import io
import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions import codecs as _codecs


@functools.lru_cache(maxsize=1)
def accel_image():
    """Feature-detect Pillow once per executor process.  Returns the
    PIL.Image module or None.  The accelerated path only ever takes
    payloads the pure-Python codecs do NOT decode (GIF/WebP/TIFF/BMP,
    ...), so q90/q94-q98's value-oracled outputs are bit-identical with
    or without Pillow installed."""
    try:
        from PIL import Image  # noqa: PLC0415

        return Image
    except ImportError:
        return None


@functools.lru_cache(maxsize=1)
def accel_video():
    """Feature-detect PyAV once per executor process (None if absent).
    Taken only when the pure-Python AVI walker raises
    NotImplementedError (compressed codecs, non-AVI containers)."""
    try:
        import av  # noqa: PLC0415

        return av
    except ImportError:
        return None

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int,height:int,duration_ms:int,codec:string>"
)

# The quarantine contract: every exception type hostile bytes can drive
# out of the codec kernels.  Single source of truth — extract_features'
# except clause and the corruption-fuzz test
# (tests/test_multimodal.py::test_codec_fuzz_respects_quarantine_contract)
# both use THIS tuple, so a codec that starts raising a new type on
# garbage input fails the fuzz loudly instead of killing Spark tasks
# in production.
DECODE_ERROR_TYPES = (
    ValueError,
    NotImplementedError,
    struct.error,
    zlib.error,
    IndexError,
    KeyError,
)

FEATURES_SCHEMA = (
    "media_id long, kind string, feature array<float>, n_frames int, "
    "decode_err string"
)


def _decode(payload: bytes, kind: str) -> np.ndarray:
    """Decode dispatch.  REAL pure-python codecs handle the full PNG
    surface (1-16 bit, palette, Adam7), baseline AND progressive JPEG
    (all chroma samplings, restart intervals), and every supported WAV
    format (PCM 8/16/24/32, float32, G.711 a/u-law) — functions/
    codecs.py, zlib/struct only.  Uncompressed-AVI video takes the
    _decode_video branch in extract_features (real frame sampling).
    Payloads with none of those magics fall through to the
    deterministic fake so the synthetic media table keeps working —
    the remaining seam for PIL/pyav (compressed video, exotic
    containers).

    Real-decode features are 8-dim like the fake's, so FEATURES_SCHEMA
    is container-independent (``maxv`` = 255 or 65535 by sample depth):
      PNG/JPEG -> [w, h, ch, mean_all/maxv, mean_c0/maxv .. mean_c3/maxv]
                  (absent channels 0)
      WAV  -> [rate/1e3, n_samples, ch, mean/fullscale, rms/fullscale,
               0, 0, 0] — full scale picked per format via wav_format
    """
    px = None
    if payload[:8] == _codecs.PNG_MAGIC:
        px = _codecs.png_decode(payload)
    elif payload[:3] == _codecs.JPEG_MAGIC:
        px = _codecs.jpeg_decode(payload)
    if px is not None:
        return _pixel_feature(px)
    if payload[:4] == _codecs.WAV_MAGIC and payload[8:12] == b"WAVE":
        samples, rate = _codecs.wav_decode(payload)
        code, bits = _codecs.wav_format(payload)
        n, ch = samples.shape
        if n == 0:
            # a zero-sample mean would be NaN features with decode_err
            # NULL — poison masquerading as healthy (truncated data
            # chunk with an intact header)
            raise ValueError("WAV: no samples")
        s = samples.astype(np.float64)
        if code == 3:  # IEEE float: already full-scale [-1, 1]
            pass
        elif code == 1 and bits == 8:  # PCM-8 is unsigned offset-binary
            s = (s - 128.0) / 128.0
        elif code == 1:  # PCM 16/24/32: signed, full scale 2^(bits-1)
            s = s / float(1 << (bits - 1))
        else:  # G.711 a/u-law expand to linear int16
            s = s / 32768.0
        return np.array(
            [rate / 1e3, float(n), float(ch), float(s.mean()),
             float(np.sqrt((s ** 2).mean())), 0.0, 0.0, 0.0]
        )
    if kind == "image":
        Image = accel_image()
        if Image is not None:
            # Accelerated seam: formats outside the pure-Python surface
            # (GIF/WebP/TIFF/BMP, ...).  PNG/JPEG never reach here — the
            # magic checks above win.  A payload Pillow cannot IDENTIFY
            # falls through to the same deterministic fake it takes when
            # Pillow is absent — installing the lib must not change the
            # output for any payload the pure-Python path handles (q37's
            # synthetic blobs included); only an identified-but-corrupt
            # image quarantines.
            try:
                with Image.open(io.BytesIO(payload)) as im:
                    if im.mode == "P":
                        im = im.convert(
                            "RGBA" if "transparency" in im.info else "RGB"
                        )
                    elif im.mode not in ("L", "LA", "RGB", "RGBA", "I;16"):
                        # exotic modes (1/I/F/CMYK/YCbCr) -> known dtype
                        # so _pixel_feature's maxv rule holds
                        im = im.convert("RGB")
                    arr = np.asarray(im)
            except Exception as e:
                if isinstance(e, Image.UnidentifiedImageError):
                    return _fake_decode(payload, kind)
                # identified but undecodable: quarantine contract
                raise ValueError(f"accel image decode failed: {e}") from e
            if arr.ndim == 2:
                arr = arr[:, :, None]
            return _pixel_feature(arr)
    return _fake_decode(payload, kind)


def _pixel_feature(px: np.ndarray) -> np.ndarray:
    """Shared 8-dim image feature (``maxv`` = 255 or 65535 by depth;
    callers guarantee uint8/uint16 arrays — the accel branch converts
    exotic Pillow modes first)."""
    h, w, ch = px.shape
    if h == 0 or w == 0:
        # zero-area means would be NaN features with decode_err NULL
        raise ValueError("image decoded to zero pixels")
    maxv = 65535.0 if px.dtype == np.uint16 else 255.0
    means = px.reshape(-1, ch).mean(axis=0) / maxv
    cmeans = [float(means[i]) if i < ch else 0.0 for i in range(4)]
    return np.array(
        [float(w), float(h), float(ch), float(px.mean() / maxv), *cmeans]
    )


def _is_video_container(payload: bytes) -> bool:
    """Video container magics this stage routes to _decode_video:
    RIFF-AVI (pure-Python path), ISO-BMFF/MP4 (``ftyp`` at offset 4),
    and Matroska/WebM (EBML header) — the latter two only decode via
    the pyav seam.  The caller additionally gates on kind=='video':
    ISO-BMFF is also the container for M4A audio and HEIC/AVIF images,
    which must reach their own kind's seam, not the video path."""
    return (
        (payload[:4] == b"RIFF" and payload[8:12] == b"AVI ")
        or payload[4:8] == b"ftyp"
        or payload[:4] == b"\x1a\x45\xdf\xa3"
    )


def _accel_video_frames(av, payload: bytes) -> tuple[np.ndarray, float]:
    """Decode frames via PyAV (the accelerated seam).  Error contract
    matches the quarantine path: any decode failure is a ValueError."""
    try:
        with av.open(io.BytesIO(payload)) as container:
            stream = container.streams.video[0]
            fps = float(stream.average_rate or 0.0)
            frames = [f.to_ndarray(format="rgb24") for f in container.decode(stream)]
    except Exception as e:
        raise ValueError(f"accel video decode failed: {e}") from e
    if not frames:
        raise ValueError("accel video decode produced no frames")
    return np.stack(frames), fps


def _decode_video(payload: bytes, frame_stride: int) -> tuple[np.ndarray, int]:
    """REAL video decode + frame sampling: uncompressed AVI via the
    pure-Python RIFF walker (functions/codecs.py); compressed codecs
    and MP4/Matroska containers via PyAV when installed, else
    NotImplementedError (quarantined upstream).  Keep every
    ``frame_stride``-th frame, then feature over the SAMPLED frames
    only —
      [w, h, n_sampled, fps, mean_all/255, mean_r/255, mean_g/255,
       mean_b/255].
    Returns (feature, n_sampled)."""
    frames = fps = None
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        try:
            frames, fps = _codecs.avi_decode(payload)
        except NotImplementedError:
            if accel_video() is None:
                raise
    if frames is None:
        av = accel_video()
        if av is None:
            raise NotImplementedError(
                "compressed/non-AVI video requires pyav (accelerated seam)"
            )
        frames, fps = _accel_video_frames(av, payload)
    sampled = frames[::frame_stride]
    n, h, w, _ = sampled.shape
    means = sampled.reshape(-1, 3).mean(axis=0) / 255.0
    feat = np.array(
        [float(w), float(h), float(n), float(fps),
         float(sampled.mean() / 255.0), *(float(m) for m in means)]
    )
    return feat, n


def _fake_decode(payload: bytes, kind: str) -> np.ndarray:
    """STUB decode for non-PNG/WAV payloads: a real implementation
    would dispatch to PIL / soundfile / pyav here.  The fake derives a
    deterministic 8-dim float feature from the payload bytes so
    downstream plumbing is testable.

    Raises NotImplementedError for unknown kinds — the marker for where
    real codecs belong.
    """
    if kind not in ("image", "audio", "video"):
        raise NotImplementedError(f"no decoder for media kind {kind!r}")
    if not payload:
        # an empty byte-mean would be NaN features with decode_err NULL
        # — a poison row masquerading as healthy
        raise ValueError("empty media payload")
    # float64 throughout: integer byte sums are exact in double, so the
    # per-column mean is the correctly-rounded double of the exact value
    # and the final float32 cast (schema array<float>) is reproducible by
    # any engine computing sum/n/255 in double — no float32-accumulation
    # or double-rounding artifacts in the contract
    arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
    pad = (-len(arr)) % 8
    if pad:
        arr = np.pad(arr, (0, pad))
    return arr.reshape(-1, 8).mean(axis=0) / 255.0


def extract_features(media: DataFrame, frame_stride: int = 2) -> DataFrame:
    """decode → (video) frame-sample → feature-extract, one narrow
    mapInPandas stage.  Batches arrive as Arrow; numpy vectorizes within
    the batch; no shuffle.

    Poison-safe: at 100-TB web scale some payloads WILL be truncated,
    bit-flipped, or use a codec behind the documented seam.  Each
    payload decodes inside its own try — a failure quarantines that row
    (feature=[], n_frames=0, ``decode_err`` = 'ExcType: message')
    instead of killing the Spark task and, with it, every healthy
    payload sharing the partition across all retries.  Healthy rows
    carry ``decode_err`` NULL and are bit-identical to a poison-free
    run.  The captured set (ValueError / struct / zlib /
    NotImplementedError / IndexError / KeyError) is deliberately broad
    because hostile bytes surface as any of them from deep inside the
    codec walkers; the trade-off is that a systematic bug raising one
    of these types would ALSO quarantine rather than fail loudly — the
    guard for that is the observable quarantine rate (count
    ``decode_err IS NOT NULL``), which a deployment should alert on.
    Process-level errors (MemoryError, KeyboardInterrupt, ...) still
    propagate."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                payload = bytes(r.payload)
                try:
                    if r.kind == "video" and _is_video_container(payload):
                        # REAL frame decode + stride sampling: AVI/DIB via
                        # the pure-Python walker; MP4/MKV/compressed via
                        # the pyav seam (NotImplementedError -> quarantine
                        # when pyav is absent).  Kind-gated: ISO-BMFF also
                        # wraps M4A audio and HEIC images, which belong to
                        # their own kind's decode seam.
                        feat, n_frames = _decode_video(payload, frame_stride)
                    else:
                        feat = _decode(payload, r.kind)
                        n_frames = 1
                        if r.kind == "video":
                            # frame sampling over fake frames derived from
                            # duration; real containers take the branch above
                            n_frames = max(1, int(r.meta["duration_ms"] // 1000) // frame_stride)
                    feat_list, err = [float(x) for x in feat], None
                except DECODE_ERROR_TYPES as e:
                    feat_list, n_frames = [], 0
                    err = f"{type(e).__name__}: {e}"
                out.append(
                    {"media_id": int(r.media_id), "kind": r.kind,
                     "feature": feat_list, "n_frames": n_frames,
                     "decode_err": err}
                )
            cols = ["media_id", "kind", "feature", "n_frames", "decode_err"]
            yield pd.DataFrame(out, columns=cols) if out else pd.DataFrame(columns=cols)

    return media.mapInPandas(run, schema=FEATURES_SCHEMA)
