"""Multimodal plumbing: schemas, batch shapes, stub decode contract."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from relation_extraction_cdr_spark.operators import multimodal as MM


def gen_media_df(spark, n: int = 64, seed: int = 42):
    """Deterministic synthetic media table (payload = seeded bytes)."""
    return spark.range(n).select(
        F.col("id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode(F.concat(F.lit(f"blob{seed}:"), F.md5(F.col("id").cast("string"))), "UTF-8").alias("payload"),
        F.struct(
            (F.col("id") % 640 + 32).cast("int").alias("width"),
            (F.col("id") % 480 + 32).cast("int").alias("height"),
            (F.col("id") * 100).cast("int").alias("duration_ms"),
            F.lit("fake").alias("codec"),
        ).alias("meta"),
    )


def test_media_schema(spark):
    media = gen_media_df(spark, 12)
    assert media.schema.simpleString() == (
        "struct<media_id:bigint,kind:string,payload:binary,"
        "meta:struct<width:int,height:int,duration_ms:int,codec:string>>"
    )
    assert media.count() == 12


def test_extract_features_shapes(spark):
    media = gen_media_df(spark, 12)
    feats = MM.extract_features(media).collect()
    assert len(feats) == 12
    for r in feats:
        assert len(r["feature"]) == 8
        assert all(0.0 <= x <= 1.0 for x in r["feature"])
        if r["kind"] == "video":
            assert r["n_frames"] >= 1


def test_extract_deterministic(spark):
    media = gen_media_df(spark, 6)
    a = sorted(map(tuple, MM.extract_features(media).collect()))
    b = sorted(map(tuple, MM.extract_features(media).collect()))
    assert a == b


def test_unknown_kind_raises():
    with pytest.raises(NotImplementedError):
        MM._fake_decode(b"xx", "hologram")


def test_media_survives_poison_payloads(spark):
    """100 TB media hygiene (mirror of test_pipeline_survives_poison_
    rows): truncated PNG, bad-CRC PNG, an MJPG (compressed) AVI and an
    AVI of 3000 nested LISTs (a recursion bomb for the RIFF walk)
    mixed into a healthy batch must NOT kill the mapInPandas stage —
    healthy features come back bit-unchanged vs a poison-free run and
    every poison row is quarantined with a decode_err string, an empty
    feature vector, and n_frames=0."""
    import struct

    import numpy as np

    from relation_extraction_cdr_spark.functions.codecs import (
        avi_encode,
        png_encode,
        wav_encode,
    )

    rng = np.random.default_rng(11)
    png = png_encode(rng.integers(0, 256, (6, 5, 3)).astype(np.uint8))
    wav = wav_encode(
        (np.sin(np.arange(200) / 9.0) * 20000).astype(np.int16), 8000
    )
    avi = avi_encode(rng.integers(0, 256, (4, 4, 4, 3)).astype(np.uint8), fps=5)

    truncated_png = png[: len(png) - 7]
    bad_crc_png = bytearray(png)
    bad_crc_png[-5] ^= 0xFF  # flip a bit inside IEND's CRC
    mjpg_avi = bytearray(avi)
    i = mjpg_avi.find(b"strf")
    mjpg_avi[i + 8 + 16 : i + 8 + 20] = b"MJPG"  # biCompression
    nest = b""
    for _ in range(3000):
        nest = b"LIST" + struct.pack("<I", len(nest) + 4) + b"junk" + nest
    nested_avi = b"RIFF" + struct.pack("<I", len(nest) + 4) + b"AVI " + nest

    healthy = [
        (0, "image", bytearray(png)),
        (1, "audio", bytearray(wav)),
        (2, "video", bytearray(avi)),
        (3, "image", bytearray(b"not-media-at-all")),  # fake-decode path
    ]
    poison = [
        (10, "image", bytearray(truncated_png)),
        (11, "image", bytearray(bad_crc_png)),
        (12, "video", bytearray(mjpg_avi)),
        (13, "video", bytearray(nested_avi)),
    ]

    def mk(rows):
        return spark.createDataFrame(
            [(i, k, p, (4, 4, 5000, "x")) for i, k, p in rows],
            MM.MEDIA_SCHEMA,
        )

    clean = {r["media_id"]: r for r in MM.extract_features(mk(healthy)).collect()}
    mixed = {
        r["media_id"]: r
        for r in MM.extract_features(mk(healthy + poison)).collect()
    }
    assert len(mixed) == 8
    for mid, r in clean.items():
        assert r["decode_err"] is None
        assert mixed[mid]["feature"] == r["feature"]  # bit-identical
        assert mixed[mid]["n_frames"] == r["n_frames"]
        assert mixed[mid]["decode_err"] is None
    assert "truncated" in mixed[10]["decode_err"]
    assert "CRC" in mixed[11]["decode_err"]
    assert "NotImplementedError" in mixed[12]["decode_err"]
    assert mixed[13]["decode_err"].startswith("ValueError: AVI: LIST nesting")
    for mid in (10, 11, 12, 13):
        assert mixed[mid]["feature"] == [] and mixed[mid]["n_frames"] == 0


# --------------------------------------------------------------------------
# accelerated-decoder seam (PIL / pyav feature detection)
# --------------------------------------------------------------------------


def _mp4_payload() -> bytearray:
    return bytearray(b"\x00\x00\x00\x18ftypisom" + b"\x00" * 64)


def test_accel_seam_without_libs(spark, monkeypatch):
    """Sandbox contract when PIL/pyav are absent (forced via monkeypatch
    so the test is deterministic even where the libs exist): a real
    video container the pure-Python walker can't decode (MP4 magic)
    quarantines with the NotImplementedError seam message, and a
    magic-less image payload still takes the deterministic fake."""
    monkeypatch.setattr(MM, "accel_image", lambda: None)
    monkeypatch.setattr(MM, "accel_video", lambda: None)
    rows = [
        (0, "video", _mp4_payload()),
        (1, "image", bytearray(b"not-a-real-image")),
    ]
    df = spark.createDataFrame(
        [(i, k, p, (4, 4, 5000, "x")) for i, k, p in rows], MM.MEDIA_SCHEMA
    )
    out = {r["media_id"]: r for r in MM.extract_features(df).collect()}
    assert "NotImplementedError" in out[0]["decode_err"]
    assert "pyav" in out[0]["decode_err"]
    assert out[0]["feature"] == [] and out[0]["n_frames"] == 0
    assert out[1]["decode_err"] is None and len(out[1]["feature"]) == 8


def test_video_routing_is_kind_gated(spark, monkeypatch):
    """ISO-BMFF ('ftyp') also wraps M4A audio and HEIC images — those
    kinds must reach their own decode seam (fake in the sandbox), not
    be forced down the video path to a guaranteed quarantine."""
    monkeypatch.setattr(MM, "accel_image", lambda: None)
    monkeypatch.setattr(MM, "accel_video", lambda: None)
    rows = [
        (0, "audio", _mp4_payload()),   # M4A-shaped: NOT video-routed
        (1, "image", _mp4_payload()),   # HEIC-shaped: NOT video-routed
        (2, "video", _mp4_payload()),   # real video container: seam
    ]
    df = spark.createDataFrame(
        [(i, k, p, (4, 4, 5000, "x")) for i, k, p in rows], MM.MEDIA_SCHEMA
    )
    out = {r["media_id"]: r for r in MM.extract_features(df).collect()}
    for mid in (0, 1):
        assert out[mid]["decode_err"] is None
        assert len(out[mid]["feature"]) == 8
    assert "pyav" in out[2]["decode_err"]


def test_unidentified_image_falls_to_fake_with_accel_present(monkeypatch):
    """Installing Pillow must not change the output for payloads it
    cannot identify (q37's synthetic text blobs): the accel branch
    falls through to the same deterministic fake, byte-identical to
    the no-Pillow run.  The error is matched by type, so a subclass
    under another name falls through too.  Identified-but-corrupt
    images quarantine."""
    import numpy as np

    class UnidentifiedImageError(OSError):
        pass

    class PluginCannotIdentify(UnidentifiedImageError):
        pass

    def stub_pil(exc):
        class _StubPIL:
            @staticmethod
            def open(fp):
                raise exc

        _StubPIL.UnidentifiedImageError = UnidentifiedImageError
        return _StubPIL

    payload = b"blob42:deadbeefdeadbeefdeadbeef"
    monkeypatch.setattr(MM, "accel_image", lambda: None)
    without = MM._decode(payload, "image")
    for exc in (
        UnidentifiedImageError("cannot identify image file"),
        PluginCannotIdentify("cannot identify image file"),
    ):
        monkeypatch.setattr(MM, "accel_image", lambda: stub_pil(exc))
        with_accel = MM._decode(payload, "image")
        assert np.array_equal(without, with_accel), type(exc).__name__

    # any other exception, a same-named unrelated class included,
    # quarantines
    LookAlike = type("UnidentifiedImageError", (OSError,), {})
    for exc in (
        OSError("broken data stream when reading image file"),
        LookAlike("cannot identify image file"),
    ):
        monkeypatch.setattr(MM, "accel_image", lambda: stub_pil(exc))
        with pytest.raises(ValueError, match="accel image decode failed"):
            MM._decode(payload, "image")


def test_codec_fuzz_respects_quarantine_contract():
    """Corruption fuzz: hostile bytes driven through every codec must
    only raise types in MM.DECODE_ERROR_TYPES (the quarantine
    contract) — anything else would kill the Spark task in production.
    Deterministic (seeded) subset of the larger offline sweep that
    found and fixed two real escapes: OverflowError from an unbounded
    DC size category and StopIteration from a scan referencing an
    unknown component id."""
    import numpy as np

    from relation_extraction_cdr_spark.functions.codecs import (
        avi_encode,
        jpeg_encode,
        jpeg_encode_progressive,
        png_encode,
        png_encode_palette,
        wav_encode,
    )

    rng = np.random.default_rng(99)
    px = rng.integers(0, 256, (12, 10, 3)).astype(np.uint8)
    bases = {
        "png": (png_encode(px), "image"),
        "png_pal": (
            png_encode_palette(
                rng.integers(0, 4, (9, 7)).astype(np.uint8),
                rng.integers(0, 256, (4, 3)).astype(np.uint8),
            ),
            "image",
        ),
        "jpeg": (jpeg_encode(px), "image"),
        "jpeg_prog": (jpeg_encode_progressive(px), "image"),
        "jpeg_420": (
            jpeg_encode(px, subsampling="420", restart_interval=1),
            "image",
        ),
        "wav": (
            wav_encode((rng.standard_normal(300) * 9000).astype(np.int16), 8000),
            "audio",
        ),
        "avi": (
            avi_encode(rng.integers(0, 256, (3, 6, 4, 3)).astype(np.uint8), fps=5),
            "video",
        ),
        # variant surfaces (16-bit / interlaced PNG, progressive+DRI
        # JPEG, float WAV) — same contract
        "png16": (
            png_encode(rng.integers(0, 65536, (6, 5, 3)).astype(np.uint16)),
            "image",
        ),
        "png_adam7": (png_encode(px, interlace=True), "image"),
        "jpeg_prog_dri": (
            jpeg_encode_progressive(px, restart_interval=2),
            "image",
        ),
        "wav_f32": (
            wav_encode(rng.standard_normal(150).astype(np.float32), 8000),
            "audio",
        ),
    }
    n_run = 0
    for name, (blob, kind) in bases.items():
        blob = bytes(blob)
        cases = [blob[:cut] for cut in range(0, len(blob), max(1, len(blob) // 40))]
        for _ in range(120):
            b = bytearray(blob)
            b[int(rng.integers(0, len(b)))] ^= int(rng.integers(1, 256))
            cases.append(bytes(b))
        for c in cases:
            n_run += 1
            try:
                if kind == "video" and c[:4] == b"RIFF" and c[8:12] == b"AVI ":
                    MM._decode_video(c, 2)
                else:
                    MM._decode(c, kind)
            except MM.DECODE_ERROR_TYPES:
                pass
            # any other exception type propagates and fails the test
    assert n_run > 1000


def test_jpeg_hostile_stream_validation():
    """Direct regressions for the two fuzz-found escapes: a DC size
    category > 11 and a scan component id absent from the SOF both
    raise ValueError (in-contract), never OverflowError/StopIteration."""
    import numpy as np

    from relation_extraction_cdr_spark.functions.codecs import (
        jpeg_decode,
        jpeg_encode,
    )

    blob = bytearray(
        jpeg_encode(np.zeros((8, 8, 3), np.uint8))
    )
    # corrupt every SOS component id to one the SOF never declared
    i = blob.find(b"\xff\xda")
    ns = blob[i + 4]
    for si in range(ns):
        blob[i + 5 + 2 * si] = 0x77
    with pytest.raises(ValueError, match="unknown component"):
        jpeg_decode(bytes(blob))


def test_empty_payload_quarantines(spark):
    df = spark.createDataFrame(
        [(0, "image", bytearray(b""), (4, 4, 0, "x"))], MM.MEDIA_SCHEMA
    )
    row = MM.extract_features(df).collect()[0]
    assert "empty media payload" in row["decode_err"]
    assert row["feature"] == []


def test_degenerate_decodes_quarantine_not_nan():
    """A structurally valid payload that decodes to ZERO samples/pixels
    must quarantine — a NaN feature with decode_err NULL is poison
    masquerading as healthy."""
    import numpy as np

    from relation_extraction_cdr_spark.functions.codecs import wav_encode

    empty_wav = wav_encode(np.zeros(0, dtype=np.int16), 8000)
    with pytest.raises(ValueError, match="no samples"):
        MM._decode(bytes(empty_wav), "audio")
    with pytest.raises(ValueError, match="zero pixels"):
        MM._pixel_feature(np.zeros((0, 4, 3), dtype=np.uint8))


def test_jpeg_12bit_precision_quarantines():
    """SOF1 licenses 12-bit precision but this decoder is 8-bit only:
    a 12-bit stream must raise (-> quarantine), never clip to garbage
    with decode_err NULL."""
    import numpy as np

    from relation_extraction_cdr_spark.functions.codecs import (
        jpeg_decode,
        jpeg_encode,
    )

    rng = np.random.default_rng(5)
    blob = bytearray(jpeg_encode(rng.integers(0, 256, (8, 8, 3)).astype(np.uint8)))
    i = blob.find(b"\xff\xc0")
    assert i >= 0
    assert blob[i + 4] == 8  # precision byte after marker + length
    blob[i + 4] = 12
    with pytest.raises(NotImplementedError, match="12-bit precision"):
        jpeg_decode(bytes(blob))


def test_accel_never_shadows_pure_python_codecs(monkeypatch):
    """PNG/JPEG/WAV decode must be bit-identical with or without Pillow:
    the magic checks win before the accel hook is ever consulted, so
    installing PIL cannot perturb the q90/q94-q98 oracle values."""
    import numpy as np

    from relation_extraction_cdr_spark.functions.codecs import (
        jpeg_encode,
        png_encode,
        wav_encode,
    )

    def bomb():
        raise AssertionError("accel path consulted for a pure-python format")

    monkeypatch.setattr(MM, "accel_image", bomb)
    monkeypatch.setattr(MM, "accel_video", bomb)
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (8, 6, 3)).astype(np.uint8)
    for payload in (
        png_encode(px),
        jpeg_encode(px),
        wav_encode((rng.standard_normal(64) * 1000).astype(np.int16), 8000),
    ):
        feat = MM._decode(bytes(payload), "image")
        assert feat.shape == (8,)


def test_accel_image_seam():
    """Pillow-backed decode of a format outside the pure-Python surface
    (BMP).  Skips in the sandbox (no PIL); on clusters with Pillow the
    seam is exercised for real."""
    Image = MM.accel_image()
    if Image is None:
        pytest.skip("Pillow not installed (sandbox)")
    import io as _io

    import numpy as np

    px = np.zeros((5, 4, 3), dtype=np.uint8)
    px[:, :, 0] = 200
    buf = _io.BytesIO()
    Image.fromarray(px).save(buf, format="BMP")
    feat = MM._decode(buf.getvalue(), "image")
    assert feat[0] == 4.0 and feat[1] == 5.0 and feat[2] == 3.0
    assert abs(feat[4] - 200.0 / 255.0) < 1e-9  # red-channel mean


def test_accel_video_seam():
    """PyAV-backed decode of an MP4.  Skips in the sandbox (no pyav)."""
    av = MM.accel_video()
    if av is None:
        pytest.skip("pyav not installed (sandbox)")
    import io as _io

    import numpy as np

    buf = _io.BytesIO()
    with av.open(buf, "w", format="mp4") as container:
        stream = container.add_stream("mpeg4", rate=5)
        stream.width, stream.height = 16, 16
        stream.pix_fmt = "yuv420p"
        for i in range(6):
            frame = av.VideoFrame.from_ndarray(
                np.full((16, 16, 3), i * 30, dtype=np.uint8), format="rgb24"
            )
            container.mux(stream.encode(frame))
        container.mux(stream.encode())
    feat, n = MM._decode_video(buf.getvalue(), frame_stride=2)
    assert n == 3 and feat[0] == 16.0 and feat[1] == 16.0


# --------------------------------------------------------------------------
# real codecs (functions/codecs.py): PNG + WAV, stdlib-only
# --------------------------------------------------------------------------


class TestCodecs:
    def test_png_roundtrip_all_filters_rgb(self):
        """Encoder assigns filter r%5 per scanline, so a >=5-row image
        exercises None/Sub/Up/Average/Paeth on decode."""
        import numpy as np

        from relation_extraction_cdr_spark.functions.codecs import (
            png_decode,
            png_encode,
        )

        rng = np.random.default_rng(3)
        px = rng.integers(0, 256, (7, 11, 3), dtype=np.uint8)
        blob = png_encode(px)
        assert blob[:8] == b"\x89PNG\r\n\x1a\n"
        back = png_decode(blob)
        assert back.shape == (7, 11, 3)
        assert np.array_equal(back, px)

    def test_png_roundtrip_gray_and_rgba(self):
        import numpy as np

        from relation_extraction_cdr_spark.functions.codecs import (
            png_decode,
            png_encode,
        )

        rng = np.random.default_rng(4)
        for ch, shape in ((1, (6, 5)), (4, (9, 4, 4))):
            px = rng.integers(0, 256, shape, dtype=np.uint8)
            back = png_decode(png_encode(px))
            assert back.shape == (shape[0], shape[1], ch)
            assert np.array_equal(back.reshape(px.shape), px)

    def test_png_known_bytes(self):
        """Decode a byte-literal PNG (not produced by our encoder): a
        2x2 RGB image written with filter 0 rows, pixels pinned."""
        import struct
        import zlib

        import numpy as np

        from relation_extraction_cdr_spark.functions.codecs import png_decode

        def chunk(tag, body):
            return (
                struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
        raw = bytes([0, 255, 0, 0, 0, 255, 0]) + bytes([0, 0, 0, 255, 9, 8, 7])
        blob = (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
        )
        px = png_decode(blob)
        expect = np.array(
            [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [9, 8, 7]]], np.uint8
        )
        assert np.array_equal(px, expect)

    def test_png_unsupported_raises(self):
        import struct
        import zlib

        import pytest

        from relation_extraction_cdr_spark.functions.codecs import png_decode

        def chunk(tag, body):
            return (
                struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
            )

        # sub-byte depths only pair with grey/palette (spec table 11.1
        # allows no others; the decoder pins the boundary explicitly)
        ihdr4rgb = struct.pack(">IIBBBBB", 1, 1, 4, 2, 0, 0, 0)
        blob = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr4rgb)
        with pytest.raises(NotImplementedError):
            png_decode(blob)
        # palette caps at 8-bit indices
        ihdr_p16 = struct.pack(">IIBBBBB", 1, 1, 16, 3, 0, 0, 0)
        with pytest.raises(NotImplementedError):
            png_decode(b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr_p16))
        with pytest.raises(ValueError):
            png_decode(b"notapng")
        # CRC validation: flip a byte inside a chunk body
        import numpy as np

        from relation_extraction_cdr_spark.functions.codecs import png_encode

        blob2 = bytearray(png_encode(np.zeros((4, 4, 3), np.uint8)))
        blob2[20] ^= 0xFF
        with pytest.raises(ValueError, match="bad CRC"):
            png_decode(bytes(blob2))

    def test_png_interlaced_pinned(self):
        """Hand-constructed 3x3 Adam7 greyscale PNG (filter 0 rows,
        pass stream laid out literally in spec order) decodes to the
        pinned pixel grid — the decoder's deinterlace is checked
        against the spec's pass geometry, not against the encoder."""
        import struct
        import zlib

        import numpy as np

        from relation_extraction_cdr_spark.functions.codecs import png_decode

        def chunk(tag, body):
            return (
                struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
            )

        v = [[11, 12, 13], [21, 22, 23], [31, 32, 33]]
        # Adam7 pass order for 3x3: p1=(0,0); p4=(0,2); p5=(2,0),(2,2);
        # p6=(0,1),(2,1); p7=row 1 entire
        raw = bytes(
            [0, v[0][0]]
            + [0, v[0][2]]
            + [0, v[2][0], v[2][2]]
            + [0, v[0][1]] + [0, v[2][1]]
            + [0, v[1][0], v[1][1], v[1][2]]
        )
        ihdr = struct.pack(">IIBBBBB", 3, 3, 8, 0, 0, 0, 1)
        blob = (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
        )
        assert np.array_equal(
            png_decode(blob), np.array(v, np.uint8)[:, :, None]
        )

    def test_png_subbyte_pinned(self):
        """Hand-constructed 1-bit and 4-bit greyscale PNGs (filter 0,
        scanlines packed by hand per spec 7.2: MSB-first, last byte
        right-padded) decode to the pinned grids — pins the bit
        unpacking against the spec, not against our encoder."""
        import struct
        import zlib

        import numpy as np

        from relation_extraction_cdr_spark.functions.codecs import png_decode

        def chunk(tag, body):
            return (
                struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
            )

        def blob(w, h, depth, color, raw, extra=b""):
            ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 0)
            return (
                b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + extra
                + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
            )

        # 1-bit 10x2: row0 = 1010101010 -> 0xAA 0x80; row1 = 0110011001
        # -> 0x66 0x40 (6 pad bits zeroed on the right)
        raw1 = bytes([0, 0xAA, 0x80, 0, 0x66, 0x40])
        got = png_decode(blob(10, 2, 1, 0, raw1))
        exp = np.array(
            [[1, 0, 1, 0, 1, 0, 1, 0, 1, 0], [0, 1, 1, 0, 0, 1, 1, 0, 0, 1]],
            np.uint8,
        )[:, :, None]
        assert np.array_equal(got, exp)
        # 4-bit 3x1: samples 0xA, 0x5, 0xC -> bytes 0xA5 0xC0
        got4 = png_decode(blob(3, 1, 4, 0, bytes([0, 0xA5, 0xC0])))
        assert np.array_equal(got4, np.array([[0xA, 0x5, 0xC]], np.uint8)[:, :, None])
        # 2-bit 4x1 palette: indices 3,0,2,1 -> byte 0b11001001
        pal = bytes([10, 11, 12, 40, 41, 42, 70, 71, 72, 100, 101, 102])
        gotp = png_decode(
            blob(4, 1, 2, 3, bytes([0, 0b11001001]), extra=chunk(b"PLTE", pal))
        )
        assert np.array_equal(
            gotp,
            np.array(
                [[[100, 101, 102], [10, 11, 12], [70, 71, 72], [40, 41, 42]]],
                np.uint8,
            ),
        )

    def test_png_subbyte_roundtrip(self):
        """Encoder<->decoder round-trips at depths 1/2/4 (grey and
        palette, plain and Adam7) with widths that cross byte
        boundaries, plus all five filter types via the cycling
        encoder."""
        import numpy as np

        from relation_extraction_cdr_spark.functions.codecs import (
            png_decode,
            png_encode,
            png_encode_palette,
        )

        rng = np.random.default_rng(41)
        for d in (1, 2, 4):
            for w, h in ((19, 11), (8, 6), (1, 3), (23, 7)):
                px = rng.integers(0, 1 << d, (h, w)).astype(np.uint8)
                for il in (False, True):
                    back = png_decode(png_encode(px, interlace=il, depth=d))
                    assert back.shape == (h, w, 1)
                    assert (back[:, :, 0] == px).all(), (d, w, h, il)
            n = 1 << d
            pal = rng.integers(0, 256, (n, 3)).astype(np.uint8)
            idx = rng.integers(0, n, (9, 17)).astype(np.uint8)
            trns = rng.integers(0, 256, max(1, n // 2)).astype(np.uint8)
            exp_a = np.full(n, 255, np.uint8)
            exp_a[: len(trns)] = trns
            for il in (False, True):
                back = png_decode(
                    png_encode_palette(idx, pal, trns=trns, interlace=il, depth=d)
                )
                assert back.shape == (9, 17, 4)
                assert (back[:, :, :3] == pal[idx]).all()
                assert (back[:, :, 3] == exp_a[idx]).all(), (d, il)
        with pytest.raises(ValueError):  # sample out of range for depth
            png_encode(np.full((2, 2), 4, np.uint8), depth=2)

    def test_png_palette_roundtrip(self):
        """Palette encode -> decode == palette lookup; tRNS adds the
        alpha plane (shorter-than-palette tRNS pads with opaque 255)."""
        import numpy as np

        from relation_extraction_cdr_spark.functions.codecs import (
            png_decode,
            png_encode_palette,
        )

        rng = np.random.default_rng(5)
        pal = rng.integers(0, 256, (17, 3), dtype=np.uint8)
        idx = rng.integers(0, 17, (9, 13), dtype=np.uint8)
        for interlace in (False, True):
            got = png_decode(png_encode_palette(idx, pal, interlace=interlace))
            assert np.array_equal(got, pal[idx])
        trns = np.array([0, 128, 255], np.uint8)  # entries 3+ -> 255
        got = png_decode(png_encode_palette(idx, pal, trns=trns))
        assert got.shape == (9, 13, 4)
        assert np.array_equal(got[:, :, :3], pal[idx])
        alpha = np.full(17, 255, np.uint8)
        alpha[:3] = trns
        assert np.array_equal(got[:, :, 3], alpha[idx])

    def test_png_depth16_and_variants_roundtrip(self):
        """16-bit grey/RGB/RGBA, 8-bit grey+alpha, and Adam7 interlace
        all survive encode -> decode bit-exactly (filter cycling crosses
        pass boundaries, so every unfilter branch runs per pass)."""
        import numpy as np

        from relation_extraction_cdr_spark.functions.codecs import (
            png_decode,
            png_encode,
        )

        rng = np.random.default_rng(11)
        cases = [
            rng.integers(0, 65536, (7, 9, 1), dtype=np.uint16),
            rng.integers(0, 65536, (6, 5, 3), dtype=np.uint16),
            rng.integers(0, 65536, (8, 3, 4), dtype=np.uint16),
            rng.integers(0, 256, (10, 11, 2), dtype=np.uint8),  # grey+alpha
        ]
        for px in cases:
            for interlace in (False, True):
                got = png_decode(png_encode(px, interlace=interlace))
                assert got.dtype == px.dtype and np.array_equal(got, px), (
                    px.shape, px.dtype, interlace,
                )
        # odd sizes around the Adam7 pass boundaries
        for h, w in [(1, 1), (1, 8), (8, 1), (2, 3), (5, 5), (9, 16)]:
            px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            got = png_decode(png_encode(px, interlace=True))
            assert np.array_equal(got, px), (h, w)

    def test_png_roundtrip_property(self):
        """Any uint8 RGB array survives encode->decode bit-exactly —
        every width hits a different filter-type cycle alignment and
        every height exercises the Paeth/up/average predecessors."""
        import numpy as np
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from relation_extraction_cdr_spark.functions.codecs import (
            png_decode,
            png_encode,
        )

        @settings(max_examples=40, deadline=None)
        @given(
            w=st.integers(1, 40),
            h=st.integers(1, 24),
            seed=st.integers(0, 2**31 - 1),
        )
        def check(w, h, seed):
            px = np.random.default_rng(seed).integers(
                0, 256, (h, w, 3), dtype=np.uint8
            )
            assert np.array_equal(png_decode(png_encode(px)), px)

        check()

    def test_codec_edges_roundtrip_property(self):
        """Property sweep over the round-4 codec surface: sub-byte PNG
        (random depth/interlace), progressive JPEG (coefficients match
        baseline on the real grid at any shape/subsampling/restart),
        and AVI frames — any seed, any geometry."""
        import numpy as np
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from relation_extraction_cdr_spark.functions.codecs import (
            _comp_block_grid,
            avi_decode,
            avi_encode,
            jpeg_decode_coeffs,
            jpeg_encode,
            jpeg_encode_progressive,
            png_decode,
            png_encode,
        )

        @settings(max_examples=25, deadline=None)
        @given(
            w=st.integers(1, 33),
            h=st.integers(1, 19),
            depth=st.sampled_from([1, 2, 4]),
            interlace=st.booleans(),
            seed=st.integers(0, 2**31 - 1),
        )
        def check_png(w, h, depth, interlace, seed):
            px = np.random.default_rng(seed).integers(
                0, 1 << depth, (h, w), dtype=np.uint8
            )
            back = png_decode(png_encode(px, interlace=interlace, depth=depth))
            assert np.array_equal(back[:, :, 0], px)

        @settings(max_examples=15, deadline=None)
        @given(
            w=st.integers(8, 48),
            h=st.integers(8, 32),
            sub=st.sampled_from(["444", "422", "420"]),
            ri=st.sampled_from([0, 1, 3]),
            seed=st.integers(0, 2**31 - 1),
        )
        def check_jpeg(w, h, sub, ri, seed):
            px = np.random.default_rng(seed).integers(
                0, 256, (h, w, 3), dtype=np.uint8
            )
            bh_, bw_, bb, _q, samps = jpeg_decode_coeffs(
                jpeg_encode(px, subsampling=sub)
            )
            hmax = max(s[0] for s in samps)
            vmax = max(s[1] for s in samps)
            _h2, _w2, pb, _q2, _s2 = jpeg_decode_coeffs(
                jpeg_encode_progressive(px, subsampling=sub, restart_interval=ri)
            )
            for ci, (x, y) in enumerate(zip(bb, pb)):
                gb, gw = _comp_block_grid(bh_, bw_, *samps[ci], hmax, vmax)
                assert np.array_equal(x[:gb, :gw], y[:gb, :gw]), (ci, sub, ri)

        @settings(max_examples=15, deadline=None)
        @given(
            n=st.integers(1, 6),
            w=st.integers(1, 21),
            h=st.integers(1, 13),
            seed=st.integers(0, 2**31 - 1),
        )
        def check_avi(n, w, h, seed):
            fr = np.random.default_rng(seed).integers(
                0, 256, (n, h, w, 3), dtype=np.uint8
            )
            back, _fps = avi_decode(avi_encode(fr))
            assert np.array_equal(back, fr)

        check_png()
        check_jpeg()
        check_avi()

    def test_wav_roundtrip_property(self):
        """Any int16 mono/stereo clip at any rate survives
        encode->decode bit-exactly, including odd data-chunk lengths
        (word-alignment padding on the chunk walk)."""
        import numpy as np
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from relation_extraction_cdr_spark.functions.codecs import (
            wav_decode,
            wav_encode,
        )

        @settings(max_examples=40, deadline=None)
        @given(
            n=st.integers(1, 2000),
            ch=st.integers(1, 2),
            rate=st.sampled_from([8000, 16000, 22050, 44100]),
            seed=st.integers(0, 2**31 - 1),
        )
        def check(n, ch, rate, seed):
            s = np.random.default_rng(seed).integers(
                -32768, 32768, (n, ch), dtype=np.int16
            )
            back, back_rate = wav_decode(wav_encode(s, sample_rate=rate))
            assert back_rate == rate
            assert np.array_equal(back, s)

        check()

    def test_wav_formats_roundtrip(self):
        """PCM-8/24/32 and IEEE float32 round-trip exactly; 24-bit
        sign extension pinned on negative samples crossing the byte
        boundary; unsupported codes still raise."""
        import numpy as np
        import pytest

        from relation_extraction_cdr_spark.functions.codecs import (
            wav_decode,
            wav_encode,
        )

        rng = np.random.default_rng(31)
        s8 = rng.integers(0, 256, (33, 2)).astype(np.uint8)
        out, rate = wav_decode(wav_encode(s8, 8000, fmt="pcm8"))
        assert rate == 8000 and out.dtype == np.uint8
        assert np.array_equal(out, s8)
        s24 = np.array(
            [[-(1 << 23)], [-1], [0], [1], [(1 << 23) - 1], [-4660]],
            np.int32,
        )
        out, _ = wav_decode(wav_encode(s24, fmt="pcm24"))
        assert out.dtype == np.int32 and np.array_equal(out, s24)
        s32 = rng.integers(-(1 << 31), 1 << 31, (21, 3)).astype(np.int32)
        out, _ = wav_decode(wav_encode(s32, fmt="pcm32"))
        assert np.array_equal(out, s32)
        f32 = rng.standard_normal((17, 1)).astype(np.float32)
        out, _ = wav_decode(wav_encode(f32, fmt="float32"))
        assert out.dtype == np.float32 and np.array_equal(out, f32)
        # odd data length pads the RIFF chunk to word alignment
        odd = wav_encode(np.array([[7], [8], [9]], np.uint8), fmt="pcm8")
        assert len(odd) % 2 == 0
        out, _ = wav_decode(odd)
        assert out.reshape(-1).tolist() == [7, 8, 9]
        with pytest.raises(NotImplementedError):
            wav_encode(s8, fmt="adpcm")
        blob = bytearray(wav_encode(s8, fmt="pcm8"))
        i = blob.find(b"fmt ")
        blob[i + 8 : i + 10] = (2).to_bytes(2, "little")  # ADPCM code
        with pytest.raises(NotImplementedError):
            wav_decode(bytes(blob))

    def test_trns_validation(self):
        """tRNS longer than PLTE is rejected at encode time with a
        clear error, and a foreign file with the same defect gets a
        clean decode error (not a numpy broadcast crash)."""
        import struct
        import zlib

        import numpy as np
        import pytest

        from relation_extraction_cdr_spark.functions.codecs import (
            png_decode,
            png_encode_palette,
        )

        idx = np.zeros((2, 2), np.uint8)
        pal = np.zeros((8, 3), np.uint8)
        with pytest.raises(ValueError, match="tRNS longer than PLTE"):
            png_encode_palette(idx, pal, trns=np.arange(12, dtype=np.uint8))

        def chunk(tag, body):
            return (
                struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0)
        blob = (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"PLTE", bytes(6))  # 2 entries
            + chunk(b"tRNS", bytes(5))  # 5 alphas > 2 entries
            + chunk(b"IDAT", zlib.compress(bytes([0, 0, 1])))
            + chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="tRNS longer than PLTE"):
            png_decode(blob)

    def test_png_truncated_and_foreign_trns(self):
        """Hostile-input contract: a PNG cut mid-chunk raises the
        codec's ValueError (never struct.error, and never a misreported
        'bad CRC' on a short final chunk).  tRNS on a grey or RGB file
        — where the chunk holds a 16-bit sample value, not palette
        alphas (PNG 11.3.2) — is skipped: the file decodes to exactly
        the pixels of the same file without it, with no alpha plane."""
        import struct
        import zlib

        import numpy as np
        import pytest

        from relation_extraction_cdr_spark.functions.codecs import (
            png_decode,
            png_encode,
        )

        rng = np.random.default_rng(7)
        blob = png_encode(rng.integers(0, 256, (5, 7, 3)).astype(np.uint8))
        # cut inside every region of the last chunk: length word, tag,
        # body, and CRC
        for cut in (len(blob) - 1, len(blob) - 5, len(blob) - 11):
            with pytest.raises(ValueError, match="truncated"):
                png_decode(blob[:cut])

        def chunk(tag, body):
            return (
                struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
            )

        def png(color, ch, rows, trns):
            w = len(rows[0]) // ch
            ihdr = struct.pack(">IIBBBBB", w, len(rows), 8, color, 0, 0, 0)
            raw = b"".join(b"\x00" + bytes(r) for r in rows)  # filter None
            extra = chunk(b"tRNS", trns) if trns else b""
            return (
                b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + extra
                + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
            )

        grey = [[0, 99, 255], [7, 8, 9]]
        rgb = [[1, 2, 3, 40, 50, 60], [200, 100, 0, 9, 9, 9]]
        for color, ch, rows, trns in (
            (0, 1, grey, struct.pack(">H", 99)),
            (2, 3, rgb, struct.pack(">HHH", 40, 50, 60)),
        ):
            plain = png_decode(png(color, ch, rows, None))
            with_trns = png_decode(png(color, ch, rows, trns))
            assert with_trns.dtype == plain.dtype == np.uint8
            assert with_trns.shape == plain.shape == (2, len(rows[0]) // ch, ch)
            assert np.array_equal(with_trns, plain)
            assert plain.reshape(2, -1).tolist() == rows

    def test_png_inflate_bomb_is_bounded(self):
        """A ~250 KB PNG whose IHDR declares 1x1 but whose IDAT inflates
        to 256 MB raises the length-mismatch ValueError after inflating
        only the bytes IHDR implies (plain and Adam7); a header that
        declares more than PNG_MAX_PIXELS raises before any inflate."""
        import struct
        import tracemalloc
        import zlib

        import pytest

        from relation_extraction_cdr_spark.functions.codecs import (
            PNG_MAX_PIXELS,
            png_decode,
        )

        def chunk(tag, body):
            return (
                struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
            )

        deflate = zlib.compressobj(9)
        zeros = bytes(1 << 20)
        bomb = b"".join(deflate.compress(zeros) for _ in range(256)) + deflate.flush()
        assert len(bomb) < 300_000

        def png(w, h, interlace, idat):
            ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, interlace)
            return (
                b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
            )

        for interlace in (0, 1):
            blob = png(1, 1, interlace, bomb)
            tracemalloc.start()
            try:
                with pytest.raises(ValueError, match="length mismatch"):
                    png_decode(blob)
                peak = tracemalloc.get_traced_memory()[1]
            finally:
                tracemalloc.stop()
            assert peak < 8 << 20, (interlace, peak)
        side = 1 << 13  # 8192 x 8192 = 2 * PNG_MAX_PIXELS
        assert side * side > PNG_MAX_PIXELS
        with pytest.raises(ValueError, match="exceeds"):
            png_decode(png(side, side, 0, bomb))

    def test_avi_audio_stream_strf_ignored(self):
        """An AVI that carries an audio stream alongside the video one
        still decodes: the audio strl's strf is a WAVEFORMATEX, not a
        BITMAPINFOHEADER, so parsing it as bits/compression would
        spuriously raise NotImplementedError."""
        import struct

        import numpy as np

        from relation_extraction_cdr_spark.functions.codecs import (
            avi_decode,
            avi_encode,
        )

        def riff_chunk(tag, body):
            pad = b"\x00" if len(body) % 2 else b""
            return tag + struct.pack("<I", len(body)) + body + pad

        def riff_list(tag, body):
            return riff_chunk(b"LIST", tag + body)

        rng = np.random.default_rng(31)
        frames = rng.integers(0, 256, (3, 4, 4, 3)).astype(np.uint8)
        blob = avi_encode(frames, fps=10)
        # splice an audio strl (strh fccType 'auds' + WAVEFORMATEX
        # strf: PCM fmt tag 1, 1ch, 8kHz — fields that would read as
        # bits=8000&0xFFFF, comp=garbage if misparsed as a DIB header)
        auds_strh = b"auds" + b"\x00" * 52
        wfx = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        audio_strl = riff_list(
            b"strl", riff_chunk(b"strh", auds_strh) + riff_chunk(b"strf", wfx)
        )
        movi_at = blob.find(b"LIST", 12)
        # walk to the movi LIST (the one whose list-type is 'movi')
        p = 12
        while True:
            tag = blob[p : p + 4]
            (ln,) = struct.unpack("<I", blob[p + 4 : p + 8])
            if tag == b"LIST" and blob[p + 8 : p + 12] == b"movi":
                movi_at = p
                break
            p += 8 + ln + (ln & 1)
        patched = blob[:movi_at] + audio_strl + blob[movi_at:]
        patched = (
            patched[:4]
            + struct.pack("<I", len(patched) - 8)
            + patched[8:]
        )
        got, fps = avi_decode(patched)
        assert fps == 10.0
        assert np.array_equal(got, frames)

    def test_wav_feature_fullscale_normalization(self, spark):
        """extract_features normalizes audio by each format's full
        scale: a full-scale float32 sine and the same wave as PCM-16
        produce (nearly) the same rms feature; PCM-8 silence is 0."""
        import numpy as np

        from relation_extraction_cdr_spark.functions.codecs import wav_encode

        t = np.arange(800)
        wave = np.sin(2 * np.pi * t / 50.0)
        blobs = [
            (0, wav_encode((wave * 32767).astype(np.int16), 8000)),
            (1, wav_encode(wave.astype(np.float32), 8000, fmt="float32")),
            (2, wav_encode(np.full((64, 1), 128, np.uint8), 8000, fmt="pcm8")),
        ]
        media = spark.createDataFrame(
            [(i, "audio", bytearray(b), (0, 0, 0, "wav")) for i, b in blobs],
            MM.MEDIA_SCHEMA,
        )
        rows = {r.media_id: r.feature for r in MM.extract_features(media).collect()}
        rms16, rmsf = rows[0][4], rows[1][4]
        assert abs(rms16 - rmsf) < 1e-3 and 0.6 < rmsf < 0.8
        assert rows[2][3] == 0.0 and rows[2][4] == 0.0  # pcm8 silence

    def test_g711_companding(self):
        """G.711 µ-law/a-law: decode tables AND the segment-search
        encoders are byte-exact with the stdlib audioop reference over
        the FULL domains (all 256 code bytes, all 65536 int16 samples);
        the WAV container round-trips format codes 6/7 with linear
        int16 expansion."""
        import numpy as np
        import pytest

        audioop = pytest.importorskip("audioop")  # removed in 3.13

        from relation_extraction_cdr_spark.functions.codecs import (
            _ALAW_DEC,
            _ULAW_DEC,
            alaw_encode,
            ulaw_encode,
            wav_decode,
            wav_encode,
        )

        allb = bytes(range(256))
        assert np.array_equal(
            _ULAW_DEC, np.frombuffer(audioop.ulaw2lin(allb, 2), "<i2")
        )
        assert np.array_equal(
            _ALAW_DEC, np.frombuffer(audioop.alaw2lin(allb, 2), "<i2")
        )
        allv = np.arange(-32768, 32768, dtype=np.int16)
        raw = allv.astype("<i2").tobytes()
        assert np.array_equal(
            ulaw_encode(allv),
            np.frombuffer(audioop.lin2ulaw(raw, 2), np.uint8),
        )
        assert np.array_equal(
            alaw_encode(allv),
            np.frombuffer(audioop.lin2alaw(raw, 2), np.uint8),
        )
        # container: encode companded -> decode expands to the same
        # linear values audioop produces for the same code bytes
        s = np.array([[0], [1], [-1], [1000], [-32768], [32767]], np.int16)
        for fmt, enc, dec_tab in (
            ("ulaw", ulaw_encode, _ULAW_DEC),
            ("alaw", alaw_encode, _ALAW_DEC),
        ):
            out, rate = wav_decode(wav_encode(s, 8000, fmt=fmt))
            assert rate == 8000 and out.dtype == np.int16
            assert np.array_equal(out, dec_tab[enc(s)])

    def test_jpeg_16bit_quant_tables(self):
        """DQT Pq=1 (16-bit big-endian entries) parses on both decode
        paths; the encoder switches precision automatically when an
        entry exceeds 255 — and, because T.81 B.2.4.1 forbids Pq=1 in
        a baseline stream, the sequential encoder then emits SOF1
        (extended sequential) instead of SOF0 so third-party decoders
        accept the file."""
        import numpy as np

        from relation_extraction_cdr_spark.functions.codecs import (
            jpeg_decode,
            jpeg_decode_coeffs,
            jpeg_encode,
            jpeg_encode_progressive,
        )

        rng = np.random.default_rng(59)
        px = rng.integers(0, 256, (17, 29, 3)).astype(np.uint8)
        qbig = np.full(64, 300, np.int64)
        for f in (jpeg_encode, jpeg_encode_progressive):
            enc = f(px, quant_luma=qbig, quant_chroma=qbig, subsampling="420")
            _h, _w, _blocks, quants, _s = jpeg_decode_coeffs(enc)
            assert all(np.array_equal(q, qbig) for q in quants)
            assert jpeg_decode(enc).shape == (17, 29, 3)
        # marker-level pin: >255 quant -> SOF1, never SOF0+Pq=1;
        # 8-bit quant keeps plain baseline SOF0
        big = jpeg_encode(px, quant_luma=qbig, quant_chroma=qbig)
        assert b"\xff\xc1" in big and b"\xff\xc0" not in big
        small = jpeg_encode(px)
        assert b"\xff\xc0" in small and b"\xff\xc1" not in small
        # closed form through a 16-bit table: flat 200 grey at q=256 ->
        # DC = rint(8*(200-128)/256) = 2 -> back 2*256/8 + 128 = 192
        flat = np.full((16, 16), 200, np.uint8)
        q256 = np.full(64, 256, np.int64)
        out = jpeg_decode(jpeg_encode(flat, quant_luma=q256))
        assert np.unique(out).tolist() == [192]

    def test_avi_roundtrip_and_pinned_layout(self):
        """Uncompressed AVI: encoder<->decoder round-trips exactly
        (odd widths force the 4-byte row-stride pad), and a hand-built
        single-frame file pins the DIB layout — bottom-up rows, BGR
        sample order, stride padding — against the format spec rather
        than our encoder."""
        import struct

        import numpy as np
        import pytest

        from relation_extraction_cdr_spark.functions.codecs import (
            avi_decode,
            avi_encode,
        )

        rng = np.random.default_rng(23)
        for n, h, w in ((1, 4, 4), (5, 9, 13), (3, 17, 21)):
            fr = rng.integers(0, 256, (n, h, w, 3)).astype(np.uint8)
            back, fps = avi_decode(avi_encode(fr, fps=12))
            assert fps == 12.0 and np.array_equal(back, fr), (n, h, w)
        # hand-built 2x2 single frame: stride pad 2 bytes; DIB rows are
        # bottom-up BGR, so the FIRST stored row is the BOTTOM image row
        def chunk(cc, data):
            pad = b"\x00" if len(data) & 1 else b""
            return cc + struct.pack("<I", len(data)) + data + pad

        def lst(t, children):
            return chunk(b"LIST", t + children)

        avih = struct.pack("<14I", 100000, 0, 0, 0, 1, 0, 1, 0, 2, 2, 0, 0, 0, 0)
        strh = (
            b"vids" + b"DIB " + struct.pack("<IHH", 0, 0, 0)
            + struct.pack("<7I", 0, 1, 10, 0, 1, 0, 0)
            + struct.pack("<I", 0) + struct.pack("<4H", 0, 0, 2, 2)
        )
        strf = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, 0, 0, 0, 0, 0)
        # bottom row: px(1,0)=BGR(3,2,1) px(1,1)=BGR(6,5,4); pad 00 00
        # top row:    px(0,0)=BGR(9,8,7) px(0,1)=BGR(12,11,10); pad
        dib = bytes([3, 2, 1, 6, 5, 4, 0, 0, 9, 8, 7, 12, 11, 10, 0, 0])
        body = (
            b"AVI "
            + lst(b"hdrl", chunk(b"avih", avih)
                  + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
            + lst(b"movi", chunk(b"00db", dib))
        )
        blob = b"RIFF" + struct.pack("<I", len(body)) + body
        frames, fps = avi_decode(blob)
        assert fps == 10.0
        exp = np.array(
            [[[[7, 8, 9], [10, 11, 12]], [[1, 2, 3], [4, 5, 6]]]], np.uint8
        )
        assert np.array_equal(frames, exp)
        # compressed streams stay the documented seam
        strf_mjpg = struct.pack(
            "<IiiHHIIiiII", 40, 2, 2, 1, 24, 0x47504A4D, 0, 0, 0, 0, 0
        )
        body2 = body.replace(strf, strf_mjpg)
        with pytest.raises(NotImplementedError):
            avi_decode(b"RIFF" + struct.pack("<I", len(body2)) + body2)

    def test_extract_features_real_avi(self, spark):
        """extract_features strides over ACTUAL decoded AVI frames:
        n_frames = ceil(nf / stride) and the channel means come from
        the sampled frames only."""
        import numpy as np

        from relation_extraction_cdr_spark.functions.codecs import avi_encode

        nf, h, w = 7, 6, 5
        f = np.arange(nf)[:, None, None, None]
        c = np.arange(3)[None, None, None, :]
        fr = ((40 * f + 3 * c) % 256).astype(np.uint8) * np.ones(
            (1, h, w, 1), np.uint8
        )
        blob = avi_encode(fr, fps=10)
        media = spark.createDataFrame(
            [(0, "video", bytearray(blob), (w, h, 700, "avi"))],
            MM.MEDIA_SCHEMA,
        )
        row = MM.extract_features(media, frame_stride=3).collect()[0]
        assert row.n_frames == 3  # frames 0, 3, 6
        feat = row.feature
        assert feat[:4] == [float(w), float(h), 3.0, 10.0]
        # channel-0 mean over frames 0,3,6: (0 + 120 + 240)/3 / 255
        assert abs(feat[5] - (0 + 120 + 240) / 3 / 255.0) < 1e-6

    def test_wav_roundtrip(self):
        import numpy as np

        from relation_extraction_cdr_spark.functions.codecs import (
            wav_decode,
            wav_encode,
        )

        rng = np.random.default_rng(5)
        s = rng.integers(-32768, 32767, (480, 2), dtype=np.int16)
        back, rate = wav_decode(wav_encode(s, sample_rate=8000))
        assert rate == 8000
        assert np.array_equal(back, s)

    def test_extract_features_real_png_and_wav(self, spark):
        """The decode dispatch runs REAL codecs distributed: PNG feature
        carries (w, h, ch, means), WAV carries (rate, n, ch, ...)."""
        import numpy as np

        from relation_extraction_cdr_spark.functions.codecs import (
            png_encode,
            wav_encode,
        )
        from relation_extraction_cdr_spark.operators.multimodal import (
            extract_features,
        )

        px = np.full((4, 6, 3), 100, np.uint8)
        px[:, :, 1] = 200
        wv = np.full(1600, 1024, np.int16)
        rows = [
            (1, "image", bytearray(png_encode(px)),
             {"width": 6, "height": 4, "duration_ms": 0, "codec": "png"}),
            (2, "audio", bytearray(wav_encode(wv, 16000)),
             {"width": 0, "height": 0, "duration_ms": 100, "codec": "pcm16"}),
        ]
        media = spark.createDataFrame(
            rows,
            "media_id long, kind string, payload binary, "
            "meta struct<width:int,height:int,duration_ms:int,codec:string>",
        )
        got = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
        f1 = got[1]
        assert f1[:3] == [6.0, 4.0, 3.0]
        assert abs(f1[4] - 100 / 255) < 1e-6 and abs(f1[5] - 200 / 255) < 1e-6
        f2 = got[2]
        assert f2[0] == 16.0 and f2[1] == 1600.0 and f2[2] == 1.0
        assert abs(f2[3] - 1024 / 32768) < 1e-9


class TestJpegCodec:
    """Baseline JPEG (functions/codecs.py): bitstream-exact coefficient
    roundtrip, bounded lossy pixel roundtrip, flat-block exactness (the
    q94 oracle's contract), and the documented seam raises."""

    def test_coefficients_roundtrip_bit_exact(self):
        """The bitstream layer (canonical Annex-K huffman, zigzag, DC
        prediction, ZRL/EOB, byte stuffing) is LOSSLESS: the decoder's
        parsed coefficient blocks equal the encoder's quantized
        coefficients exactly, grey and color."""
        import numpy as np

        from relation_extraction_cdr_spark.functions.codecs import (
            _Q_FLAT8,
            _component_blocks,
            jpeg_decode_coeffs,
            jpeg_encode,
        )

        rng = np.random.default_rng(11)
        for shape in ((14, 19), (17, 21, 3), (8, 8), (9, 25, 3)):
            px = rng.integers(0, 256, size=shape, dtype=np.uint8)
            enc = jpeg_encode(px)
            h, w, blocks, quants, samps = jpeg_decode_coeffs(enc)
            assert (h, w) == shape[:2]
            assert all(s == (1, 1) for s in samps)
            if px.ndim == 2:
                planes = [px.astype(np.float64)]
            else:
                r, g, b = (px[..., i].astype(np.float64) for i in range(3))
                planes = [
                    np.clip(np.rint(0.299 * r + 0.587 * g + 0.114 * b), 0, 255),
                    np.clip(np.rint(-0.168736 * r - 0.331264 * g + 0.5 * b + 128.0), 0, 255),
                    np.clip(np.rint(0.5 * r - 0.418688 * g - 0.081312 * b + 128.0), 0, 255),
                ]
            for ci, plane in enumerate(planes):
                want = _component_blocks(plane, _Q_FLAT8)
                assert np.array_equal(blocks[ci], want), f"shape={shape} comp={ci}"
                assert np.array_equal(quants[ci], _Q_FLAT8)

    def test_lossy_roundtrip_bounded(self):
        """decode(encode(img)) stays within the flat-8 quantization
        error envelope on dense random content."""
        import numpy as np

        from relation_extraction_cdr_spark.functions.codecs import (
            jpeg_decode,
            jpeg_encode,
        )

        rng = np.random.default_rng(3)
        grey = rng.integers(0, 256, size=(24, 31), dtype=np.uint8)
        back = jpeg_decode(jpeg_encode(grey))[:, :, 0]
        assert int(np.abs(back.astype(int) - grey.astype(int)).max()) <= 32
        rgb = rng.integers(0, 256, size=(16, 18, 3), dtype=np.uint8)
        back3 = jpeg_decode(jpeg_encode(rgb))
        assert back3.shape == rgb.shape
        assert int(np.abs(back3.astype(int) - rgb.astype(int)).max()) <= 48

    def test_flat_blocks_exact(self):
        """Flat 8x8 blocks decode EXACTLY (DC-only coefficients divide
        the flat-8 quant exactly) — grey and neutral-chroma color; this
        is the closed form q94's DuckDB oracle computes."""
        import numpy as np

        from relation_extraction_cdr_spark.functions.codecs import (
            jpeg_decode,
            jpeg_encode,
        )

        for did in (0, 3, 7):
            w, h = 19 + did % 5, 14 + did % 3
            bx = (np.arange(w) // 8)[None, :]
            by = (np.arange(h) // 8)[:, None]
            v = (28 + (31 * did + 7 * bx + 13 * by) % 173).astype(np.uint8)
            assert (jpeg_decode(jpeg_encode(v))[:, :, 0] == v).all()
            rgb = np.repeat(v[:, :, None], 3, axis=2)
            assert (jpeg_decode(jpeg_encode(rgb)) == rgb).all()

    def test_jpeg_subsampled_coefficients_bit_exact(self):
        """4:2:0 / 4:2:2 scans: the decoder's parsed blocks equal the
        encoder's quantized coefficients exactly per component — MCU
        interleave (vs*hs luma blocks + 1 per chroma, T.81 A.2.3),
        MCU-padded grids, and the box-mean chroma downsample all on the
        compared path; SOF sampling factors parse back correctly."""
        import numpy as np

        from relation_extraction_cdr_spark.functions.codecs import (
            _Q_FLAT8,
            _chroma_downsample,
            _component_blocks,
            jpeg_decode_coeffs,
            jpeg_encode,
        )

        rng = np.random.default_rng(23)
        for sub, (hs, vs) in (("420", (2, 2)), ("422", (2, 1))):
            for shape in ((16, 16, 3), (17, 21, 3), (9, 40, 3)):
                px = rng.integers(0, 256, size=shape, dtype=np.uint8)
                enc = jpeg_encode(px, subsampling=sub)
                h, w, blocks, quants, samps = jpeg_decode_coeffs(enc)
                assert (h, w) == shape[:2]
                assert samps == [(hs, vs), (1, 1), (1, 1)]
                r, g, b = (px[..., i].astype(np.float64) for i in range(3))
                y = np.clip(np.rint(0.299 * r + 0.587 * g + 0.114 * b), 0, 255)
                cb = np.clip(np.rint(-0.168736 * r - 0.331264 * g + 0.5 * b + 128.0), 0, 255)
                cr = np.clip(np.rint(0.5 * r - 0.418688 * g - 0.081312 * b + 128.0), 0, 255)
                want = [
                    _component_blocks(y, _Q_FLAT8, (vs, hs)),
                    _component_blocks(_chroma_downsample(cb, hs, vs), _Q_FLAT8),
                    _component_blocks(_chroma_downsample(cr, hs, vs), _Q_FLAT8),
                ]
                for ci in range(3):
                    assert np.array_equal(blocks[ci], want[ci]), (sub, shape, ci)

    def test_jpeg_subsampled_flat_cells_exact(self):
        """Grey-valued RGB in flat 16x16 cells decodes EXACTLY under
        4:2:0 and 4:2:2 (flat cells survive box downsample, DC-only
        blocks divide flat-8 exactly, Cb=Cr=128 exactly for r=g=b) —
        the closed form q96's DuckDB oracle computes."""
        import numpy as np

        from relation_extraction_cdr_spark.functions.codecs import (
            jpeg_decode,
            jpeg_encode,
        )

        for did in (0, 1, 5, 10):
            w, h = 21 + did % 7, 17 + did % 5
            cx = (np.arange(w) // 16)[None, :]
            cy = (np.arange(h) // 16)[:, None]
            v = (28 + (31 * did + 7 * cx + 13 * cy) % 199).astype(np.uint8)
            rgb = np.repeat(v[:, :, None], 3, axis=2)
            for sub in ("420", "422", "444"):
                back = jpeg_decode(jpeg_encode(rgb, subsampling=sub))
                assert np.array_equal(back, rgb), (did, sub)

    def test_jpeg_restart_intervals(self):
        """DRI/RSTn: a restart-interval stream carries the DRI segment,
        byte-aligned RSTn markers cycling D0..D7, and decodes to
        coefficients IDENTICAL to the no-restart stream (DC prediction
        reset at each marker on both sides)."""
        import numpy as np

        from relation_extraction_cdr_spark.functions.codecs import (
            jpeg_decode,
            jpeg_decode_coeffs,
            jpeg_encode,
        )

        rng = np.random.default_rng(43)
        for shape, sub in (
            ((24, 40), "444"),
            ((24, 40, 3), "420"),
            ((17, 29, 3), "422"),
            ((80, 16), "444"),  # >8 restarts: marker modulo-8 cycle
        ):
            px = rng.integers(0, 256, size=shape, dtype=np.uint8)
            plain = jpeg_encode(px, subsampling=sub)
            for ri in (1, 2, 3):
                enc = jpeg_encode(px, subsampling=sub, restart_interval=ri)
                assert b"\xff\xdd" in enc
                blocks_p = jpeg_decode_coeffs(plain)[2]
                blocks_r = jpeg_decode_coeffs(enc)[2]
                for a, b in zip(blocks_p, blocks_r):
                    assert np.array_equal(a, b), (shape, sub, ri)
                assert np.array_equal(jpeg_decode(plain), jpeg_decode(enc))
        # marker cycle D0..D7,D0,... pinned on the 10-MCU-per-restart
        # column image: 80x16 grey at ri=1 -> 19 markers
        enc = jpeg_encode(
            rng.integers(0, 256, size=(80, 16), dtype=np.uint8),
            restart_interval=1,
        )
        sos = enc.find(b"\xff\xda")
        markers = []
        p = sos + 2
        while p < len(enc) - 1:
            if enc[p] == 0xFF and 0xD0 <= enc[p + 1] <= 0xD7:
                markers.append(enc[p + 1] - 0xD0)
                p += 2
                continue
            p += 1
        assert len(markers) == 19  # 20 MCUs, marker between each pair
        assert markers == [i % 8 for i in range(19)]

    def test_jpeg_progressive_parity(self):
        """Progressive (SOF2) encode -> decode: coefficients IDENTICAL
        to the baseline encoder's on every REAL block (MCU-pad blocks
        legitimately carry DC only — progressive AC scans cover the
        component's own grid, T.81 A.2.2 — and are cropped anyway),
        decoded pixels bit-identical to the baseline decode.  Runs the
        full default scan script: DC first with point transform, DC
        refinement, band-split AC first scans at Al=2, and two AC
        successive-approximation refinement passes (EOBn runs +
        correction bits), with and without restart intervals."""
        import numpy as np

        from relation_extraction_cdr_spark.functions.codecs import (
            _comp_block_grid,
            jpeg_decode,
            jpeg_decode_coeffs,
            jpeg_encode,
            jpeg_encode_progressive,
        )

        rng = np.random.default_rng(47)
        cases = [
            ((8, 8), "444"), ((24, 40), "444"), ((5, 200), "444"),
            ((24, 40, 3), "444"), ((24, 40, 3), "420"),
            ((17, 29, 3), "422"), ((64, 48, 3), "420"),
        ]
        for shape, sub in cases:
            px = rng.integers(0, 256, size=shape, dtype=np.uint8)
            sub = sub if len(shape) == 3 else "444"
            base = jpeg_encode(px, subsampling=sub)
            h, w, bb, _q, samps = jpeg_decode_coeffs(base)
            hmax = max(s[0] for s in samps)
            vmax = max(s[1] for s in samps)
            for ri in (0, 2):
                prog = jpeg_encode_progressive(
                    px, subsampling=sub, restart_interval=ri
                )
                assert b"\xff\xc2" in prog and prog.count(b"\xff\xda") >= 6
                _h, _w, pb, _pq, _ps = jpeg_decode_coeffs(prog)
                for ci, (x, y) in enumerate(zip(bb, pb)):
                    hb, wb = _comp_block_grid(h, w, *samps[ci], hmax, vmax)
                    assert np.array_equal(x[:hb, :wb], y[:hb, :wb]), (
                        shape, sub, ri, ci,
                    )
                assert np.array_equal(jpeg_decode(base), jpeg_decode(prog))
        # flat image: the AC first scans collapse to a single EOBn run
        # spanning every block — pins the multi-block run-length path
        flat = np.full((48, 64), 131, np.uint8)
        assert np.array_equal(
            jpeg_decode(jpeg_encode_progressive(flat)),
            jpeg_decode(jpeg_encode(flat)),
        )

    def test_jpeg_custom_scan_scripts(self):
        """Caller-supplied progressive scan scripts: single-component
        DC scans on a subsampled image use the component's own grid
        (matching the decoder and T.81 A.2.2) — coefficients still
        match the sequential encoder's; a multi-component AC scan is
        rejected at encode time instead of emitting an undecodable
        stream."""
        import numpy as np
        import pytest

        from relation_extraction_cdr_spark.functions.codecs import (
            _comp_block_grid,
            jpeg_decode,
            jpeg_decode_coeffs,
            jpeg_encode,
            jpeg_encode_progressive,
        )

        rng = np.random.default_rng(61)
        px = rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8)
        scans = [
            ([0], 0, 0, 0, 1), ([1], 0, 0, 0, 1), ([2], 0, 0, 0, 1),
            ([0], 1, 63, 0, 0), ([1], 1, 63, 0, 0), ([2], 1, 63, 0, 0),
            (None, 0, 0, 1, 0),
        ]
        base = jpeg_encode(px, subsampling="420")
        prog = jpeg_encode_progressive(px, subsampling="420", scans=scans)
        h, w, bb, _q, samps = jpeg_decode_coeffs(base)
        _h, _w, pb, _q2, _s2 = jpeg_decode_coeffs(prog)
        hmax = max(s[0] for s in samps)
        vmax = max(s[1] for s in samps)
        for ci, (x, y) in enumerate(zip(bb, pb)):
            gh, gw = _comp_block_grid(h, w, *samps[ci], hmax, vmax)
            assert np.array_equal(x[:gh, :gw], y[:gh, :gw]), ci
        assert np.array_equal(jpeg_decode(base), jpeg_decode(prog))
        with pytest.raises(ValueError):
            jpeg_encode_progressive(
                px, scans=[(None, 0, 0, 0, 0), ([0, 1], 1, 63, 0, 0)]
            )

    def test_jpeg_baseline_noninterleaved_scans(self):
        """A baseline (SOF0) file with three separate single-component
        scans — the layout other encoders emit for multi-scan baseline
        — decodes each scan over the component's OWN block grid, not
        the MCU grid: coefficients match the interleaved encoder's on
        every real block."""
        import struct as _struct

        import numpy as np

        from relation_extraction_cdr_spark.functions.codecs import (
            _AC_CHROMA,
            _AC_LUMA,
            _BitWriter,
            _DC_CHROMA,
            _DC_LUMA,
            _canonical_codes,
            _comp_block_grid,
            _encode_block,
            _jpeg_components,
            jpeg_decode_coeffs,
            jpeg_encode,
        )

        rng = np.random.default_rng(67)
        px = rng.integers(0, 256, size=(24, 40, 3), dtype=np.uint8)
        comps, ql, qc, hs, vs, _g = _jpeg_components(px, None, None, "420")
        h, w = px.shape[:2]
        ref = jpeg_encode(px, subsampling="420")
        # headers straight from the interleaved file, scans replaced
        sos_at = ref.find(b"\xff\xda")
        out = bytearray(ref[:sos_at])
        from relation_extraction_cdr_spark.functions.codecs import _ZIGZAG  # noqa: F401

        for ci in range(3):
            dc_t = _DC_LUMA if ci == 0 else _DC_CHROMA
            ac_t = _AC_LUMA if ci == 0 else _AC_CHROMA
            dc_codes = _canonical_codes(*dc_t)
            ac_codes = _canonical_codes(*ac_t)
            sos = bytes([1, ci + 1, 0x00 if ci == 0 else 0x11, 0, 63, 0])
            out += b"\xff\xda" + _struct.pack(">H", len(sos) + 2) + sos
            hi, vi = (hs, vs) if ci == 0 else (1, 1)
            gh, gw = _comp_block_grid(h, w, hi, vi, hs, vs)
            bw_ = _BitWriter()
            prev = 0
            for by in range(gh):
                for bx in range(gw):
                    prev = _encode_block(
                        bw_, comps[ci][by, bx], prev, dc_codes, ac_codes
                    )
            out += bw_.flush()
        out += b"\xff\xd9"
        _h, _w, blocks, _q, samps = jpeg_decode_coeffs(bytes(out))
        ref_blocks = jpeg_decode_coeffs(ref)[2]
        for ci, (x, y) in enumerate(zip(ref_blocks, blocks)):
            gh, gw = _comp_block_grid(h, w, *samps[ci], hs, vs)
            assert np.array_equal(x[:gh, :gw], y[:gh, :gw]), ci

    def test_jpeg_refine_scan_adversarial(self):
        """Scan-level adversarial sweep of the successive-approximation
        machinery, bypassing the image layer to force the rare paths:
        sparse blocks with long zero-history gaps (ZRL inside
        refinement scans), history coefficients inside the gaps
        (correction bits straddling ZRL emissions), and whole-scan
        multi-block EOBn runs whose buffered bits cross byte-stuffing
        boundaries.  Encoder output is unstuffed exactly as
        _entropy_segments does before decoding."""
        import numpy as np

        from relation_extraction_cdr_spark.functions.codecs import (
            _AcRefineState,
            _BitReader,
            _BitWriter,
            _UNIFORM_AC,
            _canonical_codes,
            _dec_ac_first,
            _dec_ac_refine,
            _decode_table,
            _emit_eobrun,
            _encode_ac_first,
            _encode_ac_refine,
        )

        ac_codes = _canonical_codes(*_UNIFORM_AC)
        actab = _decode_table(*_UNIFORM_AC)

        def unstuff(raw):
            out = bytearray()
            i = 0
            while i < len(raw):
                out.append(raw[i])
                i += 2 if (raw[i] == 0xFF and i + 1 < len(raw)
                           and raw[i + 1] == 0x00) else 1
            return bytes(out)

        def roundtrip(blocks):
            state = np.zeros_like(blocks)
            for ah, al in ((0, 2), (2, 1), (1, 0)):
                bw = _BitWriter()
                st = _AcRefineState()
                enc = _encode_ac_first if ah == 0 else _encode_ac_refine
                for b in range(blocks.shape[0]):
                    enc(bw, blocks[b], 1, 63, al, ac_codes, st)
                _emit_eobrun(bw, ac_codes, st)
                br = _BitReader(unstuff(bw.flush()))
                dec = _dec_ac_first if ah == 0 else _dec_ac_refine
                eob = 0
                for b in range(blocks.shape[0]):
                    eob = dec(br, state[b], 1, 63, al, actab, eob)
            return state

        rng = np.random.default_rng(0)
        for _ in range(150):
            n = int(rng.integers(1, 12))
            blocks = np.zeros((n, 64), np.int64)
            for b in range(n):
                pos = rng.choice(
                    np.arange(1, 64), size=rng.integers(0, 6), replace=False
                )
                for k in pos:
                    blocks[b][k] = (
                        rng.choice([2, 3, -2, -3])
                        if rng.random() < 0.5
                        else rng.choice([4, 5, 6, 7, -4, -5, -6, -7])
                    )
            assert (roundtrip(blocks)[:, 1:] == blocks[:, 1:]).all()
        # deterministic ZRL-in-refinement fixture: newly-nonzero 38
        # zero-history positions after the last history coefficient
        blocks = np.zeros((3, 64), np.int64)
        blocks[0][1], blocks[0][30], blocks[0][40] = 4, 5, 2
        blocks[1][60] = 3
        blocks[2][5], blocks[2][50] = -2, -3
        assert (roundtrip(blocks)[:, 1:] == blocks[:, 1:]).all()

    def test_jpeg_subsampled_lossy_bounded(self):
        """Smooth-gradient content stays within a loose quantization +
        chroma-resolution envelope under 4:2:0."""
        import numpy as np

        from relation_extraction_cdr_spark.functions.codecs import (
            jpeg_decode,
            jpeg_encode,
        )

        yy = np.arange(24)[:, None, None]
        xx = np.arange(30)[None, :, None]
        cc = np.arange(3)[None, None, :]
        rgb = (96 + yy * 2 + xx + cc * 8).astype(np.uint8)
        back = jpeg_decode(jpeg_encode(rgb, subsampling="420"))
        assert back.shape == rgb.shape
        assert int(np.abs(back.astype(int) - rgb.astype(int)).max()) <= 24

    def test_jpeg_roundtrip_property(self):
        """Property sweep: any uint8 image (grey or RGB) encodes to a
        parseable bitstream whose coefficients roundtrip exactly and
        whose pixel error is quantization-bounded."""
        import numpy as np
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from relation_extraction_cdr_spark.functions.codecs import (
            jpeg_decode,
            jpeg_encode,
        )

        @settings(max_examples=25, deadline=None)
        @given(
            w=st.integers(1, 33),
            h=st.integers(1, 26),
            color=st.booleans(),
            seed=st.integers(0, 2**31 - 1),
        )
        def check(w, h, color, seed):
            shape = (h, w, 3) if color else (h, w)
            px = np.random.default_rng(seed).integers(0, 256, shape, dtype=np.uint8)
            back = jpeg_decode(jpeg_encode(px))
            assert back.shape == (h, w, 3 if color else 1)
            ref = px if color else px[:, :, None]
            assert int(np.abs(back.astype(int) - ref.astype(int)).max()) <= 64

        check()

    def test_jpeg_unsupported_raises(self):
        import struct as _struct

        import numpy as np
        import pytest

        from relation_extraction_cdr_spark.functions.codecs import (
            jpeg_decode,
            jpeg_encode,
        )

        enc = bytearray(jpeg_encode(np.zeros((8, 8), np.uint8)))
        # SOF0 -> SOF1: extended sequential decodes exactly like
        # baseline at 8-bit precision (supported since the encoder
        # emits it for Pq=1 quant tables)
        i = bytes(enc).find(b"\xff\xc0")
        enc2 = bytes(enc[:i]) + b"\xff\xc1" + bytes(enc[i + 2 :])
        assert np.array_equal(jpeg_decode(enc2), jpeg_decode(bytes(enc)))
        # SOF3 (lossless) stays the documented seam
        enc2a = bytes(enc[:i]) + b"\xff\xc3" + bytes(enc[i + 2 :])
        with pytest.raises(NotImplementedError):
            jpeg_decode(enc2a)
        # SOF0 -> SOF2 with a full-band interleaved scan is MALFORMED
        # progressive (a progressive scan is DC-only or AC-only)
        enc2b = bytes(enc[:i]) + b"\xff\xc2" + bytes(enc[i + 2 :])
        with pytest.raises(ValueError):
            jpeg_decode(enc2b)
        # a DRI header on a stream with NO restart markers is benign
        # (interval never reached within one segment of 1 MCU)
        dri = b"\xff\xdd" + _struct.pack(">H", 4) + _struct.pack(">H", 4)
        enc3 = bytes(enc[:2]) + dri + bytes(enc[2:])
        assert np.array_equal(jpeg_decode(enc3), jpeg_decode(bytes(enc)))
        with pytest.raises(ValueError):
            jpeg_decode(b"notajpeg")

    def test_extract_features_real_jpeg(self, spark):
        """The multimodal decode dispatch routes JPEG payloads through
        the real codec: width/height/channel features match the source
        image, via the Spark mapInPandas stage."""
        import numpy as np

        from relation_extraction_cdr_spark.functions.codecs import jpeg_encode
        from relation_extraction_cdr_spark.operators.multimodal import extract_features

        v = np.full((16, 24), 100, np.uint8)
        rows = [
            (0, "image", bytearray(jpeg_encode(v)), {"width": 24, "height": 16, "duration_ms": 0, "codec": "jpeg"}),
            (1, "image", bytearray(jpeg_encode(np.repeat(v[:, :, None], 3, axis=2))),
             {"width": 24, "height": 16, "duration_ms": 0, "codec": "jpeg"}),
        ]
        df = spark.createDataFrame(
            rows,
            "media_id long, kind string, payload binary, "
            "meta struct<width:int,height:int,duration_ms:int,codec:string>",
        )
        got = {r["media_id"]: r["feature"] for r in extract_features(df).collect()}
        assert got[0][:3] == [24.0, 16.0, 1.0]
        assert abs(got[0][3] - 100 / 255) < 1e-6  # float32 feature lane
        assert got[1][:3] == [24.0, 16.0, 3.0]
