"""Multimodal plumbing tests: the Spark-side contracts are real even though
the codec kernels are deterministic fakes."""

from __future__ import annotations

import hashlib

import pytest

from autonomous_orchestrator_ai_spark.operators.multimodal import (
    extract_features,
    repartition_for_decode,
    synthetic_media,
)


@pytest.fixture()
def media(spark):
    return synthetic_media(spark, n=16)


def test_extract_features_schema_and_determinism(media):
    out = extract_features(media, dim=8)
    assert out.schema.simpleString() == (
        "struct<media_id:bigint,n_bytes:bigint,content_sha256:string,"
        "features:array<float>>"
    )
    rows = {r["media_id"]: r for r in out.collect()}
    assert len(rows) == 16
    blob = bytes((hashlib.md5(b"42:0").digest() * 16))[:128]
    assert rows[0]["content_sha256"] == hashlib.sha256(blob).hexdigest()
    assert rows[0]["n_bytes"] == 128
    assert len(rows[0]["features"]) == 8
    assert all(0.0 <= f < 1.0 for f in rows[0]["features"])
    # deterministic across runs
    again = {r["media_id"]: r["content_sha256"] for r in extract_features(media).collect()}
    assert again[5] == rows[5]["content_sha256"]


def test_extract_features_after_repartition(media):
    out = extract_features(repartition_for_decode(media, 4))
    assert out.count() == 16


def test_real_codecs_loud_on_unsupported_formats(media):
    # fake (non-BMP) blobs through the REAL codec path must fail loudly at
    # execution time, never silently hash bytes instead of decoding pixels
    with pytest.raises(Exception, match="NotImplementedError|real decode"):
        extract_features(media, use_real_codecs=True).collect()


# --- real BMP codec path ---------------------------------------------------


class TestBmpCodec:
    def test_roundtrip_all_padding_widths(self):
        from autonomous_orchestrator_ai_spark.operators.bmp_codec import (
            decode_bmp,
            encode_bmp,
        )

        # widths 1..4 hit every 4-byte row-padding remainder
        for w in (1, 2, 3, 4, 7):
            h = 3
            rgb = bytes(range(3 * w * h % 256)) + b"\x00" * (
                3 * w * h - (3 * w * h % 256)
            )
            rgb = rgb[: 3 * w * h]
            blob = encode_bmp(w, h, rgb)
            assert blob[:2] == b"BM"
            assert decode_bmp(blob) == (w, h, rgb)

    def test_decode_topdown_variant(self):
        import struct

        from autonomous_orchestrator_ai_spark.operators.bmp_codec import (
            decode_bmp,
            encode_bmp,
        )

        w, h = 2, 2
        rgb = bytes(
            [255, 0, 0, 0, 255, 0,      # top row: red, green
             0, 0, 255, 255, 255, 0]    # bottom row: blue, yellow
        )
        blob = bytearray(encode_bmp(w, h, rgb))
        # flip to top-down: negate height, reverse row order in pixel data
        offset = struct.unpack_from("<I", blob, 10)[0]
        struct.pack_into("<i", blob, 22, -h)
        stride = (3 * w + 3) & ~3
        rows = [
            bytes(blob[offset + stride * y : offset + stride * (y + 1)])
            for y in range(h)
        ]
        blob[offset:] = b"".join(reversed(rows))
        assert decode_bmp(bytes(blob)) == (w, h, rgb)

    def test_decode_rejects_garbage_and_unsupported(self):
        from autonomous_orchestrator_ai_spark.operators.bmp_codec import (
            decode_bmp,
            encode_bmp,
        )

        with pytest.raises(ValueError, match="magic|truncated"):
            decode_bmp(b"PNG....")
        with pytest.raises(ValueError, match="truncated"):
            decode_bmp(encode_bmp(4, 4, bytes(48))[:-10])

    def test_resize_nearest_identity_and_downscale(self):
        from autonomous_orchestrator_ai_spark.operators.bmp_codec import (
            resize_nearest,
        )

        rgb = bytes(range(3 * 4 * 2))
        assert resize_nearest(4, 2, rgb, 4, 2) == rgb
        half = resize_nearest(4, 2, rgb, 2, 1)
        # centers map to source pixels (1,1) and (3,1)
        assert half == rgb[3 * 4 + 3 : 3 * 4 + 6] + rgb[3 * 4 + 9 : 3 * 4 + 12]


class TestRealBmpPath:
    def test_extract_features_real_pixels(self, spark):
        import numpy as np

        from autonomous_orchestrator_ai_spark.operators.bmp_codec import (
            decode_bmp,
        )
        from autonomous_orchestrator_ai_spark.operators.multimodal import (
            synthetic_bmp_media,
        )

        media = synthetic_bmp_media(spark, n=12)
        out = {
            r["media_id"]: r
            for r in extract_features(media, dim=8, use_real_codecs=True)
            .collect()
        }
        assert len(out) == 12
        # cross-check one row against an independent NumPy computation on
        # the decoded pixels (not on the blob bytes — proves real decode)
        blob = bytes(media.filter("media_id = 3").collect()[0]["content"])
        w, h, rgb = decode_bmp(blob)
        px = np.frombuffer(rgb, dtype=np.uint8).reshape(h * w, 3)
        feats = out[3]["features"]
        assert feats[0] == pytest.approx(px[:, 0].mean() / 255.0, abs=1e-6)
        assert feats[1] == pytest.approx(px[:, 1].mean() / 255.0, abs=1e-6)
        assert feats[2] == pytest.approx(px[:, 2].mean() / 255.0, abs=1e-6)
        gray = px.astype("float64").mean(axis=1)
        assert feats[3] == pytest.approx(gray.std() / 255.0, abs=1e-6)
        hist, _ = np.histogram(gray, bins=4, range=(0.0, 255.0))
        assert feats[4:] == pytest.approx(hist / len(gray), abs=1e-6)

    def test_resize_images_end_to_end(self, spark):
        from autonomous_orchestrator_ai_spark.operators.bmp_codec import (
            decode_bmp,
        )
        from autonomous_orchestrator_ai_spark.operators.multimodal import (
            resize_images,
            synthetic_bmp_media,
        )

        media = synthetic_bmp_media(spark, n=6)
        out = resize_images(media, 4, 4)
        assert out.schema == media.schema
        rows = out.collect()
        assert len(rows) == 6
        for r in rows:
            assert r["meta"]["width"] == 4 and r["meta"]["height"] == 4
            w, h, rgb = decode_bmp(bytes(r["content"]))
            assert (w, h) == (4, 4) and len(rgb) == 48


class TestWavCodec:
    def test_roundtrip_16bit(self):
        from autonomous_orchestrator_ai_spark.operators.wav_codec import (
            decode_wav,
            encode_wav,
        )

        samples = [0, 1000, -1000, 32767, -32768, 5]
        blob = encode_wav(8000, 1, samples, bits=16)
        assert blob[:4] == b"RIFF" and blob[8:12] == b"WAVE"
        assert decode_wav(blob) == (8000, 1, 16, samples)
        # stereo interleave survives
        st = encode_wav(44100, 2, samples, bits=16)
        assert decode_wav(st) == (44100, 2, 16, samples)

    def test_roundtrip_8bit_and_extra_chunks(self):
        import struct

        from autonomous_orchestrator_ai_spark.operators.wav_codec import (
            decode_wav,
            encode_wav,
        )

        samples = [0, 5, -5, 127, -128]
        blob = bytearray(encode_wav(8000, 1, samples, bits=8))
        # splice a LIST chunk between WAVE and fmt — decoders must skip it
        extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
        blob[12:12] = extra
        struct.pack_into("<I", blob, 4, len(blob) - 8)
        assert decode_wav(bytes(blob)) == (8000, 1, 8, samples)

    def test_rejects_unsupported(self):
        import struct

        from autonomous_orchestrator_ai_spark.operators.wav_codec import (
            decode_wav,
            encode_wav,
        )

        with pytest.raises(ValueError, match="RIFF"):
            decode_wav(b"OggS....")
        # float PCM (format tag 3) must raise, not mis-decode
        blob = bytearray(encode_wav(8000, 1, [0, 1], bits=16))
        fmt_at = bytes(blob).find(b"fmt ") + 8
        struct.pack_into("<H", blob, fmt_at, 3)
        with pytest.raises(ValueError, match="format tag"):
            decode_wav(bytes(blob))

    def test_audio_stats_sine(self):
        import math

        from autonomous_orchestrator_ai_spark.operators.wav_codec import (
            audio_stats,
        )

        rate, freq, n = 8000, 400, 8000
        samples = [
            int(16384 * math.sin(2 * math.pi * freq * t / rate))
            for t in range(n)
        ]
        s = audio_stats(rate, 1, samples, 16)
        assert s["duration_ms"] == 1000
        # sine RMS = amp/sqrt(2); amplitude 16384/32768 = 0.5 full scale
        assert s["rms"] == pytest.approx(0.5 / math.sqrt(2), rel=0.01)
        assert s["peak"] == pytest.approx(0.5, rel=0.01)
        # a 400 Hz tone crosses zero ~800 times per second
        assert s["zcr"] == pytest.approx(2 * freq / rate, rel=0.02)


class TestRealWavPath:
    def test_extract_audio_features_end_to_end(self, spark):
        from autonomous_orchestrator_ai_spark.operators.multimodal import (
            extract_audio_features,
            synthetic_wav_media,
        )

        media = synthetic_wav_media(spark, n=12)
        out = {r["media_id"]: r for r in extract_audio_features(media).collect()}
        assert len(out) == 12
        r = out[0]  # freq=200, n_frames=400, amp=8000 at 8 kHz
        assert r["sample_rate"] == 8000 and r["channels"] == 1
        assert r["duration_ms"] == 50
        assert r["rms"] == pytest.approx(8000 / 32768 / 2**0.5, rel=0.02)
        assert r["zcr"] == pytest.approx(2 * 200 / 8000, rel=0.05)


class TestDeadLetterDecode:
    def test_mixed_corpus_splits_good_and_bad(self, spark):
        from autonomous_orchestrator_ai_spark.operators.multimodal import (
            extract_features_with_errors,
            synthetic_bmp_media,
            synthetic_media,
        )

        good = synthetic_bmp_media(spark, n=5)
        bad = synthetic_media(spark, n=4)  # fake blobs: not BMP
        # shift fake ids so the union is keyed uniquely
        bad = bad.withColumn("media_id", bad["media_id"] + 100)
        out = extract_features_with_errors(good.unionByName(bad)).collect()
        assert len(out) == 9
        by_id = {r["media_id"]: r for r in out}
        for i in range(5):
            assert by_id[i]["error"] is None
            assert len(by_id[i]["features"]) == 8
        for i in range(100, 104):
            assert by_id[i]["features"] is None
            assert "NotImplementedError" in by_id[i]["error"]
        # hashes are still computed for failed rows (dead-letter forensics)
        assert all(len(r["content_sha256"]) == 64 for r in out)


class TestPngCodec:
    """Vendored pure-Python PNG codec (operators/png_codec.py)."""

    @staticmethod
    def _filter_rows_numpy(px, w, h, channels, ftype):
        """Independent NumPy reference for the FORWARD filter pass: builds
        the raw (filter-byte + filtered-row) stream our decoder must
        invert. Spec formulas transcribed directly from RFC 2083 §6."""
        import numpy as np

        img = np.frombuffer(px, dtype=np.uint8).reshape(h, w * channels)
        img16 = img.astype(np.int16)
        raw = bytearray()
        for y in range(h):
            row = img16[y]
            left = np.concatenate([np.zeros(channels, np.int16), row[:-channels]])
            up = img16[y - 1] if y > 0 else np.zeros_like(row)
            ul = (
                np.concatenate([np.zeros(channels, np.int16), up[:-channels]])
                if y > 0
                else np.zeros_like(row)
            )
            if ftype == 0:
                out = row
            elif ftype == 1:
                out = row - left
            elif ftype == 2:
                out = row - up
            elif ftype == 3:
                out = row - ((left + up) // 2)
            elif ftype == 4:
                p = left + up - ul
                pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul)
                )
                out = row - pred
            raw.append(ftype)
            raw.extend((out % 256).astype(np.uint8).tobytes())
        return bytes(raw)

    def _hand_built_png(self, w, h, px, channels, ftype, color=None):
        import struct
        import zlib

        from autonomous_orchestrator_ai_spark.operators.png_codec import _chunk

        if color is None:
            color = {1: 0, 3: 2, 4: 6}[channels]
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
        raw = self._filter_rows_numpy(px, w, h, channels, ftype)
        return (
            b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(raw))
            + _chunk(b"IEND", b"")
        )

    def test_roundtrip_rgb_and_rgba(self):
        import hashlib as _h

        from autonomous_orchestrator_ai_spark.operators.png_codec import (
            decode_png,
            encode_png,
        )

        for w, h, ch in [(1, 1, 3), (3, 2, 3), (7, 5, 4), (16, 16, 3), (5, 9, 4)]:
            need = ch * w * h
            raw = _h.md5(f"{w}x{h}x{ch}".encode()).digest()
            px = (raw * (need // len(raw) + 1))[:need]
            assert decode_png(encode_png(w, h, px, ch)) == (w, h, ch, px)

    def test_decode_inverts_every_filter_type(self):
        """Decoder inverts all five per-row filters, cross-checked against
        an independent NumPy forward-filter implementation."""
        import hashlib as _h

        from autonomous_orchestrator_ai_spark.operators.png_codec import (
            decode_png,
        )

        w, h = 9, 7
        for ch in (3, 4):
            need = ch * w * h
            raw = _h.md5(f"filters{ch}".encode()).digest()
            px = (raw * (need // len(raw) + 1))[:need]
            for ftype in range(5):
                blob = self._hand_built_png(w, h, px, ch, ftype)
                assert decode_png(blob) == (w, h, ch, px), ftype

    def test_ancillary_chunks_skipped(self):
        from autonomous_orchestrator_ai_spark.operators.png_codec import (
            _chunk,
            decode_png,
            encode_png,
        )

        blob = encode_png(4, 4, bytes(48), 3)
        # splice a tEXt chunk between IHDR and IDAT
        ihdr_end = 8 + 12 + 13
        spliced = (
            blob[:ihdr_end] + _chunk(b"tEXt", b"k\x00v") + blob[ihdr_end:]
        )
        assert decode_png(spliced) == (4, 4, 3, bytes(48))

    def test_roundtrip_grayscale_all_filters(self):
        """r7: color type 0 (grayscale) — 1-channel stride through the
        same defilter path, NumPy forward-filter reference per type."""
        import hashlib

        from autonomous_orchestrator_ai_spark.operators.png_codec import (
            decode_png,
            encode_png,
        )

        w, h = 9, 5
        px = (hashlib.md5(b"gray").digest() * 4)[: w * h]
        assert decode_png(encode_png(w, h, px, 1)) == (w, h, 1, px)
        for ftype in range(5):
            blob = self._hand_built_png(w, h, px, 1, ftype)
            assert decode_png(blob) == (w, h, 1, px), ftype

    def test_palette_decode_expands_plte(self):
        """r7: color type 3 — decode returns the EXPANDED RGB pixels, and
        the expansion matches an independent NumPy palette take; filtered
        index rows (1-byte stride) invert correctly too."""
        import hashlib
        import zlib as _z

        import numpy as np

        from autonomous_orchestrator_ai_spark.operators.png_codec import (
            _chunk,
            decode_png,
            encode_png_palette,
        )

        w, h = 7, 6
        palette = (hashlib.md5(b"plte").digest() * 4)[: 16 * 3]
        idx = bytes(
            b % 16 for b in (hashlib.md5(b"idx").digest() * 4)[: w * h]
        )
        expect = (
            np.frombuffer(palette, np.uint8)
            .reshape(16, 3)[np.frombuffer(idx, np.uint8)]
            .tobytes()
        )
        assert decode_png(encode_png_palette(w, h, idx, palette)) == (
            w, h, 3, expect,
        )
        for ftype in range(5):
            raw = self._filter_rows_numpy(idx, w, h, 1, ftype)
            blob = (
                b"\x89PNG\r\n\x1a\n"
                + _chunk(
                    b"IHDR",
                    __import__("struct").pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0),
                )
                + _chunk(b"PLTE", palette)
                + _chunk(b"IDAT", _z.compress(raw))
                + _chunk(b"IEND", b"")
            )
            assert decode_png(blob) == (w, h, 3, expect), ftype

    def test_truncated_palette_is_dead_letter(self):
        """r7: an index past the palette's end, a missing PLTE, and a
        malformed PLTE length all raise (dead-letter), never decode to a
        silently wrong pixel."""
        import pytest as _pytest

        from autonomous_orchestrator_ai_spark.operators.png_codec import (
            _chunk,
            decode_png,
            encode_png_palette,
        )

        w, h = 4, 3
        palette = bytes(range(8 * 3))  # 8 entries
        idx_ok = bytes(i % 8 for i in range(w * h))
        good = encode_png_palette(w, h, idx_ok, palette)
        decode_png(good)  # sanity
        # index 9 >= 8 entries: truncated palette
        idx_bad = bytes([9] * (w * h))
        import struct as _struct
        import zlib as _z2

        ihdr = _struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
        raw = b"".join(
            b"\x00" + idx_bad[y * w : (y + 1) * w] for y in range(h)
        )
        over = (
            b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"PLTE", palette)
            + _chunk(b"IDAT", _z2.compress(raw))
            + _chunk(b"IEND", b"")
        )
        with _pytest.raises(ValueError, match="truncated palette"):
            decode_png(over)
        # missing PLTE entirely
        no_plte = (
            b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", _z2.compress(raw))
            + _chunk(b"IEND", b"")
        )
        with _pytest.raises(ValueError, match="missing PLTE"):
            decode_png(no_plte)
        # malformed PLTE length (not a multiple of 3)
        mal = (
            b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"PLTE", palette + b"\x00")
            + _chunk(b"IDAT", _z2.compress(raw))
            + _chunk(b"IEND", b"")
        )
        with _pytest.raises(ValueError, match="malformed PLTE"):
            decode_png(mal)

    def test_rejects_corruption_and_unsupported(self):
        import pytest as _pytest

        from autonomous_orchestrator_ai_spark.operators.png_codec import (
            decode_png,
            encode_png,
        )

        good = encode_png(6, 4, bytes(72), 3)
        with _pytest.raises(ValueError, match="not a PNG"):
            decode_png(b"BM123456")
        with _pytest.raises(ValueError, match="truncated|overruns"):
            decode_png(good[:-8])
        flipped = bytearray(good)
        flipped[40] ^= 0xFF  # inside IDAT payload -> CRC mismatch
        with _pytest.raises(ValueError, match="CRC|corrupt"):
            decode_png(bytes(flipped))
        # 16-bit depth unsupported: patch IHDR and re-CRC
        import struct
        import zlib as _z

        deep = bytearray(good)
        deep[24] = 16  # bit depth byte in IHDR
        crc = _z.crc32(bytes(deep[12:29])) & 0xFFFFFFFF
        deep[29:33] = struct.pack(">I", crc)
        with _pytest.raises(ValueError, match="unsupported"):
            decode_png(bytes(deep))

    def test_extract_features_real_pixels_png(self, spark):
        """Real-codec features over PNG media match NumPy recomputation
        from independently decoded pixels (alpha dropped for RGBA)."""
        import numpy as np

        from autonomous_orchestrator_ai_spark.operators.multimodal import (
            decode_image,
            extract_features,
            synthetic_png_media,
        )

        media = synthetic_png_media(spark, n=8)
        blobs = {
            r["media_id"]: bytes(r["content"]) for r in media.collect()
        }
        feats = extract_features(media, dim=8, use_real_codecs=True)
        for r in feats.collect():
            w, h, rgb = decode_image(blobs[r["media_id"]])
            px = np.frombuffer(rgb, np.uint8).reshape(h * w, 3).astype(np.float64)
            gray = px.mean(axis=1)
            expect = [
                px[:, 0].mean() / 255.0,
                px[:, 1].mean() / 255.0,
                px[:, 2].mean() / 255.0,
                gray.std() / 255.0,
            ]
            hist, _ = np.histogram(gray, bins=4, range=(0.0, 255.0))
            expect += (hist / len(gray)).tolist()
            got = r["features"]
            assert len(got) == 8
            for a, b in zip(got, expect):
                assert abs(a - b) < 1e-6

    def test_dead_letter_on_truncated_png(self, spark):
        """Truncated/corrupt PNGs land in the error column; good rows
        decode — the mixed-corpus dead-letter contract."""
        from autonomous_orchestrator_ai_spark.operators.multimodal import (
            MEDIA_SCHEMA,
            extract_features_with_errors,
            synthetic_png_media,
        )

        good = synthetic_png_media(spark, n=4)
        rows = [
            (r["media_id"] + 100, bytearray(bytes(r["content"])[:-9]), r["meta"])
            for r in good.collect()[:2]
        ]
        bad = spark.createDataFrame(rows, MEDIA_SCHEMA)
        out = extract_features_with_errors(good.unionByName(bad)).collect()
        by_id = {r["media_id"]: r for r in out}
        for i in range(4):
            assert by_id[i]["error"] is None and by_id[i]["features"] is not None
        for i in (100, 101):
            assert by_id[i]["features"] is None
            assert "truncated" in by_id[i]["error"] or "ValueError" in by_id[i]["error"]


def test_resize_images_png_roundtrip(spark):
    """PNG media resize: output stays PNG (no silent transcode), alpha
    survives, pixels match an independent NumPy nearest-neighbor map."""
    import numpy as np

    from autonomous_orchestrator_ai_spark.operators.multimodal import (
        resize_images,
        synthetic_png_media,
    )
    from autonomous_orchestrator_ai_spark.operators.png_codec import (
        decode_png,
    )

    media = synthetic_png_media(spark, n=6)
    before = {r["media_id"]: bytes(r["content"]) for r in media.collect()}
    out = resize_images(media, 5, 4)
    for r in out.collect():
        blob = bytes(r["content"])
        assert blob[:8] == b"\x89PNG\r\n\x1a\n"
        w, h, ch, px = decode_png(blob)
        assert (w, h) == (5, 4)
        assert r["meta"]["width"] == 5 and r["meta"]["height"] == 4
        ow, oh, och, opx = decode_png(before[r["media_id"]])
        assert ch == och  # RGBA stays RGBA
        src = np.frombuffer(opx, np.uint8).reshape(oh, ow, och)
        got = np.frombuffer(px, np.uint8).reshape(h, w, ch)
        ys = [min(int((y + 0.5) * oh / h), oh - 1) for y in range(h)]
        xs = [min(int((x + 0.5) * ow / w), ow - 1) for x in range(w)]
        assert (got == src[np.ix_(ys, xs)]).all()


def test_resize_images_mixed_formats_and_loud_unknown(spark):
    from autonomous_orchestrator_ai_spark.operators.multimodal import (
        resize_images,
        synthetic_bmp_media,
        synthetic_media,
        synthetic_png_media,
    )

    mixed = synthetic_bmp_media(spark, n=2).unionByName(
        spark.createDataFrame(
            [
                (100 + r["media_id"], r["content"], r["meta"])
                for r in synthetic_png_media(spark, n=2).collect()
            ],
            synthetic_png_media(spark, n=1).schema,
        )
    )
    out = resize_images(mixed, 4, 4).collect()
    assert len(out) == 4
    magics = {bytes(r["content"])[:2] for r in out}
    assert magics == {b"BM", b"\x89P"}
    import pytest as _pytest

    fake = synthetic_media(spark, n=1)  # md5 bytes: neither BMP nor PNG
    with _pytest.raises(Exception, match="NotImplementedError|resize supports"):
        resize_images(fake, 4, 4).collect()
