"""Baseline JPEG codec (ccspark.jpegcodec): bit-exact round-trip on the
block-constant oracle profile, bounded quantization error on arbitrary
images, real JFIF framing (markers, stream-parsed tables, byte
stuffing), and the NotImplementedError gates for profiles a native
decoder owns."""

import struct

import numpy as np
import pytest

from ccspark.imagecodec import decode_media
from ccspark.jpegcodec import JPEG_SIG, jpeg_decode, jpeg_encode
from ccspark.multimodal import synth_jpeg_blocks


def _rand(shape, seed=0):
    return np.random.default_rng(seed).integers(
        0, 256, shape, dtype=np.uint8)


class TestRoundTrip:
    @pytest.mark.parametrize("doc_id", [0, 1, 5, 7, 123, 1000])
    def test_block_constant_exact(self, doc_id):
        img = synth_jpeg_blocks(doc_id)
        dec = jpeg_decode(jpeg_encode(img))
        assert np.array_equal(dec, img)

    def test_arbitrary_bounded_error(self):
        img = _rand((37, 53, 3))
        dec = jpeg_decode(jpeg_encode(img))
        assert dec.shape == img.shape  # non-multiple-of-8: pad + crop
        err = np.abs(dec.astype(int) - img.astype(int))
        # worst case for q=16 AC / q=8 DC quantizers on noise
        assert err.max() <= 48 and err.mean() < 8

    def test_smooth_image_tight_error(self):
        y, x = np.mgrid[0:40, 0:48]
        img = (((np.sin(x / 8) + np.cos(y / 9) + 2) * 60)
               .astype(np.uint8)[:, :, None].repeat(3, 2))
        dec = jpeg_decode(jpeg_encode(img))
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 8

    def test_grayscale(self):
        g = _rand((20, 30), seed=3)
        dec = jpeg_decode(jpeg_encode(g))
        assert dec.shape == g.shape
        assert np.abs(dec.astype(int) - g.astype(int)).mean() < 8

    def test_dc_prediction_chain(self):
        # many blocks with strongly varying DC: exercises the per-
        # component DC diff predictor across a long MCU raster
        img = synth_jpeg_blocks(4)           # 32x8: 4 blocks/channel
        wide = np.concatenate(
            [synth_jpeg_blocks(i) for i in (1, 7, 13)], 1)  # same height
        assert np.array_equal(jpeg_decode(jpeg_encode(wide)), wide)
        assert np.array_equal(jpeg_decode(jpeg_encode(img)), img)


class TestFraming:
    def test_real_markers(self):
        data = jpeg_encode(_rand((16, 16, 3)))
        assert data[:2] == JPEG_SIG and data[-2:] == b"\xff\xd9"
        # SOF0 present with true dims
        i = data.find(b"\xff\xc0")
        assert i > 0
        _p, h, w, n = struct.unpack(">BHHB", data[i + 4:i + 10])
        assert (h, w, n) == (16, 16, 3)
        # four DHT segments, two DQT segments
        assert data.count(b"\xff\xc4") >= 4
        assert data.count(b"\xff\xdb") >= 2

    def test_byte_stuffing(self):
        # entropy bytes equal to 0xFF must be followed by 0x00 — decode
        # across many random images to hit the stuffed path
        for seed in range(6):
            img = _rand((24, 24, 3), seed=seed)
            data = jpeg_encode(img)
            dec = jpeg_decode(data)
            assert dec.shape == img.shape


class TestGates:
    def test_not_jpeg(self):
        with pytest.raises(NotImplementedError):
            jpeg_decode(b"\x00\x01rubbish")

    def test_progressive_gate(self):
        data = bytearray(jpeg_encode(_rand((8, 8, 3))))
        i = data.find(b"\xff\xc0")
        data[i + 1] = 0xC2                    # rewrite SOF0 → SOF2
        with pytest.raises(NotImplementedError):
            jpeg_decode(bytes(data))

    def test_subsampling_gate(self):
        data = bytearray(jpeg_encode(_rand((8, 8, 3))))
        i = data.find(b"\xff\xc0")
        data[i + 11] = 0x22                   # comp 1 sampling 2x2
        with pytest.raises(NotImplementedError):
            jpeg_decode(bytes(data))

    def test_truncation_raises(self):
        # every proper prefix: too short for the signature → not a JPEG;
        # anything longer is a truncated stream → ValueError
        data = jpeg_encode(_rand((8, 8, 3)))
        for n in range(len(data)):
            expected = NotImplementedError if n < 2 else ValueError
            with pytest.raises(expected):
                jpeg_decode(data[:n])

    def test_dispatch(self):
        img = synth_jpeg_blocks(3)
        assert np.array_equal(decode_media(jpeg_encode(img)), img)


class TestFuzz:
    def test_corrupted_streams_raise_cleanly(self):
        """Byte-flip fuzz: a mangled stream must either still decode to
        the right SHAPE (JPEG has no payload CRC — bit flips in entropy
        data legitimately decode to different pixels) or raise one of
        the decoder's structured error types — never hang, never return
        garbage shapes, never escape with an unrelated exception."""
        rng = np.random.default_rng(7)
        img = _rand((24, 16, 3), seed=9)
        data = bytearray(jpeg_encode(img))
        ok, raised = 0, 0
        for _ in range(120):
            d = bytearray(data)
            for _ in range(rng.integers(1, 4)):
                d[rng.integers(2, len(d) - 2)] ^= 1 << rng.integers(0, 8)
            try:
                out = jpeg_decode(bytes(d))
                assert out.shape[2] == 3 and out.dtype == np.uint8
                ok += 1
            except (ValueError, NotImplementedError):
                raised += 1
        assert ok + raised == 120
        assert raised > 0  # structural corruption is actually detected
