"""media_codec: the real WAV/PPM/BMP/Y4M parsers behind the multimodal
decode seam. Roundtrips pin encode->decode == closed-form arithmetic;
robustness cases pin the header-walk behaviors a fixed-offset parser gets
wrong (extra RIFF chunks, PPM comments, top-down BMPs, padded rows)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from starlight_for_kafka_spark.functions import media_codec as mc


@pytest.mark.parametrize("mid", [1, 7, 16, 31])
def test_wav_roundtrip_matches_closed_form(mid):
    wav, dur = mc.synth_audio(mid)
    f = mc.decode_media(wav)
    n = 20000 + (mid % 16) * 2048
    i = np.arange(n, dtype=np.int64)
    s = (mid * 31 + i * 17) % 4096 - 2048
    sign = s >= 0
    assert f == [
        8000.0, float(n), float(s.sum()), float((s * s).sum()),
        float(s.min()), float(s.max()), float(np.sum(sign[1:] != sign[:-1])), 1.0,
    ]
    assert dur == n // 8


@pytest.mark.parametrize("mid", [0, 3, 6, 9])
def test_image_roundtrip_ppm_bmp_identical_stats(mid):
    """PPM (RGB top-down) and BMP (BGR bottom-up padded) encode the SAME
    logical pixels; the decoder must undo each container's layout so the
    stats agree with the closed form regardless of container."""
    img, codec = mc.synth_image(mid)
    assert codec == ("ppm" if mid % 2 == 0 else "bmp")
    f = mc.decode_media(img)
    idx = np.arange(mc.IMG_W * mc.IMG_H, dtype=np.int64)
    chans = [(mid * 7 + idx * 13 + c * 101) % 256 for c in range(3)]
    allv = np.concatenate(chans)
    assert f == [
        float(mc.IMG_W), float(mc.IMG_H),
        *[float(c.sum()) for c in chans],
        float(allv.min()), float(allv.max()), 3.0,
    ]


@pytest.mark.parametrize("mid", [2, 5, 26])
def test_y4m_roundtrip_matches_closed_form(mid):
    v, dur = mc.synth_video(mid)
    f = mc.decode_media(v)
    nf = 25 + mid % 25
    idx = np.arange(mc.VID_W * mc.VID_H, dtype=np.int64)
    sums = [
        float(sum(int(((mid * 3 + fr * 29 + p * 101 + idx * 13) % 256).sum())
                  for fr in range(nf)))
        for p in range(3)
    ]
    assert f == [float(mc.VID_W), float(mc.VID_H), float(nf), *sums, 25.0, 3.0]
    assert dur == nf * 40


def test_wav_chunk_walk_skips_list_chunk():
    """Real WAVs carry LIST/fact chunks between fmt and data; a parser
    that assumes data at byte 44 reads garbage."""
    pcm = np.array([100, -200, 300], dtype="<i2").tobytes()
    wav = (
        b"RIFF" + struct.pack("<I", 4 + 24 + 12 + 8 + len(pcm)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 44100, 88200, 2, 16)
        + b"LIST" + struct.pack("<I", 4) + b"INFO"
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    d = mc.decode_wav(wav)
    assert (d["sample_rate"], d["n_samples"], d["sum"]) == (44100, 3, 200)
    assert d["zero_crossings"] == 2


def test_ppm_header_comments_and_whitespace():
    ppm = b"P6\n# a comment\n2 1\n255\n" + bytes([1, 2, 3, 4, 5, 6])
    d = mc.decode_ppm(ppm)
    assert d == {
        "width": 2, "height": 1, "sum_r": 5, "sum_g": 7, "sum_b": 9,
        "min": 1, "max": 6,
    }


def test_bmp_top_down_negative_height():
    """Negative biHeight = top-down row order; 1-px-wide rows carry 1 pad
    byte each (row size rounds to 4)."""
    rows = bytes([3, 2, 1, 0]) + bytes([6, 5, 4, 0])  # BGR + pad, two rows
    bmp = (
        b"BM" + struct.pack("<IHHI", 14 + 40 + 8, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 1, -2, 1, 24, 0, 8, 2835, 2835, 0, 0)
        + rows
    )
    d = mc.decode_bmp(bmp)
    assert d == {
        "width": 1, "height": 2, "sum_r": 5, "sum_g": 7, "sum_b": 9,
        "min": 1, "max": 6,
    }


def test_bmp_padding_excluded_from_stats():
    """18-px rows are 54 bytes -> 2 pad bytes per row; a parser that reads
    row_size*height as pixels pollutes every channel sum with zeros and
    shifts channels across rows."""
    bmp_img, codec = mc.synth_image(3)  # odd -> BMP, W=18
    assert codec == "bmp"
    assert (mc.IMG_W * 3 + 3) // 4 * 4 == 56  # 2 pad bytes per row present
    rgb = bytes(
        (3 * 7 + idx * 13 + c * 101) % 256
        for idx in range(mc.IMG_W * mc.IMG_H)
        for c in range(3)
    )
    ppm_img = mc.encode_ppm(mc.IMG_W, mc.IMG_H, rgb)  # same logical pixels
    assert mc.decode_bmp(bmp_img) == mc.decode_ppm(ppm_img)


def test_decode_media_rejects_unknown_format():
    with pytest.raises(ValueError):
        mc.decode_media(b"\x00\x01\x02\x03garbage")
    with pytest.raises(ValueError):
        mc.decode_media(None)


def test_y4m_rejects_non_444():
    payload = b"YUV4MPEG2 W4 H4 F25:1 C420\n" + b"FRAME\n" + b"\x00" * 24
    with pytest.raises(ValueError):
        mc.decode_y4m(payload)


def test_wav_rejects_non_pcm():
    wav = (
        b"RIFF" + struct.pack("<I", 4 + 24 + 8) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 3, 1, 8000, 32000, 4, 32)
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(ValueError):
        mc.decode_wav(wav)


def test_y4m_truncated_frame_raises():
    full, _ = mc.synth_video(2)
    with pytest.raises(ValueError):
        mc.decode_y4m(full[:-10])  # cut mid-plane


@pytest.mark.parametrize("mid,frame_ms", [(2, 0), (2, 80), (5, 1000)])
def test_y4m_frame_seek_matches_closed_form(mid, frame_ms):
    v, dur = mc.synth_video(mid)
    assert frame_ms < dur
    d = mc.decode_y4m_frame(v, frame_ms)
    f = frame_ms * 25 // 1000
    idx = np.arange(mc.VID_W * mc.VID_H, dtype=np.int64)
    exp = [int(((mid * 3 + f * 29 + p * 101 + idx * 13) % 256).sum()) for p in range(3)]
    assert (d["sum_y"], d["sum_u"], d["sum_v"]) == tuple(exp)
    assert d["frame_idx"] == f


def test_y4m_frame_seek_past_end_raises():
    v, dur = mc.synth_video(2)
    with pytest.raises(ValueError):
        mc.decode_y4m_frame(v, dur + 1000)


def test_wav_range_decode_matches_full_slice():
    wav, dur = mc.synth_audio(7)
    n = 20000 + (7 % 16) * 2048
    i = np.arange(n, dtype=np.int64)
    s = (7 * 31 + i * 17) % 4096 - 2048
    d = mc.decode_wav_range(wav, 1000, 2000)
    seg = s[8000:16000]
    assert (d["n_samples"], d["sum"], d["min"], d["max"]) == (
        len(seg), int(seg.sum()), int(seg.min()), int(seg.max())
    )
    # final-chunk clipping: end past the clip is truncated, not an error
    start_ms = (dur // 1000) * 1000
    d2 = mc.decode_wav_range(wav, start_ms, dur + 5000)
    assert d2["n_samples"] == n - start_ms * 8  # 8 samples/ms at 8 kHz


@pytest.mark.parametrize("mid", [0, 3])
def test_resize_rgb_nearest_neighbor_closed_form(mid):
    """Resize works identically from PPM and BMP sources and matches the
    integer resample grid; upscale repeats source pixels."""
    img, codec = mc.synth_image(mid)
    small = mc.decode_ppm(mc.resize_rgb(img, 6, 4))
    idxs = [(r * 12 // 4) * 18 + (c * 18 // 6) for r in range(4) for c in range(6)]
    sums = [sum((mid * 7 + i * 13 + ch * 101) % 256 for i in idxs) for ch in range(3)]
    assert (small["sum_r"], small["sum_g"], small["sum_b"]) == tuple(sums)
    big = mc.decode_ppm(mc.resize_rgb(img, 36, 24))  # 2x upscale
    assert (big["width"], big["height"]) == (36, 24)
    full = mc.decode_ppm(img) if codec == "ppm" else mc.decode_bmp(img)
    assert big["sum_r"] == full["sum_r"] * 4  # each src pixel appears 2x2 times


def test_resize_rejects_non_image():
    wav, _ = mc.synth_audio(1)
    with pytest.raises(ValueError):
        mc.resize_rgb(wav, 4, 4)


def test_patch_stats_partition_pixels_exactly():
    img, _ = mc.synth_image(0)
    full = mc.decode_ppm(img)
    for patch in (6, 8, 18):
        ps = mc.patch_stats(img, patch)
        assert sum(p["n_px"] for p in ps) == mc.IMG_W * mc.IMG_H
        assert sum(p["sum_g"] for p in ps) == full["sum_g"]
    ps8 = mc.patch_stats(img, 8)  # clipped edges: 3 cols x 2 rows
    assert len(ps8) == 6
    assert ps8[-1]["n_px"] == 2 * 4  # last col 2 wide, last row 4 tall


def test_audio_autocorr_detects_near_period():
    """The synthetic signal's step 17 satisfies 17*241 == 1 (mod 4096), so
    lag 241 is a near-period: normalized autocorrelation there must be far
    higher than at an unrelated lag."""
    wav, _ = mc.synth_audio(4)
    d = mc.audio_autocorr(wav, [100, 241])
    d0 = mc.decode_wav(wav)["sum_sq"]  # ac at lag 0
    assert d["ac_241"] / d0 > 0.95  # shifted-by-1 signal: near-perfect
    # a sawtooth has structured (but clearly weaker) off-period correlation
    assert d["ac_100"] / d0 < 0.7 < d["ac_241"] / d0


def test_video_motion_static_clip_scores_zero():
    """A clip whose frames are identical scores zero motion everywhere;
    the synthetic clips (frame-varying) never do."""
    plane = bytes(range(128))
    static = mc.encode_y4m(16, 8, 25, [(plane, plane, plane)] * 3)
    assert all(
        m["motion_y"] == m["motion_u"] == m["motion_v"] == 0
        for m in mc.video_motion(static)
    )
    v, _ = mc.synth_video(2)
    assert all(m["motion_y"] > 0 for m in mc.video_motion(v))

