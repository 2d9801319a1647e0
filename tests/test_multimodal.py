"""Multimodal binary-column plumbing tests: schema, Arrow batch path,
deterministic fake decode, feature extraction shapes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from azurestorage_blueprints_spark.operators import multimodal as MM


@pytest.fixture()
def payloads(spark):
    rows = [
        (1, MM.pack_fake_image(640, 480, b"\x01\x02\x03" * 100)),
        (2, MM.pack_fake_image(64, 64)),
        (3, b"not-an-image"),
        (4, None),
    ]
    return spark.createDataFrame(rows, "content_id bigint, content binary")


def test_attach_metadata_jvm_side(payloads):
    out = attach = MM.attach_metadata(payloads).select("content_id", "meta.*").collect()
    by_id = {r.content_id: r for r in out}
    assert by_id[1].n_bytes == 12 + 300
    assert by_id[1].magic == "FIMG"
    assert by_id[3].magic == "not-"
    assert len(by_id[2].md5) == 32


def test_decode_image_meta_fake_decoder(payloads):
    out = {r.content_id: r for r in MM.decode_image_meta(payloads).collect()}
    assert (out[1].width, out[1].height, out[1].ok) == (640, 480, True)
    assert (out[2].width, out[2].height) == (64, 64)
    assert out[3].ok is False and out[3].width is None
    assert out[4].ok is False and out[4].n_bytes == 0


def test_decode_image_fails_soft_on_codec_formats(payloads):
    # fake-format payloads are not PPM and no decoder is injected:
    # every row must come back ok=false (never a stage failure)
    out = MM.decode_image(payloads).collect()
    assert out and all(r.ok is False for r in out)


def test_extract_features_shape_and_determinism(payloads):
    out = MM.extract_features(payloads, n_features=8).collect()
    by_id = {r.content_id: r.features for r in out}
    assert all(len(v) == 8 for v in by_id.values())
    assert by_id[4] == [0.0] * 8
    # L1-normalized histogram sums to ~1 for non-empty payloads
    assert abs(sum(by_id[1]) - 1.0) < 1e-9
    # deterministic: second run identical
    again = {r.content_id: r.features for r in MM.extract_features(payloads, n_features=8).collect()}
    assert again == by_id


def test_resize_rewrites_header_and_scales_payload(payloads, spark):
    out = {r.content_id: r for r in MM.resize_image(payloads, 320, 240).collect()}
    r1 = out[1]
    assert (r1.width, r1.height) == (320, 240)
    magic, w, h = MM._fake_decoder(bytes(r1.content))
    assert (magic, w, h) == ("FIMG", 320, 240)
    # downscale (640x480 -> 320x240 = 1/4 area) shrinks the payload
    assert len(r1.content) < 12 + 300
    # non-images fail soft: null content, null dims
    assert out[3].content is None and out[3].width is None


def test_sample_frames_explodes_every_kth(spark):
    vids = spark.createDataFrame(
        [
            (1, MM.encode_video([b"frame-%d" % i for i in range(6)])),
            (2, MM.encode_video([b"only-one"])),
            (3, b"not-a-video"),
        ],
        "content_id bigint, content binary",
    )
    rows = MM.sample_frames(vids, every_k=2).collect()
    by_vid = {}
    for r in rows:
        by_vid.setdefault(r.content_id, []).append((r.frame_idx, bytes(r.frame)))
    assert sorted(i for i, _ in by_vid[1]) == [0, 2, 4]
    assert by_vid[1][0][1].startswith(b"frame-0")
    assert [i for i, _ in by_vid[2]] == [0]
    assert 3 not in by_vid  # invalid container contributes no frames



def test_video_container_round_trips_frames_of_any_length():
    frames = [b"", b"a", b"P6\n4 4\n255\n" + bytes(48), b"xyz" * 100]
    assert MM.decode_video(MM.encode_video(frames)) == frames
    assert MM.decode_video(MM.encode_video([])) == []
    with pytest.raises(ValueError):
        MM.decode_video(b"FVID" + MM.encode_video(frames)[4:])
    with pytest.raises(ValueError):
        MM.decode_video(MM.encode_video(frames)[:-1])


def test_gray8_is_half_up_and_flat_vectors_are_zero():
    import numpy as np

    # 253 * 255 / 510 = 126.5 exactly: half-up gives 127 where numpy's
    # banker's np.round would give 126
    assert MM.gray8([0, 253, 510]).tolist() == [0, 127, 255]
    assert MM.gray8([0, 253, 510]).dtype == np.uint8
    assert MM.gray8([0.25] * 5).tolist() == [0] * 5


def test_pcm16_clamps_at_both_rails():
    out = MM.pcm16([-10.0, -3.27685, -0.00005, 0.00005, 3.27675, 10.0])
    assert out.dtype.str == "<i2"
    assert out.tolist() == [-32768, -32768, 0, 1, 32767, 32767]


def test_codec_pieces_have_one_copy():
    """Source-level pin of the one codec path: the numpy gray-8 and PCM
    quantizers and the video magic live only in operators/multimodal.py
    (the vectorised ``np.round`` quantizer of q_multimodal_image_ahash
    is the one other gray quantizer), and only llm_text._ship_mm
    registers the codec module to pickle by value."""
    import ast
    import pathlib
    import re

    import azurestorage_blueprints_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    gray, pcm, magic, ship = [], [], [], []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        src = path.read_text()
        gray += [rel] * len(re.findall(r"np\.\w+\(\(\w+ - lo\) \* \(255\.0 /", src))
        pcm += [rel] * len(re.findall(r"np\.clip\(.*32767", src))
        magic += [rel] * src.count('b"VID0"')
        for fn in ast.parse(src).body:
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and getattr(node.func, "attr", "") == "register_pickle_by_value"
                    and (rel == "queries/llm_text.py" or ast.unparse(node.args[0]) == "MM")
                ):
                    ship.append(f"{rel}::{fn.name}")
    assert gray == ["operators/multimodal.py", "queries/dedup.py"]
    assert "np.round((a - lo)" in (root / "queries/dedup.py").read_text()
    assert pcm == ["operators/multimodal.py"]
    assert magic == ["operators/multimodal.py"]
    assert ship == ["queries/llm_text.py::_ship_mm"]


def _gradient_ppm(w, h):
    rgb = bytes((x * 40 + c) % 256 for y in range(h) for x in range(w) for c in range(3))
    return MM.encode_ppm(w, h, rgb), rgb


def test_ppm_decodes_for_real(spark):
    blob, rgb = _gradient_ppm(4, 2)
    # comment lines in the header must parse too
    commented = blob.replace(b"P6\n", b"P6\n# a comment\n", 1)
    df = spark.createDataFrame(
        [(1, blob), (2, commented), (3, b"\xff\xd8jpeg-bytes"), (4, b"junk")],
        "content_id bigint, content binary",
    )
    out = {r.content_id: r for r in MM.decode_image(df).collect()}
    assert (out[1].width, out[1].height, bytes(out[1].pixels)) == (4, 2, rgb)
    assert bytes(out[2].pixels) == rgb  # comment skipped
    # codec formats without an injected decoder fail soft, not the stage
    assert out[3].ok is False and out[3].pixels is None
    assert out[4].ok is False


def test_ppm_nearest_neighbor_resize_picks_exact_source_pixels(spark):
    blob, rgb = _gradient_ppm(4, 2)
    df = spark.createDataFrame([(1, blob)], "content_id bigint, content binary")
    out = MM.resize_image(df, 2, 1).collect()[0]
    w, h, px = MM.decode_ppm(bytes(out.content))
    assert (w, h) == (2, 1)
    # nearest-neighbor with integer mapping selects source pixels (0,0) and (0,2)
    src = [rgb[0:3], rgb[6:9]]
    assert px == b"".join(src)


def test_injected_decoder_handles_codec_formats(spark):
    df = spark.createDataFrame(
        [(1, b"\xff\xd8fake-jpeg")], "content_id bigint, content binary"
    )

    def fake_jpeg_decoder(b):
        return (2, 1, b"\x01\x02\x03\x04\x05\x06")

    out = MM.decode_image(df, decoder=fake_jpeg_decoder).collect()[0]
    assert out.ok is True and (out.width, out.height) == (2, 1)
    assert bytes(out.pixels) == b"\x01\x02\x03\x04\x05\x06"


def test_wav_decodes_for_real_and_features_are_exact(spark):
    import numpy as np

    rate = 8000
    t = np.arange(rate)  # 1 second
    sine = (np.sin(2 * np.pi * 440 * t / rate) * 10000).astype("<i2")
    stereo = np.stack([sine, np.zeros_like(sine)], axis=1)
    df = spark.createDataFrame(
        [
            (1, MM.encode_wav(rate, sine)),
            (2, MM.encode_wav(rate, stereo)),
            (3, b"RIFFxxxxWAVE"),          # truncated chunk table
            (4, b"not audio at all"),
        ],
        "content_id bigint, content binary",
    )
    out = {r.content_id: r for r in MM.extract_audio_features(df).collect()}
    assert (out[1].sample_rate, out[1].n_channels, out[1].n_samples) == (rate, 1, rate)
    assert abs(out[1].duration_s - 1.0) < 1e-9
    # 440 Hz sine crosses zero ~880 times per second
    assert 850 <= out[1].zero_crossings <= 910
    expected_rms = float(np.sqrt(np.mean(sine.astype(np.float64) ** 2)))
    assert abs(out[1].rms - expected_rms) < 1e-6
    assert out[2].n_channels == 2 and out[2].n_samples == rate
    assert out[3].ok is False and out[4].ok is False


def test_wav_roundtrip(spark):
    import numpy as np

    samples = np.array([[0, 1], [-2, 3], [32767, -32768]], dtype="<i2")
    rate, nch, back = MM.decode_wav(MM.encode_wav(44100, samples))
    assert (rate, nch) == (44100, 2)
    assert (back == samples).all()


def _forward_filter(raw, filters, ch):
    """Apply PNG filters forward (what an encoder does) so the decoder's
    unfilter path is exercised against ground truth."""
    import numpy as np

    h, stride = raw.shape
    out = bytearray()
    prior = np.zeros(stride, dtype=np.intp)
    for r in range(h):
        line = raw[r].astype(np.intp)
        f = filters[r]
        enc = np.zeros(stride, dtype=np.intp)
        for x in range(stride):
            a = line[x - ch] if x >= ch else 0
            b = prior[x]
            c = prior[x - ch] if x >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            enc[x] = (line[x] - pred) & 0xFF
        out += bytes([f]) + bytes(enc.astype(np.uint8))
        prior = line
    return bytes(out)


def test_png_roundtrip_encode_decode():
    import numpy as np

    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8).tobytes()
    w, h, decoded = MM.decode_png(MM.encode_png(4, 5, rgb))
    assert (w, h) == (4, 5)
    assert decoded == rgb


def test_png_unfilters_all_five_filter_types():
    import zlib

    import numpy as np

    rng = np.random.default_rng(11)
    h, w, ch = 5, 6, 3
    raw = rng.integers(0, 256, size=(h, w * ch), dtype=np.uint8)
    scanlines = _forward_filter(raw, [0, 1, 2, 3, 4], ch)

    def chunk(typ, body):
        return len(body).to_bytes(4, "big") + typ + body + zlib.crc32(typ + body).to_bytes(4, "big")

    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scanlines))
        + chunk(b"IEND", b"")
    )
    dw, dh, decoded = MM.decode_png(png)
    assert (dw, dh) == (w, h)
    assert decoded == raw.tobytes()


def test_png_normalizes_gray_alpha_palette_to_rgb():
    import zlib

    import numpy as np

    def build(color, body_px, plte=None):
        ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
        h, w = body_px.shape[0], body_px.shape[1] // ch
        scan = b"".join(b"\x00" + bytes(body_px[r]) for r in range(h))
        def chunk(typ, body):
            return len(body).to_bytes(4, "big") + typ + body + zlib.crc32(typ + body).to_bytes(4, "big")
        ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, color, 0, 0, 0])
        png = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        if plte is not None:
            png += chunk(b"PLTE", plte)
        return png + chunk(b"IDAT", zlib.compress(scan)) + chunk(b"IEND", b"")

    # grayscale 2x1: values 7, 200 -> replicated across RGB
    g = np.array([[7, 200]], dtype=np.uint8)
    assert MM.decode_png(build(0, g))[2] == bytes([7, 7, 7, 200, 200, 200])
    # gray+alpha: alpha dropped
    ga = np.array([[7, 255, 200, 0]], dtype=np.uint8)
    assert MM.decode_png(build(4, ga))[2] == bytes([7, 7, 7, 200, 200, 200])
    # RGBA: alpha dropped
    rgba = np.array([[1, 2, 3, 9, 4, 5, 6, 8]], dtype=np.uint8)
    assert MM.decode_png(build(6, rgba))[2] == bytes([1, 2, 3, 4, 5, 6])
    # palette: indices 1, 0 against a 2-entry PLTE
    pal = np.array([[1, 0]], dtype=np.uint8)
    plte = bytes([10, 20, 30, 40, 50, 60])
    assert MM.decode_png(build(3, pal, plte))[2] == bytes([40, 50, 60, 10, 20, 30])


def test_png_decodes_for_real_through_spark(spark):
    import numpy as np

    rgb = np.arange(4 * 3 * 3, dtype=np.uint8).tobytes()
    png = MM.encode_png(4, 3, rgb)
    df = spark.createDataFrame([(1, png)], "content_id bigint, content binary")
    row = MM.decode_image(df).collect()[0]
    assert (row.width, row.height, row.ok) == (4, 3, True)
    assert bytes(row.pixels) == rgb


def test_png_nearest_neighbor_resize_roundtrips(spark):
    import numpy as np

    rgb = np.arange(6 * 4 * 3, dtype=np.uint8).tobytes()
    df = spark.createDataFrame(
        [(1, MM.encode_png(6, 4, rgb))], "content_id bigint, content binary"
    )
    out = MM.resize_image(df, 3, 2).collect()[0]
    w, h, resized = MM.decode_png(bytes(out.content))
    assert (w, h) == (3, 2)
    expect = MM._nn_resize_rgb(rgb, 6, 4, 3, 2)
    assert resized == expect


def test_spectral_features_locate_a_pure_tone(spark):
    """A synthesized 4 kHz sine at 16 kHz sampling must put the spectral
    centroid near 4 kHz and the dominant band energy in band 3 of 8
    (129 rfft bins over [0, 8 kHz]; bin 64 lands at the tail of
    array_split band 3)."""
    import numpy as np

    from azurestorage_blueprints_spark.operators.multimodal import (
        encode_wav,
        extract_spectral_features,
    )

    rate, dur_s, tone = 16000, 1, 4000
    t = np.arange(rate * dur_s) / rate
    wave = (0.5 * 32767 * np.sin(2 * np.pi * tone * t)).astype("<i2")
    df = spark.createDataFrame(
        [(1, bytearray(encode_wav(rate, wave))), (2, bytearray(b"not audio"))],
        "content_id long, content binary",
    )
    rows = {r.content_id: r for r in extract_spectral_features(df).collect()}
    good, bad = rows[1], rows[2]
    assert good.ok and not bad.ok
    assert abs(good.spectral_centroid_hz - tone) < 200, good.spectral_centroid_hz
    # 129 rfft bins over [0, 8 kHz]; the 4 kHz tone is bin 64, which
    # array_split(129, 8) places at the tail of band 3
    assert int(np.argmax(good.band_energies)) == 3


def test_gif_roundtrip_encode_decode():
    """decode_gif (hand-rolled LZW) inverts the fixture encoder across
    palette sizes and the interlace flag."""
    import numpy as np

    rng = np.random.default_rng(7)
    for (w, h), ncol, inter in [
        ((8, 8), 4, False),
        ((13, 9), 17, False),
        ((16, 12), 256, True),
        ((1, 1), 1, False),
    ]:
        pal = rng.integers(0, 256, (ncol, 3), dtype=np.uint8)
        img = pal[rng.integers(0, ncol, (h, w))]
        gif = MM.encode_gif(w, h, img.tobytes(), interlace=inter)
        assert gif[:6] == b"GIF89a"
        W, H, rgb = MM.decode_gif(gif)
        assert (W, H) == (w, h)
        assert rgb == img.tobytes()


def test_gif_lzw_handles_dictionary_growth_and_cScSc():
    """The fixture encoder never grows the LZW dictionary (CLEAR before
    every code), so this drives the decoder with a REAL greedy LZW
    compressor: dictionary growth, code-width bumps, the 12-bit cap,
    and the cScSc (code == next-table-slot) case."""
    import numpy as np

    def lzw_encode(indices, mcs):
        clear, end = 1 << mcs, (1 << mcs) + 1
        table = {bytes((i,)): i for i in range(1 << mcs)}
        nxt, cur, seq = end + 1, b"", []
        for px in bytes(indices):
            cand = cur + bytes((px,))
            if cand in table:
                cur = cand
            else:
                seq.append(table[cur])
                if nxt < 4096:
                    table[cand] = nxt
                    nxt += 1
                cur = bytes((px,))
        if cur:
            seq.append(table[cur])
        codes = [clear] + seq + [end]
        acc = bits = 0
        out = bytearray()
        width, size, first = mcs + 1, end + 1, True
        for c in codes:
            acc |= c << bits
            bits += width
            while bits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                bits -= 8
            if c == clear:
                width, size, first = mcs + 1, end + 1, True
            elif c != end:
                if first:  # decoder adds no entry for the 1st code
                    first = False
                elif size < 4095:
                    size += 1
                    if size == (1 << width) and width < 12:
                        width += 1
        if bits:
            out.append(acc & 0xFF)
        return bytes(out)

    rng = np.random.default_rng(11)
    for data, mcs in [
        (rng.integers(0, 4, 5000, dtype=np.uint8).tobytes(), 2),
        (b"\x01\x01" * 3000, 2),  # runs force the cScSc branch
        (bytes(rng.integers(0, 256, 30000, dtype=np.uint8)), 8),  # 12-bit cap
    ]:
        assert bytes(MM._gif_lzw_decode(lzw_encode(data, mcs), mcs)) == data


def test_gif_decodes_for_real_through_spark(spark):
    """GIF payloads flow through the same decode_image dispatch as
    PPM/PNG — no injected decoder needed (the codec tier shrank to
    JPEG/MP3); extension blocks are skipped on the way to the frame."""
    import numpy as np

    rng = np.random.default_rng(3)
    pal = rng.integers(0, 256, (8, 3), dtype=np.uint8)
    img = pal[rng.integers(0, 8, (6, 5))]
    gif = MM.encode_gif(5, 6, img.tobytes())
    # splice in a Graphic Control Extension after the palette to prove
    # the 0x21 skip path: header(13) + GCT(3*8=24) bytes
    cut = 13 + 24
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    gif_ext = gif[:cut] + gce + gif[cut:]
    df = spark.createDataFrame(
        [(1, gif), (2, gif_ext), (3, b"GIF89atruncated")],
        "content_id bigint, content binary",
    )
    rows = {r.content_id: r for r in MM.decode_image(df).collect()}
    for cid in (1, 2):
        r = rows[cid]
        assert r.ok is True and (r.width, r.height) == (5, 6)
        assert bytes(r.pixels) == img.tobytes()
    assert rows[3].ok is False  # corrupt payload fails soft, never the stage


def test_gif_roundtrip_property():
    """Property fuzz over the codec pair: any image with <=256 distinct
    colors survives encode->decode bit-exactly, interlaced or not."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 40),
        h=st.integers(1, 40),
        ncol=st.integers(1, 256),
        inter=st.booleans(),
        seed=st.integers(0, 2**31 - 1),
    )
    def roundtrip(w, h, ncol, inter, seed):
        rng = np.random.default_rng(seed)
        pal = rng.integers(0, 256, (ncol, 3), dtype=np.uint8)
        img = pal[rng.integers(0, ncol, (h, w))]
        gif = MM.encode_gif(w, h, img.tobytes(), interlace=inter)
        W, H, rgb = MM.decode_gif(gif)
        assert (W, H) == (w, h)
        assert rgb == img.tobytes()

    roundtrip()


def test_wav_roundtrip_property():
    """Property fuzz over the RIFF/PCM pair: any int16 sample block (1-2
    channels) survives encode->decode bit-exactly."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        n=st.integers(1, 500),
        ch=st.integers(1, 2),
        rate=st.sampled_from([8000, 16000, 44100]),
        seed=st.integers(0, 2**31 - 1),
    )
    def roundtrip(n, ch, rate, seed):
        rng = np.random.default_rng(seed)
        samples = rng.integers(-32768, 32768, (n, ch), dtype=np.int16)
        wav = MM.encode_wav(rate, samples)
        r, c, out = MM.decode_wav(wav)
        assert (r, c) == (rate, ch)
        assert np.array_equal(out, samples)

    roundtrip()


def test_bmp_roundtrip_encode_decode_color():
    # COLOR round-trip (a grayscale checksum cannot see BGR/RGB channel
    # swaps) across strides that need padding (w=4,5,7) and the 1x1 edge
    import numpy as np

    rng = np.random.default_rng(11)
    for w, h in [(4, 5), (5, 3), (7, 2), (1, 1), (8, 8)]:
        rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8).tobytes()
        assert MM.decode_bmp(MM.encode_bmp(w, h, rgb)) == (w, h, rgb)


def test_bmp_decodes_top_down_negative_height():
    import numpy as np

    rgb = np.arange(2 * 3 * 3, dtype=np.uint8).tobytes()  # 3x2
    b = bytearray(MM.encode_bmp(3, 2, rgb))
    # flip to the top-down variant: height = -2, rows already bottom-up
    # in the payload so decoding top-down must give the row-reversed img
    b[22:26] = (-2).to_bytes(4, "little", signed=True)
    w, h, px = MM.decode_bmp(bytes(b))
    assert (w, h) == (3, 2)
    a = np.frombuffer(rgb, dtype=np.uint8).reshape(2, 3, 3)
    assert px == a[::-1].tobytes()


def test_bmp_dispatches_through_decode_image(spark):
    import numpy as np

    rgb = np.arange(4 * 3 * 3, dtype=np.uint8).tobytes()
    df = spark.createDataFrame(
        [(1, MM.encode_bmp(4, 3, rgb))], "content_id bigint, content binary"
    )
    row = MM.decode_image(df).collect()[0]
    assert row.ok and (row.width, row.height) == (4, 3)
    assert bytes(row.pixels) == rgb
