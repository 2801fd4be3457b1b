"""Multimodal column plumbing tests (binary payloads + Pandas UDF)."""

from __future__ import annotations

import pandas as pd
import pytest

from map_reduce_server_spark.operators.multimodal import (
    decode_batch,
    decode_payloads,
    with_synthetic_payload,
)
from map_reduce_server_spark.tables import load_table


def test_payload_is_binary_with_metadata(spark, sf_small):
    docs = load_table(spark, sf_small, "documents").limit(5)
    enriched = with_synthetic_payload(docs)
    dtypes = dict(enriched.dtypes)
    assert dtypes["payload"] == "binary"
    row = enriched.first()
    assert len(row.payload) == 32
    assert row.meta.fmt in ("png", "jpeg", "wav")
    assert row.meta.byte_len == 32


def test_decode_real_codecs_are_stubbed():
    pdf = pd.DataFrame({"doc_id": [1], "payload": [b"\x01\x02"], "fmt": ["png"]})
    with pytest.raises(NotImplementedError):
        decode_batch(pdf, fake=False)


def test_resize_rejects_non_png_payload(spark, sf_small):
    """resize_images is now a real PNG stage; the synthetic md5-byte
    payloads are not PNGs, so the codec must reject them (the real
    guard for the still-env-gated jpeg/wav modalities)."""
    from pyspark.errors import PythonException

    from map_reduce_server_spark.operators.multimodal import resize_images

    docs = load_table(spark, sf_small, "documents").limit(1)
    with pytest.raises(PythonException, match="bad signature"):
        resize_images(with_synthetic_payload(docs), 64, 64).collect()


def test_frame_sample_strides_blocks(spark, sf_small):
    from map_reduce_server_spark.operators.multimodal import frame_sample

    docs = load_table(spark, sf_small, "documents").limit(5)
    out = frame_sample(with_synthetic_payload(docs), every_n=2).collect()
    for r in out:
        # 8 blocks of 4 bytes, stride 2 → 4 blocks = 16 bytes
        assert len(r.frames) == 16


def test_decode_fake_path_runs_distributed(spark, sf_small):
    docs = load_table(spark, sf_small, "documents").limit(10)
    decoded = decode_payloads(with_synthetic_payload(docs), fake=True)
    rows = decoded.collect()
    assert len(rows) == 10
    for r in rows:
        assert r.byte_len == 32
        assert 0 <= r.width <= 255
        assert 0 <= r.height <= 255


# --- pure-stdlib PNG codec --------------------------------------------------


def test_png_roundtrip_identity():
    from map_reduce_server_spark.functions import png

    w, h = 5, 4
    pixels = bytes(range(w * h * 3))
    data = png.encode_rgb8(w, h, pixels)
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    assert png.decode_rgb8(data) == (w, h, pixels)


def test_png_crc_corruption_detected():
    import pytest

    from map_reduce_server_spark.functions import png

    data = bytearray(png.encode_rgb8(2, 2, bytes(12)))
    # flip one bit inside the IDAT payload (after the 8-byte sig +
    # 25-byte IHDR chunk + 8-byte IDAT header)
    data[8 + 25 + 8] ^= 0x01
    with pytest.raises(ValueError, match="CRC"):
        png.decode_rgb8(bytes(data))


def test_png_decode_sub_and_up_filters():
    """The decoder must reconstruct Sub/Up-filtered scanlines — build
    a raw stream with explicit filter types and compare against the
    unfiltered reference image."""
    import struct
    import zlib

    from map_reduce_server_spark.functions import png

    w, h = 3, 3
    pixels = bytes((y * 40 + x * 7) % 256 for y in range(h) for x in range(w * 3))
    stride = w * 3
    rows = [pixels[y * stride : (y + 1) * stride] for y in range(h)]
    raw = bytearray()
    # row 0: None; row 1: Sub (delta vs 3 bytes left); row 2: Up
    raw += b"\x00" + rows[0]
    sub = bytearray(rows[1])
    for i in range(stride - 1, 2, -1):
        sub[i] = (sub[i] - sub[i - 3]) & 0xFF
    raw += b"\x01" + bytes(sub)
    up = bytes((rows[2][i] - rows[1][i]) & 0xFF for i in range(stride))
    raw += b"\x02" + up

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert png.decode_rgb8(data) == (w, h, pixels)


def test_png_decode_all_five_filter_types():
    """Round-trip through every scanline filter the spec defines
    (0 None, 1 Sub, 2 Up, 3 Average, 4 Paeth): forward-filter a
    5-row reference image one filter type per row — the exact
    inverse recurrences of the decoder — and assert the decoder
    reconstructs the original pixels. Externally produced PNGs
    (libpng picks per-row filters heuristically) routinely mix
    Average/Paeth, which the synthetic corpus's own encoder never
    emits."""
    import struct
    import zlib

    from map_reduce_server_spark.functions import png

    w, h = 4, 5
    pixels = bytes(
        (y * 37 + x * 11 + (x * y) % 13) % 256
        for y in range(h)
        for x in range(w * 3)
    )
    stride = w * 3
    rows = [
        bytearray(pixels[y * stride : (y + 1) * stride]) for y in range(h)
    ]

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    raw = bytearray()
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        cur = rows[y]
        prev = rows[y - 1] if y else bytearray(stride)
        filt = bytearray(stride)
        for i in range(stride):
            left = cur[i - 3] if i >= 3 else 0
            up = prev[i]
            upleft = prev[i - 3] if i >= 3 else 0
            pred = {
                0: 0,
                1: left,
                2: up,
                3: (left + up) >> 1,
                4: paeth(left, up, upleft),
            }[ftype]
            filt[i] = (cur[i] - pred) & 0xFF
        raw += bytes([ftype]) + bytes(filt)

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert png.decode_rgb8(data) == (w, h, pixels)


def test_png_resize_nearest():
    from map_reduce_server_spark.functions import png

    # 2x2 image with distinct corner colors -> 4x4 repeats each corner
    px = bytes([1, 1, 1, 2, 2, 2, 3, 3, 3, 4, 4, 4])
    out = png.resize_nearest_rgb8(px, 2, 2, 4, 4)
    assert out[:3] == bytes([1, 1, 1])  # top-left
    assert out[9:12] == bytes([2, 2, 2])  # top-right
    assert out[36:39] == bytes([3, 3, 3])  # bottom-left
    assert out[45:48] == bytes([4, 4, 4])  # bottom-right
    assert len(out) == 4 * 4 * 3


def test_real_png_pipeline_matches_fake_free_oracle(spark, sf_small):
    """The registered PNG queries run the real codec worker-side."""
    from map_reduce_server_spark import registry

    df = registry.QUERIES["multimodal_decode_png"](spark, sf_small)
    row = df.orderBy("doc_id").first()
    assert row["width"] == 4 and row["height"] == 3
    assert 0.0 <= row["mean_px"] <= 255.0


def test_wavcodec_roundtrip():
    """Pure-codec property: encode→decode is the identity on
    samples and framerate, across edge values (int16 extremes)."""
    from map_reduce_server_spark.functions import wavcodec

    samples = [0, 1, -1, 32767, -32768, 12345, -12345, 7] * 4
    payload = wavcodec.encode_pcm16(samples, 8000)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    rate, out = wavcodec.decode_pcm16(payload)
    assert rate == 8000
    assert out == samples


def test_wavcodec_rejects_stereo():
    import io
    import struct
    import wave

    import pytest as _pytest

    from map_reduce_server_spark.functions import wavcodec

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<4h", 1, 2, 3, 4))
    with _pytest.raises(ValueError):
        wavcodec.decode_pcm16(buf.getvalue())


def test_null_text_yields_null_stats_not_crash(spark):
    """A NULL text row must flow through every codec stage as NULL
    statistics (the oracle twins' md5(NULL) behavior), never crash
    the worker — and the DuckDB twins must emit the identical NULL
    rows on the same fixture."""
    import tempfile

    import duckdb

    from map_reduce_server_spark import registry
    from tests.oracle_utils import canonical_rows

    registry.load_all()
    df = spark.createDataFrame(
        [(1, "hello world", "web", 11, 2),
         (2, None, "web", 0, 0)],
        "doc_id bigint, text string, source string,"
        " n_chars bigint, n_tokens bigint",
    )
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.mode("overwrite").parquet(
            f"{d}/documents.parquet"
        )
        for name in [
            "multimodal_decode_png",
            "multimodal_resize_png",
            "multimodal_decode_wav",
            "multimodal_decode_jpeg",
            "multimodal_decode_jpeg_color",
            "multimodal_decode_jpeg_progressive",
            "multimodal_decode_alaw",
            "multimodal_decode_mulaw",
            "multimodal_decode_video",
            "multimodal_features",
            "multimodal_meta",
            "multimodal_decode",
        ]:
            sdf = registry.QUERIES[name](spark, d).toPandas()
            con = duckdb.connect()
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM "
                f"'{d}/documents.parquet/*.parquet'"
            )
            odf = con.execute(registry.ORACLE[name]).fetchdf()
            con.close()
            assert canonical_rows(sdf) == canonical_rows(odf), name
            null_row = sdf[sdf.doc_id == 2].iloc[0]
            # every payload-derived field is NULL for the NULL text
            for col in sdf.columns:
                if col in ("doc_id", "fmt", "origin"):
                    continue
                assert pd.isna(null_row[col]), (name, col)


def test_png_truncation_raises_valueerror():
    """EVERY proper prefix must fail with the codec's ValueError
    contract — not struct.error, not zlib.error (a cut right after
    IHDR previously reached zlib.decompress(b'')), and not a silent
    success for a file cut at the IEND boundary (r9: IEND is
    required; a chunk-aligned truncation must not pass as
    complete)."""
    from map_reduce_server_spark.functions import png

    data = png.encode_rgb8(2, 2, bytes(range(12)))
    for cut in range(len(data)):
        with pytest.raises(ValueError):
            png.decode_rgb8(data[:cut])


def test_wav_truncation_raises_valueerror():
    """The stdlib wave module raises wave.Error/EOFError/
    struct.error on corrupt input; the codec must translate ALL of
    them to its ValueError contract (r9 sweep: 108 of 108 truncation
    points previously leaked a foreign exception type)."""
    from map_reduce_server_spark.functions import wavcodec

    data = wavcodec.encode_pcm16(list(range(32)), 8000)
    for cut in range(len(data)):
        with pytest.raises(ValueError):
            wavcodec.decode_pcm16(data[:cut])


# --- JPEG codec (functions/jpeg.py) ----------------------------------------


def test_jpeg_flat_block_roundtrip_exact():
    """The exactness domain the oracle relies on: flat 8x8 blocks
    survive the LOSSY pipeline bit-for-bit under the unit quant
    table (DC-only spectra, integer DC coefficients) — and under
    quant=2 too, since 8*(v-128) is always even."""
    import numpy as np

    from map_reduce_server_spark.functions import jpeg

    rng = np.random.default_rng(42)
    for q in (1, 2):
        for _ in range(5):
            vals = rng.integers(0, 256, 12, dtype=np.uint8)
            img = np.repeat(
                np.repeat(vals.reshape(3, 4), 8, axis=0), 8, axis=1
            )
            data = jpeg.encode_gray8(32, 24, img.tobytes(), quant=q)
            w, h, px = jpeg.decode_gray8(data)
            assert (w, h) == (32, 24)
            back = np.frombuffer(px, dtype=np.uint8).reshape(24, 32)
            assert np.array_equal(back, img), q


def test_jpeg_general_roundtrip_within_one():
    """Arbitrary content (gradients, noise, odd dimensions) round-
    trips within +/-1 per pixel at quant=1 — the only loss left is
    DCT/IDCT float rounding."""
    import numpy as np

    from map_reduce_server_spark.functions import jpeg

    rng = np.random.default_rng(7)
    cases = [
        (
            32,
            24,
            (np.add.outer(np.arange(24) * 3, np.arange(32) * 2) % 256)
            .astype(np.uint8),
        ),
        (13, 11, rng.integers(0, 256, (11, 13), dtype=np.uint8)),
        (8, 8, rng.integers(0, 256, (8, 8), dtype=np.uint8)),
        (1, 1, np.array([[200]], dtype=np.uint8)),
    ]
    for w0, h0, img in cases:
        data = jpeg.encode_gray8(w0, h0, img.tobytes())
        w, h, px = jpeg.decode_gray8(data)
        assert (w, h) == (w0, h0)
        back = np.frombuffer(px, dtype=np.uint8).reshape(h0, w0)
        err = np.abs(back.astype(int) - img.astype(int)).max()
        assert err <= 1, (w0, h0, err)


def test_jpeg_malformed_inputs_raise():
    import numpy as np
    import pytest

    from map_reduce_server_spark.functions import jpeg

    img = np.zeros((8, 8), dtype=np.uint8)
    data = jpeg.encode_gray8(8, 8, img.tobytes())
    with pytest.raises(ValueError, match="SOI"):
        jpeg.decode_gray8(b"not a jpeg")
    with pytest.raises(ValueError):
        jpeg.decode_gray8(data[:30])  # truncated mid-segment
    with pytest.raises(ValueError):
        jpeg.decode_gray8(data[:-2])  # EOI missing
    # SOF2 is now a supported frame type, but a baseline-shaped scan
    # header (Ss=0, Se=63) inside a progressive frame is malformed —
    # it must raise, not silently mis-decode as a DC scan
    prog = bytearray(data)
    sof = prog.find(b"\xff\xc0")
    prog[sof + 1] = 0xC2
    with pytest.raises(ValueError, match="DC scan must have Se = 0"):
        jpeg.decode_gray8(bytes(prog))
    with pytest.raises(ValueError):
        jpeg.encode_gray8(8, 8, img.tobytes()[:10])  # size mismatch


def test_jpeg_entropy_stream_is_marker_clean():
    """Byte stuffing: every 0xFF the entropy coder emits must be
    followed by 0x00 so no scan byte parses as a marker — exercised
    with content tuned to produce 0xFF-heavy streams."""
    import numpy as np

    from map_reduce_server_spark.functions import jpeg

    rng = np.random.default_rng(3)
    for _ in range(10):
        img = rng.integers(0, 256, (16, 16), dtype=np.uint8)
        data = jpeg.encode_gray8(16, 16, img.tobytes())
        w, h, px = jpeg.decode_gray8(data)  # would raise on a bad stream
        back = np.frombuffer(px, dtype=np.uint8).reshape(16, 16)
        assert np.abs(back.astype(int) - img.astype(int)).max() <= 1


# --- G.711 mu-law codec (functions/g711.py) --------------------------------


def test_mulaw_codebook_invertible_and_matches_audioop():
    """encode(decode(c)) == c for every code except the negative-zero
    code 0x7F (decodes to 0, which re-encodes as positive zero 0xFF)
    — and both directions match CPython's audioop reference
    implementation code-for-code where it is available (<3.13)."""
    from map_reduce_server_spark.functions import g711

    for c in range(256):
        v = g711.decode_sample(c)
        back = g711.encode_sample(v)
        assert back == (0xFF if c == 0x7F else c), hex(c)
    try:
        import struct as st
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("ignore", DeprecationWarning)
            import audioop
    except ImportError:
        return  # removed in 3.13; the closed-form asserts above stand
    for c in range(256):
        v = g711.decode_sample(c)
        assert st.unpack("<h", audioop.ulaw2lin(bytes([c]), 2))[0] == v
        assert audioop.lin2ulaw(st.pack("<h", v), 2)[0] == (
            g711.encode_sample(v)
        )


def test_mulaw_container_roundtrip_and_padding():
    from map_reduce_server_spark.functions import g711

    codes = bytes(range(256)) + bytes([7])  # odd length -> pad byte
    data = g711.encode_wav_mulaw(8000, codes)
    rate, samples = g711.decode_wav_mulaw(data)
    assert rate == 8000
    assert samples == [g711.decode_sample(c) for c in codes]


def test_mulaw_container_rejects_malformed():
    import pytest

    from map_reduce_server_spark.functions import g711

    data = g711.encode_wav_mulaw(8000, bytes([1, 2, 3, 4]))
    with pytest.raises(ValueError, match="RIFF"):
        g711.decode_wav_mulaw(b"not riff at all")
    with pytest.raises(ValueError):
        g711.decode_wav_mulaw(data[:20])  # truncated chunk
    # a PCM (tag 1) file must be rejected, not mis-expanded
    pcm = bytearray(data)
    fmt_at = pcm.find(b"fmt ") + 8
    pcm[fmt_at] = 1
    with pytest.raises(NotImplementedError, match="MULAW"):
        g711.decode_wav_mulaw(bytes(pcm))


# --- MJPEG AVI container (functions/avi.py) ---------------------------------


def test_avi_mjpeg_roundtrip_exact():
    """Four flat-block JPEG frames survive the container + per-frame
    decode bit-exactly, and the stride sampler keeps frames 0, n,
    2n, ..."""
    import numpy as np

    from map_reduce_server_spark.functions import avi, jpeg

    rng = np.random.default_rng(11)
    srcs, frames = [], []
    for _ in range(4):
        vals = rng.integers(0, 256, 12, dtype=np.uint8)
        img = np.repeat(np.repeat(vals.reshape(3, 4), 8, 0), 8, 1)
        srcs.append(img)
        frames.append(jpeg.encode_gray8(32, 24, img.tobytes()))
    data = avi.encode_avi_mjpeg(32, 24, 10, frames)
    w, h, fps, dec = avi.decode_avi_mjpeg(data)
    assert (w, h, fps, len(dec)) == (32, 24, 10, 4)
    for (fw, fh, px), src in zip(dec, srcs):
        assert (fw, fh) == (32, 24)
        assert np.array_equal(
            np.frombuffer(px, np.uint8).reshape(24, 32), src
        )
    assert avi.sample_frames(dec, 2) == [dec[0], dec[2]]
    assert avi.sample_frames(dec, 1) == dec


def test_avi_rejects_malformed():
    import numpy as np
    import pytest

    from map_reduce_server_spark.functions import avi, jpeg

    frame = jpeg.encode_gray8(8, 8, np.zeros((8, 8), np.uint8).tobytes())
    data = avi.encode_avi_mjpeg(8, 8, 10, [frame])
    with pytest.raises(ValueError, match="RIFF"):
        avi.decode_avi_mjpeg(b"garbage here definitely")
    with pytest.raises(ValueError):
        avi.decode_avi_mjpeg(data[:40])  # truncated
    # a non-MJPG stream handler must be rejected, not mis-decoded
    alien = bytearray(data)
    at = alien.find(b"vids") + 4
    alien[at : at + 4] = b"H264"
    with pytest.raises(NotImplementedError, match="MJPG"):
        avi.decode_avi_mjpeg(bytes(alien))
    with pytest.raises(ValueError, match="at least one frame"):
        avi.encode_avi_mjpeg(8, 8, 10, [])


def test_codec_contract_no_bare_errors_on_crafted_input():
    """All three new parsers must fail crafted/truncated input with
    their documented ValueError/NotImplementedError contract — never
    IndexError, struct.error, or RecursionError leaking from the
    internals (the contract 6745c13 pinned for PNG)."""
    import struct as st

    import numpy as np
    import pytest

    from map_reduce_server_spark.functions import avi, g711, jpeg

    # jpeg: marker truncated right after SOI
    with pytest.raises(ValueError):
        jpeg.decode_gray8(b"\xff\xd8\xff")
    # jpeg: every prefix of a valid file raises ValueError (or
    # decodes, for prefixes that still contain the whole scan)
    frame = jpeg.encode_gray8(8, 8, bytes(64))
    for cut in range(2, len(frame)):
        try:
            jpeg.decode_gray8(frame[:cut])
        except (ValueError, NotImplementedError):
            pass
    # jpeg: DRI with a nonzero restart interval is an explicit
    # NotImplementedError, not a mid-scan mystery failure
    dri = b"\xff\xdd" + st.pack(">H", 4) + st.pack(">H", 8)
    with_dri = frame[:2] + dri + frame[2:]
    with pytest.raises(NotImplementedError, match="restart"):
        jpeg.decode_gray8(with_dri)
    # g711: short fmt chunk
    bad = (b"RIFF" + st.pack("<I", 16) + b"WAVE"
           + b"fmt " + st.pack("<I", 4) + b"\x07\x00\x01\x00")
    with pytest.raises(ValueError, match="fmt"):
        g711.decode_wav_mulaw(bad)
    # g711: a stray 'data' header in trailing garbage past the
    # declared RIFF size must not override the real samples
    good = g711.encode_wav_mulaw(8000, bytes([1, 2, 3, 4]))
    tail = b"data" + st.pack("<I", 2) + bytes([9, 9])
    rate, samples = g711.decode_wav_mulaw(good + tail)
    assert samples == [g711.decode_sample(c) for c in bytes([1, 2, 3, 4])]
    # avi: a deeply nested LIST bomb fails structurally, not with
    # RecursionError
    depth = 5000
    bomb_body = b""
    for _ in range(depth):
        bomb_body = b"LIST" + st.pack("<I", len(bomb_body) + 4) + b"hdrl" + bomb_body
    bomb = b"RIFF" + st.pack("<I", len(bomb_body) + 4) + b"AVI " + bomb_body
    with pytest.raises(ValueError):
        avi.decode_avi_mjpeg(bomb)
    # avi: raw parse + stride decode path agrees with full decode
    f1 = jpeg.encode_gray8(8, 8, bytes(range(64)))
    data = avi.encode_avi_mjpeg(8, 8, 10, [f1, f1, f1])
    w, h, fps, raw = avi.parse_avi_mjpeg(data)
    assert raw == [f1, f1, f1]
    kept = [jpeg.decode_gray8(f) for f in avi.sample_frames(raw, 2)]
    assert kept == avi.decode_avi_mjpeg(data)[3][::2]


def test_jpeg_color_roundtrip():
    """The COLOR pipeline (YCbCr 4:4:4, interleaved MCUs,
    per-component DC prediction): flat GRAY blocks round-trip
    bit-exactly (Y=v, Cb=Cr=128 exactly under BT.601), general color
    content within +/-5 (DCT float rounding compounding through the
    BT.601 1.772 blue coefficient; worst case ~4.2, observed 4), and
    the gray/color decode entry points reject each other's files
    explicitly."""
    import numpy as np
    import pytest

    from map_reduce_server_spark.functions import jpeg

    rng = np.random.default_rng(21)
    # flat gray blocks, color container -> exact
    vals = rng.integers(0, 256, 12, dtype=np.uint8)
    gray = np.repeat(np.repeat(vals.reshape(3, 4), 8, 0), 8, 1)
    rgb = np.repeat(gray[..., None], 3, axis=2)
    data = jpeg.encode_rgb8(32, 24, rgb.tobytes())
    w, h, px = jpeg.decode_rgb8(data)
    assert (w, h) == (32, 24)
    assert np.array_equal(
        np.frombuffer(px, np.uint8).reshape(24, 32, 3), rgb
    )
    # arbitrary color -> bounded error
    cimg = rng.integers(0, 256, (11, 13, 3), dtype=np.uint8)
    d2 = jpeg.encode_rgb8(13, 11, cimg.tobytes())
    b2 = np.frombuffer(jpeg.decode_rgb8(d2)[2], np.uint8).reshape(11, 13, 3)
    assert np.abs(b2.astype(int) - cimg.astype(int)).max() <= 5
    # wrong-entry-point errors are explicit
    g = jpeg.encode_gray8(8, 8, bytes(64))
    with pytest.raises(ValueError, match="use decode_gray8"):
        jpeg.decode_rgb8(g)
    with pytest.raises(ValueError, match="use decode_rgb8"):
        jpeg.decode_gray8(data)


def test_jpeg_decoder_guards():
    """Crafted-header hazards fail with ValueError, not worker OOM or
    silent garbage: a ~200-byte file declaring 65535x65535 must hit
    the megapixel cap before any coefficient allocation, and an SOS
    that lists a component twice (leaving another unmapped) must be
    rejected rather than decoded with the wrong Huffman tables."""
    import struct as st

    import pytest

    from map_reduce_server_spark.functions import jpeg

    base = bytearray(jpeg.encode_gray8(8, 8, bytes(64)))
    # inflate the declared dimensions only
    at = base.find(b"\xff\xc0") + 5
    huge = bytearray(base)
    huge[at : at + 4] = st.pack(">HH", 65535, 65535)
    with pytest.raises(ValueError, match="megapixel"):
        jpeg.decode_gray8(bytes(huge))
    # color file whose SOS lists component 1 twice and omits 2
    rgb = jpeg.encode_rgb8(8, 8, bytes(192))
    dup = bytearray(rgb)
    sos = dup.find(b"\xff\xda")
    assert dup[sos + 5] == 1 and dup[sos + 7] == 2
    dup[sos + 7] = 1  # second selector now duplicates component 1
    with pytest.raises(ValueError, match="twice"):
        jpeg.decode_rgb8(bytes(dup))


def test_jpeg_420_subsampled_roundtrip():
    """The 4:2:0 profile (the format nearly every real-world JPEG
    uses): 16x16 MCUs interleave 4 Y + 1 Cb + 1 Cr, chroma is 2x2
    box-downsampled on encode and replicated on decode. Flat-gray
    MCUs stay bit-exact; constant-chroma content matches the
    grayscale bound; genuinely smooth color stays within a few
    counts (chroma EDGES blur by design — that is what 4:2:0 is)."""
    import numpy as np

    from map_reduce_server_spark.functions import jpeg

    rng = np.random.default_rng(17)
    # flat-gray 16x16 MCUs -> exact
    mv = rng.integers(0, 256, 6, dtype=np.uint8)
    gm = np.repeat(np.repeat(mv.reshape(2, 3), 16, 0), 16, 1)
    rgbm = np.repeat(gm[..., None], 3, 2)
    data = jpeg.encode_rgb8(48, 32, rgbm.tobytes(), subsample=True)
    w, h, px = jpeg.decode_rgb8(data)
    assert (w, h) == (48, 32)
    assert np.array_equal(
        np.frombuffer(px, np.uint8).reshape(32, 48, 3), rgbm
    )
    # constant-chroma gradient -> grayscale-class error
    g = (np.add.outer(np.arange(24) * 3, np.arange(32) * 2) % 256).astype(
        np.uint8
    )
    rgb = np.repeat(g[..., None], 3, 2)
    b = np.frombuffer(
        jpeg.decode_rgb8(
            jpeg.encode_rgb8(32, 24, rgb.tobytes(), subsample=True)
        )[2],
        np.uint8,
    ).reshape(24, 32, 3)
    assert np.abs(b.astype(int) - rgb.astype(int)).max() <= 1
    # smooth linear color ramps (odd dims exercise MCU crop)
    y, x = np.mgrid[0:21, 0:35]
    sm = np.stack([50 + 3 * x, 80 + 2 * y, 100 + x + y], -1).astype(
        np.uint8
    )
    b2 = np.frombuffer(
        jpeg.decode_rgb8(
            jpeg.encode_rgb8(35, 21, sm.tobytes(), subsample=True)
        )[2],
        np.uint8,
    ).reshape(21, 35, 3)
    assert np.abs(b2.astype(int) - sm.astype(int)).max() <= 5


def test_alaw_codebook_invertible_and_matches_audioop():
    """A-law (format tag 6): encode(decode(c)) == c for ALL 256
    codes (no negative-zero quirk — every code decodes to a nonzero
    quantizer midpoint), both directions matching CPython's audioop
    reference where available, and the tag-6 container round-trips
    while rejecting a mu-law (tag 7) file."""
    import pytest

    from map_reduce_server_spark.functions import g711

    for c in range(256):
        v = g711.decode_alaw_sample(c)
        assert v != 0
        assert g711.encode_alaw_sample(v) == c, hex(c)
    try:
        import struct as st
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("ignore", DeprecationWarning)
            import audioop
    except ImportError:
        audioop = None
    if audioop is not None:
        for c in range(256):
            v = g711.decode_alaw_sample(c)
            assert st.unpack("<h", audioop.alaw2lin(bytes([c]), 2))[0] == v
        # encode parity on EVERY int16 sample, not just codebook
        # midpoints — pins the -pcm-1 negative-boundary convention
        # (e.g. -256 must encode to 0x5A, seg 0, not 0x45, seg 1)
        assert g711.encode_alaw_sample(-256) == 0x5A
        all_pcm = st.pack("<65536h", *range(-32768, 32768))
        expected = audioop.lin2alaw(all_pcm, 2)
        for i, s in enumerate(range(-32768, 32768)):
            assert g711.encode_alaw_sample(s) == expected[i], s
    codes = bytes(range(256))
    data = g711.encode_wav_alaw(8000, codes)
    rate, samples = g711.decode_wav_alaw(data)
    assert rate == 8000
    assert samples == [g711.decode_alaw_sample(c) for c in codes]
    with pytest.raises(NotImplementedError, match="ALAW"):
        g711.decode_wav_alaw(g711.encode_wav_mulaw(8000, codes))
    with pytest.raises(NotImplementedError, match="MULAW"):
        g711.decode_wav_mulaw(data)


def _bt601_closed_form(rgb):
    """Per-pixel reference for the codec's two rounded BT.601
    transforms (encode then decode), operation-for-operation the
    arithmetic encode_rgb8/decode_rgb8 perform on a FLAT region —
    the closed form multimodal_decode_jpeg_color's oracle replays
    in SQL. Python round() is round-half-even like np.rint."""
    r, g, b = map(float, rgb)
    y = min(255, max(0, round((0.299 * r + 0.587 * g) + 0.114 * b)))
    cb = min(255, max(0, round(
        ((128.0 - 0.168736 * r) - 0.331264 * g) + 0.5 * b)))
    cr = min(255, max(0, round(
        ((128.0 + 0.5 * r) - 0.418688 * g) - 0.081312 * b)))
    r2 = min(255, max(0, round(y + 1.402 * (cr - 128.0))))
    g2 = min(255, max(0, round(
        (y - 0.344136 * (cb - 128.0)) - 0.714136 * (cr - 128.0))))
    b2 = min(255, max(0, round(y + 1.772 * (cb - 128.0))))
    return r2, g2, b2


def test_jpeg_color_flat_mcu_closed_form():
    """The multimodal_decode_jpeg_color exactness contract: a 32x32
    image of four FLAT 16x16 RGB MCUs round-trips through the full
    4:2:0 lossy pipeline to EXACTLY the closed-form double-rounded
    BT.601 reconstruction, for arbitrary MCU colors — so the SQL
    oracle can recompute every output pixel. Uses the same payload
    builder the registered query ships to executors."""
    import numpy as np

    from map_reduce_server_spark.functions import jpeg
    from map_reduce_server_spark.operators.multimodal import (
        _flat_mcu_rgb,
    )

    rng = np.random.default_rng(42)
    for _ in range(25):
        hex24 = bytes(rng.integers(0, 256, 12, dtype=np.uint8)).hex()
        pixels = _flat_mcu_rgb(hex24)
        data = jpeg.encode_rgb8(32, 32, pixels, subsample=True)
        w, h, out = jpeg.decode_rgb8(data)
        assert (w, h) == (32, 32)
        dec = np.frombuffer(out, np.uint8).reshape(32, 32, 3)
        vals = np.frombuffer(bytes.fromhex(hex24), np.uint8).reshape(
            2, 2, 3
        )
        for my in range(2):
            for mx in range(2):
                exp = _bt601_closed_form(vals[my, mx])
                blk = dec[my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16]
                assert (blk.reshape(-1, 3) == exp).all(), (
                    vals[my, mx],
                    blk[0, 0],
                    exp,
                )


def test_jpeg_decoder_acceptance_properties():
    """Decoder acceptance paths on random CONFORMING content (the
    r6 review pinned the rejection paths; this pins acceptance):

    - random grayscale at unit quant round-trips within +/-1 at any
      (odd or even) dimensions — pure DCT/IDCT float rounding;
    - random color at 4:4:4 within +/-5 (the documented compounded
      YCbCr bound);
    - flat blocks under NON-unit declared quant tables (q in 2..8)
      stay bit-exact for even q and within +/-1 for odd q — the
      decoder must dequantize with the DECLARED table (DC = 8(v-128)
      survives /q * q exactly when the integer is q-divisible; a
      decoder that assumed unit tables would be off by ~q x);
    - random color at 4:2:0 matches a numpy replication of the
      non-DCT pipeline (rounded BT.601 -> pad -> box-mean -> rint ->
      replicate upsample -> rounded inverse) within +/-4: the DCT
      legs add at most +/-1 per plane, amplified by at most
      1 + 1.772 + 0.5 through the inverse transform.
    """
    import numpy as np

    from map_reduce_server_spark.functions import jpeg

    rng = np.random.default_rng(1234)
    # 1) random grayscale, odd/even dims, unit quant
    for w, h in ((8, 8), (17, 9), (32, 24), (31, 33)):
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        ww, hh, out = jpeg.decode_gray8(
            jpeg.encode_gray8(w, h, img.tobytes())
        )
        assert (ww, hh) == (w, h)
        dec = np.frombuffer(out, np.uint8).reshape(h, w)
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 1
    # 2) random color 4:4:4
    for w, h in ((16, 16), (23, 11)):
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        ww, hh, out = jpeg.decode_rgb8(
            jpeg.encode_rgb8(w, h, img.tobytes())
        )
        dec = np.frombuffer(out, np.uint8).reshape(h, w, 3)
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 5
    # 3) declared non-unit quant tables honored
    for q in range(2, 9):
        vals = rng.integers(0, 256, 12, dtype=np.uint8)
        img = np.repeat(np.repeat(vals.reshape(3, 4), 8, 0), 8, 1)
        _, _, out = jpeg.decode_gray8(
            jpeg.encode_gray8(32, 24, img.tobytes(), quant=q)
        )
        dec = np.frombuffer(out, np.uint8).reshape(24, 32)
        tol = 0 if q % 2 == 0 else 1
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= tol, q
    # 4) random color 4:2:0 vs numpy non-DCT pipeline replication
    for w, h in ((32, 32), (35, 21)):
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        data = jpeg.encode_rgb8(w, h, img.tobytes(), subsample=True)
        dec = np.frombuffer(jpeg.decode_rgb8(data)[2], np.uint8).reshape(
            h, w, 3
        ).astype(np.float64)
        f = img.astype(np.float64)
        r, g, b = f[..., 0], f[..., 1], f[..., 2]
        planes = [
            np.clip(np.rint((0.299 * r + 0.587 * g) + 0.114 * b), 0, 255),
            np.clip(np.rint(((128.0 - 0.168736 * r) - 0.331264 * g)
                            + 0.5 * b), 0, 255),
            np.clip(np.rint(((128.0 + 0.5 * r) - 0.418688 * g)
                            - 0.081312 * b), 0, 255),
        ]
        ph, pw = -h % 16, -w % 16
        pads = [np.pad(p, ((0, ph), (0, pw)), mode="edge") for p in planes]
        yy = pads[0][:h, :w]
        ups = []
        for p in pads[1:]:
            d = np.clip(np.rint(
                p.reshape(p.shape[0] // 2, 2, p.shape[1] // 2, 2)
                .mean(axis=(1, 3))), 0, 255)
            ups.append(np.repeat(np.repeat(d, 2, 0), 2, 1)[:h, :w])
        cb, cr = ups
        ref = np.stack([
            yy + 1.402 * (cr - 128.0),
            (yy - 0.344136 * (cb - 128.0)) - 0.714136 * (cr - 128.0),
            yy + 1.772 * (cb - 128.0),
        ], -1)
        ref = np.clip(np.rint(ref), 0, 255)
        assert np.abs(dec - ref).max() <= 4


def test_avi_rejects_non_integer_fps():
    """A conforming AVI with a rational frame rate (e.g. NTSC
    30000/1001) is out of scope and must raise, not silently
    truncate to fps=29; integer multiples (60000/2000 = 30) stay
    accepted."""
    import struct as st

    import pytest

    from map_reduce_server_spark.functions import avi, jpeg

    frame = jpeg.encode_gray8(8, 8, bytes(range(64)))
    data = avi.encode_avi_mjpeg(8, 8, 30, [frame])
    pos = data.index(b"vids")

    def patched(scale: int, rate: int) -> bytes:
        return (
            data[: pos + 20]
            + st.pack("<II", scale, rate)
            + data[pos + 28 :]
        )

    with pytest.raises(NotImplementedError, match="non-integer frame"):
        avi.parse_avi_mjpeg(patched(1001, 30000))
    with pytest.raises(ValueError, match="scale is zero"):
        avi.parse_avi_mjpeg(patched(0, 30000))
    assert avi.parse_avi_mjpeg(patched(2000, 60000))[2] == 30


def test_jpeg_progressive_matches_baseline_decode():
    """Progressive (SOF2) encoding is a lossless re-arrangement of
    the same quantized coefficients, so decoding a progressive
    encode must reproduce the baseline decode BIT-FOR-BIT — across
    random content, odd/even dims, non-unit quant, gray and color at
    both samplings. Also pins the flat-block exactness contract the
    registered progressive query's oracle relies on."""
    import numpy as np

    from map_reduce_server_spark.functions import jpeg

    rng = np.random.default_rng(11)
    for _ in range(8):
        w = int(rng.integers(8, 49))
        h = int(rng.integers(8, 41))
        q = int(rng.integers(1, 4))
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        assert jpeg.decode_gray8(
            jpeg.encode_gray8_progressive(w, h, img.tobytes(), quant=q)
        ) == jpeg.decode_gray8(
            jpeg.encode_gray8(w, h, img.tobytes(), quant=q)
        )
        rgb = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        for sub in (False, True):
            assert jpeg.decode_rgb8(
                jpeg.encode_rgb8_progressive(
                    w, h, rgb.tobytes(), quant=q, subsample=sub
                )
            ) == jpeg.decode_rgb8(
                jpeg.encode_rgb8(w, h, rgb.tobytes(), quant=q, subsample=sub)
            )
    # flat blocks stay bit-exact through the progressive path
    vals = rng.integers(0, 256, 12, dtype=np.uint8)
    flat = np.repeat(np.repeat(vals.reshape(3, 4), 8, 0), 8, 1)
    _, _, out = jpeg.decode_gray8(
        jpeg.encode_gray8_progressive(32, 24, flat.tobytes())
    )
    assert np.array_equal(
        np.frombuffer(out, np.uint8).reshape(24, 32), flat
    )


def test_jpeg_ac_refinement_pairing_coefficient_level():
    """The AC successive-approximation refinement pass, tested at the
    COEFFICIENT level (no DCT in the way): encode refinement bits
    from full-precision bands, decode them onto the first-pass state,
    and require the exact post-refinement state — over crafted band
    shapes that force every branch: all-zero bands (EOBn runs > 1),
    bands whose only nonzeros are already-significant (EOB-run
    correction bits), >16-zero runs with interspersed significant
    coefficients (ZRL windows with inline corrections), and dense
    bands."""
    import numpy as np

    from map_reduce_server_spark.functions import jpeg

    rng = np.random.default_rng(99)
    ss, se = 1, 63
    ac_tab = jpeg._decode_table(jpeg._PROG_AC_BITS, jpeg._PROG_AC_VALS)
    for trial in range(60):
        al = int(rng.integers(0, 3))
        nb = int(rng.integers(1, 12))
        full = []
        for _ in range(nb):
            band = np.zeros(64, np.int64)
            kind = rng.integers(0, 5)
            if kind == 1:
                idx = rng.choice(range(ss, 64), size=3, replace=False)
                band[idx] = rng.integers(-3, 4, 3)
            elif kind == 2:
                band[40] = int(rng.integers(2, 9)) << al
                band[63] = 1 << al
                band[20] = -(int(rng.integers(2, 9)) << al)
            elif kind == 3:
                idx = rng.choice(range(ss, 64), size=4, replace=False)
                band[idx] = (
                    rng.integers(2, 17, 4) * rng.choice([-1, 1], 4)
                ) << al
            elif kind == 4:
                band[ss:] = rng.integers(-7, 8, 64 - ss)
            full.append(band)

        def state(band, a):
            p = np.zeros(64, np.int64)
            for k in range(ss, 64):
                v = int(band[k])
                t = abs(v) >> a
                p[k] = (t << a) * (1 if v > 0 else -1) if t else 0
            return p

        data = jpeg._ac_refine_bits(list(full), ss, se, al)
        reader = jpeg._BitReader(data)
        eobrun = 0
        for band in full:
            got = state(band, al + 1)
            eobrun = jpeg._prog_ac_refine(
                reader, got, ac_tab, ss, se, al, eobrun
            )
            assert np.array_equal(got, state(band, al)), (trial, al)


def test_jpeg_exception_contract_under_byte_corruption():
    """Single-byte corruption anywhere in a valid file must surface
    as ValueError (or the documented NotImplementedError scope gate
    for fields that select out-of-scope features, e.g. 16-bit quant
    tables) — never OverflowError/struct.error/IndexError. Pins the
    crafted-DHT fix: a DC value byte > 15 used to build a >64-bit
    amplitude and crash the int64 store with OverflowError."""
    import pytest

    from map_reduce_server_spark.functions import jpeg

    pix = bytes((i * 7 + 3) % 256 for i in range(24 * 24))
    for data in (
        jpeg.encode_gray8(24, 24, pix),
        jpeg.encode_gray8_progressive(24, 24, pix),
    ):
        for i in range(len(data)):
            buf = bytearray(data)
            buf[i] ^= 0x70
            try:
                jpeg.decode_gray8(bytes(buf))
            except (ValueError, NotImplementedError):
                pass  # the documented failure contract

    # dimension range now rejected as ValueError, not struct.error
    with pytest.raises(ValueError, match="1..65535"):
        jpeg.encode_gray8(70000, 1, bytes(70000))
    with pytest.raises(ValueError, match="1..65535"):
        jpeg.encode_rgb8(1, 0, b"")
    with pytest.raises(ValueError, match="1..65535"):
        jpeg.encode_rgb8_progressive(66000, 2, bytes(66000 * 6))


def test_g711_rejects_unsupported_fmt_and_duplicate_data():
    """Conforming-but-unsupported G.711 containers fail loud: a
    16-bit/multi-byte-frame fmt must raise NotImplementedError
    instead of expanding every byte as a code, and a second data
    chunk must raise rather than silently overwrite the samples."""
    import struct as st

    import pytest

    from map_reduce_server_spark.functions import g711

    base = g711.encode_wav_mulaw(8000, bytes(10))
    fmtoff = base.find(b"fmt ") + 8
    # fmt common fields: tag(2) ch(2) rate(4) byterate(4) align(2) bits(2)
    for off, value in ((14, 16), (12, 2)):  # bits=16; block align=2
        buf = bytearray(base)
        buf[fmtoff + off : fmtoff + off + 2] = st.pack("<H", value)
        with pytest.raises(NotImplementedError, match="8-bit mono"):
            g711.decode_wav_mulaw(bytes(buf))
    dup = bytearray(base + b"data" + st.pack("<I", 4) + bytes(4))
    dup[4:8] = st.pack("<I", len(dup) - 8)
    with pytest.raises(ValueError, match="duplicate data"):
        g711.decode_wav_mulaw(bytes(dup))


def test_mean_px_round_tie_free_domains(spark):
    """_px_stats_select keeps round(mean_px, 6) (ADVICE round 7 asked
    why): mean_px = integer_sum / d for fixed d, so the reachable
    inputs are finite and the Spark-HALF_UP-on-shortest-repr vs
    DuckDB-binary-value divergence class can be EXCLUDED by
    exhaustive enumeration — every k/d for k in [0, 255*d] must round
    identically on both engines. Covers all three non-dyadic
    divisors: 12 (gray jpeg legs), 24 (video), 36 (png),
    48 (tiff)."""
    import duckdb

    from pyspark.sql import functions as F

    con = duckdb.connect()
    for d in (12, 24, 36, 48):
        n = 255 * d
        srows = {
            r["k"]: r["r"]
            for r in (
                spark.range(0, n + 1)
                .select(
                    F.col("id").alias("k"),
                    F.round(F.col("id").cast("double") / d, 6).alias("r"),
                )
                .collect()
            )
        }
        drows = dict(
            con.execute(
                f"SELECT k, round(CAST(k AS DOUBLE)/{d}, 6) "
                f"FROM range(0, {n + 1}) t(k)"
            ).fetchall()
        )
        bad = [k for k in srows if srows[k] != drows[k]]
        assert not bad, f"divisor {d}: cross-engine round ties at {bad[:5]}"


def _mb_adpcm_pcm(doc_id: int, n: int = 37) -> list:
    """Deterministic per-doc multi-block PCM: md5-chained int16
    stream (pure function shared by the Spark builder below and the
    driver-side expectation, so the test pins the PLUMBING — the
    codec itself is golden/audioop-pinned in test_adpcm_goldens)."""
    import hashlib

    out = []
    seed = str(doc_id).encode()
    block = b""
    while len(out) < n:
        block = hashlib.md5(seed + block).digest()
        for i in range(0, 16, 2):
            v = int.from_bytes(block[i : i + 2], "little", signed=True)
            out.append(v)
            if len(out) == n:
                break
    return out


def test_adpcm_multiblock_spark_path(spark, sf_small):
    """Multi-block ADPCM through the REAL distributed path: build
    encode_wav_ima files (samples_per_block=9 -> 4 full blocks + a
    header-only padded final block at n=37, exercising cross-block
    index carry and the fact-trimmed tail) inside mapInPandas, run
    the shared adpcm_stats decode stage, and check every row against
    a driver-side replay of the closed-loop reconstruction."""
    from map_reduce_server_spark.functions import adpcm
    from map_reduce_server_spark.operators.multimodal import adpcm_stats

    docs = load_table(spark, sf_small, "documents").select("doc_id").limit(40)

    def build(batches):
        for pdf in batches:
            payload = pdf["doc_id"].map(
                lambda d: adpcm.encode_wav_ima(
                    11025, _mb_adpcm_pcm(int(d)), samples_per_block=9
                )
            )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payload}
            )

    framed = docs.mapInPandas(build, schema="doc_id bigint, payload binary")
    got = {
        r["doc_id"]: (
            r["framerate"],
            r["n_samples"],
            r["mean_abs"],
            r["max_abs"],
        )
        for r in adpcm_stats(framed).collect()
    }
    assert len(got) == 40
    for doc_id, row in got.items():
        pcm = _mb_adpcm_pcm(doc_id)
        pred, idx = 0, 0
        want = []
        for k, s in enumerate(pcm):
            if k % 9 == 0:
                pred = s  # block header re-anchors; index carries
                want.append(pred)
            else:
                _, pred, idx = adpcm.encode_step(s, pred, idx)
                want.append(pred)
        assert row == (
            11025,
            37,
            sum(abs(x) for x in want) / 37,
            max(abs(x) for x in want),
        ), doc_id


def test_adpcm_multiblock_query_matches_oracle(spark, sf_small):
    """Gate-grade parity for the registered multi-block ADPCM query
    (now registered): the
    Spark result must match the per-(doc, block) recursive-CTE oracle
    exactly as the driver's compare would check it."""
    from tests.oracle_utils import compare_to_oracle

    from map_reduce_server_spark.operators.multimodal import (
        _ADPCM_MB_ORACLE,
        multimodal_decode_adpcm_multiblock,
    )

    df = multimodal_decode_adpcm_multiblock(spark, sf_small)
    ok, msg = compare_to_oracle(df, _ADPCM_MB_ORACLE, sf_small)
    assert ok, msg


def test_tiff_decode_matches_oracle(spark, sf_small):
    """Gate-grade parity for the registered multimodal_decode_tiff
    (now registered): both byte orders decode to the
    identical md5-derived pixel statistics."""
    from map_reduce_server_spark.operators.multimodal import (
        _TIFF_ORACLE,
        multimodal_decode_tiff,
    )
    from tests.oracle_utils import compare_to_oracle

    df = multimodal_decode_tiff(spark, sf_small)
    ok, msg = compare_to_oracle(df, _TIFF_ORACLE, sf_small)
    assert ok, msg


def test_tiff_codec_roundtrip_both_orders():
    """Unit round-trip: multi-strip gray8 survives encode/decode in
    both byte orders, WhiteIsZero inverts, and the strict envelope
    rejects non-baseline files loudly."""
    import hashlib
    import struct

    import pytest as _pytest

    from map_reduce_server_spark.functions import tiff

    pix = b"".join(
        hashlib.md5(t).digest() for t in (b"a", b"b", b"c")
    )
    for be in (False, True):
        f = tiff.encode_gray8(8, 6, pix, big_endian=be)
        assert tiff.decode_gray8(f) == (8, 6, pix)
    # SINGLE strip (height <= rows_per_strip): the count-1 LONG
    # StripOffsets/StripByteCounts must be stored INLINE in the entry
    # value field (review r13: the out-of-line form made conforming
    # decoders read the array's offset as the strip offset)
    for be in (False, True):
        f = tiff.encode_gray8(4, 2, pix[:8], big_endian=be)
        assert tiff.decode_gray8(f) == (4, 2, pix[:8])
    # WhiteIsZero (photometric 0) inverts on decode: patch the tag
    # value in the little-endian file (entry 5 of the sorted IFD)
    f = tiff.encode_gray8(8, 6, pix, big_endian=False)
    (ifd,) = struct.unpack_from("<I", f, 4)
    entry_off = ifd + 2 + 12 * 4  # 5th entry = PhotometricInterpretation
    tag, typ, cnt = struct.unpack_from("<HHI", f, entry_off)
    assert tag == 262
    patched = bytearray(f)
    struct.pack_into("<H", patched, entry_off + 8, 0)
    w, h, px = tiff.decode_gray8(bytes(patched))
    assert px == bytes(255 - b for b in pix)
    with _pytest.raises(ValueError):
        tiff.decode_gray8(b"XX" + f[2:])
    # non-baseline compression must refuse, not mis-decode
    comp_off = ifd + 2 + 12 * 3 + 8  # 4th entry value = Compression
    patched = bytearray(f)
    struct.pack_into("<H", patched, comp_off, 5)  # LZW
    with _pytest.raises(NotImplementedError):
        tiff.decode_gray8(bytes(patched))


def test_bmp_decode_matches_oracle(spark, sf_small):
    """Gate-grade parity for the registered multimodal_decode_bmp
    (now registered): palette mapping + stride-padded
    bottom-up assembly decode to the md5-derived pixel statistics."""
    from map_reduce_server_spark.operators.multimodal import (
        _BMP_ORACLE,
        multimodal_decode_bmp,
    )
    from tests.oracle_utils import compare_to_oracle

    df = multimodal_decode_bmp(spark, sf_small)
    ok, msg = compare_to_oracle(df, _BMP_ORACLE, sf_small)
    assert ok, msg


def test_bmp_codec_roundtrip_and_strictness():
    """Unit round-trip: stride-padded bottom-up gray8 survives
    encode/decode, a hand-flipped top-down (negative height) variant
    decodes identically, and the strict envelope refuses color
    palettes and compressed files loudly."""
    import hashlib
    import struct

    import pytest as _pytest

    from map_reduce_server_spark.functions import bmp

    pix = b"".join(hashlib.md5(t).digest() for t in (b"a", b"b", b"c"))
    f = bmp.encode_gray8(6, 8, pix)
    assert bmp.decode_gray8(f) == (6, 8, pix)
    # top-down: negate height and reverse the stored row order
    td = bytearray(f)
    struct.pack_into("<i", td, 22, -8)
    stride, off = 8, 14 + 40 + 1024
    rows = [
        bytes(td[off + i * stride : off + (i + 1) * stride])
        for i in range(8)
    ]
    td[off : off + stride * 8] = b"".join(reversed(rows))
    assert bmp.decode_gray8(bytes(td)) == (6, 8, pix)
    # non-gray palette entry must refuse, not silently flatten
    colored = bytearray(f)
    colored[14 + 40 + 4 * 7] = 99  # blue of entry 7 != its green/red
    with _pytest.raises(NotImplementedError):
        bmp.decode_gray8(bytes(colored))
    # compressed (BI_RLE8) must refuse
    rle = bytearray(f)
    struct.pack_into("<I", rle, 30, 1)
    with _pytest.raises(NotImplementedError):
        bmp.decode_gray8(bytes(rle))


def test_tga_codec_roundtrip_and_strictness():
    """Unit round-trip: RLE grayscale survives encode/decode in both
    row origins, runs actually compress, the v2 footer is ignored,
    uncompressed type 3 decodes, and the strict envelope refuses
    color-mapped/true-color files."""
    import hashlib
    import struct

    import pytest as _pytest

    from map_reduce_server_spark.functions import tga

    pix = b"".join(hashlib.md5(t).digest() for t in (b"a", b"b", b"c"))
    for td in (False, True):
        f = tga.encode_gray8(8, 6, pix, top_down=td)
        assert tga.decode_gray8(f) == (8, 6, pix)
        assert f.endswith(b"TRUEVISION-XFILE.\x00")
    # a run-heavy raster must compress below raw size
    runs = bytes([7] * 100 + [9] * 60 + list(range(96)))
    f = tga.encode_gray8(16, 16, runs)
    assert len(f) < 18 + 256 + 26
    assert tga.decode_gray8(f) == (16, 16, runs)
    # a >128-px run must split into legal packets
    wide = bytes([5] * 200 + [1, 2] * 28)
    f = tga.encode_gray8(16, 16, wide)
    assert tga.decode_gray8(f) == (16, 16, wide)
    # uncompressed type 3, top-down
    hdr = struct.pack(
        "<BBBHHBHHHHBB", 0, 0, 3, 0, 0, 0, 0, 0, 4, 2, 8, 0x20
    )
    assert tga.decode_gray8(hdr + bytes(range(8))) == (4, 2, bytes(range(8)))
    # strictness: color-mapped and RLE-crossing-scanline refuse
    with _pytest.raises(NotImplementedError):
        tga.decode_gray8(
            struct.pack(
                "<BBBHHBHHHHBB", 0, 1, 1, 0, 0, 0, 0, 0, 4, 2, 8, 0
            )
            + b"x" * 8
        )
    # RLE packet crossing a scan line: one 8-px run over two 4-px rows
    bad = struct.pack(
        "<BBBHHBHHHHBB", 0, 0, 11, 0, 0, 0, 0, 0, 4, 2, 8, 0x20
    ) + bytes([0x87, 0xFF])
    with _pytest.raises(ValueError):
        tga.decode_gray8(bad)


def test_tga_decode_matches_oracle(spark, sf_small):
    """Gate-grade parity for the registered multimodal_decode_tga
    (now registered): RLE packet expansion + origin-bit
    assembly decode to the md5-derived pixel statistics."""
    from map_reduce_server_spark.operators.multimodal import (
        _TGA_ORACLE,
        multimodal_decode_tga,
    )
    from tests.oracle_utils import compare_to_oracle

    df = multimodal_decode_tga(spark, sf_small)
    ok, msg = compare_to_oracle(df, _TGA_ORACLE, sf_small)
    assert ok, msg
    assert df.count() == 500


def test_aiff_codec_roundtrip_and_strictness():
    """Unit round-trip: mono PCM16 survives encode/decode, the
    80-bit extended rate is exact for awkward rates, unknown chunks
    skip by size with pad bytes honored, AIFC refuses."""
    import struct

    import pytest as _pytest

    from map_reduce_server_spark.functions import aiff

    for rate in (8000, 11025, 22050, 44100, 48000, 96000, 192000, 1):
        assert aiff._unpack_extended(aiff._pack_extended(rate)) == rate
    samples = [0, 1, -1, 32767, -32768, 1234, -4321] * 5
    f = aiff.encode_pcm16(samples, 44100)
    assert aiff.decode_pcm16(f) == (44100, samples)
    # splice an ODD-length unknown chunk before COMM: the walker must
    # skip it plus its pad byte
    body = f[12:]
    extra = b"NAME" + struct.pack(">L", 5) + b"hello" + b"\x00"
    spliced = (
        b"FORM"
        + struct.pack(">L", 4 + len(extra) + len(body))
        + b"AIFF"
        + extra
        + body
    )
    assert aiff.decode_pcm16(spliced) == (44100, samples)
    with _pytest.raises(NotImplementedError):
        aiff.decode_pcm16(b"FORM" + struct.pack(">L", 4) + b"AIFC")
    with _pytest.raises(ValueError):
        aiff.decode_pcm16(b"RIFF" + struct.pack(">L", 4) + b"AIFF")
    # non-integer extended rate refuses (mantissa low bit set below
    # the integer boundary)
    with _pytest.raises(ValueError):
        aiff._unpack_extended(struct.pack(">HQ", 16383, (1 << 63) | 1))


def test_aiff_decode_matches_oracle(spark, sf_small):
    """Gate-grade parity for the registered multimodal_decode_aiff
    (now registered): IFF walk + extended-rate decode +
    big-endian PCM land exactly on the md5-derived samples."""
    from map_reduce_server_spark.operators.multimodal import (
        _AIFF_ORACLE,
        multimodal_decode_aiff,
    )
    from tests.oracle_utils import compare_to_oracle

    df = multimodal_decode_aiff(spark, sf_small)
    ok, msg = compare_to_oracle(df, _AIFF_ORACLE, sf_small)
    assert ok, msg
    assert df.count() == 500


def test_ico_codec_roundtrip_and_strictness():
    """Unit round-trip: a two-entry grayscale ICO survives
    encode/decode in directory order; PNG-compressed entries,
    cursor-type directories, and dimension mismatches refuse."""
    import hashlib
    import struct

    import pytest as _pytest

    from map_reduce_server_spark.functions import ico

    pix = b"".join(hashlib.md5(t).digest() for t in (b"a", b"b", b"c"))
    small = hashlib.md5(b"z").digest()
    f = ico.encode_gray8([(8, 6, pix), (4, 4, small)])
    assert ico.decode_gray8(f) == [(8, 6, pix), (4, 4, small)]
    # single-entry file too
    f1 = ico.encode_gray8([(4, 4, small)])
    assert ico.decode_gray8(f1) == [(4, 4, small)]
    # PNG-compressed entry refuses
    png_body = b"\x89PNG\r\n\x1a\n" + b"\x00" * 20
    hdr = struct.pack("<HHH", 0, 1, 1) + struct.pack(
        "<BBBBHHII", 4, 4, 0, 0, 1, 8, len(png_body), 6 + 16
    )
    with _pytest.raises(NotImplementedError):
        ico.decode_gray8(hdr + png_body)
    # cursor directories (type 2) refuse
    with _pytest.raises(ValueError):
        ico.decode_gray8(struct.pack("<HHH", 0, 2, 1) + b"\x00" * 16)
    # directory/DIB dimension mismatch refuses: patch entry width
    patched = bytearray(f1)
    patched[6] = 5  # ICONDIRENTRY width byte
    with _pytest.raises(ValueError):
        ico.decode_gray8(bytes(patched))
    # odd (non-doubled) DIB height refuses
    patched = bytearray(f1)
    struct.pack_into("<i", patched, 6 + 16 + 8, 7)  # biHeight
    with _pytest.raises(ValueError):
        ico.decode_gray8(bytes(patched))


def test_ico_decode_matches_oracle(spark, sf_small):
    """multimodal_decode_ico decodes one row per staged ICO file."""
    from map_reduce_server_spark.operators.multimodal import (
        multimodal_decode_ico,
    )

    df = multimodal_decode_ico(spark, sf_small)
    assert df.count() == 500


def test_tga_rle_roundtrip_hypothesis():
    """Property: any byte raster round-trips through the RLE encoder
    in both origins — exercises packet edges (128-runs, runs
    straddling the max packet, alternating literals) the fixed
    goldens miss."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from map_reduce_server_spark.functions import tga

    run = st.tuples(st.integers(0, 255), st.integers(1, 140))

    @settings(max_examples=40, deadline=None)
    @given(
        runs=st.lists(run, min_size=1, max_size=6),
        width=st.integers(1, 40),
        top_down=st.booleans(),
    )
    def check(runs, width, top_down):
        raw = b"".join(bytes([v]) * n for v, n in runs)
        height = max(1, len(raw) // width)
        raw = raw[: width * height].ljust(width * height, b"\x00")
        f = tga.encode_gray8(width, height, raw, top_down=top_down)
        assert tga.decode_gray8(f) == (width, height, raw)

    check()


def test_pcx_codec_roundtrip_and_strictness():
    """Unit round-trip: two-bit-tagged RLE grayscale survives
    encode/decode, bright literals (>= 0xC0) are escaped as runs of
    one, padded lines truncate back to width, the trailing VGA
    identity palette is verified, and the strict envelope refuses
    multi-plane/non-RLE files."""
    import hashlib
    import struct

    import pytest as _pytest

    from map_reduce_server_spark.functions import pcx

    pix = b"".join(hashlib.md5(t).digest() for t in (b"a", b"b", b"c"))
    for bpl in (8, 10, 12):
        f = pcx.encode_gray8(8, 6, pix, bytes_per_line=bpl)
        assert pcx.decode_gray8(f) == (8, 6, pix)
    # the tag-collision domain: every literal >= 0xC0 must survive
    bright = bytes(range(0xC0, 0x100)) + bytes(range(0xB0, 0xC0))
    f = pcx.encode_gray8(8, 10, bright)
    assert pcx.decode_gray8(f) == (8, 10, bright)
    # runs longer than the 6-bit count must split into legal packets
    wide = bytes([5] * 100 + [1] * 28)
    f = pcx.encode_gray8(8, 16, wide)
    assert pcx.decode_gray8(f) == (8, 16, wide)
    # hand-packed wire golden: 2x1 raster [0xAA, 0xAA] at bpl=2 is
    # exactly one run packet (0xC2, 0xAA) + palette
    hdr = struct.pack(
        "<BBBBHHHHHH48sBBHHHH54s",
        0x0A, 5, 1, 8, 0, 0, 1, 0, 72, 72, b"\x00" * 48,
        0, 1, 2, 1, 0, 0, b"\x00" * 54,
    )
    pal = bytes([0x0C]) + bytes(
        v for g in range(256) for v in (g, g, g)
    )
    golden = hdr + bytes([0xC2, 0xAA]) + pal
    assert pcx.encode_gray8(2, 1, b"\xaa\xaa", bytes_per_line=2) == golden
    assert pcx.decode_gray8(golden) == (2, 1, b"\xaa\xaa")
    # strictness: multi-plane and non-RLE refuse
    bad_planes = bytearray(golden); bad_planes[65] = 3
    with _pytest.raises(NotImplementedError):
        pcx.decode_gray8(bytes(bad_planes))
    bad_enc = bytearray(golden); bad_enc[2] = 0
    with _pytest.raises(NotImplementedError):
        pcx.decode_gray8(bytes(bad_enc))
    # a run crossing the scan-line grid refuses: 2x2 at bpl=2 with
    # one 4-byte run
    hdr2 = struct.pack(
        "<BBBBHHHHHH48sBBHHHH54s",
        0x0A, 5, 1, 8, 0, 0, 1, 1, 72, 72, b"\x00" * 48,
        0, 1, 2, 1, 0, 0, b"\x00" * 54,
    )
    with _pytest.raises(ValueError):
        pcx.decode_gray8(hdr2 + bytes([0xC4, 0xFF]) + pal)
    # a non-identity palette refuses
    bad_pal = bytearray(golden); bad_pal[-1] ^= 1
    with _pytest.raises(NotImplementedError):
        pcx.decode_gray8(bytes(bad_pal))


def test_pcx_rle_roundtrip_hypothesis():
    """Property: any byte raster round-trips through the two-bit-tag
    RLE encoder at any legal padding — exercises 63-count packet
    edges, bright-literal escapes, and pad interaction the fixed
    goldens miss."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from map_reduce_server_spark.functions import pcx

    run = st.tuples(st.integers(0, 255), st.integers(1, 70))

    @settings(max_examples=40, deadline=None)
    @given(
        runs=st.lists(run, min_size=1, max_size=6),
        width=st.integers(1, 40),
        pad=st.integers(0, 2),
    )
    def check(runs, width, pad):
        raw = b"".join(bytes([v]) * n for v, n in runs)
        height = max(1, len(raw) // width)
        raw = raw[: width * height].ljust(width * height, b"\x00")
        bpl = width + (width & 1) + 2 * pad
        f = pcx.encode_gray8(width, height, raw, bytes_per_line=bpl)
        assert pcx.decode_gray8(f) == (width, height, raw)

    check()


def test_pgm_codec_roundtrip_and_strictness():
    """Unit round-trip: both P5 and P2 survive encode/decode, header
    comments are honored, exactly one whitespace byte separates
    maxval from a binary raster (rasters STARTING with
    whitespace-valued pixels survive), the ASCII raster requires its
    terminator, and the strict envelope refuses non-255 maxval only
    for structurally complete files."""
    import hashlib

    import pytest as _pytest

    from map_reduce_server_spark.functions import pgm

    pix = b"".join(hashlib.md5(t).digest() for t in (b"a", b"b", b"c"))
    for am in (False, True):
        f = pgm.encode_gray8(8, 6, pix, ascii_mode=am)
        assert pgm.decode_gray8(f) == (8, 6, pix)
        assert b"#" in f  # our own files carry a comment line
    # raster whose first pixels are whitespace byte values: a
    # whitespace-eating separator parser would shear the raster
    tricky = bytes([0x0A, 0x20, 0x09, 0x0D] + [7] * 44)
    f = pgm.encode_gray8(8, 6, tricky)
    assert pgm.decode_gray8(f)[2] == tricky
    # hand-packed wire golden with comments in awkward places
    golden = b"P5\n# c1\n4 # c2\n2\n255\n" + bytes(range(8))
    assert pgm.decode_gray8(golden) == (4, 2, bytes(range(8)))
    # P2 golden with multi-space separators
    g2 = b"P2\n2 2\n255\n0  255\n12 34\n"
    assert pgm.decode_gray8(g2) == (2, 2, bytes([0, 255, 12, 34]))
    # truncating the final ASCII sample's digits must NOT decode
    f2 = pgm.encode_gray8(2, 1, b"\x05\xff", ascii_mode=True)
    assert f2.endswith(b"5 255\n")
    with _pytest.raises(ValueError):
        pgm.decode_gray8(f2[:-1])  # drop the terminator
    with _pytest.raises(ValueError):
        pgm.decode_gray8(f2[:-2])  # "255" -> "25", unterminated
    # complete non-255 maxval: legal but unsupported
    with _pytest.raises(NotImplementedError):
        pgm.decode_gray8(b"P5\n2 1\n100\n\x01\x02")
    # trailing junk refuses
    with _pytest.raises(ValueError):
        pgm.decode_gray8(b"P5\n2 1\n255\n\x01\x02junk")
    # P2 sample above maxval... above one byte refuses
    with _pytest.raises(ValueError):
        pgm.decode_gray8(b"P2\n2 1\n255\n1 300\n")


def test_pgm_roundtrip_hypothesis():
    """Property: any raster round-trips through both P5 and P2 —
    exercises whitespace-valued pixels, multi-digit ASCII samples,
    and dimension edges the fixed goldens miss."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from map_reduce_server_spark.functions import pgm

    @settings(max_examples=40, deadline=None)
    @given(
        width=st.integers(1, 24),
        height=st.integers(1, 12),
        data=st.binary(min_size=0, max_size=288),
        am=st.booleans(),
    )
    def check(width, height, data, am):
        raw = data[: width * height].ljust(width * height, b"\x00")
        f = pgm.encode_gray8(width, height, raw, ascii_mode=am)
        assert pgm.decode_gray8(f) == (width, height, raw)

    check()
