"""Unit tests for the REAL WAV/PCM16 audio kernel
(operators/multimodal.py:decode_wav_features) — chunk walking, stereo,
odd-size padding, and malformed-payload tolerance, beyond what the
closed-form oracle query (multimodal_wav_decode) pins."""

import struct

import pytest

from kwack_spark.operators import multimodal as mm
from kwack_spark.rowstage import per_row


def _wav(chunks: bytes) -> bytes:
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def _fmt(ch: int, rate: int, bits: int = 16, audio_fmt: int = 1) -> bytes:
    body = struct.pack(
        "<HHIIHH", audio_fmt, ch, rate, rate * ch * bits // 8, ch * bits // 8, bits
    )
    return b"fmt " + struct.pack("<I", len(body)) + body


def _data(samples: list[int]) -> bytes:
    body = b"".join(struct.pack("<h", s) for s in samples)
    return b"data" + struct.pack("<I", len(body)) + body


def _decode(spark, payloads: list[bytes]):
    df = spark.createDataFrame(
        list(enumerate(payloads)), "doc_id long, payload binary"
    )
    return {
        r.doc_id: r for r in mm.decode_wav_features(df, "payload", "doc_id").collect()
    }


def test_wav_roundtrip_and_chunk_walk(spark):
    """Synth fixture decodes to its closed-form features; the junk LIST
    chunk before data forces a real chunk walk."""
    d = spark.createDataFrame([(7,), (1006,)], "doc_id long")
    out = {
        r.doc_id: r
        for r in mm.decode_wav_features(
            mm.synth_wav_pcm16(d, "doc_id"), "payload", "doc_id"
        ).collect()
    }
    assert out[7].rms == 8.0 and out[7].peak == 8  # 7 % 1000 + 1
    assert out[1006].rms == 7.0  # 1006 % 1000 + 1
    assert out[7].sample_rate == 8000 and out[7].n_samples == 1024
    assert out[7].duration_ms == 1024 / 8000 * 1000


def test_wav_stereo_and_odd_chunk_padding(spark):
    """Stereo frames interleave L/R (n_samples is per channel); an odd-size
    chunk is followed by a pad byte the walker must skip."""
    odd = b"LIST" + struct.pack("<I", 3) + b"xyz" + b"\x00"  # 3 bytes + pad
    stereo = _wav(_fmt(2, 16000) + odd + _data([100, -100] * 8))
    out = _decode(spark, [stereo])
    r = out[0]
    assert r.n_channels == 2 and r.sample_rate == 16000
    assert r.n_samples == 8  # 16 int16 values / 2 channels
    assert r.rms == 100.0 and r.peak == 100


def test_wav_malformed_yields_nulls_not_failure(spark):
    """Garbage, non-PCM, and truncated payloads produce NULL features in
    the same batch as a good file — one poison blob must not kill the job."""
    good = _wav(_fmt(1, 8000) + _data([5, -5, 5, -5]))
    not_riff = b"\x89PNG" + b"\x00" * 40
    no_data = _wav(_fmt(1, 8000))
    compressed = _wav(_fmt(1, 8000, audio_fmt=85) + _data([1, 2]))
    out = _decode(spark, [good, not_riff, no_data, compressed])
    assert out[0].rms == 5.0 and out[0].n_samples == 4
    for bad in (1, 2, 3):
        assert out[bad].rms is None and out[bad].sample_rate is None


def test_png_roundtrip_all_filters(spark):
    """The fixture encoder cycles filter types y%5; decode must reproduce
    the exact pixel matrix for gray and RGB, single and split IDAT."""
    import numpy as np

    from kwack_spark.operators.multimodal import _png_decode, _png_encode

    rng = np.random.RandomState(11)
    for (h, w, ch) in [(16, 16, 3), (16, 6, 3), (8, 16, 1), (1, 1, 1), (7, 3, 1)]:
        px = rng.randint(0, 256, size=(h, w * ch)).astype(np.int32)
        for split in (False, True):
            out = _png_decode(_png_encode(px, ch, split_idat=split))
            assert out is not None
            W, H, C, D, recon = out
            assert (W, H, C, D) == (w, h, ch, 8)
            assert np.array_equal(recon, px.astype(np.uint8))


def test_png_malformed_yields_nulls_not_failure(spark):
    """Bad signature, truncation, and CRC corruption all yield NULL
    features (the on_error='skip' analogue), never a batch failure."""
    import numpy as np

    from kwack_spark.operators import multimodal as mm

    good = mm._png_encode(
        np.random.RandomState(0).randint(0, 256, (4, 12)).astype(np.int32), 3
    )
    bad_crc = bytearray(good)
    bad_crc[-5] ^= 0xFF
    d = spark.createDataFrame(
        [(0, good), (1, b"not a png"), (2, good[:20]), (3, bytes(bad_crc))],
        "doc_id long, payload binary",
    )
    rows = sorted(
        mm.decode_png_features(d, "payload", "doc_id").collect(),
        key=lambda r: r.doc_id,
    )
    assert rows[0].width == 4 and rows[0].channels == 3
    for bad in (1, 2, 3):
        assert rows[bad].width is None and rows[bad].mean_r is None


def test_decode_image_real_png_and_sniffed_other_formats(spark):
    """decode_image (the former stub slot) really decodes PNG and tags
    undecodable formats with NULL dims instead of raising."""
    import numpy as np

    from kwack_spark.operators import multimodal as mm

    import struct

    png = mm._png_encode(np.full((5, 6), 9, np.int32), 1)
    # minimal JPEG header: SOI, APP0, DQT (arbitrary body), SOF0 (8-bit,
    # 480x640, 3 components), EOI — dimension parse walks the markers and
    # never touches entropy-coded data
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    dqt = b"\xff\xdb" + struct.pack(">H", 5) + b"\x00\x01\x02"
    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + struct.pack(
        ">BHHB", 8, 480, 640, 3
    ) + b"\x01\x11\x00"
    jpeg = b"\xff\xd8" + app0 + dqt + sof0 + b"\xff\xd9"
    d = spark.createDataFrame(
        [
            (0, png),
            (1, jpeg),
            (2, b"RIFFxxxxWAVE"),
            (3, b"??"),
            (4, b"\xff\xd8\xff\xe0junk"),  # truncated jpeg -> NULL dims
        ],
        "doc_id long, payload binary",
    )
    rows = sorted(
        mm.decode_image(d, "payload", "doc_id").collect(), key=lambda r: r.doc_id
    )
    assert (rows[0].width, rows[0].height, rows[0].channels, rows[0].format) == (6, 5, 1, "png")
    assert (rows[1].width, rows[1].height, rows[1].channels, rows[1].format) == (640, 480, 3, "jpeg")
    assert rows[2].format == "riff" and rows[3].format == "unknown"
    assert rows[4].format == "jpeg" and rows[4].width is None


# ---------------------------------------------------------------------------
# baseline JPEG codec (round 5): pure-codec tests, no Spark session needed
# ---------------------------------------------------------------------------


def _jpeg_recon(c, q):
    import numpy as np

    dc = 8 * (c - 128)
    dcq = np.floor(abs(dc) / q + 0.5) * (1 if dc >= 0 else -1)
    return min(255.0, max(0.0, np.floor(dcq * q / 8.0 + 128 + 0.5)))


def test_jpeg_gray_constant_blocks_roundtrip_exact():
    """Constant blocks reconstruct to the closed-form quantized value —
    including the 0/255 extremes and a negative-DC-diff block pair."""
    import numpy as np

    from kwack_spark.operators import multimodal as mm

    for a, b in [(0, 255), (37, 200), (128, 129), (254, 1)]:
        px = np.full((8, 16), a, np.int32)
        px[:, 8:] = b
        w, h, ch, out = mm._jpeg_decode(mm._jpeg_encode(px, 1))
        assert (w, h, ch) == (16, 8, 1)
        assert (out[:, :8] == _jpeg_recon(a, 16)).all()
        assert (out[:, 8:] == _jpeg_recon(b, 16)).all()


def test_jpeg_rgb_constant_blocks_roundtrip_exact():
    import numpy as np

    from kwack_spark.operators import multimodal as mm

    def expect(r, g, b):
        clip = lambda v: min(255.0, max(0.0, v))  # noqa: E731
        y = clip(np.floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5))
        cb = clip(np.floor(128 - 0.168736 * r - 0.331264 * g + 0.5 * b + 0.5))
        cr = clip(np.floor(128 + 0.5 * r - 0.418688 * g - 0.081312 * b + 0.5))
        y2, cb2, cr2 = _jpeg_recon(y, 16), _jpeg_recon(cb, 17), _jpeg_recon(cr, 17)
        return (
            clip(np.floor(y2 + 1.402 * (cr2 - 128) + 0.5)),
            clip(np.floor(y2 - 0.344136 * (cb2 - 128) - 0.714136 * (cr2 - 128) + 0.5)),
            clip(np.floor(y2 + 1.772 * (cb2 - 128) + 0.5)),
        )

    for ca, cb_ in [((10, 200, 30), (250, 5, 99)), ((0, 0, 0), (255, 255, 255))]:
        px = np.zeros((16, 48), np.int32)
        for i in range(3):
            px[:, i::3] = ca[i]
            px[:, 24 + i :: 3] = cb_[i]
        w, h, ch, out = mm._jpeg_decode(mm._jpeg_encode(px, 3))
        assert (w, h, ch) == (16, 16, 3)
        ea, eb = expect(*ca), expect(*cb_)
        for i in range(3):
            assert (out[:, i:24:3] == ea[i]).all()
            assert (out[:, 24 + i :: 3] == eb[i]).all()


def test_jpeg_nonconstant_roundtrip_bounded_error():
    """The general FDCT/Huffman-AC path (nonzero AC coefficients on the
    wire): lossy, but quantization error is bounded — a smooth gradient
    reconstructs within a couple of gray levels, a harsh wrapping pattern
    within quantization-table scale."""
    import numpy as np

    from kwack_spark.operators import multimodal as mm

    xs, ys = np.arange(8)[None, :], np.arange(16)[:, None]
    px = np.zeros((16, 24), np.int32)
    for i in range(3):
        px[:, i::3] = 100 + xs * 4 + ys * 2 + i * 5
    _, _, _, out = mm._jpeg_decode(mm._jpeg_encode(px, 3))
    assert np.abs(out.astype(int) - px).mean() < 4

    for i in range(3):
        px[:, i::3] = (xs * 30 + ys * 3 + i * 11) % 256
    _, _, _, out = mm._jpeg_decode(mm._jpeg_encode(px, 3))
    assert np.abs(out.astype(int) - px).mean() < 15


def test_jpeg_odd_dimensions_pad_and_crop():
    import numpy as np

    from kwack_spark.operators import multimodal as mm

    px = np.full((10, 13), 77, np.int32)
    w, h, ch, out = mm._jpeg_decode(mm._jpeg_encode(px, 1))
    assert (w, h, ch) == (13, 10, 1)
    assert (out == _jpeg_recon(77, 16)).all()


def test_jpeg_out_of_scope_and_malformed_yield_none():
    import numpy as np

    from kwack_spark.operators import multimodal as mm

    px = np.full((8, 8), 50, np.int32)
    enc = bytearray(mm._jpeg_encode(px, 1))
    # flip SOF0 -> SOF2 (progressive): decode refuses, dims-only still works
    i = enc.find(b"\xff\xc0")
    enc[i + 1] = 0xC2
    assert mm._jpeg_decode(bytes(enc)) is None
    assert mm._jpeg_dimensions(bytes(enc)) == (8, 8, 1)
    assert mm._jpeg_decode(b"\xff\xd8\xff\xd9") is None
    assert mm._jpeg_decode(b"not a jpeg") is None
    # truncated entropy data
    good = mm._jpeg_encode(px, 1)
    assert mm._jpeg_decode(good[:-4]) is None


def test_wav_trim_silence_edges(spark):
    """trim_wav_silence: all-silent payloads trim everything from the
    front; no-silence payloads trim nothing; interior zeros between
    nonzero samples are NOT trimmed; malformed payloads yield NULLs."""
    import struct

    from kwack_spark.operators import multimodal as mm

    def wav(frames: bytes, rate=8000) -> bytes:
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        chunks = (
            b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(frames)) + frames
        )
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    rows = [
        (1, wav(b"\x00\x00" * 10)),
        (2, wav(struct.pack("<5h", 3, -3, 3, -3, 3))),
        (3, wav(b"\x00\x00" * 4 + struct.pack("<3h", 7, 0, -7) + b"\x00\x00" * 2)),
        (4, b"RIFFnope"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in mm.trim_wav_silence(df, "payload", "doc_id").collect()}
    assert (got[1].n_samples, got[1].lead_silence, got[1].trail_silence) == (10, 10, 0)
    assert got[1].trimmed_ms == 0.0
    assert (got[2].n_samples, got[2].lead_silence, got[2].trail_silence) == (5, 0, 0)
    # interior zero stays: lead=4, trail=2, kept=3 (7, 0, -7)
    assert (got[3].n_samples, got[3].lead_silence, got[3].trail_silence) == (9, 4, 2)
    assert got[4].n_samples is None and got[4].trimmed_ms is None

def test_jpeg_restart_markers_reset_dc_predictors():
    """A hand-assembled stream with DRI=1 (RST0 between the two MCUs):
    the decoder must byte-realign, skip the marker, and RESET the DC
    predictor — segments carry absolute DC values."""
    import struct

    import numpy as np

    from kwack_spark.operators import multimodal as mm

    ql = np.array(mm._JQ_LUMA, np.int32).reshape(8, 8)
    dcmap = mm._huff_codes(*mm._JH_DC_LUMA)
    acmap = mm._huff_codes(*mm._JH_AC_LUMA)

    def qdc(v):
        dc = 8 * (v - 128)
        return ((2 * abs(dc) + 16) // 32) * (1 if dc >= 0 else -1)

    segs = []
    for v in (40, 200):
        bw = mm._BitWriter()
        diff = qdc(v)  # predictor resets at the restart -> absolute value
        t = mm._jpeg_category(diff)
        code, length = dcmap[t]
        bw.write(code, length)
        if t:
            bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
        code, length = acmap[0x00]
        bw.write(code, length)  # EOB
        segs.append(bw.flush())

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, b"\x00" + bytes(int(ql[r, c]) for r, c in mm._JZZ))
    out += seg(0xC0, struct.pack(">BHHB", 8, 8, 16, 1) + bytes([1, 0x11, 0]))
    out += seg(0xC4, b"\x00" + bytes(mm._JH_DC_LUMA[0]) + bytes(mm._JH_DC_LUMA[1]))
    out += seg(0xC4, b"\x10" + bytes(mm._JH_AC_LUMA[0]) + bytes(mm._JH_AC_LUMA[1]))
    out += seg(0xDD, struct.pack(">H", 1))  # DRI = 1
    out += seg(0xDA, bytes([1, 1, 0x00]) + b"\x00\x3f\x00")
    out += segs[0] + b"\xff\xd0" + segs[1] + b"\xff\xd9"

    w, h, ch, px = mm._jpeg_decode(bytes(out))
    assert (w, h, ch) == (16, 8, 1)

    def recon(v):
        return int(np.floor(qdc(v) * 16 / 8.0 + 128 + 0.5))

    assert (px[:, :8] == recon(40)).all()
    assert (px[:, 8:] == recon(200)).all()


def test_wav_truncated_fmt_chunk_yields_nulls(spark):
    """A payload that ends mid-``fmt `` chunk (declared size 16, body cut
    short) must degrade to NULL rows, not raise struct.error inside the
    Arrow kernel (r05 ADVICE); zero-rate fmt headers likewise."""
    good = _wav(_fmt(1, 8000) + _data([5, -5]))
    # declared size 16 but only 6 bytes of body actually present
    truncated = _wav(b"fmt " + struct.pack("<I", 16) + b"\x01\x00\x01\x00\x40\x1f")
    zero_rate = _wav(_fmt(1, 0) + _data([5, -5]))
    out = _decode(spark, [good, truncated, zero_rate])
    assert out[0].n_samples == 2
    assert out[1].sample_rate is None and out[2].sample_rate is None

    df = spark.createDataFrame(
        list(enumerate([good, truncated, zero_rate])), "doc_id long, payload binary"
    )
    trim = {r.doc_id: r for r in mm.trim_wav_silence(df, "payload", "doc_id").collect()}
    assert trim[0].n_samples == 2 and trim[0].lead_silence == 0
    assert trim[1].n_samples is None and trim[2].n_samples is None


def test_jpeg_codec_r12_golden_hashes():
    """r12 optimization regression anchor: the bulk-bit writer, the
    vectorized constant-block encoder path, and the peek-table Huffman
    decoder must reproduce the pre-optimization codec BYTE-for-byte
    (encode) and PIXEL-for-pixel (decode).  Hashes were recorded from the
    per-bit implementation at r11 HEAD over the video-frame fixture space
    (gray + RGB, DC-only and AC-carrying blocks, AVI containers)."""
    import hashlib

    from kwack_spark.operators import multimodal as mm

    enc_golden = {
        0: "cd60e05dbc2f57359ea36be342e33d2a",
        1: "99ae3a0bcf69ce9ca4504ca5d18cdd38",
        5: "7988b902f735b3c70a4b60e88c12910a",
        30: "7289bdb93631ceb8ab9e39f3ccdeb1e9",
        127: "5d14bfd1553b08f753796d2913999dde",
        300: "369e33eed2a5846847095a8334657467",
    }
    for d, want in enc_golden.items():
        px = mm._video_frame_grid(d % 7, d % 4, bool(d % 3 == 0))
        payload = mm._jpeg_encode(px, 3 if px.shape[1] >= 72 * 3 else 1)
        assert hashlib.md5(payload).hexdigest() == want, f"encode drift id={d}"

    frames_golden = {
        0: ("aa072945ef403a7b1a3aa26b91010012", "00d8bc839772f8f2d31a8eb77cf08a49"),
        63: ("01ca53eeddf297bec04e0cded567a8db", "e027e9a4e1b5cb971f868c8447894e96"),
        128: ("8fde92f354a57c3e002a7df06d6709e4", "84e0f4698c5294f811768fe3cffa0197"),
        200: ("9d1abcdcf48db26305b54d69e3154fd0", "88776fdf6cdf91cb91f440639d182b31"),
    }
    for d, (enc_want, dec_want) in frames_golden.items():
        frames = mm._video_frame_jpegs(d % 64, (d // 64) % 4, 16, 2)
        assert hashlib.md5(b"".join(frames)).hexdigest() == enc_want
        acc = hashlib.md5()
        for fr in frames:
            w, h, ch, px = mm._jpeg_decode(fr)
            acc.update(f"{w}x{h}x{ch}:".encode())
            acc.update(px.tobytes())
        assert acc.hexdigest() == dec_want, f"decode drift id={d}"

    avi_golden = {
        0: "827739e7be46c1e1be5fcff6567f7237",
        17: "d9cc8d23aa0e2936468cd00d93f41670",
        99: "ac1051ffdd1479a056aafde6befc0c81",
    }
    for d, want in avi_golden.items():
        frames = mm._video_frame_jpegs(d % 64, (d // 64) % 4, 16, 2)
        payload = mm._avi_container(frames)
        acc = hashlib.md5(payload)
        for fr in mm._avi_mjpeg_frames(payload):
            acc.update(hashlib.md5(fr).digest())
        assert acc.hexdigest() == want, f"avi roundtrip drift id={d}"


def test_decode_memo_bounds_bytes_not_entries():
    """A task over large, distinct payloads holds at most the memo's byte
    budget, however many entries fit under the old count caps; repeats of
    kept payloads still skip the decode, and a payload bigger than the
    whole budget is decoded every time and never kept."""
    import numpy as np

    from kwack_spark.operators import multimodal as mm

    rng = np.random.RandomState(5)
    payloads = [
        mm._png_encode(rng.randint(0, 256, (128, 128 * 3)).astype(np.int32), 3)
        for _ in range(12)
    ]
    size = len(payloads[0])
    assert size > 40_000  # random pixels do not compress
    decodes = []

    def decode(p):
        decodes.append(p)
        parsed = mm._png_decode(p)
        return mm._dhash64_from_px(parsed[0], parsed[1], parsed[2], parsed[4])

    budget = 4 * size + 64
    memo = mm.DecodeMemo(decode, budget=budget)
    fps = [memo(p) for p in payloads]
    assert memo.held <= budget
    assert len(decodes) == 12
    assert [memo(p) for p in payloads] == fps  # same answers, kept or not
    assert 12 + 12 - 4 <= len(decodes) < 24  # only kept payloads skip a decode

    big = mm.DecodeMemo(decode, budget=size // 2)
    n = len(decodes)
    big(payloads[0])
    big(payloads[0])
    assert len(decodes) == n + 2 and big.held == 0
    assert mm.DECODE_MEMO_BYTES <= 128 << 20


def test_per_row_contract(spark):
    """The one Python row stage: a row function yields zero, one or many rows
    per input, NULLs survive in nullable long and int columns, and the
    output schema is exactly the one asked for — over two partitions, one
    of them empty."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as ST

    # ids 0..2 land in the first partition; the filter empties the second
    df = spark.range(0, 6, numPartitions=2).where("id < 3").select(
        F.col("id").alias("doc_id"),
        F.expr("substring(cast('abc' AS binary), 1, cast(id * (id + 1) / 2 AS int))")
        .alias("payload"),
    )
    assert df.rdd.getNumPartitions() == 2

    def row(i, payload):
        for k in range(len(payload)):  # 0, 1 and 3 rows
            yield i, k, None if k == 0 else 10 * k, None if k == 1 else k

    out_schema = ST.StructType(
        [
            ST.StructField("doc_id", ST.LongType(), False),
            ST.StructField("k", ST.IntegerType(), False),
            ST.StructField("big", ST.LongType(), True),
            ST.StructField("small", ST.IntegerType(), True),
        ]
    )
    out = per_row(df, ["doc_id", "payload"], row, out_schema)
    assert out.schema == out_schema
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, 0, None, 0),
        (2, 0, None, 0),
        (2, 1, 10, None),
        (2, 2, 20, 2),
    ]


def test_per_row_memo_starts_empty_in_each_task(spark):
    """A DecodeMemo the row function closes over is per-task state: the
    stage is unpickled once per task, so each task's first row sees an
    empty memo — also on a second job, when Python workers are reused."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as ST

    df = spark.range(0, 12, numPartitions=3).select(
        F.col("id").alias("doc_id"), F.lit(bytearray(b"same")).alias("payload")
    )
    memo = mm.DecodeMemo(len)

    def row(i, payload):
        held = memo.held
        memo(payload)
        yield i, held

    out_schema = ST.StructType(
        [ST.StructField("doc_id", ST.LongType()), ST.StructField("held", ST.LongType())]
    )
    out = per_row(df, ["doc_id", "payload"], row, out_schema)
    for _ in range(2):
        helds = [r.held for r in out.collect()]
        assert len(helds) == 12
        assert helds.count(0) == 3  # one empty memo per task
        assert set(helds) == {0, len(b"same") + 8}


_PAYLOAD_KERNELS = [
    "decode_image",
    "fake_decode_image",
    "resize_bytes",
    "byte_histogram_features",
    "decode_wav_features",
    "audio_fingerprint64",
    "decode_png_features",
    "dhash64",
    "mjpeg_keyframes",
    "avi_keyframes",
    "decode_jpeg_features",
    "trim_wav_silence",
    "wav_rms_windows",
]


@pytest.mark.parametrize("kernel", _PAYLOAD_KERNELS)
def test_payload_kernels_treat_null_as_malformed(spark, kernel):
    """A NULL payload degrades like a malformed one instead of failing the
    job: its id comes back with NULL features, or with no row where the
    kernel skips malformed input (wav_rms_windows)."""
    df = spark.createDataFrame([(1, None), (2, b"RIFF")], "doc_id long, payload binary")
    rows = getattr(mm, kernel)(df, "payload", "doc_id").collect()
    if kernel == "wav_rms_windows":
        assert rows == []
        return
    (null_row,) = [r for r in rows if r.doc_id == 1]
    assert all(v is None for v in null_row[1:])
