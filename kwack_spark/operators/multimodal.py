"""Multimodal (image/audio/video) column plumbing.

Beyond-parity operators for a training-data pipeline: media are opaque
``binary`` payload columns with typed metadata, processed by the engine's
one Python row stage (``rowstage.per_row``, a ``mapInArrow`` pass; a NULL
payload reaches a kernel as None and every payload kernel here treats it
as malformed).  No media library is used, but two
decode kernels are REAL anyway because their formats are pure byte
arithmetic + stdlib compression: WAV/PCM16 (``decode_wav_features``) and PNG
(``decode_png_features`` / ``decode_image`` — zlib inflate, CRC-checked
chunk walk, all five scanline unfilters).  Formats that genuinely need a
codec library (JPEG's DCT, video) are sniffed and emit NULL features with
the format tag, never silently-wrong values.

Kernel tiers:
- ``decode_png_features`` / ``decode_wav_features``: real decoders,
  oracle-checked end-to-end on closed-form fixtures.
- ``decode_image``: real for PNG; magic-sniff + NULL dims otherwise.
- ``fake_decode_image``: a DETERMINISTIC arithmetic stand-in (reads
  width/height/channels from the payload's leading bytes) whose math is
  reproducible in SQL, kept for hash-checking the pipeline shape against
  DuckDB independently of any format.

Scale shape: decode is a narrow per-partition pass; payload columns are
hundreds of KB each, so stages that follow repartition by a small metadata
projection rather than shuffling payloads.  ``drop_payload_early`` is the
pattern: project metadata/features first, never shuffle raw bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as ST

from kwack_spark.rowstage import per_row

IMAGE_META_SCHEMA = ST.StructType(
    [
        ST.StructField("width", ST.IntegerType(), True),
        ST.StructField("height", ST.IntegerType(), True),
        ST.StructField("channels", ST.IntegerType(), True),
        ST.StructField("format", ST.StringType(), True),
    ]
)


def attach_binary_metadata(df: DataFrame, payload_col: str) -> DataFrame:
    """Typed metadata over an opaque binary column — JVM-side only (size,
    content hash, magic-byte format sniff); no Python in the path."""
    p = F.col(payload_col)
    head = F.hex(F.substring(p, 1, 4))
    fmt = (
        F.when(head.startswith("89504E47"), "png")
        .when(head.startswith("FFD8FF"), "jpeg")
        .when(head.startswith("52494646"), "riff")
        .otherwise("unknown")
    )
    return df.withColumns(
        {
            "media_bytes": F.length(p),
            "media_md5": F.md5(p),
            "media_format": fmt,
        }
    )


def _jpeg_dimensions(payload: bytes):
    """Width/height/channels from a JPEG's SOF marker — header arithmetic
    only, no DCT decode needed (pixel decode DOES need a codec library,
    which this container lacks).  Walks the marker stream (each non-RST
    marker carries a big-endian length), stopping at the first SOFn
    (C0-CF except C4/C8/CC, which are DHT/JPG/DAC).  Returns
    (width, height, channels) or None for malformed streams."""
    import struct

    if payload[:3] != b"\xff\xd8\xff":
        return None
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            return None
        marker = payload[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker in (0x01, *range(0xD0, 0xD8)):  # TEM/RSTn: no segment body
            pos += 2
            continue
        if marker == 0xD9:  # EOI before any SOF
            return None
        (seg_len,) = struct.unpack_from(">H", payload, pos + 2)
        if seg_len < 2 or pos + 2 + seg_len > len(payload):
            return None
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if seg_len < 8:
                return None
            _prec, h, w, ncomp = struct.unpack_from(">BHHB", payload, pos + 4)
            return (w, h, ncomp)
        pos += 2 + seg_len
    return None


def decode_image(df: DataFrame, payload_col: str, id_col: str) -> DataFrame:
    """REAL image metadata decode (no library needed): PNG payloads are
    fully decoded by the stdlib kernel below (``_png_decode`` — chunk walk,
    CRC, inflate, unfilter) and JPEG payloads report true dimensions from
    their SOF frame header (``_jpeg_dimensions`` — marker-stream walk, no
    DCT); remaining formats are sniffed by magic bytes and emit NULL
    dimensions with the format tag — rows are never silently wrong, just
    explicitly undecoded.  For the full per-channel feature pass over PNGs
    use ``decode_png_features``."""

    def row(i, payload):
        if payload is None:
            yield i, None, None, None, None
            return
        dims = None
        if payload.startswith(_PNG_SIG):
            fmt, parsed = "png", _png_decode(payload)
            dims = parsed[:3] if parsed is not None else None
        elif payload[:3] == b"\xff\xd8\xff":
            fmt, dims = "jpeg", _jpeg_dimensions(payload)
        elif payload[:4] == b"RIFF":
            fmt = "riff"
        else:
            fmt = "unknown"
        yield (i, *(dims or (None, None, None)), fmt)

    out_schema = ST.StructType(
        [ST.StructField(id_col, ST.LongType())] + list(IMAGE_META_SCHEMA.fields)
    )
    return per_row(df, [id_col, payload_col], row, out_schema)


def fake_decode_image(df: DataFrame, payload_col: str, id_col: str) -> DataFrame:
    """Deterministic decode stand-in: width/height/channels derived from the
    payload's first bytes (b0*256+b1, b2*256+b3, 1+b4%4).  Arithmetic only —
    reproducible in any engine, so the pipeline is oracle-checkable."""

    def row(i, payload):
        if payload is None:
            yield i, None, None, None, None
            return
        b = payload[:5].ljust(5, b"\x00")
        yield i, b[0] * 256 + b[1], b[2] * 256 + b[3], 1 + b[4] % 4, "fake"

    out_schema = ST.StructType(
        [ST.StructField(id_col, ST.LongType())] + list(IMAGE_META_SCHEMA.fields)
    )
    return per_row(df, [id_col, payload_col], row, out_schema)


def sample_frames(
    df: DataFrame, payload_col: str, id_col: str, frame_size: int = 16, every_n: int = 4
) -> DataFrame:
    """Video-style frame sampling plumbing: split the payload into fixed-size
    chunks, keep every Nth — one row per sampled frame (posexplode).  All
    JVM-side: no Python, no shuffle; the explode multiplies rows locally."""
    p = F.col(payload_col)
    n_frames = F.floor(F.length(p) / F.lit(frame_size)).cast("int")
    idx = F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)))
    sampled = F.filter(idx, lambda i: i % every_n == 0)
    frames = F.transform(
        sampled, lambda i: F.struct(
            i.alias("frame_no"),
            F.substring(p, i * frame_size + 1, frame_size).alias("frame"),
        )
    )
    return (
        df.select(id_col, F.explode(frames).alias("f"))
        .select(
            id_col,
            F.col("f.frame_no").alias("frame_no"),
            F.col("f.frame").alias("frame"),
            F.md5(F.col("f.frame")).alias("frame_md5"),
        )
    )


def resize_bytes(
    df: DataFrame, payload_col: str, id_col: str, target: int = 32
) -> DataFrame:
    """Deterministic resize stand-in: nearest-neighbor byte resample of the
    payload to exactly ``target`` bytes (out[i] = in[(i*n)//target]).  A real
    image resize swaps only the kernel body (PIL thumbnail etc.); the Spark
    shape — vectorized numpy over Arrow batches, narrow, no payload shuffle —
    is what this pins down.  Output: (id, orig_len, resized binary)."""
    import numpy as np

    def row(i, payload):
        if payload is None:
            yield i, None, None
            return
        n = len(payload)
        if n == 0:
            yield i, n, b""
            return
        idx = (np.arange(target, dtype=np.int64) * n) // target
        yield i, n, np.frombuffer(payload, dtype=np.uint8)[idx].tobytes()

    out_schema = ST.StructType(
        [
            ST.StructField(id_col, ST.LongType()),
            ST.StructField("orig_len", ST.LongType()),
            ST.StructField("resized", ST.BinaryType()),
        ]
    )
    return per_row(df, [id_col, payload_col], row, out_schema)


def byte_histogram_features(
    df: DataFrame, payload_col: str, id_col: str, bins: int = 16
) -> DataFrame:
    """Feature extraction over an opaque payload: byte count, mean byte value,
    and a ``bins``-bin histogram of the high nibble-scaled byte range,
    JSON-encoded so the feature vector stays hashable downstream.  Vectorized
    numpy (np.bincount) per Arrow batch — the stand-in for an embedding or
    perceptual-feature kernel with the same narrow plan shape."""
    import numpy as np

    width = 256 // bins

    def row(i, payload):
        if payload is None:
            yield i, None, None, None
            return
        arr = np.frombuffer(payload, dtype=np.uint8)
        n = len(arr)
        mean = float(int(arr.sum(dtype=np.int64))) / n if n else 0.0
        counts = np.bincount(arr // width, minlength=bins)[:bins]
        yield i, n, mean, "[" + ",".join(str(int(c)) for c in counts) + "]"

    out_schema = ST.StructType(
        [
            ST.StructField(id_col, ST.LongType()),
            ST.StructField("n_bytes", ST.LongType()),
            ST.StructField("mean_byte", ST.DoubleType()),
            ST.StructField("hist", ST.StringType()),
        ]
    )
    return per_row(df, [id_col, payload_col], row, out_schema)


WAV_FEATURES_SCHEMA = ST.StructType(
    [
        ST.StructField("sample_rate", ST.IntegerType(), True),
        ST.StructField("n_channels", ST.IntegerType(), True),
        ST.StructField("n_samples", ST.LongType(), True),
        ST.StructField("duration_ms", ST.DoubleType(), True),
        ST.StructField("rms", ST.DoubleType(), True),
        ST.StructField("peak", ST.IntegerType(), True),
    ]
)


def synth_wav_pcm16(
    df: DataFrame,
    id_col: str,
    n_samples: int = 1024,
    rate: int = 8000,
    silence: bool = False,
) -> DataFrame:
    """Deterministic RIFF/WAVE PCM16 fixture generator (pure ``struct`` —
    no audio library): mono square wave alternating ±amplitude with
    amplitude = id % 1000 + 1, plus a junk LIST chunk before ``data`` so a
    consumer must actually walk the chunk structure.  Output: (id, payload
    binary).  Exists so the REAL wav decode kernel below can be exercised
    end-to-end in environments with no media files.  ``silence=True`` pads
    id%97 leading and id%53 trailing zero samples around the wave (the
    square wave itself is never 0), the fixture for the trim kernel."""
    import struct

    def row(i):
        amp = i % 1000 + 1
        frames = b"".join(
            struct.pack("<h", amp if k % 2 == 0 else -amp) for k in range(n_samples)
        )
        if silence:
            frames = b"\x00\x00" * (i % 97) + frames + b"\x00\x00" * (i % 53)
        yield i, _wav_pcm16_bytes(frames, rate)

    out_schema = ST.StructType(
        [
            ST.StructField(id_col, ST.LongType()),
            ST.StructField("payload", ST.BinaryType()),
        ]
    )
    return per_row(df, [id_col], row, out_schema)


def _wav_pcm16_bytes(frames: bytes, rate: int) -> bytes:
    """The one RIFF/WAVE writer behind the WAV fixtures: mono PCM16
    ``fmt ``, then a junk ``LIST`` chunk a parser must skip, then ``data``
    holding ``frames`` (little-endian int16 samples)."""
    import struct

    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    junk = b"JUNKJUNK"
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"LIST" + struct.pack("<I", len(junk)) + junk
        + b"data" + struct.pack("<I", len(frames)) + frames
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def _riff_chunks(buf: bytes, pos: int, end: int):
    """Walk one RIFF chunk sequence, yielding ``(chunk_id, body_offset,
    body_size_available)`` — the ONE copy of the RIFF discipline (4-byte
    fourcc, little-endian u32 size, odd-size pad byte) shared by the
    WAV/PCM16 parser and the AVI container parser.  A chunk whose declared
    size overruns the buffer yields its available prefix (the truncated
    tail degrades to NULL features downstream, never a struct.error inside
    an Arrow kernel — r05 ADVICE); nested LIST bodies are walked by
    re-invoking on ``(body_offset + 4, body_offset + size)``."""
    import struct

    while pos + 8 <= end:
        cid = buf[pos : pos + 4]
        (size,) = struct.unpack_from("<I", buf, pos + 4)
        body = pos + 8
        yield cid, body, min(size, end - body)
        pos = body + size + (size & 1)  # odd chunk sizes are padded


def _wav_pcm16_parse(payload: bytes):
    """Chunk-walk a RIFF/WAVE payload and return ``(rate, channels,
    samples)`` with samples the raw interleaved int16 array, or None for
    anything malformed / non-PCM16.  The one copy of the byte-level parser:
    the feature, fingerprint, trim and window kernels all read through it."""
    import struct

    import numpy as np

    if payload is None or len(payload) < 12:
        return None
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    fmt_info, data = None, None
    for cid, off, n in _riff_chunks(payload, 12, len(payload)):
        body = payload[off : off + n]
        if cid == b"fmt " and len(body) >= 16:
            audio_fmt, ch, rate, _br, _ba, bits = struct.unpack_from("<HHIIHH", body)
            fmt_info = (audio_fmt, ch, rate, bits)
        elif cid == b"data":
            data = body
    if fmt_info is None or data is None:
        return None
    audio_fmt, ch, rate, bits = fmt_info
    if audio_fmt != 1 or bits != 16 or ch < 1 or rate == 0:
        return None  # only uncompressed PCM16 here
    s = np.frombuffer(data[: (len(data) // (2 * ch)) * 2 * ch], dtype="<i2")
    return (rate, ch, s)


def decode_wav_features(df: DataFrame, payload_col: str, id_col: str) -> DataFrame:
    """REAL audio decode kernel — not a stub: RIFF/WAVE PCM16 parsing is
    pure byte arithmetic (struct + numpy), so unlike image decode it needs
    no external library.  Walks the chunk list (skipping unknown chunks,
    honoring the odd-size pad byte), reads fmt (PCM, channels, rate, 16
    bit), decodes ``data`` as int16, and emits per-file audio features:
    sample_rate, n_channels, n_samples (per channel), duration_ms, RMS,
    peak.  Malformed payloads yield NULL features instead of failing the
    batch (the multimodal analogue of decode_topic's on_error='skip').
    Same narrow Arrow-batched plan shape as every kernel in this module."""
    import numpy as np

    def parse(payload: bytes):
        parsed = _wav_pcm16_parse(payload)
        if parsed is None:
            return (None,) * 6
        rate, ch, s = parsed
        n = len(s) // ch
        x = s.astype(np.float64)
        rms = float(np.sqrt(np.mean(x * x))) if len(s) else 0.0
        peak = int(np.max(np.abs(x))) if len(s) else 0
        return (rate, ch, n, float(n) / rate * 1000.0, rms, peak)

    def row(i, payload):
        yield (i, *parse(payload))

    out_schema = ST.StructType(
        [ST.StructField(id_col, ST.LongType())] + list(WAV_FEATURES_SCHEMA.fields)
    )
    return per_row(df, [id_col, payload_col], row, out_schema)


def synth_wav_am(
    df: DataFrame,
    id_col: str,
    n_windows: int = 65,
    window: int = 64,
    rate: int = 8000,
) -> DataFrame:
    """Deterministic acoustic-dedup WAV fixture (same real RIFF encoder
    shape as ``synth_wav_pcm16``, junk LIST chunk included): per id d, a
    mono PCM16 square wave whose per-window amplitude walks up or down by
    a fixed step so the 64 energy-delta signs the fingerprint below reads
    have a closed form.  Audio class: g = d % 128 picks the 64-bit
    pattern bit j = (g >> (j % 7)) & 1 (two distinct class PATTERNS differ
    in >= 9 of the 64 bits — 64/7 positions per differing g-bit — and the
    variant flips below cost at most 1 bit per side, so any cross-class
    fingerprint pair stays >= 7 apart and none survives a Hamming<=3
    gate), v = (d // 128) % 4 the
    near-dup variant, flipping only walk step v-1: ids sharing (g, v)
    fingerprint identically, v=0 vs v>0 differ in exactly 1 bit, two
    nonzero variants in exactly 2.  A per-(id, window) jitter of
    0..7 < step/2 keeps every payload distinct without ever flipping a
    delta sign."""
    import numpy as np

    def row(d):
        g, v = d % 128, (d // 128) % 4
        bits = np.array([(g >> (j % 7)) & 1 for j in range(n_windows - 1)], np.int64)
        if v > 0:
            bits[v - 1] ^= 1
        steps = np.concatenate(([0], np.where(bits == 1, 1, -1)))
        walk = np.cumsum(steps)  # s_w, |s_w| <= 64
        jitter = (d * (np.arange(n_windows, dtype=np.int64) + 1)) % 8
        amps = 2000 + 24 * walk + jitter  # 464..3543, fits int16
        samples = np.repeat(amps, window)
        samples[1::2] *= -1  # square wave: the sign flips every sample
        yield d, _wav_pcm16_bytes(samples.astype("<i2").tobytes(), rate)

    out_schema = ST.StructType(
        [
            ST.StructField(id_col, ST.LongType()),
            ST.StructField("payload", ST.BinaryType()),
        ]
    )
    return per_row(df, [id_col], row, out_schema)


def audio_fingerprint64(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    window: int = 64,
) -> DataFrame:
    """64-bit acoustic fingerprint from REAL audio decode — the audio
    sibling of ``dhash64``: RIFF/PCM16 chunk-walk parse
    (``_wav_pcm16_parse``), per-window RMS energy over fixed
    ``window``-sample frames, then bit j = 1 iff energy[j+1] > energy[j] —
    the energy-delta-sign fingerprint (the time-domain core of
    Shazam/Chromaprint-style audio hashing; a production kernel swaps
    band-filtered energies into the same signature).  Needs mono PCM16
    with >= 65 full windows (the first 65 are read); anything else —
    malformed bytes, multi-channel, too short — yields NULL, never a
    wrong fingerprint.  Returns ``(id, fp)`` with fp a signed LONG (bit
    63 wraps to the sign bit, matching BIGINT), ready for
    ``dedup.fingerprint_hamming_pairs``.  Scale shape: one narrow
    Arrow-batched pass, 8 bytes/clip leave it — payloads never shuffle."""
    import numpy as np

    def fingerprint(payload: bytes):
        parsed = _wav_pcm16_parse(payload)
        if parsed is None:
            return None
        _rate, ch, s = parsed
        if ch != 1 or len(s) < 65 * window:
            return None
        x = s[: 65 * window].astype(np.float64)
        # RMS per window: the fixture's per-window square wave makes each
        # value an exact integer (sqrt of a perfect square); real audio just
        # gets honest floats
        e = np.sqrt(np.mean(x.reshape(65, window) ** 2, axis=1))
        fp = 0
        for j in range(64):
            if e[j + 1] > e[j]:
                fp |= 1 << j
        if fp >= 1 << 63:
            fp -= 1 << 64
        return fp

    def row(i, payload):
        yield i, fingerprint(payload)

    out_schema = ST.StructType(
        [
            ST.StructField(id_col, ST.LongType()),
            ST.StructField("fp", ST.LongType(), True),
        ]
    )
    return per_row(df, [id_col, payload_col], row, out_schema)


PNG_FEATURES_SCHEMA = ST.StructType(
    [
        ST.StructField("width", ST.IntegerType(), True),
        ST.StructField("height", ST.IntegerType(), True),
        ST.StructField("channels", ST.IntegerType(), True),
        ST.StructField("bit_depth", ST.IntegerType(), True),
        ST.StructField("mean_r", ST.DoubleType(), True),
        ST.StructField("mean_g", ST.DoubleType(), True),
        ST.StructField("mean_b", ST.DoubleType(), True),
    ]
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type -> samples per pixel


def _rgb_means(w: int, h: int, ch: int, px):
    """Per-channel (R, G, B) means of a decoded (h, w*ch) pixel matrix by
    exact integer sum / count (bit-stable); gray and gray+alpha report
    their one luminance lane as all three.  Shared by the PNG and JPEG
    feature kernels."""
    n = w * h
    means = tuple(
        float(int(px[:, c::ch].sum(dtype="int64"))) / n
        for c in range(1 if ch <= 2 else 3)
    )
    return means * 3 if ch <= 2 else means


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png_filter_row(cur, prev, left_pad, ftype):
    """Apply PNG filter ``ftype`` to reconstructed row ``cur`` (int32 numpy,
    length w*bpp) given the prior reconstructed row — encoder side.  Filters
    reference RECONSTRUCTED bytes, so each row vectorizes fully."""
    import numpy as np

    left = np.concatenate([np.zeros(left_pad, np.int32), cur[:-left_pad]])
    upleft = np.concatenate([np.zeros(left_pad, np.int32), prev[:-left_pad]])
    if ftype == 0:
        return cur % 256
    if ftype == 1:
        return (cur - left) % 256
    if ftype == 2:
        return (cur - prev) % 256
    if ftype == 3:
        return (cur - (left + prev) // 2) % 256
    # Paeth
    p = left + prev - upleft
    pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
    pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft))
    return (cur - pred) % 256


def _png_encode(pixels, channels: int, split_idat: bool = False) -> bytes:
    """Minimal, standards-correct PNG writer (stdlib zlib/struct + numpy):
    8-bit gray (color 0) or RGB (color 2), no interlace.  ``pixels``:
    (h, w*channels) int array of reconstructed samples.  Filter type cycles
    ``y % 5`` per scanline so every unfilter branch in the decoder is
    exercised by fixtures, and ``split_idat`` emits two IDAT chunks (the
    spec allows any split; decoders must concatenate)."""
    import struct
    import zlib

    import numpy as np

    h, stride = pixels.shape
    w = stride // channels
    color = {1: 0, 3: 2}[channels]
    raw = bytearray()
    prev = np.zeros(stride, np.int32)
    for y in range(h):
        cur = pixels[y].astype(np.int32)
        f = y % 5
        raw.append(f)
        raw.extend(_png_filter_row(cur, prev, channels, f).astype(np.uint8).tobytes())
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    z = zlib.compress(bytes(raw), 6)
    if split_idat and len(z) > 2:
        mid = len(z) // 2
        idat = _png_chunk(b"IDAT", z[:mid]) + _png_chunk(b"IDAT", z[mid:])
    else:
        idat = _png_chunk(b"IDAT", z)
    return _PNG_SIG + _png_chunk(b"IHDR", ihdr) + idat + _png_chunk(b"IEND", b"")


def _png_decode(payload: bytes):
    """Minimal, standards-correct PNG reader (stdlib zlib/struct + numpy):
    signature, chunk walk with CRC verification, multi-IDAT concatenation,
    inflate, and per-scanline unfilter (None/Sub/Up/Average/Paeth) for
    8-bit gray/gray+alpha/RGB/RGBA.  Returns (w, h, channels, depth,
    pixel matrix (h, w*channels) uint8) or None for anything malformed or
    out of scope (16-bit, palette, interlaced)."""
    import struct
    import zlib

    import numpy as np

    if payload is None or not payload.startswith(_PNG_SIG):
        return None
    pos, ihdr, idat, ended = len(_PNG_SIG), None, bytearray(), False
    while pos + 12 <= len(payload):
        (size,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + size]
        if len(data) < size or pos + 12 + size > len(payload):
            return None
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + size)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            return None
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            ended = True
            break
        pos += 12 + size
    if ihdr is None or not idat or not ended:
        return None
    w, h, depth, color, comp, filt, interlace = ihdr
    channels = _PNG_CHANNELS.get(color)
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0 or channels is None:
        return None
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    stride = w * channels
    if len(raw) != h * (stride + 1):
        return None
    arr = np.frombuffer(raw, np.uint8).reshape(h, stride + 1)
    ftypes, data = arr[:, 0], arr[:, 1:].astype(np.int32)
    recon = np.zeros((h, stride), np.int32)
    prev = np.zeros(stride, np.int32)
    bpp = channels
    for y in range(h):
        f, line = int(ftypes[y]), data[y]
        if f == 0:
            cur = line
        elif f == 1:  # Sub: per-lane cumulative sum (mod distributes)
            cur = np.cumsum(line.reshape(w, bpp), axis=0).reshape(stride) % 256
        elif f == 2:  # Up
            cur = (line + prev) % 256
        elif f == 3:  # Average: sequential in x, vectorized over the pixel
            cur = np.empty(stride, np.int32)
            for x in range(w):
                s = slice(x * bpp, (x + 1) * bpp)
                left = cur[(x - 1) * bpp:x * bpp] if x else np.zeros(bpp, np.int32)
                cur[s] = (line[s] + (left + prev[s]) // 2) % 256
        elif f == 4:  # Paeth
            cur = np.empty(stride, np.int32)
            for x in range(w):
                s = slice(x * bpp, (x + 1) * bpp)
                a = cur[(x - 1) * bpp:x * bpp] if x else np.zeros(bpp, np.int32)
                b = prev[s]
                c = prev[(x - 1) * bpp:x * bpp] if x else np.zeros(bpp, np.int32)
                p = a + b - c
                pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
                cur[s] = (line[s] + pred) % 256
        else:
            return None
        recon[y] = cur
        prev = cur
    return w, h, channels, depth, recon.astype(np.uint8)


def synth_png(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic PNG fixture generator (real encoder, stdlib only).
    Per id d: width 16 (d even) / 6 (odd); height 8 (d%3==0) / 16;
    grayscale when d%7==0 else RGB; two IDAT chunks when d%11==0.  Pixel
    pattern has CLOSED-FORM channel means (see multimodal_png_decode's
    oracle): R = d%256 constant, G = x*255//(w-1) (mean exactly 127.5 for
    both widths), B = y*255//(h-1) (127.5 at h=16, 127.125 at h=8); gray
    images are the constant d%256.  Filter type cycles y%5, so decoding
    exercises every unfilter branch."""
    import numpy as np

    def row(d):
        w = 16 if d % 2 == 0 else 6
        h = 8 if d % 3 == 0 else 16
        if d % 7 == 0:
            px = np.full((h, w), d % 256, np.int32)
            ch = 1
        else:
            ch = 3
            px = np.zeros((h, w * 3), np.int32)
            px[:, 0::3] = d % 256
            px[:, 1::3] = (np.arange(w) * 255) // (w - 1)
            px[:, 2::3] = ((np.arange(h) * 255) // (h - 1))[:, None]
        yield d, _png_encode(px, ch, split_idat=(d % 11 == 0))

    out_schema = ST.StructType(
        [
            ST.StructField(id_col, ST.LongType()),
            ST.StructField("payload", ST.BinaryType()),
        ]
    )
    return per_row(df, [id_col], row, out_schema)


def decode_png_features(df: DataFrame, payload_col: str, id_col: str) -> DataFrame:
    """REAL image decode kernel — the round-3 stub slot, filled: PNG is
    zlib (stdlib) + byte arithmetic, so like the WAV kernel it needs no
    media library.  Full decode — chunk walk with CRC checks, multi-IDAT
    inflate, per-scanline unfilter (all five filter types), 8-bit
    gray/gray+alpha/RGB/RGBA — then per-channel means computed by exact
    integer sum / count (bit-stable).  Malformed payloads yield NULL
    features instead of failing the batch.  Same narrow Arrow-batched
    plan as every kernel here; payloads never shuffle."""

    def row(i, payload):
        parsed = _png_decode(payload)
        if parsed is None:
            yield (i,) + (None,) * 7
            return
        w, h, ch, depth, px = parsed
        yield (i, w, h, ch, depth, *_rgb_means(w, h, ch, px))

    out_schema = ST.StructType(
        [ST.StructField(id_col, ST.LongType())] + list(PNG_FEATURES_SCHEMA.fields)
    )
    return per_row(df, [id_col, payload_col], row, out_schema)


def _blocky_grid(g: int, v: int):
    """9x8 block-value grid of image class (g, v): base value of block
    (j, i) is the first md5 byte of 'ph:g:j:i' (md5 — decorrelated across
    classes, available in SQL so the oracle restates it); variant v > 0
    inverts (255 - value) the single cell (j = v-1, i = 0).  Shared by the
    encoder fixture; the dHash oracle states the same form in SQL."""
    import hashlib

    import numpy as np

    grid = np.empty((8, 9), np.int32)
    for j in range(8):
        for i in range(9):
            grid[j, i] = int(
                hashlib.md5(f"ph:{g}:{j}:{i}".encode()).hexdigest()[:2], 16
            )
    if v > 0:
        grid[v - 1, 0] = 255 - grid[v - 1, 0]
    return grid


def synth_png_blocky(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic perceptual-dedup PNG fixture (real encoder): per id d,
    an 18x16 GRAYSCALE image that is constant within each 2x2 pixel block,
    so the dHash downsample below reconstructs the 9x8 block grid EXACTLY
    and the fingerprint has a closed form the oracle states independently
    of the bytes.  Image class: g = d % 128 picks an md5-derived base grid
    (``_blocky_grid`` — md5 bytes, so classes are statistically independent
    and cross-class dHash collisions within distance 3 are ~2^-64-scale
    rare), v = (d // 128) % 4 the variant, inverting one cell in column 0:
    ids sharing (g, v) are pixel-identical (dHash distance 0), different
    variants of one g differ in <= 2 dHash bits (a column-0 cell feeds only
    its row's first comparison) — real near-duplicates for the Hamming
    blocking to find, never an all-pairs explosion."""
    import numpy as np

    cache: dict = {}  # per task (see rowstage.per_row)

    def row(d):
        g, v = d % 128, (d // 128) % 4
        png = cache.get((g, v))
        if png is None:
            px = np.repeat(np.repeat(_blocky_grid(g, v), 2, axis=0), 2, axis=1)
            png = cache[(g, v)] = _png_encode(px.astype(np.int32), 1)
        yield d, png

    out_schema = ST.StructType(
        [
            ST.StructField(id_col, ST.LongType()),
            ST.StructField("payload", ST.BinaryType()),
        ]
    )
    return per_row(df, [id_col], row, out_schema)


def _dhash64_from_px(w: int, h: int, ch: int, px):
    """64-bit dHash from an already-decoded pixel matrix (h, w*ch):
    luma plane (gray directly; RGB via integer-exact (77R+150G+29B) >> 8),
    integer box downsample to a 9-column x 8-row grid, bit (j*8 + i) = 1
    iff grid[j][i] < grid[j][i+1].  Returns a signed LONG (bit 63 wraps to
    the sign bit, matching Spark/DuckDB BIGINT) or None for shapes not
    box-reducible to the 9x8 grid — shared by the PNG path (``dhash64``)
    and the MJPEG keyframe path (``mjpeg_keyframes``)."""
    import numpy as np

    if w % 9 or h % 8:
        return None
    if ch == 1:
        luma = px.astype(np.int64)
    elif ch == 3:
        p = px.astype(np.int64)
        luma = (77 * p[:, 0::3] + 150 * p[:, 1::3] + 29 * p[:, 2::3]) >> 8
    else:
        return None
    by, bx = h // 8, w // 9
    grid = (
        luma.reshape(8, by, 9, bx).sum(axis=(1, 3), dtype=np.int64)
        // (by * bx)
    )
    fp = 0
    for j in range(8):
        for i in range(8):
            if grid[j, i] < grid[j, i + 1]:
                fp |= 1 << (j * 8 + i)
    if fp >= 1 << 63:
        fp -= 1 << 64
    return fp


# Bytes a per-task decode memo may hold (keys plus 8-byte fingerprints).  A
# count cap does not bound memory when keys are whole media payloads: 16k
# PNGs of a few MB each is tens of GB in one Python worker.
DECODE_MEMO_BYTES = 64 << 20

_MISS = object()


class DecodeMemo:
    """``fn(payload)`` memoized on the exact payload bytes (no hash
    collisions), for one task.  Entries are kept while the bytes they
    hold — key length plus 8 for the fingerprint — fit in ``budget``; past
    that, or for a payload bigger than the whole budget, ``fn`` just runs.
    ``held`` is the bytes held so far."""

    def __init__(self, fn, budget: int = DECODE_MEMO_BYTES):
        self._fn = fn
        self._budget = budget
        self._memo: dict = {}
        self.held = 0

    def __call__(self, payload: bytes):
        fp = self._memo.get(payload, _MISS)
        if fp is _MISS:
            fp = self._fn(payload)
            cost = len(payload) + 8
            if self.held + cost <= self._budget:
                self._memo[payload] = fp
                self.held += cost
        return fp


def dhash64(df: DataFrame, payload_col: str, id_col: str) -> DataFrame:
    """64-bit perceptual difference hash (dHash) from REAL image decode:
    full PNG decode (``_png_decode`` — CRC chunk walk, inflate, all five
    unfilters), luma plane (gray directly; RGB via integer-exact
    (77R + 150G + 29B) >> 8), 2x2 integer box downsample to a 9-column x
    8-row grid, then bit (j*8 + i) = 1 iff grid[j][i] < grid[j][i+1] —
    brightness-gradient signs, the classic crop/re-encode-robust image
    fingerprint.  Returns ``(id, fp)`` with fp a signed LONG (bit 63 wraps
    to the sign bit, matching Spark/DuckDB BIGINT), ready for
    ``dedup.fingerprint_hamming_pairs``'s pigeonhole blocking.  Malformed
    or wrongly-shaped payloads yield NULL, never a wrong fingerprint.
    Scale shape: one narrow Arrow-batched pass; only 8 bytes/image leave
    it (the payload never shuffles)."""

    def _png_fp(payload: bytes):
        parsed = _png_decode(payload)
        if parsed is None:
            return None
        return _dhash64_from_px(parsed[0], parsed[1], parsed[2], parsed[4])

    # per-task memo on the payload BYTES: dHash is a pure function of the
    # payload, and duplicate-heavy corpora (the detection target) re-decode
    # identical images otherwise
    fp = DecodeMemo(_png_fp)

    def row(i, payload):
        yield i, None if payload is None else fp(payload)

    out_schema = ST.StructType(
        [
            ST.StructField(id_col, ST.LongType()),
            ST.StructField("fp", ST.LongType(), True),
        ]
    )
    return per_row(df, [id_col, payload_col], row, out_schema)


def drop_payload_early(df: DataFrame, payload_col: str, feature_cols: list[str]) -> DataFrame:
    """The shuffle-hygiene pattern: project features and DROP the payload
    before any wide operation, so raw bytes never cross the network."""
    keep = [c for c in feature_cols if c != payload_col]
    return df.select(*keep)


# ---------------------------------------------------------------------------
# baseline JPEG codec (stdlib + numpy — no media library in this container)
#
# Sequential baseline Huffman JPEG (SOI/APP0/DQT/SOF0/DHT/SOS/EOI), 8-bit,
# 1x1 sampling (no chroma subsampling), standard Annex K quality-50 quant
# tables and Huffman tables.  Out-of-scope streams (progressive SOF2,
# arithmetic coding, subsampled, 12-bit) decode to None — callers fall back
# to _jpeg_dimensions' header-only path, never silently-wrong pixels.
#
# Exactness contract (what makes a closed-form oracle possible): both FDCT
# and IDCT special-case CONSTANT / DC-only blocks with exact arithmetic
# (integer DC, power-of-two division) — the same shortcut real decoders
# take (libjpeg's all-AC-zero fast path).  All rounding is floor(x + 0.5)
# on IEEE doubles, mirrored verbatim by the multimodal_jpeg_decode oracle.
# ---------------------------------------------------------------------------

# Annex K Table K.1/K.2 (quality 50), natural (row-major) order
_JQ_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
_JQ_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

# Annex K standard Huffman tables: (bits[1..16], values).  The DECODER
# builds its tables from the stream's DHT segments, so encoder and decoder
# share these definitions rather than assuming them.
_JH_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JH_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JH_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_JH_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _jpeg_zigzag():
    """Natural (row, col) coordinates in zigzag order, generated (not
    transcribed): diagonal s = r + c, odd diagonals walk rows ascending."""
    order = []
    for s in range(15):
        d = [(r, s - r) for r in range(max(0, s - 7), min(8, s + 1))]
        order.extend(d if s % 2 == 1 else d[::-1])
    return order


_JZZ = _jpeg_zigzag()


# zigzag k -> flat row-major position, as an index array (numpy imports
# lazily in this module, so the array builds on first use)
_JZZ_POS_NP = None


def _jzz_pos():
    global _JZZ_POS_NP
    if _JZZ_POS_NP is None:
        import numpy as np

        _JZZ_POS_NP = np.array([r * 8 + c for r, c in _JZZ], np.int64)
    return _JZZ_POS_NP


def _jpeg_dct_matrix():
    import math

    import numpy as np

    c = np.zeros((8, 8))
    for u in range(8):
        a = (1 / math.sqrt(2)) if u == 0 else 1.0
        for x in range(8):
            c[u, x] = a * math.cos((2 * x + 1) * u * math.pi / 16) / 2
    return c


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, length: int) -> None:
        # bulk bit append (MSB-first) — emits the identical byte stream the
        # per-bit loop did, draining whole bytes with 0xFF stuffing
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        n = self.n + length
        out = self.out
        while n >= 8:
            n -= 8
            b = (self.acc >> n) & 0xFF
            out.append(b)
            if b == 0xFF:  # byte stuffing
                out.append(0x00)
        self.n = n
        self.acc &= (1 << n) - 1

    def flush(self) -> bytes:
        if self.n:
            self.acc <<= 8 - self.n
            self.acc |= (1 << (8 - self.n)) - 1  # pad with 1-bits per spec
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc, self.n = 0, 0
        return bytes(self.out)


def _huff_codes(bits, values):
    """Canonical Huffman assignment: {symbol: (code, length)}."""
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _jpeg_category(v: int) -> int:
    return 0 if v == 0 else abs(v).bit_length()


def _jpeg_quantize(coef, qtab):
    """round-half-away quantization; exact integer path for the DC of a
    DC-only (constant) block is handled by the caller."""
    import numpy as np

    a = np.abs(coef) / qtab + 0.5
    return (np.sign(coef) * np.floor(a)).astype(np.int32)


def _jpeg_encode_plane(blocks, qtab, dcmap, acmap, bw, pred, dct):
    """Encode a list of (block ndarray) for one component; returns new DC
    predictor.  Constant blocks take the exact integer FDCT shortcut; the
    zigzag gather is one fancy-index and the RLE loop runs over a plain
    Python list (same bitstream as the per-element numpy original)."""
    import numpy as np

    for blk in blocks:
        if int(blk.min()) == int(blk.max()):
            dc_raw = 8 * (int(blk.flat[0]) - 128)
            q0 = (
                (2 * abs(dc_raw) + qtab.flat[0]) // (2 * int(qtab.flat[0]))
            ) * (1 if dc_raw >= 0 else -1)
            zzl = [int(q0)] + [0] * 63
        else:
            coef = dct @ (blk.astype(np.float64) - 128.0) @ dct.T
            qb = _jpeg_quantize(coef, qtab)
            zzl = qb.ravel()[_jzz_pos()].tolist()
        diff = zzl[0] - pred
        pred = zzl[0]
        t = _jpeg_category(diff)
        code, length = dcmap[t]
        bw.write(code, length)
        if t:
            bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
        run = 0
        last = 63
        while last > 0 and zzl[last] == 0:
            last -= 1
        for k in range(1, last + 1):
            v = zzl[k]
            if v == 0:
                run += 1
                continue
            while run >= 16:
                code, length = acmap[0xF0]
                bw.write(code, length)
                run -= 16
            s = _jpeg_category(v)
            code, length = acmap[(run << 4) | s]
            bw.write(code, length)
            bw.write(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if last < 63:
            code, length = acmap[0x00]
            bw.write(code, length)
    return pred


def _jpeg_padded(plane, w: int, h: int):
    """Edge-replicated padding of an (h, w) plane to multiples of 8."""
    import numpy as np

    H, W = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.empty((H, W), np.int32)
    padded[:h, :w] = plane
    if W > w:
        padded[:h, w:] = plane[:, -1:]
    if H > h:
        padded[h:, :] = padded[h - 1 : h, :]
    return padded


# quant tables, DCT matrix and Annex K Huffman code maps, built once per
# process (fixed module constants; treated read-only by all users)
_ENC_MEMO: dict = {}


def _enc_tables():
    import numpy as np

    t = _ENC_MEMO.get("t")
    if t is None:
        t = (
            np.array(_JQ_LUMA, np.int32).reshape(8, 8),
            np.array(_JQ_CHROMA, np.int32).reshape(8, 8),
            _jpeg_dct_matrix(),
            _huff_codes(*_JH_DC_LUMA),
            _huff_codes(*_JH_AC_LUMA),
            _huff_codes(*_JH_DC_CHROMA),
            _huff_codes(*_JH_AC_CHROMA),
        )
        _ENC_MEMO["t"] = t
    return t


def _seg(marker: int, body: bytes) -> bytes:
    import struct

    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _jpeg_encode(pixels, channels: int) -> bytes:
    """Minimal, standards-correct baseline JPEG writer (stdlib + numpy):
    8-bit grayscale or RGB (no subsampling), Annex K quality-50 quant
    tables, Annex K Huffman tables written to DHT segments.  ``pixels``:
    (h, w*channels) int array."""
    import struct

    import numpy as np

    h, stride = pixels.shape
    w = stride // channels
    ql, qc, dct, dc_l, ac_l, dc_c, ac_c = _enc_tables()

    if channels == 3:
        r = pixels[:, 0::3].astype(np.float64)
        g = pixels[:, 1::3].astype(np.float64)
        b = pixels[:, 2::3].astype(np.float64)
        y = np.clip(np.floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5), 0, 255)
        cb = np.clip(
            np.floor(128 - 0.168736 * r - 0.331264 * g + 0.5 * b + 0.5), 0, 255
        )
        cr = np.clip(
            np.floor(128 + 0.5 * r - 0.418688 * g - 0.081312 * b + 0.5), 0, 255
        )
        planes = [y.astype(np.int32), cb.astype(np.int32), cr.astype(np.int32)]
    else:
        planes = [pixels.astype(np.int32)]

    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    zz_l = bytes(int(ql[r, c]) for r, c in _JZZ)
    zz_c = bytes(int(qc[r, c]) for r, c in _JZZ)
    out += _seg(0xDB, b"\x00" + zz_l)
    if channels == 3:
        out += _seg(0xDB, b"\x01" + zz_c)
    ncomp = 3 if channels == 3 else 1
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])
    out += _seg(0xC0, sof)
    for cls, tid, (bits, vals) in (
        (0, 0, _JH_DC_LUMA),
        (1, 0, _JH_AC_LUMA),
    ) + (((0, 1, _JH_DC_CHROMA), (1, 1, _JH_AC_CHROMA)) if channels == 3 else ()):
        out += _seg(0xC4, bytes([cls << 4 | tid]) + bytes(bits) + bytes(vals))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    out += _seg(0xDA, sos)

    # per plane: pad once, vectorized per-block constancy + top-left value;
    # constant blocks (the overwhelming case for the block-constant
    # fixtures) emit their DC diff + EOB inline with no numpy at all, and
    # only genuinely non-constant blocks pay the FDCT/quantize path
    H, W = -(-h // 8) * 8, -(-w // 8) * 8
    by, bx = H // 8, W // 8
    cinfos = []
    for ci, p in enumerate(planes):
        padded = _jpeg_padded(p, w, h)
        arr = padded.reshape(by, 8, bx, 8)
        cmask = (arr.min(axis=(1, 3)) == arr.max(axis=(1, 3))).ravel().tolist()
        v0s = padded[::8, ::8].ravel().tolist()
        qtab = ql if ci == 0 else qc
        cinfos.append(
            (
                padded,
                cmask,
                v0s,
                qtab,
                int(qtab.flat[0]),
                dc_l if ci == 0 else dc_c,
                ac_l if ci == 0 else ac_c,
            )
        )
    bw = _BitWriter()
    write = bw.write
    preds = [0] * ncomp
    # 1x1 sampling: one MCU = one block of each component, interleaved
    for bi in range(by * bx):
        yb, xb = (bi // bx) * 8, (bi % bx) * 8
        for ci in range(ncomp):
            padded, cmask, v0s, qtab, q00, dcmap, acmap = cinfos[ci]
            if cmask[bi]:
                dc_raw = 8 * (v0s[bi] - 128)
                q0 = ((2 * abs(dc_raw) + q00) // (2 * q00)) * (
                    1 if dc_raw >= 0 else -1
                )
                diff = q0 - preds[ci]
                preds[ci] = q0
                t = _jpeg_category(diff)
                code, length = dcmap[t]
                write(code, length)
                if t:
                    write(diff if diff >= 0 else diff + (1 << t) - 1, t)
                code, length = acmap[0x00]
                write(code, length)  # EOB
            else:
                preds[ci] = _jpeg_encode_plane(
                    [padded[yb : yb + 8, xb : xb + 8]],
                    qtab,
                    dcmap,
                    acmap,
                    bw,
                    preds[ci],
                    dct,
                )
    out += bw.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# 16-bit-peek Huffman decode tables, memoized on the DHT payload
# (bits, vals) bytes so each distinct table builds its 65536-entry array
# once per process — the Annex K tables every fixture carries hit the memo
# from the second image on (heavyweight init once per worker, not per row).
# BOUNDED (r12 ADVICE): each entry is ~2-3 MB of Python ints, and a corpus
# of untrusted JPEGs with per-image custom tables could otherwise bloat a
# worker without limit.  Past the cap the table is built and returned
# UN-memoized — correct, just per-image cost for tables beyond the working
# set (a real corpus reuses a handful of table sets; Annex K is one).
_HUFF_PEEK_MEMO: dict = {}
_HUFF_PEEK_MEMO_MAX = 16


def _huff_peek_table(bits: bytes, vals: bytes):
    """list of 65536 packed ints ((code_length << 8) | symbol; 0 = no code
    of length <= 16 prefixes this 16-bit pattern), indexed by the next 16
    bits of the stream left-aligned."""
    key = (bits, vals)
    tab = _HUFF_PEEK_MEMO.get(key)
    if tab is not None:
        return tab
    codes = _huff_codes(list(bits), list(vals))
    tab = [0] * 65536
    for sym, (code, length) in codes.items():
        lo = code << (16 - length)
        hi = (code + 1) << (16 - length)
        tab[lo:hi] = [(length << 8) | sym] * (hi - lo)
    if len(_HUFF_PEEK_MEMO) < _HUFF_PEEK_MEMO_MAX:
        _HUFF_PEEK_MEMO[key] = tab
    return tab


class _BitReader:
    """Byte-granular bit reader over entropy-coded data with 0xFF00
    unstuffing.  Raises EOFError in exactly the situations the per-bit
    reader did: end of data, or a real marker where a bit is needed."""

    __slots__ = ("data", "pos", "acc", "n", "starts")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0
        self.starts: list[int] = []  # source pos of each buffered byte

    def _load(self) -> bool:
        """Buffer one more byte; False at end-of-data or a marker."""
        data, pos = self.data, self.pos
        if pos >= len(data):
            return False
        b = data[pos]
        start = pos
        pos += 1
        if b == 0xFF:
            if pos >= len(data) or data[pos] != 0x00:
                return False  # marker (or truncated) — do not consume
            pos += 1  # stuffed byte
        self.pos = pos
        self.acc = (self.acc << 8) | b
        self.n += 8
        self.starts.append(start)
        return True

    def read(self, length: int) -> int:
        while self.n < length:
            if not self._load():
                raise EOFError
        self.n -= length
        v = (self.acc >> self.n) & ((1 << length) - 1)
        self.acc &= (1 << self.n) - 1
        if self.n < 8 and self.starts:
            del self.starts[:]
        return v

    def peek16(self) -> tuple[int, int]:
        """(peek, avail): the next up-to-16 bits left-aligned in a 16-bit
        window, zero-padded past end-of-data; avail = how many are real."""
        while self.n < 16:
            if not self._load():
                break
        n = self.n
        if n >= 16:
            return (self.acc >> (n - 16)) & 0xFFFF, 16
        return (self.acc << (16 - n)) & 0xFFFF, n

    def consume(self, length: int) -> None:
        self.n -= length
        self.acc &= (1 << self.n) - 1
        if self.n < 8 and self.starts:
            del self.starts[:]

    def realign(self) -> None:
        """Discard the partial byte and rewind any whole buffered bytes —
        the restart-boundary byte realign (the per-bit reader's ``n = 0``,
        whose acc never held more than one byte)."""
        whole = self.n >> 3
        if whole and self.starts:
            self.pos = self.starts[len(self.starts) - whole]
        self.acc = 0
        self.n = 0
        del self.starts[:]


def _huff_decode(br: _BitReader, table: list) -> int:
    peek, avail = br.peek16()
    e = table[peek]
    if e == 0:
        raise EOFError  # no code of length <= 16 matches
    length = e >> 8
    if length > avail:
        raise EOFError  # the matching code needs bits past a marker/EOF
    br.consume(length)
    return e & 0xFF


def _extend(v: int, t: int) -> int:
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def _jpeg_decode(payload: bytes):
    """Minimal, standards-correct baseline JPEG reader: marker walk, DQT /
    DHT from the stream, SOF0 (baseline sequential only), Huffman entropy
    decode with byte unstuffing and restart-marker handling, dequantize,
    IDCT (exact fast path for DC-only blocks), YCbCr->RGB.  Returns
    (w, h, channels, pixel matrix (h, w*channels) uint8) or None for
    anything out of scope (progressive, arithmetic, subsampled, 12-bit) or
    malformed."""
    import struct

    import numpy as np

    if payload is None or payload[:2] != b"\xff\xd8":
        return None
    qtabs: dict = {}
    htabs: dict = {}
    sof = None
    restart = 0
    pos = 2
    scan = None
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            return None
        marker = payload[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        if marker == 0xD9:
            return None  # EOI before SOS
        if marker in (0x01, *range(0xD0, 0xD8)):
            pos += 2
            continue
        if pos + 4 > len(payload):
            return None
        (seg_len,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4 : pos + 2 + seg_len]
        if len(body) != seg_len - 2:
            return None
        if marker == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                if pq != 0:
                    return None  # 16-bit tables out of scope
                vals = body[i + 1 : i + 65]
                if len(vals) < 64:
                    return None
                tab = np.zeros((8, 8), np.int32)
                for k, (r, c) in enumerate(_JZZ):
                    tab[r, c] = vals[k]
                qtabs[tq] = tab
                i += 65
        elif marker == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i + 17 <= len(body):
                cls, tid = body[i] >> 4, body[i] & 15
                bits = bytes(body[i + 1 : i + 17])
                nval = sum(bits)
                vals = bytes(body[i + 17 : i + 17 + nval])
                if len(vals) < nval:
                    return None
                htabs[(cls, tid)] = _huff_peek_table(bits, vals)
                i += 17 + nval
        elif marker == 0xC0 or marker == 0xC1:  # baseline / extended sequential
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8 or nc not in (1, 3):
                return None
            comps = []
            for ci in range(nc):
                cid, samp, tq = body[6 + ci * 3 : 9 + ci * 3]
                if samp != 0x11:
                    return None  # subsampling out of scope
                comps.append((cid, tq))
            sof = (w, h, comps)
        elif 0xC2 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            return None  # progressive / arithmetic / lossless out of scope
        elif marker == 0xDD:  # DRI
            (restart,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            ns = body[0]
            stabs = []
            for ci in range(ns):
                cid, tt = body[1 + ci * 2], body[2 + ci * 2]
                stabs.append((cid, tt >> 4, tt & 15))
            scan = (stabs, pos + 2 + seg_len)
            break
        pos += 2 + seg_len
    if sof is None or scan is None:
        return None
    w, h, comps = sof
    stabs, data_start = scan
    if len(stabs) != len(comps):
        return None

    # entropy-coded data runs to the next real marker (skip stuffed FF00
    # and RSTn)
    data = payload[data_start:]
    dct = _jpeg_dct_matrix()
    bx, by = -(-w // 8), -(-h // 8)
    nmcu = bx * by
    planes = [np.zeros((by * 8, bx * 8), np.uint8) for _ in comps]
    preds = [0] * len(comps)
    br = _BitReader(data)
    # per-component (dc table, ac table, qt[0,0], flat qt) resolved once
    ctabs = []
    for (cid, tq), (scid, td, ta) in zip(comps, stabs):
        if cid != scid or tq not in qtabs:
            return None
        dctab = htabs.get((0, td))
        actab = htabs.get((1, ta))
        if dctab is None or actab is None:
            return None
        qt = qtabs[tq]
        ctabs.append((dctab, actab, int(qt[0, 0]), qt.ravel().astype(np.int64)))
    jzz = _jzz_pos()
    try:
        for mi in range(nmcu):
            if restart and mi and mi % restart == 0:
                # realign to byte boundary, expect RSTn, reset predictors
                br.realign()
                while br.pos + 1 < len(br.data) and br.data[br.pos] == 0xFF and (
                    0xD0 <= br.data[br.pos + 1] <= 0xD7
                ):
                    br.pos += 2
                    break
                preds = [0] * len(comps)
            my, mx = mi // bx, mi % bx
            ys, xs = my * 8, mx * 8
            for ci, (dctab, actab, qt00, qt_flat) in enumerate(ctabs):
                t = _huff_decode(br, dctab)
                diff = _extend(br.read(t), t) if t else 0
                preds[ci] += diff
                dc = preds[ci]
                ks: list = []
                vs: list = []
                k = 1
                while k < 64:
                    sym = _huff_decode(br, actab)
                    if sym == 0x00:
                        break
                    if sym == 0xF0:
                        k += 16
                        continue
                    k += sym >> 4
                    s = sym & 15
                    if k > 63 or s == 0:
                        return None
                    vs.append(_extend(br.read(s), s))
                    ks.append(k)
                    k += 1
                dc_only = not ks
                if ks:
                    deq = np.zeros(64, np.int64)
                    deq[0] = dc * qt00
                    idx = jzz[ks]
                    deq[idx] = np.array(vs, np.int64) * qt_flat[idx]
                    # a zero quant entry can dequantize every AC to 0: keep
                    # the original's post-dequant DC-only test exactly
                    dc_only = not deq[1:].any()
                if dc_only:
                    # DC-only: exact constant block (libjpeg-style fast path;
                    # /8.0 is a power-of-two division -> exact in double)
                    val = np.floor(int(dc * qt00) / 8.0 + 128 + 0.5)
                    planes[ci][ys : ys + 8, xs : xs + 8] = int(
                        min(255.0, max(0.0, val))
                    )
                else:
                    spat = dct.T @ deq.reshape(8, 8).astype(np.float64) @ dct
                    planes[ci][ys : ys + 8, xs : xs + 8] = np.clip(
                        np.floor(spat + 128 + 0.5), 0, 255
                    ).astype(np.uint8)
    except EOFError:
        return None
    planes = [p[:h, :w] for p in planes]
    if len(comps) == 1:
        return w, h, 1, planes[0].reshape(h, w)
    yp = planes[0].astype(np.float64)
    cbp = planes[1].astype(np.float64)
    crp = planes[2].astype(np.float64)
    r = np.clip(np.floor(yp + 1.402 * (crp - 128) + 0.5), 0, 255)
    g = np.clip(
        np.floor(yp - 0.344136 * (cbp - 128) - 0.714136 * (crp - 128) + 0.5), 0, 255
    )
    b = np.clip(np.floor(yp + 1.772 * (cbp - 128) + 0.5), 0, 255)
    out = np.empty((h, w * 3), np.uint8)
    out[:, 0::3] = r
    out[:, 1::3] = g
    out[:, 2::3] = b
    return w, h, 3, out


def synth_jpeg(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic baseline-JPEG fixture generator (real encoder).  Per
    id d: width 16 (d even) / 8 (odd); height 8 (d%3==0) / 16; grayscale
    when d%5==0 else RGB.  Pixels are BLOCK-CONSTANT, with the left and
    right 8x8 block columns (w=16) carrying different colors — so the
    entropy stream exercises nonzero and negative DC differentials while
    every reconstructed value keeps the closed form the
    multimodal_jpeg_decode oracle states (constant-block FDCT/IDCT are
    exact; see the codec header comment)."""
    import numpy as np

    def row(d):
        w = 16 if d % 2 == 0 else 8
        h = 8 if d % 3 == 0 else 16
        if d % 5 == 0:
            ch = 1
            a = d % 256
            b = (9 * d + 77) % 256
            px = np.full((h, w), a, np.int32)
            if w == 16:
                px[:, 8:] = b
        else:
            ch = 3
            ca = (d % 256, (3 * d + 17) % 256, (7 * d + 31) % 256)
            cb_ = ((5 * d + 101) % 256, (13 * d + 7) % 256, (11 * d + 29) % 256)
            px = np.zeros((h, w * 3), np.int32)
            for i in range(3):
                px[:, i::3] = ca[i]
                if w == 16:
                    px[:, 24 + i :: 3] = cb_[i]
        yield d, _jpeg_encode(px, ch)

    out_schema = ST.StructType(
        [
            ST.StructField(id_col, ST.LongType()),
            ST.StructField("payload", ST.BinaryType()),
        ]
    )
    return per_row(df, [id_col], row, out_schema)


def synth_mjpeg(
    df: DataFrame, id_col: str, n_frames: int = 12, every_n: int = 4
) -> DataFrame:
    """Deterministic MJPEG-style video fixture (REAL encoder): per id d, a
    video that is the concatenation of ``n_frames`` baseline JPEGs — each
    frame a 72x64 grayscale image, block-constant per 8x8 JPEG block (so
    the constant-block FDCT/IDCT roundtrip is exact and the decoded frame
    is bit-identical to the source grid), with block (j, i) = first md5
    byte of 'vd:g:t:j:i' for video class g = d % 64 and frame index t.
    Two cells are pinned so the dHash downstream has a closed form: cell
    (0, 0) is 0 on a base frame and 255 on a modified one, cell (0, 1) is
    always 128 — so modifying a frame flips dHash bit (0, 0) EXACTLY
    (0 < 128 vs 255 < 128), a guaranteed Hamming distance of 1 (the PNG
    fixture's '<= 2 bits' hedge, tightened to an equality the pair-level
    oracle can state).  Variant v = (d // 64) % 4 > 0 modifies exactly one
    SAMPLED frame, t = every_n * (v - 1): ids sharing (g, v) are
    byte-identical; v=0 vs v>0 differ in one keyframe's single bit; two
    nonzero variants differ in two keyframes, one bit each."""
    return _synth_video(df, id_col, n_frames, every_n, lambda fs: b"".join(fs))


def _video_frame_grid(g: int, t: int, modified: bool):
    """The 9x8 block-value grid of video class (g, t) — the ONE copy of the
    closed-form frame semantics shared by the MJPEG and AVI fixtures (and
    stated verbatim by their oracles)."""
    import hashlib

    import numpy as np

    grid = np.empty((8, 9), np.int32)
    for j in range(8):
        for i in range(9):
            grid[j, i] = int(
                hashlib.md5(f"vd:{g}:{t}:{j}:{i}".encode()).hexdigest()[:2],
                16,
            )
    grid[0, 0] = 255 if modified else 0
    grid[0, 1] = 128
    return grid


def _video_frame_jpegs(g: int, v: int, n_frames: int, every_n: int):
    """The class's frame list as real baseline JPEGs (one modified frame at
    sampled position ``every_n * (v - 1)`` for variants v > 0)."""
    import numpy as np

    frames = []
    for t in range(n_frames):
        mod = v > 0 and t == every_n * (v - 1)
        px = np.repeat(
            np.repeat(_video_frame_grid(g, t, mod), 8, axis=0), 8, axis=1
        )
        frames.append(_jpeg_encode(px.astype(np.int32), 1))
    return frames


def _synth_video(df, id_col, n_frames, every_n, container):
    """Shared synth kernel for the video fixtures: per (class, variant) the
    frame JPEGs are generated once and wrapped by ``container`` (bare
    concatenation for MJPEG, the RIFF/AVI writer for AVI)."""
    cache: dict = {}  # per task (see rowstage.per_row)

    def row(d):
        g, v = d % 64, (d // 64) % 4
        payload = cache.get((g, v))
        if payload is None:
            payload = cache[(g, v)] = container(
                _video_frame_jpegs(g, v, n_frames, every_n)
            )
        yield d, payload

    out_schema = ST.StructType(
        [
            ST.StructField(id_col, ST.LongType()),
            ST.StructField("payload", ST.BinaryType()),
        ]
    )
    return per_row(df, [id_col], row, out_schema)


def _avi_container(frames, w: int = 72, h: int = 64, fps: int = 8) -> bytes:
    """Minimal, standards-shaped AVI/RIFF writer (pure ``struct``): RIFF
    'AVI ' form with a LIST hdrl (avih MainAVIHeader + LIST strl holding a
    'vids'/'MJPG' AVIStreamHeader and a BITMAPINFOHEADER strf), a LIST
    movi of one '00dc' chunk per frame, and a trailing idx1 index — the
    layout every AVI reader walks.  Odd-size chunk bodies get the RIFF
    pad byte, so a consumer must honor the chunk discipline, not just
    scan for JPEG magics."""
    import struct

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    maxb = max(len(f) for f in frames)
    avih = struct.pack(
        "<14I", 1_000_000 // fps, maxb * fps, 0, 0x10, len(frames), 0, 1,
        maxb, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4h", b"vids", b"MJPG", 0, 0, 0, 0, 1, fps, 0,
        len(frames), maxb, 0, 0, 0, 0, w, h,
    )
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0)
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_body, idx, off = [], [], 4  # idx1 offsets count from the movi fourcc
    for f in frames:
        c = chunk(b"00dc", f)
        idx.append(struct.pack("<4sIII", b"00dc", 0x10, off, len(f)))
        off += len(c)
        movi_body.append(c)
    body = (
        b"AVI " + hdrl + lst(b"movi", b"".join(movi_body))
        + chunk(b"idx1", b"".join(idx))
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def synth_avi_mjpeg(
    df: DataFrame, id_col: str, n_frames: int = 12, every_n: int = 4
) -> DataFrame:
    """Deterministic AVI video fixture (REAL container + REAL codec): the
    same closed-form baseline-JPEG frames as ``synth_mjpeg`` — identical
    class/variant/dHash semantics, so the pair-level oracle carries over
    verbatim — wrapped in a real RIFF/AVI container (``_avi_container``)
    instead of bare concatenation.  This is the video analogue of the
    WAV fixture's junk-LIST chunk: a consumer must walk the RIFF chunk
    structure (hdrl, movi, idx1, pad bytes) to find the frame bytes."""
    return _synth_video(df, id_col, n_frames, every_n, _avi_container)


def _avi_mjpeg_frames(payload: bytes):
    """Extract the MJPEG frame byte slices from an AVI/RIFF payload by
    walking the chunk tree with the SAME ``_riff_chunks`` walker the WAV
    parser uses: top-level chunks -> LIST 'movi' -> '..dc'/'..db' video
    chunks.  Returns the frame list, or None for anything that is not a
    RIFF AVI form (the caller degrades to NULL fingerprints)."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        return None
    frames = []
    for cid, off, n in _riff_chunks(payload, 12, len(payload)):
        if cid == b"LIST" and n >= 4 and payload[off : off + 4] == b"movi":
            for scid, soff, sn in _riff_chunks(payload, off + 4, off + n):
                if scid[2:4] in (b"dc", b"db"):
                    frames.append(payload[soff : soff + sn])
    return frames or None


def _mjpeg_split(payload: bytes):
    """Split a concatenated-baseline-JPEG (MJPEG-style) payload into its
    frames by walking JPEG markers — NOT by byte-scanning for EOI:
    header-segment lengths skip table bodies (where a stray FFD9 byte may
    legally occur), and the post-SOS entropy stream is FF-stuffed by the
    standard, so the first FF followed by neither 00 nor RSTn is the
    frame's closing marker.  Returns the list of frame byte slices, or
    None if the payload is not a clean frame concatenation."""
    frames = []
    pos, n = 0, len(payload)
    while pos < n:
        if payload[pos : pos + 2] != b"\xff\xd8":
            return None
        start, p, end = pos, pos + 2, None
        while p + 2 <= n:
            if payload[p] != 0xFF:
                return None
            marker = payload[p + 1]
            if marker == 0xFF:
                p += 1
                continue
            if marker == 0x01 or 0xD0 <= marker <= 0xD7:
                p += 2
                continue
            if marker == 0xD9:  # EOI before SOS: degenerate but delimited
                end = p + 2
                break
            if p + 4 > n:
                return None
            seg_len = int.from_bytes(payload[p + 2 : p + 4], "big")
            if marker == 0xDA:  # SOS: entropy runs to the next real marker
                q = p + 2 + seg_len
                while q + 1 < n:
                    nxt = payload[q + 1]
                    if payload[q] == 0xFF and nxt != 0x00 and not (
                        0xD0 <= nxt <= 0xD7
                    ):
                        break
                    q += 1
                if q + 1 >= n or payload[q + 1] != 0xD9:
                    return None
                end = q + 2
                break
            p += 2 + seg_len
        if end is None:
            return None
        frames.append(payload[start:end])
        pos = end
    return frames


def mjpeg_keyframes(
    df: DataFrame, payload_col: str, id_col: str, every_n: int = 4
) -> DataFrame:
    """MJPEG keyframe extraction with REAL codec decode — the video leg of
    the perceptual-fingerprint family: split the payload into frames on
    the JPEG marker walk (``_mjpeg_split``), keep every Nth frame, run the
    full baseline decode (``_jpeg_decode`` — stream-defined Huffman
    tables, entropy decode, dequantize, IDCT) on each kept frame, and
    fingerprint it with the SAME 64-bit dHash the image family uses
    (``_dhash64_from_px``).  Output: one ``(id, frame_no, fp)`` row per
    sampled frame — 8 bytes/keyframe leave the kernel, the video payload
    never shuffles.  Malformed payloads or undecodable frames yield NULL
    fingerprints, never wrong ones."""
    return _codec_keyframes(df, payload_col, id_col, every_n, _mjpeg_split)


def avi_keyframes(
    df: DataFrame, payload_col: str, id_col: str, every_n: int = 4
) -> DataFrame:
    """AVI keyframe extraction with REAL container + REAL codec decode: the
    RIFF chunk walk (``_avi_mjpeg_frames`` — LIST/movi/00dc discipline,
    shared ``_riff_chunks`` walker with the WAV parser) finds the frame
    bytes, then the same every-Nth sampling + full baseline-JPEG decode +
    64-bit dHash as ``mjpeg_keyframes``.  Same output contract: one
    ``(id, frame_no, fp)`` row per sampled frame, 8 bytes/keyframe leave
    the kernel, payloads never shuffle, malformed payloads yield NULLs."""
    return _codec_keyframes(df, payload_col, id_col, every_n, _avi_mjpeg_frames)


def _codec_keyframes(df, payload_col, id_col, every_n, splitter):
    """Shared keyframe kernel: ``splitter`` turns the payload into frame
    byte slices (JPEG marker walk or RIFF chunk walk); every Nth frame is
    fully decoded and dHashed.

    Per-task decode memo (r13, guide §4.5): decode+dHash is a pure function
    of the frame BYTES, and duplicate videos (the very thing these queries
    detect) carry byte-identical frames — so each task memoizes fp by frame
    bytes and a duplicate-heavy corpus decodes each distinct frame once per
    task instead of once per occurrence.  Bounded by the bytes it holds
    (``DecodeMemo``; worst case a corpus of all-distinct frames just
    misses), keyed on the exact bytes (no hash collisions), and scoped to
    the task — nothing persists across runs."""

    def _jpeg_fp(frame: bytes):
        parsed = _jpeg_decode(frame)
        return _dhash64_from_px(*parsed) if parsed is not None else None

    fp = DecodeMemo(_jpeg_fp)

    def row(i, payload):
        frames = None if payload is None else splitter(payload)
        if frames is None:
            yield i, None, None
            return
        for t in range(0, len(frames), every_n):
            yield i, t, fp(frames[t])

    out_schema = ST.StructType(
        [
            ST.StructField(id_col, ST.LongType()),
            ST.StructField("frame_no", ST.IntegerType(), True),
            ST.StructField("fp", ST.LongType(), True),
        ]
    )
    return per_row(df, [id_col, payload_col], row, out_schema)


def decode_jpeg_features(df: DataFrame, payload_col: str, id_col: str) -> DataFrame:
    """REAL JPEG decode kernel (the last multimodal dims-only gap, closed):
    full baseline decode — marker walk, stream-defined Huffman tables,
    entropy decode, dequantize, IDCT, color transform — then per-channel
    means by exact integer sum / count.  Streams the codec cannot decode
    (progressive, subsampled) yield NULL features, never wrong ones.  Same
    narrow Arrow-batched plan as the PNG/WAV kernels; payloads never
    shuffle."""

    def row(i, payload):
        parsed = _jpeg_decode(payload)
        if parsed is None:
            yield (i,) + (None,) * 7
            return
        w, h, ch, px = parsed
        yield (i, w, h, ch, 8, *_rgb_means(w, h, ch, px))

    out_schema = ST.StructType(
        [ST.StructField(id_col, ST.LongType())] + list(PNG_FEATURES_SCHEMA.fields)
    )
    return per_row(df, [id_col, payload_col], row, out_schema)


WAV_TRIM_SCHEMA = ST.StructType(
    [
        ST.StructField("n_samples", ST.IntegerType(), True),
        ST.StructField("lead_silence", ST.IntegerType(), True),
        ST.StructField("trail_silence", ST.IntegerType(), True),
        ST.StructField("trimmed_ms", ST.DoubleType(), True),
    ]
)


def trim_wav_silence(df: DataFrame, payload_col: str, id_col: str) -> DataFrame:
    """Leading/trailing-silence measurement over PCM16 WAV payloads — the
    preprocessing trim every audio-training pipeline runs before feature
    extraction.  Counts exact-zero samples at each end (mono; the synth
    fixture's wave is never zero, so the boundary is unambiguous) and
    reports the trimmed duration.  Same parse as decode_wav_features;
    malformed payloads yield NULLs."""
    import numpy as np

    def parse(payload: bytes):
        parsed = _wav_pcm16_parse(payload)
        if parsed is None or parsed[1] != 1:
            return (None,) * 4
        rate, _ch, s = parsed
        n = len(s)
        nz = np.nonzero(s)[0]
        if len(nz) == 0:
            lead, trail = n, 0  # all-silent: trim everything from the front
        else:
            lead = int(nz[0])
            trail = n - 1 - int(nz[-1])
        kept = n - lead - trail
        return (n, lead, trail, float(kept) / rate * 1000.0)

    def row(i, payload):
        yield (i, *parse(payload))

    out_schema = ST.StructType(
        [ST.StructField(id_col, ST.LongType())] + list(WAV_TRIM_SCHEMA.fields)
    )
    return per_row(df, [id_col, payload_col], row, out_schema)


def synth_wav_stepped(
    df: DataFrame,
    id_col: str,
    n_windows: int = 8,
    win: int = 128,
    rate: int = 8000,
) -> DataFrame:
    """Deterministic stepped-amplitude WAV fixture: window ``w`` (of
    ``n_windows``, each ``win`` samples) is a square wave alternating
    ±(id % 500 + 1 + w), so every window's RMS and peak have the closed
    form ``id % 500 + 1 + w`` — the fixture for windowed audio features
    (energy contours, VAD).  Same RIFF structure as synth_wav_pcm16,
    including the junk LIST chunk a parser must skip."""
    import struct

    def row(i):
        base = i % 500 + 1
        frames = b"".join(
            struct.pack("<h", (base + w) if k % 2 == 0 else -(base + w))
            for w in range(n_windows)
            for k in range(win)
        )
        yield i, _wav_pcm16_bytes(frames, rate)

    out_schema = ST.StructType(
        [
            ST.StructField(id_col, ST.LongType(), False),
            ST.StructField("payload", ST.BinaryType(), False),
        ]
    )
    return per_row(df, [id_col], row, out_schema)


def wav_rms_windows(
    df: DataFrame, payload_col: str, id_col: str, win: int = 128
) -> DataFrame:
    """Windowed audio energy: decode PCM16 and emit per-window RMS/peak
    over fixed ``win``-sample windows (the energy-contour / VAD front
    end).  RMS of an integer square wave is exact in IEEE (integer
    squares sum exactly, the window length is a power of two, sqrt of a
    perfect square is exact), so the closed-form oracle holds bit-for-bit.
    Malformed payloads yield no rows for that id (skip quarantine)."""
    import numpy as np

    def row(i, payload):
        parsed = _wav_pcm16_parse(payload)
        if parsed is None or parsed[1] != 1:
            return
        s = parsed[2]
        for w in range(len(s) // win):
            x = s[w * win:(w + 1) * win].astype(np.float64)
            yield i, w, win, float(np.sqrt(np.mean(x * x))), int(np.max(np.abs(x)))

    out_schema = ST.StructType(
        [
            ST.StructField(id_col, ST.LongType(), False),
            ST.StructField("window_id", ST.IntegerType(), False),
            ST.StructField("n_samples", ST.IntegerType(), False),
            ST.StructField("rms", ST.DoubleType(), False),
            ST.StructField("peak", ST.IntegerType(), False),
        ]
    )
    return per_row(df, [id_col, payload_col], row, out_schema)
