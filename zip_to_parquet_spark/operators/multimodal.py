"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The engine's multimodal model (per the reference's body:binary column,
SURVEY §1.1, generalized): media travels as a ``binary`` column beside a
typed metadata struct; decode / feature-extract run as Arrow-batched
pandas iterators over ``mapInPandas`` so each executor processes whole
record batches without per-row Python overhead.

The codecs are REAL where the stdlib can express them: ``decode_media``
dispatches by mime to a hand-rolled PNG decoder (zlib + struct — chunk
walk, CRC verify, defilter) and the stdlib RIFF/WAVE parser. Only video
frame *selection* is byte-range-based (``sample_frames``): the container
ships no video codec, so the sampler picks deterministic byte offsets
where a real deployment would seek keyframes with av/ffmpeg.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "attach_media_metadata",
    "decode_media",
    "sample_frames",
    "synth_wav",
    "audio_features",
    "synth_png",
    "png_features",
    "png_resize_features",
    "MEDIA_FEATURE_SCHEMA",
    "FRAME_SCHEMA",
    "AUDIO_FEATURE_SCHEMA",
    "PNG_FEATURE_SCHEMA",
    "synth_mp4",
    "mp4_meta",
    "MP4_META_SCHEMA",
]

_MIME_BY_MOD = ["image/png", "audio/wav", "video/mp4"]

MEDIA_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_pixels", LongType()),
        StructField("px_sum", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("duration_ms", LongType()),
    ]
)


def attach_media_metadata(df: DataFrame) -> DataFrame:
    """Build the canonical multimodal frame from a ``(doc_id, text)``
    table: payload = UTF-8 bytes (deterministic stand-in for real media
    bytes), mime cycled by id. All Catalyst expressions."""
    return df.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.element_at(
            F.array(*[F.lit(m) for m in _MIME_BY_MOD]),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("mime"),
    )


def decode_media(df: DataFrame, on_error: str = "fail") -> DataFrame:
    """REAL mime-dispatched media decode via mapInPandas: ``image/png``
    payloads go through the stdlib PNG decoder below (chunk walk, CRC
    verify, inflate, all-five-filter defilter), ``audio/wav`` through the
    stdlib RIFF/WAVE parser. Each mime fills its own feature columns and
    leaves the other family NULL — one unified frame for mixed-media
    corpora.

    Arrow-batched, partition-parallel, no shuffle — the 100 TB shape for
    media feature extraction; a PIL/librosa/ffmpeg deployment swaps the
    codec calls and keeps every line of the Spark plumbing.

    ``on_error`` (zip-source contract): ``fail`` aborts on a malformed or
    unsupported payload, ``skip`` drops its row, ``null`` keeps the row
    with null feature columns.
    """
    if on_error not in ("fail", "skip", "null"):
        raise ValueError(f"on_error must be fail|skip|null, got {on_error!r}")

    def extract(batches: Iterator) -> Iterator:
        import io
        import wave as wavmod

        import numpy as np
        import pandas as pd

        nulls = (None, None, None, None, None, None, None)

        def one(mime: str, b: bytes):
            if mime == "image/png":
                w, h, _, _, img = _decode_png(b)
                return (
                    w, h, w * h, int(img.astype(np.int64).sum()),
                    None, None, None,
                )
            if mime == "audio/wav":
                with wavmod.open(io.BytesIO(b), "rb") as wv:
                    sr = wv.getframerate()
                    nf = wv.getnframes()
                    return (None, None, None, None, sr, nf, nf * 1000 // sr)
            raise ValueError(f"no decoder for mime {mime!r}")

        for pdf in batches:
            rows = []
            for doc_id, mime, b in zip(pdf["doc_id"], pdf["mime"], pdf["payload"]):
                try:
                    rows.append((int(doc_id), mime) + one(mime, bytes(b)))
                except Exception:
                    if on_error == "fail":
                        raise
                    if on_error == "null":
                        rows.append((int(doc_id), mime) + nulls)
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_FEATURE_SCHEMA])

    return df.mapInPandas(extract, schema=MEDIA_FEATURE_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_offset", LongType()),
        StructField("frame_bytes", LongType()),
    ]
)


def sample_frames(df: DataFrame) -> DataFrame:
    """Frame sampling: the one-to-many multimodal shape (one video payload
    → k frame rows) via mapInPandas.

    Deterministic byte-range sampler: k = 1 + byte_len mod 4 evenly-spaced
    offsets (a real implementation seeks keyframes with av/ffmpeg at the
    marked spot — the container has no video codec, so the sampler works
    on byte ranges). Chosen to be a pure function of byte length so the
    whole operator — including the fan-out — is SQL-oracle-checkable; the
    plumbing (Arrow batches, iterator-of-frames output, no shuffle) is the
    production shape.
    """

    def frames(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                n = len(b)
                k = 1 + n % 4
                step = n // k
                for idx in range(k):
                    out.append((doc_id, idx, idx * step, step))
            yield pd.DataFrame(
                out, columns=["doc_id", "frame_idx", "frame_offset", "frame_bytes"]
            )

    return df.mapInPandas(frames, schema=FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Real audio path: PCM WAV is decodable with the stdlib alone, so unlike the
# image/video stubs above this is a genuine encode → container → parse →
# feature-extract round trip, exercising the exact seam a soundfile/librosa
# deployment would use.
# ---------------------------------------------------------------------------

AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("duration_ms", LongType()),
        StructField("rms", DoubleType()),
        StructField("zcr", DoubleType()),
    ]
)


def _wav_params(doc_id: int) -> tuple[int, int, int]:
    """(sample_rate, n_samples, freq_hz) as a pure function of doc_id —
    what makes the round trip SQL-oracle-checkable: the oracle predicts
    the embedded parameters, the engine must RECOVER them by genuinely
    parsing the RIFF/WAVE container it produced."""
    sample_rate = 8000
    n_samples = 800 + (doc_id % 100) * 8
    freq = 200 + (doc_id % 10) * 40
    return sample_rate, n_samples, freq


def synth_wav(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload) with payload = a real RIFF/WAVE file: 16-bit mono
    PCM sine wave whose parameters derive from doc_id (_wav_params).
    stdlib ``wave`` writer inside mapInPandas — deterministic bytes."""

    def gen(batches: Iterator) -> Iterator:
        import io
        import wave as wavmod

        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = []
            for doc_id in pdf[id_col]:
                sr, n, freq = _wav_params(int(doc_id))
                t = np.arange(n, dtype=np.float64) / sr
                pcm = (12000.0 * np.sin(2 * np.pi * freq * t)).astype(np.int16)
                buf = io.BytesIO()
                with wavmod.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(sr)
                    w.writeframes(pcm.tobytes())
                payloads.append(buf.getvalue())
            yield pd.DataFrame({"doc_id": pdf[id_col], "payload": payloads})

    return df.mapInPandas(
        gen,
        schema=StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


def audio_features(
    df: DataFrame, payload_col: str = "payload", on_error: str = "fail"
) -> DataFrame:
    """REAL audio decode: parse each payload as a RIFF/WAVE container
    (stdlib ``wave``), recover channel count / sample rate / frame count,
    and compute signal features (RMS, zero-crossing rate) from the decoded
    16-bit PCM samples with numpy. Arrow-batched mapInPandas, map-only —
    the same 100 TB shape as decode_media, but nothing is faked.

    ``on_error`` (zip-source contract): ``fail`` aborts on a malformed
    payload, ``skip`` drops its row, ``null`` keeps the row with null
    feature columns. At corpus scale one corrupt file must not kill the
    job — skip/null are the production modes, fail is the debugging one."""
    if on_error not in ("fail", "skip", "null"):
        raise ValueError(f"on_error must be fail|skip|null, got {on_error!r}")

    def extract(batches: Iterator) -> Iterator:
        import io
        import wave as wavmod

        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, b in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    with wavmod.open(io.BytesIO(bytes(b)), "rb") as w:
                        nch = w.getnchannels()
                        sr = w.getframerate()
                        nf = w.getnframes()
                        raw = w.readframes(nf)
                except Exception:
                    if on_error == "fail":
                        raise
                    if on_error == "null":
                        rows.append(
                            (int(doc_id), None, None, None, None, None, None)
                        )
                    continue
                pcm = np.frombuffer(raw, dtype=np.int16).astype(np.float64)
                if nch > 1:
                    pcm = pcm.reshape(-1, nch).mean(axis=1)
                rms = float(np.sqrt((pcm**2).mean())) if pcm.size else 0.0
                zc = (
                    float(np.mean(np.signbit(pcm[1:]) != np.signbit(pcm[:-1])))
                    if pcm.size > 1
                    else 0.0
                )
                rows.append(
                    (int(doc_id), nch, sr, nf, nf * 1000 // sr, rms, zc)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_channels", "sample_rate", "n_samples",
                    "duration_ms", "rms", "zcr",
                ],
            )

    return df.mapInPandas(extract, schema=AUDIO_FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# Real image path: PNG is decodable with the stdlib alone (zlib + struct), so
# like the WAV path this is a genuine encode → container → parse → defilter →
# feature-extract round trip. The encoder cycles all five PNG scanline filter
# types (None/Sub/Up/Average/Paeth), so a "decoder" that skips defiltering —
# or only handles filter 0 — produces the wrong pixel sum and fails the
# oracle. This is the exact seam a PIL/OpenCV deployment would occupy.
# ---------------------------------------------------------------------------

PNG_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("bit_depth", IntegerType()),
        StructField("color_type", IntegerType()),
        StructField("n_pixels", LongType()),
        StructField("px_sum", LongType()),
    ]
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_params(doc_id: int) -> tuple[int, int]:
    """(width, height) as a pure function of doc_id — SQL-expressible so
    the oracle can predict the embedded dimensions AND recompute the exact
    pixel sum of the generative gradient from first principles."""
    return 8 + doc_id % 25, 8 + (doc_id % 7) * 3


def _png_pixels(doc_id: int, width: int, height: int):
    """Grayscale gradient pixel(x, y) = (x + 2y + doc_id) mod 251. The
    prime modulus keeps rows from repeating with a byte-aligned period, so
    filtered scanlines differ from raw ones and defiltering is load-bearing."""
    import numpy as np

    xs = np.arange(width, dtype=np.int64)
    ys = np.arange(height, dtype=np.int64)
    return ((xs[None, :] + 2 * ys[:, None] + doc_id) % 251).astype(np.uint8)


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _encode_png(img) -> bytes:
    """Minimal standards-conforming PNG encoder: 8-bit grayscale, one IDAT,
    per-row filter type = row mod 5 (exercises None/Sub/Up/Average/Paeth)."""
    import struct
    import zlib

    import numpy as np

    h, w = img.shape
    raw = bytearray()
    prev = np.zeros(w, dtype=np.int64)
    for y in range(h):
        row = img[y].astype(np.int64)
        ft = y % 5
        if ft == 0:
            filt = row
        elif ft == 1:  # Sub: subtract left neighbor
            filt = row - np.concatenate(([0], row[:-1]))
        elif ft == 2:  # Up: subtract pixel above
            filt = row - prev
        elif ft == 3:  # Average of left and above
            filt = row - (np.concatenate(([0], row[:-1])) + prev) // 2
        else:  # Paeth predictor (left, above, above-left)
            filt = np.empty(w, dtype=np.int64)
            for x in range(w):
                a = int(row[x - 1]) if x else 0
                b = int(prev[x])
                c = int(prev[x - 1]) if x else 0
                filt[x] = int(row[x]) - _paeth(a, b, c)
        raw.append(ft)
        raw.extend((filt % 256).astype(np.uint8).tobytes())
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def _decode_png(data: bytes):
    """Real PNG decoder for 8-bit grayscale: walks the chunk stream
    (verifying CRCs), inflates the concatenated IDATs, and reverses all
    five scanline filters. Returns (width, height, bit_depth, color_type,
    image ndarray)."""
    import struct
    import zlib

    import numpy as np

    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos, idat, ihdr = 8, bytearray(), None
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, bit_depth, color_type, _, _, interlace = ihdr
    if (bit_depth, color_type, interlace) != (8, 0, 0):
        raise ValueError("decoder supports 8-bit non-interlaced grayscale only")
    raw = zlib.decompress(bytes(idat))
    if len(raw) != h * (w + 1):
        raise ValueError("PNG IDAT length mismatch")
    img = np.zeros((h, w), dtype=np.int64)
    prev = np.zeros(w, dtype=np.int64)
    for y in range(h):
        ft = raw[y * (w + 1)]
        filt = np.frombuffer(raw, np.uint8, w, y * (w + 1) + 1).astype(np.int64)
        if ft == 0:
            row = filt
        elif ft == 1:  # Sub: cumulative sum restores left-neighbor chain
            row = np.cumsum(filt) % 256
        elif ft == 2:
            row = (filt + prev) % 256
        elif ft == 3:
            row = np.empty(w, dtype=np.int64)
            left = 0
            for x in range(w):
                left = (filt[x] + (left + prev[x]) // 2) % 256
                row[x] = left
        elif ft == 4:
            row = np.empty(w, dtype=np.int64)
            for x in range(w):
                a = int(row[x - 1]) if x else 0
                c = int(prev[x - 1]) if x else 0
                row[x] = (filt[x] + _paeth(a, int(prev[x]), c)) % 256
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        img[y] = row
        prev = row
    return w, h, bit_depth, color_type, img.astype(np.uint8)


def synth_png(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload) with payload = a real PNG file: 8-bit grayscale
    gradient whose dimensions and pixels derive from doc_id (_png_params /
    _png_pixels). Arrow-batched mapInPandas, deterministic bytes."""

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            payloads = []
            for doc_id in pdf[id_col]:
                w, h = _png_params(int(doc_id))
                payloads.append(_encode_png(_png_pixels(int(doc_id), w, h)))
            yield pd.DataFrame({"doc_id": pdf[id_col], "payload": payloads})

    return df.mapInPandas(
        gen,
        schema=StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


def png_features(
    df: DataFrame, payload_col: str = "payload", on_error: str = "fail"
) -> DataFrame:
    """REAL image decode: parse each payload as a PNG (chunk walk + CRC
    check + zlib inflate + scanline defilter, stdlib only), recover the
    header fields, and compute the pixel sum from the DECODED image.
    Because the encoder cycles all five filter types, the pixel sum is
    only correct if defiltering is faithfully implemented — which is what
    the SQL oracle (recomputing the generative gradient) checks.
    Map-only mapInPandas: the 100 TB shape for media feature extraction.

    ``on_error`` (zip-source contract): ``fail`` aborts on a malformed
    payload (bad signature, CRC mismatch, truncation), ``skip`` drops its
    row, ``null`` keeps the row with null feature columns — at corpus
    scale one corrupt file must not kill the job."""
    if on_error not in ("fail", "skip", "null"):
        raise ValueError(f"on_error must be fail|skip|null, got {on_error!r}")

    def extract(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, b in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    w, h, depth, ctype, img = _decode_png(bytes(b))
                except Exception:
                    if on_error == "fail":
                        raise
                    if on_error == "null":
                        rows.append(
                            (int(doc_id), None, None, None, None, None, None)
                        )
                    continue
                rows.append(
                    (int(doc_id), w, h, depth, ctype, w * h, int(img.sum()))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "bit_depth", "color_type",
                    "n_pixels", "px_sum",
                ],
            )

    return df.mapInPandas(extract, schema=PNG_FEATURE_SCHEMA)


def png_resize_features(df: DataFrame) -> DataFrame:
    """REAL image resize: decode each ``payload`` PNG (full parse +
    defilter), then nearest-neighbor downsample to 8×8 with numpy fancy
    indexing — source pixel (x·w_in // w_out, y·h_in // h_out), the
    classic integer nearest-neighbor mapping — and emit the resized
    image's pixel sum and corner checksum. Because the mapping is pure
    integer arithmetic over the generative gradient, a SQL oracle can
    recompute the expected sums exactly: the decode AND the resample are
    both verified. Map-only mapInPandas, same shape as png_features."""

    out_w = out_h = 8

    def resize(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                w, h, _, _, img = _decode_png(bytes(b))
                xs = (np.arange(out_w, dtype=np.int64) * w) // out_w
                ys = (np.arange(out_h, dtype=np.int64) * h) // out_h
                small = img[np.ix_(ys, xs)].astype(np.int64)
                rows.append(
                    (
                        int(doc_id), out_w, out_h,
                        int(small.sum()),
                        int(small[0, 0]), int(small[out_h - 1, out_w - 1]),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "out_w", "out_h", "px_sum",
                    "top_left", "bottom_right",
                ],
            )

    return df.mapInPandas(
        resize,
        schema=StructType(
            [
                StructField("doc_id", LongType()),
                StructField("out_w", IntegerType()),
                StructField("out_h", IntegerType()),
                StructField("px_sum", LongType()),
                StructField("top_left", IntegerType()),
                StructField("bottom_right", IntegerType()),
            ]
        ),
    )


def png_ahash_bands(df: DataFrame) -> DataFrame:
    """Perceptual average-hash (aHash) over the REAL decode of each
    ``payload`` PNG (a malformed payload fails the job): point-
    sample the decoded image on an 8×8 grid (``x_s = x·w div 8``,
    ``y_s = y·h div 8`` — integer-exact, no resampling kernel), set bit
    ``k = y·8+x`` iff ``64·px > Σpx`` (strict, integer cross-multiplied
    mean comparison), and emit the 64-bit hash as four 16-bit band
    integers ``b0..b3`` — the LSH-ready layout (sharing any band is the
    candidate condition, the simhash pigeonhole idiom). Map-only
    mapInPandas over Arrow batches: the 100 TB shape for media
    fingerprinting; the hash itself never leaves the executor as a
    >64-bit value, so downstream joins shuffle plain ints."""
    def extract(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                w, h, _, _, img = _decode_png(bytes(b))
                xs = (np.arange(8, dtype=np.int64) * w) // 8
                ys = (np.arange(8, dtype=np.int64) * h) // 8
                samp = img[np.ix_(ys, xs)].astype(np.int64)
                total = int(samp.sum())
                bits = (64 * samp > total).astype(np.int64)
                bands = []
                for bi in range(4):
                    val = 0
                    for k in range(16):
                        kk = bi * 16 + k
                        val |= int(bits[kk // 8, kk % 8]) << k
                    bands.append(val)
                rows.append((int(doc_id), *bands))
            yield pd.DataFrame(
                rows, columns=["doc_id", "b0", "b1", "b2", "b3"]
            )

    return df.mapInPandas(
        extract,
        schema=StructType(
            [
                StructField("doc_id", LongType()),
                StructField("b0", LongType()),
                StructField("b1", LongType()),
                StructField("b2", LongType()),
                StructField("b3", LongType()),
            ]
        ),
    )


# ---------------------------------------------------------------------------
# REAL video container: minimal ISO-BMFF (MP4) writer + box parser
# ---------------------------------------------------------------------------
def _mp4_params(doc_id: int) -> tuple[int, int, int, int, int, int]:
    """(timescale, duration, width, height, n_frames, frame_size) derived
    from doc_id — the generative spec the oracle recomputes in SQL."""
    timescale = 600  # the conventional ISO-BMFF movie timescale
    duration = timescale * (1 + doc_id % 10)
    width = 16 * (4 + doc_id % 9)
    height = 16 * (3 + doc_id % 7)
    n_frames = 8 + doc_id % 17
    frame_size = 32 + doc_id % 11
    return timescale, duration, width, height, n_frames, frame_size


def _box(typ: bytes, payload: bytes) -> bytes:
    import struct

    return struct.pack(">I", 8 + len(payload)) + typ + payload


def synth_mp4(df: DataFrame) -> DataFrame:
    """(doc_id, payload) with payload = a real (minimal) ISO-BMFF file:
    ftyp + moov(mvhd, trak(tkhd, mdia(minf(stbl(stsz))))) + mdat, every
    box size-prefixed per the spec, parameters from _mp4_params.
    Constant-sample-size stsz carries the frame count; mdat carries
    n_frames deterministic pseudo-frames (codec payloads are out of
    scope — container structure is what a 100 TB video pipeline parses
    for routing/stats before any decoder runs)."""

    def gen(batches: Iterator) -> Iterator:
        import struct

        import pandas as pd

        identity = struct.pack(
            ">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000
        )
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                ts, dur, w, h, nf, fs = _mp4_params(int(doc_id))
                ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isommp41")
                mvhd = _box(
                    b"mvhd",
                    struct.pack(">IIIII", 0, 0, 0, ts, dur)
                    + struct.pack(">IHH", 0x00010000, 0x0100, 0)
                    + b"\x00" * 8
                    + identity
                    + b"\x00" * 24
                    + struct.pack(">I", 2),
                )
                tkhd = _box(
                    b"tkhd",
                    struct.pack(">IIIIII", 7, 0, 0, 1, 0, dur)
                    + b"\x00" * 8
                    + struct.pack(">HHHH", 0, 0, 0, 0)
                    + identity
                    + struct.pack(">II", w << 16, h << 16),
                )
                stsz = _box(b"stsz", struct.pack(">III", 0, fs, nf))
                stbl = _box(b"stbl", stsz)
                minf = _box(b"minf", stbl)
                mdia = _box(b"mdia", minf)
                trak = _box(b"trak", tkhd + mdia)
                moov = _box(b"moov", mvhd + trak)
                frames = b"".join(
                    bytes([(doc_id * 31 + i * 7) % 251]) * fs for i in range(nf)
                )
                payloads.append(ftyp + moov + _box(b"mdat", frames))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return df.mapInPandas(
        gen,
        schema=StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


MP4_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("n_frames", LongType()),
        StructField("mdat_bytes", LongType()),
    ]
)

_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}


def mp4_meta(df: DataFrame, on_error: str = "fail") -> DataFrame:
    """REAL ISO-BMFF parse of each ``payload``: walk the size-prefixed box
    tree, recurse into container boxes, and recover movie
    timescale/duration (mvhd), track dimensions (tkhd, 16.16 fixed
    point), frame count (constant-size stsz), and media payload size
    (mdat). Arrow-batched mapInPandas,
    map-only — the video leg of the multimodal triad, parsed from bytes
    like audio_features/png_features, nothing faked.

    ``on_error``: fail aborts, skip drops the row, null keeps it with
    null metadata (production modes at corpus scale)."""
    if on_error not in ("fail", "skip", "null"):
        raise ValueError(f"on_error must be fail|skip|null, got {on_error!r}")

    def parse_one(data: bytes) -> tuple:
        import struct

        found = {}

        def walk(buf: bytes) -> None:
            off = 0
            while off + 8 <= len(buf):
                size, typ = struct.unpack(">I4s", buf[off : off + 8])
                hdr = 8
                if size == 0:
                    # Legal ISO-BMFF: box extends to end of enclosing
                    # buffer (commonly the trailing mdat).
                    size = len(buf) - off
                elif size == 1:
                    # 64-bit largesize follows the compact header.
                    if off + 16 > len(buf):
                        raise ValueError(f"truncated largesize box {typ!r}")
                    size = struct.unpack(">Q", buf[off + 8 : off + 16])[0]
                    hdr = 16
                if size < hdr or off + size > len(buf):
                    raise ValueError(f"malformed box {typ!r} (size {size})")
                body = buf[off + hdr : off + size]
                if typ in _MP4_CONTAINERS:
                    walk(body)
                elif typ in (b"mvhd", b"tkhd", b"stsz", b"mdat"):
                    found[typ] = body
                off += size
            if off != len(buf):
                raise ValueError("trailing bytes after last box")

        walk(data)
        for req in (b"mvhd", b"tkhd", b"stsz", b"mdat"):
            if req not in found:
                raise ValueError(f"missing {req!r} box")
        mvhd, tkhd, stsz = found[b"mvhd"], found[b"tkhd"], found[b"stsz"]
        ts, dur = struct.unpack(">II", mvhd[12:20])
        if ts == 0:
            raise ValueError("mvhd timescale is zero")
        w = struct.unpack(">I", tkhd[76:80])[0] >> 16
        h = struct.unpack(">I", tkhd[80:84])[0] >> 16
        sample_size, n_frames = struct.unpack(">II", stsz[4:12])
        if sample_size == 0:
            raise ValueError("variable-size stsz unsupported in fixture")
        return (w, h, dur * 1000 // ts, n_frames, len(found[b"mdat"]))

    def extract(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    w, h, dms, nf, mb = parse_one(bytes(payload))
                    rows.append((int(doc_id), w, h, dms, nf, mb))
                except Exception as exc:  # noqa: BLE001 — parse errors
                    if on_error == "fail":
                        raise ValueError(
                            f"mp4 parse failed for doc {doc_id}: {exc}"
                        ) from exc
                    if on_error == "null":
                        rows.append((int(doc_id), None, None, None, None, None))
                    # skip: drop the row
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "duration_ms",
                    "n_frames", "mdat_bytes",
                ],
            )

    return df.mapInPandas(extract, schema=MP4_META_SCHEMA)
