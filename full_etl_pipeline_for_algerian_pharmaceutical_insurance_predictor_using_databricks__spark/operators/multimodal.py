"""Multimodal-column plumbing (north-star extension): image/audio/video
as opaque `binary` columns + typed metadata, processed by Arrow-batched
pandas functions via `mapInPandas`.

The image and audio paths carry REAL codecs with no third-party
dependency: the fixtures are genuine uncompressed 24-bit BMP files and
PCM-WAV (RIFF) files built deterministically from each document's md5
digest, and the decode kernels parse the actual byte format — BMP
header fields, bottom-up padded pixel rows, RIFF chunk walk, 16-bit
little-endian samples — with pure numpy.  Feed them a BMP/WAV from any
other tool and they decode it the same way (asserted against
hand-built files in tests).  Video is REAL too as of r7: the fixtures
are genuine AVI containers (RIFF 'AVI ' with avih/strh/strf headers
and a movi list of uncompressed BI_RGB '00db' DIB frames) and the
decoder walks the actual chunk tree.  The compressed codecs are native
too, one sibling module each (jpeg, isobmff for MP4/avc1, mpegaudio,
flac, ogg, adpcm, g711).

Every kernel is a per-row generator run through `_map_rows`, the one
`mapInPandas` call: it feeds each input row to the kernel and builds
each output batch from the tuples it yields, with pandas dtypes taken
from the declared Spark schema.  Whether an entry first spreads its
single-file input over the executor threads is decided in one place,
`_spread`: the eleven entries that encode and parse their own stream
from the digest call it; the `synthetic_*_media` fixtures and the
kernels that read them do not.

Because the fixture bytes are digest-derived, every decoded feature is
ALSO SQL-expressible, so the DuckDB oracles value-check the full real
path: generate bytes → parse header → un-reverse rows / strip padding
→ resize / window → checksum.  A decode bug (wrong offset, padding,
row order, sign handling) breaks the oracle match.

Scale notes: mapInPandas streams Arrow batches — memory is bounded by
`spark.sql.execution.arrow.maxRecordsPerBatch`, not partition size.
Binary payloads stay off the driver; decode runs where the bytes live.
Per-row numpy parsing inside the Arrow batch is the intended model for
binary media (the bytes are opaque to Catalyst); the per-row cost is
header-bounded, not payload-bounded.
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T

from ..sources import load_table
from . import adpcm, flac, g711, isobmff, jpeg, mpegaudio, ogg

BMP_HEADER_BYTES = 54  # 14-byte file header + 40-byte BITMAPINFOHEADER
WAV_HEADER_BYTES = 44  # canonical RIFF/fmt/data layout
WAV_SAMPLE_RATE = 8000
WAV_N_SAMPLES = 8  # 16 digest bytes → 8 little-endian int16 samples
AUDIO_WINDOW = 4  # samples per analysis window → 2 windows per doc


def _digest_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, digest) — 16 raw md5 bytes per document, the seed every
    deterministic media fixture derives from (md5 matches DuckDB's)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.to_binary(F.md5(F.col("text")), F.lit("hex")).alias("digest"),
    )


#: pandas dtype of each Spark field type a kernel may emit.
_PANDAS_DTYPES = {
    T.LongType: "int64",
    T.IntegerType: "int32",
    T.DoubleType: "float64",
    T.BooleanType: "bool",
    T.StringType: "object",
    T.BinaryType: "object",
}


def _spread(df: DataFrame) -> DataFrame:
    """Spread a frame over the executor threads before a compute-bound
    kernel: the fixture parquet is a single file, and a per-row codec
    on its one partition would run on a single core."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _map_rows(media: DataFrame, schema, rows_of) -> DataFrame:
    """Run the per-row kernel `rows_of(*row)` over `media` in Arrow
    batches.  `row` is one input row's values in column order; the
    kernel yields zero or more output tuples in `schema` order (a DDL
    string or StructType).  Each output batch is built once from the
    tuples, with pandas dtypes derived here, on the driver, so a field
    type without a dtype mapping fails when the plan is built."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    dtypes = {}
    for f in schema.fields:
        if type(f.dataType) not in _PANDAS_DTYPES:
            raise TypeError(
                f"no pandas dtype for kernel field {f.name}: {f.dataType}"
            )
        dtypes[f.name] = _PANDAS_DTYPES[type(f.dataType)]
    names = schema.fieldNames()

    def run(batches):
        for batch in batches:
            records = [
                out
                for row in batch.itertuples(index=False, name=None)
                for out in rows_of(*row)
            ]
            yield pd.DataFrame.from_records(records, columns=names).astype(dtypes)

    return media.mapInPandas(run, schema)


def _tile(digest: bytes, *shape):
    """The 16 digest bytes tiled over `shape` in C order — element i is
    digest[i mod 16], the SQL-replayable pixel model of every fixture."""
    return np.resize(np.frombuffer(digest, dtype=np.uint8), shape)


def _psnr_db(dec, orig) -> float:
    """Peak signal-to-noise ratio of 8-bit pixels in dB (inf if equal)."""
    mse = float(((dec.astype(np.float64) - orig.astype(np.float64)) ** 2).mean())
    return float("inf") if mse == 0 else 10.0 * np.log10(255.0**2 / mse)


def _snr_db(decoded, x) -> float:
    """Signal-to-noise ratio of decoded int16 audio vs the original in
    dB (inf if equal; a silent original counts as unit power)."""
    x64 = x.astype(np.int64)
    err = float(((np.asarray(decoded, dtype=np.int64) - x64) ** 2).mean())
    sig = float((x64**2).mean()) or 1.0
    return float("inf") if err == 0 else 10.0 * math.log10(sig / err)


def _sine(n: int, amp_b: int, freq_b: int, phase_b: int):
    """n int16 samples of the digest-parameterized test sine (amplitude,
    frequency and phase from three digest bytes)."""
    amp = 2000 + amp_b * 90
    freq = 1 + freq_b % 16
    phase = phase_b / 256.0 * 2 * math.pi
    t = np.arange(n)
    return (amp * np.sin(2 * np.pi * freq * t / n + phase)).astype(np.int16)


# --------------------------------------------------------------------------
# BMP: encode (fixture generator) and decode (the real codec)
# --------------------------------------------------------------------------


def _bmp_row_size(width: int) -> int:
    """Bytes per stored pixel row: 3 bytes/px padded to 4-byte multiple."""
    return (3 * width + 3) // 4 * 4


def _encode_bmp(img) -> bytes:
    """numpy (h, w, 3) uint8 image → real uncompressed 24-bit BMP bytes
    (bottom-up rows, 4-byte row padding — the standard layout)."""
    h, w = img.shape[:2]
    row_size = _bmp_row_size(w)
    data_size = h * row_size
    header = struct.pack(
        "<2sIHHIIiiHHIIiiII",
        b"BM", BMP_HEADER_BYTES + data_size, 0, 0, BMP_HEADER_BYTES,
        40, w, h, 1, 24, 0, data_size, 2835, 2835, 0, 0,
    )
    rows = np.zeros((h, row_size), dtype=np.uint8)
    rows[:, : 3 * w] = img[::-1].reshape(h, 3 * w)  # bottom row first
    return header + rows.tobytes()


def _decode_bmp(b: bytes):
    """Real BMP parse: validate magic/compression, read geometry from
    the header, strip row padding, un-reverse the bottom-up rows.
    Returns (h, w, 3) uint8 in top-down image order."""
    if b[:2] != b"BM":
        raise ValueError("not a BMP: missing 'BM' magic")
    offset = struct.unpack_from("<I", b, 10)[0]
    w, h = struct.unpack_from("<ii", b, 18)
    planes, bpp = struct.unpack_from("<HH", b, 26)
    compression = struct.unpack_from("<I", b, 30)[0]
    if bpp != 24 or compression != 0 or planes != 1:
        raise ValueError(f"unsupported BMP variant: bpp={bpp} comp={compression}")
    flip = h > 0  # positive height = bottom-up storage
    h = abs(h)
    row_size = _bmp_row_size(w)
    px = np.frombuffer(b, dtype=np.uint8, count=h * row_size, offset=offset)
    img = px.reshape(h, row_size)[:, : 3 * w].reshape(h, w, 3)
    return img[::-1] if flip else img


def synthetic_bmp_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attach a REAL deterministic BMP to each document: dimensions
    (2..9 square-ish) and pixel bytes derive from the md5 digest —
    image pixel (r, c, ch) = digest[(r·w·3 + c·3 + ch) mod 16] — so
    the decoded features are SQL-replayable."""

    def rows_of(doc_id, digest):
        w, h = 2 + digest[0] % 8, 2 + digest[1] % 8
        yield doc_id, _encode_bmp(_tile(digest, h, w, 3))

    return _map_rows(
        _digest_media(spark, sf_dir), "doc_id long, image_bytes binary", rows_of
    )


#: Output contract of the image-metadata extractor.
IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("format", T.StringType()),
    ]
)


def image_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binary column → typed metadata via mapInPandas (Arrow batches),
    decoding genuine BMP bytes: the magic is checked and the geometry
    comes from the parsed header, not from any sidecar."""

    def rows_of(doc_id, image_bytes):
        h, w = _decode_bmp(bytes(image_bytes)).shape[:2]
        yield doc_id, len(image_bytes), w, h, "bmp"

    return _map_rows(synthetic_bmp_media(spark, sf_dir), IMAGE_META_SCHEMA, rows_of)


#: Output contract of the resize kernel.
RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("out_width", T.IntegerType()),
        T.StructField("out_height", T.IntegerType()),
        T.StructField("n_bytes_out", T.IntegerType()),
        T.StructField("pixel_sum", T.LongType()),
    ]
)


def image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real decode → 2:1 nearest-neighbor downsample → real re-encode.
    The output reports the re-encoded BMP's true size plus a pixel
    checksum of the resized image; the DuckDB oracle recomputes both
    from the digest math, so a botched decode (padding, row order)
    or resize indexing fails the value check."""

    def rows_of(doc_id, image_bytes):
        small = _decode_bmp(bytes(image_bytes))[::2, ::2, :]
        out = _encode_bmp(small)
        yield doc_id, small.shape[1], small.shape[0], len(out), int(small.sum())

    return _map_rows(synthetic_bmp_media(spark, sf_dir), RESIZE_SCHEMA, rows_of)


# --------------------------------------------------------------------------
# PNG: encode and decode — the first COMPRESSED codec in the family
# (zlib DEFLATE via the stdlib; filtering/unfiltering in pure numpy)
# --------------------------------------------------------------------------

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _paeth(a, b, c):
    """The Paeth predictor (PNG spec §9.4), vectorized over numpy
    arrays: pick whichever of left/up/up-left is closest to a+b-c."""
    p = a.astype(np.int32) + b.astype(np.int32) - c.astype(np.int32)
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.int32)


def _encode_png(img, level: int = 6) -> bytes:
    """numpy (h, w, 3) uint8 → REAL compressed PNG bytes (8-bit
    truecolor, non-interlaced): per-scanline filtering — row r uses
    filter r % 5, so every stream exercises None/Sub/Up/Average/Paeth
    — then one zlib DEFLATE stream in a single IDAT.  Filtering
    against ORIGINAL neighbors is fully vectorized (the sequential
    dependency only exists on the decode side)."""
    import zlib

    h, w = img.shape[:2]
    bpp = 3
    rows = img.reshape(h, w * bpp).astype(np.int32)
    raw = bytearray()
    prev = np.zeros(w * bpp, dtype=np.int32)
    for r in range(h):
        row = rows[r]
        left = np.concatenate([np.zeros(bpp, dtype=np.int32), row[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, dtype=np.int32), prev[:-bpp]])
        ftype = r % 5
        if ftype == 0:
            out = row
        elif ftype == 1:  # Sub
            out = row - left
        elif ftype == 2:  # Up
            out = row - prev
        elif ftype == 3:  # Average
            out = row - (left + prev) // 2
        else:  # Paeth
            out = row - _paeth(left, prev, upleft)
        raw.append(ftype)
        raw.extend((out % 256).astype(np.uint8).tobytes())
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), level))
        + _png_chunk(b"IEND", b"")
    )


def _decode_png(b: bytes):
    """Real PNG parse: signature, chunk walk with CRC VERIFICATION,
    multi-IDAT concatenation (foreign writers split the stream),
    ancillary chunks skipped, zlib inflate, then per-scanline
    UNFILTERING of all five filter types (Sub/Paeth reconstruct
    sequentially against decoded left neighbors, per spec).  Returns
    (h, w, 3) uint8.  8-bit truecolor non-interlaced only — the
    variant every fixture and the common fast path use; anything else
    raises rather than mis-decoding."""
    import zlib

    if b[: len(PNG_SIG)] != PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos, ihdr, idat = len(PNG_SIG), None, []
    while pos + 8 <= len(b):
        (size,) = struct.unpack_from(">I", b, pos)
        ctype = b[pos + 4 : pos + 8]
        body = b[pos + 8 : pos + 8 + size]
        (crc,) = struct.unpack_from(">I", b, pos + 8 + size)
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} fails CRC")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + size
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    w, h, depth, ctype_, comp, filt, interlace = ihdr
    if (depth, ctype_, comp, filt, interlace) != (8, 2, 0, 0, 0):
        raise ValueError(
            f"unsupported PNG variant: depth={depth} color={ctype_} "
            f"interlace={interlace}"
        )
    raw = zlib.decompress(b"".join(idat))
    bpp, stride = 3, 1 + 3 * w
    if len(raw) != h * stride:
        raise ValueError("PNG stream length mismatch")
    out = np.zeros((h, w * bpp), dtype=np.int32)
    prev = np.zeros(w * bpp, dtype=np.int32)
    for r in range(h):
        ftype = raw[r * stride]
        row = np.frombuffer(
            raw, dtype=np.uint8, count=w * bpp, offset=r * stride + 1
        ).astype(np.int32)
        if ftype == 0:
            rec = row
        elif ftype == 2:  # Up
            rec = (row + prev) % 256
        elif ftype in (1, 3, 4):  # Sub/Average/Paeth: sequential in x
            rec = np.zeros(w * bpp, dtype=np.int32)
            for i in range(w * bpp):
                left = rec[i - bpp] if i >= bpp else 0
                up = prev[i]
                upleft = prev[i - bpp] if i >= bpp else 0
                if ftype == 1:
                    pred = left
                elif ftype == 3:
                    pred = (left + up) // 2
                else:
                    p = left + up - upleft
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - upleft)
                    pred = (
                        left
                        if pa <= pb and pa <= pc
                        else (up if pb <= pc else upleft)
                    )
                rec[i] = (row[i] + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[r] = rec
        prev = rec
    return out.astype(np.uint8).reshape(h, w, bpp)


def synthetic_png_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attach a REAL deterministic compressed PNG to each document:
    dims from digest bytes 2/3 (w, h = 2 + d % 8), pixel
    (r, c, ch) = digest[(r·w·3 + c·3 + ch) mod 16] — same SQL-replayable
    pixel model as the BMP fixture, but the bytes go through genuine
    DEFLATE compression and all five PNG filters."""

    def rows_of(doc_id, digest):
        w, h = 2 + digest[2] % 8, 2 + digest[3] % 8
        yield doc_id, _encode_png(_tile(digest, h, w, 3))

    return _map_rows(
        _digest_media(spark, sf_dir), "doc_id long, image_bytes binary", rows_of
    )


PNG_PIPELINE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("pixel_sum", T.LongType()),
        T.StructField("out_width", T.IntegerType()),
        T.StructField("out_height", T.IntegerType()),
        T.StructField("resized_pixel_sum", T.LongType()),
    ]
)


def image_png_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-image pipeline over genuine PNG bytes: decode
    (CRC-checked chunk walk → inflate → unfilter all five types) →
    full-image checksum → 2:1 nearest-neighbor resize checksum.  The
    DuckDB oracle recomputes dims and BOTH checksums from the digest
    math, so any defect in the compressed path — CRC, inflate
    boundaries, filter reconstruction, row order — breaks the value
    match.  (The compressed byte COUNT is intentionally not oracled:
    DEFLATE output length isn't SQL-expressible.)

    ONE fused kernel does encode→decode (guide §4.1): the PNG bytes
    used to cross the Python boundary twice — out of the
    synthetic_png_media mapInPandas and back into this one — for no
    reason; the fixture bytes exist only to be decoded here, so the
    fused kernel ships 16 digest bytes per row instead of the PNG
    twice.  Same codec calls, same rows (`synthetic_png_media` stays
    the declared fixture surface for byte-level tests)."""

    def rows_of(doc_id, digest):
        w, h = 2 + digest[2] % 8, 2 + digest[3] % 8
        img = _decode_png(_encode_png(_tile(digest, h, w, 3)))
        small = img[::2, ::2, :]
        yield (
            doc_id,
            img.shape[1],
            img.shape[0],
            int(img.sum()),
            small.shape[1],
            small.shape[0],
            int(small.sum()),
        )

    return _map_rows(
        _spread(_digest_media(spark, sf_dir)), PNG_PIPELINE_SCHEMA, rows_of
    )


# --------------------------------------------------------------------------
# JPEG: the lossy compressed codec (operators/jpeg.py — pure numpy
# baseline T.81: DCT, quantization, Huffman entropy coding)
# --------------------------------------------------------------------------


def synthetic_jpeg_media(
    spark: SparkSession, sf_dir: str, quality: int = 90
) -> DataFrame:
    """Attach a REAL baseline JPEG to each document: dims from digest
    bytes 4/5 (8..15 — at least one full DCT block), pixels from the
    digest tiling.  The bytes go through genuine DCT + quantization +
    Huffman coding; decode is lossy-but-deterministic."""

    def rows_of(doc_id, digest):
        w, h = 8 + digest[4] % 8, 8 + digest[5] % 8
        yield doc_id, jpeg.encode_jpeg(_tile(digest, h, w, 3), quality)

    return _map_rows(
        _digest_media(spark, sf_dir), "doc_id long, image_bytes binary", rows_of
    )


JPEG_PIPELINE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("format", T.StringType()),
        T.StructField("psnr_ok", T.BooleanType()),
    ]
)

#: Reconstruction floor for the digest fixtures at quality 90 — lossy
#: decode must stay within sane distortion of the original pixels (a
#: broken dequant/IDCT/Huffman path lands far below this).
JPEG_PSNR_FLOOR_DB = 20.0


def image_jpeg_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossy-compressed image pipeline over genuine JPEG bytes: decode
    (marker walk → Huffman → dequant → IDCT → color convert), report
    geometry AND a per-image reconstruction check (`psnr_ok`: PSNR vs
    the digest-derived original ≥ JPEG_PSNR_FLOOR_DB).  Dims and the boolean
    are SQL-stated by the oracle (dims from digest math; psnr_ok must
    be TRUE for every row) — so a broken entropy decode or IDCT fails
    the value match even though quantized pixel values themselves are
    not SQL-expressible.  One kernel carries the digest through
    encode → decode → score so the original never leaves the batch.
    The digest frame is spread first (`_spread`): a per-row
    DCT+Huffman kernel costs ~2.6 ms/image."""

    def rows_of(doc_id, digest):
        w, h = 8 + digest[4] % 8, 8 + digest[5] % 8
        orig = _tile(digest, h, w, 3)
        dec = jpeg.decode_jpeg(jpeg.encode_jpeg(orig, 90))
        ok = _psnr_db(dec, orig) >= JPEG_PSNR_FLOOR_DB
        yield doc_id, dec.shape[1], dec.shape[0], "jpeg", ok

    return _map_rows(
        _spread(_digest_media(spark, sf_dir)), JPEG_PIPELINE_SCHEMA, rows_of
    )


# --------------------------------------------------------------------------
# WAV: encode (fixture generator) and decode (the real codec)
# --------------------------------------------------------------------------


def _encode_wav(samples, sample_rate: int = WAV_SAMPLE_RATE) -> bytes:
    """numpy int16 array → real PCM-WAV bytes (canonical 44-byte
    RIFF/fmt/data layout, mono 16-bit little-endian)."""
    data = samples.astype("<i2").tobytes()
    return (
        struct.pack(
            "<4sI4s4sIHHIIHH4sI",
            b"RIFF", 36 + len(data), b"WAVE",
            b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16,
            b"data", len(data),
        )
        + data
    )


def _decode_wav(b: bytes):
    """Real RIFF parse: validate magic, WALK the chunk list (not a
    fixed offset — files with LIST/fact chunks parse too), read the
    fmt fields, return (samples int16 array, sample_rate)."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a WAV: missing RIFF/WAVE magic")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid, size = struct.unpack_from("<4sI", b, pos)
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    audio_format, channels, sample_rate, _, _, bits = fmt
    if audio_format != 1 or bits != 16 or channels != 1:
        raise ValueError(
            f"unsupported WAV variant: fmt={audio_format} bits={bits} ch={channels}"
        )
    return np.frombuffer(data, dtype="<i2"), sample_rate


def synthetic_wav_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attach a REAL deterministic PCM-WAV to each document: 8 signed
    16-bit samples, sample i = int16(digest[2i] | digest[2i+1] << 8)."""

    def rows_of(doc_id, digest):
        yield doc_id, _encode_wav(np.frombuffer(digest, dtype="<i2"))

    return _map_rows(
        _digest_media(spark, sf_dir), "doc_id long, audio_bytes binary", rows_of
    )


def _window_sq_sums(audio_bytes: bytes):
    """Decode a PCM-WAV and return the exact int64 square sum of each
    full AUDIO_WINDOW of its samples."""
    samples = _decode_wav(bytes(audio_bytes))[0].astype(np.int64)
    n_win = len(samples) // AUDIO_WINDOW
    windows = samples[: n_win * AUDIO_WINDOW].reshape(n_win, AUDIO_WINDOW)
    return (windows * windows).sum(axis=1)


#: Output contract of the audio feature extractor.
AUDIO_RMS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("window_idx", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("n_samples", T.IntegerType()),
    ]
)


def audio_rms_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque PCM-WAV binary → per-window RMS energy via a numpy kernel
    in mapInPandas, decoding genuine RIFF bytes (chunk walk + int16
    samples).  Integer square sums are exact in int64 → double, so the
    kernel is bit-comparable to the SQL oracle."""

    def rows_of(doc_id, audio_bytes):
        rms = np.sqrt(_window_sq_sums(audio_bytes) / float(AUDIO_WINDOW))
        for i, r in enumerate(rms):
            yield doc_id, i, r, AUDIO_WINDOW

    return _map_rows(synthetic_wav_media(spark, sf_dir), AUDIO_RMS_SCHEMA, rows_of)


def audio_low_energy_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous low-energy runs per audio track — the
    silence-detection / segmentation shape: decode → per-window energy
    → below-average flag → gap-and-island grouping.

    Exactness across engines: the flag compares INTEGER window
    square-sums against the track total (`sq_sum · n_windows <
    total_sq_sum` — the rational form of "below the track's mean
    energy"), so no float accumulation can flip a boundary window;
    int16² sums fit int64 with 2³¹ headroom.  The kernel ships only
    (doc_id, window_idx, sq_sum) out of the Arrow batch; islands are
    the classic `idx − row_number` constant-group trick — one window
    pass per doc, no joins, no iteration."""

    def rows_of(doc_id, audio_bytes):
        for i, sq in enumerate(_window_sq_sums(audio_bytes)):
            yield doc_id, i, sq

    energy = _map_rows(
        synthetic_wav_media(spark, sf_dir),
        "doc_id long, window_idx int, sq_sum long",
        rows_of,
    )
    w_doc = Window.partitionBy("doc_id")
    low = (
        energy.withColumn("total", F.sum("sq_sum").over(w_doc))
        .withColumn("n_win", F.count("*").over(w_doc))
        .filter(F.col("sq_sum") * F.col("n_win") < F.col("total"))
    )
    w_ord = Window.partitionBy("doc_id").orderBy("window_idx")
    return (
        low.withColumn(
            "grp", F.col("window_idx") - F.row_number().over(w_ord)
        )
        .groupBy("doc_id", "grp")
        .agg(
            F.min("window_idx").alias("start_window"),
            F.max("window_idx").alias("end_window"),
            F.count("*").alias("n_windows"),
        )
        .select("doc_id", "start_window", "end_window", "n_windows")
    )


_AUDIO_SEGMENTS_SQL = f"""
WITH energy AS (
    SELECT doc_id,
           CAST(i // {AUDIO_WINDOW} AS INT) AS window_idx,
           SUM(s * s) AS sq_sum
    FROM (
        SELECT doc_id, i,
               CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
        FROM (
            SELECT doc_id, t.i AS i,
                   ('0x' || substr(h, 4 * t.i + 1, 2))::BIGINT
                   + 256 * ('0x' || substr(h, 4 * t.i + 3, 2))::BIGINT AS u
            FROM (SELECT doc_id, md5(text) AS h FROM documents)
            CROSS JOIN range({WAV_N_SAMPLES}) AS t(i)
        )
    )
    GROUP BY doc_id, i // {AUDIO_WINDOW}
),
low AS (
    SELECT doc_id, window_idx
    FROM (
        SELECT doc_id, window_idx, sq_sum,
               SUM(sq_sum) OVER (PARTITION BY doc_id) AS total,
               COUNT(*) OVER (PARTITION BY doc_id) AS n_win
        FROM energy
    )
    WHERE sq_sum * n_win < total
),
isl AS (
    SELECT doc_id, window_idx,
           window_idx - ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY window_idx
           ) AS grp
    FROM low
)
SELECT doc_id,
       MIN(window_idx) AS start_window,
       MAX(window_idx) AS end_window,
       COUNT(*) AS n_windows
FROM isl
GROUP BY doc_id, grp
"""


# --------------------------------------------------------------------------
# AVI: encode (fixture generator) and decode (the real video codec) —
# RIFF 'AVI ' container with uncompressed BI_RGB 24-bit DIB frames.
# Reuses the WAV chunk-walk discipline and the BMP DIB pixel layout.
# --------------------------------------------------------------------------

AVI_FPS = 25
VIDEO_MIN_FRAMES = 2  # n_frames = 2 + digest[2] % 3 → 2..4


def _encode_dib(img) -> bytes:
    """numpy (h, w, 3) uint8 → raw DIB pixel data (bottom-up rows,
    4-byte row padding) — the frame payload format BMP and AVI share."""
    h, w = img.shape[:2]
    row_size = _bmp_row_size(w)
    rows = np.zeros((h, row_size), dtype=np.uint8)
    rows[:, : 3 * w] = img[::-1].reshape(h, 3 * w)
    return rows.tobytes()


def _decode_dib(buf: bytes, w: int, h: int, flip: bool = True):
    """Raw padded DIB pixel data → (h, w, 3) uint8 top-down.  `flip`
    reverses the row order (positive-height bottom-up storage, the
    default); top-down DIBs (negative biHeight) pass flip=False."""
    row_size = _bmp_row_size(w)
    px = np.frombuffer(buf, dtype=np.uint8, count=h * row_size)
    img = px.reshape(h, row_size)[:, : 3 * w].reshape(h, w, 3)
    return img[::-1] if flip else img


def _riff_chunk(fourcc: bytes, body: bytes) -> bytes:
    """fourcc + little-endian size + body (+ word-alignment pad)."""
    return fourcc + struct.pack("<I", len(body)) + body + (b"\x00" * (len(body) & 1))


def _riff_list(fourcc: bytes, children: bytes) -> bytes:
    return _riff_chunk(b"LIST", fourcc + children)


def _encode_avi(frames) -> bytes:
    """numpy (n, h, w, 3) uint8 frame stack → a real AVI file: RIFF
    'AVI ' with a full hdrl (avih main header + one 'vids'/'DIB '
    stream with its BITMAPINFOHEADER) and a movi list of '00db'
    uncompressed DIB frame chunks."""
    n, h, w = frames.shape[:3]
    frame_bytes = h * _bmp_row_size(w)
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // AVI_FPS, frame_bytes * AVI_FPS, 0, 0x10,  # HASINDEX-less, interleave flag
        n, 0, 1, frame_bytes, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"DIB ", 0, 0, 0, 0,
        1, AVI_FPS, 0, n, frame_bytes, 0, 0,
        0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_bytes, 2835, 2835, 0, 0
    )
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)),
    )
    movi = _riff_list(
        b"movi",
        b"".join(_riff_chunk(b"00db", _encode_dib(f)) for f in frames),
    )
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _decode_avi(b: bytes):
    """Real AVI parse: validate RIFF/'AVI ' magic, walk the top-level
    chunk list, descend into hdrl for the stream geometry (strf
    BITMAPINFOHEADER — must be 24-bit BI_RGB) and into movi for the
    frame chunks ('00db' raw / '00dc' — both carry DIB data when the
    handler is 'DIB ').  Unknown chunks (JUNK, idx1, extra LISTs) are
    skipped by size, like the WAV walk.  Returns (frames (n,h,w,3)
    uint8 top-down, fps)."""
    if b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        raise ValueError("not an AVI: missing RIFF/'AVI ' magic")

    def walk(lo: int, hi: int):
        pos = lo
        while pos + 8 <= hi:
            cid, size = struct.unpack_from("<4sI", b, pos)
            yield cid, pos + 8, size
            pos += 8 + size + (size & 1)

    w = h = None
    rate = scale = None
    frame_chunks: list[tuple[int, int]] = []
    for cid, off, size in walk(12, len(b)):
        if cid != b"LIST":
            continue  # idx1 / JUNK at top level
        kind = b[off : off + 4]
        if kind == b"hdrl":
            for c2, o2, s2 in walk(off + 4, off + size):
                if c2 == b"LIST" and b[o2 : o2 + 4] == b"strl":
                    for c3, o3, s3 in walk(o2 + 4, o2 + s2):
                        if c3 == b"strh":
                            fcc_type, handler = struct.unpack_from("<4s4s", b, o3)
                            if fcc_type != b"vids":
                                raise ValueError("first stream is not video")
                            scale, rate = struct.unpack_from("<II", b, o3 + 20)
                        elif c3 == b"strf":
                            (
                                _bi_size, w, h, planes, bpp, compression,
                            ) = struct.unpack_from("<IiiHHI", b, o3)
                            if bpp != 24 or compression != 0 or planes != 1:
                                raise ValueError(
                                    f"unsupported AVI frames: bpp={bpp} "
                                    f"comp={compression}"
                                )
        elif kind == b"movi":
            for c2, o2, s2 in walk(off + 4, off + size):
                # only the FIRST stream's frames ('00db' raw / '00dc')
                # — a second stream ('01db', e.g. audio) must not
                # interleave into the video frame stack
                if c2[:2] == b"00" and c2[2:4] in (b"db", b"dc"):
                    frame_chunks.append((o2, s2))
    if w is None or h is None:
        raise ValueError("AVI missing stream format header")
    # positive biHeight = bottom-up rows (flip to top-down); negative =
    # already top-down (common from Windows encoders) — honor the sign
    frames = np.stack(
        [
            _decode_dib(b[o : o + sz], w, abs(h), flip=h > 0)
            for o, sz in frame_chunks
        ]
    )
    fps = (rate / scale) if rate and scale else float(AVI_FPS)
    return frames, fps


def synthetic_avi_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attach a REAL deterministic AVI to each document: geometry from
    the digest like the BMP fixture (w = 2 + d[0] % 8, h = 2 + d[1] % 8,
    n_frames = 2 + d[2] % 3), pixel (f, r, c, ch) =
    digest[(f·h·w·3 + r·w·3 + c·3 + ch) mod 16] — every decoded frame
    feature stays SQL-replayable."""

    def rows_of(doc_id, digest):
        w, h = 2 + digest[0] % 8, 2 + digest[1] % 8
        n = VIDEO_MIN_FRAMES + digest[2] % 3
        yield doc_id, _encode_avi(_tile(digest, n, h, w, 3))

    return _map_rows(
        _digest_media(spark, sf_dir), "doc_id long, video_bytes binary", rows_of
    )


def video_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binary AVI column → typed metadata (frame count, geometry, fps,
    container size), all read from the parsed container itself."""

    def rows_of(doc_id, video_bytes):
        frames, fps = _decode_avi(bytes(video_bytes))
        n, h, w = frames.shape[:3]
        yield doc_id, n, w, h, float(fps), len(video_bytes)

    return _map_rows(
        synthetic_avi_media(spark, sf_dir),
        "doc_id long, n_frames int, width int, height int, fps double, n_bytes int",
        rows_of,
    )


def frame_sample(spark: SparkSession, sf_dir: str, every_n: int = 2) -> DataFrame:
    """Video frame sampling over GENUINE container bytes: decode the
    AVI, keep every n-th frame, emit per-frame features (pixel
    checksum) — the sample-then-featurize shape of a video training
    pipeline.  Only (doc_id, frame_idx, int64) leaves the Arrow batch;
    the frame pixels never hit a shuffle."""

    def rows_of(doc_id, video_bytes):
        frames, _ = _decode_avi(bytes(video_bytes))
        for i in range(0, frames.shape[0], every_n):
            yield doc_id, i, int(frames[i].astype(np.int64).sum())

    return _map_rows(
        synthetic_avi_media(spark, sf_dir),
        "doc_id long, frame_idx int, pixel_sum long",
        rows_of,
    )


# --------------------------------------------------------------------------
# MJPEG-in-AVI: COMPRESSED video (the 'MJPG' fourcc every capture
# pipeline understands) — each frame is a genuine JPEG (operators/jpeg)
# inside the same RIFF container discipline as the DIB tier above.
# --------------------------------------------------------------------------

MJPEG_QUALITY = 90


def _encode_avi_mjpeg(frames, quality: int = MJPEG_QUALITY) -> bytes:
    """numpy (n, h, w, 3) uint8 frame stack → a real MJPEG AVI: 'vids'
    stream with handler 'MJPG', strf biCompression = the 'MJPG'
    fourcc, and a movi list of '00dc' chunks each holding a complete
    baseline JPEG — the layout ffmpeg/VLC/OpenCV produce and consume
    for motion-JPEG."""
    n, h, w = frames.shape[:3]
    payloads = [jpeg.encode_jpeg(f, quality) for f in frames]
    max_sz = max(len(p) for p in payloads)
    (mjpg,) = struct.unpack("<I", b"MJPG")
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // AVI_FPS, max_sz * AVI_FPS, 0, 0x10,
        n, 0, 1, max_sz, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"MJPG", 0, 0, 0, 0,
        1, AVI_FPS, 0, n, max_sz, 0, 0,
        0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, mjpg, max_sz, 0, 0, 0, 0
    )
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(
            b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)
        ),
    )
    movi = _riff_list(
        b"movi", b"".join(_riff_chunk(b"00dc", pld) for pld in payloads)
    )
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _decode_avi_mjpeg(b: bytes):
    """MJPEG AVI parse: the same RIFF walk as `_decode_avi`, but the
    strf must announce the 'MJPG' fourcc and every '00dc' chunk is a
    standalone JPEG decoded through operators/jpeg.  Returns (frames
    (n, h, w, 3) uint8, fps)."""
    if b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        raise ValueError("not an AVI: missing RIFF/'AVI ' magic")

    def walk(lo: int, hi: int):
        pos = lo
        while pos + 8 <= hi:
            cid, size = struct.unpack_from("<4sI", b, pos)
            yield cid, pos + 8, size
            pos += 8 + size + (size & 1)

    compression = rate = scale = None
    frame_chunks: list[tuple[int, int]] = []
    for cid, off, size in walk(12, len(b)):
        if cid != b"LIST":
            continue
        kind = b[off : off + 4]
        if kind == b"hdrl":
            for c2, o2, s2 in walk(off + 4, off + size):
                if c2 == b"LIST" and b[o2 : o2 + 4] == b"strl":
                    for c3, o3, _s3 in walk(o2 + 4, o2 + s2):
                        if c3 == b"strh":
                            scale, rate = struct.unpack_from("<II", b, o3 + 20)
                        elif c3 == b"strf":
                            compression = b[o3 + 16 : o3 + 20]
        elif kind == b"movi":
            for c2, o2, s2 in walk(off + 4, off + size):
                if c2[:2] == b"00" and c2[2:4] in (b"db", b"dc"):
                    frame_chunks.append((o2, s2))
    if compression != b"MJPG":
        raise ValueError(f"not an MJPEG AVI: biCompression={compression!r}")
    frames = np.stack(
        [jpeg.decode_jpeg(b[o : o + sz]) for o, sz in frame_chunks]
    )
    fps = (rate / scale) if rate and scale else float(AVI_FPS)
    return frames, fps


def video_mjpeg_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-video pipeline over genuine MJPEG AVI bytes: per
    document, digest-derived frames are encoded frame-by-frame through
    the real JPEG codec into a 'MJPG' AVI, the container is parsed
    back, every frame entropy-decoded, and a per-FRAME PSNR floor
    checked against the originals (`frames_ok`).  Geometry and frame
    count are digest math the oracle restates; the booleans must be
    TRUE — so a broken container walk, Huffman table, or IDCT fails
    the value match.  Spread first (`_spread`), like the JPEG entry:
    the per-frame DCT work is compute-bound."""

    def rows_of(doc_id, digest):
        w, h = 8 + digest[4] % 8, 8 + digest[5] % 8
        n = VIDEO_MIN_FRAMES + digest[2] % 3
        orig = _tile(digest, n, h, w, 3)
        dec, fps = _decode_avi_mjpeg(_encode_avi_mjpeg(orig))
        ok = (
            dec.shape == orig.shape
            and fps == float(AVI_FPS)
            and all(_psnr_db(*f) >= JPEG_PSNR_FLOOR_DB for f in zip(dec, orig))
        )
        yield doc_id, n, w, h, "mjpeg", ok

    return _map_rows(
        _spread(_digest_media(spark, sf_dir)),
        "doc_id long, n_frames int, width int, height int, "
        "format string, frames_ok boolean",
        rows_of,
    )


# --------------------------------------------------------------------------
# IMA ADPCM: COMPRESSED audio (WAV format tag 0x0011, operators/adpcm)
# --------------------------------------------------------------------------

ADPCM_MIN_SAMPLES = 384
ADPCM_SNR_FLOOR_DB = 16.0


def audio_adpcm_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-audio pipeline over genuine IMA-ADPCM WAV bytes: per
    document a digest-parameterized sine (amplitude/frequency/phase
    from digest bytes — the band-limited content ADPCM is built for)
    is encoded through the real 0x0011 codec (block headers, nibble
    packing, fact chunk), decoded back, and checked for (a) exact
    sample count from the fact chunk, (b) ≥3:1 compression of the
    data payload vs 16-bit PCM, (c) an SNR floor.  `n_samples` and
    `n_blocks` are digest math the oracle restates; the booleans must
    be TRUE — a broken step table, nibble order, or block-boundary
    state fails the value match."""

    def rows_of(doc_id, digest):
        # >=326 samples: the last block's padding amortizes and the
        # 3:1 ratio check holds for every length
        n = ADPCM_MIN_SAMPLES + digest[0] % 128
        x = _sine(n, digest[1], digest[2], digest[3])
        y, _rate = adpcm.decode_ima_wav(adpcm.encode_ima_wav(x))
        data_sz = len(adpcm.encode_blocks(x))
        yield (
            doc_id,
            len(y),
            data_sz // adpcm.BLOCK_ALIGN,
            data_sz * 3 < 2 * n,
            _snr_db(y, x) >= ADPCM_SNR_FLOOR_DB,
        )

    return _map_rows(
        _spread(_digest_media(spark, sf_dir)),
        "doc_id long, n_samples int, n_blocks int, "
        "ratio_ok boolean, snr_ok boolean",
        rows_of,
    )


# --------------------------------------------------------------------------
# G.711 mu-law / A-law: COMPRESSED telephony audio (WAV 0x0007/0x0006)
# --------------------------------------------------------------------------

G711_MIN_SAMPLES = 384
G711_SNR_FLOOR_DB = 30.0


def audio_g711_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telephony-audio pipeline over genuine G.711 WAV bytes: per
    document a digest-parameterized sine is companded through BOTH
    laws (mu-law tag 0x0007 and A-law tag 0x0006 — real fmt/fact/data
    WAV containers), decoded back, and checked for (a) exact sample
    count from the fact chunk, (b) an exactly-2:1 payload vs 16-bit
    PCM, (c) an SNR floor (G.711 holds ~38 dB on in-range content),
    and (d) code-level idempotence — re-encoding the decoded signal
    reproduces the byte stream exactly (the companding self-law).
    `n_samples` is digest math the oracle restates; the per-law
    booleans must be TRUE — a wrong segment table, AMI mask, or bias
    fails the value match.  Encode/decode are numpy-vectorized table
    math (no per-sample loop), so the kernel is memory-, not
    compute-bound, and scales with Arrow batch streaming."""

    def law_ok(x, law: str) -> bool:
        y, _rate = g711.decode_g711_wav(g711.encode_g711_wav(x, law))
        if len(y) != len(x):
            return False
        enc = g711.encode_mulaw if law == "mulaw" else g711.encode_alaw
        dec = g711.decode_mulaw if law == "mulaw" else g711.decode_alaw
        if len(enc(x)) != len(x):  # 2:1 by construction, keep honest
            return False
        # value-level companding fixpoint (byte-level would trip on
        # mu-law's two zero codes: -0 re-encodes as +0 per spec)
        if not np.array_equal(dec(enc(y)), y):
            return False
        return _snr_db(y, x) >= G711_SNR_FLOOR_DB

    def rows_of(doc_id, digest):
        n = G711_MIN_SAMPLES + digest[4] % 128
        x = _sine(n, digest[5], digest[6], digest[7])
        yield doc_id, n, law_ok(x, "mulaw"), law_ok(x, "alaw")

    return _map_rows(
        _spread(_digest_media(spark, sf_dir)),
        "doc_id long, n_samples int, mulaw_ok boolean, alaw_ok boolean",
        rows_of,
    )


# --------------------------------------------------------------------------
# MP4 (ISO BMFF): the real container tier — motion-JPEG samples inside
# the ftyp/mdat/moov + stbl sample-table layout (operators/isobmff)
# --------------------------------------------------------------------------


def video_mp4_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4 pipeline over genuine ISO-BMFF bytes: per document,
    digest-derived frames (same geometry as the MJPEG-AVI entry) are
    muxed into a real MP4 — mvhd/tkhd/mdhd dual-clock metadata plus
    the four stbl sample tables — then the container is parsed back
    through the general stsc/stco/stsz sample mapping, every 'jpeg'
    sample entropy-decoded, and a per-frame PSNR floor checked.
    `duration_ms` comes from the media clock (stts ticks over the
    mdhd timescale) and is digest math the oracle restates at 10 fps;
    a wrong box length, fixed-point width, timescale conversion, or
    chunk-offset expansion fails the value match (or refuses)."""

    def rows_of(doc_id, digest):
        w, h = 8 + digest[4] % 8, 8 + digest[5] % 8
        n = VIDEO_MIN_FRAMES + digest[2] % 3
        orig = _tile(digest, n, h, w, 3)
        dec, meta = isobmff.decode_mp4_frames(isobmff.encode_mp4_mjpeg(orig))
        ok = (
            dec.shape == orig.shape
            and meta["width"] == w
            and meta["height"] == h
            and meta["movie_timescale"] == isobmff.MOVIE_TIMESCALE
            and all(_psnr_db(*f) >= JPEG_PSNR_FLOOR_DB for f in zip(dec, orig))
        )
        yield doc_id, n, w, h, meta["duration_ms"], "mp4", ok

    return _map_rows(
        _spread(_digest_media(spark, sf_dir)),
        "doc_id long, n_frames int, width int, height int, "
        "duration_ms long, format string, frames_ok boolean",
        rows_of,
    )


# --------------------------------------------------------------------------
# MP3 (MPEG-1 Layer III) frame-header scan — metadata without decode
# --------------------------------------------------------------------------


def audio_mp3_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3 metadata scan over spec-valid MPEG-1 Layer III streams:
    each document gets a digest-parameterized stream — an ID3v2 tag
    (syncsafe size), then frames alternating between two bitrates
    with the padding bit set on odd frames — and the scanner walks
    the real header math (sync word, version/layer bits, bitrate and
    sample-rate tables, the 144000·kbps/sr+pad frame-length formula)
    to report frames, duration, stream geometry and CBR/VBR.  Every
    output column is digest math the oracle restates: a wrong frame
    length, missed padding bit, or broken ID3 skip desynchronizes the
    walk and fails the value match (or refuses).  No payload byte is
    ever read — the scan is header-bounded, exactly how a 100-TB
    corpus indexes compressed audio it never decodes."""

    def rows_of(doc_id, digest):
        n_frames = 4 + digest[8] % 8
        sr_idx = digest[9] % 3
        br1 = 1 + digest[10] % 14
        br2 = 1 + digest[11] % 14
        pad = digest[12] % 2  # odd frames carry the padding bit
        specs = [
            (br1 if i % 2 == 0 else br2, sr_idx, pad if i % 2 else 0)
            for i in range(n_frames)
        ]
        id3 = bytes(range(digest[13]))
        meta = mpegaudio.scan_mpeg_stream(
            mpegaudio.encode_mp3_stream(specs, id3_payload=id3)
        )
        yield (
            doc_id,
            meta["n_frames"],
            meta["sample_rate"],
            meta["duration_ms"],
            meta["stream_bytes"],
            meta["is_vbr"],
        )

    return _map_rows(
        _spread(_digest_media(spark, sf_dir)),
        "doc_id long, n_frames int, sample_rate int, duration_ms long, "
        "stream_bytes long, is_vbr boolean",
        rows_of,
    )


def audio_flac_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC metadata scan over spec-valid streams (operators/flac):
    each document gets a digest-parameterized file — STREAMINFO (bit-
    packed geometry + 36-bit total-samples), an optional placeholder
    SEEKTABLE, a Vorbis-comment block (little-endian lengths), optional
    PADDING, then an opaque audio tail — and the scanner walks the
    metadata chain exactly like metaflac/ffprobe: geometry and
    duration come from STREAMINFO (FLAC frames carry no length field,
    so the audio section is *not* walkable without decoding — the
    structural difference from the MP3 scanner, encoded here as
    design).  Every output column is digest math the oracle restates:
    a mis-shifted STREAMINFO bit field, a wrong block-header stride,
    or a big/little-endian slip desynchronizes the walk and fails the
    value match (or refuses)."""
    srs = [8000, 16000, 22050, 24000, 32000, 44100, 48000, 96000]

    def rows_of(doc_id, digest):
        sr = srs[digest[8] % 8]
        channels = 1 + digest[9] % 2
        bps = 16 if digest[10] % 2 == 0 else 24
        total = 1000 + digest[11] * 251 + digest[12]
        n_comm = digest[14] % 4
        meta = flac.scan_flac_stream(
            flac.encode_flac_stream(
                sr, channels, bps, total,
                n_seekpoints=digest[13] % 5,
                comments=[f"C{i:02d}=V" for i in range(n_comm)],
                padding_len=digest[15] % 64,
                audio_bytes=100 + digest[15],
            )
        )
        yield (
            doc_id,
            meta["sample_rate"],
            meta["channels"],
            meta["bits_per_sample"],
            meta["total_samples"],
            meta["duration_ms"],
            meta["n_blocks"],
            meta["n_seekpoints"],
            meta["n_comments"],
            meta["stream_bytes"],
        )

    return _map_rows(
        _spread(_digest_media(spark, sf_dir)),
        "doc_id long, sample_rate int, channels int, bits_per_sample int, "
        "total_samples long, duration_ms long, n_blocks int, "
        "n_seekpoints int, n_comments int, stream_bytes long",
        rows_of,
    )


def video_avc1_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H.264 (avc1) MP4 metadata walk — the codec a real crawl's video
    actually uses: each document gets a digest-parameterized avc1 MP4
    (spec-valid SPS/PPS inside the avcC record, real sample tables,
    opaque payloads), and the indexer extracts geometry (decoded from
    the SPS macroblock grid + frame cropping, cross-checked against
    tkhd), duration (stts over the media clock), profile/level, and
    sample-byte totals WITHOUT entropy-decoding a single frame.  Crop
    is exercised on purpose: half the widths/heights are not multiples
    of 16, so a wrong crop-unit or Exp-Golomb slip shifts geometry and
    fails the value match."""

    def rows_of(doc_id, digest):
        w = 160 + (digest[8] % 8) * 32 - (digest[9] % 2) * 6
        h = 96 + (digest[10] % 8) * 16 - (digest[11] % 2) * 4
        n = 2 + digest[12] % 6
        base = 50 + digest[13]
        payloads = [b"\x00" * (base + j) for j in range(n)]
        meta = isobmff.parse_mp4(isobmff.encode_mp4_avc1(w, h, payloads))
        yield (
            doc_id,
            meta["width"],
            meta["height"],
            meta["n_samples"],
            meta["duration_ms"],
            meta["profile_idc"],
            meta["level_idc"],
            sum(sz for _o, sz in meta["samples"]),
        )

    return _map_rows(
        _spread(_digest_media(spark, sf_dir)),
        "doc_id long, width int, height int, n_samples int, "
        "duration_ms long, profile_idc int, level_idc int, "
        "sample_bytes long",
        rows_of,
    )


#: Vorbis sample rates the Ogg fixtures pick from by digest byte.
_OGG_RATES = [8000, 11025, 16000, 22050, 24000, 32000, 44100, 48000]


def audio_ogg_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ogg Vorbis metadata scan (operators/ogg): each document gets a
    digest-parameterized stream — BOS page with the Vorbis id header,
    a comment+setup page, one EOS audio page — and the scanner walks
    every page by its LACING TABLE, verifying the spec CRC (poly
    0x04C11DB7, unreflected) per page, counting completed packets via
    terminating segments, and deriving duration from the final granule
    position.  Every output column is digest math the oracle restates:
    a wrong lacing stride, CRC slip or endianness mistake desyncs the
    walk and refuses."""

    def rows_of(doc_id, digest):
        sr = _OGG_RATES[digest[8] % 8]
        channels = 1 + digest[9] % 2
        n = 3 + digest[10] % 6
        base = 40 + digest[11] % 160
        granule = 256 * (1 + digest[12]) + digest[13]
        meta = ogg.scan_ogg_stream(
            ogg.encode_ogg_vorbis(
                sr, channels, [base + j for j in range(n)], granule
            )
        )
        yield (
            doc_id,
            meta["sample_rate"],
            meta["channels"],
            meta["n_pages"],
            meta["n_packets"],
            meta["duration_ms"],
            meta["stream_bytes"],
        )

    return _map_rows(
        _spread(_digest_media(spark, sf_dir)),
        "doc_id long, sample_rate int, channels int, n_pages int, "
        "n_packets int, duration_ms long, stream_bytes long",
        rows_of,
    )


def audio_ogg_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED Ogg scan (operators/ogg.scan_ogg, r11): each document
    gets a TWO-LINK physical stream — complete Ogg Vorbis streams
    concatenated, each with its own serial/BOS/EOS, the shape internet
    radio rips and `cat a.ogg b.ogg` arrive in — and the walker yields
    one row per link with its own geometry, duration, and BYTE SPAN.
    The oracle restates every column (page sizes are lacing math), so
    a value match proves per-link accounting never mixes links and the
    offsets make each link independently seekable."""

    def rows_of(doc_id, digest):
        links = []
        for off in (8, 12):
            sr = _OGG_RATES[digest[off] % 8]
            ch = 1 + digest[off + 1] % 2
            n = 2 + digest[off + 2] % 5
            base = 30 + digest[off + 3] % 120
            granule = 512 * (1 + digest[off] % 4)
            links.append((sr, ch, [base + j for j in range(n)], granule))
        for r in ogg.scan_ogg(ogg.encode_ogg_chain(links)):
            yield (
                doc_id,
                r["link"],
                r["sample_rate"],
                r["channels"],
                r["n_pages"],
                r["n_packets"],
                r["duration_ms"],
                r["byte_lo"],
                r["byte_hi"],
            )

    return _map_rows(
        _spread(_digest_media(spark, sf_dir)),
        "doc_id long, link int, sample_rate int, channels int, "
        "n_pages int, n_packets int, duration_ms long, byte_lo long, "
        "byte_hi long",
        rows_of,
    )


def probe_media(b: bytes) -> dict:
    """Magic-byte container dispatch — the sniffing layer a corpus
    indexer runs in front of the format walkers, so a mixed `binary`
    column routes each blob to the right metadata parser:

    - ``fLaC``            → FLAC metadata chain (operators/flac)
    - ``OggS``            → Ogg page walk (operators/ogg)
    - ``....ftyp``        → MP4/ISO-BMFF (operators/isobmff; avc1
                            metadata tier, jpeg decodable)
    - ``ID3`` / MP3 sync  → MPEG audio frame walk (operators/mpegaudio)
    - ``RIFF…WAVE``       → canonical PCM-WAV header
    - ``RIFF…AVI ``       → AVI (geometry/fps via the MP4-free parser)
    - BMP/PNG/JPEG magics → image metadata

    Returns ``{"container": ..., **format_fields}``; unknown magic
    refuses loudly (never guess a parser)."""
    if len(b) >= 4 and b[:4] == b"fLaC":
        return {"container": "flac", **flac.scan_flac_stream(b)}
    if len(b) >= 4 and b[:4] == b"OggS":
        return {"container": "ogg", **ogg.scan_ogg_stream(b)}
    if len(b) >= 12 and b[4:8] == b"ftyp":
        meta = isobmff.parse_mp4(b)
        meta.pop("samples", None)
        return {"container": "mp4", **meta}
    if (len(b) >= 3 and b[:3] == b"ID3") or (
        len(b) >= 2 and b[0] == 0xFF and (b[1] & 0xE0) == 0xE0
    ):
        return {"container": "mp3", **mpegaudio.scan_mpeg_stream(b)}
    if len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        sr, n_ch = struct.unpack_from("<IH", b, 24)[0], struct.unpack_from(
            "<H", b, 22
        )[0]
        bits = struct.unpack_from("<H", b, 34)[0]
        data_len = struct.unpack_from("<I", b, 40)[0]
        n = data_len // (n_ch * max(1, bits // 8))
        return {
            "container": "wav",
            "sample_rate": sr,
            "channels": n_ch,
            "bits_per_sample": bits,
            "duration_ms": n * 1000 // sr,
            "stream_bytes": len(b),
        }
    if len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"AVI ":
        frames, fps = _decode_avi(b)
        return {
            "container": "avi",
            "width": int(frames.shape[2]),
            "height": int(frames.shape[1]),
            "n_frames": int(frames.shape[0]),
            "fps": float(fps),
        }
    if len(b) >= 2 and b[:2] == b"BM":
        img = _decode_bmp(b)
        return {
            "container": "bmp",
            "width": int(img.shape[1]),
            "height": int(img.shape[0]),
        }
    if len(b) >= 8 and b[:8] == b"\x89PNG\r\n\x1a\n":
        w, h = struct.unpack_from(">II", b, 16)
        return {"container": "png", "width": int(w), "height": int(h)}
    if len(b) >= 2 and b[:2] == b"\xff\xd8":
        img = jpeg.decode_jpeg(b)
        return {
            "container": "jpeg",
            "width": int(img.shape[1]),
            "height": int(img.shape[0]),
        }
    raise ValueError(
        f"unrecognized media magic {b[:8]!r} — refusing to guess a parser"
    )


# --------------------------------------------------------------------------
# Perceptual image dedup — average-hash + banded Hamming join
# --------------------------------------------------------------------------


def image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit average hash per image: real BMP decode → grayscale →
    8×8 nearest-neighbor downsample → bit i = pixel_i > mean.  The
    standard perceptual fingerprint: byte-level re-encodes keep the
    hash, small pixel edits flip few bits.  Decode+hash runs in the
    Arrow batch where the bytes live; only (doc_id, int64) leaves."""

    def rows_of(doc_id, image_bytes):
        gray = _decode_bmp(bytes(image_bytes)).astype(np.float64).mean(axis=2)
        h, w = gray.shape
        rows = (np.arange(8) * h) // 8
        cols = (np.arange(8) * w) // 8
        g8 = gray[np.ix_(rows, cols)]
        bits = (g8 > g8.mean()).flatten()
        val = np.uint64(0)
        for i, bit in enumerate(bits):
            if bit:
                val |= np.uint64(1) << np.uint64(i)
        yield doc_id, np.int64(val)  # wrap bit 63 to signed

    return _map_rows(
        synthetic_bmp_media(spark, sf_dir), "doc_id long, ahash long", rows_of
    )


def image_ahash_pairs(
    spark: SparkSession, sf_dir: str, max_hamming: int = 3
) -> DataFrame:
    """Near-duplicate IMAGE pairs by perceptual hash, found distributed:
    quarter-banding on the 64-bit aHash (identical to the SimHash text
    path — any pair within ≤3 bit flips agrees exactly on ≥1 of the 4
    16-bit quarters, pigeonhole), then exact `bit_count(xor)` verify.
    The multimodal twin of `dedup.simhash_near_pairs`: candidates come
    from 4 hash joins over 16-bit band buckets, never an all-pairs
    image comparison — at 100 TB of images the pair stage only ever
    touches 8-byte signatures."""
    sig = image_ahash(spark, sf_dir)
    quarters = sig.select(
        "doc_id",
        "ahash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("ahash"), 16 * q)
                    .bitwiseAND(F.lit(0xFFFF))
                    .alias(f"q{q}")
                    for q in range(4)
                ]
            )
        ).alias("q", "qval"),
    )
    a = quarters.alias("a")
    b = quarters.alias("b")
    hamming = F.bit_count(F.col("a.ahash").bitwiseXOR(F.col("b.ahash")))
    return (
        a.join(
            b,
            (F.col("a.q") == F.col("b.q")) & (F.col("a.qval") == F.col("b.qval")),
        )
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


QUERIES = {
    "mm_image_metadata": image_metadata,
    "mm_image_ahash_pairs": image_ahash_pairs,
    "mm_frame_sample": frame_sample,
    "mm_video_metadata": video_metadata,
    "mm_audio_rms": audio_rms_windows,
    "mm_audio_segments": audio_low_energy_segments,
    "mm_image_resize": image_resize,
    "mm_image_png_pipeline": image_png_pipeline,
    "mm_image_jpeg_pipeline": image_jpeg_pipeline,
    "mm_video_mjpeg_pipeline": video_mjpeg_pipeline,
    "mm_audio_adpcm_pipeline": audio_adpcm_pipeline,
    "mm_audio_g711_pipeline": audio_g711_pipeline,
    "mm_audio_mp3_meta": audio_mp3_meta,
    "mm_audio_flac_meta": audio_flac_meta,
    "mm_video_avc1_meta": video_avc1_meta,
    "mm_audio_ogg_meta": audio_ogg_meta,
    "mm_audio_ogg_chain": audio_ogg_chain,
    "mm_video_mp4_pipeline": video_mp4_pipeline,
}

# The fixture bytes are digest-derived, so the REAL decoded features
# are SQL-expressible: each oracle recomputes header geometry, padded
# size, resize indexing, and signed-sample math from md5(text) —
# value-checking the whole generate → parse → feature path in DuckDB.
_BMP_DIMS = """
SELECT doc_id, md5(text) AS hx,
       2 + (('0x' || substr(md5(text), 1, 2))::INT % 8) AS w,
       2 + (('0x' || substr(md5(text), 3, 2))::INT % 8) AS h
FROM documents
"""

_IMAGE_META_SQL = f"""
SELECT doc_id,
       CAST(54 + h * ((3 * w + 3) // 4 * 4) AS INT) AS n_bytes,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       'bmp' AS format
FROM ({_BMP_DIMS})
"""

_RESIZE_SQL = f"""
WITH dims AS (
    SELECT *, (w + 1) // 2 AS out_w, (h + 1) // 2 AS out_h
    FROM ({_BMP_DIMS})
),
px AS (
    SELECT doc_id, out_w, out_h,
           ('0x' || substr(hx,
               2 * (((2 * r.x) * w * 3 + (2 * c.x) * 3 + ch.x) % 16) + 1,
               2))::BIGINT AS v
    FROM dims
    CROSS JOIN range(8) r(x)
    CROSS JOIN range(8) c(x)
    CROSS JOIN range(3) ch(x)
    WHERE r.x < out_h AND c.x < out_w
)
SELECT doc_id,
       CAST(out_w AS INT) AS out_width,
       CAST(out_h AS INT) AS out_height,
       CAST(54 + out_h * ((3 * out_w + 3) // 4 * 4) AS INT) AS n_bytes_out,
       CAST(SUM(v) AS BIGINT) AS pixel_sum
FROM px
GROUP BY doc_id, out_w, out_h
"""

_VIDEO_DIMS = """
SELECT doc_id, md5(text) AS hx,
       2 + (('0x' || substr(md5(text), 1, 2))::INT % 8) AS w,
       2 + (('0x' || substr(md5(text), 3, 2))::INT % 8) AS h,
       2 + (('0x' || substr(md5(text), 5, 2))::INT % 3) AS nf
FROM documents
"""

# container size = 12 (RIFF hdr) + 200 (hdrl) + 12 (movi LIST hdr+fourcc)
# + nf · (8 + h · padded_row); header math mirrors _encode_avi exactly
_VIDEO_META_SQL = f"""
SELECT doc_id,
       CAST(nf AS INT) AS n_frames,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       25.0 AS fps,
       CAST(224 + nf * (8 + h * ((3 * w + 3) // 4 * 4)) AS INT) AS n_bytes
FROM ({_VIDEO_DIMS})
"""

_FRAME_SAMPLE_SQL = f"""
WITH px AS (
    SELECT doc_id, f.x AS frame_idx,
           ('0x' || substr(hx,
               2 * ((f.x * h * w * 3 + r.x * w * 3 + c.x * 3 + ch.x) % 16) + 1,
               2))::BIGINT AS v
    FROM ({_VIDEO_DIMS})
    CROSS JOIN range(4) f(x)
    CROSS JOIN range(9) r(x)
    CROSS JOIN range(9) c(x)
    CROSS JOIN range(3) ch(x)
    WHERE f.x < nf AND f.x % 2 = 0 AND r.x < h AND c.x < w
)
SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(SUM(v) AS BIGINT) AS pixel_sum
FROM px
GROUP BY doc_id, frame_idx
"""

_AUDIO_RMS_SQL = f"""
SELECT doc_id,
       CAST(i // {AUDIO_WINDOW} AS INT) AS window_idx,
       sqrt(SUM(s * s) / {AUDIO_WINDOW}.0) AS rms,
       {AUDIO_WINDOW} AS n_samples
FROM (
    SELECT doc_id, i,
           CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
    FROM (
        SELECT doc_id, t.i AS i,
               ('0x' || substr(h, 4 * t.i + 1, 2))::BIGINT
               + 256 * ('0x' || substr(h, 4 * t.i + 3, 2))::BIGINT AS u
        FROM (SELECT doc_id, md5(text) AS h FROM documents)
        CROSS JOIN range({WAV_N_SAMPLES}) AS t(i)
    )
)
GROUP BY doc_id, i // {AUDIO_WINDOW}
"""

_PNG_DIMS = """
SELECT doc_id, md5(text) AS hx,
       2 + (('0x' || substr(md5(text), 5, 2))::INT % 8) AS w,
       2 + (('0x' || substr(md5(text), 7, 2))::INT % 8) AS h
FROM documents
"""

_PNG_PIPELINE_SQL = f"""
WITH dims AS (
    SELECT *, (w + 1) // 2 AS out_w, (h + 1) // 2 AS out_h
    FROM ({_PNG_DIMS})
),
px AS (
    SELECT doc_id, w, h, out_w, out_h, r.x AS r, c.x AS c,
           ('0x' || substr(hx,
               2 * ((r.x * w * 3 + c.x * 3 + ch.x) % 16) + 1,
               2))::BIGINT AS v
    FROM dims
    CROSS JOIN range(9) r(x)
    CROSS JOIN range(9) c(x)
    CROSS JOIN range(3) ch(x)
    WHERE r.x < h AND c.x < w
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(SUM(v) AS BIGINT) AS pixel_sum,
       CAST(out_w AS INT) AS out_width,
       CAST(out_h AS INT) AS out_height,
       CAST(SUM(CASE WHEN r % 2 = 0 AND c % 2 = 0 THEN v ELSE 0 END)
            AS BIGINT) AS resized_pixel_sum
FROM px
GROUP BY doc_id, w, h, out_w, out_h
"""

_JPEG_PIPELINE_SQL = """
SELECT doc_id,
       CAST(8 + (('0x' || substr(md5(text), 9, 2))::INT % 8) AS INT) AS width,
       CAST(8 + (('0x' || substr(md5(text), 11, 2))::INT % 8) AS INT) AS height,
       'jpeg' AS format,
       TRUE AS psnr_ok
FROM documents
"""

_MJPEG_PIPELINE_SQL = """
SELECT doc_id,
       CAST(2 + (('0x' || substr(md5(text), 5, 2))::INT % 3) AS INT) AS n_frames,
       CAST(8 + (('0x' || substr(md5(text), 9, 2))::INT % 8) AS INT) AS width,
       CAST(8 + (('0x' || substr(md5(text), 11, 2))::INT % 8) AS INT) AS height,
       'mjpeg' AS format,
       TRUE AS frames_ok
FROM documents
"""

_ADPCM_PIPELINE_SQL = """
SELECT doc_id,
       CAST(n_samples AS INT) AS n_samples,
       CAST(CEIL(n_samples / 65.0) AS INT) AS n_blocks,
       TRUE AS ratio_ok,
       TRUE AS snr_ok
FROM (
    SELECT doc_id,
           384 + (('0x' || substr(md5(text), 1, 2))::INT % 128) AS n_samples
    FROM documents
)
"""

_G711_PIPELINE_SQL = """
SELECT doc_id,
       CAST(384 + (('0x' || substr(md5(text), 9, 2))::INT % 128) AS INT)
           AS n_samples,
       TRUE AS mulaw_ok,
       TRUE AS alaw_ok
FROM documents
"""

# same digest geometry as MJPEG-AVI plus the 10-fps media-clock math
_MP4_PIPELINE_SQL = """
SELECT doc_id,
       CAST(2 + (('0x' || substr(md5(text), 5, 2))::INT % 3) AS INT)
           AS n_frames,
       CAST(8 + (('0x' || substr(md5(text), 9, 2))::INT % 8) AS INT)
           AS width,
       CAST(8 + (('0x' || substr(md5(text), 11, 2))::INT % 8) AS INT)
           AS height,
       CAST((2 + (('0x' || substr(md5(text), 5, 2))::INT % 3)) * 100
            AS BIGINT) AS duration_ms,
       'mp4' AS format,
       TRUE AS frames_ok
FROM documents
"""

# restates the ISO/IEC 11172-3 stream geometry from digest math: frame
# length 144000*kbps//sr (+pad on odd frames), syncsafe ID3 envelope,
# alternating-bitrate VBR classification
_MP3_META_SQL = """
WITH d AS (
    SELECT doc_id,
           4 + ('0x' || substr(md5(text), 17, 2))::INT % 8 AS n_frames,
           ('0x' || substr(md5(text), 19, 2))::INT % 3 AS sr_idx,
           1 + ('0x' || substr(md5(text), 21, 2))::INT % 14 AS br1,
           1 + ('0x' || substr(md5(text), 23, 2))::INT % 14 AS br2,
           ('0x' || substr(md5(text), 25, 2))::INT % 2 AS pad,
           ('0x' || substr(md5(text), 27, 2))::INT AS id3_payload
    FROM documents
),
t AS (
    SELECT doc_id, n_frames, br1, br2,
           CASE sr_idx WHEN 0 THEN 44100 WHEN 1 THEN 48000
                ELSE 32000 END AS sr,
           list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320],
                        br1) AS k1,
           list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320],
                        br2) AS k2,
           pad,
           CASE WHEN id3_payload = 0 THEN 0 ELSE 10 + id3_payload END
               AS id3_total
    FROM d
)
SELECT doc_id,
       CAST(n_frames AS INT) AS n_frames,
       CAST(sr AS INT) AS sample_rate,
       CAST((n_frames * 1152 * 1000) // sr AS BIGINT) AS duration_ms,
       CAST(id3_total
            + ((n_frames + 1) // 2) * ((144000 * k1) // sr)
            + (n_frames // 2) * ((144000 * k2) // sr + pad)
            AS BIGINT) AS stream_bytes,
       br1 <> br2 AS is_vbr
FROM t
"""

_FLAC_META_SQL = """
WITH d AS (
    SELECT doc_id,
           ('0x' || substr(md5(text), 17, 2))::INT % 8 AS sr_idx,
           1 + ('0x' || substr(md5(text), 19, 2))::INT % 2 AS channels,
           CASE WHEN ('0x' || substr(md5(text), 21, 2))::INT % 2 = 0
                THEN 16 ELSE 24 END AS bps,
           1000 + ('0x' || substr(md5(text), 23, 2))::INT * 251
                + ('0x' || substr(md5(text), 25, 2))::INT AS total_samples,
           ('0x' || substr(md5(text), 27, 2))::INT % 5 AS n_seek,
           ('0x' || substr(md5(text), 29, 2))::INT % 4 AS n_comm,
           ('0x' || substr(md5(text), 31, 2))::INT AS d15
    FROM documents
),
t AS (
    SELECT doc_id, channels, bps, total_samples, n_seek, n_comm, d15,
           list_extract([8000,16000,22050,24000,32000,44100,48000,96000],
                        sr_idx + 1) AS sr,
           d15 % 64 AS pad
    FROM d
)
SELECT doc_id,
       CAST(sr AS INT) AS sample_rate,
       CAST(channels AS INT) AS channels,
       CAST(bps AS INT) AS bits_per_sample,
       CAST(total_samples AS BIGINT) AS total_samples,
       CAST(total_samples * 1000 // sr AS BIGINT) AS duration_ms,
       CAST(2 + CASE WHEN n_seek > 0 THEN 1 ELSE 0 END
              + CASE WHEN pad > 0 THEN 1 ELSE 0 END AS INT) AS n_blocks,
       CAST(n_seek AS INT) AS n_seekpoints,
       CAST(n_comm AS INT) AS n_comments,
       CAST(4 + 38
            + CASE WHEN n_seek > 0 THEN 4 + 18 * n_seek ELSE 0 END
            + 4 + 28 + 9 * n_comm
            + CASE WHEN pad > 0 THEN 4 + pad ELSE 0 END
            + 100 + d15 AS BIGINT) AS stream_bytes
FROM t
"""

_AVC1_META_SQL = """
WITH d AS (
    SELECT doc_id,
           160 + (('0x' || substr(md5(text), 17, 2))::INT % 8) * 32
               - (('0x' || substr(md5(text), 19, 2))::INT % 2) * 6 AS width,
           96 + (('0x' || substr(md5(text), 21, 2))::INT % 8) * 16
              - (('0x' || substr(md5(text), 23, 2))::INT % 2) * 4 AS height,
           2 + ('0x' || substr(md5(text), 25, 2))::INT % 6 AS n,
           50 + ('0x' || substr(md5(text), 27, 2))::INT AS base
    FROM documents
)
SELECT doc_id,
       CAST(width AS INT) AS width,
       CAST(height AS INT) AS height,
       CAST(n AS INT) AS n_samples,
       CAST(n * 100 AS BIGINT) AS duration_ms,
       CAST(66 AS INT) AS profile_idc,
       CAST(30 AS INT) AS level_idc,
       CAST(n * base + n * (n - 1) // 2 AS BIGINT) AS sample_bytes
FROM d
"""

_OGG_META_SQL = """
WITH d AS (
    SELECT doc_id,
           ('0x' || substr(md5(text), 17, 2))::INT % 8 AS sr_idx,
           1 + ('0x' || substr(md5(text), 19, 2))::INT % 2 AS channels,
           3 + ('0x' || substr(md5(text), 21, 2))::INT % 6 AS n,
           40 + ('0x' || substr(md5(text), 23, 2))::INT % 160 AS base,
           256 * (1 + ('0x' || substr(md5(text), 25, 2))::INT)
               + ('0x' || substr(md5(text), 27, 2))::INT AS granule
    FROM documents
),
t AS (
    SELECT doc_id, channels, n, base, granule,
           list_extract([8000,11025,16000,22050,24000,32000,44100,48000],
                        sr_idx + 1) AS sr
    FROM d
)
SELECT doc_id,
       CAST(sr AS INT) AS sample_rate,
       CAST(channels AS INT) AS channels,
       CAST(3 AS INT) AS n_pages,
       CAST(n + 3 AS INT) AS n_packets,
       CAST(granule * 1000 // sr AS BIGINT) AS duration_ms,
       -- id page 58 + header page 122 + audio page (27 + n lacing
       -- bytes + sum of packet sizes base..base+n-1)
       CAST(58 + 122 + 27 + n + n * base + n * (n - 1) // 2
            AS BIGINT) AS stream_bytes
FROM t
"""

_OGG_CHAIN_SQL = """
WITH d AS (
    SELECT doc_id, g.link,
           CASE WHEN g.link = 0 THEN 17 ELSE 25 END AS o
    FROM documents, (SELECT UNNEST([0, 1]) AS link) g
),
p AS (
    SELECT doc_id, link,
           ('0x' || substr(md5(text), o, 2))::INT % 8 AS sr_idx,
           1 + ('0x' || substr(md5(text), o + 2, 2))::INT % 2
               AS channels,
           2 + ('0x' || substr(md5(text), o + 4, 2))::INT % 5 AS n,
           30 + ('0x' || substr(md5(text), o + 6, 2))::INT % 120
               AS base,
           512 * (1 + ('0x' || substr(md5(text), o, 2))::INT % 4)
               AS granule
    FROM documents JOIN d USING (doc_id)
),
t AS (
    SELECT doc_id, link, channels, n, base, granule,
           list_extract([8000,11025,16000,22050,24000,32000,44100,48000],
                        sr_idx + 1) AS sr,
           -- id page 58 + header page 122 + audio page
           -- (27 + n lacing bytes + sum base..base+n-1)
           58 + 122 + 27 + n + n * base + n * (n - 1) // 2 AS nbytes
    FROM p
)
SELECT doc_id,
       CAST(link AS INT) AS link,
       CAST(sr AS INT) AS sample_rate,
       CAST(channels AS INT) AS channels,
       CAST(3 AS INT) AS n_pages,
       CAST(n + 3 AS INT) AS n_packets,
       CAST(granule * 1000 // sr AS BIGINT) AS duration_ms,
       CAST(CASE WHEN link = 0 THEN 0
                 ELSE LAG(nbytes) OVER (
                     PARTITION BY doc_id ORDER BY link
                 ) END AS BIGINT) AS byte_lo,
       CAST(CASE WHEN link = 0 THEN nbytes
                 ELSE nbytes + LAG(nbytes) OVER (
                     PARTITION BY doc_id ORDER BY link
                 ) END AS BIGINT) AS byte_hi
FROM t
"""


ORACLES: dict[str, str] = {
    "mm_image_metadata": _IMAGE_META_SQL,
    "mm_frame_sample": _FRAME_SAMPLE_SQL,
    "mm_video_metadata": _VIDEO_META_SQL,
    "mm_audio_rms": _AUDIO_RMS_SQL,
    "mm_audio_segments": _AUDIO_SEGMENTS_SQL,
    "mm_image_resize": _RESIZE_SQL,
    "mm_image_png_pipeline": _PNG_PIPELINE_SQL,
    "mm_image_jpeg_pipeline": _JPEG_PIPELINE_SQL,
    "mm_video_mjpeg_pipeline": _MJPEG_PIPELINE_SQL,
    "mm_audio_adpcm_pipeline": _ADPCM_PIPELINE_SQL,
    "mm_audio_g711_pipeline": _G711_PIPELINE_SQL,
    "mm_audio_mp3_meta": _MP3_META_SQL,
    "mm_audio_flac_meta": _FLAC_META_SQL,
    "mm_video_avc1_meta": _AVC1_META_SQL,
    "mm_audio_ogg_meta": _OGG_META_SQL,
    "mm_audio_ogg_chain": _OGG_CHAIN_SQL,
    "mm_video_mp4_pipeline": _MP4_PIPELINE_SQL,
}
