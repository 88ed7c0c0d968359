"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real and tested -- binary columns, Arrow-batched
``mapInPandas`` with an explicit output schema, partition-sized batches.
All three legs are now codec-REAL via stdlib:

* AUDIO: ``attach_wav_binary`` builds genuine RIFF/WAVE 16-bit PCM
  payloads; ``decode_wav_meta`` / ``wav_frame_energy`` parse headers and
  samples with stdlib ``wave`` (no arithmetic stand-in).
* IMAGE: ``attach_png_binary`` builds genuine PNGs (zlib IDAT, valid
  CRCs); ``decode_png_meta`` parses the real IHDR and
  ``decode_image_pixels`` fully inflates + unfilters the scanlines
  (all five PNG filters) -- stdlib ``zlib``/``struct``, no PIL.
* VIDEO: ``attach_mpng_binary`` packs real PNG frames into a
  length-prefixed MPNG container; ``decode_mpng_meta`` walks the sample
  table and parses frame headers; ``sample_mpng_frames`` emits every
  k-th frame as genuine PNG bytes that feed the image pixel path.

* JPEG (round 6): ``attach_jpeg_binary`` encodes genuine baseline JFIF
  (quality-scaled quant tables, Huffman entropy coding, 4:4:4/4:2:0,
  restart markers) and ``decode_jpeg_pixel_stats`` /
  ``decode_image_pixels`` decode it for real -- stdlib+numpy, see
  ``operators/jpeg.py``.

What still needs an external codec is exactly what stdlib cannot
parse: WebP and progressive/arithmetic JPEG modes --
``decode_image_pixels`` / ``jpeg.decode_jpeg`` raise
NotImplementedError at the precise point such a codec would plug in,
and ``decode_image_meta`` remains the deterministic byte-length fake for
format-agnostic blobs (kept for the q40 oracle contract).

At 100 TB the pattern holds: binaries stay columnar in parquet, decode
happens inside mapInPandas per Arrow batch (no per-row Python), and
metadata-only queries never touch the heavy bytes thanks to parquet column
pruning.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_META_SCHEMA = (
    "doc_id long, n_bytes long, width int, height int, format string"
)


def attach_fake_binary(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Derive an opaque binary payload column (utf-8 bytes of the text).

    Stands in for reading real image bytes; everything downstream treats it
    as an opaque blob, exactly as a real pipeline would.
    """
    return df.withColumn("payload", F.encode(F.col(text_col), "utf-8"))


def decode_image_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Extract image metadata via Arrow-batched mapInPandas.

    Output: (doc_id, n_bytes, width, height, format). Batches arrive as
    pandas DataFrames (one per Arrow batch), so the per-record Python cost
    is vectorized away.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = pdf[payload_col].map(len)
            meta = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n.astype("int64"),
                    "width": (64 + n % 512).astype("int32"),
                    "height": (64 + (n * 7) % 512).astype("int32"),
                    "format": "FAKE",
                }
            )
            yield meta

    # spread across cores first: binary corpora commonly arrive as few
    # large files, and the decode is the expensive per-row step
    spread = df.select("doc_id", payload_col).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(decode, IMAGE_META_SCHEMA)


FRAME_SCHEMA = "doc_id long, frame_idx int, frame_bytes binary"


def sample_frames(
    df: DataFrame,
    frame_size: int = 256,
    max_frames: int = 8,
    payload_col: str = "payload",
) -> DataFrame:
    """Video frame sampling plumbing: one input blob -> N frame rows.

    The 1->N ``mapInPandas`` shape a real ffmpeg keyframe sampler plugs
    into: output batches are built per Arrow batch, frames stay binary,
    and the exploded rows re-distribute downstream work (a decode after
    this runs at frame, not video, granularity). The fake "sampler" chunks
    the payload into ``frame_size``-byte frames (first ``max_frames``),
    deterministic so tests can pin exact counts and bytes.
    """
    import math

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for did, b in zip(pdf["doc_id"], pdf[payload_col]):
                bs = bytes(b)
                n = min(max_frames, max(1, math.ceil(len(bs) / frame_size)))
                for i in range(n):
                    ids.append(did)
                    idxs.append(i)
                    frames.append(bs[i * frame_size : (i + 1) * frame_size])
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": pd.array(idxs, dtype="int32"),
                 "frame_bytes": frames}
            )

    spread = df.select("doc_id", payload_col).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(sample, FRAME_SCHEMA)


def byte_histogram_features(
    df: DataFrame,
    dim: int = 64,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Feature extraction plumbing: blob -> fixed-dim float vector.

    Stand-in for a real image/audio encoder (CLIP, wav2vec, ...): the
    numpy byte-histogram (count of byte%dim, length-normalized) is cheap,
    deterministic, and shape-identical to a model embedding, so the
    output feeds directly into the similarity operators
    (``cosine_topk`` / ``ivf_topk`` / ``cosine_neardup_pairs``) -- the
    full binary->embedding->ANN pipeline is testable without a model.
    Vectorized per Arrow batch via numpy; no per-row Python in the
    interpreter loop beyond the buffer view.
    """

    def feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            vecs = []
            for b in pdf[payload_col]:
                a = np.frombuffer(bytes(b), dtype=np.uint8)
                h = np.bincount(a % dim, minlength=dim).astype("float64")
                vecs.append((h / max(len(a), 1)).tolist())
            yield pd.DataFrame({id_col: pdf[id_col], "embedding": vecs})

    spread = df.select(id_col, payload_col).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(feat, f"{id_col} long, embedding array<double>")


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(pixels, width: int, height: int) -> bytes:
    """Pure-stdlib PNG encoder (8-bit grayscale, filter 0): signature +
    IHDR + zlib IDAT + IEND with correct CRCs -- a genuine PNG any
    standards-compliant reader opens. ``pixels`` is a row-major iterable
    of width*height ints in [0, 255]."""
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = bytearray()
    it = iter(pixels)
    for _ in range(height):
        raw.append(0)  # filter type 0 (None) per scanline
        for _ in range(width):
            raw.append(next(it) & 0xFF)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(data: bytes):
    """Pure-stdlib PNG decoder for 8-bit grayscale: validates the
    signature and per-chunk CRCs, parses IHDR, inflates IDAT, and undoes
    all five scanline filters (None/Sub/Up/Average/Paeth). Returns
    (width, height, bit_depth, color_type, pixels:list[int]). Raises
    ValueError on non-PNG bytes and NotImplementedError for color types /
    depths that would genuinely need a heavier codec."""
    import struct
    import zlib

    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG: bad signature")
    pos, width, height, depth, ctype, idat = 8, None, None, None, None, b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", data[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            width, height, depth, ctype = struct.unpack(">IIBB", body[:10])
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("PNG missing IHDR")
    if depth != 8 or ctype != 0:
        raise NotImplementedError(
            f"only 8-bit grayscale PNGs are decoded here (depth={depth}, "
            f"color_type={ctype}); other formats need a real codec library"
        )
    raw = zlib.decompress(idat)
    stride = width + 1
    out: list[int] = []
    prev = [0] * width
    for y in range(height):
        row = raw[y * stride : (y + 1) * stride]
        f, cur = row[0], list(row[1:])
        if f == 1:  # Sub
            for x in range(1, width):
                cur[x] = (cur[x] + cur[x - 1]) & 0xFF
        elif f == 2:  # Up
            for x in range(width):
                cur[x] = (cur[x] + prev[x]) & 0xFF
        elif f == 3:  # Average
            for x in range(width):
                left = cur[x - 1] if x else 0
                cur[x] = (cur[x] + (left + prev[x]) // 2) & 0xFF
        elif f == 4:  # Paeth
            for x in range(width):
                a = cur[x - 1] if x else 0
                b, c = prev[x], (prev[x - 1] if x else 0)
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (cur[x] + pr) & 0xFF
        elif f != 0:
            raise ValueError(f"unknown PNG filter {f}")
        out.extend(cur)
        prev = cur
    return width, height, depth, ctype, out


def attach_png_binary(
    df: DataFrame, id_col: str = "doc_id", len_col: str = "n_chars"
) -> DataFrame:
    """Attach a GENUINE PNG payload per row (8-bit grayscale, stdlib
    zlib/CRC encoding). Dimensions are deterministic functions of
    existing columns -- width = 4 + id%13, height = 3 + len%11 -- and the
    pixel pattern is ``(x*7 + y*13 + id) % 256``, so oracles predict
    metadata arithmetically and tests recompute exact pixels."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did, ln in zip(pdf[id_col], pdf[len_col]):
                w = 4 + int(did) % 13
                h = 3 + int(ln) % 11
                px = [
                    (x * 7 + y * 13 + int(did)) % 256
                    for y in range(h)
                    for x in range(w)
                ]
                payloads.append(encode_png(px, w, h))
            out = pdf[[id_col, len_col]].copy()
            out["payload"] = payloads
            yield out

    spread = df.select(id_col, len_col).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(
        gen, f"{id_col} long, {len_col} int, payload binary"
    )


PNG_META_SCHEMA = (
    "doc_id long, n_bytes long, width int, height int, bit_depth int, "
    "color_type int, format string"
)


def decode_png_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """REAL image header decode: signature check + IHDR parse + CRC
    validation on actual PNG bytes (stdlib, no PIL). The image twin of
    ``decode_wav_meta``."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct
        import zlib as _zlib

        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "n_bytes", "width", "height", "bit_depth",
                "color_type", "format",
            )}
            for did, b in zip(pdf["doc_id"], pdf[payload_col]):
                bs = bytes(b)
                if bs[:8] != b"\x89PNG\r\n\x1a\n":
                    raise ValueError("not a PNG payload")
                (length,) = struct.unpack(">I", bs[8:12])
                tag, body = bs[12:16], bs[16 : 16 + length]
                (crc,) = struct.unpack(">I", bs[16 + length : 20 + length])
                assert tag == b"IHDR" and (
                    _zlib.crc32(tag + body) & 0xFFFFFFFF == crc
                )
                w, h, depth, ctype = struct.unpack(">IIBB", body[:10])
                rows["doc_id"].append(did)
                rows["n_bytes"].append(len(bs))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["bit_depth"].append(depth)
                rows["color_type"].append(ctype)
                rows["format"].append("PNG")
            out = pd.DataFrame(rows)
            for c in ("width", "height", "bit_depth", "color_type"):
                out[c] = out[c].astype("int32")
            yield out

    spread = df.select("doc_id", payload_col).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(decode, PNG_META_SCHEMA)


def decode_image_pixels(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Full pixel decode, REAL for PNG (stdlib zlib inflate + all five
    scanline unfilters via :func:`decode_png`), 24-bit BMP, and baseline
    JPEG (stdlib Huffman+DCT via :func:`jpeg.decode_jpeg`). Output: one
    row per doc with the row-major grayscale pixel array. Formats that
    genuinely need an external codec (WebP, progressive/arithmetic
    JPEG) raise NotImplementedError at the exact point that codec would
    plug in."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .jpeg import decode_jpeg

        for pdf in batches:
            ids, pixels = [], []
            for did, b in zip(pdf["doc_id"], pdf[payload_col]):
                bs = bytes(b)
                if bs[:8] == b"\x89PNG\r\n\x1a\n":
                    _w, _h, _d, _c, px = decode_png(bs)
                elif bs[:2] == b"BM":
                    # color BMP -> integer luma (exact floor mean of BGR)
                    _w, _h, bgr = decode_bmp(bs)
                    px = [(p[0] + p[1] + p[2]) // 3 for p in bgr]
                elif bs[:2] == b"\xff\xd8":
                    # baseline JPEG -> integer luma (floor mean of RGB);
                    # progressive/arithmetic modes raise inside
                    _w, _h, nc, jp = decode_jpeg(bs)
                    px = (
                        jp
                        if nc == 1
                        else [(p[0] + p[1] + p[2]) // 3 for p in jp]
                    )
                else:
                    raise NotImplementedError(
                        "externally-coded image bytes (WebP/...) need a "
                        "codec library (PIL/opencv); plug it into this "
                        "mapInPandas -- PNG, 24-bit BMP, and baseline "
                        "JPEG decode here for real"
                    )
                ids.append(did)
                pixels.append(px)
            yield pd.DataFrame({"doc_id": ids, "pixels": pixels})

    spread = df.select("doc_id", payload_col).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(decode, "doc_id long, pixels array<int>")


# ---------------------------------------------------------------------
# BMP: the COLOR pixel leg, codec-real with pure stdlib struct (24-bit
# uncompressed BI_RGB). PNG proved grayscale; BMP proves 3-channel pixel
# statistics computed from actual decoded bytes -- NotImplementedError
# now remains only for externally-coded formats (JPEG/WebP/...).
# ---------------------------------------------------------------------


def encode_bmp(pixels_bgr, width: int, height: int) -> bytes:
    """Pure-stdlib 24-bit uncompressed BMP encoder (BITMAPINFOHEADER,
    bottom-up raster, 4-byte row padding). ``pixels_bgr`` is a row-major
    TOP-DOWN list of (b, g, r) tuples -- the encoder writes rows
    bottom-up as the format requires."""
    import struct

    if len(pixels_bgr) != width * height:
        raise ValueError("pixel count != width*height")
    row_stride = (width * 3 + 3) & ~3
    pad = b"\x00" * (row_stride - width * 3)
    raster = b"".join(
        b"".join(
            bytes(pixels_bgr[y * width + x]) for x in range(width)
        ) + pad
        for y in range(height - 1, -1, -1)  # bottom-up
    )
    data_offset = 14 + 40
    file_size = data_offset + len(raster)
    file_hdr = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, data_offset)
    info_hdr = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(raster),
        2835, 2835, 0, 0,
    )
    return file_hdr + info_hdr + raster


def decode_bmp(data: bytes):
    """Pure-stdlib decoder for 24-bit uncompressed BMP: validates magic,
    header sizes, and -- crucially -- that the raster actually contains
    the pixels the header claims (dimensions are MEASURED against the
    payload, not trusted). Returns (width, height, pixels) with pixels a
    row-major TOP-DOWN list of (b, g, r) tuples. ValueError on corrupt
    bytes; NotImplementedError for compressed / non-24-bit variants,
    which genuinely need a codec library."""
    import struct

    if data[:2] != b"BM":
        raise ValueError("not a BMP: bad magic")
    if len(data) < 54:
        raise ValueError("BMP truncated before headers")
    _, file_size, _, _, data_offset = struct.unpack("<2sIHHI", data[:14])
    (hdr_size, width, height, planes, bitcount, compression) = struct.unpack(
        "<IiiHHI", data[14:34]
    )
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    if bitcount != 24 or compression != 0:
        raise NotImplementedError(
            f"only 24-bit uncompressed BMP decoded here (bits={bitcount}, "
            f"compression={compression}); other variants need a codec lib"
        )
    if width <= 0 or height == 0:
        raise ValueError("BMP with non-positive dimensions")
    bottom_up = height > 0
    height = abs(height)
    row_stride = (width * 3 + 3) & ~3
    need = data_offset + row_stride * height
    if len(data) < need:
        raise ValueError(
            f"BMP raster truncated: header claims {width}x{height} "
            f"({need} bytes) but payload has {len(data)}"
        )
    pixels: list[tuple[int, int, int]] = []
    rows = range(height - 1, -1, -1) if bottom_up else range(height)
    for y in rows:
        base = data_offset + y * row_stride
        row = data[base : base + width * 3]
        pixels.extend(
            (row[x * 3], row[x * 3 + 1], row[x * 3 + 2])
            for x in range(width)
        )
    return width, height, pixels


def attach_bmp_binary(
    df: DataFrame,
    id_col: str = "doc_id",
    len_col: str = "n_chars",
    pattern: str = "ramp",
) -> DataFrame:
    """Attach a GENUINE 24-bit BMP payload per row. Dimensions and the
    per-channel pixel pattern are deterministic functions of existing
    columns -- width = 4 + id%13, height = 3 + len%11; ``pattern``:

    * ``'ramp'`` (default, the z83 oracle contract):
      (b, g, r) = ((x*7 + y*13 + id) % 256, (x*3 + y*5 + 2*id) % 256,
      (x*11 + y + 3*id) % 256)
    * ``'texture'`` (quadratic, wraps every few pixels -- the variant
      perceptual-hash entries need: the smooth ramp makes every local
      gradient point the same way and dHash degenerates to 0):
      (b, g, r) = ((x²*31 + y²*17 + id*97) % 256,
      (x²*13 + y²*29 + id*106) % 256, (x²*7 + y²*41 + id*33) % 256)

    so oracles recompute exact channel values arithmetically and tests
    verify exact pixels."""
    if pattern not in ("ramp", "texture"):
        raise ValueError(f"unknown pattern {pattern!r}: ramp | texture")
    textured = pattern == "texture"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did, ln in zip(pdf[id_col], pdf[len_col]):
                did, ln = int(did), int(ln)
                w, h = 4 + did % 13, 3 + ln % 11
                if textured:
                    px = [
                        (
                            (x * x * 31 + y * y * 17 + did * 97) % 256,
                            (x * x * 13 + y * y * 29 + did * 106) % 256,
                            (x * x * 7 + y * y * 41 + did * 33) % 256,
                        )
                        for y in range(h)
                        for x in range(w)
                    ]
                else:
                    px = [
                        (
                            (x * 7 + y * 13 + did) % 256,
                            (x * 3 + y * 5 + 2 * did) % 256,
                            (x * 11 + y + 3 * did) % 256,
                        )
                        for y in range(h)
                        for x in range(w)
                    ]
                payloads.append(encode_bmp(px, w, h))
            out = pdf[[id_col, len_col]].copy()
            out["payload"] = payloads
            yield out

    spread = df.select(id_col, len_col).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(
        gen, f"{id_col} long, {len_col} int, payload binary"
    )


BMP_STATS_SCHEMA = (
    "doc_id long, width int, height int, n_pixels long, "
    "sum_b long, sum_g long, sum_r long, "
    "mean_b_micros long, mean_g_micros long, mean_r_micros long, "
    "var_b_micros long, var_g_micros long, var_r_micros long"
)


def decode_bmp_pixel_stats(
    df: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """REAL per-channel pixel statistics from actual decoded BMP rasters:
    dimensions measured against the payload (a lying header raises), and
    mean/variance per channel in exact integer micros -- BIGINT-only
    arithmetic (``mean = halfup(1e6*sum/n)``,
    ``var = halfup(1e6*(n*sumsq - sum^2)/n^2)``) so the DuckDB oracle
    reproduces every value bit-for-bit (the q49 determinism rule)."""

    def halfup(num: int, den: int) -> int:
        return (2 * 1_000_000 * num + den) // (2 * den)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "width", "height", "n_pixels",
                "sum_b", "sum_g", "sum_r",
                "mean_b_micros", "mean_g_micros", "mean_r_micros",
                "var_b_micros", "var_g_micros", "var_r_micros",
            )}
            for did, b in zip(pdf["doc_id"], pdf[payload_col]):
                w, h, px = decode_bmp(bytes(b))
                a = np.asarray(px, dtype=np.int64)  # (n, 3) BGR
                n = w * h
                rows["doc_id"].append(did)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_pixels"].append(n)
                for ci, ch in enumerate("bgr"):
                    s = int(a[:, ci].sum())
                    sq = int((a[:, ci] * a[:, ci]).sum())
                    rows[f"sum_{ch}"].append(s)
                    rows[f"mean_{ch}_micros"].append(halfup(s, n))
                    rows[f"var_{ch}_micros"].append(
                        halfup(n * sq - s * s, n * n)
                    )
            out = pd.DataFrame(rows)
            for c in ("width", "height"):
                out[c] = out[c].astype("int32")
            yield out

    spread = df.select("doc_id", payload_col).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(decode, BMP_STATS_SCHEMA)


# ---------------------------------------------------------------------
# JPEG: the lossy-codec leg, codec-real in pure stdlib+numpy
# (operators/jpeg.py -- baseline sequential DCT, Huffman, 4:4:4/4:2:0,
# restart markers). Lossy means oracles cannot recompute decoded values
# arithmetically; instead the fixture is a SMOOTH linear gradient whose
# decode provably lands within a small quantization bound, and the
# gated columns are the measured dimensions + the tolerance verdict --
# a decoder that misreads real JPEG bytes (entropy stream, zigzag,
# chroma order, raster assembly) blows the bound by an order of
# magnitude. Exact-value pins live in the pytest suite (constant
# images round-trip bit-exactly through the DCT).
# ---------------------------------------------------------------------


def _jpeg_fixture_dims(doc_id: int, n_chars: int) -> tuple[int, int]:
    return 6 + doc_id % 19, 5 + n_chars % 18


def _jpeg_fixture_pixels(doc_id: int, w: int, h: int):
    """Row-major (r, g, b) linear gradient; every channel stays inside
    [20, 235] for the fixture dim range, so there is no wrap/clip edge
    for the DCT to ring on."""
    k_r = 20 + doc_id % 100
    k_g = 30 + (2 * doc_id) % 90
    k_b = 25 + (3 * doc_id) % 110
    return [
        (k_r + 2 * x + 3 * y, k_g + 3 * x + y, k_b + x + 2 * y)
        for y in range(h)
        for x in range(w)
    ]


def attach_jpeg_binary(
    df: DataFrame, id_col: str = "doc_id", len_col: str = "n_chars"
) -> DataFrame:
    """Attach a GENUINE baseline JFIF payload per row (quality 95,
    4:4:4), encoded by the stdlib codec in ``operators/jpeg.py``.
    Dimensions and the per-channel gradient are deterministic functions
    of existing columns (see ``_jpeg_fixture_dims`` /
    ``_jpeg_fixture_pixels``), so oracles recompute the dimensions and
    tests can regenerate the exact source pattern the decode is
    measured against."""
    from .jpeg import encode_jpeg

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did, ln in zip(pdf[id_col], pdf[len_col]):
                did, ln = int(did), int(ln)
                w, h = _jpeg_fixture_dims(did, ln)
                payloads.append(
                    encode_jpeg(
                        _jpeg_fixture_pixels(did, w, h), w, h, quality=95
                    )
                )
            out = pdf[[id_col, len_col]].copy()
            out["payload"] = payloads
            yield out

    spread = df.select(id_col, len_col).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(
        gen, f"{id_col} long, {len_col} int, payload binary"
    )


JPEG_STATS_SCHEMA = (
    "doc_id long, width int, height int, n_pixels long, "
    "n_components int, max_abs_err int, within_tol boolean"
)

# measured decode error for the gradient fixtures is 1-2; a channel
# swap, raster misorder, or chroma mixup is >= 6 by construction of the
# per-channel gradient slopes, so 4 separates cleanly
JPEG_ERR_TOL = 4


def decode_jpeg_pixel_stats(
    df: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Decode REAL JPEG payloads and gate the decoded pixels against the
    regenerated source gradient: (doc_id, width, height, n_pixels,
    n_components, max_abs_err, within_tol). Dimensions are measured
    from the actual SOF + raster assembly; ``max_abs_err`` is the max
    per-channel deviation of decoded vs source pixels and
    ``within_tol`` is its ``<= JPEG_ERR_TOL`` verdict -- the
    oracle-comparable certificate that real lossy bytes decoded
    correctly."""
    from .jpeg import decode_jpeg

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "width", "height", "n_pixels", "n_components",
                "max_abs_err", "within_tol",
            )}
            for did, b in zip(pdf["doc_id"], pdf[payload_col]):
                did = int(did)
                w, h, nc, px = decode_jpeg(bytes(b))
                got = np.asarray(px, dtype=np.int64)
                want = np.asarray(
                    _jpeg_fixture_pixels(did, w, h), dtype=np.int64
                )
                err = (
                    int(np.abs(got - want).max())
                    if got.shape == want.shape
                    else 255
                )
                rows["doc_id"].append(did)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_pixels"].append(w * h)
                rows["n_components"].append(nc)
                rows["max_abs_err"].append(err)
                rows["within_tol"].append(err <= JPEG_ERR_TOL)
            out = pd.DataFrame(rows)
            for c in ("width", "height", "n_components", "max_abs_err"):
                out[c] = out[c].astype("int32")
            yield out

    spread = df.select("doc_id", payload_col).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(decode, JPEG_STATS_SCHEMA)


PROGRESSIVE_FIXTURE_SCHEMA = (
    "doc_id long, width int, height int, n_components int, "
    "n_pixels long, min_px int, max_px int, sum_px long"
)


def decode_progressive_fixture_stats(df: DataFrame) -> DataFrame:
    """Decode the HAND-ASSEMBLED T.81 Annex G progressive stream
    (``jpeg.ANNEX_G_FIXTURE`` -- NOT produced by this repo's encoder)
    once per input row through the real Arrow-batched ``mapInPandas``
    plumbing and report exact pixel statistics.

    Because the fixture is DC-only with all-ones quantization, every
    statistic is an exact integer derivable by hand from the spec
    (left block 200, right block 168 -- see the fixture's construction
    comment), so the DuckDB oracle pins the full progressive decode
    path (spectral selection, successive approximation, DC refinement,
    EOB runs) bit-exactly with zero tolerance. This is the
    not-self-encoded interop leg the encoder<->decoder round-trip
    tests cannot provide (VERDICT r7 task #2)."""
    from .jpeg import ANNEX_G_FIXTURE, decode_jpeg

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            w, h, nc, px = decode_jpeg(ANNEX_G_FIXTURE)
            out = pd.DataFrame({"doc_id": pdf["doc_id"].astype("int64")})
            out["width"], out["height"] = w, h
            out["n_components"] = nc
            out["n_pixels"] = len(px)
            out["min_px"], out["max_px"] = min(px), max(px)
            out["sum_px"] = sum(px)
            for c in ("width", "height", "n_components", "min_px", "max_px"):
                out[c] = out[c].astype("int32")
            for c in ("n_pixels", "sum_px"):
                out[c] = out[c].astype("int64")
            yield out

    spread = df.select("doc_id").repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(decode, PROGRESSIVE_FIXTURE_SCHEMA)


LOSSLESS_ROUNDTRIP_SCHEMA = (
    "doc_id long, width int, height int, n_pixels long, "
    "sum_px long, min_px int, max_px int, exact_roundtrip boolean"
)


def lossless_jpeg_roundtrip_stats(df: DataFrame) -> DataFrame:
    """Per-doc LOSSLESS JPEG round-trip through the real Arrow-batched
    plumbing: a deterministic doc_id-seeded gradient is encoded with
    ``encode_jpeg_lossless`` (predictor cycling 1..7 by doc_id, so every
    Annex H predictor is exercised across the corpus), decoded back,
    and compared bit-for-bit. Because the codec is lossless the decoded
    pixel statistics equal the SOURCE gradient's statistics, which the
    DuckDB oracle recomputes arithmetically -- a zero-tolerance gate on
    the full encode+decode path (contrast z99, where lossy coding
    limits the oracle to dimensions + a tolerance certificate).

    Gradient: width = 6 + doc_id % 13, height = 5 + doc_id % 11,
    v(x, y) = (doc_id*7 + 3x + 5y) % 256.
    """
    from .jpeg import decode_jpeg, encode_jpeg_lossless

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "width", "height", "n_pixels",
                "sum_px", "min_px", "max_px", "exact_roundtrip",
            )}
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 6 + did % 13, 5 + did % 11
                src = [
                    (did * 7 + 3 * x + 5 * y) % 256
                    for y in range(h)
                    for x in range(w)
                ]
                enc = encode_jpeg_lossless(
                    src, w, h, predictor=1 + did % 7
                )
                gw, gh, nc, got = decode_jpeg(enc)
                rows["doc_id"].append(did)
                rows["width"].append(gw)
                rows["height"].append(gh)
                rows["n_pixels"].append(gw * gh)
                rows["sum_px"].append(sum(got))
                rows["min_px"].append(min(got))
                rows["max_px"].append(max(got))
                rows["exact_roundtrip"].append(
                    (gw, gh, nc) == (w, h, 1) and list(got) == src
                )
            out = pd.DataFrame(rows)
            for c in ("width", "height", "min_px", "max_px"):
                out[c] = out[c].astype("int32")
            for c in ("doc_id", "n_pixels", "sum_px"):
                out[c] = out[c].astype("int64")
            yield out

    spread = df.select("doc_id").repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(run, LOSSLESS_ROUNDTRIP_SCHEMA)


AUDIO_META_SCHEMA = (
    "doc_id long, n_bytes long, sample_rate int, n_samples long, "
    "duration_ms long, codec string"
)


def decode_audio_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Audio-header metadata via Arrow-batched mapInPandas (the audio leg
    of the multimodal family; same plumbing contract as
    ``decode_image_meta``).

    The fake "header parse" derives (sample_rate, n_samples, duration_ms)
    arithmetically from the byte length -- a real implementation replaces
    the arithmetic with `soundfile.info`/ffprobe inside the same batch
    loop. Deterministic, so the DuckDB oracle verifies the distributed
    plumbing end-to-end: sample_rate cycles {8,16,44.1,48} kHz by length,
    n_samples assumes 16-bit mono frames, duration = samples/rate.
    """
    rates = [8000, 16000, 44100, 48000]

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = pdf[payload_col].map(len).astype("int64")
            rate = n.mod(4).map(lambda i: rates[i]).astype("int32")
            samples = (n // 2).astype("int64")  # fake: 16-bit mono PCM
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n,
                    "sample_rate": rate,
                    "n_samples": samples,
                    "duration_ms": (samples * 1000 // rate).astype("int64"),
                    "codec": "FAKEPCM",
                }
            )

    spread = df.select("doc_id", payload_col).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(decode, AUDIO_META_SCHEMA)


WAV_RATES = [8000, 16000, 44100, 48000]
WAV_HEADER_BYTES = 44  # canonical PCM RIFF header (12 RIFF + 24 fmt + 8 data)


def attach_wav_binary(
    df: DataFrame, id_col: str = "doc_id", len_col: str = "n_chars"
) -> DataFrame:
    """Attach a GENUINE RIFF/WAVE payload per row (16-bit mono PCM built
    with stdlib ``wave``), replacing the fake text-bytes blob for the
    audio leg. Parameters are deterministic functions of existing columns
    -- sample_rate cycles WAV_RATES by ``id_col % 4``, n_samples =
    64 + (len_col * 7) % 1000, samples are a fixed sawtooth scaled by
    (id % 5 + 1) -- so an oracle can predict the decoded metadata
    arithmetically while the decoder itself must parse real headers.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        import numpy as np

        for pdf in batches:
            payloads = []
            for did, ln in zip(pdf[id_col], pdf[len_col]):
                rate = WAV_RATES[int(did) % 4]
                n_samples = 64 + (int(ln) * 7) % 1000
                amp = int(did) % 5 + 1
                pcm = (
                    (np.arange(n_samples, dtype=np.int64) % 256 - 128)
                    * 64 * amp
                ).astype("<i2")
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(rate)
                    w.writeframes(pcm.tobytes())
                payloads.append(buf.getvalue())
            out = pdf[[id_col, len_col]].copy()
            out["payload"] = payloads
            yield out

    spread = df.select(id_col, len_col).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(
        gen, f"{id_col} long, {len_col} int, payload binary"
    )


WAV_META_SCHEMA = (
    "doc_id long, n_bytes long, sample_rate int, n_channels int, "
    "n_samples long, duration_ms long, codec string"
)


def decode_wav_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """REAL audio header decode (stdlib ``wave``, no external codec): the
    payload bytes are parsed as RIFF/WAVE -- rate, channels, frame count
    come from the actual header fields, not arithmetic on byte length.
    This is the environmental-gap closure for the audio leg; the pixel
    path (``decode_image_pixels``) remains the only stub.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "n_bytes", "sample_rate", "n_channels",
                "n_samples", "duration_ms", "codec",
            )}
            for did, b in zip(pdf["doc_id"], pdf[payload_col]):
                bs = bytes(b)
                with wave.open(io.BytesIO(bs), "rb") as w:
                    rate = w.getframerate()
                    n = w.getnframes()
                    rows["doc_id"].append(did)
                    rows["n_bytes"].append(len(bs))
                    rows["sample_rate"].append(rate)
                    rows["n_channels"].append(w.getnchannels())
                    rows["n_samples"].append(n)
                    rows["duration_ms"].append(n * 1000 // rate)
                    rows["codec"].append(f"PCM{8 * w.getsampwidth()}")
            pdf_out = pd.DataFrame(rows)
            pdf_out["sample_rate"] = pdf_out["sample_rate"].astype("int32")
            pdf_out["n_channels"] = pdf_out["n_channels"].astype("int32")
            yield pdf_out

    spread = df.select("doc_id", payload_col).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(decode, WAV_META_SCHEMA)


def wav_frame_energy(
    df: DataFrame,
    n_frames: int = 16,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """REAL PCM feature extraction: decode 16-bit samples with stdlib
    ``wave`` + numpy, then per-span RMS energy normalized to [0, 1] --
    the audio twin of ``byte_histogram_features`` but over actual decoded
    samples rather than raw blob bytes. Output feeds the ANN operators.
    """

    def feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        import numpy as np

        for pdf in batches:
            vecs = []
            for b in pdf[payload_col]:
                with wave.open(io.BytesIO(bytes(b)), "rb") as w:
                    raw = w.readframes(w.getnframes())
                a = np.frombuffer(raw, dtype="<i2").astype("float64")
                if len(a) == 0:
                    vecs.append([0.0] * n_frames)
                    continue
                spans = np.array_split(a, n_frames)
                vecs.append(
                    [
                        float(np.sqrt(np.mean(s * s))) / 32768.0 if len(s) else 0.0
                        for s in spans
                    ]
                )
            yield pd.DataFrame({id_col: pdf[id_col], "embedding": vecs})

    spread = df.select(id_col, payload_col).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(feat, f"{id_col} long, embedding array<double>")


def frame_energy_features(
    df: DataFrame,
    n_frames: int = 16,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Audio feature plumbing: blob -> fixed-length per-frame energy vector
    (stand-in for log-mel / wav2vec frames; same contract as
    ``byte_histogram_features``, so the output feeds the ANN operators).

    The payload is split into ``n_frames`` equal spans; each span's
    "energy" is the mean of its bytes, normalized to [0, 1]. Vectorized
    per Arrow batch with numpy; short payloads pad with zeros.
    """

    def feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            vecs = []
            for b in pdf[payload_col]:
                a = np.frombuffer(bytes(b), dtype=np.uint8)
                if len(a) == 0:
                    vecs.append([0.0] * n_frames)
                    continue
                spans = np.array_split(a, n_frames)
                vecs.append(
                    [float(s.mean()) / 255.0 if len(s) else 0.0 for s in spans]
                )
            yield pd.DataFrame({id_col: pdf[id_col], "embedding": vecs})

    spread = df.select(id_col, payload_col).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(feat, f"{id_col} long, embedding array<double>")


# ---------------------------------------------------------------------------
# Video leg: motion-PNG container (codec-real with stdlib only).
# Layout: b"MPNG" | u16 fps | u32 n_frames | n_frames x (u32 len | PNG bytes)
# ---------------------------------------------------------------------------

MPNG_MAGIC = b"MPNG"


def encode_mpng(frames: list[bytes], fps: int) -> bytes:
    """Pack real PNG frames into the MPNG container (length-prefixed,
    like every real AV container's sample table -- the parser must walk
    offsets, not split on markers)."""
    import struct

    out = bytearray(MPNG_MAGIC)
    out += struct.pack(">HI", fps, len(frames))
    for f in frames:
        out += struct.pack(">I", len(f)) + f
    return bytes(out)


def attach_mpng_binary(
    df: DataFrame, id_col: str = "doc_id", len_col: str = "n_chars"
) -> DataFrame:
    """Attach a GENUINE multi-frame video payload per row: n_frames real
    stdlib-encoded PNGs in an MPNG container. All parameters are
    deterministic functions of existing columns so oracles predict
    metadata arithmetically: fps = 10 + id%20, n_frames = 2 + id%5,
    frame dims = (4 + id%13) x (3 + len%11), frame f's pixels =
    (x*7 + y*13 + id + f*31) % 256."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did, ln in zip(pdf[id_col], pdf[len_col]):
                did, ln = int(did), int(ln)
                w, h = 4 + did % 13, 3 + ln % 11
                frames = [
                    encode_png(
                        [
                            (x * 7 + y * 13 + did + f * 31) % 256
                            for y in range(h)
                            for x in range(w)
                        ],
                        w,
                        h,
                    )
                    for f in range(2 + did % 5)
                ]
                payloads.append(encode_mpng(frames, 10 + did % 20))
            out = pdf[[id_col, len_col]].copy()
            out["payload"] = payloads
            yield out

    spread = df.select(id_col, len_col).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(
        gen, f"{id_col} long, {len_col} int, payload binary"
    )


def decode_mpng_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """REAL video-container decode: magic + header parse, a walk of every
    length-prefixed frame, and an IHDR parse (with CRC check) of the
    first frame. duration_ms is integer millis (n_frames * 1000 div fps)
    -- no float anywhere, so the oracle is exact."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct
        import zlib as _zlib

        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "n_frames", "fps", "width", "height",
                "duration_ms", "format",
            )}
            for did, b in zip(pdf["doc_id"], pdf[payload_col]):
                bs = bytes(b)
                if bs[:4] != MPNG_MAGIC:
                    raise ValueError("not an MPNG payload")
                fps, n_frames = struct.unpack(">HI", bs[4:10])
                pos, dims = 10, None
                for _ in range(n_frames):
                    (flen,) = struct.unpack(">I", bs[pos : pos + 4])
                    frame = bs[pos + 4 : pos + 4 + flen]
                    if dims is None:
                        if frame[:8] != b"\x89PNG\r\n\x1a\n":
                            raise ValueError("frame 0 is not a PNG")
                        (ilen,) = struct.unpack(">I", frame[8:12])
                        tag, body = frame[12:16], frame[16 : 16 + ilen]
                        (crc,) = struct.unpack(
                            ">I", frame[16 + ilen : 20 + ilen]
                        )
                        if (
                            tag != b"IHDR"
                            or _zlib.crc32(tag + body) & 0xFFFFFFFF != crc
                        ):
                            raise ValueError("frame 0 IHDR invalid")
                        dims = struct.unpack(">II", body[:8])
                    pos += 4 + flen
                if pos != len(bs):
                    raise ValueError("trailing bytes after last frame")
                rows["doc_id"].append(did)
                rows["n_frames"].append(n_frames)
                rows["fps"].append(fps)
                rows["width"].append(dims[0])
                rows["height"].append(dims[1])
                rows["duration_ms"].append(n_frames * 1000 // fps)
                rows["format"].append("MPNG")
            yield pd.DataFrame(rows)

    spread = df.select("doc_id", payload_col)
    return spread.mapInPandas(
        decode,
        "doc_id long, n_frames int, fps int, width int, height int, "
        "duration_ms long, format string",
    )


def sample_mpng_frames(
    df: DataFrame,
    stride: int = 2,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keyframe-style sampling from the REAL container: every
    ``stride``-th frame is emitted as its own row of genuine PNG bytes --
    each output row decodes with :func:`decode_png`. The 1->N
    ``mapInPandas`` fan-out an ffmpeg sampler plugs into (same output
    contract as :func:`sample_frames`, but the bytes are real frames,
    not byte-range chunks)."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        for pdf in batches:
            ids, idxs, frames = [], [], []
            for did, b in zip(pdf[id_col], pdf[payload_col]):
                bs = bytes(b)
                if bs[:4] != MPNG_MAGIC:
                    raise ValueError("not an MPNG payload")
                _, n_frames = struct.unpack(">HI", bs[4:10])
                pos = 10
                for f in range(n_frames):
                    (flen,) = struct.unpack(">I", bs[pos : pos + 4])
                    if f % stride == 0:
                        ids.append(did)
                        idxs.append(f)
                        frames.append(bs[pos + 4 : pos + 4 + flen])
                    pos += 4 + flen
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "frame_idx": pd.array(idxs, dtype="int32"),
                    "frame_bytes": frames,
                }
            )

    spread = df.select(id_col, payload_col)
    return spread.mapInPandas(sample, FRAME_SCHEMA)


def frame_pixel_stats(frames: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-frame REAL pixel statistics: each (doc, frame) row's PNG bytes
    go through the full stdlib decode (inflate + unfilter) and reduce to
    width/height/pixel_sum -- the video twin of the z12 image path, at
    frame granularity. Input contract = :data:`FRAME_SCHEMA` (the output
    of ``sample_mpng_frames`` / ``sample_frames``)."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "frame_idx", "width", "height", "pixel_sum",
            )}
            for did, fi, b in zip(
                pdf[id_col], pdf["frame_idx"], pdf["frame_bytes"]
            ):
                w, h, _d, _c, px = decode_png(bytes(b))
                rows["doc_id"].append(did)
                rows["frame_idx"].append(fi)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["pixel_sum"].append(sum(px))
            yield pd.DataFrame(rows)

    return frames.mapInPandas(
        stats,
        "doc_id long, frame_idx int, width int, height int, pixel_sum long",
    )


def decode_mpng_meta_robust(
    df: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Quarantine-mode video decode: like :func:`decode_mpng_meta`, but a
    payload that fails ANY structural check (magic, frame walk, IHDR CRC,
    trailing bytes) yields a row with NULL metadata and the error message
    in ``_error`` instead of failing the job -- at 100 TB some corrupt
    bytes are a certainty, and one bad blob must cost one quarantined row,
    not a stage retry storm. Callers split on ``_error IS NULL`` (the
    same rule-based-quarantine shape as ``sources/robust.py``).
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct
        import zlib as _zlib

        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "n_frames", "fps", "width", "height",
                "duration_ms", "format", "_error",
            )}
            for did, b in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    bs = bytes(b)
                    if bs[:4] != MPNG_MAGIC:
                        raise ValueError("not an MPNG payload")
                    fps, n_frames = struct.unpack(">HI", bs[4:10])
                    if fps == 0:
                        raise ValueError("fps is zero")
                    pos, dims = 10, None
                    for _ in range(n_frames):
                        if pos + 4 > len(bs):
                            raise ValueError("truncated frame table")
                        (flen,) = struct.unpack(">I", bs[pos : pos + 4])
                        if pos + 4 + flen > len(bs):
                            raise ValueError("truncated frame payload")
                        frame = bs[pos + 4 : pos + 4 + flen]
                        if dims is None:
                            if frame[:8] != b"\x89PNG\r\n\x1a\n":
                                raise ValueError("frame 0 is not a PNG")
                            (ilen,) = struct.unpack(">I", frame[8:12])
                            tag = frame[12:16]
                            body = frame[16 : 16 + ilen]
                            (crc,) = struct.unpack(
                                ">I", frame[16 + ilen : 20 + ilen]
                            )
                            if (
                                tag != b"IHDR"
                                or _zlib.crc32(tag + body) & 0xFFFFFFFF != crc
                            ):
                                raise ValueError("frame 0 IHDR invalid")
                            dims = struct.unpack(">II", body[:8])
                        pos += 4 + flen
                    if pos != len(bs):
                        raise ValueError("trailing bytes after last frame")
                    rows["doc_id"].append(did)
                    rows["n_frames"].append(n_frames)
                    rows["fps"].append(fps)
                    rows["width"].append(dims[0])
                    rows["height"].append(dims[1])
                    rows["duration_ms"].append(n_frames * 1000 // fps)
                    rows["format"].append("MPNG")
                    rows["_error"].append(None)
                except (ValueError, struct.error) as e:
                    rows["doc_id"].append(did)
                    for k in ("n_frames", "fps", "width", "height",
                              "duration_ms", "format"):
                        rows[k].append(None)
                    rows["_error"].append(str(e))
            yield pd.DataFrame(rows)

    return df.select("doc_id", payload_col).mapInPandas(
        decode,
        "doc_id long, n_frames int, fps int, width int, height int, "
        "duration_ms long, format string, _error string",
    )


def image_dhash(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    grid: int = 8,
) -> DataFrame:
    """Perceptual difference-hash (dHash) from REAL decoded pixels --
    the standard near-duplicate-image key a multimodal training
    pipeline deduplicates on (brightness-shift invariant: a constant
    luma offset cannot flip a neighbor comparison): decode the payload
    (PNG/24-bit BMP/baseline JPEG, same codec-real legs as
    :func:`decode_image_pixels`), sample a ``grid`` x ``grid`` luma
    raster at nearest-neighbor coordinates ``x_i = (i*w)//grid``,
    ``y_j = (j*h)//grid`` (works for images smaller than the grid), set
    bit ``j*(grid-1)+i`` when ``g[j][i] > g[j][i+1]``, pack
    grid*(grid-1) bits into a BIGINT (56 bits at the default grid=8 --
    deliberately one comparison column short of classic 9x8/64-bit
    dHash so the key stays in SIGNED 64-bit range for both engines).

    One Arrow-batched mapInPandas pass; output (``id_col``, dhash).
    Group/dedup downstream with a plain hash groupBy -- identical
    images, re-encodes, and global-brightness variants collide by
    construction.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .jpeg import decode_jpeg

        for pdf in batches:
            ids, hashes = [], []
            for did, b in zip(pdf[id_col], pdf[payload_col]):
                bs = bytes(b)
                if bs[:8] == b"\x89PNG\r\n\x1a\n":
                    w, h, _d, _c, px = decode_png(bs)
                elif bs[:2] == b"BM":
                    w, h, bgr = decode_bmp(bs)
                    px = [(p[0] + p[1] + p[2]) // 3 for p in bgr]
                elif bs[:2] == b"\xff\xd8":
                    w, h, nc, jp = decode_jpeg(bs)
                    px = (
                        jp
                        if nc == 1
                        else [(p[0] + p[1] + p[2]) // 3 for p in jp]
                    )
                else:
                    raise NotImplementedError(
                        "externally-coded image bytes (WebP/...) need a "
                        "codec library; PNG, 24-bit BMP, and baseline "
                        "JPEG hash here for real"
                    )
                g = [
                    [
                        px[((j * h) // grid) * w + ((i * w) // grid)]
                        for i in range(grid)
                    ]
                    for j in range(grid)
                ]
                hv = 0
                for j in range(grid):
                    for i in range(grid - 1):
                        if g[j][i] > g[j][i + 1]:
                            hv |= 1 << (j * (grid - 1) + i)
                ids.append(int(did))
                hashes.append(hv)
            yield pd.DataFrame({id_col: ids, "dhash": hashes})

    spread = df.select(id_col, payload_col).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(gen, f"{id_col} long, dhash long")
