"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The real engine treats images/audio/video as ``binary`` columns with typed
metadata and runs decode / feature-extract as Arrow-batched Pandas UDFs via
``mapInPandas`` — that Spark-side plumbing (schema, batching, partitioning,
UDF signature) is implemented and tested here. The codec itself is STUBBED:
this container has no image/audio libraries, so ``decode_image`` raises
``NotImplementedError`` and the feature extractor computes deterministic
byte-level features instead, keeping the pipeline runnable and testable.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apitap_spark.registry import gate
from apitap_spark.session import read_table


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """Pure-stdlib PNG decode → (width, height, channels, raw pixel bytes).

    Supports the subset a training-data crawl actually contains:
    grey/grey+alpha/RGB/RGBA at 8- and 16-bit depth (16-bit samples are
    downscaled to their high byte — the standard thumbnail-feature
    treatment), palette images (color type 3) at 1/2/4/8-bit index
    depth expanded to RGB via PLTE, sub-byte greyscale (1/2/4-bit,
    rescaled to full 8-bit range), all five scanline filters
    (None/Sub/Up/Average/Paeth), and BOTH interlace modes — Adam7
    streams decode as seven filtered sub-images whose samples scatter
    back to their final positions. Only video/JPEG remain
    NotImplementedError (a real deployment plugs Pillow/ffmpeg behind
    the same signature).
    """
    import struct
    import zlib

    if data[:8] != PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos = 8
    width = height = color_type = bit_depth = None
    interlace = 0
    idat: list[bytes] = []
    plte = b""
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # 4 len + 4 type + data + 4 crc
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
            if interlace not in (0, 1):
                raise ValueError(f"unknown interlace method {interlace}")
            allowed = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
                       4: (8, 16), 6: (8, 16)}
            if color_type not in allowed:
                raise NotImplementedError(f"PNG color type {color_type}")
            if bit_depth not in allowed[color_type]:
                raise ValueError(
                    f"invalid bit depth {bit_depth} for color {color_type}"
                )
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("truncated PNG (missing IHDR/IDAT)")
    if color_type == 3 and not plte:
        raise ValueError("palette PNG missing PLTE chunk")
    n_samples = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    raw = zlib.decompress(b"".join(idat))
    bpp = max(1, (n_samples * bit_depth) // 8)
    if interlace == 0:
        # filtering operates on raw scanline BYTES; the left-neighbor
        # offset is whole-bytes-per-pixel (>=1 even for sub-byte depths)
        stride = (width * n_samples * bit_depth + 7) // 8
        if len(raw) != (stride + 1) * height:
            raise ValueError("PNG scanline payload size mismatch")
        unfiltered, _ = _unfilter(raw, 0, stride, height, bpp)
        return _expand_samples(
            unfiltered, width, height, stride, bit_depth, color_type,
            n_samples, plte,
        )
    # Adam7: seven filtered sub-images, each with its OWN scanline
    # filter chain (prev row resets per pass); samples scatter back to
    # (x0 + i*dx, y0 + j*dy) in the full image
    samples = [0] * (width * height * n_samples)
    offset = 0
    for x0, y0, dx, dy in _ADAM7_PASSES:
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        pstride = (pw * n_samples * bit_depth + 7) // 8
        sub, offset = _unfilter(raw, offset, pstride, ph, bpp)
        for j in range(ph):
            row = sub[j * pstride : (j + 1) * pstride]
            vals = _row_sample_ints(row, pw, n_samples, bit_depth)
            y = y0 + j * dy
            for i in range(pw):
                x = x0 + i * dx
                base = (y * width + x) * n_samples
                for c in range(n_samples):
                    samples[base + c] = vals[i * n_samples + c]
    if offset != len(raw):
        raise ValueError("PNG interlaced payload size mismatch")
    return _finalize_samples(
        samples, width, height, bit_depth, color_type, n_samples, plte
    )


# Adam7 pass geometry: (x_start, y_start, x_step, y_step)
_ADAM7_PASSES = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _unfilter(
    raw: bytes, offset: int, stride: int, height: int, bpp: int
) -> tuple[bytes, int]:
    """Undo scanline filtering for ``height`` lines of ``stride`` bytes
    starting at ``offset`` (each line prefixed by its filter byte).
    Returns (unfiltered bytes, next offset)."""
    need = (stride + 1) * height
    if offset + need > len(raw):
        raise ValueError("PNG scanline payload size mismatch")
    out = bytearray(stride * height)
    prev = bytes(stride)
    for y in range(height):
        base = offset + y * (stride + 1)
        ftype = raw[base]
        line = bytearray(raw[base + 1 : base + 1 + stride])
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                ul = prev[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown PNG filter {ftype}")
        out[y * stride : (y + 1) * stride] = line
        prev = line
    return bytes(out), offset + need


def _row_sample_ints(
    row: bytes, width: int, n_samples: int, bit_depth: int
) -> list[int]:
    """One unfiltered scanline -> native-depth sample ints (row-major,
    interleaved)."""
    n = width * n_samples
    if bit_depth == 8:
        return list(row[:n])
    if bit_depth == 16:
        return [
            (row[2 * i] << 8) | row[2 * i + 1] for i in range(n)
        ]
    per_byte = 8 // bit_depth
    mask = (1 << bit_depth) - 1
    return [
        (row[i // per_byte] >> (8 - bit_depth * ((i % per_byte) + 1))) & mask
        for i in range(n)
    ]


def _finalize_samples(
    samples: list[int], width: int, height: int, bit_depth: int,
    color_type: int, n_samples: int, plte: bytes,
) -> tuple[int, int, int, bytes]:
    """Native-depth sample ints -> the decoder's 8-bit output contract
    (16-bit -> high byte, sub-byte grey rescaled, palette -> RGB)."""
    if bit_depth == 16:
        return width, height, n_samples, bytes(v >> 8 for v in samples)
    if color_type == 3:
        n_entries = len(plte) // 3
        out = bytearray(width * height * 3)
        for i, v in enumerate(samples):
            if v >= n_entries:
                raise ValueError(f"palette index {v} out of range")
            out[i * 3 : i * 3 + 3] = plte[v * 3 : v * 3 + 3]
        return width, height, 3, bytes(out)
    if bit_depth < 8:
        scale = 255 // ((1 << bit_depth) - 1)
        return width, height, 1, bytes(v * scale for v in samples)
    return width, height, n_samples, bytes(samples)


def _expand_samples(
    unfiltered: bytes, width: int, height: int, stride: int, bit_depth: int,
    color_type: int, n_samples: int, plte: bytes,
) -> tuple[int, int, int, bytes]:
    """Unfiltered scanline bytes → 8-bit interleaved pixel samples."""
    if bit_depth == 8 and color_type != 3:
        return width, height, n_samples, unfiltered
    if bit_depth == 16:
        # big-endian 16-bit samples -> high byte (the 8-bit projection)
        return width, height, n_samples, unfiltered[::2]
    # sub-byte sample unpack, MSB-first within each byte, per scanline
    per_byte = 8 // bit_depth
    mask = (1 << bit_depth) - 1
    idx = bytearray(width * height)
    p = 0
    for y in range(height):
        row = unfiltered[y * stride : (y + 1) * stride]
        for x in range(width):
            b = row[x // per_byte] if bit_depth < 8 else row[x]
            if bit_depth < 8:
                shift = 8 - bit_depth * ((x % per_byte) + 1)
                b = (b >> shift) & mask
            idx[p] = b
            p += 1
    if color_type == 0:
        # rescale 1/2/4-bit grey to full 8-bit range (255/(2^d - 1))
        scale = 255 // mask
        return width, height, 1, bytes(v * scale for v in idx)
    # palette lookup -> RGB triples
    n_entries = len(plte) // 3
    out = bytearray(width * height * 3)
    for i, v in enumerate(idx):
        if v >= n_entries:
            raise ValueError(f"palette index {v} out of range")
        out[i * 3 : i * 3 + 3] = plte[v * 3 : v * 3 + 3]
    return width, height, 3, bytes(out)


def decode_image(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode an image payload → (width, height, channels, pixel bytes).

    PNG (baseline 8-bit subset) decodes for real via the pure-stdlib
    decoder above, and JPEG — both SOF0 baseline sequential and SOF2
    progressive (spectral selection + successive approximation) — via
    jpeg_baseline.decode_jpeg; no codec libraries exist in this
    container, so all paths are first-principles implementations
    (rounds 2, 6 and 7). Arithmetic-coded / 12-bit / hierarchical JPEG
    and other formats still raise: a real deployment plugs
    Pillow/ffmpeg here behind the same signature, and callers treat
    decode failure as per-row fallback, never a job abort (a 100 TB
    scan WILL contain corrupt files).
    """
    if payload[:8] == PNG_MAGIC:
        return _decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        from apitap_spark.operators.jpeg_baseline import decode_jpeg

        return decode_jpeg(payload)
    raise NotImplementedError(
        "only PNG and baseline/progressive JPEG decode in this "
        "environment; plug Pillow/ffmpeg here for other formats"
    )


FEATURE_SCHEMA = (
    "doc_id bigint, n_bytes bigint, head_byte bigint, tail_byte bigint, "
    "mean_byte double, img_width bigint, img_height bigint, "
    "img_channels bigint, mean_pixel double, modality string"
)


def _extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched feature extraction over (doc_id, payload) frames.

    Shape of a real extractor: per Arrow batch, vectorize over rows,
    emit fixed-schema frames. PNG payloads decode for real (pure-stdlib
    baseline decoder) and contribute pixel features; everything else
    falls back to deterministic byte statistics — per-row fallback, so
    one corrupt file never aborts a 100 TB scan.
    """
    def mean_byte(b: bytes) -> float:
        if not b:
            return 0.0
        # integer round-half-up at 6dp, then one IEEE double division —
        # reproducible in SQL; Python round() is half-EVEN and DuckDB
        # ROUND half-away, so neither survives an exact oracle at ties
        return ((sum(b) * 2_000_000 + len(b)) // (2 * len(b))) / 1e6

    def image_cols(b: bytes) -> tuple[int, int, int, float, str]:
        if b[:8] != PNG_MAGIC:
            return (-1, -1, -1, -1.0, "binary/text-stub")
        try:
            w, h, c, px = _decode_png(b)
        except Exception:  # noqa: BLE001 — any decode failure = fallback row
            return (-1, -1, -1, -1.0, "binary/decode-error")
        return (w, h, c, mean_byte(px), "image/png")

    for pdf in batches:
        payloads = pdf["payload"]
        n = payloads.str.len().astype("int64")
        img = payloads.map(image_cols)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_bytes": n,
                "head_byte": payloads.map(lambda b: b[0] if len(b) else -1).astype("int64"),
                "tail_byte": payloads.map(lambda b: b[-1] if len(b) else -1).astype("int64"),
                "mean_byte": payloads.map(mean_byte).astype("float64"),
                "img_width": img.map(lambda t: t[0]).astype("int64"),
                "img_height": img.map(lambda t: t[1]).astype("int64"),
                "img_channels": img.map(lambda t: t[2]).astype("int64"),
                "mean_pixel": img.map(lambda t: t[3]).astype("float64"),
                "modality": img.map(lambda t: t[4]),
            }
        )


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Attach the opaque binary column + typed metadata struct.

    In production this is the parquet/lance binary column as stored; here
    the documents' text bytes stand in so the plumbing runs end-to-end.
    """
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.octet_length("text").alias("size_bytes"),
            F.col("source").alias("origin"),
        ).alias("media_meta"),
    )


@gate(
    "op_multimodal_features",
    """
    WITH sized AS (
      SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_bytes,
           CAST(CASE WHEN n = 0 THEN -1 ELSE ascii(substr(text, 1, 1)) END
                AS BIGINT) AS head_byte,
           CAST(CASE WHEN n = 0 THEN -1 ELSE ascii(substr(text, n, 1)) END
                AS BIGINT) AS tail_byte,
           CASE WHEN n = 0 THEN 0.0
                ELSE CAST((list_aggregate(list_transform(
                             range(1, CAST(n AS BIGINT) + 1),
                             i -> ascii(substr(text, CAST(i AS BIGINT), 1))),
                           'sum') * 2000000 + n) // (2 * n) AS DOUBLE) / 1000000.0
           END AS mean_byte,
           CAST(-1 AS BIGINT) AS img_width,
           CAST(-1 AS BIGINT) AS img_height,
           CAST(-1 AS BIGINT) AS img_channels,
           CAST(-1.0 AS DOUBLE) AS mean_pixel,
           'binary/text-stub' AS modality
    FROM sized
    """,
)
def op_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction via mapInPandas (Arrow batches).

    Plan shape at scale: narrow transformation — no shuffle at all; each
    executor streams Arrow batches through the Python worker. Partition
    sizing governs Python memory: repartition upstream if payloads are
    large (images), never collect.

    Oracle-able because the stand-in payloads are ASCII: the SQL replays
    the byte stats (integer half-up mean, one IEEE double division) —
    proving the Arrow plumbing end-to-end against an engine that never
    saw a Python worker.
    """
    docs = read_table(spark, sf_dir, "documents")
    payloads = with_binary_payload(docs).select("doc_id", "payload")
    return payloads.mapInPandas(_extract_features, schema=FEATURE_SCHEMA)


FRAME_BYTES = 256  # fake frame size for the frame-sample plumbing
FRAME_STEP = 4  # sample every 4th frame (fps-style decimation)


def _sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched frame sampling over (doc_id, payload): chop the
    payload into FRAME_BYTES frames, keep every FRAME_STEP-th, emit one
    row per sampled frame with its offset/length and an md5 of the frame
    bytes. A real video path replaces the chopper with an ffmpeg seek —
    the batching, fan-out schema, and per-frame hashing are the same.
    """
    import hashlib

    for pdf in batches:
        out: dict[str, list] = {
            "doc_id": [],
            "frame_idx": [],
            "frame_offset": [],
            "frame_len": [],
            "frame_md5": [],
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n = len(payload)
            n_frames = (n + FRAME_BYTES - 1) // FRAME_BYTES
            for idx in range(0, n_frames, FRAME_STEP):
                off = idx * FRAME_BYTES
                chunk = payload[off : off + FRAME_BYTES]
                out["doc_id"].append(int(doc_id))
                out["frame_idx"].append(idx)
                out["frame_offset"].append(off)
                out["frame_len"].append(len(chunk))
                out["frame_md5"].append(hashlib.md5(chunk).hexdigest())
        yield pd.DataFrame(out)


@gate(
    "op_multimodal_frame_sample",
    f"""
    WITH sized AS (
      SELECT doc_id, text, octet_length(encode(text)) AS n
      FROM documents
    ),
    frames AS (
      SELECT doc_id, text, n,
             unnest(range(0, CAST((n + {FRAME_BYTES - 1}) // {FRAME_BYTES} AS BIGINT),
                          {FRAME_STEP})) AS frame_idx
      FROM sized
    )
    SELECT doc_id,
           CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(frame_idx * {FRAME_BYTES} AS BIGINT) AS frame_offset,
           CAST(LEAST({FRAME_BYTES}, n - frame_idx * {FRAME_BYTES}) AS BIGINT)
             AS frame_len,
           md5(substr(text, CAST(frame_idx * {FRAME_BYTES} + 1 AS BIGINT),
                      {FRAME_BYTES})) AS frame_md5
    FROM frames
    """,
)
def op_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling plumbing: payload → fixed-size frames → every k-th
    frame, one output row per sampled frame (offset, length, content
    hash) via mapInPandas.

    The oracle replays the chop arithmetic and per-frame md5 in SQL —
    byte-exact because the stand-in payloads are ASCII (1 byte/char);
    a real video corpus has no SQL oracle, which is exactly why the
    plumbing is proven on one that does. Narrow transformation, no
    shuffle; fan-out is rows-per-frame, so partition sizing bounds the
    Arrow batch growth.
    """
    docs = read_table(spark, sf_dir, "documents")
    payloads = with_binary_payload(docs).select("doc_id", "payload")
    return payloads.mapInPandas(
        _sample_frames,
        schema=(
            "doc_id bigint, frame_idx bigint, frame_offset bigint, "
            "frame_len bigint, frame_md5 string"
        ),
    )


RESIZE_STRIDE = 8  # keep every 8th byte — the downsample stub


def _resize_payloads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched 'resize': stride-decimate the payload bytes — the
    deterministic stand-in for an image thumbnailer (same signature:
    binary in, smaller binary + new dims out)."""
    import hashlib

    for pdf in batches:
        small = pdf["payload"].map(lambda b: bytes(b[:: RESIZE_STRIDE]))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "orig_bytes": pdf["payload"].str.len().astype("int64"),
                "resized_bytes": small.str.len().astype("int64"),
                "resized_md5": small.map(lambda b: hashlib.md5(b).hexdigest()),
            }
        )


@gate(
    "op_multimodal_resize",
    f"""
    WITH sized AS (
      SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS orig_bytes,
           CAST((n + {RESIZE_STRIDE - 1}) // {RESIZE_STRIDE} AS BIGINT)
             AS resized_bytes,
           md5(list_aggregate(list_transform(
                 range(1, CAST(n AS BIGINT) + 1, {RESIZE_STRIDE}),
                 i -> substr(text, CAST(i AS BIGINT), 1)), 'string_agg', ''))
             AS resized_md5
    FROM sized
    """,
)
def op_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing: binary in → decimated binary out (every 8th
    byte), with old/new sizes and a content hash of the result. A real
    deployment swaps the stride for Pillow's resampler; the Arrow
    batch shape, schema, and no-shuffle plan are identical. ASCII
    stand-in payloads make the SQL oracle byte-exact.
    """
    docs = read_table(spark, sf_dir, "documents")
    payloads = with_binary_payload(docs).select("doc_id", "payload")
    return payloads.mapInPandas(
        _resize_payloads,
        schema=(
            "doc_id bigint, orig_bytes bigint, resized_bytes bigint, "
            "resized_md5 string"
        ),
    )


@gate(
    "op_multimodal_metadata",
    """
    SELECT doc_id,
           'text/plain' AS mime,
           CAST(octet_length(encode(text)) AS BIGINT) AS size_bytes,
           source AS origin
    FROM documents
    """,
)
def op_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata projection of the binary column (oracle-checkable
    half of the multimodal path — byte sizes must agree exactly)."""
    docs = read_table(spark, sf_dir, "documents")
    m = with_binary_payload(docs)
    return m.select(
        "doc_id",
        F.col("media_meta.mime").alias("mime"),
        F.col("media_meta.size_bytes").cast("bigint").alias("size_bytes"),
        F.col("media_meta.origin").alias("origin"),
    )


PHASH_GW, PHASH_GH = 9, 8  # dHash grid: 9 columns x 8 rows -> 64 bits


def _dhash_grid(grid: list[int]) -> tuple[int, int]:
    """64 dHash bits from a row-major 9x8 intensity grid, packed as two
    bigints (hi = rows 0-3, lo = rows 4-7; 32 bits each) — a single
    64-bit int would overflow signed int64 when bit 63 is set."""
    hi = lo = 0
    for y in range(PHASH_GH):
        for x in range(PHASH_GW - 1):
            bit = 1 if grid[y * PHASH_GW + x + 1] > grid[y * PHASH_GW + x] else 0
            k = y * (PHASH_GW - 1) + x
            if k < 32:
                hi |= bit << k
            else:
                lo |= bit << (k - 32)
    return hi, lo


def phash_of_payload(payload: bytes) -> tuple[int, int, str]:
    """(phash_hi, phash_lo, modality) for one payload.

    PNG payloads decode for real: integer luma -> nearest-sample 9x8
    grid -> dHash. Anything else falls back to a character-codepoint
    grid (first 72 codepoints of the utf-8 decode, zero-padded; raw
    bytes only for non-UTF-8 payloads) so the plumbing stays total and
    the stand-in gate oracle replays it exactly — including non-ASCII
    text, where byte indexing and SQL ascii() would diverge.
    """
    try:
        w, h, c, px = decode_image(payload)
        def luma(i: int) -> int:
            o = i * c
            if c >= 3:
                return (299 * px[o] + 587 * px[o + 1] + 114 * px[o + 2]) // 1000
            return px[o]

        grid = [
            luma(((y * h) // PHASH_GH) * w + (x * w) // PHASH_GW)
            for y in range(PHASH_GH)
            for x in range(PHASH_GW)
        ]
        return (*_dhash_grid(grid), "image/png")
    except Exception:  # noqa: BLE001 — per-row fallback: one corrupt
        # payload must never abort a 100 TB scan (zlib.error, struct.error,
        # truncation — anything decode_image can raise)
        try:
            cells = [ord(ch) for ch in payload.decode("utf-8")]
        except UnicodeDecodeError:
            cells = list(payload)
        grid = [
            cells[i] if i < len(cells) else 0
            for i in range(PHASH_GW * PHASH_GH)
        ]
        return (*_dhash_grid(grid), "binary/text-stub")


PHASH_SCHEMA = "doc_id bigint, phash_hi bigint, phash_lo bigint, modality string"


def _extract_phash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        res = [phash_of_payload(p) for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "phash_hi": pd.Series([r[0] for r in res], dtype="int64"),
                "phash_lo": pd.Series([r[1] for r in res], dtype="int64"),
                "modality": [r[2] for r in res],
            }
        )


def _phash_oracle() -> str:
    def g(i: int) -> str:
        # character codepoints, matching the fallback's utf-8 decode —
        # byte indexing vs ascii() would diverge on any non-ASCII text
        return (
            f"CASE WHEN {i} < LENGTH(text)"
            f" THEN ascii(substr(text, {i + 1}, 1)) ELSE 0 END"
        )

    hi_terms, lo_terms = [], []
    for y in range(PHASH_GH):
        for x in range(PHASH_GW - 1):
            k = y * (PHASH_GW - 1) + x
            bit = (
                f"(CASE WHEN {g(y * PHASH_GW + x + 1)} > {g(y * PHASH_GW + x)}"
                f" THEN 1 ELSE 0 END)"
            )
            if k < 32:
                hi_terms.append(f"{bit} * {1 << k}")
            else:
                lo_terms.append(f"{bit} * {1 << (k - 32)}")
    return f"""
    SELECT doc_id,
           CAST({" + ".join(hi_terms)} AS BIGINT) AS phash_hi,
           CAST({" + ".join(lo_terms)} AS BIGINT) AS phash_lo,
           'binary/text-stub' AS modality
    FROM documents
    """


@gate("op_multimodal_phash", _phash_oracle())
def op_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hashing (dHash, Krawetz's public difference-hash
    scheme): decode -> integer luma -> nearest-sample 9x8 grid ->
    64 gradient bits — the image near-dup primitive (two re-encodes of
    one photo share a hash; crops/edits differ by a small Hamming
    distance, so LSH-style banding over the two 32-bit halves finds
    candidates without pairwise scans).

    Plan: narrow mapInPandas (Arrow batches, no shuffle) — identical
    plumbing to op_multimodal_features. The gate's stand-in payloads are
    ASCII text bytes, exercising the fallback byte-grid path that the
    DuckDB oracle replays bit-exactly; the REAL PNG decode -> luma ->
    grid path is pytest-proven on fixture images (filter-type-invariant
    hashes, Hamming locality under pixel edits).
    """
    docs = read_table(spark, sf_dir, "documents")
    payloads = with_binary_payload(docs).select("doc_id", "payload")
    return payloads.mapInPandas(_extract_phash, schema=PHASH_SCHEMA)


PHASH_HAMMING_MAX = 6  # near-dup threshold; 4 x 16-bit bands => pigeonhole-complete


def _phash_pairs_oracle() -> str:
    base = _phash_oracle()
    return f"""
    WITH ph AS ({base}),
    banded AS (
      SELECT doc_id, phash_hi, phash_lo, b.band,
             CASE b.band
               WHEN 0 THEN phash_hi % 65536
               WHEN 1 THEN phash_hi // 65536
               WHEN 2 THEN phash_lo % 65536
               ELSE phash_lo // 65536
             END AS band_val
      FROM ph, (SELECT unnest([0, 1, 2, 3]) AS band) b
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
             a.phash_hi AS h1, a.phash_lo AS l1,
             b.phash_hi AS h2, b.phash_lo AS l2
      FROM banded a
      JOIN banded b ON a.band = b.band AND a.band_val = b.band_val
                    AND a.doc_id < b.doc_id
    )
    SELECT d1, d2,
           CAST(bit_count(xor(h1, h2)) + bit_count(xor(l1, l2)) AS BIGINT)
             AS hamming
    FROM cand
    WHERE bit_count(xor(h1, h2)) + bit_count(xor(l1, l2))
            <= {PHASH_HAMMING_MAX}
    """


@gate("op_dedup_phash_pairs", _phash_pairs_oracle())
def op_dedup_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate pairing: documents whose dHash
    signatures differ by at most PHASH_HAMMING_MAX of 64 bits — the
    image-dedup rung that catches re-encodes, recompressions and small
    crops byte-level dedup misses. Candidate generation is the
    pigeonhole band trick over 4 x 16-bit bands: d differing bits can
    dirty at most d bands, so any pair with d <= 3 MUST share a clean
    band (hard guarantee); for d in (3, 6] recall is partial and high
    in practice because re-encode damage clusters spatially (adjacent
    grid cells -> adjacent bits). A deployment wanting the hard
    guarantee at d <= 6 splits into 8 x 8-bit bands — the same
    recall/candidate-volume dial as MinHash banding.

    Scale: the band equi-join replaces the all-pairs scan exactly like
    MinHash-LSH banding; Hamming distance is two XOR+bit_count integer
    ops both engines compute identically.
    """
    docs = read_table(spark, sf_dir, "documents")
    payloads = with_binary_payload(docs).select("doc_id", "payload")
    ph = payloads.mapInPandas(_extract_phash, schema=PHASH_SCHEMA).localCheckpoint()
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.when(F.lit(i) == 0, F.col("phash_hi") % 65536)
                .when(F.lit(i) == 1, F.expr("phash_hi div 65536"))
                .when(F.lit(i) == 2, F.col("phash_lo") % 65536)
                .otherwise(F.expr("phash_lo div 65536"))
                .alias("band_val"),
            )
            for i in range(4)
        ]
    )
    banded = ph.select(
        "doc_id", "phash_hi", "phash_lo", F.explode(bands).alias("b")
    ).select(
        "doc_id",
        "phash_hi",
        "phash_lo",
        F.col("b.band").alias("band"),
        F.col("b.band_val").alias("band_val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.phash_hi").alias("h1"),
            F.col("a.phash_lo").alias("l1"),
            F.col("b.phash_hi").alias("h2"),
            F.col("b.phash_lo").alias("l2"),
        )
        .distinct()
    )
    hamming = F.bit_count(
        F.col("h1").bitwiseXOR(F.col("h2"))
    ) + F.bit_count(F.col("l1").bitwiseXOR(F.col("l2")))
    return cand.select(
        "d1", "d2", hamming.cast("bigint").alias("hamming")
    ).filter(F.col("hamming") <= PHASH_HAMMING_MAX)


# --- L105: audio VAD plumbing (PCM framing + energy-threshold activity) -----

AUDIO_FRAME = 40  # samples (bytes) per frame; ragged tail frame dropped
AUDIO_CENTER = 100  # DC offset removed from each unsigned 8-bit sample
AUDIO_VAD_THRESH = 36500  # frame active iff sum((b-center)^2) >= thresh


def _audio_vad(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched VAD over (doc_id, payload): treat the payload as
    unsigned 8-bit PCM, frame it, compute per-frame energy, threshold
    into active/silent, and reduce to per-doc segment stats (active
    count + longest active run). A real audio path swaps the byte
    reader for a wav/flac decoder — framing, energy, thresholding and
    the run-length reduction are unchanged."""
    for pdf in batches:
        out: dict[str, list] = {
            "doc_id": [],
            "n_samples": [],
            "n_frames": [],
            "n_active": [],
            "longest_run": [],
            "total_energy": [],
            "mean_frame_energy": [],
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            data = bytes(payload)
            nf = len(data) // AUDIO_FRAME
            energies = [
                sum(
                    (b - AUDIO_CENTER) * (b - AUDIO_CENTER)
                    for b in data[i * AUDIO_FRAME : (i + 1) * AUDIO_FRAME]
                )
                for i in range(nf)
            ]
            active = [e >= AUDIO_VAD_THRESH for e in energies]
            longest = run = 0
            for a in active:
                run = run + 1 if a else 0
                longest = max(longest, run)
            total = sum(energies)
            # integer half-up mean at 1e-6, same arithmetic as the oracle
            mean = (
                float((total * 2_000_000 + nf) // (2 * nf)) / 1_000_000.0
                if nf
                else 0.0
            )
            out["doc_id"].append(int(doc_id))
            out["n_samples"].append(len(data))
            out["n_frames"].append(nf)
            out["n_active"].append(sum(active))
            out["longest_run"].append(longest)
            out["total_energy"].append(total)
            out["mean_frame_energy"].append(mean)
        yield pd.DataFrame(out)


_AUDIO_VAD_ORACLE = f"""
    WITH sized AS (
      SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
    ),
    frames AS (
      SELECT doc_id, n, text,
             unnest(range(0, n // {AUDIO_FRAME})) AS fi
      FROM sized
    ),
    e AS (
      SELECT doc_id, n, fi,
             list_aggregate(list_transform(
               range(fi * {AUDIO_FRAME} + 1, fi * {AUDIO_FRAME} + {AUDIO_FRAME} + 1),
               i -> (ascii(substr(text, CAST(i AS BIGINT), 1)) - {AUDIO_CENTER})
                  * (ascii(substr(text, CAST(i AS BIGINT), 1)) - {AUDIO_CENTER})),
               'sum') AS energy
      FROM frames
    ),
    runs AS (
      SELECT doc_id,
             fi - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY fi) AS grp
      FROM e WHERE energy >= {AUDIO_VAD_THRESH}
    ),
    run_lens AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS run_len
      FROM runs GROUP BY doc_id, grp
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(MAX(n) AS BIGINT) AS n_samples,
             CAST(COUNT(*) AS BIGINT) AS n_frames,
             CAST(SUM(CASE WHEN energy >= {AUDIO_VAD_THRESH} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_active,
             CAST(SUM(energy) AS BIGINT) AS total_energy
      FROM e GROUP BY doc_id
    )
    SELECT p.doc_id, p.n_samples, p.n_frames, p.n_active,
           CAST(COALESCE((SELECT MAX(run_len) FROM run_lens r
                          WHERE r.doc_id = p.doc_id), 0) AS BIGINT) AS longest_run,
           p.total_energy,
           CAST((p.total_energy * 2000000 + p.n_frames)
                // (2 * p.n_frames) AS DOUBLE) / 1000000.0 AS mean_frame_energy
    FROM per_doc p
"""


@gate("op_multimodal_audio_vad", _AUDIO_VAD_ORACLE)
def op_multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio voice-activity-detection plumbing: binary payload → unsigned
    8-bit PCM samples → fixed-size frames → per-frame energy
    sum((b-center)^2) → threshold → per-doc active-frame count and
    longest active run (the segment a clip extractor would cut).

    Completes the multimodal family's audio lane next to the image
    (decode/resize/phash) and video (frame-sample) lanes: the codec is
    the ASCII stand-in (this container has no audio libs), but the
    framing, energy, thresholding, run-length reduction, and the
    mapInPandas Arrow plumbing are the real pipeline. Docs shorter than
    one frame yield n_frames=0 and are dropped (no energy defined) —
    the synthetic corpus has none.

    Scale shape: narrow mapInPandas transformation, zero shuffle — each
    executor streams Arrow batches through the Python worker and emits
    ONE row per doc; 100 TB of audio costs the scan plus the decode.
    All arithmetic is exact-integer until one final fixed-point
    division, so the SQL oracle replays it bit-for-bit.
    """
    docs = read_table(spark, sf_dir, "documents")
    payloads = with_binary_payload(docs).select("doc_id", "payload")
    return payloads.mapInPandas(
        _audio_vad,
        schema=(
            "doc_id bigint, n_samples bigint, n_frames bigint, "
            "n_active bigint, longest_run bigint, total_energy bigint, "
            "mean_frame_energy double"
        ),
    ).filter(F.col("n_frames") > 0)


# --- Video container metadata probe (codec-free) --------------------------
#
# The pixel/audio DECODE path for video stays behind decode_image's
# documented NotImplementedError boundary (no codec libraries in this
# environment; a deployment plugs ffmpeg there). Container METADATA,
# however, needs no codec: MP4/ISO-BMFF box headers and AVI RIFF headers
# are plain struct layouts (ISO/IEC 14496-12 §4.2; Microsoft AVI RIFF
# spec), and duration/resolution/track-count is what a training-data
# pipeline filters on before paying for any decode. Pure stdlib, bounded
# work per file (top-level box walk), per-row fallback on malformed
# input — the same contract as _extract_features.

MP4_CONTAINER_BRANDS = (b"isom", b"iso2", b"mp41", b"mp42", b"avc1", b"M4V ")


def _mp4_boxes(data: bytes, start: int, end: int):
    """Yield (box_type, body_start, body_end) for ISO-BMFF boxes in
    data[start:end]. Handles 64-bit largesize; stops on truncation."""
    pos = start
    while pos + 8 <= end:
        size = int.from_bytes(data[pos : pos + 4], "big")
        btype = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:  # 64-bit largesize follows the type
            if pos + 16 > end:
                return
            size = int.from_bytes(data[pos + 8 : pos + 16], "big")
            body = pos + 16
            # a largesize in [8,16) passes the generic size<8 check but
            # puts body_start past body_end (header alone is 16 bytes)
            if size < 16:
                return
        elif size == 0:  # box extends to end of enclosing container
            size = end - pos
        if size < 8 or pos + size > end:
            return
        yield btype, body, pos + size
        pos += size


def _probe_mp4(data: bytes) -> dict | None:
    if len(data) < 12 or data[4:8] != b"ftyp":
        return None
    out: dict = {
        "container": "mp4",
        "brand": data[8:12].decode("latin-1"),
        "duration_ms": None,
        "width": None,
        "height": None,
        "n_tracks": 0,
    }
    for btype, b0, b1 in _mp4_boxes(data, 0, len(data)):
        if btype != b"moov":
            continue
        for ctype, c0, c1 in _mp4_boxes(data, b0, b1):
            if ctype == b"mvhd" and c1 - c0 >= 20:
                ver = data[c0]
                scale = 0
                dur = 0
                if ver == 1:
                    # v1 duration is 8 bytes at body offset 24-32: a
                    # 28-31-byte body would read past the box end into
                    # sibling-box bytes — treat truncated v1 as
                    # malformed (duration stays None), never decode the
                    # v0 offsets of a v1 layout
                    if c1 - c0 >= 32:
                        scale = int.from_bytes(data[c0 + 20 : c0 + 24], "big")
                        dur = int.from_bytes(data[c0 + 24 : c0 + 32], "big")
                else:
                    scale = int.from_bytes(data[c0 + 12 : c0 + 16], "big")
                    dur = int.from_bytes(data[c0 + 16 : c0 + 20], "big")
                if scale:
                    out["duration_ms"] = (dur * 1000) // scale
            elif ctype == b"trak":
                out["n_tracks"] += 1
                for ttype, t0, t1 in _mp4_boxes(data, c0, c1):
                    if ttype == b"tkhd" and t1 - t0 >= 84:
                        # width/height: last 8 bytes, 16.16 fixed point
                        w = int.from_bytes(data[t1 - 8 : t1 - 4], "big") >> 16
                        h = int.from_bytes(data[t1 - 4 : t1], "big") >> 16
                        if w and h and not out["width"]:
                            out["width"], out["height"] = w, h
    return out


def _probe_avi(data: bytes) -> dict | None:
    if len(data) < 64 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        return None
    # avih (MainAVIHeader) follows 'LIST....hdrlavih<size>' at offset 12
    idx = data.find(b"avih", 12, 4096)
    if idx < 0 or idx + 48 > len(data):
        return None
    u32 = lambda o: int.from_bytes(data[o : o + 4], "little")  # noqa: E731
    us_per_frame, total_frames = u32(idx + 8), u32(idx + 24)
    return {
        "container": "avi",
        "brand": "avi ",
        "duration_ms": (us_per_frame * total_frames) // 1000
        if us_per_frame
        else None,
        "width": u32(idx + 40) or None,
        "height": u32(idx + 44) or None,
        "n_tracks": u32(idx + 32),
    }


def probe_video_container(payload: bytes) -> dict | None:
    """Container-level video metadata without any codec: MP4/ISO-BMFF
    (ftyp brand, mvhd duration, first tkhd resolution, track count) and
    AVI RIFF (avih header). Returns None for non-video payloads — the
    caller treats that as per-row fallback, mirroring decode_image's
    contract. Frame DECODE remains the documented NotImplementedError
    boundary."""
    try:
        return _probe_mp4(payload) or _probe_avi(payload)
    except (IndexError, ValueError, OverflowError):
        return None
