"""Multimodal columns — binary payloads with typed metadata.

Images / audio / video ride as opaque ``binary`` columns next to a typed
metadata struct; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` stages.  Decoding is REAL for every format
expressible without codec libraries — pure-numpy 24-bit BMP and binary
PPM header+pixel parses, non-interlaced 8-bit PNG including palette
(stdlib zlib inflate + scanline defilter 0-4 + PLTE gather), and 16-bit
PCM WAV chunk walks (``_decode_media``) — end-to-end: decode ->
block-mean resize (``_pool_to_grid``) -> pooled feature vector.  Formats
needing real codec backends (JPEG, GIF, MP3/MP4, interlaced/16-bit PNG)
raise ``NotImplementedError`` in strict mode (swap in Pillow/pyav on a
real cluster) or fall back to a deterministic content-hash fake in test
mode.

Scale notes: binary payloads dominate row size, so the batch size for
mapInPandas stages must be bounded by BYTES not rows —
``media_repartition`` sizes partitions by payload bytes (the analog of
``spark.sql.files.maxPartitionBytes`` for already-loaded media).
"""

from __future__ import annotations

import hashlib
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
    ]
)

FEATURE_DIM = 16

_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("payload_sha256", StringType()),
        StructField("payload_bytes", LongType()),
        StructField("feature", ArrayType(FloatType())),
        StructField("error", StringType()),  # null = decoded cleanly
    ]
)


GRID = 8  # every decoded plane pools to a GRID x GRID luminance grid


def _pool_to_grid(plane: np.ndarray, g: int = GRID) -> np.ndarray:
    """Block-mean resize of an arbitrary (H, W) plane to (g, g) — the
    'resize' stage.  Interval mapping per axis handles BOTH directions:
    downsampling block-means, upsampling nearest-gathers (a plane smaller
    than the grid must not leave empty cells)."""
    h, w = plane.shape
    if h == 0 or w == 0:
        return np.zeros((g, g))

    def _axis_reduce(mat: np.ndarray, n: int) -> np.ndarray:
        # rows of *mat* -> g rows: output i averages rows [lo, hi)
        out = np.empty((g,) + mat.shape[1:])
        for i in range(g):
            lo = (i * n) // g
            hi = max(lo + 1, ((i + 1) * n) // g)
            out[i] = mat[lo:hi].mean(axis=0)
        return out

    return _axis_reduce(_axis_reduce(plane, h).T, w).T


def _decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit uncompressed (BI_RGB) BMP -> luminance plane in [0, 1].

    Pure-numpy header parse: pixel offset at byte 10, width/height at
    18/22 (height > 0 = bottom-up rows), bpp at 28, compression at 30;
    rows padded to 4-byte strides."""
    if len(payload) < 54:
        raise ValueError("bmp: truncated header")
    pix_off = int.from_bytes(payload[10:14], "little")
    width = int.from_bytes(payload[18:22], "little", signed=True)
    height = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"bmp: only 24-bit BI_RGB supported (bpp={bpp}, "
            f"compression={compression})"
        )
    h = abs(height)
    stride = ((width * 3 + 3) // 4) * 4
    data = np.frombuffer(payload, np.uint8, count=stride * h, offset=pix_off)
    rows = data.reshape(h, stride)[:, : width * 3].reshape(h, width, 3)
    if height > 0:
        rows = rows[::-1]  # bottom-up storage -> top-down plane
    bgr = rows.astype(np.float64) / 255.0
    # BT.601 luminance; BMP stores B,G,R
    return 0.114 * bgr[:, :, 0] + 0.587 * bgr[:, :, 1] + 0.299 * bgr[:, :, 2]


def _decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6, maxval <= 255) -> luminance plane in [0, 1]."""
    # header: ASCII tokens (magic, width, height, maxval), '#' comments,
    # one whitespace byte after maxval, then raw RGB
    pos = 0

    def token() -> bytes:
        nonlocal pos
        while pos < len(payload):
            c = payload[pos : pos + 1]
            if c == b"#":
                while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                    pos += 1
            elif c.isspace():
                pos += 1
            else:
                break
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        return payload[start:pos]

    magic = token()
    if magic != b"P6":
        raise NotImplementedError(f"ppm: unsupported magic {magic!r}")
    width, height, maxval = int(token()), int(token()), int(token())
    if maxval > 255:
        raise NotImplementedError("ppm: 16-bit samples unsupported")
    pos += 1  # single whitespace after maxval
    rgb = (
        np.frombuffer(payload, np.uint8, count=width * height * 3, offset=pos)
        .reshape(height, width, 3)
        .astype(np.float64)
        / maxval
    )
    return 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _decode_png(payload: bytes) -> np.ndarray:
    """Non-interlaced 8-bit grayscale/RGB/RGBA/palette PNG -> luminance
    plane in [0, 1] — pure numpy + stdlib zlib (no codec libraries).

    IHDR/PLTE/IDAT chunk walk, one inflate over the concatenated IDAT
    stream, then per-scanline defiltering (filter types 0-4).  Sub (1) is
    a per-channel prefix sum mod 256 (vectorized cumsum); Up (2) is a row
    vector add; Average (3) and Paeth (4) are inherently sequential in x
    and loop per PIXEL with bpp-wide numpy ops.  Palette (color_type 3)
    defilters the 1-byte index plane then gathers RGB through the PLTE
    table (one fancy-index).  Interlaced and 16-bit images raise
    NotImplementedError (strict-mode contract)."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("png: bad signature")
    pos = 8
    ihdr: bytes | None = None
    plte: bytes | None = None
    idat: list[bytes] = []
    while pos + 8 <= len(payload):
        ln = int.from_bytes(payload[pos : pos + 4], "big")
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        if typ == b"IHDR":
            ihdr = data
        elif typ == b"PLTE":
            plte = data
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
        pos += 12 + ln  # length + type + data + crc
    if ihdr is None or len(ihdr) < 13 or not idat:
        raise ValueError("png: missing IHDR/IDAT")
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    bit_depth, color_type, _comp, _filt, interlace = ihdr[8:13]
    if bit_depth != 8 or interlace != 0 or color_type not in (0, 2, 3, 6):
        raise NotImplementedError(
            f"png: only non-interlaced 8-bit gray/RGB/RGBA/palette "
            f"supported (depth={bit_depth}, color_type={color_type}, "
            f"interlace={interlace})"
        )
    if color_type == 3 and (plte is None or len(plte) % 3):
        raise ValueError("png: palette image missing a valid PLTE chunk")
    ch = {0: 1, 2: 3, 3: 1, 6: 4}[color_type]
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), np.uint8)
    stride = w * ch + 1
    if raw.size < stride * h:
        raise ValueError("png: truncated pixel data")
    rows = raw[: stride * h].reshape(h, stride)
    ftypes = rows[:, 0]
    data_rows = rows[:, 1:].astype(np.int32)
    out = np.zeros((h, w * ch), np.int32)
    prev = np.zeros(w * ch, np.int32)
    for y in range(h):
        f, cur = int(ftypes[y]), data_rows[y]
        if f == 0:
            rec = cur
        elif f == 1:  # Sub: prefix sum per channel lane
            rec = (
                np.cumsum(cur.reshape(w, ch), axis=0) % 256
            ).reshape(-1)
        elif f == 2:  # Up
            rec = (cur + prev) % 256
        elif f == 3:  # Average
            rec = np.empty(w * ch, np.int32)
            left = np.zeros(ch, np.int32)
            for x in range(w):
                s = slice(x * ch, (x + 1) * ch)
                left = (cur[s] + (left + prev[s]) // 2) % 256
                rec[s] = left
        elif f == 4:  # Paeth
            rec = np.empty(w * ch, np.int32)
            left = np.zeros(ch, np.int32)
            ul = np.zeros(ch, np.int32)
            for x in range(w):
                s = slice(x * ch, (x + 1) * ch)
                up = prev[s]
                p = left + up - ul
                pa, pb, pc = (
                    np.abs(p - left), np.abs(p - up), np.abs(p - ul)
                )
                pred = np.where(
                    (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul)
                )
                left = (cur[s] + pred) % 256
                rec[s] = left
                ul = up
        else:
            raise ValueError(f"png: bad filter type {f}")
        out[y] = rec
        prev = rec
    if color_type == 3:
        # indexed: defiltered bytes are palette indices; gather RGB
        table = np.frombuffer(plte, np.uint8).reshape(-1, 3)
        idx = out.reshape(h, w)
        if int(idx.max(initial=0)) >= len(table):
            raise ValueError("png: palette index out of range")
        img = table[idx].astype(np.float64) / 255.0
    else:
        img = out.reshape(h, w, ch).astype(np.float64) / 255.0
        if ch == 1:
            return img[:, :, 0]
    # RGB(A): BT.601 luminance; alpha ignored
    return (
        0.299 * img[:, :, 0] + 0.587 * img[:, :, 1] + 0.114 * img[:, :, 2]
    )


def _decode_wav(payload: bytes) -> np.ndarray:
    """16-bit PCM WAV -> frame-sampled plane in [0, 1].

    RIFF chunk walk (fmt + data), channel-mean to mono, then the sample
    stream framed into a near-square matrix — the 'frame-sample' stage —
    so the same pooled-feature path serves audio and images."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("wav: not RIFF/WAVE")
    pos = 12
    fmt = None
    samples = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            audio_fmt = int.from_bytes(body[0:2], "little")
            channels = int.from_bytes(body[2:4], "little")
            bits = int.from_bytes(body[14:16], "little")
            if audio_fmt != 1 or bits != 16:
                raise NotImplementedError(
                    f"wav: only 16-bit PCM supported (fmt={audio_fmt}, "
                    f"bits={bits})"
                )
            fmt = channels
        elif cid == b"data":
            samples = np.frombuffer(body, dtype="<i2")
        pos += 8 + size + (size & 1)  # chunks pad to even byte boundaries
    if fmt is None or samples is None:
        raise ValueError("wav: missing fmt or data chunk")
    mono = samples.reshape(-1, fmt).mean(axis=1) / 32768.0
    n = len(mono)
    flen = max(1, int(np.ceil(np.sqrt(n))))
    padded = np.zeros(((n + flen - 1) // flen) * flen)
    padded[:n] = (mono + 1.0) / 2.0
    return padded.reshape(-1, flen)


def _decode_media(payload: bytes, fake: bool) -> np.ndarray:
    """Decode one payload to a pooled (GRID, GRID) luminance plane.

    REAL pure-numpy decoders cover what this container can express
    without codec libraries: 24-bit BMP, binary PPM, non-interlaced
    8-bit PNG (stdlib zlib), 16-bit PCM WAV.  JPEG/GIF/MP3/MP4 raise
    NotImplementedError in strict mode — swap in Pillow/pyav on a real
    cluster — or fall back to the deterministic fake in test mode."""
    if payload[:2] == b"BM":
        return _pool_to_grid(_decode_bmp(payload))
    if payload[:2] == b"P6":
        return _pool_to_grid(_decode_ppm(payload))
    if payload[:8] == _PNG_SIG:
        return _pool_to_grid(_decode_png(payload))
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return _pool_to_grid(_decode_wav(payload))
    if not fake:
        raise NotImplementedError(
            "no decoder for this format in this environment (real paths: "
            "BMP/PPM/PNG/WAV); pass fake_decode=True or install a codec "
            "backend (JPEG/GIF/MP3/MP4 remain stubbed)"
        )
    # deterministic fake: a pseudo-pixel array seeded by content hash
    digest = hashlib.sha256(payload).digest()
    seed = int.from_bytes(digest[:8], "big") % (2**32)
    rng = np.random.RandomState(seed)
    return rng.rand(GRID, GRID)


def extract_features(
    media: DataFrame, fake_decode: bool = False, on_error: str = "raise"
) -> DataFrame:
    """decode -> pooled feature vector, Arrow-batched via mapInPandas.

    The returned feature is deterministic per payload (content-hash
    seeded), so downstream dedup/similarity over media features is
    idempotent like everything else (D2).

    ``on_error='record'`` turns a per-payload decode failure into a row
    with feature NULL and the error string — the recorded-failure stream
    the poisoned-embed skip (``plan_embeds``) consumes, mirroring the
    reference's deterministic embed-failure records
    (spanembed.go:171-192).
    """
    if on_error not in ("raise", "record"):
        raise ValueError("on_error must be 'raise' or 'record'")

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # decode is the one per-item boundary (a real codec decodes one
        # payload at a time); everything else — hashing, pooling — runs
        # over the whole batch (no iterrows / per-row frame access)
        for pdf in batches:
            payloads = [
                bytes(p) if p is not None else b"" for p in pdf["payload"]
            ]
            planes = np.zeros((len(payloads), GRID, GRID))
            errors: list[str | None] = [None] * len(payloads)
            for i, p in enumerate(payloads):
                try:
                    planes[i] = _decode_media(p, fake_decode)
                except Exception as e:  # deterministic per content
                    if on_error == "raise":
                        raise
                    errors[i] = f"{type(e).__name__}: {e}"
            if payloads:
                # pooled features: per-plane row/col means, batched
                feats = np.concatenate(
                    [planes.mean(axis=1), planes.mean(axis=2)], axis=1
                ).astype(np.float32)[:, :FEATURE_DIM]
                feat_lists = [
                    None if errors[i] is not None else feats[i]
                    for i in range(len(payloads))
                ]
            else:
                feat_lists = []
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "kind": pdf["kind"].values,
                    "payload_sha256": [
                        hashlib.sha256(p).hexdigest() for p in payloads
                    ],
                    "payload_bytes": [len(p) for p in payloads],
                    "feature": feat_lists,
                    "error": errors,
                }
            )

    return media.select(
        "media_id", "kind", "payload"
    ).mapInPandas(compute, _FEATURE_SCHEMA)


FEATURE_MODEL = "pooled-luma-v1"  # the 'embedding model' of this pipeline


def plan_embeds(
    media: DataFrame,
    existing: DataFrame | None = None,
    failures: DataFrame | None = None,
    model: str = FEATURE_MODEL,
) -> DataFrame:
    """The reference's spanembed decide() as a broadcast-join plan
    (spanembed.go:160-192): per candidate an ``action`` column —

      empty      no payload: nothing to embed
      up_to_date (content hash, model) already embedded — skip
      poisoned   (content hash, model) FAILED deterministically before;
                 re-attempting would fail again and burn the work — skip
                 until content or model changes
      embed      needs embedding

    *existing* / *failures*: (payload_sha256, model) tables.  Neither is
    hint-broadcast: *existing* is one row per ever-embedded content hash
    — O(corpus) after the first full pass, NOT a dim — and a forced
    broadcast would OOM there at scale; *failures* is usually tiny but
    the same equi-join shape lets AQE pick broadcast itself when a side
    measures small at runtime.  The hash covers only the content; the
    model is compared separately so switching models re-embeds (and
    re-tries past failures) — exactly the reference's change-detector
    contract.
    """
    h = F.sha2(F.col("payload"), 256)
    df = media.withColumn("payload_sha256", h)

    def _mark(side: DataFrame | None, flag: str) -> None:
        nonlocal df
        if side is None:
            df = df.withColumn(flag, F.lit(False))
            return
        marked = (
            side.filter(F.col("model") == model)
            .select(F.col("payload_sha256").alias(f"_{flag}_h"))
            .distinct()
        )
        df = df.join(
            marked, df["payload_sha256"] == marked[f"_{flag}_h"], "left"
        ).withColumn(flag, F.col(f"_{flag}_h").isNotNull()).drop(f"_{flag}_h")

    _mark(existing, "_up_to_date")
    _mark(failures, "_poisoned")
    action = (
        F.when(
            F.col("payload").isNull() | (F.length("payload") == 0), "empty"
        )
        .when(F.col("_up_to_date"), "up_to_date")
        .when(F.col("_poisoned"), "poisoned")
        .otherwise("embed")
    )
    return df.withColumn("action", action).drop("_up_to_date", "_poisoned")


def extract_features_incremental(
    media: DataFrame,
    existing: DataFrame | None = None,
    failures: DataFrame | None = None,
    model: str = FEATURE_MODEL,
    fake_decode: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One resumable embed pass: plan -> decode only the 'embed' rows ->
    split (features, new_failures, plan).  Feed new_failures back in as
    *failures* on the next run and poisoned payloads are skipped without
    touching the decoder (D5 completeness: the anti-join the reference's
    ExistingFailHash check performs per candidate)."""
    plan = plan_embeds(media, existing, failures, model)
    todo = plan.filter(F.col("action") == "embed").drop(
        "action", "payload_sha256"
    )
    out = extract_features(todo, fake_decode, on_error="record")
    feats = out.filter(F.col("error").isNull())
    new_failures = out.filter(F.col("error").isNotNull()).select(
        "payload_sha256", F.lit(model).alias("model"), "error"
    )
    return feats, new_failures, plan


def media_repartition(
    media: DataFrame, target_partition_bytes: int = 64 * 1024 * 1024
) -> DataFrame:
    """Byte-aware repartition: estimates total payload bytes and picks the
    partition count so each holds ~target bytes of media.  Rows-based
    defaults mis-size media tables by orders of magnitude."""
    stats = media.agg(
        F.sum(F.length("payload")).alias("total"), F.count("*").alias("n")
    ).collect()[0]
    total = stats["total"] or 0
    n_parts = max(1, int(total / target_partition_bytes) + 1)
    return media.repartition(n_parts, "media_id")


def media_dedup(media: DataFrame) -> DataFrame:
    """Exact media dedup by payload content hash (no decode needed)."""
    h = F.sha2(F.col("payload"), 256)
    return media.groupBy(h.alias("payload_sha256")).agg(
        F.min("media_id").alias("canonical_media_id"),
        F.count("*").alias("n_copies"),
        F.first("kind").alias("kind"),
    )


def encode_bmp(rgb: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB -> 24-bit BI_RGB BMP bytes (deterministic;
    test/fixture encoder for the real decode path)."""
    h, w, _ = rgb.shape
    stride = ((w * 3 + 3) // 4) * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = rgb[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    pix = rows.tobytes()
    header = (
        b"BM"
        + (54 + len(pix)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(pix).to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2
        + (0).to_bytes(4, "little") * 2
    )
    return header + pix


def encode_ppm(rgb: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB -> binary P6 PPM bytes."""
    h, w, _ = rgb.shape
    return f"P6\n{w} {h}\n255\n".encode() + rgb.tobytes()


def encode_png(
    img: np.ndarray, filter_type: int = 0, palette: np.ndarray | None = None
) -> bytes:
    """(H, W, 3|4) uint8 -> non-interlaced 8-bit PNG bytes with every
    scanline filtered as *filter_type* (0-4) — deterministic test/fixture
    encoder exercising each defilter path of the real decoder.  With
    *palette* ((N, 3) uint8), *img* is an (H, W) index plane and the
    output is a color_type-3 palette PNG (PLTE chunk)."""
    if palette is not None:
        h, w = img.shape
        ch, color_type = 1, 3
    else:
        h, w, ch = img.shape
        color_type = {3: 2, 4: 6}[ch]
    raw = img.reshape(h, w * ch).astype(np.int32)
    zeros = np.zeros(w * ch, np.int32)
    lines = []
    for y in range(h):
        cur = raw[y]
        prev = raw[y - 1] if y else zeros
        left = np.concatenate([np.zeros(ch, np.int32), cur[:-ch]])
        ul = np.concatenate([np.zeros(ch, np.int32), prev[:-ch]])
        if filter_type == 0:
            filt = cur
        elif filter_type == 1:
            filt = cur - left
        elif filter_type == 2:
            filt = cur - prev
        elif filter_type == 3:
            filt = cur - (left + prev) // 2
        elif filter_type == 4:
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
            )
            filt = cur - pred
        else:
            raise ValueError(f"png: bad filter type {filter_type}")
        lines.append(bytes([filter_type]) + (filt % 256).astype(np.uint8).tobytes())

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            len(data).to_bytes(4, "big") + typ + data
            + zlib.crc32(typ + data).to_bytes(4, "big")
        )

    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + bytes([8, color_type, 0, 0, 0])
    )
    plte = (
        chunk(b"PLTE", np.asarray(palette, np.uint8).tobytes())
        if palette is not None
        else b""
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + plte
        + chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + chunk(b"IEND", b"")
    )


def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """int16 mono samples -> 16-bit PCM WAV bytes."""
    data = np.asarray(samples, dtype="<i2").tobytes()
    fmt = (
        b"fmt "
        + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")  # PCM
        + (1).to_bytes(2, "little")  # mono
        + sample_rate.to_bytes(4, "little")
        + (sample_rate * 2).to_bytes(4, "little")
        + (2).to_bytes(2, "little")
        + (16).to_bytes(2, "little")
    )
    body = b"WAVE" + fmt + b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def make_real_media(spark, n: int = 12, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media table with REAL encoded payloads
    (BMP / PPM / PNG / WAV round-robin) — drives the strict decode path
    end to end with no external data or codec libraries."""
    rows = []
    for i in range(n):
        rng = np.random.RandomState(seed * 1_000_003 + i)
        kind_idx = i % 4
        if kind_idx == 0:
            h, w = int(rng.randint(4, 24)), int(rng.randint(4, 24))
            rgb = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
            payload, kind, mime = encode_bmp(rgb), "image", "image/bmp"
            dur = None
        elif kind_idx == 1:
            h, w = int(rng.randint(4, 24)), int(rng.randint(4, 24))
            rgb = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
            payload, kind, mime = encode_ppm(rgb), "image", "image/x-portable-pixmap"
            dur = None
        elif kind_idx == 2:
            h, w = int(rng.randint(4, 24)), int(rng.randint(4, 24))
            depth = 4 if i % 8 == 2 else 3  # alternate RGB / RGBA
            rgb = rng.randint(0, 256, size=(h, w, depth), dtype=np.uint8)
            payload, kind, mime = (
                encode_png(rgb, filter_type=int(rng.randint(0, 5))),
                "image", "image/png",
            )
            dur = None
        else:
            n_samp = int(rng.randint(64, 2048))
            samp = rng.randint(-32768, 32767, size=n_samp).astype(np.int16)
            payload, kind, mime = encode_wav(samp), "audio", "audio/wav"
            h = w = None
            dur = n_samp * 1000 // 8000
        rows.append(
            (i, kind, bytearray(payload), mime,
             w if kind == "image" else None,
             h if kind == "image" else None,
             dur)
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def make_fake_media(spark, n: int = 32, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media table for tests (no external data)."""
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        kind = rng.choice(["image", "audio", "video"])
        # duplicate every 8th payload to exercise dedup (the repeat factor
        # must derive from the seed too, or the "copies" differ)
        payload_seed = i if i % 8 else 0
        payload = hashlib.sha256(str(payload_seed).encode()).digest() * (
            payload_seed % 3 + 1
        )
        rows.append(
            (
                i,
                kind,
                bytearray(payload),
                {"image": "image/png", "audio": "audio/wav",
                 "video": "video/mp4"}[kind],
                rng.randint(16, 256),
                rng.randint(16, 256),
                rng.randint(100, 60_000),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
