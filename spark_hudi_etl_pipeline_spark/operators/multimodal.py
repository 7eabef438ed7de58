"""Multimodal column operators (north-star extension): image/audio/video
as opaque ``binary`` payloads with typed metadata, processed via
Arrow-batched ``mapInPandas``.

The Spark-side plumbing — schemas, batch iteration, partition sizing —
is real and tested. Decoding is real for the uncompressed raster
formats a pure-Python/numpy decoder can own with no media libraries:
**BMP (24-bit uncompressed)** and **PPM/PGM (P6/P5 binary)** — header
parse, pixel decode (BMP bottom-up rows + 4-byte row padding, P6/P5
maxval handling), and an exact integer 8×8 mean-pool feature grid.
Compressed codecs (JPEG/PNG/video) still route to
``deterministic_fake_decoder`` / ``unsupported_decoder``; a real
deployment registers a PIL/ffmpeg decoder via ``register_decoder`` with
the same signature and nothing else changes.

Scale design:
- media rows are large → ``repartition_for_payloads`` targets a bounded
  per-partition byte budget so Arrow batches and executor memory stay
  predictable regardless of corpus size;
- ``mapInPandas`` streams record batches (iterator→iterator), so a task
  never holds its whole partition in memory;
- metadata lives in a typed struct column next to the payload: filters
  on codec/size/duration prune via parquet statistics WITHOUT reading
  payload bytes (columnar layout does the heavy lifting).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Typed metadata carried beside every media payload.
MEDIA_METADATA_SCHEMA = StructType(
    [
        StructField("media_type", StringType(), False),  # image|audio|video
        StructField("codec", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("n_bytes", LongType(), False),
    ]
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("payload", BinaryType(), False),
        StructField("meta", MEDIA_METADATA_SCHEMA, False),
    ]
)

#: Feature row produced by decode_features (fixed width so downstream
#: similarity/dedup operators can consume it like any embedding).
#: ``features`` is an exact integer 8×8 mean-pool grid (milli-gray
#: levels) for really-decoded images, NULL for fallback-checksum rows;
#: ``codec``/``width``/``height`` come from the real header parse.
FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("feature_dim", IntegerType(), False),
        StructField("feature_checksum", LongType(), False),
        StructField("codec", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("features", ArrayType(LongType()), True),
    ]
)

Decoder = Callable[[bytes, dict[str, Any]], dict[str, Any]]

_DECODERS: dict[str, Decoder] = {}


def register_decoder(media_type: str, decoder: Decoder) -> None:
    """Plug a real decoder: ``decoder(payload, meta) -> feature dict``
    with keys matching FEATURE_SCHEMA (minus media_id)."""
    _DECODERS[media_type] = decoder


# ---------------------------------------------------------------------------
# Real raster decoders (pure Python/numpy — no media libraries).
# ---------------------------------------------------------------------------


def _parse_pnm_header(payload: bytes) -> tuple[str, int, int, int, int]:
    """Parse a binary PNM header (P6 = RGB, P5 = gray): magic, then
    whitespace/comment-separated width, height, maxval, then one
    whitespace byte before the raster. Returns
    (codec, width, height, maxval, raster_offset)."""
    magic = payload[:2].decode("ascii", "replace")
    if magic not in ("P6", "P5"):
        raise ValueError(f"not a binary PNM payload (magic {magic!r})")
    fields: list[int] = []
    i = 2
    n = len(payload)
    while len(fields) < 3:
        while i < n and payload[i : i + 1].isspace():
            i += 1
        if i < n and payload[i] == ord("#"):  # comment to end of line
            while i < n and payload[i] not in (0x0A, 0x0D):
                i += 1
            continue
        start = i
        while i < n and not payload[i : i + 1].isspace():
            i += 1
        if i == start:
            raise ValueError("truncated PNM header")
        fields.append(int(payload[start:i]))
    i += 1  # exactly one whitespace byte separates header from raster
    w, h, maxval = fields
    if not (0 < maxval < 65536 and w > 0 and h > 0):
        raise ValueError("invalid PNM dimensions/maxval")
    return ("ppm" if magic == "P6" else "pgm", w, h, maxval, i)


def decode_ppm(payload: bytes) -> tuple[str, int, int, "np.ndarray"]:
    """Decode binary PPM (P6) / PGM (P5) to (codec, width, height,
    uint8 pixels shaped H×W×3). maxval ≤ 255 only (the 2-byte-sample
    variant belongs to a real media lib). Grayscale is broadcast to
    three channels so downstream features are format-agnostic."""
    import numpy as np

    codec, w, h, maxval, off = _parse_pnm_header(payload)
    if maxval > 255:
        raise ValueError("16-bit PNM samples not supported")
    ch = 3 if codec == "ppm" else 1
    need = w * h * ch
    raster = np.frombuffer(payload, dtype=np.uint8, count=need, offset=off)
    px = raster.reshape(h, w, ch)
    if ch == 1:
        px = np.repeat(px, 3, axis=2)
    return codec, w, h, px


def decode_bmp(payload: bytes) -> tuple[str, int, int, "np.ndarray"]:
    """Decode an uncompressed 24-bit BMP (BITMAPINFOHEADER, BI_RGB) to
    (codec, width, height, uint8 pixels H×W×3, top-down row order,
    RGB channel order). Handles the format's two layout quirks: rows are
    padded to 4-byte boundaries, and a positive biHeight means the
    raster is stored bottom-up in BGR."""
    import struct

    import numpy as np

    if payload[:2] != b"BM" or len(payload) < 54:
        raise ValueError("not a BMP payload")
    (data_off,) = struct.unpack_from("<I", payload, 10)
    (hdr_size,) = struct.unpack_from("<I", payload, 14)
    if hdr_size < 40:
        raise ValueError("pre-BITMAPINFOHEADER BMP not supported")
    w, h_signed = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if bpp != 24 or compression != 0:
        raise ValueError(f"only 24-bit BI_RGB BMP supported (bpp={bpp})")
    h = abs(h_signed)
    if w <= 0 or h == 0:
        raise ValueError("invalid BMP dimensions")
    stride = (w * 3 + 3) & ~3  # rows padded to 4 bytes
    raster = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=data_off)
    rows = raster.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if h_signed > 0:  # bottom-up storage
        rows = rows[::-1]
    return "bmp", w, h, rows[:, :, ::-1].copy()  # BGR → RGB


def encode_ppm(pixels: "np.ndarray") -> bytes:
    """Encode H×W×3 uint8 pixels as binary PPM (P6) — fixture/resize
    output format (exact round-trip with decode_ppm)."""
    h, w, _ = pixels.shape
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.tobytes()


def encode_bmp(pixels: "np.ndarray") -> bytes:
    """Encode H×W×3 uint8 RGB pixels as an uncompressed 24-bit BMP
    (bottom-up, BGR, padded rows — exact round-trip with decode_bmp)."""
    import struct

    import numpy as np

    h, w, _ = pixels.shape
    stride = (w * 3 + 3) & ~3
    raster = np.zeros((h, stride), dtype=np.uint8)
    raster[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)  # flip + RGB→BGR
    data = raster.tobytes()
    return (
        struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
        + data
    )


def probe_image_header(payload: bytes) -> tuple[str, int, int] | None:
    """Identify (codec, width, height) from header bytes alone — no
    raster read. None when the payload is not a supported raster."""
    import struct

    try:
        if payload[:2] in (b"P6", b"P5"):
            codec, w, h, _, _ = _parse_pnm_header(payload)
            return codec, w, h
        if payload[:2] == b"BM" and len(payload) >= 26:
            w, h_signed = struct.unpack_from("<ii", payload, 18)
            return "bmp", w, abs(h_signed)
    except (ValueError, struct.error):
        return None
    return None


#: Feature grid side: features are an 8×8 = 64-cell exact mean-pool.
FEATURE_GRID = 8


def _grid_features(px: "np.ndarray") -> list[int]:
    """Exact integer 8×8 mean-pool over grayscale: cell value =
    floor(1000 · Σ(r+g+b) / (3·n_pixels)) — pure integer arithmetic on
    uint8 sums, so the features are bit-reproducible everywhere (no
    float accumulation, no resampling library variance)."""
    h, w, _ = px.shape
    s = px.astype("int64").sum(axis=2)  # per-pixel r+g+b
    out: list[int] = []
    for gy in range(FEATURE_GRID):
        y0, y1 = gy * h // FEATURE_GRID, (gy + 1) * h // FEATURE_GRID
        y1 = max(y1, y0 + 1) if y0 < h else h
        for gx in range(FEATURE_GRID):
            x0, x1 = gx * w // FEATURE_GRID, (gx + 1) * w // FEATURE_GRID
            x1 = max(x1, x0 + 1) if x0 < w else w
            cell = s[min(y0, h - 1) : y1, min(x0, w - 1) : x1]
            out.append(int(cell.sum()) * 1000 // (3 * cell.size))
    return out


def _feature_checksum(features: list[int]) -> int:
    checksum = 0
    for v in features:
        checksum = (checksum * 1_000_003 + v) % (1 << 62)
    return checksum


def image_decoder(payload: bytes, meta: dict[str, Any]) -> dict[str, Any]:
    """REAL image decoder for uncompressed rasters (BMP 24-bit, PPM P6,
    PGM P5): header parse → pixel decode → exact 8×8 mean-pool feature
    grid. Features derive from actual pixel data; width/height from the
    actual header. Raises ValueError on unsupported codecs — pair with
    ``image_decoder_or_fallback`` for mixed corpora."""
    magic = payload[:2]
    if magic == b"BM":
        codec, w, h, px = decode_bmp(payload)
    elif magic in (b"P6", b"P5"):
        codec, w, h, px = decode_ppm(payload)
    else:
        raise ValueError("unsupported image codec (BMP/PPM/PGM only)")
    features = _grid_features(px)
    return {
        "feature_dim": len(features),
        "feature_checksum": _feature_checksum(features),
        "codec": codec,
        "width": w,
        "height": h,
        "features": features,
    }


def image_decoder_or_fallback(payload: bytes, meta: dict[str, Any]) -> dict[str, Any]:
    """Route decodable rasters through the real decoder; everything else
    (compressed codecs, non-image payloads) through the deterministic
    checksum fallback — one registry entry serves a mixed corpus."""
    if payload[:2] in (b"BM", b"P6", b"P5"):
        try:
            return image_decoder(payload, meta)
        except ValueError:
            pass  # malformed header / unsupported subformat → fallback
    return deterministic_fake_decoder(payload, meta)


def encode_wav(samples: "np.ndarray", sample_rate: int) -> bytes:
    """Minimal RIFF/WAVE writer for 16-bit PCM test fixtures: ``samples``
    is int16, shape (n,) mono or (n, channels)."""
    import struct

    import numpy as np

    s = np.asarray(samples, dtype="<i2")
    if s.ndim == 1:
        s = s[:, None]
    n_ch = s.shape[1]
    data = s.tobytes()
    byte_rate = sample_rate * n_ch * 2
    fmt = struct.pack(
        "<HHIIHH", 1, n_ch, sample_rate, byte_rate, n_ch * 2, 16
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> tuple[int, int, "np.ndarray"]:
    """Parse a RIFF/WAVE container (16-bit PCM only — the one audio
    format a pure-numpy decoder can own): chunk walk for ``fmt `` and
    ``data``, then a zero-copy int16 view. Returns
    (sample_rate, n_channels, samples[n, ch])."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks are 2-byte aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, n_ch, sample_rate, _, _, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError("only 16-bit PCM WAV is supported")
    s = np.frombuffer(data[: len(data) - (len(data) % (2 * n_ch))], dtype="<i2")
    return sample_rate, n_ch, s.reshape(-1, n_ch)


def probe_audio_header(payload: bytes) -> tuple[str, int, int] | None:
    """(codec, sample_rate, duration_ms) from the WAV header alone, or
    None — the metadata-probe twin of ``probe_image_header``."""
    import struct

    try:
        sample_rate, n_ch, samples = decode_wav(payload)
    except (ValueError, struct.error):
        return None
    if sample_rate <= 0:
        return None
    return "pcm_s16le", sample_rate, samples.shape[0] * 1000 // sample_rate


def audio_decoder(payload: bytes, meta: dict[str, Any]) -> dict[str, Any]:
    """REAL audio decoder for 16-bit PCM WAV: header parse → sample
    decode → exact integer features. Feature vector = 64-segment energy
    profile (floor(1000 · mean|amplitude| / 32768) per segment over the
    channel-mixed signal) — pure integer arithmetic on int64 sums, so
    like the image grid it is bit-reproducible everywhere. Raises
    ValueError on non-PCM payloads; pair with
    ``audio_decoder_or_fallback`` for mixed corpora."""
    import numpy as np

    sample_rate, n_ch, samples = decode_wav(payload)
    mono = samples.astype("int64").sum(axis=1)  # channel mix (×n_ch scale)
    n = mono.shape[0]
    if n == 0:
        raise ValueError("empty PCM data chunk")
    mags = np.abs(mono)
    features: list[int] = []
    for g in range(FEATURE_GRID * FEATURE_GRID):
        lo, hi = g * n // 64, (g + 1) * n // 64
        hi = max(hi, lo + 1) if lo < n else n
        seg = mags[min(lo, n - 1) : hi]
        features.append(int(seg.sum()) * 1000 // (int(seg.size) * n_ch * 32768))
    return {
        "feature_dim": len(features),
        "feature_checksum": _feature_checksum(features),
        "codec": "pcm_s16le",
        "width": None,
        "height": None,
        "features": features,
    }


def audio_decoder_or_fallback(payload: bytes, meta: dict[str, Any]) -> dict[str, Any]:
    """Route PCM WAV through the real decoder; compressed audio
    (MP3/AAC/OGG need ffmpeg) through the checksum fallback."""
    if payload[:4] == b"RIFF":
        try:
            return audio_decoder(payload, meta)
        except ValueError:
            pass
    return deterministic_fake_decoder(payload, meta)


def deterministic_fake_decoder(payload: bytes, meta: dict[str, Any]) -> dict[str, Any]:
    """FALLBACK decoder for codecs without a pure-Python decode path
    (JPEG/PNG/video need PIL/ffmpeg, absent here): derives a
    deterministic checksum from payload bytes alone so the distributed
    plumbing still runs end-to-end; feature/dimension columns stay NULL
    to make the non-decode explicit."""
    checksum = 0
    for i, b in enumerate(payload[:4096]):
        checksum = (checksum * 31 + b + i) % (1 << 62)
    return {
        "feature_dim": 64,
        "feature_checksum": checksum,
        "codec": None,
        "width": None,
        "height": None,
        "features": None,
    }


def unsupported_decoder(payload: bytes, meta: dict[str, Any]) -> dict[str, Any]:
    """Explicit stub for codecs this container cannot decode."""
    raise NotImplementedError(
        "decoding this codec requires PIL/ffmpeg, not present in this "
        "environment; register a real decoder with register_decoder()"
    )


def attach_metadata(df: DataFrame, *, media_type: str, payload_col: str = "payload") -> DataFrame:
    """Build the typed metadata struct from the payload column (cheap,
    JVM-side: length; real ingest fills codec/dims from container headers)."""
    return df.withColumn(
        "meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit(None).cast("string").alias("codec"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.length(F.col(payload_col)).cast("long").alias("n_bytes"),
        ),
    )


def probe_metadata(media: DataFrame) -> DataFrame:
    """Fill ``meta.codec/width/height/duration_ms`` by REAL header
    parsing across all three modalities — images (BMP/PPM/PGM
    dimensions), audio (WAV sample-rate → duration), video (Y4M
    geometry + frame count → duration) — payload bodies are never
    interpreted beyond the headers/length arithmetic, so the probe is
    cheap even for huge payloads; unrecognized payloads keep NULLs.
    Same Arrow-batched iterator→iterator shape as decode_features."""
    schema = media.schema

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = []
            for meta, raw in zip(pdf["meta"], pdf["payload"]):
                d = dict(meta) if isinstance(meta, dict) else meta._asdict()
                payload = bytes(raw)
                img = probe_image_header(payload)
                if img is not None:
                    d["codec"], d["width"], d["height"] = img
                else:
                    aud = probe_audio_header(payload)
                    if aud is not None:
                        d["codec"], _, d["duration_ms"] = aud
                    else:
                        vid = probe_video_header(payload)
                        if vid is not None:
                            (
                                d["codec"],
                                d["width"],
                                d["height"],
                                d["duration_ms"],
                            ) = vid
                metas.append(d)
            out = pdf.copy()
            out["meta"] = metas
            yield out

    return media.mapInPandas(probe, schema=schema)


def decode_features(
    media: DataFrame, *, batch_hint_rows: int = 64
) -> DataFrame:
    """Decode/feature-extract every media row via Arrow-batched
    ``mapInPandas`` (iterator→iterator: constant memory per task).

    Uses the registered decoder for each row's ``meta.media_type``;
    unregistered image types route through ``image_decoder_or_fallback``
    (REAL decode for BMP/PPM/PGM rasters, checksum fallback otherwise),
    other types through the deterministic fallback."""
    feature_cols = [f.name for f in FEATURE_SCHEMA.fields]

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            # zip over column arrays, not iterrows(): iterrows builds a
            # pandas Series per row (~10x the iteration cost at this
            # row width — measured on the video path's 8-frame fanout)
            for media_id, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                mtype = meta["media_type"] if isinstance(meta, dict) else meta.media_type
                default = {
                    "image": image_decoder_or_fallback,
                    "audio": audio_decoder_or_fallback,
                }.get(mtype, deterministic_fake_decoder)
                decoder = _DECODERS.get(mtype, default)
                feats = decoder(bytes(payload), dict(meta) if isinstance(meta, dict) else meta._asdict())
                rec = {"media_id": media_id}
                for c in feature_cols[1:]:
                    rec[c] = feats.get(c)
                out.append(rec)
            yield pd.DataFrame(out, columns=feature_cols)

    return media.mapInPandas(decode_batches, schema=FEATURE_SCHEMA)


def repartition_for_payloads(
    df: DataFrame, *, total_bytes: int, target_partition_bytes: int = 128 << 20
) -> DataFrame:
    """Size partitions by payload volume, not row count: media rows are
    MBs each, so row-count-based splits would blow executor memory at
    scale. Caller supplies (estimated) total payload bytes."""
    n = max(1, total_bytes // target_partition_bytes)
    return df.repartition(n)


#: Frame row produced by sample_frames: one row PER SAMPLED FRAME (1→N
#: expansion inside mapInPandas — the shape video decode needs).
FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame_payload", BinaryType(), False),
    ]
)


def fake_frame_sampler(payload: bytes, n_frames: int) -> list[bytes]:
    """STUB frame sampler: deterministic byte slices stand in for decoded
    frames (a real implementation calls ffmpeg with the same signature:
    payload in, list of frame buffers out)."""
    if not payload:
        return []
    step = max(1, len(payload) // n_frames)
    return [payload[i * step : i * step + step] for i in range(min(n_frames, len(payload)))]


def encode_y4m(frames: "np.ndarray", *, fps: int = 25) -> bytes:
    """Minimal YUV4MPEG2 (Y4M) writer for test fixtures: ``frames`` is
    uint8, shape (n_frames, h, w) — the LUMA planes; chroma planes are
    written neutral (128). h and w must be even (C420)."""
    import numpy as np

    f = np.asarray(frames, dtype=np.uint8)
    n, h, w = f.shape
    out = [f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 C420\n".encode()]
    chroma = np.full((h // 2) * (w // 2), 128, dtype=np.uint8).tobytes()
    for i in range(n):
        out.append(b"FRAME\n")
        out.append(f[i].tobytes())
        out.append(chroma)  # U
        out.append(chroma)  # V
    return b"".join(out)


def decode_y4m(payload: bytes) -> tuple[int, int, int, list["np.ndarray"]]:
    """REAL video decode for the YUV4MPEG2 container (the one video
    format a pure-Python decoder can own — raw 4:2:0 frames behind a
    text header, no entropy coding). Returns
    (width, height, fps, [luma planes as uint8 (h, w)])."""
    import numpy as np

    nl = payload.find(b"\n")
    if nl < 0 or not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    w = h = fps = None
    for tok in payload[:nl].split()[1:]:
        if tok[:1] == b"W":
            w = int(tok[1:])
        elif tok[:1] == b"H":
            h = int(tok[1:])
        elif tok[:1] == b"F":
            num, den = tok[1:].split(b":")
            fps = int(num) // max(1, int(den))
        elif tok[:1] == b"C" and tok not in (b"C420", b"C420jpeg", b"C420mpeg2"):
            raise ValueError("only C420 chroma is supported")
    if not w or not h or h % 2 or w % 2:
        raise ValueError("missing/odd Y4M geometry")
    frame_bytes = h * w + 2 * (h // 2) * (w // 2)
    pos, frames = nl + 1, []
    while pos < len(payload):
        fe = payload.find(b"\n", pos)
        if fe < 0 or payload[pos : pos + 5] != b"FRAME":
            raise ValueError("malformed FRAME marker")
        start = fe + 1
        if start + frame_bytes > len(payload):
            raise ValueError("truncated frame payload")
        y = np.frombuffer(payload[start : start + h * w], dtype=np.uint8)
        frames.append(y.reshape(h, w))
        pos = start + frame_bytes
    return w, h, fps or 25, frames


def probe_video_header(payload: bytes) -> tuple[str, int, int, int] | None:
    """(codec, width, height, duration_ms) from a Y4M payload, or None.
    Frame count comes from the byte length arithmetic — no pixel data is
    interpreted."""
    try:
        w, h, fps, frames = decode_y4m(payload)
    except ValueError:
        return None
    return "y4m_c420", w, h, len(frames) * 1000 // max(1, fps)


def y4m_frame_sampler(payload: bytes, n_frames: int) -> list[bytes]:
    """REAL frame sampler for Y4M video: decode, pick ``n_frames``
    evenly-spaced frames (⌊i·n/k⌋ indices — deterministic), and re-encode
    each luma plane as a binary PGM (P5) payload — so sampled frames feed
    straight into the REAL image decode path (``image_decoder`` handles
    P5), composing video → frames → pixel features end-to-end with no
    media libraries."""
    w, h, _, frames = decode_y4m(payload)
    k = min(n_frames, len(frames))
    out = []
    for i in range(k):
        y = frames[i * len(frames) // k]
        out.append(f"P5\n{w} {h}\n255\n".encode() + y.tobytes())
    return out


def frame_sampler_or_fallback(payload: bytes, n_frames: int) -> list[bytes]:
    """Route Y4M through the real sampler; compressed containers
    (MP4/WebM need ffmpeg) through the deterministic byte-slice stub."""
    if payload.startswith(b"YUV4MPEG2"):
        try:
            return y4m_frame_sampler(payload, n_frames)
        except ValueError:
            pass
    return fake_frame_sampler(payload, n_frames)


def sample_frames(media: DataFrame, *, n_frames: int = 4) -> DataFrame:
    """Sample ``n_frames`` frames per media row via mapInPandas — the
    1→N row expansion decode shape (each input row yields multiple
    output rows, streamed batch-by-batch so a long video never
    materializes whole in memory). Y4M payloads get REAL frame
    extraction (each output frame is a decodable PGM image); compressed
    containers fall back to the deterministic stub."""

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict[str, Any]] = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                for i, frame in enumerate(
                    frame_sampler_or_fallback(bytes(payload), n_frames)
                ):
                    out.append(
                        {"media_id": media_id, "frame_idx": i,
                         "frame_payload": frame}
                    )
            yield pd.DataFrame(out, columns=[f.name for f in FRAME_SCHEMA.fields])

    return media.mapInPandas(expand, schema=FRAME_SCHEMA)


def resize_pixels(px: "np.ndarray", width: int, height: int) -> "np.ndarray":
    """Nearest-neighbor resize (deterministic integer source indices
    src = ⌊dst·src_size/dst_size⌋ — no interpolation-library variance)."""
    import numpy as np

    h, w, _ = px.shape
    ys = (np.arange(height) * h) // height
    xs = (np.arange(width) * w) // width
    return px[ys][:, xs]


def resize_images(media: DataFrame, *, width: int, height: int) -> DataFrame:
    """Resize every image payload. Decodable rasters (BMP/PPM/PGM) get a
    REAL decode → nearest-neighbor resize → PPM re-encode; payloads
    without a pure-Python decode path keep the deterministic
    truncate/pad stand-in (to width·height bytes) so mixed corpora
    still flow. Schema/partitioning/batching are unchanged either way."""
    target = width * height

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = []
            for p in pdf["payload"]:
                b = bytes(p)
                if b[:2] in (b"BM", b"P6", b"P5"):
                    try:
                        _, _, _, px = (
                            decode_bmp(b) if b[:2] == b"BM" else decode_ppm(b)
                        )
                        resized.append(encode_ppm(resize_pixels(px, width, height)))
                        continue
                    except ValueError:
                        pass
                resized.append(b[:target].ljust(target, b"\0"))
            out = pdf.copy()
            out["payload"] = resized
            yield out

    return media.mapInPandas(resize, schema=media.schema)
