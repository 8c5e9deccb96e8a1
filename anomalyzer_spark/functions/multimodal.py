"""Multimodal (binary) column plumbing for training-data pipelines.

Images/audio/video are opaque ``binary`` columns with typed metadata. The
Spark-side plumbing — schemas, Arrow batch shapes, ``mapInPandas``
signatures, partitioning behavior — is real and tested, and so is the
decoding for the UNCOMPRESSED container formats: binary PGM (P5) /
PPM (P6) and 24-bit BMP images, RIFF/WAVE PCM audio (8/16/24/32-bit),
and uncompressed RGB24 AVI frames are parsed natively in NumPy (no
external media libraries). Compressed codecs (JPEG/PNG/MP3/H.264 ...)
are the one environment gate: pass a ``fallback_decoder`` /
``frame_decoder`` seam (e.g. Pillow's ``Image.open`` where installed) —
the seam only WIDENS format coverage; the native paths, feature
extraction, and dedup logic are identical either way.

At 100 TB: binary payloads dominate row size — these operators are map-only
(no shuffle), so they scale with scan bandwidth; keep payload columns OUT of
any shuffle by projecting features before joins/aggregations.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, LongType, StringType, StructField,
    StructType,
)

from ..session import materialize as _materialize

#: magic prefixes → format tag (the usual suspects; extend as needed)
MAGIC = {
    b"\x89PNG": "png",
    b"\xff\xd8\xff": "jpeg",
    b"RIFF": "riff",  # wav/avi container
    b"GIF8": "gif",
    b"%PDF": "pdf",
    b"P6": "ppm",
    b"P5": "pgm",
    b"BM": "bmp",
}


def attach_payload(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Demo helper: materialize a ``binary`` payload column (UTF-8 bytes of
    the text) + typed metadata, standing in for real media bytes."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col),
        payload.alias("content"),
        F.struct(
            F.octet_length(F.col(text_col)).cast("long").alias("n_bytes"),
            F.lit("text/plain").alias("mime"),
        ).alias("meta"),
    )


def _format_expr(c):
    """Magic-prefix sniff as a pure column expression. RIFF containers
    resolve one level deeper (bytes 9-12) to wav/avi."""
    fmt = F.lit("unknown")
    for magic, tag in MAGIC.items():
        fmt = F.when(
            F.hex(F.substring(c, 1, len(magic))) == magic.hex().upper(),
            F.lit(tag)).otherwise(fmt)
    form = F.hex(F.substring(c, 9, 4))
    return F.when(fmt == "riff",
                  F.when(form == b"WAVE".hex().upper(), F.lit("wav"))
                  .when(form == b"AVI ".hex().upper(), F.lit("avi"))
                  .otherwise(F.lit("riff"))).otherwise(fmt)


def payload_meta(df: DataFrame, content_col: str = "content",
                 id_col: str = "doc_id") -> DataFrame:
    """Pure-column metadata over a binary payload: size, md5, magic sniff.

    JVM-side only — no Python, map-only, scales with scan bandwidth.
    """
    c = F.col(content_col)
    return df.select(
        F.col(id_col),
        F.octet_length(c).cast("long").alias("n_bytes"),
        F.md5(c).alias("content_md5"),
        _format_expr(c).alias("format"),
    )


_FEATURES_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_bytes", LongType()),
    StructField("byte_mean", DoubleType()),
    StructField("byte_std", DoubleType()),
    StructField("byte_entropy", DoubleType()),
])


def _byte_feats(raw: bytes) -> tuple[float, float, float]:
    """(mean, std, entropy) of a byte payload.

    Exact integer sums + order-free double formulas: bit-identical in any
    engine (the DuckDB oracle reruns these expressions verbatim), unlike
    numpy's pairwise-summation mean/std whose low bits depend on array
    length. UNROUNDED: byte means are dyadic rationals that land exactly on
    .xxxxxx5 decimals, where Python's banker's round() diverges from SQL
    half-away round() — callers round JVM-side (F.round) to match the
    oracle.
    """
    import math

    b = np.frombuffer(raw, dtype=np.uint8)
    n = len(b)
    if n == 0:
        return 0.0, 0.0, 0.0
    s1 = int(b.sum(dtype=np.int64))
    s2 = int((b.astype(np.int64) ** 2).sum())
    mean = s1 / n
    var = max(s2 / n - mean * mean, 0.0)
    counts = np.bincount(b, minlength=256)
    # ascending byte value, sequential left-to-right sum
    ent = -sum((int(c) / n) * math.log2(int(c) / n) for c in counts if c > 0)
    return mean, math.sqrt(var), ent


def byte_features(df: DataFrame, content_col: str = "content",
                  id_col: str = "doc_id") -> DataFrame:
    """Deterministic byte-level features via ``mapInPandas`` (Arrow batches).

    This is the exact execution shape a real decode-and-featurize takes
    (one Python worker pass per partition, vectorized inside the batch);
    swap the numpy body for the real decoder when the library exists.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, raw in zip(pdf[id_col], pdf[content_col]):
                b = bytes(raw)
                rows.append((int(did), len(b)) + _byte_feats(b))
            yield pd.DataFrame(rows, columns=[f.name for f in _FEATURES_SCHEMA])

    return df.select(F.col(id_col), F.col(content_col)).mapInPandas(
        fn, _FEATURES_SCHEMA)


_PROFILE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_bytes", LongType()),
    StructField("content_md5", StringType()),
    StructField("format", StringType()),
    StructField("byte_mean", DoubleType()),
    StructField("byte_std", DoubleType()),
    StructField("byte_entropy", DoubleType()),
])


def payload_profile(df: DataFrame, content_col: str = "content",
                    id_col: str = "doc_id") -> DataFrame:
    """``payload_meta`` ⊕ ``byte_features`` in ONE pass: the pure-column
    metadata (size/md5/magic) is computed JVM-side on the way INTO the
    ``mapInPandas`` stage and carried through it, so the merged result needs
    no join/exchange and the binary payload crosses Arrow exactly once. The
    meta scalars riding along are ~40 bytes/row next to the payload that
    must cross anyway — strictly cheaper than a second payload synthesis +
    shuffle join of the two halves."""
    c = F.col(content_col)
    with_meta = df.select(
        F.col(id_col),
        F.octet_length(c).cast("long").alias("n_bytes"),
        F.md5(c).alias("content_md5"),
        _format_expr(c).alias("format"),
        c.alias(content_col),
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, nb, md5h, fmt_tag, raw in zip(
                    pdf[id_col], pdf["n_bytes"], pdf["content_md5"],
                    pdf["format"], pdf[content_col]):
                rows.append(
                    (int(did), int(nb), md5h, fmt_tag)
                    + _byte_feats(bytes(raw)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in _PROFILE_SCHEMA])

    return with_meta.mapInPandas(fn, _PROFILE_SCHEMA)


def _pnm_decode(raw: bytes) -> np.ndarray:
    """P5 (PGM) / P6 (PPM) → (h, w) or (h, w, 3) uint8. maxval <= 255
    only (the 1-byte-per-sample binary variants). Full header grammar:
    whitespace-separated tokens, ``#`` comments to end-of-line."""
    if raw[:2] not in (b"P5", b"P6"):
        raise ValueError("not a binary PGM/PPM payload")
    channels = 1 if raw[:2] == b"P5" else 3
    toks, i, n = [], 2, len(raw)
    while len(toks) < 3:
        while i < n and raw[i:i + 1].isspace():
            i += 1
        if i < n and raw[i:i + 1] == b"#":
            while i < n and raw[i:i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < n and not raw[j:j + 1].isspace():
            j += 1
        if j == i:
            raise ValueError("truncated PNM header")
        toks.append(raw[i:j])
        i = j
    w, h, maxval = (int(t) for t in toks)
    if not (0 < w and 0 < h):
        raise ValueError("bad PNM dimensions")
    if not 0 < maxval <= 255:
        raise ValueError("only 1-byte PNM samples supported")
    i += 1  # single whitespace byte after maxval, per spec
    need = w * h * channels
    if n - i < need:
        raise ValueError("truncated PNM pixel data")
    data = np.frombuffer(raw, dtype=np.uint8, count=need, offset=i)
    px = data.reshape(h, w, channels)
    return px[:, :, 0] if channels == 1 else px


def _bmp_decode(raw: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP → (h, w, 3) uint8 RGB. Handles the 4-byte
    row padding, bottom-up (positive height) and top-down storage."""
    if raw[:2] != b"BM" or len(raw) < 54:
        raise ValueError("not a BMP payload")

    def _le(off: int, sz: int, signed: bool = False) -> int:
        return int.from_bytes(raw[off:off + sz], "little", signed=signed)

    data_off = _le(10, 4)
    w = _le(18, 4, signed=True)
    h = _le(22, 4, signed=True)
    bpp = _le(28, 2)
    compression = _le(30, 4)
    if bpp != 24 or compression != 0:
        raise ValueError("only uncompressed 24-bit BMP supported")
    if w <= 0 or h == 0:
        raise ValueError("bad BMP dimensions")
    top_down = h < 0
    h = abs(h)
    stride = (w * 3 + 3) // 4 * 4
    need = data_off + stride * h
    if len(raw) < need:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(raw, dtype=np.uint8, count=stride * h,
                         offset=data_off).reshape(h, stride)
    bgr = rows[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        bgr = bgr[::-1]
    return bgr[:, :, ::-1]  # BGR → RGB


def _to_gray_unit(px: np.ndarray) -> np.ndarray:
    """(h, w[, 3]) uint8 → (h, w) float64 in [0, 1]. Color uses the
    ITU-R 601-2 luma weights as EXACT rationals ((299R+587G+114B)/1000 —
    engine/libm-independent), then /255."""
    if px.ndim == 2:
        return px.astype(np.float64) / 255.0
    p = px.astype(np.int64)
    luma = 299 * p[:, :, 0] + 587 * p[:, :, 1] + 114 * p[:, :, 2]
    return luma.astype(np.float64) / (1000.0 * 255.0)


def _resize_nearest(g: np.ndarray, size: tuple[int, int]) -> np.ndarray:
    """Deterministic nearest-neighbor resample to (w, h): source index =
    floor((i + 0.5) * src / dst) — pure integer arithmetic, no libm."""
    w, h = size
    sh, sw = g.shape
    ri = ((2 * np.arange(h) + 1) * sh) // (2 * h)
    ci = ((2 * np.arange(w) + 1) * sw) // (2 * w)
    return g[ri][:, ci]


_DECODE_RAW_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", LongType()),
    StructField("height", LongType()),
    StructField("pixels", ArrayType(DoubleType())),
    StructField("err", StringType()),
])


def _run_fallback_decoder(decoder, b: bytes) -> np.ndarray:
    """Call a user-injected image decoder under the per-row error
    contract: ANY exception it throws (PIL raises its own hierarchy)
    becomes a ValueError this module's kernels already capture row-wise,
    and the returned raster is validated into the internal (h, w[, 3])
    uint8 shape so every downstream stage (luma, resize, dHash) behaves
    exactly as it does for the library-free formats."""
    try:
        px = np.asarray(decoder(b))
    except Exception as e:  # user code: capture, never kill the task
        raise ValueError(f"fallback decoder: {e}") from e
    if px.dtype != np.uint8 or px.ndim not in (2, 3) \
            or (px.ndim == 3 and px.shape[-1] != 3) or px.size == 0:
        raise ValueError(
            "fallback decoder must return a non-empty uint8 array of "
            f"shape (h, w) or (h, w, 3); got dtype={px.dtype} "
            f"shape={px.shape}")
    return px


def decode_image_raw(df: DataFrame, content_col: str = "content",
                     id_col: str = "doc_id", *,
                     size: tuple[int, int] = (64, 64),
                     fallback_decoder=None) -> DataFrame:
    """REAL library-free image decode for the uncompressed formats —
    binary PGM (P5) / PPM (P6) and 24-bit uncompressed BMP — entirely in
    NumPy inside one ``mapInPandas`` Arrow pass.

    Per-row error capture, not task failure: a corrupt or unsupported
    payload yields (id, NULL pixels, ``err`` message) — at crawl scale
    bad bytes are DATA, and one of them must not kill a 100 TB job.
    Output pixels: ``size``-resampled (nearest-neighbor, integer index
    arithmetic) grayscale (exact ITU-R 601-2 rational luma) row-major in
    [0, 1]; ``width``/``height`` are the ORIGINAL decoded dimensions.

    ``fallback_decoder``: the compressed-codec seam. Real crawl data is
    JPEG/PNG, whose decode needs a library this environment doesn't
    ship — instead of forking the operator, inject a callable
    ``bytes -> uint8 ndarray (h, w) grayscale or (h, w, 3) RGB`` (e.g.
    ``lambda b: np.asarray(Image.open(io.BytesIO(b)).convert("RGB"))``)
    and every payload the library-free decoders don't recognize routes
    through it. The callable runs INSIDE the Arrow kernel under the same
    per-row error contract: whatever it raises lands in ``err`` for that
    row only, and its output passes through the identical luma/resize
    stages, so signatures stay comparable across decode paths. The
    library-free formats keep decoding natively (the tested default) —
    the seam only widens coverage, never changes it."""
    w_out, h_out = size
    if w_out < 1 or h_out < 1:
        raise ValueError("size must be positive")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, raw in zip(pdf[id_col], pdf[content_col]):
                b = bytes(raw) if raw is not None else b""
                try:
                    if b[:2] in (b"P5", b"P6"):
                        px = _pnm_decode(b)
                    elif b[:2] == b"BM":
                        px = _bmp_decode(b)
                    elif fallback_decoder is not None:
                        px = _run_fallback_decoder(fallback_decoder, b)
                    else:
                        raise ValueError(
                            "unsupported format for raw decode "
                            "(PGM/PPM/BMP natively; pass "
                            "fallback_decoder= to plug in a codec "
                            "library for compressed formats)")
                    h0, w0 = px.shape[:2]
                    g = _resize_nearest(_to_gray_unit(px), size)
                    rows.append((int(did), w0, h0, g.ravel().tolist(),
                                 None))
                except (ValueError, IndexError) as e:
                    rows.append((int(did), None, None, None, str(e)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in _DECODE_RAW_SCHEMA])

    return df.select(F.col(id_col), F.col(content_col)).mapInPandas(
        fn, _DECODE_RAW_SCHEMA)


def _wav_decode(raw: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM → ((n_samples, channels) float64 in [-1, 1],
    sample_rate). Integer PCM (8/16/32-bit) only — the uncompressed
    format; compressed codecs need external libraries by nature."""
    if raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")

    def _le(off: int, sz: int) -> int:
        return int.from_bytes(raw[off:off + sz], "little")

    i, n = 12, len(raw)
    fmt = None
    while i + 8 <= n:
        cid, csz = raw[i:i + 4], _le(i + 4, 4)
        body = i + 8
        if cid == b"fmt ":
            if body + 16 > n:
                raise ValueError("truncated fmt chunk")
            fmt = (_le(body, 2), _le(body + 2, 2), _le(body + 4, 4),
                   _le(body + 14, 2))  # (tag, channels, rate, bits)
        elif cid == b"data":
            if fmt is None:
                raise ValueError("data chunk before fmt chunk")
            tag, channels, rate, bits = fmt
            if tag != 1:
                raise ValueError("only PCM (format tag 1) supported")
            if bits not in (8, 16, 32) or channels < 1:
                raise ValueError("only 8/16/32-bit integer PCM supported")
            csz = min(csz, n - body)  # tolerate a truncated final chunk
            width = bits // 8
            frames = csz // (width * channels)
            if frames == 0:
                raise ValueError("empty WAV data chunk")
            count = frames * channels
            if bits == 8:      # 8-bit WAV is UNSIGNED, midpoint 128
                s = np.frombuffer(raw, np.uint8, count, body)
                x = (s.astype(np.float64) - 128.0) / 128.0
            elif bits == 16:
                s = np.frombuffer(raw, "<i2", count, body)
                x = s.astype(np.float64) / 32768.0
            else:
                s = np.frombuffer(raw, "<i4", count, body)
                x = s.astype(np.float64) / 2147483648.0
            return x.reshape(frames, channels), rate
        i = body + csz + (csz & 1)  # RIFF chunks are 2-byte aligned
    raise ValueError("no data chunk found")


def _decode_audio_any(b: bytes, fallback_decoder) -> tuple[np.ndarray, int]:
    """RIFF/WAVE payloads through the library-free PCM reader; anything
    else through the injected codec decoder (``bytes -> (samples, rate)``
    with samples float in [-1, 1], shape (n,) or (n, channels)) under the
    per-row error contract — the audio leg of the compressed-codec seam
    (mp3/aac/opus need a library by nature)."""
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        return _wav_decode(b)
    if fallback_decoder is None:
        return _wav_decode(b)  # raises its documented format error
    try:
        x, rate = fallback_decoder(b)
        x = np.asarray(x, dtype=np.float64)
    except Exception as e:  # user code: capture, never kill the task
        raise ValueError(f"fallback decoder: {e}") from e
    if x.ndim == 1:
        x = x[:, None]
    if x.ndim != 2 or x.shape[0] == 0 or int(rate) <= 0:
        raise ValueError(
            "fallback decoder must return (samples (n,) or "
            f"(n, channels), rate > 0); got shape={x.shape} rate={rate}")
    return x, int(rate)


_AUDIO_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("sample_rate", LongType()),
    StructField("n_samples", LongType()),
    StructField("n_channels", LongType()),
    StructField("duration_s", DoubleType()),
    StructField("rms", DoubleType()),
    StructField("peak", DoubleType()),
    StructField("zero_cross_rate", DoubleType()),
    StructField("clip_fraction", DoubleType()),
    StructField("err", StringType()),
])


def decode_audio_features(df: DataFrame, content_col: str = "content",
                          id_col: str = "doc_id", *,
                          fallback_decoder=None) -> DataFrame:
    """REAL library-free audio decode + featurize for RIFF/WAVE integer
    PCM, in one ``mapInPandas`` Arrow pass — the audio leg of the
    curation triage that decides which clips are worth a real
    model/codec pass: silence (rms≈0), clipping (clip_fraction), and
    DC/noise profile (zero_cross_rate) straight off the samples.

    Features are over the channel-mean signal; ``zero_cross_rate`` =
    sign changes / (n_samples − 1); ``clip_fraction`` = |sample| >=
    0.999 of full scale across ALL channels. Per-row error capture like
    ``decode_image_raw`` — corrupt crawl bytes are data, not task
    failures. Compressed codecs (mp3/aac/opus) are an external-library
    decode by nature: inject one via ``fallback_decoder`` (``bytes ->
    (samples, rate)``, see ``_decode_audio_any``) and non-WAV payloads
    route through it under the same per-row error contract."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, raw in zip(pdf[id_col], pdf[content_col]):
                b = bytes(raw) if raw is not None else b""
                try:
                    x, rate = _decode_audio_any(b, fallback_decoder)
                    frames, channels = x.shape
                    mono = x.mean(axis=1)
                    rms = float(np.sqrt(np.mean(mono * mono)))
                    peak = float(np.abs(x).max())
                    zc = (float(np.count_nonzero(
                        np.signbit(mono[1:]) != np.signbit(mono[:-1])))
                        / (frames - 1)) if frames > 1 else 0.0
                    clip = float(np.count_nonzero(
                        np.abs(x) >= 0.999)) / x.size
                    rows.append((int(did), rate, frames, channels,
                                 frames / rate, rms, peak, zc, clip, None))
                except (ValueError, IndexError) as e:
                    rows.append((int(did), None, None, None, None, None,
                                 None, None, None, str(e)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in _AUDIO_SCHEMA])

    return df.select(F.col(id_col), F.col(content_col)).mapInPandas(
        fn, _AUDIO_SCHEMA)


def decode_image(df: DataFrame, content_col: str = "content",
                 id_col: str = "doc_id", *, size: tuple[int, int] = (64, 64)):
    """Decode + resize images to fixed-size float arrays.

    PIL path — for COMPRESSED formats (png/jpeg/gif…); this container
    does not ship PIL, so the function raises ``NotImplementedError`` at
    plan-build time when the library is missing (schema + batch shape
    below are the contract). The uncompressed formats decode for real,
    library-free, via ``decode_image_raw``.
    Output schema: (id, pixels array<double> of h*w grayscale in [0,1]).
    """
    try:
        from PIL import Image  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "image decode needs PIL; this environment does not provide it — "
            "use decode_image_raw (PGM/PPM/BMP, library-free; its "
            "fallback_decoder= seam accepts any codec callable, so a PIL "
            "or turbojpeg decode plugs in without forking the operator) "
            "or byte_features instead"
        ) from e

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("pixels", ArrayType(DoubleType())),
    ])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        from PIL import Image
        for pdf in batches:
            rows = []
            for did, raw in zip(pdf[id_col], pdf[content_col]):
                img = Image.open(io.BytesIO(bytes(raw))).convert("L").resize(size)
                px = (np.asarray(img, dtype=np.float64) / 255.0).ravel()
                rows.append((int(did), px.tolist()))
            yield pd.DataFrame(rows, columns=["doc_id", "pixels"])

    return df.select(F.col(id_col), F.col(content_col)).mapInPandas(fn, schema)


def _avi_video_frames(raw: bytes) -> list[bytes]:
    """RIFF/AVI container demux, no codec needed: walk the ``movi`` LIST
    and return the video stream's frame payloads (``NNdc``/``NNdb``
    chunks) in storage order. The frames themselves stay compressed
    bytes — decoding them is a codec's job; SAMPLING them is pure
    container arithmetic, which is what a 100 TB frame-sampling pass
    actually does before shipping keyframes to a decode service."""
    if raw[:4] != b"RIFF" or raw[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")

    frames: list[bytes] = []

    def walk(start: int, end: int, in_movi: bool) -> None:
        i = start
        while i + 8 <= end:
            cid = raw[i:i + 4]
            csz = int.from_bytes(raw[i + 4:i + 8], "little")
            body = i + 8
            stop = min(body + csz, end)
            if cid == b"LIST":
                ltype = raw[body:body + 4]
                walk(body + 4, stop, in_movi or ltype == b"movi")
            elif (in_movi and len(cid) == 4 and cid[:2].isdigit()
                  and cid[2:4] in (b"dc", b"db")):
                frames.append(raw[body:stop])
            i = body + csz + (csz & 1)  # 2-byte chunk alignment

    walk(12, len(raw), False)
    if not frames:
        raise ValueError("no video frames in AVI movi list")
    return frames


def frame_sample(df: DataFrame, content_col: str = "content",
                 id_col: str = "doc_id", *, n_frames: int = 4,
                 fallback_demuxer=None) -> DataFrame:
    """Deterministic frame sampling: ``n_frames`` evenly spaced frames
    per payload, (id, frame_idx, frame binary) exploded one row each.

    RIFF/AVI payloads get REAL container demux (``_avi_video_frames``:
    the ``movi`` chunk walk — library-free; frame BYTES stay compressed,
    as a sampling pass should leave them) with even index spacing over
    the true frame sequence — ``frame_idx`` is the frame's index IN THE
    VIDEO. ``fallback_demuxer`` is the container seam: a callable
    ``bytes -> list[bytes]`` (e.g. an ffmpeg/PyAV wrapper) tried for
    non-AVI payloads; its frames get the same even index spacing, and a
    demuxer that raises or returns nothing falls through to the stub —
    sampling is triage, a bad container should degrade, not kill the
    pass. Everything else falls back to the documented byte-window stub
    (evenly spaced payload slices, a stand-in until a demuxer for that
    container exists); undemuxable AVIs (no movi frames) fall back too
    rather than failing the task."""
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame", BinaryType()),
    ])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def spaced(did, fr):
            k = min(n_frames, len(fr))
            for i in range(k):
                idx = ((2 * i + 1) * len(fr)) // (2 * k)
                out.append((int(did), idx, fr[idx]))

        for pdf in batches:
            out = []
            for did, raw in zip(pdf[id_col], pdf[content_col]):
                b = bytes(raw)
                if not b:
                    continue
                if b[:4] == b"RIFF" and b[8:12] == b"AVI ":
                    try:
                        spaced(did, _avi_video_frames(b))
                        continue
                    except ValueError:
                        pass  # fall through to the byte-window stub
                elif fallback_demuxer is not None:
                    try:
                        fr = [bytes(x) for x in fallback_demuxer(b)]
                    except Exception:
                        fr = []  # degrade to the stub, never fail
                    if fr:
                        spaced(did, fr)
                        continue
                w = max(len(b) // n_frames, 1)
                for i in range(min(n_frames, len(b))):
                    out.append((int(did), i, b[i * w:(i + 1) * w]))
            yield pd.DataFrame(out, columns=["doc_id", "frame_idx", "frame"])

    return df.select(F.col(id_col), F.col(content_col)).mapInPandas(fn, schema)


def pgm_payload_col(text: Column, *, width: int = 9, height: int = 8) -> Column:
    """A deterministic synthetic PGM (P5) image payload derived from a text
    column — the documented stand-in for real media bytes in environments
    without image fixtures (same role as ``attach_payload``). Pixel bytes
    are an md5-derived stream of the text (engine-portable: DuckDB
    reproduces them as ``md5(text) || md5(text||'1') || ...``), so every
    downstream value — decoded rasters, dHash signatures — is
    value-hash checkable by a SQL oracle."""
    n = width * height
    n_md5 = (n + 15) // 16
    hx = F.concat(*[
        F.md5(F.encode(text if i == 0 else F.concat(text, F.lit(str(i))),
                       "UTF-8"))
        for i in range(n_md5)])
    header = f"P5\n{width} {height}\n255\n".encode()
    return F.concat(F.lit(header), F.unhex(F.substring(hx, 1, 2 * n)))


def wav_payload_col(text: Column, *, n_samples: int = 128,
                    rate: int = 8000) -> Column:
    """A deterministic synthetic RIFF/WAVE payload (16-bit mono PCM)
    derived from a text column — the audio analogue of
    ``pgm_payload_col``. Sample bytes are an md5 stream of the text with
    ``'a<j>'`` suffixes (engine-portable: DuckDB rebuilds sample ``i`` as
    the little-endian int16 at hex chars ``4i+1..4i+4`` of
    ``md5(text||'a0') || md5(text||'a1') || ...``), so the REAL WAV
    decode + fingerprint path is value-hash checkable by a SQL oracle
    that recomputes the DFT from the same samples."""
    import struct as _struct
    nbytes = n_samples * 2
    n_md5 = (nbytes + 15) // 16
    hdr = (b"RIFF" + (36 + nbytes).to_bytes(4, "little") + b"WAVE"
           + b"fmt " + (16).to_bytes(4, "little")
           + _struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
           + b"data" + nbytes.to_bytes(4, "little"))
    hx = F.concat(*[
        F.md5(F.encode(F.concat(text, F.lit(f"a{j}")), "UTF-8"))
        for j in range(n_md5)])
    return F.concat(F.lit(hdr), F.unhex(F.substring(hx, 1, 2 * nbytes)))


def avi_payload_col(text: Column, *, n_frames: int = 3,
                    width: int = 9, height: int = 8) -> Column:
    """A deterministic synthetic RIFF/AVI payload whose ``movi`` LIST
    carries ``n_frames`` uncompressed PGM frames — the video analogue of
    ``pgm_payload_col``. Frame ``fi``'s pixel bytes are the md5 stream of
    the text with ``'v<fi>_<j>'`` suffixes (DuckDB rebuilds them without
    parsing the container), so the REAL demux (``_avi_video_frames``) +
    per-frame decode + dHash path is value-hash checkable end-to-end:
    only a correct container walk recovers the bytes the oracle expects."""
    n = width * height
    n_md5 = (n + 15) // 16
    header = f"P5\n{width} {height}\n255\n".encode()
    fsize = len(header) + n
    pad = fsize & 1  # RIFF chunks are 2-byte aligned
    chunk_sz = 8 + fsize + pad
    movi_body = 4 + n_frames * chunk_sz
    riff_sz = 4 + 8 + movi_body
    parts = [F.lit(b"RIFF" + riff_sz.to_bytes(4, "little") + b"AVI "
                   + b"LIST" + movi_body.to_bytes(4, "little") + b"movi")]
    for fi in range(n_frames):
        hx = F.concat(*[
            F.md5(F.encode(F.concat(text, F.lit(f"v{fi}_{j}")), "UTF-8"))
            for j in range(n_md5)])
        frame = F.concat(
            F.lit(b"00dc" + fsize.to_bytes(4, "little") + header),
            F.unhex(F.substring(hx, 1, 2 * n)))
        parts.append(
            F.concat(frame, F.lit(b"\x00" * pad)) if pad else frame)
    return F.concat(*parts)


def dhash64_col(pixels: Column, *, width: int = 9, height: int = 8) -> Column:
    """64-bit dHash (difference hash) of a row-major grayscale raster as a
    PURE column expression — bit ``r*(width-1)+c`` is 1 iff the pixel to
    the right is strictly brighter: ``px[r*width+c+1] > px[r*width+c]``.
    The canonical perceptual-dedup signature (9x8 raster -> 8x8 = 64
    comparison bits); robust to rescaling/brightness because only LOCAL
    gradients survive. Unrolled over plan-time constants and folded with
    bitwiseOR (no arithmetic overflow on bit 63), so it stays inside
    whole-stage codegen — the decode kernel is the only Python in the
    pipeline."""
    if (width - 1) * height != 64:
        raise ValueError("dhash64 needs (width-1)*height == 64, e.g. 9x8")
    import functools
    terms = []
    for r in range(height):
        for c in range(width - 1):
            k = r * (width - 1) + c
            left = F.element_at(pixels, r * width + c + 1)
            right = F.element_at(pixels, r * width + c + 2)
            terms.append(
                F.when(right > left,
                       F.shiftleft(F.lit(1).cast("long"), k))
                .otherwise(F.lit(0).cast("long")))
    return functools.reduce(lambda a, b: a.bitwiseOR(b), terms)


def dhash_image(df: DataFrame, content_col: str = "content",
                id_col: str = "doc_id", *,
                fallback_decoder=None) -> DataFrame:
    """Perceptual image signature: REAL library-free decode
    (``decode_image_raw``, PGM/PPM/BMP; ``fallback_decoder`` plugs in a
    codec library for compressed formats — see its contract there) to a
    9x8 grayscale raster, then the 64-bit dHash as a JVM-side expression
    over the decoded pixels. Per-row error capture carries through: a
    corrupt payload yields (id, NULL dhash64, err) instead of killing
    the job. Map-only — one Arrow pass, zero shuffles."""
    dec = decode_image_raw(df, content_col, id_col, size=(9, 8),
                           fallback_decoder=fallback_decoder)
    return dec.select(
        F.col("doc_id").alias(id_col) if id_col != "doc_id"
        else F.col(id_col),
        F.col("width"), F.col("height"),
        F.when(F.col("pixels").isNotNull(),
               dhash64_col(F.col("pixels"))).alias("dhash64"),
        F.col("err"))


def dhash_pairs(df: DataFrame, content_col: str = "content",
                id_col: str = "doc_id", *, max_hamming: int = 3,
                materialize: bool = True,
                fallback_decoder=None) -> DataFrame:
    """Near-duplicate IMAGE pairs by dHash Hamming distance — the image
    cell of the dedup matrix. Signatures from ``dhash_image`` (undecodable
    payloads drop out as NULL), pairs from the same banded self-join that
    powers text SimHash (``dedup.hamming_pairs``: d+1 equal bit-blocks,
    equi-join per block, bit_count(xor) verify — never all-pairs).
    Returns (id_a, id_b, hamming)."""
    from . import dedup as _dedup
    sigs = dhash_image(df, content_col, id_col,
                       fallback_decoder=fallback_decoder) \
        .where(F.col("dhash64").isNotNull())
    return _dedup.hamming_pairs(sigs, "dhash64", id_col, bits=64,
                                max_hamming=max_hamming,
                                materialize=materialize)


_AUDIO_FP_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("sample_rate", LongType()),
    StructField("n_frames", LongType()),
    StructField("subfps", ArrayType(LongType())),
    StructField("err", StringType()),
])


def audio_fingerprint(df: DataFrame, content_col: str = "content",
                      id_col: str = "doc_id", *,
                      frame: int = 2048, hop: int = 1024,
                      n_bands: int = 25, fmin: float = 300.0,
                      fmax: float = 3000.0,
                      fallback_decoder=None) -> DataFrame:
    """Perceptual AUDIO fingerprint (Haitsma/Kalker PHILIPS-style, the
    published robust-hash construction): per overlapping Hann-windowed
    frame, log-spaced band energies in [fmin, fmax]; subfingerprint bit
    (n, m) = sign of the time-derivative of the band-energy difference,
    ``(E(n,m)-E(n,m+1)) - (E(n-1,m)-E(n-1,m+1)) > 0`` — ``n_bands - 1``
    bits per frame boundary. Library-free: NumPy rfft inside one
    ``mapInPandas`` Arrow pass (the decode is the repo's own RIFF/WAVE PCM
    reader; ``fallback_decoder`` plugs a codec library in for compressed
    payloads — see ``_decode_audio_any``), per-row error capture like
    every decoder here.

    Robustness by construction (pinned in tests): bits are invariant to
    uniform volume scaling (energies scale by c², differences keep sign)
    and to time shifts of whole hops (frames realign). Returns
    (id, sample_rate, n_frames, subfps array — one per frame boundary,
    err)."""
    if not (0 < hop <= frame):
        raise ValueError("need 0 < hop <= frame")
    if n_bands < 2:
        raise ValueError("n_bands must be >= 2")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        win = np.hanning(frame)
        weights = (1 << np.arange(n_bands - 1)).astype(np.int64)
        for pdf in batches:
            rows = []
            for did, raw in zip(pdf[id_col], pdf[content_col]):
                try:
                    x, rate = _decode_audio_any(
                        bytes(raw) if raw else b"", fallback_decoder)
                    mono = x.mean(axis=1)
                    if len(mono) < frame + hop:
                        raise ValueError(
                            f"clip too short for two frames "
                            f"({len(mono)} samples)")
                    n_fr = 1 + (len(mono) - frame) // hop
                    idx = (np.arange(frame)[None, :]
                           + hop * np.arange(n_fr)[:, None])
                    spec = np.abs(np.fft.rfft(mono[idx] * win, axis=1)) ** 2
                    freqs = np.fft.rfftfreq(frame, 1.0 / rate)
                    edges = fmin * (fmax / fmin) ** (
                        np.arange(n_bands + 1) / n_bands)
                    band = np.searchsorted(edges, freqs, side="right")
                    e = np.zeros((n_fr, n_bands))
                    for m in range(n_bands):
                        sel = band == m + 1
                        if sel.any():
                            e[:, m] = spec[:, sel].sum(axis=1)
                    d = e[:, :-1] - e[:, 1:]
                    bits = (d[1:] - d[:-1]) > 0
                    sub = (bits * weights).sum(axis=1)
                    rows.append((int(did), int(rate), len(sub),
                                 sub.tolist(), None))
                except (ValueError, IndexError) as exc:
                    rows.append((int(did), None, None, None, str(exc)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in _AUDIO_FP_SCHEMA])

    return df.select(F.col(id_col), F.col(content_col)).mapInPandas(
        fn, _AUDIO_FP_SCHEMA)


def audio_matches(df: DataFrame, content_col: str = "content",
                  id_col: str = "doc_id", *,
                  min_shared: int = 5, max_df: int | None = None,
                  **fp_kwargs) -> DataFrame:
    """Near-duplicate AUDIO pairs: clips sharing at least ``min_shared``
    distinct subfingerprints — the audio cell of the dedup matrix
    (text: simhash/minhash; images: dhash; fragments:
    text.fingerprint_matches — the same ``dedup.shared_value_pairs``
    containment join, which materializes the exploded frame once so
    the FFT fingerprint kernel runs ONE Arrow pass, not once per
    self-join side). ``max_df`` drops subfingerprints present in more
    than ``max_df`` clips before the join (silence/constant-tone frames
    are the audio analogue of boilerplate banners). Returns
    (id_a, id_b, shared_fps, overlap) with overlap =
    shared / min(|fps_a|, |fps_b|) rounded to 6."""
    from . import dedup as _dedup
    fps = audio_fingerprint(df, content_col, id_col, **fp_kwargs) \
        .where(F.col("subfps").isNotNull()) \
        .select(F.col(id_col), F.array_distinct("subfps").alias("_fps"))
    ex = fps.select(
        F.col(id_col),
        F.size("_fps").alias("_nfp"),
        F.explode("_fps").alias("_fp"))
    return _dedup.shared_value_pairs(ex, id_col, min_shared=min_shared,
                                     max_df=max_df)


#: frame-id packing for video_matches: fid = clip_id * 2^31 + frame_idx
_FRAME_ID_BITS = 31


def video_matches(df: DataFrame, content_col: str = "content",
                  id_col: str = "doc_id", *,
                  n_frames: int = 8, max_hamming: int = 3,
                  min_shared: int = 2) -> DataFrame:
    """Near-duplicate VIDEO pairs — the video cell of the dedup matrix,
    as a composition of the existing legs: ``frame_sample`` demuxes each
    clip (REAL RIFF/AVI walk; other containers fall back to the
    documented byte-window stub), every sampled frame gets the 9×8
    ``dhash64`` through the library-free image decoder (frames that are
    not decodable rasters — i.e. real codec payloads in this
    container-less environment — drop out as NULL, per-row, never
    failing the job), frame signatures within ``max_hamming`` pair up
    through the shared pigeonhole banding, and clip pairs sharing at
    least ``min_shared`` matched frames survive.

    Returns (id_a, id_b, shared_frames, overlap) with overlap = distinct
    matched frames of the smaller side / its sampled-frame count.
    Scale: every stage is a reused primitive (Arrow demux+decode passes,
    banded equi-join, grouped count) — no all-pairs at frame or clip
    level. Frame ids pack as clip_id * 2^31 + frame_idx: clip ids must be
    non-negative and below 2^32 — out-of-range ids RAISE at execution
    (mis-attribution from silent overflow is a correctness bug, not a
    row to drop) — and frames with a true in-video index ≥ 2^31 (never
    reachable — frame_sample emits at most the clip's real frame count of
    indexes) are dropped defensively rather than mis-attributed."""
    if min_shared < 1:
        raise ValueError("min_shared must be >= 1")
    from . import dedup as _dedup
    m = 1 << _FRAME_ID_BITS
    frames = frame_sample(df.select(F.col(id_col), F.col(content_col)),
                          content_col, id_col, n_frames=n_frames)
    # enforce the packing contract, don't silently overflow: a negative or
    # >= 2^32 clip id would alias into another clip's fid range and
    # mis-attribute its frames
    clip_ok = (F.col("doc_id") >= 0) & (F.col("doc_id") < (1 << 32))
    fid_df = frames.where(F.col("frame_idx") < m).select(
        F.when(clip_ok, F.col("doc_id") * m + F.col("frame_idx"))
        .otherwise(F.raise_error(F.concat(
            F.lit("video_matches: clip id out of packable range "
                  "[0, 2^32): "), F.col("doc_id").cast("string"))))
        .alias("doc_id"),
        F.col("frame").alias("content"))
    sigs = dhash_image(fid_df, "content", "doc_id") \
        .where(F.col("dhash64").isNotNull()).select("doc_id", "dhash64")
    # sigs feeds the per-clip counts AND the pair join: without this the
    # demux + decode Arrow kernels (the cost of the operator) would run
    # once per consumer
    sigs = _materialize(sigs, reason="video_matches.signatures")
    # per-clip decodable-frame counts (the overlap denominator);
    # shiftrightunsigned = exact integer unpack (double division would
    # round across the boundary for fids past 2^53)
    nfr = sigs.select(
        F.shiftrightunsigned(F.col("doc_id"), _FRAME_ID_BITS)
        .alias("_clip")) \
        .groupBy("_clip").agg(F.count(F.lit(1)).alias("_nf"))
    fp = _dedup.hamming_pairs(sigs, "dhash64", "doc_id", bits=64,
                              max_hamming=max_hamming,
                              materialize=False)  # sigs already pinned
    clip_a = F.shiftrightunsigned(F.col("id_a"), _FRAME_ID_BITS)
    clip_b = F.shiftrightunsigned(F.col("id_b"), _FRAME_ID_BITS)
    cross = fp.select(
        F.least(clip_a, clip_b).alias("ca"),
        F.greatest(clip_a, clip_b).alias("cb"),
        F.when(clip_a <= clip_b, F.col("id_a")).otherwise(F.col("id_b"))
        .alias("fa"),
        F.when(clip_a <= clip_b, F.col("id_b")).otherwise(F.col("id_a"))
        .alias("fb"),
    ).where(F.col("ca") != F.col("cb"))
    agg = cross.groupBy("ca", "cb").agg(
        F.count_distinct(F.struct("fa", "fb")).alias("shared_frames"),
        F.count_distinct("fa").alias("_da"),
        F.count_distinct("fb").alias("_db"))
    na, nb = nfr.alias("na"), nfr.alias("nb")
    return (
        agg.join(na, agg["ca"] == F.col("na._clip"))
        .join(nb, agg["cb"] == F.col("nb._clip"))
        .select(
            F.col("ca").alias("id_a"), F.col("cb").alias("id_b"),
            F.col("shared_frames"),
            F.round(
                F.when(F.col("na._nf") <= F.col("nb._nf"),
                       F.col("_da") / F.col("na._nf"))
                .otherwise(F.col("_db") / F.col("nb._nf")), 6)
            .alias("overlap"))
        .where(F.col("shared_frames") >= min_shared)
    )
