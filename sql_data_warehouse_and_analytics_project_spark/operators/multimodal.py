"""Multimodal (image/audio/video) column plumbing.

Design: media travels as an opaque ``binary`` column plus a typed metadata
struct — the layout a 100 TB multimodal training-data lake uses (media bytes
inline for small assets, or a URI + byte-range for large ones; either way
the Spark-side schema is identical). Decode / feature-extraction runs as
Arrow-batched ``mapInPandas`` so bytes cross the JVM↔Python boundary once
per batch, not per row.

Codec support (r02): the container has no media libraries (no PIL/ffmpeg),
but PNG and WAV are simple enough to decode with the stdlib — so the REAL
decode path is real for those two formats: ``_decode_png`` parses PNG
chunks, inflates IDAT with zlib, and undoes all five scanline filters
(None/Sub/Up/Average/Paeth, per the public PNG spec) into a numpy pixel
array; ``_decode_wav`` reads PCM frames via the ``wave`` module. VIDEO
(r9): uncompressed AVI gets a real stdlib codec round trip too —
``encode_avi``/``decode_avi`` walk the RIFF container and raw DIB frames —
so real frame sampling, per-frame dHash, and video near-dup all run on
true decoded pixels; COMPRESSED video codecs raise from the parser and
fall back to the deterministic fake feature (production plugs ffmpeg in
exactly there).
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..materialize import checkpoint
from ..registry import query
from ..sources import tpch
from .dedup import _LSH_BUCKET_CAP as _PHASH_CAP  # one tuning knob for every banding cap
from .dedup import _hamming_pairs

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("n_bytes", T.LongType()),
                    T.StructField("codec", T.StringType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_digest", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type → channel count


def decode_png(raw: bytes) -> np.ndarray:
    """Decode an 8-bit non-interlaced PNG to an (h, w, channels) uint8 array.

    Pure stdlib+numpy implementation of the public PNG spec: chunk walk →
    IHDR geometry → zlib-inflate concatenated IDAT → per-scanline unfilter
    (all five filter types, including Paeth prediction)."""
    if raw[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, idat = 8, b""
    w = h = depth = ctype = interlace = None
    while pos + 8 <= len(raw):
        ln = int.from_bytes(raw[pos : pos + 4], "big")
        typ = raw[pos + 4 : pos + 8]
        data = raw[pos + 8 : pos + 8 + ln]
        pos += 12 + ln  # length + type + data + crc
        if typ == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    if depth != 8 or interlace != 0:
        raise ValueError(f"unsupported PNG (depth={depth}, interlace={interlace})")
    channels = _PNG_CHANNELS[ctype]
    stride = w * channels
    plain = zlib.decompress(idat)
    bpp = channels  # bytes per pixel at depth 8
    # numpy-vectorized unfilter (r4). None/Up are single vector ops; Sub is a
    # per-channel cumulative sum mod 256 (mod distributes over addition, so
    # cumsum in int64 then &0xFF is exact). Average/Paeth form a true 2D
    # recurrence (each pixel needs left, up and upper-left RECONSTRUCTED
    # values), so contiguous runs of such rows are solved by anti-diagonal
    # WAVEFRONT sweeps — run_h+w-1 sequential steps, each a vectorized numpy
    # batch over the whole diagonal, instead of run_h·w per-pixel Python
    # steps. ~20-40× over the per-byte loops this replaces.
    arr = np.frombuffer(plain, dtype=np.uint8).reshape(h, 1 + stride)
    ftypes = arr[:, 0]
    if not np.isin(ftypes, (0, 1, 2, 3, 4)).all():
        bad = int(ftypes[~np.isin(ftypes, (0, 1, 2, 3, 4))][0])
        raise ValueError(f"bad PNG filter {bad}")
    raw = arr[:, 1:].astype(np.int64)
    out = np.zeros((h, stride), dtype=np.uint8)
    zero_row = np.zeros(stride, dtype=np.int64)
    y = 0
    while y < h:
        ftype = ftypes[y]
        prev = out[y - 1].astype(np.int64) if y > 0 else zero_row
        if ftype >= 3:  # maximal run of SAME-type Average/Paeth rows
            y_end = y + 1
            while y_end < h and ftypes[y_end] == ftype:
                y_end += 1
            # wavefront amortizes its numpy dispatch per diagonal only when
            # diagonals are long (≈ run height); short runs fall back to a
            # plain scalar loop, which beats tiny-batch numpy by ~10×
            unfilter = _unfilter_wavefront if y_end - y >= 8 else _unfilter_scalar
            out[y:y_end] = unfilter(raw[y:y_end], ftypes[y:y_end], prev, w, bpp)
            y = y_end
            continue
        line = raw[y]
        if ftype == 0:  # None
            rec = line
        elif ftype == 1:  # Sub: recon = cumsum of raw per channel, mod 256
            rec = (np.cumsum(line.reshape(-1, bpp), axis=0) & 0xFF).reshape(-1)
        else:  # Up
            rec = (line + prev) & 0xFF
        out[y] = rec.astype(np.uint8)
        y += 1
    return out.reshape(h, w, channels)


def _unfilter_scalar(
    raw_rows: np.ndarray, ftypes_run: np.ndarray, top_prev: np.ndarray, w: int, bpp: int
) -> np.ndarray:
    """Scalar-Python Average/Paeth reconstruction for SHORT runs, where the
    wavefront's per-diagonal numpy dispatch overhead exceeds the work. Pure
    int arithmetic on flat lists — no per-element numpy calls."""
    R = raw_rows.shape[0]
    stride = w * bpp
    out = np.empty((R, stride), dtype=np.uint8)
    prev = [int(v) for v in top_prev]
    for r in range(R):
        line = [int(v) for v in raw_rows[r]]
        if ftypes_run[r] == 3:  # Average
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        else:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        out[r] = line
        prev = line
    return out


def _unfilter_wavefront(
    raw_rows: np.ndarray, ftypes_run: np.ndarray, top_prev: np.ndarray, w: int, bpp: int
) -> np.ndarray:
    """Reconstruct a contiguous run of Average(3)/Paeth(4) scanlines.

    The recurrence rec[r,x] = raw[r,x] + pred(left, up, upper-left) only
    reaches cells on EARLIER anti-diagonals (left and up sit on diagonal
    d-1, upper-left on d-2), so sweeping diagonals in order makes every cell
    on a diagonal independent → one vectorized numpy batch per step, R+w-1
    steps total (instead of R·w sequential pixels).

    Layout: rows are stored SKEWED — srow i (image run row i-1, with the row
    ABOVE the run spliced in as srow 0) is shifted right by i, so an
    anti-diagonal becomes a COLUMN and every neighbor access is a contiguous
    slice view (no fancy-indexing gathers): up = col j-1 srows 0..R-1,
    left = col j-1 srows 1..R, upper-left = col j-2 srows 0..R-1. Cells
    outside 0 ≤ x < w compute garbage, but garbage only ever feeds garbage
    (the x-range check shows valid cells' neighbors are valid or the patched
    x=0 edge, where left/ul are zeroed as one scalar write per column). The
    run is homogeneous (one filter type), so the Average branch skips the
    upper-left read entirely."""
    R = raw_rows.shape[0]
    W = w + R + 1  # skewed width: x + i ≤ (w-1) + R, plus a spare column
    raw_sk = np.zeros((R, W, bpp), dtype=np.int32)
    raw3 = raw_rows.reshape(R, w, bpp)
    for i in range(R):  # srow i+1 holds run row i, shifted by i+1
        raw_sk[i, i + 1 : i + 1 + w] = raw3[i]
    skx = np.zeros((R + 1, W, bpp), dtype=np.int32)
    skx[0, :w] = top_prev.reshape(w, bpp)  # srow 0 = row above the run, shift 0
    is_avg = ftypes_run[0] == 3
    zcol = np.zeros((R, bpp), dtype=np.int32)
    for j in range(1, w + R):
        if j <= R:
            # cell (srow j, x=0) has no left/upper-left: zero its left slot
            # skx[j, j-1] IN PLACE (an x=-1 garbage cell — the write can only
            # reach invalid cells or this intended edge; it also pre-zeroes
            # the NEXT column's upper-left slot for the next x=0 cell)
            skx[j, j - 1] = 0
        up = skx[:R, j - 1]
        left = skx[1:, j - 1]
        if is_avg:
            pred = (left + up) >> 1
        else:
            ul = skx[:R, j - 2] if j >= 2 else zcol
            pa = np.abs(up - ul)
            pb = np.abs(left - ul)
            pc = np.abs(left + up - 2 * ul)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul))
        skx[1:, j] = (raw_sk[:, j] + pred) & 0xFF
    out = np.empty((R, w * bpp), dtype=np.uint8)
    for i in range(R):
        out[i] = skx[i + 1, i + 1 : i + 1 + w].reshape(-1)
    return out


def encode_png(pixels: np.ndarray) -> bytes:
    """Minimal PNG writer (filter 0, 8-bit gray/RGB/RGBA) — the test-side
    twin of :func:`decode_png`, also stdlib-only."""
    h, w, channels = pixels.shape
    ctype = {1: 0, 3: 2, 4: 6}[channels]

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    scanlines = b"".join(b"\x00" + pixels[y].tobytes() for y in range(h))
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scanlines))
        + chunk(b"IEND", b"")
    )


def encode_avi(frames: np.ndarray, fps: int = 10) -> bytes:
    """Minimal uncompressed AVI writer (RIFF / 'DIB ' raw frames) — the
    write-side twin of :func:`decode_avi`, stdlib-only like
    :func:`encode_png`. ``frames`` is (n_frames, h, w, 3) uint8 RGB; stored
    per the classic DIB convention: bottom-up rows, BGR byte order, row
    stride padded to 4 bytes, one ``00db`` chunk per frame."""
    n, h, w, c = frames.shape
    if c != 3:
        raise ValueError("encode_avi expects RGB frames")
    stride = (w * 3 + 3) & ~3
    pad = b"\x00" * (stride - w * 3)

    def frame_bytes(f: np.ndarray) -> bytes:
        bgr = f[::-1, :, ::-1]  # bottom-up rows, BGR channels
        return b"".join(bgr[y].tobytes() + pad for y in range(h))

    def chunk(ckid: bytes, data: bytes) -> bytes:
        return ckid + struct.pack("<I", len(data)) + data + (b"\x00" if len(data) % 2 else b"")

    def lst(listtype: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", listtype + data)

    usec = 1_000_000 // fps
    avih = struct.pack(
        "<14I", usec, stride * h * fps, 0, 0, n, 0, 1, stride * h, w, h, 0, 0, 0, 0
    )
    strh = (
        b"vids"
        + b"DIB "
        + struct.pack("<IHHIIIIIIIi", 0, 0, 0, 0, 1, fps, 0, n, stride * h, 0, 0)
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00db", frame_bytes(frames[i])) for i in range(n)))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _riff_chunks(data: bytes, end: int, pos: int):
    """Iterate (ckid, payload_start, payload_len) over a RIFF chunk run."""
    while pos + 8 <= end:
        ckid = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        yield ckid, pos + 8, size
        pos += 8 + size + (size % 2)  # chunks are word-aligned


def decode_avi(raw: bytes) -> np.ndarray:
    """Parse an uncompressed AVI (RIFF walk, BITMAPINFOHEADER, ``00db``
    frame chunks) back to (n_frames, h, w, 3) uint8 RGB. Raises
    ``ValueError`` for non-AVI containers or compressed codecs — the
    caller's signal to fall back (production plugs ffmpeg there)."""
    if len(raw) < 12 or raw[:4] != b"RIFF" or raw[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI container")
    w = h = None
    bottom_up = True
    frames: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        nonlocal w, h, bottom_up
        # clamp: a lying LIST size field must not walk past the buffer
        for ckid, p, size in _riff_chunks(raw, min(end, len(raw)), pos):
            if p + size > len(raw):
                raise ValueError("truncated/oversized RIFF chunk")
            if ckid == b"LIST":
                walk(p + 4, p + size)  # skip the 4-byte list type
            elif ckid == b"strf" and size >= 40:
                (_, bw, bh, _, bitcount, compression) = struct.unpack_from("<IiiHHI", raw, p)
                if compression != 0 or bitcount != 24:
                    raise ValueError(f"unsupported codec (compression={compression}, bpp={bitcount})")
                # negative biHeight = TOP-DOWN row order (per the DIB spec)
                w, h, bottom_up = bw, abs(bh), bh > 0
            elif ckid[2:4] in (b"db", b"dc"):
                frames.append(raw[p : p + size])

    try:
        walk(12, len(raw))
    except struct.error as exc:  # truncated header bytes → codec error,
        raise ValueError(f"malformed AVI structure: {exc}") from exc  # not a job-killer
    if w is None or h is None:
        raise ValueError("missing BITMAPINFOHEADER")
    stride = (w * 3 + 3) & ~3
    out = np.empty((len(frames), h, w, 3), dtype=np.uint8)
    for i, fb in enumerate(frames):
        if len(fb) < stride * h:
            raise ValueError("truncated frame chunk")
        rows = np.frombuffer(fb[: stride * h], dtype=np.uint8).reshape(h, stride)
        px = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR → RGB
        out[i] = px[::-1] if bottom_up else px  # bottom-up → top-down
    return out


def encode_wav(samples: np.ndarray, framerate: int = 8000) -> bytes:
    """Minimal mono 16-bit PCM WAV writer (stdlib ``wave``)."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(framerate)
        wf.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


_FEATURE_DIM = 8


def _decode_image_real(payload: bytes) -> list[float]:
    """Real PNG decode → 8-float feature vector:
    [width, height, channels, mean(ch0..ch2 or grey), pixel std, aspect]."""
    px = decode_png(payload).astype(np.float64)
    h, w, c = px.shape
    means = px.mean(axis=(0, 1))
    m = [float(means[i]) if i < c else float(means[0]) for i in range(3)]
    return [float(w), float(h), float(c), m[0], m[1], m[2], float(px.std()), w / h]


def _decode_audio_real(payload: bytes) -> list[float]:
    """Real WAV decode → 8-float feature vector:
    [channels, framerate/1000, n_frames, rms, peak, duration_s, 0, 0]."""
    with wave.open(io.BytesIO(payload), "rb") as wf:
        nch, sw, rate, nframes = wf.getnchannels(), wf.getsampwidth(), wf.getframerate(), wf.getnframes()
        raw = wf.readframes(nframes)
    if sw != 2:
        raise ValueError(f"unsupported sample width {sw}")
    samples = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    rms = float(np.sqrt((samples**2).mean())) if samples.size else 0.0
    peak = float(np.abs(samples).max()) if samples.size else 0.0
    return [float(nch), rate / 1000.0, float(nframes), rms, peak, nframes / rate, 0.0, 0.0]


def _decode_video_real(payload: bytes) -> list[float]:
    """Real uncompressed-AVI decode → 8-float feature vector:
    [n_frames, width, height, pixel mean, pixel std, motion (mean abs
    inter-frame delta), aspect, 0]. Compressed codecs raise ``ValueError``
    from :func:`decode_avi` — the pipeline falls back to the deterministic
    fake feature there (production plugs ffmpeg for those)."""
    fr = decode_avi(payload).astype(np.float64)
    n, h, w, _ = fr.shape
    motion = float(np.abs(np.diff(fr, axis=0)).mean()) if n > 1 else 0.0
    return [float(n), float(w), float(h), float(fr.mean()), float(fr.std()), motion, w / h, 0.0]


def ffmpeg_available() -> bool:
    """True when an ffmpeg binary is on PATH — the compressed-codec plug
    point is live. This container ships none, so the pipeline's fallback
    chain (real AVI decode → ffmpeg → deterministic fake) ends at the fake
    here; on a production image the middle hop activates with no code
    change."""
    import shutil

    return shutil.which("ffmpeg") is not None


_FFMPEG_SIDE = 64  # normalized decode size — rawvideo needs fixed dims


def ffmpeg_decode_frames(payload: bytes, max_frames: int = 32) -> np.ndarray:
    """(n, 64, 64, 3) uint8 frames for ANY codec ffmpeg understands: write
    the payload to a temp file (stdin is not seekable enough for MP4-style
    trailing-moov containers), decode at most ``max_frames`` frames scaled
    to the fixed ``_FFMPEG_SIDE`` square as raw rgb24 on stdout, reshape.
    Raises ``RuntimeError`` when no ffmpeg binary exists (callers fall back
    to the deterministic fake) and ``ValueError`` when ffmpeg cannot parse
    the payload. Runs INSIDE the Arrow batch loop — one subprocess per
    video, executor-parallel, no shuffle implications."""
    import subprocess
    import tempfile

    if not ffmpeg_available():
        raise RuntimeError("no ffmpeg binary on PATH")
    with tempfile.NamedTemporaryFile(suffix=".bin") as tf:
        tf.write(payload)
        tf.flush()
        proc = subprocess.run(
            [
                "ffmpeg",
                "-hide_banner",
                "-loglevel",
                "error",
                "-i",
                tf.name,
                "-frames:v",
                str(max_frames),
                "-vf",
                f"scale={_FFMPEG_SIDE}:{_FFMPEG_SIDE}",
                "-f",
                "rawvideo",
                "-pix_fmt",
                "rgb24",
                "pipe:1",
            ],
            capture_output=True,
            timeout=120,
        )
    frame_bytes = _FFMPEG_SIDE * _FFMPEG_SIDE * 3
    if proc.returncode != 0 or len(proc.stdout) < frame_bytes:
        raise ValueError(
            f"ffmpeg could not decode payload: {proc.stderr[:200]!r}"
        )
    n = len(proc.stdout) // frame_bytes
    return np.frombuffer(proc.stdout[: n * frame_bytes], dtype=np.uint8).reshape(
        n, _FFMPEG_SIDE, _FFMPEG_SIDE, 3
    )


def _decode_video_ffmpeg(payload: bytes) -> list[float]:
    """The compressed-codec leg of the video feature chain: ffmpeg frames →
    the same 8-float feature as :func:`_decode_video_real` (width/height
    report the normalized decode size, aspect 1 — the scale filter is part
    of the deterministic contract)."""
    fr = ffmpeg_decode_frames(payload).astype(np.float64)
    n, h, w, _ = fr.shape
    motion = float(np.abs(np.diff(fr, axis=0)).mean()) if n > 1 else 0.0
    return [float(n), float(w), float(h), float(fr.mean()), float(fr.std()), motion, w / h, 0.0]


def _fake_feature(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in feature: bytes → sha256 → dim floats in [0,1)."""
    digest = hashlib.sha256(payload).digest()
    return [int.from_bytes(digest[4 * i : 4 * i + 4], "big") / 2**32 for i in range(dim)]


def synth_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a media table from ``documents`` (text bytes as payload) —
    exercises the binary-column schema without external assets. Payload
    bytes are deterministic, so every derived feature is too."""
    docs = tpch.load(spark, sf_dir, "documents")
    media_type = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        media_type.alias("media_type"),
        payload.alias("payload"),
        F.struct(
            (F.pmod(F.col("doc_id"), F.lit(640)) + 32).cast("int").alias("width"),
            (F.pmod(F.col("doc_id"), F.lit(480)) + 32).cast("int").alias("height"),
            F.length(payload).cast("bigint").alias("n_bytes"),
            F.lit("fake/raw").alias("codec"),
        ).alias("meta"),
    )


def decode_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """Arrow-batched decode/feature-extract via mapInPandas.

    Partition-parallel: each executor receives pandas batches of
    (media_id, payload, ...) and emits fixed-width feature rows; at scale
    the media table is repartitioned so batches stay within Arrow limits
    (spark.sql.execution.arrow.maxRecordsPerBatch governs batch shape)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload, mtype in zip(pdf["payload"], pdf["media_type"]):
                raw = bytes(payload)
                if fake:
                    feats.append(_fake_feature(raw))
                elif mtype == "image":
                    feats.append(_decode_image_real(raw))
                elif mtype == "audio":
                    feats.append(_decode_audio_real(raw))
                else:
                    try:
                        feats.append(_decode_video_real(raw))
                    except ValueError:
                        # compressed/unknown codec: ffmpeg leg when the
                        # binary exists (r11), deterministic fake otherwise
                        # — the chain keeps the pipeline total either way
                        try:
                            feats.append(_decode_video_ffmpeg(raw))
                        except (RuntimeError, ValueError):
                            feats.append(_fake_feature(raw))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": [len(bytes(p)) for p in pdf["payload"]],
                    "content_digest": [hashlib.sha256(bytes(p)).hexdigest() for p in pdf["payload"]],
                    "feature": feats,
                }
            )

    return media.mapInPandas(extract, schema=FEATURE_SCHEMA)


def synth_real_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media table whose payloads are REAL encoded assets: deterministic
    PNG images (gradient pixels keyed on doc_id), 16-bit PCM WAV clips,
    and uncompressed-AVI video clips (drifting gradient frames),
    generated Arrow-batched on the executors (the encode is the write-side
    twin of the decode path — nothing is round-tripped through the driver)."""
    ids = tpch.load(spark, sf_dir, "documents").select("doc_id")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "media_type": [], "payload": [], "meta": []}
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                if i % 3 == 0:
                    w, h = 8 + i % 16, 6 + i % 12
                    yy, xx = np.mgrid[0:h, 0:w]
                    px = np.stack(
                        [(xx * 3 + i) % 256, (yy * 5 + i) % 256, (xx + yy + i) % 256], axis=-1
                    ).astype(np.uint8)
                    payload, mtype = encode_png(px), "image"
                    meta = {"width": w, "height": h, "n_bytes": len(payload), "codec": "png"}
                elif i % 3 == 1:
                    n = 256 + i % 512
                    t = np.arange(n, dtype=np.float64)
                    samples = (np.sin(t * (1 + i % 7) / 10.0) * 12000).astype("<i2")
                    payload, mtype = encode_wav(samples), "audio"
                    meta = {"width": None, "height": None, "n_bytes": len(payload), "codec": "wav"}
                else:
                    # seeded-random frames: clips are CONTENT-DISTINCT per
                    # media_id (a shared gradient would make every clip a
                    # legitimate dHash near-dup of every other — brightness
                    # shifts are gradient-invariant), still deterministic
                    nf, w, h = 3 + i % 4, 8 + i % 8, 6 + i % 6
                    fr = np.random.RandomState(977 + i).randint(
                        0, 256, size=(nf, h, w, 3), dtype=np.uint8
                    )
                    payload, mtype = encode_avi(fr), "video"
                    meta = {"width": w, "height": h, "n_bytes": len(payload), "codec": "avi/dib"}
                rows["media_id"].append(i)
                rows["media_type"].append(mtype)
                rows["payload"].append(payload)
                rows["meta"].append(meta)
            yield pd.DataFrame(rows)

    return ids.mapInPandas(gen, schema=MEDIA_SCHEMA)


def frame_sample(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """Deterministic frame sampling for video payloads: split the byte
    stream into n equal chunks (stand-in for timestamp-based frame decode)
    using built-in substring on binary — no Python in this path."""
    videos = media.filter(F.col("media_type") == "video")
    n = F.length("payload")
    frames = F.transform(
        F.sequence(F.lit(0), F.lit(n_frames - 1)),
        lambda i: F.substring(F.col("payload"), (i * (n / n_frames)).cast("int") + 1, 32),
    )
    return videos.select(
        "media_id",
        F.posexplode(frames).alias("frame_no", "frame_bytes"),
    )


def _sample_frame_idxs(n: int, n_frames: int) -> list[int]:
    """Evenly-spaced frame indices: ``min(n_frames, n)`` positions over a
    clip of ``n`` frames, always including first and last. Shared by
    :func:`frame_sample_real` and :func:`video_frame_signatures` — the
    alignment convention video near-dup depends on lives in ONE place."""
    take = min(n_frames, n)
    return sorted({(i * (n - 1)) // max(take - 1, 1) for i in range(take)})


def frame_sample_real(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """REAL frame sampling (r9): decode each uncompressed-AVI payload once,
    pick ``n_frames`` evenly-spaced frames, and re-encode each as PNG —
    so every downstream image operator (resize, dHash near-dup, feature
    extract) composes onto video content unchanged. Arrow-batched, one
    decode per video; payloads whose codec the parser refuses (compressed
    video) yield no rows — count them against the input for the audit.
    Scale shape: pure ``mapInPandas`` projection, output ≤ n_frames rows
    per video, zero shuffles."""
    videos = media.filter(F.col("media_type") == "video").select("media_id", "payload")

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_no": [], "width": [], "height": [], "frame_png": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    fr = decode_avi(bytes(payload))
                except ValueError:
                    continue
                n = fr.shape[0]
                if n == 0:
                    continue
                for fi, idx in enumerate(_sample_frame_idxs(n, n_frames)):
                    px = fr[idx]
                    out["media_id"].append(int(mid))
                    out["frame_no"].append(fi)
                    out["width"].append(px.shape[1])
                    out["height"].append(px.shape[0])
                    out["frame_png"].append(encode_png(px))
            yield pd.DataFrame(out)

    return videos.mapInPandas(
        sample, schema="media_id bigint, frame_no int, width int, height int, frame_png binary"
    )


def resize_image(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbour image resize (r9): decode PNG payloads, index-map
    to (out_h, out_w), re-encode — the Arrow-batched resize stage the
    brief's multimodal pipeline needs before fixed-input-size feature
    models. Same mapInPandas shape as the decoders: one Python round trip,
    no shuffle; undecodable payloads are dropped (audit by count)."""
    imgs = media.filter(F.col("media_type") == "image").select("media_id", "payload")

    def rz(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "width": [], "height": [], "payload": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    px = decode_png(bytes(payload))
                except ValueError:
                    continue
                h, w, _ = px.shape
                ys = ((np.arange(out_h) * h) // out_h).clip(0, h - 1)
                xs = ((np.arange(out_w) * w) // out_w).clip(0, w - 1)
                out["media_id"].append(int(mid))
                out["width"].append(out_w)
                out["height"].append(out_h)
                out["payload"].append(encode_png(px[np.ix_(ys, xs)]))
            yield pd.DataFrame(out)

    return imgs.mapInPandas(rz, schema="media_id bigint, width int, height int, payload binary")


_MM_FEATURES_SQL = """
WITH media AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         octet_length(encode(text)) AS n_bytes,
         CAST(('0x' || substr(sha256(text), 1, 8))::BIGINT / 4294967296.0 AS FLOAT) AS f0
  FROM documents
)
SELECT media_type,
       COUNT(*) AS n_assets,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       CAST(SUM(FLOOR(CAST(f0 AS DOUBLE) * 1000000.0)) AS DOUBLE) / 1000000.0 AS f0_mass
FROM media
GROUP BY media_type
ORDER BY media_type
"""


@query("multimodal_features", oracle=_MM_FEATURES_SQL, defer=True)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal pipeline: binary media table → Arrow-batched
    (fake) decode → per-type feature stats.

    Oracle-checked since r4 even though the decode runs Python-side: the
    deterministic stand-in feature is sha256-derived (first 4 digest bytes
    / 2³²), which DuckDB reproduces — the oracle mirrors the FLOAT32
    rounding the Arrow feature schema imposes before the floor/sum. The
    hash proof covers the full mapInPandas round trip: schema, batch
    shape, byte fidelity of payloads, and the aggregation."""
    media = synth_media(spark, sf_dir)
    feats = decode_features(media, fake=True)
    return (
        feats.select(
            "media_type",
            "n_bytes",
            F.element_at("feature", 1).alias("f0"),
        )
        .groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum("n_bytes").alias("total_bytes"),
            (F.sum(F.floor(F.col("f0") * 1e6)).cast("double") / 1e6).alias("f0_mass"),
        )
        .orderBy("media_type")
    )

@query("multimodal_decode_real", oracle=None)
def multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode pipeline: executor-generated PNG/WAV/AVI payloads →
    stdlib decode (chunk parse + unfilter / PCM read / RIFF frame walk) →
    per-type stats over true decoded properties (pixel mean, audio RMS,
    frame count). Rows-only check: the codec work is Python-side by
    design; pytest pins exact decoded pixels and frames."""
    media = synth_real_media(spark, sf_dir)
    feats = decode_features(media, fake=False)
    return (
        feats.select(
            "media_type",
            "n_bytes",
            F.element_at("feature", 1).alias("f0"),  # image width / audio channels
            F.element_at("feature", 4).alias("f3"),  # image mean(ch0) / audio rms
        )
        .groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum("n_bytes").alias("total_bytes"),
            (F.sum(F.floor(F.col("f0") * 1e6)).cast("double") / 1e6).alias("f0_mass"),
            (F.sum(F.floor(F.col("f3") * 1e6)).cast("double") / 1e6).alias("f3_mass"),
        )
        .orderBy("media_type")
    )


# --- Image near-duplicate detection (perceptual hash) ----------------------
#
# dHash over decoded pixels, then the banded Hamming skeleton the text
# SimHash pipeline runs (dedup._hamming_pairs): 56-bit hash (signed-bigint
# safe, like SimHash's 48), 8 bands x 7 bits, so any pair within Hamming <= 7
# must agree on >= 1 band (pigeonhole) — blocking recall covers the whole
# confirm range. Reference analog: the reference has no image surface at
# all; this is part of the LLM-training-data extension set (SURVEY §6).

_PHASH_ROWS = 7  # sampled grid rows (9 cols × 7 rows → 7×8 = 56 bits)
_PHASH_COLS = 8  # bit comparisons per row
_PHASH_BITS = _PHASH_ROWS * _PHASH_COLS
_PHASH_BAND_BITS = 7
_PHASH_N_BANDS = _PHASH_BITS // _PHASH_BAND_BITS
_PHASH_HAMMING_MAX = 7


def _noise_pixels(media_id: int) -> np.ndarray:
    """Deterministic pseudo-random RGB image for media ``media_id``.

    Groups of 4 consecutive ids share a noise seed s = id//4 (same base
    image, same shape); each member additionally brightens ONE pixel row
    (row id % h, red channel +160 mod 256) — because the noise wraps mod
    256, the bump scrambles within-row comparisons at wrap positions, so
    group members are Hamming-NEAR (0..~16 bits), while different seeds
    decorrelate completely (~28/56 bits). Every channel is a closed-form
    integer function of (x, y, s), so DuckDB replays the exact pixels —
    and hence the exact perceptual hash — without decoding a PNG.

    (The gradient images of :func:`synth_real_media` are useless here: any
    brightness-shift-invariant hash sees every gradient as one giant
    near-dup cluster.)"""
    s = media_id // 4
    w, h = 8 + s % 16, 6 + s % 12
    yy, xx = np.mgrid[0:h, 0:w].astype(np.int64)
    r = (xx * 1315423911 + yy * 2654435761 + s * 97531) % 256
    g = (xx * 2246822519 + yy * 3266489917 + s * 668265263) % 256
    b = ((xx + 1) * (yy + 1) * (s + 1) * 40503) % 256
    r[media_id % h, :] = (r[media_id % h, :] + 160) % 256
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def _dhash56(px: np.ndarray) -> int:
    """56-bit difference hash: integer luma, 9×7 nearest-neighbour sample
    grid, bit (k,j) = gray[y_k, x_{j+1}] > gray[y_k, x_j]. Pure integer
    arithmetic — bit-replayable in ANSI SQL from closed-form pixels."""
    h, w, _ = px.shape
    p = px.astype(np.int64)
    gray = (p[:, :, 0] * 299 + p[:, :, 1] * 587 + p[:, :, 2] * 114) // 1000
    xs = [(j * (w - 1)) // _PHASH_COLS for j in range(_PHASH_COLS + 1)]
    ys = [(k * (h - 1)) // (_PHASH_ROWS - 1) for k in range(_PHASH_ROWS)]
    val = 0
    for k, y in enumerate(ys):
        for j in range(_PHASH_COLS):
            if gray[y, xs[j + 1]] > gray[y, xs[j]]:
                val |= 1 << (k * _PHASH_COLS + j)
    return val


def phash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, phash) over executor-generated PNG images: pixels →
    encode_png → decode_png → dHash, all inside one Arrow-batched
    mapInPandas. The encode/decode round trip keeps the REAL codec path in
    the lineage (the hash is computed from decoded-from-PNG pixels, not the
    raw array), and the operator emits only the narrow 16-byte signature
    row — at 100 TB the image bytes never cross a shuffle."""
    ids = tpch.load(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = []
            for mid in pdf["media_id"]:
                decoded = decode_png(encode_png(_noise_pixels(int(mid))))
                hashes.append(_dhash56(decoded))
            yield pd.DataFrame({"media_id": pdf["media_id"], "phash": hashes})

    return ids.repartition(spark.sparkContext.defaultParallelism).mapInPandas(
        gen, "media_id bigint, phash bigint"
    )


def _hamming_band_pairs(
    sigs: DataFrame,
    sig_col: str,
    n_bands: int,
    band_bits: int,
    hamming_max: int,
) -> DataFrame:
    """Near-duplicate (media_id_1, media_id_2, hamming) pairs from a
    (media_id, <sig_col>) integer-signature frame — every perceptual-hash
    modality (image dHash, audio envelope hash, video frame hashes) runs
    this: exact-dup collapse on the hash (partial-agg groupBy over narrow
    rows + rejoin — never a Window over the content key), then the banded
    Hamming skeleton (:func:`dedup._hamming_pairs`) over DISTINCT hashes
    only, renamed to media ids."""
    # the signature frame feeds several consumers (the rep_min collapse,
    # the members rejoin, the bands) — uncut, every branch re-runs the
    # upstream Python-side decode+hash pass: the r18 phash before-plan
    # carried 12 separate MapInPandas nodes, i.e. 12 full codec round
    # trips over the corpus for one query. rep_min stays LAZY — .cache()
    # here measured ~1.7× SLOWER end to end (an InMemoryRelation has no
    # size estimate, so the members/confirm joins lose their broadcast
    # planning), and its recompute is one narrow agg over the checkpoint
    # whose shuffle map side the scheduler dedupes across consumers within
    # a job anyway.
    sigs = checkpoint(sigs, f"{sig_col}:signatures")
    rep_min = sigs.groupBy(sig_col).agg(F.min("media_id").alias("rep_id"))
    members = sigs.join(rep_min, sig_col).select(
        F.col("media_id").alias("doc_id"), F.col("rep_id")
    )
    reps = rep_min.select(F.col("rep_id").alias("doc_id"), sig_col)
    return _hamming_pairs(reps, members, sig_col, n_bands, band_bits, hamming_max).select(
        F.col("doc_id_1").alias("media_id_1"),
        F.col("doc_id_2").alias("media_id_2"),
        "hamming",
    )


def phash_pairs(sigs: DataFrame) -> DataFrame:
    """Near-duplicate image pairs from (media_id, phash) signatures —
    the shared Hamming-band skeleton at the image constants (8 bands ×
    7 bits, confirm ≤ 7; pigeonhole-complete for the confirm threshold)."""
    return _hamming_band_pairs(
        sigs,
        "phash",
        _PHASH_N_BANDS,
        _PHASH_BAND_BITS,
        _PHASH_HAMMING_MAX,
    )


def _sql_phash_gray(x: str, y: str) -> str:
    """Integer luma of the closed-form noise pixel at (x, y) — mirrors
    _noise_pixels + _dhash56 bit-for-bit (s, w, h, media_id in scope)."""
    r0 = f"((({x})*1315423911 + ({y})*2654435761 + s*97531) % 256)"
    r = f"(CASE WHEN ({y}) = media_id % h THEN ({r0} + 160) % 256 ELSE {r0} END)"
    g = f"((({x})*2246822519 + ({y})*3266489917 + s*668265263) % 256)"
    b = f"(((({x})+1)*(({y})+1)*(s+1)*40503) % 256)"
    return f"(({r}*299 + {g}*587 + {b}*114)//1000)"


_SQL_PHASH_BANDS = "\n  UNION ALL\n".join(
    f"  SELECT media_id, {band} AS band,"
    f" ((phash >> {band * _PHASH_BAND_BITS}) & {(1 << _PHASH_BAND_BITS) - 1}) AS bucket"
    f" FROM reps"
    for band in range(_PHASH_N_BANDS)
)

_PHASH_SQL = f"""
WITH imgs AS (
  SELECT doc_id AS media_id, doc_id // 4 AS s,
         8 + (doc_id // 4) % 16 AS w, 6 + (doc_id // 4) % 12 AS h
  FROM documents
),
bits AS (
  SELECT media_id, k, j,
         CASE WHEN {_sql_phash_gray("x2", "yy")} > {_sql_phash_gray("x1", "yy")}
              THEN 1::BIGINT ELSE 0::BIGINT END AS bit
  FROM (
    SELECT media_id, s, w, h, k, j,
           (j*(w-1))//{_PHASH_COLS} AS x1,
           ((j+1)*(w-1))//{_PHASH_COLS} AS x2,
           (k*(h-1))//{_PHASH_ROWS - 1} AS yy
    FROM imgs, range({_PHASH_ROWS}) tk(k), range({_PHASH_COLS}) tj(j)
  )
),
sigs AS (
  SELECT media_id, SUM(bit << (k*{_PHASH_COLS} + j))::BIGINT AS phash
  FROM bits GROUP BY media_id
),
members AS (
  SELECT media_id, phash, MIN(media_id) OVER (PARTITION BY phash) AS rep_id
  FROM sigs
),
reps AS (SELECT media_id, phash FROM members WHERE media_id = rep_id),
bands AS (
{_SQL_PHASH_BANDS}
),
capped AS (
  SELECT media_id, band, bucket FROM bands
  QUALIFY row_number() OVER (PARTITION BY band, bucket ORDER BY media_id) <= {_PHASH_CAP}
),
candidates AS (
  SELECT DISTINCT a.media_id AS id1, b.media_id AS id2
  FROM capped a
  JOIN capped b ON a.band = b.band AND a.bucket = b.bucket AND a.media_id < b.media_id
),
rep_pairs AS (
  SELECT c.id1, c.id2,
         CAST(bit_count(xor(r1.phash, r2.phash)) AS BIGINT) AS hamming
  FROM candidates c
  JOIN reps r1 ON r1.media_id = c.id1
  JOIN reps r2 ON r2.media_id = c.id2
  WHERE bit_count(xor(r1.phash, r2.phash)) <= {_PHASH_HAMMING_MAX}
)
SELECT least(m1.media_id, m2.media_id) AS media_id_1,
       greatest(m1.media_id, m2.media_id) AS media_id_2,
       p.hamming
FROM rep_pairs p
JOIN members m1 ON m1.rep_id = p.id1
JOIN members m2 ON m2.rep_id = p.id2
UNION ALL
SELECT a.media_id, b.media_id, 0::BIGINT
FROM members a JOIN members b ON a.rep_id = b.rep_id AND a.media_id < b.media_id
ORDER BY media_id_1, media_id_2
"""


@query("dedup_image_phash", oracle=_PHASH_SQL, headline=True, defer=True)
def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs by 56-bit perceptual dHash, Hamming <= 7.

    Pipeline: executor-generated deterministic PNGs → real encode/decode
    round trip → integer dHash (all Arrow-batched, narrow signature
    output) → exact-collapse on the hash → 7-bit×8 Hamming-band blocking
    over distinct hashes with the deterministic bucket cap → bit_count
    confirm → member-pair expansion. DuckDB replays the ENTIRE pipeline —
    pixels are closed-form integers, so the oracle recomputes the exact
    hash without touching a PNG, proving the codec round trip plus the
    banding/confirm logic end to end.

    Registered past the driver's 50-entry CORRECTNESS window (the 50
    oracle-backed r4/r5 keys keep their stable slots; see COVERAGE.md) —
    the cross-engine hash proof for this query runs in
    tests/test_oracle_parity.py instead."""
    # lazy return: the one eager job inside (the signature checkpoint)
    # runs the Python decode exactly once; the rest of the skeleton keeps
    # its concurrent-stage overlap (an end-to-end materialized() wrapper
    # measured 0.5 s slower at sf0.1 by serializing it)
    return phash_pairs(phash_signatures(spark, sf_dir)).orderBy("media_id_1", "media_id_2")


# --- Audio near-dup: energy-envelope fingerprint ----------------------------
#
# The audio member of the perceptual-dedup triad (text SimHash, image
# dHash, audio envelope hash). Signature: 16 frames × 25 samples of mono
# PCM; per-frame energy E_k = Σ|sample| (exact integers), quantized to a
# 3-bit level on a FIXED scale (no max-coupling: a local edit moves only
# its own frame's field), packed into a 48-bit hash. Banding 8 × 6 bits =
# exactly 2 level fields per band, so an edit to one frame touches one
# band and every ≤2-frame variant is pigeonhole-guaranteed a candidate;
# confirm bit_count(XOR) ≤ 6 (two 3-bit fields). The PCM is a closed-form
# integer function of (t, seed) — groups of 4 ids share a base waveform
# and each member perturbs ONE frame (id % 16) — so DuckDB replays the
# exact fingerprint without parsing a WAV, proving the codec round trip
# (encode_wav → stdlib wave decode) plus banding end to end.

_AFP_FRAMES = 16
_AFP_FRAME_LEN = 25
_AFP_LEVEL_BITS = 3
_AFP_LEVEL_SCALE = 6250  # E_k <= 25*2000 = 50000 -> levels 0..7
_AFP_BAND_BITS = 6
_AFP_N_BANDS = (_AFP_FRAMES * _AFP_LEVEL_BITS) // _AFP_BAND_BITS
_AFP_HAMMING_MAX = 6
_AFP_KA = 7919
_AFP_KB = 104729
_AFP_MOD = 4001  # samples in [-2000, 2000]
_AFP_BUMP = 1500


def _afp_samples(media_id: int) -> np.ndarray:
    """Deterministic mono PCM for ``media_id``: base waveform from seed
    s = id//4, one perturbed frame at id % 16 — the audio twin of
    :func:`_noise_pixels`."""
    s = media_id // 4
    f = media_id % _AFP_FRAMES
    t = np.arange(_AFP_FRAMES * _AFP_FRAME_LEN, dtype=np.int64)
    raw = (t * _AFP_KA + s * _AFP_KB) % _AFP_MOD
    lo, hi = f * _AFP_FRAME_LEN, (f + 1) * _AFP_FRAME_LEN
    raw[lo:hi] = (t[lo:hi] * _AFP_KA + s * _AFP_KB + _AFP_BUMP) % _AFP_MOD
    return (raw - (_AFP_MOD - 1) // 2).astype(np.int64)


def _afp48(samples: np.ndarray) -> int:
    """48-bit envelope hash from decoded PCM — exact integer arithmetic."""
    e = np.abs(samples).reshape(_AFP_FRAMES, _AFP_FRAME_LEN).sum(axis=1)
    levels = np.minimum(7, e // _AFP_LEVEL_SCALE)
    val = 0
    for k in range(_AFP_FRAMES):
        val |= int(levels[k]) << (_AFP_LEVEL_BITS * k)
    return val


def afp_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, afp) over executor-generated WAVs: samples → encode_wav
    → stdlib wave decode → envelope hash, all in one Arrow-batched
    mapInPandas — the real audio codec stays in the lineage and only the
    8-byte signature crosses a shuffle."""
    ids = tpch.load(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = []
            for mid in pdf["media_id"]:
                payload = encode_wav(_afp_samples(int(mid)))
                with wave.open(io.BytesIO(payload), "rb") as wf:
                    raw = wf.readframes(wf.getnframes())
                decoded = np.frombuffer(raw, dtype="<i2").astype(np.int64)
                hashes.append(_afp48(decoded))
            yield pd.DataFrame({"media_id": pdf["media_id"], "afp": hashes})

    return ids.repartition(spark.sparkContext.defaultParallelism).mapInPandas(
        gen, "media_id bigint, afp bigint"
    )


def afp_pairs(sigs: DataFrame) -> DataFrame:
    """Near-duplicate audio pairs — the shared Hamming-band skeleton at the
    audio constants (8 bands × 6 bits, confirm ≤ 6)."""
    return _hamming_band_pairs(
        sigs,
        "afp",
        _AFP_N_BANDS,
        _AFP_BAND_BITS,
        _AFP_HAMMING_MAX,
    )


def _sql_afp_sample(t: str, bumped: bool) -> str:
    base = f"(({t})*{_AFP_KA} + s*{_AFP_KB}{f' + {_AFP_BUMP}' if bumped else ''}) % {_AFP_MOD}"
    return f"({base} - {(_AFP_MOD - 1) // 2})"


_AFP_SQL = f"""
WITH clips AS (
  SELECT doc_id AS media_id, doc_id // 4 AS s, doc_id % {_AFP_FRAMES} AS f
  FROM documents
),
energies AS (
  SELECT media_id, k,
         SUM(ABS(CASE WHEN k = f THEN {_sql_afp_sample("t", True)}
                      ELSE {_sql_afp_sample("t", False)} END)) AS e
  FROM clips,
       range({_AFP_FRAMES}) tk(k),
       LATERAL (SELECT UNNEST(range(k * {_AFP_FRAME_LEN}, (k+1) * {_AFP_FRAME_LEN})) AS t) tt
  GROUP BY media_id, k
),
sigs AS (
  SELECT media_id,
         SUM(LEAST(7, e // {_AFP_LEVEL_SCALE}) << ({_AFP_LEVEL_BITS} * k))::BIGINT AS afp
  FROM energies GROUP BY media_id
),
members AS (
  SELECT media_id, afp, MIN(media_id) OVER (PARTITION BY afp) AS rep_id
  FROM sigs
),
reps AS (SELECT media_id, afp FROM members WHERE media_id = rep_id),
bands AS (
{chr(10).join(
    f"  SELECT media_id, {band} AS band,"
    f" ((afp >> {band * _AFP_BAND_BITS}) & {(1 << _AFP_BAND_BITS) - 1}) AS bucket"
    f" FROM reps" + ("" if band == _AFP_N_BANDS - 1 else chr(10) + "  UNION ALL")
    for band in range(_AFP_N_BANDS)
)}
),
capped AS (
  SELECT media_id, band, bucket FROM bands
  QUALIFY row_number() OVER (PARTITION BY band, bucket ORDER BY media_id) <= {_PHASH_CAP}
),
candidates AS (
  SELECT DISTINCT a.media_id AS id1, b.media_id AS id2
  FROM capped a
  JOIN capped b ON a.band = b.band AND a.bucket = b.bucket AND a.media_id < b.media_id
),
rep_pairs AS (
  SELECT c.id1, c.id2,
         CAST(bit_count(xor(r1.afp, r2.afp)) AS BIGINT) AS hamming
  FROM candidates c
  JOIN reps r1 ON r1.media_id = c.id1
  JOIN reps r2 ON r2.media_id = c.id2
  WHERE bit_count(xor(r1.afp, r2.afp)) <= {_AFP_HAMMING_MAX}
)
SELECT least(m1.media_id, m2.media_id) AS media_id_1,
       greatest(m1.media_id, m2.media_id) AS media_id_2,
       p.hamming
FROM rep_pairs p
JOIN members m1 ON m1.rep_id = p.id1
JOIN members m2 ON m2.rep_id = p.id2
UNION ALL
SELECT a.media_id, b.media_id, 0::BIGINT
FROM members a JOIN members b ON a.rep_id = b.rep_id AND a.media_id < b.media_id
ORDER BY media_id_1, media_id_2
"""


@query("dedup_audio_fingerprint", oracle=_AFP_SQL, defer=True)
def dedup_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate pairs by 48-bit envelope fingerprint, Hamming
    <= 6 — executor-generated WAVs through the real codec round trip, with
    the whole pipeline (closed-form PCM → envelope quantization → banding
    → confirm) replayed in DuckDB."""
    # lazy return — the signature checkpoint inside bounds the WAV decode
    # to one pass; see dedup_image_phash
    return afp_pairs(afp_signatures(spark, sf_dir)).orderBy("media_id_1", "media_id_2")


# --- Video near-dup: aligned sampled-frame dHash ----------------------------
#
# Composition of the r9 real-frame pipeline with the image pHash skeleton:
# each video contributes its sampled frames' 56-bit dHashes, frame hashes
# band-block and confirm through the SAME _hamming_band_pairs machinery as
# images (exact-collapse, capped buckets, pigeonhole-complete bands), and a
# video pair is a near-dup when >= _VFP_MATCH_MIN aligned frame POSITIONS
# match — re-encoded/trimmed copies agree on most sampled positions while
# unrelated clips agree on none. Scale shape: everything linear in
# n_videos x n_frames narrow signature rows; rows-only proof (AVI decode is
# not SQL-expressible), planted-pair pytest pins recall and the negative
# control. Reference analog: none (LLM-training-data extension, SURVEY §6).

_VFP_FRAMES = 4
_VFP_SLOT = 16  # frame_no packs into the entity id; requires n_frames <= 16
_VFP_MATCH_MIN = 3


def video_frame_signatures(media: DataFrame, n_frames: int = _VFP_FRAMES) -> DataFrame:
    """(media_id, frame_no, fhash): 56-bit dHash of each evenly-sampled
    decoded frame — one AVI decode per video, no PNG round trip; codec
    refusals contribute no rows (same convention as frame_sample_real).
    ``n_frames`` is bounded by the entity-packing slot width: frame_no
    must stay below ``_VFP_SLOT`` or packed ids would collide across
    videos in :func:`video_phash_pairs`."""
    if n_frames > _VFP_SLOT:
        raise ValueError(
            f"n_frames={n_frames} exceeds the entity-packing slot width "
            f"{_VFP_SLOT}; frame_no would collide across videos"
        )
    videos = media.filter(F.col("media_type") == "video").select("media_id", "payload")

    def sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_no": [], "fhash": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    fr = decode_avi(bytes(payload))
                except ValueError:
                    continue
                n = fr.shape[0]
                if n == 0:
                    continue
                for fi, idx in enumerate(_sample_frame_idxs(n, n_frames)):
                    out["media_id"].append(int(mid))
                    out["frame_no"].append(fi)
                    out["fhash"].append(_dhash56(fr[idx]))
            yield pd.DataFrame(out)

    return videos.mapInPandas(sig, schema="media_id bigint, frame_no int, fhash bigint")


def video_phash_pairs(
    sigs: DataFrame,
    match_min: int = _VFP_MATCH_MIN,
) -> DataFrame:
    """(media_id_1, media_id_2, n_frames_matched, avg_hamming) video
    near-dup pairs: frame signatures ride the image Hamming-band skeleton
    as packed (media_id * 16 + frame_no) entities, matches are kept only
    for ALIGNED frame positions, and pairs roll up per video."""
    ent = sigs.select(
        (F.col("media_id") * _VFP_SLOT + F.col("frame_no")).alias("media_id"),
        F.col("fhash"),
    )
    fp = _hamming_band_pairs(
        ent,
        "fhash",
        _PHASH_N_BANDS,
        _PHASH_BAND_BITS,
        _PHASH_HAMMING_MAX,
    )
    aligned = fp.filter(
        F.col("media_id_1") % _VFP_SLOT == F.col("media_id_2") % _VFP_SLOT
    )
    return (
        aligned.groupBy(
            (F.col("media_id_1") - F.col("media_id_1") % _VFP_SLOT)
            .cast("bigint")
            .alias("e1"),
            (F.col("media_id_2") - F.col("media_id_2") % _VFP_SLOT)
            .cast("bigint")
            .alias("e2"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_frames_matched"),
            F.round(F.avg(F.col("hamming").cast("double")), 6).alias("avg_hamming"),
        )
        .filter(F.col("n_frames_matched") >= match_min)
        .select(
            (F.col("e1") / _VFP_SLOT).cast("bigint").alias("media_id_1"),
            (F.col("e2") / _VFP_SLOT).cast("bigint").alias("media_id_2"),
            "n_frames_matched",
            "avg_hamming",
        )
        .orderBy("media_id_1", "media_id_2")
    )


@query("dedup_video_frames", oracle=None)
def dedup_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicate pairs over the real-decode corpus with planted
    re-encodes: every 5th video gains a +2-brightness copy (media_id +
    10,000,000) — a uniform shift preserves dHash gradient comparisons
    except where pixels clip at 255, so each copy pairs with its source
    within the Hamming confirm threshold (exact-collapse leg where no
    pixel clipped, banding leg otherwise). Rows-only proof (AVI decode has
    no SQL twin); recall and the negative control are pytest-pinned."""

    def brighten(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "media_type": [], "payload": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(payload)
                fr = decode_avi(raw)
                out["media_id"].append(int(mid) + 10_000_000)
                out["media_type"].append("video")
                out["payload"].append(
                    encode_avi(np.clip(fr.astype(np.int16) + 2, 0, 255).astype(np.uint8))
                )
            yield pd.DataFrame(out)

    media = synth_real_media(spark, sf_dir).select("media_id", "media_type", "payload")
    vids = media.filter(F.col("media_type") == "video")
    copies = vids.filter(F.col("media_id") % 5 == 2).mapInPandas(
        brighten, schema="media_id bigint, media_type string, payload binary"
    )
    # lazy return — the signature checkpoint inside bounds the AVI decode
    # to one pass; see dedup_image_phash
    return video_phash_pairs(video_frame_signatures(vids.unionByName(copies)))
