"""Multimodal columns: image/audio/video as opaque ``binary`` columns
with typed metadata, processed with Arrow-batched pandas iterators
(``mapInPandas``).

The codecs are REAL, not stubs — three public container formats that are
fully parseable with the stdlib (``struct`` + text headers):

- image → **BMP** (BITMAPINFOHEADER, 24-bit BI_RGB): 14-byte file
  header + 40-byte DIB header + 4-byte-aligned pixel rows.
- audio → **WAV** (RIFF/WAVE, PCM): chunk walk over ``fmt `` (channels,
  bit depth, sample rate) and ``data`` (sample payload).
- video → **YUV4MPEG2** (y4m): plain-text stream header
  ``YUV4MPEG2 W<w> H<h> ...\\n`` followed by ``FRAME\\n`` + packed
  4:2:0 planes per frame.

An operator is one :class:`MediaOp`: a per-payload kernel
``rows(media_id, kind, payload)`` plus its output schema and the one
payload kind it reads. ``DECODE``, ``FRAMES``, ``LUMA``, ``DHASH``,
``rms(window)`` and ``resize(width, height)`` are the operators. Each
runs in one Arrow pass two ways:

- :func:`synthesize` builds deterministic, *spec-valid* payloads from
  any string column (the image/audio libs aren't in this container, so
  the pixel/sample content is md5-derived filler — but the containers
  are real and the decoders parse actual bytes, not metadata
  side-channels) and applies the operator in the SAME Python worker, so
  payload bytes never cross the JVM boundary;
- :func:`apply` runs the operator over a stored ``MEDIA_SCHEMA`` table.

Scale notes (100 TB): binary payloads ride in Arrow record batches —
keep ``spark.sql.execution.arrow.maxRecordsPerBatch`` modest for large
blobs and repartition by a content hash so hot keys don't pin one
executor. Every operator is a narrow per-row pass (no shuffle); resize
changes payload size but not row count; FRAMES, LUMA and rms are
explode-shaped (row fan-out = frames or windows).
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Callable, Iterable, Iterator
from itertools import repeat
from typing import NamedTuple

from pyspark.sql import DataFrame, functions as F, types as T


def _schema(**fields: T.DataType) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in fields.items()])


_L, _I, _S = T.LongType(), T.IntegerType(), T.StringType()

MEDIA_SCHEMA = _schema(
    media_id=_L,
    kind=_S,  # image | audio | video
    payload=T.BinaryType(),
    meta=T.MapType(_S, _S),
)
DECODED_SCHEMA = _schema(
    media_id=_L, kind=_S, n_bytes=_I, width=_I, height=_I, frames=_I, checksum=_S
)
RESIZED_SCHEMA = _schema(
    media_id=_L, kind=_S, payload=T.BinaryType(), width=_I, height=_I
)
FRAME_SCHEMA = _schema(media_id=_L, kind=_S, frame_no=_I, frame_offset=_I)
LUMA_SCHEMA = _schema(media_id=_L, frame_no=_I, luma_sum=_L, y_bytes=_I)
AUDIO_RMS_SCHEMA = _schema(
    media_id=_L, window_idx=_I, n_samples=_I, sumsq=_L, peak=_I
)
DHASH_SCHEMA = _schema(media_id=_L, dhash_hi=_L, dhash_lo=_L, width=_I, height=_I)


# --------------------------------------------------------------------------
# encoders (deterministic, spec-valid containers)
# --------------------------------------------------------------------------

def _fill(seed: bytes, n: int) -> bytes:
    """Deterministic n-byte filler from a 16-byte seed."""
    return (seed * (n // len(seed) + 1))[:n]


def _bmp_row_size(width: int) -> int:
    return ((width * 3 + 3) // 4) * 4  # 24bpp rows pad to 4-byte boundary


def _bmp_header(width: int, height: int) -> bytes:
    """BITMAPFILEHEADER + BITMAPINFOHEADER of a 24-bit BI_RGB image."""
    image_size = _bmp_row_size(width) * height
    file_header = struct.pack("<2sIHHI", b"BM", 54 + image_size, 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, image_size, 2835, 2835, 0, 0
    )
    return file_header + dib


def make_bmp(width: int, height: int, seed: bytes) -> bytes:
    """24-bit BI_RGB BMP: BITMAPFILEHEADER + BITMAPINFOHEADER + rows."""
    return _bmp_header(width, height) + _fill(seed, _bmp_row_size(width) * height)


def make_wav(n_samples: int, seed: bytes, channels: int = 1, rate: int = 8000) -> bytes:
    """PCM 16-bit RIFF/WAVE with a fmt and a data chunk."""
    data = _fill(seed, 2 * n_samples * channels)
    fmt = struct.pack(
        "<IHHIIHH", 16, 1, channels, rate, rate * channels * 2, channels * 2, 16
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + 16 + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def make_y4m(width: int, height: int, frames: int, seed: bytes) -> bytes:
    """YUV4MPEG2 stream: text header + FRAME-delimited 4:2:0 planes.
    Frame CONTENT varies per index (fill seed = md5(hex(seed) + str(i)),
    hex-string domain so a SQL oracle can recompute it with
    VARCHAR-only md5) — content-level video ops (scene detection, luma
    profiles) get real per-frame signal, while the layout (header,
    offsets, sizes) stays a pure function of (w, h, frames), which is
    what the layout oracles predict."""
    head = f"YUV4MPEG2 W{width} H{height} F25:1 Ip A1:1\n".encode()
    frame_size = width * height * 3 // 2  # Y + U/4 + V/4 at 8bpp
    out = [head]
    for i in range(frames):
        fseed = hashlib.md5(seed.hex().encode() + str(i).encode()).digest()
        out.append(b"FRAME\n" + _fill(fseed, frame_size))
    return b"".join(out)


# --------------------------------------------------------------------------
# decoders (parse the actual bytes)
# --------------------------------------------------------------------------

def decode_bmp(b: bytes) -> tuple[int, int, int]:
    """(width, height, frames) from a BMP payload; raises on bad magic."""
    if b[:2] != b"BM":
        raise ValueError("not a BMP")
    width, height = struct.unpack_from("<ii", b, 18)
    return width, abs(height), 1  # negative height = top-down rows


def _wav_chunks(b: bytes) -> Iterator[tuple[bytes, int, int]]:
    """(chunk id, body offset, body size) of each RIFF/WAVE chunk."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    pos = 12
    while pos + 8 <= len(b):
        csize = struct.unpack_from("<I", b, pos + 4)[0]
        yield b[pos : pos + 4], pos + 8, csize
        pos += 8 + csize + (csize & 1)  # RIFF chunks are word-aligned


def decode_wav(b: bytes) -> tuple[int, int, int]:
    """(n_samples, channels, frames=1) from a RIFF/WAVE chunk walk."""
    channels, bits, data_size = 1, 16, 0
    for cid, body, csize in _wav_chunks(b):
        if cid == b"fmt ":
            _, channels, _, _, _, bits = struct.unpack_from("<HHIIHH", b, body)
        elif cid == b"data":
            data_size = csize
    n_samples = data_size // max(1, channels * bits // 8)
    return n_samples, channels, 1


def _y4m_walk(b: bytes) -> tuple[int, int, list[tuple[int, int]]]:
    """(width, height, frames) of a YUV4MPEG2 stream, where frames holds
    one (FRAME marker offset, Y-plane offset) pair per frame."""
    if not b.startswith(b"YUV4MPEG2"):
        raise ValueError("not a y4m")
    nl = b.index(b"\n")
    width = height = 0
    for tok in b[:nl].split(b" ")[1:]:
        if tok[:1] == b"W":
            width = int(tok[1:])
        elif tok[:1] == b"H":
            height = int(tok[1:])
    frame_size = width * height * 3 // 2
    pos, frames = nl + 1, []
    while pos + 6 <= len(b) and b[pos : pos + 5] == b"FRAME":
        y0 = b.index(b"\n", pos) + 1
        frames.append((pos, y0))
        pos = y0 + frame_size
    return width, height, frames


def decode_y4m(b: bytes) -> tuple[int, int, int]:
    """(width, height, n_frames) from a YUV4MPEG2 stream header + walk."""
    width, height, frames = _y4m_walk(b)
    return width, height, len(frames)


def _wav_pcm16_np(b: bytes) -> "numpy.ndarray":  # noqa: F821
    """Signed 16-bit little-endian samples of the data chunk (channels
    interleaved) as an int64 numpy array (int64 up front so sample² and
    Σ never touch int16/int32 overflow)."""
    import numpy as np

    data = b""
    for cid, body, csize in _wav_chunks(b):
        if cid == b"data":
            data = b[body : body + csize]
    n = len(data) // 2
    return np.frombuffer(data[: 2 * n], dtype="<i2").astype(np.int64)


def _bmp_dhash(b: bytes) -> tuple[int, int, int, int]:
    """Difference-hash of a 24bpp BMP: sample a 9×8 grayscale grid
    (nearest-neighbor, top-down rows), set bit (j*8+i) when the right
    neighbor is brighter. Returns (hi32, lo32, width, height) — two
    32-bit halves so both engines stay inside signed-BIGINT math."""
    data_off = struct.unpack_from("<I", b, 10)[0]
    w, h = struct.unpack_from("<ii", b, 18)
    h = abs(h)
    rw = _bmp_row_size(w)

    def gray(px: int, py: int) -> int:
        sr = h - 1 - py  # BI_RGB rows are stored bottom-up
        o = data_off + sr * rw + px * 3
        return (b[o] + b[o + 1] + b[o + 2]) // 3

    hi = lo = 0
    for j in range(8):
        py = j * h // 8
        row = [gray(i * w // 9, py) for i in range(9)]
        bits = sum((1 << i) for i in range(8) if row[i + 1] > row[i])
        if j < 4:
            lo |= bits << (8 * j)
        else:
            hi |= bits << (8 * (j - 4))
    return hi, lo, w, h


# --------------------------------------------------------------------------
# operators
# --------------------------------------------------------------------------

class MediaOp(NamedTuple):
    """One media operator. ``rows(media_id, kind, payload)`` returns the
    output rows of one payload, as tuples in ``schema`` order. ``kind``
    is the one payload kind the operator reads (None: every kind); rows
    of other kinds are filtered out before the Arrow pass."""

    kind: str | None
    schema: T.StructType
    rows: Callable[[int, str, bytes], Iterable[tuple]]


_KINDS = ("image", "audio", "video")  # synthesized kind = _KINDS[id pmod 3]
_DECODERS = {"image": decode_bmp, "audio": decode_wav, "video": decode_y4m}


def _decode_rows(media_id: int, kind: str, payload: bytes) -> list[tuple]:
    width, height, frames = _DECODERS[kind](payload)
    checksum = hashlib.md5(payload).hexdigest()
    return [(media_id, kind, len(payload), width, height, frames, checksum)]


def _frame_rows(media_id: int, kind: str, payload: bytes) -> list[tuple]:
    if kind != "video":
        return [(media_id, kind, 0, 0)]
    return [
        (media_id, kind, no, pos)
        for no, (pos, _) in enumerate(_y4m_walk(payload)[2])
    ]


def _luma_rows(media_id: int, kind: str, payload: bytes) -> list[tuple]:
    w, h, frames = _y4m_walk(payload)
    wh = w * h
    return [
        (media_id, no, sum(payload[y0 : y0 + wh]), wh)
        for no, (_, y0) in enumerate(frames)
    ]


def _dhash_rows(media_id: int, kind: str, payload: bytes) -> list[tuple]:
    return [(media_id, *_bmp_dhash(payload))]


# Arrow-batched decode/feature-extract: parse each payload's real
# container header (BMP/WAV/Y4M) into typed metadata.
DECODE = MediaOp(None, DECODED_SCHEMA, _decode_rows)

# Frame index: one row per video frame with its REAL byte offset in the
# y4m stream; non-video rows emit a single frame 0 at offset 0.
FRAMES = MediaOp(None, FRAME_SCHEMA, _frame_rows)

# Per-frame EXACT luma mass: the Y plane (the first w*h bytes of each
# 4:2:0 frame) summed into one BIGINT per frame — the content-level
# primitive scene-change detection runs on. Integer sums, so a DuckDB
# oracle can predict them arithmetically from the synth spec and any
# byte the parser mis-addresses breaks the match.
LUMA = MediaOp("video", LUMA_SCHEMA, _luma_rows)

# Perceptual difference-hash per image — the standard near-duplicate
# image signature (64 gradient-sign bits; similar images differ in a
# few bits, unrelated ones in ~32) from the real BMP bytes (header
# offsets, bottom-up padded rows). Each image reduces to 8 bytes in
# place; only signatures shuffle downstream, never pixels.
DHASH = MediaOp("image", DHASH_SCHEMA, _dhash_rows)


def rms(window: int = 256) -> MediaOp:
    """Per-window audio energy over PCM WAV payloads: for each
    ``window``-sample slice, the exact integer Σsample² (RMS numerator)
    and peak |sample| — the loudness/silence profile a speech-data
    pipeline filters on (silence trimming, clipping detection) before
    any model runs. All-integer outputs (RMS stays a rational
    √(sumsq/n) for the caller) so downstream aggregation is
    engine-exact. The per-sample math is vectorized (``frombuffer`` +
    ``ufunc.reduceat`` per window start), so the Python cost per
    payload is O(#windows), not O(#samples) interpreter loops."""

    def rows(media_id: int, kind: str, payload: bytes) -> Iterable[tuple]:
        import numpy as np

        s = _wav_pcm16_np(payload)
        n = len(s)
        if n == 0:
            return ()
        starts = np.arange(0, n, window)
        sums = np.add.reduceat(s * s, starts)
        peaks = np.maximum.reduceat(np.abs(s), starts)
        nsamp = np.full(len(starts), window, dtype=np.int32)
        nsamp[-1] = n - starts[-1]
        return zip(
            repeat(media_id), range(len(starts)), nsamp.tolist(),
            sums.tolist(), peaks.tolist(),
        )

    return MediaOp("audio", AUDIO_RMS_SCHEMA, rows)


def resize(width: int = 224, height: int = 224) -> MediaOp:
    """Real image resize: decode the BMP pixel grid, nearest-neighbor
    resample to (width, height), re-encode as BMP — the shape of a
    thumbnail/model-input stage. Only images are resized; other kinds
    pass through with width/height = -1."""

    def rows(media_id: int, kind: str, b: bytes) -> list[tuple]:
        if kind != "image":
            return [(media_id, kind, b, -1, -1)]
        sw, sh, _ = decode_bmp(b)
        src_row = _bmp_row_size(sw)
        pixels = b[54:]
        dst_row = _bmp_row_size(width)
        out = bytearray()
        for y in range(height):
            sy = y * sh // height
            line = bytearray()
            for x in range(width):
                sx = x * sw // width
                o = sy * src_row + sx * 3
                line += pixels[o : o + 3]
            line += b"\x00" * (dst_row - len(line))
            out += line
        return [(media_id, kind, _bmp_header(width, height) + bytes(out), width, height)]

    return MediaOp(None, RESIZED_SCHEMA, rows)


def _synth_one(media_id: int, text: str) -> tuple[int, str, bytes]:
    """The synthesized (media_id, kind, payload) of one text row."""
    raw = str(text).encode("utf-8")
    n, seed = len(raw), hashlib.md5(raw).digest()
    kind = _KINDS[media_id % 3]
    if kind == "image":
        payload = make_bmp(n % 101 + 1, n % 53 + 1, seed)
    elif kind == "audio":
        payload = make_wav(n % 1024 + 1, seed)
    else:
        payload = make_y4m((n % 16 + 1) * 2, (n % 8 + 1) * 2, n % 4 + 1, seed)
    return media_id, kind, payload


# synthesize() with no operator: the media table itself
_MEDIA = MediaOp(None, MEDIA_SCHEMA, lambda m, k, p: [(m, k, p, {"src": "synthetic"})])


def _runner(op: MediaOp, id_col: str | None = None, text_col: str | None = None):
    """The Arrow batch function applying ``op`` to each payload — of a
    stored media table, or synthesized from (id_col, text_col)."""
    cols = op.schema.fieldNames()

    def run(batches: Iterator["pandas.DataFrame"]) -> Iterator["pandas.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            if id_col is None:
                media = zip(pdf["media_id"], pdf["kind"], pdf["payload"])
            else:
                media = (_synth_one(int(i), t) for i, t in zip(pdf[id_col], pdf[text_col]))
            out = [r for m, k, p in media for r in op.rows(int(m), k, bytes(p))]
            yield pd.DataFrame(out, columns=cols)

    return run


def apply(df: DataFrame, op: MediaOp) -> DataFrame:
    """``op`` over a stored ``MEDIA_SCHEMA`` table — one narrow Arrow
    pass, no shuffle."""
    if op.kind is not None:
        df = df.filter(F.col("kind") == op.kind)
    return df.select("media_id", "kind", "payload").mapInPandas(_runner(op), op.schema)


def synthesize(
    df: DataFrame, id_col: str, text_col: str, op: MediaOp | None = None
) -> DataFrame:
    """Deterministic media from any string column, fused with ``op`` in
    ONE Arrow pass (None: the ``MEDIA_SCHEMA`` table itself). The
    payloads are *spec-valid* BMP/WAV/Y4M whose dimensions are pure
    functions of the text byte length L (so an independent oracle can
    predict the decoded metadata without parsing bytes):

    - id % 3 == 0 → image: BMP, w = L%101+1, h = L%53+1
    - id % 3 == 1 → audio: WAV, mono 16-bit, n_samples = L%1024+1
    - id % 3 == 2 → video: y4m, w = (L%16+1)*2, h = (L%8+1)*2,
      frames = L%4+1 (even dims: 4:2:0 chroma subsampling)

    ``op`` runs on the synthesized payloads inside the same Python
    worker, so payload bytes never cross the JVM boundary; its output
    equals ``apply(synthesize(df, id_col, text_col), op)`` row for row.
    An operator that reads one kind filters rows BEFORE the pass on the
    same ``pmod(id, 3)`` the kind dispatch uses (Python ``%`` with a
    positive modulus == Spark ``pmod``, for every long), so other
    kinds' payloads are never built; the predicate pushes down to the
    parquet scan.

    The rows then fan out to ``plans.PY_STAGE_WIDTH`` tasks: a local
    single-row-group file scans as ONE task, which would run the whole
    Python pass on one core (no-op on a multi-split table)."""
    from .. import plans  # driver-side only: workers never import it

    op = op or _MEDIA
    if op.kind is not None:
        df = df.filter(
            F.pmod(F.col(id_col).cast("long"), F.lit(3)) == _KINDS.index(op.kind)
        )
    return (
        plans.fan_out(df, plans.PY_STAGE_WIDTH)
        .select(F.col(id_col).cast("long").alias(id_col), F.col(text_col))
        .mapInPandas(_runner(op, id_col, text_col), op.schema)
    )
