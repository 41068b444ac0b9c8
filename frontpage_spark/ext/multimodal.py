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

``synthesize_media`` builds deterministic, *spec-valid* payloads from any
string column (the image/audio libs aren't in this container, so the
pixel/sample content is md5-derived filler — but the containers are real
and the decoders parse actual bytes, not metadata side-channels).
``decode_media`` / ``resize_media`` / ``frame_sample`` then parse, resample
and index those bytes for real.

Scale notes (100 TB): binary payloads ride in Arrow record batches —
keep ``spark.sql.execution.arrow.maxRecordsPerBatch`` modest for large
blobs and repartition by a content hash so hot keys don't pin one
executor. Decode is a narrow per-row pass (no shuffle); resize changes
payload size but not row count; frame_sample is the explode-shaped op
(row fan-out = frame count).
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("frames", T.IntegerType()),
        T.StructField("checksum", T.StringType()),
    ]
)


# --------------------------------------------------------------------------
# encoders (deterministic, spec-valid containers)
# --------------------------------------------------------------------------

def _fill(seed: bytes, n: int) -> bytes:
    """Deterministic n-byte filler from a 16-byte seed."""
    return (seed * (n // len(seed) + 1))[:n]


def _bmp_row_size(width: int) -> int:
    return ((width * 3 + 3) // 4) * 4  # 24bpp rows pad to 4-byte boundary


def make_bmp(width: int, height: int, seed: bytes) -> bytes:
    """24-bit BI_RGB BMP: BITMAPFILEHEADER + BITMAPINFOHEADER + rows."""
    row = _bmp_row_size(width)
    image_size = row * height
    file_header = struct.pack("<2sIHHI", b"BM", 54 + image_size, 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, image_size, 2835, 2835, 0, 0
    )
    return file_header + dib + _fill(seed, image_size)


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


def decode_wav(b: bytes) -> tuple[int, int, int]:
    """(n_samples, channels, frames=1) from a RIFF/WAVE chunk walk."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    pos, channels, bits, data_size = 12, 1, 16, 0
    while pos + 8 <= len(b):
        cid, csize = b[pos : pos + 4], struct.unpack_from("<I", b, pos + 4)[0]
        if cid == b"fmt ":
            _, channels, _, _, _, bits = struct.unpack_from("<HHIIHH", b, pos + 8)
        elif cid == b"data":
            data_size = csize
        pos += 8 + csize + (csize & 1)  # RIFF chunks are word-aligned
    n_samples = data_size // max(1, channels * bits // 8)
    return n_samples, channels, 1


def decode_y4m(b: bytes) -> tuple[int, int, int]:
    """(width, height, n_frames) from a YUV4MPEG2 stream header + walk."""
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
    pos, frames = nl + 1, 0
    while pos + 6 <= len(b) and b[pos : pos + 5] == b"FRAME":
        frames += 1
        pos = b.index(b"\n", pos) + 1 + frame_size
    return width, height, frames


# --------------------------------------------------------------------------
# operators
# --------------------------------------------------------------------------

_KIND_MOD = {"image": 0, "audio": 1, "video": 2}


def synthesize_media(
    df: DataFrame, id_col: str, text_col: str, only: str | None = None
) -> DataFrame:
    """Deterministic media table from any string column — *spec-valid*
    BMP/WAV/Y4M payloads whose dimensions are pure functions of the text
    byte length L (so an independent oracle can predict the decoded
    metadata without parsing bytes):

    - id % 3 == 0 → image: BMP, w = L%101+1, h = L%53+1
    - id % 3 == 1 → audio: WAV, mono 16-bit, n_samples = L%1024+1
    - id % 3 == 2 → video: y4m, w = (L%16+1)*2, h = (L%8+1)*2,
      frames = L%4+1 (even dims: 4:2:0 chroma subsampling)

    ``only`` restricts synthesis to one kind by filtering rows BEFORE
    the Arrow pass on the same ``pmod(id, 3)`` the kind dispatch uses
    (Python ``%`` with a positive modulus == Spark ``pmod``, for every
    long). Single-kind consumers (dHash, RMS, luma) drop the other
    kinds anyway — the pre-filter just stops their payloads from being
    built and shipped through Arrow at all, and it pushes down to the
    parquet scan as an ordinary deterministic predicate.
    """
    if only is not None:
        df = df.filter(
            F.pmod(F.col(id_col).cast("long"), F.lit(3)) == _KIND_MOD[only]
        )
    return df.select(
        F.col(id_col).cast("long").alias(id_col), F.col(text_col)
    ).mapInPandas(_synth_run(id_col, text_col), MEDIA_SCHEMA)


def _synth_run(id_col: str, text_col: str):
    """Batch function of :func:`synthesize_media` — factored out so the
    fused single-pass operators (:func:`synthesize_then`) can compose it
    with a consumer's batch function inside ONE Python worker."""

    def run(batches: Iterator["pandas.DataFrame"]) -> Iterator["pandas.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            out = []
            for media_id, text in zip(pdf[id_col], pdf[text_col]):
                raw = str(text).encode("utf-8")
                n, seed = len(raw), hashlib.md5(raw).digest()
                k = int(media_id) % 3
                if k == 0:
                    kind, payload = "image", make_bmp(n % 101 + 1, n % 53 + 1, seed)
                elif k == 1:
                    kind, payload = "audio", make_wav(n % 1024 + 1, seed)
                else:
                    kind, payload = "video", make_y4m(
                        (n % 16 + 1) * 2, (n % 8 + 1) * 2, n % 4 + 1, seed
                    )
                out.append((int(media_id), kind, payload, {"src": "synthetic"}))
            yield pd.DataFrame(out, columns=["media_id", "kind", "payload", "meta"])

    return run


def synthesize_then(
    df: DataFrame,
    id_col: str,
    text_col: str,
    consumer_run,
    out_schema,
    only: str | None = None,
) -> DataFrame:
    """FUSED synthesize→consume in ONE Arrow pass (r11, guide §4.1/§8):
    the consumer's batch function runs on the synthesizer's output
    batches inside the same Python worker, so payload bytes never cross
    the JVM boundary at all — the previous two chained ``mapInPandas``
    stages serialized every payload Python→JVM→Python within the task.
    Byte-identical outputs by construction (the consumer sees exactly
    the frames ``synthesize_media`` would have produced; equivalence
    tested per consumer). On a REAL media table (payloads from storage,
    not synthesized) the unfused consumers apply unchanged."""
    if only is not None:
        df = df.filter(
            F.pmod(F.col(id_col).cast("long"), F.lit(3)) == _KIND_MOD[only]
        )
    synth = _synth_run(id_col, text_col)

    def run(batches: Iterator["pandas.DataFrame"]) -> Iterator["pandas.DataFrame"]:  # noqa: F821
        yield from consumer_run(synth(batches))

    return df.select(
        F.col(id_col).cast("long").alias(id_col), F.col(text_col)
    ).mapInPandas(run, out_schema)


_DECODERS = {"image": decode_bmp, "audio": decode_wav, "video": decode_y4m}


def _decode_one(payload: bytes, kind: str) -> dict[str, int | str]:
    width, height, frames = _DECODERS[kind](payload)
    return {
        "n_bytes": len(payload),
        "width": width,
        "height": height,
        "frames": frames,
        "checksum": hashlib.md5(payload).hexdigest(),
    }


def _decode_run():
    def run(batches: Iterator["pandas.DataFrame"]) -> Iterator["pandas.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            out = []
            for media_id, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                d = _decode_one(bytes(payload), kind)
                d["media_id"] = media_id
                d["kind"] = kind
                out.append(d)
            yield pd.DataFrame(
                out,
                columns=["media_id", "kind", "n_bytes", "width", "height", "frames", "checksum"],
            )

    return run


def decode_media(df: DataFrame) -> DataFrame:
    """Arrow-batched decode/feature-extract over a media DataFrame: parse
    each payload's real container header (BMP/WAV/Y4M) into typed
    metadata. `mapInPandas` streams Arrow batches through Python once —
    no per-row Python round trips. Narrow (no shuffle)."""
    return df.select("media_id", "kind", "payload").mapInPandas(
        _decode_run(), DECODED_SCHEMA
    )


def synthesize_decoded(
    df: DataFrame, id_col: str, text_col: str, only: str | None = None
) -> DataFrame:
    """Fused ``decode_media(synthesize_media(df))`` — see
    :func:`synthesize_then`."""
    return synthesize_then(df, id_col, text_col, _decode_run(), DECODED_SCHEMA, only)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def resize_media(df: DataFrame, width: int = 224, height: int = 224) -> DataFrame:
    """Real image resize: decode the BMP pixel grid, nearest-neighbor
    resample to (width, height), re-encode as BMP — one Arrow pass, the
    shape of a thumbnail/model-input stage. Only images are resized;
    other kinds pass through with width/height = -1."""

    def resize_bmp(b: bytes) -> bytes:
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
        file_header = struct.pack("<2sIHHI", b"BM", 54 + len(out), 0, 0, 54)
        dib = struct.pack(
            "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(out), 2835, 2835, 0, 0
        )
        return file_header + dib + bytes(out)

    def run(batches: Iterator["pandas.DataFrame"]) -> Iterator["pandas.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            out = []
            for media_id, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                b = bytes(payload)
                if kind == "image":
                    out.append((media_id, kind, resize_bmp(b), width, height))
                else:
                    out.append((media_id, kind, b, -1, -1))
            yield pd.DataFrame(
                out, columns=["media_id", "kind", "payload", "width", "height"]
            )

    return df.select("media_id", "kind", "payload").mapInPandas(run, RESIZED_SCHEMA)


def video_luma_profile(df: DataFrame) -> DataFrame:
    """Per-frame EXACT luma mass from the real y4m bytes: for every
    video payload, walk the FRAME-delimited stream and sum the Y plane
    (the first w*h bytes of each 4:2:0 frame) into one BIGINT per
    frame — the content-level primitive scene-change detection runs
    on. Integer sums, so a DuckDB oracle can predict them
    arithmetically from the synth spec (fill = md5-seeded 16-byte
    cycle) and any byte the parser mis-addresses breaks the match.
    Non-video rows are skipped. Narrow mapInPandas, no shuffle; row
    fan-out = frames."""
    return df.select("media_id", "kind", "payload").mapInPandas(
        _luma_run(), _LUMA_SCHEMA
    )


_LUMA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("luma_sum", T.LongType()),
        T.StructField("y_bytes", T.IntegerType()),
    ]
)


def _luma_run():
    def run(batches: Iterator["pandas.DataFrame"]) -> Iterator["pandas.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            out = []
            for media_id, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                if kind != "video":
                    continue
                b = bytes(payload)
                w, h, _ = decode_y4m(b)
                wh = w * h
                frame_size = wh * 3 // 2
                pos, no = b.index(b"\n") + 1, 0
                while pos + 5 <= len(b) and b[pos : pos + 5] == b"FRAME":
                    y0 = b.index(b"\n", pos) + 1
                    out.append((media_id, no, sum(b[y0 : y0 + wh]), wh))
                    pos = y0 + frame_size
                    no += 1
            yield pd.DataFrame(
                out, columns=["media_id", "frame_no", "luma_sum", "y_bytes"]
            )

    return run


def synthesize_luma(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Fused ``video_luma_profile(synthesize_media(df, only='video'))``
    — see :func:`synthesize_then`."""
    return synthesize_then(df, id_col, text_col, _luma_run(), _LUMA_SCHEMA, "video")


def frame_sample(df: DataFrame, every_n: int = 1) -> DataFrame:
    """Frame sampling: for video payloads, parse the y4m stream and emit
    one row per kept frame with its REAL byte offset (every ``every_n``-th
    frame); non-video rows emit a single frame 0 at offset 0. The
    explode-shaped (UDTF-like) media op — row fan-out = frames kept."""
    return df.select("media_id", "kind", "payload").mapInPandas(
        _frame_run(every_n), _FRAME_SCHEMA
    )


_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("frame_offset", T.IntegerType()),
    ]
)


def _frame_run(every_n: int):
    def run(batches: Iterator["pandas.DataFrame"]) -> Iterator["pandas.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            out = []
            for media_id, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                b = bytes(payload)
                if kind == "video":
                    w, h, _ = decode_y4m(b)
                    frame_size = w * h * 3 // 2
                    pos, no = b.index(b"\n") + 1, 0
                    while pos + 5 <= len(b) and b[pos : pos + 5] == b"FRAME":
                        if no % every_n == 0:
                            out.append((media_id, kind, no, pos))
                        pos = b.index(b"\n", pos) + 1 + frame_size
                        no += 1
                else:
                    out.append((media_id, kind, 0, 0))
            yield pd.DataFrame(
                out, columns=["media_id", "kind", "frame_no", "frame_offset"]
            )

    return run


def synthesize_frames(
    df: DataFrame, id_col: str, text_col: str, every_n: int = 1
) -> DataFrame:
    """Fused ``frame_sample(synthesize_media(df))`` — see
    :func:`synthesize_then`. All kinds (non-video rows emit frame 0)."""
    return synthesize_then(df, id_col, text_col, _frame_run(every_n), _FRAME_SCHEMA)


AUDIO_RMS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("window_idx", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("sumsq", T.LongType()),
        T.StructField("peak", T.IntegerType()),
    ]
)


def _wav_pcm16_np(b: bytes) -> "numpy.ndarray":  # noqa: F821
    """Signed 16-bit little-endian samples of the data chunk (channels
    interleaved; chunk walk mirrors ``decode_wav``) as an int64 numpy
    array (int64 up front so sample² and Σ never touch int16/int32
    overflow)."""
    import numpy as np

    pos, data = 12, b""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    while pos + 8 <= len(b):
        cid, csize = b[pos : pos + 4], struct.unpack_from("<I", b, pos + 4)[0]
        if cid == b"data":
            data = b[pos + 8 : pos + 8 + csize]
        pos += 8 + csize + (csize & 1)
    n = len(data) // 2
    return np.frombuffer(data[: 2 * n], dtype="<i2").astype(np.int64)


def audio_rms_windows(df: DataFrame, window: int = 256) -> DataFrame:
    """Per-window audio energy features over PCM WAV payloads: for each
    ``window``-sample slice, the exact integer Σsample² (RMS numerator)
    and peak |sample| — the loudness/silence profile a speech-data
    pipeline filters on (silence trimming, clipping detection) before
    any model runs.

    Arrow-batched ``mapInPandas``; NARROW — each payload expands to its
    own windows on the same partition, no shuffle. All-integer outputs
    (RMS stays a rational √(sumsq/n) for the caller) so downstream
    aggregation is engine-exact. Non-audio rows are dropped inside the
    pass, keeping the scan single. The per-sample math is vectorized
    (``frombuffer`` + ``ufunc.reduceat`` per window start), so the
    Python cost per payload is O(#windows) bookkeeping, not
    O(#samples) interpreter loops."""
    return df.select("media_id", "kind", "payload").mapInPandas(
        _rms_run(window), AUDIO_RMS_SCHEMA
    )


def _rms_run(window: int):
    def run(batches: Iterator["pandas.DataFrame"]) -> Iterator["pandas.DataFrame"]:  # noqa: F821
        import numpy as np
        import pandas as pd

        cols = ["media_id", "window_idx", "n_samples", "sumsq", "peak"]
        for pdf in batches:
            ids, widx, ns, sums, peaks = [], [], [], [], []
            for media_id, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                if kind != "audio":
                    continue
                s = _wav_pcm16_np(bytes(payload))
                n = len(s)
                if n == 0:
                    continue
                starts = np.arange(0, n, window)
                sums.append(np.add.reduceat(s * s, starts))
                peaks.append(np.maximum.reduceat(np.abs(s), starts))
                widx.append(np.arange(len(starts), dtype=np.int32))
                nsamp = np.full(len(starts), window, dtype=np.int32)
                nsamp[-1] = n - starts[-1]
                ns.append(nsamp)
                ids.append(np.full(len(starts), media_id, dtype=np.int64))
            if ids:
                yield pd.DataFrame(
                    {
                        "media_id": np.concatenate(ids),
                        "window_idx": np.concatenate(widx),
                        "n_samples": np.concatenate(ns),
                        "sumsq": np.concatenate(sums),
                        "peak": np.concatenate(peaks).astype(np.int32),
                    }
                )
            else:
                yield pd.DataFrame({c: [] for c in cols})

    return run


def synthesize_rms(
    df: DataFrame, id_col: str, text_col: str, window: int = 256
) -> DataFrame:
    """Fused ``audio_rms_windows(synthesize_media(df, only='audio'))``
    — see :func:`synthesize_then`."""
    return synthesize_then(
        df, id_col, text_col, _rms_run(window), AUDIO_RMS_SCHEMA, "audio"
    )


DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("dhash_hi", T.LongType()),
        T.StructField("dhash_lo", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


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


def image_dhash(df: DataFrame) -> DataFrame:
    """Perceptual difference-hash per image payload — the standard
    near-duplicate-image signature (64 gradient-sign bits; similar
    images differ in a few bits, unrelated ones in ~32).

    Parses the real BMP bytes (header offsets, bottom-up padded rows).
    Arrow-batched ``mapInPandas``, NARROW — one pass, no shuffle; the
    64-bit signature is what shuffles downstream, never pixels. That is
    the 100 TB contract for image dedup: reduce each image to 8 bytes
    in place, then run set operations on signatures only. Non-image
    rows are dropped inside the pass."""
    return df.select("media_id", "kind", "payload").mapInPandas(
        _dhash_run(), DHASH_SCHEMA
    )


def _dhash_run():
    def run(batches: Iterator["pandas.DataFrame"]) -> Iterator["pandas.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            out = []
            for media_id, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                if kind != "image":
                    continue
                hi, lo, w, h = _bmp_dhash(bytes(payload))
                out.append((int(media_id), hi, lo, w, h))
            yield pd.DataFrame(
                out, columns=["media_id", "dhash_hi", "dhash_lo", "width", "height"]
            )

    return run


def synthesize_dhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Fused ``image_dhash(synthesize_media(df, only='image'))`` — see
    :func:`synthesize_then`."""
    return synthesize_then(df, id_col, text_col, _dhash_run(), DHASH_SCHEMA, "image")
