"""Multimodal column handling: opaque binary payloads + typed metadata.

The 100 TB training-data pipeline treats image/audio/video as opaque
``binary`` columns with a typed metadata struct, processed by Arrow-batched
``mapInPandas`` kernels. The decode step itself is STUBBED here — the
container has no image/audio codecs — but everything Spark-side is real and
tested: schema, column plumbing, batch iteration, partition behavior.

Design rules for scale:
  - payloads never pass through Python row-at-a-time: mapInPandas receives
    Arrow record batches; numpy views the bytes zero-copy.
  - metadata lives in a STRUCT column so Catalyst prunes it independently of
    the payload (a metadata-only query never reads the bytes when the source
    is Parquet with column pruning).
  - byte-level stats that ARE expressible as built-ins (length, hashes,
    magic-number prefixes) stay JVM-side; Python is reserved for the decode
    boundary.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

def with_binary_payload(df: DataFrame, text_col: str = "text", out_col: str = "payload") -> DataFrame:
    """Testdata adapter: UTF-8 bytes of a text column as the opaque payload
    (the testdata ships no real media; the byte-column plumbing is identical)."""
    return df.withColumn(out_col, F.encode(F.col(text_col), "UTF-8"))


def binary_stats(df: DataFrame, id_col: str, payload_col: str = "payload") -> DataFrame:
    """JVM-side byte stats: size, content hash, magic prefix. No Python."""
    return df.select(
        F.col(id_col),
        F.octet_length(payload_col).cast("long").alias("n_bytes"),
        F.md5(F.col(payload_col)).alias("content_md5"),
        F.upper(F.hex(F.substring(F.col(payload_col), 1, 4))).alias("magic_hex"),
    )


N_BYTE_BUCKETS = 8

FEATURE_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType(), False),
     T.StructField("n_bytes", T.LongType(), False),
     T.StructField("mean_byte", T.DoubleType(), True),
     T.StructField("byte_entropy", T.DoubleType(), True)]
    + [T.StructField(f"f{k}", T.DoubleType(), True) for k in range(N_BYTE_BUCKETS)]
)


def extract_byte_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """mapInPandas feature extractor over binary payloads.

    Deterministic stand-in for a real media featurizer (CNN embedding /
    mel-spectrogram): per payload emits byte mean, byte-histogram entropy and
    an 8-bin byte-class histogram as SCALAR columns ``f0..f7``.  Flat scalars
    (not ``array<double>``) so any downstream row canonicalizer — including
    the driver's pandas ``sort_values`` gate, which raises ``unhashable
    type: 'list'`` on array cells — can sort/hash the output.  The
    Arrow-batch shape, schema and partition behavior are exactly what a real
    decoder would use — swap ``_featurize`` for the codec call.

    Cross-engine determinism (the registry idiom): every float is derived
    from the EXACT integer byte histogram with one fixed op order, half-up
    rounded to micro-units.  Entropy rounds each ``-(p*log2(p))`` term to
    integer micros BEFORE the (order-independent, integer) sum, so the only
    cross-libm exposure is the ~1-ulp ``log2`` difference, margin-tested in
    tests/test_multimodal.py.
    """
    import math

    def _featurize(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                b = np.frombuffer(bytes(payload), dtype=np.uint8)
                if b.size == 0:
                    out.append((int(doc_id), 0) + (None,) * (2 + N_BYTE_BUCKETS))
                    continue
                n = int(b.size)
                hist = np.bincount(b, minlength=256)
                sum_bytes = int(b.sum(dtype=np.int64))
                # one rounded division, then one rounded multiply — the SQL
                # oracle performs the identical op sequence
                mean_byte = math.floor((sum_bytes * 1.0 / n) * 1000000 + 0.5) / 1000000
                ent_micro = 0
                for c in hist[hist > 0]:
                    p = int(c) * 1.0 / n
                    ent_micro += math.floor(-(p * math.log2(p)) * 1000000 + 0.5)
                entropy = ent_micro / 1000000
                bucket_counts = hist.reshape(N_BYTE_BUCKETS, 256 // N_BYTE_BUCKETS).sum(axis=1)
                fk = tuple(
                    math.floor(int(c) * 1000000.0 / n + 0.5) / 1000000
                    for c in bucket_counts
                )
                out.append((int(doc_id), n, mean_byte, entropy) + fk)
            yield pd.DataFrame(out, columns=[f.name for f in FEATURE_SCHEMA.fields])

    return df.select(id_col, payload_col).mapInPandas(_featurize, FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# Real image decode: BMP (BITMAPINFOHEADER, 24/32 bpp uncompressed, bottom-up
# or top-down) and binary PPM (P6). Pure numpy — no codec libraries — so the
# decode boundary is REAL, not a stub: header parsing, row padding, BGR(A)
# channel order and vertical orientation are all exercised. Exotic formats
# (JPEG/PNG/audio) would slot in behind the same sniff-dispatch; unknown
# magic becomes an error-status ROW (S4 errors-as-data), never a job failure.
# ---------------------------------------------------------------------------


def encode_bmp(rgb: np.ndarray, bpp: int = 24, top_down: bool = False) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an uncompressed BMP.

    24 bpp rows are BGR padded to 4-byte multiples; 32 bpp is BGRA (alpha
    0xFF). ``top_down`` writes a negative biHeight (rows in natural order);
    the default is the classic bottom-up layout."""
    h, w, _ = rgb.shape
    if bpp == 24:
        row = np.empty((h, w, 3), dtype=np.uint8)
        row[..., 0], row[..., 1], row[..., 2] = rgb[..., 2], rgb[..., 1], rgb[..., 0]
        stride = (w * 3 + 3) & ~3
        padded = np.zeros((h, stride), dtype=np.uint8)
        padded[:, : w * 3] = row.reshape(h, w * 3)
    elif bpp == 32:
        row = np.empty((h, w, 4), dtype=np.uint8)
        row[..., 0], row[..., 1], row[..., 2] = rgb[..., 2], rgb[..., 1], rgb[..., 0]
        row[..., 3] = 255
        stride = w * 4
        padded = row.reshape(h, stride)
    else:
        raise ValueError(f"unsupported bpp {bpp}")
    body = padded if top_down else padded[::-1]
    pix = body.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pix), 0, 0, 14 + 40)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, -h if top_down else h, 1, bpp, 0, len(pix),
        2835, 2835, 0, 0,
    )
    return header + dib + pix


def encode_ppm(rgb: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as binary PPM (P6, maxval 255)."""
    h, w, _ = rgb.shape
    return f"P6\n{w} {h}\n255\n".encode() + rgb.tobytes()


def _decode_bmp(b: bytes) -> np.ndarray:
    if len(b) < 54 or b[:2] != b"BM":
        raise ValueError("not a BMP")
    offset = struct.unpack_from("<I", b, 10)[0]
    hdr_size, w, h_raw = struct.unpack_from("<Iii", b, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", b, 26)
    if hdr_size < 40 or compression != 0 or bpp not in (24, 32):
        raise ValueError(f"unsupported BMP (hdr={hdr_size} comp={compression} bpp={bpp})")
    top_down = h_raw < 0
    h = -h_raw if top_down else h_raw
    nch = bpp // 8
    stride = (w * nch + 3) & ~3
    if len(b) < offset + stride * h:
        raise ValueError("truncated BMP")
    rows = np.frombuffer(b, dtype=np.uint8, count=stride * h, offset=offset)
    rows = rows.reshape(h, stride)[:, : w * nch].reshape(h, w, nch)
    if not top_down:
        rows = rows[::-1]
    rgb = np.empty((h, w, 3), dtype=np.uint8)
    rgb[..., 0], rgb[..., 1], rgb[..., 2] = rows[..., 2], rows[..., 1], rows[..., 0]
    return rgb


def _parse_ppm_at(b: bytes, pos: int) -> tuple[np.ndarray, int]:
    """Parse one P6 PPM frame starting at ``pos``; return (rgb, next_pos).
    Concatenated P6 frames are a real streaming container (ffmpeg's
    image2pipe ppm), which makes this the video-decode analog."""
    if b[pos : pos + 2] != b"P6":
        raise ValueError("not a P6 PPM")
    # header = magic + 3 ASCII ints, '#' comments allowed, then ONE
    # whitespace byte before the raw pixel block
    pos, fields = pos + 2, []
    while len(fields) < 3:
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if pos < len(b) and b[pos : pos + 1] == b"#":
            while pos < len(b) and b[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        if pos == start:
            raise ValueError("truncated PPM header")
        fields.append(int(b[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    if len(b) < pos + w * h * 3:
        raise ValueError("truncated PPM")
    rgb = (
        np.frombuffer(b, dtype=np.uint8, count=w * h * 3, offset=pos)
        .reshape(h, w, 3)
        .copy()
    )
    return rgb, pos + w * h * 3


def _decode_ppm(b: bytes) -> np.ndarray:
    rgb, _ = _parse_ppm_at(b, 0)
    return rgb


DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("px00_r", T.IntegerType(), True),
        T.StructField("mean_r", T.DoubleType(), True),
        T.StructField("mean_g", T.DoubleType(), True),
        T.StructField("mean_b", T.DoubleType(), True),
        T.StructField("status", T.StringType(), False),
    ]
)


def decode_media(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Decode binary image payloads (BMP 24/32 bpp, PPM P6) into typed
    features via one Arrow-batched mapInPandas pass.

    Emits per payload: media_type, dimensions, the (0,0) pixel's red value
    (orientation-sensitive on purpose — a decoder that forgets the BMP
    bottom-up flip gets it wrong) and exact per-channel means. Undecodable
    payloads become 'error_*' status rows with NULL features — at corpus
    scale one corrupt file must never kill the stage (same S4 rule as the
    YAP kernel). Replaces the round-2/3 NotImplementedError stub."""

    def _decode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in DECODE_SCHEMA.fields]
        for pdf in it:
            out = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(payload) if payload is not None else b""
                try:
                    if b[:2] == b"BM":
                        rgb, mt = _decode_bmp(b), "bmp"
                    elif b[:2] == b"P6":
                        rgb, mt = _decode_ppm(b), "ppm"
                    else:
                        out.append((int(doc_id), None, None, None, None,
                                    None, None, None, "error_unknown_format"))
                        continue
                except ValueError:
                    out.append((int(doc_id), None, None, None, None,
                                None, None, None, "error_corrupt"))
                    continue
                h, w, _ = rgb.shape
                out.append(
                    (int(doc_id), mt, int(w), int(h), int(rgb[0, 0, 0]),
                     float(rgb[..., 0].mean()), float(rgb[..., 1].mean()),
                     float(rgb[..., 2].mean()), "ok")
                )
            yield pd.DataFrame(out, columns=cols)

    return df.select(id_col, payload_col).mapInPandas(_decode, DECODE_SCHEMA)


IMG_W, IMG_H = 16, 8


def synth_image_rgb(doc_id: int) -> np.ndarray:
    """Closed-form test image for ``doc_id``: pixel (x, y) has
    r=(7d+3x+5y)%256, g=(11d+x)%256, b=(13y+d)%256 — chosen so a SQL engine
    can compute every decoded feature directly from doc_id (the driver
    oracle for mm_decode_features), while Spark actually round-trips the
    bytes through a real encoder and decoder."""
    x = np.arange(IMG_W, dtype=np.int64)[None, :]
    y = np.arange(IMG_H, dtype=np.int64)[:, None]
    rgb = np.empty((IMG_H, IMG_W, 3), dtype=np.uint8)
    rgb[..., 0] = (7 * doc_id + 3 * x + 5 * y) % 256
    rgb[..., 1] = (11 * doc_id + x + 0 * y) % 256
    rgb[..., 2] = (13 * y + doc_id + 0 * x) % 256
    return rgb


def synth_payload(doc_id: int) -> bytes:
    """Deterministic payload variant mix: doc_id%7==3 -> corrupt bytes;
    even -> BMP (32 bpp top-down when %4==0, else 24 bpp bottom-up);
    odd -> PPM P6. Exercises every decoder branch."""
    if doc_id % 7 == 3:
        return b"ZZ" + bytes([doc_id % 256]) * 16
    rgb = synth_image_rgb(doc_id)
    if doc_id % 2 == 0:
        if doc_id % 4 == 0:
            return encode_bmp(rgb, bpp=32, top_down=True)
        return encode_bmp(rgb, bpp=24, top_down=False)
    return encode_ppm(rgb)


def synth_payload_df(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach the synthetic image payload executor-side (mapInPandas over
    the id column only — payload bytes are GENERATED on executors, never
    Arrow-shipped from the driver; the 100 TB analog is reading them from
    object storage)."""

    def _gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "payload": [synth_payload(int(d)) for d in pdf[id_col]],
                }
            )

    return df.select(id_col).mapInPandas(
        _gen, f"{id_col} long, payload binary"
    )


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("out_w", T.IntegerType(), True),
        T.StructField("out_h", T.IntegerType(), True),
        T.StructField("px00_r", T.DoubleType(), True),
        T.StructField("pxlast_b", T.DoubleType(), True),
        T.StructField("mean_r", T.DoubleType(), True),
        T.StructField("status", T.StringType(), False),
    ]
)


def resize_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    factor: int = 2,
) -> DataFrame:
    """Decode + box-mean downsample (the standard antialiased integer
    resize: each output pixel is the exact mean of its factor x factor
    input block) in ONE mapInPandas pass. Emits the resized dimensions,
    two orientation/alignment-sensitive probe pixels (top-left block mean
    of the red channel, bottom-right block mean of the blue channel) and
    the resized red-channel mean. Box means are exact rationals over
    power-of-two block sizes, so every output is a bit-reproducible
    double; undecodable payloads degrade to error rows."""

    def _resize(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in RESIZE_SCHEMA.fields]
        for pdf in it:
            out = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(payload) if payload is not None else b""
                try:
                    if b[:2] == b"BM":
                        rgb = _decode_bmp(b)
                    elif b[:2] == b"P6":
                        rgb = _decode_ppm(b)
                    else:
                        raise ValueError("unknown format")
                except ValueError:
                    out.append((int(doc_id), None, None, None, None, None,
                                "error_undecodable"))
                    continue
                h, w, _ = rgb.shape
                oh, ow = h // factor, w // factor
                boxes = (
                    rgb[: oh * factor, : ow * factor]
                    .astype(np.float64)
                    .reshape(oh, factor, ow, factor, 3)
                    .mean(axis=(1, 3))
                )
                out.append(
                    (int(doc_id), int(ow), int(oh),
                     float(boxes[0, 0, 0]), float(boxes[-1, -1, 2]),
                     float(boxes[..., 0].mean()), "ok")
                )
            yield pd.DataFrame(out, columns=cols)

    return df.select(id_col, payload_col).mapInPandas(_resize, RESIZE_SCHEMA)


# ---------------------------------------------------------------------------
# Audio path: real WAV (RIFF, 16-bit mono PCM) encode/decode, pure
# struct/numpy — the audio analog of the BMP/PPM image path.
# ---------------------------------------------------------------------------

AUDIO_RATE = 8000


def synth_audio_samples(doc_id: int) -> np.ndarray:
    """Closed-form int16 waveform: sample i of doc d is
    ((37 d + 17 i) mod 4001) - 2000 over n = 64 + d%5 samples — SQL can
    replay every decoded feature from doc_id while Spark round-trips real
    RIFF bytes."""
    n = 64 + doc_id % 5
    i = np.arange(n, dtype=np.int64)
    return ((37 * doc_id + 17 * i) % 4001 - 2000).astype(np.int16)


def encode_wav(samples: np.ndarray, rate: int = AUDIO_RATE) -> bytes:
    """16-bit mono PCM WAV (RIFF/WAVE, fmt + data chunks)."""
    pcm = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _decode_wav(b: bytes) -> tuple[np.ndarray, int]:
    """Return (int16 samples, sample_rate); walks RIFF chunks properly
    (tolerates extra chunks before/after data)."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, rate, samples = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (size,) = struct.unpack_from("<I", b, pos + 4)
        body = b[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError("truncated chunk")
        if cid == b"fmt ":
            audio_fmt, n_ch, rate, _, _, bits = struct.unpack_from("<HHIIHH", body, 0)
            if audio_fmt != 1 or n_ch != 1 or bits != 16:
                raise ValueError("unsupported WAV encoding")
        elif cid == b"data":
            samples = np.frombuffer(body, dtype="<i2")
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or samples is None:
        raise ValueError("missing fmt/data chunk")
    return samples.astype(np.int16), rate


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_samples", T.IntegerType(), True),
        T.StructField("peak_abs", T.IntegerType(), True),
        T.StructField("sum_sq", T.LongType(), True),
        T.StructField("n_zero_cross", T.IntegerType(), True),
        T.StructField("status", T.StringType(), False),
    ]
)


def audio_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Decode WAV payloads and emit exact-integer signal features (peak,
    energy as sum of squares, strict sign-change zero crossings) — integer
    outputs so the cross-engine comparison needs no float rounding at
    all. Undecodable payloads degrade to error rows."""

    def _decode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in AUDIO_SCHEMA.fields]
        for pdf in it:
            out = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(payload) if payload is not None else b""
                try:
                    s, rate = _decode_wav(b)
                except ValueError:
                    out.append((int(doc_id), None, None, None, None, None,
                                "error_undecodable"))
                    continue
                s64 = s.astype(np.int64)
                zc = int(((s64[:-1] < 0) & (s64[1:] > 0)).sum()
                         + ((s64[:-1] > 0) & (s64[1:] < 0)).sum())
                out.append(
                    (int(doc_id), int(rate), int(s.size),
                     int(np.abs(s64).max()) if s.size else None,
                     int((s64 * s64).sum()), zc, "ok")
                )
            yield pd.DataFrame(out, columns=cols)

    return df.select(id_col, payload_col).mapInPandas(_decode, AUDIO_SCHEMA)


def synth_audio_df(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, payload) WAV rows generated executor-side."""

    def _gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = [int(d) for d in pdf[id_col]]
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "payload": [
                        encode_wav(synth_audio_samples(d)) for d in ids
                    ],
                }
            )

    return df.select(id_col).mapInPandas(_gen, f"{id_col} long, payload binary")


# ---------------------------------------------------------------------------
# Video path: multi-frame payloads (concatenated P6 frames — ffmpeg's
# image2pipe ppm stream), JVM-side sampled-index derivation, and a decoder
# that decodes ONLY the sampled frames of each stream.
# ---------------------------------------------------------------------------


def synth_video_rgb(doc_id: int, frame_idx: int) -> np.ndarray:
    """Closed-form frame: pixel (x, y) of frame f has
    r=(7d+3x+5y+11f)%256, g=(11d+x+13f)%256, b=(13y+d+7f)%256 — SQL can
    compute every decoded frame feature directly from (doc_id, frame_idx)
    while Spark round-trips real container bytes."""
    x = np.arange(IMG_W, dtype=np.int64)[None, :]
    y = np.arange(IMG_H, dtype=np.int64)[:, None]
    rgb = np.empty((IMG_H, IMG_W, 3), dtype=np.uint8)
    rgb[..., 0] = (7 * doc_id + 3 * x + 5 * y + 11 * frame_idx) % 256
    rgb[..., 1] = (11 * doc_id + x + 0 * y + 13 * frame_idx) % 256
    rgb[..., 2] = (13 * y + doc_id + 0 * x + 7 * frame_idx) % 256
    return rgb


def video_frame_count(doc_id: int) -> int:
    return 3 + doc_id % 4  # 3..6 frames per stream


def synth_video_payload(doc_id: int) -> bytes:
    return b"".join(
        encode_ppm(synth_video_rgb(doc_id, f))
        for f in range(video_frame_count(doc_id))
    )


def synth_video_df(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, payload, n_frames) rows generated executor-side — the 100 TB
    analog is a manifest join against object-storage video blobs."""

    def _gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = [int(d) for d in pdf[id_col]]
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "payload": [synth_video_payload(d) for d in ids],
                    "n_frames": [video_frame_count(d) for d in ids],
                }
            )

    return df.select(id_col).mapInPandas(
        _gen, f"{id_col} long, payload binary, n_frames int"
    )


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("px00_r", T.IntegerType(), True),
        T.StructField("mean_r", T.DoubleType(), True),
        T.StructField("mean_g", T.DoubleType(), True),
        T.StructField("mean_b", T.DoubleType(), True),
        T.StructField("status", T.StringType(), False),
    ]
)


def video_frame_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    idx_col: str = "sample_idxs",
) -> DataFrame:
    """Decode the SAMPLED frames of each multi-frame P6 stream.

    ``idx_col`` is an array<int> of frame indices (derive it JVM-side with
    F.sequence — the sampling decision never touches Python). The decoder
    walks each stream once up to the last wanted frame, decoding wanted
    frames and skipping others header-by-header (a real container would
    seek via its index instead); one output row per sampled frame.
    Corrupt streams emit error rows for their remaining wanted frames —
    errors stay data, never stage failures."""

    def _decode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in VIDEO_FRAME_SCHEMA.fields]
        for pdf in it:
            out = []
            for doc_id, payload, idxs in zip(
                pdf[id_col], pdf[payload_col], pdf[idx_col]
            ):
                # sorted(set(...)): a duplicate index would skip the
                # while-loop after the first decode advanced past it and
                # silently emit the NEXT frame's features under the
                # duplicated frame_idx with status ok
                wanted = sorted({int(i) for i in idxs})
                b = bytes(payload) if payload is not None else b""
                pos, cur = 0, 0
                for w_idx in wanted:
                    try:
                        while cur < w_idx:  # skip unwanted frames
                            _, pos = _parse_ppm_at(b, pos)
                            cur += 1
                        rgb, pos = _parse_ppm_at(b, pos)
                        cur += 1
                    except ValueError:
                        out.append((int(doc_id), w_idx, None, None, None,
                                    None, None, None, "error_corrupt"))
                        continue
                    h, w, _ = rgb.shape
                    out.append(
                        (int(doc_id), w_idx, int(w), int(h),
                         int(rgb[0, 0, 0]), float(rgb[..., 0].mean()),
                         float(rgb[..., 1].mean()), float(rgb[..., 2].mean()),
                         "ok")
                    )
            yield pd.DataFrame(out, columns=cols)

    return df.select(id_col, payload_col, idx_col).mapInPandas(
        _decode, VIDEO_FRAME_SCHEMA
    )


def frame_sample_plan(
    df: DataFrame,
    id_col: str = "doc_id",
    n_frames_col: str = "n_frames",
    every_k: int = 10,
) -> DataFrame:
    """Frame-sampling plan for video payloads: exploded (doc, frame_idx) rows
    for every k-th frame, JVM-side via sequence() — the decode of each
    sampled frame would then run through the mapInPandas boundary."""
    return df.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col(n_frames_col) - 1, F.lit(0)), F.lit(every_k))
        ).alias("frame_idx"),
    )
