"""Multimodal column handling: opaque binary payloads + typed metadata,
processed with Arrow-batched ``mapInPandas`` (driver mandate, SURVEY §2.12).

PNG images are decoded FOR REAL (``functions/png.py``, pure
stdlib zlib — ``text_as_png`` builds genuine PNG payloads and
``media_image_stats`` decompresses + unfilters them, oracle-checked
end-to-end), and so is PCM WAV audio (``functions/wav.py`` —
``value_as_wav`` builds genuine RIFF files, ``media_audio_stats``
chunk-walks and parses them, oracle-checked), and baseline JPEG
(``functions/jpeg.py`` — real DCT/Huffman/zigzag/DPCM marker machinery,
``text_as_jpeg`` builds genuine JPEGs whose block-constant fixtures make
the lossy path bit-exactly oracle-checkable). The container has no
video/compressed-audio codecs, so for those
formats the *decode* step is a deterministic stand-in (byte length +
md5) behind the same interface a real decoder would use; the Spark-side
plumbing — binary column, schema, batch iteration, partition behavior —
is real and oracle-checked. A real deployment swaps ``_decode_batch``'s
body for PIL/ffmpeg calls; nothing else changes.

Scale notes: mapInPandas streams Arrow batches (no per-row Python), media
payloads stay in executor memory one batch at a time, and feature
extraction parallelizes per partition — the standard 100 TB media-ETL
shape.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", IntegerType()),
        StructField("content_md5", StringType()),
    ]
)


def _decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Stub decoder: byte length + md5 of the payload.

    Replace the body with a real decode (image resize, audio resample,
    frame sampling) — the Arrow batch shape and output schema stay put.
    """
    for pdf in batches:
        payload = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": payload.map(len).astype("int32"),
                "content_md5": payload.map(lambda b: hashlib.md5(b).hexdigest()),
            }
        )


def media_features(df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id") -> DataFrame:
    """Extract features from a binary media column via mapInPandas."""
    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload"))
    return src.mapInPandas(_decode_batch, MEDIA_FEATURE_SCHEMA)


def text_as_media(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Treat utf-8 text bytes as an opaque media payload (the testdata has
    no binary column; this builds one deterministically)."""
    return df.select(
        F.col(id_col), F.encode(F.col(text_col), "utf-8").alias("payload")
    )


def media_features_arrow(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """mapInArrow twin of ``media_features``: operates on raw pyarrow
    RecordBatches with zero pandas materialization — the lowest-overhead
    Python execution shape (SURVEY §4's escape hatch), here producing
    byte-identical output to the pandas path so the oracle covers both."""
    import pyarrow as pa

    def _decode_arrow(batches):
        for batch in batches:
            ids = batch.column("doc_id")
            payloads = batch.column("payload").to_pylist()
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array([len(b) for b in payloads], type=pa.int32()),
                    pa.array([hashlib.md5(b).hexdigest() for b in payloads]),
                ],
                names=["doc_id", "n_bytes", "content_md5"],
            )

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload"))
    return src.mapInArrow(_decode_arrow, MEDIA_FEATURE_SCHEMA)


MEDIA_RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("orig_bytes", IntegerType()),
        StructField("resized_md5", StringType()),
    ]
)


def media_resize(
    df: DataFrame, target_bytes: int = 64, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Resize stub: tile-and-truncate every payload to exactly
    ``target_bytes`` (a real image resize replaces the tile step; the
    binary-in/binary-out Arrow plumbing is identical). Emits the md5 of
    the resized payload so the transform is value-checked end-to-end."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def one(b: bytes) -> str:
            if len(b) == 0:
                return hashlib.md5(b"").hexdigest()
            reps = (target_bytes + len(b) - 1) // len(b)
            return hashlib.md5((b * reps)[:target_bytes]).hexdigest()

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "orig_bytes": pdf["payload"].map(len).astype("int32"),
                    "resized_md5": pdf["payload"].map(one),
                }
            )

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload"))
    return src.mapInPandas(_resize, MEDIA_RESIZE_SCHEMA)


MEDIA_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_len", IntegerType()),
        StructField("frame_md5", StringType()),
    ]
)


def media_frame_sample(
    df: DataFrame,
    frame_bytes: int = 256,
    stride: int = 4,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Frame-sampling stub: emit every ``stride``-th fixed-size frame of
    the payload — a one-to-many mapInPandas (the real video shape: each
    input row fans out to multiple frame rows inside one Arrow batch)."""
    step = frame_bytes * stride

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, lens, md5s = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                i = 0
                while i * step < len(payload):
                    frame = payload[i * step : i * step + frame_bytes]
                    ids.append(doc_id)
                    idxs.append(i)
                    lens.append(len(frame))
                    md5s.append(hashlib.md5(frame).hexdigest())
                    i += 1
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_len": pd.Series(lens, dtype="int32"),
                    "frame_md5": pd.Series(md5s, dtype="object"),
                }
            )

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload"))
    return src.mapInPandas(_frames, MEDIA_FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# REAL image decode (round 4): pure-stdlib PNG codec, oracle-checked
# ---------------------------------------------------------------------------

PNG_SIDE = 16  # fixture image side; 16x16 grey = 256 pixels = 16 md5 digests

_PNG_PAYLOAD_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
    ]
)

MEDIA_IMAGE_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_pixels", LongType()),
        StructField("pixel_sum", LongType()),
        StructField("pixel_md5", StringType()),
    ]
)


def text_as_png(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """REAL PNG payloads, deterministically derived from text: pixel k of
    the 16x16 greyscale image is byte (k mod 16) of md5(text || ':' ||
    (k div 16)) — a definition BOTH engines can compute, which is what
    makes the decode below oracle-checkable without shipping image files
    in the testdata. The payloads are genuine PNGs (zlib-compressed,
    CRC-checked; any external viewer opens them)."""
    import numpy as np

    from pythonvectordb_spark.functions.png import png_encode

    side = PNG_SIDE
    n_digests = side * side // 16

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                png_encode(
                    np.frombuffer(
                        b"".join(
                            hashlib.md5(f"{text}:{i}".encode("utf-8")).digest()
                            for i in range(n_digests)
                        ),
                        dtype=np.uint8,
                    ).reshape(side, side)
                )
                for text in pdf["text"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    from pythonvectordb_spark.util import ensure_parallelism

    # one small parquet file = one core doing every codec call (guide
    # §2.5 input skew; round-10 optimization) - no-op at scale
    src = ensure_parallelism(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    )
    return src.mapInPandas(_build, _PNG_PAYLOAD_SCHEMA)


def media_image_stats(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """REAL image decode end-to-end: zlib-decompress + unfilter each PNG
    payload (functions/png.py) and report (dims, pixel sum, md5 of the
    pixel bytes' hex rendering). Against `text_as_png` payloads the DuckDB oracle
    recomputes the same stats straight from the pixel DEFINITION — so a
    codec bug (filter math, scanline layout, chunk parsing) breaks the
    value hash. This retires the "decode is a stand-in" marker for
    images (video and compressed audio are de-scoped, SURVEY §2.12)."""
    import numpy as np

    from pythonvectordb_spark.functions.png import png_decode

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, np_, sums, md5s = [], [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                arr = png_decode(bytes(payload))
                h, w = arr.shape[:2]
                ids.append(doc_id)
                ws.append(w)
                hs.append(h)
                np_.append(int(arr.size))
                sums.append(int(np.asarray(arr, dtype=np.int64).sum()))
                # digest of the HEX rendering (not raw bytes): SQL md5()
                # implementations hash strings, so this exact contract is
                # reproducible in any engine; same verification strength
                md5s.append(
                    hashlib.md5(arr.tobytes().hex().encode("ascii")).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "n_pixels": pd.Series(np_, dtype="int64"),
                    "pixel_sum": pd.Series(sums, dtype="int64"),
                    "pixel_md5": pd.Series(md5s, dtype="object"),
                }
            )

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload"))
    return src.mapInPandas(_stats, MEDIA_IMAGE_STATS_SCHEMA)


MEDIA_IMAGE_RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("out_width", IntegerType()),
        StructField("out_height", IntegerType()),
        StructField("resized_sum", LongType()),
        StructField("resized_md5", StringType()),
    ]
)


def media_image_resize(
    df: DataFrame, factor: int = 2, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """REAL image resize: decode each PNG payload, box-downsample by
    ``factor`` (mean of each factor x factor block, floor division —
    integer-exact, so any engine reproduces it), re-encode to PNG, then
    decode the re-encoded image for the reported stats — the round trip
    exercises BOTH codec directions on every row. Emits the resized
    dims, pixel sum, and digest of the resized pixels' hex rendering
    (same engine-portable digest contract as `media_image_stats`)."""
    import numpy as np

    from pythonvectordb_spark.functions.png import png_decode, png_encode

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, sums, md5s = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                arr = png_decode(bytes(payload))
                if arr.ndim != 2:
                    raise ValueError("media_image_resize expects greyscale")
                h, w = arr.shape
                oh, ow = h // factor, w // factor
                blocks = (
                    arr[: oh * factor, : ow * factor]
                    .reshape(oh, factor, ow, factor)
                    .astype(np.int64)
                )
                small = (blocks.sum(axis=(1, 3)) // (factor * factor)).astype(np.uint8)
                small = png_decode(png_encode(small))  # round-trip the output
                ids.append(doc_id)
                ws.append(ow)
                hs.append(oh)
                sums.append(int(small.astype(np.int64).sum()))
                md5s.append(
                    hashlib.md5(small.tobytes().hex().encode("ascii")).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "out_width": pd.Series(ws, dtype="int32"),
                    "out_height": pd.Series(hs, dtype="int32"),
                    "resized_sum": pd.Series(sums, dtype="int64"),
                    "resized_md5": pd.Series(md5s, dtype="object"),
                }
            )

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload"))
    return src.mapInPandas(_resize, MEDIA_IMAGE_RESIZE_SCHEMA)


_WAV_PAYLOAD_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
    ]
)

# closed-form sample definition (BOTH engines can compute it, which is
# what makes the decode oracle-checkable without shipping audio files):
#   n_samples   = 800 + doc_id % 400
#   sample_rate = 8000 + (doc_id % 3) * 4000
#   sample[i]   = (doc_id * 1103515245 + i * 12345) % 65536 - 32768
WAV_N_BASE, WAV_N_MOD = 800, 400
WAV_RATE_BASE, WAV_RATE_STEP = 8000, 4000
WAV_MUL_ID, WAV_MUL_I = 1103515245, 12345


def value_as_wav(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL WAV payloads, deterministically derived from the id via the
    closed-form integer sample definition above. The payloads are
    genuine RIFF/PCM files (the stdlib ``wave`` module and any audio
    tool opens them); lengths and sample rates vary per row so header
    parsing is load-bearing, not constant-folded."""
    import numpy as np

    from pythonvectordb_spark.functions.wav import wav_encode

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                n = WAV_N_BASE + did % WAV_N_MOD
                rate = WAV_RATE_BASE + (did % 3) * WAV_RATE_STEP
                i = np.arange(n, dtype=np.int64)
                s = (did * WAV_MUL_ID + i * WAV_MUL_I) % 65536 - 32768
                payloads.append(wav_encode(s.astype("<i2"), rate))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    src = df.select(F.col(id_col).alias("doc_id"))
    return src.mapInPandas(_build, _WAV_PAYLOAD_SCHEMA)


MEDIA_AUDIO_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("peak", IntegerType()),
        StructField("sum_sq", LongType()),
        StructField("pcm_md5", StringType()),
    ]
)


def media_audio_stats(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """REAL audio decode end-to-end: walk each WAV payload's RIFF chunks
    (functions/wav.py) and report (sample count, rate from the parsed
    header, integer peak amplitude, exact sum of squares, md5 of the PCM
    bytes' hex rendering). Against `value_as_wav` payloads the DuckDB
    oracle recomputes the same stats straight from the sample
    DEFINITION — a codec bug (chunk walk, header offsets, endianness)
    breaks the value hash. Together with `media_image_stats` this
    retires the audio half of the decode stand-in for uncompressed
    formats (compressed audio and video are de-scoped, SURVEY §2.12)."""
    import numpy as np

    from pythonvectordb_spark.functions.wav import wav_decode

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ns, rates, peaks, sums, md5s = [], [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, s = wav_decode(bytes(payload))
                s64 = s.astype(np.int64)
                ids.append(doc_id)
                ns.append(len(s))
                rates.append(rate)
                peaks.append(int(np.abs(s64).max()) if len(s) else 0)
                sums.append(int((s64 * s64).sum()))
                # hex rendering of the little-endian PCM bytes: the same
                # engine-portable digest contract as media_image_stats
                md5s.append(
                    hashlib.md5(s.tobytes().hex().encode("ascii")).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_samples": pd.Series(ns, dtype="int64"),
                    "sample_rate": pd.Series(rates, dtype="int32"),
                    "peak": pd.Series(peaks, dtype="int32"),
                    "sum_sq": pd.Series(sums, dtype="int64"),
                    "pcm_md5": pd.Series(md5s, dtype="object"),
                }
            )

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload"))
    return src.mapInPandas(_stats, MEDIA_AUDIO_STATS_SCHEMA)


MEDIA_AUDIO_RESAMPLE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("sum_sq", LongType()),
        StructField("pcm_md5", StringType()),
    ]
)


def media_audio_resample(
    df: DataFrame, factor: int = 2, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """REAL audio resample: decode each WAV payload, decimate by
    ``factor`` with an integer-exact box filter, re-encode at the
    reduced rate, then decode the re-encoded file for the reported
    stats — the round trip exercises BOTH codec directions on every
    row (the `media_image_resize` contract, applied to audio).

    The box mean is computed in the UNSIGNED domain (u = s + 32768,
    mean = floor(sum(u) / factor), back to signed): floor division of
    non-negative integers is truncation in every engine, whereas
    negative-operand integer division truncates in SQL but floors in
    Python — the shift to unsigned removes the discrepancy instead of
    papering over it. Trailing samples short of a full block drop
    (n_out = n_in // factor); the output rate is rate // factor."""
    import numpy as np

    from pythonvectordb_spark.functions.wav import wav_decode, wav_encode

    def _resample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ns, rates, sums, md5s = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, s = wav_decode(bytes(payload))
                n_out = len(s) // factor
                u = s[: n_out * factor].astype(np.int64) + 32768
                small = (
                    u.reshape(n_out, factor).sum(axis=1) // factor - 32768
                ).astype("<i2")
                out_rate = rate // factor
                rate2, back = wav_decode(wav_encode(small, out_rate))
                ids.append(doc_id)
                ns.append(len(back))
                rates.append(rate2)
                b64 = back.astype(np.int64)
                sums.append(int((b64 * b64).sum()))
                md5s.append(
                    hashlib.md5(back.tobytes().hex().encode("ascii")).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_samples": pd.Series(ns, dtype="int64"),
                    "sample_rate": pd.Series(rates, dtype="int32"),
                    "sum_sq": pd.Series(sums, dtype="int64"),
                    "pcm_md5": pd.Series(md5s, dtype="object"),
                }
            )

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload"))
    return src.mapInPandas(_resample, MEDIA_AUDIO_RESAMPLE_SCHEMA)


# ---------------------------------------------------------------- JPEG

JPEG_SIDE = 16  # 2x2 grid of 8x8 DCT blocks


def text_as_jpeg(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """REAL baseline-JPEG payloads, deterministically derived from text:
    the 16x16 greyscale image is a 2x2 grid of 8x8 blocks, block j
    (row-major) CONSTANT at byte j of md5(text). Constant blocks make
    the lossy DCT path bit-exactly predictable (functions/jpeg.py
    module docstring: decoded value = clamp(3*round((v-128)/3)+128)),
    so the decode below is oracle-checkable in pure integer SQL while
    the payloads remain genuine JPEGs — real DQT/DHT/SOF/SOS markers,
    canonical Huffman entropy coding, DPCM, zigzag — that any baseline
    decoder opens."""
    import numpy as np

    from pythonvectordb_spark.functions.jpeg import jpeg_encode

    side = JPEG_SIDE

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for text in pdf["text"]:
                d = hashlib.md5(str(text).encode("utf-8")).digest()
                arr = np.empty((side, side), dtype=np.uint8)
                arr[:8, :8] = d[0]
                arr[:8, 8:] = d[1]
                arr[8:, :8] = d[2]
                arr[8:, 8:] = d[3]
                payloads.append(jpeg_encode(arr))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    from pythonvectordb_spark.util import ensure_parallelism

    # one small parquet file = one core doing every codec call (guide
    # §2.5 input skew; round-10 optimization) - no-op at scale
    src = ensure_parallelism(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    )
    return src.mapInPandas(_build, _PNG_PAYLOAD_SCHEMA)


def media_jpeg_stats(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """REAL JPEG decode end-to-end: parse markers, rebuild the Huffman
    tables FROM the stream's DHT segments, entropy-decode, dequantize,
    IDCT (functions/jpeg.py) and report (dims, pixel sum, md5 of the
    pixel bytes' hex rendering — the same engine-portable digest
    contract as `media_image_stats`). Against `text_as_jpeg` payloads
    the DuckDB oracle recomputes the decoded pixels straight from the
    block-constant DEFINITION in integer arithmetic, so a codec bug
    anywhere in the marker/Huffman/zigzag/DPCM/IDCT pipeline breaks the
    value hash. This retires the 'JPEG is a stand-in' marker; only
    video and compressed audio stay de-scoped (SURVEY §2.12)."""
    import numpy as np

    from pythonvectordb_spark.functions.jpeg import jpeg_decode

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, np_, sums, md5s = [], [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                arr = jpeg_decode(bytes(payload))
                h, w = arr.shape
                ids.append(doc_id)
                ws.append(w)
                hs.append(h)
                np_.append(int(arr.size))
                sums.append(int(np.asarray(arr, dtype=np.int64).sum()))
                md5s.append(
                    hashlib.md5(arr.tobytes().hex().encode("ascii")).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "n_pixels": pd.Series(np_, dtype="int64"),
                    "pixel_sum": pd.Series(sums, dtype="int64"),
                    "pixel_md5": pd.Series(md5s, dtype="object"),
                }
            )

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload"))
    return src.mapInPandas(_stats, MEDIA_IMAGE_STATS_SCHEMA)


MEDIA_JPEG_ERROR_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("orig_sum", LongType()),
        StructField("within_bound", LongType()),
    ]
)

JPEG_ERR_BOUND = 48  # deterministic fixtures measure max 16-20; 48 = safe margin


def media_jpeg_roundtrip_error(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Lossy-codec quality guarantee (the `approx_percentile_error`
    pattern): build a full-noise 16x16 image from the md5 chain of the
    text (every pixel independent — the hardest case for a DCT codec),
    encode -> decode through the REAL JPEG pipeline, and emit the
    original pixel sum (recomputable by the oracle straight from the
    pixel definition) plus a max-absolute-reconstruction-error bound
    check. The fixture is deterministic, so the error is a fixed number
    per doc (measured max 21 across sf0.001+sf0.01; bound 48) — the oracle
    asserts the bound as constant 1, and the hash-matched `orig_sum`
    pins that the image the codec was fed is the one the oracle
    scored."""
    import numpy as np

    from pythonvectordb_spark.functions.jpeg import jpeg_decode, jpeg_encode

    side = JPEG_SIDE
    n_digests = side * side // 16

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sums, oks = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                arr = np.frombuffer(
                    b"".join(
                        hashlib.md5(f"{text}:{i}".encode("utf-8")).digest()
                        for i in range(n_digests)
                    ),
                    dtype=np.uint8,
                ).reshape(side, side)
                dec = jpeg_decode(jpeg_encode(arr))
                err = int(np.abs(dec.astype(np.int64) - arr.astype(np.int64)).max())
                ids.append(doc_id)
                sums.append(int(arr.astype(np.int64).sum()))
                oks.append(1 if err <= JPEG_ERR_BOUND else 0)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "orig_sum": pd.Series(sums, dtype="int64"),
                    "within_bound": pd.Series(oks, dtype="int64"),
                }
            )

    from pythonvectordb_spark.util import ensure_parallelism

    # one small parquet file = one core doing every codec call (guide
    # §2.5 input skew; round-10 optimization) - no-op at scale
    src = ensure_parallelism(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    )
    return src.mapInPandas(_run, MEDIA_JPEG_ERROR_SCHEMA)
