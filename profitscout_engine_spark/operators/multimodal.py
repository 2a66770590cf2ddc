"""Multimodal (binary-column) plumbing: opaque payload bytes + typed
metadata, with feature extraction as an Arrow-batched ``mapInPandas``
(SURVEY §7.2 Phase 5 — the image/audio/video pattern at 100 TB).

The pipeline is a REAL encode→decode round trip on a standard raster
format: each document is rendered into a P6 PPM image (binary magic,
ASCII header, packed RGB bytes — the simplest format every image stack
reads), the payload rides the scan/shuffle as an opaque ``binary``
column, and the decode step PARSES the header and reshapes the pixel
buffer inside the Arrow batch loop — geometry (width/height) comes from
the decoded header, never from the metadata struct, and the per-row
pixel features depend on the reshape being right. Heavy codecs
(JPEG/PNG/audio) aren't in this container; swapping one in changes only
the body of the shared decoder ``_ppm_decoder`` — schema, batching, and
partitioning are already exactly what a real codec needs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

FRAME_BYTES = 64  # "frame" stride for the frame-sample feature

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("byte_len", LongType()),
        StructField("mean_pixel", DoubleType()),
        StructField("row0_mean", DoubleType()),
        StructField("n_frames", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
    ]
)


def with_payload(docs: DataFrame) -> DataFrame:
    """Encode each document as a P6 PPM image payload + typed metadata.

    Geometry derives from ``n_chars``; the RGB plane is the document's
    ASCII bytes tiled to width×height×3 — all pure Column algebra, so the
    payload is deterministic and the oracle can re-derive every decoded
    feature from the text. The fixture is ASCII (length==n_chars), so
    string ops count bytes exactly.
    """
    w = (F.col("n_chars") % 64 + 1).cast("long")
    h = (F.col("n_chars") % 48 + 1).cast("long")
    needed = w * h * F.lit(3)
    reps = ((needed + F.col("n_chars") - 1) / F.col("n_chars")).cast("int")
    header = F.concat_ws(
        "", F.lit("P6\n"), w.cast("string"), F.lit(" "), h.cast("string"), F.lit("\n255\n")
    )
    body = F.expr("substring(repeat(text, _reps), 1, _needed)")
    return (
        docs.withColumn("_reps", reps)
        .withColumn("_needed", needed.cast("int"))
        .select(
            "doc_id",
            F.encode(F.concat(header, body), "UTF-8").alias("payload"),
            F.struct(
                F.lit("image/x-portable-pixmap").alias("format"),
                w.alias("width"),
                h.alias("height"),
            ).alias("meta"),
        )
    )


def _ppm_decoder():
    """The P6 parse-and-validate step of every image kernel:
    ``decode(doc_id, payload) -> (buf, img)`` with ``img`` the
    (height, width, 3) uint8 pixel array. A payload that is not P6, has a
    maxval other than 255, or whose pixel plane disagrees with its header
    raises. Built per call, so the returned function is nested and
    cloudpickle ships it by value with the batch closure that uses it."""

    def decode(doc_id, payload):
        import numpy as np

        buf = bytes(payload)
        if buf[:3] != b"P6\n":
            raise ValueError(f"doc {doc_id}: not a P6 PPM payload")
        nl_dims = buf.index(b"\n", 3)
        w_s, h_s = buf[3:nl_dims].split()
        w, h = int(w_s), int(h_s)
        nl_max = buf.index(b"\n", nl_dims + 1)
        maxval = int(buf[nl_dims + 1 : nl_max])
        if maxval != 255:
            raise ValueError(f"doc {doc_id}: unsupported maxval {maxval}")
        pix = np.frombuffer(buf, dtype=np.uint8, offset=nl_max + 1)
        if pix.size != w * h * 3:
            raise ValueError(f"doc {doc_id}: pixel plane {pix.size} != {w}x{h}x3")
        return buf, pix.reshape(h, w, 3)

    return decode


def decode_features(payloads: DataFrame) -> DataFrame:
    """Arrow-batched PPM decode over (doc_id, payload, meta).

    Parses the P6 header out of the raw bytes, reshapes the pixel buffer
    to (height, width, 3), and extracts pixel-plane features — a real
    decode, not byte stats: ``width``/``height`` come from the parsed
    header and ``row0_mean`` depends on the reshape geometry. Pixel sums
    are exact int64 sums, so the float means are bit-identical to the
    oracle's integer-average arithmetic.

    The decode fn is defined as a CLOSURE (not module-level) so
    cloudpickle ships it by value — executor Python workers don't share
    the driver's sys.path, and a by-reference pickle of a module
    function would make every worker re-import this package.
    """
    frame_bytes = FRAME_BYTES
    columns = [f.name for f in FEATURE_SCHEMA.fields]
    decode = _ppm_decoder()

    def decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf, img = decode(doc_id, payload)
                h, w, _ = img.shape
                rows.append(
                    (
                        doc_id,
                        len(buf),
                        float(img.sum(dtype=np.int64)) / img.size,
                        float(img[0].sum(dtype=np.int64)) / img[0].size,
                        len(buf) // frame_bytes,
                        w,
                        h,
                    )
                )
            yield pd.DataFrame(rows, columns=columns)

    return payloads.mapInPandas(decode_batch, schema=FEATURE_SCHEMA)


FRAME_SAMPLE_K = 4  # keep every K-th frame

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_mean", DoubleType()),
        StructField("first_byte", LongType()),
    ]
)

RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("new_width", LongType()),
        StructField("new_height", LongType()),
        StructField("resized_mean", DoubleType()),
    ]
)


def sample_frames(payloads: DataFrame) -> DataFrame:
    """Frame sampling over an opaque binary column: the payload is read as
    consecutive FRAME_BYTES-byte frames (the video-bitstream model: fixed
    stride, header included) and every FRAME_SAMPLE_K-th frame is emitted
    as its own row with per-frame statistics. One Arrow batch pass, output
    rows ≈ input_bytes/(FRAME_BYTES·FRAME_SAMPLE_K) — the decimation step
    a video pipeline runs before expensive per-frame inference. Means are
    exact int64 sums over 64 bytes divided once, so the oracle replays
    them."""
    frame_bytes, step = FRAME_BYTES, FRAME_SAMPLE_K

    def sample_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out: list[tuple[int, int, float, int]] = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = np.frombuffer(bytes(payload), dtype=np.uint8)
                n_frames = buf.size // frame_bytes
                frames = buf[: n_frames * frame_bytes].reshape(n_frames, frame_bytes)
                for idx in range(0, n_frames, step):
                    fr = frames[idx]
                    out.append(
                        (
                            doc_id,
                            idx,
                            float(fr.sum(dtype=np.int64)) / frame_bytes,
                            int(fr[0]),
                        )
                    )
            yield pd.DataFrame(out, columns=[f.name for f in FRAME_SCHEMA.fields])

    return payloads.mapInPandas(sample_batch, schema=FRAME_SCHEMA)


def resize_nearest(payloads: DataFrame) -> DataFrame:
    """Nearest-neighbor 2× downscale of the decoded P6 image: parse the
    header, reshape to (h, w, 3), keep every second row and column, and
    report the resized geometry + mean. The resize itself is the real
    array operation (strided view, no copy); only the summary rides out
    so the oracle can replay it from the source bytes. The shape an
    image-preprocessing stage (thumbnailing before feature extraction)
    takes over binary columns."""
    decode = _ppm_decoder()

    def resize_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _, img = decode(doc_id, payload)
                small = img[::2, ::2]  # strided nearest-neighbor view
                rows.append(
                    (
                        doc_id,
                        small.shape[1],
                        small.shape[0],
                        float(small.sum(dtype=np.int64)) / small.size,
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in RESIZE_SCHEMA.fields])

    return payloads.mapInPandas(resize_batch, schema=RESIZE_SCHEMA)


AUDIO_WIN = 64  # PCM samples per analysis window


def audio_rms_windows(pcm: DataFrame) -> DataFrame:
    """Arrow-batched windowed audio analysis over (doc_id, payload) where
    the payload is raw unsigned-8-bit PCM: full AUDIO_WIN-sample windows
    get an exact integer sum-of-squares (→ RMS) and peak amplitude. The
    kernel is the audio member of the multimodal family — same opaque-
    binary + mapInPandas plumbing as the PPM decode, one output row per
    window. Defined as a closure for by-value cloudpickle shipping.
    """
    win = AUDIO_WIN

    def analyze(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            doc_ids, win_ids, sumsqs, peaks = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                samples = np.frombuffer(bytes(payload), dtype=np.uint8)
                n_full = len(samples) // win
                for w in range(n_full):
                    seg = samples[w * win : (w + 1) * win].astype(np.int64)
                    doc_ids.append(doc_id)
                    win_ids.append(w)
                    sumsqs.append(int((seg * seg).sum()))
                    peaks.append(int(seg.max()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_ids, dtype="int64"),
                    "win_id": pd.Series(win_ids, dtype="int64"),
                    "sumsq": pd.Series(sumsqs, dtype="int64"),
                    "peak": pd.Series(peaks, dtype="int64"),
                }
            )

    return pcm.mapInPandas(
        analyze, "doc_id long, win_id long, sumsq long, peak long"
    )


DHASH_GRID_W = 9  # sample columns (8 horizontal comparisons per row)
DHASH_GRID_H = 8  # sample rows; rows pair into 4 x 16-bit bands

DHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("b0", LongType()),
        StructField("b1", LongType()),
        StructField("b2", LongType()),
        StructField("b3", LongType()),
    ]
)


def dhash_bands(payloads: DataFrame) -> DataFrame:
    """Perceptual difference-hash (dHash) of the decoded P6 image,
    emitted directly as FOUR 16-bit band integers — the LSH-ready
    representation (the bands ARE the join keys; no 64-bit assembly, so
    no signed-overflow edge on either engine).

    Decode parses the header and reshapes to (h, w, 3); grayscale is the
    exact integer channel sum r+g+b; the image is nearest-neighbor
    sampled onto a 9x8 grid with the floor index map src = i * dim //
    grid (pure integers, any input geometry); bit (y, x) = 1 iff
    gray[y, x] > gray[y, x+1]; band b packs rows 2b and 2b+1 LSB-first:
    k = (y % 2) * 8 + x. Every step is integer arithmetic on decoded
    bytes, so the oracle replays it bit-for-bit from the source text.
    """
    columns = [f.name for f in DHASH_SCHEMA.fields]
    gw, gh = DHASH_GRID_W, DHASH_GRID_H
    decode = _ppm_decoder()

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _, img = decode(doc_id, payload)
                h, w, _ = img.shape
                gray = img.astype(np.int64).sum(axis=2)  # exact r+g+b
                ys = np.arange(gh) * h // gh
                xs = np.arange(gw) * w // gw
                grid = gray[np.ix_(ys, xs)]
                bits = (grid[:, :-1] > grid[:, 1:]).astype(np.int64)  # (8, 8)
                weights = 1 << np.arange(gw - 1, dtype=np.int64)
                row_words = bits @ weights  # LSB-first per row
                bands = [
                    int(row_words[2 * b] + (row_words[2 * b + 1] << 8))
                    for b in range(gh // 2)
                ]
                rows.append((doc_id, *bands))
            yield pd.DataFrame(rows, columns=columns)

    return payloads.mapInPandas(hash_batch, schema=DHASH_SCHEMA)
