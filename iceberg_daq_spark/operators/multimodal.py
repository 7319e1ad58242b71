"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The reference's data plane already treats detector payloads as opaque
binary envelopes with typed metadata around them (WIB frame payloads,
SURVEY section 1.1.2; HDF5 blobs, section 1.1.4).  This module
generalizes that envelope to media blobs for LLM-pipeline workloads:

    (id, payload: binary, meta: struct<format,width,height,channels,...>)

All heavy work runs in Arrow-batched ``mapInPandas`` - numpy over whole
record batches, never per-row Python - so the same plumbing scales to a
real cluster: payloads stay in executor memory, nothing collects to the
driver, and partitioning by id carries through.

Container caveat: no image/audio codec LIBRARIES are installed, so the
bulk-synthesis codec is a deterministic fake format ("FIMG"/"FAUD":
header + raw array) generated from the documents table, and
``decode_external`` routes real formats to PIL / soundfile / av when
importable.  Two REAL decode paths run with no codec library at all -
16-bit PCM WAV via the stdlib ``wave`` module and binary PPM (P6) via
a pure-numpy parser - so the real-codec plumbing (same mapInArrow
batches, same output schemas) executes and is asserted in-container;
JPEG/PNG/FLAC/OGG/MP4 raise NotImplementedError when their library is
absent rather than silently faking.
"""

from __future__ import annotations

import struct as _struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# fake format magic tags (4 bytes) + little-endian u16 dims header
_IMG_MAGIC = b"FIMG"  # u16 width, u16 height, u16 channels, then u8 pixels
_AUD_MAGIC = b"FAUD"  # u32 n_samples, u16 rate_hz/100, then s16 PCM
_VID_MAGIC = b"FVID"  # u16 n_frames, u16 width, u16 height, then u8 frames

META_SCHEMA = T.StructType(
    [
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin the (doc_id, n_chars) input across the full core
    count before blob synthesis: the local single-file parquet scan
    yields 1-2 partitions, which would serialize every numpy stage
    downstream (synth -> decode -> resize all inherit the partitioning
    through mapInPandas).  On a cluster the same call spreads a skewed
    scan; the shuffled rows are two scalars each, so the exchange is
    noise next to the per-blob work."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


def _img_dims(doc_id: np.ndarray, n_chars: np.ndarray):
    """Deterministic image dims from document columns (oracle-reproducible):
    width 8..39, height 8..23, channels 1 or 3."""
    width = (n_chars % 32 + 8).astype(np.int64)
    height = (doc_id % 16 + 8).astype(np.int64)
    channels = np.where(doc_id % 2 == 0, 3, 1).astype(np.int64)
    return width, height, channels


def synth_image_blobs(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload, meta): deterministic fake images.

    Pixel (i) = (doc_id * 31 + i * 7) % 251 - pure arithmetic, so any
    downstream stat has a closed form the tests can verify without a
    codec library.
    """
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("meta", META_SCHEMA),
        ]
    )

    def gen(batches):
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            doc_id = rb.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            n_chars = rb.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
            w, h, c = _img_dims(doc_id, n_chars)
            n_px = w * h * c
            blob_len = 10 + n_px
            ends = np.cumsum(blob_len)
            starts = ends - blob_len
            total = int(ends[-1])
            # one buffer for the whole batch: headers via strided
            # scatter, pixels via a single arithmetic fill - the
            # per-row bytes-building loop was the hot spot
            buf = np.zeros(total, dtype=np.uint8)
            magic = np.frombuffer(_IMG_MAGIC, dtype=np.uint8)
            for j in range(4):
                buf[starts + j] = magic[j]
            for k, arr in enumerate((w, h, c)):
                buf[starts + 4 + 2 * k] = (arr & 0xFF).astype(np.uint8)
                buf[starts + 5 + 2 * k] = ((arr >> 8) & 0xFF).astype(np.uint8)
            px_off = np.cumsum(n_px) - n_px
            local = np.arange(int(n_px.sum()), dtype=np.int64) - np.repeat(
                px_off, n_px
            )
            px = (np.repeat(doc_id, n_px) * 31 + local * 7) % 251
            buf[np.repeat(starts + 10, n_px) + local] = px.astype(np.uint8)
            yield from _blob_batches(doc_id, buf, starts, ends, "fimg", w, h, c,
                                     np.ones(n, dtype=np.int64), blob_len)

    return _spread(docs.select("doc_id", "n_chars")).mapInArrow(gen, out_schema)


# Arrow's plain binary type carries int32 value offsets, so one
# RecordBatch's packed payload must stay under 2^31-1 bytes; larger
# inputs are split at row boundaries rather than silently wrapped.
_MAX_BATCH_PAYLOAD = 2**31 - 1


def _require_magic(buf: np.ndarray, offsets: np.ndarray, magic: bytes) -> None:
    """Raise ValueError unless every payload of a packed Arrow binary
    buffer (row i spans ``offsets[i]:offsets[i + 1]``) starts with the
    format ``magic``: a payload of another format would otherwise
    decode as garbage, or be rewritten as a valid-looking image."""
    starts = offsets[:-1]
    if (offsets[1:] - starts < len(magic)).any():
        raise ValueError(f"payload shorter than the {magic.decode()} magic")
    for j, b in enumerate(magic):
        if (buf[starts + j] != b).any():
            raise ValueError(f"not {magic.decode()} payloads")


def _payload_chunks(starts, ends):
    """Row-range chunks [(lo, hi), ...] such that each chunk's packed
    payload bytes fit Arrow int32 binary offsets."""
    n = len(starts)
    chunks = []
    lo = 0
    while lo < n:
        hi = int(np.searchsorted(ends, int(starts[lo]) + _MAX_BATCH_PAYLOAD, "right"))
        hi = max(hi, lo + 1)
        if int(ends[hi - 1] - starts[lo]) > _MAX_BATCH_PAYLOAD:
            raise ValueError(
                "single payload exceeds the 2 GiB Arrow binary value limit"
            )
        chunks.append((lo, hi))
        lo = hi
    return chunks


def _payload_array(buf, starts, ends, lo, hi):
    """Arrow binary array for rows [lo, hi) of a packed buffer, offsets
    rebased to the chunk (guaranteed < 2^31 by _payload_chunks)."""
    import pyarrow as pa

    base = int(starts[lo])
    offsets = np.empty(hi - lo + 1, dtype=np.int32)
    offsets[:-1] = starts[lo:hi] - base
    offsets[-1] = int(ends[hi - 1]) - base
    return pa.Array.from_buffers(
        pa.binary(),
        hi - lo,
        [
            None,
            pa.py_buffer(offsets.tobytes()),
            pa.py_buffer(buf[base : int(ends[hi - 1])].tobytes()),
        ],
    )


def _blob_batches(doc_id, buf, starts, ends, fmt, w, h, c, n_frames, n_bytes):
    """Assemble (doc_id, payload, meta) Arrow batches from a packed
    payload buffer without materializing per-row bytes objects; splits
    into multiple batches when the payload would overflow int32 Arrow
    offsets (>2 GiB per batch)."""
    import pyarrow as pa

    for lo, hi in _payload_chunks(starts, ends):
        payload = _payload_array(buf, starts, ends, lo, hi)
        meta = pa.StructArray.from_arrays(
            [
                pa.array([fmt] * (hi - lo)),
                pa.array(w[lo:hi].astype(np.int32), type=pa.int32()),
                pa.array(h[lo:hi].astype(np.int32), type=pa.int32()),
                pa.array(c[lo:hi].astype(np.int32), type=pa.int32()),
                pa.array(n_frames[lo:hi].astype(np.int32), type=pa.int32()),
                pa.array(n_bytes[lo:hi].astype(np.int64), type=pa.int64()),
            ],
            names=["format", "width", "height", "channels", "n_frames", "n_bytes"],
        )
        yield pa.RecordBatch.from_arrays(
            [pa.array(doc_id[lo:hi], type=pa.int64()), payload, meta],
            names=["doc_id", "payload", "meta"],
        )


_IMG_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("mean_px", T.DoubleType()),
        T.StructField("max_px", T.IntegerType()),
        T.StructField("min_px", T.IntegerType()),
    ]
)


def decode_image_stats(blobs: DataFrame) -> DataFrame:
    """Parse the FIMG header + compute per-image pixel stats - the
    feature-extract step of an image pipeline.

    mapInArrow with ragged-batch vectorization: all payloads of an
    Arrow batch are ONE contiguous buffer (binary array values), so
    headers decode with a strided view and the per-image mean/max/min
    reduce via ``np.add/maximum/minimum.reduceat`` over pixel-run
    offsets - no per-row Python loop, which dominated this operator's
    wall clock before."""

    def stats(batches):
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            pay = rb.column(rb.schema.names.index("payload"))
            off_dtype = np.int64 if pa.types.is_large_binary(pay.type) else np.int32
            offsets = np.frombuffer(pay.buffers()[1], dtype=off_dtype)[
                pay.offset : pay.offset + n + 1
            ].astype(np.int64)
            buf = np.frombuffer(pay.buffers()[2], dtype=np.uint8)
            starts, ends = offsets[:-1], offsets[1:]
            _require_magic(buf, offsets, _IMG_MAGIC)

            # <HHH header: little-endian u16 triplets at bytes 4..10
            def u16(at: np.ndarray) -> np.ndarray:
                return buf[at].astype(np.int32) | (buf[at + 1].astype(np.int32) << 8)

            w, h, c = u16(starts + 4), u16(starts + 6), u16(starts + 8)
            px_starts = starts + 10
            # interleaved [px_start, end) boundaries so each segment is
            # exactly one image's pixel run (a plain reduceat over
            # px_starts would swallow the next image's header); the
            # final end == clipped buffer length stays implicit
            # (reduceat rejects an index == len)
            clipped = buf[: ends[-1]]
            idx = np.empty(2 * n, dtype=np.int64)
            idx[0::2] = px_starts
            idx[1::2] = ends
            idx = idx[:-1]
            mean = np.add.reduceat(clipped.astype(np.float64), idx)[::2] / (
                ends - px_starts
            )
            mx = np.maximum.reduceat(clipped, idx)[::2]
            mn = np.minimum.reduceat(clipped, idx)[::2]
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(rb.schema.names.index("doc_id")),
                    pa.array(w, type=pa.int32()),
                    pa.array(h, type=pa.int32()),
                    pa.array(c, type=pa.int32()),
                    pa.array(mean),
                    pa.array(mx.astype(np.int32), type=pa.int32()),
                    pa.array(mn.astype(np.int32), type=pa.int32()),
                ],
                names=[
                    "doc_id", "width", "height", "channels",
                    "mean_px", "max_px", "min_px",
                ],
            )

    return blobs.mapInArrow(stats, _IMG_STATS_SCHEMA)


def resize_images(blobs: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize to (out_w, out_h), emitting new FIMG
    payloads - the resize stage of an image pipeline, numpy indexing per
    Arrow batch (a codec library would swap in at the marked line)."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("meta", META_SCHEMA),
        ]
    )

    def resize(batches):
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            names = rb.schema.names
            doc_id = (
                rb.column(names.index("doc_id"))
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            pay = rb.column(names.index("payload"))
            off_dtype = np.int64 if pa.types.is_large_binary(pay.type) else np.int32
            offsets = np.frombuffer(pay.buffers()[1], dtype=off_dtype)[
                pay.offset : pay.offset + n + 1
            ].astype(np.int64)
            buf = np.frombuffer(pay.buffers()[2], dtype=np.uint8)
            _require_magic(buf, offsets, _IMG_MAGIC)
            starts = offsets[:-1]

            def u16(at: np.ndarray) -> np.ndarray:
                return buf[at].astype(np.int64) | (buf[at + 1].astype(np.int64) << 8)

            w, h, c = u16(starts + 4), u16(starts + 6), u16(starts + 8)
            px_starts = starts + 10

            out_px = out_w * out_h * c
            blob_len = 10 + out_px
            ends_o = np.cumsum(blob_len)
            starts_o = ends_o - blob_len
            total = int(ends_o[-1])
            out_buf = np.zeros(total, dtype=np.uint8)
            magic = np.frombuffer(_IMG_MAGIC, dtype=np.uint8)
            for j in range(4):
                out_buf[starts_o + j] = magic[j]
            for k, arr in enumerate(
                (np.full(n, out_w, dtype=np.int64), np.full(n, out_h, dtype=np.int64), c)
            ):
                out_buf[starts_o + 4 + 2 * k] = (arr & 0xFF).astype(np.uint8)
                out_buf[starts_o + 5 + 2 * k] = ((arr >> 8) & 0xFF).astype(np.uint8)
            # nearest-neighbor gather, vectorized per channel-count
            # group (c is 1 or 3; within a group every output has the
            # same size, so the whole gather is one fancy index)
            for cv in np.unique(c):
                m = c == cv
                hg, wg = h[m], w[m]
                yi = (np.arange(out_h, dtype=np.int64)[None, :] * hg[:, None]) // out_h
                xi = (np.arange(out_w, dtype=np.int64)[None, :] * wg[:, None]) // out_w
                li = (
                    yi[:, :, None] * wg[:, None, None] + xi[:, None, :]
                )[:, :, :, None] * cv + np.arange(cv, dtype=np.int64)[
                    None, None, None, :
                ]
                gathered = buf[px_starts[m][:, None, None, None] + li]
                tgt = starts_o[m][:, None] + 10 + np.arange(
                    out_h * out_w * int(cv), dtype=np.int64
                )[None, :]
                out_buf[tgt] = gathered.reshape(int(m.sum()), -1)
            yield from _blob_batches(
                doc_id, out_buf, starts_o, ends_o, "fimg",
                np.full(n, out_w, dtype=np.int64),
                np.full(n, out_h, dtype=np.int64),
                c, np.ones(n, dtype=np.int64), blob_len,
            )

    return blobs.mapInArrow(resize, out_schema)


def synth_video_blobs(docs: DataFrame, frame_w: int = 8, frame_h: int = 8) -> DataFrame:
    """documents -> fake FVID payloads: n_frames = n_chars % 24 + 4
    frames of frame_w x frame_h u8 pixels (frame f pixel i =
    (doc_id + f * 13 + i) % 251)."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("meta", META_SCHEMA),
        ]
    )
    fsz = frame_w * frame_h

    def gen(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            doc_id = rb.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            n_chars = rb.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
            nf = n_chars % 24 + 4
            n_px = nf * fsz
            blob_len = 10 + n_px
            ends = np.cumsum(blob_len)
            starts = ends - blob_len
            total = int(ends[-1])
            buf = np.zeros(total, dtype=np.uint8)
            magic = np.frombuffer(_VID_MAGIC, dtype=np.uint8)
            for j in range(4):
                buf[starts + j] = magic[j]
            for k, arr in enumerate(
                (nf, np.full(n, frame_w, dtype=np.int64), np.full(n, frame_h, dtype=np.int64))
            ):
                buf[starts + 4 + 2 * k] = (arr & 0xFF).astype(np.uint8)
                buf[starts + 5 + 2 * k] = ((arr >> 8) & 0xFF).astype(np.uint8)
            px_off = np.cumsum(n_px) - n_px
            local = np.arange(int(n_px.sum()), dtype=np.int64) - np.repeat(px_off, n_px)
            px = (
                np.repeat(doc_id, n_px) + (local // fsz) * 13 + (local % fsz)
            ) % 251
            buf[np.repeat(starts + 10, n_px) + local] = px.astype(np.uint8)
            yield from _blob_batches(
                doc_id, buf, starts, ends, "fvid",
                np.full(n, frame_w, dtype=np.int64),
                np.full(n, frame_h, dtype=np.int64),
                np.ones(n, dtype=np.int64), nf, blob_len,
            )

    return _spread(docs.select("doc_id", "n_chars")).mapInArrow(gen, out_schema)


_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
        T.StructField("mean_px", T.DoubleType()),
    ]
)


def sample_video_frames(blobs: DataFrame, every_k: int = 5) -> DataFrame:
    """Frame sampling: explode every k-th frame of each FVID payload to
    its own row (the clip/keyframe-extraction stage).  One input row
    fans out to ceil(n_frames / k) rows; partitioning by doc_id is
    preserved through mapInPandas (no shuffle)."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, blob in zip(pdf["doc_id"].to_numpy(), pdf["payload"]):
                if bytes(blob[:4]) != _VID_MAGIC:
                    raise ValueError("not a FVID payload")
                nf, w, h = _struct.unpack("<HHH", bytes(blob[4:10]))
                fsz = w * h
                px = np.frombuffer(blob, dtype=np.uint8, offset=10)
                for f in range(0, nf, every_k):
                    frame = px[f * fsz : (f + 1) * fsz]
                    rows.append(
                        {
                            "doc_id": d,
                            "frame_no": f,
                            "n_frames": nf,
                            "frame": frame.tobytes(),
                            "mean_px": float(frame.mean()),
                        }
                    )
            if rows:
                yield pd.DataFrame(rows)

    return blobs.mapInPandas(sample, _FRAME_SCHEMA)


def synth_audio_blobs(docs: DataFrame, rate_hz: int = 16000) -> DataFrame:
    """documents -> fake FAUD payloads: n_chars*4 samples of s16 PCM,
    sample i = ((doc_id * 7 + i * 11) % 4001) - 2000."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("n_samples", T.IntegerType()),
            T.StructField("rate_hz", T.IntegerType()),
        ]
    )

    def gen(batches):
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            doc_id = rb.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            n_chars = rb.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
            ns = n_chars * 4
            blob_len = 10 + 2 * ns
            ends = np.cumsum(blob_len)
            starts = ends - blob_len
            total = int(ends[-1])
            buf = np.zeros(total, dtype=np.uint8)
            magic = np.frombuffer(_AUD_MAGIC, dtype=np.uint8)
            for j in range(4):
                buf[starts + j] = magic[j]
            # <IH header: u32 n_samples, u16 rate/100 (little-endian)
            for j in range(4):
                buf[starts + 4 + j] = ((ns >> (8 * j)) & 0xFF).astype(np.uint8)
            r = rate_hz // 100
            buf[starts + 8] = r & 0xFF
            buf[starts + 9] = (r >> 8) & 0xFF
            s_off = np.cumsum(ns) - ns
            ls = np.arange(int(ns.sum()), dtype=np.int64) - np.repeat(s_off, ns)
            pcm = ((np.repeat(doc_id, ns) * 7 + ls * 11) % 4001) - 2000
            # s16 little-endian scatter: two's-complement low/high bytes
            pos = np.repeat(starts + 10, ns) + 2 * ls
            buf[pos] = (pcm & 0xFF).astype(np.uint8)
            buf[pos + 1] = ((pcm >> 8) & 0xFF).astype(np.uint8)
            for lo, hi in _payload_chunks(starts, ends):
                payload = _payload_array(buf, starts, ends, lo, hi)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(doc_id[lo:hi], type=pa.int64()),
                        payload,
                        pa.array(ns[lo:hi].astype(np.int32), type=pa.int32()),
                        pa.array(
                            np.full(hi - lo, rate_hz, dtype=np.int32),
                            type=pa.int32(),
                        ),
                    ],
                    names=["doc_id", "payload", "n_samples", "rate_hz"],
                )

    return _spread(docs.select("doc_id", "n_chars")).mapInArrow(gen, out_schema)


_AUD_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.IntegerType()),
    ]
)


def decode_audio_stats(blobs: DataFrame) -> DataFrame:
    """PCM decode + loudness features (duration, RMS, peak) per blob.

    Vectorized over the Arrow batch: samples decode with little-endian
    byte arithmetic (alignment-agnostic - payload starts inside the
    Arrow values buffer need not be 2-byte aligned) and the per-blob
    sum-of-squares / peak reduce via ``reduceat`` over the contiguous
    concatenated sample stream.  Integer sum of squares stays exact in
    float64 (< 2^53), so the sqrt-of-ratio is summation-order-free and
    bit-stable across engines, same as the per-row form it replaces."""

    def stats(batches):
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            names = rb.schema.names
            pay = rb.column(names.index("payload"))
            off_dtype = np.int64 if pa.types.is_large_binary(pay.type) else np.int32
            offsets = np.frombuffer(pay.buffers()[1], dtype=off_dtype)[
                pay.offset : pay.offset + n + 1
            ].astype(np.int64)
            buf = np.frombuffer(pay.buffers()[2], dtype=np.uint8)
            starts = offsets[:-1]
            _require_magic(buf, offsets, _AUD_MAGIC)
            ns = np.zeros(n, dtype=np.int64)
            for j in range(4):
                ns |= buf[starts + 4 + j].astype(np.int64) << (8 * j)
            rate100 = buf[starts + 8].astype(np.int64) | (
                buf[starts + 9].astype(np.int64) << 8
            )
            s_off = np.cumsum(ns) - ns
            pos = np.repeat(starts + 10, ns) + 2 * (
                np.arange(int(ns.sum()), dtype=np.int64) - np.repeat(s_off, ns)
            )
            pcm = buf[pos].astype(np.int32) | (
                buf[pos + 1].view(np.int8).astype(np.int32) << 8
            )
            sq = pcm.astype(np.float64) ** 2
            # reduceat only over rows with samples: a repeated boundary
            # index (ns==0) would return the NEXT blob's first sample,
            # not an empty reduction - mask those rows to rms=0, peak=0
            nz = ns > 0
            sumsq = np.zeros(n, dtype=np.float64)
            peak = np.zeros(n, dtype=np.int64)
            if nz.any():
                sumsq[nz] = np.add.reduceat(sq, s_off[nz])
                peak[nz] = np.maximum.reduceat(np.abs(pcm), s_off[nz])
            rms = np.sqrt(sumsq / np.where(nz, ns, 1))
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(names.index("doc_id")),
                    pa.array(ns.astype(np.int32), type=pa.int32()),
                    pa.array(ns / (rate100 * 100.0)),
                    pa.array(rms),
                    pa.array(peak.astype(np.int32), type=pa.int32()),
                ],
                names=["doc_id", "n_samples", "duration_s", "rms", "peak"],
            )

    return blobs.mapInArrow(stats, _AUD_STATS_SCHEMA)


_IMAGE_FMTS = ("jpeg", "png", "ppm")
_AUDIO_FMTS = ("wav", "flac", "ogg")
_VIDEO_FMTS = ("mp4", "mkv", "webm")


def decode_external(blobs: DataFrame, fmt: str, every_k: int = 5) -> DataFrame:
    """Real-codec decode through the same distributed plumbing and
    output schemas as the fake-format operators, gated on import so
    the module never *requires* a codec library (this container ships
    none, in which case each family raises NotImplementedError rather
    than silently faking):

      jpeg/png       PIL        -> :data:`_IMG_STATS_SCHEMA`
                                   (decode_image_stats twin)
      ppm            PIL or the pure-numpy P6 parser below - a REAL
                                   image decode that runs in
                                   codec-free containers
      wav/flac/ogg   soundfile  -> :data:`_AUD_STATS_SCHEMA`
                                   (decode_audio_stats twin; rms/peak
                                   in int16 PCM units, multichannel
                                   stats over all channels, n_samples
                                   = frames); 16-bit PCM WAV decodes
                                   via the stdlib ``wave`` module when
                                   soundfile is absent
      mp4/mkv/webm   av         -> :data:`_FRAME_SCHEMA`
                                   (sample_video_frames twin: every
                                   ``every_k``-th frame as raw RGB24
                                   bytes + its mean pixel)

    Same mapInArrow plumbing as the fake-format paths - payloads stay
    in executor memory as one Arrow buffer per batch; only the
    per-blob parse is the codec's C decoder (necessarily per-blob:
    compressed streams aren't batch-decodable)."""
    if fmt in _AUDIO_FMTS:
        return _decode_external_audio(blobs, fmt)
    if fmt in _VIDEO_FMTS:
        return _decode_external_video(blobs, every_k)
    if fmt not in _IMAGE_FMTS:
        raise NotImplementedError(
            f"format={fmt!r}: known real-codec formats are "
            f"{_IMAGE_FMTS + _AUDIO_FMTS + _VIDEO_FMTS}"
        )
    try:
        import PIL.Image  # noqa: F401
    except ImportError as exc:
        if fmt == "ppm":
            return _decode_ppm_numpy(blobs)
        raise NotImplementedError(
            f"no codec library available in this environment for format={fmt!r}; "
            "install pillow to enable the real decode path"
        ) from exc

    def stats(batches):
        import io

        import pyarrow as pa
        from PIL import Image

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            names = rb.schema.names
            pay = rb.column(names.index("payload"))
            w = np.empty(n, dtype=np.int32)
            h = np.empty(n, dtype=np.int32)
            c = np.empty(n, dtype=np.int32)
            mean = np.empty(n, dtype=np.float64)
            mx = np.empty(n, dtype=np.int32)
            mn = np.empty(n, dtype=np.int32)
            for i in range(n):
                arr = np.asarray(Image.open(io.BytesIO(pay[i].as_py())))
                if arr.ndim == 2:
                    arr = arr[:, :, None]
                h[i], w[i], c[i] = arr.shape
                mean[i] = float(arr.mean())
                mx[i] = int(arr.max())
                mn[i] = int(arr.min())
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(names.index("doc_id")),
                    pa.array(w, type=pa.int32()),
                    pa.array(h, type=pa.int32()),
                    pa.array(c, type=pa.int32()),
                    pa.array(mean),
                    pa.array(mx, type=pa.int32()),
                    pa.array(mn, type=pa.int32()),
                ],
                names=[
                    "doc_id", "width", "height", "channels",
                    "mean_px", "max_px", "min_px",
                ],
            )

    return blobs.mapInArrow(stats, _IMG_STATS_SCHEMA)


def _parse_ppm_p6(buf: bytes) -> "np.ndarray":
    """Binary PPM (P6) to an (h, w, 3) uint8 array - the whole format
    is a 3-token ASCII header (magic, dims, maxval, '#' comments
    allowed) followed by raw RGB bytes, so a real decode needs only
    numpy.  maxval must be <= 255 (1-byte samples)."""
    if not buf.startswith(b"P6"):
        raise ValueError("not a binary PPM (P6) payload")
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(buf) and buf[pos : pos + 1].isspace():
            pos += 1
        if buf[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(buf) and buf[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(buf) and not buf[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(buf[start:pos]))
    pos += 1  # single whitespace after maxval, then raw samples
    w, h, maxval = tokens
    if maxval > 255:
        raise ValueError(f"2-byte PPM samples unsupported (maxval={maxval})")
    need = w * h * 3
    data = np.frombuffer(buf, dtype=np.uint8, count=need, offset=pos)
    return data.reshape(h, w, 3)


def _decode_ppm_numpy(blobs: DataFrame) -> DataFrame:
    """Real PPM (P6) image decode with numpy only - the dependency-free
    twin of the PIL stats path, byte-identical output on the same
    files (PIL parses the same header and yields the same array)."""

    def stats(batches):
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            names = rb.schema.names
            pay = rb.column(names.index("payload"))
            w = np.empty(n, dtype=np.int32)
            h = np.empty(n, dtype=np.int32)
            c = np.empty(n, dtype=np.int32)
            mean = np.empty(n, dtype=np.float64)
            mx = np.empty(n, dtype=np.int32)
            mn = np.empty(n, dtype=np.int32)
            for i in range(n):
                arr = _parse_ppm_p6(pay[i].as_py())
                h[i], w[i], c[i] = arr.shape
                mean[i] = float(arr.mean())
                mx[i] = int(arr.max())
                mn[i] = int(arr.min())
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(names.index("doc_id")),
                    pa.array(w, type=pa.int32()),
                    pa.array(h, type=pa.int32()),
                    pa.array(c, type=pa.int32()),
                    pa.array(mean),
                    pa.array(mx, type=pa.int32()),
                    pa.array(mn, type=pa.int32()),
                ],
                names=[
                    "doc_id", "width", "height", "channels",
                    "mean_px", "max_px", "min_px",
                ],
            )

    return blobs.mapInArrow(stats, _IMG_STATS_SCHEMA)


def _decode_external_audio(blobs: DataFrame, fmt: str = "wav") -> DataFrame:
    """Real audio decode to the SAME stats schema as the FAUD path
    (:func:`decode_audio_stats`): per-blob n_samples (frames),
    duration, RMS and peak in int16 PCM units.

    Two real decoders, picked by availability:

      - soundfile/libsndfile (WAV/FLAC/OGG) when installed - reads
        dtype=int16, so a 16-bit file round-trips bit-exactly and
        other depths quantize;
      - the stdlib ``wave`` module for 16-bit PCM WAV - ALWAYS
        available, so the real-codec plumbing is exercised even in
        codec-free containers (this one).  Same mapInArrow batch
        shape, same stats arithmetic; only the container parse
        differs.

    FLAC/OGG without soundfile raises NotImplementedError (the FAUD
    fake-format path is the documented substitute)."""
    try:
        import soundfile  # noqa: F401

        have_sf = True
    except ImportError:
        have_sf = False
    if not have_sf and fmt != "wav":
        raise NotImplementedError(
            f"soundfile is not installed and the stdlib wave decoder "
            f"only reads WAV (format={fmt!r}); the FAUD fake-format "
            "path (decode_audio_stats) is the documented substitute"
        )
    if not have_sf:
        return _decode_wav_stdlib(blobs)

    def stats(batches):
        import io

        import pyarrow as pa
        import soundfile as sf

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            names = rb.schema.names
            pay = rb.column(names.index("payload"))
            ns = np.zeros(n, dtype=np.int32)
            dur = np.zeros(n, dtype=np.float64)
            rms = np.zeros(n, dtype=np.float64)
            peak = np.zeros(n, dtype=np.int32)
            for i in range(n):
                data, rate = sf.read(
                    io.BytesIO(pay[i].as_py()), dtype="int16", always_2d=True
                )
                frames = data.shape[0]
                ns[i] = frames
                dur[i] = frames / float(rate)
                if data.size:
                    flat = data.astype(np.float64).ravel()
                    rms[i] = float(np.sqrt((flat**2).mean()))
                    peak[i] = int(np.abs(data.astype(np.int32)).max())
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(names.index("doc_id")),
                    pa.array(ns, type=pa.int32()),
                    pa.array(dur),
                    pa.array(rms),
                    pa.array(peak, type=pa.int32()),
                ],
                names=["doc_id", "n_samples", "duration_s", "rms", "peak"],
            )

    return blobs.mapInArrow(stats, _AUD_STATS_SCHEMA)


def _decode_wav_stdlib(blobs: DataFrame) -> DataFrame:
    """16-bit PCM WAV decode with the stdlib ``wave`` module - the
    dependency-free real decoder behind :func:`_decode_external_audio`.
    Identical output contract to the soundfile path on PCM_16 WAV
    (libsndfile also surfaces those samples as the raw int16 words)."""

    def stats(batches):
        import io
        import wave

        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            names = rb.schema.names
            pay = rb.column(names.index("payload"))
            ns = np.zeros(n, dtype=np.int32)
            dur = np.zeros(n, dtype=np.float64)
            rms = np.zeros(n, dtype=np.float64)
            peak = np.zeros(n, dtype=np.int32)
            for i in range(n):
                with wave.open(io.BytesIO(pay[i].as_py()), "rb") as w:
                    if w.getsampwidth() != 2:
                        raise NotImplementedError(
                            "stdlib wave decoder reads 16-bit PCM only; "
                            f"got sampwidth={w.getsampwidth()} bytes"
                        )
                    frames = w.getnframes()
                    rate = w.getframerate()
                    data = np.frombuffer(
                        w.readframes(frames), dtype="<i2"
                    )  # interleaved channels; stats run over all samples
                ns[i] = frames
                dur[i] = frames / float(rate)
                if data.size:
                    flat = data.astype(np.float64)
                    rms[i] = float(np.sqrt((flat**2).mean()))
                    peak[i] = int(np.abs(data.astype(np.int32)).max())
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(names.index("doc_id")),
                    pa.array(ns, type=pa.int32()),
                    pa.array(dur),
                    pa.array(rms),
                    pa.array(peak, type=pa.int32()),
                ],
                names=["doc_id", "n_samples", "duration_s", "rms", "peak"],
            )

    return blobs.mapInArrow(stats, _AUD_STATS_SCHEMA)


def _decode_external_video(blobs: DataFrame, every_k: int = 5) -> DataFrame:
    """Real video decode (MP4/MKV/WebM via PyAV/FFmpeg) to the SAME
    frame-sampling schema as the FVID path
    (:func:`sample_video_frames`): every ``every_k``-th decoded frame
    as raw RGB24 bytes plus its mean pixel.  Import-gated: raises
    instead of faking when av is absent (this container)."""
    try:
        import av  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "av (PyAV) is not installed in this environment; the FVID "
            "fake-format path (sample_video_frames) is the documented "
            "substitute"
        ) from exc

    def sample(batches):
        import io

        import av as _av
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            doc_out, no_out, nf_out, fr_out, mean_out = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                # decode streaming: only every_k-th frame is converted
                # to an RGB24 ndarray and buffered - holding EVERY
                # decoded frame uncompressed would be ~every_k x the
                # sampled footprint (a 10-min 1080p clip is >100 GB raw)
                sampled, total = [], 0
                with _av.open(io.BytesIO(bytes(payload))) as container:
                    for j, f in enumerate(container.decode(video=0)):
                        if j % every_k == 0:
                            arr = f.to_ndarray(format="rgb24")
                            sampled.append((j, arr.tobytes(), float(arr.mean())))
                        total = j + 1
                for j, raw, m in sampled:
                    doc_out.append(doc_id)
                    no_out.append(j)
                    nf_out.append(total)
                    fr_out.append(raw)
                    mean_out.append(m)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_out, dtype="int64"),
                    "frame_no": pd.Series(no_out, dtype="int32"),
                    "n_frames": pd.Series(nf_out, dtype="int32"),
                    "frame": pd.Series(fr_out, dtype=object),
                    "mean_px": pd.Series(mean_out, dtype="float64"),
                }
            )

    return blobs.select("doc_id", "payload").mapInPandas(sample, _FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual-hash near-dup: the dedup family extended to the image
# column (near-identical images that BYTE hashing misses - recompressed
# or slightly-edited copies at corpus scale).
# ---------------------------------------------------------------------------

_PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("phash", T.LongType()),
    ]
)


def _dct8() -> "np.ndarray":
    """Orthonormal 8-point DCT-II basis matrix."""
    k = np.arange(8, dtype=np.float64)
    d = np.cos(np.pi * (2.0 * k[None, :] + 1.0) * k[:, None] / 16.0) * 0.5
    d[0, :] *= 1.0 / np.sqrt(2.0)
    return d


def phash64(blobs: DataFrame) -> DataFrame:
    """64-bit perceptual hash per FIMG payload (pHash: grayscale ->
    8x8 nearest-neighbor downsample -> 2-D DCT-II -> bit = coefficient
    above the per-image median).

    Same ragged-batch vectorization as :func:`decode_image_stats`: one
    contiguous buffer per Arrow batch, the 64 grid samples gather with
    a single fancy index per channel, and the DCT runs as one batched
    einsum over the (n, 8, 8) stack - no per-image Python loop, map
    only, nothing shuffles.  The per-image median threshold makes the
    hash invariant to global brightness/contrast changes (any monotone
    pixel remap), which is the property that catches re-encoded
    copies."""

    def hashes(batches):
        import pyarrow as pa

        d8 = _dct8()
        shifts = np.arange(64, dtype=np.uint64)
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            pay = rb.column(rb.schema.names.index("payload"))
            off_dtype = np.int64 if pa.types.is_large_binary(pay.type) else np.int32
            offsets = np.frombuffer(pay.buffers()[1], dtype=off_dtype)[
                pay.offset : pay.offset + n + 1
            ].astype(np.int64)
            buf = np.frombuffer(pay.buffers()[2], dtype=np.uint8)
            starts = offsets[:-1]
            _require_magic(buf, offsets, _IMG_MAGIC)

            def u16(at: np.ndarray) -> np.ndarray:
                return buf[at].astype(np.int64) | (buf[at + 1].astype(np.int64) << 8)

            w, h, c = u16(starts + 4), u16(starts + 6), u16(starts + 8)
            base = starts + 10
            grid = np.arange(8, dtype=np.int64)
            ys = (grid[None, :] * h[:, None]) // 8  # (n, 8)
            xs = (grid[None, :] * w[:, None]) // 8  # (n, 8)
            # flat offset of sample (y, x) channel 0: (y*w + x) * c
            pix = (
                ys[:, :, None] * w[:, None, None] + xs[:, None, :]
            ) * c[:, None, None] + base[:, None, None]  # (n, 8, 8)
            gray = np.zeros((n, 8, 8), dtype=np.float64)
            for ch in range(int(c.max())):
                has = c > ch
                gray[has] += buf[pix[has] + ch]
            gray /= c[:, None, None].astype(np.float64)
            coef = np.einsum("ij,njk,lk->nil", d8, gray, d8)
            # quantize to integer micro-units and threshold on the
            # exact LOWER median: float medians interpolate the two
            # middle values, and the symmetric synthetic images
            # produce exactly-tied coefficients, so sub-ulp
            # differences in contraction order (batched einsum vs a
            # per-image matmul) would flip bits at the tie - integer
            # compare against an actual element is order-independent
            flat = np.rint(coef.reshape(n, 64) * 1e6).astype(np.int64)
            med = np.partition(flat, 31, axis=1)[:, 31]
            bits = (flat > med[:, None]).astype(np.uint64)
            ph = (bits << shifts[None, :]).sum(axis=1, dtype=np.uint64)
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(rb.schema.names.index("doc_id")),
                    pa.array(ph.view(np.int64), type=pa.int64()),
                ],
                names=["doc_id", "phash"],
            )

    return blobs.select("doc_id", "payload").mapInArrow(hashes, _PHASH_SCHEMA)


def _check_phash_radius(max_hamming: int) -> None:
    """The pHash paths advertise EXACT recall, so they refuse radii
    the 4-chunk banding cannot guarantee (unlike simhash_pairs, which
    documents the beyond-radius heuristic trade)."""
    from iceberg_daq_spark.operators.dedup import HAMMING_CHUNKS

    if max_hamming >= HAMMING_CHUNKS:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the exact-recall bound "
            f"{HAMMING_CHUNKS - 1} of {HAMMING_CHUNKS}-chunk banding; "
            "use dedup.simhash_pairs-style heuristic discovery if a "
            "larger radius is acceptable"
        )


def phash_neardup_pairs(blobs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate image pairs by pHash Hamming distance, found via
    16-bit chunk banding (pigeonhole: distance <= 3 over 4 chunks
    guarantees a shared chunk, so recall is EXACT for every accepted
    radius - larger radii are refused; candidates verify with one
    xor+popcount).

    Same shuffle shape as :func:`dedup.simhash_pairs` (shared
    :func:`dedup.hamming_chunks` substrate): the corpus reduces to one
    64-bit hash per image map-side, the band join shuffles
    (chunk, value)-keyed hash rows only (never payloads), and fanout
    is bucket occupancy, not corpus size."""
    from iceberg_daq_spark.operators.dedup import hamming_chunks

    _check_phash_radius(max_hamming)
    ph = phash64(blobs).cache()
    chunks = hamming_chunks(ph, "phash")
    cand = (
        chunks.alias("x")
        .join(chunks.alias("y"), ["chunk", "val"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.phash").alias("ph_a"),
            F.col("y.phash").alias("ph_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def incremental_phash_dedup(
    spark,
    new_blobs: DataFrame,
    index,
    max_hamming: int = 3,
) -> DataFrame:
    """Incremental image near-dup detection against a PERSISTED pHash
    index - the ingest shape of :func:`phash_neardup_pairs`, mirroring
    ``dedup.incremental_minhash_dedup``: a new blob batch dedups
    against the whole corpus at O(new) hash work, because the stored
    corpus contributes only its 8-byte hash rows (payloads are never
    re-read, never shuffled).

    ``index`` is a MergeTable keyed (doc_id) holding (doc_id, phash).
    New hashes band-join (chunk, value) against new+stored, verify by
    xor/popcount, then commit to the index (an O(new) append).
    Deterministic hashing means incremental batches produce EXACTLY
    the pairs the one-shot batch run produces (test-asserted)."""
    from iceberg_daq_spark.operators.dedup import hamming_chunks

    _check_phash_radius(max_hamming)
    hashes_new = phash64(new_blobs).localCheckpoint()
    stored = index.read(spark) if index.exists() else None
    hashes_all = (
        hashes_new
        if stored is None
        else hashes_new.unionByName(stored.select("doc_id", "phash"))
    )
    cand = (
        hamming_chunks(hashes_new, "phash")
        .alias("x")
        .join(hamming_chunks(hashes_all, "phash").alias("y"), ["chunk", "val"])
        .filter(F.col("x.doc_id") != F.col("y.doc_id"))
        .select(
            F.least("x.doc_id", "y.doc_id").alias("doc_a"),
            F.greatest("x.doc_id", "y.doc_id").alias("doc_b"),
            F.least("x.phash", "y.phash").alias("_pha"),
            F.greatest("x.phash", "y.phash").alias("_phb"),
        )
        .distinct()
    )
    pairs = (
        cand.withColumn(
            "hamming", F.bit_count(F.col("_pha").bitwiseXOR(F.col("_phb")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .localCheckpoint()
    )
    if stored is None:
        index.overwrite(hashes_new)
    else:
        index.append(hashes_new)
    return pairs
