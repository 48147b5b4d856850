"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed in Arrow batches via mapInPandas.

The decode step for real media (image/audio/video) is STUBBED — the
sandbox has no codec libraries — but everything Spark-side is real and
tested: the binary schema, the mapInPandas batch shape, deterministic
metadata extraction (byte length, sha256, magic byte), and the partition
strategy (payloads never shuffle; metadata extraction is map-only).

At 100 TB of media: keep payloads in their own parquet column chunk
(Spark reads only projected columns), extract features map-side, and
carry only the small feature columns into shuffles/joins.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

BINARY_META_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("sha256_hex", T.StringType()),
    T.StructField("head_byte", T.IntegerType()),
])


def to_binary_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, payload binary) — models an opaque media column; here the
    bytes are the utf-8 encoding of a text column so tests/oracles have
    ground truth."""
    return df.select(
        F.col(id_col).cast("long").alias("id"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
    )


def binary_metadata(payloads: DataFrame) -> DataFrame:
    """Arrow-batched metadata extraction over binary payloads.

    mapInPandas: each batch is a pandas DataFrame whose 'payload' column
    holds bytes objects; output is the small typed metadata table. This is
    the decode-free half of any media pipeline and runs map-only — no
    shuffle, no payload movement.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payload = pdf["payload"]
            yield pd.DataFrame({
                "id": pdf["id"].astype("int64"),
                "n_bytes": payload.map(len).astype("int64"),
                "sha256_hex": payload.map(
                    lambda b: hashlib.sha256(bytes(b)).hexdigest()
                ),
                "head_byte": payload.map(
                    lambda b: b[0] if len(b) else -1
                ).astype("int32"),
            })

    return payloads.mapInPandas(extract, BINARY_META_SCHEMA)


IMAGE_FEATURE_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("mean_luma", T.DoubleType()),
])


def _pil_image():
    """Optional real codec: PIL if importable, else None (the sandbox
    ships no image libraries — callers fall back to the stub)."""
    try:
        from PIL import Image  # noqa: PLC0415 — optional dependency

        return Image
    except ImportError:
        return None


def decode_image_features(
    payloads: DataFrame, fake: bool = False, on_error: str = "raise",
) -> DataFrame:
    """Image decode + feature extraction.

    fake=True: deterministic pseudo-decode (dimensions/luma derived from
    the byte stream) so the Spark plumbing — schema, batching,
    partitioning — is testable without codecs. fake=False: REAL decode
    via PIL when importable (width/height from the header, mean_luma over
    the 8-bit grayscale pixels), else NotImplementedError — decoding
    happens inside the same mapInPandas slot either way, so the plan
    shape is identical.

    on_error (real path only): ``"raise"`` fails the task on the first
    corrupt payload (Spark then retries/fails the job — the strict
    default); ``"null"`` emits a marker row for the corrupt payload
    (width/height = -1, mean_luma = null) and keeps decoding, so one bad
    blob in a 10^12-row corpus costs one null row, not the job (r4
    advisor). Filter ``width >= 0`` downstream for the clean subset.
    """
    if on_error not in ("raise", "null"):
        raise ValueError(f"on_error must be 'raise' or 'null', got {on_error!r}")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Image = None if fake else _pil_image()
        for pdf in batches:
            if not fake:
                if Image is None:
                    raise NotImplementedError(
                        "image codecs unavailable in this environment; "
                        "use fake=True for the deterministic pseudo-decoder"
                    )
                import io

                ids, ws, hs, lumas = [], [], [], []
                for i, b in zip(pdf["id"], pdf["payload"]):
                    try:
                        img = Image.open(io.BytesIO(bytes(b)))
                        gray = img.convert("L")
                        hist = gray.histogram()
                        n_px = sum(hist)
                        w, h = img.width, img.height
                        luma = (
                            sum(v * c for v, c in enumerate(hist)) / n_px
                            if n_px else 0.0
                        )
                    except Exception:
                        if on_error == "raise":
                            raise
                        w, h, luma = -1, -1, None
                    ids.append(i)
                    ws.append(w)
                    hs.append(h)
                    lumas.append(luma)
                yield pd.DataFrame({
                    "id": pd.Series(ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    # nullable Float64: marker rows carry a true null
                    "mean_luma": pd.Series(lumas, dtype="Float64"),
                })
                continue
            payload = pdf["payload"]
            n = payload.map(len)
            yield pd.DataFrame({
                "id": pdf["id"].astype("int64"),
                "width": (n % 640 + 1).astype("int32"),
                "height": (n % 480 + 1).astype("int32"),
                "mean_luma": payload.map(
                    lambda b: (sum(b[:64]) / max(min(len(b), 64), 1)) if len(b) else 0.0
                ).astype("float64"),
            })

    return payloads.mapInPandas(extract, IMAGE_FEATURE_SCHEMA)


FRAME_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("n_frame_bytes", T.LongType()),
    T.StructField("frame_sha256", T.StringType()),
    T.StructField("frame", T.BinaryType()),
])


def _pyav():
    """Optional real demuxer: PyAV if importable, else None (the sandbox
    ships no video libraries — callers use the fake container format)."""
    try:
        import av  # noqa: PLC0415 — optional dependency

        return av
    except ImportError:
        return None


def _decode_container(av, i, payload, stride: int, on_error: str) -> list:
    """Frame rows (id, frame_idx, n_bytes, sha256, frame) of ONE video
    container: every ``stride``-th decoded frame as raw rgb24 bytes.

    The rows are buffered and returned only once the whole container
    decoded. A container that fails part-way yields nothing of what it
    decoded: with on_error="null" it returns just the marker row
    (frame_idx = -1, null frame columns), with "raise" the error
    propagates. ``av`` is the PyAV module (or any object with its
    ``open`` API)."""
    import io

    rows = []
    try:
        with av.open(io.BytesIO(bytes(payload))) as container:
            for j, frame in enumerate(container.decode(video=0)):
                if j % stride:
                    continue
                raw = frame.to_ndarray(format="rgb24").tobytes()
                rows.append((i, j, len(raw), hashlib.sha256(raw).hexdigest(),
                             raw))
    except Exception:
        if on_error == "raise":
            raise
        return [(i, -1, None, None, None)]
    return rows


def sample_frames(
    payloads: DataFrame, frame_bytes: int = 32, stride: int = 2,
    fake: bool = True, on_error: str = "raise",
) -> DataFrame:
    """Frame sampling over video containers.

    fake=True (sandbox default — STUB container format): the payload is
    treated as a sequence of fixed-size ``frame_bytes`` frames, last
    partial frame kept. fake=False: REAL demux via PyAV when importable
    — the payload is opened as a video container, every ``stride``-th
    decoded video frame is emitted as raw rgb24 bytes — else
    NotImplementedError. Both paths occupy the same mapInPandas slot,
    so the plan shape is identical. Emits every ``stride``-th frame with
    its index, byte length, sha256, and the frame bytes themselves.

    Spark shape this pins down: a map-only FLATMAP — one input row fans
    out to n_frames/stride output rows inside the same task, payloads
    never shuffle, and downstream feature extraction consumes the small
    per-frame rows instead of whole containers. frame_idx is the
    container index (0, stride, 2·stride, …) so sampled frames stay
    addressable in the source video.

    on_error (real path only): ``"raise"`` fails the task on the first
    corrupt container; ``"null"`` emits ONE marker row for it
    (frame_idx = -1, null frame columns) and none of the frames it
    decoded before failing, and keeps demuxing the rest of the batch.
    Filter ``frame_idx >= 0`` downstream.
    """
    if on_error not in ("raise", "null"):
        raise ValueError(f"on_error must be 'raise' or 'null', got {on_error!r}")

    def extract_real(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        av = _pyav()
        if av is None:
            raise NotImplementedError(
                "video codecs unavailable in this environment; "
                "use fake=True for the deterministic stub container format"
            )
        for pdf in batches:
            rows = [r for i, b in zip(pdf["id"], pdf["payload"])
                    for r in _decode_container(av, i, b, stride, on_error)]
            ids, idxs, lens, hashes, frames = (
                zip(*rows) if rows else ((),) * 5)
            yield pd.DataFrame({
                "id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int32"),
                # nullable Int64: marker rows carry null frame columns
                "n_frame_bytes": pd.Series(lens, dtype="Int64"),
                "frame_sha256": pd.Series(hashes, dtype="object"),
                "frame": pd.Series(frames, dtype="object"),
            })

    if not fake:
        return payloads.mapInPandas(extract_real, FRAME_SCHEMA)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, lens, hashes, frames = [], [], [], [], []
            for i, b in zip(pdf["id"], pdf["payload"]):
                b = bytes(b)
                n_frames = (len(b) + frame_bytes - 1) // frame_bytes
                for j in range(0, n_frames, stride):
                    fr = b[j * frame_bytes:(j + 1) * frame_bytes]
                    ids.append(i)
                    idxs.append(j)
                    lens.append(len(fr))
                    hashes.append(hashlib.sha256(fr).hexdigest())
                    frames.append(fr)
            yield pd.DataFrame({
                "id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int32"),
                "n_frame_bytes": pd.Series(lens, dtype="int64"),
                "frame_sha256": pd.Series(hashes, dtype="object"),
                "frame": pd.Series(frames, dtype="object"),
            })

    return payloads.mapInPandas(extract, FRAME_SCHEMA)


THUMB_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("thumb_bytes", T.LongType()),
    T.StructField("thumb_sha256", T.StringType()),
    T.StructField("thumb", T.BinaryType()),
])


def resize_images(
    payloads: DataFrame, max_bytes: int = 64, fake: bool = False,
    max_px: int = 64, on_error: str = "raise",
) -> DataFrame:
    """Image resize/thumbnail. ``fake=True``: deterministic pseudo-resize
    (every k-th byte, k chosen so the thumb fits ``max_bytes``) so
    schema, batching and the map-only no-shuffle property are testable
    without codecs. ``fake=False``: REAL decode→thumbnail(≤``max_px``
    on the long side)→PNG re-encode via PIL when importable, in the same
    mapInPandas shape, else NotImplementedError.

    on_error (real path only): ``"raise"`` fails the task on the first
    corrupt payload; ``"null"`` emits a marker row (thumb_bytes = -1,
    null thumb/sha) and keeps going (r4 advisor). Filter
    ``thumb_bytes >= 0`` downstream."""
    if on_error not in ("raise", "null"):
        raise ValueError(f"on_error must be 'raise' or 'null', got {on_error!r}")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Image = None if fake else _pil_image()
        for pdf in batches:
            if not fake:
                if Image is None:
                    raise NotImplementedError(
                        "image codecs unavailable in this environment; "
                        "use fake=True for the deterministic pseudo-resize"
                    )
                import io

                def shrink_real(b):
                    try:
                        img = Image.open(io.BytesIO(bytes(b)))
                        img.thumbnail((max_px, max_px))
                        buf = io.BytesIO()
                        img.save(buf, format="PNG")
                        return buf.getvalue()
                    except Exception:
                        if on_error == "raise":
                            raise
                        return None

                thumbs = pdf["payload"].map(shrink_real)
                yield pd.DataFrame({
                    "id": pdf["id"].astype("int64"),
                    "thumb_bytes": thumbs.map(
                        lambda b: len(b) if b is not None else -1
                    ).astype("int64"),
                    "thumb_sha256": thumbs.map(
                        lambda b: hashlib.sha256(b).hexdigest()
                        if b is not None else None
                    ),
                    "thumb": thumbs,
                })
                continue

            def shrink(b):
                b = bytes(b)
                step = max(1, -(-len(b) // max_bytes))
                return b[::step]

            thumbs = pdf["payload"].map(shrink)
            yield pd.DataFrame({
                "id": pdf["id"].astype("int64"),
                "thumb_bytes": thumbs.map(len).astype("int64"),
                "thumb_sha256": thumbs.map(
                    lambda b: hashlib.sha256(b).hexdigest()
                ),
                "thumb": thumbs,
            })

    return payloads.mapInPandas(extract, THUMB_SCHEMA)
